package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.{GraftConf, GraftSession, ParquetIo, Tables}
import graft.etl.{SilverCustomers, SilverOrders, SilverParts}
import graft.gold.{CustomerAnalytics, MlFeatures, SalesSummary}
import graft.incremental.WatermarkStore
import graft.quality.{DataQuality, QualityReport}
import graft.sources.Sinks

/** The end-to-end medallion pipeline: one invocation runs
  * bronze → silver (3 jobs) → gold (3 jobs) over a data directory with
  * partitioned parquet writes, quality gates with row-level quarantine,
  * per-table quality-report JSON, at-least-once watermark
  * commit, and the DAG runner's retry/DLQ control plane.
  *
  * This is the composition the reference ships as its top-level artifacts:
  * each silver job mirrors the glue template `main()` (read → clean →
  * validate → write partitioned parquet → write quality JSON → commit
  * bookmark — reference/terraform/modules/glue/templates/
  * bronze_to_silver_orders.py:380-422), and the job graph mirrors the
  * orchestrator's ready-job dependency loop
  * (reference/lambda/pipeline_orchestrator/lambda_function.py:360-497).
  *
  * Scale notes: every job body is one composed lazy plan ending in a
  * write — no driver-side row loops; the orders fact flows through a
  * watermark-filtered scan (predicate pushed to parquet), probed once by
  * one aggregate for its row count, the mark it will commit and the
  * order years it spans (`min`/`max` of the year). Each
  * silver table is evaluated ONCE: the cleaned frame is tagged with its
  * row gate and cached, the quality report over it is one aggregate
  * action (which also counts the gate's clean and quarantined rows), and
  * both writes read the cache. Silver facts land hive-partitioned by
  * order_year via DYNAMIC partition overwrite (only touched partitions
  * rewrite — full-table overwrite is impossible at 100 TB); the orders
  * quarantine is partitioned by the watermark the run started from, so
  * every run's rejects are kept and a replayed run replaces only its own.
  * An increment that lands in an order year silver already holds merges
  * into it: the year's rows are kept unless the increment re-delivers
  * their `o_orderkey`, so a mid-year slice keeps the year's earlier rows
  * and a replayed slice is idempotent. Whether any touched year exists is
  * decided on the driver from the `order_year=` directories, so an
  * increment of new years reads nothing back. The watermark commits AFTER
  * the writes ([[graft.incremental.Incremental]] at-least-once semantics:
  * a crashed run re-reads, never skips). Gold reads silver with the
  * schema the silver plan writes ([[silverSchema]]), so no read infers one.
  *
  * Incremental beyond the watermark, by one skip rule: after its writes a
  * job commits a stamp in `_state` — the conf, a digest of the (file,
  * length, mtime) listing of each input and of its outputs, and for a
  * silver job its quality report. A later run does no Spark work for an
  * input whose digest is unchanged. The customers and parts jobs re-clean
  * only when their bronze file changes, and otherwise return the committed
  * report and gate counts; `sales_summary` rebuilds, by dynamic partition
  * overwrite, only the order years whose silver partition changed;
  * `customer_analytics` and `ml_features` rebuild whole when any input
  * changed. A job that fails keeps its old stamp and is redone next run.
  * Each Spark job carries the DAG job that started it as its description.
  *
  * The DAG runner starts each job as soon as its inputs are done: the
  * three silver jobs run concurrently, and each gold job starts the moment
  * its own silver inputs have landed (`sales_summary` and `ml_features`
  * need only orders). Job bodies share only thread-safe state — the
  * concurrent result maps, the notifier and the DLQ — and every write
  * carries its own options rather than toggling session conf.
  *
  * Output layout under `outRoot`:
  * {{{
  *   silver/{orders,customers,parts}/      partitioned parquet
  *   gold/{daily_sales,monthly_sales,customer_analytics,ml_features}/
  *   quality/<table>/                      1-file JSON report per table
  *   quarantine/<table>/                   gated-out rows + reason (orders:
  *                                         one from_watermark= partition per run)
  *   _state/<table>.<column>.wm            watermark
  *   _state/<job>.stamp                    what the job last read and wrote
  *   _state/dlq.jsonl                      dead-letter queue
  * }}}
  */
object RunPipeline {

  /** The orders quarantine is partitioned by the watermark each run
    * started from; a first load has none and lands in `_full`. */
  val QuarantineRunCol = "from_watermark"
  val FullLoad = "_full"

  final case class Layout(root: String) {
    def silver(table: String): String = s"$root/silver/$table"
    def gold(table: String): String = s"$root/gold/$table"
    def quality(table: String): String = s"$root/quality/$table"
    def quarantine(table: String): String = s"$root/quarantine/$table"
    def stateDir: String = s"$root/_state"
    def dlqPath: String = s"$root/_state/dlq.jsonl"
  }

  /** Everything one invocation produced: the DAG report plus each silver
    * table's quality report and (clean, quarantined) row counts.
    */
  final case class PipelineResult(
      run: Pipeline.RunReport,
      quality: Map[String, QualityReport.Report],
      gateCounts: Map[String, (Long, Long)])

  /** The quality report as a 1-row frame for the single-file JSON sink —
    * mirrors the glue template's `write_quality_metrics`
    * (bronze_to_silver_orders.py:360-378).
    */
  private def reportDf(spark: SparkSession, table: String,
      rep: QualityReport.Report, cleanRows: Long, quarantinedRows: Long): DataFrame = {
    import spark.implicits._
    Seq((table, rep.overallScore, rep.passed, rep.severity,
      rep.failedChecks.mkString(","), cleanRows, quarantinedRows))
      .toDF("table", "overall_score", "passed", "severity", "failed_checks",
        "clean_rows", "quarantined_rows")
  }

  /** The schema `spark.read.parquet` reports for a silver table, known from
    * the plan that writes it; reads that pass it run no inference job. */
  def silverSchema(table: String, bronze: Tables, conf: GraftConf): StructType = table match {
    case "orders" =>
      ParquetIo.writtenSchema(SilverOrders.silver(bronze.orders, conf).schema, Seq("order_year"))
    case "customers" => ParquetIo.writtenSchema(SilverCustomers.clean(bronze.customer).schema)
  }

  /** Hex SHA-256 of `lines`. */
  private def digest(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def fileLine(f: (String, Long, Long)): String = s"${f._1} ${f._2} ${f._3}"

  /** Digest of the (file, length, mtime) listing of every path. */
  private def listingDigest(spark: SparkSession, paths: Seq[String]): String =
    digest(paths.iterator.flatMap(p =>
      Iterator(p) ++ ParquetIo.listing(spark, p).iterator.map(fileLine)))

  /** The (file, length, mtime) listing of each `column=value` directory
    * under `path`, keyed by the value; files outside them are left out. */
  private def partitions(spark: SparkSession, path: String,
      column: String): Map[String, Seq[(String, Long, Long)]] =
    ParquetIo.listing(spark, path)
      .groupBy(f => new Path(f._1).getParent.getName)
      .collect { case (dir, files) if dir.startsWith(s"$column=") =>
        dir.stripPrefix(s"$column=") -> files }

  /** A quality report as stamp entries, and back. Doubles print in
    * round-trip form, so the report read back equals the one computed. */
  private def reportEntries(rep: QualityReport.Report): Map[String, String] = Map(
    "report" -> s"${rep.overallScore} ${rep.passed} ${rep.severity}",
    "checks" -> rep.checks.map(c => s"${c.check}:${c.score}:${c.passed}").mkString(","),
    "gate" -> rep.gateCounts.fold("")(g => s"${g._1} ${g._2}"))

  private def reportOf(stamp: Map[String, String]): QualityReport.Report = {
    val Array(score, passed, severity) = stamp("report").split(' ')
    val checks = stamp("checks").split(',').toSeq.filter(_.nonEmpty).map { c =>
      val Array(name, s, p) = c.split(':')
      QualityReport.CheckScore(name, s.toDouble, p.toBoolean)
    }
    val gate = stamp("gate").split(' ').toSeq.filter(_.nonEmpty).map(_.toLong) match {
      case Seq(ok, bad) => Some((ok, bad))
      case _            => None
    }
    QualityReport.Report(checks, score.toDouble, passed.toBoolean, severity, gate)
  }

  /** Stamp entry names of a job's inputs carry this prefix. */
  private val InputEntry = "input:"

  /** Build and run the whole DAG. Idempotent: a second invocation over the
    * same `outRoot` sees the committed watermark, reads an empty increment,
    * finds every stamp unchanged and starts no Spark job after the orders
    * probe, leaving silver and gold as they were. Every other run does
    * Spark work only for the inputs that changed since each job last
    * committed (the skip rule, `incremental` below).
    */
  def run(spark: SparkSession, bronzeDir: String, outRoot: String,
      conf: GraftConf = GraftConf.default,
      notifier: QualityReport.Notifier = QualityReport.Notifier.logging,
      policy: Pipeline.RetryPolicy = Pipeline.RetryPolicy()): PipelineResult = {
    val lay = Layout(outRoot)
    val bronze = Tables(spark, bronzeDir)
    val store = new WatermarkStore(lay.stateDir)
    val dlq = new Pipeline.DeadLetterQueue(lay.dlqPath)

    val quality = scala.collection.concurrent.TrieMap.empty[String, QualityReport.Report]
    val gates = scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
    def record(table: String, rep: QualityReport.Report): Unit = {
      quality(table) = rep
      gates(table) = rep.gateCounts.get
    }

    lazy val ordersSchema = silverSchema("orders", bronze, conf)
    lazy val customersSchema = silverSchema("customers", bronze, conf)

    /** Silver orders, of the given order years only when `years` is set. */
    def silverOrders(years: Option[Seq[Int]]): DataFrame = {
      val all = spark.read.schema(ordersSchema).parquet(lay.silver("orders"))
      years.fold(all)(ys => all.filter(col("order_year").isin(ys: _*)))
    }

    /** Silver orders → the raw-ish fact columns the gold jobs consume (the
      * conformance select the reference's silver_to_gold templates open
      * with). */
    def silverOrdersAsFacts(years: Option[Seq[Int]] = None): DataFrame =
      silverOrders(years)
        .select(col("o_orderkey"), col("o_custkey"),
          col("order_date").cast("string").as("o_orderdate"),
          col("o_totalprice_dec").cast("double").as("o_totalprice"))

    /** The one skip rule. `inputs` holds a digest per input, `outputs` lists
      * the paths the job writes. When the job's stamp in `_state` records
      * this conf, this listing of the outputs and every input digest, the
      * job does no work and gets the stamp back. Otherwise `build` runs,
      * given the inputs that changed (`None` means all of them: there is no
      * stamp, the conf or the outputs differ, or an input is gone), and the
      * new stamp, with the entries `build` returns, commits after its
      * writes: a job that fails leaves the old stamp, so the next run redoes
      * it (at-least-once, like the watermark). */
    def incremental(job: String, inputs: Map[String, String], outputs: Seq[String])(
        build: Option[Set[String]] => Map[String, String]): Map[String, String] = {
      val prev = store.stamp(job).filter(s => s.get("conf").contains(conf.toString) &&
        s.get("outputs").contains(listingDigest(spark, outputs)))
      val changed = prev
        .map(_.collect { case (k, v) if k.startsWith(InputEntry) => k.stripPrefix(InputEntry) -> v })
        .filter(_.keySet.subsetOf(inputs.keySet))
        .map(old => inputs.collect { case (k, v) if !old.get(k).contains(v) => k }.toSet)
      changed match {
        case Some(c) if c.isEmpty => prev.get
        case _ =>
          val stamp = build(changed) ++ inputs.map { case (k, v) => (InputEntry + k) -> v } +
            ("conf" -> conf.toString) + ("outputs" -> listingDigest(spark, outputs))
          store.putStamp(job, stamp)
          stamp
      }
    }

    /** A DAG job whose Spark jobs carry its name as their description. */
    def job(name: String, dependsOn: String*)(body: => Unit): Pipeline.Job =
      Pipeline.Job(name, dependsOn)(() => {
        spark.sparkContext.setJobDescription(name)
        try body finally spark.sparkContext.setJobDescription(null)
      })

    /** Shared silver-job shape: clean → gate tag → one cached frame →
      * quality report (+alerts), whose one aggregate also counts the gate
      * → both writes from the cache → quality JSON. `quarantineRun` names
      * the run's quarantine partition; `merge` is [[Sinks.writeSplit]]'s.
      */
    def silverJob(table: String, cleaned: DataFrame, cfg: QualityReport.Config,
        gate: org.apache.spark.sql.Column, partitionCols: Seq[String],
        quarantineRun: Option[String] = None,
        merge: DataFrame => DataFrame = identity): QualityReport.Report = {
      val tagged = cleaned.withColumn(Sinks.PassCol, gate).cache()
      try {
        val rep = QualityReport.runWithAlerts(tagged,
          cfg.copy(rowGate = Some(col(Sinks.PassCol))), table, notifier, conf)
        val (ok, bad) = rep.gateCounts.get
        Sinks.writeSplit(tagged, lay.silver(table), lay.quarantine(table),
          if (rep.passed) s"row_gate:$table" else rep.failedChecks.mkString(","),
          bad, partitionCols, quarantineRun.map(QuarantineRunCol -> _), merge)
        Sinks.jsonSingleFile(reportDf(spark, table, rep, ok, bad), lay.quality(table))
        rep
      } finally { tagged.unpersist(); () }
    }

    /** A dimension's silver job re-cleans only when its bronze file
      * changed; otherwise it reports what it committed last time. */
    def dimensionJob(table: String, bronzeTable: String, cleaned: => DataFrame,
        cfg: QualityReport.Config, gate: => org.apache.spark.sql.Column): Unit = {
      val stamp = incremental(s"bronze_to_silver_$table",
          Map("bronze" -> listingDigest(spark, Seq(bronze.path(bronzeTable)))),
          Seq(lay.silver(table), lay.quarantine(table), lay.quality(table))) { _ =>
        reportEntries(silverJob(table, cleaned, cfg, gate, partitionCols = Seq.empty))
      }
      record(table, reportOf(stamp))
    }

    def silverListing(table: String): String = listingDigest(spark, Seq(lay.silver(table)))

    def overwrite(df: DataFrame, path: String): Unit =
      df.write.mode(SaveMode.Overwrite).option("compression", "snappy").parquet(path)

    val jobs = Seq(
      job("bronze_to_silver_orders") {
        // Incremental: only rows past the committed high-water mark (the
        // predicate pushes into the parquet scan); first run = full load.
        val from = store.get("orders", "o_orderdate")
        val incr = from match {
          case Some(mark) => bronze.orders.filter(col("o_orderdate") > mark)
          case None       => bronze.orders
        }
        // one probe: is there an increment, the mark it will commit, and
        // the order years it spans
        val orderYear = year(col("o_orderdate").cast("date"))
        val probe = incr.agg(count(lit(1)), max(col("o_orderdate")).cast("string"),
          min(orderYear), max(orderYear)).head()
        if (probe.getLong(0) == 0L) {
          quality.putIfAbsent("orders",
            QualityReport.Report(Seq.empty, 100.0, passed = true, severity = "none"))
          gates.putIfAbsent("orders", (0L, 0L))
        } else {
          // The increment merges into the order years silver already holds:
          // their rows stay unless the increment re-delivers the key, so a
          // mid-year slice keeps the year's earlier rows and a replay is
          // idempotent. An increment of new years reads nothing back.
          val loaded =
            if (probe.isNullAt(2)) Seq.empty
            else partitions(spark, lay.silver("orders"), "order_year").keys.map(_.toInt)
              .filter(y => y >= probe.getInt(2) && y <= probe.getInt(3)).toSeq
          val merge: DataFrame => DataFrame =
            if (loaded.isEmpty) identity
            else fresh => {
              val kept = silverOrders(Some(loaded))
              kept.join(fresh.select(col("o_orderkey").as("_key")),
                  kept("o_orderkey") <=> col("_key"), "left_anti")
                .unionByName(fresh)
            }
          record("orders", silverJob("orders", SilverOrders.silver(incr, conf),
            QualityReport.Config(
              nullColumns = Seq("o_orderkey", "o_custkey", "order_date"),
              dupKeys = Seq("o_orderkey"),
              rangeRules = Seq(DataQuality.RangeRule("o_totalprice_dec",
                min = Some(0.0)))),
            gate = col("is_complete_order") && col("data_quality_score") >= 0.8,
            partitionCols = Seq("order_year"),
            quarantineRun = Some(from.getOrElse(FullLoad)),
            merge = merge))
          // At-least-once: the mark commits only now, after both writes —
          // a crash above re-reads this increment on the next run.
          Option(probe.getString(1)).foreach(store.put("orders", "o_orderdate", _))
        }
      },
      job("bronze_to_silver_customers") {
        dimensionJob("customers", "customer", SilverCustomers.clean(bronze.customer),
          QualityReport.Config(
            nullColumns = Seq("c_custkey", "name_normalized"),
            dupKeys = Seq("c_custkey")),
          gate = col("data_quality_score") >= 0.75)
      },
      job("bronze_to_silver_parts") {
        dimensionJob("parts", "part", SilverParts.clean(bronze.part),
          QualityReport.Config(
            nullColumns = Seq("p_partkey", "name_clean"),
            dupKeys = Seq("p_partkey"),
            rangeRules = Seq(DataQuality.RangeRule("margin_percentage",
              min = Some(0.0), max = Some(100.0)))),
          gate = col("data_quality_score") >= 0.8)
      },
      // only the order years whose silver partition changed are rebuilt
      job("silver_to_gold_sales_summary", "bronze_to_silver_orders") {
        incremental("silver_to_gold_sales_summary",
            partitions(spark, lay.silver("orders"), "order_year")
              .map { case (y, files) => y -> digest(files.iterator.map(fileLine)) },
            Seq(lay.gold("daily_sales"), lay.gold("monthly_sales"))) { changed =>
          val years = changed.map(_.toSeq.map(_.toInt))
          val facts = silverOrdersAsFacts(years)
          val daily = SalesSummary.daily(facts).withColumn("order_year", year(col("order_date")))
          val monthly = SalesSummary.monthly(facts)
          val write: (DataFrame, String) => Unit =
            if (years.isEmpty) Sinks.parquetPartitioned(_, _, Seq("order_year"))
            else Sinks.parquetOverwritePartitions(_, _, Seq("order_year"))
          write(daily, lay.gold("daily_sales"))
          write(monthly, lay.gold("monthly_sales"))
          Map.empty
        }
      },
      job("silver_to_gold_customer_analytics",
          "bronze_to_silver_orders", "bronze_to_silver_customers") {
        incremental("silver_to_gold_customer_analytics",
            Map("orders" -> silverListing("orders"), "customers" -> silverListing("customers")),
            Seq(lay.gold("customer_analytics"))) { _ =>
          val dim = spark.read.schema(customersSchema).parquet(lay.silver("customers"))
            .select(col("c_custkey"), col("c_name"),
              col("segment_standardized").as("c_mktsegment"), col("c_acctbal"))
          overwrite(CustomerAnalytics.withRfm(
            CustomerAnalytics.analytics(dim, silverOrdersAsFacts(), conf)),
            lay.gold("customer_analytics"))
          Map.empty
        }
      },
      job("silver_to_gold_ml_features", "bronze_to_silver_orders") {
        incremental("silver_to_gold_ml_features",
            Map("orders" -> silverListing("orders")), Seq(lay.gold("ml_features"))) { _ =>
          overwrite(MlFeatures.keyedSplit(
            MlFeatures.withTargets(MlFeatures.features(silverOrdersAsFacts(), conf)),
            "o_custkey"), lay.gold("ml_features"))
          Map.empty
        }
      }
    )

    PipelineResult(Pipeline.run(jobs, policy, Some(dlq)),
      quality.toMap, gates.toMap)
  }

  /** CLI: `runMain graft.pipeline.RunPipeline <bronzeDir> <outRoot>` —
    * prints one JSON summary line.
    */
  def main(args: Array[String]): Unit = {
    val bronzeDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outRoot = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-pipeline").toString)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.local(cpus)
    try {
      val r = run(spark, bronzeDir, outRoot)
      val jobsJson = r.run.statuses.toSeq.sortBy(_._1).map {
        case (n, Pipeline.Succeeded)        => s""""$n":"succeeded""""
        case (n, Pipeline.SkippedDeps)      => s""""$n":"skipped""""
        case (n, f: Pipeline.FailedJob)     => s""""$n":"failed(${f.attempts})""""
      }.mkString("{", ",", "}")
      val gatesJson = r.gateCounts.toSeq.sortBy(_._1).map {
        case (t, (ok, bad)) => s""""$t":{"clean":$ok,"quarantined":$bad}"""
      }.mkString("{", ",", "}")
      println(s"""{"pipeline":"medallion","out":"$outRoot","jobs":$jobsJson,"gates":$gatesJson,"failed":${r.run.failed.size}}""")
    } finally spark.stop()
  }
}
