package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

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
  * one aggregate for its row count and the mark it will commit. Each
  * silver table is evaluated ONCE: the cleaned frame is tagged with its
  * row gate and cached, the quality report over it is one aggregate
  * action (which also counts the gate's clean and quarantined rows), and
  * both writes read the cache. Silver facts land hive-partitioned by
  * order_year via DYNAMIC partition overwrite (only touched partitions
  * rewrite — full-table overwrite is impossible at 100 TB); the orders
  * quarantine is partitioned by the watermark the run started from, so
  * every run's rejects are kept and a replayed run replaces only its own.
  * The watermark commits AFTER the writes
  * ([[graft.incremental.Incremental]] at-least-once semantics: a crashed
  * run re-reads, never skips). Silver is read back through
  * [[graft.core.ParquetIo.read]], one schema inference per listing.
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
  *   _state/                               watermarks + DLQ
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

  /** Silver-orders parquet → the raw-ish fact columns the gold jobs
    * consume (the conformance select the reference's silver_to_gold
    * templates open with).
    */
  private def silverOrdersAsFacts(spark: SparkSession, lay: Layout): DataFrame =
    ParquetIo.read(spark, lay.silver("orders"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("order_date").cast("string").as("o_orderdate"),
        col("o_totalprice_dec").cast("double").as("o_totalprice"))

  /** Build and run the whole DAG. Idempotent: a second invocation over the
    * same `outRoot` sees the committed watermark, reads an empty increment
    * and leaves silver/gold intact.
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

    /** Shared silver-job shape: clean → gate tag → one cached frame →
      * quality report (+alerts), whose one aggregate also counts the gate
      * → both writes from the cache → quality JSON. Results land in the
      * maps. `quarantineRun` names the run's quarantine partition.
      */
    def silverJob(table: String, cleaned: DataFrame, cfg: QualityReport.Config,
        gate: org.apache.spark.sql.Column, partitionCols: Seq[String],
        quarantineRun: Option[String] = None): Unit = {
      val tagged = cleaned.withColumn(Sinks.PassCol, gate).cache()
      try {
        val rep = QualityReport.runWithAlerts(tagged,
          cfg.copy(rowGate = Some(col(Sinks.PassCol))), table, notifier, conf)
        val (ok, bad) = rep.gateCounts.get
        Sinks.writeSplit(tagged, lay.silver(table), lay.quarantine(table),
          if (rep.passed) s"row_gate:$table" else rep.failedChecks.mkString(","),
          bad, partitionCols, quarantineRun.map(QuarantineRunCol -> _))
        Sinks.jsonSingleFile(reportDf(spark, table, rep, ok, bad), lay.quality(table))
        quality(table) = rep
        gates(table) = (ok, bad)
      } finally { tagged.unpersist(); () }
    }

    val jobs = Seq(
      Pipeline.Job("bronze_to_silver_orders")(() => {
        // Incremental: only rows past the committed high-water mark (the
        // predicate pushes into the parquet scan); first run = full load.
        val from = store.get("orders", "o_orderdate")
        val incr = from match {
          case Some(mark) => bronze.orders.filter(col("o_orderdate") > mark)
          case None       => bronze.orders
        }
        // one probe: is there an increment, and the mark it will commit
        val probe = incr.agg(count(lit(1)), max(col("o_orderdate")).cast("string")).head()
        if (probe.getLong(0) == 0L) {
          quality.putIfAbsent("orders",
            QualityReport.Report(Seq.empty, 100.0, passed = true, severity = "none"))
          gates.putIfAbsent("orders", (0L, 0L))
        } else {
          silverJob("orders", SilverOrders.silver(incr, conf),
            QualityReport.Config(
              nullColumns = Seq("o_orderkey", "o_custkey", "order_date"),
              dupKeys = Seq("o_orderkey"),
              rangeRules = Seq(DataQuality.RangeRule("o_totalprice_dec",
                min = Some(0.0)))),
            gate = col("is_complete_order") && col("data_quality_score") >= 0.8,
            partitionCols = Seq("order_year"),
            quarantineRun = Some(from.getOrElse(FullLoad)))
          // At-least-once: the mark commits only now, after both writes —
          // a crash above re-reads this increment on the next run.
          Option(probe.getString(1)).foreach(store.put("orders", "o_orderdate", _))
        }
      }),
      Pipeline.Job("bronze_to_silver_customers")(() =>
        silverJob("customers", SilverCustomers.clean(bronze.customer),
          QualityReport.Config(
            nullColumns = Seq("c_custkey", "name_normalized"),
            dupKeys = Seq("c_custkey")),
          gate = col("data_quality_score") >= 0.75,
          partitionCols = Seq.empty)),
      Pipeline.Job("bronze_to_silver_parts")(() =>
        silverJob("parts", SilverParts.clean(bronze.part),
          QualityReport.Config(
            nullColumns = Seq("p_partkey", "name_clean"),
            dupKeys = Seq("p_partkey"),
            rangeRules = Seq(DataQuality.RangeRule("margin_percentage",
              min = Some(0.0), max = Some(100.0)))),
          gate = col("data_quality_score") >= 0.8,
          partitionCols = Seq.empty)),
      Pipeline.Job("silver_to_gold_sales_summary",
          dependsOn = Seq("bronze_to_silver_orders"))(() => {
        val facts = silverOrdersAsFacts(spark, lay)
        Sinks.parquetPartitioned(
          SalesSummary.daily(facts).withColumn("order_year", year(col("order_date"))),
          lay.gold("daily_sales"), Seq("order_year"))
        Sinks.parquetPartitioned(SalesSummary.monthly(facts),
          lay.gold("monthly_sales"), Seq("order_year"))
      }),
      Pipeline.Job("silver_to_gold_customer_analytics",
          dependsOn = Seq("bronze_to_silver_orders", "bronze_to_silver_customers"))(() => {
        val dim = ParquetIo.read(spark, lay.silver("customers"))
          .select(col("c_custkey"), col("c_name"),
            col("segment_standardized").as("c_mktsegment"), col("c_acctbal"))
        val out = CustomerAnalytics.withRfm(
          CustomerAnalytics.analytics(dim, silverOrdersAsFacts(spark, lay), conf))
        out.write.mode(SaveMode.Overwrite).option("compression", "snappy")
          .parquet(lay.gold("customer_analytics"))
      }),
      Pipeline.Job("silver_to_gold_ml_features",
          dependsOn = Seq("bronze_to_silver_orders"))(() => {
        val out = MlFeatures.keyedSplit(
          MlFeatures.withTargets(
            MlFeatures.features(silverOrdersAsFacts(spark, lay), conf)),
          "o_custkey")
        out.write.mode(SaveMode.Overwrite).option("compression", "snappy")
          .parquet(lay.gold("ml_features"))
      })
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
