package graft.pipeline

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.core.{GraftConf, Tables}
import graft.incremental.WatermarkStore
import graft.quality.QualityReport
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** End-to-end medallion integration — mirrors the reference's e2e flow
  * test (reference/tests/integration/test_e2e_pipeline.py:224-313): run
  * the full bronze→silver→gold DAG over a real bronze directory and
  * assert layer outputs, quality reports and state on disk.
  */
class RunPipelineSpec extends SparkSpec {

  private val bronzeDir = "/root/testdata/sf0.001"
  private def fastPolicy = Pipeline.RetryPolicy(sleep = _ => ())

  /** The sf0.01 tables, next to the sf0.001 ones. */
  private val sf01 = s"${Path.of(bronzeDir).getParent}/sf0.01"

  /** A bronze dir holding `sf`'s customer and part files and `orders`. */
  private def bronzeWith(prefix: String, orders: DataFrame, sf: String = bronzeDir): String = {
    val dir = tempDir(prefix)
    for (t <- Seq("customer", "part"))
      Files.copy(Path.of(s"$sf/$t.parquet"), Path.of(s"$dir/$t.parquet"))
    orders.write.parquet(s"$dir/orders.parquet")
    dir
  }

  private def ordersOf(sf: String): DataFrame = spark.read.parquet(s"$sf/orders.parquet")

  /** Descriptions of the Spark jobs `body` starts on this thread and the
    * threads it creates: `RunPipeline` describes each job by the DAG job
    * that started it. A sentinel job in another group marks the point by
    * which the (ordered) listener bus has delivered them. */
  private def jobsDuring[A](body: => A): (A, Seq[String]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.add((prop("spark.jobGroup.id").getOrElse(""), prop("spark.job.description").getOrElse("")))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("rp-body", "")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup("rp-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      def sentinel = jobs.asScala.exists(_._1 == "rp-sentinel")
      while (!sentinel && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinel, "listener bus did not deliver the sentinel")
      (out, jobs.asScala.collect { case ("rp-body", d) => d }.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** (path, length, mtime) of every file under `dir`. */
  private def files(dir: String): Set[(String, Long, Long)] =
    Files.walk(Path.of(dir)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)).toSet

  /** Rows of `df` with doubles at float precision: gold sums of doubles
    * may differ in the last bits with the order they are added in. */
  private def rowsOf(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map(f =>
      if (f.dataType == DoubleType) col(f.name).cast("float").as(f.name) else col(f.name)): _*)

  private def assertSameTable(out: String, ref: String, table: String): Unit = {
    val (a, b) = (rowsOf(spark.read.parquet(s"$out/$table")),
      rowsOf(spark.read.parquet(s"$ref/$table")))
    assert(a.count() === b.count(), table)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, table)
  }

  test("full run lands silver+gold+quality on disk, commits the watermark, " +
      "and a re-run is an idempotent empty increment") {
    val out = tempDir("medallion-e2e")
    val r = RunPipeline.run(spark, bronzeDir, out, policy = fastPolicy)
    assert(r.run.failed.isEmpty && r.run.skipped.isEmpty)
    assert(r.run.succeeded.size === 6)

    // silver layer: every bronze row is accounted for (clean + quarantine)
    val bronzeOrders = spark.read.parquet(s"$bronzeDir/orders.parquet").count()
    val (cleanOrders, badOrders) = r.gateCounts("orders")
    assert(cleanOrders + badOrders === bronzeOrders)
    assert(spark.read.parquet(s"$out/silver/orders").count() === cleanOrders)
    // hive partition dirs exist (order_year=NNNN)
    val silverDirs = new java.io.File(s"$out/silver/orders").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(silverDirs.nonEmpty && silverDirs.forall(_.startsWith("order_year=")))

    // gold layer: aggregates exist and reconcile with silver
    val daily = spark.read.parquet(s"$out/gold/daily_sales")
    assert(daily.agg(sum("order_count")).head.getLong(0) === cleanOrders)
    assert(spark.read.parquet(s"$out/gold/monthly_sales").count() > 0)
    val ca = spark.read.parquet(s"$out/gold/customer_analytics")
    assert(ca.count() === spark.read.parquet(s"$out/silver/customers").count())
    assert(ca.columns.contains("rfm_score") && ca.columns.contains("lifecycle_stage"))
    val ml = spark.read.parquet(s"$out/gold/ml_features")
    assert(ml.select("data_split").distinct().count() === 3)

    // quality reports on disk: one JSON per silver table with the scores
    for (t <- Seq("orders", "customers", "parts")) {
      val rep = spark.read.json(s"$out/quality/$t")
      assert(rep.count() === 1)
      assert(rep.head.getAs[String]("table") === t)
      assert(rep.head.getAs[Double]("overall_score") > 0.0)
    }

    // watermark committed AFTER the write: the high-water mark equals the
    // bronze max order date
    val store = new graft.incremental.WatermarkStore(s"$out/_state")
    val expectedMark = spark.read.parquet(s"$bronzeDir/orders.parquet")
      .agg(max(col("o_orderdate")).cast("string")).head.getString(0)
    assert(store.get("orders", "o_orderdate").contains(expectedMark))

    // idempotent re-run: empty orders increment, nothing breaks, gold intact
    val r2 = RunPipeline.run(spark, bronzeDir, out, policy = fastPolicy)
    assert(r2.run.failed.isEmpty && r2.gateCounts("orders") === ((0L, 0L)))
    assert(spark.read.parquet(s"$out/silver/orders").count() === cleanOrders)
    assert(spark.read.parquet(s"$out/gold/daily_sales")
      .agg(sum("order_count")).head.getLong(0) === cleanOrders)
  }

  test("dirty bronze rows are quarantined with a reason and kept out of silver") {
    import spark.implicits._
    // doctored bronze: the sf0.001 tables plus three broken order rows
    val bronze = tempDir("medallion-dirty")
    val orders = spark.read.parquet(s"$bronzeDir/orders.parquet")
    val broken = Seq(
      (-1L, null.asInstanceOf[java.lang.Long], "1997-01-01", -5.0, "O", "1-URGENT"),
      (-2L, java.lang.Long.valueOf(1L), "1997-01-02", 100.0, "X", "2-HIGH"),
      (-3L, java.lang.Long.valueOf(2L), null.asInstanceOf[String], 100.0, "F", "3-MEDIUM"))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice",
        "o_orderstatus", "o_orderpriority")
    orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice",
        "o_orderstatus", "o_orderpriority")
      .unionByName(broken)
      .write.parquet(s"$bronze/orders.parquet")
    spark.read.parquet(s"$bronzeDir/customer.parquet").write.parquet(s"$bronze/customer.parquet")
    spark.read.parquet(s"$bronzeDir/part.parquet").write.parquet(s"$bronze/part.parquet")

    val out = tempDir("medallion-dirty-out")
    val notifier = new QualityReport.Notifier.Buffering
    val r = RunPipeline.run(spark, bronze, out, notifier = notifier, policy = fastPolicy)
    assert(r.run.failed.isEmpty)
    val (clean, bad) = r.gateCounts("orders")
    assert(bad === 3L)
    val q = spark.read.parquet(s"$out/quarantine/orders")
    assert(q.count() === 3L)
    assert(q.select("o_orderkey").as[Long].collect().sorted === Array(-3L, -2L, -1L))
    assert(q.columns.contains("quarantine_reason"))
    // silver holds only gated-clean rows; gold reconciles with them
    assert(spark.read.parquet(s"$out/silver/orders").count() === clean)
    assert(spark.read.parquet(s"$out/gold/daily_sales")
      .agg(sum("order_count")).head.getLong(0) === clean)
  }

  test("a failing silver write burns retries to the DLQ, skips dependents, " +
      "and does NOT advance the watermark (at-least-once)") {
    val out = tempDir("medallion-fail")
    // sabotage: the silver/orders TARGET is a plain file, so the
    // partitioned parquet write throws on every attempt
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$out/silver"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/silver/orders"), "not a directory")

    val r = RunPipeline.run(spark, bronzeDir, out, policy = fastPolicy)
    assert(r.run.failed === Set("bronze_to_silver_orders"))
    // every gold job depends (directly or transitively) on orders → skipped
    assert(r.run.skipped === Set("silver_to_gold_sales_summary",
      "silver_to_gold_customer_analytics", "silver_to_gold_ml_features"))
    // the other silver jobs are independent and still land
    assert(r.run.succeeded === Set("bronze_to_silver_customers", "bronze_to_silver_parts"))
    // DLQ holds the exhausted-retry record (3 attempts)
    val dlq = new Pipeline.DeadLetterQueue(s"$out/_state/dlq.jsonl")
    assert(dlq.entries().size === 1 && dlq.entries().head.contains("bronze_to_silver_orders"))
    assert(dlq.entries().head.contains("\"attempts\":3"))
    // commit-after-write: the failed increment is NOT marked done — the
    // next (healed) run re-reads it instead of skipping the data
    val store = new graft.incremental.WatermarkStore(s"$out/_state")
    assert(store.get("orders", "o_orderdate").isEmpty)
  }

  test("the orders quarantine keeps every run's rejects exactly once, " +
      "across an increment and a replay of it") {
    import spark.implicits._
    // the sf0.01 tables, next to the sf0.001 ones
    val sf = s"${java.nio.file.Path.of(bronzeDir).getParent}/sf0.01"
    // every 500th order (in date order) gets a status the gate rejects
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("_n", row_number().over(Window.orderBy("o_orderdate", "o_orderkey")))
      .withColumn("o_orderstatus",
        when(col("_n") % 500 === 0, lit("X")).otherwise(col("o_orderstatus")))
      .drop("_n")
    val firstSlice = orders.filter(col("o_orderdate") <= "1998-06-30")
    val secondSlice = orders.filter(col("o_orderdate") > "1998-06-30" &&
      col("o_orderdate") <= "1998-12-31")
    def rejects(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("o_orderstatus") === "X").select("o_orderkey").as[Long].collect().toSeq
    val expected = (rejects(firstSlice) ++ rejects(secondSlice)).sorted
    assert(rejects(firstSlice).nonEmpty && rejects(secondSlice).nonEmpty)

    val bronze = tempDir("medallion-replay")
    for (t <- Seq("customer", "part"))
      java.nio.file.Files.copy(java.nio.file.Path.of(s"$sf/$t.parquet"),
        java.nio.file.Path.of(s"$bronze/$t.parquet"))
    val out = tempDir("medallion-replay-out")
    def load(): Unit =
      assert(RunPipeline.run(spark, bronze, out, policy = fastPolicy).run.failed.isEmpty)

    firstSlice.write.parquet(s"$bronze/orders.parquet")
    load()
    val store = new WatermarkStore(s"$out/_state")
    val firstMark = store.get("orders", "o_orderdate").get
    secondSlice.write.mode("append").parquet(s"$bronze/orders.parquet")
    load()
    // at-least-once replay: the second run's mark is lost, so it re-reads
    store.put("orders", "o_orderdate", firstMark)
    load()

    val q = spark.read.parquet(s"$out/quarantine/orders")
    assert(q.select("o_orderkey").as[Long].collect().toSeq.sorted === expected)
  }

  test("a mid-year increment and a replay of it merge into silver: silver " +
      "and gold equal a one-shot load") {
    val orders = ordersOf(sf01)
    val first = orders.filter(col("o_orderdate") <= "1998-06-30")
    val second = orders.filter(col("o_orderdate") > "1998-06-30" &&
      col("o_orderdate") <= "1998-12-31")
    val bronze = bronzeWith("medallion-midyear", first, sf01)
    val out = tempDir("medallion-midyear-out")
    def load(): Unit =
      assert(RunPipeline.run(spark, bronze, out, policy = fastPolicy).run.failed.isEmpty)
    load()
    val store = new WatermarkStore(s"$out/_state")
    val firstMark = store.get("orders", "o_orderdate").get
    second.write.mode("append").parquet(s"$bronze/orders.parquet")
    load()
    // at-least-once replay: the second run's mark is lost, so it re-reads
    store.put("orders", "o_orderdate", firstMark)
    load()

    val ref = tempDir("medallion-midyear-ref")
    assert(RunPipeline.run(spark, bronzeWith("medallion-oneshot", first.unionByName(second), sf01),
      ref, policy = fastPolicy).run.failed.isEmpty)
    for (t <- Seq("silver/orders", "gold/daily_sales", "gold/monthly_sales",
        "gold/customer_analytics", "gold/ml_features"))
      assertSameTable(out, ref, t)
  }

  test("the schema gold reads silver with equals what spark.read.parquet " +
      "infers for the written tables, partition column and nullability included") {
    val out = tempDir("medallion-schema")
    assert(RunPipeline.run(spark, bronzeDir, out, policy = fastPolicy).run.failed.isEmpty)
    for (t <- Seq("orders", "customers"))
      assert(RunPipeline.silverSchema(t, Tables(spark, bronzeDir), GraftConf.default) ===
        spark.read.parquet(s"$out/silver/$t").schema, t)
  }

  test("an increment of orders only starts no Spark job from the customers " +
      "or parts jobs, and reports what the first run did") {
    val orders = ordersOf(bronzeDir)
    val bronze = bronzeWith("medallion-dims", orders.filter(col("o_orderdate") < "1997-01-01"))
    val out = tempDir("medallion-dims-out")
    val r1 = RunPipeline.run(spark, bronze, out, policy = fastPolicy)
    orders.filter(col("o_orderdate") >= "1997-01-01")
      .write.mode("append").parquet(s"$bronze/orders.parquet")
    val (r2, jobs) = jobsDuring(RunPipeline.run(spark, bronze, out, policy = fastPolicy))
    assert(r2.run.succeeded.size === 6)
    assert(r2.gateCounts("orders")._1 > 0)
    assert(jobs.contains("bronze_to_silver_orders"))
    assert(!jobs.exists(Set("bronze_to_silver_customers", "bronze_to_silver_parts")))
    for (t <- Seq("customers", "parts")) {
      assert(r2.quality(t) === r1.quality(t))
      assert(r2.gateCounts(t) === r1.gateCounts(t))
    }
  }

  test("a changed customer.parquet re-cleans customers and rebuilds " +
      "customer_analytics, and nothing else") {
    val out = tempDir("medallion-newdim-out")
    val bronze = bronzeWith("medallion-newdim", ordersOf(bronzeDir))
    RunPipeline.run(spark, bronze, out, policy = fastPolicy)
    val customers = spark.read.parquet(s"$bronzeDir/customer.parquet")
      .filter(col("c_custkey") % 10 =!= 0)
    val n = customers.count()
    Files.delete(Path.of(s"$bronze/customer.parquet"))
    customers.write.parquet(s"$bronze/customer.parquet")
    val (r, jobs) = jobsDuring(RunPipeline.run(spark, bronze, out, policy = fastPolicy))
    assert(r.run.succeeded.size === 6)
    assert(jobs.toSet === Set("bronze_to_silver_orders", "bronze_to_silver_customers",
      "silver_to_gold_customer_analytics"))
    val (ok, bad) = r.gateCounts("customers")
    assert(ok + bad === n)
    assert(spark.read.parquet(s"$out/gold/customer_analytics").count() === ok)
  }

  test("a gold job that ran out of retries into the DLQ is rebuilt on the " +
      "next run, though no new orders arrived") {
    val out = tempDir("medallion-dlq")
    // sabotage: a directory where ml_features commits its stamp, so the
    // job fails after its write, on every attempt
    val stamp = Path.of(s"$out/_state/silver_to_gold_ml_features.stamp")
    Files.createDirectories(stamp)
    Files.writeString(stamp.resolve("blocker"), "x")
    val r1 = RunPipeline.run(spark, bronzeDir, out, policy = fastPolicy)
    assert(r1.run.failed === Set("silver_to_gold_ml_features"))
    assert(new Pipeline.DeadLetterQueue(s"$out/_state/dlq.jsonl").entries().size === 1)
    Files.delete(stamp.resolve("blocker"))
    Files.delete(stamp)

    val (r2, jobs) = jobsDuring(RunPipeline.run(spark, bronzeDir, out, policy = fastPolicy))
    assert(r2.run.succeeded.size === 6 && r2.gateCounts("orders") === ((0L, 0L)))
    assert(jobs.toSet === Set("bronze_to_silver_orders", "silver_to_gold_ml_features"))
    assert(Files.isRegularFile(stamp))
    assert(spark.read.parquet(s"$out/gold/ml_features").count() > 0)
  }

  test("a run with no new input starts no Spark job after the orders probe " +
      "and leaves every output file unchanged") {
    val out = tempDir("medallion-noop")
    val r1 = RunPipeline.run(spark, bronzeDir, out, policy = fastPolicy)
    val before = files(out)
    val (r2, jobs) = jobsDuring(RunPipeline.run(spark, bronzeDir, out, policy = fastPolicy))
    assert(r2.run.succeeded.size === 6)
    // the probe's aggregate: a shuffle stage and a result stage
    assert(jobs.toSet === Set("bronze_to_silver_orders") && jobs.size <= 2)
    assert(files(out) === before)
    for (t <- Seq("customers", "parts")) assert(r2.quality(t) === r1.quality(t))
  }

  test("a changed GraftConf.asOfDate rebuilds the customer-keyed gold tables") {
    val out = tempDir("medallion-conf")
    RunPipeline.run(spark, bronzeDir, out, policy = fastPolicy)
    val before = Seq("customer_analytics", "ml_features").map(t => files(s"$out/gold/$t"))
    val conf = GraftConf.default.copy(asOfDate = java.time.LocalDate.parse("2003-01-01"))
    val (r, jobs) = jobsDuring(
      RunPipeline.run(spark, bronzeDir, out, conf = conf, policy = fastPolicy))
    assert(r.run.succeeded.size === 6)
    assert(Set("silver_to_gold_customer_analytics", "silver_to_gold_ml_features")
      .subsetOf(jobs.toSet))
    Seq("customer_analytics", "ml_features").zip(before).foreach { case (t, b) =>
      assert(files(s"$out/gold/$t").intersect(b).isEmpty, t) }
  }
}
