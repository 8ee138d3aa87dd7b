package graft.pipeline

import graft.SparkSpec
import graft.incremental.WatermarkStore
import graft.quality.QualityReport
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end medallion integration — mirrors the reference's e2e flow
  * test (reference/tests/integration/test_e2e_pipeline.py:224-313): run
  * the full bronze→silver→gold DAG over a real bronze directory and
  * assert layer outputs, quality reports and state on disk.
  */
class RunPipelineSpec extends SparkSpec {

  private val bronzeDir = "/root/testdata/sf0.001"
  private def fastPolicy = Pipeline.RetryPolicy(sleep = _ => ())

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
}
