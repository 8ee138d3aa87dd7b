package graft.quality

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.core.GraftConf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

class QualityReportSpec extends SparkSpec {
  import spark.implicits._

  private lazy val good = (1 to 100).map(i => (i.toLong, s"u$i@x.com", 50.0 + i % 10))
    .toDF("id", "email", "amount")

  private lazy val bad = {
    val dups = (1 to 20).map(_ => (1L, null.asInstanceOf[String], 1e9))
    ((1 to 80).map(i => (i.toLong, s"u$i@x.com", 50.0)) ++ dups)
      .toDF("id", "email", "amount")
  }

  private val config = QualityReport.Config(
    expectedSchema = Some(StructType(Seq(
      StructField("id", LongType), StructField("email", StringType),
      StructField("amount", DoubleType)))),
    nullColumns = Seq("id", "email", "amount"),
    dupKeys = Seq("id"),
    rangeRules = Seq(DataQuality.RangeRule("amount", min = Some(0), max = Some(1000))))

  test("clean data passes every check with perfect scores") {
    val rep = QualityReport.run(good, config)
    assert(rep.passed && rep.severity === "none")
    assert(rep.overallScore === 100.0)
    assert(rep.checks.map(_.check).toSet ===
      Set("schema_compliance", "null_check", "duplicate_check", "range_check"))
  }

  test("dirty data fails null/dup/range checks with reduced scores") {
    val rep = QualityReport.run(bad, config)
    assert(!rep.passed)
    assert(rep.failedChecks.toSet === Set("null_check", "duplicate_check", "range_check"))
    val byName = rep.checks.map(c => c.check -> c).toMap
    assert(byName("null_check").score === 80.0)   // 20% nulls in email
    assert(byName("duplicate_check").score === 79.0) // id=1 group has 21 members
    assert(byName("range_check").score === 80.0)  // 20 out-of-range
  }

  test("quarantineIfFailed writes both sides only on failure") {
    val dir = tempDir("qrep")
    val rep = QualityReport.run(bad, config)
    val counts = QualityReport.quarantineIfFailed(bad, rep,
      col("email").isNotNull && col("amount") <= 1000,
      s"$dir/clean", s"$dir/quarantine")
    assert(counts === Some((80L, 20L)))
    val reason = spark.read.parquet(s"$dir/quarantine")
      .select("quarantine_reason").distinct().head.getString(0)
    assert(reason.contains("null_check") && reason.contains("duplicate_check"))

    val repGood = QualityReport.run(good, config)
    assert(QualityReport.quarantineIfFailed(good, repGood, lit(true),
      s"$dir/c2", s"$dir/q2").isEmpty)
  }

  test("freshness check contributes to the report against injected as-of") {
    val events = Seq(java.sql.Timestamp.valueOf("2024-01-31 00:00:00")).toDF("ts")
    val rep = QualityReport.run(events,
      QualityReport.Config(freshnessCol = Some("ts")),
      GraftConf(asOfDate = java.time.LocalDate.parse("2024-02-01")))
    assert(rep.checks.head.check === "freshness")
    assert(rep.checks.head.passed) // 24h exactly at the default threshold
  }

  test("runWithAlerts routes warning/critical to the notifier, nothing on pass") {
    val n = new QualityReport.Notifier.Buffering
    val repGood = QualityReport.runWithAlerts(good, config, "orders", n)
    assert(repGood.passed && n.alerts.isEmpty)

    val repBad = QualityReport.runWithAlerts(bad, config, "orders", n)
    assert(!repBad.passed && n.alerts.size === 1)
    val a = n.alerts.head
    assert(a.table === "orders")
    assert(a.severity === repBad.severity)
    assert(Set("warning", "critical").contains(a.severity))
    assert(a.failedChecks.toSet === Set("null_check", "duplicate_check", "range_check"))
    assert(a.overallScore === repBad.overallScore)
  }

  test("the buffering notifier keeps every alert sent from concurrent jobs") {
    val n = new QualityReport.Notifier.Buffering
    val senders = (1 to 4).map(t => new Thread(() => (1 to 500).foreach(i =>
      n.send(QualityReport.Alert(s"t$t", "warning", i.toDouble, Seq.empty)))))
    senders.foreach(_.start())
    senders.foreach(_.join())
    assert(n.alerts.size === 2000)
    assert(n.alerts.groupBy(_.table).map { case (t, as) => t -> as.size } ===
      (1 to 4).map(t => s"t$t" -> 500).toMap)
  }

  private val checksOnly = config.copy(expectedSchema = None)

  /** The null, duplicate and range scores computed one check at a time
    * from DataQuality's public functions: the rules the fused report must
    * reproduce to the last digit. */
  private def perCheck(df: DataFrame, c: QualityReport.Config): Seq[QualityReport.CheckScore] = {
    val t = c.thresholds
    val nullW = DataQuality.nullCheck(df, c.nullColumns)
      .agg(max("null_pct")).head().getDouble(0)
    val dupRows = DataQuality.duplicateCheck(df, c.dupKeys).head().getAs[Long]("duplicate_rows")
    val dupPct = dupRows.toDouble / df.count() * 100.0
    val rangeW = DataQuality.rangeCheck(df, c.rangeRules)
      .agg(max("violation_pct")).head().getDouble(0)
    Seq(QualityReport.CheckScore("null_check", 100.0 - nullW, nullW <= t.maxNullPct),
      QualityReport.CheckScore("duplicate_check", 100.0 - dupPct, dupPct <= t.maxDupPct),
      QualityReport.CheckScore("range_check", 100.0 - rangeW, rangeW <= t.maxOutlierPct))
  }

  test("the fused report equals the per-check report to the last digit") {
    // 7 rows: shares like 3/7 need the 6-place rounding of the checks
    val nullKeys = Seq[(java.lang.Long, String, java.lang.Double)](
      (null, "a", 1.0), (null, null, 2000.0), (1L, "b", null), (1L, null, -3.0),
      (2L, "c", 5.0), (3L, null, 7.0), (null, "d", 1e9))
      .toDF("id", "email", "amount")
    val single = Seq((5L, "x@y.z", 10.0)).toDF("id", "email", "amount")
    for ((name, df) <- Seq("clean" -> good, "dirty" -> bad, "null-key" -> nullKeys,
        "single-row" -> single))
      withClue(name)(assert(QualityReport.run(df, checksOnly).checks === perCheck(df, checksOnly)))
  }

  test("an empty frame scores 0% nulls, duplicates and violations") {
    val empty = good.limit(0)
    val rep = QualityReport.run(empty, checksOnly)
    assert(rep.checks.map(c => (c.check, c.score, c.passed)) === Seq(
      ("null_check", 100.0, true), ("duplicate_check", 100.0, true), ("range_check", 100.0, true)))
    assert(rep.passed && rep.overallScore === 100.0)
    // with a row gate the counts come out of the same aggregate
    assert(QualityReport.run(empty, checksOnly.copy(rowGate = Some(lit(true))))
      .gateCounts === Some((0L, 0L)))
  }

  test("a report with null, duplicate and range checks is one action") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe.analyzed.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(qe.analyzed.toString)
    }
    spark.listenerManager.register(listener)
    val rep = try {
      val r = QualityReport.run(bad, config.copy(
        rowGate = Some(col("email").isNotNull && col("amount") <= 1000)))
      // sentinel: the listener bus delivers in order, so once this action
      // is seen, every action of the report has been seen
      spark.range(424242).count()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!plans.asScala.exists(_.contains("424242")) && System.nanoTime() < deadline)
        Thread.sleep(10)
      r
    } finally spark.listenerManager.unregister(listener)
    assert(plans.asScala.exists(_.contains("424242")), "sentinel action not delivered")
    assert(plans.asScala.count(!_.contains("424242")) === 1)
    assert(rep.checks.size === 4 && rep.gateCounts === Some((80L, 20L)))
  }
}
