package graft.quality

import graft.SparkSpec
import graft.core.GraftConf
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
    val dir = java.nio.file.Files.createTempDirectory("qrep").toString
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
}
