package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.core.GraftConf

/** Q7: composite quality run — schema, nulls, duplicates, ranges, freshness
  * and IQR outliers scored against thresholds (Q9), with an overall score
  * and a quarantine decision.
  *
  * Mirrors reference/lambda/data_quality_monitor/lambda_function.py:568-691
  * (overall = mean of check scores; failed ⇒ quarantine + severity by
  * score < 50). The data-touching checks run as Spark aggregations; where
  * the pandas original loops per column, these fuse into single passes
  * (see DataQuality Q2/Q4).
  */
object QualityReport {

  final case class CheckScore(check: String, score: Double, passed: Boolean)
  final case class Report(checks: Seq[CheckScore], overallScore: Double,
      passed: Boolean, severity: String) {
    def failedChecks: Seq[String] = checks.filterNot(_.passed).map(_.check)
  }

  final case class Config(
      expectedSchema: Option[StructType] = None,
      nullColumns: Seq[String] = Seq.empty,
      dupKeys: Seq[String] = Seq.empty,
      rangeRules: Seq[DataQuality.RangeRule] = Seq.empty,
      freshnessCol: Option[String] = None,
      iqrColumns: Seq[String] = Seq.empty,
      thresholds: DataQuality.Thresholds = DataQuality.defaults)

  def run(df: DataFrame, config: Config,
      conf: GraftConf = GraftConf.default): Report = {
    val t = config.thresholds
    val checks = scala.collection.mutable.ArrayBuffer.empty[CheckScore]

    config.expectedSchema.foreach { exp =>
      val rep = DataQuality.schemaCompliance(df.schema, exp)
      checks += CheckScore("schema_compliance", rep.score,
        rep.score >= t.minSchemaPct && rep.missing.isEmpty)
    }
    if (config.nullColumns.nonEmpty) {
      val worst = DataQuality.nullCheck(df, config.nullColumns)
        .agg(max("null_pct")).head().getDouble(0)
      checks += CheckScore("null_check", 100.0 - worst, worst <= t.maxNullPct)
    }
    if (config.dupKeys.nonEmpty) {
      val r = DataQuality.duplicateCheck(df, config.dupKeys).head()
      val total = df.count()
      val pct = if (total == 0) 0.0 else r.getAs[Long]("duplicate_rows").toDouble / total * 100.0
      checks += CheckScore("duplicate_check", 100.0 - pct, pct <= t.maxDupPct)
    }
    if (config.rangeRules.nonEmpty) {
      val worst = DataQuality.rangeCheck(df, config.rangeRules)
        .agg(max("violation_pct")).head().getDouble(0)
      checks += CheckScore("range_check", 100.0 - worst, worst <= t.maxOutlierPct)
    }
    config.freshnessCol.foreach { c =>
      val hours = DataQuality.freshness(df, c, conf).head().getAs[Long]("age_hours")
      val score = math.max(0.0, 100.0 - math.max(0, hours - t.maxAgeHours))
      checks += CheckScore("freshness", score, hours <= t.maxAgeHours)
    }
    if (config.iqrColumns.nonEmpty) {
      val row = DataQuality.iqrOutliers(df, config.iqrColumns)
        .agg(max(col("outliers").cast("double") / col("total") * 100.0)).head().getDouble(0)
      checks += CheckScore("iqr_outliers", 100.0 - row, row <= t.maxOutlierPct)
    }

    val overall = if (checks.isEmpty) 100.0 else checks.map(_.score).sum / checks.size
    val passed = checks.forall(_.passed)
    val severity = if (passed) "none" else if (overall < 50) "critical" else "warning"
    Report(checks.toSeq, overall, passed, severity)
  }

  /** Severity-tagged quality alert — the payload the reference publishes to
    * its notification topic on failed checks
    * (reference/lambda/data_quality_monitor/lambda_function.py:568-691).
    */
  final case class Alert(table: String, severity: String, overallScore: Double,
      failedChecks: Seq[String])

  /** Notification transport: the reference hardwires SNS; here any sink
    * (logger, queue client, HTTP poster) plugs in as a callback.
    */
  trait Notifier { def send(alert: Alert): Unit }

  object Notifier {
    /** Collects alerts in memory — tests and local runs. Safe to share
      * between concurrent pipeline jobs.
      */
    final class Buffering extends Notifier {
      private val buf = scala.collection.mutable.ArrayBuffer.empty[Alert]
      def send(alert: Alert): Unit = synchronized { buf += alert; () }
      def alerts: Seq[Alert] = synchronized(buf.toSeq)
    }
    /** Default transport: structured line to stderr. */
    val logging: Notifier = (a: Alert) => System.err.println(
      s"[quality-alert] table=${a.table} severity=${a.severity} " +
        f"score=${a.overallScore}%.2f failed=${a.failedChecks.mkString(",")}")
  }

  /** [[run]] plus alert routing: warning/critical reports dispatch one alert
    * through the notifier; passing reports dispatch nothing.
    */
  def runWithAlerts(df: DataFrame, config: Config, table: String,
      notifier: Notifier, conf: GraftConf = GraftConf.default): Report = {
    val report = run(df, config, conf)
    if (report.severity != "none")
      notifier.send(Alert(table, report.severity, report.overallScore,
        report.failedChecks))
    report
  }

  /** Quarantine integration: when the report fails, split rows by the
    * row-level predicate and write both sides (S8).
    */
  def quarantineIfFailed(df: DataFrame, report: Report, rowPredicate: Column,
      cleanPath: String, quarantinePath: String): Option[(Long, Long)] =
    if (report.passed) None
    else Some(graft.sources.Sinks.quarantine(df, rowPredicate, cleanPath,
      quarantinePath, report.failedChecks.mkString(",")))
}
