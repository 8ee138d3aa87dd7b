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
  * score < 50). Where the pandas original loops over checks one at a time,
  * [[run]] compiles the null, duplicate, range and freshness checks — and
  * an optional row-gate pass count — into ONE two-level aggregate: per-key
  * partials (group size, null counts, violation counts, latest timestamp,
  * gate passes) grouped on the duplicate keys, then one global sum. A
  * report is therefore one action; only the IQR check keeps its own
  * quantile pass. This is the operator fusion of *Machine Learning
  * Inference Pipeline Execution Using Pure SQL Based on Operator Fusion*
  * (ICDE 2025) applied to the check pipeline. Scores equal the
  * one-check-at-a-time [[DataQuality]] functions to the last digit: both
  * build the same expressions. A frame with no rows scores 0% nulls,
  * duplicates and violations (score 100).
  */
object QualityReport {

  final case class CheckScore(check: String, score: Double, passed: Boolean)
  /** `gateCounts` is (passing, failing) rows of [[Config.rowGate]], when
    * one was configured. */
  final case class Report(checks: Seq[CheckScore], overallScore: Double,
      passed: Boolean, severity: String, gateCounts: Option[(Long, Long)] = None) {
    def failedChecks: Seq[String] = checks.filterNot(_.passed).map(_.check)
  }

  /** `rowGate` is a row-level predicate whose passing rows the report
    * counts in the same aggregate (null counts as failing, as in
    * [[graft.sources.Sinks.quarantine]]). */
  final case class Config(
      expectedSchema: Option[StructType] = None,
      nullColumns: Seq[String] = Seq.empty,
      dupKeys: Seq[String] = Seq.empty,
      rangeRules: Seq[DataQuality.RangeRule] = Seq.empty,
      freshnessCol: Option[String] = None,
      iqrColumns: Seq[String] = Seq.empty,
      thresholds: DataQuality.Thresholds = DataQuality.defaults,
      rowGate: Option[Column] = None)

  def run(df: DataFrame, config: Config,
      conf: GraftConf = GraftConf.default): Report = {
    val t = config.thresholds
    val checks = scala.collection.mutable.ArrayBuffer.empty[CheckScore]

    config.expectedSchema.foreach { exp =>
      val rep = DataQuality.schemaCompliance(df.schema, exp)
      checks += CheckScore("schema_compliance", rep.score,
        rep.score >= t.minSchemaPct && rep.missing.isEmpty)
    }
    val fused = config.nullColumns.nonEmpty || config.dupKeys.nonEmpty ||
      config.rangeRules.nonEmpty || config.freshnessCol.nonEmpty || config.rowGate.nonEmpty
    val s = if (fused) Some(fusedStats(df, config, conf)) else None
    s.foreach { s =>
      // worst column's share; shares are >= 0, and an empty frame's are 0
      def worst(pcts: Seq[Double]) = pcts.foldLeft(0.0)(math.max)
      if (config.nullColumns.nonEmpty) {
        val w = worst(s.nullPcts)
        checks += CheckScore("null_check", 100.0 - w, w <= t.maxNullPct)
      }
      if (config.dupKeys.nonEmpty) {
        val pct = if (s.total == 0) 0.0 else s.dupRows.toDouble / s.total * 100.0
        checks += CheckScore("duplicate_check", 100.0 - pct, pct <= t.maxDupPct)
      }
      if (config.rangeRules.nonEmpty) {
        val w = worst(s.violationPcts)
        checks += CheckScore("range_check", 100.0 - w, w <= t.maxOutlierPct)
      }
      if (config.freshnessCol.nonEmpty) {
        val score = math.max(0.0, 100.0 - math.max(0, s.ageHours - t.maxAgeHours))
        checks += CheckScore("freshness", score, s.ageHours <= t.maxAgeHours)
      }
    }
    if (config.iqrColumns.nonEmpty) {
      val row = DataQuality.iqrOutliers(df, config.iqrColumns)
        .agg(max(col("outliers").cast("double") / col("total") * 100.0)).head().getDouble(0)
      checks += CheckScore("iqr_outliers", 100.0 - row, row <= t.maxOutlierPct)
    }

    val overall = if (checks.isEmpty) 100.0 else checks.map(_.score).sum / checks.size
    val passed = checks.forall(_.passed)
    val severity = if (passed) "none" else if (overall < 50) "critical" else "warning"
    Report(checks.toSeq, overall, passed, severity,
      for (s <- s; p <- s.gatePassed) yield (p, s.total - p))
  }

  /** What the fused aggregate measures. A frame with no rows has null
    * shares, read as 0, and `ageHours` is 0 when there is no timestamp (as
    * `Row.getAs[Long]` reads a null). */
  private final case class Stats(total: Long, dupRows: Long, nullPcts: Seq[Double],
      violationPcts: Seq[Double], ageHours: Long, gatePassed: Option[Long])

  /** The one action: per-key partials on the duplicate keys (one global
    * group when there are none), summed by one global aggregate. */
  private def fusedStats(df: DataFrame, config: Config, conf: GraftConf): Stats = {
    def flag(c: Column) = sum(when(c, 1L).otherwise(0L))
    val nulls = config.nullColumns.indices.map(i => s"_n$i")
    val viols = config.rangeRules.indices.map(i => s"_v$i")
    val partials = Seq(count(lit(1)).as("_rows")) ++
      config.nullColumns.zip(nulls).map { case (c, n) => flag(col(c).isNull).as(n) } ++
      config.rangeRules.zip(viols).map { case (r, v) => flag(DataQuality.violation(r)).as(v) } ++
      config.freshnessCol.map(c => max(col(c)).as("_ts")) ++
      config.rowGate.map(g => flag(g).as("_pass"))
    val perKey = df.groupBy(config.dupKeys.map(col): _*).agg(partials.head, partials.tail: _*)
    val total = col("_total")
    val sums = Seq(sum("_rows").as("_total"),
        sum(when(col("_rows") > 1, col("_rows"))).as("_dup")) ++
      (nulls ++ viols ++ config.rowGate.map(_ => "_pass")).map(c => sum(c).as(c)) ++
      config.freshnessCol.map(_ => max("_ts").as("_ts"))
    val out = Seq(total, col("_dup")) ++
      (nulls ++ viols).map(c => DataQuality.pct(col(c), total).as(c)) ++
      config.freshnessCol.map(_ =>
        DataQuality.ageHours(DataQuality.ageSeconds(col("_ts"), conf)).as("_age")) ++
      config.rowGate.map(_ => col("_pass"))
    val r = perKey.agg(sums.head, sums.tail: _*).select(out: _*).head()
    def long(c: String) = Option(r.getAs[java.lang.Long](c)).fold(0L)(_.longValue)
    def double(c: String) = Option(r.getAs[java.lang.Double](c)).fold(0.0)(_.doubleValue)
    Stats(long("_total"), long("_dup"), nulls.map(double), viols.map(double),
      config.freshnessCol.fold(0L)(_ => long("_age")), config.rowGate.map(_ => long("_pass")))
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
