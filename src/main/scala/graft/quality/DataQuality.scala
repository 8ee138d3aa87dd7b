package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StructType}
import graft.core.GraftConf

/** Distributed data-quality engine (Q1–Q9).
  *
  * The reference runs these checks single-node in pandas
  * (reference/lambda/data_quality_monitor/lambda_function.py:120-453), which
  * is its main scalability bug. Here every check is a Spark aggregation —
  * and wherever several per-column statistics are needed they are fused into
  * ONE aggregate pass over the data (no per-column scans). Each function
  * below is one check and one action, for callers that want one check;
  * [[QualityReport.run]] compiles the null, duplicate, range and freshness
  * checks into one two-level aggregate from the same expressions, so a whole
  * report is one action regardless of column or check count (plus one
  * quantile pass when IQR outliers are asked for).
  */
object DataQuality {

  final case class Thresholds(
      maxNullPct: Double = 10.0,
      maxDupPct: Double = 5.0,
      maxOutlierPct: Double = 2.0,
      minSchemaPct: Double = 95.0,
      maxAgeHours: Double = 24.0
  )
  val defaults: Thresholds = Thresholds()

  /** Q1 schema compliance: missing/extra columns + type equality vs the
    * expected StructType (lambda_function.py:120-196). Driver-side — schema
    * is metadata, not data.
    */
  final case class SchemaReport(
      missing: Seq[String], extra: Seq[String], typeMismatch: Seq[String], score: Double)

  def schemaCompliance(actual: StructType, expected: StructType): SchemaReport = {
    val act = actual.fields.map(f => f.name -> f.dataType).toMap
    val missing = expected.fields.map(_.name).filterNot(act.contains).toSeq
    val mismatch = expected.fields.toSeq.collect {
      case f if act.get(f.name).exists(_ != f.dataType) => f.name
    }
    val extra = actual.fields.map(_.name).filterNot(expected.fieldNames.contains).toSeq
    val compliant = expected.size - missing.size - mismatch.size
    SchemaReport(missing, extra, mismatch,
      if (expected.isEmpty) 100.0 else compliant.toDouble / expected.size * 100.0)
  }

  /** Q2 null check — one pass for ALL columns: a single agg of
    * sum(when(isNull)) per column (vs pandas' per-column loop).
    * Returns long-format (column_name, null_count, total, null_pct).
    */
  def nullCheck(df: DataFrame, columns: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("total") +:
      columns.zipWithIndex.map { case (c, i) =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_n$i")
      }
    val stackArgs = columns.zipWithIndex
      .map { case (c, i) => s"'$c', _n$i" }.mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${columns.size}, $stackArgs) as (column_name, null_count)", "total")
      .withColumn("null_pct", pct(col("null_count"), col("total")))
  }

  /** `n` as a percentage of `total`, rounded to 6 places: the null and
    * range checks' score, shared with the fused report. */
  private[quality] def pct(n: Column, total: Column): Column =
    round(n.cast("double") / total * 100.0, 6)

  /** Q3 duplicate check by key columns. Matches the reference's
    * pandas `duplicated(keep=False)` semantics: counts ALL members of
    * duplicate groups, not n-1 (lambda_function.py:246-277).
    */
  def duplicateCheck(df: DataFrame, keys: Seq[String]): DataFrame = {
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
      .filter(col("group_size") > 1)
      .agg(
        coalesce(sum(col("group_size")), lit(0L)).as("duplicate_rows"),
        count(lit(1)).as("duplicate_groups")
      )
  }

  /** Q4 range / allowed-values violations, all columns in one pass. */
  final case class RangeRule(column: String, min: Option[Double] = None,
      max: Option[Double] = None, allowed: Option[Seq[String]] = None)

  /** A row breaks `r` (null when the column is null, which counts as no
    * violation). */
  private[quality] def violation(r: RangeRule): Column = {
    val c = col(r.column)
    Seq(
      r.min.map(m => c < m),
      r.max.map(m => c > m),
      r.allowed.map(vs => !c.isin(vs.map(lit): _*))
    ).flatten.reduceOption(_ || _).getOrElse(lit(false))
  }

  def rangeCheck(df: DataFrame, rules: Seq[RangeRule]): DataFrame = {
    val aggs = count(lit(1)).as("total") +: rules.zipWithIndex.map { case (r, i) =>
      sum(when(violation(r), 1L).otherwise(0L)).as(s"_v$i")
    }
    val stackArgs = rules.zipWithIndex
      .map { case (r, i) => s"'${r.column}', _v$i" }.mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${rules.size}, $stackArgs) as (column_name, violations)", "total")
      .withColumn("violation_pct", pct(col("violations"), col("total")))
  }

  /** Q5 freshness: max timestamp + age vs the injected as-of instant
    * (never wall-clock — GraftConf keeps it deterministic).
    */
  def freshness(df: DataFrame, tsCol: String, conf: GraftConf = GraftConf.default): DataFrame =
    df.agg(max(col(tsCol)).as("max_ts"))
      .withColumn("age_seconds", ageSeconds(col("max_ts"), conf))
      .select(col("age_seconds").cast("long").as("age_seconds"),
        ageHours(col("age_seconds")).as("age_hours"))

  /** Seconds from `maxTs` to the as-of instant. The string literal +
    * to_timestamp is interpreted in the SESSION time zone (UTC), not the
    * JVM default zone — java.sql.Timestamp.valueOf would silently shift if
    * the JVM TZ differed from UTC. */
  private[quality] def ageSeconds(maxTs: Column, conf: GraftConf): Column = {
    val asOfStr = conf.asOfTimestamp.format(
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    unix_timestamp(to_timestamp(lit(asOfStr))) - unix_timestamp(maxTs)
  }

  private[quality] def ageHours(ageSeconds: Column): Column =
    floor(ageSeconds / 3600).cast("long")

  /** Q6 IQR outlier detection with EXACT percentiles
    * (lambda_function.py:391-453). Exact `percentile` keeps oracle parity;
    * at 100 TB swap eps>0 `approx_percentile` via the `exact` flag — same
    * API, sketch-based single pass.
    */
  def iqrOutliers(df: DataFrame, columns: Seq[String], exact: Boolean = true): DataFrame = {
    val pctAggs = columns.flatMap { c =>
      if (exact)
        Seq(expr(s"percentile($c, 0.25)").as(s"${c}_q1"), expr(s"percentile($c, 0.75)").as(s"${c}_q3"))
      else
        Seq(expr(s"approx_percentile($c, 0.25, 10000)").as(s"${c}_q1"),
            expr(s"approx_percentile($c, 0.75, 10000)").as(s"${c}_q3"))
    }
    val quantiles = df.agg(pctAggs.head, pctAggs.tail: _*).head()
    val aggs = count(lit(1)).as("total") +: columns.zipWithIndex.map { case (c, i) =>
      val q1 = quantiles.getDouble(2 * i)
      val q3 = quantiles.getDouble(2 * i + 1)
      val iqr = q3 - q1
      val lo = q1 - 1.5 * iqr
      val hi = q3 + 1.5 * iqr
      sum(when(col(c) < lo || col(c) > hi, 1L).otherwise(0L)).as(s"_o$i")
    }
    val stackArgs = columns.zipWithIndex.map { case (c, i) => s"'$c', _o$i" }.mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${columns.size}, $stackArgs) as (column_name, outliers)", "total")
  }

  /** Numeric columns of a frame (helper for Q4/Q6 defaults). */
  def numericColumns(df: DataFrame): Seq[String] =
    df.schema.fields.collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }.toSeq

  /** Q7 composite scoring + quarantine split. Rows failing the row-level
    * predicate go to quarantine (S8); the report scores each check.
    * Both frames derive from one cached scan.
    */
  final case class QualitySplit(clean: DataFrame, quarantined: DataFrame)

  def quarantine(df: DataFrame, rowPredicate: Column): QualitySplit =
    QualitySplit(df.filter(rowPredicate), df.filter(!rowPredicate || rowPredicate.isNull))

  /** k-anonymity / l-diversity re-identification risk report (Sweeney
    * 2002; Machanavajjhala et al. 2007) — the privacy gate a dataset
    * passes before its metadata columns ship with training data: every
    * combination of the quasi-identifier columns must cover ≥ k rows
    * (k-anonymity: an attacker matching a person on the quasi-IDs finds
    * at least k candidates) AND carry ≥ l distinct sensitive values
    * (l-diversity: the group must not leak the sensitive attribute by
    * unanimity). One groupBy on the quasi-ID tuple; exact countDistinct
    * for l — group counts are the whole point, so no sketches.
    *
    * Output: one row per quasi-ID group — (quasi cols..., group_n,
    * l_diversity, at_risk).
    */
  def kAnonymityReport(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: Column, k: Long, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 1 && l >= 1, s"bad thresholds: k=$k l=$l")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_n"),
        countDistinct(sensitiveCol).as("l_diversity"))
      .withColumn("at_risk", col("group_n") < k || col("l_diversity") < l)
  }

  /** t-closeness (Li, Li & Venkatasubramanian 2007) — the strictest of
    * the classic privacy ladder (k-anonymity < l-diversity <
    * t-closeness): a quasi-identifier group leaks even with l distinct
    * sensitive values if its DISTRIBUTION skews from the corpus (an
    * attacker learns "this group is mostly high-income" without
    * unanimity). Per group, the total-variation distance between the
    * group's sensitive-value distribution and the global one:
    *
    *   tv = ½ Σ_v |cnt_gv·10⁶ div n_g − cnt_v·10⁶ div N|
    *
    * Both shares round ONCE to micros before the subtraction, the sum
    * is an exact Long, the final halving is a single `div 2` — so the
    * screen replays bit-for-bit. Categorical TV (not the paper's
    * ordered-EMD variant — equivalent for unordered sensitive values).
    *
    * Scale shape: three keyed aggregates (group, group×value, value) +
    * one group×value-domain join (the value domain V is the sensitive
    * attribute's cardinality — bounded by assumption; this is C·V rows
    * of counts, never data-sized) + one broadcast 1-row total. Groups
    * missing a value contribute |0 − p_v| via the value-domain right
    * join, which a naive group-only sum silently drops.
    *
    * Output: (quasi cols..., group_n, tv_micros, t_close) with
    * t_close = tv ≤ tMicros.
    */
  def tClosenessReport(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: Column, tMicros: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(tMicros >= 0L && tMicros <= 1000000L, s"bad threshold: $tMicros")
    val qc = quasiCols.map(col)
    val base = df.select(qc :+ sensitiveCol.as("_v"): _*)
    val grp = base.groupBy(qc: _*).agg(count(lit(1)).as("group_n"))
    val gv = base.groupBy(qc :+ col("_v"): _*).agg(count(lit(1)).as("_cgv"))
    val glob = base.groupBy(col("_v")).agg(count(lit(1)).as("_cv"))
    val tot = glob.agg(sum("_cv").as("_n"))
    // every (group, value-domain) cell: absent cells carry count 0; the
    // value domain (V rows) broadcasts, so this is a C×V count grid
    grp.crossJoin(broadcast(glob.crossJoin(broadcast(tot))))
      .join(gv, quasiCols :+ "_v", "left")
      .na.fill(0L, Seq("_cgv"))
      .withColumn("_d", abs(
        expr("_cgv * 1000000L div group_n") - expr("_cv * 1000000L div _n")))
      .groupBy(qc :+ col("group_n"): _*)
      .agg(sum("_d").as("_s"))
      .withColumn("tv_micros", expr("_s div 2"))
      .withColumn("t_close", col("tv_micros") <= tMicros)
      .drop("_s")
  }

  /** The z² constant a [[wilsonTrust]] expression embeds, computed ONCE
    * in Scala so both engines divide by the identical double (the
    * [[graft.text.CorpusSketches.hllScale]] pattern).
    */
  def wilsonZ2(z: Double): Double = z * z

  /** Per-group success-rate ranking by the Wilson score lower bound
    * (Wilson 1927; the "how not to sort by average rating" fix): a group
    * with 3/3 passing stops outranking one with 480/500 — the bound
    * shrinks toward 0 for tiny n. Counts are exact longs; the bound is
    * one fixed left-parenthesized double expression over (k, n) with the
    * z² constant inlined as a Scala-printed literal, so results are
    * bit-identical across engines and partitionings. The canonical use:
    * trust-rank crawl SOURCES by their quality-gate pass rate before
    * assigning mixture weights.
    *
    * Output: (groupCol, n, k, wilson_lb).
    */
  def wilsonTrust(df: DataFrame, groupCol: String, success: Column,
      z: Double = 1.96): DataFrame = {
    val z2 = wilsonZ2(z)
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("k"))
      .withColumn("wilson_lb", expr(
        s"""((CAST(k AS DOUBLE) / n + CAST('$z2' AS DOUBLE) / (2.0 * n))
           |  - CAST('$z' AS DOUBLE) * sqrt((CAST(k AS DOUBLE) / n
           |      * (1.0 - CAST(k AS DOUBLE) / n)
           |      + CAST('$z2' AS DOUBLE) / (4.0 * n * n)) / n))
           |/ (1.0 + CAST('$z2' AS DOUBLE) / n)""".stripMargin))
  }

  /** Expected Benford leading-digit shares log₁₀(1 + 1/d) in micros,
    * computed once in Scala — no engine libm in any expression.
    */
  def benfordExpectedMicros: Map[Int, Long] =
    (1 to 9).map(d =>
      d -> math.floor(math.log10(1.0 + 1.0 / d) * 1e6 + 0.5).toLong).toMap

  /** Benford's-law conformance of a positive numeric column — the
    * classic fabricated-data / unit-mixup screen for financial columns:
    * leading-digit counts (exact, via the integer part's first decimal
    * digit — pure string ops, no log) against the expected
    * log₁₀(1 + 1/d) shares (Scala-precomputed constants). Deviation per
    * digit in integer micros; Σ|dev|/2 is the total-variation distance.
    *
    * Output: one row per digit 1-9 — (digit, obs, n, expected_micros,
    * dev_micros).
    */
  def benfordCheck(df: DataFrame, valueCol: String): DataFrame = {
    val expectedCase = benfordExpectedMicros.toSeq.sortBy(_._1)
      .map { case (d, m) => s"WHEN digit = $d THEN ${m}L" }
      .mkString("CASE ", " ", " END")
    val counts = df
      .filter(col(valueCol) > 0)
      .withColumn("digit", expr(
        s"CAST(substr(CAST(CAST(floor($valueCol) AS BIGINT) AS STRING), 1, 1) AS BIGINT)"))
      .filter(col("digit") >= 1)
      .groupBy("digit").agg(count(lit(1)).as("obs"))
    val spine = df.sparkSession.range(1, 10).select(col("id").as("digit"))
    val total = counts.agg(sum("obs").as("n"))
    spine.join(counts, Seq("digit"), "left")
      .na.fill(0L, Seq("obs"))
      .crossJoin(broadcast(total))
      .withColumn("expected_micros", expr(expectedCase))
      .withColumn("dev_micros", expr(
        """abs(CAST(floor(CAST(obs AS DOUBLE) / CAST(n AS DOUBLE) * 1e6 + 0.5)
          |  AS BIGINT) - expected_micros)""".stripMargin))
  }
}
