package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Thin catalog over a scale-factor directory of parquet tables.
  *
  * The reference reads "cataloged" tables through Glue's catalog
  * (bronze_to_silver_orders.py:63-80, silver_to_gold_sales_summary.py:67-103);
  * here the catalog IS the directory layout — parquet is self-describing, so
  * the schema comes from the files (SURVEY.md §1.3). Accessors read through
  * [[ParquetIo.read]]: the schema is inferred once per file listing of a
  * table, so the many accessor calls a session makes cost a file listing
  * each, not a footer-reading Spark job.
  * Filters/projections applied downstream are pushed into these scans by
  * Catalyst (PushedFilters / ReadSchema), which is what makes the layer
  * viable at 100 TB: the scan only materializes the columns and row groups a
  * query needs.
  *
  * Plain final class (not a case class): holds a SparkSession, so structural
  * equality and accidental executor-side capture are both meaningless/hazards.
  */
final class Tables(val spark: SparkSession, val dir: String) {
  private val ValidName = "[A-Za-z0-9_]+".r

  /** Where table `name` lives under [[dir]]. */
  def path(name: String): String = {
    require(ValidName.matches(name), s"invalid table name: $name")
    s"$dir/$name.parquet"
  }

  def apply(name: String): DataFrame = ParquetIo.read(spark, path(name))

  def lineitem: DataFrame   = apply("lineitem")
  def orders: DataFrame     = apply("orders")
  def customer: DataFrame   = apply("customer")
  def supplier: DataFrame   = apply("supplier")
  def part: DataFrame       = apply("part")
  def nation: DataFrame     = apply("nation")
  def region: DataFrame     = apply("region")
  /** events.parquet stores `ts` as TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects; with spark.sql.legacy.parquet.nanosAsLong=true it reads
    * as LongType nanos. Convert with integer division (`div`, exact on longs)
    * to microseconds — the same floor-truncation DuckDB applies when it reads
    * nanos into its micro-precision TIMESTAMP, so both engines see identical
    * values.
    */
  def events: DataFrame = {
    val df = apply("events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => df
    }
  }
  // documents/embeddings are NOT blanket-boosted: a registry-wide A/B
  // (round 14) showed the repartition's extra tasks through every
  // downstream tiny stage cost more than the parallelism wins on most
  // text queries; Par.boost is applied instead at the measured
  // compute-dense sites (media synthesis/decode, FLAC clips read).
  def documents: DataFrame  = apply("documents")
  def embeddings: DataFrame = apply("embeddings")
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)
}

/** Engine-wide determinism knobs (SURVEY.md §7.4 risk 1).
  *
  * The reference leans on wall-clock (`current_date`, driver-side
  * `datetime.now()` — bronze_to_silver_orders.py:52-53,143) and unseeded
  * `rand()` (silver_to_gold_ml_features.py:484-489). Every graft operator
  * that needs "now" or randomness takes it from here instead, so results are
  * reproducible and oracle-checkable.
  */
final case class GraftConf(
    asOfDate: java.time.LocalDate = java.time.LocalDate.parse("2002-01-01"),
    seed: Long = 42L
) {
  /** The as-of instant (midnight UTC of asOfDate) for freshness checks. */
  def asOfTimestamp: java.time.LocalDateTime = asOfDate.atStartOfDay()
}

object GraftConf {
  val default: GraftConf = GraftConf()
}

/** SparkSession factory with the engine's scale-oriented defaults.
  *
  * AQE handles runtime re-planning (skew joins, partition coalescing); the
  * shuffle-partition default matches local[32] testing but is sized by the
  * cluster at deploy time. Broadcast threshold stays at Spark's default so
  * dimension tables (region/nation/customer at test SF) broadcast-join.
  */
object GraftSession {
  def configure(b: SparkSession.Builder, cores: Int = 32): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def local(cores: Int = 32): SparkSession = {
    val s = configure(SparkSession.builder().master(s"local[$cores]"), cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
