package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Readers (S1/S2/S5) for the layered lake.
  *
  * The reference reads cataloged tables (Glue catalog), JDBC-extracts with an
  * incremental predicate, and dispatches parquet/CSV/JSON by extension
  * (reference/lambda/data_quality_monitor/lambda_function.py:73-90,
  * reference/lambda/snowflake_extractor/watermark_manager.py:181-209).
  * Spark-native: format dispatch on `spark.read`, and the incremental
  * predicate expressed as a filter that Catalyst pushes into the source scan
  * (PushedFilters for parquet; WHERE-clause pushdown for JDBC) — the
  * predicate reaches storage, it is never a post-scan filter.
  */
object Readers {

  /** S5: multi-format read by extension (parquet/csv/json).
    *
    * `mergeSchema = true` mirrors the reference crawlers' schema-evolution
    * policy (`MergeNewColumns` / `CombineCompatibleSchemas`,
    * reference/terraform/modules/glue/variables.tf:125-141): partitions
    * written with added columns surface the union schema instead of
    * silently dropping the new columns (parquet defaults to the first
    * footer's schema). Off by default — the merge costs a footer read per
    * file, which matters on a 100 TB table with millions of files; turn it
    * on for tables with active schema drift and report the drift via
    * [[graft.quality.DataQuality.schemaCompliance]]'s `extra` columns.
    */
  def read(spark: SparkSession, path: String,
      options: Map[String, String] = Map.empty,
      mergeSchema: Boolean = false): DataFrame = {
    val r: DataFrameReader = spark.read.options(options)
    val pq = if (mergeSchema) r.option("mergeSchema", "true") else r
    path.toLowerCase match {
      case p if p.endsWith(".parquet") => pq.parquet(path)
      case p if p.endsWith(".orc")     => (if (mergeSchema) r.option("mergeSchema", "true") else r).orc(path)
      case p if p.endsWith(".csv")     => r.option("header", "true").option("inferSchema", "true").csv(path)
      case p if p.endsWith(".json")    => r.json(path)
      case _                           => pq.parquet(path) // directories default to parquet
    }
  }

  /** Malformed-record isolation for semi-structured reads: PERMISSIVE mode
    * with an explicit `_corrupt_record` column — the reader-level
    * counterpart of the quarantine sink (S8). Returns (clean, corrupt):
    * clean rows parsed to `schema`, corrupt rows with their raw line
    * preserved for triage — nothing is silently dropped, mirroring the
    * reference's validate-then-quarantine posture instead of
    * DROPMALFORMED's silent data loss.
    */
  def jsonWithCorrupt(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val withCorrupt = StructType(schema.fields :+ StructField("_corrupt_record", StringType))
    val df = spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt).json(path)
      .cache() // the corrupt-column contract requires referencing raw rows
    val clean = df.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    val corrupt = df.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_record"))
    (clean, corrupt)
  }

  /** S2: incremental source — rows strictly beyond the watermark. The filter
    * is declarative, so it pushes down to the scan (verify in explain:
    * PushedFilters: [IsNotNull(wm), GreaterThan(wm, v)]).
    */
  def incremental(df: DataFrame, wmCol: String, lastWatermark: Option[String]): DataFrame =
    lastWatermark match {
      case Some(v) => df.filter(col(wmCol) > lit(v).cast(df.schema(wmCol).dataType))
      case None    => df
    }

  /** S2 (JDBC shape): predicate-pushdown JDBC read. Not executable in this
    * environment (no database), but the construction is the production path:
    * the WHERE clause rides inside the dbtable subquery, so the database —
    * not Spark — applies the watermark predicate and LIMIT batching.
    */
  /** The pushdown subquery (public for tests; identifiers validated — the
    * watermark VALUE is data and rides as a literal).
    */
  def incrementalSubquery(table: String, wmCol: String, lastWatermark: String,
      batchSize: Int): String = {
    val ident = "[A-Za-z0-9_.]+".r
    require(ident.matches(table) && ident.matches(wmCol),
      s"invalid identifier: $table/$wmCol")
    require(batchSize > 0, "batchSize must be positive")
    s"(SELECT * FROM $table WHERE $wmCol > '${lastWatermark.replace("'", "''")}' " +
      s"ORDER BY $wmCol LIMIT $batchSize) AS _graft_inc"
  }

  def jdbcIncremental(spark: SparkSession, url: String, table: String,
      wmCol: String, lastWatermark: String, batchSize: Int,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", incrementalSubquery(table, wmCol, lastWatermark, batchSize))
      .options(options).load()
}

/** Sinks (S3/S4/S6/S7/S8).
  *
  * Mirrors the reference's write paths: snappy parquet partitioned by
  * year/month (bronze_to_silver_orders.py:296-358), single-file JSON quality
  * reports (:360-378), audit-columned encode (snowflake_extractor
  * lambda_function.py:253-294), hive-style partition layout (:352-361), and
  * the quarantine copy (data_quality_monitor/lambda_function.py:455-496).
  */
object Sinks {

  /** S3/S7: partitioned snappy parquet — hive-style layout means partition
    * pruning is free for every downstream reader.
    */
  def parquetPartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .partitionBy(partitionCols: _*)
      .option("compression", "snappy")
      .parquet(path)

  /** Idempotent incremental write: dynamic partition overwrite replaces
    * ONLY the partitions present in `df`, leaving the rest of the table
    * untouched — re-running a day's job is safe (same output, no
    * duplicates), which is the batch-job idempotency story at 100 TB where
    * full-table overwrite is impossible. The mode is a per-write option
    * (read ahead of the session conf), so concurrent writes on the same
    * session keep their own overwrite semantics.
    */
  def parquetOverwritePartitions(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "snappy")
      .parquet(path)

  /** S4/O3: single-file JSON (reports are small; coalesce(1) is correct ONLY
    * for driver-scale outputs like quality summaries — never for data).
    */
  def jsonSingleFile(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).json(path)

  /** S6: audit columns stamped at ingest (deterministic timestamp injected,
    * not wall clock).
    */
  def withAuditColumns(df: DataFrame, sourceSystem: String,
      extractionTs: java.time.LocalDateTime): DataFrame =
    df.withColumn("extraction_timestamp",
        to_timestamp(lit(extractionTs.format(
          java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")))))
      .withColumn("source_system", lit(sourceSystem))

  /** S7: derive hive partition columns from a date column. */
  def withDatePartitions(df: DataFrame, dateCol: String): DataFrame =
    df.withColumn("year", year(col(dateCol)))
      .withColumn("month", month(col(dateCol)))
      .withColumn("day", dayofmonth(col(dateCol)))

  /** Small-file compaction: rewrite a parquet directory into files of
    * roughly `targetFileBytes` each — the standing maintenance job every
    * streaming/incremental sink needs (thousands of per-trigger files
    * otherwise turn scan planning and footer reads into the bottleneck
    * long before data volume does). File count is derived from the CURRENT
    * on-disk size, so repeated compaction converges instead of thrashing.
    * Local-filesystem directory swap; on object storage the same
    * read-repartition-write runs against a versioned table format instead.
    * Returns the new file count.
    */
  def compactParquet(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(path)
    val bytes = Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(Files.size).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val tmp = path.stripSuffix("/") + "._compact_tmp"
    spark.read.parquet(path).repartition(nFiles)
      .write.mode(SaveMode.Overwrite).option("compression", "snappy").parquet(tmp)
    // swap: remove originals, move compacted files in
    Files.walk(dir).iterator().asScala.toSeq.reverse
      .filter(_ != dir).foreach(Files.delete)
    Files.list(Paths.get(tmp)).iterator().asScala.foreach { p =>
      Files.move(p, dir.resolve(p.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
    Files.delete(Paths.get(tmp))
    nFiles
  }

  /** Retention expiry: drop hive-layout partitions whose value sorts below
    * `cutoffExclusive` — the TTL maintenance job (raw-zone retention,
    * GDPR-driven aging) that operates on partition METADATA only: no data
    * file is ever read, so expiring a year of a 100 TB table costs
    * directory listings, not a scan. Values must sort lexicographically
    * (ISO dates do). Returns the dropped partition values.
    */
  def expirePartitions(path: String, partitionCol: String,
      cutoffExclusive: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(dir)) return Seq.empty
    val prefix = s"$partitionCol="
    val doomed = java.nio.file.Files.list(dir).iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(prefix))
      .filter(_.getFileName.toString.stripPrefix(prefix) < cutoffExclusive)
      .toSeq
    doomed.foreach { p =>
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    doomed.map(_.getFileName.toString.stripPrefix(prefix)).sorted
  }

  /** S8: quarantine sink — failed rows + a machine-readable reason column,
    * written beside the clean output. One pass decides both destinations.
    */
  /** Write-audit-publish — the safe-publish pattern for batch sinks
    * (popularized by Netflix on Iceberg; plain-directory form here):
    * write the full output to a STAGING directory, run the audit against
    * what was actually written (re-read from disk — the audit sees the
    * bytes a consumer would, not the pre-write plan), and only then
    * atomically move staging over the target. A failing audit leaves the
    * CURRENT target untouched and keeps staging under `<path>._wap_failed`
    * for inspection — consumers never observe a half-written or
    * invalid table. Returns true iff published.
    *
    * Scale note: the extra cost over a direct write is one re-read of
    * the staged output (the audit's scan) — the price of auditing real
    * bytes; the move itself is a filesystem rename, not a copy. On object
    * stores without atomic rename, stage to the final location's
    * table-format branch instead (Iceberg WAP) — the API contract here
    * is the same.
    */
  def writeAuditPublish(df: DataFrame, path: String,
      audit: DataFrame => Boolean): Boolean = {
    val spark = df.sparkSession
    val staging = path.stripSuffix("/") + "._wap_staging"
    val failed = path.stripSuffix("/") + "._wap_failed"
    def rmTree(dir: String): Unit = {
      val p = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq
          .reverse.foreach(java.nio.file.Files.delete)
      }
    }
    rmTree(staging); rmTree(failed)
    df.write.mode(SaveMode.Overwrite).option("compression", "snappy").parquet(staging)
    val ok = audit(spark.read.parquet(staging))
    if (ok) {
      rmTree(path)
      java.nio.file.Files.move(java.nio.file.Paths.get(staging),
        java.nio.file.Paths.get(path))
    } else {
      java.nio.file.Files.move(java.nio.file.Paths.get(staging),
        java.nio.file.Paths.get(failed))
    }
    ok
  }

  /** S8: one-pass quality gate + dual write. Rows passing `rowPredicate`
    * land in `cleanPath`, the rest in `quarantinePath` with a
    * machine-readable reason; returns (clean, quarantined) row counts.
    * The tagged frame is cached, so the counts (one aggregate) and both
    * writes cost ONE evaluation of the upstream plan, and it is released
    * even when a write throws. The writes are [[writeSplit]]'s.
    */
  def quarantine(df: DataFrame, rowPredicate: org.apache.spark.sql.Column,
      cleanPath: String, quarantinePath: String, reason: String,
      partitionCols: Seq[String] = Seq.empty): (Long, Long) = {
    val tagged = df.withColumn(PassCol, rowPredicate).cache()
    try {
      val r = tagged.agg(count(lit(1)), sum(when(col(PassCol), 1L).otherwise(0L))).head()
      val ok = if (r.isNullAt(1)) 0L else r.getLong(1)
      val bad = r.getLong(0) - ok
      writeSplit(tagged, cleanPath, quarantinePath, reason, bad, partitionCols)
      (ok, bad)
    } finally { tagged.unpersist(); () }
  }

  /** The gate column of a frame [[writeSplit]] splits: true passes, false
    * or null is quarantined. */
  val PassCol = "_pass"

  /** The two writes of a quality gate, over a frame that carries the gate
    * as [[PassCol]] (cache it: both sides read it). With `partitionCols`
    * the clean side is written by dynamic partition overwrite
    * ([[parquetOverwritePartitions]]), so re-running an increment rewrites
    * only the partitions it touches. The quarantine side replaces the whole
    * quarantine, unless `runPartition` = (column, value) names the run:
    * then the rejects land in that one partition by dynamic overwrite, so
    * each run adds its own partition, a replay of a run replaces only that
    * partition, and a run with no `rejects` (the count of failing rows)
    * writes nothing there. `merge` turns the clean rows into what the clean
    * side writes, say the rows already in the partitions they touch,
    * updated by them.
    */
  def writeSplit(tagged: DataFrame, cleanPath: String, quarantinePath: String,
      reason: String, rejects: Long, partitionCols: Seq[String] = Seq.empty,
      runPartition: Option[(String, String)] = None,
      merge: DataFrame => DataFrame = identity): Unit = {
    val clean = merge(tagged.filter(col(PassCol)).drop(PassCol))
    val bad = tagged.filter(!col(PassCol) || col(PassCol).isNull).drop(PassCol)
      .withColumn("quarantine_reason", lit(reason))
    if (partitionCols.isEmpty)
      clean.write.mode(SaveMode.Overwrite).option("compression", "snappy").parquet(cleanPath)
    else parquetOverwritePartitions(clean, cleanPath, partitionCols)
    runPartition match {
      case None =>
        bad.write.mode(SaveMode.Overwrite).option("compression", "snappy").parquet(quarantinePath)
      case Some((c, v)) if rejects != 0 =>
        parquetOverwritePartitions(bad.withColumn(c, lit(v)), quarantinePath, Seq(c))
      case _ => ()
    }
  }
}

/** I3: processed-file ledger — the Spark-native equivalent of Glue job
  * bookmarks for file sources. Tracks which input files a job has consumed;
  * `newFiles` diffs the current listing against the ledger.
  * (Structured Streaming's file-source checkpoint is the managed variant;
  * this ledger is the explicit one for batch jobs.)
  */
final class FileLedger(ledgerPath: String) {
  private val p = java.nio.file.Paths.get(ledgerPath)

  def processed(): Set[String] =
    if (java.nio.file.Files.exists(p))
      scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(p)).asScala.toSet
    else Set.empty

  def newFiles(listing: Seq[String]): Seq[String] = {
    val seen = processed()
    listing.filterNot(seen)
  }

  def commit(files: Seq[String]): Unit = {
    val all = (processed() ++ files).toSeq.sorted
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      scala.jdk.CollectionConverters.SeqHasAsJava(all).asJava)
  }
}

/** I4: event-driven trigger routing — map an arriving object key to the
  * (layer, source, action) that should run, skipping non-data markers.
  * Mirrors crawler_trigger.py:157-246's key parsing + exclusion rules.
  */
object TriggerRouter {
  final case class Route(layer: String, source: String, action: String)

  private val Excluded = Seq("_SUCCESS", "_temporary", ".crc", "_metadata")

  def route(objectKey: String): Option[Route] = {
    if (Excluded.exists(objectKey.contains)) None
    else objectKey.split("/").toList match {
      case "bronze" :: source :: _ => Some(Route("bronze", source, "run_silver_job"))
      case "silver" :: source :: _ => Some(Route("silver", source, "run_gold_job"))
      case "gold" :: source :: _   => Some(Route("gold", source, "refresh_marts"))
      case _                       => None
    }
  }
}
