package graft.incremental

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Incremental watermark processing (I1/I2).
  *
  * The reference keeps a per-(table, column) high-water mark in DynamoDB
  * (reference/lambda/snowflake_extractor/watermark_manager.py:33-115) and
  * extracts in batches with `WHERE wm > last ORDER BY wm LIMIT n`
  * (watermark_manager.py:181-259). Here:
  *
  *  - [[WatermarkStore]] persists marks as tiny files in a state directory —
  *    state is metadata (one value per table), never data, so driver-side
  *    file I/O is correct at any scale. The same directory holds job
  *    stamps: what a job last read and wrote, so a rerun over unchanged
  *    inputs can skip it. Every file is replaced by an atomic rename.
  *  - [[Incremental.batchBoundaries]] replaces LIMIT-pagination with range
  *    predicates on the watermark column: each batch is
  *    `wm > lo AND wm <= hi`, which pushes into the parquet scan
  *    (PushedFilters) instead of forcing a global sort per batch. The union
  *    of batches is exactly the full table (half-open ranges can't overlap
  *    or drop rows), which is the I2 correctness invariant.
  */
final class WatermarkStore(stateDir: String) {
  Files.createDirectories(Paths.get(stateDir))

  private val Key = "[A-Za-z0-9_]+".r

  private def path(parts: Seq[String], suffix: String): Path = {
    require(parts.forall(Key.matches), s"invalid state key: ${parts.mkString("/")}")
    Paths.get(stateDir, parts.mkString("", ".", suffix))
  }

  private def read(p: Path): Option[String] =
    if (Files.exists(p)) Some(Files.readString(p)) else None

  /** Replace `p` whole: a reader sees the old value or the new one. */
  private def write(p: Path, value: String): Unit = {
    val tmp = Files.createTempFile(p.getParent, s".${p.getFileName}", ".tmp")
    try {
      Files.writeString(tmp, value)
      Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    } finally { Files.deleteIfExists(tmp); () }
  }

  def get(table: String, column: String): Option[String] =
    read(path(Seq(table, column), ".wm")).map(_.trim)

  /** Commit a new high-water mark (last step of a successful batch). */
  def put(table: String, column: String, value: String): Unit =
    write(path(Seq(table, column), ".wm"), value)

  /** The stamp `job` last committed: named entries, one `name<TAB>value`
    * line each in `<job>.stamp`. Names and values hold no tab or newline. */
  def stamp(job: String): Option[Map[String, String]] =
    read(path(Seq(job), ".stamp")).map(_.linesIterator.filter(_.nonEmpty).map { l =>
      val i = l.indexOf('\t')
      l.take(i) -> l.drop(i + 1)
    }.toMap)

  def putStamp(job: String, entries: Map[String, String]): Unit = {
    require(entries.forall { case (k, v) => !(k + v).exists(c => c == '\t' || c == '\n') },
      s"stamp entries of $job hold a tab or newline")
    write(path(Seq(job), ".stamp"),
      entries.toSeq.sorted.map { case (k, v) => s"$k\t$v\n" }.mkString)
  }
}

object Incremental {

  /** Watermark column as a DOUBLE position on the batch axis. Numerics
    * cast directly; timestamp flavors hop through TIMESTAMP first because
    * TIMESTAMP_NTZ (what Spark 4 infers for un-annotated parquet
    * timestamps) has no direct DOUBLE cast — the hop interprets NTZ in
    * the session zone (pinned UTC here), i.e. epoch seconds.
    */
  private def ordCol(df: DataFrame, wmCol: String): org.apache.spark.sql.Column =
    df.schema(wmCol).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.DateType =>
        col(wmCol).cast("timestamp").cast("double")
      case _ => col(wmCol).cast("double")
    }

  /** Deterministic batch boundaries: exact percentiles of the watermark
    * column. One aggregate job over the (pruned, single-column) scan.
    */
  def batchBoundaries(df: DataFrame, wmCol: String, batches: Int): Seq[Double] = {
    require(batches > 0)
    val ps = (1 until batches).map(_.toDouble / batches)
    if (ps.isEmpty) Seq.empty
    else {
      val row: Row = df
        .agg(expr(s"percentile($wmCol, array(${ps.mkString(",")}))").as("bounds"))
        .head()
      row.getSeq[Double](0)
    }
  }

  /** Half-open `(lo, hi]` range predicates from percentile bounds; first
    * batch open below, last open above, so the batches partition `df`
    * exactly.
    */
  private def batchesFromBounds(df: DataFrame, wmCol: String,
      bounds: Seq[Double]): Seq[DataFrame] = {
    val c = ordCol(df, wmCol)
    val cuts = Double.NegativeInfinity +: bounds :+ Double.PositiveInfinity
    cuts.sliding(2).map { case Seq(lo, hi) =>
      val loPred = if (lo.isNegInfinity) lit(true) else c > lo
      val hiPred = if (hi.isPosInfinity) lit(true) else c <= hi
      df.filter(loPred && hiPred)
    }.toSeq
  }

  /** Split a frame into range batches on a numeric/timestamp watermark column
    * (cast to double for boundary comparison). Batches are half-open
    * `(lo, hi]` with the first open below and last open above, so
    * `batches.reduce(_ union _) ≡ df` exactly.
    */
  def rangeBatches(df: DataFrame, wmCol: String, batches: Int): Seq[DataFrame] = {
    val bounds = batchBoundaries(df.select(ordCol(df, wmCol).as(wmCol)), wmCol, batches)
    batchesFromBounds(df, wmCol, bounds)
  }

  /** I1+I2 driver: process each batch in watermark order, committing the
    * batch's max watermark to the store per batch. Returns the union of
    * per-batch results of `process`.
    *
    * Commit semantics: the watermark commits happen at PLANNING time — all
    * batch high-water marks are computed and stored before the returned
    * lazy union is ever materialized. If the caller's downstream action
    * fails, the store has already advanced past unprocessed data
    * (at-most-once). Callers needing the reference's at-least-once
    * semantics use [[runBatchedAtLeastOnce]], which materializes each
    * batch through a write callback BEFORE committing that batch's mark.
    *
    * Cost discipline: exactly TWO Spark jobs regardless of batch count —
    * one for the percentile boundaries, one grouped aggregate for every
    * batch's high-water mark. (A per-batch `max` action would scan the
    * source once per batch and then again when the returned union runs —
    * at 100 TB that's `batches + 1` full passes instead of 2.) The returned
    * union stays lazy; its single action is the only evaluation of
    * `process` lineage.
    */
  def runBatched(df: DataFrame, table: String, wmCol: String, batches: Int,
      store: WatermarkStore)(process: DataFrame => DataFrame): DataFrame = {
    val (parts, maxes) = planBatches(df, wmCol, batches)
    // commit in batch order: last committed mark == global max, and an
    // empty batch commits nothing — same sequence a per-batch loop produced
    maxes.foreach { case (_, m) => store.put(table, wmCol, m) }
    parts.map(process).reduce(_ unionByName _)
  }

  /** At-least-once variant — the reference's commit-after-write semantics
    * (the extractor uploads to the sink FIRST and only then advances the
    * DynamoDB mark — reference/lambda/snowflake_extractor/
    * lambda_function.py:367-371). Each batch is materialized through the
    * caller's `write` action and its high-water mark committed only after
    * `write` returns; a batch that throws stops the run with the store
    * still at the LAST SUCCESSFUL batch's mark, so the rerun re-reads the
    * failed batch and everything after it — rows can be reprocessed, never
    * silently skipped (the inverse trade-off of [[runBatched]]'s
    * plan-time commit, which is documented at-most-once).
    *
    * Cost: the same two planning jobs as [[runBatched]] (percentile
    * boundaries + one grouped aggregate for every batch's mark) plus the
    * caller's one write action per batch — which an at-least-once caller
    * must pay anyway; only the commit ORDER differs. Returns the number of
    * batches committed.
    */
  def runBatchedAtLeastOnce(df: DataFrame, table: String, wmCol: String,
      batches: Int, store: WatermarkStore)(write: DataFrame => Unit): Int = {
    val (parts, maxes) = planBatches(df, wmCol, batches)
    val markByBatch = maxes.toMap
    parts.zipWithIndex.foreach { case (part, i) =>
      write(part)
      markByBatch.get(i).foreach(m => store.put(table, wmCol, m))
    }
    parts.size
  }

  /** Shared planning: the range-predicate batches plus each batch's
    * high-water mark, computed in exactly two Spark jobs regardless of
    * batch count (one percentile aggregate, one grouped max — a per-batch
    * `max` action would instead scan the source once per batch).
    */
  private def planBatches(df: DataFrame, wmCol: String,
      batches: Int): (Seq[DataFrame], Seq[(Int, String)]) = {
    val bounds = batchBoundaries(df.select(ordCol(df, wmCol).as(wmCol)), wmCol, batches)
    val parts = batchesFromBounds(df, wmCol, bounds)
    // batch id = number of bounds strictly below the value — identical
    // assignment to the range predicates above.
    val c = ordCol(df, wmCol)
    val bid = bounds.foldLeft(lit(0)) { (acc, b) => acc + when(c > b, 1).otherwise(0) }
    val maxes = df
      .groupBy(bid.as("_bid"))
      .agg(max(col(wmCol)).cast("string").as("_max_wm"))
      .collect()
      .flatMap(r => Option(r.getString(1)).map(m => r.getInt(0) -> m))
      .sortBy(_._1)
      .toSeq
    (parts, maxes)
  }
}
