package graft.core

import org.apache.spark.sql.DataFrame

/** Compute-parallelism guard for under-split inputs (guide §2.6 — idle
  * capacity; §6.1 — input split size).
  *
  * Spark sizes scan splits by BYTES (`spark.sql.files.maxPartitionBytes`,
  * default 128 MB) and AQE coalesces shuffle outputs by BYTES, but several
  * corpus operators do heavy PER-ROW compute downstream of tiny frames:
  * PNG/FLAC/Y4M decode over synthesized media rows, shingling + hashing
  * over a sub-MB documents table, dot products over a sub-MB embeddings
  * table. A table that fits one 128 MB split runs that whole pre-shuffle
  * pipeline on ONE core (measured round 14: the q_imgdedup synth+decode
  * was 3.2 s on one partition with 32 cores available).
  *
  * [[boost]] round-robin repartitions a frame to the session's default
  * parallelism. It is applied ONLY at measured sites (an A/B across the
  * registry showed a blanket version loses: the extra tasks it pushes
  * through every downstream tiny stage cost more than the parallelism
  * wins on queries whose heavy work sits after the first exchange).
  *
  * Row-content neutral: round-robin repartition neither drops, dups nor
  * alters rows (sort-before-repartition keeps the assignment
  * deterministic under retries, SPARK-23207), and every registered
  * consumer is partition-order independent (aggregates, joins, exact
  * integer stats) — re-gated by the full DuckDB oracle after each use.
  */
object Par {
  /** Boost with the planned-partition guard: fires only when the frame
    * carries fewer partitions than the session parallelism (so it is a
    * no-op at production scale, where corpus scans have thousands of
    * splits). The `.rdd` guard costs one extra physical-planning pass —
    * fine at a once-per-query site, too expensive inside a hot accessor.
    */
  def boost(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Spread a COMPUTE-bound narrow frame across the session parallelism.
    *
    * AQE coalesces post-shuffle partitions by BYTES (advisory 64 MB /
    * 1 MB minimum), which under-parallelizes frames whose rows are tiny
    * but whose downstream per-row work is not: a candidate-pair set is
    * 16 bytes/row, so a 125k-candidate screen coalesces to 1-2
    * partitions and runs its array-intersect verify nearly single-core
    * (measured 2.2 s of q_setsim). The explicit round-robin exchange
    * this inserts moves only the narrow pair keys — negligible against
    * the per-row verify compute it unlocks, at any scale (the relative
    * cost shrinks as volume grows; `defaultParallelism` scales with the
    * cluster, so this is not a local[32] constant).
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
}
