package graft.core

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session artifacts: the standing state the registry builds once per
  * session and reuses across queries (pair graphs, suffix ladders, index
  * codebooks, learned merge tables, Bloom filter bytes). This one object
  * decides how an artifact is built once, found again and deleted:
  *
  *  - [[value]] memoizes a driver-side value per key (collected rows,
  *    filter bytes, max-rank maps, store handles), and [[stamped]] one
  *    that is rebuilt when its stamp changes (a parquet path's schema,
  *    stamped with the path's file listing);
  *  - [[dir]] memoizes a temp dir written once per key, and [[parquet]] is
  *    its DataFrame form. Parquet, not `.cache()`, survives
  *    `spark.catalog.clearCache()`, which Bench/Verify call between queries
  *    to keep per-query timings honest, while the build is still billed
  *    once, inside its first consumer's timing;
  *  - [[scratchDir]] hands out a fresh dir on every call;
  *  - [[close]] deletes every dir handed out and forgets every value, and a
  *    JVM shutdown hook, installed with the first dir, does the same.
  *
  * Builds must be DETERMINISTIC: reading an artifact must be
  * indistinguishable from recomputing it. Builds may nest (the suffix-LCP
  * table asks for the suffix ladder inside its own build): the map only
  * ever stores a per-key once-cell, and every build runs in its cell,
  * outside the map's lock. Keys share one namespace; they are (artifact
  * family × data dir), a few dozen per session, and [[close]] is the
  * eviction for a long-lived session that cycles through many data dirs.
  */
object SessionArtifacts {

  /** Runs `build` at most once however many threads ask; a build that
    * throws leaves the cell unset. */
  private final class Once(val stamp: Any, build: () => Any) {
    lazy val get: Any = build()
  }

  private val cells = new ConcurrentHashMap[String, Once]()
  private val dirs = ConcurrentHashMap.newKeySet[Path]()

  // registered lazily so a process that never asks for a dir pays nothing
  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => close()))

  /** The value built for `key`, running `build` on the first request only.
    * A build that throws is forgotten, so the next request retries it. */
  def value[A](key: String)(build: => A): A = stamped(key, ())(build)

  /** Like [[value]], but a request whose `stamp` differs from the stored
    * one rebuilds and REPLACES the entry, so a key holds one value however
    * often its stamp changes. Stamps compare by `==`. */
  def stamped[A](key: String, stamp: Any)(build: => A): A = {
    val cell = cells.compute(key, (_, old) =>
      if (old != null && old.stamp == stamp) old else new Once(stamp, () => build))
    try cell.get.asInstanceOf[A]
    catch { case e: Throwable => cells.remove(key, cell); throw e }
  }

  /** A driver-sized DataFrame collected once per key and replayed as a
    * local relation (which Spark broadcasts into joins for free). */
  def rows(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val (rs, schema) = value(key) { val df = build; (df.collect().toSeq, df.schema) }
    spark.createDataFrame(rs.asJava, schema)
  }

  /** A temp dir that `write` fills once per key; a write that throws leaves
    * no dir behind. */
  def dir(key: String)(write: String => Unit): String = value(key) {
    val d = scratchDir()
    try { write(d); d }
    catch { case e: Throwable => delete(Path.of(d)); throw e }
  }

  /** `build` written to parquet once per key, read back on every request. */
  def parquet(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    ParquetIo.read(spark, dir(key)(build.write.mode("overwrite").parquet(_)))

  /** A fresh empty temp dir, deleted by [[close]] or at JVM exit. */
  def scratchDir(): String = {
    hookInstalled
    val d = Files.createTempDirectory("graft-session-")
    dirs.add(d)
    d.toString
  }

  /** Forget every value and delete every dir handed out. Safe to call
    * repeatedly; after it the next request for a key rebuilds. DataFrames
    * handed out BEFORE close must not be evaluated after it (they read
    * the deleted files lazily), so call it at session end.
    */
  def close(): Unit = {
    cells.clear()
    dirs.asScala.toSeq.foreach(delete)
  }

  private def delete(d: Path): Unit = {
    dirs.remove(d)
    try {
      if (Files.exists(d))
        Files.walk(d).iterator().asScala.toSeq
          .sortBy(-_.getNameCount) // children before parents
          .foreach(Files.deleteIfExists(_))
    } catch { case _: java.io.IOException => () } // best-effort cleanup
  }

  /** Keys currently held (test visibility). */
  private[graft] def liveKeys: Seq[String] = cells.keySet.asScala.toSeq

  /** Dirs currently handed out (test visibility). */
  private[graft] def liveDirs: Seq[String] = dirs.asScala.toSeq.map(_.toString)
}
