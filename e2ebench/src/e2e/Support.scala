package e2e

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, MapType}

/** Timings, operation counts and output-check verdicts of one invocation. */
final class Ledger(spans: Spans) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  /** Epoch millis when the first timed operation started. */
  var firstTimedMs = 0L
  /** Process CPU seconds spent inside timed operations. */
  var timedCpuS = 0.0

  /** Time one operation under `kind`. A throwing operation counts as
    * failed and is left out of the timings. */
  def timed[A](kind: String, span: String)(body: => A): Option[A] = {
    attempted += 1
    if (firstTimedMs == 0L) firstTimedMs = System.currentTimeMillis()
    val cpu0 = Host.processCpuS()
    val t0 = System.nanoTime()
    try {
      val r = spans(span)(body)
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case e: Throwable =>
        failed += 1
        failures += s"$span: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    } finally timedCpuS += Host.processCpuS() - cpu0
  }

  /** Run an untimed operation (set-up, warm-up); a throw counts as failed. */
  def untimed[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    }
  }

  /** One output check; a false or throwing check counts as failed. */
  def check(what: String)(ok: => Boolean): Unit =
    untimed(what)(ok) match {
      case Some(false) => failed += 1; failures += s"check failed: $what"
      case _ =>
    }

  def values(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (percent, value); None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val k = s.size - 11
      Some(((100.0 * (k + 1) / s.size).floor.toInt, s(k)))
    }
}

/** An order-independent digest of a frame: row count plus the sum of a
  * 64-bit hash of every row. Doubles are hashed at float precision so a
  * re-associated floating-point sum does not change the digest. */
object Digest {
  def of(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => col(f.name).cast("float")
        case _: MapType             => to_json(col(f.name))
        case _                      => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }
}

/** Recorded expected outputs: `key<TAB>value` lines. When recording, the
  * first value observed for a key becomes the expected one, and later
  * observations are checked against it. */
final class Expected(path: String, record: Option[String]) {
  private val known: Map[String, String] =
    if (!new File(path).exists()) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.iterator
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t", 2)).collect { case Array(k, v) => k -> v }.toMap
  private val recorded = mutable.LinkedHashMap.empty[String, String]

  def recording: Boolean = record.isDefined

  /** True when `value` matches the expected one for `key`. */
  def matches(key: String, value: String): Boolean = {
    if (recording && !recorded.contains(key)) recorded(key) = value
    (if (recording) recorded.get(key) else known.get(key)).contains(value)
  }

  def save(): Unit = record.foreach { out =>
    val lines = recorded.map { case (k, v) => s"$k\t$v" }
    Files.write(Paths.get(out), lines.asJava)
  }
}

object Fs {
  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally w.close()
    }
  }

  /** Data files under `path`: everything except checksums and markers. */
  def dataFiles(path: String): Seq[Path] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Nil
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).filter { f =>
        val n = f.getFileName.toString
        !n.endsWith(".crc") && !n.startsWith("_")
      }.toList
      finally w.close()
    }
  }

  def bytes(path: String): Long = dataFiles(path).map(Files.size).sum

  /** Copy the parquet part files of a written directory into `dest`,
    * prefixing their names so several slices can share one directory. */
  def copyParts(src: String, dest: String, prefix: String): Unit = {
    Files.createDirectories(Paths.get(dest))
    dataFiles(src).filter(_.getFileName.toString.endsWith(".parquet")).foreach { f =>
      Files.copy(f, Paths.get(dest, s"$prefix-${f.getFileName}"),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
