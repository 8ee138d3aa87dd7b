package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM-wide session — Spark's
  * getOrCreate makes this cheap across suites), plus temp dirs that the
  * suite deletes when it ends.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh empty dir under `java.io.tmpdir`, deleted in [[afterAll]]. */
  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d.toString
  }

  // the session is shared and the JVM's exit cleans it up
  override def afterAll(): Unit =
    try tempDirs.asScala.foreach(SparkSpec.deleteTree)
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the warehouse dir lives as long as the JVM, so the JVM's exit deletes it
    val warehouse = Files.createTempDirectory("graft-wh")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(warehouse)))
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Best-effort recursive delete, children before parents. */
  private def deleteTree(d: Path): Unit =
    try {
      if (Files.exists(d))
        Files.walk(d).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(Files.deleteIfExists(_))
    } catch { case _: java.io.IOException => () }
}
