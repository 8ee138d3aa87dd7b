package graft.core

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The bootstrap-read contract: path absence is the ONLY condition that
  * reads as an empty frame — every real failure (corrupted footer)
  * rethrows, because an incremental loop that silently treats a broken
  * corpus as "first run" commits artifacts with missing edges. And the
  * schema memo: one inference per file listing, a read that always equals
  * an uncached `spark.read.parquet`, and one memo entry per path.
  */
class ParquetIoSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(StructField("id", LongType)))

  test("a missing path is the bootstrap case: empty frame, given schema") {
    val out = ParquetIo.readOrEmpty(spark,
      "/tmp/graft-does-not-exist-" + System.nanoTime(), schema)
    assert(out.count() === 0L)
    assert(out.schema === schema)
  }

  test("an existing-but-corrupted file rethrows instead of reading empty") {
    val dir = tempDir("pio") + "/t"
    Seq(1L, 2L).toDF("id").coalesce(1).write.parquet(dir)
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.write(f.toPath, "junk".getBytes))
    intercept[Exception] {
      ParquetIo.readOrEmpty(spark, dir, schema).count()
    }
  }

  test("a healthy path reads normally") {
    val dir = tempDir("pio2") + "/t"
    Seq(7L).toDF("id").write.parquet(dir)
    assert(ParquetIo.readOrEmpty(spark, dir, schema)
      .collect().map(_.getLong(0)).toSeq === Seq(7L))
  }

  /** Spark jobs started by `body` on this thread. The jobs carry a job
    * group; a sentinel job run afterwards in another group marks the point
    * by which the (ordered) listener bus has delivered them. */
  private def jobsDuring(body: => Unit): Int = {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("pio-body", "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("pio-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!groups.contains("pio-sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("pio-sentinel"), "listener bus did not deliver the sentinel")
      groups.asScala.count(_ == "pio-body")
    } finally sc.removeSparkListener(listener)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a second Tables(...).orders over an unchanged listing runs no Spark job") {
    val dir = tempDir("pio-tables")
    Seq((1L, 7L, "1996-01-02"), (2L, 8L, "1997-03-04"))
      .toDF("o_orderkey", "o_custkey", "o_orderdate").write.parquet(s"$dir/orders.parquet")
    var first, second: DataFrame = null
    assert(jobsDuring { first = Tables(spark, dir).orders } >= 1) // schema inference
    assert(jobsDuring { second = Tables(spark, dir).orders } === 0)
    assert(second.schema === first.schema)
    assert(second.count() === 2L)
  }

  test("after a file with an extra column lands, the read equals an uncached read") {
    val dir = tempDir("pio-evolve") + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.parquet(dir)
    val firstFiles = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(ParquetIo.read(spark, dir).columns.toSeq === Seq("id", "v"))

    def sameAsUncached(): Unit = {
      val got = ParquetIo.read(spark, dir)
      val ref = spark.read.parquet(dir)
      assert(got.schema === ref.schema)
      assert(rows(got) === rows(ref))
    }
    Seq((3L, "c", 30)).toDF("id", "v", "extra").coalesce(1)
      .write.mode("append").parquet(dir)
    sameAsUncached()
    // with the first file gone, every uncached read infers `extra`
    firstFiles.foreach(f => Files.delete(f.toPath))
    sameAsUncached()
    assert(ParquetIo.read(spark, dir).columns.toSeq === Seq("id", "v", "extra"))
  }

  test("50 listing changes leave one memo entry for the path") {
    val dir = tempDir("pio-memo") + "/t"
    Seq(1L).toDF("id").coalesce(1).write.parquet(dir)
    val part = new java.io.File(dir).listFiles().find(_.getName.endsWith(".parquet")).get.toPath
    for (i <- 1 to 50) {
      Files.copy(part, part.resolveSibling(s"copy-$i.parquet"))
      ParquetIo.read(spark, dir)
    }
    assert(ParquetIo.read(spark, dir).count() === 51L)
    assert(SessionArtifacts.liveKeys.count(_.endsWith(s"|$dir")) === 1)
  }
}
