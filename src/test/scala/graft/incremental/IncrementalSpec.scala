package graft.incremental

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  test("watermark store persists and updates marks") {
    val dir = tempDir("wmspec")
    val store = new WatermarkStore(dir)
    assert(store.get("t", "c").isEmpty)
    store.put("t", "c", "2024-01-01")
    assert(store.get("t", "c").contains("2024-01-01"))
    store.put("t", "c", "2024-02-01")
    assert(store.get("t", "c").contains("2024-02-01"))
    intercept[IllegalArgumentException](store.put("../evil", "c", "x"))
  }

  test("union of range batches equals full scan exactly") {
    val rnd = new scala.util.Random(11)
    val df = Seq.fill(1000)(rnd.nextDouble() * 1e6).toDF("wm")
    val batches = Incremental.rangeBatches(df, "wm", 5)
    assert(batches.size === 5)
    assert(batches.map(_.count()).sum === 1000L)
    // Exact decimal sums: double summation order differs between the
    // unioned batches and the full scan, so compare exact arithmetic.
    val dec = col("wm").cast("decimal(28,10)")
    val unioned = batches.reduce(_ unionByName _).agg(sum(dec)).head.getDecimal(0)
    val full = df.agg(sum(dec)).head.getDecimal(0)
    assert(unioned === full)
  }

  test("range batches work on a TIMESTAMP_NTZ watermark column (what " +
      "Spark 4 infers for un-annotated parquet timestamps)") {
    val df = (1 to 100).map(i => f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00")
      .toDF("raw")
      .select(expr("to_timestamp_ntz(raw)").as("wm"))
    assert(df.schema("wm").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    val batches = Incremental.rangeBatches(df, "wm", 4)
    assert(batches.map(_.count()).sum === 100L)
    assert(batches.forall(_.count() > 0))
    val dir = tempDir("wmspec-ntz")
    val store = new WatermarkStore(dir)
    val out = Incremental.runBatched(df, "t", "wm", 4, store)(b =>
      b.agg(count(lit(1)).as("n")))
    assert(out.agg(sum("n")).head.getLong(0) === 100L)
    // committed mark is the global max, serialized from the NTZ value
    assert(store.get("t", "wm").exists(_.startsWith("2024-01-01 01:40")))
  }

  test("runBatched processes every row once and commits the final mark") {
    val dir = tempDir("wmspec2")
    val store = new WatermarkStore(dir)
    val df = (1 to 100).map(_.toDouble).toDF("wm")
    val out = Incremental.runBatched(df, "t", "wm", 4, store)(b =>
      b.agg(count(lit(1)).as("n")))
    assert(out.agg(sum("n")).head.getLong(0) === 100L)
    assert(store.get("t", "wm").map(_.toDouble).contains(100.0))
  }

  test("runBatchedAtLeastOnce commits AFTER each write; a failed batch " +
      "leaves the store at the last successful batch's mark") {
    val dir = tempDir("wmspec4")
    val store = new WatermarkStore(dir)
    val df = (1 to 100).map(_.toDouble).toDF("wm")
    // Batch 3 (of 4) fails mid-write: its rows were partially "uploaded"
    // but its mark must NOT be committed — the reference's at-least-once
    // contract (commit after upload succeeds, so a rerun re-reads the
    // failed batch instead of skipping it).
    val written = scala.collection.mutable.ArrayBuffer.empty[Long]
    val boom = intercept[RuntimeException] {
      Incremental.runBatchedAtLeastOnce(df, "t", "wm", 4, store) { b =>
        if (written.size == 2) throw new RuntimeException("sink down")
        written += b.count()
      }
    }
    assert(boom.getMessage === "sink down")
    // two successful batches of 25 rows each...
    assert(written.toSeq === Seq(25L, 25L))
    // ...and the store sits at batch 2's max (50.0), not the global max:
    // the failed batch and everything after it will be re-read on rerun.
    assert(store.get("t", "wm").map(_.toDouble).contains(50.0))

    // rerun with a healthy sink from the committed mark: only rows past
    // the mark flow, nothing was lost.
    val remaining = df.filter(col("wm") > store.get("t", "wm").get.toDouble)
    val n = Incremental.runBatchedAtLeastOnce(remaining, "t", "wm", 2, store) {
      b => written += b.count()
    }
    assert(n === 2 && written.drop(2).sum === 50L)
    assert(store.get("t", "wm").map(_.toDouble).contains(100.0))
  }

  test("runBatched setup job count is independent of the batch count") {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    def setupJobs(batches: Int): Int = {
      val dir = tempDir(s"wmspec3-$batches")
      val store = new WatermarkStore(dir)
      val df = (1 to 1000).map(_.toDouble).toDF("wm")
      spark.sparkContext.addSparkListener(listener)
      try {
        counter.set(0)
        val out = Incremental.runBatched(df, "t", "wm", batches, store)(b =>
          b.agg(count(lit(1)).as("n")))
        // listener events post asynchronously — settle before reading
        Thread.sleep(500)
        val jobs = counter.get()
        assert(out.agg(sum("n")).head.getLong(0) === 1000L)
        assert(store.get("t", "wm").map(_.toDouble).contains(1000.0))
        jobs
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    // boundaries + ONE grouped high-water-mark pass: a per-batch max action
    // would make the 12-batch setup run 10 more jobs than the 2-batch one
    val j2 = setupJobs(2)
    val j12 = setupJobs(12)
    assert(j12 === j2, s"setup jobs must not scale with batches (2->$j2, 12->$j12)")
  }
}
