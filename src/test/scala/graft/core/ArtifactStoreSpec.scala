package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The commit-after-write artifact store: marker-last versioning, torn
  * writes invisible to readers, time travel, and the full persisted
  * append loop (PairGraph.appendBatchCommitted) surviving a simulated
  * mid-commit crash.
  */
class ArtifactStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot() =
    tempDir("graft-artifacts")

  test("commit writes the marker LAST; torn versions are invisible") {
    val root = tmpRoot()
    assert(ArtifactStore.latestVersion(spark, root).isEmpty)
    val t1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val v1 = ArtifactStore.commit(spark, root, Map("t" -> t1))
    assert(v1 === 1L)
    assert(ArtifactStore.read(spark, root, "t").get.count() === 2L)

    // simulate a writer that died after writing data but BEFORE the
    // marker: a v2 directory with a table and no _COMMIT
    Seq((9L, "x")).toDF("id", "v").write.parquet(s"$root/v2/t")
    assert(ArtifactStore.latestVersion(spark, root) === Some(1L),
      "a torn version must not become visible")
    assert(ArtifactStore.read(spark, root, "t").get.count() === 2L)

    // a re-run of the append overwrites the torn dir and commits: v2 live
    val v2 = ArtifactStore.commit(spark, root,
      Map("t" -> Seq((9L, "x"), (10L, "y"), (11L, "z")).toDF("id", "v")))
    assert(v2 === 2L)
    assert(ArtifactStore.read(spark, root, "t").get.count() === 3L)
    // time travel: v1 still readable as committed history
    assert(ArtifactStore.readAt(spark, root, "t", 1L).get.count() === 2L)
    assert(ArtifactStore.readAt(spark, root, "t", 99L).isEmpty)
  }

  test("commit metadata rides the marker atomically; torn dirs are " +
      "cleared so stale tables never become readable") {
    val root = tmpRoot()
    val v1 = ArtifactStore.commit(spark, root,
      Map("t" -> Seq((1L, "a")).toDF("id", "v")),
      meta = Map("batch_wm" -> "42", "note" -> "night one"))
    assert(ArtifactStore.readMeta(spark, root, v1) ===
      Some(Map("batch_wm" -> "42", "note" -> "night one")))
    // no meta -> empty map; uncommitted version -> None
    val v2 = ArtifactStore.commit(spark, root,
      Map("t" -> Seq((2L, "b")).toDF("id", "v")))
    assert(ArtifactStore.readMeta(spark, root, v2) === Some(Map.empty))
    assert(ArtifactStore.readMeta(spark, root, 99L).isEmpty)

    // a writer died mid-commit after writing a table the NEXT commit
    // does not write: the stale table must not survive into v3
    Seq((9L, "ghost")).toDF("id", "v").write.parquet(s"$root/v3/stale")
    val v3 = ArtifactStore.commit(spark, root,
      Map("t" -> Seq((3L, "c")).toDF("id", "v")))
    assert(v3 === 3L)
    assert(ArtifactStore.read(spark, root, "t").get.count() === 1L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/v3/stale")),
      "a committed version must contain ONLY its own tables")
    // newline/tab-bearing metadata is rejected up front
    intercept[IllegalArgumentException] {
      ArtifactStore.commit(spark, root,
        Map("t" -> Seq((4L, "d")).toDF("id", "v")),
        meta = Map("k" -> "bad\nvalue"))
    }
  }

  test("appendBatchCommitted with a batchMark: a covered replay skips " +
      "instead of committing the same edges twice") {
    val root = tmpRoot()
    val tA = "alpha one two three four five six seven eight nine"
    val corpus = Seq((1L, tA), (2L, tA)).toDF("doc_id", "text")
    val batch = Seq((20L, tA)).toDF("doc_id", "text")
    val v = graft.dedup.PairGraph.appendBatchCommitted(
      spark, root, corpus, batch, "doc_id", batchMark = Some(20L))
    assert(v === 2L)
    assert(graft.dedup.PairGraph.latestBatchMark(spark, root) === Some(20L))
    val pairsBefore = ArtifactStore.read(spark, root, "pairs").get
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    // the crash-replay window: the caller's own watermark never advanced,
    // so the same batch comes back — covered mark, no new version
    val v2 = graft.dedup.PairGraph.appendBatchCommitted(
      spark, root, corpus, batch, "doc_id", batchMark = Some(20L))
    assert(v2 === 2L, "a covered batch must not commit a new version")
    assert(ArtifactStore.latestVersion(spark, root) === Some(2L))
    assert(ArtifactStore.read(spark, root, "pairs").get
      .collect().map(_.toSeq).toSeq.sortBy(_.toString) === pairsBefore)
    // a genuinely newer batch still appends
    val batch2 = Seq((30L, tA)).toDF("doc_id", "text")
    val v3 = graft.dedup.PairGraph.appendBatchCommitted(
      spark, root, corpus.unionByName(batch), batch2, "doc_id",
      batchMark = Some(30L))
    assert(v3 === 3L)
    assert(graft.dedup.PairGraph.latestBatchMark(spark, root) === Some(30L))
  }

  test("prune keeps the newest committed versions, spares in-flight dirs") {
    val root = tmpRoot()
    (1 to 4).foreach { i =>
      ArtifactStore.commit(spark, root,
        Map("t" -> Seq((i.toLong, "x")).toDF("id", "v")))
    }
    // a torn dir NEWER than every committed version: an in-flight writer
    Seq((99L, "w")).toDF("id", "v").write.parquet(s"$root/v5/t")
    assert(ArtifactStore.prune(spark, root, keepLast = 2) === Seq(1L, 2L))
    assert(ArtifactStore.latestVersion(spark, root) === Some(4L))
    assert(ArtifactStore.readAt(spark, root, "t", 3L).isDefined)
    assert(ArtifactStore.readAt(spark, root, "t", 1L).isEmpty)
    // the torn v5 survived; committing now lands as v5 -> marker appears
    val v = ArtifactStore.commit(spark, root,
      Map("t" -> Seq((5L, "y")).toDF("id", "v")))
    assert(v === 5L && ArtifactStore.latestVersion(spark, root) === Some(5L))
  }

  test("appendBatchCommitted: bootstrap v1, append v2, crash-safe recovery") {
    val root = tmpRoot()
    val tA = "alpha one two three four five six seven eight nine"
    val tB = "bravo uno dos tres cuatro cinco seis siete ocho nueve"
    val corpus = Seq((1L, tA), (2L, tA), (11L, tB)).toDF("doc_id", "text")
    val batch = Seq((20L, tB)).toDF("doc_id", "text")

    val v = graft.dedup.PairGraph.appendBatchCommitted(
      spark, root, corpus, batch, "doc_id")
    assert(v === 2L, "bootstrap commits v1, the append commits v2")
    val clusters = ArtifactStore.read(spark, root, "clusters").get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch doc 20 joined 11's family; 1-2 untouched
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 11L -> 11L, 20L -> 11L))
    // equals the full rebuild over the union
    val rebuilt = graft.dedup.Dedup.dedupClusters(
      graft.dedup.Dedup.jaccardPairsScalable(
        corpus.unionByName(batch), "doc_id",
        n = 3, minJaccard = 0.5, numHashTables = 8))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === rebuilt)

    // v1 (pre-batch) remains auditable: no doc 20 anywhere
    val v1c = ArtifactStore.readAt(spark, root, "clusters", 1L).get
    assert(v1c.filter(col("id") === 20L).count() === 0L)
  }
}
