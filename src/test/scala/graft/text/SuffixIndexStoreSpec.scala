package graft.text

import graft.SparkSpec
import graft.core.ArtifactStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The committed suffix-index store: bootstrap + nightly appends must
  * answer probes exactly like a one-shot index over the union, the
  * marker metadata's per-level maxima must equal the recomputed maxima,
  * replays must be exactly-once, and a torn version must stay invisible.
  */
class SuffixIndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private val a13 = (1 to 13).map(i => s"a$i").mkString(" ")

  private def corpus = Seq(
    (1L, s"$a13 c1 c2 c3"),
    (2L, (1 to 20).map(i => s"z$i").mkString(" "))
  ).toDF("doc_id", "text")

  private def night1 = Seq(
    (5L, s"$a13 m1 m2"),                                // copies the a-block
    (6L, (1 to 15).map(i => s"q$i").mkString(" "))      // novel
  ).toDF("doc_id", "text")

  private def night2 = Seq(
    (10L, s"$a13 n1 n2 n3"),                            // a-block again
    (11L, (1 to 15).map(i => s"q$i").mkString(" ")),    // copies night-1 doc 6
    (12L, (1 to 14).map(i => s"w$i").mkString(" "))     // novel
  ).toDF("doc_id", "text")

  private def tmp() =
    tempDir("sufstore")

  private def probeCoverage(st: SuffixIndexStore.Standing,
      batch: DataFrame): Map[Long, (Long, Long, Long)] =
    ExactSubstr.batchSpanCoverageVsCorpus(batch, "doc_id", L = st.windowL,
        corpusRounds = st.rounds, tokenDict = st.tokenDict,
        corpusWinCounts = st.windowCounts, pairDicts = st.pairDicts,
        knownMaxRanks = st.maxRanks)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_dup_spans"), r.getAs[Long]("covered_tokens"))).toMap

  private def fullRestricted(all: DataFrame,
      batch: DataFrame): Map[Long, (Long, Long, Long)] =
    ExactSubstr.duplicatedSpanCoverageExact(all, "doc_id", L = 13)
      .join(batch.select("doc_id"), Seq("doc_id"), "left_semi")
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_dup_spans"), r.getAs[Long]("covered_tokens"))).toMap

  test("bootstrap + append: night-2 probes through the PERSISTED grown " +
      "index exactly like a one-shot index over corpus ∪ night1") {
    val root = tmp()
    val v1 = SuffixIndexStore.bootstrapCommitted(spark, root, corpus,
      "doc_id", prefixLen = 16, windowL = 13)
    assert(v1 === 1L)
    val v2 = SuffixIndexStore.appendBatchCommitted(spark, root, night1,
      "doc_id", batchMark = Some(1L))
    assert(v2 === 2L)
    val st = SuffixIndexStore.read(spark, root).get
    assert(st.version === 2L && st.prefixLen === 16 && st.windowL === 13)
    // probe ≡ full rebuild over (corpus ∪ night1 ∪ night2) restricted to
    // night-2 docs: doc 10's a-block (3 occurrences in the union) and
    // doc 11's copy of night-1 doc 6 must be covered; doc 12 is novel
    val got = probeCoverage(st, night2)
    assert(got ===
      fullRestricted(corpus.unionByName(night1).unionByName(night2), night2))
    assert(got(10L)._3 === 13L && got(11L)._3 === 15L && got(12L)._3 === 0L)
  }

  test("marker-metadata maxima equal the recomputed per-level maxima, " +
      "after bootstrap and after an append") {
    val root = tmp()
    SuffixIndexStore.bootstrapCommitted(spark, root, corpus, "doc_id",
      prefixLen = 8, windowL = 13)
    def check(): Unit = {
      val st = SuffixIndexStore.read(spark, root).get
      st.rounds.foreach { case (h, df) =>
        val recomputed = df.agg(max("rank")).head.getLong(0)
        assert(st.maxRanks(h) === recomputed,
          s"metadata max_rank_$h diverged from the ladder")
      }
      // the token dict is ladder level 1's dictionary form
      assert(st.maxRanks(1) ===
        st.tokenDict.agg(max("rank")).head.getLong(0))
    }
    check()
    SuffixIndexStore.appendBatchCommitted(spark, root, night1, "doc_id",
      batchMark = Some(1L))
    check()
  }

  test("grown pair dicts equal dicts rederived from the grown ladder " +
      "(the maintenance invariant extension composes on)") {
    val root = tmp()
    SuffixIndexStore.bootstrapCommitted(spark, root, corpus, "doc_id",
      prefixLen = 8, windowL = 13)
    SuffixIndexStore.appendBatchCommitted(spark, root, night1, "doc_id",
      batchMark = Some(1L))
    val st = SuffixIndexStore.read(spark, root).get
    val byLevel = st.rounds.toMap
    for (h <- Seq(2, 4, 8)) {
      val stored = st.pairDicts(h).collect().map(_.toSeq).toSet
      val rederived = ExactSubstr.pairDictFromLadder(
        byLevel(h / 2), byLevel(h), h / 2, "doc_id")
        .collect().map(_.toSeq).toSet
      assert(stored === rederived, s"pair_dict_$h diverged from the ladder")
    }
  }

  test("replayed append (same batch mark) is exactly-once: no new " +
      "version, identical standing tables") {
    val root = tmp()
    SuffixIndexStore.bootstrapCommitted(spark, root, corpus, "doc_id",
      prefixLen = 8, windowL = 13)
    val v = SuffixIndexStore.appendBatchCommitted(spark, root, night1,
      "doc_id", batchMark = Some(7L))
    val before = SuffixIndexStore.read(spark, root).get
      .windowCounts.collect().map(_.toSeq).toSet
    val vAgain = SuffixIndexStore.appendBatchCommitted(spark, root, night1,
      "doc_id", batchMark = Some(7L))
    assert(vAgain === v, "covered mark must skip the commit")
    assert(ArtifactStore.latestVersion(spark, root) === Some(v))
    assert(SuffixIndexStore.read(spark, root).get
      .windowCounts.collect().map(_.toSeq).toSet === before)
  }

  test("a torn (marker-less) version stays invisible and the rerun " +
      "commits over it") {
    val root = tmp()
    SuffixIndexStore.bootstrapCommitted(spark, root, corpus, "doc_id",
      prefixLen = 8, windowL = 13)
    // simulate a writer that died mid-commit: v2 exists, no marker
    new java.io.File(s"$root/v2/ladder_1").mkdirs()
    assert(SuffixIndexStore.read(spark, root).get.version === 1L)
    val v = SuffixIndexStore.appendBatchCommitted(spark, root, night1,
      "doc_id", batchMark = Some(1L))
    assert(v === 2L, "the rerun reclaims the torn version number")
    assert(SuffixIndexStore.read(spark, root).get.version === 2L)
  }

  test("bootstrap over an EMPTY corpus: the first append ranks its batch " +
      "like a fresh build and probes stay exact") {
    val root = tmp()
    SuffixIndexStore.bootstrapCommitted(spark, root, corpus.limit(0),
      "doc_id", prefixLen = 16, windowL = 13)
    SuffixIndexStore.appendBatchCommitted(spark, root, night1, "doc_id",
      batchMark = Some(1L))
    val st = SuffixIndexStore.read(spark, root).get
    val got = probeCoverage(st, night2)
    assert(got === fullRestricted(night1.unionByName(night2), night2))
    // doc 10's a-block occurs once in night1 → covered; doc 12 novel
    assert(got(10L)._3 === 13L && got(11L)._3 === 15L && got(12L)._3 === 0L)
  }
}
