package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The nightly-crawl loop: two successive runs over a growing document
  * table — watermark advances commit-after-write, the standing artifacts
  * version per run, the cluster table stays corpus-complete (== a full
  * rebuild over everything curated so far), gated-out docs never reach
  * the corpus, and an idle run is a true no-op.
  */
class RunIncrementalCurationSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = graft.text.CorpusCuration.Config(
    minQuality = 0.0, minTokens = 5, maxTokens = 1000, languages = Seq("en"))

  private def mk(id: Long, text: String) =
    (id, text, "en", "web", text.length.toLong)

  // 20 tokens; `tail` swaps the last token so copies are NEAR-dups that
  // survive curate's exact dedup but pair at 3-gram jaccard ~0.71
  private def t20(tag: String, tail: String = "z0") =
    ((1 to 19).map(i => s"$tag$i") :+ tail).mkString(" ")

  test("nightly runs: watermark + artifact versions advance, clusters " +
      "stay corpus-complete, idle run is a no-op") {
    val docsDir = tempDir("inc-docs")
    val out = tempDir("inc-out")
    def writeDocs(rows: Seq[(Long, String, String, String, Long)]): Unit =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(s"$docsDir/documents.parquet")

    // night 1: near-dup family A (1, 2), singleton 11, and doc 5 failing
    // the length gate (3 tokens < minTokens)
    writeDocs(Seq(mk(1L, t20("a")), mk(2L, t20("a", "z1")),
      mk(5L, "too short doc"), mk(11L, t20("b"))))
    val r1 = RunIncrementalCuration.run(spark, docsDir, out, cfg)
    assert(r1.batchDocs === 4L && r1.keptDocs === 3L)
    assert(r1.watermark === Some(11L))
    assert(r1.artifactVersion === 2L, "bootstrap v1 (empty) + night-1 append v2")
    val c1 = graft.core.ArtifactStore.read(spark, s"$out/artifacts", "clusters").get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c1 === Map(1L -> 1L, 2L -> 1L))
    assert(spark.read.parquet(s"$out/curated").select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 11L))

    // night 2: doc 21 near-dups the STANDING family A, 22 is novel
    writeDocs(Seq(mk(21L, t20("a", "z2")), mk(22L, t20("c"))))
    val r2 = RunIncrementalCuration.run(spark, docsDir, out, cfg)
    assert(r2.batchDocs === 2L && r2.keptDocs === 2L)
    assert(r2.watermark === Some(22L))
    assert(r2.artifactVersion === 3L)
    val c2 = graft.core.ArtifactStore.read(spark, s"$out/artifacts", "clusters").get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c2 === Map(1L -> 1L, 2L -> 1L, 21L -> 1L))
    // corpus-complete: equals a full rebuild over everything curated
    val rebuilt = graft.dedup.Dedup.dedupClusters(
      graft.dedup.Dedup.jaccardPairsScalable(
        spark.read.parquet(s"$out/curated"), "doc_id",
        n = 3, minJaccard = 0.5, numHashTables = 8))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c2 === rebuilt)
    assert(spark.read.parquet(s"$out/curated").select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 11L, 21L, 22L))

    // idle night: nothing new — version and watermark unchanged
    val r3 = RunIncrementalCuration.run(spark, docsDir, out, cfg)
    assert(r3.batchDocs === 0L && r3.keptDocs === 0L)
    assert(r3.artifactVersion === 3L && r3.watermark === Some(22L))
  }

  private def night1 = Seq(mk(1L, t20("a")), mk(2L, t20("a", "z1")),
    mk(11L, t20("b")))
  private def night2 = Seq(mk(21L, t20("a", "z2")), mk(22L, t20("c")))

  private def setup(): (String, String) = (
    tempDir("inc-docs"),
    tempDir("inc-out"))

  private def writeDocsTo(docsDir: String,
      rows: Seq[(Long, String, String, String, Long)]): Unit =
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(s"$docsDir/documents.parquet")

  private def state(out: String) = {
    val pairs = graft.core.ArtifactStore.read(spark, s"$out/artifacts", "pairs")
      .get.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val clusters = graft.core.ArtifactStore.read(spark, s"$out/artifacts", "clusters")
      .get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val corpus = spark.read.parquet(s"$out/curated").collect()
      .map(_.toSeq).toSeq.sortBy(_.toString)
    (pairs, clusters, corpus)
  }

  test("crash replay at each step boundary: the rerun's standing tables " +
      "are ROW-identical to one uninterrupted run") {
    // reference: two clean nights, no crash
    val (refDocs, refOut) = setup()
    writeDocsTo(refDocs, night1)
    RunIncrementalCuration.run(spark, refDocs, refOut, cfg)
    writeDocsTo(refDocs, night2)
    RunIncrementalCuration.run(spark, refDocs, refOut, cfg)
    val ref = state(refOut)

    for (step <- Seq(3, 4)) {
      val (docsDir, out) = setup()
      writeDocsTo(docsDir, night1)
      RunIncrementalCuration.run(spark, docsDir, out, cfg)
      writeDocsTo(docsDir, night2)
      // night 2 dies right after the artifact commit (3) / the corpus
      // append (4) — before the watermark advances either way
      intercept[RunIncrementalCuration.InjectedCrash] {
        RunIncrementalCuration.run(spark, docsDir, out, cfg,
          crashAfterStep = Some(step))
      }
      // the recovery rerun re-reads the same batch
      val r = RunIncrementalCuration.run(spark, docsDir, out, cfg)
      assert(r.watermark === Some(22L))
      assert(state(out) === ref,
        s"replay after a crash at step $step must equal the clean run")
      // and is stable: one more idle rerun changes nothing
      RunIncrementalCuration.run(spark, docsDir, out, cfg)
      assert(state(out) === ref)
    }
  }

  test("a corrupted EXISTING corpus fails loudly instead of silently " +
      "committing an artifact version with missing edges") {
    val (docsDir, out) = setup()
    writeDocsTo(docsDir, night1)
    RunIncrementalCuration.run(spark, docsDir, out, cfg)
    val vBefore = graft.core.ArtifactStore.latestVersion(spark, s"$out/artifacts")
    // corrupt the curated corpus: a parquet file with a junk footer
    val dir = new java.io.File(s"$out/curated")
    dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.write(f.toPath, "not parquet at all".getBytes)
    }
    writeDocsTo(docsDir, night2)
    val e = intercept[Exception] {
      RunIncrementalCuration.run(spark, docsDir, out, cfg)
    }
    assert(!e.isInstanceOf[RunIncrementalCuration.InjectedCrash])
    // nothing was committed against the phantom-empty corpus
    assert(graft.core.ArtifactStore.latestVersion(spark, s"$out/artifacts")
      === vBefore)
  }

  test("retention: the nightly loop prunes artifact versions beyond " +
      "keepLast after the watermark advances") {
    val (docsDir, out) = setup()
    writeDocsTo(docsDir, night1)
    RunIncrementalCuration.run(spark, docsDir, out, cfg, keepLast = 2)
    writeDocsTo(docsDir, night2)
    RunIncrementalCuration.run(spark, docsDir, out, cfg, keepLast = 2)
    writeDocsTo(docsDir, Seq(mk(31L, t20("d"))))
    val r3 = RunIncrementalCuration.run(spark, docsDir, out, cfg, keepLast = 2)
    assert(r3.artifactVersion === 4L, "bootstrap v1 + three nightly appends")
    val arts = s"$out/artifacts"
    // keepLast=2: v1/v2 pruned, v3/v4 survive and still resolve
    assert(graft.core.ArtifactStore.readAt(spark, arts, "pairs", 1L).isEmpty)
    assert(graft.core.ArtifactStore.readAt(spark, arts, "pairs", 2L).isEmpty)
    assert(graft.core.ArtifactStore.readAt(spark, arts, "pairs", 3L).isDefined)
    assert(graft.core.ArtifactStore.read(spark, arts, "clusters").get
      .count() >= 2L)
    assert(graft.core.ArtifactStore.latestVersion(spark, arts) === Some(4L))
  }

  private def suffixState(out: String) = {
    val st = graft.text.SuffixIndexStore.read(spark, s"$out/artifacts_suffix").get
    (st.rounds.map { case (h, df) =>
        h -> df.collect().map(_.toSeq).toSet },
      st.tokenDict.collect().map(_.toSeq).toSet,
      st.windowCounts.collect().map(_.toSeq).toSet,
      st.maxRanks)
  }

  test("suffixIndex grain: crash replay at each step boundary leaves the " +
      "standing suffix index ROW-identical to one uninterrupted run, and " +
      "the probe through it matches the full rebuild") {
    // reference: two clean nights with the suffix grain on
    val (refDocs, refOut) = setup()
    writeDocsTo(refDocs, night1)
    RunIncrementalCuration.run(spark, refDocs, refOut, cfg, suffixIndex = true)
    writeDocsTo(refDocs, night2)
    RunIncrementalCuration.run(spark, refDocs, refOut, cfg, suffixIndex = true)
    val ref = suffixState(refOut)

    // the vocabulary-drift ledger rode night 2's commit metadata: doc 21
    // re-uses family-A tokens (plus its fresh tail), doc 22 is all-new —
    // OOV must be strictly between 0 and 100%, and new types positive
    val sufRoot = s"$refOut/artifacts_suffix"
    val v = graft.core.ArtifactStore.latestVersion(spark, sufRoot).get
    val meta = graft.core.ArtifactStore.readMeta(spark, sufRoot, v).get
    assert(meta("vocab_n_tokens").toLong === 40L, "two 20-token docs")
    val oov = meta("vocab_oov_micros").toLong
    assert(oov > 0L && oov < 1000000L)
    assert(meta("vocab_new_types").toLong > 0L)

    for (step <- Seq(3, 4)) {
      val (docsDir, out) = setup()
      writeDocsTo(docsDir, night1)
      RunIncrementalCuration.run(spark, docsDir, out, cfg, suffixIndex = true)
      writeDocsTo(docsDir, night2)
      intercept[RunIncrementalCuration.InjectedCrash] {
        RunIncrementalCuration.run(spark, docsDir, out, cfg,
          suffixIndex = true, crashAfterStep = Some(step))
      }
      val r = RunIncrementalCuration.run(spark, docsDir, out, cfg,
        suffixIndex = true)
      assert(r.watermark === Some(22L))
      assert(suffixState(out) === ref,
        s"suffix index replay after a crash at step $step must equal the clean run")
      // and is stable: one more idle rerun changes nothing
      RunIncrementalCuration.run(spark, docsDir, out, cfg, suffixIndex = true)
      assert(suffixState(out) === ref)
    }

    // the maintained index answers like a one-shot rebuild: a probe batch
    // copying corpus content is covered, novel content is not
    val st = graft.text.SuffixIndexStore.read(spark, s"$refOut/artifacts_suffix").get
    import spark.implicits._
    val probe = Seq((100L, t20("a", "z9")), (101L, t20("x"))).toDF("doc_id", "text")
    val got = graft.text.ExactSubstr.batchSpanCoverageVsCorpus(probe,
        "doc_id", L = st.windowL, corpusRounds = st.rounds,
        tokenDict = st.tokenDict, corpusWinCounts = st.windowCounts,
        pairDicts = st.pairDicts, knownMaxRanks = st.maxRanks)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("covered_tokens")).toMap
    val full = graft.text.ExactSubstr.duplicatedSpanCoverageExact(
        spark.read.parquet(s"$refOut/curated").select("doc_id", "text")
          .unionByName(probe),
        "doc_id", L = st.windowL)
      .join(probe.select("doc_id"), Seq("doc_id"), "left_semi")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("covered_tokens")).toMap
    assert(got === full)
    assert(got(100L) > 0L && got(101L) === 0L)
  }

  test("mediaDedup grows the loop by the audio/video fingerprint stores: " +
      "hashes accumulate per night under the same commit contract") {
    val (docsDir, out) = setup()
    writeDocsTo(docsDir, night1)
    RunIncrementalCuration.run(spark, docsDir, out, cfg, mediaDedup = true)
    writeDocsTo(docsDir, night2)
    RunIncrementalCuration.run(spark, docsDir, out, cfg, mediaDedup = true)
    for (grain <- Seq("image", "audio", "video")) {
      val root = s"$out/artifacts_$grain"
      val hashes = graft.core.ArtifactStore.read(spark, root, "hashes").get
      // every curated doc's clip is fingerprinted exactly once
      assert(hashes.select("doc_id").collect().map(_.getLong(0)).toSet ===
        Set(1L, 2L, 11L, 21L, 22L))
      assert(hashes.filter(col("dhash").isNull).count() === 0L)
      // the match ledger exists (no cross-night twins planted here)
      assert(graft.core.ArtifactStore.read(spark, root, "matches").get
        .count() === 0L)
      // the batch mark rode the commit: a replayed night would skip
      assert(graft.dedup.PairGraph.latestBatchMark(spark, root) === Some(22L))
    }
  }
}
