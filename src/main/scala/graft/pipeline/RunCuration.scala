package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GraftSession, Tables}
import graft.text.{CorpusCuration, TextAnalysis}

/** The end-to-end LLM training-data curation pipeline: one invocation
  * takes a raw document corpus through the full funnel —
  *
  *   1. `encoding_gate`    mojibake / replacement-char / C0 quarantine
  *   1b. `multimodal_screen` caption-image keep/quarantine routing (branch)
  *   1c. `image_dedup`      perceptual image dedup + representatives (branch)
  *   1d. `audio_dedup`      perceptual audio dedup, FLAC+WAV clips (branch)
  *   1e. `video_dedup`      perceptual video dedup over Y4M clips (branch)
  *   2. `curate_funnel`     language/quality/length gates + exact dedup
  *   3. `boilerplate_strip` CCNet-style shared-segment removal
  *   4. `sentence_dedup`    corpus-global duplicated-sentence removal
  *   4b. `exact_substr_dedup` duplicated 13-gram SPAN removal (suffix classes)
  *   5. `gopher_gate`       rule-based quality filter (cheap rules first)
  *   6. `quality_filter`    hashed linear classifier threshold
  *   7. `mixture_rebalance` temperature sampling toward language balance
  *   8. `tokenizer_learn`   BPE merge learning on the balanced corpus
  *   9. `leak_split`        per-near-dup-cluster train/val/test split
  *  10. `pack_and_shard`    packing by TOKENIZED length + epoch shards
  *  11. `corpus_report`     per-stage accounting JSON
  *
  * — with every stage MATERIALIZED to parquet before the next reads it
  * (the restartable shape a multi-day 100 TB curation run needs: a
  * failed stage re-runs from the previous stage's output, not from the
  * raw crawl), orchestrated through the same DAG runner / retry /
  * dead-letter control plane as [[RunPipeline]]. `tokenizer_learn` and
  * `leak_split` are independent branches off the balanced corpus, as are
  * the media branches off the encoded one — the DAG runner runs ready
  * branches concurrently; packing waits on the merges.
  *
  * Stage outputs under `outRoot`:
  * {{{
  *   encoded/     docs whose text decodes cleanly (enc_clean)
  *   mmscreen/    caption-image consistency verdicts (decode x quality)
  *   mmimages/    per-image near-dup routing (img_id, cluster_id, is_kept)
  *   mmaudio/     per-clip audio near-dup routing (aud_id, cluster_id, is_kept)
  *   mmvideo/     per-clip video near-dup routing (vid_id, cluster_id, is_kept)
  *   curated/     docs surviving the funnel (exact-deduped)
  *   stripped/    boilerplate-free text (lang/source re-attached)
  *   sentded/     duplicated sentences removed (first occurrence kept)
  *   spanded/     duplicated 13-gram spans cut (ExactSubstr removal)
  *   gophered/    docs passing the rule gate
  *   kept/        classifier-approved docs
  *   balanced/    temperature-rebalanced corpus
  *   merges/      learned BPE merge table
  *   splits/      (doc_id, cluster_id, data_split) leakage-safe split
  *   packed/      (seq_id, n_docs, n_tokens) training sequences
  *   shards/      (doc_id, shard, pos) epoch order
  *   report/      single-file JSON: per-stage doc/token counts
  *   _state/      DLQ
  * }}}
  */
object RunCuration {

  final case class Layout(root: String) {
    def encoded: String = s"$root/encoded"
    def mmscreen: String = s"$root/mmscreen"
    def mmimages: String = s"$root/mmimages"
    def mmaudio: String = s"$root/mmaudio"
    def mmvideo: String = s"$root/mmvideo"
    def curated: String = s"$root/curated"
    def stripped: String = s"$root/stripped"
    def sentded: String = s"$root/sentded"
    def spanded: String = s"$root/spanded"
    def gophered: String = s"$root/gophered"
    def kept: String = s"$root/kept"
    def balanced: String = s"$root/balanced"
    def packed: String = s"$root/packed"
    def shards: String = s"$root/shards"
    def merges: String = s"$root/merges"
    def splits: String = s"$root/splits"
    def report: String = s"$root/report"
    def dlqPath: String = s"$root/_state/dlq.jsonl"
  }

  final case class CurationResult(
      run: Pipeline.RunReport,
      stageDocs: Map[String, Long])

  private def write(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("compression", "snappy").parquet(path)

  /** Run the whole curation DAG over `docsDir`'s `documents` table. */
  def run(spark: SparkSession, docsDir: String, outRoot: String,
      segTokens: Int = 12, classifierBuckets: Int = 256,
      thresholdMicros: Long = 450000L, alpha: Double = 0.5,
      capacity: Long = 128L, nShards: Int = 8, bpeRounds: Int = 8,
      gopherMinTokens: Long = 10L,
      policy: Pipeline.RetryPolicy = Pipeline.RetryPolicy()): CurationResult = {
    val lay = Layout(outRoot)
    val dlq = new Pipeline.DeadLetterQueue(lay.dlqPath)
    val stageDocs = scala.collection.concurrent.TrieMap.empty[String, Long]

    def record(stage: String, path: String): Unit =
      stageDocs(stage) = spark.read.parquet(path).count()

    val jobs = Seq(
      Pipeline.Job("encoding_gate")(() => {
        // encoding health FIRST: mojibake is invisible to every token
        // statistic downstream but poisons shingles and the tokenizer
        val docs = Tables(spark, docsDir).documents
        val clean = TextAnalysis.encodingAnomalies(docs, "doc_id")
          .filter(col("enc_clean")).select("doc_id")
        write(docs.join(clean, Seq("doc_id")), lay.encoded)
        record("encoded", lay.encoded)
      }),
      Pipeline.Job("multimodal_screen", dependsOn = Seq("encoding_gate"))(() => {
        // caption-image consistency branch: attach the demo mixed-media
        // payloads (real PNG every 4th doc) and route each pair to
        // keep/quarantine from REAL decode health x caption quality — the
        // media-grain analog of the text funnel. A branch, not a gate:
        // this corpus is text-first, so the screen's routing table is an
        // artifact downstream multimodal consumers read, while the text
        // funnel continues over all encoded docs.
        val docs = spark.read.parquet(lay.encoded)
        val screen = graft.multimodal.Multimodal.captionImageScreen(
          graft.multimodal.Multimodal.withMixedMedia(
            docs.select("doc_id", "text"), "doc_id"), "doc_id")
        write(screen, lay.mmscreen)
        stageDocs("mmkept") = spark.read.parquet(lay.mmscreen)
          .filter(col("verdict") === "keep").count()
      }),
      Pipeline.Job("image_dedup", dependsOn = Seq("multimodal_screen"))(() => {
        // image-grain dedup on the branch: dHash fingerprints over the
        // demo image corpus (deterministic PNGs with planted perturbed
        // twins — real codec round-trips), banded hamming pairs, and ONE
        // representative kept per near-dup image cluster (min img_id —
        // the quality column is the id itself in this synthetic demo;
        // production passes a real quality score). Writes the per-image
        // routing table (img_id, cluster_id, is_kept).
        val docs = spark.read.parquet(lay.encoded).select("doc_id")
        val images = graft.multimodal.Multimodal.syntheticBlockImages(docs, "doc_id")
        val pairs = graft.dedup.ImageDedup.dHashPairs(
          graft.multimodal.Multimodal.dHashes(images, "img_id"), "img_id",
          bands = 4, maxHamming = 3)
        val routed = graft.dedup.Dedup.keepRepresentatives(
          images.select(col("img_id"), (-col("img_id")).as("_q")),
          pairs, "img_id", "_q").drop("_q")
        write(routed, lay.mmimages)
        stageDocs("mmimages_kept") = spark.read.parquet(lay.mmimages)
          .filter(col("is_kept")).count()
      }),
      Pipeline.Job("audio_dedup", dependsOn = Seq("multimodal_screen"))(() => {
        // audio-grain dedup on the branch — and deliberately CROSS-
        // container: base clips are real subset-FLAC encodes, planted
        // twins perturbed-PCM WAVs, so the routing table's collapses
        // exercise the FLAC decode end-to-end inside the DAG (the same
        // grain-agnostic banded generator; one representative per
        // cluster by min aud_id, as the image branch).
        val docs = spark.read.parquet(lay.encoded).select("doc_id")
        val clips = graft.multimodal.Multimodal.syntheticBlockFlacs(docs, "doc_id")
        val pairs = graft.dedup.ImageDedup.dHashPairs(
          graft.multimodal.Multimodal.audioEnergyHashes(clips, "aud_id"), "aud_id",
          bands = 4, maxHamming = 3)
        val routed = graft.dedup.Dedup.keepRepresentatives(
          clips.select(col("aud_id"), (-col("aud_id")).as("_q")),
          pairs, "aud_id", "_q").drop("_q")
        write(routed, lay.mmaudio)
        stageDocs("mmaudio_kept") = spark.read.parquet(lay.mmaudio)
          .filter(col("is_kept")).count()
      }),
      Pipeline.Job("video_dedup", dependsOn = Seq("multimodal_screen"))(() => {
        // video-grain dedup on the branch: temporal luma-gradient
        // fingerprints over REAL Y4M frame walks, same banded generator
        // and keep-one-representative routing.
        val docs = spark.read.parquet(lay.encoded).select("doc_id")
        val clips = graft.multimodal.Multimodal.syntheticBlockY4ms(docs, "doc_id")
        val pairs = graft.dedup.ImageDedup.dHashPairs(
          graft.multimodal.Multimodal.videoTemporalHashes(clips, "vid_id"), "vid_id",
          bands = 4, maxHamming = 3)
        val routed = graft.dedup.Dedup.keepRepresentatives(
          clips.select(col("vid_id"), (-col("vid_id")).as("_q")),
          pairs, "vid_id", "_q").drop("_q")
        write(routed, lay.mmvideo)
        stageDocs("mmvideo_kept") = spark.read.parquet(lay.mmvideo)
          .filter(col("is_kept")).count()
      }),
      Pipeline.Job("curate_funnel", dependsOn = Seq("encoding_gate"))(() => {
        write(CorpusCuration.curate(spark.read.parquet(lay.encoded)), lay.curated)
        record("curated", lay.curated)
      }),
      Pipeline.Job("boilerplate_strip", dependsOn = Seq("curate_funnel"))(() => {
        val curated = spark.read.parquet(lay.curated)
        // stripBoilerplate returns (doc_id, text); re-attach the metadata
        // columns the later stages key on
        val clean = CorpusCuration.stripBoilerplate(curated, "doc_id",
            segTokens = segTokens)
          .join(curated.select("doc_id", "lang", "source"), Seq("doc_id"))
        write(clean, lay.stripped)
        record("stripped", lay.stripped)
      }),
      Pipeline.Job("sentence_dedup", dependsOn = Seq("boilerplate_strip"))(() => {
        // corpus-global line dedup between segment-grain boilerplate and
        // the quality gates: the CCNet/RefinedWeb ordering (dedup before
        // quality, so repeated chrome can't drag scores)
        val docs = spark.read.parquet(lay.stripped)
        val sd = CorpusCuration.sentenceDedup(docs, "doc_id")
          .filter(col("n_kept") > 0)
          .select(col("doc_id"), col("kept_text").as("text"))
        write(sd.join(docs.select("doc_id", "lang", "source"), Seq("doc_id")),
          lay.sentded)
        record("sentdeduped", lay.sentded)
      }),
      Pipeline.Job("exact_substr_dedup", dependsOn = Seq("sentence_dedup"))(() => {
        // the Lee et al. span cut AFTER line-grain dedup: sentences catch
        // exact repeated lines, the suffix-class pass catches verbatim
        // runs that cross line boundaries or hide inside longer text;
        // fully-hollowed docs (kept_tokens = 0) drop here
        val docs = spark.read.parquet(lay.sentded)
        val cut = graft.text.ExactSubstr.removeDuplicatedSpans(docs, "doc_id")
          .filter(col("kept_tokens") > 0)
          .select(col("doc_id"), col("clean_text").as("text"))
        write(cut.join(docs.select("doc_id", "lang", "source"), Seq("doc_id")),
          lay.spanded)
        record("spandeduped", lay.spanded)
      }),
      Pipeline.Job("gopher_gate", dependsOn = Seq("exact_substr_dedup"))(() => {
        // rule-based pre-filter BEFORE the learned classifier (the Gopher
        // ordering: cheap deterministic rules first, model second)
        val docs = spark.read.parquet(lay.spanded)
        val pass = CorpusCuration.gopherQualityRules(docs, "doc_id",
          minTokens = gopherMinTokens)
          .filter(col("keep")).select("doc_id")
        write(docs.join(pass, Seq("doc_id")), lay.gophered)
        record("gophered", lay.gophered)
      }),
      Pipeline.Job("quality_filter", dependsOn = Seq("gopher_gate"))(() => {
        val docs = spark.read.parquet(lay.gophered)
        val scores = TextAnalysis.hashedQualityScore(docs, "doc_id",
          TextAnalysis.hashWeightTable(spark, classifierBuckets),
          nBuckets = classifierBuckets, biasMicros = 500000L,
          thresholdMicros = thresholdMicros)
        write(docs.join(scores.filter(col("keep"))
          .select("doc_id", "score_micros"), Seq("doc_id")), lay.kept)
        record("kept", lay.kept)
      }),
      Pipeline.Job("mixture_rebalance", dependsOn = Seq("quality_filter"))(() => {
        write(CorpusCuration.temperatureMixture(
          spark.read.parquet(lay.kept), "lang", alpha), lay.balanced)
        record("balanced", lay.balanced)
      }),
      Pipeline.Job("tokenizer_learn", dependsOn = Seq("mixture_rebalance"))(() => {
        // learn the BPE merge table ON the balanced corpus — the
        // tokenizer trains on what the model will actually see
        write(graft.text.BpeLearning.learnBpeMerges(
          spark.read.parquet(lay.balanced), rounds = bpeRounds), lay.merges)
        record("merges", lay.merges)
      }),
      Pipeline.Job("leak_split", dependsOn = Seq("mixture_rebalance"))(() => {
        // train/val/test decided per near-dup CLUSTER so near-dups never
        // straddle the boundary
        val docs = spark.read.parquet(lay.balanced)
        val pairs = graft.dedup.Dedup.jaccardPairsScalable(docs, "doc_id")
        write(graft.dedup.Dedup.leakageSafeSplit(docs, pairs, "doc_id")
          .select("doc_id", "cluster_id", "data_split"), lay.splits)
        record("splits", lay.splits)
      }),
      Pipeline.Job("pack_and_shard",
          dependsOn = Seq("tokenizer_learn", "leak_split"))(() => {
        val docs = spark.read.parquet(lay.balanced)
        // pack by TOKENIZED length (the learned tokenizer's counts), not
        // whitespace words — sequence budgets are what the model consumes
        val weights = graft.text.BpeLearning.applyBpeMerges(docs, "doc_id",
            spark.read.parquet(lay.merges))
          .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens"))
        write(CorpusCuration.packSequences(weights, capacity, "n_tokens"), lay.packed)
        write(CorpusCuration.shuffleShards(docs, nShards)
          .select("doc_id", "shard", "pos"), lay.shards)
        stageDocs("sequences") = spark.read.parquet(lay.packed).count()
      }),
      // the multimodal branch's keep counts are report rows too, so the
      // report waits on that branch as well as on the text funnel
      Pipeline.Job("corpus_report",
          dependsOn = Seq("pack_and_shard", "multimodal_screen", "image_dedup"))(() => {
        import spark.implicits._
        val rows = Seq("encoded", "mmkept", "mmimages_kept", "curated", "stripped",
          "sentdeduped", "spandeduped", "gophered", "kept", "balanced", "merges",
          "splits", "sequences")
          .map(s => (s, stageDocs.getOrElse(s, 0L)))
        graft.sources.Sinks.jsonSingleFile(rows.toDF("stage", "n"), lay.report)
      })
    )

    CurationResult(Pipeline.run(jobs, policy, Some(dlq)), stageDocs.toMap)
  }

  /** CLI: `runMain graft.pipeline.RunCuration <docsDir> <outRoot>` —
    * prints one JSON summary line.
    */
  def main(args: Array[String]): Unit = {
    val docsDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outRoot = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-curation").toString)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.local(cpus)
    try {
      val r = run(spark, docsDir, outRoot)
      val jobsJson = r.run.statuses.toSeq.sortBy(_._1).map {
        case (n, Pipeline.Succeeded)    => s""""$n":"succeeded""""
        case (n, Pipeline.SkippedDeps)  => s""""$n":"skipped""""
        case (n, f: Pipeline.FailedJob) => s""""$n":"failed(${f.attempts})""""
      }.mkString("{", ",", "}")
      val stagesJson = r.stageDocs.toSeq.sortBy(_._1)
        .map { case (s, n) => s""""$s":$n""" }.mkString("{", ",", "}")
      println(s"""{"pipeline":"curation","out":"$outRoot","jobs":$jobsJson,"stages":$stagesJson,"failed":${r.run.failed.size}}""")
    } finally spark.stop()
  }
}
