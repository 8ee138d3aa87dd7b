package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** End-to-end curation integration: run the full raw→packed curation DAG
  * over real test data and assert the funnel's accounting — every stage's
  * output on disk, counts monotone through the filters, packed token
  * totals reconciling exactly with the balanced corpus.
  */
class RunCurationSpec extends SparkSpec {

  private val docsDir = "/root/testdata/sf0.001"
  private def fastPolicy = Pipeline.RetryPolicy(sleep = _ => ())

  test("full curation run: monotone funnel, exact token reconciliation, epoch shards") {
    val out = tempDir("curation-e2e")
    val r = RunCuration.run(spark, docsDir, out, policy = fastPolicy)
    assert(r.run.failed.isEmpty && r.run.skipped.isEmpty)
    assert(r.run.succeeded.size === 16)

    // the funnel only ever removes documents
    val raw = spark.read.parquet(s"$docsDir/documents.parquet").count()
    val d = r.stageDocs
    assert(d("encoded") <= raw && d("encoded") > 0)
    assert(d("curated") <= d("encoded") && d("curated") > 0)
    assert(d("stripped") <= d("curated"))
    assert(d("sentdeduped") <= d("stripped") && d("sentdeduped") > 0)
    assert(d("spandeduped") <= d("sentdeduped") && d("spandeduped") > 0)
    assert(d("gophered") <= d("spandeduped") && d("gophered") > 0)
    assert(d("kept") <= d("gophered") && d("kept") > 0)
    assert(d("balanced") <= d("kept"))

    // the span cut only ever shrinks a doc, and its output carries no
    // duplicated 13-gram anywhere (idempotence: a second cut is a no-op)
    val spanded = spark.read.parquet(s"$out/spanded")
    val recut = graft.text.ExactSubstr.removeDuplicatedSpans(spanded, "doc_id")
    assert(recut.filter(col("removed_tokens") > 0).count() === 0L)

    // multimodal screen branch: one verdict per encoded doc, verdicts
    // partition the set, keep count matches (decode_ok AND text_ok), and
    // decode health follows the planting rule (every 4th doc a real PNG)
    val mm = spark.read.parquet(s"$out/mmscreen")
    assert(mm.count() === d("encoded"))
    assert(mm.select("doc_id").distinct().count() === d("encoded"))
    assert(mm.filter(col("decode_ok") =!= (col("doc_id") % 4 === 0)).count() === 0L)
    assert(mm.filter(col("verdict") === "keep").count() === d("mmkept"))
    assert(mm.filter((col("decode_ok") && col("text_ok")) =!=
      (col("verdict") === "keep")).count() === 0L)
    assert(d("mmkept") > 0)

    // image-dedup branch: one routing row per image (bases + planted
    // twins of encoded docs), every planted twin collapses into its
    // base's cluster with exactly one representative kept
    val mi = spark.read.parquet(s"$out/mmimages")
    val nTwins = spark.read.parquet(s"$out/encoded")
      .filter(col("doc_id") % 20 === 0).count()
    assert(mi.count() === d("encoded") + nTwins)
    assert(d("mmimages_kept") === d("encoded")) // one per cluster: twins collapse
    assert(mi.groupBy("cluster_id")
      .agg(sum(when(col("is_kept"), 1L).otherwise(0L)).as("k"))
      .filter(col("k") =!= 1L).count() === 0L)

    // audio/video dedup branches: same reconciliation as the image
    // grain — one routing row per clip (bases + planted twins), every
    // twin collapses into its base's cluster, exactly one representative
    // kept per cluster. The audio branch is CROSS-container (FLAC bases,
    // WAV twins), so these collapses exercise the FLAC decode in the DAG.
    for ((dir, keptKey) <- Seq(("mmaudio", "mmaudio_kept"),
        ("mmvideo", "mmvideo_kept"))) {
      val routed = spark.read.parquet(s"$out/$dir")
      assert(routed.count() === d("encoded") + nTwins, dir)
      assert(d(keptKey) === d("encoded"), s"$dir: twins must collapse")
      assert(routed.groupBy("cluster_id")
        .agg(sum(when(col("is_kept"), 1L).otherwise(0L)).as("k"))
        .filter(col("k") =!= 1L).count() === 0L, dir)
    }

    // kept rows carry their classifier score, all above the threshold
    val kept = spark.read.parquet(s"$out/kept")
    assert(kept.filter(col("score_micros") < 450000L).count() === 0L)

    // packed sequences account for every balanced doc's TOKENIZED length
    // under the learned merges (+1 separator per doc — the packSequences
    // contract), with no sequence over capacity
    val balanced = spark.read.parquet(s"$out/balanced")
    val merges = spark.read.parquet(s"$out/merges")
    assert(merges.count() > 0 && merges.count() <= 8)
    val totalTokens = graft.text.BpeLearning
      .applyBpeMerges(balanced, "doc_id", merges)
      .agg(sum("n_bpe_tokens")).head.getLong(0) + d("balanced")
    val packed = spark.read.parquet(s"$out/packed")
    assert(packed.agg(sum("n_tokens")).head.getLong(0) === totalTokens)
    assert(packed.agg(max("n_tokens")).head.getLong(0) <= 128L)

    // leakage-safe split covers every balanced doc exactly once, and no
    // near-dup cluster straddles two splits
    val splits = spark.read.parquet(s"$out/splits")
    assert(splits.count() === d("balanced"))
    assert(splits.select("doc_id").distinct().count() === d("balanced"))
    assert(splits.groupBy("cluster_id")
      .agg(countDistinct("data_split").as("ns"))
      .filter(col("ns") > 1).count() === 0L)

    // shards: every balanced doc appears exactly once with a dense position
    val shards = spark.read.parquet(s"$out/shards")
    assert(shards.count() === d("balanced"))
    assert(shards.select("doc_id").distinct().count() === d("balanced"))

    // report JSON mirrors the in-memory accounting
    val rep = spark.read.json(s"$out/report")
      .collect().map(row => row.getAs[String]("stage") -> row.getAs[Long]("n")).toMap
    assert(rep("curated") === d("curated") && rep("sequences") === d("sequences"))

    // re-run over the same outRoot is deterministic end to end
    val r2 = RunCuration.run(spark, docsDir, out, policy = fastPolicy)
    assert(r2.stageDocs === r.stageDocs)
  }
}
