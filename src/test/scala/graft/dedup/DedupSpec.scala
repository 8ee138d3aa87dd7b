package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, round}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
    (2L, "The Quick Brown Fox jumps over the lazy dog  "), // dup after normalize? (case differs -> same after lower/trim)
    (3L, "the quick brown fox jumps over the sleepy dog"), // near-dup
    (4L, "completely different content about spark engines and shuffles here")
  ).toDF("doc_id", "text")

  test("exactStats counts normalized duplicates") {
    val r = Dedup.exactStats(docs).collect().head
    assert(r.getAs[Long]("total_docs") === 5L)
    assert(r.getAs[Long]("distinct_texts") === 3L) // 0=1=2, 3, 4
    assert(r.getAs[Long]("duplicate_rows") === 2L)
  }

  test("jaccardPairs finds near-duplicates and scores exact dups 1.0") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", minJaccard = 0.3).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard")).toMap
    assert(pairs((0L, 1L)) === 1.0)
    assert(pairs.contains((0L, 3L))) // near-dup above threshold
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("simHash is deterministic and equal for identical texts") {
    val sigs = Dedup.simHash(docs, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) === sigs(1L))
    // near-dup has small hamming distance; unrelated doc large
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0L), sigs(3L)) < ham(sigs(0L), sigs(4L)))
  }

  test("simHashPairs surfaces banded near-dup candidates") {
    val pairs = Dedup.simHashPairs(docs, "doc_id", maxHamming = 16).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("minHashPairs finds the planted near-dup via banded buckets") {
    val pairs = Dedup.minHashPairs(docs, "doc_id", maxDistance = 0.9)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 3L)) || pairs.contains((1L, 3L)))
  }

  test("jaccardPairsScalable matches the exact all-pairs result") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", minJaccard = 0.5).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"))).toSet
    val scalable = Dedup.jaccardPairsScalable(docs, "doc_id",
      minJaccard = 0.5, numHashTables = 8).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"))).toSet
    assert(scalable === exact)
    assert(exact.nonEmpty) // the planted dups must be in both
  }

  test("exactJaccardForPairs only scores the candidate pairs it is given") {
    val cand = Seq((0L, 1L)).toDF("doc_a", "doc_b")
    val r = Dedup.exactJaccardForPairs(docs, cand, "doc_id", minJaccard = 0.0).collect()
    assert(r.map(x => (x.getAs[Long]("doc_a"), x.getAs[Long]("doc_b"))).toSet === Set((0L, 1L)))
    assert(r.head.getAs[Double]("jaccard") === 1.0)
  }

  test("embeddingNearDupsScalable matches the exact theta-join result") {
    val vecs = (0L until 30L).map { i =>
      val rnd = new scala.util.Random(i)
      i -> Array.fill(16)(rnd.nextGaussian().toFloat)
    }
    val planted = 30L -> vecs.head._2.map(x => x * 1.01f)
    val df = (vecs :+ planted).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDups(df, "vec_id", 0.9).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val scalable = Dedup.embeddingNearDupsScalable(df, "vec_id", 0.9,
      nPlanes = 4, numTables = 8).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(exact === Set((0L, 30L)))
    assert(scalable === exact)
  }

  test("incremental embedding dedup flags batch-vs-corpus and " +
      "within-batch dups without re-pairing the corpus") {
    val corpus = Seq(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0f, 1f, 0f, 0f)).toDF("vec_id", "embedding")
    val batch = Seq(
      10L -> Array(0.99f, 0.01f, 0f, 0f), // near-copy of corpus vec 1
      11L -> Array(0f, 0f, 1f, 0f),       // novel
      12L -> Array(0f, 0f, 0f, 1f),       // novel, duplicated by 13
      13L -> Array(0f, 0f, 0f, 0.97f)     // scalar multiple of 12: cos = 1
    ).toDF("vec_id", "embedding")
    val out = Dedup.incrementalEmbeddingNearDups(batch, corpus, "vec_id", 0.9)
      .collect().map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("match_id"),
        r.getAs[String]("source"))).toSet
    // exactly the two planted dups; the corpus pair (1,2) is never
    // examined, novel vec 11 matches nothing, and the within-batch pair
    // keeps the earlier key as the senior match
    assert(out === Set((10L, 1L, "corpus"), (13L, 12L, "batch")))
  }

  test("acceptPairsByJaccard accepts exactly the pairs exactJaccardForPairs keeps") {
    val rnd = new scala.util.Random(11)
    // 4-word vocabulary: plenty of genuine mid-jaccard pairs, straddling 0.3
    val words = Vector("key", "agg", "row", "scan")
    val docs = (1L to 60L).map { i =>
      i -> Seq.fill(30)(words(rnd.nextInt(words.size))).mkString(" ")
    }.toDF("doc_id", "text")
    // all ordered pairs as candidates — the loosest possible generator
    val ids = docs.select(col("doc_id"))
    val cand = ids.toDF("doc_a").crossJoin(ids.toDF("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val exact = pairs(Dedup.exactJaccardForPairs(docs, cand, "doc_id", minJaccard = 0.3))
    val fast = pairs(Dedup.acceptPairsByJaccard(docs, cand, "doc_id", minJaccard = 0.3))
    assert(exact.nonEmpty && fast === exact)
  }

  test("semDedup drops within-cluster near-dups only, keeping the smallest key") {
    // cluster 1: vec 2 duplicates vec 1; vec 3 is orthogonal.
    // cluster 2: vec 4 duplicates vec 1 but sits in another cluster -> kept
    // (cluster-scoped by design — cross-cluster dups are out of contract).
    val emb = Seq(
      (1L, 1, Array(1f, 0f, 0f)),
      (2L, 1, Array(1f, 0f, 0f)),
      (3L, 1, Array(0f, 1f, 0f)),
      (4L, 2, Array(1f, 0f, 0f))
    ).toDF("vec_id", "label", "embedding")
    val kept = Dedup.semDedup(emb, tau = 0.9).collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L, 4L))
  }

  test("semDedup drop rule is any-senior-mate, not surviving-mate (greedy keep-first)") {
    // a=0°, b=45°, c=90°: cos(a,b) and cos(b,c) ≈ 0.707 >= 0.7, cos(a,c) = 0.
    // c is dropped because of b even though b itself is dropped — the greedy
    // keep-first contract (matches the oracle's EXISTS semantics).
    val s2 = math.sqrt(0.5).toFloat
    val emb = Seq(
      (1L, 1, Array(1f, 0f)),
      (2L, 1, Array(s2, s2)),
      (3L, 1, Array(0f, 1f))
    ).toDF("vec_id", "label", "embedding")
    val kept = Dedup.semDedup(emb, tau = 0.7).collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L))
  }

  test("dedupClusters closes transitive chains and picks the min-id canonical") {
    import spark.implicits._
    // chain 1~2~3 (1-3 never paired directly), separate pair 10~11, isolated pair 20~21
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.dedupClusters(pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    assert(labels === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,   // transitive closure, canonical = min
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("dedupClusters converges on a long path (diameter > 2)") {
    import spark.implicits._
    // path 0-1-2-...-9: worst-case diameter for min propagation
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.dedupClusters(pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    assert(labels.size === 10)
    assert(labels.values.toSet === Set(0L)) // one component, canonical 0
  }

  test("dedupClusters reliable-checkpoint path converges on the diameter-9 chain") {
    import spark.implicits._
    // production mode: lineage truncation goes through checkpoint() to a
    // filesystem dir (survives executor loss), not localCheckpoint
    val ckpt = tempDir("graft-ckpt")
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.dedupClusters(pairs, checkpointDir = Some(ckpt)).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    assert(labels.size === 10)
    assert(labels.values.toSet === Set(0L))
    // the reliable files actually landed in the requested dir
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0)
  }

  test("containmentPairs: an excerpt scores high containment in its container " +
      "but low jaccard, direction matters, and the result is the exact scan's") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val excerpt = (5 to 12).map(i => s"w$i").mkString(" ")   // 8 words inside base
    val docs2 = Seq((0L, base), (1L, excerpt), (2L, "x y z q r s t u v w")).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs2, "doc_id", n = 3, minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("containment")).toMap
    // excerpt(1) ⊂ base(0): containment 1.0 in that direction only
    assert(out((1L, 0L)) === 1.0)
    assert(!out.contains((0L, 1L)))  // base is NOT contained in the excerpt
    assert(!out.keySet.exists { case (a, b) => a == 2L || b == 2L })
    // while jaccard for the same pair is small (6 of 28 shingles)
    val j = Dedup.jaccardPairs(docs2, "doc_id", minJaccard = 0.01).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(j((0L, 1L)) < 0.3)
    // prefix-filtered result ≡ exhaustive directional scan on a dense fixture
    val rnd = new scala.util.Random(11)
    val pool = Vector("a", "b", "c", "d", "e", "f")
    val dense = (0L until 25L).map { i =>
      (i, Vector.fill(12)(pool(rnd.nextInt(pool.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val pf = Dedup.containmentPairs(dense, "doc_id", minContainment = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("containment"))).toSet
    // exhaustive reference: score every ordered pair via the candidate-free path
    val ids = (0L until 25L)
    val allPairs = ids.flatMap(a => ids.filter(_ != a).map(b => (a, b))).toDF("doc_a", "doc_b")
    val exact = Dedup.exactJaccardForPairs(dense, allPairs, "doc_id", minJaccard = 0.0)
      .withColumn("containment", round(col("inter").cast("double") / col("size_a"), 6))
      .filter(col("containment") >= 0.5)
      .select("doc_a", "doc_b", "containment").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("containment"))).toSet
    assert(pf === exact)
  }

  test("prefixFilterJaccardPairs ≡ exact all-pairs at several thresholds " +
      "(the prefix guarantee, including boundary pairs)") {
    import spark.implicits._
    // words drawn from a small pool -> many cross-doc shared shingles and
    // pairs landing near every threshold; seeded for reproducibility
    val rnd = new scala.util.Random(7)
    val pool = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val base = Vector.fill(30)(pool(rnd.nextInt(pool.size)))
    val docs2 = (0L until 40L).map { i =>
      // mutate a shared base at increasing rates -> full jaccard spectrum
      val words = base.map(w => if (rnd.nextInt(10) < i % 10) pool(rnd.nextInt(pool.size)) else w)
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val exact = Dedup.jaccardPairs(docs2, "doc_id", minJaccard = t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toSet
      val pf = Dedup.prefixFilterJaccardPairs(docs2, "doc_id", minJaccard = t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toSet
      assert(pf === exact, s"threshold $t")
      assert(exact.nonEmpty, s"degenerate fixture at $t")
    }
  }

  test("df stop-list cap preserves exactness on a boilerplate-heavy corpus, " +
      "including mostly-stopword docs (the heavy-residue group)") {
    import spark.implicits._
    // Adversarial shape for the exact joins: every doc shares an 8-word
    // boilerplate header (its shingles reach df ≈ N, stopword-grade) and
    // a few docs are ENTIRELY boilerplate — the req ≤ 0 class that must
    // route through the uncapped fallback for the result to stay exact.
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ")
    val rnd = new scala.util.Random(13)
    val pool = Vector("u", "v", "w", "x", "y", "z")
    val docs2 = (0L until 30L).map { i =>
      val body =
        if (i % 7 == 0) "" // pure-boilerplate doc: all shingles stopword-grade
        else Vector.fill(6)(pool(rnd.nextInt(pool.size))).mkString(" ")
      (i, s"$boiler $body".trim)
    }.toDF("doc_id", "text")
    for (ratio <- Seq(0.1, 0.3, 1.0)) {
      val jac = Dedup.prefixFilterJaccardPairs(docs2, "doc_id",
        minJaccard = 0.5, maxDfRatio = ratio).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toSet
      val jacRef = Dedup.jaccardPairs(docs2, "doc_id", minJaccard = 0.5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toSet
      assert(jac === jacRef, s"jaccard ratio=$ratio")
      assert(jacRef.nonEmpty)
      val con = Dedup.containmentPairs(docs2, "doc_id",
        minContainment = 0.7, maxDfRatio = ratio).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("containment"))).toSet
      val ids = (0L until 30L)
      val allPairs = ids.flatMap(a => ids.filter(_ != a).map(b => (a, b)))
        .toDF("doc_a", "doc_b")
      val conRef = Dedup.exactJaccardForPairs(docs2, allPairs, "doc_id",
        minJaccard = 0.0)
        .withColumn("containment", round(col("inter").cast("double") / col("size_a"), 6))
        .filter(col("containment") >= 0.7)
        .select("doc_a", "doc_b", "containment").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("containment"))).toSet
      assert(con === conRef, s"containment ratio=$ratio")
      assert(conRef.nonEmpty)
    }
  }

  test("incrementalJaccardNearDups finds batch-vs-corpus and within-batch " +
      "near-dups without re-pairing the corpus, keeping the earlier key senior") {
    import spark.implicits._
    val phrase = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq(
      (1L, phrase),
      (2L, "completely unrelated corpus text with many distinct tokens here"),
      (3L, "another standing document about something else entirely today"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, phrase),                                    // dup of corpus 1
      (11L, phrase + " extra"),                         // near-dup of 1 and 10
      (12L, "fresh novel content nothing matches this at all ever"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalJaccardNearDups(batch, corpus, "doc_id",
        minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getAs[Double]("jaccard"), r.getAs[String]("source")))).toMap
    assert(out((10L, 1L))._1 === 1.0 && out((10L, 1L))._2 === "corpus")
    assert(out((11L, 1L))._2 === "corpus" && out((11L, 1L))._1 >= 0.5)
    // within-batch: senior (earlier) key is the match side, never reversed
    assert(out((11L, 10L))._2 === "batch")
    assert(!out.contains((10L, 11L)))
    // corpus never pairs with itself; the novel doc pairs with nothing
    assert(out.keySet.forall { case (n2, _) => n2 >= 10L })
    assert(!out.keySet.exists { case (n2, m2) => n2 == 12L || m2 == 12L })
  }

  test("capHeavyDocs mode: precision-exact subset, losing EXACTLY the pairs " +
      "whose overlap is all stopword-grade (the documented recall cut)") {
    import spark.implicits._
    // 10 docs all carrying a 10-word boilerplate block; doc 0 and 1 are
    // PURE boilerplate (their containment in everyone rides only on stop
    // shingles), docs 2-9 add distinct unique tails except 2 and 3 which
    // share their tail (a real non-boilerplate near-dup pair).
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    val docs2 = ((0L to 1L).map(i => (i, boiler)) ++
      (2L to 3L).map(i => (i, s"$boiler shared tail words here")) ++
      (4L to 9L).map(i => (i, s"$boiler tail$i only$i words$i"))).toDF("doc_id", "text")
    val ratio = 0.5 // the boilerplate shingles (df = 10 = N) are stop-listed
    val exact = Dedup.containmentPairs(docs2, "doc_id",
      minContainment = 0.9, maxDfRatio = ratio).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("containment")).toMap
    val capped = Dedup.containmentPairs(docs2, "doc_id",
      minContainment = 0.9, maxDfRatio = ratio, capHeavyDocs = true).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("containment")).toMap
    // subset with identical scores (precision untouched)
    capped.foreach { case (k, v) => assert(exact(k) === v, s"score drift at $k") }
    // the pure-boilerplate docs 0/1 are contained in EVERYONE exactly;
    // capped mode drops precisely those boilerplate-only containments
    assert(exact.keySet.filter(_._1 == 0L).map(_._2) === (1L to 9L).toSet)
    assert(!capped.keySet.exists(p => p._1 <= 1L || p._2 <= 1L))
    // while the real shared-tail pair 2<->3 (common NON-stop shingles
    // exist) survives the cut in both directions
    assert(capped.contains((2L, 3L)) && capped.contains((3L, 2L)))
    // and the lost set is exactly characterized: every dropped pair has
    // zero common non-stop shingles beyond the boilerplate block
    val dropped = exact.keySet -- capped.keySet
    assert(dropped.nonEmpty && dropped.forall(p => p._1 <= 1L || p._2 <= 1L))
  }

  test("keepRepresentatives keeps the best-quality doc per cluster, " +
      "singletons keep themselves, transitive chains collapse to one") {
    import org.apache.spark.sql.functions._
    // cluster {1,2,3} via chain 1-2, 2-3 (1 and 3 never paired directly);
    // 4 is a singleton; quality favors 2
    val docs = Seq((1L, 10L), (2L, 99L), (3L, 10L), (4L, 5L))
      .toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.keepRepresentatives(docs, pairs, "doc_id", "quality")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Boolean]("is_kept")))).toMap
    assert(out === Map(
      1L -> ((1L, false)), 2L -> ((1L, true)), 3L -> ((1L, false)),
      4L -> ((4L, true))))
    // quality ties break to the lowest id
    val tied = Dedup.keepRepresentatives(
      Seq((7L, 1L), (8L, 1L)).toDF("doc_id", "quality"),
      Seq((7L, 8L)).toDF("doc_a", "doc_b"), "doc_id", "quality")
      .filter(col("is_kept")).collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(tied === Seq(7L))
    // exactly one keeper per cluster, always
    assert(Dedup.keepRepresentatives(docs, pairs, "doc_id", "quality")
      .groupBy("cluster_id").agg(sum(when(col("is_kept"), 1).otherwise(0)).as("k"))
      .filter(col("k") =!= 1).count() === 0L)
  }

  test("leakageSafeSplit: near-dup clusters never straddle splits; " +
      "deterministic and salt-sensitive; quotas roughly honored") {
    import org.apache.spark.sql.functions._
    val docs = (1L to 300L).toDF("doc_id")
    // chains of 3: (1,2,3), (4,5,6), ... — 100 clusters
    val pairs = (1L to 300L).filter(_ % 3 != 0)
      .map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.leakageSafeSplit(docs, pairs, "doc_id")
    // zero straddling pairs: every cluster maps to ONE split
    assert(out.groupBy("cluster_id")
      .agg(countDistinct(col("data_split")).as("k"))
      .filter(col("k") =!= 1).count() === 0L)
    // distribution near 70/20/10 at cluster granularity
    val frac = out.filter(col("data_split") === "train").count().toDouble / 300
    assert(frac > 0.5 && frac < 0.9, s"train fraction $frac")
    // deterministic; a different salt re-deals
    val again = Dedup.leakageSafeSplit(docs.repartition(7), pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val base = out.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(again === base)
    val other = Dedup.leakageSafeSplit(docs, pairs, "doc_id", salt = "split1")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(other !== base)
  }
}
