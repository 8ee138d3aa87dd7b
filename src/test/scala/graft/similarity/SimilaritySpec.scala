package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // 20 deterministic random vectors + one planted near-copy of vec 0.
  private lazy val vecs: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(3)
    val base = (0L until 20L).map(i => i -> Seq.fill(16)(rnd.nextGaussian().toFloat))
    val near = 20L -> base.head._2.map(x => x + 0.01f)
    base :+ near
  }
  private lazy val df = vecs.toDF("vec_id", "embedding")

  test("brute-force top-1 of vec 0 is its planted near-copy") {
    val top = Similarity.bruteForceTopK(df, "vec_id", col("vec_id") === 0, k = 3)
      .filter(col("rank") === 1).collect().head
    assert(top.getAs[Long]("neighbor_id") === 20L)
    assert(top.getAs[Double]("cosine") > 0.999)
  }

  test("brute-force cosine matches driver-side sequential computation") {
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- ad.indices) { dot += ad(i) * bd(i); na += ad(i) * ad(i); nb += bd(i) * bd(i) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = Similarity.bruteForceTopK(df, "vec_id", col("vec_id") === 0, k = 20)
      .collect().map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Double]("cosine")).toMap
    val v0 = vecs.head._2
    for ((id, v) <- vecs.drop(1))
      assert(got(id) === cos(v0, v), s"vec $id")
  }

  test("LSH bucketed top-k recalls the planted near-dup (same bucket by construction)") {
    val r = Similarity.lshTopK(df, "vec_id", col("vec_id") === 0, k = 3, nPlanes = 4)
      .collect().map(x => x.getAs[Long]("neighbor_id"))
    assert(r.contains(20L)) // near-identical vector lands in vec 0's bucket
  }

  test("IVF top-k recalls the planted near-copy and matches brute cosines") {
    val r = Similarity.ivfTopK(df, "vec_id", col("vec_id") === 0, k = 3,
      nClusters = 4, nProbe = 2)
      .collect()
    assert(r.map(_.getAs[Long]("neighbor_id")).contains(20L))
    val brute = Similarity.bruteForceTopK(df, "vec_id", col("vec_id") === 0, k = 20)
      .collect().map(x => x.getAs[Long]("neighbor_id") -> x.getAs[Double]("cosine")).toMap
    r.foreach(x => assert(brute(x.getAs[Long]("neighbor_id")) === x.getAs[Double]("cosine")))
  }

  test("recallAtK is 1.0 when approx equals exact, and counts partial hits") {
    val exact = Similarity.bruteForceTopK(df, "vec_id", col("vec_id") < 5, k = 3)
    val full = Similarity.recallAtK(exact, exact, k = 3).collect().head
    assert(full.getAs[Long]("n_queries") === 5L)
    assert(full.getAs[Long]("hits") === 15L)
    assert(full.getAs[Double]("recall") === 1.0)
    val half = Similarity.recallAtK(exact.filter(col("rank") <= 2), exact, k = 3)
      .collect().head
    assert(half.getAs[Long]("hits") === 10L)
    assert(math.abs(half.getAs[Double]("recall") - 0.666667) < 1e-9)
  }

  test("int8 quantization codes stay in range and round-trip within qscale/2") {
    val rnd = new scala.util.Random(9)
    val vecs = (1L to 50L).map(i => (i, Array.fill(32)(rnd.nextGaussian().toFloat))) :+
      (99L, Array.fill(32)(2.5f)) // flat vector edge
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.dequantizeInt8(Similarity.quantizeInt8(df)).collect()
    for (r <- out) {
      val orig = r.getAs[scala.collection.Seq[Float]]("embedding")
      val dq = r.getAs[scala.collection.Seq[Float]]("embedding_dq")
      val q = r.getAs[scala.collection.Seq[Int]]("q")
      val scale = r.getAs[Double]("qscale")
      assert(q.forall(c => c >= 0 && c <= 255))
      // per-component error bounded by half a code step (+ float cast slack)
      orig.zip(dq).foreach { case (a, b) =>
        assert(math.abs(a - b) <= scale / 2 + 1e-6, s"vec ${r.getLong(0)}")
      }
    }
    // flat vector: all-zero codes, exact round-trip
    val flat = out.find(_.getLong(0) == 99L).get
    assert(flat.getAs[scala.collection.Seq[Int]]("q").forall(_ === 0))
    assert(flat.getAs[scala.collection.Seq[Float]]("embedding_dq").forall(_ === 2.5f))
  }

  test("PQ: codebook shape, deterministic encoding, identical vectors get " +
      "identical codes") {
    val books = Similarity.pqTrain(df, m = 4, kCodes = 4, seed = 7L)
    val rows = books.collect()
    assert(rows.length === 16) // m * kCodes
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSet ===
      (for (j <- 0 until 4; c <- 0 until 4) yield (j, c)).toSet)
    assert(rows.forall(_.getAs[scala.collection.Seq[Double]]("centroid").length === 4))
    val codes = Similarity.pqEncode(df, "vec_id", books, m = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(codes.size === 21 * 4)
    assert(codes.values.forall(c => c >= 0 && c < 4))
    // vec 20 is vec 0 + 0.01 per component: tiny perturbation, the codes
    // should agree in (at least) most subspaces; exact-equality of
    // IDENTICAL subvectors is checked structurally below
    val sameVec = Seq((100L, vecs.head._2), (101L, vecs.head._2))
      .toDF("vec_id", "embedding")
    val dup = Similarity.pqEncode(sameVec, "vec_id",
      Similarity.pqTrain(df, m = 4, kCodes = 4, seed = 7L), m = 4).collect()
      .groupBy(_.getInt(1)).values
    assert(dup.forall(g => g.map(_.getInt(2)).distinct.length === 1))
  }

  test("PQ-ADC top-1 of vec 0 is its planted near-copy, and every ADC " +
      "distance is a valid code-lookup sum") {
    val out = Similarity.pqAdcTopKFor(df, "vec_id",
      Seq(0L).toDF("vec_id"), k = 3, m = 4, kCodes = 4, seed = 7L).collect()
    assert(out.length === 3)
    val top = out.find(_.getAs[Long]("rank") == 1L).get
    assert(top.getAs[Long]("neighbor_id") === 20L)
    // ranks are dense 1..k and distances non-decreasing in rank
    val byRank = out.sortBy(_.getAs[Long]("rank"))
    assert(byRank.map(_.getAs[Long]("rank")).toSeq === Seq(1L, 2L, 3L))
    assert(byRank.sliding(2).forall(p =>
      p(0).getAs[Double]("adc_dist") <= p(1).getAs[Double]("adc_dist")))
  }

  test("IVFADC (residual PQ inside probed cells) top-1 of vec 0 is its " +
      "planted near-copy") {
    val out = Similarity.ivfPqTopKFor(df, "vec_id", Seq(0L).toDF("vec_id"),
      k = 3, nClusters = 4, nProbe = 2, m = 4, kCodes = 4, seed = 7L).collect()
    assert(out.nonEmpty)
    val top = out.find(_.getAs[Long]("rank") == 1L).get
    // the near-copy shares the query's coarse cell (they are ~identical),
    // so its residual codes match the query's and it wins the ADC scan
    assert(top.getAs[Long]("neighbor_id") === 20L)
    // candidates only from probed cells: never more than the corpus size,
    // ranks dense from 1
    assert(out.map(_.getAs[Long]("rank")).sorted.toSeq ===
      (1L to out.length.toLong))
  }

  test("VectorIndexStore round-trip: a saved-then-loaded index answers " +
      "identically to the fresh one (build once, query many)") {
    def canon(r: org.apache.spark.sql.DataFrame) = r.collect()
      .map(x => (x.getAs[Long]("query_id"), x.getAs[Long]("neighbor_id"),
        x.getAs[Double]("adc_dist"), x.getAs[Long]("rank"))).sortBy(t => (t._1, t._4)).toSeq
    val q = Seq(0L, 5L).toDF("vec_id")
    val (books, codes) = Similarity.buildPqIndex(df, "vec_id", m = 4, kCodes = 4, seed = 7L)
    val fresh = canon(Similarity.pqAdcTopKWithIndex(df, "vec_id", books, codes, q, k = 3, m = 4))
    val dir = tempDir("vidx")
    VectorIndexStore.savePq(dir, books, codes)
    val (b2, c2) = VectorIndexStore.loadPq(spark, dir)
    assert(canon(Similarity.pqAdcTopKWithIndex(df, "vec_id", b2, c2, q, k = 3, m = 4)) === fresh)
    // same for the IVFADC triple
    val (cent, ib, ic) = Similarity.buildIvfPqIndex(df, "vec_id",
      nClusters = 4, m = 4, kCodes = 4, seed = 7L)
    val ifresh = canon(Similarity.ivfPqTopKWithIndex(df, "vec_id", cent, ib, ic, q,
      k = 3, nProbe = 2, m = 4))
    val dir2 = tempDir("vidx2")
    VectorIndexStore.saveIvfPq(dir2, cent, ib, ic)
    val (lc, lb, lk) = VectorIndexStore.loadIvfPq(spark, dir2)
    assert(canon(Similarity.ivfPqTopKWithIndex(df, "vec_id", lc, lb, lk, q,
      k = 3, nProbe = 2, m = 4)) === ifresh)
  }

  test("LSH results are a subset of brute-force candidates with correct cosines") {
    val brute = Similarity.bruteForceTopK(df, "vec_id", col("vec_id") < 5, k = 20)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cosine")).toMap
    val lsh = Similarity.lshTopK(df, "vec_id", col("vec_id") < 5, k = 5, nPlanes = 4)
      .collect()
    for (r <- lsh) {
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(brute(key) === r.getAs[Double]("cosine"))
    }
  }

  test("mutual nearest neighbors: the planted near-copy pair is mutual, " +
      "hub matches are not") {
    val out = Similarity.mutualNearestNeighbors(df, "vec_id").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // vec 20 is the planted near-copy of vec 0: each is the other's top-1
    assert(out.contains((0L, 20L)))
    // mutuality: every emitted pair appears once, a < b, no self-pairs
    assert(out.forall { case (a, b) => a < b })
    // a one-directional top-1 exists for all 21 vectors; mutual pairs can
    // cover at most half of them
    assert(out.size <= 10)
    // three-vector hand case: c is between a and b but closest to a; a's
    // top-1 is c and c's top-1 is a -> exactly one mutual pair (a, c)
    val tri = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),        // a
      (2L, Seq(0.9f, 0.1f, 0f, 0f)),    // c: closest to a
      (3L, Seq(0.5f, 0.6f, 0f, 0f)))    // b: top-1 is c, but c prefers a
      .toDF("vec_id", "embedding")
    val t = Similarity.mutualNearestNeighbors(tri, "vec_id").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(t === Set((1L, 2L)))
  }

  test("mean pairwise cosine: centroid identity matches the explicit O(n^2) scan") {
    // group a: 3 copies of one direction -> mean 1; group b: +x, -x -> -1;
    // group c: orthogonal axes -> 0; group d: the random fixture vectors
    val grouped =
      Seq(("a", Seq(1f, 0f, 0f, 0f)), ("a", Seq(2f, 0f, 0f, 0f)), ("a", Seq(5f, 0f, 0f, 0f)),
        ("b", Seq(1f, 1f, 0f, 0f)), ("b", Seq(-3f, -3f, 0f, 0f)),
        ("c", Seq(1f, 0f, 0f, 0f)), ("c", Seq(0f, 2f, 0f, 0f)), ("c", Seq(0f, 0f, 3f, 0f)))
        .toDF("grp", "embedding")
    val out = Similarity.meanPairwiseCosine(grouped, "grp")
      .collect().map(r => r.getAs[String]("grp") -> r.getAs[Double]("mean_cosine")).toMap
    assert(math.abs(out("a") - 1.0) < 1e-4)
    assert(math.abs(out("b") + 1.0) < 1e-4)
    assert(math.abs(out("c")) < 1e-4)
    // identity vs explicit pairwise mean on the 21 random fixture vectors
    def unit(v: Seq[Float]): Seq[Double] = {
      val d = v.map(_.toDouble); val n = math.sqrt(d.map(x => x * x).sum)
      d.map(_ / n)
    }
    val us = vecs.map { case (_, v) => unit(v) }
    val pairs = for (i <- us.indices; j <- us.indices if i < j)
      yield us(i).zip(us(j)).map { case (x, y) => x * y }.sum
    val expected = pairs.sum * 2 / (us.size.toDouble * (us.size - 1))
    val got = Similarity.meanPairwiseCosine(df.withColumn("grp", lit("g")), "grp")
      .collect().head.getAs[Double]("mean_cosine")
    // micro-quantization bias is bounded by ~2*d*1e-6
    assert(math.abs(got - expected) < 2 * 16 * 1e-6, s"$got vs $expected")
    // n = 1 groups produce no row (no pair exists); zero vectors are dropped
    val tiny = Seq(("solo", Seq(1f, 2f, 3f, 4f)), ("z", Seq(0f, 0f, 0f, 0f)),
      ("z", Seq(1f, 0f, 0f, 0f))).toDF("grp", "embedding")
    assert(Similarity.meanPairwiseCosine(tiny, "grp").count() === 0L)
    // partitioning independence: exact integer sums underneath
    val rep = Similarity.meanPairwiseCosine(
      df.withColumn("grp", lit("g")).repartition(7), "grp")
      .collect().head.getAs[Double]("mean_cosine")
    assert(rep === got)
  }

  test("truncationRecall: prefix ordering divergence measured, full-width prefix is lossless") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // q=(1,0,0,0); full top-2 = {B(0.90), C(0.85)}; the 2-dim prefix
    // ranks A and C at cosine exactly 1.0 -> trunc top-2 = {A, C};
    // intersection = {C} -> hits 1, recall 500000
    val pts = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0.6f, 0f, 0.8f, 0f)),       // A: strong in dims 1-2 only
      (2L, Seq(0.9f, 0.43589f, 0f, 0f)),   // B: full-width best
      (3L, Seq(0.85f, 0f, 0f, 0.526f)),    // C: good both ways
      (4L, Seq(0.2f, 0.9f, 0f, 0f)))       // D: never close
      .toDF("vec_id", "embedding")
    val r = Similarity.truncationRecall(pts, "vec_id", col("vec_id") < 1,
        k = 2, dims = 2).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("hits") === 1L)
    assert(r.head.getAs[Long]("recall_micros") === 500000L)
    // a prefix of the full width changes nothing: recall exactly 1
    val full = Similarity.truncationRecall(pts, "vec_id", col("vec_id") < 1,
        k = 2, dims = 4).collect()
    assert(full.head.getAs[Long]("recall_micros") === 1000000L)
  }

  test("ivfAssign: exact argmin cells, ties to the lower cell id, and a " +
      "batch appended to a frozen index is queryable without refit") {
    val centroids = Seq((0, Seq(1.0, 1.0)), (1, Seq(10.0, 0.0)), (2, Seq(0.0, 10.0)))
      .toDF("cell", "centroid")
    val corpus = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(9f, 1f)), (3L, Seq(1f, 9f)),
      // (5.5, 0.5): d2 = 4.5^2 + 0.5^2 to BOTH cells 0 and 1 (exact in
      // binary floats) -> tie -> lower cell id 0
      (4L, Seq(5.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val assigned = Similarity.ivfAssign(corpus, "vec_id", centroids)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("cell")).toMap
    assert(assigned === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 0))
    // append a batch near cell 1 under the SAME frozen centroids; the
    // index finds the batch vector as the corpus query's top neighbor
    val batch = Seq((10L, Seq(9.1f, 1.1f))).toDF("vec_id", "embedding")
    val all = Similarity.ivfAssign(corpus, "vec_id", centroids)
      .unionByName(Similarity.ivfAssign(batch, "vec_id", centroids))
    val run = Similarity.ivfTopKFromIndex(all,
      a => a.filter(col("vec_id") === 2L), centroids, k = 1, nProbe = 1)
      .collect()
    assert(run.length === 1)
    assert(run.head.getAs[Long]("neighbor_id") === 10L,
      "the appended batch vector must surface through the frozen index")
    // incremental assignment == assigning the union (same pure function)
    val unionAssigned = Similarity.ivfAssign(corpus.unionByName(batch),
      "vec_id", centroids).collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("cell")).toMap
    assert(all.collect().map(r => r.getLong(0) -> r.getAs[Int]("cell")).toMap
      === unionAssigned)
  }

  test("ivfAssign big-codebook fallback: the broadcast argmin returns the " +
      "IDENTICAL assignment as the compiled expression, ties included") {
    // irrational-ish coordinates so double arithmetic is exercised for
    // real, PLUS the exact-tie row from the test above — the fallback
    // must reproduce both the values and the lower-cell tie-break
    // the tie pair lives far from the sin-noise codebook so nothing can
    // slip between it and its two equidistant cells
    val centroids = ((0 until 40).map { c =>
      (c, Seq.tabulate(8)(j => math.sin(c * 8 + j + 1) * 3.0))
    } :+ ((40, Seq(101.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)))
      :+ ((41, Seq(110.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))))
      .toDF("cell", "centroid")
    val pts = ((1 to 200).map { i =>
      (i.toLong, Seq.tabulate(8)(j => (math.cos(i * 8 + j) * 3.0).toFloat))
    } :+ ((300L, Seq(105.5f, 0.5f, 0f, 0f, 0f, 0f, 0f, 0f))))
      .toDF("vec_id", "embedding")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), (r.getSeq[Double](1), r.getDouble(2),
        r.getAs[Int]("cell")))).toMap
    val viaExpr = asMap(Similarity.ivfAssign(pts, "vec_id", centroids,
      maxExprDoubles = Int.MaxValue))
    val viaBroadcast = asMap(Similarity.ivfAssign(pts, "vec_id", centroids,
      maxExprDoubles = 0))
    assert(viaBroadcast === viaExpr)
    // the tie row really tied and broke to the lower cell on BOTH paths
    assert(viaExpr(300L)._3 === 40)
  }
}
