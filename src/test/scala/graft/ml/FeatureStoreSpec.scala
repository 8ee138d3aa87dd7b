package graft.ml

import graft.SparkSpec

/** The three feature-store invariants the reference's integration lambda
  * guarantees (reference/lambda/feature_store_integration/
  * lambda_function.py:104-266 ingest/version/lineage, :329-355 keyed get),
  * asserted explicitly and independently:
  *
  *  1. every ingest increments the group version by exactly one and
  *     becomes the new latest;
  *  2. every ingest appends exactly one lineage record carrying the
  *     (group, version, row count, key) of that ingest — an append-only
  *     audit trail;
  *  3. the online keyed get round-trips the latest version's values for
  *     the requested keys, and only those.
  */
class FeatureStoreSpec extends SparkSpec {
  import spark.implicits._

  private val ts = java.time.LocalDateTime.parse("2024-03-01T00:00:00")

  test("invariant 1: ingest bumps the version by one; latest tracks it") {
    val root = tempDir("fsv")
    val fs = new FeatureStore(spark, root)
    assert(fs.latestVersion("g").isEmpty)
    val vs = (1 to 3).map { i =>
      fs.ingest("g", Seq((1L, i.toDouble)).toDF("id", "score"), "id", ts)
    }
    assert(vs === Seq(1, 2, 3))
    assert(fs.latestVersion("g").contains(3))
    assert(fs.versions("g") === Seq(1, 2, 3))
    // versions are per group: a second group starts at 1 again
    assert(fs.ingest("h", Seq((1L, 0.0)).toDF("id", "score"), "id", ts) === 1)
    assert(fs.latestVersion("g").contains(3))
  }

  test("invariant 2: one lineage record per ingest with that ingest's " +
      "group/version/rows/key") {
    val root = tempDir("fsl")
    val fs = new FeatureStore(spark, root)
    fs.ingest("cust", Seq((1L, 0.5), (2L, 0.7)).toDF("id", "score"), "id", ts)
    fs.ingest("cust", Seq((1L, 0.6), (2L, 0.8), (3L, 0.9)).toDF("id", "score"), "id", ts)
    fs.ingest("ord", Seq(("a", 1L)).toDF("order_id", "n"), "order_id", ts)
    val recs = fs.lineage().map { line =>
      // each record is one JSON object — parse it rather than substring-match
      val m = line.stripPrefix("{").stripSuffix("}").split(",").map { kv =>
        val Array(k, v) = kv.split(":", 2)
        k.replaceAll("\"", "") -> v.replaceAll("\"", "")
      }.toMap
      (m("group"), m("version").toInt, m("rows").toLong, m("key"))
    }
    assert(recs === Seq(
      ("cust", 1, 2L, "id"),
      ("cust", 2, 3L, "id"),
      ("ord", 1, 1L, "order_id")))
  }

  test("invariant 3: keyed get returns the latest version's values for " +
      "exactly the requested keys") {
    val root = tempDir("fsk")
    val fs = new FeatureStore(spark, root)
    fs.ingest("cust", Seq((1L, 0.5), (2L, 0.7)).toDF("id", "score"), "id", ts)
    fs.ingest("cust", Seq((1L, 0.6), (2L, 0.8), (3L, 0.9)).toDF("id", "score"), "id", ts)
    val got = fs.getByKeys("cust", "id", Seq(1L, 3L))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("score")).toMap
    // values come from v2 (the latest), never the stale v1 rows
    assert(got === Map(1L -> 0.6, 3L -> 0.9))
    // a key absent from the store yields nothing, not an error
    assert(fs.getByKeys("cust", "id", Seq(42L)).count() === 0L)
  }
}
