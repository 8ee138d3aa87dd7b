package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def writeEvents(dir: String): Unit =
    Seq(
      (1L, "2024-01-01 10:05:00", 101L, "click", 1.0),
      (2L, "2024-01-01 10:15:00", 101L, "click", 2.0),
      (3L, "2024-01-01 11:05:00", 102L, "purchase", 10.0),
      (3L, "2024-01-01 11:05:00", 102L, "purchase", 10.0), // duplicate id+ts
      (4L, "2024-01-01 12:30:00", 101L, "click", 3.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(dir)

  test("streaming corpus curation matches batch curation on the same documents") {
    import graft.text.CorpusCuration
    val good = "the quick brown fox jumps over the lazy dog and then runs off to the woods again with friends "
    val docs = Seq(
      (1L, "en", good * 2, "2024-01-01 10:00:00"),
      (2L, "en", good * 2, "2024-01-01 10:01:00"),  // exact dup of 1
      (3L, "de", good * 2, "2024-01-01 10:02:00"),  // wrong language
      (4L, "en", "too short text here", "2024-01-01 10:03:00"),
      (5L, "en", (good + "extra tokens in this one ") * 2, "2024-01-01 10:04:00")
    ).toDF("doc_id", "lang", "text", "ingest_ts")
      .withColumn("ingest_ts", col("ingest_ts").cast("timestamp"))
    val dir = tempDir("stream-docs")
    docs.write.mode("overwrite").parquet(dir)
    val stream = Streaming.fileStream(spark, dir, docs.schema)
    val out = Streaming.runToMemory(
      Streaming.curatedDocumentStream(stream), "curated_stream")
    val streamFps = out.select("fp").collect().map(_.getString(0)).toSet
    val batchFps = CorpusCuration.curate(docs.drop("ingest_ts"))
      .select("fp").collect().map(_.getString(0)).toSet
    assert(streamFps === batchFps)      // same surviving content either way
    assert(out.count() === batchFps.size) // dups collapsed in-stream too
  }

  test("file stream + watermarked window aggregation over AvailableNow") {
    val dir = tempDir("stream-in")
    writeEvents(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = Streaming.fileStream(spark, dir, schema)
    // Complete mode: with Append, a 2h watermark never closes any window
    // over this finite input (max ts 12:30 -> watermark 10:30), so nothing
    // would be emitted — watermark eviction is exercised implicitly.
    val out = Streaming.runToMemory(
      Streaming.windowedEventCounts(stream), "win_counts", OutputMode.Complete)
    val rows = out.collect().map(r =>
      (r.getAs[java.sql.Timestamp]("window_start").toString, r.getAs[String]("event_type")) ->
        r.getAs[Long]("n")).toMap
    assert(rows(("2024-01-01 10:00:00.0", "click")) === 2L)
    assert(rows(("2024-01-01 11:00:00.0", "purchase")) === 2L)
    assert(rows(("2024-01-01 12:00:00.0", "click")) === 1L)
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    val dir = tempDir("stream-in2")
    writeEvents(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = Streaming.fileStream(spark, dir, schema)
    val out = Streaming.runToMemory(
      Streaming.dedupedStream(stream, "event_id"), "deduped")
    assert(out.count() === 4) // 5 rows, one exact duplicate dropped
  }

  test("foreachBatch upsert: last write wins per key across batches") {
    val in = tempDir("ups-in")
    val target = tempDir("ups-t") + "/state"
    val ckpt = tempDir("ups-c")
    def write(name: String, rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
        .coalesce(1).write.mode("append").parquet(in)
    // seed state with batch 1
    write("b1", Seq((1L, "2024-01-01 10:00:00", "a1"), (2L, "2024-01-01 10:00:00", "b1")))
    val schema = spark.read.parquet(in).schema
    Streaming.upsertStream(Streaming.fileStream(spark, in, schema), "id", "ts", target, ckpt)
    // batch 2: update key 1 (newer), add key 3, and an older duplicate of 1 in-batch
    write("b2", Seq(
      (1L, "2024-01-01 11:00:00", "a2"), (1L, "2024-01-01 09:00:00", "a0"),
      (3L, "2024-01-01 10:30:00", "c1")))
    Streaming.upsertStream(Streaming.fileStream(spark, in, schema), "id", "ts", target, ckpt)
    val state = spark.read.parquet(target).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(state === Map(1L -> "a2", 2L -> "b1", 3L -> "c1"))
  }

  test("streaming dedup ingestion: corpus grows only by novel docs, the " +
      "ledger records batch- and corpus-sourced matches") {
    val in = tempDir("ded-in")
    val corpus = tempDir("ded-c") + "/corpus"
    val ledger = tempDir("ded-l") + "/matches"
    val ckpt = tempDir("ded-k")
    val phrase = "the quick brown fox jumps over the lazy dog again and again"
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    // batch 1: A plus an in-batch duplicate B -> only A lands in the corpus
    write(Seq((1L, phrase), (2L, phrase)))
    val schema = spark.read.parquet(in).schema
    Streaming.dedupIngestStream(Streaming.fileStream(spark, in, schema),
      corpus, ledger, ckpt, "doc_id")
    assert(spark.read.parquet(corpus).collect().map(_.getLong(0)).toSet === Set(1L))
    // batch 2: C duplicates the CORPUS doc A, D is novel -> corpus gains D only
    write(Seq((3L, phrase), (4L, "fresh novel content nothing matches this at all ever")))
    Streaming.dedupIngestStream(Streaming.fileStream(spark, in, schema),
      corpus, ledger, ckpt, "doc_id")
    assert(spark.read.parquet(corpus).collect().map(_.getLong(0)).toSet === Set(1L, 4L))
    val led = spark.read.parquet(ledger).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("match_id"),
        r.getAs[String]("source"))).toSet
    assert(led === Set((2L, 1L, "batch"), (3L, 1L, "corpus")))
  }

  test("streaming pair-graph maintenance: versions commit per batch, the " +
      "final clustering equals a full rebuild over everything ingested") {
    val in = tempDir("pgm-in")
    val corpus = tempDir("pgm-c") + "/corpus"
    val arts = tempDir("pgm-a") + "/artifacts"
    val ckpt = tempDir("pgm-k")
    val tA = "alpha one two three four five six seven eight nine"
    val tB = "bravo uno dos tres cuatro cinco seis siete ocho nueve"
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    // batch 1: family A (two copies) + a B singleton
    write(Seq((1L, tA), (2L, tA), (11L, tB)))
    val schema = spark.read.parquet(in).schema
    Streaming.pairGraphMaintenanceStream(Streaming.fileStream(spark, in, schema),
      corpus, arts, ckpt, "doc_id")
    // bootstrap (empty corpus) committed v1, batch 1 appended as v2
    assert(graft.core.ArtifactStore.latestVersion(spark, arts) === Some(2L))
    // batch 2: a new copy of B arrives -> only B's component re-resolves
    write(Seq((20L, tB)))
    Streaming.pairGraphMaintenanceStream(Streaming.fileStream(spark, in, schema),
      corpus, arts, ckpt, "doc_id")
    assert(graft.core.ArtifactStore.latestVersion(spark, arts) === Some(3L))
    val clusters = graft.core.ArtifactStore.read(spark, arts, "clusters").get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 11L -> 11L, 20L -> 11L))
    // == full rebuild over everything the stream ingested
    val all = spark.read.parquet(corpus)
    val rebuilt = graft.dedup.Dedup.dedupClusters(
      graft.dedup.Dedup.jaccardPairsScalable(all, "doc_id",
        n = 3, minJaccard = 0.5, numHashTables = 8))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === rebuilt)
    // the pre-batch-2 state stays auditable: v2 has no doc 20
    val v2c = graft.core.ArtifactStore.readAt(spark, arts, "clusters", 2L).get
    assert(v2c.filter(col("id") === 20L).count() === 0L)
  }

  test("streaming media fingerprint maintenance: one wrapper serves all " +
      "three grains; a replayed batch adds no duplicate fingerprint rows") {
    import graft.multimodal.Multimodal
    val ids1 = Seq(1L, 2L, 3L).toDF("doc_id")
    val ids2 = Seq(4L, 5L).toDF("doc_id")
    // (grain, night-1 hash frame, night-2 hash frame) — every grain emits
    // (key, dhash), which is the whole point of the shared wrapper
    val grains = Seq(
      ("image",
        Multimodal.dHashes(Multimodal.syntheticBaseImages(ids1, "doc_id"), "img_id"),
        Multimodal.dHashes(Multimodal.syntheticBaseImages(ids2, "doc_id"), "img_id")),
      ("audio",
        Multimodal.audioEnergyHashes(Multimodal.syntheticBaseWavs(ids1, "doc_id"), "aud_id"),
        Multimodal.audioEnergyHashes(Multimodal.syntheticBaseWavs(ids2, "doc_id"), "aud_id")),
      ("video",
        Multimodal.videoTemporalHashes(Multimodal.syntheticBaseY4ms(ids1, "doc_id"), "vid_id"),
        Multimodal.videoTemporalHashes(Multimodal.syntheticBaseY4ms(ids2, "doc_id"), "vid_id")))
    for ((grain, night1, night2) <- grains) {
      val keyCol = night1.columns.head
      val in = tempDir(s"mfm-in-$grain")
      val root = tempDir(s"mfm-a-$grain") + "/store"
      val ckpt = tempDir(s"mfm-k-$grain")
      night1.coalesce(1).write.mode("append").parquet(in)
      val schema = spark.read.parquet(in).schema
      Streaming.mediaFingerprintMaintenanceStream(
        Streaming.fileStream(spark, in, schema), root, ckpt, keyCol)
      val v1 = graft.core.ArtifactStore.latestVersion(spark, root)
      val hashes1 = graft.core.ArtifactStore.read(spark, root, "hashes").get
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(hashes1.map(_.head).toSet === Set(1L, 2L, 3L), s"$grain night 1")

      // REPLAY: a fresh checkpoint re-delivers the same input as batchId
      // 0 — the mark in the marker metadata must skip the commit, so no
      // new version and no duplicate fingerprint rows
      val ckptLost = tempDir(s"mfm-k2-$grain")
      Streaming.mediaFingerprintMaintenanceStream(
        Streaming.fileStream(spark, in, schema), root, ckptLost, keyCol)
      assert(graft.core.ArtifactStore.latestVersion(spark, root) === v1,
        s"$grain: replayed batch must not commit a new version")
      assert(graft.core.ArtifactStore.read(spark, root, "hashes").get
        .collect().map(_.toSeq).toSeq.sortBy(_.toString) === hashes1,
        s"$grain: replayed batch must not duplicate fingerprint rows")

      // night 2 through the ORIGINAL checkpoint appends exactly once
      night2.coalesce(1).write.mode("append").parquet(in)
      Streaming.mediaFingerprintMaintenanceStream(
        Streaming.fileStream(spark, in, schema), root, ckpt, keyCol)
      val keys = graft.core.ArtifactStore.read(spark, root, "hashes").get
        .collect().map(_.getLong(0)).toSeq
      assert(keys.sorted === Seq(1L, 2L, 3L, 4L, 5L), s"$grain night 2")
    }
  }

  test("pair-graph maintenance replay: a batch whose artifact commit " +
      "landed but whose checkpoint offset did not re-runs exactly-once") {
    val corpus = tempDir("pgr-c") + "/corpus"
    val arts = tempDir("pgr-a") + "/artifacts"
    val tA = "alpha one two three four five six seven eight nine"
    val batch = Seq((1L, tA), (2L, tA)).toDF("doc_id", "text")
    val v1 = Streaming.pairGraphMaintenanceBatch(batch, corpus, arts,
      "doc_id", 0.5, batchId = Some(0L))
    val pairs1 = graft.core.ArtifactStore.read(spark, arts, "pairs").get
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val corpus1 = spark.read.parquet(corpus).collect()
      .map(_.getLong(0)).sorted.toSeq

    // foreachBatch replays batch 0: the artifact commit must skip (the
    // batchId rode the marker metadata) and the corpus append must add
    // nothing (key anti-join) — both tables row-identical
    val v2 = Streaming.pairGraphMaintenanceBatch(batch, corpus, arts,
      "doc_id", 0.5, batchId = Some(0L))
    assert(v2 === v1, "a covered batchId must not commit a new version")
    assert(graft.core.ArtifactStore.read(spark, arts, "pairs").get
      .collect().map(_.toSeq).toSeq.sortBy(_.toString) === pairs1)
    assert(spark.read.parquet(corpus).collect()
      .map(_.getLong(0)).sorted.toSeq === corpus1)

    // the harder window: the artifact commit landed but the corpus
    // append crashed before running — the replay completes the corpus
    // without another artifact version
    val batchB = Seq((11L, tA)).toDF("doc_id", "text")
    val v3 = Streaming.pairGraphMaintenanceBatch(batchB, corpus, arts,
      "doc_id", 0.5, batchId = Some(1L))
    assert(v3 === v1 + 1)
    // simulate: remove doc 11 from the corpus (its append "never landed");
    // localCheckpoint materializes the filtered rows before the overwrite
    spark.read.parquet(corpus).filter(col("doc_id") =!= 11L)
      .localCheckpoint()
      .write.mode("overwrite").parquet(corpus)
    val v4 = Streaming.pairGraphMaintenanceBatch(batchB, corpus, arts,
      "doc_id", 0.5, batchId = Some(1L))
    assert(v4 === v3, "the replay must not commit another artifact version")
    assert(spark.read.parquet(corpus).filter(col("doc_id") === 11L).count() === 1L,
      "the replay completes the corpus append the crash lost")
  }

  test("streaming SCD2: changed keys close their version and open a new " +
      "one, history accumulates across micro-batches") {
    val in = tempDir("scd-in")
    val target = tempDir("scd-t") + "/dim"
    val ckpt = tempDir("scd-c")
    def write(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("id", "segment", "ts").withColumn("ts", col("ts").cast("timestamp"))
        .coalesce(1).write.mode("append").parquet(in)
    // batch 1 (as-of 2024-01-01): two keys open their first version
    write(Seq((1L, "bronze", "2024-01-01 10:00:00"),
      (2L, "silver", "2024-01-01 10:00:00")))
    val schema = spark.read.parquet(in).schema
    Streaming.scd2Stream(Streaming.fileStream(spark, in, schema),
      target, ckpt, "id", Seq("segment"), "ts")
    // batch 2 (as-of 2024-02-01): key 1 changes (with an in-batch dup —
    // latest wins), key 2 unchanged, key 3 new
    write(Seq((1L, "gold", "2024-02-01 10:00:00"),
      (1L, "iron", "2024-01-15 10:00:00"),
      (2L, "silver", "2024-02-01 10:00:00"),
      (3L, "bronze", "2024-02-01 10:00:00")))
    Streaming.scd2Stream(Streaming.fileStream(spark, in, schema),
      target, ckpt, "id", Seq("segment"), "ts")
    val dim = spark.read.parquet(target).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("segment"),
        r.getAs[Boolean]("is_current"),
        Option(r.getAs[java.sql.Date]("end_date")).map(_.toString)))
    // key 1: bronze closed at 2024-02-01, gold open (iron never surfaced)
    assert(dim.toSet === Set(
      (1L, "bronze", false, Some("2024-02-01")),
      (1L, "gold", true, None),
      (2L, "silver", true, None),
      (3L, "bronze", true, None)))
  }

  test("streaming drift monitor ledgers one PSI row per micro-batch, " +
      "flat for in-distribution batches and loud for a shifted one") {
    val in = tempDir("drift-in")
    val ledger = tempDir("drift-l") + "/ledger"
    val ckpt = tempDir("drift-c")
    val reference = (1 to 1000).map(_.toDouble).toDF("v")
    def write(rows: Seq[Double]): Unit =
      rows.toDF("v").coalesce(1).write.mode("append").parquet(in)
    // batch 1: same distribution as the reference
    write((1 to 1000).map(_.toDouble))
    val schema = spark.read.parquet(in).schema
    Streaming.driftMonitorStream(Streaming.fileStream(spark, in, schema),
      reference, "v", ledger, ckpt)
    // batch 2: mass collapsed into the top decile — severe drift
    write((901 to 1000).map(_.toDouble))
    Streaming.driftMonitorStream(Streaming.fileStream(spark, in, schema),
      reference, "v", ledger, ckpt)
    val rows = spark.read.parquet(ledger).collect()
      .map(r => r.getAs[Long]("batch_id") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("psi_micros"),
          r.getAs[Long]("n_drifted_bins")))).toMap
    assert(rows.size === 2)
    val (nSame, psiSame, drSame) = rows(0L)
    val (nShift, psiShift, drShift) = rows(1L)
    assert(nSame === 1000L && psiSame < 100000L && drSame === 0L)
    assert(nShift === 100L && psiShift > 1000000L && drShift >= 5L)
  }

  test("dropDuplicatesWithinWatermark also drops a retry whose timestamp differs") {
    val dir = tempDir("stream-in2b")
    Seq(
      (1L, "2024-01-01 10:05:00", 101L, "click", 1.0),
      (1L, "2024-01-01 10:06:30", 101L, "click", 1.0), // redelivery, new ts
      (2L, "2024-01-01 10:15:00", 101L, "click", 2.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = Streaming.fileStream(spark, dir, schema)
    // (id, ts) dedup keeps the redelivery; id-within-watermark drops it
    val exact = Streaming.runToMemory(
      Streaming.dedupedStream(stream, "event_id"), "dedup_exact_b")
    assert(exact.count() === 3)
    val within = Streaming.runToMemory(
      Streaming.dedupedStreamWithinWatermark(
        Streaming.fileStream(spark, dir, schema), "event_id"), "dedup_within_b")
    assert(within.count() === 2)
    assert(within.select("event_id").as[Long].collect().sorted === Array(1L, 2L))
  }

  test("mapGroupsWithState keeps running per-user counts") {
    val dir = tempDir("stream-in3")
    writeEvents(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = Streaming.fileStream(spark, dir, schema)
    val out = Streaming.runToMemory(
      Streaming.runningUserCounts(stream), "running", OutputMode.Update)
    val counts = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts === Map(101L -> 3L, 102L -> 2L))
  }

  test("stream-static join enriches micro-batches against a dimension") {
    val dir = tempDir("stream-in5")
    writeEvents(dir)
    val schema = spark.read.parquet(dir).schema
    val dim = Seq((101L, "alice"), (102L, "bob")).toDF("uid", "name")
    val stream = Streaming.fileStream(spark, dir, schema)
    val out = Streaming.runToMemory(
      Streaming.enrichedStream(stream, dim, "user_id", "uid"), "enriched")
    val names = out.collect().map(r => r.getAs[Long]("user_id") -> r.getAs[String]("name")).toMap
    assert(names === Map(101L -> "alice", 102L -> "bob"))
  }

  test("AvailableNow checkpoint resumes without reprocessing (bookmark semantics)") {
    val in = tempDir("stream-in4")
    val ckpt = tempDir("stream-ckpt")
    val sink = tempDir("stream-out") + "/out"
    writeEvents(in)
    val schema = spark.read.parquet(in).schema
    def runOnce(): Unit = Streaming.runAvailableNow(
      Streaming.fileStream(spark, in, schema).select("event_id", "value"), ckpt, sink)
    runOnce()
    assert(spark.read.parquet(sink).count() === 5)
    runOnce() // nothing new -> no duplicates appended
    assert(spark.read.parquet(sink).count() === 5)
    // new file arrives -> only it is processed
    Seq((9L, 99.0)).toDF("event_id", "value")
      .withColumn("ts", lit("2024-01-02 00:00:00").cast("timestamp"))
      .withColumn("user_id", lit(7L)).withColumn("event_type", lit("click"))
      .withColumn("value", col("value"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(in)
    runOnce()
    assert(spark.read.parquet(sink).count() === 6)
  }

  test("output-mode matrix: Append emits a window only after the watermark passes it") {
    val in = tempDir("stream-in6")
    val ckpt = tempDir("stream-ckpt6")
    val sink = tempDir("stream-out6") + "/out"
    writeEvents(in) // max ts 12:30
    val schema = spark.read.parquet(in).schema
    def runOnce(): Unit = Streaming.runAvailableNow(
      Streaming.windowedEventCounts(
        Streaming.fileStream(spark, in, schema), watermark = "30 minutes"),
      ckpt, sink)
    def emitted(): Map[(String, String), Long] = spark.read.parquet(sink).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start").toString,
        r.getAs[String]("event_type")) -> r.getAs[Long]("n")).toMap
    // run 1: final watermark is 12:00 (12:30 - 30min) — whatever intra-run
    // batching does, the open 12:00 window (holding the 12:30 click) must
    // NOT have been emitted
    runOnce()
    assert(!emitted().keySet.exists(_._1 >= "2024-01-01 12:00:00"))
    // late-arriving files advance the watermark across checkpointed runs:
    // 14:00 pushes it to 13:30 which closes the 12:00 window
    Seq((9L, "2024-01-01 14:00:00", 103L, "click", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("append").parquet(in)
    runOnce()
    Seq((10L, "2024-01-01 15:00:00", 103L, "click", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("append").parquet(in)
    runOnce()
    // each batch emits windows ending at or before the watermark as of the
    // START of the batch (13:30 here — no zero-data finalization batch
    // runs), exactly once each; the 13:00 and 14:00 windows remain open
    assert(emitted() === Map(
      ("2024-01-01 10:00:00.0", "click") -> 2L,
      ("2024-01-01 11:00:00.0", "purchase") -> 2L,
      ("2024-01-01 12:00:00.0", "click") -> 1L))
  }

  test("left-outer stream-stream join emits unmatched rows once state expires") {
    val dir = tempDir("stream-in7")
    def append(rows: (Long, String, Long, String, Double)*): Unit =
      rows.toSeq.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("ts", col("ts").cast("timestamp"))
        .write.mode("append").parquet(dir)
    // click for user 201 never gets a purchase; user 202's purchase has no click
    append((1L, "2024-01-01 10:05:00", 201L, "click", 1.0),
           (2L, "2024-01-01 10:35:00", 202L, "purchase", 9.0))
    val schema = spark.read.parquet(dir).schema
    val ckpt = tempDir("stream-ckpt7")
    val sink = tempDir("stream-out7") + "/out"
    def runOnce(): Unit = {
      def stream() = Streaming.fileStream(spark, dir, schema)
      val clicks = stream().filter(col("event_type") === "click")
        .select("event_id", "ts", "user_id")
      val purchases = stream().filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("ts"), col("user_id"), col("value"))
      Streaming.runAvailableNow(
        Streaming.streamStreamJoin(clicks, purchases, key = "user_id",
          watermark = "10 minutes", joinWindow = "1 hour", joinType = "left_outer"),
        ckpt, sink)
    }
    def rows() = spark.read.parquet(sink).collect()
      .map(r => r.getAs[Long]("event_id") -> Option(r.getAs[java.lang.Long]("purchase_id"))).toSet
    // run 1: watermark ends at 10:25 — click 1's join window (ends 11:05) is
    // still open, so the unmatched row must NOT be out yet
    runOnce()
    assert(rows() === Set.empty)
    // the GLOBAL watermark is the min of both sides, so BOTH streams must
    // advance: stage later purchases (clicks alone would pin the purchase
    // side at 10:25 and the unmatched row would never emit). Run 2 moves
    // the watermark past 11:05; run 3's batch then evicts click 1's state
    // and emits it with a null purchase side.
    append((3L, "2024-01-01 12:00:00", 203L, "purchase", 2.0),
           (5L, "2024-01-01 12:00:00", 203L, "click", 1.0))
    runOnce()
    append((4L, "2024-01-01 13:00:00", 204L, "purchase", 3.0),
           (6L, "2024-01-01 13:00:00", 204L, "click", 1.0))
    runOnce()
    assert(rows().contains(1L -> None))
    assert(!rows().exists { case (id, p) => id == 1L && p.isDefined })
  }

  test("stream-stream windowed join pairs clicks with purchases in the window") {
    val dir = tempDir("stream-in5")
    // clicks at 10:05 and 11:50 for user 101; purchases at 10:35 (inside the
    // 1h window of the first click) and 13:30 (outside both windows)
    Seq(
      (1L, "2024-01-01 10:05:00", 101L, "click", 1.0),
      (2L, "2024-01-01 11:50:00", 101L, "click", 2.0),
      (3L, "2024-01-01 10:35:00", 101L, "purchase", 10.0),
      (4L, "2024-01-01 13:30:00", 101L, "purchase", 20.0),
      (5L, "2024-01-01 10:10:00", 102L, "purchase", 30.0) // other user
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    def stream() = Streaming.fileStream(spark, dir, schema)
    val clicks = stream().filter(col("event_type") === "click")
      .select("event_id", "ts", "user_id")
    val purchases = stream().filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts"), col("user_id"), col("value"))
    val joined = Streaming.streamStreamJoin(clicks, purchases, key = "user_id",
      watermark = "10 minutes", joinWindow = "1 hour")
    val out = Streaming.runToMemory(joined, "ss_join")
    val pairs = out.collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("purchase_id"))).toSet
    // click 1 -> purchase 3 only; click 2 and user-102 purchase never pair
    assert(pairs === Set((1L, 3L)))
  }

  test("streaming sketch accumulation: CMS cells and HLL registers over a " +
      "stream equal the batch sketch of the whole corpus") {
    import graft.text.CorpusSketches
    // the sketch aggregations are plain groupBy-aggs, so they run
    // unmodified as Complete-mode streaming queries — the incremental
    // corpus-accounting path: each micro-batch revises the cell/register
    // table, no rescan of earlier batches
    val dir = tempDir("stream-sk")
    def append(rows: (String, String)*): Unit =
      rows.toSeq.toDF("lang", "token").write.mode("append").parquet(dir)
    append(Seq.tabulate(300)(i => ("en", s"tok${i % 90}")): _*)
    append(Seq.tabulate(200)(i => ("fr", s"mot${i % 60}")): _*)
    val schema = spark.read.parquet(dir).schema
    val cmsStream = Streaming.runToMemory(
      CorpusSketches.cmsCells(
        Streaming.fileStream(spark, dir, schema).select("token"),
        "token", depth = 3, width = 64),
      "cms_stream", OutputMode.Complete())
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("cnt")).toMap
    val cmsBatch = CorpusSketches.cmsCells(
      spark.read.parquet(dir).select("token"), "token", depth = 3, width = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("cnt")).toMap
    assert(cmsStream === cmsBatch)
    val hllStream = Streaming.runToMemory(
      CorpusSketches.hllRegisters(
        Streaming.fileStream(spark, dir, schema), "lang", "token"),
      "hll_stream", OutputMode.Complete())
      .collect().map(r => (r.getString(0), r.getAs[Long]("bucket")) -> r.getAs[Long]("rho")).toMap
    val hllBatch = CorpusSketches.hllRegisters(
      spark.read.parquet(dir), "lang", "token")
      .collect().map(r => (r.getString(0), r.getAs[Long]("bucket")) -> r.getAs[Long]("rho")).toMap
    assert(hllStream === hllBatch)
  }
}
