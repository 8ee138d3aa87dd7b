package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    tempDir("srcspec")

  test("multi-format reader round-trips parquet, csv and json") {
    val dir = tmp()
    val df = Seq((1, "a"), (2, "b")).toDF("id", "name")
    df.write.parquet(s"$dir/t.parquet")
    df.write.option("header", "true").csv(s"$dir/t.csv")
    df.write.json(s"$dir/t.json")
    df.write.orc(s"$dir/t.orc")
    for (ext <- Seq("parquet", "csv", "json", "orc")) {
      val back = Readers.read(spark, s"$dir/t.$ext")
      assert(back.count() === 2, ext)
      assert(back.columns.toSet === Set("id", "name"), ext)
    }
  }

  test("mergeSchema surfaces columns added by schema drift and Q1 reports the drift") {
    val dir = tmp()
    // two partitions written with drifting schemas: second adds `extra_col`
    Seq((1, "a")).toDF("id", "name").write.parquet(s"$dir/drift.parquet/p=1")
    Seq((2, "b", 9.5)).toDF("id", "name", "extra_col")
      .write.parquet(s"$dir/drift.parquet/p=2")

    val merged = Readers.read(spark, s"$dir/drift.parquet", mergeSchema = true)
    assert(merged.columns.contains("extra_col"))
    assert(merged.count() === 2)
    assert(merged.filter(col("extra_col").isNotNull).count() === 1)

    // Q1 reports the drift: the added column shows up as `extra`
    val expected = Seq((1, "a")).toDF("id", "name").schema
    val report = graft.quality.DataQuality.schemaCompliance(
      merged.drop("p").schema, expected)
    assert(report.extra === Seq("extra_col"))
    assert(report.missing.isEmpty && report.typeMismatch.isEmpty)
  }

  test("expirePartitions drops only partitions below the cutoff, metadata-only") {
    val dir = s"${tmp()}/retained.parquet"
    Seq(("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-03", 3))
      .toDF("dt", "v").write.partitionBy("dt").parquet(dir)
    val dropped = Sinks.expirePartitions(dir, "dt", "2024-01-03")
    assert(dropped === Seq("2024-01-01", "2024-01-02"))
    val left = spark.read.parquet(dir)
    assert(left.select("dt").as[String].collect().toSeq === Seq("2024-01-03"))
    assert(Sinks.expirePartitions(dir, "dt", "2024-01-03") === Seq.empty) // idempotent
  }

  test("jsonWithCorrupt isolates malformed lines without dropping anything") {
    val dir = tmp()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in.json"),
      """{"id": 1, "name": "ok"}
        |{"id": BROKEN
        |{"id": 2, "name": "also ok"}
        |not json at all
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType)))
    val (clean, corrupt) = Readers.jsonWithCorrupt(spark, s"$dir/in.json", schema)
    assert(clean.count() === 2)
    assert(clean.select("id").as[Long].collect().sorted === Array(1L, 2L))
    val raw = corrupt.select("raw_record").as[String].collect()
    assert(raw.length === 2)
    assert(raw.exists(_.contains("BROKEN")) && raw.exists(_.contains("not json")))
  }

  test("compaction rewrites many small files into few, preserving the data") {
    val dir = s"${tmp()}/small.parquet"
    val df = (1 to 1000).map(i => (i.toLong, s"row$i")).toDF("id", "v")
    df.repartition(20).write.parquet(dir) // 20 small part files
    def partFiles() = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(partFiles() === 20)
    val before = spark.read.parquet(dir).collect().toSet
    val n = Sinks.compactParquet(spark, dir, targetFileBytes = Long.MaxValue)
    assert(n === 1 && partFiles() === 1)
    assert(spark.read.parquet(dir).collect().toSet === before)
  }

  test("incremental reader pushes the watermark filter into the parquet scan") {
    val dir = tmp()
    (1 to 100).map(i => (i.toLong, s"r$i")).toDF("wm", "v")
      .write.parquet(s"$dir/inc.parquet")
    val df = spark.read.parquet(s"$dir/inc.parquet")
    val out = Readers.incremental(df, "wm", Some("40"))
    assert(out.count() === 60)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(wm,40"),
      s"watermark filter not pushed:\n$plan")
  }

  test("partitioned parquet sink lays out hive-style partitions") {
    val dir = tmp()
    val df = Seq(("2000-01-05", 1.0), ("2000-02-06", 2.0)).toDF("d", "x")
      .withColumn("d", col("d").cast("date"))
    Sinks.parquetPartitioned(Sinks.withDatePartitions(df, "d"),
      s"$dir/out", Seq("year", "month"))
    assert(new java.io.File(s"$dir/out/year=2000/month=1").exists())
    assert(spark.read.parquet(s"$dir/out").count() === 2)
    // partition pruning: only month=1 files scanned
    val pruned = spark.read.parquet(s"$dir/out").filter(col("month") === 1)
    assert(pruned.count() === 1)
  }

  test("dynamic partition overwrite replaces only touched partitions (idempotent re-run)") {
    val dir = tmp()
    val day1 = Seq((1, "2000-01-05"), (2, "2000-02-06")).toDF("id", "d")
      .withColumn("d", col("d").cast("date"))
    Sinks.parquetOverwritePartitions(
      Sinks.withDatePartitions(day1, "d"), s"$dir/t", Seq("year", "month"))
    // re-run month=2 only, with a corrected row — month=1 must survive
    val rerun = Seq((3, "2000-02-07")).toDF("id", "d")
      .withColumn("d", col("d").cast("date"))
    Sinks.parquetOverwritePartitions(
      Sinks.withDatePartitions(rerun, "d"), s"$dir/t", Seq("year", "month"))
    val back = spark.read.parquet(s"$dir/t")
    assert(back.count() === 2)
    assert(back.select("id").collect().map(_.getInt(0)).toSet === Set(1, 3))
  }

  test("dynamic overwrite is per write: the session conf and other writes stay static") {
    val dir = tmp()
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(key)
    // the overwrite mode the write's own tasks see in the session conf
    val modeSeen = udf(() => SQLConf.get.partitionOverwriteMode.toString).asNondeterministic()
    def rows(ids: (Int, String)*) = Sinks.withDatePartitions(
      ids.toDF("id", "d").withColumn("d", col("d").cast("date")), "d")
      .withColumn("mode_seen", modeSeen())
    def read(path: String, c: String) = spark.read.parquet(path).select(c).collect().toSet
    try {
      for (userValue <- Seq(None, Some("STATIC"))) {
        userValue match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
        val set = spark.conf.getOption(key)
        val t = s"$dir/t_${userValue.getOrElse("unset")}"
        Sinks.parquetOverwritePartitions(rows(1 -> "2000-01-05", 2 -> "2000-02-06"),
          t, Seq("year", "month"))
        Sinks.parquetOverwritePartitions(rows(3 -> "2000-02-07"), t, Seq("year", "month"))
        assert(spark.conf.getOption(key) === set) // untouched after the call
        assert(read(t, "mode_seen").map(_.getString(0)) === Set("STATIC")) // and during it
        assert(read(t, "id").map(_.getInt(0)) === Set(1, 3)) // dynamic: month=1 survives
        // a plain partitioned overwrite right after stays a full replace
        Sinks.parquetPartitioned(rows(4 -> "2000-03-01"), t, Seq("year", "month"))
        assert(read(t, "id").map(_.getInt(0)) === Set(4))
      }
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("json single-file sink writes exactly one part file") {
    val dir = tmp()
    Sinks.jsonSingleFile(Seq((1, "ok")).toDF("id", "status"), s"$dir/report")
    val parts = new java.io.File(s"$dir/report").listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts.length === 1)
  }

  test("audit columns are stamped deterministically") {
    val ts = java.time.LocalDateTime.parse("2024-02-01T00:00:00")
    val out = Sinks.withAuditColumns(Seq(1).toDF("id"), "snowflake", ts).collect().head
    assert(out.getAs[String]("source_system") === "snowflake")
    assert(out.getAs[java.sql.Timestamp]("extraction_timestamp").toString
      === "2024-02-01 00:00:00.0")
  }

  test("quarantine sink splits rows and tags the reason") {
    val dir = tmp()
    val df = Seq((1, 10.0), (2, -1.0), (3, 999999.0)).toDF("id", "amount")
    val (nClean, nBad) = Sinks.quarantine(df,
      col("amount").between(0, 1000), s"$dir/clean", s"$dir/quarantine", "amount_range")
    assert((nClean, nBad) === ((1L, 2L)))
    val bad = spark.read.parquet(s"$dir/quarantine")
    assert(bad.select("quarantine_reason").distinct().head.getString(0) === "amount_range")

    // partitioned: the clean side overwrites only the partitions it holds
    Seq((0, 5.0, 2020)).toDF("id", "amount", "y")
      .write.partitionBy("y").parquet(s"$dir/pclean")
    val inc = Seq((4, 7.0, 2021), (5, -3.0, 2021)).toDF("id", "amount", "y")
    assert(Sinks.quarantine(inc, col("amount") >= 0, s"$dir/pclean",
      s"$dir/pquarantine", "negative", partitionCols = Seq("y")) === ((1L, 1L)))
    assert(spark.read.parquet(s"$dir/pclean").orderBy("id").as[(Int, Double, Int)]
      .collect().toSeq === Seq((0, 5.0, 2020), (4, 7.0, 2021)))

    // a write that throws (its parent path is a file) leaves nothing cached
    java.nio.file.Files.writeString(java.nio.file.Path.of(dir, "file"), "x")
    val gate = col("amount").between(0, 1000)
    intercept[Exception](Sinks.quarantine(df, gate, s"$dir/file/clean",
      s"$dir/fquarantine", "amount_range"))
    assert(df.withColumn("_pass", gate).storageLevel ===
      org.apache.spark.storage.StorageLevel.NONE)
  }

  test("write-audit-publish only replaces the target on a passing audit, " +
      "and audits the bytes actually written") {
    val dir = tempDir("wap")
    val target = dir + "/table"
    // v1 publishes: audit passes
    assert(Sinks.writeAuditPublish((1 to 10).map(i => (i.toLong, "v1")).toDF("id", "tag"),
      target, _.count() == 10L))
    assert(spark.read.parquet(target).count() === 10L)
    // v2 fails its audit (simulating a broken upstream): target must
    // still serve v1, failed output parked for inspection
    assert(!Sinks.writeAuditPublish((1 to 3).map(i => (i.toLong, "v2")).toDF("id", "tag"),
      target, _.count() == 10L))
    val after = spark.read.parquet(target).collect()
    assert(after.length === 10 && after.forall(_.getAs[String]("tag") === "v1"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(target + "._wap_failed")))
    // v3 passes again and atomically replaces v1
    assert(Sinks.writeAuditPublish((1 to 5).map(i => (i.toLong, "v3")).toDF("id", "tag"),
      target, _.count() == 5L))
    assert(spark.read.parquet(target).collect().forall(_.getAs[String]("tag") === "v3"))
  }

  test("file ledger tracks processed files across commits") {
    val ledger = new FileLedger(s"${tmp()}/ledger.txt")
    assert(ledger.newFiles(Seq("a", "b")) === Seq("a", "b"))
    ledger.commit(Seq("a"))
    assert(ledger.newFiles(Seq("a", "b", "c")) === Seq("b", "c"))
    ledger.commit(Seq("b", "c"))
    assert(ledger.newFiles(Seq("a", "b", "c")) === Seq.empty)
  }

  test("jdbc incremental subquery pushes watermark + limit into the database") {
    val sub = Readers.incrementalSubquery("public.orders", "updated_at",
      "2024-01-01 00:00:00", 10000)
    assert(sub ===
      "(SELECT * FROM public.orders WHERE updated_at > '2024-01-01 00:00:00' " +
        "ORDER BY updated_at LIMIT 10000) AS _graft_inc")
    // identifiers validated; watermark values escaped
    intercept[IllegalArgumentException](
      Readers.incrementalSubquery("t; DROP TABLE x", "c", "v", 10))
    assert(Readers.incrementalSubquery("t", "c", "it's", 10).contains("'it''s'"))
  }

  test("trigger router maps object keys and skips markers") {
    assert(TriggerRouter.route("bronze/orders/year=2024/f.parquet")
      .contains(TriggerRouter.Route("bronze", "orders", "run_silver_job")))
    assert(TriggerRouter.route("silver/customers/f.parquet")
      .map(_.action).contains("run_gold_job"))
    assert(TriggerRouter.route("bronze/orders/_SUCCESS").isEmpty)
    assert(TriggerRouter.route("random/path.txt").isEmpty)
  }
}
