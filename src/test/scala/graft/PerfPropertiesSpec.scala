package graft

import org.apache.spark.sql.functions._

/** Performance PROPERTIES mirroring the reference's asserted (not absolute)
  * perf tests (reference/tests/integration/test_performance.py:203-207,
  * 319-323, 447-449): sub-linear throughput degradation when scaling row
  * count, and parquet-not-slower-than-JSON writes. Margins are deliberately
  * generous — these guard against algorithmic regressions (accidental O(n²),
  * per-row actions), not machine noise.
  */
class PerfPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def syntheticOrders(n: Int) =
    spark.range(n).select(
      col("id"),
      (col("id") % 1000).as("key"),
      (rand(42) * 500000).as("amount"),
      concat(lit("status_"), col("id") % 5).as("status"))

  private def time[T](f: => T): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  test("rule engine per-row cost degrades sub-linearly from 10k to 100k rows") {
    val rules = Seq(
      graft.dsl.QualityRule("amount_pos", "amount > 0"),
      graft.dsl.QualityRule("status_fmt", "status RLIKE '^status_[0-9]$'"),
      graft.dsl.QualityRule("key_range", "key BETWEEN 0 AND 999"))
    def run(n: Int): Double = {
      val df = syntheticOrders(n).cache()
      df.count() // materialize outside the timed section
      val t = time(graft.dsl.RuleEngine.evaluate(df, rules))
      df.unpersist()
      t / n
    }
    run(10000) // warm-up (JIT + codegen)
    val perRow10k = run(10000)
    val perRow100k = run(100000)
    // reference asserts < 1.5x; allow 3x for shared-machine noise — an
    // accidental per-rule rescan or per-row action blows far past this
    assert(perRow100k < perRow10k * 3.0,
      f"per-row cost degraded ${perRow100k / perRow10k}%.2fx from 10k to 100k rows")
  }

  test("parquet write is not slower than JSON write at 50k rows") {
    val dir = tempDir("perfprop")
    val df = syntheticOrders(50000).cache()
    df.count()
    // warm both writers once
    df.limit(1000).write.mode("overwrite").parquet(s"$dir/warm_p")
    df.limit(1000).write.mode("overwrite").json(s"$dir/warm_j")
    val tParquet = time(df.write.mode("overwrite")
      .option("compression", "snappy").parquet(s"$dir/p"))
    val tJson = time(df.write.mode("overwrite").json(s"$dir/j"))
    df.unpersist()
    assert(tParquet < tJson * 3.0,
      f"parquet $tParquet%.2fs vs json $tJson%.2fs")
  }
}
