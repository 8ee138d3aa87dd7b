package e2e

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{GraftConf, Tables}
import graft.etl.{SilverCustomers, SilverOrders, SilverParts}
import graft.gold.{CustomerAnalytics, MlFeatures, SalesSummary}
import graft.incremental.WatermarkStore
import graft.pipeline.{Pipeline, RunPipeline}

/** What a workload needs from the invocation. */
final case class Ctx(spark: SparkSession, data: String, work: String, seed: Long,
    tracer: Option[Tracer], spans: Spans, ledger: Ledger, expected: Expected) {

  /** Tag the jobs of a benchmark-side action with the layer that built
    * the frame it materialises. */
  def tagged[A](layer: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.LayerTag, layer)
    try body finally sc.setLocalProperty(Tracer.LayerTag, null)
  }

  /** Full materialisation of every column, with nothing written. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

}

/** One benchmark workload: untimed set-up and warm-up, then a fixed number
  * of measured repetitions. */
trait Workload {
  /** Nominal seconds of one repetition on a 4-core host; the repetition
    * count is `--seconds` divided by it, so every invocation with the same
    * arguments runs the same schedule. */
  def nominalRepS: Double
  def setup(): Unit
  def rep(i: Int): Unit
  /** Traced runs only: work outside the measured window. */
  def traceExtras(): Unit = ()
  /** Wall seconds of each untimed warm-up repetition, in order. */
  val warmupS = mutable.ArrayBuffer.empty[Double]
  /** Output bytes, output files and input bytes of each repetition. */
  val written = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  /** (input records read, new input rows) of each increment. */
  val increments = mutable.ArrayBuffer.empty[(Long, Long)]

  protected def timedWarmup[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally warmupS += (System.nanoTime() - t0) / 1e9
  }
}

/** `RunPipeline.run` — bronze → silver → gold with quality gates,
  * quarantine, partitioned parquet and the order watermark. A repetition
  * is a full load of all but the last two order years, then one increment
  * per remaining year, each picked up through the watermark. The warm-up
  * is one untimed repetition of the same schedule.
  *
  * Increments are whole order years: silver orders are written by dynamic
  * partition overwrite on `order_year`, and an increment that falls inside
  * an already loaded year replaces that year's partition with the
  * increment's rows alone.
  */
final class Medallion(c: Ctx) extends Workload {
  import c.{ledger, spark}

  val nominalRepS = 16.0
  private val Outputs = Seq("silver/orders", "silver/customers", "silver/parts",
    "gold/daily_sales", "gold/monthly_sales", "gold/customer_analytics", "gold/ml_features")
  private val bronze = s"${c.work}/bronze"
  private val out = s"${c.work}/out"
  private var retries = 0L
  private val policy = Pipeline.RetryPolicy(sleep = _ => retries += 1)
  /** (name, order rows, max order date) per slice; the first is the base load. */
  private var slices = Seq.empty[(String, Long, String)]
  private var customers, parts = 0L

  def retryCount: Long = retries

  private def copyDims(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    for (t <- Seq("customer", "part"))
      Files.copy(Paths.get(s"${c.data}/$t.parquet"), Paths.get(s"$dir/$t.parquet"))
  }

  private def run(dir: String, outRoot: String) =
    RunPipeline.run(spark, dir, outRoot, policy = policy)

  private def verify(label: String, r: RunPipeline.PipelineResult, outRoot: String,
      orderRows: Long, mark: String): Unit = {
    ledger.check(s"$label: every DAG job succeeded")(
      r.run.failed.isEmpty && r.run.skipped.isEmpty && r.run.succeeded.size == 6)
    for ((t, n) <- Seq("orders" -> orderRows, "customers" -> customers, "parts" -> parts))
      ledger.check(s"$label: clean + quarantined $t rows equal the input rows")(
        r.gateCounts.get(t).exists { case (ok, bad) => ok + bad == n })
    ledger.check(s"$label: watermark equals the maximum order date")(
      new WatermarkStore(s"$outRoot/_state").get("orders", "o_orderdate").contains(mark))
  }

  private def digests(outRoot: String): Map[String, String] =
    Outputs.map(t => t -> Digest.of(spark.read.parquet(s"$outRoot/$t"))).toMap

  def setup(): Unit = {
    val orders = spark.read.parquet(s"${c.data}/orders.parquet")
    val yr = year(col("o_orderdate"))
    // rows and maximum order date per order year, in one pass
    val perYear = orders.groupBy(yr.as("y"))
      .agg(count(lit(1)), max(col("o_orderdate")).cast("string"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    val (base, incs) = perYear.splitAt(perYear.size - 2)
    val groups = ("base" -> base) +: incs.map(y => s"y${y._1}" -> Seq(y))
    slices = groups.map { case (name, ys) =>
      // rows in a seeded order: the same load, laid out differently per seed
      orders.filter(yr.isin(ys.map(_._1): _*)).orderBy(rand(c.seed))
        .write.mode("overwrite").parquet(s"${c.work}/stage/$name")
      (name, ys.map(_._2).sum, ys.map(_._3).max)
    }
    customers = spark.read.parquet(s"${c.data}/customer.parquet").count()
    parts = spark.read.parquet(s"${c.data}/part.parquet").count()
    copyDims(bronze)
    if (c.expected.recording) {
      // the reference: one load of every slice at once
      val full = s"${c.work}/full"
      copyDims(full)
      slices.foreach { case (n, _, _) =>
        Fs.copyParts(s"${c.work}/stage/$n", s"$full/orders.parquet", n) }
      val ref = s"${c.work}/reference"
      ledger.untimed("one-shot load")(run(full, ref)).foreach(r =>
        verify("one-shot load", r, ref, slices.map(_._2).sum, slices.last._3))
      for ((t, d) <- ledger.untimed("one-shot digests")(digests(ref)).getOrElse(Map.empty))
        c.expected.matches(s"medallion.$t", d)
    }
    timedWarmup(pass(0, timed = false))
  }

  def rep(i: Int): Unit = pass(i, timed = true)

  /** A full load, then the increments; outputs checked after each run and
    * against the recorded one-shot load at the end. */
  private def pass(i: Int, timed: Boolean): Unit = {
    Fs.deleteTree(out)
    Fs.deleteTree(s"$bronze/orders.parquet")
    slices.zipWithIndex.foreach { case ((name, rows, mark), k) =>
      Fs.copyParts(s"${c.work}/stage/$name", s"$bronze/orders.parquet", name)
      val read0 = c.tracer.map(_.recordsReadTotal())
      System.gc()
      val label = s"rep $i $name"
      val result =
        if (timed) ledger.timed(if (k == 0) "batch" else "op", "pipeline")(run(bronze, out))
        else ledger.untimed(s"warm-up $label")(run(bronze, out))
      result.foreach(r => verify(label, r, out, rows, mark))
      if (k > 0 && timed)
        read0.foreach(r0 => increments += ((c.tracer.get.recordsReadTotal() - r0, rows)))
    }
    val got = ledger.untimed("output digests")(digests(out)).getOrElse(Map.empty)
    for (t <- Outputs)
      ledger.check(s"rep $i: $t after the increments equals the one-shot load")(
        got.get(t).exists(d => c.expected.matches(s"medallion.$t", d)))
    if (timed) written += ((Fs.bytes(out), Fs.dataFiles(out).size.toLong, Fs.bytes(bronze)))
  }

  /** The lazy layers never sit on the stack when an action runs, so they
    * are timed on their own: each public builder materialised to `noop`. */
  override def traceExtras(): Unit = {
    val t = Tables(spark, bronze)
    val conf = GraftConf.default
    c.tagged("etl")(c.spans("etl") {
      c.noop(SilverOrders.silver(t.orders, conf))
      c.noop(SilverCustomers.clean(t.customer))
      c.noop(SilverParts.clean(t.part))
    })
    val facts = spark.read.parquet(s"$out/silver/orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("order_date").cast("string").as("o_orderdate"),
        col("o_totalprice_dec").cast("double").as("o_totalprice"))
    val dim = spark.read.parquet(s"$out/silver/customers")
      .select(col("c_custkey"), col("c_name"),
        col("segment_standardized").as("c_mktsegment"), col("c_acctbal"))
    c.tagged("gold")(c.spans("gold") {
      c.noop(SalesSummary.daily(facts))
      c.noop(SalesSummary.monthly(facts))
      c.noop(CustomerAnalytics.analytics(dim, facts, conf))
      c.noop(MlFeatures.features(facts, conf))
    })
  }
}

/** Registered queries from `SparkEntry.queries`, each built and then fully
  * materialised through a `noop` sink; read-only. A repetition is one pass
  * over the query set in a seeded order. Each query is listed with the
  * graft layer whose builders it exercises: the frame is lazy, so that
  * layer is off the stack when the benchmark runs the action, and the
  * action's jobs are tagged with it instead. */
final class Interactive(c: Ctx) extends Workload {
  import c.{ledger, spark}

  val nominalRepS = 7.5
  private val queries = Interactive.Queries
  private val registry = SparkEntry.queries

  private def order(pass: Int): Seq[(String, String)] =
    new Random(c.seed * 1000003L + pass).shuffle(queries)

  /** Warm-up: one pass that digests every query's full output. */
  def setup(): Unit = timedWarmup {
    for ((q, layer) <- order(0))
      ledger.untimed(s"warm-up $q")(c.tagged(layer)(Digest.of(registry(q)(spark, c.data))))
        .foreach(d => ledger.check(s"$q output digest matches the recorded one")(
          c.expected.matches(s"interactive.$q", d)))
  }

  def rep(i: Int): Unit = {
    System.gc()
    val t0 = System.nanoTime()
    for ((q, layer) <- order(i))
      ledger.timed("op", "query") {
        val df = c.spans("registry.build")(registry(q)(spark, c.data))
        c.tagged(layer)(c.noop(df))
      }
    ledger.samples.getOrElseUpdate("batch", mutable.ArrayBuffer.empty) +=
      (System.nanoTime() - t0) / 1e9
  }
}

object Interactive {
  /** Sub-second analytics (cleaning, gold aggregates, operators, quality,
    * sketches), then the curation kernels (text gates, near-dup detection,
    * media dedup, vector retrieval). */
  val Queries: Seq[(String, String)] = Seq(
    "q_daily" -> "gold", "q_monthly" -> "gold", "q_rfm" -> "gold",
    "q_clean_orders" -> "etl", "q_clean_customers" -> "etl", "q_clean_parts" -> "etl",
    "q_rules" -> "dsl", "q_cohort" -> "gold", "q_join3" -> "gold",
    "q_scd2" -> "operators", "q_merge" -> "operators", "q_asof" -> "operators",
    "q_rangejoin" -> "operators", "q_sessions" -> "operators", "q_window_ma" -> "operators",
    "q_profile" -> "quality", "q_quality" -> "quality",
    "q_hll" -> "text", "q_cms" -> "text", "q_json" -> "registry",
    "q_curate" -> "text", "q_langid" -> "text", "q_dedup_exact" -> "dedup",
    "q_semdedup" -> "dedup", "q_multimodal" -> "multimodal", "q_ann_brute" -> "similarity")
}
