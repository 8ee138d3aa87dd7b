package e2e

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One benchmark invocation: a single closed-loop client in one JVM at
  * local[nproc].
  *
  * {{{
  *   e2e.Main --workload medallion|interactive --seed N --seconds S
  *            --trace 0|1 --data DIR --work DIR --expected FILE [--record FILE]
  * }}}
  *
  * Prints a context line (`E2E_CONTEXT {...}`) and the result line
  * (`E2E_RESULT {...}`). With `--trace 0` the result carries the
  * end-to-end metrics; with `--trace 1` a SparkListener and a
  * QueryExecutionListener are registered and it carries the per-layer
  * metrics. `--record` writes the observed outputs as the new expected
  * ones instead of checking them.
  */
object Main {
  /** Every graft package, plus the query registry (`graft.SparkEntry`). */
  val Modules: Seq[String] = Seq("core", "dedup", "dsl", "etl", "functions", "gold",
    "graph", "incremental", "ml", "multimodal", "operators", "pipeline", "quality",
    "registry", "similarity", "sources", "streaming", "text")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val (steal0, total0) = Host.cpuJiffies()
    Host.calibrate() // compiles the probe itself
    val calibFirst = Host.calibrate()

    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.configure(SparkSession.builder().master(s"local[$cores]"), cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val spans = new Spans
      val ledger = new Ledger(spans)
      val expected = new Expected(opt("expected"), opt.get("record"))
      val tracer = if (trace) Some(new Tracer(spark).install()) else None
      val c = Ctx(spark, opt("data"), work, seed, tracer, spans, ledger, expected)
      val w: Workload = workload match {
        case "medallion"   => new Medallion(c)
        case "interactive" => new Interactive(c)
        case other         => sys.error(s"unknown workload: $other")
      }

      ledger.untimed("set-up")(w.setup())
      val reps = math.max(1, math.round(seconds / w.nominalRepS).toInt)
      tracer.foreach(_.cut())
      spans.reset()
      val measureStart = System.nanoTime()
      for (i <- 1 to reps) w.rep(i)
      val measuredS = (System.nanoTime() - measureStart) / 1e9
      val counts = tracer.map(_.cut())
      val buildS = spans.seconds("registry.build")
      tracer.foreach { t =>
        ledger.untimed("lazy layers")(w.traceExtras())
        val lazyLayers = t.cut().layers
        for (m <- Seq("etl", "gold"); l <- lazyLayers.get(m)) counts.get.layers(m) = l
      }

      val calibLast = Host.calibrate()
      // a GC makes Spark's ContextCleaner release the blocks of dead RDDs
      // and broadcasts on its own thread; the next GC frees them
      for (_ <- 1 to 3) { System.gc(); Thread.sleep(500) }
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      val (steal1, total1) = Host.cpuJiffies()
      val stealFrac = (steal1 - steal0).toDouble / math.max(1L, total1 - total0)
      expected.save()

      val batch = ledger.values("batch")
      val ops = ledger.values("op")
      val setupS = (ledger.firstTimedMs - jvmStartMs) / 1e3
      val outBytes = w.written.map(_._1).sum.toDouble
      val inBytes = w.written.map(_._3).sum.toDouble
      val bytesRatio = if (inBytes > 0) outBytes / inBytes else 0.0
      val errorRate = ledger.failed.toDouble / math.max(1, ledger.attempted)

      val metrics: Seq[(String, Double, String)] = counts match {
        case None => Seq(
          ("setup_s", setupS, "s"),
          ("batch_s", Stats.median(batch), "s"),
          ("op_p50_s", Stats.median(ops), "s"),
          ("cpu_s", ledger.timedCpuS / reps, "s"),
          ("live_heap_mb", heapMb, "MB"))
        case Some(k) =>
          val per = 1.0 / reps
          val jobS = k.jobS
          val moduleMetrics = Modules.flatMap { m =>
            val l = k.layers.getOrElse(m, new Layer)
            Seq((s"$m.s", l.s * per, "s"), (s"$m.jobs", l.jobs * per, "count"),
              (s"$m.tasks", l.tasks * per, "count"))
          }
          val unattributed = k.layers.get(Tracer.Unattributed).map(_.s).getOrElse(0.0)
          val (readRecs, newRows) = w.increments.foldLeft((0L, 0L)) {
            case ((a, b), (r, n)) => (a + r, b + n) }
          val retries = w match { case m: Medallion => m.retryCount; case _ => 0L }
          Seq(
            ("spark.build_s", k.buildS * per, "s"),
            ("spark.plan_s", k.planS * per, "s"),
            ("spark.jobs", k.jobs * per, "count"),
            ("spark.tasks", k.tasks * per, "count"),
            ("spark.sched_delay_s", k.schedDelayS * per, "s"),
            ("spark.task_s", k.taskS * per, "s"),
            ("spark.busy_frac", k.taskS / (measuredS * cores), "ratio"),
            ("spark.gc_s", k.gcS * per, "s"),
            ("spark.spill_mb", k.spillBytes * per / 1048576.0, "MB"),
            ("spark.shuffle_write_mb", k.shuffleWriteBytes * per / 1048576.0, "MB"),
            ("spark.shuffle_read_mb", k.shuffleReadBytes * per / 1048576.0, "MB"),
            ("spark.failed_tasks", k.failedTasks * per, "count"),
            ("spark.unattributed_frac", if (jobS > 0) unattributed / jobS else 0.0, "ratio"),
            ("pipeline.retries", retries * per, "count")) ++
          moduleMetrics ++ Seq(
            ("etl.span_s", spans.seconds("etl"), "s"),
            ("gold.span_s", spans.seconds("gold"), "s"),
            ("registry.build_s", buildS * per, "s"),
            ("sources.bytes_written", outBytes * per, "bytes"),
            ("sources.files_written", w.written.map(_._2).sum * per, "count"),
            ("incremental.read_amplification",
              if (newRows > 0) readRecs.toDouble / newRows else 0.0, "ratio"),
            ("host.steal_frac", stealFrac, "ratio"),
            ("host.calib_s", calibFirst, "s"),
            ("trace.batch_s", Stats.median(batch), "s"),
            ("trace.op_p50_s", Stats.median(ops), "s"))
      }

      val context = mutable.LinkedHashMap[String, String](
        "workload" -> q(workload), "seed" -> seed.toString, "trace" -> trace.toString,
        "cores" -> cores.toString, "reps" -> reps.toString,
        "batch_samples" -> batch.size.toString, "op_samples" -> ops.size.toString,
        "warmup_s" -> w.warmupS.map(num).mkString("[", ",", "]"),
        "batch_samples_s" -> batch.map(num).mkString("[", ",", "]"),
        "measured_s" -> num(measuredS),
        "error_rate" -> num(errorRate),
        "bytes_out_per_byte_in" -> num(bytesRatio),
        "host.steal_frac" -> num(stealFrac),
        "host.calib_first_s" -> num(calibFirst), "host.calib_last_s" -> num(calibLast),
        "failures" -> ledger.failures.take(5).map(q).mkString("[", ",", "]"))
      w match {
        case _: Interactive =>
          context("query_p50_s") = num(Stats.median(ops))
          Stats.tail(ops).foreach { case (p, v) =>
            context("query_tail") = s"""{"percentile":$p,"value":${num(v)},"samples":${ops.size}}""" }
          context("pass_s") = num(Stats.median(batch))
        case _ =>
          context("increment_s") = num(Stats.median(ops))
      }
      println("E2E_CONTEXT " + context.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}"))

      val correct = ledger.failed == 0
      val metricJson = metrics.map { case (n, v, u) =>
        s"""${q(n)}:{"value":${num(v)},"unit":${q(u)}}""" }.mkString("{", ",", "}")
      println(s"""E2E_RESULT {"correct":$correct,"attempted":${ledger.attempted},""" +
        s""""failed":${ledger.failed},"metrics":$metricJson}""")
    } finally spark.stop()
    System.exit(0) // graft may leave non-daemon threads behind
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => " "
      case ch   => ch.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}
