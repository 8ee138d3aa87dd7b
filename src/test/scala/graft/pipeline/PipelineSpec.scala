package graft.pipeline

import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier, TimeUnit}

import scala.jdk.CollectionConverters._

import Pipeline._

class PipelineSpec extends graft.SparkSpec {

  private val fastRetry = RetryPolicy(maxAttempts = 3, baseDelayMs = 1, sleep = _ => ())
  private val once = RetryPolicy(maxAttempts = 1, sleep = _ => ())

  private def pipelineThreads(): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-pipeline") && t.isAlive).toSet

  test("DAG runs in dependency order") {
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    val report = Pipeline.run(Seq(
      Job("gold", Seq("silver"))(() => order += "gold"),
      Job("bronze")(() => order += "bronze"),
      Job("silver", Seq("bronze"))(() => order += "silver")), fastRetry)
    assert(order.toSeq === Seq("bronze", "silver", "gold"))
    assert(report.succeeded === Set("bronze", "silver", "gold"))
  }

  test("failed dependency skips downstream jobs, independent jobs still run") {
    val ran = scala.collection.mutable.Set.empty[String]
    val report = Pipeline.run(Seq(
      Job("extract")(() => throw new RuntimeException("boom")),
      Job("clean", Seq("extract"))(() => ran += "clean"),
      Job("unrelated")(() => ran += "unrelated")), fastRetry)
    assert(report.failed === Set("extract"))
    assert(report.skipped === Set("clean"))
    assert(ran.toSet === Set("unrelated"))
  }

  test("retry retries with backoff until success within maxAttempts") {
    var calls = 0
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    val policy = RetryPolicy(maxAttempts = 3, baseDelayMs = 100, sleep = delays += _)
    val res = runWithRetry(policy) { () =>
      calls += 1; if (calls < 3) throw new RuntimeException("flaky"); "ok"
    }
    assert(res.isSuccess && calls === 3)
    assert(delays.toSeq === Seq(100L, 200L)) // exponential
  }

  test("retry gives up after maxAttempts and reports attempt count") {
    val report = Pipeline.run(Seq(Job("always_fails")(() => throw new RuntimeException("x"))), fastRetry)
    report.statuses("always_fails") match {
      case FailedJob(attempts, _) => assert(attempts === 3)
      case other                  => fail(s"unexpected: $other")
    }
  }

  test("exhausted-retry failure lands in the DLQ with name, attempts and error payload") {
    val dlqPath = tempDir("dlq") + "/dlq.jsonl"
    val dlq = new DeadLetterQueue(dlqPath, now = () => 1700000000000L)
    val report = Pipeline.run(Seq(
      Job("extract")(() => throw new IllegalStateException("upstream gone")),
      Job("ok_job")(() => ())), fastRetry, dlq = Some(dlq))
    assert(report.failed === Set("extract"))
    val entries = dlq.entries()
    assert(entries.size === 1) // only the failure — succeeded jobs never recorded
    assert(entries.head.contains("\"job_name\":\"extract\""))
    assert(entries.head.contains("\"attempts\":3"))
    assert(entries.head.contains("IllegalStateException"))
    assert(entries.head.contains("upstream gone"))
    // readable back as a table for triage
    val df = dlq.asDataFrame(graft.SparkSpec.session)
    assert(df.count() === 1)
    assert(df.select("job_name").head().getString(0) === "extract")
    assert(df.select("attempts").head().getLong(0) === 3L)
  }

  test("DLQ appends across runs and escapes control characters in errors") {
    val dlqPath = tempDir("dlq2") + "/dlq.jsonl"
    val dlq = new DeadLetterQueue(dlqPath, now = () => 0L)
    dlq.record("j1", 3, new RuntimeException("line1\nline2\t\"quoted\""))
    dlq.record("j2", 1, new RuntimeException(null: String))
    assert(dlq.entries().size === 2)
    val df = dlq.asDataFrame(graft.SparkSpec.session)
    assert(df.filter(df("job_name") === "j1").select("error_message").head().getString(0)
      === "line1\nline2\t\"quoted\"")
  }

  test("cycles are rejected") {
    intercept[IllegalArgumentException] {
      Pipeline.run(Seq(Job("a", Seq("b"))(() => ()), Job("b", Seq("a"))(() => ())), fastRetry)
    }
  }

  test("independent ready jobs run at the same time") {
    assume(Runtime.getRuntime.availableProcessors >= 2, "needs two driver threads")
    // each job waits for the other: run one after the other, both time out
    val barrier = new CyclicBarrier(2)
    def meet(): Unit = { barrier.await(20, TimeUnit.SECONDS); () }
    val report = Pipeline.run(Seq(
      Job("left")(() => meet()),
      Job("right")(() => meet()),
      Job("joined", Seq("left", "right"))(() => ())), once)
    assert(report.succeeded === Set("left", "right", "joined"))
  }

  test("a dependent job starts only after all of its dependencies succeeded") {
    val finished = new ConcurrentLinkedQueue[String]()
    val seenAtStart = new ConcurrentLinkedQueue[(String, Set[String])]()
    def job(name: String, deps: String*)(work: => Unit) = Job(name, deps)(() => {
      seenAtStart.add(name -> finished.asScala.toSet)
      work
      finished.add(name)
      ()
    })
    val report = Pipeline.run(Seq(
      job("slow")(Thread.sleep(150)),
      job("fast")(()),
      job("mid", "fast")(Thread.sleep(20)),
      job("sink", "slow", "mid")(()),
      job("tail", "sink", "fast")(())), once)
    assert(report.succeeded.size === 5)
    val seen = seenAtStart.asScala.toMap
    assert(seen("mid")("fast"))
    assert(Set("slow", "fast", "mid").subsetOf(seen("sink")))
    assert(Set("slow", "fast", "mid", "sink").subsetOf(seen("tail")))
  }

  test("skipping is transitive and spares unrelated branches") {
    val ran = new ConcurrentLinkedQueue[String]()
    def ok(name: String, deps: String*) = Job(name, deps)(() => { ran.add(name); () })
    val report = Pipeline.run(Seq(
      Job("root")(() => { Thread.sleep(30); throw new RuntimeException("boom") }),
      ok("child", "root"),
      ok("grandchild", "child"),
      ok("side"),
      ok("mixed", "grandchild", "side"),
      ok("after_side", "side")), fastRetry)
    assert(report.failed === Set("root"))
    assert(report.skipped === Set("child", "grandchild", "mixed"))
    assert(report.succeeded === Set("side", "after_side"))
    assert(ran.asScala.toSet === Set("side", "after_side"))
  }

  test("two concurrent exhausted-retry failures both land intact in the DLQ") {
    val dlqPath = tempDir("dlq3") + "/dlq.jsonl"
    val dlq = new DeadLetterQueue(dlqPath, now = () => 0L)
    val barrier = new CyclicBarrier(2)
    def failTogether(msg: String): Unit = {
      barrier.await(20, TimeUnit.SECONDS)
      throw new IllegalStateException(msg)
    }
    val report = Pipeline.run(Seq(
      Job("a")(() => failTogether("a down")),
      Job("b")(() => failTogether("b down"))),
      RetryPolicy(maxAttempts = 2, baseDelayMs = 1, sleep = _ => ()), dlq = Some(dlq))
    assert(report.failed === Set("a", "b"))
    val df = dlq.asDataFrame(graft.SparkSpec.session)
    assert(df.columns.contains("job_name") && !df.columns.contains("_corrupt_record"))
    assert(df.select("job_name", "attempts", "error_message").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet ===
      Set(("a", 2L, "a down"), ("b", 2L, "b down")))
  }

  test("DLQ records from many threads at once stay one intact line each") {
    val dlqPath = tempDir("dlq4") + "/dlq.jsonl"
    val dlq = new DeadLetterQueue(dlqPath, now = () => 0L)
    val long = "x" * 20000 // larger than one write buffer
    val writers = (1 to 4).map(w => new Thread(() =>
      (1 to 25).foreach(i => dlq.record(s"w$w-$i", 1, new RuntimeException(long)))))
    writers.foreach(_.start())
    writers.foreach(_.join())
    val lines = dlq.entries()
    assert(lines.size === 100)
    assert(lines.forall(l => l.startsWith("{\"job_name\":") && l.endsWith("}") &&
      l.contains(long)))
  }

  test("no pool thread outlives run, after failures and after a fatal error") {
    val report = Pipeline.run(Seq(
      Job("fails")(() => throw new RuntimeException("x")),
      Job("works")(() => ()),
      Job("after", Seq("works"))(() => ())), fastRetry)
    assert(report.failed === Set("fails") && report.succeeded === Set("works", "after"))
    assert(pipelineThreads().isEmpty)

    // an error Try does not catch stops the run and reaches the caller
    val err = intercept[LinkageError] {
      Pipeline.run(Seq(
        Job("fatal")(() => throw new LinkageError("fatal")),
        Job("sibling")(() => Thread.sleep(50)),
        Job("never", Seq("fatal"))(() => fail("ran after a fatal error"))), fastRetry)
    }
    assert(err.getMessage === "fatal")
    assert(pipelineThreads().isEmpty)
  }

  test("a cycle is rejected, naming the jobs on and behind it") {
    val ran = new ConcurrentLinkedQueue[String]()
    val err = intercept[IllegalArgumentException] {
      Pipeline.run(Seq(
        Job("free")(() => { ran.add("free"); () }),
        Job("a", Seq("b", "free"))(() => ()),
        Job("b", Seq("a"))(() => ()),
        Job("behind", Seq("a"))(() => { ran.add("behind"); () })), fastRetry)
    }
    assert(err.getMessage === "dependency cycle among: a, b, behind")
    assert(ran.asScala.toSeq === Seq("free"))
    assert(pipelineThreads().isEmpty)
  }
}
