package graft.pipeline

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, LinkedBlockingQueue}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** In-process pipeline DAG runner with the reference's control-plane
  * semantics: dependency-ordered execution and bounded retries with
  * exponential backoff; a job whose retries run out lands in the
  * dead-letter queue.
  *
  * Mirrors reference/lambda/pipeline_orchestrator/lambda_function.py:283-497
  * (ready-job selection = all dependencies completed) and
  * reference/lambda/snowflake_extractor/error_handler.py:267-470 (retry
  * strategy: max 3 attempts, exp backoff base 1s cap 60s).
  *
  * The runner is driver-side control flow ONLY — each job body is expected
  * to launch distributed Spark work; nothing here touches data. Ready jobs
  * run concurrently, each on its own driver thread, as the reference
  * launches every ready job at once: Spark accepts jobs from several
  * threads of one session, so the small jobs of independent DAG branches
  * overlap instead of leaving cores idle between them. Job bodies must
  * therefore not share unsynchronized mutable state.
  */
object Pipeline {

  final case class Job(name: String, dependsOn: Seq[String] = Seq.empty)(
      val body: () => Unit) {
    def run(): Unit = body()
  }

  final case class RetryPolicy(
      maxAttempts: Int = 3,
      baseDelayMs: Long = 1000,
      maxDelayMs: Long = 60000,
      // test hook: sleeping is injectable so specs don't wait wall-clock
      sleep: Long => Unit = Thread.sleep)

  sealed trait JobStatus
  case object Succeeded extends JobStatus
  final case class FailedJob(attempts: Int, error: Throwable) extends JobStatus
  case object SkippedDeps extends JobStatus

  final case class RunReport(statuses: Map[String, JobStatus]) {
    def succeeded: Set[String] = statuses.collect { case (n, Succeeded) => n }.toSet
    def failed: Set[String] = statuses.collect { case (n, _: FailedJob) => n }.toSet
    def skipped: Set[String] = statuses.collect { case (n, SkippedDeps) => n }.toSet
  }

  /** Dead-letter queue for exhausted-retry failures — the persistent record
    * the reference keeps when an extraction burns all attempts
    * (reference/lambda/snowflake_extractor/error_handler.py:267-470: job
    * name, attempt count, error payload routed to the DLQ). Append-only
    * JSONL so an overnight orchestrated run never loses failure payloads;
    * `asDataFrame` reads it back as a table for triage queries.
    */
  final class DeadLetterQueue(path: String,
      now: () => Long = () => System.currentTimeMillis()) {
    private val p = java.nio.file.Paths.get(path)

    private def esc(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

    /** Appends one line; safe to call from concurrent job bodies. */
    def record(jobName: String, attempts: Int, error: Throwable): Unit = synchronized {
      val line =
        s"""{"job_name":"${esc(jobName)}","attempts":$attempts,""" +
        s""""error_class":"${esc(error.getClass.getName)}",""" +
        s""""error_message":"${esc(Option(error.getMessage).getOrElse(""))}",""" +
        s""""failed_at_ms":${now()}}"""
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(p, line + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }

    def entries(): Seq[String] = synchronized {
      if (java.nio.file.Files.exists(p))
        scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(p)).asScala.toSeq
      else Seq.empty
    }

    def asDataFrame(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
      import spark.implicits._
      spark.read.json(spark.createDataset(entries()))
    }
  }

  def runWithRetry[T](policy: RetryPolicy)(body: () => T): Try[T] = {
    var attempt = 0
    var last: Try[T] = Failure(new IllegalStateException("no attempts"))
    while (attempt < policy.maxAttempts && last.isFailure) {
      last = Try(body())
      attempt += 1
      if (last.isFailure && attempt < policy.maxAttempts) {
        val delay = math.min(policy.baseDelayMs * (1L << (attempt - 1)), policy.maxDelayMs)
        policy.sleep(delay)
      }
    }
    last
  }

  /** Run the DAG with `get_ready_jobs` semantics, event-driven: every job
    * starts on a driver thread the moment all its dependencies have
    * succeeded, alongside whatever else is ready, so independent jobs
    * (and the many small Spark jobs inside them) overlap on idle cores.
    * Jobs whose dependencies failed or were skipped are skipped, not run.
    * Throws on duplicate names and unknown dependencies before any job
    * starts, and on cycles once everything outside them has run. When a
    * `dlq` is given, every exhausted-retry failure is persisted there
    * (name, attempts, error payload) as it happens.
    *
    * Job bodies run concurrently on a pool of
    * `min(jobs.size, availableProcessors)` daemon threads named
    * `graft-pipeline-N`, so they must not share unsynchronized mutable
    * state. A fatal error thrown by a body (one `Try` does not catch)
    * stops the run and is rethrown here. No pool thread outlives the call.
    */
  def run(jobs: Seq[Job], policy: RetryPolicy = RetryPolicy(),
      dlq: Option[DeadLetterQueue] = None): RunReport = {
    val byName = jobs.map(j => j.name -> j).toMap
    require(byName.size == jobs.size, "duplicate job names")
    jobs.foreach(j => j.dependsOn.foreach(d =>
      require(byName.contains(d), s"unknown dependency: ${j.name} -> $d")))
    val deps = jobs.map(j => j.name -> j.dependsOn.distinct).toMap
    val dependents = jobs.flatMap(j => deps(j.name).map(_ -> j.name))
      .groupMap(_._1)(_._2).withDefaultValue(Seq.empty)
    if (jobs.isEmpty) return RunReport(Map.empty)

    val status = mutable.Map.empty[String, JobStatus]
    val waitingOn = mutable.Map(jobs.map(j => j.name -> deps(j.name).size): _*)
    // (job, attempts, outcome) posted by the pool, consumed on this thread
    val done = new LinkedBlockingQueue[(String, Int, Try[Unit])]()
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(
      math.min(jobs.size, Runtime.getRuntime.availableProcessors), { (r: Runnable) =>
        val t = new Thread(r, s"graft-pipeline-${threads.size + 1}")
        t.setDaemon(true)
        threads.add(t)
        t
      })
    var running = 0
    def start(name: String): Unit = {
      running += 1
      pool.execute(() => {
        var attempts = 0
        val result =
          try runWithRetry(policy) { () => attempts += 1; byName(name).run() }
          catch { case fatal: Throwable => Failure(new FatalJobError(fatal)) }
        done.add((name, attempts, result))
      })
    }
    def skip(name: String): Unit = if (!status.contains(name)) {
      status(name) = SkippedDeps
      dependents(name).foreach(skip)
    }
    try {
      jobs.filter(j => waitingOn(j.name) == 0).foreach(j => start(j.name))
      while (running > 0) {
        val (name, attempts, result) = done.take()
        running -= 1
        result match {
          case Success(_) =>
            status(name) = Succeeded
            for (d <- dependents(name) if !status.contains(d)) {
              waitingOn(d) -= 1
              if (waitingOn(d) == 0) start(d)
            }
          case Failure(f: FatalJobError) => throw f.getCause
          case Failure(e) =>
            dlq.foreach(_.record(name, attempts, e))
            status(name) = FailedJob(attempts, e)
            dependents(name).foreach(skip)
        }
      }
    } finally {
      pool.shutdownNow()
      threads.forEach(_.join())
    }
    if (status.size < jobs.size)
      throw new IllegalArgumentException(
        s"dependency cycle among: ${jobs.map(_.name).filterNot(status.contains).mkString(", ")}")
    RunReport(status.toMap)
  }

  /** Carries a fatal job error from a pool thread to the caller of [[run]]. */
  private final class FatalJobError(cause: Throwable) extends Exception(cause)
}
