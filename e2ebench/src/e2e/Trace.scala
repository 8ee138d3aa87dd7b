package e2e

import scala.collection.mutable

import org.apache.spark.E2eBus
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One layer's attributed Spark job seconds, jobs and tasks. */
final class Layer { var s = 0.0; var jobs = 0L; var tasks = 0L }

/** Counters of one measurement window. */
final class Counts {
  val layers = mutable.HashMap.empty[String, Layer]
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskS = 0.0
  var schedDelayS = 0.0
  var gcS = 0.0
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var buildS = 0.0
  var planS = 0.0
  def layer(m: String): Layer = layers.getOrElseUpdate(m, new Layer)
  def jobS: Double = layers.values.map(_.s).sum
}

/** Per-layer counters gathered from outside the program: a SparkListener
  * and a QueryExecutionListener that the benchmark registers itself.
  *
  * Each Spark job is attributed to the graft module whose frame is
  * innermost in the call site of the SQL execution that ran it (the job
  * property `spark.sql.execution.id` joins the two). Stage call sites are
  * only a fallback: AQE submits stages from a pool thread, so most of them
  * carry no graft frame. Jobs of the benchmark's own actions carry a layer
  * tag instead; a job with neither a graft frame nor a tag is
  * `unattributed`.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val execModule = mutable.HashMap.empty[Long, String]
  private val jobModule = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var counts = new Counts
  private var recordsTotal = 0L

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  /** Wait for every posted event, then return the counts gathered since
    * the last reset and start a fresh window. */
  def cut(): Counts = {
    E2eBus.drain(spark.sparkContext)
    synchronized { val c = counts; counts = new Counts; c }
  }

  /** Input records read by every task so far; never reset. */
  def recordsReadTotal(): Long = {
    E2eBus.drain(spark.sparkContext)
    synchronized(recordsTotal)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      synchronized { execModule(e.executionId) = moduleOf(e.details) }
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val viaExec = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execModule.get(id.toLong))
    val viaStage = js.stageInfos.sortBy(_.stageId).headOption.map(s => moduleOf(s.details))
    // the benchmark tags its own actions on a lazily built frame (whose
    // graft code has returned before the action runs) with the layer
    // that built the frame
    val viaTag = Option(js.properties).flatMap(p => Option(p.getProperty(LayerTag)))
    val module = (viaExec.toSeq ++ viaStage ++ viaTag)
      .find(_ != Unattributed).getOrElse(Unattributed)
    jobModule(js.jobId) = module
    jobStart(js.jobId) = js.time
    js.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = js.jobId)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    val module = jobModule.getOrElse(je.jobId, Unattributed)
    val l = counts.layer(module)
    l.s += (je.time - jobStart.getOrElse(je.jobId, je.time)) / 1e3
    l.jobs += 1
    counts.jobs += 1
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts
    val module = stageJob.get(te.stageId).flatMap(jobModule.get).getOrElse(Unattributed)
    c.layer(module).tasks += 1
    c.tasks += 1
    if (te.reason != Success) c.failedTasks += 1
    val info = te.taskInfo
    c.taskS += info.duration / 1e3
    val m = te.taskMetrics
    if (m != null) {
      val overhead = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
      c.schedDelayS += math.max(0L, info.duration - overhead) / 1e3
      c.gcS += m.jvmGCTime / 1e3
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      recordsTotal += m.inputMetrics.recordsRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(names: String*): Double =
      names.flatMap(phases.get).map(_.durationMs).sum / 1e3
    synchronized {
      counts.buildS += ms("parsing", "analysis")
      counts.planS += ms("optimization", "planning")
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  val Unattributed = "unattributed"
  val LayerTag = "e2e.layer"
  private val ModuleFrame = """graft\.([a-z]+)\.""".r

  /** The module of the innermost graft frame in a long-form call site;
    * frames of the query registry (`graft.SparkEntry`) count as `registry`. */
  def moduleOf(callSite: String): String =
    callSite.split('\n').iterator.flatMap { line =>
      ModuleFrame.findFirstMatchIn(line).map(_.group(1))
        .orElse(if (line.contains("graft.SparkEntry")) Some("registry") else None)
    }.nextOption().getOrElse(Unattributed)
}

/** Wall-clock spans around the benchmark's own calls into the program,
  * kept in memory: total seconds and count per span name. */
final class Spans {
  private val total = mutable.LinkedHashMap.empty[String, (Double, Int)]

  def apply[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally {
      val (s, n) = total.getOrElse(name, (0.0, 0))
      total(name) = (s + (System.nanoTime() - t0) / 1e9, n + 1)
    }
  }

  def seconds(name: String): Double = total.get(name).map(_._1).getOrElse(0.0)
  def reset(): Unit = total.clear()
}

/** Host condition, recorded as context so a contaminated run shows it. */
object Host {
  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat. */
  def cpuJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal [guest guest_nice]:
      // guest time is already inside user/nice, so only the first 8 sum
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }

  /** A fixed single-thread CPU probe; its wall time rises when the host
    * is contended or throttled. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 60000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xFF
      i += 1
    }
    if (acc == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }
}
