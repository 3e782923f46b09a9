package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same
  * axis as the `System.currentTimeMillis` stamps Spark puts on its
  * listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `parent` is the id of the enclosing span, or
  * -1 for a root. */
final case class Span(id: Int, name: String, layer: String,
    start: Double, end: Double, parent: Int)

/** Spans are kept in memory and written once, at exit. */
class Trace {
  private val ids = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def add(name: String, layer: String, start: Double, end: Double,
      parent: Int = -1): Int = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, name, layer, start, end, parent))
    id
  }

  /** Innermost span of `layer` (optionally filtered by name prefix)
    * whose interval contains `t`; -1 if none. */
  def enclosing(t: Double, layer: String, prefix: String = ""): Int =
    spans.asScala.filter(s => s.layer == layer && s.name.startsWith(prefix) &&
      s.start <= t && t <= s.end)
      .minByOption(s => s.end - s.start).map(_.id).getOrElse(-1)
}

/** Spark jobs, stages and tasks launched while the listener is
  * attached: the `operators` layer. Each job keeps the `perfbench.span`
  * local property (battery queries) and the streaming query and batch
  * that launched it, so it can become a child span of either. */
class OperatorsListener extends SparkListener {
  val jobs = new AtomicLong(0)
  val stages = new AtomicLong(0)
  val tasks = new AtomicLong(0)
  val runMs = new AtomicLong(0)
  val cpuNs = new AtomicLong(0)
  val gcMs = new AtomicLong(0)
  val schedDelayMs = new AtomicLong(0)
  val shuffleRead = new AtomicLong(0)
  val shuffleWrite = new AtomicLong(0)
  val spill = new AtomicLong(0)
  val peakExecMem = new AtomicLong(0)
  /** [launch, finish] of every finished task, epoch ms. */
  val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]()

  private final case class Open(start: Long, spanProp: String,
      queryId: String, batchId: String)
  private val open = new ConcurrentHashMap[Int, Open]()
  /** (start, end, span property, streaming query id, batch id) */
  val jobSpans = new ConcurrentLinkedQueue[(Long, Long, String, String, String)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val p = Option(e.properties)
    def prop(k: String) = p.map(_.getProperty(k, "")).getOrElse("")
    open.put(e.jobId, Open(e.time, prop("perfbench.span"),
      prop("sql.streaming.queryId"), prop("streaming.sql.batchId")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach(o =>
      jobSpans.add((o.start, e.time, o.spanProp, o.queryId, o.batchId)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val info = e.taskInfo
    taskIntervals.add((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakExecMem.getAndUpdate(x => math.max(x, m.peakExecutionMemory))
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
        else 0L
      schedDelayMs.addAndGet(math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult))
    }
  }

  /** Wall time inside `windows` during which no task was running. */
  def idleMs(windows: Seq[(Double, Double)]): Double = {
    val busy = Intervals.union(taskIntervals.asScala.toSeq
      .map { case (a, b) => (a.toDouble, b.toDouble) })
    windows.map { case (a, b) =>
      (b - a) - Intervals.overlap(busy, a, b)
    }.sum
  }

  def metrics(windows: Seq[(Double, Double)], cores: Int): Map[String, Double] = {
    val wallS = windows.map { case (a, b) => b - a }.sum / 1000.0
    val taskRunS = runMs.get / 1000.0
    Map(
      "operators.jobs" -> jobs.get.toDouble,
      "operators.stages" -> stages.get.toDouble,
      "operators.tasks" -> tasks.get.toDouble,
      "operators.scheduler_delay_s" -> schedDelayMs.get / 1000.0,
      "operators.driver_only_s" -> idleMs(windows) / 1000.0,
      "operators.task_run_s" -> taskRunS,
      "operators.task_cpu_s" -> cpuNs.get / 1e9,
      "operators.gc_s" -> gcMs.get / 1000.0,
      "operators.shuffle_read_bytes" -> shuffleRead.get.toDouble,
      "operators.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
      "operators.spill_bytes" -> spill.get.toDouble,
      "operators.peak_exec_memory_bytes" -> peakExecMem.get.toDouble,
      "operators.cores_busy_base_core_s" -> wallS * cores,
      "operators.cores_busy_share" ->
        (if (wallS > 0) taskRunS / (wallS * cores) else 0.0))
  }
}

object Intervals {
  /** Sorted, disjoint union of closed intervals. */
  def union(xs: Seq[(Double, Double)]): Vector[(Double, Double)] = {
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    xs.sortBy(_._1).foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2)
        out(out.length - 1) = (out.last._1, math.max(out.last._2, b))
      else out += ((a, b))
    }
    out.toVector
  }

  /** Length of `disjoint` ∩ [a, b]. */
  def overlap(disjoint: Seq[(Double, Double)], a: Double, b: Double): Double =
    disjoint.map { case (x, y) => math.max(0.0, math.min(b, y) - math.max(a, x)) }.sum
}

/** Catalyst phase times of every action that completes while the
  * listener is attached, and of any QueryExecution passed to `record`:
  * the `plans` layer. */
class PlansListener extends QueryExecutionListener {
  /** (phase, start ms, end ms) */
  val phases = new ConcurrentLinkedQueue[(String, Double, Double)]()
  private val seen = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean]()))

  /** Adds the phases `qe` has run so far, once per QueryExecution. */
  def record(qe: QueryExecution): Unit =
    if (seen.add(qe)) qe.tracker.phases.foreach { case (name, p) =>
      phases.add((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def totalMs(phase: String): Double =
    phases.asScala.filter(_._1 == phase).map { case (_, a, b) => b - a }.sum
}

/** Per-query micro-batch progress: the `streaming` and `sources`
  * layers. */
class StreamingListener extends StreamingQueryListener {
  import StreamingQueryListener._

  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  val started = new ConcurrentLinkedQueue[Double]()

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    started.add(java.time.Instant.parse(e.timestamp).toEpochMilli.toDouble)
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

/** Every listener of a traced run, attached to one session. */
final class Listeners(spark: SparkSession) {
  val ops = new OperatorsListener
  val streams = new StreamingListener
  val plans = new PlansListener
  spark.sparkContext.addSparkListener(ops)
  spark.streams.addListener(streams)
  spark.listenerManager.register(plans)
  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(ops)
    spark.streams.removeListener(streams)
    spark.listenerManager.unregister(plans)
  }
  def planMetrics: Map[String, Double] = Map(
    "plans.analysis_ms" -> plans.totalMs("analysis"),
    "plans.optimization_ms" -> plans.totalMs("optimization"),
    "plans.planning_ms" -> plans.totalMs("planning"))
}
