package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters the traced run reads at layer boundaries. Every field is a
  * running total; [[Tracer.snapshot]] copies them and `-` takes the
  * difference over a window. */
final case class Counters(
    buildJobs: Long = 0, jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    failedTasks: Long = 0, taskRunMs: Long = 0, schedDelayMs: Long = 0,
    shuffleWriteBytes: Long = 0, inputBytes: Long = 0,
    analysisMs: Double = 0, optimizationMs: Double = 0, planningMs: Double = 0,
    callbackNs: Long = 0) {
  def -(o: Counters): Counters = combine(o, -1)
  def +(o: Counters): Counters = combine(o, 1)
  private def combine(o: Counters, sign: Int): Counters = Counters(
    buildJobs + sign * o.buildJobs, jobs + sign * o.jobs,
    stages + sign * o.stages, tasks + sign * o.tasks,
    failedTasks + sign * o.failedTasks, taskRunMs + sign * o.taskRunMs,
    schedDelayMs + sign * o.schedDelayMs,
    shuffleWriteBytes + sign * o.shuffleWriteBytes,
    inputBytes + sign * o.inputBytes, analysisMs + sign * o.analysisMs,
    optimizationMs + sign * o.optimizationMs,
    planningMs + sign * o.planningMs, callbackNs + sign * o.callbackNs)
}

/** A timed interval at a layer boundary; `parent` is the enclosing span
  * (0 for an operation). Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startMs: Double, endMs: Double)

/** One SparkListener plus one QueryExecutionListener, attached only in the
  * traced run. Jobs are attributed to the operator-construction phase when
  * they carry the [[Tracer.PhaseKey]] local property set to "build". Spans
  * are kept in memory: the harness's own (operation, build, action and
  * per-layer calls), one per Spark job and one per Catalyst phase, each a
  * child of the operation running when it happened. The time spent inside
  * the callbacks is counted, so the run can report its own overhead. */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val spanIds = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]
  private val openJobs = new ConcurrentHashMap[Int, (Long, String, Long)]
  /** The span of the operation in progress, 0 between operations. */
  @volatile var currentOp: Long = 0

  def toMs(nanoTime: Long): Double = epoch0 + (nanoTime - nano0) / 1e6
  def newSpanId(): Long = spanIds.incrementAndGet()
  def record(id: Long, parent: Long, layer: String, name: String,
      startMs: Double, endMs: Double): Unit =
    spans.add(Span(id, parent, layer, name, startMs, endMs))
  private val buildJobs, jobs, stages, tasks, failedTasks, taskRunMs,
    schedDelayMs, shuffleWriteBytes, inputBytes, callbackNs = new AtomicLong
  private val analysisMs, optimizationMs, planningMs = new DoubleAdder

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    callbackNs.addAndGet(System.nanoTime() - t0)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobs.incrementAndGet()
      val build = e.properties != null && e.properties.getProperty(PhaseKey) == "build"
      if (build) buildJobs.incrementAndGet()
      if (currentOp != 0)
        openJobs.put(e.jobId, (currentOp, if (build) "build" else "action", e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(openJobs.remove(e.jobId)).foreach { case (op, phase, start) =>
        record(newSpanId(), op, "exec", s"job ${e.jobId} ($phase)",
          start.toDouble, e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      timed(stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      tasks.incrementAndGet()
      if (e.taskInfo.failed) failedTasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs.addAndGet(m.executorRunTime)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        schedDelayMs.addAndGet(math.max(0L, e.taskInfo.duration -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - e.taskInfo.gettingResultTime))
      }
    }
  }

  private val phases = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      timed {
        phasesOf(qe)
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Add the Catalyst phases `qe` went through to the counters, and as
    * spans of the current operation. */
  def phasesOf(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    p.get("analysis").foreach(s => analysisMs.add(s.durationMs.toDouble))
    p.get("optimization").foreach(s => optimizationMs.add(s.durationMs.toDouble))
    p.get("planning").foreach(s => planningMs.add(s.durationMs.toDouble))
    if (currentOp != 0) p.foreach { case (name, s) => record(newSpanId(), currentOp,
      "catalyst", name, s.startTimeMs.toDouble, s.endTimeMs.toDouble) }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(phases)

  /** Drain the listener bus, then copy the counters. */
  def snapshot(): Counters = {
    val t0 = System.nanoTime()
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    callbackNs.addAndGet(System.nanoTime() - t0)
    Counters(buildJobs.get, jobs.get, stages.get, tasks.get, failedTasks.get,
      taskRunMs.get, schedDelayMs.get, shuffleWriteBytes.get, inputBytes.get,
      analysisMs.sum, optimizationMs.sum, planningMs.sum, callbackNs.get)
  }

  /** Run `body` with jobs it submits tagged as `phase`. */
  def phase[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(PhaseKey, name)
    try body finally sc.setLocalProperty(PhaseKey, null)
  }
}

object Tracer {
  val PhaseKey = "perfbench.phase"
}

/** JVM counters: GC and JIT time, and the heap a full GC leaves behind. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def compileMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)
  /** Heap in use after full GCs; Spark's cleaner releases blocks of
    * unreachable RDDs and broadcasts only after a GC, so this collects
    * until the reading stops falling. */
  def retainedHeapMb(): Double = {
    def used(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = used()
    var next = { Thread.sleep(200); used() }
    var rounds = 1
    while (next < last * 0.98 && rounds < 5) {
      last = next
      Thread.sleep(200)
      next = used()
      rounds += 1
    }
    math.min(last, next) / 1048576.0
  }
}
