package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation: its wall time split into DataFrame construction
  * (operators) and the action, plus its class (query module, probe class,
  * or ingest cycle) and whether it succeeded. */
final case class OpRecord(name: String, cls: String, buildMs: Double,
    actionMs: Double, ok: Boolean) {
  def ms: Double = buildMs + actionMs
}

/** Result dump for the outside checker: `dir` holds the engine's result of
  * query `name`, run again after the window on the same warm path, and
  * `sql` its DuckDB oracle. The dump stands for every timed op of the
  * query. */
final case class OracleCheck(name: String, dir: String, sql: String)

/** State of one benchmark run: inputs, the timed window, and everything it
  * measures. Workloads fill `ops`, `metrics` and `checks`. */
final class Run(val spark: SparkSession, val data: String, val work: String,
    val seed: Long, val seconds: Double, val tracer: Option[Tracer],
    val cpus: Int) {
  val rng = new scala.util.Random(seed)
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[OracleCheck]
  /** Operations found wrong by a check inside the JVM. */
  var wrong = 0
  /** Per-op layer counters, traced run only. */
  val opCounters = mutable.ArrayBuffer.empty[(OpRecord, Counters)]
  private var windowS = 0.0
  private var inWindow = false

  /** Run one operation: `build` constructs the DataFrame, `act` executes it.
    * Jobs submitted while building are tagged as the build phase; the
    * analysis of the built plan, which happens eagerly while building,
    * counts as the Catalyst analysis phase. */
  def op(name: String, cls: String)(build: => DataFrame)(
      act: DataFrame => Unit): OpRecord =
    measure(name, cls) { built =>
      val df = tracer.fold(build)(_.phase("build")(build))
      built()
      if (inWindow) tracer.foreach(_.phasesOf(df.queryExecution))
      act(df)
      true
    }

  /** Time `body`, which calls `built()` where construction ends and the
    * action starts (an op that never calls it is all action) and returns
    * whether its result was right. An exception marks the op failed; it
    * never ends the run. Only ops inside the timed window are recorded;
    * warm-up calls return the record and leave no trace. */
  def measure(name: String, cls: String)(body: (() => Unit) => Boolean): OpRecord = {
    val traced = if (inWindow) tracer else None
    val before = traced.map(_.snapshot())
    traced.foreach(t => t.currentOp = t.newSpanId())
    val t0 = System.nanoTime()
    var tBuilt = -1L
    val ok = try body(() => tBuilt = System.nanoTime()) catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        false
    }
    val tEnd = System.nanoTime()
    if (tBuilt < 0) tBuilt = t0
    val rec = OpRecord(name, cls, (tBuilt - t0) / 1e6, (tEnd - tBuilt) / 1e6, ok)
    if (inWindow) ops += rec
    traced.foreach { t =>
      val op = t.currentOp
      t.record(op, 0, "op", s"$cls $name", t.toMs(t0), t.toMs(tEnd))
      if (tBuilt > t0)
        t.record(t.newSpanId(), op, "operators", "build", t.toMs(t0), t.toMs(tBuilt))
      t.record(t.newSpanId(), op, "exec", "action", t.toMs(tBuilt), t.toMs(tEnd))
      opCounters += rec -> (t.snapshot() - before.get)
      t.currentOp = 0
    }
    rec
  }

  /** Time `body` as a span of `layer` inside the current operation (traced
    * window only); returns its result and its duration in milliseconds. */
  def span[T](layer: String, name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    val t1 = System.nanoTime()
    if (inWindow) tracer.foreach(t => if (t.currentOp != 0)
      t.record(t.newSpanId(), t.currentOp, layer, name, t.toMs(t0), t.toMs(t1)))
    (r, (t1 - t0) / 1e6)
  }

  /** The timed window: call `step(i)` for i = 0, 1, … in whole rounds of
    * `round` steps, until `seconds` have passed and at least `minRounds`
    * rounds ran. The round running at the deadline completes, so every
    * window holds the same mix of operations. Records the window's wall
    * time, the JVM's GC and JIT time inside it, and the metrics every
    * workload reports. */
  def window(round: Int, minRounds: Int = 1)(step: Int => Unit): Unit = {
    val gc0 = Jvm.gcMs
    val jit0 = Jvm.compileMs
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    inWindow = true
    var i = 0
    try while (i % round != 0 || i < minRounds * round ||
        System.nanoTime() < deadline) { step(i); i += 1 }
    finally inWindow = false
    windowS = (System.nanoTime() - t0) / 1e9
    metrics("jvm.gc_ms") = (Jvm.gcMs - gc0).toDouble
    metrics("jvm.compile_ms") = (Jvm.compileMs - jit0).toDouble
    commonMetrics()
  }

  def windowSeconds: Double = windowS

  private def commonMetrics(): Unit = {
    val lat = ops.map(_.ms).toSeq
    metrics("ops_per_s") = ops.size / windowS
    // each distinct query or probe weighs the same, however often the
    // window happened to run it
    metrics("latency_p50_ms") = Stats.median(
      ops.groupBy(_.name).values.map(v => Stats.median(v.map(_.ms).toSeq)).toSeq)
    if (ops.size >= 100) metrics("latency_p90_ms") = Stats.quantile(lat, 0.9)
    metrics("heap_retained_mb") = Jvm.retainedHeapMb()
    metrics("operators.build_ms") = Stats.mean(ops.map(_.buildMs).toSeq)
    metrics("exec.action_ms") = Stats.mean(ops.map(_.actionMs).toSeq)
    if (opCounters.nonEmpty) {
      val n = opCounters.size.toDouble
      val tot = opCounters.map(_._2).reduce(_ + _)
      metrics("operators.build_jobs") = tot.buildJobs / n
      metrics("catalyst.analysis_ms") = tot.analysisMs / n
      metrics("catalyst.optimization_ms") = tot.optimizationMs / n
      metrics("catalyst.planning_ms") = tot.planningMs / n
      metrics("exec.jobs") = tot.jobs / n
      metrics("exec.stages") = tot.stages / n
      metrics("exec.tasks") = tot.tasks / n
      metrics("exec.task_run_ms") = tot.taskRunMs / n
      metrics("exec.busy_ratio") = tot.taskRunMs / (cpus * windowS * 1000.0)
      metrics("exec.sched_delay_ms") = tot.schedDelayMs / n
      metrics("exec.shuffle_write_bytes") = tot.shuffleWriteBytes / n
      metrics("exec.input_bytes") = tot.inputBytes / n
      metrics("exec.failed_tasks") = tot.failedTasks.toDouble
      metrics("trace.overhead_ms") = tot.callbackNs / 1e6 / n
      metrics("trace.latency_p50_ms") = metrics("latency_p50_ms")
    }
  }

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok) + wrong
}

object Stats {
  /** Linearly interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --data DIR --work DIR --out FILE [--spans FILE]`. The
  * session runs on local[min(4, cores)].
  *
  * `--data` holds the generated tables; everything the run writes goes
  * under `--work`; the run's measurements go to `--out` as one JSON object
  * for run.py, which checks the oracle dumps and prints the result. */
object Main {
  def main(args: Array[String]): Unit = {
    val tMain = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val work = new File(opts("work")).getAbsolutePath
    new File(work).mkdirs()
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    // the storage workloads run with the engine's optimizer rules installed
    // the deployment way (metadata-only manifest aggregates)
    if (Workloads.storage(workload))
      builder.config("spark.sql.extensions", "graft.plans.GraftExtensions")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - tMain) / 1e9
    val tracer = if (opts.getOrElse("trace", "0") == "1") Some(new Tracer(spark)) else None
    val run = new Run(spark, new File(opts("data")).getAbsolutePath, work,
      opts("seed").toLong, opts("seconds").toDouble, tracer, cpus)
    try {
      val setupS = Workloads(workload)(run)
      run.metrics("setup_s") = sessionS + setupS
      run.metrics("setup.session_s") = sessionS
    } finally spark.stop()
    Files.writeString(Paths.get(opts("out")), toJson(run))
    for (t <- tracer; path <- opts.get("spans")) {
      import scala.jdk.CollectionConverters._
      Files.writeString(Paths.get(path), t.spans.asScala.toSeq.sortBy(_.startMs)
        .map(sp => s"""{"id":${sp.id},"parent":${sp.parent},""" +
          s""""layer":${str(sp.layer)},"name":${str(sp.name)},""" +
          s""""start_ms":${num(sp.startMs)},"end_ms":${num(sp.endMs)}}""")
        .mkString("", "\n", "\n"))
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else String.format(Locale.ROOT, "%.6f", Double.box(v))

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def toJson(run: Run): String = {
    val metrics = run.metrics.map { case (k, v) => s"${str(k)}:${num(v)}" }
    val opCounts = run.ops.groupBy(_.name).toSeq.sortBy(_._1).map { case (k, v) =>
      s"""${str(k)}:{"n":${v.size},"p50_ms":${num(Stats.median(v.map(_.ms).toSeq))}}"""
    }
    val checks = run.checks.map { c =>
      val weight = run.ops.count(o => o.ok && o.name == c.name)
      s"""{"name":${str(c.name)},"dir":${str(c.dir)},"sql":${str(c.sql)},""" +
        s""""ops":$weight}"""
    }
    s"""{"attempted":${run.attempted},"failed":${run.failed},""" +
      s""""metrics":{${metrics.mkString(",")}},""" +
      s""""ops":{${opCounts.mkString(",")}},""" +
      s""""checks":[${checks.mkString(",")}]}""" + "\n"
  }
}
