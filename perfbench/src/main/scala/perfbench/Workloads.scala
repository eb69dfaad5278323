package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Bench, SparkEntry, Tables}
import graft.operators
import graft.plans.ManifestFileIndex
import graft.sql.Rql
import graft.storage.Segments
import graft.streaming.Realtime

/** The workloads. Each one sets up, warms up, runs the timed window
  * through [[Run.window]] and checks its outputs outside the window; it
  * returns its set-up time in seconds (session start is added by Main).
  * Every operation builds its DataFrame afresh. */
object Workloads {
  val storage: Set[String] = Set("segment_ingest")

  def apply(name: String): Run => Double = name match {
    case "olap_warm" => olapWarm
    case "segment_ingest" => segmentIngest
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** The timed action: executes the whole plan — every output column and
    * the ORDER BY — and discards the rows. */
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def dirBytes(f: File): Long =
    if (f.isDirectory) f.listFiles().map(dirBytes).sum else f.length()

  // ------------------------------------------------------------------
  // olap_warm: a fixed sample of the non-chain query inventory
  // ------------------------------------------------------------------

  private val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] =
    Seq("relational" -> operators.Relational.queries,
      "extended" -> operators.Extended.queries,
      "events" -> operators.Events.queries,
      "text" -> operators.Text.queries,
      "similarity" -> operators.Similarity.queries,
      "reporting" -> operators.Reporting.queries,
      "curation" -> operators.Curation.queries,
      "corpus" -> operators.Corpus.queries,
      "ranges" -> operators.Ranges.queries,
      "graphs" -> operators.Graphs.queries,
      "inference" -> operators.Inference.queries)

  /** (query, module) pairs: oracled queries outside the memoized chains,
    * at least one from every module and otherwise in proportion to module
    * size. Drawn with a fixed seed and run in a fixed order, so every run
    * times the same queries over its own seeded data; a sample drawn from
    * the run's seed moved the median latency by more than any bound. */
  private lazy val olapSample: Seq[(String, String)] = {
    val rng = new scala.util.Random(2013L)
    val size = 11
    val oracled = SparkEntry.oracleSql.keySet
    val chains = Bench.coldNames.toSet
    val pools = modules.map { case (m, qs) =>
      m -> qs.keys.filter(k => oracled(k) && !chains(k)).toSeq.sorted
    }.filter(_._2.nonEmpty)
    val total = pools.map(_._2.size).sum
    pools.flatMap { case (m, names) =>
      val k = math.max(1, math.round(size.toDouble * names.size / total).toInt)
      rng.shuffle(names).take(k).map(_ -> m)
    }
  }

  def olapWarm(run: Run): Double = {
    import run._
    val t0 = System.nanoTime()
    val sample = olapSample
    def build(name: String): DataFrame = SparkEntry.queries(name)(spark, data)
    // warm-up: one full run of every sampled query (JIT, codegen and the
    // memo caches), on a pool no wider than the session's cores
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    try sample.map { case (name, m) =>
      pool.submit(new Runnable { def run(): Unit = op(name, m)(build(name))(noop) })
    }.foreach(_.get) finally pool.shutdown()
    val setup = secs(t0)
    // whole passes over the sample, at least two, so every query has more
    // than one latency and ops_per_s always sees the same mix
    window(round = sample.size, minRounds = 2) { i =>
      val (name, m) = sample(i % sample.size)
      op(name, m)(build(name))(noop)
    }
    // outside the window: each query once more on the same warm path, one
    // thread, its result dumped for the oracle check
    sample.foreach { case (name, m) =>
      val dir = s"$work/results/$name"
      val r = op(name, m)(build(name))(_.write.mode("overwrite").parquet(dir))
      if (r.ok) checks += OracleCheck(name, dir, SparkEntry.oracleSql(name))
      else wrong += ops.count(o => o.ok && o.name == name)
    }
    setup
  }

  // ------------------------------------------------------------------
  // segment_ingest: RQL probes over dim-sorted segment tables while
  // realtime micro-batches land
  // ------------------------------------------------------------------

  private final case class SegTable(name: String,
      frame: (SparkSession, String) => DataFrame, sort: Seq[String],
      indexed: Seq[String], blooms: Seq[String], ngrams: Seq[String])

  private val segTables = Seq(
    SegTable("lineitem", Tables.lineitem, Seq("l_orderkey"),
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"),
      Seq("l_suppkey"), Nil),
    SegTable("events", Tables.events, Seq("ts"),
      Seq("ts", "event_id", "user_id", "value"), Seq("event_type", "user_id"), Nil),
    SegTable("documents", Tables.documents, Seq("doc_id"),
      Seq("doc_id", "n_chars"), Seq("lang", "source"), Seq("text")))

  /** A probe: RQL text over the view `{t}` of one table. */
  private final case class Probe(id: String, cls: String, table: String, rql: String) {
    def on(view: String): String = rql.replace("{t}", view)
  }

  private val probeClasses: Seq[String] = Seq("point", "range", "in", "prefix",
    "substring", "meta", "bloom_eq", "full_agg")

  /** `perClass` seeded probes of every class. Keys and words are drawn
    * from the data, so every probe can match. */
  private def probePool(run: Run, segDir: String, perClass: Int): Seq[Probe] = {
    import run._
    def bounds(t: String, c: String): (Long, Long) = {
      val (lo, hi) = Segments.manifestBounds(s"$segDir/$t", c).get
      (lo.toLong, hi.toLong)
    }
    val (okLo, okHi) = bounds("lineitem", "l_orderkey")
    val (skLo, skHi) = bounds("lineitem", "l_suppkey")
    val (tsLo, tsHi) = bounds("events", "ts")
    def between(lo: Long, hi: Long): Long = lo + (rng.nextDouble() * (hi - lo)).toLong
    val texts = Tables.documents(spark, data).select("text").limit(64)
      .collect().map(_.getString(0).split(" ").toSeq)
    def words(n: Int, atStart: Boolean): String = {
      val ws = texts(rng.nextInt(texts.length))
      val at = if (atStart) 0 else rng.nextInt(math.max(1, ws.size - n))
      ws.slice(at, at + n).mkString(" ")
    }
    val day = 86400L * 1000000000L
    val metaCols = Seq("lineitem" -> Seq("l_orderkey", "l_quantity", "l_shipdate"),
      "events" -> Seq("ts", "event_id", "value"),
      "documents" -> Seq("doc_id", "n_chars"))
    (0 until perClass).flatMap { j =>
      def p(cls: String, t: String, rql: String) = Probe(s"$cls-$j", cls, t, rql)
      val (mt, mcols) = metaCols(j % metaCols.size)
      val mc = mcols(rng.nextInt(mcols.size))
      val keys = Seq.fill(5)(between(okLo, okHi)).mkString(", ")
      val ts0 = between(tsLo, tsHi - day)
      Seq(
        p("point", "lineitem", "SELECT l_orderkey, l_linenumber, l_partkey, " +
          s"l_suppkey, l_quantity FROM {t} WHERE l_orderkey = ${between(okLo, okHi)}"),
        p("range", "events", "SELECT event_type, count(*) AS n, " +
          "sum(CONVERT(value * 100, BIGINT)) AS v FROM {t} " +
          s"WHERE ts BETWEEN $ts0 AND ${ts0 + day} GROUP BY event_type"),
        p("in", "lineitem", "SELECT l_orderkey, count(*) AS n, " +
          s"sum(l_quantity) AS q FROM {t} WHERE l_orderkey IN ($keys) " +
          "GROUP BY l_orderkey"),
        p("prefix", "documents", "SELECT doc_id, n_chars FROM {t} " +
          s"WHERE text LIKE '${words(2, atStart = true)}%'"),
        p("substring", "documents", "SELECT lang, count(*) AS n FROM {t} " +
          s"WHERE text LIKE '%${words(3, atStart = false)}%' GROUP BY lang"),
        p("meta", mt, s"SELECT count(*) AS n, min($mc) AS lo, max($mc) AS hi FROM {t}"),
        p("bloom_eq", "lineitem", "SELECT count(*) AS n, sum(l_quantity) AS q " +
          s"FROM {t} WHERE l_suppkey = ${between(skLo, skHi)}"),
        p("full_agg", "lineitem", "SELECT l_returnflag, l_linestatus, " +
          "count(*) AS n, sum(l_quantity) AS q, " +
          "sum(CONVERT(l_extendedprice * 100, BIGINT)) AS p FROM {t} " +
          "GROUP BY l_returnflag, l_linestatus"))
    }
  }

  private def manifestIndex(spark: SparkSession, view: String): Option[ManifestFileIndex] =
    spark.table(view).queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation => lr.relation
    }.collect { case fs: HadoopFsRelation => fs.location }
      .collect { case m: ManifestFileIndex => m }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("\u0001")).toSeq.sorted

  /** Seeded RQL probes through `Rql.sql` over `USING graft` views of the
    * tables rewritten by `Segments.write`. Construction writes the
    * segments and registers plain-parquet twins of the same tables. */
  private final class SegmentProbes(run: Run) {
    import run._
    val segDir = s"$work/seg"
    private val tw = System.nanoTime()
    segTables.foreach { t =>
      Segments.write(t.frame(spark, data), s"$segDir/${t.name}", t.sort,
        t.indexed, numSegments = 8, bloomCols = t.blooms, ngramCols = t.ngrams)
    }
    val writeS: Double = secs(tw)
    // plain-parquet twins of the same tables (same logical schema)
    segTables.foreach(t => t.frame(spark, data).createOrReplaceTempView(s"${t.name}_parquet"))
    val pool: Seq[Probe] = rng.shuffle(probePool(run, segDir, perClass = 2))
    private val loadMs, translateMs = mutable.ArrayBuffer.empty[Double]
    private val kept = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    private val total = mutable.Map.empty[String, Double]

    /** One probe: open the table through the graft source, translate the
      * RQL, plan and run it (Rql.sql is translate + spark.sql, split here
      * so each layer gets its own span). */
    def probe(p: Probe): OpRecord = {
      val view = s"${p.table}_graft"
      val rec = op(p.id, p.cls)({
        loadMs += span("sources", "load")(spark.sql(
          s"CREATE OR REPLACE TEMPORARY VIEW $view USING graft " +
            s"OPTIONS (path '$segDir/${p.table}')"))._2
        val (sqlText, tMs) = span("sql", "translate")(Rql.translate(p.on(view)))
        translateMs += tMs
        spark.sql(sqlText)
      })(noop)
      // the view's index is new for this probe: lastKept stays -1 when the
      // probe was answered without listing a file
      if (tracer.isDefined) manifestIndex(spark, view).foreach { idx =>
        kept.getOrElseUpdate(p.cls, mutable.ArrayBuffer.empty) += idx.lastKept.toDouble
        total(p.cls) = idx.effectiveStats.size.toDouble
      }
      rec
    }

    def warmUp(): Unit = {
      pool.foreach(probe)
      loadMs.clear(); translateMs.clear(); kept.clear()
    }

    /** Outside the window: every probe that ran must return what the same
      * probe returns over plain parquet. Then the storage-layer metrics. */
    def checkAndReport(): Unit = {
      val ran = ops.map(_.name).toSet
      pool.filter(p => ran(p.id)).foreach { p =>
        val view = s"${p.table}_graft"
        spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $view USING graft " +
          s"OPTIONS (path '$segDir/${p.table}')")
        val same = try rowsOf(Rql.sql(spark, p.on(view))) ==
          rowsOf(Rql.sql(spark, p.on(s"${p.table}_parquet")))
        catch { case _: Exception => false }
        if (!same) {
          System.err.println(s"[perfbench] probe ${p.id} differs from parquet: ${p.rql}")
          wrong += ops.count(o => o.ok && o.name == p.id)
        }
      }
      val srcBytes = segTables.map(t => new File(Tables.path(data, t.name)).length()).sum
      metrics("storage.write_s") = writeS
      metrics("storage.manifest_bytes") = segTables.map(t =>
        new File(s"$segDir/${t.name}/${Segments.ManifestFile}").length()).sum.toDouble
      metrics("storage.space_amp") = dirBytes(new File(segDir)).toDouble / srcBytes
      metrics("sources.load_ms") = Stats.mean(loadMs.toSeq)
      metrics("sql.translate_us") = Stats.mean(translateMs.toSeq) * 1e3
      if (tracer.isDefined) {
        val tm = System.nanoTime()
        segTables.foreach(t => Segments.buildManifest(spark, s"$segDir/${t.name}",
          t.indexed, bloomCols = t.blooms, ngramCols = t.ngrams))
        metrics("storage.manifest_build_s") = secs(tm)
        val probes = opCounters.filter(_._1.cls != "ingest")
        metrics("storage.bytes_read_per_probe") =
          Stats.mean(probes.map(_._2.inputBytes.toDouble).toSeq)
        val meta = kept.getOrElse("meta", Nil)
        metrics("plans.metadata_answered") =
          if (meta.isEmpty) 0.0 else meta.count(_ < 0).toDouble / meta.size
        probeClasses.foreach { c =>
          metrics(s"plans.files_kept.$c") =
            Stats.mean(kept.getOrElse(c, Nil).map(math.max(0.0, _)).toSeq)
          metrics(s"plans.files_total.$c") = total.getOrElse(c, 0.0)
          metrics(s"storage.graft_p50_ms.$c") =
            Stats.median(ops.filter(_.cls == c).map(_.ms).toSeq)
          val twins = pool.filter(_.cls == c).map { p =>
            val tt = System.nanoTime()
            noop(Rql.sql(spark, p.on(s"${p.table}_parquet")))
            (System.nanoTime() - tt) / 1e6
          }
          metrics(s"storage.parquet_twin_p50_ms.$c") = Stats.median(twins)
        }
      }
    }
  }

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Realtime ingest of seeded JSON event micro-batches through
    * `Realtime.start` (decode → rollup → batch dumps), with a hybrid view
    * over the newest compacted generation plus the batches dumped after
    * it. Construction starts the stream. */
  private final class Ingest(run: Run) {
    import run._
    import spark.implicits._
    private implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val tableDir = s"$work/ingest/table"
    private val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    private val rollup = Realtime.RollupSpec(Seq("event_type", "user_id"),
      Seq("value" -> Realtime.Sum, "event_id" -> Realtime.Cnt,
        "ts" -> Realtime.Max), arrival = "event_id")
    private val spec = Realtime.IngestSpec(schema, defaults = Map("value" -> 0.0),
      rollup = Some(rollup))
    private val mem = MemoryStream[String]
    private val query = Realtime.start(mem.toDF().toDF("json"), "json", spec,
      tableDir, s"$work/ingest/checkpoint")

    private val rowsPerBatch = 2000
    private val users = 150
    val compactEvery = 2
    // every line handed in, for the final check: kept in a file, so the
    // window's heap figure is the engine's alone
    private val linesFile = s"$work/ingest/events.jsonl"
    new File(linesFile).getParentFile.mkdirs()
    private val linesOut = java.nio.file.Files.newBufferedWriter(
      java.nio.file.Paths.get(linesFile))
    private var rowsSent = 0L
    private var jsonBytes = 0L
    private var rows0 = 0L
    private def nextBatch(): Seq[String] = Seq.fill(rowsPerBatch) {
      val id = rowsSent
      rowsSent += 1
      val v = math.max(0.01, math.round(-50.0 * math.log(1.0 - rng.nextDouble()) * 100) / 100.0)
      val line = s"""{"event_id":$id,"ts":${1704067200000L + id * 250 + rng.nextInt(250)},""" +
        s""""user_id":${rng.nextInt(users)},"event_type":"${eventTypes(rng.nextInt(eventTypes.size))}",""" +
        s""""value":$v}"""
      linesOut.write(line)
      linesOut.newLine()
      jsonBytes += line.length + 1
      line
    }
    private def batchIds: Seq[Long] = Option(new File(tableDir).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
    private var gen: Option[String] = None
    private var genThrough = -1L
    private def hybrid(): DataFrame = {
      val fresh = batchIds.filter(_ > genThrough).sorted.map(b => s"$tableDir/batch=$b")
      (gen.map(spark.read.parquet(_)).toSeq ++
        (if (fresh.isEmpty) Nil else Seq(spark.read.parquet(fresh: _*))))
        .reduce(_.unionByName(_, allowMissingColumns = true))
    }
    private val batchMs, freshMs, compactS, compactBytes =
      mutable.ArrayBuffer.empty[Double]
    private def compact(): Unit = {
      val tc = System.nanoTime()
      val through = batchIds.max
      val g = Realtime.compact(spark, tableDir, rollup,
        indexedCols = Seq("event_type", "user_id"), bloomCols = Seq("user_id"))
      gen = Some(g)
      genThrough = through
      compactS += secs(tc)
      compactBytes += dirBytes(new File(g)).toDouble
    }
    private var cycles = 0

    /** One cycle: hand a batch to the source, wait until a hybrid count
      * includes its rows (freshness), serve one point probe off the
      * compacted table, and compact every few batches. */
    def cycle(): OpRecord = measure("ingest", "ingest") { _ =>
      val batch = nextBatch()
      val tb = System.nanoTime()
      batchMs += span("streaming", "micro-batch") {
        mem.addData(batch)
        query.processAllAvailable()
      }._2
      val (counted, _) = span("storage", "hybrid count")(
        hybrid().agg(sum("event_id")).head().getLong(0))
      freshMs += (System.nanoTime() - tb) / 1e6
      gen.foreach { g =>
        span("sources", "serve probe")(spark.read.format("graft").load(g)
          .filter(col("user_id") === rng.nextInt(users).toLong)
          .agg(count(lit(1)), sum("value")).collect())
      }
      cycles += 1
      if (cycles % compactEvery == 0) span("streaming", "compact")(compact())
      counted == rowsSent
    }

    /** Warm-up cycles, ending in a compaction. */
    def warmUp(): Unit = {
      (0 until compactEvery).foreach(_ => cycle())
      batchMs.clear(); freshMs.clear(); compactS.clear(); compactBytes.clear()
      rows0 = rowsSent
    }

    /** Outside the window: the compacted rollup of everything must equal
      * one batch rollup of the same rows. Then the streaming metrics. */
    def checkAndReport(): Unit = {
      query.stop()
      linesOut.close()
      val decoded = Realtime.decode(spark.read.text(linesFile).toDF("json"), "json", spec)
      val decodedRows = decoded.count()
      val expected = Realtime.rollupBatch(decoded, rollup)
      val merged = spark.read.parquet(Realtime.compact(spark, tableDir, rollup))
        .select(expected.columns.map(col).toSeq: _*)
      if (rowsOf(merged) != rowsOf(expected)) {
        System.err.println("[perfbench] compacted rollup differs from the batch rollup")
        wrong += ops.count(o => o.ok && o.cls == "ingest")
      }
      metrics("ingest_rows_per_s") = (rowsSent - rows0) / windowSeconds
      metrics("freshness_p50_ms") = Stats.median(freshMs.toSeq)
      metrics("streaming.space_amp") = dirBytes(new File(tableDir)).toDouble / jsonBytes
      metrics("streaming.batch_ms") = Stats.median(batchMs.toSeq)
      metrics("streaming.compact_s") = Stats.median(compactS.toSeq)
      metrics("streaming.compact_bytes_rewritten") = Stats.mean(compactBytes.toSeq)
      metrics("streaming.decode_failed_rows") = (rowsSent - decodedRows).toDouble
    }
  }

  /** Probes served off segment tables while realtime micro-batches land:
    * one ingest cycle, then one probe of every class, in turn. */
  def segmentIngest(run: Run): Double = {
    val t0 = System.nanoTime()
    val seg = new SegmentProbes(run)
    val ingest = new Ingest(run)
    seg.warmUp()
    ingest.warmUp()
    val setup = secs(t0)
    val every = probeClasses.size + 1
    var next = 0
    // a round runs compactEvery ingest cycles, the last of which compacts,
    // and every probe of the pool once
    require(seg.pool.size == ingest.compactEvery * probeClasses.size)
    run.window(round = every * ingest.compactEvery) { i =>
      if (i % every == 0) ingest.cycle()
      else { seg.probe(seg.pool(next % seg.pool.size)); next += 1 }
    }
    seg.checkAndReport()
    ingest.checkAndReport()
    setup
  }
}
