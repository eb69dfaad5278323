package graft.storage


import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Segment-layout storage: dim-sorted parquet + a per-file min/max manifest.
  *
  * Reference parity (SURVEY.md §4.2): IndexR's level-1 index keeps per-column
  * min/max per segment (`ColumnNode`, storage/ColumnNode.java:12,37-52) so
  * whole segments are skipped without opening them. Parquet already gives us
  * level-2 (row-group stats ≈ DataPackNode min/max) and level-3 (predicate
  * eval) natively; this module restores level-1: a table-level manifest JSON
  * holding per-FILE min/max per indexed column, consulted before Spark ever
  * lists the files.
  *
  * Scale: the manifest is built from one aggregation over the data grouped
  * by input_file_name (map-side-combinable, one shuffle of #files rows) and
  * is tiny (KBs per thousand files); pruning is a driver-side filter over
  * file entries — exactly how InfoSegment pruning works in the reference.
  * Writing sorts by the sort columns (TableSchema.java:35 sort.columns) via
  * repartitionByRange + sortWithinPartitions, which is what makes min/max
  * ranges disjoint and the pruning effective.
  */
object Segments {

  val ManifestFile = "_graft_manifest.json"

  /** Manifest format version. v2 distinguishes absent stats (JSON null) from
    * the literal string "null"; v1 (version-less) manifests conflated them.
    * v3 adds the table's data schema, so a table opens from the manifest
    * alone — the reference's InfoSegment carries its schema the same way
    * (InfoSegment.java:10-43). */
  val ManifestVersion = 3

  /** Unsigned UTF-8 byte-wise compare — the order Spark's UTF8String min/max
    * used when the stats were computed. JVM String.compareTo (UTF-16 code
    * units) disagrees with it for strings mixing U+E000–U+FFFF with
    * supplementary-plane code points, which could prune a matching file. */
  private[graft] def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  // ---- per-file bloom sketch (equality pruning for string columns) ------
  //
  // Reference parity: IndexR's string-equality rough checks run against a
  // per-pack hash/bitmap structure (ExtIndex_Str_Hash.java:25,49-55; the 2 KiB
  // CMap of RSIndex_CMap.java:23-25; the VLT OuterIndex_Inverted segment
  // index). Min/max ranges can't prune point lookups on unsorted string
  // columns; a 1024-bit bloom per file per column (the same 128 B/1024-bit
  // budget as the reference's histogram index) answers `col = v` with
  // None/Some semantics: all k bits set → maybe, any bit clear → never.

  val BloomBits = 1024
  val BloomK = 4

  /** JVM twin of graft.functions.Ops.md5Long (first 60 bits of md5 as a
    * non-negative long) — bloom probes must hash identically on the build
    * side (Spark executors) and the check side (driver pruning). */
  private[graft] def md5LongJvm(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.take(8).map("%02x".format(_)).mkString // 16 hex chars, use 15
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  private[graft] def bloomPositions(v: String): Seq[Int] =
    (0 until BloomK).map(i => (md5LongJvm(s"b$i:$v") % BloomBits).toInt)

  private[graft] def bloomMightContain(hex: String, v: String): Boolean = {
    val bytes = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    bloomPositions(v).forall(p => (bytes(p / 8) & (1 << (p % 8))) != 0)
  }

  // ---- per-file character-trigram bloom (substring-LIKE pruning) --------
  //
  // Reference parity: IndexR's CMap answers `LIKE '%x%'` rough checks from a
  // per-pack character sketch (rc/Like.java:60-110; index/RSIndex_CMap.java:
  // 22-60, a 2 KiB structure). Min/max and the equality bloom can't prune a
  // substring probe; a 8192-bit (1 KiB) bloom over every character TRIGRAM
  // occurring in a file's column answers it: a file can contain a value
  // matching '%x%' only if every trigram of x is present. Trigrams are
  // CODE-POINT based on both sides (Spark's substring counts code points).

  val NgramBits = 8192
  val NgramK = 2
  val NgramN = 3

  /** Code-point trigrams of `s` — must mirror the Spark-side
    * substring(v, i, 3) extraction exactly (both count code points). */
  private[graft] def cpTrigrams(s: String): Seq[String] = {
    val cps = s.codePoints().toArray
    (0 to cps.length - NgramN).map(i => new String(cps, i, NgramN))
  }

  private[graft] def ngramPositions(tri: String): Seq[Int] =
    (0 until NgramK).map(i => (md5LongJvm(s"c$i:$tri") % NgramBits).toInt)

  /** May a value containing `needle` as a substring exist in this file's
    * column? Conservative: needles shorter than one trigram can't be
    * checked → true. */
  private[graft] def ngramMightContain(hex: String, needle: String): Boolean = {
    val tris = cpTrigrams(needle)
    if (tris.isEmpty) true
    else {
      val bytes = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      tris.forall(tri => ngramPositions(tri)
        .forall(p => (bytes(p / 8) & (1 << (p % 8))) != 0))
    }
  }

  /** Write `df` as a dim-sorted segmented table and build its manifest.
    * `numSegments` controls file count (→ one range partition each). */
  def write(df: DataFrame, dir: String, sortCols: Seq[String],
      indexedCols: Seq[String], numSegments: Int = 8,
      rowGroupBytes: Long = 8L << 20, format: String = "parquet",
      bloomCols: Seq[String] = Nil, ngramCols: Seq[String] = Nil): Unit = {
    val sorted =
      if (sortCols.nonEmpty)
        df.repartitionByRange(numSegments, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(numSegments)
    // row-group/stripe size ≈ the reference's 64Ki-row pack granularity
    // (the unit of stats-based skipping inside a file — DataPack.java:36-38)
    val base = sorted.write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toString)
      .option("orc.stripe.size", rowGroupBytes.toString)
    // pack-level value indexing for the equality-probe columns: native
    // Parquet/ORC bloom filters per row group/stripe — the in-file analogue
    // of the reference's per-pack string-hash index (ExtIndex_Str_Hash
    // .java:25,49-55): the manifest bloom skips whole FILES, these skip row
    // groups INSIDE kept files, and the reader consults them automatically
    // on pushed-down = / IN probes.
    val withBlooms = bloomCols.foldLeft(base)((w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true"))
      .option("orc.bloom.filter.columns", bloomCols.mkString(","))
    withBlooms.format(format).save(dir)
    buildManifest(df.sparkSession, dir, indexedCols, format, bloomCols, ngramCols)
  }

  /** Z-order (Morton) interleave of `quantized` — each a `bits`-bit long —
    * into one locality key: bit i of column j lands at position i·n + j, so
    * a range predicate on ANY of the columns maps to runs of the z space.
    * Pure bit arithmetic, fully codegen'd. */
  private def interleave(quantized: Seq[Column], bits: Int): Column =
    (0 until bits).flatMap { i =>
      quantized.zipWithIndex.map { case (q, j) =>
        shiftleft(shiftrightunsigned(q, i).bitwiseAND(lit(1L)),
          i * quantized.size + j)
      }
    }.reduce(_ + _)

  /** [[write]] with a multi-column Z-ORDER layout instead of a lexicographic
    * dim sort: rows are clustered by the Morton interleave of the (affinely
    * `bits`-bit-quantized) `zCols`, so per-file min/max manifests stay
    * selective on EVERY z column at once — a box predicate
    * (`a BETWEEN … AND b BETWEEN …`) prunes files on both dimensions, where
    * a lexicographic sort is selective only on its leading column (the
    * reference rough-indexes every column per pack for the same reason,
    * SURVEY.md §4.2; Z-ordering is the layout that makes plain min/max act
    * like that multi-column index).
    *
    * The quantization ranges come from one min/max pass (2·|zCols| driver
    * values — bounded like AQE stats). Quantization only shapes the LAYOUT:
    * reads stay exact whatever `bits` is. `zCols` must be numeric (or
    * castable to double); |zCols|·bits ≤ 62. */
  def writeZOrdered(df: DataFrame, dir: String, zCols: Seq[String],
      numSegments: Int = 8, bits: Int = 16,
      rowGroupBytes: Long = 8L << 20, format: String = "parquet",
      bloomCols: Seq[String] = Nil, ngramCols: Seq[String] = Nil): Unit = {
    require(zCols.size >= 2, "z-ordering needs at least two columns")
    require(zCols.size * bits <= 62, s"${zCols.size} cols × $bits bits exceeds a long")
    val mmCols = zCols.flatMap(c => Seq(min(col(c).cast("double")),
      max(col(c).cast("double"))))
    val mm = df.agg(mmCols.head, mmCols.tail: _*).head()
    val top = (1L << bits) - 1
    val quantized = zCols.zipWithIndex.map { case (c, j) =>
      val (lo, hi) = (mm.getDouble(2 * j), mm.getDouble(2 * j + 1))
      if (hi > lo)
        floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * lit(top.toDouble))
          .cast("long")
      else lit(0L)
    }
    val sorted = df.withColumn("__z", interleave(quantized, bits))
      .repartitionByRange(numSegments, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    val base = sorted.write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toString)
      .option("orc.stripe.size", rowGroupBytes.toString)
    val withBlooms = bloomCols.foldLeft(base)((w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true"))
      .option("orc.bloom.filter.columns", bloomCols.mkString(","))
    withBlooms.format(format).save(dir)
    // index every z column: the layout makes each one's per-file min/max
    // tight, which is the whole point
    buildManifest(df.sparkSession, dir, zCols, format, bloomCols, ngramCols)
  }

  /** Build/refresh the manifest: per-file row count + min/max per column,
    * plus a 1024-bit equality bloom for each column in `bloomCols` and an
    * 8192-bit character-trigram bloom (substring-LIKE pruning) for each
    * column in `ngramCols`. Offline maintenance op: one map-side-combinable
    * aggregation over the table for stats, plus one distinct+aggregate per
    * bloom/ngram column. */
  def buildManifest(spark: SparkSession, dir: String, indexedCols: Seq[String],
      format: String = "parquet", bloomCols: Seq[String] = Nil,
      ngramCols: Seq[String] = Nil): Unit = {
    val df = spark.read.format(format).load(dir)
    val aggs = count(lit(1)).as("__rows") +:
      indexedCols.flatMap(c => Seq(
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c")))
    val stats = df.groupBy(input_file_name().as("__file")).agg(aggs.head, aggs.tail: _*)
      .collect()
    // per (file, bloomCol): the set bit positions, computed distributed with
    // the SAME hash family as the driver-side check (md5Long("b<i>:"+v))
    import graft.functions.Ops.md5Long
    val blooms: Map[(String, String), String] = bloomCols.flatMap { c =>
      df.select(input_file_name().as("__file"), col(c).cast("string").as("v"))
        .filter(col("v").isNotNull).distinct()
        .select(col("__file"), explode(array((0 until BloomK).map(i =>
          pmod(md5Long(concat(lit(s"b$i:"), col("v"))), lit(BloomBits.toLong))): _*)).as("pos"))
        .groupBy("__file").agg(collect_set(col("pos")).as("ps"))
        .collect()
        .map { r =>
          val bytes = new Array[Byte](BloomBits / 8)
          r.getAs[Seq[Long]]("ps").foreach { p =>
            bytes(p.toInt / 8) = (bytes(p.toInt / 8) | (1 << (p.toInt % 8))).toByte
          }
          (r.getString(0), c) -> bytes.map("%02x".format(_)).mkString
        }
    }.toMap
    // per (file, ngramCol): bit positions of every distinct code-point
    // trigram in the column, same hash family as the driver-side check
    // (md5Long("c<i>:"+tri)). transform/sequence are interpreted, not
    // codegen'd — acceptable: this is the offline manifest build, not a
    // query path.
    val ngrams: Map[(String, String), String] = ngramCols.flatMap { c =>
      df.select(input_file_name().as("__file"), col(c).cast("string").as("v"))
        .filter(col("v").isNotNull && length(col("v")) >= NgramN)
        .select(col("__file"), explode(expr(
          s"transform(sequence(1, length(v) - ${NgramN - 1}), i -> substring(v, i, $NgramN))")).as("tri"))
        .distinct()
        .select(col("__file"), explode(array((0 until NgramK).map(i =>
          pmod(md5Long(concat(lit(s"c$i:"), col("tri"))), lit(NgramBits.toLong))): _*)).as("pos"))
        .groupBy("__file").agg(collect_set(col("pos")).as("ps"))
        .collect()
        .map { r =>
          val bytes = new Array[Byte](NgramBits / 8)
          r.getAs[Seq[Long]]("ps").foreach { p =>
            bytes(p.toInt / 8) = (bytes(p.toInt / 8) | (1 << (p.toInt % 8))).toByte
          }
          (r.getString(0), c) -> bytes.map("%02x".format(_)).mkString
        }
    }.toMap
    def jq(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    // absent stats (all-null column in this file) → JSON null, NOT the string
    // "null" — the two must stay distinguishable for string columns whose
    // real min/max is the literal text "null"
    def jv(s: String) = if (s == null) "null" else jq(s)
    val entries = stats.map { r =>
      val file = r.getAs[String]("__file")
      val statCols = indexedCols.map { c =>
        s"${jq(c)}:{" +
          s""""min":${jv(r.getAs[String](s"__min_$c"))},""" +
          s""""max":${jv(r.getAs[String](s"__max_$c"))}}"""
      }
      val bloomColsJson = bloomCols.flatMap(c =>
        blooms.get((file, c)).map(hex => s"${jq(c)}:${jq(hex)}"))
      val bloomPart =
        if (bloomColsJson.isEmpty) "" else s""","blooms":{${bloomColsJson.mkString(",")}}"""
      // a file absent from the ngram aggregate has no value long enough to
      // contain a trigram — an all-zero bloom is exact there (any >=3-char
      // needle prunes it), not merely conservative
      val zeroHex = "00" * (NgramBits / 8)
      val ngramColsJson = ngramCols.map(c =>
        s"${jq(c)}:${jq(ngrams.getOrElse((file, c), zeroHex))}")
      val ngramPart =
        if (ngramColsJson.isEmpty) "" else s""","ngrams":{${ngramColsJson.mkString(",")}}"""
      s"""{"file":${jq(file)},"rows":${r.getAs[Long]("__rows")},"stats":{${statCols.mkString(",")}}$bloomPart$ngramPart}"""
    }.mkString("[", ",", "]")
    writeTextFile(s"$dir/$ManifestFile",
      s"""{"version":$ManifestVersion,"format":${jq(format)},""" +
        s""""schema":${df.schema.json},"files":$entries}""")
  }

  // Manifest IO goes through the Hadoop FileSystem API, not java.nio: the
  // manifest must live beside its segment files on whatever store holds them
  // (HDFS / cloud object store / local), like the reference's segment
  // upload path (indexr-server/.../SegmentUploader.java).
  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private[graft] def writeTextFile(path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = p.getFileSystem(hadoopConf).create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private[graft] def readTextFile(path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(hadoopConf).open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Per-file stats; a bound is None when the column is entirely null in the
    * file (no min/max exists) — such files are never pruned. `blooms` maps a
    * column to its 1024-bit equality bloom (hex), `ngrams` to its 8192-bit
    * character-trigram bloom (substring pruning), when built. */
  case class FileStats(file: String, rows: Long,
      stats: Map[String, (Option[String], Option[String])],
      blooms: Map[String, String] = Map.empty,
      ngrams: Map[String, String] = Map.empty)

  /** One parse of a table's manifest: its storage format ("parquet" or
    * "orc"), its data schema (None for v1/v2 manifests, written before the
    * schema was recorded) and its per-file stats. */
  case class TableManifest(format: String, schema: Option[StructType],
      files: Seq[FileStats])

  def openManifest(dir: String): TableManifest = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val j = JsonMethods.parse(readTextFile(s"$dir/$ManifestFile"))
    val version = (j \ "version").extractOpt[Int].getOrElse(1)
    // v1 manifests serialized absent stats as the *string* "null", so a
    // Some("null") bound there may really mean "no stats" — drop it (the file
    // is then never pruned on that column) rather than risk wrong pruning.
    def bound(v: JValue): Option[String] =
      v.extractOpt[String].filterNot(s => version < 2 && s == "null")
    val files = (j \ "files").children.map { f =>
      FileStats(
        (f \ "file").extract[String],
        (f \ "rows").extract[Long],
        (f \ "stats").asInstanceOf[JObject].obj.map { case (k, v) =>
          k -> ((bound(v \ "min")), (bound(v \ "max")))
        }.toMap,
        (f \ "blooms") match {
          case JObject(obj) => obj.collect { case (k, JString(hex)) => k -> hex }.toMap
          case _ => Map.empty[String, String]
        },
        (f \ "ngrams") match {
          case JObject(obj) => obj.collect { case (k, JString(hex)) => k -> hex }.toMap
          case _ => Map.empty[String, String]
        })
    }
    val schema = (j \ "schema") match {
      case o: JObject => Some(DataType.fromJson(JsonMethods.compact(o)).asInstanceOf[StructType])
      case _ => None
    }
    TableManifest((j \ "format").extractOpt[String].getOrElse("parquet"), schema, files)
  }

  /** The storage format recorded in the manifest ("parquet" or "orc"). */
  def manifestFormat(dir: String): String = openManifest(dir).format

  def readManifest(dir: String): Seq[FileStats] = openManifest(dir).files

  /** A per-file rough check, RSValue-style: may this file contain matches?
    * Implementations must be conservative — when stats are missing (unindexed
    * column, or all-null column → None bounds) the answer is true. */
  sealed trait FilePred {
    def mayMatch(fs: FileStats): Boolean
  }

  /** A closed-interval predicate on one column, for manifest pruning.
    * Values compare as the column's native type via the `numeric` flag
    * (numeric → BigDecimal compare, else lexicographic — matching how the
    * stats were stringified). */
  case class Range(colName: String, lo: Option[String], hi: Option[String],
      numeric: Boolean = true) extends FilePred {
    private def cmp(a: String, b: String): Int =
      if (numeric) BigDecimal(a).compare(BigDecimal(b)) else utf8Cmp(a, b)
    def mayMatch(fs: FileStats): Boolean = fs.stats.get(colName) match {
      case Some((Some(mn), Some(mx))) =>
        lo.forall(l => cmp(mx, l) >= 0) && hi.forall(h => cmp(mn, h) <= 0)
      case _ => true // unindexed column or no stats (all-null) → can't prune
    }
  }

  /** Point-lookup predicate `col = value`: min/max range check AND (when the
    * manifest carries a bloom for the column) the k-bit bloom membership
    * test — the file-level form of the reference's string-hash equality
    * rough check (ExtIndex_Str_Hash / CMap isValue). */
  case class Equals(colName: String, value: String, numeric: Boolean = true)
      extends FilePred {
    def mayMatch(fs: FileStats): Boolean =
      Range(colName, Some(value), Some(value), numeric).mayMatch(fs) &&
        fs.blooms.get(colName).forall(hex => bloomMightContain(hex, value))
  }

  /** Membership predicate `col IN (values)`: the file may match if ANY value
    * may be present (per-value Equals, bloom-aware). */
  case class InSet(colName: String, values: Seq[String], numeric: Boolean = true)
      extends FilePred {
    def mayMatch(fs: FileStats): Boolean =
      values.exists(v => Equals(colName, v, numeric).mayMatch(fs))
  }

  /** Boolean algebra over rough checks — the reference's And/Or/Not tri-state
    * combine (rc/And.java:20, rc/Or.java:22, rc/Not.java:18) at file scope.
    * `mayMatch` is an upper bound on "contains a matching row", so:
    * AND may intersect bounds; OR needs every branch's bound; NOT(x) can only
    * prune when the file is single-valued on the column (min==max==x). */
  case class AndPred(ps: Seq[FilePred]) extends FilePred {
    def mayMatch(fs: FileStats): Boolean = ps.forall(_.mayMatch(fs))
  }
  case class OrPred(ps: Seq[FilePred]) extends FilePred {
    def mayMatch(fs: FileStats): Boolean = ps.exists(_.mayMatch(fs))
  }

  /** `col <> value`: prunes only files constant at exactly `value`. */
  case class NotEquals(colName: String, value: String, numeric: Boolean = true)
      extends FilePred {
    def mayMatch(fs: FileStats): Boolean = fs.stats.get(colName) match {
      case Some((Some(mn), Some(mx))) =>
        def eq(a: String, b: String) =
          (if (numeric) BigDecimal(a).compare(BigDecimal(b)) else utf8Cmp(a, b)) == 0
        !(eq(mn, mx) && eq(mn, value))
      case _ => true
    }
  }

  /** Substring predicate (`LIKE '%needle%'`, or one literal chunk of a
    * general LIKE pattern) via the per-file character-trigram bloom — the
    * reference's CMap substring rough check (rc/Like.java:88-110). A file
    * may match only if every trigram of the needle is present; files
    * without an ngram bloom for the column, and needles shorter than one
    * trigram, are never pruned. */
  case class ContainsPred(colName: String, needle: String) extends FilePred {
    def mayMatch(fs: FileStats): Boolean =
      fs.ngrams.get(colName).forall(hex => ngramMightContain(hex, needle))
  }

  /** Prefix predicate (LIKE 'p%') via prefix-truncated min/max compare — the
    * reference's CMap rough check shape (rc/Like.java:60-87). Truncation
    * avoids the off-by-one of a synthesized upper-bound sentinel: a file
    * matches iff min.take(|p|) <= p <= max.take(|p|). */
  case class Prefix(colName: String, prefix: String) extends FilePred {
    def mayMatch(fs: FileStats): Boolean = fs.stats.get(colName) match {
      case Some((Some(mn), Some(mx))) =>
        utf8Cmp(mn.take(prefix.length), prefix) <= 0 &&
          utf8Cmp(mx.take(prefix.length), prefix) >= 0
      case _ => true
    }
  }

  /** Read only the files whose manifest interval intersects all ranges —
    * segment-level pruning before Parquet sees a footer. */
  def prunedRead(spark: SparkSession, dir: String, ranges: Seq[FilePred]): DataFrame = {
    val m = openManifest(dir)
    val keep = m.files.filter(fs => ranges.forall(_.mayMatch(fs))).map(_.file)
    // a recorded schema spares the reader its footer-reading inference job
    val reader = m.schema.fold(spark.read)(spark.read.schema(_)).format(m.format)
    if (keep.isEmpty) reader.load(dir).limit(0)
    else reader.load(keep: _*)
  }

  /** How many files the manifest would keep (for tests/introspection). */
  def prunedFileCount(dir: String, ranges: Seq[FilePred]): (Int, Int) = {
    val manifest = readManifest(dir)
    (manifest.count(fs => ranges.forall(_.mayMatch(fs))), manifest.size)
  }

  /** Global (min, max) of a NUMERIC indexed column from the manifest alone —
    * no data file is opened (the reference's InfoSegment metadata answer,
    * SURVEY.md §4.2). None when the column is unindexed or all-null in every
    * file. Feeds histQuantilesAuto's bin derivation: metadata supplies the
    * range, the sketch pass is the only scan. */
  def manifestBounds(dir: String, colName: String): Option[(Double, Double)] = {
    val m = readManifest(dir)
    val los = m.flatMap(_.stats.get(colName).flatMap(_._1))
      .map(java.lang.Double.parseDouble)
    val his = m.flatMap(_.stats.get(colName).flatMap(_._2))
      .map(java.lang.Double.parseDouble)
    if (los.isEmpty || his.isEmpty) None else Some((los.min, his.max))
  }
}
