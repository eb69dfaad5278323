package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Table registry: maps the engine's catalog onto parquet directories.
  *
  * Reference parity: IndexR keeps a table catalog on ZooKeeper
  * (indexr-server/src/main/java/io/indexr/server/ZkTableManager.java) where a
  * table = schema JSON + a directory of segment files. Here a table = a parquet
  * file/directory under a scale-factor dir; Spark's catalog (temp views) plays
  * the role of the ZK registry, and Parquet files play the role of segments
  * (indexr-segment/src/main/java/io/indexr/segment/Segment.java:6-15).
  *
  * At 100 TB each table would be a directory of many parquet files
  * (optionally date-partitioned); everything below reads a path, so the layout
  * scales without code changes.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Path of a table inside a scale-factor directory. */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Session identity for metadata memos: the session UUID where exposed
    * (the classic runtime — always, here), identity hash otherwise. A
    * STRING key never pins the session object (ADVICE r17: the old
    * session-keyed TrieMap strongly held every session for the JVM
    * lifetime). */
  private val uuidMethod: Option[java.lang.reflect.Method] =
    scala.util.Try(Class
      .forName("org.apache.spark.sql.classic.SparkSession")
      .getMethod("sessionUUID")).toOption // private[sql] in Scala, public in bytecode
  private def sid(s: SparkSession): String =
    uuidMethod.flatMap(m => scala.util.Try(m.invoke(s).toString).toOption)
      .getOrElse("idhash:" + System.identityHashCode(s))

  /** Memoized parquet SCHEMA per (session, path) — the catalog's schema
    * registry, reference parity with IndexR's schema JSON on ZooKeeper
    * (ZkTableManager). A bare `spark.read.parquet` re-infers the schema
    * (footer read + resolution) on EVERY call, and the engine builds
    * table frames hundreds of times per bench pass; passing the known
    * schema skips that repeated driver-side work. Keyed on the session
    * UUID so a config that changes inference (nanosAsLong) cannot leak
    * across sessions; this caches metadata only, never rows or results.
    * A table directory rewritten mid-session must go through
    * [[invalidateMeta]] (the Text.invalidateCaches discipline). */
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), org.apache.spark.sql.types.StructType]

  def df(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    val sch = schemaCache.getOrElseUpdate((sid(spark), p),
      spark.read.parquet(p).schema)
    spark.read.schema(sch).parquet(p)
  }

  /** Memoized view registration per (session, view name): re-running
    * `createOrReplaceTempView` with the identical frame on every query
    * build is catalog-metadata churn the SQL-surface queries paid per
    * call. The memo records WHAT was registered (dir + tag); a different
    * dir or tag under the same name re-registers, and so does a view that
    * has since left the session catalog (dropped by a caller); identical
    * registration of a live view is a no-op. Metadata only — a view holds
    * an unexecuted plan. */
  private val viewReg = scala.collection.concurrent.TrieMap
    .empty[(String, String), (String, String)]

  def registerViewOnce(spark: SparkSession, dir: String, name: String,
      tag: String = "")(frame: => DataFrame): Unit =
    if (!viewReg.get((sid(spark), name)).contains((dir, tag)) ||
        spark.sessionState.catalog.getTempView(name).isEmpty) {
      frame.createOrReplaceTempView(name)
      viewReg((sid(spark), name)) = (dir, tag)
    }

  /** Drop the memoized schemas and view registrations touching `dir` —
    * for a table directory rewritten mid-session. */
  def invalidateMeta(spark: SparkSession, dir: String): Unit = {
    val s = sid(spark)
    schemaCache.keys.filter(k => k._1 == s && k._2.startsWith(dir))
      .foreach(schemaCache.remove)
    viewReg.filter { case (k, v) => k._1 == s && v._1 == dir }
      .keys.foreach(viewReg.remove)
  }

  /** Register every table as a temp view so `spark.sql` works over the dir. */
  def register(spark: SparkSession, dir: String): Unit =
    names.foreach(n => registerViewOnce(spark, dir, n)(df(spark, dir, n)))

  // Typed accessors for the common tables.
  def lineitem(s: SparkSession, d: String): DataFrame = df(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = df(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = df(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = df(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = df(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = df(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = df(s, d, "region")
  /** The events stream table, with `ts` normalized to an epoch-nano long.
    *
    * The generator has produced `ts` both as TIMESTAMP(NANOS) (read as a
    * nano long under spark.sql.legacy.parquet.nanosAsLong) and as plain
    * TIMESTAMP (micros). All event-time operators do exact integer math on
    * epoch nanos, so normalize here: micros × 1000 is lossless and keeps
    * every downstream `ts DIV …` expression and its DuckDB `epoch_ns(ts)`
    * oracle in exact agreement regardless of the physical parquet type.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = df(s, d, "events")
    raw.schema("ts").dataType match {
      case TimestampType | TimestampNTZType =>
        // NTZ → TZ cast is exact under the engine's fixed UTC session zone.
        raw.withColumn("ts",
          (unix_micros(col("ts").cast(TimestampType)) * 1000L).cast(LongType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = df(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = df(s, d, "embeddings")
}
