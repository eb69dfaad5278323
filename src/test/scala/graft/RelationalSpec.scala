package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()
  val sf: String = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import TestSpark._

  test("entry flagship returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.contains("sum_qty"))
  }

  test("every declared query runs and every oracle key exists") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    SparkEntry.oracleSql.keys.foreach(k => assert(qs.contains(k), s"oracle without query: $k"))
    qs.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      withClue(s"$name:") { assert(n >= 0) }
    }
  }

  test("registerViewOnce re-registers a view dropped from the session catalog") {
    val q256 = SparkEntry.queries("q256_spans_pure_sql")
    val first = q256(spark, sf) // registers graft_documents
    assert(spark.catalog.tableExists("graft_documents"))
    spark.catalog.dropTempView("graft_documents")
    // the memo still records the registration; the next query must not
    // trust it over the catalog (spark.sql analyzes eagerly, so a missing
    // view would fail right here)
    val again = q256(spark, sf)
    assert(spark.catalog.tableExists("graft_documents"))
    assert(again.count() == first.count())
  }

  test("q03 aggregates match a hand-computed slice") {
    import org.apache.spark.sql.functions._
    val df = operators.Relational.q03(spark, sf)
    val total = df.agg(sum("count_order")).head().getLong(0)
    val expected = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp")).count()
    assert(total == expected)
  }

  test("q12 top-n is ordered descending") {
    val rows = SparkEntry.queries("q12_top_n")(spark, sf).collect()
    val prices = rows.map(_.getAs[Double]("l_extendedprice"))
    assert(prices.sameElements(prices.sorted(Ordering[Double].reverse)))
  }
}
