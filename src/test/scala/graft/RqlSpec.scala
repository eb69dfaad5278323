package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sql.Rql

/** The reference's RQL query strings run unchanged through the shim. */
class RqlSpec extends AnyFunSuite {
  import TestSpark._

  test("translate handles TOP / LIMIT off,n / CONVERT / ONE") {
    assert(Rql.translate("SELECT TOP 5 a FROM t ORDER BY a")
      == "SELECT a FROM t ORDER BY a LIMIT 5")
    assert(Rql.translate("SELECT a FROM t LIMIT 10, 5")
      == "SELECT a FROM t LIMIT 5 OFFSET 10")
    assert(Rql.translate("SELECT CONVERT(a, BIGINT) FROM t")
      == "SELECT CAST(a AS BIGINT) FROM t")
    assert(Rql.translate("SELECT ONE(a) FROM t") == "SELECT (a) FROM t")
    // string literals untouched
    assert(Rql.translate("SELECT 'TOP 3, CONVERT(x, INT)' AS s FROM t LIMIT 2, 1")
      == "SELECT 'TOP 3, CONVERT(x, INT)' AS s FROM t LIMIT 1 OFFSET 2")
  }

  test("TOP's LIMIT lands at statement end even with trailing literals") {
    // a string literal after the TOP clause must not swallow the LIMIT
    assert(Rql.translate("SELECT TOP 5 a FROM t WHERE x = 'y'")
      == "SELECT a FROM t WHERE x = 'y' LIMIT 5")
    assert(Rql.translate("SELECT TOP 2 a FROM t WHERE x = 'y' ORDER BY a;")
      == "SELECT a FROM t WHERE x = 'y' ORDER BY a LIMIT 2;")
    assert(Rql.translate("SELECT TOP 3 a FROM t WHERE x = 'p' AND y = 'q'  ")
      == "SELECT a FROM t WHERE x = 'p' AND y = 'q' LIMIT 3  ")
  }

  test("a second TOP is rejected, not silently left untranslated") {
    intercept[IllegalArgumentException] {
      Rql.translate("SELECT TOP 5 a FROM t UNION SELECT TOP 3 b FROM u")
    }
  }

  test("RQL strings execute against the catalog (reference query shapes)") {
    Tables.register(spark, sf)
    // RQL.g4 native shape: scan→where→group→having→order→limit
    val r1 = Rql.sql(spark,
      """SELECT l_returnflag, sum(l_quantity), count(0) FROM lineitem
        |WHERE l_quantity > 10 GROUP BY l_returnflag
        |HAVING count(0) > 5 ORDER BY l_returnflag LIMIT 10, 2""".stripMargin)
    assert(r1.count() <= 2)
    val r2 = Rql.sql(spark, "SELECT TOP 7 l_orderkey FROM lineitem ORDER BY l_orderkey")
    assert(r2.count() == 7)
    val r3 = Rql.sql(spark,
      "SELECT CONVERT(l_quantity, INT) AS q, ONE(l_orderkey) AS k FROM lineitem LIMIT 3")
    assert(r3.columns.toSeq == Seq("q", "k") && r3.count() == 3)
    // IF + aggregate function set from sql/IndexRQL.java:266-300
    val r4 = Rql.sql(spark,
      """SELECT IF(l_quantity > 25, 'big', 'small') AS size_tag,
        | AVG(l_extendedprice), MIN(l_tax), MAX(l_discount)
        |FROM lineitem GROUP BY IF(l_quantity > 25, 'big', 'small')""".stripMargin)
    assert(r4.count() == 2)
  }

  test("CONVERT accepts parameterized types: DECIMAL(p,s), VARCHAR(n)") {
    assert(Rql.translate("SELECT CONVERT(a, DECIMAL(18,2)) FROM t")
      == "SELECT CAST(a AS DECIMAL(18,2)) FROM t")
    assert(Rql.translate("SELECT CONVERT(round(a, 1), decimal( 18 , 2 )) FROM t")
      == "SELECT CAST(round(a, 1) AS decimal( 18 , 2 )) FROM t")
    assert(Rql.translate("SELECT CONVERT(a, VARCHAR(10)) FROM t")
      == "SELECT CAST(a AS VARCHAR(10)) FROM t")
    Tables.register(spark, sf)
    val r = Rql.sql(spark,
      """SELECT CONVERT(l_extendedprice, DECIMAL(18,2)) AS p,
        | CONVERT(l_orderkey, VARCHAR(10)) AS k FROM lineitem LIMIT 3""".stripMargin)
    assert(r.schema("p").dataType == org.apache.spark.sql.types.DecimalType(18, 2))
    assert(r.collect().length == 3)
  }
}
