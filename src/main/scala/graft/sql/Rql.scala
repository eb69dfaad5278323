package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** RQL dialect shim: lets query strings written for the reference's embedded
  * SQL engine run unchanged on Spark SQL.
  *
  * The reference grammar (RQL.g4, Pinot-derived) is ANSI-shaped except for
  * four constructs (sql/IndexRQL.java:266-300, RQL.g4:111-114):
  *   - `SELECT TOP n …`            → `… LIMIT n`
  *   - `LIMIT offset, n`           → `LIMIT n OFFSET offset`
  *   - `CONVERT(expr, type)`       → `CAST(expr AS type)` (type may be
  *     parameterized: `DECIMAL(18,2)`, `VARCHAR(10)`)
  *   - `ONE(expr)` (identity fn)   → `(expr)`
  * Everything else RQL accepts (scan/filter/group/having/order/limit, the
  * AVG/COUNT/MAX/MIN/SUM/IF/CAST function set) is valid Spark SQL already.
  *
  * Translation is textual (regex over non-string-literal segments) — the
  * right weight for a 4-construct dialect gap; a full parser would be
  * re-implementing what Catalyst already does.
  */
object Rql {

  def sql(spark: SparkSession, rql: String): DataFrame = spark.sql(translate(rql))

  /** Translate an RQL string to Spark SQL. String literals are preserved. */
  def translate(rql: String): String = {
    // split into string-literal and code segments so rewrites never touch
    // quoted text
    val parts = splitLiterals(rql)
    // pass 1: per-segment rewrites; TOP is only STRIPPED here — its LIMIT
    // belongs at the end of the whole statement, not of whatever code
    // segment TOP happened to sit in (a trailing string literal would
    // otherwise land after the LIMIT and break the SQL)
    var topN: Option[String] = None
    val rewritten = parts.map {
      case (code, false) =>
        var c = code
        if (topN.isEmpty) TopRe.findFirstMatchIn(c).foreach { m =>
          topN = Some(m.group(1))
          c = TopRe.replaceFirstIn(c, "SELECT ")
        }
        // single-TOP assumption: RQL (Pinot-derived) has no subqueries or
        // UNION, so at most one TOP can occur; a leftover second TOP would
        // silently reach Spark and fail to parse — reject it here instead
        if (TopRe.findFirstIn(c).isDefined)
          throw new IllegalArgumentException(
            s"RQL translate: multiple TOP clauses are not supported (RQL has no subqueries): $rql")
        rewrite(c)
      case (lit, true) => lit
    }.mkString
    // pass 2: append TOP's LIMIT after the final segment (before any
    // trailing whitespace/semicolon)
    topN match {
      case Some(n) =>
        val end = rewritten.lastIndexWhere(ch => !ch.isWhitespace && ch != ';') + 1
        val (body, tail) = rewritten.splitAt(end)
        s"$body LIMIT $n$tail"
      case None => rewritten
    }
  }

  private def splitLiterals(s: String): Seq[(String, Boolean)] = {
    val res = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    val cur = new StringBuilder
    var inStr = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!inStr && c == '\'') {
        if (cur.nonEmpty) { res += ((cur.toString, false)); cur.clear() }
        inStr = true; cur.append(c)
      } else if (inStr && c == '\'') {
        // '' escape stays inside the literal
        if (i + 1 < s.length && s.charAt(i + 1) == '\'') { cur.append("''"); i += 1 }
        else { cur.append(c); res += ((cur.toString, true)); cur.clear(); inStr = false }
      } else cur.append(c)
      i += 1
    }
    if (cur.nonEmpty) res += ((cur.toString, inStr))
    res.toSeq
  }

  private val TopRe = "(?i)\\bSELECT\\s+TOP\\s+(\\d+)\\s+".r
  private val LimitOffRe = "(?i)\\bLIMIT\\s+(\\d+)\\s*,\\s*(\\d+)".r
  // the target type may carry a precision/length: DECIMAL(18,2), VARCHAR(10)
  private val ConvertRe = ("(?i)\\bCONVERT\\s*\\(([^(),]+(?:\\([^()]*\\)[^(),]*)*),\\s*" +
    "(\\w+(?:\\s*\\(\\s*\\d+\\s*(?:,\\s*\\d+\\s*)?\\))?)\\s*\\)").r
  private val OneRe = "(?i)\\bONE\\s*\\(".r

  private def rewrite(code: String): String = {
    var c = code
    c = LimitOffRe.replaceAllIn(c, m => s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}")
    c = ConvertRe.replaceAllIn(c, m => s"CAST(${m.group(1)} AS ${m.group(2)})")
    c = OneRe.replaceAllIn(c, "(")
    c
  }
}
