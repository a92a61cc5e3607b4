package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The ASOF LEFT JOIN SQL surface (GraftSqlParser + ResolveAsOfJoin via
  * SparkSessionExtensions): the SQL spelling must produce the custom
  * exec and the DSL twin's exact rows, in both directions, and the
  * guarded shapes must fail loudly at parse/analysis time. */
class AsOfSqlSpec extends AnyFunSuite {

  // the ONE extensions-enabled session the library itself memoizes (the
  // registered ev_asof_sql path) - no second copy of the registry swap
  private lazy val s: SparkSession =
    graft.Sessions.withExtensions(graft.TestSpark.spark)

  private val sf = "/root/testdata/sf0.001"

  private def views(): Unit = {
    graft.queries.EventQueries.asofPurchases(s, sf)
      .createOrReplaceTempView("asql_p")
    graft.queries.EventQueries.asofClicks(s, sf)
      .createOrReplaceTempView("asql_c")
  }

  test("ASOF LEFT JOIN SQL plans the custom exec and equals the DSL twin") {
    views()
    val sql = s.sql(
      """SELECT p.event_id, p.user_id, p.t_us, p.value,
        |       c.click_id, c.c_us AS click_us, c.click_value
        |FROM asql_p p ASOF LEFT JOIN asql_c c
        |  ON p.user_id = c.c_user AND p.t_us >= c.c_us
        |ORDER BY p.event_id""".stripMargin)
    val rows = sql.collect().toSeq
    assert(sql.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    val dsl = graft.queries.EventQueries.asofEnrich(s, sf).collect().toSeq
    assert(rows == dsl && rows.nonEmpty)
  }

  test("flipped operand order and <= resolve to the forward direction") {
    views()
    // c.c_us >= p.t_us == p.t_us <= c.c_us: both forward
    val a = s.sql(
      """SELECT p.event_id, c.click_id FROM asql_p p ASOF LEFT JOIN asql_c c
        |  ON p.user_id = c.c_user AND c.c_us >= p.t_us
        |ORDER BY p.event_id""".stripMargin).collect().toSeq
    val b = s.sql(
      """SELECT p.event_id, c.click_id FROM asql_p p ASOF LEFT JOIN asql_c c
        |  ON p.user_id = c.c_user AND p.t_us <= c.c_us
        |ORDER BY p.event_id""".stripMargin).collect().toSeq
    val dsl = AsOf.join(
        graft.queries.EventQueries.asofPurchases(s, sf),
        graft.queries.EventQueries.asofClicks(s, sf),
        Seq("user_id" -> "c_user"), "t_us", "c_us", forward = true)
      .selectExpr("event_id", "click_id").orderBy("event_id").collect().toSeq
    assert(a == dsl && b == dsl && a.nonEmpty)
  }

  test("bare ASOF JOIN and multiple ASOF joins are parse errors") {
    views()
    val bare = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      s.sql("SELECT 1 FROM asql_p p ASOF JOIN asql_c c ON p.user_id = c.c_user AND p.t_us >= c.c_us")
    }
    assert(bare.getMessage.contains("ASOF LEFT JOIN"))
    val two = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      s.sql(
        """SELECT 1 FROM asql_p p
          |ASOF LEFT JOIN asql_c c ON p.user_id = c.c_user AND p.t_us >= c.c_us
          |ASOF LEFT JOIN asql_c d ON p.user_id = d.c_user AND p.t_us >= d.c_us""".stripMargin)
    }
    assert(two.getMessage.contains("at most one"))
  }

  test("the keyword inside literals/comments is data; quoted `asof` stays a name") {
    views()
    // string literal containing the keyword: must NOT be rewritten
    val lit = s.sql("SELECT 'ASOF LEFT JOIN' AS kw, 'ASOF JOIN' AS kw2").head()
    assert(lit.getString(0) == "ASOF LEFT JOIN" && lit.getString(1) == "ASOF JOIN")
    // a comment containing the keyword is invisible to the rewrite
    val viaComment = s.sql(
      "SELECT count(*) AS n FROM asql_p -- ASOF LEFT JOIN in a comment\n").head()
    assert(viaComment.getLong(0) > 0)
    // a backtick-quoted `asof` alias is an ordinary name
    val aliased = s.sql(
      "SELECT `asof`.event_id FROM asql_p `asof` ORDER BY 1 LIMIT 1").head()
    assert(!aliased.isNullAt(0))
  }

  test("an ASOF LEFT JOIN inside a subquery expression is found, not misattached") {
    views()
    val sub = s.sql(
      """SELECT count(*) AS n FROM asql_p outer_p
        |WHERE EXISTS (
        |  SELECT 1 FROM asql_p p ASOF LEFT JOIN asql_c c
        |    ON p.user_id = c.c_user AND p.t_us >= c.c_us
        |  WHERE p.event_id = outer_p.event_id AND c.click_id IS NOT NULL)""".stripMargin)
    val expected = graft.queries.EventQueries.asofEnrich(s, sf)
      .filter("click_id IS NOT NULL").count()
    assert(sub.head().getLong(0) == expected && expected > 0)
  }

  test("a condition without a time inequality fails analysis") {
    views()
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      s.sql(
        """SELECT 1 FROM asql_p p ASOF LEFT JOIN asql_c c
          |  ON p.user_id = c.c_user""".stripMargin).collect()
    }
    assert(e.getMessage.contains("time inequality"))
    // usage errors present as "Operation not allowed", never INTERNAL_ERROR
    assert(!e.getMessage.contains("INTERNAL_ERROR"), e.getMessage)
  }

  // ---- review-pass guard rails (r16) ----

  test("ASOF LEFT OUTER JOIN is the same operator as ASOF LEFT JOIN") {
    views()
    val outer = s.sql(
      """SELECT p.event_id, c.click_id FROM asql_p p ASOF LEFT OUTER JOIN asql_c c
        |  ON p.user_id = c.c_user AND p.t_us >= c.c_us
        |ORDER BY p.event_id""".stripMargin)
    assert(outer.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    val plain = s.sql(
      """SELECT p.event_id, c.click_id FROM asql_p p ASOF LEFT JOIN asql_c c
        |  ON p.user_id = c.c_user AND p.t_us >= c.c_us
        |ORDER BY p.event_id""".stripMargin).collect().toSeq
    assert(outer.collect().toSeq == plain && plain.nonEmpty)
  }

  test("every non-LEFT ASOF spelling is rejected, never an alias parse") {
    views()
    for (bad <- Seq("ASOF INNER JOIN", "ASOF RIGHT JOIN", "ASOF FULL OUTER JOIN",
        "ASOF CROSS JOIN")) {
      val e = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
        s.sql(s"SELECT 1 FROM asql_p p $bad asql_c c ON p.user_id = c.c_user AND p.t_us >= c.c_us")
      }
      assert(e.getMessage.contains("left-outer"), s"$bad: ${e.getMessage}")
    }
  }

  test("backslash-escaped quote inside a literal does not leak the keyword") {
    views()
    // with default escapedStringLiterals=false, \' continues the literal;
    // the keyword after it is DATA and the statement must run unrewritten
    val r = s.sql("SELECT 'don\\'t ASOF LEFT JOIN me' AS v").head()
    assert(r.getString(0) == "don't ASOF LEFT JOIN me")
  }

  // ---- ADVICE r16 guard rails (r17) ----

  test("an ordinary identifier named asof is not rejected (ADVICE r16)") {
    views()
    // `asof FROM t JOIN` — the shape the old {0,2}-arbitrary-words regex
    // matched and rejected session-wide; must parse and run
    val r = s.sql(
      """SELECT asof FROM (SELECT event_id AS asof, user_id FROM asql_p) t
        |JOIN asql_c c ON t.user_id = c.c_user ORDER BY 1 LIMIT 1""".stripMargin)
    assert(r.collect().nonEmpty)
    // and as a plain select alias before an ordinary join
    val r2 = s.sql(
      """SELECT p.event_id AS asof FROM asql_p p
        |JOIN asql_c c ON p.user_id = c.c_user ORDER BY 1 LIMIT 1""".stripMargin)
    assert(r2.collect().nonEmpty)
  }

  test("legacy escapedStringLiterals mode: literal extent is unchanged") {
    views()
    // Spark's lexer consumes \' as an escape pair for TOKEN EXTENT under
    // both parser modes (the conf only controls value unescaping) — the
    // mask must bracket the literal identically, so the keyword inside
    // stays data and a real ASOF after the literal still rewrites
    val key = "spark.sql.parser.escapedStringLiterals"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "true")
    try {
      val lit = s.sql("SELECT 'don\\'t ASOF LEFT JOIN me' AS v").head()
      assert(lit.getString(0) == "don\\'t ASOF LEFT JOIN me")
      // raw literal 'x\\' — legacy mode keeps both backslashes in the
      // value; the mask consumes the \\ pair identically in both modes,
      // so the literal closes where the lexer closes it and the ASOF
      // after it still rewrites
      val joined = s.sql(
        """SELECT 'x\\' AS tag, p.event_id, c.click_id
          |FROM asql_p p ASOF LEFT JOIN asql_c c
          |  ON p.user_id = c.c_user AND p.t_us >= c.c_us
          |ORDER BY p.event_id LIMIT 1""".stripMargin)
      assert(joined.queryExecution.executedPlan.toString.contains("AsOfJoin"))
      assert(joined.head().getString(0) == "x\\\\")
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  test("nested bracketed comments keep their tail masked (SPARK-28880)") {
    views()
    val r = s.sql(
      "SELECT count(*) AS n FROM asql_p /* o /* i */ ASOF LEFT JOIN tail */").head()
    assert(r.getLong(0) > 0)
  }

  test("a view definition over ASOF LEFT JOIN is refused, not silently stored") {
    views()
    val e = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW asql_bad AS
          |SELECT p.event_id FROM asql_p p ASOF LEFT JOIN asql_c c
          |  ON p.user_id = c.c_user AND p.t_us >= c.c_us""".stripMargin)
    }
    assert(e.getMessage.contains("view definition"), e.getMessage)
  }

  // ---- TOLERANCE conjunct + INTERVAL JOIN surface (r17, VERDICT r16 #3) ----

  test("a tolerance conjunct lifts into the exec and equals the DSL twin") {
    views()
    val tol = 3600000000L
    val sql = s.sql(
      s"""SELECT p.event_id, c.click_id, c.c_us
         |FROM asql_p p ASOF LEFT JOIN asql_c c
         |  ON p.user_id = c.c_user AND p.t_us >= c.c_us
         |     AND p.t_us - c.c_us <= $tol
         |ORDER BY p.event_id""".stripMargin)
    val planTxt = sql.queryExecution.executedPlan.toString
    assert(planTxt.contains("AsOfJoin") && planTxt.contains(tol.toString))
    val dsl = AsOf.join(
        graft.queries.EventQueries.asofPurchases(s, sf),
        graft.queries.EventQueries.asofClicks(s, sf),
        Seq("user_id" -> "c_user"), "t_us", "c_us",
        toleranceUs = Some(tol))
      .selectExpr("event_id", "click_id", "c_us").orderBy("event_id")
    assert(sql.collect().toSeq == dsl.collect().toSeq)
    // the bound BITES: some match of the unbounded as-of must age out
    val unbounded = s.sql(
      """SELECT count(click_id) AS n FROM asql_p p ASOF LEFT JOIN asql_c c
        |  ON p.user_id = c.c_user AND p.t_us >= c.c_us""".stripMargin)
      .head().getLong(0)
    val bounded = sql.filter("click_id IS NOT NULL").count()
    assert(bounded < unbounded && bounded > 0,
      s"tolerance did not bite: $bounded vs $unbounded")
  }

  test("forward tolerance orients as right-minus-left; backward rejects it") {
    views()
    val tol = 3600000000L
    val fwd = s.sql(
      s"""SELECT p.event_id, c.click_id FROM asql_p p ASOF LEFT JOIN asql_c c
         |  ON p.user_id = c.c_user AND p.t_us <= c.c_us
         |     AND c.c_us - p.t_us <= $tol
         |ORDER BY p.event_id""".stripMargin).collect().toSeq
    val dsl = AsOf.join(
        graft.queries.EventQueries.asofPurchases(s, sf),
        graft.queries.EventQueries.asofClicks(s, sf),
        Seq("user_id" -> "c_user"), "t_us", "c_us",
        forward = true, toleranceUs = Some(tol))
      .selectExpr("event_id", "click_id").orderBy("event_id").collect().toSeq
    assert(fwd == dsl && fwd.nonEmpty)
    // a backward time inequality with a forward-oriented bound is a
    // usage error, not a silent wrong answer
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      s.sql(
        s"""SELECT 1 FROM asql_p p ASOF LEFT JOIN asql_c c
           |  ON p.user_id = c.c_user AND p.t_us >= c.c_us
           |     AND c.c_us - p.t_us <= $tol""".stripMargin).collect()
    }
    assert(e.getMessage.contains("tolerance"), e.getMessage)
  }

  test("INTERVAL JOIN SQL plans the sweep exec and equals the DSL twin") {
    val c = graft.queries.EventQueries.impactWindows(s, sf, "click", "c_")
    val e = graft.queries.EventQueries.impactWindows(s, sf, "error", "e_")
    c.createOrReplaceTempView("isql_c")
    e.createOrReplaceTempView("isql_e")
    val sql = s.sql(
      """SELECT c.c_id, e.e_id
        |FROM isql_c c INTERVAL JOIN isql_e e
        |  ON c.c_user = e.e_user AND e.e_start <= c.c_end AND e.e_end >= c.c_start
        |ORDER BY 1, 2""".stripMargin)
    assert(sql.queryExecution.executedPlan.toString.contains("IntervalJoin"))
    val dsl = Interval.join(c, e, Seq("c_user" -> "e_user"),
        ("c_start", "c_end"), ("e_start", "e_end"))
      .selectExpr("c_id", "e_id").orderBy("c_id", "e_id")
    assert(sql.collect().toSeq == dsl.collect().toSeq && sql.count() > 0)
    // and the registered SQL entry is plan-digest-equal to its DSL twin
    val sqlEntry = graft.queries.EventQueries.intervalSqlEntry(s, sf)
    val dslEntry = graft.queries.EventQueries.intervalOverlap(s, sf)
    assert(PlanDigest.of(sqlEntry) == PlanDigest.of(dslEntry))
  }

  test("non-inner INTERVAL flavors and interval literals behave") {
    views()
    val e = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      s.sql("SELECT 1 FROM asql_p p INTERVAL LEFT JOIN asql_c c ON p.user_id = c.c_user")
    }
    assert(e.getMessage.contains("INTERVAL JOIN"), e.getMessage)
    // an interval LITERAL near an ordinary join is untouched
    val lit = s.sql(
      """SELECT count(*) AS n FROM asql_p p JOIN asql_c c
        |  ON p.user_id = c.c_user
        |WHERE p.t_us >= 0 AND TIMESTAMP '2020-01-01' + INTERVAL 1 HOUR
        |  > TIMESTAMP '2020-01-01'""".stripMargin).head()
    assert(lit.getLong(0) > 0)
  }
}
