package graft.sqlgate

import org.scalatest.funsuite.AnyFunSuite

/** Dialect-rewrite unit coverage: every Flink-only construct the demo
  * scripts use maps to its Spark equivalent, and Spark-native SQL passes
  * through byte-identical.
  */
class FlinkSqlRewriteSpec extends AnyFunSuite {

  test("TUMBLE family") {
    assert(FlinkSqlRewrite(
      "SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) as ws, " +
        "TUMBLE_END(ts, INTERVAL '1' HOUR) as we, n FROM t " +
        "GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)") ==
      "SELECT window.start as ws, window.end as we, n FROM t " +
        "GROUP BY window(ts, '1 hours')")
  }

  test("HOP swaps Flink (slide, size) into Spark (size, slide)") {
    assert(FlinkSqlRewrite(
      "GROUP BY HOP (ts, INTERVAL '30' SECOND, INTERVAL '1' MINUTE), u") ==
      "GROUP BY window(ts, '1 minutes', '30 seconds'), u")
  }

  test("SESSION maps to session_window") {
    assert(FlinkSqlRewrite(
      "SELECT SESSION_START(ts, INTERVAL '5' MINUTE) FROM t " +
        "GROUP BY SESSION(ts, INTERVAL '5' MINUTE)") ==
      "SELECT session_window.start FROM t " +
        "GROUP BY session_window(ts, '5 minutes')")
  }

  test("FOR SYSTEM_TIME AS OF is dropped, aliases survive") {
    assert(FlinkSqlRewrite(
      "FROM s LEFT JOIN dim FOR SYSTEM_TIME AS OF s.proctime as b ON b.id = s.id")
      == "FROM s LEFT JOIN dim as b ON b.id = s.id")
  }

  test("TUMBLE window TVF rewrites to epoch-floored scalars") {
    val out = FlinkSqlRewrite(
      "FROM TABLE(TUMBLE(TABLE ev, DESCRIPTOR(ts), INTERVAL '1' HOUR))")
    assert(out.startsWith("FROM (SELECT ev.*, "))
    assert(out.contains(
      "timestamp_micros(unix_micros(ts) div 3600000000 * 3600000000) AS window_start"))
    assert(out.contains("+ 3600000000) AS window_end"))
    assert(out.contains("- 1000) AS window_time"))
    assert(out.endsWith("FROM ev)"))
  }

  test("HOP window TVF explodes the containing window ends") {
    val out = FlinkSqlRewrite(
      "FROM TABLE(HOP(TABLE ev, DESCRIPTOR(ts), INTERVAL '1' HOUR, INTERVAL '2' HOUR))")
    assert(out.contains("LATERAL VIEW explode(sequence("))
    // slide=3.6e9, size=7.2e9: ends anchor to the slide grid
    assert(out.contains("unix_micros(ts) div 3600000000 * 3600000000 + 3600000000"))
    assert(out.contains("timestamp_micros(g_we - 7200000000) AS window_start"))
  }

  test("CUMULATE window TVF explodes the growing window ends") {
    val out = FlinkSqlRewrite(
      "FROM TABLE(CUMULATE(TABLE ev, DESCRIPTOR(ts), INTERVAL '1' HOUR, INTERVAL '4' HOUR)) " +
        "GROUP BY window_start, window_end")
    assert(out.contains("LATERAL VIEW explode(sequence("))
    assert(out.contains(
      "timestamp_micros(unix_micros(ts) div 14400000000 * 14400000000) AS window_start"))
    assert(out.contains("+ 14400000000, 3600000000)) g_tvf AS g_we"))
    // trailing GROUP BY is untouched
    assert(out.endsWith("GROUP BY window_start, window_end"))
  }

  test("HOP/CUMULATE TVFs reject a size not divisible by the slide/step") {
    intercept[IllegalArgumentException](FlinkSqlRewrite(
      "TABLE(HOP(TABLE ev, DESCRIPTOR(ts), INTERVAL '2' HOUR, INTERVAL '3' HOUR))"))
    intercept[IllegalArgumentException](FlinkSqlRewrite(
      "TABLE(CUMULATE(TABLE ev, DESCRIPTOR(ts), INTERVAL '7' MINUTE, INTERVAL '1' HOUR))"))
  }

  private val mr =
    """SELECT user_id, a_ts, b_last FROM ev MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES A.ts AS a_ts, LAST(B.ts) AS b_last
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (A B+)
      |  DEFINE A AS A.kind = 'x', B AS B.kind = 'y'
      |)""".stripMargin

  test("MATCH_RECOGNIZE validates without a session, placeholder splices in") {
    val out = FlinkSqlRewrite.validate(mr)
    assert(!out.toUpperCase.contains("MATCH_RECOGNIZE"))
    assert(out.contains("FROM __graft_mr_validated"))
    // the run-time rewrite calls the session table function instead, and
    // refuses loudly a clause it cannot rewrite
    assert(FlinkSqlRewrite(mr).contains("FROM graft_match_recognize(TABLE(ev), '"))
    intercept[IllegalArgumentException](FlinkSqlRewrite(
      mr.replace("FROM ev", "FROM (SELECT * FROM ev)")))
  }

  test("MATCH_RECOGNIZE parses quantifiers, gaps, WITHIN, skip modes") {
    def spec(sql: String) = {
      val Block = """(?is).*MATCH_RECOGNIZE\s*\((.*)\)\s*$""".r
      sql match { case Block(b) => MatchRecognizeRewrite.parse(b) }
    }
    val s1 = spec(mr)
    assert(s1.partitionBy == Seq("user_id") && s1.orderBy == "ts")
    assert(s1.vars.map(v => (v.name, v.minRep, v.maxRep, v.greedy)) ==
      Seq(("A", 1, 1, true), ("B", 1, Int.MaxValue, true)))
    assert(s1.skipPastLastRow && s1.withinMs.isEmpty)
    assert(s1.measures.map(m => (m.variable, m.col, m.first, m.alias)) ==
      Seq(("A", "ts", false, "a_ts"), ("B", "ts", false, "b_last")))

    val s2 = spec(mr
      .replace("PATTERN (A B+)", "PATTERN (A GAP*? B+? C?) WITHIN INTERVAL '2' MINUTE")
      .replace("AFTER MATCH SKIP PAST LAST ROW", "AFTER MATCH SKIP TO NEXT ROW")
      .replace("MEASURES A.ts AS a_ts, LAST(B.ts) AS b_last",
        "MEASURES FIRST(A.ts) AS a_ts, LAST(B.ts) AS b_last"))
    assert(s2.vars.map(v => (v.name, v.minRep, v.maxRep, v.greedy,
      v.cond.isDefined)) == Seq(
      ("A", 1, 1, true, true), ("GAP", 0, Int.MaxValue, false, false),
      ("B", 1, Int.MaxValue, false, true), ("C", 0, 1, true, false)))
    assert(!s2.skipPastLastRow && s2.withinMs.contains(120000L))
    assert(s2.measures.head.first)
  }

  test("MATCH_RECOGNIZE: quoted parens in DEFINE don't truncate the block") {
    val out = FlinkSqlRewrite.validate(mr.replace("A AS A.kind = 'x'",
      "A AS A.kind = ':)'"))
    assert(!out.toUpperCase.contains("MATCH_RECOGNIZE"))
  }

  test("MATCH_RECOGNIZE: unsupported forms are rejected loudly") {
    // ALL ROWS PER MATCH
    intercept[IllegalArgumentException](FlinkSqlRewrite.validate(
      mr.replace("ONE ROW PER MATCH", "ALL ROWS PER MATCH")))
    // cross-variable DEFINE (not row-local)
    intercept[IllegalArgumentException](FlinkSqlRewrite.validate(
      mr.replace("B AS B.kind = 'y'", "B AS B.v > A.v")))
    // navigation functions in DEFINE
    intercept[IllegalArgumentException](FlinkSqlRewrite.validate(
      mr.replace("B AS B.kind = 'y'", "B AS B.v > LAST(B.v)")))
    // SKIP TO LAST <var>
    intercept[IllegalArgumentException](FlinkSqlRewrite.validate(
      mr.replace("AFTER MATCH SKIP PAST LAST ROW",
        "AFTER MATCH SKIP TO LAST B")))
    // a pattern where every variable is optional permits empty matches
    intercept[IllegalArgumentException](FlinkSqlRewrite.validate(
      mr.replace("PATTERN (A B+)", "PATTERN (A? B*)")))
    // computed measure outside the V.col / FIRST / LAST grammar
    intercept[IllegalArgumentException](FlinkSqlRewrite.validate(
      mr.replace("A.ts AS a_ts", "A.ts + 1 AS a_ts")))
  }

  test("Spark-native SQL passes through untouched") {
    val sql = "SELECT window.start, hopper, system_time FROM t " +
      "GROUP BY window(ts, '1 hour'), hopper, system_time"
    assert(FlinkSqlRewrite(sql) == sql)
  }

  test("LATERAL TABLE cross form maps to LATERAL VIEW explode") {
    assert(FlinkSqlRewrite(
      "SELECT doc_id, gram FROM docs, " +
        "LATERAL TABLE(ng(trim(text), 2)) AS t(gram) WHERE doc_id > 0") ==
      "SELECT doc_id, gram FROM docs " +
        "LATERAL VIEW explode(ng(trim(text), 2)) t AS gram WHERE doc_id > 0")
  }

  test("LEFT JOIN LATERAL TABLE ON TRUE maps to LATERAL VIEW OUTER") {
    assert(FlinkSqlRewrite(
      "SELECT a, w FROM t LEFT JOIN LATERAL TABLE(split_fn(a)) " +
        "AS s(w) ON TRUE") ==
      "SELECT a, w FROM t LATERAL VIEW OUTER explode(split_fn(a)) s AS w")
  }

  test("LATERAL TABLE with a multi-column alias uses inline") {
    assert(FlinkSqlRewrite(
      "SELECT * FROM t, LATERAL TABLE(parse(line)) AS p(k, v)") ==
      "SELECT * FROM t LATERAL VIEW inline(parse(line)) p AS k, v")
  }

  test("chained LATERAL TABLEs both rewrite") {
    assert(FlinkSqlRewrite(
      "SELECT * FROM t, LATERAL TABLE(f(a)) AS x(u), " +
        "LATERAL TABLE(g(b)) AS y(v)") ==
      "SELECT * FROM t LATERAL VIEW explode(f(a)) x AS u " +
        "LATERAL VIEW explode(g(b)) y AS v")
  }

  test("LATERAL TABLE without an alias / without ON TRUE rejects loudly") {
    val e1 = intercept[IllegalArgumentException](FlinkSqlRewrite(
      "SELECT * FROM t, LATERAL TABLE(f(a)) WHERE x > 0"))
    assert(e1.getMessage.contains("needs an alias"))
    val e2 = intercept[IllegalArgumentException](FlinkSqlRewrite(
      "SELECT * FROM t LEFT JOIN LATERAL TABLE(f(a)) AS s(w)"))
    assert(e2.getMessage.contains("ON TRUE"))
    // an alias without a column list would leave the generated column
    // named `col` — silently diverging from Flink's derived field names
    val e3 = intercept[IllegalArgumentException](FlinkSqlRewrite(
      "SELECT * FROM t, LATERAL TABLE(f(a)) AS s WHERE x > 0"))
    assert(e3.getMessage.contains("explicit output columns"))
  }
}
