package graft.sqlgate

import graft.SparkSpec
import java.sql.Timestamp

/** Executable semantics of the MATCH_RECOGNIZE gate dialect, now routed
  * through graft.operators.RowPattern: Flink-exact on the subset —
  * STRICT contiguity (relaxed spelled as an undefined gap variable),
  * every match emitted, SKIP PAST LAST ROW vs SKIP TO NEXT ROW
  * distinguished, greedy vs reluctant quantifiers, WITHIN bound.
  */
class MatchRecognizeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  private lazy val ev = Seq(
    // user 1: x@1, y@2, y@3, z@4 — strictly contiguous full match
    (1L, ts(1), "x", 10.0), (1L, ts(2), "y", 20.0),
    (1L, ts(3), "y", 30.0), (1L, ts(4), "z", 40.0),
    // user 2: x@2, w@3 (gap), y@5, z@6 — NOT strictly contiguous:
    // matches only when the pattern spells the gap (A G* B+ C)
    (2L, ts(1), "y", 1.0), (2L, ts(2), "x", 2.0),
    (2L, ts(3), "w", 3.0), (2L, ts(5), "y", 5.0), (2L, ts(6), "z", 6.0),
    // user 3: x then z but no y — no match
    (3L, ts(1), "x", 1.0), (3L, ts(2), "z", 2.0),
    // user 4: pattern out of order (z y x) — no match
    (4L, ts(1), "z", 1.0), (4L, ts(2), "y", 2.0), (4L, ts(3), "x", 3.0),
    // user 5: TWO consecutive funnels — multi-match under SKIP PAST
    // LAST ROW must emit both (the old chained-window rewrite's
    // first-match-only deviation, now gone)
    (5L, ts(1), "x", 1.0), (5L, ts(2), "y", 2.0), (5L, ts(3), "z", 3.0),
    (5L, ts(4), "x", 4.0), (5L, ts(5), "y", 5.0), (5L, ts(6), "z", 6.0)
  ).toDF("user_id", "t", "kind", "v")

  private val clause =
    """SELECT user_id, a_t, b_first, b_last, z_v FROM ev MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY t
      |  MEASURES A.t AS a_t, FIRST(B.t) AS b_first, LAST(B.t) AS b_last,
      |    C.v AS z_v
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (A B+ C)
      |  DEFINE A AS A.kind = 'x', B AS B.kind = 'y', C AS C.kind = 'z'
      |)""".stripMargin

  private def run(sql: String): Seq[(Long, Long, Long, Long, Double)] = {
    ev.createOrReplaceTempView("ev")
    spark.sql(FlinkSqlRewrite(sql))
      .orderBy("user_id", "a_t")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000,
        r.getTimestamp(2).getTime / 1000, r.getTimestamp(3).getTime / 1000,
        r.getDouble(4)))
      .toSeq
  }

  test("strict contiguity; FIRST/LAST on +; multi-match SKIP PAST LAST ROW") {
    assert(run(clause) == Seq(
      (1L, 1L, 2L, 3L, 40.0), // B+ spans y@2..y@3: FIRST=2, LAST=3
      // user 2 absent: w@3 breaks strict contiguity (Flink would also
      // not match A B+ C here)
      (5L, 1L, 2L, 2L, 3.0),  // first funnel
      (5L, 4L, 5L, 5L, 6.0))) // second funnel — multi-match
  }

  test("relaxed matching is spelled as a reluctant gap variable (A G*? B+ C)") {
    // reluctant G*? gives Flink-CEP followedBy / earliest-occurrence
    // semantics; a greedy G* would (correctly, per SQL:2016 preference)
    // consume into the B-run and produce the latest feasible B anchor
    val rows = run(clause.replace("PATTERN (A B+ C)", "PATTERN (A G*? B+ C)"))
    assert(rows == Seq(
      (1L, 1L, 2L, 3L, 40.0),
      (2L, 2L, 5L, 5L, 6.0), // w@3 consumed by G, y@5 anchors B
      (5L, 1L, 2L, 2L, 3.0),
      (5L, 4L, 5L, 5L, 6.0)))
  }

  test("SKIP TO NEXT ROW emits overlapping matches") {
    // user 5 with gaps allowed: anchors x@1 and x@4 both match under
    // either mode here; build a denser overlap via two x anchors before
    // one z: x@1, x@2, y@3, z@4
    val ov = Seq(
      (9L, ts(1), "x", 1.0), (9L, ts(2), "x", 2.0),
      (9L, ts(3), "y", 3.0), (9L, ts(4), "z", 4.0)
    ).toDF("user_id", "t", "kind", "v")
    ov.createOrReplaceTempView("ev_ov")
    val sql = clause
      .replace("FROM ev ", "FROM ev_ov ")
      .replace("PATTERN (A B+ C)", "PATTERN (A G* B+ C)")
    val past = spark.sql(FlinkSqlRewrite(sql)).collect()
    assert(past.length == 1) // x@1 match consumes through z@4
    val next = spark.sql(FlinkSqlRewrite(
      sql.replace("SKIP PAST LAST ROW", "SKIP TO NEXT ROW"))).collect()
    assert(next.length == 2) // x@1 and x@2 both anchor a match
  }

  test("greedy vs reluctant gap quantifier") {
    // x@1, y@2, y@3: with PATTERN (A G* B) where B is 'y': greedy G*
    // consumes y@2 so B lands on y@3; reluctant G*? leaves B on y@2
    val g = Seq(
      (7L, ts(1), "x", 1.0), (7L, ts(2), "y", 2.0), (7L, ts(3), "y", 3.0)
    ).toDF("user_id", "t", "kind", "v")
    g.createOrReplaceTempView("ev_g")
    val base =
      """SELECT user_id, b_t FROM ev_g MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY t
        |  MEASURES B.t AS b_t
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A G* B)
        |  DEFINE A AS A.kind = 'x', B AS B.kind = 'y'
        |)""".stripMargin
    def bts(sql: String) = spark.sql(FlinkSqlRewrite(sql))
      .collect().map(_.getTimestamp(1).getTime / 1000).toSeq
    assert(bts(base) == Seq(3L)) // greedy
    assert(bts(base.replace("PATTERN (A G* B)",
      "PATTERN (A G*? B)")) == Seq(2L)) // reluctant
  }

  test("WITHIN prunes matches that exceed the duration bound") {
    val bounded = run(clause.replace("PATTERN (A B+ C)",
      "PATTERN (A B+ C) WITHIN INTERVAL '3' SECOND"))
    // user 1 spans 1→4 s (= 3 s, kept, inclusive bound); user 5's
    // funnels span 2 s each
    assert(bounded.map(_._1) == Seq(1L, 5L, 5L))
    val tight = run(clause.replace("PATTERN (A B+ C)",
      "PATTERN (A B+ C) WITHIN INTERVAL '2' SECOND"))
    assert(tight.map(_._1) == Seq(5L, 5L)) // user 1's 3 s span dropped
  }

  test("NULL DEFINE predicate means non-matching, not a crash") {
    // SQL:2016 / Flink CEP: a predicate evaluating to NULL is a
    // non-match. v is null at y@2 for user 8 — `B.v > 0` is NULL there,
    // so the B-run is y@3 only and the funnel still completes via
    // the gap variable; without the COALESCE the matcher NPE'd.
    val n = Seq(
      (8L, ts(1), "x", Some(1.0)), (8L, ts(2), "y", None),
      (8L, ts(3), "y", Some(3.0)), (8L, ts(4), "z", Some(4.0))
    ).toDF("user_id", "t", "kind", "v")
    n.createOrReplaceTempView("ev_null")
    val sql =
      """SELECT user_id, b_first, b_last FROM ev_null MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY t
        |  MEASURES FIRST(B.t) AS b_first, LAST(B.t) AS b_last
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A G*? B+ C)
        |  DEFINE A AS A.kind = 'x', B AS B.kind = 'y' AND B.v > 0,
        |    C AS C.kind = 'z'
        |)""".stripMargin
    val rows = spark.sql(FlinkSqlRewrite(sql)).collect()
    assert(rows.length == 1)
    assert(rows(0).getTimestamp(1).getTime / 1000 == 3L) // y@2 skipped
    assert(rows(0).getTimestamp(2).getTime / 1000 == 3L)
  }

  test("NULL ORDER BY under WITHIN is rejected loudly, not NPE") {
    val n = Seq((8L, Option(ts(1)), "x", 1.0), (8L, Option.empty[Timestamp], "y", 2.0),
      (8L, Option(ts(3)), "z", 3.0)).toDF("user_id", "t", "kind", "v")
    n.createOrReplaceTempView("ev_nullts")
    val sql =
      """SELECT user_id, z_t FROM ev_nullts MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY t
        |  MEASURES C.t AS z_t
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A G* C) WITHIN INTERVAL '10' SECOND
        |  DEFINE A AS A.kind = 'x', C AS C.kind = 'z'
        |)""".stripMargin
    val e = intercept[Exception] {
      spark.sql(FlinkSqlRewrite(sql)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("NULL ORDER BY")))
  }

  test("temp views from the rewrite are dropped after the statement") {
    val before = spark.catalog.listTables().collect()
      .count(_.name.startsWith("__graft_mr_out_"))
    val script =
      s"""CREATE TABLE mr_sink (user_id BIGINT, a_t TIMESTAMP, b_first
         |TIMESTAMP, b_last TIMESTAMP, z_v DOUBLE) WITH ('connector' = 'memory');
         |INSERT INTO mr_sink $clause;""".stripMargin
    ev.createOrReplaceTempView("ev")
    new ScriptRunner(spark, batchMode = true).run(script)
    val after = spark.catalog.listTables().collect()
      .count(_.name.startsWith("__graft_mr_out_"))
    assert(after == before)
  }

  test("reserved-prefix collision and streaming input are rejected loudly") {
    val bad = Seq((1L, ts(1), "x", 1.0))
      .toDF("user_id", "t", "kind", "__graft_mr_c0")
    bad.createOrReplaceTempView("ev_bad")
    val e = intercept[IllegalArgumentException] {
      spark.sql(FlinkSqlRewrite(clause.replace("FROM ev ", "FROM ev_bad ")
        .replace("C.v AS z_v", "C.kind AS z_v")))
    }
    assert(e.getMessage.contains("__graft_mr_"))
  }

  test("backtracking step budget fails loudly on a combinatorial " +
    "pattern, and the default budget leaves honest patterns alone") {
    // single key, A+ B+ C with A/B always true and C never: every split
    // of every suffix is explored before each anchor fails — ~n^3/6
    // steps, the NFA pathology in miniature. With a small budget the
    // matcher must fail LOUDLY naming the knob, not burn CPU.
    val n = 400
    (1 to n).map(i => (1L, ts(i.toLong), "x", i.toDouble))
      .toDF("user_id", "t", "kind", "v").createOrReplaceTempView("ev_adv")
    val sql =
      """SELECT user_id, a_t FROM ev_adv MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY t
        |  MEASURES A.t AS a_t
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A+ B+ C)
        |  DEFINE A AS A.v > 0, B AS B.v > 0, C AS C.kind = 'z'
        |)""".stripMargin
    spark.conf.set("graft.match-recognize.step-budget", "20000")
    try {
      val e = intercept[Throwable] {
        spark.sql(FlinkSqlRewrite(sql)).collect()
      }
      def chain(t: Throwable): String =
        if (t == null) "" else Option(t.getMessage).getOrElse("") + chain(t.getCause)
      assert(chain(e).contains("step budget"), chain(e).take(300))
    } finally spark.conf.unset("graft.match-recognize.step-budget")
    // default budget (~1e9/key): the same ~10M-step pattern completes
    // with zero matches instead of tripping the failsafe
    assert(spark.sql(FlinkSqlRewrite(sql)).count() == 0)
  }

  // --- streaming MATCH_RECOGNIZE (RowPattern.streaming) ---

  import graft.operators.{RowPattern, RowPatternSpec, PatternVar, PatternMeasure}
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

  private def streamSpec(withinMs: Option[Long]) = RowPatternSpec(
    partitionBy = Seq("user_id"), orderBy = "t",
    vars = Seq(
      PatternVar("A", 1, 1, greedy = true, cond = Some("kind = 'x'")),
      PatternVar("B", 1, Int.MaxValue, greedy = true,
        cond = Some("kind = 'y'")),
      PatternVar("C", 1, 1, greedy = true, cond = Some("kind = 'z'"))),
    measures = Seq(
      PatternMeasure("A", "t", first = false, alias = "a_t"),
      PatternMeasure("B", "t", first = true, alias = "b_first"),
      PatternMeasure("B", "t", first = false, alias = "b_last"),
      PatternMeasure("C", "v", first = false, alias = "z_v")),
    withinMs = withinMs, skipPastLastRow = true)

  test("streaming: a match spanning micro-batches emits once the " +
    "watermark closes its WITHIN horizon, equal to the batch matcher") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[MrEv]
    val src = in.toDF().withWatermark("t", "0 seconds")
    val out = RowPattern.streaming(src, streamSpec(Some(10000L)))
    val q = out.writeStream.format("memory").queryName("mr_stream_x")
      .outputMode("append").start()
    try {
      // batch 1: the funnel's head only — nothing can be final
      in.addData(MrEv(1L, ts(1), "x", 1.0), MrEv(1L, ts(2), "y", 2.0))
      q.processAllAvailable()
      assert(spark.table("mr_stream_x").count() == 0)
      // batch 2: the funnel's tail PLUS a far-future row that advances
      // the watermark past the anchor's horizon (1s + 10s)
      in.addData(MrEv(1L, ts(3), "y", 3.0), MrEv(1L, ts(4), "z", 4.0),
        MrEv(99L, ts(100), "w", 0.0))
      q.processAllAvailable()
      val got = spark.table("mr_stream_x").collect().map(r =>
        (r.getLong(0), r.getTimestamp(1).getTime / 1000,
          r.getTimestamp(2).getTime / 1000,
          r.getTimestamp(3).getTime / 1000, r.getDouble(4))).toSet
      assert(got == Set((1L, 1L, 2L, 3L, 4.0)), got.toString)
      // the batch matcher over the SAME rows (flush row included)
      // produces the same match set
      val all = Seq((1L, ts(1), "x", 1.0), (1L, ts(2), "y", 2.0),
        (1L, ts(3), "y", 3.0), (1L, ts(4), "z", 4.0),
        (99L, ts(100), "w", 0.0)).toDF("user_id", "t", "kind", "v")
      val batch = RowPattern(all, streamSpec(Some(10000L))).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000,
          r.getTimestamp(2).getTime / 1000,
          r.getTimestamp(3).getTime / 1000, r.getDouble(4))).toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("streaming: an anchor whose horizon the watermark has not " +
    "passed stays buffered; the event-time timeout flushes it without " +
    "further rows on its key") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[MrEv]
    val src = in.toDF().withWatermark("t", "0 seconds")
    val out = RowPattern.streaming(src, streamSpec(Some(5000L)))
    val q = out.writeStream.format("memory").queryName("mr_stream_t")
      .outputMode("append").start()
    try {
      // a COMPLETE funnel for user 2 — but the watermark (= max t) is
      // still inside its horizon, so it must NOT emit yet
      in.addData(MrEv(2L, ts(1), "x", 1.0), MrEv(2L, ts(2), "y", 2.0),
        MrEv(2L, ts(3), "z", 3.0))
      q.processAllAvailable()
      assert(spark.table("mr_stream_t").count() == 0)
      // rows on a DIFFERENT key advance the watermark past 1s+5s; the
      // buffered match must flush via the event-time timeout
      in.addData(MrEv(50L, ts(60), "w", 0.0))
      q.processAllAvailable()
      val got = spark.table("mr_stream_t").collect()
        .map(r => (r.getLong(0), r.getDouble(4))).toSet
      assert(got == Set((2L, 3.0)), got.toString)
    } finally q.stop()
  }

  test("streaming MATCH_RECOGNIZE rejects a missing WITHIN and a " +
    "missing watermark loudly") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[MrEv]
    val noWithin = intercept[IllegalArgumentException] {
      RowPattern.streaming(in.toDF().withWatermark("t", "0 seconds"),
        streamSpec(None))
    }
    assert(noWithin.getMessage.contains("WITHIN"))
    val noWm = intercept[IllegalArgumentException] {
      RowPattern.streaming(in.toDF(), streamSpec(Some(1000L)))
    }
    assert(noWm.getMessage.contains("WATERMARK"))
  }

  test("streaming: the gate rewrite routes a streaming source through " +
    "RowPattern.streaming (WITHIN required end-to-end)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[MrEv]
    in.toDF().withWatermark("t", "0 seconds")
      .createOrReplaceTempView("ev_mrstream")
    val sql =
      """SELECT user_id, a_t, z_v FROM ev_mrstream MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY t
        |  MEASURES A.t AS a_t, C.v AS z_v
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B+ C) WITHIN INTERVAL '10' SECOND
        |  DEFINE A AS A.kind = 'x', B AS B.kind = 'y', C AS C.kind = 'z'
        |)""".stripMargin
    val df = spark.sql(FlinkSqlRewrite(sql))
    assert(df.isStreaming)
    val q = df.writeStream.format("memory").queryName("mr_stream_g")
      .outputMode("append").start()
    try {
      in.addData(MrEv(3L, ts(1), "x", 1.0), MrEv(3L, ts(2), "y", 2.0),
        MrEv(3L, ts(3), "z", 3.0), MrEv(60L, ts(80), "w", 0.0))
      q.processAllAvailable()
      val got = spark.table("mr_stream_g").collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSet
      assert(got == Set((3L, 3.0)), got.toString)
    } finally q.stop()
    // the same clause WITHOUT a WITHIN bound must be rejected loudly
    val e = intercept[IllegalArgumentException] {
      spark.sql(FlinkSqlRewrite(sql.replace(
        " WITHIN INTERVAL '10' SECOND", "")))
    }
    assert(e.getMessage.contains("WITHIN"))
  }

  test("streaming: rows later than the watermark are dropped, as in " +
    "Flink CEP") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[MrEv]
    val src = in.toDF().withWatermark("t", "0 seconds")
    val out = RowPattern.streaming(src, streamSpec(Some(5000L)))
    val q = out.writeStream.format("memory").queryName("mr_stream_l")
      .outputMode("append").start()
    try {
      in.addData(MrEv(4L, ts(1), "x", 1.0), MrEv(4L, ts(3), "z", 3.0))
      q.processAllAvailable() // wm → 3s
      // the funnel's middle row arrives LATE (2s < wm) — dropped, so
      // x@1,z@3 stay adjacent and A B+ C can never match
      in.addData(MrEv(4L, ts(2), "y", 2.0))
      q.processAllAvailable()
      in.addData(MrEv(70L, ts(90), "w", 0.0)) // close every horizon
      q.processAllAvailable()
      assert(spark.table("mr_stream_l").count() == 0)
    } finally q.stop()
  }
}

/** Input rows of the streaming MATCH_RECOGNIZE spec cases. */
final case class MrEv(user_id: Long, t: Timestamp, kind: String, v: Double)
