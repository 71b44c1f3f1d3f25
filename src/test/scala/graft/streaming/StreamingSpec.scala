package graft.streaming

import graft.SparkSpec
import graft.sqlgate.ScriptRunner
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured Streaming behaviour on actual incremental execution:
  * event-time windows with watermark and late-data drop, session
  * windows, stream-stream interval joins (run as gate scripts over
  * filesystem sources, each step one more file), the watermark-buffered
  * streaming OVER window, and the composite-key encoding. These pin the
  * semantics the batch Windows pack checks against DuckDB.
  */
class StreamingSpec extends SparkSpec {

  private def t(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$sec%02d")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Rows (uid, kind, ts, value) as one more parquet file of `dir`. */
  private def append(dir: String,
      rows: (Long, String, Timestamp, Double)*): Unit = {
    import spark.implicits._
    rows.toDF("uid", "kind", "ts", "value").coalesce(1)
      .write.mode("append").parquet(dir)
  }

  /** DDL of an event table over `dir`, watermarked one minute behind. */
  private def source(name: String, dir: String): String =
    s"""CREATE TABLE $name (uid BIGINT, kind STRING, ts TIMESTAMP,
       |  value DOUBLE, WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE
       |) WITH ('connector' = 'filesystem', 'path' = '$dir',
       |  'format' = 'parquet');
       |""".stripMargin

  /** DDL of a parquet sink table over `dir`. */
  private def sink(name: String, cols: String, dir: String): String =
    s"""CREATE TABLE $name ($cols) WITH ('connector' = 'filesystem',
       |  'path' = '$dir', 'format' = 'parquet');
       |""".stripMargin

  /** Start `script`'s one INSERT on the gate as a continuous query. */
  private def start(script: String): StreamingQuery = {
    val qs = new ScriptRunner(spark, Some(tmp("ss_ckpt"))).run(
      "SET table.exec.mini-batch.allow-latency = 100 ms;\n" + script).queries
    assert(qs.size == 1)
    qs.head
  }

  test("tumbling window with watermark: closed windows emit, late rows drop") {
    import spark.implicits._
    val (src, out) = (tmp("tumble_src"), tmp("tumble_out"))
    append(src, (1L, "a", t(0, 10), 1.0), (2L, "a", t(0, 50), 2.0),
      (3L, "b", t(1, 10), 3.0))
    val q = start(source("tumble_ev", src) +
      sink("tumble_snk", "wstart TIMESTAMP(3), kind STRING, n BIGINT, " +
        "sum_value DOUBLE", out) +
      """INSERT INTO tumble_snk
        |SELECT TUMBLE_START(ts, INTERVAL '1' MINUTE) AS wstart, kind,
        |  COUNT(*) AS n, SUM(value) AS sum_value
        |FROM tumble_ev GROUP BY TUMBLE(ts, INTERVAL '1' MINUTE), kind;
        |""".stripMargin)
    try {
      q.processAllAvailable() // watermark ~10:00:10; nothing closed yet
      append(src, (4L, "a", t(5), 4.0)) // advances watermark to 10:04
      q.processAllAvailable() // closes 10:00 and 10:01 windows
      val rows = spark.read.parquet(out)
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(rows == Set((t(0), "a", 2L, 3.0), (t(1), "b", 1L, 3.0)))
      // late row inside an already-closed window: dropped
      append(src, (5L, "a", t(0, 30), 100.0))
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() == 2)
    } finally q.stop()
  }

  test("session window merges within gap, splits past gap") {
    import spark.implicits._
    val (src, out) = (tmp("sess_src"), tmp("sess_out"))
    // uid 1: events at 10:00, 10:01, 10:05 → sessions {00,01} and {05};
    // uid 9 pushes the watermark past both
    append(src, (1L, "a", t(0), 1.0), (1L, "a", t(1), 1.0),
      (1L, "a", t(5), 1.0), (9L, "z", t(30), 0.0))
    val q = start(source("sess_ev", src) +
      sink("sess_snk", "wstart TIMESTAMP(3), uid BIGINT, n BIGINT", out) +
      """INSERT INTO sess_snk
        |SELECT SESSION_START(ts, INTERVAL '2' MINUTE) AS wstart, uid,
        |  COUNT(*) AS n
        |FROM sess_ev GROUP BY SESSION(ts, INTERVAL '2' MINUTE), uid;
        |""".stripMargin)
    try {
      q.processAllAvailable()
      val rows = spark.read.parquet(out).where($"uid" === 1)
        .select($"wstart", $"n").as[(Timestamp, Long)].collect().toSet
      assert(rows == Set((t(0), 2L), (t(5), 1L)))
    } finally q.stop()
  }

  /** Clicks joined to the buys of the same uid within 10 minutes after. */
  private def intervalJoin(kind: String, clicks: String, buys: String,
      out: String): String =
    source(s"${kind}_clicks", clicks) + source(s"${kind}_buys", buys) +
      sink(s"${kind}_snk", "uid BIGINT, b_uid BIGINT, value DOUBLE", out) +
      s"""INSERT INTO ${kind}_snk
         |SELECT c.uid, b.uid AS b_uid, b.value
         |FROM ${kind}_clicks c $kind JOIN ${kind}_buys b
         |  ON c.uid = b.uid AND b.ts >= c.ts
         |  AND b.ts <= c.ts + INTERVAL '10' MINUTE;
         |""".stripMargin

  test("stream-stream interval join (demo_2 dual-stream shape)") {
    import spark.implicits._
    val (clicks, buys, out) = (tmp("ij_c"), tmp("ij_b"), tmp("ij_out"))
    append(clicks, (1L, "c", t(0), 0.0), (2L, "c", t(0), 0.0))
    append(buys, (1L, "b", t(5), 9.5), // within 10 min of click → joins
      (2L, "b", t(20), 7.0)) // outside → no join
    val q = start(intervalJoin("inner", clicks, buys, out))
    try {
      q.processAllAvailable()
      val rows = spark.read.parquet(out).select($"uid", $"value")
        .as[(Long, Double)].collect().toSet
      assert(rows == Set((1L, 9.5)))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: unmatched left emits nulls " +
      "after the watermark closes its window") {
    import spark.implicits._
    val (clicks, buys, out) = (tmp("lj_c"), tmp("lj_b"), tmp("lj_out"))
    append(clicks, (1L, "c", t(0), 0.0), (2L, "c", t(0), 0.0))
    append(buys, (1L, "b", t(5), 9.5)) // matches uid 1's window
    val q = start(intervalJoin("left", clicks, buys, out))
    def rows() = spark.read.parquet(out)
      .as[(Long, Option[Long], Option[Double])].collect().toSet
      .filter(_._1 != 9L)
    try {
      q.processAllAvailable()
      // uid 2's window is still open: no null-extended row yet
      assert(rows() == Set((1L, Some(1L), Some(9.5))))
      // push the watermark far past t(0)+10min+delay on BOTH sides so
      // uid 2's join window provably closes
      append(clicks, (9L, "c", t(60), 0.0))
      append(buys, (9L, "b", t(60), 0.0))
      q.processAllAvailable()
      // uid 2 emitted exactly once, null-padded, only after the horizon
      assert(rows() == Set((1L, Some(1L), Some(9.5)), (2L, None, None)))
    } finally q.stop()
  }

  test("runningOverFrame: out-of-order multi-batch arrival matches the " +
      "batch window oracle (watermark buffering)") {
    import graft.streaming.{OverIn, OverOut}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def us(sec: Long): Long = sec * 1000000L
    val in = MemoryStream[OverIn]
    val q = StreamOps.runningOverFrame(in.toDS(), preceding = 2,
      delay = "10 seconds")
      .writeStream.format("memory").queryName("over_t")
      .outputMode("update").start()
    try {
      // batch 1: key 1 rows at t=100,102 (out of order in the batch) and
      // a row far ahead at t=130; key 2 one row. Watermark after the
      // batch = 130-10 = 120 s → t=100,102 flush; t=130 stays buffered.
      in.addData(OverIn(1L, us(102), 11L, 20L), OverIn(1L, us(100), 10L, 10L),
        OverIn(1L, us(130), 13L, 80L), OverIn(2L, us(100), 20L, 5L))
      q.processAllAvailable()
      assert(spark.table("over_t").count() == 3) // e10, e11, e20 only
      // batch 2: t=125 arrives AFTER t=130 was seen — cross-batch
      // disorder within the 10 s delay. Both stay buffered (wm 120).
      in.addData(OverIn(1L, us(125), 12L, 40L))
      q.processAllAvailable()
      assert(spark.table("over_t").count() == 3) // still buffered
      // batch 3: watermark pushers — the flush must emit t=125 BEFORE
      // t=130 even though t=130 arrived a batch earlier
      in.addData(OverIn(1L, us(300), 99L, 0L), OverIn(2L, us(300), 98L, 0L))
      q.processAllAvailable()
      val got = spark.table("over_t").as[OverOut].collect()
        .filter(_.event_id < 90) // drop the watermark pushers
        .map(o => (o.user_id, o.event_id) -> ((o.run_cents, o.n_frame)))
        .toMap
      assert(got == Map(
        (1L, 10L) -> ((10L, 1L)),
        (1L, 11L) -> ((30L, 2L)),   // 10+20
        (1L, 12L) -> ((70L, 3L)),   // 10+20+40 — ts order, not arrival
        (1L, 13L) -> ((140L, 3L)),  // 20+40+80 — oldest evicted
        (2L, 20L) -> ((5L, 1L))))
    } finally q.stop()
  }

  test("encodeKey: composite keys are unambiguous, nulls preserved") {
    assert(StreamOps.encodeKey(Seq("x|y", "z")) !=
      StreamOps.encodeKey(Seq("x", "y|z")))
    assert(StreamOps.encodeKey(Seq("a", null)) !=
      StreamOps.encodeKey(Seq(null, "a")))
    assert(StreamOps.encodeKey(Seq("a", null)) !=
      StreamOps.encodeKey(Seq("a", "")))
    // single-part traps: SQL NULL vs the literal string "null", and a
    // value containing the raw null sentinel vs a null part
    assert(StreamOps.encodeKey(Seq(null)) !=
      StreamOps.encodeKey(Seq("null")))
    assert(StreamOps.encodeKey(Seq("a", " ")) !=
      StreamOps.encodeKey(Seq("a", null)))
    // ordinary keys keep their plain readable form (stable ES _ids)
    assert(StreamOps.encodeKey(Seq("solo")) == "solo")
    assert(StreamOps.encodeKey(Seq(42, "a")) == "42|a")
  }
}
