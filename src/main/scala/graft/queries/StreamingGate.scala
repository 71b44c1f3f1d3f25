package graft.queries

import graft.{Num, QueryPack}
import graft.multimodal.{MediaFixture, MediaOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming under the DuckDB oracle: the same windowed /
  * continuous aggregations as the batch packs, executed as REAL streaming
  * queries (readStream file source → watermark → stateful agg → memory
  * sink, AvailableNow drain), with the sink contents hash-compared to the
  * oracle. Proves the incremental path converges to the batch answer —
  * the reference's core guarantee (same SQL, streaming execution).
  */
object StreamingGate extends QueryPack {
  import Num._

  // one staged copy per source dir per JVM (repeated Verify/Bench passes
  // must not leak a fresh /tmp copy of events.parquet per invocation)
  private val stagedDirs =
    scala.collection.concurrent.TrieMap[String, String]()

  /** Stage the events table as a file-stream directory (file sources read
    * directories, TESTDATA ships single files), and return a streaming
    * DataFrame with the micro-precision ts restored. A table that is
    * ALREADY a parquet directory (Spark-written, e.g. GenScale output)
    * streams in place — Files.copy on a directory would copy it EMPTY
    * and silently stream zero rows.
    */
  /** Directory form of the events table for file-stream sources (shared
    * with the gate-script streaming queries in [[Gate]] and the gate
    * specs).
    */
  def stagedEventsDir(dir: String): String = stagedTableDir(dir, "events")

  /** Same staging for any TESTDATA table ([[stagedEventsDir]] is the
    * events shorthand) — the streaming text-TVF oracles stream the
    * documents table through it.
    */
  def stagedTableDir(dir: String, table: String): String = {
    val src = java.nio.file.Paths.get(s"$dir/$table.parquet")
    if (java.nio.file.Files.isDirectory(src)) src.toString
    else stagedDirs.getOrElseUpdate(s"$dir/$table", {
      val d = java.nio.file.Files.createTempDirectory("gate_stream")
      d.toFile.deleteOnExit()
      java.nio.file.Files.copy(src, d.resolve("part-0.parquet"))
      d.toString
    })
  }

  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedEventsDir(dir)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Derive the stream schema from the actual file rather than pinning it:
    // a pinned `ts LONG` silently reads a timestamp[us] file as raw micros
    // (schema overrides beat inference for file streams) and every window
    // downstream collapses. normalizeTs then handles whichever raw type
    // the file really has, same as the batch path.
    val fileSchema = s.read.parquet(staged).schema
    graft.Tables.normalizeTs(s.readStream.schema(fileSchema).parquet(staged))
  }

  /** Scale-adaptive shuffle-partition count for a STATEFUL streaming
    * drain over a fresh checkpoint: stateful operators create one state
    * store per shuffle partition per operator, and every micro-batch
    * pays an open/scan/commit cycle per store even on zero input rows
    * (measured r18 with a StreamingQueryListener: the zero-row
    * watermark-close batch cost 0.57 s = 32 store lifecycles). Derive
    * the count from the staged input's bytes — ceil(bytes / 16 MiB)
    * clamped to [1, defaultParallelism] — so a small drain pays few
    * store lifecycles while a production-sized input keeps every core.
    * The Par.spread discipline: a CONDITION on input size, not a
    * local[32] constant — the driver's lower-core bench runs and any
    * cluster run derive their own count. Partition count never changes
    * WHAT a stateful agg/join emits, only where rows live.
    */
  private[queries] def drainParts(s: SparkSession, stagedDir: String): Int = {
    val bytes = try {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(
          java.nio.file.Files.walk(java.nio.file.Paths.get(stagedDir))) {
        _.iterator().asScala
          .filter(f => java.nio.file.Files.isRegularFile(f))
          .map(f => java.nio.file.Files.size(f)).sum
      }
    } catch { case _: Throwable => Long.MaxValue }
    drainPartsForBytes(s, bytes)
  }

  /** [[drainParts]] for sources without a staged dir to stat (the
    * simulated-broker gates pass their appended payload bytes).
    */
  private[queries] def drainPartsForBytes(s: SparkSession,
      bytes: Long): Int = {
    val p = s.sparkContext.defaultParallelism
    val target = 16L << 20
    math.max(1L, math.min(p.toLong, (bytes + target - 1) / target)).toInt
  }

  /** Conf-scoped drain for gate SCRIPTS whose streaming INSERT carries
    * keyed state (MATCH_RECOGNIZE, dedup, CDC materialization, broker
    * aggregates): same save/restore as [[runToTable]]'s `parts`, for
    * drains that start inside [[graft.sqlgate.ScriptRunner]].
    */
  private[queries] def withDrainParts[T](s: SparkSession, parts: Int)(
      body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** `parts > 0` pins spark.sql.shuffle.partitions for the drain (the
    * stream's cloned session captures it at start) and restores the
    * session value afterwards — pass [[drainParts]] for stateful
    * drains; stateless ingest streams have no keyed state to size.
    */
  private def runToTable(s: SparkSession, df: DataFrame, name: String,
      mode: String = "complete", parts: Int = -1): DataFrame = {
    val prev =
      if (parts > 0) Some(s.conf.get("spark.sql.shuffle.partitions"))
      else None
    if (parts > 0) s.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      // a timed-out drain must fail the gate loudly, not hash-compare a
      // partially-filled memory table
      val finished = q.awaitTermination(300000)
      q.stop()
      require(finished, s"streaming gate query $name timed out")
      s.table(name)
    } finally prev.foreach(v => s.conf.set("spark.sql.shuffle.partitions", v))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // streaming tumbling window with watermark → same rows as the batch
    // q_window_tumble
    // No withWatermark here: complete mode retains all state regardless,
    // so a watermark would be dead code implying eviction is under test.
    // Watermark/late-drop semantics are pinned by StreamingSpec instead.
    "q_stream_tumble" -> ((s, dir) => {
      import s.implicits._
      val agg = eventsStream(s, dir)
        .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"), dsum2($"value").as("sum_value"))
        .select(
          date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("wstart"),
          $"event_type", $"n", $"sum_value")
      runToTable(s, agg, "stream_tumble_gate",
        parts = drainParts(s, stagedEventsDir(dir)))
    }),

    // streaming hopping window (HOP of demo_5) — every event in two
    // 2h windows sliding by 1h
    "q_stream_hop" -> ((s, dir) => {
      import s.implicits._
      val agg = eventsStream(s, dir)
        .groupBy(window($"ts", "2 hours", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .select(
          date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("wstart"),
          $"event_type", $"n")
      runToTable(s, agg, "stream_hop_gate",
        parts = drainParts(s, stagedEventsDir(dir)))
    }),

    // streaming session window (2h inactivity gap per user) — the only
    // window kind whose streaming path wasn't oracle-checked; the state
    // store must merge sessions across micro-batches to converge on the
    // batch gaps-and-islands answer
    "q_stream_session" -> ((s, dir) => {
      import s.implicits._
      val agg = eventsStream(s, dir)
        .groupBy(session_window($"ts", "2 hours").as("w"), $"user_id")
        .agg(count(lit(1)).as("n_events"),
          date_format(min($"ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("sess_start"),
          date_format(max($"ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("sess_last"))
        .select($"user_id", $"sess_start", $"sess_last", $"n_events")
      runToTable(s, agg, "stream_session_gate",
        parts = drainParts(s, stagedEventsDir(dir)))
    }),

    // streaming continuous (unwindowed) aggregation — the demo_1
    // day_time/SUM shape, complete mode
    "q_stream_continuous" -> ((s, dir) => {
      import s.implicits._
      val agg = eventsStream(s, dir)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), dsum2($"value").as("total"))
      runToTable(s, agg, "stream_cont_gate",
        parts = drainParts(s, stagedEventsDir(dir)))
    }),

    // Streaming heavy hitters: the bounded-state Misra-Gries summary
    // (graft.functions.SpaceSavingTopK) built INCREMENTALLY over the
    // stream — per micro-batch the state store holds one serialized
    // ≤ capacity-entry buffer, so state is O(capacity) however many
    // distinct keys flow past — then the always-exact verify half of
    // the operator (candidate-only exact count + proof check + honest
    // fallback) runs on the drained table. Exact top-k either way, so
    // the oracle is the same plain GROUP BY top-k as the batch route.
    "q_stream_heavy" -> ((s, dir) => {
      import s.implicits._
      Vec.ensureRegistered(s)
      def keyed(df: DataFrame): DataFrame =
        df.select(when($"user_id" % 10 < 7, $"user_id" % 3)
          .otherwise($"user_id").as("k"))
      val sk = keyed(eventsStream(s, dir)).agg(
        graft.functions.GraftFunctions.heavyHitters($"k", 64).as("sk"))
      val row = runToTable(s, sk, "stream_heavy_sketch",
        parts = drainParts(s, stagedEventsDir(dir))).head()
      val entries = row.getSeq[org.apache.spark.sql.Row](0)
      val dropped = if (entries.isEmpty) 0L else entries.head.getLong(2)
      graft.operators.HeavyHitters.exactTopKFromSummary(
        keyed(graft.Tables.load(s, dir, "events")), "k", k = 3,
        entries.map(_.get(0)), dropped)
    }),

    // Streaming deduplication — Flink SQL's "Deduplication" pattern
    // (ROW_NUMBER() OVER (PARTITION BY key ORDER BY proctime) = 1),
    // expressed Spark-native as streaming dropDuplicates: the state
    // store keeps one entry per key and emits only first arrivals
    // (append mode). Which PHYSICAL row arrives first is racy under a
    // parallel file source, so the gate projects the key columns only —
    // the emitted key SET is deterministic and equals batch DISTINCT.
    // Unbounded corpora bound this state with dropDuplicatesWithinWatermark
    // (StreamingSpec covers watermarked eviction).
    "q_stream_dedup" -> ((s, dir) => {
      import s.implicits._
      val dd = eventsStream(s, dir)
        .select($"user_id", $"event_type")
        .dropDuplicates("user_id", "event_type")
      runToTable(s, dd, "stream_dedup_gate", mode = "append",
        parts = drainParts(s, stagedEventsDir(dir)))
    }),

    // streaming cumulating window (Flink 1.13+ CUMULATE TVF) — the same
    // epoch-aligned explode as the batch q_window_cumulate, running
    // incrementally: each micro-batch updates the growing windows of its
    // bucket, and the complete-mode state converges on the batch answer.
    "q_stream_cumulate" -> ((s, dir) => {
      import s.implicits._
      val step = Windows.CumStepUs
      val size = Windows.CumSizeUs
      val agg = eventsStream(s, dir)
        .selectExpr("event_type", "value",
          s"unix_micros(ts) div $size * $size AS g_ws",
          s"explode(sequence(" +
            s"unix_micros(ts) div $size * $size + " +
            s"(unix_micros(ts) - unix_micros(ts) div $size * $size) " +
            s"div $step * $step + $step, " +
            s"unix_micros(ts) div $size * $size + $size, $step)) AS g_we")
        .groupBy($"g_ws", $"g_we", $"event_type")
        .agg(count(lit(1)).as("n"), dsum2($"value").as("sum_value"))
        .select(
          date_format(expr("timestamp_micros(g_ws)"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
          date_format(expr("timestamp_micros(g_we)"), "yyyy-MM-dd HH:mm:ss").as("wend"),
          $"event_type", $"n", $"sum_value")
      runToTable(s, agg, "stream_cumulate_gate",
        parts = drainParts(s, stagedEventsDir(dir)))
    }),

    // Streaming Top-N — Flink SQL's Top-N pattern (ROW_NUMBER() ≤ N over
    // an updating aggregate). Spark-native: complete-mode aggregation +
    // sort + limit, legal only in complete mode where every micro-batch
    // re-emits the full (tiny, post-agg) result — the sort never touches
    // the corpus, only the aggregate. Deterministic tie-break on the
    // group key.
    "q_stream_topn" -> ((s, dir) => {
      import s.implicits._
      val top = eventsStream(s, dir)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"event_type")
        .limit(3)
      runToTable(s, top, "stream_topn_gate",
        parts = drainParts(s, stagedEventsDir(dir)))
    }),

    // Dual-stream interval join — demo_2's shape on a REAL streaming
    // drain: purchases and clicks of the same user joined within a
    // 30-minute event-time window, both sides watermarked so join state
    // is bounded (Spark evicts rows outside the interval once the
    // watermark passes). Inner join: every batch-visible pair is
    // emitted exactly once, so the drained sink hash-matches the batch
    // oracle running the identical θ-join over the same parquet.
    "q_stream_join" -> ((s, dir) => {
      import s.implicits._
      // deterministic 1/4 user slice: the e2e path is the point, and
      // stream-stream join state cost scales with rows on BOTH sides
      val ev = eventsStream(s, dir).filter($"user_id" % 4 === 0)
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"ts".as("p_ts"),
          $"event_id".as("p_id"))
        .withWatermark("p_ts", "1 hour")
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"ts".as("c_ts"),
          $"event_id".as("c_id"))
        .withWatermark("c_ts", "1 hour")
      val joined = purchases.join(clicks,
        expr("p_user = c_user AND c_ts >= p_ts - INTERVAL 30 MINUTES " +
          "AND c_ts <= p_ts"))
        .select($"p_user".as("user_id"), $"p_id", $"c_id",
          date_format($"p_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("p_time"),
          date_format($"c_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("c_time"))
      // join state-store overhead is per (partition x side x batch),
      // not per row — size the drain from the input (was a constant 8
      // pre-r19; drainParts is the scale-adaptive form)
      runToTable(s, joined, "stream_join_gate", mode = "append",
        parts = drainParts(s, stagedEventsDir(dir)))
    }),

    // Streaming OVER window — Flink SQL's per-row running aggregate
    // (`SUM(x) OVER (PARTITION BY user ORDER BY ts ROWS 2 PRECEDING)`),
    // which Spark's built-in window functions reject on streams. Runs as
    // keyed ring-buffer state (StreamOps.runningOverFrame) on a REAL
    // drain; values as integer cents so the frame sums hash-match the
    // batch window oracle exactly.
    "q_stream_over" -> ((s, dir) => {
      import s.implicits._
      val in = eventsStream(s, dir)
        .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id",
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .as[graft.streaming.OverIn]
      // delay 0: the drain's batches are the only disorder source; the
      // final no-data batch advances the watermark to max event time and
      // flushes every buffered row
      runToTable(s,
        graft.streaming.StreamOps.runningOverFrame(in, preceding = 2,
          delay = "0 seconds").toDF(),
        "stream_over_gate", mode = "update",
        parts = drainParts(s, stagedEventsDir(dir)))
    }),

    // Media decode at INGEST — the production shape for multimodal
    // pipelines (feature-extract each payload as it arrives, not in a
    // nightly batch). The extractors are stateless narrow maps, so they
    // run unchanged on a stream: append mode, zero keyed state, per-row
    // cost identical to batch. Shares q_media_features' oracle verbatim
    // (same fixture, same REAL ImageIO decode) — stream == batch.
    "q_stream_media" -> ((s, dir) => {
      import s.implicits._
      val staged = stagedTableDir(dir, "documents")
      val ids = s.readStream.schema(s.read.parquet(staged).schema)
        .parquet(staged).select($"doc_id").as[Long]
      runToTable(s,
        MediaOps.imageFeatures(MediaFixture.mediaTable(ids)).toDF(),
        "stream_media_gate", mode = "append")
    }),

    // Embedding cleanup at INGEST: all-but-the-top applied to arriving
    // vectors against a model frozen from the bounded corpus snapshot
    // (the production shape — fit once per snapshot, clean every new
    // embedding row-locally, zero state). The streamed relation here IS
    // the fit corpus, so the drain must reproduce the batch
    // q_embed_abtt output bit-exactly — shared oracle.
    "q_stream_abtt" -> ((s, dir) => {
      import s.implicits._
      val corpus = graft.Tables.load(s, dir, "embeddings")
      val model = Similarity.allButTopModel(corpus, "vec_id", "embedding")
      val staged = stagedTableDir(dir, "embeddings")
      val incoming = s.readStream
        .schema(s.read.parquet(staged).schema).parquet(staged)
      runToTable(s,
        Similarity.allButTopApply(incoming, "vec_id", "embedding", model),
        "stream_abtt_gate", mode = "append")
    }),

    // Tokenize at INGEST: the BPE merge table trains once on the
    // bounded corpus snapshot, every arriving document encodes through
    // the frozen K-replace chain — stateless narrow projection, zero
    // keyed state. The streamed relation IS the fit corpus here, so
    // the drain must reproduce the batch q_text_bpe_encode output
    // bit-exactly — shared oracle (the stream == batch proof).
    "q_stream_tokenize" -> ((s, dir) => {
      val corpus = graft.Tables.load(s, dir, "documents")
      val staged = stagedTableDir(dir, "documents")
      val incoming = s.readStream
        .schema(s.read.parquet(staged).schema).parquet(staged)
      runToTable(s,
        TextAnalysis.bpeEncodeWith(incoming, corpus, "doc_id", "text",
          TextAnalysis.BpeRounds),
        "stream_tokenize_gate", mode = "append")
    }),

    // Audio decode at INGEST — WAV/PCM feature extraction on arriving
    // payloads, the same stateless narrow-map contract as
    // q_stream_media; shares q_media_audio's oracle verbatim (same
    // fixture, same REAL javax.sound decode) — stream == batch.
    "q_stream_media_audio" -> ((s, dir) => {
      import s.implicits._
      val staged = stagedTableDir(dir, "documents")
      val ids = s.readStream.schema(s.read.parquet(staged).schema)
        .parquet(staged).select($"doc_id").as[Long]
      runToTable(s,
        MediaOps.audioFeatures(MediaFixture.audioTable(ids)).toDF(),
        "stream_media_audio_gate", mode = "append")
    }),

    // Perceptual near-dup SCREENING at ingest: each arriving image
    // decodes, hashes, and probes the frozen corpus band index
    // statelessly (both hashes ride the joined row — no keyed state);
    // shares q_dedup_phash_cross's oracle verbatim (stream == batch).
    "q_gate_phash_cross_stream" -> ((s, dir) => {
      import s.implicits._
      val allIds = graft.Tables.load(s, dir, "documents")
        .select($"doc_id").as[Long]
      val corpus = MediaFixture.phashTable(allIds.filter(_ % 10 < 8))
      val staged = stagedTableDir(dir, "documents")
      val incIds = s.readStream.schema(s.read.parquet(staged).schema)
        .parquet(staged).select($"doc_id").as[Long]
        .filter((id: Long) => id % 10 >= 8)
      runToTable(s,
        Dedup.phashCrossPairs(MediaFixture.phashTable(incIds), corpus,
          "id", "media"),
        "stream_phash_cross_gate", mode = "append")
    }),

    // Video frame sampling at ingest — the GFV1 seek-and-decode path on
    // a stream, same stateless contract; shares q_media_video's oracle.
    "q_stream_media_video" -> ((s, dir) => {
      import s.implicits._
      val staged = stagedTableDir(dir, "documents")
      val ids = s.readStream.schema(s.read.parquet(staged).schema)
        .parquet(staged).select($"doc_id").as[Long]
      runToTable(s,
        MediaOps.videoFrameFeatures(MediaFixture.videoTable(ids), k = 3)
          .toDF(),
        "stream_media_video_gate", mode = "append")
    }))

  def oracleSql: Map[String, String] = Map(
    "q_stream_tumble" ->
      s"""SELECT strftime(tb, '%Y-%m-%d %H:%M:%S') AS wstart, event_type,
         |  COUNT(*) AS n, ${oSum2("value")} AS sum_value
         |FROM (SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS tb,
         |        event_type, value FROM events) t
         |GROUP BY tb, event_type""".stripMargin,

    "q_stream_continuous" ->
      s"""SELECT event_type, COUNT(*) AS n, ${oSum2("value")} AS total
         |FROM events GROUP BY event_type""".stripMargin,

    // shared with the batch pack so the mirrors cannot drift
    "q_stream_hop" -> Windows.oHopSql,
    "q_stream_session" -> Windows.oSessionSql,
    "q_stream_cumulate" -> Windows.oCumulateSql,

    "q_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    // same exact-top-k contract as the batch route, TVF column names
    "q_stream_heavy" ->
      """WITH e AS (SELECT CASE WHEN user_id % 10 < 7 THEN user_id % 3
        |    ELSE user_id END AS k FROM events)
        |SELECT k AS key, COUNT(*) AS cnt FROM e
        |GROUP BY k ORDER BY cnt DESC, k LIMIT 3""".stripMargin,

    "q_stream_join" ->
      """SELECT p.user_id AS user_id,
        |  p.event_id AS p_id, c.event_id AS c_id,
        |  strftime(CAST(p.ts AS TIMESTAMP),
        |    '%Y-%m-%d %H:%M:%S.%f') AS p_time,
        |  strftime(CAST(c.ts AS TIMESTAMP),
        |    '%Y-%m-%d %H:%M:%S.%f') AS c_time
        |FROM (SELECT * FROM events
        |      WHERE event_type = 'purchase' AND user_id % 4 = 0) p
        |JOIN (SELECT * FROM events
        |      WHERE event_type = 'click' AND user_id % 4 = 0) c
        |  ON p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts""".stripMargin,

    "q_stream_topn" ->
      """SELECT event_type, n FROM (
        |  SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type)
        |ORDER BY n DESC, event_type LIMIT 3""".stripMargin,

    "q_stream_over" ->
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents,
        |  COUNT(*) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS n_frame
        |FROM events""".stripMargin,

    // shared verbatim with the batch pack: the streaming drain must
    // produce bit-identical decode output to the batch operator
    "q_stream_media" -> Multimodal.oracleSql("q_media_features"),
    "q_gate_phash_cross_stream" ->
      Multimodal.oracleSql("q_dedup_phash_cross"),
    "q_stream_tokenize" -> TextAnalysis.oracleSql("q_text_bpe_encode"),
    "q_stream_media_audio" -> Multimodal.oracleSql("q_media_audio"),
    "q_stream_media_video" -> Multimodal.oracleSql("q_media_video"),
    "q_stream_abtt" -> Similarity.oracleSql("q_embed_abtt"))
}
