package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.collection.concurrent.TrieMap

/** Reusable Structured Streaming transforms — the streaming operator
  * surface the reference exposes through Flink SQL (SURVEY §2.3:
  * windowed aggs `demo_4`/`demo_5`, dual-stream join `demo_2.md:76-91`,
  * continuous agg + upsert `demo_1.md:58-61`, CDC-duplicate drop
  * `demo_6.md:187`), expressed as composable DataFrame functions so the
  * same code path serves the gate layer and direct library users.
  *
  * Scale notes: all stateful ops key their state by high-cardinality
  * columns; watermarks bound state size (Spark evicts window/ join state
  * past the watermark, the analog of Flink's state TTL + lateness bound).
  */
object StreamOps {

  /** Tumbling event-time window counts+sum (TUMBLE of demo_4). */
  def tumblingAgg(df: DataFrame, tsCol: String, delay: String,
      size: String, keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), size) +: keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("wstart") +:
        col("window.end").as("wend") +:
        keys.map(col) :+ col("n") :+ col("sum_value"): _*)

  /** Session window agg (Flink session windows; Spark session_window). */
  def sessionAgg(df: DataFrame, tsCol: String, delay: String,
      gap: String, keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, delay)
      .groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("wstart") +:
        keys.map(col) :+ col("n"): _*)

  /** Watermark-bounded dual-stream inner equi-join (demo_2 shape): right
    * rows join left rows with rTs in [lTs, lTs + within].
    *
    * Contract (validated): `left` carries columns `key` and `lTs`;
    * `right` must carry the join key renamed to `r_<key>` and a time
    * column `rTs` with a name distinct from `lTs` (stream-stream joins
    * need unambiguous column names across sides).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      lTs: String, rTs: String, delay: String, within: String,
      joinType: String = "inner"): DataFrame = {
    require(lTs != rTs,
      s"left/right time columns must have distinct names, both were '$lTs'")
    require(right.columns.contains(s"r_$key"),
      s"right side must rename its join key to 'r_$key' " +
        s"(has: ${right.columns.mkString(", ")})")
    require(right.columns.contains(rTs),
      s"right side is missing time column '$rTs'")
    // Outer variants are legal here because BOTH the watermarks and the
    // time-range condition bound the state: an unmatched left row emits
    // with nulls only once the watermark proves no right row within
    // [lTs, lTs + within] can still arrive (Flink's outer interval-join
    // semantics). Spark accepts left_outer/right_outer/full_outer for
    // exactly this shape.
    left.withWatermark(lTs, delay)
      .join(right.withWatermark(rTs, delay),
        expr(s"$key = r_$key AND $rTs >= $lTs AND " +
          s"$rTs <= $lTs + INTERVAL $within"),
        joinType)
  }

  /** Exact-once-per-key event dedup inside the watermark horizon — the
    * `table.exec.source.cdc-events-duplicate` analog (demo_6.md:187).
    */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, delay: String,
      idCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(idCols)

  /** Custom keyed state via flatMapGroupsWithState: running per-key count
    * + sum emitted on every update (the unbounded continuous-agg shape of
    * demo_1 where Spark's built-ins would need a sink-side upsert).
    *
    * `stateTtlMs > 0` evicts idle keys via processing-time timeout (the
    * Flink state-TTL analog); 0 keeps state forever — only safe for
    * bounded key spaces, since nothing else evicts this state.
    */
  def runningTotals(ds: Dataset[(String, Double)],
      stateTtlMs: Long = 0L): Dataset[KeyTotal] = {
    import ds.sparkSession.implicits._
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[KeyTotal, KeyTotal](
        OutputMode.Update(), timeoutConf) {
        (key: String, rows: Iterator[(String, Double)],
         state: GroupState[KeyTotal]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(KeyTotal(key, 0L, 0.0))
            var n = prev.n
            var s = prev.total
            rows.foreach { r => n += 1; s += r._2 }
            val next = KeyTotal(key, n, s)
            state.update(next)
            if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            Iterator(next)
          }
      }
  }

  /** Streaming OVER window — Flink SQL's
    * `SUM(x) OVER (PARTITION BY k ORDER BY ts ROWS BETWEEN n PRECEDING
    * AND CURRENT ROW)` on an unbounded stream, which Spark's built-in
    * window functions refuse on streaming plans.
    *
    * WATERMARK-CORRECT (this replaced an ordered-arrival variant whose
    * cross-batch disorder caveat was the engine's last place a
    * semantically-off answer could emit): exactly like Flink's OVER
    * operator, arriving rows are buffered in keyed state and emitted in
    * (ts, event_id) order only once the event-time watermark passes
    * their timestamp — out-of-order arrival WITHIN the `delay` bound
    * across any number of micro-batches produces the batch-oracle
    * answer, and rows later than the watermark are dropped (by Spark's
    * late-row filter on the watermarked input — the same fate Flink
    * gives them). An event-time timeout re-fires the key when the
    * watermark passes its oldest buffered row, so buffered rows flush
    * even if the key receives no further data.
    *
    * State per key = the ring of the last `preceding` emitted rows plus
    * the rows inside the watermark horizon — O(preceding + delay·rate),
    * the exact analog of Flink's OVER state, bounded regardless of
    * stream length. Values ride as integer cents so the frame sum is
    * order-exact and hash-comparable to a batch window oracle.
    */
  def runningOverFrame(ds: Dataset[OverIn], preceding: Int,
      delay: String): Dataset[OverOut] = {
    import ds.sparkSession.implicits._
    val wm = ds.toDF()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", delay)
      .as[OverInTs]
    wm.groupByKey(_.user_id)
      .flatMapGroupsWithState[OverState, OverOut](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, rows: Iterator[OverInTs], state: GroupState[OverState]) =>
          val st = state.getOption.getOrElse(OverState(Nil, Nil))
          val incoming = rows
            .map(r => OverIn(r.user_id, r.ts_us, r.event_id, r.cents)).toList
          val wmMs = state.getCurrentWatermarkMs()
          // a row is final once the watermark reached it (ts <= wm, the
          // same bound Flink's event-time timers fire at). Spark's
          // late-record filter drops only rows STRICTLY older than the
          // watermark, so a row arriving in a later batch at exactly the
          // already-flushed watermark millisecond is still delivered and
          // emits after same-millisecond rows — a whole-millisecond
          // reordering window at the exact boundary. Holding ts == wm
          // instead (strict <) would close it but strand rows whose ts
          // equals the FINAL watermark at stream end (nothing left to
          // advance it); Flink makes the same trade at its timer bound.
          val (ripe, hold) =
            (st.pending ++ incoming).partition(_.ts_us / 1000L <= wmMs)
          var frame = st.frame
          val out = ripe.sortBy(r => (r.ts_us, r.event_id)).map { r =>
            frame = (frame :+ r).takeRight(preceding + 1)
            OverOut(key, r.event_id, frame.map(_.cents).sum, frame.size.toLong)
          }
          state.update(OverState(frame.takeRight(preceding), hold))
          if (hold.nonEmpty) {
            // wake when the watermark reaches the oldest held row's
            // millisecond (must be strictly beyond the current watermark)
            val oldestMs = hold.map(_.ts_us).min / 1000L
            state.setTimeoutTimestamp(math.max(oldestMs, wmMs + 1L))
          }
          out.iterator
      }
  }

  /** In-memory keyed upsert store for foreachBatch sinks (the test/local
    * stand-in for the JDBC `ON DUPLICATE KEY UPDATE` sink; same contract:
    * last write per key wins, exactly-once per micro-batch re-run because
    * upserts are idempotent).
    */
  object UpsertStore {
    private val tables = TrieMap[String, TrieMap[String, Seq[Any]]]()
    def table(name: String): TrieMap[String, Seq[Any]] =
      tables.getOrElseUpdate(name, TrieMap())
    def clear(name: String): Unit = tables.remove(name)
  }

  /** INJECTIVE string encoding of a composite key (also the ES sink's
    * document `_id`): parts join on '|'; a null part is the bare NUL
    * character, and value text escapes backslash, NUL and the
    * delimiter. Distinct keys can therefore never encode equal --
    * ("x|y","z") != ("x","y|z"), a single-part SQL NULL != the literal
    * string "null" (the String.valueOf trap), and a value containing
    * the null sentinel stays distinct from a null part -- while
    * ordinary keys keep their plain readable form (stable `_id`s).
    */
  def encodeKey(parts: Seq[Any]): String = parts.map {
    case null => "\u0000"
    case v => v.toString.replace("\\", "\\\\")
      .replace("\u0000", "\\0").replace("|", "\\|")
  }.mkString("|")

  /** foreachBatch writer upserting rows into UpsertStore by key columns. */
  def upsertBatch(table: String, keyCols: Seq[String])(
      batch: Dataset[Row], batchId: Long): Unit = {
    val cols = batch.columns
    val missing = keyCols.filterNot(cols.contains)
    require(missing.isEmpty,
      s"upsertBatch key column(s) ${missing.mkString(", ")} not in batch " +
        s"columns ${cols.mkString(", ")}")
    val keyIdx = keyCols.map(cols.indexOf(_))
    val t = UpsertStore.table(table)
    batch.collect().foreach { r =>
      t(encodeKey(keyIdx.map(r.get))) = r.toSeq
    }
  }
}

final case class KeyTotal(key: String, n: Long, total: Double)

/** Input/output rows of [[StreamOps.runningOverFrame]]. */
final case class OverIn(user_id: Long, ts_us: Long, event_id: Long,
    cents: Long)
final case class OverOut(user_id: Long, event_id: Long, run_cents: Long,
    n_frame: Long)

/** [[StreamOps.runningOverFrame]] internals: the watermarked input row
  * (ts = timestamp_micros(ts_us), the watermark column) and the keyed
  * state — the emitted-frame ring plus rows still inside the watermark
  * horizon.
  */
final case class OverInTs(user_id: Long, ts_us: Long, event_id: Long,
    cents: Long, ts: java.sql.Timestamp)
final case class OverState(frame: List[OverIn], pending: List[OverIn])
