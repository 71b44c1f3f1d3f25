package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming helpers the gate calls that Spark SQL has no
  * form for: the streaming OVER window (Flink SQL's bounded-preceding
  * `OVER` on an unbounded stream) and the injective string encoding of
  * composite keys.
  */
object StreamOps {

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
}

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
