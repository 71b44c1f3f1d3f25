package perfbench

import scala.collection.mutable

/** `stream_ingest`: one demo_1-shaped job (kafka over REST → GROUP BY k
  * with COUNT(*) and MAX(created_ms) → upsert-kafka over REST), started
  * through `JobManager.start` and fed by an open-loop generator drawing
  * skewed keys. Phases: drain a preloaded backlog, hold one fixed rate,
  * climb a rate ladder, then stop-with-savepoint and restore cycles. The
  * check: each key's final `n` equals the number of events generated for
  * it.
  */
object StreamIngest {

  val Partitions = 4
  val Keys = 100000
  val ZipfS = 1.0
  val TriggerMs = 1000
  val SetupRounds = 3
  val BacklogRows = 50000L
  val FixedRatePerS = 10000.0
  /** The rate ladder and the p99 a step must stay within to hold. Its
    * first step is the fixed rate, held for `FixedShare` of `--seconds`;
    * each further step takes an equal part of the rest. The savepoint
    * cycles come after, a fixed number of them.
    */
  val LadderPerS = Seq(FixedRatePerS, 40000.0, 80000.0)
  val P99LimitMs = 2500.0
  val FixedShare = 0.6
  /** Rows created in the first second at the fixed rate are left out of
    * its latency: the job has just drained the backlog.
    */
  val SettleMs = 1000L
  val SavepointCycles = 7
  /** Rows that arrive while the job is down, for each restore to pick up. */
  val RestoreBacklogRows = 5000L

  def run(c: Ctx): Unit = {
    val parts = math.min(Partitions, c.nproc)
    val jm = new TimedJobManager(c.spark, c.dir("ckpt"), c.dir("savepoints"),
      None, c.trace)
    def light(id: Long, k: Int, createdMs: Long): String =
      s"""{"id":$id,"k":$k,"created_ms":$createdMs}"""

    // set-up rounds: the same job on a small topic, start → first result
    // → stop; the first round also pays the cold JVM and engine paths
    val warm = (0 until SetupRounds).map { i =>
      val t0 = System.nanoTime()
      val in = c.broker.createTopic(s"warm${i}_in", parts)
      val g = new Generator(in, new ZipfKeys(1000, ZipfS, c.seed + i), light)
      g.preload(2000)
      g.close()
      val t1 = System.currentTimeMillis()
      val id = jm.start(s"warm$i", c.keyedAggScript(s"warm${i}_in", s"warm${i}_out", TriggerMs))
      c.await("warm-up result")(c.broker.sink(s"warm${i}_out").firstPostAtOrAfter(t1))
      c.awaitCommitted(jm, id, 2000)
      jm.stop(id, false)
      (System.nanoTime() - t0) / 1e9
    }
    warm.foreach(c.add("setup.round_s", _))

    val topic = c.broker.createTopic("si_in", parts)
    val sink = c.broker.sink("si_out")
    val gen = new Generator(topic, new ZipfKeys(Keys, ZipfS, c.seed), light)
    val script = c.keyedAggScript("si_in", "si_out", TriggerMs)
    c.heapMark()

    // catch-up: a backlog loaded before the job starts
    gen.preload(BacklogRows)
    var id = ""
    val t0 = System.currentTimeMillis()
    c.op("start") {
      id = jm.start("stream_ingest", script)
      c.add("lifecycle.start_p50_ms", jm.lastCallMs)
    }
    if (id.isEmpty) return
    c.op("first result") {
      val first = c.await("first result")(sink.firstPostAtOrAfter(t0))
      c.add("lifecycle.first_result_p50_ms", (first - t0).toDouble)
    }
    c.op("catch-up") {
      c.awaitCommitted(jm, id, BacklogRows)
      val q = c.query(jm, id)
      val drain = q.recentProgress.filter(_.numInputRows > 0)
      val rows = drain.map(_.numInputRows).sum
      val ms = drain.map(_.durationMs.get("triggerExecution").longValue).sum
      c.add("stream.catchup_rows_per_s", rows * 1000.0 / math.max(1L, ms))
    }
    c.heapMark()

    // the ladder, its first step held longest for the fixed-rate latency
    val s = c.seconds * 1000L
    val fixedMs = (s * FixedShare).toLong
    val stepMs = (s - fixedMs) / (LadderPerS.size - 1)
    val steps = mutable.ArrayBuffer[(Double, Long, Long, Long, Long)]()
    val q0 = c.query(jm, id)
    var climbing = true
    LadderPerS.zipWithIndex.foreach { case (r, i) =>
      if (climbing) {
        val from = System.currentTimeMillis()
        val lag0 = gen.generated - c.committed(q0)
        gen.startRate(r)
        Thread.sleep(if (i == 0) fixedMs else stepMs)
        val lag1 = gen.generated - c.committed(q0)
        steps += ((r, from, System.currentTimeMillis(), lag0, lag1))
        // a backlog many triggers deep will not clear inside this run
        if (lag1 > r * TriggerMs / 1000.0 * 8) climbing = false
      }
    }
    gen.pause()
    c.op("drain after ladder") {
      c.awaitCommitted(jm, id, gen.generated, timeoutMs = 150000)
    }
    c.heapMark()
    // the percentiles pool every row of the phase: a batch takes about a
    // trigger interval or more, so a shorter slice would see only one or
    // two batches and its percentile would swing with their phase
    val (_, fixedFrom, fixedUntil, _, _) = steps.head
    val lat = sink.latencies(fixedFrom + SettleMs, fixedUntil)
    lat.foreach(c.add("stream.lat_ms.samples", _))
    if (lat.nonEmpty) {
      c.add("stream.lat_p50_ms", Stats.percentile(lat, 50))
      c.add("stream.lat_p99_ms", Stats.percentile(lat, 99))
    }
    val observed = steps.toSeq.map { case (r, from, until, lag0, lag1) =>
      val l = sink.latencies(from + TriggerMs, until)
      Stats.Step(r, if (l.isEmpty) Double.MaxValue else Stats.percentile(l, 99), lag0, lag1)
    }
    c.notes("stream.sustained_rows_per_s") = Stats.sustained(observed, P99LimitMs, TriggerMs)
    observed.foreach(st => c.notes(s"ladder.${st.offeredPerS.toLong}.p99_ms") = st.p99Ms)

    // stop-with-savepoint → restore cycles. Each stop comes once the job
    // has processed everything fed so far, so it times the snapshot, not
    // the wait for a batch in flight. A fixed backlog arrives while the
    // job is down, so each restore starts into the same amount of work.
    // The first result counts from the restored job's start, after the
    // savepoint copy, which restore_p50_ms already holds: the copy grows
    // with the checkpoint's file count, which varies with batch timing.
    var cycles = 0
    var live = true
    while (live && cycles < SavepointCycles) {
      cycles += 1
      val stopped = c.op("stop with savepoint") {
        // keyed aggregation runs no batch without new rows, so once every
        // row is committed nothing writes to the checkpoint
        c.awaitCommitted(jm, id, gen.generated)
        jm.stop(id, true)
        c.add("lifecycle.stop_savepoint_p50_ms", jm.lastCallMs)
      }.isDefined
      gen.preload(RestoreBacklogRows)
      live = stopped && c.op("restore") {
        id = jm.restartFromSavepoint(id, None)
        c.add("lifecycle.restore_p50_ms", jm.lastCallMs)
        c.add("lifecycle.start_p50_ms", jm.lastStartMs)
        val ts = jm.lastStartAtMs
        val first = c.await("first result after restore")(sink.firstPostAtOrAfter(ts))
        c.add("lifecycle.first_result_p50_ms", (first - ts).toDouble)
      }.isDefined
    }
    c.notes("stream.savepoint_cycles") = cycles
    c.notes("gen.late_ms_max") = gen.lateMsMaxSeen
    c.notes("gen.events") = gen.generated.toDouble
    gen.close()
    if (!live) return
    c.op("final drain") {
      c.awaitCommitted(jm, id, gen.generated, timeoutMs = 150000)
    }
    jm.stop(id, false)
    c.heapMark()

    // output check: every key's final count equals what was generated
    val got = sink.snapshot(c.json).values.map { n =>
      n.get("k").asInt -> n.get("n").asLong
    }.toMap
    val want = gen.perKey.toMap
    val wrong = want.count { case (k, n) => !got.get(k).contains(n) } +
      got.keySet.diff(want.keySet).size
    c.check("stream_ingest per-key counts", wrong == 0,
      s"$wrong of ${want.size} keys differ")
  }
}
