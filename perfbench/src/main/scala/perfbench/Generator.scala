package perfbench

import java.util.SplittableRandom

/** Seeded, skewed key draws: Zipf(s) over keys 0 until n. */
final class ZipfKeys(n: Int, s: Double, seed: Long) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  // a seeded permutation, so the hottest keys are not simply 0, 1, 2, …
  private val perm: Array[Int] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }
  private val rnd = new SplittableRandom(seed)

  def next(): Int = {
    val u = rnd.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    perm(lo)
  }
}

/** Open-loop event generator: one thread appends events to a broker topic
  * on a fixed-rate schedule, stamping each with the time it was due
  * (its creation time), whether or not the job keeps up. `render` turns
  * (event id, key, creation ms) into the record's JSON value.
  */
final class Generator(topic: Broker.Topic, keys: ZipfKeys,
    render: (Long, Int, Long) => String) extends AutoCloseable {

  private val nParts = topic.parts.size
  private var nextId = 0L
  /** Events generated per key, for the output checks. */
  val perKey = scala.collection.mutable.HashMap[Int, Long]().withDefaultValue(0L)
  @volatile private var lateMsMax = 0.0
  @volatile private var schedule: Option[(Stats.Schedule, Long, Long)] = None
  @volatile private var running = true
  private var emittedInSchedule = 0L

  private def emit(createdMs: Long): Unit = {
    val k = keys.next()
    perKey(k) += 1
    // round-robin over partitions, as a producer without record keys
    // spreads them: placing by key would put the hottest keys' share on
    // whichever partitions the seed happens to give them
    topic.parts((nextId % nParts).toInt).append(render(nextId, k, createdMs))
    nextId += 1
  }

  /** Append `n` events at once (a backlog loaded before a job starts). */
  def preload(n: Long): Unit = synchronized {
    val now = System.currentTimeMillis()
    var i = 0L
    while (i < n) { emit(now); i += 1 }
  }

  /** Start emitting at `ratePerS` from now on, replacing any schedule. */
  def startRate(ratePerS: Double): Unit = synchronized {
    catchUp()
    emittedInSchedule = 0L
    schedule = Some((Stats.Schedule(System.nanoTime(), ratePerS),
      System.currentTimeMillis(), System.nanoTime()))
  }

  /** Stop emitting after the events already due. */
  def pause(): Unit = synchronized { catchUp(); schedule = None }

  def generated: Long = synchronized(nextId)
  def lateMsMaxSeen: Double = lateMsMax

  private def catchUp(): Unit = schedule.foreach { case (sch, wall0, nano0) =>
    val now = System.nanoTime()
    val due = sch.due(now)
    while (emittedInSchedule < due) {
      val dueNs = sch.dueNs(emittedInSchedule)
      emit(wall0 + (dueNs - nano0) / 1000000L)
      val late = sch.latenessMs(emittedInSchedule, now)
      if (late > lateMsMax) lateMsMax = late
      emittedInSchedule += 1
    }
  }

  private val thread = new Thread(() => {
    while (running) {
      synchronized(catchUp())
      java.util.concurrent.locks.LockSupport.parkNanos(1000000L)
    }
  }, "perfbench-generator")
  thread.setDaemon(true)
  thread.start()

  override def close(): Unit = { running = false; thread.join() }
}
