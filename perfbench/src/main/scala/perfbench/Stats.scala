package perfbench

/** Pure helpers behind every reported number: percentiles, the tail
  * rule, latency from creation stamps, the open-loop schedule and the
  * sustained-rate rule. Kept free of Spark so they can be tested alone.
  */
object Stats {

  /** Nearest-rank percentile (p in [0, 100]) of a non-empty sample. */
  def percentile(values: Seq[Double], p: Double): Double = {
    require(values.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p out of [0, 100]")
    val sorted = values.sorted
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted(math.max(0, math.min(sorted.size - 1, rank - 1)))
  }

  def median(values: Seq[Double]): Double = percentile(values, 50)

  /** Samples strictly above the nearest-rank p-th percentile position. */
  def beyond(n: Int, p: Double): Int =
    n - math.max(1, math.ceil(p / 100.0 * n).toInt)

  /** The highest candidate percentile that still leaves at least
    * `minBeyond` samples beyond it; None when even the lowest does not.
    */
  def tailPercentile(n: Int, candidates: Seq[Double],
      minBeyond: Int = 10): Option[Double] =
    candidates.sorted.reverse.find(p => beyond(n, p) >= minBeyond)

  /** Geometric mean of positive values. */
  def geoMean(values: Seq[Double]): Double = {
    require(values.nonEmpty && values.forall(_ > 0), s"geometric mean of $values")
    math.exp(values.map(math.log).sum / values.size)
  }

  /** Summary of one metric's samples within a run. */
  final case class Summary(median: Double, q1: Double, q3: Double, n: Int)

  def summary(values: Seq[Double]): Summary =
    Summary(percentile(values, 50), percentile(values, 25),
      percentile(values, 75), values.size)

  /** Event-to-sink latency: the sink's arrival stamp minus the creation
    * stamp of the newest event that contributed to the row.
    */
  def latencyMs(arrivalMs: Long, newestCreatedMs: Long): Double =
    (arrivalMs - newestCreatedMs).toDouble

  /** Open-loop schedule: event i is due at `startNs + i / rate`,
    * whatever the consumer does. `due(now)` is how many events should
    * exist by `now`; lateness is how far behind its due time an event
    * was actually emitted.
    */
  final case class Schedule(startNs: Long, ratePerS: Double) {
    require(ratePerS > 0, "rate must be positive")
    def dueNs(i: Long): Long = startNs + (i * 1e9 / ratePerS).toLong
    def due(nowNs: Long): Long =
      if (nowNs < startNs) 0L
      else math.floor((nowNs - startNs) / 1e9 * ratePerS).toLong + 1
    def latenessMs(i: Long, emittedNs: Long): Double =
      math.max(0L, emittedNs - dueNs(i)) / 1e6
  }

  /** One step of the rate ladder as it was observed. */
  final case class Step(offeredPerS: Double, p99Ms: Double,
      backlogStart: Long, backlogEnd: Long)

  /** A step holds when its p99 stays within the limit and its backlog
    * does not grow beyond what two trigger intervals leave in flight (the
    * batch being processed and the one accumulating behind it).
    */
  def holds(s: Step, p99LimitMs: Double, triggerMs: Double): Boolean = {
    val inFlight = (s.offeredPerS * 2 * triggerMs / 1000.0).toLong
    s.p99Ms <= p99LimitMs && s.backlogEnd <= math.max(s.backlogStart, inFlight)
  }

  /** Sustained rate: the highest offered rate of the ladder's unbroken
    * prefix of holding steps (a step past the first failure is not
    * trusted: its backlog carries the failure's), 0 when none holds.
    */
  def sustained(steps: Seq[Step], p99LimitMs: Double,
      triggerMs: Double): Double =
    steps.takeWhile(holds(_, p99LimitMs, triggerMs))
      .map(_.offeredPerS).foldLeft(0.0)(math.max)
}
