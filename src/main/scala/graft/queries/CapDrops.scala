package graft.queries

import org.apache.spark.sql.{Row, SparkSession}

/** The one logger of cap drops. A capped plan counts what its cap drops
  * in an `observe()` metric, which costs nothing at runtime; after any
  * action over such a plan this logs each cap metric that dropped
  * something at WARN, so capped truncation is always visible in the
  * driver log. Cap metrics: [[Dedup]]'s hot-bucket caps (`*_buckets`:
  * dropped buckets, dropped member rows) and [[Search]]'s BM25 df cap
  * (`bm25_dfcap`: dropped posting rows).
  */
private[queries] object CapDrops {
  // weak keys: stopped sessions must not stay pinned by this static set
  private val sessions = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The warning for one observed metric; None when it is not a cap
    * metric or dropped nothing. A sum over an EMPTY input is NULL, so
    * the count is guarded before it is unboxed.
    */
  private[queries] def message(name: String, row: Row): Option[String] = {
    def dropped = !row.isNullAt(0) && row.getLong(0) > 0
    if (name == "bm25_dfcap" && dropped)
      Some(s"bm25 df cap dropped ${row.getLong(0)} posting rows " +
        "(stop-grade terms) — raise the cap to trade probe fan-out for " +
        "recall on those terms")
    else if (name.endsWith("_buckets") && dropped)
      Some(s"$name hot-bucket cap dropped ${row.getLong(0)} buckets " +
        s"(${row.getLong(1)} member rows) — raise maxBucket to trade " +
        "skew safety for recall on these groups")
    else None
  }

  /** Register the logger on `s`, once per session. */
  def watch(s: SparkSession): Unit = sessions.synchronized {
    if (sessions.add(s))
      s.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              message(name, row).foreach(log.warn)
            }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })
  }
}
