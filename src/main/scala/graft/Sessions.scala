package graft

import org.apache.spark.sql.SparkSession

/** The one local `SparkSession` builder of the mains (Bench, Verify,
  * Plans, ProbeStream, GenScale, ScaleStress): `local[cores]` with
  * `cores` shuffle partitions, UTC session time, nanosecond parquet
  * timestamps read as longs, adaptive execution on, no UI, WARN logs,
  * and no per-session artifact isolation, so every query's tasks share
  * one executor class loader and its compiled classes (see
  * [[graft.sqlgate.ScriptRunner.ArtifactIsolation]]).
  * A main passes its own keys (an app name, a scratch dir, a fixed
  * partition count) as `overrides`, which win over these defaults.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else min(32, the host's processors). */
  def envCores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.min(32, Runtime.getRuntime.availableProcessors()).toString)

  def local(cores: String, overrides: (String, String)*): SparkSession = {
    val conf = Seq(
      "spark.sql.shuffle.partitions" -> cores,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false",
      graft.sqlgate.ScriptRunner.ArtifactIsolation -> "false") ++ overrides
    val spark = conf.foldLeft(SparkSession.builder().master(s"local[$cores]")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
