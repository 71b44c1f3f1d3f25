package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Per-query failures
  * are recorded in outDir/_failed.json so a crashed query is visible to the
  * gate instead of silently missing from the comparison.
  */
object Verify {
  private def q(s: String): String = JsonUtil.str(s)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(Sessions.envCores)
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    // Optional local-iteration filter (the driver never sets it): run
    // only a comma-separated subset of query names.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
        failed(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
        // a failed query must not leave a stale result from a previous
        // run for the driver's compare to pick up as a pass
        val staleDir = new java.io.File(s"$outDir/$name")
        if (staleDir.isDirectory) {
          staleDir.listFiles().foreach(_.delete())
          staleDir.delete()
        }
      } finally
        // gate queries that registered a jdbc lookup dim hold a persisted
        // snapshot + TTL refresher task per runner; sweep between queries
        graft.sqlgate.ScriptRunner.closeAllRunners()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} FAILED: ${failed.keys.mkString(", ")}")
    spark.stop()
  }
}
