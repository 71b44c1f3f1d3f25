package graft

import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round measurement tool (guide §1): dumps
  * `.explain("formatted")` for named queries to files and times each in
  * isolation through the noop sink (min of `reps` after one warm-up) so a
  * single query can be iterated on without paying for the whole bench
  * sweep. The session is Bench's ([[Sessions.local]] on the same cores)
  * — a plan captured here is the plan the bench runs.
  *
  * Usage: runMain graft.Plans <outDir> <suffix> <reps> <query ...|all>
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val reps = args(2).toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names: Seq[String] =
      if (args.length == 4 && args(3) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args.drop(3).toSeq
    val spark = Sessions.local(Sessions.envCores)
    new java.io.File(outDir).mkdirs()
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      try {
        spark.sparkContext.setJobDescription(s"plan: $name")
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
        graft.sqlgate.ScriptRunner.closeAllRunners()
        // optional EXECUTED-plan dump: the static dump above is the
        // pre-AQE plan (isFinalPlan=false, no codegen ids); claims
        // about WholeStageCodegen membership / AQE exchange reuse need
        // the post-run plan
        if (sys.env.contains("SPARK_GRAFT_PLANS_EXECUTED")) {
          val dfE = fn(spark, sfDir)
          // collect(), not a noop write: the write wraps the plan in
          // its own QueryExecution, leaving dfE's AQE plan unexecuted
          // (isFinalPlan=false forever); collect executes dfE's own
          // instance so the dump carries the final stages + codegen ids
          dfE.collect()
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(outDir, s"${name}_${suffix}_executed.txt"),
            dfE.queryExecution.explainString(
              ExplainMode.fromString("formatted")))
          graft.sqlgate.ScriptRunner.closeAllRunners()
        }
        // warm-up + timed reps, min kept (same methodology as Bench)
        var best = Double.MaxValue
        for (i <- 0 to reps) {
          spark.sparkContext.setJobDescription(s"time[$i]: $name")
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val t = (System.nanoTime() - t0) / 1e9
          graft.sqlgate.ScriptRunner.closeAllRunners()
          if (i > 0 && t < best) best = t
        }
        results(name) = if (reps == 0) -2.0 else best
        System.err.println(f"[plans] $name%-36s ${results(name)}%8.3f s")
      } catch { case e: Throwable =>
        results(name) = -1.0
        System.err.println(s"[plans] $name FAILED: ${e.getMessage}")
      }
    }
    val qs = results.map { case (k, v) =>
      JsonUtil.str(k) + ":" + f"$v%.3f" }.mkString("{", ",", "}")
    println(s"""{"metric":"plans","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
