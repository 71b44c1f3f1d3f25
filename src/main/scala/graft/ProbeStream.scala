package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Optimization-round measurement tool for STREAMING queries (the
  * companion of [[Plans]], which captures batch plans/times): runs the
  * named queries end to end and prints each micro-batch's
  * StreamingQueryProgress phase breakdown (queryPlanning / getBatch /
  * addBatch / walCommit / state commit) so per-batch compute can be
  * separated from streaming machinery. Measurement tooling only — no
  * query surface change; the session is Bench's ([[Sessions.local]]).
  *
  * Usage: runMain graft.ProbeStream <query ...>  (3 reps each), or
  *        runMain graft.ProbeStream ivfpq-direct  (kernel-level drain)
  */
object ProbeStream {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.envCores)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        System.err.println(s"[probe] started ${e.name} at ${System.nanoTime()/1000000}ms")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        System.err.println(s"[probe] progress batch=${e.progress.batchId} " +
          s"rows=${e.progress.numInputRows} durationMs=${e.progress.durationMs}")
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        System.err.println(s"[probe] terminated at ${System.nanoTime()/1000000}ms")
    })
    if (args.headOption.contains("ivfpq-direct")) {
      import org.apache.spark.sql.functions._
      val staged = graft.queries.StreamingGate.stagedTableDir(sfDir,
        "embeddings")
      val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .filter(col("vec_id") >= 8)
      for (i <- 0 to 1) {
        val qs = spark.readStream
          .schema(spark.read.parquet(staged).schema).parquet(staged)
          .filter(col("vec_id") < 8)
        val out = graft.queries.Similarity.ivfPqTopkStream(
          corpus, qs, "vec_id", "embedding")
        val t0 = System.nanoTime()
        val q = out.writeStream.format("noop")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("probe_ck").toString)
          .start()
        q.awaitTermination(300000)
        // q.explain() returns Unit and prints to stdout — print the
        // label separately so stderr isn't "[probe] PLAN:\n()" while
        // the plan mixes into stdout's JSON
        if (i == 1) { System.err.println("[probe] PLAN follows on stdout:")
          q.explain() }
        q.stop()
        System.err.println(f"[probe] direct run$i total ${(System.nanoTime()-t0)/1e9}%.3f s")
      }
    } else args.foreach { name =>
      for (i <- 0 to 2) {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        graft.sqlgate.ScriptRunner.closeAllRunners()
        System.err.println(f"[probe] $name run$i total ${(System.nanoTime()-t0)/1e9}%.3f s")
      }
    }
    spark.stop()
  }
}
