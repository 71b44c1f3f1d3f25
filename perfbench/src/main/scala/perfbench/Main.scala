package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by perfbench/run.py):
  *
  *   perfbench.Main --workload <stream_ingest|job_lifecycle> --seed <n>
  *     --seconds <s> --trace <0|1> --work <dir>
  *
  * Prints a report line (every metric as median, quartiles and sample
  * count, plus the host facts the numbers depend on), then, as the last
  * line, the result object: end-to-end metrics untraced, per-layer
  * metrics traced. Exits 1 when any output check failed.
  */
object Main {

  /** End-to-end metrics and their units: the ones that hold still across
    * seeds on both workloads. The rest (catch-up rate, stop with
    * savepoint, restore) appear in the report with their quartiles.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "peak_heap_mb" -> "MB",
    "stream.lat_p50_ms" -> "ms",
    "stream.lat_p99_ms" -> "ms",
    "lifecycle.start_p50_ms" -> "ms",
    "lifecycle.first_result_p50_ms" -> "ms")

  val Workloads = Seq("stream_ingest", "job_lifecycle")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val work = new java.io.File(a("work"))
    require(Workloads.contains(workload), s"unknown workload $workload")
    val nproc = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val bootS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val trace = new Trace
    if (traced) { trace.enabled = true; trace.install(spark) }
    val c = new Ctx(spark, work, seed, seconds, trace, nproc)
    trace.lagProbe = () => c.broker.lagRows
    val wall0 = System.currentTimeMillis()
    try workload match {
      case "stream_ingest" => StreamIngest.run(c)
      case "job_lifecycle" => JobLifecycle.run(c)
    } catch {
      case e: Throwable =>
        c.failed += 1; c.attempted += 1
        c.failures += s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"
    } finally c.close()
    val wall1 = System.currentTimeMillis()

    val rounds = c.samples.get("setup.round_s").map(_.toSeq).getOrElse(Seq(0.0))
    c.samples.remove("setup.round_s")
    c.add("setup_s", bootS + Stats.median(rounds))
    c.add("peak_heap_mb", c.peakHeapMb)
    val missing = EndToEnd.map(_._1).filterNot(c.samples.contains)
    missing.foreach(m => c.failures += s"no samples for $m")
    val correct = c.failed == 0 && missing.isEmpty

    val env = Seq(
      "workload" -> JsonOut.str(workload), "seed" -> seed.toString,
      "nproc" -> nproc.toString, "master" -> JsonOut.str(s"local[$nproc]"),
      "jvm" -> JsonOut.str(System.getProperty("java.vm.name") + " " +
        System.getProperty("java.runtime.version")),
      "spark" -> JsonOut.str(spark.version), "seconds" -> seconds.toString,
      "traced" -> traced.toString, "boot_s" -> JsonOut.num(bootS),
      "setup_rounds_s" -> rounds.map(JsonOut.num).mkString("[", ",", "]"))
    val units = EndToEnd.toMap ++ Seq(
      "stream.catchup_rows_per_s" -> "rows/s",
      "lifecycle.stop_savepoint_p50_ms" -> "ms", "lifecycle.restore_p50_ms" -> "ms")
    val summaries = c.samples.toSeq.map { case (m, v) =>
      val s = Stats.summary(v.toSeq)
      m -> JsonOut.obj(Seq("median" -> JsonOut.num(s.median), "q1" -> JsonOut.num(s.q1),
        "q3" -> JsonOut.num(s.q3), "n" -> s.n.toString,
        "unit" -> JsonOut.str(units.getOrElse(m, ""))))
    }
    val report = JsonOut.obj(Seq(
      "env" -> JsonOut.obj(env),
      "metrics" -> JsonOut.obj(summaries),
      "notes" -> JsonOut.obj(c.notes.toSeq.map { case (k, v) => k -> JsonOut.num(v) }),
      "error_rate" -> JsonOut.num(c.failed.toDouble / math.max(1L, c.attempted)),
      "failures" -> c.failures.take(20).map(JsonOut.str).mkString("[", ",", "]")))
    println("report " + report)

    val metrics: Seq[(String, Double, String)] =
      if (!traced) EndToEnd.map { case (m, u) =>
        (m, c.samples.get(m).map(v => Stats.median(v.toSeq)).getOrElse(0.0), u)
      }
      else Layers.metrics(c, wall0, wall1)
    println(JsonOut.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> c.attempted.toString,
      "failed" -> (c.failed + missing.size).toString,
      "metrics" -> JsonOut.obj(metrics.map { case (m, v, u) =>
        m -> JsonOut.obj(Seq("value" -> JsonOut.num(v), "unit" -> JsonOut.str(u)))
      }))))
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}

/** The per-layer metrics of a traced run, in BENCHMARK.json order, but
  * for `trace.overhead_pct`: that one compares the traced run with an
  * untraced run of the same seed, and run.py adds it.
  */
object Layers {
  def metrics(c: Ctx, wall0: Long, wall1: Long): Seq[(String, Double, String)] = {
    val t = c.trace
    val batches = math.max(1.0, t.sum("microbatch.batches"))
    val fetches = c.broker.fetchRequests.get.toDouble
    Seq(
      ("sqlgate.split_ms", t.medianOf("sqlgate.split_ms"), "ms"),
      ("sqlgate.validate_ms", t.medianOf("sqlgate.validate_ms"), "ms"),
      ("sqlgate.rewrite_ms", t.medianOf("sqlgate.rewrite_ms"), "ms"),
      ("sqlgate.run_ms", t.medianOf("sqlgate.run_ms"), "ms"),
      ("sqlgate.statements", t.sum("sqlgate.statements"), "count"),
      ("platform.http_ms", t.medianOf("platform.http_ms"), "ms"),
      ("platform.registry_rows", t.sum("platform.registry_rows"), "count"),
      ("streaming.snapshot_ms", t.medianOf("streaming.snapshot_ms"), "ms"),
      ("streaming.restore_ms", t.medianOf("streaming.restore_ms"), "ms"),
      ("streaming.savepoint_bytes", t.medianOf("streaming.savepoint_bytes"), "bytes"),
      ("streaming.savepoint_files", t.medianOf("streaming.savepoint_files"), "count"),
      ("microbatch.trigger_ms", t.medianOf("microbatch.trigger_ms"), "ms"),
      ("microbatch.latest_offset_ms", t.medianOf("microbatch.latest_offset_ms"), "ms"),
      ("microbatch.query_planning_ms", t.medianOf("microbatch.query_planning_ms"), "ms"),
      ("microbatch.add_batch_ms", t.medianOf("microbatch.add_batch_ms"), "ms"),
      ("microbatch.wal_commit_ms", t.medianOf("microbatch.wal_commit_ms"), "ms"),
      ("microbatch.commit_offsets_ms", t.medianOf("microbatch.commit_offsets_ms"), "ms"),
      ("microbatch.batches", t.sum("microbatch.batches"), "count"),
      ("microbatch.empty_batch_ratio", t.sum("microbatch.empty_batches") / batches, "ratio"),
      ("microbatch.state_rows", t.medianOf("microbatch.state_rows"), "rows"),
      ("microbatch.state_bytes", t.medianOf("microbatch.state_bytes"), "bytes"),
      ("microbatch.state_commit_ms", t.medianOf("microbatch.state_commit_ms"), "ms"),
      ("sources.fetch_requests", fetches, "count"),
      ("sources.fetch_bytes", c.broker.fetchBytes.get.toDouble, "bytes"),
      ("sources.empty_fetch_ratio", c.broker.emptyFetches.get / math.max(1.0, fetches), "ratio"),
      ("sources.lag_rows", t.medianOf("sources.lag_rows"), "rows"),
      ("plan.analysis_ms", t.sum("plan.analysis_ms"), "ms"),
      ("plan.optimization_ms", t.sum("plan.optimization_ms"), "ms"),
      ("plan.planning_ms", t.sum("plan.planning_ms"), "ms"),
      ("exec.jobs", t.sum("exec.jobs"), "count"),
      ("exec.stages", t.sum("exec.stages"), "count"),
      ("exec.tasks", t.sum("exec.tasks"), "count"),
      ("exec.task_run_ms", t.sum("exec.task_run_ms"), "ms"),
      ("exec.task_cpu_ms", t.sum("exec.task_cpu_ms"), "ms"),
      ("exec.gc_ms", t.sum("exec.gc_ms"), "ms"),
      ("exec.driver_gap_ms", t.driverGapMs(wall0, wall1), "ms"),
      ("exec.shuffle_read_bytes", t.sum("exec.shuffle_read_bytes"), "bytes"),
      ("exec.shuffle_write_bytes", t.sum("exec.shuffle_write_bytes"), "bytes"),
      ("exec.spill_bytes", t.sum("exec.spill_bytes"), "bytes"),
      ("exec.peak_exec_mem_bytes", t.sum("exec.peak_exec_mem_bytes"), "bytes"),
      ("gen.late_ms_max", c.notes.getOrElse("gen.late_ms_max", 0.0), "ms"))
  }
}

/** Just enough JSON writing for the two output lines. */
object JsonOut {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
