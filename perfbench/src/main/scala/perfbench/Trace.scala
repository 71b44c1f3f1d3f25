package perfbench

import graft.platform.{JobManager, JobRegistry}
import graft.sqlgate.{FlinkSqlRewrite, SqlCommand, SqlSplitter, SqlValidator}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Per-layer accounting for the traced run: sums and sample lists keyed
  * by metric name. What tracing costs is measured from outside, against an
  * untraced run of the same seed (see run.py).
  */
final class Trace {
  private val sums = mutable.HashMap[String, Double]().withDefaultValue(0.0)
  private val samples = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
  private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  private val jobStarts = mutable.HashMap[Int, Long]()
  @volatile var enabled = false
  /** Source rows appended but not yet fetched, sampled at each batch. */
  @volatile var lagProbe: () => Long = () => 0L

  def add(name: String, v: Double): Unit = synchronized { sums(name) += v }
  def max(name: String, v: Double): Unit =
    synchronized { sums(name) = math.max(sums(name), v) }
  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  }
  def sum(name: String): Double = synchronized(sums(name))
  def medianOf(name: String): Double = synchronized {
    samples.get(name).filter(_.nonEmpty).map(s => Stats.median(s.toSeq)).getOrElse(0.0)
  }

  /** Wall time of the window not covered by any Spark job. */
  def driverGapMs(fromMs: Long, untilMs: Long): Double = synchronized {
    val spans = jobSpans.map { case (a, b) => (math.max(a, fromMs), math.min(b, untilMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    spans.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    (untilMs - fromMs - covered).toDouble
  }

  /** Registers the Spark-side listeners: `exec` (jobs, stages, tasks),
    * `plan` (the planning tracker of every finished query) and
    * `microbatch` (streaming progress).
    */
  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        Trace.this.synchronized(jobStarts(e.jobId) = e.time)
        add("exec.jobs", 1)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Trace.this.synchronized {
          jobStarts.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        add("exec.stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        add("exec.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("exec.task_run_ms", m.executorRunTime.toDouble)
          add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
          add("exec.gc_ms", m.jvmGCTime.toDouble)
          add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          max("exec.peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, durationNs: Long): Unit =
        phases(qe)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
        phases(qe)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        add("microbatch.batches", 1)
        sample("sources.lag_rows", lagProbe().toDouble)
        if (p.numInputRows == 0) add("microbatch.empty_batches", 1)
        Seq("triggerExecution" -> "trigger", "latestOffset" -> "latest_offset",
          "queryPlanning" -> "query_planning", "addBatch" -> "add_batch",
          "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets")
          .foreach { case (k, name) =>
            Option(p.durationMs.get(k)).foreach(v => sample(s"microbatch.${name}_ms", v.doubleValue))
          }
        p.stateOperators.foreach { s =>
          sample("microbatch.state_rows", s.numRowsTotal.toDouble)
          sample("microbatch.state_bytes", s.memoryUsedBytes.toDouble)
          sample("microbatch.state_commit_ms", s.commitTimeMs.toDouble)
        }
      }
    })
  }

  private def phases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { k =>
      ph.get(k).foreach(s => add(s"plan.${k}_ms", s.durationMs.toDouble))
    }
  }

  /** Files and bytes of one savepoint directory. */
  def savepointSize(path: String): Unit = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    var (files, bytes) = (0, 0L)
    try walk.filter(java.nio.file.Files.isRegularFile(_)).forEach { f =>
      files += 1
      bytes += java.nio.file.Files.size(f)
    } finally walk.close()
    sample("streaming.savepoint_files", files.toDouble)
    sample("streaming.savepoint_bytes", bytes.toDouble)
  }

  /** Side-timing of the gate layers on a script about to be started.
    * These calls repeat what `JobManager.start` does inside, outside the
    * timed start.
    */
  def gate(spark: SparkSession, script: String): Unit = {
    def ms[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      try f finally sample(name, (System.nanoTime() - t0) / 1e6)
    }
    val stmts = ms("sqlgate.split_ms")(SqlSplitter.split(script))
    add("sqlgate.statements", stmts.size.toDouble)
    stmts.foreach(SqlCommand.classify)
    ms("sqlgate.validate_ms")(SqlValidator.validate(spark, script))
    ms("sqlgate.rewrite_ms")(stmts.foreach { s =>
      if (s.trim.toUpperCase.startsWith("INSERT")) FlinkSqlRewrite.validate(s)
    })
  }
}

/** The platform's `JobManager`, unchanged in behaviour, with the time of
  * each verb recorded (the HTTP layer's share is the round trip minus
  * this) and, when tracing, the gate and savepoint layers split out.
  */
final class TimedJobManager(spark: SparkSession, checkpointRoot: String,
    savepointRoot: String, registry: Option[JobRegistry], trace: Trace)
    extends JobManager(spark, checkpointRoot, savepointRoot, Map.empty, registry) {

  @volatile var lastCallMs = 0.0
  @volatile var lastStartMs = 0.0
  /** Wall clock when the last start began (inside a restore, after the copy). */
  @volatile var lastStartAtMs = 0L
  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  override def start(name: String, script0: String, batchMode: Boolean,
      autoRestart: Boolean, restoreCheckpoint: Option[String]): String = {
    if (trace.enabled) trace.gate(spark, script0)
    lastStartAtMs = System.currentTimeMillis()
    val (id, ms) = timed(super.start(name, script0, batchMode, autoRestart,
      restoreCheckpoint))
    lastCallMs = ms
    lastStartMs = ms
    if (trace.enabled) trace.sample("sqlgate.run_ms",
      math.max(0.0, ms - trace.medianOf("sqlgate.validate_ms")))
    id
  }

  override def stop(id: String, withSavepoint: Boolean): Option[String] = {
    val (sp, ms) = timed {
      if (trace.enabled && withSavepoint) {
        // stop the queries first so the verb's remainder is the snapshot
        val (_, qms) = timed(info(id).queries.foreach(_.stop()))
        val (sp, sms) = timed(super.stop(id, withSavepoint))
        trace.sample("streaming.query_stop_ms", qms)
        trace.sample("streaming.snapshot_ms", sms)
        sp
      } else super.stop(id, withSavepoint)
    }
    lastCallMs = ms
    if (trace.enabled) sp.foreach(trace.savepointSize)
    sp
  }

  override def savepoint(id: String): String = {
    val (sp, ms) = timed(super.savepoint(id))
    lastCallMs = ms
    if (trace.enabled) {
      trace.sample("streaming.snapshot_ms", ms)
      trace.savepointSize(sp)
    }
    sp
  }

  override def restartFromSavepoint(id: String, savepoint: Option[String]): String = {
    val (newId, ms) = timed(super.restartFromSavepoint(id, savepoint))
    // the nested start() recorded its own time; the rest is the copy
    if (trace.enabled) trace.sample("streaming.restore_ms", math.max(0.0, ms - lastCallMs))
    lastCallMs = ms
    newId
  }
}

/** Registry wrapper that counts the rows the platform writes and reads. */
final class CountingRegistry(inner: JobRegistry, trace: Trace) extends JobRegistry {
  override def save(st: JobManager.JobState): Unit = {
    trace.add("platform.registry_rows", 1); inner.save(st)
  }
  override def delete(id: String): Unit = {
    trace.add("platform.registry_rows", 1); inner.delete(id)
  }
  override def loadAll(): Seq[JobManager.JobState] = {
    val r = inner.loadAll(); trace.add("platform.registry_rows", r.size.toDouble); r
  }
  override def logRun(jobId: String, event: String, detail: String): Unit = {
    trace.add("platform.registry_rows", 1); inner.logRun(jobId, event, detail)
  }
  override def runLog(jobId: String): Seq[(String, String)] = {
    val r = inner.runLog(jobId); trace.add("platform.registry_rows", r.size.toDouble); r
  }
}
