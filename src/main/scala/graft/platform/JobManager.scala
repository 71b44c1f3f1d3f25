package graft.platform

import graft.sqlgate.{ScriptRunner, SqlValidator}
import graft.streaming.{Savepoints, StateStores}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.concurrent.TrieMap

/** In-process job-control plane — the §2.4 platform verbs
  * (`/api/start|stop|savepoint|restart`, dup-run guard, optimistic-lock
  * status transitions, `${var}` substitution, monitor → auto-restart)
  * restated without the shell-out/stdout-scrape machinery: queries run in
  * this SparkSession and `StreamingQuery.id` replaces the JobID scrape
  * (`CommandRpcClinetAdapterImpl.java:148-161`); a StreamingQueryListener
  * replaces REST polling (`SchedulerTask.java:47-128`).
  *
  * Every start — ad hoc ([[start]], which restores and auto-restarts
  * also go through), or by config id ([[startConfig]]) — passes the
  * same guard (dup-run, validation) and the same launch (run, then
  * RUNNING, STOPPED or FAILED); manual and scheduled savepoints share
  * one record step. Lifecycle mutations hold one lock; each state
  * change bumps the job's optimistic-lock `version` and writes through
  * to the [[JobRegistry]], when one is given.
  */
class JobManager(spark: SparkSession, checkpointRoot: String,
    savepointRoot: String, vars: Map[String, String] = Map.empty,
    registry: Option[JobRegistry] = None) {

  import JobManager._

  private val jobs = TrieMap[String, JobState]()

  // Recovery (the reference's restart-survival via MySQL): adopt every
  // persisted job. A job that was RUNNING/STARTING when the previous
  // process died has no surviving queries — mark it FAILED (honest
  // status; its checkpoint/savepoint pointers stay intact so
  // restartFromSavepoint can resume it).
  registry.foreach { reg =>
    reg.loadAll().foreach { st =>
      val adopted =
        if (isActive(st)) st.copy(status = Failed, version = st.version + 1)
        else st
      jobs(adopted.id) = adopted
      if (adopted ne st) {
        reg.save(adopted)
        reg.logRun(adopted.id, "RECOVERED_AS_FAILED",
          "process restart found job marked active with no live queries")
      }
    }
  }
  private val queryToJob = TrieMap[java.util.UUID, String]()
  // the runner of each RUNNING job, holding its snapshot lookup dims
  private[platform] val runners = TrieMap[String, ScriptRunner]()
  // alarm fan-out (DingDing/HTTP callbacks of the reference's
  // web-alarm module → pluggable handlers here)
  private val alarmHandlers =
    scala.collection.mutable.Buffer[AlarmEvent => Unit]()

  def addAlarmHandler(h: AlarmEvent => Unit): Unit =
    alarmHandlers.synchronized { alarmHandlers += h }

  private def fireAlarm(e: AlarmEvent): Unit =
    alarmHandlers.synchronized { alarmHandlers.toSeq }.foreach { h =>
      try h(e) catch { case _: Throwable => () } // alarm failure ≠ job failure
    }

  // monitor: mark FAILED + optional auto-restart (AUTO_START_JOB policy,
  // TaskServiceAOImpl.java:208-295)
  spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
    override def onQueryStarted(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
      queryToJob.get(e.id).foreach { jobId =>
        if (e.exception.isDefined) onJobFailure(jobId, e.exception.get)
      }
  })

  /** `${var}` substitution (JobBaseServiceAOImpl.java:420-461). */
  private[platform] def substitute(script: String): String =
    vars.foldLeft(script) { case (s, (k, v)) => s.replace("${" + k + "}", v) }

  // serializes all lifecycle mutations (start/stop/fail/restart); the
  // per-state `version` remains the externally visible optimistic-lock
  // counter, but mutual exclusion comes from this lock — a bare
  // read-check-write on the map would let a user stop() race the
  // listener's failure handling.
  private val lifecycleLock = new Object
  private val restartCounter = new java.util.concurrent.atomic.AtomicLong

  /** /api/start: dup-run guard → validate → optimistic-lock transition
    * → run. Returns the job id.
    */
  def start(name: String, script0: String, batchMode: Boolean = false,
      autoRestart: Boolean = false,
      restoreCheckpoint: Option[String] = None): String = {
    val script = substitute(script0)
    launch(batchMode) {
      admit(name, script)
      val id = java.util.UUID.randomUUID().toString.take(8)
      put(JobState(id, name, script, Starting, version = 1,
        checkpointDir = restoreCheckpoint.getOrElse(s"$checkpointRoot/$id"),
        queries = Nil, autoRestart = autoRestart))
    }
  }

  /** /api/start with a config id: run an existing enabled config (the
    * reference starts jobs by config id; the dup-run guard and validator
    * apply exactly as for ad-hoc starts).
    */
  def startConfig(id: String, batchMode: Boolean = false): Unit =
    launch(batchMode) {
      val st = job(id)
      require(st.enabled, s"job $id is closed; open it before start")
      admit(st.name, st.script)
      transition(id, st.status, Starting)(identity)
      jobs(id)
    }

  /** The start guard both entry points apply under the lock: no other
    * job of this name is active (incl. STARTING,
    * JobStandaloneServerAOImpl.java:58-64), and the script validates.
    */
  private def admit(name: String, script: String): Unit = {
    requireIdle(name)
    val verdict = SqlValidator.validate(spark, script)
    if (!verdict.ok)
      throw new IllegalArgumentException(
        s"validation failed: ${verdict.errors.mkString("; ")}")
  }

  private def requireIdle(name: String): Unit =
    if (jobs.values.exists(j => j.name == name && isActive(j)))
      throw new IllegalStateException(s"job '$name' is already active")

  /** The one launch: `enter` (under the lock) admits the job and puts it
    * in STARTING; its script then runs outside the lock, and the job
    * ends RUNNING, STOPPED (a purely batch script has finished by now —
    * a terminal state, not a phantom RUNNING that blocks tomorrow's run
    * of this name) or, when the run throws, FAILED.
    */
  private def launch(batchMode: Boolean)(enter: => JobState): String = {
    val (st, runner) = lifecycleLock.synchronized {
      val st = enter
      registry.foreach(_.logRun(st.id, "START", st.name))
      (st, new ScriptRunner(spark, Some(st.checkpointDir), batchMode))
    }
    try {
      val res = runner.run(st.script)
      lifecycleLock.synchronized {
        res.queries.foreach(q => queryToJob(q.id) = st.id)
        if (res.queries.isEmpty) {
          runner.releaseSnapshotDims()
          transition(st.id, Starting, Stopped)(identity)
        } else {
          runners(st.id) = runner
          transition(st.id, Starting, Running)(_.copy(queries = res.queries))
        }
      }
      st.id
    } catch {
      case e: Throwable =>
        lifecycleLock.synchronized {
          runner.releaseSnapshotDims()
          transition(st.id, Starting, Failed)(identity)
        }
        throw e
    }
  }

  /** /api/stop (+ savepoint first if requested, §3.3). The job ends
    * STOPPED even when the savepoint fails — its queries are gone by
    * then — keeping its previous savepoint; the verb then rethrows the
    * snapshot's error.
    */
  def stop(id: String, withSavepoint: Boolean = true): Option[String] =
    lifecycleLock.synchronized {
      val st = job(id)
      require(st.status == Running, s"job $id is ${st.status}, not RUNNING")
      stopQueries(st)
      val sp = scala.util.Try(
        if (withSavepoint && hasCheckpoint(st)) Some(snapshot(st)) else None)
      val taken = sp.toOption.flatten
      transition(id, Running, Stopped)(s =>
        s.copy(lastSavepoint = taken.orElse(s.lastSavepoint)))
      registry.foreach(_.logRun(id, "STOP", taken.getOrElse("")))
      sp.get
    }

  /** The one stop path of every verb: stop the job's queries, free their
    * state-store providers ([[StateStores.stop]]) and forget the ones
    * that stopped; once all stopped, release the run's snapshot lookup
    * dims; then rethrow the first stop error. A query whose stop threw
    * stays mapped, so a failure of its still-running thread reaches
    * [[onJobFailure]]. The checkpoint is not touched, so a savepoint
    * copied after it holds the same files as one copied without the
    * release.
    */
  private def stopQueries(st: JobState): Unit = {
    val failed = StateStores.stop(st.queries)
    val stuck = failed.map(_._1).toSet
    st.queries.filterNot(stuck).foreach(q => queryToJob.remove(q.id))
    if (failed.isEmpty) runners.remove(st.id).foreach(_.releaseSnapshotDims())
    failed.headOption.foreach { case (_, e) => throw e }
  }

  /** /api/savepoint: snapshot a RUNNING job's live checkpoint on demand
    * (the manual counterpart of the scheduler's [[autoSavepoint]] pass —
    * `JobConfigApiController.java:159-171`). Returns the savepoint path.
    */
  def savepoint(id: String): String = {
    val st = lifecycleLock.synchronized {
      val st = job(id)
      require(st.status == Running, s"job $id is ${st.status}, not RUNNING")
      require(hasCheckpoint(st),
        s"job $id has no checkpoint data yet; retry after the first batch")
      st
    }
    savepointRunning(st, "SAVEPOINT")
  }

  /** Snapshot a running job's live checkpoint OUTSIDE the lock (copying
    * can take a while and must not block unrelated lifecycle verbs),
    * then record it as the job's restore point if the job is still
    * RUNNING, and log it under `event`. Returns the savepoint path.
    */
  private def savepointRunning(st: JobState, event: String): String = {
    val sp = snapshot(st)
    lifecycleLock.synchronized {
      jobs.get(st.id).filter(_.status == Running).foreach { cur =>
        put(cur.copy(lastSavepoint = Some(sp), version = cur.version + 1))
      }
    }
    registry.foreach(_.logRun(st.id, event, sp))
    sp
  }

  private def snapshot(st: JobState): String =
    Savepoints.snapshot(st.checkpointDir, savepointRoot, st.name)

  private def hasCheckpoint(st: JobState): Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(st.checkpointDir))

  /** /api/addSavepoint: register an externally-created savepoint path as
    * the job's restore point (`SavepointApiController.java:41-60` lets
    * operators point a config at any savepoint on shared storage).
    */
  def addSavepoint(id: String, path: String): Unit =
    lifecycleLock.synchronized {
      val st = job(id)
      require(path.nonEmpty, "savepoint path required")
      put(st.copy(lastSavepoint = Some(path), version = st.version + 1))
      registry.foreach(_.logRun(id, "SAVEPOINT", path))
    }

  /** /api/querySavePointList10: the job's most recent savepoints, newest
    * first (`SavepointApiController.java:79-90`) — read from the
    * persisted run log (manual, stop-time, and auto-savepoints all log
    * their path).
    */
  def savepointList(id: String, limit: Int = 10): Seq[String] = {
    val st = job(id)
    registry match {
      case Some(r) => r.runLog(id).collect {
        case (ev, detail)
          if detail.nonEmpty &&
            (ev == "SAVEPOINT" || ev == "AUTO_SAVEPOINT" || ev == "STOP") =>
          detail
      }.reverse.take(limit)
      case None => st.lastSavepoint.toSeq
    }
  }

  /** /api/start with -s <savepoint> (restore). Each restore materializes
    * into a FRESH uniquely-numbered checkpoint dir — deriving it from the
    * stopped job's frozen version would let a second restore wipe the
    * live checkpoint of the first. A name that is already active is
    * refused before the copy; a copy whose start fails is deleted.
    */
  def restartFromSavepoint(id: String, savepoint: Option[String] = None): String = {
    val st = job(id)
    val sp = savepoint.orElse(st.lastSavepoint).getOrElse(
      throw new IllegalStateException(s"job $id has no savepoint"))
    lifecycleLock.synchronized(requireIdle(st.name))
    val newCkpt =
      s"$checkpointRoot/${st.id}-r${restartCounter.incrementAndGet()}"
    Savepoints.restore(sp, newCkpt)
    try start(st.name, st.script, autoRestart = st.autoRestart,
      restoreCheckpoint = Some(newCkpt))
    catch {
      case e: Throwable => Savepoints.discard(newCkpt); throw e
    }
  }

  /** Monitor hook: stop surviving queries, mark FAILED, fire alarms,
    * auto-restart FROM THE FAILED JOB'S CHECKPOINT if opted in (the
    * reference's monitor → alarm → AUTO_START_JOB recover semantics —
    * restarting with fresh state would re-read sources from scratch).
    */
  private[platform] def onJobFailure(id: String, reason: String): Unit = {
    val restart = lifecycleLock.synchronized {
      jobs.get(id) match {
        case Some(st) if st.status == Running =>
          // stop surviving sibling queries of a multi-query job — leaving
          // them running would double-write once the job restarts
          try stopQueries(st) catch { case _: Throwable => () }
          transition(id, Running, Failed)(identity)
          registry.foreach(_.logRun(id, "FAILED", reason))
          fireAlarm(AlarmEvent(id, st.name, "JOB_FAILED", reason))
          st.autoRestart
        case _ => false
      }
    }
    if (restart) jobs.get(id).foreach { st =>
      try {
        val newId = start(st.name, st.script, autoRestart = true,
          restoreCheckpoint = Some(st.checkpointDir))
        fireAlarm(AlarmEvent(newId, st.name, "AUTO_RESTARTED",
          s"restarted after: $reason"))
      } catch {
        case e: Throwable =>
          fireAlarm(AlarmEvent(id, st.name, "RESTART_FAILED",
            Option(e.getMessage).getOrElse("")))
      }
    }
  }

  private def job(id: String): JobState =
    jobs.getOrElse(id, throw new NoSuchElementException(s"unknown job $id"))

  private def isActive(st: JobState): Boolean =
    st.status == Running || st.status == Starting

  /** A job that `verb` may change: it exists and is not active. */
  private def inactiveJob(id: String, verb: String): JobState = {
    val st = job(id)
    require(!isActive(st), s"job $id is active; stop it before $verb")
    st
  }

  def status(id: String): Status = jobs(id).status
  def info(id: String): JobState = jobs(id)
  def list(): Seq[JobState] = jobs.values.toSeq.sortBy(_.name)

  // --- config-CRUD verbs (the rest of the §2.4 API surface:
  // /api/open|close|delete|addConfig|editConfig|copyConfig|
  // jobConfigHistory*, JobConfigApiController.java:89-415) ---------------

  /** /api/addConfig: register a job definition without starting it. */
  def addConfig(name: String, script: String,
      autoRestart: Boolean = false): String = lifecycleLock.synchronized {
    val id = java.util.UUID.randomUUID().toString.take(8)
    put(JobState(id, name, substitute(script), Stopped, version = 1,
      checkpointDir = s"$checkpointRoot/$id", autoRestart = autoRestart))
    registry.foreach(_.logRun(id, "ADD_CONFIG", name))
    id
  }

  /** /api/open: enable a closed config so it can be started. */
  def open(id: String): Unit = setEnabled(id, enabled = true)

  /** /api/close: disable a config; start() refuses it until reopened.
    * Like the reference, a RUNNING job must be stopped first.
    */
  def close(id: String): Unit = setEnabled(id, enabled = false)

  private def setEnabled(id: String, enabled: Boolean): Unit =
    lifecycleLock.synchronized {
      val st = inactiveJob(id, if (enabled) "open" else "close")
      put(st.copy(enabled = enabled, version = st.version + 1))
      registry.foreach(_.logRun(id, if (enabled) "OPEN" else "CLOSE", ""))
    }

  /** /api/delete: remove a non-active config from manager + registry. */
  def delete(id: String): Unit = lifecycleLock.synchronized {
    val st = inactiveJob(id, "delete")
    jobs.remove(id)
    registry.foreach { r => r.delete(id); r.logRun(id, "DELETE", st.name) }
  }

  /** /api/editConfig: replace the SQL of a non-active job (optimistic
    * version bump, like the reference's versioned config updates).
    */
  def editConfig(id: String, newScript: String): Unit =
    lifecycleLock.synchronized {
      val st = inactiveJob(id, "edit")
      put(st.copy(script = substitute(newScript), version = st.version + 1))
      registry.foreach(_.logRun(id, "EDIT_CONFIG", ""))
    }

  /** /api/copyConfig: duplicate a config under a new name (new id, fresh
    * checkpoint dir, no savepoint/run history carried over).
    */
  def copyConfig(id: String, newName: String): String =
    lifecycleLock.synchronized {
      val st = job(id)
      addConfig(newName, st.script, st.autoRestart)
    }

  /** /api/jobConfigHistoryPage|Detail: the persisted run log. */
  def history(id: String): Seq[(String, String)] =
    registry.map(_.runLog(id)).getOrElse(Nil)

  /** Status transition with version increment (the optimistic-lock
    * `updateStatusByStart ... WHERE version = ?` of
    * JobStandaloneServerAOImpl.java:72-78). Callers hold lifecycleLock.
    */
  private def transition(id: String, from: Status, to: Status)(
      f: JobState => JobState): Unit = {
    val cur = jobs(id)
    if (cur.status != from)
      throw new IllegalStateException(
        s"optimistic lock failure: job $id is ${cur.status}, expected $from")
    put(f(cur).copy(status = to, version = cur.version + 1))
  }

  /** Record a job's new state: the registry first, so a write another
    * manager's newer row refuses (see [[JdbcJobRegistry.save]]) leaves
    * this manager's view unchanged too. Returns the state.
    */
  private def put(st: JobState): JobState = {
    registry.foreach(_.save(st))
    jobs(st.id) = st
    st
  }

  /** Periodic reconciliation + auto-savepoint — the reference's
    * `SchedulerTask.java:47-128` (liveness poll every few minutes, hourly
    * checkpoint snapshot) as a daemon scheduler over this manager.
    * Returns a handle; close() stops the scheduler.
    *
    * With `ha` set, the scheduler runs the reference's multi-instance
    * protocol: register at start, heartbeat every `heartbeatIntervalMs`
    * on EVERY instance (`SchedulerTask.checkHeartbeat`), but gate the
    * cluster-mutating passes (reconcile, auto-savepoint) on
    * `IpStatusService.isLeader` (`SchedulerTask.java:67-128`) so N
    * managers sharing one registry database never reconcile or
    * savepoint the same cluster twice. close() cancels the heartbeat
    * row, handing leadership over immediately.
    */
  def startScheduler(reconcileIntervalMs: Long,
      savepointIntervalMs: Long,
      ha: Option[IpStatusService] = None,
      heartbeatIntervalMs: Long = 60000L): AutoCloseable = {
    val exec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-job-scheduler"); t.setDaemon(true); t
      })
    def safely(f: () => Unit): Runnable = () =>
      try f() catch { case _: Throwable => () } // one bad tick ≠ dead schedule
    def asLeader(f: () => Unit): () => Unit =
      () => if (ha.forall(_.isLeader())) f()
    ha.foreach(s => safely(() => s.register()).run())
    // the heartbeat gets its OWN thread: on the shared scheduler a
    // long leader tick (a large auto-savepoint copy) would delay the
    // queued heartbeat past the TTL and cause spurious leadership loss
    // — dual scheduling, the exact failure the election prevents
    val hbExec = ha.map { s =>
      val e = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
        (r: Runnable) => {
          val t = new Thread(r, "graft-ha-heartbeat"); t.setDaemon(true); t
        })
      e.scheduleWithFixedDelay(safely(() => s.heartbeat()),
        heartbeatIntervalMs, heartbeatIntervalMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      e
    }
    exec.scheduleWithFixedDelay(safely(asLeader(() => reconcile())),
      reconcileIntervalMs, reconcileIntervalMs,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    exec.scheduleWithFixedDelay(safely(asLeader(() => autoSavepoint())),
      savepointIntervalMs, savepointIntervalMs,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    () => {
      exec.shutdownNow()
      hbExec.foreach(_.shutdownNow())
      // an in-flight heartbeat (uninterruptible JDBC) could re-stamp
      // the row AFTER cancel() writes status=-1, leaving a dead
      // instance elected for a full TTL — drain it first
      hbExec.foreach(_.awaitTermination(5,
        java.util.concurrent.TimeUnit.SECONDS))
      ha.foreach(s => try s.cancel() catch { case _: Throwable => () })
    }
  }

  /** One reconciliation pass: a job the registry says is RUNNING whose
    * queries are all inactive (terminated without an exception reaching
    * the listener — e.g. stopped behind the manager's back) is wedged;
    * flip it to STOPPED and raise an alarm, like the reference flipping
    * DB status when the cluster API no longer knows the job.
    */
  private[platform] def reconcile(): Unit = lifecycleLock.synchronized {
    jobs.values.filter(_.status == Running).foreach { st =>
      if (st.queries.nonEmpty && st.queries.forall(!_.isActive)) {
        stopQueries(st)
        transition(st.id, Running, Stopped)(identity)
        registry.foreach(_.logRun(st.id, "RECONCILED",
          "status RUNNING but no live queries"))
        fireAlarm(AlarmEvent(st.id, st.name, "RECONCILED",
          "queries inactive; status corrected to STOPPED"))
      }
    }
  }

  /** One auto-savepoint pass over RUNNING jobs. The snapshot copies a
    * LIVE checkpoint (the reference savepoints running jobs hourly);
    * a file vanishing mid-copy (state compaction) aborts this tick's
    * snapshot and the next tick retries.
    */
  private[platform] def autoSavepoint(): Unit = {
    val running = lifecycleLock.synchronized {
      jobs.values.filter(_.status == Running).toList
    }
    running.foreach { st =>
      try if (hasCheckpoint(st)) savepointRunning(st, "AUTO_SAVEPOINT")
      catch { case _: Throwable => () }
    }
  }
}

object JobManager {
  sealed trait Status
  case object Starting extends Status
  case object Running extends Status
  case object Stopped extends Status
  case object Failed extends Status

  final case class JobState(id: String, name: String, script: String,
      status: Status, version: Int, checkpointDir: String = "",
      queries: Seq[StreamingQuery] = Nil, autoRestart: Boolean = false,
      lastSavepoint: Option[String] = None, enabled: Boolean = true)

  final case class AlarmEvent(jobId: String, jobName: String,
      kind: String, detail: String)
}
