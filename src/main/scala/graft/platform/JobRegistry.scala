package graft.platform

/** Durable job registry — the reference persists every job definition and
  * lifecycle transition to MySQL (`docs/sql/flink_web.sql:50-77`
  * `job_config`, `:106-127` `job_run_log`) so the control plane survives
  * a restart; this is the same contract over any JDBC store (embedded
  * Derby in tests). JobManager writes through on every transition and
  * recovers the job list on construction.
  */
trait JobRegistry {
  /** Write the full row for a job: over the row at `st.version - 1`, or
    * inserted when the id has none. A row at another version throws
    * IllegalStateException (the optimistic lock).
    */
  def save(st: JobManager.JobState): Unit
  /** Remove a job's config row (run-log rows are kept, like the
    * reference's audit trail surviving config deletion).
    */
  def delete(id: String): Unit
  /** All persisted jobs, without live query handles. */
  def loadAll(): Seq[JobManager.JobState]
  /** Append-only run log (start/stop/fail/savepoint events). */
  def logRun(jobId: String, event: String, detail: String): Unit
  /** Run-log rows for a job, oldest first, as (event, detail). */
  def runLog(jobId: String): Seq[(String, String)]
}

/** JDBC implementation. Schema mirrors the reference's `job_config` +
  * `job_run_log` columns that matter to the engine (name, SQL, status,
  * optimistic-lock version, checkpoint/savepoint pointers, auto-restart
  * policy). Tables are created on first use through [[Jdbc]]. The run
  * log's order is an identity column the database numbers, so any
  * number of registries on one database append in one order.
  */
final class JdbcJobRegistry(url: String, user: String = "", pass: String = "")
    extends JobRegistry {

  private val db = new Jdbc(url, user, pass)

  db.ensureTable(
    """CREATE TABLE job_config (
      |  id VARCHAR(64) PRIMARY KEY,
      |  job_name VARCHAR(255),
      |  job_sql LONG VARCHAR,
      |  status VARCHAR(16),
      |  version INT,
      |  checkpoint_dir VARCHAR(1024),
      |  auto_restart SMALLINT,
      |  last_savepoint VARCHAR(1024),
      |  enabled SMALLINT)""".stripMargin)
  db.ensureTable(
    s"""CREATE TABLE job_run_log (
      |  seq BIGINT ${IpStatusSql.identity(db.mysql)} PRIMARY KEY,
      |  job_id VARCHAR(64),
      |  event VARCHAR(64),
      |  detail LONG VARCHAR)""".stripMargin)

  /** Writes `st` over the row at `st.version - 1` (the optimistic lock's
    * `WHERE version = ?`); inserts only when the id has no row. A row at
    * any other version was written by another manager since this one
    * read it: the write is refused with an IllegalStateException naming
    * the id and both versions, and the row is left as it is.
    */
  override def save(st: JobManager.JobState): Unit = db { c =>
    val cols = Seq[Any](st.name, st.script, statusName(st.status), st.version,
      st.checkpointDir, if (st.autoRestart) 1 else 0, st.lastSavepoint.orNull,
      if (st.enabled) 1 else 0)
    val updated = Jdbc.execute(c,
      "UPDATE job_config SET job_name=?, job_sql=?, status=?, version=?, " +
        "checkpoint_dir=?, auto_restart=?, last_savepoint=?, enabled=? " +
        "WHERE id=? AND version=?", cols ++ Seq(st.id, st.version - 1): _*)
    if (updated == 0) {
      Jdbc.select(c, "SELECT version FROM job_config WHERE id = ?", st.id)(
        _.getInt(1)).headOption.foreach { found =>
        throw new IllegalStateException(
          s"optimistic lock failure: job ${st.id} is at version $found " +
            s"in the registry, expected ${st.version - 1}")
      }
      Jdbc.execute(c, "INSERT INTO job_config (job_name, job_sql, status, " +
        "version, checkpoint_dir, auto_restart, last_savepoint, enabled, id) " +
        "VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)", cols :+ st.id: _*)
    }
    ()
  }

  override def delete(id: String): Unit =
    db.update("DELETE FROM job_config WHERE id = ?", id)

  override def loadAll(): Seq[JobManager.JobState] =
    db.query("SELECT id, job_name, job_sql, status, version, checkpoint_dir, " +
      "auto_restart, last_savepoint, enabled FROM job_config") { r =>
      JobManager.JobState(
        id = r.getString(1), name = r.getString(2), script = r.getString(3),
        status = statusOf(r.getString(4)), version = r.getInt(5),
        checkpointDir = r.getString(6), queries = Nil,
        autoRestart = r.getInt(7) == 1,
        lastSavepoint = Option(r.getString(8)),
        enabled = r.getInt(9) == 1)
    }

  override def logRun(jobId: String, event: String, detail: String): Unit =
    db.update("INSERT INTO job_run_log (job_id, event, detail) VALUES (?, ?, ?)",
      jobId, event, detail)

  override def runLog(jobId: String): Seq[(String, String)] =
    db.query("SELECT event, detail FROM job_run_log WHERE job_id = ? ORDER BY seq",
      jobId)(r => (r.getString(1), r.getString(2)))

  private def statusName(s: JobManager.Status): String = s match {
    case JobManager.Starting => "STARTING"
    case JobManager.Running => "RUNNING"
    case JobManager.Stopped => "STOPPED"
    case JobManager.Failed => "FAILED"
  }

  private def statusOf(s: String): JobManager.Status = s match {
    case "STARTING" => JobManager.Starting
    case "RUNNING" => JobManager.Running
    case "STOPPED" => JobManager.Stopped
    case "FAILED" => JobManager.Failed
    case other => throw new IllegalArgumentException(s"bad status: $other")
  }
}
