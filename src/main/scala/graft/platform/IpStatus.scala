package graft.platform

import java.sql.Connection

/** Multi-instance HA heartbeat + leader election over a shared registry
  * database — the reference's `ip_status` table
  * (`docs/sql/flink_web.sql:32-44`) with the election rule of
  * `IpStatusServiceImpl.java:66-90` + `IpStatusMapper.xml` `selectLastIp`:
  *
  *  - every web instance upserts its own row (`status=1`,
  *    `last_time=now`) once a minute (`SchedulerTask.checkHeartbeat`,
  *    `SchedulerTask.java:47-56`);
  *  - the LEADER is the live row — `status=1`, not deleted, heartbeat
  *    within the TTL (the reference's
  *    `last_time >= DATE_ADD(NOW(), INTERVAL -61 SECOND)`) — with the
  *    HIGHEST id, i.e. the most recently *registered* live instance;
  *  - leader-only scheduler passes (reconciliation, auto-savepoint) check
  *    `isLeader` before doing any work (`SchedulerTask.java:67-128`), so
  *    N web instances share one database but exactly one drives the
  *    cluster-mutating schedules;
  *  - clean shutdown writes `status=-1` (`cancelIp`), dropping the
  *    instance out of the election immediately instead of after the TTL.
  *
  * `last_time` is stored as epoch millis stamped from the SHARED
  * DATABASE clock (like the reference's `NOW()`), so cross-host clock
  * skew between instances cannot elect two leaders at once — every
  * writer and every reader measures time on the one clock they all
  * share. A spec-injected `clock` overrides it for deterministic
  * heartbeat aging without sleeping. Election reads are a single
  * indexed point-query; nothing here scales with job count or data
  * volume.
  */
final class IpStatusService(url: String, val instanceIp: String,
    ttlMs: Long = 61000L,
    clock: () => Long = null) {

  require(instanceIp.nonEmpty, "instanceIp required")

  private val db = new Jdbc(url, null, null)
  private val mysql = db.mysql

  // the shared registry database's clock (unless a spec injected one):
  // comparing a writer-local stamp against a reader-local clock would
  // split-brain on skew > TTL
  private def nowOn(c: Connection): Long =
    if (clock != null) clock()
    else Jdbc.select(c, IpStatusSql.nowQuery(mysql))(rs =>
      if (mysql) rs.getLong(1) else rs.getTimestamp(1).getTime).head

  db.ensureTable(IpStatusSql.createTableDdl(mysql))

  /** Upsert this instance's row live (`registerIp`,
    * `IpStatusServiceImpl.java:32-50`). Re-registering after a `cancel`
    * flips the existing row back to live — the id (and so election
    * precedence) is assigned once, at first registration.
    */
  def register(): Unit = db { c =>
    val now = nowOn(c)
    val touch = "UPDATE ip_status SET status = 1, last_time = ?, " +
      "is_deleted = 0 WHERE ip = ?"
    if (Jdbc.execute(c, touch, now, instanceIp) == 0)
      try Jdbc.execute(c, "INSERT INTO ip_status (ip, status, last_time, " +
        "is_deleted) VALUES (?, 1, ?, 0)", instanceIp, now)
      catch {
        // two instances racing the first insert of the same ip: the
        // unique key wins the race for one; the loser just updates
        case _: java.sql.SQLIntegrityConstraintViolationException =>
          Jdbc.execute(c, touch, now, instanceIp)
      }
    ()
  }

  /** Refresh `last_time` (`updateHeartbeatBylocalIp` — the reference
    * delegates straight to `registerIp`, and so does this).
    */
  def heartbeat(): Unit = register()

  /** Mark this instance stopped (`cancelIp`): `status=-1`, out of the
    * election immediately.
    */
  def cancel(): Unit =
    db.update("UPDATE ip_status SET status = -1 WHERE ip = ?", instanceIp)

  /** The reference's `selectLastIp`: the live row with the highest id,
    * or None when every instance is stopped or stale. By construction
    * the last element of [[liveInstances]] (one portable query — no
    * `FETCH FIRST`/`LIMIT` dialect split, and callers wanting both get
    * one consistent snapshot).
    */
  def currentLeader(): Option[String] = liveInstances().lastOption

  /** Am I the instance that should run leader-only schedules right now?
    * False when no live leader exists (matches the reference returning
    * false on a null `selectLastIp` — better to skip a reconcile tick
    * than to run it twice).
    */
  def isLeader(): Boolean = currentLeader().contains(instanceIp)

  /** All live instances (freshest heartbeat within TTL) in election
    * order — id ascending, so the LAST element is the leader. For ops
    * introspection — the reference's web UI lists `ip_status` rows.
    */
  def liveInstances(): Seq[String] = db { c =>
    Jdbc.select(c, "SELECT ip FROM ip_status WHERE is_deleted = 0 AND " +
      "status = 1 AND last_time >= ? ORDER BY id", nowOn(c) - ttlMs)(
      _.getString(1))
  }
}

/** The dialect-selected SQL texts of [[IpStatusService]], extracted so a
  * spec can pin BOTH dialects' exact spellings without a live MySQL —
  * the untested-MySQL-branch lesson: the round-10 HA bug sat in a
  * dialect branch the sandbox never executes.
  */
object IpStatusSql {

  /** The shared clock read, as a time-zone-free epoch.
    *
    * MySQL: `UNIX_TIMESTAMP(NOW(3))` is defined as seconds since the
    * epoch regardless of the connection/server time zone, so reading it
    * (×1000, rounded) as a BIGINT gives every instance the same epoch
    * no matter what JVM or connection zone it connects with. Reading
    * `CURRENT_TIMESTAMP(3)` via `getTimestamp` instead would map the
    * zoneless DATETIME through the CLIENT's effective zone — instances
    * in different zones would derive epochs hours apart from the same
    * shared clock, reintroducing the split-brain this class eliminates.
    *
    * Derby: no epoch function exists; `getTimestamp` converts through
    * the client JVM's zone. That is self-consistent under the supported
    * deployment — embedded Derby lives IN the client JVM (single-process
    * dev/test), so writer and reader share one zone by construction.
    * Client-server Derby across hosts in different zones is NOT
    * supported for HA election; use the MySQL path there.
    */
  def nowQuery(mysql: Boolean): String =
    if (mysql) "SELECT ROUND(UNIX_TIMESTAMP(NOW(3)) * 1000)"
    else "VALUES CURRENT_TIMESTAMP"

  /** The clause that makes a BIGINT key column database-numbered. */
  def identity(mysql: Boolean): String =
    if (mysql) "AUTO_INCREMENT" else "GENERATED ALWAYS AS IDENTITY"

  def createTableDdl(mysql: Boolean): String =
    s"""CREATE TABLE ip_status (
      |  id BIGINT ${identity(mysql)} PRIMARY KEY,
      |  ip VARCHAR(64) NOT NULL UNIQUE,
      |  status INT NOT NULL,
      |  last_time BIGINT,
      |  is_deleted INT NOT NULL)""".stripMargin

  /** Derby X0Y32 / MySQL error 1050: table already exists. MySQL parses
    * before checking existence, so a syntax error (1064) would mean the
    * dialect DDL above is wrong — it must propagate, not be swallowed.
    */
  def isTableExists(e: java.sql.SQLException, mysql: Boolean): Boolean =
    if (mysql) e.getErrorCode == 1050 else e.getSQLState == "X0Y32"
}
