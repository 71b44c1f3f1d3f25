package graft.platform

import graft.SparkSpec
import java.nio.file.Files
import java.sql.DriverManager

/** Chaos composition of a statement set (one query per INSERT, each
  * under its own checkpoint — StatementSetSpec proves exactly-once
  * resume) and multi-instance HA over a shared durable registry +
  * ip_status election (JobManagerSpec proves leader failover). One of
  * the set's queries crashes MID-batch (its sink wedged on a row lock
  * after a prefix of the batch was applied), which fails the job and
  * stops its sibling; the owning manager instance goes away, a standby
  * manager takes leadership, recovers the job from the shared registry,
  * and resumes it from the job's own checkpoints — both sinks must
  * converge exactly-once, with the replayed delivery absorbed by the
  * keyed upsert.
  */
class StatementSetFailoverSpec extends SparkSpec {
  import spark.implicits._

  private def await(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < end) {
      if (cond) return true
      Thread.sleep(100)
    }
    cond
  }

  test("chaos: a statement set's query crashes mid-batch; standby " +
    "manager takes leadership and resumes both sinks exactly-once") {
    val curl = "jdbc:derby:memory:ffdb;create=true"
    val conn = DriverManager.getConnection(curl)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE ff_a (k INT PRIMARY KEY, v INT)")
      st.execute("CREATE TABLE ff_b (k INT PRIMARY KEY, v INT)")
      // audit trail on the sink whose batch is partly applied, then
      // replayed: extra rows beyond a clean run prove the batch was
      // delivered twice and absorbed idempotently (the keyed sink
      // itself hides the replay)
      st.execute("CREATE TABLE ff_audit (k INT, v INT)")
      st.execute("CREATE TRIGGER ff_tr_ins AFTER INSERT ON ff_b " +
        "REFERENCING NEW AS n FOR EACH ROW " +
        "INSERT INTO ff_audit VALUES (n.k, n.v)")
      st.execute("CREATE TRIGGER ff_tr_upd AFTER UPDATE ON ff_b " +
        "REFERENCING NEW AS n FOR EACH ROW " +
        "INSERT INTO ff_audit VALUES (n.k, n.v)")
      // wedged writers die after 2s instead of Derby's default 60s
      st.execute("CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY(" +
        "'derby.locks.waitTimeout', '2')")
    } finally conn.close()

    val regUrl = "jdbc:derby:memory:ffreg;create=true"
    val ipUrl = "jdbc:derby:memory:ffip;create=true"
    val srcDir = Files.createTempDirectory("ff_src").toString
    // continuous trigger: the queries must be mid-flight when the wedge
    // lands, not drained-and-stopped by AvailableNow
    val script =
      s"""SET table.exec.mini-batch.allow-latency = 200 ms;
         |CREATE TABLE ff_src (k INT, v INT) WITH (
         |  'connector' = 'filesystem', 'path' = '$srcDir',
         |  'format' = 'parquet');
         |CREATE TABLE ff_a (k INT, v INT,
         |  PRIMARY KEY (k) NOT ENFORCED) WITH (
         |  'connector' = 'jdbc', 'url' = '$curl',
         |  'table-name' = 'ff_a', 'dialect' = 'two-step');
         |CREATE TABLE ff_b (k INT, v INT,
         |  PRIMARY KEY (k) NOT ENFORCED) WITH (
         |  'connector' = 'jdbc', 'url' = '$curl',
         |  'table-name' = 'ff_b', 'dialect' = 'two-step');
         |BEGIN STATEMENT SET;
         |INSERT INTO ff_a SELECT k, v FROM ff_src;
         |INSERT INTO ff_b SELECT k, v FROM ff_src;
         |END;
         |""".stripMargin

    def snapshot(table: String): List[(Int, Int)] = {
      val c = DriverManager.getConnection(curl)
      try {
        val rs = c.createStatement().executeQuery(
          s"SELECT k, v FROM $table ORDER BY k")
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => (r.getInt(1), r.getInt(2))).toList
      } finally c.close()
    }

    // instance A: leader, owns the job
    val mA = new JobManager(spark,
      Files.createTempDirectory("ff_ckpt_a").toString,
      Files.createTempDirectory("ff_sp_a").toString,
      registry = Some(new JdbcJobRegistry(regUrl)))
    val ipA = new IpStatusService(ipUrl, "10.2.0.1")
    val schedA = mA.startScheduler(reconcileIntervalMs = 3600000,
      savepointIntervalMs = 3600000, ha = Some(ipA))
    assert(ipA.isLeader())

    // batch 1 flows through the set's two queries into both sinks
    (0 to 9).map(k => (k, 1)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val id = mA.start("ff_job", script)
    assert(mA.info(id).queries.size == 2,
      "statement set should run one query per INSERT")
    assert(await(60000) {
      snapshot("ff_a").size == 10 && snapshot("ff_b").size == 10
    }, "batch 1 never landed in both sinks")

    // wedge ff_b's key 7 (the locker's own audit row rolls back with
    // it): ff_a's query writes batch 2 fully, ff_b's blocks and dies on
    // the lock timeout, which fails the job and stops ff_a's query
    val batch2 =
      (0 to 4).map((_, 1)).toList ++ (5 to 14).map((_, 2)).toList
    val locker = DriverManager.getConnection(curl)
    locker.setAutoCommit(false)
    locker.createStatement().executeUpdate(
      "UPDATE ff_b SET v = v WHERE k = 7")
    try {
      (5 to 14).map(k => (k, 2)).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(srcDir)
      assert(await(60000) { snapshot("ff_a") == batch2 },
        s"ff_a should hold batch 2: ${snapshot("ff_a")}")
      assert(await(60000) { mA.status(id) == JobManager.Failed },
        s"job should have FAILED mid-batch, is ${mA.status(id)}")
    } finally { locker.rollback(); locker.close() }
    // partial-batch evidence: ff_b holds only the row-level prefix its
    // writer applied before blocking on key 7 (the two-step upserter
    // commits row-by-row, exactly like the JdbcRoundTripSpec chaos
    // case) — a crash strictly inside the batch
    val bMid = snapshot("ff_b")
    assert(bMid.contains((7, 1)) && bMid.size == 10,
      s"ff_b's key 7 should be untouched and 10..14 absent: $bMid")

    // instance A goes away (its ip_status row drops out of the
    // election); a STANDBY manager adopts the shared registry, becomes
    // leader, sees the job FAILED with its checkpoint pointer intact,
    // and restarts it from that checkpoint
    schedA.close()
    val mB = new JobManager(spark,
      Files.createTempDirectory("ff_ckpt_b").toString,
      Files.createTempDirectory("ff_sp_b").toString,
      registry = Some(new JdbcJobRegistry(regUrl)))
    val ipB = new IpStatusService(ipUrl, "10.2.0.2")
    val schedB = mB.startScheduler(reconcileIntervalMs = 3600000,
      savepointIntervalMs = 3600000, ha = Some(ipB))
    try {
      assert(ipB.isLeader(), "standby should lead after A dropped out")
      val rec = mB.list().find(_.id == id).getOrElse(
        fail("standby did not recover the job from the registry"))
      assert(rec.status == JobManager.Failed)
      assert(rec.checkpointDir.nonEmpty)
      mB.startConfig(id)
      // ff_b's uncommitted batch 2 replays from its offset log: the
      // keyed upsert absorbs the prefix it already applied, and ff_a's
      // query resumes after its committed batch — exactly-once
      // convergence
      assert(await(60000) {
        snapshot("ff_a") == batch2 && snapshot("ff_b") == batch2
      }, s"sinks did not converge: a=${snapshot("ff_a")} " +
        s"b=${snapshot("ff_b")}")
      // replay evidence on ff_b: a clean run writes 10 + 10 audit rows
      // (batch-1 inserts, batch-2 upserts); the pre-crash prefix of
      // batch 2 pushes the total beyond that
      val c = DriverManager.getConnection(curl)
      val audit = try {
        val rs = c.createStatement().executeQuery(
          "SELECT COUNT(*) FROM ff_audit")
        rs.next(); rs.getInt(1)
      } finally c.close()
      assert(audit > 20,
        s"no overlapping delivery observed (audit=$audit); the chaos " +
          "case did not exercise replay")
      mB.stop(id, withSavepoint = false)
      ()
    } finally schedB.close()
  }
}
