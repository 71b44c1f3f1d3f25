package graft.platform

import graft.SparkSpec
import graft.streaming.StreamOps
import java.nio.file.Files

/** Platform verbs end-to-end: start (with validation + var substitution),
  * dup-run guard, stop-with-savepoint, restart-from-savepoint resuming
  * offsets, failure marking, optimistic-lock transitions.
  */
class JobManagerSpec extends SparkSpec {

  private def mgr(vars: Map[String, String] = Map.empty) = new JobManager(
    spark,
    Files.createTempDirectory("jm_ckpt").toString,
    Files.createTempDirectory("jm_sp").toString, vars)

  private def srcDir(): String =
    Files.createTempDirectory("jm_src").toString

  private def script(dir: String, sink: String) =
    s"""CREATE TABLE src (id BIGINT) WITH (
       |  'connector' = 'filesystem', 'path' = '$dir',
       |  'format' = 'parquet');
       |CREATE TABLE $sink (id BIGINT, PRIMARY KEY (id) NOT ENFORCED)
       |  WITH ('connector' = 'memory');
       |INSERT INTO $sink SELECT id FROM src;
       |""".stripMargin

  test("start → RUNNING → stop with savepoint → restart resumes offsets") {
    import spark.implicits._
    val dir = srcDir()
    val outDir = Files.createTempDirectory("jm_sink").toString
    // filesystem sink (memory sink does not support checkpoint recovery)
    val fsScript =
      s"""CREATE TABLE src (id BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir',
         |  'format' = 'parquet');
         |CREATE TABLE fs_snk (id BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$outDir',
         |  'format' = 'parquet');
         |INSERT INTO fs_snk SELECT id FROM src;
         |""".stripMargin
    spark.range(0, 4).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    val m = mgr()
    val id = m.start("job_a", fsScript)
    assert(m.status(id) == JobManager.Running)
    m.info(id).queries.foreach(_.awaitTermination(60000))
    assert(spark.read.parquet(outDir).as[Long].collect().sorted.toSeq ==
      (0L until 4L))
    val sp = m.stop(id)
    assert(sp.isDefined && m.status(id) == JobManager.Stopped)

    spark.range(4, 7).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    val id2 = m.restartFromSavepoint(id)
    m.info(id2).queries.foreach(_.awaitTermination(60000))
    assert(m.status(id2) == JobManager.Running)
    // exactly-once across the savepoint boundary: 0..6, no duplicates
    assert(spark.read.parquet(outDir).as[Long].collect().sorted.toSeq ==
      (0L until 7L))
    m.stop(id2, withSavepoint = false)
  }

  test("platform stop-with-savepoint → restore carries LIVE " +
    "MATCH_RECOGNIZE keyed state (the reference verb end-to-end on a " +
    "stateful gate job)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // StatefulRestoreSpec proves operator-level restore from the SAME
    // live checkpoint dir; this composes the PLATFORM path — gate SQL →
    // JobManager.start → stop-with-savepoint (checkpoint COPIED to the
    // savepoint registry) → restartFromSavepoint (savepoint copied to a
    // FRESH checkpoint) — with a complete (A,B) match pending in keyed
    // state at the stop.
    def writeRows(dir: String, rows: (Long, Long, Long)*): Unit =
      rows.toSeq.toDF("user_id", "ts_s", "v")
        .select(col("user_id"), timestamp_seconds(col("ts_s")).as("ts"),
          col("v"))
        .coalesce(1).write.mode("append").parquet(dir)
    val sinkDirs = scala.collection.mutable.Map[String, String]()
    def mrScript(dir: String, sink: String) = {
      val out = sinkDirs.getOrElseUpdate(sink,
        Files.createTempDirectory(s"jm_$sink").toString)
      s"""CREATE TABLE mr_src (user_id BIGINT, ts TIMESTAMP, v BIGINT,
         |  WATERMARK FOR ts AS ts - INTERVAL '1' SECOND
         |) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir',
         |  'format' = 'parquet');
         |CREATE TABLE $sink (user_id BIGINT, a_v BIGINT, b_v BIGINT)
         |  WITH ('connector' = 'filesystem', 'path' = '$out',
         |    'format' = 'parquet');
         |INSERT INTO $sink
         |SELECT user_id, a_v, b_v FROM mr_src MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts
         |  MEASURES A.v AS a_v, B.v AS b_v
         |  ONE ROW PER MATCH
         |  AFTER MATCH SKIP PAST LAST ROW
         |  PATTERN (A B) WITHIN INTERVAL '10' SECOND
         |  DEFINE A AS A.v = 1, B AS B.v = 2
         |);""".stripMargin
    }
    // phase 1 leaves u1's complete (A@1s, B@2s) match PENDING: its
    // WITHIN horizon (11s) is past the phase-1 watermark (5s − 1s);
    // phase 2 pushes the watermark past every horizon
    val phase1 = Seq((1L, 1L, 1L), (1L, 2L, 2L), (2L, 5L, 7L))
    val phase2 = Seq((1L, 30L, 1L), (1L, 31L, 2L), (2L, 60L, 7L))
    def readOut(sink: String) =
      spark.read.parquet(sinkDirs(sink))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_.toString).toSeq

    // uninterrupted baseline
    val fullSrc = srcDir()
    writeRows(fullSrc, (phase1 ++ phase2): _*)
    val m = mgr()
    val idF = m.start("mr_full", mrScript(fullSrc, "mrf_out"))
    m.info(idF).queries.foreach(_.awaitTermination(120000))
    m.stop(idF, withSavepoint = false)
    val expected = readOut("mrf_out")
    assert(expected == Seq((1L, 1L, 2L), (1L, 1L, 2L)),
      s"baseline: $expected")

    // interrupted run through the platform verbs
    val src = srcDir()
    writeRows(src, phase1: _*)
    val id1 = m.start("mr_kill", mrScript(src, "mrk_out"))
    m.info(id1).queries.foreach(_.awaitTermination(120000))
    val sp = m.stop(id1)
    assert(sp.isDefined, "stop must produce a savepoint")
    // the pending match must NOT have been emitted before the stop
    val premature = try readOut("mrk_out") catch {
      case _: org.apache.spark.sql.AnalysisException => Seq.empty
    }
    assert(premature.isEmpty,
      s"phase 1 must leave the match pending in state: $premature")
    // the savepoint carries the keyed state, not just source offsets
    import scala.jdk.CollectionConverters._
    val spFiles = Files.walk(java.nio.file.Paths.get(sp.get))
      .iterator().asScala.filter(Files.isRegularFile(_)).toVector
    assert(spFiles.exists(_.toString.contains("/state/")),
      s"savepoint has no state store files: ${sp.get}")

    writeRows(src, phase2: _*)
    val id2 = m.restartFromSavepoint(id1)
    m.info(id2).queries.foreach(_.awaitTermination(120000))
    m.stop(id2, withSavepoint = false)
    assert(readOut("mrk_out") == expected,
      s"restore diverged: got=${readOut("mrk_out")} expected=$expected")
  }

  test("platform stop-with-savepoint → restore carries a statement " +
    "set's AGGREGATE state (three queries, three sinks, ONE savepoint; " +
    "deleted source files make lost state unfakeable)") {
    import spark.implicits._
    // StatementSetFailoverSpec proves exactly-once resume of a statement
    // set from its checkpoints; this composes the PLATFORM verb on a
    // multi-INSERT job: two stateless inserts and an aggregate, one
    // query each, the aggregate's keyed state in Spark's state store
    // under its own checkpoint. stop-with-savepoint must capture every
    // query's source offsets AND the aggregate state in one savepoint
    // copy. The discriminator: phase-1 source files are DELETED after the stop,
    // so a restore that lost the aggregate state converges to the
    // wrong sums (2, phase-2 alone) while a correct restore reaches
    // the uninterrupted run's 3 — re-reading from scratch cannot fake
    // it.
    val curl = "jdbc:derby:memory:jmaggdb;create=true"
    val conn = java.sql.DriverManager.getConnection(curl)
    try conn.createStatement().execute(
      "CREATE TABLE agg_sums (k INT PRIMARY KEY, s BIGINT)")
    finally conn.close()
    val src = srcDir()
    val outA = Files.createTempDirectory("jm_fa").toString
    val outB = Files.createTempDirectory("jm_fb").toString
    val setScript =
      s"""CREATE TABLE fsrc (k INT, v INT) WITH (
         |  'connector' = 'filesystem', 'path' = '$src',
         |  'format' = 'parquet');
         |CREATE TABLE pass_a (k INT, v INT) WITH (
         |  'connector' = 'filesystem', 'path' = '$outA',
         |  'format' = 'parquet');
         |CREATE TABLE pass_b (k INT, v INT) WITH (
         |  'connector' = 'filesystem', 'path' = '$outB',
         |  'format' = 'parquet');
         |CREATE TABLE agg_snk (k INT, s BIGINT,
         |  PRIMARY KEY (k) NOT ENFORCED) WITH (
         |  'connector' = 'jdbc', 'url' = '$curl',
         |  'table-name' = 'agg_sums', 'dialect' = 'two-step');
         |BEGIN STATEMENT SET;
         |INSERT INTO pass_a SELECT k, v FROM fsrc WHERE k % 2 = 0;
         |INSERT INTO pass_b SELECT k, v FROM fsrc WHERE k % 2 = 1;
         |INSERT INTO agg_snk SELECT k, SUM(v) AS s FROM fsrc GROUP BY k;
         |END;
         |""".stripMargin
    def sums(): Map[Int, Long] = {
      val c = java.sql.DriverManager.getConnection(curl)
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT k, s FROM agg_sums")
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => r.getInt(1) -> r.getLong(2)).toMap
      } finally c.close()
    }
    def passRows(dir: String): Seq[(Int, Int)] =
      spark.read.parquet(dir).collect()
        .map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq

    val m = mgr()
    (0 to 3).map(k => (k, 1)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(src)
    val id1 = m.start("set_agg_job", setScript)
    assert(m.info(id1).queries.size == 3,
      s"statement set should run one query per INSERT, " +
        s"got ${m.info(id1).queries.size} queries")
    m.info(id1).queries.foreach(_.awaitTermination(120000))
    assert(sums() == Map(0 -> 1L, 1 -> 1L, 2 -> 1L, 3 -> 1L))

    // stop-with-savepoint: ONE savepoint covering all three queries —
    // offsets for each, state-store files for the aggregate
    val sp = m.stop(id1)
    assert(sp.isDefined, "stop must produce a savepoint")
    import scala.jdk.CollectionConverters._
    val spFiles = Files.walk(java.nio.file.Paths.get(sp.get))
      .iterator().asScala.filter(Files.isRegularFile(_)).toVector
    assert(spFiles.exists(_.toString.contains("/agg_snk/state/")),
      s"savepoint carries no aggregate state: ${sp.get}")

    // delete the committed phase-1 files: only carried state can now
    // produce the uninterrupted totals
    Files.list(java.nio.file.Paths.get(src)).iterator().asScala
      .foreach(p => Files.deleteIfExists(p))
    (0 to 3).map(k => (k, 2)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(src)

    val id2 = m.restartFromSavepoint(id1)
    m.info(id2).queries.foreach(_.awaitTermination(120000))
    m.stop(id2, withSavepoint = false)
    // aggregate state carried: 1 (restored) + 2 (phase 2) = 3 per key
    assert(sums() == Map(0 -> 3L, 1 -> 3L, 2 -> 3L, 3 -> 3L),
      s"aggregate state lost across the platform savepoint: ${sums()}")
    // pass-through siblings exactly-once: each phase's rows once, no replay
    assert(passRows(outA) == Seq((0, 1), (0, 2), (2, 1), (2, 2)),
      s"pass_a diverged: ${passRows(outA)}")
    assert(passRows(outB) == Seq((1, 1), (1, 2), (3, 1), (3, 2)),
      s"pass_b diverged: ${passRows(outB)}")
  }

  test("dup-run guard: same name RUNNING rejects a second start") {
    val dir = srcDir()
    spark.range(0, 2).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    val m = mgr()
    val id = m.start("dup_job", script(dir, "jm_out2"))
    try {
      val e = intercept[IllegalStateException] {
        m.start("dup_job", script(dir, "jm_out3"))
      }
      assert(e.getMessage.contains("already active"))
    } finally m.stop(id, withSavepoint = false)
  }

  test("validation gate: script without INSERT is rejected at start") {
    val m = mgr()
    val e = intercept[IllegalArgumentException] {
      m.start("bad_job",
        "CREATE TABLE t (a INT) WITH ('connector' = 'print');")
    }
    assert(e.getMessage.contains("INSERT"))
  }

  test("variable substitution from platform config (Nacos-style ${var})") {
    val dir = srcDir()
    spark.range(0, 3).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    val m = mgr(vars = Map("data_path" -> dir))
    val id = m.start("var_job", script("${data_path}", "jm_out4"))
    m.info(id).queries.foreach(_.awaitTermination(60000))
    import spark.implicits._
    assert(spark.table("jm_out4").as[Long].collect().sorted.toSeq ==
      (0L until 3L))
    m.stop(id, withSavepoint = false)
  }

  test("failure marking + auto-restart policy hook resumes from checkpoint") {
    val dir = srcDir()
    spark.range(0, 2).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    // filesystem sink: auto-restart resumes from the failed job's
    // checkpoint, which memory sinks cannot recover from
    val outDir = Files.createTempDirectory("ar_sink").toString
    val fsScript =
      s"""CREATE TABLE src (id BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir',
         |  'format' = 'parquet');
         |CREATE TABLE ar_snk (id BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$outDir',
         |  'format' = 'parquet');
         |INSERT INTO ar_snk SELECT id FROM src;
         |""".stripMargin
    val m = mgr()
    val alarms = scala.collection.mutable.Buffer[JobManager.AlarmEvent]()
    m.addAlarmHandler(alarms += _)
    val id = m.start("flaky", fsScript, autoRestart = true)
    m.info(id).queries.foreach(_.awaitTermination(60000))
    m.onJobFailure(id, "simulated executor loss")
    assert(m.status(id) == JobManager.Failed)
    // restart resumed from the SAME checkpoint: no duplicate rows
    m.list().filter(j => j.name == "flaky" && j.id != id)
      .flatMap(_.queries).foreach(_.awaitTermination(60000))
    import spark.implicits._
    assert(spark.read.parquet(outDir).as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L))
    // alarm chain fired: JOB_FAILED then AUTO_RESTARTED
    assert(alarms.map(_.kind).toSeq == Seq("JOB_FAILED", "AUTO_RESTARTED"))
    assert(alarms.head.detail.contains("executor loss"))
    // policy resubmitted a new RUNNING job with the same name
    val restarted = m.list().filter(j => j.name == "flaky" && j.id != id)
    assert(restarted.nonEmpty &&
      restarted.forall(_.status == JobManager.Running))
    restarted.foreach(j => m.stop(j.id, withSavepoint = false))
  }

  private def awaitCond(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (cond) return true
      Thread.sleep(50)
    }
    cond
  }

  test("durable registry: a second manager instance recovers jobs + savepoints") {
    import spark.implicits._
    val regUrl = "jdbc:derby:memory:jmreg;create=true"
    val dir = srcDir()
    val outDir = Files.createTempDirectory("dr_sink").toString
    val spRoot = Files.createTempDirectory("dr_sp").toString
    val fsScript =
      s"""CREATE TABLE src (id BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir',
         |  'format' = 'parquet');
         |CREATE TABLE dr_snk (id BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$outDir',
         |  'format' = 'parquet');
         |INSERT INTO dr_snk SELECT id FROM src;
         |""".stripMargin
    spark.range(0, 3).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    val m1 = new JobManager(spark,
      Files.createTempDirectory("dr_ckpt").toString, spRoot,
      registry = Some(new JdbcJobRegistry(regUrl)))
    val id = m1.start("durable_job", fsScript)
    m1.info(id).queries.foreach(_.awaitTermination(60000))
    assert(m1.stop(id).isDefined)

    // "process restart": a FRESH manager over the same registry recovers
    // the job list, savepoint pointer, and can resume from it
    val m2 = new JobManager(spark,
      Files.createTempDirectory("dr_ckpt2").toString, spRoot,
      registry = Some(new JdbcJobRegistry(regUrl)))
    val rec = m2.list().find(_.id == id).get
    assert(rec.status == JobManager.Stopped)
    assert(rec.lastSavepoint.isDefined && rec.script == fsScript)
    spark.range(3, 5).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    val id2 = m2.restartFromSavepoint(id)
    m2.info(id2).queries.foreach(_.awaitTermination(60000))
    // exactly-once across the process boundary: 0..4, no duplicates
    assert(spark.read.parquet(outDir).as[Long].collect().sorted.toSeq ==
      (0L until 5L))
    m2.stop(id2, withSavepoint = false)
  }

  test("durable registry: a job active at crash time recovers as FAILED with run log") {
    val regUrl = "jdbc:derby:memory:jmreg2;create=true"
    val dir = srcDir()
    spark.range(0, 2).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    val reg1 = new JdbcJobRegistry(regUrl)
    val m1 = new JobManager(spark,
      Files.createTempDirectory("cr_ckpt").toString,
      Files.createTempDirectory("cr_sp").toString,
      registry = Some(reg1))
    val id = m1.start("crashy_job", script(dir, "cr_out"))
    assert(m1.status(id) == JobManager.Running) // persisted as RUNNING
    // simulate a crash: next process adopts the registry without stopping
    val reg2 = new JdbcJobRegistry(regUrl)
    val m2 = new JobManager(spark,
      Files.createTempDirectory("cr_ckpt2").toString,
      Files.createTempDirectory("cr_sp2").toString,
      registry = Some(reg2))
    assert(m2.status(id) == JobManager.Failed)
    val log = reg2.runLog(id).map(_._1)
    assert(log.head == "START" && log.contains("RECOVERED_AS_FAILED"))
    // clean up the live query; m2 has moved the row on, so m1's write of
    // the stop is refused (optimistic lock)
    intercept[IllegalStateException](m1.stop(id, withSavepoint = false))
  }

  test("scheduler: periodic auto-savepoints accrue; wedged job reconciled to STOPPED") {
    val spRoot = Files.createTempDirectory("sch_sp").toString
    val m = new JobManager(spark,
      Files.createTempDirectory("sch_ckpt").toString, spRoot)
    val alarms = scala.collection.mutable.Buffer[JobManager.AlarmEvent]()
    m.addAlarmHandler(alarms.synchronized { alarms += _ })
    // continuous job: ProcessingTime trigger (SET mini-batch latency)
    // over a rate-micro-batch source never drains
    val id = m.start("sched_job",
      """SET table.exec.mini-batch.allow-latency = 100 ms;
        |CREATE TABLE sch_src (id BIGINT) WITH (
        |  'connector' = 'datagen', 'rows-per-batch' = '5',
        |  'fields.id.kind' = 'sequence', 'fields.id.start' = '0');
        |CREATE TABLE sch_snk (id BIGINT, PRIMARY KEY (id) NOT ENFORCED)
        |  WITH ('connector' = 'memory');
        |INSERT INTO sch_snk SELECT id FROM sch_src;
        |""".stripMargin)
    assert(m.status(id) == JobManager.Running)
    val sched = m.startScheduler(
      reconcileIntervalMs = 200, savepointIntervalMs = 150)
    try {
      // ≥2 periodic snapshots observed (SchedulerTask hourly-savepoint analog)
      assert(awaitCond(60000) {
        graft.streaming.Savepoints.list(spRoot, "sched_job").size >= 2
      }, "expected at least 2 auto-savepoints")
      assert(m.info(id).lastSavepoint.isDefined)
      // wedge the job: stop its queries behind the manager's back — the
      // listener sees a clean termination, so status stays RUNNING until
      // reconciliation corrects it
      m.info(id).queries.foreach(_.stop())
      assert(awaitCond(60000) { m.status(id) == JobManager.Stopped },
        "expected reconciliation to flip the wedged job to STOPPED")
      assert(alarms.synchronized { alarms.exists(_.kind == "RECONCILED") })
    } finally sched.close()
  }

  test("config CRUD verbs: add/edit/copy/open/close/delete/history/startConfig") {
    import spark.implicits._
    val regUrl = "jdbc:derby:memory:jmcrud;create=true"
    val reg = new JdbcJobRegistry(regUrl)
    val m = new JobManager(spark,
      Files.createTempDirectory("crud_ckpt").toString,
      Files.createTempDirectory("crud_sp").toString,
      registry = Some(reg))
    val dir = srcDir()
    spark.range(0, 3).toDF("id").coalesce(1).write.mode("append").parquet(dir)

    // addConfig registers without starting
    val id = m.addConfig("crud_job", script(dir, "crud_out"))
    assert(m.status(id) == JobManager.Stopped && m.info(id).enabled)

    // close → start refused; open → start runs the stored config
    m.close(id)
    val eClosed = intercept[IllegalArgumentException] { m.startConfig(id) }
    assert(eClosed.getMessage.contains("closed"))
    m.open(id)
    m.startConfig(id)
    m.info(id).queries.foreach(_.awaitTermination(60000))
    assert(m.status(id) == JobManager.Running)
    assert(spark.table("crud_out").as[Long].collect().sorted.toSeq ==
      (0L until 3L))

    // active config refuses edit/delete/close
    assert(intercept[IllegalArgumentException] {
      m.editConfig(id, "INSERT INTO x SELECT 1;")
    }.getMessage.contains("active"))
    m.stop(id, withSavepoint = false)

    // edit replaces SQL with a version bump, persisted
    val v0 = m.info(id).version
    m.editConfig(id, script(dir, "crud_out2"))
    assert(m.info(id).version == v0 + 1 &&
      m.info(id).script.contains("crud_out2"))
    assert(new JdbcJobRegistry(regUrl).loadAll()
      .find(_.id == id).get.script.contains("crud_out2"))

    // copy duplicates under a new name with a fresh id
    val cid = m.copyConfig(id, "crud_job_copy")
    assert(cid != id && m.info(cid).name == "crud_job_copy" &&
      m.info(cid).script == m.info(id).script)

    // run log captured the lifecycle; delete removes config, keeps log
    val events = m.history(id).map(_._1)
    Seq("ADD_CONFIG", "CLOSE", "OPEN", "START", "STOP", "EDIT_CONFIG")
      .foreach(e => assert(events.contains(e), s"missing $e in $events"))
    m.delete(cid)
    assert(intercept[NoSuchElementException] { m.info(cid) } != null)
    assert(new JdbcJobRegistry(regUrl).loadAll().forall(_.id != cid))
  }

  test("optimistic lock: stopping a non-RUNNING job fails cleanly") {
    val m = mgr()
    val dir = srcDir()
    spark.range(0, 1).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    val id = m.start("ol_job", script(dir, "jm_out6"))
    m.stop(id, withSavepoint = false)
    val e = intercept[IllegalArgumentException] { m.stop(id) }
    assert(e.getMessage.contains("not RUNNING"))
  }

  test("a stop whose savepoint fails ends STOPPED, keeps the old " +
    "savepoint, logs the stop, and frees the name") {
    val spRoot = Files.createTempDirectory("spf_sp").toString
    val reg = new JdbcJobRegistry("jdbc:derby:memory:jmspfail;create=true")
    val m = new JobManager(spark,
      Files.createTempDirectory("spf_ckpt").toString, spRoot,
      registry = Some(reg))
    val dir = srcDir()
    val out = Files.createTempDirectory("spf_sink").toString
    spark.range(0, 2).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    val fsScript =
      s"""CREATE TABLE src (id BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir',
         |  'format' = 'parquet');
         |CREATE TABLE spf_snk (id BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$out',
         |  'format' = 'parquet');
         |INSERT INTO spf_snk SELECT id FROM src;
         |""".stripMargin
    val id = m.start("spf_job", fsScript)
    m.info(id).queries.foreach(_.awaitTermination(60000))
    // the savepoint directory's place is taken by a regular file
    Files.write(java.nio.file.Paths.get(spRoot, "spf_job"), Array[Byte](1))
    intercept[java.io.IOException] { m.stop(id) }
    assert(m.status(id) == JobManager.Stopped)
    assert(m.info(id).lastSavepoint.isEmpty)
    assert(m.history(id).map(_._1) == Seq("START", "STOP"))
    val id2 = m.start("spf_job", fsScript)
    assert(m.status(id2) == JobManager.Running)
    m.stop(id2, withSavepoint = false)
  }

  test("a stop that times out leaves the job RUNNING with its query " +
    "monitored: the query's later failure still marks the job FAILED") {
    import java.util.concurrent.{CountDownLatch, TimeUnit, TimeoutException}
    // a broker whose every request hangs until released and then fails:
    // the query's thread waits in a socket read, which the stop's
    // interrupt does not end, so the stop outlives its timeout
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/", { ex: com.sun.net.httpserver.HttpExchange =>
      entered.countDown()
      release.await(30, TimeUnit.SECONDS)
      ex.sendResponseHeaders(500, -1)
      ex.close()
    })
    srv.start()
    val stopTimeout = "spark.sql.streaming.stopTimeout"
    spark.conf.set(stopTimeout, "200")
    try {
      val m = mgr()
      val id = m.start("stuck_stop",
        s"""CREATE TABLE src (id BIGINT) WITH (
           |  'connector' = 'kafka', 'topic' = 'stuck',
           |  'rest.endpoint' = 'http://127.0.0.1:${srv.getAddress.getPort}',
           |  'format' = 'json');
           |CREATE TABLE stuck_snk (id BIGINT) WITH ('connector' = 'blackhole');
           |INSERT INTO stuck_snk SELECT id FROM src;
           |""".stripMargin)
      assert(entered.await(60, TimeUnit.SECONDS), "the query never polled")
      intercept[TimeoutException] { m.stop(id, withSavepoint = false) }
      assert(m.status(id) == JobManager.Running)
      release.countDown()
      assert(awaitCond(60000) { m.status(id) == JobManager.Failed },
        "the failure of the query whose stop threw was not seen: " +
          m.status(id))
    } finally {
      release.countDown()
      spark.conf.unset(stopTimeout)
      srv.stop(0)
    }
  }

  test("run log: two registries on one database append in one order") {
    val url = "jdbc:derby:memory:jmseq;create=true"
    val a = new JdbcJobRegistry(url)
    val b = new JdbcJobRegistry(url)
    a.logRun("j", "e1", "")
    a.logRun("j", "e2", "")
    b.logRun("j", "e3", "")
    assert(a.runLog("j").map(_._1) == Seq("e1", "e2", "e3"))
    assert(b.runLog("j").map(_._1) == Seq("e1", "e2", "e3"))
  }

  test("optimistic lock: a manager cannot write over a row another " +
    "manager has moved on") {
    val url = "jdbc:derby:memory:jmlost;create=true"
    val dir = srcDir()
    spark.range(0, 2).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    def manager() = new JobManager(spark,
      Files.createTempDirectory("lu_ckpt").toString,
      Files.createTempDirectory("lu_sp").toString,
      registry = Some(new JdbcJobRegistry(url)))
    val m1 = manager()
    val id = m1.start("lost_job", script(dir, "lost_out"))
    assert(m1.status(id) == JobManager.Running && m1.info(id).version == 2)
    // m2 adopts the job it finds RUNNING without live queries as FAILED
    val m2 = manager()
    assert(m2.status(id) == JobManager.Failed && m2.info(id).version == 3)
    val e = intercept[IllegalStateException] {
      m1.stop(id, withSavepoint = false)
    }
    assert(e.getMessage.contains(s"job $id is at version 3") &&
      e.getMessage.contains("expected 2"), e.getMessage)
    assert(m1.info(id).queries.forall(!_.isActive))
    val row = new JdbcJobRegistry(url).loadAll().filter(_.id == id)
    assert(row.map(r => (r.status, r.version)) == Seq((JobManager.Failed, 3)))
  }

  test("restore: an active name is refused before the savepoint copy; " +
    "a copy whose start fails is deleted") {
    val ckptRoot = Files.createTempDirectory("rl_ckpt")
    @volatile var failStarts = false
    val m = new JobManager(spark, ckptRoot.toString,
      Files.createTempDirectory("rl_sp").toString) {
      override def start(name: String, script0: String, batchMode: Boolean,
          autoRestart: Boolean, restoreCheckpoint: Option[String]): String =
        if (failStarts) throw new IllegalStateException("start refused")
        else super.start(name, script0, batchMode, autoRestart,
          restoreCheckpoint)
    }
    def ckpts() = ckptRoot.toFile.list().toSeq.sorted
    val dir = srcDir()
    val out = Files.createTempDirectory("rl_sink").toString
    spark.range(0, 2).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    val fsScript =
      s"""CREATE TABLE src (id BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir',
         |  'format' = 'parquet');
         |CREATE TABLE rl_snk (id BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$out',
         |  'format' = 'parquet');
         |INSERT INTO rl_snk SELECT id FROM src;
         |""".stripMargin
    val id = m.start("rl_job", fsScript)
    m.info(id).queries.foreach(_.awaitTermination(60000))
    assert(m.stop(id).isDefined)
    val id1 = m.restartFromSavepoint(id)
    assert(m.status(id1) == JobManager.Running)
    val e = intercept[IllegalStateException](m.restartFromSavepoint(id))
    assert(e.getMessage.contains("already active"))
    assert(ckpts() == Seq(id, s"$id-r1"))
    m.stop(id1, withSavepoint = false)
    failStarts = true
    val e2 = intercept[IllegalStateException](m.restartFromSavepoint(id))
    assert(e2.getMessage == "start refused")
    assert(ckpts() == Seq(id, s"$id-r1"))
  }

  test("start and startConfig share one path: a script that fails " +
    "analysis ends FAILED and frees the name; a good one ends RUNNING") {
    import spark.implicits._
    val reg = new JdbcJobRegistry("jdbc:derby:memory:jmpaths;create=true")
    val m = new JobManager(spark,
      Files.createTempDirectory("sp_ckpt").toString,
      Files.createTempDirectory("sp_sp").toString, registry = Some(reg))
    val dir = srcDir()
    spark.range(0, 3).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    // validates (the gate checks syntax only), fails at analysis
    def bad(sink: String) =
      script(dir, sink).replace("SELECT id FROM src", "SELECT no_such_col FROM src")
    def failsAnalysis(f: => Unit): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException](f)
      assert(e.getMessage.contains("no_such_col"))
    }

    // ad hoc: name + script
    failsAnalysis { m.start("paths_adhoc", bad("paths_out_a")) }
    val failedA = m.list().filter(_.name == "paths_adhoc")
    assert(failedA.map(_.status) == Seq(JobManager.Failed))
    val idA = m.start("paths_adhoc", script(dir, "paths_out_a"))

    // by config id: addConfig, then editConfig to the good script
    val idC = m.addConfig("paths_cfg", bad("paths_out_c"))
    failsAnalysis { m.startConfig(idC) }
    assert(m.status(idC) == JobManager.Failed)
    m.editConfig(idC, script(dir, "paths_out_c"))
    m.startConfig(idC)

    for ((id, sink) <- Seq(idA -> "paths_out_a", idC -> "paths_out_c")) {
      assert(m.status(id) == JobManager.Running)
      m.info(id).queries.foreach(_.awaitTermination(60000))
      assert(spark.table(sink).as[Long].collect().sorted.toSeq ==
        (0L until 3L))
      m.stop(id, withSavepoint = false)
    }
    val lifecycle = Set("START", "STOP", "FAILED")
    val adhocLog = (failedA.map(_.id) :+ idA).flatMap(m.history)
    assert(adhocLog.map(_._1) == Seq("START", "START", "STOP"))
    assert(m.history(idC).map(_._1).filter(lifecycle) ==
      adhocLog.map(_._1))
  }

  test("ip_status election: newest live registration leads; cancel and " +
    "staleness hand leadership over") {
    val url = "jdbc:derby:memory:ipstat1;create=true"
    // manual clock so staleness is aged, not slept
    var now = 1000000L
    val clk = () => now
    val a = new IpStatusService(url, "10.0.0.1", ttlMs = 5000, clock = clk)
    val b = new IpStatusService(url, "10.0.0.2", ttlMs = 5000, clock = clk)
    a.register()
    assert(a.isLeader() && a.currentLeader().contains("10.0.0.1"))
    b.register() // higher id → leader (selectLastIp ORDER BY id DESC)
    assert(b.isLeader() && !a.isLeader())
    assert(a.liveInstances() == Seq("10.0.0.1", "10.0.0.2"))
    // clean shutdown: status=-1 drops b out immediately
    b.cancel()
    assert(a.isLeader() && !b.isLeader())
    assert(a.liveInstances() == Seq("10.0.0.1"))
    // b re-registers: keeps its original (higher) id → leads again
    b.register()
    assert(b.isLeader() && !a.isLeader())
    // b crashes (no heartbeat): after the 61s-analog TTL only a, still
    // heartbeating, is live — leadership falls back to a
    now += 6000
    a.heartbeat()
    assert(a.isLeader() && !b.isLeader())
    assert(b.currentLeader().contains("10.0.0.1"))
    // everyone stale → nobody leads (reference: null selectLastIp → false)
    now += 6000
    assert(!a.isLeader() && !b.isLeader() && a.currentLeader().isEmpty)
  }

  test("HA scheduler: with two managers on one ip_status table, only the " +
    "leader reconciles; closing it fails leadership over") {
    val url = "jdbc:derby:memory:ipstat2;create=true"
    def wedgedJob(m: JobManager, name: String, src: String, snk: String) = {
      val id = m.start(name,
        s"""SET table.exec.mini-batch.allow-latency = 100 ms;
           |CREATE TABLE $src (id BIGINT) WITH (
           |  'connector' = 'datagen', 'rows-per-batch' = '5',
           |  'fields.id.kind' = 'sequence', 'fields.id.start' = '0');
           |CREATE TABLE $snk (id BIGINT, PRIMARY KEY (id) NOT ENFORCED)
           |  WITH ('connector' = 'memory');
           |INSERT INTO $snk SELECT id FROM $src;
           |""".stripMargin)
      assert(m.status(id) == JobManager.Running)
      // stop queries behind the manager's back: the listener sees a clean
      // termination, so only a reconcile pass can flip the status
      m.info(id).queries.foreach(_.stop())
      id
    }
    val mA = mgr(); val mB = mgr()
    val idA = wedgedJob(mA, "ha_job_a", "ha_src_a", "ha_snk_a")
    val idB = wedgedJob(mB, "ha_job_b", "ha_src_b", "ha_snk_b")
    // A's scheduler registers first, B's second → B leads
    val schedA = mA.startScheduler(reconcileIntervalMs = 100,
      savepointIntervalMs = 3600000,
      ha = Some(new IpStatusService(url, "10.0.0.1")))
    val schedB = mB.startScheduler(reconcileIntervalMs = 100,
      savepointIntervalMs = 3600000,
      ha = Some(new IpStatusService(url, "10.0.0.2")))
    try {
      assert(awaitCond(60000) { mB.status(idB) == JobManager.Stopped },
        "leader's reconcile should flip its wedged job")
      // several reconcile periods later the non-leader still hasn't acted
      Thread.sleep(500)
      assert(mA.status(idA) == JobManager.Running,
        "non-leader must not run the reconcile pass")
      // leader shuts down cleanly → cancelIp → A takes over and reconciles
      schedB.close()
      assert(awaitCond(60000) { mA.status(idA) == JobManager.Stopped },
        "surviving instance should take leadership and reconcile")
    } finally { schedA.close(); schedB.close() }
  }

  test("stop releases the job's snapshot lookup dim: uncached, and no " +
    "more TTL refreshes") {
    import spark.implicits._
    val url = "jdbc:derby:memory:jmdimrel;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try {
      c.createStatement().execute(
        "CREATE TABLE rel_dim (id BIGINT PRIMARY KEY, v VARCHAR(16))")
      c.createStatement().execute("INSERT INTO rel_dim VALUES (1, 'A')")
    } finally c.close()
    val dir = srcDir()
    Seq(1L, 2L).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    val ttlMs = 300L
    val m = mgr()
    val id = m.start("dim_release_job",
      s"""CREATE TABLE rel_src (id BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir',
         |  'format' = 'parquet');
         |CREATE TABLE rel_lk (id BIGINT, v VARCHAR) WITH (
         |  'connector' = 'jdbc', 'url' = '$url', 'table-name' = 'rel_dim',
         |  'lookup.cache.ttl' = '$ttlMs ms', 'lookup.cache.max-rows' = '100');
         |CREATE TABLE rel_snk (id BIGINT, v STRING,
         |  PRIMARY KEY (id) NOT ENFORCED) WITH ('connector' = 'memory');
         |INSERT INTO rel_snk SELECT s.id, d.v FROM rel_src s
         |LEFT JOIN rel_lk FOR SYSTEM_TIME AS OF s.id AS d ON s.id = d.id;
         |""".stripMargin)
    val dim = m.runners(id).snapshotDim("rel_lk").getOrElse(
      fail("the job holds no snapshot dim 'rel_lk'"))
    def cached = spark.sharedState.cacheManager.lookupCachedData(
      dim.df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined
    // the refresher is live while the job runs; a refresh drops and
    // re-arms the cache, so the dim reads uncached while one is running
    assert(awaitCond(30000)(dim.refreshCount >= 1 && cached),
      "no TTL refresh of a cached dim")
    m.stop(id, withSavepoint = false)
    val refreshes = dim.refreshCount
    Thread.sleep(3 * ttlMs + 100)
    assert(dim.refreshCount == refreshes, "the dim refreshed after stop")
    assert(!cached, "a stopped job's dim is still cached")
    assert(!m.runners.contains(id))
  }
}
