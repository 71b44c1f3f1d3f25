package graft.platform

import graft.SparkSpec
import graft.sqlgate.ScriptRunner
import graft.streaming.{Savepoints, StateStores}
import java.nio.file.{Files, Path, Paths}
import java.sql.DriverManager
import java.util.UUID
import org.apache.spark.sql.execution.streaming.operators.stateful.StatefulOperator
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.state.{StateStore,
  StateStoreId, StateStoreProviderId}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.jdk.CollectionConverters._

/** Every verb that ends a run frees that run's state-store providers
  * right after it, instead of leaving them on the heap until Spark's 60 s
  * maintenance pass: stop with and without a savepoint, the stop before
  * a restore, and the stop before an auto-restart from the job's own
  * checkpoint (same store ids, new run id). The expected provider ids are
  * the checkpoint's `state/<op>/<part>[/<store>]` directories that hold
  * state files, checked against the stateful operators of the run's last
  * executed plan. The release writes no file, so savepoints and restored
  * sinks are what they were without it.
  */
class StateReleaseSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def mgr() = new JobManager(spark, tmp("sr_ckpt"), tmp("sr_sp"))

  private def children(d: Path): Seq[Path] =
    Option(d.toFile.listFiles).toSeq.flatten.map(_.toPath)

  private def numbered(d: Path): Seq[Path] =
    children(d).filter(p =>
      Files.isDirectory(p) && p.getFileName.toString.forall(_.isDigit))

  private def holdsState(d: Path): Boolean = children(d).exists { f =>
    val n = f.getFileName.toString
    Files.isRegularFile(f) && (n.endsWith(".delta") || n.endsWith(".snapshot"))
  }

  /** The providers a run of the query checkpointed at `ckpt` loaded: one
    * per `state/<op>/<part>` directory holding delta or snapshot files
    * (the default store) and one per subdirectory that holds them (a
    * named store), keyed by `runId`. The root is the checkpoint path as
    * Spark qualifies it.
    */
  private def idsOnDisk(ckpt: String, runId: UUID): Set[StateStoreProviderId] = {
    val hp = new org.apache.hadoop.fs.Path(ckpt)
    val qualified = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(hp).toUri.toString
    val stateRoot =
      new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(qualified),
        "state").toString
    (for {
      op <- numbered(Paths.get(ckpt, "state"))
      part <- numbered(op)
      store <- (if (holdsState(part)) Seq(StateStoreId.DEFAULT_STORE_NAME)
        else Nil) ++ children(part).filter(d =>
          Files.isDirectory(d) && holdsState(d)).map(_.getFileName.toString)
    } yield StateStoreProviderId(StateStoreId(stateRoot,
      op.getFileName.toString.toLong, part.getFileName.toString.toInt, store),
      runId)).toSet
  }

  /** [[idsOnDisk]] for `q`'s run, checked against the stateful operators
    * of its last executed plan: the same operators, partitions and state
    * root.
    */
  private def stateIds(q: StreamingQuery, ckpt: String): Set[StateStoreProviderId] = {
    val ids = idsOnDisk(ckpt, q.runId)
    val planned = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan.collect { case op: StatefulOperator =>
        op.getStateInfo }
      .map(i => (i.checkpointLocation, i.operatorId, i.numPartitions)).toSet
    val onDisk = ids.groupBy(id => (id.storeId.checkpointRootLocation,
      id.storeId.operatorId)).map { case ((root, op), g) =>
        (root, op, g.map(_.storeId.partitionId).size) }.toSet
    assert(onDisk == planned, s"checkpoint $onDisk vs plan $planned")
    ids
  }

  private def assertLoaded(ids: Set[StateStoreProviderId], what: String): Unit = {
    assert(ids.nonEmpty, s"$what: no state on disk")
    val missing = ids.filterNot(StateStore.isLoaded)
    assert(missing.isEmpty, s"$what: not loaded: $missing")
  }

  /** Checked once the releases handed over so far have run: a verb only
    * hands its run's providers to the release thread.
    */
  private def assertUnloaded(ids: Set[StateStoreProviderId], what: String): Unit = {
    StateStores.awaitReleased()
    val held = ids.filter(StateStore.isLoaded)
    assert(held.isEmpty, s"$what: still loaded: $held")
  }

  /** The job's only query, after it processed every file present. */
  private def settled(m: JobManager, id: String): StreamingQuery = {
    val q = m.info(id).queries.head
    q.processAllAvailable()
    q
  }

  private def queryCkpt(m: JobManager, id: String, sink: String): String =
    s"${m.info(id).checkpointDir}/$sink"

  /** Relative path → MD5 of every file under `dir`. */
  private def tree(dir: String): Map[String, String] = {
    val root = Paths.get(dir)
    val md = java.security.MessageDigest.getInstance("MD5")
    val files = Files.walk(root)
    try files.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      root.relativize(f).toString ->
        md.digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString
    }.toMap
    finally files.close()
  }

  private def writeKv(dir: String, rows: (Int, Int)*): Unit = {
    import spark.implicits._
    rows.toSeq.toDF("k", "v").coalesce(1).write.mode("append").parquet(dir)
  }

  private def writeKts(dir: String, rows: (Int, Long)*): Unit = {
    import spark.implicits._
    rows.toSeq.toDF("k", "ts_s")
      .select(col("k"), timestamp_seconds(col("ts_s")).as("ts"))
      .coalesce(1).write.mode("append").parquet(dir)
  }

  private def derbyTable(db: String, ddl: String): String = {
    val url = s"jdbc:derby:memory:$db;create=true"
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute(ddl) finally c.close()
    url
  }

  private def rows(url: String, sql: String): Seq[Seq[Any]] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (1 to n).map(r.getObject(_)): Seq[Any]).toList
    } finally c.close()
  }

  private val latency = "SET table.exec.mini-batch.allow-latency = 100 ms;\n"

  private def keyedAgg(src: String, url: String, table: String): String =
    latency +
      s"""CREATE TABLE ka_src (k INT, v INT) WITH (
         |  'connector' = 'filesystem', 'path' = '$src', 'format' = 'parquet');
         |CREATE TABLE ka_snk (k INT, n BIGINT, s BIGINT,
         |  PRIMARY KEY (k) NOT ENFORCED) WITH (
         |  'connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = '$table', 'dialect' = 'two-step');
         |INSERT INTO ka_snk SELECT k, COUNT(*) AS n, SUM(v) AS s
         |FROM ka_src GROUP BY k;
         |""".stripMargin

  private def tumble(src: String, url: String, table: String): String =
    latency +
      s"""CREATE TABLE tb_src (k INT, ts TIMESTAMP,
         |  WATERMARK FOR ts AS ts - INTERVAL '1' SECOND
         |) WITH (
         |  'connector' = 'filesystem', 'path' = '$src', 'format' = 'parquet');
         |CREATE TABLE tb_snk (wstart TIMESTAMP(3), k INT, n BIGINT,
         |  PRIMARY KEY (wstart, k) NOT ENFORCED) WITH (
         |  'connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = '$table', 'dialect' = 'two-step');
         |INSERT INTO tb_snk
         |SELECT TUMBLE_START(ts, INTERVAL '10' SECOND) AS wstart, k,
         |  COUNT(*) AS n
         |FROM tb_src GROUP BY TUMBLE(ts, INTERVAL '10' SECOND), k;
         |""".stripMargin

  private def intervalJoin(left: String, right: String, out: String): String =
    latency +
      s"""CREATE TABLE ij_l (k INT, ts TIMESTAMP,
         |  WATERMARK FOR ts AS ts - INTERVAL '1' SECOND
         |) WITH (
         |  'connector' = 'filesystem', 'path' = '$left', 'format' = 'parquet');
         |CREATE TABLE ij_r (k INT, ts TIMESTAMP,
         |  WATERMARK FOR ts AS ts - INTERVAL '1' SECOND
         |) WITH (
         |  'connector' = 'filesystem', 'path' = '$right', 'format' = 'parquet');
         |CREATE TABLE ij_snk (k INT, lts TIMESTAMP, rts TIMESTAMP) WITH (
         |  'connector' = 'filesystem', 'path' = '$out', 'format' = 'parquet');
         |INSERT INTO ij_snk
         |SELECT l.k, l.ts AS lts, r.ts AS rts FROM ij_l l JOIN ij_r r
         |  ON l.k = r.k AND r.ts >= l.ts - INTERVAL '5' SECOND
         |  AND r.ts <= l.ts + INTERVAL '5' SECOND;
         |""".stripMargin

  test("stop without a savepoint unloads a keyed aggregation's providers") {
    val url = derbyTable("sr_stop",
      "CREATE TABLE ka_out (k INT PRIMARY KEY, n BIGINT, s BIGINT)")
    val src = tmp("sr_stop_src")
    writeKv(src, (0 to 9).map(k => (k % 4, k)): _*)
    val m = mgr()
    val id = m.start("sr_stop", keyedAgg(src, url, "ka_out"))
    val q = settled(m, id)
    val ids = stateIds(q, queryCkpt(m, id, "ka_snk"))
    assert(ids.size == 4, s"one default store per partition: $ids")
    assertLoaded(ids, "before stop")
    m.stop(id, withSavepoint = false)
    assertUnloaded(ids, "after stop")
  }

  test("stop with a savepoint unloads a TUMBLE job's providers") {
    val url = derbyTable("sr_sp",
      "CREATE TABLE tb_out (wstart TIMESTAMP, k INT, n BIGINT, " +
        "PRIMARY KEY (wstart, k))")
    val src = tmp("sr_sp_src")
    writeKts(src, (1, 1L), (2, 3L), (1, 12L), (3, 25L))
    val m = mgr()
    val id = m.start("sr_sp", tumble(src, url, "tb_out"))
    val q = settled(m, id)
    val ids = stateIds(q, queryCkpt(m, id, "tb_snk"))
    assertLoaded(ids, "before stop")
    val sp = m.stop(id)
    assertUnloaded(ids, "after stop")
    assert(sp.isDefined)
  }

  test("release writes no file: a checkpoint copied before and after it " +
    "is the same, and a plain stop keeps the providers loaded") {
    val url = derbyTable("sr_copy",
      "CREATE TABLE tb_out (wstart TIMESTAMP, k INT, n BIGINT, " +
        "PRIMARY KEY (wstart, k))")
    val src = tmp("sr_copy_src")
    writeKts(src, (1, 1L), (2, 3L), (1, 12L))
    val ckptRoot = tmp("sr_copy_ckpt")
    val q = new ScriptRunner(spark, Some(ckptRoot))
      .run(tumble(src, url, "tb_out")).queries.head
    q.processAllAvailable()
    val ckpt = s"$ckptRoot/tb_snk"
    val ids = stateIds(q, ckpt)
    assertLoaded(ids, "before stop")
    q.stop()
    assertLoaded(ids, "after a plain stop")
    val spRoot = tmp("sr_copy_sp")
    val without = Savepoints.snapshot(ckpt, spRoot, "tb")
    StateStores.release(q)
    assertUnloaded(ids, "after release")
    val withRelease = Savepoints.snapshot(ckpt, spRoot, "tb")
    assert(tree(without).nonEmpty && tree(without) == tree(withRelease))
  }

  test("restore from a savepoint: the old run's providers are gone, the " +
    "restored run's are loaded, and its sink equals an uninterrupted run") {
    val ddl = "CREATE TABLE %s (k INT PRIMARY KEY, n BIGINT, s BIGINT)"
    val url = derbyTable("sr_restore", ddl.format("ka_full"))
    derbyTable("sr_restore", ddl.format("ka_cut"))
    def sink(table: String) = rows(url, s"SELECT k, n, s FROM $table ORDER BY k")
    val phase1 = (0 to 3).map(k => (k, 1))
    val phase2 = (0 to 4).map(k => (k, 2))
    val m = mgr()

    val full = tmp("sr_full_src")
    writeKv(full, phase1: _*); writeKv(full, phase2: _*)
    val idF = m.start("sr_full", keyedAgg(full, url, "ka_full"))
    settled(m, idF)
    m.stop(idF, withSavepoint = false)
    val expected = sink("ka_full")
    assert(expected.size == 5)

    val src = tmp("sr_cut_src")
    writeKv(src, phase1: _*)
    val id1 = m.start("sr_cut", keyedAgg(src, url, "ka_cut"))
    val oldIds = stateIds(settled(m, id1), queryCkpt(m, id1, "ka_snk"))
    assertLoaded(oldIds, "before stop")
    m.stop(id1)
    // only restored state can now give phase 1's counts
    children(Paths.get(src)).foreach(Files.delete)
    writeKv(src, phase2: _*)
    val id2 = m.restartFromSavepoint(id1)
    val restored = stateIds(settled(m, id2), queryCkpt(m, id2, "ka_snk"))
    assertUnloaded(oldIds, "after restore")
    assertLoaded(restored, "restored run")
    m.stop(id2, withSavepoint = false)
    assertUnloaded(restored, "after the restored run's stop")
    assert(sink("ka_cut") == expected)
  }

  test("auto-restart after a failure: the same store ids under the new run " +
    "id are loaded, the old run's are not; an interval join's four stores " +
    "per partition are all released") {
    val (left, right) = (tmp("sr_ij_l"), tmp("sr_ij_r"))
    val (fullL, fullR) = (tmp("sr_ijf_l"), tmp("sr_ijf_r"))
    // phase 2's (3, 6 s) right row matches phase 1's (3, 3 s) left row,
    // which only the restored join state still holds
    val l1 = Seq((1, 1L), (2, 2L), (3, 3L)); val r1 = Seq((1, 2L), (2, 4L))
    val l2 = Seq((4, 20L)); val r2 = Seq((3, 6L), (4, 22L))
    Seq(fullL -> (l1 ++ l2), fullR -> (r1 ++ r2), left -> l1, right -> r1)
      .foreach { case (d, rs) => writeKts(d, rs: _*) }
    def joined(out: String) = spark.read.parquet(out).collect()
      .map(r => (r.getInt(0), r.getTimestamp(1), r.getTimestamp(2)))
      .sortBy(_.toString).toSeq

    val m = mgr()
    val fullOut = tmp("sr_ijf_out")
    val idF = m.start("sr_ij_full", intervalJoin(fullL, fullR, fullOut))
    settled(m, idF)
    m.stop(idF, withSavepoint = false)
    val expected = joined(fullOut)
    assert(expected.map(_._1) == Seq(1, 2, 3, 4))

    val out = tmp("sr_ij_out")
    val id1 = m.start("sr_ij", intervalJoin(left, right, out),
      autoRestart = true)
    val ckpt = queryCkpt(m, id1, "ij_snk")
    val oldIds = stateIds(settled(m, id1), ckpt)
    assert(oldIds.size == 16, s"four stores per partition: $oldIds")
    assertLoaded(oldIds, "before the failure")
    m.onJobFailure(id1, "simulated executor loss")
    val id2 = m.list().find(j => j.name == "sr_ij" && j.id != id1).get.id
    assert(queryCkpt(m, id2, "ij_snk") == ckpt)
    writeKts(left, l2: _*); writeKts(right, r2: _*)
    val q2 = settled(m, id2)
    assertUnloaded(oldIds, "after the auto-restart")
    val newIds = stateIds(q2, ckpt)
    assert(newIds.map(_.storeId) == oldIds.map(_.storeId))
    assertLoaded(newIds, "restarted run")
    m.stop(id2, withSavepoint = false)
    assertUnloaded(newIds, "after the restarted run's stop")
    assert(joined(out) == expected)
  }
}
