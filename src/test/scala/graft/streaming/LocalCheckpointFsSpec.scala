package graft.streaming

import graft.SparkSpec
import graft.sqlgate.ScriptRunner
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus,
  FsConstants, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** [[LocalCheckpointFs]] must be indistinguishable from Hadoop's stock
  * `LocalFs` except for the processes it does not start: same mode bits,
  * same link statuses, same checkpoint layout (`.crc` files included),
  * and checkpoints that restart — also across the two implementations.
  */
class LocalCheckpointFsSpec extends SparkSpec {

  private val Stock = "org.apache.hadoop.fs.local.LocalFs"
  private val Ours = classOf[LocalCheckpointFs].getName

  private def fileContext(impl: String, umask: String): FileContext = {
    val conf = new Configuration()
    conf.set(LocalCheckpointFs.Key, impl)
    conf.set("fs.permissions.umask-mode", umask)
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf)
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Relative path → mode bits of every entry under `root`. */
  private def modes(root: java.nio.file.Path): Map[String, Int] =
    scala.util.Using.resource(Files.walk(root)) {
      _.iterator().asScala.map(p => root.relativize(p).toString -> mode(p))
        .toMap
    }

  test("created files and directories carry the stock LocalFs mode bits") {
    for (umask <- Seq("022", "077", "002")) {
      val sides = Seq(Stock, Ours).map { impl =>
        val root = Files.createTempDirectory("lcfs_perm")
        val fc = fileContext(impl, umask)
        def p(rel: String) = new Path(root.resolve(rel).toString)
        fc.mkdir(p("a/b"), FsPermission.getDirDefault, true)
        val out = fc.create(p("a/b/f"), EnumSet.of(CreateFlag.CREATE))
        out.write(Array[Byte](1, 2, 3)); out.close()
        fc.create(p("a/g"), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.perms(new FsPermission("640"))).close()
        fc.mkdir(p("sticky"), FsPermission.getDirDefault, false)
        fc.setPermission(p("sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
        fc.setPermission(p("a/b/f"), new FsPermission("600"))
        // a directory that inherits setgid: chmod with a four-digit mode
        // keeps the bit, so the NIO path must not clear it
        Files.createDirectory(root.resolve("sg"))
        Files.setAttribute(root.resolve("sg"), "unix:mode",
          Integer.valueOf(Integer.parseInt("2775", 8)))
        fc.mkdir(p("sg/child"), FsPermission.getDirDefault, false)
        modes(root)
      }
      assert(sides(0).keySet.contains("a/b/.f.crc"), sides(0).keySet)
      assert(sides(0) == sides(1), s"umask $umask")
    }
  }

  test("getFileLinkStatus equals stock RawLocalFileSystem") {
    val conf = new Configuration()
    val stock = new RawLocalFileSystem
    val ours = new NioRawLocalFileSystem
    Seq(stock, ours).foreach(_.initialize(URI.create("file:///"), conf))

    val root = Files.createTempDirectory("lcfs_link")
    Files.writeString(root.resolve("f"), "abc")
    Files.createDirectory(root.resolve("d"))
    Files.createSymbolicLink(root.resolve("to_f"), Paths.get("f"))
    Files.createSymbolicLink(root.resolve("to_d"), root.resolve("d"))
    Files.createSymbolicLink(root.resolve("dangling"), Paths.get("missing"))

    def fields(s: FileStatus) = (s.getPath, s.getLen, s.isDirectory,
      s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.getPermission,
      s.getOwner, s.getGroup, s.getModificationTime, s.getAccessTime,
      s.getReplication, s.getBlockSize)
    def outcome[T](f: => T): Either[String, T] =
      try Right(f) catch { case e: java.io.IOException => Left(e.getClass.getName) }

    val names = Seq("f", "d", "to_f", "to_d", "dangling", "absent")
    val paths = names.flatMap { n =>
      val plain = new Path(root.resolve(n).toString)
      Seq(plain, stock.makeQualified(plain))
    }
    paths.foreach { p =>
      assert(outcome(fields(ours.getFileLinkStatus(p))) ==
        outcome(fields(stock.getFileLinkStatus(p))), p)
    }
    // the plain-path symlink statuses really are symlinks
    assert(ours.getFileLinkStatus(new Path(root.resolve("to_f").toString))
      .isSymlink)
    assert(ours.getFileLinkStatus(new Path(root.resolve("dangling").toString))
      .getSymlink.getName == "missing")

    // and through FileContext, where rename asks for them
    val (fcStock, fcOurs) = (fileContext(Stock, "022"), fileContext(Ours, "022"))
    paths.foreach { p =>
      assert(outcome(fields(fcOurs.getFileLinkStatus(p))) ==
        outcome(fields(fcStock.getFileLinkStatus(p))), p)
    }
  }

  // ---- a keyed aggregation through ScriptRunner ----

  private def writeRows(dir: String, rows: (String, Int)*): Unit = {
    import spark.implicits._
    rows.toDF("k", "v").coalesce(1).write.mode("append").parquet(dir)
  }

  private val legs = Seq(
    Seq("a" -> 1, "b" -> 2, "a" -> 3),
    Seq("b" -> 10, "c" -> 5),
    Seq("a" -> 7, "d" -> 1, "c" -> 1))

  /** A fresh Derby table per run; returns its JDBC url. */
  private def sinkTable(): String = {
    val url = s"jdbc:derby:memory:lcfs_${java.util.UUID.randomUUID()
      .toString.replace("-", "")};create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().execute(
      "CREATE TABLE agg (k VARCHAR(16) PRIMARY KEY, c BIGINT, s BIGINT)")
    finally c.close()
    url
  }

  private def sinkRows(url: String): Map[String, (Long, Long)] = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery("SELECT k, c, s FROM agg")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    } finally c.close()
  }

  private def script(src: String, url: String) =
    s"""CREATE TABLE src (k VARCHAR, v INT) WITH (
       |  'connector' = 'filesystem', 'path' = '$src', 'format' = 'parquet');
       |CREATE TABLE agg (k VARCHAR, c BIGINT, s BIGINT,
       |  PRIMARY KEY (k) NOT ENFORCED) WITH (
       |  'connector' = 'jdbc', 'url' = '$url', 'table-name' = 'agg',
       |  'dialect' = 'two-step');
       |INSERT INTO agg SELECT k, COUNT(*) AS c, SUM(v) AS s
       |FROM src GROUP BY k;
       |""".stripMargin

  /** Runs the script to completion over what `src` holds now. With
    * `impl` set, checkpoints are written through that `file:`
    * AbstractFileSystem instead of the one ScriptRunner installed.
    */
  private def drain(src: String, url: String, ckpt: String,
      impl: Option[String] = None): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val runner = new ScriptRunner(spark, Some(ckpt))
    assert(conf.get(LocalCheckpointFs.Key) == Ours)
    impl.foreach(conf.set(LocalCheckpointFs.Key, _))
    try runner.run(script(src, url)).queries.foreach { q =>
      assert(q.awaitTermination(120000), "drain did not finish")
      q.exception.foreach(e => throw e)
    } finally conf.set(LocalCheckpointFs.Key, Ours)
  }

  private lazy val uninterrupted: Map[String, (Long, Long)] = {
    val src = Files.createTempDirectory("lcfs_full_src").toString
    legs.foreach(writeRows(src, _: _*))
    val url = sinkTable()
    drain(src, url, Files.createTempDirectory("lcfs_full_ck").toString)
    sinkRows(url)
  }

  /** The same job stopped and restarted between legs: leg 2 resumes
    * from leg 1's checkpoint, leg 3 from a savepoint copy of it.
    * `impls(i)` overrides leg i's checkpoint filesystem.
    */
  private def interrupted(impls: Seq[Option[String]]): Map[String, (Long, Long)] = {
    val src = Files.createTempDirectory("lcfs_src").toString
    val ckpt = Files.createTempDirectory("lcfs_ck").toString
    val url = sinkTable()
    writeRows(src, legs(0): _*)
    drain(src, url, ckpt, impls(0))
    writeRows(src, legs(1): _*)
    drain(src, url, ckpt, impls(1))
    val sp = Savepoints.snapshot(ckpt,
      Files.createTempDirectory("lcfs_sp").toString, "agg")
    writeRows(src, legs(2): _*)
    drain(src, url, Savepoints.restore(sp,
      Files.createTempDirectory("lcfs_restored").toString), impls(2))
    sinkRows(url)
  }

  test("stop/restart from the checkpoint and from a savepoint copy equals " +
    "an uninterrupted run") {
    assert(uninterrupted == Map("a" -> ((3L, 11L)), "b" -> ((2L, 12L)),
      "c" -> ((2L, 6L)), "d" -> ((1L, 1L))))
    assert(interrupted(Seq(None, None, None)) == uninterrupted)
  }

  test("a checkpoint and savepoint written through stock LocalFs restore") {
    assert(interrupted(Seq(Some(Stock), Some(Stock), None)) == uninterrupted)
  }

  /** Checkpoint file names under `root`, with the UUIDs Spark puts in
    * some of them masked.
    */
  private def layout(root: String): Set[String] = {
    val base = Paths.get(root)
    scala.util.Using.resource(Files.walk(base)) {
      _.iterator().asScala.map(p => base.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}",
          "<uuid>")).toSet
    }
  }

  test("checkpoint layout, .crc files included, equals stock LocalFs") {
    val Seq(stockTree, oursTree) = Seq(Stock, Ours).map { impl =>
      val src = Files.createTempDirectory("lcfs_lay_src").toString
      val ckpt = Files.createTempDirectory("lcfs_lay_ck").toString
      val url = sinkTable()
      legs.foreach { leg =>
        writeRows(src, leg: _*)
        drain(src, url, ckpt, impl = Some(impl))
      }
      layout(ckpt)
    }
    assert(stockTree.exists(_.endsWith(".crc")), stockTree)
    assert(stockTree.exists(_.contains("state/")), stockTree)
    assert(oursTree == stockTree,
      s"only stock: ${stockTree -- oursTree}; only ours: ${oursTree -- stockTree}")
  }

  test("install is idempotent and keeps a value already set for the key") {
    val conf = spark.sparkContext.hadoopConfiguration
    LocalCheckpointFs.install(spark)
    LocalCheckpointFs.install(spark)
    assert(conf.get(LocalCheckpointFs.Key) == Ours)
    val custom = "org.apache.hadoop.fs.local.RawLocalFs"
    conf.set(LocalCheckpointFs.Key, custom)
    try {
      new ScriptRunner(spark)
      assert(conf.get(LocalCheckpointFs.Key) == custom)
    } finally conf.set(LocalCheckpointFs.Key, Ours)
    // the FileSystem API and other schemes are not touched
    assert(conf.get("fs.file.impl") == null ||
      conf.get("fs.file.impl") == "org.apache.hadoop.fs.LocalFileSystem")
    assert(conf.get("fs.AbstractFileSystem.hdfs.impl") ==
      "org.apache.hadoop.fs.Hdfs")
  }
}
