package graft.sqlgate

import graft.SparkSpec
import java.nio.file.Files

/** Statement set: every INSERT of a script starts as its own streaming
  * query under its own checkpoint (`<root>/<sink>`), so each resumes
  * exactly-once, keeps Spark's stateful semantics (a global LIMIT, an
  * aggregate's state across restarts) and surfaces Spark's own
  * unsupported-operation errors.
  */
class StatementSetSpec extends SparkSpec {
  import spark.implicits._

  private def script(src: String, outA: String, outB: String) =
    s"""CREATE TABLE src (id BIGINT) WITH (
       |  'connector' = 'filesystem', 'path' = '$src',
       |  'format' = 'parquet');
       |CREATE TABLE snk_a (id BIGINT) WITH (
       |  'connector' = 'filesystem', 'path' = '$outA',
       |  'format' = 'parquet');
       |CREATE TABLE snk_b (id BIGINT) WITH (
       |  'connector' = 'filesystem', 'path' = '$outB',
       |  'format' = 'parquet');
       |INSERT INTO snk_a SELECT id FROM src WHERE id % 2 = 0;
       |INSERT INTO snk_b SELECT id FROM src WHERE id % 2 = 1;
       |""".stripMargin

  private def ids(dir: String): Seq[Long] =
    spark.read.parquet(dir).as[Long].collect().sorted.toSeq

  test("two INSERTs run as two queries; each resumes exactly-once " +
    "across a restart") {
    val src = Files.createTempDirectory("fs_src").toString
    val outA = Files.createTempDirectory("fs_a").toString
    val outB = Files.createTempDirectory("fs_b").toString
    val ckpt = Files.createTempDirectory("fs_ck").toString
    spark.range(0, 6).toDF("id").coalesce(1).write.mode("append").parquet(src)

    val r1 = new ScriptRunner(spark, Some(ckpt))
      .run(script(src, outA, outB))
    assert(r1.queries.size == 2)
    r1.queries.foreach(_.processAllAvailable())
    r1.queries.foreach(_.stop())
    assert(Set("snk_a", "snk_b").forall(d =>
      Files.isDirectory(java.nio.file.Paths.get(ckpt, d, "commits"))),
      "each query checkpoints under <root>/<sink>")
    assert(ids(outA) == Seq(0L, 2L, 4L))
    assert(ids(outB) == Seq(1L, 3L, 5L))

    // resume from each query's checkpoint: only the new file is processed
    spark.range(6, 10).toDF("id").coalesce(1).write.mode("append").parquet(src)
    val r2 = new ScriptRunner(spark, Some(ckpt))
      .run(script(src, outA, outB))
    assert(r2.queries.size == 2)
    r2.queries.foreach(_.processAllAvailable())
    r2.queries.foreach(_.stop())
    assert(ids(outA) == Seq(0L, 2L, 4L, 6L, 8L))
    assert(ids(outB) == Seq(1L, 3L, 5L, 7L, 9L))
  }

  test("a script still setting the old fuse key runs as two queries") {
    val src = Files.createTempDirectory("fs_src2").toString
    val outA = Files.createTempDirectory("fs_a2").toString
    val outB = Files.createTempDirectory("fs_b2").toString
    spark.range(0, 4).toDF("id").coalesce(1).write.mode("append").parquet(src)
    // graft.* keys pass through to the session conf; nothing reads this one
    val r = new ScriptRunner(spark,
      Some(Files.createTempDirectory("fs_ck2").toString))
      .run("SET 'graft.exec.statement-set.fuse' = 'true';\n" +
        script(src, outA, outB))
    assert(r.queries.size == 2)
    r.queries.foreach(_.processAllAvailable())
    r.queries.foreach(_.stop())
    assert(ids(outA) == Seq(0L, 2L))
    assert(ids(outB) == Seq(1L, 3L))
  }

  test("a stateless and an aggregate INSERT start as two queries") {
    val src = Files.createTempDirectory("fs_src3").toString
    val out = Files.createTempDirectory("fs_o3").toString
    spark.range(0, 4).toDF("id").coalesce(1).write.mode("append").parquet(src)
    val s =
      s"""CREATE TABLE src (id BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$src',
         |  'format' = 'parquet');
         |CREATE TABLE snk_c (id BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$out',
         |  'format' = 'parquet');
         |CREATE TABLE agg_snk (n BIGINT, PRIMARY KEY (n) NOT ENFORCED)
         |  WITH ('connector' = 'memory');
         |INSERT INTO snk_c SELECT id FROM src;
         |INSERT INTO agg_snk SELECT COUNT(*) FROM src;
         |""".stripMargin
    val r = new ScriptRunner(spark,
      Some(Files.createTempDirectory("fs_ck3").toString)).run(s)
    assert(r.queries.size == 2)
    r.queries.foreach(_.processAllAvailable())
    r.queries.foreach(_.stop())
  }

  test("streaming DISTINCT fails with Spark's AnalysisException") {
    val src = Files.createTempDirectory("fs_src4").toString
    spark.range(0, 4).toDF("id").coalesce(1).write.mode("append").parquet(src)
    val s =
      s"""CREATE TABLE src (id BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$src',
         |  'format' = 'parquet');
         |CREATE TABLE snk_d (id BIGINT) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '${Files.createTempDirectory("fs_o4a").toString}',
         |  'format' = 'parquet');
         |CREATE TABLE snk_e (id BIGINT) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '${Files.createTempDirectory("fs_o4b").toString}',
         |  'format' = 'parquet');
         |INSERT INTO snk_d SELECT id FROM src;
         |INSERT INTO snk_e SELECT DISTINCT id FROM src;
         |""".stripMargin
    // Spark's unsupported-operation error (streaming aggregation in
    // append mode without watermark) surfaces at query start; a query
    // that "succeeds" would be a per-micro-batch distinct.
    val outcome: Either[Throwable, Int] =
      try {
        val r = new ScriptRunner(spark,
          Some(Files.createTempDirectory("fs_ck4").toString)).run(s)
        try { r.queries.foreach(_.processAllAvailable()) }
        finally r.queries.foreach(_.stop())
        Right(r.queries.size)
      } catch { case e: org.apache.spark.sql.AnalysisException => Left(e) }
    assert(outcome.isLeft,
      s"streaming DISTINCT ran as $outcome queries instead of failing")
  }

  test("streaming EXCEPT and INTERSECT fail with Spark's AnalysisException") {
    // like DISTINCT: Spark raises its unsupported-operation error; a
    // query that "succeeds" would apply per-batch set semantics
    for (op <- Seq("EXCEPT", "INTERSECT")) {
      val src = Files.createTempDirectory("fs_src6").toString
      spark.range(0, 4).toDF("id").coalesce(1).write.mode("append")
        .parquet(src)
      val s =
        s"""CREATE TABLE src (id BIGINT) WITH (
           |  'connector' = 'filesystem', 'path' = '$src',
           |  'format' = 'parquet');
           |CREATE TABLE snk_h (id BIGINT) WITH (
           |  'connector' = 'filesystem',
           |  'path' = '${Files.createTempDirectory("fs_o6a").toString}',
           |  'format' = 'parquet');
           |CREATE TABLE snk_i (id BIGINT) WITH (
           |  'connector' = 'filesystem',
           |  'path' = '${Files.createTempDirectory("fs_o6b").toString}',
           |  'format' = 'parquet');
           |INSERT INTO snk_h SELECT id FROM src;
           |INSERT INTO snk_i SELECT id FROM src $op
           |  SELECT id FROM src WHERE id > 1;
           |""".stripMargin
      val outcome: Either[Throwable, Int] =
        try {
          val r = new ScriptRunner(spark,
            Some(Files.createTempDirectory("fs_ck6").toString)).run(s)
          try { r.queries.foreach(_.processAllAvailable()) }
          finally r.queries.foreach(_.stop())
          Right(r.queries.size)
        } catch { case e: org.apache.spark.sql.AnalysisException => Left(e) }
      assert(outcome.isLeft,
        s"streaming $op ran as $outcome queries instead of failing")
    }
  }

  test("LIMIT stays one global limit: 5 rows in total") {
    val src = Files.createTempDirectory("fs_src5").toString
    val outA = Files.createTempDirectory("fs_o5a").toString
    val outB = Files.createTempDirectory("fs_o5b").toString
    spark.range(0, 8).toDF("id").coalesce(1).write.mode("append").parquet(src)
    // Spark runs a stateful StreamingGlobalLimit: 5 rows TOTAL across
    // batches, never 5 per batch
    val s =
      s"""CREATE TABLE src (id BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$src',
         |  'format' = 'parquet');
         |CREATE TABLE snk_f (id BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$outA',
         |  'format' = 'parquet');
         |CREATE TABLE snk_g (id BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$outB',
         |  'format' = 'parquet');
         |INSERT INTO snk_f SELECT id FROM src;
         |INSERT INTO snk_g SELECT id FROM src LIMIT 5;
         |""".stripMargin
    val r = new ScriptRunner(spark,
      Some(Files.createTempDirectory("fs_ck5").toString)).run(s)
    try {
      assert(r.queries.size == 2)
      r.queries.foreach(_.processAllAvailable())
    } finally r.queries.foreach(_.stop())
    assert(spark.read.parquet(outA).count() == 8)
    assert(spark.read.parquet(outB).count() == 5)
  }

  test("SUM/COUNT/MIN/MAX aggregate: exact totals across a restart") {
    val src = Files.createTempDirectory("fs_src7").toString
    val out = Files.createTempDirectory("fs_o7").toString
    val ckpt = Files.createTempDirectory("fs_ck7").toString
    val url = "jdbc:derby:memory:setagg;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      "CREATE TABLE agg_set (k VARCHAR(16) PRIMARY KEY, s BIGINT, " +
        "c BIGINT, mn INT, mx INT)")
    finally conn.close()

    val s =
      s"""CREATE TABLE src (k VARCHAR, v INT) WITH (
         |  'connector' = 'filesystem', 'path' = '$src',
         |  'format' = 'parquet');
         |CREATE TABLE raw_snk (k VARCHAR, v INT) WITH (
         |  'connector' = 'filesystem', 'path' = '$out',
         |  'format' = 'parquet');
         |CREATE TABLE agg_set (k VARCHAR, s BIGINT, c BIGINT,
         |  mn INT, mx INT, PRIMARY KEY (k) NOT ENFORCED) WITH (
         |  'connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'agg_set', 'dialect' = 'two-step');
         |INSERT INTO raw_snk SELECT k, v FROM src;
         |INSERT INTO agg_set SELECT k, SUM(v) AS s, COUNT(*) AS c,
         |  MIN(v) AS mn, MAX(v) AS mx FROM src GROUP BY k;
         |""".stripMargin

    def aggRows(): Map[String, (Long, Long, Int, Int)] = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.createStatement()
          .executeQuery("SELECT k, s, c, mn, mx FROM agg_set")
        Iterator.continually(rs).takeWhile(_.next()).map(r =>
          r.getString(1) -> ((r.getLong(2), r.getLong(3),
            r.getInt(4), r.getInt(5)))).toMap
      } finally c.close()
    }

    import spark.implicits._
    Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(src)
    val r1 = new ScriptRunner(spark, Some(ckpt)).run(s)
    assert(r1.queries.size == 2)
    r1.queries.foreach(_.processAllAvailable())
    r1.queries.foreach(_.stop())
    assert(aggRows() == Map("a" -> ((3L, 2L, 1, 2)), "b" -> ((3L, 1L, 3, 3))))
    assert(spark.read.parquet(out).count() == 3)

    // restart from the checkpoints: the aggregate's state store carries
    // the totals — cross-restart sums/counts/min/max stay exact
    Seq(("a", 10), ("c", 5)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(src)
    val r2 = new ScriptRunner(spark, Some(ckpt)).run(s)
    assert(r2.queries.size == 2)
    r2.queries.foreach(_.processAllAvailable())
    r2.queries.foreach(_.stop())
    assert(aggRows() == Map(
      "a" -> ((13L, 3L, 1, 10)),
      "b" -> ((3L, 1L, 3, 3)),
      "c" -> ((5L, 1L, 5, 5))))
    assert(spark.read.parquet(out).count() == 5)
  }

  test("AVG aggregate: exact averages from its own query") {
    val src = Files.createTempDirectory("fs_src8").toString
    import spark.implicits._
    Seq(("a", 1), ("a", 2), ("b", 5)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(src)
    val url = "jdbc:derby:memory:avgagg;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      "CREATE TABLE avg_snk (k VARCHAR(16) PRIMARY KEY, a DOUBLE)")
    finally conn.close()
    val s =
      s"""CREATE TABLE src (k VARCHAR, v INT) WITH (
         |  'connector' = 'filesystem', 'path' = '$src',
         |  'format' = 'parquet');
         |CREATE TABLE raw_snk2 (k VARCHAR, v INT) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '${Files.createTempDirectory("fs_o8").toString}',
         |  'format' = 'parquet');
         |CREATE TABLE avg_snk (k VARCHAR, a DOUBLE,
         |  PRIMARY KEY (k) NOT ENFORCED) WITH (
         |  'connector' = 'jdbc', 'url' = '$url',
         |  'table-name' = 'avg_snk', 'dialect' = 'two-step');
         |INSERT INTO raw_snk2 SELECT k, v FROM src;
         |INSERT INTO avg_snk SELECT k, AVG(v) AS a FROM src GROUP BY k;
         |""".stripMargin
    val r = new ScriptRunner(spark,
      Some(Files.createTempDirectory("fs_ck8").toString)).run(s)
    try {
      assert(r.queries.size == 2)
      r.queries.foreach(_.processAllAvailable())
    } finally r.queries.foreach(_.stop())
    val c = java.sql.DriverManager.getConnection(url)
    val avgs = try {
      val rs = c.createStatement().executeQuery("SELECT k, a FROM avg_snk")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => r.getString(1) -> r.getDouble(2)).toMap
    } finally c.close()
    assert(avgs == Map("a" -> 1.5, "b" -> 5.0))
  }
}
