package graft.functions

import graft.SparkSpec
import graft.sqlgate.ScriptRunner
import org.apache.spark.sql.functions._

/** UDF / UDAF / UDTF surface: direct registration and via the gate's
  * `CREATE FUNCTION name AS 'class'` DDL (reference UDF contract).
  */
class UdxSpec extends SparkSpec {

  test("scalar UDF + Aggregator UDAF + generator UDTF") {
    import spark.implicits._
    spark.udf.register("norm", Udx.normalize)
    spark.udf.register("dsum", udaf(new Udx.DecimalSum))
    spark.udf.register("ngrams", Udx.ngrams)

    val df = Seq(("  Hello   World ", 1.005), ("FOO bar", 2.005))
      .toDF("s", "x")
    df.createOrReplaceTempView("udx_in")

    val row = spark.sql(
      """SELECT collect_list(norm(s)) AS ns, dsum(x) AS dx FROM udx_in""")
      .collect().head
    assert(row.getSeq[String](0).toSet == Set("hello world", "foo bar"))
    // BigDecimal half-up at scale 2: 1.005→1.01 (stored double is
    // 1.00499... so rounds to 1.00? No: java BigDecimal(double) sees the
    // full binary expansion) — assert the exact deterministic result:
    val expected = Seq(1.005, 2.005).map(v =>
      new java.math.BigDecimal(v).setScale(2, java.math.RoundingMode.HALF_UP))
      .reduce(_.add(_)).doubleValue
    assert(row.getDouble(1) == expected)

    val grams = spark.sql(
      "SELECT explode(ngrams('a b c d', 2)) AS g").as[String].collect()
    assert(grams.toSeq == Seq("a b", "b c", "c d"))
  }

  test("gate: CREATE FUNCTION AS 'class' registers and is usable in INSERT") {
    import spark.implicits._
    val runner = new ScriptRunner(spark, batchMode = true)
    Seq(("  MiXeD Case  ", 1L)).toDF("txt", "k")
      .createOrReplaceTempView("fn_src")
    runner.run(
      """CREATE FUNCTION my_norm AS 'graft.functions.Normalize';
        |CREATE TABLE fn_snk (t VARCHAR, k BIGINT)
        |  WITH ('connector' = 'memory');
        |INSERT INTO fn_snk SELECT my_norm(txt) AS t, k FROM fn_src;
        |""".stripMargin)
    val out = spark.table("fn_snk_out").as[(String, Long)].collect()
    assert(out.toSeq == Seq(("mixed case", 1L)))
  }

  /** Build a real UDF jar `<cls>.jar` at test time: compile a
    * Function<String,String> class `cls` (upper-cases its input and
    * appends "!") that is NOT on the test classpath, and jar it.
    */
  private def upperJar(cls: String,
      jarName: String = ""): java.nio.file.Path = {
    val work = java.nio.file.Files.createTempDirectory("udf_jar")
    val srcDir = work.resolve("src"); java.nio.file.Files.createDirectories(srcDir)
    java.nio.file.Files.write(srcDir.resolve(s"$cls.java"),
      s"""public class $cls implements java.util.function.Function<String, String> {
        |  public String apply(String s) {
        |    return s == null ? null : s.toUpperCase() + "!";
        |  }
        |}""".stripMargin.getBytes("UTF-8"))
    val javac = javax.tools.ToolProvider.getSystemJavaCompiler
    val rc = javac.run(null, null, null, "-d", work.toString,
      srcDir.resolve(s"$cls.java").toString)
    assert(rc == 0, "javac failed")
    // one jar name per class: Spark's file server refuses a second jar
    // of the same file name (addJar only logs that), so it never ships
    val jarPath = work.resolve(if (jarName.nonEmpty) jarName else s"$cls.jar")
    val jos = new java.util.jar.JarOutputStream(
      java.nio.file.Files.newOutputStream(jarPath))
    try {
      jos.putNextEntry(new java.util.zip.ZipEntry(s"$cls.class"))
      jos.write(java.nio.file.Files.readAllBytes(work.resolve(s"$cls.class")))
      jos.closeEntry()
    } finally jos.close()
    jarPath
  }

  test("gate: CREATE FUNCTION ... USING JAR ships and loads an external jar") {
    import spark.implicits._
    val jarPath = upperJar("ExtUpper")
    val runner = new ScriptRunner(spark, batchMode = true)
    Seq(("hello", 1L)).toDF("txt", "k").createOrReplaceTempView("xj_src")
    runner.run(
      s"""CREATE FUNCTION ext_upper AS 'ExtUpper'
         |  LANGUAGE JAVA USING JAR 'file://$jarPath';
         |CREATE TABLE xj_snk (t VARCHAR, k BIGINT)
         |  WITH ('connector' = 'memory');
         |INSERT INTO xj_snk SELECT ext_upper(txt) AS t, k FROM xj_src;
         |""".stripMargin)
    val out = spark.table("xj_snk_out").as[(String, Long)].collect()
    assert(out.toSeq == Seq(("HELLO!", 1L)))
  }

  test("gate: a USING JAR function runs in a streaming INSERT") {
    import spark.implicits._
    val jarPath = upperJar("ExtStreamUpper")
    val dir = java.nio.file.Files.createTempDirectory("xs_src").toString
    Seq(("hello", 1L), ("world", 2L)).toDF("txt", "k")
      .coalesce(1).write.mode("append").parquet(dir)
    val runner = new ScriptRunner(spark, checkpointRoot =
      Some(java.nio.file.Files.createTempDirectory("xs_ckpt").toString))
    val res = runner.run(
      s"""CREATE FUNCTION ext_stream_upper AS 'ExtStreamUpper'
         |  LANGUAGE JAVA USING JAR 'file://$jarPath';
         |CREATE TABLE xs_src (txt VARCHAR, k BIGINT) WITH (
         |  'connector' = 'filesystem', 'path' = '$dir',
         |  'format' = 'parquet');
         |CREATE TABLE xs_snk (t VARCHAR, k BIGINT)
         |  WITH ('connector' = 'memory');
         |INSERT INTO xs_snk SELECT ext_stream_upper(txt) AS t, k FROM xs_src;
         |""".stripMargin)
    assert(res.queries.size == 1)
    res.queries.foreach { q =>
      q.awaitTermination(60000)
      assert(q.exception.isEmpty, q.exception.toString)
    }
    assert(spark.table("xs_snk").as[(String, Long)].collect().sorted.toSeq ==
      Seq(("HELLO!", 1L), ("WORLD!", 2L)))
  }

  test("CREATE FUNCTION USING JAR with a missing jar fails fast") {
    val e = intercept[IllegalArgumentException] {
      Udx.registerFromJar(spark, "ghost_fn", "No.Such.Class",
        "/nonexistent/path/ghost.jar")
    }
    assert(e.getMessage.contains("jar not found"))
  }

  test("USING JAR: a second jar of an added jar's file name from another " +
    "path fails at CREATE FUNCTION; the same path again is fine") {
    import spark.implicits._
    val first = upperJar("ExtSameNameA", "ext_udf.jar")
    val second = upperJar("ExtSameNameB", "ext_udf.jar")
    assert(first.getParent != second.getParent)
    val runner = new ScriptRunner(spark, batchMode = true)
    def create(fn: String, cls: String, jar: java.nio.file.Path): Unit =
      runner.run(s"CREATE FUNCTION $fn AS '$cls' LANGUAGE JAVA " +
        s"USING JAR 'file://$jar';")
    create("ext_same_a", "ExtSameNameA", first)
    val e = intercept[IllegalArgumentException] {
      create("ext_same_b", "ExtSameNameB", second)
    }
    assert(e.getMessage.contains(first.toString) &&
      e.getMessage.contains(second.toString), e.getMessage)
    assert(!spark.catalog.functionExists("ext_same_b"))
    // the same path again (a plain path this time) registers and runs
    runner.run(s"CREATE FUNCTION ext_same_a2 AS 'ExtSameNameA' " +
      s"LANGUAGE JAVA USING JAR '$first';")
    Seq("hi").toDF("txt").createOrReplaceTempView("xsn_src")
    assert(spark.sql("SELECT ext_same_a(txt), ext_same_a2(txt) FROM xsn_src")
      .as[(String, String)].collect().toSeq == Seq(("HI!", "HI!")))
  }

  test("LATERAL TABLE executes: multi-column inline + left-outer explode") {
    import spark.implicits._
    val runner = new ScriptRunner(spark, batchMode = true)
    Seq((1L, "a b c"), (2L, "solo")).toDF("k", "txt")
      .createOrReplaceTempView("lt_src")
    // cross form, 2-column alias → LATERAL VIEW inline over array<struct>
    runner.run(
      """CREATE FUNCTION ngrams_pos AS 'graft.functions.NGramsPos';
        |CREATE TABLE lt_snk (k BIGINT, pos INT, gram VARCHAR)
        |  WITH ('connector' = 'memory');
        |INSERT INTO lt_snk
        |SELECT k, pos, gram FROM lt_src,
        |  LATERAL TABLE(ngrams_pos(txt, 2)) AS t(pos, gram);
        |""".stripMargin)
    assert(spark.table("lt_snk_out").as[(Long, Int, String)].collect().toSet
      == Set((1L, 0, "a b"), (1L, 1, "b c")))
    // left-outer form: a row whose function output is empty ("solo" has
    // no bigram) is kept, null-extended — Flink's ON TRUE contract
    runner.run(
      """CREATE FUNCTION ng_lj AS 'graft.functions.NGrams';
        |CREATE TABLE lt_snk2 (k BIGINT, gram VARCHAR)
        |  WITH ('connector' = 'memory');
        |INSERT INTO lt_snk2
        |SELECT k, gram FROM lt_src
        |LEFT JOIN LATERAL TABLE(ng_lj(txt, 2)) AS s(gram) ON TRUE;
        |""".stripMargin)
    assert(spark.table("lt_snk2_out").as[(Long, String)].collect().toSet
      == Set((1L, "a b"), (1L, "b c"), (2L, null)))
  }

  test("CREATE FUNCTION refuses to rebind a live name") {
    // graft native expression names are reserved regardless of whether
    // GraftFunctions.register ran yet in this session
    val e = intercept[IllegalArgumentException] {
      Udx.registerByClass(spark, "word_ngrams", "graft.functions.NGrams")
    }
    assert(e.getMessage.contains("collides"))
    // Spark builtins are reserved too
    val e2 = intercept[IllegalArgumentException] {
      Udx.registerByClass(spark, "reverse", "graft.functions.Normalize")
    }
    assert(e2.getMessage.contains("collides"))
    // same name + same class re-registers idempotently (resubmission)…
    Udx.registerByClass(spark, "idem_fn", "graft.functions.Normalize")
    Udx.registerByClass(spark, "idem_fn", "graft.functions.Normalize")
    // …but the same name bound to a different implementation is rejected
    val e3 = intercept[IllegalArgumentException] {
      Udx.registerByClass(spark, "idem_fn", "graft.functions.NGrams")
    }
    assert(e3.getMessage.contains("already bound"))
  }

  // --- the oracle-checked gate UDx queries, pinned against native Spark ---

  private val sfDir = "/root/testdata/sf0.001"

  test("q_gate_udf: jar-shipped reverse matches Spark's reverse()") {
    import spark.implicits._
    val out = graft.queries.Gate.queries("q_gate_udf")(spark, sfDir)
      .select($"doc_id", $"rev_lang").as[(Long, String)].collect().toMap
    val exp = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", reverse($"lang")).as[(Long, String)].collect().toMap
    assert(out.nonEmpty && out == exp)
  }

  test("q_gate_udaf: DecimalSum through the gate equals exact decimal sum") {
    import spark.implicits._
    val out = graft.queries.Gate.queries("q_gate_udaf")(spark, sfDir)
      .select($"o_orderstatus", $"total").as[(String, Double)].collect().toMap
    val exp = spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy($"o_orderstatus")
      .agg(graft.Num.dsum2($"o_totalprice").as("total"))
      .as[(String, Double)].collect().toMap
    assert(out.nonEmpty && out == exp)
  }

  test("q_gate_udtf: gate LATERAL VIEW bigrams match native explode") {
    import spark.implicits._
    val out = graft.queries.Gate.queries("q_gate_udtf")(spark, sfDir)
      .as[(Long, String)].collect().sorted.toSeq
    spark.udf.register("ngrams_t", Udx.ngrams)
    val exp = spark.read.parquet(s"$sfDir/documents.parquet")
      .where($"doc_id" % 20 === 0)
      .select($"doc_id", explode(callUDF("ngrams_t", trim($"text"), lit(2))))
      .as[(Long, String)].collect().sorted.toSeq
    assert(out.nonEmpty && out == exp)
  }
}
