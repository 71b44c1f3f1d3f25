package graft.sqlgate

import graft.SparkSpec
import java.nio.file.Files
import java.sql.DriverManager
import org.apache.spark.sql.AnalysisException

/** Property-style sweep over generated demo_3-shaped statements for the
  * STREAMING keyed-lookup binding (`ScriptRunner.bindKeyedJoins`, which
  * replaces the join on the analyzed plan with a per-partition
  * point-query enrichment). The contract under test is:
  *
  *   every generated statement either (a) produces EXACTLY the rows the
  *   BATCH gate produces for the same statement over the same data (the
  *   keyed slice path — itself oracle-checked by q_gate_lookup_keyed),
  *   or (b) fails with Spark's own analysis error — NEVER a silent
  *   wrong-scope answer.
  *
  * Generated axes: prefix-colliding table names (every case's dim is
  * `<src>_dim`, the demo_3 trap), inner/LEFT/multi-line `LEFT OUTER`
  * join spellings, probe alias styles (AS / bare / none), whitespace
  * fuzz around the ON clause, `--` comments containing join-like text,
  * and a derived-table wrap of the whole join. Scope-sensitive shapes
  * (dim alias re-bound by a FROM or by a derived table in a NESTED
  * scope, the dim's table name re-bound, a backticked dim alias, two
  * dims, a CTE, a reversed ON, a join without FOR SYSTEM_TIME, a view)
  * must give the batch answer; a probe qualifier bound twice is Spark's
  * AMBIGUOUS_REFERENCE.
  */
class KeyedRewriteSweepSpec extends SparkSpec {

  private def derby(db: String): String = {
    val url = s"jdbc:derby:memory:$db;create=true"
    DriverManager.getConnection(url).close()
    url
  }

  // ---- shared fixtures -------------------------------------------------
  private lazy val dimUrl: String = {
    val url = derby("swpdim")
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute(
        "CREATE TABLE swp_dim (id BIGINT PRIMARY KEY, label VARCHAR(24))")
      val ps = c.prepareStatement("INSERT INTO swp_dim VALUES (?, ?)")
      (0L until 60L).foreach { i =>
        ps.setLong(1, i); ps.setString(2, s"label_$i"); ps.addBatch()
      }
      ps.executeBatch()
    } finally c.close()
    url
  }

  // probe rows: two hits on one key, one other hit, one MISSING key
  // (null-extends under LEFT, drops under inner — join-kind sensitive)
  private val probeRows: Seq[(Long, Double)] =
    Seq((7L, 1.5), (7L, 2.5), (42L, 3.0), (999L, 4.0))

  private lazy val probeParquet: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("swp_probe").toString
    probeRows.toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(d)
    d
  }

  private def srcDdl(name: String, streaming: Boolean,
      broker: Option[graft.sources.StubBroker]): String =
    if (streaming)
      s"""create table $name (k BIGINT, v DOUBLE) with (
         |  'connector' = 'kafka', 'topic' = 'swp_topic',
         |  'rest.endpoint' = '${broker.get.endpoint}',
         |  'scan.startup.mode' = 'earliest-offset', 'format' = 'json'
         |);""".stripMargin
    else
      s"""create table $name (k BIGINT, v DOUBLE) with (
         |  'connector' = 'filesystem', 'path' = '$probeParquet',
         |  'format' = 'parquet'
         |);""".stripMargin

  private def dimDdl(name: String): String =
    s"""create table $name (id BIGINT, label VARCHAR) with (
       |  'connector' = 'jdbc', 'url' = '$dimUrl',
       |  'table-name' = 'swp_dim',
       |  'lookup.cache.strategy' = 'keyed',
       |  'lookup.cache.ttl' = '60 s',
       |  'lookup.cache.max-rows' = '50'
       |);""".stripMargin

  /** Run one generated INSERT in BOTH gate modes over the same rows and
    * return (batchRows, streamRows) as comparable sets.
    */
  private def bothModes(i: Int, insertSql: String, extraDdl: String = "")
      : (Set[(Any, Any, Any)], Set[(Any, Any, Any)]) = {
    val src = s"swp_src_$i"; val dim = s"swp_src_${i}_dim"
    val sink = s"swp_sink_$i"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet
    // batch comparator: keyed slice path
    val bRunner = new ScriptRunner(spark, batchMode = true)
    val batch =
      try {
        bRunner.run(
          s"""${srcDdl(src, streaming = false, None)}
             |${dimDdl(dim)}
             |$extraDdl
             |CREATE TABLE $sink (k BIGINT, label STRING, v DOUBLE)
             |WITH ('connector' = 'memory');
             |$insertSql
             |""".stripMargin)
        rows(spark.table(s"${sink}_out"))
      } finally bRunner.close()
    // streaming: the surgery under test, on a real drain
    val broker = new graft.sources.StubBroker("swp_topic", 1)
    val sRunner = new ScriptRunner(spark,
      checkpointRoot = Some(Files.createTempDirectory("swp_ck").toString))
    val stream =
      try {
        probeRows.foreach { case (k, v) =>
          broker.append(0, "null", s"""{"k":$k,"v":$v}""")
        }
        val res = sRunner.run(
          s"""${srcDdl(src, streaming = true, Some(broker))}
             |${dimDdl(dim)}
             |$extraDdl
             |CREATE TABLE $sink (k BIGINT, label STRING, v DOUBLE)
             |WITH ('connector' = 'memory');
             |$insertSql
             |""".stripMargin)
        val q = res.queries.head
        try { q.processAllAvailable(); rows(spark.table(sink)) }
        finally q.stop()
      } finally { sRunner.close(); broker.stop() }
    (batch, stream)
  }

  /** One success-shaped statement from the generation axes. */
  private def genStatement(i: Int, joinKind: String, probeAlias: String,
      dimAlias: String, ws1: String, ws2: String, comment: Boolean,
      wrap: Boolean): String = {
    val src = s"swp_src_$i"; val dim = s"swp_src_${i}_dim"
    val sink = s"swp_sink_$i"
    val (probeRef, q) = probeAlias match {
      case "AS"   => (s"$src AS f$i", s"f$i")
      case "bare" => (s"$src f$i", s"f$i")
      case _      => (src, src)
    }
    val core =
      s"""SELECT $q.k,$ws1$dimAlias.label, $q.v
         |FROM $probeRef
         |$joinKind $dim FOR SYSTEM_TIME AS OF $q.k AS $dimAlias$ws2 ON $q.k = $dimAlias.id""".stripMargin
    val sel = if (wrap) s"SELECT * FROM (\n$core\n) wrapped_t" else core
    val cmt = if (comment)
      s"-- JOIN $dim FOR SYSTEM_TIME AS OF x.k AS zz ON x.k = zz.id\n"
    else ""
    s"INSERT INTO $sink\n$cmt$sel;"
  }

  test("sweep: every generated demo_3 shape rewrites to the batch " +
    "keyed-slice answer exactly (prefix-colliding names, alias styles, " +
    "multi-line LEFT OUTER, comments, derived-table wrap)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val joinKinds =
      Seq("JOIN", "LEFT JOIN", "LEFT\n  OUTER\n  JOIN", "LEFT OUTER JOIN")
    val aliasStyles = Seq("AS", "bare", "none")
    val wsGen = Gen.oneOf(" ", "\n  ", "\t ", "\n")
    val shapeGen = for {
      jk <- Gen.oneOf(joinKinds)
      as <- Gen.oneOf(aliasStyles)
      da <- Gen.oneOf("d", "dd1", "dAlias")
      w1 <- wsGen; w2 <- wsGen
      cm <- Gen.oneOf(true, false)
      wr <- Gen.oneOf(true, false)
    } yield (jk, as, da, w1, w2, cm, wr)
    // seeded draws: reproducible, and forced coverage of the two
    // join-kind extremes (inner drops the missing key, LEFT null-extends)
    val drawn = (1 to 9).map { s =>
      shapeGen.apply(Gen.Parameters.default, Seed(s.toLong)).get
    } ++ Seq(
      ("JOIN", "none", "d", " ", " ", true, false),
      ("LEFT\n  OUTER\n  JOIN", "AS", "dd1", "\n  ", "\n  ", false, true))
    drawn.zipWithIndex.foreach { case ((jk, as, da, w1, w2, cm, wr), ix) =>
      val sqlText = genStatement(ix, jk, as, da, w1, w2, cm, wr)
      val (batch, stream) = bothModes(ix, sqlText)
      // non-vacuous: the missing key must make join kinds distinguishable
      val isLeft = jk.toUpperCase.startsWith("LEFT")
      assert(batch.exists(_._1 == 42L), s"case $ix vacuous:\n$sqlText")
      assert(batch.exists(_._1 == 999L) == isLeft,
        s"case $ix join-kind wrong in batch:\n$sqlText\n$batch")
      assert(stream == batch,
        s"case $ix stream/batch divergence:\n$sqlText\n" +
          s"stream=$stream\nbatch=$batch")
    }
  }

  // a bounded relation over the probe rows, batch in both modes
  private lazy val otherDdl =
    s"""create table swp_other (k BIGINT, v DOUBLE) with (
       |  'connector' = 'filesystem', 'path' = '$probeParquet',
       |  'format' = 'parquet', 'source.bounded' = 'true'
       |);""".stripMargin

  /** Stream rows equal batch rows, and the batch answer holds key 42. */
  private def assertSameRows(what: String, i: Int, stmt: String,
      extraDdl: String = ""): Set[(Any, Any, Any)] = {
    val (batch, stream) = bothModes(i, stmt, extraDdl)
    assert(batch.exists(_._1 == 42L), s"$what vacuous:\n$stmt")
    assert(stream == batch,
      s"$what stream/batch divergence:\n$stmt\nstream=$stream\nbatch=$batch")
    batch
  }

  test("sweep: conflict shapes reject loudly, never silently " +
    "wrong-scope (alias re-bound, nested derived table, dim table " +
    "name re-bound, probe qualifier double-bound)") {
    def base(i: Int) = s"""FROM swp_src_$i f
                  |JOIN swp_src_${i}_dim FOR SYSTEM_TIME AS OF f.k AS d
                  |  ON f.k = d.id""".stripMargin
    // dim ALIAS bound by another plain FROM/JOIN
    assertSameRows("alias re-bound by a cross join", 90,
      s"""INSERT INTO swp_sink_90
         |SELECT f.k, d.label, f.v ${base(90)}
         |CROSS JOIN swp_other d;""".stripMargin, otherDdl)
    // dim alias bound by a DERIVED TABLE in a nested scope: its d.id is
    // the derived table's, so only probe key 42 survives the EXISTS
    val nested = assertSameRows("alias re-bound by a nested derived table",
      92,
      s"""INSERT INTO swp_sink_92
         |SELECT f.k, d.label, f.v ${base(92)}
         |WHERE EXISTS (SELECT 1 FROM (SELECT 42 AS id) d
         |              WHERE d.id = f.k);""".stripMargin)
    assert(nested == Set((42L, "label_42", 3.0)), nested.toString)
    // the dim's TABLE NAME re-bound by an unrelated relation
    assertSameRows("dim table name re-bound", 93,
      s"""INSERT INTO swp_sink_93
         |SELECT f.k, d.label, f.v ${base(93)}
         |CROSS JOIN swp_other AS swp_src_93_dim;""".stripMargin,
      otherDdl)
    // probe qualifier bound twice (subquery re-selecting the probe):
    // Spark's own analysis error, in both modes
    val broker = new graft.sources.StubBroker("swp_topic", 1)
    try {
      Seq(true, false).foreach { streaming =>
        val runner = new ScriptRunner(spark, checkpointRoot =
          Some(Files.createTempDirectory("swp_ck").toString),
          batchMode = !streaming)
        try {
          val e = intercept[AnalysisException] {
            runner.run(
              s"""${srcDdl("swp_src_94", streaming, Some(broker))}
                 |${dimDdl("swp_src_94_dim")}
                 |CREATE TABLE swp_sink_94 (k BIGINT, label STRING, v DOUBLE)
                 |WITH ('connector' = 'memory');
                 |INSERT INTO swp_sink_94
                 |SELECT f.k, d.label, f.v ${base(94)}
                 |CROSS JOIN (SELECT k FROM swp_src_94) f;
                 |""".stripMargin)
          }
          assert(e.getMessage.contains("AMBIGUOUS_REFERENCE"), e.getMessage)
        } finally runner.close()
      }
    } finally broker.stop()
  }

  test("sweep: a backticked dim alias the temporal matcher does not " +
    "accept stays LOUD (keyed dim unreachable), not silent") {
    assertSameRows("backticked dim alias", 91,
      s"""INSERT INTO swp_sink_91
         |SELECT f.k, `d`.label, f.v FROM swp_src_91 f
         |JOIN swp_src_91_dim FOR SYSTEM_TIME AS OF f.k AS `d`
         |  ON f.k = `d`.id;""".stripMargin)
  }

  test("sweep: two keyed dims, a CTE, a subquery, a reversed ON, a join " +
    "without FOR SYSTEM_TIME and a temp view with a column list give " +
    "the batch answer") {
    assertSameRows("two keyed dims", 100,
      s"""INSERT INTO swp_sink_100
         |SELECT f.k, CONCAT(d1.label, '/', d2.label), f.v
         |FROM swp_src_100 f
         |JOIN swp_src_100_dim FOR SYSTEM_TIME AS OF f.k AS d1
         |  ON f.k = d1.id
         |LEFT JOIN swp_two_dim FOR SYSTEM_TIME AS OF f.k AS d2
         |  ON d1.id + 0 = d2.id;""".stripMargin,
      dimDdl("swp_two_dim"))
    assertSameRows("keyed join inside a CTE", 101,
      s"""INSERT INTO swp_sink_101
         |WITH j AS (
         |  SELECT f.k, d.label, f.v FROM swp_src_101 f
         |  LEFT JOIN swp_src_101_dim FOR SYSTEM_TIME AS OF f.k AS d
         |    ON f.k = d.id)
         |SELECT k, label, v FROM j;""".stripMargin)
    // a keyed join inside an IN subquery (over a bounded probe side)
    val sub = assertSameRows("keyed join inside a subquery", 108,
      s"""INSERT INTO swp_sink_108
         |SELECT f.k, 'in' AS label, f.v FROM swp_src_108 f
         |WHERE f.k IN (SELECT o.k FROM swp_other o
         |  JOIN swp_src_108_dim FOR SYSTEM_TIME AS OF o.k AS d
         |    ON o.k = d.id);""".stripMargin, otherDdl)
    assert(!sub.exists(_._1 == 999L), sub.toString)
    assertSameRows("reversed ON", 102,
      s"""INSERT INTO swp_sink_102
         |SELECT f.k, d.label, f.v FROM swp_src_102 f
         |LEFT JOIN swp_src_102_dim FOR SYSTEM_TIME AS OF f.k AS d
         |  ON d.id = f.k;""".stripMargin)
    val plain = assertSameRows("join without FOR SYSTEM_TIME", 103,
      s"""INSERT INTO swp_sink_103
         |SELECT f.k, d.label, f.v FROM swp_src_103 f
         |LEFT JOIN swp_src_103_dim d ON f.k = d.id;""".stripMargin)
    assert(plain.contains((999L, null, 4.0)), plain.toString)
    // a view over the (streaming) keyed join holds its bound plan
    val viewed = assertSameRows("temp view over a keyed join", 104,
      s"""CREATE OR REPLACE TEMPORARY VIEW swp_enr_104 (kk, lbl, vv) AS
         |SELECT f.k, d.label, f.v FROM swp_src_104 f
         |LEFT JOIN swp_src_104_dim FOR SYSTEM_TIME AS OF f.k AS d
         |  ON f.k = d.id;
         |INSERT INTO swp_sink_104 SELECT kk, lbl, vv FROM swp_enr_104;
         |""".stripMargin)
    assert(viewed == probeRows.map { case (k, v) =>
      (k, if (k < 60L) s"label_$k" else null, v)
    }.toSet, viewed.toString)
  }

  test("a keyed dim no probe can serve fails, naming the dim") {
    val dim = "swp_src_109_dim"
    val unbound = Seq(
      "plain scan" -> s"SELECT id, label, 0.0 FROM $dim",
      "dim on the left" ->
        s"SELECT f.k, d.label, f.v FROM $dim d JOIN swp_src_109 f ON f.k = d.id",
      "RIGHT join" -> (s"SELECT f.k, d.label, f.v FROM swp_src_109 f " +
        s"RIGHT JOIN $dim d ON f.k = d.id"),
      "FULL join" -> (s"SELECT f.k, d.label, f.v FROM swp_src_109 f " +
        s"FULL JOIN $dim d ON f.k = d.id"),
      "no probe equality" -> (s"SELECT f.k, d.label, f.v FROM swp_src_109 f " +
        s"JOIN $dim d ON f.k > d.id"))
    val streamingAnd = "streaming ON with a second conjunct" ->
      (s"SELECT f.k, d.label, f.v FROM swp_src_109 f JOIN $dim " +
        "FOR SYSTEM_TIME AS OF f.k AS d ON f.k = d.id AND d.label <> 'x'")
    val broker = new graft.sources.StubBroker("swp_topic", 1)
    try {
      (unbound.map(_ -> false) :+ (streamingAnd -> true)).foreach {
        case ((what, query), streaming) =>
          val runner = new ScriptRunner(spark, checkpointRoot =
            Some(Files.createTempDirectory("swp_ck").toString),
            batchMode = !streaming)
          try {
            val e = intercept[IllegalArgumentException] {
              runner.run(
                s"""${srcDdl("swp_src_109", streaming, Some(broker))}
                   |${dimDdl(dim)}
                   |CREATE TABLE swp_sink_109 (k BIGINT, label STRING,
                   |  v DOUBLE) WITH ('connector' = 'memory');
                   |INSERT INTO swp_sink_109 $query;
                   |""".stripMargin)
            }
            assert(e.getMessage.contains(dim), s"$what: ${e.getMessage}")
            assert(e.getMessage.contains(
              if (streaming) "single-equality" else "only reachable"),
              s"$what: ${e.getMessage}")
          } finally runner.close()
      }
    } finally broker.stop()
  }

  test("batch INSERT into a catalog table over a keyed join equals the " +
    "registry-sink answer") {
    val stmt = (sink: String) =>
      s"""INSERT INTO $sink
         |SELECT f.k, d.label, f.v FROM swp_src_105 f
         |LEFT JOIN swp_src_105_dim FOR SYSTEM_TIME AS OF f.k AS d
         |  ON f.k = d.id;""".stripMargin
    val (registrySink, _) = bothModes(105, stmt("swp_sink_105"))
    val runner = new ScriptRunner(spark, batchMode = true)
    try {
      runner.run(
        s"""${srcDdl("swp_src_105", streaming = false, None)}
           |${dimDdl("swp_src_105_dim")}
           |CREATE TABLE swp_cat_105 (k BIGINT, label STRING, v DOUBLE)
           |USING parquet;
           |CREATE TABLE swp_catp_105 (k BIGINT, label STRING, v DOUBLE,
           |  tag STRING) USING parquet PARTITIONED BY (tag);
           |${stmt("swp_cat_105")}
           |${stmt("swp_catp_105 PARTITION (tag = 'x')")}
           |""".stripMargin)
      def rows(t: String) = spark.table(t).collect()
        .map(r => (r.get(0), r.get(1), r.get(2))).toSet
      assert(registrySink.exists(_._1 == 999L))
      assert(rows("swp_cat_105") == registrySink,
        s"catalog=${rows("swp_cat_105")}\nregistry=$registrySink")
      assert(rows("swp_catp_105") == registrySink)
    } finally {
      runner.close()
      spark.sql("DROP TABLE IF EXISTS swp_cat_105")
      spark.sql("DROP TABLE IF EXISTS swp_catp_105")
    }
  }

  test("literals are data: a keyed dim's name or a whole temporal join " +
    "inside a string literal is never read as SQL") {
    // the second statement only names the (already joined) dim inside a
    // literal: it does not join it, so it is neither bound nor rejected
    val runner = new ScriptRunner(spark, batchMode = true)
    try {
      runner.run(
        s"""${srcDdl("swp_src_106", streaming = false, None)}
           |${dimDdl("swp_src_106_dim")}
           |CREATE TABLE swp_sink_106 (k BIGINT, label STRING, v DOUBLE)
           |WITH ('connector' = 'memory');
           |CREATE TABLE swp_lit_106 (k BIGINT, label STRING, v DOUBLE)
           |WITH ('connector' = 'memory');
           |INSERT INTO swp_sink_106
           |SELECT f.k, d.label, f.v FROM swp_src_106 f
           |JOIN swp_src_106_dim FOR SYSTEM_TIME AS OF f.k AS d
           |  ON f.k = d.id;
           |INSERT INTO swp_lit_106
           |SELECT k, 'swp_src_106_dim' AS label, v FROM swp_src_106;
           |""".stripMargin)
      assert(spark.table("swp_sink_106_out").count() == 3)
      assert(spark.table("swp_lit_106_out").collect().map(_.getString(1))
        .toSet == Set("swp_src_106_dim"))
    } finally runner.close()
    // a streaming keyed join whose literal spells a second temporal join
    // of the same dim: the literal reaches the sink byte-identical
    val lit = "JOIN swp_src_107_dim FOR SYSTEM_TIME AS OF f.k AS z " +
      "ON f.k = z.id"
    val (batch, stream) = bothModes(107,
      s"""INSERT INTO swp_sink_107
         |SELECT f.k, '$lit' AS label, f.v FROM swp_src_107 f
         |JOIN swp_src_107_dim FOR SYSTEM_TIME AS OF f.k AS d
         |  ON f.k = d.id;""".stripMargin)
    assert(stream == batch)
    assert(stream == Set((7L, lit, 1.5), (7L, lit, 2.5), (42L, lit, 3.0)),
      stream.toString)
  }
}
