package graft.sqlgate

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Unit tests for the statement layer, mirroring the reference's own test
  * surface (`TestSqlCommand.java:55-77` classifier cases, splitter
  * comment/semicolon semantics of `SqlFileParser.java:25-55`).
  */
class SqlGateSpec extends AnyFunSuite {

  // --- splitter ---------------------------------------------------------

  test("splitter: comments, blanks, multi-line accumulation") {
    val script =
      """-- job: demo
        |CREATE TABLE src (
        |  id INT
        |) WITH ('connector' = 'datagen');
        |
        |-- another comment
        |INSERT INTO snk SELECT * FROM src;
        |""".stripMargin
    val stmts = SqlSplitter.split(script)
    assert(stmts.size == 2)
    assert(stmts.head.startsWith("CREATE TABLE src"))
    assert(stmts(1) == "INSERT INTO snk SELECT * FROM src")
  }

  test("splitter: missing trailing semicolon tolerated") {
    assert(SqlSplitter.split("SET a=b") == Seq("SET a=b"))
  }

  test("splitter: string literals shield ' -- ' and ';' from the scanner") {
    val s1 = SqlSplitter.split(
      "INSERT INTO p SELECT concat(name, ' -- ', city) FROM s;")
    assert(s1 == Seq("INSERT INTO p SELECT concat(name, ' -- ', city) FROM s"))
    val s2 = SqlSplitter.split(
      """INSERT INTO p SELECT 'ends with;
        |more' FROM s;
        |SET a=b;""".stripMargin)
    assert(s2.size == 2)
    assert(s2.head.contains("'ends with;\nmore'"))
    // real inline comment still stripped
    val s3 = SqlSplitter.split("SET a=b; -- trailing note")
    assert(s3 == Seq("SET a=b"))
  }

  test("splitter properties: every emitted statement is nonempty and " +
    "comment-free; statement count matches semicolons") {
    val word = Gen.identifier.map(_.take(8)).suchThat(_.nonEmpty)
    val lists = Gen.listOfN(5, word)
    (0 until 100).foreach { i =>
      val ws = lists.apply(Gen.Parameters.default, Seed(i.toLong)).get
      val script = ws.map(w => s"SELECT $w;").mkString("\n-- noise\n", "\n", "")
      val stmts = SqlSplitter.split(script)
      assert(stmts.size == ws.size, s"seed $i: $script")
      assert(stmts.forall(s => s.nonEmpty && !s.contains("--")))
    }
  }

  // --- classifier (reference TestSqlCommand cases) ----------------------

  test("classifier: command kinds and operand extraction") {
    def cmd(s: String) = SqlCommand.classify(s).map(_.command)
    assert(cmd("SHOW CATALOGS").contains(SqlCommand.ShowCatalogs))
    assert(cmd("show tables").contains(SqlCommand.ShowTables))
    assert(cmd("USE CATALOG hive").contains(SqlCommand.UseCatalog))
    assert(cmd("USE mydb").contains(SqlCommand.Use))
    assert(cmd("SET table.exec.mini-batch.enabled = true").contains(SqlCommand.Set))
    assert(cmd("BEGIN STATEMENT SET").contains(SqlCommand.BeginStatementSet))
    assert(cmd("END").contains(SqlCommand.End))
    assert(cmd("INSERT INTO t SELECT 1").contains(SqlCommand.InsertInto))
    assert(cmd("insert overwrite t select 1").contains(SqlCommand.InsertOverwrite))
    assert(cmd("CREATE TABLE t (a INT) WITH ('connector'='print')")
      .contains(SqlCommand.CreateTable))
    assert(cmd("CREATE VIEW v AS SELECT 1").contains(SqlCommand.CreateView))
    assert(cmd("CREATE TEMPORARY FUNCTION f AS 'com.x.F'")
      .contains(SqlCommand.CreateFunction))
    assert(cmd("DROP VIEW v").contains(SqlCommand.DropView))
    assert(cmd("ALTER TABLE t RENAME TO u").contains(SqlCommand.AlterTable))
    assert(cmd("SELECT * FROM t").contains(SqlCommand.Select))
    val set = SqlCommand.classify("SET k = v").get
    assert(set.operands.drop(1) == Seq("k", "v"))
    val useCat = SqlCommand.classify("USE CATALOG hive").get
    assert(useCat.operands == Seq("hive"))
  }

  // --- connector DDL parser --------------------------------------------

  test("TableSpec: demo_1-shaped DDL with computed col, watermark, PK") {
    val ddl =
      """CREATE TABLE source_table (
        |  f0 INT,
        |  f1 INT,
        |  f3 VARCHAR,
        |  amnount DOUBLE,
        |  proctime AS PROCTIME(),
        |  ts TIMESTAMP(3),
        |  WATERMARK FOR ts AS ts - INTERVAL '20' SECOND,
        |  PRIMARY KEY (f0) NOT ENFORCED
        |) WITH (
        |  'connector' = 'kafka',
        |  'topic' = 'flink_test',
        |  'properties.bootstrap.servers' = 'h1:9092',
        |  'json.ignore-parse-errors' = 'true'
        |)""".stripMargin
    val spec = TableSpec.parse(ddl)
    assert(spec.name == "source_table")
    assert(spec.columns.map(_._1) == Seq("f0", "f1", "f3", "amnount", "ts"))
    assert(spec.computed == Seq(("proctime", "PROCTIME()")))
    assert(spec.watermark.contains(("ts", "20 seconds")))
    assert(spec.primaryKey == Seq("f0"))
    assert(spec.connector == "kafka")
    assert(spec.options("json.ignore-parse-errors") == "true")
    assert(spec.schema.fieldNames.toSeq == Seq("f0", "f1", "f3", "amnount", "ts"))
    assert(spec.schema("f3").dataType.typeName == "string")
    assert(spec.schema("ts").dataType.typeName == "timestamp")
  }

  test("TableSpec: backticked watermark, CONSTRAINT pk, malformed clause fails loud") {
    val spec = TableSpec.parse(
      """CREATE TABLE t (
        |  id INT,
        |  ts TIMESTAMP(3),
        |  WATERMARK FOR `ts` AS `ts` - INTERVAL '5' SECOND,
        |  CONSTRAINT pk PRIMARY KEY (id) NOT ENFORCED
        |) WITH ('connector' = 'print')""".stripMargin)
    assert(spec.watermark.contains(("ts", "5 seconds")))
    assert(spec.primaryKey == Seq("id"))
    val e = intercept[IllegalArgumentException] {
      TableSpec.parse(
        """CREATE TABLE t (id INT,
          |  WATERMARK FOR ts AS other_col - INTERVAL '5' SECOND
          |) WITH ('connector' = 'print')""".stripMargin)
    }
    assert(e.getMessage.contains("unparseable constraint clause"))
  }

  test("TableSpec: splitTopLevel respects parens and quotes") {
    assert(SqlLexer.splitTopLevel("a INT, b DECIMAL(10,5), c VARCHAR")
      .map(_.trim) == Seq("a INT", "b DECIMAL(10,5)", "c VARCHAR"))
  }

  // --- upsert SQL -------------------------------------------------------

  test("JdbcUpsert: ON DUPLICATE KEY UPDATE shape") {
    val sql = JdbcUpsert.upsertSql("sync_test",
      Seq("day_time", "total_gmv"), Seq("day_time"))
    assert(sql == "INSERT INTO sync_test (day_time, total_gmv) VALUES (?, ?) " +
      "ON DUPLICATE KEY UPDATE total_gmv = VALUES(total_gmv)")
  }
}
