package graft.sqlgate

import graft.SparkSpec

/** String literals, quoted identifiers and comments are data: a gate
  * rewrite keyword inside one of them must reach the sink exactly as
  * written and must never run anything. Each script goes through the
  * pre-flight validator and then the runner.
  */
class SqlLexerSpec extends SparkSpec {

  private val docsDdl =
    """create table lex_docs (
      |  doc_id BIGINT, text STRING, lang STRING, source STRING,
      |  n_chars BIGINT
      |) with (
      |  'connector' = 'filesystem',
      |  'path' = '/root/testdata/sf0.001/documents.parquet',
      |  'format' = 'parquet'
      |);""".stripMargin

  /** Run `INSERT INTO <sink> <query>` as the script's last statement
    * (no trailing `;`, so a literal with an odd number of quotes cannot
    * confuse the line-based splitter) and return the sink's notes.
    */
  private def sinkNotes(sink: String, query: String): Seq[String] = {
    val script =
      s"""$docsDdl
         |CREATE TABLE $sink (note STRING) WITH ('connector' = 'memory');
         |INSERT INTO $sink $query""".stripMargin
    val v = SqlValidator.validate(spark, script)
    assert(v.ok, v.errors.mkString("; "))
    new ScriptRunner(spark, batchMode = true).run(script)
    spark.table(s"${sink}_out").collect().map(_.getString(0)).toSeq
  }

  private def literalKept(sink: String, literal: String, value: String) =
    assert(sinkNotes(sink,
      s"SELECT $literal AS note FROM lex_docs LIMIT 1") == Seq(value))

  test("a malformed-looking TVF call inside a literal is not rejected") {
    literalKept("lex_lang_sink", "'call LANG_ID( later'", "call LANG_ID( later")
  }

  test("a TVF call inside a literal runs nothing and reaches the sink") {
    literalKept("lex_profile_sink", "'TABLE(PROFILE(TABLE lex_docs))'",
      "TABLE(PROFILE(TABLE lex_docs))")
  }

  test("window boundary functions inside a literal are not rewritten") {
    literalKept("lex_tumble_sink", "'TUMBLE_END(ts, x)'", "TUMBLE_END(ts, x)")
  }

  test("FOR SYSTEM_TIME AS OF inside a literal is not cut") {
    literalKept("lex_systime_sink", "'see FOR SYSTEM_TIME AS OF p'",
      "see FOR SYSTEM_TIME AS OF p")
  }

  test("MATCH_RECOGNIZE inside a literal is not a clause") {
    literalKept("lex_mr_sink", "'MATCH_RECOGNIZE'", "MATCH_RECOGNIZE")
  }

  test("a TVF call inside a block comment executes nothing") {
    // the commented call names a table that does not exist, so running
    // it would fail the statement
    assert(sinkNotes("lex_comment_sink",
      "SELECT /* TABLE(PROFILE(TABLE lex_missing)) */ 'kept' AS note " +
        "FROM lex_docs LIMIT 1") == Seq("kept"))
  }

  test("a backslash-escaped quote does not end the literal") {
    literalKept("lex_escape_sink", """'it\'s TUMBLE_END(x)'""",
      "it's TUMBLE_END(x)")
  }

  test("a quote inside a backtick identifier does not open a literal") {
    assert(sinkNotes("lex_backtick_sink",
      "SELECT CASE WHEN `it's` > 0 THEN 'TUMBLE_END(x)' END AS note " +
        "FROM (SELECT 1 AS `it's` FROM lex_docs LIMIT 1) q") ==
      Seq("TUMBLE_END(x)"))
  }

  test("doubled quotes, double-quoted literals and nested comments " +
    "are data to the window rewrite") {
    val sql = "SELECT 'a''TUMBLE_END(x)' AS p, \"HOP_END(y)\" AS q " +
      "/* c /* SESSION_END(z) */ TUMBLE_END(z) */ FROM t"
    assert(FlinkSqlRewrite.validate(sql) == sql)
  }
}
