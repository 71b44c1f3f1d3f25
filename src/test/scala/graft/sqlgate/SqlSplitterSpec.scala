package graft.sqlgate

import org.scalatest.funsuite.AnyFunSuite

/** Statement ends follow [[SqlLexer]]'s literal and comment rules. */
class SqlSplitterSpec extends AnyFunSuite {

  test("escaped quotes, quoted identifiers and block comments do not " +
    "move statement ends") {
    val script =
      """INSERT INTO p SELECT 'it\'s' FROM s;
        |INSERT INTO p SELECT `it's` FROM s;
        |INSERT INTO p SELECT "it's" FROM s;
        |INSERT INTO p SELECT 1 /* ;
        |  ; */ FROM s;
        |SET a=b;""".stripMargin
    assert(SqlSplitter.split(script) == Seq(
      "INSERT INTO p SELECT 'it\\'s' FROM s",
      "INSERT INTO p SELECT `it's` FROM s",
      "INSERT INTO p SELECT \"it's\" FROM s",
      "INSERT INTO p SELECT 1\nFROM s",
      "SET a=b"))
  }
}
