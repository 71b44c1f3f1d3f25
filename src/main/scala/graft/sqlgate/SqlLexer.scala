package graft.sqlgate

import java.util.regex.MatchResult
import scala.util.matching.Regex

/** The lexical rules of Spark SQL that the gate's text rewrites need to
  * tell syntax from data: single- and double-quoted literals (backslash
  * and doubled-quote escapes), backtick identifiers (doubled-backtick
  * escape), `--` line comments and nested `/* */` comments. Every
  * keyword search and replacement of [[GraftTvfRewrite]],
  * [[FlinkSqlRewrite]] and [[MatchRecognizeRewrite]] goes through here,
  * so a keyword inside a literal or comment is data and is never
  * rewritten; [[SqlSplitter]] finds statement ends the same way.
  *
  * Every operation assumes its input starts outside any literal or
  * comment (a whole statement, or a slice cut at a code position).
  */
object SqlLexer {

  /** Character classes of [[classify]]. */
  private[sqlgate] final val Code: Byte = 0
  private[sqlgate] final val Quoted: Byte = 1
  private[sqlgate] final val Comment: Byte = 2

  /** The class of each character of `sql`: [[Quoted]] inside a literal
    * or quoted identifier, [[Comment]] inside a comment (delimiters
    * included), [[Code]] elsewhere.
    */
  private[sqlgate] def classify(sql: String): Array[Byte] = {
    val n = sql.length
    val cls = new Array[Byte](n)
    def at(j: Int) = if (j < n) sql.charAt(j) else '\u0000'
    var i = 0
    while (i < n) {
      val start = i
      val span = at(i) match {
        case q @ ('\'' | '"' | '`') =>
          i += 1
          var open = true
          while (open && i < n) {
            val c = at(i)
            if (c == '\\' && q != '`') i += 2
            else if (c == q && at(i + 1) == q) i += 2
            else { open = c != q; i += 1 }
          }
          Quoted
        case '-' if at(i + 1) == '-' =>
          while (i < n && at(i) != '\n') i += 1
          Comment
        case '/' if at(i + 1) == '*' =>
          var depth = 0
          do {
            if (sql.startsWith("/*", i)) { depth += 1; i += 2 }
            else if (sql.startsWith("*/", i)) { depth -= 1; i += 2 }
            else i += 1
          } while (depth > 0 && i < n)
          Comment
        case _ => i += 1; Code
      }
      if (span != Code) java.util.Arrays.fill(cls, start, math.min(i, n), span)
    }
    cls
  }

  /** `code(i)` is true iff `sql(i)` lies outside every literal, quoted
    * identifier and comment (their delimiters included).
    */
  private def codeMask(sql: String): Array[Boolean] = classify(sql).map(_ == Code)

  /** `s` as a single-quoted string literal (backslash escapes). */
  def quote(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Every match of `re` that starts in code, left to right and
    * non-overlapping. A match starting inside a literal or comment is
    * skipped and the search resumes after that literal or comment.
    */
  def findAll(sql: String, re: Regex): Seq[MatchResult] = {
    val code = codeMask(sql)
    val m = re.pattern.matcher(sql)
    val out = Seq.newBuilder[MatchResult]
    var from = 0
    while (from <= sql.length && m.find(from)) {
      if (m.start < sql.length && !code(m.start)) {
        from = m.start
        while (from < sql.length && !code(from)) from += 1
      } else {
        out += m.toMatchResult
        from = if (m.end > m.start) m.end else m.end + 1
      }
    }
    out.result()
  }

  def findFirst(sql: String, re: Regex): Option[MatchResult] =
    findAll(sql, re).headOption

  /** Replace every match of `re` that starts in code with `f(match)`,
    * taken literally.
    */
  def replaceAll(sql: String, re: Regex)(f: MatchResult => String): String = {
    val out = new java.lang.StringBuilder
    var last = 0
    for (m <- findAll(sql, re)) {
      out.append(sql, last, m.start).append(f(m))
      last = m.end
    }
    out.append(sql, last, sql.length).toString
  }

  /** Index of the `)` closing the `(` at `open`, counting only parens in
    * code; -1 when it is never closed.
    */
  def closeParen(sql: String, open: Int): Int = {
    val code = codeMask(sql)
    var depth = 0
    var i = open
    while (i < sql.length) {
      if (code(i)) sql.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** Split on the commas that are in code at paren depth 0; pieces are
    * trimmed, and empty ones kept (`f(a, )` has two arguments).
    */
  def splitTopLevel(s: String): Seq[String] = {
    val code = codeMask(s)
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    for (i <- 0 until s.length if code(i)) s.charAt(i) match {
      case '(' => depth += 1
      case ')' => depth -= 1
      case ',' if depth == 0 => out += s.substring(start, i).trim; start = i + 1
      case _ =>
    }
    out += s.substring(start).trim
    out.result()
  }
}
