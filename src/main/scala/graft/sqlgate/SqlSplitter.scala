package graft.sqlgate

/** Statement splitter: the line-based scan of the reference's
  * `SqlFileParser.java:25-55` — skip `--` comment lines and blanks,
  * accumulate lines until one ends with `;`, emit the joined statement.
  * Unlike the reference's naive scan, literals and comments follow
  * [[SqlLexer]]'s rules: a `;` or `--` inside a quoted literal or
  * identifier is data (quote state carries across lines for multi-line
  * literals), comments (`--` and `/* */`, possibly spanning lines) are
  * dropped, and a statement ends where a line's last code character is
  * `;`.
  * Property-tested in SqlGateSpec (comments / semicolons / case).
  */
object SqlSplitter {

  /** Split a SQL script into trimmed statements (no trailing `;`). */
  def split(script: String): Seq[String] = {
    val cls = SqlLexer.classify(script)
    val out = Seq.newBuilder[String]
    val buf = new StringBuilder
    var start = 0
    while (start <= script.length) {
      val nl = script.indexOf('\n', start)
      val end = if (nl < 0) script.length else nl
      val kept = new StringBuilder
      var last = ' ' // the line's last code character, blanks aside
      for (i <- start until end if cls(i) != SqlLexer.Comment) {
        val c = script.charAt(i)
        kept.append(c)
        if (cls(i) == SqlLexer.Code && !c.isWhitespace) last = c
        else if (cls(i) == SqlLexer.Quoted) last = ' '
      }
      val line = kept.toString.trim
      if (line.nonEmpty) {
        if (buf.nonEmpty) buf.append('\n')
        buf.append(line)
      }
      if (last == ';') {
        out += buf.toString.stripSuffix(";").trim
        buf.clear()
      }
      start = end + 1
    }
    if (buf.nonEmpty) out += buf.toString.trim // tolerate missing final ;
    out.result().filter(_.nonEmpty)
  }

  /** Split + classify; unclassifiable statements raise, mirroring
    * `SqlFileParser.java:44-50`.
    */
  def parse(script: String): Seq[Classified] =
    split(script).map { stmt =>
      SqlCommand.classify(stmt).getOrElse(
        throw new IllegalArgumentException(
          s"unsupported statement: ${stmt.take(80)}"))
    }
}
