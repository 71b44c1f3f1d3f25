package graft.sqlgate

import graft.operators.{PatternMeasure, PatternVar, RowPattern, RowPatternSpec}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, FunctionTableSubqueryArgumentExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** `MATCH_RECOGNIZE` (SQL:2016 row-pattern recognition) gate dialect.
  *
  * The reference's SQL contract is "whatever Flink SQL accepts"
  * (`/root/reference/README.md` §四 "sql语法问题 flink官方文档"), and
  * Flink 1.13 SQL includes MATCH_RECOGNIZE for CEP. Spark has no
  * row-pattern operator, so the gate parses the clause and routes the
  * source through [[graft.operators.RowPattern]] — a per-key
  * backtracking matcher with Flink-exact semantics on the supported
  * subset. The clause becomes a call of the session table function
  * `graft_match_recognize(TABLE(src), '<clause>')`, whose builder runs
  * the matcher when the statement is analyzed. (An earlier round
  * rewrote to chained window minima, which silently emitted only the
  * earliest match per key with relaxed contiguity; both deviations are
  * gone — strict contiguity, every match emitted, SKIP PAST LAST ROW vs
  * SKIP TO NEXT ROW distinguished.)
  *
  * Supported subset (anything outside raises IllegalArgumentException —
  * the gate NEVER silently degrades semantics):
  *
  *   - `PARTITION BY k1[, k2…]`, `ORDER BY ts` (one ordering column)
  *   - `MEASURES` items of the forms `V.col AS a`, `FIRST(V.col) AS a`,
  *     `LAST(V.col) AS a` (bare `V.col` = LAST, Flink's ONE ROW PER
  *     MATCH final-state semantics)
  *   - `ONE ROW PER MATCH` (the default; ALL ROWS PER MATCH rejected)
  *   - `AFTER MATCH SKIP PAST LAST ROW` (default) / `SKIP TO NEXT ROW`
  *   - `PATTERN (A B+ C* D? …)` with greedy or reluctant (`+?` `*?`
  *     `??`) quantifiers; variables with no DEFINE entry are
  *     always-true (Flink's relaxed-contiguity spelling is an undefined
  *     `G*` between stages); at least one variable must be required
  *   - `WITHIN INTERVAL 'n' UNIT` (overall match duration bound)
  *   - `DEFINE V AS <row-local predicate>` — the predicate may reference
  *     only `V.`-prefixed columns of its own variable (no cross-variable
  *     or FIRST/LAST/PREV/NEXT references)
  *
  * Batch sources route through [[RowPattern.apply]]; STREAMING sources
  * route through [[RowPattern.streaming]] — the same matcher over
  * watermark-ripened keyed buffers (append mode), requiring a WITHIN
  * bound and a `WATERMARK FOR <order col>` declaration in the source
  * DDL (both enforced loudly). Internal columns use the `__graft_mr_`
  * prefix and collide loudly (RowPattern's reserved-prefix require),
  * never silently.
  */
object MatchRecognizeRewrite {

  private val Keyword = """(?i)\bMATCH_RECOGNIZE\b""".r

  /** The session table function a clause is rewritten to. */
  private[sqlgate] val FunctionName = "graft_match_recognize"

  /** The session-free rewrite: each `FROM src MATCH_RECOGNIZE (…)`
    * becomes `FROM graft_match_recognize(TABLE(src), '…')`, any alias
    * after the block kept. The clause is parsed here as well, so an
    * out-of-subset script is rejected with the same loud errors
    * pre-flight as at run time.
    */
  def apply(sql: String): String =
    rewrite(sql)((src, block) =>
      s"$FunctionName(TABLE($src), ${SqlLexer.quote(block)})")

  /** Replace each clause, `FROM` kept, by `f(src, block)`. */
  private[sqlgate] def rewrite(sql: String)(
      f: (String, String) => String): String =
    SqlLexer.findFirst(sql, Keyword) match {
      case None => sql
      case Some(m) =>
        val head = sql.substring(0, m.start)
        val FromRe = """(?is)(.*\bFROM\s+)([`\w.]+)\s*$""".r
        val (prefix, src) = head match {
          case FromRe(p, t) => (p, t)
          case _ => throw new IllegalArgumentException(
            "MATCH_RECOGNIZE must directly follow FROM <table>")
        }
        val open = sql.indexOf('(', m.end)
        require(open >= 0, "MATCH_RECOGNIZE requires a parenthesized block")
        val close = SqlLexer.closeParen(sql, open)
        require(close > 0, "unbalanced parentheses in MATCH_RECOGNIZE block")
        val block = sql.substring(open + 1, close)
        parse(block)
        rewrite(prefix + f(src, block) + sql.substring(close + 1))(f)
    }

  /** The builder of `graft_match_recognize(TABLE(src), '<clause>')`:
    * batch sources route through [[RowPattern.apply]], streaming ones
    * through [[RowPattern.streaming]].
    */
  private[sqlgate] def function(spark: SparkSession)(
      args: Seq[Expression]): LogicalPlan = args match {
    case Seq(t: FunctionTableSubqueryArgumentExpression, block) =>
      // gate knob for the backtracking failsafe: SET
      // 'graft.match-recognize.step-budget' = '<n>' (ScriptRunner
      // forwards graft.* keys into the session conf)
      val spec = parse(String.valueOf(block.eval())).copy(stepBudget =
        spark.conf.getOption("graft.match-recognize.step-budget")
          .map(_.trim.toLong).getOrElse(RowPattern.DefaultStepBudget))
      val src = GraftSqlBridge.ofRows(spark, t.plan)
      (if (src.isStreaming) RowPattern.streaming(src, spec)
      else RowPattern(src, spec)).queryExecution.analyzed
    case _ => throw new IllegalArgumentException(
      s"$FunctionName expects (TABLE(src), '<MATCH_RECOGNIZE block>')")
  }

  private def splitTop(s: String): Seq[String] =
    SqlLexer.splitTopLevel(s).filter(_.nonEmpty)

  private def find(re: scala.util.matching.Regex, s: String,
      what: String): java.util.regex.MatchResult =
    SqlLexer.findFirst(s, re).getOrElse(
      throw new IllegalArgumentException(s"MATCH_RECOGNIZE: missing $what"))

  private val msPerUnit = Map(
    "second" -> 1000L, "minute" -> 60000L, "hour" -> 3600000L,
    "day" -> 86400000L)

  /** Parse the clause body into a [[RowPatternSpec]]. */
  private[sqlgate] def parse(block: String): RowPatternSpec = {
    if (SqlLexer.findFirst(block, """(?i)\bALL\s+ROWS\s+PER\s+MATCH""".r).isDefined)
      throw new IllegalArgumentException(
        "MATCH_RECOGNIZE: only ONE ROW PER MATCH is supported")
    val skipPast = SqlLexer.findFirst(block,
      """(?i)\bAFTER\s+MATCH\s+SKIP\s+(PAST\s+LAST\s+ROW|TO\s+NEXT\s+ROW)|\bAFTER\s+MATCH\b""".r) match {
      case None => true // Flink's default is SKIP PAST LAST ROW
      case Some(m) => Option(m.group(1)) match {
        case Some(g) => g.toUpperCase(java.util.Locale.ROOT).startsWith("PAST")
        case None => throw new IllegalArgumentException(
          "MATCH_RECOGNIZE: only SKIP PAST LAST ROW / SKIP TO NEXT ROW " +
            "are supported")
      }
    }

    val pks = splitTop(find(
      """(?is)\bPARTITION\s+BY\s+(.*?)\s+ORDER\s+BY""".r, block,
      "PARTITION BY … ORDER BY").group(1)).map(_.replace("`", ""))
    val ord = find(
      """(?is)\bORDER\s+BY\s+([`\w.]+)\s+MEASURES""".r, block,
      "ORDER BY <one column> before MEASURES").group(1).replace("`", "")
    val measuresTxt = find(
      """(?is)\bMEASURES\s+(.*?)\s*(?=\bONE\s+ROW\b|\bAFTER\s+MATCH\b|\bPATTERN\b)""".r,
      block, "MEASURES").group(1)
    val patternTxt = find(
      """(?is)\bPATTERN\s*\(([^)]*)\)""".r, block, "PATTERN (…)").group(1)
    val within = SqlLexer.findFirst(block,
      """(?is)\bWITHIN\s+INTERVAL\s+'(\d+)'\s+(\w+)""".r).map { m =>
        val u = m.group(2).toLowerCase(java.util.Locale.ROOT).stripSuffix("s")
        m.group(1).toLong * msPerUnit.getOrElse(u,
          throw new IllegalArgumentException(
            s"MATCH_RECOGNIZE: unsupported WITHIN unit ${m.group(2)}"))
      }
    val defineTxt = find(
      """(?is)\bDEFINE\s+(.*)$""".r, block, "DEFINE").group(1)

    // DEFINE entries: VAR AS <row-local predicate>
    val DefRe = """(?is)^(\w+)\s+AS\s+(.*)$""".r
    val defs: Map[String, String] = splitTop(defineTxt).map {
      case DefRe(v, pred) => v.toUpperCase(java.util.Locale.ROOT) -> pred.trim
      case other => throw new IllegalArgumentException(
        s"MATCH_RECOGNIZE: cannot parse DEFINE entry '$other'")
    }.toMap

    val VarRe = """(\w+)(\+\?|\*\?|\?\?|[+*?])?""".r
    def parseVar(v: String, q: String): PatternVar = {
      val name = v.toUpperCase(java.util.Locale.ROOT)
      val (minRep, maxRep, greedy) = q match {
        case null | "" => (1, 1, true)
        case "+"  => (1, Int.MaxValue, true)
        case "+?" => (1, Int.MaxValue, false)
        case "*"  => (0, Int.MaxValue, true)
        case "*?" => (0, Int.MaxValue, false)
        case "?"  => (0, 1, true)
        case "??" => (0, 1, false)
      }
      val cond = defs.get(name).map { pred =>
        // strip the variable's own prefix; reject cross-variable and
        // navigation references (not row-local)
        for (o <- defs.keys if o != name)
          if (SqlLexer.findFirst(pred, s"(?i)\\b$o\\.".r).isDefined)
            throw new IllegalArgumentException(
              s"MATCH_RECOGNIZE: DEFINE $name references $o — only " +
                "row-local predicates are supported")
        if (SqlLexer.findFirst(pred,
            """(?i)\b(?:FIRST|LAST|PREV|NEXT)\s*\(""".r).isDefined)
          throw new IllegalArgumentException(
            s"MATCH_RECOGNIZE: DEFINE $name uses navigation functions" +
              " — only row-local predicates are supported")
        SqlLexer.replaceAll(pred, s"(?i)\\b$name\\.".r)(_ => "")
      }
      PatternVar(name, minRep, maxRep, greedy, cond)
    }
    val vars: Seq[PatternVar] = patternTxt.trim.split("""\s+""").toSeq.map {
      case VarRe(v, q) => parseVar(v, q)
      case other => throw new IllegalArgumentException(
        s"MATCH_RECOGNIZE: cannot parse PATTERN variable '$other'")
    }
    require(vars.exists(_.cond.isDefined),
      "MATCH_RECOGNIZE: PATTERN has no DEFINE'd variables")
    require(vars.exists(_.minRep >= 1),
      "MATCH_RECOGNIZE: pattern where every variable is optional would " +
        "permit empty matches — at least one variable must be required")

    // MEASURES → FIRST/LAST/bare over pattern variables
    val MFirst = """(?is)^FIRST\s*\(\s*(\w+)\.([`\w]+)\s*\)$""".r
    val MLast = """(?is)^LAST\s*\(\s*(\w+)\.([`\w]+)\s*\)$""".r
    val MBare = """(?is)^(\w+)\.([`\w]+)$""".r
    val MeasRe = """(?is)^(.*?)\s+AS\s+(\w+)$""".r
    def measure(v: String, c: String, first: Boolean,
        alias: String): PatternMeasure = {
      val name = v.toUpperCase(java.util.Locale.ROOT)
      require(vars.exists(_.name == name),
        s"MATCH_RECOGNIZE: measure references unknown variable $v")
      PatternMeasure(name, c.replace("`", ""), first, alias)
    }
    val measures = splitTop(measuresTxt).map {
      case MeasRe(expr, alias) => expr.trim match {
        case MFirst(v, c) => measure(v, c, first = true, alias)
        case MLast(v, c)  => measure(v, c, first = false, alias)
        case MBare(v, c)  => measure(v, c, first = false, alias)
        case other => throw new IllegalArgumentException(
          s"MATCH_RECOGNIZE: unsupported measure '$other' — use " +
            "V.col, FIRST(V.col) or LAST(V.col)")
      }
      case other => throw new IllegalArgumentException(
        s"MATCH_RECOGNIZE: measure '$other' lacks an AS alias")
    }

    RowPatternSpec(pks, ord, vars, measures, within, skipPast)
  }
}
