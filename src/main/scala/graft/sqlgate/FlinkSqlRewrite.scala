package graft.sqlgate

import org.apache.spark.sql.SparkSession

/** Flink-SQL → Spark-SQL dialect rewrite for gate-script queries — the
  * surface a reference user's scripts actually exercise beyond what the
  * two parsers share (`docs/sql_demo/demo_4.md:77-84` TUMBLE,
  * `demo_5.md:77-84` HOP, `demo_3.md:94-109` temporal lookup join):
  *
  *   TUMBLE(ts, INTERVAL 'n' U)            → window(ts, 'n u')
  *   HOP(ts, INTERVAL slide, INTERVAL size)→ window(ts, size, slide)
  *                                           (Flink argument order is
  *                                           (time, slide, size); Spark's
  *                                           is (time, size, slide))
  *   SESSION(ts, INTERVAL gap)             → session_window(ts, gap)
  *   TUMBLE_START/_END, HOP_START/_END     → window.start / window.end
  *   SESSION_START/_END                    → session_window.start/.end
  *   FOR SYSTEM_TIME AS OF x.proctime      → removed: a batch JDBC scan
  *                                           is already a per-job snapshot
  *                                           of the dim table, which is
  *                                           the processing-time temporal
  *                                           join semantics for a dim that
  *                                           doesn't change mid-job (the
  *                                           TTL'd refresh path is
  *                                           graft.streaming.LookupJoin)
  *
  * Flink 1.13+ window TVFs (the current documented windowing syntax a
  * reference user's scripts carry) also rewrite, to derived subqueries
  * exposing the TVF's `window_start` / `window_end` / `window_time`
  * columns alongside the source columns:
  *
  *   TABLE(TUMBLE(TABLE s, DESCRIPTOR(c), INTERVAL size))
  *     → (SELECT s.*, epoch-floored start/end scalars FROM s)
  *   TABLE(HOP(TABLE s, DESCRIPTOR(c), INTERVAL slide, INTERVAL size))
  *     → (… LATERAL VIEW explode(sequence of the size/slide window ends
  *        containing c) …) — each row lands in size/slide windows
  *   TABLE(CUMULATE(TABLE s, DESCRIPTOR(c), INTERVAL step, INTERVAL size))
  *     → (… LATERAL VIEW explode(sequence of the growing window ends
  *        ≥ c within c's size-aligned bucket) …) — Spark has no native
  *        cumulate window; the expansion IS the operator, and it stays
  *        whole-stage-codegen'd (sequence + explode + long arithmetic)
  *
  * `window_time` follows Flink's convention (window_end − 1 ms). All
  * window arithmetic is epoch-aligned long µs division, matching both
  * Flink's and Spark's epoch-aligned window start semantics. HOP/CUMULATE
  * require size to be a multiple of slide/step, as Flink itself does.
  *
  * `MATCH_RECOGNIZE` (the SQL:2016 row-pattern clause Flink SQL also
  * accepts) rewrites first, via [[MatchRecognizeRewrite]] — see that
  * object's scaladoc for the supported subset and semantics — and the
  * graft TVFs next, via [[GraftTvfRewrite]]. Both become calls of
  * session table functions ([[register]]), so the rewrite itself runs
  * nothing and needs no session.
  *
  * The rewrites are text rewrites through [[SqlLexer]]: window calls
  * carry only identifiers and INTERVAL literals (no nested parens), so
  * regexes are exact here, and a keyword inside a string literal or a
  * comment is never rewritten. Spark-native queries pass through
  * untouched — every pattern is anchored on a Flink-only keyword.
  */
object FlinkSqlRewrite {

  private val Interval = """INTERVAL\s+'(\d+)'\s+(\w+)"""

  // boundary extractors first: TUMBLE_START contains the token TUMBLE
  private val BoundaryRe =
    """(?i)\b(TUMBLE|HOP|SESSION)_(START|END)\s*\([^)]*\)""".r

  private val TumbleRe =
    ("""(?i)\bTUMBLE\s*\(\s*([`\w.]+)\s*,\s*""" + Interval + """\s*\)""").r
  private val HopRe =
    ("""(?i)\bHOP\s*\(\s*([`\w.]+)\s*,\s*""" + Interval +
      """\s*,\s*""" + Interval + """\s*\)""").r
  private val SessionRe =
    ("""(?i)\bSESSION\s*\(\s*([`\w.]+)\s*,\s*""" + Interval + """\s*\)""").r
  private val SystemTimeRe =
    """(?i)\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+[`\w.]+""".r

  // window TVFs: TABLE(KIND(TABLE src, DESCRIPTOR(col), INTERVAL …[, INTERVAL …]))
  private val TvfHead = """(?i)\bTABLE\s*\(\s*%s\s*\(\s*TABLE\s+([`\w.]+)\s*,\s*DESCRIPTOR\s*\(\s*([`\w.]+)\s*\)\s*,\s*"""
  private val TumbleTvfRe =
    (TvfHead.format("TUMBLE") + Interval + """\s*\)\s*\)""").r
  private val HopTvfRe =
    (TvfHead.format("HOP") + Interval + """\s*,\s*""" + Interval + """\s*\)\s*\)""").r
  private val CumulateTvfRe =
    (TvfHead.format("CUMULATE") + Interval + """\s*,\s*""" + Interval + """\s*\)\s*\)""").r

  private def dur(n: String, unit: String): String =
    s"$n ${unit.toLowerCase(java.util.Locale.ROOT).stripSuffix("s")}s"

  private def micros(n: String, unit: String): Long = {
    val per = unit.toLowerCase(java.util.Locale.ROOT).stripSuffix("s") match {
      case "second" => 1000000L
      case "minute" => 60000000L
      case "hour"   => 3600000000L
      case "day"    => 86400000000L
      case u => throw new IllegalArgumentException(s"unsupported window unit $u")
    }
    n.toLong * per
  }

  /** Start of `col`'s size-aligned bucket, in epoch µs (long division). */
  private def bucket(col: String, size: Long): String =
    s"unix_micros($col) div $size * $size"

  private def tumbleTvf(src: String, col: String, size: Long): String = {
    val ws = bucket(col, size)
    s"(SELECT $src.*, timestamp_micros($ws) AS window_start, " +
      s"timestamp_micros($ws + $size) AS window_end, " +
      s"timestamp_micros($ws + $size - 1000) AS window_time FROM $src)"
  }

  /** HOP/CUMULATE share the explode-the-window-ends shape; only the
    * sequence of ends differs (hop: the size/slide ends whose window
    * contains `col`; cumulate: the growing ends ≥ `col` in its bucket).
    */
  private def explodedTvf(src: String, col: String, startCol: String,
      endsSeq: String): String =
    s"(SELECT $src.*, $startCol AS window_start, " +
      s"timestamp_micros(g_we) AS window_end, " +
      s"timestamp_micros(g_we - 1000) AS window_time FROM $src " +
      s"LATERAL VIEW explode($endsSeq) g_tvf AS g_we)"

  private def hopTvf(src: String, col: String, slide: Long, size: Long): String = {
    require(size % slide == 0,
      s"HOP window size ($size us) must be a multiple of slide ($slide us)")
    val anchor = bucket(col, slide)
    explodedTvf(src, col, s"timestamp_micros(g_we - $size)",
      s"sequence($anchor + $slide, $anchor + $size, $slide)")
  }

  private def cumulateTvf(src: String, col: String, step: Long, size: Long): String = {
    require(size % step == 0,
      s"CUMULATE window size ($size us) must be a multiple of step ($step us)")
    val ws = bucket(col, size)
    explodedTvf(src, col, s"timestamp_micros($ws)",
      s"sequence($ws + (unix_micros($col) - ($ws)) div $step * $step + $step, " +
        s"$ws + $size, $step)")
  }

  /** The whole rewrite, session-free: MATCH_RECOGNIZE clauses first —
    * their block may hold INTERVAL literals of its own (WITHIN) that
    * must not be window-rewritten, and once it is a string literal the
    * later passes skip it — then the graft TVF calls, then the
    * window/dialect text rewrites. The MATCH_RECOGNIZE and graft TVF
    * calls it leaves are session table functions: run the result in a
    * session passed to [[register]].
    */
  def apply(sql: String): String =
    rewriteWindows(GraftTvfRewrite(MatchRecognizeRewrite(sql)))

  // sessions already served by [[register]]; weak keys: stopped
  // sessions must not stay pinned by this static set
  private val registered = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Register, in `spark`, the session table functions the rewritten
    * text calls: one per graft TVF name plus `graft_match_recognize`.
    * Each builder runs its kernel when a statement calling it is
    * analyzed. Once per session: the builders close over `spark`, so a
    * later call for the same session would only replace them with
    * equal ones. The check is on the session, not on its registry: a
    * cloned session's registry already holds its parent's builders,
    * which close over the parent.
    */
  def register(spark: SparkSession): Unit = registered.synchronized {
    if (registered.add(spark)) {
      val registry = spark.sessionState.tableFunctionRegistry
      (GraftTvfRewrite.functions(spark) :+ (MatchRecognizeRewrite.FunctionName ->
        MatchRecognizeRewrite.function(spark) _)).foreach { case (name, build) =>
        registry.createOrReplaceTempFunction(name, build, "scala_udf")
      }
    }
  }

  /** Syntax-validation rewrite: [[apply]], except that a
    * MATCH_RECOGNIZE clause (parsed, so the subset is checked) becomes
    * the placeholder relation `__graft_mr_validated`.
    */
  def validate(sql: String): String =
    rewriteWindows(GraftTvfRewrite(
      MatchRecognizeRewrite.rewrite(sql)((_, _) => "__graft_mr_validated")))

  // Flink's UDTF invocation heads: cross (`FROM t, LATERAL TABLE(f(x))`)
  // and left-outer (`LEFT [OUTER] JOIN LATERAL TABLE(f(x)) … ON TRUE`).
  private val LateralHeadRe =
    """(?i)(,|\bLEFT\s+(?:OUTER\s+)?JOIN)\s+LATERAL\s+TABLE\s*\(""".r
  private val LateralTailRe =
    """(?i)^\s*(?:AS\s+)?(\w+)\s*(?:\(\s*([\w\s,`]*?)\s*\))?(\s*ON\s+TRUE)?""".r
  private val LateralKeywords = Set("where", "group", "order", "having",
    "on", "join", "left", "right", "inner", "full", "cross", "union",
    "limit", "lateral", "as", "select", "from")

  /** Flink's table-function invocation — `FROM t, LATERAL TABLE(fn(args))
    * AS a(c1[, c2…])` and `LEFT JOIN LATERAL TABLE(fn(args)) AS a(cols)
    * ON TRUE` — rewritten to Spark's generator idiom: `LATERAL VIEW
    * [OUTER] explode(fn(args)) a AS c1` for one output column, `inline`
    * for several (the registered function then returns array<struct>).
    * The fn args may nest parens (`fn(trim(x), 2)`), so the call is
    * scanned balanced rather than regex-matched. The alias is required
    * (Flink's own examples always carry one; an un-aliased generator
    * column would get Spark's default name and silently diverge from
    * Flink's f0 — rejected loudly instead).
    */
  private def rewriteLateralTable(sql: String): String = {
    val m = SqlLexer.findFirst(sql, LateralHeadRe) match {
      case None => return sql
      case Some(mm) => mm
    }
    val outer = m.group(1) != ","
    val close = SqlLexer.closeParen(sql, m.end - 1)
    require(close >= 0, "unbalanced parens in LATERAL TABLE: " +
      sql.substring(m.start).take(80))
    val call = sql.substring(m.end, close).trim
    val rest = sql.substring(close + 1)
    val tm = LateralTailRe.findFirstMatchIn(rest).getOrElse(
      throw new IllegalArgumentException(
        s"LATERAL TABLE($call) needs an alias: … AS a(c1[, c2…])"))
    val alias = tm.group(1)
    require(alias != null &&
      !LateralKeywords(alias.toLowerCase(java.util.Locale.ROOT)),
      s"LATERAL TABLE($call) needs an alias: … AS a(c1[, c2…])")
    require(!outer || tm.group(3) != null,
      s"LEFT JOIN LATERAL TABLE($call) requires ON TRUE (Flink's " +
        "left-outer table-function join contract)")
    val cols = Option(tm.group(2)).toSeq
      .flatMap(_.split(",")).map(_.trim.replace("`", ""))
      .filter(_.nonEmpty)
    // without an explicit column list the generated column would get
    // Spark's default name (`col`) and silently diverge from Flink's
    // function-derived field names — reject loudly instead
    require(cols.nonEmpty,
      s"LATERAL TABLE($call) needs explicit output columns: " +
        s"… AS $alias(c1[, c2…]) — Flink derives the names from the " +
        "function's result type; Spark cannot, so they must be declared")
    val gen = if (cols.size >= 2) "inline" else "explode"
    val colSql = cols.mkString(" AS ", ", ", "")
    val viewKw = if (outer) "LATERAL VIEW OUTER" else "LATERAL VIEW"
    val prefix = sql.substring(0, m.start).replaceAll("\\s+$", "")
    rewriteLateralTable(
      prefix + s" $viewKw $gen($call) $alias$colSql" +
        rest.substring(tm.end))
  }

  private def rewriteWindows(sql: String): String = {
    var s = sql
    s = rewriteLateralTable(s)
    def sub(re: scala.util.matching.Regex)(
        f: java.util.regex.MatchResult => String): Unit =
      s = SqlLexer.replaceAll(s, re)(f)
    sub(TumbleTvfRe)(m =>
      tumbleTvf(m.group(1), m.group(2), micros(m.group(3), m.group(4))))
    sub(HopTvfRe)(m =>
      hopTvf(m.group(1), m.group(2), micros(m.group(3), m.group(4)),
        micros(m.group(5), m.group(6))))
    sub(CumulateTvfRe)(m =>
      cumulateTvf(m.group(1), m.group(2), micros(m.group(3), m.group(4)),
        micros(m.group(5), m.group(6))))
    sub(BoundaryRe)(m =>
      (if (m.group(1).equalsIgnoreCase("SESSION")) "session_window"
      else "window") + "." + m.group(2).toLowerCase(java.util.Locale.ROOT))
    sub(TumbleRe)(m =>
      s"window(${m.group(1)}, '${dur(m.group(2), m.group(3))}')")
    sub(HopRe)(m =>
      s"window(${m.group(1)}, '${dur(m.group(4), m.group(5))}', " +
        s"'${dur(m.group(2), m.group(3))}')")
    sub(SessionRe)(m =>
      s"session_window(${m.group(1)}, '${dur(m.group(2), m.group(3))}')")
    sub(SystemTimeRe)(_ => "")
    s
  }
}
