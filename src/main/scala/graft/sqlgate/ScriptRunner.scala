package graft.sqlgate

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.LocalTempView
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  AttributeMap, Cast, EqualTo, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoStatement,
  Join, LogicalPlan, Project, SubqueryAlias, View}
import org.apache.spark.sql.execution.command.CreateViewCommand
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable

/** The statement router/executor — Spark-native restatement of the
  * reference driver (`flink-streaming-core/.../execute/ExecuteSql.java:
  * 26-59` + `JobApplication.java:40-100`):
  *
  *   SET k=v                → session conf (with Flink-knob translation)
  *   CREATE TABLE ... WITH  → connector registry entry (no execution)
  *   other DDL / SHOW       → `spark.sql` (eager, like `tEnv.executeSql`)
  *   SELECT                 → rejected (parity: `LogPrint.java:54-58`)
  *   INSERT INTO sink query → build DataFrame from query with registry
  *                            sources registered as temp views (graft
  *                            TVFs and MATCH_RECOGNIZE run as session
  *                            table functions, see [[FlinkSqlRewrite]];
  *                            joins of keyed lookup dims are bound on the
  *                            analyzed plan, see [[bindKeyedJoins]]);
  *                            start a streaming write or run a batch write
  *   CREATE TEMPORARY VIEW  → the prepared, bound query registered as a
  *                            temp view (analyzed once, not kept as text)
  *   BEGIN STATEMENT SET/END→ no-op (sql-client compat)
  *
  * All INSERTs in one script form one statement set: built first, then
  * started together (reference: `StatementSet.execute` single job), one
  * streaming query per INSERT under its own checkpoint; if one fails to
  * start, the ones already started are stopped. The returned queries
  * are the in-process replacement for the JobID scrape
  * (`StreamingQuery.id` vs `CommandRpcClinetAdapterImpl.java:148-161`).
  */
class ScriptRunner(spark: SparkSession,
    checkpointRoot: Option[String] = None,
    batchMode: Boolean = false) {

  // every query the gate starts checkpoints through FileContext; on
  // `file:` paths, write those checkpoints without forking chmod/readlink
  graft.streaming.LocalCheckpointFs.install(spark)
  // the graft TVFs and MATCH_RECOGNIZE the rewritten statements call
  // (registered once per session)
  FlinkSqlRewrite.register(spark)
  // every job's tasks on one executor class loader, so a restarted or
  // restored job reuses its compiled classes (see ArtifactIsolation)
  spark.conf.set(ScriptRunner.ArtifactIsolation, "false")

  val registry: mutable.Map[String, TableSpec] = mutable.LinkedHashMap()
  private val sourcesInstantiated = mutable.Set[String]()

  final case class RunResult(queries: Seq[StreamingQuery],
      shown: Seq[String], configsSet: Map[String, String])

  private val InsertRe =
    """(?is)INSERT\s+(INTO|OVERWRITE)\s+([`"\w.]+)\s*(\([^)]*\))?\s+(.*)""".r
  private val CreateFnRe =
    ("""(?is)CREATE\s+(?:TEMPORARY\s+)?FUNCTION\s+(?:IF\s+NOT\s+EXISTS\s+)?""" +
      """([\w.]+)\s+AS\s+'([^']+)'""" +
      """(?:\s+LANGUAGE\s+\w+)?(?:\s+USING\s+JAR\s+'([^']+)')?.*""").r

  /** Trigger derived from `table.exec.mini-batch.allow-latency` (SET in
    * the script, demo_4.md:35-39): micro-batch latency → ProcessingTime
    * trigger. Defaults to AvailableNow (drain-and-stop) when unset.
    */
  private[sqlgate] var trigger: org.apache.spark.sql.streaming.Trigger =
    org.apache.spark.sql.streaming.Trigger.AvailableNow()

  private val DurationRe = """(?i)\s*(\d+)\s*(ms|s|sec|second|min|minute|h|hour)\s*""".r
  private def parseFlinkDuration(v: String): Option[Long] = v match {
    case DurationRe(n, u) =>
      val mult = u.toLowerCase match {
        case "ms" => 1L
        case "s" | "sec" | "second" => 1000L
        case "min" | "minute" => 60000L
        case _ => 3600000L
      }
      Some(n.toLong * mult)
    case _ => None
  }

  /** Map Flink tuning keys onto their Spark analogs (SURVEY §4 table). */
  private def translateConf(k: String): Option[String] = k match {
    case "table.exec.mini-batch.enabled" => None // micro-batch is inherent
    case "table.exec.mini-batch.allow-latency" => None // handled via trigger
    case "table.exec.mini-batch.size" => None
    case "table.exec.resource.default-parallelism" =>
      Some("spark.sql.shuffle.partitions")
    case "table.exec.source.cdc-events-duplicate" => None // dropDuplicates
    case s if s.startsWith("spark.") => Some(s)
    // graft.* knobs (operator knobs like the MATCH_RECOGNIZE step budget,
    // read from the session conf by the table functions) pass through
    case s if s.startsWith("graft.") => Some(s)
    case _ => None // unknown knobs accepted+ignored, like Flink's tolerant SET
  }

  /** One INSERT of the statement set: sink, the built (possibly
    * streaming) DataFrame and the overwrite flag.
    */
  private final case class Insert(sink: TableSpec, df: DataFrame,
      overwrite: Boolean)

  def run(script: String): RunResult = {
    val stmts = SqlSplitter.parse(script)
    val inserts = mutable.Buffer[Insert]()
    // streaming INSERTs into catalog (managed) tables — started with the
    // statement set via writeStream.toTable (the catalog.md flow)
    val catalogInserts = mutable.Buffer[(String, DataFrame)]()
    val shown = mutable.Buffer[String]()
    val confs = mutable.LinkedHashMap[String, String]()

    stmts.foreach { c =>
      c.command match {
        case SqlCommand.Set =>
          if (c.operands.size >= 3) {
            // Flink sql-client accepts both SET k=v and SET 'k'='v'
            val k = c.operands(1).stripPrefix("'").stripSuffix("'")
            val v = c.operands(2).stripSuffix(";").trim
              .stripPrefix("'").stripSuffix("'")
            confs(k) = v
            if (k == "table.exec.mini-batch.allow-latency")
              parseFlinkDuration(v).foreach(ms =>
                trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(ms))
            translateConf(k).foreach(spark.conf.set(_, v))
          }
        case SqlCommand.BeginStatementSet | SqlCommand.End => // no-op
        case SqlCommand.Select =>
          // parity with LogPrint.java:55 — SELECT has no sink; reject.
          throw new IllegalArgumentException(
            "SELECT statements are not supported in job scripts")
        case SqlCommand.CreateTable if TableSpec.isConnectorDdl(c.text) =>
          val spec = TableSpec.parse(c.text)
          registry(spec.name) = spec
        case SqlCommand.CreateFunction =>
          // `CREATE FUNCTION name AS 'class'` (SqlCommand.java:32-34,
          // docs/manual-sql.md:102-119); jar shipping becomes classpath.
          c.text match {
            case CreateFnRe(fname, clazz, jar) if jar != null =>
              graft.functions.Udx.registerFromJar(spark, fname, clazz, jar)
            case CreateFnRe(fname, clazz, _) =>
              graft.functions.Udx.registerByClass(spark, fname, clazz)
            case _ => spark.sql(c.text) // Spark-native CREATE FUNCTION forms
          }
        case SqlCommand.InsertInto | SqlCommand.InsertOverwrite =>
          val m = InsertRe.findFirstMatchIn(c.text).getOrElse(
            throw new IllegalArgumentException(
              s"unparseable INSERT: ${c.text.take(80)}"))
          val overwrite = m.group(1).equalsIgnoreCase("OVERWRITE")
          val sinkName = m.group(2).replace("`", "")
          val colList = Option(m.group(3)).map(_.stripPrefix("(")
            .stripSuffix(")").split(",").map(_.trim.replace("`", "")).toSeq)
          registry.get(sinkName) match {
            case Some(sink) =>
              val df = renameForSink(prepare(m.group(4)), colList, sink)
              inserts += Insert(sink, df, overwrite)
            case None if spark.catalog.tableExists(sinkName) =>
              // catalog (managed/Hive) table sink. Over batch sources (the
              // batch runner, or batch-only sources) this is the
              // demo_batch.md eager Spark SQL INSERT; over streaming
              // sources it becomes a continuous `writeStream.toTable` —
              // the catalog.md flow (kafka source streaming into a
              // hive-dialect table), which the eager path cannot run.
              val insert = parse(FlinkSqlRewrite(c.text))
                .asInstanceOf[InsertIntoStatement]
              val df0 = analyze(insert.query)
              if (!df0.isStreaming)
                GraftSqlBridge.ofRows(spark,
                  insert.copy(query = df0.queryExecution.analyzed))
              else {
                require(!overwrite,
                  s"INSERT OVERWRITE into catalog table $sinkName is " +
                    "not supported on the streaming path")
                val declared = spark.table(sinkName).columns.toSeq
                def arityErr(what: String, names: Seq[String]) =
                  throw new IllegalArgumentException(
                    s"INSERT INTO $sinkName: query produces " +
                      s"${df0.columns.length} columns " +
                      s"(${df0.columns.mkString(", ")}) but $what has " +
                      s"${names.size} (${names.mkString(", ")}) — " +
                      "streaming catalog INSERT maps columns " +
                      "positionally; the counts must match")
                val renamed = colList match {
                  case Some(cs) =>
                    if (cs.size != df0.columns.length)
                      arityErr("the INSERT column list", cs)
                    df0.toDF(cs: _*)
                  case None =>
                    if (declared.size != df0.columns.length)
                      arityErr(s"sink table $sinkName", declared)
                    df0.toDF(declared: _*)
                }
                catalogInserts += ((sinkName, renamed))
              }
            case None =>
              throw new IllegalArgumentException(
                s"unknown sink table: $sinkName")
          }
        case SqlCommand.ShowCatalogs | SqlCommand.ShowDatabases |
            SqlCommand.ShowTables | SqlCommand.ShowFunctions =>
          shown += spark.sql(c.text).collect().map(_.mkString(",")).mkString("\n")
        case SqlCommand.ShowModules =>
          shown += registry.keys.mkString(",") // gate-level registry listing
        case SqlCommand.CreateCatalog | SqlCommand.UseCatalog =>
          // Spark catalogs are configured, not created by DDL; accept as
          // session-level no-op (SURVEY §2.2).
          shown += s"ok: ${c.command.name}"
        case SqlCommand.CreateView => createView(c.text)
        case _ =>
          // remaining DDL (CREATE DATABASE, USE, DROP, ALTER, plain
          // CREATE TABLE) goes straight to Spark, like tEnv.executeSql.
          spark.sql(c.text)
      }
    }

    // statement set: start all INSERTs after the whole script parsed.
    // Per-insert index disambiguates several INSERTs into one sink
    // (memory queryName / checkpoint subdir must be unique per query).
    val seen = mutable.Map[String, Int]()
    val started = mutable.Buffer[StreamingQuery]()
    try {
      inserts.foreach { ins =>
        val n = seen.getOrElse(ins.sink.name, 0)
        seen(ins.sink.name) = n + 1
        val tag = if (n == 0) "" else s"_$n"
        val ckpt = checkpointRoot.map(r => s"$r/${ins.sink.name}$tag")
        Connectors.write(spark, ins.sink, ins.df, ckpt, trigger, tag,
          ins.overwrite).foreach(started += _)
      }
      catalogInserts.zipWithIndex.foreach { case ((tbl, df), i) =>
        val w0 = df.writeStream.queryName(s"catalog_${tbl}_$i")
          .outputMode("append").trigger(trigger)
        val w1 = checkpointRoot.map(r => s"$r/__catalog_${tbl}_$i")
          .fold(w0)(d => w0.option("checkpointLocation", d))
        started += w1.toTable(tbl)
      }
    } catch {
      case e: Throwable =>
        // statement-set atomicity: if the Nth INSERT fails to start, the
        // already-started siblings must not keep writing unmanaged
        graft.streaming.StateStores.stop(started.toSeq)
          .foreach { case (_, stopErr) => e.addSuppressed(stopErr) }
        throw e
    }
    RunResult(started.toSeq, shown.toSeq, confs.toMap)
  }

  /** The one query-preparation path: rewrite the query (graft TVFs and
    * MATCH_RECOGNIZE become session table function calls) and
    * [[analyze]] it. Only queries come here, so no statement ever runs
    * over a keyed dim's unbound placeholder. Returns the bound DataFrame.
    */
  private def prepare(query: String): DataFrame =
    analyze(parse(FlinkSqlRewrite(query)))

  private def parse(text: String): LogicalPlan =
    spark.sessionState.sqlParser.parsePlan(text)

  /** Instantiate the registry sources a parsed query reads, analyze it
    * (table function kernels run here, once) and bind its keyed lookup
    * joins.
    */
  private def analyze(parsed: LogicalPlan): DataFrame = {
    instantiateSources(referencedTables(parsed))
    bindKeyedJoins(GraftSqlBridge.ofRows(spark, parsed))
  }

  /** CREATE [OR REPLACE] TEMPORARY VIEW registers the view's analyzed,
    * bound plan: Spark keeps a SQL temp view as text and re-analyzes it
    * at every reference, which would re-run its table function builders
    * each time and could not hold a keyed join's binding. Other views
    * are Spark's.
    */
  private def createView(stmt: String): Unit = {
    val rewritten = FlinkSqlRewrite(stmt)
    parse(rewritten) match {
      case v: CreateViewCommand if v.viewType == LocalTempView =>
        val body = analyze(v.plan)
        val df =
          if (v.userSpecifiedColumns.isEmpty) body
          else body.toDF(v.userSpecifiedColumns.map(_._1): _*)
        if (v.replace) df.createOrReplaceTempView(v.name.table)
        else df.createTempView(v.name.table)
      case _ => spark.sql(rewritten); ()
    }
  }

  /** Flink INSERT maps the query output to the sink schema by POSITION,
    * not by name (a `COUNT(x)` with no alias lands in the declared
    * column): an explicit column list renames to that list, otherwise
    * the sink DDL's declared columns do.
    */
  private def renameForSink(df0: DataFrame, colList: Option[Seq[String]],
      sink: TableSpec): DataFrame = colList match {
    case Some(cs) => df0.toDF(cs: _*)
    case None =>
      val declared = sink.columns.map(_._1)
      if (declared.nonEmpty && declared.size == df0.columns.length)
        df0.toDF(declared: _*)
      else df0
  }

  /** Exact table references of a parsed (not analyzed) query: the
    * `UnresolvedRelation` names, traversing expression subqueries
    * (`TABLE(x)` table function arguments among them) and CTE
    * definitions too. Names inside string literals or comments can't
    * false-positive (the old word-boundary regex did), and
    * backtick-quoted names with special characters resolve exactly.
    */
  private def referencedTables(parsed: LogicalPlan): Set[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith
    def refs(plan: LogicalPlan): Seq[String] = plan.collectWithSubqueries {
      case r: UnresolvedRelation =>
        Seq(r.multipartIdentifier.last.toLowerCase(java.util.Locale.ROOT))
      case w: UnresolvedWith => w.cteRelations.flatMap(c => refs(c._2))
    }.flatten
    refs(parsed).toSet
  }

  /** Register every referenced registry table as a temp view so the
    * query resolves source tables through the registry.
    */
  private def instantiateSources(refs: Set[String]): Unit =
    registry.foreach { case (name, spec) =>
      if (refs.contains(name.toLowerCase(java.util.Locale.ROOT)) &&
        !sourcesInstantiated.contains(name) && !isSinkOnly(spec)) {
        val df =
          if (isLookupDim(spec)) lookupDimView(name, spec)
          else Connectors.source(spark, spec, streaming = !batchMode)
        df.createOrReplaceTempView(name)
        sourcesInstantiated += name
      }
    }

  /** A JDBC table with any `lookup.*` option is a lookup dimension
    * (demo_3.md:66-78) — always the BATCH side of a temporal join,
    * served through a TTL-refreshed Spark cache so its `lookup.cache.*`
    * knobs actually bind instead of re-scanning the database per
    * micro-batch (or freezing one snapshot into a long-lived plan).
    */
  private def isLookupDim(spec: TableSpec): Boolean =
    spec.connector == "jdbc" && spec.primaryKey.isEmpty &&
      spec.options.keys.exists(_.startsWith("lookup."))

  private val lookupDims =
    mutable.Map[String, graft.streaming.TtlCachedDim]()
  // re-armable: close() shuts the scheduler down, but a reused runner
  // whose next script registers another dim must get a fresh one
  private var lookupRefresherOpt
      : Option[java.util.concurrent.ScheduledExecutorService] = None
  private def lookupRefresher
      : java.util.concurrent.ScheduledExecutorService = {
    val live = lookupRefresherOpt.filterNot(_.isShutdown)
    live.getOrElse {
      val ex = java.util.concurrent.Executors
        .newSingleThreadScheduledExecutor(r => {
          val t = new Thread(r, "graft-lookup-ttl"); t.setDaemon(true); t
        })
      lookupRefresherOpt = Some(ex)
      ex
    }
  }

  /** Instantiate a lookup dim: the DataFrame to register as the dim's
    * temp view. Strategy resolution follows the reference's lookup
    * contract (`demo_3.md:66-78` — `lookup.cache.max-rows` bounds the
    * CACHE, not the dim): an explicit `lookup.cache.strategy` =
    * 'snapshot' | 'keyed' wins; otherwise a dim that fits the cache
    * bound is snapshot-cached whole, and one that exceeds it routes to
    * the [[graft.streaming.JdbcKeyedLookup]] point-query path instead of
    * fail-fasting. A keyed dim's view is an empty placeholder with its
    * declared schema: queries resolve against it, and
    * [[bindKeyedJoins]] replaces each join reading it.
    */
  private def lookupDimView(name: String, spec: TableSpec): DataFrame = {
    val (ttlMs, maxRows, _, _) = lookupCfg(spec)
    val df = Connectors.source(spark, spec, streaming = false)
    val keyed = spec.options.get("lookup.cache.strategy")
      .map(_.trim.toLowerCase(java.util.Locale.ROOT)) match {
      case Some("keyed")    => true
      case Some("snapshot") => false // oversized → TtlCachedDim fail-fast
      case Some(other) => throw new IllegalArgumentException(
        s"lookup dim $name: unknown 'lookup.cache.strategy' = '$other' " +
          "(expected 'snapshot' or 'keyed')")
      case None =>
        // the size verdict is cached per (url, table, maxRows) for the
        // dim's TTL — re-running a script re-registers its dims, and
        // re-scanning up to max-rows+1 database rows per run just to
        // re-learn "big or small" is a wasted dim scan each time
        ScriptRunner.sizeVerdict(spec, maxRows, ttlMs) {
          val probe = math.min(maxRows + 1, Int.MaxValue.toLong).toInt
          df.limit(probe).count() > maxRows
        }
    }
    if (keyed) {
      keyedDims(name) = spec
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        spec.schema)
    } else {
      val dim = new graft.streaming.TtlCachedDim(df, ttlMs, maxRows)
      lookupDims(name) = dim
      ScriptRunner.trackDimHolder(this)
      // cheap timestamp check; the actual re-read happens lazily on the
      // next scan after a refresh
      val period = math.max(ttlMs / 4, 50L)
      lookupRefresher.scheduleWithFixedDelay(
        () => try dim.maybeRefresh() catch { case _: Throwable => () },
        period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
      df
    }
  }

  // keyed-strategy dims, by name; the point-query caches serving them
  // live in [[graft.streaming.ExecutorLookupCaches]] — per-executor-JVM
  // LRU+TTL caches shared by the batch slice path, the streaming
  // enrichment path, and the Scala API, surviving across statements
  // (and runners) by construction
  private val keyedDims = mutable.Map[String, TableSpec]()

  /** Per-dim lookup stats (probed/fetched/hits/evictions) aggregated
    * over this JVM's executor caches for the dim's (url, table) — the
    * spec's proof that only probed keys ever reach the database and
    * that NOTHING routes through a driver-side cache (there is none).
    */
  def keyedLookupStats(name: String)
      : Option[graft.streaming.LookupStats] =
    keyedDims.get(name).flatMap { spec =>
      val url = spec.options.getOrElse("url", "")
      val table = spec.options.getOrElse("table-name", name)
      graft.streaming.ExecutorLookupCaches.stats.collect {
        case ((u, t, _, _), st) if u == url && t == table => st
      }.reduceOption { (a, b) =>
        graft.streaming.LookupStats(
          a.probedKeys + b.probedKeys, a.fetchedKeys + b.fetchedKeys,
          a.cacheHits + b.cacheHits, a.evictions + b.evictions,
          a.retries + b.retries)
      }
    }

  /** (ttlMs, maxRows, retries, inListChunk) for a lookup dim.
    * 'lookup.in-list-chunk' sizes the per-point-query `IN (…)` list —
    * databases pay a superlinear plan cost in IN-list arity (measured
    * on Derby: 100-key lists are ~8x cheaper per key than 500), so
    * large probe sets tune this down.
    */
  private def lookupCfg(spec: TableSpec): (Long, Long, Int, Int) = (
    spec.options.get("lookup.cache.ttl")
      .flatMap(parseFlinkDuration).getOrElse(10000L),
    spec.options.get("lookup.cache.max-rows")
      .map(_.trim.toLong).getOrElse(1000000L),
    spec.options.get("lookup.max-retries").map(_.trim.toInt).getOrElse(3),
    spec.options.get("lookup.in-list-chunk").map(_.trim.toInt).getOrElse(500))

  /** The keyed dim whose placeholder view `p` reads, under any aliases. */
  private def keyedDimOf(p: LogicalPlan): Option[(String, TableSpec)] =
    p match {
      case SubqueryAlias(_, child) => keyedDimOf(child)
      case v: View if v.isTempView =>
        keyedDims.find(_._1.equalsIgnoreCase(v.desc.identifier.table))
      case _ => None
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  /** (dim name, spec, dim key column, probe expression) of a join the
    * binder serves: inner or LEFT, a keyed dim's placeholder on the
    * right, and an ON conjunct `probe = dim.key` whose probe reads the
    * left side only.
    */
  private def lookupOf(j: Join)
      : Option[(String, TableSpec, String, Expression)] =
    (j.joinType, j.condition, keyedDimOf(j.right)) match {
      case (Inner | LeftOuter, Some(cond), Some((name, spec))) =>
        val dimCols = j.right.output.map(_.exprId)
          .zip(spec.schema.fieldNames).toMap
        def probe(dim: Expression, p: Expression) = dim match {
          case a: Attribute if dimCols.contains(a.exprId) &&
              p.deterministic && p.references.subsetOf(j.left.outputSet) =>
            Some((name, spec, dimCols(a.exprId), p))
          case _ => None
        }
        conjuncts(cond).view.flatMap {
          case EqualTo(l, r) => probe(l, r).orElse(probe(r, l))
          case _ => None
        }.headOption
      case _ => None
    }

  /** Bind every join that reads a keyed dim (see [[bindJoin]]) on the
    * analyzed plan of `df`, subqueries included. A placeholder left
    * unbound — a plain scan of the dim, the dim on a join's left, a
    * RIGHT or FULL join, an ON without a probe equality — fails, naming
    * the dim: point queries can only serve a probe.
    */
  private def bindKeyedJoins(df: DataFrame): DataFrame = {
    def placeholders(p: LogicalPlan) = p.collectWithSubqueries {
      case v: View if keyedDimOf(v).isDefined => keyedDimOf(v).get._1
    }
    def bind(p: LogicalPlan): LogicalPlan =
      p.transformUpWithNewOutput {
        case j: Join if lookupOf(j).isDefined => bindJoin(j)
      }.transformAllExpressions {
        case s: SubqueryExpression => s.withNewPlan(bind(s.plan))
      }
    val analyzed = df.queryExecution.analyzed
    if (placeholders(analyzed).isEmpty) return df
    val bound = bind(analyzed)
    placeholders(bound).headOption.foreach { name =>
      throw new IllegalArgumentException(
        s"keyed lookup dim $name is only reachable through the " +
          s"temporal-join shape `[LEFT] JOIN $name [FOR SYSTEM_TIME AS " +
          "OF <col>] AS d ON s.k = d.k` (demo_3.md:94-109), with the dim " +
          "on the right of an inner or LEFT join; other references " +
          "cannot be served by point queries")
    }
    GraftSqlBridge.ofRows(spark, bound)
  }

  /** Replace one keyed lookup join. Columns map by position, never by
    * name, and the probe is cast to the dim key's type (JDBC hands back
    * e.g. java.lang.Long; an uncast Integer probe would miss by runtime
    * equality and silently empty the join).
    *
    * STREAMING left (demo_3's actual shape — a stream enriched from an
    * oversized JDBC dim, `demo_3.md:94-109`): the join becomes a
    * stateless per-partition enrichment of the left side
    * ([[graft.streaming.LookupJoin.enrichKeyedPartitions]]). Each
    * micro-batch's rows are point-query-enriched on the executors
    * through per-executor caches — Flink's processing-time lookup
    * semantics — while downstream aggregation still runs as a native
    * streaming aggregate under the query's checkpoint.
    *
    * BATCH left: the join reads this join's own distributed key-covering
    * slice ([[graft.streaming.LookupJoin.dimSlice]]) instead — the left
    * side's distinct probe keys flow through the same caches inside
    * `mapPartitions`, so neither the key set nor the dim rows are ever
    * materialized on the driver, and the full ON clause still applies.
    */
  private def bindJoin(j: Join): (LogicalPlan, Seq[(Attribute, Attribute)]) = {
    val (name, spec, dimKey, probe) = lookupOf(j).get
    val (ttlMs, maxRows, retries, inChunk) = lookupCfg(spec)
    val key = Cast(probe, spec.schema(dimKey).dataType)
    val (url, table) = (spec.options("url"), spec.options("table-name"))
    if (j.left.isStreaming) {
      require(conjuncts(j.condition.get).size == 1,
        s"keyed lookup dim $name: the streaming point-query path supports " +
          "a single-equality ON (the demo_3 shape); move additional " +
          "predicates to the WHERE clause")
      val probed = GraftSqlBridge.ofRows(spark,
        Project(j.left.output :+ Alias(key, "__graft_probe")(), j.left))
      val enriched = graft.streaming.LookupJoin.enrichKeyedPartitions(
        url, spec.options, table, "__graft_probe", dimKey, spec.schema,
        if (j.joinType == Inner) "inner" else "left", maxRows, ttlMs,
        retries, inListChunk = inChunk)(probed).queryExecution.analyzed
      val out = enriched.output.patch(j.left.output.size, Nil, 1)
      (Project(out, enriched), j.output.zip(out))
    } else {
      val keys = GraftSqlBridge.ofRows(spark,
        Project(Seq(Alias(key, "k")()), j.left))
      // 'lookup.keys-per-batch' is OPT-IN: the slice is distributed, so
      // there is no driver bound left to protect — the option remains
      // as an explicit cache-thrash guard (a probe set far past the
      // cache bound refetches every statement), one bounded count
      spec.options.get("lookup.keys-per-batch").map(_.trim.toLong)
        .foreach { maxKeys =>
          val n = keys.where("k IS NOT NULL").distinct()
            .limit(math.min(maxKeys + 1, Int.MaxValue.toLong).toInt).count()
          require(n <= maxKeys,
            s"keyed lookup dim $name: statement probes $n distinct " +
              s"keys on '$dimKey' (> $maxKeys 'lookup.keys-per-batch'); " +
              "raise the bound or pre-aggregate the probe side")
        }
      val slice = graft.streaming.LookupJoin.dimSlice(keys, url,
        spec.options, table, dimKey, spec.schema, maxRows, ttlMs, retries,
        inListChunk = inChunk).queryExecution.analyzed
      val dimToSlice = j.right.output.zip(slice.output)
      (j.copy(right = slice).rewriteAttrs(AttributeMap(dimToSlice)),
        dimToSlice)
    }
  }

  /** The snapshot lookup dim registered under `name`, while held. */
  private[graft] def snapshotDim(name: String)
      : Option[graft.streaming.TtlCachedDim] = lookupDims.get(name)

  /** Release the snapshot lookup dims: stop their TTL refresher and drop
    * their cached blocks. Keyed dims' point-query caches are left to
    * their TTL and LRU bounds.
    */
  def releaseSnapshotDims(): Unit = {
    lookupRefresherOpt.foreach(_.shutdownNow())
    lookupRefresherOpt = None
    lookupDims.values.foreach(_.release())
    lookupDims.clear()
    ScriptRunner.dimHolders.remove(this)
    ()
  }

  /** Release runner-held resources (lookup-dim caches + TTL scheduler).
    * Streaming queries started by [[run]] are unaffected.
    */
  def close(): Unit = {
    releaseSnapshotDims()
    // keyed point-query caches live in ExecutorLookupCaches (per
    // executor JVM, LRU-bounded, connections per-fetch). Invalidate the
    // tuples THIS runner registered so a new runner against a rebuilt
    // dim table reads fresh rows instead of inheriting this runner's
    // entries until TTL — complete in local mode; on a cluster the
    // executors' instances age out by the TTL the dim already declares.
    keyedDims.values.foreach { spec =>
      (spec.options.get("url"), spec.options.get("table-name")) match {
        case (Some(u), Some(t)) =>
          graft.streaming.ExecutorLookupCaches.invalidate(u, t)
        case _ => ()
      }
    }
    keyedDims.clear()
  }

  /** print/blackhole/memory/jdbc-upsert tables can't be sources. */
  private def isSinkOnly(spec: TableSpec): Boolean =
    Set("print", "blackhole", "memory").contains(spec.connector) ||
      (spec.connector == "jdbc" && spec.primaryKey.nonEmpty)
}

object ScriptRunner {
  /** Spark's per-session artifact isolation, which every runner turns
    * off (and `graft.Sessions.local` builds its sessions without). Each
    * streaming query runs on a clone of its session; with isolation on
    * (Spark 4.1's default) each clone gets its own artifact UUID, so the
    * executors run that query's tasks under a new class loader.
    * `CodeGenerator`'s cache is keyed by class loader and code, so every
    * start and restore compiled all of the job's task-side classes again
    * (whole-stage stages, state-store projections, row joiners, the
    * `foreachBatch` deserializer), even when the code was byte-identical
    * to the last run. Off, every job's tasks share the default executor
    * loader and hit the cache. Isolation protects nothing here: the
    * engine runs one shared session whose function registry is
    * session-global (`Udx.guardBinding`/`commitBinding`), jar functions
    * are shipped to every executor by `sparkContext.addJar`, and there
    * are no Spark Connect clients. A clone copies the key when it is
    * made, so it takes effect for every query started after it is set.
    */
  val ArtifactIsolation = "spark.sql.artifact.isolation.enabled"

  // Runners currently holding a lookup-dim cache + TTL scheduler. The
  // cache deliberately outlives a single run() (Flink's session lookup
  // cache spans statements — the long-TTL DemoGateSpec contract), so a
  // runner can't self-release; callers that forget close() would leak
  // persisted blocks plus a recurring scheduled task per runner.
  // Registering here makes the leak bounded and collectable: Verify /
  // Bench call [[closeAllRunners]] between queries, and a JVM shutdown
  // hook sweeps whatever remains.
  private val dimHolders =
    java.util.concurrent.ConcurrentHashMap.newKeySet[ScriptRunner]()

  // auto-strategy lookup-dim size verdicts, cached per
  // (url, table, max-rows) for the dim's TTL (same freshness contract
  // as the snapshot cache)
  private val sizeVerdicts = scala.collection.concurrent
    .TrieMap[(String, String, Long), (Boolean, Long)]()

  private[sqlgate] def sizeVerdict(spec: TableSpec, maxRows: Long,
      ttlMs: Long)(probe: => Boolean): Boolean = {
    val key = (spec.options.getOrElse("url", ""),
      spec.options.getOrElse("table-name", spec.name), maxRows)
    val now = System.currentTimeMillis()
    sizeVerdicts.get(key) match {
      case Some((v, ts)) if now - ts < ttlMs => v
      case _ =>
        val v = probe
        sizeVerdicts.put(key, (v, now)); v
    }
  }

  private[sqlgate] def trackDimHolder(r: ScriptRunner): Unit = {
    dimHolders.add(r); () }

  /** Close every runner that still holds a lookup-dim cache. Safe to
    * call concurrently / repeatedly; a closed runner stays usable (its
    * next dim registration re-arms the refresher and re-registers).
    */
  def closeAllRunners(): Unit = {
    val it = dimHolders.iterator()
    while (it.hasNext) it.next().close()
  }

  locally {
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => closeAllRunners(), "graft-runner-sweep"))
  }
}
