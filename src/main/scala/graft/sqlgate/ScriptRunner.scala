package graft.sqlgate

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  *                            sources registered as temp views; start a
  *                            streaming write or run a batch write
  *   BEGIN STATEMENT SET/END→ no-op (sql-client compat)
  *
  * All INSERTs in one script form one statement set: built first, then
  * started together (reference: `StatementSet.execute` single job). The
  * returned queries are the in-process replacement for the JobID scrape
  * (`StreamingQuery.id` vs `CommandRpcClinetAdapterImpl.java:148-161`).
  */
class ScriptRunner(spark: SparkSession,
    checkpointRoot: Option[String] = None,
    batchMode: Boolean = false) {

  // every query the gate starts checkpoints through FileContext; on
  // `file:` paths, write those checkpoints without forking chmod/readlink
  graft.streaming.LocalCheckpointFs.install(spark)

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
    // graft.* knobs (statement-set fusing is read from the script confs;
    // operator knobs like the MATCH_RECOGNIZE step budget are read from
    // the session conf by the rewrites) pass through as-is
    case s if s.startsWith("graft.") => Some(s)
    case _ => None // unknown knobs accepted+ignored, like Flink's tolerant SET
  }

  /** One INSERT of the statement set: sink, the built (possibly
    * streaming) DataFrame, overwrite flag, and the rewritten SELECT +
    * column list kept for the fused execution path, which must re-plan
    * the query against each micro-batch.
    */
  private final case class Insert(sink: TableSpec, df: DataFrame,
      overwrite: Boolean, query: String, colList: Option[Seq[String]])

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
              // MATCH_RECOGNIZE / dedup TVFs resolve their source DURING
              // the rewrite (the operator runs over spark.table), so
              // registry sources they reference must be instantiated first
              if (FlinkSqlRewrite.needsPreInstantiation(m.group(4)))
                instantiateRefs(FlinkSqlRewrite.preInstantiationTables(m.group(4)))
              val (query0, mrViews) = FlinkSqlRewrite.applyTracking(spark, m.group(4))
              instantiateSources(query0)
              // keyed dims: distributed slice view per stmt (batch) or
              // in-plan enrichment rewrite (streaming probe)
              val (query, enrViews) = prepareKeyedDims(c.text, query0)
              val df0 = spark.sql(query) // Dataset ctor analyzes eagerly:
              // the MR/enrichment views are resolved into df0's plan —
              // drop them so long-lived sessions don't accumulate
              // catalog entries
              (mrViews ++ enrViews).foreach(spark.catalog.dropTempView)
              val df = renameForSink(df0, colList, sink)
              inserts += Insert(sink, df, overwrite, query, colList)
            case None if spark.catalog.tableExists(sinkName) =>
              // catalog (managed/Hive) table sink. In batch runner mode
              // (or with batch-only sources) this is the demo_batch.md
              // eager Spark SQL INSERT; in streaming mode with streaming
              // sources it becomes a continuous `writeStream.toTable` —
              // the catalog.md flow (kafka source streaming into a
              // hive-dialect table), which the eager path cannot run.
              if (batchMode) {
                if (FlinkSqlRewrite.needsPreInstantiation(c.text))
                  instantiateRefs(
                    FlinkSqlRewrite.preInstantiationTables(c.text),
                    forceBatch = true)
                val (rewritten0, mrViews) =
                  FlinkSqlRewrite.applyTracking(spark, c.text)
                instantiateSources(rewritten0, forceBatch = true)
                val (rewritten, enrViews) =
                  prepareKeyedDims(c.text, rewritten0)
                spark.sql(rewritten)
                (mrViews ++ enrViews).foreach(spark.catalog.dropTempView)
              } else {
                if (FlinkSqlRewrite.needsPreInstantiation(m.group(4)))
                  instantiateRefs(
                    FlinkSqlRewrite.preInstantiationTables(m.group(4)))
                val (q20, mrViews) =
                  FlinkSqlRewrite.applyTracking(spark, m.group(4))
                instantiateSources(q20)
                val (q2, enrViews) = prepareKeyedDims(c.text, q20)
                val df0 = spark.sql(q2)
                (mrViews ++ enrViews).foreach(spark.catalog.dropTempView)
                if (df0.isStreaming) {
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
                } else
                  // sources turned out batch (e.g. filesystem): eager
                  spark.sql(FlinkSqlRewrite(spark, c.text))
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
        case SqlCommand.CreateView =>
          // view bodies are queries in the reference dialect too; CREATE
          // VIEW analyzes eagerly, so registry sources it reads must be
          // temp views first (e.g. views carving corpus/query sides for
          // the ANN_TOPK TVF). Rewrite BEFORE instantiateSources: the
          // latter PARSES the query to collect table refs, and a view
          // body containing a graft TVF (composition scripts chain
          // TVF → view → TVF) is only Spark-parseable after the
          // rewrite. Registry sources a TVF consumes are covered by
          // the preInstantiation pass, which is text-based.
          if (FlinkSqlRewrite.needsPreInstantiation(c.text))
            instantiateRefs(FlinkSqlRewrite.preInstantiationTables(c.text))
          val rewrittenView = FlinkSqlRewrite(spark, c.text)
          instantiateSources(rewrittenView)
          spark.sql(rewrittenView)
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
    val started = mutable.Buffer[org.apache.spark.sql.streaming.StreamingQuery]()
    try {
      fusedSource(inserts.toSeq, confs) match {
        case Some((srcName, plans)) =>
          started += startFused(srcName, plans)
        case None =>
          inserts.foreach { ins =>
            val n = seen.getOrElse(ins.sink.name, 0)
            seen(ins.sink.name) = n + 1
            val tag = if (n == 0) "" else s"_$n"
            val ckpt = checkpointRoot.map(r => s"$r/${ins.sink.name}$tag")
            Connectors.write(spark, ins.sink, ins.df, ckpt, trigger, tag,
              ins.overwrite).foreach(started += _)
          }
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
        started.foreach(q => try q.stop() catch { case _: Throwable => () })
        throw e
    }
    RunResult(started.toSeq, shown.toSeq, confs.toMap)
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

  /** Decide whether this statement set can run FUSED — one streaming
    * read fanned out to every sink inside a single `foreachBatch`, the
    * closer analog of the reference's single-DAG `StatementSet.execute`
    * (`JobApplication.java:78-88`) than N independent queries each
    * re-reading the source. Opt-in via
    * `SET 'graft.exec.statement-set.fuse' = 'true'`, and only for the
    * router shape where per-micro-batch re-planning is semantics-
    * preserving: ≥2 streaming appends (no OVERWRITE), all STATELESS (an
    * aggregate would lose cross-batch state under re-planning), reading
    * exactly one common source table, into sinks whose batch write is an
    * append/upsert (memory's batch path replaces per batch — excluded).
    * Anything else falls back to the independent-queries path.
    */
  /** Merge recipe for an algebraic aggregate INSERT running fused:
    * `keyCols` are the GROUP BY output columns (the sink's logical key);
    * `mergeFns` maps every non-key output column to how two partial
    * values combine (sum/count/min/max).
    */
  private final case class AggFusion(keyCols: Seq[String],
      mergeFns: Seq[(String, String)])

  /** Row-local plan-node whitelist shared by the stateless gate and the
    * aggregate child check — see [[fusedSource]] for why a whitelist.
    */
  private def rowLocalNode(
      n: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    n match {
      case _: LeafNode | _: Project | _: Filter | _: Generate | _: Expand |
           _: SubqueryAlias | _: View | _: Union | _: Repartition |
           _: RepartitionByExpression | _: EventTimeWatermark => true
      case _ => false
    }
  }

  /** Classify an INSERT as a fusable algebraic aggregate: a single
    * `Aggregate` over a row-local child whose aggregate functions are
    * all self-mergeable from their own output — SUM (merge: +), COUNT
    * (merge: +), MIN (merge: least), MAX (merge: greatest); no DISTINCT,
    * no FILTER clause. AVG/stddev/collect/HAVING are NOT mergeable from
    * their output alone and push the set to the unfused path. The sink
    * must be keyed (the fused aggregate emits update-mode upserts,
    * mirroring the unfused streaming-agg path).
    */
  private def classifyAgg(ins: Insert): Option[AggFusion] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project, SubqueryAlias}
    if (ins.sink.primaryKey.isEmpty) return None
    def strip(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = p match {
      case SubqueryAlias(_, c) => strip(c)
      case other => other
    }
    // role of each Aggregate output, keyed by exprId ("key" | merge fn)
    def roles(agg: Aggregate): Option[
        Map[org.apache.spark.sql.catalyst.expressions.ExprId, String]] = {
      if (agg.child.collectFirst {
        case n if !rowLocalNode(n) => n
      }.nonEmpty) return None
      val out = agg.aggregateExpressions.map {
        case a: Attribute
            if agg.groupingExpressions.exists(_.semanticEquals(a)) =>
          Some(a.exprId -> "key")
        case al @ Alias(c, _)
            if agg.groupingExpressions.exists(_.semanticEquals(c)) =>
          Some(al.exprId -> "key")
        case al @ Alias(AggregateExpression(fn, _, false, None, _), _) =>
          fn match {
            case _: Sum   => Some(al.exprId -> "sum")
            case _: Count => Some(al.exprId -> "count")
            case _: Min   => Some(al.exprId -> "min")
            case _: Max   => Some(al.exprId -> "max")
            case _ => None
          }
        case _ => None
      }
      if (out.exists(_.isEmpty)) None else Some(out.flatten.toMap)
    }
    // top plan is the Aggregate itself, or the pure rename Project that
    // renameForSink lays over it — resolve final names through either
    val classified = strip(ins.df.queryExecution.analyzed) match {
      case agg: Aggregate =>
        roles(agg).map(r => agg.aggregateExpressions.map(ne =>
          ne.name -> r(ne.exprId)))
      case Project(projList, agg: Aggregate) =>
        roles(agg).flatMap { r =>
          val named = projList.map {
            case a: Attribute => r.get(a.exprId).map(a.name -> _)
            case al @ Alias(a: Attribute, _) => r.get(a.exprId).map(al.name -> _)
            case _ => None
          }
          if (named.exists(_.isEmpty)) None else Some(named.flatten)
        }
      case _ => None
    }
    classified.flatMap { cols =>
      val keyCols = cols.collect { case (n, "key") => n }
      val merges = cols.filterNot(_._2 == "key")
      // the sink key must be exactly the grouping columns, or merged
      // rows and the unfused streaming agg would key differently
      if (keyCols.nonEmpty &&
        ins.sink.primaryKey.map(_.toLowerCase(java.util.Locale.ROOT))
          .toSet == keyCols.map(_.toLowerCase(java.util.Locale.ROOT)).toSet)
        Some(AggFusion(keyCols.toSeq, merges.toSeq))
      else None
    }
  }

  private def fusedSource(ins: Seq[Insert],
      confs: collection.Map[String, String])
      : Option[(String, Seq[(Insert, Option[AggFusion])])] = {
    if (confs.getOrElse("graft.exec.statement-set.fuse", "false") != "true")
      return None
    if (ins.size < 2 || ins.exists(i => !i.df.isStreaming || i.overwrite))
      return None
    val fusableSink = (s: TableSpec) => s.connector != "memory"
    if (!ins.forall(i => fusableSink(i.sink))) return None
    // WHITELIST of row-local plan nodes: fusion re-plans the SELECT per
    // micro-batch, which is only semantics-preserving when every node
    // processes rows independently of batch boundaries. A blocklist kept
    // growing holes (Distinct, then LIMIT/ORDER BY/OFFSET — a fused
    // `LIMIT 5` would emit 5 rows PER BATCH instead of the stateful
    // StreamingGlobalLimit's 5 total), so anything not provably
    // row-local falls back to independent queries. Algebraic aggregates
    // are the one stateful exception: [[classifyAgg]] proves the state
    // is reconstructible by merging per-batch partials, and
    // [[startFused]] keeps that state durably under the shared
    // checkpoint — which therefore must exist for aggregate fusion.
    val plans = ins.map { i =>
      val stateless = i.df.queryExecution.analyzed.collectFirst {
        case n if !rowLocalNode(n) => n
      }.isEmpty
      if (stateless) Some(i -> None)
      else if (checkpointRoot.isDefined) classifyAgg(i).map(f => i -> Some(f))
      else None
    }
    if (plans.exists(_.isEmpty)) return None
    val srcSets = ins.map(i => referencedTables(i.query)
      .filter(sourcesInstantiated.map(_.toLowerCase(java.util.Locale.ROOT))))
    srcSets.flatten.distinct match {
      case Seq(one) if srcSets.forall(_ == Set(one)) =>
        Some(one -> plans.map(_.get))
      case _ => None
    }
  }

  /** Start the fused statement set: ONE streaming query over the shared
    * source; each micro-batch is pinned (persist) and every INSERT's
    * SELECT re-planned against it as a temp view, writing through the
    * sinks' batch paths (append/upsert — idempotent under micro-batch
    * retry for keyed sinks, exactly like the unfused foreachBatch
    * sinks). One checkpoint governs the whole set, so the sinks advance
    * in lockstep — the reference's single-job semantics.
    *
    * Algebraic-aggregate INSERTs ([[classifyAgg]]) run stateFULLY
    * inside the same fused batch loop: the re-planned SELECT over the
    * pinned batch yields a batch-local partial aggregate, which is
    * merged (sum/+, count/+, min/least, max/greatest) into keyed state
    * persisted as batch-id-addressed parquet under the shared
    * checkpoint; only the keys the batch touched are upserted to the
    * sink (update-mode parity with the unfused streaming agg). Resume
    * is exactly-once by construction: state for batch N is derived
    * solely from committed state N-1 plus the source-WAL-replayed batch
    * N, state dirs older than N-1 are pruned only after N is written,
    * and a replayed batch overwrites its own partially-written state
    * before the idempotent keyed upsert re-emits the same rows.
    */
  private def startFused(srcName: String,
      plans: Seq[(Insert, Option[AggFusion])]): StreamingQuery = {
    val src = spark.table(srcName)
    val ckpt = checkpointRoot.map(r => s"$r/__stmtset")
    val stateRoot = checkpointRoot.map(r => s"$r/__stmtset_state")
    val writer = src.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        val s2 = batch.sparkSession
        batch.persist()
        try {
          batch.createOrReplaceTempView(srcName)
          plans.zipWithIndex.foreach {
            case ((i, None), _) =>
              val df = renameForSink(s2.sql(i.query), i.colList, i.sink)
              Connectors.write(s2, i.sink, df, None, trigger)
              ()
            case ((i, Some(fusion)), idx) =>
              val partial = renameForSink(s2.sql(i.query), i.colList, i.sink)
              val dir = s"${stateRoot.get}/ins_$idx"
              val merged = mergeAggState(s2, dir, batchId, partial, fusion)
              Connectors.write(s2, i.sink, merged, None, trigger)
              ()
          }
        } finally { batch.unpersist(); () }
    }
    ckpt.fold(writer)(d => writer.option("checkpointLocation", d))
      .queryName(s"stmtset_$srcName")
      .trigger(trigger)
      .start()
  }

  /** One incremental-merge step for a fused aggregate: combine the
    * previous committed state (the newest `b=<id>` dir with id strictly
    * below this batch — a half-written dir from a crashed attempt of
    * THIS batch id is thereby never read, only overwritten) with the
    * batch partial via a null-safe full-outer join on the group keys,
    * write the result as this batch's state, prune state two batches
    * back, and return the merged rows for keys present in the partial —
    * the update set the sink must see.
    */
  private def mergeAggState(s2: org.apache.spark.sql.SparkSession,
      dir: String, batchId: Long, partial: DataFrame,
      fusion: AggFusion): DataFrame = {
    import org.apache.spark.sql.functions._
    val hconf = s2.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(hconf)
    val committed: Seq[Long] =
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("b=")).map(_.stripPrefix("b=").toLong)
    val prev = committed.filter(_ < batchId).sorted.lastOption
      .map(b => s2.read.parquet(s"$dir/b=$b"))
    val outCols = partial.columns.toSeq
    val keys = fusion.keyCols
    val merged = prev match {
      case None => partial
      case Some(old) =>
        val joined = old.as("o").join(partial.as("n"),
          keys.map(k => col(s"o.$k") <=> col(s"n.$k")).reduce(_ && _),
          "full_outer")
        val mergeOf = fusion.mergeFns.toMap
        joined.select(outCols.map { c =>
          val (o, n) = (col(s"o.$c"), col(s"n.$c"))
          (if (keys.exists(_.equalsIgnoreCase(c))) coalesce(o, n)
          else mergeOf(c) match {
            // SUM: null means "no non-null input yet" on that side
            case "sum" => coalesce(o + n, o, n)
            // COUNT is never null per key; null here = key absent
            case "count" => coalesce(o, lit(0L)) + coalesce(n, lit(0L))
            // least/greatest skip nulls — exactly MIN/MAX merge
            case "min" => least(o, n)
            case "max" => greatest(o, n)
          }).as(c)
        }: _*)
    }
    merged.persist()
    merged.write.mode("overwrite").parquet(s"$dir/b=$batchId")
    committed.filter(_ < batchId - 1)
      .foreach(b => fs.delete(new org.apache.hadoop.fs.Path(s"$dir/b=$b"), true))
    // re-read the committed state (decouples from the persist lifetime);
    // emit only the keys this batch touched
    merged.unpersist()
    val state = s2.read.parquet(s"$dir/b=$batchId")
    state.as("m").join(
      partial.select(keys.map(col): _*).distinct().as("p"),
      keys.map(k => col(s"m.$k") <=> col(s"p.$k")).reduce(_ && _),
      "left_semi")
  }

  /** Exact table references of a query: parse (not analyze) the SQL and
    * collect `UnresolvedRelation` names, traversing expression subqueries
    * too. Names inside string literals or comments can't false-positive
    * (the old word-boundary regex did), and backtick-quoted names with
    * special characters resolve exactly.
    */
  private def referencedTables(query: String): Set[String] = {
    val plan = spark.sessionState.sqlParser.parsePlan(query)
    plan.collectWithSubqueries {
      case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
        r.multipartIdentifier.last.toLowerCase(java.util.Locale.ROOT)
    }.toSet
  }

  /** Register every referenced registry table as a temp view so the
    * INSERT's SELECT resolves source tables through the registry.
    */
  private def instantiateSources(query: String,
      forceBatch: Boolean = false): Unit =
    instantiateRefs(referencedTables(query), forceBatch)

  private def instantiateRefs(refs: Set[String],
      forceBatch: Boolean = false): Unit = {
    registry.foreach { case (name, spec) =>
      if (refs.contains(name.toLowerCase(java.util.Locale.ROOT)) &&
        !sourcesInstantiated.contains(name) && !isSinkOnly(spec)) {
        val df =
          if (isLookupDim(spec)) lookupDimView(name, spec)
          else Some(Connectors.source(spark, spec,
            streaming = !batchMode && !forceBatch))
        // keyed lookup dims register no view here — their key-covering
        // slice is built per statement by [[prepareKeyedDims]]
        df.foreach(_.createOrReplaceTempView(name))
        sourcesInstantiated += name
      }
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

  /** Instantiate a lookup dim. Returns the snapshot-strategy DataFrame
    * to register as the dim's temp view, or None for the keyed strategy
    * (whose view is a per-statement key-covering slice built by
    * [[prepareKeyedDims]]). Strategy resolution follows the reference's
    * lookup contract (`demo_3.md:66-78` — `lookup.cache.max-rows`
    * bounds the CACHE, not the dim): an explicit
    * `lookup.cache.strategy` = 'snapshot' | 'keyed' wins; otherwise a
    * dim that fits the cache bound is snapshot-cached whole, and one
    * that exceeds it routes to the [[graft.streaming.JdbcKeyedLookup]]
    * point-query path instead of fail-fasting.
    */
  private def lookupDimView(name: String, spec: TableSpec)
      : Option[org.apache.spark.sql.DataFrame] = {
    val ttlMs = spec.options.get("lookup.cache.ttl")
      .flatMap(parseFlinkDuration).getOrElse(10000L)
    val maxRows = spec.options.get("lookup.cache.max-rows")
      .map(_.trim.toLong).getOrElse(1000000L)
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
    if (keyed) { keyedDims(name) = spec; None }
    else {
      val dim = new graft.streaming.TtlCachedDim(df, ttlMs, maxRows)
      lookupDims(name) = dim
      ScriptRunner.trackDimHolder(this)
      // cheap timestamp check; the actual re-read happens lazily on the
      // next scan after a refresh
      val period = math.max(ttlMs / 4, 50L)
      lookupRefresher.scheduleWithFixedDelay(
        () => try dim.maybeRefresh() catch { case _: Throwable => () },
        period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
      Some(df)
    }
  }

  // keyed-strategy dims awaiting per-statement slicing; the point-query
  // caches serving them live in [[graft.streaming.ExecutorLookupCaches]]
  // — per-executor-JVM LRU+TTL caches shared by the batch slice path,
  // the streaming enrichment path, and the Scala API, surviving across
  // statements (and runners) by construction
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

  // the demo_3 temporal-join shape a keyed dim is reachable through:
  //   JOIN <dim> FOR SYSTEM_TIME AS OF <x> [AS] <alias> ON <a> = <b>
  private val TemporalJoinRe =
    ("""(?i)\bJOIN\s+`?(\w+)`?\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+""" +
      """[`\w.]+(?:\s+AS)?\s+(\w+)\s+ON\s+([`\w.]+)\s*=\s*([`\w.]+)""").r
  // derived-table / expression aliases: `) [AS] alias` — the binds
  // FromAliasRe cannot see (it stops at the opening parenthesis)
  private val ParenAliasRe = """(?i)\)\s*(?:AS\s+)?`?(\w+)`?""".r
  // FROM/JOIN clause alias pairs, for resolving the probe-side table
  private val FromAliasRe =
    ("""(?i)\b(?:FROM|JOIN)\s+`?(\w+)`?""" +
      """(?:\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+[`\w.]+)?""" +
      """(?:\s+AS)?(?:\s+(\w+))?""").r
  private val SqlKeywords = Set("on", "where", "group", "join", "left",
    "right", "inner", "outer", "full", "cross", "order", "limit",
    "union", "select", "for", "having", "as")

  /** One parsed temporal join of a keyed-strategy dim. */
  private final case class KeyedJoin(alias: String, dimCol: String,
      streamQual: String, streamCol: String, streamTable: String,
      leftJoin: Boolean, lhsText: String, rhsText: String,
      extraConjunct: Boolean)

  /** (ttlMs, maxRows, retries, inListChunk) for a keyed lookup dim.
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

  private def dimKeyType(name: String, spec: TableSpec, dimCol: String)
      : org.apache.spark.sql.types.DataType =
    spec.schema.find(_.name == dimCol).getOrElse(
      throw new IllegalArgumentException(
        s"keyed lookup dim $name: ON references dim column '$dimCol' " +
          s"which is not in the declared schema " +
          s"(${spec.schema.fieldNames.mkString(", ")})")).dataType

  private def parseKeyedJoin(name: String, stmtText: String,
      m: scala.util.matching.Regex.Match,
      aliasOf: Map[String, String]): KeyedJoin = {
    val alias = m.group(2)
    val dimQuals = Set(alias.toLowerCase(java.util.Locale.ROOT),
      name.toLowerCase(java.util.Locale.ROOT))
    def split(c: String): (String, String) = {
      val parts = c.replace("`", "").split('.')
      require(parts.length == 2,
        s"keyed lookup dim $name: ON columns must be qualified (got '$c')")
      (parts(0).toLowerCase(java.util.Locale.ROOT), parts(1))
    }
    val (lq, lc) = split(m.group(3))
    val (rq, rc) = split(m.group(4))
    val (dimCol, streamQual, streamCol) =
      if (dimQuals(lq) && !dimQuals(rq)) (lc, rq, rc)
      else if (dimQuals(rq) && !dimQuals(lq)) (rc, lq, lc)
      else throw new IllegalArgumentException(
        s"keyed lookup dim $name: exactly one side of the ON equality " +
          s"must be the dim ('${m.group(3)}' = '${m.group(4)}', dim " +
          s"alias $alias)")
    val streamTable = aliasOf.getOrElse(streamQual,
      throw new IllegalArgumentException(
        s"keyed lookup dim $name: cannot resolve probe-side qualifier " +
          s"'$streamQual' to a FROM/JOIN table"))
    // the whole prefix, not a fixed window: `LEFT\n  OUTER\n  JOIN`
    // spread across lines must still read as a left join (a missed LEFT
    // silently drops unmatched stream rows under how="inner")
    val before = stmtText.substring(0, m.start)
    val leftJoin =
      """(?i)\bLEFT\s+(?:OUTER\s+)?$""".r.findFirstIn(before).isDefined
    val extra = """(?i)^\s*AND\b""".r
      .findFirstIn(stmtText.substring(m.end)).isDefined
    KeyedJoin(alias, dimCol, streamQual, streamCol, streamTable, leftJoin,
      m.group(3).replace("`", ""), m.group(4).replace("`", ""), extra)
  }

  /** Prepare every keyed-strategy dim the statement references, in two
    * shapes depending on the probe side:
    *
    * BATCH probe: build the dim's key-covering slice as a DISTRIBUTED
    * DataFrame ([[graft.streaming.LookupJoin.dimSlice]]) — the probe
    * side's distinct keys flow through per-executor LRU+TTL point-query
    * caches inside `mapPartitions`, so neither the key set nor the dim
    * rows are ever materialized on the driver — and register it as the
    * dim's temp view; the statement then joins the slice exactly like a
    * snapshot dim, but the database only ever saw the probed keys. A
    * statement joining one dim on SEVERAL key columns unions per-column
    * slices, anti-joining away rows an earlier column's key set already
    * covers — dim-row multiplicity is exact (genuine duplicate dim rows
    * survive; a full-row value-dedup would collapse them).
    *
    * STREAMING probe (demo_3's actual shape — a stream enriched from an
    * oversized JDBC dim, `demo_3.md:94-109`): the temporal join is
    * rewritten INTO the streaming plan as a stateless per-partition
    * enrichment ([[graft.streaming.LookupJoin.enrichKeyedPartitions]]):
    * the probe stream's view is replaced by an enriched view carrying
    * the dim's columns under collision-proof names, dim-qualifier
    * references are rewritten to them, and the join clause is deleted
    * from the SQL. Each micro-batch's rows are point-query-enriched on
    * the executors through the same per-executor caches — Flink's
    * processing-time lookup semantics — while downstream aggregation
    * still runs as a NATIVE streaming aggregate under the query's
    * checkpoint (no per-batch re-planning, no state re-derivation).
    *
    * Returns the (possibly rewritten) query text plus the enrichment
    * views to drop once the statement is analyzed.
    */
  private def prepareKeyedDims(stmtText: String, query: String)
      : (String, Seq[String]) = {
    if (keyedDims.isEmpty) return (query, Nil)
    val joins = TemporalJoinRe.findAllMatchIn(stmtText).toSeq
    val aliasOf: Map[String, String] = FromAliasRe.findAllMatchIn(stmtText)
      .flatMap { m =>
        val table = m.group(1)
        val alias = Option(m.group(2))
          .filterNot(a => SqlKeywords(a.toLowerCase(java.util.Locale.ROOT)))
        Seq(table.toLowerCase(java.util.Locale.ROOT) -> table) ++
          alias.map(_.toLowerCase(java.util.Locale.ROOT) -> table)
      }.toMap
    var outQuery = query
    val createdViews = Seq.newBuilder[String]
    // streaming probes CHAIN: a second dim of the same statement must
    // enrich the already-enriched view, and the FROM rewrite must
    // target whatever name the probe table currently has in the text
    val curView = mutable.Map[String, String]()
    keyedDims.foreach { case (name, spec) =>
      val referenced = ("""(?i)\b""" + java.util.regex.Pattern.quote(name) +
        """\b""").r.findFirstIn(stmtText).isDefined
      val ms = joins.filter(_.group(1).equalsIgnoreCase(name))
      if (ms.isEmpty && referenced)
        throw new IllegalArgumentException(
          s"keyed lookup dim $name is only reachable through the " +
            "temporal-join shape `JOIN " + name + " FOR SYSTEM_TIME AS " +
            "OF <col> AS d ON s.k = d.k` (demo_3.md:94-109); plain " +
            "references cannot be served by point queries")
      if (ms.nonEmpty) {
        val infos = ms.map(m => parseKeyedJoin(name, stmtText, m, aliasOf))
        def probeDf(i: KeyedJoin) = spark.table(curView.getOrElse(
          i.streamTable.toLowerCase(java.util.Locale.ROOT), i.streamTable))
        val streamingProbes = infos.map(i => probeDf(i).isStreaming)
        if (streamingProbes.exists(identity)) {
          require(streamingProbes.forall(identity),
            s"keyed lookup dim $name: a statement mixing streaming and " +
              "batch probe sides for one dim is not supported")
          infos.foreach { i =>
            val (q2, v) = rewriteStreamingKeyedJoin(outQuery, name, spec, i,
              curView)
            outQuery = q2
            createdViews += v
          }
        } else registerKeyedSliceView(name, spec, infos)
      }
    }
    (outQuery, createdViews.result())
  }

  /** The BATCH keyed shape: one distributed key-covering slice view per
    * dim per statement (see [[prepareKeyedDims]]).
    */
  private def registerKeyedSliceView(name: String, spec: TableSpec,
      infos: Seq[KeyedJoin]): Unit = {
    import org.apache.spark.sql.functions.col
    val (ttlMs, maxRows, retries, inChunk) = lookupCfg(spec)
    // distinct probe keys per dim key column, cast to the DIM key's
    // type first (JDBC hands back e.g. java.lang.Long; an uncast
    // Integer probe would miss by runtime equality and silently empty
    // the join)
    val byCol: Seq[(String, DataFrame)] =
      infos.groupBy(_.dimCol).toSeq.sortBy(_._1).map { case (dimCol, is) =>
        val kt = dimKeyType(name, spec, dimCol)
        dimCol -> is.map { i =>
          spark.table(i.streamTable)
            .select(col(i.streamCol).cast(kt).as("k"))
            .where(col("k").isNotNull)
        }.reduce(_ union _).distinct()
      }
    // 'lookup.keys-per-batch' is OPT-IN: the slice is distributed, so
    // there is no driver bound left to protect — the option remains as
    // an explicit cache-thrash guard (a probe set far past the cache
    // bound refetches every statement), enforced with one bounded count
    spec.options.get("lookup.keys-per-batch").map(_.trim.toLong)
      .foreach { maxKeys =>
        byCol.foreach { case (c, keys) =>
          val probe = math.min(maxKeys + 1, Int.MaxValue.toLong).toInt
          val n = keys.limit(probe).count()
          require(n <= maxKeys,
            s"keyed lookup dim $name: statement probes $n distinct " +
              s"keys on '$c' (> $maxKeys 'lookup.keys-per-batch'); " +
              "raise the bound or pre-aggregate the probe side")
        }
      }
    val slices = byCol.zipWithIndex.map { case ((dimCol, keys), i) =>
      var s = graft.streaming.LookupJoin.dimSlice(keys,
        spec.options("url"), spec.options, spec.options("table-name"),
        dimCol, spec.schema, maxRows, ttlMs, retries,
        inListChunk = inChunk)
      // a dim row matching probed keys of SEVERAL columns must appear
      // ONCE in the view (as in a snapshot view): rows whose
      // earlier-column value was probed are exactly the rows that
      // earlier slice already fetched — anti-join them away. Preserves
      // genuine duplicate dim rows (a full-row value-dedup would not).
      byCol.take(i).foreach { case (prevCol, prevKeys) =>
        s = s.join(prevKeys.withColumnRenamed("k", "__graft_gk"),
          s(prevCol) === col("__graft_gk"), "left_anti")
      }
      s
    }
    slices.reduce(_ union _).createOrReplaceTempView(name)
  }

  private val enrCounter = new java.util.concurrent.atomic.AtomicInteger(0)
  private val EnrPrefix = "__graft_dim_"

  /** The STREAMING keyed shape: splice a per-partition point-query
    * enrichment into the streaming plan and rewrite the statement text
    * around it (see [[prepareKeyedDims]]). Returns the rewritten query
    * and the enriched view's name.
    */
  private def rewriteStreamingKeyedJoin(query: String, name: String,
      spec: TableSpec, i: KeyedJoin,
      curView: mutable.Map[String, String]): (String, String) = {
    import org.apache.spark.sql.functions.col
    import java.util.regex.Pattern.quote
    import scala.util.matching.Regex.quoteReplacement
    require(!i.extraConjunct,
      s"keyed lookup dim $name: the streaming point-query path supports " +
        "a single-equality ON (the demo_3 shape); move additional " +
        "predicates to the WHERE clause")
    val (ttlMs, maxRows, retries, inChunk) = lookupCfg(spec)
    val kt = dimKeyType(name, spec, i.dimCol)
    val lkey = i.streamTable.toLowerCase(java.util.Locale.ROOT)
    val prevName = curView.getOrElse(lkey, i.streamTable)
    val stream = spark.table(prevName)
    require(!stream.columns.contains("__graft_probe_k"),
      s"keyed lookup dim $name: probe source carries the reserved " +
        "'__graft_probe_k' column")
    // a chained enrichment legitimately carries the PREVIOUS dim's
    // prefixed columns; only a raw source with the prefix is a clash
    if (!curView.contains(lkey))
      require(!stream.columns.exists(_.startsWith(EnrPrefix)),
        s"keyed lookup dim $name: probe source carries reserved " +
          s"'$EnrPrefix*' columns")
    val how = if (i.leftJoin) "left" else "inner"
    // hidden probe column: carries the stream key CAST to the dim key
    // type (runtime-equality contract of the executor-side lookup)
    // without changing the visible column's type
    val probed = stream.withColumn("__graft_probe_k",
      col(i.streamCol).cast(kt))
    val enriched0 = graft.streaming.LookupJoin.enrichKeyedPartitions(
      spec.options("url"), spec.options, spec.options("table-name"),
      "__graft_probe_k", i.dimCol, spec.schema, how, maxRows, ttlMs,
      retries, inListChunk = inChunk)(probed)
      .drop("__graft_probe_k")
    // collision-proof dim column names: d.col references rewrite to
    // these, so a dim column sharing a stream column's name keeps its
    // OWN values (incl. NULL-extension under a left join)
    val renames = spec.schema.fieldNames
      .map(c => c -> s"$EnrPrefix${i.alias}_$c").toMap
    val outNames = stream.columns ++ spec.schema.fieldNames.map(renames)
    val enriched = enriched0.toDF(outNames.toIndexedSeq: _*)
    val v = s"__graft_keyed_enr_${enrCounter.incrementAndGet()}"
    enriched.createOrReplaceTempView(v)

    // 1) delete the temporal join clause (FlinkSqlRewrite has already
    // stripped FOR SYSTEM_TIME from `query`; keep it optional anyway)
    def colRef(qc: String): String = {
      val Array(q, c) = qc.split('.')
      "`?" + quote(q) + "`?\\s*\\.\\s*`?" + quote(c) + "`?"
    }
    val joinRe = ("(?i)(?:LEFT\\s+(?:OUTER\\s+)?)?JOIN\\s+`?" +
      quote(name) + "`?\\s+(?:FOR\\s+SYSTEM_TIME\\s+AS\\s+OF\\s+" +
      "[`\\w.]+\\s+)?(?:AS\\s+)?" + quote(i.alias) + "\\s+ON\\s+" +
      colRef(i.lhsText) + "\\s*=\\s*" + colRef(i.rhsText)).r
    require(joinRe.findFirstIn(query).isDefined,
      s"keyed lookup dim $name: cannot locate the temporal join of " +
        s"'$name' (alias ${i.alias}) in the rewritten statement text")
    var out = joinRe.replaceFirstIn(query, " ")

    // the dim's own join clause is now gone; the textual rewrites below
    // cannot scope identifiers, so two conflicts must fail loudly with
    // the fix named rather than silently rewriting the wrong scope:
    //  - another FROM/JOIN binding the DIM alias (an unrelated
    //    subquery's `FROM other_tab d`) — its `d.col` references would
    //    be clobbered by the qualifier rewrite;
    //  - more than one FROM/JOIN binding the PROBE qualifier (a
    //    subquery re-selecting from the probe table under the same
    //    alias) — the enrichment would attach to whichever occurrence
    //    comes first textually, not necessarily the joined one.
    val probeQualLower = i.streamQual.toLowerCase(java.util.Locale.ROOT)
    var probeQualBinds = 0
    FromAliasRe.findAllMatchIn(out).foreach { fm =>
      val boundAlias = Option(fm.group(2))
        .filterNot(a => SqlKeywords(a.toLowerCase(java.util.Locale.ROOT)))
      if (boundAlias.exists(_.equalsIgnoreCase(i.alias)) ||
          fm.group(1).equalsIgnoreCase(i.alias))
        throw new IllegalArgumentException(
          s"keyed lookup dim $name: alias '${i.alias}' is also bound " +
            "by another FROM/JOIN in the statement; the streaming " +
            "point-query rewrite is textual and cannot scope qualified " +
            "references — rename the dim alias or the conflicting one")
      // step 3 below rewrites `<dimTableName>.col` references too, so
      // a FROM/JOIN binding the dim's TABLE NAME (an unrelated relation
      // aliased as the dim name, or a plain scan of it) would have its
      // qualified references silently clobbered — reject it like the
      // alias clash. A remaining `JOIN <dim> FOR SYSTEM_TIME …` of the
      // SAME dim under another alias is legitimate (a later iteration
      // rewrites it); FromAliasRe consumed its SYSTEM_TIME clause, so
      // it is recognizable in the matched text and skipped.
      val pendingTemporal =
        fm.matched.toUpperCase(java.util.Locale.ROOT).contains("SYSTEM_TIME")
      if (!pendingTemporal &&
          (boundAlias.exists(_.equalsIgnoreCase(name)) ||
            fm.group(1).equalsIgnoreCase(name)))
        throw new IllegalArgumentException(
          s"keyed lookup dim $name: the dim's table name is also bound " +
            "by another FROM/JOIN in the statement; the streaming " +
            "point-query rewrite is textual and cannot scope qualified " +
            "references — rename the conflicting relation or its alias")
      val effQual = boundAlias.getOrElse(fm.group(1))
        .toLowerCase(java.util.Locale.ROOT)
      if (effQual == probeQualLower) probeQualBinds += 1
    }
    // derived tables bind aliases too — `(SELECT …) d` in ANY scope —
    // and FromAliasRe cannot see through the parenthesis, so a nested
    // subquery aliased as the dim would have its qualified references
    // silently rewritten to the enriched columns (and resolved from the
    // OUTER scope — wrong values, no error). Scan the `) [AS] alias`
    // form directly. SELECT-list expression aliases match this shape
    // too (`SUM(x) d`); a collision there rejects loudly as well — the
    // safe direction for a textual rewrite, fixed by renaming either.
    ParenAliasRe.findAllMatchIn(out).foreach { pm =>
      val a = pm.group(1)
      if (!SqlKeywords(a.toLowerCase(java.util.Locale.ROOT))) {
        if (a.equalsIgnoreCase(i.alias) || a.equalsIgnoreCase(name))
          throw new IllegalArgumentException(
            s"keyed lookup dim $name: '${a}' is also bound or aliased " +
              "after a parenthesized expression or derived table " +
              "elsewhere in the statement; the streaming point-query " +
              "rewrite is textual and cannot scope qualified " +
              "references — rename the dim alias or the conflicting one")
        if (a.equalsIgnoreCase(i.streamQual)) probeQualBinds += 1
      }
    }
    if (probeQualBinds > 1)
      throw new IllegalArgumentException(
        s"keyed lookup dim $name: probe qualifier '${i.streamQual}' is " +
          "bound by more than one FROM/JOIN (or derived-table alias) " +
          "in the statement (e.g. a subquery re-selecting from the " +
          "probe table under the same alias); the streaming " +
          "point-query rewrite cannot tell the scopes apart — give " +
          "the subquery's relation a different alias")

    // 2) probe table reference → enriched view, keeping (or minting)
    // the alias so stream-side qualified references keep resolving.
    // (?!\w) guards the table-name end: without it a probe table that
    // is a PREFIX of another identifier (flink_test_3 vs
    // flink_test_3_dim — the demo_3 names!) would match inside it.
    // Only the occurrence whose EFFECTIVE qualifier (alias, or the bare
    // table name when un-aliased) is the ON clause's probe qualifier is
    // rewritten: a statement referencing the stream table twice (a
    // self-join `FROM s AS x JOIN s AS a2 … ON a2.k = d.k`) must attach
    // the enrichment to a2's relation, not to the first textual match —
    // the wrong occurrence would key the point queries off x's rows and
    // leave a2 un-enriched, silently wrong with no error
    val probeRe = ("(?i)\\b(FROM|JOIN)\\s+`?" + quote(prevName) +
      "`?(?!\\w)((\\s+AS)?\\s+(\\w+))?").r
    val wantQual = i.streamQual.toLowerCase(java.util.Locale.ROOT)
    var replaced = false
    out = probeRe.replaceSomeIn(out, mm => {
      val cand = Option(mm.group(4))
        .filterNot(a => SqlKeywords(a.toLowerCase(java.util.Locale.ROOT)))
      val effQual = cand.getOrElse(prevName)
        .toLowerCase(java.util.Locale.ROOT)
      if (replaced || effQual != wantQual) None
      else {
        replaced = true
        val (alias, trailer) = Option(mm.group(4)) match {
          case Some(a) if cand.isDefined => (a, "")
          case Some(a) => (i.streamQual, " " + a) // keyword: emit it back
          case None => (i.streamQual, "")
        }
        Some(quoteReplacement(
          mm.group(1) + " " + v + " AS " + alias + trailer))
      }
    })
    require(replaced,
      s"keyed lookup dim $name: cannot locate probe table '$prevName' " +
        s"under qualifier '${i.streamQual}' in the statement")

    // 3) dim-qualified references → the renamed enriched columns
    spec.schema.fieldNames.foreach { c =>
      val r = ("(?i)\\b(?:" + quote(i.alias) + "|" + quote(name) +
        ")\\s*\\.\\s*`?" + quote(c) + "`?").r
      out = r.replaceAllIn(out, quoteReplacement(renames(c)))
    }
    ("(?i)\\b" + quote(i.alias) + "\\s*\\.").r.findFirstIn(out).foreach {
      _ =>
        throw new IllegalArgumentException(
          s"keyed lookup dim $name: statement references " +
            s"${i.alias}.<col> not in the declared dim schema " +
            s"(${spec.schema.fieldNames.mkString(", ")})")
    }
    curView(lkey) = v
    (out, v)
  }

  /** Release runner-held resources (lookup-dim cache + TTL scheduler).
    * Streaming queries started by [[run]] are unaffected.
    */
  def close(): Unit = {
    if (lookupDims.nonEmpty) {
      lookupRefresherOpt.foreach(_.shutdownNow())
      lookupRefresherOpt = None
      lookupDims.values.foreach(_.release())
      lookupDims.clear()
    }
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
    ScriptRunner.dimHolders.remove(this)
  }

  /** print/blackhole/memory/jdbc-upsert tables can't be sources. */
  private def isSinkOnly(spec: TableSpec): Boolean =
    Set("print", "blackhole", "memory").contains(spec.connector) ||
      (spec.connector == "jdbc" && spec.primaryKey.nonEmpty)
}

object ScriptRunner {
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
