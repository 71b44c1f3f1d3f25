package graft.queries

import graft.{QueryPack, Tables}
import graft.Num.{dsum6, oSum6}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Full-text relevance search over the document corpus — the retrieval
  * side of a training-data pipeline (dedup-adjacent: "find everything
  * that looks like this query" is the same posting-list machinery as
  * contamination lookup, e.g. reference job platforms route such
  * queries to an external search sink; the reference wires an
  * Elasticsearch sink up in /root/reference/docs/sql_demo/demo_6.md —
  * here the scoring itself is native).
  *
  * Scoring is BM25 with a LOG-FREE idf: the exact rational odds ratio
  * `(2(N-df)+1)/(2df+1)` stands in for `ln((N-df+0.5)/(df+0.5))`.
  * Rationale (the same rule every scoring op in this repo follows, see
  * [[TextAnalysis]]): libm `ln` is not bit-stable across engines, but
  * integer-derived divisions and IEEE multiply/divide chains are, so
  * the DuckDB oracle reproduces every score BIT-exactly. The odds
  * ratio is a strictly monotone transform of the textbook idf per
  * term; multi-term sums therefore weight rare terms more steeply than
  * the log form — a documented scoring-family deviation, not an
  * implementation approximation. The tf saturation term is textbook
  * BM25 (k1 = 1.2, b = 0.75), evaluated in one fixed expression-tree
  * order mirrored token-for-token in the oracle SQL.
  *
  * The 100 TB plan (classic distributed term-at-a-time retrieval):
  *   - Index build: ONE corpus tokenize pass → per-(doc,term) counts
  *     (map-side-combined keyed agg); document frequencies come from a
  *     count window over `term`, whose single exchange ALSO leaves the
  *     postings partitioned on the probe key. The corpus scalars (N,
  *     total tokens) reduce from the same tf relation — its shuffle is
  *     shared via ReuseExchange (spec-pinned), never a second corpus
  *     scan — and ride a 1-row cross join, broadcast, not collected.
  *   - Probe: ONE shuffle join of exploded query terms against the
  *     postings on `term` — fan-out is Σ df(term) over query terms,
  *     the inherent cost of term-at-a-time scoring. The per-(query,
  *     doc) score agg map-side combines; the final top-k is a
  *     `row_number` window partitioned by query id, k rows kept per
  *     query.
  *   - Skew: a stop-word-grade term's posting list is corpus-sized;
  *     production pairs this with stop-term dropping — the `dfCap`
  *     option (same hot-bucket discipline as minhash LSH's
  *     `maxBucket`): terms with df > cap are dropped from SCORING
  *     (corpus statistics stay uncapped), drops are accounted via an
  *     `observe()` metric and logged at WARN — no silent truncation.
  *     Default stays uncapped: the cap is a recall knob, the operator
  *     keeps exact semantics unless the user opts in.
  *   - Streaming probe ([[bm25TopKStream]]): queries stream against a
  *     FROZEN per-term index (contamination-lookup-at-ingest), zero
  *     keyed state, append mode.
  */
object Search extends QueryPack {

  /** Tokenization shared with [[TextAnalysis]]: plain single-space
    * split, mirrored as `regexp_split_to_array(text, ' ')` in DuckDB.
    */
  private def words(c: Column): Column = split(c, " ")

  private val K1 = 1.2
  private val B = 0.75

  /** Partition floor for the index-build window exchanges: an EXPLICIT
    * repartition count is exempt from AQE partition coalescing, which
    * on small corpora folded these corpus-sized window stages to ONE
    * partition and serialized them (the measured sf0.1 > sf1 anomaly
    * in SCALE.md); at sf1+ the count equals what AQE picked anyway, so
    * nothing changes at scale. Falls back to 32 if the session conf is
    * not a number (e.g. "auto" on some deployments).
    */
  private def indexPartitions(s: SparkSession): Int =
    s.conf.getOption("spark.sql.shuffle.partitions")
      .flatMap(_.toIntOption).getOrElse(32).max(1)

  /** Shared posting-index build (ONE corpus tokenize pass): per-(doc,
    * term) counts with dl riding the key, document frequency via a
    * term window — the single exchange that also leaves the postings
    * partitioned on the probe key — and the corpus scalars (n_docs,
    * total_tok) reduced from the same tf relation, whose shuffle both
    * consumers share via ReuseExchange (spec-pinned; never a second
    * corpus scan). Every non-NULL text yields ≥ 1 token (split of ""
    * is [""]), so countDistinct(doc_id) == N; NULL-text rows never
    * enter tf and are thereby excluded from the corpus and its
    * statistics — the oracle mirrors this with `WHERE text IS NOT
    * NULL`.
    *
    * `dfCap`: drop terms with df > cap from the index (stop-term
    * discipline — their posting lists are corpus-sized and dominate
    * probe fan-out). Corpus statistics are computed BEFORE the cap
    * (the cap tunes recall, not the idf definition), and dropped
    * posting rows are counted via the `bm25_dfcap` observe() metric.
    */
  private[queries] def postingIndex(corpus: DataFrame, idCol: String,
      textCol: String, dfCap: Option[Long] = None): DataFrame = {
    // spread the raw rows before tokenize+explode (§2.5): a one-split
    // corpus would run the whole posting fan-out single-core; identity
    // on production-sized scans
    val docs = graft.Par.spread(
      corpus.select(col(idCol).as("doc_id"), col(textCol).as("text")))
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).as("dl"))
    val tf = docs.select(col("doc_id"), col("dl"),
        explode(col("w")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // Stats FROM tf, deliberately: the two references build
    // bit-identical subtrees, so AQE's exchange reuse serves the stats
    // aggregate from tf's shuffle at runtime (SearchSpec pins the
    // ReusedExchange/ReusedQueryStage) — the corpus is tokenized ONCE
    // and the stats pass reads term-level shuffle output, not the
    // corpus. (r18 tried stats-from-docs to "remove the second pass";
    // that ADDED a corpus re-scan because the doc-level branch shares
    // no exchange to reuse — reverted, the test caught it.)
    val stats = tf.agg(countDistinct(col("doc_id")).as("n_docs"),
      sum(col("tf")).as("total_tok"))
    val withDf = tf
      .repartition(indexPartitions(corpus.sparkSession), col("term"))
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("term"))))
    val kept = dfCap match {
      case Some(cap) =>
        require(cap >= 1, s"TEXT_SEARCH_BM25: df cap must be >= 1, got $cap")
        CapDrops.watch(corpus.sparkSession)
        withDf
          .observe("bm25_dfcap",
            sum(when(col("df") > cap, 1).otherwise(0))
              .as("dropped_postings"))
          .filter(col("df") <= cap)
      // uncapped mode carries no drop accounting at all — a
      // never-firing metric would mislead readers into thinking drops
      // are possible on this path
      case None => withDf
    }
    kept.crossJoin(stats)
  }

  /** The log-free rational odds-ratio idf shared by both scorers —
    * `(2(N-df)+1)/(2df+1)`, the exact monotone stand-in for
    * `ln((N-df+.5)/(df+.5))` (see the object Scaladoc).
    */
  private def idf: Column =
    (lit(2.0) * (col("n_docs") - col("df")) + lit(1.0)) /
      (lit(2.0) * col("df") + lit(1.0))

  /** The per-posting BM25 addend (idf × tf-saturation), ONE fixed
    * expression tree shared by the batch scorer and the streaming
    * index build so the two routes cannot drift — every input is
    * integer-derived, every op is IEEE mul/div/add, so both engines
    * (and both routes) produce bit-identical doubles. Literals spelled
    * out (2.2, not K1+1.0: the Scala double sum is 2.2000000000000002,
    * the parsed literal both engines share is 2.2).
    */
  private def bm25Addend: Column = {
    val avgdl = col("total_tok").cast("double") / col("n_docs")
    val tfd = col("tf").cast("double")
    val sat = (tfd * lit(2.2)) /
      (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    idf * sat
  }

  /** BM25 top-k retrieval: for each query row, the k highest-scoring
    * corpus documents → (qid, doc_id, score, rank). Query terms are
    * de-duplicated across the relation (the standard short-query form;
    * qtf weighting is a long-query refinement this contract omits).
    * Ties break on doc_id so ranks are total and deterministic.
    * Queries with no term in the corpus vocabulary return no rows.
    * Contract edges: a NULL-text corpus row is excluded from the
    * corpus AND its statistics (N, avgdl) — the oracle mirrors this —
    * and `idCol` must be a key (duplicate ids would merge their term
    * counts). `dfCap` drops stop-grade terms from scoring (see
    * [[postingIndex]]); default uncapped.
    */
  def bm25TopK(queries: DataFrame, corpus: DataFrame,
      qidCol: String, qtextCol: String, idCol: String, textCol: String,
      k: Int = 10, dfCap: Option[Long] = None): DataFrame = {
    require(k >= 1, s"TEXT_SEARCH_BM25: k must be >= 1, got $k")
    graft.functions.GraftFunctions.register(queries.sparkSession)
    val postings = postingIndex(corpus, idCol, textCol, dfCap)

    // distinct across the RELATION, not just within a row: a caller
    // feeding duplicate qid rows must not double-count addends (the
    // oracle's DISTINCT (qid, term) contract)
    val qterms = queries.select(col(qidCol).as("qid"),
        explode(array_distinct(words(col(qtextCol)))).as("term"))
      .dropDuplicates("qid", "term")

    val scored = qterms.join(postings, "term")
      .groupBy(col("qid"), col("doc_id"))
      .agg(dsum6(bm25Addend).as("score"))

    // bounded partial top-k (guide §2.3, aggregate before you shuffle):
    // the per-qid cut used to be a row_number window whose exchange
    // carried EVERY (qid, doc) candidate — O(Σ df over query terms)
    // rows per query; the TypedImperativeAggregate's map-side partial
    // step caps the exchange at k entries per qid per partition. Same
    // total order (score DESC, doc_id ASC), so the rows and ranks are
    // identical — top-k under a total order is merge-closed.
    val topk = graft.functions.GraftFunctions
      .topkByScore(col("score"), col("doc_id"), k)
    scored.groupBy(col("qid")).agg(topk.as("tk"))
      .select(col("qid"), posexplode(col("tk")))
      .select(col("qid"), col("col.id").as("doc_id"),
        col("col.score").as("score"), (col("pos") + 1).as("rank"))
  }

  /** STREAMING BM25 probe — contamination-lookup-at-ingest: each
    * arriving query row is scored against a FROZEN corpus index,
    * bit-identically to [[bm25TopK]]. Zero keyed state, append mode.
    *
    * Shape (the frozen-index discipline of [[Similarity.ivfPqTopkStream]]):
    *   - Index: ONE row per term carrying the PRE-SCORED posting list
    *     (the BM25 addend is fully query-independent — idf, tf
    *     saturation, and corpus scalars are all index-side — so the
    *     probe never recomputes scoring arithmetic). Built once, cached
    *     by corpus fingerprint, persisted pre-partitioned on `term`.
    *   - Probe: `maxTerms` stream-static equi joins fetch the query's
    *     terms' posting arrays row-locally (the nProbe-join pattern);
    *     per-doc scores merge INSIDE the row via an order-free
    *     decimal(18,6) fold — the same exact arithmetic as the batch
    *     `dsum6`, so batch and stream hash-match — then one array sort
    *     + slice yields the top k.
    *
    * Contracts: the query side must stream, the corpus must be
    * bounded; queries carry at most `maxTerms` DISTINCT terms (a
    * per-row raise_error otherwise — loud, not silently truncated).
    * At 100 TB the per-row cost is Σ df over the query's terms
    * materialized as in-row arrays, so pair this with `dfCap` — an
    * uncapped stop-term would make single rows corpus-sized (the
    * documented skew knob; the batch probe amortizes the same fan-out
    * across a shuffle instead).
    */
  def bm25TopKStream(queries: DataFrame, corpus: DataFrame,
      qidCol: String, qtextCol: String, idCol: String, textCol: String,
      k: Int = 10, dfCap: Option[Long] = None,
      maxTerms: Int = 8): DataFrame = {
    require(k >= 1, s"TEXT_SEARCH_BM25: k must be >= 1, got $k")
    require(maxTerms >= 1,
      s"TEXT_SEARCH_BM25: maxTerms must be >= 1, got $maxTerms")
    require(queries.isStreaming,
      "bm25TopKStream needs a streaming query side — use bm25TopK for " +
        "batch-vs-batch")
    require(!corpus.isStreaming,
      "TEXT_SEARCH_BM25: the corpus side must be a BOUNDED relation " +
        "(its posting index is built once and frozen) — declare it with " +
        "'source.bounded' = 'true' or a batch connector")
    val s = corpus.sparkSession
    Vec.ensureRegistered(s) // bm25_merge_topk rides the same registry

    // frozen per-term index: (term, postings: array<(doc_id, addend)>),
    // persisted pre-partitioned on the probe key (micro-batches then
    // exchange only stream-side rows); cached by corpus fingerprint so
    // a same-path refresh cannot serve stale
    val idx = StaticIndexCache.getOrBuild[DataFrame](
      StaticIndexCache.corpusKey(s, corpus, "bm25_idx",
        idCol, textCol, dfCap)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_bm25_idx")
      dir.toFile.deleteOnExit()
      postingIndex(corpus, idCol, textCol, dfCap)
        .select(col("term"), col("doc_id"), bm25Addend.as("addend"))
        .groupBy(col("term"))
        .agg(collect_list(struct(col("doc_id"), col("addend")))
          .as("postings"))
        .write.parquet(s"$dir/idx")
      s.read.parquet(s"$dir/idx")
        .repartition(col("term"))
        .sortWithinPartitions(col("term"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

    // ---- row-local query pipeline ----
    val qtRaw = array_distinct(words(col(qtextCol)))
    // loud per-row contract: more distinct terms than probe joins would
    // silently drop scoring mass — fail the row instead
    val qt = when(size(qtRaw) > maxTerms,
      raise_error(concat(
        lit(s"TEXT_SEARCH_BM25 streaming probe supports at most " +
          s"$maxTerms distinct query terms (maxTerms arg); got "),
        size(qtRaw).cast("string")))).otherwise(qtRaw)
    val q0 = queries.select(col(qidCol).as("qid"), qt.as("qterms"))
    // maxTerms stream-static equi joins fetch the terms' posting
    // arrays (left: an out-of-vocabulary term has no index row)
    val joined = (0 until maxTerms).foldLeft(q0) { (acc, j) =>
      // get(), not element_at: 0-based and NULL (never an ANSI error)
      // past the end of a shorter-than-maxTerms query — a NULL join key
      // simply matches no index row
      acc.join(
        idx.select(col("term").as(s"__t_$j"),
          col("postings").as(s"__p_$j")),
        get(col("qterms"), lit(j)) === col(s"__t_$j"), "left")
    }
    val emptyPostings = array().cast(idx.schema("postings").dataType)
    val members = flatten(array((0 until maxTerms).map(j =>
      coalesce(col(s"__p_$j"), emptyPostings)): _*))
    // per-doc merge + top-k INSIDE the row as ONE fused native node
    // ([[graft.functions.Bm25MergeTopK]]): O(n) hash merge over the
    // n = Σ df addends with the batch dsum6's exact decimal(18,6)
    // arithmetic, then a bounded (score DESC, doc_id ASC) top-k — the
    // routes hash-match bit-for-bit. The pure-SQL spelling (per-doc
    // filter+aggregate lambdas) was O(D·n) interpreted calls per row,
    // measured intractable on the dense-vocabulary stress corpus.
    val topk = graft.functions.GraftFunctions.bm25MergeTopK(members, k)
    joined.select(col("qid"), posexplode(topk))
      .select(col("qid"), col("col.doc_id").as("doc_id"),
        col("col.score").as("score"), (col("pos") + 1).as("rank"))
  }

  /** TF-IDF keyword extraction: the k most corpus-distinctive terms
    * per document → (doc_id, term, weight, rank). Weight is the
    * log-free rational `tf/dl × (2(N-df)+1)/(2df+1)` (same idf family
    * as [[bm25TopK]], same bit-stability rationale). One tokenize
    * pass, two map-side-combined keyed aggs, one per-doc window (with
    * the same explicit-count partition floor as the index build — see
    * [[indexPartitions]]).
    */
  def keywordsTfidf(corpus: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    require(k >= 1, s"keywordsTfidf: k must be >= 1, got $k")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val weight = (col("tf").cast("double") / col("dl")) * idf
    // bounded partial top-k replacing the per-doc row_number window
    // (see [[bm25TopK]]): the exchange carries ≤ k (term, weight)
    // entries per doc per partition instead of the doc's full
    // vocabulary, and the weight projection runs map-side in the
    // term-partitioned index stage — no explicit doc_id repartition
    // (the window's AQE-coalescing floor) is needed any more.
    val topk = graft.functions.GraftFunctions
      .topkByScore(col("weight"), col("term"), k)
    postingIndex(corpus, idCol, textCol)
      .select(col("doc_id"), col("term"), weight.as("weight"))
      .groupBy(col("doc_id")).agg(topk.as("tk"))
      .select(col("doc_id"), posexplode(col("tk")))
      .select(col("doc_id"), col("col.id").as("term"),
        col("col.score").as("weight"), (col("pos") + 1).as("rank"))
  }

  /** The oracle's deterministic query set: every 97th document's first
    * four tokens (≥5 queries at sf0.01, slice bounded so the all-docs
    * DuckDB mirror stays cheap). NULL-text docs are excluded — the
    * DuckDB mirror's query CTE derives from the text-IS-NOT-NULL docs
    * CTE, and concat_ws would otherwise turn a NULL text into the ''
    * query, defining the query set differently across engines.
    */
  private def oracleQueries(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 97 === 3 && col("text").isNotNull)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(words(col("text")), 1, 4)).as("qtext"))

  /** df cap for the capped oracle queries: at the fixtures' dense
    * ~31-term vocabulary most terms sit at df≈390·sf/0.01, so 390
    * splits the vocabulary non-trivially at sf0.01 (rare terms
    * survive, stop-grade terms drop) — both branches exercised.
    */
  private[queries] val OracleDfCap = 390L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_bm25" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      bm25TopK(oracleQueries(docs), docs, "qid", "qtext",
        "doc_id", "text", k = 10)
    }),

    // the stop-term (df cap) recall knob: same query set, terms with
    // df > cap dropped from scoring — the oracle applies the same cap
    "q_text_bm25_capped" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      bm25TopK(oracleQueries(docs), docs, "qid", "qtext",
        "doc_id", "text", k = 10, dfCap = Some(OracleDfCap))
    }),

    "q_text_keywords" -> ((s, dir) =>
      keywordsTfidf(Tables.load(s, dir, "documents"), "doc_id", "text",
        k = 3)))

  // --- DuckDB mirrors -----------------------------------------------------

  /** Shared by `q_text_bm25`, the gate TVF route, AND the streaming
    * probe (bit-identical by construction) so the checks cannot
    * drift. The scoring arithmetic mirrors [[bm25TopK]]'s expression
    * tree token-for-token (see the object Scaladoc). `dfCap` mirrors
    * the Spark-side stop-term drop.
    */
  private[queries] def oBm25SqlWith(dfCap: Option[Long]): String = {
    val capPred = dfCap.fold("")(c => s" WHERE df <= $c")
    s"""WITH d AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS w
       |    FROM documents WHERE text IS NOT NULL),
       |docs AS (SELECT doc_id, w, len(w) AS dl FROM d),
       |stats AS (SELECT COUNT(*) AS n_docs,
       |    SUM(dl) AS total_tok FROM docs),
       |tf AS (SELECT doc_id, dl, unnest(w) AS term FROM docs),
       |tfc AS (SELECT doc_id, dl, term, COUNT(*) AS tf
       |  FROM tf GROUP BY doc_id, dl, term),
       |dfreq0 AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY term),
       |dfreq AS (SELECT term, df FROM dfreq0$capPred),
       |q AS (SELECT doc_id AS qid, w[1:4] AS qw FROM docs
       |  WHERE doc_id % 97 = 3),
       |qt AS (SELECT DISTINCT qid, term
       |  FROM (SELECT qid, unnest(qw) AS term FROM q)),
       |scored AS (SELECT qt.qid, tfc.doc_id,
       |    ${oSum6(
           "((CAST(2.0 AS DOUBLE) * (n_docs - df) + CAST(1.0 AS DOUBLE)) / " +
           "(CAST(2.0 AS DOUBLE) * df + CAST(1.0 AS DOUBLE))) * " +
           "((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) / " +
           "(CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * " +
           "(CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / " +
           "(CAST(total_tok AS DOUBLE) / n_docs))))")}
       |      AS score
       |  FROM qt JOIN tfc USING (term)
       |    JOIN dfreq USING (term), stats
       |  GROUP BY qt.qid, tfc.doc_id)
       |SELECT qid, doc_id, score, rank FROM (
       |  SELECT qid, doc_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY score DESC, doc_id) AS rank
       |  FROM scored)
       |WHERE rank <= 10""".stripMargin
  }

  private[queries] val oBm25Sql: String = oBm25SqlWith(None)
  private[queries] val oBm25CappedSql: String =
    oBm25SqlWith(Some(OracleDfCap))

  def oracleSql: Map[String, String] = Map(
    "q_text_bm25" -> oBm25Sql,
    "q_text_bm25_capped" -> oBm25CappedSql,

    "q_text_keywords" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS w
        |    FROM documents WHERE text IS NOT NULL),
        |docs AS (SELECT doc_id, w, len(w) AS dl FROM d),
        |stats AS (SELECT COUNT(*) AS n_docs FROM docs),
        |tf AS (SELECT doc_id, dl, unnest(w) AS term FROM docs),
        |tfc AS (SELECT doc_id, dl, term, COUNT(*) AS tf
        |  FROM tf GROUP BY doc_id, dl, term),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY term),
        |wgt AS (SELECT doc_id, term,
        |    (CAST(tf AS DOUBLE) / dl) *
        |      ((CAST(2.0 AS DOUBLE) * (n_docs - df) + CAST(1.0 AS DOUBLE)) /
        |        (CAST(2.0 AS DOUBLE) * df + CAST(1.0 AS DOUBLE))) AS weight
        |  FROM tfc JOIN dfreq USING (term), stats)
        |SELECT doc_id, term, weight, rank FROM (
        |  SELECT doc_id, term, weight,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY weight DESC, term) AS rank
        |  FROM wgt)
        |WHERE rank <= 3""".stripMargin)
}
