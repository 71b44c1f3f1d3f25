package graft.sqlgate

import graft.multimodal.MediaOps
import graft.operators.{HeavyHitters, PageRank, TableProfile}
import graft.queries.{Dedup, Joins, Search, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, FunctionTableSubqueryArgumentExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.functions.col

/** Gate-reachable LLM-pipeline operators as polymorphic table-valued
  * functions — the statement-layer door into the dedup / ANN / text /
  * media surface, spelled in the same `TABLE(F(TABLE src,
  * DESCRIPTOR(col), …))` dialect as the Flink window TVFs the gate
  * already accepts (so a reference-style script author uses one idiom
  * for both).
  *
  * Every TVF is one entry of [[Registry]]: its TABLE and DESCRIPTOR
  * arguments, the trailing literals it accepts (type, default, and the
  * counts it takes), the one TABLE seat that may be a streaming source,
  * and the kernel it runs. The call parser, the normalization, the
  * session table functions, the malformed-call usage text and the
  * streaming-rejection text are all read off that table, so adding a TVF
  * takes one entry. Keywords are found through [[SqlLexer]]: a TVF name
  * inside a string literal or a comment is data and is never rewritten
  * or executed.
  *
  * Execution is Spark's own: the text rewrite only normalizes the call
  * to `F(TABLE(x), 'col', k)`, and each TVF name is a session table
  * function (registered by [[FlinkSqlRewrite.register]]) whose builder
  * runs the kernel over its `TABLE(x)` arguments when the statement is
  * analyzed and returns the kernel's plan. Sources are resolved by the
  * analyzer like any other relation; nothing is registered in the
  * catalog.
  *
  * Streaming sources: a TVF whose entry names a streaming seat routes a
  * streaming relation in that seat incrementally — `DEDUP_EXACT` as
  * keyed first-arrival deduplication (Flink SQL's "Deduplication"
  * pattern, Spark-native as streaming `dropDuplicates` over the
  * descriptor columns, append mode: which PHYSICAL row arrives first is
  * racy under a parallel source, but the emitted KEY SET is
  * deterministic and converges to batch `DISTINCT`; bound its state by
  * watermarking the source and including the event-time column in the
  * descriptors), the stateless per-row maps (text quality, language id,
  * media decodes) through the same column expressions with zero state,
  * and the cross-corpus TVFs by probing an index frozen once from the
  * BOUNDED other side, which their kernels check loudly. Every other
  * seat aggregates or joins over the whole relation with no incremental
  * contract, so a streaming source there is rejected loudly rather than
  * silently re-windowed.
  */
object GraftTvfRewrite {

  /** A trailing literal slot: integer-only (`0.5` is rejected) or
    * decimal, and the value used when the call omits it (None: the
    * kernel sizes it).
    */
  private[sqlgate] final case class Lit(name: String, int: Boolean,
      default: Option[String])
  private def int(name: String): Lit = Lit(name, int = true, None)
  private def int(name: String, default: Int): Lit =
    Lit(name, int = true, Some(default.toString))
  private def num(name: String, default: Double): Lit =
    Lit(name, int = false, Some(default.toString))

  /** One parsed call handed to a kernel builder: the relations of its
    * TABLE arguments, its DESCRIPTOR columns (backticks stripped) and
    * its trailing literals with defaults filled in.
    */
  private[sqlgate] final case class Call(spark: SparkSession, tvf: Tvf,
      t: Seq[DataFrame], d: Seq[String], lit: Seq[Option[String]]) {
    def int(i: Int): Int = lit(i).get.toInt
    def num(i: Int): Double = lit(i).get.toDouble
    def opt(i: Int): Option[Int] = lit(i).map(_.toInt)
  }

  /** A TVF signature. `counts` lists the accepted numbers of trailing
    * literals (default: any prefix of `lits`); `stream` is the index of
    * the TABLE argument that may be a streaming source.
    */
  private[sqlgate] final case class Tvf(name: String, tables: Seq[String],
      descriptors: Seq[String], lits: Seq[Lit] = Nil, counts: Seq[Int] = Nil,
      stream: Option[Int] = None)(val build: Call => DataFrame) {
    def arities: Seq[Int] = if (counts.nonEmpty) counts else 0 to lits.size
    def usage: String = {
      val cs = arities.sorted
      val optional = cs.zip(cs.tail).map { case (a, b) =>
        "[" + lits.slice(a, b).map(", " + _.name).mkString }
      val args = tables.map("TABLE " + _) ++
        descriptors.map(d => s"DESCRIPTOR($d)")
      s"TABLE($name(${args.mkString(", ")}" +
        lits.take(cs.head).map(", " + _.name).mkString +
        optional.mkString + "]" * optional.size + "))"
    }
  }

  /** `(id, media)` relation for the media kernels. The id descriptor is
    * checked BEFORE the widening cast: a silent cast("long") would turn a
    * string/decimal/NULL id into an opaque encoder error deep inside the
    * kernel.
    */
  private def media(c: Call, df: DataFrame): DataFrame = {
    val idType = df.schema.fields
      .find(f => c.spark.sessionState.conf.resolver(f.name, c.d(0)))
      .map(_.dataType)
    import org.apache.spark.sql.types._
    require(idType.exists(Seq(LongType, IntegerType, ShortType, ByteType)
      .contains(_)),
      s"media TVFs: id column '${c.d(0)}' must be an integer type " +
        "(BIGINT/INT/SMALLINT/TINYINT); got " +
        s"${idType.map(_.sql).getOrElse("no such column")}. Usage: " +
        c.tvf.usage)
    df.select(col(c.d(0)).cast("long").as("id"), col(c.d(1)).as("media"))
  }

  private val Text = Seq("id", "text")
  private val Media = Seq("id", "media")
  private val Vector = Seq("id", "vec")
  private val Cross = Seq("incoming", "corpus")
  private val Ann = Seq("corpus", "queries")
  private val One = Seq("t")

  /** Every graft TVF. Output columns and the kernel's own doc are on the
    * kernel each entry names.
    */
  private[sqlgate] val Registry: Seq[Tvf] = Seq(
    // (keep_id, n_copies): one survivor (min id) per identical text; a
    // stream routes to keyed first-arrival dedup (see the object doc)
    Tvf("DEDUP_EXACT", One, Text, stream = Some(0)) { c =>
      if (c.t(0).isStreaming) c.t(0).select(c.d.map(col): _*).dropDuplicates(c.d)
      else Dedup.exactGroups(c.t(0), c.d(0), c.d(1))
    },
    // (ida, idb, jacc): verified near-dup pairs via MinHash+LSH
    Tvf("DEDUP_MINHASH_PAIRS", One, Text, Seq(num("threshold", 0.8)))(c =>
      Dedup.minhashVerifiedPairs(c.t(0), c.d(0), c.d(1), c.num(0))),
    // (ida, idb, hamming): hamming ≤ 3 pairs via SimHash chunk blocking;
    // the chunk width defaults to one sized from the row count
    Tvf("DEDUP_SIMHASH_PAIRS", One, Text, Seq(int("chunkWidth")))(c =>
      Dedup.simhashVerifiedPairs(c.t(0), c.d(0), c.d(1), c.opt(0)
        .getOrElse(Dedup.simhashChunkWidth(c.t(0).count())))),
    // (ida, idb, jacc): incoming × corpus near-dup pairs, never corpus²
    Tvf("DEDUP_CROSS_PAIRS", Cross, Text, Seq(num("threshold", 0.8)),
        stream = Some(0)) { c =>
      if (c.t(0).isStreaming) Dedup.minhashCrossPairsStream(
        c.t(0), c.t(1), c.d(0), c.d(1), c.num(0))
      else Dedup.minhashCrossPairs(c.t(0), c.t(1), c.d(0), c.d(1), c.num(0))
    },
    // (ida, idb, cosine): semantic dedup within shared centroid cells;
    // with `cells` the corpus fits that many centroids (the √n production
    // sizing), without it the fixed 16-cell deterministic window
    Tvf("DEDUP_EMBED_PAIRS", Cross, Vector,
        Seq(num("threshold", 0.35), int("cells")), stream = Some(0)) { c =>
      c.opt(1).fold(Dedup.embedCrossPairs(c.t(0), c.t(1), c.d(0), c.d(1),
        c.num(0)))(cells => Dedup.embedCrossPairsSized(c.t(0), c.t(1),
        c.d(0), c.d(1), cells, c.num(0)))
    },
    // (ida, idb, jacc): exact threshold Jaccard self-join over 3-word
    // shingles via prefix filtering, theta = thetaNum / thetaDen
    Tvf("DEDUP_JACCARD_PAIRS", One, Text,
        Seq(int("thetaNum", 3), int("thetaDen", 5)), Seq(0, 2))(c =>
      Dedup.jaccardJoin(Dedup.jaccardSets(c.t(0), c.d(0), c.d(1),
        shingleN = 3), c.int(0), c.int(1))),
    // (ida, idb, jacc): exact cross-corpus threshold Jaccard
    Tvf("DEDUP_JACCARD_CROSS", Cross, Text,
        Seq(int("thetaNum", 3), int("thetaDen", 5)), Seq(0, 2),
        stream = Some(0)) { c =>
      if (c.t(0).isStreaming) Dedup.jaccardJoinCrossStream(
        c.t(0), c.t(1), c.d(0), c.d(1), c.int(0), c.int(1))
      else Dedup.jaccardJoinCross(
        c.t(0), c.t(1), c.d(0), c.d(1), c.int(0), c.int(1))
    },
    // (id_a, id_b, hamming): perceptual near-dup images (64-bit dHash,
    // banded blocking + exact verify)
    Tvf("DEDUP_PHASH_PAIRS", One, Media, Seq(int("maxHamming", 3)))(c =>
      Dedup.phashPairs(MediaOps.dhashFeatures(media(c, c.t(0))), c.int(0))),
    // (id_a, id_b, hamming): incoming × corpus image pairs within radius
    Tvf("DEDUP_PHASH_CROSS", Cross, Media, Seq(int("maxHamming", 3)),
        stream = Some(0))(c =>
      Dedup.phashCrossPairs(c.t(0), c.t(1), c.d(0), c.d(1), c.int(0))),
    // (id_a, id_b, n_matched): clips with ≥ minMatches position-aligned
    // frame hashes within the radius, over k sampled frames
    Tvf("VIDEO_PHASH_PAIRS", One, Media, Seq(int("k", 3),
        int("maxHamming", 3), int("minMatches", 2)), Seq(0, 3))(c =>
      Dedup.videoPhashPairs(media(c, c.t(0)), "id", "media", c.int(0),
        c.int(1), c.int(2))),
    // (qid, nid, cosine, rank): exact cosine top-k per query row
    Tvf("ANN_TOPK", Ann, Vector, Seq(int("k", 5)))(c =>
      Similarity.annTopkOn(c.t(0), c.t(1), c.d(0), c.d(1), c.int(0))),
    // same columns; candidates are hyperplane-bucket mates only
    Tvf("ANN_TOPK_LSH", Ann, Vector,
        Seq(int("k", 5), int("planes", Similarity.NPlanes)),
        stream = Some(1)) { c =>
      if (c.t(1).isStreaming) Similarity.annLshTopkStream(
        c.t(0), c.t(1), c.d(0), c.d(1), c.int(0), c.int(1))
      else Similarity.annLshTopkOn(
        c.t(0), c.t(1), c.d(0), c.d(1), c.int(0), c.int(1))
    },
    // same columns; IVF cells + PQ codes + exact re-rank, the quantizer
    // FITTED at `cells` when given, else the deterministic seed windows
    Tvf("ANN_TOPK_IVFPQ", Ann, Vector, Seq(int("nProbe", 4), int("cells")),
        stream = Some(1)) { c =>
      if (c.t(1).isStreaming) Similarity.ivfPqTopkStream(
        c.t(0), c.t(1), c.d(0), c.d(1), c.int(0), cells = c.opt(1))
      else Similarity.ivfPqTopkOn(
        c.t(0), c.t(1), c.d(0), c.d(1), c.int(0), cells = c.opt(1))
    },
    // (vec_id, proj, residual): all-but-the-top embedding cleanup
    Tvf("EMBED_ABTT", One, Vector, Seq(int("rounds", 2)))(c =>
      Similarity.allButTop(c.t(0), c.d(0), c.d(1), c.int(0))),
    // (id, mean_tok_len, stop_ratio, digit_ratio, quality_score)
    Tvf("TEXT_QUALITY", One, Text, stream = Some(0))(c =>
      TextAnalysis.qualityOn(c.t(0), c.d(0), c.d(1))),
    // (id, predicted)
    Tvf("LANG_ID", One, Text, stream = Some(0))(c =>
      TextAnalysis.langidOn(c.t(0), c.d(0), c.d(1))),
    // (doc_id, term, weight, rank): the k most distinctive terms per
    // document by log-free rational TF-IDF
    Tvf("TEXT_KEYWORDS", One, Text, Seq(int("k", 3)))(c =>
      Search.keywordsTfidf(c.t(0), c.d(0), c.d(1), c.int(0))),
    // (qid, doc_id, score, rank): BM25 top-k; dfCap drops stop-grade
    // terms (df > cap) from scoring
    Tvf("TEXT_SEARCH_BM25", Seq("queries", "corpus"),
        Seq("qid", "qtext", "id", "text"), Seq(int("k", 10), int("dfCap")),
        stream = Some(0)) { c =>
      val dfCap = c.lit(1).map(_.toLong)
      if (c.t(0).isStreaming) Search.bm25TopKStream(c.t(0), c.t(1),
        c.d(0), c.d(1), c.d(2), c.d(3), c.int(0), dfCap)
      else Search.bm25TopK(c.t(0), c.t(1),
        c.d(0), c.d(1), c.d(2), c.d(3), c.int(0), dfCap)
    },
    // (round, a, b, freq): BPE pair-merge trainer
    Tvf("TEXT_BPE_MERGES", One, Seq("text"),
        Seq(int("rounds", TextAnalysis.BpeRounds)))(c =>
      TextAnalysis.bpeMerges(c.t(0), c.d(0), c.int(0))),
    // (id, n_tokens, encoded): BPE fit on the relation, then encode it
    Tvf("TOKENIZE", One, Text, Seq(int("rounds", TextAnalysis.BpeRounds)))(c =>
      TextAnalysis.bpeFitEncode(c.t(0), c.d(0), c.d(1), c.int(0))),
    // same columns: fit once on the bounded corpus, encode incoming
    Tvf("TOKENIZE", Cross, Text, Seq(int("rounds", TextAnalysis.BpeRounds)),
        stream = Some(0))(c =>
      TextAnalysis.bpeEncodeWith(c.t(0), c.t(1), c.d(0), c.d(1), c.int(0))),
    // (id, fmt, ok, width, height, n_px, r_sum, g_sum, b_sum): image decode
    Tvf("MEDIA_FEATURES", One, Media, stream = Some(0))(c =>
      MediaOps.imageFeatures(media(c, c.t(0))).toDF()),
    // (id, n_frames, frame_idx, ok, width, height, r_sum, g_sum, b_sum):
    // k uniform-stride frames per clip
    Tvf("MEDIA_VIDEO_FRAMES", One, Media, Seq(int("k", 3)),
        stream = Some(0))(c =>
      MediaOps.videoFrameFeatures(media(c, c.t(0)), c.int(0)).toDF()),
    // (id, fmt, ok, channels, rate, frames, ch0_sum, ch1_sum, peak)
    Tvf("MEDIA_AUDIO", One, Media, stream = Some(0))(c =>
      MediaOps.audioFeatures(media(c, c.t(0))).toDF()),
    // (id, width, height, r_sum, g_sum, b_sum) of the ÷factor downscale
    Tvf("MEDIA_RESIZE", One, Media, Seq(int("factor", 2)),
        stream = Some(0))(c =>
      MediaOps.resizeFeatures(media(c, c.t(0)), c.int(0)).toDF()),
    // (node, rank): scaled-integer PageRank over the edge relation
    Tvf("PAGERANK", Seq("edges"), Seq("src", "dst"), Seq(int("iters", 3)))(c =>
      PageRank(c.t(0).select(col(c.d(0)).as("src"), col(c.d(1)).as("dst")),
        c.int(0))),
    // (node, cluster, is_keeper): undirected connected components
    Tvf("CONNECTED_COMPONENTS", Seq("edges"), Seq("a", "b"))(c =>
      Dedup.connectedComponents(c.t(0).select(c.d.map(col): _*))
        .withColumnRenamed("doc_id", "node")),
    // (ida, idb, dist): all pairs within edit distance k
    Tvf("FUZZY_JOIN", One, Seq("id", "name"), Seq(int("k", 1)))(c =>
      Joins.fuzzySelfJoin(c.t(0).select(col(c.d(0)).as("id"),
        col(c.d(1)).as("name")), c.int(0)).select("ida", "idb", "dist")),
    // (ida, idb, dist): every incoming × corpus pair within distance k
    Tvf("FUZZY_JOIN_CROSS", Cross, Seq("id", "name"), Seq(int("k", 1)),
        stream = Some(0)) { c =>
      val Seq(in, corpus) = c.t.map(_.select(col(c.d(0)).as("id"),
        col(c.d(1)).as("name")))
      Joins.fuzzyCrossJoin(in, corpus, c.int(0))
    },
    // (key, cnt): the k exactly-heaviest keys; k is required
    Tvf("HEAVY_HITTERS", One, Seq("key"), Seq(int("k"), int("capacity")),
        Seq(1, 2)) { c =>
      val k = c.int(0)
      HeavyHitters.exactTopK(c.t(0).select(col(c.d(0)).as("key")), "key", k,
        c.opt(1).getOrElse(math.max(256, 4 * k)))
    },
    // (col, n_rows, n_notnull, ndv, min_s, max_s): one-scan ANALYZE
    Tvf("PROFILE", One, Nil)(c => TableProfile.profile(c.t(0))))

  private val byName = Registry.groupBy(_.name)

  private val Keyword = ("""(?i)(\bTABLE\s*\(\s*)?\b(""" +
    byName.keys.mkString("|") + """)\s*\(""").r
  private val TableArg = """(?i)TABLE\s+([`\w.]+)""".r
  private val DescriptorArg = """(?i)DESCRIPTOR\s*\(\s*([`\w]+)\s*\)""".r
  private val IntLit = """\d+""".r
  private val NumLit = """[0-9.]+""".r

  /** A well-formed call `TABLE(NAME(…))` spanning `[start, end)`. */
  private final case class Site(start: Int, end: Int, tvf: Tvf,
      tables: Seq[String], descriptors: Seq[String], lits: Seq[String])

  /** Every TVF keyword in code, left to right: the call it opens, or
    * the keyword text when the call fits no entry of that name.
    */
  private def sites(sql: String): Seq[Either[String, Site]] =
    SqlLexer.findAll(sql, Keyword).map { m =>
      val open = m.end - 1
      val close = SqlLexer.closeParen(sql, open)
      val end = if (close < 0) -1 else sql.indexWhere(!_.isWhitespace, close + 1)
      val site = for {
        _ <- Option(m.group(1))
        if end >= 0 && sql.charAt(end) == ')'
        args = SqlLexer.splitTopLevel(sql.substring(open + 1, close))
        s <- byName(m.group(2).toUpperCase(java.util.Locale.ROOT)).iterator
          .flatMap(bind(_, args, m.start, end + 1)).nextOption()
      } yield s
      site.toRight(sql.substring(m.start(2), m.end))
    }

  /** The call `[start, end)` with `args` bound to `tvf`'s signature, if
    * they fit it.
    */
  private def bind(tvf: Tvf, args: Seq[String], start: Int,
      end: Int): Option[Site] = {
    val (ts, rest) = args.splitAt(tvf.tables.size)
    val (ds, ls) = rest.splitAt(tvf.descriptors.size)
    val tables = ts.collect { case TableArg(t) => t }
    val descriptors = ds.collect { case DescriptorArg(d) => d }
    Option.when(tables.size == tvf.tables.size &&
      descriptors.size == tvf.descriptors.size &&
      tvf.arities.contains(ls.size) && ls.zip(tvf.lits).forall {
        case (v, l) => (if (l.int) IntLit else NumLit).matches(v) })(
      Site(start, end, tvf, tables, descriptors, ls))
  }

  private def malformed(name: String): IllegalArgumentException =
    new IllegalArgumentException(s"malformed graft TVF near '$name' — " +
      "expected " + byName(name.takeWhile(_ != '(').trim
        .toUpperCase(java.util.Locale.ROOT)).map(_.usage).mkString(" or "))

  /** Why a streaming relation in a seat not marked streamable fails. */
  private[sqlgate] def streamingRejection(src: String): String =
    "this graft TVF aggregates or joins over the whole relation and runs " +
      s"in batch gate mode; '$src' is a streaming source (a silent " +
      "re-windowing would change semantics — rejected loudly). Streaming " +
      "sources route only through these TABLE seats: " +
      Registry.flatMap(e => e.stream.map(i => s"${e.name}(TABLE ${e.tables(i)})"))
        .mkString(", ")

  /** The session-free normalization: every call
    * `TABLE(F(TABLE x, DESCRIPTOR(c), k))` becomes the session table
    * function call `F(TABLE(x), 'c', k)`. A malformed call is rejected
    * loudly, naming that TVF's usage, instead of letting Spark fail on
    * an unknown function.
    */
  def apply(sql: String): String = {
    val ss = sites(sql).map(_.fold(kw => throw malformed(kw), identity))
    val out = new java.lang.StringBuilder
    var last = 0
    for (s <- ss) {
      val args = s.tables.map(t => s"TABLE($t)") ++
        s.descriptors.map(d => SqlLexer.quote(d.replace("`", ""))) ++ s.lits
      out.append(sql, last, s.start)
        .append(s.tvf.name).append(args.mkString("(", ", ", ")"))
      last = s.end
    }
    out.append(sql, last, sql.length).toString
  }

  /** The shape check alone: [[apply]], which runs nothing. */
  def validateOnly(sql: String): String = apply(sql)

  /** One session table function per TVF name (see [[build]]). */
  private[sqlgate] def functions(spark: SparkSession)
      : Seq[(String, Seq[Expression] => LogicalPlan)] =
    byName.toSeq.map { case (name, entries) => name -> build(spark, entries) }

  /** The builder of a normalized call: binds its arguments to the entry
    * with that many TABLE arguments, fills the literal defaults, accepts
    * a streaming relation only in the entry's streaming seat (when that
    * seat streams, the other seats reach the kernel as they are — it
    * checks them — otherwise each must be bounded), runs the kernel and
    * returns its plan.
    */
  private def build(spark: SparkSession, entries: Seq[Tvf])(
      args: Seq[Expression]): LogicalPlan = {
    val (tables, values) = args.partitionMap {
      case t: FunctionTableSubqueryArgumentExpression => Left(t.plan)
      case e => Right(String.valueOf(e.eval()))
    }
    val tvf = entries.find(e => e.tables.size == tables.size &&
      e.arities.contains(values.size - e.descriptors.size))
      .getOrElse(throw malformed(entries.head.name + "("))
    val raw = tables.map(GraftSqlBridge.ofRows(spark, _))
    val routed = tvf.stream.exists(raw(_).isStreaming)
    for ((t, i) <- tables.zipWithIndex)
      require(routed || tvf.stream.contains(i) || !raw(i).isStreaming,
        streamingRejection(t match {
          case SubqueryAlias(id, _) => id.name
          case p => p.nodeName
        }))
    val (ds, ls) = values.splitAt(tvf.descriptors.size)
    val lits = tvf.lits.zipWithIndex.map { case (l, i) => ls.lift(i).orElse(l.default) }
    tvf.build(Call(spark, tvf, raw, ds, lits)).queryExecution.analyzed
  }
}
