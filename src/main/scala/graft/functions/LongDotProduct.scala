package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, IntegerType, LongType, ShortType}

/** Exact integer dot product of two BIGINT arrays as a native Catalyst
  * expression with whole-stage codegen — the hot inner loop of every
  * quantized-embedding similarity operator (Vec.dotQ).
  *
  * The composable `aggregate(zip_with(a, b, _*_), 0L, _+_)` formulation is
  * semantically identical but runs interpreted higher-order lambdas and
  * allocates an intermediate array per row; on the all-pairs dedup shape
  * (millions of 64-dim pairs) this expression is an order of magnitude
  * faster (see VecSpec + BENCH history). Preference order per the build
  * brief: built-in functions → custom Expression (this) → UDF.
  */
case class LongDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "long_dot"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(LongType, _) => true
      case ArrayType(org.apache.spark.sql.types.NullType, _) => true // array()
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<BIGINT> inputs, " +
        s"got ${left.dataType.sql} / ${right.dataType.sql}")
  }

  // SQL-conformant null semantics matching aggregate(zip_with(a,b,_*_),
  // 0L, _+_): mismatched lengths would zip-pad with NULL and any NULL
  // element nulls the sum — so both cases yield NULL here, rather than
  // silently truncating or reading nulls as 0.
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDotProduct =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  /** Every name [[register]] binds — [[Udx]] refuses a `CREATE FUNCTION`
    * over any of them regardless of registration order (an overwrite
    * would silently poison every later query in the session).
    */
  val nativeNames: Set[String] = Set("long_dot", "simhash60",
    "word_ngrams", "count_in", "text_fingerprint", "jaccard_distinct",
    "first_common_pos", "quant_vec", "argmin_cos", "topn_cos",
    "pq_encode", "pq_rerank_topk", "cell_cos_pairs", "deletion_variants",
    "heavy_hitters", "topk_by_score")

  // once per session: createOrReplaceTempFunction logs a WARN on every
  // re-register, and the query packs call register() per query. Weak
  // keys so stopped sessions aren't pinned for the JVM lifetime; the
  // lock (not a lock-free add) makes a concurrent first use WAIT until
  // every function is registered rather than racing ahead with a
  // half-populated registry.
  private val registered =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Idempotently register graft's native expressions in the session's
    * function registry (the in-session equivalent of
    * SparkSessionExtensions.injectFunction for externally-built sessions).
    */
  def register(spark: SparkSession): Unit = registered.synchronized {
    if (registered.contains(spark)) return
    doRegister(spark)
    registered.add(spark)
    ()
  }

  /** Evaluate a function argument that must be an integer literal
    * (e.g. `k` in deletion_variants, `n` in word_ngrams). Registry
    * builders run at ANALYSIS time, so a non-foldable argument (a
    * column) or a non-integral literal would otherwise surface as an
    * obscure UnresolvedException / ClassCastException deep in eval().
    */
  private def analysisError(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      "_LEGACY_ERROR_TEMP_0035", Map("message" -> msg), None)

  private def intLiteral(e: org.apache.spark.sql.catalyst.expressions
      .Expression, fname: String, arg: String): Int = {
    if (!e.foldable)
      analysisError(s"$fname: $arg must be an integer literal, " +
        s"got non-constant expression ${e.sql}")
    e.eval() match {
      case n: java.lang.Integer => n.intValue
      case n: java.lang.Long if n.longValue == n.intValue => n.intValue
      case n: java.lang.Short => n.intValue
      case n: java.lang.Byte => n.intValue
      case other =>
        analysisError(s"$fname: $arg must be an integer literal, got " +
          (if (other == null) "NULL" else other.toString))
    }
  }

  private def doRegister(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "long_dot", exprs => LongDotProduct(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash60", exprs => SimHash60(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_ngrams", exprs =>
        WordNgrams(exprs(0), intLiteral(exprs(1), "word_ngrams", "n")),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "count_in", exprs => {
        val arr = exprs(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val words = (0 until arr.numElements())
          .map(i => arr.getUTF8String(i).toString)
        CountInSet(exprs(0), words)
      }, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "text_fingerprint", exprs => TextFingerprint(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "jaccard_distinct", exprs => JaccardDistinct(exprs(0), exprs(1)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "first_common_pos", exprs => FirstCommonPos(exprs(0), exprs(1),
        if (exprs.length > 2) exprs(2)
        else org.apache.spark.sql.catalyst.expressions.Literal(
          Int.MaxValue)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "quant_vec", exprs => QuantizeVec(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "argmin_cos", exprs => {
        def longs(e: Expression): Array[Long] = e.eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toLongArray()
        ArgminCosine(exprs(0), exprs(1),
          longs(exprs(2)), longs(exprs(3)), longs(exprs(4)))
      }, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "topn_cos", exprs => {
        def longs(e: Expression): Array[Long] = e.eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toLongArray()
        TopNCosine(exprs(0), exprs(1),
          longs(exprs(2)), longs(exprs(3)), longs(exprs(4)),
          intLiteral(exprs(5), "topn_cos", "n"))
      }, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bm25_merge_topk", exprs => Bm25MergeTopK(exprs(0),
        intLiteral(exprs(1), "bm25_merge_topk", "k")), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "deletion_variants", exprs => DeletionVariants(exprs(0),
        intLiteral(exprs(1), "deletion_variants", "k")), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "heavy_hitters", exprs => SpaceSavingTopK(exprs(0),
        intLiteral(exprs(1), "heavy_hitters", "capacity"))
        .toAggregateExpression(), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "topk_by_score", exprs => TopKByScore(exprs(0),
        // INT / SMALLINT / TINYINT ids widen to the BIGINT path
        exprs(1).dataType match {
          case IntegerType | ShortType | ByteType =>
            org.apache.spark.sql.catalyst.expressions.Cast(exprs(1), LongType)
          case _ => exprs(1)
        },
        intLiteral(exprs(2), "topk_by_score", "k"))
        .toAggregateExpression(), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pq_rerank_topk", exprs => {
        val cb = exprs(3).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toLongArray()
        PqRerankTopK(exprs(0), exprs(1), exprs(2), cb,
          intLiteral(exprs(4), "pq_rerank_topk", "m"),
          intLiteral(exprs(5), "pq_rerank_topk", "c"),
          intLiteral(exprs(6), "pq_rerank_topk", "d"),
          intLiteral(exprs(7), "pq_rerank_topk", "cand"),
          intLiteral(exprs(8), "pq_rerank_topk", "k"))
      }, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cell_cos_pairs", exprs => {
        val th = exprs(3).eval() match {
          case d: java.lang.Double => d.doubleValue()
          case other => analysisError(
            s"cell_cos_pairs: threshold must be a DOUBLE literal, got $other")
        }
        CellCosPairs(exprs(0), exprs(1), exprs(2), th)
      }, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pq_encode", exprs => {
        val cb = exprs(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toLongArray()
        PqEncode(exprs(0), cb,
          intLiteral(exprs(2), "pq_encode", "m"),
          intLiteral(exprs(3), "pq_encode", "c"),
          intLiteral(exprs(4), "pq_encode", "d"))
      }, "built-in")
  }

  def longDot(a: Column, b: Column): Column = call_function("long_dot", a, b)

  /** Fused nearest-centroid-by-cosine assignment → struct(cell, ccos).
    * Centroid data bakes into the plan as flat reference arrays
    * (cid-ascending), keeping the plan O(1) in k·d.
    */
  def argminCos(qe: Column, nrm: Column, cids: Array[Long],
      cents: Array[Long], cnorms: Array[Long]): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("argmin_cos", qe, nrm, lit(cids), lit(cents), lit(cnorms))
  }

  /** Rank-ordered top-n nearest cells ([[TopNCosine]]). */
  def topnCos(qe: Column, nrm: Column, cids: Array[Long],
      cents: Array[Long], cnorms: Array[Long], n: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("topn_cos", qe, nrm, lit(cids), lit(cents),
      lit(cnorms), lit(n))
  }

  /** Fused streaming IVF+PQ ADC → cut → re-rank → top-k
    * ([[PqRerankTopK]]); the codebook bakes into the plan as ONE flat
    * reference array instead of PqM·PqD literal copies.
    */
  def pqRerankTopK(qqe: Column, qnrm: Column, members: Column,
      cb: Array[Long], m: Int, c: Int, d: Int, cand: Int,
      k: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("pq_rerank_topk", qqe, qnrm, members, lit(cb), lit(m),
      lit(c), lit(d), lit(cand), lit(k))
  }

  /** Fused in-cell threshold cosine scan ([[CellCosPairs]]). */
  def cellCosPairs(qa: Column, na: Column, ms: Column,
      threshold: Double): Column =
    call_function("cell_cos_pairs", qa, na, ms,
      org.apache.spark.sql.functions.lit(threshold))

  /** Per-row BM25 per-doc score merge + top-k ([[Bm25MergeTopK]]). */
  def bm25MergeTopK(members: Column, k: Int): Column =
    call_function("bm25_merge_topk", members,
      org.apache.spark.sql.functions.lit(k))

  /** Bounded partial top-k aggregate ([[TopKByScore]]): per group, the
    * k (score DESC, id ASC)-first (id, score) pairs — the exchange-thin
    * replacement for a per-group `row_number` window cut.
    */
  def topkByScore(score: Column, id: Column, k: Int): Column =
    call_function("topk_by_score", score, id,
      org.apache.spark.sql.functions.lit(k))

  def simhash60(a: Column): Column = call_function("simhash60", a)

  /** All space-joined word n-grams of a token array (fused codegen loop;
    * n is baked into the plan as a literal).
    */
  def wordNgrams(a: Column, n: Int): Column =
    call_function("word_ngrams", a, org.apache.spark.sql.functions.lit(n))

  /** Count of tokens contained in a fixed word set (fused hash probe). */
  def countIn(a: Column, words: Seq[String]): Column =
    call_function("count_in", a,
      org.apache.spark.sql.functions.lit(words.toArray))

  /** Order-sensitive rolling md5 fingerprint of a token array. */
  def textFingerprint(a: Column): Column = call_function("text_fingerprint", a)

  /** Jaccard similarity of two element-distinct string arrays (count-only
    * fused pass — no intermediate intersect/union arrays).
    */
  def jaccardDistinct(a: Column, b: Column): Column =
    call_function("jaccard_distinct", a, b)

  /** 1-based position in `b` of the first element of `b` present among
    * the first `alim` elements of `a` (whole `a` when omitted); NULL if
    * disjoint. Fused O(alim + |b|) probe pass ([[FirstCommonPos]]).
    */
  def firstCommonPos(a: Column, b: Column): Column =
    call_function("first_common_pos", a, b)

  def firstCommonPos(a: Column, b: Column, alim: Column): Column =
    call_function("first_common_pos", a, b, alim)

  /** Integer quantization of a float/double embedding (fused loop). */
  def quantVec(a: Column): Column = call_function("quant_vec", a)

  /** Bounded-state Misra-Gries heavy-hitters summary ([[SpaceSavingTopK]]):
    * `array<struct<key, est, dropped>>`, at most `capacity` entries.
    */
  def heavyHitters(key: Column, capacity: Int): Column =
    call_function("heavy_hitters", key,
      org.apache.spark.sql.functions.lit(capacity))

  /** 64-bit hashes of a string's ≤k-deletion neighborhood (fused loop;
    * k is baked into the plan as a literal).
    */
  def deletionVariants(a: Column, k: Int): Column =
    call_function("deletion_variants", a,
      org.apache.spark.sql.functions.lit(k))

  /** Product-quantization encode against a flattened `long[m*c*d]`
    * codebook (fused three-deep argmin loop; the codebook literal is
    * baked into the plan as a reference object).
    */
  def pqEncode(vec: Column, codebook: Array[Long],
      m: Int, c: Int, d: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("pq_encode", vec, lit(codebook), lit(m), lit(c), lit(d))
  }
}
