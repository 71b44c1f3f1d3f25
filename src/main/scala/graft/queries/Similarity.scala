package graft.queries

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embedding column, in three
  * tiers that trade recall for scan cost:
  *
  *  - q_ann_brute: exact top-k. Query set broadcast against the corpus —
  *    the corpus is scanned once, never shuffled. The correctness baseline.
  *  - q_ann_lsh: random-hyperplane (SimHash-for-vectors) bucketing.
  *    Corpus and queries hash to 8-bit signs of deterministic hyperplane
  *    dots; the join is on bucket equality, so the per-query scan is
  *    |corpus| / 256 in expectation. At 100 TB the bucket id is the
  *    shuffle/partition key and each bucket is a bounded parquet split.
  *  - q_ann_ivf: inverted-file (IVF) with deterministic centroids; corpus
  *    vectors assign to their nearest centroid cell, queries probe the 4
  *    nearest cells. The cell id is the partition-pruning key at scale.
  *
  * Cosines go through Vec.quant integer quantization so results are
  * bit-identical to the DuckDB oracle (see Vec).
  */
object Similarity extends QueryPack {
  import Vec._

  // Oracle defaults, tuned for the sf-test corpus (~2k vectors): 8 planes
  // = 256 buckets ≈ √n occupancy; 16 cells, 4-probe. At scale use the
  // `recommended*` sizing below and pass explicit values to the public
  // kernels (annBrute/annLsh/annIvf).
  private val K = 5
  private val NQueries = 8    // vec_id < 8 are the query vectors
  private[graft] val NPlanes = 8
  private val CentLo = 100    // vec_id in [100, 116) are IVF centroids
  private val CentN = 16
  private val NProbe = 4

  private val NDim = 64 // default hyperplane dimension

  // Product quantization: 8 subspaces × 8 dims, 64 codewords each →
  // 8 small-int codes per vector (a ~32× memory compression of the
  // 64-float embedding; the scale path when the corpus no longer fits
  // executor memory as floats). The ADC scan is a candidate generator;
  // PqCand survivors per query get an exact cosine re-rank (measured
  // recall@5 ≈ 0.92 on the test corpus vs 0.42 without the re-rank).
  private val PqM = 8      // subspaces
  private val PqD = 8      // dims per subspace (PqM * PqD = NDim)
  private val PqC = 64     // codewords per subspace
  private val PqCand = 100 // ADC candidates per query before re-rank
  private val PqIters = 2  // Lloyd rounds for the fitted-codebook variant

  /** Hyperplane count so that 2^planes ≈ √n buckets — expected bucket
    * occupancy √n, the classic balance point where per-query candidate
    * scans and bucket count grow together as the corpus grows (100 TB ≈
    * 10^11 docs → 19 planes, not the test default of 8).
    */
  def recommendedPlanes(corpusSize: Long): Int =
    math.max(4, math.ceil(
      math.log(math.sqrt(corpusSize.toDouble)) / math.log(2.0)).toInt)

  /** IVF cell count k ≈ √n — the standard IVF sizing (per-cell list size
    * and cell count both √n, so probe cost is nProbe·√n).
    */
  def recommendedCentroids(corpusSize: Long): Int =
    math.max(4, math.ceil(math.sqrt(corpusSize.toDouble)).toInt)

  // one dim probe per corpus dir per JVM (each probe is a tiny Spark
  // job; the ANN queries each called it, 3× per bench pass)
  private val checkedDims =
    scala.collection.concurrent.TrieMap[String, Int]()

  /** (vec_id, qe, nrm) for the whole embeddings table. */
  private def embQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Vec.ensureRegistered(s)
    val df = Tables.load(s, dir, "embeddings")
    // loud check: a non-NDim corpus would silently collapse every vector
    // into LSH bucket 0 (NULL dot > 0 is false for all planes)
    val dim = checkedDims.getOrElseUpdate(dir,
      df.select(size($"embedding")).head.getInt(0))
    require(dim == NDim,
      s"embeddings have dim $dim but LSH hyperplanes are built for $NDim")
    df.select($"vec_id", quant($"embedding").as("qe"))
      .withColumn("nrm", dotQ($"qe", $"qe"))
  }

  /** Random-hyperplane bucket of a quantized vector column: `nPlanes`
    * sign bits of deterministic hyperplane dots (2^nPlanes buckets).
    */
  def bucketOf(qe: Column, nPlanes: Int = NPlanes,
      nDim: Int = NDim): Column = {
    require(nPlanes >= 1 && nPlanes <= 62, s"nPlanes $nPlanes out of range")
    (0 until nPlanes).map { j =>
      val plane = typedLit((1 to nDim).map(d => planeComp(j, d)))
      when(dotQ(qe, plane) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Exact cosine top-k over arbitrary raw (id, vector) frames — the
    * entry point behind the gate's `ANN_TOPK` TVF
    * ([[graft.sqlgate.GraftTvfRewrite]]). Both sides arrive untyped
    * (float-array vector column); vectors go through the same Vec.quant
    * integer quantization as the q_ann_* pack, so results hash-match a
    * DuckDB oracle bit-for-bit. Output: (qid, nid, cosine, rank), the
    * `annBrute` shape.
    */
  def annTopkOn(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    Vec.ensureRegistered(corpus.sparkSession)
    def prep(df: DataFrame): DataFrame = df
      .select(col(idCol).as("vec_id"), quant(col(vecCol)).as("qe"))
      .withColumn("nrm", dotQ(col("qe"), col("qe")))
    annBrute(prep(corpus), prep(queries).select(col("vec_id").as("qid"),
      col("qe").as("qqe"), col("nrm").as("qnrm")), k)
  }

  /** Bucketed-LSH cosine top-k over raw (id, vector) frames — the batch
    * entry behind the gate's `ANN_TOPK_LSH` TVF. Same contract as
    * [[annTopkOn]] but candidates are hyperplane-bucket mates only
    * ([[annLsh]]), so the per-query scan is |corpus|/2^planes. The
    * hyperplanes are built at the CORPUS vector dimension (probed once,
    * a head() on one row); a dimension-skewed query would silently land
    * in bucket 0, so both sides are guarded.
    */
  def annLshTopkOn(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nPlanes: Int = NPlanes): DataFrame = {
    Vec.ensureRegistered(corpus.sparkSession)
    val dim = corpusDim(corpus, vecCol)
    def prep(df: DataFrame): DataFrame = df
      .select(col(idCol).as("vec_id"),
        quant(dimChecked(col(vecCol), dim)).as("qe"))
      .withColumn("nrm", dotQ(col("qe"), col("qe")))
    annLsh(prep(corpus), prep(queries).select(col("vec_id").as("qid"),
      col("qe").as("qqe"), col("nrm").as("qnrm")), k, nPlanes, dim)
  }

  /** Struct comparator for array_sort: `score` DESC with NULLs LAST,
    * `id` ASC tie-break — the ONE ordering every ANN array stage
    * shares, bit-identical to the oracles' `ORDER BY score DESC, id`.
    * Centralized so a tie-break or NULL-ordering change cannot be
    * applied to one stage and missed in another (each would silently
    * break its oracle hash-match).
    */
  private def cmpDescNullsLast(score: String, id: String)
      (l: Column, r: Column): Column = {
    val (lc, rc) = (l.getField(score), r.getField(score))
    val (ln, rn) = (l.getField(id), r.getField(id))
    val byId = when(ln < rn, -1).when(ln > rn, 1).otherwise(0)
    when(lc.isNull && rc.isNull, byId)
      .when(lc.isNull, 1).when(rc.isNull, -1)
      .when(lc > rc, -1).when(lc < rc, 1)
      .otherwise(byId)
  }

  /** `score` ASC, `id` ASC — the ADC-distance ordering (scores are
    * non-NULL integer sums by construction).
    */
  private def cmpAscBy(score: String, id: String)
      (l: Column, r: Column): Column = {
    val (la, ra) = (l.getField(score), r.getField(score))
    val (ln, rn) = (l.getField(id), r.getField(id))
    when(la < ra, -1).when(la > ra, 1)
      .otherwise(when(ln < rn, -1).when(ln > rn, 1).otherwise(0))
  }

  private def corpusDim(corpus: DataFrame, vecCol: String,
      op: String = "ANN_TOPK_LSH"): Int = {
    // NULL vectors are skipped when probing the dimension (size(NULL)
    // is NULL and would NPE here with no context); an all-NULL or
    // empty corpus fails with the operator-prefixed message instead.
    val head = corpus.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol))).head(1)
    require(head.nonEmpty,
      s"$op: corpus has no non-NULL vectors — nothing to index")
    head(0).getInt(0)
  }

  /** Loud per-row guard: a vector whose length differs from the corpus
    * dimension fails the query instead of silently bucketing wrong
    * (hyperplane dots over a short vector would collapse to bucket 0).
    * assert_true keeps the column's own type and yields NULL when the
    * check passes, so `when(_.isNull, vec)` is the identity. `op`
    * names the TVF the user actually invoked in the diagnostic.
    */
  private def dimChecked(vec: Column, dim: Int,
      op: String = "ANN_TOPK_LSH"): Column =
    when(assert_true(size(vec) === dim,
      concat(lit(s"$op: vector dim "),
        coalesce(size(vec).cast("string"), lit("NULL")),
        lit(s" != corpus dim $dim"))).isNull, vec)

  /** IVF+PQ's corpus-dimension contract, shared by the batch and
    * streaming kernels: probe the corpus dim, require the fixed PQ
    * slicing width, diagnostics naming ANN_TOPK_IVFPQ.
    */
  private def ivfPqDim(corpusRaw: DataFrame, vecCol: String): Int = {
    val dim = corpusDim(corpusRaw, vecCol, "ANN_TOPK_IVFPQ")
    require(dim == NDim,
      s"ANN_TOPK_IVFPQ: embeddings have dim $dim but the PQ slicing " +
        s"is built for $NDim")
    dim
  }

  /** Shared IVF+PQ row prep: per-row dim-checked quantization + norm. */
  private def ivfPqPrep(df: DataFrame, idCol: String, vecCol: String,
      dim: Int): DataFrame = df
    .select(col(idCol).as("vec_id"),
      quant(dimChecked(col(vecCol), dim, "ANN_TOPK_IVFPQ")).as("qe"))
    .withColumn("nrm", dotQ(col("qe"), col("qe")))

  /** Streaming LSH top-k: bounded corpus → once-materialized
    * bucket-array index (one corpus scan, written to parquet so no
    * micro-batch ever re-quantizes or re-buckets it); each arriving
    * query row then statelessly scans ONLY its bucket's candidate array
    * — a stream-static equi join on the bucket key plus a higher-order-
    * function top-k over the array. Append mode, zero state, per-row
    * cost = one bucket occupancy (√n with [[recommendedPlanes]] sizing).
    * Results are row-identical to batch [[annLsh]] over the same rows:
    * same quantized cosine, same (cosine DESC NULLS LAST, nid) order,
    * same k cut — pinned by AnnStreamSpec and the q_gate_ann_stream
    * oracle. At 100 TB the index is a bucketed table and the join key
    * prunes the scan to one bucket per row; the one adversarial shape is
    * a hot bucket from low-entropy vectors — resize planes with the
    * corpus (the same story as the batch tier).
    */
  def annLshTopkStream(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nPlanes: Int = NPlanes): DataFrame = {
    require(queries.isStreaming,
      "annLshTopkStream needs a streaming query side — use annLshTopkOn " +
        "for batch-vs-batch")
    require(!corpus.isStreaming,
      "ANN_TOPK_LSH: the corpus side must be a BOUNDED relation (its " +
        "bucket index is built once and frozen) — declare it with " +
        "'source.bounded' = 'true' or a batch connector")
    val s = corpus.sparkSession
    Vec.ensureRegistered(s)
    val dim = corpusDim(corpus, vecCol)
    // Build-once: repeated gate invocations over the same corpus reuse
    // one frozen bucket index instead of leaking a tmp parquet dir per
    // call (k is a query-time cut, not an index parameter).
    val idx = StaticIndexCache.getOrBuild[DataFrame](
      StaticIndexCache.corpusKey(s, corpus, "ann_lsh_idx",
        idCol, vecCol, nPlanes, dim)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_ann_idx")
      dir.toFile.deleteOnExit()
      corpus
        .select(col(idCol).as("nid"),
          quant(dimChecked(col(vecCol), dim)).as("qe"))
        .withColumn("nrm", dotQ(col("qe"), col("qe")))
        .withColumn("bucket", bucketOf(col("qe"), nPlanes, dim))
        .groupBy(col("bucket"))
        .agg(collect_list(struct(col("nid"), col("qe"), col("nrm")))
          .as("cands"))
        .write.parquet(s"$dir/idx")
      s.read.parquet(s"$dir/idx")
    }
    val q = queries
      .select(col(idCol).as("qid"),
        quant(dimChecked(col(vecCol), dim)).as("qqe"))
      .withColumn("qnrm", dotQ(col("qqe"), col("qqe")))
      .withColumn("bucket", bucketOf(col("qqe"), nPlanes, dim))
    val scored = transform(col("cands"), e =>
      struct(e.getField("nid").as("nid"),
        cosineQ(col("qqe"), e.getField("qe"), col("qnrm"),
          e.getField("nrm")).as("cosine")))
    // annLsh's ordering exactly: cosine DESC NULLS LAST, nid ASC
    q.join(idx, Seq("bucket"))
      .select(col("qid"),
        posexplode(slice(
          array_sort(scored, cmpDescNullsLast("cosine", "nid")), 1, k)))
      .select(col("qid"), col("col.nid").as("nid"),
        col("col.cosine").as("cosine"), (col("pos") + 1).as("rank"))
  }

  /** Collect a centroid relation (cid, ce, cnrm) into the cid-sorted
    * reference array [[Vec.argminAssignWith]] bakes into its fused
    * argmin projection. Control-plane only: IVF sizes cells at ~√n, so
    * this is KB-scale by design; a mis-sized centroid set fails loudly
    * here instead of silently exploding a driver collect.
    */
  private def collectCents(cent: DataFrame): Seq[(Long, Seq[Long], Long)] =
    // cached per (session, centroid plan): the collect is a separate
    // driver job, and re-running it per probe invocation measurably
    // taxed the fixture-scale kernels (bench r14: q_ann_ivf[pq] +0.15s
    // per call) — an index is fit once and probed many times, the same
    // lifetime as every frozen artifact here
    StaticIndexCache.getOrBuild[Seq[(Long, Seq[Long], Long)]](
      StaticIndexCache.corpusKey(cent.sparkSession, cent, "ivf_cents")) {
      collectCentsUncached(cent)
    }

  private def collectCentsUncached(
      cent: DataFrame): Seq[(Long, Seq[Long], Long)] = {
    val rows = cent.limit(MaxCells + 1).collect()
    require(rows.nonEmpty,
      "IVF centroid relation is empty — the corpus must contain the " +
        s"deterministic centroid window rows (id in [$CentLo, " +
        s"${CentLo + CentN})) or pass fitted centroids via the Scala API")
    require(rows.length <= MaxCells,
      s"IVF centroid relation exceeds $MaxCells cells — size cells at " +
        "~sqrt(corpus), not corpus-scale")
    rows.map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .sortBy(_._1)
  }

  /** Loud bound on [[collectCents]]'s driver collect. */
  private val MaxCells = 1 << 20

  /** Exact brute-force cosine top-k. `corpus` carries (vec_id, qe, nrm),
    * `qs` carries (qid, qqe, qnrm); the query side is broadcast, the
    * corpus is scanned once and never shuffled.
    */
  def annBrute(corpus: DataFrame, qs: DataFrame, k: Int = K): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid"))
    corpus.join(broadcast(qs))
      .select(col("qid"), col("vec_id").as("nid"),
        cosineQ(col("qqe"), col("qe"), col("qnrm"), col("nrm")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** LSH top-k: candidates share the query's hyperplane bucket, so the
    * per-query scan is |corpus| / 2^nPlanes in expectation. Size nPlanes
    * with [[recommendedPlanes]] (grows with log₂√n).
    */
  def annLsh(corpus: DataFrame, qs: DataFrame, k: Int = K,
      nPlanes: Int = NPlanes, nDim: Int = NDim): DataFrame = {
    val cb = corpus.withColumn("bucket", bucketOf(col("qe"), nPlanes, nDim))
    val qb = qs.withColumn("bucket", bucketOf(col("qqe"), nPlanes, nDim))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid"))
    cb.join(broadcast(qb), "bucket")
      .select(col("qid"), col("vec_id").as("nid"),
        cosineQ(col("qqe"), col("qe"), col("qnrm"), col("nrm")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF top-k: corpus rows assign to their nearest centroid cell
    * (`cent`: (cid, ce, cnrm)), queries probe their `nProbe` nearest
    * cells. Size the centroid count with [[recommendedCentroids]] (√n).
    */
  def annIvf(corpus: DataFrame, qs: DataFrame, cent: DataFrame, k: Int = K,
      nProbe: Int = NProbe): DataFrame = {
    // Corpus-side coarse quantizer: ONE fused argmin_cos projection
    // (zero shuffle) instead of exploding |corpus|×|cells| rows through
    // a row_number window (a full exchange + sort of the exploded set —
    // at √n cells that window shape is an n^1.5-row exchange). The
    // centroid collect is control-plane sized by construction (cells ≈
    // √n), the same discipline as every other argminAssignWith site;
    // tie order (highest ccos, then lowest cid, NULL never wins) is
    // bit-identical to the window spelling, pinned by the oracle.
    val assign = Vec.argminAssignWith(corpus, collectCents(cent))
      .select(col("vec_id"), col("qe"), col("nrm"), col("cell"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("ccos").desc, col("cid"))
    val probe = qs.join(broadcast(cent))
      .select(col("qid"), col("qqe"), col("qnrm"), col("cid"),
        cosineQ(col("qqe"), col("ce"), col("qnrm"), col("cnrm")).as("ccos"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nProbe)
      .select(col("qid"), col("qqe"), col("qnrm"), col("cid").as("cell"))
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid"))
    assign.join(broadcast(probe), "cell")
      .select(col("qid"), col("vec_id").as("nid"),
        cosineQ(col("qqe"), col("qe"), col("qnrm"), col("nrm")).as("cosine"))
      .distinct() // a neighbor reachable via 2 probed cells counts once
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
  }

  /** Iterative k-means (Lloyd) fit over quantized embeddings. Each round
    * is: zero-shuffle argmin assignment against the current centroids →
    * posexplode + (cell, dim) partial-agg floor-means → collect the k·d
    * result as the next centroid array. Loop state is the collected
    * centroid list (control-plane sized, k ≈ √n in production), and each
    * iteration plans FRESH from `base` — no lineage growth, no
    * checkpointing needed, unlike frame-carrying iterative loops.
    * Returns (cid, components, sqNorm) ready for [[Vec.argminAssignWith]]
    * or as `annIvf` cells. Empty cells keep their previous centroid
    * (the standard Lloyd convention).
    */
  def kmeansFit(base: DataFrame, seeds: Seq[(Long, Seq[Long], Long)],
      iters: Int): Seq[(Long, Seq[Long], Long)] = {
    var cents = seeds
    for (_ <- 1 to iters) {
      val means = Vec.argminAssignWith(base, cents)
        .select(col("cell"), posexplode(col("qe")))
        .toDF("cell", "pos", "comp")
        .groupBy(col("cell"), col("pos"))
        .agg(floor(sum(col("comp")).cast("double") / count(lit(1)))
          .cast("long").as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
        }
      cents = cents.map { case (cid, old, oldNrm) =>
        means.get(cid) match {
          case Some(ce) => (cid, ce, ce.map(x => x * x).sum)
          case None => (cid, old, oldNrm) // empty cell: centroid unchanged
        }
      }
    }
    cents
  }

  /** Deterministic coarse-quantizer fit shared by the sized
    * DEDUP_EMBED_PAIRS and ANN_TOPK_IVFPQ paths: a stride sample of
    * `cells` corpus vectors (every max(1, n/cells)-th id, first
    * `cells` by id, renumbered 0..cells−1) seeds ONE floor-of-mean
    * Lloyd round ([[kmeansFit]]); empty cells keep their seed. The
    * whole chain is integer-exact, so DuckDB replays it
    * ([[Vec.oFittedCent]]). Cached per (session, prepped corpus plan,
    * cells) — the fit is index-build cost, paid once per corpus.
    * `prepped` must carry (vec_id, qe, nrm).
    */
  def fitCentroids(prepped0: DataFrame,
      cells: Int): Seq[(Long, Seq[Long], Long)] = {
    require(cells >= 1, s"centroid fit: cells must be >= 1, got $cells")
    val prepped = prepped0.select(col("vec_id"), col("qe"), col("nrm"))
    val s = prepped.sparkSession
    StaticIndexCache.getOrBuild[Seq[(Long, Seq[Long], Long)]](
      StaticIndexCache.corpusKey(s, prepped, "fit_cents", cells)) {
      val n = prepped.count()
      require(n > 0, "centroid fit: empty corpus")
      val stride = math.max(1L, n / cells)
      // control-plane collect: exactly `cells` rows
      val seeds = prepped.filter(pmod(col("vec_id"), lit(stride)) === 0)
        .orderBy(col("vec_id")).limit(cells).collect()
        .zipWithIndex
        .map { case (r, i) =>
          require(!r.isNullAt(1),
            s"centroid fit: seed vector for id ${r.getLong(0)} is NULL " +
              "— filter NULL vectors before fitting")
          (i.toLong, r.getSeq[Long](1), r.getLong(2))
        }
        .toSeq
      require(seeds.nonEmpty,
        s"centroid fit: no seed ids — the stride sample takes ids " +
          s"divisible by $stride (n=$n, cells=$cells) and this corpus " +
          "has none. Use dense-ish ids, or fit centroids yourself and " +
          "pass them through the *With Scala APIs")
      kmeansFit(prepped, seeds, 1)
    }
  }

  /** Mean (1 − cosine) of every vector to its assigned centroid — the
    * within-cluster cost a Lloyd iteration is meant to reduce. Zero-norm
    * rows (NULL cosine) are skipped by avg; an empty corpus yields NaN
    * rather than an NPE.
    */
  def kmeansCost(base: DataFrame,
      cents: Seq[(Long, Seq[Long], Long)]): Double =
    Vec.argminAssignWith(base, cents)
      .agg(coalesce(avg(lit(1.0) - col("ccos")), lit(Double.NaN)))
      .head.getDouble(0)

  /** Seed PQ codebooks from PqC deterministic corpus rows, flattened to
    * the `long[m*c*d]` layout pq_encode takes: entry ((m·PqC)+c)·PqD+i =
    * dim i of the m-th PqD-wide slice of codeword-source row c.
    */
  def pqSliceCodebook(emb: DataFrame): Array[Long] =
    // cached per (session, corpus plan) — same index-lifetime rationale
    // as the collected IVF centroids: the seed collect is a separate
    // driver job per invocation otherwise
    StaticIndexCache.getOrBuild[Array[Long]](
      StaticIndexCache.corpusKey(emb.sparkSession, emb, "pq_seed")) {
      pqSliceCodebookUncached(emb)
    }

  private def pqSliceCodebookUncached(emb: DataFrame): Array[Long] = {
    val cents = emb
      .filter(col("vec_id") >= CentLo && col("vec_id") < CentLo + PqC)
      .select(col("vec_id"), col("qe")).collect()
      .map(r => (r.getLong(0) - CentLo, r.getSeq[Long](1)))
      .sortBy(_._1)
    require(cents.length == PqC,
      s"PQ codebook seed rows missing: expected $PqC corpus rows with " +
        s"id in [$CentLo, ${CentLo + PqC}), found ${cents.length} — " +
        "fit a codebook via pqFit/kmeansFit through the Scala API " +
        "instead")
    Array.tabulate(PqM * PqC * PqD) { idx =>
      val m = idx / (PqC * PqD); val r = idx % (PqC * PqD)
      cents(r / PqD)._2(m * PqD + (r % PqD))
    }
  }

  /** Per-subspace Lloyd refinement of a PQ codebook. Each round: assign
    * every corpus subvector to its nearest codeword — that IS pq_encode,
    * the same codegen'd integer argmin the encode pass uses — then
    * recompute each (subspace, codeword, dim) as the floor-mean of its
    * members. One partial-agg shuffle of ≤ m·c·d keys per round, one
    * m·c·d control-plane collect; codewords with no members keep their
    * previous value (the kmeansFit convention). floor(sum/count) in
    * exact-double arithmetic keeps both engines integer-identical.
    */
  def pqFit(corpus: DataFrame, seed: Array[Long], iters: Int): Array[Long] = {
    // freeze the fit per corpus version (StaticIndexCache) — the
    // codebook is a pure function of (corpus, seed, iters), and "fit
    // once per corpus version" is the production cadence the other fits
    // (fitCentroids, pqSliceCodebook, the BPE merge table) already
    // follow; each Lloyd round is a full corpus pass + a 16k-row collect
    StaticIndexCache.getOrBuild[Array[Long]](
      StaticIndexCache.corpusKey(corpus.sparkSession, corpus, "pq_fit",
        iters, seed.toSeq)) {
      pqFitUncached(corpus, seed, iters)
    }
  }

  private def pqFitUncached(corpus: DataFrame, seed: Array[Long],
      iters: Int): Array[Long] = {
    var cb = seed
    for (_ <- 1 to iters) {
      val means = corpus
        .select(graft.functions.GraftFunctions
          .pqEncode(col("qe"), cb, PqM, PqC, PqD).as("codes"),
          posexplode(col("qe")))
        .toDF("codes", "pos", "comp")
        .filter(col("codes").isNotNull)
        .select((col("pos") / PqD).cast("int").as("m"),
          element_at(col("codes"),
            ((col("pos") / PqD).cast("int") + 1)).cast("int").as("c"),
          (col("pos") % PqD).cast("int").as("i"),
          col("comp"))
        .groupBy(col("m"), col("c"), col("i"))
        .agg(floor(sum(col("comp")).cast("double") / count(lit(1)))
          .cast("long").as("v"))
        .collect()
      val next = cb.clone()
      means.foreach { r =>
        next((r.getInt(0) * PqC + r.getInt(1)) * PqD + r.getInt(2)) =
          r.getLong(3)
      }
      cb = next
    }
    cb
  }

  /** ADC scan + exact re-rank against a flattened codebook: corpus rows
    * encode to PqM codes (one-off batch pass; after it the candidate
    * scan touches only the code column), per-query L2² lookup tables
    * ship as a broadcast literal, and the `cand` best ADC candidates per
    * query get the exact quantized-cosine re-rank. Queries + codebooks
    * are control-plane collects (NQueries + m·c·d values).
    */
  def pqSearch(s: SparkSession, emb: DataFrame, cb: Array[Long],
      cand: Int = PqCand, k: Int = K): DataFrame = {
    def cwAt(m: Int, c: Int, i: Int) = cb((m * PqC + c) * PqD + i)
    val corpus = emb.filter(col("vec_id") >= NQueries)
    val enc = corpus.select(col("vec_id").as("nid"),
      graft.functions.GraftFunctions
        .pqEncode(col("qe"), cb, PqM, PqC, PqD).as("codes"))
    val qvecs = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("qe"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .sortBy(_._1)
    // dtab(m)(c) = L2²(query subvector m, codeword (m,c)) — the ADC
    // lookup table, one per query, shipped as a broadcast literal
    val qRows = qvecs.map { case (qid, qv, _) =>
      (qid, (0 until PqM).map(m => (0 until PqC).map { c =>
        (0 until PqD).map { i =>
          val d = qv(m * PqD + i) - cwAt(m, c, i); d * d
        }.sum
      }))
    }
    val qdf = s.createDataFrame(qRows.toIndexedSeq).toDF("qid", "dtab")
    val adc = (0 until PqM).map(m =>
      element_at(element_at(col("dtab"), m + 1),
        element_at(col("codes"), m + 1).cast("int") + 1)).reduce(_ + _)
    val wAdc = Window.partitionBy(col("qid"))
      .orderBy(col("adc_dist"), col("nid"))
    val candDf = enc.join(broadcast(qdf))
      .select(col("qid"), col("nid"), adc.as("adc_dist"))
      .withColumn("crank", row_number().over(wAdc))
      .filter(col("crank") <= cand)
      .select(col("qid"), col("nid"))
    // exact re-rank of the candidates only: candidates are cand ×
    // |queries| rows — broadcast them against the corpus vectors
    val qsDf = s.createDataFrame(qvecs.toIndexedSeq)
      .toDF("qid", "qqe", "qnrm")
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid"))
    corpus.select(col("vec_id").as("nid"), col("qe"), col("nrm"))
      .join(broadcast(candDf), "nid")
      .join(broadcast(qsDf), "qid")
      .select(col("qid"), col("nid"),
        cosineQ(col("qqe"), col("qe"), col("qnrm"), col("nrm")).as("cosine"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
  }

  /** IVF-routed PQ: the composed index (FAISS's IVF+PQ shape) — the
    * coarse quantizer routes each query to its `nProbe` nearest IVF
    * cells, and the ADC scan runs ONLY over the codes of those cells'
    * members, never the whole code column. Relative to [[pqSearch]] the
    * per-query scan drops from |corpus| codes to nProbe·|corpus|/cells,
    * and relative to [[annIvf]] the probed cells are scanned as 8-byte
    * codes instead of raw vectors; only the PqCand ADC survivors per
    * query ever read a real embedding again (the exact re-rank's
    * broadcast semi-join). At 100 TB the cell id is the partition key of
    * the code file — a probe prunes to nProbe partitions, and the two
    * control-plane collects (queries, codebook) stay KB-sized.
    * Everything is the same deterministic integer arithmetic as the
    * parts it composes, so the DuckDB oracle replays it exactly.
    */
  def ivfPqSearch(s: SparkSession, emb: DataFrame, cb: Array[Long],
      nProbe: Int = NProbe, cand: Int = PqCand, k: Int = K): DataFrame =
    ivfPqSearchWith(s,
      emb.filter(col("vec_id") >= NQueries),
      emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("qe").as("qqe"),
          col("nrm").as("qnrm")),
      emb.filter(col("vec_id") >= CentLo && col("vec_id") < CentLo + CentN)
        .select(col("vec_id").as("cid"), col("qe").as("ce"),
          col("nrm").as("cnrm")),
      cb, nProbe, cand, k)

  /** General two-relation core of [[ivfPqSearch]]: `corpus` carries
    * (vec_id, qe, nrm), `qs` (qid, qqe, qnrm), `cent` (cid, ce, cnrm),
    * `cb` the flat PQ codebook. The query side is a control-plane
    * collect (the ADC distance tables are per-query broadcast
    * literals) — bounded-query-set semantics, like every ANN kernel
    * here.
    */
  def ivfPqSearchWith(s: SparkSession, corpus: DataFrame, qs: DataFrame,
      cent: DataFrame, cb: Array[Long], nProbe: Int = NProbe,
      cand: Int = PqCand, k: Int = K): DataFrame = {
    def cwAt(m: Int, c: Int, i: Int) = cb((m * PqC + c) * PqD + i)
    // coarse quantizer, corpus side: annIvf's fused zero-shuffle
    // argmin_cos assignment (see the annIvf note — the row_number
    // window spelling exchanged |corpus|×|cells| exploded rows)
    val assign = Vec.argminAssignWith(
        corpus.select(col("vec_id"), col("qe"), col("nrm")),
        collectCents(cent))
      .select(col("vec_id").as("nid"), col("cell"))
    // one-off encode pass + cell tag: (nid, codes, cell) IS the index
    val enc = corpus.select(col("vec_id").as("nid"),
      graft.functions.GraftFunctions
        .pqEncode(col("qe"), cb, PqM, PqC, PqD).as("codes"))
      .join(assign, "nid")
    // coarse quantizer, query side: nProbe nearest cells per query
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("ccos").desc, col("cid"))
    val probe = qs
      .join(broadcast(cent))
      .select(col("qid"), col("cid"),
        cosineQ(col("qqe"), col("ce"), col("qnrm"), col("cnrm")).as("ccos"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nProbe)
      .select(col("qid"), col("cid").as("cell"))
    // per-query ADC tables as a broadcast literal (pqSearch's), but the
    // scan is routed: enc ⋈ probe on cell touches only probed members
    val qvecs = qs
      .select(col("qid"), col("qqe"), col("qnrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .sortBy(_._1)
    val qRows = qvecs.map { case (qid, qv, _) =>
      (qid, (0 until PqM).map(m => (0 until PqC).map { c =>
        (0 until PqD).map { i =>
          val d = qv(m * PqD + i) - cwAt(m, c, i); d * d
        }.sum
      }))
    }
    val qdf = s.createDataFrame(qRows.toIndexedSeq).toDF("qid", "dtab")
    val adc = (0 until PqM).map(m =>
      element_at(element_at(col("dtab"), m + 1),
        element_at(col("codes"), m + 1).cast("int") + 1)).reduce(_ + _)
    val wAdc = Window.partitionBy(col("qid"))
      .orderBy(col("adc_dist"), col("nid"))
    // a corpus row lives in exactly ONE cell (crn = 1), so the routed
    // join never duplicates a (qid, nid) pair — no DISTINCT needed
    val candDf = enc.join(broadcast(probe), "cell")
      .join(broadcast(qdf), "qid")
      .select(col("qid"), col("nid"), adc.as("adc_dist"))
      .withColumn("crank", row_number().over(wAdc))
      .filter(col("crank") <= cand)
      .select(col("qid"), col("nid"))
    val qsDf = s.createDataFrame(qvecs.toIndexedSeq)
      .toDF("qid", "qqe", "qnrm")
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid"))
    corpus.select(col("vec_id").as("nid"), col("qe"), col("nrm"))
      .join(broadcast(candDf), "nid")
      .join(broadcast(qsDf), "qid")
      .select(col("qid"), col("nid"),
        cosineQ(col("qqe"), col("qe"), col("qnrm"), col("nrm")).as("cosine"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
  }

  /** Gate-facing IVF+PQ over raw (id, vec) relations — `ANN_TOPK_IVFPQ`'s
    * batch kernel. Both sides quantize row-locally; the composed index
    * (IVF cells + PQ codebook) derives from the corpus rows in the
    * library's deterministic windows — cells from id ∈ [CentLo,
    * CentLo+CentN), codeword seeds from id ∈ [CentLo, CentLo+PqC) —
    * the same fixture contract as [[ivfPqSearch]]/q_ann_ivfpq, so the
    * DuckDB oracle replays the result bit-exactly. A production fit
    * swaps in [[kmeansFit]] cells and [[pqFit]] codebooks through the
    * Scala API; the TVF freezes the deterministic variant — OR, with
    * `cells` set (r14, the TVF's trailing argument), FITS that many
    * coarse cells from the corpus via [[fitCentroids]] (stride seeds +
    * one Lloyd round, oracle-replayed), the production sizing for the
    * coarse quantizer. The PQ codebook keeps its fixed 256-codeword
    * seeding either way — like FAISS, codebook size is independent of
    * corpus size; only the cell count must scale.
    */
  def ivfPqTopkOn(corpusRaw: DataFrame, queriesRaw: DataFrame,
      idCol: String, vecCol: String, nProbe: Int = NProbe,
      cand: Int = PqCand, k: Int = K,
      cells: Option[Int] = None): DataFrame = {
    val s = corpusRaw.sparkSession
    Vec.ensureRegistered(s)
    val dim = ivfPqDim(corpusRaw, vecCol)
    def prep(df: DataFrame) = ivfPqPrep(df, idCol, vecCol, dim)
    val corpus = prep(corpusRaw)
    val cent = cells match {
      case Some(c) =>
        s.createDataFrame(fitCentroids(corpus, c).toIndexedSeq)
          .toDF("cid", "ce", "cnrm")
      case None => corpus
        .filter(col("vec_id") >= CentLo && col("vec_id") < CentLo + CentN)
        .select(col("vec_id").as("cid"), col("qe").as("ce"),
          col("nrm").as("cnrm"))
    }
    ivfPqSearchWith(s, corpus,
      prep(queriesRaw).select(col("vec_id").as("qid"),
        col("qe").as("qqe"), col("nrm").as("qnrm")),
      cent, pqSliceCodebook(corpus), nProbe, cand, k)
  }

  /** Streaming IVF+PQ probe — the production shape for
    * embedding-dedup-at-ingest, completing the streaming ANN family:
    * the BOUNDED corpus freezes its composed index ONCE to parquet as
    * one row per IVF cell carrying the member array (nid, PQ codes,
    * quantized vector, norm) — built with the zero-shuffle argmin_cos
    * assignment and one pq_encode pass, cached per (session, corpus
    * plan, params) like every frozen index here — and each arriving
    * query row then works ROW-LOCALLY: score all CentN cells against
    * the plan-baked centroid literals (codegen'd long_dot branches,
    * no state), take its nProbe nearest cells, fetch those cells'
    * member arrays through nProbe stream-static equi joins against
    * the persisted index (pre-partitioned on the cell key, so each
    * micro-batch exchanges only its own rows — the cross-stream-dedup
    * discipline), then ADC-score, candidate-cut, and exact-cosine
    * re-rank entirely inside array expressions on that one row.
    * Append mode, zero keyed state, and rows are bit-identical to
    * [[ivfPqTopkOn]] over the same data: same integer ADC, same
    * (adc, nid) candidate cut, same (cosine DESC NULLS LAST, nid)
    * top-k — pinned by AnnStreamSpec and the gate oracle.
    *
    * At 100 TB: per-row cost is CentN fused dots + nProbe index
    * probes reading nProbe/cells of the corpus (the same fraction the
    * batch tier's routed scan touches), and the frozen index is a
    * cell-bucketed table. The member arrays carry the raw quantized
    * vectors so the exact re-rank stays row-local — cell payload is
    * corpus/cells vectors; at extreme scale grow cells with
    * [[recommendedCentroids]] (√n keeps payload √n) exactly as the
    * batch tier sizes itself.
    */
  def ivfPqTopkStream(corpusRaw: DataFrame, queriesRaw: DataFrame,
      idCol: String, vecCol: String, nProbe: Int = NProbe,
      cand: Int = PqCand, k: Int = K,
      cells: Option[Int] = None): DataFrame = {
    require(queriesRaw.isStreaming,
      "ivfPqTopkStream needs a streaming query side — use ivfPqTopkOn " +
        "for batch-vs-batch")
    require(!corpusRaw.isStreaming,
      "ANN_TOPK_IVFPQ: the corpus side must be a BOUNDED relation (its " +
        "IVF+PQ index is fit once and frozen) — declare it with " +
        "'source.bounded' = 'true' or a batch connector")
    val s = corpusRaw.sparkSession
    Vec.ensureRegistered(s)
    val dim = ivfPqDim(corpusRaw, vecCol)
    def prep(df: DataFrame) = ivfPqPrep(df, idCol, vecCol, dim)
    val corpus = prep(corpusRaw)
    val centArr = cells match {
      case Some(c) => fitCentroids(corpus, c)
      case None => collectCents(corpus
        .filter(col("vec_id") >= CentLo && col("vec_id") < CentLo + CentN)
        .select(col("vec_id").as("cid"), col("qe").as("ce"),
          col("nrm").as("cnrm")))
    }
    val cb = pqSliceCodebook(corpus)

    // frozen index: ONE row per cell with the member array, persisted
    // pre-partitioned on the cell key (see minhashCrossPairsStream for
    // why: micro-batches then exchange only stream-side rows). The
    // cell count is part of the key — a sized fit partitions the
    // corpus differently than the deterministic window.
    val idx = StaticIndexCache.getOrBuild[DataFrame](
      StaticIndexCache.corpusKey(s, corpusRaw, "ivfpq_idx",
        idCol, vecCol, cells)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx")
      dir.toFile.deleteOnExit()
      Vec.argminAssignWith(corpus, centArr)
        .select(col("vec_id").as("nid"),
          graft.functions.GraftFunctions
            .pqEncode(col("qe"), cb, PqM, PqC, PqD).as("codes"),
          col("qe"), col("nrm"), col("cell"))
        .groupBy(col("cell"))
        .agg(collect_list(struct(col("nid"), col("codes"), col("qe"),
          col("nrm"))).as("cands"))
        .write.parquet(s"$dir/idx")
      s.read.parquet(s"$dir/idx")
        .repartition(col("cell"))
        .sortWithinPartitions(col("cell"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

    // ---- row-local query pipeline ----
    // spread the arriving rows across the cluster first: the per-row
    // probe (CentN fused dots + nProbe joins + ADC over member arrays)
    // is the micro-batch's entire cost, and a file-staged batch arrives
    // as ONE partition (measured r18: addBatch 3.6 s of a 4.0 s
    // trigger, single-core)
    val q0 = prep(graft.Par.spreadAny(queriesRaw))
      .select(col("vec_id").as("qid"),
        col("qe").as("qqe"), col("nrm").as("qnrm"))
    // per-row nProbe nearest cells as ONE fused expression
    // (graft.functions.TopNCosine) — the streaming analogue of the
    // batch probe's broadcast+window, same (ccos DESC NULLS LAST, cid)
    // order bit-for-bit. The per-cell struct-array spelling this
    // replaces carried one centroid literal per cell: at the √n sized
    // cell count (k=448, sf10) that was a 9 MiB task binary re-planned
    // per micro-batch and a 3-39 s drain; the fused node carries the
    // centroids as flat reference arrays, O(1) plan size in k·d.
    val sortedCents = centArr.sortBy(_._1)
    val probes = graft.functions.GraftFunctions.topnCos(
      col("qqe"), col("qnrm"),
      sortedCents.map(_._1).toArray,
      sortedCents.flatMap(_._2).toArray,
      sortedCents.map(_._3).toArray, nProbe)
    // nProbe stream-static equi joins fetch the probed cells' member
    // arrays (left: an empty cell has no index row)
    val withProbes = q0.withColumn("probes", probes)
    val joined = (0 until nProbe).foldLeft(withProbes) { (acc, j) =>
      acc.join(
        idx.select(col("cell").as(s"__cell_$j"),
          col("cands").as(s"__cands_$j")),
        get(col("probes"), lit(j)) === col(s"__cell_$j"), "left")
    }
    val emptyCands = array().cast(idx.schema("cands").dataType)
    val members = flatten(array((0 until nProbe).map(j =>
      coalesce(col(s"__cands_$j"), emptyCands)): _*))
    // Fused ADC → candidate cut → exact re-rank → top-k
    // (functions/PqRerankTopK), bit-equal to the column-tree spelling
    // it replaces (AnnStreamSpec pins stream ≡ batch). The tree form
    // referenced the 16k-long codebook literal once per (m, i) ADC term
    // — PqM·PqD copies inside a transform lambda, a measured ~3.5 MB
    // logical plan that streaming RE-PLANS per micro-batch (addBatch
    // ~4 s for an 8-row probe batch, r18); the fused node carries the
    // codebook as one flat reference array, O(1) plan size — the same
    // fix topn_cos applied to the per-cell centroid literals.
    val topk = graft.functions.GraftFunctions.pqRerankTopK(
      col("qqe"), col("qnrm"), members, cb, PqM, PqC, PqD, cand, k)
    joined.select(col("qid"), posexplode(topk))
      .select(col("qid"), col("col.nid").as("nid"),
        col("col.cosine").as("cosine"), (col("pos") + 1).as("rank"))
  }

  /** MEASUREMENT variant of [[ivfPqTopkStream]] (kept off the shipped
    * path — see SCALE.md's r15 comparison): a CODES-ONLY frozen cell
    * index (8 PQ bytes per member instead of dim+1 raw longs) plus a
    * second nid-keyed vector relation, with the exact re-rank fetching
    * the `cand` ADC survivors' vectors through `cand` stream-static
    * equi joins (the only zero-state spelling of "fetch survivors by
    * nid" — a single explode+join needs a per-qid regroup, which is a
    * stateful streaming aggregation). The trade under test: per-probe
    * index read shrinks ~(dim·8)/8 per member, but the plan carries
    * `cand` (=100 at the oracle contract) join operators re-planned
    * per micro-batch — the same plan-size axis the r14 `topn_cos`
    * fusion was about. Output is bit-identical to [[ivfPqTopkStream]]
    * (same candidate cut, same cosine, same order) — pinned in
    * AnnStreamSpec.
    */
  private[queries] def ivfPqTopkStreamCodesOnly(corpusRaw: DataFrame,
      queriesRaw: DataFrame, idCol: String, vecCol: String,
      nProbe: Int = NProbe, cand: Int = PqCand, k: Int = K,
      cells: Option[Int] = None): DataFrame = {
    require(queriesRaw.isStreaming, "codes-only variant: streaming queries")
    require(!corpusRaw.isStreaming, "codes-only variant: bounded corpus")
    val s = corpusRaw.sparkSession
    Vec.ensureRegistered(s)
    val dim = ivfPqDim(corpusRaw, vecCol)
    def prep(df: DataFrame) = ivfPqPrep(df, idCol, vecCol, dim)
    val corpus = prep(corpusRaw)
    val centArr = cells match {
      case Some(c) => fitCentroids(corpus, c)
      case None => collectCents(corpus
        .filter(col("vec_id") >= CentLo && col("vec_id") < CentLo + CentN)
        .select(col("vec_id").as("cid"), col("qe").as("ce"),
          col("nrm").as("cnrm")))
    }
    val cb = pqSliceCodebook(corpus)
    // frozen pair: codes-only cell rows + an nid-keyed vector relation
    val (idx, vecIdx) = StaticIndexCache.getOrBuild[(DataFrame, DataFrame)](
      StaticIndexCache.corpusKey(s, corpusRaw, "ivfpq_codes_idx",
        idCol, vecCol, cells)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_ipq_codes")
      dir.toFile.deleteOnExit()
      Vec.argminAssignWith(corpus, centArr)
        .select(col("vec_id").as("nid"),
          graft.functions.GraftFunctions
            .pqEncode(col("qe"), cb, PqM, PqC, PqD).as("codes"),
          col("cell"))
        .groupBy(col("cell"))
        .agg(collect_list(struct(col("nid"), col("codes"))).as("cands"))
        .write.parquet(s"$dir/cells")
      corpus.select(col("vec_id").as("nid"), col("qe"), col("nrm"))
        .write.parquet(s"$dir/vecs")
      val cellsDf = s.read.parquet(s"$dir/cells")
        .repartition(col("cell")).sortWithinPartitions(col("cell"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val vecsDf = s.read.parquet(s"$dir/vecs")
        .repartition(col("nid")).sortWithinPartitions(col("nid"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (cellsDf, vecsDf)
    }
    val q0 = prep(queriesRaw).select(col("vec_id").as("qid"),
      col("qe").as("qqe"), col("nrm").as("qnrm"))
    val sortedCents = centArr.sortBy(_._1)
    val probes = graft.functions.GraftFunctions.topnCos(
      col("qqe"), col("qnrm"),
      sortedCents.map(_._1).toArray,
      sortedCents.flatMap(_._2).toArray,
      sortedCents.map(_._3).toArray, nProbe)
    val withProbes = q0.withColumn("probes", probes)
    val cellJoined = (0 until nProbe).foldLeft(withProbes) { (acc, j) =>
      acc.join(
        idx.select(col("cell").as(s"__cell_$j"),
          col("cands").as(s"__cands_$j")),
        get(col("probes"), lit(j)) === col(s"__cell_$j"), "left")
    }
    val emptyCands = array().cast(idx.schema("cands").dataType)
    val members = flatten(array((0 until nProbe).map(j =>
      coalesce(col(s"__cands_$j"), emptyCands)): _*))
    val cbLit = lit(cb)
    def adcOf(e: Column): Column = (0 until PqM).map { m =>
      val code = get(e.getField("codes"), lit(m)).cast("long")
      (0 until PqD).map { i =>
        val d = get(col("qqe"), lit(m * PqD + i)) -
          element_at(cbLit,
            ((lit((m * PqC).toLong) + code) * PqD + i + 1).cast("int"))
        d * d
      }.reduce(_ + _)
    }.reduce(_ + _)
    val adcScored = transform(members, e =>
      struct(adcOf(e).as("adc"), e.getField("nid").as("nid")))
    val candNids = transform(
      slice(array_sort(adcScored, cmpAscBy("adc", "nid")), 1, cand),
      _.getField("nid"))
    // cand survivor-fetch joins — the measured cost axis of this shape
    val base = cellJoined.select(col("qid"), col("qqe"), col("qnrm"),
      candNids.as("__cand_nids"))
    val vecJoined = (0 until cand).foldLeft(base) { (acc, j) =>
      acc.join(
        vecIdx.select(col("nid").as(s"__vn_$j"), col("qe").as(s"__vq_$j"),
          col("nrm").as(s"__vr_$j")),
        get(col("__cand_nids"), lit(j)) === col(s"__vn_$j"), "left")
    }
    val reranked = filter(
      array((0 until cand).map(j => struct(
        cosineQ(col("qqe"), col(s"__vq_$j"), col("qnrm"),
          col(s"__vr_$j")).as("cosine"),
        col(s"__vn_$j").as("nid"))): _*),
      e => e.getField("nid").isNotNull)
    vecJoined.select(col("qid"),
        posexplode(slice(
          array_sort(reranked, cmpDescNullsLast("cosine", "nid")), 1, k)))
      .select(col("qid"), col("col.nid").as("nid"),
        col("col.cosine").as("cosine"), (col("pos") + 1).as("rank"))
  }

  /** All-but-the-top embedding post-processing (Mu & Viswanath 2018,
    * "All-but-the-Top: Simple and Effective Postprocessing for Word
    * Representations"): mean-center the corpus embeddings and remove
    * each vector's projection onto the dominant principal direction —
    * the standard isotropy fix that measurably improves cosine
    * retrieval. The direction comes from `rounds` power-iteration steps
    * over the (never materialized) covariance: each round is ONE corpus
    * pass computing per-row centered dots d_i = ⟨qe_i − μ, v⟩ (a
    * codegen'd `long_dot` against the plan-baked v, minus the scalar
    * ⟨μ, v⟩ — the centered matrix is never built), then a d=64-key
    * partial aggregation Σ_i qe_ij·(d_i div 2³⁰) for the next v. All
    * arithmetic is int64 with truncating divisions at FIVE fixed points
    * (μ = S div n; ds = d div 2³⁰; v = u div ((max|u| div 10⁶)+1);
    * p = d div 2¹⁰; proj_j = p·v_j div ((⟨v,v⟩ div 2¹⁰)+1)), identical
    * in Spark (`div`) and DuckDB (`//`) — both truncate toward zero for
    * negatives too — so the oracle replays the entire fit + projection
    * bit-exactly with the rounds unrolled as CTEs.
    *
    * Scale: per round, one corpus scan + one 64-key shuffle; the
    * direction vector is control-plane (64 longs, collected and baked
    * back as a literal array). Final residual pass is row-local. The
    * ds = d div 2³⁰ rescale bounds Σ qe·ds below int64 overflow to
    * ~7·10⁷ rows at this quantization; larger corpora raise the shift
    * (ANSI mode makes an overflow loud, never silent). Production runs
    * power iteration to tolerance from a random seed; the fixed
    * all-10⁶ seed and fixed round count here make the contract
    * deterministic and oracle-replayable.
    */
  def allButTop(emb: DataFrame, idCol: String, vecCol: String,
      rounds: Int = 2): DataFrame = {
    val model = allButTopModel(emb, idCol, vecCol, rounds)
    allButTopApply(emb, idCol, vecCol, model)
  }

  /** The frozen fit: integer corpus mean + fitted dominant direction —
    * 64+64 longs of control plane, the thing a production pipeline
    * computes once per corpus snapshot and then applies at ingest.
    */
  final case class AbttModel(mu: Array[Long], v: Array[Long])

  /** FIT side of [[allButTop]]: truncated integer mean + `rounds`
    * power-iteration steps (see the arithmetic contract above).
    */
  def allButTopModel(emb: DataFrame, idCol: String, vecCol: String,
      rounds: Int = 2): AbttModel = {
    val spark = emb.sparkSession
    Vec.ensureRegistered(spark)
    val dim = NDim
    // the fit reads the quantized frame rounds+1 times — cache it so
    // every pass after the first is a memory scan, not parquet + quant
    val q = emb.select(quant(col(vecCol)).as("qe"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // control plane: per-dim sums AND n from ONE aggregation pass (the
      // per-dim row count is the corpus row count) → truncated int mean
      val sums = new Array[Long](dim)
      var n = 1L
      q.select(posexplode(col("qe"))).groupBy("pos")
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n")).collect()
        .foreach { r => sums(r.getInt(0)) = r.getLong(1); n = r.getLong(2) }
      val mu = sums.map(_ / n) // Java / == Spark div == DuckDB // (to 0)
      var v = Array.fill(dim)(1000000L)
      for (_ <- 1 to rounds) {
        val c0 = v.indices.map(j => mu(j) * v(j)).sum
        val dd = q.withColumn("d", dotQ(col("qe"), lit(v)) - lit(c0))
          .withColumn("ds", expr("d div 1073741824"))
        // Σ_i qe_ij·ds_i per dim and Σ_i ds_i in ONE aggregation pass:
        // ds rides the posexplode, Σds repeats identically per dim
        val agg = dd.select(posexplode(col("qe")).as(Seq("j", "x")),
            col("ds"))
          .groupBy("j").agg(sum(col("x") * col("ds")).as("xs"),
            sum(col("ds")).as("sds"))
          .collect()
        val xs = new Array[Long](dim)
        var sds = 0L
        agg.foreach { r =>
          xs(r.getInt(0)) = r.getLong(1)
          sds = r.getLong(2)
        }
        val u = Array.tabulate(dim)(j => xs(j) - mu(j) * sds)
        val m = u.map(math.abs).max
        v = u.map(_ / (m / 1000000L + 1L))
      }
      AbttModel(mu, v)
    } finally { q.unpersist(); () }
  }

  /** APPLY side of [[allButTop]]: row-local mean-centering + projection
    * removal against a frozen [[AbttModel]] (mu/v baked into the plan
    * as literal arrays). Pure per-row arithmetic, no aggregation or
    * state — so it runs unchanged on a STREAMING relation: the
    * clean-embeddings-at-ingest shape, fit once on the corpus snapshot,
    * applied to every arriving vector.
    */
  def allButTopApply(df: DataFrame, idCol: String, vecCol: String,
      model: AbttModel): DataFrame = {
    Vec.ensureRegistered(df.sparkSession)
    val c0 = model.mu.indices.map(j => model.mu(j) * model.v(j)).sum
    val vv = model.v.map(x => x * x).sum
    val denom = vv / 1024L + 1L
    df.select(col(idCol).as("vid"), quant(col(vecCol)).as("qe"))
      .withColumn("d", dotQ(col("qe"), lit(model.v)) - lit(c0))
      .withColumn("mu_a", lit(model.mu))
      .withColumn("v_a", lit(model.v))
      .withColumn("p", expr("d div 1024"))
      .withColumn("res", expr(
        s"transform(qe, (x, j) -> (x - element_at(mu_a, j + 1)) - " +
          s"((p * element_at(v_a, j + 1)) div $denom))"))
      .select(col("vid").as("vec_id"), col("d").as("proj"),
        array_join(col("res").cast("array<string>"), ",").as("residual"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact brute-force cosine top-k: broadcast the (tiny) query set, one
    // corpus scan, per-query heap via row_number.
    "q_ann_brute" -> ((s, dir) => {
      import s.implicits._
      val emb = embQ(s, dir)
      val qs = emb.filter($"vec_id" < NQueries)
        .select($"vec_id".as("qid"), $"qe".as("qqe"), $"nrm".as("qnrm"))
      annBrute(emb.filter($"vec_id" >= NQueries), qs)
    }),

    // Random-hyperplane LSH: candidates = same 8-bit bucket only.
    "q_ann_lsh" -> ((s, dir) => {
      import s.implicits._
      val emb = embQ(s, dir)
      val qs = emb.filter($"vec_id" < NQueries)
        .select($"vec_id".as("qid"), $"qe".as("qqe"), $"nrm".as("qnrm"))
      annLsh(emb.filter($"vec_id" >= NQueries), qs)
    }),

    // IVF: nearest-centroid cell assignment + 4-cell probe.
    "q_ann_ivf" -> ((s, dir) => {
      import s.implicits._
      val emb = embQ(s, dir)
      val cent = emb.filter($"vec_id" >= CentLo && $"vec_id" < CentLo + CentN)
        .select($"vec_id".as("cid"), $"qe".as("ce"), $"nrm".as("cnrm"))
      val qs = emb.filter($"vec_id" < NQueries)
        .select($"vec_id".as("qid"), $"qe".as("qqe"), $"nrm".as("qnrm"))
      annIvf(emb.filter($"vec_id" >= NQueries), qs, cent)
    }),

    // Product-quantization ANN — the memory-bounded scale tier: corpus
    // vectors compress to PqM=8 codebook codes, queries scan codes
    // through per-query ADC (asymmetric distance computation) lookup
    // tables, and the PqCand best ADC candidates get an exact cosine
    // re-rank — the standard coarse-scan-then-refine shape. The 100 TB
    // story: the encode is a one-off batch pass (pure codegen'd integer
    // argmin, no HOF lambdas — the (dist, cid) struct array_min pattern
    // from argminAssignWith); after it the candidate scan touches only
    // the 8-code column, never the embeddings, and only PqCand rows per
    // query ever read a real vector again (a broadcast semi-join).
    // Codebooks here are the subvectors of PqC deterministic corpus rows
    // (a production fit would run kmeansFit per subspace); queries +
    // codebooks are control-plane collects (8 + 64 rows). ADC is
    // all-integer L2², the re-rank is the shared quantized cosine — so
    // the DuckDB oracle reproduces the result exactly.
    "q_ann_pq" -> ((s, dir) =>
      pqSearch(s, embQ(s, dir), pqSliceCodebook(embQ(s, dir)))),

    // PQ-ANN with FITTED codebooks: the slice seeds refined by PqIters
    // per-subspace Lloyd rounds (pqFit) before encode — the production
    // path, executable end-to-end. The fit is fully distributed: each
    // round is one pq_encode assignment pass (the already-codegen'd
    // argmin) + one (m, code, dim) partial-agg shuffle of at most
    // 8·64·8 = 4096 keys, then a control-plane collect of those 4096
    // floor-means. Deterministic integer arithmetic end to end, so the
    // DuckDB oracle replays the identical two rounds.
    "q_ann_pq_fit" -> ((s, dir) => {
      val emb = embQ(s, dir)
      val corpus = emb.filter(col("vec_id") >= NQueries)
      pqSearch(s, emb, pqFit(corpus, pqSliceCodebook(emb), PqIters))
    }),

    // IVF+PQ — the composed production index (route THEN scan codes):
    // q_ann_ivf's coarse quantizer picks the NProbe cells, q_ann_pq's
    // ADC scan runs only over those cells' 8-byte codes, and the PqCand
    // survivors get the exact cosine re-rank. The per-query cost drops
    // multiplicatively: nProbe/cells of the corpus, scanned as codes
    // instead of vectors. See [[ivfPqSearch]] for the 100 TB layout
    // (cell id = code-file partition key → probe = partition pruning).
    "q_ann_ivfpq" -> ((s, dir) => {
      val emb = embQ(s, dir)
      ivfPqSearch(s, emb, pqSliceCodebook(emb))
    }),

    // the composed tier with a FITTED coarse quantizer (20 cells ≈ √n
    // at this SF, the production sizing): the whole fit chain is
    // integer-exact and replayed by the oracle
    "q_ann_ivfpq_sized" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      ivfPqTopkOn(emb.filter($"vec_id" >= NQueries),
        emb.filter($"vec_id" < NQueries), "vec_id", "embedding",
        cells = Some(20))
    }),

    // Per-cluster embedding outlier detection — the curation pass that
    // drops far-from-centroid vectors (mislabeled, noisy, off-topic)
    // before training: assign every vector to its cell (the zero-shuffle
    // argmin projection), then flag the bottom decile by centroid cosine
    // within each cell. Integer-threshold ranking (crank·10 ≤ n) keeps
    // it exact across engines. One shuffle on the cell key; per-cell
    // window state is a local sort of ~n/k members (k ≈ √n cells in
    // production — at extreme scale swap the full per-cell sort for an
    // approx-quantile threshold pass, same output contract).
    "q_embed_outliers" -> ((s, dir) => {
      import s.implicits._
      val emb = embQ(s, dir)
      val wCell = Window.partitionBy($"cell").orderBy($"ccos".asc, $"vec_id")
      Vec.argminCellAssign(emb, CentLo, CentN)
        .filter($"ccos".isNotNull)
        .select($"vec_id", $"cell", $"ccos")
        .withColumn("crank", row_number().over(wCell))
        .withColumn("cn", count(lit(1)).over(Window.partitionBy($"cell")))
        .filter($"crank" * 10 <= $"cn")
    }),

    // One Lloyd refinement step of k-means over the embedding space —
    // the training pass behind the IVF cells (and SemDeDup clusters):
    // assign every vector to its nearest centroid, then recompute each
    // cell's mean componentwise. Assignment is the zero-shuffle argmin
    // projection (Vec.argminCellAssign); the mean is posexplode →
    // groupBy(cell, dim) with map-side partial aggregation — ONE shuffle
    // of k·d tiny keys, never a collect of vectors. Means are
    // floor(sum/count) in exact-double arithmetic so both engines emit
    // identical integers (sums stay ≪ 2^53).
    "q_embed_kmeans" -> ((s, dir) => {
      import s.implicits._
      val emb = embQ(s, dir)
      val assign = Vec.argminCellAssign(emb, CentLo, CentN)
      assign
        .select($"cell", posexplode($"qe"))
        .toDF("cell", "pos", "comp")
        .select($"cell", ($"pos" + 1).cast("long").as("dim"), $"comp")
        .groupBy($"cell", $"dim")
        .agg(
          floor(sum($"comp").cast("double") / count(lit(1)))
            .cast("long").as("c_new"),
          count(lit(1)).as("n_members"))
    }),

    // All-but-the-top embedding cleanup: integer-exact mean-centering +
    // dominant-direction removal, with the 2-round power-iteration fit
    // replayed bit-exactly by the oracle's unrolled CTEs ([[allButTop]]).
    "q_embed_abtt" -> ((s, dir) =>
      allButTop(Tables.load(s, dir, "embeddings"), "vec_id", "embedding")))

  // --- DuckDB mirrors -----------------------------------------------------

  private[queries] def oEmbQ: String =
    s"""e AS (SELECT vec_id, $oQuant AS qe FROM embeddings),
       |n AS (SELECT vec_id, qe, list_sum([x*x for x in qe]) AS nrm FROM e)""".stripMargin

  private[queries] val oCos = oCosineQ("q.qqe", "c.qe", "q.qnrm", "c.nrm")

  // --- PQ oracle fragments (shared by q_ann_pq and q_ann_pq_fit) ---------

  private val oSl = s"qe[(m-1)*$PqD+1 : m*$PqD]" // 1-based inclusive slice
  private def oL2pq(a: String, b: String) =
    s"list_sum([($a[i]-$b[i])*($a[i]-$b[i]) for i in generate_series(1,$PqD)])"

  /** Seed codebooks (`cw`) + corpus/query subvector views. */
  private def oPqSeed: String =
    s"""cent AS (SELECT vec_id - $CentLo AS cid, qe FROM n
       |  WHERE vec_id >= $CentLo AND vec_id < ${CentLo + PqC}),
       |ms AS (SELECT g.m FROM generate_series(1, $PqM) g(m)),
       |cw AS (SELECT cid, m, $oSl AS sub FROM cent CROSS JOIN ms),
       |csub AS (SELECT vec_id, m, $oSl AS sub
       |  FROM n CROSS JOIN ms WHERE vec_id >= $NQueries),
       |qsub AS (SELECT vec_id AS qid, m, $oSl AS sub
       |  FROM n CROSS JOIN ms WHERE vec_id < $NQueries)""".stripMargin

  /** One Lloyd round: assign corpus subvectors to `prev` codewords
    * (argmin with (dist, cid) tie-break — pq_encode's), floor-mean each
    * member set per dim, keep `prev`'s codeword where a cell is empty.
    */
  private def oPqLloydRound(prev: String, out: String): String =
    s"""a_$out AS (SELECT vec_id, m, sub, cid AS code FROM (
       |    SELECT c.vec_id, c.m, c.sub, w.cid,
       |      ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.m
       |        ORDER BY ${oL2pq("c.sub", "w.sub")}, w.cid) AS rn
       |    FROM csub c JOIN $prev w ON c.m = w.m) t WHERE rn = 1),
       |m_$out AS (SELECT m, code, g.i,
       |    CAST(floor(CAST(SUM(sub[g.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
       |  FROM a_$out CROSS JOIN generate_series(1, $PqD) g(i)
       |  GROUP BY m, code, g.i),
       |f_$out AS (SELECT m, code AS cid, list(v ORDER BY i) AS sub
       |  FROM m_$out GROUP BY m, code),
       |$out AS (SELECT w.cid, w.m, coalesce(f.sub, w.sub) AS sub
       |  FROM $prev w LEFT JOIN f_$out f ON f.m = w.m AND f.cid = w.cid)""".stripMargin

  /** Encode + ADC + exact re-rank against codebook view `cwv`. `route`
    * is extra JOIN clauses spliced into the ADC scan — the IVF+PQ
    * oracle routes it to probed cells; multiplicity stays 1 because a
    * corpus row has exactly one cell and a (qid, cell) probe is unique.
    */
  private def oPqSearch(cwv: String, route: String = ""): String =
    s"""enc AS (SELECT vec_id, m, cid AS code FROM (
       |    SELECT c.vec_id, c.m, w.cid,
       |      ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.m
       |        ORDER BY ${oL2pq("c.sub", "w.sub")}, w.cid) AS rn
       |    FROM csub c JOIN $cwv w ON c.m = w.m) t WHERE rn = 1),
       |dist AS (SELECT q.qid, enc.vec_id AS nid,
       |    CAST(SUM(${oL2pq("q.sub", "w.sub")}) AS BIGINT) AS adc_dist
       |  FROM enc JOIN $cwv w ON enc.m = w.m AND enc.code = w.cid
       |  JOIN qsub q ON q.m = enc.m$route
       |  GROUP BY q.qid, enc.vec_id),
       |cand AS (SELECT qid, nid FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY adc_dist, nid) AS crank FROM dist) t
       |  WHERE crank <= $PqCand),
       |scored AS (
       |  SELECT cand.qid, cand.nid,
       |    ${oCosineQ("q.qe", "c.qe", "q.nrm", "c.nrm")} AS cosine
       |  FROM cand
       |  JOIN n q ON q.vec_id = cand.qid
       |  JOIN n c ON c.vec_id = cand.nid)
       |SELECT qid, nid, cosine, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY cosine DESC, nid) AS rank FROM scored) t
       |WHERE rank <= $K""".stripMargin

  private[queries] val oBuckets =
    s"""planes AS (SELECT g.j, [$oPlaneComp for d in generate_series(1,64)] AS p
       |  FROM generate_series(0, ${NPlanes - 1}) g(j)),
       |bk AS (SELECT n.vec_id,
       |    SUM(CASE WHEN ${oDotQ("n.qe", "pl.p")} > 0
       |        THEN CAST(1 AS BIGINT) << pl.j ELSE 0 END) AS bucket
       |  FROM n CROSS JOIN planes pl GROUP BY n.vec_id)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_ann_brute" ->
      s"""WITH $oEmbQ,
         |scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid, $oCos AS cosine
         |  FROM (SELECT vec_id, qe AS qqe, nrm AS qnrm FROM n WHERE vec_id < $NQueries) q
         |  CROSS JOIN (SELECT * FROM n WHERE vec_id >= $NQueries) c)
         |SELECT qid, nid, cosine, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cosine DESC, nid) AS rank FROM scored) t
         |WHERE rank <= $K""".stripMargin,

    "q_ann_lsh" ->
      s"""WITH $oEmbQ,
         |$oBuckets,
         |scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid, $oCos AS cosine
         |  FROM (SELECT n.vec_id, n.qe AS qqe, n.nrm AS qnrm, bk.bucket
         |        FROM n JOIN bk ON n.vec_id = bk.vec_id
         |        WHERE n.vec_id < $NQueries) q
         |  JOIN (SELECT n.vec_id, n.qe, n.nrm, bk.bucket
         |        FROM n JOIN bk ON n.vec_id = bk.vec_id
         |        WHERE n.vec_id >= $NQueries) c
         |  ON q.bucket = c.bucket)
         |SELECT qid, nid, cosine, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cosine DESC, nid) AS rank FROM scored) t
         |WHERE rank <= $K""".stripMargin,

    "q_ann_ivf" ->
      s"""WITH $oEmbQ,
         |cent AS (SELECT vec_id AS cid, qe AS ce, nrm AS cnrm FROM n
         |  WHERE vec_id >= $CentLo AND vec_id < ${CentLo + CentN}),
         |assign AS (
         |  SELECT vec_id, qe, nrm, cid AS cell FROM (
         |    SELECT c.vec_id, c.qe, c.nrm, cent.cid,
         |      ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
         |        ${oCosineQ("c.qe", "cent.ce", "c.nrm", "cent.cnrm")} DESC,
         |        cent.cid) AS crn
         |    FROM (SELECT * FROM n WHERE vec_id >= $NQueries) c
         |    CROSS JOIN cent) t WHERE crn = 1),
         |probe AS (
         |  SELECT qid, qqe, qnrm, cid AS cell FROM (
         |    SELECT q.vec_id AS qid, q.qe AS qqe, q.nrm AS qnrm, cent.cid,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${oCosineQ("q.qe", "cent.ce", "q.nrm", "cent.cnrm")} DESC,
         |        cent.cid) AS prn
         |    FROM (SELECT * FROM n WHERE vec_id < $NQueries) q
         |    CROSS JOIN cent) t WHERE prn <= $NProbe),
         |scored AS (
         |  SELECT DISTINCT q.qid, c.vec_id AS nid, $oCos AS cosine
         |  FROM probe q JOIN assign c ON q.cell = c.cell)
         |SELECT qid, nid, cosine, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cosine DESC, nid) AS rank FROM scored) t
         |WHERE rank <= $K""".stripMargin,

    "q_ann_pq" ->
      s"""WITH $oEmbQ,
         |$oPqSeed,
         |${oPqSearch("cw")}""".stripMargin,

    // same pipeline, codebooks refined by PqIters Lloyd rounds first —
    // the SQL replays pqFit's exact integer arithmetic (argmin with
    // (dist, cid) tie-break, floor(sum/count) means, empty codewords
    // keep their previous value via the LEFT JOIN coalesce)
    "q_ann_pq_fit" ->
      s"""WITH $oEmbQ,
         |$oPqSeed,
         |${oPqLloydRound("cw", "cw1")},
         |${oPqLloydRound("cw1", "cw2")},
         |${oPqSearch("cw2")}""".stripMargin,

    // IVF coarse quantizer (q_ann_ivf's assign/probe, renamed i*) routes
    // q_ann_pq's ADC scan: dist only over (qid, nid) where nid's cell is
    // one of qid's NProbe probed cells
    "q_ann_ivfpq" ->
      s"""WITH $oEmbQ,
         |$oPqSeed,
         |icent AS (SELECT vec_id AS cid, qe AS ce, nrm AS cnrm FROM n
         |  WHERE vec_id >= $CentLo AND vec_id < ${CentLo + CentN}),
         |iassign AS (
         |  SELECT vec_id AS nid, cid AS cell FROM (
         |    SELECT c.vec_id, icent.cid,
         |      ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
         |        ${oCosineQ("c.qe", "icent.ce", "c.nrm", "icent.cnrm")} DESC,
         |        icent.cid) AS crn
         |    FROM (SELECT * FROM n WHERE vec_id >= $NQueries) c
         |    CROSS JOIN icent) t WHERE crn = 1),
         |iprobe AS (
         |  SELECT qid, cid AS cell FROM (
         |    SELECT q.vec_id AS qid, icent.cid,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${oCosineQ("q.qe", "icent.ce", "q.nrm", "icent.cnrm")} DESC,
         |        icent.cid) AS prn
         |    FROM (SELECT * FROM n WHERE vec_id < $NQueries) q
         |    CROSS JOIN icent) t WHERE prn <= $NProbe),
         |${oPqSearch("cw",
             "\n  JOIN iassign a ON a.nid = enc.vec_id" +
             "\n  JOIN iprobe p ON p.qid = q.qid AND p.cell = a.cell")}"""
        .stripMargin,

    // the sized tier: identical chain, but the IVF centroids come from
    // the replayed stride-seed + one-Lloyd-round fit over the corpus
    // subset instead of the deterministic id window
    "q_ann_ivfpq_sized" ->
      s"""WITH $oEmbQ,
         |$oPqSeed,
         |corp AS (SELECT * FROM n WHERE vec_id >= $NQueries),
         |${Vec.oFittedCent(20, "corp", "icent")},
         |iassign AS (
         |  SELECT vec_id AS nid, cid AS cell FROM (
         |    SELECT c.vec_id, icent.cid,
         |      ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
         |        ${oCosineQ("c.qe", "icent.ce", "c.nrm", "icent.cnrm")} DESC,
         |        icent.cid) AS crn
         |    FROM corp c CROSS JOIN icent) t WHERE crn = 1),
         |iprobe AS (
         |  SELECT qid, cid AS cell FROM (
         |    SELECT q.vec_id AS qid, icent.cid,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${oCosineQ("q.qe", "icent.ce", "q.nrm", "icent.cnrm")} DESC,
         |        icent.cid) AS prn
         |    FROM (SELECT * FROM n WHERE vec_id < $NQueries) q
         |    CROSS JOIN icent) t WHERE prn <= $NProbe),
         |${oPqSearch("cw",
             "\n  JOIN iassign a ON a.nid = enc.vec_id" +
             "\n  JOIN iprobe p ON p.qid = q.qid AND p.cell = a.cell")}"""
        .stripMargin,

    "q_embed_outliers" ->
      s"""WITH ${Vec.oArgminAssign(CentLo, CentN, keepCcos = true)}
         |SELECT vec_id, cell, ccos, crank, cn FROM (
         |  SELECT vec_id, cell, ccos,
         |    ROW_NUMBER() OVER (PARTITION BY cell
         |      ORDER BY ccos ASC, vec_id) AS crank,
         |    COUNT(*) OVER (PARTITION BY cell) AS cn
         |  FROM assign WHERE ccos IS NOT NULL) t
         |WHERE crank * 10 <= cn""".stripMargin,

    "q_embed_kmeans" ->
      s"""WITH ${Vec.oArgminAssign(CentLo, CentN)},
         |x AS (SELECT cell, unnest(
         |    [{dim: i, comp: qe[i]} for i in generate_series(1, len(qe))],
         |    recursive := true) FROM assign)
         |SELECT cell, dim,
         |  CAST(floor(CAST(sum(comp) AS DOUBLE) / count(*)) AS BIGINT) AS c_new,
         |  count(*) AS n_members
         |FROM x GROUP BY cell, dim""".stripMargin,

    // allButTop's integer arithmetic replayed token-for-token: truncated
    // integer mean, two unrolled power-iteration rounds (centered dot →
    // div 2^30 rescale → per-dim re-aggregation → max-abs renormalize),
    // then the row-local projection removal. DuckDB `//` and Spark `div`
    // both truncate toward zero, for negatives too.
    "q_embed_abtt" ->
      s"""WITH e AS (SELECT vec_id, $oQuant AS qe FROM embeddings),
         |mu AS (SELECT g.j, SUM(qe[g.j]) // (SELECT COUNT(*) FROM e) AS mu
         |  FROM e, generate_series(1, 64) g(j) GROUP BY g.j),
         |v0 AS (SELECT j, CAST(1000000 AS BIGINT) AS v
         |  FROM generate_series(1, 64) g(j)),
         |d1 AS (SELECT e.vec_id, SUM(e.qe[v.j] * v.v)
         |    - (SELECT SUM(m.mu * v2.v) FROM mu m JOIN v0 v2 USING (j)) AS d
         |  FROM e, v0 v GROUP BY e.vec_id),
         |x1 AS (SELECT g.j, SUM(e.qe[g.j] * (d1.d // 1073741824)) AS xs,
         |    SUM(d1.d // 1073741824) AS sds
         |  FROM e JOIN d1 USING (vec_id), generate_series(1, 64) g(j)
         |  GROUP BY g.j),
         |u1 AS (SELECT x1.j, x1.xs - mu.mu * x1.sds AS u
         |  FROM x1 JOIN mu USING (j)),
         |v1 AS (SELECT j, u // ((SELECT MAX(ABS(u)) FROM u1) // 1000000
         |    + 1) AS v FROM u1),
         |d2 AS (SELECT e.vec_id, SUM(e.qe[v.j] * v.v)
         |    - (SELECT SUM(m.mu * v2.v) FROM mu m JOIN v1 v2 USING (j)) AS d
         |  FROM e, v1 v GROUP BY e.vec_id),
         |x2 AS (SELECT g.j, SUM(e.qe[g.j] * (d2.d // 1073741824)) AS xs,
         |    SUM(d2.d // 1073741824) AS sds
         |  FROM e JOIN d2 USING (vec_id), generate_series(1, 64) g(j)
         |  GROUP BY g.j),
         |u2 AS (SELECT x2.j, x2.xs - mu.mu * x2.sds AS u
         |  FROM x2 JOIN mu USING (j)),
         |v2 AS (SELECT j, u // ((SELECT MAX(ABS(u)) FROM u2) // 1000000
         |    + 1) AS v FROM u2),
         |vv AS (SELECT SUM(v * v) AS vv FROM v2),
         |df AS (SELECT e.vec_id, SUM(e.qe[v.j] * v.v)
         |    - (SELECT SUM(m.mu * v2.v) FROM mu m JOIN v2 USING (j)) AS d
         |  FROM e, v2 v GROUP BY e.vec_id)
         |SELECT e.vec_id, CAST(df.d AS BIGINT) AS proj,
         |  array_to_string(list(
         |    (e.qe[g.j] - mu.mu) - ((df.d // 1024) * v2.v)
         |      // ((SELECT vv FROM vv) // 1024 + 1)
         |    ORDER BY g.j), ',') AS residual
         |FROM e JOIN df USING (vec_id), generate_series(1, 64) g(j)
         |  JOIN mu ON mu.j = g.j JOIN v2 ON v2.j = g.j
         |GROUP BY e.vec_id, df.d""".stripMargin)
}
