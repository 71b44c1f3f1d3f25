package graft.queries

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (hash groupBy), keyed keep-first, MinHash+LSH, SimHash with
  * chunk blocking, exact n-gram Jaccard, embedding-cosine near-dup.
  *
  * Everything is deterministic so the DuckDB oracle reproduces results
  * bit-for-bit: hashes are md5 (identical across engines), minhash
  * signatures are lexicographic minima of md5 hex strings, cosine goes
  * through integer-quantized embeddings so the float formula is a pure
  * function of identical integers.
  *
  * Scale notes (100 TB): the LSH paths shuffle on band/bucket keys whose
  * cardinality grows with the corpus — no O(n²) stage anywhere except the
  * explicitly-bounded exact-verification baselines. Shingle explode →
  * groupBy(doc) min-aggregates get map-side combine for free. Hot LSH
  * band buckets (boilerplate-heavy corpora) are the known skew risk and
  * are capped at [[MaxBandBucket]] members per bucket ([[bucketPairs]]),
  * with drops surfaced through an observe() metric — bounded work per
  * task by construction, no silent truncation. The simhash chunk path is
  * deliberately NOT capped: a cap would break the lossless hamming≤3
  * contract, so instead its chunk-key space is SIZED from the corpus
  * ([[simhashChunkWidth]]: w = ceil(log2 n) + 4 bits per chunk) to keep
  * expected bucket population O(1) at any scale.
  */
object Dedup extends QueryPack {

  /** 1-based word array, mirroring DuckDB's regexp_split_to_array. */
  private def words(c: Column): Column = split(c, " ")

  /** LSH candidate pairs for documents (doc_id, text): shingle → k
    * affine minhashes of one md5 code (map-side combined min-agg) →
    * band keys built in ONE projection and posexplode'd (the signature
    * aggregation runs exactly once — no k-way unionByName re-instantiating
    * the upstream plan) → groupBy band key collecting bucket members (the
    * only corpus-sized shuffle) → in-bucket pair expansion. Band/row
    * counts are the scale knobs — the effective detection threshold is
    * [[lshThreshold]] ≈ (1/bands)^(1/rowsPerBand); pick them with
    * [[bandConfigFor]].
    *
    * `maxBucket` is the hot-bucket guard: a degenerate band bucket of m
    * members (boilerplate-heavy corpora — every member shares a band
    * signature) would expand to m²/2 candidate pairs in one task, the
    * one way this pipeline dies at 100 TB. Buckets over the cap are
    * DROPPED, and the drop is accounted through a `observe()` metric
    * ("lsh_buckets": dropped_buckets / dropped_members) logged at WARN
    * after the action — never silent. Dropping (vs salting) is the
    * right policy here: salting a band bucket loses cross-salt pairs
    * anyway, and members of a degenerate bucket are boilerplate the
    * exact-Jaccard verify would mostly reject. Tune the cap to the
    * largest duplicate-group size worth clustering.
    */
  def minhashCandidates(docs0: DataFrame, k: Int = MinhashK,
      bands: Int = Bands, rowsPerBand: Int = RowsPerBand,
      maxBucket: Int = MaxBandBucket): DataFrame = {
    require(maxBucket >= 2, s"maxBucket($maxBucket) must allow pairs")
    val bandRows = minhashBandRows(docs0, k, bands, rowsPerBand)
    // Int.MaxValue is the public "no cap" knob → explicit uncapped mode
    val cap = if (maxBucket == Int.MaxValue) None else Some(maxBucket)
    bucketPairs(bandRows, Seq("band", "bkey"), cap, "lsh_buckets")
  }

  /** (doc_id, band, bkey) LSH band rows of a (doc_id, text) relation —
    * the signature pipeline shared by self-dedup ([[minhashCandidates]])
    * and cross-corpus dedup ([[minhashCrossPairs]]).
    *
    * Signatures are computed ROW-LOCALLY: k affine minhashes as
    * `array_min` over higher-order transforms of the shingle-hash array
    * — bit-identical to a per-shingle explode + groupBy(doc_id) min
    * aggregate (both are the min over the same multiset; pinned by
    * MinhashSpec's batch/stream equality) but with ZERO shuffle, where
    * the explode pipeline moves one partial-aggregated row group per
    * doc through a corpus-wide exchange. At 100 TB the signature stage
    * is a pure map over the text scan; the only shuffle left in LSH
    * dedup is the band-bucket groupBy itself.
    */
  private def minhashBandRows(docs0: DataFrame, k: Int,
      bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands * rowsPerBand <= k,
      s"bands($bands) × rowsPerBand($rowsPerBand) exceeds k($k)")
    graft.functions.GraftFunctions.register(docs0.sparkSession)
    val bandKeys = (0 until bands).map { b =>
      concat_ws("_", (0 until rowsPerBand).map { r =>
        val j = b * rowsPerBand + r
        array_min(transform(col("xs"),
          x => (lit(hashA(j)) * x + lit(hashB(j))) % P))
      }: _*)
    }
    docs0
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        transform(array_distinct(shingles(col("w"), 3)),
          t => tokenHash(t) % P).as("xs"))
      .select(col("doc_id"),
        posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
  }

  /** In-bucket pair expansion with a hot-bucket cap: groupBy the bucket
    * key (ONE shuffle — replaces a bucket-keyed self-join, so nothing
    * relies on exchange reuse), drop buckets over `maxBucket` members
    * (accounted via the named `observe()` metric, logged at WARN by a
    * per-session listener — no silent truncation), expand surviving
    * buckets to ordered pairs map-side. Bucket membership is collected
    * before the cap filter, so the per-bucket state is O(m) doc ids —
    * bounded and tiny next to the O(m²) pair blowup the cap prevents.
    */
  private def bucketPairs(rows: DataFrame, keyCols: Seq[String],
      maxBucket: Option[Int], metricName: String): DataFrame = {
    val bsz = size(col("members"))
    val buckets = rows.groupBy(keyCols.map(col): _*)
      .agg(collect_list(col("doc_id")).as("members"))
    // uncapped mode (None) carries no drop accounting at all — dead
    // never-firing metrics would mislead readers into thinking drops
    // are possible on that path
    val kept = maxBucket match {
      case Some(cap) =>
        CapDrops.watch(rows.sparkSession)
        buckets
          .observe(metricName,
            sum(when(bsz > cap, 1).otherwise(0)).as("dropped_buckets"),
            sum(when(bsz > cap, bsz).otherwise(0)).as("dropped_members"))
          .filter(bsz >= 2 && bsz <= cap)
      case None => buckets.filter(bsz >= 2)
    }
    kept
      .select(explode(col("members")).as("ida"), col("members"))
      .select(col("ida"), explode(col("members")).as("idb"))
      .filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"))
      .distinct()
  }

  /** Probability-0.5 Jaccard detection threshold of an (bands, rows)
    * LSH config — the S-curve midpoint (1/b)^(1/r). More bands / fewer
    * rows per band lowers it (more candidates, higher recall).
    */
  def lshThreshold(bands: Int, rowsPerBand: Int): Double =
    math.pow(1.0 / bands, 1.0 / rowsPerBand)

  /** Pick the (bands, rowsPerBand) factorization of k whose detection
    * threshold lands closest to the target Jaccard — the standard MMDS
    * sizing rule. k itself scales with how sharp the S-curve must be
    * (k = 16 suits ~0.8-threshold dedup; raise for looser thresholds).
    */
  def bandConfigFor(k: Int, targetJaccard: Double): (Int, Int) =
    (1 to k).filter(k % _ == 0).map(b => (b, k / b))
      .minBy { case (b, r) => math.abs(lshThreshold(b, r) - targetJaccard) }

  /** Exact-dup groups of ANY (id, text) relation: one hash aggregation
    * on the md5 digest (the canonical first dedup pass; scales as a
    * single shuffle on the digest key). Output (keep_id = min id per
    * identical text, n_copies). Public operator form so both the oracle
    * entry and the SQL gate's `DEDUP_EXACT` TVF share one plan.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** The MinHash+LSH near-dup pipeline over ANY (id, text) relation:
    * [[minhashCandidates]] at the oracle-default config → exact Jaccard
    * verification of candidates only. Returns verified pairs
    * (ida, idb, jacc >= threshold). Operator form shared by the oracle
    * entry and the gate's `DEDUP_MINHASH_PAIRS` TVF.
    */
  def minhashVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8): DataFrame = {
    val s = df.sparkSession
    graft.functions.GraftFunctions.register(s)
    // spread BEFORE the shingle/minhash expressions: on a one-split scan
    // the whole signature compute would run on one core (guide §2.5);
    // the exchange moves only (doc_id, text) once, identity at scale
    val docs0 = graft.Par.spread(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")))
    val cand = minhashCandidates(docs0)
    val sh = docs0
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("w"), 3))).as("sng"))
    // NOT pinned (unlike the jaccard kernels): this relation serves both
    // verify sides, but measured at sf0.1 the localCheckpoint write cost
    // more than the avoided re-tokenize (1.01 -> 1.15-1.22 s) — the
    // verify joins already prune to candidate docs, so the recompute is
    // candidate-sized, not corpus-sized (see OPTIMIZATION_r18.md)
    val sets = sh.groupBy(col("doc_id")).agg(collect_set(col("sng")).as("ss"))
    cand
      .join(sets.select(col("doc_id").as("ida"), col("ss").as("sa")), "ida")
      .join(sets.select(col("doc_id").as("idb"), col("ss").as("sb")), "idb")
      .select(col("ida"), col("idb"),
        graft.functions.GraftFunctions.jaccardDistinct(col("sa"), col("sb"))
          .as("jacc"))
      .filter(col("jacc") >= threshold)
  }

  private[queries] def minhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashVerifiedPairs(Tables.load(s, dir, "documents"), "doc_id", "text")

  /** Incremental cross-corpus near-dup detection: every production
    * pipeline runs this shape on each new crawl drop — dedup an INCOMING
    * shard against a FROZEN corpus without re-pairing the corpus with
    * itself. Both sides go through the same signature pipeline; the
    * candidate stage is a band-key join BETWEEN the sides (bucketed per
    * side first, so the shuffle carries one row per distinct band key
    * per side, and the in-bucket expansion is incoming×corpus only —
    * never corpus²). Degenerate boilerplate keys are capped on the
    * PRODUCT (incoming·corpus members) with the drop accounted through
    * an observe() metric, same policy as [[minhashCandidates]].
    * Candidates are verified by exact 3-gram Jaccard. Output
    * (ida = incoming id, idb = corpus id, jacc >= threshold).
    *
    * At 100 TB the corpus side's signatures are computed once and kept
    * (they are a pure function of the text); this operator takes the
    * raw relations so the oracle can brute-force it, but the band-row
    * stage is the natural persistence cut.
    */
  def minhashCrossPairs(incoming: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.8,
      k: Int = MinhashK, bands: Int = Bands, rowsPerBand: Int = RowsPerBand,
      maxProduct: Int = MaxBandBucket * MaxBandBucket): DataFrame = {
    require(maxProduct >= 1, s"maxProduct($maxProduct) must allow pairs")
    val s = incoming.sparkSession
    // spread both sides before the signature/shingle compute (§2.5);
    // no-op on streaming inputs and on production-sized scans
    def norm(df: DataFrame) = graft.Par.spread(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")))
    val inc = norm(incoming)
    val cor = norm(corpus)
    val bn = minhashBandRows(inc, k, bands, rowsPerBand)
      .groupBy(col("band"), col("bkey"))
      .agg(collect_list(col("doc_id")).as("nm"))
    val bc = minhashBandRows(cor, k, bands, rowsPerBand)
      .groupBy(col("band"), col("bkey"))
      .agg(collect_list(col("doc_id")).as("cm"))
    CapDrops.watch(s)
    val product = size(col("nm")).cast("long") * size(col("cm"))
    val joined = bn.join(bc, Seq("band", "bkey"))
      .observe("cross_lsh_buckets",
        sum(when(product > maxProduct, 1L).otherwise(0L))
          .as("dropped_buckets"),
        sum(when(product > maxProduct, product).otherwise(0L))
          .as("dropped_members"))
      .filter(product <= maxProduct)
    val cand = joined
      .select(explode(col("nm")).as("ida"), col("cm"))
      .select(col("ida"), explode(col("cm")).as("idb"))
      .distinct()
    def sets(df: DataFrame, idAs: String, setAs: String) = df
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id").as(idAs),
        array_distinct(shingles(col("w"), 3)).as(setAs))
    cand
      .join(sets(inc, "ida", "sa"), "ida")
      .join(sets(cor, "idb", "sb"), "idb")
      .select(col("ida"), col("idb"),
        graft.functions.GraftFunctions.jaccardDistinct(col("sa"), col("sb"))
          .as("jacc"))
      .filter(col("jacc") >= threshold)
  }

  /** Streaming shape of [[minhashCrossPairs]] — the production
    * LLM-pipeline cadence: a continuously ARRIVING crawl shard deduped
    * against a FROZEN corpus. Instead of a per-micro-batch foreachBatch
    * replay of the batch kernel, this is a fully STATELESS streaming
    * plan (append mode, zero keyed state, composes with any sink):
    *
    *   1. The corpus index is built ONCE and materialized to parquet —
    *      the "natural persistence cut" the batch operator's scaladoc
    *      names: ONE corpus text scan computes `meta(idb, sb, ckeys)`
    *      (exact 3-shingle set + full band-key array) row-locally, and
    *      `idx(band, bkey, idb)` derives from that compact columnar
    *      file (hot buckets over `maxBucket` members dropped with
    *      observe() accounting, like [[minhashCandidates]]).
    *      Micro-batches re-SCAN these columnar files but never
    *      re-shingle or re-hash the corpus.
    *   2. Each incoming row computes its own signature ROW-LOCALLY
    *      (split → distinct 3-shingles → k affine minhashes over the
    *      shingle array via higher-order functions — the same
    *      formulation [[minhashBandRows]] uses, pinned equal by spec),
    *      so no streaming aggregation is ever needed.
    *   3. posexplode(band keys) → stream-static equi-join with `idx`
    *      on (band, bkey) → stream-static join with `meta` on idb.
    *   4. The batch kernel's `.distinct()` over candidate pairs (a
    *      stateful op on a stream) is replaced by a ROW-LOCAL rule:
    *      keep a candidate only at the FIRST band index where the two
    *      band-key arrays agree — each (ida, idb) pair survives exactly
    *      once, with no state.
    *   5. Exact Jaccard over (sa, sb) >= threshold, as in batch.
    *
    * Equal output to [[minhashCrossPairs]] whenever no hot-bucket cap
    * binds (the oracle regime). Under a binding cap the two shapes
    * diverge by construction and both lose recall: batch caps each
    * bucket's incoming×corpus PRODUCT, this caps corpus-side bucket
    * membership (the incoming side arrives row-at-a-time, so a per-row
    * plan has no incoming bucket to bound) — and a pair whose FIRST
    * matching band was capped away is dropped even if a later band's
    * bucket survived. Documented recall trade, accounted at index build.
    *
    * At 100 TB: per-row cost is k passes over the shingle array plus
    * `bands` index probes with join fan-out bounded by `maxBucket`. The
    * index and meta sides persist PRE-PARTITIONED on their join keys
    * (InMemoryRelation preserves outputPartitioning), so a micro-batch
    * exchanges only its own rows — per-batch cost is O(batch), not
    * O(corpus); on a cluster where the index outgrows cache, write it
    * as a bucketed table for the same effect. State: none.
    */
  def minhashCrossPairsStream(incoming: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.8,
      k: Int = MinhashK, bands: Int = Bands, rowsPerBand: Int = RowsPerBand,
      maxBucket: Int = MaxBandBucket): DataFrame = {
    require(incoming.isStreaming,
      "minhashCrossPairsStream needs a streaming incoming side — use " +
        "minhashCrossPairs for batch-vs-batch")
    require(!corpus.isStreaming,
      "DEDUP_CROSS_PAIRS: the corpus side must be a BOUNDED relation " +
        "(its band index is built once and frozen) — declare it with " +
        "'source.bounded' = 'true' or a batch connector")
    val s = corpus.sparkSession
    graft.functions.GraftFunctions.register(s)

    // the row-local signature pipeline, shared verbatim by both sides:
    // split → distinct 3-shingles → k affine minhashes via higher-order
    // functions over the shingle array — identical values to the batch
    // explode+groupBy pipeline (array_min over the transformed multiset
    // IS its min-aggregate), pinned by spec. One text scan, no shuffle.
    def rowLocalSig(df: DataFrame, id: String, keysAs: String,
        shinglesAs: String): DataFrame = {
      val keys = array((0 until bands).map { b =>
        concat_ws("_", (0 until rowsPerBand).map { r =>
          val j = b * rowsPerBand + r
          array_min(transform(col("xs"),
            x => (lit(HashA(j)) * x + lit(HashB(j))) % P))
        }: _*)
      }: _*)
      df.select(col(idCol).as(id), words(col(textCol)).as("w"))
        .filter(size(col("w")) >= 3)
        .select(col(id), array_distinct(shingles(col("w"), 3)).as(shinglesAs))
        .select(col(id), col(shinglesAs),
          transform(col(shinglesAs), t => tokenHash(t) % P).as("xs"))
        .select(col(id), col(shinglesAs), keys.as(keysAs))
    }

    // --- corpus index, built once, materialized to parquet ---
    // ONE corpus text scan computes (idb, sb, ckeys) row-locally; the
    // band→bucket index then derives from that compact columnar file,
    // so neither the bucket groupBy nor a meta pass ever re-reads text.
    // Build-once via StaticIndexCache: repeated gate invocations over
    // the same corpus reuse ONE (meta, idx) pair instead of pinning a
    // fresh MEMORY_AND_DISK copy (and a fresh tmp dir) per call —
    // threshold is a query-time filter, not an index parameter.
    val (meta, idx) = StaticIndexCache.getOrBuild[(DataFrame, DataFrame)](
      StaticIndexCache.corpusKey(s, corpus, "cross_idx",
        idCol, textCol, bands, rowsPerBand, maxBucket)) {
      val dir = StaticIndexCache.newTmpDir("graft_cross_idx")
      CapDrops.watch(s)
      rowLocalSig(graft.Par.spread(corpus), "idb", "ckeys", "sb")
        .write.parquet(s"$dir/meta")
      // keyed by idb for the per-batch meta join — see the idx comment
      val m = s.read.parquet(s"$dir/meta")
        .repartition(col("idb"))
        .sortWithinPartitions(col("idb"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bsz = size(col("cm"))
      m.select(col("idb"),
          posexplode(col("ckeys")).as(Seq("band", "bkey")))
        .groupBy(col("band"), col("bkey"))
        .agg(collect_list(col("idb")).as("cm"))
        .observe("cross_stream_buckets",
          sum(when(bsz > maxBucket, 1).otherwise(0)).as("dropped_buckets"),
          sum(when(bsz > maxBucket, bsz).otherwise(0)).as("dropped_members"))
        .filter(bsz <= maxBucket)
        .select(col("band"), col("bkey"), explode(col("cm")).as("idb"))
        .write.parquet(s"$dir/idx")
      // Persist both static sides PRE-PARTITIONED on their join keys:
      // InMemoryRelation preserves outputPartitioning, so every
      // micro-batch's sort-merge join sees the static side already
      // distributed and exchanges ONLY the (small) stream side — without
      // this, each batch re-reads AND re-shuffles the whole corpus index,
      // turning an O(batch) drain into O(batches × corpus). This is the
      // in-session analogue of writing the index as a bucketed table,
      // which is the production shape.
      val i = s.read.parquet(s"$dir/idx")
        .repartition(col("band"), col("bkey"))
        .sortWithinPartitions(col("band"), col("bkey"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (m, i)
    }

    // --- row-local incoming signature (no streaming aggregation) ---
    // spreadAny: a file-staged micro-batch arrives as ONE partition, so
    // the k-hash signature compute would run single-core (§2.5); the
    // O(batch) exchange is dominated by the per-row signature work
    val inc = rowLocalSig(graft.Par.spreadAny(incoming), "ida", "ikeys",
      "sa")

    inc.select(col("ida"), col("sa"), col("ikeys"),
        posexplode(col("ikeys")).as(Seq("band", "bkey")))
      .join(idx, Seq("band", "bkey"))
      .join(meta, "idb")
      // row-local pair dedup: this row survives only if its band is the
      // FIRST index where the two key arrays agree (array_position is
      // 1-based; posexplode's band is 0-based)
      .filter(col("band") ===
        array_position(zip_with(col("ikeys"), col("ckeys"),
          (a, b) => a === b), true) - 1)
      .select(col("ida"), col("idb"),
        graft.functions.GraftFunctions.jaccardDistinct(col("sa"), col("sb"))
          .as("jacc"))
      .filter(col("jacc") >= threshold)
  }

  /** Chunk width w for the widened SimHash blocking: w = ceil(log2 n) + 4,
    * so each of the 4 chunk-key spaces holds ~16n slots and the expected
    * bucket population stays O(1) as the corpus grows — the same
    * size-from-corpus rule as [[Similarity.recommendedCentroids]].
    * Floored at 15 (the original 4x15-bit / 60-bit shape, so tiny corpora
    * behave exactly as before) and capped at 45 (three 60-bit limbs
    * supply 180 >= 4w signature bits: two from one md5 digest, the third
    * from a salted second digest that only corpora past 2^26 docs ever
    * compute). The cap now binds at ~2^41 docs — beyond any corpus this
    * engine will meet, so the fixed-key-space bend the r11 fix removed
    * cannot silently return at 2^26 where the old two-limb cap sat.
    * Integer-exact (no floating log2) so the DuckDB oracle computes the
    * identical w from the same count.
    */
  def simhashChunkWidth(n: Long): Int = {
    val ceilLog2 =
      if (n <= 2) 1 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    math.min(45, math.max(15, ceilLog2 + 4))
  }

  /** Per-doc SimHash limbs over a (doc_id, w: Array[String]) relation:
    * hash word-bigram tokens in a codegen'd projection (explode keeps
    * md5/conv in whole-stage codegen — an interpreted transform()
    * lambda here is 2x slower end-to-end), then one fused native
    * expression per limb for the 60-bit majority vote over the
    * collected hashes (order-blind, so collect_list nondeterminism is
    * harmless; same majority rule — ties clear — as the oracle's
    * per-bit ±1 sums). Output: (doc_id, s1[, s2[, s3]]). Extracted so
    * the three-limb spec can brute-force all-pairs hamming over the
    * very signatures the blocked path keys on.
    */
  private[queries] def simhashSignatures(docs: DataFrame,
      nLimbs: Int): DataFrame = {
    val limbHashes = Seq(tokenHash _, tokenHash2 _, tokenHash3 _)
    val tok = docs.select(col("doc_id"),
      explode(array_distinct(shingles(col("w"), 2))).as("t"))
      .select(col("doc_id") +:
        (0 until nLimbs).map(i => limbHashes(i)(col("t")).as(s"h${i + 1}")): _*)
    tok.groupBy(col("doc_id")).agg(
      graft.functions.GraftFunctions.simhash60(collect_list(col("h1")))
        .as("s1"),
      (2 to nLimbs).map(i =>
        graft.functions.GraftFunctions.simhash60(collect_list(col(s"h$i")))
          .as(s"s$i")): _*)
  }

  /** SimHash near-dup pairs over ANY (id, text) relation, with corpus-
    * sized chunk blocking. The signature is the per-bit majority vote
    * over word-bigram token hashes; its width is exactly 4*chunkWidth
    * bits, drawn low-bits-first from up to three 60-bit md5 limbs (the
    * third — a salted second digest — only materializes when 4w > 120,
    * i.e. past ~2^26 docs; smaller corpora pay exactly the two-limb
    * cost). Blocking: 4 chunks of chunkWidth bits — hamming<=3 over the
    * covered bits implies at most 3 chunks differ, so at least one chunk
    * key collides (pigeonhole, for ANY width) and the blocking is
    * LOSSLESS: candidates are verified by exact hamming over the same 4w
    * bits, so output equals the brute-force all-pairs scan the oracle
    * runs. The chunk path stays uncapped by design: its key space GROWS
    * with the corpus (2^w ≈ 16n per chunk), so expected bucket
    * population is O(1) and the pair expansion stays linear — the
    * fixed-4x2^15 key space that bent the sf10 curve (7x at 10x data) is
    * gone, and the limb supply no longer re-caps it at 2^26 docs.
    */
  def simhashVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      chunkWidth: Int): DataFrame = {
    require(chunkWidth >= 1 && chunkWidth <= 45,
      s"chunkWidth($chunkWidth) must be in [1, 45] — 4 chunks draw from " +
        "180 bits of md5 signature material (three 60-bit limbs)")
    val s = df.sparkSession
    graft.functions.GraftFunctions.register(s)
    val w = chunkWidth
    val nLimbs = if (4 * w > 120) 3 else 2
    def mask(bits: Int): Long = if (bits <= 0) 0L else (1L << bits) - 1
    // spread the raw rows, THEN tokenize: projections don't migrate
    // across an exchange, so spreading after `words` would still run
    // the tokenizer on the lone scan split (§2.5)
    val docs = graft.Par.spread(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")))
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
    // pin: sim feeds the chunk explode AND both hamming-verify sides —
    // unpinned, the signature agg ran 3× per query (see Par.pin)
    val sim = graft.Par.pin(simhashSignatures(docs, nLimbs))
    // chunk c covers bits [c*w, (c+1)*w) of the 4w-bit (s3 ++ s2 ++ s1)
    // concatenation; a chunk straddling a limb boundary stitches the
    // high bits of one limb to the low bits of the next. All shifts are
    // plan-time constants — the keys stay one codegen'd projection +
    // posexplode (signature agg runs once).
    def slice(lo: Int): Column =
      (0 until nLimbs).flatMap { li =>
        val (limbLo, limbHi) = (li * 60, li * 60 + 60)
        if (lo >= limbHi || lo + w <= limbLo) None
        else {
          val s0 = math.max(lo, limbLo)
          val nbits = math.min(lo + w, limbHi) - s0
          val piece = shiftright(col(s"s${li + 1}"), s0 - limbLo)
            .bitwiseAND(lit(mask(nbits)))
          Some(if (s0 == lo) piece else shiftleft(piece, s0 - lo))
        }
      }.reduce(_ bitwiseOR _)
    val chunks = sim.select(col("doc_id"),
      posexplode(array((0 until 4).map(c => slice(c * w)): _*))
        .as(Seq("chunk", "ckey")))
    val cand = bucketPairs(chunks, Seq("chunk", "ckey"), None,
      "simhash_buckets")
    // exact hamming over EXACTLY the 4w chunk-covered bits — counting
    // uncovered bits would break the pigeonhole losslessness
    val limbBits = (0 until nLimbs)
      .map(i => math.min(60, math.max(0, 4 * w - 60 * i)))
    def side(tag: String) = sim.select(col("doc_id").as(s"id$tag") +:
      (1 to nLimbs).map(i => col(s"s$i").as(s"s$tag$i")): _*)
    cand
      .join(side("a"), "ida")
      .join(side("b"), "idb")
      .select(col("ida"), col("idb"),
        (1 to nLimbs).map(i =>
          bit_count(col(s"sa$i").bitwiseXOR(col(s"sb$i"))
            .bitwiseAND(lit(mask(limbBits(i - 1))))))
          .reduce(_ + _).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** Perceptual-hash near-duplicate pairs over a precomputed 64-bit
    * dHash relation (id, hash_hi, hash_lo — the two 32-bit halves
    * [[graft.multimodal.MediaOps.dhashFeatures]] emits): banded hamming
    * blocking + exact verify, the dedup × multimodal composition
    * byte-digest dedup can't express (a re-encoded or resized duplicate
    * has a different digest but the same dHash).
    *
    * Blocking: 4 bands of 16 bits. hamming ≤ 3 over 64 bits means the
    * differing bits touch at most 3 bands, so at least one band key
    * collides (pigeonhole) — the blocking is LOSSLESS for
    * maxHamming ≤ 3 and candidates get an exact bit_count verify, so
    * output equals the brute-force all-pairs scan the oracle runs.
    *
    * Plan shape (one exchange): band explode → groupBy(band, bkey)
    * collecting (id, hi, lo) members → row-local pair generation with
    * the verify AND the first-shared-band dedup INSIDE the bucket row
    * (a pair agreeing on several bands is emitted only from its first,
    * derived in-row from the xor — the PPJoin trick), so candidate
    * pairs never cross a second exchange. The first cut routed
    * candidates through distinct + two hash joins; a 64-bit code's
    * band-key space is FIXED (4×2^16), so within-bucket candidate mass
    * grows ~n²/2^16 (measured Σbucket² ≈ 3.9 M at 45 k images,
    * ~390 M at 10×) and shuffling that mass is the scale-killer —
    * verified row-locally it is cheap branch-free bit arithmetic and
    * only TRUE pairs (linear on real corpora) reach the output. The
    * residual n²/2^16 row-local compute is the inherent floor of exact
    * radius-3 all-pairs search over a fixed 64-bit code (4 bands is
    * the most selective lossless split; longer codes are the way out
    * at extreme n); buckets shard by (band, bkey), AQE-splittable. A
    * mass-duplicated image (one giant hamming-0 cluster) makes OUTPUT
    * itself quadratic — inherent to the data, not the plan.
    * Output: (id_a, id_b, hamming), id_a < id_b.
    */
  private val PhashMask16 = 0xffffL

  /** The 4 16-bit band keys of a (hi, lo) dHash, low bits first. */
  private def phashBandKeys(hi: Column, lo: Column): Column = array(
    lo.bitwiseAND(lit(PhashMask16)),
    shiftright(lo, 16).bitwiseAND(lit(PhashMask16)),
    hi.bitwiseAND(lit(PhashMask16)),
    shiftright(hi, 16).bitwiseAND(lit(PhashMask16)))

  /** Index of the FIRST band on which two hashes agree, derived in-row
    * from the xor — the PPJoin-style dedup rule: a pair colliding on
    * several bands is emitted only from this one.
    */
  private def phashFirstSharedBand(xHi: Column, xLo: Column): Column =
    when(xLo.bitwiseAND(lit(PhashMask16)) === 0, 0)
      .when(shiftright(xLo, 16).bitwiseAND(lit(PhashMask16)) === 0, 1)
      .when(xHi.bitwiseAND(lit(PhashMask16)) === 0, 2)
      .otherwise(3)

  def phashPairs(hashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"phashPairs: maxHamming($maxHamming) must be in [0, 3] — 4 bands " +
        "of 16 bits are pigeonhole-lossless only up to hamming 3")
    val bands = hashes.select(
      struct(col("id"), col("hash_hi").as("hi"), col("hash_lo").as("lo"))
        .as("m"),
      posexplode(phashBandKeys(col("hash_hi"), col("hash_lo")))
        .as(Seq("band", "bkey")))
    val buckets = bands.groupBy(col("band"), col("bkey"))
      .agg(collect_list(col("m")).as("ms"))
      .filter(size(col("ms")) >= 2)
    val xHi = col("a.hi").bitwiseXOR(col("b.hi"))
    val xLo = col("a.lo").bitwiseXOR(col("b.lo"))
    buckets
      .select(col("band"), explode(col("ms")).as("a"), col("ms"))
      .select(col("band"), col("a"), explode(col("ms")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .filter(col("band") === phashFirstSharedBand(xHi, xLo))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (bit_count(xHi) + bit_count(xLo)).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Video perceptual near-dup via frame hashes — the pHash-native
    * sibling of the embedding route (q_gate_video_similarity): sample
    * k frames per clip ([[graft.multimodal.MediaOps.videoFrameDhashes]]
    * — parse the index, decode ONLY those frames, dHash each), then a
    * POSITION-ALIGNED banded near-dup with a majority-of-frames vote:
    * two clips pair iff at least `minMatches` of the k sampled
    * positions have frame hashes within `maxHamming`. This is the
    * production shape for re-encoded video — a transcoded duplicate
    * keeps its frame count, so position j samples the same source
    * frame on both sides and every position votes yes; a one-frame
    * edit loses one vote and still pairs; unrelated clips essentially
    * never win a majority of independent radius-3 matches.
    *
    * Plan: the same one-exchange row-local bucket pattern as
    * [[phashPairs]] with `pos` joined into the bucket key (only
    * same-position frames ever meet), then ONE clip-level aggregation
    * counting matched positions. Per position the banded blocking is
    * pigeonhole-lossless at radius ≤ 3, so the vote is computed over
    * the EXACT per-position match set and the output equals the
    * brute-force scan the oracle runs.
    * Output: (id_a, id_b, n_matched), id_a < id_b.
    */
  def videoPhashPairs(videos: DataFrame, idCol: String, mediaCol: String,
      k: Int = 3, maxHamming: Int = 3, minMatches: Int = 2): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"videoPhashPairs: maxHamming($maxHamming) must be in [0, 3] — 4 " +
        "bands of 16 bits are pigeonhole-lossless only up to hamming 3")
    require(minMatches >= 1 && minMatches <= k,
      s"videoPhashPairs: minMatches($minMatches) must be in [1, k=$k]")
    val shaped = videos.select(
      col(idCol).cast("long").as("id"), col(mediaCol).as("media"))
    val hashes = graft.multimodal.MediaOps.videoFrameDhashes(shaped, k)
    val bandRows = hashes.select(
      col("pos"),
      struct(col("id"), col("hash_hi").as("hi"), col("hash_lo").as("lo"))
        .as("m"),
      posexplode(phashBandKeys(col("hash_hi"), col("hash_lo")))
        .as(Seq("band", "bkey")))
    val buckets = bandRows.groupBy(col("pos"), col("band"), col("bkey"))
      .agg(collect_list(col("m")).as("ms"))
      .filter(size(col("ms")) >= 2)
    val xHi = col("a.hi").bitwiseXOR(col("b.hi"))
    val xLo = col("a.lo").bitwiseXOR(col("b.lo"))
    buckets
      .select(col("pos"), col("band"), explode(col("ms")).as("a"), col("ms"))
      .select(col("pos"), col("band"), col("a"),
        explode(col("ms")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .filter(col("band") === phashFirstSharedBand(xHi, xLo))
      .filter((bit_count(xHi) + bit_count(xLo)) <= maxHamming)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).cast("long").as("n_matched"))
      .filter(col("n_matched") >= minMatches)
  }

  /** Parameterized banded-hamming near-dup pairs over LONG perceptual
    * codes — the code-width/band-count knob behind the n²/2^16 escape
    * hatch [[phashPairs]]'s Scaladoc names: a fixed 64-bit code's
    * 4×16-bit split is the most selective lossless radius-3 blocking
    * it admits, so at extreme n the way out is a LONGER code
    * ([[graft.multimodal.MediaOps.dhashFeaturesWide]]'s 128-bit 17×8
    * dHash), which buys either a larger radius at the same key space
    * (8×16-bit bands: pigeonhole-lossless to hamming 7) or the same
    * radius with a 2^32 key space (4×32-bit bands: in-bucket candidate
    * mass drops from n²/2^16 to n²/2^32 — the sf10 stress row measures
    * the drop). Input: (id, limbs ARRAY<BIGINT>), 32-bit limbs low
    * bits first. Same one-exchange row-local plan as [[phashPairs]]:
    * band explode → bucket groupBy → in-row pair generation with the
    * first-shared-band dedup derived from the xor and the exact
    * bit_count verify. Output: (id_a, id_b, hamming), id_a < id_b —
    * equal to the brute-force all-pairs scan for any lossless config.
    */
  def phashPairsWide(hashes: DataFrame, maxHamming: Int,
      codeBits: Int = 128, bands: Int = 8): DataFrame = {
    require(codeBits % 32 == 0,
      s"phashPairsWide: codeBits($codeBits) must pack whole 32-bit limbs")
    require(codeBits % bands == 0 && {
      val bw = codeBits / bands; bw == 8 || bw == 16 || bw == 32
    }, s"phashPairsWide: bands($bands) must split codeBits($codeBits) " +
      "into 8/16/32-bit band keys (limb-aligned extraction)")
    require(maxHamming >= 0 && maxHamming <= bands - 1,
      s"phashPairsWide: maxHamming($maxHamming) must be in " +
        s"[0, ${bands - 1}] — $bands bands are pigeonhole-lossless " +
        s"only up to hamming ${bands - 1}")
    val bw = codeBits / bands
    val nLimbs = codeBits / 32
    def bandKey(limbs: Column, b: Int): Column =
      shiftright(element_at(limbs, (b * bw) / 32 + 1), (b * bw) % 32)
        .bitwiseAND(lit((1L << bw) - 1))
    val bandRows = hashes.select(
      struct(col("id"), col("limbs")).as("m"),
      posexplode(array((0 until bands).map(b =>
        bandKey(col("limbs"), b)): _*)).as(Seq("band", "bkey")))
    val buckets = bandRows.groupBy(col("band"), col("bkey"))
      .agg(collect_list(col("m")).as("ms"))
      .filter(size(col("ms")) >= 2)
    val xl = zip_with(col("a.limbs"), col("b.limbs"),
      (x, y) => x.bitwiseXOR(y))
    buckets
      .select(col("band"), explode(col("ms")).as("a"), col("ms"))
      .select(col("band"), col("a"), explode(col("ms")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .withColumn("xl", xl)
      // first band on which the two codes agree, from the xor — the
      // emit-once rule, row-local as in phashPairs
      .filter(col("band") === array_position(
        array((0 until bands).map(b =>
          bandKey(col("xl"), b) === 0): _*), true) - 1)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (1 to nLimbs).map(i => bit_count(element_at(col("xl"), i)))
          .reduce(_ + _).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Cross-corpus perceptual-hash dedup — the production cadence for an
    * image pipeline: every (incoming, corpus) image pair within dHash
    * hamming `maxHamming`, with the corpus's banded hash index built
    * ONCE per corpus version (StaticIndexCache: decoded, hashed,
    * band-exploded, persisted pre-partitioned+sorted on the band keys)
    * and the incoming side — which may STREAM (near-dup screening at
    * ingest) — probing it statelessly: decode + hash + band explode are
    * narrow, the band equi-join is stream-static, and the
    * first-shared-band dedup + exact hamming verify run row-locally
    * (both hashes are in the joined row), so there is no keyed state
    * and no second exchange. Merge hints pin the static side out of
    * per-micro-batch broadcast picks (the jaccard-cross lesson); only
    * the incoming side exchanges. Same pigeonhole-losslessness as
    * [[phashPairs]]: radius ≤ 3 over 4×16-bit bands.
    * Output: (id_a = incoming, id_b = corpus, hamming).
    */
  def phashCrossPairs(incoming: DataFrame, corpus: DataFrame,
      idCol: String, mediaCol: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"phashCrossPairs: maxHamming($maxHamming) must be in [0, 3] — 4 " +
        "bands of 16 bits are pigeonhole-lossless only up to hamming 3")
    require(!corpus.isStreaming,
      "DEDUP_PHASH_CROSS: the corpus side must be a BOUNDED relation " +
        "(its banded hash index is built once and frozen) — declare it " +
        "with 'source.bounded' = 'true' or a batch connector")
    val s = corpus.sparkSession
    def shaped(df: DataFrame): DataFrame =
      df.select(col(idCol).cast("long").as("id"), col(mediaCol).as("media"))
    val idx = StaticIndexCache.getOrBuild[DataFrame](
      StaticIndexCache.corpusKey(s, corpus, "phash_cross_idx",
        idCol, mediaCol)) {
      val dir = StaticIndexCache.newTmpDir("graft_phash_idx")
      graft.multimodal.MediaOps.dhashFeatures(shaped(corpus))
        .select(col("id").as("idb"), col("hash_hi").as("hib"),
          col("hash_lo").as("lob"),
          posexplode(phashBandKeys(col("hash_hi"), col("hash_lo")))
            .as(Seq("band", "bkey")))
        .write.parquet(s"$dir/idx")
      s.read.parquet(s"$dir/idx")
        .repartition(col("band"), col("bkey"))
        .sortWithinPartitions(col("band"), col("bkey"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val inc = graft.multimodal.MediaOps.dhashFeatures(shaped(incoming))
      .select(col("id").as("ida"), col("hash_hi").as("hia"),
        col("hash_lo").as("loa"),
        posexplode(phashBandKeys(col("hash_hi"), col("hash_lo")))
          .as(Seq("band", "bkey")))
    val xHi = col("hia").bitwiseXOR(col("hib"))
    val xLo = col("loa").bitwiseXOR(col("lob"))
    inc.join(idx.hint("merge"), Seq("band", "bkey"))
      .filter(col("band") === phashFirstSharedBand(xHi, xLo))
      .select(col("ida").as("id_a"), col("idb").as("id_b"),
        (bit_count(xHi) + bit_count(xLo)).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over undirected (ida, idb) pairs via min-label
    * propagation iterated to convergence — the "keep one doc per
    * duplicate cluster" operator. Each round is one shuffle join; rounds
    * ≈ component diameter (tiny for real dup clusters). Labels only
    * decrease, so the label sum strictly decreases iff any label changed
    * — one cheap action per round instead of a fixed iteration count,
    * correct for any component diameter.
    *
    * Lineage MUST be truncated each round — without it the plan re-embeds
    * the whole upstream pipeline per iteration and planning goes
    * exponential (measured: 570 s → ~3 s at sf0.01). `reliable = false`
    * (default) uses `localCheckpoint()` (executor-local blocks — right
    * for local/test runs, no checkpoint dir needed); `reliable = true`
    * uses `checkpoint()` against `SparkContext.setCheckpointDir` — the
    * cluster-mode setting, surviving executor loss over a long iterative
    * job. Output: (doc_id, cluster = min doc_id of the component,
    * is_keeper).
    */
  def connectedComponents(pairs0: DataFrame,
      reliable: Boolean = false): DataFrame = {
    val s = pairs0.sparkSession
    import s.implicits._
    if (reliable) require(s.sparkContext.getCheckpointDir.isDefined,
      "reliable=true needs SparkContext.setCheckpointDir (HDFS-quality " +
        "storage on a real cluster)")
    def truncate(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    val pairs = pairs0.toDF("ida", "idb")
    // pre-partitioned on the per-round join key BEFORE the checkpoint
    // (checkpoint preserves outputPartitioning): the edge side of every
    // label-propagation round's join — the graph-sized side — stops
    // re-shuffling; only the label vector exchanges per round
    val edges = truncate(
      pairs.union(pairs.select($"idb", $"ida")).toDF("en", "em")
        .repartition($"em"))
    var labels = truncate(edges.select($"en".as("node")).distinct()
      .withColumn("lab", $"node"))
    // coalesce: sum over an EMPTY labels frame (corpus with no near-dup
    // pairs) is NULL, and getLong on NULL throws
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum($"lab"), lit(0L))).head.getLong(0)
    var prevSum = labelSum(labels)
    var converged = labels.isEmpty
    while (!converged) {
      val nb = edges.join(labels, $"em" === $"node")
        .groupBy($"en").agg(min($"lab").as("nbl"))
      labels = truncate(labels.join(nb, $"node" === $"en", "left")
        .select($"node",
          least($"lab", coalesce($"nbl", $"lab")).as("lab")))
      val s2 = labelSum(labels)
      converged = s2 == prevSum
      prevSum = s2
    }
    labels.select($"node".as("doc_id"), $"lab".as("cluster"),
      ($"node" === $"lab").as("is_keeper"))
  }

  /** Prefix-filtered EXACT threshold Jaccard self-join (the core of
    * q_dedup_ppjoin; theta = num/den, default 3/5 = 0.6). Input: one row
    * per doc, (doc_id BIGINT, ss ARRAY<STRING> element-distinct).
    * Output: (ida, idb, jacc) for every pair with Jaccard >= theta —
    * identical to the O(n²) cross join, candidate generation provably
    * complete (see q_dedup_ppjoin's notes), verification exact.
    * All filter thresholds use integer arithmetic in num/den form so no
    * float boundary can disagree with the verify stage.
    */
  private[graft] def jaccardJoin(sets0: DataFrame, num: Int = 3,
      den: Int = 5): DataFrame = {
    import sets0.sparkSession.implicits._
    require(num > 0 && den > num, s"theta=num/den must be in (0,1)")
    // freeze the shingle relation per corpus version: it is referenced
    // by the df count, the rank window AND both verify sides — without
    // a cut Catalyst re-tokenizes the corpus per reference (measured
    // r18: 12 scans / 10 shingle passes / 30 exchanges in one plan).
    // r18 cut it with a per-invocation Par.pin (localCheckpoint); r19
    // promotes it to the session-lifetime StaticIndexCache the other
    // frozen indexes use (content-fingerprint-keyed, first build paid
    // in-process), so repeated probes over one corpus version rebuild
    // the shingle relation ZERO times instead of once per invocation —
    // the in-session analogue of materializing the PPJoin prefix
    // index, which is the production shape.
    val sets = frozenSets(sets0)
    val toks = sets.select($"doc_id", size($"ss").as("sz"),
      explode($"ss").as("tok"))
    val dfc = toks.groupBy($"tok").agg(count(lit(1)).as("df"))
    // rank each doc's tokens rarest-first (ties broken by the token
    // itself — ANY consistent total order works, it only has to be
    // the SAME order for every doc)
    val ranked = toks.join(dfc, "tok")
      .withColumn("pos", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"df", $"tok")) - 1)
    // prefix length p = sz - ceil(num·sz/den) + 1; ceil(num·sz/den) =
    // floor((num·sz + den-1)/den), exact in double far past any real
    // set size
    val prefix = ranked
      .filter($"pos" <
        $"sz" - floor(($"sz" * num + (den - 1)) / den) + 1)
      .select($"doc_id", $"sz", $"pos", $"tok")
    val a = prefix.select($"doc_id".as("ida"), $"sz".as("sza"),
      $"pos".as("pa"), $"tok")
    val b = prefix.select($"doc_id".as("idb"), $"sz".as("szb"),
      $"pos".as("pb"), $"tok")
    // minimum required overlap alpha = ceil(num·(sza+szb)/(num+den))
    val alpha = floor(
      (($"sza" + $"szb") * num + (num + den - 1)) / (num + den))
    // Candidate cut: aggregate ALL shared prefix tokens per pair (the
    // group agg replaces a distinct — same shuffle, more information)
    // and bound the total overlap by c + min(suffix remainders past the
    // LAST shared prefix token). Validity: a common token t NOT counted
    // in c lies beyond one side's prefix; any shared-in-both-prefixes
    // token AFTER t (global order) would have to sit beyond that prefix
    // too — contradiction — so ALL of c's tokens precede t on both
    // sides, i.e. every uncounted common token is past (pam, pbm).
    // This subsumes the classic single-token positional filter (equal
    // when c = 1, strictly tighter when c > 1) and cut the verify-stage
    // candidate volume ~270:1 → small enough to broadcast, which is
    // what keeps the corpus-side arrays from ever shuffling (measured
    // sf10: verify 221 s → single-digit, r16).
    // NOTE: no per-row positional pre-filter before the agg — dropping
    // shared-token rows would undercount c and break the bound.
    val cand = a.join(b, Seq("tok"))
      .where($"ida" < $"idb" &&
        $"szb" * den >= $"sza" * num && $"sza" * den >= $"szb" * num)
      .groupBy($"ida", $"idb", $"sza", $"szb")
      .agg(count(lit(1)).as("c"),
        max($"pa").as("pam"), max($"pb").as("pbm"))
      .where($"c" +
        least($"sza" - 1 - $"pam", $"szb" - 1 - $"pbm") >= alpha)
      .select($"ida", $"idb")
    val theta = num.toDouble / den
    cand
      .join(sets.select($"doc_id".as("ida"), $"ss".as("ssa")), "ida")
      .join(sets.select($"doc_id".as("idb"), $"ss".as("ssb")), "idb")
      .select($"ida", $"idb",
        graft.functions.GraftFunctions.jaccardDistinct($"ssa", $"ssb")
          .as("jacc"))
      .filter($"jacc" >= theta)
  }

  /** Cross-corpus EXACT threshold Jaccard join (incoming shard vs
    * corpus; theta = num/den): prefix filtering with the CORPUS's
    * global token-frequency order on both sides (incoming tokens
    * absent from the corpus rank df = 0 — consistently rarest, and
    * harmless: they can't match anything). Same group-level
    * `c + min(suffix remainders) >= alpha` cut as [[jaccardJoin]],
    * then exact verification. Output: every (ida ∈ incoming,
    * idb ∈ corpus) pair with Jaccard >= theta.
    */
  private[graft] def jaccardJoinCrossSets(aSets0: DataFrame,
      bSets0: DataFrame, num: Int = 3, den: Int = 5): DataFrame = {
    import aSets0.sparkSession.implicits._
    require(num > 0 && den > num, s"theta=num/den must be in (0,1)")
    // freeze both shingle relations (see jaccardJoin — each side is
    // referenced by its prefix pipeline AND its verify join; the two
    // sides key separately on their own plans/fingerprints)
    val aSets = frozenSets(aSets0)
    val bSets = frozenSets(bSets0)
    def toks(sets: DataFrame) = sets.select($"doc_id",
      size($"ss").as("sz"), explode($"ss").as("tok"))
    def prefixLen = $"sz" - floor(($"sz" * num + (den - 1)) / den) + 1
    val btoks = toks(bSets)
    val dfc = btoks.groupBy($"tok").agg(count(lit(1)).as("df"))
    val bPrefix = btoks.join(dfc, "tok")
      .withColumn("pos", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"df", $"tok")) - 1)
      .filter($"pos" < prefixLen)
      .select($"doc_id".as("idb"), $"sz".as("szb"), $"pos".as("pb"),
        $"tok")
    val aPrefix = toks(aSets).join(dfc, Seq("tok"), "left")
      .na.fill(0L, Seq("df"))
      .withColumn("pos", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"df", $"tok")) - 1)
      .filter($"pos" < prefixLen)
      .select($"doc_id".as("ida"), $"sz".as("sza"), $"pos".as("pa"),
        $"tok")
    val alpha = floor(
      (($"sza" + $"szb") * num + (num + den - 1)) / (num + den))
    val cand = aPrefix.join(bPrefix, Seq("tok"))
      .where($"szb" * den >= $"sza" * num && $"sza" * den >= $"szb" * num)
      .groupBy($"ida", $"idb", $"sza", $"szb")
      .agg(count(lit(1)).as("c"),
        max($"pa").as("pam"), max($"pb").as("pbm"))
      .where($"c" +
        least($"sza" - 1 - $"pam", $"szb" - 1 - $"pbm") >= alpha)
      .select($"ida", $"idb")
    val theta = num.toDouble / den
    cand
      .join(aSets.select($"doc_id".as("ida"), $"ss".as("ssa")), "ida")
      .join(bSets.select($"doc_id".as("idb"), $"ss".as("ssb")), "idb")
      .select($"ida", $"idb",
        graft.functions.GraftFunctions.jaccardDistinct($"ssa", $"ssb")
          .as("jacc"))
      .filter($"jacc" >= theta)
  }

  /** (id, text) convenience wrapper over [[jaccardJoinCrossSets]] with
    * the q_dedup_ppjoin shingling contract (word n-grams, distinct).
    */
  private[graft] def jaccardJoinCross(incoming: DataFrame,
      corpus: DataFrame, idCol: String, textCol: String,
      num: Int = 3, den: Int = 5, shingleN: Int = 3): DataFrame =
    jaccardJoinCrossSets(jaccardSets(incoming, idCol, textCol, shingleN),
      jaccardSets(corpus, idCol, textCol, shingleN), num, den)

  /** Freeze a BOUNDED shingle-set relation per corpus version
    * (StaticIndexCache: keyed on the session, the relation's
    * canonicalized plan and a SHA-256 of its backing files — a
    * same-path corpus refresh evicts and rebuilds). The artifact is a
    * tmp-parquet materialization persisted MEMORY_AND_DISK: every
    * reference in the enclosing plan reads the frozen rows instead of
    * re-running tokenize+shingle, and — unlike the r18 Par.pin — the
    * build happens once per corpus VERSION, not once per invocation.
    * Callers must pass bounded relations only (the streaming probe
    * path builds its own frozen prefix index).
    */
  private def frozenSets(sets0: DataFrame): DataFrame = {
    val s = sets0.sparkSession
    StaticIndexCache.getOrBuild[DataFrame](
      StaticIndexCache.corpusKey(s, sets0, "jaccard_sets")) {
      val dir = StaticIndexCache.newTmpDir("graft_jacc_sets")
      sets0.write.parquet(s"$dir/sets")
      s.read.parquet(s"$dir/sets")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }

  /** ExactSubstr gram relation shared by the measure and apply kernels
    * (Lee et al. 2021): one row per (doc, 10-gram position), gram as a
    * 60-bit hash (longs on the wire, not strings).
    */
  private def substrGrams(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    graft.Par.spread(docs.select($"doc_id", $"text"))
      .select($"doc_id", words($"text").as("w"))
      .filter(size($"w") >= 10)
      .select($"doc_id", posexplode(shingles($"w", 10)))
      .select($"doc_id", $"pos", tokenHash($"col").as("h"))
  }

  /** Distribute the per-gram distinct-doc count over a collapsed
    * (doc, gram-hash) relation — the shared tail of both ExactSubstr
    * kernels. `perDoc` must be a keyed AGGREGATE over (doc_id, h):
    * in CAPPED mode its two references (the count side and the join
    * side) are bit-identical subtrees whose (doc_id, h) exchange AQE
    * reuses at runtime — the corpus is tokenized/shingled ONCE, the
    * r18 lesson from BM25's stats relation.
    *
    * Default (cap OFF): r18's `count(*) OVER (PARTITION BY h)` — one
    * exchange, no join, the cheapest exact shape (a count + join-back
    * variant was measured at sf0.1: 0.74 → 1.34 s, the extra
    * aggregation pass + broadcast costing more than the window — kept
    * as the CAPPED shape only, where it earns its keep). The window's
    * per-group frame buffer holds a hot gram's whole group in one
    * task, so a corpus-wide boilerplate gram makes a straggler (r18
    * VERDICT "What's wrong #4") — that is what the knob escapes.
    *
    * `dfCap` (stop-gram escape hatch, default OFF = exact): per-gram
    * doc counts come from a map-side-combined groupBy (each partition
    * reduces to one (h, count) pair before the exchange — no frame
    * buffer anywhere), grams in more than `cap` distinct docs are
    * dropped BEFORE the h-exchange via a broadcast anti-join on the
    * (small, stop-grade) hot-gram list, and the surviving rows join
    * the counts back streaming against 1-row build groups — the
    * straggler disappears at the exchange, not after it. Semantics
    * knob: capped grams leave both counts (measure) / the removal set
    * (apply); a doc consisting ONLY of capped grams drops out of the
    * measure. Default stays uncapped — exact semantics unless the
    * caller opts in (same discipline as bm25's dfCap / minhash's
    * maxBucket).
    */
  private def withGramDocCounts(perDoc: DataFrame,
      dfCap: Option[Long]): DataFrame = {
    import perDoc.sparkSession.implicits._
    dfCap match {
      case Some(cap) =>
        require(cap >= 2, s"ExactSubstr: df cap must be >= 2, got $cap")
        val nd = perDoc.groupBy($"h").agg(count(lit(1)).as("n_docs"))
        val hot = broadcast(nd.filter($"n_docs" > cap).select($"h"))
        // merge hint on the count join-back: nd is vocabulary-sized, and
        // AQE's size estimate otherwise broadcasts it (measured sf1: a
        // ~4M-row broadcast build cost more than the whole uncapped
        // query; at 100 TB it is the §3.1 OOM class)
        perDoc.join(hot, Seq("h"), "left_anti")
          .join(nd.hint("merge"), "h")
      case None => perDoc.withColumn("n_docs",
        count(lit(1)).over(Window.partitionBy($"h")))
    }
  }

  /** ExactSubstr duplication MEASURE (q_dedup_substr kernel): per doc,
    * total 10-gram positions, positions whose gram occurs in >= 2 docs,
    * and their ratio. See [[withGramDocCounts]] for the shape and the
    * `dfCap` stop-gram knob (default OFF = exact).
    */
  private[graft] def substrDupStats(docs: DataFrame,
      dfCap: Option[Long] = None): DataFrame = {
    import docs.sparkSession.implicits._
    val perDoc = substrGrams(docs).groupBy($"doc_id", $"h")
      .agg(count(lit(1)).as("c"))
    withGramDocCounts(perDoc, dfCap)
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_grams"),
        sum(when($"n_docs" >= 2, $"c").otherwise(0L)).as("n_dup"))
      .withColumn("dup_ratio", $"n_dup".cast("double") / $"n_grams")
  }

  /** ExactSubstr REMOVAL start-lists (q_dedup_substr_apply kernel):
    * per doc, the flattened positions of every 10-gram occurring in
    * >= 2 distinct docs. Same shape/knob as [[substrDupStats]];
    * `starts` order is consumed only by order-independent exists().
    */
  private[graft] def substrDupStarts(docs: DataFrame,
      dfCap: Option[Long] = None): DataFrame = {
    import docs.sparkSession.implicits._
    val perDocH = substrGrams(docs).groupBy($"doc_id", $"h")
      .agg(collect_list($"pos").as("ps"))
    withGramDocCounts(perDocH, dfCap)
      .filter($"n_docs" >= 2)
      .groupBy($"doc_id")
      .agg(flatten(collect_list($"ps")).as("starts"))
  }

  /** Shared shingling: (id, text) → (doc_id, ss element-distinct). */
  private[graft] def jaccardSets(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // spread the raw rows BEFORE shingling (§2.5); spreadAny also
    // covers the STREAMING incoming side of the cross kernels, whose
    // one-partition micro-batches would shingle single-core
    graft.Par.spreadAny(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")))
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= shingleN)
      .select(col("doc_id"),
        array_distinct(shingles(col("w"), shingleN)).as("ss"))
  }

  /** STREAMING cross-corpus exact Jaccard join: incoming streams, the
    * corpus is FROZEN into a once-built prefix index (the
    * [[minhashCrossPairsStream]] cadence — crawl shards arriving
    * against yesterday's corpus).
    *
    * Streaming shape: everything per-row is STATELESS. Both sides use
    * the CONTENT (token-ascending) global order — unlike the batch
    * kernel's rarest-first df order, a content order is computable
    * row-locally on a streaming row (array_sort, no corpus-df rank) —
    * so the incoming side explodes only its PREFIX
    * (|ss| − ceil(theta·|ss|) + 1 tokens), not its full shingle set.
    * Completeness is the standard both-sides prefix-filter bound
    * (Bayardo et al. 2007): under ANY shared total token order, a
    * pair with overlap ≥ alpha must share a token inside both
    * prefixes. Each exploded row carries the doc's full set for the
    * exact verify, so the wire payload is O(|prefix|·|ss|) per doc
    * instead of the pre-r18 O(|ss|²) — the doc-length escape hatch
    * (at theta=3/5 the prefix is ~2/5 of the set; the stressed
    * ×10-doc-length cell measures the drop). The trade: a content
    * order has no rarest-first selectivity, so candidate counts can
    * exceed the batch kernel's — candidates are still exactly
    * verified, and on long documents payload dominates candidates.
    *
    * Joins stream-static against the frozen (tok, idb, pb, szb)
    * prefix index, dedups pairs ROW-LOCALLY (keep the row whose token
    * is the FIRST of the corpus doc's ordered prefix present in the
    * incoming PREFIX — both arrays ride the row), applies the
    * positional cut `min(sza, szb − pbFirst) >= alpha` anchored on
    * the first corpus-prefix token present in the incoming FULL set
    * (valid: every common token sits at or past it in the corpus
    * doc's order; the dedup token can't anchor the cut — a common
    * token outside the incoming prefix may precede it), and verifies
    * exactly. No streaming aggregation, no state store — one output
    * row per qualifying pair per micro-batch, bit-equal to the batch
    * kernel on the same rows.
    */
  def jaccardJoinCrossStream(incoming: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, num: Int = 3, den: Int = 5,
      shingleN: Int = 3): DataFrame = {
    require(incoming.isStreaming,
      "jaccardJoinCrossStream needs a streaming incoming side — use " +
        "jaccardJoinCross for batch-vs-batch")
    require(!corpus.isStreaming,
      "DEDUP_JACCARD_CROSS: the corpus side must be a BOUNDED relation " +
        "(its prefix index is built once and frozen) — declare it with " +
        "'source.bounded' = 'true' or a batch connector")
    val s = corpus.sparkSession
    graft.functions.GraftFunctions.register(s)

    // --- frozen corpus prefix index (StaticIndexCache: build once per
    // corpus version, reuse across gate invocations). Content order:
    // the prefix is a slice of the token-sorted set — no corpus-df
    // rank, no window; the same order the incoming side can compute
    // row-locally (the cache key carries the r18 order marker so a
    // warm pre-r18 df-ordered index can never serve this plan) ---
    val prefixLenOf = (sz: Column) =>
      sz - floor((sz * num + (den - 1)) / den) + 1
    val (meta, idx) = StaticIndexCache.getOrBuild[(DataFrame, DataFrame)](
      StaticIndexCache.corpusKey(s, corpus, "jaccard_cross_idx_tokorder",
        idCol, textCol, num, den, shingleN)) {
      val dir = StaticIndexCache.newTmpDir("graft_ppj_idx")
      val sets = jaccardSets(corpus, idCol, textCol, shingleN)
      // meta carries BOTH the full set (exact verify) and the ORDERED
      // prefix array (row-local first-shared-token pair dedup)
      sets.select(col("doc_id").as("idb"), size(col("ss")).as("szb"),
          array_sort(col("ss")).as("sb"))
        .withColumn("pb_arr",
          slice(col("sb"), lit(1), prefixLenOf(col("szb")).cast("int")))
        .write.parquet(s"$dir/meta")
      val m = s.read.parquet(s"$dir/meta")
        .repartition(col("idb")).sortWithinPartitions(col("idb"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      m.select(col("idb"), col("szb"),
          posexplode(col("pb_arr")).as(Seq("pb", "tok")))
        .write.parquet(s"$dir/idx")
      val i = s.read.parquet(s"$dir/idx")
        .repartition(col("tok")).sortWithinPartitions(col("tok"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (m, i)
    }

    val inc = jaccardSets(incoming, idCol, textCol, shingleN)
      .select(col("doc_id").as("ida"), array_sort(col("ss")).as("sa"),
        size(col("ss")).as("sza"))
    val alpha = floor(
      ((col("sza") + col("szb")) * num + (num + den - 1)) / (num + den))
    val theta = num.toDouble / den
    val plenA = prefixLenOf(col("sza"))
    // first corpus-prefix token present in the incoming FULL set — the
    // positional-cut anchor (every common token sits at or past it in
    // the corpus doc's order). Fused native probe ([[FirstCommonPos]]):
    // the higher-order filter() formulation is interpreted and
    // O(|pb_arr|·|sa|) PER CANDIDATE ROW, which at stressed ×10 doc
    // length turned the long-doc cell into a 540 s+ hang.
    val pbCut = graft.functions.GraftFunctions.firstCommonPos(
      col("sa"), col("pb_arr")) - 1
    // merge hints: each exploded stream row carries the doc's full
    // shingle array (the row-local design), so the per-micro-batch
    // planner must NEVER pick that side for a broadcast (measured at
    // sf10: a 12.1 GiB broadcast attempt). The static sides are
    // persisted pre-partitioned+sorted on their join keys, so the
    // sort-merge join exchanges ONLY the stream side.
    inc.select(col("ida"), col("sa"), col("sza"),
        // the doc-length escape hatch: explode the PREFIX slice only —
        // |prefix| rows each carrying the |ss| verify array, instead
        // of |ss| rows (O(|prefix|·|ss|) wire payload, not O(|ss|²))
        explode(slice(col("sa"), lit(1), plenA.cast("int"))).as("tok"))
      .join(idx.hint("merge"), Seq("tok"))
      .where(col("szb") * den >= col("sza") * num &&
        col("sza") * den >= col("szb") * num)
      .join(meta.hint("merge"), Seq("idb", "szb"))
      // row-local pair dedup: survive only on the FIRST corpus-prefix
      // token inside the incoming PREFIX (the exploded tokens — a
      // full-set anchor here would pick a token no exploded row has
      // and drop the pair; both-prefix completeness guarantees the
      // intersection is non-empty for every qualifying pair). Same
      // fused probe, limited to the incoming prefix slice of sa.
      .filter(col("tok") === element_at(col("pb_arr"),
        graft.functions.GraftFunctions.firstCommonPos(
          col("sa"), col("pb_arr"), plenA)))
      // positional cut anchored on the FULL-set first shared token
      .where(least(col("sza"), col("szb") - pbCut) >= alpha)
      .select(col("ida"), col("idb"),
        graft.functions.GraftFunctions.jaccardDistinct(col("sa"), col("sb"))
          .as("jacc"))
      .filter(col("jacc") >= theta)
  }

  /** Word n-gram shingles via the fused native expression — same output
    * as the DuckDB 1-based comprehension mirror, but one codegen'd loop
    * per row instead of an interpreted transform(sequence(...)) lambda
    * on the corpus-scan hot path.
    */
  private def shingles(w: Column, n: Int): Column =
    graft.functions.GraftFunctions.wordNgrams(w, n)

  /** 60-bit token hash: first 15 hex chars of md5, identical to the
    * oracle's strpos/shift decode. 60 bits keeps it inside a signed long.
    */
  private def tokenHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Second independent 60-bit token hash: md5 hex chars 16-30. Together
    * with [[tokenHash]] this yields 120 bits of signature material for
    * the widened SimHash blocking (md5's 32 hex chars supply both limbs
    * from ONE digest — Catalyst subexpression elimination computes md5
    * once per token).
    */
  private def tokenHash2(c: Column): Column =
    conv(substring(md5(c), 16, 15), 16, 10).cast("long")

  /** Third independent 60-bit limb for SimHash widths past 30: one md5
    * digest only has 32 hex chars, so the limb salts the token ('g3' ||
    * t) and digests again. Only computed when 4*chunkWidth > 120 —
    * corpora under ~2^26 docs never pay the second digest.
    */
  private def tokenHash3(c: Column): Column =
    conv(substring(md5(concat(lit("g3"), c)), 1, 15), 16, 10).cast("long")

  import Vec.{quant, dotQ}

  private val MinhashK = 16 // 4 bands × 4 rows
  private val Bands = 4
  private val RowsPerBand = 4
  /** Default hot-bucket cap: far above any real duplicate-group size in
    * the synthetic corpora (a provable no-op for the oracle gate, whose
    * DuckDB mirror has no cap) yet it bounds a degenerate bucket's pair
    * expansion to ~12.5M pairs in one task. Production corpora with
    * boilerplate should tune this down to the largest dup group worth
    * keeping.
    */
  private[queries] val MaxBandBucket = 5000
  /** Affine minhash family over one md5-derived code: h_j(x) = (a_j*x +
    * b_j) mod P with P = 2^31-1 and x < P, so a_j*x < 2^62 never
    * overflows int64 in either engine. One md5 per shingle instead of K.
    */
  private val P = 2147483647L
  private def hashA(j: Int): Long =
    (((2L * j + 1) * 1103515245L + 12345L) % P + P) % P max 1L
  private def hashB(j: Int): Long =
    ((j * 2654435761L + 1013904223L) % P + P) % P
  private val HashA: Seq[Long] = (0 until MinhashK).map(hashA)
  private val HashB: Seq[Long] = (0 until MinhashK).map(hashB)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: one survivor (min doc_id) per identical text, by md5.
    // At scale this is a single hash aggregation on the digest — the
    // canonical first pass of every dedup pipeline.
    "q_dedup_exact" -> ((s, dir) =>
      exactGroups(Tables.load(s, dir, "documents"), "doc_id", "text")),

    // Incremental dedup against an already-ingested corpus, bloom-
    // prefiltered: a Bloom filter built over the reference slice's text
    // digests is broadcast, and only rows the filter says MIGHT be seen
    // pay the exact anti-join shuffle — the rest (the overwhelming
    // majority on a real append-ingest) take the no-shuffle fast path.
    // The final result is EXACT regardless of false positives, because
    // every bloom hit is re-verified by the anti-join; the filter only
    // prunes the join input. The flagged projection (doc_id, digest,
    // maybe — ~50 B/row) is persisted so the two-branch union costs one
    // corpus scan, not two (same pattern as q_pack_sequences).
    //
    // The mightContain probe is the native codegen'd
    // [[graft.functions.BloomMightContain]] expression over the
    // broadcast sketch (Spark's own BloomFilterMightContain is internal
    // to runtime filtering and not constructible from user code; a
    // literal-embedded filter would bloat the plan) — the probe stays
    // inside whole-stage codegen instead of crossing a UDF boundary per
    // row, with byte-identical hashing to the driver-side
    // mightContain(string) path. At 100 TB with ~10^10 reference keys
    // the driver-held filter reaches tens of GB at 1% fpp: shard the
    // reference by digest prefix and run one pass per shard-group, or
    // relax fpp — the verify join keeps the result exact either way.
    "q_dedup_bloom" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val oldKeys = docs.filter($"doc_id" % 10 < 2)
        .select(md5($"text").as("h"))
      // the count and the sketch build are the same one scan of the
      // reference slice's digest projection, run twice — control-plane
      // cost next to the corpus scan the query exists to protect
      val nOld = math.max(oldKeys.count(), 1L)
      val bloom = oldKeys.stat.bloomFilter("h", nOld, 0.01)
      val bloomB = s.sparkContext.broadcast(bloom)
      val flagged = docs.filter($"doc_id" % 10 >= 2)
        .select($"doc_id", md5($"text").as("h"))
        .withColumn("maybe",
          graft.functions.BloomMightContain($"h", bloomB))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      flagged.filter(!$"maybe").select($"doc_id", $"h")
        .unionByName(flagged.filter($"maybe")
          .join(oldKeys, Seq("h"), "left_anti")
          .select($"doc_id", $"h"))
    }),

    // Keyed keep-first dedup (dropDuplicates with a deterministic keep
    // policy): first event per (user_id, event_type) by (ts, event_id).
    "q_dedup_keyed" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ts", $"event_id")
      Tables.load(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_type", $"event_id",
          date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("first_ts"))
    }),

    // MinHash + LSH near-dup detection on word-3-gram shingles.
    // Pipeline: shingle → K minhashes (min md5 per seed, map-side
    // combined) → band keys → self-join per band (the ONLY shuffle that
    // scales with corpus size, keyed by band signature) → exact Jaccard
    // verification of candidates only. K=16, 4 bands × 4 rows targets
    // the j≥0.8 regime.
    "q_dedup_minhash" -> ((s, dir) => minhashPairs(s, dir)),

    // Near-dup CLUSTERS: connected components over the verified LSH
    // pairs via min-label propagation iterated to convergence — the
    // "keep one doc per duplicate cluster" output. At 100 TB each round
    // is one shuffle join; rounds ≈ component diameter (tiny for real
    // dup clusters). Oracle: DuckDB recursive CTE closure.
    "q_dedup_cluster" -> ((s, dir) => {
      import s.implicits._
      connectedComponents(minhashPairs(s, dir).select($"ida", $"idb"))
    }),

    // Incremental cross-corpus dedup: the incoming shard (doc_id%10>=8)
    // near-dup-checked against the frozen corpus (doc_id%10<8) — band
    // keys joined BETWEEN sides, never corpus×corpus. Oracle
    // brute-forces the same split.
    "q_dedup_cross" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      minhashCrossPairs(
        docs.filter(col("doc_id") % 10 >= 8),
        docs.filter(col("doc_id") % 10 < 8),
        "doc_id", "text")
    }),

    // Cross-corpus EXACT threshold Jaccard join — the incoming-shard-
    // vs-frozen-corpus cadence with exact semantics: prefix filtering
    // under the CORPUS's token-frequency order on both sides (see
    // jaccardJoinCrossSets). The exact counterpart of q_dedup_cross's
    // MinHash screen; same shard split.
    "q_dedup_jaccard_cross" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      jaccardJoinCross(
        docs.filter(col("doc_id") % 10 >= 8),
        docs.filter(col("doc_id") % 10 < 8),
        "doc_id", "text")
    }),

    // SimHash near-dup detection with corpus-sized chunk blocking: the
    // signature is 4w bits wide with w = ceil(log2 n) + 4 (see
    // simhashChunkWidth), so the 4 chunk-key spaces GROW with the corpus
    // and bucket population stays O(1) — pigeonhole (hamming≤3 ⇒ ≥1
    // chunk equal, for ANY w) keeps the blocking LOSSLESS, and the
    // oracle brute-forces hamming over the same 4w bits and must agree
    // exactly. The count() that sizes w is parquet-metadata-cheap.
    "q_dedup_simhash" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      simhashVerifiedPairs(docs, "doc_id", "text",
        simhashChunkWidth(docs.count()))
    }),

    // Exact word-bigram Jaccard over a bounded block — the brute-force
    // baseline the LSH paths approximate. Explicitly bounded (doc_id <
    // 300) because all-pairs does NOT scale; at 100 TB this runs only
    // within small blocking groups.
    "q_dedup_ngram" -> ((s, dir) => {
      import s.implicits._
      Vec.ensureRegistered(s)
      val sets = Tables.load(s, dir, "documents")
        .filter($"doc_id" < 300)
        .select($"doc_id", words($"text").as("w"))
        .filter(size($"w") >= 2)
        .select($"doc_id", array_distinct(shingles($"w", 2)).as("ss"))
      sets.as("a").join(sets.as("b"), $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("ida"), $"b.doc_id".as("idb"),
          graft.functions.GraftFunctions.jaccardDistinct($"a.ss", $"b.ss")
            .as("jacc"))
        .filter($"jacc" >= 0.6)
    }),

    // EXACT threshold Jaccard self-join WITHOUT the quadratic stage: the
    // prefix-filtering set-similarity join (Bayardo et al. 2007 "Scaling
    // Up All Pairs Similarity Search"; Xiao et al. 2008 PPJoin). Same
    // semantics as q_dedup_ngram's cross join — every pair with
    // Jaccard >= 0.6 over the distinct shingle sets, verified exactly —
    // but UNBOUNDED: no doc_id guard, the whole corpus participates.
    // Shingles are 3 words (the minhash family's tokenization): prefix
    // selectivity is a property of the tokens, and on this corpus's
    // 31-word vocabulary 2-word shingles are common BY CONSTRUCTION
    // (measured 35× candidate blowup — SCALE.md r16), which is a data
    // regime for MinHash-LSH, not for an exact prefix join.
    //
    // Why it scales where the cross join can't: Jaccard(x,y) >= t
    // implies |x∩y| >= t/(1+t)·(|x|+|y|), so after ordering every doc's
    // shingles by ascending global document frequency (rarest first), two
    // qualifying docs MUST share a token among their first
    // |s| - ceil(t·|s|) + 1 tokens (the prefix). Joining only prefix
    // tokens — the RAREST slice of each doc — keeps per-token join
    // groups small by construction; the frequent shingles (the skew
    // risk: boilerplate) are exactly the ones excluded from prefixes.
    // Candidates are then cut further by the size filter
    // (t·|x| <= |y| <= |x|/t) and PPJoin's positional filter (for the
    // first shared token at positions i,j the true overlap is at most
    // min(|x|-i, |y|-j)) before the exact verify touches full arrays.
    // All thresholds use integer arithmetic (t = 3/5: 5·|y| >= 3·|x|,
    // alpha = ceil(3(|x|+|y|)/8) = (3(|x|+|y|)+7) div 8) so no float
    // boundary can disagree between candidate and verify stages.
    //
    // Scale (100 TB): three keyed shuffles — df counts by token, a
    // window by doc_id for rank-ordering, the candidate join by prefix
    // token — all map-side combinable or AQE-skew-splittable; the
    // verify join moves only candidate pairs. The cross-join baseline
    // above stays in-tree as this operator's oracle twin at spec scale.
    "q_dedup_ppjoin" -> ((s, dir) => {
      import s.implicits._
      Vec.ensureRegistered(s)
      val sets = jaccardSets(Tables.load(s, dir, "documents"),
        "doc_id", "text", 3)
      jaccardJoin(sets)
    }),

    // Benchmark decontamination: flag training documents sharing any
    // word-8-gram with a held-out benchmark subset (doc_id % 10 == 0
    // plays the benchmark here) and count the overlapping grams — the
    // contamination check every training pipeline runs before a data
    // release. One shuffle keyed by the gram; at 100 TB the (small)
    // benchmark gram set is the natural broadcast side.
    "q_decontaminate" -> ((s, dir) => {
      import s.implicits._
      Vec.ensureRegistered(s)
      val grams = graft.Par.spread(
        Tables.load(s, dir, "documents").select($"doc_id", $"text"))
        .select($"doc_id", words($"text").as("w"))
        .filter(size($"w") >= 8)
        .select($"doc_id",
          explode(array_distinct(shingles($"w", 8))).as("g"))
      val bench = grams.filter($"doc_id" % 10 === 0)
        .select($"g").distinct()
      grams.filter($"doc_id" % 10 =!= 0)
        .join(broadcast(bench), "g")
        .groupBy($"doc_id")
        .agg(countDistinct($"g").as("n_overlap"))
    }),

    // Exact-substring duplication (the ExactSubstr measure of Lee et al.
    // 2021, "Deduplicating Training Data Makes Language Models Better"):
    // per document, the fraction of 10-word-gram POSITIONS whose gram
    // also occurs in another document — the span-level signal used to
    // cut boilerplate runs, complementing the whole-doc (minhash) and
    // near-dup (simhash) families. Unlike the pair-based paths this is
    // O(corpus) end-to-end with NO pair expansion anywhere: positions →
    // 60-bit gram hash (longs on the wire, not strings) → one row per
    // (doc, gram) → per-gram distinct-doc count as `count(*) OVER
    // (PARTITION BY h)` (one exchange, no join; output is one row per
    // (doc, gram) by construction — a viral gram fans out linearly,
    // never m²) → per-doc count. The window holds a hot gram's whole
    // group in one task; the opt-in dfCap (see [[withGramDocCounts]])
    // is the escape, and only that capped path uses a join-back.
    "q_dedup_substr" -> ((s, dir) => {
      // ONE pass over the gram stream (r18). The per-gram doc count is
      // the default `count(*) OVER (PARTITION BY h)` window (see
      // [[substrDupStats]] / [[withGramDocCounts]]); the map-side-
      // combined groupBy + join-back is used only under the optional
      // stop-gram dfCap, which stays OFF here — exact semantics.
      Vec.ensureRegistered(s)
      substrDupStats(Tables.load(s, dir, "documents"))
    }),

    // ExactSubstr REMOVAL — the materialization step of Lee et al.
    // 2021's span-level dedup (q_dedup_substr measures it; this applies
    // it): drop every word position covered by any 10-gram whose hash
    // occurs in >= 2 distinct documents, reconstruct the surviving
    // text, and report per-doc kept/removed counts plus an md5 of the
    // cleaned text (compact, still hash-comparable). Scale: one
    // gram-hash shuffle (map-side combined countDistinct), one
    // doc-keyed start-list agg, then a NARROW per-row rewrite — the
    // in-row removal is O(words × duplicated spans in that doc), which
    // is the per-doc output size, not a corpus term.
    "q_dedup_substr_apply" -> ((s, dir) => {
      import s.implicits._
      Vec.ensureRegistered(s)
      val docs = graft.Par.spread(
        Tables.load(s, dir, "documents").select($"doc_id", $"text"))
        .select($"doc_id", words($"text").as("w"))
      // r18 collapsed this to one gram pass; the per-gram doc count is
      // the default h-window, the groupBy + join-back only under the
      // dfCap, which stays OFF here (see [[substrDupStarts]] — same
      // kernel notes as q_dedup_substr). `starts`
      // order differs from row order but is consumed only by the
      // order-independent exists() below.
      val starts = substrDupStarts(
        Tables.load(s, dir, "documents"))
      val joined = docs.join(starts, Seq("doc_id"), "left")
        .withColumn("st", coalesce($"starts", array().cast("array<int>")))
      val idx = sequence(lit(0), size($"w") - 1)
      val keep = filter(idx, p => !exists($"st", st => p >= st && p <= st + 9))
      val cleanW = transform(keep, p => element_at($"w", p + 1))
      joined
        .withColumn("cw", cleanW)
        .select($"doc_id",
          size($"cw").cast("long").as("n_kept"),
          (size($"w") - size($"cw")).cast("long").as("n_removed"),
          md5(array_join($"cw", " ")).as("clean_md5"))
    }),

    // Embedding-cosine near-dup pairs via integer-quantized vectors.
    // EXPLICITLY BOUNDED probe side (like q_dedup_ngram's doc_id guard):
    // probe rows × corpus is linear in corpus size, not quadratic — the
    // unbounded all-pairs variant grew 100× pairs per 10× corpus (15×
    // measured wall-clock at sf1). The bound is a no-op at correctness
    // scale (all sf0.01 vec_ids < 500). Corpus-scale near-dup goes
    // through the bucketed variants (q_dedup_minhash / q_ann_lsh).
    "q_dedup_embed" -> ((s, dir) => {
      import s.implicits._
      Vec.ensureRegistered(s)
      val q = Tables.load(s, dir, "embeddings")
        .select($"vec_id", quant($"embedding").as("qe"))
        .withColumn("nrm", dotQ($"qe", $"qe"))
      val probe = q.filter($"vec_id" < EmbedProbeBound)
      // broadcast the BOUNDED probe side — without the hint Spark builds
      // on the corpus side of the nested loop (unbounded at scale)
      broadcast(probe.as("a")).join(q.as("b"), $"a.vec_id" < $"b.vec_id")
        .select($"a.vec_id".as("ida"), $"b.vec_id".as("idb"),
          (dotQ($"a.qe", $"b.qe").cast("double") /
            (sqrt($"a.nrm".cast("double")) * sqrt($"b.nrm".cast("double"))))
            .as("cosine"))
        .filter($"cosine" >= 0.4)
    }),

    // Apply the dedup decisions — the materialization step every
    // pipeline ends with: drop each doc that has a LOWER-id near-dup
    // (keep-local-minimum policy over the LSH pair set), anti-join the
    // corpus against the drop list, and report what survived per
    // language. The drop list is tiny relative to the corpus (duplicate
    // ids only), so at scale the anti-join broadcasts it; the corpus is
    // scanned once and never shuffled before the final lang rollup.
    "q_dedup_apply" -> ((s, dir) => {
      import s.implicits._
      val drops = minhashPairs(s, dir)
        .select($"idb".as("doc_id")).distinct()
      Tables.load(s, dir, "documents")
        .join(broadcast(drops), Seq("doc_id"), "left_anti")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"), sum($"n_chars").as("chars_kept"))
    }),

    // Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the embedding
    // space, then look for near-duplicate pairs only WITHIN each cluster —
    // the cluster cell replaces LSH bands as the blocking key, so the
    // all-pairs cosine never leaves a cell. Centroids here are a fixed
    // deterministic slice (vec_id ∈ [200,216)); production sizes k ≈ √n
    // (Similarity.recommendedCentroids) so cells stay √n-bounded.
    //
    // Scale shape: the 16 centroid vectors are collected once (driver-side
    // control plane, k rows) and folded into a single codegen'd argmin
    // projection — cell assignment is a ZERO-shuffle map over the corpus,
    // unlike a join+window formulation which would shuffle n×k rows by
    // vec_id. The one corpus-scale shuffle is the groupBy(cell) for
    // in-cell pair expansion (same grouped-expansion pattern as the LSH
    // band join).
    "q_dedup_semantic" -> ((s, dir) => {
      import s.implicits._
      Vec.ensureRegistered(s)
      val base = Tables.load(s, dir, "embeddings")
        .select($"vec_id", quant($"embedding").as("qe"))
        .withColumn("nrm", dotQ($"qe", $"qe"))
      val assign = Vec.argminCellAssign(base, SemCentLo, SemCentN)
      val cells = assign.groupBy($"cell")
        .agg(collect_list(struct($"vec_id", $"qe", $"nrm")).as("ms"))
        .filter(size($"ms") >= 2)
      cells
        .select($"cell", explode($"ms").as("a"), $"ms")
        .select($"cell", $"a", explode($"ms").as("b"))
        .filter($"a.vec_id" < $"b.vec_id")
        .select($"cell", $"a.vec_id".as("ida"), $"b.vec_id".as("idb"),
          Vec.cosineQ($"a.qe", $"b.qe", $"a.nrm", $"b.nrm").as("cosine"))
        .filter($"cosine" >= SemTheta)
    }),

    // Cross-corpus semantic dedup: a 1-in-4 incoming slice against the
    // full embedding corpus through the frozen cell index (self-pairs
    // at cosine 1.0 are part of the contract — an exact hit IS a dup).
    "q_dedup_embed_cross" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      embedCrossPairs(emb.filter($"vec_id" % 4 === 0), emb,
        "vec_id", "embedding")
    }),

    // the PRODUCTION-sized cross kernel: 20 cells fitted from the
    // corpus by one Lloyd round (≈√n at this SF) — the entire sizing
    // fit is replayed by the DuckDB oracle
    "q_dedup_embed_sized" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      embedCrossPairsSized(emb.filter($"vec_id" % 4 === 0), emb,
        "vec_id", "embedding", cells = 20)
    }))

  /** Cross-corpus SEMANTIC dedup (SemDeDup's cell-blocked cosine, the
    * two-relation shape): every (incoming, corpus) pair that lands in
    * the SAME centroid cell with cosine ≥ threshold → (ida, idb,
    * cosine). The production cadence is a STREAMING incoming side —
    * embedding dedup at ingest against a curated reference corpus —
    * and the ONE plan serves both shapes:
    *
    *   1. The corpus freezes its cell index ONCE (cached per (session,
    *      corpus plan, threshold-independent key), persisted
    *      pre-partitioned on the cell key): the fused zero-shuffle
    *      `argmin_cos` assignment + groupBy(cell) → one row per cell
    *      carrying the member array (idb, qe, nrm).
    *   2. Each arriving row quantizes and assigns ROW-LOCALLY (the
    *      same plan-baked argmin projection — no join, no state),
    *      equi-joins its ONE cell's member row, and filters members by
    *      exact quantized cosine inside array expressions. Append
    *      mode, zero keyed state; per-row cost = k·d argmin + one cell
    *      occupancy (√n with production √n-cell sizing).
    *
    * Centroids are the library's deterministic corpus window
    * ([SemCentLo, SemCentLo+SemCentN), cid = vec_id − SemCentLo — the
    * q_dedup_semantic contract the DuckDB oracle replays); production
    * fits swap in kmeansFit centroids via the Scala API. Pairs where
    * ida == idb (the slice overlaps the corpus) are part of the
    * contract: an exact hit IS a duplicate. `incoming`/`corpus` carry
    * (`idCol`, `vecCol`).
    */
  def embedCrossPairs(incoming: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String,
      threshold: Double = SemTheta): DataFrame = {
    require(!corpus.isStreaming,
      "DEDUP_EMBED_PAIRS: the corpus side must be a BOUNDED relation " +
        "(its cell index is built once and frozen) — declare it with " +
        "'source.bounded' = 'true' or a batch connector")
    val s = corpus.sparkSession
    Vec.ensureRegistered(s)
    val cents = StaticIndexCache.getOrBuild[Seq[(Long, Seq[Long], Long)]](
      StaticIndexCache.corpusKey(s, corpus, "sem_cents", idCol, vecCol)) {
      val rows = corpus
        .select(col(idCol).as("vec_id"), quant(col(vecCol)).as("qe"))
        .withColumn("nrm", dotQ(col("qe"), col("qe")))
        .filter(col("vec_id") >= SemCentLo &&
          col("vec_id") < SemCentLo + SemCentN)
        .select((col("vec_id") - SemCentLo).as("cid"), col("qe"),
          col("nrm"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
        .sortBy(_._1).toSeq
      require(rows.nonEmpty,
        "DEDUP_EMBED_PAIRS: corpus has no centroid window rows (id in " +
          s"[$SemCentLo, ${SemCentLo + SemCentN})) — fit centroids via " +
          "kmeansFit and pass them to embedCrossPairsWith instead")
      rows
    }
    embedCrossPairsWith(incoming, corpus, idCol, vecCol, cents, threshold)
  }

  /** [[embedCrossPairs]] with EXPLICIT centroids — the production form
    * (√n kmeansFit cells; the TVF's deterministic-window contract is
    * the oracle-replayable special case). Cell count is the per-row
    * scan knob: occupancy is corpus/cells, so √n cells keep the
    * arriving row's cosine scan √n — the same sizing law the
    * semantic_sized decade rows measure.
    */
  def embedCrossPairsWith(incoming: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, cents: Seq[(Long, Seq[Long], Long)],
      threshold: Double): DataFrame = {
    require(!corpus.isStreaming,
      "DEDUP_EMBED_PAIRS: the corpus side must be a BOUNDED relation " +
        "(its cell index is built once and frozen) — declare it with " +
        "'source.bounded' = 'true' or a batch connector")
    val s = corpus.sparkSession
    Vec.ensureRegistered(s)
    def prep(df: DataFrame) = df
      .select(col(idCol).as("vec_id"), quant(col(vecCol)).as("qe"))
      .withColumn("nrm", dotQ(col("qe"), col("qe")))
    val corpusP = prep(corpus)
    // the key carries the centroid VALUES (control-plane sized, and
    // tuple equality is structural) — a hashCode-only key could let a
    // collision silently reuse the wrong frozen index
    val idx = StaticIndexCache.getOrBuild[DataFrame](
      StaticIndexCache.corpusKey(s, corpus, "sem_cell_idx",
        idCol, vecCol, cents)) {
      val dir = StaticIndexCache.newTmpDir("graft_sem_idx")
      Vec.argminAssignWith(corpusP, cents)
        .groupBy(col("cell"))
        .agg(collect_list(struct(col("vec_id").as("idb"), col("qe"),
          col("nrm"))).as("ms"))
        .write.parquet(s"$dir/idx")
      s.read.parquet(s"$dir/idx")
        .repartition(col("cell"))
        .sortWithinPartitions(col("cell"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val inc = Vec.argminAssignWith(prep(incoming), cents)
      .select(col("vec_id").as("ida"), col("qe").as("qa"),
        col("nrm").as("na"), col("cell"))
    // fused native in-cell scan (functions/CellCosPairs), bit-equal to
    // the transform+filter lambda tree it replaces: the scan is
    // |incoming|·|cell| cosine evals and higher-order lambdas run
    // INTERPRETED per element — measured as the video-similarity
    // composition's residual cost (r18)
    inc.join(idx, Seq("cell"))
      .select(col("ida"),
        explode(graft.functions.GraftFunctions.cellCosPairs(
          col("qa"), col("na"), col("ms"), threshold)).as("m"))
      .select(col("ida"), col("m.idb").as("idb"),
        col("m.cosine").as("cosine"))
  }

  /** [[embedCrossPairsWith]] at a PRODUCTION-sized cell count fitted
    * from the corpus itself: a deterministic stride sample of `cells`
    * corpus vectors seeds ONE Lloyd round (floor-of-mean integer
    * centroids, [[Similarity.kmeansFit]]), and the cross kernel runs
    * against the fitted cells. This is the measured 100 TB shape —
    * SCALE.md's streaming-drain decade rows read 153 s with the fixed
    * 16-cell contract vs 3.6 s with √n fitted cells at sf10 (~40×,
    * warm cached fit) — made
    * statement-layer reachable: `DEDUP_EMBED_PAIRS(..., threshold,
    * cells)`. The whole fit chain (stride seeds → argmin assignment →
    * floor-of-mean update, empty cells keeping their seed) is
    * integer-exact, so the DuckDB oracle replays pairs bit-for-bit.
    * Fit cost: one corpus count + one assignment pass + a (cells×dim)-
    * row mean agg, cached per (session, corpus plan, cells).
    */
  def embedCrossPairsSized(incoming: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, cells: Int,
      threshold: Double = SemTheta): DataFrame = {
    require(cells >= 1,
      s"DEDUP_EMBED_PAIRS: cells must be >= 1, got $cells")
    require(!corpus.isStreaming,
      "DEDUP_EMBED_PAIRS: the corpus side must be a BOUNDED relation " +
        "(its cell index is built once and frozen) — declare it with " +
        "'source.bounded' = 'true' or a batch connector")
    val s = corpus.sparkSession
    Vec.ensureRegistered(s)
    val cents = Similarity.fitCentroids(
      corpus.select(col(idCol).as("vec_id"), quant(col(vecCol)).as("qe"))
        .withColumn("nrm", dotQ(col("qe"), col("qe"))), cells)
    embedCrossPairsWith(incoming, corpus, idCol, vecCol, cents, threshold)
  }

  /** Probe-side bound for the exact embedding near-dup baseline. */
  private val EmbedProbeBound = 500

  /** Semantic-dedup centroid slice + pair threshold (test-corpus sized;
    * production uses √n centroids from a clustering fit).
    */
  private val SemCentLo = 200L
  private val SemCentN = 16L
  private val SemTheta = 0.35

  // --- DuckDB mirrors -----------------------------------------------------

  /** Mirror of [[embedCrossPairs]] over a 1-in-4 incoming slice of the
    * embeddings table vs the full corpus — shared by the library query
    * and both gate TVF routes so the three checks cannot drift.
    */
  private[queries] lazy val oEmbedCrossSql: String =
    s"""WITH ${Vec.oArgminAssign(SemCentLo, SemCentN)}
       |SELECT a.vec_id AS ida, b.vec_id AS idb,
       |  ${Vec.oCosineQ("a.qe", "b.qe", "a.nrm", "b.nrm")} AS cosine
       |FROM assign a JOIN assign b ON a.cell = b.cell
       |WHERE a.vec_id % 4 = 0
       |  AND ${Vec.oCosineQ("a.qe", "b.qe", "a.nrm", "b.nrm")} >= $SemTheta"""
      .stripMargin

  /** Mirror of [[embedCrossPairsSized]] over the same 1-in-4 incoming
    * slice: replays the ENTIRE sizing fit — stride seed sample, argmin
    * assignment to seeds, floor-of-mean Lloyd update (empty cells keep
    * their seed), re-assignment to the fitted centroids — then the
    * cell-blocked pair stage. Shared by the library query and both
    * gate routes.
    */
  private[queries] def oEmbedCrossSizedSql(cells: Int): String = {
    val cosNC = Vec.oCosineQ("n.qe", "c.ce", "n.nrm", "c.cnrm")
    val cosAB = Vec.oCosineQ("a.qe", "b.qe", "a.nrm", "b.nrm")
    s"""WITH q AS (SELECT vec_id, ${Vec.oQuant} AS qe FROM embeddings),
       |n AS (SELECT vec_id, qe, list_sum([x*x for x in qe]) AS nrm FROM q),
       |${Vec.oFittedCent(cells, "n")},
       |scored AS (SELECT n.vec_id, n.qe, n.nrm, c.cid, $cosNC AS ccos
       |  FROM n CROSS JOIN cent c),
       |assign AS (SELECT vec_id, qe, nrm, cid AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, cid) AS rn
       |    FROM scored) WHERE rn = 1)
       |SELECT a.vec_id AS ida, b.vec_id AS idb, $cosAB AS cosine
       |FROM assign a JOIN assign b ON a.cell = b.cell
       |WHERE a.vec_id % 4 = 0 AND $cosAB >= $SemTheta""".stripMargin
  }

  private val oShingle3 =
    "list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] for i in generate_series(1, len(w)-2)])"
  private val oShingle8 = {
    val terms = (0 until 8).map(k => s"w[i+$k]").mkString("||' '||")
    s"list_distinct([$terms for i in generate_series(1, len(w)-7)])"
  }
  private val oShingle2 =
    "list_distinct([w[i]||' '||w[i+1] for i in generate_series(1, len(w)-1)])"
  // NOT distinct: q_dedup_substr counts gram POSITIONS, so in-doc repeats
  // must survive
  private val oShingle10 = {
    val terms = (0 until 10).map(k => s"w[i+$k]").mkString("||' '||")
    s"[$terms for i in generate_series(1, len(w)-9)]"
  }
  private def oTokenHash(v: String) =
    s"list_sum([(CAST(strpos('0123456789abcdef', substr(md5($v), i, 1)) AS BIGINT)-1) << (4*(15-i)) for i in generate_series(1,15)])"

  /** Mirror of the second 60-bit limb (md5 hex chars 16-30). */
  private def oTokenHash2(v: String) =
    s"list_sum([(CAST(strpos('0123456789abcdef', substr(md5($v), 15+i, 1)) AS BIGINT)-1) << (4*(15-i)) for i in generate_series(1,15)])"

  /** Mirror of the third 60-bit limb (salted second digest, chars 1-15). */
  private def oTokenHash3(v: String) =
    s"list_sum([(CAST(strpos('0123456789abcdef', substr(md5('g3' || $v), i, 1)) AS BIGINT)-1) << (4*(15-i)) for i in generate_series(1,15)])"

  /** DuckDB mirror of [[minhashPairs]] (full SELECT, usable as a CTE body). */
  /** Shared WITH-prologue of the minhash oracles: signatures, band keys,
    * and shingle sets for every document (per-doc work is identical
    * whichever side of a dedup a doc lands on).
    */
  private lazy val oMinhashProlog: String = {
    val mins = (0 until MinhashK)
      .map(j => s"min((${HashA(j)} * x + ${HashB(j)}) % $P) AS h$j")
      .mkString(", ")
    val bandSelects = (0 until Bands).map { b =>
      val key = (0 until RowsPerBand).map(r => s"h${b * RowsPerBand + r}")
        .mkString("||'_'||")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM mh"
    }.mkString(" UNION ALL ")
    s"""w AS (SELECT doc_id, regexp_split_to_array(text,' ') w FROM documents),
       |sh AS (SELECT doc_id, unnest($oShingle3) AS s FROM w WHERE len(w) >= 3),
       |shh AS (SELECT doc_id, ${oTokenHash("s")} % $P AS x FROM sh),
       |mh AS (SELECT doc_id, $mins FROM shh GROUP BY doc_id),
       |bands AS ($bandSelects),
       |sets AS (SELECT doc_id, $oShingle3 AS ss FROM w WHERE len(w) >= 3)""".stripMargin
  }

  private def oMinhashVerify(candSql: String, threshold: Double): String =
    s"""cand AS ($candSql)
       |SELECT ida, idb,
       |  CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE) /
       |    len(list_distinct(list_concat(sa.ss, sb.ss))) AS jacc
       |FROM cand JOIN sets sa ON sa.doc_id = ida
       |          JOIN sets sb ON sb.doc_id = idb
       |WHERE CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE) /
       |    len(list_distinct(list_concat(sa.ss, sb.ss))) >= $threshold""".stripMargin

  private[queries] lazy val oMinhashPairsSql: String =
    s"""WITH $oMinhashProlog,
       |${oMinhashVerify(
      """SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
        |  FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""".stripMargin,
      0.8)}""".stripMargin

  /** Connected-components closure over any (ida, idb) pair SELECT — the
    * shared machinery behind the q_dedup_cluster and q_gate_cc_tvf
    * oracles: symmetrize, transitively close with a recursive CTE, and
    * label each node with its component minimum.
    */
  private[queries] def oCcClosure(pairsSelect: String,
      nodeAs: String): String =
    s"""WITH RECURSIVE pairs AS ($pairsSelect),
       |edges AS (SELECT ida AS n, idb AS m FROM pairs
       |          UNION SELECT idb, ida FROM pairs),
       |cc(n, m) AS (
       |  SELECT n, n FROM (SELECT DISTINCT n FROM edges) t
       |  UNION
       |  SELECT e.n, cc.m FROM edges e JOIN cc ON e.m = cc.n
       |)
       |SELECT n AS $nodeAs, CAST(MIN(m) AS BIGINT) AS cluster,
       |  n = MIN(m) AS is_keeper
       |FROM cc GROUP BY n""".stripMargin

  /** Mirror of [[minhashCrossPairs]] over the documents table split by
    * doc_id % 10 (>= 8 incoming, < 8 corpus).
    */
  private[queries] lazy val oMinhashCrossSql: String =
    s"""WITH $oMinhashProlog,
       |${oMinhashVerify(
      """SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
        |  FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.bkey = b.bkey
        |  WHERE a.doc_id % 10 >= 8 AND b.doc_id % 10 < 8""".stripMargin,
      0.8)}""".stripMargin
  private val oQuant = Vec.oQuant

  def oracleSql: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    // the oracle is pure anti-join semantics: the bloom prefilter on the
    // Spark side must not change the result, only the join input size
    "q_dedup_bloom" ->
      """SELECT n.doc_id, md5(n.text) AS h
        |FROM documents n
        |WHERE n.doc_id % 10 >= 2
        |  AND NOT EXISTS (
        |    SELECT 1 FROM documents o
        |    WHERE o.doc_id % 10 < 2 AND md5(o.text) = md5(n.text))""".stripMargin,

    "q_dedup_keyed" ->
      """SELECT user_id, event_type, event_id,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS first_ts
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |        ORDER BY ts, event_id) AS rn FROM events) t
        |WHERE rn = 1""".stripMargin,

    "q_dedup_minhash" -> oMinhashPairsSql,

    "q_dedup_cross" -> oMinhashCrossSql,

    // token-join mirror of the cross-corpus exact Jaccard join; the
    // WHERE repeats the identical double comparison the Spark side
    // applies (q_dedup_ppjoin's convention)
    "q_dedup_jaccard_cross" ->
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(text,' ') w
         |  FROM documents),
         |sets AS (SELECT doc_id, $oShingle3 AS ss FROM w WHERE len(w) >= 3),
         |atok AS (SELECT doc_id, len(ss) AS sz, unnest(ss) AS g
         |  FROM sets WHERE doc_id % 10 >= 8),
         |btok AS (SELECT doc_id, len(ss) AS sz, unnest(ss) AS g
         |  FROM sets WHERE doc_id % 10 < 8),
         |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
         |    a.sz AS sza, b.sz AS szb, count(*) AS i
         |  FROM atok a JOIN btok b ON a.g = b.g
         |  GROUP BY 1, 2, 3, 4)
         |SELECT ida, idb, CAST(i AS DOUBLE) / (sza + szb - i) AS jacc
         |FROM inter
         |WHERE CAST(i AS DOUBLE) / (sza + szb - i) >= 0.6""".stripMargin,

    "q_dedup_cluster" -> oCcClosure(oMinhashPairsSql, "doc_id"),

    // Oracle brute-forces hamming over all pairs, on the SAME 4w-bit
    // signature the Spark side blocks on (w integer-derived from the
    // same count(*), so both engines agree exactly) — the chunk blocking
    // is lossless for hamming<=3, so results must match.
    "q_dedup_simhash" -> oSimhashPairsSql,

    "q_dedup_ngram" ->
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(text,' ') w
         |  FROM documents WHERE doc_id < 300),
         |sets AS (SELECT doc_id, $oShingle2 AS ss FROM w WHERE len(w) >= 2)
         |SELECT a.doc_id AS ida, b.doc_id AS idb,
         |  CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE) /
         |    len(list_distinct(list_concat(a.ss, b.ss))) AS jacc
         |FROM sets a JOIN sets b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE) /
         |    len(list_distinct(list_concat(a.ss, b.ss))) >= 0.6""".stripMargin,

    // Oracle twin of the prefix-filtered join: token-join formulation so
    // DuckDB avoids the O(n²) cross join too. jacc is the SAME double
    // division (intersection / union of the distinct shingle sets), and
    // the WHERE repeats the identical double comparison the Spark side
    // applies, so the kept-pair set can't disagree at the threshold.
    "q_dedup_ppjoin" ->
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(text,' ') w
         |  FROM documents),
         |sets AS (SELECT doc_id, $oShingle3 AS ss FROM w WHERE len(w) >= 3),
         |tok AS (SELECT doc_id, len(ss) AS sz, unnest(ss) AS g FROM sets),
         |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
         |    a.sz AS sza, b.sz AS szb, count(*) AS i
         |  FROM tok a JOIN tok b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT ida, idb, CAST(i AS DOUBLE) / (sza + szb - i) AS jacc
         |FROM inter
         |WHERE CAST(i AS DOUBLE) / (sza + szb - i) >= 0.6""".stripMargin,

    "q_decontaminate" ->
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(text,' ') w FROM documents),
         |g AS (SELECT doc_id, unnest($oShingle8) AS g
         |  FROM w WHERE len(w) >= 8),
         |bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0),
         |train AS (SELECT * FROM g WHERE doc_id % 10 <> 0)
         |SELECT t.doc_id, COUNT(DISTINCT t.g) AS n_overlap
         |FROM train t JOIN bench b ON t.g = b.g
         |GROUP BY t.doc_id""".stripMargin,

    "q_dedup_substr" ->
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(text,' ') w FROM documents),
         |g AS (SELECT doc_id, unnest($oShingle10) AS g
         |  FROM w WHERE len(w) >= 10),
         |h AS (SELECT doc_id, ${oTokenHash("g")} AS h FROM g),
         |nd AS (SELECT h, COUNT(DISTINCT doc_id) AS n_docs FROM h GROUP BY h)
         |SELECT doc_id, COUNT(*) AS n_grams,
         |  CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*) AS dup_ratio
         |FROM h JOIN nd USING (h)
         |GROUP BY doc_id""".stripMargin,

    // removal mirror: positions carried explicitly (1-based here,
    // 0-based on the Spark side — coverage sets are identical), same
    // 60-bit gram hash, same md5 of the space-rejoined survivor text
    "q_dedup_substr_apply" -> {
      val terms = (0 until 10).map(k => s"w.w[i+$k]").mkString("||' '||")
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(text,' ') AS w
         |  FROM documents),
         |g0 AS (SELECT w.doc_id, i, ($terms) AS gram
         |  FROM w, unnest(generate_series(1, len(w.w) - 9)) AS t(i)
         |  WHERE len(w.w) >= 10),
         |g AS (SELECT doc_id, i, ${oTokenHash("gram")} AS h FROM g0),
         |dup AS (SELECT h FROM g GROUP BY h
         |  HAVING COUNT(DISTINCT doc_id) >= 2),
         |st AS (SELECT doc_id, list(i) AS starts
         |  FROM g JOIN dup USING (h) GROUP BY doc_id),
         |cl AS (SELECT w.doc_id, len(w.w) AS n_words,
         |    [w.w[p] for p in generate_series(1, len(w.w))
         |      if len(list_filter(coalesce(st.starts, []),
         |        s -> p >= s AND p <= s + 9)) = 0] AS cw
         |  FROM w LEFT JOIN st ON w.doc_id = st.doc_id)
         |SELECT doc_id, CAST(len(cw) AS BIGINT) AS n_kept,
         |  CAST(n_words - len(cw) AS BIGINT) AS n_removed,
         |  md5(coalesce(array_to_string(cw, ' '), '')) AS clean_md5
         |FROM cl""".stripMargin
    },

    "q_dedup_embed" ->
      s"""WITH q AS (SELECT vec_id, $oQuant AS qe FROM embeddings),
         |n AS (SELECT vec_id, qe,
         |    list_sum([x*x for x in qe]) AS nrm FROM q)
         |SELECT a.vec_id AS ida, b.vec_id AS idb,
         |  CAST(list_sum([a.qe[i]*b.qe[i] for i in generate_series(1, len(a.qe))]) AS DOUBLE) /
         |    (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cosine
         |FROM (SELECT * FROM n WHERE vec_id < $EmbedProbeBound) a
         |JOIN n b ON a.vec_id < b.vec_id
         |WHERE CAST(list_sum([a.qe[i]*b.qe[i] for i in generate_series(1, len(a.qe))]) AS DOUBLE) /
         |    (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) >= 0.4""".stripMargin,

    "q_dedup_apply" ->
      s"""WITH pairs AS ($oMinhashPairsSql),
         |drops AS (SELECT DISTINCT idb AS doc_id FROM pairs)
         |SELECT d.lang, count(*) AS n_kept,
         |  CAST(sum(d.n_chars) AS BIGINT) AS chars_kept
         |FROM documents d ANTI JOIN drops USING (doc_id)
         |GROUP BY d.lang""".stripMargin,

    "q_dedup_semantic" ->
      s"""WITH ${Vec.oArgminAssign(SemCentLo, SemCentN)}
         |SELECT a.cell, a.vec_id AS ida, b.vec_id AS idb,
         |  ${Vec.oCosineQ("a.qe", "b.qe", "a.nrm", "b.nrm")} AS cosine
         |FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |WHERE ${Vec.oCosineQ("a.qe", "b.qe", "a.nrm", "b.nrm")} >= $SemTheta""".stripMargin,

    // slice-vs-corpus mirror of the frozen-cell-index cross kernel
    "q_dedup_embed_cross" -> oEmbedCrossSql,

    // ... and its production-sized variant, fit chain included
    "q_dedup_embed_sized" -> oEmbedCrossSizedSql(20))

  /** DuckDB mirror of the corpus-sized [[simhashVerifiedPairs]] over the
    * documents table: brute-force hamming over the SAME 4w-bit signature
    * (w integer-derived from the same count(*), so both engines agree
    * exactly). Shared with the gate TVF oracle so the two checks cannot
    * drift.
    */
  private[queries] lazy val oSimhashPairsSql: String =
    s"""WITH cw AS (SELECT LEAST(GREATEST(
       |    (SELECT MIN(k) FROM generate_series(1, 62) t(k)
       |     WHERE (CAST(1 AS BIGINT) << k) >= (SELECT count(*) FROM documents))
       |    + 4, 15), 45) AS w),
       |mk AS (SELECT (CAST(1 AS BIGINT) << LEAST(4*w, 60)) - 1 AS m1,
       |    (CAST(1 AS BIGINT) << LEAST(GREATEST(4*w - 60, 0), 60)) - 1 AS m2,
       |    (CAST(1 AS BIGINT) << GREATEST(4*w - 120, 0)) - 1 AS m3 FROM cw),
       |w AS (SELECT doc_id, regexp_split_to_array(text,' ') w FROM documents),
       |tok AS (SELECT doc_id, unnest($oShingle2) AS t FROM w WHERE len(w) >= 2),
       |th AS (SELECT doc_id, ${oTokenHash("t")} AS h1, ${oTokenHash2("t")} AS h2,
       |    ${oTokenHash3("t")} AS h3 FROM tok),
       |bits AS (SELECT doc_id, g.b,
       |    SUM(CASE WHEN ((CASE WHEN g.b < 60 THEN h1 >> g.b
       |                    WHEN g.b < 120 THEN h2 >> (g.b - 60)
       |                    ELSE h3 >> (g.b - 120) END) & 1) = 1
       |        THEN 1 ELSE -1 END) AS sb
       |  FROM th CROSS JOIN generate_series(0, 179) g(b)
       |  GROUP BY doc_id, g.b),
       |sim AS (SELECT doc_id,
       |    SUM(CASE WHEN sb > 0 AND b < 60
       |        THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END) AS s1,
       |    SUM(CASE WHEN sb > 0 AND b >= 60 AND b < 120
       |        THEN CAST(1 AS BIGINT) << (b - 60) ELSE CAST(0 AS BIGINT) END) AS s2,
       |    SUM(CASE WHEN sb > 0 AND b >= 120
       |        THEN CAST(1 AS BIGINT) << (b - 120) ELSE CAST(0 AS BIGINT) END) AS s3
       |  FROM bits GROUP BY doc_id)
       |SELECT a.doc_id AS ida, b.doc_id AS idb,
       |  CAST(bit_count(xor(a.s1, b.s1) & mk.m1)
       |    + bit_count(xor(a.s2, b.s2) & mk.m2)
       |    + bit_count(xor(a.s3, b.s3) & mk.m3) AS BIGINT) AS hamming
       |FROM sim a JOIN sim b ON a.doc_id < b.doc_id CROSS JOIN mk
       |WHERE bit_count(xor(a.s1, b.s1) & mk.m1)
       |    + bit_count(xor(a.s2, b.s2) & mk.m2)
       |    + bit_count(xor(a.s3, b.s3) & mk.m3) <= 3""".stripMargin
}
