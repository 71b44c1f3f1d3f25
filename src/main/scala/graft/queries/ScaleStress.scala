package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Empirical scale stress for the claims SCALE.md argues analytically:
  * the √n sizing rules (`Similarity.recommendedCentroids` /
  * `recommendedPlanes`), the LSH hot-bucket cap, and the corpus-scale
  * heavies, measured at whatever SF directory it is pointed at
  * (`GenScale` output for sf1/sf10). Unlike Bench — which runs the
  * oracle queries exactly as the correctness gate defines them, with
  * their test-corpus-sized constants — this harness runs the
  * PRODUCTION-sized variants: centroid counts and hyperplane counts grow
  * with the corpus the way the sizing helpers say they must, which is
  * precisely what cannot be observed at oracle scale.
  *
  * Emits ONE JSON line: per-op wall seconds (min of 2 serial passes)
  * plus the structural metrics the claims are about (cell sizes,
  * candidate-pair counts, centroid counts), so "the cap held" /
  * "cells stayed √n" is a number in the artifact, not prose.
  *
  * Usage: runMain graft.queries.ScaleStress <sfDir> [passes]
  */
object ScaleStress {

  private type Metrics = Map[String, Long]

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val passes = if (args.length > 1) args(1).toInt else 2
    val spark = graft.Sessions.local(
      math.min(32, Runtime.getRuntime.availableProcessors()).toString,
      "spark.app.name" -> "graft-scale-stress",
      "spark.local.dir" -> "/tmp/graft-stress-scratch")
    Vec.ensureRegistered(spark)

    def emb(): DataFrame =
      graft.Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), Vec.quant(col("embedding")).as("qe"))
        .withColumn("nrm", Vec.dotQ(col("qe"), col("qe")))

    val n = emb().count()
    val nDocs = graft.Tables.load(spark, sfDir, "documents").count()
    val kSized = Similarity.recommendedCentroids(n)
    val planesSized = Similarity.recommendedPlanes(n)

    /** Deterministic stride sample of k corpus vectors, re-numbered
      * 0..k-1 — centroid seeds (production would kmeans-fit from these,
      * which `semantic_sized` does for one Lloyd round).
      */
    def seedCents(k: Int): Seq[(Long, Seq[Long], Long)] = {
      val stride = math.max(1L, n / k)
      emb().filter(pmod(col("vec_id"), lit(stride)) === 0)
        .orderBy(col("vec_id")).limit(k).collect()
        .zipWithIndex
        .map { case (r, i) => (i.toLong, r.getSeq[Long](1), r.getLong(2)) }
        .toSeq
    }

    /** In-cell near-dup pair count over an assignment — the SemDeDup
      * pair stage (bucket-grouped expansion, same as q_dedup_semantic).
      */
    def cellPairs(assign: DataFrame, theta: Double): (Long, Long) = {
      val cells = assign.groupBy(col("cell"))
        .agg(collect_list(struct(col("vec_id"), col("qe"), col("nrm")))
          .as("ms"))
        .filter(size(col("ms")) >= 2)
      val maxCell = cells.agg(coalesce(max(size(col("ms"))), lit(0)))
        .head.getInt(0).toLong
      val pairs = cells
        .select(col("cell"), explode(col("ms")).as("a"), col("ms"))
        .select(col("cell"), col("a"), explode(col("ms")).as("b"))
        .filter(col("a.vec_id") < col("b.vec_id"))
        .filter(Vec.cosineQ(col("a.qe"), col("b.qe"),
          col("a.nrm"), col("b.nrm")) >= theta)
        .count()
      (pairs, maxCell)
    }

    def materialize(name: String): Metrics = {
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      Map.empty
    }

    def countOf(name: String): Metrics =
      Map("rows" -> graft.SparkEntry.queries(name)(spark, sfDir).count())

    // fitted once OUTSIDE the timed ops that reuse it is wrong — the fit
    // is part of what must scale. semantic_sized times seed+fit+assign+
    // pairs end-to-end; ann_ivf_sized refits its own centroids so each
    // op's time is self-contained.
    val ops: Seq[(String, () => Metrics)] = Seq(
      // √n-sized SemDeDup: the claim under test is that the pair stage
      // stays tractable when k grows with the corpus
      "semantic_sized" -> (() => {
        val cents = Similarity.kmeansFit(emb(), seedCents(kSized), 1)
        val (pairs, maxCell) = cellPairs(Vec.argminAssignWith(emb(), cents), 0.35)
        Map("k" -> kSized.toLong, "pairs" -> pairs, "max_cell" -> maxCell)
      }),
      // deliberately MIS-sized (the oracle query's fixed 16 cells): the
      // quadratic-in-cell-size cost the sizing rule exists to prevent,
      // measured at the same corpus
      "semantic_fixed16" -> (() => {
        val (pairs, maxCell) = cellPairs(
          Vec.argminAssignWith(emb(), seedCents(16)), 0.35)
        Map("k" -> 16L, "pairs" -> pairs, "max_cell" -> maxCell)
      }),
      // r12: the pair-LINEAR sizing alternative (k = n/c, fixed target
      // cell size c = 100) the r11 verdict asked to measure against √n.
      // Pairs grow linearly (≈ n·c/2) — but the zero-shuffle argmin
      // assignment scans all k centroids per vector, so assignment is
      // n·k·d = n²·d/c: a 100x-per-decade term where √n's whole
      // pipeline is n^1.5. √n is the BALANCED optimum of
      // assign (n·k·d) + verify (n²·d/2k): d/dk = 0 at k* = √(n/2).
      // SCALE.md carries the measured comparison and the bend analysis.
      "semantic_cellc" -> (() => {
        val kCell = math.max(4, (n / 100L).toInt)
        val cents = Similarity.kmeansFit(emb(), seedCents(kCell), 1)
        val (pairs, maxCell) =
          cellPairs(Vec.argminAssignWith(emb(), cents), 0.35)
        Map("k" -> kCell.toLong, "pairs" -> pairs, "max_cell" -> maxCell)
      }),
      // √n-sized IVF ANN: zero-shuffle argmin assignment (the scale
      // path), nProbe-cell probe, exact re-rank inside probed cells
      "ann_ivf_sized" -> (() => {
        val cents = Similarity.kmeansFit(emb(), seedCents(kSized), 1)
        val assign = Vec.argminAssignWith(emb(), cents)
          .select(col("vec_id"), col("qe"), col("nrm"), col("cell"))
        val centRows = cents.map { case (cid, ce, cnrm) => (cid, ce, cnrm) }
        val centDf = spark.createDataFrame(centRows).toDF("cid", "ce", "cnrm")
        val qs = emb().filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("qe").as("qqe"),
            col("nrm").as("qnrm"))
        val wProbe = Window.partitionBy(col("qid"))
          .orderBy(col("ccos").desc, col("cid"))
        val probe = qs.join(broadcast(centDf))
          .select(col("qid"), col("qqe"), col("qnrm"), col("cid"),
            Vec.cosineQ(col("qqe"), col("ce"), col("qnrm"), col("cnrm"))
              .as("ccos"))
          .withColumn("prn", row_number().over(wProbe))
          .filter(col("prn") <= 4)
          .select(col("qid"), col("qqe"), col("qnrm"),
            col("cid").as("cell"))
        val wTop = Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("nid"))
        val hits = assign.join(broadcast(probe), "cell")
          .select(col("qid"), col("vec_id").as("nid"),
            Vec.cosineQ(col("qqe"), col("qe"), col("qnrm"), col("nrm"))
              .as("cosine"))
          .withColumn("rank", row_number().over(wTop))
          .filter(col("rank") <= 10)
          .count()
        Map("k" -> kSized.toLong, "hits" -> hits)
      }),
      // corpus-sized hyperplane LSH ANN (recommendedPlanes, not the
      // test default 8)
      "ann_lsh_sized" -> (() => {
        val corpus = emb()
        val qs = corpus.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("qe").as("qqe"),
            col("nrm").as("qnrm"))
        Map("planes" -> planesSized.toLong,
          "hits" -> Similarity.annLsh(corpus, qs, 10, planesSized).count())
      }),
      // the capped-LSH minhash pipeline exactly as shipped — candidate
      // volume is the metric (cap held ⇔ pairs grow ~linearly)
      "minhash_lsh" -> (() => countOf("q_dedup_minhash")
        .map { case (k, v) => ("pairs", v) }),
      "simhash" -> (() => countOf("q_dedup_simhash")
        .map { case (k, v) => ("pairs", v) }),
      "cluster_cc" -> (() => countOf("q_dedup_cluster")),
      "substr_grams" -> (() => materialize("q_dedup_substr")),
      // r16: the removal step on top of the same gram-hash shuffle —
      // the extra cost over substr_grams is the doc-keyed start lists
      // + the narrow in-row rewrite, so the cell must track
      // substr_grams, not outgrow it
      "substr_apply" -> (() => {
        val out = graft.SparkEntry.queries("q_dedup_substr_apply")(
          spark, sfDir)
        import org.apache.spark.sql.functions.{sum => fsum}
        val r = out.agg(fsum("n_removed")).head()
        Map("removed_words" -> r.getLong(0))
      }),
      // r19: the ExactSubstr stop-gram escape hatch under a REAL
      // corpus-wide hot gram — ×10-amplified SHORT docs (boilerplate
      // 10-gram + a 3-word tail + a rep tag), so ONE gram hash carries
      // df = 10·nDocs ≈ a quarter of ALL gram rows: the skew regime
      // where the uncapped h-window buffers that whole group in one
      // task (the straggler VERDICT r18 flagged) while the capped path
      // prunes it with a broadcast anti-join BEFORE the h-exchange.
      // Metrics: wall times both ways, plus the dup-position totals —
      // their delta must equal the stressed doc count, proving the
      // prune removed exactly the boilerplate gram's rows from the
      // exchange. (At local SFs the group fits one task's buffer
      // comfortably, so the wall-clock delta is modest — the straggler
      // is a memory/spill phenomenon at corpus scale; the prune is
      // what this cell evidences.)
      "substr_hotgram" -> (() => {
        import org.apache.spark.sql.functions._
        val boiler = (1 to 10).map(i => s"bp$i").mkString(" ")
        val docs = graft.Tables.load(spark, sfDir, "documents")
          .select(col("doc_id"), col("text"))
          .crossJoin(spark.range(10).select(col("id").as("rep")))
          .select((col("doc_id") * 10 + col("rep")).as("doc_id"),
            concat(lit(boiler + " "),
              concat_ws(" ",
                slice(split(coalesce(col("text"), lit("")), " "), 1, 3)),
              lit(" "), col("rep").cast("string")).as("text"))
        def run(cap: Option[Long]): (Long, Long) = {
          val t0 = System.nanoTime()
          val dup = Dedup.substrDupStats(docs, cap)
            .agg(sum(col("n_dup"))).head().getLong(0)
          ((System.nanoTime() - t0) / 1000000, dup)
        }
        // cap at half the stressed corpus: the boilerplate gram
        // (df = 10·nDocs) is pruned, organic duplicates survive
        val cap = math.max(2L, nDocs * 10 / 2)
        val (offMs, offDup) = run(None)
        val (onMs, onDup) = run(Some(cap))
        Map("off_ms" -> offMs, "on_ms" -> onMs,
          "dup_pos_off" -> offDup, "dup_pos_on" -> onDup,
          "hot_rows_pruned" -> (offDup - onDup))
      }),
      "exact_dedup" -> (() => materialize("q_dedup_exact")),
      "lm_score" -> (() => materialize("q_text_lm_score")),
      // r14: BM25 top-k retrieval — FIXED 200 queries against the
      // growing corpus, so the decade metric isolates index build +
      // probe (probe fan-out is Σ df over query terms — corpus-linear
      // under the synthetic dense vocabulary, the operator's worst
      // case: every term's posting list is corpus-sized)
      "bm25_search" -> (() => {
        val docs = graft.Tables.load(spark, sfDir, "documents")
        val q = docs.filter(col("doc_id") < 200)
          .selectExpr("doc_id AS qid",
            "concat_ws(' ', slice(split(text, ' '), 1, 4)) AS qtext")
        Map("hits" -> Search.bm25TopK(q, docs, "qid", "qtext",
          "doc_id", "text", 10).count())
      }),
      // r15: the df-capped probe — the stop-term discipline on the
      // same dense-vocabulary worst case. The fixture's df
      // distribution is tightly banded (most terms at df ≈ 0.77·N,
      // rare ones at 0.05·N), so cap = 0.78·N — the oracle's ratio,
      // OracleDfCap = 390 at N = 500 — drops the top-quartile
      // stop-grade lists while the queries keep scoring: the cell
      // isolates what the recall knob buys in probe fan-out
      "bm25_capped" -> (() => {
        val docs = graft.Tables.load(spark, sfDir, "documents")
        val n = docs.count()
        val q = docs.filter(col("doc_id") < 200)
          .selectExpr("doc_id AS qid",
            "concat_ws(' ', slice(split(text, ' '), 1, 4)) AS qtext")
        val cap = n * 78 / 100
        Map("cap" -> cap,
          "hits" -> Search.bm25TopK(q, docs, "qid", "qtext",
            "doc_id", "text", 10, dfCap = Some(cap)).count())
      }),
      // r15: the STREAMING probe (contamination-lookup-at-ingest) on a
      // real drain, at the production pairing (df cap — an uncapped
      // stop term would make single rows corpus-sized, the documented
      // skew knob): frozen per-term index builds once (cached after
      // the first pass → min-over-passes measures the warm-index
      // drain), each arriving query row fetches ≤ maxTerms posting
      // arrays and merges scores row-locally
      "bm25_stream" -> (() => {
        val docs = graft.Tables.load(spark, sfDir, "documents")
        val n = docs.count()
        val stage = java.nio.file.Files.createTempDirectory("bms_stage")
        stage.toFile.deleteOnExit()
        docs.filter(col("doc_id") < 200)
          .selectExpr("doc_id AS qid",
            "concat_ws(' ', slice(split(text, ' '), 1, 4)) AS qtext")
          .write.mode("overwrite").parquet(stage.toString)
        val incoming = spark.readStream
          .schema("qid LONG, qtext STRING").parquet(stage.toString)
        val hits = new java.util.concurrent.atomic.AtomicLong()
        val cap = n * 78 / 100
        val q = Search.bm25TopKStream(incoming, docs, "qid", "qtext",
            "doc_id", "text", 10, dfCap = Some(cap))
          .writeStream
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                _: Long) => hits.addAndGet(b.count()); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("bms_ck").toString)
          .start()
        val finished = try q.awaitTermination(600000)
        finally q.stop()
        Map("cap" -> cap, "hits" -> hits.get(),
          "timed_out" -> (if (finished) 0L else 1L))
      }),
      // r14: per-doc TF-IDF keywords — one tokenize pass, two keyed
      // exchanges, output corpus-linear (k terms per doc)
      "tfidf_keywords" -> (() => {
        val docs = graft.Tables.load(spark, sfDir, "documents")
        Map("rows" ->
          Search.keywordsTfidf(docs, "doc_id", "text", 3).count())
      }),
      // r15: REAL image codec round trip (encode deterministic
      // PNG/BMP/JPEG payloads from ids, decode with javax.imageio,
      // exact channel sums) — per-row CPU in a narrow map, zero
      // shuffle, so the decade metric should read corpus-linear
      "media_decode" -> (() => {
        import graft.multimodal.{MediaFixture, MediaOps}
        import spark.implicits._
        val ids = graft.Tables.load(spark, sfDir, "documents")
          .select(col("doc_id")).as[Long]
        val feats = MediaOps.imageFeatures(MediaFixture.mediaTable(ids))
        Map("decoded" -> feats.filter(_.ok).count())
      }),
      // r15: the REAL video path — encode GFV1 clips (3-7 packed PNG
      // frames) from ids, then seek-decode 3 stride-sampled frames per
      // clip through the container index. Narrow map, zero shuffle →
      // the decade metric should read corpus-linear; the structural
      // claim is the sampling contract itself (decode cost is O(k)
      // frames per clip however long the clip grows).
      "media_video" -> (() => {
        import graft.multimodal.{MediaFixture, MediaOps}
        import spark.implicits._
        val ids = graft.Tables.load(spark, sfDir, "documents")
          .select(col("doc_id")).as[Long]
        val frames =
          MediaOps.videoFrameFeatures(MediaFixture.videoTable(ids), k = 3)
        Map("frames_ok" -> frames.filter(_.ok).count())
      }),
      // r17: perceptual-hash near-dup — decode + dHash is the narrow
      // (CPU-bound) stage; the band groupBy is the ONLY exchange, keyed
      // on 4×16-bit band values, and the planted clusters (4 near-dup
      // images per 5 ids) keep verified-pair mass exactly corpus-linear.
      // The decade claim: wall time tracks decode (linear), pairs track
      // the plant rate, and no band bucket grows super-linearly (the
      // 16-bit key space is fixed but content-hash-distributed; a skewed
      // real corpus — mass-duplicated images — would show up here first).
      "phash_pairs" -> (() => {
        import graft.multimodal.{MediaFixture, MediaOps}
        import spark.implicits._
        val ids = graft.Tables.load(spark, sfDir, "documents")
          .select(col("doc_id")).as[Long]
        val pairs = Dedup.phashPairs(
          MediaOps.dhashFeatures(MediaFixture.phashTable(ids)), 3)
        Map("pairs" -> pairs.count())
      }),
      // r18: the long-code knob measured — in-bucket candidate mass of
      // the 128-bit code under 8×16-bit bands (key space 2^16 per band,
      // radius ≤ 7) vs 4×32-bit bands (key space 2^32, radius ≤ 3).
      // The claim: mass_4x32 collapses to ~the planted-duplicate mass
      // while mass_8x16 grows n²/2^16 per band — the escape hatch for
      // extreme n is WIDER BANDS from a LONGER code, not more bands.
      // pairs_r3 runs the full radius-3 pipeline at the 4×32 config.
      "phash_wide" -> (() => {
        import graft.multimodal.{MediaFixture, MediaOps}
        import spark.implicits._
        val ids = graft.Tables.load(spark, sfDir, "documents")
          .select(col("doc_id")).as[Long]
        val hashes = MediaOps.dhashFeaturesWide(
            MediaFixture.phashWideTable(ids))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        def mass(bands: Int): Long = {
          val bw = 128 / bands
          val keys = (0 until bands).map { b =>
            shiftright(element_at(col("limbs"), (b * bw) / 32 + 1),
              (b * bw) % 32).bitwiseAND(lit((1L << bw) - 1))
          }
          hashes.select(posexplode(array(keys: _*))
              .as(Seq("band", "bkey")))
            .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("m"))
            .agg(coalesce(sum(col("m") * (col("m") - 1) / 2), lit(0.0))
              .cast("long").as("mass"))
            .head.getLong(0)
        }
        val m16 = mass(8)
        val m32 = mass(4)
        val p = Dedup.phashPairsWide(hashes, 3, codeBits = 128, bands = 4)
          .count()
        hashes.unpersist(blocking = false)
        Map("pairs_r3" -> p, "mass_8x16" -> m16, "mass_4x32" -> m32)
      }),
      // r18: video perceptual near-dup — k sampled frames decoded +
      // hashed per clip (decode-bound narrow stage), one band exchange
      // keyed by (pos, band, bkey), one clip-level vote aggregation;
      // planted (re-encode/upscale/perturb) pair mass linear by
      // construction, same decade claim as phash_pairs.
      "video_phash" -> (() => countOf("q_media_video_phash_pairs")
        .map { case (_, v) => ("pairs", v) }),
      // r17: audio envelope pHash — the SAME banded pair operator as
      // the image path over the audio envelope dHash; decode-bound
      // narrow stage, one band exchange, planted (gain/perturb) pair
      // mass linear by construction.
      "audio_phash" -> (() => {
        import graft.multimodal.{MediaFixture, MediaOps}
        import spark.implicits._
        val ids = graft.Tables.load(spark, sfDir, "documents")
          .select(col("doc_id")).as[Long]
        val pairs = Dedup.phashPairs(
          MediaOps.audioDhashFeatures(MediaFixture.audioPhashTable(ids)), 3)
        Map("pairs" -> pairs.count())
      }),
      // r17: cross-corpus pHash dedup — the frozen corpus band index is
      // built once (decode + hash + band explode, persisted
      // pre-partitioned); the incoming 2-in-10 slice probes it through
      // ONE stream-static-shaped equi-join with row-local verify. The
      // decade claim: index build + probe both decode-bound (linear),
      // cross-pair mass tracks the planted split rate.
      "phash_cross" -> (() => {
        import graft.multimodal.MediaFixture
        import spark.implicits._
        val ids = graft.Tables.load(spark, sfDir, "documents")
          .select(col("doc_id")).as[Long]
        val pairs = Dedup.phashCrossPairs(
          MediaFixture.phashTable(ids.filter(_ % 10 >= 8)),
          MediaFixture.phashTable(ids.filter(_ % 10 < 8)),
          "id", "media")
        Map("pairs" -> pairs.count())
      }),
      // r15: all-but-the-top embedding cleanup — per round one corpus
      // pass + one 64-key shuffle, control-plane direction vector; the
      // residual pass is row-local. Decade metric should track the
      // corpus scans (~linear); the structural claim is that nothing in
      // the fit materializes a covariance or an n×n anything.
      "embed_abtt" -> (() => {
        val emb = graft.Tables.load(spark, sfDir, "embeddings")
        Map("rows" ->
          Similarity.allButTop(emb, "vec_id", "embedding").count())
      }),
      "pack_sequences" -> (() => materialize("q_pack_sequences")),
      "tpch_q1" -> (() => materialize("q1_agg")),
      "tpch_q18" -> (() => materialize("q18_bigorders")),
      "tpch_q21" -> (() => materialize("q21_waiting")),
      // r10 surfaces: the TVF gate's broadcast ANN (SQL-dialect parse +
      // rewrite + the same bucketed join), the watermark-closed
      // dual-stream interval join on a REAL streaming drain, and the
      // debezium changelog materialization through the gate — all run
      // exactly as the correctness gate defines them, so the stress
      // numbers cover the parse/plan/stream machinery too
      "gate_ann_tvf" -> (() => countOf("q_gate_ann_tvf")),
      "stream_join" -> (() => countOf("q_stream_join")),
      "cdc_materialize" -> (() => countOf("q_gate_cdc")),
      // r11: incoming-shard-vs-frozen-corpus dedup — candidate volume
      // is the metric (band-key join between sides, product cap held
      // ⇔ pairs grow ~linearly with the incoming shard)
      "cross_dedup" -> (() => countOf("q_dedup_cross")
        .map { case (_, v) => ("pairs", v) }),
      // r12 surfaces: the streaming DEDUP_EXACT TVF on a real drain,
      // and the streaming keyed lookup enrichment through the gate
      // (per-executor point queries; DB load is bounded by DISTINCT
      // probe keys — 25 nations — however large the stream grows)
      "gate_dedup_stream" -> (() => countOf("q_gate_dedup_stream")),
      "gate_lookup_stream" -> (() => countOf("q_gate_lookup_stream")),
      // the BATCH keyed slice path: distributed key-covering slice via
      // per-executor point queries — DB load bounded by DISTINCT probe
      // keys regardless of probe-side row count
      "gate_lookup_keyed" -> (() => countOf("q_gate_lookup_keyed")),
      // connector round trips whose WIRE volume is aggregate-bounded
      // (50 keys / 3 statuses however large orders grows): cost should
      // track the scan+agg, not the transport
      "gate_upsert_kafka" -> (() => countOf("q_gate_upsert_kafka")),
      "gate_jdbc_roundtrip" -> (() => countOf("q_gate_jdbc_roundtrip")),
      // r13: the row-pattern matcher's two growth axes, isolated by the
      // corpus shape (users grow 10x per decade, rows/user fixed ~66):
      // matchrec_keys runs the shipped gate funnel PARTITION BY user_id
      // — key count grows with the corpus, the per-key walk is constant,
      // so cost must track the shuffle+scan. matchrec_long re-keys onto
      // 256 FIXED buckets so the per-key sequence grows linearly with
      // the corpus — the walk must stay O(rows·vars) per key (the step
      // budget guards pathological backtracking, not honest growth).
      "matchrec_keys" -> (() => countOf("q_gate_match_recognize")
        .map { case (_, v) => ("matches", v) }),
      "matchrec_long" -> (() => {
        import graft.operators.{PatternMeasure, PatternVar, RowPattern,
          RowPatternSpec}
        val (_, tsExpr) = graft.Tables.eventsTsDdl(spark, sfDir)
        val ev = graft.Tables.load(spark, sfDir, "events")
          .withColumn("ts2", expr(tsExpr))
          .withColumn("ubucket", pmod(col("user_id"), lit(256)))
        val spec = RowPatternSpec(
          partitionBy = Seq("ubucket"),
          orderBy = "ts2",
          vars = Seq(
            PatternVar("A", 1, 1, greedy = true,
              Some("event_type = 'view'")),
            PatternVar("B", 1, Int.MaxValue, greedy = true,
              Some("event_type = 'click'")),
            PatternVar("C", 1, 1, greedy = true,
              Some("event_type = 'purchase'"))),
          measures = Seq(
            PatternMeasure("A", "ts2", first = true, "v_ts"),
            PatternMeasure("C", "value", first = false, "p_value")),
          withinMs = Some(24L * 3600 * 1000),
          skipPastLastRow = true)
        Map("matches" -> RowPattern(ev, spec).count(), "keys" -> 256L)
      }),
      // the r13 STREAMING matcher on a real drain: watermark-ripened
      // keyed buffers must evict as horizons close, so state tracks the
      // WITHIN window, not the corpus
      "matchrec_stream" -> (() =>
        countOf("q_gate_match_recognize_stream")
          .map { case (_, v) => ("matches", v) }),
      // r13 late surfaces. ann_ivfpq runs the composed IVF+PQ tier as
      // shipped: cells are FIXED (CentN) so probed-member count grows
      // linearly with the corpus — the claim under decade test is that
      // the routed scan's cost is nProbe/cells of the corpus *as 8-byte
      // codes*, i.e. the same slope as the corpus itself, never worse
      // (the SIZED coarse quantizer is already measured by
      // ann_ivf_sized; composing PQ changes the per-member constant,
      // not the routing slope).
      "ann_ivfpq" -> (() => countOf("q_ann_ivfpq")
        .map { case (_, v) => ("hits", v) }),
      // r14: the composed tier with the FITTED √n coarse quantizer —
      // the exact TVF-reachable surface (trailing cells arg), fit
      // included in the timed path (cached after the first pass, so
      // min-over-passes measures the warm-index probe steady state)
      "ann_ivfpq_sized" -> (() => {
        val emb = graft.Tables.load(spark, sfDir, "embeddings")
        Map("k" -> kSized.toLong,
          "hits" -> Similarity.ivfPqTopkOn(
            emb.filter(col("vec_id") >= 8), emb.filter(col("vec_id") < 8),
            "vec_id", "embedding", cells = Some(kSized)).count())
      }),
      // ... and the STREAMING probe at the same √n sizing: the
      // arriving row scores all kSized cells through the plan-baked
      // centroid array — the row-local spelling whose expression tree
      // grows with the cell count, so this row is the evidence it
      // holds (or does not) at production cell counts
      "ann_ivfpq_sized_stream" -> (() => {
        val emb = graft.Tables.load(spark, sfDir, "embeddings")
        val stage = java.nio.file.Files.createTempDirectory("ipzs_stage")
        stage.toFile.deleteOnExit()
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id"), col("embedding"))
          .write.mode("overwrite").parquet(stage.toString)
        val incoming = spark.readStream
          .schema("vec_id LONG, embedding ARRAY<FLOAT>")
          .parquet(stage.toString)
        val hits = new java.util.concurrent.atomic.AtomicLong()
        val q = Similarity.ivfPqTopkStream(
            emb.filter(col("vec_id") >= 8), incoming,
            "vec_id", "embedding", cells = Some(kSized))
          .writeStream
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                _: Long) => hits.addAndGet(b.count()); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("ipzs_ck").toString)
          .start()
        val finished = try q.awaitTermination(600000)
        finally q.stop()
        Map("k" -> kSized.toLong, "hits" -> hits.get(),
          "timed_out" -> (if (finished) 0L else 1L))
      }),
      // deletion-neighborhood fuzzy join. GenScale replicates c_name
      // VERBATIM across copies — massive exact duplication, the
      // operator's one documented adversarial input (its contract says
      // run q_dedup_exact first) — so the honest decade corpus
      // regenerates the canonical dbgen name from the SHIFTED key:
      // 10x the distinct entities, densely packed ids, exactly what a
      // larger TPC-H SF produces. Note the TRUE output grows faster
      // than n here (denser ids have more distance-1 digit neighbors);
      // the claim under test is that runtime tracks n + emitted pairs,
      // never the n² candidate space.
      "fuzzy_join" -> (() => {
        val c = graft.Tables.load(spark, sfDir, "customer")
          .select(col("c_custkey").as("id"),
            concat(lit("Customer#"),
              lpad(col("c_custkey").cast("string"), 9, "0")).as("name"))
        Map("pairs" -> Joins.fuzzySelfJoin(c, 1).count())
      }),
      // r14: the k=2 deletion neighborhood — variant fan-out grows from
      // L+1 to ~L²/2 keys per row, so the claim under decade test is
      // that runtime still tracks n·(L choose ≤2) + emitted pairs,
      // never the n² candidate space. Supplier names (shorter corpus,
      // same canonical-name regeneration as fuzzy_join — GenScale
      // replicates names verbatim, the documented adversarial input).
      "fuzzy_join2" -> (() => {
        val sup = graft.Tables.load(spark, sfDir, "supplier")
          .select(col("s_suppkey").as("id"),
            concat(lit("Supplier#"),
              lpad(col("s_suppkey").cast("string"), 9, "0")).as("name"))
        Map("pairs" -> Joins.fuzzySelfJoin(sup, 2).count())
      }),
      // r14: streaming IVF+PQ probe on a real drain — the corpus
      // freezes its composed per-cell index ONCE (encode + cell assign
      // are the one corpus-sized cost); each arriving row's cost is
      // CentN fused dots + nProbe cell-array scans, so the drain must
      // track stream + index build with zero keyed state.
      "ann_ivfpq_stream" -> (() => countOf("q_gate_ann_ivfpq_stream")
        .map { case (_, v) => ("hits", v) }),
      // r14: streaming cross-corpus fuzzy match on a real drain — the
      // corpus variant index freezes once; per arriving row the cost
      // is L+1 variant probes with fan-out bounded by true matches +
      // collisions. Names regenerate from the shifted keys (GenScale's
      // verbatim replication is the documented adversarial
      // exact-duplication input — see fuzzy_join), and the drain
      // counts distributed via foreachBatch, never a driver-side
      // memory sink.
      "fuzzy_cross_stream" -> (() => {
        val sup = graft.Tables.load(spark, sfDir, "supplier")
          .select(col("s_suppkey").as("id"),
            concat(lit("Supplier#"),
              lpad(col("s_suppkey").cast("string"), 9, "0")).as("name"))
        val stage = java.nio.file.Files.createTempDirectory("fzc_stage")
        stage.toFile.deleteOnExit()
        sup.filter(col("id") % 5 === 0)
          .write.mode("overwrite").parquet(stage.toString)
        val incoming = spark.readStream
          .schema("id LONG, name STRING").parquet(stage.toString)
        val pairs = new java.util.concurrent.atomic.AtomicLong()
        val q = Joins.fuzzyCrossJoin(incoming, sup, 1)
          .writeStream
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                _: Long) => pairs.addAndGet(b.count()); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("fzc_ck").toString)
          .start()
        val finished = try q.awaitTermination(600000)
        finally q.stop()
        Map("pairs" -> pairs.get(),
          "timed_out" -> (if (finished) 0L else 1L))
      }),
      // r15: the CODES-ONLY streaming IVF+PQ shape at the same √n
      // sizing — cell rows carry 8 PQ bytes per member (vs dim+1 raw
      // longs) and the exact re-rank fetches the 100 ADC survivors'
      // vectors through 100 stream-static joins (the only zero-state
      // spelling). Measured against ann_ivfpq_sized_stream above to
      // decide which shape ships: per-probe index read vs plan size
      "ivfpq_codes_stream" -> (() => {
        val emb = graft.Tables.load(spark, sfDir, "embeddings")
        val stage = java.nio.file.Files.createTempDirectory("ipqc_stage")
        stage.toFile.deleteOnExit()
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id"), col("embedding"))
          .write.mode("overwrite").parquet(stage.toString)
        val incoming = spark.readStream
          .schema("vec_id LONG, embedding ARRAY<FLOAT>")
          .parquet(stage.toString)
        val hits = new java.util.concurrent.atomic.AtomicLong()
        val q = Similarity.ivfPqTopkStreamCodesOnly(
            emb.filter(col("vec_id") >= 8), incoming,
            "vec_id", "embedding", cells = Some(kSized))
          .writeStream
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                _: Long) => hits.addAndGet(b.count()); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("ipqc_ck").toString)
          .start()
        // a DNF is this cell's MEASUREMENT, not a harness failure: the
        // shape under test times out at sf10 (SCALE.md r15; 240 s vs
        // the winner's 19 s is conclusive) — report it as data so the
        // full-suite artifact still completes
        val finished = try q.awaitTermination(240000)
        finally q.stop()
        Map("k" -> kSized.toLong, "hits" -> hits.get(),
          "timed_out" -> (if (finished) 0L else 1L))
      }),
      // r14: streaming semantic dedup (embedding cross-pairs) on a
      // real drain — the corpus cell index freezes once; per arriving
      // row the cost is the plan-baked argmin + one cell occupancy
      // (corpus/16 with the shipped fixed-cell contract — the same
      // fixed-cells caveat as ann_ivfpq; production sizes cells √n).
      "embed_cross_stream" -> (() => {
        val emb = graft.Tables.load(spark, sfDir, "embeddings")
        val stage = java.nio.file.Files.createTempDirectory("sdc_stage")
        stage.toFile.deleteOnExit()
        emb.filter(col("vec_id") % 4 === 0)
          .select(col("vec_id"), col("embedding"))
          .write.mode("overwrite").parquet(stage.toString)
        val incoming = spark.readStream
          .schema("vec_id LONG, embedding ARRAY<FLOAT>")
          .parquet(stage.toString)
        val pairs = new java.util.concurrent.atomic.AtomicLong()
        val q = Dedup.embedCrossPairs(incoming, emb, "vec_id", "embedding")
          .writeStream
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                _: Long) => pairs.addAndGet(b.count()); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("sdc_ck").toString)
          .start()
        // non-fatal on timeout (same contract as ivfpq_codes_stream): a
        // slow drain on a contended host is this cell's measurement —
        // it must not kill the whole artifact (an r15 run died exactly
        // here and shipped an EMPTY sf10 json)
        val finished = try q.awaitTermination(600000)
        finally q.stop()
        Map("pairs" -> pairs.get(),
          "timed_out" -> (if (finished) 0L else 1L))
      }),
      // the same drain at PRODUCTION sizing: √n kmeans-fit cells keep
      // the per-row scan √n — the knob that separates this from the
      // fixed-16-cell gate contract above (the embedCrossPairsWith
      // API; same sizing law as semantic_sized).
      "embed_cross_sized" -> (() => {
        val raw = graft.Tables.load(spark, sfDir, "embeddings")
        val stage = java.nio.file.Files.createTempDirectory("sds_stage")
        stage.toFile.deleteOnExit()
        raw.filter(col("vec_id") % 4 === 0)
          .select(col("vec_id"), col("embedding"))
          .write.mode("overwrite").parquet(stage.toString)
        val incoming = spark.readStream
          .schema("vec_id LONG, embedding ARRAY<FLOAT>")
          .parquet(stage.toString)
        val pairs = new java.util.concurrent.atomic.AtomicLong()
        // the exact TVF-reachable surface (r14: the fit moved inside
        // embedCrossPairsSized, so this measures the shipped path
        // including its stride-seed + one-Lloyd-round fit)
        val q = Dedup.embedCrossPairsSized(incoming, raw,
            "vec_id", "embedding", kSized, 0.35)
          .writeStream
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                _: Long) => pairs.addAndGet(b.count()); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("sds_ck").toString)
          .start()
        val finished = try q.awaitTermination(600000)
        finally q.stop()
        Map("k" -> kSized.toLong, "pairs" -> pairs.get(),
          "timed_out" -> (if (finished) 0L else 1L))
      }),
      // streaming LSH ANN TVF on a real drain: the corpus buckets ONCE
      // into a materialized (bucket, candidates) index; per arriving
      // row the cost is one bucket occupancy, so the drain must track
      // the stream + index build, with zero state.
      "gate_ann_stream" -> (() => countOf("q_gate_ann_stream")),
      // streaming DEDUP_CROSS_PAIRS against a frozen corpus index
      // (r13): corpus shingles once, each micro-batch band-joins it —
      // O(shard + corpus), never corpus².
      "gate_cross_stream" -> (() => countOf("q_gate_cross_stream")
        .map { case (_, v) => ("pairs", v) }),
      // domain-authority PageRank as shipped: the host graph's NODE set
      // is bounded (hosts × outlink domains), so decade growth must
      // land on the one corpus-sized stage — URL extraction + edge
      // aggregation — while the three iterations stay graph-sized.
      "pagerank_hosts" -> (() => countOf("q_graph_pagerank")
        .map { case (_, v) => ("nodes", v) }),
      // the complementary axis: a corpus-sized CITATION graph (one node
      // per document, two deterministic out-edges each — a tree chord
      // plus a pseudo-random jump), so the per-iteration join+agg
      // machinery itself is what grows 10x per decade.
      "pagerank_docgraph" -> (() => {
        val ids = graft.Tables.load(spark, sfDir, "documents")
          .select(col("doc_id"))
        val edges = ids.select(col("doc_id").cast("string").as("src"),
            (col("doc_id") / 2).cast("long").cast("string").as("dst"))
          .union(ids.select(col("doc_id").cast("string").as("src"),
            pmod(col("doc_id") * 7 + 3, lit(nDocs)).cast("string")
              .as("dst")))
        val r = graft.operators.PageRank(edges, 3)
        Map("nodes" -> r.count(), "edges" -> (2 * nDocs))
      }),
      // r16: the prefix-filtered EXACT Jaccard join, unbounded. The
      // claim under test is that candidate volume tracks token
      // SPECIFICITY, not corpus²: prefix tokens are the rarest slice of
      // each doc, so with a discriminative tokenization the join groups
      // stay small while the corpus grows. The synthetic corpus has a
      // 31-word vocabulary — at 2-word shingles every token is common
      // by construction (measured Σ prefix-df² = 25.7M per 5 k docs,
      // 2.6 G raw join rows at sf10 — the cell was killed at 17 min),
      // so the cell runs the tokenization a real dedup pipeline would
      // use here, 3-word shingles (Σ prefix-df² = 732 k per 5 k docs,
      // 35×), exactly as Lee et al. shingle 50-grams for ExactSubstr.
      // Low-specificity corpora route to MinHash-LSH (the approximate
      // scale path); the exact join's cost is data-dependent and that
      // dependence is the documented, measured contract (SCALE.md r16).
      "ppjoin_exact" -> (() => {
        val sets = graft.Tables.load(spark, sfDir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= 3)
          .select(col("doc_id"), array_distinct(
            graft.functions.GraftFunctions.wordNgrams(col("w"), 3))
            .as("ss"))
        Map("pairs" -> Dedup.jaccardJoin(sets).count())
      }),
      // r16: cross-corpus exact Jaccard, STREAMING incoming vs frozen
      // corpus prefix index — the claim under test is that the drain
      // cost tracks the incoming shard (stream-static joins against the
      // once-built index; no state store), with the same 3-word-shingle
      // specificity note as ppjoin_exact. pairs = qualifying pairs.
      "ppjoin_cross_stream" -> (() => {
        import org.apache.spark.sql.streaming.Trigger
        val docs = graft.Tables.load(spark, sfDir, "documents")
        val corpus = docs.filter(col("doc_id") % 10 < 8)
        val incB = docs.filter(col("doc_id") % 10 >= 8)
        val dir = java.nio.file.Files
          .createTempDirectory("ppjx_stage").toString
        incB.write.mode("overwrite").parquet(dir)
        val inc = spark.readStream
          .schema(spark.read.parquet(dir).schema).parquet(dir)
        val out = Dedup.jaccardJoinCrossStream(
          inc, corpus, "doc_id", "text", shingleN = 3)
        val name = "ppjx_stress_sink"
        val q = out.writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        val finished = q.awaitTermination(540000)
        q.stop()
        Map("pairs" -> spark.table(name).count(),
          "timed_out" -> (if (finished) 0L else 1L))
      }),
      // r18: the Jaccard drain's doc-length escape hatch, measured at
      // stressed doc length ×10 (10 docs concatenated per stressed doc).
      // The stream side explodes only prefix tokens, so the wire payload
      // is O(|prefix|·|ss|) per doc, not O(|ss|²); payload_full_elems is
      // the pre-r18 counterfactual (Σ sz²) next to the shipped
      // payload_pfx_elems (Σ plen·sz) — at theta=3/5 the prefix is
      // ~2/5 of the set, and the drop compounds with doc length.
      // The incoming side is a FIXED ~100-long-doc shard (the
      // production at-ingest unit — a micro-batch of crawl shards)
      // with two corpus docs planted verbatim so pairs > 0 proves the
      // probe end-to-end; the axes under stress are doc length (×10,
      // in-cell) and CORPUS decade (via sfDir). A first cut let the
      // shard grow with the corpus — that conflates the two axes and
      // measures "one giant micro-batch", which at sf1 blew the 540 s
      // escape; a shard-sized batch against the 10× corpus is the
      // shape the operator actually runs at ingest.
      "ppjoin_cross_longdoc" -> (() => {
        import org.apache.spark.sql.streaming.Trigger
        val stressed = graft.Tables.load(spark, sfDir, "documents")
          .groupBy((col("doc_id") / 10).cast("long").as("doc_id"))
          .agg(concat_ws(" ", collect_list(col("text"))).as("text"))
        val corpus = stressed.filter(col("doc_id") % 10 < 8)
        val incB = stressed.filter(col("doc_id") % 10 >= 8)
          .orderBy(col("doc_id")).limit(98)
          .unionByName(corpus.orderBy(col("doc_id")).limit(2)
            .select((col("doc_id") + 1000000000L).as("doc_id"),
              col("text")))
        val sets = Dedup.jaccardSets(incB, "doc_id", "text", 3)
          .select(size(col("ss")).cast("long").as("sz"))
          .withColumn("plen",
            col("sz") - floor((col("sz") * 3 + 4) / 5).cast("long") + 1)
          .agg(sum(col("sz") * col("sz")).as("full"),
            sum(col("plen") * col("sz")).as("pfx"))
          .head()
        val dir = java.nio.file.Files
          .createTempDirectory("ppjl_stage").toString
        incB.write.mode("overwrite").parquet(dir)
        val inc = spark.readStream
          .schema(spark.read.parquet(dir).schema).parquet(dir)
        val out = Dedup.jaccardJoinCrossStream(
          inc, corpus, "doc_id", "text", shingleN = 3)
        val name = "ppjl_stress_sink"
        val q = out.writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        val finished = q.awaitTermination(540000)
        q.stop()
        Map("pairs" -> spark.table(name).count(),
          "payload_full_elems" -> sets.getLong(0),
          "payload_pfx_elems" -> sets.getLong(1),
          "timed_out" -> (if (finished) 0L else 1L))
      }),
      // r16: BPE pair-merge trainer — the claim under test is K-round
      // linearity: each round is one cached-corpus scan + a vocabulary-
      // sized pair-count shuffle + a per-row rewrite, with a driver-side
      // single-row argmax; nothing grows with corpus size except the
      // scans themselves.
      "bpe_trainer" -> (() => {
        val m = TextAnalysis.bpeMerges(
          graft.Tables.load(spark, sfDir, "documents"), "text",
          TextAnalysis.BpeRounds).collect()
        Map("rounds" -> m.length.toLong, "top_freq" -> m.head.getLong(3))
      }),
      // r18: TOKENIZE decade cell — encode cost vs merge-table DEPTH as
      // rounds grows 4/16/64, at each corpus scale. One 64-round fit
      // (through the same StaticIndexCache path the TVF uses, so pass 2
      // measures the warm-cache hit the production gate sees), then the
      // ENCODE is timed per depth: the replace chain at 4/16/64 literal
      // replaces vs the rank-table mapPartitions encoder at 64. The
      // chain's per-row cost is O(merges × chars) — every replace
      // re-scans the whole document string — so chain64/chain4 names
      // the slope, and large64 vs chain64 is the measurement behind
      // BpeReplaceChainMax (where the depth-independent object-path
      // encoder overtakes the codegen chain).
      "tokenize" -> (() => {
        val docs = graft.Tables.load(spark, sfDir, "documents")
        val t0 = System.nanoTime()
        val merges = StaticIndexCache.getOrBuild[Seq[(String, String)]](
          StaticIndexCache.corpusKey(spark, docs, "bpe_merges_stress",
            "text", 64)) {
          TextAnalysis.bpeMergeList(docs, "text", 64)
        }
        val fitMs = (System.nanoTime() - t0) / 1000000
        def encMs(df: DataFrame): Long = {
          val t = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t) / 1000000
        }
        val c4 = encMs(TextAnalysis.bpeEncodeChain(
          docs, "doc_id", "text", merges.take(4)))
        val c16 = encMs(TextAnalysis.bpeEncodeChain(
          docs, "doc_id", "text", merges.take(16)))
        val c64 = encMs(TextAnalysis.bpeEncodeChain(
          docs, "doc_id", "text", merges))
        val l64 = encMs(TextAnalysis.bpeEncodeLarge(
          docs, "doc_id", "text", merges))
        Map("fit_ms" -> fitMs, "rounds" -> merges.size.toLong,
          "chain4_ms" -> c4, "chain16_ms" -> c16, "chain64_ms" -> c64,
          "large64_ms" -> l64)
      }),
      // r16: exact heavy hitters — the claims under test are (a) the
      // sketch pass's shuffle is capacity-bounded however many distinct
      // keys the corpus grows, and (b) the exactness PROOF (kth exact
      // count > sketch error bound) still fires on skewed data at
      // corpus scale, so the full-domain fallback stays cold.
      "heavy_hitters" -> (() => {
        import org.apache.spark.sql.functions.{count => fcount}
        val ev = graft.Tables.load(spark, sfDir, "events")
          .select(when(col("user_id") % 10 < 7, col("user_id") % 3)
            .otherwise(col("user_id")).as("k"))
        val cap = 64
        val head = ev.agg(graft.functions.GraftFunctions
            .heavyHitters(col("k"), cap).as("sk"),
          fcount(col("k")).as("n")).head()
        val entries = head.getSeq[org.apache.spark.sql.Row](0)
        val dropped = if (entries.isEmpty) 0L else entries.head.getLong(2)
        val top = graft.operators.HeavyHitters
          .exactTopK(ev, "k", k = 3, capacity = cap).collect()
        Map("dropped" -> dropped,
          "kth_cnt" -> top.last.getLong(1),
          "provable" -> (if (top.last.getLong(1) > dropped) 1L else 0L))
      })
    )

    // optional comma-separated op filter for selective re-measurement
    // (never set by the driver)
    val onlyOps = sys.env.get("SPARK_GRAFT_STRESS_OPS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = ops.filter { case (name, _) => onlyOps.forall(_.contains(name)) }

    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    val metrics = scala.collection.mutable.LinkedHashMap[String, Metrics]()
    for (p <- 1 to passes; (name, fn) <- selected) {
      val t0 = System.nanoTime()
      val m = fn()
      val dt = (System.nanoTime() - t0) / 1e9
      // metrics travel WITH the pass that set the min — a pass-1 time
      // next to pass-2 metrics once shipped "sec=32.4, timed_out=1"
      // for an op whose 32 s pass completed fine
      if (!times.get(name).exists(_ <= dt)) metrics(name) = m
      times(name) = times.get(name).fold(dt)(math.min(_, dt))
      System.err.println(f"[stress] pass $p $name%-18s $dt%8.2fs " +
        m.map { case (k, v) => s"$k=$v" }.mkString(" "))
    }

    val opsJson = times.map { case (name, t) =>
      val ms = metrics(name).map { case (k, v) => s""""$k":$v""" }
      (Seq(f""""sec":$t%.3f""") ++ ms)
        .mkString(s""""$name":{""", ",", "}")
    }.mkString(",")
    println(s"""{"sf":"$sfDir","n_embeddings":$n,"n_documents":$nDocs,""" +
      s""""k_sized":$kSized,"planes_sized":$planesSized,"ops":{$opsJson}}""")
    spark.stop()
  }
}
