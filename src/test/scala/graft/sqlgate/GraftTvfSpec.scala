package graft.sqlgate

import graft.SparkSpec

/** Gate-reachable dedup operators: a reference-style SQL-script author
  * reaches the LLM-pipeline surface through `ScriptRunner` with the same
  * TVF idiom as the window functions. The gate output must match the
  * library operators' (the oracle-checked `q_dedup_exact` /
  * `q_dedup_minhash` plans) exactly.
  */
class GraftTvfSpec extends SparkSpec {

  private val docsDir = "/root/testdata/sf0.001/documents.parquet"

  private def docsDdl(name: String) =
    s"""create table $name (
       |  doc_id BIGINT, text STRING, lang STRING, source STRING,
       |  n_chars BIGINT
       |) with (
       |  'connector' = 'filesystem', 'path' = '$docsDir',
       |  'format' = 'parquet'
       |);""".stripMargin

  test("DEDUP_EXACT through the gate reproduces q_dedup_exact") {
    val runner = new ScriptRunner(spark, batchMode = true)
    runner.run(
      s"""${docsDdl("docs")}
         |CREATE TABLE dedup_sink (keep_id BIGINT, n_copies BIGINT)
         |WITH ('connector' = 'memory');
         |INSERT INTO dedup_sink
         |SELECT keep_id, n_copies
         |FROM TABLE(DEDUP_EXACT(TABLE docs, DESCRIPTOR(doc_id),
         |  DESCRIPTOR(text)));""".stripMargin)
    val viaGate = spark.table("dedup_sink_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = graft.queries.Dedup.exactGroups(
      spark.read.parquet(docsDir), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaGate == direct && viaGate.nonEmpty)
  }

  test("DEDUP_MINHASH_PAIRS through the gate matches the library operator") {
    val runner = new ScriptRunner(spark, batchMode = true)
    runner.run(
      s"""${docsDdl("docs_mh")}
         |CREATE TABLE pair_sink (ida BIGINT, idb BIGINT, jacc DOUBLE)
         |WITH ('connector' = 'memory');
         |INSERT INTO pair_sink
         |SELECT ida, idb, jacc
         |FROM TABLE(DEDUP_MINHASH_PAIRS(TABLE docs_mh, DESCRIPTOR(doc_id),
         |  DESCRIPTOR(text), 0.8));""".stripMargin)
    val viaGate = spark.table("pair_sink_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = graft.queries.Dedup.minhashVerifiedPairs(
      spark.read.parquet(docsDir), "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaGate == direct && viaGate.nonEmpty)
  }

  test("DEDUP_SIMHASH_PAIRS through the gate matches the library operator") {
    val runner = new ScriptRunner(spark, batchMode = true)
    runner.run(
      s"""${docsDdl("docs_sh")}
         |CREATE TABLE sh_pair_sink (ida BIGINT, idb BIGINT,
         |  hamming BIGINT) WITH ('connector' = 'memory');
         |INSERT INTO sh_pair_sink
         |SELECT ida, idb, hamming
         |FROM TABLE(DEDUP_SIMHASH_PAIRS(TABLE docs_sh,
         |  DESCRIPTOR(doc_id), DESCRIPTOR(text), 15));""".stripMargin)
    val viaGate = spark.table("sh_pair_sink_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = graft.queries.Dedup.simhashVerifiedPairs(
      spark.read.parquet(docsDir), "doc_id", "text", 15)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaGate == direct && viaGate.nonEmpty)
    // the explicit chunkWidth must also agree with the corpus-sized
    // default at this corpus (500 docs → ceil(log2)+4 = 13 → floor 15)
    assert(graft.queries.Dedup.simhashChunkWidth(
      spark.read.parquet(docsDir).count()) == 15)
  }

  test("DEDUP_CROSS_PAIRS through the gate matches the library operator") {
    val runner = new ScriptRunner(spark, batchMode = true)
    runner.run(
      s"""${docsDdl("docs_cxs")}
         |CREATE OR REPLACE TEMPORARY VIEW cxs_inc AS
         |  SELECT doc_id, text FROM docs_cxs WHERE doc_id % 10 >= 8;
         |CREATE OR REPLACE TEMPORARY VIEW cxs_cor AS
         |  SELECT doc_id, text FROM docs_cxs WHERE doc_id % 10 < 8;
         |CREATE TABLE cxs_sink (ida BIGINT, idb BIGINT, jacc DOUBLE)
         |WITH ('connector' = 'memory');
         |INSERT INTO cxs_sink
         |SELECT ida, idb, jacc
         |FROM TABLE(DEDUP_CROSS_PAIRS(TABLE cxs_inc, TABLE cxs_cor,
         |  DESCRIPTOR(doc_id), DESCRIPTOR(text), 0.8));""".stripMargin)
    val viaGate = spark.table("cxs_sink_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = spark.read.parquet(docsDir)
    val direct = graft.queries.Dedup.minhashCrossPairs(
      docs.filter("doc_id % 10 >= 8"), docs.filter("doc_id % 10 < 8"),
      "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaGate == direct)
    // every pair is incoming × corpus by construction
    assert(viaGate.forall { case (a, b) => a % 10 >= 8 && b % 10 < 8 })
  }

  test("TVF composes with downstream SQL (filter + join back)") {
    val runner = new ScriptRunner(spark, batchMode = true)
    runner.run(
      s"""${docsDdl("docs_c")}
         |CREATE TABLE multi_sink (keep_id BIGINT, n_copies BIGINT,
         |  text STRING) WITH ('connector' = 'memory');
         |INSERT INTO multi_sink
         |SELECT d.keep_id, d.n_copies, docs_c.text
         |FROM TABLE(DEDUP_EXACT(TABLE docs_c, DESCRIPTOR(doc_id),
         |  DESCRIPTOR(text))) d
         |JOIN docs_c ON docs_c.doc_id = d.keep_id
         |WHERE d.keep_id % 7 = 0;""".stripMargin)
    val rows = spark.table("multi_sink_out").collect()
    assert(rows.nonEmpty && rows.forall(r =>
      r.getLong(0) % 7 == 0 && r.getString(2) != null))
  }

  test("curation pipeline composes TWO TVFs in ONE statement: exact " +
    "dedup keepers minus BM25 decontamination hits") {
    import org.apache.spark.sql.functions._
    val runner = new ScriptRunner(spark, batchMode = true)
    runner.run(
      s"""${docsDdl("docs_cp")}
         |CREATE OR REPLACE TEMPORARY VIEW bench_q AS
         |  SELECT doc_id AS qid,
         |    concat_ws(' ', slice(split(text, ' '), 1, 6)) AS qtext
         |  FROM docs_cp WHERE doc_id % 17 = 1;
         |CREATE TABLE curated_sink (doc_id BIGINT) WITH
         |  ('connector' = 'memory');
         |INSERT INTO curated_sink
         |SELECT d.doc_id
         |FROM docs_cp d
         |JOIN TABLE(DEDUP_EXACT(TABLE docs_cp, DESCRIPTOR(doc_id),
         |  DESCRIPTOR(text))) k ON d.doc_id = k.keep_id
         |LEFT ANTI JOIN (
         |  SELECT doc_id FROM TABLE(TEXT_SEARCH_BM25(TABLE bench_q,
         |    TABLE docs_cp, DESCRIPTOR(qid), DESCRIPTOR(qtext),
         |    DESCRIPTOR(doc_id), DESCRIPTOR(text), 3))
         |) c ON d.doc_id = c.doc_id;""".stripMargin)
    val viaGate = spark.table("curated_sink_out")
      .collect().map(_.getLong(0)).toSet
    // library-side expectation: same keepers minus same top-3 hits
    val docs = spark.read.parquet(docsDir)
    val keepers = graft.queries.Dedup.exactGroups(docs, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    val q = docs.filter(col("doc_id") % 17 === 1)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 6)).as("qtext"))
    val hits = graft.queries.Search.bm25TopK(q, docs, "qid", "qtext",
      "doc_id", "text", 3).collect().map(_.getLong(1)).toSet
    assert(viaGate == (keepers -- hits) && viaGate.nonEmpty &&
      hits.nonEmpty, s"gate=${viaGate.size} keepers=${keepers.size} " +
        s"hits=${hits.size}")
  }

  test("MEDIA_FEATURES / MEDIA_VIDEO_FRAMES through the gate match the " +
    "library operators") {
    import spark.implicits._
    import graft.multimodal.{MediaFixture, MediaOps}
    val ids = Seq(0L, 1L, 2L, 3L, 4L, 5L, 9L).toDS()
    MediaFixture.mediaTable(ids).createOrReplaceTempView("tvf_imgs")
    MediaFixture.videoTable(ids).createOrReplaceTempView("tvf_clips")
    val runner = new ScriptRunner(spark, batchMode = true)
    runner.run(
      """CREATE TABLE img_sink (id BIGINT, fmt STRING, ok BOOLEAN,
        |  width INT, height INT, n_px BIGINT, r_sum BIGINT,
        |  g_sum BIGINT, b_sum BIGINT) WITH ('connector' = 'memory');
        |INSERT INTO img_sink SELECT id, fmt, ok, width, height, n_px,
        |  r_sum, g_sum, b_sum
        |FROM TABLE(MEDIA_FEATURES(TABLE tvf_imgs, DESCRIPTOR(id),
        |  DESCRIPTOR(media)));
        |CREATE TABLE clip_sink (id BIGINT, n_frames INT, frame_idx INT,
        |  ok BOOLEAN, width INT, height INT, r_sum BIGINT,
        |  g_sum BIGINT, b_sum BIGINT) WITH ('connector' = 'memory');
        |INSERT INTO clip_sink SELECT id, n_frames, frame_idx, ok,
        |  width, height, r_sum, g_sum, b_sum
        |FROM TABLE(MEDIA_VIDEO_FRAMES(TABLE tvf_clips, DESCRIPTOR(id),
        |  DESCRIPTOR(media), 3));""".stripMargin)
    val gateImg = spark.table("img_sink_out").collect()
      .map(_.toSeq).sortBy(_.toString)
    val libImg = MediaOps.imageFeatures(MediaFixture.mediaTable(ids))
      .toDF().collect().map(_.toSeq).sortBy(_.toString)
    assert(gateImg.toSeq == libImg.toSeq)
    val gateVid = spark.table("clip_sink_out").collect()
      .map(_.toSeq).sortBy(_.toString)
    val libVid = MediaOps.videoFrameFeatures(MediaFixture.videoTable(ids), 3)
      .toDF().collect().map(_.toSeq).sortBy(_.toString)
    assert(gateVid.toSeq == libVid.toSeq)
    // pre-flight validator accepts both spellings
    GraftTvfRewrite.validateOnly(
      """SELECT * FROM TABLE(MEDIA_FEATURES(TABLE t, DESCRIPTOR(id),
        |DESCRIPTOR(media)))""".stripMargin)
    GraftTvfRewrite.validateOnly(
      """SELECT * FROM TABLE(MEDIA_VIDEO_FRAMES(TABLE t, DESCRIPTOR(id),
        |DESCRIPTOR(media), 5))""".stripMargin)
  }

  test("MEDIA_AUDIO / MEDIA_RESIZE / DEDUP_PHASH_PAIRS through the gate " +
    "match the library operators") {
    import spark.implicits._
    import graft.multimodal.{MediaFixture, MediaOps}
    val ids = Seq(0L, 1L, 2L, 3L, 4L, 5L, 7L, 10L, 11L, 12L, 13L).toDS()
    MediaFixture.audioTable(ids).createOrReplaceTempView("tvf_wavs")
    MediaFixture.mediaTable(ids).createOrReplaceTempView("tvf_rsz_imgs")
    MediaFixture.phashTable(ids).createOrReplaceTempView("tvf_ph_imgs")
    val runner = new ScriptRunner(spark, batchMode = true)
    runner.run(
      """CREATE TABLE wav_sink (id BIGINT, fmt STRING, ok BOOLEAN,
        |  channels INT, rate INT, frames BIGINT, ch0_sum BIGINT,
        |  ch1_sum BIGINT, peak BIGINT) WITH ('connector' = 'memory');
        |INSERT INTO wav_sink SELECT id, fmt, ok, channels, rate,
        |  frames, ch0_sum, ch1_sum, peak
        |FROM TABLE(MEDIA_AUDIO(TABLE tvf_wavs, DESCRIPTOR(id),
        |  DESCRIPTOR(media)));
        |CREATE TABLE rsz_sink (id BIGINT, width INT, height INT,
        |  r_sum BIGINT, g_sum BIGINT, b_sum BIGINT)
        |  WITH ('connector' = 'memory');
        |INSERT INTO rsz_sink SELECT id, width, height, r_sum, g_sum,
        |  b_sum
        |FROM TABLE(MEDIA_RESIZE(TABLE tvf_rsz_imgs, DESCRIPTOR(id),
        |  DESCRIPTOR(media), 3));
        |CREATE TABLE ph_sink (id_a BIGINT, id_b BIGINT, hamming BIGINT)
        |  WITH ('connector' = 'memory');
        |INSERT INTO ph_sink SELECT id_a, id_b, hamming
        |FROM TABLE(DEDUP_PHASH_PAIRS(TABLE tvf_ph_imgs, DESCRIPTOR(id),
        |  DESCRIPTOR(media), 2));""".stripMargin)
    val gateWav = spark.table("wav_sink_out").collect()
      .map(_.toSeq).sortBy(_.toString)
    val libWav = MediaOps.audioFeatures(MediaFixture.audioTable(ids))
      .toDF().collect().map(_.toSeq).sortBy(_.toString)
    assert(gateWav.toSeq == libWav.toSeq)
    val gateRsz = spark.table("rsz_sink_out").collect()
      .map(_.toSeq).sortBy(_.toString)
    val libRsz = MediaOps.resizeFeatures(MediaFixture.mediaTable(ids), 3)
      .toDF().collect().map(_.toSeq).sortBy(_.toString)
    assert(gateRsz.toSeq == libRsz.toSeq)
    val gatePh = spark.table("ph_sink_out").collect()
      .map(_.toSeq).sortBy(_.toString)
    val libPh = graft.queries.Dedup.phashPairs(
      MediaOps.dhashFeatures(MediaFixture.phashTable(ids)), 2)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(gatePh.toSeq == libPh.toSeq)
    assert(gatePh.nonEmpty, "planted clusters must produce pairs")
    // default-argument spellings validate pre-flight
    GraftTvfRewrite.validateOnly(
      "SELECT * FROM TABLE(MEDIA_AUDIO(TABLE t, DESCRIPTOR(id), " +
        "DESCRIPTOR(media)))")
    GraftTvfRewrite.validateOnly(
      "SELECT * FROM TABLE(MEDIA_RESIZE(TABLE t, DESCRIPTOR(id), " +
        "DESCRIPTOR(media)))")
    GraftTvfRewrite.validateOnly(
      "SELECT * FROM TABLE(DEDUP_PHASH_PAIRS(TABLE t, DESCRIPTOR(id), " +
        "DESCRIPTOR(media)))")
  }

  test("a TVF inside a CREATE VIEW body routes through the rewrite " +
    "(composition scripts chain TVF -> view -> TVF)") {
    import spark.implicits._
    import graft.multimodal.MediaFixture
    MediaFixture.videoTable(Seq(0L, 1L, 2L, 3L, 4L, 6L, 7L).toDS())
      .createOrReplaceTempView("view_tvf_clips")
    val runner = new ScriptRunner(spark, batchMode = true)
    // regression: instantiateSources used to PARSE the raw view body to
    // collect table refs, and TVF syntax is only Spark-parseable after
    // the rewrite — this script failed with PARSE_SYNTAX_ERROR
    runner.run(
      """CREATE OR REPLACE TEMPORARY VIEW view_tvf_vecs AS
        |SELECT id, array(
        |    CAST(sum(r_sum) AS DOUBLE) / CAST(sum(width * height) AS DOUBLE)
        |  ) AS vec
        |FROM TABLE(MEDIA_VIDEO_FRAMES(TABLE view_tvf_clips,
        |  DESCRIPTOR(id), DESCRIPTOR(media), 3))
        |WHERE ok GROUP BY id;
        |CREATE TABLE view_tvf_sink (id BIGINT, n INT) WITH
        |  ('connector' = 'memory');
        |INSERT INTO view_tvf_sink SELECT id, 1 AS n FROM view_tvf_vecs;
        |""".stripMargin)
    assert(spark.table("view_tvf_sink_out").count() == 7)
  }

  test("two-table TOKENIZE routes a STREAMING incoming side against a " +
    "bounded fit corpus; both spellings validate") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tvf_tok_stream")
    dir.toFile.deleteOnExit()
    Seq((1L, "a b c"), (2L, "a b"), (3L, "a b c d"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir.toString)
    val corpus = spark.read.parquet(dir.toString)
    corpus.createOrReplaceTempView("tok_corpus")
    spark.readStream.schema(corpus.schema).parquet(dir.toString)
      .createOrReplaceTempView("tok_incoming_stream")
    // the rewrite must accept a streaming incoming side (encode is a
    // stateless replace chain) and produce a streaming relation
    val out = spark.sql(FlinkSqlRewrite(
      "SELECT * FROM TABLE(TOKENIZE(TABLE tok_incoming_stream, " +
        "TABLE tok_corpus, DESCRIPTOR(doc_id), DESCRIPTOR(text), 2))"))
    assert(out.isStreaming)
    GraftTvfRewrite.validateOnly(
      "SELECT * FROM TABLE(TOKENIZE(TABLE t, DESCRIPTOR(id), " +
        "DESCRIPTOR(text), 3))")
    GraftTvfRewrite.validateOnly(
      "SELECT * FROM TABLE(TOKENIZE(TABLE a, TABLE b, DESCRIPTOR(id), " +
        "DESCRIPTOR(text)))")
  }

  test("DEDUP_PHASH_PAIRS rejects a streaming source loudly") {
    import spark.implicits._
    val staged = java.nio.file.Files.createTempDirectory("tvf_ph_stream")
    staged.toFile.deleteOnExit()
    graft.multimodal.MediaFixture.phashTable(Seq(0L, 1L).toDS())
      .write.mode("overwrite").parquet(staged.toString)
    val schema = spark.read.parquet(staged.toString).schema
    spark.readStream.schema(schema).parquet(staged.toString)
      .createOrReplaceTempView("tvf_ph_streaming")
    val e = intercept[Exception] {
      spark.sql(FlinkSqlRewrite(
        "SELECT * FROM TABLE(DEDUP_PHASH_PAIRS(TABLE tvf_ph_streaming, " +
          "DESCRIPTOR(id), DESCRIPTOR(media)))"))
    }
    assert(e.getMessage.contains("streaming"))
  }

  test("HEAVY_HITTERS / DEDUP_JACCARD_PAIRS forms validate") {
    GraftTvfRewrite.validateOnly(
      "SELECT * FROM TABLE(HEAVY_HITTERS(TABLE t, DESCRIPTOR(k), 5))")
    GraftTvfRewrite.validateOnly(
      "SELECT * FROM TABLE(HEAVY_HITTERS(TABLE t, DESCRIPTOR(k), 5, 128))")
    GraftTvfRewrite.validateOnly(
      """SELECT * FROM TABLE(DEDUP_JACCARD_PAIRS(TABLE d,
        |DESCRIPTOR(doc_id), DESCRIPTOR(text)))""".stripMargin)
    GraftTvfRewrite.validateOnly(
      """SELECT * FROM TABLE(DEDUP_JACCARD_PAIRS(TABLE d,
        |DESCRIPTOR(doc_id), DESCRIPTOR(text), 4, 5))""".stripMargin)
    // k is required for HEAVY_HITTERS — its absence is malformed
    val e = intercept[IllegalArgumentException] {
      GraftTvfRewrite.validateOnly(
        "SELECT * FROM TABLE(HEAVY_HITTERS(TABLE t, DESCRIPTOR(k)))")
    }
    assert(e.getMessage.contains("malformed graft TVF"))
    GraftTvfRewrite.validateOnly(
      "SELECT * FROM TABLE(PROFILE(TABLE t))")
    GraftTvfRewrite.validateOnly(
      "SELECT * FROM TABLE(TEXT_BPE_MERGES(TABLE t, DESCRIPTOR(text)))")
    GraftTvfRewrite.validateOnly(
      "SELECT * FROM TABLE(TEXT_BPE_MERGES(TABLE t, DESCRIPTOR(text), 6))")
    GraftTvfRewrite.validateOnly(
      """SELECT * FROM TABLE(DEDUP_JACCARD_CROSS(TABLE a, TABLE b,
        |DESCRIPTOR(id), DESCRIPTOR(text)))""".stripMargin)
  }

  test("PROFILE TVF handles exotic column types without crashing") {
    import spark.implicits._
    val df = Seq((1L, Seq(1, 2), Map("a" -> 1), Array[Byte](1), 2.5))
      .toDF("id", "arr", "m", "bin", "d")
    val rows = graft.operators.TableProfile.profile(df).collect()
    assert(rows.length == 5)
    val byCol = rows.map(r => r.getString(0) -> r).toMap
    assert(byCol("id").getString(4) == "1")       // min_s rendered
    assert(byCol("d").getString(4) == "2.50")     // decimal rendering
    assert(byCol("arr").get(4) == null)           // no stable rendering
    assert(byCol("m").get(3) == null)             // map: no NDV
    assert(byCol("bin").getLong(2) == 1L)         // counts still real
  }

  test("MEDIA_* TVF rejects a non-integer id descriptor loudly") {
    import spark.implicits._
    Seq(("a", Array[Byte](1, 2, 3))).toDF("sid", "media")
      .createOrReplaceTempView("tvf_bad_media")
    val e = intercept[IllegalArgumentException] {
      spark.sql(FlinkSqlRewrite(
        "SELECT * FROM TABLE(MEDIA_FEATURES(TABLE tvf_bad_media, " +
          "DESCRIPTOR(sid), DESCRIPTOR(media)))"))
    }
    assert(e.getMessage.contains("must be an integer type"), e.getMessage)
    assert(e.getMessage.contains("STRING"), e.getMessage)
  }

  test("malformed TVF and streaming sources are rejected loudly") {
    val e = intercept[IllegalArgumentException] {
      GraftTvfRewrite.validateOnly(
        "SELECT * FROM TABLE(DEDUP_EXACT(docs, DESCRIPTOR(doc_id)))")
    }
    assert(e.getMessage.contains("malformed graft TVF"))

    // a streaming source behind a whole-relation TVF (everything except
    // DEDUP_EXACT) must not silently re-window
    val runner = new ScriptRunner(spark, batchMode = false)
    val err = intercept[IllegalArgumentException] {
      runner.run(
        s"""create table stream_docs (
           |  doc_id BIGINT, text STRING
           |) with (
           |  'connector' = 'datagen', 'rows-per-second' = '10'
           |);
           |CREATE TABLE s_sink (ida BIGINT, idb BIGINT, jacc DOUBLE)
           |WITH ('connector' = 'memory');
           |INSERT INTO s_sink SELECT ida, idb, jacc
           |FROM TABLE(DEDUP_MINHASH_PAIRS(TABLE stream_docs,
           |  DESCRIPTOR(doc_id), DESCRIPTOR(text)));""".stripMargin)
    }
    assert(err.getMessage.contains("batch gate mode"))
  }

  test("streaming DEDUP_EXACT routes to keyed first-arrival dedup") {
    // a streaming relation behind DEDUP_EXACT must become a streaming
    // Deduplicate over the descriptor columns (append-able), not a
    // rejection and not the batch hash-agg
    val evDir = graft.queries.StreamingGate.stagedEventsDir(
      "/root/testdata/sf0.001")
    val schema = spark.read.parquet(evDir).schema
    spark.readStream.schema(schema).parquet(evDir)
      .createOrReplaceTempView("ev_stream_tvf")
    val rewritten = FlinkSqlRewrite(
      "SELECT user_id, event_type FROM TABLE(DEDUP_EXACT(" +
        "TABLE ev_stream_tvf, DESCRIPTOR(user_id), " +
        "DESCRIPTOR(event_type)))")
    try {
      val df = spark.sql(rewritten)
      assert(df.isStreaming)
      assert(df.columns.toSeq == Seq("user_id", "event_type"))
      val hasDedup = df.queryExecution.analyzed.collectFirst {
        case d: org.apache.spark.sql.catalyst.plans.logical.Deduplicate => d
      }.isDefined
      assert(hasDedup, df.queryExecution.analyzed.toString)
      // and it drains: the emitted key set equals batch DISTINCT
      val q = df.writeStream.format("memory").queryName("tvf_dd_drain")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try assert(q.awaitTermination(120000)) finally q.stop()
      val got = spark.table("tvf_dd_drain")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val want = spark.read.parquet(evDir)
        .select("user_id", "event_type").distinct()
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == want && got.nonEmpty)
    } finally {
      spark.catalog.dropTempView("ev_stream_tvf")
    }
  }

  test("ANN_TOPK through the gate matches the library kernel") {
    val embDir = "/root/testdata/sf0.001/embeddings.parquet"
    val runner = new ScriptRunner(spark, batchMode = true)
    runner.run(
      s"""create table emb_g (vec_id BIGINT, embedding ARRAY<FLOAT>,
         |  label INT
         |) with (
         |  'connector' = 'filesystem', 'path' = '$embDir',
         |  'format' = 'parquet'
         |);
         |CREATE OR REPLACE TEMPORARY VIEW corpus_g AS
         |  SELECT * FROM emb_g WHERE vec_id >= 8;
         |CREATE OR REPLACE TEMPORARY VIEW queries_g AS
         |  SELECT * FROM emb_g WHERE vec_id < 8;
         |CREATE TABLE ann_g_sink (qid BIGINT, nid BIGINT, cosine DOUBLE,
         |  rank INT) WITH ('connector' = 'memory');
         |INSERT INTO ann_g_sink SELECT qid, nid, cosine, rank
         |FROM TABLE(ANN_TOPK(TABLE corpus_g, TABLE queries_g,
         |  DESCRIPTOR(vec_id), DESCRIPTOR(embedding), 4));""".stripMargin)
    val viaGate = spark.table("ann_g_sink_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val raw = spark.read.parquet(embDir)
    val direct = graft.queries.Similarity.annTopkOn(
      raw.filter("vec_id >= 8"), raw.filter("vec_id < 8"),
      "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(viaGate == direct && viaGate.nonEmpty)
    // every query row must surface exactly k neighbors
    assert(viaGate.groupBy(_._1).forall(_._2.size == 4))
  }

  test("ANN_TOPK_IVFPQ sized (trailing cells) and TEXT_KEYWORDS match " +
    "their library kernels through the gate") {
    import org.apache.spark.sql.functions.col
    val embDir = "/root/testdata/sf0.001/embeddings.parquet"
    val runner = new ScriptRunner(spark, batchMode = true)
    runner.run(
      s"""create table emb_szg (vec_id BIGINT, embedding ARRAY<FLOAT>,
         |  label INT
         |) with (
         |  'connector' = 'filesystem', 'path' = '$embDir',
         |  'format' = 'parquet'
         |);
         |CREATE OR REPLACE TEMPORARY VIEW szg_corpus AS
         |  SELECT * FROM emb_szg WHERE vec_id >= 8;
         |CREATE OR REPLACE TEMPORARY VIEW szg_queries AS
         |  SELECT * FROM emb_szg WHERE vec_id < 8;
         |CREATE TABLE szg_sink (qid BIGINT, nid BIGINT, cosine DOUBLE,
         |  rank INT) WITH ('connector' = 'memory');
         |INSERT INTO szg_sink SELECT qid, nid, cosine, rank
         |FROM TABLE(ANN_TOPK_IVFPQ(TABLE szg_corpus, TABLE szg_queries,
         |  DESCRIPTOR(vec_id), DESCRIPTOR(embedding), 4, 7));""".stripMargin)
    val raw = spark.read.parquet(embDir)
    val direct = graft.queries.Similarity.ivfPqTopkOn(
      raw.filter("vec_id >= 8"), raw.filter("vec_id < 8"),
      "vec_id", "embedding", nProbe = 4, cells = Some(7))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val viaGate = spark.table("szg_sink_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(viaGate == direct && viaGate.nonEmpty)

    runner.run(
      s"""${docsDdl("docs_kwg")}
         |CREATE TABLE kwg_sink (doc_id BIGINT, term STRING,
         |  weight DOUBLE, rank INT) WITH ('connector' = 'memory');
         |INSERT INTO kwg_sink SELECT doc_id, term, weight, rank
         |FROM TABLE(TEXT_KEYWORDS(TABLE docs_kwg, DESCRIPTOR(doc_id),
         |  DESCRIPTOR(text), 2));""".stripMargin)
    val kwGate = spark.table("kwg_sink_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getInt(3))).toSet
    val kwDirect = graft.queries.Search.keywordsTfidf(
      spark.read.parquet(docsDir), "doc_id", "text", 2)
      .select(col("doc_id"), col("term"), col("weight"), col("rank"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(kwGate == kwDirect && kwGate.nonEmpty)
  }

  test("ANN_TOPK_IVFPQ through the gate matches the library kernel") {
    val embDir = "/root/testdata/sf0.001/embeddings.parquet"
    val runner = new ScriptRunner(spark, batchMode = true)
    runner.run(
      s"""create table emb_ipqg (vec_id BIGINT, embedding ARRAY<FLOAT>,
         |  label INT
         |) with (
         |  'connector' = 'filesystem', 'path' = '$embDir',
         |  'format' = 'parquet'
         |);
         |CREATE OR REPLACE TEMPORARY VIEW ipqg_corpus AS
         |  SELECT * FROM emb_ipqg WHERE vec_id >= 8;
         |CREATE OR REPLACE TEMPORARY VIEW ipqg_queries AS
         |  SELECT * FROM emb_ipqg WHERE vec_id < 8;
         |CREATE TABLE ipqg_sink (qid BIGINT, nid BIGINT, cosine DOUBLE,
         |  rank INT) WITH ('connector' = 'memory');
         |INSERT INTO ipqg_sink SELECT qid, nid, cosine, rank
         |FROM TABLE(ANN_TOPK_IVFPQ(TABLE ipqg_corpus, TABLE ipqg_queries,
         |  DESCRIPTOR(vec_id), DESCRIPTOR(embedding), 4));""".stripMargin)
    val viaGate = spark.table("ipqg_sink_out")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val raw = spark.read.parquet(embDir)
    val direct = graft.queries.Similarity.ivfPqTopkOn(
      raw.filter("vec_id >= 8"), raw.filter("vec_id < 8"),
      "vec_id", "embedding", nProbe = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(viaGate == direct && viaGate.nonEmpty)
    // every query row must surface exactly k neighbors
    assert(viaGate.groupBy(_._1).forall(_._2.size == 5))
  }

  test("TEXT_QUALITY and LANG_ID TVFs are per-row and composable") {
    val runner = new ScriptRunner(spark, batchMode = true)
    runner.run(
      s"""${docsDdl("docs_t")}
         |CREATE TABLE tq_sink (doc_id BIGINT, predicted STRING,
         |  quality_score DOUBLE) WITH ('connector' = 'memory');
         |INSERT INTO tq_sink
         |SELECT q.doc_id, l.predicted, q.quality_score
         |FROM TABLE(TEXT_QUALITY(TABLE docs_t, DESCRIPTOR(doc_id),
         |    DESCRIPTOR(text))) q
         |JOIN TABLE(LANG_ID(TABLE docs_t, DESCRIPTOR(doc_id),
         |    DESCRIPTOR(text))) l ON q.doc_id = l.doc_id;""".stripMargin)
    val out = spark.table("tq_sink_out").collect()
    val nDocs = spark.read.parquet(docsDir).count()
    assert(out.length == nDocs) // per-row, join keeps every doc once
    assert(out.map(_.getString(1)).toSet.subsetOf(
      Set("en", "de", "fr", "es")))
  }

  test("malformed ANN_TOPK (single TABLE arg) is rejected loudly") {
    val e = intercept[IllegalArgumentException] {
      GraftTvfRewrite.validateOnly(
        "SELECT * FROM TABLE(ANN_TOPK(TABLE emb, DESCRIPTOR(vec_id), " +
          "DESCRIPTOR(embedding), 5))")
    }
    assert(e.getMessage.contains("malformed graft TVF"))
  }

  test("validator accepts well-formed TVF scripts pre-flight") {
    val v = SqlValidator.validate(spark,
      s"""${docsDdl("docs_v")}
         |CREATE TABLE v_sink (keep_id BIGINT, n_copies BIGINT)
         |WITH ('connector' = 'memory');
         |INSERT INTO v_sink SELECT keep_id, n_copies
         |FROM TABLE(DEDUP_EXACT(TABLE docs_v, DESCRIPTOR(doc_id),
         |  DESCRIPTOR(text)));""".stripMargin)
    assert(v.ok, v.errors.mkString("; "))

    // ANN + text TVFs validate without executing anything
    val v2 = SqlValidator.validate(spark,
      s"""CREATE TABLE emb_v (vec_id BIGINT, embedding ARRAY<FLOAT>)
         |WITH ('connector' = 'filesystem', 'path' = '/nope',
         |  'format' = 'parquet');
         |CREATE TABLE av_sink (qid BIGINT, nid BIGINT)
         |WITH ('connector' = 'memory');
         |INSERT INTO av_sink SELECT qid, nid
         |FROM TABLE(ANN_TOPK(TABLE emb_v, TABLE emb_v,
         |  DESCRIPTOR(vec_id), DESCRIPTOR(embedding), 5)) a
         |JOIN TABLE(LANG_ID(TABLE emb_v, DESCRIPTOR(vec_id),
         |  DESCRIPTOR(embedding))) l ON a.qid = l.vec_id;""".stripMargin)
    assert(v2.ok, v2.errors.mkString("; "))
  }

  test("PAGERANK through the gate matches the library kernel") {
    val runner = new ScriptRunner(spark, batchMode = true)
    runner.run(
      s"""${docsDdl("docs_pr")}
         |CREATE OR REPLACE TEMPORARY VIEW pr_e AS
         |  SELECT doc_id % 7 AS src, doc_id % 5 AS dst FROM docs_pr;
         |CREATE TABLE pr_sink (node BIGINT, rank BIGINT)
         |WITH ('connector' = 'memory');
         |INSERT INTO pr_sink SELECT node, rank
         |FROM TABLE(PAGERANK(TABLE pr_e, DESCRIPTOR(src),
         |  DESCRIPTOR(dst), 2));""".stripMargin)
    import org.apache.spark.sql.functions._
    val viaGate = spark.table("pr_sink_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = graft.operators.PageRank(
      spark.read.parquet(docsDir)
        .select((col("doc_id") % 7).as("src"), (col("doc_id") % 5).as("dst")),
      2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaGate == direct && viaGate.nonEmpty)
  }

  test("FUZZY_JOIN through the gate matches the library kernel; " +
    "streaming sources are rejected for both new TVFs") {
    val runner = new ScriptRunner(spark, batchMode = true)
    runner.run(
      s"""${docsDdl("docs_fz")}
         |CREATE OR REPLACE TEMPORARY VIEW fz_names AS
         |  SELECT doc_id, substring(text, 1, 12) AS nm FROM docs_fz;
         |CREATE TABLE fz_sink (ida BIGINT, idb BIGINT, dist BIGINT)
         |WITH ('connector' = 'memory');
         |INSERT INTO fz_sink SELECT ida, idb, dist
         |FROM TABLE(FUZZY_JOIN(TABLE fz_names, DESCRIPTOR(doc_id),
         |  DESCRIPTOR(nm), 1));""".stripMargin)
    import org.apache.spark.sql.functions._
    val viaGate = spark.table("fz_sink_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = graft.queries.Joins.fuzzySelfJoin(
      spark.read.parquet(docsDir)
        .select(col("doc_id").as("id"),
          substring(col("text"), 1, 12).as("name")), 1)
      .select("ida", "idb", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaGate == direct && viaGate.nonEmpty)

    // gate-vs-library equality for CONNECTED_COMPONENTS too
    runner.run(
      s"""CREATE OR REPLACE TEMPORARY VIEW cc_e AS
         |  SELECT doc_id % 9 AS a, doc_id % 6 AS b FROM docs_fz;
         |CREATE TABLE cc_t_sink (node BIGINT, cluster BIGINT,
         |  is_keeper BOOLEAN) WITH ('connector' = 'memory');
         |INSERT INTO cc_t_sink SELECT node, cluster, is_keeper
         |FROM TABLE(CONNECTED_COMPONENTS(TABLE cc_e, DESCRIPTOR(a),
         |  DESCRIPTOR(b)));""".stripMargin)
    val ccGate = spark.table("cc_t_sink_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val ccDirect = graft.queries.Dedup.connectedComponents(
      spark.read.parquet(docsDir)
        .select((col("doc_id") % 9).as("a"), (col("doc_id") % 6).as("b")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(ccGate == ccDirect && ccGate.nonEmpty)

    // all three are whole-relation operators: a streaming source must
    // hit the table() guard for EACH of them, never a silent per-batch
    // re-run (the guard distinction is per-TVF — DEDUP_EXACT above
    // legitimately routes streams — so each path needs its own pin)
    val rejected = Seq(
      ("spr_sink (node BIGINT, rank BIGINT)",
        "node, rank",
        "PAGERANK(TABLE stream_e, DESCRIPTOR(src), DESCRIPTOR(dst))"),
      ("sfz_sink (ida BIGINT, idb BIGINT, dist BIGINT)",
        "ida, idb, dist",
        "FUZZY_JOIN(TABLE stream_e, DESCRIPTOR(src), DESCRIPTOR(dst))"),
      ("scc_sink (node BIGINT, cluster BIGINT, is_keeper BOOLEAN)",
        "node, cluster, is_keeper",
        "CONNECTED_COMPONENTS(TABLE stream_e, DESCRIPTOR(src), " +
          "DESCRIPTOR(dst))"),
      // keywords need corpus-wide document frequencies
      ("skw_sink (doc_id BIGINT, term STRING, weight DOUBLE, rank INT)",
        "doc_id, term, weight, rank",
        "TEXT_KEYWORDS(TABLE stream_e, DESCRIPTOR(src), " +
          "DESCRIPTOR(dst))"))
    for ((sinkDdl, cols, call) <- rejected) {
      val sRunner = new ScriptRunner(spark, batchMode = false)
      val err = intercept[IllegalArgumentException] {
        sRunner.run(
          s"""create table stream_e (src BIGINT, dst BIGINT
             |) with ('connector' = 'datagen', 'rows-per-second' = '10');
             |CREATE TABLE $sinkDdl
             |WITH ('connector' = 'memory');
             |INSERT INTO ${sinkDdl.takeWhile(_ != ' ')} SELECT $cols
             |FROM TABLE($call);""".stripMargin)
      }
      assert(err.getMessage.contains("batch gate mode"), call)
    }
    // BM25's QUERY seat legitimately streams since r15 (frozen-index
    // probe, proven batch-equal in SearchStreamSpec); its CORPUS seat
    // must stay bounded — the kernel's own loud guard, not table()'s
    val bmRunner = new ScriptRunner(spark, batchMode = false)
    val bmErr = intercept[IllegalArgumentException] {
      bmRunner.run(
        s"""create table stream_e (src BIGINT, dst BIGINT
           |) with ('connector' = 'datagen', 'rows-per-second' = '10');
           |CREATE TABLE sbm_sink (qid BIGINT, doc_id BIGINT,
           |  score DOUBLE, rank INT)
           |WITH ('connector' = 'memory');
           |INSERT INTO sbm_sink SELECT qid, doc_id, score, rank
           |FROM TABLE(TEXT_SEARCH_BM25(TABLE stream_e, TABLE stream_e,
           |  DESCRIPTOR(src), DESCRIPTOR(dst), DESCRIPTOR(src),
           |  DESCRIPTOR(dst)));""".stripMargin)
    }
    assert(bmErr.getMessage.contains("BOUNDED"), bmErr.getMessage)
  }
}
