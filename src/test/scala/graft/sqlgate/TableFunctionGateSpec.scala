package graft.sqlgate

import graft.queries.TextAnalysis
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Graft TVFs and MATCH_RECOGNIZE run as session table functions: calls
  * inside CTEs and joins over registry sources, one kernel run per
  * statement, and no `__graft_` temp view left in the catalog.
  */
class TableFunctionGateSpec extends graft.SparkSpec {

  private lazy val docsDir = s"$sf/documents.parquet"

  private def docsDdl(name: String, options: String = "",
      path: String = docsDir) =
    s"""CREATE TABLE $name (
       |  doc_id BIGINT, text STRING, lang STRING, source STRING,
       |  n_chars BIGINT
       |) WITH (
       |  'connector' = 'filesystem', 'path' = '$path',
       |  'format' = 'parquet'$options
       |);""".stripMargin

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def graftViews(): Set[String] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("__graft_")).toSet

  private lazy val docs = spark.read.parquet(docsDir)

  test("a registry source read only inside a CTE is instantiated") {
    new ScriptRunner(spark, batchMode = true).run(
      s"""${docsDdl("cte_docs")}
         |CREATE TABLE cte_sink (doc_id BIGINT, lang STRING)
         |WITH ('connector' = 'memory');
         |INSERT INTO cte_sink
         |WITH c AS (SELECT doc_id, lang FROM cte_docs WHERE n_chars > 100)
         |SELECT doc_id, lang FROM c;""".stripMargin)
    val want = docs.where("n_chars > 100").select("doc_id", "lang")
    assert(rows(spark.table("cte_sink_out")) == rows(want))
    assert(want.count() > 0)
  }

  test("batch: TEXT_QUALITY inside a CTE and inside a join equals the " +
    "kernel") {
    new ScriptRunner(spark, batchMode = true).run(
      s"""${docsDdl("tq_cte_docs")}
         |CREATE TABLE tq_cte_sink (doc_id BIGINT, quality_score DOUBLE,
         |  mean_tok_len DOUBLE) WITH ('connector' = 'memory');
         |INSERT INTO tq_cte_sink
         |WITH q AS (SELECT doc_id, quality_score FROM TABLE(TEXT_QUALITY(
         |  TABLE tq_cte_docs, DESCRIPTOR(doc_id), DESCRIPTOR(text))))
         |SELECT q.doc_id, q.quality_score, t.mean_tok_len
         |FROM q JOIN TABLE(TEXT_QUALITY(TABLE tq_cte_docs,
         |  DESCRIPTOR(doc_id), DESCRIPTOR(text))) t
         |ON q.doc_id = t.doc_id;""".stripMargin)
    val want = TextAnalysis.qualityOn(docs, "doc_id", "text")
      .select("doc_id", "quality_score", "mean_tok_len")
    assert(rows(spark.table("tq_cte_sink_out")) == rows(want))
    assert(want.count() == docs.count())
  }

  test("streaming: LANG_ID inside a CTE and inside a join over a " +
    "streaming source equals the kernel") {
    // a file stream reads a directory
    val streamDir = java.nio.file.Files.createTempDirectory("tf_lang_src")
      .resolve("docs").toString
    docs.write.parquet(streamDir)
    val runner = new ScriptRunner(spark, checkpointRoot = Some(
      java.nio.file.Files.createTempDirectory("tf_lang_ckpt").toString))
    val res = runner.run(
      s"""${docsDdl("lang_stream", path = streamDir)}
         |${docsDdl("lang_dim", ", 'source.bounded' = 'true'")}
         |CREATE TABLE lang_cte_sink (doc_id BIGINT, predicted STRING,
         |  lang STRING) WITH ('connector' = 'memory');
         |CREATE TABLE lang_join_sink (doc_id BIGINT, predicted STRING,
         |  lang STRING) WITH ('connector' = 'memory');
         |INSERT INTO lang_cte_sink
         |WITH l AS (SELECT doc_id, predicted FROM TABLE(LANG_ID(
         |  TABLE lang_stream, DESCRIPTOR(doc_id), DESCRIPTOR(text))))
         |SELECT l.doc_id, l.predicted, d.lang
         |FROM l JOIN lang_dim d ON l.doc_id = d.doc_id;
         |INSERT INTO lang_join_sink
         |SELECT d.doc_id, l.predicted, d.lang
         |FROM lang_dim d JOIN TABLE(LANG_ID(TABLE lang_stream,
         |  DESCRIPTOR(doc_id), DESCRIPTOR(text))) l
         |ON d.doc_id = l.doc_id;""".stripMargin)
    assert(res.queries.size == 2)
    try res.queries.foreach(q => assert(q.awaitTermination(120000)))
    finally res.queries.foreach(_.stop())
    val want = TextAnalysis.langidOn(docs, "doc_id", "text")
      .join(docs.select("doc_id", "lang"), "doc_id")
    assert(want.count() == docs.count())
    assert(rows(spark.table("lang_cte_sink")) == rows(want))
    assert(rows(spark.table("lang_join_sink")) == rows(want))
  }

  test("a streaming catalog INSERT over bounded sources runs its kernel " +
    "once and leaves no temp view") {
    val runner = new ScriptRunner(spark)
    val functions = spark.sessionState.tableFunctionRegistry
    val kernel = functions.lookupFunctionBuilder(
      FunctionIdentifier("TEXT_QUALITY")).get
    val calls = new AtomicInteger
    functions.createOrReplaceTempFunction("TEXT_QUALITY",
      args => { calls.incrementAndGet(); kernel(args) }, "scala_udf")
    val before = graftViews()
    try {
      runner.run(
        s"""${docsDdl("bq_docs", ", 'source.bounded' = 'true'")}
           |CREATE TABLE bq_catalog (doc_id BIGINT, quality_score DOUBLE)
           |USING parquet;
           |INSERT INTO bq_catalog SELECT doc_id, quality_score
           |FROM TABLE(TEXT_QUALITY(TABLE bq_docs, DESCRIPTOR(doc_id),
           |  DESCRIPTOR(text)));""".stripMargin)
      assert(calls.get == 1)
      assert(graftViews() == before)
      assert(rows(spark.table("bq_catalog")) == rows(TextAnalysis
        .qualityOn(docs, "doc_id", "text").select("doc_id", "quality_score")))
    } finally {
      functions.createOrReplaceTempFunction("TEXT_QUALITY", kernel,
        "scala_udf")
      spark.sql("DROP TABLE IF EXISTS bq_catalog")
    }
  }

  test("no __graft_ temp view is left after TVF, view and " +
    "MATCH_RECOGNIZE scripts") {
    import spark.implicits._
    val before = graftViews()
    graft.multimodal.MediaFixture.videoTable(
      Seq(0L, 1L, 2L, 3L, 4L, 6L, 7L).toDS())
      .createOrReplaceTempView("leak_clips")
    // composition: TVF -> view -> TVF
    new ScriptRunner(spark, batchMode = true).run(
      """CREATE OR REPLACE TEMPORARY VIEW leak_vecs AS
        |SELECT id, array(
        |    CAST(sum(r_sum) AS DOUBLE) / CAST(sum(width * height) AS DOUBLE)
        |  ) AS vec
        |FROM TABLE(MEDIA_VIDEO_FRAMES(TABLE leak_clips,
        |  DESCRIPTOR(id), DESCRIPTOR(media), 3))
        |WHERE ok GROUP BY id;
        |CREATE TABLE leak_profile (col STRING, n_rows BIGINT,
        |  n_notnull BIGINT, ndv BIGINT, min_s STRING, max_s STRING)
        |  WITH ('connector' = 'memory');
        |INSERT INTO leak_profile
        |SELECT * FROM TABLE(PROFILE(TABLE leak_vecs));
        |""".stripMargin)
    assert(spark.table("leak_profile_out").where("col = 'id'")
      .select("n_rows").as[Long].collect().toSeq == Seq(7L))
    assert(graftViews() == before)

    graft.queries.Gate.queries("q_gate_phash_cluster")(spark, sf).collect()
    assert(graftViews() == before)

    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    Seq((1L, ts(1), "x"), (1L, ts(2), "y"), (1L, ts(3), "z"),
      (2L, ts(1), "x"), (2L, ts(2), "z"))
      .toDF("user_id", "t", "kind").createOrReplaceTempView("leak_ev")
    new ScriptRunner(spark, batchMode = true).run(
      """CREATE OR REPLACE TEMPORARY VIEW leak_matches AS
        |SELECT user_id, a_t FROM leak_ev MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY t
        |  MEASURES A.t AS a_t
        |  ONE ROW PER MATCH
        |  PATTERN (A B C)
        |  DEFINE A AS A.kind = 'x', B AS B.kind = 'y', C AS C.kind = 'z'
        |);
        |CREATE TABLE leak_mr_sink (user_id BIGINT, a_t TIMESTAMP)
        |  WITH ('connector' = 'memory');
        |INSERT INTO leak_mr_sink SELECT * FROM leak_matches;
        |""".stripMargin)
    assert(spark.table("leak_mr_sink_out").select("user_id").as[Long]
      .collect().toSeq == Seq(1L))
    assert(graftViews() == before)
  }

  test("a SQL temporary view over a table function runs its builder " +
    "once: the view holds its analyzed plan") {
    import spark.implicits._
    graft.multimodal.MediaFixture.phashTable(
      graft.Tables.load(spark, sf, "documents").select($"doc_id").as[Long])
      .createOrReplaceTempView("phash_once_imgs")
    val runner = new ScriptRunner(spark, batchMode = true)
    val functions = spark.sessionState.tableFunctionRegistry
    val kernel = functions.lookupFunctionBuilder(
      FunctionIdentifier("DEDUP_PHASH_PAIRS")).get
    val calls = new AtomicInteger
    functions.createOrReplaceTempFunction("DEDUP_PHASH_PAIRS",
      args => { calls.incrementAndGet(); kernel(args) }, "scala_udf")
    try {
      // q_gate_phash_cluster's script
      runner.run(
        """CREATE OR REPLACE TEMPORARY VIEW phash_once_edges AS
          |SELECT id_a, id_b FROM TABLE(DEDUP_PHASH_PAIRS(
          |  TABLE phash_once_imgs, DESCRIPTOR(id),
          |  DESCRIPTOR(media), 3));
          |CREATE TABLE phash_once_sink (node BIGINT,
          |  cluster BIGINT, is_keeper BOOLEAN)
          |  WITH ('connector' = 'memory');
          |INSERT INTO phash_once_sink
          |SELECT node, cluster, is_keeper FROM TABLE(
          |  CONNECTED_COMPONENTS(TABLE phash_once_edges, DESCRIPTOR(id_a),
          |  DESCRIPTOR(id_b)));
          |""".stripMargin)
      assert(spark.table("phash_once_sink_out").count() > 0)
      assert(calls.get == 1)
    } finally functions.createOrReplaceTempFunction("DEDUP_PHASH_PAIRS",
      kernel, "scala_udf")
  }
}
