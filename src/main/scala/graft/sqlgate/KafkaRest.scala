package graft.sqlgate

import graft.JsonUtil
import org.apache.spark.sql.{Dataset, Row}
import scala.jdk.CollectionConverters._

/** `upsert-kafka` keyed changelog sink (`demo_6.md:206-226`: a keyed
  * aggregate materialized to a compacted topic as debezium-json) over a
  * Kafka-REST-proxy-shaped produce endpoint.
  *
  * The container ships no Kafka broker or client jar, so — exactly like
  * [[EsBulk]] — the transport is a real JDK HTTP POST to a pluggable
  * endpoint speaking the REST-proxy v2 produce shape
  * (`POST <endpoint>/topics/<topic>`, body `{"records":[{"key":…,
  * "value":…}]}`), and the payload generation — the actual sink logic —
  * is unit-tested and driven over a live socket in KafkaRestSpec. On a
  * cluster with a broker the same records go through the native
  * producer; the envelope bytes are identical. Bodies are written, and
  * replies read, with [[graft.JsonUtil]].
  *
  * Each row becomes one record: `key` = the PRIMARY KEY columns as a
  * JSON object (the compaction key — same-key records supersede, which
  * is what makes the topic an upsert materialization), `value` = a
  * debezium-json envelope. Rows carrying an `op` column use it (a `d`
  * row emits `before` + null `after` — the changelog-relay path from a
  * CDC source); rows without one are upserts (`op: "u"`, after-image
  * only), the shape a keyed aggregate produces. Same-PK records are
  * idempotent under micro-batch retry, matching the keyed JDBC/ES sinks.
  */
object KafkaRest {
  /** Max records per produce request — bounds request size independent
    * of partition size, like EsBulk.MaxDocsPerRequest.
    */
  val MaxRecordsPerRequest = 500

  private def obj(cols: Seq[String], idx: Seq[Int], r: Row): String =
    cols.zip(idx).map { case (c, i) =>
      JsonUtil.str(c) + ":" + JsonUtil.value(r.get(i))
    }.mkString("{", ",", "}")

  /** Delete spellings accepted from an `op` column: debezium's `d`, a
    * Flink RowKind-style `-D`, and the spelled-out form — matched
    * case-insensitively after trimming, so "D"/" -d " cannot silently
    * encode as upserts.
    */
  private[sqlgate] def isDeleteOp(op: String): Boolean = {
    val n = op.trim.toLowerCase(java.util.Locale.ROOT)
    n == "d" || n == "-d" || n == "delete"
  }

  /** REST-proxy v2 produce body for one chunk of rows. */
  def recordsBody(cols: Seq[String], pk: Seq[String],
      rows: Iterator[Row]): String = {
    require(cols.distinct.size == cols.size,
      s"upsert-kafka sink columns must be distinct, got: " +
        cols.mkString(", "))
    // positional resolution (safe given distinctness, and immune to the
    // first-occurrence aliasing indexOf would silently do otherwise)
    val indexed = cols.zipWithIndex
    val opIdx = indexed.collectFirst { case ("op", i) => i }.getOrElse(-1)
    val (dataCols, dataIdx) = indexed.filter(_._1 != "op").unzip
    val pkIdx = pk.map { k =>
      indexed.collectFirst { case (`k`, i) => i }.getOrElse(
        throw new IllegalArgumentException(
          s"upsert-kafka PRIMARY KEY column '$k' is not in the sink row " +
            s"(columns: ${cols.mkString(", ")})"))
    }
    val recs = rows.map { r =>
      val key = obj(pk, pkIdx, r)
      val row = obj(dataCols, dataIdx, r)
      val rawOp = if (opIdx >= 0) Option(r.get(opIdx)).map(_.toString) else None
      val del = rawOp.exists(isDeleteOp)
      // a NULL op is an upsert, mirroring the native-producer encoding
      val op = if (del) "d" else rawOp.getOrElse("u")
      val value = s"""{"op":${JsonUtil.str(op)},""" +
        s""""before":${if (del) row else "null"},""" +
        s""""after":${if (del) "null" else row}}"""
      s"""{"key":$key,"value":$value}"""
    }
    recs.mkString("""{"records":[""", ",", "]}")
  }

  /** Default wire transport: POST a produce body to
    * `<endpoint>/topics/<topic>`. An HTTP error, a reply that is not
    * JSON, or a numeric `error_code` in the reply (top-level or on any
    * entry of its `offsets`) throws, so a partially-produced batch
    * fails the micro-batch and Spark retries it (keyed records make the
    * retry idempotent on a compacted topic). Serializable; runs on
    * executors.
    */
  def httpPost(endpoint: String, topic: String): String => Unit = {
    val base = endpoint.split(";").head.trim.stripSuffix("/")
    require(base.nonEmpty, "upsert-kafka sink needs a non-empty 'rest.endpoint'")
    val url = s"$base/topics/$topic"
    body => {
      val res = graft.Http.post(url, "application/vnd.kafka.json.v2+json", body)
      val reply = JsonUtil.tree(res)
      if ((reply +: reply.path("offsets").asScala.toSeq)
          .exists(_.path("error_code").isNumber))
        throw new RuntimeException(
          s"kafka produce reported record failures: ${res.take(200)}")
    }
  }

  /** foreachBatch writer: each executor partition builds and POSTs its
    * own produce requests in chunks of [[MaxRecordsPerRequest]] — nothing
    * materializes on the driver.
    */
  def writer(pk: Seq[String], post: String => Unit)(
      batch: Dataset[Row], batchId: Long): Unit = {
    val cols = batch.columns.toSeq
    require(pk.nonEmpty, "upsert-kafka requires a PRIMARY KEY")
    batch.foreachPartition { (it: Iterator[Row]) =>
      it.grouped(MaxRecordsPerRequest).foreach { chunk =>
        post(recordsBody(cols, pk, chunk.iterator))
      }
    }
  }
}
