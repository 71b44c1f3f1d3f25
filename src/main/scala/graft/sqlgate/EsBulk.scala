package graft.sqlgate

import graft.JsonUtil
import org.apache.spark.sql.{Dataset, Row}

/** Elasticsearch-7 keyed-index sink (`demo_6.md:148-152`) as a
  * foreachBatch bulk-upsert writer. The container ships no ES client, so
  * transport is a pluggable `post` function; the REST bulk NDJSON payload
  * generation — the actual sink logic — is real and unit-tested. Each
  * row becomes an `index` action (idempotent upsert when `_id` is set
  * from the PK), matching the keyed-index semantics of the reference.
  * Bodies are written, and replies read, with [[graft.JsonUtil]].
  */
object EsBulk {

  /** NDJSON `_bulk` body for one batch: an `index` action line (with
    * `_id` from the PK columns when present → idempotent upsert) followed
    * by the document line, per row.
    */
  def bulkBody(index: String, cols: Seq[String], pk: Seq[String],
      rows: Iterator[Row]): String = {
    val sb = new StringBuilder
    val pkIdx = pk.map(cols.indexOf(_))
    rows.foreach { r =>
      val action =
        if (pk.nonEmpty) {
          // encodeKey escapes the delimiter and preserves nulls, so
          // composite keys like ("a|b","c") and ("a","b|c") get distinct
          // _ids — same scheme as the keyed upsert store.
          val id = JsonUtil.str(
            graft.streaming.StreamOps.encodeKey(pkIdx.map(r.get)))
          s"""{"index":{"_index":${JsonUtil.str(index)},"_id":$id}}"""
        } else s"""{"index":{"_index":${JsonUtil.str(index)}}}"""
      val doc = cols.zipWithIndex.map { case (c, i) =>
        JsonUtil.str(c) + ":" + JsonUtil.value(r.get(i))
      }.mkString("{", ",", "}")
      sb.append(action).append('\n').append(doc).append('\n')
    }
    sb.toString
  }

  /** Max documents per `_bulk` request — bounds request size the way the
    * reference's connector batches do, independent of partition size.
    */
  val MaxDocsPerRequest = 500

  /** Default wire transport: POST an NDJSON chunk to `<host>/_bulk` over
    * the JDK's HttpURLConnection (the ES-7 REST bulk endpoint the
    * reference's sink targets, `demo_6.md:148-152`). An HTTP error, a
    * reply that is not JSON, OR a reply whose top-level `errors` is
    * `true` (any per-item failure) throws — a
    * partially-applied bulk must fail the micro-batch so Spark retries
    * it, never silently drop documents. Serializable (captures only the
    * host string); runs on executors. Multiple semicolon-separated hosts:
    * the first is used (single-endpoint; a production deployment puts a
    * load balancer in front, as with the reference's client).
    */
  def httpPost(hosts: String): String => Unit = {
    val base = hosts.split(";").head.trim.stripSuffix("/")
    require(base.nonEmpty, "elasticsearch sink needs a non-empty 'hosts'")
    body => {
      val res = graft.Http.post(base + "/_bulk", "application/x-ndjson", body)
      if (JsonUtil.tree(res).path("errors").booleanValue)
        throw new RuntimeException(
          s"es _bulk reported item failures: ${res.take(200)}")
    }
  }

  /** foreachBatch writer: each executor partition builds and POSTs its own
    * `_bulk` payloads (in production an HTTP POST to `<host>/_bulk`), in
    * chunks of [[MaxDocsPerRequest]]. Nothing is materialized on the
    * driver, so batch size is bounded by partition size, not cluster
    * output. `post` runs on executors and must be serializable.
    */
  def writer(index: String, pk: Seq[String], post: String => Unit)(
      batch: Dataset[Row], batchId: Long): Unit = {
    val cols = batch.columns.toSeq
    batch.foreachPartition { (it: Iterator[Row]) =>
      it.grouped(MaxDocsPerRequest).foreach { chunk =>
        val body = bulkBody(index, cols, pk, chunk.iterator)
        if (body.nonEmpty) post(body)
      }
    }
  }
}
