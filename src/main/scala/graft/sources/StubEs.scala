package graft.sources

import graft.JsonUtil
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-process Elasticsearch-7 stand-in for the keyed bulk sink: accepts
  * the REST `_bulk` NDJSON wire on a live socket and materializes the
  * keyed document store (per index, `_id` → LAST document wins — the
  * idempotent-upsert semantics the sink's `_id`-from-PK actions rely
  * on). The container ships no ES, so this is the sandbox's ES the way
  * [[StubBroker]] is its Kafka: the sink's real wire bytes land in a
  * real keyed store that oracle queries can read back in-process.
  *
  * Only `index` actions are accepted — the sink never emits others, and
  * a doc-less action (a `delete`) would silently misalign every
  * following action/document pair under blind pairing, corrupting the
  * store while reporting success. Unknown action kinds throw instead.
  */
final class StubEs {
  // keyed docs: (index, _id) → doc. Id-LESS index actions append to a
  // SEPARATE buffer — sharing the keyed namespace would let a client
  // _id spelled like a synthesized key overwrite an anonymous append.
  private val keyed = mutable.LinkedHashMap[(String, String), String]()
  private val anon = mutable.Buffer[(String, String)]() // (index, doc)
  private val srv = com.sun.net.httpserver.HttpServer.create(
    new java.net.InetSocketAddress("127.0.0.1", 0), 0)

  srv.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
    val path = ex.getRequestURI.getPath
    val body =
      if (path == "/_bulk" && ex.getRequestMethod == "POST") {
        val req = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        val lines = req.split("\n").filter(_.nonEmpty)
        try {
          // parse and validate EVERY action/doc pair into local buffers
          // BEFORE touching the store: a malformed pair mid-bulk must
          // reject the whole request with nothing applied (all-or-
          // nothing), so a sink retrying a failed micro-batch neither
          // sees a half-applied keyed state nor re-appends the
          // anonymous documents of the failed attempt
          val keyedBuf = mutable.Buffer[((String, String), String)]()
          val anonBuf = mutable.Buffer[(String, String)]()
          lines.grouped(2).foreach {
            case Array(action, doc) =>
              val a = JsonUtil.tree(action)
              val meta = a.path("index")
              if (a.size != 1 || !meta.isObject)
                throw new IllegalArgumentException(
                  "StubEs accepts only index actions, got: " +
                    a.fieldNames.asScala.nextOption().getOrElse(action.take(40)))
              if (!JsonUtil.tree(doc).isObject)
                throw new IllegalArgumentException(
                  s"bulk document is not a JSON object: ${doc.take(40)}")
              val idx = Option(meta.path("_index").textValue).getOrElse("")
              Option(meta.path("_id").textValue) match {
                case Some(id) => keyedBuf += (((idx, id), doc))
                case None => anonBuf += ((idx, doc))
              }
            case odd => throw new IllegalArgumentException(
              s"dangling bulk action without a document: " +
                s"${odd.head.take(40)}")
          }
          keyed.synchronized {
            keyedBuf.foreach { case (k, d) => keyed(k) = d }
            anon ++= anonBuf
          }
          """{"took":1,"errors":false,"items":[]}"""
        } catch {
          case e: Exception =>
            val msg =
              """{"took":1,"errors":true,"items":[{"index":{"status":400,""" +
                s""""error":${JsonUtil.str(String.valueOf(e.getMessage))}}}]}"""
            val b = msg.getBytes("UTF-8")
            ex.sendResponseHeaders(400, b.length.toLong)
            ex.getResponseBody.write(b)
            ex.close()
            throw new IllegalStateException(
              s"bad bulk body: ${e.getMessage}")
        }
      } else {
        ex.sendResponseHeaders(404, -1); ex.close()
        throw new IllegalStateException(s"unexpected path $path")
      }
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(200, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  })
  srv.start()
  val endpoint = s"http://127.0.0.1:${srv.getAddress.getPort}"

  /** Keyed store snapshot for one index: `_id` → last document JSON. */
  def docs(index: String): Map[String, String] = keyed.synchronized {
    keyed.collect { case ((i, id), d) if i == index => id -> d }.toMap
  }

  /** Every document of one index — keyed (last image per `_id`) plus
    * the id-less appends, keyed docs first.
    */
  def allDocs(index: String): Seq[String] = keyed.synchronized {
    keyed.collect { case ((i, _), d) if i == index => d }.toSeq ++
      anon.collect { case (i, d) if i == index => d }
  }

  def stop(): Unit = srv.stop(0)
}
