package graft.sources

import scala.collection.mutable

/** In-memory stub broker speaking the REST consume wire contract of
  * [[KafkaRestSource]] over a real socket — the sandbox's broker
  * stand-in. Lives in main (not test) so the oracle-checked
  * `q_gate_kafka_live` query can self-host the wire inside the driver's
  * Verify/Bench runs; also shared by the source spec and the demo_1
  * gate test.
  */
final class StubBroker(topic: String, nParts: Int) {
  // growable: addPartition() emulates a live partition-count increase
  // (kafka-topics --alter), the case the source's from-beginning branch
  // in planInputPartitions exists for
  private val logs =
    mutable.Buffer.fill(nParts)(mutable.Buffer[(String, String)]())

  /** Grow the topic by one partition mid-stream, as a broker admin op
    * would; returns the new partition's index. Consumers discover it on
    * their next partitions-list poll and must read it from offset 0.
    */
  def addPartition(): Int = logs.synchronized {
    logs += mutable.Buffer[(String, String)]()
    logs.size - 1
  }

  private def partCount: Int = logs.synchronized(logs.size)
  private def log(p: Int) = logs.synchronized(logs(p))
  private val srv = com.sun.net.httpserver.HttpServer.create(
    new java.net.InetSocketAddress("127.0.0.1", 0), 0)
  @volatile var fetches = 0

  def append(p: Int, key: String, value: String): Unit = {
    val l = log(p); l.synchronized { l += ((key, value)); () }
  }

  /** Snapshot of one partition's log, for specs pinning routing. */
  def partitionLog(p: Int): Seq[(String, String)] = {
    val l = log(p); l.synchronized(l.toSeq)
  }

  /** Key → partition routing of the produce route: Kafka's default
    * partitioner semantics — murmur2 over the key bytes, sign-masked,
    * mod partition count — so the SAME key ALWAYS lands on the SAME
    * partition and per-key ordering holds on an N-partition topic (the
    * invariant every keyed-changelog consumer relies on; with N > 1 it
    * holds ONLY because of this routing). The key here is the record's
    * canonical JSON key text ([[graft.sqlgate.KafkaRest.recordsBody]]
    * renders PK fields in declaration order, so equal logical keys are
    * equal strings). A JSON-null key (no key at all — real proxies
    * scatter these via the sticky partitioner; keyed changelogs never
    * produce them) is pinned to partition 0, deterministically.
    */
  def partitionFor(key: String): Int =
    if (key == null || key.trim == "null" || key.trim.isEmpty) 0
    else (murmur2(key.getBytes("UTF-8")) & 0x7fffffff) % partCount

  /** Kafka's murmur2 (the public default-partitioner hash), 32-bit. */
  private def murmur2(data: Array[Byte]): Int = {
    val length = data.length
    val m = 0x5bd1e995
    val r = 24
    var h = 0x9747b28c ^ length
    var i = 0
    while (i + 4 <= length) {
      var k = (data(i) & 0xff) | ((data(i + 1) & 0xff) << 8) |
        ((data(i + 2) & 0xff) << 16) | ((data(i + 3) & 0xff) << 24)
      k *= m
      k ^= k >>> r
      k *= m
      h *= m
      h ^= k
      i += 4
    }
    val tail = length & ~3
    if ((length % 4) >= 3) h ^= (data(tail + 2) & 0xff) << 16
    if ((length % 4) >= 2) h ^= (data(tail + 1) & 0xff) << 8
    if ((length % 4) >= 1) { h ^= data(tail) & 0xff; h *= m }
    h ^= h >>> 13
    h *= m
    h ^= h >>> 15
    h
  }

  private val PartsRe = s"/topics/$topic/partitions".r
  private val OffsRe = s"/topics/$topic/partitions/(\\d+)/offsets".r
  private val MsgsRe = s"/topics/$topic/partitions/(\\d+)/messages".r

  srv.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
    val path = ex.getRequestURI.getPath
    val query = Option(ex.getRequestURI.getQuery).getOrElse("")
    val body = path match {
      case MsgsRe(p) =>
        fetches += 1
        val qs = query.split("&").filter(_.contains("="))
          .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
        val off = qs("offset").toInt
        val count = qs("count").toInt
        val log = this.log(p.toInt)
        log.synchronized {
          log.zipWithIndex.slice(off, off + count).map {
            case ((k, v), i) => s"""{"key":$k,"value":$v,"offset":$i}"""
          }.mkString("[", ",", "]")
        }
      case OffsRe(p) =>
        val l = this.log(p.toInt)
        val n = l.synchronized(l.size)
        s"""{"beginning_offset":0,"end_offset":$n}"""
      case _ if PartsRe.findFirstIn(path).isDefined =>
        (0 until partCount).map(p => s"""{"partition":$p}""")
          .mkString("[", ",", "]")
      // the REST-proxy PRODUCE route (the upsert-kafka sink's wire):
      // each record routes to [[partitionFor]] of its key (Kafka's
      // default-partitioner semantics) and appends in body order within
      // its partition — same key, same partition, so per-key ordering
      // survives an N-partition topic exactly as on a real broker
      case _ if path == s"/topics/$topic" &&
          ex.getRequestMethod == "POST" =>
        val req = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        // a malformed body must answer 422, not leave the exchange
        // hanging until the client's read timeout with the real cause
        // buried in a server-side stack trace
        val recs =
          try StubBroker.produceRecords(req)
          catch {
            case e: Exception =>
              val msg = """{"error_code":42201,""" +
                """"message":"malformed produce body"}"""
              val b = msg.getBytes("UTF-8")
              ex.sendResponseHeaders(422, b.length.toLong)
              ex.getResponseBody.write(b)
              ex.close()
              throw new IllegalStateException(
                s"malformed produce body: ${e.getMessage}")
          }
        val offs = recs.map { case (k, v) =>
          val p = partitionFor(k)
          val l = this.log(p)
          val o = l.synchronized { l += ((k, v)); l.size - 1 }
          (p, o)
        }
        offs.map { case (p, o) =>
          s"""{"partition":$p,"offset":$o,"error_code":null,"error":null}"""
        }.mkString("""{"offsets":[""", ",", "]}")
      case other =>
        ex.sendResponseHeaders(404, -1); ex.close()
        throw new IllegalStateException(s"unexpected path $other")
    }
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(200, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  })
  srv.start()
  val endpoint = s"http://127.0.0.1:${srv.getAddress.getPort}"
  def stop(): Unit = srv.stop(0)
}

object StubBroker {

  /** A REST-proxy produce body `{"records":[{"key":K,"value":V},…]}` →
    * the (key, value) JSON texts, exact slices of the body. A produced
    * `null` value stays the text "null", the tombstone spelling of the
    * consume side's log format; a missing field reads the same.
    */
  def produceRecords(body: String): Seq[(String, String)] =
    graft.JsonUtil.objectSlices(body, Some("records"), raw = true).map { f =>
      def text(name: String) = f.get(name).flatten.getOrElse("null")
      (text("key"), text("value"))
    }
}
