package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong

/** The benchmark's own broker and sink endpoint on one local socket.
  *
  * Source side: the REST consume wire `KafkaRestSource` reads
  * (`/topics/<t>/partitions`, `.../<p>/offsets`,
  * `.../<p>/messages?offset=o&count=c`). Records are rendered once, at
  * append time, and a fetch of `count` records touches only those
  * `count` entries, so its cost does not grow with the log.
  *
  * Sink side: the REST produce wire `KafkaRest.httpPost` writes
  * (`POST /topics/<t>`, body `{"records":[{"key":…,"value":…}]}`).
  * Every POST is stamped with its arrival time before the body is read;
  * each record's `after.last_ms` (the newest contributing event's
  * creation stamp) becomes one latency sample, and the topic keeps the
  * compacted last value per key for the output checks.
  */
final class Broker(threads: Int) extends AutoCloseable {
  import Broker._

  private val topics = new ConcurrentHashMap[String, Topic]()
  private val sinks = new ConcurrentHashMap[String, Sink]()
  val fetchRequests = new AtomicLong
  val emptyFetches = new AtomicLong
  val fetchBytes = new AtomicLong
  private val json = new ObjectMapper()

  def createTopic(name: String, partitions: Int): Topic =
    topics.computeIfAbsent(name, _ => new Topic(partitions))
  def topic(name: String): Topic = topics.get(name)
  def sink(name: String): Sink = sinks.computeIfAbsent(name, _ => new Sink)

  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "perfbench-broker"); t.setDaemon(true); t
  })
  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/topics/", (ex: HttpExchange) =>
    try handle(ex)
    catch {
      case e: Throwable =>
        val b = s"""{"error_code":50001,"message":"${e.getClass.getSimpleName}"}"""
          .getBytes(UTF_8)
        try { ex.sendResponseHeaders(500, b.length.toLong); ex.getResponseBody.write(b) }
        catch { case _: Throwable => () }
    } finally ex.close())
  server.start()

  val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def reply(ex: HttpExchange, body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, body.length.toLong)
    ex.getResponseBody.write(body)
  }

  private def handle(ex: HttpExchange): Unit = {
    val parts = ex.getRequestURI.getPath.split('/').filter(_.nonEmpty)
    // parts: topics, <t>[, partitions[, <p>, offsets|messages]]
    if (ex.getRequestMethod == "POST" && parts.length == 2) {
      val arrivalMs = System.currentTimeMillis()
      val body = ex.getRequestBody.readAllBytes()
      val n = sink(parts(1)).receive(json, arrivalMs, body)
      reply(ex, (0 until n).map(_ =>
        """{"partition":0,"offset":0,"error_code":null,"error":null}""")
        .mkString("""{"offsets":[""", ",", "]}").getBytes(UTF_8))
    } else {
      val t = topics.get(parts(1))
      require(t != null, s"unknown topic ${parts(1)}")
      parts.length match {
        case 3 =>
          reply(ex, t.parts.indices.map(p => s"""{"partition":$p}""")
            .mkString("[", ",", "]").getBytes(UTF_8))
        case 5 if parts(4) == "offsets" =>
          val end = t.parts(parts(3).toInt).size
          reply(ex, s"""{"beginning_offset":0,"end_offset":$end}""".getBytes(UTF_8))
        case 5 if parts(4) == "messages" =>
          val q = ex.getRequestURI.getRawQuery.split('&').map { kv =>
            val i = kv.indexOf('='); kv.substring(0, i) -> kv.substring(i + 1)
          }.toMap
          val p = t.parts(parts(3).toInt)
          val off = q("offset").toLong
          val recs = p.slice(off, q("count").toInt)
          p.noteFetched(off + recs.length)
          val out = new ByteArrayOutputStream(recs.map(_.length + 1).sum + 2)
          out.write('[')
          var i = 0
          while (i < recs.length) {
            if (i > 0) out.write(',')
            out.write(recs(i))
            i += 1
          }
          out.write(']')
          fetchRequests.incrementAndGet()
          if (recs.isEmpty) emptyFetches.incrementAndGet()
          fetchBytes.addAndGet(out.size().toLong)
          reply(ex, out.toByteArray)
        case _ => throw new IllegalArgumentException("unknown route")
      }
    }
  }

  /** Rows appended but not yet fetched, over every topic. */
  def lagRows: Long = {
    var lag = 0L
    topics.values.forEach(t => t.parts.foreach(p => lag += p.size - p.fetched))
    lag
  }

  override def close(): Unit = { server.stop(0); pool.shutdownNow(); () }
}

object Broker {

  /** One partition's append-only log of pre-rendered records. */
  final class Partition {
    private var recs = new Array[Array[Byte]](1 << 12)
    @volatile private var n = 0
    @volatile private var fetchedTo = 0L

    def size: Long = n
    def fetched: Long = fetchedTo

    def append(valueJson: String): Long = synchronized {
      if (n == recs.length) recs = java.util.Arrays.copyOf(recs, n * 2)
      recs(n) = s"""{"key":null,"value":$valueJson,"offset":$n}""".getBytes(UTF_8)
      n += 1
      n - 1L
    }

    /** Records `[offset, offset + count)` that exist, in O(count). */
    def slice(offset: Long, count: Int): Array[Array[Byte]] = synchronized {
      val from = math.min(offset, n.toLong).toInt
      val until = math.min(offset + count, n.toLong).toInt
      java.util.Arrays.copyOfRange(recs, from, until)
    }

    def noteFetched(to: Long): Unit = synchronized {
      if (to > fetchedTo) fetchedTo = to
    }
  }

  final class Topic(partitions: Int) {
    val parts: IndexedSeq[Partition] = IndexedSeq.fill(partitions)(new Partition)
    def size: Long = parts.map(_.size).sum
  }

  /** One latency sample: when the row arrived and the creation stamp of
    * the newest event behind it.
    */
  final case class Arrival(arrivalMs: Long, lastMs: Long)

  /** A sink topic as the benchmark sees it: POST arrival stamps, latency
    * samples and the compacted last value per key.
    */
  final class Sink {
    private val posts = scala.collection.mutable.ArrayBuffer[Long]()
    private val samples = scala.collection.mutable.ArrayBuffer[Arrival]()
    val latest = new ConcurrentHashMap[String, String]()
    val records = new AtomicLong

    private[Broker] def receive(json: ObjectMapper, arrivalMs: Long,
        body: Array[Byte]): Int = {
      val recs = json.readTree(body).get("records")
      val got = scala.collection.mutable.ArrayBuffer[Arrival]()
      recs.forEach { r =>
        val key = r.get("key").toString
        val v = r.get("value")
        val after = v.get("after")
        if (v.path("op").asText() == "d" || after == null || after.isNull)
          latest.remove(key)
        else {
          latest.put(key, after.toString)
          val last = after.get("last_ms")
          if (last != null && last.canConvertToLong)
            got += Arrival(arrivalMs, last.asLong())
        }
      }
      synchronized { posts += arrivalMs; samples ++= got }
      records.addAndGet(recs.size().toLong)
      recs.size()
    }

    /** First POST that arrived at or after `ms`, if any yet. */
    def firstPostAtOrAfter(ms: Long): Option[Long] =
      synchronized(posts.find(_ >= ms))

    /** Latency samples of rows whose newest event was created in
      * `[fromMs, untilMs)`.
      */
    def latencies(fromMs: Long, untilMs: Long): Seq[Double] = synchronized {
      samples.iterator.filter(a => a.lastMs >= fromMs && a.lastMs < untilMs)
        .map(a => Stats.latencyMs(a.arrivalMs, a.lastMs)).toVector
    }

    /** Compacted last value per key, parsed. */
    def snapshot(json: ObjectMapper): Map[String, com.fasterxml.jackson.databind.JsonNode] = {
      val b = Map.newBuilder[String, com.fasterxml.jackson.databind.JsonNode]
      latest.forEach((k, v) => b += (k -> json.readTree(v)))
      b.result()
    }
  }
}
