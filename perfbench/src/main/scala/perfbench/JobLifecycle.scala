package perfbench

import graft.platform.{HttpApi, JdbcJobRegistry}
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** `job_lifecycle`: one closed-loop HTTP client drives `HttpApi` over a
  * Derby-backed `JdbcJobRegistry`. Each cycle runs one gate script on
  * fresh topics: start → first result → catch-up of a preloaded backlog
  * → fixed-rate feed → drain → savepoint → stop-with-savepoint → a
  * backlog arrives while it is down → restart-from-savepoint → first
  * result → catch-up → stop, with `listTask` and `querySavePointList10`
  * reads between cycles. Scripts rotate in a seeded order. The check:
  * each cycle's compacted sink, after the stop, savepoint and restore,
  * equals what an uninterrupted run computes from the same events — no
  * loss, no duplicates.
  */
object JobLifecycle {

  val Partitions = 2
  val Keys = 1000
  val ZipfS = 1.0
  val TriggerMs = 100
  val PreloadRows = 1000
  val FeedRatePerS = 2000.0
  val FeedMs = 800L
  /** Whole rounds of every script run until `--seconds` is up, and at
    * least this many.
    */
  val MinRounds = 3
  val Scripts = Seq("keyed_agg", "tumble", "lookup_join")
  /** Percentiles the start tail may report, highest first that keeps ten
    * starts beyond it.
    */
  val TailCandidates = Seq(99.0, 95, 90, 75, 50)

  final case class Event(id: Long, k: Int, createdMs: Long)

  def run(c: Ctx): Unit = {
    val parts = math.min(Partitions, c.nproc)
    val dbUrl = s"jdbc:derby:${c.dir("derby")}/platform;create=true"
    val dimUrl = s"jdbc:derby:${c.dir("derby")}/dim;create=true"
    loadDim(dimUrl, Keys)
    val registry = new CountingRegistry(new JdbcJobRegistry(dbUrl), c.trace)
    val jm = new TimedJobManager(c.spark, c.dir("ckpt"), c.dir("savepoints"),
      Some(registry), c.trace)
    val api = new HttpApi(jm, c.spark)
    val client = new Client(s"http://127.0.0.1:${api.port}/api", c)
    try {
      def script(kind: String, in: String, out: String): String = kind match {
        case "keyed_agg" => c.keyedAggScript(in, out, TriggerMs)
        case "tumble" =>
          s"""SET table.exec.mini-batch.allow-latency = $TriggerMs ms;
             |${c.kafkaSource("ev", in, ", ts TIMESTAMP(3), WATERMARK FOR ts AS ts - INTERVAL '1' SECOND")}
             |${c.upsertSink("per_window", out, "w BIGINT, k BIGINT, n BIGINT, last_ms BIGINT", "w, k")}
             |INSERT INTO per_window
             |SELECT CAST(FLOOR(MAX(created_ms) / 1000) AS BIGINT) AS w, k,
             |  COUNT(*) AS n, MAX(created_ms) AS last_ms
             |FROM ev GROUP BY TUMBLE(ts, INTERVAL '1' SECOND), k;
             |""".stripMargin
        case "lookup_join" =>
          s"""SET table.exec.mini-batch.allow-latency = $TriggerMs ms;
             |${c.kafkaSource("ev", in)}
             |CREATE TABLE dim (id BIGINT, label VARCHAR) WITH (
             |  'connector' = 'jdbc', 'url' = '$dimUrl', 'table-name' = 'lc_dim',
             |  'lookup.cache.ttl' = '60 s', 'lookup.cache.strategy' = 'keyed'
             |);
             |${c.upsertSink("enriched", out, "id BIGINT, k BIGINT, label STRING, last_ms BIGINT", "id")}
             |INSERT INTO enriched
             |SELECT e.id, e.k, d.label, e.created_ms AS last_ms FROM ev e
             |LEFT JOIN dim FOR SYSTEM_TIME AS OF e.k AS d ON e.k = d.id;
             |""".stripMargin
      }

      var cycleNo = 0
      var rounds = 0
      val perScript = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
      // latency rows of every feed, per script: one feed spans only a few
      // batches, so its own percentiles would swing with their timing
      val latRows = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
      def fresh(): (String, String, Broker.Topic, Broker.Sink) = {
        cycleNo += 1
        val (in, out) = (s"lc${cycleNo}_in", s"lc${cycleNo}_out")
        (in, out, c.broker.createTopic(in, parts), c.broker.sink(out))
      }

      def warm(kind: String): Unit = {
        val (in, out, topic, sink) = fresh()
        val gen = new Generator(topic, new ZipfKeys(Keys, ZipfS, c.seed * 1000 + cycleNo),
          c.event)
        try {
          gen.preload(PreloadRows)
          val t0 = System.currentTimeMillis()
          val id = client.call("start", "name" -> s"warm$cycleNo-$kind",
            "script" -> script(kind, in, out)).data.asText()
          c.await(s"first result of $kind")(sink.firstPostAtOrAfter(t0))
          client.call("stop", "id" -> id, "savepoint" -> "false")
        } finally gen.close()
      }

      def cycle(kind: String): Unit = {
        val (in, out, topic, sink) = fresh()
        val events = mutable.ArrayBuffer[Event]()
        val gen = new Generator(topic, new ZipfKeys(Keys, ZipfS, c.seed * 1000 + cycleNo),
          (id, k, ms) => { events.synchronized(events += Event(id, k, ms)); c.event(id, k, ms) })
        def add(m: String, v: Double): Unit = {
          c.add(s"$m.samples", v)
          perScript.getOrElseUpdate(s"$kind.$m", mutable.ArrayBuffer()) += v
        }
        try {
          gen.preload(PreloadRows)
          val t0 = System.currentTimeMillis()
          val id = c.op("start") {
            val r = client.call("start", "name" -> s"lc$cycleNo-$kind",
              "script" -> script(kind, in, out))
            add("lifecycle.start_p50_ms", r.ms)
            client.platformShare(r.ms, jm.lastCallMs)
            r.data.asText()
          }.getOrElse(return)
          c.op("first result") {
            val first = c.await(s"first result of $kind")(sink.firstPostAtOrAfter(t0))
            add("lifecycle.first_result_p50_ms", (first - t0).toDouble)
          }
          c.op("catch-up") {
            c.awaitCommitted(jm, id, PreloadRows)
            add("stream.catchup_rows_per_s", PreloadRows * 1000.0 /
              math.max(1L, System.currentTimeMillis() - t0))
          }
          val feedFrom = System.currentTimeMillis()
          gen.startRate(FeedRatePerS)
          Thread.sleep(FeedMs)
          gen.pause()
          val feedUntil = System.currentTimeMillis()
          // both snapshots come once the job has processed everything fed
          // so far, so they time the copy, not a batch in flight
          c.op("drain") {
            c.awaitCommitted(jm, id, gen.generated)
            c.query(jm, id).processAllAvailable()
          }
          c.op("savepoint") {
            val r = client.call("savepoint", "id" -> id)
            add("lifecycle.savepoint_ms", r.ms)
            client.platformShare(r.ms, jm.lastCallMs)
          }
          c.op("stop with savepoint") {
            val r = client.call("stop", "id" -> id)
            add("lifecycle.stop_savepoint_p50_ms", r.ms)
            client.platformShare(r.ms, jm.lastCallMs)
          }.getOrElse {
            // a failed stop leaves the job RUNNING with its queries
            // stopped; settle it and drop the rest of the cycle
            c.op("stop after failed stop")(client.call("stop", "id" -> id, "savepoint" -> "false"))
            return
          }
          // events that arrive while the job is down, for the restored
          // job to pick up
          gen.preload(PreloadRows)
          val tr = System.currentTimeMillis()
          val id2 = c.op("restore") {
            val r = client.call("start", "id" -> id, "savepoint" -> "")
            add("lifecycle.restore_p50_ms", r.ms)
            client.platformShare(r.ms, jm.lastCallMs)
            r.data.asText()
          }.getOrElse(return)
          c.op("first result after restore") {
            val first = c.await(s"first result of restored $kind")(sink.firstPostAtOrAfter(tr))
            add("lifecycle.first_result_p50_ms", (first - tr).toDouble)
          }
          c.op("catch-up after restore") {
            c.awaitCommitted(jm, id2, gen.generated)
            add("stream.catchup_rows_per_s", PreloadRows * 1000.0 /
              math.max(1L, System.currentTimeMillis() - tr))
          }
          c.op("stop") {
            val r = client.call("stop", "id" -> id2, "savepoint" -> "false")
            client.platformShare(r.ms, jm.lastCallMs)
          }
          c.op("listTask")(client.call("listTask"))
          c.op("querySavePointList10")(client.call("querySavePointList10", "id" -> id))
          val lat = sink.latencies(feedFrom + TriggerMs, feedUntil)
          lat.foreach(c.add("stream.lat_ms.samples", _))
          latRows.getOrElseUpdate(kind, mutable.ArrayBuffer()) ++= lat
          c.notes("gen.late_ms_max") =
            math.max(c.notes.getOrElse("gen.late_ms_max", 0.0), gen.lateMsMaxSeen)
          val evs = events.synchronized(events.toVector)
          check(c, kind, cycleNo, evs, sink.snapshot(c.json), Keys)
        } finally gen.close()
      }

      // set-up: each script once, start → first result → stop, so every
      // script's cold path is paid before timing starts
      Scripts.foreach { kind =>
        val t0 = System.nanoTime()
        warm(kind)
        c.add("setup.round_s", (System.nanoTime() - t0) / 1e9)
      }
      c.heapMark()
      val rng = new java.util.Random(c.seed)
      val until = System.currentTimeMillis() + c.seconds * 1000L
      // whole rounds of every script once, in a seeded order, so each
      // script contributes the same number of samples
      while (rounds < MinRounds || System.currentTimeMillis() < until) {
        scala.util.Random.javaRandomToRandom(rng).shuffle(Scripts).foreach(cycle)
        rounds += 1
      }
      c.heapMark()
      c.notes("lifecycle.rounds") = rounds
      latRows.filter(_._2.nonEmpty).foreach { case (kind, rows) =>
        perScript(s"$kind.stream.lat_p50_ms") = mutable.ArrayBuffer(Stats.percentile(rows.toSeq, 50))
        perScript(s"$kind.stream.lat_p99_ms") = mutable.ArrayBuffer(Stats.percentile(rows.toSeq, 99))
      }
      perScript.foreach { case (m, v) => c.notes(m) = Stats.median(v.toSeq) }
      // each metric's value: the geometric mean over scripts of each
      // script's median, so a script whose operations are slower (or
      // faster) weighs the same in every run
      val metrics = perScript.keys.map(_.split("\\.", 2)(1)).toSeq.distinct
      metrics.foreach { m =>
        val meds = Scripts.flatMap(k => perScript.get(s"$k.$m")).map(v => Stats.median(v.toSeq))
        c.add(m, Stats.geoMean(meds))
      }
      // the start tail: the highest candidate percentile that still has
      // enough samples beyond it, over every start of the run
      val starts = perScript.collect { case (m, v) if m.endsWith(".lifecycle.start_p50_ms") => v }
        .flatten.toSeq
      Stats.tailPercentile(starts.size, TailCandidates).foreach { p =>
        c.notes("lifecycle.start_tail_pct") = p
        c.notes("lifecycle.start_tail_ms") = Stats.percentile(starts, p)
      }
    } finally { api.close(); client.close() }
  }

  private def loadDim(url: String, keys: Int): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE lc_dim") catch { case _: java.sql.SQLException => () }
      st.execute("CREATE TABLE lc_dim (id BIGINT PRIMARY KEY, label VARCHAR(32))")
      val ins = conn.prepareStatement("INSERT INTO lc_dim VALUES (?, ?)")
      (0 until keys).filter(_ % 3 != 0).foreach { k =>
        ins.setLong(1, k); ins.setString(2, s"label_$k"); ins.addBatch()
      }
      ins.executeBatch()
    } finally conn.close()
  }

  /** The uninterrupted answer for each script, compared to the sink. */
  private def check(c: Ctx, kind: String, cycle: Int, evs: Seq[Event],
      got: Map[String, com.fasterxml.jackson.databind.JsonNode], keys: Int): Unit = {
    def long(n: com.fasterxml.jackson.databind.JsonNode, f: String) = n.get(f).asLong
    kind match {
      case "keyed_agg" =>
        val want = evs.groupBy(_.k).map { case (k, es) =>
          k.toLong -> ((es.size.toLong, es.map(_.createdMs).max)) }
        val have = got.values.map(n => long(n, "k") -> ((long(n, "n"), long(n, "last_ms")))).toMap
        c.check(s"cycle $cycle keyed_agg", have == want,
          s"${want.size} keys expected, ${have.size} in sink, ${want.count(kv => !have.get(kv._1).contains(kv._2))} differ")
      case "tumble" =>
        // the sink takes window updates, so once every event is in, each
        // (window, key) holds its full count; events arrive in creation
        // order, so the watermark drops none
        val want = evs.groupBy(e => (e.createdMs / 1000, e.k.toLong))
          .map { case (wk, es) => wk -> ((es.size.toLong, es.map(_.createdMs).max)) }
        val have = got.values.map(n =>
          (long(n, "w"), long(n, "k")) -> ((long(n, "n"), long(n, "last_ms")))).toMap
        c.check(s"cycle $cycle tumble", have == want,
          s"${want.size} windows expected, ${have.size} in sink")
      case "lookup_join" =>
        val want = evs.map(e => e.id -> ((e.k.toLong,
          if (e.k % 3 != 0) s"label_${e.k}" else null))).toMap
        val have = got.values.map { n =>
          val l = n.get("label")
          long(n, "id") -> ((long(n, "k"), if (l == null || l.isNull) null else l.asText))
        }.toMap
        c.check(s"cycle $cycle lookup_join", have == want,
          s"${want.size} rows expected, ${have.size} in sink")
    }
  }

  /** The closed-loop HTTP client: one connection, form-encoded verbs,
    * the reference's RestResult envelope parsed.
    */
  final class Client(base: String, c: Ctx) extends AutoCloseable {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .executor(java.util.concurrent.Executors.newSingleThreadExecutor((r: Runnable) => {
        val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
      })).build()
    final case class Reply(ms: Double, data: com.fasterxml.jackson.databind.JsonNode)

    def call(verb: String, params: (String, String)*): Reply = {
      val form = params.map { case (k, v) =>
        URLEncoder.encode(k, UTF_8) + "=" + URLEncoder.encode(v, UTF_8) }.mkString("&")
      val req = HttpRequest.newBuilder(java.net.URI.create(s"$base/$verb"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(HttpRequest.BodyPublishers.ofString(form)).build()
      val t0 = System.nanoTime()
      val res = http.send(req, HttpResponse.BodyHandlers.ofString())
      val ms = (System.nanoTime() - t0) / 1e6
      val body = c.json.readTree(res.body())
      if (res.statusCode() != 200 || !body.path("success").asBoolean(false))
        throw new IllegalStateException(s"/api/$verb answered ${res.statusCode()}: " +
          body.path("message").asText())
      Reply(ms, body.get("data"))
    }

    /** The HTTP layer's share of a verb: round trip minus the manager call. */
    def platformShare(roundTripMs: Double, managerMs: Double): Unit =
      if (c.trace.enabled) c.trace.sample("platform.http_ms", math.max(0.0, roundTripMs - managerMs))

    override def close(): Unit = http.executor().ifPresent {
      case e: java.util.concurrent.ExecutorService => e.shutdownNow(); ()
      case _ => ()
    }
  }
}
