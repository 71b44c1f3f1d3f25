package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("nearest-rank percentile and summary") {
    val v = (1 to 10).map(_.toDouble)
    assert(percentile(v, 0) == 1.0)
    assert(percentile(v, 50) == 5.0)
    assert(percentile(v, 90) == 9.0)
    assert(percentile(v, 99) == 10.0)
    assert(percentile(v.reverse, 25) == 3.0)
    assert(summary(v) == Summary(5.0, 3.0, 8.0, 10))
    assert(percentile(Seq(7.0), 99) == 7.0)
    assertThrows[IllegalArgumentException](percentile(Nil, 50))
  }

  test("geometric mean weighs each value's ratio alike") {
    assert(math.abs(geoMean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
    assert(math.abs(geoMean(Seq(5.0)) - 5.0) < 1e-9)
    assertThrows[IllegalArgumentException](geoMean(Seq(1.0, 0.0)))
  }

  test("tail percentile keeps at least ten samples beyond it") {
    val cands = Seq(50.0, 75, 90, 95, 99)
    assert(beyond(100, 90) == 10 && beyond(100, 95) == 5)
    assert(tailPercentile(100, cands).contains(90.0))
    assert(tailPercentile(1000, cands).contains(99.0))
    assert(tailPercentile(40, cands).contains(75.0))
    assert(tailPercentile(20, cands).contains(50.0))
    assert(tailPercentile(15, cands).isEmpty)
  }

  test("latency is arrival minus the newest contributing creation stamp") {
    assert(latencyMs(1500L, 1000L) == 500.0)
    assert(latencyMs(1000L, 1000L) == 0.0)
  }

  test("open-loop schedule: due counts, due times and lateness") {
    val s = Schedule(startNs = 1000L, ratePerS = 1000.0) // one event per ms
    assert(s.due(999L) == 0)
    assert(s.due(1000L) == 1)
    assert(s.due(1000L + 999999L) == 1)
    assert(s.due(1000L + 1000000L) == 2)
    assert(s.due(1000L + 1000000000L) == 1001)
    assert(s.dueNs(0) == 1000L && s.dueNs(5) == 1000L + 5000000L)
    assert(s.latenessMs(5, s.dueNs(5) + 2500000L) == 2.5)
    assert(s.latenessMs(5, s.dueNs(5) - 100L) == 0.0)
  }

  test("sustained rate: highest step of the unbroken holding prefix") {
    val limit = 2000.0
    val trig = 500.0
    val ok1 = Step(20000, 900, 0, 5000)
    val ok2 = Step(40000, 1100, 5000, 30000) // in flight: 2 × 500 ms × 40k = 40k
    val slow = Step(80000, 2500, 0, 0)        // p99 over the limit
    val growing = Step(80000, 1500, 10000, 200000)
    assert(holds(ok1, limit, trig) && holds(ok2, limit, trig))
    assert(!holds(slow, limit, trig) && !holds(growing, limit, trig))
    assert(sustained(Seq(ok1, ok2, slow), limit, trig) == 40000)
    assert(sustained(Seq(ok1, growing, ok2), limit, trig) == 20000)
    assert(sustained(Seq(slow, ok1), limit, trig) == 0)
  }

  test("generator: open-loop stamps, per-key counts and bounded lateness") {
    val b = new Broker(2)
    try {
      val t = b.createTopic("t", 2)
      val stamps = scala.collection.mutable.ArrayBuffer[Long]()
      val g = new Generator(t, new ZipfKeys(50, 1.0, 7L),
        (id, k, ms) => { stamps += ms; s"""{"id":$id,"k":$k}""" })
      g.preload(100)
      assert(g.generated == 100 && t.size == 100)
      g.startRate(2000)
      Thread.sleep(300)
      g.pause()
      val n = g.generated - 100
      assert(n >= 500 && n <= 700, s"$n events in 300 ms at 2000/s")
      // scheduled stamps step by 0.5 ms, so they never go backwards
      assert(stamps.drop(100).sliding(2).forall(p => p(0) <= p(1)))
      assert(g.perKey.values.sum == g.generated)
      assert(g.lateMsMaxSeen < 250.0)
      g.close()
    } finally b.close()
  }

  test("zipf keys are seeded and skewed") {
    val a = new ZipfKeys(1000, 1.0, 3L)
    val b = new ZipfKeys(1000, 1.0, 3L)
    val xs = Seq.fill(5000)(a.next())
    assert(xs == Seq.fill(5000)(b.next()))
    val top = xs.groupBy(identity).values.map(_.size).max
    assert(top > 5000 / 20, s"hottest key drew only $top of 5000")
  }

  test("broker serves [offset, offset+count) and stamps sink arrivals") {
    val b = new Broker(2)
    try {
      val t = b.createTopic("src", 1)
      (0 until 10).foreach(i => t.parts(0).append(s"""{"i":$i}"""))
      def get(path: String) = new String(
        new java.net.URI(b.endpoint + path).toURL.openStream().readAllBytes(), "UTF-8")
      assert(get("/topics/src/partitions") == """[{"partition":0}]""")
      assert(get("/topics/src/partitions/0/offsets") ==
        """{"beginning_offset":0,"end_offset":10}""")
      val page = get("/topics/src/partitions/0/messages?offset=3&count=4")
      assert("\"offset\":(\\d+)".r.findAllMatchIn(page).map(_.group(1).toInt).toSeq == (3 to 6))
      assert(b.lagRows == 3) // the consumer is at offset 7 of 10
      assert(get("/topics/src/partitions/0/messages?offset=10&count=5") == "[]")
      assert(b.fetchRequests.get == 2 && b.emptyFetches.get == 1)
      assert(b.lagRows == 0)

      val before = System.currentTimeMillis()
      val body = """{"records":[""" +
        """{"key":{"k":1},"value":{"op":"u","before":null,"after":{"k":1,"n":2,"last_ms":1000}}},""" +
        """{"key":{"k":2},"value":{"op":"u","before":null,"after":{"k":2,"n":1,"last_ms":5000}}}]}"""
      val c = new java.net.URI(b.endpoint + "/topics/out").toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      c.setRequestMethod("POST"); c.setDoOutput(true)
      c.getOutputStream.write(body.getBytes("UTF-8"))
      assert(c.getResponseCode == 200)
      val sink = b.sink("out")
      assert(sink.firstPostAtOrAfter(before).isDefined)
      assert(sink.latest.size == 2)
      val lat = sink.latencies(0, 2000)
      assert(lat.size == 1 && lat.head >= before - 1000)
      assert(sink.latencies(0, 10000).size == 2)
    } finally b.close()
  }
}
