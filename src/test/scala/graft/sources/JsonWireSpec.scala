package graft.sources

import com.fasterxml.jackson.core.JsonProcessingException
import graft.JsonUtil
import graft.platform.{AlarmTransports, Users}
import org.scalatest.funsuite.AnyFunSuite

/** Every JSON reader of the engine on adversarial input: the Kafka REST
  * fetch, produce and offsets wire, the ES `_bulk` and produce replies,
  * DingTalk verdicts, session tokens and the bench priors. Values come
  * back as exact slices or unescaped strings, unknown fields are skipped
  * and a malformed body fails with an error that gives its position.
  */
class JsonWireSpec extends AnyFunSuite {

  /** A local HTTP server answering each path with its fixed body. */
  private def serving[T](routes: Map[String, String])(f: String => T): T = {
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = routes(ex.getRequestURI.getPath).getBytes("UTF-8")
      ex.getRequestBody.readAllBytes()
      ex.sendResponseHeaders(200, b.length.toLong)
      ex.getResponseBody.write(b)
      ex.close()
    })
    srv.start()
    try f(s"http://127.0.0.1:${srv.getAddress.getPort}") finally srv.stop(0)
  }

  private def positioned(e: Throwable): Boolean =
    e.isInstanceOf[JsonProcessingException] &&
      e.getMessage.contains("line: 1, column: ")

  test("fetch records: nested containers, tricky strings, exact numbers, " +
    "escaped keys, unknown fields") {
    val body =
      """[{"key":{"a":[1,{"b":"}]"}]},"value":"q\"}]\\ éé",""" +
        """"offset":0,"extra":{"x":[1,2,{"y":null}]},"partition":2},""" +
        "{\"\\u006bey\":\"k\",\"value\":123456789012345678901234.50e-3," +
        """"offset":1,"unknown":"]}"},""" +
        """{"key":null,"value":[true , false,null],"offset":2}]"""
    val rs = KafkaRestSource.records(body)
    assert(rs.map(_.offset) == Seq(0L, 1L, 2L))
    assert(rs(0).key.contains("""{"a":[1,{"b":"}]"}]}"""))
    assert(rs(0).value == "q\"}]\\ éé")
    assert(rs(0).partition.contains(2))
    // an escaped field name is still the field it names
    assert(rs(1).key.contains("k"))
    // more than 17 significant digits: the exact text, never a double
    assert(rs(1).value == "123456789012345678901234.50e-3")
    assert(rs(1).partition.isEmpty)
    assert(rs(2).key.isEmpty)
    assert(rs(2).value == "[true , false,null]")
  }

  test("produce records: key and value are exact slices, null included") {
    val body =
      """{"ignored":{"records":1},"records":[""" +
        """{"key":{"k":"a\"b"},"value":{"op":"u","n":12345678901234567890}},""" +
        "{\"key\":\"s\\u0041\",\"value\":null},{\"value\":7}],\"tail\":[]}"
    assert(StubBroker.produceRecords(body) == Seq(
      ("""{"k":"a\"b"}""", """{"op":"u","n":12345678901234567890}"""),
      ("\"s\\u0041\"", "null"),
      ("null", "7")))
  }

  test("malformed bodies fail with their position") {
    val bad = Seq(
      """[{"key":1 "value":2,"offset":0}]""", // missing comma
      """[{"key":1,"value":2,"offset":0},""", // truncated array
      """[{"key":1,"value":2,"offset":0}] x""", // trailing text
      """{"key":1}""") // not an array
    bad.foreach { b =>
      val e = intercept[Exception](KafkaRestSource.records(b))
      assert(positioned(e), s"$b: $e")
    }
    val p = intercept[Exception](StubBroker.produceRecords(
      """{"records":[{"key":1,"value":2}"""))
    assert(positioned(p), p.toString)
    assert(positioned(intercept[Exception](JsonUtil.tree("""{"a":1,}"""))))
    val noOffset = intercept[IllegalArgumentException](
      KafkaRestSource.records("""[{"value":1}]"""))
    assert(noOffset.getMessage.contains("offset"))
  }

  test("partitions: object and bare-int forms; offsets and their round trip") {
    serving(Map(
      "/topics/obj/partitions" -> """[{"partition":0,"leader":1},{"partition":3}]""",
      "/topics/bare/partitions" -> "[0, 1,2]",
      "/topics/bad/partitions" -> """[{"partition":"0"}]""",
      "/topics/obj/partitions/3/offsets" ->
        """{"end_offset":12,"beginning_offset":5,"x":{"end_offset":1}}""",
      "/topics/obj/partitions/0/offsets" -> """{"beginning_offset":0}""")) { ep =>
      assert(KafkaRestSource.partitions(ep, "obj") == Seq(0, 3))
      assert(KafkaRestSource.partitions(ep, "bare") == Seq(0, 1, 2))
      intercept[IllegalArgumentException](KafkaRestSource.partitions(ep, "bad"))
      assert(KafkaRestSource.offsetRange(ep, "obj", 3) == ((5L, 12L)))
      val e = intercept[IllegalArgumentException](
        KafkaRestSource.offsetRange(ep, "obj", 0))
      assert(e.getMessage.contains("end_offset"), e.getMessage)
    }
    val o = RestOffsets(Map(2 -> 7L, 0 -> Long.MaxValue, 10 -> 0L))
    assert(o.json() == s"""{"0":${Long.MaxValue},"2":7,"10":0}""")
    assert(RestOffsets.fromJson(o.json()) == o)
    assert(RestOffsets.fromJson("""{ "1" : 4 }""") == RestOffsets(Map(1 -> 4L)))
    intercept[IllegalArgumentException](RestOffsets.fromJson("""{"1":"4"}"""))
  }

  test("DingTalk verdicts, including a reply that is not JSON") {
    def ok(b: String) = AlarmTransports.dingTalkAccepted(b)
    assert(ok("""{"errcode":0,"errmsg":"ok"}"""))
    assert(ok("""{"errcode": "0"}"""))
    assert(ok("""{"ok":true}"""))
    assert(ok("""{"errmsg":"\"errcode\":1","errcode":0}"""))
    assert(!ok("""{"errcode":310000,"errmsg":"keyword missing"}"""))
    assert(!ok("""{"errmsg":"\"errcode\":0","errcode":-1}"""))
    assert(!ok(""))
    assert(!ok(null))
    assert(!ok("<html>bad gateway</html>"))
    assert(!ok("""{"errcode":0"""))
    assert(!ok("[]"))
  }

  test("session tokens: quotes, backslashes, control chars, non-ASCII") {
    val odd = Seq("a\"b\\c\u0001\tdé世", "\u0000\u001f\r\n", "\\\"", "")
    for (name <- odd; pw <- odd) {
      val s = Users.Session(3, name, pw)
      assert(Users.decodeSession(Users.encodeSession(s)).contains(s))
    }
    // minted by the previous decoder's encoder (unchanged since): the
    // JSON {"name":"a\"b\\c\u0001\tdé世","password":"p\"w\\","userid":42}
    val minted = "eyJuYW1lIjoiYVwiYlxcY1x1MDAwMVx0ZMOp5LiWIiwicGFzc3dvcmQi" +
      "OiJwXCJ3XFwiLCJ1c2VyaWQiOjQyfQ=="
    assert(Users.decodeSession(minted).contains(
      Users.Session(42, "a\"b\\c\u0001\tdé世", "p\"w\\")))
    def token(json: String) =
      java.util.Base64.getEncoder.encodeToString(json.getBytes("UTF-8"))
    assert(Users.decodeSession(token(
      """{"userid":1,"password":"p","name":"n","more":[1]}""")).contains(
      Users.Session(1, "n", "p")))
    Seq("""{"name":"n","password":"p","userid":"1"}""",
      """{"name":"n","password":"p"}""",
      """{"name":"n","password":"p","userid":-1}""",
      """{"name":"n","password":"p","userid":1""", "not json")
      .foreach(j => assert(Users.decodeSession(token(j)).isEmpty, j))
    assert(Users.decodeSession("%%%").isEmpty)
  }

  test("bulk and produce replies: failures are read from the JSON") {
    serving(Map(
      "/ok/_bulk" -> """{"took":1,"errors":false,"items":[{"index":{"error":"\"errors\":true"}}]}""",
      "/bad/_bulk" -> """{"took":1,"errors" : true,"items":[]}""",
      "/html/_bulk" -> "<html/>",
      "/ok/topics/t" ->
        """{"offsets":[{"partition":0,"offset":1,"error_code":null,"error":"\"error_code\":5"}]}""",
      "/bad/topics/t" ->
        """{"offsets":[{"partition":0,"offset":1,"error_code":null},{"error_code":50003}]}""",
      "/top/topics/t" -> """{"error_code":40403,"message":"no topic"}"""
    )) { ep =>
      graft.sqlgate.EsBulk.httpPost(s"$ep/ok")("{}\n")
      val e = intercept[RuntimeException](
        graft.sqlgate.EsBulk.httpPost(s"$ep/bad")("{}\n"))
      assert(e.getMessage.contains("item failures"))
      assert(positioned(intercept[Exception](
        graft.sqlgate.EsBulk.httpPost(s"$ep/html")("{}\n"))))
      graft.sqlgate.KafkaRest.httpPost(s"$ep/ok", "t")("{}")
      Seq("bad", "top").foreach { p =>
        val k = intercept[RuntimeException](
          graft.sqlgate.KafkaRest.httpPost(s"$ep/$p", "t")("{}"))
        assert(k.getMessage.contains("record failures"), k.getMessage)
      }
    }
  }

  test("StubEs reads actions as JSON: escaped ids, action kinds, bad docs") {
    val es = new StubEs()
    try {
      def post(body: String): Unit =
        graft.Http.post(s"${es.endpoint}/_bulk", "application/x-ndjson", body)
      post("""{ "index" : {"_id":"k\"1\\ é","_index":"i"}}""" + "\n" +
        """{"v":"}"}""" + "\n")
      assert(es.docs("i") == Map("k\"1\\ é" -> """{"v":"}"}"""))
      val bodies = Seq(
        """{"create":{"_index":"i","_id":"x"}}""" + "\n{}\n",
        """{"index":{"_index":"i","_id":"y"},"delete":{}}""" + "\n{}\n",
        """{"index":{"_index":"i","_id":"z"}}""" + "\n{\"v\":1\n",
        """{"index":{"_index":"i","_id":"w"}""" + "\n{}\n")
      bodies.foreach { b =>
        val e = intercept[RuntimeException](post(b))
        assert(e.getMessage.contains("HTTP 400"), e.getMessage)
      }
      assert(es.docs("i").keySet == Set("k\"1\\ é"))
    } finally es.stop()
  }

  test("bench priors: read as JSON, scale factor matched exactly") {
    def tmp(content: String): String = {
      val f = java.nio.file.Files.createTempFile("bench_prior", ".json")
      java.nio.file.Files.writeString(f, content)
      f.toString
    }
    val p = tmp(
      """{"sf" : "/d/sf0.1", "queries" : {"q\"}1":1e-3,"q2":-1,"q3":"x",""" +
        """"q4":12345678901234567890},"errors":{"q":"\"queries\":{"}}""")
    assert(graft.Bench.readPriors("/d/sf0.1", p) ==
      Map("q\"}1" -> 0.001, "q2" -> -1.0, "q4" -> 1.2345678901234567e19))
    assert(graft.Bench.readPriors("/d/sf0", p).isEmpty)
    assert(graft.Bench.readPriors("/d/sf0.1",
      tmp("""{"sf":"/d/sf0.1","queries":{"q1":1}""")).isEmpty)
  }
}
