package graft.platform

import graft.SparkSpec
import java.nio.file.Files

/** The REST facade end-to-end over real HTTP: verbs delegate to
  * JobManager with the same guards observable as status codes (validation
  * 400, dup-run 400, unknown id 404), RestResult-shaped JSON bodies.
  */
class HttpApiSpec extends SparkSpec {

  private lazy val mgr = new JobManager(spark,
    Files.createTempDirectory("api_ckpt").toString,
    Files.createTempDirectory("api_sp").toString)
  private lazy val api = new HttpApi(mgr, spark)
  private lazy val base = s"http://127.0.0.1:${api.port}/api"

  override def afterAll(): Unit = {
    api.close()
    super.afterAll()
  }

  /** POST a form and return (status, body). */
  private def post(verb: String, params: (String, String)*): (Int, String) = {
    val conn = new java.net.URL(s"$base/$verb")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/x-www-form-urlencoded")
    val body = params.map { case (k, v) =>
      k + "=" + java.net.URLEncoder.encode(v, "UTF-8")
    }.mkString("&")
    conn.getOutputStream.write(body.getBytes("UTF-8"))
    val status = conn.getResponseCode
    val in = if (status < 400) conn.getInputStream else conn.getErrorStream
    val out = new String(in.readAllBytes(), "UTF-8")
    conn.disconnect()
    (status, out)
  }

  /** Run `f` over one raw socket to the facade (10 s read timeout). */
  private def withSocket[T](f: (java.io.OutputStream, java.io.InputStream) => T): T = {
    val sock = new java.net.Socket("127.0.0.1", api.port)
    try {
      sock.setSoTimeout(10000)
      f(sock.getOutputStream, new java.io.BufferedInputStream(sock.getInputStream))
    } finally sock.close()
  }

  /** Read one HTTP/1.1 reply: (status, lower-cased headers, body). */
  private def readReply(in: java.io.InputStream): (Int, Map[String, String], String) = {
    def line(): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != '\n') {
        assert(c >= 0, "connection closed mid-reply")
        if (c != '\r') sb += c.toChar
        c = in.read()
      }
      sb.toString
    }
    val status = line().split(" ")(1).toInt
    val headers = Iterator.continually(line()).takeWhile(_.nonEmpty).map { h =>
      val i = h.indexOf(':')
      h.take(i).trim.toLowerCase -> h.drop(i + 1).trim
    }.toMap
    val n = headers.get("content-length").fold(0)(_.toInt)
    (status, headers, new String(in.readNBytes(n), "UTF-8"))
  }

  private def dataOf(body: String): String =
    "\"data\":\"([^\"]*)\"".r.findFirstMatchIn(body).map(_.group(1))
      .getOrElse(fail(s"no string data in $body"))

  private def fsScript(src: String, out: String) =
    s"""CREATE TABLE src (id BIGINT) WITH (
       |  'connector' = 'filesystem', 'path' = '$src',
       |  'format' = 'parquet');
       |CREATE TABLE snk (id BIGINT) WITH (
       |  'connector' = 'filesystem', 'path' = '$out',
       |  'format' = 'parquet');
       |INSERT INTO snk SELECT id FROM src;
       |""".stripMargin

  test("ipStatus lists live instances and the elected leader") {
    // two instances heartbeating on a shared registry; the later
    // registration (higher id) leads — selectLastIp semantics surfaced
    // over live HTTP
    val url = "jdbc:derby:memory:ipstat_http;create=true"
    val a = new IpStatusService(url, "10.1.0.1")
    val b = new IpStatusService(url, "10.1.0.2")
    a.register(); b.register()
    val api2 = new HttpApi(mgr, spark, ipStatus = Some(b))
    try {
      def post2(verb: String): (Int, String) = {
        val conn = new java.net.URL(
          s"http://127.0.0.1:${api2.port}/api/$verb")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.getOutputStream.write(Array.emptyByteArray)
        val st = conn.getResponseCode
        val in = if (st < 400) conn.getInputStream else conn.getErrorStream
        val out = new String(in.readAllBytes(), "UTF-8")
        conn.disconnect(); (st, out)
      }
      val (s1, b1) = post2("ipStatus")
      assert(s1 == 200, b1)
      assert(b1.contains(""""leader":"10.1.0.2""""), b1)
      assert(b1.contains(""""thisInstance":"10.1.0.2""""), b1)
      assert(b1.contains(""""ip":"10.1.0.1","isLeader":false"""), b1)
      assert(b1.contains(""""ip":"10.1.0.2","isLeader":true"""), b1)
      // clean shutdown of the leader drops it out immediately
      b.cancel()
      val (_, b2) = post2("ipStatus")
      assert(b2.contains(""""leader":"10.1.0.1""""), b2)
      assert(!b2.contains(""""ip":"10.1.0.2""""), b2)
    } finally api2.close()
    // the default api (no IpStatusService wired) 404s the verb
    val (s3, b3) = post("ipStatus")
    assert(s3 == 404 && b3.contains("not configured"), b3)
  }

  test("checkfSql reports the validation verdict in-band") {
    val src = Files.createTempDirectory("api_chk").toString
    val (s1, b1) = post("checkfSql", "flinkSql" ->
      fsScript(src, Files.createTempDirectory("api_chk_out").toString))
    assert(s1 == 200 && b1.contains("\"success\":true"), b1)
    val (s2, b2) = post("checkfSql", "flinkSql" -> "SELEC broken FROM")
    assert(s2 == 200 && b2.contains("\"success\":false"), b2)
  }

  test("config CRUD verbs over HTTP: add/list/edit/copy/close/open/delete") {
    val (s1, b1) = post("addConfig", "name" -> "api_cfg",
      "script" -> "INSERT INTO nowhere SELECT 1;")
    assert(s1 == 200, b1)
    val id = dataOf(b1)
    val (_, listed) = post("listTask")
    assert(listed.contains(s""""id":"$id"""") &&
      listed.contains(""""name":"api_cfg""""), listed)

    assert(post("editConfig", "id" -> id,
      "script" -> "INSERT INTO elsewhere SELECT 2;")._1 == 200)
    val (s3, b3) = post("copyConfig", "id" -> id, "name" -> "api_cfg_copy")
    assert(s3 == 200)
    val copyId = dataOf(b3)
    assert(copyId != id)

    // closed configs refuse to start (400), reopened ones don't get that far
    assert(post("close", "id" -> id)._1 == 200)
    val (s4, b4) = post("start", "id" -> id)
    assert(s4 == 400 && b4.contains("closed"), b4)
    assert(post("open", "id" -> id)._1 == 200)

    assert(post("delete", "id" -> id)._1 == 200)
    assert(post("delete", "id" -> copyId)._1 == 200)
    // unknown ids are 404s
    assert(post("stop", "id" -> "nope1234")._1 == 404)
    assert(post("delete", "id" -> "nope1234")._1 == 404)
  }

  test("lifecycle over HTTP: start → savepoint → stop → restart; dup-run 400") {
    import spark.implicits._
    val src = Files.createTempDirectory("api_src").toString
    val out = Files.createTempDirectory("api_out").toString
    spark.range(0, 3).toDF("id").coalesce(1).write.mode("append").parquet(src)

    val (_, added) = post("addConfig", "name" -> "api_job",
      "script" -> fsScript(src, out))
    val id = dataOf(added)
    assert(post("start", "id" -> id)._1 == 200)
    assert(mgr.status(id) == JobManager.Running)
    mgr.info(id).queries.foreach(_.processAllAvailable())

    // dup-run guard over HTTP: same name active → 400
    val (dupS, dupB) = post("start", "name" -> "api_job",
      "script" -> fsScript(src, out))
    assert(dupS == 400 && dupB.contains("already active"), dupB)

    val (spS, spB) = post("savepoint", "id" -> id)
    assert(spS == 200 && dataOf(spB).nonEmpty, spB)
    val (stS, stB) = post("stop", "id" -> id)
    assert(stS == 200 && dataOf(stB).nonEmpty, stB)
    // stopping a stopped job is a client error, not a crash
    assert(post("stop", "id" -> id)._1 == 400)

    val (rsS, rsB) = post("restart", "id" -> id)
    assert(rsS == 200, rsB)
    val newId = dataOf(rsB)
    assert(newId != id && mgr.status(newId) == JobManager.Running)
    post("stop", "id" -> newId, "savepoint" -> "false")
    assert(spark.read.parquet(out).as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L))
  }

  test("ad-hoc start without INSERT fails validation with 400") {
    val (s, b) = post("start", "name" -> "bad_api_job",
      "script" -> "CREATE TABLE only_ddl (id BIGINT) WITH ('connector'='datagen');")
    assert(s == 400 && b.contains("validation failed"), b)
  }

  test("a script the analyzer rejects is a 400, not a 500") {
    val src = Files.createTempDirectory("api_bad_src").toString
    val out = Files.createTempDirectory("api_bad_out").toString
    spark.range(0, 3).toDF("id").coalesce(1).write.mode("append").parquet(src)
    val unknownColumn = fsScript(src, out)
      .replace("SELECT id FROM src", "SELECT no_such_col FROM src")
    val unknownTable = fsScript(src, out)
      .replace("FROM src", "FROM no_such_table")
    Seq(unknownColumn, unknownTable).zipWithIndex.foreach { case (sc, i) =>
      val (s, b) = post("start", "name" -> s"bad_analysis_$i", "script" -> sc)
      assert(s == 400 && b.contains("\"success\":false"), s"$s $b")
    }
  }

  test("unknown verb is a 404 with a RestResult body") {
    val (s, b) = post("definitelyNotAVerb")
    assert(s == 404 && b.contains("\"success\":false"), b)
  }

  test("open routes: /ok health probe and /alarmCallback echo") {
    def get(path: String): (Int, String) = {
      val conn = new java.net.URL(s"http://127.0.0.1:${api.port}$path")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val st = conn.getResponseCode
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      conn.disconnect(); (st, body)
    }
    assert(get("/ok")._1 == 200)
    assert(get("/alarmCallback?appId=x&jobName=j&deployMode=LOCAL")._1 == 200)
  }

  test("alarm transport delivers to the facade's own callback over real HTTP") {
    // close the loop the reference closes: monitor fires an alarm → the
    // HTTP transport posts the CallbackDTO form → the open /alarmCallback
    // route accepts it
    val httpPost = (url: String, contentType: String, body: String) => {
      val conn = new java.net.URL(url)
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", contentType)
      conn.getOutputStream.write(body.getBytes("UTF-8"))
      val res = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      conn.disconnect(); res
    }
    val handler = AlarmTransports.httpCallbackHandler(
      s"http://127.0.0.1:${api.port}/alarmCallback", "SPARK_LOCAL", httpPost)
    // a JOB_FAILED event flows through without throwing; the endpoint
    // returns the RestResult body through the post function
    handler(JobManager.AlarmEvent("ab12cd34", "orders_etl", "JOB_FAILED",
      "source exhausted"))
  }

  test("keep-alive: a reused connection answers without a delayed-ACK stall") {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    // one HTTP/1.1 client: sequential requests share one pooled connection
    val client = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    def medianMs(req: HttpRequest): Double = {
      val ms = (1 to 15).map { _ =>
        val t0 = System.nanoTime()
        val res = client.send(req, HttpResponse.BodyHandlers.ofString())
        assert(res.statusCode() == 200, res.body())
        (System.nanoTime() - t0) / 1e6
      }.sorted
      ms(ms.size / 2)
    }
    val list = medianMs(HttpRequest.newBuilder(java.net.URI.create(s"$base/listTask"))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString("")).build())
    val probe = medianMs(HttpRequest.newBuilder(
      java.net.URI.create(s"http://127.0.0.1:${api.port}/ok")).GET().build())
    // a reply held back for the client's delayed ACK takes ~40 ms
    assert(list < 20, s"median listTask round trip $list ms")
    assert(probe < 20, s"median /ok round trip $probe ms")
  }

  test("pipelined requests on one connection are answered in order") {
    withSocket { (out, in) =>
      // the slower verb first: its reply must still come back first
      val form = "flinkSql=" + java.net.URLEncoder.encode("SELEC broken FROM", "UTF-8")
      out.write((
        "POST /api/checkfSql HTTP/1.1\r\nHost: localhost\r\n" +
          "Content-Type: application/x-www-form-urlencoded\r\n" +
          s"Content-Length: ${form.length}\r\n\r\n$form" +
          "GET /ok HTTP/1.1\r\nHost: localhost\r\n\r\n").getBytes("UTF-8"))
      out.flush()
      val (s1, _, b1) = readReply(in)
      val (s2, _, b2) = readReply(in)
      assert(s1 == 200 && b1.contains("\"success\":false"), b1)
      assert(s2 == 200 && b2.contains("\"success\":true"), b2)
    }
  }

  test("Connection: close gets its reply, then a closed connection") {
    withSocket { (out, in) =>
      out.write(("GET /ok HTTP/1.1\r\nHost: localhost\r\n" +
        "Connection: close\r\n\r\n").getBytes("UTF-8"))
      out.flush()
      val (s, h, b) = readReply(in)
      assert(s == 200 && b.contains("\"success\":true"), b)
      assert(h.get("connection").contains("close"), h)
      assert(in.read() == -1, "the connection stayed open")
    }
  }

  test("a body over the cap is a 413 and other connections still answer") {
    withSocket { (out, in) =>
      // the declared length alone is over the cap: the reply comes
      // before any of the body is sent
      out.write(("POST /api/listTask HTTP/1.1\r\nHost: localhost\r\n" +
        "Content-Type: application/x-www-form-urlencoded\r\n" +
        s"Content-Length: ${HttpApi.MaxBodyBytes + 1L}\r\n\r\n").getBytes("UTF-8"))
      out.flush()
      assert(readReply(in)._1 == 413)
    }
    val (s, b) = post("listTask")
    assert(s == 200, b)
  }
}
