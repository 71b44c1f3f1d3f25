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
}
