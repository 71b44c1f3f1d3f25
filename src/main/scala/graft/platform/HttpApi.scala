package graft.platform

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.JsonUtil
import graft.sqlgate.SqlValidator
import org.apache.spark.sql.SparkSession
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

/** Thin HTTP facade over [[JobManager]] — the reference is a web
  * platform, and this is its REST verb surface
  * (`JobConfigApiController.java:89-415`: start/stop/savepoint/open/
  * close/delete/addConfig/editConfig/copyConfig/listTask/
  * jobConfigHistory*, plus `SqlValidationController.java:25-44`'s
  * checkfSql) served by the JDK's built-in HttpServer — zero new
  * dependencies, delegating every verb to the manager so the guards
  * (validation, dup-run, optimistic lock) are the same objects the
  * in-process API enforces.
  *
  * Responses are the reference's RestResult JSON shape
  * (`RestResult.java:14-24`): `{"code","success","message","data"}`.
  * Guard failures map onto HTTP statuses: bad input / validation /
  * dup-run → 400, unknown id → 404, optimistic-lock races → 409,
  * anything unexpected → 500. Params come from the query string or an
  * `application/x-www-form-urlencoded` body (the reference's Spring
  * `@RequestMapping` endpoints accept both the same way).
  *
  * When a [[UserService]] is supplied, every verb except `login`/`logout`
  * requires a valid session cookie — the reference's login interceptor
  * (`InterceptorConfig.java:24-33` intercepts everything and excludes
  * exactly `/api/login` + `/api/logout`); missing/invalid sessions get
  * 401. With no UserService the facade is open, like running the
  * reference without its auth filter.
  */
class HttpApi(mgr: JobManager, spark: SparkSession, bindPort: Int = 0,
    users: Option[UserService] = None,
    config: Option[SystemConfig] = None,
    alarmLog: Option[AlarmTransports.AlarmLog] = None,
    alarmPost: (String, String, String) => String = AlarmTransports.jdkPost,
    ipStatus: Option[IpStatusService] = None)
    extends AutoCloseable {

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", bindPort), 0)
  // small pool: a start() can block while a streaming query spins up and
  // must not wedge every other verb behind it
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4,
    (r: Runnable) => {
      val t = new Thread(r, "graft-http-api"); t.setDaemon(true); t
    })
  server.setExecutor(pool)
  server.createContext("/api", (ex: HttpExchange) => handle(ex))
  // the reference's open routes outside the login interceptor
  // (`InterceptorConfig.java:30-32` excludes /ok and /alarmCallback):
  // a health probe and the test echo endpoint HTTP alarms can target
  // (`ApiController.java:14-24`)
  server.createContext("/ok", (ex: HttpExchange) =>
    reply(ex, 200, success = true, "", "null"))
  server.createContext("/alarmCallback", (ex: HttpExchange) =>
    try {
      val p = params(ex)
      log.info(s"alarm callback received appId=${p.getOrElse("appId", "")} " +
        s"jobName=${p.getOrElse("jobName", "")} " +
        s"deployMode=${p.getOrElse("deployMode", "")}")
      reply(ex, 200, success = true, "", "null")
    } catch { case _: Throwable =>
      reply(ex, 500, success = false, "callback error", "null")
    })
  server.start()

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Bound port (ephemeral when constructed with bindPort = 0). */
  def port: Int = server.getAddress.getPort

  override def close(): Unit = { server.stop(0); pool.shutdownNow(); () }

  // --- request plumbing ---------------------------------------------------

  private def params(ex: HttpExchange): Map[String, String] = {
    def parse(s: String): Seq[(String, String)] =
      Option(s).toSeq.flatMap(_.split('&')).filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            java.net.URLDecoder.decode(k, "UTF-8") ->
              java.net.URLDecoder.decode(v, "UTF-8")
          case Array(k) => java.net.URLDecoder.decode(k, "UTF-8") -> ""
        }
      }
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    // body wins over query string on duplicate keys (toMap keeps last)
    (parse(ex.getRequestURI.getRawQuery) ++ parse(body)).toMap
  }

  private def reply(ex: HttpExchange, status: Int, success: Boolean,
      message: String, data: String): Unit = {
    val body =
      (s"""{"code":${JsonUtil.str(status.toString)}""" +
        s""","success":$success""" +
        s""","message":${JsonUtil.str(message)}""" +
        s""","data":$data}""").getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, body.length)
    ex.getResponseBody.write(body)
    ex.close()
  }

  private def ok(ex: HttpExchange, data: String, message: String = ""): Unit =
    reply(ex, 200, success = true, message, data)

  private def jobJson(st: JobManager.JobState): String =
    s"""{"id":${JsonUtil.str(st.id)},"name":${JsonUtil.str(st.name)}""" +
      s""","status":${JsonUtil.str(st.status.toString.toUpperCase)}""" +
      s""","version":${st.version},"enabled":${st.enabled}""" +
      s""","autoRestart":${st.autoRestart}""" +
      s""","lastSavepoint":${
        st.lastSavepoint.map(JsonUtil.str).getOrElse("null")}}"""

  private def userJson(u: Users.User): String =
    s"""{"id":${u.id},"username":${JsonUtil.str(u.username)}""" +
      s""","fullname":${JsonUtil.str(u.fullname)},"enabled":${u.enabled}}"""

  private def handle(ex: HttpExchange): Unit =
    try {
      val p = params(ex)
      def req(k: String): String = p.getOrElse(k,
        throw new IllegalArgumentException(s"missing parameter '$k'"))
      def usersOrFail: UserService = users.getOrElse(
        throw new NoSuchElementException("user management not configured"))
      def cfgOrFail: SystemConfig = config.getOrElse(
        throw new NoSuchElementException("system config not configured"))
      // fire a test alarm over one configured transport; the reply
      // carries the delivery's verdict and detail
      def testAlert(transport: String, key: String): Unit = {
        val url = cfgOrFail.get(key).filter(_.nonEmpty).getOrElse(
          throw new IllegalArgumentException(s"$key not configured"))
        val d = AlarmTransports.deliver(transport, url,
          JobManager.AlarmEvent("-", "test", "TEST", "this is a test message"),
          alarmPost)
        alarmLog.foreach(_.add(d))
        reply(ex, 200, d.success, d.detail, "null")
      }
      val verb = ex.getRequestURI.getPath.stripPrefix("/api/")
      // session token: the reference's session cookie, or a sessionId
      // param for cookie-less clients
      val token: Option[String] =
        Option(ex.getRequestHeaders.getFirst("Cookie")).toSeq
          .flatMap(_.split(";\\s*"))
          .collectFirst {
            case c if c.startsWith(Users.SessionCookie + "=") =>
              c.substring(Users.SessionCookie.length + 1)
          }
          .orElse(p.get("sessionId"))
      val authed = users.forall(us =>
        verb == "login" || verb == "logout" || token.exists(us.checkLogin))
      if (!authed) {
        reply(ex, 401, success = false, "please login first", "null")
        return
      }
      verb match {
        case "login" =>
          // credential failures are 401 (authentication), not 400 — a
          // client must be able to tell "bad password" from "bad
          // request", so the missing-parameter check runs OUTSIDE the
          // 401 mapping (malformed login stays 400)
          val (loginName, loginPass) = (req("name"), req("password"))
          val tok =
            try usersOrFail.login(loginName, loginPass)
            catch {
              case e: IllegalArgumentException =>
                reply(ex, 401, success = false,
                  Option(e.getMessage).getOrElse("login failed"), "null")
                return
            }
          ex.getResponseHeaders.add("Set-Cookie",
            s"${Users.SessionCookie}=$tok; Path=/; Max-Age=86400; " +
              "HttpOnly; SameSite=Lax")
          ok(ex, JsonUtil.str(tok), "login success")
        case "logout" =>
          ex.getResponseHeaders.add("Set-Cookie",
            s"${Users.SessionCookie}=; Path=/; Max-Age=0; " +
              "HttpOnly; SameSite=Lax")
          ok(ex, "null", "logout success")
        case "getUserInfo" =>
          val u = usersOrFail.userOf(token.getOrElse("")).getOrElse(
            throw new IllegalArgumentException("no current user"))
          ok(ex, userJson(u))
        case "userList" =>
          ok(ex, usersOrFail.queryAll().map(userJson).mkString("[", ",", "]"))
        case "addUser" =>
          ok(ex, userJson(usersOrFail.addUser(req("name"),
            p.getOrElse("fullname", ""), req("password"))))
        case "updatePassword" =>
          usersOrFail.updatePassword(req("name"), req("oldPassword"),
            req("password"))
          ok(ex, "null")
        case "stopOrOpenUser" =>
          usersOrFail.stopOrOpen(req("name"), p.get("open").contains("true"))
          ok(ex, "null")
        case "start" =>
          // config-id start (the reference's form), savepoint restore
          // when requested, or an ad-hoc name+script start
          val id = (p.get("id"), p.get("savepoint")) match {
            case (Some(id), Some(sp)) =>
              mgr.restartFromSavepoint(id,
                if (sp.isEmpty) None else Some(sp))
            case (Some(id), None) =>
              mgr.startConfig(id, p.get("batchMode").contains("true")); id
            case (None, _) =>
              mgr.start(req("name"), req("script"),
                batchMode = p.get("batchMode").contains("true"),
                autoRestart = p.get("autoRestart").contains("true"))
          }
          ok(ex, JsonUtil.str(id))
        case "stop" =>
          val sp = mgr.stop(req("id"),
            withSavepoint = !p.get("savepoint").contains("false"))
          ok(ex, JsonUtil.str(sp.getOrElse("")))
        case "savepoint" => ok(ex, JsonUtil.str(mgr.savepoint(req("id"))))
        case "restart" =>
          ok(ex, JsonUtil.str(mgr.restartFromSavepoint(req("id"))))
        case "open" => mgr.open(req("id")); ok(ex, "null")
        case "close" => mgr.close(req("id")); ok(ex, "null")
        case "delete" => mgr.delete(req("id")); ok(ex, "null")
        case "addConfig" =>
          ok(ex, JsonUtil.str(mgr.addConfig(req("name"), req("script"),
            p.get("autoRestart").contains("true"))))
        case "editConfig" =>
          mgr.editConfig(req("id"), req("script")); ok(ex, "null")
        case "copyConfig" =>
          ok(ex, JsonUtil.str(mgr.copyConfig(req("id"), req("name"))))
        case "listTask" =>
          ok(ex, mgr.list().map(jobJson).mkString("[", ",", "]"))
        case "jobConfigHistoryPage" =>
          ok(ex, mgr.history(req("id")).map { case (verb, detail) =>
            s"""{"verb":${JsonUtil.str(verb)},"detail":${JsonUtil.str(detail)}}"""
          }.mkString("[", ",", "]"))
        case "addSavepoint" =>
          mgr.addSavepoint(req("id"), req("savepointPath")); ok(ex, "null")
        case "querySavePointList10" =>
          ok(ex, mgr.savepointList(req("id")).map(JsonUtil.str)
            .mkString("[", ",", "]"))
        // system-config CRUD (ConfigApiController.java:34-75)
        case "upsertSynConfig" =>
          cfgOrFail.upsert(req("key"), req("val")); ok(ex, "null")
        case "deleteConfig" =>
          cfgOrFail.delete(req("key")); ok(ex, "null")
        case "sysConfig" =>
          ok(ex, cfgOrFail.all().map { case (k, v) =>
            s"""{"key":${JsonUtil.str(k)},"val":${JsonUtil.str(v)}}"""
          }.mkString("[", ",", "]"))
        // alarm delivery log + test-fire endpoints
        // (AlartApiController.java:58-152)
        case "alartLogList" =>
          val l = alarmLog.getOrElse(
            throw new NoSuchElementException("alarm log not configured"))
          ok(ex, l.list().map { d =>
            s"""{"jobId":${JsonUtil.str(d.jobId)}""" +
              s""","jobName":${JsonUtil.str(d.jobName)}""" +
              s""","kind":${JsonUtil.str(d.kind)}""" +
              s""","transport":${JsonUtil.str(d.transport)}""" +
              s""","success":${d.success}""" +
              s""","detail":${JsonUtil.str(d.detail)}}"""
          }.mkString("[", ",", "]"))
        case "testDingdingAlert" =>
          testAlert(AlarmTransports.DingDing, SystemConfig.DingDingAlarmUrl)
        case "testHttpAlert" =>
          testAlert(AlarmTransports.Callback, SystemConfig.CallbackAlarmUrl)
        // HA introspection — the reference's ip_status page
        // (flink_web.sql:32-44 backs a web list of instances): live
        // instances within the heartbeat TTL plus the elected leader
        // (selectLastIp rule), so an operator can see which web
        // instance drives the leader-only schedules right now
        case "ipStatus" =>
          val svc = ipStatus.getOrElse(
            throw new NoSuchElementException("ip status / HA not configured"))
          // ONE snapshot: the leader is by definition the last live
          // instance (highest id), so deriving it from the same read
          // keeps the payload self-consistent (two queries could list a
          // leader the instances array no longer contains)
          val live = svc.liveInstances()
          val leader = live.lastOption
          val instances = live.map { ip =>
            s"""{"ip":${JsonUtil.str(ip)}""" +
              s""","isLeader":${leader.contains(ip)}}"""
          }.mkString("[", ",", "]")
          ok(ex,
            s"""{"leader":${leader.map(JsonUtil.str).getOrElse("null")}""" +
              s""","thisInstance":${JsonUtil.str(svc.instanceIp)}""" +
              s""","instances":$instances}""")
        case "checkfSql" =>
          // a check endpoint reports the verdict in-band (HTTP 200 either
          // way, like the reference's RestResult-wrapped MESSAGE_010/011)
          val verdict = SqlValidator.validate(spark, req("flinkSql"))
          reply(ex, 200, success = verdict.ok,
            verdict.errors.mkString("; "), "null")
        case other =>
          reply(ex, 404, success = false, s"unknown verb '$other'", "null")
      }
    } catch {
      case e: IllegalStateException
          if Option(e.getMessage).exists(_.startsWith("optimistic lock")) =>
        reply(ex, 409, success = false, e.getMessage, "null")
      case e: NoSuchElementException =>
        reply(ex, 404, success = false,
          Option(e.getMessage).getOrElse("not found"), "null")
      // a script Spark cannot parse or analyze (ParseException is an
      // AnalysisException) is the client's error, like a failed check
      case e @ (_: IllegalArgumentException | _: IllegalStateException |
          _: org.apache.spark.sql.AnalysisException) =>
        reply(ex, 400, success = false,
          Option(e.getMessage).getOrElse("bad request"), "null")
      case e: Throwable =>
        reply(ex, 500, success = false,
          Option(e.getMessage).getOrElse(e.getClass.getName), "null")
    }
}
