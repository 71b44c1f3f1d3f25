package graft.platform

import graft.JsonUtil
import graft.sqlgate.SqlValidator
import io.netty.bootstrap.ServerBootstrap
import io.netty.buffer.Unpooled
import io.netty.channel.{Channel, ChannelFutureListener,
  ChannelHandlerContext, ChannelInitializer, ChannelOption,
  MultiThreadIoEventLoopGroup, SimpleChannelInboundHandler}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http.{DefaultFullHttpResponse, FullHttpRequest,
  HttpHeaderNames, HttpObjectAggregator, HttpResponseStatus, HttpServerCodec,
  HttpUtil, QueryStringDecoder}
import io.netty.util.concurrent.DefaultThreadFactory
import org.apache.spark.sql.SparkSession
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.TimeUnit
import scala.collection.mutable

/** Thin HTTP facade over [[JobManager]] — the reference is a web
  * platform, and this is its REST verb surface
  * (`JobConfigApiController.java:89-415`: start/stop/savepoint/open/
  * close/delete/addConfig/editConfig/copyConfig/listTask/
  * jobConfigHistory*, plus `SqlValidationController.java:25-44`'s
  * checkfSql), delegating every verb to the manager so the guards
  * (validation, dup-run, optimistic lock) are the same objects the
  * in-process API enforces.
  *
  * Transport: Netty's HTTP/1.1 codec (Spark's own RPC transport, so no
  * new dependency) on one IO thread, with `TCP_NODELAY` on every
  * accepted connection: a keep-alive client's next reply never waits
  * for its delayed ACK (~40 ms per request behind Nagle's algorithm).
  * Bodies are aggregated up to [[HttpApi.MaxBodyBytes]]; a larger one
  * is answered 413. Verbs run on a small pool, one request per
  * connection at a time, so pipelined requests are answered in order.
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
  import HttpApi.Exchange

  // small pool: a start() can block while a streaming query spins up and
  // must not wedge every other verb behind it
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4,
    (r: Runnable) => {
      val t = new Thread(r, "graft-http-api"); t.setDaemon(true); t
    })
  private val io = new MultiThreadIoEventLoopGroup(1,
    new DefaultThreadFactory("graft-http-io", true), NioIoHandler.newFactory())
  private val server: Channel =
    try new ServerBootstrap().group(io)
      .channel(classOf[NioServerSocketChannel])
      .childOption[java.lang.Boolean](ChannelOption.TCP_NODELAY, true)
      .childHandler(new ChannelInitializer[SocketChannel] {
        override def initChannel(ch: SocketChannel): Unit =
          ch.pipeline().addLast(new HttpServerCodec(),
            new HttpObjectAggregator(HttpApi.MaxBodyBytes), new Connection)
      })
      .bind("127.0.0.1", bindPort).syncUninterruptibly().channel()
    catch { case e: Throwable => shutdown(); throw e }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Bound port (ephemeral when constructed with bindPort = 0). */
  def port: Int = server.localAddress().asInstanceOf[InetSocketAddress].getPort

  override def close(): Unit = { server.close().syncUninterruptibly(); shutdown() }

  private def shutdown(): Unit = {
    io.shutdownGracefully(0, 1, TimeUnit.SECONDS).syncUninterruptibly()
    pool.shutdownNow(); ()
  }

  // --- request plumbing ---------------------------------------------------

  /** The handler for a request path: prefix routes, like servlet
    * contexts. `/ok` and `/alarmCallback` are the reference's open
    * routes outside the login interceptor (`InterceptorConfig.java:30-32`):
    * a health probe and the test echo endpoint HTTP alarms can target
    * (`ApiController.java:14-24`).
    */
  private def route(path: String): Exchange => Unit =
    if (path.startsWith("/api")) handle
    else if (path.startsWith("/ok")) ok(_, "null")
    else if (path.startsWith("/alarmCallback")) { ex =>
      try {
        val p = params(ex)
        log.info(s"alarm callback received appId=${p.getOrElse("appId", "")} " +
          s"jobName=${p.getOrElse("jobName", "")} " +
          s"deployMode=${p.getOrElse("deployMode", "")}")
        ok(ex, "null")
      } catch { case _: Throwable =>
        reply(ex, 500, success = false, "callback error", "null")
      }
    }
    else reply(_, 404, success = false, s"no route for '$path'", "null")

  /** One connection's requests. Each runs on the pool, and the next is
    * taken only once its reply is written; reading pauses meanwhile.
    * State is touched only on the connection's event loop.
    */
  private final class Connection
      extends SimpleChannelInboundHandler[FullHttpRequest] {
    private val pending = mutable.Queue[(Exchange, Exchange => Unit)]()
    private var busy = false

    override def channelRead0(ctx: ChannelHandlerContext,
        req: FullHttpRequest): Unit = {
      val ex = new Exchange(req)
      val run: Exchange => Unit =
        try {
          if (!req.decoderResult().isSuccess)
            throw new IllegalArgumentException(req.decoderResult().cause())
          route(ex.path)
        } catch { case _: IllegalArgumentException =>
          ex.keepAlive = false
          reply(_, 400, success = false, "malformed request", "null")
        }
      pending.enqueue(ex -> run)
      ctx.channel().config().setAutoRead(false)
      if (!busy) next(ctx)
    }

    private def next(ctx: ChannelHandlerContext): Unit =
      if (!ctx.channel().isActive) pending.clear()
      else if (pending.isEmpty) ctx.channel().config().setAutoRead(true)
      else {
        busy = true
        val (ex, run) = pending.dequeue()
        pool.execute { () =>
          try run(ex)
          finally ctx.executor().execute(() => respond(ctx, ex))
        }
      }

    private def respond(ctx: ChannelHandlerContext, ex: Exchange): Unit = {
      val res = new DefaultFullHttpResponse(ex.version,
        HttpResponseStatus.valueOf(ex.status), Unpooled.wrappedBuffer(ex.body))
      res.headers().set(HttpHeaderNames.CONTENT_TYPE, "application/json")
      ex.setCookies.foreach(res.headers().add(HttpHeaderNames.SET_COOKIE, _))
      HttpUtil.setContentLength(res, ex.body.length.toLong)
      HttpUtil.setKeepAlive(res, ex.keepAlive)
      busy = false
      if (ex.keepAlive) { ctx.writeAndFlush(res); next(ctx) }
      else {
        pending.clear()
        ctx.writeAndFlush(res).addListener(ChannelFutureListener.CLOSE)
      }
    }

    override def exceptionCaught(ctx: ChannelHandlerContext,
        cause: Throwable): Unit = { ctx.close(); () }
  }

  private def params(ex: Exchange): Map[String, String] = {
    def parse(s: String): Seq[(String, String)] =
      Option(s).toSeq.flatMap(_.split('&')).filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            java.net.URLDecoder.decode(k, "UTF-8") ->
              java.net.URLDecoder.decode(v, "UTF-8")
          case Array(k) => java.net.URLDecoder.decode(k, "UTF-8") -> ""
        }
      }
    // body wins over query string on duplicate keys (toMap keeps last)
    (parse(ex.rawQuery) ++ parse(ex.requestBody)).toMap
  }

  private def reply(ex: Exchange, status: Int, success: Boolean,
      message: String, data: String): Unit = {
    ex.status = status
    ex.body =
      (s"""{"code":${JsonUtil.str(status.toString)}""" +
        s""","success":$success""" +
        s""","message":${JsonUtil.str(message)}""" +
        s""","data":$data}""").getBytes(UTF_8)
  }

  private def ok(ex: Exchange, data: String, message: String = ""): Unit =
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

  private def handle(ex: Exchange): Unit =
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
      val verb = ex.path.stripPrefix("/api/")
      // session token: the reference's session cookie, or a sessionId
      // param for cookie-less clients
      val token: Option[String] =
        ex.cookie.toSeq
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
          ex.setCookies += (
            s"${Users.SessionCookie}=$tok; Path=/; Max-Age=86400; " +
              "HttpOnly; SameSite=Lax")
          ok(ex, JsonUtil.str(tok), "login success")
        case "logout" =>
          ex.setCookies += (
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

object HttpApi {

  /** Largest request body the facade reads, in bytes (16 MiB): a gate
    * script is a few KiB, and a larger body is answered 413 before it
    * fills the heap.
    */
  val MaxBodyBytes: Int = 16 << 20

  /** One request as the verbs read it, and the reply they fill in. */
  private final class Exchange(req: FullHttpRequest) {
    private val uri = new QueryStringDecoder(req.uri())
    val version = req.protocolVersion()
    var keepAlive: Boolean = HttpUtil.isKeepAlive(req)
    val cookie: Option[String] = Option(req.headers().get(HttpHeaderNames.COOKIE))
    val requestBody: String = req.content().toString(UTF_8)
    def path: String = uri.path()
    def rawQuery: String = uri.rawQuery()

    var status = 500
    var body: Array[Byte] = Array.emptyByteArray
    val setCookies = mutable.ArrayBuffer[String]()
  }
}
