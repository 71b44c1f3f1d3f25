package graft.platform

import graft.JsonUtil
import graft.platform.JobManager.AlarmEvent

/** Alarm transports mirroring the reference's web-alarm module: a
  * DingDing text-message webhook (`DingDingAlarmImpl.java:25-70`) and a
  * generic HTTP form callback (`HttpAlarmImpl.java:31-62`), fanned out of
  * `JobManager.addAlarmHandler`. Every send — the two fixed-URL
  * handlers, the config-driven [[configuredHandler]] and the HTTP
  * facade's test-fire verbs — goes through [[deliver]], which builds the
  * payload, POSTs it, judges the reply and returns the [[Delivery]] row.
  * The wire POST is a pluggable `post(url, contentType, body) =>
  * responseBody` function ([[jdkPost]] by default) so specs can capture
  * or fail it.
  */
object AlarmTransports {

  /** Alarm text for an event — the reference's monitor message shape
    * (`TaskServiceAOImpl.java:223` "detected job [id] stopped, name: …"
    * prefixed by `SystemConstants.buildDingdingMessage`'s banner).
    */
  def message(e: AlarmEvent): String = {
    val what = e.kind match {
      case "JOB_FAILED"     => "detected job stopped running"
      case "AUTO_RESTARTED" => "job auto-restarted after failure"
      case "RESTART_FAILED" => "job auto-restart FAILED"
      case "RECONCILED"     => "job status reconciled to STOPPED"
      case other            => other
    }
    val detail = if (e.detail.isEmpty) "" else s" — ${e.detail}"
    s"Spark job alarm: $what, job[${e.jobId}] name: ${e.jobName}$detail"
  }

  private val TsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)

  /** DingDing webhook payload (`DingDingAlarmImpl.java:63-69`): a
    * `msgtype: text` JSON body whose content is the timestamped alarm
    * message. The timestamp is an argument so specs are deterministic.
    */
  def dingTalkPayload(e: AlarmEvent, at: java.time.Instant): String =
    s"""{"msgtype": "text", "text": { "content": ${
      JsonUtil.str(s"${TsFmt.format(at)} ${message(e)}")} } }"""

  /** DingDing accepts a webhook iff the response is a JSON object whose
    * `errcode` is 0 (number or string), null or absent —
    * `DingDingAlarmImpl.java:44-48`. A reply that is not JSON is a
    * failed delivery.
    */
  def dingTalkAccepted(responseBody: String): Boolean =
    responseBody != null && responseBody.nonEmpty &&
      scala.util.Try(JsonUtil.tree(responseBody)).toOption.exists { n =>
        val code = n.path("errcode")
        n.isObject && (code.isMissingNode || code.isNull || code.asText == "0")
      }

  /** HTTP-callback form body (`HttpAlarmImpl.java:40-47`): url-encoded
    * `appId`/`deployMode`/`jobName` — the CallbackDTO fields the
    * reference posts; the job id plays appId (our in-process equivalent
    * of the cluster application id).
    */
  def httpCallbackBody(e: AlarmEvent, deployMode: String): String =
    Seq("appId" -> e.jobId, "deployMode" -> deployMode,
      "jobName" -> e.jobName)
      .map { case (k, v) =>
        k + "=" + java.net.URLEncoder.encode(v, "UTF-8")
      }.mkString("&")

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Transport names, as recorded in each [[Delivery]]. */
  val DingDing = "DINGDING"
  val Callback = "CALLBACK_URL"

  /** The one alarm send: POST the transport's payload for `e` to `url`,
    * judge the reply (DingDing by its errcode, a callback by not
    * throwing) and return the delivery row, whose detail is the first
    * 200 reply characters or the failure's message. Never throws —
    * alarm failure must not become job failure — and logs a failed
    * delivery.
    */
  def deliver(transport: String, url: String, e: AlarmEvent,
      post: (String, String, String) => String,
      deployMode: String = "SPARK_LOCAL",
      clock: () => java.time.Instant = () => java.time.Instant.now())
      : Delivery = {
    val (ok, detail) =
      try {
        val res =
          if (transport == DingDing)
            post(url, "application/json", dingTalkPayload(e, clock()))
          else post(url, "application/x-www-form-urlencoded",
            httpCallbackBody(e, deployMode))
        (transport != DingDing || dingTalkAccepted(res), res.take(200))
      } catch { case ex: Throwable => (false, String.valueOf(ex.getMessage)) }
    if (!ok) log.warn(s"$transport alarm delivery failed for job ${e.jobId}: $detail")
    Delivery(e.jobId, e.jobName, e.kind, transport, ok, detail)
  }

  /** An `addAlarmHandler`-ready DingDing sender for the [[DefaultKinds]]. */
  def dingTalkHandler(url: String,
      post: (String, String, String) => String,
      clock: () => java.time.Instant = () => java.time.Instant.now())
      : AlarmEvent => Unit = e =>
    if (DefaultKinds(e.kind)) deliver(DingDing, url, e, post, clock = clock)

  /** An `addAlarmHandler`-ready HTTP-callback sender for the
    * [[DefaultKinds]]; any exception from the post counts as delivery
    * failure (the reference treats non-2xx the same way).
    */
  def httpCallbackHandler(url: String, deployMode: String,
      post: (String, String, String) => String): AlarmEvent => Unit = e =>
    if (DefaultKinds(e.kind)) deliver(Callback, url, e, post, deployMode)

  /** Every kind JobManager fires today. */
  val DefaultKinds: Set[String] =
    Set("JOB_FAILED", "AUTO_RESTARTED", "RESTART_FAILED", "RECONCILED")

  /** Default wire transport: the shared JDK POST helper ([[graft.Http]])
    * with the reference's 15 s timeouts (`HttpUtil.TIME_OUT_15_S`). No
    * extra dependency needed — the pluggable-post seam stays for tests
    * and for environments that route alarms differently.
    */
  val jdkPost: (String, String, String) => String =
    (url, contentType, body) => graft.Http.post(url, contentType, body)

  /** One delivered (or failed) alarm — the reference's `alart_log` row
    * (`AlarmServiceAOImpl.insertLog`).
    */
  final case class Delivery(jobId: String, jobName: String, kind: String,
      transport: String, success: Boolean, detail: String)

  /** Bounded in-memory alarm delivery log (newest first), the queryable
    * backing of `/api/alartLogList`.
    */
  final class AlarmLog(capacity: Int = 1000) {
    private val buf = scala.collection.mutable.ArrayDeque[Delivery]()
    def add(d: Delivery): Unit = synchronized {
      buf.prepend(d)
      while (buf.size > capacity) { buf.removeLast(); () }
    }
    def list(limit: Int = 100): Seq[Delivery] =
      synchronized(buf.take(limit).toSeq)
  }

  /** Config-driven composite sender: reads the webhook URLs from
    * [[SystemConfig]] AT FIRE TIME (edits apply to the next alarm, no
    * restart — the reference looks config up per send,
    * `TaskServiceAOImpl.java:304-310`), sends over both configured
    * transports, and records every attempt in the [[AlarmLog]].
    */
  def configuredHandler(cfg: SystemConfig, alarmLog: AlarmLog,
      post: (String, String, String) => String = jdkPost,
      deployMode: String = "SPARK_LOCAL",
      clock: () => java.time.Instant = () => java.time.Instant.now())
      : AlarmEvent => Unit = e =>
    if (DefaultKinds(e.kind)) Seq(DingDing -> SystemConfig.DingDingAlarmUrl,
      Callback -> SystemConfig.CallbackAlarmUrl).foreach { case (transport, key) =>
      cfg.get(key).filter(_.nonEmpty).foreach { url =>
        alarmLog.add(deliver(transport, url, e, post, deployMode, clock))
      }
    }
}
