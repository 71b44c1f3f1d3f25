package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.platform.JobManager
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable

/** What a workload shares with the harness: the session, the broker, the
  * tracer, and the sample and check ledgers.
  */
final class Ctx(val spark: SparkSession, val work: java.io.File, val seed: Long,
    val seconds: Int, val trace: Trace, val nproc: Int) {

  val json = new ObjectMapper()
  val broker = new Broker(nproc)
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap()
  val notes: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()
  private var peakHeap = 0L

  def add(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer()) += v

  /** One operation: counts as attempted; a throw or a false check counts
    * as failed and is remembered for the report.
    */
  def op[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Throwable =>
        failed += 1
        failures += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        None
    }
  }

  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += s"check $what failed $detail".take(400) }
  }

  /** Collect garbage and record the heap still in use (untimed). */
  def heapMark(): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    peakHeap = math.max(peakHeap, used)
  }
  def peakHeapMb: Double = peakHeap / (1024.0 * 1024.0)

  def dir(name: String): String = {
    val d = new java.io.File(work, name); d.mkdirs(); d.getAbsolutePath
  }

  /** Poll `f` every 2 ms until it yields a value; throws after `timeoutMs`. */
  def await[A](what: String, timeoutMs: Long = 60000)(f: => Option[A]): A = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var r = f
    while (r.isEmpty) {
      if (System.currentTimeMillis() > deadline)
        throw new java.util.concurrent.TimeoutException(s"timed out waiting for $what")
      Thread.sleep(2)
      r = f
    }
    r.get
  }

  /** Source rows a job's only query has committed (sum of end offsets). */
  def committed(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(_.sources.headOption)
      .flatMap(s => Option(s.endOffset))
      .map(o => """"\d+"\s*:\s*(\d+)""".r.findAllMatchIn(o).map(_.group(1).toLong).sum)
      .getOrElse(0L)

  def query(jm: JobManager, id: String): StreamingQuery = jm.info(id).queries.head

  /** Wait until the job has committed `rows` source rows. */
  def awaitCommitted(jm: JobManager, id: String, rows: Long,
      timeoutMs: Long = 120000): Unit = {
    val q = query(jm, id)
    await(s"job $id to commit $rows rows", timeoutMs) {
      if (q.exception.isDefined) throw q.exception.get
      if (committed(q) >= rows) Some(()) else None
    }
  }

  /** Event JSON as the generators emit it. */
  def event(id: Long, k: Int, createdMs: Long): String =
    s"""{"id":$id,"k":$k,"created_ms":$createdMs,"ts":"${Ctx.ts(createdMs)}"}"""

  def kafkaSource(table: String, topic: String, extraCols: String = ""): String =
    s"""CREATE TABLE $table (id BIGINT, k BIGINT, created_ms BIGINT$extraCols) WITH (
       |  'connector' = 'kafka', 'topic' = '$topic',
       |  'rest.endpoint' = '${broker.endpoint}',
       |  'scan.startup.mode' = 'earliest-offset', 'format' = 'json',
       |  'fetch.count' = '2000'
       |);""".stripMargin

  def upsertSink(table: String, topic: String, cols: String, pk: String): String =
    s"""CREATE TABLE $table ($cols, PRIMARY KEY ($pk) NOT ENFORCED) WITH (
       |  'connector' = 'upsert-kafka', 'topic' = '$topic',
       |  'rest.endpoint' = '${broker.endpoint}'
       |);""".stripMargin

  /** The demo_1-shaped keyed aggregation: per key, the row count and
    * the newest creation stamp.
    */
  def keyedAggScript(in: String, out: String, triggerMs: Int): String =
    s"""SET table.exec.mini-batch.allow-latency = $triggerMs ms;
       |${kafkaSource("ev", in)}
       |${upsertSink("per_key", out, "k BIGINT, n BIGINT, last_ms BIGINT", "k")}
       |INSERT INTO per_key
       |SELECT k, COUNT(*) AS n, MAX(created_ms) AS last_ms FROM ev GROUP BY k;
       |""".stripMargin

  def close(): Unit = broker.close()
}

object Ctx {
  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
  def ts(ms: Long): String = fmt.format(java.time.Instant.ofEpochMilli(ms))
}
