package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.JsonUtil
import java.util
import scala.jdk.CollectionConverters._

/** Kafka consume over a REST-proxy-shaped fetch wire — the live SOURCE
  * counterpart of [[graft.sqlgate.KafkaRest]]'s produce path, closing
  * the reference's hello-world pipeline (`demo_1.md:34-44`: kafka source
  * → agg → JDBC sink) end-to-end in an environment with no broker or
  * client jar.
  *
  * A real DataSourceV2 micro-batch source, not a test shim: offsets are
  * first-class (`{"<partition>":<nextOffset>, …}` JSON, tracked in the
  * query's CHECKPOINT exactly like Spark's native Kafka source — which
  * also never commits to the broker; the checkpoint IS the group
  * state), restart resumes from the checkpointed offset, and each
  * micro-batch reads `[start, end)` per partition. On a cluster with a
  * broker the same table swaps to the native `kafka` format; the
  * declared schema and downstream JSON decode are identical.
  *
  * Wire contract (REST-proxy v2-shaped; served by any proxy or the spec
  * stub):
  *   - `GET <endpoint>/topics/<t>/partitions` → `[{"partition":0},…]`
  *   - `GET <endpoint>/topics/<t>/partitions/<p>/offsets` →
  *     `{"beginning_offset":b,"end_offset":e}` (end = next offset to be
  *     written, exclusive)
  *   - `GET <endpoint>/topics/<t>/partitions/<p>/messages?offset=o&count=c`
  *     → `[{"key":…,"value":…,"offset":n},…]` (json-embedded records)
  *
  * Every response and the checkpointed offsets are read with
  * [[graft.JsonUtil]] (Jackson); a malformed body fails the read with
  * its position.
  *
  * Output schema mirrors the native source's consume columns (string
  * transport): `key STRING, value STRING, partition INT, offset LONG`;
  * the gate layer decodes `value` with `from_json` into the declared
  * table schema, the same path the native format takes.
  *
  * Scale: one Spark input partition per Kafka partition — parallelism
  * is the topic's partition count, as with the native source; record
  * fetches page in `fetch.count` chunks (at least 1, checked when the
  * scan is planned) so a large backlog never materializes one giant
  * response.
  */
class KafkaRestSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "kafka-rest"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KafkaRestSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KafkaRestTable(properties.asScala.toMap)
}

object KafkaRestSource {
  val Schema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("value", StringType),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false)))

  private[sources] def endpointOf(opts: Map[String, String]): String = {
    val e = opts.getOrElse("rest.endpoint",
      throw new IllegalArgumentException(
        "kafka-rest source needs 'rest.endpoint'"))
    e.split(";").head.trim.stripSuffix("/")
  }

  private[sources] def topicOf(opts: Map[String, String]): String =
    opts.getOrElse("topic", throw new IllegalArgumentException(
      "kafka-rest source needs 'topic'"))

  /** The partitions response: `[{"partition":0},…]` or bare `[0,1,…]`. */
  def partitions(endpoint: String, topic: String): Seq[Int] =
    JsonUtil.tree(graft.Http.get(s"$endpoint/topics/$topic/partitions"))
      .elements().asScala.map { n =>
        val p = if (n.isObject) n.path("partition") else n
        JsonUtil.whole(p, "partitions response").toInt
      }.toSeq

  /** (beginning, end) — end is the exclusive next-offset. */
  def offsetRange(endpoint: String, topic: String, p: Int): (Long, Long) = {
    val n = JsonUtil.tree(
      graft.Http.get(s"$endpoint/topics/$topic/partitions/$p/offsets"))
    def f(name: String) = JsonUtil.whole(n.path(name), s"offsets $name")
    (f("beginning_offset"), f("end_offset"))
  }

  /** The records page size; a count below 1 would never advance a read. */
  private[sources] def fetchCountOf(opts: Map[String, String]): Int = {
    val raw = opts.getOrElse("fetch.count", "500")
    raw.trim.toIntOption.filter(_ >= 1).getOrElse(
      throw new IllegalArgumentException(
        s"kafka-rest source: 'fetch.count' must be a whole number >= 1, " +
          s"got '$raw'"))
  }

  final case class Record(key: Option[String], value: String, offset: Long,
      partition: Option[Int])

  /** A fetch response, a JSON array of record objects. `key` and `value`
    * come back as column text: a JSON string is the payload itself, any
    * other JSON stays raw text for `from_json` downstream, and a `null`
    * key is no key.
    */
  def records(body: String): Seq[Record] =
    JsonUtil.objectSlices(body).map { f =>
      def col(name: String) = f.get(name).flatten
      Record(col("key"), col("value").getOrElse("null"),
        col("offset").getOrElse(throw new IllegalArgumentException(
          "record missing offset")).toLong,
        col("partition").map(_.toInt))
    }
}

private[sources] class KafkaRestTable(opts: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"kafka-rest:${KafkaRestSource.topicOf(opts)}"
  override def schema(): StructType = KafkaRestSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    () => new KafkaRestScan(opts)
}

private[sources] class KafkaRestScan(opts: Map[String, String]) extends Scan {
  override def readSchema(): StructType = KafkaRestSource.Schema

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new KafkaRestMicroBatchStream(opts)

  // batch read: the full current range, one partition per kafka partition
  override def toBatch: Batch = new Batch {
    private val endpoint = KafkaRestSource.endpointOf(opts)
    private val topic = KafkaRestSource.topicOf(opts)
    private val fetchCount = KafkaRestSource.fetchCountOf(opts)
    override def planInputPartitions(): Array[InputPartition] =
      KafkaRestSource.partitions(endpoint, topic).map { p =>
        val (b, e) = KafkaRestSource.offsetRange(endpoint, topic, p)
        RestRange(endpoint, topic, p, b, e, fetchCount,
          opts.getOrElse("fail.on.data.loss", "true").toBoolean)
          : InputPartition
      }.toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new RestReaderFactory
  }
}

/** Offsets of every partition as of a planning point: partition → next
  * offset to read. JSON shape `{"0":12,"1":7}`.
  */
private[sources] case class RestOffsets(parts: Map[Int, Long]) extends Offset {
  override def json(): String =
    parts.toSeq.sortBy(_._1).map { case (p, o) => s""""$p":$o""" }
      .mkString("{", ",", "}")
}

private[sources] object RestOffsets {
  def fromJson(s: String): RestOffsets = RestOffsets(
    JsonUtil.tree(s).properties().asScala.map { e =>
      e.getKey.toInt -> JsonUtil.whole(e.getValue, "offset")
    }.toMap)
}

private[sources] class KafkaRestMicroBatchStream(opts: Map[String, String])
    extends MicroBatchStream {
  private val endpoint = KafkaRestSource.endpointOf(opts)
  private val topic = KafkaRestSource.topicOf(opts)
  private val fetchCount = KafkaRestSource.fetchCountOf(opts)
  private val failOnDataLoss =
    opts.getOrElse("fail.on.data.loss", "true").toBoolean
  private val startLatest =
    opts.get("scan.startup.mode").contains("latest-offset")

  override def initialOffset(): Offset = RestOffsets(
    KafkaRestSource.partitions(endpoint, topic).map { p =>
      val (b, e) = KafkaRestSource.offsetRange(endpoint, topic, p)
      p -> (if (startLatest) e else b)
    }.toMap)

  override def latestOffset(): Offset = RestOffsets(
    KafkaRestSource.partitions(endpoint, topic).map { p =>
      p -> KafkaRestSource.offsetRange(endpoint, topic, p)._2
    }.toMap)

  override def deserializeOffset(json: String): Offset =
    RestOffsets.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[RestOffsets].parts
    val e = end.asInstanceOf[RestOffsets].parts
    // a partition appearing only in `end` (added between plans) reads
    // from its beginning
    e.toSeq.sortBy(_._1).flatMap { case (p, hi) =>
      val lo = s.getOrElse(p,
        KafkaRestSource.offsetRange(endpoint, topic, p)._1)
      if (hi > lo) Some(RestRange(endpoint, topic, p, lo, hi, fetchCount,
        failOnDataLoss): InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RestReaderFactory

  /** Spark's checkpoint is the committed-offset store (native-source
    * parity); nothing to relay to the wire.
    */
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

private[sources] case class RestRange(endpoint: String, topic: String,
    partition: Int, start: Long, end: Long, fetchCount: Int,
    failOnDataLoss: Boolean = true)
    extends InputPartition

private[sources] class RestReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new RestPartitionReader(p.asInstanceOf[RestRange])
}

/** Pages `[start, end)` of one partition in `fetchCount` chunks; emits
  * (key, value, partition, offset) rows. Runs on executors; each fetch
  * is an independent GET, so a task retry re-reads its own range only.
  */
private[sources] class RestPartitionReader(r: RestRange)
    extends PartitionReader[InternalRow] {
  private var buf: Iterator[KafkaRestSource.Record] = Iterator.empty
  private var nextOffset = r.start
  private var cur: KafkaRestSource.Record = _

  override def next(): Boolean = {
    while (!buf.hasNext && nextOffset < r.end) {
      val count = math.min(r.fetchCount.toLong, r.end - nextOffset)
      val body = graft.Http.get(s"${r.endpoint}/topics/${r.topic}" +
        s"/partitions/${r.partition}/messages?offset=$nextOffset&count=$count")
      val raw = KafkaRestSource.records(body)
      val recs = raw.filter(rec =>
        rec.offset >= nextOffset && rec.offset < r.end)
      if (recs.nonEmpty) {
        nextOffset = recs.map(_.offset).max + 1
        buf = recs.iterator
      } else if (raw.exists(_.offset >= r.end)) {
        // the proxy answered with records PAST the range end but none
        // inside it. Two causes look identical here and only the
        // broker's log-start metadata tells them apart: COMPACTION (or
        // transaction markers) removed the individual offsets in
        // [nextOffset, r.end) — a legitimate gap, the log still starts
        // at or before nextOffset; or RETENTION truncated the log past
        // the planned range and the proxy auto-sought beyond it — real
        // data loss, which the default 'fail.on.data.loss'='true' mode
        // promises to surface, not silently skip.
        val logStart =
          KafkaRestSource.offsetRange(r.endpoint, r.topic, r.partition)._1
        if (logStart <= nextOffset || !r.failOnDataLoss) nextOffset = r.end
        else
          throw new RuntimeException(
            s"kafka-rest: log start for ${r.topic}/${r.partition} moved " +
              s"to $logStart, past planned offset $nextOffset (range end " +
              s"${r.end}) — the range was truncated by retention. Set " +
              "'fail.on.data.loss' = 'false' to skip missing ranges")
      } else if (!r.failOnDataLoss) {
        // empty answer inside a planned range: offsets were truncated
        // (retention) after planning. With 'fail.on.data.loss'='false'
        // (Spark's native-Kafka-source knob) skip the fetch window and
        // keep consuming instead of crash-looping on the same range.
        nextOffset = math.min(r.end, nextOffset + count)
      } else
        throw new RuntimeException(
          s"kafka-rest fetch returned no records for ${r.topic}/" +
            s"${r.partition} offset $nextOffset (range end ${r.end}) — " +
            "offsets regressed or the topic was truncated. Set " +
            "'fail.on.data.loss' = 'false' to skip missing ranges")
      }
    if (buf.hasNext) { cur = buf.next(); true } else false
  }

  override def get(): InternalRow = InternalRow(
    cur.key.map(UTF8String.fromString).orNull,
    UTF8String.fromString(cur.value),
    cur.partition.getOrElse(r.partition),
    cur.offset)

  override def close(): Unit = ()
}
