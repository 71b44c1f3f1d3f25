package graft.functions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded top-k buffer ordered by (score DESC, id ASC) — the exact
  * total order of the `row_number` windows it replaces. Insertion keeps
  * the array sorted, so update and merge are O(k) worst case and O(1)
  * for the common below-cutoff element.
  */
private[graft] final class TopKBuffer(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Any](k)
  var filled = 0

  /** `true` iff (score, id) orders strictly before slot j. Scores are
    * compared in the total order the replaced window sorts doubles by
    * (`Double.compare`, but -0.0 == 0.0): NaN ranks above +Infinity, so
    * a NaN score cannot tie with everything and make the top-k depend
    * on input order. Ids are Long or UTF8String (one kind per aggregate
    * instance).
    */
  private def beats(score: Double, id: Any, j: Int): Boolean = {
    val c = SQLOrderingUtil.compareDoubles(score, scores(j))
    if (c != 0) c > 0
    else id match {
      case l: java.lang.Long =>
        l.longValue < ids(j).asInstanceOf[java.lang.Long].longValue
      case s: UTF8String => s.compareTo(ids(j).asInstanceOf[UTF8String]) < 0
      case _ => false
    }
  }

  def insert(score: Double, id: Any): Unit = {
    if (filled == k && !beats(score, id, filled - 1)) return
    var pos = math.min(filled, k - 1)
    while (pos > 0 && beats(score, id, pos - 1)) {
      scores(pos) = scores(pos - 1)
      ids(pos) = ids(pos - 1)
      pos -= 1
    }
    scores(pos) = score
    ids(pos) = id
    if (filled < k) filled += 1
  }
}

/** `topk_by_score(score, id, k)` — aggregate returning the k
  * (score DESC, id ASC)-first inputs as `array<struct<id, score>>`,
  * the bounded-state replacement for
  * `row_number() OVER (PARTITION BY g ORDER BY score DESC, id) <= k`:
  * `groupBy(g).agg(topk_by_score(...))` + posexplode yields the
  * identical (id, score, rank) rows — top-k under a TOTAL order is a
  * merge-closed summary, so partial buffers combine exactly.
  *
  * Scale rationale (guide §2.3, aggregate before you shuffle): the
  * window form shuffles EVERY candidate row to the group's partition
  * and sorts there; this aggregate's partial (map-side) step caps the
  * exchange at k entries per group per upstream partition — for BM25
  * probes the shuffle drops from O(Σ df over query terms) rows to
  * O(k × partitions) per query. NULL scores and NULL ids are skipped
  * (the replaced windows never see them: scores are decimal sums over
  * ≥1 row). Ids: BIGINT or STRING.
  */
case class TopKByScore(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] with BinaryLike[Expression] {

  require(k >= 1 && k <= (1 << 20),
    s"topk_by_score: k must be in [1, 2^20], got $k")

  override def left: Expression = score
  override def right: Expression = id

  private lazy val idIsString = id.dataType match {
    case StringType => true
    case LongType => false
    case dt => throw new IllegalArgumentException(
      s"topk_by_score: id must be BIGINT or STRING, got ${dt.sql}")
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (score.dataType, id.dataType) match {
      case (DoubleType, StringType | LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (s, i) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"topk_by_score needs (DOUBLE score, BIGINT|STRING id), got " +
            s"(${s.sql}, ${i.sql})")
    }

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      // UTF8String from an unsafe row aliases a reused buffer — copy
      // before it outlives this row (only when it actually enters the
      // buffer would be enough, but insert() may shift it in later)
      val key: Any = i match {
        case u: UTF8String => u.clone()
        case other => other
      }
      buf.insert(s.asInstanceOf[java.lang.Double].doubleValue(), key)
    }
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var j = 0
    while (j < other.filled) {
      buf.insert(other.scores(j), other.ids(j))
      j += 1
    }
    buf
  }

  override def eval(buf: TopKBuffer): Any =
    new GenericArrayData((0 until buf.filled).map(j =>
      new GenericInternalRow(Array[Any](buf.ids(j), buf.scores(j)))).toArray[Any])

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.filled)
    var j = 0
    while (j < buf.filled) {
      out.writeDouble(buf.scores(j))
      if (idIsString) {
        val b = buf.ids(j).asInstanceOf[UTF8String].getBytes
        out.writeInt(b.length); out.write(b)
      } else out.writeLong(buf.ids(j).asInstanceOf[java.lang.Long].longValue)
      j += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = new TopKBuffer(k)
    val n = in.readInt()
    var j = 0
    while (j < n) {
      val s = in.readDouble()
      val key: Any = if (idIsString) {
        val len = in.readInt(); val b = new Array[Byte](len)
        in.readFully(b); UTF8String.fromBytes(b)
      } else java.lang.Long.valueOf(in.readLong())
      // serialized buffers are already sorted, so each insert is O(1)
      buf.insert(s, key)
      j += 1
    }
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", id.dataType, nullable = false),
    StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false
  override def prettyName: String = "topk_by_score"

  override def withNewMutableAggBufferOffset(off: Int): TopKByScore =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): TopKByScore =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKByScore =
    copy(score = newLeft, id = newRight)
}
