package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Misra-Gries / SpaceSaving heavy-hitters AGGREGATE:
  * `graft_heavy_hitters(item, k)` returns
  * `array<struct<item:string, count_lb:bigint>>` — at most `k` candidate
  * items with lower-bound counts, every item of true frequency > n/(k+1)
  * guaranteed present (Misra & Gries 1982; mergeability per Agarwal et
  * al., PODS 2012).
  *
  * The 100 TB shape: exact top-token counting over a web-scale corpus
  * shuffles the full vocabulary (billions of n-gram keys); this aggregate
  * shuffles at most `k` counters per partition — partial aggregation
  * grows one bounded counter map map-side, merge sums counters then
  * decrements by the (k+1)-th largest to re-bound the state. The
  * candidate set feeds an exact rescan (broadcast semi-join) so final
  * answers are exact, not approximate — sketch for candidates, rescan
  * for truth, the standard two-pass heavy-hitters pipeline.
  *
  * Reference behavior: frequency tables the reference takes with pandas
  * `value_counts` (process_logs_v10.py:144-156) — which centralizes all
  * keys; this is the bounded-state distributed form.
  */
case class MisraGries(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  require(k > 0, s"graft_heavy_hitters k must be positive, got $k")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    // registered as a session built-in: a date/timestamp column would
    // silently stringify its INTERNAL representation (epoch days/micros)
    // as the item label — require strings at analysis time instead
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"${MisraGries.Name}(item, k) requires a string item column, got " +
        child.dataType.simpleString)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = MisraGries.ResultType
  override def prettyName: String = MisraGries.Name

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(m: mutable.HashMap[String, Long],
                      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) MisraGries.offer(m, v.toString, k)
    m
  }

  override def merge(a: mutable.HashMap[String, Long],
                     b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b.foreach { case (item, c) => a.update(item, a.getOrElse(item, 0L) + c) }
    if (a.size > k) {
      // re-bound: subtract the (k+1)-th largest count from everything —
      // the mergeable-summaries MERGE step, error stays <= n/(k+1)
      val cut = a.values.toArray.sorted(Ordering[Long].reverse).apply(k)
      val dead = mutable.ArrayBuffer.empty[String]
      a.mapValuesInPlace((_, c) => c - cut)
      a.foreach { case (key, c) => if (c <= 0) dead += key }
      dead.foreach(a.remove)
    }
    a
  }

  override def eval(m: mutable.HashMap[String, Long]): Any = {
    // deterministic presentation order; note the candidate SET itself is
    // exact only while distinct items <= k (callers rescan for truth)
    val sorted = m.toArray.sortBy { case (item, c) => (-c, item) }
    new GenericArrayData(sorted.map { case (item, c) =>
      InternalRow(UTF8String.fromString(item), c)
    }.toArray[Any])
  }

  override def serialize(m: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    dos.writeInt(m.size)
    m.foreach { case (item, c) =>
      val bytes = item.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      dos.writeInt(bytes.length); dos.write(bytes); dos.writeLong(c)
    }
    dos.close()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val dis = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = dis.readInt()
    val m = mutable.HashMap.empty[String, Long]
    (0 until n).foreach { _ =>
      val len = dis.readInt()
      val buf = new Array[Byte](len)
      dis.readFully(buf)
      m.update(new String(buf, java.nio.charset.StandardCharsets.UTF_8), dis.readLong())
    }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object MisraGries {
  val Name = "graft_heavy_hitters"

  /** One Misra-Gries update step on a counter map bounded at `k`
    * entries — shared by the batch aggregate and the streaming state
    * operator ([[graft.streaming.StreamingOps.streamingHeavyHitters]]). */
  def offer(m: mutable.HashMap[String, Long], item: String, k: Int): Unit =
    m.get(item) match {
      case Some(c) => m.update(item, c + 1)
      case None if m.size < k => m.update(item, 1L)
      case None => // full: decrement every counter, drop zeros
        val dead = mutable.ArrayBuffer.empty[String]
        m.mapValuesInPlace((_, c) => c - 1)
        m.foreach { case (key, c) => if (c <= 0) dead += key }
        dead.foreach(m.remove)
    }

  val ResultType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("count_lb", LongType, nullable = false))), containsNull = false)

  def build(exprs: Seq[Expression]): Expression = {
    val k = exprs(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$Name(item, k): k must be an integer literal, got $other")
    }
    MisraGries(exprs.head, k)
  }
}
