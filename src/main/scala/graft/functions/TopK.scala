package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native bounded-heap TOP-K aggregate: `graft_topk(value, tag, k)`
  * returns `array<struct<value:double, tag:bigint>>` — the k largest
  * `(value, tag)` pairs of the group, ordered `value DESC, tag ASC`
  * (the tag breaks ties, so results are total-ordered and
  * partitioning-invariant).
  *
  * The 100 TB shape: the standard top-k-per-group formulation is a
  * ranking window — a full shuffle of EVERY row on the group key plus a
  * per-group SORT, with the hottest group bounding the slowest task.
  * This aggregate keeps a k-element min-heap per partition map-side, so
  * only `k` (value, tag) pairs per partition cross the shuffle and the
  * merge is a heap union — O(k) state regardless of group size, same
  * class of bounded-state trade as [[MisraGries]] but exact (top-k of a
  * union is computable from per-part top-ks; no rescan needed).
  */
case class TopK(
    valueExpr: Expression,
    tagExpr: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  require(k > 0, s"${TopK.Name} k must be positive, got $k")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    // injected as a session built-in — mistyped SQL calls must fail at
    // analysis, not as executor ClassCastExceptions mid-job
    if (valueExpr.dataType == DoubleType && tagExpr.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"${TopK.Name}(value, tag, k) requires (double, bigint), got " +
        s"(${valueExpr.dataType.simpleString}, ${tagExpr.dataType.simpleString})")
  }

  override def children: Seq[Expression] = Seq(valueExpr, tagExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = TopK.ResultType
  override def prettyName: String = TopK.Name

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty(TopK.WorstFirst)

  override def update(h: mutable.PriorityQueue[(Double, Long)],
                      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val v = valueExpr.eval(input)
    val t = tagExpr.eval(input)
    if (v != null && t != null)
      TopK.offer(h, (v.asInstanceOf[Double], t.asInstanceOf[Long]), k)
    h
  }

  override def merge(a: mutable.PriorityQueue[(Double, Long)],
                     b: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    b.foreach(e => TopK.offer(a, e, k))
    a
  }

  override def eval(h: mutable.PriorityQueue[(Double, Long)]): Any = {
    // best-first presentation: value DESC, tag ASC — same total order as
    // offer() (negate-and-sortBy would misplace NaN: -NaN is still NaN)
    val sorted = h.toArray.sortWith { case ((v1, t1), (v2, t2)) =>
      TopK.better(v1, t1, v2, t2)
    }
    new GenericArrayData(sorted.map { case (v, t) =>
      InternalRow(v, t)
    }.toArray[Any])
  }

  override def serialize(h: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    dos.writeInt(h.size)
    h.foreach { case (v, t) => dos.writeDouble(v); dos.writeLong(t) }
    dos.close()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val dis = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = dis.readInt()
    val h = createAggregationBuffer()
    (0 until n).foreach(_ => h.enqueue((dis.readDouble(), dis.readLong())))
    h
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(valueExpr = newChildren(0), tagExpr = newChildren(1))
}

object TopK {
  val Name = "graft_topk"

  /** Total-order "better" test: value DESC (NaN ranks LARGEST, matching
    * Spark's sort semantics and the ranking-window form this aggregate
    * replaced), tag ASC on ties. Raw `>`/`==` on Double is NOT a total
    * order — a NaN admitted while the heap fills would poison it (every
    * later comparison false: the NaN could squat at the head and reject
    * all candidates). `java.lang.Double.compare` gives the total order
    * with NaN greatest; -0.0 is normalized to 0.0 first so the tie-break
    * matches Spark SQL, which sorts -0.0 = 0.0. */
  private def norm(v: Double): Double = if (v == 0.0) 0.0 else v

  private def better(v1: Double, t1: Long, v2: Double, t2: Long): Boolean = {
    val c = java.lang.Double.compare(norm(v1), norm(v2))
    c > 0 || (c == 0 && t1 < t2)
  }

  /** Heap order: the WORST kept element dequeues first (PriorityQueue
    * dequeues the MAX of the ordering, so max = worst = NOT better). */
  val WorstFirst: Ordering[(Double, Long)] =
    Ordering.fromLessThan[(Double, Long)] { case ((v1, t1), (v2, t2)) =>
      // "less than" = kept deeper in the heap = BETTER than the other
      better(v1, t1, v2, t2)
    }

  def offer(h: mutable.PriorityQueue[(Double, Long)], e: (Double, Long), k: Int): Unit = {
    if (h.size < k) h.enqueue(e)
    else {
      val worst = h.head
      if (better(e._1, e._2, worst._1, worst._2)) {
        h.dequeue(); h.enqueue(e)
      }
    }
  }

  val ResultType: DataType = ArrayType(StructType(Seq(
    StructField("value", DoubleType, nullable = false),
    StructField("tag", LongType, nullable = false))), containsNull = false)

  def build(exprs: Seq[Expression]): Expression = {
    val k = exprs(2) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$Name(value, tag, k): k must be an integer literal, got $other")
    }
    TopK(exprs(0), exprs(1), k)
  }


  /** Heap-rank id contract: the tag is a BIGINT, so callers cast their id
    * column to long. A silent cast would NULL non-integral ids and the
    * heap skips nulls — rows would vanish instead of failing. Fail at
    * plan time with the column's real type. */
  def requireIntegralId(df: org.apache.spark.sql.DataFrame, column: String,
                        caller: String): Unit = {
    val dt = df.schema(column).dataType
    dt match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"$caller: id column '$column' must be an integral type (the " +
          s"$Name tag is BIGINT; a lossy cast would silently drop rows), " +
          s"got ${other.simpleString}")
    }
  }
}
