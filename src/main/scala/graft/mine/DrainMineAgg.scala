package graft.mine

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst AGGREGATE for Drain template mining: `graft_mine(line)`
  * returns `array<struct<eventId:bigint, size:bigint, template:string>>`.
  *
  * This is the custom-operator ladder's rung (b) applied to M1: built-in
  * aggregates cannot express "fold rows into a mergeable prefix-tree
  * state", and the RDD `treeReduce` formulation
  * ([[TemplateMining.mineParallel]]) leaves Catalyst entirely. As a
  * `TypedImperativeAggregate` the SAME per-partition-tree + merge
  * architecture runs INSIDE Tungsten: partial aggregation grows one tree
  * per partition map-side, shuffle moves only serialized trees (kilobytes
  * — O(#clusters), never data-sized), and the final merge replays cluster
  * summaries weight-preserving, exactly like [[DrainTree.merge]].
  *
  * Because it is a real aggregate it composes everywhere Catalyst allows:
  * `GROUP BY` (per-shard mining in one shuffle — the batch twin of the
  * streaming `flatMapGroupsWithState` miner), SQL text via the registered
  * function, and window-free two-phase plans with AQE.
  *
  * Cluster ids are synthetic under parallel merge (same contract as
  * `mineParallel`); (template, size) content is the stable surface, and
  * total mass is conserved (property-tested).
  */
case class DrainMineAgg(
    child: Expression,
    depth: Int = 4,
    simTh: Double = 0.4,
    maxChildren: Int = 100,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[DrainTree] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = DrainMineAgg.ResultType
  override def prettyName: String = DrainMineAgg.Name

  override def createAggregationBuffer(): DrainTree =
    new DrainTree(depth, simTh, maxChildren, 0)

  override def update(tree: DrainTree, input: InternalRow): DrainTree = {
    val v = child.eval(input)
    tree.addLogMessage(if (v == null) "" else v.toString)
    tree
  }

  override def merge(a: DrainTree, b: DrainTree): DrainTree = a.merge(b)

  override def eval(tree: DrainTree): Any =
    new GenericArrayData(tree.clusters.map { t =>
      InternalRow(t.eventId, t.size, UTF8String.fromString(t.template))
    }.toArray[Any])

  override def serialize(tree: DrainTree): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(tree)
    oos.close()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): DrainTree = {
    val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
    try ois.readObject().asInstanceOf[DrainTree] finally ois.close()
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): DrainMineAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DrainMineAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object DrainMineAgg {
  val Name = "graft_mine"

  val ResultType: DataType = ArrayType(StructType(Seq(
    StructField("eventId", LongType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("template", StringType, nullable = false))), containsNull = false)
}
