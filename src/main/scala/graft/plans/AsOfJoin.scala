package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeSet, AttributeReference, BindReferences, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.GraftSqlBridge

/** As-of join as a FIRST-CLASS operator (rung (c) of the custom-operator
  * ladder): a logical node, a planner strategy, and a physical sort-merge
  * pass — the whole-plan alternative to the union+window formulation in
  * [[graft.operators.Temporal.asOfJoin]].
  *
  * Semantics (pandas `merge_asof`, reference behavior): for every left row,
  * the right row of the same key with the greatest `ts <= left.ts`; ties on
  * (key, ts) resolve to the largest value, matching the union trick's
  * `ORDER BY (t, side, rv)` + `last(...)`. Right rows with a null value are
  * no-ops (they never match and never clear an earlier match).
  *
  * Scale shape: `requiredChildDistribution` hash-clusters both children on
  * the key (EnsureRequirements inserts co-partitioned exchanges, AQE may
  * coalesce both sides together), `requiredChildOrdering` sorts within
  * partitions by (key, ts[, value]) — then the merge is ONE streaming pass
  * per partition holding O(1) state: no window buffering, no unioned
  * null-column rows, no per-key materialization. Exactly the plan a
  * hand-written cluster job would use at 100 TB.
  *
  * Skew bound: a single key's rows land on one partition (as in every
  * keyed formulation — AQE skew splitting only rewrites its own join
  * nodes). The merge is O(left + right) per partition with constant
  * memory, so a hot key costs time, never an OOM; pre-split hot keys by
  * time range upstream if one key dominates a 100 TB input.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    rightVal: Attribute, asofOut: AttributeReference) extends BinaryNode {
  override def output: Seq[Attribute] = left.output :+ asofOut
  // asofOut is minted by this operator, not consumed from a child
  override def producedAttributes: AttributeSet = AttributeSet(asofOut :: Nil)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] as [[AsOfJoinExec]]; injected via
  * [[graft.GraftExtensions]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, rv, out) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, rv, out) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    rightVal: Attribute, asofOut: Attribute) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ asofOut

  override def producedAttributes: AttributeSet = AttributeSet(asofOut :: Nil)

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // the value column as third sort key makes equal-(key, ts) right rows
  // deterministic: the merge keeps the LAST seen = the largest value
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
        Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending),
            SortOrder(rightVal, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.Expression
    val lKeyB = BindReferences.bindReference(leftKey: Expression, left.output)
    val lTsB = BindReferences.bindReference(leftTs: Expression, left.output)
    val rKeyB = BindReferences.bindReference(rightKey: Expression, right.output)
    val rTsB = BindReferences.bindReference(rightTs: Expression, right.output)
    val rValB = BindReferences.bindReference(rightVal: Expression, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val tsOrd = TypeUtils.getInterpretedOrdering(leftTs.dataType)
    val leftAttrs = left.output
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val rBuf = rIter.buffered
      val proj = UnsafeProjection.create(outAttrs, leftAttrs :+ asofOut)
      val valueRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      val joined = new JoinedRow
      // O(1) merge state: the match value for the key currently being read
      var lastValKey: Any = null
      var hasLastKey = false
      var lastVal: Any = null

      lIter.map { lRow =>
        val lk = lKeyB.eval(lRow)
        val lt = lTsB.eval(lRow)
        if (lk != null && lt != null) {
          var advance = true
          while (advance && rBuf.hasNext) {
            val head = rBuf.head
            val rk = rKeyB.eval(head)
            val c = if (rk == null) -1 else keyOrd.compare(rk, lk)
            if (c < 0) { rBuf.next(); () } // behind the current left key: discard
            else if (c == 0) {
              val rt = rTsB.eval(head)
              // a null ts can never satisfy ts <= left.ts for ANY left row:
              // skip it — treating it as "future" would permanently block
              // every valid right row sorted behind it (nulls sort first)
              if (rt == null) { rBuf.next(); () }
              else if (tsOrd.compare(rt, lt) <= 0) {
                val v = rValB.eval(head)
                if (v != null) { // null values are no-ops, as in last(ignoreNulls)
                  lastVal = InternalRow.copyValue(v)
                  lastValKey = InternalRow.copyValue(rk)
                  hasLastKey = true
                }
                rBuf.next(); ()
              } else advance = false // same key but in the future: stop
            } else advance = false // right is ahead: stop
          }
        }
        val matched = hasLastKey && lk != null && keyOrd.compare(lastValKey, lk) == 0
        if (matched) valueRow.update(0, lastVal)
        else valueRow.update(0, null)
        proj(joined(lRow, valueRow))
      }
    }
  }
}

object AsOfJoin {
  /** Native as-of join over the custom plan node. Output columns:
    * `keyCol, tsCol, leftValCol, asof_<rightValCol>` — the same contract
    * as [[graft.operators.Temporal.asOfJoin]]. */
  def asOf(spark: SparkSession, leftDf: DataFrame, rightDf: DataFrame,
           keyCol: String, tsCol: String,
           leftValCol: String, rightValCol: String): DataFrame = {
    // GraftExtensions is the one path that installs the strategy; without
    // it the plan node below could not be planned at all
    require(spark.sessionState.planner.strategies.contains(AsOfJoinStrategy),
      "AsOfJoinStrategy is not installed: build the session with " +
        "spark.sql.extensions=graft.GraftExtensions (GraftSession.builder does)")
    val lp = GraftSqlBridge.analyzed(
      leftDf.select(col(keyCol), col(tsCol), col(leftValCol)))
    // re-alias the right side so a self-join never carries duplicate
    // attribute ids into the combined plan
    val rp0 = GraftSqlBridge.analyzed(
      rightDf.select(col(keyCol), col(tsCol), col(rightValCol)))
    val rp = Project(rp0.output.map(a => Alias(a, a.name)()), rp0)
    val Seq(lk, lt, _) = lp.output
    val Seq(rk, rt, rv) = rp.output.map(_.toAttribute)
    // the merge compares raw internal values with orderings derived from
    // the LEFT types — a type mismatch must be an analysis error, not a
    // silent wrong answer (e.g. nanosecond longs vs TimestampType micros).
    // TIMESTAMP and TIMESTAMP_NTZ are mutually compatible: both are Long
    // micros-since-epoch internally, so the merge ordering is identical.
    def tsFamily(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }
    require(lk.dataType == rk.dataType &&
        (lt.dataType == rt.dataType || (tsFamily(lt.dataType) && tsFamily(rt.dataType))),
      s"asOf type mismatch: key ${lk.dataType} vs ${rk.dataType}, " +
        s"ts ${lt.dataType} vs ${rt.dataType}")
    val asofAttr = AttributeReference(s"asof_$rightValCol", rv.dataType, nullable = true)()
    GraftSqlBridge.ofRows(spark, AsOfJoinPlan(lp, rp, lk, rk, lt, rt, rv, asofAttr))
  }
}
