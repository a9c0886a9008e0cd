package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_sorted_pairs(arr: array<T>)` → all unordered element pairs as
  * `array<struct<a:T, b:T>>` with `a < b` in the element type's natural
  * order (UTF8 binary for strings) — the per-row expansion step of every
  * co-occurrence / wedge count. Null elements are skipped; null input →
  * null; fewer than 2 usable elements → empty array. The input need NOT
  * be pre-sorted or distinct (duplicates emit duplicate pairs); sorting
  * is O(d log d) against the O(d²) emission it orders.
  *
  * Why native, twice over: the declarative alternative is either a row
  * self-join on the grouping id (each side shuffles the exploded items
  * and the join re-materializes every group's list against itself) or a
  * nested `transform(slice(...))` lambda pair — which not only evaluates
  * interpreted per pair but, being CodegenFallback, knocks the whole
  * containing stage out of whole-stage codegen, so even the downstream
  * explode + pair-count hash aggregate ran interpreted (measured ~25
  * µs/pair on the q220 co-occurrence build before this expression). The
  * pair count is quadratic in the array length by definition — callers
  * bound the input structurally (top-V vocabulary, basket-sized groups,
  * support-thresholded neighbor lists).
  */
case class SortedPairs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(et, _)
        if org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(et) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array of an orderable type, got ${other.simpleString}")
  }

  private def elementType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", elementType, nullable = false),
    StructField("b", elementType, nullable = false))), containsNull = false)

  override def prettyName: String = SortedPairs.Name

  override def nullSafeEval(arr: Any): Any =
    SortedPairs.compute(arr.asInstanceOf[ArrayData], elementType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val etRef = ctx.addReferenceObj("elementType", elementType,
      "org.apache.spark.sql.types.DataType")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SortedPairs.compute($a, $etRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SortedPairs {
  val Name = "graft_sorted_pairs"

  /** Pair-count ceiling: 1 << 14 elements = ~134 M pairs from ONE input
    * row — far beyond any structurally bounded basket, and a sign the
    * caller forgot its support/size throttle; failing fast with a named
    * culprit beats an executor OOM without one. */
  val MaxElements: Int = 1 << 14

  /** Called from generated code. */
  def compute(arr: ArrayData, et: DataType): ArrayData = {
    val m = arr.numElements()
    // copy values out once: UnsafeArrayData getters return views into a
    // buffer the scan reuses across rows — pair structs must own bytes
    val elems = new java.util.ArrayList[Any](m)
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i)) {
        arr.get(i, et) match {
          case s: UTF8String => elems.add(s.clone())
          case x => elems.add(x)
        }
      }
      i += 1
    }
    val n = elems.size()
    if (n < 2) return new GenericArrayData(new Array[Any](0))
    if (n > MaxElements) throw new IllegalArgumentException(
      s"$Name: input has $n elements (> $MaxElements); bound the group " +
        "(support threshold / basket cap / top-V vocabulary) before pair expansion")
    elems.sort(TypeUtils.getInterpretedOrdering(et).asInstanceOf[java.util.Comparator[Any]])
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = InternalRow(elems.get(i), elems.get(j))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
