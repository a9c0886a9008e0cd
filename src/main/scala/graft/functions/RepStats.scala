package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: one-pass repetition statistics of a token
  * array — `struct(n_tokens, n_distinct, top_token, top_bigram)` (counts;
  * `top_bigram = 0` when fewer than 2 tokens).
  *
  * Why native: the same fold is expressible with `array_sort` +
  * `aggregate`, but higher-order functions evaluate their lambda
  * INTERPRETED — an expression-tree walk per element per row, ~30× slower
  * on corpus text, and `array_sort`'s comparator costs O(n log n) string
  * compares. This expression is a single static-helper call per row
  * (open-addressing-free: two JDK HashMaps, O(n) expected), emitted
  * inside whole-stage codegen so the surrounding projection never leaves
  * the generated loop.
  */
case class RepStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = RepStats.ResultType
  override def prettyName: String = RepStats.Name

  override def nullSafeEval(arr: Any): Any =
    RepStats.compute(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.RepStats.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RepStats {
  val Name = "graft_rep_stats"

  val ResultType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_token", LongType, nullable = false),
    StructField("top_bigram", LongType, nullable = false)))

  /** Called from generated code — must stay public and static-shaped. */
  def compute(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    val uni = new java.util.HashMap[UTF8String, Int](Math.max(16, n * 2))
    var i = 0
    var topU = 0
    while (i < n) {
      val t0 = arr.getUTF8String(i)
      val t = if (t0 == null) UTF8String.EMPTY_UTF8 else t0
      val c = uni.merge(t, 1, (x, y) => x + y)
      if (c > topU) topU = c
      i += 1
    }
    var topB = 0
    if (n >= 2) {
      val bi = new java.util.HashMap[UTF8String, Int](Math.max(16, n * 2))
      i = 0
      while (i < n - 1) {
        def at(j: Int): UTF8String = {
          val s = arr.getUTF8String(j)
          if (s == null) UTF8String.EMPTY_UTF8 else s
        }
        val g = UTF8String.concat(at(i), RepStats.Sep, at(i + 1))
        val c = bi.merge(g, 1, (x, y) => x + y)
        if (c > topB) topB = c
        i += 1
      }
    }
    InternalRow(n.toLong, uni.size.toLong, topU.toLong, topB.toLong)
  }

  // newline, not space: the function accepts ANY array<string>, and a
  // space separator would collide bigram keys across token boundaries
  // for tokens that themselves contain spaces (("x y","z") vs ("x","y z"))
  // — the same hazard Dedup's set digests document; whitespace-split
  // tokens are unaffected either way
  private val Sep = UTF8String.fromString("\n")
}
