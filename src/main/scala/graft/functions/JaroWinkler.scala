package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Jaro-Winkler similarity of two strings —
  * the character-level fuzzy-match scorer behind record linkage / MDM
  * name matching (Winkler 1990, building on Jaro 1989). Spark ships
  * `levenshtein` but no Jaro family; a Scala UDF would box both strings
  * and break whole-stage codegen in exactly the hot candidate-scoring
  * loop blocked linkage runs it in.
  *
  * Semantics pinned to the common reference implementation (verified
  * case-by-case against DuckDB's `jaro_winkler_similarity`, so the
  * oracle can cross-check this expression exactly):
  *  - either input empty → 0.0 (NOT 1.0 for two empties);
  *  - match window `max(0, ⌊max(|a|,|b|)/2⌋ − 1)`, greedy left-to-right
  *    matching, transpositions = half the out-of-order matches;
  *  - Winkler prefix bonus `ℓ·0.1·(1−jaro)` with `ℓ = common prefix ≤ 4`,
  *    applied only when `jaro > 0.7` (the standard boost threshold).
  *
  * Comparison runs over UTF-8 BYTES: identical to any codepoint-based
  * implementation on ASCII input (ids, names, codes — the record-linkage
  * domain); multi-byte text compares bytewise, which is still a valid
  * similarity but not codepoint-Jaro. Scratch state is two boolean
  * flag arrays per call, bounded by the input lengths.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two string arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = JaroWinkler.Name

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.compute(a.asInstanceOf[UTF8String].getBytes,
      b.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.JaroWinkler.compute($a.getBytes(), $b.getBytes());")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {
  val Name = "graft_jaro_winkler"


  /** Static entry shared by interpreted eval and generated code. */
  def compute(a: Array[Byte], b: Array[Byte]): Double = {
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val win = math.max(0, math.max(la, lb) / 2 - 1)
    val aM = new Array[Boolean](la)
    val bM = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb - 1, i + win)
      var j = math.max(0, i - win)
      var found = false
      while (j <= hi && !found) {
        if (!bM(j) && a(i) == b(j)) {
          aM(i) = true; bM(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // out-of-order matched positions; transpositions = h / 2
    var h = 0
    var k = 0
    i = 0
    while (i < la) {
      if (aM(i)) {
        while (!bM(k)) k += 1
        if (a(i) != b(k)) h += 1
        k += 1
      }
      i += 1
    }
    val mm = m.toDouble
    val jaro = (mm / la + mm / lb + (mm - h / 2.0) / mm) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    val lMax = math.min(4, math.min(la, lb))
    while (l < lMax && a(l) == b(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }
}
