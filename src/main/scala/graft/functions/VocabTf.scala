package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_vocab_tf(toks: array<string>, vocab: array<string> literal)` →
  * `map<string, bigint>` of term frequencies for the tokens that are IN
  * the vocabulary — the map-side "cut to query vocabulary" of a lexical
  * retrieval scan in ONE codegen'd pass per row.
  *
  * Why native: the declarative route is explode-every-token → broadcast
  * semi-join → groupBy(doc, term) — the per-token rows leave the
  * projection, pay join-probe row plumbing, and the tf build is a real
  * (if map-side-combined) aggregation over corpus-token-count rows. Here
  * membership is one O(1) hash probe per token against a driver-built
  * `HashSet` carried in the codegen references (broadcast once with the
  * task binary), and the tf map never materializes non-matching tokens —
  * the scan output is corpus-row-count rows of tiny maps, so the
  * downstream posting explode is bounded by |vocab| per document, not by
  * document length. The vocabulary must be driver-small (a query set's
  * distinct terms), the same contract as a broadcast join's build side.
  *
  * Null tokens never match (`Σ map-values ≤ size(toks)`); a null input
  * array → null; no vocabulary hit → EMPTY map (not null). */
case class VocabTf(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right) match {
    case (ArrayType(StringType, _), v) if v.foldable &&
        v.dataType.isInstanceOf[ArrayType] &&
        v.dataType.asInstanceOf[ArrayType].elementType == StringType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<string>, array<string> literal), got " +
        s"${left.dataType.simpleString}, $right")
  }

  /** Driver-built probe set from the foldable vocab child; cloned keys so
    * nothing points into a reusable literal buffer. */
  @transient private lazy val vocabSet: java.util.HashSet[UTF8String] = {
    val arr = right.eval(null).asInstanceOf[ArrayData]
    val set = new java.util.HashSet[UTF8String](math.max(16, arr.numElements() * 2))
    var i = 0
    while (i < arr.numElements()) {
      val s = arr.getUTF8String(i)
      if (s != null) set.add(s.clone())
      i += 1
    }
    set
  }

  override def dataType: DataType = MapType(StringType, LongType, valueContainsNull = false)
  override def prettyName: String = VocabTf.Name

  override def nullSafeEval(arr: Any, vocabLit: Any): Any =
    VocabTf.compute(arr.asInstanceOf[ArrayData], vocabSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("vocabSet", vocabSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = graft.functions.VocabTf.compute($a, $setRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VocabTf {
  val Name = "graft_vocab_tf"

  /** Called from generated code. */
  def compute(arr: ArrayData, vocab: java.util.HashSet[UTF8String]): MapData = {
    val m = arr.numElements()
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    var i = 0
    while (i < m) {
      val t = arr.getUTF8String(i)
      if (t != null && vocab.contains(t)) {
        val slot = counts.get(t)
        if (slot != null) slot(0) += 1L
        // clone: the key must survive past this row even over an
        // UnsafeArrayData input whose buffer the scan reuses
        else counts.put(t.clone(), Array(1L))
      }
      i += 1
    }
    val n = counts.size()
    val keys = new Array[Any](n)
    val vals = new Array[Any](n)
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      keys(k) = e.getKey
      vals(k) = e.getValue()(0)
      k += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }
}
