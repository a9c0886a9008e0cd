package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Unicode NFC normalization of a string
  * column (`graft_nfc`).
  *
  * Corpus text arrives in mixed normalization forms (decomposed combining
  * sequences from OCR/PDF extraction vs precomposed keyboards); exact and
  * near-dedup, fingerprinting and token statistics all treat `e`+U+0301
  * and `é` as different documents unless the pipeline canonicalizes
  * first. NFC is the standard canonical form (precomposed; what DuckDB's
  * `nfc_normalize` and Python's `unicodedata.normalize("NFC", …)`
  * produce), so normalized output is portable across engines.
  *
  * A native expression rather than a UDF: stays inside whole-stage
  * codegen (no encoder round-trip per row), null-safe, and the common
  * all-ASCII case is a zero-copy passthrough — `Normalizer.isNormalized`
  * scans without allocating, so the 99%-ASCII corpus pays one branch per
  * row instead of a String copy. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize {
  val Name = "graft_nfc"

  /** Static entry shared by interpreted eval and generated code. */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}
