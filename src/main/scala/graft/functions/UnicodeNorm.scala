package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization as native Catalyst expressions — the curation
  * primitive Spark lacks a built-in for (a crawl mixes precomposed and
  * decomposed encodings of the SAME text, so every exact/MinHash/
  * fingerprint dedup upstream of normalization silently treats "café"
  * and "café" as different documents).
  *
  * `NfcNormalize` applies UTS #15 canonical composition (NFC) via
  * `java.text.Normalizer` — the same standard DuckDB's `nfc_normalize`
  * implements, which is what makes the cross-engine hash oracle exact.
  * `StripAccents` goes one step further down the matching ladder:
  * canonical decomposition (NFD) + removal of combining marks
  * (`\p{Mn}`), the accent-insensitive key DuckDB exposes as
  * `strip_accents`.
  *
  * Codegen: both stay inside whole-stage codegen with a static call —
  * the string round-trip through `java.text.Normalizer` is the cost of
  * correctness here (ICU-grade normalization is not re-implementable in
  * a few lines of generated Java); the expressions exist so the call is
  * a single map-side column op, not a black-box Scala UDF with
  * serialization overhead and a broken null contract.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(s: Any): Any =
    UTF8String.fromString(NfcNormalize.nfc(s.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"UTF8String.fromString(graft.functions.NfcNormalize.nfc($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize {
  /** Static entry point shared by interpreted eval and generated code. */
  def nfc(s: String): String =
    if (Normalizer.isNormalized(s, Normalizer.Form.NFC)) s
    else Normalizer.normalize(s, Normalizer.Form.NFC)

  def nfc_normalize(c: Column): Column =
    org.apache.spark.sql.functions.call_function("nfc_normalize", c)
}

/** NFD + strip combining marks — DuckDB `strip_accents` semantics. */
case class StripAccents(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"strip_accents expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "strip_accents"

  override def nullSafeEval(s: Any): Any =
    UTF8String.fromString(StripAccents.strip(s.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"UTF8String.fromString(graft.functions.StripAccents.strip($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object StripAccents {
  private val marks = java.util.regex.Pattern.compile("\\p{Mn}+")

  def strip(s: String): String = {
    val d = Normalizer.normalize(s, Normalizer.Form.NFD)
    marks.matcher(d).replaceAll("")
  }

  def strip_accents(c: Column): Column =
    org.apache.spark.sql.functions.call_function("strip_accents", c)
}
