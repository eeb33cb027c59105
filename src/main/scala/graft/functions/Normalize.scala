package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.unsafe.types.UTF8String

/** Unicode text normalization as native Catalyst expressions — the
  * canonicalization pass a multilingual corpus pipeline runs before
  * hashing/dedup (the same text arriving NFC from one crawler and NFD
  * from another must not defeat exact dedup) and before accent-
  * insensitive matching.
  *
  * Three expressions, all whole-stage-codegen'd (`doGenCode` calls the
  * static kernel, like [[SimHash64]]):
  *  - `nfc_normalize`: canonical composition (java.text.Normalizer
  *    NFC — the same Unicode normalization DuckDB's `nfc_normalize`
  *    implements via utf8proc, so the oracle replays it directly);
  *  - `nfd_normalize`: canonical decomposition (test/ingest tool —
  *    produces the adversarial inputs the NFC gate recomposes);
  *  - `strip_accents`: NFD + drop combining marks (\p{Mn}) — 'é' → 'e',
  *    'ü' → 'u', 'ß' kept (a letter, not an accent); DuckDB's
  *    `strip_accents` follows the same rule.
  *
  * ASCII fast path: normalization of pure-ASCII bytes is the identity,
  * so the kernels return the input untouched without materializing a
  * String — on a mostly-ASCII corpus the pass runs at scan speed. */
object Normalize {

  private def isAscii(s: UTF8String): Boolean = {
    val n = s.numBytes()
    var i = 0
    val base = s.getBaseObject
    val off = s.getBaseOffset
    while (i < n) {
      if ((org.apache.spark.unsafe.Platform.getByte(base, off + i) & 0x80) != 0)
        return false
      i += 1
    }
    true
  }

  def nfc(input: UTF8String): UTF8String =
    if (isAscii(input)) input
    else UTF8String.fromString(
      Normalizer.normalize(input.toString, Normalizer.Form.NFC))

  def nfd(input: UTF8String): UTF8String =
    if (isAscii(input)) input
    else UTF8String.fromString(
      Normalizer.normalize(input.toString, Normalizer.Form.NFD))

  def stripAccents(input: UTF8String): UTF8String =
    if (isAscii(input)) input
    else {
      val d = Normalizer.normalize(input.toString, Normalizer.Form.NFD)
      val sb = new java.lang.StringBuilder(d.length)
      var i = 0
      while (i < d.length) {
        val c = d.charAt(i)
        if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
        i += 1
      }
      UTF8String.fromString(sb.toString)
    }

  def register(s: SparkSession): Unit = {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    val reg = castToImpl(s).sessionState.functionRegistry
    reg.createOrReplaceTempFunction("nfc_normalize",
      (e: Seq[Expression]) => NfcNormalize(e.head), "built-in")
    reg.createOrReplaceTempFunction("nfd_normalize",
      (e: Seq[Expression]) => NfdNormalize(e.head), "built-in")
    reg.createOrReplaceTempFunction("strip_accents",
      (e: Seq[Expression]) => StripAccents(e.head), "built-in")
  }

  /** Column entry points. */
  def nfcNormalize(colName: String): Column = NativeColumn(colName)(NfcNormalize(_))
  def nfdNormalize(colName: String): Column = NativeColumn(colName)(NfdNormalize(_))
  def stripAccentsCol(colName: String): Column = NativeColumn(colName)(StripAccents(_))
}

case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    Normalize.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Normalize$$.MODULE$$.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
  override def prettyName: String = "nfc_normalize"
}

case class NfdNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    Normalize.nfd(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Normalize$$.MODULE$$.nfd($c)")
  override protected def withNewChildInternal(newChild: Expression): NfdNormalize =
    copy(child = newChild)
  override def prettyName: String = "nfd_normalize"
}

case class StripAccents(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    Normalize.stripAccents(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Normalize$$.MODULE$$.stripAccents($c)")
  override protected def withNewChildInternal(newChild: Expression): StripAccents =
    copy(child = newChild)
  override def prettyName: String = "strip_accents"
}
