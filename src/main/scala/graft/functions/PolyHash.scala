package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit polynomial rolling hash of a string — the document
  * fingerprinting primitive (SURVEY.md §7.5 extension; the reference has
  * no equivalent). `h = OFFSET; for each byte b: h = h * PRIME + b`
  * over the UTF-8 bytes, wrapping in 64-bit arithmetic.
  *
  * Implemented as a native Catalyst `Expression` WITH `doGenCode` —
  * not a Scala UDF — so it participates in whole-stage codegen: no
  * boxing, no closure dispatch, runs inside the same generated loop as
  * the surrounding projection. This is the preferred extension point
  * order from the build brief: built-in functions > native Expression >
  * UDF.
  */
case class PolyHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = PolyHash64.Offset
    var i = 0
    while (i < bytes.length) {
      h = h * PolyHash64.Prime + (bytes(i) & 0xffL)
      i += 1
    }
    java.lang.Long.valueOf(h)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = ${PolyHash64.Offset}L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = $h * ${PolyHash64.Prime}L + ($bytes[$i] & 0xffL);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyHash64 =
    copy(child = newChild)

  override def prettyName: String = "poly_hash64"
}

object PolyHash64 {
  val Offset: Long = 1125899906842597L
  val Prime: Long = 31L

  /** Register `poly_hash64` in the session's function registry so it is
    * usable from both the Column API (via [[polyHash64]]) and SQL. */
  def register(s: SparkSession): Unit = {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    castToImpl(s).sessionState.functionRegistry.createOrReplaceTempFunction(
      "poly_hash64", (exprs: Seq[Expression]) => PolyHash64(exprs.head), "built-in")
  }

  /** Column-API entry point. */
  def polyHash64(colName: String): Column = NativeColumn(colName)(PolyHash64(_))

  /** Reference implementation for tests. */
  def hash(s: String): Long = {
    val bytes = s.getBytes("UTF-8")
    var h = Offset
    var i = 0
    while (i < bytes.length) { h = h * Prime + (bytes(i) & 0xffL); i += 1 }
    h
  }
}
