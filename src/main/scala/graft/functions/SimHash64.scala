package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash of a document as a native Catalyst expression: one
  * compiled pass per row, no explode, no shuffle.
  *
  * Semantics are IDENTICAL to the round-1 aggregate formulation (kept
  * as [[graft.ops.Dedup.simhashAgg]] and asserted equal in DedupSpec):
  * tokens are `split(lower(trim(text)), '\s+')`, each token is hashed
  * with Spark's `xxhash64` (seed 42 — this expression calls the same
  * XXH64 kernel on the same UTF-8 bytes), every occurrence votes ±1 per
  * bit, and bit b of the signature is set iff its vote total is
  * strictly positive.
  *
  * Why an expression and not the explode + 64-conditional-sum plan:
  * SimHash is a PER-DOCUMENT value — distributing its per-token votes
  * through a (doc_id, token_hash) shuffle and a 64-wide aggregate (the
  * round-1 shape, the bench's slowest query at 6.4 s) buys nothing.
  * This runs embarrassingly parallel on the scan.
  *
  * Implements `doGenCode` (like [[PolyHash64]], unlike the round-2
  * CodegenFallback version): the expression participates in whole-stage
  * codegen — no interpreted-eval dispatch per row — and the kernel
  * itself tokenizes by scanning UTF-8 bytes for ASCII whitespace runs,
  * hashing each token in place from the backing bytes: zero per-token
  * allocation, no per-row regex, no String materialization. */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64$$.MODULE$$.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object SimHash64 {

  /** One pass over the (space-trimmed, lower-cased) UTF-8 bytes via
    * the shared [[Tokenize]] scanner (split('\s+', -1) semantics —
    * boundary empty tokens vote like any other token). Public because
    * generated code calls it. */
  def compute(input: UTF8String): Long = {
    val s = input.trim().toLowerCase()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val votes = new Array[Int](64)
    Tokenize.foreachToken(s) { (start, end) =>
      val h = XXH64.hashUnsafeBytes(base, off + start, end - start, 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  def register(s: SparkSession): Unit = {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    castToImpl(s).sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64",
      (exprs: Seq[Expression]) => SimHash64(exprs.head), "built-in")
  }

  /** Column entry point. */
  def simhash64(colName: String): Column = NativeColumn(colName)(SimHash64(_))
}
