package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.graft.NativeColumn

/** All `numHashes` MinHash values of a shingle-hash set in ONE compiled
  * pass — `sig[i] = min over shingles h of xxhash64(i, h)`.
  *
  * Bit-identical to the declarative aggregate form
  * `explode(shingles) → groupBy(doc) → min(xxhash64(lit(i), shingle))`
  * (kept as [[graft.ops.Dedup.minhashSignaturesAgg]] and asserted
  * equal in DedupSpec): Spark's XxHash64 chains
  * `hashLong(h, hashInt(i, 42))`, and the 64 `hashInt(i, 42)` inner
  * seeds are precomputed once per JVM here.
  *
  * Why an expression instead of the aggregate: the aggregate form
  * explodes every (doc, shingle) row and shuffles 64 min-buffers per
  * document — one whole exchange plus per-row aggregate machinery for
  * what is a pure per-document computation. As an expression the
  * signature is a narrow Project fused into the scan (zero shuffle),
  * and the band table that follows is the FIRST exchange of the whole
  * minhash pipeline. Empty shingle sets (no tokens) are filtered out
  * BEFORE this projection by [[graft.ops.Dedup.minhashSignatures]],
  * mirroring the rows the explode form drops; on empty input the
  * expression defensively returns an empty array. */
case class MinHashSigs(child: Expression, numHashes: Int)
    extends UnaryExpression {

  // validate HERE, not in the registration lambdas: every construction
  // path (temp-function, extension-injected, direct) shares the check
  require(numHashes >= 1 && numHashes <= MinHashSigs.MaxHashes,
    s"numHashes=$numHashes out of range [1, ${MinHashSigs.MaxHashes}]")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MinHashSigs.compute(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      x => s"graft.functions.MinHashSigs$$.MODULE$$.compute($x, $numHashes)")

  override def prettyName: String = "minhash_sigs"

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

object MinHashSigs {

  // xxhash64(lit(i), h) == hashLong(h, hashInt(i, 42)); the per-salt
  // inner seeds are constants
  private[functions] val MaxHashes = 256
  private val seeds: Array[Long] =
    Array.tabulate(MaxHashes)(i => XXH64.hashInt(i, 42L))

  private val Empty = new GenericArrayData(Array.empty[Long])

  /** Public because generated code calls it. */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return Empty
    val hs = arr.toLongArray()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = hs(j)
      var i = 0
      while (i < k) {
        val v = XXH64.hashLong(h, seeds(i))
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  def register(s: SparkSession): Unit = {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    castToImpl(s).sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_sigs",
      (exprs: Seq[Expression]) =>
        MinHashSigs(exprs.head, exprs(1).eval(null).asInstanceOf[Int]),
      "built-in")
  }

  /** Column entry point. */
  def minhashSigs(shinglesCol: String, k: Int): Column =
    NativeColumn(shinglesCol)(MinHashSigs(_, k))
}
