package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Distinct n-word shingles of lower(trim(text)) as 64-BIT HASHES —
  * the representation the dedup pipeline actually needs. MinHash,
  * banding, the shingle self-join, and exact-Jaccard verification all
  * treat shingles as opaque set elements, so there is no reason to
  * materialize, cache, shuffle, or persist the strings: an 8-byte hash
  * carries the same set semantics at a fraction of the bytes (the
  * average 3-word shingle here is ~25 UTF-8 bytes, so the shingle
  * index, the explode shuffle, and every array_intersect shrink ~3-4×
  * — at 100 TB that is the difference between an index that fits the
  * page cache and one that doesn't).
  *
  * Each hash is EXACTLY `xxhash64(shingle)` (seed 42) of the
  * corresponding [[WordShingles]] string — asserted in
  * `TextAndMultimodalSpec` — so hashed artifacts remain reproducible
  * from the string form in plain Spark SQL, and a persisted hashed
  * index can be rebuilt or audited without this expression.
  *
  * Two distinct shingles colliding would perturb a Jaccard count by
  * one; at 2⁻⁶⁴ per pair with ≲10³ shingles per document the
  * per-document probability is ~10⁻¹³ — the standard trade every
  * production MinHash pipeline makes.
  */
case class WordShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WordShingleHashes.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordShingleHashes$$.MODULE$$.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShingleHashes =
    copy(child = newChild)

  override def prettyName: String = "word_shingle_hashes"
}

object WordShingleHashes {

  private val Empty = new GenericArrayData(Array.empty[Any])

  /** Same tokenize pass as [[WordShingles.compute]] (the shared
    * [[Tokenize]] scanner — split('\s+', -1) semantics); each window
    * is assembled into ONE reused scratch buffer and hashed in place —
    * no per-shingle allocation at all. First-occurrence order, like
    * array_distinct. Public because generated code calls it. */
  def compute(input: UTF8String, n: Int): ArrayData = {
    val s = input.trim().toLowerCase()
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var m = 0
    Tokenize.foreachToken(s) { (a, b) =>
      if (m == starts.length) {
        starts = java.util.Arrays.copyOf(starts, m * 2)
        ends = java.util.Arrays.copyOf(ends, m * 2)
      }
      starts(m) = a; ends(m) = b; m += 1
    }
    if (m < n) return Empty
    // scratch buffer sized to the longest window
    var maxLen = 0
    var j = 0
    while (j <= m - n) {
      var len = n - 1
      var k = 0
      while (k < n) { len += ends(j + k) - starts(j + k); k += 1 }
      if (len > maxLen) maxLen = len
      j += 1
    }
    val buf = new Array[Byte](maxLen)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    j = 0
    while (j <= m - n) {
      var pos = 0
      var k = 0
      while (k < n) {
        if (k > 0) { buf(pos) = ' '.toByte; pos += 1 }
        var t = starts(j + k)
        val e = ends(j + k)
        while (t < e) { buf(pos) = s.getByte(t); pos += 1; t += 1 }
        k += 1
      }
      // == xxhash64(shingle_string): Spark's XxHash64 seeds with 42
      seen.add(XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, pos, 42L))
      j += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var q = 0
    while (it.hasNext) { out(q) = it.next().longValue(); q += 1 }
    new GenericArrayData(out)
  }

  def register(s: SparkSession): Unit = {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    castToImpl(s).sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_shingle_hashes",
      (exprs: Seq[Expression]) => {
        val n = exprs(1).eval(null).asInstanceOf[Int]
        WordShingleHashes(exprs.head, n)
      }, "built-in")
  }

  /** Column entry point. */
  def wordShingleHashes(colName: String, n: Int): Column =
    NativeColumn(colName)(WordShingleHashes(_, n))
}
