package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Native codegen'd per-position shingle HASHES: for a token array,
  * `xxhash64` of each contiguous n-token window joined by a single
  * space — with [[graft.ops.Dedup.shingles]]' short-document fallback
  * (fewer than n tokens but at least one → ONE hash of the whole doc;
  * zero tokens → empty array).
  *
  * Why an Expression (SURVEY.md §7.3, the [[WindowHashes]] twin): every
  * exact-Jaccard and MinHash pipeline immediately hashes its shingles —
  * `transform(shingles(tk, n), s => xxhash64(s))` — so the shingle
  * STRINGS exist only to be hashed, yet the HOF form allocates a
  * sequence array, a slice array, and a joined string per position.
  * This joins the token bytes once into a flat buffer and hashes each
  * window as a byte slice — zero per-shingle allocation, and consumers
  * ([[MinHashBandBuckets]] in its long-input mode, the shingle-set
  * builders) never materialize a shingle string at all.
  *
  * BIT-IDENTICAL to `transform(shingles(tk, n), xxhash64)` (spec-pinned
  * in DedupSpec): window bytes equal the array_join'd slice, the hash
  * is XXH64 with xxhash64's seed 42, and null token elements
  * (unreachable from the tokenizer) fall back to array_join's
  * skip-null rule. */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"shingle length n must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.ShingleHashes.compute($arr, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {

  private val Seed = 42L
  private val EmptyLongs = UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)

  def compute(arr: ArrayData, n: Int): ArrayData = {
    val sz = arr.numElements()
    if (sz == 0) return EmptyLongs
    var i = 0
    while (i < sz) { if (arr.isNullAt(i)) return computeWithNulls(arr, n); i += 1 }
    // flat buffer of all tokens joined by ' ' + per-token offsets
    val starts = new Array[Int](sz)
    val ends = new Array[Int](sz)
    var total = sz - 1
    i = 0
    while (i < sz) { total += arr.getUTF8String(i).numBytes(); i += 1 }
    val buf = new Array[Byte](total)
    var pos = 0
    i = 0
    while (i < sz) {
      if (i > 0) { buf(pos) = ' '; pos += 1 }
      val s = arr.getUTF8String(i)
      starts(i) = pos
      s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
      pos += s.numBytes()
      ends(i) = pos
      i += 1
    }
    if (sz < n) {
      // short doc: one shingle = the whole doc
      return UnsafeArrayData.fromPrimitiveArray(Array(
        XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, total, Seed)))
    }
    val out = new Array[Long](sz - n + 1)
    var j = 0
    while (j <= sz - n) {
      val off = starts(j)
      out(j) = XXH64.hashUnsafeBytes(buf,
        Platform.BYTE_ARRAY_OFFSET + off, ends(j + n - 1) - off, Seed)
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Slow path for null token elements: per window (or the whole-doc
    * fallback), join non-null tokens with ' ' exactly like array_join. */
  private def computeWithNulls(arr: ArrayData, n: Int): ArrayData = {
    val sz = arr.numElements()
    def joined(from: Int, until: Int): Long = {
      val sb = new java.lang.StringBuilder()
      var first = true
      var t = from
      while (t < until) {
        if (!arr.isNullAt(t)) {
          if (!first) sb.append(' ')
          sb.append(arr.getUTF8String(t).toString)
          first = false
        }
        t += 1
      }
      XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString), Seed)
    }
    if (sz < n) return UnsafeArrayData.fromPrimitiveArray(Array(joined(0, sz)))
    val out = new Array[Long](sz - n + 1)
    var j = 0
    while (j <= sz - n) { out(j) = joined(j, j + n); j += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
