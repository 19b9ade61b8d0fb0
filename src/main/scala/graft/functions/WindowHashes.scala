package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Native codegen'd k-token window hashes for exact-substring dedup:
  * per window position i, `xxhash64` of tokens i..i+k−1 joined by a
  * single space — the hash column [[graft.ops.Dedup.substringDup]] /
  * `removeDupSpans` group corpus-wide.
  *
  * Why an Expression (SURVEY.md §7.3): the HOF formulation it replaces —
  * `transform(sequence(0, n−k), i => xxhash64(array_join(slice(tk, i+1,
  * k), " ")))` — is CodegenFallback and allocates a sequence array, a
  * k-element slice array, and a joined string PER WINDOW (~n windows per
  * document, ~3 evaluations per operator run through the despan
  * subtree's self-references). This joins the token bytes ONCE into a
  * flat buffer with per-token offsets and hashes each window as a byte
  * slice of that buffer — zero per-window allocation.
  *
  * BIT-IDENTICAL to the HOF form (spec-pinned in DedupSpec): a window's
  * buffer slice is byte-for-byte the `array_join(slice(...), " ")`
  * string (single-char separator, contiguous tokens), and the hash is
  * the same XXH64 over those bytes with `xxhash64`'s seed 42. A null
  * token ELEMENT (unreachable from the tokenizer, whose split never
  * yields nulls) falls back to a per-window join replicating
  * array_join's skip-null semantics. Arrays shorter than k yield the
  * empty array — callers' `when(size >= k, …)` wrapper semantics,
  * folded in so the wrapper can be dropped.
  */
case class WindowHashes(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 2, s"window length k must be >= 2, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "window_hashes"

  override protected def nullSafeEval(input: Any): Any =
    WindowHashes.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.WindowHashes.compute($arr, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WindowHashes {

  private val Seed = 42L
  private val EmptyLongs = UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)

  /** Shared by interpreted eval and the generated code (static
    * forwarder), so both paths are one implementation. */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k) return EmptyLongs
    var i = 0
    while (i < n) { if (arr.isNullAt(i)) return computeWithNulls(arr, k); i += 1 }
    // flat buffer: all token bytes joined by ' ', with per-token
    // [start, end) byte offsets — window j hashes the contiguous slice
    // starts(j) until ends(j + k - 1)
    val starts = new Array[Int](n)
    val ends = new Array[Int](n)
    var total = n - 1 // separators
    i = 0
    while (i < n) { total += arr.getUTF8String(i).numBytes(); i += 1 }
    val buf = new Array[Byte](total)
    var pos = 0
    i = 0
    while (i < n) {
      if (i > 0) { buf(pos) = ' '; pos += 1 }
      val s = arr.getUTF8String(i)
      starts(i) = pos
      s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
      pos += s.numBytes()
      ends(i) = pos
      i += 1
    }
    val out = new Array[Long](n - k + 1)
    var j = 0
    while (j <= n - k) {
      val off = starts(j)
      out(j) = XXH64.hashUnsafeBytes(buf,
        Platform.BYTE_ARRAY_OFFSET + off, ends(j + k - 1) - off, Seed)
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Slow path for null token elements: per window, join the non-null
    * tokens with ' ' exactly like array_join's skip-null rule. */
  private def computeWithNulls(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n - k + 1)
    var j = 0
    while (j <= n - k) {
      val sb = new java.lang.StringBuilder()
      var first = true
      var t = j
      while (t < j + k) {
        if (!arr.isNullAt(t)) {
          if (!first) sb.append(' ')
          sb.append(arr.getUTF8String(t).toString)
          first = false
        }
        t += 1
      }
      out(j) = XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString), Seed)
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
