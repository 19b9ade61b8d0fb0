package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd 64-bit SimHash fingerprint of a token array: bit b
  * of the result is set iff more token hashes have bit b set than
  * clear (majority vote of ±1 contributions; ties — including zero
  * tokens — leave the bit clear, matching `2·c_b > n`).
  *
  * Why an Expression (SURVEY.md §7.3): the aggregate formulation —
  * explode tokens to rows, groupBy doc with 65 sum/count aggregates —
  * is CORRECT and its exchange is small (partial aggregation collapses
  * to one 65-column row per doc map-side), but it still routes every
  * token through the hash-aggregate machinery and forces a SHUFFLE of
  * the fingerprint stage. The fingerprint is a pure per-document
  * function, so this expression computes it in one fused pass over the
  * array: `simhash` becomes a NARROW map — zero exchanges at any
  * corpus size — and per-token work drops from 64 aggregate-buffer
  * updates to 64 shift-mask-adds in a primitive loop.
  *
  * Arithmetic is bit-identical to the aggregate form it replaces:
  * token hash = XXH64(UTF8 bytes, seed 42) — the same
  * `XXH64.hashUTF8String` the `xxhash64()` function dispatches to —
  * and a null token contributes the seed itself, exactly like
  * `xxhash64(null)`. Pinned against a DataFrame recomputation in
  * FusedFingerprintSpec; `dedup_simhash`'s oracle hash is unchanged.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${dt.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Long](64)
    var i = 0
    while (i < n) {
      val h = if (arr.isNullAt(i)) 42L else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      var b = 0
      while (b < 64) { counts(b) += (h >>> b) & 1L; b += 1 }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (counts(b) * 2 > n) fp |= 1L << b; b += 1 }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val xxh = classOf[XXH64].getName
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val counts = ctx.freshName("counts")
      val fp = ctx.freshName("fp")
      s"""
         |int $n = $arr.numElements();
         |long[] $counts = new long[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $arr.isNullAt($i) ? 42L
         |    : $xxh.hashUTF8String($arr.getUTF8String($i), 42L);
         |  for (int $b = 0; $b < 64; $b++) { $counts[$b] += ($h >>> $b) & 1L; }
         |}
         |long $fp = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($counts[$b] * 2 > $n) $fp |= 1L << $b;
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
