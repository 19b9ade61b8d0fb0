package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd MinHash SIGNATURE of a shingle array: the
  * `numHashes` slot minima, without the band fold — the raw material
  * for signature-agreement Jaccard ESTIMATION (matching-slot fraction
  * is the standard unbiased estimator of J).
  *
  * Exists for the STREAMING near-dup path (`Dedup.nearDupStream`),
  * where exact verification against full shingle sets would mean
  * unbounded per-bucket state: a fixed 64-slot signature per document
  * (512 bytes) makes the state budget a constant, and slot agreement
  * gives a J estimate with stderr ≈ √(J(1−J)/k) ≈ 0.06 at k=64.
  *
  * Slot arithmetic is IDENTICAL to [[MinHashBandBuckets]] slot by slot
  * (same XXH64 seed chaining as the batch pipeline): base hash
  * h = XXH64(shingle, 42); slot i = hashLong(h, hashInt(i, 42)); min
  * over shingles. Empty in → empty out, same contract.
  *
  * LONG-INPUT MODE (round-19, the [[MinHashBandBuckets]] twin): an
  * `array<long>` child carries PRE-HASHED shingles ([[ShingleHashes]]
  * output — the same XXH64(shingle, 42) base values the string path
  * computes), so the base-hash step is skipped and no shingle string
  * is ever materialized on the streaming path; every downstream slot
  * step is identical, signatures bit-for-bit (spec-pinned in
  * FusedFingerprintSpec). */
case class MinHashSignature(child: Expression, numHashes: Int)
  extends UnaryExpression {

  require(numHashes > 0, s"numHashes=$numHashes must be positive")

  private lazy val slotSeeds: Array[Long] =
    Array.tabulate(numHashes)(i => XXH64.hashInt(i, 42L))

  /** True when the child carries pre-hashed shingles (array<long>). */
  private def preHashed: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string> shingles or array<long> shingle " +
        s"hashes, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val hashed = preHashed
    if (n == 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h =
        if (arr.isNullAt(i)) 42L
        else if (hashed) arr.getLong(i)
        else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      var s = 0
      while (s < numHashes) {
        val v = XXH64.hashLong(h, slotSeeds(s))
        if (v < mins(s)) mins(s) = v
        s += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val xxh = classOf[XXH64].getName
      val slotRef = ctx.addReferenceObj("slotSeeds", slotSeeds, "long[]")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val mins = ctx.freshName("mins")
      val baseHash =
        if (preHashed) s"$arr.getLong($i)"
        else s"$xxh.hashUTF8String($arr.getUTF8String($i), 42L)"
      s"""
         |int $n = $arr.numElements();
         |if ($n == 0) {
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(new long[0]);
         |} else {
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $arr.isNullAt($i) ? 42L
         |    : $baseHash;
         |  for (int $s = 0; $s < $numHashes; $s++) {
         |    long $v = $xxh.hashLong($h, $slotRef[$s]);
         |    if ($v < $mins[$s]) $mins[$s] = $v;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($mins);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
