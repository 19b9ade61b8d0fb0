package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd MinHash banded-LSH bucket keys for one document:
  * given its shingle array, returns the `bands` band-bucket hashes of
  * the `numHashes`-slot MinHash signature in ONE fused pass.
  *
  * Why an Expression (SURVEY.md §7.3): the aggregate formulation —
  * explode shingles to rows, 64 min-aggregates per doc, 16 band-hash
  * columns — was itself the measured winner over two rejected shapes
  * (Dedup.scala:minhashCandidates' scaladoc), but it still shuffles a
  * 64-long signature row per document and runs every shingle through
  * hash-aggregate buffers. The signature is a pure per-document
  * function of its shingle set, so this expression folds hash →
  * slot-mins → band-hashes into a fused primitive loop and the
  * candidate generator's signature stage becomes a NARROW map; the
  * only remaining exchange in minhashCandidates is the (band, bucket)
  * groupBy that IS the LSH blocking step.
  *
  * Arithmetic is bit-identical to the aggregate form it replaces, slot
  * by slot:
  *  - base hash  h = XXH64(shingle UTF8 bytes, 42)     (= `xxhash64(sh)`)
  *  - slot i     v_i = hashLong(h, hashInt(i, 42))     (= `xxhash64(lit(i), h)` —
  *    the seed-chaining `xxhash64` applies across its arguments; the
  *    int-hash of the slot index is precomputed per expression)
  *  - band b     fold hashLong over its r slot-mins starting from
  *    hashInt(b, 42)                                   (= `xxhash64(lit(b), mh…)`)
  * Duplicate shingles are min-absorbed exactly as the aggregate was.
  * Pinned against a DataFrame recomputation in FusedFingerprintSpec;
  * `dedup_minhash`'s oracle hash is unchanged.
  */
case class MinHashBandBuckets(child: Expression, numHashes: Int, bands: Int)
  extends UnaryExpression {

  require(numHashes > 0 && bands > 0 && numHashes % bands == 0,
    s"numHashes=$numHashes must be a positive multiple of bands=$bands")
  private val r = numHashes / bands

  /** hashInt(i, 42) — the constant prefix of slot i's re-hash. */
  private lazy val slotSeeds: Array[Long] =
    Array.tabulate(numHashes)(i => XXH64.hashInt(i, 42L))
  private lazy val bandSeeds: Array[Long] =
    Array.tabulate(bands)(b => XXH64.hashInt(b, 42L))

  /** True when the child carries PRE-HASHED shingles (array<long> — the
    * [[ShingleHashes]] output): the base-hash step is skipped, every
    * downstream slot/band step is identical. */
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
  override def prettyName: String = "minhash_band_buckets"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val hashed = preHashed
    // empty in → empty out: a doc with no shingles has no signature, and
    // the empty array lets the downstream posexplode DROP the doc with
    // no separate size() filter — a filter would be the second reference
    // to the (expensive) shingle alias, and CollapseProject inlines a
    // multiply-referenced alias once PER REFERENCE (the measured 3×
    // regression of the first fused form)
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
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = bandSeeds(b)
      var j = 0
      while (j < r) { acc = XXH64.hashLong(mins(b * r + j), acc); j += 1 }
      out(b) = acc
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val xxh = classOf[XXH64].getName
      val slotRef = ctx.addReferenceObj("slotSeeds", slotSeeds, "long[]")
      val bandRef = ctx.addReferenceObj("bandSeeds", bandSeeds, "long[]")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val b = ctx.freshName("b")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val acc = ctx.freshName("acc")
      val mins = ctx.freshName("mins")
      val out = ctx.freshName("out")
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
         |long[] $out = new long[$bands];
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $acc = $bandRef[$b];
         |  for (int $j = 0; $j < $r; $j++) { $acc = $xxh.hashLong($mins[$b * $r + $j], $acc); }
         |  $out[$b] = $acc;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
