package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd PQ encoding: per subspace, the index of the
  * L2-nearest codebook entry of an already-PREPARED double-array vector
  * (normalized for raw PQ, normalized-minus-centroid for residual
  * IVFADC). Returns `array<int>` of length m.
  *
  * Why an Expression (SURVEY.md §7.3, the [[CosineSimilarity]] /
  * [[MinHashBandBuckets]] rationale): the higher-order-function
  * formulation it replaces (`KernelReference.pqEncodePreparedColHof`
  * in the specs) runs m · ks · 2 interpreted `aggregate` lambdas of
  * dsub steps each per row — ~16k boxed lambda evaluations per vector at the defaults —
  * because array HOFs are CodegenFallback. This is one fused primitive
  * loop.
  *
  * Arithmetic is BIT-IDENTICAL to the HOF form (spec-pinned in
  * PqFusedSpec), corner cases included:
  *  - codebook floats enter the distance as exact doubles (`pqLit`
  *    promoted them the same way);
  *  - per subspace, pass 1 folds `least(acc, dist)` from
  *    Double.MaxValue (a NaN distance never replaces the accumulator),
  *    pass 2 takes the FIRST entry whose recomputed distance equals
  *    that minimum exactly (`===` — NaN never matches, so an all-NaN
  *    subspace yields index −1, exactly the HOF's degenerate output);
  *  - a null vector element makes that entry's distance null → skipped
  *    by both passes, like the HOF's null propagation through `+`.
  * The one deliberate divergence: a vector SHORTER than m·dsub throws
  * IllegalArgumentException here, where the HOF raised the session
  * eval mode's element_at error (ANSI) or silently produced nulls
  * (legacy) — fail-loud on malformed input, matching
  * [[CosineSimilarity]]'s dimension-mismatch contract.
  */
case class PqEncode(child: Expression, cb: Array[Array[Array[Float]]])
  extends UnaryExpression {

  private val m = cb.length
  private val ks = cb(0).length
  private val dsub = cb(0)(0).length
  require(m >= 1 && ks >= 1 && dsub >= 1, "empty PQ codebook")
  require(cb.forall(_.length == ks) && cb.forall(_.forall(_.length == dsub)),
    "ragged PQ codebook")

  /** Codebook flattened to doubles, entry (j, ci) at
    * `((j * ks) + ci) * dsub` — the same float→double promotion
    * `pqLit` applied, so distances match the HOF form bit-for-bit. */
  private lazy val flat: Array[Double] = {
    val out = new Array[Double](m * ks * dsub)
    var j = 0
    while (j < m) {
      var ci = 0
      while (ci < ks) {
        var t = 0
        while (t < dsub) {
          out(((j * ks) + ci) * dsub + t) = cb(j)(ci)(t).toDouble
          t += 1
        }
        ci += 1
      }
      j += 1
    }
    out
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double> (a PREPARED vector), got ${dt.simpleString}")
  }
  // containsNull true to match the HOF form's inferred schema exactly
  // (its elements were nullable-typed though never actually null)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def prettyName: String = "pq_encode"

  override protected def nullSafeEval(input: Any): Any = {
    val vn = input.asInstanceOf[ArrayData]
    if (vn.numElements() < m * dsub)
      throw new IllegalArgumentException(
        s"pq_encode: vector has ${vn.numElements()} elements, codebook needs ${m * dsub}")
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val base = j * dsub
      val cbBase = j * ks * dsub
      // pass 1: least-fold of the ks distances (NaN/null never win)
      var minD = Double.MaxValue
      var ci = 0
      while (ci < ks) {
        var d = 0.0
        var dn = false
        var t = 0
        while (t < dsub && !dn) {
          if (vn.isNullAt(base + t)) dn = true
          else {
            val x = vn.getDouble(base + t) - flat(cbBase + ci * dsub + t)
            d += x * x
          }
          t += 1
        }
        if (!dn && !java.lang.Double.isNaN(d) && d < minD) minD = d
        ci += 1
      }
      // pass 2: FIRST entry matching the minimum exactly
      var idx = 0
      ci = 1
      while (ci <= ks) {
        if (idx == 0) {
          var d = 0.0
          var dn = false
          var t = 0
          while (t < dsub && !dn) {
            if (vn.isNullAt(base + t)) dn = true
            else {
              val x = vn.getDouble(base + t) - flat(cbBase + (ci - 1) * dsub + t)
              d += x * x
            }
            t += 1
          }
          if (!dn && d == minD) idx = ci
        }
        ci += 1
      }
      out(j) = idx - 1
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, vn => {
      val flatRef = ctx.addReferenceObj("pqFlat", flat, "double[]")
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val base = ctx.freshName("base")
      val cbBase = ctx.freshName("cbBase")
      val minD = ctx.freshName("minD")
      val ci = ctx.freshName("ci")
      val d = ctx.freshName("d")
      val dn = ctx.freshName("dn")
      val t = ctx.freshName("t")
      val x = ctx.freshName("x")
      val idx = ctx.freshName("idx")
      s"""
         |if ($vn.numElements() < ${m * dsub}) {
         |  throw new IllegalArgumentException("pq_encode: vector has " +
         |    $vn.numElements() + " elements, codebook needs ${m * dsub}");
         |}
         |int[] $out = new int[$m];
         |for (int $j = 0; $j < $m; $j++) {
         |  int $base = $j * $dsub;
         |  int $cbBase = $j * ${ks * dsub};
         |  double $minD = Double.MAX_VALUE;
         |  for (int $ci = 0; $ci < $ks; $ci++) {
         |    double $d = 0.0; boolean $dn = false;
         |    for (int $t = 0; $t < $dsub && !$dn; $t++) {
         |      if ($vn.isNullAt($base + $t)) { $dn = true; }
         |      else {
         |        double $x = $vn.getDouble($base + $t) - $flatRef[$cbBase + $ci * $dsub + $t];
         |        $d += $x * $x;
         |      }
         |    }
         |    if (!$dn && !Double.isNaN($d) && $d < $minD) $minD = $d;
         |  }
         |  int $idx = 0;
         |  for (int $ci = 1; $ci <= $ks; $ci++) {
         |    if ($idx == 0) {
         |      double $d = 0.0; boolean $dn = false;
         |      for (int $t = 0; $t < $dsub && !$dn; $t++) {
         |        if ($vn.isNullAt($base + $t)) { $dn = true; }
         |        else {
         |          double $x = $vn.getDouble($base + $t) - $flatRef[$cbBase + ($ci - 1) * $dsub + $t];
         |          $d += $x * $x;
         |        }
         |      }
         |      if (!$dn && $d == $minD) $idx = $ci;
         |    }
         |  }
         |  $out[$j] = $idx - 1;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
