package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd PQ asymmetric distance (ADC): ‖prepared −
  * reconstruct(code)‖² summed left-to-right over subspaces, `prepared`
  * the normalized (or residual) double-array query and `code` the
  * corpus row's `array<int>` PQ code.
  *
  * Why an Expression (SURVEY.md §7.3): the HOF formulation it replaces
  * (`KernelReference.adcDistColHof` in the specs) is the PER-PAIR
  * scoring loop of every ADC shortlist — |queries| · |probed codes|
  * evaluations — and array HOFs are CodegenFallback, so each
  * evaluation paid m · dsub
  * interpreted lambda steps with boxing. This is the fused primitive
  * loop, on the hot path of `pqTopKWith` and the IVFADC probe.
  *
  * Arithmetic is BIT-IDENTICAL to the HOF form (spec-pinned in
  * PqFusedSpec): codebook floats enter as exact doubles, accumulation
  * is left-to-right double adds over (subspace, element), a null code
  * or vector ELEMENT nulls the whole distance (the HOF's null
  * propagation through `+`), and a NEGATIVE code value below −1
  * indexes from the END of the entry list (element_at's negative-index
  * rule — unreachable from pq_encode output, replicated for fidelity).
  * Deliberate divergences, fail-loud on malformed input only: a code
  * longer than m, a code value of −1 (element_at index 0), an
  * out-of-range index, or a vector shorter than the indexed slice all
  * throw IllegalArgumentException where the HOF's behavior depended on
  * the session eval mode (ANSI error / legacy null).
  */
case class AdcDistance(left: Expression, right: Expression,
                       cb: Array[Array[Array[Float]]])
  extends BinaryExpression {

  private val m = cb.length
  private val ks = cb(0).length
  private val dsub = cb(0)(0).length
  require(m >= 1 && ks >= 1 && dsub >= 1, "empty PQ codebook")
  require(cb.forall(_.length == ks) && cb.forall(_.forall(_.length == dsub)),
    "ragged PQ codebook")

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

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(IntegerType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double>, array<int>), got " +
        s"(${l.simpleString}, ${r.simpleString})")
  }
  override def dataType: DataType = DoubleType
  // null code/vector ELEMENTS null the result even when both arrays
  // are themselves non-null
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_distance"

  /** Entry index for code value `ci` under element_at(entries, ci+1)
    * semantics; throws on 0 / out-of-range. */
  private def entryIdx(ci: Int): Int = {
    val k = ci + 1
    if (k > 0) {
      if (k > ks) throw new IllegalArgumentException(
        s"pq_adc_distance: code value $ci out of range for $ks codebook entries")
      k - 1
    } else if (k == 0) {
      throw new IllegalArgumentException(
        "pq_adc_distance: code value -1 (SQL array index 0) is invalid")
    } else {
      if (-k > ks) throw new IllegalArgumentException(
        s"pq_adc_distance: code value $ci out of range for $ks codebook entries")
      ks + k
    }
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val r = right.eval(input)
    if (r == null) return null
    val qn = l.asInstanceOf[ArrayData]
    val code = r.asInstanceOf[ArrayData]
    val n = code.numElements()
    if (n > m) throw new IllegalArgumentException(
      s"pq_adc_distance: code has $n entries, codebook has $m subspaces")
    if (qn.numElements() < n.toLong * dsub) throw new IllegalArgumentException(
      s"pq_adc_distance: vector has ${qn.numElements()} elements, code needs ${n * dsub}")
    var acc = 0.0
    var j = 0
    while (j < n) {
      if (code.isNullAt(j)) return null
      val e = entryIdx(code.getInt(j))
      val base = j * dsub
      val cbBase = ((j * ks) + e) * dsub
      // per-SUBSPACE partial, then one add to the outer accumulator —
      // the HOF's exact grouping (`acc + sqDistSlice(...)`); a flat
      // element-wise accumulation differs in ulps (fp adds don't
      // associate) and would move oracle hashes
      var d = 0.0
      var t = 0
      while (t < dsub) {
        if (qn.isNullAt(base + t)) return null
        val x = qn.getDouble(base + t) - flat(cbBase + t)
        d += x * x
        t += 1
      }
      acc += d
      j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (qn, code) => {
      val flatRef = ctx.addReferenceObj("adcFlat", flat, "double[]")
      val self = ctx.addReferenceObj("adcExpr", this, classOf[AdcDistance].getName)
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val e = ctx.freshName("e")
      val base = ctx.freshName("base")
      val cbBase = ctx.freshName("cbBase")
      val t = ctx.freshName("t")
      val x = ctx.freshName("x")
      val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      val done = ctx.freshName("done")
      s"""
         |int $n = $code.numElements();
         |if ($n > $m) {
         |  throw new IllegalArgumentException("pq_adc_distance: code has " + $n +
         |    " entries, codebook has $m subspaces");
         |}
         |if ($qn.numElements() < (long) $n * $dsub) {
         |  throw new IllegalArgumentException("pq_adc_distance: vector has " +
         |    $qn.numElements() + " elements, code needs " + ($n * $dsub));
         |}
         |double $acc = 0.0;
         |boolean $done = false;
         |for (int $j = 0; $j < $n && !$done; $j++) {
         |  if ($code.isNullAt($j)) { ${ev.isNull} = true; $done = true; }
         |  else {
         |    int $e = $self.entryIdxJava($code.getInt($j));
         |    int $base = $j * $dsub;
         |    int $cbBase = (($j * $ks) + $e) * $dsub;
         |    // per-subspace partial then one outer add — the HOF's exact
         |    // fp grouping (see eval)
         |    double $x = 0.0;
         |    double $d = 0.0;
         |    for (int $t = 0; $t < $dsub && !$done; $t++) {
         |      if ($qn.isNullAt($base + $t)) { ${ev.isNull} = true; $done = true; }
         |      else {
         |        $x = $qn.getDouble($base + $t) - $flatRef[$cbBase + $t];
         |        $d += $x * $x;
         |      }
         |    }
         |    $acc += $d;
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  /** Java-callable twin of [[entryIdx]] for the generated code. */
  def entryIdxJava(ci: Int): Int = entryIdx(ci)

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
