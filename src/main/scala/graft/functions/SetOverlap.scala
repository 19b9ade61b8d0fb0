package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Native codegen'd overlap of two shingle-hash SETS — the per-pair
  * verification of [[graft.ops.Dedup.verifiedJaccardOnSets]]. With
  * `jaccard = false` it is the intersection size, `n_common`; with
  * `jaccard = true` it is the exact Jaccard
  * `n_common / (size(a) + size(b) - n_common)`.
  *
  * Why an Expression: `size(array_intersect(a, b))` builds a hash set
  * per pair, although [[SortedDistinct]] sets are strictly ascending.
  * Two such sets intersect by one linear merge with no allocation (the
  * verification step of "Highly Efficient String Similarity Search and
  * Join over Compressed Indexes", ICDE 2022, which merges sorted token
  * lists). Any other input — unsorted, with duplicates or with null
  * elements — takes a sort-and-merge over copies and counts what
  * `size(array_intersect(a, b))` counts: the distinct values both hold,
  * plus one when both hold a null.
  *
  * Jaccard is BIT-IDENTICAL to `n_common.cast(double) / (size(a) +
  * size(b) - n_common)` over the raw array sizes (ScalaCheck property in
  * ShingleSetKernelSpec), including its zero divisor, two empty arrays:
  * under ANSI mode (`failOnError`, the session's mode when the
  * expression is built, as for Spark's own division) that is the
  * DIVIDE_BY_ZERO error, else null. A null set yields null. Both sides
  * must be `array<bigint>`. */
case class SetOverlap(left: Expression, right: Expression, jaccard: Boolean,
                      failOnError: Boolean = SQLConf.get.ansiEnabled)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<bigint> shingle-hash sets, got " +
        s"${l.simpleString} and ${r.simpleString}")
  }
  override def dataType: DataType = if (jaccard) DoubleType else LongType
  override def nullable: Boolean = jaccard || super.nullable
  override def prettyName: String = if (jaccard) "set_jaccard" else "set_overlap"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val common = SetOverlap.intersectionSize(x, y)
    if (!jaccard) return common
    val denom = (x.numElements() + y.numElements()).toLong - common
    if (denom != 0L) common.toDouble / denom
    else if (failOnError) throw GraftColumnBridge.divideByZeroError()
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val common = s"graft.functions.SetOverlap.intersectionSize($a, $b)"
      if (!jaccard) s"${ev.value} = $common;"
      else {
        val c = ctx.freshName("common")
        val d = ctx.freshName("denom")
        val zero =
          if (failOnError)
            "throw org.apache.spark.sql.GraftColumnBridge.divideByZeroError();"
          else s"${ev.isNull} = true;"
        s"""
           |long $c = $common;
           |long $d = (long) ($a.numElements() + $b.numElements()) - $c;
           |if ($d != 0L) {
           |  ${ev.value} = (double) $c / (double) $d;
           |} else {
           |  $zero
           |}
         """.stripMargin
      }
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SetOverlap {

  /** `size(array_intersect(a, b))`: one merge when both arrays are
    * strictly ascending with no null, else one merge over their
    * [[SortedDistinct]] sets. */
  def intersectionSize(a: ArrayData, b: ArrayData): Long =
    if (strictlyAscending(a) && strictlyAscending(b)) mergeCount(a, b)
    else mergeCount(SortedDistinct.compute(a), SortedDistinct.compute(b))

  private def strictlyAscending(arr: ArrayData): Boolean = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i) || (i > 0 && arr.getLong(i) <= arr.getLong(i - 1))) return false
      i += 1
    }
    true
  }

  /** Values both sets hold, counting a null (first in a set) as one. */
  private def mergeCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = if (na > 0 && a.isNullAt(0)) 1 else 0
    var j = if (nb > 0 && b.isNullAt(0)) 1 else 0
    var c = if (i == 1 && j == 1) 1L else 0L
    while (i < na && j < nb) {
      val u = a.getLong(i)
      val v = b.getLong(j)
      if (u < v) i += 1
      else if (u > v) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }
}
