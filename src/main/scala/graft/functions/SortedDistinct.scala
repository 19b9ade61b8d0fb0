package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Native codegen'd SET of a shingle-hash array: its distinct values in
  * ascending order — the `sh_set` column every exact-Jaccard stage of
  * [[graft.ops.Dedup]] reads, and the order [[SetOverlap]] merges on.
  *
  * Why an Expression: `sort_array(array_distinct(x))` builds a hash set
  * per row, then sorts through boxed `TimSort` over a
  * `GenericArrayData`. This copies the values into one primitive
  * `long[]`, sorts it in place, drops adjacent duplicates and makes one
  * `UnsafeArrayData` of the survivors.
  *
  * EQUAL to `sort_array(array_distinct(x))` (ScalaCheck property in
  * ShingleSetKernelSpec): the signed long order, one copy of each value,
  * and for an array with null elements one null first, as ascending
  * `sort_array` places it. A null array yields null. The output type is
  * the input's, as for `sort_array(array_distinct(x))`, so sets read and
  * written before this kernel keep their schema. */
case class SortedDistinct(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint> shingle hashes, got ${dt.simpleString}")
  }
  override def dataType: DataType = child.dataType
  override def prettyName: String = "sorted_distinct"

  override protected def nullSafeEval(input: Any): Any =
    SortedDistinct.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.SortedDistinct.compute($arr);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SortedDistinct {

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    var nulls = 0
    var i = 0
    while (i < n) { if (arr.isNullAt(i)) nulls += 1; i += 1 }
    val values =
      if (nulls == 0) arr.toLongArray()
      else {
        val vs = new Array[Long](n - nulls)
        var k = 0
        i = 0
        while (i < n) { if (!arr.isNullAt(i)) { vs(k) = arr.getLong(i); k += 1 }; i += 1 }
        vs
      }
    val k = sortUnique(values)
    if (nulls == 0)
      UnsafeArrayData.fromPrimitiveArray(values, Platform.LONG_ARRAY_OFFSET, k, 8)
    else {
      // rare: only a hand-built array<bigint> can hold nulls
      val out = new Array[Any](k + 1)
      i = 0
      while (i < k) { out(i + 1) = values(i); i += 1 }
      new GenericArrayData(out)
    }
  }

  /** Sorts `values` in place and moves its distinct values to the front,
    * ascending; returns how many there are. */
  private def sortUnique(values: Array[Long]): Int = {
    java.util.Arrays.sort(values)
    if (values.isEmpty) return 0
    var k = 1
    var i = 1
    while (i < values.length) {
      if (values(i) != values(k - 1)) { values(k) = values(i); k += 1 }
      i += 1
    }
    k
  }
}
