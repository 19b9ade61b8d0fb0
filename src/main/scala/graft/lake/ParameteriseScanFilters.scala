package graft.lake

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DoubleType, FloatType, IntegerType, ShortType}

import graft.functions.{ParamInSet, ParamLiteral}

/** Physical rule: the row filter right above a file scan generates code
  * that does not depend on its literal values, so each filter SHAPE
  * compiles once per JVM.
  *
  * A point lookup (`Lakeshack.query`, `readPruned`, SQL over a snapshot
  * table) is a `FilterExec` over a `FileSourceScanExec` whose condition
  * carries the query's keys and clause bounds as literals. Spark writes
  * primitive literals into the generated Java source, so every new key
  * set or date floor compiles a new whole-stage class, and that class
  * runs interpreted: it never runs long enough to be JIT-compiled. This
  * rule replaces each non-null primitive `Literal` that is a direct
  * operand of `=`, `<=>`, `<`, `<=`, `>`, `>=` or an `IN` list with a
  * [[ParamLiteral]], and each non-empty `InSet` over byte, short, int or
  * date with a [[ParamInSet]]; the lookup workload's 8 query shapes then
  * compile 8 classes, once.
  *
  * The scan's `dataFilters` and pushed filters keep the real literals,
  * so Parquet row-group and dictionary pushdown and the file indexes'
  * pruning see the values as before — except [[signedZeroEquality]]
  * conjuncts, which the rule drops from the scan's data filters and
  * leaves to the `FilterExec`.
  * Registered by `graft.GraftExtensions` as a columnar rule's
  * `preColumnarTransitions`: that runs on every physical plan, AQE or
  * not, before a `ColumnarToRowExec` separates the filter from the scan
  * (a lookup plan has no exchange, so an AQE-only hook never sees it). */
object ParameteriseScanFilters extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case FilterExec(condition, scan: FileSourceScanExec) =>
      val pushable = scan.dataFilters.filterNot(signedZeroEquality)
      FilterExec(parameterise(condition),
        if (pushable.size == scan.dataFilters.size) scan else scan.copy(dataFilters = pushable))
  }

  /** True when `e` holds a float or double `=`, `<=>` or `IN` with a
    * ±0.0 operand: a filter Parquet must not evaluate. Its dictionary
    * filter compares by bits, so a pushed `d = -0.0` skips a row group
    * of `0.0`s that Spark's `=` matches. */
  private[lake] def signedZeroEquality(e: Expression): Boolean = e.exists {
    case c @ (_: EqualTo | _: EqualNullSafe) => c.children.exists(zero)
    case In(_, list) => list.exists(zero)
    case InSet(child, hset) => hset.exists(v => zero(Literal(v, child.dataType)))
    case _ => false
  }

  private def zero(e: Expression): Boolean = PartialFunction.cond(e) {
    case Literal(v: Double, DoubleType) => v == 0.0
    case Literal(v: Float, FloatType) => v == 0.0f
  }

  private def parameterise(condition: Expression): Expression = condition.transformUp {
    case c @ (_: EqualTo | _: EqualNullSafe | _: LessThan | _: LessThanOrEqual |
              _: GreaterThan | _: GreaterThanOrEqual) =>
      c.withNewChildren(c.children.map(param))
    case in: In => in.copy(list = in.list.map(param))
    case InSet(child, hset) if hset.nonEmpty && switchType(child.dataType) =>
      ParamInSet(child, hset)
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, dt) if v != null && CodeGenerator.isPrimitiveType(dt) => ParamLiteral(v, dt)
    case other => other
  }

  /** The child types for which `InSet` generates a `switch`. */
  private def switchType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | DateType => true
    case _ => false
  }
}
