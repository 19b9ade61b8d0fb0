package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, InSet, LeafExpression, Literal, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.DataType

/** A non-null literal of a primitive Java type (boolean, byte, short,
  * int, long, float, double, date, timestamp, …) whose generated code
  * does not contain its value.
  *
  * `Literal.doGenCode` writes every primitive value into the Java
  * source, so two filters that differ only in a key or a date floor
  * generate two classes: each pays a Janino compile, and each new class
  * runs interpreted until it has run often enough to be JIT-compiled.
  * This expression instead hands its boxed value to the generated
  * class through `ctx.addReferenceObj` and unboxes it once, when the
  * class is initialised, into a primitive field that the row code
  * reads: the source text depends on the expression's shape only, and
  * the codegen cache serves every later value.
  *
  * `eval` returns the value; `toString` and `sql` render the wrapped
  * `Literal`'s text, so plan strings read as they would with the
  * literal inlined. Placed by `graft.lake.ParameteriseScanFilters`. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {

  require(value != null && CodeGenerator.isPrimitiveType(dataType),
    s"ParamLiteral holds a non-null primitive value, got $value: ${dataType.simpleString}")

  @transient private lazy val literal = Literal(value, dataType)

  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", f => s"$f = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** `InSet` whose generated code always probes the set through
  * `ctx.addReferenceObj`. For byte, short, int and date children
  * `InSet.doGenCode` otherwise writes every value of the set into the
  * source as a `case` label (up to `spark.sql.optimizer.inSetSwitchThreshold`),
  * so an `isin` of more than `spark.sql.optimizer.inSetConversionThreshold`
  * keys would compile a new class per key set. Evaluation, nullability
  * and plan text are `InSet`'s; the generated code is `InSet`'s set path
  * for these types, which carry no NaN. The set must not be empty:
  * `null IN ()` is false, which the null-safe code below does not say. */
case class ParamInSet(child: Expression, hset: Set[Any]) extends UnaryExpression with Predicate {

  require(hset.nonEmpty, "ParamInSet needs a non-empty set")

  @transient private lazy val inSet = InSet(child, hset)

  override def nullable: Boolean = inSet.nullable
  override def eval(input: InternalRow): Any = inSet.eval(input)
  override def toString: String = inSet.toString
  override def sql: String = inSet.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val set = ctx.addReferenceObj("set", inSet.set)
      // a miss against a set holding null is null, as in InSet.eval
      val missIsNull = if (hset.contains(null)) s"${ev.isNull} = !${ev.value};" else ""
      s"""
         |${ev.value} = $set.contains($c);
         |$missIsNull
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ParamInSet =
    copy(child = newChild)
}
