package graft.lake

import java.time.{Instant, LocalDate, LocalDateTime}

import graft.SparkSpec
import graft.functions.{ParamInSet, ParamLiteral}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import scala.jdk.CollectionConverters._

/** `ParameteriseScanFilters`: a filter over a file scan generates code
  * that does not depend on its literal values. Pinned here: the same
  * rows as the unparameterised filter over a local relation, for every
  * primitive literal type and its edge values, and no new compile for
  * a second `isin` of more than ten int keys (the `InSet` switch form). */
class ParameteriseScanFiltersSpec extends SparkSpec {
  import ParameteriseScanFiltersSpec._

  test("a second 20-key lookup on an int column compiles nothing") {
    val dir = tmpDir("param_inset")
    spark.range(0, 4000).selectExpr("cast(id as int) as k", "id * 3 as v")
      .repartition(2).write.mode("overwrite").parquet(dir)
    def lookup(keys: Seq[Int]): DataFrame = spark.read.parquet(dir).where(col("k").isin(keys: _*))
    val first = (100 until 3000 by 137).take(20)
    val second = (7 until 4000 by 191).take(20)
    assert(lookup(first).collect().map(_.getInt(0)).toSet === first.toSet)
    val df = lookup(second)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val got = df.collect().map(_.getInt(0)).toSet
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before === 0,
      "a new key set of the same shape must reuse the compiled filter")
    assert(got === second.toSet)
    assert(params(df.queryExecution.executedPlan).exists(_.isInstanceOf[ParamInSet]),
      "the 20-key isin is an InSet over int: the filter must hold a ParamInSet")
  }

  test("float and double equality at ±0.0 keeps its rows through Lakeshack.query, readPruned and SQL") {
    import spark.implicits._
    // one file holds 0.0 twice (ids 1, 2), the other only -0.0 (id 3):
    // Parquet's dictionary filter compares doubles by their bits, so a
    // pushed `= -0.0` drops the first file and a pushed `= 0.0` the second
    val root = tmpDir("signed_zero")
    val (plain, snap) = (s"$root/plain", s"$root/snap/t")
    val fileA = Seq((1, 0.0, 0.0f), (2, 0.0, 0.0f)).toDF("id", "d", "f")
    val fileB = Seq((3, -0.0, -0.0f)).toDF("id", "d", "f")
    fileA.coalesce(1).write.parquet(plain)
    fileB.coalesce(1).write.mode("append").parquet(plain)
    SnapshotLog.write(fileA, snap, "overwrite", nFiles = 1)
    SnapshotLog.write(fileB, snap, "append", nFiles = 1)
    spark.conf.set("spark.sql.catalog.signedzero", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.signedzero.root", s"$root/snap")
    val shack = Lakeshack(spark, plain, "d", Seq("f"))
    def idsOf(df: DataFrame): Set[Int] = df.select("id").collect().map(_.getInt(0)).toSet
    val everyRow = Set(1, 2, 3)
    // SQL folds the literal -0.0 to 0.0: the casts of a string keep the sign
    for ((sql, c, keys) <- Seq(
        ("d = CAST('-0.0' AS DOUBLE)", col("d") === -0.0, Seq(-0.0)),
        ("d IN (CAST('-0.0' AS DOUBLE), 2.5)", col("d").isin(-0.0, 2.5), Seq(-0.0, 2.5)),
        ("d = 0.0", col("d") === 0.0, Seq(0.0)),
        ("f = CAST('-0.0' AS FLOAT)", col("f") === lit(-0.0f), Nil),
        ("f IN (CAST('-0.0' AS FLOAT), CAST(2.5 AS FLOAT))", col("f").isin(-0.0f, 2.5f), Nil),
        ("f = CAST(0.0 AS FLOAT)", col("f") === lit(0.0f), Nil))) {
      val viaQuery =
        if (keys.nonEmpty) shack.query(keys)
        else shack.query(Seq(0.0), Seq(Clause("f", "=", if (sql.contains("-0.0")) -0.0f else 0.0f)))
      if (!sql.startsWith("f IN")) assert(idsOf(viaQuery) === everyRow, s"Lakeshack.query: $sql")
      assert(idsOf(SnapshotLog.readPruned(spark, snap, "d", Seq("f")).where(c)) === everyRow,
        s"readPruned: $sql")
      assert(idsOf(spark.sql(s"SELECT id FROM signedzero.t WHERE $sql")) === everyRow, s"SQL: $sql")
      assert(idsOf(spark.read.parquet(plain).where(c)) === everyRow, s"parquet: $sql")
    }
  }

  test("differential: parameterised Parquet filter == local-relation filter, every primitive type") {
    val seen = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val prop = Prop.forAllNoShrink(tableGen, Gen.listOfN(Columns.size,
      Gen.frequency(3 -> Gen.const(Ops.indexOf("in")), 9 -> Gen.choose(0, Ops.size - 1))),
      Gen.listOfN(Columns.size, Gen.listOfN(24, Gen.choose(0, 1000)))) { (rows, ops, seeds) =>
      val dir = tmpDir("param_diff")
      val local = spark.createDataFrame(rows.asJava, Schema)
      local.repartition(2).write.mode("overwrite").parquet(dir)
      val parquet = spark.read.parquet(dir)
      val failures = Columns.indices.flatMap { c =>
        val (name, gen) = Columns(c)
        val op = Ops(ops(c))
        // 24 literals from the column's generator: its few edge values
        // repeat, so `In` lists carry duplicates
        val pool = seeds(c).map(s => gen.pureApply(Gen.Parameters.default, Seed(s.toLong)))
        val pred = predicate(op, col(name), pool)
        val want = ids(local.where(pred))
        val df = parquet.where(pred)
        val got = ids(df)
        val plan = df.queryExecution.executedPlan
        val found = params(plan)
        // the rule fired, and left no literal behind; a filter without a
        // literal (`bo = false` plans as `NOT bo`) has nothing to replace
        val inlined = filters(plan).flatMap(_.collect { case l: Literal => l })
        seen(op) += 1
        if (found.nonEmpty) seen("fired") += 1
        if (found.exists(_.isInstanceOf[ParamInSet])) seen("ParamInSet") += 1
        if (got == want && inlined.isEmpty) None
        else Some(s"$name $op ${pool.take(if (op == "in") pool.size else 1)}: " +
          s"got $got want $want inlined=$inlined")
      }
      Prop(failures.isEmpty) :| failures.mkString("; ")
    }
    // Parquet filter pushdown stays on (the session default): the pushed
    // filters and the parameterised filter above them must agree
    val result = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(20).withInitialSeed(Seed(20261019L)).withWorkers(1), prop)
    assert(result.passed, Pretty.pretty(result))
    info(s"predicates by operator: $seen")
    for (op <- Ops) assert(seen(op) > 5, s"too few $op predicates: $seen")
    assert(seen("ParamInSet") > 2, s"too few InSets over a switch type: $seen")
    assert(seen("fired") >= 0.8 * Ops.map(seen).sum, s"the rule fired too rarely: $seen")
  }
}

object ParameteriseScanFiltersSpec extends AdaptiveSparkPlanHelper {

  def filters(plan: SparkPlan): Seq[Expression] = collect(plan) { case f: FilterExec => f.condition }

  /** The parameterised literals in the filters of an executed plan. */
  def params(plan: SparkPlan): Seq[Expression] =
    filters(plan).flatMap(_.collect {
      case p: ParamLiteral => p
      case p: ParamInSet => p
    })

  /** The filters' literals must keep every edge a primitive type has:
    * NaN, ±0.0, ±Inf, the extreme longs, and days and instants on both
    * sides of the epoch. */
  private def edges[T](xs: T*)(other: Gen[T]): Gen[Any] =
    Gen.frequency(3 -> Gen.oneOf(xs), 2 -> other).map(_.asInstanceOf[Any])

  val Columns: Seq[(String, Gen[Any])] = Seq(
    "l" -> edges(Long.MinValue, Long.MaxValue, 0L, -1L, 1L)(Gen.choose(-3L, 3L)),
    // integer and date values spread wider: an `In` list needs more than
    // ten distinct values to plan as `InSet`, whose switch form these
    // four types take
    "i" -> edges(Int.MinValue, Int.MaxValue, 0, -1)(Gen.choose(-12, 12)),
    "s" -> edges(Short.MinValue, Short.MaxValue, 0.toShort)(Gen.choose(-12, 12).map(_.toShort)),
    "b" -> edges(Byte.MinValue, Byte.MaxValue, 0.toByte)(Gen.choose(-12, 12).map(_.toByte)),
    "d" -> edges(Double.NaN, 0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue)(Gen.choose(-3, 3).map(_ * 0.5)),
    "f" -> edges(Float.NaN, 0.0f, -0.0f, Float.PositiveInfinity, Float.NegativeInfinity,
      Float.MinPositiveValue)(Gen.choose(-3, 3).map(_ * 0.5f)),
    "dt" -> edges(LocalDate.of(1969, 12, 31), LocalDate.of(1970, 1, 1), LocalDate.of(2038, 1, 19))(
      Gen.choose(-12L, 12L).map(LocalDate.ofEpochDay)),
    "ts" -> edges(Instant.EPOCH, Instant.ofEpochSecond(-1, 999999000), Instant.parse("2038-01-19T03:14:08Z"))(
      Gen.choose(-3L, 3L).map(Instant.ofEpochSecond)),
    "ntz" -> edges(LocalDateTime.of(1970, 1, 1, 0, 0), LocalDateTime.of(1969, 12, 31, 23, 59, 59, 999999000))(
      Gen.choose(-3L, 3L).map(s => LocalDateTime.of(1970, 1, 1, 0, 0).plusSeconds(s))),
    "bo" -> Gen.oneOf(true, false).map(_.asInstanceOf[Any]))

  val Schema: StructType = StructType(StructField("id", IntegerType, nullable = false) +:
    Columns.map(_._1).zip(Seq(LongType, IntegerType, ShortType, ByteType, DoubleType, FloatType,
      DateType, TimestampType, TimestampNTZType, BooleanType)).map { case (n, t) => StructField(n, t) })

  /** 1-40 rows; each value is null with probability 1/6. */
  val tableGen: Gen[Seq[Row]] = Gen.choose(1, 40).flatMap { n =>
    Gen.listOfN(n, Gen.sequence[Seq[Any], Any](Columns.map { case (_, g) =>
      Gen.frequency(1 -> Gen.const(null), 5 -> g)
    })).map(_.zipWithIndex.map { case (vs, id) => Row.fromSeq(id +: vs) })
  }

  val Ops: Seq[String] = Seq("=", "<=>", "<", "<=", ">", ">=", "in", "lit<", "lit>=")

  /** `col op pool.head`; "lit<"/"lit>=" put the literal on the left, and
    * "in" tests membership in the whole pool or a prefix of it (1-24
    * values, duplicates kept: more than ten distinct values plan as
    * `InSet`). */
  def predicate(op: String, c: Column, pool: Seq[Any]): Column = {
    val v = lit(pool.head)
    op match {
      case "=" => c === v
      case "<=>" => c <=> v
      case "<" => c < v
      case "<=" => c <= v
      case ">" => c > v
      case ">=" => c >= v
      case "lit<" => v < c
      case "lit>=" => v >= c
      case "in" =>
        val h = pool.head.hashCode.abs
        c.isin(pool.take(if (h % 3 != 0) pool.size else 1 + h % pool.size): _*)
    }
  }

  def ids(df: DataFrame): Seq[Int] = df.select("id").collect().map(_.getInt(0)).toSeq.sorted
}
