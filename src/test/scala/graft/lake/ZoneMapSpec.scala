package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import scala.jdk.CollectionConverters._

/** The driver-side zone-map kernel: duplicate stats rows, float
  * equality, literal typing, and a differential property against the
  * broadcast-join reference form ([[PruneReference]]). */
class ZoneMapSpec extends SparkSpec {

  private def statsDf(dt: DataType, rows: Seq[(String, Any, Any)]): DataFrame = {
    val schema = StructType(Seq(StructField("filepath", StringType),
      StructField("k_min", dt), StructField("k_max", dt)))
    val jrows = new java.util.ArrayList[Row]()
    rows.foreach { case (f, mn, mx) => jrows.add(Row(f, mn, mx)) }
    spark.createDataFrame(jrows, schema)
  }

  test("duplicate stats rows for one file merge into the union interval") {
    // two racing JDBC updates can land two rows for one file; their
    // intervals need not overlap, and each may hold a row of the file
    val s = statsDf(LongType, Seq(
      ("f", 1L, 2L), ("f", 5L, 6L), ("g", 10L, 12L), ("h", 20L, 21L), ("h", null, null)))
    val zm = ZoneMap(s)
    assert(zm.files.size === 3, "one snapshot entry per file")
    // a NULL bound on either row drops the column's entry: h is never pruned
    assert(zm.prune(Seq(99L)) === Seq("h"))
    assert(zm.prune(Seq(1L)).toSet === Set("f", "h"))
    assert(zm.prune(Seq(6L)).toSet === Set("f", "h"), "the second row's interval must keep the file")
    assert(Metastore.prune(spark, s, Seq(6L)).toSet === Set("f", "h"))
    assert(zm.prune(Seq(11L)).toSet === Set("g", "h"))
  }

  private val d = AttributeReference("d", DoubleType)()
  private val fl = AttributeReference("f", FloatType)()

  test("float =/IN prune by interval; NaN literals, max-side tests and NULL bounds keep") {
    val b = Map("d" -> (Literal(1.0), Literal(2.0)), "f" -> (Literal(1.0f), Literal(2.0f)))
    def may(e: Expression) = ZoneMap.mayContain(b, e)
    assert(!may(EqualTo(d, Literal(5.0))) && may(EqualTo(d, Literal(1.5))))
    assert(!may(EqualTo(Literal(5.0), d)))
    assert(!may(EqualTo(fl, Literal(5.0f))) && may(EqualTo(fl, Literal(2.0f))))
    assert(!may(In(d, Seq(Literal(5.0), Literal(7.0)))) && may(In(d, Seq(Literal(5.0), Literal(1.0)))))
    assert(!may(InSet(d, Set[Any](5.0))) && may(InSet(d, Set[Any](5.0, 2.0))))
    // NaN is excluded from footer min/max: a NaN literal keeps the file
    assert(may(EqualTo(d, Literal(Double.NaN))) && may(EqualTo(fl, Literal(Float.NaN))))
    assert(may(In(d, Seq(Literal(5.0), Literal(Double.NaN)))) && may(InSet(d, Set[Any](5.0, Double.NaN))))
    // and a NaN row satisfies every max-side test
    assert(may(GreaterThan(d, Literal(5.0))) && may(GreaterThanOrEqual(d, Literal(5.0))))
    assert(!may(LessThan(d, Literal(1.0))) && may(LessThanOrEqual(d, Literal(1.0))))
    // -0.0 and 0.0 are one value, as in the scan filter
    val zero = Map("d" -> (Literal(0.0), Literal(0.0)))
    val negZero = Map("d" -> (Literal(-0.0), Literal(-0.0)))
    assert(ZoneMap.mayContain(zero, EqualTo(d, Literal(-0.0))))
    assert(ZoneMap.mayContain(negZero, EqualTo(d, Literal(0.0))))
    assert(ZoneMap.mayContain(negZero, InSet(d, Set[Any](0.0))))
    // no bounds (NULL stats): never pruned
    assert(ZoneMap.mayContain(Map.empty, EqualTo(d, Literal(5.0))))
  }

  test("float equality prunes a MetastoreFileIndex scan and keeps the NaN row") {
    import spark.implicits._
    val dir = tmpDir("zm_float") + "/t"
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "score").coalesce(1).write.parquet(dir)
    Seq((3L, 10.0), (4L, Double.NaN)).toDF("id", "score").coalesce(1)
      .write.mode("append").parquet(dir)
    // the scan builder orders NaN above every double: the second file
    // records [10.0, NaN]
    val tbl = MetastoreFileIndex.table(spark, dir, Metastore.build(spark, dir, "id", Seq("score")))
    def filesRead(df: DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
        .map(_.metrics("numFiles").value).sum
    }
    assert(tbl.where(col("score") === 10.0).count() === 1)
    assert(filesRead(tbl.where(col("score") === 10.0)) === 1L)
    assert(filesRead(tbl.where(col("score").isin(1.0, 2.0))) === 1L)
    assert(tbl.where(col("score") === Double.NaN).count() === 1)
    assert(filesRead(tbl.where(col("score") === Double.NaN)) === 2L)
  }

  test("literals are widened losslessly or not compared: never narrowed") {
    val ints = statsDf(IntegerType, Seq(("f", 2, 5)))
    val zm = ZoneMap(ints)
    // the file's min is 2, so k < 2.5 may hold k = 2 — a narrowing to
    // `k < 2` would prune it; the analyzer-coerced join keeps it too
    assert(zm.prune(Seq(3), Seq(Clause("k", "<", 2.5))) === Seq("f"))
    assert(PruneReference.prune(spark, ints, Seq(3), Seq(Clause("k", "<", 2.5))) === Seq("f"))
    assert(zm.prune(Seq(3), Seq(Clause("k", "<", 2))).isEmpty, "same-type literal prunes")
    assert(zm.prune(Seq(3), Seq(Clause("k", "<", 2L))) === Seq("f"), "Long does not narrow to Int")
    assert(zm.prune(Seq(3), Seq(Clause("k", "<=", 2.toShort))) === Seq("f"), "Short widens to Int")
    assert(zm.prune(Seq(3), Seq(Clause("k", "<", 2.toShort))).isEmpty)
    // values: Short widens, Long and Double do not narrow (keep the file)
    assert(zm.prune(Seq(9.toShort)).isEmpty)
    assert(zm.prune(Seq(9L)) === Seq("f") && zm.prune(Seq(9.5)) === Seq("f"))
    val longs = ZoneMap(statsDf(LongType, Seq(("f", 2L, 5L))))
    assert(longs.prune(Seq(9)).isEmpty, "Int values widen to Long")
    assert(longs.prune(Seq(3L), Seq(Clause("k", ">", 5))).isEmpty, "Int literal widens to Long")
    assert(longs.prune(Seq(3L), Seq(Clause("k", ">", 4.5))) === Seq("f"))
  }

  // ── differential property against the broadcast-join reference ──

  /** A stat column type: its generator, and literals of other numeric
    * types the analyzer can compare with it. */
  private case class Ty(dt: DataType, gen: Gen[Any], mixed: Seq[Gen[Any]])

  private val small = Gen.choose(-20, 20)
  private val doubles: Gen[Any] = Gen.frequency(
    10 -> small.map(_.toDouble), 4 -> small.map(_ + 0.5), 1 -> Gen.const(Double.NaN),
    1 -> Gen.const(Double.PositiveInfinity), 1 -> Gen.const(Double.NegativeInfinity),
    1 -> Gen.const(0.0), 1 -> Gen.const(-0.0))
  private val tLong = Ty(LongType, small.map(_.toLong),
    Seq(small, small.map(_ + 0.5), small.map(_.toDouble)))
  private val tInt = Ty(IntegerType, small,
    Seq(small.map(_.toLong), small.map(_ + 0.5), small.map(_.toShort)))
  private val tDouble = Ty(DoubleType, doubles,
    Seq(small, small.map(_.toLong), small.map(_.toFloat), Gen.const(Float.NaN)))
  private val tString = Ty(StringType,
    Gen.choose(1, 2).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString)), Nil)
  private val tDate = Ty(DateType,
    small.map(i => java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong))), Nil)

  private def order(dt: DataType)(a: Any, b: Any): (Any, Any) =
    if (org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)
        .lteq(Literal.create(a, dt).value, Literal.create(b, dt).value)) (a, b) else (b, a)

  private case class Case(k: Ty, x: Ty, rows: Seq[Row], values: Seq[Any],
                          clauses: Seq[Clause], typed: Boolean, dup: Boolean) {
    def df: DataFrame = spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("filepath", StringType),
      StructField("k_min", k.dt), StructField("k_max", k.dt),
      StructField("x_min", x.dt), StructField("x_max", x.dt))))
  }

  private def bounds(t: Ty): Gen[Seq[Any]] = Gen.frequency(
    1 -> Gen.const(Seq(null, null)),
    6 -> Gen.zip(t.gen, t.gen).map { case (a, b) => val (mn, mx) = order(t.dt)(a, b); Seq(mn, mx) })

  private val cases: Gen[Case] = for {
    k <- Gen.oneOf(tLong, tInt, tDouble, tString)
    x <- Gen.oneOf(tLong, tDouble, tDate)
    nFiles <- Gen.choose(1, 10)
    rows <- Gen.listOfN(nFiles, Gen.zip(bounds(k), bounds(x)))
    dups <- Gen.frequency(3 -> Gen.const(Nil), 1 -> Gen.listOfN(2, Gen.zip(
      Gen.choose(0, nFiles - 1), bounds(k), bounds(x))))
    values <- Gen.frequency(1 -> Gen.const(Nil),
      6 -> Gen.choose(1, 8).flatMap(Gen.listOfN(_, k.gen)),
      1 -> Gen.choose(1000, 1200).flatMap(Gen.listOfN(_, k.gen)))
    nClauses <- Gen.choose(0, 3)
    clauses <- Gen.listOfN(nClauses, for {
      (name, t) <- Gen.oneOf(("k", k), ("x", x), ("nope", tInt))
      op <- Gen.oneOf("<", "<=", "=", ">", ">=")
      mixed <- Gen.frequency(3 -> false, 1 -> t.mixed.nonEmpty)
      v <- if (mixed) Gen.oneOf(t.mixed).flatMap(identity) else t.gen
    } yield (Clause(name, op, v), !mixed))
  } yield Case(k, x,
    rows.zipWithIndex.map { case ((kb, xb), i) => Row.fromSeq(s"f$i" +: (kb ++ xb)) } ++
      dups.map { case (i, kb, xb) => Row.fromSeq(s"f$i" +: (kb ++ xb)) },
    values, clauses.map(_._1), clauses.forall(_._2), dups.nonEmpty)

  test("property: the kernel keeps every file the broadcast-join reference keeps") {
    // equal sets when every literal has its column's type and each file
    // has one stats row; otherwise the kernel may only keep MORE (a
    // literal it cannot compare exactly, the union of duplicate rows)
    val prop = Prop.forAllNoShrink(cases) { c =>
      val stats = c.df
      val kernel = ZoneMap(stats).prune(c.values, c.clauses).toSet
      val reference = PruneReference.prune(spark, stats, c.values, c.clauses).toSet
      Prop(reference.subsetOf(kernel) && (!c.typed || c.dup || kernel == reference)) :|
        s"kernel=$kernel reference=$reference values=${c.values.take(8)} " +
          s"clauses=${c.clauses} rows=${c.rows}"
    }
    val result = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(120).withInitialSeed(Seed(20261017L)).withWorkers(1), prop)
    assert(result.passed, Pretty.pretty(result))
  }
}
