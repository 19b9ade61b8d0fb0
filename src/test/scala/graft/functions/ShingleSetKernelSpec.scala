package graft.functions

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.ops.Dedup
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

/** Differential properties of the shingle-set kernels against the Spark
  * forms they replace: [[SortedDistinct]] against
  * `sort_array(array_distinct(x))`, [[SetOverlap]] against
  * `size(array_intersect(a, b))` and the Jaccard formula over it (doubles
  * by their raw bits, in both ANSI modes), and [[ShingleHashes]] against
  * `transform(shingles(tk, n), xxhash64)`. Fixed seeds; each property
  * asserts that its trials covered every input class it names. */
class ShingleSetKernelSpec extends SparkSpec {

  private def expr(c: Column) = GraftColumnBridge.expression(c)
  private def sortedDistinct(c: Column) = GraftColumnBridge.column(SortedDistinct(expr(c)))
  private def overlap(a: Column, b: Column, jaccard: Boolean) =
    GraftColumnBridge.column(SetOverlap(expr(a), expr(b), jaccard))

  private val extremes = Seq(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L,
    Long.MaxValue - 1, Long.MaxValue)

  private val element: Gen[java.lang.Long] = Gen.frequency(
    5 -> Gen.choose(-6L, 6L).map(Long.box),
    3 -> Gen.oneOf(extremes).map(Long.box),
    2 -> Gen.choose(Long.MinValue, Long.MaxValue).map(Long.box),
    1 -> Gen.const(null))

  /** Arrays of every shape: empty, raw (unsorted, duplicates, nulls) and
    * already a strictly ascending set. */
  private val array: Gen[Seq[java.lang.Long]] = Gen.frequency(
    2 -> Gen.const(Seq.empty),
    5 -> Gen.choose(1, 12).flatMap(Gen.listOfN(_, element)),
    4 -> Gen.choose(1, 12).flatMap(Gen.listOfN(_, element))
      .map(_.filter(_ != null).map(_.longValue).distinct.sorted.map(Long.box)))

  private def frame(rows: Seq[Seq[Seq[java.lang.Long]]]): DataFrame = {
    val arr = ArrayType(LongType, containsNull = true)
    val fields = rows.head.indices.map(i => StructField(s"c$i", arr))
    spark.createDataFrame(rows.zipWithIndex.map { case (r, i) => Row(i +: r: _*) }.asJava,
      StructType(StructField("i", IntegerType) +: fields))
  }

  /** Rows by `i`, doubles by their raw bits; or the root failure. */
  private def outcome(df: => DataFrame): Either[String, Seq[Seq[Any]]] =
    scala.util.Try(df.orderBy("i").collect()) match {
      case scala.util.Success(rows) => Right(rows.toSeq.map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case s: Seq[_] => s.toList
        case v => v
      }))
      case scala.util.Failure(e) =>
        var root: Throwable = e
        while (root.getCause != null) root = root.getCause
        Left(root match {
          case t: org.apache.spark.SparkThrowable => t.getCondition
          case t => t.getClass.getName
        })
    }

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, before)
  }

  private def check(prop: Prop, seed: Long, trials: Int): Unit = {
    val result = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(trials).withInitialSeed(Seed(seed)).withWorkers(1), prop)
    assert(result.passed, Pretty.pretty(result))
  }

  private def classes(a: Seq[java.lang.Long]): Seq[String] = {
    val vs = a.filter(_ != null).map(_.longValue)
    Seq(
      if (a.isEmpty) Some("empty") else None,
      if (a.contains(null)) Some("nulls") else None,
      if (vs.distinct.size < vs.size) Some("duplicates") else None,
      if (vs != vs.sorted) Some("unsorted") else None,
      if (a.nonEmpty && !a.contains(null) && vs == vs.distinct.sorted) Some("set") else None,
      if (vs.contains(Long.MinValue) || vs.contains(Long.MaxValue)) Some("extremes") else None
    ).flatten
  }

  test("property: the set kernel equals sort_array(array_distinct(x))") {
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val cases = Gen.choose(1, 8).flatMap(Gen.listOfN(_, Gen.frequency(12 -> array, 1 -> Gen.const(null))))
    val prop = Prop.forAllNoShrink(cases) { arrays =>
      val df = frame(arrays.map(Seq(_)))
      val want = outcome(df.select(col("i"), sort_array(array_distinct(col("c0")))))
      val got = outcome(df.select(col("i"), sortedDistinct(col("c0"))))
      arrays.foreach(a => if (a == null) seen("null array") += 1 else classes(a).foreach(seen(_) += 1))
      Prop(got == want) :| s"got=$got want=$want arrays=$arrays"
    }
    check(prop, 20261020L, 60)
    info(s"arrays by class: $seen")
    for (k <- Seq("empty", "nulls", "duplicates", "unsorted", "set", "extremes", "null array"))
      assert(seen(k) > 0, s"no array covered $k: $seen")
    // the output type is the input's, so shingle sets keep the type
    // sets were persisted with
    val doc = spark.range(1).select(col("id"), split(lit("a b c d"), " ").as("tk"))
    val sets = doc.select(sortedDistinct(Dedup.shingleHashes(col("tk"), 3)),
      sort_array(array_distinct(Dedup.shingleHashes(col("tk"), 3))))
    assert(sets.schema(0).dataType === sets.schema(1).dataType)
  }

  test("property: the pair kernel equals size(array_intersect) and the Jaccard formula, bit for bit") {
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val pair = Gen.frequency(10 -> Gen.zip(array, array), 1 -> Gen.const((Seq.empty, Seq.empty)),
      2 -> array.map(a => (a, a)))
    val cases = Gen.zip(Gen.oneOf(false, true), Gen.choose(1, 8).flatMap(Gen.listOfN(_, pair)))
    val prop = Prop.forAllNoShrink(cases) { case (ansi, pairs) =>
      withAnsi(ansi) {
        val df = frame(pairs.map { case (a, b) => Seq(a, b) })
        val (a, b) = (col("c0"), col("c1"))
        val n = size(array_intersect(a, b)).cast("long")
        val wantCommon = outcome(df.select(col("i"), n))
        val wantJaccard = outcome(df.select(col("i"), n.cast("double") / (size(a) + size(b) - n)))
        val gotCommon = outcome(df.select(col("i"), overlap(a, b, jaccard = false)))
        val gotJaccard = outcome(df.select(col("i"), overlap(a, b, jaccard = true)))
        pairs.foreach { case (x, y) =>
          (classes(x) ++ classes(y)).distinct.foreach(seen(_) += 1)
          if (x.isEmpty && y.isEmpty) seen(s"empty-empty, ansi=$ansi") += 1
          else if (x.isEmpty || y.isEmpty) seen("one-sided") += 1
          if (classes(x).contains("set") && classes(y).contains("set")) seen("merge") += 1
        }
        if (wantJaccard.isLeft) seen("threw") += 1
        Prop(gotCommon == wantCommon && gotJaccard == wantJaccard) :|
          s"common got=$gotCommon want=$wantCommon; jaccard got=$gotJaccard want=$wantJaccard " +
            s"ansi=$ansi pairs=$pairs"
      }
    }
    check(prop, 20261021L, 80)
    info(s"pairs by class: $seen")
    for (k <- Seq("empty-empty, ansi=true", "empty-empty, ansi=false", "one-sided", "merge",
        "nulls", "duplicates", "unsorted", "extremes", "threw"))
      assert(seen(k) > 0, s"no trial covered $k: $seen")
  }

  test("property: ShingleHashes equals transform(shingles(tk, n), xxhash64)") {
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val token: Gen[String] = Gen.frequency(
      6 -> Gen.oneOf("a", "bb", "the", "fox", "é", "日本", "x1"),
      1 -> Gen.const(""),
      1 -> Gen.const(null))
    val tokens: Gen[Seq[String]] = Gen.frequency(
      1 -> Gen.const(null), 1 -> Gen.const(Seq.empty),
      8 -> Gen.choose(1, 9).flatMap(Gen.listOfN(_, token)))
    val cases = Gen.zip(Gen.choose(1, 5), Gen.choose(1, 6).flatMap(Gen.listOfN(_, tokens)))
    val prop = Prop.forAllNoShrink(cases) { case (n, docs) =>
      val df = spark.createDataFrame(docs.zipWithIndex.map { case (t, i) => Row(i, t) }.asJava,
        StructType(Seq(StructField("i", IntegerType), StructField("tk", ArrayType(StringType)))))
      val want = outcome(df.select(col("i"), transform(Dedup.shingles(col("tk"), n), s => xxhash64(s))))
      val got = outcome(df.select(col("i"), Dedup.shingleHashes(col("tk"), n)))
      docs.foreach { t =>
        if (t == null) seen("null tokens") += 1
        else if (t.isEmpty) seen("no tokens") += 1
        else {
          if (t.contains(null)) seen("null token") += 1
          if (t.contains("")) seen("empty token") += 1
          seen(if (t.size < n) "short" else "windows") += 1
        }
      }
      Prop(got == want) :| s"got=$got want=$want n=$n docs=$docs"
    }
    check(prop, 20261022L, 60)
    info(s"token arrays by class: $seen")
    for (k <- Seq("null tokens", "no tokens", "null token", "empty token", "short", "windows"))
      assert(seen(k) > 0, s"no trial covered $k: $seen")
  }

  test("the set kernels reject sets whose element type is not bigint") {
    import spark.implicits._
    val df = Seq((Seq(1, 2), Seq(1L, 2L))).toDF("ints", "longs")
    val e1 = intercept[org.apache.spark.sql.AnalysisException](
      df.select(sortedDistinct(col("ints"))))
    assert(e1.getMessage.contains("sorted_distinct expects array<bigint>"), e1.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException](
      df.select(overlap(col("longs"), col("ints"), jaccard = true)))
    assert(e2.getMessage.contains("set_jaccard expects two array<bigint>"), e2.getMessage)
  }
}
