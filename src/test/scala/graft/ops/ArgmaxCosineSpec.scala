package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Pins the native argmax-cosine expressions
  * ([[graft.functions.ArgmaxCosineMatrix]] /
  * [[graft.functions.ArgmaxCosineOver]]) BIT-IDENTICAL to the
  * struct-max formulations they replaced — the superseded forms are
  * retained in [[KernelReference]] (`argmaxCosHof` / `argmaxCosArrHof`) as
  * this spec's arithmetic reference, so any drift in accumulation
  * order, float promotion, norm hoisting, NaN ordering or the
  * larger-index tiebreak fails loudly instead of silently moving cell
  * assignments (and with them `dedup_semantic*` / `sim_ivf_topk` /
  * `sim_indexed_*` oracle hashes). */
class ArgmaxCosineSpec extends SparkSpec {

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private lazy val cents: Array[Array[Double]] =
    Similarity.trainIvfCentroids(emb, "vec_id", "embedding", nlist = 37)

  private def centsDf = {
    // the same one-row broadcast carrier centroidArrayDf builds
    val rows: Array[Row] =
      cents.zipWithIndex.map { case (v, i) => Row(i, v.map(_.toFloat).toSeq) }
    val schema = StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("v", ArrayType(FloatType, containsNull = false), nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .agg(sort_array(collect_list(struct(col("i"), col("v")))).as("_cents"))
  }

  test("ArgmaxCosineMatrix equals the literal struct-max form on the corpus") {
    val native = emb.select(col("vec_id"),
        Similarity.argmaxCos(cents, col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hof = emb.select(col("vec_id"),
        KernelReference.argmaxCosHof(cents, col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(native.size > 100, "fixture corpus must actually exercise the assignment")
    assert(native === hof)
    assert(native.values.toSet.size > 5, "assignment must actually spread over cells")
  }

  test("ArgmaxCosineOver equals the broadcast struct-max form on the corpus") {
    val withCents = emb.crossJoin(broadcast(centsDf))
    val native = withCents.select(col("vec_id"),
        Similarity.argmaxCosArr(col("_cents"), col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hof = withCents.select(col("vec_id"),
        KernelReference.argmaxCosArrHof(col("_cents"), col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(native.size > 100)
    assert(native === hof)
  }

  test("corner cases: ties break to the larger index, NaN outranks reals, zero-norm scores 0") {
    import spark.implicits._
    val dim = cents(0).length
    val unit = Array.tabulate(dim)(d => if (d == 0) 1.0f else 0.0f)
    // duplicate centroids → exact score tie → larger index must win
    val dup = Array(unit.map(_.toDouble), unit.map(_.toDouble),
      Array.tabulate(dim)(d => if (d == 1) 1.0 else 0.0))
    val probes = Seq(
      (1L, unit),                                   // ties cell 0/1 → 1
      (2L, Array.tabulate(dim)(d => if (d == 1) 1.0f else 0.0f)), // → 2
      (3L, Array.fill(dim)(0.0f)),                  // zero-norm: all 0.0 → last index
      (4L, Array.tabulate(dim)(d => if (d == 0) Float.NaN else 0.0f)) // NaN everywhere → last
    ).toDF("id", "v")
    val native = probes.select(col("id"), Similarity.argmaxCos(dup, col("v")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hof = probes.select(col("id"), KernelReference.argmaxCosHof(dup, col("v")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(native === hof)
    assert(native(1L) == 1, "exact tie must break to the larger index (array_max order)")
    assert(native(3L) == 2, "zero-norm probe scores 0.0 everywhere → last index")
    assert(native(4L) == 2, "NaN scores outrank reals and tie among themselves → last index")
  }

  test("ArgmaxCosineOver: score ties over unsorted ids pick the struct form's winner") {
    import spark.implicits._
    // ids 5, 9, 2 share one direction (exact ties), 7 points elsewhere;
    // the array is NOT sorted by id, so scan order is not id order
    val cents = spark.sql(
      "select array(" + Seq(5 -> "1.0, 0.0", 9 -> "1.0, 0.0", 2 -> "2.0, 0.0", 7 -> "0.0, 1.0")
        .map { case (i, v) => s"named_struct('i', $i, 'v', cast(array($v) as array<float>))" }
        .mkString(", ") + ") as _cents")
    val probes = Seq(
      (1L, Seq(1.0f, 0.0f)),       // ties 5, 9, 2 → 9
      (2L, Seq(-1.0f, 0.0f)),      // 5, 9, 2 tie at -1; 7 scores 0 → 7
      (3L, Seq(0.0f, 0.0f)),       // zero norm: all 0.0 → 9
      (4L, Seq(Float.NaN, 1.0f)),  // all NaN → 9
      (5L, Seq(0.0f, 1.0f))        // 7 alone
    ).toDF("id", "v").crossJoin(broadcast(cents))
    def winners(f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column) =
      probes.select(col("id"), f(col("_cents"), col("v"))).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val native = winners(Similarity.argmaxCosArr)
    assert(native === winners(KernelReference.argmaxCosArrHof))
    assert(native === Map(1L -> 9, 2L -> 7, 3L -> 9, 4L -> 9, 5L -> 7))
  }

  test("interpreted eval matches codegen (nullSafeEval path)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val dim = cents(0).length
    val v = Array.tabulate(dim)(d => (math.sin(d + 1) * 0.7).toFloat)
    val lit = Literal(new GenericArrayData(v), ArrayType(FloatType, containsNull = false))
    val interp = graft.functions.ArgmaxCosineMatrix(lit, cents).eval(null)
    import spark.implicits._
    val viaCodegen = Seq(Tuple1(v)).toDF("v")
      .select(Similarity.argmaxCos(cents, col("v"))).head().getInt(0)
    assert(interp === viaCodegen)
  }

  test("ArgmaxCosineOver: empty centroid array yields null, like array_max of empty") {
    val empty = spark.sql(
      s"select cast(array() as array<struct<i int, v array<float>>>) as _cents, " +
        "cast(array(1.0, 0.0) as array<float>) as v")
    val native = empty.select(Similarity.argmaxCosArr(col("_cents"), col("v"))).head()
    val hof = empty.select(KernelReference.argmaxCosArrHof(col("_cents"), col("v"))).head()
    assert(native.isNullAt(0) && hof.isNullAt(0))
  }

  test("dimension mismatch fails loudly (CosineSimilarity's contract)") {
    import spark.implicits._
    val bad = Seq(Tuple1(Array(1.0f, 2.0f, 3.0f))).toDF("v")
    val ex = intercept[Exception] {
      bad.select(Similarity.argmaxCos(cents, col("v"))).collect()
    }
    def rootMsg(t: Throwable): String =
      Option(t.getCause).map(rootMsg).getOrElse(String.valueOf(t.getMessage))
    assert((Option(ex.getMessage).getOrElse("") + rootMsg(ex)).contains("dimension mismatch"))
  }
}
