package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the native PQ expressions ([[graft.functions.PqEncode]],
  * [[graft.functions.AdcDistance]]) BIT-IDENTICAL to the
  * higher-order-function formulations they replaced — the superseded
  * forms are retained in [[KernelReference]] (`pqEncodePreparedColHof`
  * / `adcDistColHof`) precisely as this spec's arithmetic reference, so
  * any drift in accumulation order, float→double promotion, tie-breaks
  * or null/NaN corners fails loudly instead of silently moving
  * `sim_pq_topk`/`sim_indexed_pq` oracle hashes. */
class PqFusedSpec extends SparkSpec {

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private lazy val cb =
    Similarity.trainPqCodebooks(emb, "vec_id", "embedding")

  test("PqEncode equals the HOF encode bit-for-bit on the corpus") {
    val prepared = Similarity.normalizedCol(col("embedding"))
    val native = emb.select(col("vec_id"),
        Similarity.pqEncodePreparedCol(prepared, cb).as("code"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val hof = emb.select(col("vec_id"),
        KernelReference.pqEncodePreparedColHof(prepared, cb).as("code"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(native.size > 100, "fixture corpus must actually exercise the encoder")
    assert(native === hof)
  }

  test("AdcDistance equals the HOF ADC bit-for-bit over all query-code pairs") {
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
    val q = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("qid"),
        Similarity.normalizedCol(col("embedding")).as("_qn"))
    val pairs = codes.crossJoin(broadcast(q))
    val native = pairs
      .select(col("qid"), col("vec_id"),
        Similarity.adcDistCol(col("_qn"), col("code"), cb).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val hof = pairs
      .select(col("qid"), col("vec_id"),
        KernelReference.adcDistColHof(col("_qn"), col("code"),
          Similarity.pqLit(cb), cb(0)(0).length).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(native.size > 500, "pair set must actually exercise the distance")
    // exact equality, not tolerance: the native loop must reproduce the
    // HOF's left-to-right double accumulation bit-for-bit
    assert(native === hof)
  }

  test("PqEncode keeps the HOF's NaN degenerate output (-1 per all-NaN subspace)") {
    import spark.implicits._
    val dim = cb.length * cb(0)(0).length
    val nan = Seq((1L, Array.fill(dim)(Double.NaN)),
      (2L, Array.tabulate(dim)(_.toDouble))).toDF("id", "v")
    def run(f: (org.apache.spark.sql.Column, Array[Array[Array[Float]]]) => org.apache.spark.sql.Column) =
      nan.select(col("id"), f(col("v"), cb).as("code"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val native = run(Similarity.pqEncodePreparedCol)
    val hof = run(KernelReference.pqEncodePreparedColHof)
    assert(native === hof)
    assert(native(1L).forall(_ == -1), "all-NaN vector must yield -1 codes like the HOF")
  }

  test("AdcDistance fails loudly on malformed codes (fidelity note: HOF was mode-dependent)") {
    import spark.implicits._
    val dim = cb.length * cb(0)(0).length
    val qn = Array.tabulate(dim)(_.toDouble / dim)
    val bad = Seq((1L, qn, Array.fill(cb.length)(cb(0).length + 5))).toDF("id", "qn", "code")
    val ex = intercept[Exception] {
      bad.select(Similarity.adcDistCol(col("qn"), col("code"), cb)).collect()
    }
    def rootMsg(t: Throwable): String =
      Option(t.getCause).map(rootMsg).getOrElse(String.valueOf(t.getMessage))
    assert((Option(ex.getMessage).getOrElse("") + rootMsg(ex)).contains("out of range"))
  }

  test("pqTopKWith over the native expressions matches the HOF pipeline's rows") {
    // end-to-end: candidate shortlist + exact re-rank are unchanged
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
    val out = Similarity.pqTopKWith(cb, codes, emb,
        emb.where(col("vec_id") < 5), "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val hofCodes = emb.where(col("embedding").isNotNull)
      .select(col("vec_id"), KernelReference.pqEncodePreparedColHof(
        Similarity.normalizedCol(col("embedding")), cb).as("code"))
    val hofOut = Similarity.pqTopKWith(cb, hofCodes, emb,
        emb.where(col("vec_id") < 5), "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(out.nonEmpty && out === hofOut)
  }
}
