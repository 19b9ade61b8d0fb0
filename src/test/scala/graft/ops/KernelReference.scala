package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Higher-order-function forms of the native kernels, kept for the
  * specs that pin the kernels bit-identical to them:
  * [[graft.functions.ArgmaxCosineMatrix]] / [[graft.functions.ArgmaxCosineOver]]
  * (ArgmaxCosineSpec), [[graft.functions.PqEncode]] /
  * [[graft.functions.AdcDistance]] (PqFusedSpec) and
  * [[graft.functions.WindowHashes]] (DedupSpec). No query path calls
  * them. */
object KernelReference {

  /** `Similarity.bindOnce`: evaluate `e` once, however often `f` uses
    * it. */
  private def bindOnce(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), f), 1)

  /** Struct-max argmax over plan-literal centroids: array_max over
    * (score, index) structs, one CosineSimilarity per centroid. */
  def argmaxCosHof(centroids: Array[Array[Double]], v: Column): Column =
    array_max(array(centroids.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      struct(Similarity.cosineCol(Similarity.floatLits(c), v).as("s"), lit(i).as("i"))
    }: _*)).getField("i")

  /** Transform/struct-max argmax over the broadcast `_cents` table. */
  def argmaxCosArrHof(cents: Column, v: Column): Column =
    array_max(transform(cents, c =>
      struct(Similarity.cosineCol(c.getField("v"), v).as("s"), c.getField("i").as("i"))))
      .getField("i")

  /** Squared L2 between the j-th dsub-slice of a normalized vector and
    * one codebook entry. */
  private def sqDistSlice(vn: Column, j: Column, entry: Column, dsub: Int): Column =
    aggregate(sequence(lit(1), lit(dsub)), lit(0.0), (acc, t) => {
      val d = element_at(vn, j * dsub + t) - element_at(entry, t)
      acc + d * d
    })

  /** PQ encode of a prepared vector column: least-fold per subspace,
    * then a first-minimum locate pass. */
  def pqEncodePreparedColHof(prepared: Column, cb: Array[Array[Array[Float]]]): Column = {
    val dsub = cb(0)(0).length
    val cbL = Similarity.pqLit(cb)
    bindOnce(prepared) { vn =>
      transform(sequence(lit(0), lit(cb.length - 1)), j => {
        val entries = element_at(cbL, j + 1)
        bindOnce(aggregate(entries, lit(Double.MaxValue),
          (acc, e) => least(acc, sqDistSlice(vn, j, e, dsub)))) { minD =>
          aggregate(sequence(lit(1), size(entries)), lit(0),
            (acc, ci) => when(acc === 0 &&
              sqDistSlice(vn, j, element_at(entries, ci), dsub) === minD, ci)
              .otherwise(acc)) - 1
        }
      })
    }
  }

  /** Asymmetric distance summed over subspaces, left to right. */
  def adcDistColHof(qn0: Column, code0: Column, cbL: Column, dsub: Int): Column =
    bindOnce(qn0) { qn =>
      bindOnce(code0) { code =>
        aggregate(sequence(lit(0), size(code) - 1), lit(0.0), (acc, j) => {
          val entry = element_at(element_at(cbL, j + 1), element_at(code, j + 1) + 1)
          acc + sqDistSlice(qn, j, entry, dsub)
        })
      }
    }

  /** xxhash64 of each space-joined k-token window; empty when the
    * array is shorter than k. */
  def windowHashesHof(tk: Column, k: Int): Column =
    when(size(tk) >= k,
      transform(sequence(lit(0), size(tk) - k),
        i => xxhash64(array_join(slice(tk, i + 1, lit(k)), " "))))
      .otherwise(array().cast("array<bigint>"))
}
