package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference forms of the dedup pair step, kept for the specs that pin
  * [[Dedup.pairsInBuckets]] against them: the `collect_set` blocking
  * aggregate it replaced, nested higher-order function expansions of
  * one bucket's item array (every i<j pair, unfiltered unless noted),
  * and the join-back forms of the two embedding operators, which
  * re-attach vectors to candidate id pairs and score them with
  * [[Similarity.cosineCol]].
  *
  * The HOF forms emit equal-id pairs and NaN cosines; the blocking step
  * drops both, so specs filter them out of the reference side. */
object PairReference {

  /** The blocking step [[Dedup.pairsInBuckets]] replaced: per `keys`
    * group, its distinct non-null `item`s sorted as `_items`
    * (`sort_array(collect_set(item))`), and only groups holding 2 to
    * `cap` of them. Expand `_items` with the forms below. */
  def collectSetBlocking(rows: DataFrame, keys: Seq[String], item: Column, cap: Int): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_set(item)).as("_items"))
      .where(size(col("_items")).between(2, cap))

  /** Every i<j pair of an id array as `struct<doc_a, doc_b>`. */
  def candidatePairExpandHof(ids: Column): Column =
    flatten(transform(ids, (a, i) =>
      transform(slice(ids, i + 2, size(ids)),
        b => struct(a.as("doc_a"), b.as("doc_b")))))

  /** The i<j pairs of `struct<doc, n_sh>` items whose length ratio
    * `least / greatest` is at least `threshold - 1e-9`, as
    * `struct<doc_a, sh_a, doc_b, sh_b>`. */
  def jaccardPairExpandHof(docs: Column, threshold: Double): Column =
    flatten(transform(docs, (a, i) =>
      transform(
        filter(slice(docs, i + 2, size(docs)), b =>
          least(a.getField("n_sh"), b.getField("n_sh")).cast("double") /
            greatest(a.getField("n_sh"), b.getField("n_sh")).cast("double") >=
            lit(threshold - 1e-9)),
        b => struct(a.getField("doc").as("doc_a"), a.getField("n_sh").as("sh_a"),
          b.getField("doc").as("doc_b"), b.getField("n_sh").as("sh_b")))))

  /** Every i<j pair of `struct<doc, simhash>` items with its Hamming
    * distance, as `struct<doc_a, doc_b, hamming>` (filter it with
    * `hamming <= k`). */
  def simhashPairExpandHof(items: Column): Column =
    flatten(transform(items, (a, i) =>
      transform(slice(items, i + 2, size(items)), b =>
        struct(a.getField("doc").as("doc_a"), b.getField("doc").as("doc_b"),
          bit_count(a.getField("simhash").bitwiseXOR(b.getField("simhash"))).as("hamming")))))

  /** Every i<j pair of `struct<doc, v>` items with its cosine, as
    * `struct<doc_a, doc_b, cos>` (filter it with `cos >= t`). */
  def cosinePairExpandHof(items: Column): Column =
    flatten(transform(items, (a, i) =>
      transform(slice(items, i + 2, size(items)), b =>
        struct(a.getField("doc").as("doc_a"), b.getField("doc").as("doc_b"),
          Similarity.cosineCol(a.getField("v"), b.getField("v")).as("cos")))))

  /** Candidate pairs of `blocked` (`doc` plus the `keys`) with both
    * vectors joined back from `emb`, scored, and kept when
    * `cos >= threshold` and not NaN. */
  private def joinBack(emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
                       blocked: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val cand = Dedup.candidatePairsFromBuckets(blocked, keys, "doc", cap)
    val vecs = emb.select(col(idCol), col(vecCol))
    cand.select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
      .join(vecs.toDF("id_a", "v_a"), Seq("id_a"))
      .join(vecs.toDF("id_b", "v_b"), Seq("id_b"))
      .withColumn("cos", Similarity.cosineCol(col("v_a"), col("v_b")))
      .where(col("cos") >= threshold && !isnan(col("cos")))
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** [[Dedup.semanticNearDup]] as a join: cell candidates from
    * `assigned` (`cell`, `doc`), then the vectors joined back. */
  def semanticPairsJoinForm(emb: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, maxCell: Int, assigned: DataFrame): DataFrame =
    joinBack(emb, idCol, vecCol, threshold, assigned, Seq("cell"), maxCell)

  /** [[Dedup.embeddingNearDup]]'s LSH branch as a join: band-bucket
    * candidates from `bucketed` (`band`, `bucket`, `doc`), deduplicated
    * across bands, then the vectors joined back. */
  def embeddingPairsJoinForm(emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
                             bucketed: DataFrame, maxBucket: Int): DataFrame =
    joinBack(emb, idCol, vecCol, threshold, bucketed, Seq("band", "bucket"), maxBucket)
}
