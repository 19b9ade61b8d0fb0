package graft.ops

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

class DedupSpec extends SparkSpec {

  private lazy val docs: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),    // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat"),    // near dup of 1
      (4L, "completely different words entirely unrelated content here"),
      (5L, "THE  Quick Brown FOX jumps over the lazy dog!!")  // normalizes to 1
    ).toDF("doc_id", "text")
  }

  test("exactByHash groups normalized-identical docs under the min id") {
    val r = Dedup.exactByHash(docs, "doc_id", "text")
      .orderBy("keep_id").collect()
    // 1,2,5 normalize to the same content; 3 and 4 are singletons
    assert(r.length === 3)
    val byKeep = r.map(x => x.getLong(1) -> x.getLong(2)).toMap
    assert(byKeep(1L) === 3L, "docs 1,2,5 must collapse to keeper 1")
    assert(byKeep(3L) === 1L && byKeep(4L) === 1L)
  }

  test("exact keeps one row per key tuple with the min id") {
    import spark.implicits._
    val df = Seq((10L, "en", "web"), (7L, "en", "web"), (9L, "fr", "web"))
      .toDF("id", "lang", "source")
    val r = Dedup.exact(df, "id", Seq("lang", "source")).orderBy("lang").collect()
    assert(r.map(_.getLong(0)).toSeq === Seq(7L, 9L))
  }

  test("minhash bands surface identical docs as candidates") {
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "identical docs share every band")
    assert(pairs.contains((1L, 5L)) && pairs.contains((2L, 5L)), "normalized-identical docs too")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "unrelated doc must not pair")
  }

  test("simhash of identical docs is identical; hamming blocking finds the pair") {
    val fps = Dedup.simhash(docs, "doc_id", "text")
    val byDoc = fps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc(1L) === byDoc(2L))
    assert(byDoc(1L) === byDoc(5L), "simhash works on normalized tokens")
    val pairs = Dedup.simhashCandidates(fps)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("minhashNearDup: verified pipeline equals all-pairs ngramJaccard at matched threshold") {
    val exact = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.5,
        maxShingleDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // b=32/r=2: the candidate-miss probability at the J=0.5 boundary is
    // ~1e-4, so set equality is sound for any fixture edit; the b=16/r=4
    // defaults miss a boundary pair with p≈0.36 (see minhashNearDup's
    // scaladoc) and would make this assert a per-fixture coin flip
    val verified = Dedup.minhashNearDup(docs, "doc_id", "text", threshold = 0.5,
        numHashes = 64, bands = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(exact.nonEmpty, "fixture must contain pairs above the threshold")
    assert(verified === exact,
      "LSH-blocked + verified output must equal the exact pair set (values included)")
  }

  test("verifiedJaccard drops candidate false positives below the threshold") {
    import spark.implicits._
    // (1,4) is an unrelated pair force-fed as a candidate: verification
    // must reject it while keeping the true dup (1,2)
    val cand = Seq((1L, 2L), (1L, 4L)).toDF("doc_a", "doc_b")
    val r = Dedup.verifiedJaccard(docs, cand, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(3)).toMap
    assert(r.keySet === Set((1L, 2L)))
    assert(r((1L, 2L)) === 1.0)
  }

  test("ngram jaccard: exact dup = 1.0, near dup high, unrelated absent") {
    val r = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.3)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(3)).toMap
    assert(r((1L, 2L)) === 1.0)
    assert(r((1L, 3L)) > 0.5 && r((1L, 3L)) < 1.0, s"near dup got ${r.get((1L, 3L))}")
    assert(!r.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngram jaccard length filter keeps the exact J = t boundary pair") {
    import spark.implicits._
    // A: 11 tokens → 9 shingles; B: A + one token → 10 shingles sharing
    // all 9 of A's. J = 9/(9+10−9) = 0.9 EXACTLY, and min/max = 9/10 is
    // the length bound's own tight case — the pre-exchange size filter
    // must keep it (a naive `min >= t·max` in doubles drops it:
    // 0.9 × 10.0 > 9.0). C is half A's length — killed by the filter,
    // and legitimately absent from the output.
    val a = (1 to 11).map(i => s"t$i").mkString(" ")
    val b = (1 to 12).map(i => s"t$i").mkString(" ")
    val c = (1 to 6).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val r = Dedup.ngramJaccard(df, "doc_id", "text", n = 3, threshold = 0.9,
        maxShingleDf = 100)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(3)).toMap
    assert(r.keySet === Set((1L, 2L)), s"expected exactly the boundary pair, got ${r.keySet}")
    assert(r((1L, 2L)) === 0.9)
  }

  test("embedding near-dup: brute force and LSH agree on planted dups") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.2f, 0.1f)),
      (2L, Array(1.0f, 0.0f, 0.2f, 0.1f)),   // identical to 1
      (3L, Array(0.98f, 0.05f, 0.21f, 0.1f)), // near 1
      (4L, Array(-1.0f, 0.5f, -0.2f, 0.9f))   // far
    ).toDF("vec_id", "embedding")
    val bf = Dedup.embeddingNearDup(emb, "vec_id", "embedding", threshold = 0.99, bruteForce = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingNearDup(emb, "vec_id", "embedding", threshold = 0.99, bruteForce = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bf.contains((1L, 2L)) && bf.contains((1L, 3L)) && bf.contains((2L, 3L)))
    assert(!bf.exists(p => p._1 == 4L || p._2 == 4L))
    // identical vectors always share an LSH bucket => LSH finds them
    assert(lsh.contains((1L, 2L)))
    assert(lsh.subsetOf(bf), "LSH candidates must be a subset of brute-force truth")
  }

  test("embedding near-dup: hot LSH bucket above maxBucket is dropped") {
    import spark.implicits._
    // 12 identical vectors share EVERY band's bucket -> all 12-sized
    // band-buckets exceed maxBucket=10 -> dropped in every band
    val many = (1L to 12L).map(i => (i, Array(1.0f, 0.2f, 0.1f, 0.05f)))
      .toDF("vec_id", "embedding")
    val capped = Dedup.embeddingNearDup(many, "vec_id", "embedding",
      threshold = 0.9, maxBucket = 10)
    assert(capped.count() === 0, "hot bucket above the cap must yield no pairs")
    val uncapped = Dedup.embeddingNearDup(many, "vec_id", "embedding",
      threshold = 0.9, maxBucket = 100)
    assert(uncapped.count() === 12L * 11 / 2)
  }

  test("embedding LSH recall floor on a seeded clustered corpus") {
    import spark.implicits._
    // 40 Gaussian cluster centers × 10 members each (noise σ=0.05 →
    // intra-cluster cosine ≈ 0.998): the shape dedup actually runs on.
    // Pins candidate recall QUANTITATIVELY against the exact pairs so a
    // banding/bucketing rework cannot silently trade recall away.
    val rnd = new scala.util.Random(7)
    val dim = 16
    val rows = (0 until 40).flatMap { c =>
      val center = Array.fill(dim)(rnd.nextGaussian())
      (0 until 10).map { m =>
        ((c * 10 + m).toLong, center.map(x => (x + rnd.nextGaussian() * 0.05).toFloat))
      }
    }
    val emb = rows.toDF("vec_id", "embedding")
    val bf = Dedup.embeddingNearDup(emb, "vec_id", "embedding", threshold = 0.9, bruteForce = true)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingNearDup(emb, "vec_id", "embedding", threshold = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bf.size >= 40 * (10 * 9 / 2), s"ground truth too small: ${bf.size}")
    assert(lsh.subsetOf(bf), "LSH pairs must be a subset of exact truth")
    val recall = lsh.size.toDouble / bf.size
    assert(recall >= 0.9, s"LSH recall $recall below 0.9 floor (|bf|=${bf.size}, |lsh|=${lsh.size})")
  }

  test("semantic dedup recovers clustered near-dups; pairs are a subset of exact truth") {
    import spark.implicits._
    // same clustered-corpus shape as the LSH recall test: learned cells
    // should isolate each Gaussian cluster, so within-cell comparison
    // recovers (nearly) all intra-cluster pairs — quantitative recall
    // floor, plus the structural subset property
    val rnd = new scala.util.Random(11)
    val dim = 16
    val rows = (0 until 30).flatMap { c =>
      val center = Array.fill(dim)(rnd.nextGaussian())
      (0 until 8).map { m =>
        ((c * 8 + m).toLong, center.map(x => (x + rnd.nextGaussian() * 0.05).toFloat))
      }
    }
    val emb = rows.toDF("vec_id", "embedding")
    val bf = Dedup.embeddingNearDup(emb, "vec_id", "embedding", threshold = 0.9, bruteForce = true)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = Dedup.semanticNearDup(emb, "vec_id", "embedding", threshold = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem.subsetOf(bf), "cell-blocked pairs must be a subset of exact truth")
    val recall = sem.size.toDouble / bf.size
    assert(recall >= 0.8, s"semantic recall $recall below 0.8 floor " +
      s"(|bf|=${bf.size}, |sem|=${sem.size}) — cells stopped tracking the clusters")
  }

  test("semantic dedup: pre-trained centroids are honored; empty corpus yields empty pairs") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.999f, 0.04f)), // near-dups, cell +x
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    // hand centroids: +x and +y — assignment is deterministic, no training
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val pairs = Dedup.semanticNearDup(emb, "vec_id", "embedding",
        threshold = 0.9, centroids = cents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
    // an over-full cell is dropped by the skew cap, like every bucket here
    val capped = Dedup.semanticNearDup(emb, "vec_id", "embedding",
      threshold = 0.9, centroids = cents, maxCell = 1)
    assert(capped.count() === 0)
    val empty = emb.where(col("vec_id") < 0)
    assert(Dedup.semanticNearDup(empty, "vec_id", "embedding", 0.9).count() === 0)
  }

  /** `(id_a, id_b) -> cos` of an embedding pair frame, ids as strings. */
  private def cosPairs(df: DataFrame): Map[(String, String), Double] =
    df.collect().map(r => (r.get(0).toString, r.get(1).toString) -> r.getDouble(2)).toMap

  /** A clustered corpus: `clusters` Gaussian centers × `members`. */
  private def clustered(seed: Int, clusters: Int, members: Int, sigma: Double,
                        dim: Int = 16): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until clusters).flatMap { c =>
      val center = Array.fill(dim)(rnd.nextGaussian())
      (0 until members).map { m =>
        ((c * members + m).toLong, center.map(x => (x + rnd.nextGaussian() * sigma).toFloat))
      }
    }
  }

  test("fused cell-pair scoring equals the superseded join form bit-for-bit") {
    import spark.implicits._
    // semanticNearDup's in-cell cosine kernel must reproduce the
    // join-back form exactly: same pairs, same DOUBLES (hoisted norms
    // must not perturb a single ulp), same orientation — on a clustered
    // corpus with real cells plus a zero-norm row, with long ids and
    // with string ids (whose order differs from the numeric one)
    val rows = clustered(7, 20, 6, 0.05) :+ ((999L, Array.fill(16)(0.0f))) // zero-norm: cos 0.0
    val cents = Similarity.trainIvfCentroids(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nlist = 20)
    for (emb <- Seq(rows.toDF("vec_id", "embedding"),
                    rows.map { case (id, v) => (s"v$id", v) }.toDF("vec_id", "embedding"))) {
      val fused = cosPairs(Dedup.semanticNearDup(
        emb, "vec_id", "embedding", threshold = 0.9, centroids = cents))
      val assigned = Similarity.assignedCells(
          emb.select(col("vec_id").as("doc"), col("embedding")), "embedding", cents)
        .select(col("cell"), col("doc"))
      val joined = cosPairs(PairReference.semanticPairsJoinForm(
        emb, "vec_id", "embedding", 0.9, 10000, assigned))
      assert(fused.size > 100, s"fixture must actually produce pairs (got ${fused.size})")
      assert(fused === joined)
    }
  }

  test("fused LSH bucket scoring equals the superseded join form bit-for-bit") {
    import spark.implicits._
    // the embeddingNearDup LSH branch's in-bucket cosine kernel must
    // reproduce the distinct-then-join-back form exactly: same pairs,
    // same DOUBLES, including pairs blocked by several bands (which
    // must collapse to one row, as the pre-join distinct collapsed
    // them); long and string ids
    val rows = clustered(13, 25, 6, 0.03)
    // reconstruct the join form with the same auto-derived r
    val n = rows.size.toLong
    val r = math.min(24, math.max(4,
      math.ceil(math.log(math.max(n, 1L) / 4.0) / math.log(2.0)).toInt))
    for (emb <- Seq(rows.toDF("vec_id", "embedding"),
                    rows.map { case (id, v) => (s"v$id", v) }.toDF("vec_id", "embedding"))) {
      val fused = cosPairs(Dedup.embeddingNearDup(emb, "vec_id", "embedding", threshold = 0.9))
      val bucketed = Similarity.bandedSignBuckets(
          emb.select(col("vec_id").as("doc"), col("embedding")), "embedding", 16, 10, r, 42L)
        .select(col("band"), col("bucket"), col("doc"))
      val joined = cosPairs(
        PairReference.embeddingPairsJoinForm(emb, "vec_id", "embedding", 0.9, bucketed, 1000))
      assert(fused.size > 100, s"fixture must actually produce pairs (got ${fused.size})")
      assert(fused === joined)
    }
  }

  test("native bucket-pair expansions equal the nested-HOF forms pair-for-pair") {
    import spark.implicits._
    // realistic bucket shapes: singletons, a pair, a hot bucket, plus
    // skewed n_sh/simhash values exercising the in-bucket tests; the
    // same buckets with long ids, then with string ids. The blocking
    // step reads one (bucket, item) row per item; the reference groups
    // the same rows with collect_set and expands the arrays with HOFs
    val rnd = new scala.util.Random(3)
    val raw = (1 to 200).flatMap { b =>
      val n = rnd.nextInt(6) + 1
      (1 to n).map(i => (b.toLong, b * 100L + i, 10L + rnd.nextInt(30), rnd.nextLong() & 0xFFFFL))
    }.toDF("bucket", "id", "n_sh", "simhash")
    for (id <- Seq("id", "cast(id as string)")) {
      val rows = raw.select(col("bucket"), expr(id).as("doc"), col("n_sh"), col("simhash")).persist()
      def pairs(df: DataFrame, cols: String*): Seq[Seq[Any]] =
        df.select(cols.map(col): _*).collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))
      def gen(item: Column, k: PairKernel) = Dedup.pairsInBuckets(rows, Seq("bucket"), item, 1000, k)
      def hof(item: Column, expand: Column => Column) =
        PairReference.collectSetBlocking(rows, Seq("bucket"), item, 1000)
          .select(explode(expand(col("_items"))).as("p")).select("p.*")
      val docs = struct(col("doc"), col("n_sh"))
      val items = struct(col("doc"), col("simhash"))
      try {
        // 1. plain pair expansion
        val p = pairs(gen(col("doc"), PairKernel.AllPairs), "doc_a", "doc_b")
        assert(p.length > 100 && p === pairs(hof(col("doc"), PairReference.candidatePairExpandHof),
          "doc_a", "doc_b"), id)
        // 2. ratio-filtered jaccard expansion, incl. the tight-boundary threshold
        for (t <- Seq(0.5, 0.9)) {
          val cols = Seq("doc_a", "sh_a", "doc_b", "sh_b")
          val j = pairs(gen(docs, PairKernel.LengthRatio(t)), cols: _*)
          assert(j.nonEmpty && j === pairs(hof(docs, PairReference.jaccardPairExpandHof(_, t)),
            cols: _*), s"$id: threshold $t diverged")
        }
        // 3. hamming-filtered simhash expansion (the HOF form filters
        // after the explode)
        for (mh <- Seq(0, 3, 16)) {
          val s = pairs(gen(items, PairKernel.Hamming(mh)), "doc_a", "doc_b", "hamming")
          assert(s === pairs(hof(items, PairReference.simhashPairExpandHof)
            .where(col("hamming") <= mh), "doc_a", "doc_b", "hamming"), s"$id: maxHamming $mh diverged")
        }
      } finally rows.unpersist()
    }
  }

  test("a repeated id with a different simhash or vector never pairs with itself") {
    import spark.implicits._
    // id 1 appears twice with payloads a bit or a hair apart: both
    // copies share a bucket with each other and with id 2 (or 3)
    val fps = Seq((1L, 0x0F0FL), (1L, 0x0F0EL), (2L, 0x0F0CL)).toDF("doc", "simhash")
    val sh = Dedup.simhashCandidates(fps).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(sh === Set((1L, 2L, 2), (1L, 2L, 1)), "each copy pairs with 2, never with itself")
    val emb = Seq((1L, Array(1.0f, 0.0f, 0.2f, 0.1f)), (1L, Array(1.0f, 0.0f, 0.2f, 0.1001f)),
      (2L, Array(0.999f, 0.01f, 0.2f, 0.1f)), (3L, Array(-1.0f, 0.5f, -0.2f, 0.9f)))
      .toDF("vec_id", "embedding")
    val one = Array(Array(1.0, 0.0, 0.0, 0.0)) // one cell: every item is compared
    for ((what, out) <- Seq(
        "semantic" -> Dedup.semanticNearDup(emb, "vec_id", "embedding", 0.99, centroids = one),
        "lsh" -> Dedup.embeddingNearDup(emb, "vec_id", "embedding", 0.99),
        "brute force" -> Dedup.embeddingNearDup(emb, "vec_id", "embedding", 0.99, bruteForce = true))) {
      val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.map(r => (r._1, r._2)).toSet === Set((1L, 2L)), what)
      assert(rows.length === 2, s"$what: one row per copy of id 1")
    }
  }

  test("a NaN cosine is dropped on the fused and the brute-force paths") {
    import spark.implicits._
    // [NaN, 1] scores NaN against every other vector; Spark orders NaN
    // above every double, so a bare `cos >= t` Column filter keeps it
    val emb = Seq((1L, Array(Float.NaN, 1.0f)), (2L, Array(1.0f, 1.0f)), (3L, Array(1.0f, 0.99f)))
      .toDF("vec_id", "embedding")
    for ((what, out) <- Seq(
        "fused" -> Dedup.semanticNearDup(emb, "vec_id", "embedding", 0.9,
          centroids = Array(Array(1.0, 1.0))),
        "brute force" -> Dedup.embeddingNearDup(emb, "vec_id", "embedding", 0.9, bruteForce = true))) {
      val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.map(r => (r._1, r._2)).toSet === Set((2L, 3L)), what)
      assert(!rows.exists(_._3.isNaN), what)
    }
  }

  // ── differential property: the blocking step against the HOF forms ──

  /** One trial: a kernel, id type, and 1–3 buckets of 0–60 items, each
    * item `(id, payload)`; ids come from a small pool, so they repeat,
    * and up to 6 items per bucket come again, as an exact copy or as a
    * [[twin]]. `mismatch`: one bucket holds one vector of another
    * dimension. `capMode`: the cap is 1000 (0), exactly bucket 0's
    * distinct item count (1), or one less (2). */
  private case class PairCase(kernel: PairKernel, stringIds: Boolean,
                              buckets: Seq[Seq[(Long, Any)]], mismatch: Boolean, capMode: Int)

  private val vectors: Gen[Array[Float]] = Gen.frequency(
    8 -> Gen.listOfN(4, Gen.choose(-1.0f, 1.0f)).map(v => (Array(1.0f, 1.0f, 0.5f, 0.0f) zip v)
      .map { case (c, x) => c + 0.1f * x }),
    2 -> Gen.listOfN(4, Gen.choose(-1.0f, 1.0f)).map(_.toArray),
    1 -> Gen.const(Array.fill(4)(0.0f)),
    1 -> Gen.const(Array(0.5f, -0.0f, 1.0f, 0.0f)),
    1 -> Gen.const(Array(1.0f, Float.NaN, 0.5f, 0.0f)))

  /** A vector whose zeros flip sign and whose NaNs take another payload:
    * the same sort key as `p`, a different item to `collect_set`. */
  private def twin(p: Any): Any = p match {
    case v: Array[Float] => v.map(x =>
      if (x == 0.0f) -x
      else if (x.isNaN) java.lang.Float.intBitsToFloat(java.lang.Float.floatToRawIntBits(x) ^ 1)
      else x)
    case other => other
  }

  /** Item payloads for `kernel`; `base` seeds near-duplicate simhashes. */
  private def payloads(kernel: PairKernel, base: Long): Gen[Any] = kernel match {
    case PairKernel.AllPairs => Gen.const(null)
    // ratios at and around the 0.9 / 0.5 boundaries, plus 1e-9 close
    case _: PairKernel.LengthRatio => Gen.frequency(
      3 -> Gen.oneOf(1L, 2L, 5L, 9L, 10L, 18L, 20L, 90L, 100L,
        899999999L, 900000000L, 999999999L, 1000000000L),
      1 -> Gen.choose(1L, 200L))
    case _: PairKernel.Hamming => Gen.frequency(
      6 -> Gen.listOfN(4, Gen.choose(0, 63)).map(_.foldLeft(base)((h, b) => h ^ (1L << b))),
      2 -> Gen.choose(0, 63).map(b => base ^ (1L << b)),
      1 -> Gen.choose(Long.MinValue, Long.MaxValue),
      1 -> Gen.const(null))
    case _: PairKernel.Cosine => Gen.frequency(10 -> vectors, 1 -> Gen.const(null))
  }

  private val pairCases: Gen[PairCase] = for {
    kernel <- Gen.oneOf(
      Gen.const(PairKernel.AllPairs),
      Gen.oneOf(0.5, 0.9, 1.0).map(PairKernel.LengthRatio(_)),
      Gen.oneOf(0, 3, 16).map(PairKernel.Hamming(_)),
      Gen.oneOf(0.0, 0.5, 0.95).map(PairKernel.Cosine(_)))
    stringIds <- Gen.oneOf(false, true)
    base <- Gen.choose(Long.MinValue, Long.MaxValue)
    nBuckets <- Gen.choose(1, 3)
    buckets <- Gen.listOfN(nBuckets, Gen.choose(0, 60).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.choose(0L, 40L), payloads(kernel, base)))).flatMap { items =>
        if (items.isEmpty) Gen.const(items)
        else Gen.choose(0, 6)
          .flatMap(k => Gen.listOfN(k, Gen.zip(Gen.choose(0, items.size - 1), Gen.oneOf(false, true))))
          .map(again => items ++ again.map { case (i, flip) =>
            val (id, p) = items(i); (id, if (flip) twin(p) else p) })
      })
    mismatch <- Gen.frequency(6 -> false, 1 -> kernel.isInstanceOf[PairKernel.Cosine])
    capMode <- Gen.frequency(2 -> 0, 1 -> 1, 1 -> 2)
  } yield PairCase(kernel, stringIds, buckets.map(_.toSeq), mismatch, capMode)

  /** The case's items: bare ids for the all-pairs kernel, else
    * `Row(id, payload)`, per bucket. */
  private def caseItems(c: PairCase): Seq[Seq[Any]] = {
    import org.apache.spark.sql.Row
    def id(i: Long): Any = if (c.stringIds) s"d$i" else i
    c.buckets.zipWithIndex.map { case (items, b) =>
      items.zipWithIndex.map { case ((i, p), k) =>
        if (c.kernel == PairKernel.AllPairs) id(i)
        else {
          val v = p match {
            // the last item of bucket 0 takes a 5th dimension
            case a: Array[Float] => if (c.mismatch && b == 0 && k == items.size - 1) (a :+ 0.5f).toSeq else a.toSeq
            case other => other
          }
          Row(id(i), v)
        }
      }
    }
  }

  /** An item as a Scala value with floats by their raw bits, or with
    * `sortKey` by the bits Spark's ordering sees (-0.0 as 0.0, one NaN). */
  private def itemKey(item: Any, sortKey: Boolean = false): Any = item match {
    case r: org.apache.spark.sql.Row => r.toSeq.map(itemKey(_, sortKey))
    case s: Seq[_] => s.map(itemKey(_, sortKey))
    case f: Float =>
      java.lang.Float.floatToRawIntBits(if (!sortKey) f else if (f.isNaN) Float.NaN else f + 0.0f)
    case other => other
  }

  /** The case's `(bucket, item)` rows: one row per item. */
  private def caseFrame(c: PairCase): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val idType = if (c.stringIds) StringType else LongType
    val (field, payloadType) = c.kernel match {
      case _: PairKernel.LengthRatio => ("n_sh", LongType)
      case _: PairKernel.Hamming => ("simhash", LongType)
      case _ => ("v", ArrayType(FloatType))
    }
    val itemType =
      if (c.kernel == PairKernel.AllPairs) idType
      else StructType(Seq(StructField("doc", idType), StructField(field, payloadType)))
    val rows = caseItems(c).zipWithIndex.flatMap { case (items, b) => items.map(Row(b, _)) }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("bucket", IntegerType), StructField("item", itemType))))
  }

  /** Pairs as a multiset, doubles by their bits; or the root failure. */
  private def outcome(df: => DataFrame, cols: Seq[String]): Either[(String, String), Map[Seq[Any], Int]] =
    scala.util.Try(df.select(cols.map(col): _*).collect()) match {
      case scala.util.Success(rows) => Right(rows.toSeq.map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case v => v
      }).groupBy(identity).map { case (k, v) => k -> v.size })
      case scala.util.Failure(e) =>
        var root: Throwable = e
        while (root.getCause != null) root = root.getCause
        Left((root.getClass.getName, root.getMessage))
    }

  test("property: the pair generator equals the nested-HOF forms on random buckets") {
    // coverage: trials that threw, trials with pairs per kernel, bucket
    // 0 at exactly the cap and one over it, and ±0.0 / NaN twins
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val prop = Prop.forAllNoShrink(pairCases) { c =>
      val df = caseFrame(c)
      val items = caseItems(c)
      val distinct0 = items.head.map(itemKey(_)).distinct.size
      val cap = c.capMode match { case 0 => 1000; case 1 => distinct0; case _ => distinct0 - 1 }
      val blocked = PairReference.collectSetBlocking(df, Seq("bucket"), col("item"), cap)
      def hof(e: Column => Column) = blocked.select(explode(e(col("_items"))).as("p")).select("p.*")
      // the reference side, with equal-id pairs and NaN cosines dropped
      val (cols, reference) = c.kernel match {
        case PairKernel.AllPairs =>
          (Seq("doc_a", "doc_b"), hof(PairReference.candidatePairExpandHof))
        case PairKernel.LengthRatio(t) =>
          (Seq("doc_a", "doc_b", "sh_a", "sh_b"), hof(PairReference.jaccardPairExpandHof(_, t)))
        case PairKernel.Hamming(k) =>
          (Seq("doc_a", "doc_b", "hamming"),
            hof(PairReference.simhashPairExpandHof).where(col("hamming") <= k))
        case PairKernel.Cosine(t) =>
          (Seq("doc_a", "doc_b", "cos"),
            hof(PairReference.cosinePairExpandHof).where(col("cos") >= t && !isnan(col("cos"))))
      }
      val want = outcome(reference.where(col("doc_a") =!= col("doc_b")), cols)
      val got = outcome(Dedup.pairsInBuckets(df, Seq("bucket"), col("item"), cap, c.kernel), cols)
      seen(want.fold(_ => "threw", p => c.kernel.productPrefix + (if (p.isEmpty) "-empty" else ""))) += 1
      if (distinct0 >= 3 && c.capMode > 0) seen(if (c.capMode == 1) "at cap" else "over cap") += 1
      val flat = items.flatten
      if (flat.map(itemKey(_)).distinct.size > flat.map(itemKey(_, sortKey = true)).distinct.size)
        seen("twins") += 1
      Prop(got == want) :| s"got=$got want=$want cap=$cap case=$c"
    }
    val result = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(120).withInitialSeed(Seed(20261017L)).withWorkers(1), prop)
    assert(result.passed, Pretty.pretty(result))
    info(s"trials by outcome: $seen")
    for (k <- Seq("threw", "AllPairs", "LengthRatio", "Hamming", "Cosine", "at cap", "over cap", "twins"))
      assert(seen(k) > 0, s"no trial covered $k: $seen")
  }

  test("shingle sets: sort_array orders them exactly as array_sort did") {
    import spark.implicits._
    val sets = Dedup.shingleSets(docs, "doc_id", "text", 3)
      .collect().map(r => r.get(0) -> r.getSeq[Long](1)).toMap
    // the superseded form: HOF tokenizer, lambda-comparator array_sort
    val reference = docs
      .select(col("doc_id").as("doc"), TextReference.tokensHof(col("text")).as("_tk"))
      .select(col("doc"), array_sort(array_distinct(Dedup.shingleHashes(col("_tk"), 3))))
      .collect().map(r => r.get(0) -> r.getSeq[Long](1)).toMap
    assert(sets.size == 5 && sets === reference)
    // the extremes of the long order, and duplicate hashes
    val edge = Seq(
      Seq(Long.MaxValue, 0L, Long.MinValue, -1L, Long.MaxValue, 1L, Long.MinValue),
      Seq(7L, 7L, 7L), Seq.empty[Long]).toDF("h")
      .select(sort_array(array_distinct(col("h"))), array_sort(array_distinct(col("h"))))
      .collect()
    edge.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
    assert(edge(0).getSeq[Long](0) === Seq(Long.MinValue, -1L, 0L, 1L, Long.MaxValue))
    assert(edge(1).getSeq[Long](0) === Seq(7L))
  }

  test("the minhash and simhash pipelines evaluate no interpreted lambda") {
    // the tokenizer and the set sort used to be HOFs (CodegenFallback);
    // a file source keeps the projections from being folded at planning
    val dir = tmpDir("dedup_no_lambda")
    docs.write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val minhash = Dedup.minhashNearDup(corpus, "doc_id", "text")
    val simhash = Dedup.verifiedJaccard(corpus,
      Dedup.simhashCandidates(Dedup.simhash(corpus, "doc_id", "text")), "doc_id", "text")
    for (df <- Seq(minhash, simhash)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("word_tokens") && !plan.contains("lambdafunction"), plan)
    }
  }

  test("minhash and simhash blocking runs no object or sort aggregate on the bucket key") {
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
    val dir = tmpDir("dedup_blocking_plan")
    docs.write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val keys = Set("band", "bucket", "chunk_idx", "chunk")
    for ((what, df) <- Seq(
        "minhashNearDup" -> Dedup.minhashNearDup(corpus, "doc_id", "text"),
        "simhashCandidates" -> Dedup.simhashCandidates(Dedup.simhash(corpus, "doc_id", "text")))) {
      assert(df.collect().nonEmpty, what)
      val nodes = graft.PlanAudit.nodes(df)
      val onBucket = nodes.collect {
        case a: ObjectHashAggregateExec => a.groupingExpressions
        case a: SortAggregateExec => a.groupingExpressions
      }.filter(_.exists(_.references.exists(r => keys(r.name))))
      assert(onBucket.isEmpty, s"$what aggregates on the bucket key: ${nodes.head.treeString}")
      assert(graft.PlanAudit.shuffles(df).nonEmpty, s"$what: the blocking exchange is gone")
    }
  }

  test("simhash tokenizes each document once and drops docs with no tokens") {
    import spark.implicits._
    val dir = tmpDir("dedup_simhash_tokens")
    docs.unionByName(Seq((6L, ""), (7L, "!!! ..."), (8L, null)).toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(dir)
    val fps = Dedup.simhash(spark.read.parquet(dir), "doc_id", "text")
    val plan = fps.queryExecution.executedPlan.toString
    assert("word_tokens\\(".r.findAllMatchIn(plan).size === 1, plan)
    assert(fps.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("prefix-filtered jaccard equals the inverted-index form at every threshold") {
    // prefix filtering is an EXACT algorithm — the theorem says the
    // smallest common shingle lands in both prefixes; any divergence
    // from ngramJaccard is a bug, not approximation error
    for (t <- Seq(0.3, 0.5, 0.9)) {
      val exact = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = t,
          maxShingleDf = 10000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val pref = Dedup.ngramJaccardPrefix(docs, "doc_id", "text", n = 3, threshold = t,
          maxShingleDf = 10000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(pref === exact, s"prefix-filtered result diverged at threshold $t")
    }
    assert(Dedup.ngramJaccardPrefix(docs, "doc_id", "text", threshold = 0.5).count() > 0)
    // float-boundary regression: |A| = 10 shingles, B = A minus its
    // last shingle → J = 9/10 = t exactly. The theorem's prefix bound
    // is ⌊(1−t)·10⌋+1 = 2, but a bare floor over doubles computes
    // floor(10 · (1.0−0.9)) = floor(0.9999…) = 0 — one short at
    // exactly the tight case, losing any group whose A-only shingle
    // hashes smallest. 20 varied-vocabulary groups make the hash-order
    // bad case near-certain to occur at least once.
    import spark.implicits._
    val boundary = (0 until 20).flatMap { g =>
      val a = (0 until 12).map(j => s"w${g}x$j").mkString(" ")
      Seq((100L + 2 * g, a), (101L + 2 * g, a.split(" ").dropRight(1).mkString(" ")))
    }.toDF("doc_id", "text")
    val exactB = Dedup.ngramJaccard(boundary, "doc_id", "text", n = 3,
      threshold = 0.9, maxShingleDf = 10000).count()
    assert(exactB === 20L, "each group's (A, A-minus-one) pair sits at J = 0.9 exactly")
    assert(Dedup.ngramJaccardPrefix(boundary, "doc_id", "text", n = 3, threshold = 0.9)
      .count() === exactB, "prefix bound must not truncate at integer (1-t)*n")

    // edge: empty and punctuation-only docs have no shingles — they must
    // be silently absent from pairs, not crash the prefix slice; and
    // t=1.0 (prefix length 1) still catches exact-duplicate sets
    val withEmpty = docs.unionByName(Seq((6L, ""), (7L, "!!! ...")).toDF("doc_id", "text"))
    val strict = Dedup.ngramJaccardPrefix(withEmpty, "doc_id", "text", threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(strict.toSet === Set((1L, 2L), (1L, 5L), (2L, 5L)),
      "t=1.0 must yield exactly the identical-content pairs")
  }

  test("contamination flags the source doc, not unrelated docs; hot shingles dropped") {
    import spark.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "completely different content about spark query engines and parquet files"),
      (3L, "the quick brown fox jumps over the lazy dog every single day")
    ).toDF("doc_id", "text")
    // bench doc = an excerpt of train doc 1
    val bench = Seq((10L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val got = Dedup.contamination(train, bench, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toList
    val ids = got.map(_._1).toSet
    assert(ids.contains(1L), "source doc must be flagged")
    assert(got.find(_._1 == 1L).get._3 === 1.0, "full containment -> frac 1.0")
    assert(ids.contains(3L), "near-copy sharing most shingles must be flagged")
    assert(!ids.contains(2L), "unrelated doc must not be flagged")
    // df cutoff: with maxShingleDf = 1 every bench shingle appears in 2
    // train docs -> all dropped -> no pairs at all
    val capped = Dedup.contamination(train, bench, "doc_id", "text",
      n = 3, threshold = 0.5, maxShingleDf = 1)
    assert(capped.count() === 0, "hot shingles above the df cap must be dropped")
    // the diagnostic reports exactly the dropped shingles, with text and
    // train-df — what the guard absorbed is observable, not silent
    val hot = Dedup.contaminationHotShingles(train, bench, "doc_id", "text",
        n = 3, maxShingleDf = 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(hot.nonEmpty && hot.forall(_._2 === 2L),
      "every bench shingle appears in train docs 1 and 3 -> df 2 for all")
    assert(hot.exists(_._1 === "the quick brown"))
    assert(Dedup.contaminationHotShingles(train, bench, "doc_id", "text", n = 3)
      .count() === 0, "default cutoff drops nothing on a healthy corpus")
  }

  test("oversized buckets are dropped by the skew cap") {
    import spark.implicits._
    // 12 identical docs -> one bucket of 12 > maxBucket=10 -> dropped
    val many = (1L to 12L).map(i => (i, "same same same text")).toDF("doc_id", "text")
    val capped = Dedup.minhashCandidates(many, "doc_id", "text", maxBucket = 10)
    assert(capped.count() === 0, "hot bucket above the cap must yield no pairs")
    val uncapped = Dedup.minhashCandidates(many, "doc_id", "text", maxBucket = 100)
    assert(uncapped.count() === 12L * 11 / 2)
  }

  test("clusters: transitive chains collapse to the component minimum (both paths)") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3, no direct 1-4 pair), separate pair
    // 10-11, singleton edge 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val expect = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L)
    // small graph → local union-find path
    val local = Dedup.clusters(pairs).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(local === expect)
    // threshold 0 → distributed label-propagation path, same answer
    val dist = Dedup.clusters(pairs, localEdgeThreshold = 0L).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(dist === expect)
  }

  test("clusters: a cycle converges on both paths (not just trees)") {
    import spark.implicits._
    val pairs = Seq((5L, 6L), (6L, 7L), (7L, 5L), (7L, 8L)).toDF("doc_a", "doc_b")
    val expect = Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 5L)
    assert(Dedup.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap === expect)
    assert(Dedup.clusters(pairs, localEdgeThreshold = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap === expect)
  }

  test("keepBest: preference order picks the winner; singletons keep themselves") {
    import spark.implicits._
    // cluster {1,2,3} via a chain (no direct 1-3 pair), cluster {10,11},
    // singletons 20 and 21
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val docs = Seq(
      (1L, 50L), (2L, 90L), (3L, 70L), // longest is doc 2, not min-id 1
      (10L, 40L), (11L, 40L),          // tie → min id 10 wins
      (20L, 5L), (21L, 99L)            // unpaired: each its own keeper
    ).toDF("doc_id", "n_chars")
    val got = Dedup.keepBest(docs, pairs, "doc_id", Seq(col("n_chars").desc))
      .select("doc_id", "canonical", "keep").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got === Map(
      1L -> ((1L, false)), 2L -> ((1L, true)), 3L -> ((1L, false)),
      10L -> ((10L, true)), 11L -> ((10L, false)),
      20L -> ((20L, true)), 21L -> ((21L, true))))
    // cluster identity (canonical) must NOT depend on the preference
    // order — only keeper choice does
    val byMin = Dedup.keepBest(docs, pairs, "doc_id", Seq(col("n_chars").asc))
      .select("doc_id", "canonical").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byMin === got.map { case (k, (c, _)) => k -> c })
    // exactly one keeper per cluster, always
    val keepersPerCluster = got.values.groupBy(_._1).map { case (c, vs) =>
      c -> vs.count(_._2) }
    assert(keepersPerCluster.values.forall(_ == 1), s"got $keepersPerCluster")
  }

  test("withCanonical + splitAssign: near-dup clusters never straddle splits") {
    import spark.implicits._
    // the leakage-safe-eval composition: splitting on the CLUSTER label
    // puts every member of a duplicate cluster in the same split, so a
    // held-out doc's near-dups cannot leak into train
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val docs = (Seq(1L, 2L, 3L, 10L, 11L) ++ (100L until 400L)).toDF("doc_id")
    val labeled = Sampling.splitAssign(
        Dedup.withCanonical(docs, pairs, "doc_id"),
        col("canonical"), Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2))
      .select("doc_id", "canonical", "split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // every cluster is wholly inside one split
    labeled.groupBy(_._2).foreach { case (canon, members) =>
      assert(members.map(_._3).distinct.length === 1,
        s"cluster $canon straddles splits: ${members.toSeq}")
    }
    // and the corpus still actually splits (all three labels used)
    assert(labeled.map(_._3).distinct.sorted.toSeq === Seq("test", "train", "val"))
    // a doc's split under the cluster key equals hashing its CANONICAL:
    // singletons match the plain doc-id split exactly
    val plain = Sampling.splitAssign(docs, col("doc_id"),
        Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    labeled.filter(x => x._1 == x._2).foreach { case (id, _, s) =>
      assert(plain(id) === s, s"singleton $id: cluster-keyed split must equal doc-keyed")
    }
  }

  test("clusters: empty pair set yields an empty labeling") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.clusters(empty).count() === 0)
    assert(Dedup.clusters(empty, localEdgeThreshold = 0L).count() === 0)
  }

  test("clusters: string ids work on both paths") {
    import spark.implicits._
    val pairs = Seq(("b", "c"), ("a", "b")).toDF("doc_a", "doc_b")
    val expect = Map("a" -> "a", "b" -> "a", "c" -> "a")
    assert(Dedup.clusters(pairs).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap === expect)
    assert(Dedup.clusters(pairs, localEdgeThreshold = 0L).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap === expect)
  }

  test("verifiedJaccardOnSets: two empty sets divide by zero as the session's ANSI mode says") {
    import spark.implicits._
    val sets = Seq((1L, Seq.empty[Long]), (2L, Seq.empty[Long]), (3L, Seq(5L, 7L)))
      .toDF("doc", "sh_set")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      val err = intercept[Exception](Dedup.verifiedJaccardOnSets(sets, pairs, 0.0).collect())
      var root: Throwable = err
      while (root.getCause != null) root = root.getCause
      assert(root.isInstanceOf[ArithmeticException] &&
        root.asInstanceOf[org.apache.spark.SparkThrowable].getCondition == "DIVIDE_BY_ZERO", root)
      spark.conf.set(key, "false")
      // the empty-empty pair's Jaccard is null and fails any threshold; the
      // one-sided pair scores 0
      val rows = Dedup.verifiedJaccardOnSets(sets, pairs, 0.0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(rows.toSeq === Seq((1L, 3L, 0L, 0.0)))
    } finally spark.conf.set(key, before)
  }

  test("verification plans sort, dedup and intersect sets with the native kernels only") {
    import org.apache.spark.sql.execution.FilterExec
    val dir = tmpDir("dedup_set_kernels")
    docs.write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    for ((what, df) <- Seq(
        "minhashNearDup" -> Dedup.minhashNearDup(corpus, "doc_id", "text"),
        "simhash verifiedJaccard" -> Dedup.verifiedJaccard(corpus,
          Dedup.simhashCandidates(Dedup.simhash(corpus, "doc_id", "text")), "doc_id", "text"))) {
      assert(df.collect().nonEmpty, what)
      val plan = df.queryExecution.executedPlan.toString
      for (f <- Seq("array_intersect", "array_distinct", "sort_array"))
        assert(!plan.contains(f), s"$what still runs $f:\n$plan")
      assert(plan.contains("sorted_distinct"), s"$what: no set kernel\n$plan")
      val filters = graft.PlanAudit.nodes(df).collect { case f: FilterExec => f.condition.toString }
        .filter(_.contains("set_"))
      assert(filters.size == 1 && "set_jaccard\\(".r.findAllMatchIn(filters.head).size == 1 &&
        !filters.head.contains("set_overlap"), s"$what: pair kernel in the filter: $filters")
    }
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.GraftTestBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; org.apache.spark.GraftTestBridge.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("clusters over a small local pair frame starts no Spark job") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    var got = Map.empty[Long, Long]
    val jobs = jobsDuring {
      got = Dedup.clusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    assert(jobs === 0, s"clusters over local pairs ran $jobs job(s)")
  }

  test("clusters: identical labels on both paths with the pair count at, under and over the threshold") {
    import spark.implicits._
    // 8 pair rows; the repeats and the reversed copy add rows but no edge
    val pairs = Seq((1L, 2L), (2L, 3L), (2L, 1L), (3L, 4L), (1L, 2L), (10L, 11L), (20L, 21L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val file = tmpDir("dedup_cluster_threshold")
    pairs.write.mode("overwrite").parquet(file)
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L)
    for (src <- Seq(pairs, spark.read.parquet(file)); t <- Seq(0L, 7L, 8L, 9L, 1000000L)) {
      val got = Dedup.clusters(src, localEdgeThreshold = t).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expect, s"threshold $t")
      // the local path answers from a local relation; the distributed
      // path from its last label-propagation round
      val local = Dedup.clusters(src, localEdgeThreshold = t).queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
      assert(local === (t >= 8L), s"threshold $t picked the ${if (local) "local" else "distributed"} path")
    }
  }

  test("clusters reads a computed pair frame's lineage once on the distributed path") {
    import spark.implicits._
    // every pair row passes through a counting UDF: the bounded read and
    // the label propagation must not each recompute the pairs
    val calls = spark.sparkContext.longAccumulator("clusters_pair_rows")
    val tick = udf { (a: Long) => calls.add(1L); a }
    val file = tmpDir("dedup_cluster_lineage")
    Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
      .write.mode("overwrite").parquet(file)
    val pairs = spark.read.parquet(file).select(tick(col("doc_a")).as("doc_a"), col("doc_b"))
    // twice: a cache left behind by the first call would serve the second
    for (run <- 1 to 2) {
      calls.reset()
      val got = Dedup.clusters(pairs, localEdgeThreshold = 0L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      assert(calls.value === 3L, s"call $run computed the 3 pair rows ${calls.value} times")
    }
  }

  test("clusters: long chain needs its diameter in rounds; maxIters guards") {
    import spark.implicits._
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.clusters(chain, maxIters = 40, localEdgeThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 30 && got.forall(_._2 == 1L))
    intercept[IllegalArgumentException] {
      Dedup.clusters(chain, maxIters = 2, localEdgeThreshold = 0L).collect()
    }
  }

  // ───── substring-level (window-hash) duplication

  private def subDup(rows: Seq[(Long, String)], k: Int = 3): Map[Long, (Long, Long, Long, Long, Long, Double)] = {
    import spark.implicits._
    Dedup.substringDup(rows.toDF("doc_id", "text"), k = k).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
  }

  test("substringDup: cross-document shared span is flagged in both docs") {
    // docs 1 and 2 share the 4-token run "aa bb cc dd" → with k=3 the
    // two windows (aa bb cc), (bb cc dd) occur twice each
    val m = subDup(Seq(
      (1L, "aa bb cc dd xx yy"),
      (2L, "pp qq aa bb cc dd"),
      (3L, "zz ww vv uu tt ss")))
    // doc1: 6 tokens, 4 windows, dup at pos 0,1 → 1 span covering 0..3 = 4 tokens
    assert(m(1L) === ((6L, 4L, 2L, 1L, 4L, 0.666667)))
    // doc2: dup windows at pos 2,3 → span 2..5 = 4 tokens
    assert(m(2L) === ((6L, 4L, 2L, 1L, 4L, 0.666667)))
    // doc3: nothing shared
    assert(m(3L) === ((6L, 4L, 0L, 0L, 0L, 0.0)))
  }

  test("substringDup: within-document repetition counts as duplication") {
    val m = subDup(Seq((1L, "aa bb cc xx aa bb cc"), (2L, "qq rr ss tt")))
    // "aa bb cc" occurs twice WITHIN doc 1 → dup windows at pos 0 and 4,
    // gap 4 > k=3 → two separate spans of 3 tokens each
    assert(m(1L) === ((7L, 5L, 2L, 2L, 6L, 0.857143)))
    assert(m(2L)._3 === 0L)
  }

  test("substringDup: overlapping and adjacent dup windows merge into one span") {
    // doc 1 and 2 identical → every window duplicated; all windows chain
    // into ONE span covering the whole doc
    val m = subDup(Seq(
      (1L, "aa bb cc dd ee ff gg"),
      (2L, "aa bb cc dd ee ff gg")))
    assert(m(1L) === ((7L, 5L, 5L, 1L, 7L, 1.0)))
    assert(m(2L) === m(1L))
  }

  test("substringDup: docs shorter than k have zero windows, zero fraction") {
    val m = subDup(Seq((1L, "aa bb"), (2L, "aa bb"), (3L, "")))
    // identical 2-token docs: NO whole-doc fallback — substring dedup
    // only sees k-windows (exact dedup covers short-identity)
    assert(m(1L) === ((2L, 0L, 0L, 0L, 0L, 0.0)))
    assert(m(3L) === ((0L, 0L, 0L, 0L, 0L, 0.0)))
  }

  test("substringDup: tokenizer normalizes case and punctuation before hashing") {
    val m = subDup(Seq(
      (1L, "The Quick,   Brown FOX jumps"),
      (2L, "the quick brown fox sleeps")))
    // normalized prefixes share windows (the quick brown), (quick brown fox)
    assert(m(1L)._3 === 2L && m(2L)._3 === 2L)
  }

  private def stringShuffles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
    def hasText(t: DataType): Boolean = t match {
      case StringType => true
      case ArrayType(e, _) => hasText(e)
      case _ => false
    }
    def walk(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case st: QueryStageExec => walk(st.plan)
      case e: ShuffleExchangeExec => e +: e.children.flatMap(walk)
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
      .filter(_.schema.fields.exists(f => hasText(f.dataType)))
      .map(_.schema.fieldNames.mkString(","))
  }

  test("substringDup: no shuffle carries text bytes — 8-byte window hashes only") {
    import spark.implicits._
    val df = (1L to 40L).map(i =>
      (i, s"tok${i % 7} aa bb cc dd tok${i % 5} ee ff gg hh ii")).toDF("doc_id", "text")
    val r = Dedup.substringDup(df)
    r.collect()
    val bad = stringShuffles(r)
    assert(bad.isEmpty, s"substringDup shuffled text: $bad")
  }

  test("removeDupSpans: text bytes shuffle at most once (the doc-keyed interval join)") {
    import spark.implicits._
    val df = (1L to 40L).map(i =>
      (i, s"tok${i % 7} aa bb cc dd tok${i % 5} ee ff gg hh ii")).toDF("doc_id", "text")
    val r = Dedup.removeDupSpans(df)
    r.collect()
    // the interval join may BROADCAST the span side (then text never
    // shuffles at all); the claim is the bound, not the exact count
    val bad = stringShuffles(r)
    assert(bad.size <= 1, s"removeDupSpans shuffled text ${bad.size} times: $bad")
  }

  // ───── span removal (the rewrite half of substring dedup)

  private def despan(rows: Seq[(Long, String)], k: Int = 3): Map[Long, (String, Long, Long)] = {
    import spark.implicits._
    Dedup.removeDupSpans(rows.toDF("doc_id", "text"), k = k).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
  }

  test("removeDupSpans: first occurrence kept, later docs lose the shared span") {
    val m = despan(Seq(
      (1L, "aa bb cc dd xx yy"),
      (2L, "pp qq aa bb cc dd"),
      (3L, "zz ww vv uu tt ss")))
    // doc1 owns the canonical occurrences (min doc_id) — untouched
    assert(m(1L) === (("aa bb cc dd xx yy", 6L, 0L)))
    // doc2's copy of the span (tokens 2..5) is excised
    assert(m(2L) === (("pp qq", 6L, 4L)))
    assert(m(3L) === (("zz ww vv uu tt ss", 6L, 0L)))
  }

  test("removeDupSpans: within-doc repetition keeps the first occurrence") {
    val m = despan(Seq((1L, "aa bb cc xx aa bb cc")))
    // second "aa bb cc" (pos 4..6) is the redundant occurrence
    assert(m(1L) === (("aa bb cc xx", 7L, 3L)))
  }

  test("removeDupSpans: identical docs — lower id survives intact, higher id is emptied") {
    val m = despan(Seq(
      (1L, "aa bb cc dd ee"),
      (2L, "aa bb cc dd ee")))
    assert(m(1L) === (("aa bb cc dd ee", 5L, 0L)))
    assert(m(2L) === (("", 5L, 5L)))
  }

  test("removeDupSpans: short docs and empty docs pass through") {
    val m = despan(Seq((1L, "aa bb"), (2L, "aa bb"), (3L, "")))
    assert(m(1L) === (("aa bb", 2L, 0L)))
    assert(m(2L) === (("aa bb", 2L, 0L)))
    assert(m(3L) === (("", 0L, 0L)))
  }

  test("removeDupSpans: output text is in the normalized token space") {
    val m = despan(Seq((1L, "The Quick,  Brown FOX")))
    assert(m(1L)._1 === "the quick brown fox")
  }

  test("substringDup: minCount raises the duplication bar") {
    val rows = Seq(
      (1L, "aa bb cc dd"),
      (2L, "aa bb cc ee"),
      (3L, "aa bb cc ff"))
    import spark.implicits._
    val df = rows.toDF("doc_id", "text")
    val at2 = Dedup.substringDup(df, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val at4 = Dedup.substringDup(df, k = 3, minCount = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    // "aa bb cc" occurs 3 times: duplicated at minCount=2, not at 4
    assert(at2.values.forall(_ >= 1L))
    assert(at4.values.forall(_ === 0L))
  }

  test("shingleHashes equals transform(shingles, xxhash64) bit-for-bit") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("tk"))
    def collectMap(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    for (n <- Seq(2, 3, 8)) {
      val native = collectMap(corpus.select(col("doc_id"),
        Dedup.shingleHashes(col("tk"), n).as("sh")))
      val hof = collectMap(corpus.select(col("doc_id"),
        transform(Dedup.shingles(col("tk"), n), s => xxhash64(s)).as("sh")))
      assert(native.size > 100 && native === hof, s"n=$n")
    }
    // edges: short doc (whole-doc fallback), single token, null text
    import spark.implicits._
    val edge = Seq((1L, "a b"), (2L, "solo"), (3L, null.asInstanceOf[String]),
      (4L, "x y z w"), (5L, "!!!"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("tk"))
    val en = collectMap(edge.select(col("doc_id"), Dedup.shingleHashes(col("tk"), 3).as("sh")))
    val eh = collectMap(edge.select(col("doc_id"),
      transform(Dedup.shingles(col("tk"), 3), s => xxhash64(s)).as("sh")))
    assert(en === eh)
    assert(en(1L).length == 1 && en(3L).isEmpty && en(5L).isEmpty)
  }

  test("WindowHashes equals the per-window HOF recomputation bit-for-bit") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("tk"))
    def run(f: (Column, Int) => Column) = docs
      .select(col("doc_id"), f(col("tk"), 8).as("wh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val native = run(Dedup.windowHashes)
    val hof = run(KernelReference.windowHashesHof)
    assert(native.size > 100 && native.exists(_._2.nonEmpty))
    assert(native === hof)
    // edge cases: null text -> empty, short doc -> empty, multi-space
    // and punctuation-heavy text (separator-byte adjacency)
    import spark.implicits._
    val edge = Seq((1L, "a b c d e f g h i"), (2L, "a b"), (3L, null.asInstanceOf[String]),
      (4L, "  x   y!!z w a b c d e  "), (5L, "aa bb cc dd ee ff gg hh"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("tk"))
    val en = edge.select(col("doc_id"), Dedup.windowHashes(col("tk"), 8).as("wh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val eh = edge.select(col("doc_id"), KernelReference.windowHashesHof(col("tk"), 8).as("wh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(en === eh)
    assert(en(2L).isEmpty && en(3L).isEmpty)
  }
}
