package graft.functions

import graft.SparkSpec
import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.functions._

/** Pins the fused fingerprint expressions (SimHash64,
  * MinHashBandBuckets) BIT-IDENTICAL to the aggregate formulations they
  * replaced — the superseded forms are recomputed here with plain
  * `xxhash64`/explode/groupBy DataFrame ops, so any drift in seed
  * chaining, null handling, or tie-breaks fails loudly instead of
  * silently moving `dedup_simhash`/`dedup_minhash` oracle hashes. */
class FusedFingerprintSpec extends SparkSpec {

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))

  test("SimHash64 equals the 65-aggregate groupBy recomputation bit-for-bit") {
    val fused = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the superseded aggregate form, verbatim
    val exploded = docs
      .select(col("doc_id").as("doc"), explode(TextAnalysis.tokensCol(col("text"))).as("t"))
      .select(col("doc"), xxhash64(col("t")).as("h"))
    val aggs = count(lit(1)).as("n") +:
      (0 until 64).map(b => sum(shiftright(col("h"), b).bitwiseAND(1L).cast("int")).as(s"c$b"))
    val counted = exploded.groupBy("doc").agg(aggs.head, aggs.tail: _*)
    val fp = (0 until 64).map { b =>
      when(col(s"c$b") * 2 > col("n"), lit(1L << b)).otherwise(0L)
    }.reduce(_ bitwiseOR _)
    val agg = counted.select(col("doc"), fp.as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused.size > 100, "fixture corpus must actually exercise the fingerprint")
    assert(fused === agg)
  }

  test("SimHash64 keeps the aggregate form's drop-empty-docs and null semantics") {
    import spark.implicits._
    val edge = Seq((1L, "alpha beta gamma"), (2L, ""), (3L, null.asInstanceOf[String]),
      (4L, "!!! ???"), (5L, "alpha beta gamma")).toDF("doc_id", "text")
    val out = Dedup.simhash(edge, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // empty, null, and punctuation-only texts tokenize to nothing → dropped
    assert(out.keySet === Set(1L, 5L))
    assert(out(1L) === out(5L), "identical content ⟹ identical fingerprint")
  }

  test("MinHashBandBuckets equals the 64-min-aggregate recomputation bit-for-bit") {
    val numHashes = 64; val bands = 16; val r = numHashes / bands
    val shs = docs
      .select(col("doc_id").as("doc"), TextAnalysis.tokensCol(col("text")).as("toks"))
      .select(col("doc"), Dedup.shingles(col("toks"), 3).as("shs"))
    val fused = shs.where(size(col("shs")) > 0)
      .select(col("doc"), posexplode(GraftColumnBridge.column(
        MinHashBandBuckets(GraftColumnBridge.expression(col("shs")), numHashes, bands)))
        .as(Seq("band", "bucket")))
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
    // the superseded aggregate form, verbatim
    val exploded = shs.select(col("doc"), explode(col("shs")).as("shingle"))
      .select(col("doc"), xxhash64(col("shingle")).as("h"))
    val slotMins = (0 until numHashes).map(i => min(xxhash64(lit(i), col("h"))).as(s"mh$i"))
    val sig = exploded.groupBy("doc").agg(slotMins.head, slotMins.tail: _*)
    val bandHashes = (0 until bands).map { b =>
      xxhash64(lit(b) +: (b * r until (b + 1) * r).map(j => col(s"mh$j")): _*)
    }
    val agg = sig.select(col("doc"), posexplode(array(bandHashes: _*)).as(Seq("band", "bucket")))
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
    assert(fused.size > 1000, "fixture corpus must actually exercise the banding")
    assert(fused === agg)
  }

  test("fused fingerprint stages are narrow: no exchange before the blocking groupBy") {
    // the zero-exchange claim is a PLAN property — pin it, don't argue
    // it: simhash must plan with NO shuffle at all, and the minhash
    // candidate pipeline's only shuffles are the (bucket, band)
    // blocking exchange + its pair-distinct (both AFTER the signature)
    val sim = Dedup.simhash(docs, "doc_id", "text")
    val simPlan = sim.queryExecution.executedPlan.toString
    assert(!simPlan.contains("Exchange"),
      s"simhash must be a narrow map, plan was:\n$simPlan")
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text")
    cand.count() // materialize so AQE settles the final plan
    val candPlan = cand.queryExecution.executedPlan.toString
    val exchanges = "(?m)^.*Exchange hashpartitioning\\(([a-zA-Z_]+)".r
      .findAllMatchIn(candPlan).map(_.group(1)).toSet
    assert(exchanges.subsetOf(Set("bucket", "doc_a", "doc")),
      s"unexpected exchange keys $exchanges — a signature-stage shuffle crept back in")
  }

  test("MinHashBandBuckets long-input mode equals the string mode over pre-hashed shingles") {
    // the banding must not care whether it hashes the shingle strings
    // itself or receives ShingleHashes' pre-computed base hashes
    val shs = docs
      .select(col("doc_id").as("doc"), TextAnalysis.tokensCol(col("text")).as("toks"))
      .select(col("doc"), Dedup.shingles(col("toks"), 3).as("shs"),
        Dedup.shingleHashes(col("toks"), 3).as("shh"))
    def buckets(c: String) = shs
      .select(col("doc"), posexplode(GraftColumnBridge.column(
        MinHashBandBuckets(GraftColumnBridge.expression(col(c)), 64, 16)))
        .as(Seq("band", "bucket")))
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet
    val fromStrings = buckets("shs")
    val fromHashes = buckets("shh")
    assert(fromStrings.size > 1000 && fromStrings === fromHashes)
  }

  test("MinHashSignature long-input mode equals the string mode over pre-hashed shingles") {
    // the streaming signature (nearDupStream's kernel) must not care
    // whether it hashes the shingle strings itself or receives
    // ShingleHashes' pre-computed base hashes — round-19 swapped the
    // stream to the long mode, so signatures must stay bit-identical
    val shs = docs
      .select(col("doc_id").as("doc"), TextAnalysis.tokensCol(col("text")).as("toks"))
      .select(col("doc"), Dedup.shingles(col("toks"), 3).as("shs"),
        Dedup.shingleHashes(col("toks"), 3).as("shh"))
    def sigs(c: String) = shs
      .select(col("doc"), GraftColumnBridge.column(
        MinHashSignature(GraftColumnBridge.expression(col(c)), 64)).as("sig"))
      .collect().map(x => x.getLong(0) -> x.getSeq[Long](1)).toMap
    val fromStrings = sigs("shs")
    val fromHashes = sigs("shh")
    assert(fromStrings.size > 100 && fromStrings === fromHashes)
  }

  test("MinHashBandBuckets validates its knobs and input type") {
    assertThrows[IllegalArgumentException](
      MinHashBandBuckets(GraftColumnBridge.expression(lit(1L)), 63, 16))
    import spark.implicits._
    // duplicate shingles are min-absorbed: a doc repeated inline changes nothing
    val one = Seq((1L, Seq("a b c", "b c d", "a b c"))).toDF("doc", "shs")
    val dd = Seq((1L, Seq("a b c", "b c d"))).toDF("doc", "shs")
    def buckets(df: org.apache.spark.sql.DataFrame) = df.select(
      GraftColumnBridge.column(MinHashBandBuckets(
        GraftColumnBridge.expression(col("shs")), 64, 16)))
      .collect().map(_.getSeq[Long](0)).head
    assert(buckets(one) === buckets(dd))
  }
}
