package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The incremental probe must agree with the batch pipeline run on the
  * unioned corpus — the defining property of the index: incrementality
  * changes WHEN fingerprints are computed, never WHAT pairs verify. */
class IncrementalDedupSpec extends SparkSpec {

  import spark.implicits._

  // small corpus with planted structure: exact dups, a near-dup pair,
  // and unrelated filler (ids chosen so splits are non-trivial)
  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog again and often"), // near dup of 1/2
    (4L, "completely different content about spark catalyst optimizer rules"),
    (5L, "yet another unrelated document mentioning lakehouse metadata pruning"),
    (6L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (7L, "structured streaming watermarks bound state for session windows"),
    (8L, "completely different content about spark catalyst optimizer rules two") // near dup of 4
  ).toDF("doc_id", "text")

  private def freshIndex(tag: String): String = tmpDir(s"incr_idx_$tag")

  test("postingsAndSets equals the separate minhashBuckets + shingleSets builders bit-for-bit") {
    // the probe's one-pass batch derivation must reproduce BOTH
    // single-purpose builders exactly — posting rows and set arrays —
    // or stored postings would no longer match freshly probed ones
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val fused = Dedup.postingsAndSets(corpus, "doc_id", "text", 64, 32, 3)
    val posts = fused.select(col("doc"), posexplode(col("_buckets")).as(Seq("band", "bucket")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val postsRef = Dedup.minhashBuckets(corpus, "doc_id", "text", 64, 32, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(posts.size > 1000 && posts === postsRef)
    val sets = fused.select("doc", "sh_set")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val setsRef = Dedup.shingleSets(corpus, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sets === setsRef)
  }

  test("ingest verdicts equal the batch pipeline on the unioned corpus") {
    val accepted = docs.where(col("doc_id") <= 5)
    val batch = docs.where(col("doc_id") > 5)
    val idx = freshIndex("parity")
    IncrementalDedup.buildIndex(accepted, "doc_id", "text", idx,
      numHashes = 64, bands = 32)

    val got = IncrementalDedup.ingest(batch, "doc_id", "text", idx, threshold = 0.5)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSeq

    // batch pipeline on the union, restricted to batch-involved pairs
    val allPairs = Dedup.minhashNearDup(docs, "doc_id", "text",
        threshold = 0.5, numHashes = 64, bands = 32)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchIds = Set(6L, 7L, 8L)
    def matches(d: Long): Set[Long] = allPairs.collect {
      case (a, b) if b == d && (!batchIds(a) || a < d) => a
      case (a, b) if a == d && (!batchIds(b) || b < d) => b
    }
    val expected = batchIds.toSeq.sorted.map(d => (d, matches(d).isEmpty, matches(d).size.toLong))
    assert(got === expected)
    // the planted structure must actually exercise both match kinds:
    // 6 matches accepted docs 1/2 (cross), 8 matches accepted 4 (cross), 7 kept
    assert(got.map(x => (x._1, x._2)) === Seq((6L, false), (7L, true), (8L, false)))
  }

  test("ingestPairs orients cross pairs (new, old) and flags them") {
    val accepted = docs.where(col("doc_id") <= 5)
    val batch = docs.where(col("doc_id") > 5)
    val idx = freshIndex("orient")
    IncrementalDedup.buildIndex(accepted, "doc_id", "text", idx,
      numHashes = 64, bands = 32)
    val pairs = IncrementalDedup.ingestPairs(batch, "doc_id", "text", idx,
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(4))).toSet
    // every cross pair: doc_a in batch, doc_b in accepted
    val batchIds = Set(6L, 7L, 8L)
    pairs.foreach { case (a, b, isCross) =>
      if (isCross) assert(batchIds(a) && !batchIds(b), s"cross pair ($a,$b) misoriented")
      else assert(batchIds(a) && batchIds(b), s"within pair ($a,$b) has a non-batch doc")
    }
    assert(pairs.exists(_._3), "fixture must produce at least one cross pair")
  }

  test("appendKept: the next batch dedups against previously kept docs") {
    val accepted = docs.where(col("doc_id") <= 5)
    val idx = freshIndex("append")
    IncrementalDedup.buildIndex(accepted, "doc_id", "text", idx,
      numHashes = 64, bands = 32)
    // batch 1: doc 7 is novel → kept and appended; 6 is a dup → dropped
    val b1 = docs.where(col("doc_id") === 6 || col("doc_id") === 7)
    val r1 = IncrementalDedup.ingest(b1, "doc_id", "text", idx,
        threshold = 0.5, appendKept = true)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(r1 === Map(6L -> false, 7L -> true))
    // batch 2: an exact dup of doc 7 must now be caught by the index
    val b2 = Seq(
      (20L, "structured streaming watermarks bound state for session windows"),
      (21L, "entirely novel text about z order clustering and bloom filters")
    ).toDF("doc_id", "text")
    val r2 = IncrementalDedup.ingest(b2, "doc_id", "text", idx, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), Option(r.get(3)))).toSeq.sortBy(_._1)
    assert(r2 === Seq((20L, false, Some(7L)), (21L, true, None)))
    // and the DROPPED doc 6 was NOT appended: a dup of 6's content still
    // matches only the original accepted copies (1, 2), not 6
    val b3 = Seq((30L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val p3 = IncrementalDedup.ingestPairs(b3, "doc_id", "text", idx, threshold = 0.5)
      .select("doc_b").collect().map(_.getLong(0)).toSet
    // 1, 2 exact dups; 3 a J≈0.82 near-dup — all legitimately matched
    assert(p3 === Set(1L, 2L, 3L), s"index must hold 1,2,3 but not the dropped 6: $p3")
  }

  test("replayed batch is idempotent: same verdicts, no duplicate index rows") {
    val accepted = docs.where(col("doc_id") <= 5)
    val idx = freshIndex("replay")
    IncrementalDedup.buildIndex(accepted, "doc_id", "text", idx,
      numHashes = 64, bands = 32)
    val b1 = docs.where(col("doc_id") > 5)
    def run() = IncrementalDedup.ingest(b1, "doc_id", "text", idx,
        threshold = 0.5, appendKept = true)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSet
    val first = run()
    val postings1 = spark.read.parquet(s"$idx/postings").count()
    val sets1 = spark.read.parquet(s"$idx/sets").count()
    // the driver died before the streaming commit: the SAME batch runs again
    val second = run()
    assert(second === first,
      "replay must re-derive identical verdicts (self-pair guard)")
    assert(spark.read.parquet(s"$idx/postings").count() === postings1 &&
      spark.read.parquet(s"$idx/sets").count() === sets1,
      "replayed append must not duplicate index rows")
  }

  test("ingestStream dedups a stream against the growing on-disk index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val accepted = docs.where(col("doc_id") <= 5)
    val idx = freshIndex("stream")
    IncrementalDedup.buildIndex(accepted, "doc_id", "text", idx,
      numHashes = 64, bands = 32)
    val stream = MemoryStream[(Long, String)]
    val q = IncrementalDedup.ingestStream(
      stream.toDS().toDF("doc_id", "text"), "doc_id", "text", idx,
      checkpoint = tmpDir("incr_stream_ckpt"))
    try {
      // batch 0: 6 dups resident content, 7 is novel -> kept+appended
      stream.addData(
        (6L, "the quick brown fox jumps over the lazy dog again and again"),
        (7L, "structured streaming watermarks bound state for session windows"))
      q.processAllAvailable()
      // batch 1: 20 dups doc 7 (accepted only via the STREAM) -> dropped
      stream.addData(
        (20L, "structured streaming watermarks bound state for session windows"),
        (21L, "entirely novel text about z order clustering and bloom filters"))
      q.processAllAvailable()
    } finally q.stop()
    val verdicts = spark.read.parquet(s"$idx/verdicts/batch_0")
      .unionByName(spark.read.parquet(s"$idx/verdicts/batch_1"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(verdicts === Map(6L -> false, 7L -> true, 20L -> false, 21L -> true))
  }

  test("ingest adopts the index's stored signature parameters") {
    val accepted = docs.where(col("doc_id") <= 5)
    val idx = freshIndex("meta")
    // non-default parameters at build time
    IncrementalDedup.buildIndex(accepted, "doc_id", "text", idx,
      numHashes = 32, bands = 16, shingleSize = 2)
    // probe still finds the exact dup — possible only if the probe used
    // the stored (32, 16, 2), since postings under (64, 32, 3) share no
    // band layout with the stored ones
    val b = Seq((40L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val r = IncrementalDedup.ingest(b, "doc_id", "text", idx, threshold = 0.5)
      .collect().map(x => (x.getLong(0), x.getBoolean(1))).toMap
    assert(r === Map(40L -> false))
  }

  test("broadcastProbe=false (backfill regime) returns identical pairs") {
    val accepted = docs.where(col("doc_id") <= 5)
    val batch = docs.where(col("doc_id") > 5)
    val idx = freshIndex("backfill")
    IncrementalDedup.buildIndex(accepted, "doc_id", "text", idx,
      numHashes = 64, bands = 32)
    def pairs(bc: Boolean) = IncrementalDedup.ingestPairs(batch, "doc_id", "text",
        idx, threshold = 0.5, broadcastProbe = bc)
      .select("doc_a", "doc_b", "is_cross")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(pairs(false) === pairs(true),
      "shuffled and broadcast probe strategies must agree exactly")
  }

  test("clustered index: probes zone-map-prune the sets scan, results unchanged") {
    // 200 accepted docs with ids 1..200 — doc-clustered sets split the
    // id range into 8 disjoint files. A batch matching ONLY low-id docs
    // must fetch candidate sets from a strict subset of those files.
    // minPruneBytes dropped to 0: this table is KBs, and the
    // production threshold would (correctly) skip pruning it.
    val savedThreshold = IndexRead.minPruneBytes
    IndexRead.minPruneBytes = 0L
    try {
    val filler = (1L to 196L).map(i =>
      (i + 4, s"filler document number $i with entirely unique content token$i about topic${i % 17}"))
    val accepted = ((1L to 4L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again")) ++ filler)
      .toDF("doc_id", "text")
    val idx = freshIndex("prune")
    IncrementalDedup.buildIndex(accepted, "doc_id", "text", idx,
      numHashes = 64, bands = 32, clusterFiles = 8)
    assert(spark.read.parquet(s"$idx/sets_stats").count() >= 8L,
      "build must harvest one stats row per sets file")

    val batch = Seq((500L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    def pairs() = IncrementalDedup.ingestPairs(batch, "doc_id", "text", idx,
        threshold = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = pairs()
    val (setsRead, setsTotal) = IncrementalDedup.lastPrune.get(s"$idx/sets")
    assert(setsTotal >= 8, s"sets table must have >=8 files, saw $setsTotal")
    assert(setsRead < setsTotal,
      s"candidate ids 1..4 must prune the sets scan ($setsRead of $setsTotal read)")
    assert(pruned === (1L to 4L).map((500L, _)).toSet)

    // deleting the stats tables falls back to the full scan (an index
    // built before clustering) — results must be identical
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/sets_stats"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/postings_stats"), true)
    assert(pairs() === pruned, "stats-less fallback must return identical pairs")
    val (fullRead, fullTotal) = IncrementalDedup.lastPrune.get(s"$idx/sets")
    assert(fullRead === fullTotal, "without stats every file is read")

    // compact UPGRADES the stats-less index back to the prunable layout
    IncrementalDedup.compact(spark, idx, filesPerTable = 8)
    assert(pairs() === pruned, "compacted index must return identical pairs")
    val (compRead, compTotal) = IncrementalDedup.lastPrune.get(s"$idx/sets")
    assert(compRead < compTotal,
      s"compact must restore sets pruning ($compRead of $compTotal read)")
    } finally IndexRead.minPruneBytes = savedThreshold
  }

  test("appended files are covered by stats and pruned probes stay sound") {
    val accepted = (1L to 100L).map(i =>
      (i, s"accepted base document $i unique content marker$i theme${i % 11}"))
      .toDF("doc_id", "text")
    val idx = freshIndex("appendstats")
    IncrementalDedup.buildIndex(accepted, "doc_id", "text", idx,
      numHashes = 64, bands = 32, clusterFiles = 4)
    val stats0 = spark.read.parquet(s"$idx/sets_stats").count()
    // kept batch appends postings+sets AND their stats rows
    val b1 = Seq((200L, "wholly new content about clustered index stats upkeep"))
      .toDF("doc_id", "text")
    IncrementalDedup.ingest(b1, "doc_id", "text", idx, threshold = 0.5,
      appendKept = true)
    val stats1 = spark.read.parquet(s"$idx/sets_stats").count()
    assert(stats1 > stats0, "append must upsert stats rows for its new files")
    // every on-disk file is known to the stats table (no unknown files
    // left behind), and a probe for the appended doc still matches it
    // canonicalize both via hadoop Path (file:///x vs file:/x)
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toString
    val known = spark.read.parquet(s"$idx/sets_stats")
      .select("filepath").collect().map(r => norm(r.getString(0))).toSet
    val listed = spark.read.parquet(s"$idx/sets").inputFiles.map(norm).toSet
    assert(listed.subsetOf(known), s"unknown sets files: ${listed -- known}")
    val b2 = Seq((300L, "wholly new content about clustered index stats upkeep"))
      .toDF("doc_id", "text")
    val r = IncrementalDedup.ingest(b2, "doc_id", "text", idx, threshold = 0.5)
      .collect().map(x => (x.getLong(0), x.getBoolean(1))).toMap
    assert(r === Map(300L -> false), "probe must find the doc accepted by append")
  }

  test("auditIndex verdicts are sound on a fresh index and catch a corrupted bound") {
    val accepted = (1L to 50L).map(i =>
      (i, s"audit corpus document $i distinct content marker$i")).toDF("doc_id", "text")
    val idx = freshIndex("audit")
    IncrementalDedup.buildIndex(accepted, "doc_id", "text", idx, clusterFiles = 4)
    val fresh = IncrementalDedup.auditIndex(spark, idx)
    assert(fresh.where(col("verdict") === "under_covering").count() === 0,
      "a fresh build must have no unsound stats rows")
    assert(fresh.select("table").distinct().collect().map(_.getString(0)).toSet
      === Set("postings", "sets"))
    // corrupt one sets bound: shrink a file's doc_max below its true max
    val sp = s"$idx/sets_stats"
    val st = spark.read.parquet(sp).collect()
    val victim = st.maxBy(_.getAs[Long]("doc_max"))
    import org.apache.spark.sql.Row
    val rows = st.map { r =>
      if (r.getString(0) == victim.getString(0))
        Row(r.getString(0), r.getAs[Long]("doc_min"), r.getAs[Long]("doc_min"))
      else Row(r.getString(0), r.getAs[Long]("doc_min"), r.getAs[Long]("doc_max"))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        spark.read.parquet(sp).schema)
      .write.mode("overwrite").parquet(sp)
    val bad = IncrementalDedup.auditIndex(spark, idx)
      .where(col("verdict") === "under_covering" && col("table") === "sets")
    assert(bad.count() >= 1, "a shrunken bound must surface as under_covering")
  }

  test("maxBucket caps combined index+batch bucket population") {
    // 30 identical accepted docs + 1 identical batch doc: every bucket
    // holding them has combined population 31 > maxBucket=30 → all
    // candidates dropped → the batch doc is (degenerately) kept. The
    // tripwire contract: capping is visible, not silent wrongness.
    val boiler = "identical boilerplate text repeated across every single document here"
    val accepted = (1L to 30L).map(i => (i, boiler)).toDF("doc_id", "text")
    val idx = freshIndex("cap")
    IncrementalDedup.buildIndex(accepted, "doc_id", "text", idx,
      numHashes = 64, bands = 32)
    val b = Seq((100L, boiler)).toDF("doc_id", "text")
    val capped = IncrementalDedup.ingest(b, "doc_id", "text", idx,
        threshold = 0.5, maxBucket = 30)
      .collect().map(x => (x.getLong(0), x.getBoolean(1))).toMap
    assert(capped === Map(100L -> true))
    val uncapped = IncrementalDedup.ingest(b, "doc_id", "text", idx,
        threshold = 0.5, maxBucket = 1000)
      .collect().map(x => (x.getLong(0), x.getBoolean(1))).toMap
    assert(uncapped === Map(100L -> false))
  }
}
