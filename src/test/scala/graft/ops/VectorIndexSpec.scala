package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** The disk-resident IVF index must (1) return exactly what the
  * in-memory IVF search returns — same helpers, different candidate
  * source — (2) physically prune unprobed cell directories, and
  * (3) absorb appends without touching the resident corpus. */
class VectorIndexSpec extends SparkSpec {

  import spark.implicits._

  private val dim = 8
  /** 4 well-separated axis clusters × 25 vectors, ids encode cluster. */
  private def corpus: DataFrame = {
    val rows = for (c <- 0 until 4; i <- 0 until 25) yield {
      val v = Array.fill(dim)(0.02f * ((c * 31 + i * 7) % 5))
      v(c) = 10f + i * 0.01f
      (c * 1000L + i, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  private def queries: DataFrame = {
    val rows = (0 until 4).map { c =>
      val v = Array.fill(dim)(0.01f); v(c) = 5f
      (9000L + c, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("disk topK equals the in-memory ivfTopKWith, row for row") {
    val path = tmpDir("vecidx_parity")
    val cents = VectorIndex.build(corpus, "vec_id", "embedding", path, nlist = 4)
    val disk = VectorIndex.topK(spark, queries, "vec_id", "embedding", path, k = 3)
    val mem = Similarity.ivfTopKWith(cents, corpus, queries, "vec_id", "embedding", k = 3)
    assert(disk.exceptAll(mem).count() === 0 && mem.exceptAll(disk).count() === 0)
    assert(disk.count() === 12, "4 queries x k=3")
  }

  test("probe scan physically prunes unprobed cell directories") {
    val path = tmpDir("vecidx_prune")
    VectorIndex.build(corpus, "vec_id", "embedding", path, nlist = 4)
    val all = spark.read.parquet(s"$path/vectors").inputFiles.length
    assert(all >= 4, s"expected >=1 file per populated cell, got $all")
    // one query, nprobe=1 → exactly one cell directory may be read
    val one = queries.limit(1)
    val q = VectorIndex.topK(spark, one, "vec_id", "embedding", path, k = 3, nprobe = 1)
    q.collect()
    // AQE wraps materialized stages — recurse through the wrappers or
    // the scan nodes (and their metrics) are invisible to collect
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case st: QueryStageExec => scans(st.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val filesRead = scans(q.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    assert(filesRead < all, s"scan must prune: read $filesRead of $all files")
    assert(filesRead === all / 4L, s"nprobe=1 of 4 cells: read $filesRead of $all")
  }

  test("IVFADC topKPq with exhaustive candK equals plain topK row for row") {
    val path = tmpDir("vecidx_pq_parity")
    val cents = Similarity.trainIvfCentroids(corpus, "vec_id", "embedding", nlist = 4)
    val cb = Similarity.trainPqCodebooksResidual(corpus, "vec_id", "embedding", cents,
      m = 4, ks = 8)
    VectorIndex.buildWithPq(cents, cb, corpus, "vec_id", "embedding", path)
    // candK >= any probed population => shortlist = everything => the
    // ADC stage changes WHAT was read, never the answer
    val adc = VectorIndex.topKPq(spark, queries, "vec_id", "embedding", path,
      k = 3, candK = 200)
    val plain = VectorIndex.topK(spark, queries, "vec_id", "embedding", path, k = 3)
    assert(adc.exceptAll(plain).count() === 0 && plain.exceptAll(adc).count() === 0)
    assert(adc.count() === 12)
  }

  test("IVFADC candidate scan reads codes, not vectors (column pruning)") {
    val path = tmpDir("vecidx_pq_prune")
    val cents = Similarity.trainIvfCentroids(corpus, "vec_id", "embedding", nlist = 4)
    val cb = Similarity.trainPqCodebooksResidual(corpus, "vec_id", "embedding", cents,
      m = 4, ks = 8)
    VectorIndex.buildWithPq(cents, cb, corpus, "vec_id", "embedding", path)
    val q = VectorIndex.topKPq(spark, queries.limit(1), "vec_id", "embedding",
      path, k = 3, nprobe = 1, candK = 200)
    q.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case st: QueryStageExec => scans(st.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val ss = scans(q.queryExecution.executedPlan)
    val codeScan = ss.filter(_.requiredSchema.fieldNames.contains("code"))
    assert(codeScan.nonEmpty, "expected an ADC scan over the code column")
    assert(codeScan.forall(!_.requiredSchema.fieldNames.contains("vec")),
      s"ADC scan must not read vec: ${codeScan.map(_.requiredSchema.fieldNames.mkString(","))}")
    // and both stages stay partition-pruned: nprobe=1 of 4 cells
    val all = spark.read.parquet(s"$path/vectors").inputFiles.length
    val filesRead = ss.map(_.metrics("numFiles").value).max
    assert(filesRead <= all / 4L, s"scan must prune: read $filesRead of $all files")
    // and no shuffle moves an array column — vectors and codes ride
    // the pruned scans and broadcasts only
    def walkEx(p: SparkPlan): Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec => walkEx(a.executedPlan)
      case st: QueryStageExec => walkEx(st.plan)
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e +: e.children.flatMap(walkEx)
      case other => other.children.flatMap(walkEx)
    }
    val badEx = walkEx(q.queryExecution.executedPlan)
      .filter(_.schema.fields.exists(_.dataType
        .isInstanceOf[org.apache.spark.sql.types.ArrayType]))
      .map(_.schema.fieldNames.mkString(","))
    assert(badEx.isEmpty, s"IVFADC shuffled array columns: $badEx")
  }

  test("raw (residual=false) layout is self-describing and probes correctly") {
    val path = tmpDir("vecidx_pq_raw")
    val cents = Similarity.trainIvfCentroids(corpus, "vec_id", "embedding", nlist = 4)
    val cb = Similarity.trainPqCodebooks(corpus, "vec_id", "embedding", m = 4, ks = 8)
    VectorIndex.buildWithPq(cents, cb, corpus, "vec_id", "embedding", path,
      residual = false)
    val (loaded, flag) = Similarity.loadPqCodebooks(spark, s"$path/codebooks")
    assert(!flag, "raw layout must load with residual = false")
    assert(loaded.map(_.map(_.toSeq).toSeq).toSeq === cb.map(_.map(_.toSeq).toSeq).toSeq)
    // the probe reads the flag from the layout, not from the caller
    val adc = VectorIndex.topKPq(spark, queries, "vec_id", "embedding", path,
      k = 3, candK = 200)
    val plain = VectorIndex.topK(spark, queries, "vec_id", "embedding", path, k = 3)
    assert(adc.exceptAll(plain).count() === 0 && plain.exceptAll(adc).count() === 0)
  }

  test("IVFADC default shortlist still finds the true cluster neighbors") {
    val path = tmpDir("vecidx_pq_recall")
    val cents = Similarity.trainIvfCentroids(corpus, "vec_id", "embedding", nlist = 4)
    val cb = Similarity.trainPqCodebooksResidual(corpus, "vec_id", "embedding", cents,
      m = 4, ks = 8)
    VectorIndex.buildWithPq(cents, cb, corpus, "vec_id", "embedding", path)
    val r = VectorIndex.topKPq(spark, queries, "vec_id", "embedding", path, k = 3)
      .collect()
    assert(r.length === 12)
    // every query's neighbors come from its own axis cluster
    for (row <- r)
      assert(row.getLong(1) / 1000L === row.getLong(0) - 9000L,
        s"query ${row.getLong(0)} got cross-cluster neighbor ${row.getLong(1)}")
  }

  test("pqDrift reports per-cell reconstruction error from the stored rows") {
    val path = tmpDir("vecidx_pq_drift")
    val cents = Similarity.trainIvfCentroids(corpus, "vec_id", "embedding", nlist = 4)
    val cb = Similarity.trainPqCodebooksResidual(corpus, "vec_id", "embedding", cents,
      m = 4, ks = 8)
    VectorIndex.buildWithPq(cents, cb, corpus, "vec_id", "embedding", path)
    val d = VectorIndex.pqDrift(spark, path).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(d.size === 4, s"one row per populated cell: $d")
    assert(d.values.map(_._1).sum === 100L)
    for ((cell, (_, mean, mx)) <- d) {
      assert(mean >= 0.0 && !mean.isNaN && mx >= mean,
        s"cell $cell: mean=$mean max=$mx")
      // residual codebooks trained on this very corpus reconstruct it
      // tightly — the build-time baseline a drift watcher compares to
      assert(mean < 0.1, s"cell $cell build-time error unexpectedly large: $mean")
    }
    // drift works on raw layouts too (flag read from the layout)
    val rawPath = tmpDir("vecidx_pq_drift_raw")
    val cbRaw = Similarity.trainPqCodebooks(corpus, "vec_id", "embedding", m = 4, ks = 8)
    VectorIndex.buildWithPq(cents, cbRaw, corpus, "vec_id", "embedding", rawPath,
      residual = false)
    val dr = VectorIndex.pqDrift(spark, rawPath).collect()
    assert(dr.length === 4 && dr.forall(r => r.getDouble(2) >= 0.0))
  }

  test("append encodes the batch under frozen codebooks (PQ-aware ingest)") {
    val path = tmpDir("vecidx_pq_append")
    val cents = Similarity.trainIvfCentroids(corpus, "vec_id", "embedding", nlist = 4)
    val cb = Similarity.trainPqCodebooksResidual(corpus, "vec_id", "embedding", cents,
      m = 4, ks = 8)
    VectorIndex.buildWithPq(cents, cb, corpus, "vec_id", "embedding", path)
    // a fresh vector deep inside cluster 2
    val v = Array.fill(dim)(0.0f); v(2) = 11f
    val batch = Seq((7777L, v.toSeq)).toDF("vec_id", "embedding")
    VectorIndex.append(batch, "vec_id", "embedding", path)
    // stored row carries a valid code...
    val stored = spark.read.parquet(s"$path/vectors")
      .where(col("id") === 7777L).select("code").collect()
    assert(stored.length === 1)
    assert(stored.head.getSeq[Int](0).length === 4)
    // ...and the ADC path surfaces it for a cluster-2 query
    val q2 = queries.where(col("vec_id") === 9002L)
    val r = VectorIndex.topKPq(spark, q2, "vec_id", "embedding", path, k = 26)
      .collect().map(_.getLong(1)).toSet
    assert(r.contains(7777L), "appended vector must be ADC-searchable")
  }

  test("append lands in the right cells and is immediately searchable") {
    val path = tmpDir("vecidx_append")
    VectorIndex.build(corpus, "vec_id", "embedding", path, nlist = 4)
    // the appended vector is EXACTLY 2x the query → cos precisely 1.0,
    // strictly above every resident vector's (distinct directions)
    val nv = { val v = Array.fill(dim)(0.022f); v(2) = 10f; v }
    VectorIndex.append(Seq((7777L, nv.toSeq)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", path)
    val q = { val v = Array.fill(dim)(0.011f); v(2) = 5f;
      Seq((9102L, v.toSeq)).toDF("vec_id", "embedding") }
    val top = VectorIndex.topK(spark, q, "vec_id", "embedding", path, k = 1)
      .select("neighbor_id").as[Long].head()
    assert(top === 7777L, "the appended near-identical vector must rank first")
  }

  test("replayed append is idempotent per id (partition-pruned existence check)") {
    val path = tmpDir("vecidx_replay")
    VectorIndex.build(corpus, "vec_id", "embedding", path, nlist = 4)
    val nv = { val v = Array.fill(dim)(0.022f); v(2) = 10f; v }
    val batch = Seq((7777L, nv.toSeq)).toDF("vec_id", "embedding")
    VectorIndex.append(batch, "vec_id", "embedding", path)
    val n1 = spark.read.parquet(s"$path/vectors").count()
    // the driver died before the streaming commit: same batch again
    VectorIndex.append(batch, "vec_id", "embedding", path)
    assert(spark.read.parquet(s"$path/vectors").count() === n1,
      "replayed append must not duplicate vectors")
  }

  test("appendStream ingests micro-batches into the cell layout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = tmpDir("vecidx_stream")
    VectorIndex.build(corpus, "vec_id", "embedding", path, nlist = 4)
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = VectorIndex.appendStream(
      stream.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
      path, checkpoint = tmpDir("vecidx_stream_ckpt"))
    try {
      val nv = { val v = Array.fill(dim)(0.022f); v(2) = 10f; v.toSeq }
      stream.addData((7777L, nv)); q.processAllAvailable()
      val nv2 = { val v = Array.fill(dim)(0.02f); v(1) = 9f; v.toSeq }
      stream.addData((7778L, nv2)); q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(s"$path/vectors").count() === 102L)
    val qv = { val v = Array.fill(dim)(0.011f); v(2) = 5f;
      Seq((9102L, v.toSeq)).toDF("vec_id", "embedding") }
    val top = VectorIndex.topK(spark, qv, "vec_id", "embedding", path, k = 1)
      .select("neighbor_id").as[Long].head()
    assert(top === 7777L, "streamed vector must be searchable")
  }

  test("compact collapses append fragments to one file per cell, probes unchanged") {
    val path = tmpDir("vecidx_compact")
    VectorIndex.build(corpus, "vec_id", "embedding", path, nlist = 4)
    // three appends, each leaving its own file in the touched cell
    for (i <- 0 until 3) {
      val v = Array.fill(dim)(0.01f); v(1) = 7f + i
      VectorIndex.append(Seq((30000L + i, v.toSeq)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", path)
    }
    val before = VectorIndex.topK(spark, queries, "vec_id", "embedding", path, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val filesBefore = spark.read.parquet(s"$path/vectors").inputFiles.length
    assert(filesBefore > 4, s"appends must have fragmented the layout: $filesBefore")
    VectorIndex.compact(spark, path)
    assert(spark.read.parquet(s"$path/vectors").inputFiles.length === 4,
      "one file per populated cell after compact")
    val after = VectorIndex.topK(spark, queries, "vec_id", "embedding", path, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(after === before, "compaction must never change probe results")
  }

  test("ingestDedup: greedy verdicts, appendKept growth, replay idempotency") {
    val path = tmpDir("vecidx_ingestdedup")
    VectorIndex.build(corpus, "vec_id", "embedding", path, nlist = 4)
    // batch: an exact copy of resident id 0 (cross dup), a novel
    // axis-4 vector (no cluster uses axis 4), and an exact WITHIN-batch
    // pair of that novel direction (8001 < 8002)
    val novel = { val v = Array.fill(dim)(0.01f); v(4) = 9f; v.toSeq }
    val copy0 = corpus.where(col("vec_id") === 0L).head().getSeq[Float](1)
    val batch = Seq((7000L, copy0), (8001L, novel), (8002L, novel))
      .toDF("vec_id", "embedding")
    def verdicts(b: org.apache.spark.sql.DataFrame) =
      VectorIndex.ingestDedup(b, "vec_id", "embedding", path,
          threshold = 0.95, appendKept = false)
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    val got = VectorIndex.ingestDedup(batch, "vec_id", "embedding", path,
        threshold = 0.95, appendKept = true)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
        Option(r.get(3)))).toList.sortBy(_._1)
    // 7000 dups the whole resident cluster 0 (cos ~0.9999 to every
    // member — same dominant axis, tiny noise), greedy min match = 0;
    // 8001 is novel → kept; 8002 matches only the smaller-id 8001
    assert(got.map(x => (x._1, x._2)) === List((7000L, false), (8001L, true), (8002L, false)))
    assert(got.head._3 === 25L && got.head._4 === Some(0L),
      s"7000 must match all 25 cluster-0 residents with min id 0: $got")
    assert(got(2)._4 === Some(8001L))
    // appendKept: ONLY the kept 8001 joined the index — a new copy of
    // the novel direction matches exactly it, not the dropped 8002
    val r2 = VectorIndex.ingestDedup(Seq((9100L, novel)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", path, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
        Option(r.get(3)))).head
    assert(r2 === ((9100L, false, 1L, Some(8001L))))
    // replay: the same batch against the index that now holds 8001 —
    // the self-pair guard keeps 8001 from matching itself, so verdicts
    // re-derive identically
    assert(verdicts(batch) === got.map(x => (x._1, x._2)).toMap,
      "replayed batch must re-derive identical verdicts")
  }

  test("ingestDedup: a NaN-bearing batch vector matches nothing") {
    val path = tmpDir("vecidx_ingestdedup_nan")
    VectorIndex.build(corpus, "vec_id", "embedding", path, nlist = 4)
    // two NaN-bearing vectors: their cosine with every resident and
    // with each other is NaN, which Spark orders above any threshold
    val nan = { val v = Array.fill(dim)(0.01f); v(0) = 10f; v(1) = Float.NaN; v.toSeq }
    val got = VectorIndex.ingestDedup(Seq((7100L, nan), (7101L, nan)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", path, threshold = 0.95, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toList.sortBy(_._1)
    assert(got === List((7100L, true, 0L), (7101L, true, 0L)))
  }

  test("ingestDedupStream dedups a vector stream against the growing index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = tmpDir("vecidx_dedup_stream")
    VectorIndex.build(corpus, "vec_id", "embedding", path, nlist = 4)
    val novel = { val v = Array.fill(dim)(0.01f); v(4) = 9f; v.toSeq }
    val copy0 = corpus.where(col("vec_id") === 0L).head().getSeq[Float](1)
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = VectorIndex.ingestDedupStream(
      stream.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
      path, checkpoint = tmpDir("vecidx_dedup_stream_ckpt"), threshold = 0.95)
    try {
      // batch 0: a copy of resident id 0 (dropped) and a novel vector
      // (kept + appended)
      stream.addData((7000L, copy0), (8001L, novel))
      q.processAllAvailable()
      // batch 1: a copy of the STREAM-accepted 8001 (dropped) and a
      // second novel direction (kept)
      val novel2 = { val v = Array.fill(dim)(0.01f); v(5) = 9f; v.toSeq }
      stream.addData((9100L, novel), (9200L, novel2))
      q.processAllAvailable()
    } finally q.stop()
    val verdicts = spark.read.parquet(s"$path/verdicts/batch_0")
      .unionByName(spark.read.parquet(s"$path/verdicts/batch_1"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(verdicts === Map(7000L -> false, 8001L -> true,
      9100L -> false, 9200L -> true))
  }

  test("rebuildCells rewrites only the named cells; untouched files byte-identical; probes invariant") {
    val path = tmpDir("vecidx_rebuild")
    VectorIndex.build(corpus, "vec_id", "embedding", path, nlist = 4)
    // skew one cell: 30 more near-axis-0 vectors (drift's trigger state)
    val extra = (0 until 30).map { i =>
      val v = Array.fill(dim)(0.01f); v(0) = 8f + i * 0.02f
      (5000L + i, v.toSeq)
    }.toDF("vec_id", "embedding")
    VectorIndex.append(extra, "vec_id", "embedding", path)
    // probe covering every cell ranks exactly over the full corpus —
    // layout-independent ground truth for the invariance assertions
    def probeAll() = VectorIndex.topK(spark, queries, "vec_id", "embedding",
        path, k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val before = probeAll()
    val allIds = spark.read.parquet(s"$path/vectors")
      .select("id").collect().map(_.getLong(0)).sorted
    val rebuilt = Seq(
      spark.read.parquet(s"$path/vectors").where(col("id") === 0L)
        .select("cell").head().getInt(0),
      spark.read.parquet(s"$path/vectors").where(col("id") === 1000L)
        .select("cell").head().getInt(0)).distinct.sorted
    assert(rebuilt.size === 2, "clusters 0 and 1 must start in distinct cells")
    def inventory(): Map[String, (Long, Long)] = {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$path/vectors"), true)
      val buf = scala.collection.mutable.Map[String, (Long, Long)]()
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet"))
          buf(f.getPath.toString) = (f.getLen, f.getModificationTime)
      }
      buf.toMap
    }
    def untouchedOf(inv: Map[String, (Long, Long)]) =
      inv.filterNot { case (p, _) => rebuilt.exists(c => p.contains(s"cell=$c/")) }
    val invBefore = inventory()

    val merged = VectorIndex.rebuildCells(spark, path, rebuilt)
    assert(merged.length === 4)

    // untouched cell files byte-identical (same paths, lengths, mtimes)
    assert(untouchedOf(inventory()) === untouchedOf(invBefore),
      "rebuild must not touch un-named cells' files")
    // no vector lost or duplicated; the rebuilt population stayed local
    val idsAfter = spark.read.parquet(s"$path/vectors")
      .select("id").collect().map(_.getLong(0)).sorted
    assert(idsAfter.toSeq === allIds.toSeq)
    val cellsAfter = spark.read.parquet(s"$path/vectors")
      .where(col("id") === 0L || col("id") === 1000L || col("id") === 5000L)
      .select("cell").collect().map(_.getInt(0)).toSet
    assert(cellsAfter.subsetOf(rebuilt.toSet),
      s"rebuilt vectors must stay within the rebuilt set, saw $cellsAfter")
    // full-coverage probe invariant after the rebuild
    assert(probeAll() === before, "rebuild must not change exact probe answers")
    // ... and with the default (partial) nprobe the planted clusters
    // are still recovered: each query's top-3 are its own cluster's ids
    val part = VectorIndex.topK(spark, queries, "vec_id", "embedding", path, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(part.forall { case (q, n) => (q - 9000L) === n / 1000L || n >= 5000L },
      s"default-nprobe probe must rank within the query's cluster: $part")

    // MID-REBUILD state: new matrix committed, cell contents not yet
    // swapped. Reproduce it exactly: a fresh index with the PRE-rebuild
    // contents (same deterministic build + append), then splice in the
    // merged matrix alone. A probe covering >= the rebuilt set must
    // return the pre-rebuild answers (exact scoring over a layout that
    // still holds every vector exactly once).
    val pre = tmpDir("vecidx_rebuild_pre")
    VectorIndex.build(corpus, "vec_id", "embedding", pre, nlist = 4)
    VectorIndex.append(extra, "vec_id", "embedding", pre)
    Similarity.saveIvfIndex(spark, s"$pre/centroids", merged)
    val midProbe = VectorIndex.topK(spark, queries, "vec_id", "embedding",
        pre, k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(midProbe === before,
      "mid-rebuild (new matrix, old cells) full-coverage probe must be invariant")
  }

  test("rebuildCells is idempotent: a crashed-and-rerun rebuild converges") {
    def freshIndex(tag: String): String = {
      val p = tmpDir(s"vecidx_rebuild_idem_$tag")
      VectorIndex.build(corpus, "vec_id", "embedding", p, nlist = 4)
      p
    }
    def assignment(p: String): Map[Long, Int] =
      spark.read.parquet(s"$p/vectors").select("id", "cell")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rebuilt = Seq(0, 1)
    // clean single rebuild = the reference outcome
    val ref = freshIndex("ref")
    val cellsRef = {
      // rebuild the cells that hold clusters 0 and 1 (deterministic build)
      val c0 = spark.read.parquet(s"$ref/vectors").where(col("id") === 0L)
        .select("cell").head().getInt(0)
      val c1 = spark.read.parquet(s"$ref/vectors").where(col("id") === 1000L)
        .select("cell").head().getInt(0)
      Seq(c0, c1).distinct.sorted
    }
    val mergedRef = VectorIndex.rebuildCells(spark, ref, cellsRef)
    // (a) run the SAME rebuild twice — training is deterministic on the
    // unchanged vector population, so the second run must re-derive the
    // identical matrix and assignment
    val mergedTwice = VectorIndex.rebuildCells(spark, ref, cellsRef)
    assert(mergedTwice.map(_.toSeq).toSeq === mergedRef.map(_.toSeq).toSeq,
      "re-running the same rebuild must re-derive the identical matrix")
    // (b) crash AFTER the centroid swap, before any cell swap: simulate
    // by splicing the merged matrix into a fresh index, then rerunning
    // the full rebuild — the roll-forward the scaladoc promises
    val crashed = freshIndex("crash")
    Similarity.saveIvfIndex(spark, s"$crashed/centroids", mergedRef)
    val mergedAfter = VectorIndex.rebuildCells(spark, crashed, cellsRef)
    assert(mergedAfter.map(_.toSeq).toSeq === mergedRef.map(_.toSeq).toSeq,
      "rerun after a post-centroid-swap crash must converge to the clean matrix")
    assert(assignment(crashed) === assignment(ref),
      "rerun after the crash must converge to the clean cell assignment")
  }

  test("recoverRebuild restores a cell stranded mid-swap") {
    val path = tmpDir("vecidx_rebuild_crash")
    VectorIndex.build(corpus, "vec_id", "embedding", path, nlist = 4)
    val before = VectorIndex.topK(spark, queries, "vec_id", "embedding",
        path, k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // simulate a crash between the two renames of cell c: live moved to
    // backup, replacement never committed
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val c = spark.read.parquet(s"$path/vectors").select("cell").head().getInt(0)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/vectors.rebuild_bak"))
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$path/vectors/cell=$c"),
      new org.apache.hadoop.fs.Path(s"$path/vectors.rebuild_bak/cell=$c")))
    VectorIndex.recoverRebuild(spark, path)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/vectors/cell=$c")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/vectors.rebuild_bak")))
    val after = VectorIndex.topK(spark, queries, "vec_id", "embedding",
        path, k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(after === before)
  }

  test("drift reports per-cell occupancy and imbalance from the layout") {
    val path = tmpDir("vecidx_drift")
    VectorIndex.build(corpus, "vec_id", "embedding", path, nlist = 4)
    val d0 = VectorIndex.drift(spark, path).collect()
    assert(d0.map(_.getAs[Long]("n_vectors")).sum === 100L)
    // balanced build: every imbalance ≈ 1
    assert(d0.forall(r => math.abs(r.getAs[Double]("imbalance") - 1.0) < 1e-9))
    // skew one cell with 100 appended near-axis-0 vectors
    val batch = (0 until 100).map { i =>
      val v = Array.fill(dim)(0.01f); v(0) = 8f + i * 0.001f
      (20000L + i, v.toSeq)
    }.toDF("vec_id", "embedding")
    VectorIndex.append(batch, "vec_id", "embedding", path)
    val d1 = VectorIndex.drift(spark, path).collect()
    assert(d1.map(_.getAs[Long]("n_vectors")).sum === 200L)
    val maxImb = d1.map(_.getAs[Double]("imbalance")).max
    assert(maxImb > 2.0, s"skewed appends must raise max imbalance, got $maxImb")
  }
}
