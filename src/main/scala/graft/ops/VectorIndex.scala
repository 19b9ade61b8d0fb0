package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Disk-resident IVF vector index: the corpus is stored PARTITIONED BY
  * CELL, so an ANN query batch physically reads only its probed cells'
  * directories — Hive-style partition pruning turns the candidate fetch
  * from a full corpus scan into `nprobe/nlist` of the bytes. This is
  * the missing half of [[Similarity]]'s train-once contract at 100 TB:
  * `saveIvfIndex` persists the CENTROIDS, but every `ivfTopKWith` query
  * still re-assigns (and therefore re-scans) the whole corpus; here
  * assignment happens ONCE at build/append time and is materialized in
  * the layout itself.
  *
  * Layout under `path`:
  *   - `centroids/` — the trained matrix ([[Similarity.saveIvfIndex]]'s
  *     atomic-swap format, crash recovery included);
  *   - `vectors/cell=<c>/` — `(id, vec)` parquet, one directory per
  *     IVF cell.
  *
  * Scale shape:
  *   - [[build]]: one training pass + one assignment pass (narrow map —
  *     broadcast centroids past 2,048 cells, two-level past 8,192, see
  *     `assignedCells`) + one partitioned write whose only exchange is
  *     the `repartition("cell")` that makes one file per populated cell
  *     instead of nFiles × nCells fragments;
  *   - [[append]]: assignment + partitioned append of the BATCH only —
  *     the resident corpus is never touched (same contract as
  *     [[IncrementalDedup]]): ingest cost is proportional to the batch;
  *   - [[topK]]: probe cells per query (flat exact ranking, query side
  *     small by contract), then ONE partition-pruned read of the union
  *     of probed cells — the `cell IN (...)` literal filter prunes at
  *     PLANNING time (spec-pinned via `FileSourceScanExec.numFiles`),
  *     no directory outside the probe set is even listed into tasks.
  *     The probed-cell union is collected to the driver: bounded by
  *     min(nlist, |queries|·nprobe) ints — never corpus-sized;
  *   - [[drift]]: per-cell occupancy from parquet FOOTER row counts
  *     (no data scan) — the retrain signal: appends assign to FROZEN
  *     centroids, so a drifting stream skews occupancy until probing
  *     degrades; re-[[build]] when the report says so.
  */
object VectorIndex {

  /** Builds (or replaces) the index, training centroids from the corpus.
    * Returns the trained matrix (callers chain into [[Similarity.ivfTopKWith]]
    * for in-memory probing of the same cells). */
  def build(corpus: DataFrame, idCol: String, vecCol: String, path: String,
            nlist: Int = 0, iters: Int = 3, seed: Long = 42L,
            sampleFraction: Double = 1.0): Array[Array[Double]] = {
    val cents = Similarity.trainIvfCentroids(corpus, idCol, vecCol,
      nlist, iters, seed, sampleFraction)
    buildWith(cents, corpus, idCol, vecCol, path)
    cents
  }

  /** Builds the index from an ALREADY-trained matrix (a deployment
    * trains on a schedule, then lays out many tables with one matrix). */
  def buildWith(cents: Array[Array[Double]], corpus: DataFrame,
                idCol: String, vecCol: String, path: String): Unit = {
    val spark = corpus.sparkSession
    Similarity.saveIvfIndex(spark, s"$path/centroids", cents)
    assigned(corpus, idCol, vecCol, cents)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/vectors")
  }

  /** Builds the cell layout WITH a PQ code column — the disk form of
    * IVFADC (Jégou et al.): every row carries (id, vec, code), where
    * `code` is the m-byte product-quantization code of the vector.
    * Because parquet is columnar, [[topKPq]]'s ADC candidate stage
    * reads ONLY (cell, id, code) — the vec bytes stay on disk until
    * the shortlist re-rank touches candK·|queries| of them. Combined
    * with cell partition pruning that makes the candidate fetch
    * nprobe/nlist of the FILES × code/vec of the BYTES — the two
    * multiplicative reductions a 100 TB embedding store needs.
    * Codebooks persist beside the centroids (same atomic swap), so
    * probes and appends share one frozen quantizer.
    *
    * `residual = true` (default) stores codes of
    * `normalized(v) − centroid(cell)` — the Jégou et al. IVFADC form:
    * residuals concentrate near the origin whatever cell a vector
    * lives in, so ks entries quantize each cell's local geometry
    * instead of the whole sphere (train `cb` with
    * [[Similarity.trainPqCodebooksResidual]] then). The flag is stored
    * IN the layout; [[topKPq]] and [[append]] read it from there, so a
    * probe can never prepare queries with the wrong geometry. */
  def buildWithPq(cents: Array[Array[Double]], cb: Array[Array[Array[Float]]],
                  corpus: DataFrame, idCol: String, vecCol: String,
                  path: String, residual: Boolean = true): Unit = {
    val spark = corpus.sparkSession
    Similarity.saveIvfIndex(spark, s"$path/centroids", cents)
    Similarity.savePqCodebooks(spark, s"$path/codebooks", cb, residual)
    encodeAssigned(assigned(corpus, idCol, vecCol, cents), cb, residual, path)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/vectors")
  }

  /** Adds the `code` column to assigned (id, vec, cell) rows. Residual
    * mode subtracts the row's cell centroid first — the centroid table
    * is the layout's own persisted matrix, broadcast-joined on `cell`,
    * so the shape is O(1) in nlist (no plan literals). */
  private def encodeAssigned(a: DataFrame, cb: Array[Array[Array[Float]]],
                             residual: Boolean, path: String): DataFrame =
    if (!residual) a.withColumn("code", Similarity.pqEncodeCol(col("vec"), cb))
    else {
      val cents = broadcast(
        a.sparkSession.read.parquet(s"$path/centroids"))
      a.join(cents, Seq("cell"))
        .withColumn("code", Similarity.pqEncodePreparedCol(
          Similarity.residualCol(Similarity.normalizedCol(col("vec")),
            col("centroid")), cb))
        .drop("centroid")
        // partitionBy reads the column order as-is; keep cell last like
        // the raw path so both layouts are column-identical
        .select("id", "vec", "code", "cell")
    }

  /** Appends a batch under the index's FROZEN centroids — the resident
    * corpus is not read, moved, or re-assigned. Watch [[drift]] for the
    * retrain signal. PQ-aware: when the layout carries codebooks
    * ([[buildWithPq]]), the batch is encoded under the same frozen
    * quantizer, so appended vectors are ADC-searchable immediately.
    *
    * Idempotent per id: vectors whose ids the index already holds are
    * skipped, so a REPLAYED micro-batch ([[appendStream]]) appends
    * nothing twice. The existence check reads ONLY the batch's own
    * assigned cells (partition-pruned — frozen centroids assign a
    * replayed vector to the same cell), never the whole layout. */
  def append(batch: DataFrame, idCol: String, vecCol: String, path: String): Unit = {
    val spark = batch.sparkSession
    val cents = Similarity.loadIvfIndex(spark, s"$path/centroids")
    val cbPath = new org.apache.hadoop.fs.Path(s"$path/codebooks")
    val hasPq = cbPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(cbPath)
    val assignedBatch = assigned(batch, idCol, vecCol, cents)
    val a = (if (hasPq) {
      val (cb, residual) = Similarity.loadPqCodebooks(spark, cbPath.toString)
      encodeAssigned(assignedBatch, cb, residual, path)
    } else assignedBatch).persist()
    try {
      val cells = a.select("cell").distinct().collect().map(_.getInt(0)).toSeq
      val resident = spark.read.parquet(s"$path/vectors")
        .where(col("cell").isin(cells: _*)).select("id")
      a.join(resident, Seq("id"), "left_anti")
        .write.mode("append").partitionBy("cell").parquet(s"$path/vectors")
    } finally a.unpersist()
  }

  /** Continuous vector ingest: [[append]] per micro-batch — the
    * streaming half of the frozen-centroid contract. Replay-safe via
    * append's per-id idempotency; run [[drift]] on a schedule and
    * re-[[build]] when the appended distribution skews the cells. */
  def appendStream(stream: DataFrame, idCol: String, vecCol: String,
                   path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try { if (!b.isEmpty) append(b, idCol, vecCol, path) }
        finally b.unpersist()
        ()
      }
      .start()

  // one file per (write, populated cell): without the repartition every
  // input task writes a fragment into every cell it saw — nTasks×nCells
  // files, the classic partitioned-write explosion
  private def assigned(df: DataFrame, idCol: String, vecCol: String,
                       cents: Array[Array[Double]]): DataFrame =
    Similarity.assignedCells(
        df.where(col(vecCol).isNotNull)
          .select(col(idCol).as("id"), col(vecCol).as("vec")),
        "vec", cents)
      .repartition(col("cell"))

  /** ANN top-k against the disk-resident index. Identical cell
    * assignment, probe ranking, scoring, and tie-breaks as
    * [[Similarity.ivfTopKWith]] (shared helpers), so the two forms
    * return the same rows — spec-pinned; only WHERE the candidates are
    * read differs: a partition-pruned scan of the probed cells. */
  def topK(spark: SparkSession, queries: DataFrame, idCol: String,
           vecCol: String, path: String, k: Int, nprobe: Int = 0): DataFrame = {
    val cents = Similarity.loadIvfIndex(spark, s"$path/centroids")
    val np = if (nprobe > 0) nprobe else Similarity.autoNprobe(cents.length)
    val qRaw = queries.where(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val q = Similarity.probedQueries(qRaw, "q_vec", cents, np)
    // bounded driver round-trip: ≤ min(nlist, |queries|·nprobe) ints
    val probedCells = q.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    val cand = spark.read.parquet(s"$path/vectors")
      .where(col("cell").isin(probedCells: _*)) // partition-pruned at planning
      .select(col("cell"), col("id").as("neighbor_id"), col("vec").as("c_vec"))
    val scored = broadcast(q).join(cand, Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", Similarity.cosineCol(col("q_vec"), col("c_vec")))
      .select("query_id", "neighbor_id", "cos")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** IVFADC top-k against a [[buildWithPq]] layout: the candidate stage
    * ADC-scores the partition-pruned CODE columns (vec never read —
    * parquet column pruning), shortlists `candK` per query with rank()
    * (an ADC tie never drops a candidate), and re-ranks the shortlist
    * alone against true vectors read from the same pruned cells. Same
    * output contract as [[topK]]/[[Similarity.pqTopKWith]]:
    * (query_id, neighbor_id, rank, cos), self-pairs excluded at
    * re-rank. With candK ≥ the probed-cell population this equals
    * [[topK]] row for row (spec-pinned) — the shortlist is then
    * everything, so the only difference is WHAT the candidate scan
    * read. */
  def topKPq(spark: SparkSession, queries: DataFrame, idCol: String,
             vecCol: String, path: String, k: Int, nprobe: Int = 0,
             candK: Int = 32): DataFrame = {
    require(candK >= k, s"candK=$candK must be >= k=$k")
    val cents = Similarity.loadIvfIndex(spark, s"$path/centroids")
    val (cb, residual) = Similarity.loadPqCodebooks(spark, s"$path/codebooks")
    val np = if (nprobe > 0) nprobe else Similarity.autoNprobe(cents.length)
    val qRaw = queries.where(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        Similarity.normalizedCol(col(vecCol)).as("_qn"))
    val q = Similarity.probedQueries(qRaw, "q_vec", cents, np)
    // bounded driver round-trip: ≤ min(nlist, |queries|·nprobe) ints
    val probedCells = q.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    // residual layouts compare the query's PER-CELL residual against
    // the codes — probedQueries already emits one (query, cell) row per
    // probe, so the residual rides the same broadcast, joined to the
    // layout's own centroid table (O(1) in nlist, no plan literals)
    val qAdc =
      if (!residual) q.select(col("cell"), col("query_id"), col("_qn").as("_qprep"))
      else q.select(col("cell"), col("query_id"), col("_qn"))
        .join(broadcast(spark.read.parquet(s"$path/centroids")), Seq("cell"))
        .select(col("cell"), col("query_id"),
          Similarity.residualCol(col("_qn"), col("centroid")).as("_qprep"))
    val codes = spark.read.parquet(s"$path/vectors")
      .where(col("cell").isin(probedCells: _*)) // partition-pruned at planning
      .select(col("cell"), col("id").as("neighbor_id"), col("code"))
    val scored = codes
      .join(broadcast(qAdc), Seq("cell"))
      .withColumn("_adist", Similarity.adcDistCol(col("_qprep"), col("code"), cb))
      .select("query_id", "neighbor_id", "_adist")
    // _adist alone: an id tiebreak would totalize the order and turn
    // rank() into row_number(), dropping tied candidates past the
    // candK cut (see pqTopKWith — the tie contract the planted-copy
    // oracle rests on); the exact re-rank supplies final determinism
    val wA = Window.partitionBy("query_id").orderBy(col("_adist").asc)
    val cands = scored.withColumn("_arank", rank().over(wA))
      .where(col("_arank") <= candK)
      .select("query_id", "neighbor_id")
    val cv = spark.read.parquet(s"$path/vectors")
      .where(col("cell").isin(probedCells: _*))
      .select(col("id").as("neighbor_id"), col("vec").as("c_vec"))
    val rer = cv.join(broadcast(cands), Seq("neighbor_id"))
      .join(broadcast(qRaw.select(col("query_id"), col("q_vec"))), Seq("query_id"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", Similarity.cosineCol(col("q_vec"), col("c_vec")))
      // vectors projected away before the rank window (see pqTopKWith):
      // no shuffle in the plan carries an array column
      .select("query_id", "neighbor_id", "cos")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    rer.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** Incremental SEMANTIC dedup against the disk-resident index — the
    * embedding-space twin of [[IncrementalDedup.ingest]]: dedup each
    * incoming batch against everything already accepted WITHOUT
    * re-assigning (or re-reading) the accepted corpus beyond the
    * batch's own probed cells.
    *
    * A batch vector MATCHES (a) any resident vector in one of its
    * probed cells with cosine ≥ `threshold`, or (b) any SMALLER-ID
    * batch vector sharing a probed cell at ≥ `threshold` (a NaN cosine
    * matches nothing, so a NaN-bearing vector is kept) — the same
    * greedy min-id-keeper rule as [[IncrementalDedup.ingest]],
    * deterministic and oracle-recomputable. One row per batch vector:
    * `(doc_id, kept, n_matches, min_match_id)`.
    *
    * Scale shape (batch m ≪ index n): the batch assigns + probes as a
    * narrow map; the resident read is partition-pruned to the batch's
    * probed cells (≤ m·nprobe directories) and the batch side of the
    * scoring join is broadcast — the index is never shuffled. Recall
    * is IVF-class: a match in an unprobed cell is missed, the same
    * trade [[topK]] makes, with the same `nprobe` knob (identical
    * vectors — exact-copy dups — share the argmax cell by
    * construction, so they are found at any nprobe ≥ 1).
    *
    * `appendKept` appends survivors under the frozen centroids via
    * [[append]] (idempotent per id), making replays safe: a replayed
    * batch finds its own already-appended vectors, but the self-pair
    * guard (resident id ≠ batch id) keeps a vector from matching
    * itself, so verdicts re-derive identically and the append skips
    * ids the index already holds. */
  def ingestDedup(batch: DataFrame, idCol: String, vecCol: String,
                  path: String, threshold: Double, nprobe: Int = 0,
                  appendKept: Boolean = false): DataFrame = {
    val spark = batch.sparkSession
    val cents = Similarity.loadIvfIndex(spark, s"$path/centroids")
    val np = if (nprobe > 0) nprobe else Similarity.autoNprobe(cents.length)
    val b = batch.where(col(vecCol).isNotNull)
      .select(col(idCol).as("_bid"), col(vecCol).as("_bvec"))
    // eager checkpoint: reused by the cell collect, both match joins and
    // the verdict aggregate; also severs lineage to the index files the
    // append below writes (the recacheByPath hazard IncrementalDedup
    // documents)
    val probed = Similarity.probedQueries(b, "_bvec", cents, np).localCheckpoint()
    // bounded driver round-trip: ≤ min(nlist, m·nprobe) ints
    val probedCells = probed.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    val resident = spark.read.parquet(s"$path/vectors")
      .where(col("cell").isin(probedCells: _*)) // partition-pruned at planning
      .select(col("cell"), col("id").as("_rid"), col("vec").as("_rvec"))
    // Spark orders NaN above every double, so a bare `>=` would let a
    // NaN-bearing vector match everything it meets
    def similar(cos: Column): Column = cos >= threshold && !isnan(cos)
    val cross = resident.join(broadcast(probed), Seq("cell"))
      // self-pair guard: ids are disjoint by contract EXCEPT when a
      // replayed batch probes an index already holding its own vectors
      .where(col("_rid") =!= col("_bid") &&
        similar(Similarity.cosineCol(col("_bvec"), col("_rvec"))))
      .select(col("_bid").as("doc"), col("_rid").as("m"))
      .distinct()
    val pa = probed.select(col("cell"), col("_bid").as("_ida"), col("_bvec").as("_va"))
    val pb = probed.select(col("cell"), col("_bid").as("_idb"), col("_bvec").as("_vb"))
    val within = pa.join(broadcast(pb), Seq("cell"))
      .where(col("_idb") < col("_ida") &&
        similar(Similarity.cosineCol(col("_va"), col("_vb"))))
      .select(col("_ida").as("doc"), col("_idb").as("m"))
      .distinct()
    val out = b.select(col("_bid").as("doc")).distinct()
      .join(cross.unionByName(within), Seq("doc"), "left")
      .groupBy(col("doc").as("doc_id"))
      .agg(count(col("m")).as("n_matches"), min(col("m")).as("min_match_id"))
      .select(col("doc_id"), (col("n_matches") === 0).as("kept"),
        col("n_matches"), col("min_match_id"))
      // verdicts pinned before the append mutates the layout they read
      .localCheckpoint()
    if (appendKept)
      append(batch.join(out.where(col("kept")).select(col("doc_id").as(idCol)),
        Seq(idCol), "left_semi"), idCol, vecCol, path)
    out
  }

  /** Continuous semantic-dedup ingest: [[ingestDedup]] per micro-batch
    * with `appendKept` on, verdicts landing under
    * `path/verdicts/batch_<id>/` — the streaming twin of
    * [[IncrementalDedup.ingestStream]] in embedding space. State lives
    * entirely in the on-disk cell layout, so the stream dedups against
    * the FULL accepted history at one pruned-cell read per batch
    * (unlike a state-store formulation, whose horizon a TTL bounds).
    * Replay-safe: verdicts re-derive identically (self-pair guard) and
    * the append skips ids the index already holds. */
  def ingestDedupStream(stream: DataFrame, idCol: String, vecCol: String,
                        path: String, checkpoint: String,
                        threshold: Double, nprobe: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          if (!b.isEmpty)
            ingestDedup(b, idCol, vecCol, path, threshold, nprobe,
                appendKept = true)
              .write.mode("overwrite")
              .parquet(s"$path/verdicts/batch_$batchId")
        } finally b.unpersist()
        ()
      }
      .start()

  /** Partial retrain: re-cluster and rewrite ONLY the named cells —
    * the proportionate response to a [[drift]]/[[pqDrift]] report,
    * where a full re-[[build]] would rewrite 100 TB to fix the 2% of
    * cells an append stream actually skewed.
    *
    * Mechanics: the drifted cells' vectors are read (partition-pruned),
    * |cells| REPLACEMENT centroids are trained on exactly that
    * population, spliced into the stored matrix at the same indices
    * (atomic centroid swap — saved FIRST, so residual re-encoding below
    * and every later probe use one matrix), and the vectors are
    * re-assigned among the replacement centroids and rewritten, one
    * two-rename swap per cell directory. PQ layouts re-encode under the
    * frozen codebooks (residual codes change when centroids do).
    *
    * Untouched cells are never read, written, or renamed — their files
    * stay byte-identical (spec-pinned). The price of that locality:
    * re-assignment is RESTRICTED to the rebuilt set, so a vector now
    * closer to an untouched centroid stays local — the standard local-
    * reclustering approximation (IVF semantics are unchanged: cells
    * approximate, probes rank exactly). The next full build globalizes.
    *
    * Probes never lose or double-count a vector at any point: every
    * vector lives in exactly one live cell directory throughout, and
    * scoring is exact over whatever cells are probed. Mid-rebuild
    * (new matrix, pre-swap contents) the REBUILT cells' labels and
    * contents are transiently inconsistent, so a probe whose nprobe
    * does not cover the rebuilt set can transiently rank from the
    * wrong cell — the same approximation class as probing a drifted
    * index, which is the state that triggered the rebuild; a probe
    * covering ≥ the rebuilt set returns pre-rebuild answers exactly
    * (spec-pinned). A crash mid-swap is rolled back/forward by the
    * next call's [[recoverRebuild]]; re-running the same rebuild is
    * idempotent (deterministic training, same seed).
    * Single-maintainer contract.
    *
    * Returns the merged matrix. */
  def rebuildCells(spark: SparkSession, path: String, cells: Seq[Int],
                   iters: Int = 3, seed: Long = 42L): Array[Array[Double]] = {
    import org.apache.hadoop.fs.Path
    require(cells.nonEmpty, "no cells to rebuild")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverRebuild(spark, path)
    val cents = Similarity.loadIvfIndex(spark, s"$path/centroids")
    val cellSet = cells.distinct.sorted
    cellSet.foreach(c => require(c >= 0 && c < cents.length,
      s"cell $c out of range [0, ${cents.length})"))
    val cbPath = new Path(s"$path/codebooks")
    val hasPq = fs.exists(cbPath)

    val sub = spark.read.parquet(s"$path/vectors")
      .where(col("cell").isin(cellSet: _*))
      .select(col("id"), col("vec"))
    require(sub.head(1).nonEmpty,
      s"cells ${cellSet.mkString(",")} hold no vectors — nothing to rebuild")
    val replacement = Similarity.trainIvfCentroids(sub, "id", "vec",
      nlist = cellSet.size, iters = iters, seed = seed)
    val merged = cents.map(_.clone())
    cellSet.zipWithIndex.foreach { case (c, i) => merged(c) = replacement(i) }
    Similarity.saveIvfIndex(spark, s"$path/centroids", merged)

    // local argmax over the replacement centroids → global cell ids
    val localToGlobal = array(cellSet.map(c => lit(c)): _*)
    val reassigned = Similarity.assignedCells(sub, "vec", replacement)
      .withColumn("cell", element_at(localToGlobal, col("cell") + 1))
    val rows =
      if (hasPq) {
        val (cb, residual) = Similarity.loadPqCodebooks(spark, cbPath.toString)
        encodeAssigned(reassigned, cb, residual, path)
      } else reassigned
    // stage everything BEFORE the first rename: the staging write is the
    // only job that reads the live cells, so every swap below is pure
    // metadata. Staging/backup live OUTSIDE vectors/ — a partial dir
    // inside it would poison Hive partition discovery for every reader.
    val staging = new Path(s"$path/vectors.rebuild_tmp")
    val bakRoot = new Path(s"$path/vectors.rebuild_bak")
    fs.delete(staging, true)
    fs.delete(bakRoot, true)
    rows.repartition(col("cell"))
      .write.partitionBy("cell").parquet(staging.toString)
    fs.mkdirs(bakRoot)
    cellSet.foreach { c =>
      val live = new Path(s"$path/vectors/cell=$c")
      val fresh = new Path(s"$staging/cell=$c")
      val bak = new Path(s"$bakRoot/cell=$c")
      if (fs.exists(live)) require(fs.rename(live, bak), s"could not stage $live aside")
      // a rebuilt cell can drain to empty: its dir is then simply absent
      if (fs.exists(fresh)) require(fs.rename(fresh, live), s"could not commit $fresh")
    }
    fs.delete(staging, true)
    fs.delete(bakRoot, true)
    merged
  }

  /** Rolls an interrupted [[rebuildCells]] back: any backed-up cell
    * whose live directory is ABSENT (crash between its two renames) is
    * restored, then leftover staging/backup trees are dropped. Cells
    * whose swap completed keep their rebuilt contents — re-running the
    * same rebuildCells call is the roll-forward (deterministic
    * training re-derives the same layout). Called automatically at the
    * start of every rebuild. */
  def recoverRebuild(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bakRoot = new Path(s"$path/vectors.rebuild_bak")
    if (fs.exists(bakRoot)) {
      fs.listStatus(bakRoot).foreach { st =>
        val live = new Path(s"$path/vectors/${st.getPath.getName}")
        if (!fs.exists(live))
          require(fs.rename(st.getPath, live), s"could not restore ${st.getPath}")
      }
      fs.delete(bakRoot, true)
    }
    fs.delete(new Path(s"$path/vectors.rebuild_tmp"), true)
  }

  /** Compacts the vector layout to one file per populated cell — every
    * appended micro-batch leaves a file in each cell it touched, and a
    * year of appends makes the partition-pruned probe pay per-file open
    * cost far above the bytes. The whole `vectors/` tree is rewritten
    * (same repartition-by-cell shape as [[buildWith]]) and swapped in
    * by the lake's two-rename protocol: probes read whichever complete
    * layout is live; a crash between the renames is rolled back by the
    * next compact's `recover()`. Single-maintainer contract. */
  def compact(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(s"$path/vectors")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swap = new graft.lake.SwapProtocol(fs, live, ".compact_tmp", ".compact_bak")
    swap.recover()
    swap.dropBak()
    swap.clearTmp()
    spark.read.parquet(live.toString)
      .repartition(col("cell"))
      .write.partitionBy("cell").parquet(swap.tmp.toString)
    swap.commit()
    swap.dropBak()
  }

  /** Quantization-health twin of [[drift]] for PQ layouts: per-cell
    * mean/max squared ADC reconstruction error
    * ‖prepared(v) − reconstruct(code(v))‖² recomputed from the stored
    * rows (one scan; vec + code + the broadcast centroid table in
    * residual mode). [[drift]] says the CELLS no longer fit the data;
    * this says the CODEBOOKS don't: appends under a frozen quantizer
    * shift the residual distribution, reconstruction error creeps up,
    * and ADC shortlists admit ever-worse candidates at fixed candK.
    * Retrain codebooks (and re-encode via [[buildWithPq]]) when a
    * cell's mean error drifts well past its build-time value. */
  def pqDrift(spark: SparkSession, path: String): DataFrame = {
    val (cb, residual) = Similarity.loadPqCodebooks(spark, s"$path/codebooks")
    val rows = spark.read.parquet(s"$path/vectors")
    val prepared =
      if (!residual) Similarity.normalizedCol(col("vec"))
      else Similarity.residualCol(Similarity.normalizedCol(col("vec")), col("centroid"))
    val base =
      if (!residual) rows
      else rows.join(broadcast(spark.read.parquet(s"$path/centroids")), Seq("cell"))
    base
      .withColumn("_err", Similarity.adcDistCol(prepared, col("code"), cb))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vectors"),
        avg("_err").as("mean_sq_err"), max("_err").as("max_sq_err"))
  }

  /** Per-cell occupancy report + imbalance summary, from footer row
    * counts only: `(cell, n_vectors, share, imbalance)` where imbalance
    * = n_vectors / mean-occupancy. Empty cells (never assigned or
    * drained) are absent from the layout and so from the report —
    * their count is nlist − rows. A max imbalance drifting past ~4–8×
    * (or a large empty-cell count) says the frozen centroids no longer
    * fit the appended distribution: re-[[build]]. */
  def drift(spark: SparkSession, path: String): DataFrame = {
    val nlist = Similarity.loadIvfIndex(spark, s"$path/centroids").length
    val w = Window.partitionBy()
    // count() over the partitioned read is footer-metadata only — Spark
    // answers per-file counts from parquet row counts, no column reads
    spark.read.parquet(s"$path/vectors")
      .groupBy("cell").agg(count(lit(1)).as("n_vectors"))
      .withColumn("share", col("n_vectors") / sum("n_vectors").over(w))
      .withColumn("imbalance",
        col("n_vectors").cast("double") * lit(nlist) / sum("n_vectors").over(w))
  }
}
