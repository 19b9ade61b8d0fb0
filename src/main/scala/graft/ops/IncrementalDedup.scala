package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{ClusteredWriter, Metastore}

/** Incremental near-duplicate detection against a PERSISTED MinHash-LSH
  * index — the 100 TB shape for a growing corpus: dedup each incoming
  * batch against everything already accepted WITHOUT re-fingerprinting
  * (or re-shuffling) the accepted corpus.
  *
  * The reference deduplicates only within what it scans per query
  * (lakeshack has no dedup surface at all — SURVEY §2.2 ★); a training
  * -data pipeline ingesting continuously needs the incremental form:
  * index once, probe per batch, append what survives.
  *
  * On-disk layout under `indexPath`:
  *   - `postings/` — `(doc, band, bucket)`, one row per (document,
  *     band): the LSH blocking keys, produced by the SAME fused native
  *     signature expression as the batch pipeline
  *     ([[graft.functions.MinHashBandBuckets]]), so a stored posting
  *     and a freshly computed one for identical text are bit-identical
  *     — the property incremental candidate generation rests on.
  *   - `sets/` — `(doc, sh_set)`: the distinct shingle-hash set per
  *     document, for exact verification of proposed pairs.
  *   - `meta/` — the signature parameters; [[ingest]] ADOPTS them
  *     rather than taking its own (probing with a mismatched band
  *     layout would silently find nothing).
  *   - `postings_stats/`, `sets_stats/` — per-file [min,max] zone maps
  *     over each table's cluster key (bucket / doc), harvested from
  *     parquet footers; what probe-time pruning reads. Absent on an
  *     index built before clustering — probes then full-scan, and
  *     [[compact]] upgrades the layout in place.
  *
  * Scale shape of a probe (index n docs, batch m docs, m ≪ n):
  *   - the batch's postings and shingle sets are narrow maps over the
  *     batch only — the accepted corpus is NEVER re-fingerprinted;
  *   - the index postings are scanned ONCE and reduced to the batch's
  *     (band, bucket) keys by a broadcast semi-join — no shuffle of
  *     the index, no sort; candidate old-docs' shingle sets are
  *     fetched the same way (broadcast semi-join on candidate ids);
  *   - per-bucket work is capped by `maxBucket` on the COMBINED
  *     (index + batch) bucket population — same bound, and therefore
  *     the same recall contract, as the batch pipeline's;
  *   - verification cost is O(surviving candidate pairs · doc length).
  *   Each batch therefore costs one index-postings scan + one
  *   sets-fetch scan + batch-sized narrow work — and both index scans
  *   are ZONE-MAP-PRUNED: `postings/` is written through
  *   [[graft.lake.ClusteredWriter]] clustered on `bucket` and `sets/`
  *   on `doc`, with per-file min/max stats beside each
  *   (`postings_stats/`, `sets_stats/`), so a probe reads only the
  *   files whose key range intersects the batch's keys — the prune
  *   decision itself is driver-side interval math over cached stats
  *   rows (zero Spark jobs), and engages only past `IndexRead.minPruneBytes`
  *   (a few-MB table is one task wave either way). At steady state
  *   that turns the per-batch scans from O(index) to
  *   O(batch · files-per-key). For micro-batches, amortize further by
  *   grouping batches; run [[compact]] periodically to fold append-era
  *   files (whole-range coverage) back into tight disjoint ranges;
  *   run [[auditIndex]] after incidents (an under-covering stats row
  *   is the one pruned-probe failure re-filtering cannot catch).
  */
object IncrementalDedup {

  private case class Meta(numHashes: Int, bands: Int, shingleSize: Int)

  // `meta`, not `_meta`: underscore-prefixed paths are hidden to
  // Spark's file listing (the json read warned `All paths were
  // ignored` on every probe, working only through the explicit-root
  // exception)
  private def metaPath(indexPath: String) = s"$indexPath/meta"

  private def writeMeta(spark: SparkSession, indexPath: String, m: Meta): Unit = {
    import spark.implicits._
    Seq((m.numHashes, m.bands, m.shingleSize))
      .toDF("num_hashes", "bands", "shingle_size")
      .coalesce(1).write.mode("overwrite").json(metaPath(indexPath))
    // a REBUILD may change the parameters — refresh this session's view
    // (other sessions re-read on first use; cross-process rebuild during
    // a live session remains the caller's coordination problem, as with
    // every parquet-store writer here)
    metaCache.put((spark, indexPath), m)
  }

  // one json read per (session, index): ingest would otherwise read the
  // meta twice per batch (itself + ingestPairs). The only in-session
  // writer is writeMeta, which refreshes the entry on rebuild.
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Meta]()

  private def cachedMeta(spark: SparkSession, indexPath: String): Meta =
    metaCache.computeIfAbsent((spark, indexPath), _ => readMeta(spark, indexPath))

  private def readMeta(spark: SparkSession, indexPath: String): Meta = {
    val r = spark.read.json(metaPath(indexPath)).head()
    Meta(r.getAs[Long]("num_hashes").toInt, r.getAs[Long]("bands").toInt,
      r.getAs[Long]("shingle_size").toInt)
  }

  /** Builds (or replaces) the index at `indexPath` from an accepted
    * corpus.
    *
    * Both tables are written CLUSTERED on their probe key —
    * `postings/` range-partitioned+sorted on `bucket`, `sets/` on `doc`
    * (via [[graft.lake.ClusteredWriter]]) — and a per-file min/max
    * zone map for each is harvested from the parquet footers into
    * `postings_stats/` / `sets_stats/` ([[graft.lake.Metastore]]).
    * Every probe then prunes its index scan to the files whose key
    * range intersects the batch's keys (see [[ingestPairs]]): at
    * steady state (batch ≪ index) the per-batch postings read shrinks
    * from O(index) to O(batch · files-per-key) — the engine's own
    * metastore pruning (reference metastore.py:414-481) applied to the
    * engine's own dedup index. Clustering adds one range exchange at
    * build time; probes stay may-contain-sound because every pruned
    * read is re-filtered by the same semi-joins as before.
    *
    * `clusterFiles` targets ~128-512 MB per postings file at scale. */
  def buildIndex(df: DataFrame, idCol: String, textCol: String,
                 indexPath: String, numHashes: Int = 64, bands: Int = 32,
                 shingleSize: Int = 3, clusterFiles: Int = 16): Unit = {
    val spark = df.sparkSession
    ClusteredWriter.write(
      Dedup.minhashBuckets(df, idCol, textCol, numHashes, bands, shingleSize),
      s"$indexPath/postings", "bucket", clusterFiles)
    ClusteredWriter.write(
      Dedup.shingleSets(df, idCol, textCol, shingleSize),
      s"$indexPath/sets", "doc", clusterFiles)
    Metastore.buildFromFooters(spark, s"$indexPath/postings", "bucket")
      .write.mode("overwrite").parquet(statsPath(indexPath, "postings"))
    Metastore.buildFromFooters(spark, s"$indexPath/sets", "doc")
      .write.mode("overwrite").parquet(statsPath(indexPath, "sets"))
    writeMeta(spark, indexPath, Meta(numHashes, bands, shingleSize))
  }

  private def statsPath(indexPath: String, table: String) = s"$indexPath/${table}_stats"

  /** Pruned-read telemetry — see [[IndexRead.lastPrune]] (shared across
    * all disk-resident indexes; specs pin pruning claims on it). */
  val lastPrune = IndexRead.lastPrune

  /** Probes `batch` against the index and returns one row PER BATCH DOC:
    * `(doc_id, kept, n_matches, min_match_id)` where a match is a
    * verified J ≥ `threshold` pair with (a) any indexed doc, or (b) a
    * SMALLER-ID batch doc — the same greedy min-id-keeper policy as
    * [[Dedup.exact]], deterministic and oracle-recomputable. (For
    * transitive-cluster semantics, feed the pair list from
    * [[ingestPairs]] to [[Dedup.clusters]] instead.)
    *
    * When `appendKept` is set, the kept docs' postings and shingle sets
    * are appended to the index, so the next batch dedups against them
    * too — the steady-state ingest loop. */
  def ingest(batch: DataFrame, idCol: String, textCol: String,
             indexPath: String, threshold: Double = 0.5,
             maxBucket: Int = 1000, appendKept: Boolean = false): DataFrame = {
    val spark = batch.sparkSession
    val meta = cachedMeta(spark, indexPath)
    val ids = batch.select(col(idCol).as("doc")).distinct()

    val pairs = ingestPairs(batch, idCol, textCol, indexPath, threshold, maxBucket)
    // a batch doc d is matched by pair (doc_a=d, doc_b=old) — cross
    // pairs are oriented new→old — or by within pair (doc_a=a, doc_b=d)
    // with a < d (candidatePairsFromBuckets emits doc_a < doc_b)
    val matches = pairs.where(col("is_cross"))
      .select(col("doc_a").as("doc"), col("doc_b").as("m"))
      .unionByName(pairs.where(!col("is_cross"))
        .select(col("doc_b").as("doc"), col("doc_a").as("m")))
    val out = ids
      .join(matches, Seq("doc"), "left")
      .groupBy(col("doc").as("doc_id"))
      .agg(count(col("m")).as("n_matches"), min(col("m")).as("min_match_id"))
      .select(col("doc_id"), (col("n_matches") === 0).as("kept"),
        col("n_matches"), col("min_match_id"))
      // LINEAGE SEVERED (eager localCheckpoint) before any append: the
      // verdicts' plan READS the index the append below writes. Left
      // lazy, a caller collecting after appendKept would re-probe an
      // index already holding this batch's own postings and every kept
      // doc would match itself — and a plain persist() is NOT enough:
      // the append triggers CacheManager.recacheByPath on the index
      // path, which RECOMPUTES any cached plan referencing it. One
      // (verdict) row per batch doc — cheap to pin.
      .localCheckpoint()

    if (appendKept) {
      // batch ids for zone-map pruning of the anti-join's sets read
      // (bounded by the batch size — the design regime m ≪ n; past
      // MaxPruneValues prunedRead falls back to the full scan). Lazy:
      // prunedRead only evaluates the collect when the table is big
      // enough for pruning to pay.
      def batchIds = ids.collect().map(_.get(0)).toSeq
      val kept = batch.join(
          out.where(col("kept")).select(col("doc_id").as(idCol)), Seq(idCol), "left_semi")
        // idempotent append: a doc whose id the index already holds (a
        // REPLAYED micro-batch — the driver died between the append and
        // the streaming commit) is not appended twice. The anti-join
        // only needs sets rows whose doc COULD be a batch id, so the
        // scan is zone-map-pruned to the files whose [doc_min, doc_max]
        // intersects the batch's ids — dropping a file that can't match
        // cannot change an anti-join verdict.
        .join(IndexRead.prunedRead(spark, s"$indexPath/sets", statsPath(indexPath, "sets"),
            batchIds).select(col("doc").as(idCol)),
          Seq(idCol), "left_anti")
      // persist the kept set: the two appends below would otherwise
      // re-run the whole probe (out depends on the index being read)
      val keptP = kept.persist()
      try {
        val postingsBefore = IndexRead.listFiles(spark, s"$indexPath/postings").toSet
        val setsBefore = IndexRead.listFiles(spark, s"$indexPath/sets").toSet
        Dedup.minhashBuckets(keptP, idCol, textCol,
            meta.numHashes, meta.bands, meta.shingleSize)
          .write.mode("append").parquet(s"$indexPath/postings")
        Dedup.shingleSets(keptP, idCol, textCol, meta.shingleSize)
          .write.mode("append").parquet(s"$indexPath/sets")
        // stats upkeep for the files THIS append produced (footer-only,
        // O(batch) not O(table)); Metastore.update's left-anti makes a
        // replayed upsert idempotent. A crash between the append above
        // and this point leaves the new files unknown to the stats —
        // prunedRead always reads unknown files, so probes stay sound
        // until the next append (or compact) catches the stats up.
        upsertStats(spark, indexPath, "postings", "bucket",
          IndexRead.listFiles(spark, s"$indexPath/postings").filterNot(postingsBefore))
        upsertStats(spark, indexPath, "sets", "doc",
          IndexRead.listFiles(spark, s"$indexPath/sets").filterNot(setsBefore))
      } finally keptP.unpersist()
    }
    out
  }

  /** Footer-harvest `newFiles` and upsert into the table's stats — part
    * of the append path; skipped when the index predates clustering
    * (no stats table → probes full-scan, exactly the old behavior). */
  private def upsertStats(spark: SparkSession, indexPath: String,
                          table: String, key: String,
                          newFiles: Seq[String]): Unit =
    IndexRead.upsertStats(spark, s"$indexPath/$table",
      statsPath(indexPath, table), key, newFiles)

  /** Continuous corpus ingest: each micro-batch is deduped against the
    * index (and itself), its verdicts land under
    * `indexPath/verdicts/batch_<id>/`, and its kept docs' postings+sets
    * are appended — the steady-state loop of [[ingest]] as a
    * Structured Streaming job.
    *
    * Replay safety (driver died between the append and the streaming
    * commit): verdicts are IDEMPOTENT — the self-pair guard in
    * [[ingestPairs]] keeps a replayed doc from matching its own
    * just-appended postings, kept/dropped therefore re-derive
    * identically, and the verdict dir is overwritten per batch id —
    * and the append skips ids the index already holds, so nothing
    * duplicates. State lives entirely in the on-disk index: unlike
    * [[Dedup.nearDupStream]] (in-memory state store, TTL-bounded
    * horizon), this form dedups against the FULL accepted history at
    * one postings scan per batch. */
  def ingestStream(stream: DataFrame, idCol: String, textCol: String,
                   indexPath: String, checkpoint: String,
                   threshold: Double = 0.5, maxBucket: Int = 1000)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          if (!b.isEmpty)
            ingest(b, idCol, textCol, indexPath, threshold, maxBucket,
                appendKept = true)
              .write.mode("overwrite")
              .parquet(s"$indexPath/verdicts/batch_$batchId")
        } finally b.unpersist()
        ()
      }
      .start()

  /** Compacts the index's postings and sets tables into `filesPerTable`
    * files each — the [[IndexRead.compactTable]] discipline (clustered
    * rewrite restoring tight disjoint key ranges, SwapProtocol
    * two-rename commit, stats replacement from the new footers) over
    * both tables. */
  def compact(spark: SparkSession, indexPath: String,
              filesPerTable: Int = 8): Unit =
    Seq("postings" -> "bucket", "sets" -> "doc").foreach { case (table, key) =>
      IndexRead.compactTable(spark, s"$indexPath/$table",
        statsPath(indexPath, table), key, filesPerTable)
    }

  /** Stats-soundness audit of the index's OWN zone maps — the same
    * maintenance op the lake runs on its metastore
    * ([[graft.lake.Metastore.auditStats]]), pointed at `postings_stats/`
    * and `sets_stats/`: recompute each table's per-file bounds by scan
    * and report per-(file, column) verdicts, prefixed with the table
    * name. The verdict that matters is `under_covering`: stored bounds
    * narrower than the data mean a probe could zone-map-prune a file
    * that holds a real candidate — the one failure mode of the pruned
    * probe path that re-filtering cannot catch (pruning is supposed to
    * be may-contain; an unsound stats row breaks that premise). Run it
    * after incidents, not per batch. Empty result when the index
    * predates clustering (no stats tables — nothing prunes, nothing to
    * audit). */
  def auditIndex(spark: SparkSession, indexPath: String): DataFrame = {
    val audits = Seq("postings", "sets").flatMap { table =>
      val sp = statsPath(indexPath, table)
      if (!IndexRead.exists(spark, sp)) None
      else Some(
        Metastore.auditStats(spark, s"$indexPath/$table", Metastore.load(spark, sp))
          .withColumn("table", lit(table)))
    }
    audits.reduceOption(_ unionByName _).getOrElse {
      import spark.implicits._
      Seq.empty[(String, String, String, String, String, String, String, String)]
        .toDF("filepath", "column", "verdict", "stored_min", "stored_max",
          "actual_min", "actual_max", "table")
    }
  }

  /** One-row health summary of the index, postings-scan cost only:
    * `(n_docs, n_postings, n_buckets, max_bucket, avg_bucket,
    * n_files_postings)`. `max_bucket` approaching the probe-time cap
    * means boilerplate content is about to cost recall (capped buckets
    * drop candidates — the documented tripwire); `n_files_postings`
    * growing into the thousands says [[compact]]. The monitoring
    * counterpart of [[VectorIndex.drift]]. */
  def indexStats(spark: SparkSession, indexPath: String): DataFrame = {
    val postings = spark.read.parquet(s"$indexPath/postings")
    val nFiles = postings.inputFiles.length.toLong
    val sets = spark.read.parquet(s"$indexPath/sets")
    postings.groupBy("band", "bucket").agg(count(lit(1)).as("_n"))
      .agg(sum(col("_n")).as("n_postings"), count(lit(1)).as("n_buckets"),
        max(col("_n")).as("max_bucket"),
        (sum(col("_n")) / count(lit(1))).as("avg_bucket"))
      .crossJoin(sets.agg(count(lit(1)).as("n_docs")))
      .select(col("n_docs"), col("n_postings"), col("n_buckets"),
        col("max_bucket"), col("avg_bucket"), lit(nFiles).as("n_files_postings"))
  }

  /** The verified near-dup PAIRS a batch generates against index ∪
    * batch: `(doc_a, doc_b, n_common, jaccard, is_cross)` — cross pairs
    * oriented (new, old), within-batch pairs (a, b) with a < b. Shared
    * by [[ingest]]; exposed for callers wanting cluster semantics.
    *
    * `broadcastProbe` (default on) pins the batch side of every probe
    * join to a broadcast — right whenever the batch is genuinely small
    * (the design regime: batch ≪ index). A LARGE backfill batch (tens
    * of millions of postings — past
    * `spark.sql.autoBroadcastJoinThreshold` territory) should pass
    * `false`: the probe joins then shuffle BOTH sides on (band, bucket)
    * — the index pays one exchange of its matching postings, which at
    * that batch size is cheaper than shipping a multi-GB broadcast to
    * every executor (or dying on the 8 GB broadcast ceiling). Results
    * are identical either way (spec-pinned); only the join strategy
    * moves. */
  def ingestPairs(batch: DataFrame, idCol: String, textCol: String,
                  indexPath: String, threshold: Double = 0.5,
                  maxBucket: Int = 1000,
                  broadcastProbe: Boolean = true): DataFrame = {
    val spark = batch.sparkSession
    val meta = cachedMeta(spark, indexPath)
    // the batch side of each probe join: pinned broadcast in the small-
    // batch regime, shuffle hint for backfills
    def probeSide(df: DataFrame): DataFrame =
      if (broadcastProbe) broadcast(df) else df.hint("shuffle_hash")

    // EAGER localCheckpoint, not persist-with-finally-unpersist: the
    // returned frame is lazy, so an unpersist on function exit would
    // fire before any action and every downstream reference (okKeys,
    // cross, within all read batchPost; okKeys and cross read probed;
    // batchSets feeds the verification) would re-execute the upstream
    // from scratch — the persist would cache nothing. Both frames are
    // batch-scale: sets+postings are O(batch) rows, and `probed` is the
    // index reduced to the batch's keys. Checkpointing `probed` also
    // severs the plan's lineage to the index files (see `ingest`'s
    // recacheByPath note).
    //
    // ONE batch pass ([[Dedup.postingsAndSets]]): the band buckets AND
    // the verification shingle sets derive from a single
    // tokenize+shingle evaluation — the previous separate
    // minhashBuckets + shingleSets derivations ran that hot loop twice
    // per probe (measured ~0.9 s of the 5.0 s warm probe at sf0.1).
    val batchDerived: DataFrame = Dedup.postingsAndSets(batch, idCol, textCol,
      meta.numHashes, meta.bands, meta.shingleSize).localCheckpoint()
    val batchPost = batchDerived.select(col("doc"),
      posexplode(col("_buckets")).as(Seq("band", "bucket")))
    val batchSets = batchDerived.select("doc", "sh_set")
    val batchKeys = batchPost.select("band", "bucket").distinct()
    // index postings: reduced to the batch's keys by a broadcast
    // semi-join (the batch side is the small one by contract) — the
    // index is never shuffled or sorted. The scan itself is zone-map-
    // pruned to the files whose bucket range intersects the batch's
    // buckets (postings are bucket-clustered at build/compact time), so
    // at steady state the "ONE postings scan per batch" reads O(batch)
    // files, not O(index) — the linear term the clustered layout
    // removes. Backfill regime (broadcastProbe=false) skips pruning: a
    // corpus-sized batch touches essentially every bucket range anyway,
    // and its key list is past any sensible driver collect.
    val probed: DataFrame = {
      val postings =
        if (broadcastProbe)
          IndexRead.prunedRead(spark, s"$indexPath/postings",
            statsPath(indexPath, "postings"),
            batchKeys.select("bucket").distinct().collect().map(_.get(0)).toSeq)
        else spark.read.parquet(s"$indexPath/postings")
      postings
        .join(probeSide(batchKeys), Seq("band", "bucket"), "left_semi")
        .localCheckpoint()
    }
    locally {
        // combined-population bucket cap — same bound as the batch
        // pipeline applies to a bucket of the unioned corpus, so the
        // recall contract (and its tripwire: a capped bucket DROPS
        // candidates, visibly degrading the verified pair set) is
        // unchanged by incrementality
        val okKeys = probed.groupBy("band", "bucket")
          .agg(count(lit(1)).as("_ni"))
          .join(batchPost.groupBy("band", "bucket").agg(count(lit(1)).as("_nb")),
            Seq("band", "bucket"))
          .where(col("_ni") + col("_nb") <= maxBucket)
          .select("band", "bucket")
        // when the sets table is big enough for zone-map pruning to pay
        // (minPruneBytes), the candidate ids get collected below — so
        // cross is eagerly checkpointed first: it is batch-bounded
        // candidate pairs, cheap to pin, and pinning lets the prune
        // collect without re-running the probe joins for each of its
        // three uses. On a toy table the collect never happens and the
        // checkpoint job would be pure overhead — cross stays lazy
        // (its two remaining uses recompute inside ONE action, the
        // pre-clustering shape).
        val setsPruneActive = broadcastProbe &&
          IndexRead.listEntries(spark, s"$indexPath/sets").iterator.map(_._2).sum >=
            IndexRead.minPruneBytes &&
          IndexRead.exists(spark, statsPath(indexPath, "sets"))
        val cross0 = probed
          .join(probeSide(okKeys), Seq("band", "bucket"), "left_semi")
          .select(col("band"), col("bucket"), col("doc").as("_old"))
          .join(probeSide(batchPost.select(col("band"), col("bucket"), col("doc").as("_new"))),
            Seq("band", "bucket"))
          // self-pair guard: ids are disjoint by contract, EXCEPT when a
          // replayed micro-batch probes an index already holding its own
          // postings ([[ingestStream]]) — a doc must never match itself
          .where(col("_new") =!= col("_old"))
          .select(col("_new").as("doc_a"), col("_old").as("doc_b"))
          .distinct()
        val cross = if (setsPruneActive) cross0.localCheckpoint() else cross0
        val within = Dedup.candidatePairsFromBuckets(
          batchPost, Seq("bucket", "band"), "doc", maxBucket)

        // only the candidate old-docs' sets are fetched: the sets scan
        // is zone-map-pruned to files whose doc range intersects the
        // (batch-bounded, checkpointed-above) candidate id list, then
        // reduced exactly by the broadcast semi-join — same result, a
        // candidate-sized read instead of a corpus-sized one. Backfill
        // regime reads the full table (candidate list is corpus-scale).
        val candidates = cross.select(col("doc_b").as("doc")).distinct()
        val setsSrc =
          if (broadcastProbe)
            IndexRead.prunedRead(spark, s"$indexPath/sets", statsPath(indexPath, "sets"),
              candidates.collect().map(_.get(0)).toSeq)
          else spark.read.parquet(s"$indexPath/sets")
        val oldSets = setsSrc.join(probeSide(candidates), Seq("doc"), "left_semi")
        val sets = batchSets.unionByName(oldSets)

        Dedup.verifiedJaccardOnSets(sets, cross.unionByName(within), threshold)
          // restore the orientation flag the verifier drops: a pair is
          // cross iff its doc_b is not a batch doc (ids are disjoint).
          // Batch ids read from the checkpointed derivation (one row
          // per batch row), not a fresh batch scan.
          .join(probeSide(batchDerived.select(col("doc").as("_bid")).distinct()),
            col("doc_b") === col("_bid"), "left")
          .withColumn("is_cross", col("_bid").isNull)
          .drop("_bid")
    }
  }
}
