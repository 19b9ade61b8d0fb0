package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.lake.{ClusteredWriter, Metastore, ZoneMap}

/** Zone-map-pruned reads of a PERSISTED index table — the machinery
  * shared by every disk-resident index in the library (the MinHash-LSH
  * postings/sets of [[IncrementalDedup]], the BM25 postings of
  * [[TextIndex]]): a table written through
  * [[graft.lake.ClusteredWriter]] on its probe key, a `<table>_stats/`
  * parquet of per-file [min,max] footer intervals beside it, and a
  * probe that reads only the files whose interval intersects its key
  * set. Extends the reference's metastore pruning
  * (`lakeshack/metastore.py:414-481`) to the engine's own index
  * structures.
  *
  * The prune decision is DRIVER-SIDE MATH, not a Spark job: stats rows
  * are collected once per path into a fingerprint-invalidated
  * [[graft.lake.ZoneMap]] snapshot, and each probe runs the shared
  * zone-map kernel (sorted values, one binary search per file —
  * O(F log V)). May-contain semantics: every caller
  * re-filters by an exact join or predicate, so pruning can only
  * shrink I/O, never change results.
  *
  * Soundness under maintenance races: a file on disk but missing from
  * the stats table (a crash landed between an append and its stats
  * upsert) is ALWAYS read; a stats row pointing at a deleted file (a
  * crash inside a compact swap) is ignored because the kept list is
  * intersected with the live listing.
  */
private[graft] object IndexRead {

  /** Per-table telemetry of the LAST pruned index read in this JVM:
    * `tablePath -> (files read, files on disk)`. The observability
    * counterpart of [[graft.lake.QueryTelemetry]]'s prune counters,
    * and what the spec pins the pruning claim on. */
  val lastPrune =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()

  /** Probe-side prune list cap: past this many distinct key values the
    * value-vs-interval test stops being obviously cheap and a batch
    * that large touches most files anyway — fall back to the full
    * scan (the pre-clustering behavior; results identical). */
  val MaxPruneValues = 1 << 18

  def listFiles(spark: SparkSession, dir: String): Seq[String] =
    listEntries(spark, dir).map(_._1)

  def listEntries(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else {
      val it = fs.listFiles(root, true)
      val buf = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet"))
          buf += ((f.getPath.toString, f.getLen))
      }
      buf.toSeq
    }
  }

  /** Below this many TABLE bytes a probe skips pruning and scans the
    * whole table: the prune decision's fixed cost (a candidate-id
    * collect, a values sort) must stay well under the scan it would
    * skip, and a few-MB toy index is one task wave either way — the
    * first clustered cut paid ~2.5 s of decision machinery per probe
    * at sf0.1 to prune a 4 MB table. At 100 TB an index table is
    * GBs-to-TBs and the threshold is irrelevant. Visible as the test
    * seam (specs pin pruning on deliberately tiny tables) and an ops
    * tuning knob. Default 128 MB ≈ one well-sized lake file: below
    * that the whole table is a single scan task's worth of bytes. */
  var minPruneBytes: Long = 128L << 20

  /** Zone-map-pruned read of an index table: only files whose stored
    * [min,max] interval on the cluster key intersects `values` are
    * scanned. `values` is by-name so callers don't pay their collect
    * when the stats table is absent. Falls back to the full scan when
    * the stats table does not exist (an index built before
    * clustering), the table is under [[minPruneBytes]], or `values`
    * exceeds [[MaxPruneValues]]. */
  def prunedRead(spark: SparkSession, tablePath: String,
                 stats: String, values: => Seq[Any]): DataFrame = {
    val entries = listEntries(spark, tablePath)
    val listing = entries.map(_._1)
    def full() = {
      lastPrune.put(tablePath, (listing.size, listing.size))
      spark.read.parquet(tablePath)
    }
    if (entries.iterator.map(_._2).sum < minPruneBytes) return full()
    cachedStats(spark, stats) match {
      case None => full()
      case Some(zm) =>
        val vs = values.filter(_ != null).distinct
        if (vs.size > MaxPruneValues) return full()
        val kept = zm.prune(vs).toSet
        val files = listing.filter(p => kept.contains(p) || !zm.files.contains(p))
        lastPrune.put(tablePath, (files.size, listing.size))
        if (files.isEmpty) spark.read.parquet(tablePath).limit(0)
        else spark.read.parquet(files: _*)
    }
  }

  /** Stats snapshot collected once per stats path,
    * invalidated by the stats directory's listing fingerprint (name +
    * length + mtime of every file) — appends and compacts change the
    * listing, so a probe never prunes against stale bounds it could
    * have known were stale. `None` = no stats table (an index built
    * before clustering). The fs listing per probe is metadata-only,
    * microseconds against the scan it gates. Keyed by PATH alone (not
    * session): the rows derive from the files, and the listing
    * fingerprint already invalidates on any change — a session key
    * would only pin stopped sessions in the map. */
  private val statsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, ZoneMap)]()

  private def cachedStats(spark: SparkSession, statsPath: String): Option[ZoneMap] = {
    val root = new org.apache.hadoop.fs.Path(statsPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return None
    val fp = {
      val it = fs.listFiles(root, true)
      val b = new StringBuilder
      while (it.hasNext) {
        val f = it.next()
        b.append(f.getPath.getName).append(':')
          .append(f.getLen).append(':').append(f.getModificationTime).append(';')
      }
      b.toString
    }
    val cached = statsCache.get(statsPath)
    if (cached != null && cached._1 == fp) return Some(cached._2)
    val zm = ZoneMap(Metastore.load(spark, statsPath))
    statsCache.put(statsPath, (fp, zm))
    Some(zm)
  }

  def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Merges footer stats rows for `newFiles` of `tableDir` into the
    * stats table at `statsDir` — the append-path companion of a
    * clustered index table. No-op when the stats table is absent (a
    * pre-clustering index stays a pre-clustering index until its next
    * compact). */
  def upsertStats(spark: SparkSession, tableDir: String, statsDir: String,
                  key: String, newFiles: Seq[String]): Unit =
    if (newFiles.nonEmpty && exists(spark, statsDir))
      Metastore.update(spark, statsDir,
        Metastore.buildFromFooters(spark, tableDir, key, onlyPaths = newFiles))

  /** Clustered rewrite + stats replacement of ONE index table — the
    * compact discipline shared by every disk-resident index: every
    * appended micro-batch adds its own small files whose key range
    * covers the whole batch, and a year of batches makes the per-probe
    * scan pay an open-file tax far above the bytes while defeating
    * zone-map pruning (append-era intervals overlap everything). The
    * rewrite goes through [[graft.lake.ClusteredWriter]] to a staging
    * dir (tight disjoint key ranges again), swaps in by
    * [[graft.lake.SwapProtocol]]'s two-rename commit (crash between
    * the renames → `recover()` on the next compact restores the
    * previous table; probes read whichever complete table is live),
    * then REPLACES the table's stats rows from the new footers.
    *
    * Crash between the commit and the stats rebuild → stats hold only
    * orphan rows (intersected away by [[prunedRead]]'s live-listing
    * filter) and the new files are unknown (always read) — probes stay
    * sound until the next compact/append. Creates the stats table if
    * absent: compacting UPGRADES a pre-clustering index to the
    * prunable layout. `transform` runs on the table's rows before the
    * rewrite — the hook where an index folds away its tolerated
    * append-era redundancy (e.g. [[TextIndex]]'s bit-identical
    * replayed postings). Single-maintainer contract, like the parquet
    * stats store. */
  def compactTable(spark: SparkSession, tableDir: String, statsDir: String,
                   key: String, files: Int,
                   transform: DataFrame => DataFrame = identity): Unit = {
    val live = new org.apache.hadoop.fs.Path(tableDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swap = new graft.lake.SwapProtocol(fs, live, ".compact_tmp", ".compact_bak")
    swap.recover()
    swap.dropBak()
    swap.clearTmp()
    ClusteredWriter.write(transform(spark.read.parquet(tableDir)),
      swap.tmp.toString, key, files)
    swap.commit()
    swap.dropBak()
    Metastore.replaceUnderPrefix(spark, statsDir, tableDir,
      Metastore.buildFromFooters(spark, tableDir, key))
  }
}
