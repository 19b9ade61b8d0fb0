package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction for a lake table + its metastore stats — the
  * maintenance operator every streaming-ingested lake needs: each
  * micro-batch commit leaves a few small files (streaming.LakeIngest),
  * and at 100k+ files task-scheduling overhead dominates scans while
  * fragmented [min,max] ranges blunt zone-map pruning. Compaction
  * rewrites the table as `targetFiles` range-clustered files and swaps
  * them in atomically, then replaces the table's stats rows.
  *
  * The reference has no compaction (its docs assume well-sized batch
  * writes, docs/source/lakeshack.rst:252-263); this closes the loop for
  * continuous ingest.
  *
  * Commit protocol (same shape as Metastore.replaceUnderPrefix): write
  * `<path>.ctmp`, swing live to `<path>.cbak`, rename tmp in, refresh
  * stats, drop bak. `recoverIfNeeded` rolls a crashed swap forward or
  * back; SINGLE-WRITER like all metastore maintenance — pause ingest
  * for the table (not the whole lake) while compacting.
  *
  * READER visibility: between `swap.commit()` and the stats refresh the
  * live dir already holds the new files while the stats table still
  * references the deleted old ones. The one metastore-routed reader,
  * `MetastoreFileIndex` (under `Lakeshack.query` too), detects the
  * `.cbak` marker (`underCompaction`) at planning time and falls back
  * to scanning the live listing unpruned, so queries PLANNED inside the
  * window succeed.
  * What remains is the planning-to-execution instant: a query planned
  * just before the swap commits still resolves the old paths and can
  * FileNotFound — for that residual race the contract is the same as
  * the reference's non-transactional catalog: retry the query, or
  * route readers through `Lakeshack.query(..., tolerateCorrupt =
  * true)`, which skips missing/unreadable files instead of failing.
  * Writers are already excluded by the single-writer rule.
  */
object Compactor {

  /** The swap protocol's staging/marker suffixes — ONE definition for
    * the writer (`compact`/`recoverIfNeeded`), the reader guard
    * (`underCompaction`) and Vacuum's safety gate, so the naming cannot
    * drift between the side that creates markers and the sides that
    * must notice them. */
  val TmpSuffix = ".ctmp"
  val BakSuffix = ".cbak"

  /** True while `dataPath` has a live swap marker (`<path>.cbak`) —
    * the window between the data swap and the stats refresh, or a
    * crash inside it. `MetastoreFileIndex.listFiles` probes it once per
    * root per planning call to fall back to live-listing instead of
    * resolving stale stats paths. ONE definition so the commit
    * protocol's marker naming cannot drift apart from the reader that
    * depends on it. */
  def underCompaction(fs: org.apache.hadoop.fs.FileSystem, dataPath: Path): Boolean =
    dataPath.getParent != null &&
      fs.exists(new Path(dataPath.getParent, dataPath.getName + BakSuffix))

  def compact(spark: SparkSession, dataPath: String, statsPath: String,
              clusterColumn: String, targetFiles: Int,
              optionalColumns: Seq[String] = Nil): Unit = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    // full stats context: a prior crash between the data swap and the
    // stats replace left rows pointing at deleted files — repair now
    recoverIfNeeded(spark, dataPath, Some((statsPath, clusterColumn, optionalColumns)))
    val live = new Path(dataPath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swap = new SwapProtocol(fs, live, TmpSuffix, BakSuffix)
    swap.clearTmp()
    // the rewrite is an eager action: the clustered copy is fully
    // committed to tmp before any rename touches the live dir
    ClusteredWriter.write(
      spark.read.option("recursiveFileLookup", "true").parquet(dataPath),
      swap.tmp.toString, clusterColumn, targetFiles)
    swap.commit()
    // stats: all rows under the table's prefix are stale (the old files
    // are gone); replace them with a footer-only harvest of the new
    // files. Crash before this point: recoverIfNeeded rolls the data
    // swap back (bak still present), so stats were never wrong.
    refreshStats(spark, dataPath, statsPath, clusterColumn, optionalColumns)
    swap.dropBak()
  }

  /** Replace every stats row under the table's prefix with a fresh
    * footer harvest of the files currently live. */
  private def refreshStats(spark: SparkSession, dataPath: String, statsPath: String,
                           clusterColumn: String, optionalColumns: Seq[String]): Unit =
    Metastore.replaceUnderPrefix(spark, statsPath, dataPath,
      Metastore.buildFromFooters(spark, dataPath, clusterColumn, optionalColumns))

  /** Roll an interrupted compaction forward or back (see
    * `SwapProtocol.recover`). The committed-bak case means the data
    * swap landed but the stats replace may not have: with a stats
    * context the stats are re-harvested and the bak dropped; without
    * one the bak is LEFT IN PLACE so a later caller that knows the
    * stats table can finish — dropping it here would strand stats rows
    * pointing at deleted files with no marker that repair is needed. */
  def recoverIfNeeded(spark: SparkSession, dataPath: String,
                      statsContext: Option[(String, String, Seq[String])] = None): Unit = {
    val live = new Path(dataPath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swap = new SwapProtocol(fs, live, TmpSuffix, BakSuffix)
    if (swap.recover()) statsContext.foreach { case (statsPath, clusterColumn, optionalColumns) =>
      refreshStats(spark, dataPath, statsPath, clusterColumn, optionalColumns)
      swap.dropBak()
    }
  }
}
