package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Copy-on-write MERGE for a clustered lake table — the row-level
  * maintenance the reference lacks entirely (its tables are
  * append-only; correcting a record means rewriting the whole batch by
  * hand). `upsert` applies a CDC batch, `delete` removes keys, both by
  * rewriting ONLY the files whose zone-map range may contain an
  * affected key — at 100 TB with a well-clustered table, a
  * thousand-key CDC batch touches a handful of files, never the table.
  *
  * Semantics are KEY-GROUP replace on the cluster column: every
  * existing row whose cluster value appears in `source` is replaced by
  * the source's rows for that value (values new to the table are plain
  * inserts). For tables whose logical key is finer than the cluster
  * column, the source batch must carry ALL rows of each touched key —
  * the natural shape of a CDC key-group feed.
  *
  * Protocol (single-writer, like all lake maintenance):
  *   1. prune: stats range-join finds the files whose [min,max] may
  *      contain a source key — may-contain, so never a false negative;
  *   2. rewrite: surviving rows of those files (anti-join on the key)
  *      plus the source rows are written as a fresh range-clustered
  *      batch dir INSIDE the table (recursive discovery picks it up);
  *   3. stats swap: `Metastore.replaceFiles` atomically drops the old
  *      files' stats rows and adds the new batch's (footer harvest);
  *   4. the old files are deleted LAST.
  * Crash at any point leaves stats-routed readers (Lakeshack,
  * MetastoreFileIndex) consistent: before step 3 they see the old
  * table (the new batch is unregistered — Vacuum's orphan case);
  * after step 3 they see the new table (the undeleted old files are
  * orphans). Only raw directory scans see transient duplicates between
  * steps 2 and 4, the same reader contract as `Compactor`.
  */
object Merge {

  /** Apply a CDC upsert batch. `source` must have the table's exact
    * schema. `targetFiles` sizes the rewritten batch (default: as many
    * files as were rewritten, so file granularity is preserved). */
  def upsert(spark: SparkSession, dataPath: String, statsPath: String,
             source: DataFrame, targetFiles: Int = 0): Unit =
    merge(spark, dataPath, StatsStore.parquet(spark, statsPath), source,
      isDelete = false, targetFiles)

  /** Delete all rows of the given cluster-column keys. `keys` is a
    * one-column DataFrame of cluster values. */
  def delete(spark: SparkSession, dataPath: String, statsPath: String,
             keys: DataFrame, targetFiles: Int = 0): Unit =
    merge(spark, dataPath, StatsStore.parquet(spark, statsPath), keys,
      isDelete = true, targetFiles)

  /** Store-generic forms: run the same merge against ANY `StatsStore`
    * (e.g. `StatsStore.jdbc` for a database-backed metastore). */
  def upsertWith(spark: SparkSession, dataPath: String, store: StatsStore,
                 source: DataFrame, targetFiles: Int = 0): Unit =
    merge(spark, dataPath, store, source, isDelete = false, targetFiles)

  def deleteWith(spark: SparkSession, dataPath: String, store: StatsStore,
                 keys: DataFrame, targetFiles: Int = 0): Unit =
    merge(spark, dataPath, store, keys, isDelete = true, targetFiles)

  private def merge(spark: SparkSession, dataPath: String, store: StatsStore,
                    source: DataFrame, isDelete: Boolean, targetFiles: Int): Unit = {
    val stats = store.load()
    val cluster = Metastore.clusterColumnOf(stats)
    // optional stat columns derivable from the stats schema itself: the
    // _min columns after the (first) cluster column
    val optionalColumns = stats.schema.fieldNames.toSeq
      .filter(_.endsWith("_min")).map(_.dropRight(4)).filterNot(_ == cluster)
    require(source.columns.contains(cluster),
      s"source must carry the cluster column '$cluster', got ${source.columns.mkString(",")}")

    val keys = source.select(col(cluster)).distinct()
    // prune: stats side is tiny (one row per file) — broadcast it so an
    // arbitrarily large CDC batch streams through without a shuffle;
    // NULL bounds (all-null stat column in a file) must count as
    // may-contain, mirroring ZoneMap's soundness rule
    val affected = keys.join(
        broadcast(stats.select(col("filepath"),
          col(s"${cluster}_min").as("_lo"), col(s"${cluster}_max").as("_hi"))),
        col("_lo").isNull || (col(cluster) >= col("_lo") && col(cluster) <= col("_hi")))
      .select("filepath").distinct().collect().map(_.getString(0)).toSeq

    if (affected.isEmpty && isDelete) return // nothing referenced those keys

    val survivors =
      if (affected.isEmpty) None
      else Some(spark.read.parquet(affected: _*)
        .join(keys, Seq(cluster), "left_anti"))
    // isDelete with no affected files returned above, so survivors is
    // always defined on the delete path
    val merged =
      if (isDelete) survivors.get
      else survivors.fold(source)(_.unionByName(source))

    val nFiles = if (targetFiles > 0) targetFiles else math.max(affected.size, 1)
    // unique batch dir inside the table: old files stay untouched (and
    // stats-visible) until the swap in step 3
    val batchDir = new Path(dataPath,
      s"merge-${java.util.UUID.randomUUID().toString.take(8)}").toString

    // an empty rewrite (delete covered every surviving row) writes no
    // batch; the stats swap just drops the affected files' rows
    val wroteBatch = merged.head(1).nonEmpty
    if (wroteBatch) ClusteredWriter.write(merged, batchDir, cluster, nFiles)
    val newStats =
      if (wroteBatch) Metastore.buildFromFooters(spark, batchDir, cluster, optionalColumns)
      else stats.limit(0)
    store.replaceFiles(affected, newStats)

    val fs = new Path(dataPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    affected.foreach(p => fs.delete(new Path(p), false))
  }
}
