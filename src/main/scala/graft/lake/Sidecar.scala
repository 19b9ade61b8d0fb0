package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The per-file sidecar store of a snapshot table: the Bloom filters
  * ([[SnapshotLog.buildBloom]]) and the SUM rows
  * ([[SnapshotLog.collectAggStats]]) share one layout and one
  * lifecycle.
  *
  *  - LAYOUT: `<root>/_<kind>/<column>/`, rows keyed by the ABSOLUTE
  *    data file path as written. A full build writes parquet straight
  *    into the column dir; every later append lands in a UNIQUE
  *    `delta-<id>/` under it (two concurrent committers appending into
  *    one parquet dir would race each other's `_temporary` staging).
  *    Underscore names (`_geometry`) are metadata: invisible to the
  *    parquet reads and never folded away.
  *  - SOUNDNESS: pool files are immutable, so a row never goes stale,
  *    and any duplicate rows for one file are identical. A file with no
  *    row (written after the build, or by a commit whose maintenance
  *    failed) is never pruned and never served from the sidecar: it
  *    scans.
  *  - SELF-COMPACTION: past [[MaxDeltaDirs]] delta dirs, an append folds
  *    the column dir into ONE fresh delta dir, so a streaming table does
  *    not accrue one tiny dir per commit forever (the first probe of a
  *    session would pay an O(commits) listing). */
private[lake] object Sidecar {

  val Bloom = "_bloom"
  val AggStats = "_aggstats"

  /** Delta dirs a column sidecar carries before an append folds it. */
  val MaxDeltaDirs = 64

  /** The column dir under a log root: a branch keeps its own sidecars
    * beside its own `_log`. */
  def dir(root: Path, kind: String, column: String): Path =
    new Path(new Path(root, kind), column)

  /** The columns carrying a `kind` sidecar, sorted; empty (one
    * existence probe, no listing) for a table without any. */
  def columns(fs: FileSystem, root: Path, kind: String): Seq[String] = {
    val kindDir = new Path(root, kind)
    if (!fs.exists(kindDir)) Nil
    else fs.listStatus(kindDir).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
  }

  /** The sidecar's rows for `column`, if one exists. Read recursively
    * over the base and its delta dirs. RENAME-PROOF: `ALTER TABLE
    * RENAME TO` relocates the whole pool, so every row's `filepath` is
    * re-anchored at the CURRENT data root by its pool-relative
    * `data/…` suffix (the anchor manifests and DV keys use). A row
    * whose path carries no such suffix keeps its stored form (never
    * matches a live file, so never prunes or serves). `ignoreMissingFiles`
    * is scoped to this read: a fold deletes its inputs after the fold
    * dir lands, and a reader that listed before the delete skips the
    * vanished dir instead of failing its query (its rows live on in
    * the fold dir). */
  def read(spark: SparkSession, tablePath: String, kind: String,
           column: String): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, concat, lit, regexp_extract, when}
    val (fs, root) = SnapshotLog.fsOf(spark, tablePath)
    val d = dir(root, kind, column)
    if (!fs.exists(d)) return None
    val prefix = fs.makeQualified(SnapshotLog.dataRootOf(root)).toString + "/"
    val rel = regexp_extract(col("filepath"), "^.*/(data/.*)$", 1)
    Some(spark.read.option("recursiveFileLookup", "true")
      .option("ignoreMissingFiles", "true").parquet(d.toString)
      .withColumn("filepath",
        when(rel === lit(""), col("filepath")).otherwise(concat(lit(prefix), rel))))
  }

  /** Append `rows` to the column dir `colDir` as a fresh delta dir, then
    * fold the dir if it crossed [[MaxDeltaDirs]]. */
  def append(spark: SparkSession, fs: FileSystem, colDir: Path, rows: DataFrame): Unit = {
    rows.write.mode("errorifexists").parquet(newDelta(colDir).toString)
    maybeFold(spark, fs, colDir)
  }

  private def newDelta(colDir: Path): Path =
    new Path(colDir, "delta-" + java.util.UUID.randomUUID().toString.take(12))

  /** Fold base + deltas into ONE fresh delta dir and delete the folded
    * inputs. Duplicate filepath rows collapse (any copy is the right
    * copy). The LISTING is the delete set, so a racer's delta landing
    * after it survives untouched; a concurrent reader mid-fold sees
    * duplicates (harmless) or skips a just-deleted input (see
    * [[read]]). */
  private def maybeFold(spark: SparkSession, fs: FileSystem, colDir: Path): Unit = {
    val captured = fs.listStatus(colDir).toSeq.map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
    val deltas = captured.count(_.getName.startsWith("delta-"))
    if (deltas <= MaxDeltaDirs) return
    spark.read.option("recursiveFileLookup", "true")
      .option("ignoreMissingFiles", "true") // a concurrent fold's deletes
      .parquet(captured.map(_.toString): _*)
      .dropDuplicates("filepath")
      .write.mode("errorifexists").parquet(newDelta(colDir).toString)
    captured.foreach(fs.delete(_, true))
    MetastoreFileIndex.log.info(s"sidecar folded: $deltas delta dirs -> 1 at $colDir")
  }
}
