package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.datasources._
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

/** Transparent zone-map pruning: a Catalyst `FileIndex` that consults
  * the Metastore's per-file [min,max] intervals when the planner asks
  * which files a scan must read.
  *
  * The reference prunes in an explicit step before it builds each
  * query's dataset (lakeshack/metastore.py:414-481 then
  * lakeshack.py:550-557). Here the prune happens inside planning:
  * Catalyst hands every scan's pushed data filters to
  * `FileIndex.listFiles`, so ANY query over the table — `spark.sql`
  * text, DataFrame ops, a join probe, and `Lakeshack.query`, which is a
  * filter over one relation of this index — skips non-matching files
  * without knowing the Metastore exists. The reference cannot express
  * this layering (its host has no optimizer to hook).
  *
  * Pruning semantics are Metastore.prune's — the shared [[ZoneMap]]
  * kernel (reference O8, metastore.py:444-467) — over the predicate
  * shapes Catalyst actually pushes (`ZoneMap.mayContain`), then Bloom
  * membership on `=`/`IN` conjuncts over any column given a Bloom table
  * ([[withBloom]], [[BloomIndex.pruneListing]]). Anything else —
  * unknown column, cast-wrapped attribute, UDF — keeps the file, and so
  * does a file the stats or the Bloom table do not know: pruning may
  * produce false positives, never false negatives (SURVEY.md §2.3); the
  * scan filter re-applies every predicate.
  *
  * Scale: intervals live on the driver (one entry per file — ~100k files
  * is MBs), mirroring the reference's driver-side metastore DB round
  * trip; evaluation is files × conjuncts literal comparisons per query,
  * no I/O, no footer reads.
  */
class MetastoreFileIndex private[lake] (
    base: FileIndex,
    statsSource: () => ZoneMap,
    hadoopConf: org.apache.hadoop.conf.Configuration,
    /** The data directory whose compaction marker this index watches;
      * None for a listing of known files. */
    dataRoot: Option[Path]) extends FileIndex {

  /** Snapshot of the stats table. IMMUTABLE-FILES contract: a file's
    * bounds are fixed at harvest; a file rewritten IN PLACE after its
    * stats row was collected may be pruned on stale bounds (a NEW file
    * the metastore hasn't seen is safe — unknown files are never
    * pruned). After appending files + updating stats, call `refresh()`:
    * it re-lists the base index AND rebuilds the snapshot from
    * `statsSource` — a path-backed source (see `table(…, statsPath)`)
    * re-reads the stats table, so rows appended since are picked up. */
  @volatile private var zones: ZoneMap = statsSource()

  /** The stats snapshot this index prunes with. */
  private[lake] def zoneMap: ZoneMap = zones

  @volatile private var blooms = Map.empty[String, DataFrame]

  /** Prune `=`/`IN` lookups on `column` with a per-file Bloom table
    * (`BloomIndex.build`) on top of the zone maps. */
  private[lake] def withBloom(column: String, bloom: DataFrame): Unit = blooms += column -> bloom

  /** Whether the latest `listFiles` call skipped pruning because a
    * compaction marker was up. `Lakeshack.query` reads it right after
    * planning its scan, to report the -1 sentinel (`QueryTelemetry`). */
  @volatile private[lake] var lastListingUnpruned = false

  override def rootPaths: Seq[Path] = base.rootPaths
  override def inputFiles: Array[String] = base.inputFiles
  override def refresh(): Unit = {
    base.refresh()
    zones = statsSource()
  }
  override def sizeInBytes: Long = base.sizeInBytes
  override def partitionSchema: StructType = base.partitionSchema

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // Compaction tolerance: Compactor's commit protocol leaves a
    // `<root>.cbak` marker beside the live dir from the data swap until
    // the stats refresh completes (Compactor.scala, "READER visibility").
    // Inside that window — or after a crash mid-compaction — this
    // index's cached FileStatus entries and its interval map both
    // reference the renamed-away files, so a scan would FileNotFound.
    // When the marker is present, re-list the live dir and skip
    // pruning for this planning call: the live files are unknown to the
    // stale stats, and the may-contain contract already forbids pruning
    // unknown files. Costs pruning effectiveness (never correctness)
    // for the seconds-wide window; once the marker drops, call
    // refresh() to re-arm the interval map over the new files.
    // RESIDUAL RACE: the probe runs at PLANNING time — a query planned
    // an instant before the swap commits still executes against the
    // old FileStatus list and can FileNotFound. The guard closes the
    // dominant (seconds-wide, stats-refresh) window; the
    // planning-to-execution instant keeps the documented retry /
    // tolerateCorrupt contract (Compactor.scala, READER visibility).
    lastListingUnpruned =
      dataRoot.exists(r => Compactor.underCompaction(r.getFileSystem(hadoopConf), r))
    if (lastListingUnpruned) {
      MetastoreFileIndex.log.warn(
        "metastore prune: .cbak marker present (compaction in flight or crashed) — " +
          "re-listing live files; pruning disabled for this query")
      base.refresh()
      return base.listFiles(partitionFilters, dataFilters)
    }
    val listing = base.listFiles(partitionFilters, dataFilters)
    // a file unknown to the metastore (no interval entry) is never pruned
    if (dataFilters.isEmpty) listing
    else BloomIndex.pruneListing(
      ZoneMap.pruneListing(listing, dataFilters, "metastore prune")(zones.files.get),
      dataFilters, "metastore bloom prune")(blooms.get)
  }

}

object MetastoreFileIndex {

  private[lake] val log = org.slf4j.LoggerFactory.getLogger(classOf[MetastoreFileIndex])

  /** A DataFrame over `dataPath` whose every scan consults the stats
    * table for file skipping. Register it as a temp view and `spark.sql`
    * queries prune transparently.
    *
    * Assumes IMMUTABLE data files (see the intervals doc): append new
    * files + update stats, then drop/rebuild or refresh the index —
    * never rewrite a file in place under the same name. With this
    * overload the stats snapshot is the DataFrame as of its own plan;
    * use the `statsPath` overload for an index whose refresh() re-reads
    * the stats table from storage. */
  def table(spark: SparkSession, dataPath: String, stats: DataFrame): DataFrame =
    table(spark, dataPath, () => ZoneMap(stats))

  /** Path-backed variant: the interval map is (re)loaded from
    * `statsPath` at construction and on every `FileIndex.refresh()`, so
    * `Metastore.update` + `refresh()` makes newly harvested files
    * prunable without rebuilding the view. */
  def table(spark: SparkSession, dataPath: String, statsPath: String): DataFrame =
    table(spark, dataPath, () => ZoneMap(Metastore.load(spark, statsPath)))

  private def table(spark: SparkSession, dataPath: String, statsSource: () => ZoneMap): DataFrame = {
    // default read keeps hive partition-column inference; a plain nested
    // layout (no top-level files) can't infer that way, so fall back to
    // recursive lookup (the file index below lists recursively either way)
    val schema =
      try spark.read.parquet(dataPath).schema
      catch { case _: org.apache.spark.sql.AnalysisException =>
        spark.read.option("recursiveFileLookup", "true").parquet(dataPath).schema }
    val probe = new InMemoryFileIndex(spark, Seq(new Path(dataPath)),
      Map.empty[String, String], Some(schema), FileStatusCache.getOrCreate(spark), None, None)
    // NON-hive layouts must list recursively: with empty partition
    // columns and no recursiveFileLookup, PartitioningAwareFileIndex
    // .allFiles returns only each root's DIRECT child files, silently
    // dropping nested batch dirs (a Merge/ingest lake's native shape —
    // top-level files plus merge-*/batch-* subdirs). Hive layouts keep
    // the default index: their files all live under partition dirs, and
    // recursive lookup would disable the partition-column inference.
    val base =
      if (probe.partitionSchema.nonEmpty) probe
      else new InMemoryFileIndex(spark, Seq(new Path(dataPath)),
        Map("recursiveFileLookup" -> "true"), Some(schema),
        FileStatusCache.getOrCreate(spark), None, None)
    val idx = new MetastoreFileIndex(base, statsSource, spark.sparkContext.hadoopConfiguration,
      Some(new Path(dataPath)))
    // hive-style layouts: partition columns come from the directory
    // structure, not the file footers — declaring them in dataSchema
    // would read them (as nulls) from files where they don't exist
    val partSchema = base.partitionSchema
    relation(spark, idx, partSchema,
      StructType(schema.filterNot(f => partSchema.fieldNames.contains(f.name))))
  }

  /** [[table]] over the files a stats snapshot names instead of a
    * directory: the [[SnapshotLog.knownFiles]] listing (a file in the
    * stats that is missing on disk throws, never reads partial) under
    * the zone-map index. Without a schema, the files' own is inferred. */
  private[lake] def overStatsFiles(spark: SparkSession, zones: ZoneMap,
                                   schema: Option[StructType]): DataFrame = {
    val files = SnapshotLog.knownFiles(spark, zones.files.keys.toSeq.sorted, None)
    val dataSchema = schema
      .orElse(new ParquetFileFormat().inferSchema(spark, Map.empty[String, String], files.allFiles()))
      .getOrElse(throw new IllegalStateException("The stats name no file and no schema was supplied"))
    relation(spark, new MetastoreFileIndex(files, () => zones, spark.sparkContext.hadoopConfiguration,
      None), StructType(Nil), StructType(dataSchema.fields.map(SnapshotLog.relaxNullability)))
  }

  /** A parquet DataFrame over a hand-built file index: the one recipe
    * (`HadoopFsRelation` → `LogicalRelation` → `ofRows`) behind every
    * lake scan that supplies its own `FileIndex`. `options` are the
    * reader's per-scan options (`ignoreCorruptFiles`, …). */
  private[lake] def relation(spark: SparkSession, index: FileIndex,
                             partitionSchema: StructType, dataSchema: StructType,
                             options: Map[String, String] = Map.empty): DataFrame =
    GraftColumnBridge.ofRows(spark, LogicalRelation(HadoopFsRelation(index, partitionSchema,
      dataSchema, None, new ParquetFileFormat(), options)(spark), isStreaming = false))

  /** The relation of `df` again, over the same file index, with these
    * reader options. */
  private[lake] def withOptions(df: DataFrame, options: Map[String, String]): DataFrame = {
    val fs = fsRelationOf(df)
    relation(df.sparkSession, fs.location, fs.partitionSchema, fs.dataSchema, options)
  }

  private def fsRelationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.logical.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs
    }.getOrElse(throw new IllegalArgumentException(
      "DataFrame was not produced by MetastoreFileIndex.table"))

  /** The MetastoreFileIndex behind a DataFrame returned by `table` —
    * call `.refresh()` on it after appending files + updating stats. */
  def indexOf(df: DataFrame): MetastoreFileIndex = fsRelationOf(df).location match {
    case idx: MetastoreFileIndex => idx
    case _ => throw new IllegalArgumentException(
      "DataFrame was not produced by MetastoreFileIndex.table")
  }
}
