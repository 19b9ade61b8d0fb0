package graft.lake

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query operational counters — the reference's O19 telemetry
  * (lakeshack/lakeshack.py:566-577 logs n_queries/n_files/n_records/
  * elapsed per call; metastore.py:478-479 logs the prune count). At
  * 100 TB, "how many files did pruning save me" is THE operational
  * metric — a silent prune regression turns a seconds query into an
  * hours scan with no other signal.
  *
  * Prune-side counters are known at plan time; `nRecords`/`elapsedSec`
  * only exist once the (lazy) DataFrame actually executes, so they are
  * filled in asynchronously by a QueryExecutionListener and are `None`
  * until the first execution completes.
  *
  * MID-COMPACTION SENTINEL: during the `.cbak` swap window the engine
  * scans the live dir unpruned, and no honest file count exists — the
  * snapshot stats count the renamed-away files, and the live set is
  * changing under the in-flight swap. `filesTotal`/`filesScanned` are
  * both **-1** for such a query (prune counters are meaningless when
  * pruning was bypassed); consumers aggregating prune ratios must
  * filter the sentinel out.
  */
final case class QueryTelemetry(
    nValues: Int,
    filesTotal: Long,
    filesScanned: Long,
    filesSkippedMissing: Long,
    /** Seconds in `query`: planning, whose file listing prunes, and the
      * missing-file probe of a tolerant query. */
    pruneSec: Double,
    nRecords: Option[Long],
    elapsedSec: Option[Double],
    /** Bytes the physical scan selected (Σ `filesSize` over the plan's
      * parquet scan nodes) — the engine-side analog of the reference's
      * per-query S3 BytesScanned log line (lakeshack.py:236-243,
      * 258-263). Like `nRecords`, execution-side: `None` until the
      * plan first runs. */
    bytesScanned: Option[Long] = None,
    /** Files the physical scan actually opened (Σ `numFiles`) — the
      * executed-plan confirmation of the plan-time `filesScanned`
      * prune counter. */
    scanFiles: Option[Long] = None)

/** The retrieval engine: a filter, projection and limit over one
  * relation whose file index prunes by the Metastore — the Spark
  * rebuild of `Lakeshack.query` (lakeshack/lakeshack.py:476-579). The
  * reference's second path, `query_s3_select` (lakeshack.py:303-474),
  * collapses into this same plan: per-file server-side
  * filter+projection is exactly what a Spark executor task does against
  * Parquet, so there is ONE code path. Where the reference builds a
  * dataset per query (lakeshack.py:550-557), the engine builds its
  * relation once, on first use: a [[MetastoreFileIndex]] over the data
  * path (`apply`/`fromStats`) or, with stats alone, over the files the
  * stats name.
  *
  * Query lifecycle (SURVEY.md §3):
  *   1. normalize scalar→list input (lakeshack.py:514-515)
  *   2. plan `isin` + clause conjunction + projection over the relation.
  *      Planning hands the pushed filters to the index's `listFiles`,
  *      which prunes on the driver against the engine's [[ZoneMap]]
  *      snapshot of the stats (metastore.py:414-481), then by Bloom
  *      membership when a Bloom table is attached; no Spark job without
  *      one. `query` reads its prune counters off the planned scan, so
  *      `filesScanned` is the set of files the scan reads.
  *   3. the scan reads only those files, with the filters pushed into
  *      the Parquet reader (row-group skipping included), replacing
  *      pyarrow's to_batches(filter=, columns=); a scan that selects no
  *      file returns no rows, with the projected schema. The filter kept
  *      above the scan is parameterised in sessions with
  *      `graft.GraftExtensions` ([[ParameteriseScanFilters]]), so each
  *      query shape (key count, clause operators) compiles once per JVM.
  *   4. limit — Spark's CollectLimit is exact and early-terminating, a
  *      strict strengthening of the reference's "≤ N + batch_size"
  *      contract (lakeshack.py:504-507).
  *
  * Scale: the data table is never shuffled; the query is (pruned scan →
  * filter → project → limit), embarrassingly parallel across file splits.
  * The must-apply-at-scan rule matters for correctness: pruning is
  * may-contain (false positives allowed), so the scan filter re-applies
  * both the membership predicate and every clause — including clauses on
  * columns the metastore never indexed.
  *
  * Snapshot lifetime: the stats are read ONCE, and the files listed
  * once, when the relation is built (the first query, `filesTotal` or
  * `withBloom`). A file under the data path that the stats do not know
  * is scanned, never pruned. Build a new instance after
  * `Metastore.update`.
  */
class Lakeshack(spark: SparkSession, stats: DataFrame, dataSchema: Option[StructType] = None,
                dataPath: Option[String] = None) {

  val clusterColumn: String = Metastore.clusterColumnOf(stats)

  /** The engine's one relation, built on first use. `dataSchema` serves
    * only an engine without a data path (inferred from the files when
    * absent); a data path's relation reads the directory's schema. */
  private lazy val table: DataFrame = dataPath match {
    case Some(dp) => MetastoreFileIndex.table(spark, dp, stats)
    case None => MetastoreFileIndex.overStatsFiles(spark, ZoneMap(stats), dataSchema)
  }

  private lazy val index: MetastoreFileIndex = MetastoreFileIndex.indexOf(table)

  /** The same relation with the reader's per-file error tolerance. */
  private lazy val tolerantTable: DataFrame = MetastoreFileIndex.withOptions(table,
    Map("ignoreCorruptFiles" -> "true", "ignoreMissingFiles" -> "true"))

  /** Attach a per-file Bloom table over the CLUSTER column
    * (`BloomIndex.build(..., clusterColumn, ...)`) to the engine's
    * index; returns this. Zone maps keep every file of a table that is
    * NOT well-clustered (the reference's unclustered-table failure
    * mode, docs/source/lakeshack.rst:184-250); Bloom membership keeps
    * point lookups tight there. */
  def withBloom(bloom: DataFrame): Lakeshack = {
    index.withBloom(clusterColumn, bloom)
    this
  }

  /** Counters of the most recent `query` call (prune side immediately;
    * rows/elapsed after its DataFrame first executes). */
  @volatile var lastTelemetry: Option[QueryTelemetry] = None

  /** Total indexed files — the prune denominator: the snapshot's size. */
  lazy val filesTotal: Long = index.zoneMap.files.size

  /** Point/range retrieval. Returns an unexecuted, planned DataFrame so
    * callers can compose further operators (the host engine IS Spark).
    *
    * @param values   requested cluster-column value(s)
    * @param clauses  AND-conjoined comparison clauses (6 ops, see Clause)
    * @param columns  projection; None = all columns
    * @param limit    max records (None = unlimited); exact, unlike the
    *                 reference's approximate n_records_max
    * @param tolerateCorrupt opt-in per-file error tolerance, mirroring
    *                 the reference's scan loop (lakeshack.py:223-230,
    *                 386-388: log-and-skip a file that errors during the
    *                 scan). Selected files missing on disk are counted
    *                 and logged at WARN, and the reader skips them and
    *                 files whose bytes fail to decode
    *                 (`ignoreMissingFiles`, `ignoreCorruptFiles`) — the
    *                 query returns every healthy file's rows instead of
    *                 failing whole. Off by default: silently incomplete
    *                 results must be asked for, never handed out.
    */
  def query(values: Seq[Any],
            clauses: Seq[Clause] = Nil,
            columns: Option[Seq[String]] = None,
            limit: Option[Int] = None,
            tolerateCorrupt: Boolean = false): DataFrame = {
    val t0 = System.nanoTime()
    var df = (if (tolerateCorrupt) tolerantTable else table)
      .where(col(clusterColumn).isin(values: _*) && Clause.conjunction(clauses))
    df = columns.fold(df)(cs => df.select(cs.map(col): _*))
    df = limit.fold(df)(df.limit)
    val (name, out) = Lakeshack.observe(spark, df)
    // planning prunes. The executed plan is a copy of the planned one
    // that lists again when it runs: listing the executed plan here
    // would leave its scan metrics at zero, since a run resets them
    val files = Lakeshack.selectedFiles(out.queryExecution.sparkPlan)
    val missing =
      if (!tolerateCorrupt) Nil
      else {
        val conf = spark.sparkContext.hadoopConfiguration
        val gone = files.filterNot(p => p.getFileSystem(conf).exists(p))
        gone.foreach(p => Lakeshack.log.warn(s"lakeshack.query: skipping missing file $p"))
        gone
      }
    val pruneSec = (System.nanoTime() - t0) / 1e9
    // -1 sentinel (see QueryTelemetry): the stale stats count the
    // renamed-away files and the live set is mid-swap — reporting
    // either would match neither what was scanned nor what exists
    val unpruned = files.nonEmpty && index.lastListingUnpruned
    val telemetry = QueryTelemetry(values.size, if (unpruned) -1L else filesTotal,
      if (unpruned) -1L else files.size - missing.size, missing.size,
      pruneSec, nRecords = None, elapsedSec = None)
    Lakeshack.log.info(
      f"lakeshack.query: n_values=${values.size} files_scanned=${telemetry.filesScanned}/" +
        f"${telemetry.filesTotal} files_skipped_missing=${missing.size} prune_sec=$pruneSec%.3f")
    if (files.isEmpty)
      // no surviving file: the execution-side counters are already known
      lastTelemetry = Some(telemetry.copy(nRecords = Some(0L), elapsedSec = Some(0.0)))
    else {
      lastTelemetry = Some(telemetry)
      Lakeshack.pending.put(name, (this, telemetry))
    }
    out
  }

  /** Scalar-input convenience, mirroring the reference's scalar→list
    * coercion (lakeshack.py:344-345,514-515). */
  def queryOne(value: Any): DataFrame = query(values = Seq(value))
}

object Lakeshack {
  private[lake] val log = org.slf4j.LoggerFactory.getLogger(classOf[Lakeshack])

  private val obsCounter = new AtomicLong()

  /** Observation name → (owner, plan-time counters) for queries built
    * but not yet executed. Entries are removed when the listener sees
    * the metric (success) or the query fails; a DataFrame that is never
    * executed leaves its (tiny) entry behind — bounded by the number of
    * abandoned plans, not by data. */
  private val pending = new ConcurrentHashMap[String, (Lakeshack, QueryTelemetry)]()

  /** Sessions that already carry the telemetry listener. Weak keys: a
    * stopped-and-collected session must not be pinned by telemetry. */
  private val listenerSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Wrap a query result with a named row-count observation so the
    * execution-side counters (n_records, elapsed) land in the owner's
    * `lastTelemetry` — and in the INFO log — when the lazy plan finally
    * runs, once the owner puts the name in `pending`. `observe` adds a
    * CollectMetrics node ABOVE the limit/project, so it counts exactly
    * the rows the query returned, costs one accumulator update per row,
    * and triggers no extra job. */
  private def observe(spark: SparkSession, df: DataFrame): (String, DataFrame) = {
    ensureListener(spark)
    val name = s"lakeshack.query.${obsCounter.incrementAndGet()}"
    (name, df.observe(name, count(lit(1)).as("n_records")))
  }

  /** The parquet scan nodes of a plan — descending into AQE's
    * adaptively-executed subtree, which hides its children from the
    * plain TreeNode walk. */
  private def scans(plan: SparkPlan): Seq[FileSourceScanExec] = plan match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    // AQE materializes each stage behind a QueryStageExec whose
    // subtree is NOT in `children`
    case q: QueryStageExec => scans(q.plan)
    case _: ReusedExchangeExec => Nil // already counted at its original site
    case s: FileSourceScanExec => Seq(s)
    case p => p.children.flatMap(scans)
  }

  /** The files the scans of a planned query select: listing them runs
    * the file index's pruning, once per scan node. */
  private def selectedFiles(plan: SparkPlan): Seq[Path] =
    scans(plan).flatMap(_.selectedPartitions.filePartitionIterator.flatMap(_.files.map(_.getPath)))

  /** Sum (filesSize, numFiles) over every parquet scan node of an
    * executed plan. `None` when the plan has no file scan at all (e.g.
    * an empty-relation shortcut), distinguishing "scanned zero bytes"
    * from "nothing to measure". */
  private def scanTotals(plan: SparkPlan): (Option[Long], Option[Long]) = {
    val found = scans(plan)
    if (found.isEmpty) (None, None)
    else (Some(found.flatMap(_.metrics.get("filesSize")).map(_.value).sum),
      Some(found.flatMap(_.metrics.get("numFiles")).map(_.value).sum))
  }

  private def ensureListener(spark: SparkSession): Unit =
    listenerSessions.synchronized {
      if (!listenerSessions.containsKey(spark)) {
        spark.listenerManager.register(new QueryExecutionListener {
          override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              Option(pending.remove(name)).foreach { case (owner, t) =>
                val (bytes, nFiles) = scanTotals(qe.executedPlan)
                val done = t.copy(nRecords = Some(row.getLong(0)),
                  elapsedSec = Some(durationNs / 1e9),
                  bytesScanned = bytes, scanFiles = nFiles)
                owner.lastTelemetry = Some(done)
                log.info(f"lakeshack.query complete: n_records=${row.getLong(0)} " +
                  f"elapsed_sec=${durationNs / 1e9}%.3f " +
                  f"(files_scanned=${t.filesScanned}/${t.filesTotal} " +
                  f"bytes_scanned=${bytes.getOrElse(-1L)})")
              }
            }
          override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
            // drop pending entries for failed plans so the map stays
            // bounded; observedMetrics can itself throw on a broken plan
            try qe.observedMetrics.keysIterator.foreach(pending.remove)
            catch { case _: Exception => () }
        })
        listenerSessions.put(spark, java.lang.Boolean.TRUE)
      }
    }

  /** Build stats in one pass and return a ready-to-query engine. The
    * stats build runs once, when the engine takes its snapshot. */
  def apply(spark: SparkSession, dataPath: String, clusterColumn: String,
            optionalColumns: Seq[String] = Nil): Lakeshack =
    new Lakeshack(spark, Metastore.build(spark, dataPath, clusterColumn, optionalColumns),
      dataPath = Some(dataPath))

  /** The steady-state path: load a PERSISTED stats table instead of
    * re-harvesting — harvest once at ingest (`Metastore.update`), then
    * every later session loads in O(stats) time. The load is strictly
    * validated column-by-column against the data schema (reference O14,
    * metastore.py:128-204): stats built for a different table, cluster
    * column, or drifted type are rejected up front instead of silently
    * pruning garbage. */
  def fromStats(spark: SparkSession, dataPath: String, statsPath: String,
                clusterColumn: String, optionalColumns: Seq[String] = Nil): Lakeshack = {
    val schema = spark.read.option("recursiveFileLookup", "true").parquet(dataPath).schema
    new Lakeshack(spark,
      Metastore.loadValidated(spark, statsPath, schema, clusterColumn, optionalColumns),
      dataPath = Some(dataPath))
  }
}
