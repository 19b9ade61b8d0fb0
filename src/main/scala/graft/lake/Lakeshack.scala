package graft.lake

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
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

/** The retrieval engine: prune files via the Metastore, then scan only the
  * surviving Parquet files with projection + conjunctive predicate
  * pushdown — the Spark rebuild of `Lakeshack.query`
  * (lakeshack/lakeshack.py:476-579). The reference's second path,
  * `query_s3_select` (lakeshack.py:303-474), collapses into this same
  * plan: per-file server-side filter+projection is exactly what a Spark
  * executor task does against Parquet, so there is ONE code path.
  *
  * Query lifecycle (SURVEY.md §3):
  *   1. normalize scalar→list input (lakeshack.py:514-515)
  *   2. prune on the driver: the instance's [[ZoneMap]] snapshot of the
  *      stats (collected once, on first use) → surviving file list
  *      (metastore.py:414-481); no Spark job per query
  *   3. scan only those files; `isin` + clause conjunction + projection are
  *      pushed by Catalyst into the Parquet reader (row-group skipping
  *      included), replacing pyarrow's to_batches(filter=, columns=).
  *      The filter kept above the scan is parameterised in sessions with
  *      `graft.GraftExtensions` ([[ParameteriseScanFilters]]): its
  *      generated code reads the keys and clause bounds from fields of
  *      the class, so each query shape (key count, clause operators)
  *      compiles once per JVM and its class gets JIT-compiled, instead
  *      of a new class, run interpreted, per key set. The pushed filters
  *      keep the real values: Parquet's row-group and dictionary checks
  *      compare against them.
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
  * Snapshot lifetime: the stats are read ONCE, on the first query (or
  * `filesTotal`), and are immutable for the instance's lifetime. Files
  * harvested by a later `Metastore.update` are unknown to the snapshot;
  * build a new instance after updating the stats.
  */
class Lakeshack(spark: SparkSession, stats: DataFrame, dataSchema: Option[StructType] = None,
                dataPath: Option[String] = None) {

  val clusterColumn: String = Metastore.clusterColumnOf(stats)

  /** Optional per-file Bloom table over the CLUSTER column
    * (`BloomIndex.build(..., clusterColumn, ...)`). Zone maps prune by
    * [min,max] overlap, which collapses to "keep everything" on a
    * table that is NOT well-clustered (every file's range spans the
    * domain — the reference's unclustered-table failure mode,
    * docs/source/lakeshack.rst:184-250). With a Bloom table attached,
    * `query` intersects the zone-map survivors with Bloom membership,
    * so point lookups stay tight even on a badly laid-out table. */
  private var bloomStats: Option[DataFrame] = None

  /** Attach a Bloom filter table for the cluster column; returns this
    * for chaining. */
  def withBloom(bloom: DataFrame): Lakeshack = { bloomStats = Some(bloom); this }

  /** Counters of the most recent `query` call (prune side immediately;
    * rows/elapsed after its DataFrame first executes). */
  @volatile var lastTelemetry: Option[QueryTelemetry] = None

  /** The stats, collected once: every query prunes against it. */
  private lazy val zoneMap: ZoneMap = ZoneMap(stats)

  /** Total indexed files — the prune denominator: the snapshot's size. */
  lazy val filesTotal: Long = zoneMap.files.size

  /** Point/range retrieval. Returns an unexecuted DataFrame so callers
    * can compose further operators (the host engine IS Spark).
    *
    * @param values   requested cluster-column value(s)
    * @param clauses  AND-conjoined comparison clauses (6 ops, see Clause)
    * @param columns  projection; None = all columns
    * @param limit    max records (None = unlimited); exact, unlike the
    *                 reference's approximate n_records_max
    * @param tolerateCorrupt opt-in per-file error tolerance, mirroring
    *                 the reference's scan loop (lakeshack.py:223-230,
    *                 386-388: log-and-skip a file that errors during the
    *                 scan). Pruned files missing on disk are dropped
    *                 up front (logged at WARN) and files whose bytes
    *                 fail to decode are skipped by the reader
    *                 (`ignoreCorruptFiles`) — the query returns every
    *                 healthy file's rows instead of failing whole. Off
    *                 by default: silently incomplete results must be
    *                 asked for, never handed out.
    */
  def query(values: Seq[Any],
            clauses: Seq[Clause] = Nil,
            columns: Option[Seq[String]] = None,
            limit: Option[Int] = None,
            tolerateCorrupt: Boolean = false): DataFrame = {
    val t0 = System.nanoTime()
    // Compaction tolerance (same contract as MetastoreFileIndex): while
    // Compactor's `.cbak` marker is up, the stats rows reference
    // renamed-away files, so a stats-routed file list would
    // FileNotFound. Scan the live dir unpruned instead — the query's
    // own filter re-applies every predicate, so the window costs
    // pruning, never correctness. Only engines built through
    // `Lakeshack.apply`/`fromStats` know their data path; a direct
    // constructor caller keeps the retry/tolerateCorrupt contract.
    dataPath.foreach { dp =>
      val p = new org.apache.hadoop.fs.Path(dp)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (Compactor.underCompaction(fs, p)) {
        Lakeshack.log.warn("lakeshack.query: .cbak marker present (compaction in " +
          "flight or crashed) — scanning live files unpruned for this query")
        val pruneSec = (System.nanoTime() - t0) / 1e9
        // -1 sentinel (see QueryTelemetry): the stale stats count the
        // renamed-away files and the live set is mid-swap — reporting
        // either would match neither what was scanned nor what exists
        val telemetry = QueryTelemetry(values.size, -1L, -1L, 0,
          pruneSec, nRecords = None, elapsedSec = None)
        lastTelemetry = Some(telemetry)
        var reader = dataSchema.fold(spark.read)(s => spark.read.schema(s))
          .option("recursiveFileLookup", "true")
        if (tolerateCorrupt)
          reader = reader.option("ignoreCorruptFiles", "true").option("ignoreMissingFiles", "true")
        var df = reader.parquet(dp)
          .where(col(clusterColumn).isin(values: _*) && Clause.conjunction(clauses))
        df = columns.fold(df)(cs => df.select(cs.map(col): _*))
        df = limit.fold(df)(df.limit)
        return Lakeshack.observed(spark, this, telemetry, df)
      }
    }
    val zonePruned = zoneMap.prune(values, clauses)
    val pruned = bloomStats match {
      // intersect with Bloom membership of the requested values — both
      // prunes are may-contain, so the intersection is too (the scan
      // filter below still re-applies every predicate). Files UNKNOWN
      // to the Bloom table survive: a stale index must cost a false
      // positive, never a lost row.
      case Some(bloom) if values.nonEmpty =>
        BloomIndex.mayContainFiles(bloom, values, zonePruned)
      case _ => zonePruned
    }
    val (files, missing) =
      if (!tolerateCorrupt || pruned.isEmpty) (pruned, Nil)
      else {
        val conf = spark.sparkContext.hadoopConfiguration
        val (ok, gone) = pruned.partition { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(conf).exists(hp)
        }
        gone.foreach(p => Lakeshack.log.warn(s"lakeshack.query: skipping missing file $p"))
        (ok, gone)
      }
    val pruneSec = (System.nanoTime() - t0) / 1e9
    val telemetry = QueryTelemetry(values.size, filesTotal, files.size, missing.size,
      pruneSec, nRecords = None, elapsedSec = None)
    lastTelemetry = Some(telemetry)
    Lakeshack.log.info(
      f"lakeshack.query: n_values=${values.size} files_scanned=${files.size}/$filesTotal " +
        f"files_pruned=${filesTotal - files.size} files_skipped_missing=${missing.size} " +
        f"prune_sec=$pruneSec%.3f")

    if (files.isEmpty) {
      // no surviving file: empty result with the right schema — and the
      // execution-side counters are already known
      lastTelemetry = Some(telemetry.copy(nRecords = Some(0L), elapsedSec = Some(0.0)))
      val schema = dataSchema.getOrElse(
        throw new IllegalStateException("No files matched and no schema supplied for empty result"))
      val projected = columns.map(cs => StructType(cs.map(schema(_)))).getOrElse(schema)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), projected)
    }
    var reader = dataSchema.fold(spark.read)(s => spark.read.schema(s))
    if (tolerateCorrupt)
      // per-read options, not session confs: tolerance is scoped to THIS
      // query. ignoreMissingFiles covers files that vanish between the
      // exists() probe above and task execution (e.g. a racing compactor)
      reader = reader.option("ignoreCorruptFiles", "true").option("ignoreMissingFiles", "true")
    var df = reader.parquet(files: _*)
      .where(col(clusterColumn).isin(values: _*) && Clause.conjunction(clauses))
    df = columns.fold(df)(cs => df.select(cs.map(col): _*))
    df = limit.fold(df)(df.limit)
    Lakeshack.observed(spark, this, telemetry, df)
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
    * runs. `observe` adds a CollectMetrics node ABOVE the limit/project,
    * so it counts exactly the rows the query returned, costs one
    * accumulator update per row, and triggers no extra job. */
  private def observed(spark: SparkSession, owner: Lakeshack,
                       t: QueryTelemetry, df: DataFrame): DataFrame = {
    ensureListener(spark)
    val name = s"lakeshack.query.${obsCounter.incrementAndGet()}"
    pending.put(name, (owner, t))
    df.observe(name, count(lit(1)).as("n_records"))
  }

  /** Sum (filesSize, numFiles) over every parquet scan node of an
    * executed plan — descending into AQE's adaptively-executed subtree,
    * which hides its children from the plain TreeNode walk. `None` when
    * the plan has no file scan at all (e.g. an empty-relation shortcut),
    * distinguishing "scanned zero bytes" from "nothing to measure". */
  private def scanTotals(plan: org.apache.spark.sql.execution.SparkPlan)
      : (Option[Long], Option[Long]) = {
    var bytes = 0L; var files = 0L; var seen = false
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        // AQE materializes each stage behind a QueryStageExec whose
        // subtree is NOT in `children` — without this case an adaptive
        // plan reports no scan at all
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          () // already counted at its original site
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          seen = true
          s.metrics.get("filesSize").foreach(m => bytes += m.value)
          s.metrics.get("numFiles").foreach(m => files += m.value)
        case _ => ()
      }
      p.children.foreach(walk)
    }
    walk(plan)
    if (seen) (Some(bytes), Some(files)) else (None, None)
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
            optionalColumns: Seq[String] = Nil): Lakeshack = {
    // recursive, matching Metastore.build's discovery on nested layouts
    val schema = spark.read.option("recursiveFileLookup", "true").parquet(dataPath).schema
    new Lakeshack(spark,
      Metastore.build(spark, dataPath, clusterColumn, optionalColumns),
      Some(schema), Some(dataPath))
  }

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
    val stats = Metastore.loadValidated(spark, statsPath, schema, clusterColumn, optionalColumns)
    new Lakeshack(spark, stats, Some(schema), Some(dataPath))
  }
}
