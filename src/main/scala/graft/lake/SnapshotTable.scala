package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.catalog.SupportsDelete
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, VariantExtraction}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex, PartitionDirectory, PartitionedFile, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetPartitionReaderFactory, ParquetScan, ParquetScanBuilder, ParquetTable}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The DataSource V2 table [[SnapshotCatalog]] serves: Spark's own
  * `ParquetTable` over a version's exact live file set, extended with
  * the two behaviors a snapshot version needs that a stock parquet scan
  * cannot give —
  *
  *  1. ZONE-MAP FILE PRUNING ([[SnapshotFileIndex]]): `WHERE` clauses
  *     skip non-matching files at planning time from cached footer
  *     stats. Every API read of a version (`SnapshotLog.read`,
  *     `readPruned`, the DML scans) goes through the same index
  *     ([[SnapshotLog.scanVersion]]), so the SQL and API pruning cannot
  *     drift;
  *  2. DELETION-VECTOR application ([[DvScanBuilder]]): a version that
  *     carries DVs is readable in pure SQL — each dirty file's dead
  *     positions are dropped by a per-file positional filter inside the
  *     scan, the row-level equivalent of `SnapshotLog.scanVersion`'s
  *     broadcast anti-join (reference capability: query-the-lake,
  *     lakeshack/lakeshack.py:476-579, here versioned + SQL + DV-aware).
  *
  * DV READ TAX (the price of merge-on-read, cleared by
  * `SnapshotLog.purgeDeletes` / `maintain`): when the version carries
  * vectors, the scan (a) pushes NO filters into parquet and (b) reads
  * row-based, with dirty files unsplit. (a) and the unsplit part exist
  * because the DV keys are PHYSICAL row positions — `_metadata
  * .row_index` at delete time — so the reader-side position counter
  * must see every row of the file in order; row-group skipping or a
  * byte-range split would silently desynchronize it. Row-based applies
  * to the whole version (Spark's `BatchScanExec` refuses mixed
  * row/columnar partitions); clean files still split and skip the
  * position filter. Catalyst re-applies every predicate above the scan
  * (correctness), and zone-map file pruning still works underneath
  * (the dominant saving). A DV-free version pays none of this.
  *
  * Scale: the dead-position map is dead-row-sized (the DV contract;
  * `maintain` bounds it at ~1M rows), shipped once per scan as a
  * broadcast, and probed per row with a binary search. 100 TB of clean
  * data + a CDC trickle of deletes reads at full parquet speed on the
  * clean files and pays O(log deadRows) per row only on the handful of
  * dirty ones.
  */
/** The read half: Spark's `ParquetTable` with the pruning index and the
  * DV-applying scan. Kept as an INTERNAL delegate of
  * [[SnapshotParquetTable]] rather than the served table itself:
  * Spark's `FallBackFileSourceV2` rule force-rewrites ANY
  * `INSERT INTO` over a `FileTable` onto the V1 path (which requires a
  * single root path — a snapshot's explicit file list is many), so the
  * catalog's table must not BE a `FileTable` for SQL DML to reach the
  * DSv2 write path. */
private[lake] class SnapshotReadTable(
    tname: String, spark: SparkSession, filePaths: Seq[String],
    tableSchema: StructType, hasDvs: Boolean,
    deadFn: () => Map[String, Array[Long]],
    tablePath: String, streamable: Boolean)
  extends ParquetTable(tname, spark, CaseInsensitiveStringMap.empty(), filePaths,
    Some(tableSchema), classOf[ParquetFileFormat]) {

  override lazy val fileIndex: PartitioningAwareFileIndex =
    new SnapshotFileIndex(spark, filePaths, tableSchema, Some(tablePath))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ParquetScanBuilder = {
    val b = super.newScanBuilder(options)
    if (!hasDvs)
      new SnapshotScanBuilder(b.sparkSession, b.fileIndex, b.schema, b.dataSchema,
        options, tablePath, tableSchema, streamable)
    // deadFn materializes the driver-side dead map ONLY here — the
    // row-based fallback for sessions without GraftExtensions (whose
    // rewrite rule replaces this scan with the vectorized anti-join
    // form and never builds the map). Capped by
    // SnapshotLog.MaxDriverDeadRows with a loud refusal beyond it.
    else new DvScanBuilder(b.sparkSession, b.fileIndex, b.schema, b.dataSchema,
      options, deadFn(), tablePath, tableSchema, streamable)
  }
}

private[lake] class SnapshotParquetTable(
    tname: String, spark: SparkSession,
    private[lake] val filePaths: Seq[String],
    tableSchema: StructType,
    private[lake] val snap: SnapshotLog.Snapshot,
    deadFn: () => Map[String, Array[Long]],
    private[lake] val tablePath: String, private[lake] val writable: Boolean)
  extends org.apache.spark.sql.connector.catalog.Table
  with org.apache.spark.sql.connector.catalog.SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with SupportsDelete {

  private[lake] def dvFiles: Map[String, Seq[String]] = snap.dvs

  private val readTable =
    new SnapshotReadTable(tname, spark, filePaths, tableSchema, dvFiles.nonEmpty,
      deadFn, tablePath, streamable = writable)

  /** The version's scan over `absFiles` (default: all of them), deletion
    * vectors applied ([[SnapshotLog.scanVersion]]): what
    * `VectorizeSnapshotDvRead` substitutes for this relation, and the
    * boundary-file scan of `PushFilteredAggToManifest`. */
  private[lake] def vectorizedRead(session: SparkSession,
                                   absFiles: Seq[String] = filePaths): org.apache.spark.sql.DataFrame =
    SnapshotLog.scanVersion(session, tablePath, snap,
      Some(absFiles.map(p => SnapshotTable.relOf(new Path(p).toUri.getPath))))

  override def name(): String = tname
  override def schema(): StructType = tableSchema

  /** SHOW TBLPROPERTIES: the one stored property, when declared. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    val cb = SnapshotLog.clusterByOf(spark, tablePath)
    if (cb.nonEmpty) m.put("cluster_by", cb.mkString(","))
    m
  }

  /** `TRUNCATE TABLE`: one O(1) overwrite-to-empty commit. Without
    * this override the `SupportsDelete` default would route through
    * `deleteWhere(true)` — a deletion vector for EVERY live row, a
    * table-sized write for a statement that should cost nothing. */
  override def truncateTable(): Boolean = {
    require(writable,
      s"$tname is a time-travel pin — truncate the table head (no AS OF)")
    SnapshotLog.truncate(spark, tablePath)
    true
  }
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] = {
    import org.apache.spark.sql.connector.catalog.TableCapability._
    val caps = new java.util.HashSet[org.apache.spark.sql.connector.catalog.TableCapability]()
    caps.add(BATCH_READ)
    // readStream.table(...) — pure-insert versions stream as they
    // commit (SnapshotMicroBatchStream); a pinned AS OF table refuses
    // at stream build with a clear message
    caps.add(MICRO_BATCH_READ)
    if (writable) {
      caps.add(BATCH_WRITE); caps.add(TRUNCATE)
      // writeStream.toTable(...) — each micro-batch is one append
      // commit, exactly-once under deterministic epoch tokens
      caps.add(STREAMING_WRITE)
    }
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ParquetScanBuilder =
    readTable.newScanBuilder(options)

  // ── SQL DML: INSERT INTO / INSERT OVERWRITE ────────────────────────
  // The DSv2 two-phase write maps 1:1 onto the snapshot commit
  // protocol: executors stream parquet into a FRESH POOL TOKEN DIR
  // through Spark's stock parquet BatchWrite (task-attempt isolation,
  // speculative-duplicate handling — all stock), and the driver-side
  // BatchWrite.commit claims the manifest, which IS the query's commit
  // point. An abort (or a driver crash before the claim) strands at
  // most an orphan token dir for expireOrphans — the table never shows
  // a half-written INSERT. Appends validate strictly against the head
  // schema; INSERT OVERWRITE (truncate) replaces the live set as one
  // lost-update-safe overwrite commit.
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(writable,
      s"$tname is a time-travel pin — write to the table head (no AS OF)")
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new Write
        with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
        // declared CLUSTER BY layout: ask Spark to range-distribute +
        // sort the incoming rows, so a plain SQL INSERT writes
        // zone-map-disjoint files (ordered distribution = the same
        // repartitionByRange + sortWithinPartitions shape as
        // SnapshotLog.write's clusterColumn path); unclustered tables
        // keep the query's own partitioning untouched
        private val clusterSort: Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          SnapshotLog.clusterByOf(spark, tablePath).toArray.map { c =>
            org.apache.spark.sql.connector.expressions.Expressions.sort(
              org.apache.spark.sql.connector.expressions.Expressions.column(c),
              org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
          }
        override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
          if (clusterSort.isEmpty)
            org.apache.spark.sql.connector.distributions.Distributions.unspecified()
          else org.apache.spark.sql.connector.distributions.Distributions.ordered(clusterSort)
        override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          clusterSort
        private def innerBatch(tokenDir: Path): BatchWrite =
          ParquetTable(s"$tname#write", spark,
            CaseInsensitiveStringMap.empty(), Seq(tokenDir.toString),
            Some(info.schema()), classOf[ParquetFileFormat])
            .newWriteBuilder(info).build().toBatch

        override def toBatch: BatchWrite = {
          val token = java.util.UUID.randomUUID().toString.take(12)
          val tokenDir = new Path(
            SnapshotLog.poolDir(new Path(tablePath)), token)
          val inner = innerBatch(tokenDir)
          val ow = overwrite
          new BatchWrite {
            override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
              inner.createBatchWriterFactory(p)
            override def useCommitCoordinator(): Boolean = inner.useCommitCoordinator()
            override def commit(messages: Array[WriterCommitMessage]): Unit = {
              inner.commit(messages) // files land under the token dir
              SnapshotLog.commitWrittenToken(spark, tablePath, tokenDir, ow,
                info.schema())
              ()
            }
            override def abort(messages: Array[WriterCommitMessage]): Unit =
              inner.abort(messages)
          }
        }

        // ── writeStream.toTable(...) ───────────────────────────────
        // One manifest claim per micro-batch. Spark constructs a fresh
        // MicroBatchWrite per epoch, calling createStreamingWriterFactory
        // then commit(epochId, …) sequentially on the driver — so the
        // anonymous staging dir created here is consumed by exactly
        // that epoch's commit, which renames it to the DETERMINISTIC
        // token `stream-<queryId>-e<epoch>` and claims it exactly-once
        // (a restarted query's replay of a committed epoch is a no-op,
        // the appendBatch contract). The data path is Spark's stock
        // parquet batch writer factory — task-attempt isolation and
        // speculative-duplicate handling are stock.
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          require(!overwrite,
            s"$tname streams in APPEND mode only — complete/truncate " +
              "outputs would rewrite the table every micro-batch")
          new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
            @volatile private var staged: Path = _
            @volatile private var inner: BatchWrite = _
            override def createStreamingWriterFactory(p: PhysicalWriteInfo)
                : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
              staged = new Path(SnapshotLog.poolDir(new Path(tablePath)),
                "staging-" + java.util.UUID.randomUUID().toString.take(12))
              inner = innerBatch(staged)
              val f = inner.createBatchWriterFactory(p)
              new org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
                override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
                    : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
                  f.createWriter(partitionId, taskId)
              }
            }
            // the stock file writers coordinate task commits through
            // the hadoop commit protocol themselves — enabling the V2
            // coordinator here double-books (stage, partition) and the
            // second registration is denied
            override def useCommitCoordinator(): Boolean = inner.useCommitCoordinator()
            override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
              inner.commit(messages) // parquet lands under the staging dir
              SnapshotLog.commitStreamEpoch(spark, tablePath, staged,
                s"stream-${info.queryId()}-e$epochId", info.schema())
              ()
            }
            override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
              inner.abort(messages)
              val fs = staged.getFileSystem(spark.sparkContext.hadoopConfiguration)
              fs.delete(staged, true)
              ()
            }
          }
        }
      }
    }
  }

  // ── SQL DML: DELETE FROM ... WHERE ─────────────────────────────────
  // Row-level SQL delete = one deletion-vector commit
  // (SnapshotLog.delete): O(matched rows) written, zero files
  // rewritten, time travel un-deleted — the same semantics the API
  // delete documents, now a language feature. Only filters this table
  // can compile to a Column are accepted (canDeleteWhere), so Spark
  // refuses loudly rather than deleting the wrong rows.
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    writable && filters.forall(f => SnapshotTable.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(writable,
      s"$tname is a time-travel pin — delete on the table head (no AS OF)")
    val cond = filters.flatMap(SnapshotTable.filterToColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    SnapshotLog.delete(spark, tablePath, cond)
    ()
  }
}

private[lake] object SnapshotTable {
  private val RelRe = "^.*/(data/.*)$".r

  /** Pool-relative path of an absolute data-file path — the same
    * last-`/data/`-segment anchor as `SnapshotLog.relFileCol`, so the
    * DV keys written by `delete` match by construction. */
  def relOf(absPath: String): String = absPath match {
    case RelRe(rel) => rel
    case other => other
  }

  /** Compile a DSv1 source filter (what `SupportsDelete` hands over) to
    * a `Column` for `SnapshotLog.delete`'s pushed scan. None = a shape
    * this table refuses to delete by (canDeleteWhere gates on it). */
  def filterToColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(c) => filterToColumn(c).map(!_)
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }
}

/** `InMemoryFileIndex` + transparent zone-map pruning for a snapshot
  * version's file set — the one pruned scan of a pinned version, behind
  * both the SQL catalog and `SnapshotLog.readPruned`. Intervals are
  * built LAZILY per referenced column from the shared per-(file, column)
  * footer-stats cache (`SnapshotLog.cachedHarvest`) the first time a
  * filter mentions the column — so `snap.t VERSION AS OF 3 WHERE k = 42`
  * pays one footer sweep over the version's files on first use (none
  * when `readPruned` harvested `k` up front) and map lookups after.
  * Unknown files and unknown predicate shapes are never pruned
  * (may-contain, sound); files are immutable by the pool protocol, so
  * the memo never goes stale. */
private[lake] class SnapshotFileIndex(
    spark: SparkSession, absFiles: Seq[String], schema: StructType,
    tablePath: Option[String] = None)
  extends InMemoryFileIndex(spark, absFiles.map(new Path(_)),
    Map.empty[String, String], Some(schema),
    FileStatusCache.getOrCreate(spark), None, None) {

  SnapshotFileIndex.requireListed(this, absFiles)

  // per-COLUMN memo (ConcurrentHashMap.computeIfAbsent): concurrent
  // first-planning of many queries on one huge version serializes only
  // per contended column — a coarse synchronized block here was a
  // measured convoy risk on the driver (every first query of a session
  // queuing behind one column's footer sweep)
  private val colIntervals = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, (Literal, Literal)]]()

  private val bloomCache = new java.util.concurrent.ConcurrentHashMap[String, Option[DataFrame]]()

  private def intervalsOf(c: String): Map[String, (Literal, Literal)] =
    colIntervals.computeIfAbsent(c, { c =>
      val dt = schema(c).dataType
      SnapshotLog.cachedHarvest(spark, absFiles, c, dt).flatMap { st =>
        for (mn <- st.min; mx <- st.max) yield
          new Path(st.path).toString ->
            (Literal.create(mn, dt), Literal.create(mx, dt))
      }.toMap
    })

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val base = super.listFiles(partitionFilters, dataFilters)
    if (dataFilters.isEmpty) return base
    val cols = dataFilters.flatMap(_.references.toSeq.map(_.name)).distinct
      .filter(c => schema.fieldNames.contains(c) &&
        Metastore.isOrderable(schema(c).dataType))
    if (cols.isEmpty) return base
    val byCol = cols.map(c => c -> intervalsOf(c))
    val out = ZoneMap.pruneListing(base, dataFilters, "snapshot catalog prune") { p =>
      Some(byCol.flatMap { case (c, m) => m.get(p).map(c -> _) }.toMap)
    }
    BloomIndex.pruneListing(out, dataFilters, "snapshot bloom prune") { c =>
      // a Bloom sidecar per column (`SnapshotLog.buildBloom`), read once
      tablePath.flatMap(tp => bloomCache.computeIfAbsent(c, c => SnapshotLog.bloomFor(spark, tp, c)))
    }
  }
}

object SnapshotFileIndex {
  /** Throw `FileNotFoundException` naming a requested file that the
    * index's listing lacks. `InMemoryFileIndex` skips a missing root
    * path with only a WARN, so a version whose data file was deleted
    * would otherwise read as the other files' rows, silently partial.
    * The count check keeps the common case to one `allFiles` pass. */
  private[lake] def requireListed(idx: PartitioningAwareFileIndex, paths: Seq[String]): Unit = {
    val listed = idx.allFiles()
    val wanted = paths.distinct
    if (listed.size < wanted.size) {
      val have = listed.iterator.map(_.getPath.toUri.getPath).toSet
      wanted.find(p => !have.contains(new Path(p).toUri.getPath)).foreach { p =>
        throw new java.io.FileNotFoundException(s"snapshot data file $p does not exist")
      }
    }
  }

}

/** The clean-version scan builder: stock parquet pushdown + a scan
  * that additionally serves [[SnapshotMicroBatchStream]] for
  * `readStream.table(...)` + MANIFEST-BACKED AGGREGATE PUSHDOWN —
  * `SELECT count(*) / min(c) / max(c) FROM snap.t` is answered from
  * the per-file footer-stats cache as a driver-local row, ZERO data
  * files read, no Spark job. At 100 TB that is the difference between
  * a sub-second catalog answer and a full-table scan. Soundness gates
  * (any miss falls back to the stock distributed scan, never a wrong
  * answer): no GROUP BY, no filters of any kind, COUNT exact only when
  * every footer's row count is known, COUNT(col)/MIN/MAX only when
  * every file's column stats are complete, and MIN/MAX only on
  * integral/temporal types — parquet float/double footer order bends
  * at ±0.0 (writers widen the bound for sort-order safety) and string
  * maxima may be truncated-then-incremented, both fine for
  * may-contain pruning but not for an EXACT aggregate. */
private[lake] class SnapshotScanBuilder(
    spark: SparkSession, idx: PartitioningAwareFileIndex,
    tblSchema: StructType, dSchema: StructType,
    opts: CaseInsensitiveStringMap,
    tablePath: String, baseSchema: StructType, streamable: Boolean)
  extends ParquetScanBuilder(spark, idx, tblSchema, dSchema, opts) {

  private var manifestAgg: Option[(StructType, InternalRow)] = None

  override def supportCompletePushDown(agg: Aggregation): Boolean = {
    tryManifestAgg(agg)
    manifestAgg.isDefined || super.supportCompletePushDown(agg)
  }

  override def pushAggregation(agg: Aggregation): Boolean = {
    tryManifestAgg(agg)
    manifestAgg.isDefined || super.pushAggregation(agg)
  }

  private def tryManifestAgg(agg: Aggregation): Unit =
    if (manifestAgg.isEmpty &&
        spark.conf.get("spark.graft.aggPushdown.enabled", "true").toBoolean &&
        partitionFilters.isEmpty && dataFilters.isEmpty &&
        pushedDataFilters.isEmpty)
      manifestAgg = ManifestAgg.tryAnswer(spark, idx.inputFiles.toSeq, tblSchema, agg)

  override def build(): ParquetScan = {
    val s = super.build()
    manifestAgg match {
      case Some((out, row)) => new ManifestAggScan(s, out, row)
      case None =>
        new StreamableParquetScan(s.sparkSession, s.hadoopConf, s.fileIndex,
          s.dataSchema, s.readDataSchema, s.readPartitionSchema, s.pushedFilters,
          s.options, s.pushedAggregate, s.partitionFilters, s.dataFilters,
          s.pushedVariantExtractions, tablePath, baseSchema, streamable)
    }
  }
}

/** A fully-pushed-down aggregate answered from manifests + cached
  * footers: one driver row. Extends `ParquetScan` only because the
  * builder's `build()` is typed to it; the `LocalScan` mixin is what
  * plans — `DataSourceV2Strategy`'s LocalScan branch precedes the
  * batch-scan branch, so this executes as a `LocalTableScan`: no job,
  * no file read. */
private[lake] final class ManifestAggScan(base: ParquetScan, out: StructType,
                                          row: InternalRow)
  extends ParquetScan(base.sparkSession, base.hadoopConf, base.fileIndex,
    base.dataSchema, out, base.readPartitionSchema, base.pushedFilters,
    base.options, None, base.partitionFilters, base.dataFilters,
    base.pushedVariantExtractions)
  with org.apache.spark.sql.connector.read.LocalScan {
  override def rows(): Array[InternalRow] = Array(row)
  override def readSchema(): StructType = out
  override def description(): String =
    s"GraftManifestAggScan[${out.fieldNames.mkString(", ")}]"
}

object ManifestAgg {
  import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, NamedReference}
  import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
  import org.apache.spark.sql.types._

  /** Specs pin zero-file-read service with this counter. */
  val served = new java.util.concurrent.atomic.AtomicLong(0L)

  /** MIN/MAX-exact types: integral + temporal, whose parquet footer
    * min/max equal the true column extrema. Excludes float/double
    * (±0.0 sort-order widening) and strings/binary (truncation) —
    * those stay sound for pruning, not for exact answers. */
  private[lake] def exactMinMaxType(dt: DataType): Boolean = exactMinMax(dt)

  private def exactMinMax(dt: DataType): Boolean = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
         _: DateType | _: TimestampType | _: TimestampNTZType | _: BooleanType => true
    case _ => false
  }

  private def colOf(e: V2Expression): Option[String] = e match {
    case f: NamedReference if f.fieldNames.length == 1 => Some(f.fieldNames.head)
    case _ => None
  }

  /** Compute the aggregation from cached footer stats, or None when
    * any soundness gate misses (the caller then plans the stock scan).
    * Cost: one cached footer sweep per referenced column over the
    * version's files — the identical cost shape as first-query
    * zone-map pruning, and cache-shared with it. */
  def tryAnswer(spark: SparkSession, files: Seq[String], schema: StructType,
                agg: Aggregation): Option[(StructType, InternalRow)] = {
    if (agg.groupByExpressions.nonEmpty) return None
    // output schema built here, positionally matching the aggregate
    // list — V2ScanRelationPushDown maps scan output onto the
    // aggregate expressions by POSITION (complete pushdown becomes a
    // Project over this scan), so types must match: counts are LONG,
    // extrema carry the column's own type. (Spark's
    // AggregatePushDownUtils is not reused: it encodes PARQUET's
    // execution limits, e.g. no timestamp extrema — footer stats via
    // the harvest path have no such limit.)
    val out = StructType(agg.aggregateExpressions.toSeq.map {
      case _: CountStar => StructField("count(*)", LongType, nullable = false)
      case c: Count if !c.isDistinct =>
        val n = colOf(c.column).getOrElse(return None)
        StructField(s"count($n)", LongType, nullable = false)
      case m: Min =>
        val n = colOf(m.column).getOrElse(return None)
        StructField(s"min($n)", schema.fields.find(_.name == n).getOrElse(return None).dataType)
      case m: Max =>
        val n = colOf(m.column).getOrElse(return None)
        StructField(s"max($n)", schema.fields.find(_.name == n).getOrElse(return None).dataType)
      case _ => return None
    })

    // memoized per-column harvest; None = stats incomplete somewhere
    val statsBy = scala.collection.mutable.Map.empty[String, Option[Seq[StatsAgg.FileStats]]]
    def statsFor(c: String): Option[Seq[StatsAgg.FileStats]] =
      statsBy.getOrElseUpdate(c, {
        if (!schema.fieldNames.contains(c)) None
        else {
          val st = SnapshotLog.cachedHarvest(spark, files, c, schema(c).dataType)
          if (st.forall(s => s.rows >= 0L && s.nulls.isDefined)) Some(st) else None
        }
      })

    def countStarValue: Option[Long] =
      if (files.isEmpty) Some(0L)
      else {
        // any column's harvest carries exact per-file row counts (the
        // footer block counts, independent of that column's stats)
        val st = SnapshotLog.cachedHarvest(spark, files, schema.fields.head.name,
          schema.fields.head.dataType)
        if (st.forall(_.rows >= 0L)) Some(st.map(_.rows).sum) else None
      }

    def extremum(c: String, wantMax: Boolean): Option[Any] = {
      val dt = schema.fields.find(_.name == c).map(_.dataType).getOrElse(return None)
      if (!exactMinMax(dt)) return None
      statsFor(c).filter(_.forall(_.boundsKnown)).map { st =>
        val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(dt)
        // all-null files carry no extrema — they contribute nothing,
        // exactly like MIN/MAX's null-skipping
        val vals = st.flatMap(s => if (wantMax) s.max else s.min).map(conv)
        if (vals.isEmpty) null
        else {
          // integral/temporal catalyst values are all AnyVal numbers
          def n(a: Any): Long = a match {
            case b: Boolean => if (b) 1L else 0L
            case x: Byte => x.toLong; case x: Short => x.toLong
            case x: Int => x.toLong; case x: Long => x
          }
          if (wantMax) vals.maxBy(n) else vals.minBy(n)
        }
      }
    }

    val values = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => countStarValue.getOrElse(return None)
      case c: Count if !c.isDistinct =>
        val col = colOf(c.column).getOrElse(return None)
        val st = statsFor(col).getOrElse(return None)
        st.map(s => s.rows - s.nulls.get).sum
      case m: Min =>
        val col = colOf(m.column).getOrElse(return None)
        extremum(col, wantMax = false).getOrElse(return None)
      case m: Max =>
        val col = colOf(m.column).getOrElse(return None)
        extremum(col, wantMax = true).getOrElse(return None)
      case _ => return None
    }
    served.incrementAndGet()
    Some((out,
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values.toArray)))
  }
}

/** `ParquetScan` + the snapshot streaming source. Batch reads are the
  * stock scan untouched. */
private[lake] class StreamableParquetScan(
    ss: SparkSession, hconf: org.apache.hadoop.conf.Configuration,
    idx: PartitioningAwareFileIndex, dSchema: StructType,
    rdSchema: StructType, rpSchema: StructType,
    pFilters: Array[Filter], opts: CaseInsensitiveStringMap,
    pAgg: Option[Aggregation], partFilters: Seq[Expression],
    dFilters: Seq[Expression], pVar: Array[VariantExtraction],
    tablePath: String, baseSchema: StructType, streamable: Boolean)
  extends ParquetScan(ss, hconf, idx, dSchema, rdSchema, rpSchema, pFilters,
    opts, pAgg, partFilters, dFilters, pVar)
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(streamable,
      s"a time-travel pin cannot be streamed — readStream the table head " +
        "(no AS OF); the stream follows commits as they land")
    SnapshotMicroBatchStream.fromOptions(sparkSession, tablePath, baseSchema, opts)
  }

  // ── RUNTIME file pruning (DPP over DATA columns via zone maps) ────
  // Dynamic partition pruning exists for hive-partitioned layouts; a
  // snapshot table is deliberately unpartitioned (clustered instead),
  // so the equivalent 100 TB win — "join against a filtered dim scans
  // only the fact files whose key range can match" — comes from
  // declaring every stats-bearing column runtime-filterable and
  // zone-map-testing the join keys Spark hands over at execution. The
  // exact mechanics: the optimizer plants a DynamicPruningSubquery on
  // the fact scan's join key (the dim side's broadcast is reused, so
  // the subquery is free), BatchScanExec evaluates it, calls
  // `filter(...)` with the key IN-list, and re-plans input partitions
  // — `partitions` below then drops every file whose [min,max] proves
  // the keys absent. May-contain semantics, never over-prunes; a path
  // representation mismatch degrades to scanning (sound), never to
  // dropping.
  @volatile private var runtimePruneExprs: Seq[Expression] = Nil

  // restricted to the READ schema: Spark resolves these against the
  // scan's pruned output, so naming a projected-away column would
  // throw at planning, not just skip
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    rdSchema.fields
      .filter(f => Metastore.isOrderable(f.dataType))
      .map(f => org.apache.spark.sql.connector.expressions.Expressions.column(f.name))

  override def filter(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, In => CIn, EqualTo => CEq}
    def attr(name: String): Option[AttributeReference] =
      baseSchema.fields.find(_.name == name)
        .map(f => AttributeReference(f.name, f.dataType, nullable = true)())
    runtimePruneExprs = filters.toSeq.flatMap {
      case org.apache.spark.sql.sources.In(a, vs) =>
        attr(a).map(ar => CIn(ar, vs.toSeq.map(v => Literal.create(v, ar.dataType))))
      case org.apache.spark.sql.sources.EqualTo(a, v) =>
        attr(a).map(ar => CEq(ar, Literal.create(v, ar.dataType)))
      case _ => None // unknown shapes never prune — sound
    }
  }

  override def partitions: Seq[org.apache.spark.sql.execution.datasources.FilePartition] = {
    val base = super.partitions
    val exprs = runtimePruneExprs
    if (exprs.isEmpty) return base
    // every path string normalized through hadoop Path (inputFiles
    // says `file:///t`, a listed status says `file:/t` — Path folds
    // both to one form); a residual drift can then only make
    // prunedSet MISS, i.e. degrade to scanning, never to losing rows
    def norm(s: String): String = new Path(s).toString
    val survivors: Set[String] = fileIndex.listFiles(Nil, exprs)
      .flatMap(_.files.map(f => f.getPath.toString)).toSet
    val all: Set[String] = fileIndex.inputFiles.toSet.map(norm)
    val prunedSet = all -- survivors
    if (prunedSet.isEmpty) return base
    var dropped = 0
    val out = base.map { fp =>
      val kept = fp.files.filter { pf =>
        val keep = !prunedSet.contains(norm(pf.filePath.toString))
        if (!keep) dropped += 1
        keep
      }
      org.apache.spark.sql.execution.datasources.FilePartition(fp.index, kept)
    }
    if (dropped > 0) StreamableParquetScan.runtimePrunedSplits.addAndGet(dropped)
    MetastoreFileIndex.log.info(
      s"snapshot runtime prune: files_pruned=${prunedSet.size}/${all.size} splits_dropped=$dropped")
    out
  }
}

private[lake] object StreamableParquetScan {
  /** Specs pin join-driven runtime pruning with this counter. */
  val runtimePrunedSplits = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** Scan builder for DV-carrying versions. Pushes NOTHING into the
  * parquet reader (filters would row-group-skip and desync the
  * physical position counter; a pushed aggregate would aggregate dead
  * rows) — Catalyst applies every predicate above the scan instead,
  * and file-level pruning still runs in the index below. */
private[lake] class DvScanBuilder(
    spark: SparkSession, idx: PartitioningAwareFileIndex,
    tblSchema: StructType, dSchema: StructType,
    opts: CaseInsensitiveStringMap, dead: Map[String, Array[Long]],
    tablePath: String, baseSchema: StructType, streamable: Boolean)
  extends ParquetScanBuilder(spark, idx, tblSchema, dSchema, opts) {

  override def pushDataFilters(dataFilters: Array[Filter]): Array[Filter] =
    Array.empty

  override def pushAggregation(aggregation: Aggregation): Boolean = false

  override def build(): ParquetScan = {
    val s = super.build()
    new DvParquetScan(s.sparkSession, s.hadoopConf, s.fileIndex, s.dataSchema,
      s.readDataSchema, s.readPartitionSchema, s.pushedFilters, s.options,
      s.pushedAggregate, s.partitionFilters, s.dataFilters,
      s.pushedVariantExtractions, dead, tablePath, baseSchema, streamable)
  }
}

/** `ParquetScan` that drops each dirty file's dead positions. Dirty
  * files are kept unsplit (one task sees the whole file, positions
  * 0..n−1 in order); clean files split and vectorize as usual.
  * Streaming rides [[StreamableParquetScan]] (the stream plans its own
  * per-version scans, so the DV batch tax never applies to it). */
private[lake] class DvParquetScan(
    ss: SparkSession, hconf: org.apache.hadoop.conf.Configuration,
    idx: PartitioningAwareFileIndex, dSchema: StructType,
    rdSchema: StructType, rpSchema: StructType,
    pFilters: Array[Filter], opts: CaseInsensitiveStringMap,
    pAgg: Option[Aggregation], partFilters: Seq[Expression],
    dFilters: Seq[Expression], pVar: Array[VariantExtraction],
    dead: Map[String, Array[Long]],
    tablePath: String, baseSchema: StructType, streamable: Boolean)
  extends StreamableParquetScan(ss, hconf, idx, dSchema, rdSchema, rpSchema,
    pFilters, opts, pAgg, partFilters, dFilters, pVar,
    tablePath, baseSchema, streamable) {

  override def isSplitable(path: Path): Boolean =
    !dead.contains(SnapshotTable.relOf(path.toUri.getPath)) && super.isSplitable(path)

  override def createReaderFactory(): PartitionReaderFactory = {
    val inner = super.createReaderFactory().asInstanceOf[ParquetPartitionReaderFactory]
    new DvReaderFactory(inner, sparkSession.sparkContext.broadcast(dead))
  }
}

/** Per-file wrapping of the stock parquet readers: a dirty file's
  * row-based reader is filtered by a position counter + binary search
  * over its sorted dead set; clean files pass through untouched
  * (including the vectorized columnar path when every file of the
  * partition is clean). */
private[lake] class DvReaderFactory(
    inner: ParquetPartitionReaderFactory,
    dead: Broadcast[Map[String, Array[Long]]])
  extends FilePartitionReaderFactory {

  override def options: FileSourceOptions = inner.options

  private def relOf(file: PartitionedFile): String =
    SnapshotTable.relOf(file.toPath.toUri.getPath)

  override def buildReader(file: PartitionedFile): PartitionReader[InternalRow] = {
    val r = inner.buildReader(file)
    dead.value.get(relOf(file)) match {
      case None => r
      case Some(sorted) =>
        require(file.start == 0,
          s"DV-filtered file ${file.toPath} arrived as a split (start=" +
            s"${file.start}) — isSplitable must keep dirty files whole")
        new PartitionReader[InternalRow] {
          private var pos = -1L
          private var cur: InternalRow = _
          override def next(): Boolean = {
            while (r.next()) {
              pos += 1
              if (java.util.Arrays.binarySearch(sorted, pos) < 0) {
                cur = r.get(); return true
              }
            }
            false
          }
          override def get(): InternalRow = cur
          override def close(): Unit = r.close()
        }
    }
  }

  // uniformly row-based: BatchScanExec refuses mixed row/columnar
  // partitions, and a DV'd version always has at least one dirty file —
  // the whole-version row-based read is part of the documented DV tax
  // (purge/maintain restores the vectorized path)
  override def supportColumnarReads(partition: InputPartition): Boolean = false
}
