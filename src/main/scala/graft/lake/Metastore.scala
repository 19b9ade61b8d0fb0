package graft.lake

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-level zone-map statistics over an immutable Parquet table — the
  * Spark-native rebuild of the reference Metastore
  * (lakeshack/metastore.py:79-560).
  *
  * One stats row per Parquet file:
  *   (filepath, <cluster>_min, <cluster>_max[, <opt>_min, <opt>_max]...)
  * The cluster column is first by convention, matching the reference's
  * name-recovery rule (lakeshack/metastore.py:117-126).
  *
  * Scale design (100 TB / ~100k files):
  *  - stats stay tiny (1 row per file), so pruning is driver-side math:
  *    the stats are collected once into a [[ZoneMap]] snapshot and each
  *    query's values are binary-searched against the [min,max]
  *    intervals — no Spark job, never a shuffle of the data table;
  *  - `build` scans data once at ingest (distributed; the groupBy key is
  *    `_metadata.file_path` so partial min/max aggregation happens
  *    map-side per task and only per-file partials hit the exchange),
  *    then keeps only files whose scanned row count equals the footer's;
  *  - `buildFromFooters` reads ONLY Parquet footers (KBs per file) on the
  *    executors — the reference's actual strategy (metastore.py:278-339) —
  *    so re-stats never touches data bytes. Every footer sweep (this
  *    builder, `build`'s row-count guard, [[StatsAgg]]'s per-column
  *    harvest) is the one reader [[StatsAgg.readFooters]], with one
  *    completeness rule: a row group without min/max leaves the file's
  *    bounds unknown (NULL) unless its null count says it is all null;
  *  - `update` is a left-anti join on filepath (idempotent re-update),
  *    exactly the reference's skip-if-exists (metastore.py:245-260).
  */
object Metastore {

  /** Hadoop-Path-canonical form of a file URI (`file:///x` → `file:/x`),
    * so paths from `_metadata.file_path`, `FileStatus`, and user input
    * all compare equal.
    *
    * Marked nondeterministic NOT because it is (it's pure) but to stop
    * InferFiltersFromConstraints from deriving `isnotnull(udf(path))`
    * for the guard join and pushing it below the per-file aggregate —
    * which re-ran this UDF once per data ROW (measured: ~0.9 s of the
    * scan-builder's time at sf0.1). Post-agg it runs once per FILE. */
  private val normalizePath =
    udf((p: String) => new org.apache.hadoop.fs.Path(p).toString).asNondeterministic()

  /** Path normalization for sibling index builders (BloomIndex): apply
    * only POST-AGGREGATION (per file), never per row — see above. */
  private[lake] def normalizePathCol(
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = normalizePath(c)

  /** Column types that get min/max stats. Anything else is silently
    * excluded (with the cluster column required to be orderable),
    * preserving the reference's drop-with-warning policy
    * (lakeshack/metastore.py:540-553) — load-bearing for queries that
    * filter at scan time on columns the metastore never indexed.
    */
  def isOrderable(dt: DataType): Boolean = dt match {
    case _: StringType | _: IntegerType | _: LongType | _: ShortType | _: ByteType |
        _: FloatType | _: DoubleType | _: DateType | _: TimestampType | _: TimestampNTZType => true
    case _ => false
  }

  private def statColumns(schema: StructType, clusterColumn: String, optionalColumns: Seq[String]): Seq[String] = {
    // dedupe: repeating the cluster column in optionalColumns would emit
    // duplicate <col>_min/_max columns and fail much later with an
    // AMBIGUOUS_REFERENCE on the first prune
    val wanted = (clusterColumn +: optionalColumns).distinct
    val kept = wanted.filter { c =>
      val f = schema.fields.find(_.name == c)
        .getOrElse(throw new IllegalArgumentException(s"Column '$c' not in schema ${schema.fieldNames.mkString(",")}"))
      isOrderable(f.dataType)
    }
    require(kept.contains(clusterColumn), s"Cluster column '$clusterColumn' has non-orderable type; cannot build metastore")
    kept
  }

  /** Harvest per-file min/max by scanning the data (SURVEY.md §2 O9-O11,
    * approach (a)). Distributed: one partial aggregate per input split,
    * tiny final aggregate keyed by filepath.
    */
  def build(spark: SparkSession, dataPath: String, clusterColumn: String,
            optionalColumns: Seq[String] = Nil): DataFrame = {
    // recursive discovery (reference O10, metastore.py:368-376): plain
    // nested layouts like <table>/2024/01/15/*.parquet are walked —
    // matching buildFromFooters' fs.listFiles(recursive) — instead of
    // silently harvesting only the top level.
    // ignoreCorruptFiles: per-file error tolerance (reference
    // metastore.py:304-305 logs-and-skips a failed harvest) — at 100k
    // files one corrupt file must not fail the whole stats build; Spark
    // logs each skip at WARN.
    // SCHEMA EVOLUTION — a column added by later files (the normal lake
    // lifecycle) must be visible even when the footer Spark happens to
    // sample is an old file's. A blanket mergeSchema would read EVERY
    // footer just to infer the schema — doubling this build's dominant
    // I/O at 100k files — so the merged probe runs only when the cheap
    // single-footer sample lacks a wanted column. Files missing a
    // declared column read it as NULL, so old files carry NULL bounds
    // and are simply never pruned on it (may-contain, sound).
    val df = evolvedRead(spark, dataPath, clusterColumn +: optionalColumns)
    val cols = statColumns(df.schema, clusterColumn, optionalColumns)
    val aggs = cols.flatMap(c => Seq(min(col(c)).as(c + "_min"), max(col(c)).as(c + "_max"))) :+
      count(lit(1)).as("_scanned_rows")
    // `_metadata.file_path`, not `input_file_name()`: if the caller has
    // the table cached, cache substitution feeds the agg from the
    // InMemoryRelation and input_file_name() silently yields "" — the
    // metadata column changes the scan's output so the cached fragment
    // cannot be substituted, and file provenance survives.
    // Paths are canonicalized (file:///x -> file:/x) so stats from this
    // builder and buildFromFooters (FileStatus-format paths) key
    // identically in update's anti-join and the FileIndex interval map —
    // but only AFTER the aggregation: normalizePath is a UDF, and keying
    // the groupBy on it would run it once per ROW (and once more per row
    // as the join's isnotnull constraint, un-pushable around a UDF);
    // post-agg it runs once per FILE.
    val scanned = df
      .select(col("_metadata.file_path").as("_raw_path") +: cols.map(col): _*)
      .groupBy("_raw_path")
      .agg(aggs.head, aggs.tail: _*)
      .select(normalizePath(col("_raw_path")).as("filepath") +:
        (cols.flatMap(c => Seq(col(c + "_min"), col(c + "_max"))) :+ col("_scanned_rows")): _*)
    // SOUNDNESS GUARD: ignoreCorruptFiles is NOT all-or-nothing per file —
    // rows already read from a file that fails mid-read ARE returned, so a
    // partially-read file would get an UNDER-COVERING stats row that later
    // prunes values the file actually contains (silently dropping rows).
    // Cross-check each file's scanned row count against its
    // footer-declared count and keep only exact matches; a mismatched or
    // footer-unreadable file simply stays un-indexed — an unknown file is
    // never pruned, so queries stay sound (weaker pruning only).
    // broadcast the (1-row-per-file) footer side: a plain join would
    // shuffle BOTH sides through an exchange pair + AQE replanning —
    // measured ~0.8s of pure stage overhead on a single-file table —
    // where the broadcast hash join keeps the guard map-side.
    // df.inputFiles reuses the listing the scan's FileIndex already
    // computed — the guard must NOT pay a second recursive LIST of the
    // table (at 100k objects that is a full extra S3 LIST sweep).
    // new Path(p).toString canonicalizes file:///x -> file:/x so the
    // paths key identically to the scan-derived normalized filepaths.
    val listedPaths = df.inputFiles.toSeq
      .map(p => new org.apache.hadoop.fs.Path(p).toString)
    scanned
      .join(broadcast(footerRowCounts(spark, listedPaths)), Seq("filepath"), "inner")
      .where(col("_scanned_rows") === col("_footer_rows"))
      .drop("_scanned_rows", "_footer_rows")
  }

  /** Read the table so every `wanted` column resolves, cheapest probe
    * first:
    *  1. recursive lookup, single-footer schema sample — the lake's
    *     native shape (nested immutable batches, reference O10) and the
    *     overwhelmingly common case;
    *  2. if a wanted column is missing, the DEFAULT read — hive
    *     partition-column inference, for a partition-valued stat column
    *     that lives in directory names, not footers (recursive lookup
    *     disables that inference);
    *  3. last, the recursive mergeSchema probe — schema evolution,
    *     where the wanted column exists only in some files' footers.
    *     This one reads EVERY footer, so it is never paid up front.
    * A column found nowhere falls through to `statColumns`' error. */
  private def evolvedRead(spark: SparkSession, dataPath: String,
                          wanted: Seq[String]): DataFrame = {
    def read(recursive: Boolean, merge: Boolean) = {
      val r = spark.read
        .option("ignoreCorruptFiles", "true")
        .option("mergeSchema", merge.toString)
      (if (recursive) r.option("recursiveFileLookup", "true") else r).parquet(dataPath)
    }
    def covers(df: DataFrame) = wanted.forall(df.schema.fieldNames.contains)
    val cheap = read(recursive = true, merge = false)
    if (covers(cheap)) return cheap
    // a plain nested layout (no hive-style dir names) cannot infer
    // without recursion — treat as "no hive columns here"
    val hive =
      try Some(read(recursive = false, merge = false))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    hive.filter(covers).getOrElse(read(recursive = true, merge = true))
  }

  /** Recursive `.parquet` file listing (reference O10, metastore.py:368-376). */
  private def listParquetFiles(spark: SparkSession, dataPath: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(dataPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // makeQualified: a bare single-file path must come out scheme-qualified
    // ("file:/x") exactly like the FileStatus paths of the directory branch,
    // or it will never join/anti-join against scan-derived filepaths
    if (fs.getFileStatus(root).isFile) Seq(fs.makeQualified(root).toString)
    else {
      val it = fs.listFiles(root, true)
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) buf += f.getPath.toString
      }
      buf.toSeq
    }
  }

  /** The driver's Hadoop conf as serializable key/value pairs: a bare
    * `new Configuration()` on an executor would drop fs.s3a credentials /
    * endpoints and fail against object stores. */
  private[lake] def hadoopConfKVs(spark: SparkSession): Seq[(String, String)] = {
    val it = spark.sparkContext.hadoopConfiguration.iterator()
    val buf = scala.collection.mutable.ArrayBuffer[(String, String)]()
    while (it.hasNext) { val e = it.next(); buf += e.getKey -> e.getValue }
    buf.toSeq
  }

  /** Footer-declared row count per file, `(filepath, _footer_rows)`.
    * Distributed footer-only sweep ([[StatsAgg.readFooters]]) over an
    * already-listed path set; a file whose footer cannot be read yields
    * no row. */
  private[lake] def footerRowCounts(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val rows = StatsAgg.readFooters(spark, paths, Nil).flatMap {
      case (p, Right(f)) => Some(Row(p, f.rows))
      case _ => None
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("filepath", StringType, nullable = false),
      StructField("_footer_rows", LongType, nullable = false))))
  }

  /** Harvest per-file min/max from Parquet FOOTERS only — no data bytes
    * read. This is the reference's real mechanism
    * (lakeshack/metastore.py:278-339): fold row-group stats across each
    * file (min of mins, max of maxes, metastore.py:321-335) under
    * [[StatsAgg.readFooters]]' completeness rule — a column whose
    * bounds some row group leaves unknown gets NULL bounds (never
    * pruned on it). At 100 TB this reads ~KBs per file; the path list
    * is distributed across executors, replacing the reference's
    * 16-thread pool (metastore.py:385) with cluster task parallelism.
    */
  def buildFromFooters(spark: SparkSession, dataPath: String, clusterColumn: String,
                       optionalColumns: Seq[String] = Nil,
                       onlyPaths: Seq[String] = Nil): DataFrame = {
    // see build's evolution note — late-added columns must resolve; a
    // file whose footer lacks the column contributes NULL bounds below
    val dataSchema = evolvedRead(spark, dataPath, clusterColumn +: optionalColumns).schema
    val cols = statColumns(dataSchema, clusterColumn, optionalColumns)
    val outSchema = StructType(
      StructField("filepath", StringType, nullable = false) +:
      cols.flatMap { c =>
        val dt = dataSchema(c).dataType
        Seq(StructField(c + "_min", dt), StructField(c + "_max", dt))
      })

    // `onlyPaths`: incremental-maintenance callers (an append that just
    // produced a known set of new files) pass the new files explicitly —
    // footers of the existing N files are NOT re-read per batch, which is
    // the difference between O(batch) and O(table) stats upkeep. Schema
    // inference above still samples the whole table so stat columns and
    // types agree with a full rebuild.
    val paths = if (onlyPaths.nonEmpty) onlyPaths else listParquetFiles(spark, dataPath)
    val rows = StatsAgg.readFooters(spark, paths, cols.map(c => c -> dataSchema(c).dataType)).flatMap {
      case (p, Right(f)) =>
        Some(Row.fromSeq(p +: f.columns.flatMap { case (_, mn, mx) => Seq(mn.orNull, mx.orNull) }))
      // Per-file error tolerance (reference metastore.py:304-305,
      // 394-397 logs-and-skips): the file then has no stats row; unknown
      // files are never pruned, so queries stay sound (weaker pruning only).
      case (p, Left(why)) =>
        org.slf4j.LoggerFactory.getLogger("graft.lake.Metastore")
          .warn(s"skipping unreadable parquet file during stats harvest: $p ($why)")
        None
    }
    spark.createDataFrame(rows, outSchema)
  }

  /** Parquet footer-statistics value → Spark EXTERNAL value for the
    * given Spark type (`prim` = the column's parquet primitive type,
    * needed to resolve the timestamp unit; may be null for
    * non-temporal columns). Applied by [[StatsAgg.readFooters]], so
    * every footer builder agrees bit-for-bit with what the normal
    * parquet reader produces. */
  private[lake] def footerExternal(
      dt: DataType, prim: org.apache.parquet.schema.PrimitiveType, v: Any): Any = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
    if (v == null) return null
    dt match {
      case StringType =>
        new String(v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
          java.nio.charset.StandardCharsets.UTF_8)
      case TimestampType | TimestampNTZType =>
        val micros = prim.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit match {
            case TimeUnit.MILLIS => v.asInstanceOf[Long] * 1000L
            case TimeUnit.MICROS => v.asInstanceOf[Long]
            case TimeUnit.NANOS  => Math.floorDiv(v.asInstanceOf[Long], 1000L)
          }
          case _ => v.asInstanceOf[Long]
        }
        if (dt == TimestampType)
          java.time.Instant.EPOCH.plus(micros, java.time.temporal.ChronoUnit.MICROS)
        else
          java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(micros, 1000000L),
            (Math.floorMod(micros, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC)
      case DateType => java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong)
      // Parquet footer stats surface INT(8/16/32)-annotated columns as
      // java.lang.Integer; narrow to the Row's declared external type
      // or createDataFrame rejects it
      case ShortType => v.asInstanceOf[Number].shortValue()
      case ByteType => v.asInstanceOf[Number].byteValue()
      case IntegerType => v.asInstanceOf[Number].intValue()
      case LongType => v.asInstanceOf[Number].longValue()
      case _ => v // float/double physical == external
    }
  }

  /** Stats-soundness audit: cross-checks a stored stats table (from
    * EITHER builder) against a fresh scan recomputation, one verdict per
    * (file, column):
    *
    *   - `exact`          stored bounds equal the scanned bounds — the
    *                      healthy state for both builders;
    *   - `over_covering`  stored interval strictly contains the data's —
    *                      SOUND (never prunes a matching file), merely
    *                      weaker pruning;
    *   - `under_covering` stored interval MISSES data the file holds —
    *                      UNSOUND: a query for the missed value prunes
    *                      the file and silently drops rows. The audit
    *                      exists to catch exactly this;
    *   - `no_bounds`      stored bounds NULL while the file has values
    *                      (e.g. schema-evolution stats built before the
    *                      column existed) — sound, never pruned on it;
    *   - `missing_stats`  file present in the table but absent from the
    *                      stats — sound (unknown files are never
    *                      pruned), weaker pruning;
    *   - `orphan_stats`   stats row for a file the scan no longer sees —
    *                      stale entry (deleted/compacted file), prune
    *                      lists carry dead paths.
    *
    * Cost: one full data scan (the recomputation) + a stats-sized join —
    * this is the MAINTENANCE op a lake runs after incidents or on a
    * sampled-file schedule, not per query. At 100 TB, pass a
    * subdirectory (partition) as `dataPath` to audit incrementally; the
    * join side is 1 row/file either way. Scan-side soundness guard
    * applies (partially-read files simply drop out → `orphan_stats`,
    * surfacing them rather than trusting a partial recomputation).
    */
  def auditStats(spark: SparkSession, dataPath: String, stats: DataFrame): DataFrame = {
    val cols = stats.schema.fieldNames.toSeq
      .filter(_.endsWith("_min")).map(_.stripSuffix("_min"))
    require(cols.nonEmpty, s"not a stats table: ${stats.schema.simpleString}")
    val actual = build(spark, dataPath, cols.head, cols.tail)
    val stored = cols.foldLeft(stats.select(col("filepath") +:
        cols.flatMap(c => Seq(col(c + "_min"), col(c + "_max"))): _*)) {
      (df, c) => df.withColumnRenamed(c + "_min", c + "_smin")
        .withColumnRenamed(c + "_max", c + "_smax")
    }.withColumn("_in_stored", lit(true))
    val joined = stored.join(
      actual.withColumn("_in_actual", lit(true)), Seq("filepath"), "full_outer")
    // ONE pass: per-column verdicts ride an exploded struct array — a
    // union of per-column selects would re-execute the scan per column
    val entries = array(cols.map { c =>
      val (smin, smax) = (col(c + "_smin"), col(c + "_smax"))
      val (amin, amax) = (col(c + "_min"), col(c + "_max"))
      val verdict = when(col("_in_stored").isNull, lit("missing_stats"))
        .when(col("_in_actual").isNull, lit("orphan_stats"))
        .when(smin.isNull || smax.isNull,
          when(amin.isNull, lit("exact")).otherwise(lit("no_bounds")))
        .when(amin.isNull, lit("over_covering")) // bounds stored, file has only nulls
        .when(smin > amin || smax < amax, lit("under_covering"))
        .when(smin === amin && smax === amax, lit("exact"))
        .otherwise(lit("over_covering"))
      struct(lit(c).as("column"), verdict.as("verdict"),
        smin.cast("string").as("stored_min"), smax.cast("string").as("stored_max"),
        amin.cast("string").as("actual_min"), amax.cast("string").as("actual_max"))
    }: _*)
    joined.select(col("filepath"), explode(entries).as("e"))
      .select(col("filepath"), col("e.column").as("column"), col("e.verdict").as("verdict"),
        col("e.stored_min").as("stored_min"), col("e.stored_max").as("stored_max"),
        col("e.actual_min").as("actual_min"), col("e.actual_max").as("actual_max"))
  }

  /** Idempotent upsert: keep only stats rows whose filepath is not already
    * present (reference O12 — literally a left anti join,
    * metastore.py:245-260), then append.
    */
  def update(spark: SparkSession, statsPath: String, newStats: DataFrame): Unit = {
    recoverIfNeeded(spark, statsPath)
    val fresh =
      if (exists(spark, statsPath)) {
        val old = spark.read.parquet(statsPath)
        requireSameStatsSchema(old, newStats)
        newStats.join(old.select("filepath"), Seq("filepath"), "left_anti")
      } else newStats
    fresh.write.mode("append").parquet(statsPath)
  }

  /** Shared by both stores (parquet + JDBC): a stats write must match
    * the existing table column-for-column, type-for-type. */
  private[lake] def requireSameStatsSchema(old: DataFrame, newStats: DataFrame): Unit =
    require(old.schema.map(f => (f.name, f.dataType)) == newStats.schema.map(f => (f.name, f.dataType)),
      s"Metastore schema mismatch: existing ${old.schema.simpleString} vs new ${newStats.schema.simpleString}")

  /** Fully qualified (scheme + authority) form of a directory prefix:
    * stored filepaths are qualified URIs like file:/x, and a bare /x
    * prefix would match nothing. Shared by both stores. */
  private[lake] def qualifiedPrefix(spark: SparkSession, dirPrefix: String): String = {
    val p = new org.apache.hadoop.fs.Path(dirPrefix)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  /** Replace all stats rows under a directory prefix with fresh ones —
    * the retry-safe upsert for rewritten immutable batches: a replayed
    * `mode("overwrite")` write produces NEW part-file names (Spark
    * embeds a fresh job UUID), so the plain left-anti `update` would
    * keep stale rows pointing at deleted files. Stats are tiny (one row
    * per file), so the merge is collected to the driver before the
    * overwrite — never read-and-overwrite the same path lazily.
    *
    * The rewrite commits via temp-dir-then-rename (write `<path>.tmp`,
    * swing the live dir to `<path>.bak`, rename tmp in, drop bak), so a
    * crash at any point leaves either the old or the new table
    * recoverable — `recoverIfNeeded` (run by `load`/`update`/this) rolls
    * the protocol forward or back. The reference inherits this from its
    * RDBMS transaction (metastore.py:261-267); a parquet-backed store
    * has to stage it. SINGLE-WRITER contract: like the file-append
    * `update`, concurrent writers are not coordinated — run stats
    * maintenance from one job (or point the store at a JDBC database). */
  def replaceUnderPrefix(spark: SparkSession, statsPath: String,
                         dirPrefix: String, newStats: DataFrame): Unit = {
    recoverIfNeeded(spark, statsPath)
    if (!exists(spark, statsPath)) {
      newStats.write.mode("append").parquet(statsPath)
      return
    }
    val norm = qualifiedPrefix(spark, dirPrefix)
    val old = spark.read.parquet(statsPath)
    requireSameStatsSchema(old, newStats)
    val merged = old.where(!col("filepath").startsWith(norm + "/"))
      .unionByName(newStats)
    val rows = new java.util.ArrayList[Row]()
    merged.collect().foreach(rows.add)

    val live = new org.apache.hadoop.fs.Path(statsPath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swap = new SwapProtocol(fs, live, ".tmp", ".bak")
    swap.clearTmp()
    spark.createDataFrame(rows, merged.schema)
      .coalesce(1).write.mode("overwrite").parquet(swap.tmp.toString)
    // each rename inside commit() is atomic on HDFS/POSIX;
    // recoverIfNeeded covers the gaps between them
    swap.commit()
    swap.dropBak()
  }

  /** Replace the stats rows of an explicit FILE SET with fresh rows —
    * the row-level sibling of `replaceUnderPrefix`, for maintenance that
    * rewrites a subset of a table's files in place (Merge): the removed
    * files' rows are dropped, the new files' rows appended, in one
    * atomic swap of the stats table. Same crash contract as
    * `replaceUnderPrefix` (SwapProtocol + recoverIfNeeded); same
    * single-writer rule. */
  def replaceFiles(spark: SparkSession, statsPath: String,
                   removedFiles: Seq[String], newStats: DataFrame): Unit = {
    recoverIfNeeded(spark, statsPath)
    if (!exists(spark, statsPath)) {
      newStats.write.mode("append").parquet(statsPath)
      return
    }
    val old = spark.read.parquet(statsPath)
    requireSameStatsSchema(old, newStats)
    // Path-normalize both sides so "file:///x" and "file:/x" agree
    val removed = removedFiles.map(p => new org.apache.hadoop.fs.Path(p).toString).toSet
    val keep = old.collect().filterNot(r =>
      removed.contains(new org.apache.hadoop.fs.Path(r.getString(0)).toString))
    val rows = new java.util.ArrayList[Row]()
    keep.foreach(rows.add)
    newStats.collect().foreach(rows.add)

    val live = new org.apache.hadoop.fs.Path(statsPath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swap = new SwapProtocol(fs, live, ".tmp", ".bak")
    swap.clearTmp()
    spark.createDataFrame(rows, old.schema)
      .coalesce(1).write.mode("overwrite").parquet(swap.tmp.toString)
    swap.commit()
    swap.dropBak()
  }

  /** Roll an interrupted `replaceUnderPrefix` commit forward or back
    * (see `SwapProtocol.recover`; a stats table has no post-commit work
    * beyond dropping the bak). Idempotent and cheap (three existence
    * checks); `load`, `update` and `replaceUnderPrefix` run it first so
    * a crashed writer never leaves readers without a table. */
  def recoverIfNeeded(spark: SparkSession, statsPath: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(statsPath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swap = new SwapProtocol(fs, live, ".tmp", ".bak")
    if (swap.recover()) swap.dropBak()
  }

  /** Load + shape-check an existing stats table. For the strict
    * column-by-column check against the data schema (reference O14),
    * use `loadValidated`. */
  def load(spark: SparkSession, statsPath: String): DataFrame = {
    recoverIfNeeded(spark, statsPath)
    val df = spark.read.parquet(statsPath)
    require(df.schema.fieldNames.headOption.contains("filepath") &&
      df.schema.fieldNames.exists(_.endsWith("_min")),
      s"Not a metastore stats table: ${df.schema.simpleString}")
    df
  }

  /** Strict reflection/validation (reference O14, metastore.py:128-204):
    * the stats schema must carry `filepath` plus `<col>_min`/`<col>_max`
    * for EXACTLY the columns this (schema, cluster, optional) spec would
    * index, each with the data column's type — so a stats table built
    * for a different table, a dropped/renamed column, or a type-drifted
    * column is rejected with the offending column named, instead of
    * silently pruning garbage. The cluster column must be the first stat
    * column (the name-recovery rule, metastore.py:117-126). */
  def validate(stats: StructType, dataSchema: StructType, clusterColumn: String,
               optionalColumns: Seq[String] = Nil): Unit = {
    val cols = statColumns(dataSchema, clusterColumn, optionalColumns)
    val expected = "filepath" +: cols.flatMap(c => Seq(c + "_min", c + "_max"))
    val actual = stats.fieldNames.toSeq
    require(actual.headOption.contains("filepath"),
      s"Not a metastore stats table: first column must be 'filepath', got ${actual.headOption.getOrElse("<empty>")}")
    val missing = expected.filterNot(actual.contains)
    require(missing.isEmpty,
      s"Stats table is missing columns ${missing.mkString(", ")} — built for a different table or column set?")
    val extra = actual.filterNot(expected.contains)
    require(extra.isEmpty,
      s"Stats table has unexpected columns ${extra.mkString(", ")} — built for a different table or column set?")
    require(actual.find(_.endsWith("_min")).contains(clusterColumn + "_min"),
      s"Stats table's first stat column is ${actual.find(_.endsWith("_min")).getOrElse("<none>")}, " +
        s"expected ${clusterColumn}_min — cluster column mismatch")
    cols.foreach { c =>
      val want = dataSchema(c).dataType
      Seq(c + "_min", c + "_max").foreach { sc =>
        val got = stats(sc).dataType
        require(got == want,
          s"Stats column '$sc' has type ${got.simpleString} but data column '$c' is ${want.simpleString} — type drift")
      }
    }
  }

  /** Load an existing stats table and validate it column-by-column
    * against the data table it claims to index (reference O14). */
  def loadValidated(spark: SparkSession, statsPath: String, dataSchema: StructType,
                    clusterColumn: String, optionalColumns: Seq[String] = Nil): DataFrame = {
    val df = load(spark, statsPath)
    validate(df.schema, dataSchema, clusterColumn, optionalColumns)
    df
  }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
  }

  /** Cluster column recovered from column order (first `_min` column),
    * mirroring the reference's name-recovery (metastore.py:117-126). */
  def clusterColumnOf(stats: DataFrame): String =
    stats.schema.fieldNames.find(_.endsWith("_min"))
      .map(_.dropRight(4))
      .getOrElse(throw new IllegalArgumentException("Not a metastore stats table: no *_min column"))

  /** Surviving file list for a query (reference O8, metastore.py:414-481):
    * collect the stats into a [[ZoneMap]] and run the kernel
    * `Lakeshack.query` uses, so the API and the engine share one prune
    * semantics. Pruning the same stats repeatedly? Hold the `ZoneMap`. */
  def prune(spark: SparkSession, stats: DataFrame, values: Seq[Any],
            clauses: Seq[Clause] = Nil): Seq[String] =
    ZoneMap(stats).prune(values, clauses)
}
