package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnPath, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Aggregation pushdown into footer statistics: answer
  * `COUNT(*) / MIN(c) / MAX(c)` under a range predicate on `c` from
  * parquet footers alone for every file the range fully covers, and
  * scan ONLY the boundary files. On a clustered table (the lake's
  * native layout, [[ClusteredWriter]]) a range predicate fully covers
  * all interior files, so the answer costs a footer sweep plus a scan
  * of ~2 files — at 100 TB that is metadata-latency for the
  * dominant "how many rows in this key range" maintenance query the
  * reference answers with a full S3-Select sweep
  * (lakeshack/lakeshack.py builds per-file SELECTs for every query
  * shape, including pure aggregates).
  *
  * SOUNDNESS RULES (same may-contain discipline as [[Metastore]]):
  *  - a file is `covered` only when its footer interval lies INSIDE
  *    [lo, hi] AND its null count for `c` is footer-declared — covered
  *    contributions are `rows − nulls` (a range predicate never matches
  *    NULL) and the footer min/max themselves (exact for the
  *    numeric/temporal types admitted below; rows outside stats can't
  *    exist in a covered file);
  *  - a file with stats straddling the bound, or with ANY block whose
  *    statistics are absent/incomplete, or whose footer is unreadable,
  *    is `scanned` — never guessed;
  *  - a file whose interval is disjoint from [lo, hi] is `skipped`
  *    (zone-map semantics; NULL rows match no range predicate);
  *  - STRING columns are never answered from footers: parquet writers
  *    may truncate binary statistics, which keeps them sound for
  *    may-contain pruning but NOT for exact min/max answers — string
  *    ranges take the scan path for every overlapping file.
  *
  * The per-file classification is driver-held, one entry per file —
  * the same size class as the pruning interval map. The footer sweep
  * itself is distributed: [[readFooters]], the one reader behind every
  * footer-stats builder.
  */
object StatsAgg {

  /** Per-file footer facts for one column, under [[readFooters]]'
    * completeness rule: `nulls` is None when some row group declares no
    * null count; `min`/`max` are None when the bounds are unknown or the
    * column is all null ([[boundsKnown]] tells the two apart). A file
    * without both can only be scanned. */
  final case class FileStats(path: String, rows: Long, nulls: Option[Long],
                             min: Option[Any], max: Option[Any]) {
    /** `min`/`max` are exact bounds: present, or absent because every row is null. */
    private[lake] def boundsKnown: Boolean = min.isDefined || nulls.contains(rows)
  }

  /** The classification a range aggregate will execute: `covered`
    * answered from footers, `scanned` read with the predicate pushed
    * down, `skipped` not touched at all. Exposed (not just internal)
    * so specs and telemetry can pin WHAT a query cost, the same way
    * `QueryTelemetry` pins pruned file counts. */
  final case class Plan(covered: Seq[FileStats], scanned: Seq[String],
                        skipped: Seq[String])

  /** One readable footer: the file's row count and, per requested
    * column in request order, `(nulls, min, max)` — see [[readFooters]]. */
  private[lake] final case class Footer(rows: Long,
                                        columns: Seq[(Option[Long], Option[Any], Option[Any])])

  /** The footer sweep every stats builder shares ([[harvest]],
    * [[Metastore.buildFromFooters]], [[Metastore.footerRowCounts]]):
    * each listed file's footer is read once, on the executors, and
    * folded across its row groups (reference metastore.py:278-339).
    * Per file: `Right(footer)`, or `Left(reason)` when the footer is
    * unreadable — per-file error tolerance (reference
    * metastore.py:304-305); each caller keeps its own policy for it.
    *
    * The one completeness rule (may-contain: a bound may be missing,
    * never too narrow):
    *  - bounds are known only when every row group holds the column and
    *    each row group either carries min/max or is all-null by its
    *    declared null count. parquet-mr leaves min/max out of a row
    *    group whose values exceed 4 KiB, so folding only the row groups
    *    that carry them would miss values the file holds;
    *  - the null count is known only when every row group declares one;
    *  - the two are independent: `(Some(n), None, None)` with `n < rows`
    *    means "bounds unknown", not "all null".
    * Bounds are Spark external values of the requested types
    * ([[Metastore.footerExternal]]). */
  private[lake] def readFooters(spark: SparkSession, paths: Seq[String],
                                columns: Seq[(String, DataType)]): RDD[(String, Either[String, Footer])] = {
    val confB = spark.sparkContext.broadcast(Metastore.hadoopConfKVs(spark))
    spark.sparkContext
      .parallelize(paths, math.max(1, math.min(paths.size, spark.sparkContext.defaultParallelism)))
      .map { p =>
        val conf = new Configuration(false)
        confB.value.foreach { case (k, v) => conf.set(k, v) }
        p -> (try {
          val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(p), conf))
          try Right(fold(reader.getFooter, columns)) finally reader.close()
        } catch { case e: Exception => Left(e.toString) })
      }
  }

  private def fold(md: ParquetMetadata, columns: Seq[(String, DataType)]): Footer = {
    val at = columns.map(_._1).zipWithIndex.map { case (c, i) => ColumnPath.get(c) -> i }.toMap
    val n = columns.size
    val nulls = new Array[Long](n)
    val mins, maxs = new Array[Any](n)
    val nullsKnown, boundsKnown = Array.fill(n)(true)
    var rows = 0L
    md.getBlocks.forEach { block =>
      rows += block.getRowCount
      val seen = new Array[Boolean](n)
      block.getColumns.forEach { cc =>
        at.get(cc.getPath).foreach { i =>
          seen(i) = true
          val st = cc.getStatistics
          val declared = st != null && st.isNumNullsSet
          if (declared) nulls(i) += st.getNumNulls else nullsKnown(i) = false
          if (st != null && st.hasNonNullValue) {
            val ord = st.comparator().asInstanceOf[java.util.Comparator[Any]]
            if (mins(i) == null || ord.compare(st.genericGetMin, mins(i)) < 0) mins(i) = st.genericGetMin
            if (maxs(i) == null || ord.compare(st.genericGetMax, maxs(i)) > 0) maxs(i) = st.genericGetMax
          } else if (!declared || st.getNumNulls != block.getRowCount) boundsKnown(i) = false
        }
      }
      for (i <- 0 until n if !seen(i)) { boundsKnown(i) = false; nullsKnown(i) = false }
    }
    val prims = md.getFileMetaData.getSchema.getFields.asScala
      .collect { case f if f.isPrimitive => f.getName -> f.asPrimitiveType() }.toMap
    Footer(rows, columns.zipWithIndex.map { case ((c, dt), i) =>
      def bound(v: Any) =
        if (boundsKnown(i)) Option(Metastore.footerExternal(dt, prims.getOrElse(c, null), v)) else None
      (if (nullsKnown(i)) Some(nulls(i)) else None, bound(mins(i)), bound(maxs(i)))
    })
  }

  /** Footer stats of one column for every listed file, collected. An
    * unreadable footer yields the `rows = -1` sentinel with no stats
    * (scan class) instead of failing the sweep. */
  def harvest(spark: SparkSession, paths: Seq[String], column: String,
              dt: DataType): Seq[FileStats] =
    readFooters(spark, paths, Seq(column -> dt)).map {
      case (p, Right(f)) =>
        val (nulls, mn, mx) = f.columns.head
        FileStats(p, f.rows, nulls, mn, mx)
      case (p, Left(_)) => FileStats(p, -1L, None, None, None)
    }.collect().toSeq

  /** True iff any of `sorted` (ascending under [[cmp]]) falls in
    * [mn, mx] — binary search for the first key ≥ mn, then one compare
    * against mx. O(log keys) per file where the naive exists-scan was
    * O(keys). */
  private[lake] def anyKeyInRange(sorted: Array[Any], mn: Any, mx: Any): Boolean = {
    var lo = 0; var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cmp(sorted(mid), mn) < 0) lo = mid + 1 else hi = mid
    }
    lo < sorted.length && cmp(sorted(lo), mx) <= 0
  }

  /** Total-order comparison of two external values of one column type.
    * Numbers go through BigDecimal (footer externals and caller
    * literals may box differently — Integer vs Long); temporal types
    * are mutually Comparable within their class. */
  private[lake] def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Number, y: Number) =>
      new java.math.BigDecimal(x.toString).compareTo(new java.math.BigDecimal(y.toString))
    case (x: java.time.Instant, y: java.time.Instant) => x.compareTo(y)
    case (x: java.time.LocalDateTime, y: java.time.LocalDateTime) => x.compareTo(y)
    case (x: java.time.LocalDate, y: java.time.LocalDate) => x.compareTo(y)
    case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
  }

  /** Classify every file of `dataPath` for `column BETWEEN lo AND hi`.
    * String columns (and files with incomplete stats) are never
    * `covered` — see the soundness rules above. */
  def plan(spark: SparkSession, dataPath: String, column: String,
           lo: Any, hi: Any): Plan = {
    val df = spark.read.parquet(dataPath)
    planFiles(spark, df.inputFiles.toSeq.map(p => new Path(p).toString),
      df.schema(column).dataType, column, lo, hi)
  }

  /** Explicit-file-set form of [[plan]] — what a versioned table uses:
    * pass a [[SnapshotLog]] snapshot's live files and the stats-only
    * aggregate works on THAT version, untouched by later commits. */
  def planFiles(spark: SparkSession, files: Seq[String], dt: DataType,
                column: String, lo: Any, hi: Any): Plan = {
    require(cmp(lo, hi) <= 0, s"empty range: lo > hi")
    val stats = harvest(spark, files, column, dt)
    val stringCol = dt == StringType
    val covered = Seq.newBuilder[FileStats]
    val scanned = Seq.newBuilder[String]
    val skipped = Seq.newBuilder[String]
    for (fsRow <- stats) fsRow match {
      case FileStats(p, _, Some(_), Some(mn), Some(mx)) =>
        if (cmp(mx, lo) < 0 || cmp(mn, hi) > 0) skipped += p // disjoint: no row can match
        else if (!stringCol && cmp(mn, lo) >= 0 && cmp(mx, hi) <= 0) covered += fsRow
        else scanned += p
      case FileStats(p, _, None, Some(mn), Some(mx)) =>
        // bounds known but null count not: can still SKIP disjoint files
        if (cmp(mx, lo) < 0 || cmp(mn, hi) > 0) skipped += p else scanned += p
      case FileStats(p, rows, Some(nulls), None, None) if nulls == rows =>
        skipped += p // every row NULL: a range predicate matches none
      case FileStats(p, _, _, _, _) => scanned += p // stats-less: must read
    }
    Plan(covered.result(), scanned.result(), skipped.result())
  }

  /** `SELECT count(*), min(column), max(column) WHERE column BETWEEN
    * lo AND hi`, answered from footers for covered files + one pushed
    * scan over boundary files. Returns one row
    * (`n_rows` BIGINT, `min_v`, `max_v` in the column's type); an
    * empty range yields (0, NULL, NULL) — same as the SQL aggregate. */
  def rangeAgg(spark: SparkSession, dataPath: String, column: String,
               lo: Any, hi: Any): DataFrame = {
    val df = spark.read.parquet(dataPath)
    rangeAggFiles(spark, df.inputFiles.toSeq.map(p => new Path(p).toString),
      df.schema, column, lo, hi)
  }

  /** Explicit-file-set form of [[rangeAgg]] (snapshot/time-travel
    * composition — see [[planFiles]]). */
  def rangeAggFiles(spark: SparkSession, files: Seq[String],
                    schema: StructType, column: String,
                    lo: Any, hi: Any): DataFrame = {
    val dt = schema(column).dataType
    val p = planFiles(spark, files, dt, column, lo, hi)
    val partSchema = StructType(Seq(
      StructField("n_rows", LongType, nullable = false),
      StructField("min_v", dt, nullable = true),
      StructField("max_v", dt, nullable = true)))
    // covered files: footer facts AS the partial aggregates (rows−nulls
    // qualify: every non-null row of a covered file is inside [lo,hi])
    val coveredRows = p.covered.map(f =>
      Row(f.rows - f.nulls.get, f.min.get, f.max.get))
    val coveredDf = spark.createDataFrame(
      spark.sparkContext.parallelize(coveredRows, 1), partSchema)
    val parts =
      if (p.scanned.isEmpty) coveredDf
      else {
        val scanDf = spark.read.schema(schema)
          .parquet(p.scanned: _*)
          .where(col(column).between(lit(lo), lit(hi)))
          .agg(count(lit(1)).as("n_rows"),
            min(col(column)).as("min_v"), max(col(column)).as("max_v"))
        coveredDf.unionByName(scanDf)
      }
    parts.agg(
      coalesce(sum(col("n_rows")), lit(0L)).as("n_rows"),
      min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
  }

  /** `SELECT count(*)` for the whole table from footers alone — zero
    * data bytes. Files whose footer is unreadable fail the call
    * (an unknown count is not a count; repair the file or scan). */
  def tableRowCount(spark: SparkSession, dataPath: String): Long = {
    val files = spark.read.parquet(dataPath).inputFiles.toSeq.map(p => new Path(p).toString)
    // block row counts only — independent of any column's statistics
    val counted = Metastore.footerRowCounts(spark, files)
      .agg(count(lit(1)), coalesce(sum(col("_footer_rows")), lit(0L))).head()
    require(counted.getLong(0) == files.size,
      s"${files.size - counted.getLong(0)} file(s) with unreadable footers; cannot count")
    counted.getLong(1)
  }
}
