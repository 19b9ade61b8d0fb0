package graft.lake

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.execution.datasources.PartitionDirectory
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Per-file Bloom filters — the point-lookup complement to the zone
  * maps. A [min,max] interval prunes nothing for a HIGH-CARDINALITY
  * column the table is NOT clustered by (every file's range spans the
  * whole domain); a Bloom filter answers "does file F contain value v"
  * probabilistically with ~10 bits per distinct value, so an
  * unclustered point lookup at 100 TB goes from "scan every file" to
  * "scan the files that really contain the value, plus fpp false
  * positives". The reference has nothing comparable (its pruning is
  * min/max only, metastore.py:414-481); this is the standard lakehouse
  * answer (Parquet bloom headers, Delta/Iceberg file-level blooms)
  * rebuilt on the stats-table model.
  *
  * Representation: one row per file, the filter as a SPARSE
  * `map<int,long>` of 64-bit words (absent word = all zero) — parquet-
  * friendly, no opaque binary blob, no driver-side build. The whole
  * build is DataFrame aggregates: explode k positions per row,
  * `bit_or` the masks per (file, word) — partial aggregation collapses
  * duplicates map-side — then one `map_from_entries` per file. Nothing
  * but (file, word, bits) rows ever shuffles.
  *
  * Probing needs NO custom expression and NO driver-side hashing: a
  * probe value is a literal, so its k (word, mask) pairs are
  * constant-folded by Catalyst, and the per-file test is codegen'd
  * `element_at` + bit ops over the map column.
  *
  * NULLs are not indexed (SQL `= NULL` never matches); files whose
  * indexed column is entirely null simply have empty filters and are
  * pruned for every probe.
  */
object BloomIndex {

  /** `1 << bits` with a COLUMN shift amount — the functions API only
    * takes a constant Int shift, so bridge to the Catalyst expression
    * (codegen'd either way). */
  private def shl1(bits: Column): Column =
    GraftColumnBridge.column(org.apache.spark.sql.catalyst.expressions.ShiftLeft(
      GraftColumnBridge.expression(lit(1L)), GraftColumnBridge.expression(bits)))

  /** Optimal bit count for n items at the target false-positive rate:
    * m = -n·ln(fpp)/ln(2)². */
  def optimalBits(expectedItemsPerFile: Long, fpp: Double): Int = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val ln2 = math.log(2.0)
    math.max(64, math.ceil(-expectedItemsPerFile * math.log(fpp) / (ln2 * ln2)).toInt)
  }

  /** Optimal hash count: k = m/n·ln(2). */
  def optimalHashes(bits: Int, expectedItemsPerFile: Long): Int =
    math.min(8, math.max(1,
      math.round(bits.toDouble / math.max(expectedItemsPerFile, 1L) * math.log(2.0)).toInt))

  /** Position i of value-column `v` in an m-bit filter: an independent
    * seeded hash per position (xxhash64 with the position index as a
    * leading seed column) — no multiply, so the arithmetic can never
    * overflow (ANSI-safe), unlike the classic h1 + i·h2 double-hashing
    * form. */
  private def position(i: Int, v: Column, m: Int): Column =
    pmod(xxhash64(lit(i), v), lit(m.toLong))

  /** True iff every one of the k positions of literal `value` is set in
    * the file's word map. All position arithmetic on a literal folds to
    * constants at plan time. */
  private def mightContain(bloom: Column, value: Column, m: Int, k: Int): Column =
    (0 until k).map { i =>
      val pos = position(i, value, m)
      val word = (pos / 64).cast("int")
      val mask = shl1(pos % 64)
      coalesce(element_at(bloom, word), lit(0L)).bitwiseAND(mask) === mask
    }.reduce(_ && _)

  /** Build the per-file filter table for `column`:
    * `(filepath, colname, coltype, m, k, n_values, bloom)`. m and k are
    * UNIFORM across files (sized from `expectedItemsPerFile`/`fpp`) so
    * probes are plan-time constants. Persist with plain
    * `.write.parquet(...)` next to the stats table; rebuild rows for
    * rewritten files exactly like stats rows (`Metastore.replaceFiles`
    * semantics apply — a Bloom row is stale the moment its file is).
    *
    * Sizing: ~1.2 MB per file at 1M distinct values and 1% fpp — KBs at
    * typical file sizes; the build shuffles only (file, word, bits). */
  def build(spark: SparkSession, dataPath: String, column: String,
            expectedItemsPerFile: Long, fpp: Double = 0.01): DataFrame =
    buildFrom(spark.read.option("recursiveFileLookup", "true").parquet(dataPath),
      column, expectedItemsPerFile, fpp)

  /** [[build]] over an explicit relation — the form a snapshot table
    * uses to index exactly one version's LIVE files instead of a whole
    * directory (the pool also holds dead and staged files). */
  def buildFrom(data: DataFrame, column: String,
                expectedItemsPerFile: Long, fpp: Double = 0.01): DataFrame = {
    val m = optimalBits(expectedItemsPerFile, fpp)
    val k = optimalHashes(m, expectedItemsPerFile)
    buildFromWith(data, column, m, k)
  }

  /** [[buildFrom]] with EXPLICIT filter geometry — the incremental-
    * maintenance form ([[SnapshotLog]]'s commit-time delta builds):
    * delta rows must carry the SAME (m, k) as the sidecar they join,
    * or probe positions computed against one geometry would be tested
    * against the other's bit layout. */
  def buildFromWith(data: DataFrame, column: String, m: Int, k: Int): DataFrame = {
    require(m >= 64 && k >= 1 && k <= 8, s"bad bloom geometry (m=$m, k=$k)")
    require(data.columns.contains(column), s"no column '$column' in the input")
    val colType = data.schema(column).dataType
    val rows = data
      .select(col("_metadata.file_path").as("filepath"), col(column).as("_v"))
      .where(col("_v").isNotNull)
      .select(col("filepath"), explode(array((0 until k).map { i =>
        val pos = position(i, col("_v"), m)
        struct((pos / 64).cast("int").as("word"), shl1(pos % 64).as("mask"))
      }: _*)).as("wm"))
      .groupBy(col("filepath"), col("wm.word").as("word"))
      .agg(bit_or(col("wm.mask")).as("bits"))
    rows.groupBy("filepath")
      .agg(map_from_entries(sort_array(collect_list(struct(col("word"), col("bits")))))
        .as("bloom"))
      .select(
        // normalize to Hadoop-Path form so filepaths join against stats
        // rows and FileStatus paths (file:///x vs file:/x)
        Metastore.normalizePathCol(col("filepath")).as("filepath"),
        lit(column).as("colname"), lit(colType.json).as("coltype"),
        lit(m).as("m"), lit(k).as("k"), col("bloom"))
  }

  /** Files that may contain ANY of `values` — the Bloom analogue of
    * `Metastore.prune` (may-contain: false positives possible, false
    * negatives impossible for values that were indexed). Runs as one
    * tiny distributed filter over the filter table; the k·|values|
    * probe positions are constant-folded, and the filters themselves
    * never leave the executors. */
  def prune(bloomStats: DataFrame, values: Seq[Any]): Seq[String] = {
    if (values.isEmpty) return Nil
    val headRows = bloomStats.select("colname", "coltype", "m", "k").head(1)
    if (headRows.isEmpty) return Nil // nothing indexed → nothing to assert
    val head = headRows.head
    val colType = DataType.fromJson(head.getString(1))
    val m = head.getInt(2); val k = head.getInt(3)
    val pred = values.map { v =>
      mightContain(col("bloom"), lit(v).cast(colType), m, k)
    }.reduce(_ || _)
    bloomStats.where(pred).select("filepath").collect().map(_.getString(0)).toSeq
  }

  /** Files whose membership answer for ANY of `values` is "maybe":
    * Bloom survivors PLUS every file the Bloom table does not index —
    * an unknown file must never be pruned (the exact rule the zone-map
    * path applies to files missing from the stats table). This is the
    * form to INTERSECT with other prunes: a stale Bloom table — a file
    * written after the index build — costs a false positive, never a
    * lost row. (`prune` alone returns only indexed survivors: correct
    * for a table whose files all carry index rows, e.g. right after a
    * build.) */
  def mayContainFiles(bloomStats: DataFrame, values: Seq[Any],
                      candidates: Seq[String]): Seq[String] =
    mayContainFilesStats(bloomStats, values, candidates)._1

  /** [[mayContainFiles]] + STALENESS TELEMETRY: also returns how many
    * candidates the sidecar does not index at all — each one survives
    * unpruned (sound) and pays its scan on every probe, so a growing
    * unindexed count is the signal that sidecar maintenance stopped
    * keeping up with ingest. */
  def mayContainFilesStats(bloomStats: DataFrame, values: Seq[Any],
                           candidates: Seq[String]): (Seq[String], Int) = {
    val indexed = bloomStats.select("filepath").collect().map(_.getString(0)).toSet
    val hit = prune(bloomStats, values).toSet
    (candidates.filter(f => !indexed.contains(f) || hit.contains(f)),
      candidates.count(f => !indexed.contains(f)))
  }

  /** Files dropped from listings by a Bloom probe ([[pruneListing]]);
    * specs pin point-lookup pruning with it. */
  val prunedFiles = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Probed-but-unindexed file count — the sidecar STALENESS signal:
    * each unit is one candidate file a point probe could not test
    * (sound, scanned anyway). Flat under commit-time sidecar
    * maintenance; growing when it fails. */
  val unindexedProbes = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A Catalyst `FileIndex` listing without the files whose Bloom table
    * proves every probe value absent: the Bloom step of both pruning
    * indexes ([[MetastoreFileIndex]], [[SnapshotFileIndex]]). Each
    * `=`/`IN` conjunct of `dataFilters` on a column with a table
    * (`bloomOf`) is one probe. Files the table does not index are never
    * dropped (may-contain: a file written after the build costs a false
    * positive, never a lost row), and other filter shapes probe
    * nothing. */
  private[lake] def pruneListing(listing: Seq[PartitionDirectory], dataFilters: Seq[Expression],
                                 label: String)(
      bloomOf: String => Option[DataFrame]): Seq[PartitionDirectory] = {
    val probes: Seq[(String, Seq[Any])] = dataFilters.flatMap {
      case EqualTo(a: Attribute, l: Literal) =>
        Some(a.name -> Seq(convertToScala(l.value, l.dataType)))
      case EqualTo(l: Literal, a: Attribute) =>
        Some(a.name -> Seq(convertToScala(l.value, l.dataType)))
      case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        Some(a.name -> vs.map { case l: Literal => convertToScala(l.value, l.dataType) })
      case InSet(a: Attribute, vs) =>
        Some(a.name -> vs.toSeq.map(v => convertToScala(v, a.dataType)))
      case _ => None
    }.filter(_._2.nonEmpty)
    var out = listing
    probes.foreach { case (c, values) =>
      bloomOf(c).foreach { bloomDf =>
        val candidates = out.flatMap(_.files.map(f => f.getPath.toString))
        val (keepSeq, unindexed) = mayContainFilesStats(bloomDf, values, candidates)
        val keep = keepSeq.toSet
        val dropped = candidates.size - keep.size
        if (dropped > 0) {
          prunedFiles.addAndGet(dropped)
          out = out.map(pd => pd.copy(files = pd.files.filter(f =>
            keep.contains(f.getPath.toString))))
        }
        // staleness telemetry: unindexed candidates survive every probe
        // unpruned — a growing count means sidecar maintenance stopped
        // keeping up with ingest (SnapshotLog.appendSidecars)
        if (unindexed > 0) unindexedProbes.addAndGet(unindexed)
        MetastoreFileIndex.log.info(
          s"$label[$c]: files_pruned=$dropped/${candidates.size} unindexed=$unindexed")
      }
    }
    out
  }

  /** Zone-map ∩ Bloom pruning: the stats table bounds the CLUSTER
    * column's ranges, the Bloom table answers point membership on an
    * unclustered column — a query filtering on both scans only the
    * intersection. Files unknown to the Bloom table survive (may-
    * contain soundness). */
  def pruneWith(spark: SparkSession, stats: DataFrame, bloomStats: DataFrame,
                clusterValues: Seq[Any], bloomValues: Seq[Any]): Seq[String] = {
    val zone = Metastore.prune(spark, stats, clusterValues)
    mayContainFiles(bloomStats, bloomValues, zone)
  }
}
