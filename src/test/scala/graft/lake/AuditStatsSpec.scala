package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Every auditStats verdict class, each produced by a controlled
  * perturbation of a healthy stats table over a 3-file clustered
  * layout. The UNSOUND class (under_covering) is the one the audit
  * exists for: stored bounds that miss data the file holds make
  * pruning silently drop rows. */
class AuditStatsSpec extends SparkSpec {

  import spark.implicits._

  private lazy val dataDir: String = {
    val d = tmpDir("audit_data")
    val df = (1L to 300L).map(i => (i, s"v$i", (i % 7).toDouble)).toDF("k", "s", "x")
    ClusteredWriter.write(df, d, "k", nFiles = 3)
    d
  }

  private def healthy = Metastore.buildFromFooters(spark, dataDir, "k", Seq("x"))

  private def verdicts(stats: org.apache.spark.sql.DataFrame): Map[(String, String), Long] =
    Metastore.auditStats(spark, dataDir, stats)
      .groupBy("column", "verdict").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  test("healthy stats audit exact on every (file, column)") {
    assert(verdicts(healthy) === Map(("k", "exact") -> 3L, ("x", "exact") -> 3L))
  }

  test("footer and scan builders agree bound-for-bound (cross-builder audit)") {
    // the audit recomputes by SCAN; auditing footer-built stats to
    // all-exact pins the two builders' value conversion to each other
    val footers = Metastore.buildFromFooters(spark, dataDir, "k", Seq("x"))
    assert(verdicts(footers) === Map(("k", "exact") -> 3L, ("x", "exact") -> 3L))
    // and each file's stored bounds are the same from both builders
    def byFile(stats: org.apache.spark.sql.DataFrame) =
      stats.select("filepath", "k_min", "k_max", "x_min", "x_max").collect()
        .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName -> r.toSeq.tail).toMap
    val scanned = byFile(Metastore.build(spark, dataDir, "k", Seq("x")))
    assert(scanned.size === 3)
    assert(byFile(footers) === scanned)
  }

  test("a row group whose footer drops min/max (a >4 KiB string) leaves the file's bounds unknown") {
    // parquet-mr writes no min/max for a row group whose values exceed
    // 4096 bytes: folding only the row groups that carry them would give
    // the file an interval that misses the long value, and pruning on it
    // would drop the row. (The cross-builder test above cannot take this
    // input: its fixture expects every verdict `exact`, and unknown
    // footer bounds audit as `no_bounds`.)
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val root = tmpDir("audit_longstr")
    val d = s"$root/data"
    val long = "z" * 5000
    (1L to 1000L).map(i => (i, if (i == 500L) long else f"v$i%04d")).toDF("k", "s")
      .coalesce(1).sortWithinPartitions("k")
      .write.option("parquet.block.size", "1024").parquet(d)
    // the fixture holds: one file, several row groups, and the long
    // value's row group carries no min/max for `s`
    val file = new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.getAbsolutePath), spark.sparkContext.hadoopConfiguration))
    val groups = try reader.getFooter.getBlocks.asScala.toSeq finally reader.close()
    assert(groups.size >= 2, s"expected several row groups, got ${groups.size}")
    def sStats(g: org.apache.parquet.hadoop.metadata.BlockMetaData) =
      g.getColumns.asScala.find(_.getPath.toDotString == "s").get.getStatistics
    // rows are in k order, so k = 500 is the file's 500th row
    val ends = groups.scanLeft(0L)(_ + _.getRowCount).tail
    val holder = groups(ends.indexWhere(_ >= 500L))
    assert(!sStats(holder).hasNonNullValue, "the long value's row group must lack min/max")
    assert(groups.exists(g => sStats(g).hasNonNullValue), "other row groups carry min/max")

    val stats = Metastore.buildFromFooters(spark, d, "k", Seq("s"))
    val audit = Metastore.auditStats(spark, d, stats)
      .groupBy("column", "verdict").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(!audit.keySet.exists(_._2 == "under_covering"), s"unsound footer stats: $audit")
    assert(audit.get(("s", "no_bounds")).contains(1L), s"`s` bounds must be unknown: $audit")
    val statsPath = s"$root/stats"
    Metastore.update(spark, statsPath, stats)
    val hits = Lakeshack.fromStats(spark, d, statsPath, "k", Seq("s"))
      .query(Seq(500L), Seq(Clause("s", "==", long))).select("k").as[Long].collect()
    assert(hits.toSeq == Seq(500L), "the long-valued row must not be pruned away")
  }

  test("under_covering: narrowed bounds are flagged unsound, named column only") {
    // narrow ONE file's k_max below the file's true max
    val gmax = healthy.agg(max("k_max")).first().getLong(0)
    val tampered = healthy.withColumn("k_max",
      when(col("k_max") === gmax, col("k_max") - 1).otherwise(col("k_max")))
    val v = verdicts(tampered)
    assert(v(("k", "under_covering")) === 1L)
    assert(v(("k", "exact")) === 2L)
    assert(v(("x", "exact")) === 3L, "untouched column must stay exact")
  }

  test("over_covering: widened bounds are sound but flagged") {
    val v = verdicts(healthy.withColumn("x_min", col("x_min") - 1.0))
    assert(v(("x", "over_covering")) === 3L)
    assert(!v.contains(("x", "exact")))
    assert(v(("k", "exact")) === 3L)
  }

  test("missing_stats: an unindexed file is reported for every column") {
    val dropOne = healthy.orderBy("filepath").limit(2)
    val v = verdicts(dropOne)
    assert(v(("k", "missing_stats")) === 1L && v(("x", "missing_stats")) === 1L)
    assert(v(("k", "exact")) === 2L && v(("x", "exact")) === 2L)
  }

  test("orphan_stats: a stats row for a vanished file is reported") {
    val ghost = healthy.limit(1)
      .withColumn("filepath", lit(s"file:$dataDir/part-does-not-exist.parquet"))
    val v = verdicts(healthy.unionByName(ghost))
    assert(v(("k", "orphan_stats")) === 1L && v(("x", "orphan_stats")) === 1L)
  }

  test("no_bounds: null stored bounds on a column with data are sound but visible") {
    val nulled = healthy.withColumn("x_min", lit(null).cast("double"))
    val v = verdicts(nulled)
    assert(v(("x", "no_bounds")) === 3L)
    assert(v(("k", "exact")) === 3L)
  }
}
