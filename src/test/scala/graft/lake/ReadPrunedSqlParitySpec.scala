package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** `SnapshotLog.readPruned(…).where(f)` and `SELECT … FROM snap.t WHERE f`
  * are one pruned scan of a pinned version: for every filter shape they
  * read the same physical data files and return the same rows — zone
  * maps on any orderable column, Bloom sidecars, and deletion vectors
  * alike. */
class ReadPrunedSqlParitySpec extends SparkSpec {
  import spark.implicits._

  private val nFiles = 8

  /** v0: 4000 rows clustered on `k` over 8 files; `w = 2k` follows the
    * clustering, `u` is a permutation of `k` (zone maps cannot prune
    * it, its Bloom sidecar can). v1 deletes `k = 7` (a deletion vector). */
  private lazy val root: String = {
    val r = tmpDir("prunedparity")
    SnapshotLog.write((0 until 4000).map(i =>
        (i.toLong, ((i * 3571L) % 4000L), 2L * i, s"r$i")).toDF("k", "u", "w", "s"),
      s"$r/t", "overwrite", clusterColumn = Some("k"), nFiles = nFiles)
    SnapshotLog.buildBloom(spark, s"$r/t", "u", expectedItemsPerFile = 2000)
    SnapshotLog.delete(spark, s"$r/t", col("k") === 7L)
    spark.conf.set("spark.sql.catalog.snappar", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snappar.root", r)
    r
  }

  /** Data files the executed plan read: DSv2 batch scans (clean SQL
    * versions) and V1 scans of the table's columns (readPruned, and
    * SQL's vectorized DV read); scans of deletion-vector files, whose
    * columns are `(file, pos)`, do not count. */
  private def filesRead(df: DataFrame): Long = {
    df.collect() // scan metrics fill in on execution
    var n = 0L
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case b: BatchScanExec =>
          n += b.inputPartitions.collect { case fp: FilePartition => fp.files.toSeq }
            .flatten.map(_.filePath.toString).distinct.size
        case f: FileSourceScanExec if f.relation.dataSchema.fieldNames.contains("k") =>
          n += f.metrics("numFiles").value
        case _ => ()
      }
      p.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    n
  }

  private def same(asOf: Option[Long], sqlWhere: String, where: Column,
                   optionalColumns: Seq[String] = Nil): Long = {
    val table = s"$root/t" // builds the fixture and registers the catalog
    val pin = asOf.map(v => s" VERSION AS OF $v").getOrElse("")
    val viaSql = spark.sql(s"SELECT k, u, w, s FROM snappar.t$pin WHERE $sqlWhere")
    val viaApi = SnapshotLog.readPruned(spark, table, "k", optionalColumns, asOf)
      .where(where).select("k", "u", "w", "s")
    val (a, b) = (viaSql.as[(Long, Long, Long, String)].collect().sorted,
      viaApi.as[(Long, Long, Long, String)].collect().sorted)
    assert(a.nonEmpty, s"$sqlWhere: the fixture must match rows")
    assert(a.toSeq == b.toSeq, s"$sqlWhere: SQL and readPruned rows differ")
    val (na, nb) = (filesRead(viaSql), filesRead(viaApi))
    assert(na == nb, s"$sqlWhere: SQL read $na files, readPruned read $nb")
    assert(nb < nFiles, s"$sqlWhere: nothing was pruned ($nb/$nFiles files)")
    nb
  }

  test("a point IN on the cluster column") {
    same(Some(0L), "k IN (5, 1234, 3999)", col("k").isin(5L, 1234L, 3999L))
  }

  test("a range on the cluster column") {
    same(Some(0L), "k BETWEEN 1000 AND 1400", col("k").between(1000L, 1400L))
  }

  test("a range on a column not named in optionalColumns prunes too") {
    same(Some(0L), "w BETWEEN 2000 AND 2600", col("w").between(2000L, 2600L))
    same(Some(0L), "w BETWEEN 2000 AND 2600", col("w").between(2000L, 2600L),
      optionalColumns = Seq("w"))
  }

  test("a DV-carrying version") {
    assert(SnapshotLog.state(spark, s"$root/t").dvs.nonEmpty)
    same(None, "k IN (6, 7, 8, 2100)", col("k").isin(6L, 7L, 8L, 2100L))
  }

  test("an = on a column with a built Bloom sidecar") {
    val before = BloomIndex.prunedFiles.get()
    same(Some(0L), "u = 123", col("u") === 123L)
    assert(BloomIndex.prunedFiles.get() > before, "the sidecar pruned nothing")
  }
}
