package graft.lake

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Deletion vectors on the snapshot log: O(deleted rows) commits, zero
  * data-file rewrites, merge-on-read application, un-delete via
  * rollback, fold-in via compact. */
class SnapshotDvSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(): String = tmpDir("snapdv") + "/t"

  /** (len, mtime) of each table-relative file — byte-identity probe. */
  private def fileMeta(t: String, files: Seq[String]): Map[String, (Long, Long)] = {
    val root = new Path(t)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    files.map { f =>
      val st = fs.getFileStatus(new Path(root, f))
      f -> (st.getLen, st.getModificationTime)
    }.toMap
  }

  private def ids(t: String, asOf: Option[Long] = None): Set[Long] =
    SnapshotLog.read(spark, t, asOf).select("id").as[Long].collect().toSet

  private def seed(t: String, n: Int = 20, nFiles: Int = 4): Long =
    SnapshotLog.write(
      (0 until n).map(i => (i.toLong, s"row$i")).toDF("id", "s"),
      t, "overwrite", clusterColumn = Some("id"), nFiles = nFiles)

  test("delete hides rows at head, rewrites NO data file, time travel still sees them") {
    val t = mkTable()
    seed(t)
    val before = SnapshotLog.state(spark, t)
    val meta0 = fileMeta(t, before.files)
    val v1 = SnapshotLog.delete(spark, t, col("id") % 5 === 0)
    assert(v1 == 1L)
    assert(ids(t) == (0L until 20L).filter(_ % 5 != 0).toSet)
    assert(ids(t, Some(0L)) == (0L until 20L).toSet) // pre-delete version intact
    val after = SnapshotLog.state(spark, t)
    // same live files, byte-identical — the commit wrote only a DV
    assert(after.files == before.files)
    assert(fileMeta(t, after.files) == meta0)
    assert(after.dvs.nonEmpty && after.dvs.values.flatten.toSeq.distinct.size == 1)
  }

  test("re-running the same delete is a no-op commit (positions already dead)") {
    val t = mkTable()
    seed(t)
    val v1 = SnapshotLog.delete(spark, t, col("id") < 3)
    val v2 = SnapshotLog.delete(spark, t, col("id") < 3)
    assert(v1 == 1L && v2 == 1L) // head unchanged, no empty-DV commit
    assert(ids(t) == (3L until 20L).toSet)
  }

  test("overlapping second delete grows the vectors only by the NEW dead rows") {
    val t = mkTable()
    seed(t)
    SnapshotLog.delete(spark, t, col("id") < 5)
    SnapshotLog.delete(spark, t, col("id") < 8) // overlaps 0..4
    assert(ids(t) == (8L until 20L).toSet)
    // the second DV holds exactly rows 5,6,7
    val snap = SnapshotLog.state(spark, t)
    val allDv = snap.dvs.values.flatten.toSeq.distinct
    assert(allDv.size == 2)
    val root = new Path(t)
    val second = snap.dvs.values.flatten.toSeq.distinct
      .map(f => spark.read.parquet(new Path(root, f).toString))
      .map(df => df.count())
    assert(second.sorted == Seq(3L, 5L))
  }

  test("deleteByKeys prunes to may-contain files and deletes the keys") {
    val t = mkTable()
    seed(t, n = 100, nFiles = 10) // clustered: each file ~10 consecutive ids
    val v = SnapshotLog.deleteByKeys(spark, t, "id", Seq(7L, 8L, 93L))
    assert(v == 1L)
    assert(ids(t) == (0L until 100L).toSet -- Set(7L, 8L, 93L))
    // only the files whose zone maps may contain 7,8,93 carry vectors
    val snap = SnapshotLog.state(spark, t)
    assert(snap.dvs.keySet.size <= 2, s"expected ≤2 DV'd files, got ${snap.dvs.keySet}")
  }

  test("deleteByKeys with no may-contain file or no keys leaves the head untouched") {
    val t = mkTable()
    seed(t)
    assert(SnapshotLog.deleteByKeys(spark, t, "id", Nil) == 0L)
    assert(SnapshotLog.deleteByKeys(spark, t, "id", Seq(4242L)) == 0L)
  }

  test("merge after delete does not resurrect dead rows in rewritten files") {
    val t = mkTable()
    seed(t, n = 20, nFiles = 2) // file 0: ids 0..9, file 1: ids 10..19
    SnapshotLog.delete(spark, t, col("id") === 3)
    // upsert id 5 — same file as the dead row 3, forcing its rewrite
    SnapshotLog.merge(spark, t, "id", Seq((5L, "row5x")).toDF("id", "s"))
    val rows = SnapshotLog.read(spark, t).as[(Long, String)].collect().toMap
    assert(!rows.contains(3L))
    assert(rows(5L) == "row5x")
    assert(rows.keySet == (0L until 20L).toSet - 3L)
    // the rewritten file replaced the DV'd one: vectors on it are gone
    val snap = SnapshotLog.state(spark, t)
    assert(snap.dvs.isEmpty)
  }

  test("compact folds vectors into clean files; pre-compact versions keep them applied") {
    val t = mkTable()
    seed(t)
    SnapshotLog.delete(spark, t, col("id") >= 15)
    val v2 = SnapshotLog.compact(spark, t, "id", nFiles = 2)
    assert(ids(t) == (0L until 15L).toSet)
    assert(SnapshotLog.state(spark, t).dvs.isEmpty) // folded
    assert(ids(t, Some(1L)) == (0L until 15L).toSet) // DV version still applies them
    assert(ids(t, Some(0L)) == (0L until 20L).toSet)
    assert(v2 == 2L)
  }

  test("rollback un-deletes: target version's (possibly empty) vector state is restored") {
    val t = mkTable()
    seed(t)
    SnapshotLog.delete(spark, t, col("id") < 4) // v1
    SnapshotLog.delete(spark, t, col("id") < 9) // v2
    SnapshotLog.rollback(spark, t, 1L) // v3: only the first delete
    assert(ids(t) == (4L until 20L).toSet)
    SnapshotLog.rollback(spark, t, 0L) // v4: clean slate
    assert(ids(t) == (0L until 20L).toSet)
    assert(SnapshotLog.state(spark, t).dvs.isEmpty)
    // and the deleted states remain travelable
    assert(ids(t, Some(2L)) == (9L until 20L).toSet)
  }

  test("checkpoints carry vector state: replay seeded past the delete still applies it") {
    val t = mkTable()
    seed(t) // v0
    SnapshotLog.delete(spark, t, col("id") === 1, checkpointInterval = 2) // v1
    // v2 lands on the interval → checkpoint written with the DV state
    SnapshotLog.write(Seq((100L, "x")).toDF("id", "s"), t, "append",
      checkpointInterval = 2)
    SnapshotLog.write(Seq((101L, "y")).toDF("id", "s"), t, "append",
      checkpointInterval = 2) // v3 replays FROM the v2 checkpoint
    assert(ids(t) == ((0L until 20L).toSet - 1L) ++ Set(100L, 101L))
  }

  test("readPruned applies vectors on top of the pruned relation") {
    val t = mkTable()
    seed(t, n = 100, nFiles = 10)
    SnapshotLog.delete(spark, t, col("id") === 42)
    val df = SnapshotLog.readPruned(spark, t, "id")
    assert(df.select("id").as[Long].collect().toSet == (0L until 100L).toSet - 42L)
    // pruning still narrows a point query under the anti-join — AQE
    // wraps materialized stages, so recurse through the wrappers
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val point = df.where(col("id") === 17)
    point.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case st: QueryStageExec => scans(st.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    // clean and DV-carrying files scan as two pruned data scans
    val dataScans = scans(point.queryExecution.executedPlan)
      .filter(_.relation.location.isInstanceOf[SnapshotFileIndex])
    assert(dataScans.nonEmpty)
    val read = dataScans.map(_.metrics("numFiles").value).sum
    assert(read == 1, s"expected 1 pruned data file, got $read")
  }

  test("expire reclaims dropped versions' DV files but keeps retained ones") {
    val t = mkTable()
    seed(t) // v0
    SnapshotLog.delete(spark, t, col("id") === 0) // v1
    SnapshotLog.compact(spark, t, "id", nFiles = 2) // v2 (vectors folded)
    SnapshotLog.write(Seq((200L, "z")).toDF("id", "s"), t, "append") // v3
    val dvFiles = SnapshotLog.state(spark, t, Some(1L)).dvs.values.flatten.toSeq.distinct
    assert(dvFiles.nonEmpty)
    val root = new Path(t)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // keep v2..v3: v1's DV file is referenced by no retained version
    val dropped = SnapshotLog.expire(spark, t, keepLast = 2)
    assert(dvFiles.forall(f => !fs.exists(new Path(root, f))),
      "expired version's DV file should be reclaimed")
    assert(dropped.exists(dvFiles.contains))
    assert(ids(t) == ((0L until 20L).toSet - 0L) + 200L)
  }

  test("expire keeps DV files still referenced by a retained version") {
    val t = mkTable()
    seed(t) // v0
    SnapshotLog.delete(spark, t, col("id") === 0) // v1
    SnapshotLog.write(Seq((200L, "z")).toDF("id", "s"), t, "append") // v2
    SnapshotLog.write(Seq((201L, "z")).toDF("id", "s"), t, "append") // v3
    SnapshotLog.expire(spark, t, keepLast = 2) // keep v2..v3 — both carry the DV
    assert(ids(t) == ((0L until 20L).toSet - 0L) ++ Set(200L, 201L))
  }

  test("purgeDeletes rewrites ONLY dirty files; clean files stay byte-identical") {
    val t = mkTable()
    seed(t) // v0: 4 files clustered on id — delete hits a strict subset
    SnapshotLog.delete(spark, t, col("id") < 3) // v1: vectors on 1 file
    val before = SnapshotLog.state(spark, t)
    val clean = before.files.filterNot(before.dvs.contains)
    assert(clean.nonEmpty && before.dvs.nonEmpty, "fixture must mix clean+dirty")
    val metaClean = fileMeta(t, clean)
    val rows = ids(t)
    val v2 = SnapshotLog.purgeDeletes(spark, t)
    assert(v2 == 2L)
    val after = SnapshotLog.state(spark, t)
    assert(after.dvs.isEmpty, "purge must clear every vector")
    assert(ids(t) == rows, "purge is a row-content no-op")
    // clean files survive IN PLACE; dirty ones are gone from the live set
    assert(clean.forall(after.files.contains))
    assert(fileMeta(t, clean) == metaClean)
    assert(before.dvs.keys.forall(f => !after.files.contains(f)))
    // pre-purge versions still time-travel with vectors applied
    assert(ids(t, Some(1L)) == rows)
    assert(ids(t, Some(0L)) == (0L until 20L).toSet)
  }

  test("purgeDeletes on a clean table is a no-op; feed skips the purge commit") {
    val t = mkTable()
    seed(t)
    assert(SnapshotLog.purgeDeletes(spark, t) == 0L) // nothing dirty → head
    SnapshotLog.delete(spark, t, col("id") === 7) // v1
    val v2 = SnapshotLog.purgeDeletes(spark, t)
    assert(v2 == 2L)
    assert(SnapshotLog.purgeDeletes(spark, t) == 2L) // converged
    // the feed sees the delete's dead row and NOTHING from the purge
    val ch = SnapshotLog.readChanges(spark, t, fromVersion = 0L)
      .select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    assert(ch == Set((7L, "delete", 1L)))
  }

  test("a bulk delete spreads the DV write over multiple files; reads unchanged") {
    val t = mkTable()
    SnapshotLog.write((0 until 1000).map(i => (i.toLong, s"row$i")).toDF("id", "s"),
      t, "overwrite", clusterColumn = Some("id"), nFiles = 4) // v0
    // 600 dead rows at 100 rows/DV-file → >1 DV file, no 1-task funnel
    SnapshotLog.delete(spark, t, col("id") < 600, dvRowsPerFile = 100L) // v1
    val snap = SnapshotLog.state(spark, t)
    val dvFiles = snap.dvs.values.flatten.toSeq.distinct
    assert(dvFiles.size > 1, s"expected >1 DV file, got ${dvFiles.size}")
    assert(ids(t) == (600 until 1000).map(_.toLong).toSet)
    // re-run converges (positions idempotent across the multi-file set)
    assert(SnapshotLog.delete(spark, t, col("id") < 600, dvRowsPerFile = 100L) == 1L)
  }

  test("maintain purges once the dirty-file fraction crosses the bound") {
    val t = mkTable()
    seed(t, n = 40, nFiles = 8) // v0: 8 clean files
    SnapshotLog.delete(spark, t, col("id") === 3L) // v1: 1/8 dirty
    // below the bound: a no-op — vectors stay
    assert(SnapshotLog.maintain(spark, t, maxDirtyFraction = 0.5) == 1L)
    assert(SnapshotLog.state(spark, t).dvs.nonEmpty)
    // cross the fraction bound → auto-purge, zero dirty files after
    SnapshotLog.delete(spark, t, col("id") % 2 === 0L) // v2: most files dirty
    val v = SnapshotLog.maintain(spark, t, maxDirtyFraction = 0.5)
    assert(v == 3L)
    val snap = SnapshotLog.state(spark, t)
    assert(snap.dvs.isEmpty, "maintain must leave n_dirty_files == 0")
    assert(ids(t) == (0 until 40).map(_.toLong).filter(i => i % 2 == 1 && i != 3).toSet)
    // converged: a second maintain is a no-op
    assert(SnapshotLog.maintain(spark, t, maxDirtyFraction = 0.5) == 3L)
  }

  test("maintain's dead-row bound triggers independently of the fraction") {
    val t = mkTable()
    seed(t, n = 40, nFiles = 8) // v0
    SnapshotLog.delete(spark, t, col("id") < 5L) // v1: few files, 5 dead rows
    // fraction bound loose, row bound tight → purge fires on rows
    val v = SnapshotLog.maintain(spark, t, maxDirtyFraction = 1.0, maxDeadRows = 3L)
    assert(v == 2L)
    assert(SnapshotLog.state(spark, t).dvs.isEmpty)
    assert(ids(t) == (5 until 40).map(_.toLong).toSet)
  }
}
