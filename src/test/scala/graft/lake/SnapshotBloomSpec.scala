package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bloom sidecar pruning on the snapshot catalog: a point lookup on a
  * HIGH-CARDINALITY column the table is not clustered by — where zone
  * maps prune nothing — must drop every file whose filter proves the
  * value absent, and must never drop a file the sidecar doesn't index
  * (post-build appends, may-contain). */
class SnapshotBloomSpec extends SparkSpec {
  import spark.implicits._

  test("point lookup on an unclustered column prunes via the sidecar; appends stay safe") {
    val root = tmpDir("snapbloom")
    val table = s"$root/t"
    // clustered by k; u is a scrambled unique id — every file's [min,max]
    // of u spans the domain, so zone maps cannot prune on it
    val df = (0 until 8000).map(i => (i.toLong, ((i * 7919) % 8000).toLong, s"r$i"))
      .toDF("k", "u", "s")
    SnapshotLog.write(df, table, "overwrite", clusterColumn = Some("k"), nFiles = 8)
    spark.conf.set("spark.sql.catalog.snb", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snb.root", root)
    // build via SQL
    val indexed = spark.sql(
      "CALL snb.system.build_bloom('t', 'u', expected_items => 2000)").as[Long].head()
    assert(indexed == 8L)
    val before = BloomIndex.prunedFiles.get()
    val hit = spark.sql("SELECT k, s FROM snb.t WHERE u = 4242").as[(Long, String)].collect()
    assert(hit.length == 1)
    val prunedOnce = BloomIndex.prunedFiles.get() - before
    assert(prunedOnce >= 5, s"expected most of 8 files bloom-pruned, got $prunedOnce")
    // IN-list probes prune too, and return exactly the right rows
    val rows = spark.sql("SELECT u FROM snb.t WHERE u IN (1, 4242, 7999)")
      .as[Long].collect().toSet
    assert(rows == Set(1L, 4242L, 7999L))
    // a post-build append is UNKNOWN to the sidecar and must never be
    // pruned: its rows answer even though the bloom says nothing
    SnapshotLog.write(Seq((900000L, 999999L, "late")).toDF("k", "u", "s"),
      table, "append")
    assert(spark.sql("SELECT s FROM snb.t WHERE u = 999999").as[String].collect()
      .toSeq == Seq("late"))
    // absent value: bloom proves every indexed file out; only the
    // unknown appended file scans — and finds nothing
    assert(spark.sql("SELECT count(*) FROM snb.t WHERE u = -5").as[Long].head() == 0L)
  }

  test("the vectorized DV read path consults the sidecar too") {
    val root = tmpDir("snapbloom_dv")
    val table = s"$root/t"
    SnapshotLog.write((0 until 4000).map(i => (i.toLong, ((i * 3571) % 4000).toLong))
      .toDF("k", "u"), table, "overwrite", clusterColumn = Some("k"), nFiles = 4)
    SnapshotLog.buildBloom(spark, table, "u", expectedItemsPerFile = 2000)
    SnapshotLog.delete(spark, table, col("k") === 7L) // head carries a DV
    spark.conf.set("spark.sql.catalog.snbd", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snbd.root", root)
    val before = BloomIndex.prunedFiles.get()
    val n = spark.sql("SELECT count(*) FROM snbd.t WHERE u = 123").as[Long].head()
    assert(n == 1L)
    assert(BloomIndex.prunedFiles.get() > before,
      "vectorized DV read did not bloom-prune")
    // the DV-deleted row stays dead even when its file bloom-matches
    val deadU = (7 * 3571) % 4000
    assert(spark.sql(s"SELECT count(*) FROM snbd.t WHERE u = $deadU").as[Long].head() == 0L)
  }

  test("commit-time auto-indexing keeps the sidecar fresh across append + bin-pack") {
    val root = tmpDir("snapbloom_auto")
    val table = s"$root/t"
    // base u values are EVEN and span [0, 7998] in every file — an ODD
    // in-domain probe survives every zone map (intervals contain it) and
    // only the blooms can prune, which is what this test measures
    SnapshotLog.write((0 until 4000).map(i =>
      (i.toLong, ((i * 3571L) % 4000L) * 2L)).toDF("k", "u"),
      table, "overwrite", clusterColumn = Some("k"), nFiles = 4)
    SnapshotLog.buildBloom(spark, table, "u", expectedItemsPerFile = 2000)
    spark.conf.set("spark.sql.catalog.snba", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snba.root", root)
    // two post-build appends with odd in-domain keys: WITHOUT
    // auto-indexing these files would be unindexed forever (sound but
    // scanned on every probe)
    SnapshotLog.write(Seq((100000L, 4201L)).toDF("k", "u"), table, "append")
    SnapshotLog.write(Seq((100001L, 4203L)).toDF("k", "u"), table, "append")
    val p0 = BloomIndex.prunedFiles.get()
    val u0 = BloomIndex.unindexedProbes.get()
    // probe an odd value living ONLY in one appended file: the 4 base
    // files bloom-prune (it is absent from them; their zone maps span
    // it, so only the bloom can drop them) and ZERO candidates read as
    // unindexed — proof the appended files carry sidecar rows
    assert(spark.sql("SELECT k FROM snba.t WHERE u = 4203").as[Long].collect()
      .toSeq == Seq(100001L))
    assert(BloomIndex.prunedFiles.get() - p0 >= 4L,
      "the 4 base files must bloom-prune for an absent odd probe")
    assert(BloomIndex.unindexedProbes.get() == u0,
      "no probed file may be unindexed after auto-maintenance")
    // bin-pack folds the crumbs into a NEW file — its commit must
    // auto-index the packed output too
    // smallBytes between the 1-row crumbs (~1 KB) and the base files
    // (~16 KB): only the crumbs pack, the base files stay
    val v = SnapshotLog.compactBin(spark, table, targetBytes = 64L * 1024 * 1024,
      smallBytes = 4096L)
    assert(v > 2L, "compactBin must have committed")
    val p1 = BloomIndex.prunedFiles.get()
    val u1 = BloomIndex.unindexedProbes.get()
    assert(spark.sql("SELECT k FROM snba.t WHERE u = 4201").as[Long].collect()
      .toSeq == Seq(100000L))
    assert(BloomIndex.prunedFiles.get() - p1 >= 4L,
      "the 4 base files must bloom-prune after the pack")
    assert(BloomIndex.unindexedProbes.get() == u1,
      "the bin-packed output must be auto-indexed (telemetry stays flat)")
    // a commit whose maintenance failed after the manifest claim leaves
    // its file unindexed (its delta dir missing), and the staleness
    // telemetry says so
    val colDir = new org.apache.hadoop.fs.Path(s"$table/_bloom/u")
    val fs = colDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def deltas() =
      fs.listStatus(colDir).map(_.getPath).filter(_.getName.startsWith("delta-")).toSet
    val before = deltas()
    SnapshotLog.write(Seq((100002L, 4205L)).toDF("k", "u"), table, "append")
    (deltas() -- before).foreach(fs.delete(_, true))
    val u2 = BloomIndex.unindexedProbes.get()
    assert(spark.sql("SELECT k FROM snba.t WHERE u = 4205").as[Long].collect()
      .toSeq == Seq(100002L))
    assert(BloomIndex.unindexedProbes.get() > u2,
      "an unindexed probe must register in the staleness telemetry")
  }

  test("sidecar delta dirs self-compact past the threshold; probes unaffected") {
    val root = tmpDir("snapbloom_fold")
    val table = s"$root/t"
    SnapshotLog.write((0 until 4000).map(i =>
      (i.toLong, ((i * 3571L) % 4000L) * 2L)).toDF("k", "u"),
      table, "overwrite", clusterColumn = Some("k"), nFiles = 4)
    SnapshotLog.buildBloom(spark, table, "u", expectedItemsPerFile = 2000)
    // geometry metadata landed beside the filters: per-commit geometry
    // resolution is one tiny file read, not a head(1) Spark job
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$table/_bloom/u/_geometry")),
      "buildBloom must persist the _geometry metadata file")
    assert(SnapshotLog.collectAggStats(spark, table, "u") == 4L)
    spark.conf.set("spark.sql.catalog.snbf", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snbf.root", root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val colDirs = Seq(s"$table/_bloom/u", s"$table/_aggstats/u")
      .map(new org.apache.hadoop.fs.Path(_))
    def deltaDirs(d: org.apache.hadoop.fs.Path): Int = fs.listStatus(d)
      .count(st => st.isDirectory && st.getPath.getName.startsWith("delta-"))
    // 64 planted empty delta dirs: the threshold, reached; the next
    // commit's delta crosses it and folds each sidecar to ONE dir
    for (d <- colDirs; i <- 0 until 64)
      fs.mkdirs(new org.apache.hadoop.fs.Path(d, f"delta-planted$i%02d"))
    assert(colDirs.forall(deltaDirs(_) >= 64))
    SnapshotLog.write(Seq((200000L, 4211L)).toDF("k", "u"), table, "append")
    for (d <- colDirs) assert(deltaDirs(d) == 1, s"$d must fold, got ${deltaDirs(d)} delta dirs")
    SnapshotLog.write(Seq((200001L, 4221L)).toDF("k", "u"), table, "append")
    // every appended file still indexed: an odd probe prunes the 4
    // base files and nothing reads unindexed
    val u0 = BloomIndex.unindexedProbes.get()
    val p0 = BloomIndex.prunedFiles.get()
    assert(spark.sql("SELECT k FROM snbf.t WHERE u = 4221").as[Long].collect()
      .toSeq == Seq(200001L))
    assert(BloomIndex.prunedFiles.get() - p0 >= 4L)
    assert(BloomIndex.unindexedProbes.get() == u0,
      "folding must not lose any file's sidecar row")
    // the SUM sidecar kept one row per live file through its fold, and
    // its sums add up to the table's
    val live = SnapshotLog.state(spark, table).files.size
    val sums = SnapshotLog.aggStatsFor(spark, table, "u").get
    assert(sums.count() == live.toLong)
    assert(sums.agg(sum("sum_v")).as[Long].head() ==
      SnapshotLog.read(spark, table).agg(sum("u")).as[Long].head())
    assert(SnapshotLog.collectAggStats(spark, table, "u") == 0L,
      "commit-time maintenance must have covered both appends")
  }

  test("sidecar survives ALTER TABLE RENAME TO (pool-relative re-anchor)") {
    val root = tmpDir("snapbloom_mv")
    spark.conf.set("spark.sql.catalog.snbm", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snbm.root", root)
    SnapshotLog.write((0 until 4000).map(i => (i.toLong, ((i * 3571) % 4000).toLong))
      .toDF("k", "u"), s"$root/t", "overwrite", clusterColumn = Some("k"), nFiles = 4)
    SnapshotLog.buildBloom(spark, s"$root/t", "u", expectedItemsPerFile = 2000)
    spark.sql("ALTER TABLE snbm.t RENAME TO t2")
    val before = BloomIndex.prunedFiles.get()
    assert(spark.sql("SELECT count(*) FROM snbm.t2 WHERE u = 123").as[Long].head() == 1L)
    // >= 3: a planning pass may invoke listFiles more than once, each
    // pass pruning the same 3-of-4 — the claim is that pruning happens
    // at all post-rename, which the re-anchor alone makes possible
    assert(BloomIndex.prunedFiles.get() - before >= 3L,
      "sidecar keys must re-anchor at the renamed root (3 of 4 files pruned)")
  }
}
