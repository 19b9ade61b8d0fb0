package graft.streaming

import graft.SparkSpec
import graft.lake.SnapshotLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Change-feed relay: atomic per-version publication, idempotent
  * re-runs, and consumption through a REAL file-source streaming query
  * with exactly-once continuation across new commits. */
class ChangeRelaySpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(base: String): String = {
    val t = s"$base/t"
    SnapshotLog.write((0 until 10).map(i => (i.toLong, s"r$i")).toDF("id", "s"),
      t, "overwrite", clusterColumn = Some("id"), nFiles = 2) // v0
    SnapshotLog.write(Seq((100L, "x"), (101L, "y")).toDF("id", "s"), t, "append") // v1
    SnapshotLog.delete(spark, t, col("id") === 3L) // v2
    t
  }

  test("relay publishes one dir per version; rows equal the batch feed") {
    val base = tmpDir("chrelay"); val t = mkTable(base); val ob = s"$base/outbox"
    assert(ChangeRelay.relay(spark, t, ob) == Seq(0L, 1L, 2L))
    assert(ChangeRelay.relayedVersion(spark, ob) == 2L)
    val shipped = spark.read.schema(ChangeRelay.changeSchema(spark, t))
      .parquet(s"$ob/v*")
      .select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    val feed = SnapshotLog.readChanges(spark, t, -1L)
      .select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    assert(shipped == feed && feed.contains((3L, "delete", 2L)))
  }

  test("re-running the relay ships nothing twice; a lost rename race is absorbed") {
    val base = tmpDir("chrelay"); val t = mkTable(base); val ob = s"$base/outbox"
    ChangeRelay.relay(spark, t, ob)
    assert(ChangeRelay.relay(spark, t, ob).isEmpty) // cursor at head
    // pre-create the NEXT version dir to simulate losing the race
    SnapshotLog.write(Seq((200L, "z")).toDF("id", "s"), t, "append") // v3
    val fs = new Path(ob).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(ob, f"v${3L}%012d"))
    assert(ChangeRelay.relay(spark, t, ob).isEmpty) // someone else shipped v3
  }

  test("publishStage repairs a NESTED rename: a race-window loser never double-publishes") {
    // Hadoop rename semantics: renaming a dir onto a dest dir CREATED
    // inside the exists→rename window nests the stage INSIDE dest
    // (dest/__graft_cv=N/…) and still returns true — the batched
    // catch-up's stage name is not dot-prefixed, so consumers would
    // read version N twice. publishStage must detect the nesting,
    // delete OUR copy, and report the publish as lost.
    val base = tmpDir("chrelay")
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // manufacture the post-race layout directly (local-FS rename may
    // legitimately refuse instead of nesting — the repair must handle
    // the HDFS-like outcome regardless of what THIS fs does): dest
    // holds the winner's rows AND our nested stage copy
    val dest = new Path(base, "v000000000007")
    fs.mkdirs(dest)
    val winner = new Path(dest, "part-winner.parquet")
    fs.create(winner).close()
    // the clean path first: no dest, rename moves the stage wholesale
    val stage2 = new Path(base, "__graft_cv=8")
    fs.mkdirs(stage2)
    fs.create(new Path(stage2, "part-a.parquet")).close()
    val dest2 = new Path(base, "v000000000008")
    assert(ChangeRelay.publishStage(fs, stage2, dest2), "clean publish succeeds")
    assert(fs.exists(new Path(dest2, "part-a.parquet")))
    assert(!fs.exists(new Path(dest2, "__graft_cv=8")), "no nesting on the clean path")
    // the raced path: dest already exists (the winner published in our
    // window) — local fs's rename fallback NESTS the stage under dest
    // (FileUtil.copy into an existing dir) exactly like HDFS rename,
    // so this drives the real repair arm, not a simulation
    val stage7 = new Path(base, "__graft_cv=7")
    fs.mkdirs(stage7)
    fs.create(new Path(stage7, "part-loser3.parquet")).close()
    val got = ChangeRelay.publishStage(fs, stage7, dest)
    assert(!got, "publishing onto an existing dest must never report success")
    assert(fs.exists(winner), "the winner's rows survive the repair")
    assert(!fs.exists(new Path(dest, "__graft_cv=7")),
      "no nested duplicate may remain under the published version")
  }

  test("with AQE off a one-version relay writes no more files than the unhinted write") {
    // foreachBatch sessions may run with AQE off. A REBALANCE hint that
    // planned as a plain shuffle to spark.sql.shuffle.partitions there
    // would write one sliver per shuffle partition (4 here); Spark drops
    // the hint without AQE, and this pins that the relay gets no worse
    // than writing the change set as it comes
    val base = tmpDir("chrelay_noaqe"); val t = s"$base/t"
    SnapshotLog.write((0 until 40).map(i => (i.toLong, s"r$i")).toDF("id", "s").coalesce(1),
      t, "overwrite") // v0: one file
    val ob = s"$base/outbox"
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      assert(ChangeRelay.relay(spark, t, ob) == Seq(0L))
      SnapshotLog.readChanges(spark, t, -1L, Some(0L)).write.parquet(s"$base/unhinted")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(dir: String): Int =
      fs.listStatus(new Path(dir)).count(_.getPath.getName.endsWith(".parquet"))
    val relayed = files(s"$ob/v000000000000")
    val unhinted = files(s"$base/unhinted")
    assert(relayed >= 1 && relayed <= unhinted,
      s"relay wrote $relayed files, the unhinted write $unhinted")
    assert(spark.read.parquet(s"$ob/v000000000000").count() == 40L)
  }

  test("no-row commits publish an empty marker dir that advances the cursor") {
    val base = tmpDir("chrelay"); val t = mkTable(base); val ob = s"$base/outbox"
    SnapshotLog.purgeDeletes(spark, t) // v3: row-content no-op
    ChangeRelay.relay(spark, t, ob)
    assert(ChangeRelay.relayedVersion(spark, ob) == 3L)
    val n = spark.read.schema(ChangeRelay.changeSchema(spark, t))
      .parquet(s"$ob/v*")
      .where(col("_commit_version") === 3L).count()
    assert(n == 0L)
  }

  test("cleanStages sweeps crashed-relay debris, never published versions") {
    val base = tmpDir("chrelay"); val t = mkTable(base); val ob = s"$base/outbox"
    ChangeRelay.relay(spark, t, ob)
    val fs = new Path(ob).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(ob, ".stage-v9-deadbeef"))
    assert(ChangeRelay.cleanStages(spark, ob, graceMs = 0L) == Seq(".stage-v9-deadbeef"))
    assert(ChangeRelay.relayedVersion(spark, ob) == 2L)
  }

  test("batched catch-up: 100 versions in a handful of jobs, content = serial path") {
    val base = tmpDir("chrelay_batch")
    val t = s"$base/t"
    // 100 commits: v0 base, appends, a delete, and a row-less purge —
    // the shapes a consumer catching up over a real backlog meets
    SnapshotLog.write((0 until 8).map(i => (i.toLong, s"r$i")).toDF("id", "s"),
      t, "overwrite", clusterColumn = Some("id"), nFiles = 2) // v0
    for (v <- 1 to 97)
      SnapshotLog.write(Seq((1000L + v, s"a$v")).toDF("id", "s").coalesce(1), t, "append")
    SnapshotLog.delete(spark, t, col("id") === 3L) // v98
    SnapshotLog.purgeDeletes(spark, t) // v99: row-content no-op
    assert(SnapshotLog.currentVersion(spark, t) == 99L)

    // the batched path, job-counted: ONE range read + ONE partitioned
    // write (+ AQE staging) — never one job per version
    val obB = s"$base/outbox_batched"
    spark.sparkContext.setJobGroup("relay_batch", "catch-up", interruptOnCancel = false)
    val published = try ChangeRelay.relay(spark, t, obB)
    finally spark.sparkContext.clearJobGroup()
    assert(published == (0L to 99L), "every version published in order")
    assert(ChangeRelay.relayedVersion(spark, obB) == 99L)
    var tries = 0
    def jobs: Int = spark.sparkContext.statusTracker.getJobIdsForGroup("relay_batch").length
    while (jobs < 1 && tries < 60) { Thread.sleep(50); tries += 1 }
    Thread.sleep(150)
    assert(jobs <= 8, s"100-version catch-up must cost a handful of jobs, got $jobs")

    // content parity with the serial path (forced via the threshold):
    // identical version-dir names, identical rows per version
    val obS = s"$base/outbox_serial"
    ChangeRelay.relay(spark, t, obS, batchThreshold = Int.MaxValue)
    val fs = new Path(obB).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirs(ob: String): Seq[String] =
      fs.listStatus(new Path(ob)).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).filterNot(_.startsWith(".")).sorted
    assert(dirs(obB) == dirs(obS), "identical version-dir layout")
    val sch = ChangeRelay.changeSchema(spark, t)
    def rows(ob: String) = spark.read.schema(sch).parquet(s"$ob/v*")
      .select("id", "s", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(rows(obB) == rows(obS), "identical outbox content")
    // and the batched outbox equals the batch change feed itself
    val feed = SnapshotLog.readChanges(spark, t, -1L)
      .select("id", "s", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(rows(obB) == feed)
  }

  test("streaming consumption: exactly-once continuation across new commits") {
    val base = tmpDir("chrelay"); val t = mkTable(base); val ob = s"$base/outbox"
    ChangeRelay.relay(spark, t, ob)
    val q = ChangeRelay.changeStream(spark, ob, ChangeRelay.changeSchema(spark, t))
      .writeStream.format("memory").queryName("chrelay_sink")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      q.processAllAvailable()
      val got1 = spark.table("chrelay_sink").count()
      val want1 = SnapshotLog.readChanges(spark, t, -1L).count()
      assert(got1 == want1)
      // new commit → relay → ONLY the new rows arrive
      SnapshotLog.write(Seq((300L, "w"), (301L, "w")).toDF("id", "s"), t, "append")
      ChangeRelay.relay(spark, t, ob)
      q.processAllAvailable()
      val rows = spark.table("chrelay_sink")
        .select("id", "_change_type", "_commit_version")
        .as[(Long, String, Long)].collect()
      assert(rows.length == want1 + 2, "exactly the two new rows, no replays")
      assert(rows.count(_._3 == 3L) == 2)
    } finally q.stop()
  }

  test("a streaming consumer maintains an IncrementalView-equivalent aggregate") {
    val base = tmpDir("chrelay"); val t = mkTable(base); val ob = s"$base/outbox"
    ChangeRelay.relay(spark, t, ob)
    // the classic consumer: fold signed counts per group continuously
    val q = ChangeRelay.changeStream(spark, ob, ChangeRelay.changeSchema(spark, t))
      .withColumn("_w", when(col("_change_type") === "insert", 1L).otherwise(-1L))
      .groupBy(pmod(col("id"), lit(2)).as("parity"))
      .agg(sum("_w").as("n_rows"))
      .writeStream.format("memory").queryName("chrelay_agg")
      .outputMode("complete")
      .option("checkpointLocation", s"$base/ckpt2").start()
    try {
      q.processAllAvailable()
      val got = spark.table("chrelay_agg")
        .as[(Long, Long)].collect().toMap
      val want = SnapshotLog.read(spark, t)
        .groupBy(pmod(col("id"), lit(2)).as("parity"))
        .agg(count(lit(1)).as("n")).as[(Long, Long)].collect().toMap
      assert(got == want, s"streamed state $got != table state $want")
    } finally q.stop()
  }
}
