package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

import graft.lake.SnapshotLog

/** The snapshot format as a Structured Streaming SOURCE: relay each
  * committed version's row-level changes into an append-only OUTBOX
  * that a standard file stream reads — the log-shipping shape every
  * CDC deployment uses (table log → transport log → consumers), built
  * from two primitives Spark already trusts: the change feed
  * ([[SnapshotLog.readChanges]]) and the file source's seen-files
  * checkpoint.
  *
  * Why an outbox instead of a custom DataSource: the file stream
  * source already solves discovery, offset tracking, replay, and
  * back-pressure (`maxFilesPerTrigger`) with exactly-once semantics;
  * the only missing piece is ATOMIC, IDEMPOTENT publication of each
  * version's changes. [[relay]] provides that:
  *
  *  - version v's rows are written to a dot-prefixed stage dir
  *    (invisible to globs and parquet listing), then the WHOLE DIR is
  *    renamed to `<outbox>/v%012d` — one atomic publication per
  *    version, so a reader never sees a partial version;
  *  - the version dir IS the cursor and the idempotency key: a
  *    re-run (crash between rename and return, concurrent relay, a
  *    scheduler double-fire) finds the dir present — or loses the
  *    rename race — and skips, so no version ships twice;
  *  - consumers read `<outbox>/v*` with [[changeStream]]; new version
  *    dirs surface as new files in the next micro-batch, each row
  *    tagged `_change_type` / `_commit_version` like the batch feed.
  *
  * Scale: one relay call costs O(changed rows of the new versions) —
  * the feed's own contract — plus one O(dirs) outbox listing; nothing
  * rescans the table. Downstream cost is the consumer's own. A
  * no-row-change commit (compact/purge) publishes an empty version
  * dir — the marker advances, the stream sees nothing. Table-sized
  * commits (overwrite/rollback) follow the feed's contract: refused
  * unless `allowFullDiff = true`; the honest alternative is restarting
  * consumers from a full read of the new version. */
object ChangeRelay {

  private val VersionDir = """v(\d{12})""".r

  private def versionDir(outbox: Path, v: Long) = new Path(outbox, f"v$v%012d")

  /** Highest version already published to `outbox`, or -1. O(dirs). */
  def relayedVersion(spark: SparkSession, outbox: String): Long = {
    val p = new Path(outbox)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return -1L
    fs.listStatus(p).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case VersionDir(d) => d.toLong
          case _ => -1L
        }
    }.foldLeft(-1L)(math.max)
  }

  /** The schema rows in the outbox carry: the table's HEAD schema plus
    * the feed's `_change_type` / `_commit_version` tags. Pass this to
    * [[changeStream]] (a file stream needs its schema up front). */
  def changeSchema(spark: SparkSession, table: String): StructType = {
    val base = DataType.fromJson(SnapshotLog.state(spark, table).schemaJson)
      .asInstanceOf[StructType]
    StructType(base.fields.toSeq :+
      StructField("_change_type", StringType, nullable = false) :+
      StructField("_commit_version", LongType, nullable = false))
  }

  /** Publish every table version newer than the outbox's cursor, one
    * atomic dir per version. Returns the versions published by THIS
    * call (empty when the outbox is already at the table head).
    * Safe to call from anywhere — a timer, a commit hook, a
    * foreachBatch — and safe to call twice.
    *
    * CATCH-UP is batched: a backlog of `batchThreshold`+ versions is
    * read as ONE change-feed range (`readChanges(from, head)` spans
    * versions) written in ONE job partitioned by commit version, then
    * the per-version partition dirs rename into the outbox in
    * ASCENDING order — the one-atomic-dir-per-version contract (and
    * the cursor's "max dir implies all below" property) is preserved
    * while a 10k-commit backlog pays ~one job instead of 10k
    * sequential job latencies. Row-less versions in the range
    * (compact/purge) publish as empty marker dirs, exactly what their
    * serial publication contributes to a consumer: nothing. If the
    * range read refuses (an overwrite without `allowFullDiff`) or the
    * batched write fails, the serial per-version loop below takes over
    * — its idempotent skip makes mixing the two paths safe. */
  def relay(spark: SparkSession, table: String, outbox: String,
            allowFullDiff: Boolean = false, batchThreshold: Int = 4): Seq[Long] = {
    val head = SnapshotLog.currentVersion(spark, table)
    val from = relayedVersion(spark, outbox)
    if (head <= from) return Nil
    val out = new Path(outbox)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(out)
    if (head - from >= batchThreshold) {
      try return relayRange(spark, table, out, fs, from, head, allowFullDiff)
      catch { case scala.util.control.NonFatal(_) => () } // serial decides the error
    }
    val published = Seq.newBuilder[Long]
    for (v <- (from + 1) to head) {
      val dest = versionDir(out, v)
      if (!fs.exists(dest)) {
        val stage = new Path(out,
          s".stage-v$v-${java.util.UUID.randomUUID().toString.take(12)}")
        // keyless REBALANCE: a typical single version's change set is
        // small and lands in one advisory-sized file instead of one
        // sliver per upstream task, while AQE still splits a huge
        // version across writers (see relayRange's note). Spark drops
        // the hint when AQE is off (a foreachBatch session may run so):
        // the write is then the unhinted one, never a plain shuffle
        // into spark.sql.shuffle.partitions slivers
        SnapshotLog.readChanges(spark, table, v - 1, Some(v), allowFullDiff)
          .hint("rebalance")
          .write.mode("errorifexists").parquet(stage.toString)
        // atomic publication; a lost race (false) means someone else
        // published v first — drop our stage, keep going
        if (publishStage(fs, stage, dest)) published += v
        else fs.delete(stage, true)
      }
    }
    published.result()
  }

  /** The batched catch-up: one range read, one partitioned write, then
    * in-order renames. Outbox file content matches the serial path's —
    * the partition column is a DUPLICATE of `_commit_version`, so the
    * data files keep the real column the consumers' schema names. */
  private def relayRange(spark: SparkSession, table: String, out: Path,
                         fs: org.apache.hadoop.fs.FileSystem,
                         from: Long, head: Long,
                         allowFullDiff: Boolean): Seq[Long] = {
    import org.apache.spark.sql.functions.col
    val stageRoot = new Path(out,
      s".stage-range-${java.util.UUID.randomUUID().toString.take(12)}")
    // REBALANCE by the partition column before the write (guide §6 —
    // sensible output file sizing): without it every upstream task
    // writes a sliver into every version dir it holds rows for
    // (tasks × versions small files, ~128 at bench scale), and the
    // consumer pays per-file open + listing on every read-back. The
    // AQE rebalance coalesces each version's rows toward
    // advisoryPartitionSizeInBytes-sized writers AND splits a
    // skewed version across several, so a huge backfill version can
    // never funnel into one task — the row-count-bounded sizing a
    // plain repartition(col) (one task per version, a skew bomb at
    // scale) cannot give. Content is identical; only file layout
    // changes. With AQE off Spark drops the hint and the write is the
    // unhinted one.
    SnapshotLog.readChanges(spark, table, from, Some(head), allowFullDiff)
      .withColumn("__graft_cv", col("_commit_version"))
      .hint("rebalance", col("__graft_cv"))
      .write.mode("errorifexists").partitionBy("__graft_cv")
      .parquet(stageRoot.toString)
    val published = Seq.newBuilder[Long]
    try {
      for (v <- (from + 1) to head) {
        val dest = versionDir(out, v)
        if (!fs.exists(dest)) {
          val part = new Path(stageRoot, s"__graft_cv=$v")
          if (fs.exists(part)) {
            // dot-prefix the stage before publishing: if the rename
            // races a concurrent relay and nests under dest, the copy
            // is hidden from standard glob/listing readers for the
            // repair window (publishStage's probe-and-delete remains
            // the durable fix). stageRoot is uuid-private, so this
            // rename has no contention.
            val stage = new Path(stageRoot, s".__graft_cv=$v")
            fs.rename(part, stage)
            // a lost race means a concurrent relay published v first —
            // drop ours (idempotency key = the dir), keep going
            if (publishStage(fs, stage, dest)) published += v
          } else if (fs.mkdirs(dest)) {
            published += v // row-less commit: the marker dir alone
          }
        }
      }
    } finally fs.delete(stageRoot, true)
    published.result()
  }

  /** Atomic publication with NESTED-RENAME repair. Hadoop's
    * `rename(src, dst)` on HDFS-like stores, when `dst` is a directory
    * that appeared AFTER our exists-check (a concurrent relay winning
    * the race), moves `src` INSIDE it — `dest/<stageName>/…` — and
    * returns true, so a naive check-then-rename would leave version
    * v's rows visible TWICE to recursive consumers (both callers now
    * publish dot-prefixed stage names, so the transient nested copy is
    * at least hidden from standard glob/listing readers during the
    * repair window). After a claimed-successful rename, probe for our
    * stage dir nested under dest: if present we actually LOST the race
    * — delete the nested copy (the winner's publication stands) and
    * report false. One extra existence probe per publish, only on the
    * rename-true path. */
  private[streaming] def publishStage(fs: org.apache.hadoop.fs.FileSystem,
                                      stage: Path, dest: Path): Boolean = {
    if (!fs.rename(stage, dest)) return false
    val nested = new Path(dest, stage.getName)
    if (!fs.exists(nested)) true
    else { fs.delete(nested, true); false }
  }

  /** Remove stage dirs older than `graceMs` — debris from relays that
    * died between write and rename. Never touches published versions. */
  def cleanStages(spark: SparkSession, outbox: String, graceMs: Long): Seq[String] = {
    val p = new Path(outbox)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val cutoff = System.currentTimeMillis() - graceMs
    fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(".stage-") &&
        st.getModificationTime < cutoff)
      .map { st => fs.delete(st.getPath, true); st.getPath.getName }
  }

  /** The outbox as a streaming DataFrame: standard file source over
    * the published version dirs — exactly-once via its own seen-files
    * checkpoint, back-pressure via `maxFilesPerTrigger`. */
  def changeStream(spark: SparkSession, outbox: String, schema: StructType,
                   maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(s"$outbox/v*")
  }
}
