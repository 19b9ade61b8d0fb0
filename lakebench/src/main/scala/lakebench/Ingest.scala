package lakebench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.lake.SnapshotLog

/** `ingest`: writes beside reads over one table. sf0.1 `lineitem`
  * arrives in 4 hash-split batches through `SnapshotLog.appendBatch`
  * (op kind `commit`); after each commit two point lookups on committed
  * keys (kind `read`) and one range aggregate (kind `range`) read the
  * head through `SnapshotLog.readPruned`. One round is one such cycle
  * over an empty table. Every batch spans the whole key domain, so
  * reads touch more files as the table grows, and work moved from reads
  * into commits (or back) shows up as a trade between the two in the
  * CPU of the whole cycle. It never touches `Metastore.prune`,
  * `Lakeshack` or `Dedup`. */
final class Ingest(ctx: Ctx) extends Workload {
  import ctx._

  val primaryKind = "read"
  private val rows = if (small) 20000L else Gen.LineitemRows
  private val draws = new SplittableRandom(seed * 31 + 3)

  /** The batches as they arrive: in memory, one partition per batch. */
  private var source: DataFrame = _
  private var cycleRoot: File = _
  private var cycles = 0
  private var fx = ""
  private val commitMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val tables = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  private val problems = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Projected rows plus `l_quantity` and `_batch`, grouped by key. */
  private var truthRows: Gen.ByKey = _
  private var batchRows: Array[Long] = _
  /** Keys of each batch, for drawing lookups on committed keys. */
  private var batchKeys: Array[Array[Long]] = _

  def fixture: String = fx

  def setup(dir: File): Unit = {
    // the batches are the input, not the table's set-up: made once
    if (source == null) {
      source = Gen.lineitem(spark, seed, rows, nproc)
        .repartitionByRange(Gen.Batches, col("_batch")).cache()
      source.count()
    }
    cycleRoot = new File(dir, "tables")
    // the first commit and read pay the log's lazy set-up
    val table = new File(cycleRoot, "first").toString
    commit(table, 0)
    pointRead(table, Seq(0L))
    Workload.delete(new File(table))
    fx = s"rows=$rows batches=${Gen.Batches} (in memory)"
  }

  /** One whole cycle, unchecked: commits to a non-empty table and reads
    * over more files take code paths the set-up's single commit does not. */
  def warmUp(): Unit = {
    val table = new File(cycleRoot, "warm").toString
    val warm = new SplittableRandom(seed * 31 + 4)
    (0 until Gen.Batches).foreach { b =>
      commit(table, b)
      pointRead(table, Seq(warm.nextLong(Gen.OrderKeys)))
      rangeRead(table, warm.nextLong(Gen.OrderKeys))
    }
    Workload.delete(new File(table))
  }

  def truth(): Unit = {
    truthRows = new Gen.ByKey(Gen.lineitem(spark, seed, rows, nproc)
      .select((Gen.Projection :+ "l_quantity" :+ "_batch").map(col): _*).collect())
    val rowsOf = truthRows.sorted.groupBy(_.getInt(5))
    batchRows = Array.tabulate(Gen.Batches)(b => rowsOf(b).length.toLong)
    batchKeys = Array.tabulate(Gen.Batches)(b => rowsOf(b).map(_.getLong(0)))
  }

  private def batchDf(b: Int) = source.where(col("_batch") === b).drop("_batch")

  private def commit(table: String, b: Int): Long =
    trace.span("snapshotlog.commit") {
      SnapshotLog.appendBatch(batchDf(b), table, s"batch-$b", clusterColumn = Some("l_orderkey"))
    }

  private def pointRead(table: String, keys: Seq[Long]): Array[org.apache.spark.sql.Row] = {
    val df = trace.span("snapshotlog.read_pruned")(SnapshotLog.readPruned(spark, table, "l_orderkey"))
    trace.span("snapshotlog.exec") {
      df.where(col("l_orderkey").isin(keys: _*)).select(Gen.Projection.map(col): _*).collect()
    }
  }

  /** Row count and quantity total over ~2% of the key range. */
  private def rangeRead(table: String, lo: Long): (Long, Long) = {
    val hi = lo + Gen.OrderKeys / 50
    val df = trace.span("snapshotlog.read_pruned")(SnapshotLog.readPruned(spark, table, "l_orderkey"))
    val r = trace.span("snapshotlog.exec") {
      df.where(col("l_orderkey") >= lo && col("l_orderkey") < hi)
        .agg(count(lit(1)), sum(col("l_quantity"))).collect()(0)
    }
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getDouble(1).toLong)
  }

  /** Expected (rows, checksum) of keys over batches 0..upTo. */
  private def expectPoint(keys: Seq[Long], upTo: Int): (Long, Long) = {
    val want = truthRows.of(keys).filter(_.getInt(5) <= upTo)
    (want.size.toLong, want.map(Gen.rowHash).sum)
  }

  /** Expected (rows, quantity total) over [lo, lo + 2% of keys), batches 0..upTo. */
  private def expectRange(lo: Long, upTo: Int): (Long, Long) = {
    val want = truthRows.of(lo until math.min(lo + Gen.OrderKeys / 50, Gen.OrderKeys)).filter(_.getInt(5) <= upTo)
    (want.size.toLong, want.map(_.getDouble(4).toLong).sum)
  }

  /** One cycle: an empty table, every batch committed, reads after each. */
  def round(): Unit = {
    val dir = new File(cycleRoot, s"cycle-$cycles")
    val table = dir.toString
    cycles += 1
    var committed = 0
    (0 until Gen.Batches).foreach { b =>
      val before = if (trace.tracing) Workload.dirBytes(dir) else 0L
      val op = trace.op("commit") {
        val v = commit(table, b)
        (batchRows(b), () => if (v == b) "" else s"batch $b committed as version $v")
      }
      if (op.ok) committed += 1
      commitMs += op.ms
      if (trace.tracing) {
        trace.countFor(op, "snapshotlog.bytes_written", (Workload.dirBytes(dir) - before).toDouble)
        trace.countFor(op, "snapshotlog.files_added",
          SnapshotLog.history(spark, table).where(col("version") === b).head().getLong(3).toDouble)
        trace.countFor(op, "snapshotlog.live_files", SnapshotLog.state(spark, table).files.size.toDouble)
      }
      (0 until 2).foreach { _ =>
        val bk = batchKeys(draws.nextInt(b + 1))
        val keys = Seq(bk(draws.nextInt(bk.length)))
        trace.op("read") {
          val got = pointRead(table, keys)
          (got.length.toLong, () => {
            val have = (got.length.toLong, got.map(Gen.rowHash).sum)
            val want = expectPoint(keys, b)
            if (have == want) "" else s"after batch $b, keys $keys: got $have, want $want"
          })
        }
      }
      val lo = draws.nextLong(Gen.OrderKeys - Gen.OrderKeys / 50)
      trace.op("range") {
        val have = rangeRead(table, lo)
        (1L, () => {
          val want = expectRange(lo, b)
          if (have == want) "" else s"after batch $b, range from $lo: got $have, want $want"
        })
      }
    }
    verifyTable(table, committed)
    tables += ((Workload.parquetFiles(dir), Workload.dirBytes(dir)))
    Workload.delete(dir)
  }

  /** A fresh session must see every acknowledged batch, and history one
    * version per commit. */
  private def verifyTable(table: String, committed: Int): Unit = {
    val fresh = spark.newSession()
    val got = SnapshotLog.read(fresh, table).select(Gen.Projection.map(col): _*).collect()
    val have = (got.length.toLong, got.map(Gen.rowHash).sum)
    val want = expectPoint(0L until Gen.OrderKeys, Gen.Batches - 1)
    if (have != want) problems += s"table after $committed commits: got $have, want $want"
    val versions = SnapshotLog.history(fresh, table).count()
    if (versions != Gen.Batches)
      problems += s"history shows $versions versions for ${Gen.Batches} commits"
  }

  def finish(): Seq[String] = problems.toSeq

  def planCheck(): Seq[String] = {
    val table = new File(cycleRoot, "plan").toString
    commit(table, 0)
    val df = SnapshotLog.readPruned(spark, table, "l_orderkey")
      .where(col("l_orderkey").isin(batchKeys(0).take(2): _*)).select(Gen.Projection.map(col): _*)
    try Workload.checkPlan("ingest point read", df, pipeline = false)
    finally Workload.delete(new File(table))
  }

  def reportE2E(): Seq[Metric] = {
    val total = trace.ops.map(_.ms).sum / 1e3
    val committed = trace.ops.filter(o => o.kind == "commit" && o.ok).map(_.rows).sum
    Seq(
      Metric("write_p50_ms", Report.quantile(commitMs.toSeq, 0.5), "ms", commitMs.size),
      Metric("ingest_rows_per_s", committed / total, "rows/s", cycles),
      Metric("bytes_per_row", Report.mean(tables.map(_._2.toDouble / batchRows.sum).toSeq), "B/row",
        tables.size),
      Metric("table_files", Report.mean(tables.map(_._1.toDouble).toSeq), "count", tables.size))
  }

  def reportLayers(): Seq[Metric] = {
    val driverMs = trace.ops.filter(o => o.kind == "commit" && o.spark.isDefined)
      .map(Report.driverSelfMs(trace, _))
    Seq(
      Report.spanMedian(trace, "snapshotlog.commit", "snapshotlog.commit_ms"),
      Metric("snapshotlog.commit_driver_ms", Report.quantile(driverMs.toSeq, 0.5), "ms", driverMs.size),
      Report.counterMean(trace, "snapshotlog.files_added", "snapshotlog.files_added", "count"),
      Report.counterMean(trace, "snapshotlog.bytes_written", "snapshotlog.bytes_written", "B"),
      Report.spanMedian(trace, "snapshotlog.read_pruned", "snapshotlog.read_pruned_ms"),
      Report.counterMean(trace, "snapshotlog.live_files", "snapshotlog.live_files", "count"),
      Report.spanMedian(trace, "snapshotlog.exec", "snapshotlog.exec_ms"))
  }
}
