package lakebench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.lake.{Clause, ClusteredWriter, Lakeshack, Metastore}

/** `lookup`: the reference's core path — zone-map pruning through the
  * Metastore, then a projected scan of the surviving files — and the
  * workload where pruning and per-query planning do most of the work.
  * It never touches `SnapshotLog` or `Dedup`. */
final class Lookup(ctx: Ctx) extends Workload {
  import ctx._

  val primaryKind = "query"
  private val rows = if (small) 20000L else Gen.LineitemRows
  private val nFiles = if (small) 8 else 64
  private val draws = new SplittableRandom(seed * 31 + 1)

  private var lake: Lakeshack = _
  private var fx = ""
  private var truthRows: Gen.ByKey = _

  private def source = Gen.lineitem(spark, seed, rows, nproc).drop("_batch")

  def fixture: String = fx

  def setup(dir: File): Unit = {
    val data = new File(dir, "lineitem").toString
    val stats = new File(dir, "stats").toString
    ClusteredWriter.write(source, data, "l_orderkey", nFiles)
    Metastore.update(spark, stats,
      Metastore.buildFromFooters(spark, data, "l_orderkey", Seq("l_shipdate")))
    lake = Lakeshack.fromStats(spark, data, stats, "l_orderkey", Seq("l_shipdate"))
    // the first query pays the engine's lazy set-up (file count, stats cache)
    execute(Seq(0L), None)
    fx = s"rows=$rows files=${Workload.parquetFiles(new File(data))} " +
      s"bytes=${Workload.dirBytes(new File(data))} stats_bytes=${Workload.dirBytes(new File(stats))}"
  }

  def warmUp(): Unit = {
    val warm = new SplittableRandom(seed * 31 + 2)
    // one whole rotation: every query shape of the timed rounds, so that
    // none is planned and code-generated for the first time on the clock
    (0 until 8).foreach(i => execute(keysOf(warm, i), dayOf(warm, i)))
  }

  def truth(): Unit = truthRows = new Gen.ByKey(source.select(Gen.Projection.map(col): _*).collect())

  /** Op i of a round draws 1, 2, 4 or 8 uniform keys, and a uniform
    * ship-date floor on every other op: a fixed rotation of 8 ops, so
    * every run sees the same mix. */
  private def keysOf(r: SplittableRandom, i: Int): Seq[Long] =
    Seq.fill(1 << (i / 2 % 4))(r.nextLong(Gen.OrderKeys)).distinct

  private def dayOf(r: SplittableRandom, i: Int): Option[Int] =
    if (i % 2 == 0) Some(r.nextInt(Gen.ShipDays)) else None

  private def execute(keys: Seq[Long], day: Option[Int]): Array[Row] = {
    val clauses = day.map(d => Clause("l_shipdate", ">=", Gen.dateOf(d))).toSeq
    val t0 = System.nanoTime()
    val df = trace.span("lakeshack.query") {
      val q = lake.query(keys, clauses, Some(Gen.Projection))
      lake.lastTelemetry.foreach { t =>
        trace.reported("metastore.prune", t0, (t.pruneSec * 1e9).toLong)
        if (t.filesTotal > 0) trace.count("metastore.files_scanned_frac", t.filesScanned.toDouble / t.filesTotal)
      }
      q
    }
    trace.span("lakeshack.exec")(df.collect())
  }

  private def expected(keys: Seq[Long], day: Option[Int]): (Long, Long) = {
    val floor = day.map(Gen.dateOf)
    val want = truthRows.of(keys).filter(r => floor.forall(!r.getDate(3).before(_)))
    (want.size.toLong, want.map(Gen.rowHash).sum)
  }

  /** One whole rotation of [[keysOf]] and [[dayOf]]. */
  def round(): Unit =
    (0 until 8).foreach { i =>
      val (keys, day) = (keysOf(draws, i), dayOf(draws, i))
      trace.op("query") {
        val got = execute(keys, day)
        (got.length.toLong, () => {
          val want = expected(keys, day)
          val have = (got.length.toLong, got.map(Gen.rowHash).sum)
          if (have == want) "" else s"keys=$keys day=$day: got (rows, checksum) $have, want $want"
        })
      }
    }

  def finish(): Seq[String] = Nil

  def planCheck(): Seq[String] =
    Workload.checkPlan("lookup query", lake.query(Seq(1L, 2L), Nil, Some(Gen.Projection)), pipeline = false)

  def reportE2E(): Seq[Metric] = Nil

  def reportLayers(): Seq[Metric] = Seq(
    Report.spanMedian(trace, "metastore.prune", "metastore.prune_ms"),
    Report.counterMean(trace, "metastore.files_scanned_frac", "metastore.files_scanned_frac", "fraction"),
    Report.spanMedian(trace, "lakeshack.query", "lakeshack.query_ms"),
    Report.spanMedian(trace, "lakeshack.exec", "lakeshack.exec_ms"))
}
