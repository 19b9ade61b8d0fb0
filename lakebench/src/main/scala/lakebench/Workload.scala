package lakebench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every workload shares: the session, the seed and the trace.
  * `small` shrinks the inputs for the self-test. */
final class Ctx(val spark: SparkSession, val seed: Long, val trace: Trace, val nproc: Int,
                val small: Boolean)

/** A named value for the report, with its unit and sample count. */
final case class Metric(name: String, value: Double, unit: String, n: Long)

trait Workload {
  /** The op kind whose latency is `op_p50_ms` / `op_p90_ms`. */
  def primaryKind: String

  /** One set-up repetition under `dir`: fixture write, stats harvest,
    * open, and the first operation, which pays any lazy set-up. The last
    * repetition's fixture serves the timed run. */
  def setup(dir: File): Unit

  /** Operations run once after set-up, untimed, until the JIT and the
    * code generator have compiled the timed path. */
  def warmUp(): Unit

  /** Ground truth from the generator alone, never from the code under
    * test. Untimed. */
  def truth(): Unit

  /** Sizes of the inputs (rows, files, bytes), printed with the metrics. */
  def fixture: String

  /** One round of timed operations through `ctx.trace`: the smallest
    * run of ops that holds the workload's whole op mix. A run times
    * whole rounds only. */
  def round(): Unit

  /** End-of-run correctness checks; each string is one failure. */
  def finish(): Seq[String]

  /** Plan shapes every timed action must keep; each string is one
    * failure. Checked once per run, outside the timed operations. */
  def planCheck(): Seq[String]

  /** End-to-end metrics only this workload has, for the report. */
  def reportE2E(): Seq[Metric]

  /** Layer metrics only this workload has, from the traced phase. */
  def reportLayers(): Seq[Metric]
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "lookup" => new Lookup(ctx)
    case "ingest" => new Ingest(ctx)
    case "dedup" => new DedupWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Checks the plan of a timed action: it must keep its Parquet scan,
    * and its joins and exchanges when `pipeline`. Prints the shape next to
    * that of the same frame's `count()`, which Catalyst may prune down to
    * a bare scan — the reason the benchmark never times `count()`. */
  def checkPlan(what: String, df: DataFrame, pipeline: Boolean): Seq[String] = {
    def shape(d: DataFrame): (Int, Int, Int) = {
      val ops = SparkProbe.operators(d.queryExecution.executedPlan)
      (ops.count(_.startsWith("FileSourceScan")), ops.count(_.contains("Join")),
        ops.count(_.startsWith("ShuffleExchange")))
    }
    val (s, j, x) = shape(df)
    val (cs, cj, cx) = shape(df.groupBy().count())
    println(s"plan: $what: scans=$s joins=$j exchanges=$x; count() form: scans=$cs joins=$cj exchanges=$cx")
    Seq(
      if (s == 0) Some(s"$what: plan reads no Parquet file") else None,
      if (pipeline && j == 0) Some(s"$what: plan has no join") else None,
      if (pipeline && x == 0) Some(s"$what: plan has no exchange") else None).flatten
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles).toSeq.flatten.map(dirBytes).sum

  def parquetFiles(f: File): Long =
    if (f.isFile) (if (f.getName.endsWith(".parquet")) 1L else 0L)
    else Option(f.listFiles).toSeq.flatten.map(parquetFiles).sum

  def delete(f: File): Unit = {
    Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }
}
