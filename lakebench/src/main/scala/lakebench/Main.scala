package lakebench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a workload, drive it as a closed loop with
  * one client thread for `--seconds` (whole rounds of ops), check every
  * answer, and report.
  *
  * Untraced (`--trace 0`): the end-to-end metrics. Traced (`--trace 1`):
  * untraced rounds alternate with rounds that have spans and Spark
  * listeners on; the layer metrics come from the traced rounds and the
  * tracing overhead from comparing the two. The result object
  * goes to `--result`, the human-readable report to stdout.
  *
  * Usage: lakebench.Main --workload lookup|ingest|dedup --seed N
  *   --seconds S --trace 0|1 --scratch DIR --result FILE
  *   [--launched-ms EPOCH_MS] [--small] */
object Main {
  /** Set-up repetitions; `setup_s` reports their median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap ++
      argv.filter(_ == "--small").map(_.drop(2) -> "1")
    def need(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val scratch = new File(need("scratch"))
    val small = args.contains("small")
    val launchedMs = args.get("launched-ms").map(_.toDouble).getOrElse(System.currentTimeMillis().toDouble)
    val nproc = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - launchedMs) / 1e3
    println(s"lakebench: workload=$workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} nproc=$nproc")
    try {
      val trace = new Trace(spark)
      val wl = Workload(workload, new Ctx(spark, seed, trace, nproc, small))

      val reps = if (small) 1 else SetupReps
      val setupS = (0 until reps).map { r =>
        val t = System.nanoTime()
        wl.setup(new File(scratch, s"setup-$r"))
        val s = (System.nanoTime() - t) / 1e9
        if (r > 0) Workload.delete(new File(scratch, s"setup-${r - 1}"))
        s
      }
      val phases = scala.collection.mutable.LinkedHashMap("session" -> sessionS, "setup" -> setupS.sum)
      def phase[T](name: String)(body: => T): T = {
        val t = System.nanoTime()
        try body finally phases(name) = (System.nanoTime() - t) / 1e9
      }
      phase("warm_up")(wl.warmUp())
      phase("truth")(wl.truth())

      // Whole rounds until the deadline, so every run averages the same
      // op mix. A traced run runs rounds in blocks of four, untraced,
      // traced, traced, untraced: the layer metrics come from the traced
      // rounds, and the tracing overhead from comparing the two kinds,
      // whose order cancels a steady drift such as the JIT still settling.
      val rounds = ArrayBuffer.empty[(Boolean, Seq[Op])]
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      phase("timed") {
        while (rounds.isEmpty || System.nanoTime() < deadline || (traced && rounds.size % 4 != 0)) {
          val on = traced && (rounds.size % 4 == 1 || rounds.size % 4 == 2)
          val first = trace.ops.size
          if (on) trace.startTracing()
          wl.round()
          if (on) trace.stopTracing()
          rounds += ((on, trace.ops.drop(first).toSeq))
        }
      }
      val untraced = rounds.filterNot(_._1).flatMap(_._2).toSeq
      val tracedOps = rounds.filter(_._1).flatMap(_._2).toSeq

      val problems = phase("checks")(wl.planCheck() ++ wl.finish())
      val all = trace.ops.toSeq
      val failed = all.filterNot(_.ok)

      val prim = untraced.filter(_.kind == wl.primaryKind)
      // wall-clock latency stretches with other tenants' load on a shared
      // machine far more than the CPU an op costs, so the CPU is gated:
      // over every op of the untraced rounds, so that ingest's commits
      // weigh in beside its reads
      val contract = Seq(
        Metric("setup_s", sessionS + Report.quantile(setupS, 0.5), "s", reps),
        Metric("op_cpu_ms", Report.mean(untraced.map(_.cpuMs)), "ms", untraced.size),
        Metric("peak_rss_mb", Main.peakRssMb(), "MB", 1))

      println(s"fixture: ${wl.fixture}")
      println(f"setup: jvm_session_s=$sessionS%.3f reps_s=${setupS.map(s => f"$s%.3f").mkString("[", ", ", "]")}")
      println(phases.map { case (k, v) => f"$k=$v%.1f" }.mkString("phases_s: ", " ", ""))
      def show(m: Metric): Unit = println(f"  ${m.name}%-32s ${m.value}%14.6g ${m.unit}%-8s n=${m.n}")

      val jsonMetrics = if (!traced) {
        println("end-to-end (result metrics):")
        contract.foreach(show)
        println("end-to-end (report only):")
        val latency = prim.map(_.ms)
        val named = if (wl.primaryKind == "pipeline") Nil else Seq(
          Metric("read_p50_ms", Report.quantile(latency, 0.5), "ms", prim.size),
          Metric("read_p90_ms", Report.quantile(latency, 0.9), "ms", prim.size),
          Metric("read_ops_per_s", prim.size / (latency.sum / 1e3), "ops/s", prim.size))
        (Seq(
          Metric("op_p50_ms", Report.quantile(latency, 0.5), "ms", prim.size),
          Metric("op_p90_ms", Report.quantile(latency, 0.9), "ms", prim.size),
          Metric("ops_per_s", untraced.size / (untraced.map(_.ms).sum / 1e3), "1/s", untraced.size)) ++
          named ++ wl.reportE2E() :+
          Metric("failed_frac", failed.size.toDouble / math.max(1, all.size), "fraction", all.size)).foreach(show)
        contract
      } else {
        // median round time, traced against untraced rounds of the same run
        val roundMs = (on: Boolean) =>
          Report.quantile(rounds.filter(_._1 == on).map(_._2.map(_.ms).sum).toSeq, 0.5)
        val overhead = Metric("trace.overhead_frac", roundMs(true) / roundMs(false) - 1, "fraction",
          rounds.count(_._1))
        val layers = wl.reportLayers()
        val spark = Report.sparkLayers(trace, tracedOps, wl.primaryKind)
        println(s"layers (traced rounds=${rounds.count(_._1)} ops=${tracedOps.size}, " +
          s"untraced rounds=${rounds.count(!_._1)} ops=${untraced.size}):")
        (layers ++ spark :+ overhead).foreach(show)
        val measured = (layers ++ spark :+ overhead).map(m => m.name -> m).toMap
        Main.perLayer.map { case (n, unit) => measured.getOrElse(n, Metric(n, 0.0, unit, 0)) }
      }
      println(s"correctness: ${if (failed.isEmpty && problems.isEmpty) "ok" else "FAILED"} " +
        s"(${all.size} ops attempted, ${failed.size} failed)")
      (failed.map(o => s"op ${o.id} (${o.kind}): ${o.error}").take(5) ++ problems).foreach(p => println(s"  $p"))

      trace.write(new File(need("result") + ".trace.jsonl"))
      val body = jsonMetrics.map(m => s""""${m.name}": {"value": ${Main.num(m.value)}, "unit": "${m.unit}"}""")
      val json = s"""{"correct": ${failed.isEmpty && problems.isEmpty}, "attempted": ${all.size}, """ +
        s""""failed": ${failed.size}, "metrics": {${body.mkString(", ")}}}"""
      val out = new java.io.PrintWriter(need("result"), "UTF-8")
      try out.println(json) finally out.close()
    } catch {
      case e: Throwable => spark.stop(); throw e
    }
    // Nothing is left to flush: skip the session's orderly shutdown, whose
    // temporary files go with the run's scratch directory anyway.
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  /** (name, unit) of the per-layer metrics in a traced run's result:
    * those every workload has, and layer counts that read 0 where a
    * workload does not use the layer. */
  val perLayer: Seq[(String, String)] = Seq(
    "driver_self_ms" -> "ms", "spark.plan_ms" -> "ms", "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_ms" -> "ms", "spark.gc_ms" -> "ms", "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B", "scan.files_read" -> "count", "scan.bytes_read" -> "B",
    "scan.row_yield" -> "fraction", "trace.overhead_frac" -> "fraction",
    "metastore.files_scanned_frac" -> "fraction", "snapshotlog.files_added" -> "count",
    "snapshotlog.bytes_written" -> "B", "snapshotlog.live_files" -> "count",
    "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count", "dedup.pair_yield" -> "fraction")

  /** JSON number with every digit; non-finite values become 0. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  /** High-water resident set of this process. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
