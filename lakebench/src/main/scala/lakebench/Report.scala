package lakebench

/** Summary statistics over the recorded operations and spans. */
object Report {
  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Median over ops of the summed duration of the spans named `span`. */
  def spanMedian(trace: Trace, span: String, name: String): Metric = {
    val perOp = trace.spans.filter(_.name == span).groupBy(_.op).values.map(_.map(_.ms).sum).toSeq
    Metric(name, quantile(perOp, 0.5), "ms", perOp.size)
  }

  def counterMean(trace: Trace, counter: String, name: String, unit: String): Metric = {
    val xs = trace.counters.filter(_._2 == counter).map(_._3).toSeq
    Metric(name, mean(xs), unit, xs.size)
  }

  /** Op time during which no Spark job ran: driver-side work. */
  def driverSelfMs(trace: Trace, o: Op): Double = {
    val (s, e) = (trace.epochMs(o.startNs), trace.epochMs(o.endNs))
    val jobs = o.spark.toSeq.flatMap(_.jobIntervals).map { case (a, b) =>
      (math.max(a.toDouble, s), math.min(b.toDouble, e))
    }.filter { case (a, b) => b > a }
    o.ms - Trace.covered(jobs)
  }

  /** Layer metrics every workload has, over the traced ops. */
  def sparkLayers(trace: Trace, traced: Seq[Op], primaryKind: String): Seq[Metric] = {
    val c = traced.flatMap(_.spark)
    val n = traced.size.toLong
    def per(name: String, unit: String)(f: SparkCounters => Double) =
      Metric(name, mean(c.map(f)), unit, n)
    val prim = traced.filter(_.kind == primaryKind)
    val scanned = prim.flatMap(_.spark).map(_.scanRows).sum
    Seq(
      Metric("driver_self_ms", quantile(traced.map(driverSelfMs(trace, _)), 0.5), "ms", n),
      Metric("spark.plan_ms", quantile(c.map(_.planMs.toDouble), 0.5), "ms", n),
      per("spark.jobs", "count")(_.jobs.toDouble),
      per("spark.tasks", "count")(_.tasks.toDouble),
      per("spark.task_cpu_ms", "ms")(_.taskCpuNs / 1e6),
      per("spark.gc_ms", "ms")(_.gcMs.toDouble),
      per("spark.shuffle_write_bytes", "B")(_.shuffleWriteBytes.toDouble),
      per("spark.spill_bytes", "B")(_.spillBytes.toDouble),
      per("scan.files_read", "count")(_.scanFiles.toDouble),
      per("scan.bytes_read", "B")(_.scanBytes.toDouble),
      Metric("scan.row_yield", if (scanned > 0) prim.map(_.rows).sum.toDouble / scanned else 0.0,
        "fraction", prim.size))
  }
}
