package lakebench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.LakebenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters of one operation, gathered by [[SparkProbe]]. */
final class SparkCounters {
  var jobs = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var planMs = 0L
  var scanFiles = 0L
  var scanBytes = 0L
  var scanRows = 0L
  var gcMs = 0L
  /** Wall-clock (epoch ms) intervals during which a Spark job ran. */
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
}

/** Listener pair the benchmark registers on its own session in traced
  * runs: a `SparkListener` for jobs and task metrics, and a
  * `QueryExecutionListener` for planning time and file-scan totals.
  * The client loop is closed and single-threaded, so every event
  * delivered between two [[take]] calls belongs to the operation that
  * ran between them. */
final class SparkProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private var cur = new SparkCounters
  private val openJobs = scala.collection.mutable.Map.empty[Int, Long]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1
    openJobs(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(s => cur.jobIntervals += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cur.taskCpuNs += m.executorCpuTime
      cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      cur.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.tracker.phases.values.map(_.durationMs).sum
    val (files, bytes, rows) = SparkProbe.scanTotals(qe.executedPlan)
    synchronized {
      cur.planMs += plan
      cur.scanFiles += files
      cur.scanBytes += bytes
      cur.scanRows += rows
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()

  /** Counters since the previous call, once every pending event has
    * been delivered. A job still open is carried into the next bucket. */
  def take(): SparkCounters = {
    LakebenchBridge.drain(spark.sparkContext)
    synchronized {
      val out = cur
      cur = new SparkCounters
      out
    }
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object SparkProbe {
  /** (files, bytes, rows) over every Parquet scan of an executed plan,
    * descending into adaptive stages, which hide their subtrees from
    * `children`. */
  def scanTotals(plan: SparkPlan): (Long, Long, Long) = {
    var files = 0L; var bytes = 0L; var rows = 0L
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: ReusedExchangeExec => ()
        case s: FileSourceScanExec =>
          s.metrics.get("numFiles").foreach(files += _.value)
          s.metrics.get("filesSize").foreach(bytes += _.value)
          s.metrics.get("numOutputRows").foreach(rows += _.value)
        case _ => ()
      }
      p.children.foreach(walk)
    }
    walk(plan)
    (files, bytes, rows)
  }

  /** Operator class names of a physical plan, adaptive stages included. */
  def operators(plan: SparkPlan): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    def walk(p: SparkPlan): Unit = {
      out += p.getClass.getSimpleName
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case _ => ()
      }
      p.children.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }
}

/** One span: a call into a layer, timed by the benchmark around it. */
final case class Span(name: String, op: Int, parent: Int, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One timed operation of the closed loop. `cpuNs` is the CPU time it
  * cost on every Java thread of the process: the client thread's, the
  * driver's helper pools (broadcast builds, scheduling, result fetching,
  * listener delivery) and the executor threads (task deserialisation,
  * run and result serialisation). The JIT compiler and the collector
  * run outside Java threads and are left out: their CPU follows the
  * JVM's warm-up and heap sizing more than the op. Unlike its wall time,
  * this does not stretch when other processes compete for the cores. */
final case class Op(id: Int, kind: String, startNs: Long, endNs: Long, cpuNs: Long, rows: Long,
                    ok: Boolean, error: String, spark: Option[SparkCounters]) {
  def ms: Double = (endNs - startNs) / 1e6
  def cpuMs: Double = cpuNs / 1e6
}

/** Records operations always and spans, counters and Spark counters
  * only when tracing is on. Everything stays in memory until the run
  * ends. */
final class Trace(spark: SparkSession) {
  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  /** (op id, counter name, value) */
  val counters = ArrayBuffer.empty[(Int, String, Double)]

  private var probe: Option[SparkProbe] = None
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time of every live Java thread, by thread id (ids are never
    * reused). A thread that starts and ends inside one op is missed; the
    * session's pools keep theirs alive for a minute when idle. */
  private def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.iterator.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  private def cpuSince(before: Map[Long, Long]): Long =
    threadCpu().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum

  private var opId = -1
  private var stack: List[Int] = Nil
  // anchors nanoTime to the epoch-ms clock Spark stamps job events with
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  def epochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  def tracing: Boolean = probe.isDefined

  def startTracing(): Unit = if (probe.isEmpty) {
    LakebenchBridge.drain(spark.sparkContext)
    probe = Some(new SparkProbe(spark))
  }

  def stopTracing(): Unit = { probe.foreach(_.stop()); probe = None }

  /** Runs one operation. `body` returns the rows it moved and a check
    * of its answer, run after the clock stops; the check returns "" when
    * the answer is right. An exception or a wrong answer fails the op. */
  def op(kind: String)(body: => (Long, () => String)): Op = {
    probe.foreach(_.take())
    LakebenchBridge.drain(spark.sparkContext)
    val gc0 = Trace.gcMs()
    opId = ops.size
    val cpu0 = threadCpu()
    val s = System.nanoTime()
    val got = try Right(body) catch { case e: Exception => Left(Trace.describe(e)) }
    val e = System.nanoTime()
    // the op's listener events are part of its cost
    LakebenchBridge.drain(spark.sparkContext)
    val cpu = cpuSince(cpu0)
    val sc = probe.map { p =>
      val c = p.take()
      c.gcMs = Trace.gcMs() - gc0
      c
    }
    val (rows, error) = got match {
      case Left(err) => (0L, err)
      case Right((n, check)) =>
        (n, try check() catch { case ex: Exception => Trace.describe(ex) })
    }
    val o = Op(opId, kind, s, e, cpu, rows, error.isEmpty, error, sc)
    ops += o
    opId = -1
    o
  }

  /** Times `body` as a span named `name` under the enclosing span. */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val idx = spans.size
      spans += Span(name, opId, stack.headOption.getOrElse(-1), System.nanoTime(), 0L)
      stack = idx :: stack
      try body
      finally {
        stack = stack.tail
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      }
    }

  /** A span the program measured itself (e.g. `QueryTelemetry.pruneSec`),
    * placed at the start of the enclosing span. */
  def reported(name: String, startNs: Long, durNs: Long): Unit =
    if (tracing) spans += Span(name, opId, stack.headOption.getOrElse(-1), startNs, startNs + durNs)

  def count(name: String, value: Double): Unit =
    if (tracing) counters += ((opId, name, value))

  /** Counter attributed to an already finished op. */
  def countFor(op: Op, name: String, value: Double): Unit =
    if (tracing) counters += ((op.id, name, value))

  /** Spans and ops as JSON lines, for offline inspection. */
  def write(path: java.io.File): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      ops.foreach(o => w.println(
        f"""{"type":"op","id":${o.id},"kind":"${o.kind}","start_ms":${epochMs(o.startNs)}%.3f,""" +
          f""""end_ms":${epochMs(o.endNs)}%.3f,"cpu_ms":${o.cpuMs}%.3f,"rows":${o.rows},"ok":${o.ok}}"""))
      spans.zipWithIndex.foreach { case (s, i) => w.println(
        f"""{"type":"span","id":$i,"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
          f""""start_ms":${epochMs(s.startNs)}%.3f,"end_ms":${epochMs(s.endNs)}%.3f}""") }
    } finally w.close()
  }
}

object Trace {
  def describe(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}"

  def gcMs(): Long = {
    var t = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach { b =>
      t += math.max(0L, b.getCollectionTime)
    }
    t
  }

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var end = Double.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total
  }
}
