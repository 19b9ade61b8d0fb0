package lakebench

import java.io.File

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{col, count, lit, sum, when}
import org.apache.spark.sql.types._

import graft.ops.Dedup

/** `dedup`: the LLM-data-pipeline operators, bound by CPU and shuffle
  * inside `ops.Dedup` and the `functions` kernels. One op is the whole
  * pipeline over a 10.5k-document corpus: MinHash near-duplicate pairs and
  * SimHash candidate pairs (verified by exact Jaccard), their duplicate
  * clusters, one keeper per cluster, and the deduplicated corpus written
  * to the `noop` sink. It never touches a lake layer. */
final class DedupWorkload(ctx: Ctx) extends Workload {
  import ctx._

  val primaryKind = "pipeline"
  private val threshold = 0.5
  private val baseDocs = if (small) 250 else 2500

  private var corpusPath: String = _
  private var docs: IndexedSeq[Gen.Doc] = _
  private var fx = ""
  private lazy val byId: Map[Long, Int] = docs.indices.map(i => docs(i).id -> i).toMap
  private val shingleCache = scala.collection.mutable.HashMap.empty[Long, Set[String]]
  private val recall = scala.collection.mutable.ArrayBuffer.empty[Double]

  def fixture: String = fx

  def setup(dir: File): Unit = {
    if (docs == null) docs = Gen.documents(seed, baseDocs)
    val rows = new java.util.ArrayList[Row](docs.size)
    docs.foreach(d => rows.add(Row(d.id, d.text, d.text.length)))
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType), StructField("n_chars", IntegerType)))
    corpusPath = new File(dir, "documents").toString
    spark.createDataFrame(rows, schema).repartition(8).write.parquet(corpusPath)
    fx = s"docs=${docs.size} files=${Workload.parquetFiles(new File(corpusPath))} " +
      s"bytes=${Workload.dirBytes(new File(corpusPath))} planted=${docs.count(_.plantedFrom >= 0)}"
  }

  /** Two pipelines: a pipeline's CPU still falls by a quarter from the
    * second to the third, as the JIT compiles the kernels. */
  def warmUp(): Unit = (0 until 2).foreach(_ => pipeline())

  def truth(): Unit = ()

  private def corpus: DataFrame = spark.read.parquet(corpusPath)

  private def pairsOf(df: DataFrame): Array[(Long, Long)] =
    df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))

  /** One pipeline run: (pairs, (rows, kept) observed on the output). */
  private def pipeline(): (Set[(Long, Long)], (Long, Long)) = {
    val input = corpus
    val mh = trace.span("dedup.minhash") {
      pairsOf(Dedup.minhashNearDup(input, "doc_id", "text", threshold))
    }
    val sh = trace.span("dedup.simhash") {
      pairsOf(Dedup.verifiedJaccard(input,
        Dedup.simhashCandidates(Dedup.simhash(input, "doc_id", "text")), "doc_id", "text",
        threshold = threshold))
    }
    val pairs = (mh ++ sh).map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    trace.count("dedup.verified_pairs", pairs.size.toDouble)
    val pairRows = new java.util.ArrayList[Row](pairs.size)
    pairs.foreach { case (a, b) => pairRows.add(Row(a, b)) }
    val pairDf = spark.createDataFrame(pairRows, StructType(Seq(
      StructField("doc_a", LongType, nullable = false), StructField("doc_b", LongType, nullable = false))))
    val kept = trace.span("dedup.clusters") {
      Dedup.keepBest(input, pairDf, "doc_id", order = Seq(col("n_chars").desc))
    }
    val obs = Observation("lakebench.dedup")
    trace.span("dedup.keep_best") {
      kept.observe(obs, count(lit(1)).as("rows"), sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
        .where(col("keep")).write.format("noop").mode("overwrite").save()
    }
    val m = obs.get
    (pairs, (m("rows").asInstanceOf[Long], m("kept").asInstanceOf[Long]))
  }

  private def shingles(id: Long): Set[String] =
    shingleCache.getOrElseUpdate(id, Gen.shingles(docs(byId(id)).text))

  /** Every pair is a real near-duplicate and every cluster keeps exactly
    * one document; `dedup_recall` over the planted pairs on the side. */
  private def check(pairs: Set[(Long, Long)], observed: (Long, Long)): String = {
    val bad = pairs.find { case (a, b) =>
      a == b || !byId.contains(a) || !byId.contains(b) ||
        Gen.jaccard(shingles(a), shingles(b)) < threshold
    }
    if (bad.isDefined) return s"pair ${bad.get} is not a near-duplicate at $threshold"
    // components of the pair graph, by union-find
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val merged = parent.keys.size - parent.keys.map(find).toSet.size
    val want = (docs.size.toLong, docs.size.toLong - merged)
    if (observed != want) return s"keepBest output (rows, kept) $observed, want $want"
    recall += planted.count(pairs.contains).toDouble / math.max(1, planted.size)
    ""
  }

  /** Planted (original, copy) pairs whose exact Jaccard reaches the
    * threshold: the pairs a correct pipeline should find. */
  private lazy val planted = docs.filter(_.plantedFrom >= 0)
    .map(d => (math.min(d.id, d.plantedFrom), math.max(d.id, d.plantedFrom)))
    .filter { case (a, b) => Gen.jaccard(shingles(a), shingles(b)) >= threshold }

  def round(): Unit =
    trace.op("pipeline") {
      val (pairs, observed) = pipeline()
      (docs.size.toLong, () => check(pairs, observed))
    }

  def finish(): Seq[String] = Nil

  def planCheck(): Seq[String] = {
    val c = corpus
    val onePair = spark.createDataFrame(java.util.List.of(Row(docs(0).id, docs(1).id)), StructType(Seq(
      StructField("doc_a", LongType, nullable = false), StructField("doc_b", LongType, nullable = false))))
    // the exact forms `pipeline` materialises
    val checks = Seq(
      "minhash pairs" -> Dedup.minhashNearDup(c, "doc_id", "text", threshold).select("doc_a", "doc_b"),
      "simhash pairs" -> Dedup.verifiedJaccard(c,
        Dedup.simhashCandidates(Dedup.simhash(c, "doc_id", "text")), "doc_id", "text",
        threshold = threshold).select("doc_a", "doc_b"),
      "kept corpus" -> Dedup.keepBest(c, onePair, "doc_id", order = Seq(col("n_chars").desc))
        .where(col("keep")))
    checks.flatMap { case (what, df) => Workload.checkPlan(s"dedup $what", df, pipeline = true) }
  }

  def reportE2E(): Seq[Metric] = {
    val pipes = trace.ops.filter(_.kind == "pipeline")
    Seq(
      Metric("docs_per_s", pipes.map(_.rows).sum / (pipes.map(_.ms).sum / 1e3), "docs/s", pipes.size),
      Metric("dedup_recall", Report.quantile(recall.toSeq, 0.5), "fraction", recall.size))
  }

  def reportLayers(): Seq[Metric] = {
    val verified = Report.counterMean(trace, "dedup.verified_pairs", "dedup.verified_pairs", "count")
    // candidate volumes, counted once outside the timed ops
    val cand = (Dedup.minhashCandidates(corpus, "doc_id", "text").count() +
      Dedup.simhashCandidates(Dedup.simhash(corpus, "doc_id", "text")).count()).toDouble
    Seq(
      Report.spanMedian(trace, "dedup.minhash", "dedup.minhash_ms"),
      Report.spanMedian(trace, "dedup.simhash", "dedup.simhash_ms"),
      Report.spanMedian(trace, "dedup.clusters", "dedup.clusters_ms"),
      Report.spanMedian(trace, "dedup.keep_best", "dedup.keep_best_ms"),
      Metric("dedup.candidate_pairs", cand, "count", 1),
      verified,
      Metric("dedup.pair_yield", if (cand > 0) verified.value / cand else 0.0, "fraction", 1))
  }
}
