package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

import graft.functions.{CosineSimilarity, DotProduct, GeometricMean}

/** SparkSessionExtensions entry point. Activate with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `SparkSession.builder.withExtensions(new GraftExtensions)`). It
  * registers:
  *   - graft's native functions for SQL use
  *     (`cosine_similarity`, `dot_product`, `geo_mean`), e.g.
  *     SELECT cosine_similarity(a.embedding, b.embedding) FROM ...
  *     DataFrame callers don't need the extension — graft.ops.Similarity
  *     builds the expression directly;
  *   - the snapshot-catalog resolution rules (SQL UPDATE, filtered
  *     aggregate pushdown, vectorized DV reads);
  *   - one physical rule, `lake.ParameteriseScanFilters`: filters over
  *     file scans compile once per shape, not once per literal value.
  * A session without the extension plans and runs as plain Spark.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "cosine_similarity expects exactly 2 arguments")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "dot_product expects exactly 2 arguments")
        DotProduct(children.head, children(1))
      }))
    // aggregate functions register the same way: the analyzer wraps a
    // returned AggregateFunction in its AggregateExpression
    // SQL UPDATE over snapshot-catalog tables: Spark has no built-in
    // UPDATE execution path for plain connectors — this routes the
    // resolved UpdateTable to SnapshotLog.update's atomic merge-on-read
    // commit (see graft.lake.ResolveSnapshotUpdate)
    ext.injectResolutionRule(session => graft.lake.ResolveSnapshotUpdate(session))
    // FILTERED aggregate pushdown: `SELECT count/min/max … WHERE c
    // BETWEEN lo AND hi / IN (…)` over a snapshot table answers covered
    // files from cached footers and scans only the boundary files
    // (graft.lake.PushFilteredAggToManifest — the SQL surface of the
    // API's StatsAgg.rangeAggFiles). MUST run before the DV vectorize
    // rule: it degrades DV-carrying files per-file to a DV-applying
    // scan, so it needs to see the raw relation; when it bails, the
    // vectorize rule right after it takes the relation in the SAME
    // fixed-point iteration
    ext.injectResolutionRule(session => graft.lake.PushFilteredAggToManifest(session))
    // vectorized SQL reads of DV-carrying snapshot versions: replaces
    // the row-based whole-version fallback scan with the pruned +
    // pushed + columnar anti-join form (graft.lake.VectorizeSnapshotDvRead)
    ext.injectResolutionRule(session => graft.lake.VectorizeSnapshotDvRead(session))
    // filters over file scans generate code that does not depend on
    // their literal values, so a lookup shape compiles once per JVM
    // (graft.lake.ParameteriseScanFilters); pushed filters are untouched
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = graft.lake.ParameteriseScanFilters
    })
    ext.injectFunction((
      new FunctionIdentifier("geo_mean"),
      new ExpressionInfo(classOf[GeometricMean].getName, "geo_mean"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "geo_mean expects exactly 1 argument")
        GeometricMean(org.apache.spark.sql.catalyst.expressions.Cast(
          children.head, org.apache.spark.sql.types.DoubleType))
      }))
  }
}
