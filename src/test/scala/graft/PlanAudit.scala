package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}

/** Shared plan-shape assertions for specs that pin SHUFFLE claims
  * ("text bytes never shuffle", "one exchange total") against the
  * EXECUTED plan — run the query first, then audit. */
object PlanAudit {

  private def hasText(t: DataType): Boolean = t match {
    case StringType => true
    case ArrayType(e, _) => hasText(e)
    case _ => false
  }

  /** Every operator of the executed plan, through adaptive stages. */
  def nodes(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case st: QueryStageExec => walk(st.plan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    nodes(df).collect { case e: ShuffleExchangeExec => e }

  /** Schemas of every shuffle whose rows carry string (or
    * array-of-string) columns — the "moved text bytes" detector. */
  def stringShuffles(df: DataFrame): Seq[String] =
    shuffles(df)
      .filter(_.schema.fields.exists(f => hasText(f.dataType)))
      .map(_.schema.fieldNames.mkString(","))
}
