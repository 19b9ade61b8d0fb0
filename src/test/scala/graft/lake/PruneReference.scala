package graft.lake

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The broadcast-range-join form of zone-map pruning: the reference
  * the differential spec checks the [[ZoneMap]] kernel against.
  * Requested values (tiny, broadcast) are joined to the file [min,max]
  * intervals and the clauses are Catalyst predicates over the stats
  * columns, so every comparison goes through Spark's analyzer (type
  * coercion included).
  */
object PruneReference {

  /** One-sided clause test against `<col>_min` / `<col>_max`, the
    * reference's op mapping (lakeshack/metastore.py:459-467). */
  private def pruneColumn(c: Clause): Column = {
    val (mn, mx, v) = (col(c.column + "_min"), col(c.column + "_max"), lit(c.value))
    c.op match {
      case ">=" => v <= mx
      case ">"  => v < mx
      case "=" | "==" => mn <= v && v <= mx
      case "<"  => v > mn
      case "<=" => v >= mn
    }
  }

  /** (filepath, value) hit pairs. Unknown clause columns are ignored;
    * on float columns only `<`/`<=` prune; NULL stats and NaN values
    * match every file. */
  def prunePairs(spark: SparkSession, stats: DataFrame, values: Seq[Any],
                 clauses: Seq[Clause] = Nil): DataFrame = {
    val cluster = Metastore.clusterColumnOf(stats)
    val statCols = stats.schema.fieldNames.toSet
    def fpCol(c: String): Boolean = stats.schema.fields
      .find(_.name == c + "_min")
      .exists(f => f.dataType == FloatType || f.dataType == DoubleType)
    val applicable = clauses.filter(c => statCols.contains(c.column + "_min") &&
      (!fpCol(c.column) || c.op == "<" || c.op == "<="))
    val clausePred = applicable
      .map(c => pruneColumn(c) || col(c.column + "_min").isNull)
      .reduceOption(_ && _).getOrElse(lit(true))
    val valueType = stats.schema(cluster + "_min").dataType
    val jrows = new java.util.ArrayList[Row](values.size)
    values.foreach(v => jrows.add(Row(v)))
    val valuesDf = spark.createDataFrame(jrows, StructType(Seq(StructField("value", valueType))))
    val nanBypass =
      if (valueType == FloatType || valueType == DoubleType) isnan(col("value"))
      else lit(false)
    stats.where(clausePred)
      .join(broadcast(valuesDf),
        col(cluster + "_min").isNull || nanBypass ||
          (col(cluster + "_min") <= col("value") && col("value") <= col(cluster + "_max")))
      .select(col("filepath"), col("value"))
  }

  /** Surviving file list (union of per-value hits). */
  def prune(spark: SparkSession, stats: DataFrame, values: Seq[Any],
            clauses: Seq[Clause] = Nil): Seq[String] =
    prunePairs(spark, stats, values, clauses)
      .select("filepath").distinct().collect().map(_.getString(0)).toSeq
}
