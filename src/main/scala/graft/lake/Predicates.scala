package graft.lake

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A single conjunctive comparison clause, mirroring the reference's
  * `optional_where_clauses` triples (lakeshack/lakeshack.py:533-545).
  *
  * The reference's predicate language is exactly: 6 comparison ops plus
  * IN plus AND (no `!=`, no OR, no BETWEEN, no NULL ops) — see
  * lakeshack/lakeshack.py:141-164. We preserve that surface (invalid op
  * raises, as at lakeshack.py:160-164) while the underlying evaluation is
  * a Catalyst `Column` so Spark pushes it into the Parquet scan.
  */
final case class Clause(column: String, op: String, value: Any) {
  require(Clause.Ops.contains(op), s"Invalid operator '$op'; must be one of ${Clause.Ops.mkString(", ")}")

  /** Scan-time predicate (applied to data rows). */
  def toColumn: Column = op match {
    case ">=" => col(column) >= lit(value)
    case ">"  => col(column) > lit(value)
    case "=" | "==" => col(column) === lit(value)
    case "<"  => col(column) < lit(value)
    case "<=" => col(column) <= lit(value)
  }
}

object Clause {
  val Ops: Set[String] = Set(">=", ">", "=", "==", "<", "<=")

  /** AND-conjoin clauses into a single filter Column (TRUE when empty). */
  def conjunction(clauses: Seq[Clause]): Column =
    clauses.map(_.toColumn).reduceOption(_ && _).getOrElse(lit(true))
}
