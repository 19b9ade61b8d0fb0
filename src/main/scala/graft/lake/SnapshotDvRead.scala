package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, InsertIntoStatement, LogicalPlan, MergeIntoTable, Project, UpdateTable, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Vectorized SQL reads of DV-carrying snapshot versions — the
  * resolution rule `graft.GraftExtensions` injects.
  *
  * Without it, a version that carries deletion vectors reads through
  * [[DvScanBuilder]]'s row-based positional-counter fallback: correct,
  * but the whole version devectorizes, dirty files can't split, and NO
  * parquet filters push — one deleted row taxes a 100 TB scan until
  * `purgeDeletes`/`maintain`. This rule replaces the DV-carrying
  * `DataSourceV2Relation` at analysis time with the scan every API
  * read of a version uses ([[SnapshotLog.scanVersion]]):
  *
  * {{{
  *   clean files  → SnapshotFileIndex scan (pruned, pushed, columnar)
  *   dirty files  → same scan + broadcast anti-join on
  *                  (file, _metadata.row_index) against the DV rows
  *   union        → Project back onto the relation's attribute ids
  * }}}
  *
  * `_metadata.row_index` is intrinsic to the row (derived from footer
  * offsets, not counted), so row-group skipping and byte-range splits
  * stay sound — exactly the property the positional counter lacks. The
  * substituted plan re-aliases its output to the ORIGINAL relation's
  * expression ids, so references above the relation stay resolved.
  *
  * DML targets are exempt: DELETE/UPDATE/MERGE/INSERT machinery needs
  * the genuine relation node (identity-matched, so a self-referencing
  * `MERGE INTO t USING t` still vectorizes the SOURCE side). Clean
  * versions (no DVs) are untouched — their stock scan is already
  * columnar and pushed.
  */
case class VectorizeSnapshotDvRead(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // escape hatch (and the fallback path's test handle): with the
    // rewrite off, DV versions read through DvScanBuilder's row-based
    // positional filter — correct, just taxed
    if (!spark.conf.get("spark.graft.dvRead.vectorized", "true").toBoolean) return plan
    // identity set of relations serving as DML targets this iteration —
    // recomputed per fixed-point pass, so a target is protected from
    // the moment its UnresolvedRelation resolves
    val dmlTargets = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    def mark(p: LogicalPlan): Unit = p.foreach {
      case r: DataSourceV2Relation => dmlTargets.add(r); ()
      case _ => ()
    }
    plan.foreach {
      case d: DeleteFromTable => mark(d.table)
      case u: UpdateTable => mark(u.table)
      case m: MergeIntoTable => mark(m.targetTable)
      case w: V2WriteCommand => mark(w.table)
      case i: InsertIntoStatement => mark(i.table)
      case _ => ()
    }
    plan resolveOperatorsUp {
      case r: DataSourceV2Relation if !dmlTargets.contains(r) =>
        r.table match {
          case t: SnapshotParquetTable if t.dvFiles.nonEmpty =>
            val child = t.vectorizedRead(spark).queryExecution.analyzed
            Project(r.output.zip(child.output).map { case (orig, repl) =>
              Alias(repl, orig.name)(exprId = orig.exprId)
            }, child)
          case _ => r
        }
    }
  }
}
