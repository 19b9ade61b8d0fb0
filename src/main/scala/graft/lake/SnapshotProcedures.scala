package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The SQL `CALL` surface of the snapshot format — every maintenance
  * operation the API exposes, as a Spark 4 stored procedure on
  * [[SnapshotCatalog]]:
  *
  * {{{
  *   CALL snap.system.compact(table => 'docs', cluster_by => 'id', n_files => 16)
  *   CALL snap.system.expire('docs', 5)
  *   CALL snap.system.rollback('docs', 3)
  *   SELECT * FROM ... -- and `CALL snap.system.history('docs')` lists commits
  * }}}
  *
  * This closes the last API-only gap in the SQL parity story: reads
  * (SELECT + time travel), writes (INSERT/DELETE/UPDATE/MERGE), schema
  * evolution (ALTER TABLE), and now MAINTENANCE all live in the
  * language. The reference has no maintenance surface at all beyond
  * re-running its metastore build (lakeshack/metastore.py:79-204);
  * here compaction, Z-ordering, DV purge policy, retention, orphan
  * reclamation, rollback, branches and tags are one `CALL` away, each
  * delegating to the SAME claim-protocol commit the API path uses —
  * a procedure is a name binding, never a second write path.
  *
  * Scale: every procedure body is the audited API implementation —
  * `compact`/`zorder` are distributed rewrites committed as one
  * manifest claim; `expire`/`expire_orphans` are driver-side manifest
  * sweeps sized by the log, not the data; `history` is O(versions)
  * driver rows (the same bound the API call documents). The returned
  * result is a [[LocalScan]] — one or few driver rows, no job.
  */
private[lake] object SnapshotProcedures {

  /** One procedure: its declared parameters, and a body producing the
    * (schema, rows) of its result relation. */
  private final case class ProcDef(
      name: String,
      description: String,
      params: Seq[ProcedureParameter],
      outSchema: StructType,
      body: (SparkSession, String, InternalRow) => Array[InternalRow])

  private def in(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  private def inDefault(name: String, dt: DataType, sql: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(sql).build()

  private def one(values: Any*): Array[InternalRow] =
    Array[InternalRow](new GenericInternalRow(values.toArray))

  private val VersionOut = StructType(Seq(StructField("version", LongType, nullable = false)))
  private val DeletedOut = StructType(Seq(StructField("deleted", IntegerType, nullable = false)))
  private val DroppedOut = StructType(Seq(StructField("dropped", BooleanType, nullable = false)))

  /** `history`'s fixed result shape — the same columns
    * [[SnapshotLog.history]] serves API-side. */
  private val HistoryOut = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("ts_millis", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("n_adds", LongType, nullable = false),
    StructField("n_removes", LongType, nullable = false),
    StructField("rollback_of", LongType, nullable = true)))

  private def str(r: InternalRow, i: Int): String = r.getUTF8String(i).toString
  private def optLong(r: InternalRow, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(r.getLong(i))

  private val defs: Seq[ProcDef] = Seq(
    ProcDef("compact",
      "OPTIMIZE: rewrite the head range-clustered on one column as one commit",
      Seq(in("table", StringType), in("cluster_by", StringType), in("n_files", IntegerType)),
      VersionOut,
      (s, p, r) => one(SnapshotLog.compact(s, p, str(r, 1), r.getInt(2)))),

    ProcDef("zorder",
      "OPTIMIZE ZORDER: rewrite the head clustered on the Morton key of 2-8 comma-separated columns",
      Seq(in("table", StringType), in("columns", StringType), in("n_files", IntegerType),
        inDefault("buckets", IntegerType, "256")),
      VersionOut,
      (s, p, r) => one(SnapshotLog.compactZ(s, p,
        str(r, 1).split(',').map(_.trim).filter(_.nonEmpty).toSeq, r.getInt(2), r.getInt(3)))),

    ProcDef("compact_small",
      "OPTIMIZE (bin-pack): rewrite only files under small_mb into ~target_mb outputs; big files untouched",
      Seq(in("table", StringType),
        inDefault("target_mb", IntegerType, "128"),
        inDefault("small_mb", IntegerType, "-1"),
        inDefault("min_files", IntegerType, "2")),
      VersionOut,
      (s, p, r) => one(SnapshotLog.compactBin(s, p,
        targetBytes = r.getInt(1).toLong * 1024 * 1024,
        smallBytes = if (r.getInt(2) > 0) r.getInt(2).toLong * 1024 * 1024 else -1L,
        minFiles = r.getInt(3)))),

    ProcDef("purge_deletes",
      "Materialize merge-on-read deletes: rewrite ONLY the DV-carrying files as one commit",
      Seq(in("table", StringType)),
      VersionOut,
      (s, p, r) => one(SnapshotLog.purgeDeletes(s, p))),

    ProcDef("maintain",
      "DV maintenance policy: purge_deletes when dirty-fraction or dead-row debt crosses the bound, else no-op",
      Seq(in("table", StringType),
        inDefault("max_dirty_fraction", DoubleType, "0.2"),
        inDefault("max_dead_rows", LongType, "1000000")),
      VersionOut,
      (s, p, r) => one(SnapshotLog.maintain(s, p, r.getDouble(1), r.getLong(2)))),

    ProcDef("expire",
      "Retention: drop manifests (and newly-unreferenced data files) below the last keep_last versions; never below a tag",
      Seq(in("table", StringType), in("keep_last", IntegerType)),
      DeletedOut,
      (s, p, r) => one(SnapshotLog.expire(s, p, r.getInt(1)).size)),

    ProcDef("expire_orphans",
      "Reclaim pool files no manifest references, older than grace_ms (covers aborted-write token dirs)",
      Seq(in("table", StringType), inDefault("grace_ms", LongType, "86400000")),
      DeletedOut,
      (s, p, r) => one(SnapshotLog.expireOrphans(s, p, r.getLong(1)).size)),

    ProcDef("rollback",
      "Commit a new head restating exactly the target version's live set (history is never erased)",
      Seq(in("table", StringType), in("to_version", LongType)),
      VersionOut,
      (s, p, r) => one(SnapshotLog.rollback(s, p, r.getLong(1)))),

    ProcDef("history",
      "The commit log: one row per retained version, newest first",
      Seq(in("table", StringType)),
      HistoryOut,
      (s, p, r) => {
        // executeCollect returns driver-materialized InternalRows of
        // the history frame — O(retained versions), the documented
        // bound of the API call
        SnapshotLog.history(s, p).queryExecution.executedPlan.executeCollect().map {
          row => new GenericInternalRow(Array[Any](
            row.getLong(0), row.getLong(1), UTF8String.fromString(row.getString(2)),
            row.getLong(3), row.getLong(4),
            if (row.isNullAt(5)) null else row.getLong(5))): InternalRow
        }
      }),

    ProcDef("create_tag",
      "Pin a version (default: the head) under an immutable name; retention never expires below it",
      Seq(in("table", StringType), in("name", StringType),
        inDefault("version", LongType, "NULL")),
      VersionOut,
      (s, p, r) => one(Branches.tag(s, p, str(r, 1), optLong(r, 2)))),

    ProcDef("drop_tag",
      "Drop a tag; its pinned version becomes expirable again",
      Seq(in("table", StringType), in("name", StringType)),
      DroppedOut,
      (s, p, r) => { Branches.dropTag(s, p, str(r, 1)); one(true) }),

    ProcDef("create_branch",
      "Fork a branch from the head (or from_version): shared data pool, branch-local log",
      Seq(in("table", StringType), in("name", StringType),
        inDefault("from_version", LongType, "NULL")),
      VersionOut,
      (s, p, r) => one(Branches.create(s, p, str(r, 1), optLong(r, 2)))),

    ProcDef("publish_branch",
      "Land the branch's net file-set delta on main as ONE commit (write-audit-publish)",
      Seq(in("table", StringType), in("name", StringType)),
      VersionOut,
      (s, p, r) => one(Branches.publish(s, p, str(r, 1)))),

    ProcDef("drop_branch",
      "Delete the branch log; files it alone referenced become orphans for expire_orphans",
      Seq(in("table", StringType), in("name", StringType)),
      DroppedOut,
      (s, p, r) => { Branches.drop(s, p, str(r, 1)); one(true) }),

    ProcDef("build_bloom",
      "Build/refresh the per-file Bloom sidecar for a column — point lookups on it then prune files",
      Seq(in("table", StringType), in("column", StringType),
        inDefault("expected_items", LongType, "1000000"),
        inDefault("fpp", DoubleType, "0.01")),
      StructType(Seq(StructField("files_indexed", LongType, nullable = false))),
      (s, p, r) => one(SnapshotLog.buildBloom(s, p, str(r, 1), r.getLong(2), r.getDouble(3)))),

    ProcDef("collect_agg_stats",
      "Collect per-file (sum, count) sidecar stats for an integral column — filtered SUM/AVG then serve from metadata",
      Seq(in("table", StringType), in("column", StringType)),
      StructType(Seq(StructField("files_collected", LongType, nullable = false))),
      (s, p, r) => one(SnapshotLog.collectAggStats(s, p, str(r, 1)))),

    ProcDef("set_cluster_by",
      "Declare (or replace) the table's cluster columns — SQL INSERTs then range-distribute + sort on them",
      Seq(in("table", StringType), in("columns", StringType)),
      StructType(Seq(StructField("cluster_by", StringType, nullable = false))),
      (s, p, r) => {
        val cols = str(r, 1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val schema = org.apache.spark.sql.types.DataType
          .fromJson(SnapshotLog.state(s, p).schemaJson).asInstanceOf[StructType]
        cols.foreach { c =>
          val f = schema.fields.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"cluster_by column '$c' is not in the schema " +
                s"(${schema.fieldNames.mkString(", ")})"))
          require(Metastore.isOrderable(f.dataType),
            s"cluster_by column '$c' has non-orderable type ${f.dataType.sql}")
        }
        SnapshotLog.setClusterBy(s, p, cols)
        one(UTF8String.fromString(cols.mkString(",")))
      }),

    ProcDef("table_detail",
      "One-row operational summary of the head (or AS-OF version): files, bytes, DV debt, layout",
      Seq(in("table", StringType), inDefault("version", LongType, "NULL")),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("n_files", LongType, nullable = false),
        StructField("total_bytes", LongType, nullable = false),
        StructField("n_dirty_files", LongType, nullable = false),
        StructField("n_dv_files", LongType, nullable = false),
        StructField("cluster_by", StringType, nullable = true),
        StructField("bloom_columns", StringType, nullable = true))),
      (s, p, r) => {
        // the batched census (one listStatus per token dir) keeps this a
        // metadata read even on a million-file head — never per-file RPCs
        val snap = SnapshotLog.state(s, p, optLong(r, 1))
        val (fs, rootP) = SnapshotLog.fsOf(s, p)
        val bytes =
          if (snap.files.isEmpty) 0L
          else SnapshotLog.fileSizes(fs, rootP, snap.files).values.sum
        val cb = SnapshotLog.clusterByOf(s, p)
        val bloomCols = Sidecar.columns(fs, rootP, Sidecar.Bloom)
        one(snap.version, snap.files.size.toLong, bytes,
          snap.dvs.size.toLong, snap.dvs.values.flatten.toSeq.distinct.size.toLong,
          if (cb.isEmpty) null else UTF8String.fromString(cb.mkString(",")),
          if (bloomCols.isEmpty) null else UTF8String.fromString(bloomCols.mkString(",")))
      }))

  private val byName: Map[String, ProcDef] = defs.map(d => d.name -> d).toMap

  def names: Seq[String] = defs.map(_.name)

  /** A `CALL`'s result relation: driver rows, no job. */
  private final class ResultScan(schema: StructType, rs: Array[InternalRow])
    extends LocalScan {
    override def rows(): Array[InternalRow] = rs
    override def readSchema(): StructType = schema
  }

  def load(catalogName: String, root: String, session: () => SparkSession,
           ident: Identifier): UnboundProcedure = {
    require(ident.namespace.isEmpty || ident.namespace.sameElements(Array("system")),
      s"procedures live in $catalogName.system (got namespace " +
        s"'${ident.namespace.mkString(".")}')")
    val d = byName.getOrElse(ident.name,
      throw new IllegalArgumentException(
        s"unknown procedure '$catalogName.system.${ident.name}' — " +
          s"available: ${names.sorted.mkString(", ")}"))
    new UnboundProcedure with BoundProcedure {
      override def name(): String = d.name
      override def description(): String = d.description
      override def bind(inputType: StructType): BoundProcedure = this
      override def parameters(): Array[ProcedureParameter] = d.params.toArray
      // every procedure mutates or reads mutable log state — never
      // cacheable as a deterministic expression
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val s = session()
        val tableArg = input.getUTF8String(0).toString
        val path = ((root +: tableArg.split('.').toSeq)).mkString("/")
        val rows = d.body(s, path, input)
        java.util.List.of[Scan](new ResultScan(d.outSchema, rows)).iterator()
      }
    }
  }
}
