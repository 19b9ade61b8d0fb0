package graft.lake

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL-transparent access to [[SnapshotLog]] tables — the DataSource V2
  * `TableCatalog` that makes time travel a LANGUAGE feature instead of
  * an API call:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.snap", classOf[SnapshotCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.snap.root", "/data/lake")
  *   spark.sql("SELECT * FROM snap.docs")                      // head
  *   spark.sql("SELECT * FROM snap.docs VERSION AS OF 3")      // pinned
  *   spark.sql("SELECT * FROM snap.docs TIMESTAMP AS OF '…'")  // by commit ts
  * }}}
  *
  * The catalog maps `snap.<ns…>.<name>` to the snapshot table at
  * `<root>/<ns…>/<name>` and serves the RESOLVED version's live file
  * set through [[SnapshotParquetTable]] (Spark's `ParquetTable`
  * extended with the version's semantics) with the schema committed at
  * that version — a column added later never bleeds into an old
  * version. The reference has no versioned SQL surface at all
  * (lakeshack/lakeshack.py:550-557 interpolates SQL strings over one
  * live layout); this is the Spark-native finish of its query-the-lake
  * story:
  *
  *  - ZONE-MAP PRUNING: `WHERE` clauses on stats-bearing columns skip
  *    files at planning time ([[SnapshotFileIndex]]) — the same index
  *    the API's `readPruned` reads through, free inside any `spark.sql`.
  *  - DELETION VECTORS apply transparently: a post-`delete` version
  *    reads its live rows only ([[DvScanBuilder]]'s positional filter,
  *    the SQL twin of `SnapshotLog.read`'s anti-join), at a bounded,
  *    documented read tax that `purgeDeletes`/`maintain` clears.
  *
  * SQL DML (round 13): the HEAD table is writable — `INSERT INTO`
  * appends, `INSERT OVERWRITE` replaces, `DELETE FROM … WHERE` commits
  * deletion vectors, `CREATE TABLE` / CTAS creates — every one through
  * [[SnapshotLog]]'s claim protocol (the DSv2 `BatchWrite.commit` IS
  * the manifest claim, so an aborted INSERT strands at most an orphan
  * token dir). A pinned `VERSION/TIMESTAMP AS OF` table stays
  * immutable; `ALTER`/`DROP`/`RENAME` throw (retention and schema
  * evolution are API-side maintenance decisions, not query-side ones).
  *
  * BRANCHES ride the same namespace → path mapping for free: a
  * [[Branches]] log lives at `<table>/_branches/<name>`, so
  * `snap.t.`_branches`.audit` reads it, `INSERT INTO`/`DELETE FROM` it
  * stage work on the branch (shared pool, branch-local log — invisible
  * on main), and `Branches.publish` lands the whole batch as one main
  * commit: the write-audit-publish loop entirely in SQL (spec-pinned).
  *
  * `TIMESTAMP AS OF` resolves to the NEWEST version whose commit
  * timestamp is ≤ the asked instant (micros, as Spark hands it over) —
  * the same contract Delta/Iceberg document.
  *
  * Scale: resolution is one manifest-log listing + O(interval) small
  * reads on the driver ([[SnapshotLog.state]]); the scan itself is a
  * stock distributed parquet read over exactly the version's files.
  */
class SnapshotCatalog extends TableCatalog
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null && root.nonEmpty,
      s"catalog '$name' needs spark.sql.catalog.$name.root = <dir of snapshot tables>")
  }

  override def name(): String = catalogName

  private def spark: SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException(
        s"catalog '$catalogName' used with no active SparkSession"))

  private def tablePath(ident: Identifier): String =
    ((root +: ident.namespace.toSeq) :+ ident.name).mkString("/")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val s = spark
    val dir = new Path((root +: namespace.toSeq).mkString("/"))
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).iterator
      .filter(st => st.isDirectory && fs.exists(new Path(st.getPath, "_log")))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    SnapshotLog.currentVersion(spark, tablePath(ident)) >= 0

  override def loadTable(ident: Identifier): Table = tableAt(ident, None)

  /** `VERSION AS OF <v>` — a committed version number, or (quoted) a
    * TAG name ([[Branches.tag]]'s immutable pins): `VERSION AS OF
    * 'march-run'` reads exactly the snapshot the March run trained on,
    * and retention never expires below a live tag, so the query stays
    * answerable until the tag is dropped. A NUMERIC argument always
    * resolves as a commit number; the ambiguity cannot bite because
    * [[Branches.tag]] refuses all-digit tag names at creation. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = try version.toLong catch {
      case _: NumberFormatException =>
        Branches.tagVersions(spark, tablePath(ident)).getOrElse(version,
          throw new IllegalArgumentException(
            s"'$version' is neither a commit number nor a tag of " +
              s"$catalogName.$ident (see SnapshotLog.history / Branches.tag)"))
    }
    tableAt(ident, Some(v))
  }

  /** `TIMESTAMP AS OF <ts>` (micros): the newest version committed at
    * or before the instant. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val s = spark
    val p = tablePath(ident)
    if (SnapshotLog.currentVersion(s, p) < 0) throw new NoSuchTableException(ident)
    val tsMillis = timestampMicros / 1000L
    val v = SnapshotLog.history(s, p)
      .where(org.apache.spark.sql.functions.col("ts_millis") <= tsMillis)
      .select("version")
      .collect().map(_.getLong(0)).sorted.lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"$catalogName.$ident has no version at or before ts_millis=$tsMillis " +
          "(the table was created later)"))
    tableAt(ident, Some(v))
  }

  private def tableAt(ident: Identifier, asOf: Option[Long]): Table = {
    val s = spark
    val p = tablePath(ident)
    if (SnapshotLog.currentVersion(s, p) < 0) throw new NoSuchTableException(ident)
    val snap = SnapshotLog.state(s, p, asOf)
    // deep-relaxed nullability, like DataFrameReader.schema: a
    // pre-evolution file legitimately lacks a later (null-filled)
    // column, and a non-nullable field would make the vectorized
    // reader refuse the file
    val schema = StructType(DataType.fromJson(snap.schemaJson)
      .asInstanceOf[StructType].fields.map(SnapshotLog.relaxNullability))
    val (fs, rootP) = SnapshotLog.fsOf(s, p)
    val paths = SnapshotLog.qualified(fs, rootP, snap.files)
    // a pinned version is immutable by definition — only the HEAD load
    // (no AS OF) accepts INSERT/DELETE, and those commit through the
    // claim protocol like every other writer. The driver-side dead map
    // stays a THUNK: with GraftExtensions active, a DV version reads
    // through the vectorized anti-join rewrite and never builds it.
    new SnapshotParquetTable(s"$catalogName.${ident.toString}@v${snap.version}",
      s, paths, schema, snap,
      deadFn = () => SnapshotLog.deadPositions(s, rootP, snap),
      tablePath = p, writable = asOf.isEmpty)
  }

  // (the old blanket read-only refusal is gone — the catalog has been
  // a full read-write surface since the DML rounds; DROP and RENAME
  // below are the last lifecycle statements)

  /** `CREATE TABLE` / the create half of CTAS: commits an EMPTY v0
    * carrying the schema; CTAS's rows then arrive as the v1 append
    * through the DSv2 write path (non-atomic across the two commits,
    * like every non-staging catalog — a crash between them leaves an
    * empty table, never a partial one). Partition transforms are
    * refused: the format's layout story is range/Z-order clustering at
    * write time, not hive partitions. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      s"$catalogName tables take no PARTITIONED BY — cluster at write " +
        "time instead (TBLPROPERTIES('cluster_by'='col[,col…]') / compactZ)")
    // TBLPROPERTIES: exactly ONE is understood — `cluster_by`, the
    // table's declared layout (see SnapshotLog.setClusterBy; every SQL
    // INSERT then range-distributes + sorts on it, keeping zone maps
    // disjoint). Every other property is refused loudly (mirroring
    // the PARTITIONED BY refusal) rather than silently dropped. Spark
    // itself stuffs a few reserved keys into the map for a plain
    // CREATE/CTAS; those carry no user intent.
    val reserved = Set("provider", "owner", "location", "external", "comment",
      "option.path", "path")
    // looked up CASE-INSENSITIVELY, matching the refuse-loudly exclusion
    // below — TBLPROPERTIES('CLUSTER_BY'='x') must declare the layout,
    // not silently create an unclustered table
    val clusterBy = {
      import scala.jdk.CollectionConverters._
      properties.asScala.collectFirst {
        case (k, v) if k.toLowerCase == "cluster_by" => v
      }.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    }
    clusterBy.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"cluster_by column '$c' is not in the schema " +
            s"(${schema.fieldNames.mkString(", ")})"))
      require(Metastore.isOrderable(f.dataType),
        s"cluster_by column '$c' has non-orderable type ${f.dataType.sql} — " +
          "range clustering needs an ordered type")
    }
    val custom = {
      import scala.jdk.CollectionConverters._
      properties.asScala.keys.filterNot(k =>
        reserved.contains(k.toLowerCase) || k.toLowerCase == "cluster_by" ||
          k.startsWith("option.")).toSeq.sorted
    }
    require(custom.isEmpty,
      s"$catalogName tables store no TBLPROPERTIES beyond 'cluster_by' " +
        s"(got: ${custom.mkString(", ")})")
    SnapshotLog.createEmpty(spark, tablePath(ident), schema.json)
    if (clusterBy.nonEmpty) SnapshotLog.setClusterBy(spark, tablePath(ident), clusterBy)
    tableAt(ident, None)
  }

  /** `ALTER TABLE … ADD COLUMN(S)`: a metadata-only schema-evolution
    * commit through the claim protocol ([[SnapshotLog.addColumns]]) —
    * zero data files touched, old files read the new columns as null,
    * time travel below the commit keeps the old schema. Only top-level
    * nullable ADD COLUMN (at the default position) is supported; every
    * other change shape throws — renames/drops/type changes would
    * silently re-type files already committed. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val cols = changes.map {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"ADD COLUMN of nested field '${add.fieldNames.mkString(".")}' is " +
            "not supported — add a top-level column")
        require(add.position() == null,
          "ADD COLUMN ... FIRST/AFTER is not supported — new columns append " +
            "at the end (the parquet reader resolves by name, not position)")
        require(add.isNullable,
          s"ADD COLUMN ${add.fieldNames.head} NOT NULL is impossible: rows " +
            "already committed have no value to give it — add it nullable")
        org.apache.spark.sql.types.StructField(add.fieldNames.head, add.dataType,
          nullable = true)
      case other => throw new UnsupportedOperationException(
        s"$catalogName supports ALTER TABLE ADD COLUMN(S) only (got: $other) — " +
          "other schema changes would re-type files already committed")
    }
    SnapshotLog.addColumns(spark, tablePath(ident), cols)
    tableAt(ident, None)
  }

  /** `CALL <catalog>.system.<proc>(…)` — the maintenance surface
    * ([[SnapshotProcedures]]): compact/zorder, purge_deletes/maintain,
    * expire/expire_orphans, rollback, history, tags and branches. Each
    * delegates to the API implementation and commits through the same
    * claim protocol; the procedure layer adds a name binding only. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    SnapshotProcedures.load(catalogName, root, () => spark, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    SnapshotProcedures.names.map(n => Identifier.of(Array("system"), n)).toArray

  /** `DROP TABLE`: delete the table root — log, pool, branches, tags,
    * sidecars. Destructive by definition (that is what the statement
    * means; history and time travel go with it), which is why it is
    * the STATEMENT and not a maintenance op: retention trims history
    * via `CALL expire`, DROP removes the table. Returns false for a
    * missing table (Spark raises its own NoSuchTable for DROP without
    * IF EXISTS). */
  override def dropTable(ident: Identifier): Boolean = {
    val s = spark
    val p = new Path(tablePath(ident))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (SnapshotLog.currentVersion(s, tablePath(ident)) < 0) false
    else fs.delete(p, true)
  }

  /** `ALTER TABLE … RENAME TO`: one directory rename. Manifests store
    * POOL-RELATIVE paths precisely so the table can be relocated
    * wholesale — the log replays identically under the new root. Same
    * namespace only (a cross-namespace move is a data migration, not a
    * rename). */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(oldIdent.namespace.sameElements(newIdent.namespace),
      s"RENAME across namespaces is not supported " +
        s"(${oldIdent.namespace.mkString(".")} -> ${newIdent.namespace.mkString(".")})")
    val s = spark
    val src = new Path(tablePath(oldIdent))
    val dst = new Path(tablePath(newIdent))
    if (SnapshotLog.currentVersion(s, tablePath(oldIdent)) < 0)
      throw new NoSuchTableException(oldIdent)
    val fs = src.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(!fs.exists(dst),
      s"${newIdent.toString} already exists — DROP it first or pick another name")
    require(fs.rename(src, dst), s"rename $src -> $dst failed")
  }
}
