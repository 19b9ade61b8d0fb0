package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.lake.{BloomIndex, Clause, ClusteredWriter, Lakeshack, Merge, Metastore, MetastoreFileIndex, SnapshotLog, StatsAgg}
import graft.functions.GeometricMean
import graft.ops.{AsofJoin, Dedup, EventAnalytics, IncrementalDedup, Multimodal, Packing, QualityTrainer, Sampling, Similarity, TextAnalysis, TextIndex, VectorIndex}
import graft.streaming.EventsStream

/** Driver contract (see SURVEY.md §7): one `queries` entry per operator
  * in the §2 inventory, each with a DuckDB `oracleSql` twin where the
  * semantics are ANSI-SQL-expressible.
  *
  * Determinism rules used throughout (so results hash-match the oracle):
  *  - every double aggregate goes through exact DECIMAL arithmetic and is
  *    cast back to DOUBLE only at the end (float sums are
  *    order-dependent; decimal sums are not);
  *  - every result is fully ordered by a unique key set;
  *  - computed columns are aliased identically on both sides.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")

  /** Per-(session, data path) cache keyed on the session object itself:
    * identity keying is exact (an `identityHashCode` key could collide
    * after GC hash reuse). The WeakHashMap alone cannot reclaim entries
    * whose value strongly references its own key session (a Lakeshack
    * holds session-bound DataFrames — the exact cycle the WeakHashMap
    * javadoc warns about), so every access also evicts entries whose
    * session has been stopped: a dead session's plans are unusable
    * anyway, and dropping them breaks the value→key cycle. */
  private final class SessionCache[T] {
    private val bySession =
      new java.util.WeakHashMap[SparkSession, scala.collection.concurrent.TrieMap[String, T]]
    def getOrElseUpdate(s: SparkSession, dir: String)(mk: => T): T = {
      val inner = bySession.synchronized {
        bySession.entrySet().removeIf(e => e.getKey.sparkContext.isStopped)
        var t = bySession.get(s)
        if (t == null) { t = scala.collection.concurrent.TrieMap.empty[String, T]; bySession.put(s, t) }
        t
      }
      inner.getOrElseUpdate(dir, mk)
    }
  }

  /** Lakeshack instances are cached per (session, data path) so the
    * lake_* queries share one stats build — keyed by the session too,
    * because a Lakeshack holds DataFrames bound to the session that
    * built it; a dir-only key would hand a later session plans owned by
    * a (possibly stopped) earlier one. */
  private val shackCache = new SessionCache[Lakeshack]
  private def shack(spark: SparkSession, dir: String): Lakeshack =
    shackCache.getOrElseUpdate(spark, dir)(
      Lakeshack(spark, s"$dir/lineitem.parquet", "l_orderkey", Seq("l_shipdate")))

  /** lake_sql_pruned's view registration, once per (session, dir). The
    * registered name is dir-unique so two data dirs in one session get
    * two views — a shared name would let the second registration
    * silently hijack the first dir's cached queries. */
  private val prunedViewCache = new SessionCache[String]

  /** Trained IVF centroid matrices, cached per (session, data path) —
    * same rationale as shackCache: an index is built once, queried many
    * times. */
  private val ivfCache = new SessionCache[Array[Array[Double]]]

  /** dedup_semantic's trained cell centroids, per (session, dir) — an
    * index is trained once and queried many times (ivfCache's
    * contract; a separate cache because the planted dedup corpus is
    * not annCorpus). */
  private val semCentroidCache = new SessionCache[Array[Array[Double]]]

  /** Disk-resident vector-index path, built once per (session, dir) —
    * the cell-partitioned layout is an ingest-time investment queried
    * many times, like the bucketed join tables. */
  private val vecIndexCache = new SessionCache[String]

  /** IVFADC twin of [[vecIndexCache]]: the cell layout whose rows also
    * carry PQ codes ([[VectorIndex.buildWithPq]]). */
  private val vecIndexPqCache = new SessionCache[String]

  /** PQ codebooks, trained once per (session, dir) like the IVF
    * centroids — same index-lifecycle contract. */
  private val pqCache = new SessionCache[Array[Array[Array[Float]]]]

  /** The ENCODED (id, code) frame under those codebooks, persisted once
    * per (session, dir): `Similarity.pqEncode`'s own scaladoc — "at
    * scale this runs ONCE at ingest … and is what queries scan instead
    * of embeddings" — is the index contract every other cache here
    * follows; re-encoding the corpus per probe benched the encoder,
    * not the ADC search. 8 ints per vector, columnar-cache-cheap. */
  private val pqCodesCache = new SessionCache[DataFrame]

  /** Residual-trained codebooks for the IVFADC layout (codes quantize
    * normalized(v) − centroid(cell), so they need their own training
    * run over the residual distribution). */
  private val pqResCache = new SessionCache[Array[Array[Array[Float]]]]

  /** dedup_substring's planted duplicated span (appended to every third
    * doc by BOTH the Spark query and the DuckDB oracle). */
  private val substringBoilerplate =
    "the shared boilerplate footer sentence is appended to every third document in this corpus"

  /** Persisted BM25 inverted-index path ([[graft.ops.TextIndex]]),
    * built once per (session, dir) — same ingest-time-investment
    * contract as the vector indexes. */
  private val textIndexCache = new SessionCache[String]

  /** Disk-resident incremental-dedup index path, built once per
    * (session, dir) — same ingest-time-investment contract. */
  private val incrIndexCache = new SessionCache[String]

  /** The (session, dir)-cached incremental-dedup index over the
    * accepted split (base id ≢ 0 mod 3) of the planted corpus — shared
    * by the capped steady-state probe (`dedup_incremental`) and the
    * backfill-regime probe (`dedup_incremental_backfill`). */
  private def incrIndexFor(s: SparkSession, dir: String): String =
    incrIndexCache.getOrElseUpdate(s, dir) {
      val planted = plantedDocs(s, dir)
      val baseMod = pmod(pmod(col("doc_id"), lit(100000L)), lit(3))
      val p = s"/tmp/graft_incr_${dirTag(dir)}"
      IncrementalDedup.buildIndex(planted.where(baseMod =!= 0), "doc_id", "text",
        p, numHashes = 64, bands = 32)
      p
    }

  /** The t=0.12 near-dup PAIR GRAPH over the documents table, derived
    * once per (session, dir) and eagerly pinned — the shared input
    * artifact of every cluster-level policy query (`dedup_clusters`,
    * `dedup_keep_best`, `pipeline_safe_split`): a real curation run
    * computes the pair graph once and feeds each policy from it, so the
    * bench prices the POLICIES, not three recomputations of the same
    * tokenize+shingle+join — the same investment-then-reuse contract as
    * the centroid and disk-index caches. Pair lists are duplicate-
    * population-sized, cheap to pin. */
  private val pairGraphCache = new SessionCache[DataFrame]
  private def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    pairGraphCache.getOrElseUpdate(s, dir) {
      Dedup.ngramJaccard(
          t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism, col("doc_id")),
          "doc_id", "text", n = 3, threshold = 0.12, maxShingleDf = 1000)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    }

  /** Disk-resident IVF index over the ACCEPTED split of the planted
    * embedding corpus, for the incremental semantic dedup query. The
    * split is chosen so the planted identical-twin structure exercises
    * BOTH match kinds: base ids ≡ 0 (mod 3) are batch while their
    * +100000 twins are accepted (cross matches through the index), and
    * ids ≡ 1 put base AND twin in the batch (smaller-id within
    * matches); ids ≡ 2 are index-only filler. */
  private val semIncrIndexCache = new SessionCache[String]
  private def semIncrBaseMod = pmod(pmod(col("vec_id"), lit(100000L)), lit(3))
  private def semIncrIndexFor(s: SparkSession, dir: String): String =
    semIncrIndexCache.getOrElseUpdate(s, dir) {
      val planted = plantedEmbeddings(s, dir)
      val accepted = planted.where(
        (semIncrBaseMod === 0 && col("vec_id") >= 100000L) || semIncrBaseMod === 2)
      val p = s"/tmp/graft_semincr_${dirTag(dir)}"
      VectorIndex.build(accepted, "vec_id", "embedding", p)
      p
    }

  /** dedup_semantic_fixedcell's centroids (nlist = n/cellSize, the
    * linear-law knob) — separate cache because the cell count differs
    * from semCentroidCache's auto-√n index over the same corpus. */
  private val semLinCentroidCache = new SessionCache[Array[Array[Double]]]

  /** lake_zorder's clustered rewrite + pruned view, once per (session,
    * dir): a z-ordered table is written at ingest and queried many
    * times — rebuilding it per query would bench the writer, not the
    * pruning. */
  private val zorderViewCache = new SessionCache[String]
  private val snapZorderCache = new SessionCache[String]

  /** lake_merge/lake_delete's merged-table setup, once per (session,
    * dir): copy lineitem into a clustered lake, apply one CDC upsert
    * batch and one delete batch through `Merge`, register a pruned view
    * over the REFRESHED stats — so the queries verify both the merged
    * rows and that the swapped-in stats still prune correctly. */
  private val mergeViewCache = new SessionCache[String]

  /** lake_audit's clustered lineitem copy, written once per (session,
    * dir) — the audited table is an ingest-time artifact; the audit
    * itself (footer harvest + scan recomputation) re-runs per query. */
  private val auditTableCache = new SessionCache[String]

  /** lake_timetravel/lake_rollback/lake_history's versioned table,
    * once per (session, dir): a four-commit snapshot log over thirds
    * of lineitem — v0 overwrite (keys ≡ 0 mod 3), v1 append (≡ 1),
    * v2 bad overwrite (≡ 2), v3 rollback to v1 — so time travel, the
    * rollback commit, and the history log are all exercised on one
    * table. The dir is wiped first: /tmp survives across driver runs,
    * and appending to a previous run's log would shift every version
    * number the oracles pin. */
  private val snapTableCache = new SessionCache[String]

  private def snapshotTable(s: SparkSession, dir: String): String =
    snapTableCache.getOrElseUpdate(s, dir) {
      val path = s"/tmp/graft_snap_${dirTag(dir)}/lineitem"
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val li = t(s, dir, "lineitem")
      def third(r: Int) = li.where(pmod(col("l_orderkey"), lit(3)) === r)
      SnapshotLog.write(third(0), path, "overwrite",
        clusterColumn = Some("l_orderkey"), nFiles = 4)
      SnapshotLog.write(third(1), path, "append",
        clusterColumn = Some("l_orderkey"), nFiles = 4)
      SnapshotLog.write(third(2), path, "overwrite",
        clusterColumn = Some("l_orderkey"), nFiles = 4)
      SnapshotLog.rollback(s, path, 1L)
      path
    }

  /** lake_incr_minmax's source + min/max view, once per (session, dir):
    * v0 = keys ≡ 0 mod 3 (clustered), view created at v0 with
    * SUM(l_quantity) + MIN/MAX(l_extendedprice) by l_returnflag, v1
    * appends keys ≡ 1, then a DV delete removes the TWO orderkeys
    * holding the highest l_extendedprice in the v1 population — a
    * delete that retracts at least one group's maintained MAX, forcing
    * the rescan-on-retract path (not just the insert fold). The keys
    * are derived from the data so the oracle can re-derive them in
    * pure SQL at any scale factor. */
  private val minMaxViewCache = new SessionCache[String]

  private def minMaxViewTable(s: SparkSession, dir: String): String =
    minMaxViewCache.getOrElseUpdate(s, dir) {
      val base = s"/tmp/graft_mmview_${dirTag(dir)}"
      val root = new org.apache.hadoop.fs.Path(base)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val table = s"$base/lineitem"; val mv = s"$base/mv"
      val li = t(s, dir, "lineitem")
      def third(r: Int) = li.where(pmod(col("l_orderkey"), lit(3)) === r)
      SnapshotLog.write(third(0), table, "overwrite",
        clusterColumn = Some("l_orderkey"), nFiles = 4) // v0
      graft.lake.IncrementalView.create(s, table, mv,
        Seq("l_returnflag"), Seq("l_quantity"),
        minMaxCols = Seq("l_extendedprice"))
      SnapshotLog.write(third(1), table, "append",
        clusterColumn = Some("l_orderkey"), nFiles = 4) // v1
      val topKeys = SnapshotLog.read(s, table)
        .groupBy("l_orderkey").agg(max(col("l_extendedprice")).as("_mp"))
        .orderBy(col("_mp").desc, col("l_orderkey").asc).limit(2)
        .select("l_orderkey").collect().map(_.getLong(0)).toSeq
      SnapshotLog.deleteByKeys(s, table, "l_orderkey", topKeys) // v2: retracts a MAX
      graft.lake.IncrementalView.refresh(s, mv)
      mv
    }

  /** lake_maintain's private table, once per (session, dir): v0 = keys
    * ≡ 0 mod 3 (8 clustered files), one CDC-sized DV delete, then
    * [[SnapshotLog.maintain]] with a zero dirty-fraction bound — the
    * policy must auto-purge, leaving zero dirty files and exactly the
    * post-delete population. */
  private val maintainCache = new SessionCache[String]

  private def maintainTable(s: SparkSession, dir: String): String =
    maintainCache.getOrElseUpdate(s, dir) {
      val path = s"/tmp/graft_maint_${dirTag(dir)}/lineitem"
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      SnapshotLog.write(
        t(s, dir, "lineitem").where(pmod(col("l_orderkey"), lit(3)) === 0),
        path, "overwrite", clusterColumn = Some("l_orderkey"), nFiles = 8)
      SnapshotLog.deleteByKeys(s, path, "l_orderkey", Seq(42L, 45L))
      SnapshotLog.maintain(s, path, maxDirtyFraction = 0.0)
      path
    }

  /** lake_snap_merge's merged snapshot table, once per (session, dir):
    * lineitem as v0 (clustered), then ONE copy-on-write merge commit
    * (same upsert/delete batch as the metastore lake's `lake_merge`,
    * so the two formats' merge semantics share an oracle). */
  private val snapMergeCache = new SessionCache[String]

  private def snapMergeTable(s: SparkSession, dir: String): String =
    snapMergeCache.getOrElseUpdate(s, dir) {
      val path = s"/tmp/graft_snapmerge_${dirTag(dir)}/lineitem"
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      SnapshotLog.write(t(s, dir, "lineitem"), path, "overwrite",
        clusterColumn = Some("l_orderkey"), nFiles = 16)
      val ups = t(s, dir, "lineitem")
        .where(col("l_orderkey").isin(42L, 47L))
        .withColumn("l_quantity", col("l_quantity") + 100)
      SnapshotLog.merge(s, path, "l_orderkey", ups,
        deleteKeys = Seq(43L, 50L, 4243L))
      path
    }

  /** The change-feed lifecycle table + its incrementally-maintained
    * view, once per (session, dir): lineitem thirds through the FULL
    * modern-lake write path — v0 clustered overwrite (keys ≡ 0 mod 3),
    * v1 append (≡ 1), v2 deletion-vector delete of keys 42+43
    * (O(deleted rows), zero rewrites), v3 copy-on-write merge
    * (key 48 upserted at +100, key 51 deleted). The materialized view
    * (SUM/COUNT by l_returnflag) is created at v1 and refreshed to the
    * head, so its state was maintained THROUGH a DV delete and a merge
    * purely from the change feed — never a second source scan. Three
    * queries read this build: `lake_dv_delete` (time travel to the DV
    * version), `lake_changes` (the feed itself), `lake_incr_agg` (the
    * view vs a from-scratch oracle). */
  private val changeFeedCache = new SessionCache[(String, String)]

  private def changeFeedTables(s: SparkSession, dir: String): (String, String) =
    changeFeedCache.getOrElseUpdate(s, dir) {
      val base = s"/tmp/graft_chfeed_${dirTag(dir)}"
      val root = new org.apache.hadoop.fs.Path(base)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val table = s"$base/lineitem"; val mv = s"$base/mv"
      val li = t(s, dir, "lineitem")
      def third(r: Int) = li.where(pmod(col("l_orderkey"), lit(3)) === r)
      SnapshotLog.write(third(0), table, "overwrite",
        clusterColumn = Some("l_orderkey"), nFiles = 4) // v0
      SnapshotLog.write(third(1), table, "append",
        clusterColumn = Some("l_orderkey"), nFiles = 4) // v1
      graft.lake.IncrementalView.create(s, table, mv,
        Seq("l_returnflag"), Seq("l_quantity"), asOf = Some(1L))
      SnapshotLog.deleteByKeys(s, table, "l_orderkey", Seq(42L, 43L)) // v2
      val ups = li.where(col("l_orderkey") === 48L)
        .withColumn("l_quantity", col("l_quantity") + lit(100.0))
      SnapshotLog.merge(s, table, "l_orderkey", ups, deleteKeys = Seq(51L)) // v3
      graft.lake.IncrementalView.refresh(s, mv)
      // v4: purge — rewrites ONLY the DV-carrying files, clears the
      // vectors, row content unchanged; pinned queries keep their
      // versions (lake_dv_delete reads v2 ACROSS the purge) and the
      // change feed skips the commit by contract
      SnapshotLog.purgeDeletes(s, table)
      (table, mv)
    }

  /** lake_join_view's star pair + maintained join view, once per
    * (session, dir): fact = lineitem thirds (v0 overwrite, v1 append,
    * v2 DV delete of keys 42/43), dim = orders (v0, then v1 merges
    * every %100==0 key to status 'X' — the group-migration case). The
    * view is created at (fact v0, dim v0) and REFRESHED to the heads,
    * so the oracle's from-scratch join+aggregate checks the whole
    * delta algebra: V(ΔF,D′) for the append+delete, V(F,ΔD) for the
    * dim update, cross-term included. */
  private val joinViewCache = new SessionCache[String]

  private def joinViewTable(s: SparkSession, dir: String): String =
    joinViewCache.getOrElseUpdate(s, dir) {
      buildJoinViewFixture(s, dir, s"/tmp/graft_joinview_${dirTag(dir)}")
    }

  /** joinview_refresh's PRIVATE copy of the star fixture: the probe
    * commits new versions every tick, which must never mutate the
    * fixture the oracle-checked `lake_join_view` hashes against —
    * correctness would become order-dependent within one (session,
    * dir). Same construction, disjoint path. */
  private val joinViewProbeCache = new SessionCache[String]

  private def joinViewProbeTable(s: SparkSession, dir: String): String =
    joinViewProbeCache.getOrElseUpdate(s, dir) {
      buildJoinViewFixture(s, dir, s"/tmp/graft_jvprobe_${dirTag(dir)}")
    }

  /** lake_sql_dml's table, built END-TO-END by SQL DML through the
    * catalog, once per (session, dir): v0 = thirds-0 overwrite (API —
    * the table must exist to register), v1 = `INSERT INTO` of third 1
    * (DSv2 BatchWrite whose driver commit is the manifest claim), v2 =
    * `DELETE FROM … WHERE l_orderkey IN (42, 43)` (deletion-vector
    * commit). Returns the catalog name; the query reads the DV-carrying
    * head back through SQL. */
  private val sqlDmlCache = new SessionCache[String]

  /** The fixture's SQL statement sequence with the snapshot op each one
    * must commit — the SINGLE source of truth: [[sqlDmlCatalog]]
    * executes the statements in order, and `lake_sql_merge`'s oracle is
    * GENERATED from the op column, so adding/reordering a statement
    * here automatically restates the expected commit log (the oracle
    * can no longer drift from the statements actually run). */
  private def sqlDmlStatements(cat: String, src: String): Seq[(String, String)] = Seq(
    // v1: DSv2 BatchWrite whose driver commit IS the manifest claim
    s"INSERT INTO $cat.lineitem SELECT * FROM $src" -> "append",
    // v2: deletion-vector commit, zero files rewritten
    s"DELETE FROM $cat.lineitem WHERE l_orderkey IN (42, 43)" -> "delete",
    // v3: ONE atomic merge-on-read commit (DVs + updated copies)
    (s"UPDATE $cat.lineitem SET l_quantity = l_quantity + 100 " +
      "WHERE l_orderkey = 48") -> "update",
    // v4: conditional arms, first-match-wins, one atomic DV+append
    // commit (key 45's rows update, key 51's die)
    s"""MERGE INTO $cat.lineitem AS t
       |USING (SELECT 45 AS mk, CAST(1000 AS DOUBLE) AS bump
       |       UNION ALL SELECT 51, CAST(-1 AS DOUBLE)) AS s
       |ON t.l_orderkey = s.mk
       |WHEN MATCHED AND s.bump < 0 THEN DELETE
       |WHEN MATCHED THEN UPDATE SET l_quantity = t.l_quantity + s.bump
       |""".stripMargin -> "merge_into",
    // v5: an UNCORRELATED scalar subquery in SET — folded to a literal
    // driver-side pre-commit (standard >1-row error / 0-row NULL
    // semantics); correlated subqueries stay loudly refused
    (s"UPDATE $cat.lineitem SET l_tax = (SELECT max(l_tax) FROM $src) " +
      "WHERE l_orderkey = 54") -> "update")

  /** The expected (version, op) log of the SQL-DML fixture, derived
    * from [[sqlDmlStatements]] — v0 is the API overwrite that creates
    * the table (it must exist before the catalog can address it). */
  private def sqlDmlExpectedOps: Seq[(Int, String)] =
    ("overwrite" +: sqlDmlStatements("cat", "src").map(_._2)).zipWithIndex
      .map { case (op, v) => (v, op) }

  private def sqlDmlCatalog(s: SparkSession, dir: String): String =
    sqlDmlCache.getOrElseUpdate(s, dir) {
      val base = s"/tmp/graft_sqldml_${dirTag(dir)}"
      val root = new org.apache.hadoop.fs.Path(base)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val table = s"$base/lineitem"
      val li = t(s, dir, "lineitem")
      SnapshotLog.write(li.where(pmod(col("l_orderkey"), lit(3)) === 0),
        table, "overwrite", clusterColumn = Some("l_orderkey"), nFiles = 4) // v0
      val cat = s"snapdml_${dirTag(dir)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      val src = s"graft_sqldml_src_${dirTag(dir)}"
      li.where(pmod(col("l_orderkey"), lit(3)) === 1).createOrReplaceTempView(src)
      for (((stmt, expectedOp), i) <- sqlDmlStatements(cat, src).zipWithIndex) {
        s.sql(stmt)
        // per-statement claim check: each statement must land as exactly
        // ONE commit carrying its op — a statement that silently split
        // into two commits (or committed the wrong op) fails HERE, at
        // the fixture, not just at the oracle diff
        val expectedV = i + 1L
        val (v, op) = SnapshotLog.history(s, table)
          .select("version", "op").orderBy(col("version").desc).limit(1)
          .collect().map(r => (r.getLong(0), r.getString(1))).head
        require(v == expectedV && op == expectedOp,
          s"SQL-DML fixture statement $i committed (v=$v, op=$op), " +
            s"expected (v=$expectedV, op=$expectedOp): $stmt")
      }
      cat
    }

  /** lake_sql_evolve's table, built end-to-end IN SQL: CTAS of the even
    * orderkeys (3 columns), `ALTER TABLE ADD COLUMN` (a metadata-only
    * schema-evolution commit through the claim protocol), then an
    * INSERT of the odd keys CARRYING the new column — the SQL twin of
    * lake_schema_evo's API-side `write(mergeSchema = true)`. The head
    * read null-fills v0's rows (the reference validates schemas
    * column-by-column on reconnect, metastore.py:128-204; here
    * evolution is an explicit versioned commit). */
  private val sqlEvolveCache = new SessionCache[String]

  private def sqlEvolveCatalog(s: SparkSession, dir: String): String =
    sqlEvolveCache.getOrElseUpdate(s, dir) {
      val base = s"/tmp/graft_sqlevo_${dirTag(dir)}"
      val root = new org.apache.hadoop.fs.Path(base)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(root, true); fs.mkdirs(root)
      val cat = s"snapevo_${dirTag(dir)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      val o = t(s, dir, "orders")
      val ev = s"graft_sqlevo_even_${dirTag(dir)}"
      val od = s"graft_sqlevo_odd_${dirTag(dir)}"
      o.where(pmod(col("o_orderkey"), lit(2)) === 0).createOrReplaceTempView(ev)
      o.where(pmod(col("o_orderkey"), lit(2)) === 1).createOrReplaceTempView(od)
      s.sql(s"CREATE TABLE $cat.orders AS " +
        s"SELECT o_orderkey, o_orderstatus, o_totalprice FROM $ev") // v0+v1 (CTAS)
      s.sql(s"ALTER TABLE $cat.orders ADD COLUMN prio_class STRING") // v2
      s.sql(s"INSERT INTO $cat.orders SELECT o_orderkey, o_orderstatus, " +
        s"o_totalprice, substring(o_orderpriority, 1, 1) FROM $od") // v3
      cat
    }

  /** lake_sql_call's table, maintained end-to-end through the SQL
    * `CALL` surface ([[graft.lake.SnapshotProcedures]]): v0 an
    * UNCLUSTERED write (5 arbitrary files), then `CALL compact` (the
    * OPTIMIZE rewrite, one commit, zone maps start pruning), `DELETE
    * FROM` (DV commit), `CALL maintain(0.0)` (the purge policy fires),
    * `CALL create_tag` — the full maintenance lifecycle a 100 TB
    * operator runs on a cadence, with every step's commit op pinned at
    * the fixture like the DML lifecycle's. */
  private val sqlCallCache = new SessionCache[String]

  /** lake_sql_agg_in's table: lineitem committed one l_linenumber
    * VALUE per file, so every data file's footer interval on the IN
    * column is a POINT (min = max) — the layout a CLUSTER BY
    * l_linenumber write converges to, pinned deterministically so the
    * IN-list coverage claim holds at any scale factor. */
  private val sqlAggInCache = new SessionCache[String]

  private def sqlAggInCatalog(s: SparkSession, dir: String): String =
    sqlAggInCache.getOrElseUpdate(s, dir) {
      val base = s"/tmp/graft_sqlaggin_${dirTag(dir)}"
      val root = new org.apache.hadoop.fs.Path(base)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val table = s"$base/lineitem"
      val li = t(s, dir, "lineitem")
      for ((v, i) <- (1 to 7).zipWithIndex)
        SnapshotLog.write(li.where(col("l_linenumber") === v).repartition(1),
          table, if (i == 0) "overwrite" else "append")
      // the SUM sidecar over the point files: lake_sql_agg_group_sum's
      // grouped SUM/AVG serve per covered file from these
      SnapshotLog.collectAggStats(s, table, "l_suppkey")
      SnapshotLog.collectAggStats(s, table, "l_orderkey")
      val cat = s"snapaggin_${dirTag(dir)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      cat
    }

  /** lake_sql_agg_dv's table: lineitem third-2 clustered by
    * l_orderkey, then one DV DELETE and NO purge — the head carries a
    * deletion vector, the state where the zero-job ManifestAgg path is
    * unavailable and the unfiltered per-file rewrite must serve. */
  private val sqlAggDvCache = new SessionCache[String]

  private def sqlAggDvCatalog(s: SparkSession, dir: String): String =
    sqlAggDvCache.getOrElseUpdate(s, dir) {
      val base = s"/tmp/graft_sqlaggdv_${dirTag(dir)}"
      val root = new org.apache.hadoop.fs.Path(base)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val table = s"$base/lineitem"
      SnapshotLog.write(t(s, dir, "lineitem")
        .where(pmod(col("l_orderkey"), lit(3)) === 0),
        table, "overwrite", clusterColumn = Some("l_orderkey"), nFiles = 4)
      SnapshotLog.delete(s, table, col("l_orderkey").isin(42L, 45L))
      require(SnapshotLog.state(s, table).dvs.nonEmpty,
        "agg-dv fixture: the head must carry a deletion vector")
      val cat = s"snapaggdv_${dirTag(dir)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      cat
    }

  /** lake_sql_agg_sum's table: lineitem clustered by l_orderkey with
    * the SUM SIDECAR collected ([[SnapshotLog.collectAggStats]]) for
    * l_suppkey and l_orderkey — parquet footers never carry sums, so
    * without the sidecar the dominant reporting aggregate
    * `SELECT sum(x) … WHERE k BETWEEN lo AND hi` always full-scans;
    * with it, covered files answer from metadata and only the ~2
    * boundary files scan. */
  private val sqlAggSumCache = new SessionCache[String]

  private def sqlAggSumCatalog(s: SparkSession, dir: String): String =
    sqlAggSumCache.getOrElseUpdate(s, dir) {
      val base = s"/tmp/graft_sqlaggsum_${dirTag(dir)}"
      val root = new org.apache.hadoop.fs.Path(base)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val table = s"$base/lineitem"
      SnapshotLog.write(t(s, dir, "lineitem"), table, "overwrite",
        clusterColumn = Some("l_orderkey"), nFiles = 6)
      SnapshotLog.collectAggStats(s, table, "l_suppkey")
      SnapshotLog.collectAggStats(s, table, "l_orderkey")
      val cat = s"snapaggsum_${dirTag(dir)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      cat
    }

  private def sqlCallCatalog(s: SparkSession, dir: String): String =
    sqlCallCache.getOrElseUpdate(s, dir) {
      val base = s"/tmp/graft_sqlcall_${dirTag(dir)}"
      val root = new org.apache.hadoop.fs.Path(base)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val table = s"$base/lineitem"
      val li = t(s, dir, "lineitem")
      SnapshotLog.write(li.where(pmod(col("l_orderkey"), lit(3)) === 0)
        .repartition(5), table, "overwrite") // v0: unclustered
      val cat = s"snapcall_${dirTag(dir)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      val steps = Seq(
        s"CALL $cat.system.compact(table => 'lineitem', " +
          "cluster_by => 'l_orderkey', n_files => 4)" -> "compact",
        s"DELETE FROM $cat.lineitem WHERE l_orderkey IN (42, 45)" -> "delete",
        s"CALL $cat.system.maintain('lineitem', max_dirty_fraction => 0.0D)" -> "purge")
      for (((stmt, expectedOp), i) <- steps.zipWithIndex) {
        s.sql(stmt).collect()
        val expectedV = i + 1L
        val (v, op) = SnapshotLog.history(s, table)
          .select("version", "op").orderBy(col("version").desc).limit(1)
          .collect().map(r => (r.getLong(0), r.getString(1))).head
        require(v == expectedV && op == expectedOp,
          s"SQL-CALL fixture step $i committed (v=$v, op=$op), " +
            s"expected (v=$expectedV, op=$expectedOp): $stmt")
      }
      s.sql(s"CALL $cat.system.create_tag('lineitem', 'post-maintenance')").collect()
      require(graft.lake.Branches.tagVersion(s, table, "post-maintenance") == 3L,
        "SQL-CALL fixture: tag must pin the post-maintenance head (v3)")
      cat
    }

  /** lake_sql_subq_corr's table: lineitem third-2, clustered by
    * l_orderkey, then ONE correlated-subquery UPDATE — `SET l_tax =
    * (SELECT max(o_totalprice) … WHERE o_orderkey = l_orderkey AND
    * priority URGENT)` over a key range. The rewrite routes through
    * the MERGE join machinery (SnapshotDml.runCorrelated): matched
    * rows take the per-key aggregate, rows whose order has no URGENT
    * match take the empty-aggregate default (NULL for max) — both
    * arms exercised because priorities are a mixture. */
  private val sqlCorrCache = new SessionCache[String]

  private def sqlCorrCatalog(s: SparkSession, dir: String): String =
    sqlCorrCache.getOrElseUpdate(s, dir) {
      val base = s"/tmp/graft_sqlcorr_${dirTag(dir)}"
      val root = new org.apache.hadoop.fs.Path(base)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      SnapshotLog.write(t(s, dir, "lineitem").where(pmod(col("l_orderkey"), lit(3)) === 2),
        s"$base/lineitem", "overwrite", clusterColumn = Some("l_orderkey"), nFiles = 4)
      val cat = s"snapcorr_${dirTag(dir)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      val dimV = s"ord_corr_${dirTag(dir)}"
      t(s, dir, "orders").createOrReplaceTempView(dimV)
      s.sql(
        s"""UPDATE $cat.lineitem
           |SET l_tax = (SELECT CAST(max(o.o_totalprice) AS DOUBLE) FROM $dimV o
           |             WHERE o.o_orderkey = l_orderkey
           |               AND o.o_orderpriority = '1-URGENT')
           |WHERE l_orderkey BETWEEN 50 AND 400""".stripMargin).collect()
      val (v, op) = SnapshotLog.history(s, s"$base/lineitem")
        .select("version", "op").orderBy(col("version").desc).limit(1)
        .collect().map(r => (r.getLong(0), r.getString(1))).head
      require(v == 1L && op == "merge_into",
        s"correlated UPDATE fixture committed (v=$v, op=$op), expected (1, merge_into)")
      cat
    }

  /** lake_sql_cluster_write's table: CTAS carrying the ONE stored
    * table property — `cluster_by` — so the CTAS rows themselves
    * arrive through the `RequiresDistributionAndOrdering` write path
    * (range-distributed + sorted on l_orderkey) and every later plain
    * `INSERT INTO` keeps the layout. The declared layout is what makes
    * SQL writes zone-map-sound at 100 TB: without it every insert of
    * shuffled rows writes full-keyspace files and pruning decays until
    * the next OPTIMIZE. */
  private val sqlClusterCache = new SessionCache[String]

  private def sqlClusterCatalog(s: SparkSession, dir: String): String =
    sqlClusterCache.getOrElseUpdate(s, dir) {
      val base = s"/tmp/graft_sqlclu_${dirTag(dir)}"
      val root = new org.apache.hadoop.fs.Path(base)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(root, true); fs.mkdirs(root)
      val cat = s"snapclu_${dirTag(dir)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      val src = s"graft_sqlclu_src_${dirTag(dir)}"
      // a deliberately shuffled source: the declared layout, not the
      // incoming order, must decide the file ranges
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .repartition(7).createOrReplaceTempView(src)
      s.sql(s"CREATE TABLE $cat.lineitem_c TBLPROPERTIES ('cluster_by'='l_orderkey') " +
        s"AS SELECT * FROM $src")
      cat
    }

  /** Per-file [min,max] disjointness of the cluster column — TRUE iff
    * consecutive file ranges never overlap (ties at the boundary
    * allowed: repartitionByRange splits equal keys across adjacent
    * partitions). */
  private def filesDisjoint(s: SparkSession, table: String, column: String): Boolean = {
    val snap = SnapshotLog.state(s, table)
    val rootP = new org.apache.hadoop.fs.Path(table)
    val fs = rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
    // pool paths are table-root-relative (this fixture is never a
    // branch, so the pool root IS the table root)
    val abs = snap.files.map(f =>
      fs.makeQualified(new org.apache.hadoop.fs.Path(rootP, f)).toString)
    val ranges = graft.lake.StatsAgg
      .harvest(s, abs, column, org.apache.spark.sql.types.LongType)
      .flatMap(st => for (mn <- st.min; mx <- st.max) yield
        (mn.asInstanceOf[Long], mx.asInstanceOf[Long]))
      .sortBy(_._1)
    ranges.size == abs.size &&
      ranges.sliding(2).forall {
        case Seq((_, aMax), (bMin, _)) => aMax <= bMin
        case _ => true
      }
  }

  /** lake_sql_stream_write's table, fed by a REAL streaming query:
    * `readStream.parquet(src) → writeStream.toTable("snap.t")` — the
    * DSv2 STREAMING_WRITE path, where each micro-batch is one append
    * commit claimed under the deterministic `stream-<queryId>-e<epoch>`
    * token (replay-safe, the appendBatch contract). The fixture pins
    * that every post-create commit is an `append` carrying a stream
    * token in the pool. */
  private val streamWriteCache = new SessionCache[String]

  private def streamWriteCatalog(s: SparkSession, dir: String): String =
    streamWriteCache.getOrElseUpdate(s, dir) {
      val base = s"/tmp/graft_stwrite_${dirTag(dir)}"
      val root = new org.apache.hadoop.fs.Path(base)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(root, true); fs.mkdirs(root)
      val cat = s"snapstw_${dirTag(dir)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      val pop = t(s, dir, "lineitem")
        .where(pmod(col("l_orderkey"), lit(3)) === 2)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      pop.write.parquet(s"$base/src")
      val srcSchema = s.read.parquet(s"$base/src").schema
      val srcView = s"graft_stwrite_src_${dirTag(dir)}"
      pop.limit(0).createOrReplaceTempView(srcView)
      s.sql(s"CREATE TABLE $cat.lineitem_s AS SELECT * FROM $srcView") // empty v0(+v1)
      val q = s.readStream.schema(srcSchema).parquet(s"$base/src")
        .writeStream.option("checkpointLocation", s"$base/ckpt")
        .toTable(s"$cat.lineitem_s")
      try q.processAllAvailable() finally q.stop()
      val table = s"$base/lineitem_s"
      val hist = SnapshotLog.history(s, table)
        .select("version", "op").collect().map(r => (r.getLong(0), r.getString(1)))
      require(hist.exists(_._2 == "create") && hist.count(_._2 == "append") >= 1,
        s"stream-write fixture: unexpected commit log ${hist.toSeq}")
      val pool = new org.apache.hadoop.fs.Path(s"$table/data")
      val tokens = fs.listStatus(pool).map(_.getPath.getName)
      require(tokens.exists(_.startsWith("stream-")),
        s"stream-write fixture: no stream epoch token in the pool (${tokens.toSeq})")
      require(!tokens.exists(_.startsWith("staging-")),
        "stream-write fixture: staging dir leaked")
      cat
    }

  /** lake_compact_bin's table: lineitem third-0 as ONE big clustered
    * file, six tiny appends (the micro-batch crumbs a streaming ingest
    * leaves), a DV delete of two keys living in the crumbs, then
    * `compactBin` — the routine bin-pack OPTIMIZE. The fixture pins
    * the 100 TB claims that don't fit a row hash: the big file stayed
    * byte-identical (len+mtime), the crumbs packed, the vectors
    * folded. */
  private val compactBinCache = new SessionCache[(String, Boolean)]

  private def compactBinTable(s: SparkSession, dir: String): (String, Boolean) =
    compactBinCache.getOrElseUpdate(s, dir) {
      val table = s"/tmp/graft_cbin_${dirTag(dir)}/lineitem"
      val p = new org.apache.hadoop.fs.Path(table)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      val li = t(s, dir, "lineitem")
      SnapshotLog.write(li.where(pmod(col("l_orderkey"), lit(3)) === 0),
        table, "overwrite", clusterColumn = Some("l_orderkey"), nFiles = 1) // v0 big
      // crumbs: the 6 first rows of the population under a total order
      // (l_orderkey, l_linenumber is a TPC-H unique key), re-keyed to
      // 900000+b — deterministic at any scale factor, oracle-derivable
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("l_orderkey", "l_linenumber")
      val crumbs = li.where(pmod(col("l_orderkey"), lit(3)) === 0)
        .withColumn("_rn", row_number().over(w)).where(col("_rn") <= 6)
        .withColumn("l_orderkey", lit(900000L) + col("_rn")).drop("_rn")
        .collect()
      val crumbSchema = li.schema
      for (b <- 1 to 6)
        SnapshotLog.write(
          s.createDataFrame(java.util.List.of(crumbs(b - 1)), crumbSchema),
          table, "append") // v1..v6: tiny crumbs with fresh keys
      SnapshotLog.deleteByKeys(s, table, "l_orderkey", Seq(900002L, 900005L)) // v7 DVs
      def sizes: Map[String, (Long, Long)] = {
        val snap = SnapshotLog.state(s, table)
        snap.files.map { f =>
          val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(p, f))
          f -> (st.getLen, st.getModificationTime)
        }.toMap
      }
      val before = sizes
      val big = before.maxBy(_._2._1)
      // small-bound = the big file's own length: the bound is strict,
      // so the big file is excluded and every crumb (KBs) is included,
      // at ANY scale factor
      val v = SnapshotLog.compactBin(s, table,
        targetBytes = 64L * 1024 * 1024, smallBytes = big._2._1)
      require(v == 8L, s"compactBin committed v$v, expected 8")
      val after = sizes
      val bigUntouched = after.get(big._1).contains(big._2)
      require(SnapshotLog.state(s, table).dvs.isEmpty,
        "compactBin fixture: rewritten crumbs must drop their DV sets")
      (table, bigUntouched)
    }

  /** lake_sql_bloom's table: full lineitem + `row_uid`, a SCRAMBLED
    * unique key ((l_orderkey·2654435761) mod 1e9 + l_linenumber) —
    * clustered by l_orderkey, so every file's [row_uid min,max] spans
    * the domain and zone maps provably cannot prune a row_uid point
    * lookup; only the Bloom sidecar can. Built once per (session, dir)
    * with `CALL build_bloom`. */
  private val sqlBloomCache = new SessionCache[String]

  private def sqlBloomCatalog(s: SparkSession, dir: String): String =
    sqlBloomCache.getOrElseUpdate(s, dir) {
      val base = s"/tmp/graft_sqlbloom_${dirTag(dir)}"
      val root = new org.apache.hadoop.fs.Path(base)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val lu = t(s, dir, "lineitem").withColumn("row_uid",
        (col("l_orderkey") * lit(2654435761L)) % lit(1000000000L) + col("l_linenumber"))
      SnapshotLog.write(lu, s"$base/lineitem_u", "overwrite",
        clusterColumn = Some("l_orderkey"), nFiles = 4)
      val cat = s"snapbloom_${dirTag(dir)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", base)
      val n = s.sql(s"CALL $cat.system.build_bloom('lineitem_u', 'row_uid', " +
        "expected_items => 200000)").collect().head.getLong(0)
      require(n == 4L, s"bloom fixture indexed $n files, expected 4")
      cat
    }

  /** lake_join_view_mm's star pair + MIN/MAX join view, once per
    * (session, dir): the same star construction as lake_join_view plus
    * a fact DV delete of the two orderkeys holding the highest per-key
    * max(l_extendedprice) — retracting group extrema THROUGH the join
    * (the dim migration moves whole groups too), so the oracle's
    * from-scratch join checks the joined rescan-on-retract algebra. */
  private val joinViewMmCache = new SessionCache[String]

  private def joinViewMmTable(s: SparkSession, dir: String): String =
    joinViewMmCache.getOrElseUpdate(s, dir) {
      val base = s"/tmp/graft_jvmm_${dirTag(dir)}"
      val root = new org.apache.hadoop.fs.Path(base)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val fact = s"$base/lineitem"; val dim = s"$base/orders"; val mv = s"$base/mv"
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      val od = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      SnapshotLog.write(li.where(pmod(col("l_orderkey"), lit(3)) === 0),
        fact, "overwrite", clusterColumn = Some("l_orderkey"), nFiles = 4) // F v0
      SnapshotLog.write(od, dim, "overwrite",
        clusterColumn = Some("o_orderkey"), nFiles = 4) // D v0
      graft.lake.JoinView.create(s, fact, dim, mv, "l_orderkey", "o_orderkey",
        Seq("o_orderstatus"), Seq("l_quantity"),
        minMaxCols = Seq("l_extendedprice"))
      SnapshotLog.write(li.where(pmod(col("l_orderkey"), lit(3)) === 1),
        fact, "append", clusterColumn = Some("l_orderkey"), nFiles = 4) // F v1
      SnapshotLog.merge(s, dim, "o_orderkey",
        od.where(pmod(col("o_orderkey"), lit(100)) === 0)
          .withColumn("o_orderstatus", lit("X"))) // D v1: group migration
      // F v2: DV-delete the two keys holding the top per-key max price —
      // retracts the owning groups' max through the join (every key
      // joins exactly one order, so the fact-side derivation is the
      // joined one, reproducible in the oracle)
      val topKeys = SnapshotLog.read(s, fact)
        .groupBy("l_orderkey").agg(max(col("l_extendedprice")).as("_mp"))
        .orderBy(col("_mp").desc, col("l_orderkey").asc).limit(2)
        .select("l_orderkey").collect().map(_.getLong(0)).toSeq
      SnapshotLog.deleteByKeys(s, fact, "l_orderkey", topKeys)
      graft.lake.JoinView.refresh(s, mv)
      mv
    }

  private def buildJoinViewFixture(s: SparkSession, dir: String, base: String): String = {
      val root = new org.apache.hadoop.fs.Path(base)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val fact = s"$base/lineitem"; val dim = s"$base/orders"; val mv = s"$base/mv"
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
      val od = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      // file COUNT scales with the corpus, file BYTES stay fixed — so
      // the refresh probe's pruned fact read touches a ~constant file
      // subset at any scale (same deployment shape as the text index)
      val nF = math.max(4L, li.count() / 50000L).toInt
      val nD = math.max(4L, od.count() / 50000L).toInt
      SnapshotLog.write(li.where(pmod(col("l_orderkey"), lit(3)) === 0),
        fact, "overwrite", clusterColumn = Some("l_orderkey"), nFiles = nF) // F v0
      SnapshotLog.write(od, dim, "overwrite",
        clusterColumn = Some("o_orderkey"), nFiles = nD) // D v0
      graft.lake.JoinView.create(s, fact, dim, mv, "l_orderkey", "o_orderkey",
        Seq("o_orderstatus"), Seq("l_quantity"))
      SnapshotLog.write(li.where(pmod(col("l_orderkey"), lit(3)) === 1),
        fact, "append", clusterColumn = Some("l_orderkey"), nFiles = nF) // F v1
      SnapshotLog.merge(s, dim, "o_orderkey",
        od.where(pmod(col("o_orderkey"), lit(100)) === 0)
          .withColumn("o_orderstatus", lit("X"))) // D v1
      SnapshotLog.deleteByKeys(s, fact, "l_orderkey", Seq(42L, 43L)) // F v2
      graft.lake.JoinView.refresh(s, mv)
      mv
  }

  /** lake_schema_evo's evolved orders snapshot, once per (session,
    * dir): v0 = three columns (even keys), v1 appends odd keys WITH a
    * derived `prio_class` column under `mergeSchema = true` — the head
    * read null-fills v0's rows, which is exactly what the oracle's
    * UNION reconstructs. */
  private val schemaEvoCache = new SessionCache[String]

  private def schemaEvoTable(s: SparkSession, dir: String): String =
    schemaEvoCache.getOrElseUpdate(s, dir) {
      val path = s"/tmp/graft_schevo_${dirTag(dir)}/orders"
      val root = new org.apache.hadoop.fs.Path(path)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      SnapshotLog.write(
        o.where(pmod(col("o_orderkey"), lit(2)) === 0)
          .drop("o_orderpriority"),
        path, "overwrite", clusterColumn = Some("o_orderkey"), nFiles = 4)
      SnapshotLog.write(
        o.where(pmod(col("o_orderkey"), lit(2)) === 1)
          .withColumn("prio_class", substring(col("o_orderpriority"), 1, 1))
          .drop("o_orderpriority"),
        path, "append", mergeSchema = true)
      path
    }

  /** lake_wap's write-audit-publish lifecycle, once per (session, dir):
    * v0 = lineitem thirds 0+1; a branch stages the third-2 append, a
    * DV delete (44, 45) and a +200 merge on key 49; an audit gate runs
    * against the BRANCH (main readers never see unaudited rows); then
    * fast-forward publish lands everything as ONE main commit, tagged
    * `audited`, and the branch is dropped. The query reads THROUGH the
    * tag, so fork restatement, branch commits, the manifest-diff
    * publish, and tag resolution are all in the hash. */
  private val wapCache = new SessionCache[String]

  private def wapTable(s: SparkSession, dir: String): String = {
    import graft.lake.Branches
    wapCache.getOrElseUpdate(s, dir) {
      val base = s"/tmp/graft_wap_${dirTag(dir)}"
      val root = new org.apache.hadoop.fs.Path(base)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val table = s"$base/lineitem"
      val li = t(s, dir, "lineitem")
      SnapshotLog.write(li.where(pmod(col("l_orderkey"), lit(3)) < 2),
        table, "overwrite", clusterColumn = Some("l_orderkey"), nFiles = 4)
      Branches.create(s, table, "staged")
      val b = Branches.path(table, "staged")
      SnapshotLog.write(li.where(pmod(col("l_orderkey"), lit(3)) === 2),
        b, "append", clusterColumn = Some("l_orderkey"), nFiles = 4)
      SnapshotLog.deleteByKeys(s, b, "l_orderkey", Seq(44L, 45L))
      SnapshotLog.merge(s, b, "l_orderkey",
        li.where(col("l_orderkey") === 49L)
          .withColumn("l_quantity", col("l_quantity") + lit(200.0)))
      // the audit gate: deleted keys gone, merged rows present, main
      // still at the fork — publish only after the branch passes
      val audited = SnapshotLog.read(s, b)
      require(audited.where(col("l_orderkey").isin(44L, 45L)).isEmpty,
        "audit failed: deleted keys still visible on the branch")
      require(SnapshotLog.currentVersion(s, table) == 0L,
        "audit failed: main advanced during staging")
      val v = Branches.publish(s, table, "staged")
      Branches.tag(s, table, "audited", Some(v))
      Branches.drop(s, table, "staged")
      table
    }
  }

  /** lake_expect's gated ingest pair, once per (session, dir): orders
    * with two planted corruption classes (negated price for keys ≡ 0
    * mod 97, nulled status for ≡ 0 mod 101) pushed through the
    * expectations gate — drop-mode rules divert violators to the
    * quarantine table, the warn-mode date rule counts but keeps its
    * rows. Keys divisible by both moduli (9797, …) exercise the
    * multi-violation path at sf ≥ 0.01. */
  private val expectCache = new SessionCache[(String, String)]
  private val expectWarnCutoff = java.time.LocalDateTime.of(1996, 1, 1, 0, 0)

  /** The planted corruption lake_expect's oracle replays. */
  private def expectCorrupt(orders: DataFrame): DataFrame = orders
    .withColumn("o_totalprice",
      when(pmod(col("o_orderkey"), lit(97)) === 0, -col("o_totalprice"))
        .otherwise(col("o_totalprice")))
    .withColumn("o_orderstatus",
      when(pmod(col("o_orderkey"), lit(101)) === 0, lit(null).cast("string"))
        .otherwise(col("o_orderstatus")))

  private def expectRules: Seq[graft.lake.Expectations.Expectation] = {
    import graft.lake.Expectations.{Expect, Expectation}
    Seq(
      Expectation("positive_price", col("o_totalprice") > 0, Expect.Drop),
      Expectation("known_status",
        col("o_orderstatus").isin("O", "F", "P"), Expect.Drop),
      Expectation("modern_order",
        col("o_orderdate") >= lit(expectWarnCutoff), Expect.Warn))
  }

  private def expectTables(s: SparkSession, dir: String): (String, String) =
    expectCache.getOrElseUpdate(s, dir) {
      val base = s"/tmp/graft_expect_${dirTag(dir)}"
      val root = new org.apache.hadoop.fs.Path(base)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val table = s"$base/orders"; val quar = s"$base/quarantine"
      graft.lake.Expectations.ingest(s, expectCorrupt(t(s, dir, "orders")),
        table, quar, expectRules, "b0",
        clusterColumn = Some("o_orderkey"), nFiles = 8)
      (table, quar)
    }

  /** lake_agg_pushdown's clustered lineitem copy, once per (session,
    * dir) — like every index/layout cache here, the clustering is an
    * ingest-time investment the aggregate then exploits many times. */
  private val statsAggCache = new SessionCache[String]

  private def statsAggTable(s: SparkSession, dir: String): String =
    statsAggCache.getOrElseUpdate(s, dir) {
      val path = s"/tmp/graft_statsagg_${dirTag(dir)}/lineitem"
      ClusteredWriter.write(t(s, dir, "lineitem"), path, "l_orderkey", nFiles = 16)
      path
    }

  /** dsir_weights/dsir_resample's importance-ratio model, once per
    * (session, dir) — DSIR trains once per (target, raw) pair and
    * scores every downstream batch, the same train-once contract as
    * the BPE and centroid caches. Target = sources src1/src2/src3 (the
    * "curated" stand-in), raw = the whole documents corpus. */
  private val dsirModelCache = new SessionCache[graft.ops.Dsir.Model]
  private val dsirTargetSources = Seq("src1", "src2", "src3")

  private def dsirModel(s: SparkSession, dir: String): graft.ops.Dsir.Model =
    dsirModelCache.getOrElseUpdate(s, dir) {
      val docs = t(s, dir, "documents")
      graft.ops.Dsir.train(
        docs.where(col("source").isin(dsirTargetSources: _*)), docs)
    }

  /** text_bpe's trained merge table, once per (session, dir) — a
    * tokenizer is trained once per corpus snapshot and applied to
    * every downstream batch. */
  private val bpeModelCache = new SessionCache[graft.ops.BpeModel]

  private def bpeModel(s: SparkSession, dir: String): graft.ops.BpeModel =
    bpeModelCache.getOrElseUpdate(s, dir)(
      graft.ops.Bpe.train(t(s, dir, "documents"), "text", numMerges = 100))

  /** lake_bloom's clustered orders copy + per-file Bloom table, once
    * per (session, dir) — an index is built at ingest and probed many
    * times. The copy is clustered by o_orderkey, so zone maps prune
    * NOTHING for a customer lookup; the Bloom table is what narrows the
    * scan to the files that really hold the customer's orders (a ~10-
    * row key in 24 files here; at 100 TB, 10 files out of 100 000). */
  private val bloomCache = new SessionCache[(String, DataFrame)]

  private def bloomOrders(s: SparkSession, dir: String): (String, DataFrame) =
    bloomCache.getOrElseUpdate(s, dir) {
      val path = s"/tmp/graft_bloom_${dirTag(dir)}/orders"
      ClusteredWriter.write(t(s, dir, "orders"), path, "o_orderkey", nFiles = 24)
      (path, BloomIndex.build(s, path, "o_custkey",
        expectedItemsPerFile = 16384L).cache())
    }

  /** The planted corpus's derived dedup anchors, ONE pass + persist per
    * (session, dir): per doc, the normalized-content md5 (exact-dup
    * anchor) and the sorted distinct 64-bit shingle-hash set (every
    * exact-Jaccard stage). Three scorecard queries (dedup_minhash's
    * verification, dedup_simhash's two anchors, dedup_jaccard_prefix)
    * consume the SAME frame through the `Dedup.*OnSets` variants instead
    * of re-running tokenize+shingle per anchor — the derivation is the
    * measured hot loop of these pipelines (the r7 bench regression on
    * dedup_simhash was exactly this re-computation). md5 strings and
    * long arrays round-trip the columnar cache cheaply — the OPPOSITE of
    * the raw text corpus, which is deliberately NOT persisted (see
    * `plantedDocs`). The build references the token alias twice
    * (md5 + shingles ⟹ CollapseProject inlines the tokenizer per
    * reference), a one-time 2× tokenize paid once instead of the ~4
    * full derivations the queries ran before. */
  private val plantedSetsCache = new SessionCache[DataFrame]

  private def plantedShingleSets(s: SparkSession, dir: String): DataFrame =
    plantedSetsCache.getOrElseUpdate(s, dir) {
      plantedDocs(s, dir)
        .select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("_tk"))
        .select(col("doc_id"),
          md5(array_join(col("_tk"), " ")).as("content_md5"),
          Dedup.shingleSet(Dedup.shingleHashes(col("_tk"), 3)).as("sh_set"))
        .persist()
    }

  /** q_bucket_join's co-bucketed orders/lineitem pair, written once per
    * (session, dir) — the bucketed layout is an ingest-time investment
    * queried many times, like the z-order and Bloom caches above. Table
    * names carry the dir tag for the same reason the views do. */
  private val bucketedPairCache = new SessionCache[(String, String)]

  private def bucketedPair(s: SparkSession, dir: String): (String, String) = {
    import graft.lake.Bucketing
    bucketedPairCache.getOrElseUpdate(s, dir) {
      val tag = dirTag(dir)
      val base = s"/tmp/graft_bucket_$tag"
      val ot = s"orders_bkt_$tag"; val lt = s"lineitem_bkt_$tag"
      Bucketing.writeBucketed(t(s, dir, "orders"), ot, s"$base/orders",
        "o_orderkey", numBuckets = 8)
      Bucketing.writeBucketed(t(s, dir, "lineitem"), lt, s"$base/lineitem",
        "l_orderkey", numBuckets = 8)
      (ot, lt)
    }
  }

  private def mergedLineitemView(s: SparkSession, dir: String): String =
    mergeViewCache.getOrElseUpdate(s, dir) {
      val san = dirTag(dir)
      val base = s"/tmp/graft_merge_$san"
      // wipe a previous process's leftovers: Merge MUTATES the copy, and
      // a stale half-merged table (or appended stats) would double-apply
      val root = new org.apache.hadoop.fs.Path(base)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(root)) fs.delete(root, true)
      val data = s"$base/t"; val stats = s"$base/stats"
      ClusteredWriter.write(t(s, dir, "lineitem"), data, "l_orderkey", nFiles = 16)
      Metastore.update(s, stats,
        Metastore.buildFromFooters(s, data, "l_orderkey", Seq("l_shipdate")))
      // CDC upsert: key-group replace of orderkeys 42 and 47 with the
      // same rows at quantity+100 (exact in double AND in the oracle's
      // identical DOUBLE arithmetic)
      Merge.upsert(s, data, stats,
        t(s, dir, "lineitem").where(col("l_orderkey").isin(42L, 47L))
          .withColumn("l_quantity", col("l_quantity") + lit(100.0)))
      // delete two present keys + one key absent below sf0.01 (a no-op
      // there — the oracle's NOT IN agrees either way)
      import s.implicits._
      Merge.delete(s, data, stats, Seq(43L, 50L, 4243L).toDF("l_orderkey"))
      val name = "lineitem_merged_" + san
      MetastoreFileIndex.table(s, data, Metastore.load(s, stats))
        .createOrReplaceTempView(name)
      name
    }

  /** Identifier-safe, collision-free tag for a data dir: the sanitized
    * path keeps names human-readable, the md5 prefix makes distinct
    * dirs distinct even when sanitization aliases them ("/a/b" vs
    * "/a_b" both sanitize to "_a_b" — a raw sanitized suffix would let
    * one dir's view/scratch-table silently serve the other's queries). */
  private def dirTag(dir: String): String = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + md5
  }

  /** Exact decimal sum of a 2-dp double column, returned as double. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** Exact decimal sum of price·(1−discount), returned as double — the
    * discounted-revenue determinism contract in one place. */
  private def dsumDisc(price: Column, discount: Column): Column =
    sum(price.cast("decimal(18,2)") * (lit(1) - discount.cast("decimal(18,2)"))).cast("double")

  private val ts1997 = java.time.LocalDateTime.of(1997, 1, 1, 0, 0, 0)
  private val lakeVals: Seq[Any] = Seq(42L, 4242L, 9999L, 14000L)

  /** Flagship query on sf=0.001 (driver smoke-checks rows > 0): the full
    * reference lifecycle — stats harvest, zone-map prune, pruned scan
    * with pushed filter + projection. */
  def entry(spark: SparkSession): DataFrame =
    shack(spark, "/root/testdata/sf0.001")
      .query(values = Seq(1L, 7L, 42L), clauses = Nil,
        columns = Some(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ───── reference parity: the Lakeshack/Metastore surface (SURVEY §2.1)
    "lake_point" -> ((s, dir) =>
      shack(s, dir).query(values = lakeVals)
        .orderBy("l_orderkey", "l_linenumber")),

    "lake_range" -> ((s, dir) =>
      shack(s, dir).query(values = lakeVals,
          clauses = Seq(Clause("l_shipdate", ">=", ts1997)),
          columns = Some(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")))
        .orderBy("l_orderkey", "l_linenumber")),

    "lake_limit" -> ((s, dir) =>
      shack(s, dir).query(values = lakeVals,
          columns = Some(Seq("l_orderkey", "l_linenumber", "l_extendedprice")))
        .orderBy("l_orderkey", "l_linenumber").limit(7)),

    // stats queries fold per-file rows to the global [min,max] so the
    // oracle comparison is layout-independent (a per-file result would
    // only match a whole-table oracle when the table is one file)
    "lake_stats" -> ((s, dir) =>
      globalStats(Metastore.build(s, s"$dir/lineitem.parquet", "l_orderkey", Seq("l_shipdate")))),

    // stats-soundness audit over a 24-file clustered layout: footer
    // stats with the two bound-holding rows deterministically NARROWED
    // (the file carrying the global l_orderkey max loses 1 off its
    // stored max; the global-min file gains 1 on its stored min) must
    // audit as exactly 2 under_covering (file, l_orderkey) entries —
    // the unsound class pruning would silently drop rows under — while
    // all 24 l_shipdate entries stay `exact`, which doubles as the
    // cross-builder pin: footer-harvested bounds equal the scan
    // recomputation bound-for-bound, timestamps included. Layout
    // independence: counts depend only on nFiles (pinned at 24), never
    // on where the range partitioner puts the boundaries.
    "lake_audit" -> ((s, dir) => {
      // the clustered copy is INGEST (write once, audit many times —
      // the zorder/merge/bucketed caches' contract); re-writing it per
      // invocation benched the writer, not the audit. The audited work
      // — the footer harvest, the tamper, and auditStats' full scan
      // recomputation + stats join — still runs per invocation, so the
      // query computes from the parquet files every time. Result
      // unchanged: the verdict counts depend only on the written
      // layout (nFiles = 24), which is deterministic per (session, dir).
      val path = auditTableCache.getOrElseUpdate(s, dir) {
        val p = s"/tmp/graft_audit_${dirTag(dir)}/lineitem"
        ClusteredWriter.write(t(s, dir, "lineitem"), p, "l_orderkey", nFiles = 24)
        p
      }
      val stats = Metastore.buildFromFooters(s, path, "l_orderkey", Seq("l_shipdate"))
      val w = Window.partitionBy()
      val tampered = stats
        .withColumn("_gmax", max(col("l_orderkey_max")).over(w))
        .withColumn("_gmin", min(col("l_orderkey_min")).over(w))
        .withColumn("l_orderkey_max",
          when(col("l_orderkey_max") === col("_gmax"), col("l_orderkey_max") - 1)
            .otherwise(col("l_orderkey_max")))
        .withColumn("l_orderkey_min",
          when(col("l_orderkey_min") === col("_gmin"), col("l_orderkey_min") + 1)
            .otherwise(col("l_orderkey_min")))
        .drop("_gmax", "_gmin")
      Metastore.auditStats(s, path, tampered)
        .groupBy(col("column").as("col_name"), col("verdict"))
        .agg(count(lit(1)).as("n_files"))
        .orderBy("col_name", "verdict")
    }),

    "lake_stats_footer" -> ((s, dir) =>
      globalStats(Metastore.buildFromFooters(s, s"$dir/lineitem.parquet", "l_orderkey", Seq("l_shipdate")))),

    // transparent zone-map pruning: plain spark.sql over a
    // MetastoreFileIndex-backed view — Catalyst hands the pushed filters
    // to the index, which skips files by [min,max] before task scheduling.
    // The view (stats + index) is registered once per (session, dir),
    // like a real deployment: build the index at ingest, query it many
    // times.
    "lake_sql_pruned" -> ((s, dir) => {
      val view = prunedViewCache.getOrElseUpdate(s, dir) {
        val name = "lineitem_pruned_" + dirTag(dir)
        MetastoreFileIndex.table(s, s"$dir/lineitem.parquet",
            Metastore.build(s, s"$dir/lineitem.parquet", "l_orderkey", Seq("l_shipdate")))
          .createOrReplaceTempView(name)
        name
      }
      s.sql(
        s"""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
           |FROM $view
           |WHERE l_orderkey IN (42, 4242, 9999, 14000)
           |ORDER BY l_orderkey, l_linenumber""".stripMargin)
    }),

    // two-dimensional clustering: the lineitem copy is z-ordered on
    // (l_orderkey, l_partkey), stats harvested on both, and the query's
    // two range predicates prune files through the transparent index —
    // the single-column clustering of lake_sql_pruned cannot skip
    // anything for the l_partkey band. Result equals a plain filtered
    // read of the original table (clustering only reorders rows).
    "lake_zorder" -> ((s, dir) => {
      val view = zorderViewCache.getOrElseUpdate(s, dir) {
        val san = dirTag(dir)
        val path = s"/tmp/graft_zorder_$san/lineitem"
        ClusteredWriter.writeZOrdered(t(s, dir, "lineitem"), path,
          "l_orderkey", "l_partkey", nFiles = 16)
        val name = "lineitem_zorder_" + san
        MetastoreFileIndex.table(s, path,
            Metastore.build(s, path, "l_orderkey", Seq("l_partkey")))
          .createOrReplaceTempView(name)
        name
      }
      s.sql(
        s"""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
           |FROM $view
           |WHERE l_orderkey BETWEEN 4000 AND 4600 AND l_partkey BETWEEN 500 AND 700
           |ORDER BY l_orderkey, l_linenumber""".stripMargin)
    }),

    // OPTIMIZE ZORDER on the VERSIONED format: compactZ rewrites the
    // head Morton-interleaved as one commit; the same two-dim range
    // query as lake_zorder then runs through readPruned with BOTH
    // dimensions harvested — multi-dim planning-time file skipping on a
    // time-travelable table (numFiles pinned in SnapshotLogSpec)
    "lake_snap_zorder" -> ((s, dir) => {
      val table = snapZorderCache.getOrElseUpdate(s, dir) {
        val path = s"/tmp/graft_snapz_${dirTag(dir)}/lineitem"
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        SnapshotLog.write(t(s, dir, "lineitem"), path, "overwrite",
          clusterColumn = Some("l_orderkey"), nFiles = 16) // v0: one-dim
        SnapshotLog.compactZ(s, path, Seq("l_orderkey", "l_partkey"), nFiles = 16)
        path
      }
      SnapshotLog.readPruned(s, table, "l_orderkey",
          optionalColumns = Seq("l_partkey"))
        .where(col("l_orderkey").between(4000L, 4600L) &&
          col("l_partkey").between(500L, 700L))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // copy-on-write MERGE: row-level listing across the upserted (42,
    // 47 at quantity+100) and deleted (43, 50) key range — through the
    // REFRESHED stats' pruned view, so a stats-swap bug surfaces as
    // missing rows here
    "lake_merge" -> ((s, dir) => {
      val view = mergedLineitemView(s, dir)
      s.sql(
        s"""SELECT l_orderkey, l_linenumber, l_quantity
           |FROM $view
           |WHERE l_orderkey BETWEEN 40 AND 60
           |ORDER BY l_orderkey, l_linenumber""".stripMargin)
    }),

    // whole-table checksum of the merged state: proves the delete
    // removed every row of its keys table-wide and the rewrite
    // preserved every other row (not just the listed window above)
    "lake_delete" -> ((s, dir) => {
      val view = mergedLineitemView(s, dir)
      s.sql(
        s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_keys
           |FROM $view""".stripMargin)
    }),

    // per-file Bloom pruning on an UNCLUSTERED high-cardinality column:
    // the orders copy is clustered by o_orderkey, so every file's
    // o_custkey [min,max] spans the whole domain and zone maps keep all
    // 24 files — the Bloom table narrows the scan to the files actually
    // holding the probed customers (may-contain: a false positive only
    // adds a file whose rows the scan filter then drops)
    "lake_bloom" -> ((s, dir) => {
      val (path, bloom) = bloomOrders(s, dir)
      val files = BloomIndex.prune(bloom, Seq(37L, 55L))
      val base =
        if (files.isEmpty) s.read.parquet(path).limit(0)
        else s.read.parquet(files: _*)
      base.where(col("o_custkey").isin(37L, 55L))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // time travel: read version 1 of the snapshot table (thirds 0+1 of
    // lineitem) AFTER two more commits changed the head twice — the
    // version pins that later overwrites/rollbacks never bleed into an
    // old snapshot's file set
    "lake_timetravel" -> ((s, dir) => {
      val table = snapshotTable(s, dir)
      SnapshotLog.read(s, table, asOf = Some(1L))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // the same pinned-version aggregate through PURE SQL: the DSv2
    // catalog (SnapshotCatalog) resolves `VERSION AS OF 1` to v1's
    // exact file set + schema, no API call in sight — hash-matching
    // lake_timetravel's oracle proves the SQL surface serves the same
    // bytes as the API read. Catalog name is per-dir: Spark caches a
    // catalog instance by name at first use, so a shared name would pin
    // the first dir's root for the whole session.
    "lake_sql_timetravel" -> ((s, dir) => {
      val table = snapshotTable(s, dir)
      val root = table.stripSuffix("/lineitem")
      val cat = s"snap_${dirTag(dir)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.sql(
        s"""SELECT l_returnflag, COUNT(*) AS n_rows,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
           |FROM $cat.lineitem VERSION AS OF 1
           |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    // rollback: the head commit restores v1's exact live set after the
    // bad v2 overwrite — reading HEAD (not a pinned version) must equal
    // thirds 0+1; a rollback that missed a file or leaked one of v2's
    // shows up as a count/sum drift here
    "lake_rollback" -> ((s, dir) => {
      val table = snapshotTable(s, dir)
      SnapshotLog.read(s, table)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_keys"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
    }),

    // the commit log itself: four entries with pinned ops and the
    // rollback provenance — layout-independent (no file counts: the
    // range partitioner owns those)
    "lake_history" -> ((s, dir) => {
      val table = snapshotTable(s, dir)
      SnapshotLog.history(s, table)
        .select(col("version"), col("op"), col("rollback_of"))
        .orderBy("version")
    }),

    // copy-on-write MERGE on the snapshot format: the same
    // upsert+delete batch as lake_merge applied as ONE snapshot commit
    // (file-level pruned rewrite — SnapshotLogSpec pins that
    // unaffected files stay byte-identical); same oracle as the
    // metastore lake's merge, so the two formats cannot drift
    "lake_snap_merge" -> ((s, dir) => {
      val table = snapMergeTable(s, dir)
      SnapshotLog.read(s, table)
        .where(col("l_orderkey").between(40L, 60L))
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // deletion vectors: keys 42+43 DV-deleted at v2 with ZERO data
    // files rewritten (SnapshotDvSpec pins byte-identity); this query
    // time-travels to exactly that version, so it verifies BOTH that
    // the vectors hide the keys and that the later merge (v3) did not
    // bleed into the pinned snapshot
    "lake_dv_delete" -> ((s, dir) => {
      val (table, _) = changeFeedTables(s, dir)
      SnapshotLog.read(s, table, asOf = Some(2L))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    }),

    // merge-on-read → copy-on-write conversion: after purgeDeletes the
    // head population is bit-unchanged (oracle re-derives it from raw
    // lineitem through delete v2 + merge v3) AND no live file carries a
    // vector any more — n_dirty_files = 0 rides every output row so the
    // cleared-vector contract is part of the hash, not just a spec
    "lake_dv_purge" -> ((s, dir) => {
      val (table, _) = changeFeedTables(s, dir)
      val nDirty = SnapshotLog.state(s, table).dvs.size
      SnapshotLog.read(s, table)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .withColumn("n_dirty_files", lit(nDirty).cast("long"))
    }),

    // the row-level change feed across the whole lifecycle: creation
    // insert, append insert, DV delete (only newly-dead rows), and the
    // merge's except-diff (upsert = delete+insert, carried-along rows
    // cancel) — the oracle reconstructs every event from the raw table
    "lake_changes" -> ((s, dir) => {
      val (table, _) = changeFeedTables(s, dir)
      SnapshotLog.readChanges(s, table, fromVersion = -1L)
        .select(col("_change_type").as("change_type"),
          col("_commit_version").as("commit_version"), col("l_quantity"))
        .groupBy("change_type", "commit_version")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    }),

    // incremental materialized view: created at v1, advanced through a
    // DV delete and a merge purely from the change feed (O(changed
    // rows) per refresh, never a source rescan) — must equal the
    // oracle's from-scratch aggregate over the head population
    "lake_incr_agg" -> ((s, dir) => {
      val (_, mv) = changeFeedTables(s, dir)
      graft.lake.IncrementalView.read(s, mv)
        .select(col("l_returnflag"), col("n_rows"),
          col("sum_l_quantity").as("sum_qty"))
    }),

    // auto-maintenance policy: after maintain() the vectors are FOLDED
    // (n_dirty_files pinned to 0 in the result) and the head reads
    // exactly the post-delete population
    "lake_maintain" -> ((s, dir) => {
      val table = maintainTable(s, dir)
      val nDirty = SnapshotLog.state(s, table).dvs.size.toLong
      SnapshotLog.read(s, table)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .withColumn("n_dirty_files", lit(nDirty))
    }),

    // MIN/MAX + derived AVG maintained through a DV delete that
    // retracts a group's max (rescan-on-retract, bounded to the
    // retracted groups) — must equal the oracle's from-scratch
    // aggregate over the post-delete population
    "lake_incr_minmax" -> ((s, dir) => {
      val mv = minMaxViewTable(s, dir)
      graft.lake.IncrementalView.read(s, mv)
        .select(col("l_returnflag"), col("n_rows"),
          col("min_l_extendedprice").as("min_price"),
          col("max_l_extendedprice").as("max_price"),
          col("avg_l_quantity").as("avg_qty"))
    }),

    // the change feed shipped through the streaming relay's outbox
    // (atomic per-version dirs, the file-stream source's input): the
    // shipped bytes must carry EXACTLY the feed — same oracle as
    // lake_changes, and the purge version ships as an empty marker
    "lake_changes_relay" -> ((s, dir) => {
      val (table, _) = changeFeedTables(s, dir)
      val ob = s"/tmp/graft_chrelay_${dirTag(dir)}/outbox"
      val obP = new org.apache.hadoop.fs.Path(ob)
      obP.getFileSystem(s.sparkContext.hadoopConfiguration).delete(obP, true)
      graft.streaming.ChangeRelay.relay(s, table, ob)
      s.read.schema(graft.streaming.ChangeRelay.changeSchema(s, table))
        .parquet(s"$ob/v*")
        .select(col("_change_type").as("change_type"),
          col("_commit_version").as("commit_version"), col("l_quantity"))
        .groupBy("change_type", "commit_version")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    }),

    // incrementally-maintained fact⋈dim aggregate: created at (F v0,
    // D v0), advanced through a fact append, a dim group-migration
    // merge, and a fact DV delete purely by the two-term delta algebra
    // — must equal the oracle's from-scratch join+aggregate at heads
    "lake_join_view" -> ((s, dir) =>
      graft.lake.JoinView.read(s, joinViewTable(s, dir))
        .select(col("o_orderstatus"), col("n_rows"),
          col("sum_l_quantity").as("sum_qty"))),

    // MIN/MAX maintained ACROSS the join: fact append + dim group
    // migration + a fact DV delete that retracts group extrema — the
    // joined rescan-on-retract (flagged groups only) must land the view
    // on the oracle's from-scratch join+aggregate at the heads
    "lake_join_view_mm" -> ((s, dir) =>
      graft.lake.JoinView.read(s, joinViewMmTable(s, dir))
        .select(col("o_orderstatus"), col("n_rows"),
          col("sum_l_quantity").as("sum_qty"),
          col("min_l_extendedprice").as("min_price"),
          col("max_l_extendedprice").as("max_price"))),

    // pure-SQL read of a DV-CARRYING version: VERSION AS OF 2 resolves
    // the post-delete snapshot whose deletion vectors the DSv2 scan
    // applies row-positionally (SnapshotTable's DvScanBuilder) —
    // hash-matching lake_dv_delete's oracle proves the SQL surface
    // serves exactly the API read's rows: dead rows dropped, the later
    // merge not bled in, all without purging first
    "lake_sql_dv" -> ((s, dir) => {
      val (table, _) = changeFeedTables(s, dir)
      val root = table.stripSuffix("/lineitem")
      val cat = s"snapdv_${dirTag(dir)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.sql(
        s"""SELECT l_returnflag, COUNT(*) AS n_rows,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
           |FROM $cat.lineitem VERSION AS OF 2
           |GROUP BY l_returnflag""".stripMargin)
    }),

    // SQL DML end-to-end: the table's v1 append arrived via INSERT INTO
    // (DSv2 BatchWrite — the driver-side commit IS the manifest claim),
    // its v2 deletes via DELETE FROM (a deletion-vector commit, zero
    // files rewritten), and its v3 via UPDATE (one atomic DV+append
    // commit) — the head read back through SQL must equal the same
    // population every API-built lifecycle produces. This is the
    // reference's query-the-lake surface promoted to a full read-WRITE
    // SQL table (lakeshack.py has no write SQL at all).
    "lake_sql_dml" -> ((s, dir) => {
      val cat = sqlDmlCatalog(s, dir)
      s.sql(
        s"""SELECT l_returnflag, COUNT(*) AS n_rows,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
           |FROM $cat.lineitem
           |GROUP BY l_returnflag""".stripMargin)
    }),

    // the SQL UPDATE's and MERGE's row-level effects, pinned key by
    // key: 48 reads +100 (UPDATE), 45 reads +1000 (merge update arm),
    // 51 is gone (merge delete arm), deleted keys stay gone, neighbors
    // byte-exact
    "lake_sql_update" -> ((s, dir) => {
      val cat = sqlDmlCatalog(s, dir)
      s.sql(
        s"""SELECT l_orderkey, l_linenumber, l_quantity
           |FROM $cat.lineitem
           |WHERE l_orderkey BETWEEN 40 AND 60
           |ORDER BY l_orderkey, l_linenumber""".stripMargin)
    }),

    // the DML lifecycle's commit log: every SQL statement landed as
    // exactly ONE snapshot commit with its op pinned — INSERT = append,
    // DELETE = delete (vectors), UPDATE = update (atomic DV+append),
    // MERGE = merge_into (atomic DV+append)
    "lake_sql_merge" -> ((s, dir) => {
      val cat = sqlDmlCatalog(s, dir)
      val table = s"/tmp/graft_sqldml_${dirTag(dir)}/lineitem"
      val _ = cat // fixture built (cat registration rides along)
      SnapshotLog.history(s, table).select("version", "op").orderBy("version")
    }),

    // the subquery-UPDATE's effect pinned row by row: key 54's l_tax
    // reads the folded scalar (max over the INSERTed third), neighbors
    // byte-exact, the merge-deleted key still gone
    "lake_sql_subq" -> ((s, dir) => {
      val cat = sqlDmlCatalog(s, dir)
      s.sql(
        s"""SELECT l_orderkey, l_linenumber, l_tax
           |FROM $cat.lineitem
           |WHERE l_orderkey BETWEEN 50 AND 60
           |ORDER BY l_orderkey, l_linenumber""".stripMargin)
    }),

    // the correlated-subquery UPDATE pinned row by row: keys 50–400 of
    // the third carry max(URGENT o_totalprice) of their own order —
    // NULL where the order has no URGENT row (the empty-aggregate
    // default the MERGE rewrite's not-matched-by-source arm assigns) —
    // neighbors outside the range byte-exact
    "lake_sql_subq_corr" -> ((s, dir) => {
      val cat = sqlCorrCatalog(s, dir)
      s.sql(
        s"""SELECT l_orderkey, l_linenumber, l_tax
           |FROM $cat.lineitem
           |WHERE l_orderkey BETWEEN 30 AND 450
           |ORDER BY l_orderkey, l_linenumber""".stripMargin)
    }),

    // SQL schema evolution end-to-end: CTAS (even keys, 3 cols), ALTER
    // TABLE ADD COLUMN (metadata-only commit), INSERT carrying the new
    // column — the head null-fills v0's rows exactly like the
    // API-side mergeSchema write
    "lake_sql_evolve" -> ((s, dir) => {
      val cat = sqlEvolveCatalog(s, dir)
      s.sql(
        s"""SELECT prio_class, COUNT(*) AS n_rows,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           |FROM $cat.orders
           |GROUP BY prio_class""".stripMargin)
    }),

    // the SQL CALL maintenance lifecycle (compact → DELETE → maintain
    // → tag): the head must hold exactly the post-delete population —
    // compaction and the purge are row-content no-ops, the DV delete
    // is not — and the zone maps the CALL compact rebuilt must prune
    // the BETWEEN read (spec-pinned; here the rows prove the rewrite
    // lost and invented nothing)
    "lake_sql_call" -> ((s, dir) => {
      val cat = sqlCallCatalog(s, dir)
      s.sql(
        s"""SELECT l_returnflag, COUNT(*) AS n_rows,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
           |FROM $cat.lineitem
           |GROUP BY l_returnflag""".stripMargin)
    }),

    // manifest-backed aggregate pushdown: count/min/max over the
    // post-maintenance table must be answered from cached footer stats
    // as a LocalTableScan — manifest_served pins that the zero-
    // file-read path actually served (a silent fallback to the scan
    // would return the same numbers and hide the regression)
    "lake_sql_agg_push" -> ((s, dir) => {
      val cat = sqlCallCatalog(s, dir)
      val before = graft.lake.ManifestAgg.served.get()
      val agg = s.sql(
        s"""SELECT count(*) AS n_rows, count(l_returnflag) AS n_flags,
           |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
           |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
           |FROM $cat.lineitem""".stripMargin)
      agg.collect() // force planning: the manifest path serves (or not) HERE
      agg.withColumn("manifest_served",
        lit(graft.lake.ManifestAgg.served.get() > before))
    }),

    // FILTERED aggregate pushdown (the shape ManifestAgg refuses):
    // count/min/max under a range predicate answered from cached
    // footers for every COVERED file plus a pushed scan of only the
    // boundary files — footer_covered pins that interior files really
    // were served from footers AND the boundary stayed ≤ 2 files (a
    // silent fallback to the full scan would return the same numbers
    // and hide the regression). Bounds are derived from the data by
    // integer arithmetic the oracle repeats, so the range spans
    // interior files at ANY scale factor.
    "lake_sql_agg_filtered" -> ((s, dir) => {
      val cat = sqlCallCatalog(s, dir)
      val mm = s.sql(s"SELECT min(l_orderkey), max(l_orderkey) FROM $cat.lineitem").head()
      val mn = mm.getAs[Number](0).longValue; val mx = mm.getAs[Number](1).longValue
      val lo = mn + (mx - mn) / 10; val hi = mx - (mx - mn) / 10
      val covBefore = graft.lake.PushFilteredAggToManifest.coveredFiles.get()
      val scanBefore = graft.lake.PushFilteredAggToManifest.scannedFiles.get()
      val agg = s.sql(
        s"""SELECT count(*) AS n_rows, count(l_returnflag) AS n_flags,
           |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
           |FROM $cat.lineitem
           |WHERE l_orderkey BETWEEN $lo AND $hi""".stripMargin)
      agg.collect() // analysis fires the rule; counters read after it
      val cov = graft.lake.PushFilteredAggToManifest.coveredFiles.get() - covBefore
      val scn = graft.lake.PushFilteredAggToManifest.scannedFiles.get() - scanBefore
      agg.withColumn("footer_covered", lit(cov > 0 && scn <= 2))
    }),

    // IN-list filtered aggregate pushdown (the other maintenance
    // shape: `count(*) WHERE k IN (…)`): on a table whose files each
    // hold ONE k value (what CLUSTER BY k converges to), member-value
    // files are footer-covered POINTS, non-member files footer-skip —
    // footer_covered pins that the set classification actually served
    // (a silent fallback to the scan would return the same numbers)
    "lake_sql_agg_in" -> ((s, dir) => {
      val cat = sqlAggInCatalog(s, dir)
      val covBefore = graft.lake.PushFilteredAggToManifest.coveredFiles.get()
      val agg = s.sql(
        s"""SELECT count(*) AS n_rows, count(l_returnflag) AS n_flags,
           |  min(l_linenumber) AS min_ln, max(l_linenumber) AS max_ln
           |FROM $cat.lineitem
           |WHERE l_linenumber IN (1, 3, 5)""".stripMargin)
      agg.collect() // analysis fires the rule; counters read after it
      val cov = graft.lake.PushFilteredAggToManifest.coveredFiles.get() - covBefore
      agg.withColumn("footer_covered", lit(cov > 0))
    }),

    // GROUP BY the cluster column on a point-file layout: every file
    // IS one group, so the whole per-partition-stats rollup answers
    // from footers — footer_covered pins that the point files really
    // served (zero-row crumbs may legitimately scan)
    "lake_sql_agg_group" -> ((s, dir) => {
      val cat = sqlAggInCatalog(s, dir)
      val covBefore = graft.lake.PushFilteredAggToManifest.coveredFiles.get()
      val agg = s.sql(
        s"""SELECT l_linenumber, count(*) AS n_rows,
           |  count(l_returnflag) AS n_flags,
           |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
           |FROM $cat.lineitem
           |GROUP BY l_linenumber""".stripMargin)
      agg.collect() // analysis fires the rule; counters read after it
      val cov = graft.lake.PushFilteredAggToManifest.coveredFiles.get() - covBefore
      agg.withColumn("footer_covered", lit(cov > 0))
    }),

    // the WINDOWED rollup (GROUP BY + WHERE on the cluster column):
    // out-of-range point files skip, in-range ones serve from footers
    "lake_sql_agg_group_w" -> ((s, dir) => {
      val cat = sqlAggInCatalog(s, dir)
      val covBefore = graft.lake.PushFilteredAggToManifest.coveredFiles.get()
      val agg = s.sql(
        s"""SELECT l_linenumber, count(*) AS n_rows,
           |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
           |FROM $cat.lineitem
           |WHERE l_linenumber BETWEEN 2 AND 5
           |GROUP BY l_linenumber""".stripMargin)
      agg.collect() // analysis fires the rule; counters read after it
      val cov = graft.lake.PushFilteredAggToManifest.coveredFiles.get() - covBefore
      agg.withColumn("footer_covered", lit(cov > 0))
    }),

    // filtered SUM/AVG from the per-file SUM SIDECAR: parquet footers
    // never carry sums, so `SELECT sum(x) … WHERE k BETWEEN lo AND hi`
    // — the dominant reporting aggregate — always full-scanned before
    // round 17. With `CALL collect_agg_stats` run once, covered files
    // answer sum/avg from metadata (exact: integral long arithmetic)
    // and only the boundary files scan; footer_covered pins that the
    // sidecar really served and the boundary stayed ≤ 2 files. Bounds
    // derive from the data by the same integer arithmetic the oracle
    // repeats, so the range spans interior files at ANY scale factor.
    "lake_sql_agg_sum" -> ((s, dir) => {
      val cat = sqlAggSumCatalog(s, dir)
      val mm = s.sql(s"SELECT min(l_orderkey), max(l_orderkey) FROM $cat.lineitem").head()
      val mn = mm.getAs[Number](0).longValue; val mx = mm.getAs[Number](1).longValue
      val lo = mn + (mx - mn) / 10; val hi = mx - (mx - mn) / 10
      val covBefore = graft.lake.PushFilteredAggToManifest.coveredFiles.get()
      val scanBefore = graft.lake.PushFilteredAggToManifest.scannedFiles.get()
      val agg = s.sql(
        s"""SELECT count(*) AS n_rows, sum(l_suppkey) AS sum_sup,
           |  avg(l_suppkey) AS avg_sup, sum(l_orderkey) AS sum_key
           |FROM $cat.lineitem
           |WHERE l_orderkey BETWEEN $lo AND $hi""".stripMargin)
      agg.collect() // analysis fires the rule; counters read after it
      val cov = graft.lake.PushFilteredAggToManifest.coveredFiles.get() - covBefore
      val scn = graft.lake.PushFilteredAggToManifest.scannedFiles.get() - scanBefore
      agg.withColumn("footer_covered", lit(cov > 0 && scn <= 2))
    }),

    // UNFILTERED total SUM/AVG — the most basic reporting shape, and
    // the one the zero-job ManifestAgg path can never serve (parquet
    // footers carry no sums): with the sidecar collected, a fully
    // covered clean table answers `SELECT sum(x) FROM t` reading ZERO
    // data files — count/min ride along from footers
    "lake_sql_agg_sum_all" -> ((s, dir) => {
      val cat = sqlAggSumCatalog(s, dir)
      val covBefore = graft.lake.PushFilteredAggToManifest.coveredFiles.get()
      val scanBefore = graft.lake.PushFilteredAggToManifest.scannedFiles.get()
      val agg = s.sql(
        s"""SELECT count(*) AS n_rows, sum(l_suppkey) AS sum_sup,
           |  avg(l_suppkey) AS avg_sup, min(l_orderkey) AS min_key
           |FROM $cat.lineitem""".stripMargin)
      agg.collect() // analysis fires the rule; counters read after it
      val cov = graft.lake.PushFilteredAggToManifest.coveredFiles.get() - covBefore
      val scn = graft.lake.PushFilteredAggToManifest.scannedFiles.get() - scanBefore
      agg.withColumn("footer_covered", lit(cov > 0 && scn == 0))
    }),

    // grouped SUM/AVG on the point-file layout: every point file IS
    // one group, so its sidecar (sum, count) answers the group's
    // sum/avg outright — the per-partition-totals rollup Spark always
    // full-scans becomes a metadata read over clustered layouts
    "lake_sql_agg_group_sum" -> ((s, dir) => {
      val cat = sqlAggInCatalog(s, dir)
      val covBefore = graft.lake.PushFilteredAggToManifest.coveredFiles.get()
      val agg = s.sql(
        s"""SELECT l_linenumber, count(*) AS n_rows,
           |  sum(l_suppkey) AS sum_sup, avg(l_suppkey) AS avg_sup,
           |  sum(l_orderkey) AS sum_key
           |FROM $cat.lineitem
           |GROUP BY l_linenumber""".stripMargin)
      agg.collect() // analysis fires the rule; counters read after it
      val cov = graft.lake.PushFilteredAggToManifest.coveredFiles.get() - covBefore
      agg.withColumn("footer_covered", lit(cov > 0))
    }),

    // UNFILTERED aggregate over a DV-CARRYING version: the zero-job
    // ManifestAgg path never sees DV versions, so one stray delete used
    // to force a full scan — the per-file rewrite serves clean files
    // from footers and scans only the DV file (through the DV-applying
    // read, so the dead rows are excluded: the hash check proves it)
    "lake_sql_agg_dv" -> ((s, dir) => {
      val cat = sqlAggDvCatalog(s, dir)
      val covBefore = graft.lake.PushFilteredAggToManifest.coveredFiles.get()
      val scnBefore = graft.lake.PushFilteredAggToManifest.scannedFiles.get()
      val agg = s.sql(
        s"""SELECT count(*) AS n_rows, count(l_returnflag) AS n_flags,
           |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
           |FROM $cat.lineitem""".stripMargin)
      agg.collect() // analysis fires the rule; counters read after it
      val cov = graft.lake.PushFilteredAggToManifest.coveredFiles.get() - covBefore
      val scn = graft.lake.PushFilteredAggToManifest.scannedFiles.get() - scnBefore
      agg.withColumn("footer_covered", lit(cov > 0 && scn >= 1))
    }),

    // declared CLUSTER BY layout: the CTAS arrived through the
    // range-distribute+sort write path, so the population must be
    // intact AND the per-file key ranges disjoint (files_disjoint —
    // the layout claim itself, falsifiable at the hash)
    "lake_sql_cluster_write" -> ((s, dir) => {
      val cat = sqlClusterCatalog(s, dir)
      val disjoint = filesDisjoint(s,
        s"/tmp/graft_sqlclu_${dirTag(dir)}/lineitem_c", "l_orderkey")
      s.sql(
        s"""SELECT l_returnflag, COUNT(*) AS n_rows,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
           |FROM $cat.lineitem_c
           |WHERE l_orderkey BETWEEN 100 AND 700
           |GROUP BY l_returnflag""".stripMargin)
        .withColumn("files_disjoint", lit(disjoint))
    }),

    // join-driven runtime file pruning (the unpartitioned table's DPP):
    // a broadcast join against a filtered orders dim must return the
    // exact join population — the fact side's zone-map runtime filter
    // may drop files but can never drop rows (may-contain); the spec
    // pins that it DOES drop files
    "lake_sql_dfp" -> ((s, dir) => {
      val cat = sqlClusterCatalog(s, dir)
      val dimV = s"graft_dfp_dim_${dirTag(dir)}"
      t(s, dir, "orders").createOrReplaceTempView(dimV)
      s.sql(
        s"""SELECT f.l_returnflag, COUNT(*) AS n_rows,
           |  CAST(SUM(CAST(f.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
           |FROM $cat.lineitem_c f
           |JOIN $dimV o ON f.l_orderkey = o.o_orderkey
           |WHERE o.o_orderpriority = '1-URGENT' AND o.o_orderkey < 500
           |GROUP BY f.l_returnflag""".stripMargin)
    }),

    // writeStream.toTable: the streamed-in population read back
    // through SQL must equal the source population — every micro-batch
    // landed as one exactly-once append commit (fixture-pinned)
    "lake_sql_stream_write" -> ((s, dir) => {
      val cat = streamWriteCatalog(s, dir)
      s.sql(
        s"""SELECT l_returnflag, COUNT(*) AS n_rows,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
           |FROM $cat.lineitem_s
           |GROUP BY l_returnflag""".stripMargin)
    }),

    // bin-pack OPTIMIZE: population = big third + the 4 surviving
    // crumbs (2 DV-deleted rows folded away by the rewrite), the big
    // file untouched byte-for-byte, zero dirty files — the routine
    // maintenance op at O(small bytes)
    "lake_compact_bin" -> ((s, dir) => {
      val (table, bigUntouched) = compactBinTable(s, dir)
      SnapshotLog.read(s, table)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(when(col("l_orderkey") >= 900000L, 1)).as("n_crumbs"))
        .withColumn("big_untouched", lit(bigUntouched))
    }),

    // Bloom sidecar point lookup in SQL: the probe rows come back
    // exactly, and bloom_pruned pins that the sidecar actually DROPPED
    // files (zone maps cannot, by construction — the probed column is
    // scrambled against the cluster order)
    "lake_sql_bloom" -> ((s, dir) => {
      val cat = sqlBloomCatalog(s, dir)
      val u1 = (1L * 2654435761L) % 1000000000L + 1L
      val u7 = (7L * 2654435761L) % 1000000000L + 1L
      val before = graft.lake.BloomIndex.prunedFiles.get()
      val q = s.sql(
        s"""SELECT l_orderkey, l_linenumber, l_quantity
           |FROM $cat.lineitem_u
           |WHERE row_uid IN ($u1, $u7)
           |ORDER BY l_orderkey, l_linenumber""".stripMargin)
      q.collect() // force planning+pruning HERE so the counter reads true
      q.withColumn("bloom_pruned",
        lit(graft.lake.BloomIndex.prunedFiles.get() > before))
    }),

    // schema evolution: v1 appended a derived column under mergeSchema
    // — head reads null-fill v0's rows (parquet missing-column read),
    // exactly the oracle's NULL-branch UNION
    "lake_schema_evo" -> ((s, dir) => {
      val table = schemaEvoTable(s, dir)
      SnapshotLog.read(s, table)
        .groupBy("prio_class")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
    }),

    // row-level provenance on the 4-commit lifecycle table: thirds 0
    // and 1 must credit exactly v0 and v1 (the rollback at v3 re-adds
    // nothing, so first-adder resolution sees through it)
    "lake_lineage" -> ((s, dir) => {
      val table = snapshotTable(s, dir)
      SnapshotLog.readLineage(s, table)
        .groupBy(col("_commit_version").as("commit_version"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("commit_version")
    }),

    // write-audit-publish: the tag read must equal the oracle's replay
    // of append+delete+merge over raw lineitem, and head_is_tag pins
    // that fast-forward publish left the head exactly at the tag
    "lake_wap" -> ((s, dir) => {
      val table = wapTable(s, dir)
      val headIsTag = SnapshotLog.currentVersion(s, table) ==
        graft.lake.Branches.tagVersion(s, table, "audited")
      graft.lake.Branches.readTag(s, table, "audited")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .withColumn("head_is_tag", lit(headIsTag))
        .orderBy("l_returnflag")
    }),

    // expectations-gated ingest: the committed STATE of both tables is
    // the correctness surface (clean/quarantined populations + exact
    // decimal sums + per-rule violation counts from the quarantine's
    // _violations) — the oracle replays the corruption and every rule,
    // including null-predicate-is-violation and warn-keeps-the-row
    "lake_expect" -> ((s, dir) => {
      val (table, quarT) = expectTables(s, dir)
      val main = SnapshotLog.read(s, table)
      val quar = SnapshotLog.read(s, quarT)
      val nullD = lit(null).cast("double")
      val cleanRow = main
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("sum_price"))
        .select(lit("clean").as("kind"), col("n_rows"), col("sum_price"))
      val quarRow = quar
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("sum_price"))
        .select(lit("quarantined").as("kind"), col("n_rows"), col("sum_price"))
      val violRows = quar.select(explode(col("_violations")).as("v"))
        .groupBy("v").agg(count(lit(1)).as("n_rows"))
        .select(concat(lit("viol:"), col("v")).as("kind"), col("n_rows"),
          nullD.as("sum_price"))
      val warnRow = main.where(col("o_orderdate") < lit(expectWarnCutoff))
        .agg(count(lit(1)).as("n_rows"))
        .select(lit("warn:modern_order").as("kind"), col("n_rows"),
          nullD.as("sum_price"))
      cleanRow.union(quarRow).union(violRows).union(warnRow).orderBy("kind")
    }),

    // aggregation pushdown into footer stats: count/min/max under a
    // key-range predicate answered from parquet footers for every
    // interior file of the clustered copy — only the ~2 boundary files
    // are scanned (StatsAggSpec pins the file classification; this
    // query pins the ANSWER against the full-scan oracle)
    "lake_agg_pushdown" -> ((s, dir) => {
      val path = statsAggTable(s, dir)
      StatsAgg.rangeAgg(s, path, "l_orderkey", 1000L, 40000L)
    }),

    // ───── core relational operators (SURVEY §2.2, free from Spark)
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit(java.time.LocalDateTime.of(1998, 9, 2, 0, 0)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsumDisc(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    "q3_topk" -> ((s, dir) => {
      val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").where(col("o_orderdate") < lit(ts1997))
      val l = t(s, dir, "lineitem").where(col("l_shipdate") > lit(ts1997))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsumDisc(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    "q_join_dims" -> ((s, dir) => {
      // small-dim chain join: broadcast every dimension
      val sup = t(s, dir, "supplier")
      val nat = broadcast(t(s, dir, "nation"))
      val reg = broadcast(t(s, dir, "region"))
      sup.join(nat, col("s_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_suppliers"), dsum(col("s_acctbal")).as("total_acctbal"))
        .orderBy("r_name")
    }),

    "q_semi_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    "q_anti_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")),

    "q_window" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("order_rank", row_number().over(w))
        .withColumn("running_spend",
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .where(col("order_rank") <= 3)
        .select("o_custkey", "o_orderkey", "order_rank", "running_spend")
        .orderBy("o_custkey", "order_rank")
    }),

    "q_sort_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(20)),

    "q_setops" -> ((s, dir) => {
      val building = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      val withOrders = t(s, dir, "orders").select(col("o_custkey").as("k"))
      val machinery = t(s, dir, "customer").where(col("c_mktsegment") === "MACHINERY")
        .select(col("c_custkey").as("k"))
      building.intersect(withOrders)
        .union(machinery.except(withOrders))
        .distinct()
        .orderBy("k")
    }),

    // multiset set-ops: duplicates preserved per bag semantics (the
    // distinct variants are covered by q_setops)
    "q_setops_all" -> ((s, dir) => {
      val a = t(s, dir, "lineitem").select(col("l_suppkey").as("k"))
      val b = t(s, dir, "lineitem").where(col("l_returnflag") === "R")
        .select(col("l_suppkey").as("k"))
      a.intersectAll(b).groupBy("k").agg(count(lit(1)).as("n_inter"))
        .join(a.exceptAll(b).groupBy("k").agg(count(lit(1)).as("n_except")), Seq("k"), "full")
        .select(col("k"), coalesce(col("n_inter"), lit(0L)).as("n_inter"),
          coalesce(col("n_except"), lit(0L)).as("n_except"))
        .orderBy("k")
    }),

    "q_scalar_fns" -> ((s, dir) =>
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_upper"),
          length(col("p_name")).cast("long").as("name_len"),
          substring(col("p_type"), 1, 5).as("type_prefix"),
          regexp_extract(col("p_name"), "(\\w+)$", 1).as("last_word"),
          (col("p_retailprice").cast("decimal(12,2)") * lit(BigDecimal("1.1")))
            .cast("double").as("marked_up"),
          pmod(col("p_size"), lit(7)).cast("long").as("size_mod"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy("p_partkey")),

    "q_conditional_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(when(col("l_quantity") > 25, 1)).as("n_bulk"),
          count(when(col("l_discount") >= 0.05, 1)).as("n_discounted"),
          dsum(when(col("l_quantity") > 25, col("l_extendedprice")).otherwise(lit(0.0)))
            .as("bulk_revenue"))
        .orderBy("l_returnflag")),

    "q_string_fns" -> ((s, dir) =>
      t(s, dir, "supplier")
        .select(col("s_suppkey"),
          lpad(col("s_name"), 30, "*").as("padded"),
          reverse(col("s_name")).as("reversed"),
          regexp_replace(col("s_name"), "[aeiou]", "_").as("devoweled"),
          substring_index(col("s_name"), "#", 1).as("prefix"),
          (length(col("s_name")) - length(regexp_replace(col("s_name"), "e", "")))
            .cast("long").as("n_e"))
        .orderBy("s_suppkey")),

    "q_math_fns" -> ((s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          abs(col("p_size") - 25).cast("long").as("dist25"),
          ceil(col("p_retailprice") / 100).cast("long").as("price_bucket"),
          round(sqrt(col("p_size").cast("double")), 6).as("sqrt_size"),
          round(pow(lit(1.07), col("p_size").cast("double")), 6).as("compound"),
          round(log(col("p_retailprice")), 6).as("ln_price"))
        .orderBy("p_partkey")),

    "q_date_fns" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("month_total"))
        .orderBy("yr", "mo")),

    "q_json" -> ((s, dir) =>
      EventsStream.readEvents(s, s"$dir/events.parquet")
        .withColumn("k", from_json(col("props"), "k INT", Map.empty[String, String]).getField("k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"), min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")),

    // correlated LATERAL subquery with per-row ORDER BY + LIMIT (top-2
    // orders per customer) — the SQL-surface twin of q_window's rank
    // filter; Catalyst decorrelates it into a ranked join, no per-row
    // re-execution
    "q_lateral" -> ((s, dir) =>
      s.sql(
        s"""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
           |FROM parquet.`$dir/customer.parquet` c,
           |LATERAL (SELECT o_orderkey, o_totalprice
           |         FROM parquet.`$dir/orders.parquet`
           |         WHERE o_custkey = c.c_custkey
           |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
           |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin)),

    // native DeclarativeAggregate (graft.functions.GeometricMean):
    // codegen'd HashAggregate with map-side partials, oracle-twinned by
    // the exp(avg(ln x)) identity
    "q_geo_mean" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(GeometricMean.geoMean(col("l_quantity")), 6).as("gm_qty"),
          round(GeometricMean.geoMean(col("l_extendedprice")), 6).as("gm_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    "q_events_hourly" -> ((s, dir) =>
      EventsStream.hourlyByType(EventsStream.readEvents(s, s"$dir/events.parquet"))
        .orderBy("hour", "event_type")),

    // time-RANGE window frame: each event's trailing-1-hour per-user
    // value sum — frame membership by EVENT-TIME distance, not row
    // count (q_window_frames covers ROWS frames)
    "q_window_range" -> ((s, dir) =>
      EventsStream.readEvents(s, s"$dir/events.parquet")
        .selectExpr("event_id", "user_id",
          """CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
            |  PARTITION BY user_id ORDER BY ts
            |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
            |AS DOUBLE) AS trailing_1h""".stripMargin)
        .orderBy("event_id")),

    // view→click attribution: the batch twin of the stream-stream
    // interval join (EventsStreamSpec pins the streaming form to this)
    "q_interval_join" -> ((s, dir) =>
      EventsStream.intervalJoin(EventsStream.readEvents(s, s"$dir/events.parquet"))
        .orderBy("view_id", "click_id")),

    // both join sides filtered asymmetrically so all three row fates
    // appear: matched, left-only (customer without orders in range),
    // right-only (orders whose customer was filtered out)
    "q_full_outer" -> ((s, dir) => {
      val c = t(s, dir, "customer").where(col("c_custkey") < 750)
        .select(col("c_custkey"), col("c_name"))
      val o = t(s, dir, "orders").where(col("o_custkey") >= 250)
        .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(col("c_custkey"), col("o_custkey"), col("c_name"), col("n_orders"))
        .orderBy(coalesce(col("c_custkey"), col("o_custkey")))
    }),

    "q_sessionize" -> ((s, dir) =>
      EventsStream.sessionize(EventsStream.readEvents(s, s"$dir/events.parquet"))
        .orderBy("user_id", "session_seq")),

    // native session_window operator (batch form; identical code shape
    // runs under Structured Streaming)
    "q_session_window" -> ((s, dir) =>
      EventsStream.sessionWindow(EventsStream.readEvents(s, s"$dir/events.parquet"))
        .orderBy("user_id", "session_start")),

    // dense calendar gap-fill + forward fill: missing-as-absent vs
    // missing-as-zero told apart explicitly (n_events=0, hour_sum NULL,
    // ff_sum carries the last observed hour forward)
    "q_gapfill" -> ((s, dir) =>
      EventAnalytics.gapFill(EventsStream.readEvents(s, s"$dir/events.parquet"))
        .orderBy("user_id", "hour")),

    // ordered funnel: each step's first event STRICTLY after the
    // previous step, all within 7 days of step 1 — one shuffle, the
    // sequential recurrence folded over a per-user array
    "q_funnel" -> ((s, dir) =>
      EventAnalytics.funnel(EventsStream.readEvents(s, s"$dir/events.parquet"),
          Seq("signup", "view", "click", "purchase"))
        .orderBy("user_id")),

    // cohort retention grid: first-seen ISO week × activity-week offset,
    // retention as exact integer parts-per-million
    "q_retention" -> ((s, dir) =>
      EventAnalytics.retention(EventsStream.readEvents(s, s"$dir/events.parquet"))
        .orderBy("cohort_week", "week_offset")),

    // NOTE: expressed via spark.sql — the DataFrame rollup-after-join +
    // orderBy-on-grouping-column combination trips a false positive in
    // Spark's ambiguous-self-join detection (verified minimal repro);
    // the SQL analyzer path has no per-Dataset id tags and is immune.
    "q_rollup" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "nation").createOrReplaceTempView("nation")
      t(s, dir, "region").createOrReplaceTempView("region")
      s.sql(
        """SELECT /*+ BROADCAST(nation), BROADCAST(region) */
          |  r_name, n_name, COUNT(*) AS n_customers,
          |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey
          |GROUP BY ROLLUP (r_name, n_name)
          |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
    }),

    "q_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")),

    "q_range_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      // equi key + range condition: ships within 30 days of order date
      l.join(o, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_quick_ships"), dsum(col("l_quantity")).as("qty"))
        .orderBy("o_orderpriority")
    }),

    "q_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    "q_window_lag" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          (col("o_totalprice").cast("decimal(18,2)") -
            coalesce(lag(col("o_totalprice"), 1).over(w).cast("decimal(18,2)"), lit(0)))
            .cast("double").as("delta_prev"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // schema-aligned union: columns matched by NAME (order differs per
    // branch; missing columns null-filled)
    "q_union_by_name" -> ((s, dir) => {
      val a = t(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_mktsegment").as("segment"))
      val b = t(s, dir, "supplier")
        .select(col("s_name").as("name"), col("s_suppkey").as("id")) // reordered, no segment
      a.unionByName(b.withColumn("src", lit("supplier")), allowMissingColumns = true)
        .withColumn("src", coalesce(col("src"), lit("customer")))
        .orderBy("src", "id")
    }),

    "q_bool_bit_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(bool_and(col("l_quantity") > 0).as("all_positive"),
          bool_or(col("l_discount") > 0.09).as("any_deep_discount"),
          count_if(col("l_quantity") > 25).as("n_bulk"),
          bit_and(col("l_linenumber").cast("long")).as("ln_and"),
          bit_or(col("l_linenumber").cast("long")).as("ln_or"),
          bit_xor(col("l_linenumber").cast("long")).as("ln_xor"))
        .orderBy("l_returnflag")),

    "q_window_frames" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(avg(col("o_totalprice").cast("decimal(18,2)"))
            .over(w.rowsBetween(-2, Window.currentRow)), 4).cast("double").as("avg3"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "q_left_join_nulls" -> ((s, dir) => {
      val spend = t(s, dir, "orders").groupBy(col("o_custkey").as("c_custkey"))
        .agg(dsum(col("o_totalprice")).as("spend"))
      t(s, dir, "customer")
        .join(spend, Seq("c_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("spend"), lit(0.0)).as("spend0"),
          col("spend").isNull.as("never_ordered"),
          // null-safe equality: NULL <=> NULL is true, NULL = NULL is null
          (col("spend") <=> lit(null).cast("double")).as("spend_is_null_safe"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"))
        .orderBy("c_custkey")
    }),

    // HLL sketch pinned against the exact answer IN the result: the
    // exact distinct counts hash-check against DuckDB's COUNT(DISTINCT),
    // and the sketch's relative error is asserted as a boolean the
    // oracle expects TRUE (estimates are deterministic for fixed data).
    // rsd 0.01 with a 5% assertion bound = a 5-sigma test: the HLL
    // error bound holds for ANY regeneration of the fixtures, where the
    // default rsd 0.05 made "< 5%" a 1-sigma coin flip per statistic
    // (~32% of datasets would trip it and read as an engine bug)
    "q_approx_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
          countDistinct(col("l_suppkey")).as("exact_supps"),
          approx_count_distinct(col("l_partkey"), 0.01).as("_ap"),
          approx_count_distinct(col("l_suppkey"), 0.01).as("_as"))
        .select(col("l_returnflag"), col("exact_parts"), col("exact_supps"),
          (abs(col("_ap") - col("exact_parts")).cast("double") / col("exact_parts") < 0.05)
            .as("parts_err_lt_5pct"),
          (abs(col("_as") - col("exact_supps")).cast("double") / col("exact_supps") < 0.05)
            .as("supps_err_lt_5pct"))
        .orderBy("l_returnflag")),

    "q_scalar_subquery" -> ((s, dir) => {
      t(s, dir, "part").createOrReplaceTempView("part")
      s.sql(
        """SELECT p_partkey, p_name, p_retailprice
          |FROM part
          |WHERE p_retailprice > 1.5 * (SELECT avg(p_retailprice) FROM part)
          |ORDER BY p_partkey""".stripMargin)
    }),

    // as-of join (at-or-before, per user): each click enriched with the
    // most recent preceding purchase — the canonical time-series operator
    // Spark lacks, via graft.ops.AsofJoin's union+window merge form.
    "q_asof_join" -> ((s, dir) => {
      val ev = EventsStream.readEvents(s, s"$dir/events.parquet")
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"),
          col("value").as("purchase_value"))
      AsofJoin.asof(clicks, purchases, key = "user_id",
          leftTime = "ts", rightTime = "purchase_ts",
          payload = Seq("purchase_ts", "purchase_value"))
        .orderBy("event_id")
    }),

    // salted join: semantically the plain inner join (oracle-checked),
    // physically skew-immune — hot keys spread across salt buckets
    "q_skew_join" -> ((s, dir) => {
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.ops.SkewJoin.saltedJoin(l, o, Seq("l_orderkey"), salts = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("qty"))
        .orderBy("o_orderpriority")
    }),

    // co-bucketed join: semantically the plain inner join (oracle-
    // checked), physically exchange-free — both tables were hash-
    // bucketed by orderkey at write time, so the sort-merge join reads
    // co-located buckets with no shuffle (BucketingSpec pins the plan)
    "q_bucket_join" -> ((s, dir) => {
      val (ot, lt) = bucketedPair(s, dir)
      graft.lake.Bucketing.colocatedJoin(s, ot, lt, "o_orderkey", "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          dsumDisc(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    "q_pivot" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(dsum(col("o_totalprice")))
        .orderBy("yr")),

    "q_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
    }),

    // recursive CTE (Spark 4 iterative SQL) as a calendar gap-fill:
    // the recursion builds ONLY the tiny month dimension (one row per
    // iteration, ~80 iterations, driver-sized LocalRelation batches);
    // the fact-table work — one distributed left join + aggregate over
    // orders — runs once, OUTSIDE the loop. That is the scale-sound
    // shape for recursion on Spark: never iterate over the fact table.
    // Months with zero orders still appear (the gap-fill contract).
    "q_recursive_cte" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      // default level limit is 100; the month span is data-dependent,
      // so widen defensively rather than fail on a longer date range.
      // The limit is read at EXECUTION time, so the query must run
      // before the finally restores it — localCheckpoint(eager) forces
      // that; the ~80-row result then carries no conf dependence and
      // the shared session's config stays pristine for later queries.
      val limitKey = "spark.sql.cteRecursionLevelLimit"
      val prevLimit = s.conf.getOption(limitKey)
      s.conf.set(limitKey, "10000")
      try s.sql(
        """WITH RECURSIVE months(ym, mx) AS (
          |  SELECT CAST(YEAR(MIN(o_orderdate))*12 + MONTH(MIN(o_orderdate)) - 1 AS INT),
          |         CAST(YEAR(MAX(o_orderdate))*12 + MONTH(MAX(o_orderdate)) - 1 AS INT)
          |  FROM orders
          |  UNION ALL
          |  SELECT ym + 1, mx FROM months WHERE ym < mx
          |)
          |SELECT CAST(ym DIV 12 AS BIGINT) AS yr, CAST(ym % 12 + 1 AS BIGINT) AS mon,
          |  COUNT(o_orderkey) AS n_orders,
          |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_price
          |FROM months LEFT JOIN orders
          |  ON YEAR(o_orderdate)*12 + MONTH(o_orderdate) - 1 = ym
          |GROUP BY ym ORDER BY yr, mon""".stripMargin).localCheckpoint()
      finally prevLimit match {
        case Some(v) => s.conf.set(limitKey, v)
        case None    => s.conf.unset(limitKey)
      }
    }),

    "q_exists_subquery" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT c_custkey, c_name FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders
          |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
          |ORDER BY c_custkey""".stripMargin)
    }),

    "q_in_subquery" -> ((s, dir) => {
      t(s, dir, "supplier").createOrReplaceTempView("supplier")
      t(s, dir, "nation").createOrReplaceTempView("nation")
      t(s, dir, "region").createOrReplaceTempView("region")
      s.sql(
        """SELECT s_suppkey, s_name FROM supplier
          |WHERE s_nationkey IN (SELECT n_nationkey FROM nation
          |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE')
          |ORDER BY s_suppkey""".stripMargin)
    }),

    "q_stats_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(avg(col("o_totalprice")), 4).as("avg_price"),
          round(stddev_samp(col("o_totalprice")), 4).as("sd_price"),
          round(median(col("o_totalprice")), 4).as("med_price"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy("o_orderpriority")),

    // sketch-based percentiles (GK quantile summaries — the one-pass
    // MERGEABLE shape for 100 TB: partial sketches combine map-side,
    // never a per-group sort). With accuracy ≥ group size the sketch is
    // lossless, so this approximate operator is hash-checkable against
    // DuckDB's discrete quantiles; production drops accuracy to the
    // default 10000 and keeps the identical plan.
    "q_approx_percentile" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          expr("percentile_approx(o_totalprice, 0.5, 1000000)").as("p50"),
          expr("percentile_approx(o_totalprice, 0.95, 1000000)").as("p95"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),

    // exact interpolated percentiles (single sort-based agg per group;
    // at scale swap in percentile_approx for one-pass sketching)
    "q_percentiles" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75"),
          round(expr("percentile(o_totalprice, 0.95)"), 4).as("p95"))
        .orderBy("o_orderpriority")),

    // bivariate statistics: correlation, sample covariance, least-squares
    // fit — all single-pass co-moment aggregates (partial-merged map-side,
    // one exchange of per-group moment tuples)
    "q_corr" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qp"),
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope_pq"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("icept_pq"))
        .orderBy("l_returnflag")),

    // fixed-width histogram: arithmetic bucketing keeps the whole plan
    // codegen'd (bucket expr + one partially-aggregated groupBy)
    "q_histogram" -> ((s, dir) =>
      t(s, dir, "orders")
        .withColumn("bucket", floor(col("o_totalprice") / lit(30000.0)).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("lo"),
          round(max(col("o_totalprice")), 2).as("hi"))
        .orderBy("bucket")),

    "q_array_fns" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          round(element_at(col("embedding"), 1).cast("double"), 6).as("first_val"),
          round(array_min(col("embedding")).cast("double"), 6).as("min_val"),
          round(array_max(col("embedding")).cast("double"), 6).as("max_val"))
        .orderBy("vec_id")),

    "q_string_agg" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          array_join(sort_array(collect_set(col("source"))), ",").as("sources"))
        .orderBy("lang")),

    // ───── dedup (north_star ★). Documents have no organic dups, so the
    // pipelines run on docs ∪ copy(docs) — planted exact/near dups with
    // deterministic ids — exercising shingle→hash→band→bucket end-to-end.
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactByHash(plantedDocs(s, dir), "doc_id", "text")
        .orderBy("keep_id")),

    "dedup_exact_cols" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", Seq("lang", "source"))
        .orderBy("lang", "source")),

    // line-level boilerplate removal (C4/RefinedWeb rule): the corpus
    // is re-lined into 8-token lines with a fixed footer line injected
    // into every third doc — the footer (and any organically repeated
    // line, e.g. short tails from the small vocabulary) occurs in >= 2
    // distinct docs and must vanish from ALL of them; the oracle
    // rebuilds each doc's cleaned text from scratch in SQL, so the
    // md5 pins the whole split→hash→count→filter→rejoin chain
    "dedup_lines" -> ((s, dir) => {
      val tk = TextAnalysis.tokensCol(col("text"))
      val lined = t(s, dir, "documents").select(col("doc_id"),
        concat(
          array_join(
            transform(sequence(lit(0), ceil(size(tk) / lit(8.0)).cast("int") - 1),
              i => array_join(slice(tk, i * lit(8) + 1, lit(8)), " ")), "\n"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("\nshared boilerplate footer line")).otherwise(lit(""))
        ).as("text"))
      Dedup.lineDedup(lined, "doc_id", "text", minDocs = 2)
        .select(col("doc_id"), col("n_lines"), col("n_dup_lines"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // Full two-phase pipeline: banded-LSH candidates re-checked against
    // true shingle Jaccard; the oracle recomputes the exact J>=0.5 pair
    // set all-pairs in SQL, so the whole shingle→hash→band→bucket→
    // verify chain is hash-checked — a miss anywhere surfaces as a
    // missing pair. Equality with the exact set is PROBABILISTIC in the
    // banding: b=32/r=2 puts the per-pair candidate-miss probability at
    // the J=0.5 boundary at (1−J²)^32 ≈ 1e-4 (vs 36% under the operator
    // default b=16/r=4 — a coin-flip landmine on any corpus with an
    // organic near-threshold pair), so the assertion is sound for any
    // plausible regeneration of the fixtures, not just the planted
    // J=1.0 pairs. Remaining conditionality (same tripwire contract as
    // dedup_simhash's): r=2 band-buckets are coarse, so a regenerated
    // fixture with a >1000-doc boilerplate cluster would trip the
    // maxBucket skew cap and drop its candidates — and the resulting
    // hash mismatch is the check correctly flagging degraded recall.
    // candidate stage from text (the fused signature expression folds
    // raw shingle STRINGS); verification from the shared persisted
    // shingle-set frame — same output as minhashNearDup, one less
    // tokenize+shingle corpus pass
    "dedup_minhash" -> ((s, dir) =>
      Dedup.verifiedJaccardOnSets(
          plantedShingleSets(s, dir).select("doc_id", "sh_set"),
          Dedup.minhashCandidates(plantedDocs(s, dir), "doc_id", "text",
            numHashes = 64, bands = 32),
          threshold = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("doc_a", "doc_b")),

    // SimHash quality scorecard vs two exact anchors, both
    // SQL-recomputable: (a) identical-content pairs — equal fingerprints
    // share every 16-bit chunk, so 100% recall at hamming 0 is a
    // THEOREM the hash check pins (conditional on simhashCandidates'
    // maxBucket skew cap not firing — it would take a >1000-doc
    // identical-fingerprint cluster in every chunk, i.e. a
    // pathologically duplicated corpus, and then the resulting hash
    // MISMATCH is the scorecard correctly flagging degraded recall,
    // not a false alarm); (b) J>=0.9 near-dup pairs — an
    // empirical recall floor (measured 93% here; hamming<=3 and Jaccard
    // are correlated, not nested, so 100% would be wrong to assert).
    // Scale honesty: the two anchors are EXACT recomputations, so their
    // cost is the corpus's, not the operator's — at the 100× probe the
    // anchors were 97% of the 271 s wall clock while the op alone ran
    // 7.4 s. Above `anchorBudgetDocs` planted docs the anchors therefore
    // run on a deterministic MIN-SHINGLE stratum (keep a doc iff
    // xxhash64(min shingle) ≡ 0 mod m): by the minhash property a
    // J≥0.9 pair shares its min shingle with prob ≥ 0.9, so pairs
    // co-sample at rate ≈ J/m (vs 1/m² under independent doc
    // sampling), and exact dups (identical sh_set ⟹ identical min)
    // ALWAYS co-sample — the hamming-0 theorem anchor is unweakened.
    // The J≥0.9 recall estimate becomes conditioned on min-shingle
    // agreement (a mild bias toward higher-J pairs — acceptable for a
    // floor assertion that was already an estimate). m = 1 at every
    // oracle/bench scale up to 10× (sf0.01 ≈ 1k planted, sf0.1 ≈ 10k,
    // 10× ≈ 100k), so the DuckDB hash check and bench continuity are
    // byte-identical; only the 100× probe (~1M planted) stratifies.
    "dedup_simhash" -> ((s, dir) => {
      val planted = plantedDocs(s, dir)
      val anchorBudgetDocs = 100000L
      // footer-metadata count — no data scan
      val nPlanted = 2L * s.read.parquet(s"$dir/documents.parquet").count()
      val m = math.max(1L, nPlanted / anchorBudgetDocs)
      val setsFull = plantedShingleSets(s, dir)
      val sets = if (m == 1L) setsFull
        else setsFull.where(
          pmod(xxhash64(array_min(col("sh_set"))), lit(m)) === 0)
      // merge hint: cand is a pair table behind aggregates — its size
      // estimate is garbage, and at 10× bench scale Catalyst broadcast
      // it (1.3 GiB of task results > maxResultSize). Pair tables are
      // never broadcastable at scale; pin the semi-joins to sort-merge.
      val cand = Dedup.simhashCandidates(Dedup.simhash(planted, "doc_id", "text"))
        .hint("merge")
      val norm = sets.select(col("doc_id"), col("content_md5").as("_m"))
      val dups = norm.as("a")
        .join(norm.as("b"), col("a._m") === col("b._m") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      // inverted-index form, measured against the prefix-filtered
      // variant at 10× bench scale: identical 59,960 pairs, 17.7 s vs
      // 20.6 s — this corpus has no hot-shingle dup clusters, so the
      // quadratic expansion prefix filtering removes is not the cost
      // here and the full-set verification pass it adds is. Keep
      // ngramJaccardPrefix for dup-dense corpora (its scaladoc carries
      // the trade); the df-guard semantics here mirror the oracle's CTE.
      // Both anchors read the shared persisted frame — the anchors'
      // shingle derivation cost the r7 bench flagged is paid once.
      val hi = Dedup.ngramJaccardOnSets(sets.select("doc_id", "sh_set"),
          threshold = 0.9, maxShingleDf = 2000)
        .select("doc_a", "doc_b")
      dups.agg(count(lit(1)).as("n_exact_dups"))
        .crossJoin(dups.join(cand.where(col("hamming") === 0), Seq("doc_a", "doc_b"), "left_semi")
          .agg(count(lit(1)).as("_n0")))
        .crossJoin(hi.agg(count(lit(1)).as("n_j09")))
        .crossJoin(hi.join(cand, Seq("doc_a", "doc_b"), "left_semi")
          .agg(count(lit(1)).as("_nh")))
        .select(col("n_exact_dups"),
          round(lit(100.0) * col("_n0") / col("n_exact_dups"), 2).as("exact_dup_recall_pct"),
          col("n_j09"),
          (col("_nh").cast("double") / col("n_j09") >= 0.9).as("j09_recall_ge_090"))
    }),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(
        t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism, col("doc_id")),
        "doc_id", "text",
          n = 3, threshold = 0.12, maxShingleDf = 1000)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("doc_a", "doc_b")),

    // prefix-filtered (AllPairs/PPJoin-style) exact Jaccard — the
    // dup-dense-corpus variant of ngramJaccard. EXACT at matched
    // threshold (the prefix bound is a theorem, spec-pinned at its
    // tight case), so the oracle is the same all-pairs recomputation
    // as dedup_minhash's, at t=0.9 on the planted corpus: equality
    // hash-checks the prefix candidate generation AND the verify
    // arithmetic end-to-end.
    "dedup_jaccard_prefix" -> ((s, dir) =>
      Dedup.ngramJaccardPrefixOnSets(
          plantedShingleSets(s, dir).select("doc_id", "sh_set"), threshold = 0.9)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("doc_a", "doc_b")),

    // substring-LEVEL duplication (Lee et al. exact-substring dedup,
    // window-hash form): per-doc profile of 8-token windows occurring
    // ≥2× corpus-wide, with merged duplicated spans and token coverage.
    // A boilerplate footer planted on every third doc gives a
    // controlled duplicated span on top of whatever the corpus shares
    // naturally; the oracle recomputes windows/spans from the raw
    // token strings (the Spark side groups 8-byte xxhash64 window
    // hashes — hash-vs-string equality IS the collision check).
    "dedup_substring" -> ((s, dir) =>
      Dedup.substringDup(
          t(s, dir, "documents").withColumn("text",
            when(pmod(col("doc_id"), lit(3)) === 0,
              concat(col("text"), lit(" " + substringBoilerplate)))
              .otherwise(col("text"))))
        .orderBy("doc_id")),

    // the rewrite half: same planted corpus, duplicated spans EXCISED
    // keeping the corpus-wide first occurrence; the oracle rebuilds the
    // cleaned text token-by-token from the raw strings, so the
    // hash-match pins canonical choice, span merge, AND reconstruction
    "dedup_despan" -> ((s, dir) =>
      Dedup.removeDupSpans(
          t(s, dir, "documents").withColumn("text",
            when(pmod(col("doc_id"), lit(3)) === 0,
              concat(col("text"), lit(" " + substringBoilerplate)))
              .otherwise(col("text"))))
        .orderBy("doc_id")),

    // decontamination: benchmark excerpts (200-char prefixes of every
    // 17th doc) checked against the full corpus — each excerpt must
    // surface its source doc (frac ≈ 1.0) plus any near-dup of it
    "text_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.where(pmod(col("doc_id"), lit(17)) === 0)
        .select(col("doc_id"), substring(col("text"), 1, 200).as("text"))
      Dedup.contamination(
          docs.repartition(s.sparkContext.defaultParallelism, col("doc_id")),
          bench, "doc_id", "text", n = 3, threshold = 0.5)
        .withColumn("frac", round(col("frac"), 6))
        .orderBy("train_id", "bench_id")
    }),

    // transitive closure of the near-dup pairs: one canonical doc per
    // duplicate CLUSTER (A~B, B~C ⟹ one keeper even without an A~C
    // pair) — the step an actual dedup pipeline runs after pair
    // generation. Pairs are the (hash-verified) jaccard pairs above;
    // the oracle recomputes the same components with a recursive CTE.
    "dedup_clusters" -> ((s, dir) =>
      Dedup.clusters(nearDupPairs(s, dir))
        .select(col("id").as("doc_id"), col("canonical").as("canonical_id"))
        .orderBy("doc_id")),

    // keeper SELECTION policy over the same clusters: keep the LONGEST
    // document of each near-dup cluster (ties → min id) instead of the
    // min-id default — the production "keep the best copy" step. The
    // oracle recomputes components with the same recursive CTE and
    // picks winners with the same (n_chars DESC, doc_id) window.
    "dedup_keep_best" -> ((s, dir) =>
      Dedup.keepBest(
          t(s, dir, "documents").select("doc_id", "n_chars"),
          nearDupPairs(s, dir),
          "doc_id", order = Seq(col("n_chars").desc))
        .select(col("doc_id"), col("canonical").as("canonical_id"), col("keep"))
        .orderBy("doc_id")),

    // incremental ingest against a PERSISTED LSH index: the planted
    // corpus is split deterministically — docs whose base id ≡ 0 mod 3
    // are the incoming batch, the rest the already-accepted corpus the
    // index is built from. One row per batch doc with the greedy
    // min-id-keeper verdict. The oracle recomputes the exact J≥0.5
    // pair set all-pairs (same CTE as dedup_minhash's) and applies the
    // same match rule in SQL, so the whole disk round-trip —
    // build → postings scan → broadcast probe → sets fetch → verify —
    // is hash-checked. Equality is probabilistic in the banding with
    // the same b=32/r=2 bound as dedup_minhash (candidate-miss ≈1e-4
    // at the J=0.5 boundary). The index is built ONCE per (session,
    // dir) — an index is an ingest-time investment probed many times,
    // so the warm bench number measures the steady-state probe, not a
    // rebuild; appendKept stays off, so repeated probes are identical.
    // The batch is CAPPED to the base-copy id range (doc_id < 200000 —
    // a no-op at oracle scale, where every planted id is below it): the
    // operator's contract is batch ≪ index, and without the cap the
    // scaled bench dirs made the batch 1/3 of the whole corpus, turning
    // the design's small-side broadcasts into corpus-sized ones — the
    // probe then measured a regime the operator is documented NOT to
    // serve. With it, the 10× probe is the true scale story: a
    // fixed-size daily batch against a 10×-grown index.
    "dedup_incremental" -> ((s, dir) => {
      val planted = plantedDocs(s, dir)
      val baseMod = pmod(pmod(col("doc_id"), lit(100000L)), lit(3))
      val batch = planted.where(baseMod === 0 && col("doc_id") < 200000L)
      IncrementalDedup.ingest(batch, "doc_id", "text", incrIndexFor(s, dir),
          threshold = 0.5)
        .orderBy("doc_id")
    }),

    // incremental SEMANTIC dedup against the disk-resident IVF index
    // (VectorIndex.ingestDedup — the embedding-space twin of
    // dedup_incremental): the accepted split is laid out by cell, each
    // batch vector probes its cells and matches residents (or
    // smaller-id batch vectors) at cos >= 0.9 under the greedy min-id
    // rule. The oracle recomputes the exact all-pairs cosine graph and
    // applies the same rule in SQL — equality is a THEOREM on this
    // corpus, not banding luck: the only >= 0.9 pairs are identical
    // planted twins, which share their argmax cell under any centroids,
    // so nprobe >= 1 finds every match (dedup_semantic's structural
    // argument, now for the incremental form). Index built once per
    // (session, dir); appendKept off so repeated probes are identical.
    // The batch is CAPPED to the base-copy id range (vec_id < 200000 —
    // a no-op at oracle scale, where every planted id is below it), the
    // same regime guard as dedup_incremental's: on the scaled bench
    // dirs an uncapped batch is half the corpus, and the operator's
    // contract is batch ≪ index. With it, the scale probes measure a
    // fixed-size batch against a growing index — the flat-cost claim.
    "dedup_semantic_incremental" -> ((s, dir) => {
      val planted = plantedEmbeddings(s, dir)
      val batch = planted.where(
        ((semIncrBaseMod === 0 && col("vec_id") < 100000L) || semIncrBaseMod === 1) &&
          col("vec_id") < 200000L)
      VectorIndex.ingestDedup(batch, "vec_id", "embedding",
          semIncrIndexFor(s, dir), threshold = 0.9)
        .orderBy("doc_id")
    }),

    // exact-pairs form (ANSI-expressible → DuckDB hash oracle); the LSH
    // bucketed form below is the scale path, hash-checked against the
    // same exact recomputation (its verified output must match).
    // Quadratic by construction, so the corpus is CAPPED at 500 base
    // vectors (the whole table at sf≤0.01; a fixed subset above) — the
    // exact anchor must not own the bench as sf grows.
    "dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingNearDup(plantedEmbeddings(s, dir, cap = 500L), "vec_id", "embedding",
          threshold = 0.9, bruteForce = true)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("id_a", "id_b")),

    "dedup_embedding_lsh" -> ((s, dir) =>
      Dedup.embeddingNearDup(plantedEmbeddings(s, dir), "vec_id", "embedding",
          threshold = 0.9, bruteForce = false)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("id_a", "id_b")),

    // SemDeDup blocking (learned k-means cells) over the same planted
    // corpus: a planted copy is the IDENTICAL vector, so source and
    // copy share every cell argmax BY CONSTRUCTION and the within-cell
    // pair set at 0.9 must equal the exact all-pairs recomputation —
    // the cell-boundary recall trade is structurally invisible here,
    // which is what makes the full hash check sound. Centroids cached
    // per (session, dir) like sim_ivf_topk's: trained once, queried
    // many times.
    "dedup_semantic" -> ((s, dir) => {
      val cents = semCentroidCache.getOrElseUpdate(s, dir)(
        Similarity.trainIvfCentroids(plantedEmbeddings(s, dir), "vec_id", "embedding"))
      Dedup.semanticNearDup(plantedEmbeddings(s, dir), "vec_id", "embedding",
          threshold = 0.9, centroids = cents)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("id_a", "id_b")
    }),

    // the linear-law SemDeDup CONFIGURATION (nlist = n/cellSize — the
    // 100 TB volume knob in semanticNearDup's scaladoc) must change
    // candidate VOLUME, never answers: planted copies are identical
    // vectors, so they share their argmax cell at ANY cell count, and
    // this corpus has no organic ≥0.9 pairs for finer cell boundaries
    // to lose (dedup_semantic's same structural argument) — so the
    // exact all-pairs oracle applies verbatim and the hash check pins
    // the knob end-to-end (bench measures its slope as
    // dedup_semantic_linear; this entry verifies its correctness)
    "dedup_semantic_fixedcell" -> ((s, dir) => {
      val emb = plantedEmbeddings(s, dir)
      val cents = semLinCentroidCache.getOrElseUpdate(s, dir) {
        val n = math.max(1L, emb.count())
        Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
          nlist = math.max(16L, n / 50L).toInt)
      }
      Dedup.semanticNearDup(emb, "vec_id", "embedding",
          threshold = 0.9, centroids = cents)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("id_a", "id_b")
    }),

    // LEAKAGE-SAFE train/val/test: split by the dedup CLUSTER label,
    // not the doc id — a held-out document's near-duplicates land in
    // the same split by construction (prevention up front, where
    // text_decontaminate is the after-the-fact audit). Composition of
    // withCanonical ∘ splitAssign under the toolkit's one hash line;
    // the oracle re-derives components recursively and applies the
    // same split thresholds to the canonical.
    // END-TO-END curation REWRITE pipeline (the composability pin for
    // the rewrite family, as pipeline_assemble is for sampling):
    // substring-despan → token-count quality gate on the CLEANED text →
    // exact-content canonicalization of the cleaned text → leakage-safe
    // split keyed on the canonical. ONE composed plan — no intermediate
    // materialization between stages (physically the columnar source is
    // re-scanned 3× by the despan subtree's self-references; text BYTES
    // cross at most one exchange, the despan reconstruction join —
    // removeDupSpans' documented shape), and the canonicalization
    // window partitions on md5(clean_text), so its exchange carries a
    // 32-char digest, never the rewritten text. The oracle rebuilds
    // every stage from raw token strings, so
    // the hash check pins span removal, the gate arithmetic, canonical
    // choice AND the split hash in one verdict — the shape a real
    // curation run composes before training.
    "pipeline_clean" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text",
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(" " + substringBoilerplate)))
          .otherwise(col("text")))
      val gated = Dedup.removeDupSpans(planted)
        .where(col("n_tokens") - col("n_removed") >= 20)
        .select(col("doc_id"),
          (col("n_tokens") - col("n_removed")).as("clean_tokens"),
          md5(col("clean_text")).as("_ck"))
      val canon = gated
        .withColumn("canonical_id", min(col("doc_id")).over(Window.partitionBy(col("_ck"))))
        .drop("_ck")
      Sampling.splitAssign(canon, col("canonical_id"),
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("clean_tokens"), col("canonical_id"), col("split"))
        .orderBy("doc_id")
    }),

    "pipeline_safe_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = nearDupPairs(s, dir)
      Sampling.splitAssign(
          Dedup.withCanonical(docs.select("doc_id"), pairs, "doc_id"),
          col("canonical"), Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("canonical").as("canonical_id"), col("split"))
        .orderBy("doc_id")
    }),

    // ───── similarity search (north_star ★)
    "sim_bruteforce_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", 5)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("query_id", "rank")
    }),

    // Approximate search over a corpus with PLANTED ground truth: five
    // exact-direction copies (power-of-2 scalings — exact in binary fp,
    // so cosines and hyperplane signs are bit-identical to the source's)
    // of each query vector. Same-direction vectors share every LSH sign
    // bucket and every IVF cell BY CONSTRUCTION, so the approximate
    // top-5 must equal the exact top-5 (the 5 copies, cos 1.0, id-order
    // tiebreak) — a theorem the DuckDB oracle re-derives by exhaustive
    // ranking, hash-checking the whole bucket/probe/score/rank pipeline
    // while the search itself stays sublinear (probed buckets/cells
    // only, never the full corpus).
    "sim_lsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(annCorpus(s, dir), emb.where(col("vec_id") < 5),
          "vec_id", "embedding", 5)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("query_id", "rank")
    }),

    // IVF-Flat ANN (learned Voronoi cells + nprobe search); same planted
    // ground truth as sim_lsh_topk. Centroids are cached per (session,
    // dir) like the Lakeshack stats: an ANN index is trained once and
    // queried many times. Scale-invariant cell assignment puts each
    // planted copy in its source's cell, and a query's first probe is
    // its own cell, so exact-top-5 recovery is structural, not lucky.
    "sim_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = annCorpus(s, dir)
      val cents = ivfCache.getOrElseUpdate(s, dir)(
        Similarity.trainIvfCentroids(corpus, "vec_id", "embedding")) // nlist auto ≈ √n
      Similarity.ivfTopKWith(cents, corpus, emb.where(col("vec_id") < 5),
          "vec_id", "embedding", 5)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("query_id", "rank")
    }),

    // the DISK-RESIDENT twin of sim_ivf_topk: same centroids, but the
    // corpus is laid out partitioned by IVF cell and the probe reads
    // ONLY the probed cells' directories (partition pruning — the
    // 100 TB difference between full-corpus candidate scans per query
    // batch and nprobe/nlist of the bytes). Shares the probe/assign/
    // rank helpers with the in-memory form, so the same oracle pins
    // the whole build → layout → pruned-scan → rank round trip.
    "sim_indexed_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = vecIndexCache.getOrElseUpdate(s, dir) {
        val corpus = annCorpus(s, dir)
        val cents = ivfCache.getOrElseUpdate(s, dir)(
          Similarity.trainIvfCentroids(corpus, "vec_id", "embedding"))
        val p = s"/tmp/graft_vecidx_${dirTag(dir)}"
        VectorIndex.buildWith(cents, corpus, "vec_id", "embedding", p)
        p
      }
      VectorIndex.topK(s, emb.where(col("vec_id") < 5), "vec_id", "embedding",
          path, 5)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("query_id", "rank")
    }),

    // PQ two-stage search (ADC shortlist over 8-byte codes + exact
    // re-rank) — the memory-compression leg of the ANN suite. Same
    // planted corpus, same theorem in PQ form: power-of-two copies
    // normalize bit-identically, share their source's code, and tie at
    // the ADC minimum (rank(), so ties never drop one) — the exact
    // re-rank then recovers the exact top-5 the oracle derives
    // exhaustively. Codebooks train once per (session, dir).
    "sim_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = annCorpus(s, dir)
      val cb = pqCache.getOrElseUpdate(s, dir)(
        Similarity.trainPqCodebooks(corpus, "vec_id", "embedding"))
      // codes encoded once per (session, dir) — pqEncode's "runs ONCE
      // at ingest" contract; the probe measures the ADC search
      val codes = pqCodesCache.getOrElseUpdate(s, dir)(
        Similarity.pqEncode(corpus, "vec_id", "embedding", cb).persist())
      Similarity.pqTopKWith(cb, codes,
          corpus, emb.where(col("vec_id") < 5), "vec_id", "embedding", 5)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("query_id", "rank")
    }),

    // disk-resident IVFADC: the cell-partitioned layout's rows carry PQ
    // codes (RESIDUAL encoding — codes quantize normalized(v) − its
    // cell centroid, the Jégou et al. formulation), so the candidate
    // stage reads nprobe/nlist of the FILES (partition pruning) x
    // code/vec of the BYTES (column pruning — the scan's ReadSchema has
    // no vec column, spec-pinned). The exact top-5 survives both
    // reductions on the planted corpus: probed cells contain it
    // (sim_indexed_topk's theorem), a planted copy shares its source's
    // cell AND residual bit-identically so it ties at the ADC minimum,
    // and the shortlist draws from a SUBSET of sim_pq_topk's candidates
    // so true ranks only improve — the same exhaustive oracle pins the
    // whole composition.
    "sim_indexed_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = vecIndexPqCache.getOrElseUpdate(s, dir) {
        val corpus = annCorpus(s, dir)
        val cents = ivfCache.getOrElseUpdate(s, dir)(
          Similarity.trainIvfCentroids(corpus, "vec_id", "embedding"))
        val cb = pqResCache.getOrElseUpdate(s, dir)(
          Similarity.trainPqCodebooksResidual(corpus, "vec_id", "embedding", cents))
        val p = s"/tmp/graft_vecidxpq_${dirTag(dir)}"
        VectorIndex.buildWithPq(cents, cb, corpus, "vec_id", "embedding", p)
        p
      }
      VectorIndex.topKPq(s, emb.where(col("vec_id") < 5), "vec_id", "embedding",
          path, 5)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("query_id", "rank")
    }),

    // embedding-space decontamination (semantic twin of
    // text_decontaminate): every 17th vector plays the benchmark; each
    // bench vector must surface its training source (cos 1.0 self-pair)
    // plus any genuine semantic near-dup. Exact (no LSH), so the DuckDB
    // all-pairs recomputation is a hash oracle, not a scorecard.
    "sim_decontaminate" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.embeddingContamination(emb,
          emb.where(pmod(col("vec_id"), lit(17)) === 0),
          "vec_id", "embedding", threshold = 0.9)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("train_id", "bench_id")
    }),

    // ───── text analysis (north_star ★)
    "text_quality" -> ((s, dir) =>
      TextAnalysis.quality(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_chars_calc").cast("long").as("n_chars_calc"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("n_unique_tokens").cast("long").as("n_unique_tokens"),
          round(col("avg_token_len"), 6).as("avg_token_len"),
          round(col("punct_ratio"), 6).as("punct_ratio"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"))
        .orderBy("doc_id")),

    // end-to-end corpus curation — the composed pipeline a training-data
    // run actually executes: quality gates ∧ language filter ∧ exact-
    // dedup canonical keep, in ONE plan. Each stage is individually
    // hash-verified above; this entry verifies they COMPOSE (no column
    // collisions, one scan feeding three branches, joins on doc_id).
    "pipeline_curate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val q = TextAnalysis.quality(docs)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"))
      val lang = TextAnalysis.langId(docs).select(col("doc_id"), col("pred_lang"))
      val keep = Dedup.exactByHash(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      q.join(lang, "doc_id").join(keep, "doc_id")
        .where(col("n_tokens") >= 20 && col("pred_lang") === "en")
        .orderBy("doc_id")
    }),

    // learned quality-filter inference (lexicon form): a linear text
    // classifier's exact arithmetic — sigmoid(bias + mean token weight)
    // — over a fixed fluency/spam lexicon; the DuckDB oracle recomputes
    // weight lookup, mean, and sigmoid per doc, so the whole inference
    // chain (tokenize → weigh → pool → squash) is hash-checked. The
    // vocabulary-free hashed form (TextAnalysis.hashedScore — fastText's
    // deployment shape, weight table broadcast as one row) is
    // spec-pinned instead: its bucket assignment is Spark's xxhash64,
    // which ANSI SQL cannot reproduce.
    "text_lexicon_score" -> ((s, dir) =>
      TextAnalysis.lexiconScore(t(s, dir, "documents"), qualityLexicon, bias = -0.5)
        .select(col("doc_id"), col("lex_hits").cast("long").as("lex_hits"),
          round(col("lex_score"), 6).as("lex_score"))
        .orderBy("doc_id")),

    // the NAMED heuristic battery (Gopher, Rae et al. 2021 §A.1.1) with
    // per-rule verdicts — the oracle recomputes every rule's measurement
    // AND threshold comparison in ANSI SQL, so the whole verdict table
    // (7 rules × every doc) is hash-checked, not just the final AND.
    // minWords=5 (not the paper's 50) so the synthetic corpus exercises
    // both branches of every rule.
    "text_gopher" -> ((s, dir) =>
      TextAnalysis.gopherRules(t(s, dir, "documents"), minWords = 5)
        .select(col("doc_id"), col("n_words"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("symbol_word_ratio"), 6).as("symbol_word_ratio"),
          round(col("bullet_line_ratio"), 6).as("bullet_line_ratio"),
          round(col("ellipsis_line_ratio"), 6).as("ellipsis_line_ratio"),
          round(col("alpha_word_ratio"), 6).as("alpha_word_ratio"),
          col("n_required_stops"),
          col("r_word_count").cast("long").as("r_word_count"),
          col("r_mean_len").cast("long").as("r_mean_len"),
          col("r_symbol").cast("long").as("r_symbol"),
          col("r_bullet").cast("long").as("r_bullet"),
          col("r_ellipsis").cast("long").as("r_ellipsis"),
          col("r_alpha").cast("long").as("r_alpha"),
          col("r_stop").cast("long").as("r_stop"),
          col("gopher_pass").cast("long").as("gopher_pass"))
        .orderBy("doc_id")),

    // in-engine TRAINING of the learned quality filter: 3 epochs of
    // full-batch logistic regression (en-vs-other from stopword
    // frequencies), every epoch's gradient sum quantized to a 1e-6
    // fixed-point grid so the corpus sum is an order-free integer sum —
    // the DuckDB oracle replays the identical recursion as chained CTEs
    // and must land on bit-identical weights, loss, and accuracy.
    "text_train_filter" -> ((s, dir) => {
      val r = QualityTrainer.train(t(s, dir, "documents"), trainerLexicon,
        col("lang") === "en", epochs = 3, lr = 5.0)
      import s.implicits._
      (r.lexicon ++ Seq(
        ("_bias", r.bias), ("_loss", r.loss),
        ("_n_correct", r.nCorrect.toDouble), ("_n", r.n.toDouble)))
        .toDF("feature", "value")
        .select(col("feature"), round(col("value"), 6).as("value"))
        .orderBy("feature")
    }),

    // the barrier-free training form: every shard (doc_id % 8) runs all
    // 3 epochs locally in ONE distributed job, models average by shard
    // size — TWO barriers total vs epochs + 2 (spec-pinned), the shape
    // a 1000-executor cluster wants (QualityTrainer.trainLocalEpochs)
    "text_train_filter_local" -> ((s, dir) => {
      val r = QualityTrainer.trainLocalEpochs(t(s, dir, "documents"),
        trainerLexicon, col("lang") === "en", col("doc_id"),
        epochs = 3, lr = 5.0, shards = 8)
      import s.implicits._
      (r.lexicon ++ Seq(
        ("_bias", r.bias), ("_loss", r.loss),
        ("_n_correct", r.nCorrect.toDouble), ("_n", r.n.toDouble)))
        .toDF("feature", "value")
        .select(col("feature"), round(col("value"), 6).as("value"))
        .orderBy("feature")
    }),

    "text_tokens" -> ((s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_ws_tokens").cast("long").as("n_ws_tokens"),
          col("n_word_tokens").cast("long").as("n_word_tokens"), col("n_bpe_est"))
        .orderBy("doc_id")),

    "text_top_tokens" -> ((s, dir) =>
      TextAnalysis.tokenFrequencies(t(s, dir, "documents"))
        .orderBy(col("freq").desc, col("token").asc)
        .limit(20)),

    "text_langid" -> ((s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang"), col("pred_lang"), col("pred_score").cast("long").as("pred_score"))
        .orderBy("doc_id")),

    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(t(s, dir, "documents"))
        .select(col("doc_id"), col("md5_fp"), col("norm_len").cast("long").as("norm_len"))
        .orderBy("doc_id")),

    "text_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidf(t(s, dir, "documents"), "doc_id", "text", k = 5)
        .withColumn("tfidf", round(col("tfidf_raw"), 6)).drop("tfidf_raw")
        .orderBy("doc_id", "rank")),

    // learned BPE tokenization: train 100 merges on the corpus, encode
    // every document, then verify the encoder's character-preservation
    // contract IN SQL — the decoded corpus md5 must equal the
    // normalized-text md5 and the marker-stripped char count must equal
    // the summed word lengths, for every doc. (Token counts themselves
    // depend on the learned merges and are pinned by BpeSpec, not the
    // oracle.)
    "text_bpe" -> ((s, dir) => {
      val model = bpeModel(s, dir)
      graft.ops.Bpe.encode(t(s, dir, "documents"), "doc_id", "text", model)
        .select(col("doc_id"),
          md5(trim(regexp_replace(array_join(col("bpe_tokens"), ""),
            "</w>", " "))).as("roundtrip_md5"),
          length(regexp_replace(array_join(col("bpe_tokens"), ""),
            "</w>", "")).cast("long").as("n_word_chars"))
        .orderBy("doc_id")
    }),

    // CCNet-style LM-perplexity quality scoring, in-corpus unigram
    // form: the oracle retrains the same add-k model in SQL and
    // re-scores every doc with an ORDERED log-prob summation, so the
    // whole vocab→probability→fold chain is hash-checked
    "text_unigram_ppl" -> ((s, dir) =>
      TextAnalysis.unigramPerplexity(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("ppl", round(col("ppl"), 6))
        .orderBy("doc_id")),

    // BM25 keyword retrieval: three fixed queries over the corpus, full
    // Okapi scoring (term-sorted summation — the float determinism the
    // oracle's ordered aggregate mirrors), top-10 each
    "text_bm25" -> ((s, dir) =>
      TextAnalysis.bm25TopK(t(s, dir, "documents"),
          Seq(0L -> "spark merge batch", 1L -> "window sort key",
            2L -> "hash table scan"),
          "doc_id", "text", k = 10)
        .withColumn("score", round(col("score"), 6))
        .orderBy("query_id", "rank")),

    // the same three queries served FROM the persisted inverted index
    // (TextIndex: term-clustered postings, zone-map-pruned probe, df
    // from the pruned read, N/avgdl from meta) — the index the brute
    // form's scaladoc promises. Bit-identical scoring contract, so the
    // SAME oracle SQL hash-verifies brute and indexed forms.
    "text_bm25_indexed" -> ((s, dir) => {
      val path = textIndexCache.getOrElseUpdate(s, dir) {
        val p = s"/tmp/graft_txtidx_${dirTag(dir)}"
        val docs = t(s, dir, "documents")
        // file COUNT scales with the corpus, file BYTES stay fixed —
        // the deployment shape the flat-probe claim rests on: a query
        // touches files-per-term ≈ constant files of ≈ constant size
        // regardless of corpus scale (parquet count() is footer-only)
        val nFiles = math.max(8L, docs.count() / 5000L).toInt
        TextIndex.build(docs, "doc_id", "text", p, clusterFiles = nFiles)
        p
      }
      TextIndex.bm25TopK(s, path,
          Seq(0L -> "spark merge batch", 1L -> "window sort key",
            2L -> "hash table scan"),
          "doc_id", k = 10)
        .withColumn("score", round(col("score"), 6))
        .orderBy("query_id", "rank")
    }),

    // hybrid retrieval: the engine's lexical ranking (BM25 top-10 for
    // three literal queries) fused with its vector ranking (cosine
    // top-10 for the same query ids) by Reciprocal Rank Fusion —
    // rank-only fusion, so the oracle recomputes BOTH component
    // rankings from scratch and the exact fused scores/order
    "hybrid_rrf_topk" -> ((s, dir) => {
      val lex = TextAnalysis.bm25TopK(t(s, dir, "documents"),
          Seq(0L -> "spark merge batch", 1L -> "window sort key",
            2L -> "hash table scan"),
          "doc_id", "text", k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val vec = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 3),
          "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      graft.ops.Retrieval.rrfFuse(Seq(lex, vec), k = 10)
        .withColumn("rrf_score", round(col("rrf_score"), 8))
        .orderBy("query_id", "rank")
    }),

    // DSIR importance weights: Σ per-token log p_target/p_raw under the
    // raw-vocab-capped smoothed bag models, folded in POSITION order
    // (the float contract the oracle's SUM(x ORDER BY o) mirrors)
    "dsir_weights" -> ((s, dir) =>
      graft.ops.Dsir.logWeights(t(s, dir, "documents"), dsirModel(s, dir))
        .select(col("doc_id"), col("n_tokens"),
          round(col("dsir_logw"), 6).as("dsir_logw"))
        .orderBy("doc_id")),

    // the Gumbel top-k draw over those weights: deterministic u from
    // the library's standard multiplicative id hash, so the oracle
    // re-derives the exact membership; output is hash-friendly ints/
    // strings (the keys only ORDER the draw)
    "dsir_resample" -> ((s, dir) =>
      graft.ops.Dsir.resample(
          graft.ops.Dsir.logWeights(t(s, dir, "documents"), dsirModel(s, dir)),
          n = 100)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")),

    "text_normalize" -> ((s, dir) =>
      TextAnalysis.normalize(t(s, dir, "documents"))
        .select(col("doc_id"), col("norm_text"),
          col("n_norm_chars").cast("long").as("n_norm_chars"))
        .orderBy("doc_id")),

    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(t(s, dir, "documents"))
        .select(col("doc_id"),
          round(col("top_token_ratio"), 6).as("top_token_ratio"),
          round(col("distinct_token_ratio"), 6).as("distinct_token_ratio"),
          round(col("dup_bigram_ratio"), 6).as("dup_bigram_ratio"))
        .orderBy("doc_id")),

    // redaction demo plants one email + one IP per doc (the synthetic
    // corpus has none), so the patterns provably fire on every row
    "text_redact" -> ((s, dir) =>
      TextAnalysis.redact(
          t(s, dir, "documents").withColumn("text",
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@mail.example.com at 10.0."), pmod(col("doc_id"), lit(256)), lit(".7"))))
        .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
          col("n_ips").cast("long").as("n_ips"), col("redacted_text"))
        .orderBy("doc_id")),

    // full PII scan with Luhn-VALIDATED card redaction: every doc gets a
    // planted 15-digit card candidate DERIVED FROM doc_id (so validity
    // varies document-to-document — ~1 in 10 pass the checksum) plus a
    // doc-varying phone. The oracle recomputes the Luhn sum per
    // candidate in SQL; the redacted_text hash then catches any
    // validity disagreement (a valid card must vanish, an invalid one
    // must survive verbatim).
    "text_pii" -> ((s, dir) =>
      TextAnalysis.piiScan(
          t(s, dir, "documents").withColumn("text",
            concat(col("text"),
              lit(" pay 4"),
              lpad(pmod(col("doc_id"), lit(100000000)).cast("string"), 8, "0"),
              lpad(pmod(col("doc_id") * 7, lit(1000000)).cast("string"), 6, "0"),
              lit(" or call +1-555-"),
              lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))))
        .select(col("doc_id"),
          col("n_card_candidates").cast("long").as("n_card_candidates"),
          col("n_cards").cast("long").as("n_cards"),
          col("n_phones").cast("long").as("n_phones"),
          col("n_emails").cast("long").as("n_emails"),
          col("n_ips").cast("long").as("n_ips"),
          col("redacted_text"))
        .orderBy("doc_id")),

    // url/domain rollup: plants two URLs per doc (the synthetic corpus
    // has none) so the domain table provably covers every doc — the
    // blocklist/per-domain-cap shape of web-corpus curation
    "text_urls" -> ((s, dir) =>
      TextAnalysis.urlDomains(
          t(s, dir, "documents").withColumn("text",
            concat(col("text"), lit(" see https://site"), pmod(col("doc_id"), lit(23)),
              lit(".example.org/page and http://cdn"), pmod(col("doc_id"), lit(7)),
              lit(".example.net/x plus HTTPS://MiXedCase"), pmod(col("doc_id"), lit(5)),
              lit(".Example.COM/y"))))
        .orderBy("domain")),

    // ───── corpus sampling + sequence packing (north_star ★)
    "sample_hash" -> ((s, dir) =>
      Sampling.hashSample(t(s, dir, "documents"), col("doc_id"), 0.1)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")),

    // pseudo-random deterministic draw: strata ordered by the same
    // multiplicative hash (doc_id tiebreak keeps the order total)
    "sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(t(s, dir, "documents"), Seq("lang"),
          Seq(pmod(col("doc_id") * Sampling.KnuthA, lit(4294967296L)), col("doc_id")), 25)
        .select(col("doc_id"), col("lang"))
        .orderBy("lang", "doc_id")),

    // domain-mixture resample: explicit per-source fractions, unlisted
    // sources at the 5% default — one deterministic hash, no shuffle
    "sample_mixture" -> ((s, dir) =>
      Sampling.mixtureSample(t(s, dir, "documents"),
          col("doc_id"), col("source"),
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1),
          defaultFraction = 0.05)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")),

    // temperature mixture: targets ∝ count^0.5 (sqrt — correctly
    // rounded IEEE, so the oracle rebuilds every per-domain target
    // bit-for-bit), drawn as each domain's hash-smallest keys
    "sample_temperature" -> ((s, dir) =>
      Sampling.temperatureMixture(t(s, dir, "documents"),
          col("doc_id"), "source", alpha = 0.5, totalRows = 250L)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")),

    // per-domain token budgets drawn in hash order (the "N tokens of
    // source X" mixture contract; prefix-of-hash-order membership)
    "text_token_budget" -> ((s, dir) =>
      Sampling.tokenBudgetSample(
          t(s, dir, "documents")
            .withColumn("n_bpe_est", ceil(col("n_chars").cast("double") / 4).cast("long")),
          col("doc_id"), col("n_bpe_est"), "source",
          Map("src0" -> 2000L, "src1" -> 800L), defaultBudget = 300L)
        .select(col("doc_id"), col("source"), col("n_bpe_est"))
        .orderBy("doc_id")),

    // per-ROW weighted Bernoulli: keep probability rides a quality-ish
    // column (length-capped), not a per-domain constant
    "sample_weighted" -> ((s, dir) =>
      Sampling.weightedSample(
          t(s, dir, "documents")
            .withColumn("w", least(lit(1.0), col("n_chars").cast("double") / 400.0)),
          col("doc_id"), col("w"))
        .select(col("doc_id"), col("source"), round(col("w"), 6).as("w"))
        .orderBy("doc_id")),

    // repeat-factor upsampling: src0 at 2.5 epochs, src1 at 1.25,
    // the rest downsampled to 0.75 — copies tagged and deterministic
    "sample_upsample" -> ((s, dir) =>
      Sampling.upsample(
          t(s, dir, "documents").select("doc_id", "source")
            .withColumn("w", when(col("source") === "src0", 2.5)
              .when(col("source") === "src1", 1.25).otherwise(0.75)),
          col("doc_id"), col("w"))
        .select(col("doc_id"), col("source"), col("copy").cast("long").as("copy"))
        .orderBy("doc_id", "copy")),

    // named hash ranges tiling one hash line: train/val/test as a
    // PARTITION (every doc exactly one label, train = hashSample(0.9))
    "sample_split" -> ((s, dir) =>
      Sampling.splitAssign(t(s, dir, "documents").select("doc_id", "source"),
          col("doc_id"), Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .orderBy("doc_id")),

    // the capstone composition: mixture → token budget → shard
    // placement in ONE plan (each stage hash-verified alone above;
    // this entry verifies they compose — shared hash, no column
    // collisions, one documents scan)
    "pipeline_assemble" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_bpe_est", ceil(col("n_chars").cast("double") / 4).cast("long"))
      val mixed = Sampling.mixtureSample(docs, col("doc_id"), col("source"),
        Map("src0" -> 1.0, "src1" -> 0.8, "src2" -> 0.6), defaultFraction = 0.3)
      val budgeted = Sampling.tokenBudgetSample(mixed, col("doc_id"),
        col("n_bpe_est"), "source",
        Map("src0" -> 1500L, "src1" -> 900L), defaultBudget = 400L)
      Packing.assignShards(
          budgeted.select(col("doc_id"), col("source"), col("n_bpe_est")),
          col("doc_id"), nShards = 4)
        .select(col("doc_id"), col("source"), col("n_bpe_est"),
          col("shard_id").cast("long").as("shard_id"),
          col("shard_pos").cast("long").as("shard_pos"))
        .orderBy("doc_id")
    }),

    // the epochs→shards composition (Sampling.upsample's documented
    // contract, Sampling.scala: shard by a (key, copy) COMBINATION so a
    // document's epochs land in different shards): upsample at
    // fractional per-source weights, then place each (doc, copy) by
    // hashing doc_id·4 + copy (reps ≤ ⌈max w⌉ = 3 < 4, so the combined
    // key is collision-free and stays far under the 2^32 hash-fold
    // domain). Verifies the two samplers compose under ONE hash line —
    // the oracle reproduces the copy draw AND the placement bit-for-bit
    "pipeline_epochs" -> ((s, dir) => {
      val up = Sampling.upsample(
        t(s, dir, "documents").select("doc_id", "source")
          .withColumn("w", when(col("source") === "src0", 2.5)
            .when(col("source") === "src1", 1.25).otherwise(0.75)),
        col("doc_id"), col("w"))
      Packing.assignShards(
          up.select(col("doc_id"), col("source"), col("copy")),
          col("doc_id") * 4 + col("copy"), nShards = 5)
        .select(col("doc_id"), col("source"), col("copy").cast("long").as("copy"),
          col("shard_id").cast("long").as("shard_id"),
          col("shard_pos").cast("long").as("shard_pos"))
        .orderBy("doc_id", "copy")
    }),

    // deterministic global shuffle → (shard, offset): the training-set
    // writer's placement map, reproducible byte-for-byte
    "text_shard_assign" -> ((s, dir) =>
      Packing.assignShards(t(s, dir, "documents").select("doc_id", "source"),
          col("doc_id"), nShards = 7)
        .select(col("doc_id"), col("source"), col("shard_id").cast("long").as("shard_id"),
          col("shard_pos").cast("long").as("shard_pos"))
        .orderBy("doc_id")),

    // fixed-token-window chunking with overlap — the long-document
    // complement of packing (split to context-sized windows; partial
    // tail kept, token-less docs produce no chunks)
    "text_chunk" -> ((s, dir) =>
      TextAnalysis.chunk(t(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 64, overlap = 8)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk_text"), col("n_chunk_tokens").cast("long").as("n_chunk_tokens"))
        .orderBy("doc_id", "chunk_idx")),

    "text_pack_sequences" -> ((s, dir) =>
      Packing.packSequences(
          t(s, dir, "documents")
            .withColumn("n_bpe_est", ceil(col("n_chars").cast("double") / 4).cast("long")),
          col("n_bpe_est"), budget = 2048L, partitionCol = "source", orderCol = "doc_id")
        .select(col("doc_id"), col("source"), col("n_bpe_est"),
          col("tokens_before"), col("seq_id"))
        .orderBy("source", "doc_id")),

    // ───── multimodal plumbing (north_star ★; decode is a marked stub)
    "mm_catalog" -> ((s, dir) =>
      Multimodal.mediaCatalog(Multimodal.withMedia(t(s, dir, "documents")))
        .select(col("media_type"), col("n_items"), col("total_bytes"))
        .orderBy("media_type")),

    "mm_features" -> ((s, dir) =>
      Multimodal.extractFeatures(s, Multimodal.withMedia(t(s, dir, "documents"))).toDF()
        .select(col("doc_id"), col("n_frames").cast("long").as("n_frames"),
          size(col("feature")).cast("long").as("feature_dim"))
        .orderBy("doc_id")),

    "mm_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.withMedia(t(s, dir, "documents")))
        .select(col("doc_id"), col("n_frames").cast("long").as("n_frames"),
          size(col("sampled_frame_idx")).cast("long").as("n_sampled"))
        .orderBy("doc_id")),

    // strided per-frame features through the frame-iterator seam
    // (ChunkVideoDecoder): frame count/index arithmetic is the
    // oracle-checked surface; the float payload is pinned bit-exact by
    // MultimodalSpec (stubDecode is not ANSI-SQL-expressible)
    "mm_video_frames" -> ((s, dir) =>
      Multimodal.extractFrameFeatures(s,
          Multimodal.withMedia(t(s, dir, "documents")),
          new Multimodal.ChunkVideoDecoder(frameBytes = 16, dims = 8), stride = 4)
        .toDF()
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sampled_frames"),
          max(col("frame_idx")).cast("long").as("max_frame_idx"))
        .orderBy("doc_id")),

    // resize planning: oracle-expressible dims (doc_id/n_chars modular
    // arithmetic instead of withMedia's xxhash dims, which DuckDB lacks)
    "mm_resize" -> ((s, dir) =>
      Multimodal.resizePlan(
          t(s, dir, "documents").select(col("doc_id"),
            (pmod(col("doc_id") * 37, lit(1920)) + 1).cast("int").as("width"),
            (pmod(col("n_chars") * 31, lit(1080)) + 1).cast("int").as("height")),
          maxW = 256, maxH = 224)
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("new_width").cast("long").as("new_width"),
          col("new_height").cast("long").as("new_height"))
        .orderBy("doc_id"))
  )

  /** Fold a per-file stats table to one global min/max row. */
  private def globalStats(stats: DataFrame): DataFrame =
    stats.agg(
      min("l_orderkey_min").as("l_orderkey_min"), max("l_orderkey_max").as("l_orderkey_max"),
      min("l_shipdate_min").as("l_shipdate_min"), max("l_shipdate_max").as("l_shipdate_max"))

  /** documents ∪ shifted copy — planted exact duplicates for dedup.
    * Repartitioned by id: the raw table is a single small file (1-2 scan
    * partitions), and the dedup pipelines' expensive stage is the
    * map-side tokenize/shingle — a cheap shuffle of (id, text) rows
    * spreads that across all cores. (At real scale the input has
    * thousands of splits and this repartition would be dropped.) */
  /** DELIBERATELY NOT persisted: measured A/B at sf0.1, a `.persist()`
    * here made dedup_simhash ~20% SLOWER warm (6.1–6.9 s vs 5.4 s) —
    * Spark's columnar in-memory cache decompresses long text strings
    * per consumer scan, which loses to re-running the (vectorized
    * parquet read + union + tiny exchange) subtree. Vector corpora
    * cache well (see `annCorpus`); text corpora don't. What IS shared
    * across the dedup scorecard queries is the DERIVED md5/shingle-set
    * frame (`plantedShingleSets` — md5s and long arrays, which cache
    * cheaply); the remaining re-derivations of this raw frame feed
    * narrow fused-expression passes (simhash/minhash signatures) that
    * need the text itself. */
  private def plantedDocs(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.select(col("doc_id"), col("text"))
      .union(d.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      // EXPLICIT partition count: repartition(col) alone is a
      // REPARTITION_BY_COL that AQE freely coalesces — and since the
      // text bytes are tiny it coalesces to ~1 partition, serializing
      // the expensive tokenize/shingle stage downstream (measured 1.0s
      // vs 1.8s warm at sf0.1)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
  }

  /** embeddings ∪ shifted copy — planted cosine-1.0 near-dup pairs.
    * `cap` bounds the base table (vec_id < cap) BEFORE planting: the
    * exact quadratic form stays an oracle anchor on a fixed-size subset
    * instead of owning the bench as the corpus scales (Long.MaxValue =
    * unbounded, the LSH scale path's input). */
  private def plantedEmbeddings(s: SparkSession, dir: String,
                                cap: Long = Long.MaxValue): DataFrame = {
    val e = t(s, dir, "embeddings").where(col("vec_id") < cap)
    e.select(col("vec_id"), col("embedding"))
      .union(e.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      // same rationale as plantedDocs: the raw table is 1-2 scan splits,
      // and the expensive stage downstream is the narrow per-row vector
      // math (bands·planes cosines in LSH) — spread it across all cores
      // with a pinned partition count AQE can't coalesce away
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
  }

  /** embeddings ∪ five exact-direction copies of each query vector
    * (vec_id < 5), copy m of query q at id q + m·100000 scaled by 2^m.
    * Power-of-2 scaling is EXACT in binary floating point, so a copy's
    * cosine against any vector, its hyperplane signs, and its argmax-
    * cosine IVF cell are bit-identical to its source's — which makes
    * the exact top-5 of each query (its 5 copies, all at cos 1.0,
    * id-order tiebreak) structurally recoverable by both approximate
    * paths, and therefore DuckDB-oracle-checkable. */
  private val annCorpusCache = new SessionCache[DataFrame]

  private def annCorpus(s: SparkSession, dir: String): DataFrame =
    // shared by sim_lsh_topk and sim_ivf_topk (the IVF path reads it
    // once for training and once per search) — persisted per (session,
    // dir) so the union+scaling subpipeline runs once. Measured A/B at
    // sf0.1: float arrays round-trip the columnar cache cheaply
    // (sim_lsh 0.7 s vs 0.8–1.3 s uncached), the opposite of the text
    // corpus (see plantedDocs).
    annCorpusCache.getOrElseUpdate(s, dir) {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
      val copies = (1 to 5).map(m =>
        q.select((col("vec_id") + m * 100000L).as("vec_id"),
          transform(col("embedding"), x => x * lit((1 << m).toFloat)).as("embedding")))
        .reduce(_ union _)
      emb.select(col("vec_id"), col("embedding")).union(copies).persist()
    }

  // ─────────────────────────────────────────────────────────────────────
  // DuckDB oracle twins. Conventions: identical aliases, identical
  // ORDER BY, DECIMAL for double sums, BIGINT for counts/sizes.
  // Approximate operators (minhash/simhash/LSH/IVF/HLL) are verified
  // against EXACT anchors the oracle recomputes in ANSI SQL: either the
  // verified output must equal the exact answer (minhash, embedding-LSH,
  // planted ANN top-k) or the result carries exact counts plus
  // recall/error assertions the oracle expects (simhash scorecard, HLL
  // error pin). Every query is hash-checked; none are rows-only.
  // ─────────────────────────────────────────────────────────────────────

  /** Fixed fluency/spam lexicon for the learned-filter inference query:
    * function words vote fluent (positive), promo tokens vote spam
    * (negative) — the CCNet-style linear filter's weight shape, pinned
    * as literals so the DuckDB oracle carries the identical model. */
  private val qualityLexicon: Seq[(String, Double)] = Seq(
    "the" -> 0.9, "and" -> 0.7, "of" -> 0.6, "to" -> 0.5, "in" -> 0.5,
    "a" -> 0.4, "is" -> 0.4, "that" -> 0.3, "for" -> 0.3, "it" -> 0.2,
    "click" -> -1.5, "buy" -> -1.2, "free" -> -1.0, "subscribe" -> -1.4)

  private val normToks =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> length(x) > 0)"

  /** Features for the trained quality filter: high-frequency corpus
    * terms (the synthetic documents' vocabulary is topic words, not
    * natural language), so every feature column is dense and every
    * weight moves — the oracle then checks 3 epochs of genuinely
    * multi-feature gradient arithmetic, not a degenerate bias fit. */
  private val trainerLexicon: Seq[String] = Seq(
    "join", "hash", "row", "scan", "table", "order", "window", "the",
    "group", "spark", "query", "data")

  /** Replays QualityTrainer's full-batch GD as chained CTEs — one
    * (gradient, weight-update) CTE pair per epoch, then a metrics pass
    * at the final weights. Exactness leans on the operator's contract:
    * quantized-long gradient sums (order-free), left-associative margin
    * chains (`+` in SQL parses left-assoc, matching the Scala foldLeft),
    * and the identical `w - lr*((g/1e6)/n)` recursion, so every double
    * here is bit-identical to the Spark side's. DuckDB `ln` is natural
    * log (its `log` is log10 — the one rename). */
  private def trainFilterOracle(lexicon: Seq[String], epochs: Int, lr: Double): String = {
    val k = lexicon.size
    val idx = 0 until k
    def margin(wRef: String) =
      s"(${wRef}b" + idx.map(i => s" + $wRef$i * x$i").mkString + ")"
    val featCols = lexicon.zipWithIndex.map { case (term, i) =>
      s"""CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, t -> t = '$term')) AS DOUBLE) / len(tk) ELSE 0.0 END AS x$i"""
    }.mkString(",\n    ")
    val epochCtes = (1 to epochs).map { e =>
      val m = margin(s"w${e - 1}.w")
      val p = s"(1.0 / (1.0 + exp(-$m)))"
      val grads = idx.map(i =>
        s"SUM(CAST(round(($p - y) * x$i * 1000000.0, 0) AS BIGINT)) AS g$i")
        .mkString(",\n    ") +
        s",\n    SUM(CAST(round(($p - y) * 1000000.0, 0) AS BIGINT)) AS gb"
      val updates = idx.map(i =>
        s"w${e - 1}.w$i - $lr * ((CAST(g$e.g$i AS DOUBLE) / 1000000.0) / n.n) AS w$i")
        .mkString(",\n    ") +
        s",\n    w${e - 1}.wb - $lr * ((CAST(g$e.gb AS DOUBLE) / 1000000.0) / n.n) AS wb"
      s"""g$e AS (
         |  SELECT $grads
         |  FROM feat CROSS JOIN w${e - 1}),
         |w$e AS (
         |  SELECT $updates
         |  FROM w${e - 1} CROSS JOIN g$e CROSS JOIN n)"""
    }.mkString(",\n")
    val mFin = margin(s"w$epochs.w")
    val weightRows = lexicon.zipWithIndex.map { case (term, i) =>
      s"SELECT '$term' AS feature, round(w$i, 6) AS value FROM w$epochs"
    }.mkString("\n  UNION ALL ")
    s"""WITH feat AS (
       |  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |    $featCols
       |  FROM (SELECT $normToks AS tk, lang FROM documents)),
       |n AS (SELECT COUNT(*) AS n FROM feat),
       |w0 AS (SELECT ${idx.map(i => s"0.0 AS w$i").mkString(", ")}, 0.0 AS wb),
       |$epochCtes,
       |metrics AS (
       |  SELECT
       |    SUM(CAST(round((CASE WHEN y = 1.0 THEN ln(1.0 + exp(-$mFin))
       |                    ELSE ln(1.0 + exp($mFin)) END) * 1000000.0, 0) AS BIGINT)) AS lq,
       |    SUM(CASE WHEN ($mFin >= 0) = (y = 1.0) THEN 1 ELSE 0 END) AS ok
       |  FROM feat CROSS JOIN w$epochs)
       |SELECT feature, value FROM (
       |  $weightRows
       |  UNION ALL SELECT '_bias', round(wb, 6) FROM w$epochs
       |  UNION ALL SELECT '_loss', round(CAST(lq AS DOUBLE) / 1000000.0, 6) FROM metrics
       |  UNION ALL SELECT '_n_correct', CAST(ok AS DOUBLE) FROM metrics
       |  UNION ALL SELECT '_n', CAST(n AS DOUBLE) FROM n)
       |ORDER BY feature""".stripMargin
  }

  /** Replays [[graft.ops.QualityTrainer.trainLocalEpochs]]: the same
    * per-epoch CTE chain as [[trainFilterOracle]] but GROUPED BY the
    * deterministic `doc_id % shards` shard — each shard's local
    * full-batch epochs replay independently (its gradient sums are
    * order-free quantized longs), then the shard models average
    * weighted by shard size through an ORDERED aggregate
    * (`SUM(… ORDER BY shard)` = the Scala fold's left-association),
    * and one metrics pass runs at the averaged weights. Plain modulo
    * is the shard function because hash functions differ across
    * engines; doc_id is non-negative so Spark's pmod agrees. */
  private def trainFilterLocalOracle(lexicon: Seq[String], epochs: Int,
                                     lr: Double, shards: Int): String = {
    val k = lexicon.size
    val idx = 0 until k
    def margin(wRef: String) =
      s"(${wRef}b" + idx.map(i => s" + $wRef$i * x$i").mkString + ")"
    val featCols = lexicon.zipWithIndex.map { case (term, i) =>
      s"""CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, t -> t = '$term')) AS DOUBLE) / len(tk) ELSE 0.0 END AS x$i"""
    }.mkString(",\n    ")
    val epochCtes = (1 to epochs).map { e =>
      val m = margin("w.w")
      val p = s"(1.0 / (1.0 + exp(-$m)))"
      val grads = idx.map(i =>
        s"SUM(CAST(round(($p - y) * x$i * 1000000.0, 0) AS BIGINT)) AS g$i")
        .mkString(",\n    ") +
        s",\n    SUM(CAST(round(($p - y) * 1000000.0, 0) AS BIGINT)) AS gb"
      val updates = idx.map(i =>
        s"w.w$i - $lr * ((CAST(g.g$i AS DOUBLE) / 1000000.0) / ns.ns) AS w$i")
        .mkString(",\n    ") +
        s",\n    w.wb - $lr * ((CAST(g.gb AS DOUBLE) / 1000000.0) / ns.ns) AS wb"
      s"""g$e AS (
         |  SELECT f.shard, $grads
         |  FROM feat f JOIN w${e - 1} w ON f.shard = w.shard
         |  GROUP BY f.shard),
         |w$e AS (
         |  SELECT w.shard, $updates
         |  FROM w${e - 1} w JOIN g$e g ON w.shard = g.shard
         |  JOIN ns ON w.shard = ns.shard)"""
    }.mkString(",\n")
    val avgCols = (idx.map(i =>
      s"SUM(ns.ns * w.w$i ORDER BY w.shard) / (SELECT n FROM ntot) AS w$i") :+
      s"SUM(ns.ns * w.wb ORDER BY w.shard) / (SELECT n FROM ntot) AS wb")
      .mkString(",\n    ")
    val mFin = margin("wavg.w")
    val weightRows = lexicon.zipWithIndex.map { case (term, i) =>
      s"SELECT '$term' AS feature, round(w$i, 6) AS value FROM wavg"
    }.mkString("\n  UNION ALL ")
    s"""WITH feat AS (
       |  SELECT CAST(doc_id % $shards AS INT) AS shard,
       |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |    $featCols
       |  FROM (SELECT doc_id, $normToks AS tk, lang FROM documents)),
       |ns AS (SELECT shard, COUNT(*) AS ns FROM feat GROUP BY shard),
       |ntot AS (SELECT SUM(ns) AS n FROM ns),
       |w0 AS (SELECT shard, ${idx.map(i => s"0.0 AS w$i").mkString(", ")}, 0.0 AS wb FROM ns),
       |$epochCtes,
       |wavg AS (
       |  SELECT $avgCols
       |  FROM w$epochs w JOIN ns ON w.shard = ns.shard),
       |metrics AS (
       |  SELECT
       |    SUM(CAST(round((CASE WHEN y = 1.0 THEN ln(1.0 + exp(-$mFin))
       |                    ELSE ln(1.0 + exp($mFin)) END) * 1000000.0, 0) AS BIGINT)) AS lq,
       |    SUM(CASE WHEN ($mFin >= 0) = (y = 1.0) THEN 1 ELSE 0 END) AS ok
       |  FROM feat CROSS JOIN wavg)
       |SELECT feature, value FROM (
       |  $weightRows
       |  UNION ALL SELECT '_bias', round(wb, 6) FROM wavg
       |  UNION ALL SELECT '_loss', round(CAST(lq AS DOUBLE) / 1000000.0, 6) FROM metrics
       |  UNION ALL SELECT '_n_correct', CAST(ok AS DOUBLE) FROM metrics
       |  UNION ALL SELECT '_n', CAST(n AS DOUBLE) FROM ntot)
       |ORDER BY feature""".stripMargin
  }

  /** Shared CTE chain for the DSIR oracles: re-derives BOTH smoothed
    * bag models (raw-frequency-capped vocabulary with the Spark side's
    * deterministic count-desc/word-asc cut, whole-corpus totals so OOV
    * mass stays in the denominators), the per-word log ratio, and each
    * document's POSITION-ORDERED ratio sum — `SUM(x ORDER BY o)`
    * mirrors the Spark fold's float order exactly, the same contract
    * as text_unigram_ppl. */
  private val dsirTargetIn = "('src1', 'src2', 'src3')"
  private val dsirAggSql =
    s"""WITH toks AS (SELECT doc_id, $normToks AS tk, source FROM documents),
       |rawtot AS (SELECT CAST(COALESCE(SUM(len(tk)), 0) AS BIGINT) AS nr FROM toks),
       |tgttot AS (SELECT CAST(COALESCE(SUM(len(tk)), 0) AS BIGINT) AS nt
       |  FROM toks WHERE source IN $dsirTargetIn),
       |rawcnt AS (SELECT t AS w, COUNT(*) AS cr
       |  FROM toks, LATERAL (SELECT unnest(tk) AS t)
       |  GROUP BY t ORDER BY cr DESC, w LIMIT 65536),
       |vv AS (SELECT COUNT(*) AS v FROM rawcnt),
       |tgtcnt AS (SELECT t AS w, COUNT(*) AS ct
       |  FROM toks, LATERAL (SELECT unnest(tk) AS t)
       |  WHERE source IN $dsirTargetIn GROUP BY t),
       |lr AS (SELECT r.w,
       |    ln((COALESCE(g.ct, 0) + 0.5) / (tt.nt + 0.5 * (vv.v + 1))) -
       |    ln((r.cr + 0.5) / (rt.nr + 0.5 * (vv.v + 1))) AS lr
       |  FROM rawcnt r LEFT JOIN tgtcnt g USING (w)
       |  CROSS JOIN tgttot tt CROSS JOIN rawtot rt CROSS JOIN vv),
       |oov AS (SELECT ln(0.5 / (tt.nt + 0.5 * (vv.v + 1))) -
       |    ln(0.5 / (rt.nr + 0.5 * (vv.v + 1))) AS x
       |  FROM tgttot tt CROSS JOIN rawtot rt CROSS JOIN vv),
       |pos AS (SELECT doc_id, o, tk[o] AS w
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS o)),
       |scored AS (SELECT p.doc_id, p.o,
       |    CASE WHEN l.w IS NULL THEN oov.x ELSE l.lr END AS x
       |  FROM pos p LEFT JOIN lr l ON l.w = p.w CROSS JOIN oov),
       |agg AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(x ORDER BY o) AS s
       |  FROM scored GROUP BY doc_id)""".stripMargin

  /** Shared oracle for BOTH BM25 forms (`text_bm25`,
    * `text_bm25_indexed`): the indexed form's contract is bit-identical
    * answers to the brute operator, so one SQL re-derivation (ORDERED
    * aggregate — the float-summation contract) hash-verifies both. */
  /** Shared oracle for the change feed AND its streaming relay (the
    * outbox carries exactly the feed's rows by contract): every event
    * class reconstructed from the raw table. */
  private val changeFeedOracleSql =
    """WITH ch AS (
      |  SELECT 'insert' AS change_type, 0 AS commit_version, l_quantity AS q
      |  FROM lineitem WHERE l_orderkey % 3 = 0
      |  UNION ALL SELECT 'insert', 1, l_quantity
      |  FROM lineitem WHERE l_orderkey % 3 = 1
      |  UNION ALL SELECT 'delete', 2, l_quantity
      |  FROM lineitem WHERE l_orderkey IN (42, 43)
      |  UNION ALL SELECT 'delete', 3, l_quantity
      |  FROM lineitem WHERE l_orderkey IN (48, 51)
      |  UNION ALL SELECT 'insert', 3, l_quantity + 100
      |  FROM lineitem WHERE l_orderkey = 48)
      |SELECT change_type, CAST(commit_version AS BIGINT) AS commit_version,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(q AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM ch GROUP BY change_type, commit_version""".stripMargin

  private val bm25OracleSql =
    s"""WITH toks AS (SELECT doc_id, $normToks AS tk FROM documents),
       |stats AS (SELECT COUNT(*) AS n, CAST(SUM(len(tk)) AS DOUBLE) / COUNT(*) AS avgdl FROM toks),
       |tok AS (SELECT doc_id, unnest(tk) AS term FROM toks),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
       |  WHERE term IN ('spark','merge','batch','window','sort','key','hash','table','scan')
       |  GROUP BY 1, 2),
       |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |dl AS (SELECT doc_id, len(tk) AS dl FROM toks),
       |qt AS (SELECT * FROM (VALUES (0,'batch'),(0,'merge'),(0,'spark'),
       |  (1,'key'),(1,'sort'),(1,'window'),
       |  (2,'hash'),(2,'scan'),(2,'table')) AS q(query_id, term)),
       |scored AS (
       |  SELECT q.query_id, tf.doc_id,
       |    SUM(ln(1 + (s.n - dfq.df + 0.5)/(dfq.df + 0.5)) *
       |          (CAST(tf.tf AS DOUBLE) * (1.2 + 1)) /
       |          (CAST(tf.tf AS DOUBLE) + 1.2 * (1 - 0.75 + (0.75 * CAST(dl.dl AS DOUBLE)) / s.avgdl))
       |        ORDER BY q.term) AS score
       |  FROM qt q JOIN tf ON tf.term = q.term
       |    JOIN dfq ON dfq.term = q.term
       |    JOIN dl ON dl.doc_id = tf.doc_id
       |    CROSS JOIN stats s
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank,
       |    round(score, 6) AS score
       |  FROM scored)
       |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, CAST(rank AS INT) AS rank, score
       |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Shared oracle for both approximate top-k paths: exhaustive exact
    * ranking over the planted-copy corpus (see `annCorpus`). `pow(2, m)`
    * is a double power of two, so the oracle's copies are scaled with
    * the same exact fp arithmetic as the Spark side's float scaling. */
  private val annTopKOracle =
    """WITH q AS (SELECT vec_id AS query_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      |  FROM embeddings WHERE vec_id < 5),
      |c AS (
      |  SELECT vec_id AS neighbor_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      |  FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + m * 100000 AS neighbor_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE) * pow(2, m)) AS cv
      |  FROM embeddings CROSS JOIN (VALUES (1), (2), (3), (4), (5)) AS ms(m)
      |  WHERE vec_id < 5),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |    list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos_raw
      |  FROM q, c WHERE neighbor_id <> query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rank,
      |    round(cos_raw, 6) AS cos
      |  FROM scored)
      |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos FROM ranked
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Operator-only twins for `graft.Bench`: the scorecard queries whose
    * `queries` entry executes an EXACT VERIFICATION ANCHOR alongside the
    * operator (the price of making an approximate operator
    * hash-checkable), re-expressed as just the operator subtree. Bench
    * times these separately and reports `op_total_sec` next to the
    * headline total, so the per-operator regression signal isn't
    * conflated with anchor cost (the r5→r6 warm regression was mostly
    * anchors). NOT part of the correctness contract — no oracle; the
    * anchored `queries` entries remain the verified form.
    *
    * Only two entries carry in-query Spark-side anchors:
    * dedup_simhash (exact-dup self-join + full ngramJaccard\@0.9 on top
    * of the simhash pipeline) and q_approx_distinct (exact
    * countDistinct next to the HLL estimate). The other scorecard
    * queries' anchors live in the DuckDB oracle, costing Spark
    * nothing. */
  def operatorTwins: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashCandidates(Dedup.simhash(plantedDocs(s, dir), "doc_id", "text"))
        .where(col("hamming") <= 3)),
    "q_approx_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
          approx_count_distinct(col("l_suppkey"), 0.01).as("approx_supps"))
        .orderBy("l_returnflag")))

  /** Bench-only scale probes (no oracle, not in `queries`): operator
    * configurations whose 100 TB scaling law differs from the scorecard
    * entry's and needs its own measured point.
    *
    * `dedup_semantic_linear` is semanticNearDup at the LINEAR-law knob
    * its scaladoc documents (Dedup.scala): nlist = n / cellSize instead
    * of the auto-√n default, making in-cell pair volume n·cellSize
    * instead of n^1.5 — the configuration a 100 TB dedup run would use.
    * cellSize = 100; training samples ~max(2·nlist·cellSize/n, 50k/n)
    * of the corpus (the trainIvfCentroids 100 TB knob — quality needs a
    * representative sample, not the corpus). */
  def scaleProbes: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_semantic_linear" -> ((s, dir) => {
      val emb = plantedEmbeddings(s, dir)
      val n = math.max(1L, emb.count())
      val nlist = math.max(16L, n / 100L).toInt
      Dedup.semanticNearDup(emb, "vec_id", "embedding", threshold = 0.9,
        nlist = nlist,
        sampleFraction = math.min(1.0, math.max(2.0 * nlist, 5e4) / n))
    }),
    // the simhash OPERATOR alone (the scorecard query's subtree minus
    // its two exact anchors — identical to operatorTwins' entry): at
    // 100× the anchors dominate the scorecard time ~60:1, so the
    // operator's own scale slope needs its own probe name
    "dedup_simhash_op" -> ((s, dir) => operatorTwins("dedup_simhash")(s, dir)),

    // BACKFILL-regime probe: ingestPairs with broadcastProbe = false
    // and the UNCAPPED batch split (1/3 of the whole scaled corpus) —
    // the exact regime the capped dedup_incremental entry documents
    // itself NOT to serve. The probe joins then shuffle BOTH sides on
    // (band, bucket) instead of broadcasting a corpus-sized batch to
    // every executor; results are spec-pinned identical to the
    // broadcast strategy, so this entry exists purely to price the
    // exchange-both-sides plan at scale. Zone-map probe pruning is
    // bypassed by design (a backfill touches every bucket range).
    "dedup_incremental_backfill" -> ((s, dir) => {
      val planted = plantedDocs(s, dir)
      val baseMod = pmod(pmod(col("doc_id"), lit(100000L)), lit(3))
      IncrementalDedup.ingestPairs(planted.where(baseMod === 0), "doc_id", "text",
        incrIndexFor(s, dir), threshold = 0.5, broadcastProbe = false)
    }),

    // round-11 force probes (the bench's count() forcing would
    // column-prune the computed surface of each of these — grouping BY
    // a value derived from it makes the work load-bearing):

    // the expectations GATE alone at scale: annotate + the per-rule
    // counting pass over the corrupted batch, no commits — prices the
    // narrow map a 100 TB gated ingest pays per batch (the committed
    // lake_expect fixture rides the session cache, so its warm number
    // times table reads, not the gate)
    "lake_expect_gate" -> ((s, dir) =>
      graft.lake.Expectations.annotate(expectCorrupt(t(s, dir, "orders")), expectRules)
        .groupBy(concat_ws(",", col("_violations")).as("viol"))
        .agg(count(lit(1)).as("n"))),

    // the dense-grid fill with the forward-fill window load-bearing
    // (ff_sum in the grouping key): grid rows scale with keys × span
    "q_gapfill_force" -> ((s, dir) =>
      graft.ops.EventAnalytics.gapFill(
          graft.streaming.EventsStream.readEvents(s, s"$dir/events.parquet"))
        .groupBy((coalesce(col("ff_sum"), lit(0.0)) > 50.0).as("b"))
        .agg(count(lit(1)).as("n"), sum(col("n_events")).as("ne"))),

    // the full step recurrence load-bearing (depth derives from every
    // t_i): per-user array fold over 10× users
    "q_funnel_force" -> ((s, dir) =>
      graft.ops.EventAnalytics.funnel(
          graft.streaming.EventsStream.readEvents(s, s"$dir/events.parquet"),
          Seq("signup", "view", "click", "purchase"))
        .groupBy("depth").agg(count(lit(1)).as("n"))),

    // Luhn + all four regex classes + the redaction fold load-bearing
    // (every computed column feeds the grouping key); same doc_id-
    // derived planting as the oracle query so both Luhn branches fire
    "text_pii_force" -> ((s, dir) =>
      TextAnalysis.piiScan(
          t(s, dir, "documents").withColumn("text",
            concat(col("text"),
              lit(" pay 4"),
              lpad(pmod(col("doc_id"), lit(100000000)).cast("string"), 8, "0"),
              lpad(pmod(col("doc_id") * 7, lit(1000000)).cast("string"), 6, "0"),
              lit(" or call +1-555-"),
              lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))))
        .groupBy(pmod(length(col("redacted_text")) + col("n_cards") +
          col("n_phones") + col("n_emails") + col("n_ips") +
          col("n_card_candidates"), lit(13)).as("g"))
        .agg(count(lit(1)).as("n"))),

    // substringDup/removeDupSpans end in a row-preserving left join
    // against a per-doc aggregate, and the bench forces queries with
    // count(): Catalyst (correctly) eliminates the provably
    // unique-keyed join and column-prunes the ENTIRE window-hash
    // pipeline, so counting the queries-map entries times a bare
    // document scan (measured: 0.2 s flat from sf0.1 to 100×). A
    // global AGGREGATE doesn't help — its row count is statically 1,
    // and count() collapses that too (measured: same 0.5 s). These
    // probes group BY a value derived from the computed columns: the
    // group count is unknowable without computing every row's value,
    // so count() must execute the full pipeline.
    "dedup_substring_force" -> ((s, dir) =>
      queries("dedup_substring")(s, dir)
        .groupBy(pmod(col("dup_windows") + col("dup_cov_tokens"), lit(16)))
        .count()),
    "dedup_despan_force" -> ((s, dir) =>
      queries("dedup_despan")(s, dir)
        .groupBy(pmod(col("n_removed") + length(col("clean_text")), lit(16)))
        .count()),

    // DSIR scoring pass alone (train rides the cold pass via the model
    // cache): grouped by a value derived from the computed weight so
    // count() must fold every document's token array — the slope under
    // measure is the shuffle-free narrow scan
    "dsir_weights_force" -> ((s, dir) =>
      graft.ops.Dsir.logWeights(t(s, dir, "documents"), dsirModel(s, dir))
        .groupBy(pmod((col("dsir_logw") * 1000).cast("long") + col("n_tokens"),
          lit(16)))
        .count()),

    // steady-state JoinView maintenance cycle: ONE CDC-sized fact
    // append (~1/1009 of the corpus) + ONE dim attribute flip over the
    // same key slice, then a refresh. The fixture build (full create)
    // rides the cold pass via joinViewCache; the warm number is the
    // per-refresh price: V(ΔF,D′) = batch ⋈ dim, V(F,ΔD) = the
    // zone-map-PRUNED fact probe — the claim is a near-flat slope on
    // the key-clustered fact (files-per-key ~ constant by layout)
    "joinview_refresh" -> ((s, dir) => {
      // PRIVATE fixture (see joinViewProbeTable): the probe's commits
      // must not advance the tables lake_join_view's oracle pins
      val mv = joinViewProbeTable(s, dir)
      val base = s"/tmp/graft_jvprobe_${dirTag(dir)}"
      // the batch is CARVED from the clustered snapshots themselves via
      // a pruned key-range read (TPC-H keys are sparse, so ranges — not
      // arithmetic — pick live keys; ~200 wide ≈ a few hundred rows):
      // batch construction is O(boundary files), so the probe's number
      // is the refresh algebra, not a corpus scan carving the batch
      val tick = joinViewProbeTick.getAndIncrement()
      val lo = 1000L + (tick % 47L) * 500L
      val range = col("l_orderkey").between(lo, lo + 200L)
      SnapshotLog.write(
        SnapshotLog.readPruned(s, s"$base/lineitem", "l_orderkey").where(range),
        s"$base/lineitem", "append")
      SnapshotLog.merge(s, s"$base/orders", "o_orderkey",
        SnapshotLog.readPruned(s, s"$base/orders", "o_orderkey")
          .where(col("o_orderkey").between(lo, lo + 200L))
          .withColumn("o_orderstatus", lit("Y")))
      graft.lake.JoinView.refresh(s, mv)
      graft.lake.JoinView.read(s, mv)
    }),

    // steady-state DV lifecycle: deleteByKeys over a rotating pair of
    // REAL keys (footer-stats prune → DV write = O(affected files))
    // followed by purgeDeletes (rewrite = O(dirty files)). On the
    // key-clustered fixture both terms touch boundary files only, so
    // the cycle should stay near-flat while the table grows
    "lake_dv_cycle" -> ((s, dir) => {
      // PRIVATE fixture: (a) the probe's delete/purge commits must not
      // advance the table lake_dv_delete/lake_changes hash against;
      // (b) unlike the 4-file oracle fixture, file COUNT here scales
      // with the corpus (constant bytes/file), so "boundary files" —
      // and with them the purge rewrite — stay constant-sized at any
      // scale. The 4-file fixture made each dirty file 25% of the
      // corpus, turning the cycle O(corpus/4) by construction.
      val table = dvCycleTable(s, dir)
      val ks = dvProbeKeys(s, dir)
      val tick = dvCycleTick.getAndIncrement().toInt
      val pick = Seq(ks((2 * tick + 100) % ks.length), ks((2 * tick + 101) % ks.length))
      SnapshotLog.deleteByKeys(s, table, "l_orderkey", pick)
      SnapshotLog.purgeDeletes(s, table)
      SnapshotLog.history(s, table).limit(1)
    }),

    // steady-state change shipping: append a ~0.1% batch to the relay
    // probe's own table, relay it to the outbox — the number under
    // measure is O(batch rows written once), never a table scan. The
    // seed (1% of the corpus, clustered) and its v0 ship ride the cold
    // pass; disk cost is bounded by construction. The fixture RESEEDS
    // once per session (not per disk state): a /tmp table surviving
    // earlier bench invocations accumulates a version per call, so the
    // warm number silently measured the round's run COUNT — r16 read
    // 0.6→1.0→1.5→2.8 s across four same-code runs purely from log and
    // file accumulation
    "lake_relay_probe" -> ((s, dir) => {
      val base = relayProbeBase.getOrElseUpdate(s, dir) {
        val b = s"/tmp/graft_relayprobe_${dirTag(dir)}"
        val root = new org.apache.hadoop.fs.Path(b)
        root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
        b
      }
      val table = s"$base/t"; val ob = s"$base/outbox"
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
      if (SnapshotLog.currentVersion(s, table) < 0L)
        SnapshotLog.write(li.where(pmod(col("l_orderkey"), lit(101)) === 0),
          table, "overwrite", clusterColumn = Some("l_orderkey"), nFiles = 4)
      // batch carved from the seeded snapshot by a PRUNED key-range
      // read (see joinview_refresh: the probe must not pay a corpus
      // scan just to construct its batch)
      val tick = relayProbeTick.getAndIncrement()
      val lo = 1000L + (tick % 47L) * 2000L
      SnapshotLog.write(
        SnapshotLog.readPruned(s, table, "l_orderkey")
          .where(col("l_orderkey").between(lo, lo + 2000L)),
        table, "append")
      graft.streaming.ChangeRelay.relay(s, table, ob)
      SnapshotLog.history(s, table).limit(1)
    }))

  private val joinViewProbeTick = new java.util.concurrent.atomic.AtomicLong(0L)
  private val dvCycleTick = new java.util.concurrent.atomic.AtomicLong(0L)
  private val relayProbeTick = new java.util.concurrent.atomic.AtomicLong(0L)
  /** One wipe per (session, dir): the relay probe's fixture must not
    * inherit versions from EARLIER bench invocations (see the probe). */
  private val relayProbeBase = new SessionCache[String]

  /** lake_dv_cycle's PRIVATE snapshot table (see the probe note): 2/3
    * of lineitem, key-clustered, file count scaled to the corpus so a
    * 2-key delete's may-contain prune and the follow-up purge touch a
    * ~constant byte volume at any scale. */
  private val dvCycleCache = new SessionCache[String]
  private def dvCycleTable(s: SparkSession, dir: String): String =
    dvCycleCache.getOrElseUpdate(s, dir) {
      val base = s"/tmp/graft_dvcycle_${dirTag(dir)}"
      val root = new org.apache.hadoop.fs.Path(base)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val table = s"$base/lineitem"
      val li = t(s, dir, "lineitem").where(pmod(col("l_orderkey"), lit(3)) < 2)
      val nF = math.max(4L, li.count() / 50000L).toInt
      SnapshotLog.write(li, table, "overwrite",
        clusterColumn = Some("l_orderkey"), nFiles = nF)
      table
    }

  /** Bounded driver-held key pool for the DV-cycle probe: the first
    * 5,000 distinct v0-population orderkeys (TPC-H keys are sparse, so
    * the probe cannot synthesize live keys arithmetically). One
    * TakeOrdered scan, paid on the cold pass via the session cache. */
  private val dvProbeKeysCache = new SessionCache[Array[Long]]
  private def dvProbeKeys(s: SparkSession, dir: String): Array[Long] =
    dvProbeKeysCache.getOrElseUpdate(s, dir) {
      import s.implicits._
      t(s, dir, "lineitem").select("l_orderkey")
        .where(pmod(col("l_orderkey"), lit(3)) === 0)
        .distinct().orderBy("l_orderkey").limit(5000)
        .as[Long].collect()
    }

  def oracleSql: Map[String, String] = Map(
    "lake_point" ->
      """SELECT * FROM lineitem WHERE l_orderkey IN (42, 4242, 9999, 14000)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "lake_sql_pruned" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_orderkey IN (42, 4242, 9999, 14000)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "lake_range" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
        |WHERE l_orderkey IN (42, 4242, 9999, 14000) AND l_shipdate >= TIMESTAMP '1997-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "lake_zorder" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
        |WHERE l_orderkey BETWEEN 4000 AND 4600 AND l_partkey BETWEEN 500 AND 700
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // Z-order OPTIMIZE on the snapshot format: same query, same rows —
    // the clustering rewrite must be a row-content no-op
    "lake_snap_zorder" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
        |WHERE l_orderkey BETWEEN 4000 AND 4600 AND l_partkey BETWEEN 500 AND 700
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "lake_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_orderkey IN (42, 4242, 9999, 14000)
        |ORDER BY l_orderkey, l_linenumber LIMIT 7""".stripMargin,

    "lake_merge" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_orderkey IN (42, 47) THEN l_quantity + 100 ELSE l_quantity END
        |    AS l_quantity
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 40 AND 60 AND l_orderkey NOT IN (43, 50, 4243)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "lake_bloom" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey IN (37, 55) ORDER BY o_orderkey""".stripMargin,

    "lake_delete" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(CASE WHEN l_orderkey IN (42, 47) THEN l_quantity + 100
        |                     ELSE l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_keys
        |FROM lineitem WHERE l_orderkey NOT IN (43, 50, 4243)""".stripMargin,

    "lake_stats" ->
      """SELECT min(l_orderkey) AS l_orderkey_min, max(l_orderkey) AS l_orderkey_max,
        |       min(l_shipdate) AS l_shipdate_min, max(l_shipdate) AS l_shipdate_max
        |FROM lineitem""".stripMargin,

    // layout-independent by construction (see the query comment): two
    // deterministically narrowed bound-holders are unsound, everything
    // else exact — constants given nFiles=24
    "lake_audit" ->
      """SELECT col_name, verdict, CAST(n_files AS BIGINT) AS n_files FROM (VALUES
        |  ('l_orderkey', 'exact', 22),
        |  ('l_orderkey', 'under_covering', 2),
        |  ('l_shipdate', 'exact', 24)) AS t(col_name, verdict, n_files)
        |ORDER BY col_name, verdict""".stripMargin,

    "lake_stats_footer" ->
      """SELECT min(l_orderkey) AS l_orderkey_min, max(l_orderkey) AS l_orderkey_max,
        |       min(l_shipdate) AS l_shipdate_min, max(l_shipdate) AS l_shipdate_max
        |FROM lineitem""".stripMargin,

    // version 1 = thirds 0 and 1 of lineitem, whatever later commits did
    "lake_timetravel" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 3 < 2
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // pure-SQL time travel reads the same v1 = thirds 0+1
    "lake_sql_timetravel" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 3 < 2
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // head after rollback(1) = the same thirds 0+1 population
    "lake_rollback" ->
      """SELECT COUNT(*) AS n_rows, COUNT(DISTINCT l_orderkey) AS n_keys,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_orderkey % 3 < 2""".stripMargin,

    // identical semantics to lake_merge: upserted keys read +100,
    // deleted keys gone, everything else untouched
    "lake_snap_merge" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_orderkey IN (42, 47) THEN l_quantity + 100 ELSE l_quantity END
        |    AS l_quantity
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 40 AND 60 AND l_orderkey NOT IN (43, 50, 4243)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // the four-commit log is pinned by construction (see snapshotTable)
    "lake_history" ->
      """SELECT CAST(version AS BIGINT) AS version, op,
        |  CAST(rollback_of AS BIGINT) AS rollback_of
        |FROM (VALUES (0, 'overwrite', NULL), (1, 'append', NULL),
        |             (2, 'overwrite', NULL), (3, 'rollback', 1))
        |  AS t(version, op, rollback_of)
        |ORDER BY version""".stripMargin,

    "lake_agg_pushdown" ->
      """SELECT COUNT(*) AS n_rows, MIN(l_orderkey) AS min_v, MAX(l_orderkey) AS max_v
        |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 40000""".stripMargin,

    // head = rollback-to-v1 state = thirds 0+1, and each third's
    // first-adder is its own commit — so provenance IS the modulus
    "lake_lineage" ->
      """SELECT l_orderkey % 3 AS commit_version, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 3 < 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the published state = full lineitem with the branch's delete and
    // merge applied; the tag must resolve to exactly this population
    "lake_wap" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(CASE WHEN l_orderkey = 49 THEN l_quantity + 200
        |                     ELSE l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  TRUE AS head_is_tag
        |FROM lineitem WHERE l_orderkey NOT IN (44, 45)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // replays the planted corruption + every expectation rule from the
    // raw table: NULL predicate = violation, drop-mode rules define the
    // split, the warn rule counts on both sides of it
    "lake_expect" ->
      """WITH c AS (SELECT
        |    CASE WHEN o_orderkey % 97 = 0 THEN -o_totalprice
        |         ELSE o_totalprice END AS price,
        |    CASE WHEN o_orderkey % 101 = 0 THEN NULL
        |         ELSE o_orderstatus END AS status,
        |    CAST(o_orderdate AS TIMESTAMP) AS odate
        |  FROM orders),
        |v AS (SELECT *,
        |    NOT COALESCE(price > 0, FALSE) AS v_price,
        |    NOT COALESCE(status IN ('O', 'F', 'P'), FALSE) AS v_status,
        |    NOT COALESCE(odate >= TIMESTAMP '1996-01-01', FALSE) AS v_warn,
        |    (NOT COALESCE(price > 0, FALSE))
        |      OR (NOT COALESCE(status IN ('O', 'F', 'P'), FALSE)) AS dropped
        |  FROM c)
        |SELECT * FROM (
        |  SELECT 'clean' AS kind, COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM v WHERE NOT dropped
        |  UNION ALL
        |  SELECT 'quarantined', COUNT(*),
        |    CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM v WHERE dropped
        |  UNION ALL
        |  SELECT 'viol:positive_price', COUNT(*), CAST(NULL AS DOUBLE)
        |  FROM v WHERE dropped AND v_price HAVING COUNT(*) > 0
        |  UNION ALL
        |  SELECT 'viol:known_status', COUNT(*), CAST(NULL AS DOUBLE)
        |  FROM v WHERE dropped AND v_status HAVING COUNT(*) > 0
        |  UNION ALL
        |  SELECT 'viol:modern_order', COUNT(*), CAST(NULL AS DOUBLE)
        |  FROM v WHERE dropped AND v_warn HAVING COUNT(*) > 0
        |  UNION ALL
        |  SELECT 'warn:modern_order', COUNT(*), CAST(NULL AS DOUBLE)
        |  FROM v WHERE NOT dropped AND v_warn)
        |ORDER BY kind""".stripMargin,

    // v2 = thirds 0+1 minus the DV-deleted keys; the v3 merge must NOT
    // bleed into the pinned version
    "lake_dv_delete" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey % 3 < 2 AND l_orderkey NOT IN (42, 43)
        |GROUP BY l_returnflag""".stripMargin,

    // the maintained join view must equal this from-scratch
    // join+aggregate over the head populations (fact thirds 0+1 minus
    // 42/43; dim with %100 keys migrated to 'X'); l_quantity is
    // integral-valued so the double sums are exact on both engines
    "lake_join_view" ->
      """SELECT CASE WHEN o_orderkey % 100 = 0 THEN 'X'
        |            ELSE o_orderstatus END AS o_orderstatus,
        |  COUNT(*) AS n_rows, SUM(l_quantity) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_orderkey % 3 < 2 AND l_orderkey NOT IN (42, 43)
        |GROUP BY 1""".stripMargin,

    // the MIN/MAX join view vs from-scratch: population = fact thirds
    // 0+1 minus the two orderkeys with the highest per-key max
    // extendedprice (the fixture's delete-batch derivation), joined to
    // the migrated dim; min/max must survive the retraction rescan
    "lake_join_view_mm" ->
      """WITH pop AS (SELECT * FROM lineitem WHERE l_orderkey % 3 < 2),
        |top2 AS (SELECT l_orderkey FROM (
        |  SELECT l_orderkey, max(l_extendedprice) AS _mp FROM pop
        |  GROUP BY l_orderkey ORDER BY _mp DESC, l_orderkey ASC LIMIT 2)),
        |pop2 AS (SELECT * FROM pop
        |  WHERE l_orderkey NOT IN (SELECT l_orderkey FROM top2))
        |SELECT CASE WHEN o_orderkey % 100 = 0 THEN 'X'
        |            ELSE o_orderstatus END AS o_orderstatus,
        |  COUNT(*) AS n_rows, SUM(l_quantity) AS sum_qty,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price
        |FROM pop2 JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    // SQL over the DV-carrying v2: identical population to
    // lake_dv_delete — the vectors hide 42/43, the v3 merge is invisible
    "lake_sql_dv" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey % 3 < 2 AND l_orderkey NOT IN (42, 43)
        |GROUP BY l_returnflag""".stripMargin,

    // the SQL-DML-built table: v0 thirds-0 + INSERT INTO third-1 +
    // DELETE FROM 42/43 + UPDATE key 48 (+100) + MERGE (45 +1000, 51 out)
    "lake_sql_dml" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(CASE WHEN l_orderkey = 48 THEN l_quantity + 100
        |                     WHEN l_orderkey = 45 THEN l_quantity + 1000
        |                     ELSE l_quantity END AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey % 3 < 2 AND l_orderkey NOT IN (42, 43, 51)
        |GROUP BY l_returnflag""".stripMargin,

    // UPDATE and MERGE pinned row by row around the touched keys
    "lake_sql_update" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_orderkey = 48 THEN l_quantity + 100
        |       WHEN l_orderkey = 45 THEN l_quantity + 1000
        |       ELSE l_quantity END AS l_quantity
        |FROM lineitem
        |WHERE l_orderkey % 3 < 2 AND l_orderkey NOT IN (42, 43, 51)
        |  AND l_orderkey BETWEEN 40 AND 60
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // one snapshot commit per SQL statement — the VALUES rows are
    // GENERATED from sqlDmlStatements (the list the fixture executes),
    // so the oracle restates itself when the statement sequence changes
    "lake_sql_merge" ->
      s"""SELECT CAST(version AS BIGINT) AS version, op
         |FROM (VALUES ${sqlDmlExpectedOps.map { case (v, op) => s"($v, '$op')" }
              .mkString(", ")}) AS t(version, op)
         |ORDER BY version""".stripMargin,

    // post-purge head = the v3 population re-derived from raw lineitem
    // (delete 42/43, merge: 51 out, 48 at +100) and, by the purge
    // contract, ZERO files still carrying vectors
    "lake_dv_purge" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(CASE WHEN l_orderkey = 48 THEN l_quantity + 100
        |                    ELSE l_quantity END AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty,
        |  CAST(0 AS BIGINT) AS n_dirty_files
        |FROM lineitem
        |WHERE l_orderkey % 3 < 2 AND l_orderkey NOT IN (42, 43, 51)
        |GROUP BY l_returnflag""".stripMargin,

    // every change event, reconstructed from the raw table: v0/v1
    // creation+append inserts, v2's DV-dead rows, v3's merge diff
    // (old key-48 rows + key-51 rows out, key-48 rows at +100 in)
    "lake_changes" -> changeFeedOracleSql,

    // the relay's outbox carries EXACTLY the feed (and the purge ships
    // as an empty marker), so the shipped bytes share the feed oracle
    "lake_changes_relay" -> changeFeedOracleSql,

    // the incrementally-maintained view must equal this from-scratch
    // aggregate over the HEAD population (post delete + merge)
    "lake_incr_agg" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN l_orderkey = 48 THEN l_quantity + 100
        |               ELSE l_quantity END) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey % 3 < 2 AND l_orderkey NOT IN (42, 43, 51)
        |GROUP BY l_returnflag""".stripMargin,

    // after auto-purge: post-delete population, zero dirty files
    "lake_maintain" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(0 AS BIGINT) AS n_dirty_files
        |FROM lineitem
        |WHERE l_orderkey % 3 = 0 AND l_orderkey NOT IN (42, 45)""".stripMargin,

    // min/max view vs from-scratch: population = thirds 0+1 minus the
    // two orderkeys with the highest per-key max extendedprice (the
    // same derivation the fixture used to pick its delete batch)
    "lake_incr_minmax" ->
      """WITH pop AS (SELECT * FROM lineitem WHERE l_orderkey % 3 < 2),
        |top2 AS (SELECT l_orderkey FROM (
        |  SELECT l_orderkey, max(l_extendedprice) AS _mp FROM pop
        |  GROUP BY l_orderkey ORDER BY _mp DESC, l_orderkey ASC LIMIT 2))
        |SELECT l_returnflag, COUNT(*) AS n_rows,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price,
        |  CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*) AS avg_qty
        |FROM pop WHERE l_orderkey NOT IN (SELECT l_orderkey FROM top2)
        |GROUP BY l_returnflag""".stripMargin,

    // the folded scalar subquery, re-derived by the oracle itself: key
    // 54's l_tax = max(l_tax) over the INSERTed third (51 stays dead)
    "lake_sql_subq" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_orderkey = 54 THEN
        |    (SELECT max(l_tax) FROM lineitem WHERE l_orderkey % 3 = 1)
        |  ELSE l_tax END AS l_tax
        |FROM lineitem
        |WHERE l_orderkey % 3 < 2 AND l_orderkey NOT IN (42, 43, 51)
        |  AND l_orderkey BETWEEN 50 AND 60
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // the correlated subquery re-derived by the oracle itself (DuckDB
    // evaluates the same correlated aggregate, NULL on empty groups)
    "lake_sql_subq_corr" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_orderkey BETWEEN 50 AND 400 THEN
        |    (SELECT CAST(max(o.o_totalprice) AS DOUBLE) FROM orders o
        |     WHERE o.o_orderkey = l_orderkey AND o.o_orderpriority = '1-URGENT')
        |  ELSE l_tax END AS l_tax
        |FROM lineitem
        |WHERE l_orderkey % 3 = 2 AND l_orderkey BETWEEN 30 AND 450
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // SQL CTAS + ALTER + INSERT = the same population as the API
    // mergeSchema evolution: NULL branch for pre-evolution rows
    "lake_sql_evolve" ->
      """SELECT prio_class, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM (
        |  SELECT NULL AS prio_class, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT substring(o_orderpriority, 1, 1), o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 1)
        |GROUP BY prio_class""".stripMargin,

    // after CALL compact + DELETE FROM + CALL maintain: the same
    // population algebra as lake_maintain, arrived at purely in SQL
    "lake_sql_call" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey % 3 = 0 AND l_orderkey NOT IN (42, 45)
        |GROUP BY l_returnflag""".stripMargin,

    // the manifest-served aggregate must equal the scan's own answer
    // over the same population
    "lake_sql_agg_push" ->
      """SELECT COUNT(*) AS n_rows, COUNT(l_returnflag) AS n_flags,
        |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
        |  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
        |  TRUE AS manifest_served
        |FROM lineitem
        |WHERE l_orderkey % 3 = 0 AND l_orderkey NOT IN (42, 45)""".stripMargin,

    // the footer-served filtered aggregate must equal the plain
    // filtered aggregate over the same population, bounds re-derived
    // by the same p10/p90 integer arithmetic (DuckDB // floors like
    // Scala / truncates — both positive here)
    "lake_sql_agg_filtered" ->
      """WITH pop AS (SELECT * FROM lineitem
        |  WHERE l_orderkey % 3 = 0 AND l_orderkey NOT IN (42, 45)),
        |b AS (SELECT min(l_orderkey) + (max(l_orderkey) - min(l_orderkey)) // 10 AS lo,
        |             max(l_orderkey) - (max(l_orderkey) - min(l_orderkey)) // 10 AS hi
        |      FROM pop)
        |SELECT count(*) AS n_rows, count(l_returnflag) AS n_flags,
        |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
        |  TRUE AS footer_covered
        |FROM pop, b
        |WHERE l_orderkey BETWEEN b.lo AND b.hi""".stripMargin,

    // the footer-served GROUP BY rollup must equal the plain rollup
    // over the full population (the fixture holds all of lineitem,
    // one l_linenumber value per file)
    "lake_sql_agg_group" ->
      """SELECT l_linenumber, count(*) AS n_rows,
        |  count(l_returnflag) AS n_flags,
        |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
        |  TRUE AS footer_covered
        |FROM lineitem
        |GROUP BY l_linenumber""".stripMargin,

    // the windowed footer rollup must equal the plain filtered rollup
    "lake_sql_agg_group_w" ->
      """SELECT l_linenumber, count(*) AS n_rows,
        |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
        |  TRUE AS footer_covered
        |FROM lineitem
        |WHERE l_linenumber BETWEEN 2 AND 5
        |GROUP BY l_linenumber""".stripMargin,

    // the sidecar-served filtered SUM/AVG must equal the plain
    // filtered aggregate over the full table, bounds re-derived by the
    // same p10/p90 integer arithmetic (both positive: // = /)
    "lake_sql_agg_sum" ->
      """WITH b AS (SELECT min(l_orderkey) + (max(l_orderkey) - min(l_orderkey)) // 10 AS lo,
        |             max(l_orderkey) - (max(l_orderkey) - min(l_orderkey)) // 10 AS hi
        |      FROM lineitem)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(l_suppkey) AS BIGINT) AS sum_sup,
        |  CAST(avg(l_suppkey) AS DOUBLE) AS avg_sup,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_key,
        |  TRUE AS footer_covered
        |FROM lineitem, b
        |WHERE l_orderkey BETWEEN b.lo AND b.hi""".stripMargin,

    // the unfiltered sidecar total must equal the plain aggregate
    "lake_sql_agg_sum_all" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(l_suppkey) AS BIGINT) AS sum_sup,
        |  CAST(avg(l_suppkey) AS DOUBLE) AS avg_sup,
        |  min(l_orderkey) AS min_key,
        |  TRUE AS footer_covered
        |FROM lineitem""".stripMargin,

    // the sidecar-served grouped SUM/AVG must equal the plain rollup
    // (the fixture holds all of lineitem, one l_linenumber per file)
    "lake_sql_agg_group_sum" ->
      """SELECT l_linenumber, count(*) AS n_rows,
        |  CAST(sum(l_suppkey) AS BIGINT) AS sum_sup,
        |  CAST(avg(l_suppkey) AS DOUBLE) AS avg_sup,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_key,
        |  TRUE AS footer_covered
        |FROM lineitem
        |GROUP BY l_linenumber""".stripMargin,

    // the DV-version unfiltered aggregate must equal the plain
    // aggregate over the live population (thirds minus the two
    // DV-deleted keys) — dead rows excluded by the scan side
    "lake_sql_agg_dv" ->
      """SELECT count(*) AS n_rows, count(l_returnflag) AS n_flags,
        |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
        |  TRUE AS footer_covered
        |FROM lineitem
        |WHERE l_orderkey % 3 = 0 AND l_orderkey NOT IN (42, 45)""".stripMargin,

    // the IN-list footer-served aggregate must equal the plain
    // filtered aggregate over the same rows (the fixture holds the
    // full lineitem population, one l_linenumber value per file)
    "lake_sql_agg_in" ->
      """SELECT count(*) AS n_rows, count(l_returnflag) AS n_flags,
        |  min(l_linenumber) AS min_ln, max(l_linenumber) AS max_ln,
        |  TRUE AS footer_covered
        |FROM lineitem
        |WHERE l_linenumber IN (1, 3, 5)""".stripMargin,

    // CTAS through the declared-layout write path: same rows as the
    // raw table, and the layout claim holds (files_disjoint TRUE)
    "lake_sql_cluster_write" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  TRUE AS files_disjoint
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 100 AND 700
        |GROUP BY l_returnflag""".stripMargin,

    // runtime-pruned broadcast join = the plain join, row for row
    "lake_sql_dfp" ->
      """SELECT l.l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT' AND o.o_orderkey < 500
        |GROUP BY l.l_returnflag""".stripMargin,

    // the streamed population = the source population, row for row
    "lake_sql_stream_write" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey % 3 = 2
        |GROUP BY l_returnflag""".stripMargin,

    // bin-pack: base population + crumbs 1,3,4,6 (2 and 5 DV-deleted,
    // folded by the rewrite); the big-file-untouched claim rides as a
    // pinned TRUE
    "lake_compact_bin" ->
      """WITH pop AS (SELECT * FROM lineitem WHERE l_orderkey % 3 = 0),
        |crumbs AS (SELECT l_quantity,
        |  row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn FROM pop)
        |SELECT (SELECT count(*) FROM pop) + 4 AS n_rows,
        |  CAST((SELECT SUM(CAST(l_quantity AS DECIMAL(18,2))) FROM pop)
        |    + (SELECT SUM(CAST(l_quantity AS DECIMAL(18,2))) FROM crumbs
        |       WHERE rn IN (1,3,4,6)) AS DOUBLE) AS sum_qty,
        |  CAST(4 AS BIGINT) AS n_crumbs,
        |  TRUE AS big_untouched""".stripMargin,

    // the bloom-pruned point lookup = the same uid predicate over raw
    // lineitem (identical arithmetic, so even a uid collision matches)
    "lake_sql_bloom" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, TRUE AS bloom_pruned
        |FROM lineitem
        |WHERE (l_orderkey * 2654435761) % 1000000000 + l_linenumber IN (
        |  (1 * 2654435761) % 1000000000 + 1,
        |  (7 * 2654435761) % 1000000000 + 1)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // head after evolution = even keys with NULL prio_class ∪ odd keys
    // with the derived column
    "lake_schema_evo" ->
      """SELECT prio_class, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM (
        |  SELECT NULL AS prio_class, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT substring(o_orderpriority, 1, 1), o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 1)
        |GROUP BY prio_class""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_topk" ->
      """SELECT l_orderkey, o_orderdate,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,

    "q_join_dims" ->
      """SELECT r_name, COUNT(*) AS n_suppliers,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_window" ->
      """SELECT o_custkey, o_orderkey, order_rank, running_spend FROM (
        |  SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS order_rank,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |      PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |  FROM orders) WHERE order_rank <= 3
        |ORDER BY o_custkey, order_rank""".stripMargin,

    "q_sort_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "q_setops" ->
      """SELECT k FROM (
        |  SELECT k FROM (
        |    SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |    INTERSECT SELECT o_custkey AS k FROM orders)
        |  UNION
        |  SELECT k FROM (
        |    SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'MACHINERY'
        |    EXCEPT SELECT o_custkey AS k FROM orders))
        |ORDER BY k""".stripMargin,

    "q_setops_all" ->
      """WITH a AS (SELECT l_suppkey AS k FROM lineitem),
        |b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'),
        |i AS (SELECT k, COUNT(*) AS n_inter FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k),
        |e AS (SELECT k, COUNT(*) AS n_except FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY k)
        |SELECT COALESCE(i.k, e.k) AS k,
        |  COALESCE(n_inter, 0) AS n_inter,
        |  COALESCE(n_except, 0) AS n_except
        |FROM i FULL OUTER JOIN e ON i.k = e.k
        |ORDER BY k""".stripMargin,

    "q_scalar_fns" ->
      """SELECT p_partkey, upper(p_brand) AS brand_upper,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  substring(p_type, 1, 5) AS type_prefix,
        |  regexp_extract(p_name, '(\w+)$', 1) AS last_word,
        |  CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 1.1 AS DOUBLE) AS marked_up,
        |  CAST(p_size % 7 AS BIGINT) AS size_mod,
        |  concat_ws('-', p_brand, p_type) AS brand_type
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_conditional_agg" ->
      """SELECT l_returnflag,
        |  COUNT(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
        |  COUNT(*) FILTER (WHERE l_discount >= 0.05) AS n_discounted,
        |  CAST(SUM(CASE WHEN l_quantity > 25 THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |    ELSE CAST(0.0 AS DECIMAL(18,2)) END) AS DOUBLE) AS bulk_revenue
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_string_fns" ->
      """SELECT s_suppkey,
        |  lpad(s_name, 30, '*') AS padded,
        |  reverse(s_name) AS reversed,
        |  regexp_replace(s_name, '[aeiou]', '_', 'g') AS devoweled,
        |  split_part(s_name, '#', 1) AS prefix,
        |  CAST(length(s_name) - length(replace(s_name, 'e', '')) AS BIGINT) AS n_e
        |FROM supplier ORDER BY s_suppkey""".stripMargin,

    "q_math_fns" ->
      """SELECT p_partkey,
        |  CAST(abs(p_size - 25) AS BIGINT) AS dist25,
        |  CAST(ceil(p_retailprice / 100) AS BIGINT) AS price_bucket,
        |  round(sqrt(CAST(p_size AS DOUBLE)), 6) AS sqrt_size,
        |  round(power(1.07, CAST(p_size AS DOUBLE)), 6) AS compound,
        |  round(ln(p_retailprice), 6) AS ln_price
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_date_fns" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS month_total
        |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin,

    "q_json" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(regexp_extract(props, '"k": *(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(regexp_extract(props, '"k": *(\d+)', 1) AS BIGINT)) AS min_k,
        |  MAX(CAST(regexp_extract(props, '"k": *(\d+)', 1) AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_events_hourly" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    "q_lateral" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin,

    "q_geo_mean" ->
      """SELECT l_returnflag,
        |  round(exp(avg(CASE WHEN l_quantity > 0 THEN ln(l_quantity) END)), 6) AS gm_qty,
        |  round(exp(avg(CASE WHEN l_extendedprice > 0 THEN ln(l_extendedprice) END)), 6) AS gm_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    "q_window_range" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
        |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |  AS DOUBLE) AS trailing_1h
        |FROM events ORDER BY event_id""".stripMargin,

    "q_interval_join" ->
      """WITH v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts, event_id AS view_id
        |  FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts, event_id AS click_id
        |  FROM events WHERE event_type = 'click')
        |SELECT v.user_id, view_id, click_id, view_ts, click_ts
        |FROM v JOIN c ON v.user_id = c.user_id
        |  AND click_ts >= view_ts AND click_ts < view_ts + INTERVAL 10 MINUTE
        |ORDER BY view_id, click_id""".stripMargin,

    "q_full_outer" ->
      """SELECT c_custkey, o_custkey, c_name, n_orders
        |FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 750) c
        |FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS n_orders
        |  FROM orders WHERE o_custkey >= 250 GROUP BY 1) o
        |ON c_custkey = o_custkey
        |ORDER BY COALESCE(c_custkey, o_custkey)""".stripMargin,

    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
        |      OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP))),
        |s AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM g)
        |SELECT user_id, session_seq, COUNT(*) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,

    // session_window boundary semantics: an event extends a session iff
    // its gap from the previous event is STRICTLY under 30 min (Spark:
    // ts < prev_end where prev_end = prev_ts + gap), hence >= 1800 here
    // vs > 1800 in q_sessionize's window-function formulation.
    "q_session_window" ->
      """WITH g AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
        |      OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w) >= 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP))),
        |s AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM g)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start""".stripMargin,

    "q_gapfill" ->
      """WITH cells AS (
        |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        |    COUNT(*) AS n_events, SUM(CAST(value AS DECIMAL(18,2))) AS hsum
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT min(hour) AS lo, max(hour) AS hi FROM cells),
        |cal AS (
        |  SELECT u.user_id, g.hour
        |  FROM (SELECT DISTINCT user_id FROM cells) u,
        |       (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
        |        FROM span) g)
        |SELECT c.user_id, c.hour,
        |  COALESCE(n_events, 0) AS n_events,
        |  CAST(hsum AS DOUBLE) AS hour_sum,
        |  CAST(last_value(hsum IGNORE NULLS) OVER (
        |    PARTITION BY c.user_id ORDER BY c.hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS ff_sum
        |FROM cal c LEFT JOIN cells e ON c.user_id = e.user_id AND c.hour = e.hour
        |ORDER BY c.user_id, c.hour""".stripMargin,

    // the sequential first-after-previous recurrence as chained CTEs:
    // step k's min(ts) joins step k-1's result, every step bounded by
    // t_1 + horizon — semantics identical to the array fold
    "q_funnel" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t_1 FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT user_id, min(ts) AS t_2 FROM e JOIN s1 USING (user_id)
        |  WHERE event_type = 'view' AND ts > t_1
        |    AND ts <= t_1 + INTERVAL 7 DAY GROUP BY 1),
        |s3 AS (SELECT user_id, min(ts) AS t_3
        |  FROM e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
        |  WHERE event_type = 'click' AND ts > t_2
        |    AND ts <= t_1 + INTERVAL 7 DAY GROUP BY 1),
        |s4 AS (SELECT user_id, min(ts) AS t_4
        |  FROM e JOIN s1 USING (user_id) JOIN s3 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t_3
        |    AND ts <= t_1 + INTERVAL 7 DAY GROUP BY 1)
        |SELECT user_id, t_1, t_2, t_3, t_4,
        |  CAST(1 + CAST(t_2 IS NOT NULL AS INT) + CAST(t_3 IS NOT NULL AS INT)
        |    + CAST(t_4 IS NOT NULL AS INT) AS BIGINT) AS depth
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |  LEFT JOIN s4 USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "q_retention" ->
      """WITH w AS (SELECT user_id,
        |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week
        |  FROM events),
        |f AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, week FROM w),
        |g AS (SELECT cohort_week,
        |    CAST(datediff('day', cohort_week, week) // 7 AS BIGINT) AS week_offset,
        |    COUNT(DISTINCT user_id) AS n_active
        |  FROM a JOIN f USING (user_id) GROUP BY 1, 2),
        |s AS (SELECT cohort_week, COUNT(*) AS n_cohort FROM f GROUP BY 1)
        |SELECT cohort_week, week_offset, n_active, n_cohort,
        |  CAST(n_active * 1000000 // n_cohort AS BIGINT) AS retention_ppm
        |FROM g JOIN s USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,

    "q_rollup" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,

    "q_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
        |  COUNT(DISTINCT l_partkey) AS n_part, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_range_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_quick_ships,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_window_lag" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) -
        |    coalesce(CAST(lag(o_totalprice, 1) OVER w AS DECIMAL(18,2)), 0) AS DOUBLE) AS delta_prev
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_scalar_subquery" ->
      """SELECT p_partkey, p_name, p_retailprice
        |FROM part
        |WHERE p_retailprice > 1.5 * (SELECT avg(p_retailprice) FROM part)
        |ORDER BY p_partkey""".stripMargin,

    "q_union_by_name" ->
      """SELECT id, name, segment, coalesce(src, 'customer') AS src FROM (
        |  SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment,
        |    CAST(NULL AS VARCHAR) AS src
        |  FROM customer
        |  UNION ALL BY NAME
        |  SELECT s_name AS name, s_suppkey AS id,
        |    CAST(NULL AS VARCHAR) AS segment, 'supplier' AS src
        |  FROM supplier)
        |ORDER BY src, id""".stripMargin,

    "q_bool_bit_agg" ->
      """SELECT l_returnflag,
        |  bool_and(l_quantity > 0) AS all_positive,
        |  bool_or(l_discount > 0.09) AS any_deep_discount,
        |  count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
        |  CAST(bit_and(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS ln_and,
        |  CAST(bit_or(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS ln_or,
        |  CAST(bit_xor(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS ln_xor
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_window_frames" ->
      """SELECT o_custkey, o_orderkey,
        |  round(avg(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS avg3,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_left_join_nulls" ->
      """WITH spend AS (
        |  SELECT o_custkey AS c_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |  FROM orders GROUP BY 1)
        |SELECT c.c_custkey,
        |  coalesce(s.spend, 0.0) AS spend0,
        |  s.spend IS NULL AS never_ordered,
        |  s.spend IS NOT DISTINCT FROM CAST(NULL AS DOUBLE) AS spend_is_null_safe,
        |  nullif(c.c_mktsegment, 'BUILDING') AS seg_or_null
        |FROM customer c LEFT JOIN spend s USING (c_custkey)
        |ORDER BY c.c_custkey""".stripMargin,

    "q_skew_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_bucket_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_pivot" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) AS "1-URGENT",
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderpriority = '2-HIGH') AS DOUBLE) AS "2-HIGH",
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS DOUBLE) AS "3-MEDIUM",
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS DOUBLE) AS "4-NOT SPECIFIED",
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderpriority = '5-LOW') AS DOUBLE) AS "5-LOW"
        |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    // `//` not CAST(x/12): DuckDB's cast-of-division ROUNDS where
    // Spark's DIV truncates
    "q_recursive_cte" ->
      """WITH RECURSIVE months(ym, mx) AS (
        |  SELECT CAST(YEAR(MIN(o_orderdate))*12 + MONTH(MIN(o_orderdate)) - 1 AS INT),
        |         CAST(YEAR(MAX(o_orderdate))*12 + MONTH(MAX(o_orderdate)) - 1 AS INT)
        |  FROM orders
        |  UNION ALL
        |  SELECT ym + 1, mx FROM months WHERE ym < mx
        |)
        |SELECT CAST(ym // 12 AS BIGINT) AS yr, CAST(ym % 12 + 1 AS BIGINT) AS mon,
        |  COUNT(o_orderkey) AS n_orders,
        |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_price
        |FROM months LEFT JOIN orders
        |  ON YEAR(o_orderdate)*12 + MONTH(o_orderdate) - 1 = ym
        |GROUP BY ym ORDER BY yr, mon""".stripMargin,

    "q_exists_subquery" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "q_in_subquery" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_nationkey IN (SELECT n_nationkey FROM nation
        |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE')
        |ORDER BY s_suppkey""".stripMargin,

    "q_stats_agg" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  round(avg(o_totalprice), 4) AS avg_price,
        |  round(stddev_samp(o_totalprice), 4) AS sd_price,
        |  round(median(o_totalprice), 4) AS med_price,
        |  min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_approx_percentile" ->
      """SELECT o_orderpriority,
        |  quantile_disc(o_totalprice, 0.5) AS p50,
        |  quantile_disc(o_totalprice, 0.95) AS p95,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    // exact distinct counts hash-checked; the HLL estimate's relative
    // error is asserted via booleans the oracle expects TRUE.
    // the error-bound booleans are COMPUTED on both sides — Spark checks
    // ITS HyperLogLog estimate against its exact counts, DuckDB checks
    // its own HLL against its own exact counts. The estimates differ
    // (different sketches); the 5% bound both must clear is the
    // portable claim, so the hash verifies a real assertion about an
    // estimate on each engine instead of pinning a literal TRUE.
    "q_approx_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  COUNT(DISTINCT l_suppkey) AS exact_supps,
        |  abs(approx_count_distinct(l_partkey) - COUNT(DISTINCT l_partkey))
        |    / CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) < 0.05 AS parts_err_lt_5pct,
        |  abs(approx_count_distinct(l_suppkey) - COUNT(DISTINCT l_suppkey))
        |    / CAST(COUNT(DISTINCT l_suppkey) AS DOUBLE) < 0.05 AS supps_err_lt_5pct
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    "q_percentiles" ->
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
        |  round(quantile_cont(o_totalprice, 0.95), 4) AS p95
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_corr" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope_pq,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept_pq
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(FLOOR(o_totalprice / 30000.0) AS BIGINT) AS bucket,
        |  COUNT(*) AS n,
        |  round(MIN(o_totalprice), 2) AS lo,
        |  round(MAX(o_totalprice), 2) AS hi
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_array_fns" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
        |  round(CAST(list_aggregate(embedding, 'min') AS DOUBLE), 6) AS min_val,
        |  round(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS max_val
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q_string_agg" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  array_to_string(list_sort(list(DISTINCT source)), ',') AS sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_asof_join" ->
      """WITH c AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts, value AS purchase_value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts, p.purchase_ts, p.purchase_value
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts >= p.purchase_ts
        |ORDER BY c.event_id""".stripMargin,

    "dedup_exact" ->
      s"""WITH planted AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents)
         |SELECT md5(array_to_string($normToks, ' ')) AS content_md5,
         |  MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
         |FROM planted GROUP BY 1 ORDER BY keep_id""".stripMargin,

    "dedup_exact_cols" ->
      """SELECT MIN(doc_id) AS doc_id, lang, source FROM documents
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    // full from-scratch rebuild of the line-dedup result: re-line into
    // 8-token lines + the injected footer, count distinct docs per
    // line, drop lines with >= 2, md5 the rejoined text
    "dedup_lines" ->
      s"""WITH toks AS (SELECT doc_id, $normToks AS tk FROM documents),
         |nums AS (SELECT doc_id, tk, CAST(ceil(len(tk)/8.0) AS BIGINT) AS nl FROM toks),
         |lines0 AS (
         |  SELECT doc_id, i, array_to_string(tk[8*i+1 : 8*i+8], ' ') AS line
         |  FROM nums, LATERAL (SELECT unnest(range(0, nl)) AS i)),
         |lines1 AS (
         |  SELECT doc_id, i, line FROM lines0
         |  UNION ALL
         |  SELECT doc_id, 1000000000 AS i, 'shared boilerplate footer line' AS line
         |  FROM toks WHERE doc_id % 3 = 0),
         |freq AS (SELECT line, COUNT(DISTINCT doc_id) AS nd FROM lines1 GROUP BY line),
         |flags AS (
         |  SELECT l.doc_id, l.i, l.line, (f.nd >= 2) AS dup
         |  FROM lines1 l JOIN freq f USING (line))
         |SELECT doc_id, COUNT(*) AS n_lines,
         |  CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
         |  md5(coalesce(string_agg(CASE WHEN NOT dup THEN line END, chr(10) ORDER BY i), '')) AS clean_md5
         |FROM flags GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $normToks AS tk FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |    SELECT doc_id,
         |      CASE WHEN len(tk) >= 3 THEN array_to_string(tk[i:i+2], ' ')
         |           ELSE array_to_string(tk, ' ') END AS shingle
         |    FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk) - 1, CASE WHEN len(tk) > 0 THEN 2 ELSE 1 END))) AS i))
         |  WHERE shingle <> ''),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_common,
         |  round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
         |FROM common
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.12
         |ORDER BY doc_a, doc_b""".stripMargin,

    // exact all-pairs recomputation of what the minhash-blocked +
    // verified pipeline must produce: at matched threshold the verified
    // LSH output equals the exact J>=0.5 pair set, so equality here
    // hash-checks candidate recall AND the verify arithmetic.
    "dedup_minhash" ->
      s"""WITH pd AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text FROM documents),
         |toks AS (
         |  SELECT doc_id, $normToks AS tk FROM pd),
         |sh AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |    SELECT doc_id,
         |      CASE WHEN len(tk) >= 3 THEN array_to_string(tk[i:i+2], ' ')
         |           ELSE array_to_string(tk, ' ') END AS shingle
         |    FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk) - 1, CASE WHEN len(tk) > 0 THEN 2 ELSE 1 END))) AS i))
         |  WHERE shingle <> ''),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_common,
         |  round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
         |FROM common
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    // same all-pairs recomputation as dedup_minhash's, at the prefix
    // query's t=0.9 — the prefix filter is exact, so its verified
    // output must equal the exhaustive J>=0.9 pair set
    "dedup_jaccard_prefix" ->
      s"""WITH pd AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text FROM documents),
         |toks AS (
         |  SELECT doc_id, $normToks AS tk FROM pd),
         |sh AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |    SELECT doc_id,
         |      CASE WHEN len(tk) >= 3 THEN array_to_string(tk[i:i+2], ' ')
         |           ELSE array_to_string(tk, ' ') END AS shingle
         |    FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk) - 1, CASE WHEN len(tk) > 0 THEN 2 ELSE 1 END))) AS i))
         |  WHERE shingle <> ''),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_common,
         |  round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
         |FROM common
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.9
         |ORDER BY doc_a, doc_b""".stripMargin,

    // window/span recomputation from the raw token STRINGS — grouping
    // by the actual 8-token sequence where Spark groups its xxhash64,
    // so the hash-match doubles as a collision check
    "dedup_substring" ->
      s"""WITH p AS (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN text || ' $substringBoilerplate' ELSE text END AS text
         |  FROM documents),
         |base AS (SELECT doc_id, $normToks AS tk FROM p),
         |st AS (SELECT doc_id, len(tk) AS ntok, tk FROM base),
         |wins AS (
         |  SELECT doc_id, i - 1 AS pos, array_to_string(list_slice(tk, i, i + 7), ' ') AS w
         |  FROM st, LATERAL (SELECT unnest(generate_series(1, ntok - 7)) AS i) g
         |  WHERE ntok >= 8),
         |dup AS (SELECT w FROM wins GROUP BY w HAVING COUNT(*) >= 2),
         |fl AS (SELECT doc_id, pos FROM wins WHERE w IN (SELECT w FROM dup)),
         |isl AS (SELECT doc_id, pos,
         |    CASE WHEN pos > COALESCE(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), -9) + 8 THEN 1 ELSE 0 END AS ns
         |  FROM fl),
         |sp AS (SELECT doc_id, pos, SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS span FROM isl),
         |spa AS (SELECT doc_id, span, MIN(pos) AS s, MAX(pos) AS e, COUNT(*) AS nw FROM sp GROUP BY 1, 2),
         |agg AS (SELECT doc_id, SUM(nw) AS dupw, COUNT(*) AS nspans, SUM(e - s + 8) AS cov FROM spa GROUP BY 1)
         |SELECT st.doc_id,
         |  CAST(ntok AS BIGINT) AS n_tokens,
         |  CAST(CASE WHEN ntok >= 8 THEN ntok - 7 ELSE 0 END AS BIGINT) AS n_windows,
         |  CAST(COALESCE(dupw, 0) AS BIGINT) AS dup_windows,
         |  CAST(COALESCE(nspans, 0) AS BIGINT) AS dup_spans,
         |  CAST(COALESCE(cov, 0) AS BIGINT) AS dup_cov_tokens,
         |  round(CASE WHEN ntok > 0 THEN CAST(COALESCE(cov, 0) AS DOUBLE) / ntok ELSE 0.0 END, 6) AS dup_fraction
         |FROM st LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // despan: the oracle picks the canonical occurrence by window
    // ROW_NUMBER (order doc_id, pos) where Spark partial-aggregates a
    // struct min — same total order, different mechanism — then
    // re-derives redundant spans and REBUILDS the cleaned text token
    // by token from the raw strings
    "dedup_despan" ->
      s"""WITH p AS (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN text || ' $substringBoilerplate' ELSE text END AS text
         |  FROM documents),
         |base AS (SELECT doc_id, $normToks AS tk FROM p),
         |st AS (SELECT doc_id, len(tk) AS ntok, tk FROM base),
         |wins AS (
         |  SELECT doc_id, i - 1 AS pos, array_to_string(list_slice(tk, i, i + 7), ' ') AS w
         |  FROM st, LATERAL (SELECT unnest(generate_series(1, ntok - 7)) AS i) g
         |  WHERE ntok >= 8),
         |occ AS (SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn,
         |    COUNT(*) OVER (PARTITION BY w) AS c
         |  FROM wins),
         |red AS (SELECT doc_id, pos FROM occ WHERE c >= 2 AND rn > 1),
         |isl AS (SELECT doc_id, pos,
         |    CASE WHEN pos > COALESCE(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), -9) + 8 THEN 1 ELSE 0 END AS ns
         |  FROM red),
         |sp AS (SELECT doc_id, pos, SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS span FROM isl),
         |spa AS (SELECT doc_id, span, MIN(pos) AS s, MAX(pos) AS e FROM sp GROUP BY 1, 2),
         |toksx AS (SELECT doc_id, i - 1 AS tpos, tk[i] AS tok
         |  FROM st, LATERAL (SELECT unnest(generate_series(1, ntok)) AS i) g
         |  WHERE ntok > 0),
         |keep AS (SELECT t.doc_id, t.tpos, t.tok FROM toksx t
         |  WHERE NOT EXISTS (SELECT 1 FROM spa s
         |    WHERE s.doc_id = t.doc_id AND t.tpos BETWEEN s.s AND s.e + 7)),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS clean_text,
         |    COUNT(*) AS nk
         |  FROM keep GROUP BY 1)
         |SELECT st.doc_id,
         |  COALESCE(agg.clean_text, '') AS clean_text,
         |  CAST(ntok AS BIGINT) AS n_tokens,
         |  CAST(ntok - COALESCE(nk, 0) AS BIGINT) AS n_removed
         |FROM st LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // the two anchors of the simhash scorecard, recomputed exactly:
    // identical-content pair count (recall there is a theorem — asserted
    // 100.0) and the J>=0.9 pair count (recall floor asserted TRUE).
    "dedup_simhash" ->
      s"""WITH pd AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text FROM documents),
         |toks AS (
         |  SELECT doc_id, $normToks AS tk FROM pd),
         |norm AS (SELECT doc_id, array_to_string(tk, ' ') AS s FROM toks),
         |dup AS (
         |  SELECT COUNT(*) AS n_exact_dups
         |  FROM norm a JOIN norm b ON a.s = b.s AND a.doc_id < b.doc_id),
         |sh AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |    SELECT doc_id,
         |      CASE WHEN len(tk) >= 3 THEN array_to_string(tk[i:i+2], ' ')
         |           ELSE array_to_string(tk, ' ') END AS shingle
         |    FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk) - 1, CASE WHEN len(tk) > 0 THEN 2 ELSE 1 END))) AS i))
         |  WHERE shingle <> ''),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > 2000),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  WHERE a.shingle NOT IN (SELECT shingle FROM hot)
         |  GROUP BY 1, 2),
         |j09 AS (
         |  SELECT COUNT(*) AS n_j09 FROM common
         |    JOIN sizes sa ON sa.doc_id = doc_a
         |    JOIN sizes sb ON sb.doc_id = doc_b
         |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.9)
         |SELECT n_exact_dups, CAST(100.0 AS DOUBLE) AS exact_dup_recall_pct,
         |  n_j09, TRUE AS j09_recall_ge_090
         |FROM dup, j09""".stripMargin,

    "text_decontaminate" ->
      s"""WITH bench AS (
         |  SELECT doc_id, substr(text, 1, 200) AS text FROM documents WHERE doc_id % 17 = 0),
         |btoks AS (SELECT doc_id AS bench_id, $normToks AS tk FROM bench),
         |bsh AS (
         |  SELECT DISTINCT bench_id, shingle FROM (
         |    SELECT bench_id,
         |      CASE WHEN len(tk) >= 3 THEN array_to_string(tk[i:i+2], ' ')
         |           ELSE array_to_string(tk, ' ') END AS shingle
         |    FROM btoks, LATERAL (SELECT unnest(range(1, greatest(len(tk) - 1, CASE WHEN len(tk) > 0 THEN 2 ELSE 1 END))) AS i))
         |  WHERE shingle <> ''),
         |ttoks AS (SELECT doc_id AS train_id, $normToks AS tk FROM documents),
         |tsh AS (
         |  SELECT DISTINCT train_id, shingle FROM (
         |    SELECT train_id,
         |      CASE WHEN len(tk) >= 3 THEN array_to_string(tk[i:i+2], ' ')
         |           ELSE array_to_string(tk, ' ') END AS shingle
         |    FROM ttoks, LATERAL (SELECT unnest(range(1, greatest(len(tk) - 1, CASE WHEN len(tk) > 0 THEN 2 ELSE 1 END))) AS i))
         |  WHERE shingle <> ''),
         |bsizes AS (SELECT bench_id, COUNT(*) AS n_bench_sh FROM bsh GROUP BY 1),
         |hot AS (
         |  SELECT shingle FROM tsh
         |  WHERE shingle IN (SELECT shingle FROM bsh)
         |  GROUP BY shingle HAVING COUNT(*) > 10000),
         |shared AS (
         |  SELECT train_id, bench_id, COUNT(*) AS n_shared
         |  FROM tsh JOIN bsh ON tsh.shingle = bsh.shingle
         |  WHERE tsh.shingle NOT IN (SELECT shingle FROM hot)
         |  GROUP BY 1, 2)
         |SELECT train_id, bench_id, n_shared,
         |  round(CAST(n_shared AS DOUBLE) / n_bench_sh, 6) AS frac
         |FROM shared JOIN bsizes USING (bench_id)
         |WHERE CAST(n_shared AS DOUBLE) / n_bench_sh >= 0.5
         |ORDER BY train_id, bench_id""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, $normToks AS tk FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |    SELECT doc_id,
         |      CASE WHEN len(tk) >= 3 THEN array_to_string(tk[i:i+2], ' ')
         |           ELSE array_to_string(tk, ' ') END AS shingle
         |    FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk) - 1, CASE WHEN len(tk) > 0 THEN 2 ELSE 1 END))) AS i))
         |  WHERE shingle <> ''),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM common
         |    JOIN sizes sa ON sa.doc_id = doc_a
         |    JOIN sizes sb ON sb.doc_id = doc_b
         |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.12),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(doc, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.doc)
         |SELECT doc AS doc_id, CAST(MIN(r) AS BIGINT) AS canonical_id
         |FROM reach GROUP BY doc ORDER BY doc_id""".stripMargin,

    // same recursive-CTE components as dedup_clusters, then the
    // sample_split thresholds applied to the CANONICAL (0.9 →
    // 3865470566, 0.95 → 4080218931; last range unconditional)
    // despan CTE chain (as dedup_despan), then gate/canonical/split —
    // the split hash constants are splitAssign's knuth multiplier at
    // 0.9/0.95 · 2^32, identical to pipeline_safe_split's
    "pipeline_clean" ->
      s"""WITH p AS (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN text || ' $substringBoilerplate' ELSE text END AS text
         |  FROM documents),
         |base AS (SELECT doc_id, $normToks AS tk FROM p),
         |st AS (SELECT doc_id, len(tk) AS ntok, tk FROM base),
         |wins AS (
         |  SELECT doc_id, i - 1 AS pos, array_to_string(list_slice(tk, i, i + 7), ' ') AS w
         |  FROM st, LATERAL (SELECT unnest(generate_series(1, ntok - 7)) AS i) g
         |  WHERE ntok >= 8),
         |occ AS (SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn,
         |    COUNT(*) OVER (PARTITION BY w) AS c
         |  FROM wins),
         |red AS (SELECT doc_id, pos FROM occ WHERE c >= 2 AND rn > 1),
         |isl AS (SELECT doc_id, pos,
         |    CASE WHEN pos > COALESCE(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), -9) + 8 THEN 1 ELSE 0 END AS ns
         |  FROM red),
         |sp AS (SELECT doc_id, pos, SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS span FROM isl),
         |spa AS (SELECT doc_id, span, MIN(pos) AS s, MAX(pos) AS e FROM sp GROUP BY 1, 2),
         |toksx AS (SELECT doc_id, i - 1 AS tpos, tk[i] AS tok
         |  FROM st, LATERAL (SELECT unnest(generate_series(1, ntok)) AS i) g
         |  WHERE ntok > 0),
         |keep AS (SELECT t.doc_id, t.tpos, t.tok FROM toksx t
         |  WHERE NOT EXISTS (SELECT 1 FROM spa s
         |    WHERE s.doc_id = t.doc_id AND t.tpos BETWEEN s.s AND s.e + 7)),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS clean_text,
         |    COUNT(*) AS nk
         |  FROM keep GROUP BY 1),
         |gated AS (
         |  SELECT st.doc_id, COALESCE(agg.clean_text, '') AS clean_text,
         |    COALESCE(nk, 0) AS nk
         |  FROM st LEFT JOIN agg USING (doc_id)
         |  WHERE COALESCE(nk, 0) >= 20),
         |canon AS (
         |  SELECT doc_id, nk,
         |    MIN(doc_id) OVER (PARTITION BY clean_text) AS canonical_id
         |  FROM gated)
         |SELECT doc_id, CAST(nk AS BIGINT) AS clean_tokens, canonical_id,
         |  CASE WHEN (canonical_id * 2654435761) % 4294967296 < 3865470566 THEN 'train'
         |       WHEN (canonical_id * 2654435761) % 4294967296 < 4080218931 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM canon ORDER BY doc_id""".stripMargin,

    "pipeline_safe_split" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, $normToks AS tk FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |    SELECT doc_id,
         |      CASE WHEN len(tk) >= 3 THEN array_to_string(tk[i:i+2], ' ')
         |           ELSE array_to_string(tk, ' ') END AS shingle
         |    FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk) - 1, CASE WHEN len(tk) > 0 THEN 2 ELSE 1 END))) AS i))
         |  WHERE shingle <> ''),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM common
         |    JOIN sizes sa ON sa.doc_id = doc_a
         |    JOIN sizes sb ON sb.doc_id = doc_b
         |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.12),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(doc, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.doc),
         |comp AS (SELECT doc, CAST(MIN(r) AS BIGINT) AS canonical FROM reach GROUP BY doc)
         |SELECT d.doc_id,
         |  COALESCE(c.canonical, d.doc_id) AS canonical_id,
         |  CASE WHEN (COALESCE(c.canonical, d.doc_id) * 2654435761) % 4294967296 < 3865470566 THEN 'train'
         |       WHEN (COALESCE(c.canonical, d.doc_id) * 2654435761) % 4294967296 < 4080218931 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id
         |ORDER BY doc_id""".stripMargin,

    // same recursive-CTE components as dedup_clusters, then the keeper
    // window: longest doc (n_chars DESC) wins, min id breaks ties;
    // unpaired docs are their own canonical and keeper
    "dedup_keep_best" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, $normToks AS tk FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |    SELECT doc_id,
         |      CASE WHEN len(tk) >= 3 THEN array_to_string(tk[i:i+2], ' ')
         |           ELSE array_to_string(tk, ' ') END AS shingle
         |    FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk) - 1, CASE WHEN len(tk) > 0 THEN 2 ELSE 1 END))) AS i))
         |  WHERE shingle <> ''),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM common
         |    JOIN sizes sa ON sa.doc_id = doc_a
         |    JOIN sizes sb ON sb.doc_id = doc_b
         |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.12),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(doc, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.doc),
         |comp AS (SELECT doc, CAST(MIN(r) AS BIGINT) AS canonical FROM reach GROUP BY doc)
         |SELECT d.doc_id,
         |  COALESCE(c.canonical, d.doc_id) AS canonical_id,
         |  (ROW_NUMBER() OVER (PARTITION BY COALESCE(c.canonical, d.doc_id)
         |     ORDER BY d.n_chars DESC, d.doc_id) = 1) AS keep
         |FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id
         |ORDER BY doc_id""".stripMargin,

    // exact all-pairs recomputation of the incremental ingest verdicts:
    // the J>=0.5 pair set (same CTE as dedup_minhash's) restricted to
    // the batch split, with the same greedy rule — a batch doc is
    // matched by any accepted-split partner or any smaller-id batch
    // partner.
    "dedup_incremental" ->
      s"""WITH pd AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text FROM documents),
         |toks AS (
         |  SELECT doc_id, $normToks AS tk FROM pd),
         |sh AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |    SELECT doc_id,
         |      CASE WHEN len(tk) >= 3 THEN array_to_string(tk[i:i+2], ' ')
         |           ELSE array_to_string(tk, ' ') END AS shingle
         |    FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(tk) - 1, CASE WHEN len(tk) > 0 THEN 2 ELSE 1 END))) AS i))
         |  WHERE shingle <> ''),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT doc_a, doc_b FROM common
         |    JOIN sizes sa ON sa.doc_id = doc_a
         |    JOIN sizes sb ON sb.doc_id = doc_b
         |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5),
         |rel AS (
         |  SELECT doc_a AS d, doc_b AS m FROM scored
         |  UNION ALL SELECT doc_b AS d, doc_a AS m FROM scored),
         |batch AS (SELECT doc_id FROM pd WHERE (doc_id % 100000) % 3 = 0 AND doc_id < 200000),
         |m AS (
         |  SELECT b.doc_id, r.m FROM batch b JOIN rel r ON r.d = b.doc_id
         |  WHERE ((r.m % 100000) % 3 <> 0) OR (r.m < b.doc_id))
         |SELECT b.doc_id, COUNT(m.m) = 0 AS kept, COUNT(m.m) AS n_matches,
         |  MIN(m.m) AS min_match_id
         |FROM batch b LEFT JOIN m ON m.doc_id = b.doc_id
         |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,

    "dedup_embedding" ->
      """WITH pe AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id < 500
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id < 500),
        |scored AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos_raw
        |  FROM pe a JOIN pe b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cos_raw, 6) AS cos FROM scored
        |WHERE cos_raw >= 0.9 ORDER BY id_a, id_b""".stripMargin,

    // exact all-pairs cosine graph + the same greedy batch/accepted
    // rule as dedup_incremental's oracle, in embedding space: a batch
    // vector is matched by any non-batch partner or any smaller-id
    // batch partner at cos >= 0.9
    "dedup_semantic_incremental" ->
      """WITH pe AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |scored AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS c
        |  FROM pe a JOIN pe b ON a.vec_id < b.vec_id),
        |pairs AS (SELECT id_a, id_b FROM scored WHERE c >= 0.9),
        |rel AS (
        |  SELECT id_a AS d, id_b AS m FROM pairs
        |  UNION ALL SELECT id_b AS d, id_a AS m FROM pairs),
        |batch AS (
        |  SELECT vec_id FROM pe
        |  WHERE (((vec_id % 100000) % 3 = 0 AND vec_id < 100000)
        |     OR (vec_id % 100000) % 3 = 1) AND vec_id < 200000),
        |m AS (
        |  SELECT b.vec_id, r.m FROM batch b JOIN rel r ON r.d = b.vec_id
        |  WHERE r.m NOT IN (SELECT vec_id FROM batch) OR r.m < b.vec_id)
        |SELECT b.vec_id AS doc_id, COUNT(m.m) = 0 AS kept,
        |  COUNT(m.m) AS n_matches, MIN(m.m) AS min_match_id
        |FROM batch b LEFT JOIN m ON m.vec_id = b.vec_id
        |GROUP BY b.vec_id ORDER BY doc_id""".stripMargin,

    // uncapped twin of dedup_embedding: the banded-LSH path must emit
    // the SAME verified pair set as the exact quadratic recomputation
    // (candidate recall 1.0 through the multi-band OR; the cosine filter
    // is identical arithmetic on both paths).
    "dedup_embedding_lsh" ->
      """WITH pe AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |scored AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos_raw
        |  FROM pe a JOIN pe b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cos_raw, 6) AS cos FROM scored
        |WHERE cos_raw >= 0.9 ORDER BY id_a, id_b""".stripMargin,

    // identical exact anchor as dedup_embedding_lsh: on the planted
    // corpus the k-means-cell blocking must also recover the full
    // all-pairs answer (copies are identical vectors — same cell)
    "dedup_semantic" ->
      """WITH pe AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |scored AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos_raw
        |  FROM pe a JOIN pe b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cos_raw, 6) AS cos FROM scored
        |WHERE cos_raw >= 0.9 ORDER BY id_a, id_b""".stripMargin,

    // identical to dedup_semantic's oracle: the cell-count knob must
    // not change the answer on this corpus (see the query's comment)
    "dedup_semantic_fixedcell" ->
      """WITH pe AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |scored AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos_raw
        |  FROM pe a JOIN pe b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cos_raw, 6) AS cos FROM scored
        |WHERE cos_raw >= 0.9 ORDER BY id_a, id_b""".stripMargin,

    "sim_bruteforce_topk" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        |  FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos_raw
        |  FROM q, c WHERE neighbor_id <> query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rank,
        |    round(cos_raw, 6) AS cos
        |  FROM scored)
        |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // exhaustive exact ranking over the planted-copy corpus — what both
    // approximate paths must recover by construction (same-direction
    // copies share every sign bucket / IVF cell; power-of-2 scaling
    // keeps the fp arithmetic bit-identical on both engines).
    "sim_lsh_topk" -> annTopKOracle,
    "sim_ivf_topk" -> annTopKOracle,
    "sim_indexed_topk" -> annTopKOracle,
    // PQ shares the theorem: normalized copies share codes, tie at the
    // ADC minimum, and the exact re-rank reproduces the exhaustive
    // exact ranking below
    "sim_pq_topk" -> annTopKOracle,
    // IVFADC composes the two reductions; the same theorem pins both
    "sim_indexed_pq" -> annTopKOracle,

    "sim_decontaminate" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |b AS (SELECT vec_id, v FROM e WHERE vec_id % 17 = 0)
        |SELECT t.vec_id AS train_id, b.vec_id AS bench_id,
        |  round(list_dot_product(t.v, b.v)
        |    / (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |FROM e t JOIN b ON list_dot_product(t.v, b.v)
        |    / (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.9
        |ORDER BY train_id, bench_id""".stripMargin,

    // the linear filter recomputed term-for-term: CASE-chain weights
    // (generated from the same qualityLexicon literals as the Spark
    // side, so the two models cannot drift), array-order mean, sigmoid
    "text_lexicon_score" -> {
      val caseW = qualityLexicon.map { case (t, w) => s"WHEN '$t' THEN $w" }.mkString(" ")
      val terms = qualityLexicon.map(t => s"'${t._1}'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, $normToks AS tk FROM documents),
         |sc AS (SELECT doc_id,
         |    len(list_filter(tk, t -> t IN ($terms))) AS lex_hits,
         |    CASE WHEN len(tk) > 0
         |      THEN COALESCE(list_sum(list_transform(tk,
         |             t -> CASE t $caseW ELSE 0.0 END)), 0.0) / len(tk)
         |      ELSE 0.0 END AS mw
         |  FROM toks)
         |SELECT doc_id, CAST(lex_hits AS BIGINT) AS lex_hits,
         |  round(1.0 / (1.0 + exp(-(-0.5 + mw))), 6) AS lex_score
         |FROM sc ORDER BY doc_id""".stripMargin
    },

    // full-batch GD replayed epoch-by-epoch in SQL; bit-identical by the
    // operator's quantization/left-assoc-margin contract (see
    // trainFilterOracle)
    "text_train_filter" -> trainFilterOracle(trainerLexicon, epochs = 3, lr = 5.0),
    "text_train_filter_local" ->
      trainFilterLocalOracle(trainerLexicon, epochs = 3, lr = 5.0, shards = 8),

    // every Gopher rule re-measured in SQL: whitespace words, trimmed
    // non-empty lines, '#'/'...' counts by replace-length arithmetic
    // (exactly the Spark side's formulation so the double divisions are
    // the same IEEE ops), then the same threshold comparisons
    "text_gopher" ->
      s"""WITH base AS (
         |  SELECT doc_id, text,
         |    list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0) AS w,
         |    list_filter(list_transform(regexp_split_to_array(text, '\\n'), x -> trim(x)),
         |                x -> length(x) > 0) AS l,
         |    $normToks AS tk
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(w) AS BIGINT) AS n_words,
         |    CASE WHEN len(w) > 0 THEN
         |      CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w)
         |      ELSE 0.0 END AS mean_word_len,
         |    CASE WHEN len(w) > 0 THEN
         |      CAST((length(text) - length(replace(text, '#', '')))
         |        + (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE) / len(w)
         |      ELSE 0.0 END AS symbol_word_ratio,
         |    CASE WHEN len(l) > 0 THEN
         |      CAST(len(list_filter(l, x -> substr(x, 1, 1) IN ('•', '-', '*'))) AS DOUBLE) / len(l)
         |      ELSE 0.0 END AS bullet_line_ratio,
         |    CASE WHEN len(l) > 0 THEN
         |      CAST(len(list_filter(l, x -> ends_with(x, '...'))) AS DOUBLE) / len(l)
         |      ELSE 0.0 END AS ellipsis_line_ratio,
         |    CASE WHEN len(w) > 0 THEN
         |      CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / len(w)
         |      ELSE 0.0 END AS alpha_word_ratio,
         |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
         |                         s -> list_contains(tk, s))) AS BIGINT) AS n_required_stops
         |  FROM base)
         |SELECT doc_id, n_words,
         |  round(mean_word_len, 6) AS mean_word_len,
         |  round(symbol_word_ratio, 6) AS symbol_word_ratio,
         |  round(bullet_line_ratio, 6) AS bullet_line_ratio,
         |  round(ellipsis_line_ratio, 6) AS ellipsis_line_ratio,
         |  round(alpha_word_ratio, 6) AS alpha_word_ratio,
         |  n_required_stops,
         |  CAST(n_words >= 5 AND n_words <= 100000 AS BIGINT) AS r_word_count,
         |  CAST(mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS BIGINT) AS r_mean_len,
         |  CAST(symbol_word_ratio <= 0.1 AS BIGINT) AS r_symbol,
         |  CAST(bullet_line_ratio <= 0.9 AS BIGINT) AS r_bullet,
         |  CAST(ellipsis_line_ratio <= 0.3 AS BIGINT) AS r_ellipsis,
         |  CAST(alpha_word_ratio >= 0.8 AS BIGINT) AS r_alpha,
         |  CAST(n_required_stops >= 2 AS BIGINT) AS r_stop,
         |  CAST(n_words >= 5 AND n_words <= 100000
         |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |    AND symbol_word_ratio <= 0.1 AND bullet_line_ratio <= 0.9
         |    AND ellipsis_line_ratio <= 0.3 AND alpha_word_ratio >= 0.8
         |    AND n_required_stops >= 2 AS BIGINT) AS gopher_pass
         |FROM m ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      s"""WITH base AS (
         |  SELECT doc_id, text, $normToks AS tk FROM documents)
         |SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars_calc,
         |  CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_unique_tokens,
         |  round(CASE WHEN len(tk) > 0 THEN
         |    CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk) ELSE 0.0 END, 6) AS avg_token_len,
         |  round(CASE WHEN length(text) > 0 THEN
         |    CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
         |    ELSE 0.0 END, 6) AS punct_ratio,
         |  round(CASE WHEN len(tk) > 0 THEN
         |    CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it','that','was'))) AS DOUBLE) / len(tk)
         |    ELSE 0.0 END, 6) AS stopword_ratio
         |FROM base ORDER BY doc_id""".stripMargin,

    "text_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0)) AS BIGINT) AS n_ws_tokens,
         |  CAST(len($normToks) AS BIGINT) AS n_word_tokens,
         |  CAST(ceil(CAST(length(text) AS DOUBLE) / 4) AS BIGINT) AS n_bpe_est
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_top_tokens" ->
      s"""SELECT token, COUNT(*) AS freq FROM (
         |  SELECT unnest($normToks) AS token FROM documents)
         |GROUP BY token ORDER BY freq DESC, token ASC LIMIT 20""".stripMargin,

    "text_langid" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |    CAST(len(list_filter($normToks, x -> x IN ('der','die','das','und','zu','den','ist','von','mit','nicht'))) AS BIGINT) AS s_de,
         |    CAST(len(list_filter($normToks, x -> x IN ('the','a','of','and','to','in','is','it','that','was'))) AS BIGINT) AS s_en,
         |    CAST(len(list_filter($normToks, x -> x IN ('el','la','de','que','y','en','un','es','se','no'))) AS BIGINT) AS s_es,
         |    CAST(len(list_filter($normToks, x -> x IN ('le','la','de','et','un','est','que','pour','dans','qui'))) AS BIGINT) AS s_fr
         |  FROM documents)
         |SELECT doc_id, lang,
         |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred_lang,
         |  greatest(s_de, s_en, s_es, s_fr) AS pred_score
         |FROM scored ORDER BY doc_id""".stripMargin,

    "pipeline_curate" ->
      s"""WITH base AS (
         |  SELECT doc_id, text, $normToks AS tk FROM documents),
         |q AS (
         |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |    round(CASE WHEN len(tk) > 0 THEN
         |      CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it','that','was'))) AS DOUBLE) / len(tk)
         |      ELSE 0.0 END, 6) AS stopword_ratio
         |  FROM base),
         |scored AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(tk, x -> x IN ('der','die','das','und','zu','den','ist','von','mit','nicht'))) AS BIGINT) AS s_de,
         |    CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it','that','was'))) AS BIGINT) AS s_en,
         |    CAST(len(list_filter(tk, x -> x IN ('el','la','de','que','y','en','un','es','se','no'))) AS BIGINT) AS s_es,
         |    CAST(len(list_filter(tk, x -> x IN ('le','la','de','et','un','est','que','pour','dans','qui'))) AS BIGINT) AS s_fr
         |  FROM base),
         |lang AS (
         |  SELECT doc_id,
         |    CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         |         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         |         WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred_lang
         |  FROM scored),
         |keep AS (
         |  SELECT MIN(doc_id) AS doc_id FROM base
         |  GROUP BY md5(array_to_string(tk, ' ')))
         |SELECT q.doc_id, n_tokens, stopword_ratio, pred_lang
         |FROM q JOIN lang USING (doc_id) JOIN keep USING (doc_id)
         |WHERE n_tokens >= 20 AND pred_lang = 'en'
         |ORDER BY q.doc_id""".stripMargin,

    "text_fingerprint" ->
      s"""SELECT doc_id, md5(array_to_string($normToks, ' ')) AS md5_fp,
         |  CAST(length(array_to_string($normToks, ' ')) AS BIGINT) AS norm_len
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_tfidf" ->
      s"""WITH tok AS (
         |  SELECT doc_id AS doc, unnest($normToks) AS token FROM documents),
         |tf AS (SELECT doc, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |len AS (SELECT doc, SUM(tf) AS len FROM tf GROUP BY 1),
         |dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(doc_id) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc, tf.token,
         |    (CAST(tf.tf AS DOUBLE) / CAST(len.len AS DOUBLE)) *
         |      (ln(CAST(n.n_docs + 1 AS DOUBLE) / CAST(dfq.df + 1 AS DOUBLE)) + 1.0) AS tfidf_raw
         |  FROM tf JOIN len USING (doc) JOIN dfq USING (token) CROSS JOIN n),
         |ranked AS (
         |  SELECT doc, token, tfidf_raw,
         |    ROW_NUMBER() OVER (PARTITION BY doc ORDER BY tfidf_raw DESC, token ASC) AS rank
         |  FROM scored)
         |SELECT doc AS doc_id, token, CAST(rank AS INT) AS rank,
         |  round(tfidf_raw, 6) AS tfidf
         |FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    // the BPE character-preservation theorem, re-derived from raw text:
    // whatever merges were learned, decode(encode(doc)) is the
    // space-joined token sequence and stripping end-markers leaves
    // exactly the words' characters
    "text_bpe" ->
      s"""SELECT doc_id,
         |  md5(array_to_string($normToks, ' ')) AS roundtrip_md5,
         |  CAST(length(array_to_string($normToks, '')) AS BIGINT) AS n_word_chars
         |FROM documents ORDER BY doc_id""".stripMargin,

    // unigram-LM retraining in SQL: same vocabulary cap rule, same
    // add-k arithmetic (integer counts, one shared denominator), and
    // a position-ORDERED log-prob sum matching the Spark side's array
    // fold
    "text_unigram_ppl" ->
      s"""WITH toks AS (SELECT doc_id, $normToks AS tk FROM documents),
         |tot AS (SELECT CAST(COALESCE(SUM(len(tk)), 0) AS BIGINT) AS total FROM toks),
         |cnt AS (SELECT t AS w, COUNT(*) AS c
         |  FROM toks, LATERAL (SELECT unnest(tk) AS t)
         |  GROUP BY t ORDER BY c DESC, w LIMIT 65536),
         |vv AS (SELECT COUNT(*) AS v FROM cnt),
         |pos AS (SELECT doc_id, o, tk[o] AS w
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS o)),
         |scored AS (
         |  SELECT p.doc_id, p.o,
         |    CASE WHEN c.w IS NULL THEN ln(0.5 / (t.total + 0.5 * (vv.v + 1)))
         |         ELSE ln((c.c + 0.5) / (t.total + 0.5 * (vv.v + 1))) END AS lp
         |  FROM pos p LEFT JOIN cnt c ON c.w = p.w
         |  CROSS JOIN tot t CROSS JOIN vv),
         |agg AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(lp ORDER BY o) AS slp
         |  FROM scored GROUP BY doc_id)
         |SELECT d.doc_id, CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  round(exp(-a.slp / a.n_tokens), 6) AS ppl
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // full BM25 re-derivation: same integer inputs (N, df, tf, dl), the
    // same one-division avgdl, and an ORDERED aggregate so the float
    // summation order matches the Spark side's sorted-term fold
    "text_bm25" -> bm25OracleSql,

    // the indexed form's contract IS bit-identical answers, so it
    // shares the brute form's oracle verbatim
    "text_bm25_indexed" -> bm25OracleSql,

    // both component rankings re-derived from scratch (BM25 with the
    // ordered idf-sum, exhaustive cosine), then the exact RRF algebra:
    // Σ 1/(60+rank) per (query, doc), rank by score desc / id asc
    "hybrid_rrf_topk" ->
      s"""WITH toks AS (SELECT doc_id, $normToks AS tk FROM documents),
         |bstats AS (SELECT COUNT(*) AS n, CAST(SUM(len(tk)) AS DOUBLE) / COUNT(*) AS avgdl FROM toks),
         |btok AS (SELECT doc_id, unnest(tk) AS term FROM toks),
         |btf AS (SELECT doc_id, term, COUNT(*) AS tf FROM btok
         |  WHERE term IN ('spark','merge','batch','window','sort','key','hash','table','scan')
         |  GROUP BY 1, 2),
         |bdf AS (SELECT term, COUNT(*) AS df FROM btf GROUP BY 1),
         |bdl AS (SELECT doc_id, len(tk) AS dl FROM toks),
         |bqt AS (SELECT * FROM (VALUES (0,'batch'),(0,'merge'),(0,'spark'),
         |  (1,'key'),(1,'sort'),(1,'window'),
         |  (2,'hash'),(2,'scan'),(2,'table')) AS q(query_id, term)),
         |bscored AS (
         |  SELECT q.query_id, btf.doc_id,
         |    SUM(ln(1 + (s.n - bdf.df + 0.5)/(bdf.df + 0.5)) *
         |          (CAST(btf.tf AS DOUBLE) * (1.2 + 1)) /
         |          (CAST(btf.tf AS DOUBLE) + 1.2 * (1 - 0.75 + (0.75 * CAST(bdl.dl AS DOUBLE)) / s.avgdl))
         |        ORDER BY q.term) AS score
         |  FROM bqt q JOIN btf ON btf.term = q.term
         |    JOIN bdf ON bdf.term = q.term
         |    JOIN bdl ON bdl.doc_id = btf.doc_id
         |    CROSS JOIN bstats s
         |  GROUP BY 1, 2),
         |lexr AS (
         |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM bscored QUALIFY rank <= 10),
         |vq AS (SELECT vec_id AS query_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
         |  FROM embeddings WHERE vec_id < 3),
         |vc AS (SELECT vec_id AS neighbor_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
         |  FROM embeddings),
         |vscored AS (
         |  SELECT query_id, neighbor_id,
         |    list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos_raw
         |  FROM vq, vc WHERE neighbor_id <> query_id),
         |vecr AS (
         |  SELECT query_id, neighbor_id AS doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
         |  FROM vscored QUALIFY rank <= 10),
         |allr AS (SELECT * FROM lexr UNION ALL SELECT * FROM vecr),
         |fused AS (SELECT query_id, doc_id,
         |    SUM(CAST(1 AS DOUBLE) / (60 + rank)) AS rrf, COUNT(*) AS n_lists
         |  FROM allr GROUP BY 1, 2)
         |SELECT query_id, doc_id,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS INT) AS rank,
         |  round(rrf, 8) AS rrf_score, CAST(n_lists AS INT) AS n_lists
         |FROM fused
         |QUALIFY rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // both smoothed models, the log ratio, and the ordered per-doc sum
    // re-derived from scratch — the selection math, not just row counts
    "dsir_weights" ->
      s"""$dsirAggSql
         |SELECT d.doc_id, CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  round(COALESCE(a.s, 0.0), 6) AS dsir_logw
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // the exact Gumbel top-k membership: same weights, same
    // multiplicative-hash u, same -ln(-ln(u)) keys, same id tiebreak
    "dsir_resample" ->
      s"""$dsirAggSql,
         |w8 AS (SELECT d.doc_id, d.lang, d.source, COALESCE(a.s, 0.0) AS logw
         |  FROM documents d LEFT JOIN agg a USING (doc_id)),
         |keyed AS (SELECT doc_id, lang, source,
         |    logw - ln(-ln((CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE)
         |      + 0.5) / 4294967296.0)) AS gk
         |  FROM w8)
         |SELECT doc_id, lang, source FROM keyed
         |ORDER BY gk DESC, doc_id LIMIT 100""".stripMargin,

    "text_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm_text,
        |  CAST(length(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS BIGINT) AS n_norm_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      s"""WITH tok AS (SELECT doc_id, unnest($normToks) AS t FROM documents),
         |cnt AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
         |agg AS (SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot, COUNT(*) AS nd FROM cnt GROUP BY 1),
         |base AS (SELECT doc_id, $normToks AS tk FROM documents),
         |bi AS (SELECT doc_id, len(tk) AS ntk,
         |    CASE WHEN len(tk) >= 2
         |      THEN list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i + 1])
         |      ELSE [] END AS bg
         |  FROM base)
         |SELECT b.doc_id,
         |  round(COALESCE(CAST(a.mx AS DOUBLE) / a.tot, 0.0), 6) AS top_token_ratio,
         |  round(COALESCE(CAST(a.nd AS DOUBLE) / a.tot, 0.0), 6) AS distinct_token_ratio,
         |  round(CASE WHEN ntk >= 2
         |    THEN 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
         |    ELSE 0.0 END, 6) AS dup_bigram_ratio
         |FROM bi b LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

    "text_redact" ->
      """WITH p AS (SELECT doc_id,
        |  text || ' contact user' || doc_id || '@mail.example.com at 10.0.' || (doc_id % 256) || '.7' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
        |  regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g') AS redacted_text
        |FROM p ORDER BY doc_id""".stripMargin,

    // Luhn recomputed digit-by-digit in SQL (nested lambda: candidates →
    // positions → doubled-digit contributions, all integer arithmetic);
    // card redaction replayed as the same left fold of literal replaces
    "text_pii" -> {
      val digits = "regexp_replace(c, '[^0-9]', '', 'g')"
      val d = s"CAST(substr($digits, length($digits) - p2 + 1, 1) AS INT)"
      s"""WITH p AS (SELECT doc_id,
         |  text || ' pay 4' || lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0')
         |       || lpad(CAST((doc_id * 7) % 1000000 AS VARCHAR), 6, '0')
         |       || ' or call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
         |  FROM documents),
         |c AS (SELECT doc_id, t,
         |  regexp_extract_all(t, '\\b(?:[0-9][ -]?){12,18}[0-9]\\b') AS cands FROM p),
         |v AS (SELECT doc_id, t, cands,
         |  list_filter(cands, c -> list_sum(
         |    list_transform(generate_series(1, length($digits)),
         |      p2 -> CASE WHEN p2 % 2 = 1 THEN $d
         |            ELSE CASE WHEN 2 * $d < 10 THEN 2 * $d ELSE 2 * $d - 9 END
         |            END)) % 10 = 0) AS valid
         |  FROM c)
         |SELECT doc_id,
         |  CAST(len(cands) AS BIGINT) AS n_card_candidates,
         |  CAST(len(valid) AS BIGINT) AS n_cards,
         |  CAST(len(regexp_extract_all(t, '\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}(-[0-9]{3,4})?')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS BIGINT) AS n_ips,
         |  regexp_replace(regexp_replace(regexp_replace(
         |    list_reduce([t] || valid, (acc, x) -> replace(acc, x, '[CARD]')),
         |    '\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}(-[0-9]{3,4})?', '[PHONE]', 'g'),
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
         |    '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '[IP]', 'g') AS redacted_text
         |FROM v ORDER BY doc_id""".stripMargin
    },

    "text_urls" ->
      """WITH p AS (SELECT doc_id,
        |  text || ' see https://site' || (doc_id % 23) || '.example.org/page and http://cdn' || (doc_id % 7) || '.example.net/x plus HTTPS://MiXedCase' || (doc_id % 5) || '.Example.COM/y' AS text
        |  FROM documents),
        |urls AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '(?i)https?://([a-z0-9.-]+)')) AS url FROM p)
        |SELECT lower(regexp_extract(url, '(?i)https?://([a-z0-9.-]+)', 1)) AS domain,
        |  COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_urls
        |FROM urls GROUP BY 1 ORDER BY domain""".stripMargin,

    // KEY-DOMAIN CONTRACT of every sampler oracle below: the plain
    // `(key * 2654435761) % 4294967296` assumes keys < 2^32 — above
    // that the Scala side folds the key mod 2^32 FIRST (overflow-free,
    // see Sampling.knuthHash), while the SQL multiply would overflow
    // BIGINT around key ≈ 3.47e9 (DuckDB errors; engines with wrapping
    // semantics would silently diverge). doc_id/vec_id stay far below
    // 2^32 at every test SF, so the twins are bit-identical here; a
    // >2^32 key corpus needs the folded form mirrored in SQL:
    // ((key % 4294967296) * 2654435761) % 4294967296 in HUGEINT.
    "sample_hash" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE (doc_id * 2654435761) % 4294967296 < 429496729
        |ORDER BY doc_id""".stripMargin,

    "sample_stratified" ->
      """WITH r AS (SELECT doc_id, lang,
        |  ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang FROM r WHERE rn <= 25 ORDER BY lang, doc_id""".stripMargin,

    // thresholds are ⌊fraction · 2^32⌋, matching the Scala side's toLong
    "sample_mixture" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE (doc_id * 2654435761) % 4294967296 <
        |  CASE source WHEN 'src0' THEN 4294967296
        |    WHEN 'src1' THEN 2147483648 WHEN 'src2' THEN 1073741824
        |    WHEN 'src3' THEN 429496729 ELSE 214748364 END
        |ORDER BY doc_id""".stripMargin,

    // per-domain targets recomputed with sqrt + a lexicographically
    // ORDERED weight sum (addition order pins the last ulp), then the
    // same hash-prefix membership as the Spark draw
    "sample_temperature" ->
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents
        |  WHERE source IS NOT NULL GROUP BY source),
        |w AS (SELECT source, sqrt(CAST(n AS DOUBLE)) AS wt FROM c),
        |s AS (SELECT CAST(SUM(wt ORDER BY source) AS DOUBLE) AS sw FROM w),
        |t AS (SELECT source, CAST(floor(250 * (wt / (SELECT sw FROM s))) AS BIGINT) AS tgt FROM w),
        |h AS (SELECT doc_id, lang, source,
        |    (doc_id * 2654435761) % 4294967296 AS hh FROM documents
        |  WHERE source IS NOT NULL),
        |r AS (SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn FROM h)
        |SELECT doc_id, lang, source FROM r JOIN t USING (source)
        |WHERE rn <= tgt ORDER BY doc_id""".stripMargin,

    "text_token_budget" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(ceil(CAST(n_chars AS DOUBLE) / 4) AS BIGINT) AS n_bpe_est,
        |    (doc_id * 2654435761) % 4294967296 AS h
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_bpe_est,
        |    SUM(n_bpe_est) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT doc_id, source, n_bpe_est FROM c
        |WHERE cum <= CASE source WHEN 'src0' THEN 2000
        |  WHEN 'src1' THEN 800 ELSE 300 END
        |ORDER BY doc_id""".stripMargin,

    "sample_weighted" ->
      """WITH d AS (SELECT doc_id, source,
        |    least(1.0, CAST(n_chars AS DOUBLE) / 400.0) AS w,
        |    (doc_id * 2654435761) % 4294967296 AS h
        |  FROM documents)
        |SELECT doc_id, source, round(w, 6) AS w FROM d
        |WHERE h < CAST(floor(w * 4294967296) AS BIGINT)
        |ORDER BY doc_id""".stripMargin,

    "sample_upsample" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.25
        |      ELSE 0.75 END AS DOUBLE) AS w,
        |    (doc_id * 2654435761) % 4294967296 AS h
        |  FROM documents),
        |r AS (SELECT doc_id, source,
        |    CAST(floor(w) AS BIGINT) +
        |      CASE WHEN h < CAST(floor((w - floor(w)) * 4294967296) AS BIGINT)
        |        THEN 1 ELSE 0 END AS reps
        |  FROM d)
        |SELECT doc_id, source,
        |  unnest(generate_series(0, reps - 1)) AS copy
        |FROM r ORDER BY doc_id, copy""".stripMargin,

    // boundaries are cumulative ⌊Σf · 2^32⌋: 0.9 → 3865470566, 0.95 →
    // 4080218931; the last range is the unconditional remainder
    "sample_split" ->
      """SELECT doc_id, source,
        |  CASE WHEN (doc_id * 2654435761) % 4294967296 < 3865470566 THEN 'train'
        |       WHEN (doc_id * 2654435761) % 4294967296 < 4080218931 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "pipeline_assemble" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(ceil(CAST(n_chars AS DOUBLE) / 4) AS BIGINT) AS n_bpe_est,
        |    (doc_id * 2654435761) % 4294967296 AS h
        |  FROM documents),
        |mixed AS (SELECT * FROM d WHERE h <
        |    CASE source WHEN 'src0' THEN 4294967296 WHEN 'src1' THEN 3435973836
        |      WHEN 'src2' THEN 2576980377 ELSE 1288490188 END),
        |budgeted AS (SELECT doc_id, source, n_bpe_est, h FROM (
        |    SELECT *, SUM(n_bpe_est) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM mixed)
        |  WHERE cum <= CASE source WHEN 'src0' THEN 1500
        |    WHEN 'src1' THEN 900 ELSE 400 END)
        |SELECT doc_id, source, n_bpe_est, h % 4 AS shard_id,
        |  ROW_NUMBER() OVER (PARTITION BY h % 4 ORDER BY h, doc_id) - 1 AS shard_pos
        |FROM budgeted ORDER BY doc_id""".stripMargin,

    // the copy draw is sample_upsample's; placement hashes the combined
    // key doc_id·4 + copy (< 2^32 here — see the key-domain contract
    // above, the product stays overflow-free in BIGINT)
    "pipeline_epochs" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.25
        |      ELSE 0.75 END AS DOUBLE) AS w,
        |    (doc_id * 2654435761) % 4294967296 AS h
        |  FROM documents),
        |r AS (SELECT doc_id, source,
        |    CAST(floor(w) AS BIGINT) +
        |      CASE WHEN h < CAST(floor((w - floor(w)) * 4294967296) AS BIGINT)
        |        THEN 1 ELSE 0 END AS reps
        |  FROM d),
        |c AS (SELECT doc_id, source,
        |    unnest(generate_series(0, reps - 1)) AS copy FROM r),
        |k AS (SELECT doc_id, source, copy,
        |    ((doc_id * 4 + copy) * 2654435761) % 4294967296 AS kh
        |  FROM c)
        |SELECT doc_id, source, copy, kh % 5 AS shard_id,
        |  ROW_NUMBER() OVER (PARTITION BY kh % 5
        |    ORDER BY kh, doc_id * 4 + copy) - 1 AS shard_pos
        |FROM k ORDER BY doc_id, copy""".stripMargin,

    "text_shard_assign" ->
      """WITH h AS (SELECT doc_id, source,
        |    (doc_id * 2654435761) % 4294967296 AS hh
        |  FROM documents)
        |SELECT doc_id, source, hh % 7 AS shard_id,
        |  ROW_NUMBER() OVER (PARTITION BY hh % 7 ORDER BY hh, doc_id) - 1 AS shard_pos
        |FROM h ORDER BY doc_id""".stripMargin,

    // step = 64 − 8 = 56; window count = ceil(max(0, n−64)/56) + 1,
    // via integer // so exact multiples don't round a tail window
    // in or out; DuckDB list slices are 1-based inclusive and clamp
    // at the list end like Spark's slice()
    "text_chunk" ->
      s"""WITH toks AS (SELECT doc_id, $normToks AS tk FROM documents),
         |nz AS (SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0),
         |wins AS (SELECT doc_id, tk,
         |    unnest(generate_series(0, (greatest(n - 64, 0) + 55) // 56)) AS chunk_idx
         |  FROM nz)
         |SELECT doc_id, chunk_idx,
         |  array_to_string(tk[chunk_idx * 56 + 1 : chunk_idx * 56 + 64], ' ') AS chunk_text,
         |  CAST(len(tk[chunk_idx * 56 + 1 : chunk_idx * 56 + 64]) AS BIGINT) AS n_chunk_tokens
         |FROM wins ORDER BY doc_id, chunk_idx""".stripMargin,

    "text_pack_sequences" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(ceil(CAST(n_chars AS DOUBLE) / 4) AS BIGINT) AS n_bpe_est
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_bpe_est,
        |    CAST(COALESCE(SUM(n_bpe_est) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
        |  FROM t)
        |SELECT doc_id, source, n_bpe_est, tokens_before,
        |  CAST(tokens_before // 2048 AS BIGINT) AS seq_id
        |FROM c ORDER BY source, doc_id""".stripMargin,

    "mm_catalog" ->
      """SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png'
        |  WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS media_type,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(octet_length(encode(text)) AS BIGINT)) AS BIGINT) AS total_bytes
        |FROM documents GROUP BY 1 ORDER BY media_type""".stripMargin,

    // the stub decode's OUTPUT SHAPE is deterministic (frame count from
    // byte length, fixed 8-dim features), so the dims the query emits
    // are fully oracle-checkable even though the vector VALUES come
    // from the marked stub
    "mm_features" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) % 30 + 1 AS BIGINT) AS n_frames,
        |  CAST(8 AS BIGINT) AS feature_dim
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_frame_sample" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) // 16 AS n_frames,
        |  CAST(CASE WHEN octet_length(encode(text)) // 16 > 0
        |    THEN floor((octet_length(encode(text)) // 16 - 1) / 4) + 1
        |    ELSE 0 END AS BIGINT) AS n_sampled
        |FROM documents ORDER BY doc_id""".stripMargin,

    // docs with ≥1 complete 16-byte frame emit idx 0,4,8,… — count =
    // ceil(n_frames/4), max idx = 4*(count-1)
    "mm_video_frames" ->
      """SELECT doc_id,
        |  CAST(floor((octet_length(encode(text)) // 16 - 1) / 4) + 1 AS BIGINT)
        |    AS n_sampled_frames,
        |  CAST(4 * floor((octet_length(encode(text)) // 16 - 1) / 4) AS BIGINT)
        |    AS max_frame_idx
        |FROM documents
        |WHERE octet_length(encode(text)) // 16 > 0
        |ORDER BY doc_id""".stripMargin,

    "mm_resize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    (doc_id * 37) % 1920 + 1 AS w,
        |    (n_chars * 31) % 1080 + 1 AS h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, w, h,
        |    CASE WHEN w * 224 >= h * 256 THEN 256 ELSE 224 END AS num,
        |    CASE WHEN w * 224 >= h * 256 THEN w ELSE h END AS den,
        |    (w > 256 OR h > 224) AS needs
        |  FROM m)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(CASE WHEN needs THEN greatest((w * num) // den, 1) ELSE w END AS BIGINT) AS new_width,
        |  CAST(CASE WHEN needs THEN greatest((h * num) // den, 1) ELSE h END AS BIGINT) AS new_height
        |FROM r ORDER BY doc_id""".stripMargin
  )
}
