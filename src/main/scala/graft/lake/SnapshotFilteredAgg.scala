package graft.lake

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, EvalMode, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, min, nullif, sum}
import org.apache.spark.sql.types._

/** FILTERED aggregate pushdown into footer statistics for SQL over
  * [[SnapshotCatalog]] tables — the resolution rule
  * `graft.GraftExtensions` injects.
  *
  * [[ManifestAgg]] (the DSv2 `SupportsPushDownAggregates` path) serves
  * `SELECT count(*)/min(c)/max(c) FROM snap.t` as a zero-job
  * `LocalTableScan`, but dies the moment ANY filter appears — and the
  * dominant maintenance aggregate at 100 TB is exactly
  * `SELECT count(*) … WHERE c BETWEEN lo AND hi`. The API layer
  * already solved that shape ([[StatsAgg.rangeAggFiles]],
  * oracle-verified as `lake_agg_pushdown`): classify each live file
  * against the range from cached footer stats, answer COVERED files
  * from their footers alone, scan ONLY the boundary files. This rule
  * surfaces the same machinery in SQL by rewriting
  *
  * {{{ Aggregate(Nil, aggs, Filter(range-on-c, snapshotRelation)) }}}
  *
  * into: driver-computed covered partials (a one-row LocalRelation)
  * UNION a pushed-predicate scan of the boundary files, then the final
  * fold — on a clustered table the range covers every interior file,
  * so the query costs a cached footer sweep plus ~2 boundary-file
  * scans instead of a full pass.
  *
  * SOUNDNESS GATES (any miss leaves the plan untouched — the stock
  * scan with zone-map pruning still runs, never a wrong answer):
  *  - files carrying DELETION VECTORS are never `covered` (their
  *    footer counts and extrema include dead rows) — they degrade
  *    per-file to scanned, through the DV-applying read, while the
  *    clean files of the same version still answer from footers;
  *    footer-disjoint SKIPS stay sound for DV files because deletion
  *    only removes values;
  *  - no GROUP BY, no DISTINCT, no FILTER clauses;
  *  - the predicate is a conjunction of `<,<=,>,>=,=` comparisons (and
  *    IS NOT NULL) between columns and foldable literals — ONE or
  *    SEVERAL columns (multi-column ranges are the Z-order payoff:
  *    `compactZ` gives every file a tight footer interval on each
  *    dimension, so a two-column box covers interior files on both);
  *    the parser's `BETWEEN` desugars to exactly this — plus IN-lists
  *    and OR-of-equalities on one column (the maintenance shape
  *    `count(*) WHERE k IN (…)`): a file is covered for a set
  *    constraint only when its footer interval is a POINT (min = max)
  *    equal to a set member — exactly what a CLUSTER BY k layout
  *    produces — and skipped when no member lands inside its interval;
  *  - a file is `covered` only when its stats are complete and its
  *    interval lies inside the bounds; STRING columns are never
  *    covered (parquet truncates binary stats — sound for may-contain
  *    pruning, not for exact answers — the [[StatsAgg]] rule);
  *  - counts answer from `rows − nulls`: a covered file's qualifying
  *    rows are footer-derivable only when AT MOST ONE predicate column
  *    carries nulls (the null UNION across columns is unknowable) —
  *    files failing that gate degrade to scanned, never guessed;
  *    `count(x)` for x outside the predicate columns only when every
  *    covered file declares ZERO x-nulls; `min/max` only on a FILTER
  *    column with integral/temporal types ([[ManifestAgg.exactMinMax]]
  *    — float ±0.0 widening and string truncation make footer extrema
  *    inexact), and only where every OTHER predicate column is
  *    null-free in the file (else its footer extremum may belong to a
  *    disqualified row — degrade to scanned);
  *  - at least one file must actually be covered — otherwise the
  *    rewrite buys nothing over the stock zone-map-pruned scan.
  *
  * Cost model at 100 TB: the classification is one CACHED footer sweep
  * over the version's files (shared with zone-map pruning —
  * [[SnapshotLog.cachedHarvest]]), the covered answer is driver
  * arithmetic, and the only distributed work is the boundary-file scan
  * with the predicate pushed into parquet. */
case class PushFilteredAggToManifest(spark: SparkSession) extends Rule[LogicalPlan] {

  private object SnapRel {
    def unapply(plan: LogicalPlan): Option[SnapshotParquetTable] = plan match {
      case r: DataSourceV2Relation => r.table match {
        case t: SnapshotParquetTable => Some(t)
        case _ => None
      }
      case SubqueryAlias(_, child) => unapply(child)
      case _ => None
    }
  }

  /** One side of the range: value (catalyst form) + inclusivity. */
  private final case class Bound(v: Any, inclusive: Boolean)

  /** An attribute, possibly under a NO-OP same-type cast (what the IN
    * type-coercion rule inserts even when the column already has the
    * list's common type). */
  private object SameTypeAttr {
    def unapply(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference => Some(a)
      case c: org.apache.spark.sql.catalyst.expressions.Cast
          if c.dataType == c.child.dataType => unapply(c.child)
      case _ => None
    }
  }

  /** ADVISORY rewrite wrapper: an expected bail returns None inside
    * `body` (the gates above), but any THROWN failure is a rewrite bug
    * — degrade to the untouched plan (the stock scan still answers
    * correctly) AND log it, so advisory degradation stays observable:
    * a silent `Try(...).toOption` made genuine rewrite bugs
    * undiagnosable (the counters never move, nothing records why). */
  private def advisory(orig: Aggregate, what: String)
      (body: => Option[LogicalPlan]): LogicalPlan =
    try body.getOrElse(orig)
    catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"$what footer-agg rewrite threw — degrading to the stock plan", e)
        orig
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!spark.conf.get("spark.graft.aggPushdown.filtered", "true").toBoolean)
      return plan
    plan resolveOperatorsUp {
      case agg @ Aggregate(Seq(), aggExprs, Filter(cond, SnapRel(tbl)), _)
          if agg.resolved && tbl.filePaths.nonEmpty =>
        advisory(agg, "filtered")(tryRewrite(agg, aggExprs, cond, tbl))
      // the UNFILTERED twin: (a) DV-carrying versions — clean versions
      // answer count/min/max zero-job through the DSv2 ManifestAgg
      // path, but that path never sees a DV version (it routes to the
      // DV-applying read), so `SELECT count(*) FROM t` over a table
      // with ONE stray delete used to pay a full scan; (b) SUM/AVG on
      // ANY version — ManifestAgg cannot serve sums (footers don't
      // carry them), the sidecar can. Covered files answer from
      // metadata, DV / sidecar-missing files scan; the no-sums-no-DVs
      // case bails inside so ManifestAgg keeps its zero-job plan.
      case agg @ Aggregate(Seq(), aggExprs, SnapRel(tbl), _)
          if agg.resolved && tbl.filePaths.nonEmpty =>
        advisory(agg, "unfiltered")(tryRewriteUnfiltered(agg, aggExprs, tbl))
      // GROUP BY the cluster column: on a CLUSTER BY k layout every
      // point file (footer min = max) IS one whole group, so the
      // rollup `SELECT k, count(*), min/max(c) … GROUP BY k` — the
      // per-partition-stats shape Spark always full-scans — answers
      // from footers for point files and scans only the rest. An
      // optional WHERE on the group column composes: out-of-range
      // point files SKIP, in-range ones still cover.
      case agg @ Aggregate(Seq(g: AttributeReference), aggExprs, SnapRel(tbl), _)
          if agg.resolved && tbl.filePaths.nonEmpty =>
        advisory(agg, "grouped")(tryRewriteGrouped(agg, g, aggExprs, None, tbl))
      case agg @ Aggregate(Seq(g: AttributeReference), aggExprs,
          Filter(cond, SnapRel(tbl)), _)
          if agg.resolved && tbl.filePaths.nonEmpty =>
        advisory(agg, "grouped-filtered")(
          tryRewriteGrouped(agg, g, aggExprs, Some(cond), tbl))
    }
  }

  /** `SELECT k, count(*)/count(x)/min(c)/max(c) FROM t GROUP BY k`:
    * a file whose footer interval on k is a POINT with zero k-nulls
    * holds exactly one group, so ALL its aggregates are per-file
    * footer facts — count(*) = rows, count(x) = rows − x-nulls,
    * min/max(c) = the file's own extrema (the file IS the group, so
    * extrema need no predicate discipline — just exact-footer types
    * and complete stats). Multi-valued, null-carrying, DV-carrying or
    * stats-less files scan (through the DV-applying read when needed)
    * and fold with the footer partials under one final GROUP BY.
    *
    * WHY the GROUP column may be ANY orderable type — including the
    * string/float types the exact-extrema paths gate out — the PINCH
    * invariant: footer stats are BOUNDS (footerMin ≤ every value ≤
    * footerMax), so footerMin = footerMax = v forces every value in
    * the file to equal v exactly, whatever truncation or widening
    * produced the bounds. String truncation only loosens bounds
    * (shortened min, incremented max) — a truncated point can never
    * be reported where values differ. Float/double bounds hold under
    * the SAME total order classification uses: the interpreted
    * ordering for Float/Double IS Spark's SQL order
    * ([[org.apache.spark.sql.catalyst.util.SQLOrderingUtil]]:
    * −0.0 = +0.0, NaN largest, NaN = NaN), parquet writes NaN as the
    * max under that order, AND parquet-java's read path suppresses
    * float stats entirely when NaN contaminated them (the NaN file
    * harvests stats-less → always scans, never covers or skips) while
    * widening zeros (read min −0.0 / max +0.0) — so an all-zero file
    * is still an equiv-point and the final fold's GROUP BY normalizes
    * the emitted −0.0 key exactly like the stock plan. Pinned by the
    * string/float tests in FilteredAggSpec. */
  private def tryRewriteGrouped(orig: Aggregate, g: AttributeReference,
      aggExprs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
      cond: Option[Expression],
      tbl: SnapshotParquetTable): Option[LogicalPlan] = {
    val schema = tbl.schema()
    if (!schema.fieldNames.contains(g.name) ||
        !Metastore.isOrderable(schema(g.name).dataType)) return None
    // CHEAP PRE-GATE (planning latency): classification costs a footer
    // harvest job over O(files), but pays off only on a point-file
    // layout. Harvest when the table DECLARES g as a cluster column,
    // or is small enough that a wasted sweep is cheap — a large
    // undeclared layout keeps the stock rollup without paying a
    // first-query planning job per group column.
    val groupedMaxFiles = spark.conf
      .get("spark.graft.aggPushdown.groupedMaxFiles", "4096").toInt
    if (tbl.filePaths.size > groupedMaxFiles &&
        !SnapshotLog.clusterByOf(spark, tbl.tablePath).contains(g.name))
      return None
    sealed trait OutKind
    case object GroupRef extends OutKind
    case object CountStar extends OutKind
    final case class CountCol(name: String) extends OutKind
    final case class MinC(name: String) extends OutKind
    final case class MaxC(name: String) extends OutKind
    final case class SumC(name: String) extends OutKind
    final case class AvgC(name: String) extends OutKind
    def colName(e: Expression): Option[String] = e match {
      case a: AttributeReference if schema.fieldNames.contains(a.name) => Some(a.name)
      case _ => None
    }
    def exactCol(e: Expression): Option[String] =
      colName(e).filter(n => ManifestAgg.exactMinMaxType(schema(n).dataType))
    // SUM/AVG over a point file = the file's sidecar sum/count
    // ([[SnapshotLog.collectAggStats]] — the file IS the group, and
    // zero g-nulls means every row belongs): integral columns, LEGACY
    // or ANSI eval (exact decimal-collected sums; see the unfiltered
    // arm's parity note), sidecar row present — a miss degrades that
    // file to scanned
    def sumCol(e: Expression): Option[String] =
      colName(e).filter(n => SnapshotLog.aggStatsIntegral.contains(schema(n).dataType))
    val kinds: Seq[OutKind] = aggExprs.map {
      case a: AttributeReference if a.semanticEquals(g) => GroupRef
      case Alias(a: AttributeReference, _) if a.semanticEquals(g) => GroupRef
      case Alias(AggregateExpression(fn, _, false, None, _), _) => fn match {
        case Count(Seq(l: Literal)) if l.value != null => CountStar
        case Count(Seq(e)) => CountCol(colName(e).getOrElse(return None))
        case Min(e) => MinC(exactCol(e).getOrElse(return None))
        case Max(e) => MaxC(exactCol(e).getOrElse(return None))
        case s: Sum if s.evalContext.evalMode != EvalMode.TRY =>
          SumC(sumCol(s.child).getOrElse(return None))
        case a: Average if a.evalMode != EvalMode.TRY =>
          AvgC(sumCol(a.child).getOrElse(return None))
        case _ => return None
      }
      case _ => return None
    }
    if (!kinds.contains(GroupRef)) return None // k must ride the output
    val sumColsG = kinds.collect { case SumC(n) => n; case AvgC(n) => n }.distinct
    lazy val fsQual = SnapshotLog.fsOf(spark, tbl.tablePath)._1
    def qualified(p: String): String = fsQual.makeQualified(new Path(p)).toString
    val sumStats: Map[String, Map[String, (Option[Long], Long)]] =
      sumColsG.map(n => n -> SnapshotLog.aggStatsMap(spark, tbl.tablePath, n)).toMap
    if (sumColsG.nonEmpty && sumStats.values.forall(_.isEmpty)) return None
    val dvRel = tbl.dvFiles.keySet
    def hasDv(path: String): Boolean =
      dvRel.contains(SnapshotTable.relOf(new Path(path).toUri.getPath))
    val gDt = schema(g.name).dataType
    val gOrd = TypeUtils.getInterpretedOrdering(gDt)
    val gToC = CatalystTypeConverters.createToCatalystConverter(gDt)
    val gFromC = CatalystTypeConverters.createToScalaConverter(gDt)

    // ── optional predicate, on the GROUP column only ──────────────────
    // the same conjunct grammar as the filtered path, restricted to g:
    // bounds/sets in catalyst form; any other column or shape bails
    var gLo: Option[Bound] = None
    var gHi: Option[Bound] = None
    var gSet: Option[Set[Any]] = None
    if (cond.isDefined) {
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case w: org.apache.spark.sql.catalyst.expressions.With =>
          val byId = w.defs.map(d => d.id -> d.child).toMap
          conjuncts(w.child.transform {
            case r: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef =>
              byId.getOrElse(r.id, r)
          })
        case rr: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable =>
          conjuncts(rr.replacement)
        case other => Seq(other)
      }
      def litOf(e: Expression): Option[Literal] = e match {
        case l: Literal => Some(l)
        case c if c.foldable =>
          try Some(Literal.create(c.eval(), c.dataType))
          catch { case scala.util.control.NonFatal(_) => None }
        case _ => None
      }
      def cv(l: Expression): Option[Any] = litOf(l).flatMap { x =>
        if (x.value == null) None
        else if (x.dataType == gDt) Some(x.value)
        else Option(org.apache.spark.sql.catalyst.expressions
          .Cast(x, gDt, ansiEnabled = false).eval())
      }
      def isG(e: Expression): Boolean = e match {
        case a: AttributeReference => a.semanticEquals(g)
        case _ => false
      }
      def tLo(v: Any, incl: Boolean): Unit = gLo = gLo match {
        case Some(x) if gOrd.gt(x.v, v) || (gOrd.equiv(x.v, v) && !x.inclusive) => gLo
        case _ => Some(Bound(v, incl))
      }
      def tHi(v: Any, incl: Boolean): Unit = gHi = gHi match {
        case Some(x) if gOrd.lt(x.v, v) || (gOrd.equiv(x.v, v) && !x.inclusive) => gHi
        case _ => Some(Bound(v, incl))
      }
      for (c <- conjuncts(cond.get)) c match {
        case IsNotNull(a) if isG(a) => ()
        case GreaterThan(a, l) if isG(a) && cv(l).isDefined => tLo(cv(l).get, incl = false)
        case GreaterThanOrEqual(a, l) if isG(a) && cv(l).isDefined => tLo(cv(l).get, incl = true)
        case LessThan(a, l) if isG(a) && cv(l).isDefined => tHi(cv(l).get, incl = false)
        case LessThanOrEqual(a, l) if isG(a) && cv(l).isDefined => tHi(cv(l).get, incl = true)
        case EqualTo(a, l) if isG(a) && cv(l).isDefined =>
          tLo(cv(l).get, incl = true); tHi(cv(l).get, incl = true)
        case GreaterThan(l, a) if isG(a) && cv(l).isDefined => tHi(cv(l).get, incl = false)
        case GreaterThanOrEqual(l, a) if isG(a) && cv(l).isDefined => tHi(cv(l).get, incl = true)
        case LessThan(l, a) if isG(a) && cv(l).isDefined => tLo(cv(l).get, incl = false)
        case LessThanOrEqual(l, a) if isG(a) && cv(l).isDefined => tLo(cv(l).get, incl = true)
        case EqualTo(l, a) if isG(a) && cv(l).isDefined =>
          tLo(cv(l).get, incl = true); tHi(cv(l).get, incl = true)
        case In(SameTypeAttr(a), list) if isG(a) && list.nonEmpty =>
          val lits = list.map(litOf)
          if (lits.exists(_.isEmpty)) return None
          // NULL members never satisfy a filter — they fold away
          val flat = lits.flatten.flatMap(cv)
          if (flat.isEmpty) return None
          gSet = Some(gSet.fold(flat.toSet)(_ intersect flat.toSet))
        case _ => return None
      }
      if (gLo.isEmpty && gHi.isEmpty && gSet.isEmpty) return None
    }
    def belowLo(v: Any): Boolean = gLo.exists(b =>
      gOrd.lt(v, b.v) || (!b.inclusive && gOrd.equiv(v, b.v)))
    def aboveHi(v: Any): Boolean = gHi.exists(b =>
      gOrd.gt(v, b.v) || (!b.inclusive && gOrd.equiv(v, b.v)))
    def setMiss(mn: Any, mx: Any): Boolean = gSet.exists(s =>
      !s.exists(v => !gOrd.lt(v, mn) && !gOrd.gt(v, mx)))
    def pointPasses(v: Any): Boolean =
      !belowLo(v) && !aboveHi(v) && gSet.forall(_.exists(m => gOrd.equiv(m, v)))

    val gStats = SnapshotLog.cachedHarvest(spark, tbl.filePaths, g.name, gDt)
      .map(st => st.path -> st).toMap
    // point files (one group each, zero k-nulls, clean, predicate-
    // passing) cover; predicate-disjoint files skip; the rest scans
    val covered = Seq.newBuilder[StatsAgg.FileStats]
    val scanned = Seq.newBuilder[String]
    var skippedN = 0
    for (path <- tbl.filePaths) gStats.get(path) match {
      case Some(StatsAgg.FileStats(_, rows, Some(nulls), _, _))
          if cond.isDefined && rows >= 0 && nulls == rows =>
        skippedN += 1 // every row NULL: a g-predicate matches none
      case Some(StatsAgg.FileStats(_, rows, _, Some(mn), Some(mx)))
          if cond.isDefined && rows >= 0 &&
            (aboveHi(gToC(mn)) || belowLo(gToC(mx)) || setMiss(gToC(mn), gToC(mx))) =>
        skippedN += 1 // interval disjoint from the predicate
      case Some(st @ StatsAgg.FileStats(_, rows, Some(0L), Some(mn), Some(mx)))
          if rows >= 0 && !hasDv(path) && gOrd.equiv(gToC(mn), gToC(mx)) &&
            (cond.isEmpty || pointPasses(gToC(mn))) =>
        covered += st
      case _ => scanned += path
    }
    val cov = covered.result()
    val scan = scanned.result()
    if (cov.isEmpty) return None // unclustered layout: the stock rollup
    // secondary columns' footer facts over the covered files; any
    // incompleteness degrades THAT file to scanned — resolved by
    // re-classifying with the offending files removed (one retry is
    // enough: the needed-column set is fixed by the aggregate list)
    val needCols = kinds.collect {
      case CountCol(n) if n != g.name => n
      case MinC(n) if n != g.name => n
      case MaxC(n) if n != g.name => n
    }.distinct
    val statsBy = needCols.map(n => n ->
      SnapshotLog.cachedHarvest(spark, cov.map(_.path), n, schema(n).dataType)
        .map(st => st.path -> st).toMap).toMap
    def complete(path: String): Boolean = needCols.forall { n =>
      statsBy(n).get(path).exists(s => s.rows >= 0 && s.nulls.isDefined &&
        (kinds.forall { case MinC(`n`) | MaxC(`n`) =>
          s.min.isDefined && s.max.isDefined || s.nulls.contains(s.rows)
          case _ => true }))
    } && sumColsG.forall(n => sumStats(n).contains(qualified(path)))
    val (covOk, covDegraded) = cov.partition(s => complete(s.path))
    if (covOk.isEmpty) return None
    val scanAll = scan ++ covDegraded.map(_.path)
    if (kinds.count(_ == GroupRef) != 1) return None
    // one partial row per covered FILE (the final GROUP BY folds files
    // sharing a k — a compacted layout has one, an append-era one
    // many); harvest values are already in external (scala) form.
    // AVG partials ride as (sum, count) PAIRS — a partial average
    // cannot fold — so every stage walks the same per-kind 1-or-2
    // field layout; the final fold emits one column per kind
    def sideOf(n: String, path: String): (Option[Long], Long) =
      sumStats(n)(qualified(path))
    val coveredRows: Seq[Row] = covOk.map { st =>
      Row.fromSeq(kinds.flatMap {
        case GroupRef => Seq(st.min.get) // = max (the point)
        case CountStar => Seq(st.rows)
        case CountCol(x) =>
          if (x == g.name) Seq(st.rows)
          else Seq(st.rows - statsBy(x)(st.path).nulls.get)
        case MinC(x) =>
          if (x == g.name) Seq(st.min.get)
          else Seq(statsBy(x)(st.path).min.orNull) // all-null file: null, like MIN
        case MaxC(x) =>
          if (x == g.name) Seq(st.max.get)
          else Seq(statsBy(x)(st.path).max.orNull)
        case SumC(x) => Seq(sideOf(x, st.path)._1.map(Long.box).orNull)
        case AvgC(x) =>
          val (s, c) = sideOf(x, st.path)
          Seq(s.map(Long.box).orNull, c)
      })
    }
    val partialSchema = StructType(kinds.zipWithIndex.flatMap {
      case (GroupRef, i) => Seq(StructField(s"_a$i", gDt))
      case (CountStar | CountCol(_), i) => Seq(StructField(s"_a$i", LongType))
      case (MinC(n), i) => Seq(StructField(s"_a$i", schema(n).dataType))
      case (MaxC(n), i) => Seq(StructField(s"_a$i", schema(n).dataType))
      case (SumC(_), i) => Seq(StructField(s"_a$i", LongType))
      case (AvgC(_), i) => Seq(StructField(s"_a${i}s", LongType),
        StructField(s"_a${i}c", LongType))
    })
    // one output column per kind (the AVG pair folds to a single
    // double): the shape the final select and the orig-output zip use
    val finalNames = kinds.zipWithIndex.map { case (_, i) => s"_a$i" }
    import scala.jdk.CollectionConverters._
    val coveredDf = spark.createDataFrame(coveredRows.asJava, partialSchema)
    val gi = kinds.indexOf(GroupRef)
    val parts =
      if (scanAll.isEmpty) coveredDf
      else {
        val partials = kinds.zipWithIndex.flatMap {
          case (CountStar, i) => Seq(count(lit(1)).as(s"_a$i"))
          case (CountCol(x), i) => Seq(count(col(x)).as(s"_a$i"))
          case (MinC(x), i) => Seq(min(col(x)).as(s"_a$i"))
          case (MaxC(x), i) => Seq(max(col(x)).as(s"_a$i"))
          case (SumC(x), i) => Seq(sum(col(x)).cast(LongType).as(s"_a$i"))
          case (AvgC(x), i) => Seq(sum(col(x)).cast(LongType).as(s"_a${i}s"),
            count(col(x)).as(s"_a${i}c"))
          case (GroupRef, _) => Nil
        }
        val base0 = tbl.vectorizedRead(spark, scanAll)
        // the predicate REBUILT from the extracted g-bounds (provably
        // the whole condition — every conjunct folded into them)
        val base =
          if (cond.isEmpty) base0
          else {
            var pred = col(g.name).isNotNull
            gLo.foreach(b => pred = pred && (
              if (b.inclusive) col(g.name) >= lit(gFromC(b.v))
              else col(g.name) > lit(gFromC(b.v))))
            gHi.foreach(b => pred = pred && (
              if (b.inclusive) col(g.name) <= lit(gFromC(b.v))
              else col(g.name) < lit(gFromC(b.v))))
            gSet.foreach(s =>
              pred = pred && col(g.name).isin(s.toSeq.map(gFromC): _*))
            base0.where(pred)
          }
        val gb = base.groupBy(col(g.name).as(s"_a$gi"))
        val scanDf =
          (if (partials.isEmpty) gb.agg(count(lit(1)).as("_drop")).drop("_drop")
           else gb.agg(partials.head, partials.tail: _*))
            .select(partialSchema.fieldNames.map(col): _*)
        coveredDf.unionByName(scanDf)
      }
    val folds = kinds.zipWithIndex.collect {
      case (CountStar | CountCol(_), i) => sum(col(s"_a$i")).as(s"_a$i")
      case (MinC(_), i) => min(col(s"_a$i")).as(s"_a$i")
      case (MaxC(_), i) => max(col(s"_a$i")).as(s"_a$i")
      // sum folds null-skipping (an all-null-x group stays null, like
      // Spark); avg = Σsum/Σcount, long division → double exactly like
      // Average's own eval, null on zero count via legacy divide
      case (SumC(_), i) => sum(col(s"_a$i")).as(s"_a$i")
      case (AvgC(_), i) => (sum(col(s"_a${i}s")) / nullif(sum(col(s"_a${i}c")), lit(0L))).as(s"_a$i")
    }
    val grouped = parts.groupBy(col(s"_a$gi"))
    val finalDf =
      (if (folds.isEmpty) grouped.agg(count(lit(1)).as("_drop")).drop("_drop")
       else grouped.agg(folds.head, folds.tail: _*))
        .select(finalNames.map(col): _*)
    PushFilteredAggToManifest.served.incrementAndGet()
    PushFilteredAggToManifest.coveredFiles.addAndGet(covOk.size.toLong)
    PushFilteredAggToManifest.scannedFiles.addAndGet(scanAll.size.toLong)
    logInfo(s"grouped manifest agg on ${g.name}: covered=${covOk.size} " +
      s"scanned=${scanAll.size} of ${tbl.filePaths.size} files")
    val child = finalDf.queryExecution.analyzed
    Some(Project(orig.output.zip(child.output).map { case (o, r) =>
      Alias(r, o.name)(exprId = o.exprId)
    }, child))
  }

  /** `SELECT count/min/max FROM t` (no WHERE) over a DV-carrying
    * version: per-file classification — clean files with complete
    * footer stats are covered, DV-carrying or stats-less files scan
    * through the DV-applying read. Extrema are allowed on any
    * exact-footer-type column (no predicate exists to disqualify
    * rows, and parquet footer extrema skip nulls exactly like
    * MIN/MAX); count(x) answers rows − x-nulls per covered file. */
  private def tryRewriteUnfiltered(orig: Aggregate,
      aggExprs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
      tbl: SnapshotParquetTable): Option[LogicalPlan] = {
    val schema = tbl.schema()
    sealed trait AggKind
    case object CountStar extends AggKind
    final case class CountCol(name: String) extends AggKind
    final case class MinC(name: String) extends AggKind
    final case class MaxC(name: String) extends AggKind
    final case class SumC(name: String) extends AggKind
    final case class AvgC(name: String) extends AggKind
    def colName(e: Expression): Option[String] = e match {
      case a: AttributeReference if schema.fieldNames.contains(a.name) => Some(a.name)
      case _ => None
    }
    def exactCol(e: Expression): Option[String] =
      colName(e).filter(n => ManifestAgg.exactMinMaxType(schema(n).dataType))
    def sumCol(e: Expression): Option[String] =
      colName(e).filter(n => SnapshotLog.aggStatsIntegral.contains(schema(n).dataType))
    val kinds: Seq[AggKind] = aggExprs.map {
      case Alias(AggregateExpression(fn, _, false, None, _), _) => fn match {
        case Count(Seq(l: Literal)) if l.value != null => CountStar
        case Count(Seq(e)) => CountCol(colName(e).getOrElse(return None))
        case Min(e) => MinC(exactCol(e).getOrElse(return None))
        case Max(e) => MaxC(exactCol(e).getOrElse(return None))
        case s: Sum if s.evalContext.evalMode != EvalMode.TRY =>
          SumC(sumCol(s.child).getOrElse(return None))
        case a: Average if a.evalMode != EvalMode.TRY =>
          AvgC(sumCol(a.child).getOrElse(return None))
        case _ => return None
      }
      case _ => return None
    }
    val sumColsU = kinds.collect { case SumC(n) => n; case AvgC(n) => n }.distinct
    val dvRel = tbl.dvFiles.keySet
    def hasDv(path: String): Boolean =
      dvRel.contains(SnapshotTable.relOf(new Path(path).toUri.getPath))
    // without sums, a CLEAN version's count/min/max belongs to the
    // zero-job DSv2 ManifestAgg path — this arm exists for the DV
    // split and for the sum shapes footers can never serve
    if (sumColsU.isEmpty && tbl.dvFiles.isEmpty) return None
    lazy val fsQual = SnapshotLog.fsOf(spark, tbl.tablePath)._1
    def qualified(p: String): String = fsQual.makeQualified(new Path(p)).toString
    val sumStats: Map[String, Map[String, (Option[Long], Long)]] =
      sumColsU.map(n => n -> SnapshotLog.aggStatsMap(spark, tbl.tablePath, n)).toMap
    if (sumColsU.nonEmpty && sumStats.values.forall(_.isEmpty)) return None
    // covered = clean files with every needed sidecar row; DV files and
    // sidecar-missing files scan (through the DV-applying read when any
    // DV file is among them)
    val (covered, scanned) = tbl.filePaths.partition(p =>
      !hasDv(p) && sumColsU.forall(n => sumStats(n).contains(qualified(p))))
    if (covered.isEmpty) return None
    val scan = scanned
    // covered partials from cached footers; any incompleteness bails to
    // the stock plan (the vectorize rule takes the relation in the same
    // fixed-point iteration)
    val statsBy = scala.collection.mutable.Map.empty[String, Seq[StatsAgg.FileStats]]
    def statsFor(n: String): Option[Seq[StatsAgg.FileStats]] = {
      val st = statsBy.getOrElseUpdate(n,
        SnapshotLog.cachedHarvest(spark, covered, n, schema(n).dataType))
      if (st.forall(s => s.rows >= 0L && s.nulls.isDefined)) Some(st) else None
    }
    def rowsTotal: Option[Long] = {
      val st = statsBy.getOrElseUpdate(schema.fields.head.name,
        SnapshotLog.cachedHarvest(spark, covered, schema.fields.head.name,
          schema.fields.head.dataType))
      if (st.forall(_.rows >= 0L)) Some(st.map(_.rows).sum) else None
    }
    def extremum(n: String, wantMax: Boolean): Option[Any] =
      statsFor(n).filter(_.forall(_.boundsKnown)).map { st =>
        val toC = CatalystTypeConverters.createToCatalystConverter(schema(n).dataType)
        val fromC = CatalystTypeConverters.createToScalaConverter(schema(n).dataType)
        val ord = TypeUtils.getInterpretedOrdering(schema(n).dataType)
        // all-null files carry no extrema — they contribute nothing,
        // exactly like MIN/MAX's null skipping
        val vals = st.flatMap(s => if (wantMax) s.max else s.min).map(toC)
        if (vals.isEmpty) null
        else fromC(if (wantMax) vals.max(ord) else vals.min(ord))
      }
    def sidecarSum(n: String): Option[Long] = {
      val present = covered.flatMap(p => sumStats(n)(qualified(p))._1)
      if (present.isEmpty) None else Some(present.sum)
    }
    def sidecarCnt(n: String): Long =
      covered.map(p => sumStats(n)(qualified(p))._2).sum
    val coveredRow = Row.fromSeq(kinds.flatMap {
      case CountStar => Seq(rowsTotal.getOrElse(return None))
      case CountCol(n) => Seq(statsFor(n).getOrElse(return None)
        .map(s => s.rows - s.nulls.get).sum)
      case MinC(n) => Seq(extremum(n, wantMax = false).getOrElse(return None))
      case MaxC(n) => Seq(extremum(n, wantMax = true).getOrElse(return None))
      case SumC(n) => Seq(sidecarSum(n).map(Long.box).orNull)
      case AvgC(n) => Seq(sidecarSum(n).map(Long.box).orNull, sidecarCnt(n))
    })
    val partialSchema = StructType(kinds.zipWithIndex.flatMap {
      case (CountStar | CountCol(_), i) => Seq(StructField(s"_a$i", LongType))
      case (MinC(n), i) => Seq(StructField(s"_a$i", schema(n).dataType))
      case (MaxC(n), i) => Seq(StructField(s"_a$i", schema(n).dataType))
      case (SumC(_), i) => Seq(StructField(s"_a$i", LongType))
      case (AvgC(_), i) => Seq(StructField(s"_a${i}s", LongType),
        StructField(s"_a${i}c", LongType))
    })
    val coveredDf = spark.createDataFrame(
      java.util.Collections.singletonList(coveredRow), partialSchema)
    val parts =
      if (scan.isEmpty) coveredDf
      else {
        val partials = kinds.zipWithIndex.flatMap {
          case (CountStar, i) => Seq(count(lit(1)).as(s"_a$i"))
          case (CountCol(x), i) => Seq(count(col(x)).as(s"_a$i"))
          case (MinC(x), i) => Seq(min(col(x)).as(s"_a$i"))
          case (MaxC(x), i) => Seq(max(col(x)).as(s"_a$i"))
          case (SumC(x), i) => Seq(sum(col(x)).cast(LongType).as(s"_a$i"))
          case (AvgC(x), i) => Seq(sum(col(x)).cast(LongType).as(s"_a${i}s"),
            count(col(x)).as(s"_a${i}c"))
        }
        coveredDf.unionByName(tbl.vectorizedRead(spark, scan).agg(partials.head, partials.tail: _*))
      }
    val folds = kinds.zipWithIndex.map {
      case (CountStar | CountCol(_), i) => coalesce(sum(col(s"_a$i")), lit(0L)).as(s"_a$i")
      case (MinC(_), i) => min(col(s"_a$i")).as(s"_a$i")
      case (MaxC(_), i) => max(col(s"_a$i")).as(s"_a$i")
      case (SumC(_), i) => sum(col(s"_a$i")).as(s"_a$i")
      case (AvgC(_), i) => (sum(col(s"_a${i}s")) / nullif(sum(col(s"_a${i}c")), lit(0L))).as(s"_a$i")
    }
    val finalDf = parts.agg(folds.head, folds.tail: _*)
    PushFilteredAggToManifest.served.incrementAndGet()
    PushFilteredAggToManifest.coveredFiles.addAndGet(covered.size.toLong)
    PushFilteredAggToManifest.scannedFiles.addAndGet(scan.size.toLong)
    logInfo(s"unfiltered manifest agg: covered=${covered.size} " +
      s"scanned=${scan.size} of ${tbl.filePaths.size} files")
    val child = finalDf.queryExecution.analyzed
    Some(Project(orig.output.zip(child.output).map { case (o, r) =>
      Alias(r, o.name)(exprId = o.exprId)
    }, child))
  }

  private def tryRewrite(orig: Aggregate,
                         aggExprs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
                         cond: Expression,
                         tbl: SnapshotParquetTable): Option[LogicalPlan] = {
    val schema = tbl.schema()

    // ── predicate shape: conjuncts of comparisons on ONE column ──────
    // RuntimeReplaceable expands first: `x BETWEEN a AND b` survives
    // analysis as a `Between` node whose replacement is a `With`
    // common-expression wrapper over `a <= ref AND ref <= b` — inline
    // the refs so the matcher sees the plain conjunction
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case w: org.apache.spark.sql.catalyst.expressions.With =>
        val byId = w.defs.map(d => d.id -> d.child).toMap
        conjuncts(w.child.transform {
          case r: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef =>
            byId.getOrElse(r.id, r)
        })
      case rr: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable =>
        conjuncts(rr.replacement)
      case other => Seq(other)
    }
    def litOf(e: Expression): Option[Literal] = e match {
      case l: Literal => Some(l)
      case c if c.foldable =>
        // current_timestamp()/current_date()/localtimestamp are foldable
        // yet Unevaluable until the optimizer substitutes them — this
        // rule runs at RESOLUTION, so eval() may throw; treat such a
        // conjunct as non-literal (the matcher bails, stock scan runs)
        try Some(Literal.create(c.eval(), c.dataType))
        catch { case scala.util.control.NonFatal(_) => None }
      case _ => None
    }
    // ── per-column bounds: conjuncts may reference SEVERAL columns ───
    // (the Z-order payoff: a compactZ'd table has tight footer
    // intervals on every Z dimension, so a two-column range can cover
    // interior files on both)
    final class ColBounds {
      var lo: Option[Bound] = None
      var hi: Option[Bound] = None
      var set: Option[Set[Any]] = None // IN-list / OR-of-points members
      var notNullOnly = true // becomes false once a range/set bound lands
    }
    val bounds = scala.collection.mutable.LinkedHashMap.empty[String, ColBounds]
    def boundsOf(n: String): ColBounds = bounds.getOrElseUpdate(n, new ColBounds)
    val ordBy = scala.collection.mutable.Map.empty[String, Ordering[Any]]
    def ordOf(n: String): Ordering[Any] = ordBy.getOrElseUpdate(n,
      TypeUtils.getInterpretedOrdering(schema(n).dataType))
    def known(a: AttributeReference): Boolean =
      schema.fieldNames.contains(a.name) && Metastore.isOrderable(schema(a.name).dataType)
    def tightenLo(n: String, v: Any, incl: Boolean): Unit = {
      val b = boundsOf(n); b.notNullOnly = false
      b.lo = b.lo match {
        case Some(x) if ordOf(n).gt(x.v, v) || (ordOf(n).equiv(x.v, v) && !x.inclusive) => b.lo
        case _ => Some(Bound(v, incl))
      }
    }
    def tightenHi(n: String, v: Any, incl: Boolean): Unit = {
      val b = boundsOf(n); b.notNullOnly = false
      b.hi = b.hi match {
        case Some(x) if ordOf(n).lt(x.v, v) || (ordOf(n).equiv(x.v, v) && !x.inclusive) => b.hi
        case _ => Some(Bound(v, incl))
      }
    }
    def tightenSet(n: String, vs: Set[Any]): Unit = {
      val b = boundsOf(n); b.notNullOnly = false
      // two IN conjuncts on one column intersect (set equality is by
      // catalyst-value equality — exact for the orderable types known()
      // admits)
      b.set = Some(b.set.fold(vs)(_ intersect vs))
    }
    // literal values arrive in CATALYST form but must be cast to the
    // COLUMN's type before comparing against (converted) footer stats
    def catVal(l: Literal, dt: DataType): Option[Any] =
      if (l.value == null) None
      else if (l.dataType == dt) Some(l.value)
      else {
        val c = org.apache.spark.sql.catalyst.expressions.Cast(l, dt,
          ansiEnabled = false)
        Option(c.eval())
      }
    def cv(a: AttributeReference, l: Expression): Option[Any] =
      litOf(l).flatMap(x => catVal(x, schema(a.name).dataType))
    for (c <- conjuncts(cond)) c match {
      case IsNotNull(a: AttributeReference) if known(a) =>
        boundsOf(a.name); () // registers the null requirement alone
      case GreaterThan(a: AttributeReference, l) if known(a) && cv(a, l).isDefined =>
        tightenLo(a.name, cv(a, l).get, incl = false)
      case GreaterThanOrEqual(a: AttributeReference, l) if known(a) && cv(a, l).isDefined =>
        tightenLo(a.name, cv(a, l).get, incl = true)
      case LessThan(a: AttributeReference, l) if known(a) && cv(a, l).isDefined =>
        tightenHi(a.name, cv(a, l).get, incl = false)
      case LessThanOrEqual(a: AttributeReference, l) if known(a) && cv(a, l).isDefined =>
        tightenHi(a.name, cv(a, l).get, incl = true)
      case EqualTo(a: AttributeReference, l) if known(a) && cv(a, l).isDefined =>
        tightenLo(a.name, cv(a, l).get, incl = true)
        tightenHi(a.name, cv(a, l).get, incl = true)
      // mirrored literal-first forms
      case GreaterThan(l, a: AttributeReference) if known(a) && cv(a, l).isDefined =>
        tightenHi(a.name, cv(a, l).get, incl = false)
      case GreaterThanOrEqual(l, a: AttributeReference) if known(a) && cv(a, l).isDefined =>
        tightenHi(a.name, cv(a, l).get, incl = true)
      case LessThan(l, a: AttributeReference) if known(a) && cv(a, l).isDefined =>
        tightenLo(a.name, cv(a, l).get, incl = false)
      case LessThanOrEqual(l, a: AttributeReference) if known(a) && cv(a, l).isDefined =>
        tightenLo(a.name, cv(a, l).get, incl = true)
      case EqualTo(l, a: AttributeReference) if known(a) && cv(a, l).isDefined =>
        tightenLo(a.name, cv(a, l).get, incl = true)
        tightenHi(a.name, cv(a, l).get, incl = true)
      // IN-list: the maintenance shape `count(*) WHERE k IN (…)`. The
      // IN coercion wraps the attribute in a NO-OP cast to the common
      // type (`cast(k AS bigint) IN (…)` for a bigint k) — unwrap it.
      // NULL members never SATISFY a filter (`x IN (1,NULL)` is TRUE
      // only on a genuine match, else NULL → dropped) so they fold
      // away; a list that folds to nothing matches no row — bail
      case In(SameTypeAttr(a), list) if known(a) && list.nonEmpty =>
        val lits = list.map(litOf)
        if (lits.exists(_.isEmpty)) return None
        val vs = lits.flatten.flatMap(l => catVal(l, schema(a.name).dataType))
        if (vs.isEmpty) return None
        tightenSet(a.name, vs.toSet)
      // OR-of-equalities on ONE column ≡ IN-list
      case o: Or =>
        def points(e: Expression): Option[(String, Seq[Any])] = e match {
          case Or(l, r) => for {
            (nl, vl) <- points(l); (nr, vr) <- points(r) if nl == nr
          } yield (nl, vl ++ vr)
          case EqualTo(a: AttributeReference, l) if known(a) && cv(a, l).isDefined =>
            Some((a.name, Seq(cv(a, l).get)))
          case EqualTo(l, a: AttributeReference) if known(a) && cv(a, l).isDefined =>
            Some((a.name, Seq(cv(a, l).get)))
          case _ => None
        }
        points(o) match {
          case Some((n, vs)) => tightenSet(n, vs.toSet)
          case None => return None
        }
      case _ => return None // unknown conjunct shape: leave the plan alone
    }
    val predCols = bounds.keys.toSeq
    if (predCols.isEmpty || bounds.values.forall(_.notNullOnly))
      return None // no range anywhere: stock path

    // ── aggregate shape ──────────────────────────────────────────────
    sealed trait AggKind
    case object CountStar extends AggKind
    final case class CountCol(name: String) extends AggKind
    final case class MinC(name: String) extends AggKind
    final case class MaxC(name: String) extends AggKind
    final case class SumC(name: String) extends AggKind
    final case class AvgC(name: String) extends AggKind
    def colName(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    // SUM/AVG serve from the per-file sum SIDECAR
    // ([[SnapshotLog.collectAggStats]]), not footers: integral columns
    // only (exact, associative), LEGACY and ANSI eval (TRY bails —
    // try_sum's per-add null-absorption has no partial form). Sidecar
    // sums are EXACT whatever session collected them (decimal collect
    // + long-range refusal — SnapshotLog's eval-mode-independence
    // note), a LEGACY fold of exact partials reproduces the stock
    // wrapped total (mod-2^64 addition is associative), and an ANSI
    // fold re-checks overflow in the emitted Sum — per-file grouping
    // is a legal physical partitioning of the stock plan, whose own
    // transient-overflow detection is already partitioning-dependent.
    // A covered file missing its sidecar row degrades to scanned.
    def sumCol(e: Expression): Option[String] =
      colName(e).filter(n => schema.fieldNames.contains(n) &&
        SnapshotLog.aggStatsIntegral.contains(schema(n).dataType))
    val kinds: Seq[AggKind] = aggExprs.map {
      case Alias(AggregateExpression(fn, _, false, None, _), _) => fn match {
        case Count(Seq(l: Literal)) if l.value != null => CountStar
        case Count(Seq(e)) => CountCol(colName(e).getOrElse(return None))
        case Min(e) =>
          // extrema only on a FILTER column (any other column's extremum
          // among matching rows is not footer-derivable) and only
          // exact-footer types
          val n = colName(e).getOrElse(return None)
          if (!predCols.contains(n) || !ManifestAgg.exactMinMaxType(schema(n).dataType))
            return None
          MinC(n)
        case Max(e) =>
          val n = colName(e).getOrElse(return None)
          if (!predCols.contains(n) || !ManifestAgg.exactMinMaxType(schema(n).dataType))
            return None
          MaxC(n)
        case s: Sum if s.evalContext.evalMode != EvalMode.TRY =>
          SumC(sumCol(s.child).getOrElse(return None))
        case a: Average if a.evalMode != EvalMode.TRY =>
          AvgC(sumCol(a.child).getOrElse(return None))
        case _ => return None
      }
      case _ => return None
    }
    val extremaCols = kinds.collect { case MinC(n) => n; case MaxC(n) => n }.toSet
    val sumCols = kinds.collect { case SumC(n) => n; case AvgC(n) => n }.distinct
    // the sidecar maps load once per (table, column, sidecar version);
    // if NONE of the sum columns was ever collected, bail before any
    // footer work — the rewrite can't serve this shape
    lazy val fsQual = SnapshotLog.fsOf(spark, tbl.tablePath)._1
    def qualified(p: String): String = fsQual.makeQualified(new Path(p)).toString
    val sumStats: Map[String, Map[String, (Option[Long], Long)]] =
      sumCols.map(n => n -> SnapshotLog.aggStatsMap(spark, tbl.tablePath, n)).toMap
    if (sumCols.nonEmpty && sumStats.values.forall(_.isEmpty)) return None

    // ── classification from the shared footer cache ──────────────────
    val statsBy: Map[String, Map[String, StatsAgg.FileStats]] = predCols.map { cn =>
      cn -> SnapshotLog.cachedHarvest(spark, tbl.filePaths, cn, schema(cn).dataType)
        .map(st => st.path -> st).toMap
    }.toMap
    val toCatBy = predCols.map(cn => cn ->
      CatalystTypeConverters.createToCatalystConverter(schema(cn).dataType)).toMap
    def belowLo(cn: String, v: Any): Boolean = bounds(cn).lo.exists(b =>
      ordOf(cn).lt(v, b.v) || (!b.inclusive && ordOf(cn).equiv(v, b.v)))
    def aboveHi(cn: String, v: Any): Boolean = bounds(cn).hi.exists(b =>
      ordOf(cn).gt(v, b.v) || (!b.inclusive && ordOf(cn).equiv(v, b.v)))

    /** nulls per pred column for a covered candidate (filled in the
      * loop; only valid when the file classifies covered). */
    // DV-carrying files are never covered: their footer counts and
    // extrema include DELETED rows. Skips stay sound (deletion only
    // removes values from the interval); everything else about the file
    // degrades to scanned, through the DV-applying read below.
    val dvRel = tbl.dvFiles.keySet
    def hasDv(path: String): Boolean =
      dvRel.contains(SnapshotTable.relOf(new Path(path).toUri.getPath))
    val covered = Seq.newBuilder[(StatsAgg.FileStats, Map[String, Long])]
    val scanned = Seq.newBuilder[String]
    var skippedN = 0
    for (path <- tbl.filePaths) {
      var anySkip = false
      var allCovered = true
      val nullsBy = Map.newBuilder[String, Long]
      for (cn <- predCols if !anySkip) {
        val st = statsBy(cn)(path)
        val stringCol = schema(cn).dataType == StringType
        st match {
          case StatsAgg.FileStats(_, rows, Some(nulls), _, _) if rows >= 0 && nulls == rows =>
            anySkip = true // every row NULL: this predicate matches none
          case StatsAgg.FileStats(_, rows, nullsOpt, Some(mnE), Some(mxE)) if rows >= 0 =>
            val mn = toCatBy(cn)(mnE); val mx = toCatBy(cn)(mxE)
            // set members landing inside the file's footer interval; an
            // empty survivor set means no row can match (skip); a
            // covered verdict additionally needs the interval to be a
            // POINT equal to a member (the CLUSTER BY layout), else the
            // member count among rows is not footer-derivable
            val setHit = bounds(cn).set.map(_.filter(v =>
              !ordOf(cn).lt(v, mn) && !ordOf(cn).gt(v, mx)))
            if (aboveHi(cn, mn) || belowLo(cn, mx) || setHit.exists(_.isEmpty))
              anySkip = true // disjoint
            else if (nullsOpt.isDefined && !stringCol &&
              !belowLo(cn, mn) && !aboveHi(cn, mx) &&
              setHit.forall(s => ordOf(cn).equiv(mn, mx) &&
                s.exists(v => ordOf(cn).equiv(v, mn))))
              nullsBy += cn -> nullsOpt.get
            else allCovered = false
          case _ => allCovered = false // stats-less: must read
        }
      }
      if (anySkip) skippedN += 1
      else if (allCovered && !hasDv(path)) {
        val nb = nullsBy.result()
        val nonZero = nb.filter(_._2 > 0L).keySet
        // the null gate: qualifying rows = rows − |rows with a NULL in
        // any pred column| is only footer-derivable when at most ONE
        // column carries nulls; footer extrema of column e only belong
        // to qualifying rows when every OTHER pred column is null-free.
        // A file failing the gate degrades to scanned (always sound).
        val ok0 =
          if (extremaCols.isEmpty) nonZero.size <= 1
          else if (extremaCols.size == 1) nonZero.subsetOf(extremaCols)
          else nonZero.isEmpty
        // SUM/AVG tighten the gate: a covered file's sidecar sum spans
        // ALL its rows, so every pred column must be null-free (else
        // excluded rows' contributions are unknowable) and every sum
        // column must have a sidecar row — miss either, scan the file
        val ok = ok0 && (sumCols.isEmpty || (nonZero.isEmpty &&
          sumCols.forall(n => sumStats(n).contains(qualified(path)))))
        if (ok) covered += ((statsBy(predCols.head)(path).copy(
          nulls = Some(nonZero.headOption.map(nb).getOrElse(0L))), nb))
        else scanned += path
      }
      else scanned += path
    }
    val covPairs = covered.result()
    val cov = covPairs.map(_._1)
    var scan = scanned.result()
    if (cov.isEmpty) return None // zone-map pruning already gives this plan
    // ── Bloom sidecar classification for IN members ──────────────────
    // a scanned CANDIDATE (footer interval contains a member but is not
    // a point) whose per-file filter proves EVERY member of some
    // set-constrained column absent cannot match — one disqualified
    // conjunct disqualifies the file. Without this the boundary scan
    // would read files the stock path's own bloom prune would have
    // dropped. One tiny filter over the sidecar table per set column
    // (the same planning-time cost class as SnapshotFileIndex's
    // prune); unindexed files always stay scanned (may-contain).
    if (scan.nonEmpty && bounds.values.exists(_.set.isDefined)) {
      val (fs0, _) = SnapshotLog.fsOf(spark, tbl.tablePath)
      val fromCatOf = (cn: String) =>
        CatalystTypeConverters.createToScalaConverter(schema(cn).dataType)
      for (cn <- bounds.keys if bounds(cn).set.isDefined && scan.nonEmpty)
        SnapshotLog.bloomFor(spark, tbl.tablePath, cn).foreach { bs =>
          val members = bounds(cn).set.get.toSeq.map(fromCatOf(cn))
          val qualOf = scan.map(p => p -> fs0.makeQualified(new Path(p)).toString).toMap
          val keepQ = BloomIndex.mayContainFiles(bs, members, qualOf.values.toSeq).toSet
          val before = scan.size
          scan = scan.filter(p => keepQ.contains(qualOf(p)))
          skippedN += before - scan.size
        }
    }

    // ── covered partials (driver arithmetic over footer facts) ───────
    // extra gate for count(x) with x outside the pred columns: x-nulls
    // must be footer-zero in every covered file, else the count among
    // matching rows is unknowable from footers
    for (k <- kinds) k match {
      case CountCol(x) if !predCols.contains(x) =>
        val xs = SnapshotLog.cachedHarvest(spark, cov.map(_.path), x,
          schema.fields.find(_.name == x).getOrElse(return None).dataType)
        if (!xs.forall(s => s.rows >= 0 && s.nulls.contains(0L))) return None
      case _ => ()
    }
    val fromCatBy = predCols.map(cn => cn ->
      CatalystTypeConverters.createToScalaConverter(schema(cn).dataType)).toMap
    // per covered file: qualifying rows = rows − nulls of the (single
    // allowed) null-carrying pred column — folded into `nulls` above
    val coveredRows = cov.map(s => s.rows - s.nulls.get).sum
    // AVG partials fold as (sum, count) PAIRS — a partial average
    // cannot fold — so each kind owns one or two partial fields; every
    // other stage (covered row, scan partials, final folds) walks the
    // same per-kind field layout
    val partialSchema = StructType(kinds.zipWithIndex.flatMap {
      case (CountStar | CountCol(_), i) => Seq(StructField(s"_a$i", LongType))
      case (MinC(n), i) => Seq(StructField(s"_a$i", schema(n).dataType))
      case (MaxC(n), i) => Seq(StructField(s"_a$i", schema(n).dataType))
      case (SumC(_), i) => Seq(StructField(s"_a$i", LongType))
      case (AvgC(_), i) => Seq(StructField(s"_a${i}s", LongType),
        StructField(s"_a${i}c", LongType))
    })
    // covered files' footer extrema lie inside their column's bounds and
    // are exact for the admitted types; the null gate above guarantees
    // they belong to qualifying rows
    def extremum(n: String, wantMax: Boolean): Any = {
      val ord = ordOf(n); val toC = toCatBy(n)
      val vals = covPairs.map { case (st, _) =>
        val full = statsBy(n)(st.path)
        toC(if (wantMax) full.max.get else full.min.get)
      }
      fromCatBy(n)(if (wantMax) vals.max(ord) else vals.min(ord))
    }
    // Σ sidecar sums over the covered files; null (like Spark's sum
    // over no non-null input) when every covered file is empty on n
    def sidecarSum(n: String): Option[Long] = {
      val entries = cov.map(s => sumStats(n)(qualified(s.path)))
      val present = entries.flatMap(_._1)
      if (present.isEmpty) None else Some(present.sum)
    }
    def sidecarCnt(n: String): Long =
      cov.map(s => sumStats(n)(qualified(s.path))._2).sum
    val coveredRow = Row.fromSeq(kinds.flatMap {
      case CountStar | CountCol(_) => Seq(coveredRows)
      case MinC(n) => Seq(extremum(n, wantMax = false))
      case MaxC(n) => Seq(extremum(n, wantMax = true))
      case SumC(n) => Seq(sidecarSum(n).map(Long.box).orNull)
      case AvgC(n) => Seq(sidecarSum(n).map(Long.box).orNull, sidecarCnt(n))
    })
    val coveredDf = spark.createDataFrame(
      java.util.Collections.singletonList(coveredRow), partialSchema)

    // ── boundary scan (pushed predicate over ONLY the scan files) ────
    val parts =
      if (scan.isEmpty) coveredDf
      else {
        // the predicate REBUILT from the extracted bounds (provably the
        // whole condition: every conjunct either folded into them or was
        // a redundant IS NOT NULL) — reusing `cond` verbatim would drag
        // RuntimeReplaceable/With wrappers through the name-based
        // transform and break resolution
        var pred = col(predCols.head).isNotNull
        for (cn <- predCols) {
          pred = pred && col(cn).isNotNull
          bounds(cn).lo.foreach(b => pred = pred && (
            if (b.inclusive) col(cn) >= lit(fromCatBy(cn)(b.v))
            else col(cn) > lit(fromCatBy(cn)(b.v))))
          bounds(cn).hi.foreach(b => pred = pred && (
            if (b.inclusive) col(cn) <= lit(fromCatBy(cn)(b.v))
            else col(cn) < lit(fromCatBy(cn)(b.v))))
          bounds(cn).set.foreach(s =>
            pred = pred && col(cn).isin(s.toSeq.map(fromCatBy(cn)): _*))
        }
        val partials = kinds.zipWithIndex.flatMap {
          case (CountStar, i) => Seq(count(lit(1)).as(s"_a$i"))
          case (CountCol(x), i) => Seq(count(col(x)).as(s"_a$i"))
          case (MinC(x), i) => Seq(min(col(x)).as(s"_a$i"))
          case (MaxC(x), i) => Seq(max(col(x)).as(s"_a$i"))
          case (SumC(x), i) => Seq(sum(col(x)).cast(LongType).as(s"_a$i"))
          case (AvgC(x), i) => Seq(sum(col(x)).cast(LongType).as(s"_a${i}s"),
            count(col(x)).as(s"_a${i}c"))
        }
        // a scanned file with a deletion vector has its dead rows
        // anti-joined out by the version's scan
        val scanDf = tbl.vectorizedRead(spark, scan)
          .where(pred)
          .agg(partials.head, partials.tail: _*)
        coveredDf.unionByName(scanDf)
      }
    val folds = kinds.zipWithIndex.map {
      case (CountStar | CountCol(_), i) => coalesce(sum(col(s"_a$i")), lit(0L)).as(s"_a$i")
      case (MinC(_), i) => min(col(s"_a$i")).as(s"_a$i")
      case (MaxC(_), i) => max(col(s"_a$i")).as(s"_a$i")
      // sum folds null-skipping (sum over no non-null input IS null —
      // Spark's own semantics, so no coalesce); avg folds exactly as
      // Σsum/Σcount, long division → double like Average's own eval,
      // null on zero count via legacy divide-by-zero
      case (SumC(_), i) => sum(col(s"_a$i")).as(s"_a$i")
      case (AvgC(_), i) => (sum(col(s"_a${i}s")) / nullif(sum(col(s"_a${i}c")), lit(0L))).as(s"_a$i")
    }
    val finalDf = parts.agg(folds.head, folds.tail: _*)

    PushFilteredAggToManifest.served.incrementAndGet()
    PushFilteredAggToManifest.coveredFiles.addAndGet(cov.size.toLong)
    PushFilteredAggToManifest.scannedFiles.addAndGet(scan.size.toLong)
    logInfo(s"filtered manifest agg on ${predCols.mkString(",")}: " +
      s"covered=${cov.size} scanned=${scan.size} skipped=$skippedN " +
      s"of ${tbl.filePaths.size} files")

    // substitute, re-aliased onto the ORIGINAL output ids so references
    // above the aggregate stay resolved (the VectorizeSnapshotDvRead
    // recipe); types match by construction (counts are LONG, extrema
    // carry the filter column's own type)
    val child = finalDf.queryExecution.analyzed
    Some(Project(orig.output.zip(child.output).map { case (o, r) =>
      Alias(r, o.name)(exprId = o.exprId)
    }, child))
  }
}

object PushFilteredAggToManifest {
  /** Specs and queries pin footer service + boundary volume with these. */
  val served = new java.util.concurrent.atomic.AtomicLong(0L)
  val coveredFiles = new java.util.concurrent.atomic.AtomicLong(0L)
  val scannedFiles = new java.util.concurrent.atomic.AtomicLong(0L)
}
