package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.PartitionDirectory
import org.apache.spark.sql.types._

/** Driver-side zone maps: a one-time snapshot of a stats table's
  * per-file [min,max] intervals, and the ONE may-contain kernel every
  * prune path evaluates against it — `Metastore.prune`, the Catalyst
  * file indexes (`MetastoreFileIndex`, behind `Lakeshack.query`, and
  * `SnapshotFileIndex`) and `IndexRead.prunedRead`. Like the reference's driver-side
  * metastore lookup (lakeshack/metastore.py:414-481), no Spark job runs
  * per query: values are sorted once, each file is one binary search.
  *
  * May-contain (false positives only; the scan re-applies every
  * predicate):
  *  - a NULL bound drops the column's entry, and a file is never pruned
  *    on a column it has no entry for, nor on an unindexed column;
  *  - duplicate rows for one file (racing JDBC updates) merge into the
  *    union interval;
  *  - a literal is compared only in the column's own type, after at
  *    most a lossless widening (`widen`): `int < 2.5` is never narrowed
  *    to `int < 2`; any other literal keeps the file;
  *  - writers exclude NaN from float min/max and Spark orders NaN above
  *    every double, so a NaN literal keeps every file and `>`/`>=` never
  *    prune a float column (`=`/IN test the interval). Spark's ordering
  *    also makes -0.0 equal 0.0, as the scan filter does.
  *
  * A snapshot is immutable: files harvested after it are unknown to it,
  * and callers that list files never prune unknown files. */
final case class ZoneMap(columns: Seq[(String, DataType)],
                         files: Map[String, Map[String, (Literal, Literal)]]) {
  private lazy val types = columns.toMap

  /** Files that may hold a row with the cluster (first) column in
    * `values` that satisfies every clause (metastore.py:444-467); no
    * values, no files. On a float column only `<`/`<=` clauses prune. */
  def prune(values: Seq[Any], clauses: Seq[Clause] = Nil): Seq[String] = {
    require(columns.nonEmpty, "Not a metastore stats table: no *_min column")
    val (cluster, dt) = columns.head
    val probe = new ZoneMap.Probe(dt, values)
    val tests = clauses.flatMap { c =>
      types.get(c.column)
        .filter(t => !ZoneMap.fp(t) || c.op == "<" || c.op == "<=")
        .flatMap(ZoneMap.literal(c.value, _))
        .map(l => (c.column, if (c.op == "==") "=" else c.op, l))
    }
    files.iterator.collect {
      case (path, b) if probe.mayContain(b.get(cluster)) &&
          tests.forall { case (c, op, l) => ZoneMap.test(b.get(c), op, l) } => path
    }.toSeq
  }
}

object ZoneMap {

  /** Collect the (tiny) stats table — one job — into filepath → column
    * → (min, max), paths normalized through Hadoop `Path` so
    * `_metadata.file_path` URIs (`file:///x`) match `FileStatus` URIs. */
  def apply(stats: DataFrame): ZoneMap = {
    val cols = stats.schema.fields.toSeq.filter(_.name.endsWith("_min"))
      .map(f => (f.name.dropRight(4), f.dataType))
    val rows = stats.collect().map { row =>
      new Path(row.getAs[String]("filepath")).toString -> cols.flatMap { case (c, dt) =>
        val (mn, mx) = (row.getAs[Any](c + "_min"), row.getAs[Any](c + "_max"))
        if (mn == null || mx == null) None
        else Some(c -> (Literal.create(mn, dt), Literal.create(mx, dt)))
      }.toMap
    }
    ZoneMap(cols, rows.groupMapReduce(_._1)(_._2)(union))
  }

  /** Two rows for one file: per column the union interval, if both have one. */
  private def union(a: Map[String, (Literal, Literal)],
                    b: Map[String, (Literal, Literal)]): Map[String, (Literal, Literal)] =
    a.keySet.intersect(b.keySet).iterator.map { c =>
      val ((amn, amx), (bmn, bmx)) = (a(c), b(c))
      val o = TypeUtils.getInterpretedOrdering(amn.dataType)
      c -> (if (o.lteq(amn.value, bmn.value)) amn else bmn,
            if (o.gteq(amx.value, bmx.value)) amx else bmx)
    }.toMap

  private def fp(dt: DataType): Boolean = dt == FloatType || dt == DoubleType

  private def isNaN(l: Literal): Boolean =
    PartialFunction.cond(l.value) { case n: java.lang.Number => n.doubleValue.isNaN }

  /** Numeric widenings that are exact for every value. */
  private val lossless: Map[DataType, Set[DataType]] = Map(
    ByteType -> Set(ShortType, IntegerType, LongType, FloatType, DoubleType),
    ShortType -> Set(IntegerType, LongType, FloatType, DoubleType),
    IntegerType -> Set(LongType, DoubleType),
    FloatType -> Set(DoubleType))

  /** `l` in type `dt` when it already has that type or widens to it
    * without loss; `None` (keep the file) otherwise, and for NULL. */
  private def widen(l: Literal, dt: DataType): Option[Literal] =
    if (l.value == null) None
    else if (l.dataType == dt) Some(l)
    else if (lossless.get(l.dataType).exists(_.contains(dt))) Some(Literal(Cast(l, dt).eval(), dt))
    else None

  /** An external value (Long, String, LocalDate, …) as a literal of `dt`. */
  private def literal(v: Any, dt: DataType): Option[Literal] =
    scala.util.Try(Literal(v)).toOption.flatMap(widen(_, dt))

  /** May a file with bounds `b` on a column hold a row with
    * `column <op> v`? One-sided, the reference's op mapping
    * (metastore.py:459-467): `>=` → v <= max; `>` → v < max;
    * `=` → min <= v <= max; `<` → v > min; `<=` → v >= min. */
  private def test(b: Option[(Literal, Literal)], op: String, v: Literal): Boolean =
    b.forall { case (mn, mx) =>
      widen(v, mn.dataType) match {
        case Some(w) if !(fp(mn.dataType) && (isNaN(w) || op == ">" || op == ">=")) =>
          val o = TypeUtils.getInterpretedOrdering(mn.dataType)
          op match {
            case "=" => o.gteq(w.value, mn.value) && o.lteq(w.value, mx.value)
            case ">" => o.lt(w.value, mx.value)
            case ">=" => o.lteq(w.value, mx.value)
            case "<" => o.gt(w.value, mn.value)
            case "<=" => o.gteq(w.value, mn.value)
          }
        case _ => true
      }
    }

  private val flipped = Map("=" -> "=", "<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")

  /** May the file (with these column intervals) contain a row
    * satisfying the pushed Catalyst filter `e`? =, IN/INSET, >, >=, <,
    * <= on an attribute, literal on either side, AND/OR recursion;
    * any other shape (unknown column, cast-wrapped attribute, UDF)
    * answers true. */
  def mayContain(stats: Map[String, (Literal, Literal)], e: Expression): Boolean = e match {
    case And(l, r) => mayContain(stats, l) && mayContain(stats, r)
    case Or(l, r) => mayContain(stats, l) || mayContain(stats, r)
    case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      !stats.contains(a.name) || vs.exists(v => test(stats.get(a.name), "=", v.asInstanceOf[Literal]))
    case InSet(a: Attribute, vs) =>
      !stats.contains(a.name) || vs.exists(v => test(stats.get(a.name), "=", Literal(v, a.dataType)))
    case c: BinaryComparison if flipped.contains(c.symbol) => (c.left, c.right) match {
      case (a: Attribute, v: Literal) => test(stats.get(a.name), c.symbol, v)
      case (v: Literal, a: Attribute) => test(stats.get(a.name), flipped(c.symbol), v)
      case _ => true
    }
    case _ => true
  }

  /** Prune a Catalyst `FileIndex` listing by its pushed filters
    * (`boundsOf` None: a file unknown to the stats, never pruned) and log
    * the counts (reference O19: where a plan regression shows first). */
  private[lake] def pruneListing(listing: Seq[PartitionDirectory], dataFilters: Seq[Expression],
                                 label: String)(
      boundsOf: String => Option[Map[String, (Literal, Literal)]]): Seq[PartitionDirectory] = {
    val out = listing.map(pd => pd.copy(files = pd.files.filter(f =>
      boundsOf(f.getPath.toString).forall(b => dataFilters.forall(mayContain(b, _))))))
    val (kept, total) = (out.map(_.files.size).sum, listing.map(_.files.size).sum)
    MetastoreFileIndex.log.info(s"$label: files_scanned=$kept/$total files_pruned=${total - kept}")
    out
  }

  /** Cluster values sorted once in the column's order: each file is then
    * one binary search. An empty `values` matches no file; a NaN value,
    * or one that does not widen to the column's type, matches every
    * file; NULL values match only files without bounds. */
  private final class Probe(dt: DataType, values: Seq[Any]) {
    private val ord = TypeUtils.getInterpretedOrdering(dt)
    private val lits = values.filter(_ != null).map(literal(_, dt))
    private val all = lits.exists(l => l.isEmpty || isNaN(l.get))
    private val sorted = lits.flatten.map(_.value.asInstanceOf[AnyRef]).toArray.sorted(ord)

    def mayContain(b: Option[(Literal, Literal)]): Boolean =
      values.nonEmpty && (all || b.forall { case (mn, mx) =>
        // a value equal to min, else the first one above it; then <= max?
        val i = java.util.Arrays.binarySearch(sorted, mn.value.asInstanceOf[AnyRef], ord)
        val j = if (i >= 0) i else -(i + 1)
        j < sorted.length && ord.lteq(sorted(j), mx.value)
      })
  }
}
