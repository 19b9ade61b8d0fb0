package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The test [[PairsInBucket]] applies to every i<j pair of a bucket, and
  * the score fields a surviving pair carries after `doc_a, doc_b`. */
sealed trait PairKernel extends Product with Serializable {
  /** The payload each item carries next to its id (items are then
    * `struct<doc, payload>`); None: items are bare ids. */
  def payload: Option[DataType]
  def scoreFields: Seq[StructField]
  /** Payload storage and pair test for one bucket of `n` items. */
  private[functions] def bucket(n: Int): PairKernel.Bucket
}

object PairKernel {

  private[functions] abstract class Bucket {
    /** Reads item i's payload from field 1 of its struct (non-null). */
    def load(i: Int, item: InternalRow): Unit
    /** The output row of pair (i, j), i < j, or null when it fails. */
    def pair(i: Int, j: Int, a: Any, b: Any): InternalRow
  }

  /** Every pair: minhash, prefix-Jaccard and incremental blocking. */
  case object AllPairs extends PairKernel {
    def payload: Option[DataType] = None
    def scoreFields: Seq[StructField] = Nil
    private[functions] def bucket(n: Int): Bucket = new Bucket {
      def load(i: Int, item: InternalRow): Unit = ()
      def pair(i: Int, j: Int, a: Any, b: Any): InternalRow =
        new GenericInternalRow(Array[Any](a, b))
    }
  }

  /** Inverted-index Jaccard's exact length filter over each item's
    * distinct-shingle count `n_sh`: keeps a pair when
    * `min(sh_a, sh_b) / max(sh_a, sh_b) >= threshold - 1e-9` in doubles
    * (J ≤ min/max, so no pair above the threshold is lost; the 1e-9
    * slack absorbs rounding at J = t). Emits `sh_a, sh_b`. */
  case class LengthRatio(threshold: Double) extends PairKernel {
    def payload: Option[DataType] = Some(LongType)
    def scoreFields: Seq[StructField] =
      Seq(StructField("sh_a", LongType, nullable = false), StructField("sh_b", LongType, nullable = false))
    private[functions] def bucket(n: Int): Bucket = new Bucket {
      private val bound = threshold - 1e-9
      private val sh = new Array[Long](n)
      def load(i: Int, item: InternalRow): Unit = sh(i) = item.getLong(1)
      def pair(i: Int, j: Int, a: Any, b: Any): InternalRow = {
        val sa = sh(i)
        val sb = sh(j)
        if (math.min(sa, sb).toDouble / math.max(sa, sb).toDouble >= bound)
          new GenericInternalRow(Array[Any](a, b, sa, sb))
        else null
      }
    }
  }

  /** SimHash: keeps a pair whose 64-bit fingerprints differ in at most
    * `maxHamming` bits (`bit_count(a ^ b)`). Emits `hamming`. */
  case class Hamming(maxHamming: Int) extends PairKernel {
    def payload: Option[DataType] = Some(LongType)
    def scoreFields: Seq[StructField] = Seq(StructField("hamming", IntegerType, nullable = false))
    private[functions] def bucket(n: Int): Bucket = new Bucket {
      private val fp = new Array[Long](n)
      def load(i: Int, item: InternalRow): Unit = fp(i) = item.getLong(1)
      def pair(i: Int, j: Int, a: Any, b: Any): InternalRow = {
        val h = java.lang.Long.bitCount(fp(i) ^ fp(j))
        if (h <= maxHamming) new GenericInternalRow(Array[Any](a, b, h)) else null
      }
    }
  }

  /** Embedding dedup: keeps a pair whose cosine is `>= threshold`, with
    * [[CosineSimilarity]]'s arithmetic (float→double, left-to-right
    * sums, zero norm → 0.0) and each item's squared norm computed once,
    * so every cosine is bit-identical to the pairwise expression's. A
    * NaN cosine (a vector holding NaN) fails the test. Vectors of
    * different dimensions in one bucket throw, as the pairwise
    * expression does. Emits `cos`. */
  case class Cosine(threshold: Double) extends PairKernel {
    def payload: Option[DataType] = Some(ArrayType(FloatType))
    def scoreFields: Seq[StructField] = Seq(StructField("cos", DoubleType, nullable = false))
    private[functions] def bucket(n: Int): Bucket = new Bucket {
      private val vecs = new Array[Array[Float]](n)
      private val normsSq = new Array[Double](n)
      private var dim = -1
      def load(i: Int, item: InternalRow): Unit = {
        val v = item.getArray(1).toFloatArray()
        if (dim < 0) dim = v.length
        else if (v.length != dim)
          throw new IllegalArgumentException(
            s"cosine_similarity: dimension mismatch ($dim vs ${v.length})")
        var na = 0.0
        var t = 0
        while (t < v.length) { val x = v(t).toDouble; na += x * x; t += 1 }
        vecs(i) = v; normsSq(i) = na
      }
      def pair(i: Int, j: Int, a: Any, b: Any): InternalRow = {
        val va = vecs(i)
        val vb = vecs(j)
        var dot = 0.0
        var t = 0
        while (t < va.length) { dot += va(t).toDouble * vb(t).toDouble; t += 1 }
        val na = normsSq(i)
        val nb = normsSq(j)
        val cos = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
        if (cos >= threshold) new GenericInternalRow(Array[Any](a, b, cos)) else null
      }
    }
  }
}

/** Every surviving i<j pair of one blocking bucket, as rows: the one
  * pair step behind minhash, simhash, inverted-index Jaccard, prefix
  * Jaccard, incremental, embedding-LSH and semantic dedup. The input is
  * the bucket's item array — bare ids, or `struct<doc, payload>` when
  * the kernel reads a payload — normally `sort_array(collect_set(item))`,
  * so pair (i, j>i) emits `doc_a <= doc_b`. Output columns are
  * `doc_a, doc_b` and then the kernel's score fields.
  *
  * A generator, not an array-valued expression: pairs are produced by a
  * lazy iterator, so a bucket's n(n−1)/2 candidates never exist as one
  * array, and only pairs that pass the kernel become rows. Ids are
  * copied positionally, so any id type works. Rules every kernel shares:
  *  - a pair whose two ids are equal is never emitted: an id repeated
  *    with different payloads is scored as separate items, each pairing
  *    with every other id of the bucket but never with its own copies;
  *  - an item that is null, or has a null id or a null payload, forms no
  *    pairs;
  *  - a comparison that yields NaN fails (only the cosine kernel can).
  *
  * One interpreted call per bucket row (CodegenFallback); the pair loop
  * itself is compiled Scala. Pinned against the nested-HOF reference
  * forms by a differential property in DedupSpec. */
case class PairsInBucket(child: Expression, kernel: PairKernel)
  extends UnaryExpression with Generator with CodegenFallback {

  private def idType: DataType = (child.dataType, kernel.payload) match {
    case (ArrayType(et, _), None) => et
    case (ArrayType(StructType(Array(id, _)), _), Some(_)) => id.dataType
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = (child.dataType, kernel.payload) match {
    case (ArrayType(_, _), None) => TypeCheckResult.TypeCheckSuccess
    case (ArrayType(StructType(Array(_, p)), _), Some(want))
      if DataType.equalsIgnoreNullability(p.dataType, want) => TypeCheckResult.TypeCheckSuccess
    case (dt, want) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName($kernel) expects an array of " +
        want.fold("ids")(p => s"struct<doc, ${p.simpleString}>") + s", got ${dt.simpleString}")
  }

  override def elementSchema: StructType = StructType(
    Seq(StructField("doc_a", idType, nullable = false), StructField("doc_b", idType, nullable = false)) ++
      kernel.scoreFields)
  override def prettyName: String = "pairs_in_bucket"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val items = child.eval(input).asInstanceOf[ArrayData]
    if (items == null || items.numElements() < 2) return Iterator.empty
    val n = items.numElements()
    val dt = idType
    val bare = kernel.payload.isEmpty
    val bucket = kernel.bucket(n)
    // ids(i) == null: item i forms no pairs; equal ids share a group
    val ids = new Array[Any](n)
    val group = new Array[Int](n)
    val seen = new java.util.HashMap[Any, Integer]()
    var i = 0
    while (i < n) {
      if (!items.isNullAt(i)) {
        val id =
          if (bare) items.get(i, dt)
          else {
            val e = items.getStruct(i, 2)
            if (e.isNullAt(1)) null
            else { bucket.load(i, e); if (e.isNullAt(0)) null else e.get(0, dt) }
          }
        if (id != null) {
          ids(i) = InternalRow.copyValue(id)
          val key = ids(i) match { case b: Array[Byte] => java.nio.ByteBuffer.wrap(b); case v => v }
          val first = seen.putIfAbsent(key, i)
          group(i) = if (first == null) i else first
        }
      }
      i += 1
    }
    new Iterator[InternalRow] {
      private var a = 0
      private var b = 0
      private var pending: InternalRow = _
      override def hasNext: Boolean = {
        while (pending == null && a < n - 1) {
          b += 1
          if (b == n) { a += 1; b = a }
          else if (ids(a) != null && ids(b) != null && group(a) != group(b))
            pending = bucket.pair(a, b, ids(a), ids(b))
        }
        pending != null
      }
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException("pairs_in_bucket: no more pairs")
        val r = pending
        pending = null
        r
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
