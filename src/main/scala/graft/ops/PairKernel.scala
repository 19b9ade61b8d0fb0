package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The test [[Dedup.pairsInBuckets]] applies to every i<j pair of a
  * blocking run, and the score fields a surviving pair carries after
  * `doc_a, doc_b`. */
sealed trait PairKernel extends Product with Serializable {
  /** The payload each item carries next to its id (items are then
    * `struct<doc, payload>`); None: items are bare ids. */
  def payload: Option[DataType]
  def scoreFields: Seq[StructField]
  /** Payload storage and pair test for one run of `n` items. */
  private[ops] def bucket(n: Int): PairKernel.Bucket
}

object PairKernel {

  private[ops] abstract class Bucket {
    /** Reads item i's payload from field 1 of its struct (non-null). */
    def load(i: Int, item: Row): Unit
    /** The output row of pair (i, j), i < j, or null when it fails. */
    def pair(i: Int, j: Int, a: Any, b: Any): Row
  }

  /** Every pair: minhash, prefix-Jaccard and incremental blocking. */
  case object AllPairs extends PairKernel {
    def payload: Option[DataType] = None
    def scoreFields: Seq[StructField] = Nil
    private[ops] def bucket(n: Int): Bucket = new Bucket {
      def load(i: Int, item: Row): Unit = ()
      def pair(i: Int, j: Int, a: Any, b: Any): Row = Row(a, b)
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
    private[ops] def bucket(n: Int): Bucket = new Bucket {
      private val bound = threshold - 1e-9
      private val sh = new Array[Long](n)
      def load(i: Int, item: Row): Unit = sh(i) = item.getLong(1)
      def pair(i: Int, j: Int, a: Any, b: Any): Row = {
        val sa = sh(i)
        val sb = sh(j)
        if (math.min(sa, sb).toDouble / math.max(sa, sb).toDouble >= bound) Row(a, b, sa, sb)
        else null
      }
    }
  }

  /** SimHash: keeps a pair whose 64-bit fingerprints differ in at most
    * `maxHamming` bits (`bit_count(a ^ b)`). Emits `hamming`. */
  case class Hamming(maxHamming: Int) extends PairKernel {
    def payload: Option[DataType] = Some(LongType)
    def scoreFields: Seq[StructField] = Seq(StructField("hamming", IntegerType, nullable = false))
    private[ops] def bucket(n: Int): Bucket = new Bucket {
      private val fp = new Array[Long](n)
      def load(i: Int, item: Row): Unit = fp(i) = item.getLong(1)
      def pair(i: Int, j: Int, a: Any, b: Any): Row = {
        val h = java.lang.Long.bitCount(fp(i) ^ fp(j))
        if (h <= maxHamming) Row(a, b, h) else null
      }
    }
  }

  /** Embedding dedup: keeps a pair whose cosine is `>= threshold`, with
    * [[graft.functions.CosineSimilarity]]'s arithmetic (float→double,
    * left-to-right sums, zero norm → 0.0) and each item's squared norm
    * computed once, so every cosine is bit-identical to the pairwise
    * expression's. A NaN cosine (a vector holding NaN) fails the test.
    * Vectors of different dimensions in one run throw, as the pairwise
    * expression does. Emits `cos`. */
  case class Cosine(threshold: Double) extends PairKernel {
    def payload: Option[DataType] = Some(ArrayType(FloatType))
    def scoreFields: Seq[StructField] = Seq(StructField("cos", DoubleType, nullable = false))
    private[ops] def bucket(n: Int): Bucket = new Bucket {
      private val vecs = new Array[Array[Float]](n)
      private val normsSq = new Array[Double](n)
      private var dim = -1
      def load(i: Int, item: Row): Unit = {
        // a null element reads as 0.0f, as it did from an unsafe array
        val v = item.getSeq[Any](1).iterator.map(x => if (x == null) 0.0f else x.asInstanceOf[Float]).toArray
        if (dim < 0) dim = v.length
        else if (v.length != dim)
          throw new IllegalArgumentException(
            s"cosine_similarity: dimension mismatch ($dim vs ${v.length})")
        var na = 0.0
        var t = 0
        while (t < v.length) { val x = v(t).toDouble; na += x * x; t += 1 }
        vecs(i) = v; normsSq(i) = na
      }
      def pair(i: Int, j: Int, a: Any, b: Any): Row = {
        val va = vecs(i)
        val vb = vecs(j)
        var dot = 0.0
        var t = 0
        while (t < va.length) { dot += va(t).toDouble * vb(t).toDouble; t += 1 }
        val na = normsSq(i)
        val nb = normsSq(j)
        val cos = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
        if (cos >= threshold) Row(a, b, cos) else null
      }
    }
  }

  /** Every surviving i<j pair of one blocking run's distinct, sorted,
    * non-null `items` — bare ids, or `struct<doc, payload>` rows when
    * the kernel reads a payload — as `doc_a, doc_b` and then the
    * kernel's score fields. Sorted items make pair (i, j>i) emit
    * `doc_a <= doc_b`.
    *
    * Pairs come from a lazy iterator, so a run's n(n−1)/2 candidates
    * never exist at once, and only pairs that pass the kernel become
    * rows. Ids are copied positionally, so any id type works. Rules
    * every kernel shares:
    *  - a pair whose two ids are equal is never emitted: an id repeated
    *    with different payloads is scored as separate items, each pairing
    *    with every other id of the run but never with its own copies;
    *  - an item with a null id or a null payload forms no pairs;
    *  - a comparison that yields NaN fails (only the cosine kernel can). */
  private[ops] def pairs(items: scala.collection.IndexedSeq[Any], kernel: PairKernel): Iterator[Row] = {
    val n = items.length
    if (n < 2) return Iterator.empty
    val bare = kernel.payload.isEmpty
    val bucket = kernel.bucket(n)
    // ids(i) == null: item i forms no pairs; equal ids share a group
    val ids = new Array[Any](n)
    val group = new Array[Int](n)
    val seen = new java.util.HashMap[Any, Integer]()
    var i = 0
    while (i < n) {
      val id =
        if (bare) items(i)
        else {
          val e = items(i).asInstanceOf[Row]
          if (e.isNullAt(1)) null else { bucket.load(i, e); e.get(0) }
        }
      if (id != null) {
        ids(i) = id
        val key = id match { case b: Array[Byte] => java.nio.ByteBuffer.wrap(b); case v => v }
        val first = seen.putIfAbsent(key, i)
        group(i) = if (first == null) i else first
      }
      i += 1
    }
    new Iterator[Row] {
      private var a = 0
      private var b = 0
      private var pending: Row = _
      override def hasNext: Boolean = {
        while (pending == null && a < n - 1) {
          b += 1
          if (b == n) { a += 1; b = a }
          else if (ids(a) != null && ids(b) != null && group(a) != group(b))
            pending = bucket.pair(a, b, ids(a), ids(b))
        }
        pending != null
      }
      override def next(): Row = {
        if (!hasNext) throw new NoSuchElementException("pairs: no more pairs")
        val r = pending
        pending = null
        r
      }
    }
  }

  /** The distinct non-null items of one sorted blocking run, in run
    * order, with `collect_set`'s equality (see [[Exact]]); empty when
    * the run has fewer than 2 or more than `cap` of them. Reads the run
    * only until the `cap + 1`-th distinct item, so it never holds more. */
  private[ops] def distinctRun(run: Iterator[Any], cap: Int): scala.collection.IndexedSeq[Any] = {
    // most runs hold one item: nothing is allocated before a second one
    var first: Any = null
    var items: scala.collection.mutable.ArrayBuffer[Any] = null
    var seen: java.util.HashSet[Exact] = null
    while (run.hasNext) {
      val v = run.next()
      if (v != null) {
        if (first == null) first = v
        else {
          if (seen == null) {
            seen = new java.util.HashSet[Exact]()
            seen.add(new Exact(first))
            items = scala.collection.mutable.ArrayBuffer(first)
          }
          if (seen.add(new Exact(v))) {
            items += v
            if (items.length > cap) return IndexedSeq.empty
          }
        }
      }
    }
    if (items == null || items.length > cap) IndexedSeq.empty else items
  }

  /** An item compared as `collect_set` compares it: equal only when its
    * stored bytes are, so floats and doubles compare by their raw bits
    * (0.0 and -0.0 differ, and so do NaNs with different payloads),
    * binaries by content, and structs and arrays field by field. */
  private final class Exact(val v: Any) {
    override def hashCode: Int = Exact.hash(v)
    override def equals(o: Any): Boolean = o match {
      case e: Exact => Exact.same(v, e.v)
      case _ => false
    }
  }

  private object Exact {
    def hash(v: Any): Int = v match {
      case f: Float => java.lang.Float.floatToRawIntBits(f)
      case d: Double => java.lang.Double.hashCode(java.lang.Double.doubleToRawLongBits(d))
      case b: Array[Byte] => java.util.Arrays.hashCode(b)
      case r: Row => scala.util.hashing.MurmurHash3.orderedHash(r.toSeq.iterator.map(hash))
      case s: scala.collection.Seq[_] => scala.util.hashing.MurmurHash3.orderedHash(s.iterator.map(hash))
      case null => 0
      case x => x.##
    }
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Float, y: Float) => java.lang.Float.floatToRawIntBits(x) == java.lang.Float.floatToRawIntBits(y)
      case (x: Double, y: Double) =>
        java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
      case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
      case (x: Row, y: Row) => x.length == y.length && (0 until x.length).forall(i => same(x.get(i), y.get(i)))
      case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
        x.length == y.length && x.iterator.zip(y.iterator).forall { case (p, q) => same(p, q) }
      case _ => a == b
    }
  }
}
