package lakebench

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed gives the same rows; the
  * library only ever sees what these produce. */
object Gen {
  /** sf0.1 `lineitem`: 600k rows over 150k order keys. */
  val LineitemRows = 600000L
  val OrderKeys = 150000L
  val ShipFirst: LocalDate = LocalDate.of(1995, 1, 2)
  val ShipDays = 2498
  val Batches = 4

  /** The four columns every lookup returns. */
  val Projection = Seq("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")

  private def h(seed: Long, salt: Int): Column = xxhash64(lit(seed), col("id"), lit(salt))
  private def u(seed: Long, salt: Int, n: Long): Column = pmod(h(seed, salt), lit(n))

  /** TPC-H-shaped `lineitem` with uniform keys and ship dates, plus the
    * ingest batch (`_batch`, 0 until [[Batches]]) each row lands in. */
  def lineitem(spark: SparkSession, seed: Long, rows: Long, parts: Int): DataFrame =
    spark.range(0, rows, 1, parts).select(
      u(seed, 1, OrderKeys).as("l_orderkey"),
      u(seed, 2, 20000).as("l_partkey"),
      u(seed, 3, 1000).as("l_suppkey"),
      (u(seed, 4, 7) + 1).cast("int").as("l_linenumber"),
      (u(seed, 5, 50) + 1).cast("double").as("l_quantity"),
      (u(seed, 6, 10410000) / 100.0 + 900.0).as("l_extendedprice"),
      (u(seed, 7, 11) / 100.0).as("l_discount"),
      (u(seed, 8, 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (u(seed, 9, 3) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (u(seed, 10, 2) + 1).cast("int")).as("l_linestatus"),
      date_add(lit(java.sql.Date.valueOf(ShipFirst)), u(seed, 11, ShipDays).cast("int")).as("l_shipdate"),
      u(seed, 12, Batches).cast("int").as("_batch"))

  /** Order-insensitive 64-bit fingerprint of one projected row. */
  def rowHash(r: Row): Long =
    mix(mix(mix(mix(0x9E3779B97F4A7C15L, r.getLong(0)), r.getInt(1).toLong),
      java.lang.Double.doubleToLongBits(r.getDouble(2))), r.getDate(3).toLocalDate.toEpochDay)

  def mix(h: Long, v: Long): Long = {
    var x = h ^ (v * 0xBF58476D1CE4E5B9L)
    x = (x ^ (x >>> 31)) * 0x94D049BB133111EBL
    x ^ (x >>> 29)
  }

  def dateOf(day: Int): java.sql.Date = java.sql.Date.valueOf(ShipFirst.plusDays(day.toLong))

  /** Rows whose first column is the order key, grouped by key with a
    * counting sort: the rows of key k are `sorted(offsets(k) until
    * offsets(k + 1))`. */
  final class ByKey(rows: Array[Row]) {
    val offsets = new Array[Int](OrderKeys.toInt + 1)
    rows.foreach(r => offsets(r.getLong(0).toInt + 1) += 1)
    (1 to OrderKeys.toInt).foreach(k => offsets(k) += offsets(k - 1))
    val sorted = new Array[Row](rows.length)
    private val fill = offsets.clone()
    rows.foreach { r =>
      val k = r.getLong(0).toInt
      sorted(fill(k)) = r; fill(k) += 1
    }
    def of(keys: Seq[Long]): Seq[Row] =
      keys.flatMap(k => sorted.slice(offsets(k.toInt), offsets(k.toInt + 1)))
  }

  // ── documents ──────────────────────────────────────────────────────

  /** A document of the dedup corpus. `plantedFrom` is the id of the
    * document this one is a token-edited copy of, or -1. */
  final case class Doc(id: Long, text: String, plantedFrom: Long)

  /** `baseDocs` documents of 8-100 words of 3-10 letters over a
    * Zipf-skewed 2000-word vocabulary, expanded to four letter-rotated
    * copies — the copies share no words with each other, so they are
    * distinct documents with the same statistics — plus one token-edited
    * near-duplicate for every 20th document. */
  def documents(seed: Long, baseDocs: Int): IndexedSeq[Doc] = {
    val rnd = new java.util.SplittableRandom(seed)
    def rotate(w: String, k: Int): String = w.map(c => ('a' + (c - 'a' + k) % 26).toChar)
    // word lengths follow the rank, so every seed's corpus has the same
    // size profile; only the letters are drawn. No word is another's
    // rotation by the offset between two copies, so copies share no word
    // whatever the seed.
    val offsets = (1 to 3).flatMap(d => Seq(7 * d, 26 - 7 * d))
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    while (words.size < 2000) {
      val w = new String(Array.fill(3 + words.size % 8)(('a' + rnd.nextInt(26)).toChar))
      if (!offsets.exists(k => words.contains(rotate(w, k)))) words += w
    }
    val vocab = words.toIndexedSeq
    // Zipf(1) over the vocabulary by inverse CDF
    val cdf = vocab.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail
    val total = cdf.last
    def word(): String = {
      val x = rnd.nextDouble() * total
      var lo = 0; var hi = cdf.size - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < x) lo = m + 1 else hi = m }
      vocab(lo)
    }
    val base = IndexedSeq.fill(baseDocs)(IndexedSeq.fill(8 + rnd.nextInt(93))(word()))
    val copies = for (c <- 0 until 4; (toks, i) <- base.zipWithIndex)
      yield Doc(c * 100000L + i, toks.map(rotate(_, 7 * c)).mkString(" "), -1L)
    val planted = copies.indices.filter(_ % 20 == 0).zipWithIndex.map { case (src, j) =>
      val toks = copies(src).text.split(' ')
      val edits = math.max(1, toks.length / 25)
      (0 until edits).foreach(_ => toks(rnd.nextInt(toks.length)) = word())
      Doc(1000000L + j, toks.mkString(" "), copies(src).id)
    }
    copies ++ planted
  }

  /** Distinct 3-token shingles, the exact form the dedup operators
    * approximate: lower-cased alphanumeric tokens, whole document as one
    * shingle when it has fewer than 3 tokens. */
  def shingles(text: String): Set[String] = {
    val t = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
    if (t.length >= 3) t.sliding(3).map(_.mkString(" ")).toSet
    else if (t.nonEmpty) Set(t.mkString(" "))
    else Set.empty
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val common = a.count(b.contains)
    val union = a.size + b.size - common
    if (union == 0) 0.0 else common.toDouble / union
  }
}
