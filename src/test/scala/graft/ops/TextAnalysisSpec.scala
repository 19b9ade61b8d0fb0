package graft.ops

import graft.SparkSpec
import graft.functions.WordTokens
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

class TextAnalysisSpec extends SparkSpec {

  private def docsOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("quality: hand-computed signals on a known document") {
    val r = TextAnalysis.quality(docsOf((1L, "Hello, World!"))).first()
    assert(r.getAs[Int]("n_chars_calc") === 13)
    assert(r.getAs[Int]("n_tokens") === 2)          // [hello, world]
    assert(r.getAs[Int]("n_unique_tokens") === 2)
    assert(r.getAs[Double]("avg_token_len") === 5.0)
    assert(math.abs(r.getAs[Double]("punct_ratio") - 2.0 / 13) < 1e-12) // ',' and '!'
    assert(r.getAs[Double]("stopword_ratio") === 0.0)
  }

  test("quality: empty and stopword-heavy documents") {
    val rows = TextAnalysis.quality(docsOf((1L, ""), (2L, "the of and")))
      .orderBy("doc_id").collect()
    assert(rows(0).getAs[Int]("n_tokens") === 0)
    assert(rows(0).getAs[Double]("avg_token_len") === 0.0)
    assert(rows(1).getAs[Double]("stopword_ratio") === 1.0)
  }

  test("token counts: whitespace vs word tokens vs bpe estimate") {
    val r = TextAnalysis.tokenCounts(docsOf((1L, "don't stop-me now"))).first()
    assert(r.getAs[Int]("n_ws_tokens") === 3)    // [don't, stop-me, now]
    assert(r.getAs[Int]("n_word_tokens") === 5)  // [don, t, stop, me, now]
    assert(r.getAs[Long]("n_bpe_est") === 5L)    // ceil(17/4)
  }

  test("token frequencies aggregate across the corpus") {
    val r = TextAnalysis.tokenFrequencies(docsOf((1L, "a b a"), (2L, "a c")))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r === Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
  }

  test("langId picks the language with most stopword hits, tie to lowest code") {
    val rows = TextAnalysis.langId(docsOf(
      (1L, "el perro que corre en la casa y se va"),
      (2L, "the cat that runs in the house and it was"),
      (3L, "der hund ist von den leuten und nicht zu alt"),
      (4L, "xyzzy plugh"))) // no hits anywhere -> tie at 0 -> 'de' (lowest code)
      .orderBy("doc_id").collect()
    assert(rows(0).getAs[String]("pred_lang") === "es")
    assert(rows(1).getAs[String]("pred_lang") === "en")
    assert(rows(2).getAs[String]("pred_lang") === "de")
    assert(rows(3).getAs[String]("pred_lang") === "de")
    assert(rows(3).getAs[Int]("pred_score") === 0)
  }

  test("fingerprint: md5 of normalized text matches an independent digest") {
    val r = TextAnalysis.fingerprint(docsOf((1L, "Hello, WORLD! hello"))).first()
    val norm = "hello world hello"
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = md.digest(norm.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getAs[String]("md5_fp") === expected)
    assert(r.getAs[Int]("norm_len") === norm.length)
    // normalization-invariant: different surface forms, same fingerprint
    val r2 = TextAnalysis.fingerprint(docsOf((2L, "hello;;;world   HELLO"))).first()
    assert(r2.getAs[String]("md5_fp") === expected)
  }

  test("tokenizer is shared: dedup and fingerprint agree") {
    val d = docsOf((1L, "The Quick FOX!"), (2L, "the quick fox"))
    val fps = TextAnalysis.fingerprint(d).select("doc_id", "md5_fp").collect()
    assert(fps(0).getString(1) === fps(1).getString(1))
    val groups = Dedup.exactByHash(d, "doc_id", "text").collect()
    assert(groups.length === 1 && groups(0).getAs[Long]("n_dups") === 2L)
  }

  test("normalize: collapses punctuation/whitespace runs; idempotent") {
    val r = TextAnalysis.normalize(docsOf((1L, "  Hello,,,   WORLD!! 42  "))).first()
    assert(r.getAs[String]("norm_text") === "hello world 42")
    assert(r.getAs[Int]("n_norm_chars") === 14)
    val again = TextAnalysis.normalize(
      docsOf((1L, "hello world 42")).withColumnRenamed("text", "t"), "t").first()
    assert(again.getAs[String]("norm_text") === "hello world 42")
  }

  test("repetition: hand-computed ratios") {
    // tokens [a, a, a, b]: top 3/4, distinct 2/4
    // bigrams [a a, a a, a b]: distinct 2 of 3 -> dup 1/3
    val r = TextAnalysis.repetition(docsOf((1L, "a a a b"))).first()
    assert(r.getAs[Double]("top_token_ratio") === 0.75)
    assert(r.getAs[Double]("distinct_token_ratio") === 0.5)
    assert(math.abs(r.getAs[Double]("dup_bigram_ratio") - 1.0 / 3) < 1e-12)
    // degenerate docs: no tokens / one token -> all ratios defined, no NaN
    val rows = TextAnalysis.repetition(docsOf((2L, "!!!"), (3L, "solo")))
      .orderBy("doc_id").collect()
    assert(rows(0).getAs[Double]("top_token_ratio") === 0.0)
    assert(rows(0).getAs[Double]("dup_bigram_ratio") === 0.0)
    assert(rows(1).getAs[Double]("top_token_ratio") === 1.0)
    assert(rows(1).getAs[Double]("dup_bigram_ratio") === 0.0)
  }

  test("redact: emails and IPs replaced with typed placeholders, counted") {
    val r = TextAnalysis.redact(docsOf(
      (1L, "mail a.b+c@ex-1.co.uk or 10.0.255.7, not 1.2.3 or version 1.2.3.4.5"))).first()
    assert(r.getAs[Int]("n_emails") === 1)
    // 1.2.3.4.5 contains a \b-delimited 1.2.3.4 prefix — counted; 1.2.3 is not
    assert(r.getAs[Int]("n_ips") === 2)
    assert(r.getAs[String]("redacted_text") ===
      "mail [EMAIL] or [IP], not 1.2.3 or version [IP].5")
    val clean = TextAnalysis.redact(docsOf((2L, "no pii here"))).first()
    assert(clean.getAs[Int]("n_emails") === 0 && clean.getAs[Int]("n_ips") === 0)
    assert(clean.getAs[String]("redacted_text") === "no pii here")
  }

  test("urlDomains extracts, rolls up per domain, and ignores url-free docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "see https://a.example.org/x and http://b.example.net/y"),
      (2L, "again https://a.example.org/z twice https://a.example.org/w"),
      (3L, "no urls at all")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.urlDomains(docs).orderBy("domain")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got === Array(("a.example.org", 2L, 3L), ("b.example.net", 1L, 1L)))
  }

  test("urlDomains is case-insensitive and folds host case into one domain") {
    import spark.implicits._
    val docs = Seq(
      (1L, "upper HTTPS://A.Example.ORG/x mixed HttpS://a.exAmple.org/y"),
      (2L, "plain https://a.example.org/z")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.urlDomains(docs).orderBy("domain")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got === Array(("a.example.org", 2L, 3L)))
  }

  test("chunk: window starts, partial tail, overlap, and coverage") {
    import spark.implicits._
    val ten = (1 to 10).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, ten)).toDF("doc_id", "text")
    // chunk 4, no overlap: starts 0,4,8 → sizes 4,4,2 (tail kept)
    val plain = TextAnalysis.chunk(docs, "doc_id", "text", 4).orderBy("chunk_idx")
      .collect().map(r => (r.getInt(1), r.getString(2), r.getInt(3)))
    assert(plain === Array(
      (0, "t1 t2 t3 t4", 4), (1, "t5 t6 t7 t8", 4), (2, "t9 t10", 2)))
    // chunk 4, overlap 1 (step 3): starts 0,3,6 — consecutive windows
    // share one token, every token covered, NO contained tail window
    val lap = TextAnalysis.chunk(docs, "doc_id", "text", 4, overlap = 1)
      .orderBy("chunk_idx")
      .collect().map(r => (r.getInt(1), r.getString(2)))
    assert(lap === Array(
      (0, "t1 t2 t3 t4"), (1, "t4 t5 t6 t7"), (2, "t7 t8 t9 t10")))
    // exactly-chunk-sized and shorter docs: ONE window each, even with
    // overlap (no redundant contained tail)
    val short = Seq((1L, "a b c d"), (2L, "a b")).toDF("doc_id", "text")
    val one = TextAnalysis.chunk(short, "doc_id", "text", 4, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(3)))
    assert(one.toSet === Set((1L, 0, 4), (2L, 0, 2)))
  }

  test("chunk: token-less docs vanish; bad overlap refused; provenance kept") {
    import spark.implicits._
    val docs = Seq((1L, "hello world again"), (2L, ""), (3L, "!!! ???"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunk(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(got.toSet === Set((1L, 0, "hello world"), (1L, 1, "again")))
    intercept[IllegalArgumentException](
      TextAnalysis.chunk(docs, "doc_id", "text", 4, overlap = 4))
    intercept[IllegalArgumentException](
      TextAnalysis.chunk(docs, "doc_id", "text", 0))
    val bad = Seq((1L, "x", 1)).toDF("doc_id", "text", "chunk_idx")
    intercept[IllegalArgumentException](
      TextAnalysis.chunk(bad, "doc_id", "text", 4))
  }

  test("lexiconScore: exact linear-filter arithmetic, hits, empty-text prior") {
    import spark.implicits._
    val lex = Seq("good" -> 1.0, "bad" -> -2.0)
    val docs = Seq(
      (0L, "good good bad other"), // mean = (1 + 1 - 2 + 0) / 4 = 0
      (1L, "good"),                // mean = 1
      (2L, ""))                    // no tokens -> sigmoid(bias)
      .toDF("doc_id", "text")
    val r = TextAnalysis.lexiconScore(docs, lex, bias = 0.5)
      .orderBy("doc_id")
      .collect().map(x => (x.getAs[Int]("lex_hits"), x.getAs[Double]("lex_score")))
    def sig(x: Double) = 1.0 / (1.0 + math.exp(-x))
    assert(r(0)._1 === 3 && math.abs(r(0)._2 - sig(0.5)) < 1e-12)
    assert(r(1)._1 === 1 && math.abs(r(1)._2 - sig(1.5)) < 1e-12)
    assert(r(2)._1 === 0 && math.abs(r(2)._2 - sig(0.5)) < 1e-12,
      "token-less docs must score the bias prior, never NULL")
    intercept[IllegalArgumentException](
      TextAnalysis.lexiconScore(docs, Seq("a" -> 1.0, "a" -> 2.0)))
  }

  test("hashedScore matches the lexicon arithmetic under Spark-derived buckets") {
    import spark.implicits._
    // derive each term's bucket with Spark's own xxhash64, build a
    // weight table from it, and demand the hashed scorer land exactly
    // on the lexicon scorer's numbers — pinning hash, lookup, pooling
    // and squash in one equality (buckets checked collision-free so
    // the correspondence is exact, not approximate)
    val lex = Seq("alpha" -> 0.8, "beta" -> -1.1, "gamma" -> 0.3)
    val n = 64
    val buckets = lex.map(_._1).toDF("t")
      .select(col("t"), pmod(xxhash64(col("t")), lit(n.toLong)).cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(buckets.values.toSet.size === lex.size, s"fixture collision: $buckets")
    // every OTHER token in the fixture must not collide into a weighted
    // bucket, or the two scorers legitimately diverge
    val others = Seq("delta", "epsilon", "unrelated")
    val otherBuckets = others.toDF("t")
      .select(pmod(xxhash64(col("t")), lit(n.toLong)).cast("int"))
      .collect().map(_.getInt(0)).toSet
    assert(otherBuckets.intersect(buckets.values.toSet).isEmpty,
      "fixture collision between weighted and unweighted tokens")
    val w = new Array[Double](n)
    lex.foreach { case (t, wt) => w(buckets(t)) = wt }
    val docs = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "epsilon unrelated"),
      (2L, "alpha alpha")).toDF("doc_id", "text")
    val viaLex = TextAnalysis.lexiconScore(docs, lex).orderBy("doc_id")
      .collect().map(_.getAs[Double]("lex_score"))
    val viaHash = TextAnalysis.hashedScore(docs, w).orderBy("doc_id")
      .collect().map(_.getAs[Double]("hash_score"))
    viaLex.zip(viaHash).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12, s"lexicon $a != hashed $b") }
  }

  test("gopher rules: hand-computed verdicts per rule") {
    // a clean passing document: 6 words, mean len in [3,10], no symbols,
    // no bullets/ellipses, all-alpha, contains the+of+and (>=2 stops)
    val good = "the quick brown fox jumps over the lazy dog of and house"
    val r = TextAnalysis.gopherRules(docsOf((1L, good)), minWords = 5).first()
    assert(r.getAs[Long]("n_words") === 12L)
    assert(r.getAs[Boolean]("gopher_pass"))

    // symbol rule: 3 '#' over 7 words > 0.1 -> r_symbol fails
    val hashy = "alpha bravo charlie delta echo#foxtrot ## golf"
    val h = TextAnalysis.gopherRules(docsOf((1L, hashy)), minWords = 5).first()
    assert(math.abs(h.getAs[Double]("symbol_word_ratio") - 3.0 / 7) < 1e-12)
    assert(!h.getAs[Boolean]("r_symbol") && !h.getAs[Boolean]("gopher_pass"))

    // bullet rule: 2 of 2 lines bulleted = 1.0 > 0.9
    val bullets = "- first item\n* second item"
    val b = TextAnalysis.gopherRules(docsOf((1L, bullets)), minWords = 1).first()
    assert(b.getAs[Double]("bullet_line_ratio") === 1.0)
    assert(!b.getAs[Boolean]("r_bullet"))

    // ellipsis rule: 1 of 2 lines ends with "..." = 0.5 > 0.3; the "..."
    // also counts as one symbol occurrence
    val ell = "this line trails off...\nthis one does not"
    val e = TextAnalysis.gopherRules(docsOf((1L, ell)), minWords = 1).first()
    assert(e.getAs[Double]("ellipsis_line_ratio") === 0.5)
    assert(!e.getAs[Boolean]("r_ellipsis"))
    assert(math.abs(e.getAs[Double]("symbol_word_ratio") - 1.0 / 8) < 1e-12)

    // alpha rule: 2 numeric words of 5 = 0.6 < 0.8
    val nums = "12 34 alpha bravo charlie"
    val a = TextAnalysis.gopherRules(docsOf((1L, nums)), minWords = 1).first()
    assert(math.abs(a.getAs[Double]("alpha_word_ratio") - 3.0 / 5) < 1e-12)
    assert(!a.getAs[Boolean]("r_alpha"))

    // stop rule: only 'the' present (1 < 2)
    val oneStop = "the moonbase crystal garden"
    val s1 = TextAnalysis.gopherRules(docsOf((1L, oneStop)), minWords = 1).first()
    assert(s1.getAs[Long]("n_required_stops") === 1L)
    assert(!s1.getAs[Boolean]("r_stop"))
  }

  test("gopher rules: zero-word and threshold-boundary documents") {
    // empty + punctuation-only: every ratio 0 (never NULL), word-count fails
    val rows = TextAnalysis.gopherRules(docsOf((1L, ""), (2L, "!!! ???")))
      .orderBy("doc_id").collect()
    rows.foreach { r =>
      assert(!r.getAs[Boolean]("r_word_count") && !r.getAs[Boolean]("gopher_pass"))
      assert(!r.isNullAt(r.fieldIndex("symbol_word_ratio")))
      assert(r.getAs[Double]("alpha_word_ratio") === 0.0)
    }
    // boundaries are inclusive: exactly minWords words, mean len exactly 3
    val edge = "abc abc abc abc abc"
    val e = TextAnalysis.gopherRules(docsOf((1L, edge)), minWords = 5).first()
    assert(e.getAs[Long]("n_words") === 5L)
    assert(e.getAs[Double]("mean_word_len") === 3.0)
    assert(e.getAs[Boolean]("r_word_count") && e.getAs[Boolean]("r_mean_len"))
    // invalid bounds refused
    intercept[IllegalArgumentException](
      TextAnalysis.gopherRules(docsOf((1L, "x")), minWords = 10, maxWords = 5))
  }

  test("piiScan: Luhn separates valid from invalid cards; typed redaction") {
    // 4539148803436467 is Luhn-valid; flipping the check digit breaks it
    val docs = docsOf(
      (1L, "pay 4539148803436467 now"),
      (2L, "pay 4539148803436468 now"),
      (3L, "card 4539 1488 0343 6467 and ip 10.0.0.7"),
      (4L, "call +1-555-0123 or mail a@b.org"))
    val rows = TextAnalysis.piiScan(docs).orderBy("doc_id").collect()
    assert(rows(0).getAs[Int]("n_card_candidates") === 1)
    assert(rows(0).getAs[Int]("n_cards") === 1)
    assert(rows(0).getAs[String]("redacted_text") === "pay [CARD] now")
    // invalid checksum: candidate counted, NOT redacted
    assert(rows(1).getAs[Int]("n_card_candidates") === 1)
    assert(rows(1).getAs[Int]("n_cards") === 0)
    assert(rows(1).getAs[String]("redacted_text") === "pay 4539148803436468 now")
    // space-separated card validates (separators stripped before Luhn)
    assert(rows(2).getAs[Int]("n_cards") === 1)
    assert(rows(2).getAs[Int]("n_ips") === 1)
    assert(rows(2).getAs[String]("redacted_text") === "card [CARD] and ip [IP]")
    // phone + email, no card candidates
    assert(rows(3).getAs[Int]("n_card_candidates") === 0)
    assert(rows(3).getAs[Int]("n_phones") === 1)
    assert(rows(3).getAs[Int]("n_emails") === 1)
    assert(rows(3).getAs[String]("redacted_text") === "call [PHONE] or mail [EMAIL]")
  }

  test("luhnValid: checksum arithmetic on known vectors") {
    import spark.implicits._
    val vecs = Seq(
      ("4539148803436467", true),   // Visa test number
      ("79927398713", true),        // the canonical Luhn example
      ("79927398710", false),
      ("4111111111111111", true),
      ("4111111111111112", false),
      ("", false))
    val df = vecs.map(_._1).toDF("d")
      .select(col("d"), TextAnalysis.luhnValid(col("d")).as("v"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    vecs.foreach { case (s, want) => assert(df(s) === want, s"luhn($s)") }
  }

  test("working-column name collisions are refused, not clobbered") {
    import spark.implicits._
    val bad = Seq((1L, "hello world", "keep me")).toDF("doc_id", "text", "_toks")
    val e = intercept[IllegalArgumentException](TextAnalysis.quality(bad))
    assert(e.getMessage.contains("_toks"))
    intercept[IllegalArgumentException](TextAnalysis.langId(bad))
    val bad2 = Seq((1L, "hello world", "keep me")).toDF("doc_id", "text", "_sh")
    intercept[IllegalArgumentException](TextAnalysis.fingerprint(bad2))
  }

  // ── the native tokenizer against the HOF reference ──

  private val asciiChars: Gen[Char] = Gen.oneOf(
    ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++ " \t\n.,;:!?-_'\"()[]/@#".toSeq)

  /** Characters whose case mapping or class the ASCII loop must not
    * guess: KELVIN SIGN and U+0130 lower-case to ASCII letters (plus a
    * combining dot); sharp s, the sigmas, full-width digits, a
    * combining acute, a surrogate-pair emoji and NUL. */
  private val nonAscii: Seq[String] = Seq("\u212A", "\u0130", "\u00DF", "\u03A3", "\u03C2",
    "\u03C3", "\uFF10", "\uFF19", "\u0301", "\uD83D\uDE00", "\u0000", "\u00C9", "\u00E9")

  private val texts: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(""),
    4 -> Gen.choose(0, 40).flatMap(Gen.listOfN(_, asciiChars)).map(_.mkString),
    4 -> Gen.choose(0, 40).flatMap(Gen.listOfN(_,
      Gen.frequency(5 -> asciiChars.map(_.toString), 2 -> Gen.oneOf(nonAscii)))).map(_.mkString))

  private def tokenRows(texts: Seq[String], native: String => org.apache.spark.sql.Column) = {
    import spark.implicits._
    texts.zipWithIndex.map(_.swap).toDF("i", "text")
      .select(col("i"), native("text").as("got"), TextReference.tokensHof(col("text")).as("want"))
  }

  /** `body` with `conf` set, restoring the previous values after. */
  private def withConf[T](conf: (String, String)*)(body: => T): T = {
    val old = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("property: WordTokens equals the HOF tokenizer row by row, under both case mappings") {
    for (icu <- Seq("true", "false")) withConf(
        "spark.sql.icu.caseMappings.enabled" -> icu,
        // keep the projection out of the driver-side local-relation
        // folding, which would evaluate it interpreted
        "spark.sql.optimizer.excludedRules" ->
          "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation") {
      val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      val probe = tokenRows(Seq("a"), t => TextAnalysis.tokensCol(col(t)))
      assert(probe.schema("got").dataType === probe.schema("want").dataType)
      assert(probe.schema("got").dataType === ArrayType(StringType, containsNull = false))
      val codegen = GenerateUnsafeProjection.generate(
        Seq(WordTokens(BoundReference(0, StringType, nullable = true))))
      val prop = Prop.forAllNoShrink(Gen.choose(1, 12).flatMap(Gen.listOfN(_, texts))) { batch =>
        val rows = tokenRows(batch, t => TextAnalysis.tokensCol(col(t))).collect()
          .sortBy(_.getInt(0))
        batch.foreach { t =>
          seen(if (t == null) "null" else if (t.forall(_ < 128)) "ascii" else "non-ascii") += 1
        }
        // the interpreted and the generated code on the driver, too
        def strings(a: ArrayData): Seq[String] =
          if (a == null) null else a.toArray[AnyRef](StringType).map(_.toString).toSeq
        val interpreted = batch.map(t => strings(
          WordTokens(Literal.create(t, StringType)).eval().asInstanceOf[ArrayData]))
        val generated = batch.map { t =>
          val r = codegen(InternalRow(UTF8String.fromString(t)))
          if (r.isNullAt(0)) null else strings(r.getArray(0))
        }
        val got = rows.map(r => Option(r.getSeq[String](1)).map(_.toSeq).orNull).toSeq
        val want = rows.map(r => Option(r.getSeq[String](2)).map(_.toSeq).orNull).toSeq
        Prop(got == want && interpreted == want && generated == want) :|
          s"icu=$icu texts=${batch.map(Option(_).map(_.map(c => f"\\u${c.toInt}%04X").mkString))} " +
            s"got=$got interpreted=$interpreted generated=$generated want=$want"
      }
      val result = Check.check(Check.Parameters.default
        .withMinSuccessfulTests(200).withInitialSeed(Seed(20261018L)).withWorkers(1), prop)
      assert(result.passed, Pretty.pretty(result))
      info(s"icu=$icu rows by kind: $seen")
      for (k <- Seq("null", "ascii", "non-ascii")) assert(seen(k) > 50, s"too few $k rows: $seen")
    }
  }

  test("WordTokens: case mappings that create ASCII letters, nulls, and a collated input") {
    for (icu <- Seq("true", "false")) withConf("spark.sql.icu.caseMappings.enabled" -> icu) {
      val rows = tokenRows(Seq("\u212Aelvin 42", "\u0130stanbul", "STRASSE stra\u00DFe", null, ""),
        t => TextAnalysis.tokensCol(col(t))).orderBy("i").collect()
      rows.foreach(r => assert(r.get(1) == r.get(2), s"icu=$icu row ${r.getInt(0)}"))
      assert(rows(0).getSeq[String](1) === Seq("kelvin", "42"))
      assert(rows(1).getSeq[String](1) === Seq("i", "stanbul"))
      assert(rows(2).getSeq[String](1) === Seq("strasse", "stra", "e"))
      assert(rows(3).isNullAt(1))
      assert(rows(4).getSeq[String](1).isEmpty)
    }
    // a collated input keeps its string type and skips the ASCII loop
    val collated = tokenRows(Seq("Hello, \u212Aelvin", null),
      t => TextAnalysis.tokensCol(collate(col(t), "UTF8_LCASE")))
    val ref = tokenRows(Seq("Hello, \u212Aelvin", null), t => collate(col(t), "UTF8_LCASE"))
      .select(TextReference.tokensHof(col("got")).as("want"))
    assert(collated.schema("got").dataType === ref.schema("want").dataType)
    assert(collated.schema("got").dataType !== ArrayType(StringType, containsNull = false))
    assert(collated.orderBy("i").collect().map(_.get(1)).toSeq ===
      ref.collect().map(_.get(0)).toSeq)
  }

  test("tokenizeRaw lower-cases the same under a Turkish default locale") {
    // the tr locale maps I to a dotless ı, which the [a-z0-9] split drops
    val before = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    try {
      assert(TextAnalysis.tokenizeRaw("TITLE") === Seq("title"))
      assert(TextAnalysis.tokenizeQuery("TITLE Istanbul IT") === Seq("istanbul", "it", "title"))
    } finally java.util.Locale.setDefault(before)
  }
}
