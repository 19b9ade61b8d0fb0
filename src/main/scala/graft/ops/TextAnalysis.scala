package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline over
  * the `documents` table (doc_id, text, lang, source, n_chars). The
  * reference has no text operators (SURVEY.md §2.2) — these are the
  * north_star extensions, built entirely from codegen'd
  * `org.apache.spark.sql.functions` (no UDFs in the hot path) so every
  * stage stays inside whole-stage codegen and scales linearly: each is a
  * narrow map over the corpus, no shuffle except the final aggregation
  * where noted.
  */
object TextAnalysis {

  /** Word tokens: `lower(text)` split on `[^a-z0-9]+`, empty tokens
    * dropped — so a token is a maximal run of `[a-z0-9]` in the
    * lower-cased text. One canonical tokenizer shared by all text and
    * dedup ops, so fingerprints agree.
    *
    * Evaluated by the native [[graft.functions.WordTokens]]: a
    * default-collation row that is all ASCII takes one byte loop; any
    * other row goes through Spark's own `lower` and `split`, so
    * non-ASCII case mappings (and `spark.sql.icu.caseMappings.enabled`)
    * behave exactly as in the SQL form. Null text gives null; the type
    * is `array<string>` with `containsNull = false`. */
  def tokensCol(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(graft.functions.WordTokens(
      org.apache.spark.sql.GraftColumnBridge.expression(text)))

  private val punctPattern = "[^a-zA-Z0-9\\s]"

  /** Working columns (`_toks`/`_norm`/`_sh`) are projected then dropped;
    * an input that already owns one of those names would be silently
    * clobbered and removed from the output — refuse instead. */
  private[ops] def requireFree(df: DataFrame, names: String*): Unit =
    names.foreach(n => require(!df.columns.contains(n),
      s"input column '$n' clashes with a working column reserved by this operator; rename it first"))

  /** Per-language stopword lists for the language-ID heuristic. Tiny,
    * broadcast as literals into the plan (no join needed). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "was"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "de" -> Seq("der", "die", "das", "und", "zu", "den", "ist", "von", "mit", "nicht"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "pour", "dans", "qui"))

  /** Fixed-token-window CHUNKING with overlap: split each document into
    * `chunkTokens`-token windows whose starts step by
    * `chunkTokens − overlap` — the standard preprocessing for context-
    * bounded consumers (embedding models, long-doc training) and the
    * complement of [[Packing.packSequences]], which GROUPS short docs
    * where this SPLITS long ones. Output: one row per chunk with
    * `chunk_idx` (0-based), `chunk_text` (space-joined canonical
    * tokens — normalized like every fingerprint here, so chunk dedup
    * composes with the dedup family unchanged), and `n_chunk_tokens`.
    *
    * Windows: starts 0, s, 2s, … (s = chunkTokens − overlap),
    * continuing only while the PREVIOUS window stopped short of the
    * document's end — so the final window is PARTIAL rather than
    * dropped (training must not silently lose a document's tail), and
    * a window fully contained in its predecessor never arises (window
    * count = ⌈max(0, n − chunkTokens)/s⌉ + 1; every token is covered).
    * Token-less documents (empty text, pure
    * punctuation) produce no chunks — same contract as the shingle
    * pipelines; route them through quality filtering, not chunking.
    * A document's chunking is a pure function of its own text — no
    * shuffle, no state: ONE narrow map + explode, Σ output rows ≈
    * n_tokens/(s) per doc, and every derived row keeps `idCol` so
    * provenance survives.
    *
    * `overlap` must be < chunkTokens (a step of 0 would loop forever
    * at 100 TB exactly like it would at 100 rows — refused here).
    * Output columns `chunk_idx`/`chunk_text`/`n_chunk_tokens` and
    * working column `_ck_toks` must be free.
    */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
            chunkTokens: Int, overlap: Int = 0): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens), got $overlap (chunkTokens=$chunkTokens)")
    requireFree(docs, "_ck_toks", "chunk_idx", "chunk_text", "n_chunk_tokens")
    val step = chunkTokens - overlap
    // last window index = ceil(max(0, n − chunkTokens)/step), computed
    // in integer arithmetic (DIV) — a double divide could round at
    // exact multiples and emit a contained (or missing) tail window
    val lastIdx = expr(
      s"(greatest(size(_ck_toks) - $chunkTokens, 0) + $step - 1) DIV $step")
    docs
      .withColumn("_ck_toks", tokensCol(col(textCol)))
      .where(size(col("_ck_toks")) > 0)
      .select(col(idCol), col("_ck_toks"),
        posexplode(transform(
          sequence(lit(0), lastIdx),
          i => slice(col("_ck_toks"), i * step + 1, lit(chunkTokens))))
          .as(Seq("chunk_idx", "_ck_win")))
      .select(col(idCol), col("chunk_idx"),
        array_join(col("_ck_win"), " ").as("chunk_text"),
        size(col("_ck_win")).as("n_chunk_tokens"))
  }

  /** Quality scoring: cheap per-document signals used to filter training
    * corpora (length, token stats, punctuation/stopword ratios). Pure
    * narrow map — at 100 TB this is one scan, no shuffle.
    */
  def quality(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val enStops = stopwords("en").map(lit(_))
    // tokens are projected ONCE as an attribute: the metrics below
    // reference them 5×, and handing them the raw tokensCol expression
    // would re-run the tokenizer per reference (CollapseProject only
    // keeps the projections apart when the alias is an attribute — the
    // same trap Dedup.minhashCandidates documents)
    val toks = col("_toks")
    requireFree(docs, "_toks")
    docs
      .withColumn("_toks", tokensCol(text))
      .withColumn("n_chars_calc", length(text))
      .withColumn("n_tokens", size(toks))
      .withColumn("n_unique_tokens", size(array_distinct(toks)))
      .withColumn("avg_token_len",
        when(size(toks) > 0,
          aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
          .otherwise(lit(0.0)))
      .withColumn("punct_ratio",
        when(length(text) > 0,
          (length(text) - length(regexp_replace(text, punctPattern, ""))).cast("double") / length(text))
          .otherwise(lit(0.0)))
      .withColumn("stopword_ratio",
        when(size(toks) > 0,
          size(filter(toks, t => t.isin(enStops: _*))).cast("double") / size(toks))
          .otherwise(lit(0.0)))
      .drop("_toks")
  }

  /** Learned quality-filter INFERENCE, lexicon form — the linear text
    * classifier shape of CCNet/LLaMA-style curation (a fastText-like
    * model reduced to per-term weights):
    * `score = sigmoid(bias + Σ w(token) / n_tokens)`, unknown tokens
    * weighing 0. One narrow codegen'd pass: the lexicon rides the plan
    * as a map LITERAL (config-sized — hundreds to a few thousand
    * terms; past that use [[hashedScore]], whose weight table is
    * vocabulary-free and O(1) in the plan). Emits `lex_hits` (tokens
    * found in the lexicon) and `lex_score`; a curation run follows
    * with a threshold gate. Docs with zero tokens score
    * `sigmoid(bias)` — the empty-text prior, never NULL. */
  def lexiconScore(docs: DataFrame, lexicon: Seq[(String, Double)],
                   textCol: String = "text", bias: Double = 0.0): DataFrame = {
    require(lexicon.nonEmpty, "empty lexicon: nothing to score")
    require(lexicon.map(_._1).distinct.size == lexicon.size,
      "duplicate lexicon terms: weights would silently collide")
    requireFree(docs, "_toks", "lex_hits", "lex_score")
    val m = map(lexicon.flatMap { case (t, w) => Seq(lit(t), lit(w)) }: _*)
    val toks = col("_toks")
    docs
      .withColumn("_toks", tokensCol(col(textCol)))
      .withColumn("lex_hits",
        size(filter(toks, t => element_at(m, t).isNotNull)))
      .withColumn("lex_score",
        sigmoid(lit(bias) +
          when(size(toks) > 0,
            aggregate(toks, lit(0.0),
              (acc, t) => acc + coalesce(element_at(m, t), lit(0.0))) / size(toks))
            .otherwise(lit(0.0))))
      .drop("_toks")
  }

  /** Learned quality-filter INFERENCE, hashed form — fastText's actual
    * deployment shape: tokens hash into a fixed-width weight table
    * (`w(token) = weights[xxhash64(token) mod |weights|]`), so scoring
    * needs no vocabulary at all and the model is a dense array a
    * trainer exports. Same arithmetic as [[lexiconScore]] otherwise:
    * `score = sigmoid(bias + Σ w(token) / n_tokens)`.
    *
    * The weight table travels as ONE broadcast row cross-joined in
    * (the centroid-table pattern): plan size is O(1) in the bucket
    * count, so 2^18-bucket production models plan exactly like the
    * 16-bucket spec fixture. Hash-bucket collisions are the standard
    * fastText trade — the trainer sees the same collisions, so
    * inference matches training. */
  def hashedScore(docs: DataFrame, weights: Array[Double],
                  textCol: String = "text", bias: Double = 0.0): DataFrame = {
    require(weights.nonEmpty, "empty weight table: nothing to score")
    requireFree(docs, "_toks", "_w", "hash_score")
    val spark = docs.sparkSession
    val wdf = broadcast(spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row(weights.toSeq)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_w",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false),
          nullable = false)))))
    val toks = col("_toks")
    val n = weights.length
    docs
      .crossJoin(wdf)
      .withColumn("_toks", tokensCol(col(textCol)))
      .withColumn("hash_score",
        sigmoid(lit(bias) +
          when(size(toks) > 0,
            aggregate(toks, lit(0.0),
              (acc, t) => acc + element_at(col("_w"),
                pmod(xxhash64(t), lit(n.toLong)).cast("int") + 1)) / size(toks))
            .otherwise(lit(0.0))))
      .drop("_toks", "_w")
  }

  private def sigmoid(x: Column): Column = lit(1.0) / (lit(1.0) + exp(-x))

  /** Whitespace-ish token counting plus a BPE-ish subword estimate
    * (4 chars ≈ 1 token, the common rule of thumb), per document. */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    docs
      .withColumn("n_ws_tokens", size(filter(split(text, "\\s+"), t => length(t) > 0)))
      .withColumn("n_word_tokens", size(tokensCol(text)))
      .withColumn("n_bpe_est", ceil(length(text).cast("double") / 4).cast("long"))
  }

  /** Corpus-level token frequency (the one text op that shuffles: a
    * hash aggregation keyed by token — partial map-side combine keeps the
    * exchange proportional to vocabulary, not corpus, size). */
  def tokenFrequencies(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(tokensCol(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))

  /** Language-ID: stopword-hit scoring per language, argmax with a
    * deterministic tiebreak (score desc, language code asc). A real
    * pipeline swaps in character-n-gram models; the dataflow — narrow
    * map, no shuffle — is identical.
    */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = col("_toks") // projected once; see quality()
    val scored = stopwords.toSeq.sortBy(_._1).map { case (langCode, words) =>
      val ws = words.map(lit(_))
      struct(size(filter(toks, t => t.isin(ws: _*))).as("score"), lit(langCode).as("lang"))
    }
    // argmax: sort (score, lang) structs; ties break to the LOWEST lang
    // code, so invert lang ordering inside the struct via negative score
    // first. array_max on structs orders lexicographically by field.
    val best = aggregate(
      array(scored: _*),
      struct(lit(-1).as("score"), lit("zz").as("lang")),
      (acc, s) => when(s.getField("score") > acc.getField("score") ||
          (s.getField("score") === acc.getField("score") && s.getField("lang") < acc.getField("lang")), s)
        .otherwise(acc))
    requireFree(docs, "_toks")
    docs.withColumn("_toks", tokensCol(col(textCol)))
      .withColumn("pred_lang", best.getField("lang"))
      .withColumn("pred_score", best.getField("score"))
      .drop("_toks")
  }

  /** Per-document top-k TF-IDF terms — the classic relevance/keyword
    * extraction op for a training-data pipeline (salient-term tagging,
    * topic sampling). Smoothed IDF: ln((N+1)/(df+1)) + 1.
    *
    * Scale shape: the corpus collapses to (doc, token, tf) rows in ONE
    * partially-aggregated exchange (vocabulary-scale, never text
    * bytes). Doc length and the top-k rank are WINDOW aggregates over
    * the doc partition — the round-1 docLen join's build side grew with
    * the corpus (one row per doc, unbroadcastable at 100 TB), and the
    * window shares a single doc exchange with the rank. Document
    * frequency stays a partial-aggregated groupBy JOINED back (shuffled
    * on token, dfreq side vocabulary-sized), NOT a token-partition
    * window: a window must buffer each partition, so a stopword-like
    * hot token would funnel ~n_docs rows through one task's buffer,
    * while a join reducer streams them. The corpus size N is the only
    * broadcast (a single row). Measured 1.4-2× over the two-join form
    * at sf0.1.
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol).as("doc"), explode(tokensCol(col(textCol))).as("token"))
    val tf = tok.groupBy("doc", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.select(count(col(idCol)).as("n_docs"))
    val scored = tf
      .join(dfreq, "token")
      .withColumn("len", sum("tf").over(Window.partitionBy("doc")))
      .crossJoin(broadcast(n))
      .withColumn("tfidf_raw",
        (col("tf").cast("double") / col("len").cast("double")) *
          (log((col("n_docs") + lit(1)).cast("double") / (col("df") + lit(1)).cast("double")) + lit(1.0)))
    val w = Window.partitionBy("doc").orderBy(col("tfidf_raw").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc").as(idCol), col("token"), col("rank"), col("tfidf_raw"))
  }

  /** Canonical corpus normalization — the first stage of every training
    * pipeline: lowercase, non-alphanumeric runs collapsed to single
    * spaces, trimmed. Pure narrow map, no shuffle. */
  def normalize(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("norm_text", trim(regexp_replace(lower(col(textCol)), "[^a-z0-9]+", " ")))
      .withColumn("n_norm_chars", length(col("norm_text")))

  /** Within-document repetition signals (the Gopher/C4-style quality
    * filters): `top_token_ratio` (most frequent token's share of the
    * doc), `distinct_token_ratio`, and `dup_bigram_ratio` (1 − distinct
    * bigrams / bigrams — repeated phrasing).
    *
    * Scale shape: per-token counts go explode → (doc, token) partial
    * aggregate → per-doc aggregate, so that exchange carries counts,
    * not text; bigram stats are per-row array ops (narrow) PROJECTED
    * BEFORE the final join, so the join exchanges only
    * (id, dup_bigram_ratio) — never text bytes. Output is
    * (idCol, three ratio columns); join it back to the corpus if the
    * original columns are needed downstream. */
  def repetition(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    requireFree(docs, "_toks", "_bi", "_tok", "_cnt", "_mx", "_tot", "_nd")
    val counts = docs
      .select(col(idCol), explode(tokensCol(col(textCol))).as("_tok"))
      .groupBy(col(idCol), col("_tok")).agg(count(lit(1)).as("_cnt"))
      .groupBy(idCol).agg(max("_cnt").as("_mx"), sum("_cnt").as("_tot"),
        count(lit(1)).as("_nd"))
    val toks = col("_toks")
    val bi = col("_bi")
    val bigramStats = docs
      .withColumn("_toks", tokensCol(col(textCol)))
      .withColumn("_bi", Dedup.shingles(col("_toks"), 2))
      .select(col(idCol),
        when(size(toks) >= 2,
          lit(1.0) - size(array_distinct(bi)).cast("double") / size(bi))
          .otherwise(lit(0.0)).as("dup_bigram_ratio"))
    bigramStats
      .join(counts, Seq(idCol), "left") // docs with zero tokens have no counts row
      .select(col(idCol),
        coalesce(col("_mx").cast("double") / col("_tot"), lit(0.0)).as("top_token_ratio"),
        coalesce(col("_nd").cast("double") / col("_tot"), lit(0.0)).as("distinct_token_ratio"),
        col("dup_bigram_ratio"))
  }

  /** Regex patterns for PII-style redaction. Kept simple enough to mean
    * the same thing in Java regex and RE2 (so oracles can mirror them);
    * a production pipeline would swap in vetted pattern sets. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII-style redaction: emails and IPv4 literals replaced with typed
    * placeholder tokens, with per-doc match counts for audit. Narrow
    * map, no shuffle — at 100 TB this is one scan. Email first: an
    * address's host part could otherwise be half-eaten by the IP pass. */
  def redact(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    docs
      .withColumn("n_emails", regexp_count(text, lit(emailPattern)))
      .withColumn("n_ips", regexp_count(text, lit(ipv4Pattern)))
      .withColumn("redacted_text",
        regexp_replace(regexp_replace(text, emailPattern, "[EMAIL]"), ipv4Pattern, "[IP]"))
  }

  /** 13–19 digits with optional single space/dash separators — the
    * candidate surface for card-number detection. Candidates are NOT
    * matches: validity is decided by the Luhn checksum below (a bare
    * regex would redact order ids, timestamps, and tracking numbers). */
  val cardCandidatePattern = "\\b(?:[0-9][ -]?){12,18}[0-9]\\b"

  /** E.164-style international phone literals (`+CC-NNN-NNNN…`). */
  val phonePattern = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}(-[0-9]{3,4})?"

  /** Luhn checksum validity of a digit string, as a pure codegen'd
    * integer expression (ISO/IEC 7812: from the RIGHT, double every
    * second digit, subtract 9 when the double exceeds 9, valid iff the
    * sum ≡ 0 mod 10). `sequence(1..n) → transform → aggregate` — all
    * integer arithmetic, so an ANSI oracle reproduces every verdict
    * exactly; no UDF, stays inside whole-stage codegen. */
  def luhnValid(digits: Column): Column = bindOnce(digits) { ds =>
    val n = length(ds)
    val contribs = transform(sequence(lit(1), n), p => {
      val d = substr(ds, n - p + 1, lit(1)).cast("int")
      when(p % 2 === 1, d)
        .otherwise(when(d * 2 < 10, d * 2).otherwise(d * 2 - 9))
    })
    n > 0 && aggregate(contribs, lit(0), (acc, x) => acc + x) % 10 === 0
  }

  /** Full PII scan — emails, IPv4 literals, phone numbers, and
    * Luhn-VALIDATED card numbers — in ONE narrow pass, with per-doc
    * counts for audit and a `redacted_text` where each class gets a
    * typed placeholder. Supersedes [[redact]] (kept for the
    * email/IP-only shape).
    *
    * Card redaction is content-dependent (only candidates whose digits
    * pass [[luhnValid]] are replaced), which a single regexp_replace
    * cannot express: candidates are extracted, filtered by checksum,
    * and the survivors folded over the text as literal replaces
    * (`aggregate(valid, text, replace)`) — candidate lists are
    * per-document and mention-bounded, so the fold is a few literal
    * scans of one document's bytes, still a narrow map at 100 TB.
    * Order matters and is fixed: cards first (a phone pass could
    * half-eat a separated card run), then phones, emails, IPs. */
  def piiScan(docs: DataFrame, textCol: String = "text"): DataFrame = {
    requireFree(docs, "_cands", "_valid", "n_card_candidates", "n_cards",
      "n_phones", "n_emails", "n_ips", "redacted_text")
    val text = col(textCol)
    docs
      .withColumn("_cands", regexp_extract_all(text, lit(cardCandidatePattern), lit(0)))
      .withColumn("_valid",
        filter(col("_cands"), c => luhnValid(regexp_replace(c, "[^0-9]", ""))))
      .withColumn("n_card_candidates", size(col("_cands")))
      .withColumn("n_cards", size(col("_valid")))
      .withColumn("n_phones", regexp_count(text, lit(phonePattern)))
      .withColumn("n_emails", regexp_count(text, lit(emailPattern)))
      .withColumn("n_ips", regexp_count(text, lit(ipv4Pattern)))
      .withColumn("redacted_text",
        regexp_replace(regexp_replace(regexp_replace(
          aggregate(col("_valid"), text, (acc, c) => replace(acc, c, lit("[CARD]"))),
          phonePattern, "[PHONE]"),
          emailPattern, "[EMAIL]"),
          ipv4Pattern, "[IP]"))
      .drop("_cands", "_valid")
  }

  // Case-insensitive: scheme and host case vary freely in real web text
  // ('HTTPS://ExAmple.org' is the same domain as 'https://example.org');
  // a case-sensitive match would miss or truncate mixed-case hosts.
  private val urlPattern = "(?i)https?://([a-z0-9.-]+)"

  /** URL extraction + per-domain rollup — the table web-corpus curation
    * operates on: domain blocklists/allowlists, per-domain caps, and
    * source-mix reports all key on exactly this (domain, n_docs,
    * n_urls) aggregate. Domains are lower-cased (DNS is
    * case-insensitive) so rollups never split one host across case
    * variants. Narrow map (regexp scan + explode) into one
    * partially-aggregated groupBy keyed on short domain strings — text
    * bytes never shuffle; the countDistinct expands to (domain, doc)
    * partial-dedup, still bounded by the URL mention count, not corpus
    * text. */
  def urlDomains(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol).as("_doc"),
        explode(regexp_extract_all(col(textCol), lit(urlPattern), lit(0))).as("_url"))
      .select(col("_doc"), lower(regexp_extract(col("_url"), urlPattern, 1)).as("domain"))
      .groupBy("domain")
      .agg(countDistinct(col("_doc")).as("n_docs"), count(lit(1)).as("n_urls"))

  /** Same one-element-transform binding trick as Dedup/Similarity:
    * Spark HOF lambdas get no common-subexpression elimination, so a
    * tokenizer referenced once per query TERM would re-run that many
    * times per document. */
  private def bindOnce(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), f), 1)

  /** JVM-side twin of [[tokensCol]] — the SAME rule, for operators
    * whose inner loop is imperative (BPE) or whose input is a
    * driver-side string (BM25 queries). Lower-cases with `Locale.ROOT`,
    * so the JVM's default locale never changes a token (under a Turkish
    * default, `"TITLE".toLowerCase` holds a dotless ı and splits). */
  private[ops] def tokenizeRaw(s: String): Seq[String] =
    s.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").toSeq.filter(_.nonEmpty)

  /** Driver-side query tokenization for BM25: distinct, sorted — the
    * deterministic summation order the scoring relies on. */
  private[ops] def tokenizeQuery(q: String): Seq[String] =
    tokenizeRaw(q).distinct.sorted

  /** BM25 top-k lexical retrieval — the keyword twin of the ANN
    * surface (`Similarity.*TopK`): score every document against each
    * query string with Okapi BM25 and return the `k` best per query.
    *
    *   score(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *   idf(t)     = ln(1 + (N − df + 0.5)/(df + 0.5))
    *
    * (Robertson/Spärck Jones; the formulation Lucene documents
    * publicly.) Two corpus passes, both narrow:
    *  1. a single aggregate computes N, Σdl, and per-term df for the
    *     distinct terms of ALL queries at once (terms are config-sized;
    *     df via `array_contains`, no explode);
    *  2. a scoring map computes every query's score in ONE pass (the
    *     tokenizer bound once per doc), keeps docs with score > 0 —
    *     at web scale the overwhelming filter, since most docs share
    *     no term with any query — and ranks per query.
    * The only shuffle is the final per-query top-k window over
    * (query_id, id, score) triplets of MATCHING docs. At 100 TB with
    * a high-traffic query workload you'd persist an inverted index
    * (df/tf/postings, clustered on term — the `IncrementalDedup`
    * postings layout applies verbatim); this is the index-free form
    * whose answer that index must reproduce.
    *
    * Determinism (what lets a DuckDB oracle hash-match a float score):
    * idf inputs are integers, avgdl is Σdl/N in one double division,
    * and each score folds its term contributions in SORTED term order —
    * floating-point addition is order-sensitive, so the order is part
    * of the operator contract, not an accident.
    *
    * Returns (query_id, idCol, rank, score), rank 1-based, ties broken
    * by ascending id. */
  def bm25TopK(docs: DataFrame, queries: Seq[(Long, String)],
               idCol: String = "doc_id", textCol: String = "text",
               k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "no queries")
    requireFree(docs, "_tk", "_qs")
    val qterms: Seq[(Long, Seq[String])] =
      queries.map { case (qid, q) => qid -> tokenizeQuery(q) }
    val allTerms = qterms.flatMap(_._2).distinct.sorted
    require(allTerms.nonEmpty, "queries tokenize to no terms")

    // pass 1: N, Σdl, df per term — one aggregate, no explode
    val statsAggs =
      (count(lit(1)).as("_n") +: sum(size(col("_tk"))).as("_sumdl") +:
        allTerms.map(t => sum(when(array_contains(col("_tk"), t), 1L)
          .otherwise(0L)).as(s"_df_$t")))
    val srow = docs.select(tokensCol(col(textCol)).as("_tk"))
      .agg(statsAggs.head, statsAggs.tail: _*).head()
    val n = srow.getLong(0)
    require(n > 0, "empty corpus")
    val avgdl = srow.getLong(1).toDouble / n
    val dfMap: Map[String, Long] =
      allTerms.zipWithIndex.map { case (t, i) => t -> srow.getLong(i + 2) }.toMap
    def idf(t: String): Double = {
      val df = dfMap(t).toDouble
      math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    }

    // pass 2: all queries scored in one narrow map
    val scored = docs.select(col(idCol),
      explode(bindOnce(tokensCol(col(textCol))) { tk =>
        val dl = size(tk).cast("double")
        array(qterms.map { case (qid, terms) =>
          val score = terms.foldLeft(lit(0.0)) { (acc, t) =>
            val tf = size(filter(tk, x => x === lit(t))).cast("double")
            acc + lit(idf(t)) * (tf * lit(k1 + 1.0)) /
              (tf + lit(k1) * (lit(1.0) - lit(b) + (lit(b) * dl) / lit(avgdl)))
          }
          struct(lit(qid).as("query_id"), score.as("score"))
        }: _*)
      }).as("_qs"))
      .select(col("_qs.query_id").as("query_id"), col(idCol),
        col("_qs.score").as("score"))
      .where(col("score") > 0d)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("rank"), col("score"))
  }

  /** Unigram language-model PERPLEXITY scoring — the quality-filter
    * family CCNet popularized (Wenzek et al., LREC 2020: filter web
    * text by LM perplexity; their KenLM is pretrained, this is the
    * in-corpus form): train add-k-smoothed unigram probabilities on
    * the corpus itself, score each document by
    *
    *   ppl(d) = exp( − (Σ_i ln p(w_i)) / n )    with
    *   p(w)   = (count(w) + k) / (total + k·(V+1)),
    *
    * out-of-vocabulary words taking the count-0 probability (the +1 in
    * V is the OOV bucket). High perplexity = rare-word-heavy /
    * vocabulary-inconsistent documents — gibberish, boilerplate soup,
    * wrong-language residue.
    *
    * Shapes, by pass:
    *  1. vocabulary: one explode+groupBy word count, top `vocabSize`
    *     by (count desc, word asc) — the same bounded deterministic
    *     cap as BPE training; V and the total token count come from
    *     the same aggregates.
    *  2. scoring: a NARROW map — the log-prob table rides the plan as
    *     ONE MapType literal (a single data value, not 65k expression
    *     nodes), each doc folds `ln p` over its token array IN
    *     POSITION ORDER via `aggregate` (ordered IEEE summation — the
    *     BM25 determinism contract again), no explode, no shuffle.
    * At 100 TB pass 2 is scan-speed; pass 1 is one word-count shuffle.
    *
    * Returns (idCol, n_tokens, ppl) — ppl NULL for token-less docs. */
  def unigramPerplexity(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", vocabSize: Int = 65536,
                        addK: Double = 0.5): DataFrame = {
    require(vocabSize > 0 && addK > 0, "vocabSize and addK must be positive")
    requireFree(docs, "_tk", "_lp")
    val counts: Array[(String, Long)] = docs
      .select(explode(tokensCol(col(textCol))).as("_w"))
      .groupBy("_w").agg(count(lit(1)).as("_c"))
      .orderBy(col("_c").desc, col("_w").asc)
      .limit(vocabSize)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    // total over the WHOLE corpus (not just kept vocab): OOV mass stays
    // in the denominator, so probabilities stay a proper distribution
    val total = docs
      .select(size(tokensCol(col(textCol))).as("_n"))
      .agg(coalesce(sum(col("_n")), lit(0L))).head().getLong(0)
    val v = counts.length
    val denom = total + addK * (v + 1)
    val logp: Map[String, Double] =
      counts.map { case (w, c) => w -> math.log((c + addK) / denom) }.toMap
    val unkLogp = math.log(addK / denom)
    val lpMap = typedLit(logp)
    docs.select(col(idCol),
      bindOnce(tokensCol(col(textCol))) { tk =>
        struct(
          size(tk).cast("long").as("n_tokens"),
          aggregate(
            transform(tk, w => coalesce(element_at(lpMap, w), lit(unkLogp))),
            lit(0.0), (acc, x) => acc + x).as("_lp"))
      }.as("_s"))
      .select(col(idCol), col("_s.n_tokens").as("n_tokens"),
        when(col("_s.n_tokens") > 0,
          exp(-col("_s._lp") / col("_s.n_tokens").cast("double")))
          .as("ppl"))
  }

  /** Document fingerprinting: md5 of normalized text (exact-dup key) and
    * a shingle fingerprint (min/max of rolling 3-token shingle hashes —
    * a cheap rolling-hash sketch). Narrow map; hashes are 8-16 bytes per
    * doc, so downstream dedup shuffles fingerprints, never text bytes.
    */
  def fingerprint(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // tokens/normalization/shingle-hashes each projected once as
    // attributes — md5+length reference _norm twice, min+max reference
    // _sh twice; raw expressions would re-run tokenize per reference
    requireFree(docs, "_toks", "_norm", "_sh")
    docs
      .withColumn("_toks", tokensCol(col(textCol)))
      .withColumn("_norm", array_join(col("_toks"), " "))
      .withColumn("_sh", Dedup.shingleHashes(col("_toks"), 3))
      .withColumn("md5_fp", md5(col("_norm")))
      .withColumn("norm_len", length(col("_norm")))
      .withColumn("shingle_min_fp", array_min(col("_sh")))
      .withColumn("shingle_max_fp", array_max(col("_sh")))
      .drop("_toks", "_norm", "_sh")
  }

  /** The eight "stop words" of the Gopher rule battery — presence of ≥2
    * distinct members is rule 7 (a crude English-fluency gate; distinct
    * from the langId [[stopwords]], which score frequency not presence). */
  val gopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** GOPHER QUALITY-RULE BATTERY (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher", §A.1.1)
    * — the named heuristic filter bundle most curation pipelines start
    * from, emitted as per-rule VERDICTS rather than one opaque boolean so
    * a run can audit *why* documents fell (rule-level drop rates are the
    * standard curation health metric). Rules, per document:
    *
    *   1 `r_word_count`  — word count in [minWords, maxWords] (50..100k)
    *   2 `r_mean_len`    — mean word length in [3, 10] characters
    *   3 `r_symbol`      — (# chars + "..." occurrences) / words ≤ 0.1
    *   4 `r_bullet`      — ≤ 90% of lines start with a bullet (•, -, *)
    *   5 `r_ellipsis`    — ≤ 30% of lines end with "..."
    *   6 `r_alpha`       — ≥ 80% of words contain an alphabetic character
    *   7 `r_stop`        — ≥ 2 distinct [[gopherStops]] present as tokens
    *
    * plus `gopher_pass` = AND of all seven. "Words" are whitespace-split
    * raw words (the paper filters on surface text, not normalized
    * tokens); rule 7 alone uses the canonical [[tokensCol]] tokens so it
    * composes with the rest of the text family. "Lines" are \n-split,
    * whitespace-only lines dropped. Zero-word documents take ratio 0 for
    * every guarded division (they already fail rule 1, so `gopher_pass`
    * is false without NULL poisoning).
    *
    * 100 TB shape: ONE narrow codegen'd map — every rule is arithmetic
    * over two array projections (`_gw` words, `_gl` lines) materialized
    * once each as attributes (the CollapseProject re-run trap documented
    * at [[quality]]); no shuffle, no UDF, no driver state. The threshold
    * comparisons are pure double arithmetic on integer-derived values,
    * so an ANSI SQL oracle reproduces every verdict bit-exactly.
    */
  def gopherRules(docs: DataFrame, textCol: String = "text",
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    require(minWords >= 0 && maxWords >= minWords,
      s"need 0 <= minWords <= maxWords, got [$minWords, $maxWords]")
    requireFree(docs, "_gw", "_gl", "n_words", "mean_word_len",
      "symbol_word_ratio", "bullet_line_ratio", "ellipsis_line_ratio",
      "alpha_word_ratio", "n_required_stops", "r_word_count", "r_mean_len",
      "r_symbol", "r_bullet", "r_ellipsis", "r_alpha", "r_stop", "gopher_pass")
    val text = col(textCol)
    val w = col("_gw"); val l = col("_gl")
    val nWords = size(w).cast("double")
    val safeRatio = (num: Column) =>
      when(size(w) > 0, num / nWords).otherwise(lit(0.0))
    val lineRatio = (num: Column) =>
      when(size(l) > 0, num.cast("double") / size(l)).otherwise(lit(0.0))
    docs
      .withColumn("_gw", filter(split(text, "\\s+"), x => length(x) > 0))
      .withColumn("_gl",
        filter(transform(split(text, "\n"), x => trim(x)), x => length(x) > 0))
      .withColumn("n_words", size(w).cast("long"))
      .withColumn("mean_word_len",
        safeRatio(aggregate(w, lit(0L), (acc, x) => acc + length(x)).cast("double")))
      .withColumn("symbol_word_ratio", safeRatio(
        ((length(text) - length(regexp_replace(text, "#", "")))
          + (length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3)
          .cast("double")))
      .withColumn("bullet_line_ratio",
        lineRatio(size(filter(l, x => substring(x, 1, 1).isin("•", "-", "*")))))
      .withColumn("ellipsis_line_ratio",
        lineRatio(size(filter(l, x => x.endsWith("...")))))
      .withColumn("alpha_word_ratio",
        safeRatio(size(filter(w, x => x.rlike("[a-zA-Z]"))).cast("double")))
      // bindOnce, or the 8-element filter lambda re-runs the
      // tokenizer once per stop word per row (the CollapseProject
      // re-run trap documented above)
      .withColumn("n_required_stops", bindOnce(tokensCol(text)) { tk =>
        size(filter(
          array(gopherStops.map(lit(_)): _*), s => array_contains(tk, s))).cast("long")
      })
      .withColumn("r_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_mean_len",
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("r_symbol", col("symbol_word_ratio") <= 0.1)
      .withColumn("r_bullet", col("bullet_line_ratio") <= 0.9)
      .withColumn("r_ellipsis", col("ellipsis_line_ratio") <= 0.3)
      .withColumn("r_alpha", col("alpha_word_ratio") >= 0.8)
      .withColumn("r_stop", col("n_required_stops") >= 2)
      .withColumn("gopher_pass",
        col("r_word_count") && col("r_mean_len") && col("r_symbol") &&
          col("r_bullet") && col("r_ellipsis") && col("r_alpha") && col("r_stop"))
      .drop("_gw", "_gl")
  }
}
