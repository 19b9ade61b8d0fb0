package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding-cosine — over (id, text) corpora. Absent from the reference
  * (SURVEY.md §2.2 ★); designed for the 100 TB case:
  *
  *  - exact dedup shuffles a 16-byte digest, never document bytes;
  *  - near-dup never does an O(n²) cross join: MinHash/SimHash band
  *    buckets (and a shingle inverted index for Jaccard) bound candidate
  *    generation, and hot buckets are capped to keep worst-case skew from
  *    exploding a single reducer;
  *  - everything is `org.apache.spark.sql.functions` (codegen'd), no UDFs.
  */
object Dedup {

  /** [[nearDupStream]]'s default idle-bucket TTL. A conservative 30
    * minutes: long enough that bursts of near-dups (mirror crawls,
    * re-posts) still land in a live bucket, short enough that bucket
    * keys — the one state dimension `maxBucket` cannot cap — are
    * dropped instead of accruing for the life of the query. Spec-pinned
    * as DEFINED: unbounded state requires an explicit `stateTtl =
    * None`. */
  val DefaultStreamStateTtl: Option[String] = Some("30 minutes")

  /** Rolling n-token shingles from a token array (contiguous n-grams,
    * space-joined). Used by MinHash and Jaccard so both agree. Callers
    * that only need the shingle HASHES should use [[shingleHashes]],
    * which never materializes the strings. */
  def shingles(tokens: Column, n: Int): Column = {
    val sz = size(tokens)
    when(sz >= n,
      transform(sequence(lit(0), sz - n),
        i => array_join(slice(tokens, i + 1, lit(n)), " ")))
      .otherwise(
        // short docs: one shingle = whole doc, so they can still match
        when(sz > 0, array(array_join(tokens, " "))).otherwise(array()))
  }

  /** Per-position shingle hashes — `transform(shingles(tokens, n),
    * s => xxhash64(s))` as one fused native pass
    * ([[graft.functions.ShingleHashes]]: flat joined buffer +
    * byte-slice hashes, zero per-shingle string allocation;
    * bit-identity spec-pinned in DedupSpec). Null token arrays yield
    * the empty array, like `shingles`' when-chain. Every hash-consuming
    * pipeline here (MinHash banding, shingle sets, inverted-index
    * Jaccard) feeds from this. */
  def shingleHashes(tokens: Column, n: Int): Column =
    coalesce(
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.ShingleHashes(
          org.apache.spark.sql.GraftColumnBridge.expression(tokens), n)),
      array().cast("array<bigint>"))

  /** Exact dedup, canonical-keeper form: one surviving row per distinct
    * key tuple, keeping the minimum id (deterministic, unlike
    * dropDuplicates' arbitrary row). */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(min(col(idCol)).as(idCol))
      .select(col(idCol) +: keyCols.map(col): _*)

  /** Exact dedup by content digest. At 100 TB this is THE scalable form:
    * group by md5(normalized text) so the exchange carries 16-byte keys
    * plus ids instead of full documents. */
  def exactByHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = array_join(TextAnalysis.tokensCol(col(textCol)), " ")
    df.select(col(idCol), md5(norm).as("content_md5"))
      .groupBy("content_md5")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
  }

  /** Streaming exact dedup for an ingest pipeline: drop any document
    * whose normalized-content digest was already seen within the
    * watermark horizon. Built on `dropDuplicatesWithinWatermark`, so
    * the dedup state store is BOUNDED — digests older than the horizon
    * are evicted — which is the property that makes continuous ingest
    * dedup viable at 100 TB (an unbounded `dropDuplicates` state grows
    * with corpus size forever). Exactly-once within the horizon;
    * documents re-ingested after the horizon pass again (the batch
    * `exactByHash` over the full corpus is the backstop).
    *
    * @param docs    streaming DataFrame with (idCol, textCol, tsCol)
    * @param horizon watermark delay, e.g. "1 hour"
    */
  def exactDedupStream(docs: DataFrame, idCol: String, textCol: String,
                       tsCol: String, horizon: String): DataFrame =
    docs
      .withColumn("content_md5",
        md5(array_join(TextAnalysis.tokensCol(col(textCol)), " ")))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("content_md5")

  /** STREAMING near-duplicate candidates — the banded-MinHash pipeline
    * re-expressed over an unbounded stream with BOUNDED per-bucket
    * state. Each arriving document's k-slot signature is computed by
    * the fused narrow [[graft.functions.MinHashSignature]] (streaming-
    * safe: no aggregate, no shuffle), banded with the SAME seed
    * chaining as the batch `minhashCandidates`, and compared inside its
    * (band, bucket) group against a registry of at most `maxBucket`
    * prior signatures (FIFO eviction — the streaming twin of the batch
    * skew cap, trading recall on degenerate buckets for bounded work
    * AND bounded bytes: 8·k per doc, ~512 B at k=64).
    *
    * Output: one row per (band, candidate pair) with `est_jaccard`, the
    * matching-slot fraction — the standard unbiased J estimator,
    * stderr ≈ √(J(1−J)/k) ≈ 0.06 at k=64. Exact verification needs the
    * full shingle sets (unbounded state on a stream); the production
    * recipe is stream-candidates → batch `verifiedJaccard` over the
    * lake, so false positives die downstream, never false negatives
    * beyond the S-curve + eviction. A pair agreeing in several bands
    * emits once per band (dedupe downstream — more bands IS the
    * confidence signal; an in-stream distinct would mean unbounded
    * pair-state, the exact thing this operator avoids).
    *
    * `stateTtl` arms a processing-time timeout that drops idle bucket
    * registries — without one, bucket KEYS accrue for the life of the
    * query (per-key bytes stay capped), the same growth class as
    * un-watermarked dropDuplicates. It DEFAULTS ON
    * ([[DefaultStreamStateTtl]], 30 minutes): unbounded state must be
    * an explicit opt-in (`stateTtl = None`, for a finite replay or a
    * corpus small enough to hold whole), never the silent consequence
    * of omitting a parameter. The TTL trades recall exactly like the
    * bucket cap does: a near-dup arriving more than the TTL after its
    * bucket went idle is missed — tune to the dup-arrival horizon, as
    * with watermarks. Operational note: processing-time timers make the
    * engine request a wake-up batch after EVERY batch
    * (FlatMapGroupsWithStateExec.shouldRunAnotherBatch), so under the
    * default unthrottled trigger an idle stream runs continuous no-data
    * micro-batches to fire evictions promptly — set a trigger interval
    * (or disable `spark.sql.streaming.noDataMicroBatches.enabled`, which
    * defers evictions to the next data batch) to throttle. `idCol` must
    * be integral (cast to long — the registry is typed state). */
  def nearDupStream(docs: DataFrame, idCol: String, textCol: String,
                    threshold: Double = 0.5, numHashes: Int = 64, bands: Int = 16,
                    shingleSize: Int = 3, maxBucket: Int = 1000,
                    stateTtl: Option[String] = DefaultStreamStateTtl): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands
    val spark = docs.sparkSession
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    // pre-hashed shingles ([[shingleHashes]]) feed the signature's
    // long-input mode: no shingle STRING is materialized on the stream
    // (the transform+array_join per position the string form paid), and
    // the base hashes are the same XXH64 values the string path
    // computed, so signatures are bit-identical (spec-pinned)
    val sigDf = docs
      .select(col(idCol).cast("long").as("doc"), TextAnalysis.tokensCol(col(textCol)).as("toks"))
      .select(col("doc"), shingleHashes(col("toks"), shingleSize).as("_shs"))
      .select(col("doc"),
        org.apache.spark.sql.GraftColumnBridge.column(
          graft.functions.MinHashSignature(
            org.apache.spark.sql.GraftColumnBridge.expression(col("_shs")), numHashes))
          .as("sig"))
    // banding in a typed flatMap: same XXH64 fold as MinHashBandBuckets
    // (hashInt(b, 42) seed, hashLong over the band's r slot-mins); a
    // shingle-less doc has an empty signature and emits nothing — the
    // streaming twin of the batch posexplode-of-empty drop, and no
    // size() filter re-references the expensive alias
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val banded = sigDf.as[(Long, Array[Long])].flatMap { case (doc, sig) =>
      if (sig.isEmpty) Iterator.empty
      else (0 until bands).iterator.map { b =>
        var acc = XXH64.hashInt(b, 42L)
        var j = 0
        while (j < r) { acc = XXH64.hashLong(sig(b * r + j), acc); j += 1 }
        (b, acc, doc, sig)
      }
    }
    val timeout =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    banded
      .groupByKey { case (b, bucket, _, _) => (b, bucket) }
      .flatMapGroupsWithState(OutputMode.Append, timeout) {
        (key: (Int, Long), rows: Iterator[(Int, Long, Long, Array[Long])],
         state: GroupState[List[(Long, Array[Long])]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var reg = state.getOption.getOrElse(Nil) // newest first
            val out = List.newBuilder[(Long, Long, Int, Double)]
            // doc order within the batch: deterministic replay
            rows.toSeq.sortBy(_._3).foreach { case (band, _, doc, sig) =>
              if (!reg.exists(_._1 == doc)) {
                reg.foreach { case (old, osig) =>
                  var m = 0; var i = 0
                  while (i < sig.length) { if (sig(i) == osig(i)) m += 1; i += 1 }
                  val est = m.toDouble / sig.length
                  if (est >= threshold)
                    out += ((math.min(doc, old), math.max(doc, old), band, est))
                }
                reg = ((doc, sig) :: reg).take(maxBucket)
              }
            }
            state.update(reg)
            stateTtl.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
      }
      .toDF("doc_a", "doc_b", "band", "est_jaccard")
  }

  /** MinHash signature matrix + LSH banding: near-dup candidate pairs.
    *
    * Pipeline: tokens → n-token shingles → the fused native expression
    * (graft.functions.MinHashBandBuckets) folds per-shingle base hash →
    * k slot minima (the signature) → b band hashes in one codegen'd
    * pass per document → explode only the b band rows → one sorted
    * exchange on (bucket, band) → pairs within each bucket's run
    * ([[pairsInBuckets]]).
    *
    * Jaccard(J) collision probability per band is J^r; with b bands the
    * standard S-curve 1-(1-J^r)^b. Defaults (k=64, b=16, r=4) put the
    * threshold near J≈0.5.
    *
    * Empty documents (no tokens after normalization — empty text, pure
    * punctuation) produce no shingles, an empty bucket array, and no
    * exploded rows — excluded from near-dup candidates by construction
    * (same for `simhash`). Route them through `exactByHash`, which
    * groups them (md5 of the empty normalization) — near-dup semantics
    * on contentless documents are meaningless anyway.
    *
    * Scale notes: the signature stage is a NARROW map (zero exchanges —
    * spec-pinned as a plan property) and no row blow-up happens until
    * the b-rows-per-doc band explode. Documents never move, only
    * (band, bucket, id) triples; the only shuffle is the blocking
    * exchange that IS the LSH step. `maxBucket` caps degenerate buckets
    * (boilerplate text) so one hot key can't produce a quadratic
    * reducer; capped buckets are dropped, trading recall for bounded
    * work, the standard production compromise.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, bands: Int = 16,
                        shingleSize: Int = 3, maxBucket: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")

    // Shape matters enormously here; the evolution, every step measured:
    //  - explode k hashes to (doc, slot, h) ROWS (k·|shingles| rows
    //    through the shuffle machinery): 12.6s at sf0.1;
    //  - per-doc array aggregate() lambdas: higher-order functions are
    //    interpreted (CodegenFallback), 15s — and any expression that
    //    references a projected alias k times gets it INLINED k times by
    //    CollapseProject, silently re-running tokenize+shingle per slot;
    //  - explode shingles ONCE, k codegen'd slot-rehash columns (seeded
    //    off the 8-byte base hash — the classic h1 + i·h2 form overflows
    //    ANSI arithmetic), ONE 64-aggregate groupBy with map-side
    //    partials: ~1.6s at sf0.1 — correct, but still an EXCHANGE of a
    //    64-long signature row per doc plus aggregate-buffer updates
    //    per shingle;
    //  - NOW: the signature is a pure per-doc function of its shingle
    //    set, so the fused native expression (graft.functions
    //    .MinHashBandBuckets) folds base-hash → slot-mins → band-hashes
    //    in one primitive loop, bit-identical slot by slot
    //    (spec-pinned). The signature stage is a NARROW map; the only
    //    exchange left is the (bucket, band) hash exchange that IS the
    //    LSH blocking step, sorted within partitions and walked run by
    //    run (pairsInBuckets), with no aggregate on the key.
    // tokens are projected ONCE as an attribute before shingling:
    // handing a multiply-referencing consumer the raw tokenizer
    // expression re-runs the tokenizer per reference (CollapseProject
    // keeps the two projections apart only when the alias is an
    // attribute).
    // NO size() pre-filter: the expression maps an empty shingle array
    // to an empty bucket array, and posexplode of empty drops the doc —
    // exactly the old explode semantics — while keeping the `_shs`
    // alias SINGLY-referenced (a second reference, e.g. a size()
    // filter, makes CollapseProject inline tokenize+shingle once per
    // reference: the measured 3× regression of the first fused form).
    candidatePairsFromBuckets(
      minhashBuckets(df, idCol, textCol, numHashes, bands, shingleSize),
      Seq("bucket", "band"), "doc", maxBucket)
  }

  /** The LSH posting stage of [[minhashCandidates]] alone: one
    * `(doc, band, bucket)` row per (document, band) — the blocking key
    * a doc hashes to in each band, before any grouping. Split out so
    * [[IncrementalDedup]] can PERSIST these postings as the index an
    * incoming batch probes (same fused signature expression, so a
    * stored posting and a freshly computed one for identical text are
    * bit-identical — the property incremental candidate generation
    * rests on). Narrow map, zero exchanges, like the fused form above. */
  private[graft] def minhashBuckets(df: DataFrame, idCol: String, textCol: String,
                                  numHashes: Int, bands: Int,
                                  shingleSize: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // pre-hashed shingles ([[shingleHashes]]) feed the banding's
    // long-input mode: no shingle string is ever materialized, and the
    // base hashes are the same XXH64 values the string path computed
    df.select(col(idCol).as("doc"), TextAnalysis.tokensCol(col(textCol)).as("toks"))
      .select(col("doc"), shingleHashes(col("toks"), shingleSize).as("_shs"))
      .select(col("doc"),
        posexplode(org.apache.spark.sql.GraftColumnBridge.column(
          graft.functions.MinHashBandBuckets(
            org.apache.spark.sql.GraftColumnBridge.expression(col("_shs")),
            numHashes, bands))).as(Seq("band", "bucket")))
  }

  /** The shingle-hash SET of a shingle-hash array: its distinct values,
    * ascending, by the native [[graft.functions.SortedDistinct]] kernel
    * (one primitive sort and one adjacent-duplicate pass; equal to
    * `sort_array(array_distinct(hashes))`, property-pinned). The one set
    * builder: [[shingleSets]], [[postingsAndSets]] and the scorecard's
    * planted sets all call it, so sets built anywhere, or persisted by
    * [[IncrementalDedup]], compare equal. */
  private[graft] def shingleSet(hashes: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(graft.functions.SortedDistinct(
      org.apache.spark.sql.GraftColumnBridge.expression(hashes)))

  /** The canonical per-doc shingle-hash SET frame every exact-Jaccard
    * stage here consumes: one row per doc, `(doc, sh_set)`, where
    * `sh_set` is the doc's [[shingleSet]] of its n-token
    * [[shingleHashes]] — distinct and ascending, so the same frame
    * serves the merge of [[verifiedJaccardOnSets]] and prefix filtering,
    * whose theorem needs a global order. A doc with no tokens has the
    * empty set. Deriving this is a whole-corpus pass (tokenize,
    * shingle-hash, sort); callers running several exact-Jaccard
    * pipelines over one corpus should build it once, `persist()` it
    * (long arrays round-trip Spark's columnar cache cheaply, the
    * opposite of text — see the embedding-corpus note), and hand it to
    * the `...OnSets` variants below. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 3): DataFrame = df
    .select(col(idCol).as("doc"), TextAnalysis.tokensCol(col(textCol)).as("_tk"))
    .select(col("doc"), shingleSet(shingleHashes(col("_tk"), n)).as("sh_set"))

  /** ONE batch pass feeding BOTH probe stages of [[IncrementalDedup]]:
    * per doc, the LSH band-bucket postings AND the shingle-hash set, from
    * a single tokenize+shingle derivation — `(doc, sh_set, _buckets)`.
    * The shingle-hash array is [[bindOnce]]-bound, so the set kernel and
    * [[graft.functions.MinHashBandBuckets]] read ONE evaluation (a plain
    * double reference re-runs the pipeline per reference — the
    * CollapseProject trap documented at [[minhashCandidates]]); deriving
    * [[minhashBuckets]] and [[shingleSets]] separately tokenized and
    * shingled the batch twice. Output columns are bit-identical to the
    * two separate builders' (spec-pinned in IncrementalDedupSpec):
    * posexplode(_buckets) IS minhashBuckets' row set, (doc, sh_set) IS
    * shingleSets'. */
  private[ops] def postingsAndSets(df: DataFrame, idCol: String, textCol: String,
                                   numHashes: Int, bands: Int,
                                   shingleSize: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    df.select(col(idCol).as("doc"), TextAnalysis.tokensCol(col(textCol)).as("_tk"))
      .select(col("doc"),
        bindOnce(shingleHashes(col("_tk"), shingleSize)) { shs =>
          struct(
            shingleSet(shs).as("sh_set"),
            org.apache.spark.sql.GraftColumnBridge.column(
              graft.functions.MinHashBandBuckets(
                org.apache.spark.sql.GraftColumnBridge.expression(shs),
                numHashes, bands)).as("_buckets"))
        }.as("_ps"))
      .select(col("doc"), col("_ps")("sh_set").as("sh_set"),
        col("_ps")("_buckets").as("_buckets"))
  }

  /** Exact n-gram Jaccard computed ONLY for the given candidate pairs —
    * the verification half of the standard two-phase near-dup pipeline
    * (LSH blocking proposes, exact Jaccard disposes). Output schema
    * matches `ngramJaccard` exactly: (doc_a, doc_b, n_common, jaccard),
    * filtered to `jaccard >= threshold`.
    *
    * Derives the corpus's [[shingleSets]] and verifies on them with
    * [[verifiedJaccardOnSets]]: per-doc sets travel as one
    * `array<bigint>` row per doc (proportional to the text itself, the
    * same bytes a scan already moves), and each pair costs one linear
    * merge of its two sorted sets. Work is O(candidate pairs · doc
    * length) — the candidate generator's job is to keep the pair count
    * near-linear, and `maxBucket` already enforces that. */
  def verifiedJaccard(df: DataFrame, pairs: DataFrame, idCol: String,
                      textCol: String, n: Int = 3,
                      threshold: Double = 0.5): DataFrame =
    verifiedJaccardOnSets(shingleSets(df, idCol, textCol, n), pairs, threshold)

  /** Verification core over PRECOMPUTED shingle-hash sets (first column
    * id, second the `array<bigint>` set — [[shingleSets]]' shape) —
    * shared by `verifiedJaccard` (which derives the sets from text),
    * `ngramJaccardPrefix` (which already built them for its prefixes),
    * and callers amortizing ONE persisted set frame across several
    * pipelines (re-deriving per pipeline would repeat the
    * tokenize+shingle corpus pass).
    *
    * Each pair is scored by the native [[graft.functions.SetOverlap]]
    * kernel: a linear merge of two sorted distinct sets, and for any
    * other array (unsorted, duplicates, nulls) exactly what
    * `size(array_intersect(a, b))` counts, so sorted and unsorted set
    * arrays both work. The filter evaluates the kernel's Jaccard once
    * per candidate pair; `n_common` and `jaccard` are computed only for
    * the pairs that pass, and `jaccard` is bit-identical to
    * `n_common.cast(double) / (size(a) + size(b) - n_common)` over the
    * raw array sizes. A pair of two empty sets divides by zero: under
    * ANSI mode the query fails with DIVIDE_BY_ZERO, otherwise the pair
    * is dropped (its Jaccard is null), as Spark's own division does. A
    * pair with a set-less side is dropped. */
  def verifiedJaccardOnSets(sets0: DataFrame, pairs: DataFrame,
                            threshold: Double): DataFrame = {
    val sets = sets0.toDF("_vid", "_shs")
    // MELT-JOIN-REGROUP: each (distinct) pair explodes to two (pair,
    // role, doc) rows, joined ONCE against the sets table, then folded
    // back per pair. The earlier two-join form referenced `sets` twice
    // and Spark does not reuse the exchange across the differently-
    // keyed instances (verified: 0 ReusedExchange in the executed
    // plan), so the expensive tokenize+shingle corpus derivation AND
    // its sort ran TWICE; this shape derives and sorts it once by
    // construction. The regroup exchange carries the same
    // one-array-per-pair-side volume the second join's shuffle already
    // carried, so nothing new moves.
    //
    // merge hint: the pair side's post-aggregate size estimate is
    // garbage (Catalyst would happily decide to broadcast a pair table
    // that is huge at scale — the measured 10× failure mode in
    // ngramJaccard's old join form) and the sets side grows with the
    // corpus, so sort-merge is the only strategy safe on both sides.
    // Inner-join semantics preserved: a pair with a set-less side loses
    // that role row, its folded set is null, and the kernel's null
    // fails the threshold — dropped, exactly as the two inner joins did.
    def overlap(jaccard: Boolean): Column = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.SetOverlap(org.apache.spark.sql.GraftColumnBridge.expression(col("_sa")),
        org.apache.spark.sql.GraftColumnBridge.expression(col("_sb")), jaccard))
    pairs.select("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"),
        posexplode(array(col("doc_a"), col("doc_b"))).as(Seq("_role", "_d")))
      .join(sets.select(col("_vid").as("_d"), col("_shs")).hint("merge"), Seq("_d"))
      .groupBy("doc_a", "doc_b")
      .agg(max(when(col("_role") === 0, col("_shs"))).as("_sa"),
        max(when(col("_role") === 1, col("_shs"))).as("_sb"))
      .where(overlap(jaccard = true) >= threshold)
      .select(col("doc_a"), col("doc_b"), overlap(jaccard = false).as("n_common"),
        overlap(jaccard = true).as("jaccard"))
  }

  /** MinHash-blocked near-dup pairs WITH exact verification — the
    * complete production pipeline: banded-LSH candidates (sublinear,
    * `minhashCandidates`) re-checked against true shingle Jaccard
    * (`verifiedJaccard`), so the output contains no LSH false positives
    * and approaches the all-pairs `ngramJaccard` result from below, at
    * bucket-join cost instead of inverted-index-pair cost. The gap is
    * the candidate-stage miss probability (1−J^r)^b — NOT zero at the
    * threshold under the defaults (b=16, r=4: a J=0.5 pair is missed
    * with probability ≈0.36; the S-curve knee sits at the threshold,
    * not below it). Callers needing near-exact equality at J≥t choose
    * shorter rows/more bands (b=32, r=2 → miss ≈1e-4 at J=0.5) and pay
    * the looser buckets. */
  def minhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     threshold: Double = 0.5, numHashes: Int = 64,
                     bands: Int = 16, shingleSize: Int = 3,
                     maxBucket: Int = 1000): DataFrame =
    verifiedJaccard(df,
      minhashCandidates(df, idCol, textCol, numHashes, bands, shingleSize, maxBucket),
      idCol, textCol, shingleSize, threshold)

  /** SimHash 64-bit fingerprints: per token-hash bit, +1 if set else -1,
    * summed over the document; fingerprint bit = sign. Near-dups =
    * fingerprints within `maxHamming`. Candidate generation blocks on
    * 16-bit fingerprint chunks: Hamming ≤ 3 ⟹ at least one of 4 chunks
    * is identical (pigeonhole), so the join is equi on (chunk idx, chunk)
    * — never a cross join.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Bit b of the fingerprint is set iff more token hashes have bit b
    // set than clear (sum of ±1 contributions > 0 ⟺ 2·|set| > |tokens|),
    // computed by the fused native expression (graft.functions
    // .SimHash64) in one pass over the token array: a pure NARROW map —
    // no explode, no aggregate, ZERO exchanges at any corpus size. The
    // superseded aggregate form (explode tokens, 65-aggregate groupBy —
    // itself the measured winner over row-exploded hashes) was correct
    // and partial-aggregated, but still shuffled a 65-column row per
    // doc and paid 64 aggregate-buffer updates per token; the fused
    // loop is bit-identical (spec-pinned) and turns the fingerprint
    // stage into scan-speed work. Docs with no tokens are dropped,
    // matching the aggregate form's explode semantics.
    // The drop is an explode of a zero- or one-element array, not a
    // `size(_tk) > 0` filter: a filter is pushed below the projection
    // with the token alias inlined, so the tokenizer ran twice per doc.
    // A generator is not, and InferFiltersFromGenerate leaves a
    // non-attribute input alone, so `_tk` is evaluated once (spec-pinned
    // in DedupSpec); bindOnce would do it with an interpreted lambda
    val fp = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.SimHash64(org.apache.spark.sql.GraftColumnBridge.expression(col("_tk"))))
    df.select(col(idCol).as("doc"), TextAnalysis.tokensCol(col(textCol)).as("_tk"))
      .select(col("doc"), explode(when(size(col("_tk")) > 0, array(fp))).as("simhash"))
  }

  /** Near-dup pairs from simhash fingerprints with chunk blocking
    * (pigeonhole: Hamming ≤ 3 ⟹ one of 4 16-bit chunks is identical,
    * so candidates come from equi-buckets, never a cross join). Same
    * block-then-expand shape as candidatePairsFromBuckets so the
    * fingerprint pipeline executes once, with the same skew cap.
    *
    * Ids should be unique. A repeated id is never paired with itself:
    * each of its distinct fingerprints pairs with the other ids of its
    * chunk buckets, so one (doc_a, doc_b) can appear once per distinct
    * hamming distance. */
  def simhashCandidates(fps: DataFrame, maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    // pigeonhole over 4 chunks only guarantees candidate recall for
    // Hamming <= 3; a larger threshold would silently miss pairs whose
    // difference spreads one bit per chunk
    require(maxHamming <= 3, s"maxHamming=$maxHamming exceeds what 4-chunk blocking can guarantee (3)")
    // one long key per (chunk index, chunk): `i << 16 | chunk`, exact
    // since a chunk has 16 bits
    val chunks = fps.select(col("doc"), col("simhash"),
      explode(array((0 until 4).map(i =>
        shiftright(col("simhash"), i * 16).bitwiseAND(0xFFFFL).bitwiseOR(i.toLong << 16)): _*))
        .as("chunk"))
    // the Hamming test runs inside the bucket: in a dup-dense chunk
    // bucket almost every candidate fails it, and only survivors become
    // rows
    pairsInBuckets(chunks, Seq("chunk"), struct(col("doc"), col("simhash")),
        maxBucket, PairKernel.Hamming(maxHamming))
      .distinct()
  }

  /** n-gram (shingle) Jaccard similarity via an inverted index:
    * explode shingles → per-shingle doc list → common-count per
    * pair → |A∩B| / (|A|+|B|-|A∩B|). Document-frequency cutoff
    * (`maxShingleDf`) drops stop-shingles, which is both the skew guard
    * and the recall/cost knob at scale.
    *
    * JOIN-FREE shape: each doc's distinct-shingle count rides WITH its
    * (doc, sh) rows via a window count, so the per-shingle doc lists
    * carry (doc, n_sh) structs and every pair row leaves its bucket
    * already holding both denominators. The earlier form joined a
    * per-doc `sizes` aggregate back onto the pair table — measured at
    * 10× bench scale, Catalyst's post-aggregate size estimates are
    * garbage there and it chose to BROADCAST the pair table (driver
    * OOM); both sides of that join grow with the corpus, so no join
    * strategy is actually safe. This form has no corpus-sized join at
    * all, and one scan of the input instead of three. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.5,
                   maxShingleDf: Int = 100): DataFrame = {
    val toks = TextAnalysis.tokensCol(col(textCol))
    // shingles are replaced by their 64-bit hash before any shuffle, so
    // exchanges carry (doc, long) rows instead of strings; collision
    // probability at ~1e6 distinct shingles is ~1e-7 (birthday/2^64).
    // n_sh rides in via a window count AFTER the explode. The seemingly
    // cheaper size(arr)-next-to-explode(arr) form was measured 2.5×
    // SLOWER end-to-end at sf0.1 (6.1 s vs 2.4 s): referencing the
    // shingle array from two expressions re-runs the whole
    // tokenize+shingle pipeline per reference (the CollapseProject
    // inlining trap — see the minhash note), while the window is a
    // local sort-free count over the doc partitioning the upstream
    // repartition already established.
    val docShingles = df
      .select(col(idCol).as("doc"), toks.as("toks")) // tokens once (see minhash note)
      .select(col("doc"), explode(array_distinct(shingleHashes(col("toks"), n))).as("sh"))
    val withN = docShingles.withColumn("n_sh",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("doc")))
    jaccardFromIndex(withN, threshold, maxShingleDf)
  }

  /** [[ngramJaccard]] over a PRECOMPUTED shingle-set frame (first column
    * id, second the distinct-hash set array — [[shingleSets]]' shape):
    * identical output and the same inverted-index/no-join plan; the
    * tokenize+shingle derivation is skipped.
    * Built for callers amortizing one persisted set frame across
    * several exact-Jaccard pipelines. `n_sh` is `size(set)` here
    * (identical to the window count the text form uses, barring 64-bit
    * hash collisions — the same ~1e-7 birthday argument as the hashing
    * itself); the set column is referenced twice (size + explode),
    * which is free on a materialized frame but would re-run a derived
    * one's expression per reference — hand this a persisted frame, or
    * use [[ngramJaccard]]. */
  def ngramJaccardOnSets(sets0: DataFrame, threshold: Double = 0.5,
                         maxShingleDf: Int = 100): DataFrame = {
    val sets = sets0.toDF("doc", "sh_set")
    jaccardFromIndex(
      sets.select(col("doc"), size(col("sh_set")).cast("long").as("n_sh"),
        explode(col("sh_set")).as("sh")),
      threshold, maxShingleDf)
  }

  /** Inverted-index Jaccard core over (doc, sh, n_sh) rows — the shared
    * tail of [[ngramJaccard]] and [[ngramJaccardOnSets]]. */
  private def jaccardFromIndex(withN: DataFrame, threshold: Double,
                               maxShingleDf: Int): DataFrame = {
    // inverted index: one bucket per shingle holding its (doc, n_sh)
    // items; pairs are generated inside the bucket, so there is no
    // self-join, and the df cutoff (skew guard / recall knob) is the
    // bucket cap. struct puts doc first so the sorted items yield
    // doc_a < doc_b.
    // LENGTH FILTER (exact, classic similarity-join bound): n_common ≤
    // min(|A|,|B|) and |A∪B| ≥ max(|A|,|B|), so J ≤ min/max — a pair
    // whose sizes differ by more than the threshold ratio can NEVER
    // pass and is dropped BEFORE it becomes a pair row. The bound is a
    // pure function of (sh_a, sh_b) carried on every row of the pair,
    // so a pair is dropped everywhere or nowhere — n_common for
    // survivors is untouched and the output is exactly the final
    // jaccard >= t filter's. At t=0.9 sizes must agree within 10%, which
    // deletes most of the co-occurrence pair volume (the exchange that
    // dominates this operator) — measured 11.9 s → 7.1 s warm at the
    // 10× probe's J≥0.9 anchor. The 1e-9 slack makes a false drop at the
    // J = t boundary impossible (double rounding is ~1e-16); the few
    // extra pairs admitted are disposed of by the final filter.
    pairsInBuckets(withN, Seq("sh"), struct(col("doc"), col("n_sh")), maxShingleDf,
        PairKernel.LengthRatio(threshold))
      .groupBy("doc_a", "doc_b", "sh_a", "sh_b")
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("sh_a") + col("sh_b") - col("n_common")))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_common", "jaccard")
  }

  /** Exact n-gram Jaccard join via PREFIX FILTERING (the AllPairs /
    * PPJoin family) — same output as [[ngramJaccard]] (when the df
    * guard is quiet), built for HIGH thresholds at scale. Theorem: fix
    * any global total order on shingles; if J(A,B) ≥ t then the
    * smallest common shingle sits within the first ⌊(1−t)·|A|⌋+1
    * shingles of A (all earlier elements of A are A-only: |A\B| =
    * |A|−|A∩B| ≤ (1−t)·|A| since |A∩B| ≥ t·|A∪B| ≥ t·|A|) — and
    * symmetrically for B. So only each doc's PREFIX is indexed: at
    * t=0.9 that is ~10% of the entries, and the in-bucket pair
    * expansion — the quadratic term — shrinks ~100×. Candidates are
    * then verified against FULL shingle sets (`verifiedJaccard`), so
    * the result is exact, not approximate.
    *
    * The global order here is the shingle's 64-bit hash — free and
    * deterministic. The classic refinement (ascending document
    * frequency, which steers prefixes toward RARE shingles and makes
    * buckets near-minimal) costs an extra corpus pass to compute df;
    * hash order already shrinks hot buckets by the prefix fraction,
    * which measured sufficient here.
    *
    * `maxShingleDf` here caps PREFIX-BUCKET size — a recall guard that
    * drops candidate buckets, NOT `ngramJaccard`'s exclude-from-
    * `n_common` semantics (survivors here always get full-set scores).
    * The default is deliberately high (10000): this operator's target
    * is dup-DENSE corpora, where an exact-duplicate cluster shares
    * identical prefixes — a low cap would silently erase exactly the
    * clusters the operator exists to find. Results equal `ngramJaccard`
    * whenever neither operator's guard fires.
    *
    * WHEN TO CHOOSE WHICH (measured at 10× bench scale, t=0.9,
    * identical outputs): on a corpus with no hot-shingle dup clusters
    * the inverted form won (17.7 s vs 20.6 s) — the expansion it risks
    * never materializes, and this variant pays a full-set verification
    * join the inverted form doesn't. Prefix filtering is the insurance
    * for dup-DENSE corpora (boilerplate, templated text), where the
    * in-bucket expansion is quadratic in cluster size and the ~100×
    * prefix shrink dominates everything else. */
  def ngramJaccardPrefix(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, threshold: Double = 0.5,
                         maxShingleDf: Int = 10000): DataFrame =
    ngramJaccardPrefixOnSets(shingleSets(df, idCol, textCol, n), threshold, maxShingleDf)

  /** [[ngramJaccardPrefix]] over a PRECOMPUTED shingle-set frame
    * ([[shingleSets]]' shape; the set arrays MUST be sorted ascending —
    * the prefix theorem needs the global hash order, and `shingleSets`
    * already sorts). Same amortize-one-persisted-frame rationale as
    * [[ngramJaccardOnSets]]. */
  def ngramJaccardPrefixOnSets(sets0: DataFrame, threshold: Double = 0.5,
                               maxShingleDf: Int = 10000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold=$threshold out of (0, 1]")
    val sets = sets0.toDF("doc", "_shs")
    // +1e-9 before the floor: the bound must be the MATHEMATICAL
    // ⌊(1−t)·n⌋, but (1.0−0.9)·10 is 0.9999999999999998 in doubles —
    // truncating one short exactly when (1−t)·n is an integer, i.e. at
    // the theorem's tight case, where the one-element shortfall loses
    // real J=t pairs (t=0.9: every shingle count divisible by 10). The
    // epsilon absorbs ~1e-15·n representation error (n would need to
    // exceed 1e6 shingles per doc to matter) and can only err by
    // including one extra prefix element.
    val prefLen = (floor(size(col("_shs")).cast("double") * lit(1.0 - threshold) + lit(1e-9)) + 1)
      .cast("int")
    val pref = sets.select(col("doc"),
      explode(slice(col("_shs"), lit(1), prefLen)).as("sh"))
    val cand = candidatePairsFromBuckets(pref, Seq("sh"), "doc", maxShingleDf)
    verifiedJaccardOnSets(sets.select(col("doc").as("_vid"), col("_shs")), cand, threshold)
  }

  /** Cross-corpus n-gram CONTAMINATION — the train-vs-benchmark overlap
    * check every serious pretraining pipeline runs before training (the
    * published decontamination recipe: flag a training document when a
    * high fraction of a benchmark document's n-grams appear in it).
    * Returns one row per overlapping (trainIdCol=train_id,
    * bench idCol=bench_id) pair with `n_shared` (distinct shared
    * shingles) and `frac` = n_shared / the BENCH doc's distinct shingle
    * count, filtered to `frac >= threshold`.
    *
    * Scale shape: benchmark suites are tiny next to a 100 TB train
    * corpus, so BOTH bench-derived sides are broadcast — the train
    * corpus is scanned once, never shuffled as text; the only exchange
    * carries partially-aggregated ((train_id, bench_id), count) rows.
    * Shingles are replaced by their 64-bit hash before the join (same
    * collision argument as `ngramJaccard`). `maxShingleDf` drops
    * shingles appearing in more than that many TRAIN docs — boilerplate
    * n-grams that would otherwise explode the pair space under one
    * broadcast row. The df count runs AFTER the broadcast semi-join to
    * the bench shingle set, so the guard's exchange carries only
    * bench-matching (sh) hashes — proportional to the overlap, never
    * to the corpus. The train corpus is scanned twice (df pass + pair
    * pass), both narrow map-side passes. The default cutoff (10K train
    * docs per shingle) actually fires on pathological corpora — a
    * boilerplate shingle shared by millions of train docs caps at 10K
    * pair-rows instead of materializing the full pair space — while
    * staying far above any legitimate contamination signal (a bench
    * shingle in >10K distinct train docs is boilerplate by definition,
    * not leakage). The DuckDB oracle carries the identical df-cutoff
    * CTE, so the guard is hash-verified, not doc-only.
    */
  def contamination(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 3, threshold: Double = 0.5,
                    maxShingleDf: Int = 10000): DataFrame = {
    // hash-only derivation ([[shingleHashes]]): this operator never
    // reports shingle text, so the strings need not exist at all —
    // [[contaminationHotShingles]] keeps the text-carrying form
    def docShingles(df: DataFrame, as: String) = df
      .select(col(idCol).as(as), TextAnalysis.tokensCol(col(textCol)).as("toks"))
      .select(col(as), explode(array_distinct(shingleHashes(col("toks"), n))).as("sh"))
    val bs = docShingles(bench, "bench_id")
    val bSizes = bs.groupBy("bench_id").agg(count(lit(1)).as("n_bench_sh"))
    // train shingles that can matter at all: broadcast semi-join against
    // the (small) bench shingle set, map-side, no shuffle of the corpus
    val tsMatching = docShingles(train, "train_id")
      .join(broadcast(bs.select("sh").distinct()), Seq("sh"), "left_semi")
    val hot = tsMatching.groupBy("sh").agg(count(lit(1)).as("_df"))
      .where(col("_df") > maxShingleDf).select("sh")
    val shared = tsMatching
      .join(broadcast(hot), Seq("sh"), "left_anti")
      .join(broadcast(bs), Seq("sh"))
      .groupBy("train_id", "bench_id").agg(count(lit(1)).as("n_shared"))
    shared.join(broadcast(bSizes), Seq("bench_id"))
      .withColumn("frac", col("n_shared").cast("double") / col("n_bench_sh"))
      .where(col("frac") >= threshold)
      .select("train_id", "bench_id", "n_shared", "frac")
  }

  /** Diagnostic twin of [[contamination]]'s hot-shingle guard: the bench
    * shingles the df cutoff silently excluded from matching, as
    * (shingle text, train-doc frequency), heaviest first. Each row is a
    * pair-space blowup the guard absorbed — run this when a sweep's
    * pair counts look off, or log its count on a schedule, instead of
    * guessing whether the cutoff fired. A SEPARATE call by design: the
    * count lives on a broadcast subtree of the main query, where an
    * `observe` metric does not report (measured: the CollectMetrics
    * accumulator stays 0 under BroadcastExchange), and folding an eager
    * count into `contamination` would force a corpus scan on an
    * otherwise lazy operator. Cost when called: the same semi-join +
    * df aggregation the main operator runs — one narrow train scan. */
  def contaminationHotShingles(train: DataFrame, bench: DataFrame,
                               idCol: String, textCol: String, n: Int = 3,
                               maxShingleDf: Int = 10000): DataFrame = {
    val bs = hashedShingles(bench, idCol, textCol, n, "bench_id")
      .select("sh", "shingle").distinct()
    hashedShingles(train, idCol, textCol, n, "train_id").drop("shingle")
      .join(broadcast(bs.select("sh")), Seq("sh"), "left_semi")
      .groupBy("sh").agg(count(lit(1)).as("train_df"))
      .where(col("train_df") > maxShingleDf)
      // hash -> text via the tiny bench side, for a human-readable report
      .join(broadcast(bs), Seq("sh"))
      .select("shingle", "train_df")
      .orderBy(col("train_df").desc)
  }

  /** One row per (doc, distinct shingle): id, shingle text, 64-bit
    * shingle hash. The hash is what travels through any shuffle; the
    * text column is dropped by callers that do not report to humans. */
  private def hashedShingles(df: DataFrame, idCol: String, textCol: String,
                             n: Int, as: String): DataFrame = df
    .select(col(idCol).as(as), TextAnalysis.tokensCol(col(textCol)).as("toks"))
    .select(col(as), explode(array_distinct(shingles(col("toks"), n))).as("shingle"))
    .select(col(as), col("shingle"), xxhash64(col("shingle")).as("sh"))

  /** Embedding-cosine near-dup pairs `(id_a, id_b, cos)` with
    * `cos >= threshold`. Candidate generation uses BANDED
    * random-hyperplane LSH (see Similarity.bandedSignBuckets): each
    * vector explodes to `bands` rows keyed (band, r-plane sign bucket),
    * the same shape as `minhashCandidates`' band rows, so the pairwise
    * cosine runs inside band-buckets, not across the corpus; at test
    * scale the bucketing is optional via `bruteForce=true`.
    *
    * `planesPerBand=0` (default) derives r from the corpus count so the
    * bucket space GROWS with the corpus — r = log2(n / 64), i.e. ~64
    * vectors per band-bucket on average regardless of n. A fixed 2^r
    * space (the earlier single-code form) stops reducing candidates the
    * moment n outgrows it: every bucket goes hot, and the `maxBucket`
    * cap must either drop most of a clustered corpus (recall collapse)
    * or admit near-quadratic buckets.
    *
    * Vectors ride into the (bucket, band) blocking exchange and every
    * pair is scored inside its bucket ([[pairsInBuckets]] with the
    * cosine kernel), so only survivors become rows and no vector is
    * joined back. Band-buckets above `maxBucket` items are dropped — the
    * cap bounds reducer skew and the ≤ maxBucket²/2 cosines one bucket
    * scores. Recall survives the cap through the multi-band OR: a pair
    * sharing one hot band-bucket usually also shares a colder one. A
    * pair blocked by several bands is emitted once.
    *
    * Both paths drop a NaN cosine (a vector holding NaN) and accept any
    * id type. Ids should be unique; an id repeated with different
    * vectors is never paired with itself, and each of its vectors pairs
    * with the other ids on its own (one row per distinct cosine).
    */
  def embeddingNearDup(emb: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, bruteForce: Boolean = false,
                       bands: Int = 10, planesPerBand: Int = 0,
                       seed: Long = 42L, maxBucket: Int = 1000): DataFrame = {
    if (bruteForce) {
      val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
      val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
      return a.join(b, col("id_a") < col("id_b"))
        .withColumn("cos", Similarity.cosineCol(col("v_a"), col("v_b")))
        // Spark orders NaN above every double, so `>=` alone keeps it
        .where(col("cos") >= threshold && !isnan(col("cos")))
        .select(col("id_a"), col("id_b"), col("cos"))
    }
    // one probe job for (corpus count, dim) — not two separate scans
    val probe = emb.agg(count(lit(1)), max(size(col(vecCol)))).head()
    val n = probe.getLong(0)
    if (n == 0L) return noPairs(emb, idCol)
    val dim = probe.getInt(1)
    val r =
      if (planesPerBand > 0) planesPerBand
      else
        // scale the per-band bucket space with the corpus: mean
        // band-bucket ≈ 4 vectors, so candidate volume stays
        // ≈ bands·2·n (linear in n) instead of quadratic. Measured
        // against the /16 + 8-band predecessor at sf0.1: 3.4×
        // fewer candidate pairs, 1.4× faster end-to-end, and the
        // 10-band OR keeps theoretical recall at a marginal
        // cos=0.9 pair at 1-(1-p^r)^10 ≈ 0.91 (p = 1-θ/π ≈ .857)
        math.min(24, math.max(4,
          math.ceil(math.log(math.max(n, 1L) / 4.0) / math.log(2.0)).toInt))
    val bucketed = Similarity.bandedSignBuckets(
        emb.select(col(idCol).as("doc"), col(vecCol)), vecCol, dim, bands, r, seed)
      .select(col("band"), col("bucket"), col("doc"), col(vecCol).as("_v"))
    // a pair blocked by several bands emits once per band with the same
    // cosine (same two vectors); the distinct runs over survivors only
    pairsInBuckets(bucketed, Seq("bucket", "band"), struct(col("doc"), col("_v")),
        maxBucket, PairKernel.Cosine(threshold))
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("cos"))
      .distinct()
  }

  /** Semantic dedup: embedding near-dup pairs `(id_a, id_b, cos)` with
    * `cos >= threshold`, blocked by LEARNED k-means cells instead of
    * random hyperplanes — the SemDeDup recipe (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus, compare only within a
    * cluster, keep one representative per near-dup group (compose with
    * [[clusters]] for the keeper step, exactly as with the other pair
    * generators).
    *
    * vs [[embeddingNearDup]]'s banded LSH: LSH buckets are data-
    * oblivious — recall at a given cosine is a theorem, but ~L·n rows
    * flow through the exchange (one per table). A learned cell
    * partition sends each vector through ONCE, and cells track the
    * corpus's actual density (tight clusters of paraphrases/translated
    * boilerplate land together even at cosines well below an LSH
    * band's reach). The trade is recall at cell BOUNDARIES: a pair
    * straddling two cells is never compared — within-cell-only is the
    * documented SemDeDup semantics, not a defect. Pick LSH when the
    * target is a provable cosine threshold; cells when the target is
    * "collapse each semantic cluster to a representative".
    *
    * Scale shape: training sees a seeded `sampleFraction` (the 100 TB
    * knob, see [[Similarity.trainIvfCentroids]]); assignment is one
    * narrow pass (literal/broadcast/two-level by nlist, see
    * [[Similarity.assignedCells]]); candidate volume is Σ n_c² over
    * cells, bounded by `maxCell` (an over-full cell — a degenerate
    * near-constant-embedding corpus — is dropped with the same
    * documented skew trade as every bucket cap here). NLIST IS THE
    * VOLUME KNOB: the `nlist = 0` default auto-sizes √n cells, which
    * optimizes ANN probe cost but makes in-cell pair volume n²/nlist =
    * n^1.5; for dedup at large n pass `nlist ≈ n / targetCellSize`
    * instead — fixed-size cells make the pair volume n·cellSize,
    * LINEAR, at the cost of finer (slightly recall-lossier) cells.
    * Each cell's pairs are scored where the cell exchange put its
    * vectors ([[pairsInBuckets]], cosine kernel): one
    * exchange, each vector moves once, and only survivors become rows.
    * Pass pre-trained `centroids` to share one index between dedup and
    * ANN search (the persisted-index lifecycle in Similarity applies
    * unchanged).
    *
    * A NaN cosine (a vector holding NaN) is dropped; any id type works.
    * Ids should be unique; an id repeated with different vectors is
    * never paired with itself, and each of its vectors pairs with the
    * other ids of its cell on its own (one row per vector pair).
    */
  def semanticNearDup(emb: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, nlist: Int = 0, iters: Int = 3,
                      seed: Long = 42L, maxCell: Int = 10000,
                      centroids: Array[Array[Double]] = null,
                      sampleFraction: Double = 1.0): DataFrame = {
    // method-level branching, not a return inside getOrElse's by-name
    // block (that compiles to NonLocalReturnControl, which a future
    // try/catch(Throwable) or lambda refactor would silently swallow).
    // The isEmpty probe runs only on the untrained path, where it is
    // the cheap (limit-1) prefix of the training that follows.
    if (centroids == null && emb.isEmpty) return noPairs(emb, idCol)
    val cents =
      if (centroids != null) centroids
      else Similarity.trainIvfCentroids(emb, idCol, vecCol, nlist, iters, seed, sampleFraction)
    val assigned = Similarity.assignedCells(
        emb.select(col(idCol).as("doc"), col(vecCol)), vecCol, cents)
      .select(col("cell"), col("doc"), col(vecCol).as("_v"))
    // a doc has exactly one argmax cell, so no pair repeats: no distinct
    pairsInBuckets(assigned, Seq("cell"), struct(col("doc"), col("_v")), maxCell,
        PairKernel.Cosine(threshold))
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("cos"))
  }

  /** The empty `(id_a, id_b, cos)` result of the embedding operators. */
  private def noPairs(emb: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val id = emb.schema(idCol).dataType
    emb.sparkSession.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("id_a", id), StructField("id_b", id), StructField("cos", DoubleType))))
  }

  /** Connected components over near-dup PAIRS → one canonical document
    * per duplicate cluster. Pair generation (minhash/simhash/jaccard/
    * embedding) answers "which pairs look alike"; an actual dedup
    * pipeline must then pick ONE keeper per transitive group — A~B and
    * B~C must collapse to a single canonical even when A~C was never
    * emitted. Returns `(id, canonical)` for every id that appears in a
    * pair, canonical = the component's minimum id (deterministic); ids
    * in no pair are their own canonical and are simply absent here
    * (callers left-join and coalesce to the id itself).
    *
    * SCALE-ADAPTIVE, in the spirit of broadcast-join thresholds: a graph
    * of at most `localEdgeThreshold` pair rows is solved exactly on the
    * driver by [[localClusters]]' union-find. The pairs are read ONCE
    * with a bounded `limit(localEdgeThreshold + 1).collect()`; a read
    * that stops short of the limit holds the whole graph and no other
    * job runs (over a local pair frame, not even that one: Spark
    * answers a limit over local rows without a job). A read that
    * reaches the limit sends the graph down the distributed path;
    * `localEdgeThreshold = 0` does so for any non-empty graph (specs
    * do). Any other pair frame is persisted for the call, so its
    * lineage runs once: the bounded read fills part of the cache, and a
    * large graph's distributed path reads the rest of it (and the
    * shuffles the read already ran) instead of recomputing the pairs.
    *
    * Distributed path: iterative min-label propagation (the classic
    * large-graph connected components — what GraphX's
    * `connectedComponents` runs — expressed as DataFrame joins so
    * Catalyst/AQE handle the physical plan): every vertex starts as its
    * own label; each round takes the min of its own and its neighbors'
    * labels; converges in O(component diameter) rounds. Near-dup
    * clusters are dense (stars/cliques around shared content), so the
    * diameter — and the round count — is small regardless of corpus
    * size; each round is one equi-join + partial-agged groupBy on
    * (id, long) rows, never documents. Each round is `localCheckpoint`ed
    * (eager), NOT merely persisted: round N's plan references round
    * N-1's TWICE (once via the neighbor-min, once via the self join), so
    * without a lineage chop the logical tree doubles per round — 2^30
    * nodes by round 30, and AQE's plan-string rendering alone OOMs the
    * driver. The checkpoint replaces each round's plan with a flat
    * `LogicalRDD` leaf; the previous round's blocks are released
    * explicitly once the next round is materialized. (Local checkpoints
    * trade executor-loss tolerance for speed; labels are (id, long)
    * rows, cheap to recompute from `pairs` if a round is ever lost.)
    * Convergence is detected by an order-insensitive signature (XOR of
    * xxhash64(id, label)) — one narrow aggregate per round instead of a
    * change-counting self-join.
    */
  def clusters(pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
               maxIters: Int = 20, localEdgeThreshold: Long = 1000000L): DataFrame = {
    val ends = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val local = ends.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    if (!local) ends.persist()
    try {
      val limit = math.max(0L, math.min(localEdgeThreshold + 1, Int.MaxValue.toLong)).toInt
      val head = ends.limit(limit).collect()
      if (head.length < limit) localClusters(ends, head) else distributedClusters(ends, maxIters)
    } finally if (!local) ends.unpersist()
  }

  /** [[clusters]]' label propagation over the `(src, dst)` pair rows. */
  private def distributedClusters(ends: DataFrame, maxIters: Int): DataFrame = {
    val edges = ends.unionByName(ends.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist()
    try {
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")).localCheckpoint(true)
      // bit_xor, not sum: summing 64-bit hashes overflows Long (a hard
      // error under ANSI mode); XOR is order-insensitive and closed.
      // coalesce: the fold over an empty vertex set (no pairs) is NULL
      def signature(df: DataFrame): Long =
        df.agg(coalesce(bit_xor(xxhash64(col("id"), col("label"))), lit(0L))).head().getLong(0)
      var sig = signature(labels)
      var converged = false
      var i = 0
      while (!converged && i < maxIters) {
        val nbrMin = edges.join(labels.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id")).agg(min("label").as("_nbr"))
        // eager checkpoint: materializes the round AND flattens its plan
        // to a LogicalRDD leaf (see scaladoc — the tree doubles per
        // round otherwise)
        val next = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), least(col("label"), coalesce(col("_nbr"), col("label"))).as("label"))
          .localCheckpoint(true)
        val nextSig = signature(next)
        org.apache.spark.sql.GraftColumnBridge.releaseLocalCheckpoint(labels)
        labels = next
        converged = nextSig == sig
        sig = nextSig
        i += 1
      }
      if (!converged) {
        org.apache.spark.sql.GraftColumnBridge.releaseLocalCheckpoint(labels)
        throw new IllegalArgumentException(
          s"clusters did not converge in $maxIters rounds — " +
            "raise maxIters (component diameter exceeds it)")
      }
      // the returned frame is BACKED BY the final round's materialized
      // local checkpoint — already computed, no lineage to re-run. Its
      // blocks are reclaimed by the ContextCleaner once the frame is
      // unreachable (or immediately via
      // GraftColumnBridge.releaseLocalCheckpoint).
      labels.select(col("id"), col("label").as("canonical"))
    } finally edges.unpersist()
  }

  /** Driver-side exact connected components for SMALL pair graphs:
    * path-compressed union-find over the collected `(src, dst)` rows
    * (repeats and either direction are harmless), then one min-id pass
    * per component. Output schema matches the distributed path
    * exactly. */
  private def localClusters(ends: DataFrame, edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    val idType = ends.schema("src").dataType
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { row =>
      val a = row.get(0); val b = row.get(1)
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    // canonical = component minimum, same deterministic keeper rule as
    // the label-propagation path (ids are Comparable: Long/Int/String)
    def lt(a: Any, b: Any): Boolean = a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    val minOf = scala.collection.mutable.HashMap.empty[Any, Any]
    parent.keys.foreach { v =>
      val r = find(v)
      minOf.get(r) match {
        case Some(m) => if (lt(v, m)) minOf(r) = v
        case None => minOf(r) = v
      }
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
    parent.keys.toSeq.foreach(v => out.add(org.apache.spark.sql.Row(v, minOf(find(v)))))
    ends.sparkSession.createDataFrame(out,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("canonical", idType))))
  }

  /** One KEEPER per duplicate cluster by an explicit preference order —
    * the production form of "dedup keeps the best copy" (longest text,
    * highest quality score, newest crawl), generalizing [[clusters]]'
    * min-id canonical from a deterministic default to a policy.
    *
    * Input: the corpus `docs` and near-dup `pairs` from ANY generator
    * here (minhash-verified, jaccard, simhash-confirmed, embedding,
    * semantic). Output: every docs row plus `canonical` (the cluster
    * label — the component MIN id, so cluster identity is stable no
    * matter the preference order) and `keep` (true for the cluster's
    * winner under `order`, ties broken by ascending id — fully
    * deterministic). Documents in no pair are their own cluster and
    * keepers. Downstream: `.where(col("keep"))` is the deduplicated
    * corpus; the non-keepers carry their `canonical` for provenance
    * (which surviving document replaced them).
    *
    * Scale shape: [[clusters]]' scale-adaptive closure over (id, id)
    * pairs, one broadcast-or-shuffle join of the (paired-ids-only)
    * labels back to the corpus, and one window keyed by `canonical` —
    * the window exchange carries the corpus ONCE; duplicate clusters
    * are small and many, so no skewed reducer (a pathological
    * million-doc cluster would have been capped upstream by the pair
    * generator's bucket guards).
    *
    * Working/output columns `canonical` and `keep` must be free in
    * `docs`.
    */
  def keepBest(docs: DataFrame, pairs: DataFrame, idCol: String,
               order: Seq[Column], aCol: String = "doc_a",
               bCol: String = "doc_b"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("canonical"))
      .orderBy(order :+ col(idCol).asc: _*)
    withCanonical(docs, pairs, idCol, aCol, bCol)
      .withColumn("keep", row_number().over(w) === 1)
  }

  /** Attach each document's duplicate-cluster label: `canonical` = the
    * component min id from [[clusters]] over `pairs`, the document's
    * own id when it appears in no pair. The shared first step of every
    * cluster-level policy — keeper selection ([[keepBest]]), and
    * LEAKAGE-SAFE train/test splitting (feed `canonical`, not the doc
    * id, to `Sampling.splitAssign`: near-duplicates of a held-out
    * document then land in the same split BY CONSTRUCTION, instead of
    * contaminating train — prevention up front, where
    * [[contamination]] is the after-the-fact audit). One labels join
    * back to the corpus; labels exist only for paired ids, so the join
    * side is the (small) duplicate population, broadcast-eligible.
    * Output column `canonical` must be free in `docs`. */
  def withCanonical(docs: DataFrame, pairs: DataFrame, idCol: String,
                    aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    TextAnalysis.requireFree(docs, "canonical", "keep")
    val cl = clusters(pairs, aCol, bCol).withColumnRenamed("id", "_kb_id")
    docs
      .join(cl, col(idCol) === col("_kb_id"), "left")
      .withColumn("canonical", coalesce(col("canonical"), col(idCol)))
      .drop("_kb_id")
  }

  /** Evaluate `e` once per row, handing its VALUE to `f` as a lambda
    * variable — Catalyst has no CSE across higher-order-function
    * lambdas, so a Column spliced into a lambda body re-evaluates at
    * every usage site. For the window builders below that means the
    * TOKENIZER (a pass over the whole document) would run once per
    * WINDOW instead of once per document — measured 40× on the sf0.1
    * corpus (~290 windows/doc) before binding, with the regex tokenizer
    * of the time. Same trick as
    * Similarity's PQ expressions. */
  private def bindOnce(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), f), 1)

  /** Window-hash column: xxhash64 of each k-token window of the BOUND
    * token array (empty when the doc is shorter than k, or when the
    * token array itself is null — a null text tokenizes to null).
    * Native fused expression ([[graft.functions.WindowHashes]], joined
    * buffer + per-window byte-slice hashes); the superseded HOF form is
    * `KernelReference.windowHashesHof`, the spec's bit-identity anchor. */
  private[ops] def windowHashes(tk: Column, k: Int): Column =
    coalesce(
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.WindowHashes(
          org.apache.spark.sql.GraftColumnBridge.expression(tk), k)),
      array().cast("array<bigint>"))

  /** Substring-level duplication profile (the exact-substring dedup of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", re-expressed for Spark): every contiguous `k`-token
    * window is hashed, a window is DUPLICATED when its token sequence
    * occurs at least `minCount` times corpus-wide (across documents or
    * repeated within one), and each document reports how much of it is
    * covered by duplicated windows — `n_windows`, `dup_windows`,
    * `dup_spans` (maximal runs of duplicated windows, merged when the
    * gap between window starts is ≤ k, i.e. the covered token
    * intervals overlap or touch), `dup_cov_tokens` (tokens under some
    * duplicated window — span arithmetic `last − first + k`, exact
    * because merged spans have no interior holes), and `dup_fraction`.
    * Documents shorter than `k` tokens have zero windows by definition
    * (no whole-doc fallback — substring dedup is about long shared
    * spans, not short-doc identity, which [[exact]] already covers).
    *
    * The reference's suffix-array formulation is inherently
    * single-machine; the window-hash formulation is the distributable
    * equivalent: one narrow pass builds windows (higher-order
    * functions over the token array, codegen'd, no UDF), ONE shuffle
    * groups 8-byte window hashes (never text bytes) to find
    * corpus-wide repeats, and the per-doc span merge is a window
    * function over each doc's flagged positions. At 100 TB that's the
    * same cost class as MinHash bucketing. Hashes are xxhash64 of the
    * space-joined window: among 10^12 windows the birthday bound puts
    * expected 64-bit collisions at ~10^4 — a 10^-8 false-dup fraction,
    * far below the noise floor of any downstream quality gate.
    *
    * Returns one row per input document: (idCol, n_tokens, n_windows,
    * dup_windows, dup_spans, dup_cov_tokens, dup_fraction). Follow
    * with a threshold filter (e.g. `dup_fraction > 0.5`) or feed the
    * spans to a span-removal rewrite. */
  def substringDup(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", k: Int = 8,
                   minCount: Int = 2): DataFrame = {
    require(k >= 2, s"window length k must be >= 2, got $k")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    TextAnalysis.requireFree(docs, "_toks", "_ntok", "_wins", "_nwin", "_tw",
      "_pos", "_wh", "_c", "_newspan", "_span", "_s", "_e", "_nw")
    val base = docs
      .select(col(idCol),
        bindOnce(TextAnalysis.tokensCol(col(textCol))) { tk =>
          struct(size(tk).as("_ntok"), windowHashes(tk, k).as("_wins"))
        }.as("_tw"))
      .select(col(idCol), col("_tw")("_ntok").as("_ntok"),
        col("_tw")("_wins").as("_wins"))
    val stats = base.select(col(idCol), col("_ntok"), size(col("_wins")).as("_nwin"))
    val wins = base.select(col(idCol), posexplode(col("_wins")).as(Seq("_pos", "_wh")))
    // the one wide stage: count occurrences per 8-byte window hash
    val dupHashes = wins.groupBy("_wh").agg(count(lit(1)).as("_c"))
      .where(col("_c") >= minCount).select("_wh")
    val flagged = wins.join(dupHashes, "_wh")
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_pos"))
    val spans = flagged
      // new span when this window starts beyond the previous one's
      // reach (gap > k); first row always starts a span
      .withColumn("_newspan",
        when(col("_pos") > coalesce(lag(col("_pos"), 1).over(byPos),
          lit(-k.toLong - 1L)) + k, lit(1L)).otherwise(lit(0L)))
      .withColumn("_span", sum(col("_newspan")).over(byPos))
      .groupBy(col(idCol), col("_span"))
      .agg(min("_pos").as("_s"), max("_pos").as("_e"), count(lit(1)).as("_nw"))
      .groupBy(idCol)
      .agg(sum("_nw").as("dup_windows"), count(lit(1)).as("dup_spans"),
        sum(col("_e") - col("_s") + k).as("dup_cov_tokens"))
    stats.join(spans, Seq(idCol), "left")
      .select(col(idCol),
        col("_ntok").cast("long").as("n_tokens"),
        col("_nwin").cast("long").as("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).cast("long").as("dup_windows"),
        coalesce(col("dup_spans"), lit(0L)).cast("long").as("dup_spans"),
        coalesce(col("dup_cov_tokens"), lit(0L)).cast("long").as("dup_cov_tokens"),
        round(when(col("_ntok") > 0,
          coalesce(col("dup_cov_tokens"), lit(0L)).cast("double") / col("_ntok"))
          .otherwise(lit(0.0)), 6).as("dup_fraction"))
  }

  /** The REWRITE half of exact-substring dedup: [[substringDup]] finds
    * duplicated spans; this removes them, keeping the corpus-wide FIRST
    * occurrence of each duplicated window (canonical = minimum
    * (doc, position) pair — Lee et al. likewise keep one copy of each
    * repeated substring rather than deleting whole documents). Every
    * other occurrence is redundant; a doc's redundant window positions
    * merge into maximal spans exactly as in [[substringDup]], and the
    * tokens those spans cover are excised. Output rows (one per input
    * doc): (idCol, clean_text, n_tokens, n_removed) — `clean_text` is
    * the surviving tokens space-joined in the NORMALIZED token space of
    * [[TextAnalysis.tokensCol]] (the space all dedup fingerprints
    * share; span surgery on raw text would need byte offsets the
    * tokenizer deliberately discards).
    *
    * Scale shape: the canonical-occurrence choice rides the SAME
    * one-shuffle window-hash aggregation as [[substringDup]] —
    * `min(struct(doc, pos))` partial-aggregates map-side, so a
    * boilerplate window occurring in a billion documents never
    * collocates its occurrences on one reducer (a window/row_number
    * formulation would). Span merge is per-doc windowing; the excision
    * itself is a doc-keyed join of interval lists (few per doc, by
    * construction ≤ windows) back to the token arrays, then one narrow
    * higher-order filter — text bytes shuffle once (the doc-keyed
    * join), window hashes once. */
  def removeDupSpans(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", k: Int = 8,
                     minCount: Int = 2): DataFrame = {
    require(k >= 2, s"window length k must be >= 2, got $k")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    TextAnalysis.requireFree(docs, "_toks", "_wins", "_pos", "_wh", "_c", "_tw",
      "_canon", "_newspan", "_span", "_s", "_e", "_ivs", "_kept")
    val toks = col("_toks")
    val base = docs
      .select(col(idCol),
        bindOnce(TextAnalysis.tokensCol(col(textCol))) { tk =>
          struct(tk.as("_toks"), windowHashes(tk, k).as("_wins"))
        }.as("_tw"))
      .select(col(idCol), col("_tw")("_toks").as("_toks"),
        col("_tw")("_wins").as("_wins"))
    val wins = base.select(col(idCol), posexplode(col("_wins")).as(Seq("_pos", "_wh")))
    // one wide stage: occurrence count AND first occurrence per window
    // hash, both partial-aggregating (struct min is field-lexicographic)
    val canon = wins.groupBy("_wh")
      .agg(count(lit(1)).as("_c"),
        min(struct(col(idCol), col("_pos"))).as("_canon"))
      .where(col("_c") >= minCount)
      .select(col("_wh"), col("_canon"))
    val redundant = wins.join(canon, "_wh")
      .where(!(col(idCol) === col("_canon")(idCol) &&
        col("_pos") === col("_canon")("_pos")))
      .select(col(idCol), col("_pos"))
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_pos"))
    val intervals = redundant
      .withColumn("_newspan",
        when(col("_pos") > coalesce(lag(col("_pos"), 1).over(byPos),
          lit(-k.toLong - 1L)) + k, lit(1L)).otherwise(lit(0L)))
      .withColumn("_span", sum(col("_newspan")).over(byPos))
      .groupBy(col(idCol), col("_span"))
      .agg(min("_pos").as("_s"), max("_pos").as("_e"))
      .groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("_s"), col("_e")))).as("_ivs"))
    base.join(intervals, Seq(idCol), "left")
      .select(col(idCol), toks,
        coalesce(col("_ivs"),
          array().cast("array<struct<_s:long,_e:long>>")).as("_ivs"))
      // keep token i (0-based) unless some redundant span [s, e+k-1]
      // covers it; spans per doc are few, so the exists() is cheap
      .withColumn("_kept", filter(toks, (_, i) =>
        !exists(col("_ivs"), iv =>
          i.cast("long") >= iv("_s") && i.cast("long") <= iv("_e") + (k - 1))))
      .select(col(idCol),
        array_join(col("_kept"), " ").as("clean_text"),
        size(toks).cast("long").as("n_tokens"),
        (size(toks) - size(col("_kept"))).cast("long").as("n_removed"))
  }

  /** Line-level corpus dedup (the C4/RefinedWeb boilerplate rule):
    * a LINE (text split on `sep`) that occurs in at least `minDocs`
    * DISTINCT documents is boilerplate — nav bars, cookie banners,
    * license footers — and is removed from EVERY document that carries
    * it. Complements [[substringDup]] (which finds long shared token
    * spans, not line-aligned repeats) and [[exact]] (whole-document
    * identity).
    *
    * Lines shorter than `minLineChars` characters are exempt — never
    * counted, never removed (the C4 practice: blank and near-blank
    * lines are structure, not boilerplate). `sep` is a Java regex
    * (the default splits on bare newlines); the rebuild joins kept
    * lines back with the literal separator, so pass a literal
    * separator when round-tripping text matters.
    *
    * Shuffle shape at 100 TB: the frequency pass shuffles 8-byte line
    * hashes only (per-doc-distinct first, so a doc repeating its own
    * line contributes one vote); the per-doc drop-set is a hash join of
    * those hashes; the REBUILD join is the only stage that moves text
    * bytes, and it moves them exactly once (same cost class as
    * [[removeDupSpans]]'s interval join). Dup-line identity is
    * xxhash64 — the same 64-bit birthday arithmetic as substringDup
    * (~1e-8 false-collision fraction at 10^12 distinct lines).
    *
    * Returns one row per document: (idCol, n_lines, n_dup_lines,
    * clean_text) where n_dup_lines counts removed occurrences. */
  def lineDedup(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", minDocs: Int = 2,
                sep: String = "\n", minLineChars: Int = 1): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    TextAnalysis.requireFree(docs, "_lines", "_lh", "_nd", "_drop", "_kept")
    val base = docs.select(col(idCol), split(col(textCol), sep).as("_lines"))
    val eligible = (l: Column) => length(l) >= minLineChars
    // one vote per (doc, line): array_distinct before the explode
    val exploded = base.select(col(idCol),
      explode(array_distinct(transform(
        filter(col("_lines"), eligible), l => xxhash64(l)))).as("_lh"))
    val dupHashes = exploded.groupBy("_lh")
      .agg(count(lit(1)).as("_nd"))
      .where(col("_nd") >= minDocs)
      .select("_lh")
    // per-doc drop set: tiny (distinct boilerplate hashes in the doc)
    val drops = exploded.join(dupHashes, "_lh")
      .groupBy(idCol).agg(collect_set(col("_lh")).as("_drop"))
    base.join(drops, Seq(idCol), "left")
      .select(col(idCol), col("_lines"),
        coalesce(col("_drop"), array().cast("array<bigint>")).as("_drop"))
      .withColumn("_kept", filter(col("_lines"), l =>
        !(eligible(l) && array_contains(col("_drop"), xxhash64(l)))))
      .select(col(idCol),
        size(col("_lines")).cast("long").as("n_lines"),
        (size(col("_lines")) - size(col("_kept"))).cast("long").as("n_dup_lines"),
        array_join(col("_kept"), sep).as("clean_text"))
  }

  /** Pairs of ids sharing a bucket key, with a skew cap: buckets larger
    * than `maxBucket` are dropped entirely (documented recall trade).
    *
    * One sorted exchange + in-bucket pair generation instead of a bucket
    * self-join: a join would reference `buckets` (and so re-execute its
    * whole upstream pipeline) three times — size filter, probe, build —
    * where this form executes it once. */
  private[ops] def candidatePairsFromBuckets(buckets: DataFrame, keyCols: Seq[String],
                                             idCol: String, maxBucket: Int): DataFrame =
    pairsInBuckets(buckets, keyCols, col(idCol), maxBucket, PairKernel.AllPairs).distinct()

  /** The one blocking step behind every pair generator here: the i<j
    * pairs of each `keys` run of `rows` that pass `kernel`, as
    * `doc_a, doc_b` and then the kernel's score fields.
    *
    * Three steps, all in Spark's sorted-group operator
    * (`flatMapSortedGroups`): one hash exchange on `keys`, one sort
    * within partitions on `keys` then `item`, and one pass that walks
    * each key's run. The pass keeps the run's distinct non-null items
    * ([[PairKernel.distinctRun]]: `collect_set`'s equality, at most
    * `cap + 1` held), drops a run with fewer than 2 or more than `cap`
    * of them, and hands the survivors, in `sort_array` order, to the
    * pair loop ([[PairKernel.pairs]]). So the output is the multiset the
    * former `sort_array(collect_set(item))` aggregate gave, without its
    * object aggregate, which falls back to sort-based aggregation once a
    * task holds more than 128 keys. Put a high-cardinality key first:
    * the sort compares the first key by its prefix. */
  private[ops] def pairsInBuckets(rows: DataFrame, keys: Seq[String], item: Column, cap: Int,
                                  kernel: PairKernel): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{DataType, StructField, StructType}
    val in = rows.select(item.as("_item") +: keys.map(col): _*)
    val idType = (in.schema("_item").dataType, kernel.payload) match {
      case (id, None) => id
      case (StructType(Array(id, p)), Some(want)) if DataType.equalsIgnoreNullability(p.dataType, want) =>
        id.dataType
      case (dt, want) => throw new IllegalArgumentException(s"pairsInBuckets($kernel) expects " +
        want.fold("ids")(p => s"struct<doc, ${p.simpleString}>") + s" items, got ${dt.simpleString}")
    }
    val out = StructType(Seq(StructField("doc_a", idType, nullable = false),
      StructField("doc_b", idType, nullable = false)) ++ kernel.scoreFields)
    in.groupBy(keys.map(col): _*)
      .as[Row, Row](Encoders.row(StructType(keys.map(in.schema(_)))), Encoders.row(in.schema))
      .flatMapSortedGroups(col("_item"))((_: Row, run: Iterator[Row]) =>
        PairKernel.pairs(PairKernel.distinctRun(run.map(_.get(0)), cap), kernel))(Encoders.row(out))
  }
}
