package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for training-data pipelines: tokenization, token
  * counting, quality scoring, language-ID heuristic, content fingerprinting.
  *
  * These extend the reference's surface (it has no text analytics; its
  * closest analog is the regex typing layer, SURVEY.md §2.2) with the
  * operations a large-scale LLM-data pipeline needs. Everything is built
  * from Catalyst functions (split/transform/aggregate/filter) — per-row,
  * no shuffle, no UDFs — so a 100 TB corpus scans at parquet speed and the
  * only shuffles are whatever aggregation the caller adds on top.
  *
  * Hash choice: a polynomial rolling hash mod 1e9+7. Deliberately NOT
  * xxhash64/murmur: the polynomial form is expressible identically in any
  * SQL engine (the DuckDB oracle runs the same lambda), keeps every
  * intermediate < 2^36 (no BIGINT overflow in engines that error on it),
  * and is deterministic across partitionings.
  */
object TextOps {

  val HashMod = 1000000007L

  /** Whitespace tokenization; empty/blank text → empty array (not [""]). */
  def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast(ArrayType(StringType)))
      .otherwise(split(trim(c), "\\s+"))

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Adjacent pairs of a token-array column as readable "a b" strings
    * (order preserved); size<2 → empty array. zip_with over two slices —
    * each array materializes once per row. Callers MUST pass a projected
    * column (`.select(tokens(...).as("t"))` first): inlining `tokens(c)`
    * here would re-run the split per lambda element (O(tokens²) per row —
    * measured 6 s vs 0.5 s on the sf0.1 corpus). */
  def bigramsFromTokens(t: Column): Column =
    when(size(t) < 2, array().cast(ArrayType(StringType)))
      .otherwise(zip_with(
        slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1),
        (a, b) => concat_ws(" ", a, b)))

  /** Corpus text normalization: accent-fold (native [[graft.functions
    * .AccentFold]] expression — NFD + strip combining marks), lowercase,
    * collapse runs of whitespace to single spaces, trim. The standard
    * canonical form applied before exact-dedup / fingerprinting so that
    * "Café  au\tlait " and "cafe au lait" collide. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(call_function("accent_fold", c)), "\\s+", " "))

  /** Redact PII-shaped substrings, replacing each match with a fixed tag:
    * emails, then IPv4s, then any remaining digit run of `minDigits`+
    * (phone/account numbers). Order matters — emails and IPs contain
    * digit runs, so they must be tagged first. Pure regexp_replace chain:
    * codegen'd, no UDF, safe to run over 100 TB of text. */
  def redactPii(c: Column, minDigits: Int = 4): Column = {
    val email = regexp_replace(c,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>")
    regexp_replace(ip, s"[0-9]{$minDigits,}", "<NUM>")
  }

  /** Polynomial rolling hash of a string: fold h = (h*31 + codepoint) % M
    * over its characters. Dispatches to the native codegen'd
    * [[graft.functions.PolyHash]] expression — sessions must register
    * [[graft.GraftExtensions]] (Sessions does). TextOpsSpec cross-checks
    * it against the interpreted split/aggregate form of the same fold. */
  def polyHash(c: Column): Column = call_function("poly_hash", c)

  /** Wide two-plane string hash: polyHash(s)·2^31 + a second independent
    * fold (mult 131, mod 998244353) — ≈2^60 key space, every intermediate
    * BIGINT-exact on both engines ([[graft.functions.PolyHashWideFn]]).
    * The prefilter-grade hash for dedup gates that must stay selective
    * at corpus scale (chunk identity, substring windows); [[polyHash]]
    * remains the 30-bit tier for arithmetic that needs small values
    * (minhash affine family, mod-bucket features). */
  def polyHashWide(c: Column): Column = call_function("poly_hash_wide", c)

  /** Affine rehash family for minhash: hash_i(h) = (a_i·h + b_i) % M with
    * per-i coefficients a_i = (K1·(i+1)) % M, b_i = (K2·(i+1)) % M mixed
    * through the two Knuth multiplicative constants.
    *
    * The earlier structured family ((2i+1)·h + i) was order-PRESERVING
    * for small h across every i (no wraparound until (2i+1)·h > M), so
    * one small shingle hash argmin'd all k hash functions at once:
    * measured on a planted J=0.95 pair at 20k docs, only 4/16 minhashes
    * agreed (≈15/16 expected) and LSH recall collapsed. Large well-mixed
    * multipliers wrap every product, so the argmins decorrelate and
    * signature agreement tracks Jaccard again (NearDupSpec pins this).
    * a_i·h ≤ (M−1)·(M−1) ≈ 1e18 < 2^63: exact in BIGINT on both engines. */
  def affineHash(h: Column, i: Column): Column = {
    val a = (lit(2654435761L) * (i + 1)) % HashMod
    val b = (lit(2246822519L) * (i + 1)) % HashMod
    (a * h + b) % HashMod
  }

  /** Punctuation character count. */
  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[\\p{Punct}]", ""))

  /** Ratio of tokens that appear in `words`, guarded against empty docs.
    * Hit counting is the native count_in expression (one codegen'd pass,
    * identical semantics to size(filter(isin)) — asserted in spec). */
  def wordSetRatio(tokensCol: Column, words: Seq[String]): Column = {
    val hits = call_function("count_in", tokensCol,
      array(words.map(lit): _*))
    when(size(tokensCol) === 0, lit(0.0))
      .otherwise(hits.cast(DoubleType) / size(tokensCol).cast(DoubleType))
  }

  /** Quality-score feature block (length / punctuation / stopword ratios),
    * the standard cheap pre-filter before expensive dedup/training steps. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")

  def qualityFeatures(text: Column): Column = {
    val tk = tokens(text)
    struct(
      length(text).as("n_chars"),
      size(tk).as("n_tokens"),
      when(size(tk) === 0, lit(0.0))
        .otherwise(length(text).cast(DoubleType) / size(tk).cast(DoubleType))
        .as("chars_per_token"),
      wordSetRatio(tk, Stopwords).as("stopword_ratio"),
      when(length(text) === 0, lit(0.0))
        .otherwise(punctCount(text).cast(DoubleType) /
          length(text).cast(DoubleType))
        .as("punct_ratio"))
  }

  /** Language-ID by marker-word voting: score each candidate language by
    * how many tokens hit its marker list; argmax with deterministic
    * alphabetical tiebreak. (A real deployment swaps in char-n-gram
    * profiles; the operator shape — per-row scoring against broadcast-able
    * literal profiles, no shuffle — is the same.) */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist"),
    "en" -> Seq("the", "a", "and", "of", "is", "to"),
    "es" -> Seq("el", "la", "los", "y", "es", "de"),
    "fr" -> Seq("le", "la", "les", "et", "est", "de"),
    "zh" -> Seq("的", "是", "了", "在", "我", "不"))

  def langGuess(text: Column): Column = {
    val tk = tokens(text)
    // fold over (lang, score) keeping the max; ties keep the earlier
    // (alphabetically first) language. Scoring is the native codegen'd
    // count_in expression — per-row, no explode, no shuffle.
    val scored = LangMarkers.map { case (lang, markers) =>
      struct(call_function("count_in", tk,
          array(markers.map(lit): _*)).as("score"),
        lit(lang).as("lang"))
    }
    val best = scored.reduceLeft((a, b) =>
      when(b.getField("score") > a.getField("score"), b).otherwise(a))
    best.getField("lang")
  }

  /** Top-k terms per document by TF-IDF — keyword extraction for corpus
    * curation. Scoring is log-free rational:
    * `score = (tf · 1000 · N) div df` (integer division) — monotone in
    * tf·(N/df) at fixed N, so rankings match classic tf-idf while the
    * value is bit-exact across engines (no transcendental-ULP drift in
    * the oracle compare). Ties break on term asc. The ×1000 scale keeps
    * the product inside Long for tf·N up to ~9e15 (a 1e5-token tf
    * against a 1e10-doc corpus); the earlier ×1e6 scale overflowed
    * exactly at the corpus sizes this operator targets.
    *
    * Plan shape: one explode → two hash aggregations (tf over (doc,term),
    * df over term, both map-side combinable) → join on term → per-doc
    * top-k window. The df side aggregates to vocabulary size — ≪ corpus
    * at any scale — and the join shuffles (term, df) pairs, never text;
    * N rides along as a broadcast single-row cross join, keeping the
    * whole thing one lazy plan. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    // persisted: tf feeds both the df derivation and the scoring join,
    // and exchange reuse across the two branches is not guaranteed (the
    // static plan shows the scan→explode→agg cascade twice; zero
    // ReusedExchange fired in PLANS.md). (doc, term) rows are the
    // distinct-terms sliver of the corpus — far smaller than text, and
    // the alternative is paying the corpus scan + explode + tf shuffle
    // twice, which is strictly more I/O than caching the agg output.
    val tf = tok.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("tfidf_scaled").desc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf_scaled", expr("(tf * 1000 * n) div df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tfidf_scaled"),
        col("rank").cast("int").as("rank"))
  }

  /** BM25 ranked retrieval (Robertson–Spärck Jones; the Lucene-form
    * positive idf): score every document against a bag of query terms,
    * return the global top-k. The relevance tier above
    * [[tfidfTopTerms]]' per-doc keywords and [[postings]]' boolean
    * matching — what a corpus-curation pipeline uses to pull
    * topical slices ranked by relevance rather than filtered by
    * presence.
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *   idf(t)   = ln((N − df + 0.5)/(df + 0.5) + 1)
    *
    * Plan shape: the token array is filtered to the query terms BEFORE
    * the explode (array-lambda at the scan), so the exploded stream and
    * the tf shuffle carry only query-term hits — query-sliver-sized,
    * not corpus-sized; dl rides along from the same array, so no join
    * back to a per-doc length frame. Corpus stats (N, Σdl) reduce to one
    * broadcast row; df derives from the tf frame (query-terms-sized).
    * The global top-k is the bounded-state [[TopK]] aggregator over a
    * constant group — per-partition heaps of k, never a global sort.
    * Per-term scores round to 9 and sum as DECIMAL (the q81/q98
    * pattern), so ranks are partitioning-invariant. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKFromProjection(
      bm25Projection(docs, idCol, textCol, queryTerms), idCol, k, k1, b)

  /** The ONE tokenize pass of [[bm25TopK]] (r15, guide §1.2): per doc,
    * (idCol, dl = token count, __hits = the query-term token
    * occurrences). Persisted — the corpus stats (N, Σdl) and the hit
    * stream both derive from it, where the old shape re-tokenized the
    * whole corpus for each; the frame is row-per-doc but SLIM (a long +
    * a query-sliver array — the tokens themselves never persist) and
    * MEMORY_AND_DISK spills at corpus scale, which beats re-paying
    * corpus tokenize, the dominant cost at any scale. Exposed so
    * rank-quality consumers (q167's relevance labels, q169's naive
    * ranking) read their term-hit features from the SAME pass:
    * size(__hits) ≡ count_in(tokens, terms) and
    * size(array_distinct(__hits)) ≡ size(array_intersect(
    * array_distinct(tokens), terms)) — spec-pinned. */
  def bm25Projection(docs: DataFrame, idCol: String, textCol: String,
                     queryTerms: Seq[String]): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val tk = tokens(col(textCol))
    val proj = docs
      .select(col(idCol), tk.as("__tk"))
      .select(col(idCol), size(col("__tk")).cast("long").as("dl"),
        filter(col("__tk"), t => t.isInCollection(queryTerms))
          .as("__hits"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.OpCache.renew("TextOps.bm25Projection", proj)
    proj
  }

  /** [[bm25TopK]] over a pre-built [[bm25Projection]] frame. */
  def bm25TopKFromProjection(proj: DataFrame, idCol: String, k: Int,
                             k1: Double = 1.2,
                             b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val stats = proj.select(col("dl"))
      .agg(count(lit(1)).as("nd"), sum(col("dl")).as("ntok"))
    val hits = proj.select(col(idCol), col("dl"),
      explode(col("__hits")).as("term"))
    // tf feeds both the df derivation and the scoring join; both
    // references sit above the same tf exchange (ReuseExchange dedups),
    // and a recompute now reads the persisted projection, not the corpus
    val tf = hits.groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfFrame = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // one double expression per (doc, term), mirrored token-for-token
    // by the oracle SQL (same literals, same association order)
    val idf = log(
      ((col("nd") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val denom = col("tf").cast("double") + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") *
        col("nd").cast("double") / col("ntok").cast("double"))
    val s = round(idf * (col("tf").cast("double") * lit(k1 + 1.0)) / denom,
      9).cast("decimal(18,9)")
    val scored = tf
      .join(broadcast(dfFrame), "term")
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      // round the exact DECIMAL then cast (double-round ties diverge
      // between engines; see the q110 note)
      .agg(round(sum(s), 6).cast("double").as("score"))
      .withColumn("__g", lit(0L))
    TopK.topKPerGroup(scored, "__g", idCol, "score", k)
      .select(col(idCol), col("rank").cast("int").as("rank"), col("score"))
  }

  /** Markup removal for web-scraped corpora: drop HTML comments (which
    * may contain '>'), drop script/style blocks
    * with their content, strip remaining tags, decode the five predefined
    * entities (&amp; LAST — decoding it first would double-decode
    * "&amp;lt;"), collapse whitespace. Regexes avoid backreferences so
    * the identical pattern runs under RE2 (the oracle engine) and Java.
    * Pure codegen'd per-row chain — zero exchange, composes with any
    * downstream shuffle untaxed. */
  def stripMarkup(c: Column): Column = {
    // comments FIRST: `<[^>]+>` stops at the first '>', so without this
    // pre-pass `<!-- ads > popups -->` leaves ` popups -->` in the text
    val noComment = regexp_replace(c, "(?s)<!--.*?-->", " ")
    val noBlock = regexp_replace(noComment,
      "(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noBlock, "<[^>]+>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (from, to)) =>
        replace(acc, lit(from), lit(to))
      }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Pack manifest — the materialization layer of sequence packing (the
    * step above q66's placement): every doc becomes one row PER TRAINING
    * PACK it touches, carrying the token sub-range [slice_start,
    * slice_start + slice_len) that lands in that pack. Docs straddling a
    * pack boundary split into contiguous pieces; a pack writer can then
    * group by pack_id and materialize fixed-width packs with zero
    * arithmetic of its own.
    *
    * Plan shape: one running-sum window per shard (the only shuffle —
    * shard = whatever the corpus is already partitioned by at 100 TB),
    * then a pure per-row explode over the touched pack range; piece
    * count per doc is ceil(n/packSize)+1 at most, so expansion is
    * bounded by data size, not corpus size. Zero-token docs carry no
    * tokens into any pack and emit no rows. */
  def packManifest(docs: DataFrame, idCol: String, shardCol: String,
                   textCol: String, packSize: Int): DataFrame = {
    require(packSize >= 1, s"packSize must be >= 1, got $packSize")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs.select(col(idCol), col(shardCol),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .filter(col("n_tokens") > 0)
      .withColumn("gstart", col("cum") - col("n_tokens"))
      .withColumn("pack_id", explode(sequence(
        expr(s"gstart div $packSize"),
        expr(s"(gstart + n_tokens - 1) div $packSize"))))
      .select(col(idCol), col(shardCol), col("pack_id"),
        (greatest(col("gstart"), col("pack_id") * packSize) - col("gstart"))
          .as("slice_start"),
        (least(col("gstart") + col("n_tokens"),
            (col("pack_id") + 1) * packSize) -
          greatest(col("gstart"), col("pack_id") * packSize))
          .as("slice_len"))
  }

  /** Unigram language-model quality score — the KenLM-style perplexity
    * proxy of corpus curation, self-contained (the corpus is its own
    * model): per doc, the mean natural-log probability of its tokens
    * under the corpus unigram distribution. Gibberish and boilerplate
    * score low (rare or pathologically repeated tokens); typical prose
    * scores near the corpus mode. Filter on a percentile of the score.
    *
    * Plan shape: one token-stream aggregate builds the (term, tf) model
    * (vocabulary-sized — partial agg, shuffle ∝ vocab); the corpus total
    * rides along as a single-row broadcast; the model joins back onto the
    * token stream (shuffles (term, tf) pairs, never text) and a per-doc
    * agg produces the score. Two corpus passes over one lazy plan, no
    * driver state — the model is never collected. */
  def unigramLogProbScore(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    // persisted: the model feeds both the total and the scoring join,
    // and exchange reuse across branches is not guaranteed (see
    // tfidfTopTerms) — without the cache the corpus token aggregate
    // recomputes per reference. Vocabulary-sized, safe at any scale.
    val tf = tok.groupBy(col("term")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // corpus total derives from the vocabulary-sized tf frame — a third
    // full tokenize pass for a single count would double-scan the corpus
    val total = tf.agg(sum(col("tf")).as("n_total"))
    // per-token logs round to 9 places and sum as DECIMAL: the sum is
    // exact and order-independent across partitionings (a double avg
    // drifts with merge order — the q81 exact-moments pattern); the one
    // final double step is the division
    val lp = round(log(col("tf").cast("double") /
      col("n_total").cast("double")), 9).cast("decimal(18,9)")
    tok.join(tf, "term")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        round(sum(lp).cast("double") / count(lit(1)), 6).as("avg_logprob"))
  }

  /** Interpolated bigram LM quality score — the next rung above
    * [[unigramLogProbScore]] on the perplexity-proxy ladder (what KenLM
    * filters actually use, minus backoff): per doc, the mean natural-log
    * probability of its token BIGRAMS under
    * λ·p(w₂|w₁) + (1−λ)·p(w₂), both estimated from the corpus itself.
    * Repetitive boilerplate scores high on bigram context; shuffled-word
    * gibberish that fools a unigram model (common words, nonsense order)
    * scores low — that separation is why curation pipelines step up from
    * unigram to bigram scoring.
    *
    * Plan shape: the bigram stream is a pure per-row zip of the token
    * array with its own tail — NO window shuffle (the lead()-window form
    * would sort the corpus token stream per doc). The MODEL is built in
    * ONE corpus pass: unigrams and bigrams are emitted through a single
    * tagged explode (w2 NULL marks a unigram) into one vocabulary-sized
    * aggregate, which is persisted (model-sized — safe at any corpus
    * scale) and sliced into the unigram/bigram count frames; the corpus
    * total derives from the same frame. The only other corpus pass is
    * the scoring stream itself, so the text is read exactly twice —
    * build and score — which is the floor for a self-estimated model.
    * Per-bigram logs round to 9 places and sum as DECIMAL so the score
    * is partitioning-invariant (q81 exact-moments pattern).
    *
    * Docs with fewer than 2 tokens have no bigrams and are absent from
    * the output (callers treat no-score as no-signal). */
  def bigramLogProbScore(docs: DataFrame, idCol: String, textCol: String,
                         lambda: Double = 0.75): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1]")
    def bigramStructs(tk: Column): Column = zip_with(
      slice(tk, lit(1), size(tk) - 1),
      slice(tk, lit(2), size(tk) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    // one corpus pass for the whole model: unigrams ride along as
    // (w, NULL) structs next to the bigrams of the same token array
    val counts = docs.select(tokens(col(textCol)).as("tk"))
      .select(explode(concat(
        transform(col("tk"), w =>
          struct(w.as("w1"), lit(null).cast("string").as("w2"))),
        bigramStructs(col("tk")))).as("g"))
      .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uc = counts.filter(col("w2").isNull)
      .select(col("w1").as("term"), col("c").as("uc"))
    val bc = counts.filter(col("w2").isNotNull)
      .select(col("w1"), col("w2"), col("c").as("bc"))
    // corpus total from the vocabulary-sized frame, not another scan
    val total = uc.agg(sum(col("uc")).as("n_total"))
    val bi = docs.select(col(idCol), tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col(idCol), explode(bigramStructs(col("tk"))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val p = lit(lambda) *
        (col("bc").cast("double") / col("c1").cast("double")) +
      lit(1.0 - lambda) *
        (col("uc2").cast("double") / col("n_total").cast("double"))
    val lp = round(log(p), 9).cast("decimal(18,9)")
    bi.join(bc, Seq("w1", "w2"))
      .join(uc.select(col("term").as("w1"), col("uc").as("c1")), "w1")
      .join(uc.select(col("term").as("w2"), col("uc").as("uc2")), "w2")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        round(sum(lp).cast("double") / count(lit(1)), 6).as("avg_logprob2"))
  }

  /** DSIR-style importance weights for domain-targeted data selection
    * (Xie et al. 2023, arXiv:2302.03169): score every raw-corpus doc by
    * how much more likely its hashed n-gram features are under the
    * TARGET domain's feature distribution than under the raw corpus's
    * own — avg over the doc's features of
    * log(p_target[bucket] / p_raw[bucket]), add-one smoothed over
    * `nBuckets`. Selection is then a weighted resample of the top of
    * this score — [[Sampling.weightedSample]] composes directly (the
    * paper's Gumbel top-k and A-Res are the same exponential-race
    * family).
    *
    * Features are hashed unigrams + bigrams: `shingle_hashes` at widths
    * 1 and 2 at the SCAN (zero shuffle to produce the stream), bucketed
    * by mod. Both models are nBuckets-sized aggregates — persisted per
    * the materialization policy (each feeds its total and the scoring
    * join), broadcast into the scorer; the raw corpus is read twice
    * (model fit + scoring), the floor for a self-normalized ratio. The
    * target corpus is domain-sized, typically ≪ raw. Per-feature log
    * ratios round to 9 places and sum as DECIMAL (the q81/q98
    * exact-moments pattern) so scores are partitioning-invariant.
    *
    * Empty docs have no features and are absent from the output. */
  def importanceWeights(raw: DataFrame, target: DataFrame, idCol: String,
                        textCol: String, nBuckets: Int = 4096): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    def feats(docs: DataFrame): DataFrame = {
      val tk = tokens(col(textCol))
      docs.select(col(idCol), tk.as("__tk"))
        .filter(size(col("__tk")) >= 1)
        .select(col(idCol), explode(concat(
          call_function("shingle_hashes", col("__tk"), lit(1)),
          // guard width 2: the expression's whole-doc fallback on a
          // 1-token doc would duplicate its unigram feature
          when(size(col("__tk")) >= 2,
            call_function("shingle_hashes", col("__tk"), lit(2)))
            .otherwise(array().cast("array<long>")))).as("h"))
        .select(col(idCol), pmod(col("h"), lit(nBuckets.toLong)).as("b"))
    }
    def model(f: DataFrame): DataFrame = f.groupBy(col("b"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rawFeats = feats(raw)
    val rm = model(rawFeats)
    val tm = model(feats(target))
    val rn = rm.agg(sum(col("c")).as("nr"))
    val tn = tm.agg(sum(col("c")).as("nt"))
    // bucket-level log ratio: a raw bucket absent from the target model
    // keeps the +1 smoothing mass; every scored bucket exists in the
    // raw model by construction
    val lrat = round(
      log((coalesce(col("tc"), lit(0L)) + lit(1)).cast("double") /
        (col("nt") + lit(nBuckets)).cast("double")) -
      log((col("c") + lit(1)).cast("double") /
        (col("nr") + lit(nBuckets)).cast("double")), 9)
      .cast("decimal(18,9)")
    val ratios = rm
      .join(tm.select(col("b"), col("c").as("tc")), Seq("b"), "left")
      .crossJoin(broadcast(tn)).crossJoin(broadcast(rn))
      .select(col("b"), lrat.as("lrat"))
    rawFeats.join(broadcast(ratios), "b")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_features"),
        round(sum(col("lrat")).cast("double") / count(lit(1)), 6)
          .as("avg_logratio"))
  }

  /** Multinomial naive-Bayes classifier, trained and applied in one
    * relational pass — the model-based tier above the [[langIdFeatures]]
    * heuristic (the fastText-style "train a cheap classifier on labeled
    * docs, apply it to the firehose" pattern of corpus curation, here
    * with NB instead of logistic weights so training is a pure
    * aggregation).
    *
    * Features are hashed unigram buckets (`shingle_hashes` width 1 mod
    * `nBuckets`, the q106 feature space). Train: per-(label, bucket)
    * counts + per-label totals + doc-count priors — all label- or
    * nBuckets-sized aggregates, broadcast into the scorer. Apply:
    *   score(d, l) = log p(l) + Σ_features log((c_{l,b}+1)/(tot_l+nB))
    * add-one smoothed; per-term logs round to 9 and sum as DECIMAL (the
    * q81/q98 pattern) so the argmax is partitioning-invariant; exact
    * score ties break by label asc.
    *
    * Scale shape: dense multi-class scoring WITHOUT multiplying the
    * token stream by the label count. Because the per-term lp is a
    * DECIMAL constant per (label, bucket), Σ_tokens lp ≡ Σ_buckets
    * cnt·lp exactly (decimal × integer is exact) — so the scorer
    * (1) pre-aggregates the token stream to (doc, bucket) counts
    * (map-side combinable, ≤ distinct-buckets-per-doc rows), then
    * (2) joins the broadcast bucket-pivoted model (nBuckets × labels —
    * tiny) and sums ALL label scores as columns in ONE doc-keyed
    * aggregate. The label set is corpus-schema-sized (a handful,
    * collected to the driver like strata counts); only the final
    * doc-sized frame is unpivoted (labels × docs rows) for the argmax
    * window (WindowGroupLimit-pruned, bounded state). Empty docs have
    * no features and are absent — matching [[importanceWeights]].
    *
    * Output: id, `lang` (true label, for the caller's confusion matrix),
    * `pred` (argmax label), `score` (winning log-likelihood, round 6). */
  def nbClassify(docs: DataFrame, idCol: String, textCol: String,
                 labelCol: String, nBuckets: Int = 4096): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val feats = docs
      .select(col(idCol), col(labelCol), tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= 1)
      .select(col(idCol), col(labelCol),
        explode(call_function("shingle_hashes", col("__tk"), lit(1)))
          .as("h"))
      .select(col(idCol), col(labelCol),
        pmod(col("h"), lit(nBuckets.toLong)).as("b"))
    // ONE corpus tokenize pass, not two (r14, guide §1.2 "remove
    // unnecessary passes"): the (doc, bucket) occurrence counts — the
    // scoring pass's only corpus-sized aggregate, map-side combinable —
    // are computed FIRST and persisted as the stage boundary, and the
    // (label, bucket) model folds out of them (Σ over docs of per-doc
    // counts ≡ the direct per-token count, exact long arithmetic). The
    // per-token stream itself is still never materialized: docFeats is
    // strictly smaller (≤ distinct buckets per doc, capped by nBuckets)
    // and MEMORY_AND_DISK degrades to spill at corpus scale — the same
    // stage-boundary license as the verify tier's candidate sets.
    val docFeats = feats.groupBy(col(idCol), col(labelCol), col("b"))
      .agg(count(lit(1)).as("__cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.OpCache.renew("TextOps.nbClassify", docFeats)
    val model = docFeats.groupBy(col(labelCol).as("__l"), col("b"))
      .agg(sum(col("__cnt")).as("c"))
    // label list + per-label feature totals + per-label doc-count priors
    // to the driver: label cardinality is corpus-schema-sized
    // (languages/sources — a handful), the same licensed driver-sized
    // collect as strata counts. ONE collect for both (r15, guide §1.2):
    // the totals and priors aggregates are independent subtrees, so a
    // union collects them in a single job — the docFeats
    // materialization and the docs prior scan run as concurrent stages
    // instead of two sequential driver round-trips. ndAll enters as a
    // window sum over the label-domain aggregate (Σ nd ≡ the old
    // crossJoin'd corpus count — the doc-count aggregate partitions the
    // corpus by label), which also drops the second docs scan the
    // crossJoin side paid.
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val totalsPart = model.groupBy(col("__l")).agg(sum(col("c")).as("tot"))
      .select(lit(0).as("__src"), col("__l"), col("tot"),
        lit(null).cast("decimal(18,9)").as("__lp"))
    val priorsPart = docs.groupBy(col(labelCol).as("__l"))
      .agg(count(lit(1)).as("nd"))
      .select(lit(1).as("__src"), col("__l"), col("nd").as("tot"),
        round(log(col("nd").cast("double") /
          sum(col("nd")).over(wAll).cast("double")), 9)
          .cast("decimal(18,9)").as("__lp"))
    val statRows = totalsPart.unionByName(priorsPart).collect()
    val totalRows = statRows.filter(_.getInt(0) == 0)
    // UTF8 BINARY label order, not String natural (UTF-16 code-unit)
    // order: the argmax tie-break below addresses labels by index of
    // this list, and the old row_number window (and the oracle) ordered
    // ties in UTF8 binary — supplementary-plane labels diverge under
    // String.compareTo (the Bpe.trainLocal divergence, r14 ADVICE)
    val labels = totalRows.map(_.getString(1)).sortWith((a, b) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(
          org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0)
    val totByL = totalRows.map(r => r.getString(1) -> r.getLong(2)).toMap
    val priorByL = statRows.filter(_.getInt(0) == 1)
      .map(r => r.getString(1) -> r.getDecimal(3)).toMap
    // bucket-pivoted model: one row per bucket, one count column per
    // label (nBuckets × labels — broadcast-sized by construction);
    // labels are addressed by index so column names stay identifier-safe
    val cAggs = labels.indices.map(i =>
      sum(when(col("__l") === lit(labels(i)), col("c"))).as(s"__c_$i"))
    val modelWide = model.groupBy(col("b")).agg(cAggs.head, cAggs.tail: _*)
    // per-label score column: Σ_buckets cnt · lp(b, l) — value-identical
    // to the per-token decimal sum because cnt · decimal is exact
    def lpCol(i: Int) = round(
      log((coalesce(col(s"__c_$i"), lit(0L)) + lit(1)).cast("double") /
        lit(totByL(labels(i)) + nBuckets).cast("double")), 9)
      .cast("decimal(18,9)")
    // cnt as DECIMAL(12,0), not BIGINT: bigint×decimal(18,9) would need
    // precision 39 and Spark trims the scale to 8 — silently rounding
    // the 9th digit; (12,0)×(18,9) stays at (31,9), exact
    val sAggs = labels.indices.map(i =>
      sum(col("__cnt").cast("decimal(12,0)") * lpCol(i)).as(s"__s_$i"))
    val perDoc = docFeats
      .join(broadcast(modelWide), Seq("b"), "left")
      .groupBy(col(idCol), col(labelCol))
      .agg(sAggs.head, sAggs.tail: _*)
    // argmax fused IN-ROW (r14): every label's score is already a column
    // of the doc-sized frame, so the winner is greatest() over
    // (score, −labelIndex) structs — score desc, then label asc via the
    // negated index of the asc-sorted label list; identical ordering to
    // the old row_number window without the explode to labels × docs
    // rows, the priors broadcast join, or the window exchange+sort.
    // sums come out decimal(38,9); cast to (28,9) (magnitude-safe: |s| ≤
    // tokens·|lp| ≪ 10^19) so `+ lprior` types at (29,9) — at (38,9) the
    // addition would need precision 39 and trim the scale to 8
    val kv = labels.indices.map(i =>
      struct(
        (col(s"__s_$i").cast("decimal(28,9)") +
          lit(priorByL(labels(i))).cast("decimal(18,9)")).as("__s"),
        lit(-i).as("__ni")))
    // greatest() requires >= 2 args — a single-label corpus (legal:
    // every doc carries the same lang) is just that label's struct
    val win = if (kv.size == 1) kv.head else greatest(kv: _*)
    val labelArr = array(labels.map(lit): _*)
    perDoc
      .withColumn("__w", win)
      .select(col(idCol), col(labelCol),
        element_at(labelArr, -col("__w.__ni") + 1).as("pred"),
        // round the EXACT decimal, THEN cast: rounding the double
        // instead diverges from the oracle when a score lands exactly
        // on a 0.5e-6 boundary (Spark rounds the binary expansion,
        // DuckDB rounds x*1e6 — they disagree on ties; one doc in 5000
        // hit it at sf0.1). Decimal rounding is half-up on both
        // engines, so the tie is decided identically.
        round(col("__w.__s"), 6).cast("double").as("score"))
  }

  /** Overlapping fixed-width chunking — the context-window prep step of
    * an LLM-data pipeline (and RAG indexing): each doc's token stream is
    * cut into `chunkSize`-token windows every `stride` tokens (stride <
    * chunkSize ⇒ overlap). Pure per-row expansion: tokens → sequence of
    * starts → explode → slice; no shuffle, scales with the scan, and each
    * chunk carries a content hash so chunk identity is oracle-checkable.
    * The hash is the WIDE two-plane key ([[polyHashWide]], ≈2^60 space):
    * chunk-hash equality stands in for chunk identity in the
    * boilerplate-passage gate (q68) and dedup manifests, and a 30-bit
    * space saturates that gate at corpus scale (birthday collisions
    * make unrelated chunks "repeat"). Docs shorter than one chunk yield
    * exactly one (possibly short) chunk; empty docs one empty chunk. */
  def chunkRows(docs: DataFrame, idCol: String, textCol: String,
                chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1 && stride >= 1,
      s"chunkSize and stride must be >= 1, got $chunkSize/$stride")
    docs.select(col(idCol), tokens(col(textCol)).as("tk"))
      .withColumn("start", explode(
        sequence(lit(0), greatest(size(col("tk")) - 1, lit(0)), lit(stride))))
      .withColumn("chunk", slice(col("tk"), col("start") + 1, lit(chunkSize)))
      .select(col(idCol),
        (col("start") / stride).cast("int").as("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tokens"),
        polyHashWide(concat_ws(" ", col("chunk"))).as("chunk_hash"))
  }

  /** Inverted-index posting stats per token: document frequency, total
    * term frequency, and the first `sampleK` doc ids as a bounded sample.
    *
    * Scale shape: explode → (token, doc) partial-counted aggregate (the
    * shuffle carries one row per distinct (token, doc), never per token
    * occurrence), then a token-partitioned window bounds the sample to
    * `sampleK` BEFORE the final collect — no posting list is ever fully
    * materialized in one task, so a stopword appearing in every document
    * costs O(sampleK) memory, not O(corpus). Full posting lists at 100 TB
    * would instead stay as the flat (token, doc_id, tf) table this
    * computes halfway — sorted/bucketed by token, queried by merge join —
    * rather than as arrays. */
  def invertedPostings(docs: DataFrame, idCol: String, textCol: String,
                       sampleK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = docs
      .select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("token")).orderBy(col("doc_id"))
    perDoc
      .withColumn("rn", row_number().over(w))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("doc_freq"),
        sum(col("tf")).as("term_freq"),
        sort_array(collect_list(when(col("rn") <= sampleK, col("doc_id"))))
          .as("sample_docs"))
  }

  /** Skip-gram co-occurrence counts — the (center, context) pair stream
    * word2vec-style embedding training consumes. Counts every unordered
    * token co-occurrence within `window` positions, emitted in both
    * directions (the symmetric-context convention).
    *
    * Pair generation is entirely SCAN-SIDE: a nested array transform
    * (for token i, pair with tokens i+1 … i+window via `slice`) builds
    * each row's forward pairs in one codegen'd expression — no
    * posexplode + positional self-join, which would shuffle the token
    * stream and join it to itself (the naive shape's cost is corpus-
    * sized exchange × window; this shape's is zero exchanges before the
    * count aggregation). The groupBy then aggregates to the pair
    * VOCABULARY (|V|² bounded, ≪ corpus at scale), map-side combined.
    * `docsCol` MUST be a projected token-array column (same O(tokens²)
    * re-evaluation hazard as [[bigramsFromTokens]]). */
  def skipgramPairsFromTokens(t: Column, window: Int): Column = {
    require(window >= 1, s"window must be >= 1, got $window")
    flatten(transform(t, (tok, i) =>
      transform(slice(t, i + 2, lit(window)),
        ctx => struct(tok.as("a"), ctx.as("b")))))
  }

  /** Corpus novelty curve over ingestion order: cut the id space into
    * `buckets` equal slices and report, per slice, how many of its
    * distinct shingles appear THERE FOR THE FIRST TIME — the
    * diminishing-returns readout of continued scraping ("bucket 9 is
    * 85% repeats of buckets 0–8"), and the aggregate twin of q64's
    * per-batch incremental dedup.
    *
    * Plan: the shingle stream hash-aggregates straight to
    * (bucket, shingle) / first-seen-bucket frames — shingle-domain
    * sized, no windows, no sorts; bucket assignment is integer
    * arithmetic off a broadcast max-id. Output: bucket, n_docs,
    * n_shingles (distinct in bucket), n_new (first seen here),
    * novelty = n_new / n_shingles. */
  def noveltyCurve(docs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, buckets: Int = 10): DataFrame = {
    val maxId = broadcast(docs.agg((max(col(idCol)) + 1).as("__maxid")))
    def bucketOf(src: DataFrame) = src.crossJoin(maxId)
      .withColumn("__b",
        expr(s"CAST(($idCol * $buckets) DIV __maxid AS INT)"))
    val shb = bucketOf(
        NearDup.shingleRows(docs, idCol, textCol, shingleN)
          .distinct())
      .select(col("__b"), col("h"))
    val inBucket = shb.distinct()
      .groupBy(col("__b")).agg(count(lit(1)).as("n_shingles"))
    val newPer = shb.groupBy(col("h")).agg(min(col("__b")).as("__fb"))
      .groupBy(col("__fb").as("__b")).agg(count(lit(1)).as("n_new"))
    val docsPer = bucketOf(docs.select(col(idCol)))
      .groupBy(col("__b")).agg(count(lit(1)).as("n_docs"))
    docsPer.join(inBucket, "__b").join(newPer, Seq("__b"), "left")
      .select(col("__b").as("bucket"), col("n_docs"),
        col("n_shingles"), coalesce(col("n_new"), lit(0L)).as("n_new"),
        round(coalesce(col("n_new"), lit(0L)).cast("double") /
          col("n_shingles"), 6).as("novelty"))
  }
}
