package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Dedup, NearDup, Sampling, Sharding, Sketches, TextOps}

/** Training-data text pipeline queries over the `documents` table: exact
  * dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard, token counting,
  * quality scoring, language-ID, fingerprinting. Every query here has a
  * value-exact DuckDB oracle (the hash design in [[TextOps]] exists for
  * that) — near-dup pipelines are exactly where silent drift hides, so
  * they're the queries that most need the oracle.
  */
object TextQueries {

  val ShingleN = 3
  val NumHashes = 16
  val RowsPerBand = 4
  // q105 window width: the substring-dedup resolution floor, matching
  // the decontamination n-gram width (8 tokens)
  val SpanN = 8
  // q106 hashed-feature space (DSIR's n-gram buckets)
  val DsirBuckets = 4096
  // q107 query bag + result size
  val Bm25Terms = Seq("hash", "join", "vector")
  val Bm25K = 10
  // q108 shard fan-out + shuffle seed
  val ShardN = 64
  // q112 collocation support floor
  val MinPairCount = 5
  // q116 per-source contribution cap
  val SourceCap = 10
  val ShardSeed = 42L
  // q109 recipe: relative weights (src0 3×, src1 2×, rest 0.5×) and a
  // 1M-token global budget
  val MixWeights = Map("src0" -> 3.0, "src1" -> 2.0)
  val MixDefaultW = 0.5
  val MixBudget = 1000000L
  // q123/q124 winnowing: k-gram width, winnow window (density 2/(w+1)),
  // boilerplate doc-frequency cap, min shared fingerprints per pair
  val WinnowK = 4
  val WinnowW = 4
  val FpMaxDf = 10
  val FpMinShared = 2
  // q128 KMV sketch capacity
  val KmvK = 64
  // q129 temperature-mix sampling budget
  val MixTotal = 1000L
  // q131 containment threshold (max of the two directions)
  val ContainmentMin = 0.5
  // q264 paragraphizer chunk width (tokens)
  val ParagraphTokens = 3

  // q132 prefix-dedup width (tokens)
  val PrefixTokens = 8
  // q266/q267 quality-classifier trainer: full-batch GD rounds, rate,
  // and the demo label's token threshold (the synthetic corpus' lang
  // column is INDEPENDENT of its text, so a lang label would be
  // unlearnable; doc length is a signal the features genuinely carry —
  // trained accuracy 0.818 vs 0.516 majority at sf0.01)
  val TrainRounds = 4
  val TrainLr = 4.0
  val TrainLabelTokens = 54
  // q134 BPE merge rounds
  val BpeMerges = 8
  // q143 phrase tokens (adjacent)
  val PhraseA = "hash"
  val PhraseB = "join"

  /** Exact-duplicate groups by content hash (scale path: hash-groupBy —
    * shuffle carries (hash, count), not text). With no exact dups in the
    * test corpus this returns per-doc singleton proof instead: count of
    * docs per (lang, content-hash-bucket) to keep the result non-trivial. */
  def qExactDupStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), (TextOps.polyHash(col("text")) % 10).as("bucket"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"))

  /** Exact dedup representative per content: min doc_id per text hash. */
  def qExactDedup(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(TextOps.polyHash(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
           count(lit(1)).as("n_copies"))

  /** Token / subword / char counting per document. */
  def qTokenCounts(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars"))

  /** Quality-score features per document (flattened struct). */
  def qQualityScore(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextOps.qualityFeatures(col("text")).as("f"))
      .select(col("doc_id"),
        col("f.n_chars").cast("long").as("n_chars"),
        col("f.n_tokens").cast("long").as("n_tokens"),
        round(col("f.chars_per_token"), 6).as("chars_per_token"),
        round(col("f.stopword_ratio"), 6).as("stopword_ratio"),
        round(col("f.punct_ratio"), 6).as("punct_ratio"))

  /** Language-ID guess vs labeled lang: confusion counts.
    *
    * Per-row scoring via the native count_in expression
    * ([[graft.ops.TextOps.langGuess]]): each doc scores its K language
    * profiles in one codegen'd pass — no token explode, no marker join,
    * no shuffle before the tiny (lang, guess) aggregation. The earlier
    * relational formulation (explode → broadcast marker join → two
    * aggregations → window argmax) is retained as [[qLangIdRelational]]
    * and asserted equal in TextOpsSpec. */
  def qLangId(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"),
        TextOps.langGuess(col("text")).as("lang_guess"))
      .groupBy(col("lang"), col("lang_guess"))
      .agg(count(lit(1)).as("n"))

  /** Relational reference form of [[qLangId]] (explode + broadcast marker
    * join + window argmax) — the shape to prefer when profiles are too
    * large to inline per row. Spec cross-check only. */
  private[graft] def qLangIdRelational(s: SparkSession,
                                       dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val markers = broadcast(TextOps.LangMarkers
      .flatMap { case (l, ws) => ws.map(w => (l, w)) }
      .toDF("lang_m", "tok"))
    val hits = docs
      .select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      .join(markers, "tok")
      .groupBy(col("doc_id"), col("lang_m"))
      .agg(count(lit(1)).as("n_hits"))
    val best = graft.ops.Dedup.firstRowPerGroup(hits, Seq(col("doc_id")),
      Seq(col("n_hits").desc, col("lang_m").asc))
    docs.join(best.select(col("doc_id"), col("lang_m")), Seq("doc_id"), "left")
      .select(col("lang"),
        coalesce(col("lang_m"),
          lit(TextOps.LangMarkers.head._1)).as("lang_guess"))
      .groupBy(col("lang"), col("lang_guess"))
      .agg(count(lit(1)).as("n"))
  }

  /** Document fingerprint: rolling content hash + first-shingle hash. */
  def qFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextOps.polyHash(col("text")).as("content_hash"),
      TextOps.polyHash(substring(col("text"), 1, 64)).as("prefix_hash"))

  /** BM25 top-k retrieval ([[TextOps.bm25TopK]]) for a fixed query bag
    * over the corpus — the oracle replays idf, length normalization,
    * decimal per-term sums, and the rank tiebreak value-exactly. */
  def qBm25(s: SparkSession, dir: String): DataFrame =
    TextOps.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
      Bm25Terms, Bm25K)

  /** DSIR importance weights ([[TextOps.importanceWeights]]) with the
    * corpus's English slice as the target domain: every doc scored by
    * how target-like its hashed n-gram features are relative to the raw
    * corpus. The oracle replays both smoothed bucket models and the
    * decimal log-ratio sums value-exactly. */
  def qDsirWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextOps.importanceWeights(docs, docs.filter(col("lang") === "en"),
      "doc_id", "text", DsirBuckets)
  }

  /** Deterministic corpus shuffle + shard assignment
    * ([[Sharding.shuffleShard]]): every doc lands in one of 64 shards at
    * a hash-ordered position — the oracle replays the full assignment
    * (hash, shard, rank) value-exactly. */
  def qShuffleShard(s: SparkSession, dir: String): DataFrame =
    Sharding.shuffleShard(Tables.documents(s, dir), col("doc_id"),
      ShardN, ShardSeed)
      .select(col("doc_id"), col("shard"), col("pos"))

  /** Token-budget mix recipe ([[Sampling.tokenBudgetMix]]): per-source
    * token inventory, normalized weight, allocated budget, and epochs —
    * the arithmetic behind "30% web / 20% code at 1M tokens". */
  def qTokenBudget(s: SparkSession, dir: String): DataFrame =
    Sampling.tokenBudgetMix(Tables.documents(s, dir), col("source"),
      col("text"), MixWeights, MixDefaultW, MixBudget)

  /** Naive-Bayes language classifier ([[TextOps.nbClassify]]): trained on
    * the corpus's own labels, applied back to every doc — the oracle
    * replays the smoothed per-label models, decimal score sums, and the
    * argmax tiebreak value-exactly. */
  def qNbLangId(s: SparkSession, dir: String): DataFrame =
    TextOps.nbClassify(Tables.documents(s, dir), "doc_id", "text", "lang",
      DsirBuckets)

  /** Maximal repeated token spans ([[NearDup.repeatedSpans]]): exact
    * substring dedup at stride 1 over 8-token windows — the planted
    * duplicate groups in the corpus surface as whole-document spans,
    * boilerplate-sharing docs as partial ones. */
  def qRepeatedSpans(s: SparkSession, dir: String): DataFrame =
    NearDup.repeatedSpans(Tables.documents(s, dir), "doc_id", "text", SpanN)

  /** The excised corpus ([[NearDup.exciseSpans]]): q105's detected spans
    * carried through to the Lee et al. rewrite — duplicated text cut
    * everywhere but its canonical (min (doc, pos)) occurrence. */
  def qExciseSpans(s: SparkSession, dir: String): DataFrame =
    NearDup.exciseSpans(Tables.documents(s, dir), "doc_id", "text", SpanN)

  /** Winnowing fingerprint sets ([[NearDup.winnowFingerprintStats]]),
    * folded to one row per doc (count / min / split-sum of selected
    * hashes) for a compact verifiable result.
    *
    * The hash checksum is split into hi/lo halves so every projected
    * column stays int64-exact: the wide hashes are ≈2^61, so a plain
    * per-doc SUM(h) exceeds int64 at just four fingerprints, and while
    * both engines can carry it as DECIMAL(38,0), external checkers that
    * canonicalize through int64/float64 mangle the low bits. sum(h>>31)
    * ≤ 2^30·n and sum(h & (2^31−1)) ≤ 2^31·n — exact at any realistic
    * per-doc fingerprint count. */
  def qWinnowFp(s: SparkSession, dir: String): DataFrame =
    // per-doc stats folded IN-ROW over the selection array
    // (NearDup.winnowFingerprintStats, r15): same count/min/checksum
    // values as the old explode + groupBy, zero shuffle
    NearDup.winnowFingerprintStats(Tables.documents(s, dir), "doc_id",
      "text", WinnowK, WinnowW)

  /** MOSS-style overlap report ([[NearDup.winnowOverlap]]): doc pairs
    * sharing ≥ 2 non-boilerplate winnowed fingerprints — detects shared
    * PASSAGES (the partial-overlap case minhash jaccard dilutes), at
    * ~2/(w+1) of the shingle-stream cost. */
  def qWinnowOverlap(s: SparkSession, dir: String): DataFrame =
    NearDup.winnowOverlapSets(
      NearDup.winnowFingerprintSets(Tables.documents(s, dir), "doc_id",
        "text", WinnowK, WinnowW),
      "doc_id", FpMaxDf, FpMinShared)

  /** MinHash signatures (relational form), folded to one row per doc for
    * a compact verifiable result: sum and min of the 16 minhashes. The
    * per-doc signature is row-local state ([[NearDup.signatureColumn]],
    * spec-pinned bit-identical to the batch minhash aggregation), so the
    * fold happens IN-ROW — zero shuffle (r14, guide §2.4). Null-text
    * docs have no signature (element test, like lshBandsFromDocs). */
  def qMinhashSig(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        NearDup.signatureColumn(col("text"), ShingleN, NumHashes)
          .as("__sig"))
      .filter(element_at(col("__sig"), 1).isNotNull)
      .select(col("doc_id"),
        aggregate(col("__sig"), lit(0L), (acc, x) => acc + x)
          .as("sig_sum"),
        array_min(col("__sig")).as("sig_min"))

  /** LSH candidate pairs (shared (band, signature) buckets). */
  def qLshCandidates(s: SparkSession, dir: String): DataFrame =
    NearDup.candidatePairs(
      NearDup.lshBandsFromDocs(Tables.documents(s, dir), "doc_id", "text",
        ShingleN, NumHashes, RowsPerBand),
      "doc_id")

  /** LSH candidates verified with exact shingle Jaccard ≥ 0.3.
    *
    * Scale shape: the corpus-wide shingle stream flows ONCE through the
    * minhash→LSH cascade (never persisted — it is the widest intermediate
    * in the whole pipeline and would dominate cache memory at 100 TB).
    * Only the candidate PAIRS are persisted (tiny, bounded by bucket
    * collisions), and the exact-Jaccard verify tier re-derives shingles
    * from scratch for candidate docs only — the semi-join lands next to
    * the parquet scan, so the second pass reads a sliver of the corpus. */
  def qNearDupVerified(s: SparkSession, dir: String): DataFrame =
    verifiedNearDupPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        round(col("jaccard"), 6).as("jaccard"))

  /** The full LSH→verify cascade: candidate pairs from shared bands,
    * exact-Jaccard verified at ≥ 0.3 on candidate-restricted shingles.
    * Shared by q28 (pair output) and q57 (cluster output). */
  private def verifiedNearDupPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // persisted because jaccard references the pair set three times
    // (intersection build + two final joins) and the LSH cascade above
    // it must run once, not three times. Bands come from the IN-ROW
    // signature (lshBandsFromDocs) — no shingle-stream groupBy exchange
    val pairs = NearDup.candidatePairs(
      NearDup.lshBandsFromDocs(docs, "doc_id", "text", ShingleN,
        NumHashes, RowsPerBand), "doc_id")
      .select(col("doc_a"), col("doc_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.OpCache.renew("TextQueries.verifiedNearDupPairs", pairs)
    val pairDocs = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    // per-doc distinct sets in-row (NearDup.shingleSets): the verify
    // tier's old stream distinct() exchange and sizes aggregate are both
    // map-side projections now — r14 guide-§2.4 shuffle removal
    val candSets = NearDup.shingleSets(
      docs.join(pairDocs, Seq("doc_id"), "left_semi"),
      "doc_id", "text", ShingleN)
    NearDup.jaccardSets(pairs, candSets, "doc_id",
        restrictToPairDocs = false, dropZero = true)
      .filter(col("jaccard") >= 0.3)
  }

  /** Cross-source duplication leakage matrix: the verified near-dup
    * pairs (q28 tier) joined back to doc metadata and aggregated into a
    * source×source contingency — "which sources copy each other", the
    * diagnostic that decides whether a source is dropped or de-weighted
    * during corpus curation. Source pairs are orientation-normalized
    * (least/greatest) so A→B and B→A land in one cell; avg similarity
    * sums 6-rounded decimals (partitioning-invariant).
    *
    * Scale shape: the expensive tier is the LSH cascade q28 already
    * bounds; this adds two metadata joins ON THE PAIR SLIVER (each pair
    * row fetches its two sources) and a matrix-sized aggregate —
    * |sources|² upper bound, schema-sized. */
  def qDupSourceMatrix(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    verifiedNearDupPairs(s, dir)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 6).cast("decimal(18,6)").as("j"))
      .join(src.select(col("doc_id").as("doc_a"),
        col("source").as("src_a")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"),
        col("source").as("src_b")), Seq("doc_b"))
      .groupBy(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("j")).cast("double") / count(lit(1)), 6)
          .as("avg_jaccard"))
  }

  /** Consistent-shard occupancy + resize-movement report
    * ([[Sharding.consistentShard]], native `jump_hash`): every doc
    * assigned at n=64 and n=65; per-shard doc count, id checksum, and
    * how many residents would MOVE if one shard were added. Jump hash's
    * contract — the movement column sums to ~1/65 of the corpus and
    * every mover lands in the new shard (spec-pinned) — is what makes
    * resharding a standing 100 TB index increment-only; `pmod` would
    * relocate ~63/64 of all keys. */
  def qConsistentShard(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        Sharding.consistentShard(col("doc_id"), 64).as("s64"),
        Sharding.consistentShard(col("doc_id"), 65).as("s65"))
      .groupBy(col("s64").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(when(col("s65") =!= col("s64"), lit(1L)).otherwise(lit(0L)))
          .as("n_moved"))

  /** Per-source robust length profile ([[graft.ops.Stats.robustGroupStats]]):
    * mean vs 5%-trimmed mean vs exact median of n_chars — the
    * outlier-resistant source ranking (one huge doc moves a source's
    * mean, not its trimmed mean). Rank-based, decimal-accumulated,
    * value-exact on any engine/partitioning. */
  def qRobustStats(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.robustGroupStats(Tables.documents(s, dir),
      "source", "n_chars", "doc_id", trimDenom = 20)

  /** Cross-split contamination audit: verified near-dup pairs (q28 tier)
    * whose endpoints land in DIFFERENT q92 splits — the train→test
    * leakage a split-then-train pipeline must surface before the split
    * ships (a test doc near-duplicating a train doc inflates eval).
    * Membership is the same pure [[Sampling.sampleHash]] function as
    * q92, so the audit needs NO split table: it annotates the pair
    * sliver with two hash expressions — zero extra joins, zero extra
    * scans on top of the cascade q28 already bounds. Action side: drop
    * the eval-side doc of each row (doc ids are in the output). */
  def qSplitLeakage(s: SparkSession, dir: String): DataFrame = {
    def splitOf(c: Column) = {
      val h = Sampling.sampleHash(c, seed = 7)
      when(h < 800000, "train").when(h < 900000, "val").otherwise("test")
    }
    verifiedNearDupPairs(s, dir)
      .withColumn("split_a", splitOf(col("doc_a")))
      .withColumn("split_b", splitOf(col("doc_b")))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Transitive duplicate clusters over the verified near-dup pairs:
    * connected components ([[graft.ops.Components]]), cluster label = the
    * smallest doc id in the component. The pair tier (q28) is where LSH
    * keeps the cost sub-quadratic; this is the step that turns pairs into
    * the keep-one-per-cluster sets an actual corpus dedup needs — greedy
    * per-pair drops get chain cases wrong (pairs (1,3),(2,3) would keep
    * doc 2 though it duplicates cluster {1,2,3}). */
  def qDupClusters(s: SparkSession, dir: String): DataFrame = {
    val verified = verifiedNearDupPairs(s, dir)
      .select(col("doc_a"), col("doc_b"))
    val cc = graft.ops.Components
      .connectedComponents(verified, "doc_a", "doc_b")
    // cluster size as a count-over-partition window: one exchange on
    // component, instead of a grouped aggregate plus a join back (two
    // extra stage jobs for the same value — r14, guide §2.4)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
    cc.select(col("id").as("doc_id"), col("component").as("cluster_id"),
      count(lit(1)).over(w).as("cluster_size"))
  }

  /** Representative selection per duplicate cluster: keep the BEST doc
    * (longest, doc-id tiebreak) of each transitive near-dup cluster —
    * the curation policy that beats q57's keep-lowest-id when quality
    * varies inside a cluster (the canonical copy of a boilerplate family
    * is usually the longest). Adds one metadata join on the clustered
    * sliver + a per-cluster argmax window to the q57 cascade. */
  def qClusterReps(s: SparkSession, dir: String): DataFrame = {
    val verified = verifiedNearDupPairs(s, dir)
      .select(col("doc_a"), col("doc_b"))
    val cc = graft.ops.Components
      .connectedComponents(verified, "doc_a", "doc_b")
    val j = cc.join(
      Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
      cc("id") === col("doc_id"))
    // cluster size rides the SAME window exchange the argmax already
    // pays (count over the partition), replacing the grouped aggregate
    // + join back (r14, guide §2.4)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
    Dedup.firstRowPerGroupN(
        j.withColumn("cluster_size", count(lit(1)).over(w)),
        Seq(col("component")),
        Seq(col("n_chars").desc, col("doc_id").asc), 1)
      .select(col("component").as("cluster_id"),
        col("doc_id").as("rep_doc_id"), col("cluster_size"),
        col("n_chars").as("rep_n_chars"))
  }

  /** Gopher-style repetition metrics: fraction of all bigrams taken by
    * the most-frequent bigram, and distinct-bigram ratio — the standard
    * cheap repetition filters for LLM training corpora. Built on the
    * non-distinct 2-gram shingle stream; one groupBy cascade, map-side
    * combinable. */
  def qRepetition(s: SparkSession, dir: String): DataFrame = {
    val sh2 = NearDup.shingleRows(Tables.documents(s, dir), "doc_id", "text", 2)
    sh2.groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        round(max(col("c")).cast("double") / sum(col("c")).cast("double"), 6)
          .as("top_bigram_frac"),
        round(count(lit(1)).cast("double") / sum(col("c")).cast("double"), 6)
          .as("distinct_bigram_ratio"))
  }

  /** Deterministic stratified corpus sampling: language rebalancing via
    * [[graft.ops.Sampling.stratifiedHashSample]] — downsample dominant
    * 'en', keep 'zh' nearly whole, 50% elsewhere. Row membership is a pure
    * function of (doc_id, seed): stable across partitionings, retries and
    * reruns, which `df.sample`'s per-partition RNG is not. */
  def qStratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.stratifiedHashSample(
        Tables.documents(s, dir), col("doc_id"), col("lang"),
        Map("en" -> 0.25, "zh" -> 0.9), defaultFraction = 0.5, seed = 7)
      .select(col("doc_id"), col("lang"))

  /** Weighted sample without replacement (Efraimidis–Spirakis A-Res), 50
    * docs weighted by length — the oracle reproduces the exact two-hash
    * u-draw and ln(u)/w priority arithmetic, so membership is checked
    * value-for-value, not statistically. */
  def qWeightedSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.weightedSample(
        Tables.documents(s, dir), col("doc_id"), col("n_chars"),
        k = 50, seed = 7)
      .select(col("doc_id"), col("n_chars"))

  /** Rebalance-to-mix: solve per-language keep-fractions for a 50/25/25
    * en/zh/de target off one grouped count, then deterministic hash
    * sampling — the oracle re-solves the same fraction arithmetic in SQL
    * (identical IEEE op order) and must select the identical row set.
    * Weights are binary-exact doubles so the normalization sum is exact
    * on both engines. */
  def qRebalanceMix(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.rebalanceToMix(
        Tables.documents(s, dir), col("doc_id"), col("lang"),
        Map("en" -> 0.5, "zh" -> 0.25, "de" -> 0.25), seed = 7)._1
      .select(col("doc_id"), col("lang"))

  /** Benchmark decontamination: every 20th doc plays the eval set; the
    * rest is the training corpus. Reports each corpus doc sharing ≥1
    * 3-token shingle with any benchmark doc and its distinct shared-
    * shingle count — the corpus side is filtered by a broadcast semi
    * join, never shuffled ([[graft.ops.NearDup.contaminationReport]]). */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    NearDup.contaminationReport(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", n = 3)
      .select(col("doc_id"), col("n_shared_shingles"))
  }

  /** Markup stripping over a synthesized HTML wrapper (the corpus has no
    * natural markup; both engines build the identical payload from the
    * text column): tags and script content removed, entities decoded,
    * whitespace collapsed ([[TextOps.stripMarkup]]). */
  def qStripMarkup(s: SparkSession, dir: String): DataFrame = {
    val payload = concat(
      lit("<html><!-- ads > popups --><body  class=\"doc\"><h1>T</h1><p>"),
      substring(col("text"), 1, 80),
      lit(" &amp; more &lt;tail&gt;</p><script>var x = 1;</script>"),
      lit("</body></html>"))
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextOps.stripMarkup(payload).as("clean"),
      length(TextOps.stripMarkup(payload)).cast("long").as("n_clean"))
  }

  /** Upsample-to-mix: replicate de/zh toward a 50/25/25 en/zh/de target
    * ([[graft.ops.Sampling.upsampleToMix]]); the oracle re-derives the
    * replication factors and per-row copy counts with identical
    * arithmetic, so the exact multiset of (doc, copy_idx) rows must
    * match. */
  def qUpsampleMix(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.upsampleToMix(
        Tables.documents(s, dir), col("doc_id"), col("lang"),
        Map("en" -> 0.5, "zh" -> 0.25, "de" -> 0.25), seed = 7)._1
      .select(col("doc_id"), col("lang"), col("copy_idx"))

  /** Unigram LM quality score: per doc, mean log-probability of its
    * tokens under the corpus's own unigram distribution
    * ([[TextOps.unigramLogProbScore]]) — the perplexity-proxy filter of
    * corpus curation. */
  def qUnigramQuality(s: SparkSession, dir: String): DataFrame =
    TextOps.unigramLogProbScore(Tables.documents(s, dir), "doc_id", "text")

  /** Single definition of the q101 interpolation weight — the oracle
    * string-interpolates BOTH λ and 1−λ from it (the TopK/Shortlist
    * pattern), so Spark and DuckDB can never silently diverge on the
    * weights. */
  val BigramLambda = 0.75

  /** Interpolated bigram LM quality score
    * ([[TextOps.bigramLogProbScore]]) — the KenLM-style rung above the
    * unigram proxy. */
  def qBigramQuality(s: SparkSession, dir: String): DataFrame =
    TextOps.bigramLogProbScore(Tables.documents(s, dir), "doc_id", "text",
      BigramLambda)

  /** SimHash signature per doc (16-bit) + population count. */
  def qSimhash(s: SparkSession, dir: String): DataFrame =
    NearDup.simhashDocs(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("simhash"),
        bit_count(col("simhash")).cast("int").as("popcount"))

  /** Simhash near-pairs at Hamming ≤ 1 over 32-bit signatures, computed
    * with the pigeonhole-BLOCKED search (two 16-bit blocks → bucket-join
    * cost) while the oracle does the honest all-pairs cross join — the
    * compare proves the blocking loses no pair. 32 bits because the
    * synthetic corpus shares one small vocabulary: 16-bit signatures
    * saturate and "near" stops meaning anything. */
  def qSimhashPairs(s: SparkSession, dir: String): DataFrame =
    NearDup.simhashPairsBlocked(
        // signatures IN-ROW (NearDup.simhashDocs, r15): row/value-
        // identical to the batch aggregation, minus its token-explode
        // groupBy exchange — the block join is the only shuffle left
        NearDup.simhashDocs(Tables.documents(s, dir), "doc_id", "text",
          bits = 32),
        "doc_id", maxDist = 1, bits = 32)
      .select(col("doc_a"), col("doc_b"),
        col("hamming").cast("int").as("hamming"))

  /** Top-3 TF-IDF terms per document ([[TextOps.tfidfTopTerms]]) —
    * integer-rational scoring keeps the oracle compare bit-exact. */
  def qTfIdfTerms(s: SparkSession, dir: String): DataFrame =
    TextOps.tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text", 3)

  /** Incremental corpus append ([[graft.ops.CorpusPipeline.appendDocs]]),
    * oracle-gated end to end: docs ≥ 100 stand in for the standing
    * corpus, < 100 for the daily drop — the increment stays bounded
    * while the corpus scales with sf, which is the shape the operator
    * is designed for. The oracle re-derives the whole
    * path — quality gate, within-batch exact dedup, corpus content-hash
    * anti-join, LSH bands over corpus ∪ increment, and jaccard-verified
    * drops both against the corpus (existing doc wins) and within the
    * batch (smaller id wins) — so the daily-drop semantics are pinned
    * value-exactly, not just spec-sanity-checked. */
  def qIncrementalAppend(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.ops.CorpusPipeline.appendDocs(
        docs.filter(col("doc_id") >= 100),
        docs.filter(col("doc_id") < 100),
        graft.ops.CorpusPipeline.Config())
      .select(col("doc_id"), col("lang"))
  }

  /** Pack manifest ([[TextOps.packManifest]]): per-(doc, pack) token
    * slices over the q66 placement — the rows a pack writer consumes
    * directly, with boundary-straddling docs split into contiguous
    * pieces. */
  def qPackManifest(s: SparkSession, dir: String): DataFrame =
    TextOps.packManifest(Tables.documents(s, dir), "doc_id", "lang",
      "text", 8192)

  /** Deterministic sequence packing: assign each doc its start position
    * in a stream of fixed 8192-token training packs, per language shard
    * — pack_id and offset derive from a running token sum ordered by
    * doc_id, so the packing is reproducible and docs may straddle pack
    * boundaries (the split happens at materialization; this computes the
    * placement). Window partitioned by shard (lang) — one shuffle, no
    * global single-partition sort; at 100 TB the shard key is whatever
    * the corpus is already partitioned by. */
  def qPackSequences(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr("(cum - n_tokens) div 8192").as("pack_id"),
        expr("(cum - n_tokens) % 8192").as("offset_in_pack"))
  }

  /** Overlapping 64-token chunks at stride 48 ([[TextOps.chunkRows]]) —
    * per-chunk token counts and content hashes. */
  def qChunks(s: SparkSession, dir: String): DataFrame =
    TextOps.chunkRows(Tables.documents(s, dir), "doc_id", "text", 64, 48)

  /** Cross-document repeated passages: 32-token chunks at stride 16
    * whose content hash appears in more than one document — the
    * passage-level dedup / boilerplate-detection step (headers, footers,
    * license blocks) that doc-level near-dup misses. One per-row chunk
    * expansion, one hash aggregation; the shuffle carries (hash, doc)
    * pairs, never text. */
  def qBoilerplatePassages(s: SparkSession, dir: String): DataFrame =
    TextOps.chunkRows(Tables.documents(s, dir), "doc_id", "text", 32, 16)
      .filter(col("n_tokens") === 32) // full windows only: partial tail
                                      // windows alias their parent chunk
      .groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") > 1)

  /** Corpus heavy hitters: tokens at ≥2% of all token occurrences, found
    * by the two-pass Misra–Gries plan in [[Sketches.frequentItems]] —
    * pass 1 folds the corpus into one O(k) sketch (the shuffle carries a
    * bounded Map per partition), pass 2 recounts only the ≤k candidates.
    * Exact by construction, so the naive group-everything oracle matches. */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame =
    Sketches.frequentItems(
      Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("token")),
      "token", minFrac = 0.02, k = 64)
      .withColumnRenamed("item", "token")

  /** Corpus-wide top-20 bigrams (count desc, bigram asc tiebreak): the
    * n-gram statistics pass of corpus analysis. Bigram construction stays
    * codegen'd inside the row ([[TextOps.bigramStrings]]); the global
    * top-k is a TakeOrderedAndProject — per-partition heaps, no full
    * sort. */
  def qBigramTopK(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(TextOps.tokens(col("text")).as("t")) // split once per row
      .select(explode(TextOps.bigramsFromTokens(col("t"))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(20)

  /** Inverted-index posting stats: per token, document frequency, term
    * frequency, and the first-5-docs sample ([[TextOps.invertedPostings]]
    * bounds the sample before collecting — no unbounded posting arrays).
    * The sample is serialized to a comma-joined string so the result is
    * flat-hashable by any checker (array cells aren't). */
  def qPostings(s: SparkSession, dir: String): DataFrame =
    TextOps.invertedPostings(Tables.documents(s, dir), "doc_id", "text", 5)
      .withColumn("sample_docs",
        array_join(transform(col("sample_docs"), _.cast("string")), ","))

  /** Canonical text form per document: accent-fold (native expression) +
    * lowercase + whitespace collapse, reported as lengths + a prefix so
    * the oracle hashes the actual normalized bytes. */
  def qNormalize(s: SparkSession, dir: String): DataFrame = {
    val norm = TextOps.normalizeText(col("text"))
    Tables.documents(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_raw"),
      length(norm).cast("long").as("n_norm"),
      substring(norm, 1, 48).as("norm_prefix"))
  }

  /** PII redaction over a synthesized payload (events props + uid — the
    * test corpus has no natural emails/IPs; the spec covers those): pure
    * regexp_replace chain, codegen'd, no UDF. */
  def qRedact(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"),
      TextOps.redactPii(
        concat(col("props"), lit(" uid="), col("user_id")), minDigits = 2)
        .as("redacted"))

  /** Top collocations by PMI lift: bigram occurrence count vs the
    * independence expectation — lift = P(ab) / (P(a)·P(b)) expressed as
    * the exact rational c_ab·N_tok² / (c_a·c_b·N_big), evaluated in one
    * double expression (identical op order both engines, so no log and
    * no rounding slop before the final round). The standard phrase-mining
    * / tokenizer-vocab diagnostic over a corpus.
    *
    * Scale shape: two corpus scans (unigram agg, bigram agg — both
    * map-side combinable into vocab-sized frames), the support filter
    * (c_ab ≥ [[MinPairCount]]) prunes the bigram tail BEFORE the joins,
    * the unigram table joins twice (vocab-sized, broadcast-able; AQE
    * decides), totals are a 1-row cross join, and the final top-20 is
    * TakeOrderedAndProject — never a global sort. */
  def qPmiBigrams(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(TextOps.tokens(col("text")).as("tk"))
    val totals = toks.agg(
      sum(size(col("tk")).cast("long")).as("n_tok"),
      sum(greatest(size(col("tk")) - 1, lit(0)).cast("long")).as("n_big"))
    val uni = toks.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val bi = toks
      .select(explode(TextOps.bigramsFromTokens(col("tk"))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= MinPairCount)
    bi
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
      .join(uni.select(col("w").as("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("bigram"), col("c_ab").as("n"),
        round(col("c_ab").cast("double") * col("n_tok") * col("n_tok")
          / (col("c_a").cast("double") * col("c_b") * col("n_big")), 6)
          .as("lift"))
      .orderBy(col("lift").desc, col("bigram").asc)
      .limit(20)
  }

  /** Curriculum quartile assignment: exact length quartile boundaries
    * (one aggregate), then each doc bucketed 0–3 by boundary comparisons
    * — the "order training easy→hard" primitive; downstream packing
    * consumes buckets in sequence. Exact `percentile` keeps
    * distinct-value-bounded aggregation state (a value→count map, merged
    * map-side), which is the right tier for an integer-ish key like doc
    * length; a truly continuous key at 100 TB switches to
    * approx_percentile, same query shape. Boundaries broadcast; the
    * bucketing pass is one scan, no shuffle. */
  def qCurriculum(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    val bounds = docs.agg(
      percentile(col("n_chars"), lit(0.25)).as("b1"),
      percentile(col("n_chars"), lit(0.5)).as("b2"),
      percentile(col("n_chars"), lit(0.75)).as("b3"))
    docs.crossJoin(broadcast(bounds))
      .select(col("doc_id"), col("n_chars"),
        ((col("n_chars") > col("b1")).cast("int")
          + (col("n_chars") > col("b2")).cast("int")
          + (col("n_chars") > col("b3")).cast("int")).as("bucket"))
  }

  /** Per-source contribution cap: keep at most [[SourceCap]] docs per
    * source, best-first (longest, doc-id tiebreak) — the "no single
    * domain dominates the corpus" curation rule. A per-source window
    * ranks within each source partition (scales with the largest single
    * source, not the corpus; a pathologically dominant source is exactly
    * what the cap exists to bound, and [[graft.ops.Skew]] salting covers
    * the interim). */
  def qSourceCap(s: SparkSession, dir: String): DataFrame =
    Dedup.firstRowPerGroupN(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars")),
      Seq(col("source")), Seq(col("n_chars").desc, col("doc_id").asc),
      SourceCap)
      .select(col("doc_id"), col("source"), col("__rn").as("rk"))

  /** Length-bucketed batching report: each doc assigned to the smallest
    * power-of-two token-length bucket that fits it (the padding-
    * minimization trick of sequence batching), per-bucket doc counts,
    * token mass, and padding waste (padded slots that carry no tokens).
    * The bucket dimension is a 13-row static table joined as the MIN
    * qualifying bucket — a broadcast range join both engines express
    * identically, no log2 edge cases. Docs longer than the largest
    * bucket land in it (truncation is the packing stage's business). */
  def qLengthBuckets(s: SparkSession, dir: String): DataFrame = {
    val buckets = (0 to 12).map(1 << _) // 1 .. 4096
    val dim = s.createDataFrame(buckets.map(Tuple1(_)))
      .toDF("bucket")
    val maxB = buckets.last
    // length histogram first (map-side combinable, ≤ max-doc-length rows)
    // so the bucket range-join touches the histogram, never the corpus
    val lens = Tables.documents(s, dir)
      .select(TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
      .filter(col("n_tok") >= 1)
      .groupBy(col("n_tok")).agg(count(lit(1)).as("n_docs"))
    lens
      .join(broadcast(dim), col("n_tok") <= col("bucket") ||
        col("bucket") === maxB && col("n_tok") > maxB)
      .groupBy(col("n_tok"), col("n_docs"))
      .agg(min(col("bucket")).as("bucket"))
      .withColumn("eff_bucket", greatest(col("bucket").cast("long"),
        col("n_tok"))) // oversize docs pad nothing, they truncate later
      .groupBy(col("bucket"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tok") * col("n_docs")).as("n_tokens"),
        sum(col("eff_bucket") * col("n_docs")).as("slots"))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        round((col("slots") - col("n_tokens")).cast("double")
          / col("slots"), 6).as("padding_frac"))
  }

  /** Vocabulary coverage curve: what fraction of total token mass the
    * top-k types cover, at k = 1, 2, 4, …, 1024 — the corpus diagnostic
    * behind tokenizer-vocab sizing and stopword lists. Scale shape: one
    * vocab-sized count aggregate, a TakeOrderedAndProject for the
    * top-1024, and the running sum windows over those 1024 rows only
    * (driver-scale — never a corpus- or vocab-wide global window). */
  def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val types = Tables.documents(s, dir)
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val total = types.agg(sum(col("c")).as("tot"))
    val topk = types.orderBy(col("c").desc, col("w").asc).limit(1024)
    val w = Window.orderBy(col("c").desc, col("w").asc)
    topk
      .withColumn("k", row_number().over(w))
      .withColumn("mass", sum(col("c")).over(w))
      .filter((col("k").bitwiseAND(col("k") - 1)) === 0)
      .crossJoin(broadcast(total))
      .select(col("k"), col("mass"),
        round(col("mass").cast("double") / col("tot"), 6).as("mass_frac"))
  }

  /** Language-ID confusion matrix: the q110 naive-Bayes predictions
    * against the declared lang column — per-(lang, pred) counts and
    * per-lang shares, the eval that decides whether a classifier is fit
    * to route curation. Matrix is |langs|²-bounded (schema-sized); the
    * cost is the classifier itself ([[TextOps.nbClassify]], two corpus
    * passes). */
  def qLangConfusion(s: SparkSession, dir: String): DataFrame = {
    val pred = TextOps.nbClassify(Tables.documents(s, dir), "doc_id",
      "text", "lang", DsirBuckets)
    val cells = pred.groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n"))
    // per-lang totals as a window over the CELLS frame (|langs|² rows,
    // schema-sized), not a groupBy + broadcast join: the join spelling
    // planned the whole nbClassify scoring cascade as TWO subtrees
    // (cells + tot), and sum-over-partition on the tiny matrix is one
    // exchange with no second cascade (r15, guide §2.4/§1.2).
    // tot = Σ n over the lang partition — value-identical to the join.
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
    cells
      .select(col("lang"), col("pred"), col("n"),
        round(col("n").cast("double") / sum(col("n")).over(wl), 6)
          .as("frac"))
  }

  /** Exact n-gram Jaccard over a bounded id-window of pairs (adjacent ids,
    * distance ≤ 3) — the oracle-checkable exact tier; the LSH tier above is
    * the scale path. */
  def qNgramJaccardWindow(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // direct-intersection formulation: each deduped (doc, h) row explodes
    // to its ≤3 in-window predecessors and joins the shingle set on
    // (doc_a, h) — the join OUTPUT is the intersection, so the widest
    // intermediate is 3·|shingle set|, versus |pairs|·|shingles-per-doc|
    // when pre-built pairs pick up whole shingle sets per pair. Pairs
    // with an empty intersection never materialize, which matches the
    // jaccard > 0 output contract. (The LSH-verify tier q28 keeps
    // pair-restricted NearDup.jaccard — there candidates ≪ corpus.)
    // set semantics established IN-ROW (array_distinct inside
    // NearDup.shingleSets): removes the corpus-wide distinct() exchange
    // and turns per-doc sizes into a map-side projection (r14, §2.4)
    val sets = NearDup.shingleSets(docs, "doc_id", "text", ShingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.OpCache.renew("TextQueries.qNgramJaccardWindow", sets)
    val shx = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    val sizes = sets.select(col("doc_id"), size(col("hs")).cast("long").as("sz"))
    val inter = shx.select(col("doc_id").as("doc_b"), col("h"))
      .withColumn("doc_a",
        explode(array((1 to 3).map(d => col("doc_b") - d): _*)))
      .join(shx.select(col("doc_id").as("doc_a"), col("h")),
        Seq("doc_a", "h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Per-language vocabulary-size estimate via the KMV bottom-k sketch
    * ([[Sketches.kmvDistinct]]), plus an ALL row over the union — the
    * one-pass O(k)-state alternative to q44's exact COUNT(DISTINCT) tier
    * whose estimate (unlike approx_count_distinct's HLL) is
    * deterministic and oracle-checkable: bottom-k of a hash set is
    * partition-invariant. */
  def qKmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val h = Tables.documents(s, dir)
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
      .select(col("lang"), TextOps.polyHash(col("tok")).as("h"))
    Sketches.kmvDistinct(h, "lang", col("h"), KmvK)
      .unionByName(Sketches.kmvDistinct(
        h.withColumn("lang", lit("ALL")), "lang", col("h"), KmvK))
  }

  /** Temperature-scaled (T=2) sampling budget across languages with
    * exact largest-remainder apportionment
    * ([[Sampling.temperatureMix]]) — the multilingual mix step. */
  def qTemperatureMix(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMix(Tables.documents(s, dir), col("lang"),
      MixTotal)

  /** Asymmetric containment near-dup tier ([[NearDup.containment]]):
    * LSH candidates scored by |A∩B|/|A| and /|B| — catches a short doc
    * swallowed whole by a long one, which the symmetric q28 Jaccard
    * threshold misses. Same single-cascade shape as q28: candidates are
    * persisted, shingles re-derived only for candidate docs. */
  def qContainment(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = NearDup.candidatePairs(
      NearDup.lshBandsFromDocs(docs, "doc_id", "text", ShingleN,
        NumHashes, RowsPerBand), "doc_id")
      .select(col("doc_a"), col("doc_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.OpCache.renew("TextQueries.qContainment", pairs)
    val pairDocs = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val candSets = NearDup.shingleSets(
      docs.join(pairDocs, Seq("doc_id"), "left_semi"),
      "doc_id", "text", ShingleN)
    NearDup.containmentSets(pairs, candSets, "doc_id",
        restrictToPairDocs = false, dropZero = true)
      .filter(greatest(col("cont_a"), col("cont_b")) >= ContainmentMin)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("sz_a"), col("sz_b"),
        round(col("cont_a"), 6).as("cont_a"),
        round(col("cont_b"), 6).as("cont_b"))
  }

  /** Prefix dedup ([[Dedup.prefixDedup]]): group docs by their first-8-
    * token prefix hash — the cheap pre-LSH dedup tier (template pages,
    * truncated re-crawls). Per-doc group stats + keep flag. */
  def qPrefixDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixDedup(Tables.documents(s, dir), "doc_id", "text",
        PrefixTokens)
      .select(col("doc_id"), col("prefix_hash"), col("group_n"),
        col("rep"), col("is_kept"))

  /** q264: paragraph-level exact dedup ([[Dedup.paragraphDedup]]) — the
    * C4/CCNet/Dolma stage doc-level dedup cannot express (boilerplate
    * paragraphs repeating across distinct pages). The flat synthetic
    * corpus has no paragraph breaks, so the query first paragraphizes
    * each doc into [[ParagraphTokens]]-token chunks (the ~40-word
    * vocabulary makes 3-token chunks repeat heavily across docs — real
    * dedup action, deterministic); each distinct paragraph survives only
    * at its corpus-minimal (doc, position) and docs reassemble in
    * original order. */
  def qParagraphDedup(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.paragraphDedup(paragraphized(s, dir), "doc_id", "text")

  /** q265: the HASH-KEYED paragraph dedup ([[Dedup.paragraphDedupHashed]],
    * dedup shuffles carry two xxhash64 values instead of the paragraph
    * string — the 100 TB spelling) gated against the SAME exact-string
    * oracle as q264: the oracle never hashes, so a pass proves the hashed
    * plan is output-identical to exact semantics on this corpus. */
  def qParagraphDedupHashed(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.paragraphDedupHashed(paragraphized(s, dir), "doc_id",
      "text")

  private def paragraphized(s: SparkSession, dir: String): DataFrame = {
    val P = ParagraphTokens
    val tk = graft.ops.TextOps.tokens(col("text"))
    Tables.documents(s, dir).select(col("doc_id"),
      when(size(tk) === 0, lit("")).otherwise(
        array_join(transform(
          sequence(lit(0), floor((size(tk) - 1) / lit(P)).cast("int")),
          i => array_join(slice(tk, i * P + 1, lit(P)), " ")), "\n\n"))
        .as("text"))
  }

  /** The q266/q267 training frame: label = "is this doc long"
    * (≥ [[TrainLabelTokens]] tokens — the one signal this synthetic
    * corpus' text genuinely carries; its lang column is independent of
    * the text, so a language label would be unlearnable), features =
    * stopword ratio (≈ noise here — the trainer measurably down-weights
    * it), chars-per-token scaled to O(1), and tokens/100 (the carrier).
    */
  private def trainFrame(s: SparkSession, dir: String): DataFrame = {
    val q = TextOps.qualityFeatures(col("text"))
    Tables.documents(s, dir).select(col("doc_id"),
      when(q.getField("n_tokens") >= TrainLabelTokens, lit(1.0))
        .otherwise(lit(0.0)).as("y"),
      q.getField("stopword_ratio").as("x1"),
      (q.getField("chars_per_token") / 10).as("x2"),
      (q.getField("n_tokens") / lit(100.0)).as("x3"))
  }

  private def trainedModel(s: SparkSession, dir: String) =
    graft.ops.Classifier.logisticTrain(trainFrame(s, dir),
      Seq(col("x1"), col("x2"), col("x3")), col("y"), TrainRounds, TrainLr)

  /** q266: quality-classifier TRAINING ([[graft.ops.Classifier]]) — the
    * CCNet/GPT-3-style "train the filter" step as [[TrainRounds]]
    * full-batch GD rounds on logistic loss with the rational sigmoid
    * (pure arithmetic — no libm) and decimal-exact gradient sums. The
    * oracle re-derives the SAME weights from the corpus by unrolling the
    * rounds as static CTEs (the BPE-trainer pattern), so the gate proves
    * the whole training chain cross-engine, not just the readout. */
  def qQualityTrainer(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = trainedModel(s, dir)
    Seq(("bias", m.bias), ("stopword_ratio", m.weights(0)),
      ("chars_per_token_10", m.weights(1)), ("tokens_100", m.weights(2)))
      .toDF("feature", "weight")
      .select(col("feature"), round(col("weight"), 6).as("weight"))
  }

  /** q267: corpus scoring under the q266-trained model — the scan-side
    * apply step (zero shuffle beyond the scan): per-doc σ̂(b + w·x) and
    * the keep decision at the 0.5 boundary. */
  def qQualityScores(s: SparkSession, dir: String): DataFrame = {
    val m = trainedModel(s, dir)
    val f = trainFrame(s, dir)
    val sc = graft.ops.Classifier.logisticScore(m,
      Seq(col("x1"), col("x2"), col("x3")))
    f.select(col("doc_id"), round(sc, 6).as("quality_score"),
      (sc >= 0.5).as("keep"), (col("y") === 1.0).as("is_long"))
  }

  /** Per-source CDF normalization of a quality signal (stopword ratio):
    * percent_rank within source, so a downstream "keep the best X%"
    * threshold is source-relative — raw quality scores are not
    * comparable across crawls/registers. One shuffle on the source key. */
  def qQualityCdf(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("sr"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        TextOps.qualityFeatures(col("text")).getField("stopword_ratio")
          .as("sr"))
      .select(col("doc_id"), col("source"),
        round(col("sr"), 6).as("stopword_ratio"),
        round(percent_rank().over(w), 6).as("cdf"))
  }

  /** Relational BPE merge training ([[graft.ops.Bpe]]): the first 8
    * learned merges over the corpus vocabulary. Spec-gated (BpeSpec
    * pins the classic fixture's exact merge sequence); no SQL oracle —
    * the training loop is iterative argmax, not a single query. */
  def qBpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.ops.Bpe.learnedMerges(Tables.documents(s, dir), "text",
      BpeMerges)

  /** Tokenizer encode step ([[graft.ops.Bpe.encode]]): per-doc subword
    * counts + fertility under the corpus-trained merges — the readout
    * that tells you whether the vocabulary fits the corpus. Spec-gated
    * like q134 (the merges come from the iterative trainer). */
  def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val merges = graft.ops.Bpe.train(docs, "text", BpeMerges)
    graft.ops.Bpe.encode(docs, "doc_id", "text", merges)
      .withColumn("fertility",
        round(col("n_subwords").cast("double") / col("n_words"), 6))
  }

  /** Corpus snapshot diff ([[graft.ops.Diff.snapshotDiff]]): classify
    * every doc across two synthetic corpus versions (a 50-doc head drop,
    * a 50-doc tail add, every 7th surviving doc edited) as added /
    * removed / changed / unchanged — the CDC primitive an incremental
    * 100 TB load runs instead of truncate-reload. Payloads never cross
    * the shuffle: both sides project to (key, 8-byte digest) first. */
  def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val (oldV, newV) = diffVersions(s, dir)
    graft.ops.Diff.snapshotDiff(oldV, newV, Seq("doc_id"), Seq("text"))
  }

  /** [[graft.ops.Diff.diffSummary]] over the same versions: per-status
    * counts, the gate an incremental loader checks before committing. */
  def qDiffSummary(s: SparkSession, dir: String): DataFrame = {
    val (oldV, newV) = diffVersions(s, dir)
    graft.ops.Diff.diffSummary(oldV, newV, Seq("doc_id"), Seq("text"))
  }

  /** Two deterministic corpus "versions" derived from the one documents
    * table (shared by q138/q139). */
  private def diffVersions(s: SparkSession,
                           dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir)
    val oldV = docs.filter(col("doc_id") < 450).select("doc_id", "text")
    val newV = docs.filter(col("doc_id") >= 50)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(" EDITED")))
          .otherwise(col("text")).as("text"))
    (oldV, newV)
  }

  /** Triangles in the verified near-dup graph: three docs pairwise
    * near-duplicate — the transitivity evidence that justifies treating
    * components (q57) as dup CLUSTERS rather than chains. Pairs carry
    * doc_a < doc_b, so each triangle (v1<v2<v3) enumerates exactly once;
    * the triple self-join runs on the persisted pair sliver (25 rows at
    * sf0.01), never the corpus. */
  def qDupTriangles(s: SparkSession, dir: String): DataFrame = {
    val p = verifiedNearDupPairs(s, dir).select(col("doc_a"), col("doc_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.as("ab")
      .join(p.as("bc"), col("bc.doc_a") === col("ab.doc_b"))
      .join(p.as("ac"), col("ac.doc_a") === col("ab.doc_a") &&
        col("ac.doc_b") === col("bc.doc_b"))
      .select(col("ab.doc_a").as("v1"), col("ab.doc_b").as("v2"),
        col("bc.doc_b").as("v3"))
  }

  /** Scan-side phrase search: exact adjacent-token match counted inside
    * a per-row array fold — the positional-postings question ("docs
    * containing the phrase") answered with ZERO shuffle and no postings
    * join, because adjacency within a row needs no cross-row state. The
    * q71 postings list remains the multi-term / cross-doc tier. */
  def qPhraseSearch(s: SparkSession, dir: String): DataFrame = {
    val tk = TextOps.tokens(col("text"))
    val hits = aggregate(
      zip_with(slice(tk, lit(1), size(tk) - 1),
        slice(tk, lit(2), size(tk) - 1),
        (a, b) => (a === lit(PhraseA) && b === lit(PhraseB))
          .cast("int")),
      lit(0), (acc, x) => acc + x)
    Tables.documents(s, dir)
      .select(col("doc_id"), hits.as("n_hits"))
      .filter(col("n_hits") > 0)
  }

  /** Fractional contamination score: per corpus doc, the share of its
    * distinct 3-gram spans that appear anywhere in the benchmark slice —
    * q96's binary gate refined into the ranked readout ("how
    * contaminated", for threshold sweeps). Benchmark shingle set is the
    * tiny side; the per-doc denominator rides the same distinct shingle
    * stream the semi-join probes. Matches are text-verified like
    * [[NearDup.contaminationReport]]'s (the numerator feeds removal
    * decisions; a poly-hash birthday collision must not inflate it);
    * the denominator stays the doc's own distinct-hash span count —
    * within one doc's ~dozens of spans a collision is ~10⁻⁷. */
  def qContaminationFrac(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val shC = NearDup.shingleTextRows(
        docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text", ShingleN)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shB = NearDup.shingleTextRows(
        docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", ShingleN)
      .select(col("h"), col("__st")).distinct()
    val sizes = shC.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
    val matched = shC.join(shB, Seq("h", "__st"), "left_semi")
      .select(col("doc_id"), col("h")).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matched"))
    sizes.join(matched, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_matched"))
      .select(col("doc_id"), col("n_spans"), col("n_matched"),
        round(col("n_matched").cast("double") /
          col("n_spans").cast("double"), 6).as("frac"))
  }

  /** Leakage-free train/val/test split: every doc of a near-dup CLUSTER
    * splits by its cluster id (the component label), singletons by their
    * own id — so a verified near-dup pair can never straddle splits,
    * which is exactly the defect q125's audit measures. Same hash family
    * and 80/10/10 thresholds as q92; the only extra cost over q92 is the
    * q57 cascade, and membership stays a pure function of (key, seed) —
    * re-derivable, partitioning-invariant. */
  def qGroupedSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cc = graft.ops.Components.connectedComponents(
      verifiedNearDupPairs(s, dir).select(col("doc_a"), col("doc_b")),
      "doc_a", "doc_b")
    val keyed = docs.select(col("doc_id"))
      .join(cc, docs("doc_id") === cc("id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("split_key"))
    val hv = Sampling.sampleHash(col("split_key"), seed = 7L)
    keyed.select(col("doc_id"), col("split_key"),
      when(hv < 800000, "train").when(hv < 900000, "val")
        .otherwise("test").as("split"))
  }

  /** Distribution-drift monitor ([[graft.ops.Stats.distributionDrift]])
    * between the q138 corpus versions, on text length: per-decile
    * counts/shares and total-variation contributions, deciles anchored
    * to the old version's exact quantiles. */
  def qDistDrift(s: SparkSession, dir: String): DataFrame = {
    val (oldV, newV) = diffVersions(s, dir)
    graft.ops.Stats.distributionDrift(
      oldV.select(length(col("text")).as("v")),
      newV.select(length(col("text")).as("v")), "v", buckets = 10)
  }

  /** Uniform negative partners ([[Sampling.negativePairs]]): seed 11,
    * 16 shards over the documents table. */
  def qNegativePairs(s: SparkSession, dir: String): DataFrame =
    Sampling.negativePairs(Tables.documents(s, dir), col("doc_id"),
      seed = 11L, nShards = 16)

  /** Rule-bundle quality filter (the Gopher/C4-style boolean gate):
    * per-doc rule flags + the conjunction, every rule a scan-side
    * expression over the token array — zero shuffle, the shape a
    * 100 TB first-pass filter must have. Thresholds sit inside the
    * corpus' observed range so the flags actually split it. */
  def qFilterRules(s: SparkSession, dir: String): DataFrame = {
    val f = TextOps.qualityFeatures(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        f.getField("n_tokens").as("nt"),
        f.getField("chars_per_token").as("cpt"),
        f.getField("punct_ratio").as("pr"),
        array_max(transform(TextOps.tokens(col("text")),
          x => length(x))).as("mt"))
      .select(col("doc_id"),
        (col("nt") >= 30).as("r_len"),
        (col("cpt") <= 6.0).as("r_wordlen"),
        (col("pr") <= 0.2).as("r_punct"),
        (col("mt") <= 6).as("r_maxtok"))
      .withColumn("pass",
        col("r_len") && col("r_wordlen") && col("r_punct") &&
          col("r_maxtok"))
  }

  /** q158: per-source AUC of the stopword-ratio quality signal ranking
    * lang='en' — grading a curation score as a classifier
    * ([[graft.ops.Eval.rankAuc]]; tie-aware Mann–Whitney, integer rank
    * arithmetic, no global row sort). The corpus' vocabulary is shared
    * across langs by construction, so the honest readout is ≈0.5 —
    * the operator's exactness, not the signal's strength, is what's
    * gated. */
  def qAuc(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir).select(col("source"),
      TextOps.wordSetRatio(TextOps.tokens(col("text")), TextOps.Stopwords)
        .as("score"),
      when(col("lang") === "en", 1).otherwise(0).as("y"))
    graft.ops.Eval.rankAuc(scored, "source", "score", "y")
      .select(col("source"), col("n_pos"), col("n_neg"), col("u2"),
        col("auc"))
  }

  /** q159: reliability-diagram bins of the stopword-ratio signal against
    * lang='en' ([[graft.ops.Eval.calibrationBins]], 10 equal-width bins,
    * decimal-exact mean accumulation). */
  def qCalibration(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir).select(
      TextOps.wordSetRatio(TextOps.tokens(col("text")), TextOps.Stopwords)
        .as("score"),
      when(col("lang") === "en", 1).otherwise(0).as("y"))
    graft.ops.Eval.calibrationBins(scored, "score", "y", 10)
  }

  /** q161: PageRank over the duplication-provenance graph — verified
    * near-dup pairs (q28's cascade, ≥0.3) as DIRECTED edges newer-doc →
    * older-doc ("copied from"), so rank accumulates on the canonical
    * sources copies point at. Originals have no out-edges, which makes
    * the dangling-mass machinery live, not decorative. Scaled-integer
    * fixpoint ([[graft.ops.Graph.pageRankScaled]]); output is the exact
    * BIGINT rank. */
  def qPageRank(s: SparkSession, dir: String): DataFrame = {
    val edges = verifiedNearDupPairs(s, dir)
      // doc ids are assigned in generation order: doc_b (larger id) is
      // the later copy, edge points back at its source doc_a
      .select(col("doc_b").as("src"), col("doc_a").as("dst"))
    graft.ops.Graph.pageRankScaled(edges, "src", "dst", iters = 8)
      .select(col("id").as("doc_id"), col("rank_scaled"))
  }

  /** q162 shingle width — 5, NOT the LSH tier's 3: an exact join's
    * candidate volume is Σ_h C(df_h, 2) over prefix shingles, so the
    * width must be chosen to make RANDOM shingle collisions rare (the
    * corpus' 3-shingle space is saturated: df≈7.5 → ~450k candidates
    * for ~250 true pairs at sf0.1, 8 s; at width 5 the space is ~40⁵
    * and candidates ≈ true pairs). Same reasoning as the width-8
    * decontamination n-grams; the first-order knob of every exact
    * similarity join. */
  val SetSimN = 5

  /** q162: exact Jaccard-threshold self-join via prefix filtering
    * ([[NearDup.setSimJoin]]) — the zero-false-negative dedup tier; the
    * DuckDB oracle computes the UNFILTERED all-pairs join, so the
    * compare proves the prefix filter is lossless, which is the entire
    * point of the algorithm. */
  def qSetSimJoin(s: SparkSession, dir: String): DataFrame =
    NearDup.setSimJoin(Tables.documents(s, dir), "doc_id", "text",
        SetSimN, threshold = 0.5)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        round(col("jaccard"), 6).as("jaccard"))

  /** q163: sorted-neighborhood blocking over (lang, n_chars) — the
    * ordering-based ER candidate tier ([[NearDup.sortedNeighborhood]],
    * w=3): size-adjacent same-language docs become candidate pairs
    * without any content scan. */
  def qSortedBlocks(s: SparkSession, dir: String): DataFrame =
    NearDup.sortedNeighborhood(Tables.documents(s, dir),
        "doc_id", "lang", "n_chars", w = 3)
      .select(col("id_a"), col("id_b"), col("block"), col("sort_gap"))

  /** q164: skip-gram co-occurrence top-30 (window 2, symmetric counts) —
    * the word2vec training-pair stream. Pair generation is one scan-side
    * nested array transform ([[TextOps.skipgramPairsFromTokens]]); the
    * only exchange is the pair-vocabulary count aggregation. */
  def qSkipgrams(s: SparkSession, dir: String): DataFrame = {
    val fwd = Tables.documents(s, dir)
      .select(TextOps.tokens(col("text")).as("tk"))
      .select(explode(TextOps.skipgramPairsFromTokens(col("tk"), 2))
        .as("p"))
    // symmetric-context convention: count (a,b) and (b,a)
    val both = fwd.select(col("p.a").as("center"), col("p.b").as("context"))
      .unionByName(
        fwd.select(col("p.b").as("center"), col("p.a").as("context")))
    both.groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("center").asc, col("context").asc)
      .limit(30)
  }

  /** q166: Cohen's kappa between the declared lang column and the q24
    * marker-vote heuristic ([[graft.ops.Eval.cohenKappa]]) — the
    * chance-corrected version of q118's raw confusion counts. The
    * corpus' langs share one vocabulary, so kappa ≈ 0 is the honest
    * readout; the gate is the exact contingency arithmetic. */
  def qKappa(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.cohenKappa(
      Tables.documents(s, dir).select(col("lang").as("a"),
        TextOps.langGuess(col("text")).as("b")), "a", "b")

  /** q167: NDCG@10 of the q107 BM25 ranking against graded relevance =
    * number of DISTINCT query terms present ([[graft.ops.Eval.ndcgAtK]];
    * bit-shift gains, Scala-evaluated literal discounts, decimal sums).
    * The ideal ranking draws from the whole corpus' grades, so a BM25
    * top-10 stuffed with grade-3 docs scores 1.0 only if grade-3 docs
    * can actually fill 10 slots. */
  def qNdcg(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // relevance labels ride the ONE persisted bm25 projection (r15):
    // size(array_distinct(__hits)) ≡ the old array_intersect over a
    // second corpus tokenize pass — same distinct matched-term set
    val proj = TextOps.bm25Projection(docs, "doc_id", "text", Bm25Terms)
    val rel = proj.select(col("doc_id"),
      size(array_distinct(col("__hits"))).as("rel"))
    val ranked = TextOps.bm25TopKFromProjection(proj, "doc_id", Bm25K)
      .join(rel, "doc_id")
    graft.ops.Eval.ndcgAtK(ranked, "rank", "rel", rel.select(col("rel")),
      Bm25K)
  }

  /** q168's scored fields, shared with the oracle builder so the m/u →
    * log-weight conversion happens exactly once (the SQL interpolates
    * [[graft.ops.Linkage.Field.wAgree]]/[[graft.ops.Linkage.Field.wDisagree]]
    * as literals). */
  def erFields: Seq[graft.ops.Linkage.Field] = Seq(
    graft.ops.Linkage.Field("source",
      col("src_a") === col("src_b"), m = 0.85, u = 0.05),
    graft.ops.Linkage.Field("size",
      abs(col("sort_gap")) <= 10, m = 0.9, u = 0.2),
    graft.ops.Linkage.Field("prefix",
      col("tok1_a") === col("tok1_b"), m = 0.6, u = 0.02))
  val ErUpper = 4.0
  val ErLower = 0.0

  /** q168: Fellegi–Sunter match weights over the q163 sorted-
    * neighborhood candidates ([[graft.ops.Linkage.fellegiSunter]]):
    * agreement on source, size proximity, and first-token equality,
    * scored with literal log-odds. Blocking bounds the pair count; the
    * scorer is pure per-row expressions on the candidate sliver. */
  def qErScores(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cand = NearDup.sortedNeighborhood(docs, "doc_id", "lang",
      "n_chars", w = 3)
    val meta = docs.select(col("doc_id"), col("source"),
      // get(), not element_at(): ANSI mode errors on out-of-bounds
      // element_at, and empty docs have empty token arrays
      get(TextOps.tokens(col("text")), lit(0)).as("tok1"))
    val pairs = cand
      .join(meta.select(col("doc_id").as("id_a"),
        col("source").as("src_a"), col("tok1").as("tok1_a")), "id_a")
      .join(meta.select(col("doc_id").as("id_b"),
        col("source").as("src_b"), col("tok1").as("tok1_b")), "id_b")
    graft.ops.Linkage.fellegiSunter(pairs, erFields, ErUpper, ErLower)
      .select(col("id_a"), col("id_b"), col("block"),
        col("w_source"), col("w_size"), col("w_prefix"),
        col("match_weight"), col("decision"))
  }

  /** q169 RBO top-weighting. */
  val RboP = 0.9

  /** q169: rank-biased overlap between the q107 BM25 top-10 and the
    * naive raw-term-count ranking of the same query
    * ([[graft.ops.Eval.rboAtK]]) — "does length normalization + IDF
    * actually change what the user sees", the standard A/B readout for
    * swapping retrieval scorers. One equi-join of two k-row lists + a
    * literal tail-weight lookup; the closed-form reshuffle means no
    * per-depth recount. */
  def qRbo(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // both rankings read the ONE persisted bm25 projection (r15): the
    // naive side's count_in(tokens, terms) ≡ size(__hits) — the old
    // spelling re-tokenized the corpus a second time
    val proj = TextOps.bm25Projection(docs, "doc_id", "text", Bm25Terms)
    val bm25 = TextOps.bm25TopKFromProjection(proj, "doc_id", Bm25K)
      .select(col("doc_id"), col("rank"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("doc_id").asc)
    val naive = proj
      .select(col("doc_id"), size(col("__hits")).as("n"))
      .orderBy(col("n").desc, col("doc_id").asc).limit(Bm25K)
      .withColumn("rank", row_number().over(w))
      .select(col("doc_id"), col("rank"))
    graft.ops.Eval.rboAtK(bm25, naive, "doc_id", "rank", Bm25K, RboP)
  }

  /** q170: quantile-normalize document length across sources
    * ([[graft.ops.Stats.quantileNormalize]], B=10): each doc's
    * within-source decile maps onto the POOLED length distribution's
    * exact type-1 decile value — the prerequisite for one corpus-wide
    * "keep the longest X%" threshold over heterogeneous sources. */
  def qQuantileNorm(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.quantileNormalize(
      Tables.documents(s, dir).select(col("doc_id"), col("source"),
        col("n_chars")),
      "source", "n_chars", Seq("doc_id"), buckets = 10)
      .select(col("doc_id"), col("source"), col("n_chars"), col("bucket"),
        col("norm_value"))

  /** q179: isotonic (PAV) calibration of the stopword-ratio signal
    * against lang='en' ([[graft.ops.Eval.isotonicCalibrate]]) — turns
    * q159's reliability diagram into a non-decreasing calibrated rate.
    * Oracle-gated via the PAV ≡ minimax closed form (the sequential
    * pooling loop equals max_{j≤i} min_{k≥i} of segment rates — an
    * O(bins³) triangular aggregate a SQL oracle can afford);
    * EvalSpec additionally pins PAV against a quadratic reference. */
  def qIsotonic(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir).select(
      TextOps.wordSetRatio(TextOps.tokens(col("text")), TextOps.Stopwords)
        .as("score"),
      when(col("lang") === "en", 1).otherwise(0).as("y"))
    graft.ops.Eval.isotonicCalibrate(scored, "score", "y", 10)
  }

  /** q198: Zipf power-law fit of the token frequency spectrum — OLS of
    * ln(freq) on ln(rank) over the top-1024 types (slope ≈ −1 on
    * natural text; how far off the corpus sits is a synthetic-vs-real
    * diagnostic, and the exponent feeds tokenizer-vocab sizing next to
    * q117's coverage curve). Vocab-sized count agg, distributed
    * TakeOrdered(1024), then a 1024-row fit with ln terms 9-rounded
    * into DECIMAL sums (partitioning-invariant; final divisions mirror
    * the oracle's op order). */
  def qZipfFit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def d(c: Column) = c.cast("double")
    val types = Tables.documents(s, dir)
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val topk = types.orderBy(col("c").desc, col("w").asc).limit(1024)
    val fitRows = topk
      .withColumn("k", row_number().over(
        Window.orderBy(col("c").desc, col("w").asc)))
      .select(round(log(d(col("k"))), 9).cast("decimal(18,9)").as("x"),
        round(log(d(col("c"))), 9).cast("decimal(18,9)").as("y"))
    val a = fitRows.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val num = d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))
    val denX = d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))
    val denY = d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))
    a.select(col("n").as("n_types"),
      round(num / denX, 6).as("zipf_slope"),
      round((d(col("sy")) - num / denX * d(col("sx"))) / d(col("n")), 6)
        .as("intercept"),
      round(num * num / (denX * denY), 6).as("r2"))
  }

  /** q199: Neyman minimum-variance sample allocation over sources
    * ([[graft.ops.Sampling.neymanAllocation]]) — a 10k-row budget
    * split ∝ N_h·σ_h of doc length. */
  def qNeymanAlloc(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.neymanAllocation(Tables.documents(s, dir),
      col("source"), col("n_chars"), 10000L)

  /** q200: local clustering coefficient over the verified near-dup
    * graph ([[graft.ops.Graph.clusteringCoefficient]]) — per-doc
    * clique-ness of its duplicate neighborhood (cc 1 = clean dup
    * cluster; low cc = chain/hub needing different resolution). */
  def qClusteringCoeff(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.clusteringCoefficient(
      verifiedNearDupPairs(s, dir).select(col("doc_a"), col("doc_b")),
      "doc_a", "doc_b")

  /** q202: precision/recall/F1 operating points for the stopword-ratio
    * vs lang='en' signal across a 0.1…0.9 threshold grid
    * ([[graft.ops.Eval.prCurve]]) — turns q159's reliability diagram
    * into the cutoff table a filter ships with. */
  def qPrCurve(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir).select(
      TextOps.wordSetRatio(TextOps.tokens(col("text")), TextOps.Stopwords)
        .as("score"),
      when(col("lang") === "en", 1).otherwise(0).as("y"))
    graft.ops.Eval.prCurve(scored, "score", "y",
      (1 to 9).map(_ / 10.0))
  }

  /** q204: per-source top-3 tokens with the long tail collapsed to
    * `__other__` ([[graft.ops.Stats.topNWithOther]]) — mass-accounted
    * report shaping over the vocabulary domain. */
  def qTopNWithOther(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.topNWithOther(
      Tables.documents(s, dir)
        .select(col("source"), explode(TextOps.tokens(col("text")))
          .as("token")),
      "source", "token", 3)

  /** q236: corpus novelty curve over ingestion deciles
    * ([[TextOps.noveltyCurve]], 3-shingles) — what fraction of each
    * slice's distinct shingles is first seen there, the
    * diminishing-returns readout of continued collection. */
  def qNoveltyCurve(s: SparkSession, dir: String): DataFrame =
    TextOps.noveltyCurve(Tables.documents(s, dir), "doc_id", "text")

  /** q242: golden-record survivorship ([[Dedup.goldenRecord]]) over the
    * q132 prefix-dedup clusters with 2+ members: per cluster, the modal
    * lang / source / n_chars — the consolidation step that turns
    * "these docs are one entity" into the single row to keep. Only
    * multi-doc clusters (the 1-doc ones are their own golden record). */
  def qGoldenRecord(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val groups = Dedup.prefixDedup(docs, "doc_id", "text", PrefixTokens)
      .filter(col("group_n") > 1)
      .select(col("doc_id"), col("rep"))
    Dedup.goldenRecord(
        docs.join(groups, "doc_id"), col("rep"),
        Seq("lang", "source", "n_chars"))
      .select(col("cluster"), col("attr"), col("canonical"),
        col("support"), col("n_nonnull"))
  }
}
