package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for document corpora: shingling, MinHash+LSH,
  * SimHash, exact n-gram Jaccard.
  *
  * Formulated RELATIONALLY (explode → aggregate → self-join on bucket keys)
  * rather than as per-row mega-arrays: at 100 TB the (doc, shingle-hash)
  * stream is what you want Spark to shuffle — partial aggregation compacts
  * it map-side, the LSH bucket join only shuffles (band, signature) keys,
  * and no executor ever holds a whole corpus' signatures in one task.
  * Candidate-pair cost is bounded by bucket sizes, not corpus size².
  *
  * All hashes derive from [[TextOps.polyHash]], so every step here has an
  * exact DuckDB-oracle SQL twin (same lambdas, same arithmetic).
  */
object NearDup {

  /** (doc, shingle-hash) pairs: n-token shingles per doc. Docs shorter
    * than n tokens contribute their whole (space-normalized) text as one
    * shingle.
    *
    * Computed by the native `shingle_hashes` expression
    * ([[graft.functions.ShingleHashes]]): one codegen'd pass per doc
    * producing the n-gram hash array, exploded at the scan — NO shuffle.
    * The previous relational form (posexplode → lead()-window fold)
    * shuffled and sorted the corpus-wide token stream on the doc key just
    * to line up consecutive tokens; per-row stateless hashing makes that
    * exchange — the widest in the whole near-dup pipeline — disappear.
    * Values are bit-identical (asserted in NearDupSpec against the
    * retained relational reference form).
    *
    * NOT distinct here: min-aggregation (minhash) and bucket joins are
    * duplicate-insensitive; set-semantics consumers (jaccard) dedupe
    * themselves. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String,
                  n: Int): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    docs.select(col(idCol),
      explode(call_function("shingle_hashes",
        TextOps.tokens(col(textCol)), lit(n))).as("h"))
  }

  /** The pre-native relational formulation of [[shingleRows]] (posexplode
    * → poly_hash → lead-window fold + short-doc union) — kept as the
    * cross-check reference for the native expression's spec. */
  private[graft] def shingleRowsRelational(docs: DataFrame, idCol: String,
                                           textCol: String,
                                           n: Int): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    val tk = TextOps.tokens(col(textCol))
    val tok = docs.select(col(idCol),
        posexplode(tk).as(Seq("pos", "tok")))
      .select(col(idCol), col("pos"),
        TextOps.polyHash(col("tok")).as("th"))
    val shingled =
      if (n == 1) tok.select(col(idCol), col("th").as("h"))
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol)).orderBy(col("pos"))
        val leads = (1 until n).map(i => lead(col("th"), i).over(w).as(s"th$i"))
        val folded = (1 until n).foldLeft(col("th")) { (acc, i) =>
          (acc * 31 + col(s"th$i")) % TextOps.HashMod
        }
        tok.select(col(idCol) +: col("th") +: leads: _*)
          .filter(col(s"th${n - 1}").isNotNull)
          .select(col(idCol), folded.as("h"))
      }
    val short = docs
      .filter(size(tk) < n)
      .select(col(idCol),
        TextOps.polyHash(concat_ws(" ", tk)).as("h"))
    shingled.unionByName(short)
  }

  /** LSH band rows computed entirely IN-ROW from the per-doc signature
    * ([[signatureColumn]], spec-pinned bit-identical to the batch
    * minhash aggregation): the minhash is a min over the doc's OWN
    * shingles, so the shingle-stream explode → groupBy(doc) exchange —
    * the widest shuffle of the whole cascade — buys nothing the row
    * cannot compute itself (guide §2.4). Output is row-identical to the
    * exploded form — [[shingleRows]], a min-aggregate per (doc, hash
    * index), one pivot per band (same band numbering, same "-"-joined
    * signature strings; NearDupSpec pins it against that reference),
    * including the absent-row behavior for null-text docs. */
  def lshBandsFromDocs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, numHashes: Int,
                       rowsPerBand: Int): DataFrame = {
    require(numHashes >= 1 && rowsPerBand >= 1,
      s"bad banding: numHashes=$numHashes rowsPerBand=$rowsPerBand")
    val nBands = (numHashes + rowsPerBand - 1) / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      val els = (0 until rowsPerBand).map(s => b * rowsPerBand + s)
        .filter(_ < numHashes)
        .map(i => element_at(col("__sig"), i + 1).cast("string"))
      struct(lit(b).as("band"), concat_ws("-", els: _*).as("band_sig"))
    }
    docs
      .select(col(idCol),
        signatureColumn(col(textCol), n, numHashes).as("__sig"))
      // null text has no shingle rows in the batch cascade; its
      // signature here is an array OF nulls (the outer transform runs
      // over the literal index sequence), so test an element, not the
      // array itself
      .filter(element_at(col("__sig"), 1).isNotNull)
      .select(col(idCol), explode(array(bandStructs: _*)).as("__b"))
      .select(col(idCol), col("__b.band").as("band"),
        col("__b.band_sig").as("band_sig"))
  }

  /** Candidate pairs from shared LSH buckets: (a, b, n_shared_bands),
    * a < b. The join key is (band, band_sig) — bucket-local, so the
    * shuffle is tiny and skew is bounded by bucket size.
    *
    * The band frame is materialized (eager persist) before the
    * self-join: the two join sides differ in their top projection
    * (doc_a vs doc_b), so ReuseExchange never deduplicates them and a
    * lazy formulation runs the whole shingle→minhash→band cascade — the
    * dominant aggregation of the pipeline — TWICE. Bands are the
    * narrowest frame of the cascade (bands/doc rows of ~50-byte sigs),
    * so this is the cheapest point to cut.
    *
    * persist, NOT localCheckpoint: the cache keeps SIZE STATISTICS
    * flowing to the planner, so the band self-join stays scale-adaptive
    * (broadcast when the frame is small, shuffle at corpus scale). A
    * checkpoint surfaces as a stats-less ExistingRDD that pins the
    * worst-case join strategy at every scale — measured 3.5× slower on
    * the q56-shaped simhash variant of this same pattern. The cache
    * entry lives until the session drops it (Bench/Verify clearCache
    * between queries); unpersisting early is safe — the lineage is
    * intact, worst case is recompute.
    *
    * If the caller ALREADY persisted the band frame (CorpusPipeline
    * does — it reuses bands across several joins), nothing extra is
    * materialized: block-level locking in BlockManager.getOrElseUpdate
    * makes a persisted frame compute-once across both sides of the
    * self-join, and a second eager copy would only double storage
    * pressure (the exact regression q64 showed when this method
    * materialized unconditionally). */
  def candidatePairs(bands: DataFrame, idCol: String): DataFrame = {
    val mat =
      if (bands.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
        bands
      else {
        val p = bands.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count() // eager: both join sides must read, never compute
        graft.core.OpCache.renew("NearDup.candidatePairs", p)
        p
      }
    val l = mat.select(col(idCol).as("doc_a"), col("band"), col("band_sig"))
    val r = mat.select(col(idCol).as("doc_b"), col("band"), col("band_sig"))
    l.join(r, Seq("band", "band_sig"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Per-doc DISTINCT shingle-hash set as ONE array row (id, hs) — the
    * set-semantics twin of [[shingleRows]], computed entirely in-row:
    * `array_distinct` over the shingle kernel's output replaces the
    * corpus-wide `distinct()` EXCHANGE the verify tier used to pay
    * before its sizes/intersection passes (dedup within a doc needs no
    * cross-row state, so shuffling for it was pure overhead — guide
    * §2.4, remove shuffles outright). Set sizes become a map-side
    * `size(hs)` projection instead of a grouped aggregate. The array is
    * the same per-doc shingle array the kernel already materializes, so
    * row width is unchanged at any corpus scale. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
                  n: Int): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    docs.select(col(idCol),
      array_distinct(call_function("shingle_hashes",
        TextOps.tokens(col(textCol)), lit(n))).as("hs"))
      // null-text docs emit NO row (the stream form had no (id, h) rows
      // for them) — without this, the non-dropZero sizes join surfaces
      // pairs referencing a null-text doc that NearDup.jaccard omitted
      // (r14 ADVICE; value-identical for non-null texts: the kernel's
      // whole-doc fallback guarantees >= 1 element)
      .filter(col("hs").isNotNull)
  }

  /** Exact n-gram Jaccard |A∩B|/|A∪B| for given (doc_a, doc_b) pairs
    * over per-doc distinct shingle SETS ([[shingleSets]]). Identical
    * output to the raw (doc, h) stream form (its `distinct()` equals
    * per-doc `array_distinct`, its grouped size count equals
    * `size(hs)`; NearDupSpec pins it), minus the corpus-wide distinct
    * exchange and the sizes aggregation — both derived map-side from
    * the compact array frame.
    *
    * The set frame is first semi-join-restricted to docs that appear in
    * a candidate pair, so the verify tier costs O(candidate docs), not
    * O(corpus). Pass `restrictToPairDocs = false` when the pair set
    * already covers every doc, which saves the restriction join.
    *
    * @param dropZero when true, pairs with an EMPTY intersection are
    *        omitted from the output instead of carried with jaccard 0 —
    *        value-identical for every caller that filters
    *        `jaccard >= t` with `t > 0`, and it lets the sizes ride the
    *        intersection join itself (min over the pair's rows — exact:
    *        the size is constant per doc), which removes the pairs
    *        left-join, the na.fill, and both size-attach joins from the
    *        plan (three sliver joins, but each one is an AQE stage job
    *        at any scale). */
  def jaccardSets(pairs: DataFrame, sets: DataFrame, idCol: String,
                  restrictToPairDocs: Boolean = true,
                  dropZero: Boolean = false): DataFrame = {
    val compact =
      restrictedSets(pairs, sets, idCol, restrictToPairDocs,
        "NearDup.jaccardSets")
    val base =
      if (dropZero) interFused(pairs, compact, idCol)
      else simJoinCore(pairs,
        compact.select(col(idCol), explode(col("hs")).as("h")),
        compact.select(col(idCol), size(col("hs")).cast("long").as("sz")),
        idCol)
    base.withColumn("jaccard",
      col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
  }

  /** Containment similarity |A∩B|/|A| (and /|B|) for candidate pairs —
    * the asymmetric complement of [[jaccardSets]]: a short document fully
    * embedded in a long one ("quote-dups", boilerplate-wrapped copies)
    * has high containment but LOW Jaccard (the union is dominated by the
    * long side), so a Jaccard-thresholded dedup pass keeps both copies.
    * Same per-doc shingle sets, candidate restriction and `dropZero`
    * contract as [[jaccardSets]] (empty-intersection pairs have cont 0). */
  def containmentSets(pairs: DataFrame, sets: DataFrame, idCol: String,
                      restrictToPairDocs: Boolean = true,
                      dropZero: Boolean = false): DataFrame = {
    val compact =
      restrictedSets(pairs, sets, idCol, restrictToPairDocs,
        "NearDup.containmentSets")
    val base =
      if (dropZero) interFused(pairs, compact, idCol)
      else simJoinCore(pairs,
        compact.select(col(idCol), explode(col("hs")).as("h")),
        compact.select(col(idCol), size(col("hs")).cast("long").as("sz")),
        idCol)
    base.withColumn("cont_a",
        col("inter").cast("double") / col("sz_a").cast("double"))
      .withColumn("cont_b",
        col("inter").cast("double") / col("sz_b").cast("double"))
  }

  /** Intersection join with the sizes RIDING the shingle rows: one
    * grouped aggregate emits (pair, inter, sz_a, sz_b) directly — the
    * size is constant within a pair's joined rows, so min() recovers it
    * exactly. Only valid under the dropZero contract (a pair sharing no
    * hash never reaches the aggregate). */
  private def interFused(pairs: DataFrame, compact: DataFrame,
                         idCol: String): DataFrame = {
    val withSz = compact.select(col(idCol),
      size(col("hs")).cast("long").as("sz"), explode(col("hs")).as("h"))
    pairs
      .join(withSz.select(col(idCol).as("doc_a"), col("h"),
        col("sz").as("sz_a")), "doc_a")
      .join(withSz.select(col(idCol).as("doc_b"), col("h"),
        col("sz").as("sz_b")), Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"),
        min(col("sz_a")).as("sz_a"), min(col("sz_b")).as("sz_b"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("sz_a"), col("sz_b"))
  }

  /** Shared head of the sets-based verify tier: restrict the set frame
    * to pair docs (candidates ≪ corpus) and persist the COMPACT array
    * frame (consumed by the (id, h) stream and the map-side sizes). */
  private def restrictedSets(pairs: DataFrame, sets: DataFrame,
                             idCol: String,
                             restrictToPairDocs: Boolean,
                             owner: String): DataFrame = {
    val restricted =
      if (!restrictToPairDocs) sets
      else {
        val pairDocs = pairs.select(col("doc_a").as(idCol))
          .unionByName(pairs.select(col("doc_b").as(idCol))).distinct()
        sets.join(pairDocs, Seq(idCol), "left_semi")
      }
    val compact = restricted
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.OpCache.renew(owner, compact)
    compact
  }

  /** The verify tier's join core, shared by the stream and sets forms:
    * intersection computed IN the (doc, hash) join (second join keys on
    * BOTH columns, so the intermediate is |A∩B| per pair, never
    * |A|·|B|), then pairs left-join inter and pick up both sizes. */
  private[graft] def simJoinCore(pairs: DataFrame, shingles: DataFrame,
                          sizes: DataFrame, idCol: String): DataFrame = {
    val inter = pairs
      .join(shingles.select(col(idCol).as("doc_a"), col("h")), "doc_a")
      .join(shingles.select(col(idCol).as("doc_b"), col("h")),
        Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sizes.select(col(idCol).as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("sz").as("sz_b")), "doc_b")
  }

  /** Per-ROW SimHash signature over a token array column (here 16-bit
    * for oracle compactness; width is a parameter): per token-hash bit
    * j, a ±1 vote per token, and bit j of the signature is 1 iff the
    * votes sum to more than 0. The votes fold over the row's own
    * token-hash array (one `aggregate` carrying a bits-wide counter
    * array), so the signature needs ZERO shuffle and is computable on a
    * stream row at ingest. NearDupSpec pins it bit-identical to the
    * exploded-token groupBy form it replaced. Docs with no tokens sign
    * as 0 (callers filter empties, as [[simhashDocs]] does). */
  def simhashColumnFromTokens(tokensCol: Column, bits: Int = 16): Column = {
    val votes = aggregate(
      transform(tokensCol, t => TextOps.polyHash(t)),
      array_repeat(lit(0L), bits),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(bits - 1)), (a, j) =>
        a + when(call_function("shiftright", h, j.cast("int"))
          .bitwiseAND(1) === 1, lit(1L)).otherwise(lit(-1L))))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(bits - 1)), (v, j) =>
        when(v > 0, call_function("shiftleft", lit(1L), j.cast("int")))
          .otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Per-doc simhash frame computed IN-ROW ([[simhashColumnFromTokens]])
    * — row- and value-identical to the batch token-explode aggregation (the
    * signature kernel is spec-pinned bit-identical; docs with no tokens
    * are filtered here exactly as the batch explode drops them, and a
    * null text tokenizes to null — also absent) with ZERO shuffle where
    * the batch form pays the token-explode groupBy exchange (r15, guide
    * §2.4). The signature consumer tiers (q56's pigeonhole block join)
    * ride this frame unchanged. */
  def simhashDocs(docs: DataFrame, idCol: String, textCol: String,
                  bits: Int = 16): DataFrame =
    docs.select(col(idCol), TextOps.tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= 1)
      .select(col(idCol),
        simhashColumnFromTokens(col("__tk"), bits).as("simhash"))

  /** Corpus-scale simhash pair search by pigeonhole blocking: split the
    * `bits`-wide signature into maxDist+1 equal blocks — two signatures
    * within Hamming distance maxDist must agree EXACTLY on at least one
    * block — and hash-join on (block index, block value). Identical output
    * to the all-pairs crossJoin (asserted in spec); shuffle cost tracks bucket
    * sizes like the MinHash-LSH candidate join, not corpus². */
  def simhashPairsBlocked(sigs: DataFrame, idCol: String, maxDist: Int,
                          bits: Int = 16): DataFrame = {
    val nBlocks = maxDist + 1
    val width = bits / nBlocks
    require(width >= 1, s"maxDist $maxDist too large for $bits-bit sigs")
    val mask = (1L << width) - 1
    // block b = bits [b*width, (b+1)*width); the last block absorbs the
    // bits-% remainder so every bit is covered (pigeonhole needs that)
    def blockVal(sig: Column, b: Int): Column =
      if (b == nBlocks - 1) shiftright(sig, b * width)
      else shiftright(sig, b * width).bitwiseAND(mask)
    val blocked = sigs.select(col(idCol) +: col("simhash") +:
      (0 until nBlocks).map(b => blockVal(col("simhash"), b).as(s"b$b")): _*)
    // materialized before the self-join for the same reason as
    // [[candidatePairs]] (see the persist-vs-checkpoint note there):
    // the two sides project different names, so ReuseExchange never
    // fires and a lazy formulation computes the per-doc signature
    // cascade (tokenize → shingles → bit votes — the dominant cost when
    // `sigs` derives from raw text) TWICE. The exploded frame is
    // (maxDist+1) rows/doc of four small columns — the narrowest point
    // to cut. Skipped when the caller already persisted the signature
    // frame.
    val explodedLazy = blocked.select(col(idCol), col("simhash"),
      explode(array((0 until nBlocks).map(b =>
        struct(lit(b).as("blk"), col(s"b$b").as("bv"))): _*)).as("x"))
      .select(col(idCol), col("simhash"), col("x.blk"), col("x.bv"))
    val exploded =
      if (sigs.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
        explodedLazy
      else {
        val p = explodedLazy.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count()
        graft.core.OpCache.renew("NearDup.simhashPairs", p)
        p
      }
    val l = exploded.select(col(idCol).as("doc_a"),
      col("simhash").as("sig_a"), col("blk"), col("bv"))
    val r = exploded.select(col(idCol).as("doc_b"),
      col("simhash").as("sig_b"), col("blk"), col("bv"))
    l.join(r, Seq("blk", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"))
      .distinct() // a pair may share several blocks
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Per-ROW minhash signature: array of `numHashes` mins over the row's
    * shingle hashes — bit-identical to the per-(doc, hash index) min
    * aggregate over the exploded shingle rows
    * (spec-pinned) but computed with zero shuffle, which is what a
    * streaming ingest tier needs (per-row state, no corpus aggregation).
    * `shingle_hashes`' whole-doc fallback guarantees ≥1 shingle, so
    * every position is non-null. */
  def signatureColumn(textCol: Column, n: Int, numHashes: Int): Column = {
    val sh = call_function("shingle_hashes", TextOps.tokens(textCol), lit(n))
    // same TextOps.affineHash family as the batch minhash — sharing the one
    // definition is what KEEPS the streaming signature bit-identical to
    // the batch tier if the family ever changes again (it already did
    // once: the correlated pre-affine family collapsed LSH recall).
    // The shingle array is the FOLD'S DIRECT CHILD, not a lambda-body
    // subexpression: the previous per-slot form
    // transform(0..k−1, i => array_min(transform(sh, …))) re-evaluated
    // the tokenize+shingle kernel once per signature slot — k× the
    // kernel work per row (measured 4× wall on the q26 fold). Folding
    // shingles once and min-ing all k slots per element is value-
    // identical: min is commutative over the same affine family. A null
    // text now signs as a NULL array (fold of a null child) rather than
    // an array of nulls — both row-absent under the element-null filters
    // the band/signature consumers use.
    aggregate(sh,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, h) => zip_with(acc,
        sequence(lit(0), lit(numHashes - 1)),
        (a, i) => least(a, TextOps.affineHash(h, i))))
  }

  /** (id, h, shingle text) rows: [[shingleRows]] plus the exact n-token
    * window text each hash stands for (whole-doc fallback text for docs
    * under n tokens, mirroring the hash's own fallback). Scan-side like
    * shingleRows — the Generate and the slice/concat projection fuse
    * into one codegen stage, no shuffle. Used where a HASH MATCH must be
    * re-verified on text before it justifies an action; the hash is the
    * WIDE two-plane key ([[graft.functions.ShingleHashesWideFn]],
    * ≈2^60 space) so the prefilter itself stays sliver-selective at
    * corpus scale — the text compare remains the correctness backstop. */
  def shingleTextRows(docs: DataFrame, idCol: String,
                      textCol: String, n: Int): DataFrame =
    docs.select(col(idCol), TextOps.tokens(col(textCol)).as("__tk"))
      .select(col(idCol), col("__tk"),
        posexplode(call_function("shingle_hashes_wide", col("__tk"), lit(n)))
          .as(Seq("__pos", "h")))
      .select(col(idCol), col("h"),
        when(size(col("__tk")) < n, concat_ws(" ", col("__tk")))
          .otherwise(concat_ws(" ",
            slice(col("__tk"), col("__pos") + lit(1), lit(n))))
          .as("__st"))

  /** Benchmark decontamination report — the eval-leakage check of a
    * training-corpus pipeline (distinct from near-dup: asymmetric exact
    * n-gram CONTAINMENT, not symmetric similarity; one shared shingle is
    * already contamination). Per corpus doc sharing at least one n-token
    * shingle with any benchmark doc: the distinct shared-shingle count.
    *
    * Matches are TEXT-verified: even in the wide ≈2^60 hash space a
    * collision against the benchmark set is possible, and with
    * minOverlap = 1 semantics ("one shared n-gram disqualifies") an
    * unverified hash match would FALSELY DELETE real docs (the defect
    * class the sf1 board caught at 30 bits: 153 false contaminations at
    * only 50k docs). The hash set still does the map-side prefilter;
    * window text is built only for the sliver that survives it, then
    * checked against the benchmark's (hash, text) pairs. The wide key
    * also keeps the prefilter itself selective at corpus scale: the
    * pass-through fraction is ~B/2^60 per window instead of ~B/2^30.
    *
    * Scale shape: the benchmark's distinct shingle set is eval-sized
    * (thousands of docs), so both the hash set and the (hash, text)
    * pairs broadcast; the corpus shingle stream is filtered MAP-SIDE by
    * the broadcast hash semi join — the corpus is never shuffled, and
    * the text build, verify join, dedup and per-doc count touch only
    * the contaminated sliver.
    *
    * Caching: the benchmark (hash, text) sliver persists for the two
    * broadcast builds and outlives the call (the returned frame is
    * lazy, so there is no in-operator point to unpersist it without
    * recomputing) — registered in [[graft.core.OpCache]], so the NEXT
    * invocation drops it and repeated library calls hold at most one
    * generation of scratch. */
  def contaminationReport(corpus: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String,
                          n: Int = 8): DataFrame = {
    val benchSh = shingleTextRows(benchmark, idCol, textCol, n)
      .select(col("h"), col("__st")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.OpCache.renew("NearDup.contaminationReport", benchSh)
    val benchH = benchSh.select(col("h")).distinct()
    // hash semi BEFORE the text projection, so the per-window string
    // build pays only on the prefiltered sliver (join placement pinned
    // by construction — the optimizer won't hoist a projection above a
    // join that was never below it)
    corpus.select(col(idCol), TextOps.tokens(col(textCol)).as("__tk"))
      .select(col(idCol), col("__tk"),
        posexplode(call_function("shingle_hashes_wide", col("__tk"), lit(n)))
          .as(Seq("__pos", "h")))
      .join(broadcast(benchH), Seq("h"), "left_semi")
      .select(col(idCol), col("h"),
        when(size(col("__tk")) < n, concat_ws(" ", col("__tk")))
          .otherwise(concat_ws(" ",
            slice(col("__tk"), col("__pos") + lit(1), lit(n))))
          .as("__st"))
      .join(broadcast(benchSh), Seq("h", "__st"), "left_semi")
      .dropDuplicates(idCol, "h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** Repeated token spans — EXACT-SUBSTRING dedup, the third dedup
    * granularity after whole-document (exact/minhash/simhash) and
    * passage ([[graft.ops.TextOps.boilerplatePassages]]'s fixed chunks):
    * find maximal runs of n-token windows whose content occurs more than
    * once in the corpus, at stride 1 (the substring-dedup family of Lee
    * et al. 2022, arXiv:2107.06499 — there via suffix arrays; window
    * hashing expresses the same detection as three relational steps
    * with the resolution floor n).
    *
    * Shape: (1) every stride-1 n-token window hashes at the SCAN via
    * `shingle_hashes` + posexplode — zero shuffle, position = array
    * index; docs shorter than n tokens are filtered (they cannot
    * contain an n-window, and the expression's whole-doc fallback hash
    * would otherwise masquerade as one); (2) hashes occurring at >1
    * (doc, pos) site — partial-agg count, then the window stream
    * re-derives from the scan and semi-joins the repeated-hash set
    * (the corpus-sized stream is NOT cached, per the materialization
    * policy: re-hashing at the scan is the cheap side); (3) adjacent
    * repeated windows merge into maximal spans per doc — the
    * pos − row_number() islands trick under a PER-DOC window.
    *
    * Returns (id, span_start, span_end, n_windows): token positions,
    * 0-based inclusive; span_end = last window start + n − 1.
    *
    * At 100 TB: the only corpus-wide shuffles are the count aggregate
    * and the repeated-hash join, both keyed on the window hash. A
    * universal boilerplate n-gram is a hot key in that join — the
    * mitigation is pre-extracting the top-k hashes with
    * [[Sketches.heavyHitters]] and handling them broadcast-side, the
    * same skew split as [[Skew.saltedJoin]]. The window key is the WIDE
    * two-plane hash ([[graft.functions.ShingleHashesWideFn]], ≈2^60
    * space): a 30-bit key saturates the `count > 1` gate at corpus
    * scale (~10^13 windows ⇒ every value repeats ~10^4 times and the
    * "repeated sliver" becomes the whole corpus); at ≈2^60 the expected
    * colliding-pair count stays ~n²/2^60.8 — sliver-sized even at
    * 100 TB. Residual wide-hash collisions can still mark a window
    * repeated when only its hash is — acceptable in this DETECTION
    * report (resolution is the hash, by contract); the removal tier,
    * [[exciseSpans]], verifies exact window text before any cut. */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    n: Int): DataFrame = {
    require(n >= 2, s"span window width must be >= 2, got $n")
    def wins = docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col(idCol),
        posexplode(call_function("shingle_hashes_wide", col("__t"), lit(n)))
          .as(Seq("pos", "h")))
    val repeated = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
      .select(col("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    wins.join(repeated, Seq("h"), "left_semi")
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(n - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .drop("__grp")
  }

  /** Occurrence key: (doc, pos) packed into one long for an exact total
    * order with no struct-compare semantics to keep in sync with the
    * oracle — pos < 2^30 (the [[WinnowP]] cap), ids to ~2^33 stay exact.
    * The id domain is enforced FAIL-FAST in [[exciseSpans]] (see
    * [[occKeyGuarded]]): an id ≥ 2^33 would silently wrap the packed
    * key in Spark (while the DuckDB oracle errors on BIGINT overflow)
    * and corrupt canonical-site selection. */
  private val OccP = 1L << 30

  /** Largest doc id the packed occurrence key represents exactly:
    * id·2^30 + pos < 2^63 needs id < 2^33 (and non-negative — a negative
    * id would misorder against the "global minimum = canonical" rule). */
  private val OccIdMax = 1L << 33

  /** The packed occurrence key with the id-domain guard compiled into
    * the expression: out-of-range ids raise a task error instead of
    * silently wrapping. One codegen'd branch per row — free next to the
    * joins it feeds. */
  private def occKeyGuarded(id: Column, pos: Column): Column =
    when(id >= 0 && id < OccIdMax, id * lit(OccP) + pos)
      .otherwise(raise_error(concat(
        lit(s"exciseSpans: doc id out of packed-key domain [0, $OccIdMax): "),
        id.cast("string"))))

  /** The EXCISED corpus — [[repeatedSpans]] detection carried through to
    * the rewrite Lee et al. 2022 (arXiv:2107.06499, ExactSubstr) actually
    * apply to training data: duplicated text is CUT, one canonical
    * occurrence is kept. A window occurrence (doc, pos) is cut iff its
    * n-token TEXT occurs at >1 site AND (doc, pos) is not that text's
    * canonical site (global minimum packed (doc, pos) — deterministic,
    * partitioning-invariant). The window hash is a PREFILTER, not the
    * identity: candidates surviving the hash-frequency gate are
    * re-verified on exact window text before any cut, so a hash
    * collision can never excise unique text — at 4M docs the 180M-window
    * stream made millions of birthday collisions over the old 1e9+7
    * space, and the unverified form measurably cut canonical passages
    * (SCALE.md "Exact-substring excision"). The prefilter key is now the WIDE
    * two-plane hash ([[graft.functions.ShingleHashesWideFn]], ≈2^60
    * space): at 30 bits the `count > 1` gate itself saturates at corpus
    * scale and the "repeated sliver" the text-attach join must carry
    * becomes the whole corpus; at ≈2^60 the gate stays sliver-selective
    * to ~10^13 windows. A colliding-but-different text group keeps
    * ALL its members (false negative, never false cut). A token is
    * removed iff some cut window covers it; maximal runs of cut windows
    * merge first (the [[repeatedSpans]] islands), so cuts are whole
    * spans, not word-holes. Canonicality is PER-WINDOW-TEXT: the kept
    * copy of phrase A can still lose tokens to an overlapping duplicated
    * phrase B whose canonical site is elsewhere — the price of avoiding
    * a sequential cut-ordering pass, stated rather than hidden.
    *
    * Docs shorter than n tokens pass through untouched (no n-window).
    * Output (id, clean_text, n_removed, n_spans); clean_text is the
    * space-joined surviving tokens (whitespace-normalized, like every
    * token-level consumer here), '' when fully excised.
    *
    * Scale shape: tokenization persists once (window stream + final
    * reassembly both read it — re-tokenizing the full corpus twice is
    * the expensive side, unlike the hash-only re-derive in
    * [[repeatedSpans]]); the hash-frequency gate shuffles HASHES only;
    * window TEXT is materialized solely for the repeated sliver (one
    * doc-keyed join of that sliver against the token arrays, then a
    * per-(hash, text) aggregate — text rides a shuffle only after the
    * stream has been cut to actual repeats); the island merge and span
    * collect group the cut-position sliver per doc; the final join
    * brings the per-doc span array to the token arrays, where one
    * codegen'd filter-with-index drops covered tokens. Hot boilerplate
    * windows skew the repeated-sliver joins exactly as in
    * [[repeatedSpans]] — same heavy-hitter mitigation applies.
    *
    * Caching: the token arrays and the repeated-window sliver persist
    * for the multi-reference plan above and outlive the call (the
    * returned frame is lazy — unpersisting inside the operator would
    * force recomputation at the caller's first action). Both are
    * registered in [[graft.core.OpCache]]: the next invocation drops
    * them, so repeated library calls hold at most one generation of
    * scratch instead of accumulating dead CacheManager entries. */
  def exciseSpans(docs: DataFrame, idCol: String, textCol: String,
                  n: Int): DataFrame = {
    require(n >= 2, s"span window width must be >= 2, got $n")
    val toks = docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__tk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wins = toks
      .filter(size(col("__tk")) >= n)
      .select(col(idCol),
        posexplode(call_function("shingle_hashes_wide", col("__tk"), lit(n)))
          .as(Seq("pos", "h")))
    val okey = occKeyGuarded(col(idCol), col("pos"))
    // hash-frequency prefilter (hash-only shuffle), then attach exact
    // window text to the repeated sliver and decide per (hash, text)
    val repeated = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
      .select(col("h"))
    val repWins = wins.join(repeated, Seq("h"), "left_semi")
      .join(toks, Seq(idCol))
      .select(col(idCol), col("pos"), col("h"),
        concat_ws(" ", slice(col("__tk"), col("pos") + lit(1), lit(n)))
          .as("__wt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.OpCache.renew("NearDup.exciseSpans", toks, repWins)
    val cut = repWins.join(
        repWins.groupBy(col("h"), col("__wt"))
          .agg(count(lit(1)).as("__c"), min(okey).as("__ck"))
          .filter(col("__c") > 1)
          .select(col("h"), col("__wt"), col("__ck")),
        Seq("h", "__wt"), "inner")
      .filter(okey =!= col("__ck"))
      .select(col(idCol), col("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val spans = cut
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(n - 1)).as("e"))
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("s"), col("e"))).as("__spans"))
    val kept = filter(col("__tk"), (t, i) =>
      !exists(col("__spans"), p =>
        i >= p.getField("s") && i <= p.getField("e")))
    toks.join(spans, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__spans").isNull, concat_ws(" ", col("__tk")))
          .otherwise(concat_ws(" ", kept)).as("clean_text"),
        when(col("__spans").isNull, lit(0L))
          .otherwise((size(col("__tk")) - size(kept)).cast("long"))
          .as("n_removed"),
        coalesce(size(col("__spans")), lit(0)).cast("long").as("n_spans"))
  }

  /** Winnow position encoding: np = 2^30−1−pos, so the natural ASC
    * order on (h, np) is "smallest hash, rightmost position" — the
    * robust-winnowing tie rule — under one `array_min`. Caps docs at
    * 2^30 windows (a >4 GiB single document; stated contract). The key
    * is a STRUCT(h, np), not a packed long: the wide ≈2^60-space hash
    * ([[graft.functions.ShingleHashesWideFn]]) no longer leaves room
    * beside the position in 63 bits, and struct min is order-identical
    * on both engines (Spark array_min and DuckDB list_min both compare
    * structs field-lexicographically). */
  private[graft] val WinnowP = 1L << 30

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    * the MOSS algorithm): from the stride-1 k-gram hash stream of each
    * doc, select in EVERY window of `w` consecutive hashes the minimum
    * hash, ties → rightmost position (the "robust winnowing" rule, so
    * near-identical docs select near-identical fingerprint sets).
    * Guarantees: any shared run of ≥ w+k−1 tokens yields ≥ 1 shared
    * fingerprint, and the expected density is 2/(w+1) — a tunable
    * ~1/w-sized sketch of the shingle stream that, unlike minhash,
    * keeps POSITIONS (so matches can be localized) and detects partial
    * overlap (minhash jaccard dilutes a shared paragraph inside a big
    * doc; winnowing still fingerprints it).
    *
    * Computed entirely AT THE SCAN — zero shuffle: the k-gram hash
    * array comes from the native `shingle_hashes_wide` expression
    * (≈2^60 key space — at 30 bits two DIFFERENT k-grams sharing a
    * fingerprint hash becomes routine at corpus scale and
    * [[winnowOverlapSets]]' shared-hash evidence goes noise) and the
    * sliding-window min is a `transform`+`slice`+`array_min`
    * higher-order chain over that per-row array (O(m·w) work per doc,
    * the classic time/shuffle trade — at w=4 the constant is tiny and
    * no corpus-wide (doc, pos, hash) stream is ever exchanged, unlike
    * [[repeatedSpans]] which must shuffle to count across docs).
    * Docs with fewer than w windows (incl. the |tokens|<k whole-doc
    * fallback hash) contribute their single overall minimum.
    *
    * This is the per-row selection (array of (h, np) structs, distinct
    * per doc) over a pre-projected `__keys` column — the ONE definition
    * [[winnowFingerprintSets]] and the in-row stats consumers (q123)
    * share, so the selection rule can never drift between the set and
    * folded forms. */
  private[graft] def winnowSelection(w: Int): Column = {
    val m = size(col("__keys"))
    when(m >= w,
        array_distinct(transform(sequence(lit(1), m - lit(w) + lit(1)),
          j => array_min(slice(col("__keys"), j, lit(w))))))
      .otherwise(array(array_min(col("__keys"))))
  }

  /** (id, __keys) projection feeding [[winnowSelection]]. */
  private[graft] def winnowKeyed(docs: DataFrame, idCol: String,
                                 textCol: String, k: Int,
                                 w: Int): DataFrame = {
    require(k >= 1, s"fingerprint k-gram width must be >= 1, got $k")
    require(w >= 2, s"winnow window must be >= 2, got $w")
    val keys = transform(
      call_function("shingle_hashes_wide",
        TextOps.tokens(col(textCol)), lit(k)),
      (h, i) => struct(h.as("h"), (lit(WinnowP - 1) - i).as("np")))
    docs.select(col(idCol), keys.as("__keys"))
  }

  /** Per-doc fingerprint summary folded IN-ROW (r15, guide §2.4): count,
    * min and hi/lo checksum halves of the selected hashes — exactly the
    * aggregate q123 ran over the exploded (id, pos, h) fingerprint stream
    * (count ≡ size of the selection, min/sums over the same multiset:
    * the selection is distinct in (h, np), so the h multiset matches the
    * stream rows), with ZERO shuffle where the stream form paid the
    * per-doc groupBy exchange. */
  def winnowFingerprintStats(docs: DataFrame, idCol: String,
                             textCol: String, k: Int, w: Int): DataFrame = {
    val hs = transform(winnowSelection(w), key => key.getField("h"))
    winnowKeyed(docs, idCol, textCol, k, w)
      .select(col(idCol), hs.as("__hs"))
      .select(col(idCol),
        size(col("__hs")).cast("long").as("n_fp"),
        array_min(col("__hs")).as("fp_min"),
        aggregate(col("__hs"), lit(0L),
          (a, h) => a + shiftright(h, 31)).as("fp_sum_hi"),
        aggregate(col("__hs"), lit(0L),
          (a, h) => a + h.bitwiseAND(lit((1L << 31) - 1)))
          .as("fp_sum_lo"))
  }

  /** Per-doc DISTINCT winnowed fingerprint-hash set as one array row
    * (id, hs) — the selected fingerprints without positions, for
    * consumers that only need set membership ([[winnowOverlapSets]]): the
    * same hash can be selected at several positions in one doc, and dropping
    * the duplicates in-row (array_distinct over the selection's h field)
    * replaces the corpus-wide distinct() exchange the overlap join used to
    * pay (guide §2.4 — the [[shingleSets]] move applied to the winnow tier).
    * */
  def winnowFingerprintSets(docs: DataFrame, idCol: String,
                            textCol: String, k: Int, w: Int): DataFrame =
    winnowKeyed(docs, idCol, textCol, k, w)
      .select(col(idCol),
        array_distinct(transform(winnowSelection(w),
          key => key.getField("h"))).as("hs"))

  /** Cross-doc overlap from winnowed fingerprints: doc pairs sharing
    * ≥ `minShared` distinct fingerprint hashes, over per-doc distinct
    * fingerprint sets ([[winnowFingerprintSets]]). The MOSS-style
    * plagiarism/overlap report, and the cheap standing alternative to
    * the full LSH cascade when the question is "which docs share ANY
    * sizable passage" rather than "which docs are mostly the same".
    *
    * Scale shape: the join input is the ~2/(w+1)-density fingerprint
    * stream, not the shingle stream. Hashes in more than `maxDocFreq`
    * docs are dropped first (boilerplate — a universal header selects
    * the same fingerprint everywhere and carries no overlap signal),
    * which simultaneously bounds every join bucket at maxDocFreq²
    * pairs — the same frequency-cap skew defense as the LSH band join.
    * The doc-frequency aggregate and the bucket self-join are the only
    * shuffles, both keyed on the fingerprint hash. */
  def winnowOverlapSets(sets: DataFrame, idCol: String,
                        maxDocFreq: Int, minShared: Int): DataFrame = {
    val compact = sets
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    compact.count() // eager: both self-join sides must read, never compute
    graft.core.OpCache.renew("NearDup.winnowOverlapSets", compact)
    val fp = compact.select(col(idCol), explode(col("hs")).as("h"))
    winnowOverlapCore(fp, idCol, maxDocFreq, minShared)
  }

  /** Shared overlap-join tail: doc-frequency cap then bucket self-join
    * on the distinct (id, h) fingerprint stream. */
  private[graft] def winnowOverlapCore(fp: DataFrame, idCol: String,
                                maxDocFreq: Int,
                                minShared: Int): DataFrame = {
    val rare = fp.groupBy(col("h"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxDocFreq)
      .select(col("h"))
    val r = fp.join(rare, Seq("h"), "left_semi")
    r.select(col("h"), col(idCol).as("doc_a"))
      .join(r.select(col("h"), col(idCol).as("doc_b")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** EXACT Jaccard-threshold self-join via prefix filtering (the
    * AllPairs/PPJoin family) — the deterministic alternative to the LSH
    * cascade: zero false negatives by construction, so it is the tier to
    * reach for when a dedup pass must be auditable ("every pair ≥ t IS
    * in the output", no recall argument required).
    *
    * Prefix-filter principle: order each doc's shingle set by GLOBAL
    * document frequency ascending (rarest first, hash tiebreak); two
    * sets with |A∩B|/|A∪B| ≥ t must share at least one element within
    * each other's first `|X| − ⌈t·|X|⌉ + 1` elements. So only prefix
    * shingles are emitted to the bucket join — the frequent-shingle
    * tail (the quadratic blowup in a naive shared-element join) never
    * generates candidates. A size filter (⌈t·|A|⌉ ≤ |B| ≤ ⌊|A|/t⌋)
    * prunes length-incompatible pairs before verification.
    *
    * Plan shape: distinct shingles (persisted — referenced by the DF
    * aggregate, the prefix ranking, and the verify join) → vocabulary-
    * sized DF aggregate joined back → per-doc rank window (partitioned
    * by doc, never global) → prefix bucket self-join → exact-intersection
    * verify in a (doc, hash) join, per-pair work |A∩B|. Candidate volume
    * is prefix-bounded, not corpus-quadratic; every stage is a hash
    * shuffle on keys that shrink with rarity. */
  def setSimJoin(docs: DataFrame, idCol: String, textCol: String,
                 n: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    // per-doc distinct sets computed IN-ROW ([[shingleSets]]): the old
    // stream.distinct() paid a corpus-wide exchange for a dedup that
    // needs no cross-row state, and the per-doc set size needed a second
    // window function over the ranked stream — both are now map-side
    // projections of the compact array frame (guide §2.4)
    val sets = shingleSets(docs, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sets.count() // eager stage boundary: three consumers below
    graft.core.OpCache.renew("NearDup.setSimJoin", sets)
    val sh = sets.select(col(idCol), size(col("hs")).cast("long").as("sz"),
      explode(col("hs")).as("h"))
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("df").asc, col("h").asc)
    val ranked = sh.join(dfreq, "h")
      .select(col(idCol), col("h"),
        row_number().over(w).as("pos"), col("sz"))
    // prefix length |X| − ⌈t·|X|⌉ + 1
    val prefix = ranked
      .filter(col("pos") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col(idCol), col("h"), col("sz"))
    val cand = prefix.select(col("h"), col(idCol).as("doc_a"),
        col("sz").as("sz_a"))
      .join(prefix.select(col("h"), col(idCol).as("doc_b"),
        col("sz").as("sz_b")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      // size filter: t·max ≤ min  ⇔  both bounds at once
      .filter(greatest(col("sz_a"), col("sz_b")) * threshold <=
        least(col("sz_a"), col("sz_b")))
      .select(col("doc_a"), col("doc_b")).distinct()
    jaccardSets(cand, sets, idCol, restrictToPairDocs = true,
        dropZero = true) // threshold > 0 by require: zero-inter pairs drop
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
  }

  /** Sorted-neighborhood blocking (Hernández–Stolfo): sort within each
    * block and emit every pair at sort distance ≤ `w` — the classic
    * entity-resolution candidate generator for "near in an ordering"
    * similarity (here: size-adjacent docs of the same language, a cheap
    * complement to content-based LSH blocking; real deployments sort on
    * normalized names/addresses the same way).
    *
    * The window partitions by the block key — the sort is per-block,
    * never global. At 100 TB the block key must also bound block size
    * (e.g. (lang, size-bucket) with a w-row boundary overlap via a
    * shifted second pass); with language-sized blocks the range
    * partitioner inside the window exchange spreads rows, and w leads
    * per row keep state O(w). Emits (id_a, id_b, block, sort-gap). */
  def sortedNeighborhood(df: DataFrame, idCol: String, blockCol: String,
                         sortCol: String, w: Int): DataFrame = {
    require(w >= 1, s"window must be >= 1, got $w")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(blockCol)).orderBy(col(sortCol).asc, col(idCol).asc)
    val leads = (1 to w).flatMap(i => Seq(
      lead(col(idCol), i).over(win).as(s"id_$i"),
      lead(col(sortCol), i).over(win).as(s"sv_$i")))
    val base = df.select(
      Seq(col(idCol), col(blockCol), col(sortCol)) ++ leads: _*)
    val pairs = (1 to w).map(i =>
      base.filter(col(s"id_$i").isNotNull).select(
        col(idCol).as("id_a"), col(s"id_$i").as("id_b"),
        col(blockCol).as("block"),
        (col(s"sv_$i") - col(sortCol)).as("sort_gap")))
    pairs.reduce(_ unionByName _)
  }
}
