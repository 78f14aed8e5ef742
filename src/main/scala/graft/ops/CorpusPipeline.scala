package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus construction: the standard LLM-data staging
  * (quality filter → exact dedup → MinHash-LSH near-dedup → stratified
  * sample) composed from this library's operators into one deterministic,
  * resumable pipeline.
  *
  * Every stage is a pure DataFrame→DataFrame function; between stages the
  * only materialized state is (doc_id) survivor sets, so at 100 TB each
  * stage streams the corpus once and shuffles only ids/hashes. Dedup
  * survivor choice and sampling are deterministic (content-hash tiebreaks,
  * [[Sampling]] hash membership) — rerunning the pipeline on the same
  * input yields byte-identical output regardless of partitioning.
  */
object CorpusPipeline {

  /** @param minTokens      drop docs shorter than this many tokens
    * @param maxPunctRatio  drop docs with a higher punctuation ratio
    * @param shingleN       n-gram width for near-dup detection
    * @param decontaminationN n-gram width for the eval-decontamination
    *                       stage. Deliberately SEPARATE from shingleN:
    *                       near-dup shingles are short (3) because LSH
    *                       banding tolerates noise, but "one shared
    *                       shingle disqualifies" is calibrated for long
    *                       windows — at n=3 virtually every natural-
    *                       language doc shares some common trigram with
    *                       some benchmark doc and the stage would gut the
    *                       corpus. 8 is the standard eval-decontamination
    *                       window ([[NearDup.contaminationReport]]).
    * @param numHashes      minhash signature length
    * @param rowsPerBand    LSH banding (numHashes/rowsPerBand bands)
    * @param jaccardMin     verified near-dup threshold
    * @param transitiveClusters resolve verified pairs into connected
    *                       components and keep one doc per cluster
    *                       ([[Components]]); false = greedy per-pair drop
    * @param sampleFractions per-language sample fractions ([[Sampling]])
    * @param sampleDefault  fraction for languages not listed
    * @param seed           sampling seed */
  final case class Config(
    minTokens: Int = 5,
    maxPunctRatio: Double = 0.3,
    shingleN: Int = 3,
    decontaminationN: Int = 8,
    numHashes: Int = 16,
    rowsPerBand: Int = 4,
    jaccardMin: Double = 0.8,
    transitiveClusters: Boolean = false,
    sampleFractions: Map[String, Double] = Map.empty,
    sampleDefault: Double = 1.0,
    seed: Long = 42L)

  /** Per-stage survivor counts. `afterQuality` counts quality-filter
    * survivors BEFORE decontamination, so the stage decomposition is
    * explicit: input − afterQuality = quality drops;
    * afterQuality − decontaminated = rows entering exact dedup. */
  final case class Stats(input: Long, afterQuality: Long, afterExact: Long,
                         afterNearDup: Long, output: Long,
                         decontaminated: Long = 0L)

  /** Run the four stages over `docs(doc_id, text, lang)`; returns the
    * surviving rows (original columns) and per-stage counts.
    *
    * Near-dup policy (greedy, default): for every verified pair (a, b)
    * with a < b, the higher id is dropped. Each cluster's smallest id is
    * never a `doc_b`, so it always survives — but a doc whose verified
    * partners all have LARGER ids also survives even when its cluster
    * reaches a smaller doc transitively (pairs (1,3),(2,3) keep doc 2).
    * `cfg.transitiveClusters` switches to exact connected-components
    * clustering ([[Components]]): one survivor — the smallest id — per
    * component, the policy corpus-scale LLM dedup pipelines standardize
    * on. Greedy stays the default because it is one anti-join instead of
    * an iterative fixpoint, and on LSH-shaped graphs (near-cliques) the
    * two differ only on chain topologies. */
  def run(docs: DataFrame, cfg: Config,
          benchmark: Option[DataFrame] = None): (DataFrame, Stats) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val input = docs.count()

    // 1. quality: cheap per-row features, no shuffle, filter at the scan
    val q = TextOps.qualityFeatures(col("text"))
    val quality0 = docs
      .withColumn("__q", q)
      .filter(col("__q.n_tokens") >= cfg.minTokens &&
        col("__q.punct_ratio") <= cfg.maxPunctRatio)
      .drop("__q")

    // 1b. optional eval decontamination: drop docs sharing any
    // decontaminationN-gram with the benchmark set (broadcast semi
    // filter, the corpus stream never shuffles here). The contaminated id
    // set — a tiny sliver — is persisted and counted directly, instead of
    // differencing two corpus-sized counts: that saves one full
    // scan+filter pass over the corpus AND keeps the report from being
    // recomputed by the anti-join below.
    val contaminatedIds = benchmark.map(b =>
      NearDup.contaminationReport(quality0, b, "doc_id", "text",
          cfg.decontaminationN)
        .select(col("doc_id"))
        .persist(MEMORY_AND_DISK))
    val decontaminated = contaminatedIds.fold(0L)(_.count())
    val quality = contaminatedIds.fold(quality0)(ids =>
      quality0.join(ids, Seq("doc_id"), "left_anti"))
    // afterQuality means "survived the QUALITY filter" (decontamination
    // excluded), so input − afterQuality is pure quality drops and
    // afterQuality − decontaminated feeds exact dedup. Contaminated ids
    // are a subset of quality survivors, so the pre-decontamination count
    // is recovered by addition — no second corpus-sized count pass.
    val afterQuality = quality.count() + decontaminated

    // 2. exact dedup: smallest doc_id survives per content hash.
    // Persisted: it feeds the stage count, the shingle stream, AND the
    // final anti-join — without a persist each consumer re-runs the
    // scan+filter+dedup shuffle. This is the pipeline's stage boundary
    // (survivor rows, corpus-sized once, disk-spillable).
    val exact = Dedup.exactDedup(quality, Seq(col("text")),
        col("doc_id").asc)
      .persist(MEMORY_AND_DISK)
    val afterExact = exact.count()
    // exact is materialized — nothing re-reads the quality lineage now
    contaminatedIds.foreach(_.unpersist())

    // 3. near-dup: LSH candidates → exact-Jaccard verify (restricted to
    // candidate docs) → drop the larger id of each verified pair.
    // Bands come from the in-row signature (lshBandsFromDocs) — the
    // shingle-stream groupBy exchange is gone (r14, guide §2.4)
    val pairs = NearDup.candidatePairs(
        NearDup.lshBandsFromDocs(exact, "doc_id", "text", cfg.shingleN,
          cfg.numHashes, cfg.rowsPerBand), "doc_id")
      .select(col("doc_a"), col("doc_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // verify over per-doc distinct sets (NearDup.shingleSets): restricted
    // to pair docs on the persisted survivor frame, so the old stream
    // semi-join + corpus-wide distinct exchange both disappear (r14 §2.4)
    val verified = NearDup.jaccardSets(pairs,
        NearDup.shingleSets(exact, "doc_id", "text", cfg.shingleN),
        "doc_id", dropZero = cfg.jaccardMin > 0)
      .filter(col("jaccard") >= cfg.jaccardMin)
    val dupIds =
      if (cfg.transitiveClusters)
        Components.connectedComponents(
            verified.select(col("doc_a"), col("doc_b")), "doc_a", "doc_b")
          .filter(col("id") =!= col("component"))
          .select(col("id").as("doc_id"))
      else verified.select(col("doc_b").as("doc_id")).distinct()
    val deduped = exact.join(dupIds, Seq("doc_id"), "left_anti")
      .persist(MEMORY_AND_DISK) // consumed by count + sample + caller
    val afterNearDup = deduped.count()

    // 4. deterministic stratified sample by language
    val sampled =
      if (cfg.sampleFractions.isEmpty && cfg.sampleDefault >= 1.0) deduped
      else Sampling.stratifiedHashSample(deduped, col("doc_id"),
        col("lang"), cfg.sampleFractions, cfg.sampleDefault, cfg.seed)
    val output = sampled.count()

    (sampled, Stats(input, afterQuality, afterExact, afterNearDup, output,
      decontaminated))
  }

  /** Incremental append — the daily-drop shape: clean `incoming` and keep
    * only rows that duplicate NEITHER the existing corpus NOR an earlier
    * survivor of the same batch. The existing corpus is never reprocessed:
    * it contributes one content-hash stream (exact tier) and one LSH band
    * stream (near-dup tier), both derived lazily and joined against the
    * (much smaller) increment — at 100 TB corpus + 100 GB drop, all
    * per-doc work is O(|increment|) except the two id/band joins, and
    * those shuffle hashes, not text. Returns only the new survivors (the
    * caller unions/appends them to storage — same contract as
    * [[Dedup.antiAppend]]).
    *
    * Near-dup vs existing keeps the EXISTING doc (first-writer-wins, like
    * the reference's idempotent re-runs); within the increment the
    * smallest doc_id survives as in [[run]].
    *
    * REQUIRES globally unique doc_ids across existing ∪ incoming (an
    * ingest-time monotonic id satisfies this) — the verify tier unions
    * both sides' shingle streams by id. */
  def append(existing: DataFrame, incoming: DataFrame,
             cfg: Config): (DataFrame, Stats) = {
    val f = appendFrames(existing, incoming, cfg)
    val stats = Stats(incoming.count(), f.quality.count(), f.exact.count(),
      f.deduped.count(), f.sampled.count())
    // the stats counts materialized everything downstream of these, so
    // the band caches can be released now. `exact` and `deduped` stay
    // persisted only until the next append: OpCache.renew registered them
    // with the band frames, so that call unpersists all four, and a
    // result chained in as its `existing` is recomputed from lineage
    f.incBands.unpersist()
    f.exBands.unpersist()
    (f.sampled, stats)
  }

  /** [[append]] without the per-stage Stats counts — one lazy plan, for
    * callers that only need the surviving rows (each Stats count is a
    * separate action; skipping them matters when the append runs inside
    * a larger measured pipeline). The stage caches (exact survivors,
    * both band streams, the deduped frame) are registered with
    * [[graft.core.OpCache.renew]]: they stay persisted until the next
    * append, which unpersists each one whose plan it does not repeat. A
    * result chained in as that call's `existing` is then recomputed from
    * its lineage, not read from cache. */
  def appendDocs(existing: DataFrame, incoming: DataFrame,
                 cfg: Config): DataFrame =
    appendFrames(existing, incoming, cfg).sampled

  private final case class AppendFrames(quality: DataFrame,
    exact: DataFrame, deduped: DataFrame, sampled: DataFrame,
    incBands: DataFrame, exBands: DataFrame)

  private def appendFrames(existing: DataFrame, incoming: DataFrame,
                           cfg: Config): AppendFrames = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    // 1+2. within-batch quality filter + exact dedup, then drop rows whose
    // content already exists in the corpus (hash anti-join — text never
    // shuffles)
    val q = TextOps.qualityFeatures(col("text"))
    val quality = incoming
      .withColumn("__q", q)
      .filter(col("__q.n_tokens") >= cfg.minTokens &&
        col("__q.punct_ratio") <= cfg.maxPunctRatio)
      .drop("__q")
    val withHash = Dedup.firstRowPerGroup(
      quality.withColumn("__h", TextOps.polyHash(col("text"))),
      Seq(col("__h")), Seq(col("doc_id").asc))
    val exact = withHash
      .join(existing.select(TextOps.polyHash(col("text")).as("__h")),
        Seq("__h"), "left_anti")
      .drop("__h")
      .persist(MEMORY_AND_DISK)

    // 3. near-dup: increment bands join (existing ∪ increment) bands;
    // a candidate against the corpus always drops the incoming doc, a
    // candidate within the increment drops the larger id
    def bandsOf(df: DataFrame): DataFrame =
      NearDup.lshBandsFromDocs(df, "doc_id", "text", cfg.shingleN,
        cfg.numHashes, cfg.rowsPerBand)
    val incBands = bandsOf(exact).persist(MEMORY_AND_DISK)
    // persisted: referenced three times (both semi-joins + the pair
    // build), and each reference would otherwise re-run the corpus-side
    // shingle→minhash cascade. Bands are (doc, band, sig) hash rows —
    // orders of magnitude smaller than the corpus text they derive from,
    // so this is a disk-spillable stage boundary, not a memory bet.
    val exBands = bandsOf(existing).persist(MEMORY_AND_DISK)
    // vs corpus: any shared bucket is a candidate; verify exact jaccard
    // on the union's shingles (restricted to candidate docs)
    val vsCorpus = incBands
      .join(exBands.select(col("band"), col("band_sig")),
        Seq("band", "band_sig"), "left_semi")
      .select(col("doc_id")).distinct()
    val candDocsEx = exBands
      .join(incBands.select(col("band"), col("band_sig")),
        Seq("band", "band_sig"), "left_semi")
      .select(col("doc_id")).distinct()
    val candSets = NearDup.shingleSets(
      exact.join(vsCorpus, Seq("doc_id"), "left_semi")
        .unionByName(existing.join(candDocsEx, Seq("doc_id"), "left_semi")
          .select(exact.columns.map(col): _*)),
      "doc_id", "text", cfg.shingleN)
    // pairs: (existing doc_a, incoming doc_b) — doc_b is what gets dropped
    val pairsVsCorpus = exBands.join(candDocsEx, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("doc_a"), col("band"), col("band_sig"))
      .join(incBands.select(col("doc_id").as("doc_b"), col("band"),
        col("band_sig")), Seq("band", "band_sig"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val dupVsCorpus = NearDup.jaccardSets(pairsVsCorpus, candSets, "doc_id",
        dropZero = cfg.jaccardMin > 0)
      .filter(col("jaccard") >= cfg.jaccardMin)
      .select(col("doc_b").as("doc_id")).distinct()
    // within increment: the standard candidate cascade on the increment
    val pairsWithin = NearDup.candidatePairs(incBands, "doc_id")
      .select(col("doc_a"), col("doc_b"))
    val dupWithin = NearDup.jaccardSets(pairsWithin,
        NearDup.shingleSets(exact, "doc_id", "text", cfg.shingleN),
        "doc_id", dropZero = cfg.jaccardMin > 0)
      .filter(col("jaccard") >= cfg.jaccardMin)
      .select(col("doc_b").as("doc_id")).distinct()
    val deduped = exact
      .join(dupVsCorpus.unionByName(dupWithin).distinct(),
        Seq("doc_id"), "left_anti")
      .persist(MEMORY_AND_DISK)

    val sampled =
      if (cfg.sampleFractions.isEmpty && cfg.sampleDefault >= 1.0) deduped
      else Sampling.stratifiedHashSample(deduped, col("doc_id"),
        col("lang"), cfg.sampleFractions, cfg.sampleDefault, cfg.seed)
    // bound the scratch persists across invocations (OpCache contract):
    // [[appendDocs]] callers never release them, so a long-lived session
    // — or a memory-constrained bench JVM re-invoking the append —
    // would otherwise stack one generation of four MEMORY_AND_DISK
    // frames per call until eviction starts taxing later queries
    graft.core.OpCache.renew("CorpusPipeline.appendFrames",
      exact, incBands, exBands, deduped)
    AppendFrames(quality, exact, deduped, sampled, incBands, exBands)
  }
}
