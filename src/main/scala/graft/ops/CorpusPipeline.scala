package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental training-corpus construction: the standard LLM-data
  * staging (quality filter → exact dedup → MinHash-LSH near-dedup →
  * stratified sample) composed from this library's operators into one
  * deterministic append of a new drop to an existing corpus.
  *
  * Every stage is a pure DataFrame→DataFrame function; between stages the
  * only materialized state is survivor sets and hash/band streams, so at
  * 100 TB each stage streams the increment once and shuffles only
  * ids/hashes. Dedup survivor choice and sampling are deterministic
  * (content-hash tiebreaks, [[Sampling]] hash membership) — rerunning the
  * append on the same input yields byte-identical output regardless of
  * partitioning.
  */
object CorpusPipeline {

  /** @param minTokens      drop docs shorter than this many tokens
    * @param maxPunctRatio  drop docs with a higher punctuation ratio
    * @param shingleN       n-gram width for near-dup detection
    * @param numHashes      minhash signature length
    * @param rowsPerBand    LSH banding (numHashes/rowsPerBand bands)
    * @param jaccardMin     verified near-dup threshold
    * @param sampleFractions per-language sample fractions ([[Sampling]])
    * @param sampleDefault  fraction for languages not listed
    * @param seed           sampling seed */
  final case class Config(
    minTokens: Int = 5,
    maxPunctRatio: Double = 0.3,
    shingleN: Int = 3,
    numHashes: Int = 16,
    rowsPerBand: Int = 4,
    jaccardMin: Double = 0.8,
    sampleFractions: Map[String, Double] = Map.empty,
    sampleDefault: Double = 1.0,
    seed: Long = 42L)

  /** Incremental append — the daily-drop shape: clean `incoming` and keep
    * only rows that duplicate NEITHER the existing corpus NOR an earlier
    * survivor of the same batch. The existing corpus is never reprocessed:
    * it contributes one content-hash stream (exact tier) and one LSH band
    * stream (near-dup tier), both derived lazily and joined against the
    * (much smaller) increment — at 100 TB corpus + 100 GB drop, all
    * per-doc work is O(|increment|) except the two id/band joins, and
    * those shuffle hashes, not text. Returns only the new survivors as one
    * lazy plan; the caller unions or appends them to storage.
    *
    * Near-dup vs existing keeps the EXISTING doc (first-writer-wins, like
    * the reference's idempotent re-runs); within the increment the
    * smallest doc_id survives: for every verified pair (a, b) with a < b,
    * the higher id is dropped.
    *
    * REQUIRES globally unique doc_ids across existing ∪ incoming (an
    * ingest-time monotonic id satisfies this) — the verify tier unions
    * both sides' shingle sets by id.
    *
    * The stage caches (exact survivors, both band streams, the deduped
    * frame) are registered with [[graft.core.OpCache.renew]]: they stay
    * persisted until the next append, which unpersists each one whose plan it
    * does not repeat. A result chained in as that call's `existing` is then
    * recomputed from its lineage, not read from cache. */
  def appendDocs(existing: DataFrame, incoming: DataFrame,
                 cfg: Config): DataFrame = {
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
    // callers never release them, so a long-lived session
    // — or a memory-constrained bench JVM re-invoking the append —
    // would otherwise stack one generation of four MEMORY_AND_DISK
    // frames per call until eviction starts taxing later queries
    graft.core.OpCache.renew("CorpusPipeline.appendDocs",
      exact, incBands, exBands, deduped)
    sampled
  }
}
