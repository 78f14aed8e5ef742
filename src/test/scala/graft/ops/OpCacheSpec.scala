package graft.ops

import graft.SparkSpecBase
import graft.core.{OpCache, Tables}

/** Scratch-persist bookkeeping ([[graft.core.OpCache]]): operators whose
  * returned lazy frame still reads an internal persist register it, and
  * the NEXT invocation of the same call site drops the previous
  * generation — so a long-lived library session holds a BOUNDED cache
  * (one generation per operator), not one dead CacheManager entry per
  * past call. */
class OpCacheSpec extends SparkSpecBase {

  private def persistedRdds: Int = spark.sparkContext.getPersistentRDDs.size

  test("repeated exciseSpans calls hold one scratch generation") {
    spark.catalog.clearCache()
    OpCache.releaseAll()
    val docs = Tables.documents(spark, sf)
    NearDup.exciseSpans(docs, "doc_id", "text", 8).count()
    val afterFirst = persistedRdds
    NearDup.exciseSpans(docs, "doc_id", "text", 8).count()
    NearDup.exciseSpans(docs, "doc_id", "text", 8).count()
    // previous generations dropped at each renew — no growth across calls
    assert(persistedRdds <= afterFirst,
      s"scratch persists accumulated: $afterFirst -> $persistedRdds")
  }

  test("repeated setSimJoin + winnowOverlap calls stay bounded") {
    spark.catalog.clearCache()
    OpCache.releaseAll()
    val docs = Tables.documents(spark, sf)
    def once(): Unit = {
      NearDup.setSimJoin(docs, "doc_id", "text", 5, 0.7).count()
      NearDup.winnowOverlapSets(
        NearDup.winnowFingerprintSets(docs, "doc_id", "text", 5, 4),
        "doc_id", 20, 2).count()
    }
    once()
    val afterFirst = persistedRdds
    once(); once()
    assert(persistedRdds <= afterFirst,
      s"scratch persists accumulated: $afterFirst -> $persistedRdds")
  }

  test("identical-plan repeat keeps the shared cache entry (dedup path)") {
    spark.catalog.clearCache()
    OpCache.releaseAll()
    val docs = Tables.documents(spark, sf)
    NearDup.winnowOverlapSets(
      NearDup.winnowFingerprintSets(docs, "doc_id", "text", 5, 4),
      "doc_id", 20, 2).count()
    val before = persistedRdds
    // same input → same canonicalized plan → CacheManager dedups; renew
    // must NOT evict the entry the second invocation is riding
    NearDup.winnowOverlapSets(
      NearDup.winnowFingerprintSets(docs, "doc_id", "text", 5, 4),
      "doc_id", 20, 2).count()
    assert(persistedRdds == before,
      s"shared entry evicted or duplicated: $before -> $persistedRdds")
  }

  test("different-plan generations ARE dropped (the leak case)") {
    spark.catalog.clearCache()
    OpCache.releaseAll()
    val docs = Tables.documents(spark, sf)
    NearDup.exciseSpans(docs.limit(40), "doc_id", "text", 8).count()
    val afterFirst = persistedRdds
    // a DIFFERENT input plan: previous generation must be unpersisted,
    // so the persisted-RDD count stays bounded instead of accumulating
    NearDup.exciseSpans(docs.limit(60), "doc_id", "text", 8).count()
    NearDup.exciseSpans(docs.limit(80), "doc_id", "text", 8).count()
    assert(persistedRdds <= afterFirst,
      s"stale generations accumulated: $afterFirst -> $persistedRdds")
  }

  test("releaseAll empties the registry and is idempotent") {
    val docs = Tables.documents(spark, sf)
    NearDup.contaminationReport(docs, docs.limit(5), "doc_id", "text")
      .count()
    assert(OpCache.size >= 1)
    OpCache.releaseAll()
    assert(OpCache.size == 0)
    OpCache.releaseAll() // second call: nothing to drop, no throw
    assert(OpCache.size == 0)
  }

  test("renewed frames recompute correctly after eviction (lineage intact)") {
    spark.catalog.clearCache()
    OpCache.releaseAll()
    val docs = Tables.documents(spark, sf)
    // hold the FIRST invocation's lazy result, invoke again (dropping
    // the first's scratch), then act on the stale frame: it must
    // recompute to the same result, not fail or go stale
    val first = NearDup.exciseSpans(docs, "doc_id", "text", 8)
    val n1 = first.count()
    NearDup.exciseSpans(docs, "doc_id", "text", 8).count()
    assert(first.count() == n1)
  }
}
