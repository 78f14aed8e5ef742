package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the properties that make these plans survive
  * a 100× scale-up — broadcast joins for dims, pushed filters and pruned
  * columns at the parquet scan, whole-stage codegen on hot paths. These
  * are the `.explain` checks done once while authoring, frozen as tests so
  * a regression (e.g. a lost broadcast after a refactor) fails loudly. */
class PlanQualitySpec extends SparkSpecBase {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("star join broadcasts every dimension (q02)") {
    val p = plan(graft.queries.Relational.q02RevenueByNation(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    // lineitem⋈orders may be shuffle/broadcast depending on stats; the
    // three dims must all broadcast: count occurrences
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
  }

  test("filter pushdown reaches the parquet scan (q01)") {
    val p = plan(graft.queries.Relational.q01PricingSummary(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "LessThanOrEqual(l_shipdate"), p)
  }

  test("column pruning: q01 scan reads only the 6 needed columns") {
    val p = plan(graft.queries.Relational.q01PricingSummary(spark, sf))
    val readSchema = p.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") &&
      readSchema.contains("l_quantity") &&
      !readSchema.contains("l_partkey") &&
      !readSchema.contains("l_suppkey"), readSchema)
  }

  test("anti and semi joins plan as their dedicated join types") {
    assert(plan(graft.queries.Relational.q03CustomersWithoutOrders(spark, sf))
      .contains("LeftAnti"))
    assert(plan(graft.queries.Relational.q04OrdersWithBigLineitem(spark, sf))
      .contains("LeftSemi"))
  }

  test("top-n plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(graft.queries.Relational.q11TopUsersByEvents(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("scalable dense-id adds no global single-partition sort") {
    val df = graft.queries.Relational.q06DenseIdCustomers(spark, sf)
    // the plan must not contain a single-partition Exchange (the signature
    // of Window.orderBy without partitioning)
    assert(!plan(df).contains("Exchange SinglePartition"), plan(df))
  }

  test("ETL person: the person-map join broadcasts, no lookup join remains") {
    // (conditionOccurrence's plan is split by the dense-id RDD boundary;
    // person keeps one lineage end-to-end, so its plan shows the joins)
    import spark.implicits._
    val typed = Seq(("u1", "M", "white", "nonhispanic"))
      .toDF("id", "gender_source", "race_source", "ethnicity_source")
      .withColumn("birthdate", lit("1980-01-01").cast("date"))
    val pm = Seq(("u1", 1L)).toDF("source_patient_id", "person_id")
    val p = plan(graft.etl.Domains.person(typed,
      graft.etl.Domains.IdMaps(pm, pm, 1, 0)))
    // the one join is the broadcast person map; the demographic lookups
    // are map literals, so the only local scans are the two inputs
    assert("BroadcastHashJoin".r.findAllIn(p).size == 1, p)
    assert("LocalTableScan".r.findAllIn(p).size == 2, p)
  }

  test("semDedup pair join keys on the cluster id, never all-pairs") {
    val p = plan(graft.queries.VectorQueries.qSemDedup(spark, sf))
    // the only nested-loop join is the k-sized broadcast of the centroid
    // codebook during assignment (its cached plan prints once per
    // InMemoryTableScan reference, so NLJ occurrences aren't countable
    // from the string); the within-cluster self-join must be an
    // equi-join on list_id — a CartesianProduct would mean the cluster
    // blocking was lost and the pair volume is |corpus|²
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    // every NLJ in the tree is the assignment's broadcast of the
    // centroid frame, never a corpus-sized stream side
    assert(!p.linesIterator.exists(l =>
      l.contains("BroadcastNestedLoopJoin") && !l.contains("BuildRight")), p)
  }

  test("repeatedSpans: scan-side windows, semi join, per-doc islands") {
    val p = plan(graft.queries.TextQueries.qRepeatedSpans(spark, sf))
    // window hashing happens at the scan (Generate = the posexplode),
    // the repeated-hash restriction is a semi join, and the islands
    // window is PARTITIONED by doc — a single-partition window here
    // would serialize the whole corpus through one task
    assert(p.contains("Generate"), p)
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("exciseSpans: doc-keyed joins only, no single-partition window, " +
      "no cartesian") {
    val p = plan(graft.queries.TextQueries.qExciseSpans(spark, sf))
    // windows hash at the scan; the dup restriction and the span
    // join-back are keyed joins; the islands window partitions by doc
    assert(p.contains("Generate"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("interval merge plans one exchange; both windows share its sort") {
    val p = plan(graft.queries.Relational.q52IntervalMerge(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("NestedLoop"), p)
  }

  test("banded range join is a hash join, never a nested loop") {
    val p = plan(graft.queries.Relational.q53RangeJoin(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("hash sampling is a scan-level filter — no shuffle, no UDF") {
    val docs = graft.core.Tables.documents(spark, sf)
    val p = plan(graft.ops.Sampling.stratifiedHashSample(docs, col("doc_id"),
      col("lang"), Map("en" -> 0.25), 0.5, 1))
    assert(!p.contains("Exchange"), p)
    assert(!p.toLowerCase.contains("batchevalpython") &&
      !p.contains("ScalaUDF"), p)
  }

  test("weighted sample (q94) is bounded top-k, never a global sort") {
    val p = plan(graft.queries.TextQueries.qWeightedSample(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("rebalance-to-mix (q95) applies as a scan-level filter") {
    // after the driver-side fraction solve, the sample itself must be a
    // pure per-row predicate: no shuffle, no UDF
    val p = plan(graft.queries.TextQueries.qRebalanceMix(spark, sf))
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("token chunking is pure per-row expansion — no shuffle at all") {
    val p = plan(graft.ops.TextOps.chunkRows(
      graft.core.Tables.documents(spark, sf), "doc_id", "text", 64, 48))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Generate"), p) // the explode, at the scan
  }

  test("grouping sets plan one Expand + hash agg pass, not a scan per level") {
    val p = plan(graft.queries.Relational.q62GroupingSets(spark, sf))
    assert(p.contains("Expand"), p)
    // one scan of orders feeds all three levels
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
  }

  test("tfidf df-side aggregates before its join; no text in the shuffle") {
    val p = plan(graft.queries.TextQueries.qTfIdfTerms(spark, sf))
    // the (doc,term) tf aggregate is partial before the exchange
    assert(p.contains("partial_count") || p.contains("partial_"), p)
    // the corpus-size side rides in as a broadcast, not a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
  }

  test("histogram shuffles O(nbins) partial-agg rows, never the data") {
    val p = plan(graft.queries.Relational.q74Histogram(spark, sf))
    // partial aggregation before the single exchange: the shuffle input
    // is ≤nbins rows per task regardless of scan size
    assert(p.contains("partial_count"), p)
    assert("Exchange".r.findAllIn(p).size == 1, p)
  }

  test("bigram top-k: per-row codegen'd pair build + bounded top-k") {
    val p = plan(graft.queries.TextQueries.qBigramTopK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p) // never a global sort
    assert(!p.contains("SortAggregate"), p)        // hash agg on the pairs
  }

  test("postings: window reuses the token partitioning for the final agg") {
    val p = plan(graft.queries.TextQueries.qPostings(spark, sf))
    // exactly two exchanges: explode→(token,doc) agg, then token window;
    // the final per-token aggregate must NOT add a third
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  test("gap-fill window reuses the spine's key partitioning (2 exchanges)") {
    val p = plan(graft.queries.Relational.q86GapFill(spark, sf))
    // spine agg + observation agg; the forward-fill Window and the
    // spine⋈obs join must NOT add a third hash exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("outlier detection broadcasts its groups-sized stats side") {
    val p = plan(graft.queries.Relational.q90Outliers(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p) // stats never shuffle rows
  }

  test("explicit-values pivot plans one scan + one agg pass") {
    val p = plan(graft.queries.Relational.q78Pivot(spark, sf))
    assert("Scan parquet".r.findAllIn(p).size == 1, p) // no discovery job
    assert(p.contains("partial_"), p) // map-side combine before the shuffle
  }

  test("unpivot is a per-row Expand, shuffling only the 3-group aggregate") {
    val p = plan(graft.queries.Relational.q79Unpivot(spark, sf))
    assert(p.contains("Expand"), p)
    assert("Exchange".r.findAllIn(p).size == 1, p)
  }

  test("redaction and normalization stay whole-stage-codegen'd, no UDF") {
    for (df <- Seq(graft.queries.TextQueries.qRedact(spark, sf),
                   graft.queries.TextQueries.qNormalize(spark, sf))) {
      val p = plan(df)
      assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
      assert(p.contains("*(1)"), p) // whole-stage codegen span marker
      assert(!p.contains("Exchange"), p) // pure per-row map over the scan
    }
  }

  test("bigram LM score builds its bigram stream without a window sort") {
    // the lead()-window formulation would Sort+Exchange the corpus token
    // stream per doc; the array-zip build must plan NO Sort at all —
    // every Exchange is a hash agg/join boundary, none a sort prelude
    val p = plan(graft.queries.TextQueries.qBigramQuality(spark, sf))
    assert(!p.contains("Sort "), p)
    assert(!p.contains("Window"), p)
  }

  test("pack manifest: one shard-window exchange, per-row pack explode") {
    val p = plan(graft.queries.TextQueries.qPackManifest(spark, sf))
    // exactly the shard running-sum exchange — the explode adds none
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("pq re-rank touches corpus floats only via the shortlist join") {
    val p = plan(graft.queries.VectorQueries.qPqRerank(spark, sf))
    // the queries side broadcasts into the exact tier; no cartesian of
    // corpus embeddings anywhere in the re-rank
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pmi top-20 is TakeOrdered over pruned bigrams, totals broadcast") {
    val p = plan(graft.queries.TextQueries.qPmiBigrams(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    // (the scalar totals aggregate legitimately plans a SinglePartition
    // exchange of one partial row per task — that's not a global sort)
    // the 1-row totals frame must broadcast, never shuffle-join
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("int8 quant never shuffles vectors: one stats agg, broadcast scales") {
    val p = plan(graft.queries.VectorQueries.qInt8Quant(spark, sf))
    // exactly the per-dim stats aggregation exchanges; the quantize pass
    // joins the broadcast 1-row scale table
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("vocab coverage: single-partition work is capped at the top-1024") {
    val df = graft.queries.TextQueries.qVocabCoverage(spark, sf)
    val p = plan(df)
    // the window runs AFTER a TakeOrdered(1024) — the only
    // single-partition exchange moves ≤1024 rows
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("funnel aggregates map-side: no per-user sort or window") {
    val p = plan(graft.queries.Relational.q119Funnel(spark, sf))
    assert(!p.contains("Window"), p)
    assert(!p.contains("Sort "), p)
  }

  test("winnowing is scan-side: zero shuffle, per-doc stats fold in-row") {
    val p = plan(graft.queries.TextQueries.qWinnowFp(spark, sf))
    // the sliding-window min AND the per-doc count/min/checksum stats
    // all run inside the projection (higher-order array funcs over the
    // shingle_hashes array, r15 winnowFingerprintStats) — the plan has
    // NO exchange at all; the r14 form still paid one doc-keyed
    // aggregate exchange after an explode, the positional form a
    // shuffle+sort of the corpus-wide token stream
    assert("Exchange".r.findAllIn(p).isEmpty, p)
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Sort "), p)
  }

  test("winnow overlap joins the persisted fingerprint sliver, not scans") {
    val p = plan(graft.queries.TextQueries.qWinnowOverlap(spark, sf))
    // the distinct fingerprint frame is a persisted stage boundary: the
    // df-aggregate and both self-join sides all read the cache (the
    // FileScan strings inside InMemoryRelation nodes are the cached
    // plan's rendering, not live scans)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("KMV sketch aggregates partially: map-side sketch merge (q128)") {
    val p = plan(graft.queries.TextQueries.qKmvDistinct(spark, sf))
    // the udaf plans as ObjectHashAggregate partial+final per branch —
    // the shuffle carries k-entry sketches, never the token-hash stream
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("hard negatives broadcast the anchor set, corpus streams (q130)") {
    val p = plan(graft.queries.VectorQueries.qHardNegatives(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("prefix dedup and quality CDF shuffle exactly once") {
    // one hash/window key each — any second Exchange means the group
    // stats stopped riding the same partitioning
    val p1 = plan(graft.queries.TextQueries.qPrefixDedup(spark, sf))
    assert("Exchange".r.findAllIn(p1).size == 1, p1)
    val p2 = plan(graft.queries.TextQueries.qQualityCdf(spark, sf))
    assert("Exchange".r.findAllIn(p2).size == 1, p2)
  }

  test("phrase search is scan-side: zero Exchange (q143)") {
    val p = plan(graft.queries.TextQueries.qPhraseSearch(spark, sf))
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Generate"), p) // no explode either
  }

  test("coverage gaps: one key-partitioned window exchange (q140)") {
    val p = plan(graft.queries.Relational.q140CoverageGaps(spark, sf))
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("MIPS broadcasts queries, corpus streams (q142)") {
    val p = plan(graft.queries.VectorQueries.qMipsTopK(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("AUC never sorts rows globally: windows partition by stratum (q158)") {
    val p = plan(graft.queries.TextQueries.qAuc(spark, sf))
    assert(!p.contains("Exchange SinglePartition"), p)
    // rank arithmetic runs AFTER aggregation to distinct scores: the
    // window's input is a HashAggregate, not the raw doc stream
    assert(p.contains("Window"), p)
  }

  test("transition matrix: no single-partition stage (q160)") {
    val p = plan(graft.queries.Relational.q160Transitions(spark, sf))
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("skip-gram pairs are scan-side: one shuffle then TakeOrdered (q164)") {
    val p = plan(graft.queries.TextQueries.qSkipgrams(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    // pair generation must not plan a positional self-join
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("welch A/B is a single hash-aggregation pass (q165)") {
    val p = plan(graft.queries.Relational.q165WelchAb(spark, sf))
    assert("HashAggregate".r.findAllIn(p).size == 2, p) // partial+final
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("table digest is one scan + one partial-agg pass (q174)") {
    val p = plan(graft.queries.Relational.q174TableDigest(spark, sf))
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert("HashAggregate".r.findAllIn(p).size == 2, p)
    assert(!p.contains("Generate") && !p.contains("Join"), p)
  }

  test("benford ladder is scan-side: one aggregation, no join on data (q176)") {
    val p = plan(graft.queries.Relational.q176Benford(spark, sf))
    // digits groupBy + a 1-row total broadcast back — never a row sort
    // (the total's SinglePartition exchange carries 9 digit rows, fine)
    assert(!p.contains("SortMergeJoin") && !p.contains("Sort "), p)
  }

  test("basket rules aggregate to the item-pair domain (q178)") {
    val p = plan(graft.queries.Relational.q178BasketRules(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p) // marginals broadcast back
    assert(!p.contains("CartesianProduct"), p)
  }

  test("quantile normalization windows partition by group (q170)") {
    val p = plan(graft.queries.TextQueries.qQuantileNorm(spark, sf))
    // the pooled-CDF window is value-domain-sized by construction; the
    // per-row window must be group-partitioned
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ewma window and aggregate share the key partitioning (q184)") {
    val p = plan(graft.queries.Relational.q184Ewma(spark, sf))
    // rank window partitions by key; the final groupBy(key) must reuse
    // that exchange, and nothing may collapse to a single partition
    assert(!p.contains("Exchange SinglePartition"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("twap lead-window and aggregate share one exchange (q185)") {
    val p = plan(graft.queries.Relational.q185Twap(spark, sf))
    assert(!p.contains("Exchange SinglePartition"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("grouped OLS is one partial-agg pass, no window (q186)") {
    val p = plan(graft.queries.Relational.q186Ols(spark, sf))
    assert("HashAggregate".r.findAllIn(p).size == 2, p)
    assert(!p.contains("Window") && !p.contains("Join"), p)
  }

  test("jaro-winkler pairs come from a block equi-join, codegen'd (q188)") {
    val p = plan(graft.queries.Relational.q188JaroNames(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the native expression must appear inside the generated stage,
    // not as a BatchEvalPython/ScalaUDF row step
    assert(!p.contains("ScalaUDF"), p)
  }

  test("count-min probe broadcasts the sketch (q189)") {
    val p = plan(graft.queries.Relational.q189CountMin(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("naive proximity join auto-plans as banded equi-join (q201)") {
    val p = plan(graft.queries.Relational.q201AutoRangeJoin(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("Expand"), p) // the 3-band probe replication
  }

  test("rrf rank windows run over limit-bounded input (q190)") {
    val p = plan(graft.queries.Relational.q190Rrf(spark, sf))
    // distributed top-k first; the single-partition stages after it
    // carry <= 100 rows each
    assert(p.contains("TakeOrderedAndProject"), p)
  }
}
