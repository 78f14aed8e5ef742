package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dedup operators (SURVEY.md §2.3 J4/J6).
  *
  * The reference keeps first-row-per-group with Postgres `DISTINCT ON`
  * (enhanced_synthea_to_omop.py:786-811) and guards re-runs with
  * `NOT IN (subquery)` / `NOT EXISTS` (:775,1122-1127). Spark-first
  * re-expression: row_number windows under a deterministic order, and a
  * rerun that overwrites its output with the same rows instead of an
  * anti-joined append. All of these shuffle on their key — at 100 TB the
  * key choice IS the partitioning, so callers pass explicit keys and
  * nothing ever collects to the driver.
  */
object Dedup {

  /** J6/W1: Postgres `DISTINCT ON (part) ... ORDER BY part, ord` — keep the
    * first row per group under a *deterministic* order. Where the reference
    * omits ORDER BY (populate_visit_map_v2.sql:10, arbitrary row), callers
    * must pick a tiebreak; this API makes the order mandatory (SURVEY.md
    * §7.4 risk 2). */
  def firstRowPerGroup(df: DataFrame, partitionBy: Seq[Column],
                       orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Top-N per group under a deterministic order; keeps the rank in `__rn`
    * (caller renames or drops). Same shuffle shape as firstRowPerGroup. */
  def firstRowPerGroupN(df: DataFrame, partitionBy: Seq[Column],
                        orderBy: Seq[Column], n: Int): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
  }

  /** PARAGRAPH-level exact dedup — the C4/CCNet/Dolma pipeline stage
    * that doc-level dedup cannot express: boilerplate paragraphs
    * (headers, license blocks, navigation text) repeat across millions
    * of otherwise-distinct pages. Split each doc on `sepRegex`, keep
    * each distinct paragraph ONLY at its first occurrence — minimal
    * (doc, position) over the whole corpus, both aggregates map-side
    * combinable — and reassemble every doc from its surviving
    * paragraphs in original order.
    *
    * Scale shape: one shuffle keyed on the paragraph STRING (exact
    * semantics — no hash-collision merges; the shuffle carries each
    * distinct paragraph once per partition thanks to partial
    * aggregation), a second (paragraph, doc)-keyed min, a semi-join
    * back, and a doc-keyed reassembly agg. Nothing is corpus-quadratic
    * and nothing collects. The keep rule is a total order, so output
    * is partitioning-invariant (oracle-exact).
    *
    * Output: one row per input doc — (id, n_pars, n_kept,
    * text_deduped); docs whose every paragraph was removed (or that
    * had none) come back with n_kept = 0 and empty text. */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     sepRegex: String = "\\n{2,}",
                     joiner: String = "\n\n"): DataFrame = {
    val pars = docs
      .select(col(idCol), posexplode(split(col(textCol), sepRegex))
        .as(Seq("__pos", "__par")))
      .filter(length(trim(col("__par"))) > 0)
    // first occurrence = lexicographic min (doc, pos), computed as two
    // stacked map-side-combinable mins (no window, no struct-order
    // subtleties to keep in sync with the oracle); intermediates rename
    // their keys so the lineage-sharing joins below stay unambiguous
    val keepDoc = pars.groupBy(col("__par"))
      .agg(min(col(idCol)).as("__kd"))
      .select(col("__par").as("__dpar"), col("__kd"))
    val keepPos = pars
      .join(keepDoc, col("__par") === col("__dpar") &&
        col(idCol) === col("__kd"))
      .groupBy(col("__dpar"), col("__kd"))
      .agg(min(col("__pos")).as("__kp"))
      .select(col("__dpar").as("__kpar"), col("__kd"), col("__kp"))
    val kept = pars.join(keepPos,
      col("__par") === col("__kpar") &&
        col(idCol) === col("__kd") && col("__pos") === col("__kp"))
      .select(col(idCol), col("__pos"), col("__par"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__par")))),
          s => s.getField("__par")), joiner).as("text_deduped"))
    val counts = pars.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_pars"))
    docs.select(col(idCol))
      .join(counts, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_pars"), lit(0L)).as("n_pars"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"))
  }

  /** [[paragraphDedup]] with the dedup shuffles keyed on a 128-bit
    * paragraph hash instead of the paragraph string — the 100 TB
    * spelling. The exact path's first aggregation shuffles each
    * DISTINCT paragraph string once per map partition; on a web-scale
    * corpus that is most of the corpus' bytes crossing the wire twice
    * (the min-doc agg and the min-pos join). Here the dedup keys are
    * two independent xxhash64 values (16 bytes per paragraph — the
    * second seeded differently by prefixing a literal to the hash
    * stream), paragraphs stay map-side until the final kept-only
    * doc-keyed reassembly, and the keep rule (corpus-minimal (doc,
    * pos)) is unchanged.
    *
    * Contract: output is row-for-row [[paragraphDedup]] (spec-pinned)
    * UNLESS two distinct paragraphs collide on both 64-bit hashes —
    * probability ≈ P²/2¹²⁹ over P distinct paragraphs, ≈ 10⁻¹⁵ even at
    * P = 10¹² — in which case the later one is treated as a duplicate
    * of the earlier (dropped, never corrupted). Measured at sf10
    * (500k docs; SCALE.md "Hash-keyed paragraph dedup"): 235 MB total
    * shuffle write vs the exact path's 507 MB (54% less) at 2.0× the
    * speed — and the exact path's shuffle grows with corpus TEXT bytes
    * while this one grows with paragraph COUNT. */
  def paragraphDedupHashed(docs: DataFrame, idCol: String, textCol: String,
                           sepRegex: String = "\\n{2,}",
                           joiner: String = "\n\n"): DataFrame = {
    val pars = docs
      .select(col(idCol), posexplode(split(col(textCol), sepRegex))
        .as(Seq("__pos", "__par")))
      .filter(length(trim(col("__par"))) > 0)
      .withColumn("__h1", xxhash64(col("__par")))
      .withColumn("__h2", xxhash64(lit(1), col("__par")))
    val keepDoc = pars.groupBy(col("__h1"), col("__h2"))
      .agg(min(col(idCol)).as("__kd"))
      .select(col("__h1").as("__d1"), col("__h2").as("__d2"), col("__kd"))
    val keepPos = pars
      .join(keepDoc, col("__h1") === col("__d1") &&
        col("__h2") === col("__d2") && col(idCol) === col("__kd"))
      .groupBy(col("__d1"), col("__d2"), col("__kd"))
      .agg(min(col("__pos")).as("__kp"))
    val kept = pars.join(keepPos,
      col("__h1") === col("__d1") && col("__h2") === col("__d2") &&
        col(idCol) === col("__kd") && col("__pos") === col("__kp"))
      .select(col(idCol), col("__pos"), col("__par"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__par")))),
          s => s.getField("__par")), joiner).as("text_deduped"))
    val counts = pars.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_pars"))
    docs.select(col(idCol))
      .join(counts, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_pars"), lit(0L)).as("n_pars"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"))
  }

  /** Prefix dedup: documents sharing the same first-`prefixTokens`-token
    * prefix are one group — the crawl-pipeline middle ground between
    * exact dedup (whole-content hash; misses appended-boilerplate copies)
    * and MinHash near-dup (pays the shingle cascade). Template pages,
    * truncated re-crawls, and pagination copies share long prefixes —
    * at 100 TB this is the cheap first dedup tier run before the LSH
    * cascade ever sees the corpus.
    *
    * Group identity is the EXACT prefix string, not its hash: a dedup
    * decision on a 30-bit poly-hash alone falsely merges ~n²/2·10⁹
    * birthday-colliding prefixes (hundreds of wrongly-dropped docs per
    * billion — the same defect class the span exciser's scale run
    * caught; SCALE.md "Exact-substring excision"). The prefix is bounded
    * at `prefixTokens` tokens, so the shuffle carries ~100 B/doc instead
    * of 8 — the price of never deleting a non-duplicate; `prefix_hash`
    * remains in the output as the group's compact display/bucketing key.
    *
    * Output: one row per doc — (id, prefix_hash, group_n, rep, is_kept)
    * where rep = the group's smallest id and is_kept marks it. Docs
    * shorter than the prefix group on their whole token stream. */
  def prefixDedup(docs: DataFrame, idCol: String, textCol: String,
                  prefixTokens: Int): DataFrame = {
    require(prefixTokens >= 1,
      s"prefix width must be >= 1, got $prefixTokens")
    val prefix = concat_ws(" ",
      slice(TextOps.tokens(col(textCol)), 1, prefixTokens))
    val withPre = docs.select(col(idCol), prefix.as("__pre"),
      TextOps.polyHash(prefix).as("prefix_hash"))
    val w = Window.partitionBy(col("__pre"))
    withPre
      .withColumn("group_n", count(lit(1)).over(w))
      .withColumn("rep", min(col(idCol)).over(w))
      .withColumn("is_kept", col(idCol) === col("rep"))
      .drop("__pre")
  }

  /** Golden-record survivorship: after entity resolution has grouped
    * records into clusters ([[exactDupGroups]], [[prefixDedup]],
    * [[graft.ops.Components.connectedComponents]],
    * [[graft.ops.Linkage.fellegiSunter]] — any of them), pick the
    * CANONICAL value of each attribute per cluster: the modal non-null
    * value, ties broken deterministically (higher support first, then
    * smaller value — so two engines and two runs agree). Output is
    * long-format, one row per (cluster, attr): canonical value (as
    * string; survivorship is a per-attribute vote, not a typed merge),
    * its support count, and the cluster's non-null count for that
    * attribute — the consolidation step that turns "these N rows are
    * the same entity" into ONE row a downstream join can use.
    *
    * Scale shape: two hash aggregations — (cluster, attr, value) counts,
    * then an argmax per (cluster, attr) via min(struct(−cnt, value)) so
    * NO window pass and no re-sort; both shuffles are vote-domain-sized,
    * never corpus-row-sized, and the melt (one array of attr structs per
    * row) happens scan-side. */
  def goldenRecord(df: DataFrame, clusterCol: Column,
                   attrs: Seq[String]): DataFrame = {
    val melted = df.select(clusterCol.as("cluster"),
      explode(array(attrs.map(a =>
        struct(lit(a).as("attr"), col(a).cast("string").as("v"))): _*))
        .as("kv"))
      .select(col("cluster"), col("kv.attr").as("attr"),
        col("kv.v").as("v"))
      .filter(col("v").isNotNull)
    melted.groupBy(col("cluster"), col("attr"), col("v"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col("cluster"), col("attr"))
      .agg(min(struct((-col("__cnt")).as("nc"), col("v").as("v")))
        .as("__pick"),
        sum(col("__cnt")).cast("long").as("n_nonnull"))
      .select(col("cluster"), col("attr"),
        col("__pick.v").as("canonical"),
        (-col("__pick.nc")).cast("long").as("support"),
        col("n_nonnull"))
  }
}
