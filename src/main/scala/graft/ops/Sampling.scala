package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic hash-based sampling for training-data pipelines.
  *
  * `df.sample()` draws from a per-partition RNG: the selected rows change
  * with partitioning, task retries, and AQE re-plans — useless for
  * reproducible corpus construction. These samplers decide per ROW from a
  * content hash of the row's key + seed, so the same row is always in or
  * out regardless of cluster layout; the sample is re-derivable years
  * later; and (since [[TextOps.polyHash]] has an exact SQL twin) the
  * selection is oracle-checkable value-for-value, not statistically.
  */
object Sampling {

  private val Scale = 1000000L

  /** fraction → integer keep-threshold. The cross-engine convention is
    * TRUNCATION (the q95 oracle mirrors `trunc(f*1e6)`), but the raw
    * product is snapped to a near-integer first: 0.3*1e6 in doubles is
    * 299999.99999999994, and bare truncation would keep one hash value
    * fewer than specified. The snap only fires when the product is
    * within 1e-3 of an integer (exactly the double-rounding-noise band),
    * so it never changes a genuinely fractional threshold. */
  private def keepThreshold(fraction: Double): Long = {
    val t = fraction * Scale
    val r = math.rint(t)
    if (math.abs(t - r) < 1e-3) r.toLong else t.toLong
  }

  /** Deterministic per-stratum sample: keep rows where
    * polyHash(key # seed) mod 1e6 < fraction·1e6, with a fraction per
    * stratum (e.g. language rebalancing: downsample the dominant
    * language, keep the tail). Strata not in `fractions` use
    * `defaultFraction`; an empty map is a uniform sample. */
  def stratifiedHashSample(df: DataFrame, keyCol: Column, strataCol: Column,
                           fractions: Map[String, Double],
                           defaultFraction: Double, seed: Long): DataFrame = {
    val threshold = fractions.foldLeft(
      lit(keepThreshold(defaultFraction))) { case (acc, (stratum, f)) =>
      when(strataCol === stratum, lit(keepThreshold(f))).otherwise(acc)
    }
    df.filter(sampleHash(keyCol, seed) < threshold)
  }

  /** Rebalance the corpus toward a target stratum mix — the data-mixing
    * step of training-corpus assembly ("30% code, 60% web, 10% books").
    * Solves for per-stratum keep-fractions on the driver from one grouped
    * count (strata counts are a tiny aggregate at any corpus scale), then
    * applies [[stratifiedHashSample]] — so the result is deterministic,
    * partitioning-invariant, and only DOWNSAMPLES (fractions are scaled
    * so the binding stratum keeps everything; no row is ever duplicated).
    *
    * `targetWeights` are relative (normalized internally); strata absent
    * from the map are dropped (fraction 0). Returns the sampled frame and
    * the solved fractions for the caller's audit log. */
  /** Shared mix-solve prologue for [[rebalanceToMix]]/[[upsampleToMix]]:
    * per-stratum counts (driver-scale), normalized weights, and the
    * per-stratum n/w ratios the binding-total derives from.
    *
    * By default EVERY targetWeights key must be present in the data: a
    * missing key (usually a typo — "codee" for "code") would silently
    * drop the real stratum to fraction/factor 0 and ship a mix that
    * violates the requested weights with no error. A legitimately-empty
    * stratum (a daily drop with no 'zh' docs) is opted into with
    * `allowEmptyStrata`: absent strata are pruned and the remaining
    * weights renormalized, so the mix among PRESENT strata still holds. */
  /** Temperature-scaled mixture allocation: distribute a `total`-doc
    * sampling budget across strata proportionally to n^(1/2) — the
    * multilingual-training "temperature" reweighting (low-resource strata
    * get a super-proportional share; T=2 i.e. exponent 0.5 here, the
    * common default). Exact apportionment by the largest-remainder
    * method, all in integer arithmetic:
    *
    *   weight   = floor(sqrt(n · 10^6))        (integer sqrt-scale)
    *   base     = (total · weight) div Σweight (floor quota)
    *   leftover = total − Σbase                (< #strata seats left)
    *   alloc    = base + 1 for the `leftover` largest remainders
    *              (ties broken by stratum name ascending)
    *
    * so Σalloc = total exactly and every step is reproducible in plain
    * SQL (sqrt is IEEE-correctly-rounded in both engines; everything
    * after is BIGINT math — no float ranking anywhere). Runs entirely
    * relationally: the only wide state is one row per stratum, so the
    * single-partition ranking window is driver-sized by construction,
    * same as [[rebalanceToMix]]'s strata counts.
    *
    * Range bound: total · √(maxStratumCount · 10⁶) must stay below 2⁶³
    * (the quota product is 64-bit) — satisfied for any real budget up to
    * ~10⁹ docs against strata up to ~10¹² docs; beyond that, drop the
    * 10⁶ weight scale. */
  def temperatureMix(df: DataFrame, strataCol: Column,
                     total: Long): DataFrame = {
    require(total >= 0, s"total must be >= 0, got $total")
    val counts = df.groupBy(strataCol.cast("string").as("stratum"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("stratum").isNotNull)
      .withColumn("weight",
        floor(sqrt(col("n_docs") * lit(Scale))).cast("long"))
    val wAll = Window.partitionBy(lit(1))
    val rankW = Window.partitionBy(lit(1))
      .orderBy(col("rem").desc, col("stratum").asc)
    counts
      .withColumn("__tot", sum(col("weight")).over(wAll))
      .withColumn("base", expr(s"$total * weight div __tot"))
      .withColumn("rem", expr(s"$total * weight % __tot"))
      .withColumn("__leftover", lit(total) - sum(col("base")).over(wAll))
      .withColumn("__rk", row_number().over(rankW))
      .withColumn("alloc",
        col("base") + when(col("__rk") <= col("__leftover"), 1L)
          .otherwise(0L))
      .select(col("stratum"), col("n_docs"), col("weight"), col("alloc"))
  }

  private def mixCounts(df: DataFrame, strataCol: Column,
                        targetWeights: Map[String, Double],
                        allowEmptyStrata: Boolean)
      : (Map[String, Long], Map[String, Double], Iterable[Double]) = {
    require(targetWeights.nonEmpty && targetWeights.values.forall(_ > 0),
      "targetWeights must be non-empty and positive")
    // string-keyed like targetWeights; cast covers non-string strata
    // columns, and a null stratum simply never matches a target key
    val counts = df.groupBy(strataCol.cast("string").as("__s")).count()
      .collect().filterNot(_.isNullAt(0))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val absent = targetWeights.keys.filterNot(counts.contains)
    require(allowEmptyStrata || absent.isEmpty,
      s"targetWeights strata absent from the data: " +
        s"${absent.mkString(", ")} — a silent drop here would ship a " +
        "mix violating the requested weights (pass " +
        "allowEmptyStrata = true if empty strata are expected)")
    val present = targetWeights -- absent
    require(present.nonEmpty,
      "every targetWeights stratum is absent from the data")
    val wSum = present.values.sum
    val norm = present.map { case (s, w) => s -> (w / wSum) }
    val feasible = norm.map { case (s, w) => counts(s) / w }
    (counts, norm, feasible)
  }

  def rebalanceToMix(df: DataFrame, keyCol: Column, strataCol: Column,
                     targetWeights: Map[String, Double],
                     seed: Long, allowEmptyStrata: Boolean = false)
      : (DataFrame, Map[String, Double]) = {
    val (counts, norm, feasible) =
      mixCounts(df, strataCol, targetWeights, allowEmptyStrata)
    // largest feasible total T: for each stratum, keep_s = T·w_s ≤ n_s
    val total = feasible.min
    val fractions = norm.map { case (s, w) =>
      // snap near-1 to exactly 1.0: total = n_binding/w round-trips
      // through doubles, and a 1-ulp-short fraction would drop binding-
      // stratum rows whose hash lands on the last threshold value
      val f = math.min(1.0, total * w / counts(s))
      s -> (if (f >= 1.0 - 1e-9) 1.0 else f)
    }
    (stratifiedHashSample(df, keyCol, strataCol, fractions,
      defaultFraction = 0.0, seed), fractions)
  }

  /** Upsample the corpus to a target stratum mix by deterministic
    * REPLICATION — the complement of [[rebalanceToMix]] (which only
    * downsamples): per-stratum factor f_s = T·w_s / n_s with
    * T = max(n_s / w_s), so the binding stratum keeps factor 1.0 and
    * every other stratum replicates ≥1×. Each row emits floor(f) copies
    * plus one more when its decision hash lands under the fractional
    * part — expected copies = f exactly, membership a pure function of
    * (key, seed), so the epoch mix is reproducible across partitionings
    * and reruns (the property training-mix assembly needs: "see domain X
    * 2.3× per epoch"). Rows gain a `copy_idx` (1-based).
    *
    * Scale shape: one grouped count on the driver (strata are tiny),
    * then a pure per-row explode — no shuffle; output size is the only
    * cost, which is the point of upsampling. */
  def upsampleToMix(df: DataFrame, keyCol: Column, strataCol: Column,
                    targetWeights: Map[String, Double],
                    seed: Long, allowEmptyStrata: Boolean = false)
      : (DataFrame, Map[String, Double]) = {
    val (counts, norm, feasible) =
      mixCounts(df, strataCol, targetWeights, allowEmptyStrata)
    val total = feasible.max
    val factors = norm.map { case (s, w) =>
        // snap near-integer factors to the integer: total = n_binding/w
        // round-trips through doubles, and a factor 1 ulp below its exact
        // integer value (binding stratum: exactly 1.0) turns the
        // fractional threshold into ~999999/1e6 — rows whose hash lands on
        // the last threshold value would silently LOSE a copy, violating
        // "binding stratum keeps factor 1.0". Same hazard rebalanceToMix
        // snaps; here any integer factor is exposed, not just 1.0.
        val f = total * w / counts(s)
        val r = math.rint(f)
        s -> (if (math.abs(f - r) < 1e-9) r else f)
    }.toMap
    val fCol = factors.foldLeft(lit(0.0)) { case (acc, (s, f)) =>
      when(strataCol === s, lit(f)).otherwise(acc)
    }
    val copies = (floor(fCol).cast("long") +
      when(sampleHash(keyCol, seed) <
        ((fCol - floor(fCol)) * Scale).cast("long"), 1L).otherwise(0L))
    val out = df
      .withColumn("__copies", copies)
      .withColumn("copy_idx",
        explode(when(col("__copies") > 0,
          sequence(lit(1L), col("__copies")))))
      .drop("__copies")
    (out, factors)
  }

  /** Knuth multiplicative mixer: the raw 31-polynomial hash of short ids
    * is badly non-uniform in its low decimal digits (empirically 3% below
    * the median for sequential ids); one odd-multiplier remix restores
    * uniformity. Product ≤ (1e9+6)·2654435761 ≈ 2.7e18 < 2^63 — exact in
    * BIGINT on both engines. */
  val Mixer = 2654435761L

  /** The decision hash: uniform in [0, 1e6) and shared arithmetic with
    * the DuckDB oracle twin (TextOracles q54). */
  def sampleHash(keyCol: Column, seed: Long): Column =
    pmod(
      TextOps.polyHash(concat(keyCol.cast("string"), lit("#" + seed)))
        * Mixer % TextOps.HashMod,
      lit(Scale))

  /** Deterministic negative-pair mining for contrastive training: pair
    * each row with the NEXT row of a seeded pseudo-random shuffle within
    * its hash shard (wrapping) — "random other document" partners that
    * are reproducible, partitioning-invariant, and free of the cross
    * join a naive random pairing implies. Complements
    * [[graft.ops.VectorOps.hardNegatives]]: that op mines the HARD
    * negatives by similarity; this one supplies the uniform negatives
    * the loss mixes in.
    *
    * Scale shape: one exchange on the shard key; the ordering window,
    * the size window, and the partner self-join all ride that same
    * partitioning, and each shard is ~|corpus|/nShards rows. Singleton
    * shards yield no pair (self-pairs are excluded, not emitted). */
  def negativePairs(df: DataFrame, keyCol: Column, seed: Long,
                    nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val base = df.select(keyCol.as("id"))
      .withColumn("__h", sampleHash(col("id"), seed))
      .withColumn("shard", pmod(col("__h"), lit(nShards)).cast("int"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__h").asc, col("id").asc)
    val ranked = base
      .withColumn("__rn", row_number().over(w))
      .withColumn("__cnt",
        count(lit(1)).over(Window.partitionBy(col("shard"))))
    val left = ranked.select(col("shard"), col("id").as("doc_id"),
      (pmod(col("__rn"), col("__cnt")) + 1).as("__prn"))
    val right = ranked.select(col("shard"), col("id").as("partner_id"),
      col("__rn").as("__prn"))
    left.join(right, Seq("shard", "__prn"))
      .filter(col("doc_id") =!= col("partner_id"))
      .select(col("doc_id"), col("partner_id"), col("shard"))
  }

  /** Weighted sample without replacement, k rows, Efraimidis–Spirakis
    * A-Res with the deterministic hash as the randomness source: each
    * row's priority is ln(u)/w for u ∈ (0,1] derived from TWO
    * independent key hashes combined to ~60 bits (u = (h1·M + h2 + 1) /
    * (M² + 1), M = 1e9+7 — a single 1e6- or 1e9-granularity hash would
    * tie pervasively at billion-row scale and the draw would degenerate
    * to the tiebreak); the k HIGHEST priorities win. Inclusion
    * probability rises with weight; the draw is a pure function of
    * (key, seed), so it is reproducible across partitionings, retries,
    * and re-runs — the same property the uniform samplers guarantee.
    *
    * Scale: top-k by priority plans as TakeOrderedAndProject (bounded
    * per-partition heaps), so nothing but k rows crosses the wire. Rows
    * with weight <= 0 are excluded (ln(u)/w would invert the order). */
  /** Token-budget mix report — the "data recipe" arithmetic of training-
    * corpus assembly: given relative stratum weights (e.g. 30% web, 20%
    * code) and a global token budget, how many tokens does each stratum
    * contribute, and how many EPOCHS of its available data is that
    * (epochs > 1 = the stratum repeats; the number [[upsampleToMix]]
    * realizes as replication factors)?
    *
    * Fully relational — per-stratum token sums (a strata-sized aggregate
    * at any corpus scale), the weight normalizer derived by a broadcast
    * one-row total over PRESENT strata (so absent map keys renormalize
    * away, mirroring `allowEmptyStrata` semantics), no driver collect.
    * Double steps mirror the oracle token-for-token: weight and epochs
    * round to 6; target_tokens = floor(budget·w/Σw) exact in IEEE
    * doubles (same literals → same result on both engines).
    *
    * Output per stratum: `n_docs`, `avail_tokens`, `weight` (normalized),
    * `target_tokens`, `epochs` (null when the stratum has no tokens). */
  def tokenBudgetMix(df: DataFrame, strataCol: Column, textCol: Column,
                     weights: Map[String, Double], defaultWeight: Double,
                     budgetTokens: Long): DataFrame = {
    require(weights.values.forall(_ >= 0) && defaultWeight >= 0,
      "weights must be non-negative")
    require(budgetTokens >= 0, s"budget must be >= 0, got $budgetTokens")
    def w(s: Column): Column = weights.foldLeft(lit(defaultWeight)) {
      case (acc, (k, v)) => when(s === k, lit(v)).otherwise(acc)
    }
    // persisted: the strata-sized frame feeds both the weight total and
    // the output (materialization policy — without it the corpus is
    // scanned and tokenized twice for a 2nd copy of a ~20-row aggregate)
    val perStratum = df
      .groupBy(strataCol.cast("string").as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextOps.tokens(textCol))).cast("long").as("avail_tokens"))
      .withColumn("__w", w(col("source")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totalW = perStratum.agg(sum(col("__w")).as("__tw"))
    perStratum.crossJoin(broadcast(totalW))
      .select(col("source"), col("n_docs"), col("avail_tokens"),
        round(col("__w") / col("__tw"), 6).as("weight"),
        floor(lit(budgetTokens.toDouble) * col("__w") / col("__tw"))
          .cast("long").as("target_tokens"))
      .withColumn("epochs",
        when(col("avail_tokens") > 0,
          round(col("target_tokens").cast("double") /
            col("avail_tokens").cast("double"), 6)))
  }

  /** Neyman (minimum-variance) sample allocation: given a total row
    * `budget`, allocate per stratum ∝ N_h·σ_h — big AND internally
    * varied strata get more of the budget than proportional allocation
    * gives them; the survey-sampling optimum for estimating a mean of
    * `valueCol`. The design-time companion of [[rebalanceToMix]]
    * (that op applies a chosen mix; this one derives the mix from
    * dispersion). One exact-decimal moment aggregate to the strata
    * domain, a strata-domain window for the normalizer, then pure
    * float arithmetic (op order mirrored by the oracle). σ is the
    * population σ (÷N); allocations floor, so Σ alloc ≤ budget (the
    * remainder is the caller's largest-remainder step if exactness
    * matters). Zero-variance strata get weight 0 — matching Neyman
    * (one probe suffices); callers wanting a floor compose max(1, ·).
    * Output: (stratum, n_rows, sd, alloc, frac). */
  def neymanAllocation(df: DataFrame, strataCol: Column, valueCol: Column,
                       budget: Long): DataFrame = {
    require(budget > 0, s"budget <= 0: $budget")
    def d(c: Column) = c.cast("double")
    val m = df.select(strataCol.as("stratum"),
        valueCol.cast("decimal(18,4)").as("__v"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__v")).as("__s"),
        sum(col("__v") * col("__v")).as("__s2"))
      // population sd from exact sums: σ = sqrt(n·Σx² − (Σx)²) / n
      .withColumn("__sd",
        sqrt(d(col("n_rows")) * d(col("__s2")) -
          d(col("__s")) * d(col("__s"))) / d(col("n_rows")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy() // strata-domain frame: one global normalizer
    m.withColumn("__nsd",
        round(d(col("n_rows")) * col("__sd"), 6)
          .cast("decimal(24,6)"))
      .withColumn("__tot", sum(col("__nsd")).over(w))
      .select(col("stratum"), col("n_rows"),
        round(col("__sd"), 6).as("sd"),
        floor(lit(budget.toDouble) * d(col("__nsd")) / d(col("__tot")))
          .cast("long").as("alloc"),
        round(lit(budget.toDouble) * d(col("__nsd")) / d(col("__tot")) /
          d(col("n_rows")), 6).as("frac"))
  }

  def weightedSample(df: DataFrame, keyCol: Column, weightCol: Column,
                     k: Int, seed: Long): DataFrame = {
    val M = TextOps.HashMod
    def h(s: Long): Column =
      (TextOps.polyHash(concat(keyCol.cast("string"), lit("#" + s)))
        * Mixer) % M
    // h1·M + h2 ≤ (M−1)·M + (M−1) = M²−1 ≈ 1e18 < 2^63: exact in long
    val u = (h(seed) * M + h(seed + 1) + 1).cast("double") /
      (M.toDouble * M.toDouble + 1)
    df.filter(weightCol > 0)
      .withColumn("__priority", log(u) / weightCol)
      // key tiebreak: a residual exact tie must not fall to partition order
      .orderBy(col("__priority").desc, keyCol.asc)
      .limit(k)
      .drop("__priority")
  }

  /** Popularity-smoothed negative-sampling table (the word2vec
    * unigram^0.75 scheme): per item, weight = count^¾, probability
    * = weight / Σweight, and the item's half-open cumulative range
    * [lo, hi) over a TOTAL order (count desc, item asc) — the table a
    * sampler inverts with one uniform draw per negative.
    *
    * n^¾ is computed as √(n·√n), NOT pow(n, 0.75): IEEE sqrt is
    * correctly rounded on every engine, pow is not — a 1-ulp pow skew
    * against the oracle's libm turns into a 9-decimal rounding tie
    * about once per 10⁴ items. Each weight rounds to 9 decimals and
    * all sums/cumsums run as exact decimals over the total order, so
    * the ranges are deterministic under any partitioning (a raw double
    * Σ would reorder across partitions). Item-domain-sized output; the
    * window orders the item domain, never rows. */
  def negativeSamplingTable(df: DataFrame, itemCol: String): DataFrame = {
    def d(c: Column) = c.cast("double")
    val counts = df.groupBy(col(itemCol))
      .agg(count(lit(1)).as("n"))
      .withColumn("__w",
        round(sqrt(d(col("n")) * sqrt(d(col("n")))), 9)
          .cast("decimal(28,9)"))
    val wOrd = Window.orderBy(col("n").desc, col(itemCol).asc)
    val wAll = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    counts
      .withColumn("__cum", sum(col("__w")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__tot", sum(col("__w")).over(wAll))
      .select(col(itemCol), col("n"),
        round(d(col("__w")) / d(col("__tot")), 6).as("prob"),
        round(d(col("__cum") - col("__w")) / d(col("__tot")), 9)
          .as("lo"),
        round(d(col("__cum")) / d(col("__tot")), 9).as("hi"))
  }
}
