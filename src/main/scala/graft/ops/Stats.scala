package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Exact distribution statistics over numeric columns — the profiling
  * tier a corpus pipeline runs before choosing filters (e.g. "what does
  * the length distribution look like" before setting quality cutoffs).
  */
object Stats {

  /** Bin index for a fixed-width histogram over [lo, hi): floor((x-lo)/w)
    * clamped into [0, nbins-1] so out-of-range FINITE values land in the
    * edge bins (width_bucket-style, without the unbounded overflow
    * buckets). Callers must pre-filter non-finite values —
    * floor(NaN) would silently land in bin 0 ([[histogram]] does). Pure
    * arithmetic — stays in codegen, identical IEEE math on any engine,
    * so the oracle can reproduce it bit-for-bit. */
  def binIndex(c: Column, lo: Double, hi: Double, nbins: Int): Column = {
    require(nbins >= 1 && hi > lo, s"bad histogram spec [$lo,$hi)/$nbins")
    val width = (hi - lo) / nbins
    least(lit(nbins - 1L), greatest(lit(0L), floor((c - lo) / width)))
  }

  /** True for non-null finite doubles — the rows a histogram can bin. */
  def isFinite(c: Column): Column =
    c.isNotNull && !isnan(c) &&
      c =!= Double.PositiveInfinity && c =!= Double.NegativeInfinity

  /** Distribution drift between two corpus versions: bucket both by the
    * REFERENCE (old) version's exact `buckets`-quantile boundaries, and
    * report per-bucket counts, shares, and the total-variation
    * contribution |p_old − p_new| / 2 — the ingest-gate monitor that
    * catches "the new crawl's length distribution shifted" BEFORE the
    * shifted data trains anything. Anchoring buckets to the reference
    * keeps the readout interpretable (bucket i is always the same value
    * range) and means the monitor costs one boundary aggregate on the
    * reference + one bucketing scan per side; the per-bucket frame is
    * ≤ buckets+1 rows, so the share windows are schema-sized. An EMPTY
    * side yields null shares (0/0) rather than fabricating a zero-drift
    * reading — an empty new crawl is an ingest failure, not "no drift". */
  def distributionDrift(oldDf: DataFrame, newDf: DataFrame,
                        valueCol: String, buckets: Int): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val qs = (1 until buckets).map(i => i.toDouble / buckets)
    val bounds = oldDf.agg(
      percentile(col(valueCol), lit(qs.head)).as("b1"),
      qs.tail.zipWithIndex.map { case (q, i) =>
        percentile(col(valueCol), lit(q)).as(s"b${i + 2}") }: _*)
    def bucketed(df: DataFrame, cntName: String): DataFrame =
      df.crossJoin(broadcast(bounds))
        .select((1 until buckets)
          .map(i => (col(valueCol) > col(s"b$i")).cast("long"))
          .reduce(_ + _).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as(cntName))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    bucketed(oldDf, "n_old")
      .join(bucketed(newDf, "n_new"), Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("n_old", "n_new"))
      .withColumn("share_old",
        col("n_old").cast("double") / sum(col("n_old")).over(w))
      .withColumn("share_new",
        col("n_new").cast("double") / sum(col("n_new")).over(w))
      .select(col("bucket"), col("n_old"), col("n_new"),
        round(col("share_old"), 6).as("share_old"),
        round(col("share_new"), 6).as("share_new"),
        round(abs(col("share_old") - col("share_new")) / 2, 6)
          .as("tv_contrib"))
  }

  /** Fixed-width histogram: one hash-aggregate over ≤nbins groups (the
    * shuffle carries nbins rows per partition — nothing scales with data
    * size). Empty bins are omitted; null/NaN/±Inf rows are excluded (a
    * NaN would otherwise silently inflate bin 0 — count non-finite rows
    * separately if they matter). Output: (bin, bin_lo, bin_hi, n). */
  def histogram(df: DataFrame, valueCol: Column,
                lo: Double, hi: Double, nbins: Int): DataFrame = {
    val width = (hi - lo) / nbins
    df.filter(isFinite(valueCol))
      .groupBy(binIndex(valueCol, lo, hi, nbins).as("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", lit(lo) + col("bin") * width)
      .withColumn("bin_hi", lit(lo) + (col("bin") + 1) * width)
  }

  /** Rank-based robust statistics per group: mean, trimmed mean
    * (1/trimDenom of rows cut from EACH tail, by rank), and exact
    * median — the outlier-resistant profile used to rank sources whose
    * tails would swamp a plain mean (one 100 MB doc shifts a source's
    * avg length; it cannot shift its trimmed mean or median).
    *
    * Deliberately rank-based, NOT interpolated percentiles: ranks are
    * exact integer arithmetic with a deterministic tie column, so the
    * result is identical on any engine and any partitioning —
    * interpolated quantiles differ in float rounding across engines and
    * would break the value-exact oracle. Median = mean of the one or
    * two middle ranks (exact halves stay exact in double); all means
    * accumulate in DECIMAL (partition-order-independent).
    *
    * Scale shape: ONE per-group window pass (rank + group size ride the
    * same sort) then one grouped aggregate with conditional sums — no
    * self-joins, no second scan. The window scales with the LARGEST
    * group (same posture as the source-cap query); for groups too big
    * to sort, the approximate tier is `approx_percentile` — this op is
    * the exact tier for group-sized data (per-source profiling, where
    * |group| ≪ corpus). */
  def robustGroupStats(df: DataFrame, groupCol: String, valueCol: String,
                       tieCol: String, trimDenom: Int = 20): DataFrame = {
    require(trimDenom >= 2, s"trimDenom must be >= 2, got $trimDenom")
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__v"), col(tieCol))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    val ranked = df
      .select(col(groupCol), col(valueCol).cast("long").as("__v"),
        col(tieCol))
      .withColumn("__r", row_number().over(wOrd).cast("long"))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__k", expr(s"__n DIV $trimDenom"))
    val dv = col("__v").cast("decimal(18,4)")
    val kept = col("__r") > col("__k") && col("__r") <= col("__n") - col("__k")
    val mid = col("__r") === expr("(__n + 1) DIV 2") ||
      col("__r") === expr("(__n + 2) DIV 2")
    ranked.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(dv).cast("double") / count(lit(1)), 6).as("mean"),
        round(sum(when(kept, dv)).cast("double") /
          sum(when(kept, lit(1L))), 6).as("trimmed_mean"),
        (sum(when(mid, dv)).cast("double") /
          sum(when(mid, lit(1L)))).as("median"))
  }

  /** Per-group 2-D skyline (Pareto frontier): rows not DOMINATED by any
    * other row of the same group, where row s dominates row r iff
    * s.minimize ≤ r.minimize ∧ s.maximize ≥ r.maximize with at least one
    * strict. The curation use: "no cheaper part is also bigger" /
    * "no shorter doc also scores higher" frontier extraction.
    *
    * Plan: the classic sort-scan skyline, with the scan collapsed onto
    * DISTINCT cost points so it is exact for arbitrary doubles —
    * (1) aggregate to one row per (group, cost) carrying that cost's
    * best value; (2) one window pass over the (small) cost-point frame:
    * a cost point survives iff the running max of value over all
    * strictly-cheaper points (rows-frame ending at −1; rows are
    * distinct costs, so "preceding row" ≡ "strictly cheaper") is below
    * its value; (3) equi-join survivors back to the input, keeping rows
    * that attain their cost's best value. The NOT EXISTS dominance
    * formulation the oracle uses is O(n²) pairs; this is O(n log n)
    * with the window running over |distinct costs| ≪ n rows, and the
    * join-back side small enough to broadcast. Ties: same-(cost, value)
    * duplicates all survive (nothing dominates them strictly), exactly
    * matching the dominance definition.
    */
  def skyline2d(df: DataFrame, groupCol: String, minimizeCol: String,
                maximizeCol: String): DataFrame = {
    val grp = df.groupBy(col(groupCol), col(minimizeCol))
      .agg(max(col(maximizeCol)).as("__grp_max"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(minimizeCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val frontier = grp
      .withColumn("__best_cheaper", max(col("__grp_max")).over(w))
      .filter(col("__best_cheaper").isNull ||
        col("__best_cheaper") < col("__grp_max"))
      .drop("__best_cheaper")
    df.join(frontier, Seq(groupCol, minimizeCol))
      .filter(col(maximizeCol) === col("__grp_max"))
      .drop("__grp_max")
  }

  /** Exact equi-depth (equi-height) histogram: k buckets with row counts
    * as equal as the standard NTILE split allows (the first n mod k
    * buckets get one extra row), plus each bucket's value bounds — the
    * optimizer-statistics / quantile-binning primitive where equi-WIDTH
    * bins ([[histogram]]) collapse under skew.
    *
    * NTILE needs a GLOBAL rank, which as a window is a single-partition
    * sort; this computes the same rank with the range-partitioned
    * dense-id machinery ([[DenseId.withDenseIdScalable]] — within-bucket
    * row_number + per-bucket offsets), then derives the tile from the
    * rank arithmetically: base = n div k, rem = n mod k,
    * tile(r) = ⌈r/(base+1)⌉ for r ≤ (base+1)·rem, else
    * rem + ⌈(r − (base+1)·rem)/base⌉ — exactly SQL NTILE's assignment.
    * One count (driver scalar), one range-shuffle, one grouped agg.
    * `tieCols` must make the ordering total or ranks at bucket
    * boundaries are partitioner-dependent. */
  def equiDepthHistogram(df: DataFrame, valueCol: String,
                         tieCols: Seq[String], k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val ordered = (valueCol +: tieCols).map(col(_).asc)
    // the total row count rides DenseId's own per-bucket counts pass
    // (its total is n) — the old leading df.count() was a third
    // sequential full-input job for a number that pass already summed
    // (r15, guide §1.2)
    val bk = DenseId.bucketedWithStarts(
      df.select(valueCol, tieCols: _*), ordered)
    val n = bk.total
    val base = n / k
    val rem = n % k
    val cut = (base + 1) * rem
    val ranked = DenseId.withDenseIdFromBucketed(bk, ordered, "__rank")
    // integer DIV throughout (SQL `/` would be fractional); max(base, 1):
    // when n < k the else branch is unreachable (cut = n) but a
    // constant-0 divisor would still fail eagerly under ANSI
    val safeBase = math.max(base, 1L)
    val tile = expr(
      s"CASE WHEN __rank <= $cut THEN (__rank + $base) DIV ${base + 1} " +
        s"ELSE $rem + (__rank - $cut + $safeBase - 1) DIV $safeBase END")
    ranked
      .withColumn("bucket", tile.cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(valueCol)).as("lo"), max(col(valueCol)).as("hi"))
  }

  /** Quantile normalization across groups at B-bucket granularity: map
    * each row's WITHIN-GROUP ntile bucket onto the POOLED distribution's
    * exact type-1 percentile for that bucket — the standard move before
    * thresholding a quality signal measured on heterogeneous sources
    * ("keep the best 30%" must not mean a different bar per source).
    *
    * Scale shape: the within-group rank is an ntile window PARTITIONED
    * BY GROUP (ties broken by `tieCols` so both engines agree); the
    * pooled percentile table is derived from the DISTINCT-VALUE
    * cumulative counts (value-domain-sized window, the AUC trick —
    * never a global row sort) and reduced to B rows, broadcast back.
    * percentile(q) is type-1: the smallest value whose cumulative count
    * reaches ceil(q·N) — pure integer selection, no interpolation, so
    * the result is a value that EXISTS in the data and both engines
    * agree bit-for-bit. */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
                        tieCols: Seq[String], buckets: Int = 100)
      : DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col(valueCol) +: tieCols.map(col): _*)
    val bucketed = df.withColumn("bucket", ntile(buckets).over(w))
    // pooled type-1 percentiles from distinct-value cumulative counts
    val byVal = df.groupBy(col(valueCol)).agg(count(lit(1)).as("c"))
    val wv = org.apache.spark.sql.expressions.Window
      .orderBy(col(valueCol))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = byVal.withColumn("cum", sum(col("c")).over(wv))
      .crossJoin(broadcast(df.agg(count(lit(1)).as("__n"))))
    // bucket b ∈ 1..B → quantile q_b = b/B → target rank ceil(q_b·N);
    // norm value = min value with cum ≥ target
    val spark = df.sparkSession
    import spark.implicits._
    val qs = (1 to buckets).map(b => (b, b.toLong)).toDF("bucket", "__b")
    val pooled = cum.crossJoin(broadcast(qs))
      .filter(col("cum") * buckets >= col("__b") * col("__n"))
      .groupBy(col("bucket"))
      .agg(min(col(valueCol)).as("norm_value"))
    bucketed.join(broadcast(pooled), "bucket")
  }

  /** CUSUM changepoint localization over per-(group, step) counts: the
    * running sum of SCALED deviations S_i = Σ_{j≤i} (c_j·K − total),
    * where K = number of steps — multiplying through by K keeps every
    * value integral (c_j − total/K would be a rational), so the curve
    * is exact and the argmax is unambiguous. The |S| peak estimates
    * where the level shifted; a series with no shift meanders near 0.
    *
    * Returns per group: the peak step, the scaled peak value, and the
    * normalized peak |S|/(K·total) ∈ [0,1] for cross-group comparison.
    * Shape: one hash agg to (group, step) — the step-domain table —
    * then group-partitioned windows over it; one row per group out. */
  def cusumPeak(df: DataFrame, groupCol: String, stepCol: String)
      : DataFrame = {
    val counts = df.groupBy(col(groupCol), col(stepCol))
      .agg(count(lit(1)).as("c"))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    val wRun = wg.orderBy(col(stepCol))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val withS = counts
      .withColumn("__k", count(lit(1)).over(wg))
      .withColumn("__tot", sum(col("c")).over(wg))
      .withColumn("__s",
        sum(col("c") * col("__k")).over(wRun) -
          col("__tot") * (row_number().over(wg.orderBy(col(stepCol)))))
    val wPeak = wg.orderBy(abs(col("__s")).desc, col(stepCol).asc)
    withS.withColumn("__rn", row_number().over(wPeak))
      .filter(col("__rn") === 1)
      .select(col(groupCol), col(stepCol).as("peak_step"),
        col("__s").as("cusum_scaled"),
        round(abs(col("__s")).cast("double") /
          (col("__k") * col("__tot")), 6).as("peak_norm"))
  }

  /** Benford first-digit audit of a positive numeric column: observed
    * first-significant-digit shares vs Benford's log10(1+1/d), the
    * classic fabricated-data screen. Digit extraction is a CASE LADDER
    * over decades (floor of a division per decade) — NOT
    * floor(log10(v)), whose 1-ulp engine differences at decade
    * boundaries would flip digits. Values outside [10^-4, 10^10) or
    * ≤ 0 are excluded (reported via n_total vs Σn). Expected shares
    * are Scala-evaluated literals, 6-dp. One hash aggregation. */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol)
    // decade ladder: for 10^e ≤ v < 10^(e+1), digit = floor(v / 10^e)
    val digit = (-4 to 9).foldLeft(lit(null).cast("int")) { (acc, e) =>
      // boundaries via string-parsed literals ("1e-4".toDouble), not
      // math.pow: parse is the same operation a SQL oracle's `1e-4`
      // literal goes through, so both engines compare against the
      // IDENTICAL double
      val lo = s"1e$e".toDouble
      val hi = s"1e${e + 1}".toDouble
      when(v >= lo && v < hi, floor(v / lo).cast("int")).otherwise(acc)
    }
    val expected = (1 to 9).map(d =>
      d -> BigDecimal(math.log10(1.0 + 1.0 / d))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    val expCol = (1 to 9).foldLeft(lit(null).cast("double")) { (acc, d) =>
      when(col("digit") === d, lit(expected(d))).otherwise(acc)
    }
    val digits = df.filter(v.isNotNull && v > 0)
      .select(digit.as("digit")).filter(col("digit").isNotNull)
    digits.groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(
        digits.agg(count(lit(1)).as("__tot"))))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("__tot"), 6).as("frac"),
        expCol.as("benford_p"))
  }

  /** Mann–Kendall trend statistic per group over per-step counts:
    * S = Σ_{i<j} sign(c_j − c_i) across ordered steps — the
    * non-parametric "is this series trending" monitor (S ≫ 0 rising,
    * ≪ 0 falling, near 0 flat), robust to outliers because only SIGNS
    * enter. Exact integers end to end.
    *
    * The pair join runs on the (group, step) AGGREGATE — step-domain²
    * per group, which is the statistic's intrinsic size (a year of
    * daily points = 66k sign evaluations), never corpus². */
  def mannKendall(df: DataFrame, groupCol: String, stepCol: String)
      : DataFrame = {
    val counts = df.groupBy(col(groupCol), col(stepCol))
      .agg(count(lit(1)).as("c"))
    val a = counts.select(col(groupCol), col(stepCol).as("__s1"),
      col("c").as("__c1"))
    val b = counts.select(col(groupCol), col(stepCol).as("__s2"),
      col("c").as("__c2"))
    val nSteps = counts.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_steps"))
    a.join(b, Seq(groupCol.toString))
      .filter(col("__s1") < col("__s2"))
      .groupBy(col(groupCol))
      .agg(sum(signum(col("__c2") - col("__c1")).cast("long")).as("s"))
      .join(broadcast(nSteps), groupCol)
      .select(col(groupCol), col("n_steps"), col("s"),
        when(col("s") > 0, "rising").when(col("s") < 0, "falling")
          .otherwise(lit("flat")).as("direction"))
  }

  /** 1-D Wasserstein (earth-mover) distance between two groups'
    * integer-valued distributions: W₁ = Σ_v |F_a(v) − F_b(v)| · gap(v)
    * over the merged distinct-value domain. The CDF terms are doubles
    * (identical divisions in any engine), each term ROUND(·, 9) into a
    * decimal before the gap-weighted sum — partition-order-free and
    * oracle-exact, the q98 discipline.
    *
    * Shape: one hash agg to (value, count_a, count_b) — value-domain-
    * sized — then one window over that domain. Returns (n_a, n_b,
    * emd). */
  def wasserstein1(df: DataFrame, groupCol: String, valueCol: String,
                   groupA: String, groupB: String): DataFrame = {
    val marked = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(valueCol).as("v"),
        when(col(groupCol) === groupA, 1L).otherwise(0L).as("ia"),
        when(col(groupCol) === groupB, 1L).otherwise(0L).as("ib"))
    val byVal = marked.groupBy(col("v"))
      .agg(sum(col("ia")).as("ca"), sum(col("ib")).as("cb"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
    val run = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val terms = byVal
      .withColumn("cuma", sum(col("ca")).over(run))
      .withColumn("cumb", sum(col("cb")).over(run))
      .withColumn("gap", lead(col("v"), 1).over(w) - col("v"))
      .crossJoin(broadcast(marked.agg(sum(col("ia")).as("na"),
        sum(col("ib")).as("nb"))))
      .filter(col("gap").isNotNull)
      .select((round(abs(col("cuma").cast("double") / col("na") -
          col("cumb").cast("double") / col("nb")), 9)
        .cast(DecimalType(18, 9)) * col("gap").cast(DecimalType(18, 0)))
        .as("term"),
        col("na"), col("nb"))
    terms.groupBy(col("na"), col("nb"))
      .agg(round(sum(col("term")), 6).cast(DoubleType).as("emd"))
      .select(col("na").as("n_a"), col("nb").as("n_b"), col("emd"))
  }

  /** Pairwise Pearson correlation between series of per-bucket counts
    * ("do purchases and errors move together hour by hour") — computed
    * from EXACT INTEGER moment sums (n, Σx, Σy, Σxy, Σx², Σy²) over a
    * DENSE bucket×series grid (missing buckets count 0 — skipping them
    * would silently bias every pair toward agreement), with the two
    * square roots and one division as the only float ops.
    *
    * Shape: counts aggregate → bucket-domain × series-domain dense
    * grid (cross join of two domain frames, both broadcast-scale) →
    * pair join keyed on bucket → one moment aggregate per series pair.
    * Nothing scales with the raw row count after the first
    * aggregation. */
  def pairwiseCorrelation(df: DataFrame, bucketCol: String,
                          seriesCol: String): DataFrame = {
    val counts = df.groupBy(col(bucketCol).as("__bk"),
        col(seriesCol).as("__sr"))
      .agg(count(lit(1)).as("__c"))
    val buckets = counts.select(col("__bk")).distinct()
    val series = counts.select(col("__sr")).distinct()
    val dense = buckets.crossJoin(broadcast(series))
      .join(counts, Seq("__bk", "__sr"), "left")
      .select(col("__bk"), col("__sr"),
        coalesce(col("__c"), lit(0L)).as("__c"))
    val a = dense.select(col("__bk"), col("__sr").as("series_a"),
      col("__c").as("__x"))
    val b = dense.select(col("__bk"), col("__sr").as("series_b"),
      col("__c").as("__y"))
    val moments = a.join(b, "__bk")
      .filter(col("series_a") < col("series_b"))
      .groupBy(col("series_a"), col("series_b"))
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("sx"), sum(col("__y")).as("sy"),
        sum(col("__x") * col("__y")).as("sxy"),
        sum(col("__x") * col("__x")).as("sxx"),
        sum(col("__y") * col("__y")).as("syy"))
    def d(c: Column) = c.cast(DoubleType)
    val num = d(col("n") * col("sxy") - col("sx") * col("sy"))
    val den = sqrt(d(col("n") * col("sxx") - col("sx") * col("sx"))) *
      sqrt(d(col("n") * col("syy") - col("sy") * col("sy")))
    moments.select(col("series_a"), col("series_b"), col("n"),
      when(den > 0, round(num / den, 6)).as("corr"))
  }

  /** Lag-1 autocorrelation per series over dense per-bucket counts —
    * "is today's volume predictive of tomorrow's". Same exact-integer
    * moment discipline as [[pairwiseCorrelation]]; the (x, y) pairs are
    * (c_t, c_{t+1}) via a lead window over the DENSE bucket spine
    * partitioned by series. */
  def lag1Autocorr(df: DataFrame, bucketCol: String, seriesCol: String)
      : DataFrame = {
    val counts = df.groupBy(col(bucketCol).as("__bk"),
        col(seriesCol).as("__sr"))
      .agg(count(lit(1)).as("__c"))
    val dense = counts.select(col("__bk")).distinct()
      .crossJoin(broadcast(counts.select(col("__sr")).distinct()))
      .join(counts, Seq("__bk", "__sr"), "left")
      .select(col("__bk"), col("__sr"),
        coalesce(col("__c"), lit(0L)).as("__x"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__sr")).orderBy(col("__bk"))
    val pairs = dense.withColumn("__y", lead(col("__x"), 1).over(w))
      .filter(col("__y").isNotNull)
    def d(c: Column) = c.cast(DoubleType)
    pairs.groupBy(col("__sr").as("series"))
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("sx"), sum(col("__y")).as("sy"),
        sum(col("__x") * col("__y")).as("sxy"),
        sum(col("__x") * col("__x")).as("sxx"),
        sum(col("__y") * col("__y")).as("syy"))
      .select(col("series"), col("n"),
        when(sqrt(d(col("n") * col("sxx") - col("sx") * col("sx"))) *
          sqrt(d(col("n") * col("syy") - col("sy") * col("sy"))) > 0,
          round(d(col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(d(col("n") * col("sxx") - col("sx") * col("sx"))) *
              sqrt(d(col("n") * col("syy") - col("sy") * col("sy")))), 6))
          .as("autocorr"))
  }

  /** Per-group simple linear regression (OLS) of `yCol` on `xCol` via
    * the closed-form normal equations over EXACT decimal sums: x is
    * integer-cast to DECIMAL(18,0), y to DECIMAL(14,4), and n/Σx/Σy/
    * Σxy/Σx²/Σy² accumulate exactly (partitioning-invariant) in one
    * map-side-combinable hash aggregate — the only float ops are the
    * final slope/intercept/r² divisions, whose operand ORDER the oracle
    * mirrors term for term. Slope is reported per `slopeUnit` of x
    * (e.g. 86400 for per-day when x is epoch seconds) so a 6-decimal
    * rounding keeps resolution. Σx² of epoch-second x stays inside
    * DECIMAL(38) up to ~10^18 rows — beyond any single aggregate's
    * reach. Output: group, n, slope, intercept, r2. */
  def groupOls(df: DataFrame, groupCol: String, xCol: Column,
               yCol: Column, slopeUnit: Double = 1.0): DataFrame = {
    def d(c: Column) = c.cast(DoubleType)
    val x = xCol.cast(DecimalType(18, 0))
    val y = yCol.cast(DecimalType(14, 4))
    val agg = df.select(col(groupCol), x.as("__x"), y.as("__y"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("sx"), sum(col("__y")).as("sy"),
        sum(col("__x") * col("__y")).as("sxy"),
        sum(col("__x") * col("__x")).as("sxx"),
        sum(col("__y") * col("__y")).as("syy"))
    // every sum enters the float stage via ONE cast; the products and
    // differences below are pure double, op order matching the SQL twin
    val nD = d(col("n"))
    val sxD = d(col("sx")); val syD = d(col("sy"))
    val sxyD = d(col("sxy")); val sxxD = d(col("sxx"))
    val syyD = d(col("syy"))
    val denX = nD * sxxD - sxD * sxD
    val denY = nD * syyD - syD * syD
    val num = nD * sxyD - sxD * syD
    val slope = num / denX
    agg.select(col(groupCol), col("n"),
      when(denX > 0, round(slope * slopeUnit, 6)).as("slope"),
      when(denX > 0, round((syD - slope * sxD) / nD, 6)).as("intercept"),
      when(denX > 0 && denY > 0, round(num * num / (denX * denY), 6))
        .as("r2"))
  }

  /** Day-of-week seasonal profile per group: event count, share of the
    * group's events, mean value, and the deviation of that mean from
    * the group's overall mean — the seasonality decomposition readout
    * ("is Saturday's metric level or mix different"). One hash
    * aggregate to (group, dow) plus a group-partitioned window over ≤7
    * rows per group; value sums are exact decimal, so the final double
    * divisions (order mirrored by the oracle) are engine-portable.
    * `dowCol` must be 0=Sunday..6=Saturday (Spark `dayofweek(ts)-1`,
    * DuckDB `dayofweek(ts)`). */
  def dowProfile(df: DataFrame, groupCol: String, dowCol: Column,
                 valueCol: Column): DataFrame = {
    def d(c: Column) = c.cast(DoubleType)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    df.select(col(groupCol), dowCol.as("dow"),
        valueCol.cast(DecimalType(14, 4)).as("__v"))
      .groupBy(col(groupCol), col("dow"))
      .agg(count(lit(1)).as("n"), sum(col("__v")).as("__sv"))
      .withColumn("__tn", sum(col("n")).over(w))
      .withColumn("__tv", sum(col("__sv")).over(w))
      .select(col(groupCol), col("dow"), col("n"),
        round(d(col("n")) / d(col("__tn")), 6).as("share"),
        round(d(col("__sv")) / d(col("n")), 6).as("mean_value"),
        round(d(col("__sv")) / d(col("n")) -
          d(col("__tv")) / d(col("__tn")), 6).as("dev_from_mean"))
  }

  /** Seasonal residual anomalies: rows whose value deviates most from
    * their (group, day-of-week) expected level — the "which Tuesday
    * broke the pattern" readout on top of [[dowProfile]]. Expected
    * level per (group, dow) comes from exact decimal sums broadcast
    * back onto the stream (a ≤ 7·|groups| frame at any scale);
    * residual ranking is a per-group window that Spark prunes to the
    * top-`topK` per partition map-side (WindowGroupLimit), so the sort
    * never materializes a group's full stream. `tieCol` makes the
    * ranking total. */
  def dowAnomalies(df: DataFrame, groupCol: String, dowCol: Column,
                   tieCol: String, valueCol: String,
                   topK: Int = 5): DataFrame = {
    def d(c: Column) = c.cast(DoubleType)
    val rows = df.select(col(groupCol), dowCol.as("dow"), col(tieCol),
      col(valueCol), col(valueCol).cast(DecimalType(14, 4)).as("__v"))
    val means = rows.groupBy(col(groupCol), col("dow"))
      .agg(count(lit(1)).as("__n"), sum(col("__v")).as("__sv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(abs(d(col(valueCol)) - d(col("__sv")) / d(col("__n"))).desc,
        col(tieCol).asc)
    rows.join(broadcast(means), Seq(groupCol, "dow"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= topK)
      .select(col(groupCol), col("dow"), col(tieCol), col(valueCol),
        round(d(col("__sv")) / d(col("__n")), 6).as("expected"),
        round(d(col(valueCol)) - d(col("__sv")) / d(col("__n")), 6)
          .as("residual"),
        col("__rk").as("rank"))
  }

  /** Theil–Sen robust slope per group: the MEDIAN of all pairwise
    * slopes (y_j − y_i)/(x_j − x_i), i < j — breakdown point 29%,
    * where OLS ([[groupOls]]) is dragged by a single outlier. Runs on
    * an already-AGGREGATED series frame (e.g. daily counts — pair
    * count is series-length², so the caller controls cost by choosing
    * the series grain; 365 daily points = 66k pairs per group, a
    * within-group self-join that never crosses groups). The median is
    * the DISCRETE lower median (sorted rank ⌊(n−1)/2⌋+1) — exact and
    * engine-portable where interpolated quantiles are not. */
  def theilSen(series: DataFrame, groupCol: String, xCol: String,
               yCol: String): DataFrame = {
    def d(c: Column) = c.cast(DoubleType)
    val a = series.select(col(groupCol), col(xCol).as("__xa"),
      col(yCol).as("__ya"))
    val b = series.select(col(groupCol), col(xCol).as("__xb"),
      col(yCol).as("__yb"))
    val slopes = a.join(b, Seq(groupCol))
      .filter(col("__xa") < col("__xb"))
      .select(col(groupCol),
        (d(col("__yb") - col("__ya")) / d(col("__xb") - col("__xa")))
          .as("__s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__s").asc)
    val wn = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    slopes
      .withColumn("__rk", row_number().over(w))
      .withColumn("__np", count(lit(1)).over(wn))
      .filter(col("__rk") === expr("(__np - 1) div 2 + 1"))
      .select(col(groupCol), col("__np").as("n_pairs"),
        round(col("__s"), 6).as("ts_slope"))
  }

  /** Shannon entropy of each key's item distribution (e.g. how varied
    * a user's event mix is): H = ln(n) − Σ c·ln(c) / n, plus the
    * ln(k)-normalized form. Two hash aggregates — (key, item) counts,
    * then per-key — both map-side combinable; the identity avoids
    * per-item division so the only float ops are |items-per-key| logs
    * and two divisions, order mirrored by the oracle. Each c·ln(c)
    * term is 9-rounded into DECIMAL before summing — a raw double sum
    * is addition-order-dependent across partitionings (the dsum rule),
    * the decimal sum is exact. */
  def groupEntropy(df: DataFrame, keyCol: String,
                   itemCol: String): DataFrame = {
    def d(c: Column) = c.cast(DoubleType)
    df.groupBy(col(keyCol), col(itemCol))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(keyCol))
      .agg(sum(col("__c")).as("n_events"),
        count(lit(1)).as("n_items"),
        sum(round(d(col("__c")) * log(d(col("__c"))), 9)
          .cast(DecimalType(18, 9))).cast(DoubleType).as("__clnc"))
      .select(col(keyCol), col("n_events"), col("n_items"),
        round(log(d(col("n_events"))) -
          col("__clnc") / d(col("n_events")), 6).as("entropy"),
        when(col("n_items") > 1,
          round((log(d(col("n_events"))) -
            col("__clnc") / d(col("n_events"))) /
            log(d(col("n_items"))), 6)).as("norm_entropy"))
  }

  /** Weighted (lower) median of `valueCol` per group under integer
    * weights: the smallest value v whose cumulative weight reaches half
    * the group total (2·cw ≥ W in exact integers — no float boundary).
    * One value-ordered window per group partition plus one aggregate;
    * rows with non-positive weight are excluded (they carry no mass,
    * and a 0-weight row at the boundary would make the pick
    * order-dependent). Output: (group, total_w, w_median). */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
                     weightCol: Column, tieCol: String): DataFrame = {
    // ROWS frame pinned explicitly: the default RANGE frame makes ORDER
    // BY peers share the frame-end cumulative weight, so if (value, tie)
    // were not unique the half-mass boundary pick would silently shift.
    // Under ROWS the result is well-defined for ANY total order the
    // (value, tie) sort produces; with a unique tieCol the two frames
    // agree, so this is a hardening, not a behavior change.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col(valueCol).asc, col(tieCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    df.select(col(groupCol), col(valueCol), col(tieCol),
        weightCol.cast("long").as("__w"))
      .filter(col("__w") > 0)
      .withColumn("__cw", sum(col("__w")).over(w))
      .withColumn("__tw", sum(col("__w")).over(wAll))
      .filter(col("__cw") * 2 >= col("__tw"))
      .groupBy(col(groupCol))
      .agg(max(col("__tw")).as("total_w"),
        min(col(valueCol)).as("w_median"))
  }

  /** Collapse each group's item long tail into one `__other__` row,
    * keeping the top `n` items by count (ties broken by item) — the
    * report-shaping op that stops a 100k-item domain from exploding a
    * dashboard while keeping the mass accounted. Item-domain-sized
    * aggregate, a per-group rank window over it, then a second
    * aggregate over the SAME group partitioning. Output: (group, item,
    * cnt, share), share against the group total. */
  def topNWithOther(df: DataFrame, groupCol: String, itemCol: String,
                    n: Int): DataFrame = {
    require(n >= 1, s"n < 1: $n")
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("cnt").desc, col(itemCol).asc)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    df.groupBy(col(groupCol), col(itemCol))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("__rk", row_number().over(wRank))
      .withColumn("__item",
        when(col("__rk") <= n, col(itemCol).cast("string"))
          .otherwise(lit("__other__")))
      .groupBy(col(groupCol), col("__item").as(itemCol))
      .agg(sum(col("cnt")).as("cnt"))
      .withColumn("share",
        round(col("cnt").cast(DoubleType) /
          sum(col("cnt")).over(wAll).cast(DoubleType), 6))
  }

  /** Mutual information between two categorical columns — the
    * dependence readout correlation can't give discrete pairs
    * ("does event mix actually shift by weekday"). MI = Σ_xy
    * (n_xy/N)·ln(N·n_xy/(n_x·n_y)) over exact counts; each term is
    * 9-rounded into DECIMAL before the final sum (the dsum rule), and
    * the ln argument is assembled in one mirrored order. Cell-domain
    * aggregates throughout (|X|·|Y| cells). Output: one row
    * (n_cells, mi). */
  def mutualInformation(df: DataFrame, xCol: Column,
                        yCol: Column): DataFrame = {
    def d(c: Column) = c.cast(DoubleType)
    val joint = df.select(xCol.as("__x"), yCol.as("__y"))
      .groupBy(col("__x"), col("__y")).agg(count(lit(1)).as("__nxy"))
    val wx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__x"))
    val wy = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__y"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    joint
      .withColumn("__nx", sum(col("__nxy")).over(wx))
      .withColumn("__ny", sum(col("__nxy")).over(wy))
      .withColumn("__n", sum(col("__nxy")).over(wAll))
      .withColumn("__term",
        round(d(col("__nxy")) / d(col("__n")) *
          log(d(col("__n")) * d(col("__nxy")) /
            (d(col("__nx")) * d(col("__ny")))), 9)
          .cast(DecimalType(18, 9)))
      .agg(count(lit(1)).as("n_cells"),
        // decimal-first rounding (the q110 tie class)
        round(sum(col("__term")), 6).cast(DoubleType).as("mi"))
  }

  /** Poisson-bootstrap cutpoints: P(Poisson(1) ≤ k) scaled to the
    * sampleHash [0, 1e6) lattice — the inverse-CDF lookup that turns a
    * deterministic uniform into a replicate weight. Shared with the
    * oracle as integer literals. */
  val BootstrapCdf: Seq[Long] = Seq(367879L, 735758L, 919698L, 981011L,
    996340L)

  /** Poisson bootstrap confidence interval for each group's mean
    * (Chamandy et al., "Estimating Uncertainty for Massive Data
    * Streams" — the bootstrap that works WITHOUT materializing
    * resamples): every row contributes Poisson(1)-many copies to each
    * of `b` replicates, with the weight drawn DETERMINISTICALLY from
    * the seeded sampleHash of (row key, replicate) — so the whole
    * resampling plan is one explode(b) + one exact-decimal hash
    * aggregate to (group, replicate), map-side combinable, zero
    * shuffles beyond the group key, reproducible anywhere. The CI is
    * the discrete rank-2 / rank-(b−1) envelope of the replicate means
    * (≈5th/95th percentile at b = 32 — discrete picks, engine-portable
    * where interpolated quantiles are not). Replicates that draw no
    * rows (vanishing probability beyond toy groups) are dropped and
    * reported via n_replicates. Output: (group, n_rows, mean,
    * n_replicates, ci_lo, ci_hi). */
  def bootstrapMeanCI(df: DataFrame, groupCol: String, valueCol: String,
                      keyCol: Column, b: Int = 32,
                      seed: Long = 7L): DataFrame = {
    require(b >= 4 && b <= 256, s"replicates out of [4,256]: $b")
    def d(c: Column) = c.cast(DoubleType)
    val rows = df.select(col(groupCol), keyCol.as("__k"),
      col(valueCol).cast(DecimalType(14, 4)).as("__v"))
    val hv = Sampling.sampleHash(
      concat(col("__k").cast("string"), lit("#bs"), col("__rep")), seed)
    // ascending when-chain: the FIRST matching cut decides, exactly the
    // inverse-CDF step lookup the oracle mirrors
    val weight = when(hv < BootstrapCdf(0), 0L)
      .when(hv < BootstrapCdf(1), 1L)
      .when(hv < BootstrapCdf(2), 2L)
      .when(hv < BootstrapCdf(3), 3L)
      .when(hv < BootstrapCdf(4), 4L)
      .otherwise(5L)
    val reps = rows
      .withColumn("__rep", explode(array((0 until b).map(lit): _*)))
      .withColumn("__w", weight)
      .groupBy(col(groupCol), col("__rep"))
      .agg(sum(col("__w") * col("__v")).as("__ws"),
        sum(col("__w")).as("__wn"))
      .filter(col("__wn") > 0)
      .withColumn("__mean", d(col("__ws")) / d(col("__wn")))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("__mean").asc, col("__rep").asc)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    val ci = reps
      .withColumn("__rk", row_number().over(wOrd))
      .withColumn("__nb", count(lit(1)).over(wAll))
      .groupBy(col(groupCol))
      .agg(max(col("__nb")).as("n_replicates"),
        max(when(col("__rk") === 2, col("__mean"))).as("__lo"),
        max(when(col("__rk") === col("__nb") - 1, col("__mean")))
          .as("__hi"))
    val full = rows.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"), sum(col("__v")).as("__s"))
    full.join(broadcast(ci), Seq(groupCol))
      .select(col(groupCol), col("n_rows"),
        round(d(col("__s")) / d(col("n_rows")), 6).as("mean"),
        col("n_replicates"),
        round(col("__lo"), 6).as("ci_lo"),
        round(col("__hi"), 6).as("ci_hi"))
  }

  /** Pairwise audience overlap between item groups sharing a key
    * domain ("which event types reach the same users"): exact distinct
    * (item, key) sets, intersection via a key-equi self-join of the
    * deduped frame, Jaccard on exact counts. The join lands on the
    * item-pair domain; per-key fan-out is items-per-key-bounded (the
    * A-priori candidate shape). Output: (item_a, item_b, n_a, n_b,
    * n_common, jaccard), item_a < item_b. */
  def audienceOverlap(df: DataFrame, itemCol: String,
                      keyCol: String): DataFrame = {
    def d(c: Column) = c.cast(DoubleType)
    val pairsIn = df.select(col(itemCol).as("__i"), col(keyCol).as("__k"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = pairsIn.groupBy(col("__i")).agg(count(lit(1)).as("__n"))
    val common = pairsIn.select(col("__i").as("item_a"), col("__k"))
      .join(pairsIn.select(col("__i").as("item_b"), col("__k")), Seq("__k"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(broadcast(sizes.select(col("__i").as("item_a"),
        col("__n").as("n_a"))), Seq("item_a"))
      .join(broadcast(sizes.select(col("__i").as("item_b"),
        col("__n").as("n_b"))), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"),
        col("n_common"),
        round(d(col("n_common")) /
          d(col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic between `valueCol`
    * distributions of two groups: max |F_a(v) − F_b(v)| over the
    * pooled distinct values — the distribution-shift test that reacts
    * to ANY difference (location, scale, shape), complementing
    * [[wasserstein1]] (magnitude) and [[distributionDrift]] (bucketed
    * shares). One pooled aggregate to the distinct-value domain, one
    * ordered window over it, one max — the CDF diffs are double
    * divisions of exact counts, and MAX of identical doubles is
    * engine-stable. Output: (n_a, n_b, ks). */
  def ksTwoSample(df: DataFrame, groupCol: String, valueCol: String,
                  groupA: String, groupB: String): DataFrame = {
    def d(c: Column) = c.cast(DoubleType)
    val marked = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(valueCol).as("__v"),
        when(col(groupCol) === groupA, 1L).otherwise(0L).as("__ia"),
        when(col(groupCol) === groupB, 1L).otherwise(0L).as("__ib"))
    val byV = marked.groupBy(col("__v"))
      .agg(sum(col("__ia")).as("__ca"), sum(col("__ib")).as("__cb"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    byV
      .withColumn("__cuma", sum(col("__ca")).over(w))
      .withColumn("__cumb", sum(col("__cb")).over(w))
      .crossJoin(broadcast(marked.agg(sum(col("__ia")).as("na"),
        sum(col("__ib")).as("nb"))))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        round(max(abs(d(col("__cuma")) / d(col("na")) -
          d(col("__cumb")) / d(col("nb")))), 6).as("ks"))
  }

  /** Chi-square independence test over two categorical columns: the
    * significance companion of [[mutualInformation]] — χ² =
    * Σ (o − e)²/e with e = n_x·n_y/N, plus the (|X|−1)(|Y|−1) degrees
    * of freedom. Cell-domain work only; each cell's term is 9-rounded
    * into DECIMAL before summing (the dsum rule), expected counts are
    * double ratios of exact counts with mirrored op order. Cells with
    * an observed zero still contribute (o−e)²/e — the dense grid comes
    * from the cross of the observed margins. */
  def chiSquare(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    def d(c: Column) = c.cast(DoubleType)
    val joint = df.select(xCol.as("__x"), yCol.as("__y"))
      .groupBy(col("__x"), col("__y")).agg(count(lit(1)).as("__nxy"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mx = joint.groupBy(col("__x")).agg(sum(col("__nxy")).as("__nx"))
    val my = joint.groupBy(col("__y")).agg(sum(col("__nxy")).as("__ny"))
    val n = joint.agg(sum(col("__nxy")).as("__n"))
    val dense = mx.crossJoin(my).crossJoin(broadcast(n))
      .join(joint, Seq("__x", "__y"), "left")
      .withColumn("__o", coalesce(col("__nxy"), lit(0L)))
      .withColumn("__e", d(col("__nx")) * d(col("__ny")) / d(col("__n")))
    dense
      .withColumn("__term",
        round((d(col("__o")) - col("__e")) * (d(col("__o")) - col("__e"))
          / col("__e"), 9).cast(DecimalType(18, 9)))
      .agg(count(lit(1)).as("n_cells"),
        ((countDistinct(col("__x")) - 1) *
          (countDistinct(col("__y")) - 1)).as("dof"),
        round(sum(col("__term")).cast(DoubleType), 6).as("chi2"))
  }

  /** Spearman rank correlation of two numeric columns per group: the
    * Pearson correlation of FRACTIONAL ranks (ties get the average of
    * their positions — the standard midrank convention), the
    * monotone-association companion of q182's linear Pearson. Every
    * aggregate is EXACT: the doubled midrank 2r = 2·rank + (ties − 1)
    * is an integer, per-row products of doubled ranks stay in int64
    * (safe to ~1.5e9 rows per group), and the moment sums accumulate
    * as DECIMAL(38,0) so no group size the cluster can hold overflows
    * them; the only float op is the final per-group formula
    * (division-shaped, so plain double rounding is cross-engine safe).
    * ρ = (n·Σxy − Σx·Σy) / (√(n·Σxx − Σx²) · √(n·Σyy − Σy²)) over the
    * doubled ranks — correlation is scale-free, so the doubling
    * cancels. Cost: two window sorts partitioned by group + one hash
    * aggregation; output is group-domain-sized. Constant-valued
    * columns (zero rank variance) yield NULL ρ. */
  def spearman(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = col(groupCol)
    def doubledRank(c: String, out: String) =
      (rank().over(Window.partitionBy(g).orderBy(col(c))) * 2 +
        count(lit(1)).over(Window.partitionBy(g, col(c))) - 1).as(out)
    val dec = DecimalType(38, 0)
    def d(c: Column) = c.cast(DoubleType)
    val m = df
      .select(g, doubledRank(xCol, "__rx"), doubledRank(yCol, "__ry"))
      .groupBy(g).agg(
        count(lit(1)).as("n"),
        sum(col("__rx").cast(dec)).as("__sx"),
        sum(col("__ry").cast(dec)).as("__sy"),
        sum((col("__rx") * col("__ry")).cast(dec)).as("__sxy"),
        sum((col("__rx") * col("__rx")).cast(dec)).as("__sxx"),
        sum((col("__ry") * col("__ry")).cast(dec)).as("__syy"))
    val nDec = col("n").cast(dec)
    val vx = nDec * col("__sxx") - col("__sx") * col("__sx")
    val vy = nDec * col("__syy") - col("__sy") * col("__sy")
    val cov = nDec * col("__sxy") - col("__sx") * col("__sy")
    m.select(g, col("n"),
      when(vx > 0 && vy > 0,
        round(d(cov) / (sqrt(d(vx)) * sqrt(d(vy))), 6)).as("rho"))
  }

  /** Cramér's V effect size for a two-way contingency table: the
    * magnitude companion of [[chiSquare]]'s significance —
    * V = √(χ² / (N · min(|X|−1, |Y|−1))) ∈ [0, 1], comparable across
    * table shapes where raw χ² is not. Same dense-grid construction
    * and 9-rounded DECIMAL term sum as [[chiSquare]]; V divides the
    * UNROUNDED χ² by exact integer counts before the single sqrt.
    * Cell-domain work only — safe at any corpus size. */
  def cramersV(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    def d(c: Column) = c.cast(DoubleType)
    val joint = df.select(xCol.as("__x"), yCol.as("__y"))
      .groupBy(col("__x"), col("__y")).agg(count(lit(1)).as("__nxy"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mx = joint.groupBy(col("__x")).agg(sum(col("__nxy")).as("__nx"))
    val my = joint.groupBy(col("__y")).agg(sum(col("__nxy")).as("__ny"))
    val n = joint.agg(sum(col("__nxy")).as("__n"))
    val dense = mx.crossJoin(my).crossJoin(broadcast(n))
      .join(joint, Seq("__x", "__y"), "left")
      .withColumn("__o", coalesce(col("__nxy"), lit(0L)))
      .withColumn("__e", d(col("__nx")) * d(col("__ny")) / d(col("__n")))
    dense
      .withColumn("__term",
        round((d(col("__o")) - col("__e")) * (d(col("__o")) - col("__e"))
          / col("__e"), 9).cast(DecimalType(18, 9)))
      .agg(max(col("__n")).as("n"),
        countDistinct(col("__x")).as("r"),
        countDistinct(col("__y")).as("c"),
        round(sum(col("__term")).cast(DoubleType), 6).as("chi2"),
        round(sqrt(sum(col("__term")).cast(DoubleType) /
          (max(col("__n")) *
            (least(countDistinct(col("__x")),
              countDistinct(col("__y"))) - 1)).cast(DoubleType)), 6)
          .as("v"))
  }

  /** Jensen–Shannon divergence between the two arms' distributions of
    * `keyCol` within each `groupCols` stratum — the SYMMETRIC, bounded
    * ([0, ln 2] nats) companion of [[mutualInformation]]/q146's drift:
    * "how differently do the arms distribute over categories".
    * JSD = ½·KL(P‖M) + ½·KL(Q‖M), M = (P+Q)/2.
    *
    * Counts are exact; each term ½·p·ln(p/m) is division-shaped per
    * CATEGORY (rounds to 9, decimal-sums — order-free), and the final
    * JSD is a sum of two exact decimals rounded AS DECIMAL (the q107
    * rounding-mode rule: never double-round a decimal-grid value).
    * Zero-count categories contribute exactly 0 (the 0·ln 0 limit) —
    * never an ln(0). One hash aggregation to (stratum, category), a
    * stratum-partitioned total window, one stratum aggregation.
    * Output per stratum: k categories, n0, n1, jsd, js_dist = √jsd. */
  def jsDivergence(df: DataFrame, groupCols: Seq[String], armCol: String,
                   keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def d(c: Column) = c.cast(DoubleType)
    val gs = groupCols.map(col)
    val cells = df.groupBy(gs :+ col(keyCol): _*).agg(
      count(when(col(armCol) === 0, lit(1))).as("c0"),
      count(when(col(armCol) === 1, lit(1))).as("c1"))
    val wG = Window.partitionBy(gs: _*)
    val tot = cells
      .withColumn("t0", sum(col("c0")).over(wG))
      .withColumn("t1", sum(col("c1")).over(wG))
    val p = d(col("c0")) / col("t0")
    val q = d(col("c1")) / col("t1")
    val mm = (p + q) / lit(2.0)
    def term(pc: Column, cnt: Column) =
      when(cnt > 0, round(lit(0.5) * pc * log(pc / mm), 9))
        .otherwise(lit(0.0)).cast(DecimalType(28, 9))
    val agg = tot.groupBy(gs: _*).agg(
      count(lit(1)).as("k"),
      max(col("t0")).as("n0"), max(col("t1")).as("n1"),
      sum(term(p, col("c0"))).as("__sp"),
      sum(term(q, col("c1"))).as("__sq"))
    // js_dist takes the sqrt of the ALREADY-6-ROUNDED jsd: decimal
    // rounding agrees exactly across engines, so the sqrt input is an
    // identical double — sqrt of the raw sum would amplify a 1e-9
    // term-rounding tie through the 1/(2√x) derivative into the 6th
    // decimal (observed at sf0.1 before this formulation)
    val jsdR = round(col("__sp") + col("__sq"), 6).cast(DoubleType)
    agg.select(gs ++ Seq(col("k"), col("n0"), col("n1"),
      when(col("n0") > 0 && col("n1") > 0, jsdR).as("jsd"),
      when(col("n0") > 0 && col("n1") > 0, round(sqrt(jsdR), 6))
        .as("js_dist")): _*)
  }

  /** Kendall τ-b rank association between two columns of a
    * DOMAIN-SIZED series (daily aggregates, stratum summaries — one
    * row per `keyCol`): exact concordant/discordant/tie counts from a
    * key-ordered pair self-join, τ-b = (C−D)/√((P−Tx)(P−Ty)) with
    * P = n(n−1)/2 and Tx/Ty = pairs tied in x/y. Everything is exact
    * 64-bit integers until the single final division — the strongest
    * oracle shape there is.
    *
    * SCALE CONTRACT: the pair join is |domain|²/2 — built for series
    * of up to ~10⁵ rows (a decade of days, thousands of strata), NEVER
    * raw corpus rows; corpus-scale monotone association is [[spearman]]
    * (q213), which needs no pair join. The input should already be the
    * product of a corpus-reducing aggregation. */
  def kendallTauB(series: DataFrame, keyCol: String, xCol: String,
                  yCol: String): DataFrame = {
    def d(c: Column) = c.cast(DoubleType)
    val a = series.select(col(keyCol).as("__ka"), col(xCol).as("__xa"),
      col(yCol).as("__ya"))
    val b = series.select(col(keyCol).as("__kb"), col(xCol).as("__xb"),
      col(yCol).as("__yb"))
    val sx = signum(d(col("__xa")) - d(col("__xb")))
    val sy = signum(d(col("__ya")) - d(col("__yb")))
    val pairs = a.join(b, col("__ka") < col("__kb"))
      .select((sx * sy).as("__s"), sx.as("__sx"), sy.as("__sy"))
    val agg = pairs.agg(
      count(lit(1)).as("pairs"),
      count(when(col("__s") > 0, lit(1))).as("concordant"),
      count(when(col("__s") < 0, lit(1))).as("discordant"),
      count(when(col("__sx") === 0, lit(1))).as("__tx"),
      count(when(col("__sy") === 0, lit(1))).as("__ty"))
    agg.select(col("pairs"), col("concordant"), col("discordant"),
      when(col("pairs") > col("__tx") && col("pairs") > col("__ty"),
        round((d(col("concordant")) - d(col("discordant"))) /
          sqrt(d(col("pairs") - col("__tx")) *
            d(col("pairs") - col("__ty"))), 6)).as("tau_b"))
  }

  /** One-pass table profiler: per column — row count, null count,
    * exact distinct count, min/max rendered as strings — the
    * data-quality summary every ingest audit starts from (the
    * reference's QC layer counts rows per table; this is the
    * column-grained version). One aggregation over the table (Spark
    * expands the multi-distinct into grouped partials itself), then a
    * literal explode to one row per column; nothing is collected. */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__cnt_$c"),
        countDistinct(col(c)).as(s"__d_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    } :+ count(lit(1)).as("__n")
    val one = df.agg(aggs.head, aggs.tail: _*)
    one.select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"), col("__n").as("n"),
        (col("__n") - col(s"__cnt_$c")).as("n_null"),
        col(s"__d_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_value"),
        col(s"__mx_$c").as("max_value"))): _*)).as("__p"))
      .select(col("__p.*"))
  }

  /** Adjusted standardized residuals of a two-way contingency table —
    * WHICH cells drive a significant [[chiSquare]]:
    *   r_xy = (o − e) / √(e·(1 − row/n)·(1 − col/n)),
    * approximately N(0,1) under independence, so |r| > 2 flags a cell.
    * Same dense-grid construction as [[chiSquare]] (zero cells
    * included); counts exact, every float op a fixed-order division.
    * Output: one row per (x, y) cell with o, e, resid. */
  def chiResiduals(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    def d(c: Column) = c.cast(DoubleType)
    val joint = df.select(xCol.as("x"), yCol.as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("__nxy"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mx = joint.groupBy(col("x")).agg(sum(col("__nxy")).as("__nx"))
    val my = joint.groupBy(col("y")).agg(sum(col("__nxy")).as("__ny"))
    val n = joint.agg(sum(col("__nxy")).as("__n"))
    val dense = mx.crossJoin(my).crossJoin(broadcast(n))
      .join(joint, Seq("x", "y"), "left")
      .withColumn("__o", coalesce(col("__nxy"), lit(0L)))
    val e = d(col("__nx")) * d(col("__ny")) / d(col("__n"))
    val resid = (d(col("__o")) - e) /
      sqrt((e * (lit(1.0) - d(col("__nx")) / d(col("__n")))) *
        (lit(1.0) - d(col("__ny")) / d(col("__n"))))
    dense.select(col("x"), col("y"), col("__o").as("o"),
      round(e, 6).as("e"), round(resid, 4).as("resid"))
  }

  /** Benjamini–Hochberg FDR adjustment over a table of per-stratum
    * p-values (one row per hypothesis): sort ascending, q_i = m·p_i/i,
    * adjusted p = the running minimum of q from the LARGEST p down,
    * capped at 1 — the standard step-up procedure that controls the
    * expected false-discovery rate when a sweep runs one test per
    * stratum. NULL p rows (untestable strata) are excluded from m and
    * from the output.
    *
    * The input is a TEST table — one row per stratum, already reduced
    * from the corpus — so the single-partition windows here order
    * hypothesis-domain rows (hundreds), never data. `keyCols` break
    * p-ties so both window stages see one total order (cross-engine
    * window determinism; see q52's lesson). Output adds rank i,
    * q = m·p/i, and p_adj, all rounded to 6. */
  def bhFdr(tests: DataFrame, pCol: String, keyCols: Seq[String])
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ks = keyCols.map(col)
    val tested = tests.filter(col(pCol).isNotNull)
    val ordAsc = col(pCol).asc +: ks.map(_.asc)
    val wRank = Window.orderBy(ordAsc: _*)
    val wAll = wRank.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wTail = Window.orderBy((col(pCol).desc +: ks.map(_.desc)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = tested
      .withColumn("__i", row_number().over(wRank))
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn("__q",
        col(pCol) * col("__m") / col("__i"))
    ranked
      .withColumn("__padj", least(lit(1.0), min(col("__q")).over(wTail)))
      .select(ks ++ Seq(col(pCol), col("__i").as("rank"),
        col("__m").as("m"), round(col("__q"), 6).as("q"),
        round(col("__padj"), 6).as("p_adj")): _*)
  }

  /** Gini index of a grouped size distribution ("how concentrated is
    * the corpus over sources") from exact integer arithmetic:
    * with sizes s_1 ≤ … ≤ s_k (ties broken by group for a total
    * order), G = (2·Σ i·s_i) / (k·Σ s_i) − (k+1)/k. The window runs
    * over the GROUP-domain aggregate (k rows); the two final divisions
    * are the only float ops. Returns (k, total, gini). */
  def giniIndex(df: DataFrame, groupCol: String): DataFrame = {
    val sizes = df.groupBy(col(groupCol)).agg(count(lit(1)).as("s"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("s").asc, col(groupCol).asc)
    sizes.withColumn("__i", row_number().over(w))
      .agg(count(lit(1)).as("k"), sum(col("s")).as("total"),
        sum(col("__i") * col("s")).as("__is"))
      .select(col("k"), col("total"),
        round(lit(2.0) * col("__is") / (col("k") * col("total")) -
          (col("k") + 1).cast("double") / col("k"), 6).as("gini"))
  }

  /** RFM segmentation over a transaction log: per entity, recency
    * (days since last transaction, against the log's frontier),
    * frequency (transaction count), monetary (exact decimal sum), each
    * scored 1–5 by ntile with the entity id as tiebreak — a TOTAL
    * order, so the quintile assignment is engine- and run-stable
    * (plain ntile over a non-unique sort key is not). Score direction:
    * 5 is always "best" (most recent / most frequent / highest spend).
    *
    * Scale: one corpus aggregation to the ENTITY domain; the three
    * ntile windows are single-partition BY DESIGN over that domain
    * (quintiles are a global rank) — entity domains are orders of
    * magnitude below transaction counts, and at the billions-of-
    * entities extreme the swap is approx-percentile boundaries +
    * bucketing, the q115 pattern. */
  def rfmScores(tx: DataFrame, keyCol: String, tsCol: String,
                amountCol: Column, nTiles: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nTiles >= 2, s"nTiles must be >= 2, got $nTiles")
    val perKey = tx.groupBy(col(keyCol)).agg(
      max(col(tsCol)).as("__last"),
      count(lit(1)).as("frequency"),
      sum(amountCol.cast(DecimalType(18, 4))).as("__m"))
    val frontier = tx.agg(max(col(tsCol)).as("__frontier"))
    def tile(order: Seq[Column]) =
      ntile(nTiles).over(Window.orderBy(order: _*))
    perKey.crossJoin(broadcast(frontier))
      .select(col(keyCol),
        datediff(to_date(col("__frontier")), to_date(col("__last")))
          .as("recency_days"),
        col("frequency"),
        round(col("__m"), 4).cast("double").as("monetary"))
      .select(col(keyCol), col("recency_days"), col("frequency"),
        col("monetary"),
        tile(Seq(col("recency_days").desc, col(keyCol).asc))
          .as("r_score"),
        tile(Seq(col("frequency").asc, col(keyCol).asc)).as("f_score"),
        tile(Seq(col("monetary").asc, col(keyCol).asc)).as("m_score"))
      .withColumn("rfm", concat(col("r_score"), col("f_score"),
        col("m_score")))
  }

  /** ABC (Pareto) classification: order items by descending value,
    * classify by CUMULATIVE value share — A up to `aCut` (default
    * 80%), B up to `bCut` (95%), C the tail — the inventory/catalog
    * prioritization readout. The order is (value desc, key asc) — a
    * total order — and the running sum accumulates exact decimals, so
    * the class boundary cannot flip with partitioning. The cumulative
    * window is single-partition over the ITEM domain (aggregated
    * first; never raw transactions). */
  def abcClassify(df: DataFrame, keyCol: String, valueCol: Column,
                  aCut: Double = 0.8, bCut: Double = 0.95): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(aCut > 0 && aCut < bCut && bCut < 1,
      s"need 0 < aCut < bCut < 1, got $aCut/$bCut")
    val dec = DecimalType(28, 4)
    val items = df.groupBy(col(keyCol))
      .agg(sum(valueCol.cast(DecimalType(18, 4))).cast(dec).as("__v"))
    val w = Window.orderBy(col("__v").desc, col(keyCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    items
      .withColumn("__cum", sum(col("__v")).over(w))
      .crossJoin(broadcast(items.agg(sum(col("__v")).as("__tot"))))
      .select(col(keyCol), round(col("__v"), 4).cast("double").as("value"),
        round(col("__cum").cast("double") / col("__tot").cast("double"),
          6).as("cum_share"))
      .withColumn("abc", when(col("cum_share") <= aCut, "A")
        .when(col("cum_share") <= bCut, "B").otherwise("C"))
  }

  /** Empirical-Bayes (beta-binomial, method-of-moments) shrinkage of
    * per-unit success rates toward their stratum prior: a unit with 3
    * conversions in 4 events should NOT outrank one with 60 in 100 —
    * the small-sample ranking fix every "best sources / best users /
    * best variants" readout needs. Prior strength per stratum
    * K = μ(1−μ)/Var(rates) − 1 (MoM on the unit-rate distribution),
    * clamped at 0; shrunk_i = (x_i + K·μ)/(n_i + K). Degenerate strata
    * (a single unit, or zero rate variance — nothing to learn a prior
    * from) fall back to the raw rate with NULL prior_k, never a
    * division blow-up.
    *
    * Exactness: counts are exact longs; unit rates and their squares
    * are 9-rounded into DECIMAL sums (partitioning-invariant moments,
    * the [[groupOls]] discipline); μ, Var, K, and the shrunk rate are
    * fixed-order double ops. Two hash aggregations (unit, then
    * stratum) + one broadcast-sized join back — stratum state is
    * 4 numbers. */
  def ebShrinkRates(df: DataFrame, strataCols: Seq[String],
                    unitCol: String, successCol: Column): DataFrame = {
    val gs = strataCols.map(col)
    def d(c: Column) = c.cast("double")
    val dec = org.apache.spark.sql.types.DecimalType(28, 9)
    val units = df.groupBy(gs :+ col(unitCol): _*).agg(
      count(lit(1)).as("n"),
      sum(successCol.cast("long")).as("x"))
      .withColumn("__r", d(col("x")) / d(col("n")))
    val prior = units.groupBy(gs: _*).agg(
      count(lit(1)).as("__u"),
      sum(round(col("__r"), 9).cast(dec)).as("__sr"),
      sum(round(col("__r") * col("__r"), 9).cast(dec)).as("__sr2"))
    val mu = d(col("__sr")) / d(col("__u"))
    val variance = (d(col("__sr2")) - d(col("__u")) * mu * mu) /
      (d(col("__u")) - 1.0)
    val k = greatest(mu * (lit(1.0) - mu) / variance - 1.0, lit(0.0))
    val priors = prior.select(gs ++ Seq(
      when(col("__u") > 1 && variance > 0, mu).as("__mu"),
      when(col("__u") > 1 && variance > 0, k).as("__k")): _*)
    units.join(priors, strataCols)
      .select(gs ++ Seq(col(unitCol), col("n"), col("x"),
        round(col("__r"), 6).as("raw_rate"),
        round(col("__k"), 4).as("prior_k"),
        round(coalesce(
          (d(col("x")) + col("__k") * col("__mu")) /
            (d(col("n")) + col("__k")),
          col("__r")), 6).as("shrunk_rate")): _*)
  }
}
