package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Re-identification risk audits over quasi-identifier (QI) columns.
  *
  * A release of per-row data is k-anonymous when every combination of
  * QI values is shared by at least k rows — otherwise the rare
  * combination re-identifies its subjects (Sweeney, "k-anonymity: a
  * model for protecting privacy", 2002). Analogue of the reference's
  * PII-handling posture on the export path (it pseudonymizes patient
  * identifiers before load); here generalized to arbitrary QI sets for
  * training-data release.
  *
  * Scale shape: one groupBy over the QI columns produces the class-size
  * frame (|distinct QI combos| rows, ≪ corpus); every audit reads only
  * that frame, so the corpus is scanned once and shuffled at most once.
  */
object Privacy {

  /** Risk audit: distribution of equivalence-class sizes — how many
    * classes and rows sit below each anonymity threshold. `classSize`
    * histogram is capped at `cap` (sizes above it are healthy). */
  def anonymityAudit(df: DataFrame, qiCols: Seq[String], cap: Int = 10): DataFrame =
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .select(least(col("n"), lit(cap.toLong)).as("class_size"),
        col("n"))
      .groupBy(col("class_size"))
      .agg(count(lit(1)).as("n_classes"), sum(col("n")).as("n_rows"))

  /** l-diversity audit — the attribute-disclosure complement of
    * [[anonymityAudit]]: a k-anonymous class whose SENSITIVE column is
    * constant still leaks ("every row in this class is a cancer
    * patient"). Per equivalence class over `qiCols`: row count,
    * distinct-l (how many sensitive values appear), and entropy-l
    * diversity exp(−Σ p·ln p) — the effective number of sensitive
    * values, ≤ distinct-l, penalizing skew.
    *
    * Two hash aggregations ((QI, sensitive) → QI); entropy terms go
    * through ROUND(ln, 9) + decimal sums (the q98 discipline) so the
    * audit is partition-order-free and oracle-exact. */
  def lDiversityAudit(df: DataFrame, qiCols: Seq[String],
                      sensitiveCol: String): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    val cells = df.groupBy((qiCols :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("__c"))
    cells.groupBy(qiCols.map(col): _*)
      .agg(sum(col("__c")).as("n"),
        count(lit(1)).as("distinct_l"),
        sum((col("__c").cast("double") *
          round(log(col("__c").cast("double")), 9))
          .cast("decimal(28,9)")).as("__clc"))
      .withColumn("entropy_l",
        // exp(−Σ p ln p) = exp(ln n − (Σ c·ln c)/n)
        round(exp(round(log(col("n").cast("double")), 9) -
          col("__clc").cast("double") / col("n")), 6))
      .drop("__clc")
  }

  /** Differentially-private release of grouped counts: true count +
    * Laplace(scale) noise via inverse-CDF sampling from the engine's
    * DETERMINISTIC uniform (the sampleHash family seeded per group key)
    * — u ∈ (−½, ½), noise = −scale·sign(u)·ln(1 − 2|u|). For count
    * queries sensitivity is 1, so scale = 1/ε.
    *
    * Determinism is a deliberate trade, and the privacy caveat is
    * load-bearing — read it before trusting the ε label:
    *
    *   - This is at best COMPUTATIONAL DP under a secret seed, not
    *     formal ε-DP: the noise is a deterministic function of
    *     (group key, seed), so an adversary who learns the seed can
    *     subtract the noise exactly and recover the true counts. The
    *     seed must be held as secret as the data itself.
    *   - Noise is REUSED across releases of the same partition: if the
    *     underlying data changes and the release is re-run, unchanged
    *     groups carry the SAME noise draw, so consecutive releases are
    *     correlated — the pair reveals the true count DELTA exactly.
    *     Formal DP composition accounting does not apply across such
    *     releases; treat the (seed, group-domain) pair as a single
    *     release budget, and rotate the seed (spending fresh ε) when a
    *     fresh independent release is required.
    *
    * What determinism buys (and why this op exists in this form):
    * idempotent re-runs with no averaging attack across retries,
    * partitioning invariance, and an exact oracle twin — a true RNG
    * draw would be none of these. Callers needing formal ε-DP against
    * a seed-knowing adversary should swap the hash draw for a real
    * RNG and give up the oracle. One hash aggregate + pure row
    * arithmetic. */
  def dpNoisyCounts(df: DataFrame, groupCol: String, epsilon: Double,
                    seed: Long): DataFrame = {
    require(epsilon > 0, s"epsilon <= 0: $epsilon")
    val scale = 1.0 / epsilon
    val u = (Sampling.sampleHash(col(groupCol), seed).cast("double")
      + lit(0.5)) / lit(1000000.0) - lit(0.5)
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_true"))
      .withColumn("__u", u)
      .select(col(groupCol), col("n_true"),
        round(col("n_true").cast("double") +
          lit(-scale) * signum(col("__u")) *
            log(lit(1.0) - lit(2.0) * abs(col("__u"))), 6)
          .as("n_noisy"))
  }
}
