package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Linear quality-classifier training — the "train the filter" step of a
  * corpus pipeline (CCNet/GPT-3-style quality filtering trains a small
  * linear classifier over cheap per-doc features, then scores the whole
  * corpus with it). Full-batch gradient descent on logistic loss, with
  * two deliberate exactness choices that make the trainer REPLAYABLE on
  * any engine:
  *
  *  - the link is the RATIONAL sigmoid σ̂(z) = 0.5 + z / (2·(1 + |z|))
  *    ("fast sigmoid") — pure +,·,/,abs arithmetic, so both engines
  *    compute bit-identical activations; exp-based logistic would hang
  *    the compare on last-ulp libm differences (the q226/HLL lesson).
  *    σ̂ is monotone, bounded to (0,1), σ̂(0) = 1/2 — a standard drop-in
  *    link for separation-style training.
  *  - gradient components sum as DECIMAL(28,10) (the dsum pattern):
  *    partition order cannot perturb the update, so training is
  *    byte-reproducible under any parallelism, and the DuckDB oracle
  *    unrolls the SAME rounds as static CTEs (the BPE-trainer pattern).
  *
  * Scale shape: each round is ONE corpus pass — a map-side-combinable
  * aggregation to d+1 decimal sums (d = feature count, single-digit);
  * the 1-row collect is driver-sized by contract and the updated weights
  * re-enter the next round's expressions as LITERALS (no join, no
  * broadcast table). K rounds = K corpus passes, exactly how production
  * full-batch/L-BFGS trainers spend their I/O at 100 TB.
  */
object Classifier {

  /** Trained model: bias + one weight per feature column, in input order. */
  case class LinearModel(bias: Double, weights: Seq[Double])

  /** σ̂(z) = 0.5 + z / (2·(1+|z|)) as a Column (pure arithmetic). */
  def fastSigmoid(z: Column): Column =
    lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))

  private def score(m: LinearModel, feats: Seq[Column]): Column =
    m.weights.zip(feats).foldLeft(lit(m.bias): Column) {
      case (acc, (w, x)) => acc + lit(w) * x
    }

  /** `rounds` full-batch GD steps on logistic loss with the rational
    * link: w ← w + lr · (Σ x·(y − σ̂(z)) / n), starting from all-zero
    * weights. `labelCol` must be 0.0/1.0. Update arithmetic is pinned
    * (decimal sum → double, divide by n, multiply by lr, add) so the
    * oracle's unrolled CTE chain lands on identical doubles. */
  def logisticTrain(df: DataFrame, featCols: Seq[Column],
                    labelCol: Column, rounds: Int,
                    lr: Double): LinearModel = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val d = featCols.size
    require(d >= 1, "at least one feature column")
    // Feature expressions evaluate ONCE: the projected (y, x…) frame —
    // d+1 doubles per row, a sliver of any corpus whose features come
    // from text — is persisted and every round scans it instead of
    // re-running tokenization/feature extraction per round (measured
    // 4 rounds × full tokenize = most of q266's sf10 wall before this).
    // The oracle's materialized feature CTE is the same shape.
    val proj = df.select(labelCol.cast("double").as("__y") +:
        featCols.zipWithIndex.map { case (x, k) =>
          x.cast("double").as(s"__x$k") }: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Driver twin behind [[graft.core.LocalGate]] (2^20 rows of d+1
    // doubles): the IDENTICAL recurrence — same left-fold score
    // association, same rational sigmoid in plain double arithmetic,
    // same double→DECIMAL(28,10) HALF_UP cast per term, exact decimal
    // sums (order-invariant), same doubleValue readout and update
    // expression. Rows where the label or ANY feature is null contribute
    // to n but to no gradient term, exactly the Column null semantics (a
    // null feature nulls the whole score, so err and every term null
    // out together).
    val local = graft.core.LocalGate.rows(proj, LocalRows, "trainer")
    if (local.nonEmpty) {
      proj.unpersist(blocking = false)
      return trainLocal(local.get, d, rounds, lr)
    }
    try {
      // n rides round 1's aggregation (count does not depend on the
      // weights): K rounds = K passes, not K + 1
      var n = 0.0
      var model = LinearModel(0.0, Seq.fill(d)(0.0))
      val xs = (0 until d).map(k => col(s"__x$k"))
      for (r <- 1 to rounds) {
        val err = col("__y") - fastSigmoid(score(model, xs))
        // try_cast: a term DECIMAL(28,10) cannot hold (non-finite, or
        // |t| ≥ 1e18) is null and skipped by sum, where an ANSI cast
        // would fail the round — the driver twin skips the same terms
        val sums = proj.agg(
          count(lit(1)).as("n"),
          sum(err.try_cast("decimal(28,10)")).as("g_b") +:
            xs.zipWithIndex.map { case (x, k) =>
              sum((x * err).try_cast("decimal(28,10)")).as(s"g_$k")
            }: _*).head()
        if (r == 1) {
          n = sums.getLong(0).toDouble
          require(n > 0, "empty training frame")
        }
        // 1-row collect: a count + d+1 decimals — driver-sized by contract
        def g(i: Int): Double =
          Option(sums.getDecimal(i + 1)).map(_.doubleValue()).getOrElse(0.0)
        model = LinearModel(
          model.bias + lr * (g(0) / n),
          (0 until d).map(k => model.weights(k) + lr * (g(k + 1) / n)))
      }
      model
    } finally proj.unpersist()
  }

  /** Row budget of the driver twin. */
  private val LocalRows = 1 << 20

  /** Smallest magnitude DECIMAL(28,10) cannot hold (18 integer digits). */
  private val DecimalOverflow = new java.math.BigDecimal("1e18")

  /** Driver twin of the distributed rounds — see the twin note in
    * [[logisticTrain]]. Every arithmetic step replays the Column
    * expressions: z = ((bias + w₀·x₀) + w₁·x₁) + … (the score fold's
    * association order), σ̂ in plain doubles, per-term
    * BigDecimal(double).setScale(10, HALF_UP) (Spark's double→decimal
    * cast canonicalization — the mmrLocal/round() pattern), exact
    * decimal accumulation, doubleValue readout. */
  private def trainLocal(rows: Array[org.apache.spark.sql.Row], d: Int,
                         rounds: Int, lr: Double): LinearModel = {
    val n = rows.length.toDouble
    require(n > 0, "empty training frame")
    var model = LinearModel(0.0, Seq.fill(d)(0.0))
    for (_ <- 1 to rounds) {
      var gb = java.math.BigDecimal.ZERO
      val gx = Array.fill(d)(java.math.BigDecimal.ZERO)
      var i = 0
      while (i < rows.length) {
        val r = rows(i)
        val anyNull = r.isNullAt(0) || (0 until d).exists(k =>
          r.isNullAt(k + 1))
        if (!anyNull) {
          val y = r.getDouble(0)
          var z = model.bias
          var k = 0
          while (k < d) { z = z + model.weights(k) * r.getDouble(k + 1); k += 1 }
          val sig = 0.5 + z / (2.0 * (1.0 + math.abs(z)))
          val err = y - sig
          // the distributed try_cast nulls out non-finite values and any
          // value that rounds to |t| ≥ 1e18 (overflow); sum then skips
          // the term — mirror that PER TERM
          def add(acc: java.math.BigDecimal, x: Double) =
            if (x.isNaN || x.isInfinite) acc
            else {
              val t = BigDecimal(x)
                .setScale(10, BigDecimal.RoundingMode.HALF_UP).underlying()
              if (t.abs.compareTo(DecimalOverflow) >= 0) acc else acc.add(t)
            }
          gb = add(gb, err)
          k = 0
          while (k < d) {
            gx(k) = add(gx(k), r.getDouble(k + 1) * err); k += 1
          }
        }
        i += 1
      }
      model = LinearModel(
        model.bias + lr * (gb.doubleValue() / n),
        (0 until d).map(k =>
          model.weights(k) + lr * (gx(k).doubleValue() / n)))
    }
    model
  }

  /** Per-row classifier score σ̂(b + w·x) for a trained model — the
    * corpus-scoring step (scan-side, zero shuffle). */
  def logisticScore(m: LinearModel, featCols: Seq[Column]): Column =
    fastSigmoid(score(m, featCols))
}
