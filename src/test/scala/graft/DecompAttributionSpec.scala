package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.{Attribution, TimeSeries, VectorOps}

/** Round-5 batch 2: seasonal decomposition (q245), mutual-nearest-
  * neighbor mining (q246), multi-touch attribution (q247). Oracle gates
  * the values; these pin the algebraic contracts. */
class DecompAttributionSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("seasonalDecompose: recovers a planted dow effect, identity holds") {
    // 28 days, one obs/day: y = 10 (flat trend) + planted dow bump
    val bump = Map(1 -> 3.0, 5 -> -2.0).withDefaultValue(0.0)
    val rows = (1 to 28).map { d =>
      val day = f"2024-01-$d%02d"
      val dow = java.time.LocalDate.parse(day).getDayOfWeek.getValue % 7 + 1
      ("k", ts(s"$day 12:00:00"), 10.0 + bump(dow))
    }
    val out = TimeSeries.seasonalDecompose(rows.toDF("k", "t", "v"),
      "k", "t", "v").collect()
    assert(out.length == 28)
    // edges (3 first + 3 last days) have NULL trend
    assert(out.count(_.isNullAt(4)) == 6)
    val defined = out.filter(r => !r.isNullAt(4))
    // trend is exactly flat: every full 7-day window holds one of each
    // dow, so the MA averages the planted bumps away: 10 + (3−2)/7
    val expTrend = 10.0 + 1.0 / 7.0
    assert(defined.forall(r =>
      math.abs(r.getAs[Double]("trend") - expTrend) < 1e-6))
    // decomposition identity on defined rows: y = trend+seasonal+resid
    defined.foreach { r =>
      val lhs = r.getAs[Double]("y")
      val rhs = r.getAs[Double]("trend") + r.getAs[Double]("seasonal") +
        r.getAs[Double]("resid")
      assert(math.abs(lhs - rhs) < 5e-6, s"identity: $r")
    }
    // flat-trend series → residuals vanish
    assert(defined.forall(r =>
      math.abs(r.getAs[Double]("resid")) < 1e-5))
  }

  test("mutualNeighbors: pairs are mutual, cross-label, and symmetric") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val pairs = VectorOps.mutualNeighbors(emb, 2, 12).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.nonEmpty, "planted structure must yield mutual pairs")
    assert(pairs.forall { case (a, b) => a < b }, "canonical orientation")
    // mutuality is an intersection: flipping src/dst roles (relabel the
    // sides by negating labels) must give the SAME pair set
    val flipped = VectorOps.mutualNeighbors(
      emb.withColumn("label", -col("label")), 2, 12).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == flipped)
    // every pair really crosses labels
    val lbl = emb.select("vec_id", "label").as[(Long, Int)]
      .collect().toMap
    assert(pairs.forall { case (a, b) => lbl(a) != lbl(b) })
    // the integral-id argmax (max(struct(cos, −dst)) aggregate, r15)
    // picks identically to the rank-1 window the non-integral path
    // keeps: rerun with ids cast to zero-padded strings (same order)
    val asStr = VectorOps.mutualNeighbors(
      emb.withColumn("vec_id", lpad(col("vec_id").cast("string"), 10, "0")),
      2, 12).collect()
      .map(r => (r.getString(0).toLong, r.getString(1).toLong)).toSet
    assert(asStr == pairs, "aggregate argmax != window argmax")
  }

  test("mutualNeighbors: Long.MinValue and Long.MaxValue ids pick and " +
      "tie-break like any other id") {
    // identical vectors share every band signature; MinValue's two
    // cos-1 partners tie, and the smaller id (5) wins
    val vecs = Seq(
      (Long.MinValue, Array(1f, 0f), 0), (1L, Array(0f, 1f), 0),
      (Long.MaxValue, Array(1f, 0f), 1), (5L, Array(1f, 0f), 1),
      (2L, Array(0f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    val pairs = VectorOps.mutualNeighbors(vecs, 4, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((Long.MinValue, 5L), (1L, 2L)), pairs)
  }

  test("attribution: credits land on the right touches, models total alike") {
    // user 1: touches at 10:00 (view#1), 11:00 (click#2); conversion
    // at 12:00 → first=view, last=click, linear=0.5 each.
    // user 2: one touch outside the window → unattributed.
    val touches = Seq(
      (1L, ts("2024-01-05 10:00:00"), 1L, "view"),
      (1L, ts("2024-01-05 11:00:00"), 2L, "click"),
      (2L, ts("2024-01-01 09:00:00"), 3L, "view"))
      .toDF("user_id", "t", "id", "channel")
    val convs = Seq(
      (1L, ts("2024-01-05 12:00:00"), 100L),
      (2L, ts("2024-01-03 09:00:00"), 101L))
      .toDF("user_id", "t", "id")
    val cr = Attribution.touchCredit(touches, convs, "user_id", "t",
      "id", "channel", windowSeconds = 86400L)
    val byTouch = cr.collect()
      .map(r => r.getAs[Long]("touch_id") ->
        (r.getAs[Int]("credit_first"), r.getAs[Int]("credit_last")))
      .toMap
    assert(byTouch == Map(1L -> ((1, 0)), 2L -> ((0, 1))))
    val ch = Attribution.channelCredit(cr).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getAs[Double]("linear_touch")))
      .toMap
    assert(ch("view") == ((1L, 0L, 0.5)))
    assert(ch("click") == ((0L, 1L, 0.5)))
    // accounting identity: every model distributes exactly one unit per
    // attributed conversion
    val totals = (ch.values.map(_._1).sum, ch.values.map(_._2).sum,
      ch.values.map(_._3).sum)
    assert(totals == ((1L, 1L, 1.0)))
  }

  test("attribution: simultaneous touches break ties by id, not luck") {
    val t0 = ts("2024-01-05 10:00:00")
    val touches = Seq((1L, t0, 7L, "a"), (1L, t0, 5L, "b"))
      .toDF("user_id", "t", "id", "channel")
    val convs = Seq((1L, ts("2024-01-05 11:00:00"), 9L))
      .toDF("user_id", "t", "id")
    val cr = Attribution.touchCredit(touches, convs, "user_id", "t",
      "id", "channel", 86400L).collect()
      .map(r => r.getAs[Long]("touch_id") ->
        (r.getAs[Int]("credit_first"), r.getAs[Int]("credit_last")))
      .toMap
    assert(cr == Map(5L -> ((1, 0)), 7L -> ((0, 1))),
      "first = smaller id, last = larger id at equal ts")
  }
}
