package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ops.{Assoc, Eval, FuzzyJoin, Sketches, Stats, TimeSeries}

/** Round-5 operator family: trailing EWMA, time-weighted average,
  * grouped OLS, day-of-week profile, Jaro–Winkler linkage, count–min
  * sketch, RRF fusion, ordered pair reach. Each op's value-level gate
  * is the DuckDB oracle (q184–q191); these specs pin the algebraic
  * contracts a value compare can't see (invariance, bounds, merge
  * laws) plus reference-implementation parity on adversarial
  * fixtures. */
class Round5OpsSpec extends SparkSpecBase {
  import org.apache.spark.sql.DataFrame

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private lazy val series: DataFrame = {
    import spark.implicits._
    // key A: 20 events (longer than the 16-window), key B: 1, key C: 3
    val a = (1 to 20).map(i =>
      ("A", ts(f"2024-01-01 00:$i%02d:00"), i.toLong, i * 1.5))
    val b = Seq(("B", ts("2024-01-01 05:00:00"), 100L, 7.25))
    val c = Seq(
      ("C", ts("2024-01-02 00:00:00"), 200L, 10.0),
      ("C", ts("2024-01-02 00:10:00"), 201L, 20.0),
      ("C", ts("2024-01-02 00:40:00"), 202L, 40.0))
    (a ++ b ++ c).toDF("k", "t", "tie", "v")
  }

  // reference EWMA: the textbook recursion over the last min(n,16) points
  private def refEwma(xs: Seq[Double], alpha: Double = 0.25): Double = {
    val w = xs.takeRight(16)
    w.tail.foldLeft(w.head)((y, x) => alpha * x + (1 - alpha) * y)
  }

  test("ewmaWeights: in-window weights sum to exactly 1 for every m") {
    (1 to 16).foreach { m =>
      val ws = TimeSeries.ewmaWeights(BigDecimal("0.25"), 16)
      // positions 1..m-1 carry base weight, position m the init weight
      val sum = (1 until m).map(j => BigDecimal(ws(j - 1)._1)).sum +
        BigDecimal(ws(m - 1)._2)
      assert((sum - 1).abs < BigDecimal("1e-15"),
        s"m=$m weight sum $sum")
    }
  }

  test("ewmaTrailing matches the sequential recursion per key") {
    val got = TimeSeries.ewmaTrailing(series, "k", "t", "tie", "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(got("A")._1 == 20L)
    val expA = refEwma((1 to 20).map(_ * 1.5))
    assert(math.abs(got("A")._2 - expA) < 2e-6, s"A: ${got("A")} vs $expA")
    assert(got("B") == ((1L, 7.25)), "singleton series = its value")
    val expC = refEwma(Seq(10.0, 20.0, 40.0))
    assert(math.abs(got("C")._2 - expC) < 2e-6)
  }

  test("ewmaTrailing is partitioning-invariant") {
    val base = TimeSeries.ewmaTrailing(series, "k", "t", "tie", "v")
      .collect().map(_.toSeq).toSet
    val shuffled = TimeSeries.ewmaTrailing(
      series.repartition(7, col("v")), "k", "t", "tie", "v")
      .collect().map(_.toSeq).toSet
    assert(base == shuffled)
  }

  test("timeWeightedAvg weights by duration and drops the last event") {
    val got = TimeSeries.timeWeightedAvg(series, "k", "t", "tie", "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    // C: 10.0 for 10min, 20.0 for 30min → (10*10+20*30)/40 = 17.5
    assert(got("C") == ((2L, 17.5)))
    // B has a single event: no duration, no output row
    assert(!got.contains("B"))
    // constant-value key: twap = the constant
    import spark.implicits._
    val const = Seq(("K", ts("2024-01-01 00:00:00"), 1L, 5.0),
      ("K", ts("2024-01-01 09:00:00"), 2L, 5.0),
      ("K", ts("2024-01-03 00:00:00"), 3L, 5.0))
      .toDF("k", "t", "tie", "v")
    val r = TimeSeries.timeWeightedAvg(const, "k", "t", "tie", "v")
      .collect().head
    assert(r.getDouble(2) == 5.0)
  }

  test("groupOls recovers a planted exact line with r2 = 1") {
    import spark.implicits._
    // y = 2x + 3 exactly, x integer seconds
    val df = (1 to 50).map(i => ("g", i.toLong, 2.0 * i + 3)).toDF("g", "x", "y")
    val r = Stats.groupOls(df, "g", col("x"), col("y")).collect().head
    assert(r.getAs[Double]("slope") == 2.0)
    assert(r.getAs[Double]("intercept") == 3.0)
    assert(r.getAs[Double]("r2") == 1.0)
    // degenerate group (single x value): null slope, not a crash
    val deg = Seq(("d", 5L, 1.0), ("d", 5L, 2.0)).toDF("g", "x", "y")
    val rd = Stats.groupOls(deg, "g", col("x"), col("y")).collect().head
    assert(rd.isNullAt(rd.fieldIndex("slope")))
  }

  test("groupOls is partitioning-invariant (exact decimal sums)") {
    val ev = graft.core.Tables.events(spark, sf)
    def run(d: DataFrame) = Stats.groupOls(d, "event_type",
      expr("unix_micros(ts) div 1000000"), col("value"), 86400.0)
      .collect().map(_.toSeq).toSet
    assert(run(ev) == run(ev.repartition(13, col("value"))))
  }

  test("dowProfile: shares sum to 1, count-weighted deviations sum to 0") {
    val prof = Stats.dowProfile(graft.core.Tables.events(spark, sf),
      "event_type", (dayofweek(col("ts")) - 1).as("dow"), col("value"))
      .collect()
    prof.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val shares = rows.map(_.getDouble(3)).sum
      assert(math.abs(shares - 1.0) < 1e-4)
      val wdev = rows.map(r => r.getLong(2) * r.getDouble(5)).sum
      val n = rows.map(_.getLong(2)).sum
      assert(math.abs(wdev / n) < 1e-5, s"weighted dev $wdev")
    }
  }

  test("jaro_winkler: DuckDB-verified constants, codegen = interpreted") {
    import graft.functions.JaroWinklerFn
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String) =
      JaroWinklerFn.sim(UTF8String.fromString(a), UTF8String.fromString(b))
    // constants cross-checked against DuckDB jaro_winkler_similarity
    assert(math.abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-15)
    assert(math.abs(jw("dwayne", "duane") - 0.8400000000000001) < 1e-15)
    assert(math.abs(jw("dixon", "dicksonx") - 0.8133333333333332) < 1e-15)
    assert(jw("same", "same") == 1.0)
    assert(jw("", "") == 0.0, "empty-empty is 0.0 — DuckDB convention")
    assert(jw("", "x") == 0.0 && jw("x", "") == 0.0)
    assert(jw("abc", "xyz") == 0.0, "no matches")
    // expression path (via SQL function) agrees with the kernel
    val viaSql = spark.sql(
      "SELECT jaro_winkler('martha', 'marhta')").collect().head.getDouble(0)
    assert(viaSql == jw("martha", "marhta"))
    // null in → null out
    val r = spark.sql("SELECT jaro_winkler(CAST(NULL AS STRING), 'x')")
      .collect().head
    assert(r.isNullAt(0))
  }

  test("jaroNearNames: finds planted near-pair, respects block + threshold") {
    import spark.implicits._
    val df = Seq("red widget", "red widgget", "blue bolt", "rod widget")
      .toDF("nm")
    val pairs = FuzzyJoin.jaroNearNames(df, "nm", 0.9)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("red widget", "red widgget")))
    // cross-letter pair never compared, regardless of similarity
    assert(!pairs.exists(p => p._1.startsWith("b") ^ p._2.startsWith("b")))
  }

  test("countMin: estimate >= exact for every key (one-sided error)") {
    val est = Sketches.countMinEstimate(
      graft.core.Tables.events(spark, sf), col("user_id"))
    val bad = est.filter(col("n_est") < col("n_exact")).count()
    assert(bad == 0)
    // and every key gets exactly one estimate row
    val users = graft.core.Tables.events(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(est.count() == users)
  }

  test("countMin merge law: sketch(A ++ B) = cellwise sum of sketches") {
    val ev = graft.core.Tables.events(spark, sf)
    val a = ev.filter(col("event_id") % 2 === 0)
    val b = ev.filter(col("event_id") % 2 === 1)
    def cells(d: DataFrame) = Sketches.countMinSketch(d, col("user_id"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = cells(ev)
    val merged = (cells(a).toSeq ++ cells(b).toSeq)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    assert(whole == merged)
  }

  test("rrfFuse: both-lists ids sum both terms, single-list ids one") {
    import spark.implicits._
    val a = Seq((1L, 1), (2L, 2)).toDF("id", "rank")
    val b = Seq((1L, 3), (9L, 1)).toDF("id", "rank")
    val got = Eval.rrfFuse(a, b, "id", "rank", 60)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    def t(r: Int) = 1.0 / (60 + r)
    assert(math.abs(got(1L) - (t(1) + t(3))) < 1e-9)
    assert(math.abs(got(2L) - t(2)) < 1e-9)
    assert(math.abs(got(9L) - t(1)) < 1e-9)
  }

  test("dowAnomalies: ranks bounded, rank 1 is the group's max |residual|") {
    val got = Stats.dowAnomalies(graft.core.Tables.events(spark, sf),
      "event_type", (dayofweek(col("ts")) - 1).as("dow"),
      "event_id", "value", 5).collect()
    assert(got.nonEmpty)
    got.groupBy(_.getString(0)).foreach { case (_, rows) =>
      assert(rows.length <= 5)
      val byRank = rows.sortBy(_.getAs[Int]("rank"))
      assert(byRank.map(_.getAs[Int]("rank")).toSeq ==
        (1 to rows.length))
      val resid = byRank.map(r => math.abs(r.getAs[Double]("residual")))
      assert(resid.zip(resid.tail).forall { case (a, b) => a >= b - 1e-6 })
    }
  }

  test("theilSen shrugs off the outlier that drags OLS") {
    import spark.implicits._
    // clean line y = 3x, one wild outlier at x=50
    val pts = (1 to 20).map(i => ("g", i.toLong, 3L * i)) :+
      (("g", 50L, 100000L))
    val df = pts.toDF("g", "x", "y")
    val ts = Stats.theilSen(df, "g", "x", "y").collect().head
    assert(ts.getAs[Double]("ts_slope") == 3.0, ts.toString)
    val ols = Stats.groupOls(df, "g", col("x"), col("y").cast("double"))
      .collect().head
    assert(ols.getAs[Double]("slope") > 100, "OLS should be dragged")
  }

  test("groupEntropy: 0 for pure keys, ln(2) for a uniform 2-mix") {
    import spark.implicits._
    val df = (Seq.fill(8)(("pure", "A")) ++
      Seq.fill(4)(("mix", "A")) ++ Seq.fill(4)(("mix", "B")))
      .toDF("k", "it")
    val got = Stats.groupEntropy(df, "k", "it")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("entropy"), r.getAs[Any]("norm_entropy"))).toMap
    assert(got("pure")._1 == 0.0)
    assert(got("pure")._2 == null, "single item: normalized undefined")
    assert(math.abs(got("mix")._1 - math.log(2)) < 1e-5)
    assert(math.abs(got("mix")._2.asInstanceOf[Double] - 1.0) < 1e-5)
  }

  test("sequenceLogLik: a deterministic path scores avg_ll 0, ppl 1") {
    import spark.implicits._
    // two users, both strictly A→B→A→B: every transition has prob 1
    val rows = for (u <- 1 to 2; i <- 0 until 6)
      yield (u.toLong, if (i % 2 == 0) "A" else "B",
        ts(f"2024-01-01 00:0$i:00"), i.toLong)
    val df = rows.toDF("u", "st", "t", "tie")
    val got = Eval.sequenceLogLik(df, "u", "st", Seq("t", "tie"))
      .collect()
    assert(got.length == 2)
    got.foreach { r =>
      assert(r.getAs[Long]("n_trans") == 5L)
      assert(r.getAs[Double]("avg_ll") == 0.0)
      assert(r.getAs[Double]("perplexity") == 1.0)
    }
  }

  test("dpNoisyCounts: deterministic, partitioning-invariant, seed-sensitive") {
    import graft.ops.Privacy
    val ev = graft.core.Tables.events(spark, sf)
    def run(d: org.apache.spark.sql.DataFrame, seed: Long) =
      Privacy.dpNoisyCounts(d, "event_type", 0.5, seed)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2))).toMap
    val a = run(ev, 99L)
    assert(a == run(ev.repartition(9, col("value")), 99L))
    val b = run(ev, 100L)
    assert(a.keySet == b.keySet)
    assert(a.exists { case (k, (_, noisy)) => noisy != b(k)._2 },
      "different seed must draw different noise")
    // noise is real: some released count differs from truth
    assert(a.exists { case (_, (t, noisy)) => noisy != t.toDouble })
  }

  test("mmrRerank diversifies across planted clusters; top-k would not") {
    import spark.implicits._
    // query q points midway between two tight clusters; cluster A is
    // marginally closer, so pure relevance top-3 is all-A; MMR(λ=.5)
    // must break out to cluster B by step 2
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val corpus = Seq(
      (10L, v(1.0, 0.10)), (11L, v(1.0, 0.11)), (12L, v(1.0, 0.09)),
      (20L, v(0.10, 1.0)), (21L, v(0.11, 1.0)), (22L, v(0.09, 1.0)))
      .toDF("vec_id", "embedding")
    val q = Seq((0L, v(1.0, 0.8))).toDF("vec_id", "embedding")
    val picks = graft.ops.VectorOps
      .mmrRerank(q, corpus, shortlistK = 6, selectK = 3)
      .collect().sortBy(_.getAs[Int]("step"))
      .map(_.getAs[Long]("neighbor_id"))
    assert(picks.length == 3)
    assert(picks.toSet.size == 3, "no repeats")
    val clusters = picks.map(_ / 10).toSet
    assert(clusters == Set(1L, 2L),
      s"MMR must cover both clusters, picked ${picks.toSeq}")
    // contrast: relevance-only top-3 stays in one cluster
    val top3 = graft.ops.VectorOps
      .bruteForceTopK(q, corpus, 3).collect().map(_.getAs[Long]("neighbor_id"))
    assert(top3.map(_ / 10).toSet.size == 1)
  }

  test("zipfFit recovers a planted exact power law") {
    // corpus where type t_k appears round(C·k^-1) times → slope ≈ -1
    import spark.implicits._
    val docs = (1 to 50).flatMap { k =>
      val c = math.max(1, math.round(1000.0 * math.pow(k, -1.0)).toInt)
      Seq.fill(c)(s"w$k")
    }
    // single doc containing the whole stream
    val df = Seq((1L, docs.mkString(" "))).toDF("doc_id", "text")
    val spy = new java.io.File("/tmp/zipf_docs_spec"); spy.mkdirs()
    df.write.mode("overwrite").parquet("/tmp/zipf_docs_spec/documents.parquet")
    val r = graft.queries.TextQueries.qZipfFit(spark, "/tmp/zipf_docs_spec")
      .collect().head
    val slope = r.getAs[Double]("zipf_slope")
    assert(math.abs(slope - (-1.0)) < 0.05, s"slope $slope")
    assert(r.getAs[Double]("r2") > 0.99)
  }

  test("neymanAllocation: equal-sd strata split by size; zero-variance gets 0") {
    import spark.implicits._
    // strata A (100 rows) and B (50 rows) share the same value pattern
    // (sd equal); C is constant (sd 0)
    val rows = (1 to 100).map(i => ("A", (i % 10) * 10.0)) ++
      (1 to 50).map(i => ("B", (i % 10) * 10.0)) ++
      (1 to 30).map(_ => ("C", 42.0))
    val df = rows.toDF("src", "v")
    val got = graft.ops.Sampling
      .neymanAllocation(df, col("src"), col("v"), 1000L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getAs[Double]("sd"), r.getLong(3))).toMap
    assert(got("C")._3 == 0L, "zero-variance stratum gets nothing")
    assert(got("A")._2 == got("B")._2, "same pattern, same sd")
    // A gets double B's allocation (2× the rows, same sd), ±1 for floor
    assert(math.abs(got("A")._3 - 2L * got("B")._3) <= 2,
      s"${got("A")._3} vs ${got("B")._3}")
    assert(got.values.map(_._3).sum <= 1000L)
  }

  test("clusteringCoefficient: clique cc=1, path interior cc=0") {
    import spark.implicits._
    // triangle 1-2-3 plus a pendant path 3-4-5
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val got = graft.ops.Graph.clusteringCoefficient(edges, "a", "b")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == ((2L, 1L, 1.0)))
    assert(got(2L) == ((2L, 1L, 1.0)))
    assert(got(3L)._1 == 3L && got(3L)._2 == 1L)
    assert(math.abs(got(3L)._3 - 1.0 / 3.0) < 1e-6)
    assert(got(4L) == ((2L, 0L, 0.0)), "path interior: no triangles")
    assert(got(5L)._3 == 0.0, "degree-1 endpoint reports 0")
  }

  test("prCurve: perfect separator hits P=R=1 at its threshold") {
    import spark.implicits._
    // scores: positives in [0.7, 1.0], negatives in [0.0, 0.3]
    val df = ((1 to 10).map(i => (0.7 + i * 0.03, 1)) ++
      (1 to 10).map(i => (i * 0.03, 0))).toDF("s", "y")
    val pts = Eval.prCurve(df, "s", "y", Seq(0.1, 0.5, 0.9))
      .collect().map(r => r.getDouble(0) ->
        (r.getAs[Any]("precision"), r.getAs[Any]("recall"))).toMap
    assert(pts(0.5) == ((1.0, 1.0)), pts.toString)
    // at 0.1 everything passes: recall 1, precision = 10/ (10 + fp)
    assert(pts(0.1)._2 == 1.0)
    assert(pts(0.1)._1.asInstanceOf[Double] < 1.0)
    // at 0.9 precision stays 1, recall drops
    assert(pts(0.9)._1 == 1.0)
    assert(pts(0.9)._2.asInstanceOf[Double] < 1.0)
  }

  test("weightedMedian: integer half-mass boundary on a hand fixture") {
    import spark.implicits._
    // weights: 1@v=1, 1@v=2, 6@v=3, 1@v=4 → W=9, half-mass at v=3
    val df = Seq(("g", 1.0, 1L, 1L), ("g", 2.0, 1L, 2L),
      ("g", 3.0, 6L, 3L), ("g", 4.0, 1L, 4L),
      ("h", 5.0, 0L, 5L), ("h", 6.0, 2L, 6L)).toDF("k", "v", "w", "id")
    val got = Stats.weightedMedian(df, "k", "v", col("w"), "id")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(got("g") == ((9L, 3.0)))
    // zero-weight row carries no mass: h's median is 6, total 2
    assert(got("h") == ((2L, 6.0)))
  }

  test("topNWithOther: shares sum to 1, at most n+1 rows per group") {
    import spark.implicits._
    val rows = Seq.fill(50)(("s1", "a")) ++ Seq.fill(30)(("s1", "b")) ++
      Seq.fill(20)(("s1", "c")) ++ Seq.fill(5)(("s1", "d")) ++
      Seq.fill(5)(("s1", "e")) ++ Seq.fill(3)(("s2", "z"))
    val got = Stats.topNWithOther(rows.toDF("src", "it"), "src", "it", 3)
      .collect()
    val s1 = got.filter(_.getString(0) == "s1")
    assert(s1.length == 4)
    assert(s1.map(_.getAs[Double]("share")).sum > 0.9999)
    val other = s1.find(_.getString(1) == "__other__").get
    assert(other.getAs[Long]("cnt") == 10L)
    // a group with <= n items has no __other__ row
    assert(got.filter(_.getString(0) == "s2").map(_.getString(1)).toSeq ==
      Seq("z"))
  }

  test("mutualInformation: 0 for independence, ln(2) for a copy") {
    import spark.implicits._
    // independent: x uniform over {a,b}, y uniform over {0,1}, all 4
    // cells equal
    val ind = (for (x <- Seq("a", "b"); y <- Seq(0, 1); _ <- 1 to 25)
      yield (x, y)).toDF("x", "y")
    val mi0 = Stats.mutualInformation(ind, col("x"), col("y"))
      .collect().head.getDouble(1)
    assert(mi0 == 0.0)
    // y == x: MI = H(X) = ln 2
    val dep = (for (x <- Seq("a", "b"); _ <- 1 to 50)
      yield (x, x)).toDF("x", "y")
    val mi1 = Stats.mutualInformation(dep, col("x"), col("y"))
      .collect().head.getDouble(1)
    assert(math.abs(mi1 - math.log(2)) < 1e-5)
  }

  test("bootstrapMeanCI: CI brackets the mean, deterministic, invariant") {
    val ev = graft.core.Tables.events(spark, sf)
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.bootstrapMeanCI(d, "event_type", "value", col("event_id"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getLong(3),
            r.getDouble(4), r.getDouble(5))).toMap
    val a = run(ev)
    a.foreach { case (k, (n, mean, nb, lo, hi)) =>
      assert(nb == 32L, s"$k lost replicates")
      assert(lo <= hi, s"$k inverted CI")
      assert(lo <= mean && mean <= hi,
        s"$k CI [$lo,$hi] misses mean $mean (possible but wild at n=$n)")
    }
    assert(a == run(ev.repartition(11, col("value"))),
      "resampling must be partitioning-invariant")
  }

  test("audienceOverlap: exact intersections on a hand fixture") {
    import spark.implicits._
    // A users {1,2,3}, B users {2,3,4,5}, C users {9}
    val df = (Seq(("A", 1L), ("A", 2L), ("A", 3L), ("A", 2L)) ++
      Seq(("B", 2L), ("B", 3L), ("B", 4L), ("B", 5L)) ++
      Seq(("C", 9L))).toDF("it", "u")
    val got = Stats.audienceOverlap(df, "it", "u")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(got(("A", "B")) == ((3L, 4L, 2L, 0.4)))
    assert(!got.contains(("A", "C")), "disjoint pairs drop out")
  }

  test("ksTwoSample: 0 on identical samples, 1 on disjoint supports") {
    import spark.implicits._
    val same = ((1 to 50).map(i => ("a", i * 1.0)) ++
      (1 to 50).map(i => ("b", i * 1.0))).toDF("g", "v")
    assert(Stats.ksTwoSample(same, "g", "v", "a", "b")
      .collect().head.getDouble(2) == 0.0)
    val disjoint = ((1 to 30).map(i => ("a", i * 1.0)) ++
      (1 to 30).map(i => ("b", 1000.0 + i))).toDF("g", "v")
    assert(Stats.ksTwoSample(disjoint, "g", "v", "a", "b")
      .collect().head.getDouble(2) == 1.0)
  }

  test("chiSquare: 0 under exact independence, dof correct") {
    import spark.implicits._
    val ind = (for (x <- Seq("a", "b", "c"); y <- Seq(0, 1); _ <- 1 to 10)
      yield (x, y)).toDF("x", "y")
    val r = Stats.chiSquare(ind, col("x"), col("y")).collect().head
    assert(r.getAs[Long]("dof") == 2L)
    assert(r.getAs[Double]("chi2") == 0.0)
    // a dependent table scores positive
    val dep = (for (x <- Seq("a", "b"); _ <- 1 to 20)
      yield (x, if (x == "a") 0 else 1)).toDF("x", "y")
    assert(Stats.chiSquare(dep, col("x"), col("y"))
      .collect().head.getAs[Double]("chi2") > 10)
  }

  test("spearman: ±1 on monotone data, midranks match the closed form") {
    import spark.implicits._
    // any strictly monotone map has rank corr exactly ±1 — the
    // invariance Pearson lacks
    val mono = (1 to 40).map(i => ("g", i * 1.0, math.exp(i * 0.1))) ++
      (1 to 40).map(i => ("h", i * 1.0, -i * 3.0))
    val r = Stats.spearman(mono.toDF("k", "x", "y"), "k", "x", "y")
      .collect().map(row => row.getString(0) -> row.getDouble(2)).toMap
    assert(r("g") == 1.0 && r("h") == -1.0)
    // tie fixture: x = (1,2,2,3) midranks (1, 2.5, 2.5, 4),
    // y = (1,3,2,4) ranks (1,3,2,4) → ρ = √(72·72/(72·80)) = √0.9
    val tied = Seq(("t", 1.0, 1.0), ("t", 2.0, 3.0),
      ("t", 2.0, 2.0), ("t", 3.0, 4.0))
    val rho = Stats.spearman(tied.toDF("k", "x", "y"), "k", "x", "y")
      .collect().head.getDouble(2)
    assert(rho == 0.948683, s"midrank rho $rho")
  }

  test("cramersV: 1 on perfect association, 0 under independence") {
    import spark.implicits._
    val perfect = (for (x <- Seq("a", "b"); _ <- 1 to 20)
      yield (x, if (x == "a") 0 else 1)).toDF("x", "y")
    val p = Stats.cramersV(perfect, col("x"), col("y")).collect().head
    assert(p.getAs[Double]("v") == 1.0 &&
      p.getAs[Double]("chi2") == 40.0 && p.getAs[Long]("n") == 40L)
    val ind = (for (x <- Seq("a", "b", "c"); y <- 0 to 3; _ <- 1 to 5)
      yield (x, y)).toDF("x", "y")
    val i = Stats.cramersV(ind, col("x"), col("y")).collect().head
    assert(i.getAs[Double]("v") == 0.0 && i.getAs[Long]("r") == 3L &&
      i.getAs[Long]("c") == 4L)
  }

  // ---- algebraic invariances: properties a value-level oracle compare
  // cannot see, pinned per family ----

  test("ewmaTrailing is affine-equivariant: ewma(a·x + b) = a·ewma(x) + b") {
    import spark.implicits._
    val base = (1 to 25).map(i =>
      ("k", ts(f"2024-01-01 00:$i%02d:00"), i.toLong, i * 3.7))
    val df = base.toDF("k", "t", "tie", "v")
    val scaled = base.map { case (k, t, tie, v) => (k, t, tie, 2.5 * v + 10) }
      .toDF("k", "t", "tie", "v")
    def level(d: org.apache.spark.sql.DataFrame) =
      TimeSeries.ewmaTrailing(d, "k", "t", "tie", "v")
        .collect().head.getDouble(2)
    assert(math.abs(level(scaled) - (2.5 * level(df) + 10)) < 1e-4)
  }

  test("mutualInformation is symmetric in its arguments") {
    val ev = graft.core.Tables.events(spark, sf)
    def mi(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      Stats.mutualInformation(ev, a, b).collect().head.getDouble(1)
    assert(mi(col("event_type"), dayofweek(col("ts"))) ==
      mi(dayofweek(col("ts")), col("event_type")))
  }

  test("theilSen slope scales linearly with y") {
    import spark.implicits._
    val pts = (1 to 15).map(i => ("g", i.toLong, 2L + 5L * i + (i % 3)))
    val df = pts.toDF("g", "x", "y")
    val doubled = pts.map { case (g, x, y) => (g, x, 2 * y) }
      .toDF("g", "x", "y")
    val s1 = Stats.theilSen(df, "g", "x", "y")
      .collect().head.getAs[Double]("ts_slope")
    val s2 = Stats.theilSen(doubled, "g", "x", "y")
      .collect().head.getAs[Double]("ts_slope")
    assert(s2 == 2 * s1, s"$s2 != 2*$s1")
  }

  test("rrfFuse is symmetric: swapping lists swaps ranks, same score") {
    import spark.implicits._
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "rank")
    val b = Seq((2L, 1), (9L, 2)).toDF("id", "rank")
    val ab = Eval.rrfFuse(a, b, "id", "rank")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val ba = Eval.rrfFuse(b, a, "id", "rank")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(ab == ba)
  }

  test("dpNoisyCounts: doubling epsilon exactly halves the noise") {
    import graft.ops.Privacy
    val ev = graft.core.Tables.events(spark, sf)
    def noise(eps: Double) = Privacy.dpNoisyCounts(ev, "event_type", eps, 5L)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2) - r.getLong(1))).toMap
    val n1 = noise(0.5)
    val n2 = noise(1.0)
    // same seed → same uniform draw; scale = 1/eps → exactly half
    n1.foreach { case (k, v) =>
      assert(math.abs(v - 2 * n2(k)) < 2e-6, s"$k: $v vs ${n2(k)}")
    }
  }

  test("countMin estimates are monotone in the stream (prefix <= full)") {
    val ev = graft.core.Tables.events(spark, sf)
    def est(d: org.apache.spark.sql.DataFrame) =
      Sketches.countMinEstimate(d, col("user_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val half = est(ev.filter(col("event_id") % 2 === 0))
    val full = est(ev)
    half.foreach { case (k, e) =>
      assert(e <= full(k), s"user $k: prefix est $e > full ${full(k)}")
    }
  }

  test("orderedPairReach: order constraint separates A→B from B→A") {
    import spark.implicits._
    // user 1: A then B. user 2: B only. user 3: B then A.
    val df = Seq(
      (1L, "A", ts("2024-01-01 00:00:00")),
      (1L, "B", ts("2024-01-01 01:00:00")),
      (2L, "B", ts("2024-01-01 00:00:00")),
      (3L, "B", ts("2024-01-01 00:00:00")),
      (3L, "A", ts("2024-01-01 01:00:00"))).toDF("u", "it", "t")
    val got = Assoc.orderedPairReach(df, "u", "it", "t")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got(("A", "B")) == ((2L, 1L)), "both=2 users, ordered only u1")
    assert(got(("B", "A")) == ((2L, 1L)), "ordered only u3")
    // Self-pairs are filtered before the aggregate (a diagonal row would
    // just count multi-event keys, not a pair fact) — the round-6
    // contract; off-diagonal counts above are unchanged by the filter.
    assert(!got.contains(("B", "B")), "diagonal pairs are filtered out")
    assert(!got.contains(("A", "A")), "diagonal pairs are filtered out")
  }
}
