package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class SketchesSpec extends SparkSpecBase {

  private def orders = spark.read.parquet(s"$sf/orders.parquet")

  test("bloomPrune works for string keys (no false negatives)") {
    import spark.implicits._
    val fact = (1 to 500).map(i => (s"k$i", i)).toDF("key", "v")
    val dim = (1 to 500 by 25).map(i => s"k$i").toDF("key")
    val pruned = Sketches.bloomPrune(fact, col("key"), dim, 20, 0.01)
    assert(pruned.join(dim, Seq("key")).count()
      == fact.join(dim, Seq("key")).count())
    assert(pruned.count() < 100) // 20 true keys + few false positives
  }

  test("bloomPrune never drops joinable rows, prunes most others") {
    // dim: 5% of customers; fact: orders
    val dim = orders.select(col("o_custkey")).distinct()
      .filter(col("o_custkey") % 20 === 0)
    val pruned = Sketches.bloomPrune(orders, col("o_custkey"), dim,
      expectedDim = 200, fpp = 0.01)
    val joinExact = orders.join(dim, Seq("o_custkey")).count()
    val joinPruned = pruned.join(dim, Seq("o_custkey")).count()
    assert(joinExact == joinPruned) // no false negatives
    val kept = pruned.count().toDouble / orders.count()
    assert(kept < 0.2, s"pruned fraction too weak: kept $kept")
  }

  // --- Misra–Gries frequent items ---

  /** Skewed synthetic stream: item i appears ~n/(i+1) times (zipf-ish),
    * shuffled deterministically so heavy items interleave. */
  private def zipfItems(n: Int): Seq[String] = {
    val raw = (0 until 40).flatMap(i => Seq.fill(n / (i + 1))(s"t$i"))
    val rnd = new scala.util.Random(7)
    rnd.shuffle(raw)
  }

  test("MisraGries sketch never misses items above total/(k+1)") {
    import spark.implicits._
    val items = zipfItems(2000)
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (k <- Seq(4, 8, 16); parts <- Seq(1, 7)) {
      val ds = spark.createDataset(items).repartition(parts)
      val st = ds.select(new Sketches.MisraGries(k).toColumn).head()
      assert(st.total == items.size)
      val mustHave = exact.filter(_._2 > items.size.toDouble / (k + 1)).keySet
      val missed = mustHave -- st.counts.keySet
      assert(missed.isEmpty,
        s"k=$k parts=$parts missed heavy items $missed")
      assert(st.counts.size <= k, s"sketch overflowed capacity: ${st.counts}")
      // MG counts are under-estimates, never over
      st.counts.foreach { case (t, c) =>
        assert(c <= exact(t), s"$t sketch $c > exact ${exact(t)}")
      }
    }
  }

  test("frequentItems equals the naive exact plan, any partitioning") {
    import spark.implicits._
    val items = zipfItems(3000)
    for (parts <- Seq(1, 13)) {
      val df = spark.createDataset(items).toDF("item").repartition(parts)
      val got = Sketches.frequentItems(df, "item", minFrac = 0.05, k = 30)
        .select("item", "n").collect().map(r => r.getString(0) -> r.getLong(1))
        .toMap
      val total = items.size
      val thresh = math.ceil(total * 0.05).toLong
      val want = items.groupBy(identity).view.mapValues(_.size.toLong)
        .filter(_._2 >= thresh).toMap
      assert(got == want, s"parts=$parts got $got want $want")
    }
  }

  test("frequentItems rejects minFrac below the sketch guarantee") {
    import spark.implicits._
    val df = Seq("a", "b").toDF("item")
    intercept[IllegalArgumentException] {
      Sketches.frequentItems(df, "item", minFrac = 0.01, k = 10)
    }
  }

  test("MisraGries sketch runs on a stream (complete mode) == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val items = zipfItems(1500)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val q = mem.toDS().select(new Sketches.MisraGries(16).toColumn)
      .writeStream.format("memory").queryName("mg_sink")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete).start()
    try {
      mem.addData(items.take(700): _*) // two micro-batches: state must merge
      q.processAllAvailable()
      mem.addData(items.drop(700): _*)
      q.processAllAvailable()
      val st = spark.table("mg_sink").as[Sketches.MgState].head()
      assert(st.total == items.size)
      val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val mustHave = exact.filter(_._2 > items.size / 17.0).keySet
      assert((mustHave -- st.counts.keySet).isEmpty,
        s"stream sketch missed ${mustHave -- st.counts.keySet}")
    } finally q.stop()
  }

  test("frequentItems ignores null items (no crash, excluded from total)") {
    import spark.implicits._
    val df = (Seq.fill(60)(Some("hot")) ++ Seq.fill(10)(Some("cold")) ++
      Seq.fill(30)(Option.empty[String])).toDF("item")
    val got = Sketches.frequentItems(df, "item", minFrac = 0.5, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // total is 70 non-null; hot (60) ≥ 35 qualifies, cold (10) does not
    assert(got.toSeq == Seq(("hot", 60L)))
  }

  test("kmvDistinct: exact below capacity, estimator at capacity, " +
      "partition-invariant") {
    import spark.implicits._
    // 50 distinct < k=64: the sketch IS the set — exact count, no kth
    val small = (1L to 50L).flatMap(h => Seq(("g", h), ("g", h)))
      .toDF("grp", "h")
    val sRow = Sketches.kmvDistinct(small, "grp", col("h"), 64).head()
    assert(sRow.isNullAt(1) && sRow.getInt(2) == 50 &&
      sRow.getLong(3) == 50L)
    // 1000 distinct, k=10: bottom-k of 1..1000 is 1..10, kth = 10,
    // est = 9 * 1000000007 div 10 — and the same under any partitioning
    val big = (1L to 1000L).map(h => ("g", h)).toDF("grp", "h")
    for (df <- Seq(big, big.repartition(17))) {
      val r = Sketches.kmvDistinct(df, "grp", col("h"), 10).head()
      assert(r.getLong(1) == 10L && r.getInt(2) == 10 &&
        r.getLong(3) == 9L * 1000000007L / 10L)
    }
  }

  test("kmvDistinct: duplicates never occupy sketch slots") {
    import spark.implicits._
    // 5 distinct values, each 100×: a multiset-minded bottom-8 would
    // fill with repeats of the smallest and report kth garbage
    val df = (1L to 5L).flatMap(h => Seq.fill(100)(("g", h)))
      .toDF("grp", "h")
    val r = Sketches.kmvDistinct(df, "grp", col("h"), 8).head()
    assert(r.isNullAt(1) && r.getInt(2) == 5 && r.getLong(3) == 5L)
  }

  test("bitmapDistinct: exact counts incl. word-boundary keys and bit 63") {
    import spark.implicits._
    // keys straddle bucket edges (63|64, 127|128) and exercise the sign
    // bit (63 mod 64 = 63 → 1L << 63 wraps negative; popcount must
    // still count it)
    val keys = Seq(0L, 1L, 63L, 63L, 64L, 127L, 128L, 500L, 500L)
    val df = keys.map(("g", _)).toDF("grp", "k")
      .unionByName(Seq(("h", 63L)).toDF("grp", "k"))
    val got = Sketches.bitmapDistinct(df, "grp", "k")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    // g buckets: {0 (keys 0,1,63), 1 (64,127), 2 (128), 7 (500)}
    assert(got("g") == ((4L, 7L)))
    assert(got("h") == ((1L, 1L)))
  }

  test("bitmapDistinct matches count(distinct) and nulls are skipped") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (1 to 2000).map(i =>
      (s"g${i % 4}", if (i % 97 == 0) None else Some(rnd.nextInt(400).toLong)))
    val df = rows.toDF("grp", "k")
    val got = Sketches.bitmapDistinct(df, "grp", "k")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val expected = rows.collect { case (g, Some(k)) => (g, k) }
      .distinct.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(got == expected)
  }

  test("hllRollup: bounded relative error and exact union merge law") {
    import spark.implicits._
    val df = (1 to 30000).map(i => (s"s${i % 3}", (i % 9000).toLong))
      .toDF("grp", "k")
    val got = Sketches.hllRollup(df, "grp", "k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // per-group exacts: each group holds 3000 distinct; union = 9000
    for (g <- Seq("s0", "s1", "s2"))
      assert(math.abs(got(g) - 3000.0) / 3000.0 < 0.05, s"$g -> ${got(g)}")
    assert(math.abs(got("__all__") - 9000.0) / 9000.0 < 0.05, got("__all__"))
    // merge law: union-of-sketches ≡ sketch-of-union — same estimate,
    // EXACTLY (both paths see the same key set)
    val direct = df.select(lit("all").as("grp"), col("k"))
    val directEst = Sketches.hllRollup(direct, "grp", "k")
      .filter(col("grp") === "all").head().getLong(1)
    assert(got("__all__") == directEst)
  }
}
