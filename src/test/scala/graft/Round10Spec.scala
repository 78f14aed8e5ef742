package graft

import org.apache.spark.sql.functions._

import graft.ops.VectorOps

/** Round-10 hardening: the banded-SRP recall contract — the r9 verdict's
  * headline defect. The old default (fixed b = 4, planes-per-band =
  * autoPlaneCount) let recall decay with n (measured 0.924@4k →
  * 0.763@40k, extrapolating to ~0.06 at n = 10⁹); the new law holds
  * recall ≥ DefaultRecallTarget at centered cosine ≥ DefaultDesignCos at
  * ANY n by growing the band count as n^ρ
  * ([[VectorOps.srpBandCountForPlanes]]).
  */
class Round10Spec extends SparkSpecBase {

  // ---- the sizing law itself (pure function, no Spark) ----

  test("srpBandCountForPlanes: the ceiling bound is SUFFICIENT — " +
      "1-(1-q^p)^b >= recallTarget at every plane count") {
    val q = 1.0 - math.acos(VectorOps.DefaultDesignCos) / math.Pi
    var prev = 0
    (VectorOps.DefaultMinPlanes to 40).foreach { p =>
      val b = VectorOps.srpBandCountForPlanes(p)
      val recall = 1.0 - math.pow(1.0 - math.pow(q, p), b)
      assert(recall >= VectorOps.DefaultRecallTarget,
        s"p=$p b=$b recall=$recall")
      assert(b >= prev, s"band count must be monotone in planes: p=$p")
      prev = b
    }
  }

  test("srpBandCount: pinned law values at the scales the engine runs " +
      "(drift in constants or the formula breaks oracle parity)") {
    val expected = Seq(200L -> (5, 5), 500L -> (6, 6), 2000L -> (8, 7),
      20000L -> (12, 12), 400000L -> (16, 21), 1000000000L -> (27, 94))
    expected.foreach { case (n, (p, b)) =>
      assert(VectorOps.autoPlaneCount(n) == p, s"planes at n=$n")
      assert(VectorOps.srpBandCountForPlanes(VectorOps.autoPlaneCount(n)) == b,
        s"bands at n=$n")
    }
  }

  // ---- the contract, measured ----

  test("srpBandedNearDupPairsAuto: planted twins ABOVE the design " +
      "cosine are recalled at >= the declared target") {
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // 0.75/0.25 blend with the dimension-reversed self: centered cosine
    // ~ 0.75/sqrt(0.75^2+0.25^2) ~ 0.949 > DefaultDesignCos = 0.92, so
    // the contract's floor applies to every planted pair
    val planted = base.select((col("vec_id") + 1000000L).as("vec_id"),
      zip_with(col("embedding"), reverse(col("embedding")),
        (a, b) => a * lit(0.75f) + b * lit(0.25f)).as("embedding"))
    val corpus = base.unionByName(planted).cache()
    val truePairs = base.join(
        planted.select((col("vec_id") - 1000000L).as("vec_id"),
          col("embedding").as("__e2")), "vec_id")
      .filter(VectorOps.cosine(col("embedding"), col("__e2")) >= 0.5)
      .count()
    assert(truePairs > 0)
    def found(df: org.apache.spark.sql.DataFrame): Long =
      df.filter(col("vec_b") - col("vec_a") === 1000000L).count()
    val banded = found(VectorOps.srpBandedNearDupPairsAuto(corpus, 0.5))
    val single = found(VectorOps.srpNearDupPairsAuto(corpus, 0.5))
    val recall = banded.toDouble / truePairs
    assert(recall >= VectorOps.DefaultRecallTarget,
      s"banded recall $recall ($banded/$truePairs) below contract")
    assert(banded >= single,
      s"banded $banded must not lose pairs vs single-table $single")
    corpus.unpersist()
  }

  // ---- native all-bands SRP kernel ----

  test("srp_banded_sig: bit-identical to the unrolled per-band " +
      "srpSignature on real vectors (same fold order, same plane family)") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val bands = 5
    val p = 9
    val dim = vecs.select(size(col("v"))).head().getInt(0)
    val unrolled = vecs.select(col("vec_id"), array(
      (0 until bands).map(b =>
        VectorOps.srpSignature(col("v"), p, dim,
          planeOffset = b * p)): _*).as("sigs"))
    val native = vecs.select(col("vec_id"),
      call_function("srp_banded_sig", col("v"), lit(bands), lit(p))
        .as("sigs"))
    assert(native.exceptAll(unrolled).count() == 0)
    assert(unrolled.exceptAll(native).count() == 0)
  }

  test("srp_banded_sig: a null element nulls the whole signature array " +
      "(the unrolled form's vec_dot null propagation, pinned)") {
    import spark.implicits._
    val df = Seq((1L, Seq[java.lang.Double](1.0, -2.0, 3.0)),
        (2L, Seq[java.lang.Double](1.0, null, 3.0)))
      .toDF("vec_id", "v")
    val out = df.select(col("vec_id"),
        call_function("srp_banded_sig", col("v"), lit(2), lit(4)).as("s"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(out(1L) == false && out(2L) == true, s"$out")
  }

  // ---- margin-criterion pair mining (q268) ----

  test("marginMiningPairs: a planted exceptional cross-label twin is " +
      "mined with margin above its neighborhood; output is canonical " +
      "and threshold-clean") {
    import spark.implicits._
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    // plant: an off-label near-copy of vector 0 — exceptional vs the
    // random cross-label neighborhood, so the margin criterion must
    // keep it
    val twin = base.filter(col("vec_id") === 0)
      .select(lit(9000000L).as("vec_id"),
        zip_with(col("embedding"), reverse(col("embedding")),
          (a, b) => a * lit(0.95f) + b * lit(0.05f)).as("embedding"),
        lit(-999).cast(base.schema("label").dataType).as("label"))
    val corpus = base.unionByName(twin)
    val out = graft.ops.VectorOps.marginMiningPairsAuto(corpus, k = 3,
      minMargin = 1.05).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs must be canonical a<b")
      assert(r.getDouble(3) >= 1.05, s"margin below threshold: $r")
    }
    assert(out.exists(r => r.getLong(0) == 0L && r.getLong(1) == 9000000L),
      "planted exceptional pair not mined")
  }

  // ---- quality-classifier trainer (q266/q267) ----

  test("logisticTrain: separates a planted linearly separable set, and " +
      "the decimal gradient sums make training partition-invariant") {
    import spark.implicits._
    val df = (0 until 1000)
      .map(i => (i / 1000.0, if (i >= 500) 1.0 else 0.0))
      .toDF("x", "y")
    def train(parts: Int) = graft.ops.Classifier.logisticTrain(
      df.repartition(parts), Seq(col("x")), col("y"), rounds = 8, lr = 8.0)
    val m1 = train(1)
    val m13 = train(13)
    assert(m1 == m13, s"$m1 vs $m13 — partition order leaked into training")
    val acc = df.select(
        (graft.ops.Classifier.logisticScore(m1, Seq(col("x"))) >= 0.5)
          .cast("int") === col("y").cast("int")).as[Boolean]
      .collect().count(identity) / 1000.0
    assert(acc >= 0.9, s"trained accuracy $acc")
  }

  test("q267: the trained filter beats the majority class on the " +
      "planted length label") {
    val scored = graft.queries.TextQueries.qQualityScores(spark, sf)
      .select(col("keep"), col("is_long")).collect()
    val n = scored.length.toDouble
    val acc = scored.count(r => r.getBoolean(0) == r.getBoolean(1)) / n
    val posFrac = scored.count(_.getBoolean(1)) / n
    val majority = math.max(posFrac, 1 - posFrac)
    assert(acc > majority && acc >= 0.7,
      s"accuracy $acc vs majority $majority")
  }

  // ---- hash-keyed paragraph dedup (the 100 TB shuffle-key variant) ----

  test("paragraphDedupHashed: row-for-row identical to the exact-string " +
      "path, including cross-doc duplicates and empty docs") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        // re-paragraphize the flat text so cross-doc duplicate
        // paragraphs actually exist: 3-token chunks joined by blank
        // lines (the q264 fixture shape)
        concat_ws("\n\n", transform(
          sequence(lit(0),
            greatest(floor((size(split(col("text"), "\\s+")) - 1) / 3)
              .cast("int"), lit(0))),
          i => concat_ws(" ", slice(split(col("text"), "\\s+"),
            i * 3 + 1, lit(3))))).as("text"))
      .unionByName(Seq((900001L, ""), (900002L, "   ")).toDF("doc_id", "text"))
    val exact = graft.ops.Dedup.paragraphDedup(docs, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    val hashed = graft.ops.Dedup.paragraphDedupHashed(docs, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(exact == hashed,
      s"diff: ${exact.diff(hashed).take(2)} / ${hashed.diff(exact).take(2)}")
  }

  test("srpBandedNearDupPairsAuto: band 0 is the auto single table, so " +
      "auto-banded pairs are a superset of auto-single pairs") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val single = VectorOps.srpNearDupPairsAuto(vecs, 0.2)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = VectorOps.srpBandedNearDupPairsAuto(vecs, 0.2)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single.subsetOf(banded),
      s"missing: ${single.diff(banded).take(5)}")
  }
}
