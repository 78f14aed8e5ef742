package graft

import org.apache.spark.sql.functions._

import graft.ops.{Sketches, VectorOps}

/** Round-9 hardening: the three ADVICE r7 findings — reserved rollup
  * label collision, libm-ln cross-engine risk in the HLL linear-counting
  * branch, and the knownN parity contract on the auto-sized ANN entry
  * points. */
class Round9Spec extends SparkSpecBase {

  /** Sign signature of the mean-centered vectors, as the SRP bucket
    * operators compute it from [[VectorOps.centeredColumn]]. */
  private def srpSignatureCentered(df: org.apache.spark.sql.DataFrame,
                                   vecCol: String, numPlanes: Int) = {
    val (centered, dim) = VectorOps.centeredColumn(df, vecCol)
    VectorOps.srpSignature(centered, numPlanes, dim)
  }

  // ---- reserved "__all__" rollup label guard ----

  test("hllRelational: a data group named __all__ fails fast instead " +
      "of silently aliasing the union row") {
    import spark.implicits._
    val df = Seq(("__all__", "k1"), ("g", "k2")).toDF("grp", "k")
      .select(col("grp"), graft.ops.TextOps.polyHash(col("k")).as("h"))
    val e = intercept[Exception] {
      Sketches.hllRelational(df, "grp", col("h")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
        Option(x.getCause).toSeq.flatMap(msgs))
    assert(msgs(e).exists(_.contains("__all__")), e.getMessage)
  }

  test("hllRollup: same guard on the datasketches tier") {
    import spark.implicits._
    val df = Seq(("__all__", 1L), ("g", 2L)).toDF("grp", "k")
    val e = intercept[Exception] {
      Sketches.hllRollup(df, "grp", "k").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
        Option(x.getCause).toSeq.flatMap(msgs))
    assert(msgs(e).exists(_.contains("__all__")), e.getMessage)
  }

  test("hll rollups: clean groups still produce the union row (guard " +
      "must not fire on non-colliding labels)") {
    import spark.implicits._
    val df = Seq(("a", 1L), ("b", 2L), ("b", 3L)).toDF("grp", "k")
    val labels = Sketches.hllRollup(df, "grp", "k")
      .select("grp").collect().map(_.getString(0)).toSet
    assert(labels == Set("a", "b", Sketches.AllLabel))
  }

  // ---- HLL linear-counting ln literal table ----

  test("HllLnLiterals: one entry per n_zero, each the 9-rounded ln(m/z) " +
      "and parseable back to the double the engines consume") {
    val m = Sketches.HllM
    assert(Sketches.HllLnLiterals.size == m)
    for (z <- Seq(1, 2, 7, 100, 511, m)) {
      val want = java.math.BigDecimal.valueOf(math.log(m.toDouble / z))
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(Sketches.HllLnLiterals(z - 1).toDouble == want, s"z=$z")
    }
    // the DuckDB list literal carries the same decimal strings verbatim
    val sqlList = Sketches.hllLnListSql
    assert(sqlList.startsWith("[") && sqlList.endsWith("]"))
    assert(sqlList.split(", ").length == m)
  }

  test("hllRelational linear-counting branch: estimate equals " +
      "m * table[n_zero] (table lookup, no runtime libm ln)") {
    import spark.implicits._
    val df = spark.range(1, 101L).select(lit("g").as("grp"),
      graft.ops.TextOps.polyHash(col("id").cast("string")).as("h"))
    val r = Sketches.hllRelational(df, "grp", col("h"))
      .filter(col("grp") === "g").head()
    val nZero = r.getLong(1).toInt
    assert(nZero > 0, "n=100 at m=512 must leave zero registers")
    val want = BigDecimal(Sketches.HllM.toDouble *
        Sketches.HllLnLiterals(nZero - 1).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(3) == want,
      s"est ${r.getDouble(3)} vs table-derived $want (n_zero=$nZero)")
  }

  // ---- knownN parity contract ----

  test("srpNearDupPairsAuto/mutualNeighborsAuto: non-positive knownN " +
      "is rejected at call time") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val e1 = intercept[IllegalArgumentException] {
      VectorOps.srpNearDupPairsAuto(vecs, 0.9, knownN = Some(0L))
    }
    assert(e1.getMessage.contains("knownN"))
    val e2 = intercept[IllegalArgumentException] {
      VectorOps.mutualNeighborsAuto(vecs, knownN = Some(-5L))
    }
    assert(e2.getMessage.contains("knownN"))
  }

  // ---- SRP plane family quality + mean-centered signatures ----

  test("planeSignValue: per-plane-stride family has low pairwise " +
      "sign-vector correlation (the old shared-stride family hit 0.94)") {
    val dim = 64
    val planes = (0 until 24).map(j =>
      (0 until dim).map(i => VectorOps.planeSignValue(j, i)))
    val corrs = for {
      a <- 0 until 24; b <- (a + 1) until 24
    } yield math.abs(
      (0 until dim).map(i => planes(a)(i) * planes(b)(i)).sum / dim)
    assert(corrs.max <= 0.4, s"max |corr| ${corrs.max}")
    assert(corrs.sum / corrs.size <= 0.1,
      s"mean |corr| ${corrs.sum / corrs.size}")
  }

  test("srpSignatureCentered equals srpSignature over explicitly " +
      "mean-centered vectors (the centering is pure translation)") {
    import org.apache.spark.sql.types.DoubleType
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val mu = graft.ops.VectorOps.dimensionMeans(vecs, "embedding")
    val manual = vecs.select(col("vec_id"),
      VectorOps.srpSignature(
        zip_with(col("embedding"), array(mu.map(lit(_)): _*),
          (x, m) => x.cast(DoubleType) - m), 10, mu.length).as("sig"))
    val viaOp = vecs.select(col("vec_id"),
      srpSignatureCentered(vecs, "embedding", 10).as("sig"))
    assert(manual.except(viaOp).isEmpty && viaOp.except(manual).isEmpty)
  }

  test("centered buckets on an off-center corpus: shifting every vector " +
      "by a constant leaves the bucket STRUCTURE invariant (sizes match)") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val shifted = vecs.withColumn("embedding",
      transform(col("embedding"), x => x.cast("double") + lit(5.0)))
    def sizes(df: org.apache.spark.sql.DataFrame) =
      df.select(srpSignatureCentered(df, "embedding", 8).as("s"))
        .groupBy($"s").count().select($"count")
        .collect().map(_.getLong(0)).sorted.toSeq
    // translation cancels in v − μ exactly only when the shift is exactly
    // representable; 5.0f is, so signatures are identical buckets
    assert(sizes(vecs) == sizes(shifted))
  }

  // ---- paragraph-level exact dedup ----

  test("paragraphDedup: each distinct paragraph survives only at its " +
      "corpus-minimal (doc, pos); docs reassemble in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha\n\nshared one\n\nbeta"),
      (2L, "shared one\n\ngamma\n\nshared one"), // both copies removed
      (3L, "delta\n\ndelta\n\nepsilon"),         // within-doc dup: first kept
      (4L, ""),                                  // no paragraphs
      (5L, "alpha")                              // whole doc is a dup par
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.paragraphDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((3L, 3L, "alpha\n\nshared one\n\nbeta")))
    assert(got(2L) == ((3L, 1L, "gamma")))
    assert(got(3L) == ((3L, 2L, "delta\n\nepsilon")))
    assert(got(4L) == ((0L, 0L, "")))
    assert(got(5L) == ((1L, 0L, "")))
  }

  test("paragraphDedup: conservation — kept paragraphs corpus-wide equal " +
      "distinct paragraphs, and output is one row per input doc") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        regexp_replace(col("text"), " ", "\n\n").as("text"))
    val out = graft.ops.Dedup.paragraphDedup(docs, "doc_id", "text")
    assert(out.count() == docs.count())
    val kept = out.agg(sum("n_kept")).head().getLong(0)
    val distinctPars = docs
      .select(explode(split(col("text"), "\\n{2,}")).as("p"))
      .filter(length(trim(col("p"))) > 0)
      .select("p").distinct().count()
    assert(kept == distinctPars, s"kept $kept vs distinct $distinctPars")
  }

  // ---- banded SRP (multiple hash tables) ----

  test("srpBandedNearDupPairs: band 0 is the single-table operator, so " +
      "banded pairs are a SUPERSET of srpNearDupPairs at equal planes") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val single = VectorOps.srpNearDupPairs(vecs, 8, 0.2)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = VectorOps.srpBandedNearDupPairs(vecs, 4, 8, 0.2)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single.subsetOf(banded),
      s"missing: ${single.diff(banded).take(5)}")
  }

  test("srpBandedNearDupPairs: bands lift recall on planted near-dups " +
      "above one table's (the knob the operator exists to sell)") {
    import spark.implicits._
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // plant: for every vector, a perturbed twin (id + 1e6) built by
    // deterministically blending 70/30 with the dimension-reversed self
    // — cosine lands ~0.75-0.9, the regime where one table's recall
    // visibly decays but banding recovers pairs
    val planted = base.select((col("vec_id") + 1000000L).as("vec_id"),
      zip_with(col("embedding"), reverse(col("embedding")),
        (a, b) => a * lit(0.7f) + b * lit(0.3f)).as("embedding"))
    val corpus = base.unionByName(planted)
    def plantedFound(pairs: org.apache.spark.sql.DataFrame): Long =
      pairs.filter(col("vec_b") - col("vec_a") === 1000000L).count()
    val single = plantedFound(VectorOps.srpNearDupPairs(corpus, 10, 0.5))
    val banded = plantedFound(
      VectorOps.srpBandedNearDupPairs(corpus, 4, 10, 0.5))
    assert(banded > single,
      s"banded $banded should beat single-table $single")
  }

  test("srpNearDupPairsAuto: a correct knownN is plan-identical to the " +
      "counted path (the parity contract holds when honored)") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = vecs.count()
    val counted = VectorOps.srpNearDupPairsAuto(vecs, 0.8)
      .collect().toSet
    val hinted = VectorOps.srpNearDupPairsAuto(vecs, 0.8,
      knownN = Some(n)).collect().toSet
    assert(hinted == counted)
  }
}
