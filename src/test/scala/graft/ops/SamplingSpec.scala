package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class SamplingSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  /** Uniform sample: one stratum, so every row gets `fraction`. */
  private def hashSample(df: org.apache.spark.sql.DataFrame,
                         key: org.apache.spark.sql.Column, fraction: Double,
                         seed: Long) =
    Sampling.stratifiedHashSample(df, key, lit(""), Map.empty, fraction, seed)

  test("hashSample is deterministic across partitionings and reruns") {
    val a = hashSample(docs, col("doc_id"), 0.3, seed = 11)
      .select("doc_id").as[Long].collect().toSet
    val b = hashSample(docs.repartition(7), col("doc_id"), 0.3,
        seed = 11)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("hashSample fraction lands near the target; seeds decorrelate") {
    val n = docs.count().toDouble
    val k = hashSample(docs, col("doc_id"), 0.5, seed = 1).count()
    assert(math.abs(k / n - 0.5) < 0.15, s"got ${k / n}")
    val s1 = hashSample(docs, col("doc_id"), 0.5, seed = 1)
      .select("doc_id").as[Long].collect().toSet
    val s2 = hashSample(docs, col("doc_id"), 0.5, seed = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 != s2)
  }

  test("fraction 0 keeps nothing; fraction 1 keeps everything") {
    assert(hashSample(docs, col("doc_id"), 0.0, 5).count() == 0)
    assert(hashSample(docs, col("doc_id"), 1.0, 5).count()
      == docs.count())
  }

  test("stratifiedHashSample applies per-stratum fractions") {
    val sampled = Sampling.stratifiedHashSample(docs, col("doc_id"),
      col("lang"), Map("en" -> 0.2), defaultFraction = 1.0, seed = 3)
    val byLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampledByLang = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // non-en strata kept whole (fraction 1.0)
    for ((lang, cnt) <- byLang if lang != "en")
      assert(sampledByLang.getOrElse(lang, 0L) == cnt, s"stratum $lang")
    // en downsampled to ~20%
    val enFrac = sampledByLang.getOrElse("en", 0L).toDouble / byLang("en")
    assert(enFrac < 0.5 && enFrac > 0.02, s"en fraction $enFrac")
  }

  test("rebalanceToMix solves fractions toward the target mix") {
    // corpus is en-heavy (193 en vs ~75 each otherwise); ask for an even
    // en/zh mix — zh is binding (keeps all), en downsamples to ~74
    val (sampled, fractions) = Sampling.rebalanceToMix(docs, col("doc_id"),
      col("lang"), Map("en" -> 0.5, "zh" -> 0.5), seed = 5)
    assert(fractions("zh") == 1.0, fractions.toString)
    assert(fractions("en") < 0.6 && fractions("en") > 0.2,
      fractions.toString)
    val got = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // absent strata dropped entirely
    assert(got.keySet == Set("en", "zh"), got.toString)
    // achieved mix within hash-sampling tolerance of 50/50
    val mix = got("en").toDouble / (got("en") + got("zh"))
    assert(math.abs(mix - 0.5) < 0.15, s"mix $mix")
    // only downsampling: no stratum exceeds its source count
    assert(got("zh") == 74L)
  }

  test("rebalanceToMix is deterministic across partitionings") {
    val a = Sampling.rebalanceToMix(docs, col("doc_id"), col("lang"),
      Map("en" -> 0.3, "fr" -> 0.7), seed = 9)._1
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.rebalanceToMix(docs.repartition(11), col("doc_id"),
      col("lang"), Map("en" -> 0.3, "fr" -> 0.7), seed = 9)._1
      .select("doc_id").as[Long].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("upsampleToMix replicates toward the target, binding stratum ×1") {
    // 100 en / 20 zh; target 50/50 → T = max(200, 40) = 200:
    // en factor 1.0 (binding), zh factor 5.0 (exact, no fractional part)
    val df = ((1L to 100L).map(i => (i, "en")) ++
      (101L to 120L).map(i => (i, "zh"))).toDF("id", "lang")
    val (out, factors) = Sampling.upsampleToMix(df, col("id"), col("lang"),
      Map("en" -> 0.5, "zh" -> 0.5), seed = 11)
    assert(factors("en") == 1.0 && factors("zh") == 5.0, s"$factors")
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang == Map("en" -> 100L, "zh" -> 100L))
    // copy_idx densely 1..5 for each zh row
    val idxs = out.filter(col("lang") === "zh" && col("id") === 101L)
      .select("copy_idx").as[Long].collect().sorted.toSeq
    assert(idxs == Seq(1L, 2L, 3L, 4L, 5L))
    // fractional factors: expected copies ≈ f within hash tolerance, and
    // the multiset is partitioning-invariant
    val (out2, f2) = Sampling.upsampleToMix(df, col("id"), col("lang"),
      Map("en" -> 0.5, "zh" -> 0.3), seed = 11)
    assert(math.abs(f2("zh") - 3.0) < 1e-9) // 100/.5=200 binding; 200*.3/20
    val (out3, _) = Sampling.upsampleToMix(df.repartition(7, col("id")),
      col("id"), col("lang"), Map("en" -> 0.5, "zh" -> 0.3), seed = 11)
    val m2 = out2.groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m3 = out3.groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m2 == m3)
  }

  test("mix targets reject strata absent from the data (typo guard)") {
    val df = Seq((1L, "web"), (2L, "code"), (3L, "books"))
      .toDF("id", "lang")
    // "codee" is a typo: silently treating it as count-0 would drop the
    // real "code" stratum to fraction/factor 0 and ship a wrong mix
    val weights = Map("web" -> 0.6, "codee" -> 0.3, "books" -> 0.1)
    val e1 = intercept[IllegalArgumentException] {
      Sampling.rebalanceToMix(df, col("id"), col("lang"), weights, 1L)
    }
    assert(e1.getMessage.contains("codee"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Sampling.upsampleToMix(df, col("id"), col("lang"), weights, 1L)
    }
    assert(e2.getMessage.contains("codee"), e2.getMessage)
  }

  test("hashSample threshold snaps double noise: 0.3 keeps 300000/1e6") {
    // 0.3 * 1e6 = 299999.99999999994 in doubles; bare truncation keeps
    // one hash value fewer than specified. With the snap, exactly the
    // keys hashing to 0..299999 survive.
    val df = (1L to 4000L).toDF("id")
    val kept = hashSample(df, col("id"), 0.3, seed = 7)
      .count()
    val expected = (1L to 4000L).count { id =>
      // mirror sampleHash's arithmetic
      val h = {
        var acc = 0L
        for (ch <- s"$id#7") acc = (acc * 31 + ch.toLong) % 1000000007L
        acc
      }
      (h * 2654435761L % 1000000007L) % 1000000L < 300000L
    }
    assert(kept == expected, s"kept=$kept expected=$expected")
  }

  test("upsampleToMix snaps near-integer factors: no silent row loss") {
    // counts {en: 1, zh: 1}, weights {0.6, 0.9}: en is binding with exact
    // factor 1.0, but the double round-trip through normalize → total →
    // factor yields 0.9999999999999999 — without the snap, floor = 0 and
    // an en row whose hash lands on the last fractional threshold gets
    // ZERO copies (silent deletion, violating "binding stratum ×1")
    val df = Seq((1L, "en"), (2L, "zh")).toDF("id", "lang")
    val (out, factors) = Sampling.upsampleToMix(df, col("id"), col("lang"),
      Map("en" -> 0.6, "zh" -> 0.9), seed = 5)
    assert(factors("en") == 1.0, s"binding factor not snapped: $factors")
    assert(factors("zh") == 1.5, s"$factors")
    // every input row appears at least once — the upsample contract
    assert(out.select("id").distinct().count() == 2)
  }

  test("weightedSample: deterministic, k-bounded, drops w<=0") {
    val df = (1L to 300L).map(i => (i, (i % 7 + 1).toDouble))
      .toDF("id", "w")
      .union(Seq((900L, 0.0), (901L, -1.0)).toDF("id", "w"))
    val a = Sampling.weightedSample(df, col("id"), col("w"), 25, seed = 3)
      .select("id").as[Long].collect().toSet
    val b = Sampling.weightedSample(df.repartition(13), col("id"), col("w"),
      25, seed = 3).select("id").as[Long].collect().toSet
    assert(a == b, "partitioning changed the draw")
    assert(a.size == 25)
    assert(!a.contains(900L) && !a.contains(901L))
    // output keeps original columns only
    val cols = Sampling.weightedSample(df, col("id"), col("w"), 5, 3).columns
    assert(cols.toSeq == Seq("id", "w"))
  }

  test("weightedSample favors heavy rows across seeds") {
    // 10 heavy rows (w=50) vs 190 light (w=1); draw 20 of 200 over many
    // seeds — heavies should be picked far above their 5% count share
    val df = (1L to 200L).map(i => (i, if (i <= 10) 50.0 else 1.0))
      .toDF("id", "w")
    val hits = (1 to 20).map { seed =>
      Sampling.weightedSample(df, col("id"), col("w"), 20, seed)
        .filter(col("id") <= 10).count()
    }.sum
    // E[heavy picked] ≈ 10·(1-(1-~0.5)^…) — loose bound: ≥ 6 of 10 per
    // draw on average; fail only on gross inversion
    assert(hits >= 120, s"heavy rows picked only $hits/200 times")
  }

  test("weightedSample top-k plans bounded (TakeOrderedAndProject)") {
    val df = (1L to 100L).map(i => (i, 1.0)).toDF("id", "w")
    val p = Sampling.weightedSample(df, col("id"), col("w"), 10, 1)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("tokenBudgetMix: hand-computed recipe, empty stratum epochs null") {
    val df = Seq(
      (1L, "a", "one two three"),
      (2L, "a", "one two three four five"),
      (3L, "b", "alpha beta gamma delta"),
      (4L, "c", "")
    ).toDF("id", "src", "text")
    val out = Sampling.tokenBudgetMix(df, col("src"), col("text"),
      Map("a" -> 3.0, "b" -> 1.0), defaultWeight = 1.0,
      budgetTokens = 1000L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
    // total weight 3+1+1 = 5
    assert(out("a") == ((2L, 8L, 0.6, 600L, Some(75.0))), out.toString)
    assert(out("b") == ((1L, 4L, 0.2, 200L, Some(50.0))), out.toString)
    assert(out("c") == ((1L, 0L, 0.2, 200L, None)), out.toString)
  }

  test("tokenBudgetMix is partitioning-invariant") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.tokenBudgetMix(d, col("source"), col("text"),
        Map("src0" -> 3.0, "src1" -> 2.0), 0.5, 1000000L)
        .collect().map(_.toSeq).toSet
    assert(run(docs) == run(docs.repartition(11, col("doc_id"))))
  }

  test("temperatureMix: allocations sum to total and upweight the tail") {
    import spark.implicits._
    val df = (Seq.fill(900)("big") ++ Seq.fill(100)("small")).toDF("s")
    val got = Sampling.temperatureMix(df, col("s"), 1000L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got.values.sum == 1000L)
    // sqrt weighting: small gets sqrt(100)/(sqrt(900)+sqrt(100)) = 25%
    // of the budget, well above its 10% proportional share
    assert(got("small") == 250L, got.toString)
    assert(got("big") == 750L)
  }

  test("negativePairs: one partner per doc, never self, " +
      "partitioning-invariant") {
    import spark.implicits._
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.negativePairs(d, col("doc_id"), seed = 3L, nShards = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = run(docs)
    assert(a == run(docs.repartition(9)))
    assert(a.forall { case (d, p) => d != p })
    // every doc in a shard of size ≥ 2 appears exactly once as doc_id
    val asDoc = a.toSeq.map(_._1)
    assert(asDoc.distinct.size == asDoc.size)
    assert(asDoc.size >= docs.count() - 4) // ≤ nShards singleton losses
  }

  test("temperatureMix: largest-remainder seats break ties by name") {
    import spark.implicits._
    // 3 equal strata, budget 100: base 33 each, 1 leftover seat -> the
    // lexicographically smallest stratum (equal remainders) takes it
    val df = Seq("b", "c", "a").flatMap(s => Seq.fill(7)(s)).toDF("s")
    val got = Sampling.temperatureMix(df, col("s"), 100L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got == Map("a" -> 34L, "b" -> 33L, "c" -> 33L), got.toString)
  }
}
