package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.SparkSpecBase

class VectorOpsSpec extends SparkSpecBase {
  import spark.implicits._

  /** Interpreted lambda form of [[VectorOps.dot]]'s sequential fold. */
  private def dotLambda(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  /** Window-sort formulation of [[VectorOps.bruteForceTopK]]. */
  private def bruteForceTopKWindow(queries: DataFrame, corpus: DataFrame,
                                   k: Int): DataFrame =
    Dedup.firstRowPerGroupN(
        VectorOps.bruteForceScores(queries, corpus, "vec_id", "embedding"),
        Seq(col("query_id")),
        Seq(col("cos").desc, col("neighbor_id").asc), k)
      .select(col("query_id"), col("neighbor_id"),
        col("__rn").as("rank"), round(col("cos"), 6).as("cos_sim"))

  /** Product-quantization codebooks: a [[VectorOps.kmeansFit]] L2
    * codebook per contiguous subspace, as (subspace, centroid_id,
    * centroid) rows. */
  private def pqTrain(vecs: DataFrame, m: Int, k: Int,
                      iters: Int): DataFrame = {
    val dim = vecs.select(size(col("embedding"))).head().getInt(0)
    val dsub = dim / m
    (0 until m).map { i =>
      val sub = vecs.select(col("vec_id"),
        slice(col("embedding"), i * dsub + 1, dsub).as("__sub"))
      VectorOps.kmeansFit(sub, k, iters, "vec_id", "__sub", seed = 7L + i,
          metric = "l2")
        .withColumn("subspace", lit(i))
    }.reduce(_ unionByName _)
      .select(col("subspace"), col("centroid_id"), col("centroid"))
  }

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),   // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f))   // opposite of 0
  ).toDF("vec_id", "embedding")

  test("native vec_dot is bit-identical to the lambda fold on the corpus") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val pairs = emb.limit(50).crossJoin(
      emb.select($"embedding".as("b")).limit(50))
    val mism = pairs.select(
      VectorOps.dot($"embedding", $"b").as("native"),
      dotLambda($"embedding", $"b").as("lambda"))
      .filter($"native" =!= $"lambda").count() // exact, not approx
    assert(mism == 0)
    // double arrays too (centroid path)
    val d = Seq((Array(1.5, 2.5), Array(2.0, 4.0))).toDF("a", "b")
    assert(d.select(VectorOps.dot($"a", $"b")).head().getDouble(0) == 13.0)
    // length mismatch → null (matches zip_with/oracle semantics)
    val m = Seq((Array(1.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    assert(m.select(VectorOps.dot($"a", $"b")).head().isNullAt(0))
  }

  test("cosine: self=1, orthogonal=0, opposite=-1") {
    val self = vecs.filter($"vec_id" === 0)
      .select(VectorOps.cosine($"embedding", $"embedding")).head().getDouble(0)
    assert(math.abs(self - 1.0) < 1e-12)
    val pairs = vecs.as("a").crossJoin(vecs.as("b"))
      .select($"a.vec_id".as("ia"), $"b.vec_id".as("ib"),
        VectorOps.cosine($"a.embedding", $"b.embedding").as("c"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(pairs((0L, 2L))) < 1e-12)
    assert(math.abs(pairs((0L, 3L)) + 1.0) < 1e-12)
    // a zero vector has no direction: NaN, never DIVIDE_BY_ZERO
    val zero = Seq((Array(0.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)))
      .toDF("z", "v")
    val zc = zero.select(VectorOps.cosine($"z", $"v"),
      VectorOps.cosine($"z", $"z")).head()
    assert(zc.getDouble(0).isNaN && zc.getDouble(1).isNaN)
  }

  test("bruteForceTopK ranks nearest first with deterministic tiebreak") {
    val top = VectorOps.bruteForceTopK(
      vecs.filter($"vec_id" === 0), vecs, 3)
      .orderBy("rank").collect()
    assert(top.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L, 3L))
    assert(top.head.getAs[Double]("cos_sim") > 0.99)
  }

  test("TopK aggregator equals the window formulation on the corpus") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter($"vec_id" < 10)
    val viaAgg = VectorOps.bruteForceTopK(q, emb, 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaWindow = bruteForceTopKWindow(q, emb, 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaAgg == viaWindow)
    assert(viaAgg.size == 70)
  }

  test("topKPerGroup agrees with the window form on NaN scores") {
    import org.apache.spark.sql.expressions.Window
    // Spark's ORDER BY score DESC treats NaN as the LARGEST double —
    // NaN-scored items rank FIRST; the aggregator's ordering must agree
    // or the documented window equivalence breaks exactly on dirty
    // scores (cosine of a zero vector = 0/0 = NaN)
    val rows = Seq((1L, 10L, 0.9), (1L, 11L, Double.NaN), (1L, 12L, 0.8),
      (1L, 13L, Double.NaN), (1L, 14L, 0.7))
      .toDF("g", "item", "score")
    val viaAgg = TopK.topKPerGroup(rows, "g", "item", "score", 3)
      .select("item", "rank").as[(Long, Int)].collect().toSet
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"item".asc)
    val viaWindow = rows.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select("item", "rank").as[(Long, Int)].collect().toSet
    assert(viaAgg == viaWindow, s"agg=$viaAgg window=$viaWindow")
    assert(viaAgg.map(_._1) == Set(11L, 13L, 10L)) // NaNs first, then 0.9
  }

  test("topKPerGroup rejects non-integral id columns up front") {
    val strKeys = Seq(("a", 1L, 0.5)).toDF("g", "item", "score")
    val ex = intercept[IllegalArgumentException] {
      TopK.topKPerGroup(strKeys, "g", "item", "score", 3)
    }
    assert(ex.getMessage.contains("must be integral"))
  }

  test("SRP: identical vectors land in the same bucket; opposite differ") {
    val sig = vecs.select($"vec_id",
      VectorOps.srpSignature($"embedding", 12, 3).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val dup = Seq((9L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
      .select(VectorOps.srpSignature($"embedding", 12, 3)).head().getLong(0)
    assert(dup == sig(0L))
    assert(sig(0L) != sig(3L))
  }

  // three well-separated blobs on the axes; ids interleaved so seed
  // choice can't accidentally align with blob order
  private def blobs = Seq(
    (0L, Array(1.0f, 0.02f, 0.0f)), (3L, Array(0.98f, 0.0f, 0.01f)),
    (6L, Array(1.0f, 0.01f, 0.02f)),
    (1L, Array(0.0f, 1.0f, 0.02f)), (4L, Array(0.01f, 0.97f, 0.0f)),
    (7L, Array(0.02f, 1.0f, 0.01f)),
    (2L, Array(0.01f, 0.0f, 1.0f)), (5L, Array(0.0f, 0.02f, 0.99f)),
    (8L, Array(0.01f, 0.01f, 1.0f))
  ).toDF("vec_id", "embedding")

  test("kmeansFit recovers separated blobs and is partitioning-invariant") {
    val code = VectorOps.kmeansFit(blobs, k = 3, iters = 4)
    assert(code.count() == 3)
    val assign = VectorOps.assignToCentroids(blobs, code)
      .select($"vec_id", $"list_id").as[(Long, Long)].collect().toMap
    // blob membership: ids ≡ mod 3 belong together
    for (g <- 0 until 3) {
      val lists = (0 until 3).map(i => assign(g + 3L * i)).toSet
      assert(lists.size == 1, s"blob $g split across lists $lists")
    }
    // same codebook regardless of input partitioning, bit-for-bit
    val repart = VectorOps.kmeansFit(blobs.repartition(5, $"vec_id"),
      k = 3, iters = 4)
    val a = code.orderBy($"centroid_id")
      .as[(Long, Seq[Double])].collect().toSeq
    val b = repart.orderBy($"centroid_id")
      .as[(Long, Seq[Double])].collect().toSeq
    assert(a == b)
  }

  test("kmeansFit-trained IVF at full probe equals brute force") {
    val code = VectorOps.kmeansFit(blobs, k = 3, iters = 3)
    val queries = blobs.filter($"vec_id" < 3)
    val ivf = VectorOps.ivfSearch(queries, blobs, code, nprobe = 3, k = 2)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val bf = VectorOps.bruteForceTopK(queries, blobs, 2)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(ivf == bf)
  }

  test("PQ with a lossless codebook reproduces exact dot products") {
    // dim 8, m=2 subspaces of 4; every subvector is one of 3 known
    // blocks, and the hand-built codebook contains exactly those blocks
    // — encoding is lossless, so ADC == exact dot and PQ top-k == brute
    // force ranking by dot (vectors are unit-norm so dot == cosine order)
    // exact-float axis blocks: all vectors share norm √2, so dot order
    // == cosine order and every tie is exact (resolved by neighbor id
    // in both paths)
    val b = Map(
      0 -> Array(1.0f, 0.0f, 0.0f, 0.0f),
      1 -> Array(0.0f, 1.0f, 0.0f, 0.0f),
      2 -> Array(0.0f, 0.0f, 1.0f, 0.0f))
    def v(i: Int, j: Int) = b(i) ++ b(j)
    val corpus = Seq(
      (0L, v(0, 0)), (1L, v(0, 1)), (2L, v(1, 2)),
      (3L, v(2, 2)), (4L, v(1, 0)), (5L, v(2, 0))
    ).toDF("vec_id", "embedding")
    val codebooks = (for (sub <- 0 until 2; (ci, arr) <- b) yield
      (sub, ci.toLong, arr.map(_.toDouble).toSeq))
      .toDF("subspace", "centroid_id", "centroid")
    val codes = VectorOps.pqEncode(corpus, codebooks, m = 2)
    // every (vec, subspace) got the code of its true block
    val got = codes.as[(Long, Int, Long)].collect()
      .map { case (id, s, c) => (id, s) -> c }.toMap
    assert(got((2L, 0)) == 1L && got((2L, 1)) == 2L, got.toString)
    val queries = corpus.filter($"vec_id" < 2)
    val pq = VectorOps.pqTopK(queries, codes, codebooks, m = 2, k = 3)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val bf = VectorOps.bruteForceTopK(queries, corpus, 3)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(pq == bf, s"pq=$pq bf=$bf")
  }

  test("pqTrain -> encode -> search recovers blob neighbors end to end") {
    // 9 blob vectors (dim 4 padded to dim 8? no — reuse blobs at dim 3
    // is indivisible; build dim-4, m=2): blob identity lives in both
    // halves, so PQ scoring must rank same-blob vectors first
    def pad(a: Array[Float]) = a ++ a // dim 6, m=2 -> dsub 3
    val data = blobs.as[(Long, Array[Float])].collect()
      .map { case (id, a) => (id, pad(a)) }.toSeq
      .toDF("vec_id", "embedding")
    val books = pqTrain(data, m = 2, k = 3, iters = 3)
    val codes = VectorOps.pqEncode(data, books, m = 2)
    val queries = data.filter($"vec_id" < 3)
    val top1 = VectorOps.pqTopK(queries, codes, books, m = 2, k = 8)
      .filter($"rank" === 1)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect()
    // top-1 neighbor shares the query's blob (ids ≡ mod 3)
    val hits = top1.count { case (q, n) => q % 3 == n % 3 }
    assert(hits >= 2, s"recall@1 ${hits}/3: ${top1.toSeq}")
    // deterministic across partitionings
    val books2 = pqTrain(data.repartition(5, $"vec_id"),
      m = 2, k = 3, iters = 3)
    val a = books.orderBy($"subspace", $"centroid_id")
      .as[(Int, Long, Seq[Double])].collect().toSeq
    val c2 = books2.orderBy($"subspace", $"centroid_id")
      .as[(Int, Long, Seq[Double])].collect().toSeq
    assert(a == c2)
  }

  test("pqRerankTopK with corpus-wide shortlist equals brute force") {
    // shortlist = |corpus| ⇒ stage 1 excludes nothing and stage 2 is an
    // exact scan: the two-stage result must match bruteForceTopK row for
    // row, pinning the re-rank join + ordering machinery
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(60)
      .persist()
    val m = 2
    val books = pqTrain(emb, m = m, k = 4, iters = 2)
    val codes = VectorOps.pqEncode(emb, books, m)
    val queries = emb.filter($"vec_id" < 5)
    val n = emb.count().toInt
    val rr = VectorOps.pqRerankTopK(queries, codes, books, emb, m,
        k = 4, shortlist = n)
      .select($"query_id", $"neighbor_id", $"rank", $"cos_sim")
      .as[(Long, Long, Int, Double)].collect().toSet
    val bf = VectorOps.bruteForceTopK(queries, emb, 4)
      .select($"query_id", $"neighbor_id", $"rank", $"cos_sim")
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(rr == bf, s"rerank diverged: ${(rr -- bf).take(3)}")
    // tight shortlists still return exactly k ranked rows per query
    val tight = VectorOps.pqRerankTopK(queries, codes, books, emb, m,
      k = 4, shortlist = 6)
    assert(tight.groupBy($"query_id").count()
      .filter($"count" =!= 4).count() == 0)
    emb.unpersist()
  }

  test("semDedup drops planted duplicates with lowest-id anchors, one pass") {
    // single centroid: everything shares one cluster, isolating the
    // greedy pass from the blocking structure
    val cents = Seq((0L, Seq(1.0, 0.0))).toDF("centroid_id", "centroid")
    // an angular chain at 30° steps: cos(10,11) = cos(11,12) ≈ .866,
    // cos(10,12) = .5 — at τ = 0.7 the one-pass greedy drops 11
    // (anchor 10) AND 12 (anchor 11, itself dropped: chains are not
    // chased)
    val vs = Seq(
      (10L, Array(1.0f, 0.0f)),
      (11L, Array(0.866f, 0.5f)),
      (12L, Array(0.5f, 0.866f)),
      (13L, Array(0.0f, -1.0f))          // cos <= 0 to all others
    ).toDF("vec_id", "embedding")
    val out = VectorOps.semDedup(vs, cents, minCos = 0.7)
      .select($"vec_id", $"cluster_id", $"anchor_id", $"kept")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2),
          r.getInt(3))).toMap
    assert(out(10L) == ((0L, -1L, 1)))
    assert(out(11L) == ((0L, 10L, 0)))
    // 12's only >= 0.7 lower-id neighbor is 11; anchor records it even
    // though 11 itself was dropped
    assert(out(12L) == ((0L, 11L, 0)))
    assert(out(13L) == ((0L, -1L, 1)))
  }

  test("semDedup never compares across clusters (the boundary miss)") {
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("centroid_id", "centroid")
    // cos(20,21) ≈ 0.8 >= τ, but 20 assigns to x and 21 to y — the
    // pair straddles the cluster boundary and is never generated
    // (SemDedup's documented recall trade; k tunes it)
    val vs = Seq(
      (20L, Array(0.9f, 0.45f)),
      (21L, Array(0.45f, 0.9f))
    ).toDF("vec_id", "embedding")
    val out = VectorOps.semDedup(vs, cents, minCos = 0.2)
      .select($"vec_id", $"cluster_id", $"kept")
      .as[(Long, Long, Int)].collect()
      .map { case (k, c, kept) => k -> ((c, kept)) }.toMap
    assert(out(20L) == ((0L, 1)))
    assert(out(21L) == ((1L, 1)))
  }

  test("semDedupAssigned respects a caller-persisted index") {
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0)))
      .toDF("centroid_id", "centroid")
    val index = VectorOps.assignToCentroids(blobs, cents).persist()
    try {
      val out = VectorOps.semDedupAssigned(index, minCos = 0.9)
      assert(out.count() == 9)
      // partitioning invariance of the full pipeline
      val repart = VectorOps.semDedup(
        blobs.repartition(5, $"vec_id"), cents, minCos = 0.9)
      val a = out.select($"vec_id", $"cluster_id", $"anchor_id", $"kept")
        .collect().map(_.toSeq).toSet
      val b = repart.select($"vec_id", $"cluster_id", $"anchor_id", $"kept")
        .collect().map(_.toSeq).toSet
      assert(a == b)
    } finally index.unpersist()
  }

  test("kmeansFit keeps previous centroid for empty lists") {
    // identical points: assignment ties all break to one centroid, the
    // other list is empty every round and must keep its seed centroid
    val tiny = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val code = VectorOps.kmeansFit(tiny, k = 2, iters = 3)
    assert(code.count() == 2)
    // every centroid remains finite and well-formed
    val all = code.as[(Long, Seq[Double])].collect()
    assert(all.forall(_._2.forall(v => !v.isNaN && !v.isInfinite)))
  }

  test("hardNegatives: nearest cross-label neighbors only") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),   // same label as 0: never a negative
      (2L, Array(1.0f, 0.01f), 1),  // closest cross-label to 0
      (3L, Array(0.5f, 0.5f), 1),
      (4L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = VectorOps.hardNegatives(emb.filter($"vec_id" === 0L), emb, 2)
      .orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getInt(4)))
    assert(got.toSeq == Seq((0L, 0, 2L, 1, 1), (0L, 0, 3L, 1, 2)),
      got.mkString(","))
  }

  test("mipsTopK ranks by raw dot product, not cosine") {
    // neighbor 2 wins on magnitude despite a worse angle than 1 —
    // cosine and MIPS must disagree on this fixture
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),   // cos ≈ 0.994, dot = 0.9
      (2L, Array(2.0f, 1.0f)))   // cos ≈ 0.894, dot = 2.0
      .toDF("vec_id", "embedding")
    val mips = VectorOps.mipsTopK(emb.filter($"vec_id" === 0L), emb, 2)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(mips == Seq(2L, 1L), mips.toString)
    val cos = VectorOps.bruteForceTopK(emb.filter($"vec_id" === 0L), emb, 2)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(cos == Seq(1L, 2L), cos.toString)
  }

  test("hardNegatives excludes all same-label pairs at corpus scale") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val got = VectorOps.hardNegatives(emb.filter($"vec_id" < 5), emb, 3)
    assert(got.filter($"query_label" === $"neg_label").count() == 0)
    assert(got.count() == 5 * 3)
  }
}
