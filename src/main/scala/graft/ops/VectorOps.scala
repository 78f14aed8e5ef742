package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Vector similarity over an embedding column (Array[Float]): cosine
  * arithmetic, brute-force top-k ANN, sign-random-projection LSH bucketing.
  *
  * Dot products fold left-to-right in DOUBLE via zip_with + aggregate —
  * bit-identical to the DuckDB oracle evaluating the same sequential fold,
  * so similarity queries hash-match without rounding slop. These are
  * Catalyst higher-order functions: evaluated per-row on executors, no
  * UDF/serialization cost, and the broadcast side of the top-k join is the
  * (small) query set — the corpus side streams.
  */
object VectorOps {

  /** Σ aᵢ·bᵢ in double, sequential fold (deterministic). Dispatches to the
    * native codegen'd [[graft.functions.VecDot]]; VectorOpsSpec cross-checks
    * it against the interpreted zip_with/aggregate form of the same fold. */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity. A zero vector has no direction, so any cosine
    * involving one is NaN, never an error: ANSI division would throw
    * DIVIDE_BY_ZERO, while NaN is what the DuckDB oracle's IEEE 0/0
    * yields and what the driver twins ([[mmrRerank]]'s) already assume.
    * NaN sorts as the largest double in both engines' ORDER BY, so a
    * zero vector ranks first in a descending top-k on either side. */
  def cosine(a: Column, b: Column): Column =
    cosineOf(dot(a, b), norm(a), norm(b))

  private def cosineOf(dotAB: Column, normA: Column, normB: Column): Column =
    when(normA === 0.0 || normB === 0.0, lit(Double.NaN))
      .otherwise(dotAB / (normA * normB))

  /** Brute-force exact top-k cosine neighbors of each query vector.
    * `queries` is expected small (it is broadcast); the corpus side never
    * materializes more than (query × corpus-partition) rows per task, and
    * the reduction is the bounded [[TopK]] Aggregator — the shuffle
    * carries ≤ k rows per (query, partition) instead of the full score
    * matrix a window sort would move. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    TopK.topKPerGroup(bruteForceScores(queries, corpus, idCol, vecCol),
        "query_id", "neighbor_id", "cos", k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("int").as("rank"),
        round(col("cos"), 6).as("cos_sim"))

  /** Maximum-inner-product search (MIPS): top-k by raw dot product, NOT
    * cosine — the retrieval objective when magnitudes carry signal
    * (learned late-interaction scores, popularity-scaled item vectors).
    * Same broadcast-query × streamed-corpus shape as [[bruteForceTopK]],
    * minus the norm divisions. The cosine LSH tiers (SRP/IVF) do NOT
    * transfer directly — MIPS is not a metric (a vector's own dot can be
    * beaten by a longer neighbor's); the standard scale path is the
    * norm-augmentation reduction (append sqrt(M²−‖x‖²) so inner product
    * becomes cosine in d+1 dims, Shrivastava & Li, NeurIPS 2014) feeding
    * the SAME SRP/IVF machinery — the reduction is a projection, the
    * index tiers are unchanged. */
  def mipsTopK(queries: DataFrame, corpus: DataFrame, k: Int,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"))
    val scored = broadcast(q)
      .join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("ip", dot(col("qv"), col("cv")))
    TopK.topKPerGroup(scored, "query_id", "neighbor_id", "ip", k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("int").as("rank"),
        round(col("ip"), 6).as("dot_score"))
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * query vector, the top-k most-cosine-similar corpus vectors with a
    * DIFFERENT label — "looks like the anchor, isn't the anchor's class",
    * the pairs that carry the gradient signal. Same broadcast-query ×
    * corpus-scan shape as [[bruteForceTopK]] (the label inequality
    * replaces the self-pair guard: a vector shares its own label, so
    * self-pairs are excluded for free); labels rejoin after the top-k so
    * the wide scoring stream carries only ids and scores. The scan side
    * streams — corpus is never collected or broadcast — so the scale
    * path is the same as q31's: restrict the anchor set, or feed the
    * IVF-pruned candidate lists instead of the full corpus. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
        col(labelCol).as("query_label"), col(vecCol).as("qv"))
      .withColumn("__qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("neg_label"), col(vecCol).as("cv"))
      .withColumn("__cn", norm(col("cv")))
    val scored = broadcast(q).join(c,
        col("query_label") =!= col("neg_label"))
      .withColumn("cos", cosineOf(dot(col("qv"), col("cv")), col("__qn"),
        col("__cn")))
    val top = TopK.topKPerGroup(scored, "query_id", "neighbor_id", "cos", k)
    val qLabels = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("query_label"))
    val nLabels = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neg_label"))
    top.join(broadcast(qLabels), "query_id")
      .join(nLabels, "neighbor_id")
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neg_label"), col("rank").cast("int").as("rank"),
        round(col("cos"), 6).as("cos_sim"))
  }

  private[graft] def bruteForceScores(queries: DataFrame, corpus: DataFrame,
                               idCol: String, vecCol: String): DataFrame = {
    // norms precomputed ONCE PER SIDE: cosine(qv, cv) inline would fold
    // three vec_dots per (query, corpus) pair — each corpus self-dot
    // recomputed |queries|× and vice versa, ~3× the necessary flops in
    // the hottest scoring loop. sqrt of the same sequential fold →
    // bit-identical values.
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("__qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("__cn", norm(col("cv")))
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosineOf(dot(col("qv"), col("cv")), col("__qn"),
        col("__cn")))
      .drop("__qn", "__cn")
  }

  /** Deterministic ±1 pseudo-random hyperplane component for (plane j,
    * dim i): parity of (a_j·(i+1) + b_j) mod the hash prime, with
    * PER-PLANE Knuth-mixed coefficients a_j = 2654435761·(j+1) mod m,
    * b_j = 2246822519·(j+1) mod m — the same independent-per-row hash
    * family as the minhash tier (its r3 fix). The earlier form
    * parity((j·131 + i)·c mod m) gave every plane the SAME stride c with
    * only a per-plane OFFSET — shifted copies of one parity sequence,
    * sign-vector correlations up to 0.94 between planes (measured), so
    * p planes carried far fewer than p bits of bucket entropy and
    * Σ bucket² ran 6–38× above the uniform model (SURVEY §8.19). With
    * per-plane strides the 24-plane family measures max |corr| 0.375 /
    * mean 0.06, and bucket mass lands on the uniform prediction at both
    * sf0.1 and sf1. Shared with the oracle SQL — no RNG state; all
    * products bounded by m·dim < 2^63 (overflow-free in Spark longs and
    * DuckDB BIGINT alike). A plain Scala value, for pre-materialized
    * plane vectors. */
  def planeSignValue(j: Int, i: Int): Double = {
    val a = 2654435761L * (j + 1) % TextOps.HashMod
    val b = 2246822519L * (j + 1) % TextOps.HashMod
    if ((a * (i + 1) + b) % TextOps.HashMod % 2 == 0) 1.0 else -1.0
  }

  /** Sign-random-projection LSH signature (numPlanes bits) per vector:
    * bit j = [dot(v, plane_j) > 0]. The scale path for near-dup/ANN:
    * bucket on the signature, then verify candidates exactly within
    * buckets (cost ∝ bucket², not corpus²).
    *
    * `dim` pins the plane vectors as literal arrays so each projection is
    * one native vec_dot call (same sequential fold as the old per-element
    * lambda — bit-identical) instead of an interpreted zip_with. */
  def srpSignature(vec: Column, numPlanes: Int, dim: Int,
                   planeOffset: Int = 0): Column = {
    // 1L << j wraps silently at 64 (java masks the shift count): plane
    // 64 would alias plane 0's signature bit, corrupting every bucket
    require(numPlanes >= 1 && numPlanes <= 63,
      s"numPlanes must be in [1, 63], got $numPlanes")
    require(planeOffset >= 0, s"planeOffset must be >= 0, got $planeOffset")
    (0 until numPlanes).map { j =>
      val plane = array((0 until dim).map(i =>
        lit(planeSignValue(planeOffset + j, i))): _*)
      when(dot(vec, plane) > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** Dim-discovering convenience (one tiny driver-side job). */
  def srpSignatureAuto(df: DataFrame, vecCol: String,
                       numPlanes: Int): Column =
    srpSignature(col(vecCol), numPlanes,
      df.select(size(col(vecCol))).head().getInt(0))

  /** MEAN-CENTERING for the SRP bucket operators ([[srpNearDupPairs]],
    * [[mutualNeighbors]]), which hash on the sign projections of v − μ
    * ([[srpSignature]] of this column), with μ the exact-decimal
    * per-dimension mean ([[dimensionMeans]], collected driver-side — d
    * values, codebook- sized) baked into the expression as a literal array.
    *
    * WHY CENTERING IS THE SIZING RULE'S OTHER HALF: [[autoPlaneCount]]
    * assumes each plane splits a random pair with probability 1/2, so
    * p ≈ log₂(n/target) keeps candidate volume ≈ n·target. On a corpus
    * whose coordinates are all non-negative (every embedding model with
    * ReLU-ish outputs; this testdata too) the vectors concentrate in ONE
    * orthant: random-pair cosine ≈ 0.75, a random hyperplane through the
    * origin separates such a pair with probability θ/π ≈ 1/4, and
    * candidate volume grows ∝ C(n,2)·(3/4)^p — measured 45× for 10× data
    * at sf1 (SCALE.md, Round-9 SRP sizing record), where adding planes
    * from 12 to 18 (64× more buckets) only halved it. Centering moves the
    * cone onto the origin, random pairs decorrelate to the assumed
    * 1/2-split, and measured Σ bucket² returns to ≈ n·target at both
    * scales. True near-dups keep colliding: for ||x−y|| small,
    * x−μ ≈ y−μ, so the centered cosine stays ≈ 1 unless both vectors sit
    * within noise of μ itself. Cross-engine exactness: μ uses the proven
    * decimal-mean pattern (q34/q104 oracles), the subtraction and fold are
    * the same IEEE double ops in the same order on both engines.
    *
    * Returns the centering expression (v − μ as array<double>) + the
    * corpus dimensionality. NOTE for operators: materialize this ONCE per row
    * in a child project (select it as a column, then compute signatures from
    * the attribute) — zip_with is a non-codegen higher-order function, and
    * inlining it into every plane projection re-evaluates it per dot
    * (measured 2.4× on the banded operator at sf1).
    *
    * FIXED-DIMENSION CONTRACT (ADVICE r9): every vector must have
    * μ.length elements — the corpus dimensionality is pinned by the
    * aggregated mean. On a ragged corpus zip_with would null-pad the
    * short vector, the null propagates through the projection sum, and
    * the sign bit silently lands 0 while the DuckDB oracle (folding
    * len(embedding) terms) computes a real sign — a silent signature
    * divergence. Ragged vectors are out of contract for the whole ANN
    * tier (srpSignatureAuto pins dim from the head row); callers with
    * untrusted input should length-filter before bucketing. */
  private[graft] def centeredColumn(df: DataFrame, vecCol: String)
      : (Column, Int) = {
    val mu = dimensionMeans(df, vecCol)
    require(mu.nonEmpty, "centered SRP: empty corpus")
    (zip_with(col(vecCol), array(mu.map(lit(_)): _*),
      (x, m) => x.cast(DoubleType) - m), mu.length)
  }

  /** Default mean-bucket-size target for [[autoPlaneCount]]: small
    * enough that per-bucket verify work (∝ bucket²) is trivial, large
    * enough that true neighbors still collide on all bits.
    *
    * PARITY CONTRACT: these two defaults are the single source of truth
    * for the sizing rule — [[graft.queries.VectorOracles.planesCte]]
    * reads them as ITS defaults, so an engine-side caller and the
    * DuckDB oracle can never size planes differently unless both are
    * overridden together. */
  val DefaultTargetBucket = 8

  /** Default floor for [[autoPlaneCount]] (see the parity contract on
    * [[DefaultTargetBucket]]): even a tiny corpus gets ≥ 4 planes so a
    * bucket join never degenerates toward all-pairs. */
  val DefaultMinPlanes = 4

  /** SRP plane count sized to the corpus: the smallest p ≥ `minPlanes`
    * with n ≤ targetBucket·2^p, i.e. planes ≈ log₂n − log₂targetBucket
    * — computed in INTEGER arithmetic (no float log2, whose 1-ulp slop
    * at exact powers of two would flip the count between engines).
    *
    * This is the knob that keeps SRP candidate volume LINEAR in n:
    * with a pinned plane count, candidate pairs grow ∝ n²/2^planes
    * (measured 18.6× at 10× data on the mutual-neighbor gate before
    * this existed); with the target-bucket rule the mean bucket stays
    * ≤ targetBucket, so Σ bucket² ≈ n·targetBucket. The recall trade
    * is explicit: more planes = finer buckets = only closer pairs
    * collide — the SAME trade every LSH deployment tunes, made
    * deterministic and oracle-replayable (the oracle derives p from
    * COUNT(*) with the identical rule). */
  def autoPlaneCount(n: Long, targetBucket: Int = DefaultTargetBucket,
                     minPlanes: Int = DefaultMinPlanes): Int = {
    require(targetBucket >= 1, s"targetBucket < 1: $targetBucket")
    require(minPlanes >= 1 && minPlanes <= 63,
      s"minPlanes out of [1,63]: $minPlanes")
    // n ≤ target·2^p  ⟺  (n−1) >> p < target — the right-shift form
    // never overflows (target << p would at p ≥ 61)
    var p = minPlanes
    while (p < 63 && ((n - 1) >> p) >= targetBucket) p += 1
    p
  }

  /** IVF-style coarse quantization: assign every vector to its nearest
    * centroid (broadcast centroids — the "coarse codebook"), search only
    * the `nprobe` nearest lists per query. At 100 TB the corpus is
    * pre-partitioned (bucketed) by list_id so a probe touches only
    * nprobe/k of the data; here the assignment join expresses that. */
  def assignToCentroids(vecs: DataFrame, centroids: DataFrame,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        metric: String = "cosine"): DataFrame = {
    // the argmax ranks on the metric ROUNDED to 6 decimals: a straight
    // double argmax amplifies sub-ULP evaluation-order drift into
    // whole-vector assignment flips (observed engine-vs-oracle on ~0.4%
    // of rows); rounding makes near-ties actual ties, which the
    // centroid_id tiebreak then resolves identically everywhere. 1e-6
    // is far below any meaningful quantization-quality difference.
    // metric "cosine" ranks by max cosine (ANN list assignment);
    // "l2" by min squared distance (reconstruction, e.g. PQ encoding).
    val dist = metric match {
      case "cosine" => -round(cosine(col(vecCol), col("centroid")), 6)
      case "l2" => round(
        dot(col(vecCol), col(vecCol))
          - lit(2) * dot(col(vecCol), col("centroid"))
          + dot(col("centroid"), col("centroid")), 6)
      case other => throw new IllegalArgumentException(
        s"unknown metric '$other' (cosine|l2)")
    }
    val scored = vecs.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(centroids.select(
        col("centroid_id"), col("centroid"))))
      .withColumn("cdist", dist)
    Dedup.firstRowPerGroup(scored, Seq(col(idCol)),
      Seq(col("cdist").asc, col("centroid_id").asc))
      .select(col(idCol), col(vecCol), col("centroid_id").as("list_id"))
  }

  /** IVF search: probe the nprobe nearest lists per query, exact cosine
    * within the probed lists, top-k per query. */
  def ivfSearch(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
                nprobe: Int, k: Int,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val corpusLists = assignToCentroids(corpus, centroids, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        col("list_id"))
      .withColumn("__cn", norm(col("cv"))) // once per vector, not per pair
    // probe ranking uses the SAME rounded-cosine + centroid_id tiebreak
    // convention as corpus assignment: with raw doubles, a query whose
    // two nearest centroids tie within 1e-6 could rank list B over A
    // while the matching corpus vector was assigned to A via the rounded
    // tiebreak — at nprobe < lists, that loses a true neighbor the
    // shared convention keeps
    val queryProbes = Dedup.firstRowPerGroupN(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
        .crossJoin(broadcast(centroids.select(col("centroid_id"),
          col("centroid"))))
        .withColumn("cdist",
          -round(cosine(col("qv"), col("centroid")), 6)),
      Seq(col("query_id")), Seq(col("cdist").asc, col("centroid_id").asc),
      nprobe)
      .select(col("query_id"), col("qv"),
        col("centroid_id").as("list_id"))
      .withColumn("__qn", norm(col("qv")))
    val scored = queryProbes.join(corpusLists, "list_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosineOf(dot(col("qv"), col("cv")), col("__qn"),
        col("__cn")))
    TopK.topKPerGroup(scored, "query_id", "neighbor_id", "cos", k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("int").as("rank"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Lloyd's k-means for training the IVF coarse codebook — the piece
    * that makes [[ivfSearch]] self-contained when no labels exist.
    *
    * Deterministic end to end: seeds are the k vectors with the smallest
    * Knuth-remixed id hash ([[Sampling.sampleHash]] — reproducible yet
    * spread, unlike "first k ids" which often come from one shard of the
    * corpus); assignment ties break on centroid_id; means accumulate in
    * exact decimal (partition-order-independent, same trick as the
    * oracle-matched sums). Rerunning on any partitioning yields the same
    * codebook bit-for-bit.
    *
    * Scale shape: a codebook is k·dim — broadcast-scale by construction —
    * so centroids live on the driver between rounds and each round is ONE
    * corpus pass: broadcast-assign ([[assignToCentroids]]) → per-dim
    * decimal mean, map-side combinable, shuffling k·dim partial sums per
    * map partition. Keeping the codebook driver-resident also truncates
    * the iteration's plan lineage for free. Empty lists keep their
    * previous centroid (the standard Lloyd fallback). */
  def kmeansFit(vecs: DataFrame, k: Int, iters: Int,
                idCol: String = "vec_id",
                vecCol: String = "embedding",
                seed: Long = 7L,
                metric: String = "cosine"): DataFrame = {
    val spark = vecs.sparkSession
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("centroid_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    def toDf(cents: Seq[(Long, Seq[Double])]): DataFrame =
      spark.createDataFrame(
        cents.map { case (i, v) =>
          org.apache.spark.sql.Row(i, v) }.asJava, schema)

    // persisted for the iteration: seeds + every Lloyd round re-reads
    // this projection, and when `vecs` is a derived frame (filtered or
    // deduped embeddings) each action would otherwise re-run its whole
    // upstream cascade — iters+1 times
    val base = vecs.select(col(idCol), col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seeds = base
      .select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("r", Sampling.sampleHash(col(idCol), seed))
      .orderBy(col("r").asc, col(idCol).asc)
      .limit(k)
      .collect()
      .zipWithIndex
      .map { case (row, i) => (i.toLong, row.getSeq[Double](1)) }
      .toSeq
    var centroids: Seq[(Long, Seq[Double])] = seeds
    for (_ <- 0 until iters) {
      // broadcast-join assignment (assignToCentroids): measured FASTER
      // than folding the k literal centroid arrays into one per-row
      // expression (tried: 3.5s vs 1.3s at k=8·dim=64 — the k·dim
      // literals blow up codegen), and the ×k row expansion is bounded
      // by the codebook, which is broadcast-scale by definition
      val assigned = assignToCentroids(base, toDf(centroids), idCol, vecCol,
        metric)
      // exact integer nano-unit accumulation: long sums carry no
      // rounding MODE (decimal quantization of binary fractions can hit
      // exact half-digits, where engines disagree half-up vs half-even),
      // so the mean is bit-reproducible across engines and partitionings
      val means = assigned
        .select(col("list_id"), posexplode(col(vecCol)).as(Seq("pos", "v")))
        .groupBy(col("list_id"), col("pos"))
        .agg((sum(round(col("v") * 1e9).cast("long")) /
          (count(lit(1)) * lit(1e9))).as("c"))
        .groupBy(col("list_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          s => s.getField("c")).as("centroid"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1))
        .toMap
      centroids = centroids.map { case (i, old) =>
        (i, means.getOrElse(i, old)) }
    }
    base.unpersist()
    toDf(centroids)
  }

  /** Encode each vector as m (subspace, code) rows: the L2-nearest
    * subspace centroid per block (reconstruction metric — cosine would
    * ignore magnitude). Long/relational layout rather than packed code
    * arrays: joins and group-bys consume it directly, and at n·m rows of
    * three small ints it is still ~100× smaller than the float
    * embeddings it replaces. */
  def pqEncode(vecs: DataFrame, codebooks: DataFrame, m: Int,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val dim = vecs.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val dsub = dim / m
    (0 until m).map { i =>
      val sub = vecs.select(col(idCol),
        slice(col(vecCol), i * dsub + 1, dsub).as("__sub"))
      assignToCentroids(sub,
          codebooks.filter(col("subspace") === i)
            .select(col("centroid_id"), col("centroid")),
          idCol, "__sub", metric = "l2")
        .select(col(idCol), lit(i).as("subspace"),
          col("list_id").as("code"))
    }.reduce(_ unionByName _)
  }

  /** Asymmetric-distance top-k over PQ codes: per query, a lookup table
    * (subspace, code) → partial dot is built against the codebooks (q·m·k
    * rows — broadcast), joined to the corpus codes on (subspace, code),
    * and summed per (query, vec). The corpus side touched at search time
    * is ONLY the code rows; scale cost is one broadcast-hash join over
    * them plus the bounded top-k — no embedding floats move. */
  def pqTopK(queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
             m: Int, k: Int,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val dim = queries.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val dsub = dim / m
    val table = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(codebooks)
      .select(col("query_id"), col("subspace"),
        col("centroid_id").as("code"),
        dot(slice(col("qv"), col("subspace") * dsub + 1, lit(dsub)),
          col("centroid")).as("part"))
    val scored = codes
      .join(broadcast(table), Seq("subspace", "code"))
      .filter(col("query_id") =!= col(idCol))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("part")).as("approx_dot"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        col("approx_dot"))
      .withColumnRenamed("approx_dot", "cos")
    TopK.topKPerGroup(scored, "query_id", "neighbor_id", "cos", k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("int").as("rank"),
        round(col("cos"), 6).as("approx_dot"))
  }

  /** Two-stage retrieval: ADC shortlist → exact re-rank — the production
    * billion-scale search shape (IVF/PQ shortlist, exact distances only
    * on the survivors). Stage 1 runs [[pqTopK]] for `shortlist` (≫ k)
    * candidates per query using ONLY the PQ code rows; stage 2 joins the
    * shortlist back to the float embeddings and re-ranks by exact cosine,
    * returning top-k. Re-ranking repairs most of the quantization error:
    * ADC's approximate order is wrong exactly where margins are tight,
    * and those inversions sit inside the shortlist, where exact scoring
    * fixes them.
    *
    * Scale shape: the corpus floats are touched only for shortlist·|q|
    * rows — a semi-join-sized read, not a scan; the queries frame is
    * search-batch-sized and broadcasts. Cost knob: `shortlist` trades
    * recall against exact-scoring volume (the standard 2–10× k). */
  def pqRerankTopK(queries: DataFrame, codes: DataFrame,
                   codebooks: DataFrame, corpus: DataFrame,
                   m: Int, k: Int, shortlist: Int,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val short = pqTopK(queries, codes, codebooks, m, shortlist, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val rescored = short
      .join(c, "neighbor_id") // shuffles only shortlist ids + their vecs
      .join(broadcast(q), "query_id")
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
    TopK.topKPerGroup(rescored.select(col("query_id"), col("neighbor_id"),
        col("cos")), "query_id", "neighbor_id", "cos", k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("int").as("rank"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** SemDedup-style cluster-bounded embedding dedup (Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to its nearest coarse
    * centroid, then look for semantic duplicates ONLY inside each
    * cluster. Pairwise work is Σ_c |c|² instead of |corpus|² — with
    * k ≈ √N lists the quadratic term stays flat as the corpus grows —
    * and the single shuffle key is the cluster id: the same
    * candidate-bounding idea as LSH bands, with the coarse codebook
    * instead of hash collisions as the blocking structure. The price is
    * the known boundary miss: a near-dup pair straddling two clusters is
    * never compared (spec-pinned), which the paper accepts and k trades
    * off.
    *
    * Keep policy is greedy keep-lowest-id, ONE pass: a vector is dropped
    * iff some lower-id vector in its cluster has cosine ≥ minCos. Chains
    * are not chased (a dropped vector can anchor a later drop) — the
    * same convention as [[NearDup]]'s verified-pair drops; callers
    * wanting one representative per transitive group run
    * [[Components.connectedComponents]] over the pair graph instead.
    *
    * Returns one row per input vector:
    * (id, cluster_id, anchor_id, kept) — anchor_id is the LOWEST
    * qualifying lower-id neighbor, null when kept = 1. */
  def semDedup(vecs: DataFrame, centroids: DataFrame, minCos: Double,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    semDedupAssigned(assignToCentroids(vecs, centroids, idCol, vecCol),
      minCos, idCol, vecCol)

  /** [[semDedup]] over a standing assigned index — rows of
    * (id, vec, list_id) as produced by [[assignToCentroids]]. At 100 TB the
    * index already exists (it IS the ANN index); dedup then costs one
    * cluster-keyed self-join, no reassignment.
    *
    * The index feeds both sides of that self-join, so it is
    * materialized per the [[NearDup.candidatePairs]] policy: eager
    * persist (keeps size stats → the join stays scale-adaptive),
    * skipped when the caller already persisted the frame. Norms are
    * computed before the persist so each side reads them instead of
    * recomputing. */
  def semDedupAssigned(index: DataFrame, minCos: Double,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val withNorm =
      if (index.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
        index.withColumn("__n", norm(col(vecCol)))
      else {
        val p = index.withColumn("__n", norm(col(vecCol)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count() // eager: both join sides must read, never compute
        p
      }
    val l = withNorm.select(col("list_id"), col(idCol).as("__a_id"),
      col(vecCol).as("__av"), col("__n").as("__an"))
    val r = withNorm.select(col("list_id"), col(idCol).as("__b_id"),
      col(vecCol).as("__bv"), col("__n").as("__bn"))
    val anchors = l.join(r, "list_id")
      .filter(col("__a_id") < col("__b_id"))
      .filter(cosineOf(dot(col("__av"), col("__bv")), col("__an"),
        col("__bn")) >= minCos)
      .groupBy(col("__b_id"))
      .agg(min(col("__a_id")).as("anchor_id"))
      .withColumnRenamed("__b_id", idCol)
    withNorm.select(col(idCol), col("list_id").as("cluster_id"))
      .join(anchors, Seq(idCol), "left")
      .withColumn("kept", col("anchor_id").isNull.cast("int"))
  }

  /** Candidate near-dup pairs from shared MEAN-CENTERED SRP buckets
    * ([[centeredColumn]] — centering keeps candidate volume at the
    * sizing rule's n·targetBucket on one-orthant corpora), verified with
    * exact cosine ≥ minCos on the ORIGINAL vectors. */
  def srpNearDupPairs(vecs: DataFrame, numPlanes: Int, minCos: Double,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val (centered, dim) = centeredColumn(vecs, vecCol)
    val sig = vecs.select(col(idCol), col(vecCol), centered.as("__c"))
      .select(col(idCol), col(vecCol),
        srpSignature(col("__c"), numPlanes, dim).as("sig"))
    val l = sig.select(col(idCol).as("vec_a"), col(vecCol).as("va"), col("sig"))
    val r = sig.select(col(idCol).as("vec_b"), col(vecCol).as("vb"), col("sig"))
    l.join(r, "sig").filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= minCos)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos_sim"))
  }

  /** [[srpNearDupPairs]] with the plane count sized to the corpus by
    * [[autoPlaneCount]] — the production spelling: candidate volume
    * stays linear in n at any scale. Pass `knownN` when the caller has
    * already counted (or sized) the corpus — it skips the one count job
    * this convenience otherwise runs (metadata-cheap on parquet, but a
    * job per ANN call adds up in a loop). */
  def srpNearDupPairsAuto(vecs: DataFrame, minCos: Double,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          targetBucket: Int = DefaultTargetBucket,
                          knownN: Option[Long] = None)
      : DataFrame = {
    knownN.foreach(validateKnownN(_, "srpNearDupPairsAuto"))
    srpNearDupPairs(vecs,
      autoPlaneCount(knownN.getOrElse(vecs.count()), targetBucket),
      minCos, idCol, vecCol)
  }

  /** BANDED SRP near-dup pairs — the multiple-hash-table form of
    * [[srpNearDupPairs]], for the HIGH-RECALL regime: `bands` independent
    * signatures of `planesPerBand` planes each (band b uses the family's
    * planes [b·r, (b+1)·r) — disjoint, same Knuth-mixed construction);
    * a pair is a candidate when it collides in ANY band; candidates are
    * deduped then verified with exact cosine on the original vectors.
    *
    * WHY BANDS: the single-signature operator keeps COST linear via
    * [[autoPlaneCount]], but its RECALL on true near-dups falls as the
    * corpus grows — a pair at cosine c collides with probability
    * (1 − θ/π)^p per table, and p grows with log n (at n = 200k, p = 15:
    * ≈ 0.10 for c = 0.9). b bands lift that to 1 − (1 − (1−θ/π)^r)^b —
    * the same banding trade the minhash LSH tier makes (its 4×4 bands).
    * Cost multiplies by exactly b (each band is its own linear-volume
    * bucket join; the explode-to-(band, sig) form keeps it ONE shuffle),
    * so recall is a paid-for, declared knob instead of a silent loss.
    *
    * Scale shape: vectors explode to b (band, sig) rows — the join key
    * is (band, sig) so all bands run in ONE self-join; candidate pairs
    * dedup BEFORE the verify (a pair colliding in k bands verifies
    * once); vectors re-attach through two hash joins (the q150
    * distinct-verify discipline) so the ×b explode never carries
    * payloads. */
  def srpBandedNearDupPairs(vecs: DataFrame, bands: Int, planesPerBand: Int,
                            minCos: Double,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    // per-band plane count is bounded by srpSignature's [1, 63]; the
    // band count only moves the family offset (the family is unbounded)
    require(bands >= 1, s"bands must be >= 1, got $bands")
    val (centered, _) = centeredColumn(vecs, vecCol)
    // materialize the centered array ONCE per row in a child project
    // (zip_with is non-codegen — see centeredColumn), then compute ALL
    // band signatures in ONE native kernel call
    // (functions.SrpBandedSig): the unrolled bands·planes vec_dot form
    // breaks whole-stage codegen past ~300 planes ("Code grows beyond
    // 64 KB", measured at the contract's own sizing for n = 4M) and
    // silently falls back to interpreted evaluation exactly where the
    // operator is meant to scale. posexplode's position IS the band id.
    val sigs = vecs.select(col(idCol), centered.as("__c"))
      .select(col(idCol), call_function("srp_banded_sig", col("__c"),
        lit(bands), lit(planesPerBand)).as("__sigs"))
      .select(col(idCol), posexplode(col("__sigs")).as(Seq("band", "sig")))
    val cand = sigs.select(col(idCol).as("vec_a"), col("band"), col("sig"))
      .join(sigs.select(col(idCol).as("vec_b"), col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b")).distinct()
    cand
      .join(vecs.select(col(idCol).as("vec_a"), col(vecCol).as("__va")),
        "vec_a")
      .join(vecs.select(col(idCol).as("vec_b"), col(vecCol).as("__vb")),
        "vec_b")
      .withColumn("cos", cosine(col("__va"), col("__vb")))
      .filter(col("cos") >= minCos)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos_sim"))
  }

  /** [[srpBandedNearDupPairs]] with BOTH knobs sized to the corpus —
    * the production spelling with a DECLARED RECALL CONTRACT: a pair at
    * centered cosine ≥ `designCos` is emitted with probability ≥
    * `recallTarget` at ANY corpus size. Planes-per-band stays
    * [[autoPlaneCount]] (each band is a linear-volume bucket join);
    * the band count grows with n via [[srpBandCountForPlanes]] to pay for the
    * per-band recall that finer buckets give up — the classic LSH
    * n^(1+ρ) trade (Charikar STOC'02 / Indyk–Motwani), with ρ =
    * −log₂(1 − acos(designCos)/π) ≈ 0.20 at the 0.92 default.
    *
    * WHY NOT fixed planes-per-band + growing bands alone (the minhash
    * tier's 4×4 shape): a minhash band key is r hash VALUES from a
    * 2^64 domain, so a RANDOM pair's per-band collision probability is
    * ≈ Jaccard^r ≈ 0 and fixed r stays linear. An SRP band key is r
    * SIGN BITS — bucket entropy is capped at r bits, a random centered
    * pair collides with probability exactly 2^−r, and per-band
    * candidate volume is C(n,2)·2^−r: QUADRATIC in n for any fixed r
    * (n = 10⁹, r = 10 → 5·10¹⁴ candidates per band). Growing r with
    * log n is the only linear-cost choice; growing b alongside it is
    * what keeps recall flat (measured flat ±0.02 across n = 4k/40k/400k,
    * SURVEY §8.20, vs 0.924→0.763 decay for the old fixed-b default).
    *
    * WHAT THE CONTRACT COVERS — and what it does not: the recall floor
    * applies ONLY to pairs at centered cosine ≥ `designCos`. Below it,
    * each pair is still emitted with probability 1 − (1 − q(c)^p)^b,
    * q(c) = 1 − acos(c)/π — a probability that FALLS with c and, because
    * p grows with n, falls with corpus size too (measured, SCALE.md r11:
    * the 0.50-cosine bin emits 0.67/0.41/0.28 of its pairs at n =
    * 4k/40k/400k while the ≥ 0.90 bins hold 0.99+). Verifying at a
    * `minCos` well below `designCos` therefore returns a biased SAMPLE
    * of the low-cosine pairs, not all of them. To CONTRACT a lower
    * cosine, lower `designCos` — the law reprices b automatically
    * (SCALE.md, Round-11 emission-curve record, has the b(designCos)
    * table; 0.90 → 0.80 roughly doubles b at any n; covering 0.50 at
    * n = 4M costs b ≈ 5105 — the honest n^(1+ρ) price with
    * ρ(0.5) ≈ 0.58). */
  def srpBandedNearDupPairsAuto(vecs: DataFrame, minCos: Double,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding",
                                designCos: Double = DefaultDesignCos,
                                recallTarget: Double = DefaultRecallTarget,
                                targetBucket: Int = DefaultTargetBucket,
                                knownN: Option[Long] = None): DataFrame = {
    knownN.foreach(validateKnownN(_, "srpBandedNearDupPairsAuto"))
    val p = autoPlaneCount(knownN.getOrElse(vecs.count()), targetBucket)
    srpBandedNearDupPairs(vecs, srpBandCountForPlanes(p, designCos,
      recallTarget), p, minCos, idCol, vecCol)
  }

  /** The banded tier's declared recall contract, default half 1: pairs
    * at CENTERED cosine ≥ this are the ones the near-dup stage must not
    * lose. 0.92 sits at the top of the near-duplicate regime (planted
    * twins land ≈ 0.92 centered; SCALE.md, Round-10 recall record). */
  val DefaultDesignCos = 0.92

  /** Contract half 2: minimum probability that a ≥ designCos pair
    * survives bucketing, at any corpus size. */
  val DefaultRecallTarget = 0.90

  /** Smallest band count b with 1 − (1 − q^p)^b ≥ recallTarget for
    * q = 1 − acos(designCos)/π (a plane splits a designCos pair with
    * probability acos(c)/π — Goemans–Williamson): b = ⌈ln(1/(1−R))/q^p⌉
    * via the (1−x)^b ≤ e^(−bx) bound, so the ceiling is always
    * sufficient, never just close. b grows as n^ρ (ρ = −log₂ q) — the
    * declared price of flat recall; at the 0.92/0.90 defaults b = 7 at
    * n = 2k, 12 at 20k, 21 at 400k, 94 at 10⁹.
    *
    * PARITY: transcendentals (acos/pow/log) run ONCE, here, driver-side;
    * the oracle renders this function's Int output per plane count as
    * SQL literals ([[graft.queries.VectorOracles.bandsCte]]), so both
    * engines bucket with identical integers — no runtime libm on either
    * side of the compare. */
  def srpBandCountForPlanes(planes: Int,
                            designCos: Double = DefaultDesignCos,
                            recallTarget: Double = DefaultRecallTarget)
      : Int = {
    require(designCos > 0.0 && designCos < 1.0,
      s"designCos out of (0,1): $designCos")
    require(recallTarget > 0.0 && recallTarget < 1.0,
      s"recallTarget out of (0,1): $recallTarget")
    // StrictMath: java.lang.Math acos/log/pow are platform-variant (up
    // to ~2 ulp); a near-integer ceil boundary could yield a different
    // band count on another JVM, breaking the spec-pinned law values.
    val q = 1.0 - StrictMath.acos(designCos) / math.Pi
    val b = math.ceil(StrictMath.log(1.0 / (1.0 - recallTarget)) /
      StrictMath.pow(q, planes))
    require(b <= Int.MaxValue, s"band count overflow at planes=$planes")
    math.max(1L, b.toLong).toInt
  }

  /** knownN is a PARITY-SENSITIVE shortcut: the oracle derives the plane
    * count from COUNT(*) with the same [[autoPlaneCount]] rule, so a
    * knownN in a different power-of-two band than the true count silently
    * changes bucket granularity (different candidate set → different
    * pairs vs the oracle). The contract is knownN = the exact corpus row
    * count; this guard rejects the unconditionally-wrong values (≤ 0,
    * where the sizing loop would degenerate to minPlanes) and documents
    * the band-parity hazard where a full validation would cost the very
    * count() the parameter exists to skip (ADVICE r7). */
  private def validateKnownN(n: Long, caller: String): Unit =
    require(n > 0,
      s"$caller: knownN must be the positive exact corpus count, got $n" +
        " — pass None to let the engine count")

  /** DIRECTED cross-label candidate edges from the BANDED SRP tier —
    * the shared candidate generator of the pair miners
    * ([[mutualNeighbors]] / [[marginMiningPairs]]): two vectors with
    * different `labelCol` values are a candidate when any of the
    * `bands` band signatures collide. Returns (__src, __dst, __cos)
    * with BOTH directions of every unordered pair (the miners' rank
    * windows are per-source), cosine 6-rounded, pairs deduped across
    * bands BEFORE the verify.
    *
    * WHY BANDED (r10 verdict #1): the miners used to ride the
    * single-table [[autoPlaneCount]] candidates, whose recall on true
    * pairs DECAYS with corpus size (measured 0.294 → 0.074 across
    * n = 4k → 4M while the banded contract held 0.99) — a bitext miner
    * silently losing >90% of true pairs at target scale, and biasing
    * q268's neighborhood averages over the same vanishing set. bands =
    * 1 reproduces the old single-table candidate set exactly (band 0
    * IS the first `planesPerBand` family planes).
    *
    * Scale shape: one (band, sig) self-join (cost ∝ b · Σ bucket²,
    * the declared n^(1+ρ) multiplier), labels ride the ×b explode (a
    * small value, never the vector), distinct on the unordered id pair,
    * vectors re-attach via two hash joins, cosine computed ONCE per
    * pair then mirrored. */
  /** Banded SRP signature rows (id, label, band, sig) — centered over
    * the FULL corpus, exactly as the candidate tier computes them. */
  private def bandedSigRows(vecs: DataFrame, bands: Int,
                            planesPerBand: Int, idCol: String,
                            vecCol: String, labelCol: String): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    val (centered, _) = centeredColumn(vecs, vecCol)
    vecs.select(col(idCol), col(labelCol), centered.as("__c"))
      .select(col(idCol), col(labelCol),
        call_function("srp_banded_sig", col("__c"),
          lit(bands), lit(planesPerBand)).as("__sigs"))
      .select(col(idCol), col(labelCol),
        posexplode(col("__sigs")).as(Seq("band", "sig")))
  }

  private def bandedCrossLabelCandidates(
      vecs: DataFrame, bands: Int, planesPerBand: Int,
      idCol: String, vecCol: String, labelCol: String): DataFrame = {
    // materialized before the bucket self-join for the same reason as
    // NearDup.candidatePairs' band persist: the two join sides project
    // different names, so ReuseExchange never fires and a lazy plan
    // runs the centering + SRP signature cascade (the corpus-scan-sized
    // work) TWICE. The sig frame is bands rows/vec of (id, label, band,
    // sig) — the narrowest point to cut. (r14's negative persist A/B
    // was the SCORED candidate output above this join, whose repeated
    // subtrees exchange reuse already dedups; the two sig cascades
    // below the differently-projected exchanges are what reuse cannot
    // touch.)
    val sigs0 = bandedSigRows(vecs, bands, planesPerBand, idCol, vecCol,
      labelCol)
    val sigs = sigs0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.count() // eager: both join sides must read, never compute
    graft.core.OpCache.renew("VectorOps.bandedCrossLabelCandidates", sigs)
    val cand = sigs.select(col(idCol).as("__a"), col(labelCol).as("__al"),
        col("band"), col("sig"))
      .join(sigs.select(col(idCol).as("__b"), col(labelCol).as("__bl"),
        col("band"), col("sig")), Seq("band", "sig"))
      // cross-label only; collisions are symmetric so __a < __b keeps
      // exactly one copy of each unordered pair
      .filter(col("__al") =!= col("__bl"))
      .filter(col("__a") < col("__b"))
      .select(col("__a"), col("__b")).distinct()
    val scored = cand
      .join(vecs.select(col(idCol).as("__a"), col(vecCol).as("__va")), "__a")
      .join(vecs.select(col(idCol).as("__b"), col(vecCol).as("__vb")), "__b")
      .select(col("__a"), col("__b"),
        round(cosine(col("__va"), col("__vb")), 6).as("__cos"))
    // cos(a,b) = cos(b,a) bit-for-bit (same element fold), so the
    // mirror carries the identical rounded value
    scored.select(col("__a").as("__src"), col("__b").as("__dst"),
        col("__cos"))
      .union(scored.select(col("__b").as("__src"), col("__a").as("__dst"),
        col("__cos")))
  }

  /** Mutual-nearest-neighbor pairs ACROSS groups — the bitext/alignment
    * miner: for each vector, its best cross-`labelCol` partner among
    * banded-SRP candidates ([[bandedCrossLabelCandidates]]); keep only
    * pairs where the choice is MUTUAL (a's best is b AND b's best is a)
    * — the asymmetric-best filter that makes margin-based
    * parallel-corpus mining precise where a one-directional top-1 pairs
    * every source with some target.
    *
    * Scale shape: candidates come from the banded bucket join (cost ∝
    * b · Σ bucket², never corpus²; recall flat by the
    * [[srpBandCountForPlanes]] contract instead of decaying with n — r10
    * verdict #1), the per-vector argmax is a WindowGroupLimit-prunable rank-1
    * window over candidate slivers, and mutuality is ONE canonical-pair count
    * aggregate over the vector-domain best-edge frame — (a,b) is mutual iff
    * the unordered pair appears twice — so the candidate cascade runs exactly
    * once (a best-vs-flipped self-join would replay it). Argmax ranks on
    * cosine ROUNDED to 6 with an id tiebreak (the [[assignToCentroids]]
    * discipline), so the pick is engine- and partitioning-invariant. */
  def mutualNeighbors(vecs: DataFrame, bands: Int, planesPerBand: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      labelCol: String = "label"): DataFrame = {
    val cand = bandedCrossLabelCandidates(vecs, bands, planesPerBand,
      idCol, vecCol, labelCol)
    // per-source argmax as max(struct(cos, ~dst)) — identical pick to
    // the old rank-1 window (struct comparison is the same total order
    // the sort used: cos desc incl. NaN-largest/−0.0<0.0, then ~dst max
    // ≡ dst asc), but a map-side-combinable hash aggregate instead of a
    // sort exchange: the shuffle carries one partial best per (src,
    // partition), not every candidate row (r15, guide §2.3/§2.4).
    // Integral ids only; other id types keep the window. The order
    // flip is bitwise_not (~x = −x−1), which reverses the order over the
    // whole type — plain negation overflows on the minimum id.
    val best = cand.schema("__dst").dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType =>
        cand.groupBy(col("__src"))
          .agg(max(struct(col("__cos").as("__c"),
            bitwise_not(col("__dst")).as("__nd"))).as("__m"))
          .select(col("__src"), bitwise_not(col("__m.__nd")).as("__dst"),
            col("__m.__c").as("__cos"))
      case _ =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__src"))
          .orderBy(col("__cos").desc, col("__dst").asc)
        cand.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
    }
    best.select(least(col("__src"), col("__dst")).as("vec_a"),
        greatest(col("__src"), col("__dst")).as("vec_b"), col("__cos"))
      .groupBy(col("vec_a"), col("vec_b"))
      // cos(a,b) = cos(b,a) bit-for-bit (the fold runs over the same
      // element pairs), so max() just collapses the two equal copies
      .agg(count(lit(1)).as("__n"), max(col("__cos")).as("cos_sim"))
      .filter(col("__n") === 2).drop("__n")
  }

  /** MARGIN-criterion bitext/pair mining (Artetxe & Schwenk, ACL'19 —
    * the LASER/CCMatrix scorer): a cross-label pair qualifies not by its
    * absolute cosine but by how much it stands out from each side's
    * NEIGHBORHOOD — margin(a,b) = cos(a,b) / ((avgₖ(a) + avgₖ(b)) / 2),
    * avgₖ(x) = mean cosine of x to its k best cross-label candidates.
    * Hubness is the failure this fixes: a "hub" vector is everyone's
    * near-neighbor, so absolute-cosine mining floods it with false
    * pairs; dividing by the neighborhood average deflates hubs and
    * promotes pairs that are MUTUALLY exceptional.
    *
    * Scale shape: candidates come from the same banded bucket join as
    * [[mutualNeighbors]] (cost ∝ b · Σ bucket², never corpus²; recall
    * flat by contract, so the k-neighborhood averages — the margin's
    * own denominator — are computed over a candidate set that does NOT
    * vanish as n grows, r10 verdict #1); the per-side average is a
    * rank-≤ k window (WindowGroupLimit-prunable) over the candidate
    * sliver, summed as DECIMAL(18,6) of the 6-rounded cosines
    * (order-invariant — the cosines are exact decimals after rounding);
    * the margin join re-attaches two id-keyed averages, never vectors.
    * Denominator ≤ 0 (pathological all-negative neighborhoods) is
    * filtered rather than emitted as ±Inf. */
  def marginMiningPairs(vecs: DataFrame, bands: Int, planesPerBand: Int,
                        k: Int, minMargin: Double,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        labelCol: String = "label"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // already deduped across bands: a pair sharing several buckets is
    // ONE candidate (and one neighborhood member), not a vote per bucket
    val cand = bandedCrossLabelCandidates(vecs, bands, planesPerBand,
      idCol, vecCol, labelCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__src"))
      .orderBy(col("__cos").desc, col("__dst").asc)
    val avg = cand.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy(col("__src"))
      .agg((sum(col("__cos").cast("decimal(18,6)")).cast("double") /
        count(lit(1))).as("__avg"))
    cand.filter(col("__src") < col("__dst"))
      .join(avg.select(col("__src"), col("__avg").as("__da")), "__src")
      .join(avg.select(col("__src").as("__dst"), col("__avg").as("__db")),
        "__dst")
      .withColumn("__den", (col("__da") + col("__db")) / 2)
      .filter(col("__den") > 0)
      .withColumn("margin", round(col("__cos") / col("__den"), 6))
      .filter(col("margin") >= minMargin)
      .select(col("__src").as("vec_a"), col("__dst").as("vec_b"),
        col("__cos").as("cos_sim"), col("margin"))
  }

  /** [[marginMiningPairs]] with BOTH knobs sized to the corpus — the
    * production spelling with the banded tier's recall contract:
    * planes-per-band from [[autoPlaneCount]] (linear per-band volume),
    * band count from [[srpBandCountForPlanes]] (candidate recall ≥
    * `recallTarget` on ≥ `designCos` pairs at ANY corpus size — the
    * pre-port single-table candidates decayed 0.294 → 0.074 across
    * n = 4k → 4M, r10 verdict #1). */
  def marginMiningPairsAuto(vecs: DataFrame, k: Int, minMargin: Double,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            labelCol: String = "label",
                            designCos: Double = DefaultDesignCos,
                            recallTarget: Double = DefaultRecallTarget,
                            targetBucket: Int = DefaultTargetBucket,
                            knownN: Option[Long] = None): DataFrame = {
    knownN.foreach(validateKnownN(_, "marginMiningPairsAuto"))
    val p = autoPlaneCount(knownN.getOrElse(vecs.count()), targetBucket)
    marginMiningPairs(vecs, srpBandCountForPlanes(p, designCos,
      recallTarget), p, k, minMargin, idCol, vecCol, labelCol)
  }

  /** [[mutualNeighbors]] with BOTH knobs sized to the corpus — the
    * production spelling with the banded recall contract (see
    * [[marginMiningPairsAuto]]; a pinned plane count makes candidate
    * volume grow n²/2^planes, and single-table auto-sizing makes miner
    * recall decay with n). `knownN` skips the sizing count() when the
    * caller already has the corpus size (otherwise one metadata-cheap
    * parquet count job). */
  def mutualNeighborsAuto(vecs: DataFrame,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          labelCol: String = "label",
                          designCos: Double = DefaultDesignCos,
                          recallTarget: Double = DefaultRecallTarget,
                          targetBucket: Int = DefaultTargetBucket,
                          knownN: Option[Long] = None)
      : DataFrame = {
    knownN.foreach(validateKnownN(_, "mutualNeighborsAuto"))
    val p = autoPlaneCount(knownN.getOrElse(vecs.count()), targetBucket)
    mutualNeighbors(vecs, srpBandCountForPlanes(p, designCos,
      recallTarget), p, idCol, vecCol, labelCol)
  }

  /** Row budgets of [[mmrRerank]]'s driver twin. */
  private val MmrShortlistRows = 1 << 16
  private val MmrSimRows = 1 << 20

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein,
    * SIGIR'98): greedily pick `selectK` results per query from a
    * relevance shortlist, each step maximizing λ·rel − (1−λ)·max-sim-
    * to-already-picked — the diversity step retrieval/sampling needs
    * when a near-dup corpus would otherwise fill top-k with copies.
    *
    * Scale shape: the greedy loop is inherently sequential in k but
    * only k-deep — each step is one anti-join + one bounded aggregate
    * + one rank-1 window over the SHORTLIST sliver (≤ shortlistK rows
    * per query, pairwise sims precomputed once, shortlistK²-bounded
    * per query). Every step is distributed across queries; steps are
    * localCheckpointed so the k-step lineage doesn't re-execute
    * (pageRank's round discipline). Rel and sims are 6-rounded BEFORE
    * scoring and λ is dyadic, so the greedy argmax (score desc, id
    * asc) picks identically on any engine — the unrolled-CTE oracle
    * replays it step for step. */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, shortlistK: Int,
                selectK: Int, lambda: Double = 0.5,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(selectK >= 1 && selectK <= shortlistK,
      s"selectK $selectK out of [1, $shortlistK]")
    val sl = bruteForceTopK(queries, corpus, shortlistK, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim").as("rel"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vecs = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"))
    val slv = sl.join(vecs, "neighbor_id")
    val ps = slv.select(col("query_id"), col("neighbor_id").as("ca"),
        col("__cv").as("__va"))
      .join(slv.select(col("query_id"), col("neighbor_id").as("cb"),
        col("__cv").as("__vb")), Seq("query_id"))
      .filter(col("ca") =!= col("cb"))
      .select(col("query_id"), col("ca"), col("cb"),
        round(cosine(col("__va"), col("__vb")), 6).as("sim"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // driver twin behind [[graft.core.LocalGate]] when the shortlist has
    // at most 2^16 rows and its pairwise sims (up to shortlistK−1 per
    // shortlist row) at most 2^20: the IDENTICAL recurrence (same
    // 6-rounded distributed sims, same 9-rounded λ·rel − (1−λ)·maxSim
    // score, same score-desc / id-asc argmax). The corpus-scale scoring
    // (bruteForceTopK) and the pairwise sims stay distributed either way.
    val local = for {
      slRows <- graft.core.LocalGate.rows(sl, MmrShortlistRows,
        "mmr shortlist")
      psRows <- graft.core.LocalGate.rows(ps, MmrSimRows, "mmr sims")
    } yield mmrLocal(sl, slRows, psRows, selectK, lambda)
    if (local.nonEmpty) {
      sl.unpersist(blocking = false)
      ps.unpersist(blocking = false)
      return local.get
    }
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
    var all = sl
      .withColumn("__rk", row_number().over(
        wq.orderBy(col("rel").desc, col("neighbor_id").asc)))
      .filter(col("__rk") === 1)
      .select(col("query_id"), col("neighbor_id"), col("rel"),
        lit(1).as("step"))
      .localCheckpoint(true)
    for (i <- 2 to selectK) {
      val cand = sl.join(
        all.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      val ms = ps.join(
          all.select(col("query_id"), col("neighbor_id").as("cb")),
          Seq("query_id", "cb"))
        .groupBy(col("query_id"), col("ca").as("neighbor_id"))
        .agg(max(col("sim")).as("__ms"))
      val pick = cand.join(ms, Seq("query_id", "neighbor_id"))
        .withColumn("__score",
          round(lit(lambda) * col("rel") -
            lit(1.0 - lambda) * col("__ms"), 9))
        .withColumn("__rk", row_number().over(
          wq.orderBy(col("__score").desc, col("neighbor_id").asc)))
        .filter(col("__rk") === 1)
        .select(col("query_id"), col("neighbor_id"), col("rel"),
          lit(i).as("step"))
      all = all.unionByName(pick).localCheckpoint(true)
    }
    all
  }

  /** Driver-side twin of [[mmrRerank]]'s greedy rounds — identical
    * recurrence over the collected shortlist + pairwise-sim slivers
    * (both computed DISTRIBUTED with the exact expressions the
    * distributed rounds consume), so the size gate is invisible to
    * callers. Argmax tie-breaks replicate Spark's orderings: score
    * desc then id asc; the greedy score replays Spark's
    * round(DoubleType, 9) via the same BigDecimal(double) HALF_UP
    * path. */
  private def mmrLocal(sl: DataFrame,
                       slRows: Array[org.apache.spark.sql.Row],
                       psRows: Array[org.apache.spark.sql.Row],
                       selectK: Int, lambda: Double): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    // ids are longs: bruteForceTopK keys its top-k by long ids
    def idLess(a: Any, b: Any): Boolean =
      a.asInstanceOf[Long] < b.asInstanceOf[Long]
    // Spark's round(DoubleType, 9): BigDecimal(double) — valueOf/
    // toString canonicalization — setScale HALF_UP, back to double.
    // Non-finite passes through unchanged (Spark's Round guards NaN/Inf;
    // BigDecimal(NaN) would throw — a zero-norm embedding's cosine is
    // NaN and must not crash the local path, r14 ADVICE)
    def r9(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    final case class C(id: Any, rel: Double)
    val byQuery = slRows.groupBy(_.get(0)).map { case (q, rows) =>
      q -> rows.map(r => C(r.get(1), r.getDouble(2)))
    }
    val sims = scala.collection.mutable.HashMap
      .empty[(Any, Any, Any), Double]
    psRows.foreach(r => sims((r.get(0), r.get(1), r.get(2))) = r.getDouble(3))
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    byQuery.foreach { case (q, cands) =>
      // step 1: rel desc, id asc
      val picked = scala.collection.mutable.ArrayBuffer.empty[C]
      // java.lang.Double.compare mirrors Spark's total order for the
      // distributed rounds' desc sort: NaN largest, -0.0 < 0.0 (plain
      // >/== would tie NaN with everything and ±0.0 with each other)
      def better(a: (Double, Any), b: (Double, Any)): Boolean = {
        val c = java.lang.Double.compare(a._1, b._1)
        c > 0 || (c == 0 && idLess(a._2, b._2))
      }
      val first = cands.reduceLeft((a, b) =>
        if (better((a.rel, a.id), (b.rel, b.id))) a else b)
      picked += first
      out += org.apache.spark.sql.Row(q, first.id, first.rel, 1)
      for (i <- 2 to selectK) {
        val remaining = cands.filterNot(c => picked.exists(_.id == c.id))
        // inner-join semantics: a candidate scores only if some sim row
        // exists against a picked doc (always true when the shortlist
        // has ≥ 2 members, mirroring the distributed plan)
        val scored = remaining.flatMap { c =>
          val ms = picked.flatMap(p => sims.get((q, c.id, p.id)))
          if (ms.isEmpty) None
          else Some((r9(lambda * c.rel - (1.0 - lambda) * ms.max), c))
        }
        if (scored.nonEmpty) {
          val (s, c) = scored.reduceLeft((a, b) =>
            if (better((a._1, a._2.id), (b._1, b._2.id))) a else b)
          val _ = s
          picked += c
          out += org.apache.spark.sql.Row(q, c.id, c.rel, i)
        }
      }
    }
    val schema = StructType(Seq(
      sl.schema("query_id"), sl.schema("neighbor_id"),
      StructField("rel", org.apache.spark.sql.types.DoubleType),
      StructField("step", IntegerType, nullable = false)))
    sl.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(out.toSeq).asJava),
      schema)
  }

  /** Matryoshka retrieval: rank neighbors by the cosine of the FIRST
    * `dims` dimensions only (matryoshka-trained embeddings pack the
    * coarse signal into the prefix, so a prefix search reads 1/4 the
    * bytes), then report the full-dimension cosine alongside — the
    * ranking-drift readout that tells you whether the truncation is
    * safe for first-stage retrieval. Renormalization is a no-op under
    * cosine, so the prefix slice IS the truncated model's score.
    *
    * Plan: the truncated top-k reuses [[bruteForceTopK]]'s bounded
    * aggregator (shuffle ≤ k rows per query×partition); the full-dim
    * rescore then touches only the k·|queries| winners — a broadcast
    * join back to the corpus, never a second scan-wide score. */
  def matryoshkaTopK(queries: DataFrame, corpus: DataFrame, dims: Int,
                     k: Int, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(dims >= 1, s"dims < 1: $dims")
    def trunc(df: DataFrame) =
      df.select(col(idCol), slice(col(vecCol), 1, dims).as(vecCol))
    val top = bruteForceTopK(trunc(queries), trunc(corpus), k,
        idCol, vecCol)
      .withColumnRenamed("cos_sim", "cos_trunc")
    val qv = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"))
    broadcast(top.join(broadcast(qv), "query_id"))
      .join(cv, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("cos_trunc"),
        round(cosine(col("__qv"), col("__cv")), 6).as("cos_full"))
  }

  /** Top-k principal components of the embedding cloud by driver-side
    * power iteration over a DISTRIBUTED covariance matrix — the
    * whitening/compression front-end (semantic dedup pipelines whiten
    * before cosine; PQ variants rotate into the PCA basis first).
    *
    * The cluster computes the d×d covariance: exact-decimal dimension
    * means, then the upper triangle via a double position-explode whose
    * d²-per-row stream collapses in MAP-SIDE partial aggregation to
    * d(d+1)/2 keys — nothing data-sized ever shuffles (d = 64 here;
    * for d in the thousands you'd block the matrix instead). Each
    * centered product rounds to 9 decimals and decimal-sums, so the
    * collected matrix — and every eigenvector derived from it — is
    * bit-deterministic under any partitioning. The d×d eigenproblem is
    * driver arithmetic BY DESIGN (the matrix is ~32 KB; no cluster
    * cost), deflated power iteration from a fixed start, sign fixed by
    * making each component's largest-|coordinate| positive.
    *
    * Returns (mean, eigenvalues, components); project with
    * [[pcaProject]]. */
  /** Per-dimension exact-decimal means of the vector column, collected
    * driver-side (d values). */
  private[graft] def dimensionMeans(df: DataFrame, vecCol: String)
      : Array[Double] =
    df.select(posexplode(col(vecCol)).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg((sum(col("x").cast("decimal(28,10)")).cast("double") /
        count(lit(1))).as("m"))
      .collect().map(r => r.getAs[Int]("i") -> r.getAs[Double]("m"))
      .sortBy(_._1).map(_._2)

  /** Upper-triangle covariance of the embedding dimensions as a
    * DataFrame: (i, j ≥ i, n, cov) — the distributed input the PCA
    * eigensolve consumes, exposed so the matrix itself is
    * ORACLE-CHECKABLE (the eigenproblem is not SQL; its input is).
    * Same discipline as [[pcaComponents]]: exact-decimal means, each
    * centered product 9-rounded into a decimal sum (bit-deterministic
    * under any partitioning), the d²-per-row explode collapsing
    * map-side to d(d+1)/2 keys. */
  /** Exact-decimal sums of centered products over the upper triangle
    * (i, j ≥ i): the second explode walks only the slice FROM i, so the
    * generated stream is d(d+1)/2 per row, not d² filtered in half. */
  private def upperTriangleSums(df: DataFrame, vecCol: String,
                                mLit: Column): DataFrame = {
    val ci = col("xi").cast("double") - element_at(mLit, col("i") + 1)
    val cj = col("xj").cast("double") - element_at(mLit, col("j") + 1)
    // fan the SOURCE rows out before the d²/2-per-row explode: a small
    // vector table arrives as one parquet split, and without this the
    // entire decimal-product stream (the real cost) runs on one core —
    // measured 8.2 s → 1.3 s at 5k×64. Row-level decimal sums are
    // placement-free, so round-robin is safe.
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(vecCol).as("__v"),
        posexplode(col(vecCol)).as(Seq("i", "xi")))
      .select(col("i"), col("xi"),
        posexplode(slice(col("__v"), col("i") + 1,
          size(col("__v")) - col("i"))).as(Seq("__j0", "xj")))
      .select(col("i"), col("xi"), col("xj"),
        (col("i") + col("__j0")).as("j"))
      .groupBy(col("i"), col("j"))
      .agg(sum(round(ci * cj, 9).cast("decimal(28,9)")).as("__s"))
  }

  def covarianceMatrix(df: DataFrame, vecCol: String): DataFrame = {
    val n = df.count()
    require(n >= 2, s"need >= 2 vectors, got $n")
    val mLit = typedlit(dimensionMeans(df, vecCol).toSeq)
    upperTriangleSums(df, vecCol, mLit)
      .select(col("i"), col("j"), lit(n).as("n"),
        round(col("__s").cast("double") / (n - 1), 6).as("cov"))
  }

  def pcaComponents(df: DataFrame, vecCol: String, k: Int,
                    iters: Int = 300)
      : (Array[Double], Array[Double], Array[Array[Double]]) = {
    val n = df.count()
    require(n >= 2, s"need >= 2 vectors, got $n")
    val mean = dimensionMeans(df, vecCol)
    val d = mean.length
    val mLit = typedlit(mean.toSeq)
    val cov = upperTriangleSums(df, vecCol, mLit).collect()
    val a = Array.ofDim[Double](d, d)
    cov.foreach { r =>
      val (i, j) = (r.getAs[Int]("i"), r.getAs[Int]("j"))
      val v = r.getAs[java.math.BigDecimal]("__s").doubleValue() / (n - 1)
      a(i)(j) = v; a(j)(i) = v
    }
    def matVec(m: Array[Array[Double]], v: Array[Double]) =
      m.map(row => row.zip(v).map { case (x, y) => x * y }.sum)
    def dotV(x: Array[Double], y: Array[Double]) =
      x.zip(y).map { case (p, q) => p * q }.sum
    val comps = Array.ofDim[Double](k, d)
    val eigvals = new Array[Double](k)
    val work = a.map(_.clone())
    for (c <- 0 until k) {
      // fixed asymmetric start (never orthogonal to a generic eigvec)
      var v = Array.tabulate(d)(i => 1.0 + (i % 7) * 0.01)
      var nv = math.sqrt(dotV(v, v)); v = v.map(_ / nv)
      var it = 0; var delta = 1.0
      while (it < iters && delta > 1e-13) {
        val w = matVec(work, v)
        val nw = math.sqrt(dotV(w, w))
        val vNew = if (nw == 0) v else w.map(_ / nw)
        delta = math.sqrt(dotV(vNew.zip(v).map { case (x, y) => x - y },
          vNew.zip(v).map { case (x, y) => x - y }))
        v = vNew; it += 1
      }
      val lam = dotV(v, matVec(work, v))
      val maxIdx = v.indices.maxBy(i => math.abs(v(i)))
      val sign = if (v(maxIdx) < 0) -1.0 else 1.0
      comps(c) = v.map(_ * sign)
      eigvals(c) = lam
      for (i <- 0 until d; j <- 0 until d)
        work(i)(j) -= lam * v(i) * v(j)
    }
    (mean, eigvals, comps)
  }

  /** Project each vector onto principal components: pc_c = ⟨v − μ, w_c⟩
    * = ⟨v, w_c⟩ − ⟨μ, w_c⟩, the second term a driver constant — so the
    * scan-side work is one codegen'd sequential-fold dot per component,
    * no centering materialization. Output: idCols*, pc1..pck. */
  def pcaProject(df: DataFrame, idCols: Seq[String], vecCol: String,
                 mean: Array[Double], comps: Array[Array[Double]])
      : DataFrame = {
    val pcs = comps.zipWithIndex.map { case (w, c) =>
      val off = mean.zip(w).map { case (m, x) => m * x }.sum
      (dot(col(vecCol), typedlit(w.toSeq)) - lit(off))
        .as(s"pc${c + 1}")
    }
    df.select(idCols.map(col) ++ pcs: _*)
  }
}
