package graft.queries

/** DuckDB-dialect oracle SQL for [[VectorQueries]]. Dot products are the
  * same sequential double fold as the Spark side, so values are
  * bit-identical — no tolerance compare needed.
  */
object VectorOracles {

  /** Sequential-fold dot product of two list columns (double). */
  def dot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, len($a) + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"

  def cos(a: String, b: String): String =
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"

  /** ±1 pseudo-random hyperplane component — the
    * [[graft.ops.VectorOps.planeSignValue]] twin: parity of
    * (a_j·(i+1) + b_j) mod m with per-plane Knuth-mixed coefficients.
    * i here is the 1-based DuckDB list index, so the engine's 0-based
    * dimension-index-plus-one is exactly this i. With j a compile-time
    * Int the coefficients fold to literals here. */
  def planeSign(j: Int, i: String): String = {
    val a = 2654435761L * (j + 1) % 1000000007L
    val b = 2246822519L * (j + 1) % 1000000007L
    s"(CASE WHEN (($a * $i + $b) % 1000000007) % 2 = 0 " +
      s"THEN 1.0 ELSE -1.0 END)"
  }

  def srpSig(vec: String, planes: Int): String = {
    val terms = (0 until planes).map { j =>
      val proj = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, len($vec) + 1), " +
        s"i -> CAST($vec[i] AS DOUBLE) * ${planeSign(j, "i")})), (x, y) -> x + y)"
      s"(CASE WHEN $proj > 0 THEN ${1L << j} ELSE 0 END)"
    }
    s"CAST(${terms.mkString(" + ")} AS BIGINT)"
  }

  /** CTE computing the AUTO-SIZED plane count from COUNT(*) — the same
    * integer rule as [[graft.ops.VectorOps.autoPlaneCount]]: smallest
    * p ≥ minPlanes with (n−1) >> p < targetBucket (right-shift form,
    * overflow-free; no float log2, whose 1-ulp slop at exact powers of
    * two could flip the count between engines). Defaults are READ FROM
    * [[graft.ops.VectorOps.DefaultTargetBucket]]/[[graft.ops.VectorOps.DefaultMinPlanes]]
    * — the engine/oracle parity contract lives in one place, so the two
    * sizing rules cannot drift independently. */
  def planesCte(table: String,
                targetBucket: Int = graft.ops.VectorOps.DefaultTargetBucket,
                minPlanes: Int = graft.ops.VectorOps.DefaultMinPlanes)
      : String =
    s"pl AS (SELECT COALESCE(MIN(p), 63) AS planes FROM " +
      s"(SELECT unnest(range($minPlanes, 64)) AS p) ps " +
      s"WHERE (((SELECT COUNT(*) FROM $table) - 1) >> p) < $targetBucket)"

  /** CTE mapping the auto-sized plane count (`pl.planes` from
    * [[planesCte]]) to the recall-contract band count — the oracle twin
    * of [[graft.ops.VectorOps.srpBandCountForPlanes]]. The transcendental math
    * (acos/pow/log) runs ONCE, in the engine's own
    * [[graft.ops.VectorOps.srpBandCountForPlanes]], and this CTE renders
    * its Int output per possible plane count as SQL CASE literals — the
    * two engines cannot derive different band counts, and DuckDB never
    * touches libm for the sizing. */
  def bandsCte(designCos: Double = graft.ops.VectorOps.DefaultDesignCos,
               recallTarget: Double =
                 graft.ops.VectorOps.DefaultRecallTarget,
               minPlanes: Int = graft.ops.VectorOps.DefaultMinPlanes)
      : String = {
    val arms = (minPlanes to 63).map { p =>
      s"WHEN $p THEN ${graft.ops.VectorOps.srpBandCountForPlanes(p, designCos, recallTarget)}"
    }.mkString(" ")
    s"bc AS (SELECT CASE planes $arms END AS bands FROM pl)"
  }

  /** CTE computing the exact-decimal per-dimension mean of `table`'s
    * embedding column as a one-row list `mu` — the oracle twin of
    * [[graft.ops.VectorOps.dimensionMeans]]: the same DECIMAL(28,10)
    * sum → DOUBLE cast → /COUNT(*) as the q34/q104 centroid CTEs, so
    * the engine's literal μ array and this list hold identical
    * doubles. */
  def muCte(table: String): String =
    s"""mu AS (SELECT list(c ORDER BY i) AS mu FROM (
       |  SELECT i,
       |    CAST(SUM(CAST(CAST(emb[i] AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)
       |      / COUNT(*) AS c
       |  FROM (SELECT embedding AS emb,
       |          unnest(range(1, len(embedding) + 1)) AS i FROM $table) z
       |  GROUP BY i) g)""".stripMargin

  /** [[srpSig]] with the plane count as a COLUMN reference (`planes`,
    * from [[planesCte]]) over the MEAN-CENTERED vector — the oracle twin
    * of [[graft.ops.VectorOps.srpSignature]] over
    * [[graft.ops.VectorOps.centeredColumn]]: each projection term
    * is (v[i] − μ[i])·sign, the identical IEEE double ops in the same
    * sequential fold as the engine's zip_with subtraction + vec_dot.
    * `mu` is the list column from [[muCte]] (cross-joined). */
  def srpSigDynCentered(vec: String, planes: String = "planes",
                        mu: String = "mu"): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(0, $planes), j -> " +
      s"CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, len($vec) + 1), " +
      s"i -> (CAST($vec[i] AS DOUBLE) - $mu[i]) * " +
      s"(CASE WHEN (((2654435761 * (j + 1) % 1000000007) * i " +
      s"+ 2246822519 * (j + 1) % 1000000007) % 1000000007) % 2 = 0 " +
      s"THEN 1.0 ELSE -1.0 END))), (x, y) -> x + y) > 0 " +
      s"THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)), " +
      s"(x, y) -> x + y)"

  /** [[srpSigDynCentered]] for band `band` of the banded operator: bit k
    * of the band signature projects on family plane band·planes + k —
    * the [[graft.ops.VectorOps.srpBandedNearDupPairs]] twin (same
    * per-plane Knuth coefficients at the shifted index, same centered
    * fold). */
  def srpSigDynCenteredBanded(vec: String, planes: String = "planes",
                              band: String = "band",
                              mu: String = "mu"): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(0, $planes), k -> " +
      s"CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, len($vec) + 1), " +
      s"i -> (CAST($vec[i] AS DOUBLE) - $mu[i]) * " +
      s"(CASE WHEN (((2654435761 * ($band * $planes + k + 1) % 1000000007) * i " +
      s"+ 2246822519 * ($band * $planes + k + 1) % 1000000007) % 1000000007) % 2 = 0 " +
      s"THEN 1.0 ELSE -1.0 END))), (x, y) -> x + y) > 0 " +
      s"THEN (CAST(1 AS BIGINT) << k) ELSE CAST(0 AS BIGINT) END)), " +
      s"(x, y) -> x + y)"

  /** Shared CTE chain for the PQ-ADC tier (q65/q102): label-mean
    * codebooks per 32-dim subspace → L2 encode → per-query lookup table →
    * summed approximate scores `sc(query_id, neighbor_id, approx)`.
    * Mirrors [[VectorQueries.qPqAdc]]'s books + [[graft.ops.VectorOps]]
    * pqEncode/pqTopK value-exactly (m = 2 keeps the part sum
    * commutative). */
  private val PqAdcCtes: String = {
    val qsl = "q.embedding[b.sub*32+1 : b.sub*32+32]"
    s"""subs AS (SELECT 0 AS sub UNION ALL SELECT 1),
       |dims AS (SELECT label, embedding AS emb,
       |           unnest(range(1, len(embedding) + 1)) AS i
       |         FROM embeddings),
       |means AS (SELECT label, i,
       |            CAST(SUM(CAST(ROUND(CAST(emb[i] AS DOUBLE)
       |                               * 1000000000) AS BIGINT)) AS BIGINT)
       |              / (COUNT(*) * 1000000000.0) AS c
       |          FROM dims GROUP BY label, i),
       |cents AS (SELECT label, list(c ORDER BY i) AS centroid
       |          FROM means GROUP BY label),
       |books AS (SELECT s.sub, label AS code,
       |            centroid[s.sub*32+1 : s.sub*32+32] AS cent
       |          FROM cents CROSS JOIN subs s),
       |subv AS (SELECT vec_id, s.sub,
       |           embedding[s.sub*32+1 : s.sub*32+32] AS v
       |         FROM embeddings CROSS JOIN subs s),
       |scored AS (SELECT vec_id, sub, code,
       |             ROUND(${dot("v", "v")} - 2 * ${dot("v", "cent")}
       |                   + ${dot("cent", "cent")}, 6) AS d
       |           FROM subv JOIN books USING (sub)),
       |enc AS (SELECT vec_id, sub, code FROM
       |          (SELECT vec_id, sub, code,
       |             row_number() OVER (PARTITION BY vec_id, sub
       |               ORDER BY d ASC, code ASC) AS rn
       |           FROM scored) z WHERE rn = 1),
       |qt AS (SELECT q.vec_id AS query_id, b.sub, b.code,
       |         ${dot(qsl, "b.cent")} AS part
       |       FROM embeddings q CROSS JOIN books b
       |       WHERE q.vec_id < ${VectorQueries.NumQueryVecs}),
       |sc AS (SELECT t.query_id, e.vec_id AS neighbor_id,
       |         SUM(t.part) AS approx
       |       FROM enc e JOIN qt t ON t.sub = e.sub AND t.code = e.code
       |       WHERE t.query_id <> e.vec_id
       |       GROUP BY t.query_id, e.vec_id)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // full-probe IVF ≡ brute force (every corpus vector is in a probed
    // list), so the oracle is the same exhaustive top-k — it pins the
    // centroid-assignment + bucket-join + bounded-top-k machinery exactly
    "q55_ivf_full_probe" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id < ${VectorQueries.NumQueryVecs}),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id, ${cos("qv", "cv")} AS cos
         |           FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
         |r AS (SELECT query_id, neighbor_id, cos,
         |        CAST(row_number() OVER (PARTITION BY query_id
         |               ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
         |      FROM scored)
         |SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS cos_sim
         |FROM r WHERE rank <= ${VectorQueries.TopK}""".stripMargin,

    // MIPS: raw inner product, same sequential fold as the Spark side
    "q142_mips_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id < ${VectorQueries.NumQueryVecs}),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id, ${dot("qv", "cv")} AS ip
         |           FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
         |r AS (SELECT query_id, neighbor_id, ip,
         |        CAST(row_number() OVER (PARTITION BY query_id
         |               ORDER BY ip DESC, neighbor_id ASC) AS INTEGER) AS rank
         |      FROM scored)
         |SELECT query_id, neighbor_id, rank, ROUND(ip, 6) AS dot_score
         |FROM r WHERE rank <= ${VectorQueries.TopK}""".stripMargin,

    // hard negatives: the label inequality replaces the self-pair guard
    // (a vector shares its own label)
    "q130_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, label AS query_label,
         |             embedding AS qv
         |           FROM embeddings WHERE vec_id < ${VectorQueries.NumQueryVecs}),
         |c AS (SELECT vec_id AS neighbor_id, label AS neg_label,
         |        embedding AS cv FROM embeddings),
         |scored AS (SELECT query_id, query_label, neighbor_id, neg_label,
         |             ${cos("qv", "cv")} AS cos
         |           FROM q CROSS JOIN c WHERE query_label <> neg_label),
         |r AS (SELECT query_id, query_label, neighbor_id, neg_label, cos,
         |        CAST(row_number() OVER (PARTITION BY query_id
         |               ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
         |      FROM scored)
         |SELECT query_id, query_label, neighbor_id, neg_label, rank,
         |  ROUND(cos, 6) AS cos_sim
         |FROM r WHERE rank <= ${VectorQueries.TopK}""".stripMargin,

    // mirrors covarianceMatrix: the mean is recomputed in SQL but is
    // the same deterministic division the Spark literal was collected
    // from; centered products round to 9 into decimal sums
    "q235_embed_cov" ->
      """WITH e1 AS (SELECT vec_id, unnest(embedding) AS x,
        |    CAST(unnest(range(1, len(embedding) + 1)) - 1 AS INTEGER)
        |      AS i
        |  FROM embeddings),
        |nn AS (SELECT COUNT(*) AS n FROM embeddings),
        |m AS (SELECT i,
        |    CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*)
        |      AS mu
        |  FROM e1 GROUP BY i),
        |p AS (SELECT a.i AS i, b.i AS j,
        |    CAST(ROUND((CAST(a.x AS DOUBLE) - ma.mu)
        |      * (CAST(b.x AS DOUBLE) - mb.mu), 9) AS DECIMAL(28,9)) AS t
        |  FROM e1 a JOIN e1 b ON a.vec_id = b.vec_id AND b.i >= a.i
        |  JOIN m ma ON ma.i = a.i
        |  JOIN m mb ON mb.i = b.i)
        |SELECT i, j, CAST((SELECT n FROM nn) AS BIGINT) AS n,
        |  ROUND(CAST(SUM(t) AS DOUBLE)
        |    / ((SELECT n FROM nn) - 1), 6) + 0.0 AS cov
        |FROM p GROUP BY i, j""".stripMargin,

    // q220: projection onto the FROZEN gate-corpus principal axes
    // (VectorQueries.PcaAxis1/2 literals — the train-once/apply-
    // everywhere split). Axis lists and the mean·axis offsets are the
    // SAME Scala constants the engine consumes; the dot is the same
    // sequential double fold, so values are bit-identical pre-round.
    "q220_pca_project" -> {
      def dlist(a: Seq[Double]): String = a.mkString("[", ", ", "]")
      // identical fold order to VectorOps.pcaProject's offset sum
      def off(w: Seq[Double]): Double =
        VectorQueries.PcaMean.zip(w).map { case (m, x) => m * x }.sum
      s"""WITH ax AS (SELECT CAST(${dlist(VectorQueries.PcaAxis1)}
         |              AS DOUBLE[]) AS w1,
         |            CAST(${dlist(VectorQueries.PcaAxis2)}
         |              AS DOUBLE[]) AS w2)
         |SELECT vec_id, label,
         |  ROUND(${dot("embedding", "w1")} - (${off(VectorQueries.PcaAxis1)}), 6)
         |    + 0.0 AS pc1,
         |  ROUND(${dot("embedding", "w2")} - (${off(VectorQueries.PcaAxis2)}), 6)
         |    + 0.0 AS pc2
         |FROM embeddings CROSS JOIN ax""".stripMargin
    },

    // matryoshka: rank by prefix-16 cosine, rescore winners at full dim
    "q219_matryoshka" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
         |             embedding[1:${VectorQueries.MatryoshkaDims}] AS qt
         |           FROM embeddings
         |           WHERE vec_id < ${VectorQueries.NumQueryVecs}),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
         |        embedding[1:${VectorQueries.MatryoshkaDims}] AS ct
         |      FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id, qv, cv,
         |             ${cos("qt", "ct")} AS cos
         |           FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
         |r AS (SELECT query_id, neighbor_id, qv, cv, cos,
         |        CAST(row_number() OVER (PARTITION BY query_id
         |               ORDER BY cos DESC, neighbor_id ASC) AS INTEGER)
         |          AS rank
         |      FROM scored)
         |SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS cos_trunc,
         |  ROUND(${cos("qv", "cv")}, 6) AS cos_full
         |FROM r WHERE rank <= ${VectorQueries.TopK}""".stripMargin,

    "q31_ann_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id < ${VectorQueries.NumQueryVecs}),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id, ${cos("qv", "cv")} AS cos
         |           FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
         |r AS (SELECT query_id, neighbor_id, cos,
         |        CAST(row_number() OVER (PARTITION BY query_id
         |               ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
         |      FROM scored)
         |SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS cos_sim
         |FROM r WHERE rank <= ${VectorQueries.TopK}""".stripMargin,

    "q32_srp_buckets" ->
      s"""SELECT ${srpSig("embedding", VectorQueries.SrpPlanes)} AS sig,
         |  COUNT(*) AS n_vecs
         |FROM embeddings GROUP BY sig""".stripMargin,

    // plane count auto-sized from COUNT(*) (planesCte — the
    // autoPlaneCount twin); signature over the MEAN-CENTERED vector
    // (muCte + srpSigDynCentered — the srpSignatureCentered twin)
    "q33_embed_neardup" ->
      s"""WITH ${planesCte("embeddings")},
         |${muCte("embeddings")},
         |s AS (SELECT vec_id, embedding,
         |        ${srpSigDynCentered("embedding")} AS sig
         |      FROM embeddings CROSS JOIN pl CROSS JOIN mu)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ROUND(${cos("a.embedding", "b.embedding")}, 6) AS cos_sim
         |FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id < b.vec_id
         |WHERE ${cos("a.embedding", "b.embedding")} >= 0.2""".stripMargin,

    // banded SRP: candidates from ANY of the band joins (band b =
    // family planes [b*r, (b+1)*r)), deduped, then exact-cosine
    // verified on the original vectors — the engine's
    // srpBandedNearDupPairsAuto twin (planes-per-band from COUNT(*)
    // via planesCte; band count from the plane count via bandsCte,
    // the recall-contract law rendered as literals)
    "q263_banded_srp_neardup" ->
      s"""WITH ${planesCte("embeddings")},
         |${muCte("embeddings")},
         |${bandsCte()},
         |bd AS (SELECT unnest(range(0, bands)) AS band FROM bc),
         |s AS (SELECT vec_id, band,
         |        ${srpSigDynCenteredBanded("embedding")} AS sig
         |      FROM embeddings CROSS JOIN pl CROSS JOIN mu CROSS JOIN bd),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM s a JOIN s b ON a.band = b.band AND a.sig = b.sig
         |    AND a.vec_id < b.vec_id)
         |SELECT c.vec_a, c.vec_b,
         |  ROUND(${cos("ea.embedding", "eb.embedding")}, 6) AS cos_sim
         |FROM cand c
         |JOIN embeddings ea ON ea.vec_id = c.vec_a
         |JOIN embeddings eb ON eb.vec_id = c.vec_b
         |WHERE ${cos("ea.embedding", "eb.embedding")} >= 0.2""".stripMargin,

    // mutual-nearest-neighbor mining: per-vector best cross-label
    // partner among BANDED candidates (any-band collision, deduped
    // across bands — the engine's bandedCrossLabelCandidates twin;
    // single-table candidates decayed with n, r10 verdict #1); argmax
    // on ROUNDED cosine with id tiebreak — a total order; plane count
    // from COUNT(*) via planesCte, band count from bandsCte (the
    // recall-contract law as literals), signatures over the
    // MEAN-CENTERED vectors
    "q246_mutual_neighbors" ->
      s"""WITH ${planesCte("embeddings")},
         |${muCte("embeddings")},
         |${bandsCte()},
         |bd AS (SELECT unnest(range(0, bands)) AS band FROM bc),
         |s AS (SELECT vec_id, label, band,
         |        ${srpSigDynCenteredBanded("embedding")} AS sig
         |      FROM embeddings CROSS JOIN pl CROSS JOIN mu CROSS JOIN bd),
         |cd AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
         |  FROM s a JOIN s b ON a.band = b.band AND a.sig = b.sig
         |    AND a.label <> b.label AND a.vec_id < b.vec_id),
         |sc AS (SELECT ia, ib,
         |    ROUND(${cos("ea.embedding", "eb.embedding")}, 6) AS cs
         |  FROM cd JOIN embeddings ea ON ea.vec_id = cd.ia
         |          JOIN embeddings eb ON eb.vec_id = cd.ib),
         |cand AS (SELECT ia AS src, ib AS dst, cs FROM sc
         |  UNION ALL SELECT ib AS src, ia AS dst, cs FROM sc),
         |best AS (SELECT src, dst, cs,
         |    row_number() OVER (PARTITION BY src
         |      ORDER BY cs DESC, dst ASC) AS rn
         |  FROM cand),
         |b1 AS (SELECT LEAST(src, dst) AS vec_a,
         |         GREATEST(src, dst) AS vec_b, cs
         |       FROM best WHERE rn = 1)
         |SELECT vec_a, vec_b, MAX(cs) AS cos_sim
         |FROM b1 GROUP BY vec_a, vec_b HAVING COUNT(*) = 2""".stripMargin,

    // margin mining: same banded candidates as q246 (deduped across
    // bands — one candidate and one neighborhood member per pair),
    // per-src rank-<=k neighborhood average as DECIMAL(18,6) sum of
    // the 6-rounded cosines (order-invariant), margin = cs /
    // ((da + db)/2) in the engine's exact arithmetic order,
    // positive-denominator guard
    "q268_margin_mining" -> {
      val k = graft.queries.VectorQueries.MarginK
      val mm = graft.queries.VectorQueries.MinMargin
      s"""WITH ${planesCte("embeddings")},
         |${muCte("embeddings")},
         |${bandsCte()},
         |bd AS (SELECT unnest(range(0, bands)) AS band FROM bc),
         |s AS (SELECT vec_id, label, band,
         |        ${srpSigDynCenteredBanded("embedding")} AS sig
         |      FROM embeddings CROSS JOIN pl CROSS JOIN mu CROSS JOIN bd),
         |cd AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
         |  FROM s a JOIN s b ON a.band = b.band AND a.sig = b.sig
         |    AND a.label <> b.label AND a.vec_id < b.vec_id),
         |sc AS (SELECT ia, ib,
         |    ROUND(${cos("ea.embedding", "eb.embedding")}, 6) AS cs
         |  FROM cd JOIN embeddings ea ON ea.vec_id = cd.ia
         |          JOIN embeddings eb ON eb.vec_id = cd.ib),
         |cand AS (SELECT ia AS src, ib AS dst, cs FROM sc
         |  UNION ALL SELECT ib AS src, ia AS dst, cs FROM sc),
         |rk AS (SELECT src, cs,
         |    row_number() OVER (PARTITION BY src
         |      ORDER BY cs DESC, dst ASC) AS rn
         |  FROM cand),
         |av AS (SELECT src,
         |    CAST(SUM(CAST(cs AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         |      AS avgc
         |  FROM rk WHERE rn <= $k GROUP BY src)
         |SELECT c.src AS vec_a, c.dst AS vec_b, c.cs AS cos_sim,
         |  ROUND(c.cs / ((da.avgc + db.avgc) / 2), 6) AS margin
         |FROM cand c
         |JOIN av da ON da.src = c.src
         |JOIN av db ON db.src = c.dst
         |WHERE c.src < c.dst AND (da.avgc + db.avgc) / 2 > 0
         |  AND ROUND(c.cs / ((da.avgc + db.avgc) / 2), 6) >= $mm""".stripMargin
    },

    // one Lloyd round from deterministic seeds: same Knuth-remixed seed
    // order (Sampling.sampleHash twin), same cosine assignment with
    // centroid_id tiebreak, same exact-decimal means; seeds with no
    // members pass through unchanged (the empty-list fallback)
    "q60_kmeans_round" -> {
      val h = TextOracles.H("CAST(vec_id AS VARCHAR) || '#7'")
      s"""WITH sh AS (SELECT vec_id, embedding,
         |              ($h * 2654435761 % 1000000007) % 1000000 AS r
         |            FROM embeddings),
         |seeds AS (SELECT embedding,
         |            row_number() OVER (ORDER BY r ASC, vec_id ASC) - 1
         |              AS centroid_id
         |          FROM sh ORDER BY r ASC, vec_id ASC LIMIT 8),
         |scored AS (SELECT v.vec_id, v.embedding, s.centroid_id,
         |             ${cos("v.embedding", "s.embedding")} AS cs
         |           FROM embeddings v CROSS JOIN seeds s),
         |best AS (SELECT vec_id, embedding, centroid_id,
         |           row_number() OVER (PARTITION BY vec_id
         |             ORDER BY ROUND(cs, 6) DESC, centroid_id ASC) AS rn
         |         FROM scored),
         |members AS (SELECT centroid_id, embedding FROM best WHERE rn = 1),
         |dims AS (SELECT centroid_id, embedding AS emb,
         |           unnest(range(1, len(embedding) + 1)) AS i
         |         FROM members),
         |means AS (SELECT centroid_id, i,
         |            CAST(SUM(CAST(ROUND(CAST(emb[i] AS DOUBLE)
         |                               * 1000000000) AS BIGINT)) AS BIGINT)
         |              / (COUNT(*) * 1000000000.0) AS c
         |          FROM dims GROUP BY centroid_id, i)
         |SELECT centroid_id, CAST(i - 1 AS INTEGER) AS pos,
         |  ROUND(c, 6) AS c
         |FROM means
         |UNION ALL
         |SELECT sd.centroid_id, CAST(sd.i - 1 AS INTEGER) AS pos,
         |  ROUND(CAST(sd.emb[sd.i] AS DOUBLE), 6) AS c
         |FROM (SELECT centroid_id, embedding AS emb,
         |        unnest(range(1, len(embedding) + 1)) AS i FROM seeds) sd
         |WHERE sd.centroid_id NOT IN
         |  (SELECT DISTINCT centroid_id FROM members)""".stripMargin
    },

    // PQ-ADC: label-mean codebooks per 32-dim subspace (nano-unit means),
    // L2 encode (rounded argmin, code tiebreak), lookup-table scoring
    "q65_pq_adc" ->
      s"""WITH $PqAdcCtes,
         |r AS (SELECT query_id, neighbor_id, approx,
         |        CAST(row_number() OVER (PARTITION BY query_id
         |          ORDER BY approx DESC, neighbor_id ASC) AS INTEGER) AS rank
         |      FROM sc)
         |SELECT query_id, neighbor_id, rank, ROUND(approx, 6) AS approx_dot
         |FROM r WHERE rank <= ${VectorQueries.TopK}""".stripMargin,

    // two-stage retrieval: the same ADC pipeline shortlists 15, then the
    // float embeddings re-rank the shortlist by exact cosine → top-5
    "q102_pq_rerank" ->
      s"""WITH $PqAdcCtes,
         |short AS (SELECT query_id, neighbor_id FROM
         |            (SELECT query_id, neighbor_id,
         |               row_number() OVER (PARTITION BY query_id
         |                 ORDER BY approx DESC, neighbor_id ASC) AS rn
         |             FROM sc) z WHERE rn <= ${VectorQueries.Shortlist}),
         |ex AS (SELECT s.query_id, s.neighbor_id,
         |         ${cos("q.embedding", "c.embedding")} AS cos
         |       FROM short s
         |         JOIN embeddings q ON q.vec_id = s.query_id
         |         JOIN embeddings c ON c.vec_id = s.neighbor_id),
         |r2 AS (SELECT query_id, neighbor_id, cos,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
         |       FROM ex)
         |SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS cos_sim
         |FROM r2 WHERE rank <= ${VectorQueries.TopK}""".stripMargin,

    // SemDedup: label-centroid assignment (rounded-cosine argmax,
    // centroid_id tiebreak — the q60 convention), then within-cluster
    // greedy keep-lowest-id at cos >= threshold, one pass (a dropped
    // vector can anchor a later drop; chains are not chased)
    "q104_semdedup" ->
      s"""WITH e AS (SELECT label, embedding AS emb,
         |             unnest(range(1, len(embedding) + 1)) AS i
         |           FROM embeddings),
         |cm AS (SELECT label, i,
         |         CAST(SUM(CAST(CAST(emb[i] AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)
         |           / COUNT(*) AS c
         |       FROM e GROUP BY label, i),
         |cent AS (SELECT CAST(label AS BIGINT) AS centroid_id,
         |           list(c ORDER BY i) AS centroid
         |         FROM cm GROUP BY label),
         |scored AS (SELECT v.vec_id, v.embedding, c.centroid_id,
         |             ${cos("v.embedding", "c.centroid")} AS cs
         |           FROM embeddings v CROSS JOIN cent c),
         |asg AS (SELECT vec_id, embedding, centroid_id AS cluster_id FROM
         |          (SELECT vec_id, embedding, centroid_id,
         |             row_number() OVER (PARTITION BY vec_id
         |               ORDER BY ROUND(cs, 6) DESC, centroid_id ASC) AS rn
         |           FROM scored) z WHERE rn = 1),
         |anch AS (SELECT b.vec_id, MIN(a.vec_id) AS anchor_id
         |         FROM asg a JOIN asg b
         |           ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
         |         WHERE ${cos("a.embedding", "b.embedding")}
         |           >= ${VectorQueries.SemDedupMinCos}
         |         GROUP BY b.vec_id)
         |SELECT g.vec_id, g.cluster_id, n.anchor_id,
         |  CAST(CASE WHEN n.anchor_id IS NULL THEN 1 ELSE 0 END
         |    AS INTEGER) AS kept
         |FROM asg g LEFT JOIN anch n ON n.vec_id = g.vec_id""".stripMargin,

    "q34_label_centroids" ->
      s"""WITH e AS (SELECT label, embedding AS emb,
         |             unnest(range(1, len(embedding) + 1)) AS i
         |           FROM embeddings),
         |c AS (SELECT label, i,
         |        CAST(SUM(CAST(CAST(emb[i] AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS c
         |      FROM e GROUP BY label, i),
         |cent AS (SELECT label, list(c ORDER BY i) AS centroid
         |         FROM c GROUP BY label),
         |base AS (SELECT centroid AS bc FROM cent WHERE label = 0)
         |SELECT label, ROUND(${cos("centroid", "bc")}, 6) AS cos_to_label0
         |FROM cent CROSS JOIN base""".stripMargin,

    // int8 scalar quantization: per-dim min/max → affine quantize →
    // dequantize; l2 error folds sequentially in index order (same
    // association as the Spark array fold, so doubles are bit-identical)
    "q113_int8_quant" ->
      """WITH x AS (SELECT vec_id, embedding AS emb,
        |             unnest(range(1, len(embedding) + 1)) AS i
        |           FROM embeddings),
        |xe AS (SELECT vec_id, i, CAST(emb[i] AS DOUBLE) AS v FROM x),
        |st AS (SELECT i, MIN(v) AS mn, MAX(v) AS mx FROM xe GROUP BY i),
        |qq AS (SELECT vec_id, i, v, mn, mx - mn AS rng,
        |         CASE WHEN mx - mn = 0 THEN 0
        |              ELSE CAST(floor((v - mn) / (mx - mn) * 255.0 + 0.5)
        |                     AS BIGINT) - 128 END AS qv
        |       FROM xe JOIN st USING (i)),
        |d AS (SELECT vec_id, i, qv, v,
        |        (CAST(qv AS DOUBLE) + 128.0) / 255.0 * rng + mn AS deq
        |      FROM qq),
        |arr AS (SELECT vec_id,
        |          CAST(SUM(qv) AS BIGINT) AS q_sum,
        |          list((v - deq) * (v - deq) ORDER BY i) AS errs
        |        FROM d GROUP BY vec_id)
        |SELECT vec_id, q_sum,
        |  ROUND(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), errs),
        |    (a, b) -> a + b)), 6) AS l2_err
        |FROM arr""".stripMargin,

    // centroid-distance outliers: per-label centroid (q34 CTE), cosine
    // per vector rounded to DECIMAL(18,6), exact decimal moments per
    // label (q81 pattern), keep rows > 2σ below the label mean
    "q114_centroid_outliers" ->
      s"""WITH e AS (SELECT label, embedding AS emb,
         |             unnest(range(1, len(embedding) + 1)) AS i
         |           FROM embeddings),
         |c AS (SELECT label, i,
         |        CAST(SUM(CAST(CAST(emb[i] AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS c
         |      FROM e GROUP BY label, i),
         |cent AS (SELECT label, list(c ORDER BY i) AS centroid
         |         FROM c GROUP BY label),
         |sc AS (SELECT v.vec_id, v.label,
         |         CAST(ROUND(${cos("v.embedding", "t.centroid")}, 6)
         |           AS DECIMAL(18,6)) AS cosd
         |       FROM embeddings v JOIN cent t ON t.label = v.label),
         |st AS (SELECT label, COUNT(*) AS n, SUM(cosd) AS s,
         |         SUM(cosd * cosd) AS ss
         |       FROM sc GROUP BY label),
         |mo AS (SELECT label, CAST(s AS DOUBLE) / n AS mean,
         |         sqrt((CAST(ss AS DOUBLE)
         |           - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n) AS sd
         |       FROM st)
         |SELECT sc.vec_id, sc.label,
         |  CAST(sc.cosd AS DOUBLE) AS cos_to_centroid,
         |  ROUND((CAST(sc.cosd AS DOUBLE) - mean) / sd, 6) AS z
         |FROM sc JOIN mo ON mo.label = sc.label
         |WHERE CAST(sc.cosd AS DOUBLE) < mean - 2.0 * sd""".stripMargin,

    // MMR greedy re-rank, unrolled: the Spark op's k sequential argmax
    // steps replay as k CTE stages (the q161 unrolled-rounds pattern —
    // recursive CTEs can't re-aggregate per step). rel and pairwise sims
    // are 6-rounded before scoring and λ=½ is dyadic, so each stage's
    // (score DESC, id ASC) pick is engine-identical.
    "q197_mmr_rerank" -> {
      val steps = (2 to 5).map { i =>
        val p = i - 1
        s"""cand$i AS (SELECT sl.* FROM sl WHERE NOT EXISTS
           |    (SELECT 1 FROM a$p WHERE a$p.query_id = sl.query_id
           |       AND a$p.neighbor_id = sl.neighbor_id)),
           |ms$i AS (SELECT ps.query_id, ps.ca AS neighbor_id,
           |    MAX(ps.sim) AS ms
           |  FROM ps JOIN a$p ON a$p.query_id = ps.query_id
           |                  AND a$p.neighbor_id = ps.cb
           |  GROUP BY 1, 2),
           |s$i AS (SELECT cd.query_id, cd.neighbor_id, cd.rel, $i AS step
           |  FROM cand$i cd JOIN ms$i m ON m.query_id = cd.query_id
           |                AND m.neighbor_id = cd.neighbor_id
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY cd.query_id
           |    ORDER BY ROUND(0.5 * cd.rel - 0.5 * m.ms, 9) DESC,
           |             cd.neighbor_id ASC) = 1),
           |a$i AS (SELECT * FROM a$p UNION ALL SELECT * FROM s$i)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings
         |           WHERE vec_id < ${VectorQueries.NumQueryVecs}),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv
         |      FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id, ${cos("qv", "cv")} AS cos
         |           FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
         |r AS (SELECT query_id, neighbor_id, cos,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY cos DESC, neighbor_id ASC) AS rank
         |      FROM scored),
         |sl AS (SELECT query_id, neighbor_id, ROUND(cos, 6) AS rel
         |       FROM r WHERE rank <= 20),
         |sv AS (SELECT sl.query_id, sl.neighbor_id, c.cv
         |       FROM sl JOIN c ON c.neighbor_id = sl.neighbor_id),
         |ps AS (SELECT x.query_id, x.neighbor_id AS ca,
         |         y.neighbor_id AS cb,
         |         ROUND(${cos("x.cv", "y.cv")}, 6) AS sim
         |       FROM sv x JOIN sv y ON x.query_id = y.query_id
         |         AND x.neighbor_id <> y.neighbor_id),
         |a1 AS (SELECT query_id, neighbor_id, rel, 1 AS step FROM sl
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY rel DESC, neighbor_id ASC) = 1),
         |$steps
         |SELECT query_id, neighbor_id, rel, step FROM a5""".stripMargin
    },
  )
}
