package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-analysis over derived graphs (the verified near-dup pair graph,
  * citation-ish provenance edges). Complements [[Components]]: components
  * answer "which docs form one duplicate family", PageRank answers "which
  * node is the hub" — e.g. the canonical source a whole family of copies
  * points at, a useful curation signal when choosing cluster
  * representatives.
  *
  * Arithmetic is SCALED-INTEGER throughout (ranks are BIGINTs holding
  * rank·10^12, divisions are integer divisions): float summation order
  * never touches a result, so the fixpoint is bit-deterministic under any
  * partitioning and exactly reproducible by a serial oracle — the same
  * trick the TF-IDF and LM scorers use. At 10^12 scale the quantization
  * error per iteration is ~1e-12 per node, far below anything a ranking
  * consumer can observe. */
object Graph {

  /** Rank fixed-point scale: rank_scaled = pagerank · 10^12. */
  val Scale = 1000000000000L

  /** Edge budget of the driver twin. */
  private val LocalEdges = 1 << 20

  /** Driver-side twin of the distributed fixpoint — IDENTICAL integer
    * recurrence per round (contrib = rank div outdeg summed per target,
    * dangling_share = danglingSum div n, rank' = (15·base + 85·(in +
    * share)) div 100), so the two paths are bit-equal and the size gate
    * is invisible to callers. Edge list is already distinct and
    * null-free when called. */
  private def localPageRank(e: DataFrame,
                            rows: Array[org.apache.spark.sql.Row],
                            iters: Int): DataFrame = {
    val spark = e.sparkSession
    val idType = e.schema("src").dataType
    require(idType == e.schema("dst").dataType,
      s"endpoint types must match, got $idType vs ${e.schema("dst").dataType}")
    val edges = rows.map(r => (r.get(0), r.get(1)))
    val nodes: Array[Any] =
      (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.length.toLong
    require(n > 0, "pageRankScaled: empty graph")
    val base = Scale / n
    val outdeg = scala.collection.mutable.HashMap.empty[Any, Long]
    edges.foreach { case (s, _) => outdeg(s) = outdeg.getOrElse(s, 0L) + 1 }
    var ranks = scala.collection.mutable.HashMap[Any, Long](
      nodes.map(_ -> base): _*)
    for (_ <- 1 to iters) {
      val danglingSum = nodes.iterator
        .filter(id => !outdeg.contains(id)).map(ranks).sum
      val share = danglingSum / n
      val in = scala.collection.mutable.HashMap.empty[Any, Long]
      edges.foreach { case (s, d) =>
        in(d) = in.getOrElse(d, 0L) + ranks(s) / outdeg(s)
      }
      ranks = scala.collection.mutable.HashMap(nodes.map(id =>
        id -> (15L * base + 85L * (in.getOrElse(id, 0L) + share)) / 100L)
        : _*)
    }
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("id", idType),
      StructField("rank_scaled", LongType)))
    spark.createDataFrame(
      java.util.Arrays.asList(nodes.map(id =>
        org.apache.spark.sql.Row(id, ranks(id))): _*),
      schema)
  }

  /** Damped PageRank with uniform dangling-mass redistribution on the
    * DIRECTED graph `edges` (`srcCol` → `dstCol`), run for a fixed
    * `iters` rounds (fixed-round, not convergence-tested: deterministic
    * cost and a deterministic answer — convergence at damping 0.85 is
    * geometric, so 8 rounds ≈ 1e-6 residual, plenty for ranking).
    *
    * Per round, per node: rank' = (15·base + 85·(Σ in-contribs +
    * dangling_share)) / 100, all in scaled-integer math where
    * base = S/N, contrib = rank/outdeg, dangling_share = (Σ dangling
    * ranks)/N, S = 10^12.
    *
    * Scale shape: edges + out-degrees are computed once, persisted, and
    * pre-partitioned by src; every round shuffles ONLY the (node, rank)
    * table — the [[Components]] fixpoint discipline. The dangling sum is
    * a one-row aggregate broadcast back via a cross join, so it never
    * forces a driver round-trip inside the loop. N (node count) is one
    * driver-side count before the loop. Returns (id, rank_scaled),
    * rank_scaled ≈ pagerank·10^12, Σ ranks ≈ 10^12. */
  def pageRankScaled(edges: DataFrame, srcCol: String, dstCol: String,
                     iters: Int = 8): DataFrame = {
    // the loop's two standing inputs go through eager localCheckpoint,
    // not persist: a persisted frame KEEPS its logical plan, and when
    // the edge list is itself the output of a heavy derivation (the
    // LSH-verify cascade in q161), every one of the 8 rounds would
    // re-analyze/re-optimize that whole tree per job — measured 47 s
    // for a 250-edge graph, ~2 s after truncation. Checkpointing cuts
    // the lineage to the materialized blocks once, up front.
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint(true)
    // a graph of at most 2^20 edges runs the driver twin behind
    // [[graft.core.LocalGate]]: the IDENTICAL scaled-integer recurrence
    val local = graft.core.LocalGate.rows(e, LocalEdges, "pagerank")
    if (local.nonEmpty)
      return localPageRank(e, local.get, iters)
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
    val outDeg = e.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("outdeg"))
    // (id, outdeg) for every node; dangling nodes carry outdeg 0. The
    // loop joins ranks to this frame each round.
    val deg = nodes.join(outDeg, Seq("id"), "left")
      .select(col("id"), coalesce(col("outdeg"), lit(0L)).as("outdeg"))
      .localCheckpoint(true)
    val n = deg.count()
    require(n > 0, "pageRankScaled: empty graph")
    val base = Scale / n

    // each round goes through EAGER localCheckpoint, not persist: a
    // persisted frame still carries its full LOGICAL plan, and this
    // loop's round-k plan embeds round-(k−1)'s several times (rank join,
    // dangling branch, contribution branch) — exponential plan growth
    // that OOMs the driver stringifying it long before any data moves.
    // Checkpointing truncates lineage to the materialized blocks (the
    // [[Components]] fixpoint discipline; blocks are GC-managed).
    var ranks = deg.select(col("id"), lit(base).as("rank_scaled"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val withDeg = ranks.join(deg, "id")
      // one-row dangling aggregate, broadcast back in-plan
      val dangling = withDeg.filter(col("outdeg") === 0L)
        .agg(coalesce(sum(col("rank_scaled")), lit(0L)).as("dangling_sum"))
      // `div` (not `/`): Spark's `/` on longs is DOUBLE division; the
      // fixpoint must stay in exact integer arithmetic end to end
      val contribs = withDeg.filter(col("outdeg") > 0L)
        .join(e, withDeg("id") === e("src"))
        .select(col("dst").as("id"),
          expr("rank_scaled div outdeg").as("contrib"))
        .groupBy(col("id")).agg(sum(col("contrib")).as("in_sum"))
      val next = deg.select(col("id"))
        .join(contribs, Seq("id"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("id"),
          // the L suffixes matter: a base that happens to fit int32
          // (e.g. S/475) would otherwise parse as INT and `15 * base`
          // overflows under ANSI — found at sf0.1, invisible at sf0.01
          expr(s"(15L * ${base}L + 85L * (coalesce(in_sum, 0L) + " +
            s"(dangling_sum div ${n}L))) div 100L").as("rank_scaled"))
      ranks = next.localCheckpoint(true)
    }
    // checkpoint blocks (e, deg, per-round ranks) are freed by the
    // ContextCleaner once the frames are unreachable — no explicit
    // unpersist exists for localCheckpoint, and the frames are tiny
    // (ids + longs, never payloads)
    ranks.select(col("id"), col("rank_scaled"))
  }

  /** Local clustering coefficient per node over an undirected edge list
    * (edges as aCol < bCol, distinct): cc = 2·T / (d·(d−1)) where T =
    * triangles through the node — "how clique-like is this node's
    * duplicate neighborhood", the per-node refinement of the q141
    * transitivity readout (cc 1 = clean clique cluster, cc → 0 = chain
    * / hub, a different dedup-resolution decision). Triangles enumerate
    * once via the a<b<c ordered triple join on the edge sliver (the
    * same shape q141 plans), then each triangle credits its 3 corners
    * through one explode — edge-domain work throughout; degrees come
    * from one count over the symmetrized list. The only float op is
    * the final ratio (exact integers in, identical on any engine).
    * Output: (node, degree, n_tri, cc); degree-1 nodes report cc 0. */
  def clusteringCoefficient(edges: DataFrame, aCol: String,
                            bCol: String): DataFrame = {
    val e = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val tri = e.as("ab")
      .join(e.as("bc"), col("bc.a") === col("ab.b"))
      .join(e.as("ac"), col("ac.a") === col("ab.a") &&
        col("ac.b") === col("bc.b"))
      .select(col("ab.a").as("v1"), col("ab.b").as("v2"),
        col("bc.b").as("v3"))
    val triPerNode = tri
      .select(explode(array(col("v1"), col("v2"), col("v3"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
            (col("degree") * (col("degree") - 1)).cast("double"), 6))
          .otherwise(lit(0.0)).as("cc"))
  }
}
