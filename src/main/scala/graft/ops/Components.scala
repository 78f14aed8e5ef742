package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** Distributed connected components over an edge list — the missing last
  * step of a near-duplicate pipeline. MinHash-LSH + verify emits PAIRS;
  * correct corpus dedup needs transitive CLUSTERS (keep one doc per
  * component, not "drop the larger id of each pair": for pairs (1,3),(2,3)
  * the greedy policy keeps doc 2, though it sits in cluster {1,2,3}).
  *
  * Algorithm: iterative min-label propagation. `labels(id) := min(labels(id),
  * min over neighbors of labels(nbr))` per round until a fixpoint — each
  * round is ONE shuffle (union + hash re-aggregation on id), map-side
  * combinable, and converges in O(graph diameter) rounds. Near-dup graphs
  * at corpus scale are forests of near-cliques (LSH buckets make duplicate
  * clusters mutually adjacent), so the diameter is tiny and label
  * propagation beats the O(log n)-round star-contraction algorithms on
  * constant factors; for adversarial long-path graphs raise `maxIter`.
  * Every round materializes through `localCheckpoint` — the plan of round
  * k references round k−1 TWICE (own label ∪ neighbor labels), so without
  * lineage truncation the logical plan doubles per round and explain/
  * codegen alone OOMs after ~10 rounds. Local (executor-resident)
  * checkpointing is right here: rounds are short-lived, and on executor
  * loss recomputing the round from the previous checkpoint is cheap. On a
  * long-running cluster job, set a reliable `spark.checkpoint.dir` and
  * swap `localCheckpoint` for `checkpoint` if executor churn is expected.
  * Superseded round RDDs are released by Spark's ContextCleaner once
  * unreferenced.
  *
  * The reference has no graph surface (SURVEY.md §2 — flat relational
  * only); this operator belongs to the training-data mandate, where
  * cluster-exact dedup is what a 100 TB corpus actually requires.
  */
object Components {

  /** Edge budget of the driver-side union-find. */
  private val LocalEdges = 1 << 20

  /** Connected components of the undirected graph given by `edges`
    * (`srcCol`, `dstCol`; direction ignored, self-loops and duplicate
    * edges harmless; an edge with a NULL endpoint is dropped entirely —
    * a null identifies no node). Node ids must be integral or string
    * and both endpoint columns must share one type (checked up front,
    * identically on both size-gated paths). Returns one row per
    * distinct node:
    * (`id`, `component`) where `component` is the smallest node id
    * reachable from `id` — a canonical, deterministic cluster label.
    * An edge set of at most 2^20 edges is labelled by the driver-side
    * union-find behind [[graft.core.LocalGate]]: a verified near-dup
    * pair set is a sliver of any corpus.
    *
    * @param maxIter hard cap on propagation rounds (diameter bound);
    *                throws if the fixpoint is not reached so a silent
    *                under-merge can never ship. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 25): DataFrame = {
    // schema validation up front, IDENTICAL for both size-gated paths —
    // without it the same frame would succeed or throw depending only on
    // row count (the local path's ordering needs these types; the
    // distributed path would silently accept e.g. doubles)
    {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
        ShortType, StringType}
      val allowed: Set[org.apache.spark.sql.types.DataType] =
        Set(ByteType, ShortType, IntegerType, LongType, StringType)
      val Seq(st, dt) =
        edges.select(col(srcCol), col(dstCol)).schema.map(_.dataType)
      require(allowed.contains(st) && st == dt,
        s"connectedComponents needs integral or string node ids with " +
          s"matching endpoint types, got $srcCol: $st, $dstCol: $dt")
    }
    // null-endpoint edges identify nothing — dropped at the scan (a
    // plain filter, no extra pass); without this the local path NPEs in
    // the ordering while the distributed path emits a (null, null) row
    val e = edges.select(col(srcCol).as("s"), col(dstCol).as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull)
    // symmetrize once. Partition count adapts to the edge count: the
    // per-round fixed cost is tasks × rounds, so a small pair graph (the
    // common case — verified near-dup pairs are a sliver of any corpus)
    // iterates in single-task rounds, while a huge one keeps full
    // parallelism. Pre-partitioned by the join side and persisted, so
    // each round shuffles only the label table, never the edges.
    // persisted BEFORE the size gate: its probe and the path taken after
    // it both consume this plan, and the upstream edge derivation (e.g. a
    // whole LSH-verify cascade) must run once, not twice. The gate sees
    // RAW edges — no symmetrize/distinct shuffle spent before knowing
    // which path runs; union-find is insensitive to direction,
    // duplicates, and self-loops, so the local path takes the raw list.
    val ep = e.persist(MEMORY_AND_DISK)
    val local = graft.core.LocalGate.rows(ep, LocalEdges, "components")
    if (local.nonEmpty) {
      ep.unpersist()
      return unionFindLocal(e, local.get)
    }
    val sc = e.sparkSession.sparkContext
    val nPart = math.max(1, math.min((ep.count() * 2 / 500000L).toInt,
      sc.defaultParallelism * 4))
    val und = ep
      .unionByName(ep.select(col("d").as("s"), col("s").as("d")))
      .distinct()
      .repartition(nPart, col("s")).persist(MEMORY_AND_DISK)
    und.count()
    ep.unpersist()
    var labels = und.select(col("s").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // neighbor labels flow along edges; min with the node's own label.
      // One wide union → hash min-agg: a single shuffle per round. The
      // node's own previous label rides along (min over flagged rows), so
      // convergence detection is a filter on the round's output — no
      // extra join.
      val viaEdges = und
        .join(labels.withColumnRenamed("id", "s"), "s")
        .select(col("d").as("id"), col("component"),
          lit(null: String).as("own"))
      val next = labels
        .select(col("id"), col("component"), lit("y").as("own"))
        .unionByName(viaEdges)
        .groupBy("id")
        .agg(min("component").as("component"),
          min(when(col("own").isNotNull, col("component"))).as("prev"))
        .localCheckpoint(true)
      // labels only ever decrease, so "any change" = "any strict decrease"
      converged = next.filter(col("component") < col("prev")).count() == 0
      labels = next.select(col("id"), col("component"))
      iter += 1
    }
    und.unpersist()
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — " +
        "graph diameter exceeds the bound; raise maxIter")
    labels
  }

  /** Exact driver-side union-find (path compression + arbitrary union)
    * over the collected edge `rows` of `e`. Same output contract as the
    * distributed fixpoint: (id, component = min member). */
  private def unionFindLocal(e: DataFrame,
                             rows: Array[org.apache.spark.sql.Row])
      : DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val spark = e.sparkSession
    // type + null validation already happened in connectedComponents,
    // identically for both paths
    val dt = e.schema.head.dataType
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    rows.foreach { row =>
      val (a, b) = (row.get(0), row.get(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    implicit val ord: Ordering[Any] = dt match {
      case StringType =>
        // unsigned UTF-8 byte order, matching Spark's min()/DuckDB's
        // MIN() on strings — java's natural String order compares UTF-16
        // code units, which disagrees for supplementary characters
        // (surrogate pairs sort before U+E000..U+FFFF there), and the
        // local path must label clusters identically to the distributed
        // one
        new Ordering[Any] {
          def compare(a: Any, b: Any): Int = {
            val (x, y) = (
              a.asInstanceOf[String].getBytes(
                java.nio.charset.StandardCharsets.UTF_8),
              b.asInstanceOf[String].getBytes(
                java.nio.charset.StandardCharsets.UTF_8))
            var i = 0
            while (i < x.length && i < y.length) {
              val c = (x(i) & 0xff) - (y(i) & 0xff)
              if (c != 0) return c
              i += 1
            }
            x.length - y.length
          }
        }
      case _ => Ordering.Long.on[Any](_.asInstanceOf[Number].longValue())
    }
    val out = parent.keys.toSeq.groupBy(find).toSeq.flatMap {
      case (_, members) =>
        val m = members.min
        members.map(v => Row(v, m))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1),
      StructType(Seq(StructField("id", dt), StructField("component", dt))))
  }
}
