package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpecBase

/** [[graft.ops.Graph.pageRankScaled]] — scaled-integer PageRank. */
class GraphSpec extends SparkSpecBase {

  test("pageRankScaled: star graph concentrates rank on the hub") {
    val s = spark
    import s.implicits._
    // 4 leaves all pointing at node 0 (leaves are dangling targets'
    // sources; node 0 is dangling — no out-edges)
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L))
      .toDF("src", "dst")
    val pr = Graph.pageRankScaled(edges, "src", "dst", iters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr.keySet === Set(0L, 1L, 2L, 3L, 4L))
    // hub outranks every leaf decisively
    assert(pr(0L) > 2L * pr(1L))
    // leaves are symmetric — identical ranks
    assert(Set(pr(1L), pr(2L), pr(3L), pr(4L)).size === 1)
    // total mass stays ≈ S (integer floors only lose ulps)
    val total = pr.values.sum
    assert(total > 990000000000L && total <= 1000000000000L)
  }

  test("pageRankScaled: cycle graph is uniform") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val pr = Graph.pageRankScaled(edges, "src", "dst", iters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // perfect symmetry: every node identical, each ≈ S/3
    assert(Set(pr(1L), pr(2L), pr(3L)).size === 1)
    assert(math.abs(pr(1L) - 333333333333L) < 1000L)
  }

  test("pageRankScaled: result is independent of input partitioning") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 2L), (4L, 2L), (0L, 4L))
      .toDF("src", "dst")
    val a = Graph.pageRankScaled(edges, "src", "dst", iters = 6)
      .orderBy("id").collect().toSeq
    val b = Graph.pageRankScaled(edges.repartition(7), "src", "dst",
      iters = 6).orderBy("id").collect().toSeq
    assert(a === b)
  }
}
