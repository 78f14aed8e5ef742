package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpecBase

class ComponentsSpec extends SparkSpecBase {
  import spark.implicits._

  /** Small graphs take the size-gated driver union-find; `dist` runs
    * the distributed fixpoint (gate off). */
  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
  private def dist(edges: Seq[(Long, Long)]): Map[Long, Long] =
    gateOff(cc(edges))

  test("two separate components get their min ids as labels (both paths)") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    assert(cc(edges) === want)
    assert(dist(edges) === want)
  }

  test("chain case greedy pair-dropping gets wrong: (1,3),(2,3)") {
    // greedy drop-doc_b keeps doc 2 (never a doc_b); CC assigns it to
    // cluster 1 — the whole reason this operator exists
    val got = cc(Seq((1L, 3L), (2L, 3L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("long path converges on the distributed fixpoint") {
    val n = 12L
    val back = (1L until n).map(i => (i + 1, i)) // edges all point "down"
    assert(dist(back) === (1L to n).map(_ -> 1L).toMap)
  }

  test("self-loops and duplicate edges are harmless (both paths)") {
    val edges = Seq((5L, 5L), (5L, 6L), (5L, 6L), (6L, 5L))
    assert(cc(edges) === Map(5L -> 5L, 6L -> 5L))
    assert(dist(edges) === Map(5L -> 5L, 6L -> 5L))
  }

  test("labels are partitioning-invariant (distributed path)") {
    val edges = Seq((1L, 9L), (9L, 4L), (2L, 7L), (7L, 2L), (3L, 8L))
    val base = dist(edges)
    val repart = gateOff(Components.connectedComponents(
        edges.toDF("a", "b").repartition(7, col("b")), "a", "b")
      .as[(Long, Long)].collect().toMap)
    assert(base === repart)
  }

  test("string-keyed edges work through the local path") {
    val got = Components.connectedComponents(
        Seq(("x", "y"), ("y", "z"), ("q", "r")).toDF("a", "b"), "a", "b")
      .as[(String, String)].collect().toMap
    assert(got === Map("x" -> "x", "y" -> "x", "z" -> "x", "q" -> "q",
      "r" -> "q"))
  }

  test("distributed fixpoint equals union-find on randomized graphs") {
    // deterministic LCG so the sweep reproduces; graphs mix isolated
    // pairs, chains, and dense pockets
    var state = 12345L
    def nextInt(bound: Int): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (math.abs(state >> 33) % bound).toInt
    }
    for (trial <- 1 to 5) {
      val n = 20 + trial * 7
      val edges = (1 to n).map(_ => (nextInt(30).toLong, nextInt(30).toLong))
      assert(cc(edges) === dist(edges), s"trial $trial: $edges")
    }
  }

  test("non-convergence within maxIter fails loudly, never under-merges") {
    val path = (1L until 30L).map(i => (i, i + 1))
    val ex = intercept[IllegalArgumentException] {
      gateOff(Components.connectedComponents(path.toDF("a", "b"), "a", "b",
        maxIter = 2))
    }
    assert(ex.getMessage.contains("did not converge"))
  }
}
