package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

/** Scale proof for the DISTRIBUTED PageRank path (the size gate routes
  * sliver graphs to the driver twin; the default graph is over its
  * 2^20-edge budget, so the fixpoint runs):
  * per-round shuffle must stay FLAT (the rank table only — edges are
  * checkpointed once and never reshuffle), and the planted structure
  * must rank correctly (every star hub above its leaves, total mass
  * ≈ the 10^12 scale).
  *
  *   runMain graft.tools.PageRankBench [nStars] [leaves]
  *
  * Graph: `nStars` stars, `leaves` leaves each, edges leaf → hub.
  * Hubs are DANGLING (no out-edges), so the dangling-mass
  * redistribution runs at full scale every round. Defaults 200k × 10
  * → 2M edges, 2.2M nodes. */
object PageRankBench {
  def main(args: Array[String]): Unit = {
    val nStars = args.headOption.map(_.toInt).getOrElse(200000)
    val leaves = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = graft.core.Sessions.local()
    spark.sparkContext.setLogLevel("WARN")

    // star s: hub id = s*(leaves+1), leaves hub+1..hub+leaves, leaf→hub
    val width = leaves + 1
    val edges = spark.range(nStars.toLong)
      .select((col("id") * width).as("hub"),
        explode(sequence(lit(1), lit(leaves))).as("k"))
      .select((col("hub") + col("k")).as("src"), col("hub").as("dst"))

    // shuffle totals per stage, keyed by completion order — the loop's
    // per-round stages show up as a flat-sized tail
    val stageShuffles = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) stageShuffles.add((e.stageInfo.stageId,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten))
      }
    })

    val t0 = System.nanoTime()
    val pr = graft.ops.Graph.pageRankScaled(edges, "src", "dst", iters = 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = pr.count()
    val secs = (System.nanoTime() - t0) / 1e9
    val mass = pr.agg(sum(col("rank_scaled"))).head.getLong(0)
    // every hub outranks every leaf: min hub rank > max leaf rank
    val hubMin = pr.filter(pmod(col("id"), lit(width)) === 0)
      .agg(min(col("rank_scaled"))).head.getLong(0)
    val leafMax = pr.filter(pmod(col("id"), lit(width)) =!= 0)
      .agg(max(col("rank_scaled"))).head.getLong(0)
    def d(v: Double, p: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${p}f", Double.box(v))
    import scala.jdk.CollectionConverters._
    val perStage = stageShuffles.asScala.toSeq.sortBy(_._1)
      .filter { case (_, r, w) => r + w > 0 }
      .map { case (sid, r, w) =>
        s"""{"stage":$sid,"read_mb":${d(r / 1e6, 1)},"write_mb":${d(w / 1e6, 1)}}""" }
    println(
      s"""{"pagerank_bench": {"nodes": $n, "edges": ${nStars.toLong * leaves}, """ +
        s""""iters": 8, "secs": ${d(secs, 1)}, "mass": $mass, """ +
        s""""hub_min": $hubMin, "leaf_max": $leafMax, """ +
        s""""shuffle_stages": [${perStage.mkString(",")}]}}""")
    assert(n == nStars.toLong * width, s"node count $n")
    assert(hubMin > leafMax,
      s"planted ranking violated: hubMin $hubMin <= leafMax $leafMax")
    // each round floors three integer divisions (contrib, dangling
    // share, the /100 damping) — worst-case ~1 unit per node per floor
    // per round; measured drift is ~4.3/node over 8 rounds
    assert(math.abs(mass - 1000000000000L) < n * (8L + 2L) * 3L,
      s"mass $mass drifted beyond the integer-floor budget")
    spark.stop()
  }
}
