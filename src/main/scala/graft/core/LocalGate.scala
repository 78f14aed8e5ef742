package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow

/** The one size gate of the driver-side "local twins" (trainer, BPE, MMR,
  * components, pagerank). Each twin replays its distributed recurrence
  * in memory, bit-equal by construction, and runs it when its input is a
  * sliver: an iterative fixpoint of Spark jobs over a few thousand rows
  * pays rounds × job latency for work one in-memory pass does exactly —
  * the reasoning of `autoBroadcastJoinThreshold`. Each twin keeps its
  * own row budget, because the budgets buy driver memory and the row
  * widths differ (a BPE vocabulary row is an array of strings, a trainer
  * row d+1 doubles).
  *
  * The probe is count-first: one job counts at most `maxRows + 1` rows
  * per partition (a `limit(maxRows + 1).count()` without the limit's
  * single-partition shuffle), and a collect follows only when the total
  * fits, so an over-budget frame puts no rows on the driver. Call it on
  * a persisted or checkpointed frame: the count then materializes the
  * cache the collect (or the distributed path) reads. Both jobs carry
  * the description `local gate: <twin>`.
  *
  * Setting the session conf `graft.localGate.enabled` to `false` routes
  * every twin to its distributed path — the switch the parity specs and
  * scale benches use. */
object LocalGate {

  val EnabledKey = "graft.localGate.enabled"

  /** All rows of `df` when the gate is on and `df` has at most `maxRows`
    * rows; None otherwise. */
  def rows(df: DataFrame, maxRows: Int, twin: String): Option[Array[Row]] = {
    val spark = df.sparkSession
    if (!spark.conf.get(EnabledKey, "true").toBoolean) return None
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"local gate: $twin")
    try {
      val bound = maxRows + 1
      val counts = sc.runJob(df.queryExecution.toRdd,
        (it: Iterator[InternalRow]) => it.take(bound).size.toLong)
      if (counts.sum > maxRows) None else Some(df.collect())
    } finally sc.setJobDescription(prev)
  }
}
