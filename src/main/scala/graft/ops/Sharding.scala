package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus shuffling + shard assignment — the last step of
  * training-data assembly: the curated corpus must reach the trainer in a
  * pseudorandom order that is (a) decorrelated from ingest order (a
  * source-sorted corpus trains on one domain for hours), (b) reproducible
  * bit-for-bit across reruns/retries/partitionings, and (c) addressable
  * ("shard 1737 of 8192, position 52") so a crashed training job can
  * resume mid-epoch.
  *
  * `orderBy(rand())` fails (b): Spark's rand() is per-partition-seeded, so
  * the order changes with partitioning and task retries. The shuffle key
  * here is the [[Sampling.sampleHash]] family instead — a pure function of
  * (row key, seed), uniform after the multiplicative remix, with an exact
  * DuckDB twin so the full assignment is oracle-checkable.
  */
object Sharding {

  /** Assign every row a shard (`pmod(key hash, nShards)`) and a position
    * within the shard (rank by the same hash). One exchange on the shard
    * id + a shard-local sort — exactly the repartition+sortWithinPartitions
    * a shard writer performs anyway; the Window's state is one row (rank
    * counter), never the shard.
    *
    * 100 TB: pick nShards so one shard ≈ one output file (10k shards of
    * ~10 GB), far above core count, so the hash exchange balances and each
    * sort is partition-group-sized, spilling at worst. Hash ties (the
    * ~1e-9 birthday band at 1e9 rows/shard) break by key, so positions
    * stay deterministic.
    *
    * Output: input columns + `shard` (int) + `pos` (long, 0-based dense
    * within shard, hash order). */
  def shuffleShard(df: DataFrame, keyCol: Column, nShards: Int,
                   seed: Long): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val rk = (TextOps.polyHash(
      concat(keyCol.cast("string"), lit("#" + seed)))
      * Sampling.Mixer) % TextOps.HashMod
    df.withColumn("__rk", rk)
      .withColumn("shard", pmod(col("__rk"), lit(nShards.toLong)).cast("int"))
      .withColumn("pos",
        (row_number().over(Window.partitionBy(col("shard"))
          .orderBy(col("__rk"), keyCol)) - 1).cast("long"))
      .drop("__rk")
  }

  /** RESIZE-STABLE bucket assignment via the native `jump_hash`
    * expression ([[graft.functions.JumpHash]]): growing n → n+1 moves
    * exactly ~1/(n+1) of keys, all into the new bucket.
    *
    * Complements [[shuffleShard]], which deliberately uses `pmod` —
    * right when shards are write-once files rebuilt as a set (training
    * shards), because mod is cheaper and a rebuild reshards everything
    * anyway. Use THIS for standing ownership that outlives resizes:
    * cache/index partitions (IVF list homes), per-bucket streaming
    * state, compaction targets — anywhere "add one shard" must not
    * rewrite the other n. Key must already be well-spread OR unique
    * (the internal LCG remixes every iteration, so sequential ids are
    * fine). */
  def consistentShard(keyCol: Column, nShards: Int): Column = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    call_function("jump_hash", keyCol.cast("long"), lit(nShards))
  }

  /** Zone map of a sharded table: per (shard, stat) min/max/row/null
    * counts over caller-supplied LONG-valued stat expressions (epoch
    * micros for timestamps, the raw value for integer keys) — the
    * file-level skipping index every 100 TB scan depends on: a reader
    * with a predicate `lo ≤ x ≤ hi` opens only shards whose [min, max]
    * intersects it. Long format so the map is one narrow table per
    * layout, and the whole thing is shard-domain-sized (thousands of
    * rows for a 100 TB table — it BROADCASTS to the planner).
    *
    * One hash aggregation computes every stat's extremes in a single
    * pass (wide agg), melted to long format after — the melt touches
    * shard-count rows, not data. What zone maps REWARD is the layout:
    * hash-sharding scatters every value range across all shards (zero
    * pruning); clustering by the predicate column (or a Z-order key
    * over several, q149) makes ranges per-shard tight. q243 measures
    * exactly that delta on the same rows. */
  def zoneMap(df: DataFrame, shardCol: Column,
              stats: Seq[(String, Column)]): DataFrame = {
    require(stats.nonEmpty, "zoneMap needs at least one stat column")
    val aggs = stats.flatMap { case (n, c) =>
      Seq(min(c.cast("long")).as(s"__lo_$n"),
        max(c.cast("long")).as(s"__hi_$n"),
        count(c).as(s"__nn_$n"))
    } :+ count(lit(1)).as("__rows")
    val wide = df.groupBy(shardCol.as("shard"))
      .agg(aggs.head, aggs.tail: _*)
    wide.select(col("shard"),
      explode(array(stats.map { case (n, _) =>
        struct(lit(n).as("stat"), col(s"__lo_$n").as("lo"),
          col(s"__hi_$n").as("hi"),
          (col("__rows") - col(s"__nn_$n")).cast("long").as("n_null"))
      }: _*)).as("s"), col("__rows").as("n_rows"))
      .select(col("shard"), col("s.stat").as("stat"), col("s.lo").as("lo"),
        col("s.hi").as("hi"), col("n_rows"), col("s.n_null").as("n_null"))
  }

  /** Prunability readout of a [[zoneMap]] under a range predicate
    * `lo ≤ stat ≤ hi`: per layout label, how many shards exist and how
    * many a zone-map-aware reader SKIPS (max < lo or min > hi; a shard
    * whose stat is all-null has NULL bounds and cannot be pruned by a
    * value predicate — counted unprunable). Runs on the shard-domain
    * zone map, so cost is nil; the answer is the fraction of a 100 TB
    * scan the layout saves before any I/O happens. */
  def prunedShards(zoneMap: DataFrame, stat: String, lo: Long, hi: Long,
                   layout: String): DataFrame =
    zoneMap.filter(col("stat") === stat)
      .agg(lit(layout).as("layout"),
        count(lit(1)).as("n_shards"),
        count(when(col("hi") < lo || col("lo") > hi, lit(1)))
          .as("pruned"))
      .select(col("layout"), col("n_shards"), col("pruned"),
        round(col("pruned").cast("double") /
          col("n_shards").cast("double"), 4).as("pruned_frac"))
}
