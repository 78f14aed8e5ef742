package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class DenseIdSpec extends SparkSpecBase {

  test("scalable path produces identical ids to the global window") {
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_name"))
    // a single global window: exact, but one single-partition sort
    val viaWindow = cust
      .withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("c_custkey"))))
      .select(col("c_custkey"), col("id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaScalable = DenseId.withDenseIdScalable(
      cust, Seq(col("c_custkey")), "id", numPartitions = 7)
      .select("c_custkey", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaWindow == viaScalable)
  }

  test("ids are dense, unique, and start at 1") {
    import spark.implicits._
    val df = Seq("c", "a", "b").toDF("k")
    val got = DenseId.withDenseIdScalable(df, Seq(col("k")), "id")
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 1L, "b" -> 2L, "c" -> 3L))
  }

  test("scalable path: dense ids in global key order, no cache entries") {
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    val df = (1L to 5000L).map(i => (i * 2654435761L % 100003, i))
      .toDF("k", "v").repartition(11)
    val out = DenseId.withDenseIdScalable(df, Seq(col("k"), col("v")), "id",
      numPartitions = 7)
    // dense AND globally ordered by the key: id rank == key rank. A
    // divergent re-execution of the sampling-based range partitioner
    // between the counts action and the data read would break exactly
    // this (the q06 oracle caught a lazy shared-plan formulation whose
    // ReuseExchange assumption failed inside larger queries)
    val rows = out.select("k", "v", "id")
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(rows.map(_._3).toSeq == (1L to 5000L))
    // zero CacheManager entries: the old persist-based formulation
    // leaked a MEMORY_AND_DISK entry per call for the application
    // lifetime; the localCheckpoint's blocks are ContextCleaner-managed
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("deterministic-bounds multi-bucket path matches the global window") {
    import spark.implicits._
    // sampleMod = 2 forces a real sample at this size, so the bound
    // literals + when-tree + per-bucket offsets are all exercised (the
    // default 1/4096 gate leaves small inputs in the single-bucket path)
    val df = (1L to 5000L).map(i => (i * 2654435761L % 100003, i))
      .toDF("k", "v").repartition(13)
    val got = DenseId.withDenseIdScalable(df, Seq(col("k"), col("v")), "id",
      numPartitions = 8, sampleMod = 2)
      .select("k", "v", "id")
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(got.map(_._3).toSeq == (1L to 5000L))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("sort-order keys: .asc unwraps, desc is rejected") {
    import spark.implicits._
    val df = Seq(("b", 2L), ("a", 1L)).toDF("k", "v")
    val got = DenseId.withDenseIdScalable(
      df, Seq(col("k").asc, col("v").asc), "id")
      .select("k", "id").as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 1L, "b" -> 2L))
    intercept[IllegalArgumentException] {
      DenseId.withDenseIdScalable(df, Seq(col("k").desc), "id",
        sampleMod = 1)
    }
  }
}
