package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class ShardingSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  test("shuffleShard covers every row once, positions dense from 0") {
    val a = Sharding.shuffleShard(docs, col("doc_id"), nShards = 8,
      seed = 7).cache()
    assert(a.count() == docs.count())
    assert(a.select("doc_id").distinct().count() == docs.count())
    // per shard: pos is exactly 0..n-1
    val bad = a.groupBy($"shard")
      .agg(count(lit(1)).as("n"), min($"pos").as("lo"), max($"pos").as("hi"))
      .filter($"lo" =!= 0 || $"hi" =!= $"n" - 1)
    assert(bad.count() == 0)
    a.unpersist()
  }

  test("assignment is a pure function of (key, seed): partitioning-" +
    "invariant, seed-sensitive, decorrelated from input order") {
    val k = (d: org.apache.spark.sql.DataFrame) =>
      Sharding.shuffleShard(d, col("doc_id"), 8, seed = 7)
        .select("doc_id", "shard", "pos")
        .as[(Long, Int, Long)].collect().toSet
    val base = k(docs)
    assert(k(docs.repartition(13, $"lang")) == base)
    assert(k(docs.orderBy($"n_chars".desc)) == base)
    val other = Sharding.shuffleShard(docs, col("doc_id"), 8, seed = 8)
      .select("doc_id", "shard", "pos")
      .as[(Long, Int, Long)].collect().toSet
    assert(other != base)
    // shuffled: within-shard neighbor positions are not ingest neighbors
    val pairs = Sharding.shuffleShard(docs, col("doc_id"), 1, seed = 7)
      .select("doc_id", "pos").as[(Long, Long)].collect().sortBy(_._2)
    val adjacentIngest = pairs.sliding(2).count {
      case Array((a, _), (b, _)) => math.abs(a - b) == 1
      case _                     => false
    }
    // 2500 docs: a random order has ~2 adjacent-id neighbor pairs
    assert(adjacentIngest < pairs.length / 20, s"got $adjacentIngest")
  }

  test("shards balance within birthday noise") {
    val sizes = Sharding.shuffleShard(docs, col("doc_id"), 8, seed = 3)
      .groupBy($"shard").count().select("count").as[Long].collect()
    assert(sizes.length == 8)
    val n = sizes.sum.toDouble
    // uniform hash: each shard within 4 sigma of n/8
    val sigma = math.sqrt(n * (1.0 / 8) * (7.0 / 8))
    sizes.foreach(s => assert(math.abs(s - n / 8) < 4 * sigma + 1,
      s"shard size $s vs ${n / 8}"))
  }

  // --- consistent (jump) hashing ----------------------------------------

  /** Reference port of the paper's C++ (unsigned 64-bit LCG; Java's
    * wrapping long ops are bit-identical). */
  private def refJump(key: Long, n: Int): Int = {
    var k = key; var b = -1L; var j = 0L
    while (j < n) {
      b = j
      k = k * 2862933555777941757L + 1
      j = ((b + 1) * (2147483648.0 / ((k >>> 33) + 1).toDouble)).toLong
    }
    b.toInt
  }

  test("consistentShard matches the reference jump-hash on awkward keys") {
    import spark.implicits._
    val keys = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue, 42L,
      1234567890123L) ++ (0 until 100).map(i => i * 2654435761L)
    for (n <- Seq(1, 2, 64, 65, 1000)) {
      val got = keys.toDF("k")
        .select(col("k"), Sharding.consistentShard(col("k"), n).as("s"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      for (k <- keys)
        assert(got(k) == refJump(k, n), s"key $k n $n")
    }
  }

  test("resize n -> n+1 moves ~1/(n+1) of keys, all into the new bucket") {
    import spark.implicits._
    val df = (0L until 10000L).toDF("k")
      .select(Sharding.consistentShard(col("k"), 64).as("a"),
        Sharding.consistentShard(col("k"), 65).as("b"))
    val moved = df.filter(col("a") =!= col("b"))
    // the paper's contract: every moved key lands in the NEW bucket
    assert(moved.filter(col("b") =!= 64).count() == 0)
    // and the moved fraction is the expected 1/65 (±40% slack)
    val frac = moved.count().toDouble / 10000
    assert(frac > 0.6 / 65 && frac < 1.4 / 65, s"moved frac $frac")
    // stability floor: nothing else changed
    assert(df.filter(col("a") === col("b")).count() == 10000 - moved.count())
  }

  test("consistentShard distributes evenly over buckets") {
    import spark.implicits._
    val counts = (0L until 64000L).toDF("k")
      .groupBy(Sharding.consistentShard(col("k"), 64).as("s"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.keySet == (0 until 64).toSet)
    // 1000 expected per bucket; all within ±15%
    counts.values.foreach(n => assert(n > 850 && n < 1150, counts.toString))
  }

  test("jump_hash is SQL-callable, codegen'd, and rejects bad widths") {
    import spark.implicits._
    Seq(7L).toDF("k").createOrReplaceTempView("jump_spec")
    assert(spark.sql("SELECT jump_hash(k, 64) AS s FROM jump_spec")
      .head().getInt(0) == refJump(7L, 64))
    val plan = spark.read.parquet(s"$sf/documents.parquet")
      .select(Sharding.consistentShard(col("doc_id"), 64))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)") && plan.contains("jump_hash"), plan)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT jump_hash(k, 0) FROM jump_spec").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT jump_hash(k, k) FROM jump_spec").collect()
    }
  }
}
