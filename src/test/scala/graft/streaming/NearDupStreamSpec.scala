package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpecBase
import graft.ops.{NearDup, NearDupReference}

class NearDupStreamSpec extends SparkSpecBase {

  private def ts(s: String) = Timestamp.valueOf(s)

  // 30 tokens with one changed at the end → J = 27/29 ≈ 0.93, so the
  // 4×4 LSH collides with probability ≈ 0.997 (a 10-token J=0.6 pair
  // would be a coin flip — the operator is probabilistic by design)
  private val orig = (0 until 30).map(i => f"w$i%05x").mkString(" ")
  private val near =
    ((0 until 29).map(i => f"w$i%05x") :+ "changed").mkString(" ")
  private val other = "completely different content about spark shuffle joins"

  test("per-row signature is bit-identical to the batch minhash aggregate") {
    import spark.implicits._
    val docs = Seq((1L, orig), (2L, near), (3L, other), (4L, "ab"))
      .toDF("doc_id", "text")
    val perRow = docs
      .select(col("doc_id"),
        posexplode(NearDup.signatureColumn(col("text"), 3, 16)))
      .select(col("doc_id"), col("pos").as("i"), col("col").as("mh"))
    val batch = NearDupReference.minhashRows(
      NearDup.shingleRows(docs, "doc_id", "text", 3), "doc_id", 16)
    assert(perRow.except(batch).count() == 0)
    assert(batch.except(perRow).count() == 0)
    assert(batch.count() == 4 * 16)
  }

  test("streaming candidates: near-dups surface across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val sdf = mem.toDF.toDF("doc_id", "ts", "text")
    val q = NearDupStream.candidates(sdf, minEstJaccard = 0.5)
      .writeStream.format("memory").queryName("neardup_sink")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: the original + an unrelated doc
      mem.addData((1L, ts("2024-01-01 10:00:00"), orig),
        (3L, ts("2024-01-01 10:00:10"), other))
      q.processAllAvailable()
      // batch 2: a near-dup and an exact dup of doc 1, one more unrelated
      mem.addData((2L, ts("2024-01-01 10:05:00"), near),
        (4L, ts("2024-01-01 10:05:10"), orig),
        (5L, ts("2024-01-01 10:05:20"), "unrelated text about engines"))
      q.processAllAvailable()
      val got = spark.table("neardup_sink")
        .groupBy("doc_a", "doc_b").agg(max("est_jaccard").as("est"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // exact dup: full signature agreement
      assert(got((1L, 4L)) == 1.0)
      // near-dup found ACROSS batches with high estimate
      assert(got.contains((1L, 2L)) && got((1L, 2L)) >= 0.5, s"$got")
      // near-dup pair (2,4) also legal (4 repeats orig); nothing else
      val allowed = Set((1L, 2L), (1L, 4L), (2L, 4L))
      assert(got.keySet.subsetOf(allowed), s"$got")
      assert(!got.keySet.exists(p => p._1 == 3L || p._2 == 3L ||
        p._1 == 5L || p._2 == 5L))
    } finally q.stop()
  }

  test("bucket state caps at maxBucketDocs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val sdf = mem.toDF.toDF("doc_id", "ts", "text")
    // cap 2: after docs 1,2,3 (identical) arrive one batch apart, the
    // bucket holds the 2 newest; doc 4 pairs with exactly 2 of them
    val q = NearDupStream.candidates(sdf, minEstJaccard = 0.9,
        maxBucketDocs = 2)
      .writeStream.format("memory").queryName("neardup_cap_sink")
      .outputMode(OutputMode.Append).start()
    try {
      for (i <- 1 to 3) {
        mem.addData((i.toLong, ts(s"2024-01-01 10:0$i:00"), orig))
        q.processAllAvailable()
      }
      mem.addData((4L, ts("2024-01-01 10:09:00"), orig))
      q.processAllAvailable()
      val with4 = spark.table("neardup_cap_sink")
        .filter(col("doc_b") === 4L)
        .select("doc_a").distinct().as[Long].collect().toSet
      assert(with4 == Set(2L, 3L), s"$with4") // doc 1 evicted by the cap
    } finally q.stop()
  }

  test("redelivered doc_id occupies one state slot and emits once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val sdf = mem.toDF.toDF("doc_id", "ts", "text")
    val q = NearDupStream.candidates(sdf, minEstJaccard = 0.9,
        maxBucketDocs = 3)
      .writeStream.format("memory").queryName("neardup_redeliver_sink")
      .outputMode(OutputMode.Append).start()
    try {
      // doc 1, doc 2, then doc 1 REDELIVERED (at-least-once source).
      // Without the state dedupe the bucket holds [1, 2, 1]: the
      // duplicate burns a cap slot and doc 3 pairs against doc 1 TWICE.
      mem.addData((1L, ts("2024-01-01 10:01:00"), orig))
      q.processAllAvailable()
      mem.addData((2L, ts("2024-01-01 10:02:00"), orig))
      q.processAllAvailable()
      mem.addData((1L, ts("2024-01-01 10:03:00"), orig)) // redelivery
      q.processAllAvailable()
      mem.addData((3L, ts("2024-01-01 10:04:00"), orig))
      q.processAllAvailable()
      val rows = spark.table("neardup_redeliver_sink").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // identical docs share all 16/4 = 4 band buckets, so each pair
      // legitimately emits once PER BUCKET: exactly 4 rows per pair. A
      // redelivered doc holding two state slots would emit (1,3) twice
      // per bucket = 8 rows.
      val with3 = rows.filter(_._2 == 3L)
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(with3 == Map((1L, 3L) -> 4, (2L, 3L) -> 4), s"$with3")
      // redelivery never pairs a doc with itself
      assert(!rows.contains((1L, 1L)))
    } finally q.stop()
  }
}
