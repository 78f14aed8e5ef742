package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpecBase

/** Drives the streaming operators through actual micro-batch execution
  * (MemoryStream → writeStream → memory sink) and checks parity with the
  * batch forms of the same transforms. */
class EventStreamsSpec extends SparkSpecBase {

  private def ts(s: String) = Timestamp.valueOf(s)

  private val rows = Seq(
    // user 1: two sessions separated by > 30 min
    (1L, ts("2024-01-01 10:00:00"), "click", 1.0),
    (1L, ts("2024-01-01 10:10:00"), "click", 2.0),
    (1L, ts("2024-01-01 11:30:00"), "purchase", 3.0),
    // user 2: one session
    (2L, ts("2024-01-01 10:05:00"), "signup", 4.0),
    // late sentinel that closes everything via watermark
    (9L, ts("2024-01-02 00:00:00"), "click", 0.0))

  private def toDf(r: Seq[(Long, Timestamp, String, Double)]) = {
    import spark.implicits._
    r.toDF("user_id", "ts", "event_type", "value")
  }

  test("hourlyRollup parity: streaming complete-mode equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val sdf = mem.toDF.toDF("user_id", "ts", "event_type", "value")
    val q = EventStreams.hourlyRollup(sdf)
      .writeStream.format("memory").queryName("rollup_sink")
      .outputMode(OutputMode.Complete).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("rollup_sink")
        .orderBy("window_start", "event_type")
        .collect().map(_.toSeq).toSeq
      val batch = EventStreams.hourlyRollup(toDf(rows))
        .orderBy("window_start", "event_type")
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("watermarked rollups emit closed windows in append mode == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // append mode is the production shape (complete mode re-emits the
    // whole result table every trigger — unbounded at stream scale);
    // a window only emits once the 2h watermark passes its end
    for ((mk, name) <- Seq(
        (EventStreams.hourlyRollupStream _, "hr_append"),
        (EventStreams.slidingRollupStream _, "sl_append"))) {
      val mem = MemoryStream[(Long, Timestamp, String, Double)]
      val sdf = mem.toDF.toDF("user_id", "ts", "event_type", "value")
      val q = mk(sdf).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        mem.addData(rows.init: _*)
        q.processAllAvailable()
        // nothing can emit yet: the watermark trails the only batch
        mem.addData(rows.last) // next-day sentinel closes every window
        q.processAllAvailable()
        val streamed = spark.table(name)
          .orderBy("window_start", "event_type")
          .collect().map(_.toSeq).toSeq
        val batchFn = if (name == "hr_append")
          EventStreams.hourlyRollup _ else EventStreams.slidingRollup _
        val batch = batchFn(toDf(rows.init))
          .orderBy("window_start", "event_type")
          .collect().map(_.toSeq).toSeq
        // all pre-sentinel windows are closed (they end hours before the
        // sentinel − 2h watermark); the sentinel's own window stays open
        assert(streamed == batch, s"$name: $streamed vs $batch")
        assert(streamed.nonEmpty)
      } finally q.stop()
    }
  }

  test("mergeRollups: merged partials equal the full recompute exactly") {
    import spark.implicits._
    val all = toDf(rows)
    val cut = ts("2024-01-01 10:30:00")
    val merged = EventStreams.mergeRollups(Seq(
        EventStreams.hourlyRollup(all.filter($"ts" < cut)),
        EventStreams.hourlyRollup(all.filter($"ts" >= cut))))
      .orderBy("window_start", "event_type").collect().map(_.toSeq).toSeq
    val full = EventStreams.hourlyRollup(all)
      .orderBy("window_start", "event_type").collect().map(_.toSeq).toSeq
    // the 10:00 window straddles the cut — its partials must recombine
    assert(merged == full)
    assert(full.nonEmpty)
  }

  test("slidingRollup: each event in exactly 4 windows; stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = EventStreams.slidingRollup(toDf(rows))
    // row-coverage invariant: total count across windows = 4 × events
    val totalN = batch.agg(org.apache.spark.sql.functions.sum("n"))
      .head().getLong(0)
    assert(totalN == 4L * rows.size, s"coverage $totalN")
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val sdf = mem.toDF.toDF("user_id", "ts", "event_type", "value")
    val q = EventStreams.slidingRollup(sdf)
      .writeStream.format("memory").queryName("sliding_sink")
      .outputMode(OutputMode.Complete).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("sliding_sink")
        .orderBy("window_start", "event_type")
        .collect().map(_.toSeq).toSeq
      val b = batch.orderBy("window_start", "event_type")
        .collect().map(_.toSeq).toSeq
      assert(streamed == b)
      assert(b.nonEmpty)
    } finally q.stop()
  }

  test("stream-static broadcast enrichment join: stateless, batch parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the J1/J2 lookup-join shape applied to a stream: the static dim
    // broadcasts; no state store, no watermark needed for inner joins
    val dim = Seq(("click", 10), ("purchase", 20), ("signup", 30))
      .toDF("event_type", "type_code")
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val sdf = mem.toDF.toDF("user_id", "ts", "event_type", "value")
    val q = sdf.join(org.apache.spark.sql.functions.broadcast(dim),
        Seq("event_type"))
      .writeStream.format("memory").queryName("enrich_sink")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("enrich_sink")
        .select("user_id", "ts", "event_type", "type_code")
        .collect().map(_.toSeq).toSet
      val batch = toDf(rows).join(dim, Seq("event_type"))
        .select("user_id", "ts", "event_type", "type_code")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
      // unmatched event types (error/view) drop in both — inner semantics
      assert(!streamed.exists(_(2) == "error"))
    } finally q.stop()
  }

  test("streaming dedup drops repeated keys under the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val sdf = mem.toDF.toDF("user_id", "ts", "event_type", "value")
    val q = EventStreams.dedupStream(sdf, Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup_sink")
      .outputMode(OutputMode.Append).start()
    try {
      // keys are CONTENT identity (user, type): any later arrival with
      // the same key inside the watermark is a duplicate, regardless of
      // its timestamp — a ts-suffixed key would only catch exact-ts
      // redeliveries and let a 5-minutes-later duplicate through
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), "click", 1.0),
        (1L, ts("2024-01-01 10:00:00"), "click", 1.0), // exact redelivery
        (1L, ts("2024-01-01 10:05:00"), "click", 2.0), // same key, new ts
        (1L, ts("2024-01-01 10:06:00"), "view", 1.0))  // different key
      q.processAllAvailable()
      // later batch, same key, still within watermark → dropped
      mem.addData((1L, ts("2024-01-01 10:07:00"), "click", 9.9))
      q.processAllAvailable()
      val rows = spark.table("dedup_sink").collect()
      assert(rows.length == 2, rows.mkString(", "))
      val types = rows.map(_.getAs[String]("event_type")).sorted.toSeq
      assert(types == Seq("click", "view"), types)
    } finally q.stop()
  }

  test("file sink + checkpoint: restart resumes without reprocessing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("stream_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream_ckpt").toString

    def startQuery(mem: MemoryStream[(Long, Timestamp, String, Double)]) =
      mem.toDF.toDF("user_id", "ts", "event_type", "value")
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()

    val mem1 = MemoryStream[(Long, Timestamp, String, Double)]
    val q1 = startQuery(mem1)
    try { mem1.addData(rows.take(3): _*); q1.processAllAvailable() }
    finally q1.stop()
    assert(spark.read.parquet(out).count() == 3)

    // "restart": new query over the same checkpoint. A replayable source
    // re-offers the old batch at the same offset — the committed offset in
    // the checkpoint makes the engine SKIP it (exactly-once), and only the
    // genuinely new batch lands.
    val mem2 = MemoryStream[(Long, Timestamp, String, Double)]
    mem2.addData(rows.take(3): _*) // replayed batch, offset ≤ committed
    val q2 = startQuery(mem2)
    try { mem2.addData(rows.drop(3): _*); q2.processAllAvailable() }
    finally q2.stop()
    val finalRows = spark.read.parquet(out)
    assert(finalRows.count() == rows.length.toLong)
    assert(finalRows.select("user_id").distinct().count() == 3)
  }

  test("sessionizeStream keeps microsecond precision (getTime truncation regression)") {
    // the StreamGate file-sink gate caught sessionizeStream rebuilding
    // session bounds through Timestamp.getTime (millis): the parquet
    // source carries microseconds, so 95,465/95,465 rows matched but the
    // hash differed (.172 vs .172425). Pin the µs round-trip forever.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val us = Seq(
      (1L, ts("2024-01-01 00:00:11.172425"), "c", 0.0),
      (1L, ts("2024-01-01 00:10:00.000007"), "c", 0.0),
      (1L, ts("2024-01-01 02:00:00.999999"), "c", 0.0), // new session
      (2L, ts("2024-01-01 00:00:00.000001"), "c", 0.0))
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val sdf = mem.toDF.toDF("user_id", "ts", "event_type", "value")
    val q = EventStreams.sessionizeStream(sdf)
      .writeStream.format("memory").queryName("us_session_sink")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(us: _*)
      q.processAllAvailable()
      mem.addData((9L, ts("2024-01-03 00:00:00"), "c", 0.0))
      q.processAllAvailable()
      mem.addData((9L, ts("2024-01-04 00:00:00"), "c", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("us_session_sink")
        .select("user_id", "session_start", "session_end", "n_events")
        .filter(col("user_id").isin(1L, 2L))
        .orderBy("user_id", "session_start")
        .collect().map(_.toSeq).toSeq
      val batch = EventStreams.sessionizeBatch(toDf(us))
        .select("user_id", "session_start", "session_end", "n_events")
        .filter(col("user_id").isin(1L, 2L))
        .orderBy("user_id", "session_start")
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
      // the µs components survive verbatim — not rounded to millis
      val starts = streamed.map(_(1).toString)
      assert(starts.contains("2024-01-01 00:00:11.172425"), starts)
      assert(starts.contains("2024-01-01 00:00:00.000001"), starts)
    } finally q.stop()
  }

  test("sessionizeStream closes sessions like sessionizeBatch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val sdf = mem.toDF.toDF("user_id", "ts", "event_type", "value")
    val q = EventStreams.sessionizeStream(sdf)
      .writeStream.format("memory").queryName("session_sink")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      // push the watermark far forward so timed-out state flushes
      mem.addData((9L, ts("2024-01-03 00:00:00"), "click", 0.0))
      q.processAllAvailable()
      mem.addData((9L, ts("2024-01-04 00:00:00"), "click", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("session_sink")
        .select("user_id", "session_start", "session_end", "n_events")
        .filter(col("user_id").isin(1L, 2L))
        .orderBy("user_id", "session_start")
        .collect().map(_.toSeq).toSeq
      val batch = EventStreams.sessionizeBatch(toDf(rows))
        .select("user_id", "session_start", "session_end", "n_events")
        .filter(col("user_id").isin(1L, 2L))
        .orderBy("user_id", "session_start")
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch,
        s"streamed=$streamed\nbatch=$batch")
      // user 1 split into two sessions, user 2 one session
      assert(batch.count(_.head == 1L) == 2)
      assert(batch.count(_.head == 2L) == 1)
    } finally q.stop()
  }

  test("sessionizeStream: late in-gap events never regress session bounds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val sdf = mem.toDF.toDF("user_id", "ts", "event_type", "value")
    val q = EventStreams.sessionizeStream(sdf)
      .writeStream.format("memory").queryName("late_session_sink")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData((1L, ts("2024-01-01 10:00:00"), "click", 1.0))
      q.processAllAvailable()
      // LATE event at 09:50 (inside the 1 h watermark, within the gap):
      // must extend the session's start, not regress `last` — a
      // regressed last would make the 10:25 event below look > gap away
      // and wrongly split, emitting a session with end < start
      mem.addData((1L, ts("2024-01-01 09:50:00"), "click", 1.0))
      q.processAllAvailable()
      mem.addData((1L, ts("2024-01-01 10:25:00"), "click", 1.0))
      q.processAllAvailable()
      // flush via watermark advance
      mem.addData((9L, ts("2024-01-03 00:00:00"), "click", 0.0))
      q.processAllAvailable()
      mem.addData((9L, ts("2024-01-04 00:00:00"), "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("late_session_sink")
        .filter(col("user_id") === 1L)
        .select("session_start", "session_end", "n_events")
        .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1),
          r.getLong(2))).toSeq
      assert(got == Seq((ts("2024-01-01 09:50:00"),
        ts("2024-01-01 10:25:00"), 3L)), got.toString)
    } finally q.stop()
  }

  test("text pipeline ops run unchanged in a stream (stateless compose)") {
    // quality scoring + chunking are pure per-row transforms, so the SAME
    // operator code runs under micro-batch execution with no watermark or
    // state — documents arriving as a stream chunk identically to batch
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "short doc"),
      (3L, ""))
    val mem = MemoryStream[(Long, String)]
    val sdf = mem.toDF.toDF("doc_id", "text")
    val chunked = graft.ops.TextOps.chunkRows(
      sdf.withColumn("__q", graft.ops.TextOps.qualityFeatures(col("text")))
        .filter(col("__q.n_tokens") >= 2).drop("__q"),
      "doc_id", "text", chunkSize = 4, stride = 3)
    val q = chunked.writeStream.format("memory").queryName("chunk_sink")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("chunk_sink")
        .orderBy("doc_id", "chunk_idx").collect().map(_.toSeq).toSeq
      val batch = graft.ops.TextOps.chunkRows(
        docs.toDF("doc_id", "text")
          .withColumn("__q", graft.ops.TextOps.qualityFeatures(col("text")))
          .filter(col("__q.n_tokens") >= 2).drop("__q"),
        "doc_id", "text", chunkSize = 4, stride = 3)
        .orderBy("doc_id", "chunk_idx").collect().map(_.toSeq).toSeq
      assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
      assert(batch.count(_.head == 1L) > 1) // doc 1 produced several chunks
      assert(!batch.exists(_.head == 3L))   // empty doc filtered by quality
    } finally q.stop()
  }
}
