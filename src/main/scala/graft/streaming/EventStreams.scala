package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming operators over the events table shape (event_id, ts, user_id,
  * event_type, value, props).
  *
  * The reference is batch-only (SURVEY.md §2.8) — this extends the engine
  * the Spark-native way: the SAME transform functions run on a batch
  * DataFrame (oracle-checkable) and on a readStream DataFrame (tested with
  * MemoryStream in EventStreamsSpec). Watermarks bound state; the
  * sessionization uses flatMapGroupsWithState with event-time timeouts —
  * state per user, O(active users), which is the shape that scales to a
  * 1000-executor streaming job.
  */
// Serializable: stateful-update closures call the µs conversion helpers
// below, which pulls the enclosing object into the task closure
object EventStreams extends Serializable {

  /** Tumbling-window rollup: works identically on batch and stream inputs
    * (for streams, call after withWatermark). */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming variant with a watermark bounding window state. */
  def hourlyRollupStream(events: DataFrame): DataFrame =
    hourlyRollup(events.withWatermark("ts", "2 hours"))

  /** Incremental rollup maintenance: merge independently-computed
    * [[hourlyRollup]] partitions (yesterday's standing aggregate + the
    * new day's delta) into the rollup of the union WITHOUT touching the
    * old partition's raw events — counts and sums are mergeable partial
    * aggregates, so maintenance cost is O(|delta| + |standing rollup|).
    * EXACT, not approximately: each stored sum_value is a
    * DECIMAL(18,4)-valued double (re-cast is lossless), decimal sums
    * associate, so merged output is bit-identical to a full recompute
    * (oracle-gated at q147 against exactly that recompute). */
  def mergeRollups(parts: Seq[DataFrame]): DataFrame = {
    require(parts.nonEmpty, "no rollup partitions to merge")
    parts.reduce(_ unionByName _)
      .groupBy(col("window_start"), col("event_type"))
      .agg(sum(col("n")).as("n"),
        sum(col("sum_value").cast("decimal(18,4)")).cast("double")
          .as("sum_value"))
  }

  /** Sliding-window rollup: 1-hour windows every 15 minutes — each event
    * lands in exactly 4 windows (Spark's `window(slide)` expands rows
    * BEFORE the aggregate, so the shuffle carries 4× (window, type)
    * partial rows, never 4× the data). Same code runs on a watermarked
    * stream. */
  def slidingRollup(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  def slidingRollupStream(events: DataFrame): DataFrame =
    slidingRollup(events.withWatermark("ts", "2 hours"))

  /** Streaming exact-dedup: drop events whose dedup key was already seen
    * within the watermark window (the streaming tier of the batch
    * content-hash dedup in [[graft.ops.Dedup]] — keys are content
    * identity, e.g. a content hash). `dropDuplicatesWithinWatermark`
    * rather than `dropDuplicates(keys :+ "ts")`: appending ts to the key
    * would only catch re-deliveries with an IDENTICAL timestamp — the
    * same document ingested five minutes later would sail through, which
    * is precisely what content dedup must stop. State holds one entry
    * per key inside the watermark window — O(recent keys), not
    * O(stream); on a batch frame this degrades to plain dropDuplicates
    * on the keys. */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  val SessionGapMinutes = 30

  /** Batch sessionization: a session breaks when the gap to the previous
    * event of the same user exceeds the gap threshold. Pure window
    * functions — one shuffle on user_id. */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val gapUs = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
    val isNew = when(gapUs.isNull ||
      gapUs > SessionGapMinutes * 60L * 1000000L, 1).otherwise(0)
    events
      .withColumn("session_idx",
        sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  case class Event(ts: java.sql.Timestamp, user_id: Long)
  case class SessionState(start: Long, last: Long, n: Long)

  /** Timestamp → epoch µs, full precision. `getTime` is NOT this: it
    * returns millis, silently truncating the microsecond component the
    * parquet source carries — the StreamGate file-sink oracle caught
    * sessionizeStream emitting `.172` where the source event (and the
    * batch twin) said `.172425`. */
  private def toUs(t: java.sql.Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
  private def fromUs(us: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     session_end: java.sql.Timestamp, n_events: Long)

  /** Streaming sessionization: per-user state via flatMapGroupsWithState,
    * emitting a session when the gap passes or on event-time timeout.
    * State is (start, last, count) — constant per user. */
  def sessionizeStream(events: DataFrame): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = SessionGapMinutes * 60L * 1000000L

    def update(userId: Long, rows: Iterator[Event],
               state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(Session(userId, fromUs(s.start), fromUs(s.last), s.n))
      } else {
        var closed = List.empty[Session]
        val sorted = rows.toSeq.sortBy(e => toUs(e.ts))
        var cur = state.getOption
        for (e <- sorted) {
          val tUs = toUs(e.ts)
          cur match {
            case Some(s) if tUs - s.last > gapUs =>
              closed ::= Session(userId, fromUs(s.start), fromUs(s.last), s.n)
              cur = Some(SessionState(tUs, tUs, 1))
            case Some(s) if tUs < s.start - gapUs =>
              // LATE event (within watermark) predating the open session
              // by more than the gap: it belongs to an earlier, already-
              // elapsed session — emit it as its own session rather than
              // corrupting the open one. (Batch, which sees all events
              // sorted, may merge several such lates into one earlier
              // session; the stream has already released that state.)
              closed ::= Session(userId, e.ts, e.ts, 1)
            case Some(s) =>
              // in-gap event, possibly late: extend the session's bounds
              // monotonically. A plain last=tUs would let a late event
              // REGRESS `last`, producing sessions with end < start and
              // spurious splits against later arrivals.
              cur = Some(SessionState(math.min(s.start, tUs),
                math.max(s.last, tUs), s.n + 1))
            case None =>
              cur = Some(SessionState(tUs, tUs, 1))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.last / 1000 + gapUs / 1000)
        }
        closed.reverseIterator
      }
    }

    events.select(col("ts"), col("user_id"))
      .withWatermark("ts", "1 hour")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }
}
