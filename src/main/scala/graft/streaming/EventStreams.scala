package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming variants of the event operators. The batch
  * forms in `graft.operators.Events` are the oracled surface
  * (SURVEY.md §7.5.6: batch first, streams share the column logic);
  * these run the same computations incrementally with event-time
  * watermarks.
  *
  * Scale notes: the windowed aggregation keeps one state row per
  * (window, type) and evicts on watermark — state is bounded by the
  * watermark horizon, not the stream length. Sessionization holds one
  * state row per active user and times out via the same event-time
  * clock, so idle users are flushed; the shuffle key is user_id,
  * identical to the batch plan's.
  */
object EventStreams {

  /** File-source stream over a drop directory of events parquet files
    * (the production shape: new files arriving become micro-batches).
    * Streaming twin of `Tables.events`: same µs normalization (robust
    * to both physical ts encodings the generator has produced — long
    * epoch-nanos via the nanosAsLong conf, or native timestamp),
    * schema locked from a batch read (streaming sources require an
    * explicit schema) — but typed TIMESTAMP (ltz), not NTZ, because
    * event-time watermarks require it; wall clock matches under the
    * pinned UTC session timezone.
    */
  def fileEvents(spark: org.apache.spark.sql.SparkSession, dropDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(dropDir).schema
    val stream = spark.readStream.schema(schema).parquet(dropDir)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        stream.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        stream.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Tumbling 1-hour counts/sums per event_type with a watermark for
    * late data. Streaming twin of `Events.tumblingCounts` (same window
    * and aggregate columns; streaming uses `window()` so late rows
    * merge into their window until the watermark passes).
    */
  def tumblingCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        // same decimal-exact sum as the batch twin — a batch-vs-stream
        // reconciliation must see identical values
        graft.functions.Portable.dsumRounded(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming exact dedup → windowed counts: duplicate `event_id`s
    * arriving within the watermark horizon are dropped before the
    * aggregation (`dropDuplicatesWithinWatermark` — one state row per
    * id seen inside the horizon, evicted with the watermark, so state
    * is bounded like every other operator here). The streaming analog
    * of exact dedup's keep-first rule for at-least-once sources.
    */
  def dedupedTumblingCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark) // defined ONCE, upstream of both stateful ops
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        graft.functions.Portable.dsumRounded(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  case class SessionEvent(user_id: Long, event_id: Long, ts: Timestamp)
  case class SessionState(sessionNo: Long, nEvents: Long, start: Timestamp, last: Timestamp)
  case class SessionOut(user_id: Long, session_no: Long, n_events: Long,
      session_start: Timestamp, session_end: Timestamp)

  /** Gap-based sessionization as custom keyed state
    * (`flatMapGroupsWithState`): one state row per live user; a session
    * is emitted when the 30-min gap elapses (event-time timeout), which
    * matches the batch `Events.sessionize` cut rule.
    */
  def sessionize(events: Dataset[SessionEvent], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.sessionNo, s.nEvents, s.start, s.last))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts.getTime - s.last.getTime <= gapMs =>
                  // late-but-in-watermark events may precede the stored
                  // bounds — widen, never move bounds backwards
                  cur = Some(s.copy(
                    nEvents = s.nEvents + 1,
                    start = if (e.ts.before(s.start)) e.ts else s.start,
                    last = if (e.ts.after(s.last)) e.ts else s.last))
                case Some(s) =>
                  closed ::= SessionOut(user, s.sessionNo, s.nEvents, s.start, s.last)
                  cur = Some(SessionState(s.sessionNo + 1, 1, e.ts, e.ts))
                case None =>
                  cur = Some(SessionState(1, 1, e.ts, e.ts))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last.getTime + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** STREAM-STREAM inner join: purchases ⋈ the same user's clicks in
    * the preceding hour — the incremental twin of
    * `Events.purchaseClicks` (identical join condition, so the spec
    * checks streamed ≡ batch on the same rows).
    *
    * State-bound contract: both sides carry event-time watermarks and
    * the join condition time-bounds cts against pts from BOTH
    * directions, so Spark derives a state watermark for each side —
    * buffered rows are evicted once they can no longer match any future
    * input (clicks after max(watermark) + 1h horizon; purchases after
    * theirs). Without the range bound the click buffer would grow with
    * the stream; with it, state is O(rate × horizon) per user shard.
    */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame,
                        watermark: String = "2 hours"): DataFrame = {
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pts"))
      .withWatermark("pts", watermark)
    val c = clicks.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("cts"))
      .withWatermark("cts", watermark)
    p.join(c, col("user_id") === col("c_user") &&
        col("cts") >= col("pts") - expr("INTERVAL 1 HOUR") &&
        col("cts") < col("pts"))
      .select(col("purchase_id"), col("click_id"), col("user_id"))
  }
}
