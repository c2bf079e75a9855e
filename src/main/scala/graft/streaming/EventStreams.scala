package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream processing. The transforms are defined once over
  * DataFrames, so the SAME function serves `spark.read` (batch parity,
  * oracle-checkable) and `spark.readStream` (Structured Streaming with
  * watermarks) — the idiomatic Spark unification.
  *
  * The reference itself is batch-only (SURVEY.md §2.8); streaming is the
  * scale extension: at 100 TB/day the hourly rollup runs incrementally
  * with a watermark instead of rescanning history.
  */
object EventStreams {

  /** Hourly windowed aggregate per event type: count + exact-decimal
    * value sum. On a stream, group on `window(ts, "1 hour")` after a
    * watermark; in batch the hour truncation is identical.
    */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .groupBy(
        date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,3)")).cast("double").as("value_sum"))

  /** Streaming variant: event-time watermark + tumbling window. */
  def hourlyRollupStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,3)")).cast("double").as("value_sum"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("value_sum"))

  /** Sessionization (gaps-and-islands): a new session starts when the
    * gap to the user's previous event exceeds `gapMinutes`. Timestamps
    * are truncated to seconds first so the arithmetic is exact across
    * engines. Returns one row per session with bounds and event count.
    */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
    val withGap = events
      .withColumn("ts_s", date_trunc("second", col("ts")))
      .withColumn("prev_ts", lag(col("ts_s"), 1).over(byUser))
      .withColumn("is_new_session",
        (col("prev_ts").isNull ||
          unix_timestamp(col("ts_s")) - unix_timestamp(col("prev_ts")) > gapMinutes * 60L)
          .cast("int"))
      .withColumn("session_seq",
        sum(col("is_new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    withGap
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts_s")).as("session_start"),
        max(col("ts_s")).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** Input/state/output types for the stateful streaming sessionizer. */
  case class SessionEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp)
  case class SessionState(sessionSeq: Long, start: Long, last: Long, nEvents: Long)
  case class SessionOut(user_id: Long, session_seq: Long,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
      n_events: Long)

  /** Custom-state streaming sessionization via flatMapGroupsWithState:
    * per-user state tracks the open session; a batch closes sessions
    * whose gap to the next event exceeds `gapMinutes` and emits them.
    * The contract is: emit closed sessions, keep the live one in state
    * (no timeout — it is emitted once a later event closes it).
    *
    * This is the incremental counterpart of [[sessionize]]: the batch
    * window scan becomes O(state) per micro-batch instead of a full
    * re-sort of history.
    */
  def sessionizeStream(events: org.apache.spark.sql.Dataset[SessionEvent],
      gapMinutes: Int): org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var cur = state.getOption
          val closed = Seq.newBuilder[SessionOut]
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.last <= gapMs =>
                cur = Some(s.copy(last = t, nEvents = s.nEvents + 1))
              case Some(s) =>
                closed += SessionOut(user, s.sessionSeq,
                  new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.last), s.nEvents)
                cur = Some(SessionState(s.sessionSeq + 1, t, t, 1))
              case None =>
                cur = Some(SessionState(1, t, t, 1))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
  }
}
