package graft.streaming

import graft.SparkSpecBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class EventStreamsSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def batchEvents = Seq(
    (1L, ts("2024-01-01 10:00:05"), 7L, "view", 1.0, "{}"),
    (2L, ts("2024-01-01 10:20:00"), 7L, "view", 2.0, "{}"),
    (3L, ts("2024-01-01 11:30:00"), 7L, "click", 4.0, "{}"), // 70-min gap -> new session
    (4L, ts("2024-01-01 10:01:00"), 9L, "view", 8.0, "{}")
  ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("hourlyRollup groups by hour x type with exact sums") {
    val got = EventStreams.hourlyRollup(batchEvents)
      .orderBy("hour", "event_type")
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      ("2024-01-01 10:00:00.0", "view", 3L, 11.0),
      ("2024-01-01 11:00:00.0", "click", 1L, 4.0)))
  }

  test("sessionize splits on gaps > threshold per user") {
    val got = EventStreams.sessionize(batchEvents, gapMinutes = 30)
      .orderBy("user_id", "session_seq")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    // user 7: session 1 = events 1,2 (20-min gap); session 2 = event 3
    assert(got.toSeq == Seq((7L, 1L, 2L), (7L, 2L, 1L), (9L, 1L, 1L)))
  }

  test("hourlyRollupStream over MemoryStream matches the batch rollup") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.hourlyRollupStream(streamDf)
      .writeStream.format("memory").queryName("rollup")
      .outputMode("complete").start()
    try {
      mem.addData(
        (1L, ts("2024-01-01 10:00:05"), 7L, "view", 1.0, "{}"),
        (2L, ts("2024-01-01 10:20:00"), 7L, "view", 2.0, "{}"),
        (3L, ts("2024-01-01 11:30:00"), 7L, "click", 4.0, "{}"),
        (4L, ts("2024-01-01 10:01:00"), 9L, "view", 8.0, "{}"))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM rollup ORDER BY hour, event_type")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(got.toSeq == Seq(
        ("2024-01-01 10:00:00.0", "view", 3L, 11.0),
        ("2024-01-01 11:00:00.0", "click", 1L, 4.0)))
    } finally q.stop()
  }
}
