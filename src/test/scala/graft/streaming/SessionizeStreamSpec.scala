package graft.streaming

import graft.SparkSpecBase
import graft.streaming.EventStreams.{SessionEvent, SessionOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

class SessionizeStreamSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("flatMapGroupsWithState emits closed sessions across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val out = EventStreams.sessionizeStream(mem.toDS(), gapMinutes = 30)
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // batch 1: two events 10 min apart -> one open session, nothing emitted
      mem.addData(
        SessionEvent(7L, 1L, ts("2024-01-01 10:00:00")),
        SessionEvent(7L, 2L, ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM sessions").as[Long].collect()(0) == 0L)

      // batch 2: 70-min gap closes session 1 (2 events), opens session 2
      mem.addData(SessionEvent(7L, 3L, ts("2024-01-01 11:20:00")))
      q.processAllAvailable()
      val closed = spark.sql("SELECT * FROM sessions").as[SessionOut].collect()
      assert(closed.length == 1)
      assert(closed(0).session_seq == 1L && closed(0).n_events == 2L)
      assert(closed(0).session_start == ts("2024-01-01 10:00:00"))
      assert(closed(0).session_end == ts("2024-01-01 10:10:00"))

      // batch 3: another user interleaved; gap closes user 7's session 2
      mem.addData(
        SessionEvent(9L, 4L, ts("2024-01-01 11:00:00")),
        SessionEvent(7L, 5L, ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      val all = spark.sql("SELECT * FROM sessions WHERE user_id = 7").as[SessionOut].collect()
      assert(all.length == 2)
      assert(all.exists(s => s.session_seq == 2L && s.n_events == 1L))
    } finally q.stop()
  }
}
