package graft.streaming

import graft.TestSpark
import graft.streaming.EventStream.{SessionUpdate, TimedSessionEvent}
import org.scalatest.funsuite.AnyFunSuite

/** Event-time timeout closure: an idle user's session must flush once
  * the watermark passes its last event + gap, without any further event
  * from that user. */
class SessionTimeoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val gapUs = 30L * 60 * 1000 * 1000
  private val baseUs = 1704067200000000L // 2024-01-01, clear of the
                                          // epoch-0 initial watermark
  private def ev(id: Long, minute: Long, user: Long): TimedSessionEvent = {
    val us = baseUs + minute * 60L * 1000 * 1000
    TimedSessionEvent(id, new java.sql.Timestamp(us / 1000), us, user)
  }

  test("idle session closes via watermark, not a successor event") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("to-src").toString

    // batch 1: user 1 has a two-event session ending minute 5
    Seq(ev(1, 0, 1), ev(2, 5, 1)).toDS().coalesce(1).write.mode("append").parquet(dir)

    val streamed = spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, ts_us BIGINT, user_id BIGINT")
      .parquet(dir)
      .withWatermark("ts", "0 seconds")
      .as[TimedSessionEvent]
    val q = EventStream.sessionizeEventTime(streamed, gapUs)
      .writeStream.outputMode("append")
      .format("memory").queryName("timeout_out")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("timeout_out").isEmpty) // session still open

      // batch 2: a DIFFERENT user far in the future advances the
      // watermark past user 1's last event + gap
      Seq(ev(3, 600, 2)).toDS().coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      // one more (empty-of-user-1) batch lets the timeout fire
      Seq(ev(4, 601, 2)).toDS().coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()

      val closed = spark.table("timeout_out").as[SessionUpdate].collect()
      val user1 = closed.filter(_.user_id == 1L)
      assert(user1.length == 1)
      assert(user1.head.n_events == 2L)
      assert(user1.head.start_us == baseUs)
      assert(user1.head.end_us == baseUs + 5L * 60 * 1000 * 1000)

      // the user RETURNS after the timeout: the new session must get a
      // FRESH id — a timeout that removed state would reset the counter
      // and re-emit session_id 1, colliding with the session above
      Seq(ev(5, 610, 1), ev(6, 611, 1)).toDS()
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      Seq(ev(7, 1300, 2)).toDS() // advance watermark way past session 2
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      Seq(ev(8, 1301, 2)).toDS() // let user 1's second timeout fire
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val again = spark.table("timeout_out").as[SessionUpdate].collect()
        .filter(_.user_id == 1L).sortBy(_.session_id)
      assert(again.length == 2, s"expected 2 closed sessions, got ${again.toSeq}")
      assert(again.map(_.session_id).toSeq == Seq(1L, 2L),
        s"session ids must stay unique per user: ${again.toSeq}")
    } finally q.stop()
  }
}
