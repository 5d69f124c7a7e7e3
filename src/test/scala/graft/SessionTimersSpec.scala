package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.SessionStream

/** Gap sessions closed by the event-time timeout of
  * [[SessionStream.sessionize]]: a session emits exactly once, when the
  * watermark passes last_event + gap, and the key re-opens for later
  * events. A gap inside one batch closes the session it ends at once.
  */
class SessionTimersSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private def ts(min: Long) =
    new java.sql.Timestamp(1704103200000L + min * 60000L) // 2024-01-01 10:00 UTC + min

  test("sessions emit on watermark passing the gap timer, exactly once, then re-open") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val out = SessionStream.sessionize(
      mem.toDF().toDF("user_id", "ts"), gapSeconds = 1800, watermark = "10 seconds")
    val q = out.writeStream.outputMode("append").format("memory").queryName("sess_t").start()
    // (user_id, session start in minutes after 10:00, n_events, duration_sec)
    def sessions = spark.table("sess_t").as[SessionStream.ClosedSession].collect().toSeq
      .map(s => (s.user_id, (s.session_start.getTime - ts(0).getTime) / 60000L, s.n_events, s.duration_sec))
    try {
      // open sessions: u1 two events 5 min apart, u2 one event
      mem.addData((1L, ts(0)), (1L, ts(5)), (2L, ts(0)))
      q.processAllAvailable()
      assert(sessions.isEmpty, sessions) // nothing closed yet

      // sentinel event far in the future advances the watermark past
      // both sessions' ends (u1 @ +35min, u2 @ +30min)
      mem.addData((9L, ts(120)))
      q.processAllAvailable()
      val round1 = sessions.toSet
      assert(round1.contains((1L, 0L, 2L, 300L)), round1)
      assert(round1.contains((2L, 0L, 1L, 0L)), round1)

      // u1 re-opens a NEW session; advancing again emits it (1 event)
      // and the sentinel's own session, and must NOT re-emit round 1
      mem.addData((1L, ts(125)))
      q.processAllAvailable()
      mem.addData((8L, ts(300)))
      q.processAllAvailable()
      val all = sessions
      assert(all.count(r => r._1 == 1L && r._3 == 2L) == 1, all) // round-1 session once
      assert(all.contains((1L, 125L, 1L, 0L)), all)              // re-opened session closed
      assert(all.contains((9L, 120L, 1L, 0L)), all)              // sentinel's session closed
      assert(all.size == all.distinct.size, all)                 // every session once

      // one batch holds u5 at 10:00 and 11:00 the next day: the hour gap
      // closes the 10:00 session at once, the watermark the 11:00 one
      mem.addData((5L, ts(1440)), (5L, ts(1500)))
      q.processAllAvailable()
      assert(sessions.filter(_._1 == 5L) == Seq((5L, 1440L, 1L, 0L)), sessions)
      mem.addData((7L, ts(1600)))
      q.processAllAvailable()
      assert(sessions.filter(_._1 == 5L).sorted == Seq((5L, 1440L, 1L, 0L), (5L, 1500L, 1L, 0L)), sessions)
    } finally q.stop()
  }
}
