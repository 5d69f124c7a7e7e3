package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.logs.LogParser
import graft.streaming.{LogStream, UpsertSink}

/** Streaming semantics: continuous aggregation over added batches
  * (reference Q2), stream-static dim join (Q3), foreachBatch upsert (S3),
  * event-time window with watermark (extension).
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  def line(ip: String, uri: String, ts: String = "27/Aug/2020:10:20:53 +0800"): String =
    s"""$ip - - [$ts] "GET $uri HTTP/1.1" 200 1024 "-" "Mozilla/5.0""""

  test("update-mode client counts accumulate across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val counts = LogStream.clientTotals(LogStream.keyedCounts(
      LogParser.accessEvents(mem.toDF().withColumnRenamed("value", "line"))))
    val q = counts.writeStream.outputMode("update")
      .format("memory").queryName("client_counts").start()
    try {
      mem.addData(
        line("10.0.0.1", "/forum.php?mod=viewthread&tid=9"),
        line("10.0.0.1", "/forum.php?mod=forumdisplay&fid=3"),
        line("10.0.0.2", "/forum.php?mod=viewthread&tid=9"),
        line("10.0.0.3", "/index.html")) // no ids -> filtered out
      q.processAllAvailable()
      val t1 = spark.table("client_counts").groupBy($"client_ip")
        .agg(max($"client_access_cnt").as("c")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(t1 == Map("10.0.0.1" -> 2L, "10.0.0.2" -> 1L))

      mem.addData(line("10.0.0.1", "/forum.php?mod=viewthread&tid=7"))
      q.processAllAvailable()
      val t2 = spark.table("client_counts").groupBy($"client_ip")
        .agg(max($"client_access_cnt").as("c")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(t2("10.0.0.1") == 3L) // state carried across batches
    } finally q.stop()
  }

  test("stream-static section join + foreachBatch upsert sink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val dim = Seq((3L, "tech"), (5L, "life")).toDF("fid", "name")
    val counts = LogStream.keyedCounts(
      LogParser.accessEvents(mem.toDF().withColumnRenamed("value", "line")))
    val sink = new UpsertSink(Seq("section_id"))
    val q = counts.writeStream.outputMode("update")
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
        sink.merge(LogStream.sectionTotals(df, dim), id))
      .start()
    try {
      mem.addData(
        line("10.0.0.1", "/forum.php?mod=forumdisplay&fid=3"),
        line("10.0.0.2", "/forum.php?mod=forumdisplay&fid=3"),
        line("10.0.0.2", "/forum.php?mod=forumdisplay&fid=5"),
        line("10.0.0.2", "/forum.php?mod=forumdisplay&fid=99")) // no dim row -> dropped
      q.processAllAvailable()
      mem.addData(line("10.0.0.9", "/forum.php?mod=forumdisplay&fid=3"))
      q.processAllAvailable()
      val byKey = sink.snapshot.map { case (k, v) => k.head -> v }
      assert(byKey(3).contains(3L) && byKey(3).contains("tech") && byKey(3).contains(3L))
      assert(byKey(3).last == 3L) // upserted count after second batch
      assert(byKey(5).last == 1L)
      assert(!byKey.contains(99))
    } finally q.stop()
  }

  test("stream-stream interval join: purchases matched to recent views") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val views = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    // view within 30 minutes BEFORE the purchase, same user
    val joined = LogStream.attributionJoin(
      views.toDF().toDF("event_id", "user_id", "ts"),
      purchases.toDF().toDF("event_id", "user_id", "ts"),
      watermarkDelay = "1 hour", windowSeconds = 30 * 60)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_join").start()
    try {
      views.addData((1L, 7L, ts("2024-01-01 00:00:00")), (2L, 7L, ts("2024-01-01 02:00:00")))
      purchases.addData((10L, 7L, ts("2024-01-01 00:20:00")), (11L, 7L, ts("2024-01-01 03:00:00")))
      q.processAllAvailable()
      val pairs = spark.table("ss_join").select("purchase_id", "view_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((10L, 1L))) // 11 is 60min after view 2 -> outside window
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: unmatched purchase emits after watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val views = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = LogStream.attributionJoinOuter(
      views.toDF().toDF("event_id", "user_id", "ts"),
      purchases.toDF().toDF("event_id", "user_id", "ts"),
      watermarkDelay = "10 minutes", windowSeconds = 30 * 60)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_outer").start()
    try {
      views.addData((1L, 7L, ts("2024-01-01 00:00:00")))
      purchases.addData(
        (10L, 7L, ts("2024-01-01 00:20:00")),  // matches view 1
        (11L, 9L, ts("2024-01-01 00:25:00")))  // no view for user 9 -> outer row
      q.processAllAvailable()
      // advance BOTH watermarks far past the join window so the
      // unmatched purchase's null row finalizes
      views.addData((2L, 7L, ts("2024-01-01 06:00:00")))
      purchases.addData((12L, 7L, ts("2024-01-01 06:00:00")))
      q.processAllAvailable()
      views.addData((3L, 7L, ts("2024-01-01 12:00:00")))
      purchases.addData((13L, 7L, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val rows = spark.table("ss_outer").select("purchase_id", "view_id")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      assert(rows(10L) == 1L, rows)  // matched pair
      assert(rows.get(11L).contains(-1L), rows)  // outer row with null view
    } finally q.stop()
  }

  test("event-time tumbling window with watermark (append mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val windowed = LogStream.windowedEventCounts(
      mem.toDF().toDF("ts", "event_type"), "10 minutes", "5 minutes")
    val q = windowed.writeStream.outputMode("append")
      .format("memory").queryName("win_counts").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      mem.addData((ts("2024-01-01 00:01:00"), "click"), (ts("2024-01-01 00:02:00"), "click"),
        (ts("2024-01-01 00:07:00"), "view"))
      q.processAllAvailable()
      // advance watermark far past the first windows so they finalize
      mem.addData((ts("2024-01-01 01:00:00"), "click"))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 02:00:00"), "click"))
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .select(date_format($"win_start", "HH:mm").as("w"), $"event_type", $"n_events")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(rows.contains(("00:00", "click", 2L)))
      assert(rows.contains(("00:05", "view", 1L)))
    } finally q.stop()
  }

  test("native session_window merges across micro-batches and finalizes on watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val sessions = mem.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 minutes")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", date_format($"w.start", "HH:mm").as("s"),
        date_format($"w.end", "HH:mm").as("e"), $"n_events")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("native_sessions").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      // two events 20min apart -> one session (gap 30min)
      mem.addData((ts("2024-01-01 00:00:00"), 1L))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 00:20:00"), 1L)) // second batch EXTENDS the open session
      q.processAllAvailable()
      // watermark advance finalizes the merged session (append emission)
      mem.addData((ts("2024-01-01 03:00:00"), 1L))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 06:00:00"), 1L))
      q.processAllAvailable()
      val rows = spark.table("native_sessions")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      // one merged session spanning both batches: [00:00, 00:20+30min)
      assert(rows.contains((1L, "00:00", "00:50", 2L)), rows)
    } finally q.stop()
  }
}
