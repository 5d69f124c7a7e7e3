package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.logs.LogParser
import graft.streaming.{LogStream, UpsertSink}

/** Streaming semantics: continuous aggregation over added batches
  * (reference Q2), stream-static dim join (Q3), foreachBatch upsert (S3),
  * and Spark's native `session_window` merging across micro-batches.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  def line(ip: String, uri: String, ts: String = "27/Aug/2020:10:20:53 +0800"): String =
    s"""$ip - - [$ts] "GET $uri HTTP/1.1" 200 1024 "-" "Mozilla/5.0""""

  /** A keyed-count query over `mem` whose foreachBatch collects the named
    * changelog once and hands [[LogStream.split]]'s rows to `publish`.
    */
  def keyedToSinks(mem: MemoryStream[String], sectionDim: DataFrame, articleDim: DataFrame)(
      publish: ((Seq[Seq[Any]], Seq[Seq[Any]], Seq[Seq[Any]]), Long) => Unit) =
    LogStream.keyedCounts(LogParser.accessEvents(mem.toDF().withColumnRenamed("value", "line")))
      .writeStream.outputMode("update")
      .foreachBatch((df: DataFrame, id: Long) =>
        publish(LogStream.split(LogStream.named(df, sectionDim, articleDim).collect().toSeq), id))
      .start()

  test("update-mode client counts accumulate across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val noDim = Seq.empty[(Long, String)].toDF("fid", "name")
    val sink = new UpsertSink(1)
    val q = keyedToSinks(mem, noDim, noDim.toDF("tid", "subject")) {
      case ((_, _, clients), id) => sink.merge(clients, id)
    }
    def counts = sink.snapshot.values.map(v => v(0).asInstanceOf[String] -> v(1).asInstanceOf[Long]).toMap
    try {
      mem.addData(
        line("10.0.0.1", "/forum.php?mod=viewthread&tid=9"),
        line("10.0.0.1", "/forum.php?mod=forumdisplay&fid=3"),
        line("10.0.0.2", "/forum.php?mod=viewthread&tid=9"),
        line("10.0.0.3", "/index.html")) // no ids -> filtered out
      q.processAllAvailable()
      val t1 = counts
      assert(t1 == Map("10.0.0.1" -> 2L, "10.0.0.2" -> 1L))

      mem.addData(line("10.0.0.1", "/forum.php?mod=viewthread&tid=7"))
      q.processAllAvailable()
      val t2 = counts
      assert(t2("10.0.0.1") == 3L) // state carried across batches
    } finally q.stop()
  }

  test("stream-static section join + foreachBatch upsert sink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val dim = Seq((3L, "tech"), (5L, "life")).toDF("fid", "name")
    val sink = new UpsertSink(1)
    val q = keyedToSinks(mem, dim, Seq.empty[(Long, String)].toDF("tid", "subject")) {
      case ((sections, _, _), id) => sink.merge(sections, id)
    }
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
