package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventJoinStream

/** The browse-to-read funnel ([[EventJoinStream.browseToRead]]): it
  * pairs like a brute-force pairing of every row it kept, drops rows at
  * or below its watermark, and empties its state once the watermark
  * passes every buffered row.
  */
class EventJoinStreamSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private def t(sec: Long) = new Timestamp(sec * 1000L)

  // (client_ip, ts, section_id, article_id): the parsed-row columns the funnel reads
  private type Row = (String, Timestamp, Int, Int)
  private def row(ip: String, sec: Long, section: Int, article: Int): Row = (ip, t(sec), section, article)

  /** Start `browseToRead` (gap 600 s, watermark delay 300 s) on a memory
    * stream into a memory sink named `name`.
    */
  private def funnel(name: String) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Row]
    val q = EventJoinStream.browseToRead(in.toDF().toDF("client_ip", "ts", "section_id", "article_id"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    (in, q)
  }

  private def matches(name: String): Seq[(String, Long, Long, Int)] =
    spark.sql(s"SELECT user_id, view_ts, purchase_ts, value FROM $name").collect().toSeq
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000, r.getTimestamp(2).getTime / 1000, r.getInt(3)))
      .sorted

  test("browseToRead over in-order batches emits each brute-force pair exactly once") {
    val batches = Seq(
      Seq(row("a", 1200, 3, 0), row("a", 1000, 3, 0), // out of order inside the batch
        row("a", 1000, 0, 11),                        // r = v: no match
        row("b", 1100, 5, 0),
        row("a", 1300, 0, 12),                        // pairs with both views of a
        row("c", 1050, 2, 21),                        // a browse and a read at one time
        row("d", 1010, 0, 0)),                        // neither: never buffered
      // watermark 1300 - 300 = 1000: every row below is later than it
      Seq(row("b", 1700, 0, 13),                      // r = v + gap: match
        row("a", 1250, 0, 14), row("a", 1600, 4, 0),
        row("c", 1500, 0, 22), row("b", 1100, 0, 15), // r = v: no match
        row("a", 1250, 0, 19)),                       // an equal read time, another article
      // watermark 1400
      Seq(row("a", 2100, 0, 16), row("a", 1601, 0, 17), // 1601 - 1000 = 601 > gap
        row("b", 2300, 0, 18), row("c", 1650, 2, 0),
        row("b", 1450, 5, 0)),                          // pairs with b's buffered 1700 read
      // watermark 2000
      Seq(row("c", 2250, 0, 23), row("a", 2201, 6, 0), row("a", 2202, 0, 24)),
      // watermark still 2000: past a's 1600 browse, not past its 2200 end
      Seq(row("a", 2150, 0, 25)))
    val all = batches.flatten
    val expected = (for {
      (u, v, s, _) <- all if s != 0
      (u2, p, _, a) <- all if a != 0 && u2 == u
      if p.after(v) && p.getTime <= v.getTime + 600 * 1000L
    } yield (u, v.getTime / 1000, p.getTime / 1000, a)).sorted
    assert(expected.size == 15, expected)

    val (in, q) = funnel("bt_pairs")
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      assert(matches("bt_pairs") == expected)
      assert(q.recentProgress.map(p => p.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum == 0L)
    } finally q.stop()
  }

  test("browseToRead drops a row at or below the watermark") {
    val (in, q) = funnel("bt_late")
    try {
      in.addData(row("a", 1500, 3, 0), row("b", 2000, 5, 0)) // watermark 1700
      q.processAllAvailable()
      in.addData(
        row("a", 1700, 0, 31),  // at the watermark: dropped, though 200 s after a's browse
        row("a", 1701, 0, 32))  // above it: pairs
      q.processAllAvailable()
      assert(matches("bt_late") == Seq(("a", 1500L, 1701L, 32)))
      assert(q.recentProgress.map(p => p.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum == 1L)
    } finally q.stop()
  }

  test("browseToRead state empties once the watermark passes every buffered row") {
    val (in, q) = funnel("bt_evict")
    def buffered = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    try {
      in.addData(row("a", 1000, 3, 0), row("a", 1100, 0, 41), row("b", 1050, 5, 0))
      q.processAllAvailable()
      assert(buffered == 2L, q.lastProgress.prettyJson) // one state row per client
      // a row that is neither a browse nor a read moves the watermark to
      // 4700, past a's read and both browses' 1600 and 1650 s ends
      in.addData(row("z", 5000, 0, 0))
      q.processAllAvailable()
      assert(buffered == 0L, q.lastProgress.prettyJson)
      assert(matches("bt_evict") == Seq(("a", 1000L, 1100L, 41)))
    } finally q.stop()
  }
}
