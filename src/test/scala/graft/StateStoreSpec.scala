package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LogStream

/** Production state posture: the RocksDB state store provider (large
  * state spills off-heap/disk instead of executor heap — the 100 TB
  * configuration) and Trigger.AvailableNow (bounded catch-up runs of the
  * continuous pipeline, the batch-backfill entry point).
  */
class StateStoreSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2020-08-27 10:$min%02d:00")

  test("windowed event counts run on the RocksDB state store across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val prevChangelog = spark.conf.getOption(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Changelog checkpointing: each commit uploads the batch's delta, not a
    // full RocksDB snapshot — the only viable checkpoint cadence once state
    // is tens of GB per executor.
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    try {
      val mem = MemoryStream[(Timestamp, String)]
      val counts = LogStream.windowedEventCounts(
        mem.toDF().toDF("ts", "event_type"), "10 minutes", "5 minutes")
      val q = counts.writeStream.outputMode("update")
        .format("memory").queryName("rocksdb_counts").start()
      try {
        mem.addData((ts(1), "view"), (ts(2), "view"), (ts(3), "click"))
        q.processAllAvailable()
        mem.addData((ts(4), "view"), (ts(6), "view")) // same + next window
        q.processAllAvailable()
        // state provider actually engaged
        assert(q.lastProgress.stateOperators.nonEmpty)
        val out = spark.table("rocksdb_counts")
          .groupBy($"win_start", $"event_type").agg(max($"n_events").as("n"))
          .collect().map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2)).toMap
        assert(out == Map(
          ("2020-08-27 10:00:00.0", "view") -> 3L,
          ("2020-08-27 10:00:00.0", "click") -> 1L,
          ("2020-08-27 10:05:00.0", "view") -> 1L))
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      prevChangelog match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      }
    }
  }

  test("streaming aggregate recovers state across a stop/restart from checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    val ckpt = ckptDir.toString
    val mem = MemoryStream[(Timestamp, String)]
    // PK-upsert sink (foreachBatch — the memory sink refuses checkpoint
    // recovery), same shape as the product's UpsertSink
    val table = new java.util.concurrent.ConcurrentHashMap[(String, String), Long]()
    def startQuery() = LogStream.windowedEventCounts(
        mem.toDF().toDF("ts", "event_type"), "10 minutes", "5 minutes")
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r =>
          table.put((r.getTimestamp(0).toString, r.getString(1)), r.getLong(2)))
      }.start()
    try {
      // run 1: two views land in window 10:00
      val q1 = startQuery()
      try {
        mem.addData((ts(1), "view"), (ts(2), "view"))
        q1.processAllAvailable()
      } finally q1.stop()
      assert(table.get(("2020-08-27 10:00:00.0", "view")) == 2L)
      // run 2, SAME checkpoint: one more view in the same window — the
      // restored state must continue 2 -> 3, not restart at 1 (the
      // reference's R1 checkpoint/recovery contract, LogAnalysis.java:36-46)
      val q2 = startQuery()
      try {
        mem.addData((ts(3), "view"))
        q2.processAllAvailable()
        val n = table.get(("2020-08-27 10:00:00.0", "view"))
        assert(n == 3L, s"state not recovered: count $n after restart")
      } finally q2.stop()
    } finally {
      // best-effort temp-dir cleanup around the WHOLE body (an assert
      // mid-test must still clean up); tolerant of the async state-store
      // maintenance thread racing new files in — hygiene must never mask
      // the real test outcome
      try {
        val walk = java.nio.file.Files.walk(ckptDir)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.toSeq.reverse.foreach { p =>
            try java.nio.file.Files.deleteIfExists(p) catch { case _: java.io.IOException => () }
          }
        } finally walk.close()
      } catch { case _: java.io.IOException => () }
    }
  }

  test("Trigger.AvailableNow drains pending data then terminates on its own") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    mem.addData((ts(1), "view"), (ts(2), "purchase"), (ts(3), "view"))
    val counts = LogStream.windowedEventCounts(
      mem.toDF().toDF("ts", "event_type"), "10 minutes", "5 minutes")
    val q = counts.writeStream.outputMode("complete")
      .format("memory").queryName("availnow_counts")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
    val out = spark.table("availnow_counts")
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(out == Map("view" -> 2L, "purchase" -> 1L))
  }
}
