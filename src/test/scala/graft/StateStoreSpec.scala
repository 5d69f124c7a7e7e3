package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LogStream

/** Trigger.AvailableNow (bounded catch-up runs of the continuous
  * pipeline, the batch-backfill entry point) on the product's one keyed
  * count, [[LogStream.keyedCounts]]: the query drains every pending row
  * into exact per-`(kind, key)` totals, then terminates on its own. The
  * product query's RocksDB state with changelog checkpoints and its
  * restart recovery are pinned end to end in `LogAnalysisAppSpec`.
  */
class StateStoreSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  test("Trigger.AvailableNow drains pending data then terminates on its own") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (section_id, article_id, client_ip): the parsed-row columns keyedCounts reads
    val mem = MemoryStream[(Int, Int, String)]
    mem.addData((3, 9, "10.0.0.1"), (3, 0, "10.0.0.2"), (0, 9, "10.0.0.1"))
    mem.addData((5, 7, "10.0.0.2"), (0, 0, "10.0.0.3")) // no id: counts nowhere
    val counts = LogStream.keyedCounts(mem.toDF().toDF("section_id", "article_id", "client_ip"))
    val q = counts.writeStream.outputMode("complete")
      .format("memory").queryName("availnow_counts")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
    val out = spark.table("availnow_counts")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("section", "3") -> 2L, ("section", "5") -> 1L,
      ("article", "9") -> 2L, ("article", "7") -> 1L,
      ("client", "10.0.0.1") -> 2L, ("client", "10.0.0.2") -> 2L))
  }
}
