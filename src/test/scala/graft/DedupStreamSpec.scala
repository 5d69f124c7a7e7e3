package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming dedup in the batch-incremental shape: a `foreachBatch` over a
  * MemoryStream probes a lake-resident index built by `graft.ops.Dedup`
  * and folds each micro-batch back into it, so no dedup state lives in
  * the state store. Pins paragraph dedup
  * (`Dedup.paragraphDedupVersusCorpus`) against an accumulating
  * `Dedup.paragraphHashTable` index.
  */
class DedupStreamSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  test("streaming paragraph dedup: foreachBatch against an accumulating hash index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dedup
    // ingested corpus → distinct-hash paragraph index; each micro-batch
    // probes the index (delta-sized work) and appends its own hashes —
    // the batch-incremental shape that keeps paragraph state in the
    // lake, not the state store
    val corpus = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    var idx = Dedup.paragraphHashTable(Dedup.segmentsByBlock(corpus, block = 4))
      .localCheckpoint(true)
    val results = scala.collection.mutable.Map[Long, Long]()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val segs = Dedup.segmentsByBlock(batch, block = 4)
        Dedup.paragraphDedupVersusCorpus(segs, idx).collect()
          .foreach(r => results(r.getLong(0)) = r.getLong(2))
        idx = idx.union(Dedup.paragraphHashTable(segs)).distinct().localCheckpoint(true)
        ()
      }.start()
    try {
      mem.addData(
        (10L, "alpha beta gamma delta nine ten eleven twelve"), // para 1 in corpus
        (11L, "fresh words right here"))
      q.processAllAvailable()
      mem.addData((20L, "fresh words right here plus more novel stuff")) // para 1 from batch 1
      q.processAllAvailable()
      assert(results.toMap == Map(10L -> 1L, 11L -> 1L, 20L -> 1L), results)
    } finally q.stop()
  }
}
