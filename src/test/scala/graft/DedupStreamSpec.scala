package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming dedup in the batch-incremental shape: a `foreachBatch` over a
  * MemoryStream probes a lake-resident index built by `graft.ops.Dedup`
  * and folds each micro-batch back into it, so no dedup state lives in
  * the state store. Pins paragraph dedup against an accumulating hash
  * index, and ExactSubstr span stripping that matches one whole-corpus
  * `Dedup.stripDuplicateSpans` run.
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

  test("streaming ExactSubstr: batch-incremental strip equals the whole-corpus strip") {
    // The r12 VERDICT decision spec: gram state in the state store
    // would pin O(corpus grams) rows, so the honest scale shape is
    // batch-incremental foreachBatch against a lake-resident gram-first
    // index. This test turns that argument into parity: the same doc
    // stream (ascending ids across micro-batches = ingest order) strips
    // IDENTICALLY to one whole-corpus Dedup.stripDuplicateSpans run.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dedup
    def toks(p: String, r: Range) = r.map(i => s"$p$i").mkString(" ")
    val aRun = toks("a", 5 to 16) // 12-token run planted across batches
    val bRun = toks("b", 3 to 14)
    val sRun = toks("s", 1 to 10)
    val batches = Seq(
      Seq(1L -> toks("a", 1 to 20), 2L -> toks("b", 1 to 20)),
      Seq(10L -> s"${toks("c", 1 to 6)} $aRun ${toks("c", 7 to 12)}",
        11L -> toks("d", 1 to 15)),
      // within-batch pair: 20 keeps the shared run (lower key), 21 cut;
      // 22 re-quotes batch-2's corpus-resident a-run
      Seq(20L -> s"${toks("f", 1 to 10)} $sRun",
        21L -> s"${toks("g", 1 to 5)} $sRun ${toks("g", 6 to 8)}",
        22L -> s"$bRun ${toks("h", 1 to 9)}"))
    val allDocs = batches.flatten.toDF("doc_id", "text")
    val expected = Dedup.stripDuplicateSpans(allDocs, k = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    var idx = Seq.empty[(Long, Long)].toDF("h", "first_key")
    val got = scala.collection.mutable.Map[Long, (Long, Long, String)]()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = batch.localCheckpoint(true)
        Dedup.stripVersusCorpus(b, idx, k = 8).collect().foreach(r =>
          got(r.getLong(0)) = ((r.getLong(1), r.getLong(2), r.getString(3))))
        // index accumulation: min-merge this batch's gram-first table
        // (ascending ingest keys make the min the global first)
        idx = idx.union(Dedup.gramFirstTable(b, k = 8)).groupBy("h")
          .agg(org.apache.spark.sql.functions.min("first_key").as("first_key"))
          .localCheckpoint(true)
        ()
      }.start()
    try {
      batches.foreach { bt => mem.addData(bt: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(got.toMap == expected,
      s"incremental strip diverged from batch:\n got=${got.toMap}\n exp=$expected")
    // and the plants actually exercised every path: cross-batch cut,
    // within-batch keep-first, corpus re-quote cut
    assert(expected(10L)._2 == expected(10L)._1 - 12) // a-run cut from host
    assert(expected(20L)._2 == expected(20L)._1)      // first occurrence kept
    assert(expected(21L)._2 < expected(21L)._1)       // later occurrence cut
    assert(expected(22L)._2 < expected(22L)._1)       // corpus-resident run cut
  }
}
