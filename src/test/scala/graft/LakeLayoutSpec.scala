package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Storage-layout guarantees, the layout decisions that dominate at
  * 100 TB: an h-bucketed posting table that one-sided containment probes
  * without shuffling the index, an `ivf_cell`-partitioned PQ code table
  * whose probe join prunes partitions, and streaming `dropDuplicates`
  * within a watermark.
  */
class LakeLayoutSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("h-bucketed posting table: one-sided containment probes without shuffling the index") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.sql("DROP TABLE IF EXISTS corpus_postings")
    val loc = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), "corpus_postings")
    if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 240)
    // megas = 6 consecutive docs concatenated: the small-in-huge shape
    val corpus = docs.groupBy(expr("doc_id div 6").as("g"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("doc_id"), col("text")))),
        x => x.getField("text")), " ").as("text"))
      .select((col("g") + 90000L).as("doc_id"), col("text"))
    graft.ops.Dedup.containmentPostingTable(corpus)
      .write.bucketBy(8, "h").sortBy("h").format("parquet").saveAsTable("corpus_postings")

    val probe = docs.filter(col("doc_id") % 5 === 0)
    val matches = graft.ops.Dedup.containmentVersusCorpusPrebuilt(
      probe, spark.table("corpus_postings").hint("merge"),
      graft.ops.Dedup.shingleSets(corpus), 0.9)
    val plan = matches.queryExecution.executedPlan.toString
    // the bucketed posting scan feeds the candidate join with NO
    // exchange of its own — only the probe samples repartition (the
    // O(probe) ingest shape)
    val joinIdx = plan.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, plan)
    val indexShuffles = "Exchange hashpartitioning\\(h".r
      .findAllIn(plan.substring(joinIdx)).size
    assert(indexShuffles <= 1, s"posting side shuffled:\n$plan")
    assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"), plan)
    // and the prebuilt path returns the SAME pairs as the inline one
    val viaPrebuilt = matches.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaInline = graft.ops.Dedup.containmentVersusCorpus(probe, corpus, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaPrebuilt == viaInline)
    assert(viaPrebuilt.nonEmpty) // every probed original is inside its mega
  }

  test("ivf_cell-partitioned code table: IVFADC's probe join prunes partitions dynamically") {
    import graft.ops.Similarity
    val out = Files.createTempDirectory("graft-lake").toString + "/pq_codes"
    val raw = Similarity.asDouble(Tables.embeddings(spark, sf))
    val cents = Similarity.centroids(raw).localCheckpoint(true)
    val res = Similarity.ivfResiduals(raw, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val books = Similarity.pqCodebooks(res, m = 8, lloydRounds = 2,
      seed = pmod(col("vec_id"), lit(32)))
    val memCodes = Similarity.pqEncode(res, books, m = 8)
      .join(res.select(col("vec_id"), col("ivf_cell")), "vec_id")
    memCodes.write.partitionBy("ivf_cell").parquet(out)
    // read with the original schema so the partition column keeps its
    // LONG type (directory-value inference would make it INT and put a
    // cast between the join key and the partition column)
    val diskCodes = spark.read.schema(memCodes.schema).parquet(out)
    val q = raw.filter(col("vec_id") < 10)
    val result = Similarity.ivfPqTopK(q, diskCodes, cents, books, 3, 8, 3)
    val plan = result.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the broadcast LUT keyed on the partition column triggers dynamic
    // partition pruning: only probed cells' directories are scanned —
    // the on-disk face of "the join IS the pruning"
    assert(plan.contains("dynamicpruning"), plan)
    val expect = Similarity.ivfPqTopK(q, memCodes, cents, books, 3, 8, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = result
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    res.unpersist(blocking = false)
    assert(got == expect && got.nonEmpty, s"disk=${got.size} mem=${expect.size}")
  }

  test("streaming dropDuplicates dedups within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val q = mem.toDF().toDF("doc_id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("doc_id")
      .writeStream.outputMode("append").format("memory").queryName("dedup_stream").start()
    try {
      mem.addData((1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:00:01")),
        (2L, ts("2024-01-01 00:00:02")))
      q.processAllAvailable()
      mem.addData((1L, ts("2024-01-01 00:10:00")), (3L, ts("2024-01-01 00:10:01")))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("doc_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L)) // duplicate 1L suppressed across batches
    } finally q.stop()
  }
}
