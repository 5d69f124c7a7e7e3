package graft

import org.scalatest.funsuite.AnyFunSuite

/** Stage-level behavior of the curation flagship (q_curation's DuckDB
  * oracle checks exact values; this checks each stage actually removes
  * what it claims on the seeded copies).
  */
class CurationSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("curation drops all exact copies, some near copies, and splits deterministically") {
    val out = Queries.curationQ(spark, sf).collect()
    assert(out.nonEmpty)
    val ids = out.map(_.getLong(0)).toSet
    // exact copies (planted at +10000) can never survive: identical text
    // means identical gate outcome, and the min-id rule keeps the original
    assert(!ids.exists(id => id >= 10000 && id < 20000), ids.filter(_ >= 10000))
    // at least one planted near copy (+20000) of a kept original was
    // removed by the LSH stage
    val keptOrig5 = ids.filter(id => id < 10000 && id % 5 == 0)
    assert(keptOrig5.nonEmpty)
    assert(keptOrig5.exists(id => !ids.contains(id + 20000)),
      s"no near copy removed among ${keptOrig5.take(5)}")
    // deterministic: a second run yields byte-identical rows
    val again = Queries.curationQ(spark, sf).collect()
    assert(out.toSeq == again.toSeq)
  }

  test("span stage drops quote docs that every earlier stage keeps") {
    import org.apache.spark.sql.functions._
    val d = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    def slice30(c: org.apache.spark.sql.Column) =
      array_join(slice(split(trim(lower(c)), "\\s+"), 11, 30), " ")
    val quotes = d.as("a")
      .join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 3)
      .filter(col("a.doc_id") % 11 === 0 &&
        size(split(trim(lower(col("a.text"))), "\\s+")) >= 40 &&
        size(split(trim(lower(col("b.text"))), "\\s+")) >= 40)
      .select((col("a.doc_id") + 70000).as("doc_id"),
        concat(slice30(col("a.text")), lit(" "), slice30(col("b.text"))).as("text"))
    val base = d.union(quotes)
    val without = graft.ops.Curation.curateScoped(base)(
      _.collect().map(_.getLong(0)).toSet)
    val withSpans = graft.ops.Curation.curateScoped(base, spanStage = true)(
      _.collect().map(_.getLong(0)).toSet)
    // gates + exact + LSH keep at least one quote doc (whole-doc
    // jaccard vs either source is ~30/|union| — below JaccardMin) ...
    val keptQuotes = without.filter(_ >= 70000)
    assert(keptQuotes.nonEmpty, "no quote doc survived the pre-span stages")
    // ... that ONLY the span stage removes, and the span stage never
    // invents other drops' survivors (subset relation)
    assert(withSpans.subsetOf(without))
    val spanOnlyDrops = keptQuotes -- withSpans
    assert(spanOnlyDrops.nonEmpty, s"span stage dropped no quote doc of $keptQuotes")
  }

  test("covered span policy keeps the citing host, drops the mostly-quote doc") {
    import org.apache.spark.sql.functions._
    val d = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    def slice30(c: org.apache.spark.sql.Column) =
      array_join(slice(split(trim(lower(c)), "\\s+"), 11, 30), " ")
    val eligible = d.as("a")
      .join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 3)
      .filter(col("a.doc_id") % 11 === 0 &&
        size(split(trim(lower(col("a.text"))), "\\s+")) >= 40 &&
        size(split(trim(lower(col("b.text"))), "\\s+")) >= 60)
    // host: vowel-rotated neighbor text (novel to the LSH stage) + a
    // 30-token quote — the quote is a sliver of the host's fingerprints
    val hosts = eligible.select((col("a.doc_id") + 70000).as("doc_id"),
      concat(translate(lower(col("b.text")), "aeiou", "eioua"),
        lit(" "), slice30(col("a.text"))).as("text"))
    // pure quote: the slice alone — its fingerprints are a subset of
    // the source's, coverage ~1
    val quotes = eligible.select((col("a.doc_id") + 80000).as("doc_id"),
      slice30(col("a.text")).as("text"))
    val base = d.union(hosts).union(quotes)
    val unconditional = graft.ops.Curation.curateScoped(base, spanStage = true)(
      _.collect().map(_.getLong(0)).toSet)
    val covered = graft.ops.Curation.curateScoped(base, spanStage = true,
      spanPolicy = "covered")(_.collect().map(_.getLong(0)).toSet)
    val hostIds = hosts.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val quoteIds = quotes.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // the covered policy must drop every pure-quote doc that paired
    assert((covered & quoteIds).isEmpty,
      s"mostly-quote docs survived covered policy: ${covered & quoteIds}")
    // and must keep hosts the unconditional policy throws away
    val savedHosts = (covered & hostIds) -- unconditional
    assert(savedHosts.nonEmpty,
      s"covered saved no host (covered kept ${(covered & hostIds).size}, " +
        s"unconditional kept ${(unconditional & hostIds).size})")
    // both policies are span-stage-only refinements: neither invents
    // survivors outside the span-off result
    val spanOff = graft.ops.Curation.curateScoped(base)(
      _.collect().map(_.getLong(0)).toSet)
    assert(covered.subsetOf(spanOff) && unconditional.subsetOf(spanOff))
  }

  test("strip mode cuts quotes to nothing but keeps hosts by content volume") {
    val out = Queries.curationStripQ(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    val ids = out.keySet
    // pure-quote plants (+80000) whose SOURCE survived curation are a
    // structural token-subset of it: every gram is a later occurrence,
    // so the rebuild cuts them to nothing and the volume floor drops them
    val cutQuotes = ids.filter(id => id >= 80000 && id < 90000 &&
      ids.contains(id - 80000))
    assert(cutQuotes.nonEmpty, "no pure-quote plant with surviving source")
    cutQuotes.foreach { id =>
      val (_, nKept, keep) = out(id)
      assert(nKept == 0L && !keep, s"quote $id survived the strip: $nKept")
    }
    // at least one host (+70000) keeps its unique rotated half: the doc
    // survives with MOST of its tokens — dedup that preserves volume
    val keptHosts = ids.filter(id => id >= 70000 && id < 80000)
      .filter(id => { val (n, k, keep) = out(id); keep && k * 2 > n })
    assert(keptHosts.nonEmpty, "no host kept a majority of its tokens")
  }

  test("LM stage drops stopword-laced gibberish that every earlier stage keeps") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    def chunks(m: org.apache.spark.sql.Column) = concat_ws(" ",
      (0 until 8).map(j => substring(m, 1 + 4 * j, 4)): _*)
    val idStr = col("doc_id").cast("string")
    val plants = docs.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 90000).as("doc_id"),
        concat_ws(" ", lit("the"), chunks(md5(idStr)),
          lit("and"), chunks(md5(concat(idStr, lit("x")))),
          lit("of"), chunks(md5(concat(idStr, lit("y")))),
          lit("to a")).as("text"))
    val base = docs.union(plants)
    val ref = Some(graft.sources.Tables.documents(spark, sf)
      .filter(col("lang") === "en").select(col("doc_id"), col("text")))
    val without = graft.ops.Curation.curate(base)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val withLm = graft.ops.Curation.curate(base, lmRef = ref)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val plantIds = plants.select("doc_id").collect().map(_.getLong(0)).toSet
    // gates + exact + LSH all keep the gibberish (it is stopword-laced,
    // punctuation-free, high-distinct, and textually unique)…
    assert((plantIds -- without).isEmpty,
      s"plants must survive the non-LM pipeline: missing ${(plantIds -- without).take(5)}")
    // …only the LM stage catches it, and it catches ALL of it
    assert((withLm & plantIds).isEmpty,
      s"LM stage must drop every plant: kept ${(withLm & plantIds).take(5)}")
    // fluent documents are untouched by the stage
    assert((without -- plantIds) == withLm)
  }

  test("curateScoped releases its cache; curate matches it") {
    import graft.ops.Curation
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val scopedRows = Curation.curateScoped(docs)(_.collect().toSeq.sortBy(_.getLong(0)))
    // every RDD the scoped run pinned has been released again
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty, s"leaked cache entries: ${after -- before}")
    // and the scoped result is the same rows the session-cached form gives
    val (result, handle) = Curation.curateWithHandle(docs)
    try assert(result.collect().toSeq.sortBy(_.getLong(0)) == scopedRows)
    finally handle.unpersist(blocking = false)
  }
}
