package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-data curation: the composition every LLM data
  * pipeline runs over its raw corpus, as one declarative plan —
  *
  *   language gate → quality gate → exact dedup → near-dup removal
  *   (MinHash-LSH) → deterministic stratified split
  *
  * Scale shape (the reason each stage is written the way it is):
  * gates are narrow codegen'd column expressions (no shuffle); exact
  * dedup shuffles 16-byte md5 keys, not documents; near-dup candidates
  * come from the LSH band equi-join (never an all-pairs product) and
  * only candidate pairs fetch shingle sets for verification; the split
  * is a pure hash of doc_id — reproducible across runs, engines, and
  * cluster sizes, with no RNG state.
  *
  * docs(doc_id, text) → kept rows (doc_id, quality, split), over a
  * bounded corpus: [[curate]], [[curateWithHandle]] and [[curateScoped]]
  * run the one pipeline, which the q_curation* queries call.
  * Near-dup policy: for every verified pair (a, b) with a < b, the
  * larger id is dropped — deterministic, order-free, and safe under
  * chains (b~c with no a: c drops, b survives).
  *
  * Thresholds are part of the oracle contract (SparkEntry mirrors them
  * verbatim in the DuckDB SQL).
  */
object Curation {

  /** Minimum composite quality score (TextOps.qualityScore, 6dp). */
  val QualityMin = 0.55

  /** Near-dup verification threshold (shingle Jaccard, 6dp). */
  val JaccardMin = 0.5

  /** Span-dedup stage thresholds: pairs sharing ≥ [[SpanMinShared]]
    * winnowing fingerprints after dropping corpus-boilerplate
    * fingerprints (df > [[SpanMaxDocFreq]]). The floor is calibrated to
    * the winnowing density 2/(w+1): a ~30-token verbatim run yields
    * ~0.4·28 ≈ 11 distinct fingerprints, so 8 rare shared fingerprints
    * is strong quote evidence while q_winnow's pair-REPORTING floor
    * (20) would silently pass 30-token quotes through a DROP stage.
    */
  val SpanMinShared = 8
  val SpanMaxDocFreq = 20

  /** Coverage floor for the `covered` span policy: a doc is dropped
    * only when the shared span accounts for ≥ this fraction of ITS OWN
    * fingerprints (Dedup.winnowPairsCoverage). 0.5 = "the doc is at
    * least half verbatim-shared material": a mostly-quote doc is
    * dropped, a 1000-token host citing a 30-token quote is kept —
    * the distinction the unconditional drop-larger-id policy can't
    * make.
    */
  val SpanMinCoverage = 0.5

  /** LM-stage keep floor: mean per-bigram Stupid-Backoff log-prob
    * under the REFERENCE model must be >= -8.0 (micro-units). Fluent
    * in-domain text sits around -3..-4; OOV-dense gibberish lands near
    * ln(0.4)+ln(1/(N+V)) ~ -11 — the threshold splits the two modes
    * with wide margin on both sides.
    */
  val LmPerBigramMicro = -8000000L

  /** Language + quality gates as one narrow codegen'd projection+filter.
    *
    * Each language score counts ~5 stopword substrings (2 string scans
    * each). Projected ONCE behind an eval-once barrier: without it,
    * CollapseProject inlines every score 4-5x into the langId CASE and
    * the resulting filter both blows past codegen method limits
    * (interpreted fallback) and re-scans the text dozens of times per
    * row. The CASE then runs over four tiny long columns. Stateless —
    * works identically on batch and streaming inputs.
    */
  def gate(docs: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.eval_once
    val scores = TextOps.LangStopwords.map { case (l, _) =>
      eval_once(TextOps.langScore(col("text"), l)).as(s"s_$l")
    }
    val scored = docs
      .select(col("doc_id") +: col("text") +: scores :+
        eval_once(TextOps.qualityScore(col("text"))).as("quality"): _*)
    val en = col("s_en"); val es = col("s_es"); val de = col("s_de"); val zh = col("s_zh")
    scored
      .filter(en >= es && en >= de && en >= zh && en > 0 && col("quality") >= QualityMin)
      .select(col("doc_id"), col("text"), col("quality"))
  }

  /** curate + ALL persist handles backing it (head = the exact-dedup
    * stage; span mode adds the duplicate-sized near-drop id set) —
    * unpersist them once the result has been consumed.
    */
  private def curatePipeline(docs: DataFrame, spanStage: Boolean,
      spanPolicy: String = "all",
      lmRef: Option[DataFrame] = None): (DataFrame, Seq[DataFrame]) = {
    require(spanPolicy == "all" || spanPolicy == "covered",
      s"unknown span policy '$spanPolicy' (all | covered)")
    val gated = gate(docs)
    // exact dedup: keep the min doc_id of each identical-text group —
    // ONE hash exchange (window over md5) instead of a groupBy +
    // semi-join that would re-execute the scoring subtree per branch
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    // Persisted (MLlib-style): the LSH stage consumes this subtree three
    // times (signatures + both sides of the candidate verify join) and
    // the final anti-join a fourth — without persist, each consumer
    // re-runs the scan, gates and dedup shuffle. Spills to disk if the
    // curated working set outgrows memory.
    val exactKept = gated
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // near-dup removal: LSH candidates, Jaccard-verified; drop doc_b
    val nearDropPlan = Dedup
      .minhashLsh(exactKept.select(col("doc_id"), col("text")), JaccardMin)
      .select(col("doc_b").as("doc_id")).distinct()
    // span mode consumes the LSH survivors TWICE (winnow fingerprints +
    // the final anti-join); nearDrop is duplicate-sized, so persisting
    // IT (not the survivor rows) makes the second consumption one cheap
    // anti-join over the already-cached exact stage instead of a full
    // re-run of the LSH verify chain.
    val nearDrop =
      if (spanStage)
        nearDropPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else nearDropPlan
    val lshKept = exactKept.join(nearDrop, Seq("doc_id"), "left_anti")
    // optional SPAN-dedup stage: winnowing fingerprints over the LSH
    // survivors catch positional quotes (a long shared token run inside
    // otherwise-different text) that whole-doc Jaccard scores below
    // threshold — drop the larger id of each span pair, same
    // deterministic chain-safe policy as the LSH stage. Runs AFTER the
    // LSH anti-join, so it only fingerprints already-deduped survivors.
    val kept =
      if (!spanStage) lshKept
      else {
        // `all`: every span pair drops its larger id (aggressive span
        // dedup). `covered`: drop only docs that are THEMSELVES mostly
        // the shared span (coverage ≥ SpanMinCoverage) — a host citing
        // a short quote keeps its original content; when both sides are
        // covered, keep-one semantics drop the larger id.
        val spanDrop = (spanPolicy match {
          case "all" =>
            Dedup.winnowPairs(lshKept.select(col("doc_id"), col("text")),
                k = 3, w = 4, minShared = SpanMinShared, maxDocFreq = SpanMaxDocFreq)
              .select(col("doc_b").as("doc_id"))
          case "covered" =>
            // one pass over the pair rows (a two-branch union would
            // execute the whole winnow-pair subtree twice): each pair
            // contributes doc_b when covered, else doc_a when only it
            // is covered — the same keep-one rule as the SQL oracle
            Dedup.winnowPairsCoverage(
                lshKept.select(col("doc_id"), col("text")),
                k = 3, w = 4, minShared = SpanMinShared, maxDocFreq = SpanMaxDocFreq)
              .select(explode(array(
                when(col("cov_b") >= SpanMinCoverage, col("doc_b")),
                when(col("cov_a") >= SpanMinCoverage &&
                  col("cov_b") < SpanMinCoverage, col("doc_a")))).as("doc_id"))
              .filter(col("doc_id").isNotNull)
        }).distinct()
        lshKept.join(spanDrop, Seq("doc_id"), "left_anti")
      }
    val bucket = TextOps.portableHash64(concat(lit("split:"), col("doc_id"))) % 100
    // optional LM PERPLEXITY stage (CCNet shape): a Stupid-Backoff
    // bigram LM trained on a clean REFERENCE corpus scores every
    // survivor; docs whose exact-integer per-bigram score falls below
    // the threshold drop (gibberish / OOV-dense text that sails through
    // the stopword+quality gates). Training on a reference — never on
    // the survivors themselves — is essential: self-training gives any
    // unique bigram ln(1/1)=0, scoring gibberish as perfectly fluent.
    // Docs with < 2 tokens have no bigram stream and are kept.
    val lmKept = lmRef match {
      case None => kept
      case Some(ref) =>
        val (uni, bi, tot) = LanguageModel.train(ref, "text")
        val scored = LanguageModel.score(kept.select(col("doc_id"), col("text")),
          uni, bi, tot, "doc_id", "text", thrPerBigramMicro = LmPerBigramMicro)
        kept.join(scored.select(col("doc_id"), col("keep")), Seq("doc_id"), "left")
          .filter(coalesce(col("keep"), lit(true))).drop("keep")
    }
    val result = lmKept.select(
      col("doc_id"), col("quality"),
      when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"))
    (result, if (spanStage) Seq(exactKept, nearDrop) else Seq(exactKept))
  }

  /** curate + the persist handle backing it. The handle is the
    * MEMORY_AND_DISK-cached exact-dedup stage the returned plan reads
    * four times (LSH signatures, both verify-join sides, final
    * anti-join) — unpersist it once the result has been consumed.
    * NOTE span mode pins a SECOND (duplicate-sized) cache entry for the
    * near-drop ids with session lifetime — use [[curateScoped]] when
    * iterating over many inputs with the span stage on.
    */
  def curateWithHandle(docs: DataFrame, spanStage: Boolean = false,
      spanPolicy: String = "all",
      lmRef: Option[DataFrame] = None): (DataFrame, DataFrame) =
    curatePipeline(docs, spanStage, spanPolicy, lmRef) match { case (r, handles) => (r, handles.head) }

  /** LIFECYCLE: the cached exact-dedup stage lives until session end
    * (it cannot be unpersisted here — the returned plan consumes it
    * lazily). Re-running curate() on the SAME input is deduped by the
    * CacheManager; callers iterating over DIFFERENT inputs in one long
    * session should use [[curateScoped]] (or [[curateWithHandle]] and
    * unpersist themselves) so cache entries don't accumulate.
    */
  def curate(docs: DataFrame, spanStage: Boolean = false,
      spanPolicy: String = "all",
      lmRef: Option[DataFrame] = None): DataFrame =
    curateWithHandle(docs, spanStage, spanPolicy, lmRef)._1

  /** Scoped curation: runs `use` over the curated frame, then releases
    * the backing cache — the leak-free form for loops over many inputs.
    * `use` must CONSUME the frame (collect/write); a lazily-escaped plan
    * would re-execute the un-cached subtree per consumer afterwards.
    */
  def curateScoped[T](docs: DataFrame, spanStage: Boolean = false,
      spanPolicy: String = "all")(use: DataFrame => T): T = {
    val (result, handles) = curatePipeline(docs, spanStage, spanPolicy)
    try use(result)
    finally handles.foreach(_.unpersist(blocking = false))
  }
}
