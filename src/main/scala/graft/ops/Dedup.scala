package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines: exact (hash group-by),
  * n-gram Jaccard, MinHash+LSH, SimHash. All stages are expressed so the
  * expensive parts scale: shuffles happen on compact hash keys (never
  * full documents), signatures are computed with higher-order array
  * functions (no explode of shingles through a shuffle), and candidate
  * generation is band-bucket equi-join (LSH), not a cross join.
  */
object Dedup {

  // -------------------------------------------------------------- exact

  /** Exact dedup: group on md5(text) — 16-byte shuffle keys instead of
    * full documents; per group keep min doc_id + multiplicity.
    * (At 100 TB: this is one hash-partition shuffle of (hash, id) pairs.)
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), md5(col(textCol)).as("text_md5"))
      .groupBy(col("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  // ------------------------------------------------------ n-gram Jaccard

  /** Distinct 3-gram shingle set per doc (lowered), as portable 48-bit
    * hashes — one native pass (graft.functions.ShingleHashes). Downstream
    * set ops (Jaccard, MinHash) work on the hashes; with a 48-bit space,
    * within-pair collisions are ~|union|²/2^49 ≈ 10⁻⁹ — the oracle hashes
    * the same way, so results stay bit-identical.
    */
  def shingleSets(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      graft.functions.GraftFunctions.shingle_hashes(lower(col(textCol)), 3).as("shingles"))

  /** All-pairs n-gram Jaccard over a *small candidate set* (brute-force
    * verification path; at scale, candidates come from [[lshCandidates]]).
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val s = shingleSets(docs)
    val a = s.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val b = s.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("jaccard",
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  // ------------------------------------------------------- MinHash + LSH

  /** MinHash parameters — part of the oracle contract (mirrored verbatim
    * in the DuckDB SQL). p = 2^61-1; a_j < 2^13 keeps a_j*h < 2^61 for
    * the 48-bit portable hash (no int64 overflow on either engine).
    */
  val MinHashP: Long = 2305843009213693951L
  val MinHashA: Seq[Long] = Seq(3251L, 4093L, 5407L, 6659L, 7213L, 7919L, 6113L, 4931L)
  val MinHashB: Seq[Long] = Seq(1099511627776L, 2199023255552L, 3298534883328L,
    4398046511104L, 5497558138880L, 6597069766656L, 7696581394432L, 774056185856L)

  /** 8-hash MinHash signature per doc: explode shingles → codegen'd hash
    * → hash-aggregate of 8 mins keyed by doc_id.
    *
    * Why explode + groupBy instead of higher-order `aggregate` over the
    * shingle array: Spark's lambda functions (ArrayTransform/
    * ArrayAggregate) are CodegenFallback — 8 signature expressions would
    * interpret (and often re-evaluate) the md5 of every shingle. The
    * exploded form keeps md5+fold inside whole-stage codegen and the
    * HashAggregate does map-side partial mins, so the shuffle carries ONE
    * compact row per doc per partition — at 100 TB that's the cheapest
    * possible exchange (keys + 8 longs), not the shingle data.
    * (Docs with <3 words have no shingles → explode drops them → no
    * signature; otherwise they'd all collide on the init-value band.)
    */
  def minhashSignatures(shingled: DataFrame): DataFrame = {
    val hashed = shingled.select(col("doc_id"), explode(col("shingles")).as("h"))
    val sigCols = MinHashA.zip(MinHashB).zipWithIndex.map { case ((a, b), j) =>
      min((col("h") * a + b) % MinHashP).as(s"s$j")
    }
    hashed.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  /** LSH banding: 4 bands × 2 rows; band key = "j:s2j:s2j+1". Candidate
    * pairs = equi-join on band key (deduped) — the scale path that
    * replaces the O(n²) cross join.
    */
  def lshCandidates(sigs: DataFrame): DataFrame = {
    val bandKeys = (0 until 4).map(j =>
      concat_ws(":", lit(j), col(s"s${2 * j}"), col(s"s${2 * j + 1}")))
    val banded = sigs
      .select(col("doc_id"), explode(array(bandKeys: _*)).as("band"))
    val l = banded.select(col("band"), col("doc_id").as("doc_a"))
    val r = banded.select(col("band"), col("doc_id").as("doc_b"))
    l.join(r, Seq("band")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band-join →
    * verify candidates with exact Jaccard ≥ threshold.
    */
  def minhashLsh(docs: DataFrame, threshold: Double): DataFrame = {
    val shingled = shingleSets(docs)
    val cands = lshCandidates(minhashSignatures(shingled))
    val sa = shingled.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val sb = shingled.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("jaccard",
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm): per document, the MIN k-gram hash of every full
    * w-window of consecutive k-grams, deduplicated by value. Winnowing
    * guarantees any shared token run of length ≥ w + k − 1 yields at
    * least one SHARED fingerprint — positional span-level matching,
    * the complement of MinHash (whole-doc resemblance) and SimHash
    * (global bit profile): two docs sharing one long plagiarized
    * paragraph inside otherwise-different text score near zero Jaccard
    * but cannot escape a shared fingerprint.
    *
    * Output: (doc_id, fp) distinct. Scale shape: one token explode, a
    * per-doc ordered window (the SAME exchange the tokenize already
    * forced), distinct on (doc_id, fp) — rows ≈ tokens/w per doc.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col("doc_id"),
        posexplode(split(trim(lower(col("text"))), "\\s+")).as(Seq("pos", "tok")))
    val gram = (0 until k).map(i =>
      if (i == 0) col("tok") else lead(col("tok"), i).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val wWin = wOrd.rowsBetween(0, w - 1)
    toks
      .withColumn("gram", concat_ws(" ", gram: _*))
      .withColumn("ng", count(lit(1)).over(
        Window.partitionBy(col("doc_id")))) // token count per doc
      // full k-grams only (positions whose gram doesn't run off the end)
      .filter(col("pos") <= col("ng") - k)
      .withColumn("h", TextOps.portableHash64(col("gram")))
      .withColumn("fp", min(col("h")).over(wWin))
      .withColumn("nfull", count(lit(1)).over(wWin))
      .filter(col("nfull") === w) // full windows only
      .select(col("doc_id"), col("fp")).distinct()
  }

  /** Span-level near-dup pairs by shared winnowing fingerprints:
    * fingerprints occurring in more than `maxDocFreq` docs are dropped
    * first (corpus boilerplate — and the join fan-out bound: every
    * surviving fingerprint joins ≤ maxDocFreq² pairs), then doc pairs
    * sharing ≥ `minShared` fingerprints are emitted with the count.
    */
  def winnowPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
      minShared: Int = 5, maxDocFreq: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // df cap as a WINDOW over the fp partition, not a groupBy + join
    // back: same rows (fps is distinct (doc_id, fp), so the partition
    // count IS the doc frequency), but the fingerprint subtree is
    // scanned twice (the pair self-join) instead of three times, and
    // the window's fp hash partitioning is exactly what the self-join
    // needs — one exchange feeds both.
    val kept = winnowFingerprints(docs, k, w)
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("df") <= maxDocFreq)
      .select(col("doc_id"), col("fp"))
    kept.select(col("fp"), col("doc_id").as("doc_a"))
      .join(kept.select(col("fp"), col("doc_id").as("doc_b")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[winnowPairs]] plus per-doc COVERAGE: cov_a = n_shared / (total
    * fingerprints of doc_a), likewise cov_b — the signal a span-aware
    * drop policy needs. A 30-token quote inside a 1000-token host gives
    * the HOST a low coverage (the quote is a sliver of it) while a doc
    * that IS mostly the quote scores near 1.0 — so "drop only the
    * covered doc" keeps hosts that merely cite.
    *
    * Denominator choice: the doc's TOTAL fingerprint count (before the
    * df cap) — coverage measures how much of the DOCUMENT is the shared
    * span, so the denominator is the doc's size in fingerprint space,
    * not its rare subset. n_shared still counts rare fingerprints only
    * (boilerplate can't manufacture span evidence).
    *
    * Plan shape: one extra doc_id-partitioned count window between the
    * fingerprint distinct and the df window — no extra scan, no join
    * back; the per-doc count rides the pair rows and coverage is
    * derived after the duplicate-sized pair aggregate.
    */
  def winnowPairsCoverage(docs: DataFrame, k: Int = 3, w: Int = 4,
      minShared: Int = 5, maxDocFreq: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kept = winnowFingerprints(docs, k, w)
      .withColumn("nfp", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("df") <= maxDocFreq)
      .select(col("doc_id"), col("fp"), col("nfp"))
    kept.select(col("fp"), col("doc_id").as("doc_a"), col("nfp").as("nfp_a"))
      .join(kept.select(col("fp"), col("doc_id").as("doc_b"), col("nfp").as("nfp_b")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        min(col("nfp_a")).as("nfp_a"), min(col("nfp_b")).as("nfp_b"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("n_shared").cast("double") / col("nfp_a"), 6).as("cov_a"),
        round(col("n_shared").cast("double") / col("nfp_b"), 6).as("cov_b"))
  }

  /** Broder CONTAINMENT pairs (|A∩B|/|A| — the asymmetric companion of
    * resemblance): detects near-SUPERSET relations (a doc quoting or
    * aggregating another) that plain Jaccard misses — an aggregator of
    * two docs has resemblance ≈ 0.5 to each part but containment ≈ 1.0
    * in the part→whole direction. Output keeps BOTH directions
    * (cont_a_in_b, cont_b_in_a), filtered on the max — no asymmetric
    * direction pick, so the row set is order-free and hash-stable.
    *
    * Candidates come from the same MinHash band join as [[minhashLsh]],
    * which recalls by RESEMBLANCE — a tiny doc inside a huge one can
    * escape the bands even at containment 1.0. That is the documented
    * trade of reusing the symmetric sketch; a production
    * containment-first search sketches the contained side alone
    * (one-sided sampling). For aggregation/quote detection among
    * comparable-size docs (resemblance ≥ ~0.4) the band join recalls
    * deterministically, and every emitted pair is verified exactly.
    */
  def containmentPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val shingled = shingleSets(docs)
    val cands = lshCandidates(minhashSignatures(shingled))
    val sa = shingled.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val sb = shingled.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("cont_a_in_b", round(col("inter") / size(col("sh_a")), 6))
      .withColumn("cont_b_in_a", round(col("inter") / size(col("sh_b")), 6))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cont_a_in_b"), col("cont_b_in_a"))
  }

  /** ONE-SIDED containment search — the recall gap [[containmentPairs]]
    * declares, closed: find every (probe doc A, corpus doc B) with
    * |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥ threshold, including
    * the flagship case the symmetric band join provably degrades on —
    * a SMALL doc quoted inside a much LARGER one, where resemblance
    * (≈|A|/|B|) is far below any band's recall but containment ≈ 1.
    *
    * Candidates come from a BOTTOM-K sketch of the CONTAINED side only
    * (Broder's one-sided sampling, in its deterministic bottom-k form:
    * A's k smallest shingle hashes — `array_sort` + `slice`, a narrow
    * per-row projection, no window), probed against a full shingle
    * POSTING table of the corpus. If A ⊆ B, every sampled shingle of A
    * is in B's postings, so recall for exact subsets is structural —
    * independent of |B|/|A| — and a near-subset misses each sample
    * independently with probability ≤ 1 − containment. Tiny docs stay
    * recallable: the hit floor is min(minHits, |sample|).
    *
    * Scale shape: the posting table is the inverted index a corpus
    * search system materializes anyway — (h, corpus_id), size
    * Σ|shingles|, written once and bucketed by h in production
    * (`df.write.bucketBy(...)`) so each probe batch shuffles only its
    * k·|probe| sample rows. Fan-out per sample row is df(h), capped by
    * dropping posting hashes with df > maxDocFreq (the winnowPairs
    * boilerplate cap) at the declared cost: a probe whose k smallest
    * shingles are ALL corpus boilerplate loses recall — the overlap
    * class dedup pipelines deliberately ignore. Every candidate with
    * ≥ min(minHits, |sample|) hits is verified EXACTLY on the full
    * shingle sets; the emitted rows carry true containment.
    */
  def containmentVersusCorpus(probe: DataFrame, corpus: DataFrame,
      threshold: Double, k: Int = 8, minHits: Int = 2,
      maxDocFreq: Int = 1000): DataFrame =
    containmentVersusCorpusPrebuilt(probe,
      containmentPostingTable(corpus, maxDocFreq),
      shingleSets(corpus), threshold, k, minHits)

  /** The materializable corpus side of one-sided containment search:
    * the inverted shingle index (h, corpus_id), with the document-
    * frequency cap applied at BUILD time (identical semantics to the
    * inline path's per-call cap — the cap is a property of the corpus,
    * so pay its aggregate once, not per probe batch). Write it with
    * `df.write.bucketBy(N, "h")` as a table and every probe
    * batch's candidate join shuffles ONLY the k·|probe| sample rows —
    * the posting side is a sorted-bucket columnar scan, never
    * re-shuffled or re-exploded. Companion doc-side store for the
    * exact-verify join: `shingleSets(corpus)` (bucket by doc_id); the
    * verify fetch is candidate-sized.
    */
  def containmentPostingTable(corpus: DataFrame, maxDocFreq: Int = 1000): DataFrame = {
    val postings = shingleSets(corpus)
      .select(col("doc_id").as("corpus_id"), explode(col("shingles")).as("h"))
    val rare = postings.groupBy(col("h"))
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxDocFreq)
      .select(col("h"))
    postings.join(rare, "h").select(col("h"), col("corpus_id"))
  }

  /** One-sided containment search against a PREBUILT posting table
    * ([[containmentPostingTable]], ideally h-bucketed on disk) and a
    * corpus shingle store (`shingleSets(corpus)` shape, ideally
    * doc_id-bucketed) — the continual-ingest form of one-sided
    * containment: per-probe-batch work is the batch's
    * own shingling + a sample-row join into sorted posting buckets +
    * a candidate-sized verify fetch. Same output contract as
    * [[containmentVersusCorpus]].
    */
  def containmentVersusCorpusPrebuilt(probe: DataFrame, postings: DataFrame,
      corpusShingles: DataFrame, threshold: Double,
      k: Int = 8, minHits: Int = 2): DataFrame = {
    val shP = shingleSets(probe)
    val sampled = shP.select(col("doc_id"),
      slice(array_sort(col("shingles")), 1, k).as("sample"))
    val probes = sampled.select(col("doc_id"),
      size(col("sample")).as("k_eff"), explode(col("sample")).as("h"))
    val cands = probes.join(postings, Seq("h"))
      .groupBy(col("doc_id"), col("corpus_id"))
      .agg(count(lit(1)).as("hits"), min(col("k_eff")).as("k_eff"))
      .filter(col("hits") >= least(lit(minHits), col("k_eff")))
    cands
      .join(shP.select(col("doc_id"), col("shingles").as("sh_p")), "doc_id")
      .join(corpusShingles.select(col("doc_id").as("corpus_id"),
        col("shingles").as("sh_c")), "corpus_id")
      .withColumn("containment",
        round(size(array_intersect(col("sh_p"), col("sh_c"))).cast("double") /
          size(col("sh_p")), 6))
      .filter(col("containment") >= threshold)
      .select(col("doc_id"), col("corpus_id"), col("containment"))
  }

  /** Incremental dedup: verified near-dup matches of a NEW batch
    * against an EXISTING corpus — the continual-ingest primitive (every
    * training-data pipeline dedups each incoming crawl against the
    * already-curated corpus, not against itself).
    *
    * Returns (new_id, corpus_id, jaccard) for every verified match;
    * anti-join the batch against it to keep only novel documents.
    *
    * Scale posture: both sides run the same signature pipeline, but the
    * corpus side is STATIC — in production you materialize its
    * (band, doc_id) table once (bucketed by band,
    * `df.write.bucketBy(...)`) so each delta batch's candidate join
    * shuffles ONLY the delta. The batch side is small by definition, so
    * the verify join's shingle fetch is batch-sized too. Per-ingest
    * cost: delta-sized SHUFFLE + one sequential columnar SCAN of the
    * corpus band table (sorted buckets, no sort/exchange) — the corpus
    * is read but never re-shuffled or re-signed.
    */
  def newVersusCorpus(newDocs: DataFrame, corpus: DataFrame, threshold: Double): DataFrame = {
    val shNew = shingleSets(newDocs)
    val shCorp = shingleSets(corpus)
    val bandsOf = (sh: DataFrame) => {
      val sigs = minhashSignatures(sh)
      val bandKeys = (0 until 4).map(j =>
        concat_ws(":", lit(j), col(s"s${2 * j}"), col(s"s${2 * j + 1}")))
      sigs.select(col("doc_id"), explode(array(bandKeys: _*)).as("band"))
    }
    val cands = bandsOf(shNew).select(col("band"), col("doc_id").as("new_id"))
      .join(bandsOf(shCorp).select(col("band"), col("doc_id").as("corpus_id")), Seq("band"))
      .select(col("new_id"), col("corpus_id")).distinct()
    cands
      .join(shNew.select(col("doc_id").as("new_id"), col("shingles").as("sh_n")), "new_id")
      .join(shCorp.select(col("doc_id").as("corpus_id"), col("shingles").as("sh_c")), "corpus_id")
      .withColumn("jaccard",
        round(size(array_intersect(col("sh_n"), col("sh_c"))).cast("double") /
          size(array_union(col("sh_n"), col("sh_c"))), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /** Exact dedup of an ingest batch against a static corpus with a
    * BROADCAST BLOOM pre-filter — the companion of [[newVersusCorpus]]
    * for byte-identical duplicates.
    *
    * Why not a plain semi-join: at 100 TB the corpus side of a
    * batch⋈corpus join either shuffles the corpus keys (O(corpus) per
    * ingest) or must already be bucketed. A Bloom filter of the corpus
    * md5s (~1.2 GB per 10⁹ keys at 1% fpp) broadcasts once and turns
    * the batch-side scan into a narrow filter; only Bloom HITS — true
    * dups plus the fpp sliver — reach the verify join, so its batch
    * side is duplicate-sized, not batch-sized. False positives cost
    * verify work only; the OUTPUT is exact (the join confirms every
    * match), which keeps the operator fully oracle-checkable.
    *
    * Returns one row per batch doc: (new_id, corpus_id nullable) with
    * corpus_id = min corpus doc carrying identical text.
    */
  def exactVersusCorpusBloom(newDocs: DataFrame, corpus: DataFrame,
      expectedCorpusItems: Long, fpp: Double = 0.01): DataFrame = {
    val spark = newDocs.sparkSession
    require(expectedCorpusItems > 0,
      "expectedCorpusItems must be positive — pass an APPROXIMATE count " +
        "(overestimates only lower the realized fpp; never run an exact " +
        "count() just for sizing) or use estimatedRows(corpus)")
    val corpusKeys = corpus.select(md5(col("text")).as("k"), col("doc_id"))
    val bloom = corpusKeys.stat.bloomFilter("k", math.max(expectedCorpusItems, 1L), fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val keyed = newDocs.select(col("doc_id").as("new_id"), md5(col("text")).as("k"))
    // native codegen'd probe (no ScalaUDF node): md5(text) is never
    // null here, and a null key would be dropped by filter() under
    // either the UDF's `false` or the expression's null — same rows
    val hits = keyed.filter(
        graft.functions.GraftFunctions.bloom_might_contain(bc, col("k")))
      .join(corpusKeys.groupBy(col("k")).agg(min(col("doc_id")).as("corpus_id")), "k")
      .select(col("new_id"), col("corpus_id"))
    keyed.select(col("new_id")).join(hits, Seq("new_id"), "left")
  }

  /** [[exactVersusCorpusBloom]] with Bloom sizing derived from the
    * corpus' PLAN STATISTICS instead of an exact `count()` action — at
    * the operator's 100 TB posture a sizing count alone would double
    * the corpus read (the bloom build is already one full scan).
    */
  def exactVersusCorpusBloom(newDocs: DataFrame, corpus: DataFrame,
      fpp: Double): DataFrame =
    exactVersusCorpusBloom(newDocs, corpus, estimatedRows(corpus), fpp)

  /** Overestimate of a frame's row count from Catalyst plan statistics —
    * costs NO job. Uses the CBO `rowCount` when table stats exist;
    * otherwise divides the relation's `sizeInBytes` (for parquet, the
    * on-disk file size) by a floor bytes-per-row. Dividing by a FLOOR
    * deliberately overestimates rows, which for Bloom sizing only lowers
    * the realized fpp (bits scale linearly with the estimate) — callers
    * with a tighter approximate count should pass it explicitly.
    */
  def estimatedRows(df: DataFrame, minRowBytes: Long = 64L): Long = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount.map(_.toLong)
      .getOrElse((stats.sizeInBytes / minRowBytes).toLong)
      .max(1L)
  }

  // ------------------------------------------------------------- SimHash

  /** 16-bit SimHash over distinct word hashes (bit k set when the
    * majority vote of ((h>>k)&1)*2-1 is positive).
    *
    * Same explode + hash-aggregate shape as [[minhashSignatures]] and for
    * the same reason: the 16 bit-vote sums stay inside whole-stage
    * codegen with map-side partial aggregation (shuffle = doc_id + 16
    * longs), instead of 16 interpreted lambda folds per document.
    */
  def simhash16(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // n=1 shingles = distinct words; hashing after distinct == distinct hashes
    val hashed = docs.select(col(idCol),
      explode(graft.functions.GraftFunctions.shingle_hashes(lower(col(textCol)), 1)).as("h"))
    // Lane packing: 16 bit-counters folded into 4 longs of 4×16-bit lanes
    // (a doc has <2^16 distinct words, so lanes cannot carry into each
    // other). 4 sums + a count instead of 16 sums — half the generated
    // aggregate code, same one-pass map-side-combined shape.
    val lanes = (0 until 4).map { g =>
      sum((0 until 4).map { j =>
        shiftleft(shiftright(col("h"), 4 * g + j).bitwiseAND(lit(1L)), 16 * j)
      }.reduce(_ + _)).as(s"g$g")
    }
    val counted = hashed.groupBy(col(idCol))
      .agg(lanes.head, (lanes.tail :+ count(lit(1)).as("n")): _*)
    // bit k (= 4g+j) set iff 2*cnt_k > n  (same strict-majority vote)
    val simhash = (0 until 16).map { k =>
      val (g, j) = (k / 4, k % 4)
      val cnt = shiftright(col(s"g$g"), 16 * j).bitwiseAND(lit(0xffffL))
      when(cnt * 2 > col("n"), lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)
    counted.select(col(idCol), simhash.as("simhash"))
  }

  /** Near-dup pairs by SimHash hamming distance ≤ maxDist over a small
    * candidate set — brute-force all-pairs; the verification baseline
    * for [[simhashPairsBlocked]], which is the scale path.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int): DataFrame = {
    val s = simhash16(docs)
    val a = s.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = s.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** SAME OUTPUT as [[simhashPairs]] (maxDist ≤ 3), computed without the
    * O(n²) product: split the 16-bit simhash into 4 nibbles — by
    * pigeonhole, ≤3 differing bits cannot touch all 4 nibbles, so every
    * qualifying pair shares at least one (position, nibble) band.
    * Candidates come from the band equi-join (Σ|band bucket|² rows, not
    * n²), duplicates from multi-band agreement are removed by keeping
    * only the MIN matching band position (stateless, no distinct
    * shuffle), and the exact hamming check runs on the joined row. The
    * recall guarantee is structural (pigeonhole), not probabilistic —
    * unlike MinHash banding this can never miss a qualifying pair.
    */
  def simhashPairsBlocked(docs: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist <= 3, "4-nibble banding guarantees recall only for hamming <= 3")
    val s = simhash16(docs)
    def nib(j: Int) = shiftright(col("simhash"), 4 * j).bitwiseAND(lit(15L))
    val banded = s.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("pos"), nib(j).as("v"))): _*)).as("band"))
      .select(col("doc_id"), col("simhash"),
        col("band.pos").as("pos"), col("band.v").as("v"))
    val l = banded.select(col("pos"), col("v"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val r = banded.select(col("pos"), col("v"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    l.join(r, Seq("pos", "v")).filter(col("doc_a") < col("doc_b"))
      // min matching band position: dedup multi-band hits without a
      // distinct — a pair's matching positions are a pure function of
      // (sh_a, sh_b), recomputed cheaply on the joined row
      .filter {
        val matches = (0 until 4).map(j =>
          when(shiftright(col("sh_a"), 4 * j).bitwiseAND(lit(15L)) ===
            shiftright(col("sh_b"), 4 * j).bitwiseAND(lit(15L)), lit(j)).otherwise(lit(99)))
        col("pos") === least(matches: _*)
      }
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  // --------------------------------------------------- dedup clustering

  /** Connected components of the near-dup pair graph: label every doc
    * with the MINIMUM doc_id reachable from it, so a whole duplicate
    * cluster collapses to one canonical keeper — the transitive closure
    * the pairwise drop policies approximate.
    *
    * Min-label propagation (the GraphX/GraphFrames CC algorithm shape):
    * each round, every node takes the min of its own label and its
    * neighbors' labels — two shuffles per round, state is one (node,
    * label) row per node. Rounds needed = graph diameter (near-dup
    * clusters are shallow; maxIter is a safety bound). Each round
    * localCheckpoints the label table: iterative lineage otherwise
    * re-executes all previous rounds (same lesson as Similarity.kmeans,
    * but the label table is O(nodes) — too big to collect, so cut
    * lineage executor-side instead of driver-side).
    */
  /** Pair-count threshold under which [[connectedComponents]] solves on
    * the driver (union-find over collected edges) instead of running the
    * distributed label-propagation loop. Sized for the REAL driver
    * footprint, not raw-long arithmetic: 1M pairs collect as ~32 MB of
    * primitive-specialized tuples, and the union-find HashMap holds up
    * to 2M boxed (node → parent) entries ≈ ~160 MB transient heap —
    * comfortable on any driver, while the loop's fixed cost (2 joins +
    * a checkpoint + a fixpoint probe per round) is pure overhead at
    * that size. Verified near-dup pairs are SPARSE relative to the
    * corpus (Jaccard-verified dups, not candidates), so even 100 TB
    * corpora often land under this; the distributed path stays the
    * general case.
    */
  val LocalCcMaxPairs: Long = 1L << 20

  /** Driver-side union-find with min-id labels — exact same output
    * contract as the distributed loop: every node labeled with the
    * minimum doc_id reachable from it.
    */
  private def localCc(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // Typed collect: primitive-specialized (Long, Long) tuples (~32 B on
    // heap per pair), not boxed GenericRows — LocalCcMaxPairs' sizing
    // assumes this. Callers guarantee LongType ids (connectedComponents
    // routes non-long schemas to the distributed loop).
    val edges = pairs.select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      // path compression
      var c = x
      while (parent.getOrDefault(c, c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    // union by MIN ROOT (not rank): keeps the invariant root == min id
    // of the set, which is the output label contract
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
      else ()
      // ensure isolated endpoints exist in the map even when already equal
      parent.putIfAbsent(a, find(a))
      parent.putIfAbsent(b, find(b))
    }
    val labels = {
      import scala.jdk.CollectionConverters._
      parent.keySet().asScala.toSeq.map(n => (n, find(n)))
    }
    import spark.implicits._
    labels.toDF("doc_id", "cluster_id")
  }

  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // Hybrid strategy: the one cheap count on the (persisted) pair table
    // routes small graphs to the driver union-find — same labels, none
    // of the loop's per-round fixed cost. See LocalCcMaxPairs. The local
    // path is long-id-only (its union-find is primitive-long); any other
    // id type (int/string doc ids) takes the distributed loop, which is
    // type-generic.
    val longIds = Seq("doc_a", "doc_b").forall(c =>
      pairs.schema.find(_.name == c).exists(_.dataType ==
        org.apache.spark.sql.types.LongType))
    if (longIds &&
        pairs.limit((LocalCcMaxPairs + 1).toInt).count() <= LocalCcMaxPairs)
      return localCc(pairs)
    connectedComponentsDistributed(pairs, maxIter)
  }

  /** The distributed min-label-propagation loop — the ≥LocalCcMaxPairs
    * path, also directly testable against [[localCc]]'s output.
    */
  def connectedComponentsDistributed(pairs: DataFrame, maxIter: Int = 25): DataFrame =
      Checkpoints.scoped { s =>
    // Hash-partition the edge table on the join side ONCE before caching:
    // the cached scan keeps that partitioning, so each round's edges⋈labels
    // join shuffles only the (node,lbl) table — the edge table (the big
    // side at 100 TB) never moves again.
    val edges = s.persist(pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("src")))
    var checkpointed = s.checkpoint(edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")))
    var labels = checkpointed
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // Carry the previous label through the checkpoint so convergence is
      // a filter on `next` itself — no extra join (= one less O(nodes)
      // shuffle per round just to detect the fixpoint).
      val neighborMin = edges
        .join(labels.select(col("node").as("src"), col("lbl").as("src_lbl")), "src")
        .groupBy(col("dst").as("node"))
        .agg(min(col("src_lbl")).as("nbr_lbl"))
      val hop1 = labels.join(neighborMin, Seq("node"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl"),
          col("lbl").as("prev"))
      // Pointer jumping: additionally take the label OF my label (labels
      // are node ids, so lbl[lbl] is a join on the O(nodes) label table —
      // much cheaper than the edges join). Neighbor-min alone needs
      // O(diameter) rounds; the extra hop contracts label chains so long
      // paths converge in O(log diameter) — the difference between 25
      // and ~8 edge-table passes on a chain-shaped dup graph. The jump
      // reads the PREVIOUS round's table (`labels`, already
      // checkpointed): self-joining hop1 would re-execute its edges-join
      // subtree twice per round. Invariant kept: a label is always the
      // id of a node in the same component, so min-reachable-label
      // semantics are unchanged.
      val next = s.checkpoint(hop1.join(
          labels.select(col("node").as("lbl"), col("lbl").as("lbl2")), Seq("lbl"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("lbl2"), col("lbl"))).as("lbl"),
          col("prev")))
      converged = next.filter(col("lbl") =!= col("prev")).isEmpty
      // the old copy's last consumer was the join above — release its
      // RDD blocks now instead of waiting for the ContextCleaner
      s.release(checkpointed)
      checkpointed = next
      labels = next.select(col("node"), col("lbl"))
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        "(component propagation distance exceeds maxIter) — raise maxIter; " +
        "returning partial labels would be silently wrong")
    // the final checkpoint backs the returned labels
    s.keep(checkpointed)
    labels.select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
  }

  // -------------------------------------------- duplicate-substring spans

  /** Position-indexed k-gram hashes of every document: one row
    * (doc_id, pos, h) per FULL k-token window starting at 0-based
    * whitespace-token position `pos` of the lowered text. One token
    * explode + one per-doc ordered window (lead()-built grams — the
    * winnowFingerprints shape generalized to any k), 48-bit portable
    * hash so the oracle replays bit-identically.
    */
  def gramHashes(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wo = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val gram = (0 until k).map(i =>
      if (i == 0) col("tok") else lead(col("tok"), i).over(wo))
    docs
      .select(col("doc_id"),
        posexplode(split(trim(lower(col("text"))), "\\s+")).as(Seq("pos", "tok")))
      .withColumn("gram", concat_ws(" ", gram: _*))
      .withColumn("ng", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("pos") <= col("ng") - k)
      .select(col("doc_id"), col("pos"),
        TextOps.portableHash64(col("gram")).as("h"))
  }

  /** Global first-occurrence key: orders gram occurrences by
    * (doc_id, pos) as ONE long so min() is partial-aggregatable.
    * Contract: pos < 10^6 (a million tokens per doc) keeps the packing
    * collision-free — enforced with raise_error, not assumed (the
    * EditDistanceJoin maxLen pattern).
    */
  private val PosPack = 1000000L
  private def firstKey: Column =
    when(col("pos") < lit(PosPack), col("doc_id") * PosPack + col("pos"))
      .otherwise(raise_error(concat(
        lit("duplicateSpans: doc "), col("doc_id"),
        lit(" exceeds 1e6 tokens — split the document or raise PosPack"))))

  /** Exact duplicate-SUBSTRING removal spans — the ExactSubstr dedup of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better") re-expressed relationally. Every token position
    * opening a k-gram whose hash occurs EARLIER in the corpus (global
    * first-occurrence order = (doc_id, pos)) marks its k tokens as
    * duplicated; overlapping or ADJACENT marks merge into maximal
    * per-doc removal spans. Unlike whole-doc dedup (exact / MinHash)
    * or pair detection (winnowing), the output says WHAT TO CUT: the
    * corpus keeps exactly one copy of every duplicated run ≥ k tokens
    * and every doc survives with its unique content — the dedup mode
    * that preserves data volume instead of dropping documents.
    *
    * Where the paper builds a suffix array, the relational shape is a
    * single corpus-wide aggregation BY GRAM HASH: min(first-occurrence
    * key) is partial-aggregatable, so map-side combine absorbs hot
    * boilerplate grams (no row_number sort within skewed hash
    * partitions), and the join back is 1:1 against a
    * distinct-gram-sized table — AQE splits any residual skew. Span
    * assembly is one doc-partitioned window (the q_interval_merge
    * island pattern). Total: two exchanges beyond the scan, no
    * pairwise join anywhere — cost linear in corpus grams and
    * INDEPENDENT of duplication factor.
    *
    * Output: (doc_id, span_start, span_end, span_tokens) — inclusive
    * 0-based token positions, only docs with at least one span.
    */
  def duplicateSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    val grams = gramHashes(docs, k).withColumn("key", firstKey)
    val first = grams.groupBy(col("h")).agg(min(col("key")).as("first_key"))
    mergeSpans(grams.join(first, "h")
      .filter(col("key") =!= col("first_key")), k)
  }

  /** Interval-merge duplicate-gram marks (doc_id, pos) into maximal
    * per-doc spans — the q_interval_merge island pattern; adjacent
    * intervals merge (start ≤ prev_end + 1).
    */
  private def mergeSpans(dupMarks: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wo = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dupMarks
      .select(col("doc_id"), col("pos"), (col("pos") + (k - 1)).as("e"))
      .withColumn("prev_max",
        max(col("e")).over(wo.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("prev_max").isNull || col("pos") > col("prev_max") + 1, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("ni")).over(wo))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("e")).as("e"))
      .select(col("doc_id"),
        col("s").cast("long").as("span_start"),
        col("e").cast("long").as("span_end"),
        (col("e") - col("s") + 1).cast("long").as("span_tokens"))
  }

  /** Prebuilt gram-first index: h → earliest packed occurrence key in
    * the corpus — the index side of [[duplicateSpansVersusCorpus]].
    * Distinct-gram-sized; write once with
    * `df.write.bucketBy(N, "h")` as a table so every delta batch
    * joins into sorted buckets with no index-side shuffle (the
    * containmentPostingTable convention).
    */
  def gramFirstTable(corpus: DataFrame, k: Int = 8): DataFrame =
    gramHashes(corpus, k).withColumn("key", firstKey)
      .groupBy(col("h")).agg(min(col("key")).as("first_key"))

  /** Duplicate-substring spans of a DELTA batch against a prebuilt
    * corpus gram index — the continual-ingest twin of
    * [[duplicateSpans]] (the newVersusCorpus convention). A batch gram
    * occurrence is duplicated if its gram exists in the corpus AT ALL
    * (ingested corpus always precedes the delta) or occurred earlier
    * WITHIN the batch (packed-key minimum over the delta's own grams).
    * Per-batch work: the batch's gram pass, one delta-sized aggregate,
    * one 1:1 left join into the bucketed index, the island window —
    * the corpus is never re-scanned or re-hashed.
    */
  def duplicateSpansVersusCorpus(batch: DataFrame, corpusFirst: DataFrame,
      k: Int = 8): DataFrame = {
    val grams = gramHashes(batch, k).withColumn("key", firstKey)
    val first = grams.groupBy(col("h")).agg(min(col("key")).as("batch_first"))
    mergeSpans(grams
      .join(first, "h")
      .join(corpusFirst.select(col("h"), lit(1).as("in_corpus")), Seq("h"), "left")
      .filter(col("in_corpus").isNotNull || col("key") =!= col("batch_first")), k)
  }

  /** Rebuild every document with its [[duplicateSpans]] cut out. A
    * token at position p is covered iff some duplicate gram STARTS in
    * (p − k, p] — equivalently the running max of (dup-start + k − 1)
    * over positions ≤ p reaches p — so coverage is one more
    * doc-partitioned window over the token stream, NOT a range join
    * against the span table. Kept tokens re-join with single spaces
    * (tokenization already normalized whitespace).
    * Output: (doc_id, n_tokens, n_kept, text_clean) for every doc —
    * a fully-duplicated doc comes back with n_kept = 0 and empty text.
    */
  def stripDuplicateSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = gramHashes(docs, k).withColumn("key", firstKey)
    val first = grams.groupBy(col("h")).agg(min(col("key")).as("first_key"))
    val marks = grams.join(first, "h")
      .filter(col("key") =!= col("first_key"))
      .select(col("doc_id"), col("pos"), lit(1).as("dup"))
    val toks = docs.select(col("doc_id"),
      posexplode(split(trim(lower(col("text"))), "\\s+")).as(Seq("pos", "tok")))
    val wo = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    toks.join(marks, Seq("doc_id", "pos"), "left")
      .withColumn("run_end",
        max(when(col("dup") === 1, col("pos") + (k - 1))).over(wo))
      .withColumn("covered", coalesce(col("pos") <= col("run_end"), lit(false)))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(!col("covered"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(!col("covered"), struct(col("pos"), col("tok"))))),
            x => x.getField("tok")), " ").as("text_clean"))
  }

  // ------------------------------------------ paragraph-level exact dedup

  /** Fixed-width token-block segmentation: (doc_id, seg_idx, seg) —
    * the segment stream [[paragraphDedup]] consumes when a corpus
    * carries no natural paragraph breaks (the synthetic tables here
    * are newline-free; a web corpus would pass newline-split segments
    * instead — the op is agnostic to how segments were cut). One
    * narrow projection per doc: starts via `sequence`, segments via
    * `slice` on the tokenized array — no explode-then-regroup.
    */
  def segmentsByBlock(docs: DataFrame, block: Int = 20): DataFrame = {
    val w = split(trim(lower(col("text"))), "\\s+")
    docs.select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), size(col("w")) - 1, lit(block))).as("start"))
      .select(col("doc_id"),
        (col("start") / block).cast("long").as("seg_idx"),
        array_join(slice(col("w"), col("start") + 1, lit(block)), " ").as("seg"))
  }

  /** CCNet-style paragraph-level exact dedup (Wenzek et al. 2020,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data" — the per-paragraph hash dedup that removes
    * boilerplate headers/footers and quoted blocks corpus-wide): a
    * segment survives iff it is the FIRST occurrence of its hash in
    * global (doc_id, seg_idx) order; every document is rebuilt from
    * its surviving segments. Sits between whole-doc exact dedup (too
    * coarse: one shared paragraph doesn't make docs identical) and
    * gram-level ExactSubstr ([[duplicateSpans]], finer but ~k× the
    * hashing work): the unit of removal is the segment the caller
    * chose.
    *
    * Scale shape: one shuffle of (8-byte segment hash, packed key)
    * with a partial-aggregatable min — map-side combine absorbs hot
    * boilerplate paragraphs, the skew magnet of web corpora — then a
    * 1:1 join back against the distinct-segment-sized first-key table
    * and one per-doc aggregate for the rebuild. Nothing collected;
    * cost linear in corpus segments, independent of duplication
    * factor.
    *
    * Output: (doc_id, n_segs, n_kept, text_clean) for every input doc
    * with ≥1 segment; a fully-duplicated doc returns n_kept = 0 and
    * empty text.
    *
    * @param segments (doc_id, seg_idx, seg) — one row per paragraph
    *                 in document order (see [[segmentsByBlock]]).
    */
  def paragraphDedup(segments: DataFrame): DataFrame = {
    val keyed = segmentKeys(segments)
    val first = keyed.groupBy(col("h")).agg(min(col("key")).as("first_key"))
    rebuildFromFlags(keyed.join(first, "h")
      .withColumn("keep", col("key") === col("first_key")))
  }

  /** Hashed + first-occurrence-packed segment rows — shared by the
    * whole-corpus and incremental paragraph dedup paths.
    */
  private def segmentKeys(segments: DataFrame): DataFrame =
    segments.select(col("doc_id"), col("seg_idx"), col("seg"),
      TextOps.portableHash64(col("seg")).as("h"),
      when(col("seg_idx") < lit(PosPack), col("doc_id") * PosPack + col("seg_idx"))
        .otherwise(raise_error(concat(
          lit("paragraphDedup: doc "), col("doc_id"),
          lit(" exceeds 1e6 segments — raise PosPack")))).as("key"))

  /** Per-doc rebuild from keep-flagged segments: counts + surviving
    * text in segment order.
    */
  private def rebuildFromFlags(flagged: DataFrame): DataFrame =
    flagged.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("seg_idx"), col("seg"))))),
            x => x.getField("seg")), " ").as("text_clean"))

  /** Corpus-side paragraph-hash index: the distinct segment hashes of
    * the ingested corpus — what a delta batch probes. Distinct-
    * paragraph-sized; write once with `df.write.bucketBy(N, "h")` as
    * a table so every batch joins into sorted buckets with no
    * index-side shuffle (the gramFirstTable convention).
    */
  def paragraphHashTable(corpusSegments: DataFrame): DataFrame =
    segmentKeys(corpusSegments).select(col("h")).distinct()

  /** Paragraph dedup of a DELTA batch against a prebuilt corpus hash
    * index — the continual-ingest twin of [[paragraphDedup]] (the
    * newVersusCorpus convention). A batch segment is dropped if its
    * hash exists in the corpus AT ALL (ingested corpus always precedes
    * the delta) or occurred earlier WITHIN the batch. Per-batch work:
    * the batch's segment pass, one delta-sized aggregate, one 1:1 left
    * join into the bucketed index, the per-doc rebuild — the corpus is
    * never re-scanned or re-hashed.
    */
  def paragraphDedupVersusCorpus(batchSegments: DataFrame,
      corpusHashes: DataFrame): DataFrame = {
    val keyed = segmentKeys(batchSegments)
    val first = keyed.groupBy(col("h")).agg(min(col("key")).as("batch_first"))
    rebuildFromFlags(keyed
      .join(first, "h")
      .join(corpusHashes.select(col("h"), lit(1).as("in_corpus")), Seq("h"), "left")
      .withColumn("keep",
        col("in_corpus").isNull && col("key") === col("batch_first")))
  }

  // ------------------------------------ prefix-filtered exact all-pairs

  /** EXACT all-pairs Jaccard self-join via PREFIX FILTERING (the
    * AllPairs / PPJoin family — Bayardo, Ma, Srikant WWW'07; Xiao,
    * Wang, Lin, Yu WWW'08): every pair with
    * `|A∩B| / |A∪B| ≥ num/den` is emitted — 100% recall GUARANTEED,
    * the deterministic complement of [[minhashLsh]] (whose banding is
    * probabilistic: a qualifying pair can miss every band). The price
    * of exactness is paid in candidate generation, which prefix
    * filtering keeps subquadratic:
    *
    *  - order every doc's shingle hashes by GLOBAL document frequency
    *    ascending (rarest first; ties by hash — a total order, so the
    *    prefix is deterministic);
    *  - keep only the first `|X| − ⌈t·|X|⌉ + 1` of them (the prefix).
    *    Prefix-filtering principle: if J(A,B) ≥ t then
    *    `|A∩B| ≥ ⌈t·max(|A|,|B|)⌉`, and two sets overlapping that much
    *    cannot have disjoint prefixes — so the equi-join of prefixes
    *    over-approximates the answer;
    *  - candidate pairs additionally pass the LENGTH filter
    *    `num·max(|A|,|B|) ≤ den·min(|A|,|B|)` (J ≥ t forces
    *    min/max ≥ t) before the verify join.
    *
    * The threshold is a RATIONAL `num/den`, so every filter and the
    * final verify (`den·|A∩B| ≥ num·|A∪B|`) is exact integer
    * arithmetic — no float enters until the reported `jaccard` is
    * rounded for display. Scale shape: the df table is
    * distinct-shingle-sized (one map-combined count); the rank window
    * rides the doc_id exchange shingling already forced; the self-join
    * key is a prefix token, whose fan-out is bounded by that token's
    * document frequency — and prefix tokens are by construction the
    * RAREST tokens of each doc, which is what keeps the candidate set
    * near-linear on real corpora (the AllPairs observation). No
    * all-pairs product ever forms.
    */
  def allPairsExact(docs: DataFrame, num: Int, den: Int): DataFrame = {
    require(num > 0 && den > 0 && num <= den, "threshold must be in (0,1]")
    import org.apache.spark.sql.expressions.Window
    val sh = shingleSets(docs).filter(size(col("shingles")) > 0)
    val toks = sh.select(col("doc_id"), size(col("shingles")).as("n"),
      explode(col("shingles")).as("h"))
    val dfreq = toks.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // ⌈num·n/den⌉ as exact integers: (num·n + den − 1) div den. floor()
    // of the double quotient is safe (values ≪ 2^52) and returns LONG.
    val ceilTn = floor((lit(num) * col("n") + lit(den - 1)) / lit(den))
    val prefix = toks.join(dfreq, "h")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
      .filter(col("rk") <= col("n") - ceilTn + 1)
      .select(col("h"), col("doc_id"), col("n"))
    val cands = prefix.toDF("h", "doc_a", "n_a")
      .join(prefix.toDF("h", "doc_b", "n_b"), "h")
      .filter(col("doc_a") < col("doc_b") &&
        lit(num) * greatest(col("n_a"), col("n_b")) <=
          lit(den) * least(col("n_a"), col("n_b")))
      .select(col("doc_a"), col("doc_b")).distinct()
    val sa = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val sb = sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))).cast("long"))
      .filter(lit(den) * col("inter") >= lit(num) * col("uni"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / col("uni"), 6).as("jaccard"))
  }
}
