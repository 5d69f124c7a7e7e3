package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Formatted physical plans of registry queries, two ways:
  *  - `sbt "runMain graft.DumpPlans [sfDir] [outFile]"` regenerates
  *    PLANS.md: each flagship query's plan with a one-line note on the
  *    scale property its shape carries;
  *  - `sbt "runMain graft.DumpPlans files <outDir> <suffix> q_a,q_b [sfDir]"`
  *    writes one `<outDir>/<q>_<suffix>.txt` per named query — the
  *    before/after evidence trail of an optimization (`plans/r13/`).
  * AQE is disabled in both: plan SHAPE is what is recorded; production
  * re-plans at runtime on top of these shapes.
  */
object DumpPlans {

  val Flagships: Seq[(String, String)] = Seq(
    "q1_agg" -> "partial/final hash aggregate; pruned scan",
    "q_filter_project" -> "filter + projection pushed into the parquet scan (PushedFilters, ReadSchema)",
    "q_join_broadcast" -> "star join: all three dims broadcast, fact never shuffles",
    "q_topk" -> "TakeOrderedAndProject — top-k without a global sort",
    "q_hot_section" -> "log pipeline: one-pass native parse, broadcast dim join, partial agg, top-10",
    "q_salted_join" -> "skew-salted join: fact salts from its own column, dim side explodes salt range",
    "q_minhash_lsh" -> "native shingle hashes -> explode -> map-side partial-min signatures -> band equi-join",
    "q_asof_native" -> "custom AsOfJoinExec: one exchange per side, local sort, O(1)-state merge",
    "q_asof_bucketed" -> "skew-resistant as-of: (key, time-bucket) windows + carry-in candidates — no whole-key partition",
    "q_lateral" -> "lateral ORDER BY/LIMIT -> WindowGroupLimit partial rank pushdown before the exchange",
    "q_exists" -> "correlated EXISTS/NOT EXISTS -> broadcast LeftSemi/LeftAnti",
    "q_curation" -> "gates behind eval-once barriers; md5-window exact dedup; LSH near-dup; hash split",
    "q_knn_cosine" -> "normalize once, broadcast query side, native dot product",
    "q_freq_items" -> "Misra-Gries TypedImperativeAggregate: k-bounded sketch state, map-side partial merge",
    "q_resample" -> "generated calendar grid broadcast against pre-aggregated facts",
    "q_dedup_incremental" -> "batch-vs-corpus LSH: band equi-join between delta and static corpus signatures — delta-sized shuffle, corpus never re-shuffled",
    "q_dedup_bloom" -> "broadcast corpus-md5 bloom pre-filter; verify join sees only bloom hits (duplicate-sized)",
    "q_group_cap" -> "per-group hash cap: single window exchange, WindowGroupLimit partial rank pushdown",
    "q_simhash_blocked" -> "nibble-banded simhash pairs: band equi-join candidates (never n²), structural pigeonhole recall",
    "q_pagerank" -> "iterative graph: memoized edge table scanned per round; rank joins equi; count scalar broadcast",
    "q_triangles" -> "one-row result collected inside the query's checkpoint scope, so this plan is a LocalTableScan; the counting plan (Queries.trianglesScoped): degree-oriented wedges (sum C(outdeg,2)); closing edge probes the broadcast edge list — wedges never shuffle",
    "q_tpch5" -> "six-table star: every dimension broadcasts, only orders⋈lineitem moves fact-sized data",
    "q_mad" -> "per-type medians broadcast back; exact-integer robust gate; event side never shuffles",
    "q_decontaminate" -> "benchmark gram set broadcast; corpus probed by one narrow left join",
    "q_ann_multitable" -> "OR-amplified multi-table LSH: 192 codegen'd plane dots in one projection, narrow (t,code) equi-join candidates, exact-cosine rerank",
    "q_winnow" -> "winnowing fingerprints: one token explode, per-doc ordered windows (one exchange), df-capped fingerprint equi-join — span dedup without any pair explosion",
    "q_dedup_spans" -> "ExactSubstr removal spans: gram hashes off one per-doc window; first occurrence via partial-aggregatable min (map-side combine absorbs hot grams — no row_number sort skew); 1:1 join back; island-merge window. No pairwise join anywhere",
    "q_perceptron" -> "batch perceptron: hashed count table partitioned by doc_id once; weights live on the driver between passes (model-sized collects); scoring joins a broadcast LocalTableScan",
    "q_hits" -> "integer HITS: per half-round one equi-join + LONG partial-agg push sum (decimal only at the |V|-sized rescale); round max rides a 1-row broadcast",
    "q_ks_drift" -> "exact KS: map-side-combined (lang,value) counts; cumulative window over the VALUE SUPPORT partitioned by lang; argmax via min-struct — no per-row window, no float CDF",
    "q_attribution" -> "last-touch attribution: one user-partitioned last(ignoreNulls) window over the PRECEDING frame — no purchase-by-click range join at any scale",
    "q_ktruss" -> "k-truss peel: session-memoized wedge-support table as round 0 (shared with clustering coef + transitivity); per-round symmetrized semi-join peel over localCheckpointed edges",
    "q_cms_topk" -> "Count-Min sketch: 4x1024 counters from ONE partial-mergeable groupBy; top-20 probe joins the broadcast-sized sketch equi on (row, cell)",
    "q_ewma" -> "EWMA fixed-point: daily counts partial-agg, then ONE aggregate-HOF fold over the calendar-bounded day array — no window, no join",
    "q_funnel" -> "ordered funnel: per-stage conditional mins chained on the SAME user_id key — co-partitioned, no data-sized broadcast",
    "q_mannwhitney" -> "rank statistic over the VALUE SUPPORT: one singleton-key ordered walk over distinct values, never per-row ranks",
    "q_dq_checks" -> "DQ audit: all row constraints in ONE conditional aggregate over one scan; uniqueness one distinct; referential one anti-join",
    "q_split_leakage" -> "leakage audit: one filter over the memoized LSH pair table — candidates were already banded, the audit is free",
    "q_ngram_novelty" -> "novelty: per-side distinct gram tables (replication-invariant) + a keyed anti-join — posting work, never doc pairs",
    "q_ann_pq" -> "PQ/ADC: corpus reduced to m narrow codes; per-query LUT broadcast; ADC scan = one code-table equi-join + partial-agg integer sum; k-selection = partial BottomKLong aggregate (≤ k rows per query per partition to the merge) — raw vectors never enter the search",
    "q_ann_ivfpq" -> "IVFADC: coarse cells prune the scan — the (ivf_cell, s, cell) equi-join against the broadcast residual LUT reads only probed cells' codes (dynamic partition pruning when the code table is laid out by ivf_cell); ADC + selection as q_ann_pq",
    "q_mmr_ann" -> "MMR over the certified LSH front: candidate pool from the multi-table code probe (no corpus cross-join), pair sims and the greedy integer fold on the bounded checkpointed pool",
    "q_textrank" -> "TextRank: corpus-sized adjacency count partial-aggs to a vocab-bounded graph; pagerank iterations ride the small edge table; top-20 = TakeOrderedAndProject over the vocab rank table, rnk derived on the 20 survivors",
    "q_ann_pq_refine" -> "PQ + exact refine (RFlat): ADC code scan shortlists k'=10 per query (partial BottomKLong); ONLY those candidates' raw vectors fetched via broadcast joins — the corpus is never rescanned for the re-rank",
    "q_ann_hamming" -> "binary-hamming: corpus scanned through two 32-bit sign half-words (16 bytes/vector), bit_count(xor) distance, broadcast probe side, partial bottom-k selection — no window, no raw-vector join",
    "q_ann_sq8" -> "SQ8: 64-row dim-range model + query codes broadcast; corpus flows once through the per-dim equi-join; the integer pair sum partial-aggregates before its exchange; partial bottom-k selection",
    "q_kneser_ney" -> "Kneser-Ney: array-side bigram construction (no per-token shuffle) partial-aggs to the bigram-TYPE table; all KN statistics are aggregates over that type table; top-30 = TakeOrderedAndProject",
    "q_rake" -> "RAKE: one tokenize pass; phrase-id running count is a per-document window (doc-length bounded); word scores broadcast back; top-20 = TakeOrderedAndProject",
    "q_kruskal_wallis" -> "Kruskal-Wallis: one partial-agg fact pass to (group, value) cells; the 2x-midrank walk rides the ~50-row value support under a singleton key; H in decimal(38,0) integer arithmetic",
    "q_silhouette" -> "silhouette: 50-probe side broadcasts against one corpus pass; every pairwise distance 1e6-floored BEFORE the per-cell means so integer sums are accumulation-order-free",
    "q_label_model" -> "LF diagnostics: per-doc vote summary (n_votes, min, max) is ROW-LOCAL — one narrow corpus pass into a 3-group partial aggregate; no join anywhere",
    "q_betweenness" -> "Brandes: per-node delta reduce over the checkpointed level sweeps partial-aggs; top-20 = TakeOrderedAndProject — the forward/backward frontier joins are size-gated broadcasts inside the iterative build (not visible in this final-plan dump)",
    "q_kmv_overlap" -> "KMV: distinct (source, hash) partial-aggs, bottom-64 per source via the partial BottomKLong aggregate; pair estimates on 64-entry arrays; the exact side is the vocab-join certificate, not the scale path",
    "q_phash_dedup" -> "pHash dedup: signatures per-partition from payload bytes; byte-band equi-join candidates (pigeonhole for Hamming ≤ 6) — no all-pairs product; bit_count(xor) verify on candidates only",
    "q_span_corrupt" -> "span corruption: posexplode → narrow hash flag; sentinel ranks under a doc-partitioned window; input/target rebuilds are doc-keyed sorted-collect aggregates — no cross-doc shuffle beyond the doc groupBys",
    "q_shapley" -> "Shapley: ONE per-user touch-mask partial-agg reduce; the 16-row value table, subset and channel spines all broadcast; marginal sums are support-sized arithmetic",
    "q_dtw" -> "DTW: daily partial-agg to the calendar-bounded week table; all 49 DP cells are ONE codegen'd projection over the week-pair join — no UDF, no recursion, no window",
    "q_granger" -> "Granger: one daily partial-agg, one d+1 equi self-join; both model fits are 1-row Cramer solves in decimal(38,0); SSEs re-aggregate the checkpointed pair table with the fits broadcast",
    "q_discord" -> "discord windows: zero-filled hourly calendar; window build is an equi-join on the hour offset; pair distances partial-agg; top-3 = TakeOrderedAndProject — everything calendar-bounded",
    "q_knn_class" -> "LOO 3-NN eval: bounded probes broadcast against ONE corpus scan of e6-floored distances; 3-NN selection is the partial BottomKLong aggregate; majority vote on the 3-row-per-probe table",
    "q_cross_val" -> "3-fold CV: each fold trains on a fold-filtered hashed-count table (3 corpus passes total); scoring joins the broadcast model; accuracies are 1-row aggregates",
    "q_cem" -> "CEM: causal matching as pure group-bys — ONE user reduce, per-(bin, arm) cells, 1-row ATT readout; no per-pair matching join anywhere",
    "q_single_linkage" -> "single-linkage cuts: one banded candidate pass gated at the loosest threshold; each cut is a CC over the filtered checkpointed pair table",
    "q_forecast_eval" -> "forecast backtest: ONE fold over the sorted train array carries all four model states; the holdout joins the 1-row model broadcast; MAEs partial-agg",
    "q_vocab_tail" -> "vocab tail: map-side-combined type counts; every coverage cut is a TakeOrderedAndProject over one checkpointed top table — never a global rank window",
    "q_ann_ivfpq_pruned" -> "IVFADC from the ivf_cell-partitioned lake layout: probed-cell PartitionFilters on the code scan (directory pruning), broadcast LUT join, partial bottom-k",
    "q_ann_ivfpq_refine" -> "IVFADC,R: pruned ADC shortlist (k'=12) -> exact residual re-rank as a broadcast join against the |Q|*k'-row shortlist",
    "q_burstiness" -> "per-token Fano factors map-side combine; top-30 is a TakeOrderedAndProject (r9 fix: never a vocab-sized singleton window)",
    "q_kcenter" -> "greedy k-center: k linear passes, each a broadcast single-center distance + running least; argmax per round is TakeOrdered(1)",
    "q_theil_sen" -> "Theil-Sen: daily aggregate scan; calendar^2-bounded pair join (BNLJ on the bounded day table); 2x-percentile integer medians",
    "q_embed_drift" -> "embedding drift: posexplode scan into (label, dim) integer sums — e6 quantization BEFORE aggregation keeps float order out entirely",
    "q_tree2" -> "depth-2 CART: (node, feature)-keyed cumulative split search; one-row broadcast between levels; no driver loop",
    "q_dau_mau" -> "rolling 30-day MAU: bounded sequence fan-out + per-day distinct — never a window distinct over history",
    // session 10b
    "q_wasserstein" -> "exact 1-D EMD: value-support CDFs cross-scaled fraction-free; gap-weighted decimal sum; no support×support join",
    "q_quantile_norm" -> "distribution mapping via ONE descending merge-walk over the support union — the asof-style alternative to a quantile cross join",
    "q_hill" -> "tail index: the ONLY data-sized step is TakeOrdered(201); the k-grid rides the shortlist",
    "q_random_projection" -> "JL 64→8: e6-quantized explode joins a 512-entry broadcast sign matrix; exact integer projections; 100 hash-argmin audit pairs",
    "q_als_rank1" -> "rank-1 ALS: each half-sweep = one keyed join + aggregate (shuffle r by item, then by user) with the factor side broadcast",
    "q_boruvka" -> "distributed MSF by CONTRACTION (r11): round-1 labels ARE node ids (no join); later rounds relabel the shrinking edge list through the comp-sized broadcast pointer map; per-comp struct-min partial-aggs; stats-rebased checkpoints",
    "q_aipw" -> "doubly-robust ATE: three OLS closed forms from ONE conditional-moment aggregate; psi fold joins one broadcast coefficient row",
    "q_abc_analysis" -> "Pareto classes on a log2-revenue bin support — the cumulative walk touches ~40 bins, never a global part sort",
    "q_pr_auc" -> "average precision over the source-bounded score support walk; corpus work is one scan + one enum aggregate",
    // round 11
    "q_mis" -> "Luby MIS: joinless min-neighbor-priority aggregate (priority is a pure function of the node id) over the maintained active-edge subgraph; size-gated broadcast removals; rebased rounds",
    "q_decontaminate_embed" -> "semantic decontamination: 10-probe normalized eval set broadcast; ONE corpus pass; per-vector argmax by struct max — no all-pairs join",
    "q_consistent_hashing" -> "consistent hashing: 128-token ring as ONE sorted array from a grouping-free aggregate, broadcast; per-key successor = narrow array filter (no join); removal replay on the same array",
    "q_prefix_cache" -> "prefix-cache: per-source lexicographic lag window; common-prefix length is a zip_with + first-mismatch projection — no DP, no pair join",
    "q_lsh_scurve" -> "S-curve tuning: capped 48-doc probe pairs (BNLJ bounded by construction); collision indicators ride the signature columns; theory curve is a 30-row grid projection",
    "q_source_loo" -> "LOO data valuation: ALL 20 leave-one-out models from ONE (source, token) aggregate by count subtraction — no per-source retrain pass",
    "q_binomial_test" -> "exact binomial: calendar-bounded n; C(n,j) via a BIGINT-safe multiplicative-recurrence HOF on the n+1-row support grid — no factorial blowup, no window",
    "q_pack_ffd" -> "FFD sequence packing: ONE checkpointed tokenize; salted 32-bucket shuffle; per-bucket HOF first-fit fold; scalar oversize side broadcast",
    "q_matching" -> "greedy maximal matching: per-vertex struct-min, matched = twice-counted minima (joinless); lazy edge restriction via size-gated broadcast anti joins",
    "q_team_draft" -> "team-draft interleave: two TakeOrdered shortlists collapse to one row; the 20-step draft is a single HOF fold — zero joins past the shortlists",
    "q_index_size" -> "posting compression audit: distinct-posting aggregate, broadcast top-20 shortlist join, per-token lag window (never singleton), bit-length integer arithmetic")

  /** `name`'s formatted physical plan on `sfDir`, with JVM object
    * identities masked (`Foo@6acedf54`, `Foo$$Lambda$4038/0x00007f3e…`):
    * typed aggregators and Dataset maps print them, and they differ
    * between builds of the same plan.
    */
  def plan(spark: SparkSession, sfDir: String, name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
      .replaceAll("""\$\$Lambda(\$\d+)?/0x[0-9a-f]+""", "\\$\\$Lambda\\$<n>/0x<hex>")
      .replaceAll("@[0-9a-f]+\\b", "@<hex>")

  def main(argv: Array[String]): Unit = {
    // `files <outDir> <suffix> q_a,q_b` selects the per-query mode; the
    // optional sfDir follows either mode's own arguments
    val files = argv.headOption.contains("files")
    val args = if (files) argv.drop(4) else argv
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val queries = if (files) Bench.select(SparkEntry.queries.toSeq, Some(argv(3))) else Nil
    val spark = GraftSession.local("4", aqe = Some(false), logLevel = "ERROR")
    try if (files) {
      val Array(_, outDir, suffix, _) = argv.take(4)
      Files.createDirectories(Paths.get(outDir))
      Bench.runEach(queries) { (name, _) =>
        val out = Paths.get(outDir, s"${name}_$suffix.txt")
        Files.write(out, plan(spark, sfDir, name).getBytes(StandardCharsets.UTF_8))
        println(s"wrote $out")
      }
    } else {
      val out = if (args.length > 1) args(1) else "PLANS.md"
      val sb = new StringBuilder
      sb.append("# PLANS — formatted physical plans of the flagship queries\n\n")
      sb.append(s"Generated by `graft.DumpPlans` on `$sfDir` (plan SHAPE is scale-\n")
      sb.append("factor-independent; AQE disabled in this dump for readability —\n")
      sb.append("production runs re-plan at runtime on top of these shapes).\n")
      Flagships.foreach { case (name, note) =>
        sb.append(s"\n## $name\n\n$note\n\n```\n${plan(spark, sfDir, name)}```\n")
      }
      Files.write(Paths.get(out), sb.toString.getBytes(StandardCharsets.UTF_8))
      println(s"wrote $out")
    } finally spark.stop()
  }
}
