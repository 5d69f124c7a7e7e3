package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.ForumAnalytics
import graft.logs.{LogGen, LogParser}
import graft.ops.{Aggregators, Checkpoints, Dedup, Similarity, TextOps}
import graft.ops.Checkpoints.gatedBroadcast
import graft.sources.Tables

/** Named harness queries — each is one operator/capability from
  * SURVEY.md §2, exercised over the driver testdata, paired with a DuckDB
  * oracle in [[SparkEntry.oracleSql]].
  *
  * Conventions for oracle hash-parity:
  *   - every computed column is aliased identically in Spark and SQL;
  *   - ids surfaced as BIGINT on both sides;
  *   - double aggregates rounded (2-6 dp) so accumulation-order noise
  *     can't flip the driver's hash compare;
  *   - every query has a total deterministic ORDER BY (ties broken by id).
  *
  * KNOWN-ULP-FLAKY COLUMNS (r12 ADVICE item 4): sqrt, ×, ÷ are
  * correctly rounded by IEEE 754 so identical-expression floors on them
  * are bit-exact across engines; `exp`/`ln` are NOT required to be
  * correctly rounded, so any column that floors an exp/ln output at
  * e6-e9 can in principle flip by ±1 on a JVM-vs-libm ULP difference.
  * All such floors feed exp/ln the SAME IEEE double (exact integer
  * inputs, one division), which keeps the drift window to the last
  * ulp; none has ever flipped across 13 rounds of two-SF verifies, but
  * a ONE-OFF single-column mismatch of exactly ±1 on one of these
  * should be triaged as ULP drift, not a logic bug:
  * hoeffdingBoundQ.bound_e9/e6, lengthLognormalQ.median_e6/mu_e6,
  * bm25SweepQ (idf terms), zipfQ/heapsQ/mattrQ/yuleKQ (ln moments),
  * coxQ.hr_e6, greenwoodQ.surv_e6, hillQ.alpha_inv_e9,
  * elasticityQ (ln-ln pairs), theilQ, spectralEntropyQ.flatness_e6,
  * sprtQ (llr terms), dpHistogramQ (Laplace inverse-CDF),
  * entropyRateQ / mutualInfoQ / psiQ (ln-term sums), ndcgQ (log2
  * discounts), vocabTailQ.ln_v. The driver's hash compare has no
  * tolerance knob, so the contract is triage documentation rather than
  * a ±1 band; tools/compare.py reports per-column diffs for exactly
  * this purpose.
  */
object Queries {

  // ---------------------------------------------------------------- logs

  /** P1-P8: full parser field extraction, verified field-by-field against
    * the generating expressions (garbage lines must yield all-null).
    */
  def parseFields(spark: SparkSession, sfDir: String): DataFrame = {
    val parsed = LogParser.parseFull(LogGen.logLines(spark, sfDir))
    parsed.select(
      col("event_id"),
      col("client_ip"),
      col("client_identity"),
      col("remote_user"),
      date_format(col("access_ts"), "yyyy-MM-dd HH:mm:ss").as("access_date"),
      col("method"), col("uri"), col("proto"),
      col("http_status"),
      nullif(col("bytes_sent"), lit("-")).cast("long").as("bytes"),
      col("referer"),
      col("user_agent"),
      col("section_id").cast("long").as("section_id"),
      col("article_id").cast("long").as("article_id"))
      .orderBy("event_id")
  }

  def hotSection(spark: SparkSession, sfDir: String): DataFrame =
    ForumAnalytics.hotSections(
      ForumAnalytics.parsedLogs(spark, sfDir),
      ForumAnalytics.sections(spark, sfDir))

  def hotArticle(spark: SparkSession, sfDir: String): DataFrame =
    ForumAnalytics.hotArticles(
      ForumAnalytics.parsedLogs(spark, sfDir),
      ForumAnalytics.articles(spark, sfDir))

  def clientIp(spark: SparkSession, sfDir: String): DataFrame =
    ForumAnalytics.clientIpAccess(ForumAnalytics.parsedLogs(spark, sfDir))

  // ---------------------------------------------------- relational breadth

  /** Q2/Q5: multi-aggregate hash group-by (TPC-H Q1 shape) — partial+final
    * agg, one shuffle on the 2-column key.
    */
  /** Cross-engine-exact aggregate helpers for 2-decimal (money-like)
    * base columns. Plain `round(avg(x), k)` is NOT portable: the true
    * decimal average of 2dp values frequently sits exactly on a half
    * step, and engines round that boundary double differently
    * (observed: avg_bal 4201.315 → Spark 4201.31, DuckDB 4201.32).
    * Fix: sum exact integer cents (order-independent), divide, and
    * round with an explicit floor(x+0.5) both sides compute identically.
    */
  private def cents(c: Column): Column = round(c * 100, 0)

  /** floor-based half-up round of a cents-average to `dp` decimals. */
  private def avgFromCents(sumCents: Column, n: Column, dp: Int): Column = {
    val shift = math.pow(10, dp - 2) // cents are already 2dp
    floor((sumCents / n) * shift + 0.5) / (100 * shift)
  }

  /** Probe/eval slice with a STRUCTURALLY PROVABLE row bound — the r12
    * q_knn_cosine precedent generalized (r13): keep the pushed-down
    * `id < k` predicate (the parquet scan still prunes) AND route the
    * slice through orderBy+limit, which compiles to
    * TakeOrderedAndProject — a node [[graft.JoinLint.boundedByConstruction]]
    * certifies, so broadcasting the slice into a cross/BNLJ site needs
    * no allowlist attestation. Rows are IDENTICAL to the bare filter:
    * the predicate already caps the slice at ≤ k rows, making the
    * limit a provable no-op (and the total orderBy keeps it
    * deterministic on any id space).
    */
  private def probeSlice(df: DataFrame, k: Int, idCol: String = "vec_id"): DataFrame =
    df.filter(col(idCol) < k).orderBy(col(idCol)).limit(k)

  /** Daily event volume: (d = epoch day, `name` = events that day). */
  private def dailyCounts(spark: SparkSession, sfDir: String,
      name: String = "x"): DataFrame =
    Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as(name))

  /** Unit-normalized double embeddings (vec_id, label, embedding). */
  private def normEmbeddings(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.normalized(Similarity.asDouble(Tables.embeddings(spark, sfDir)))

  /** The ranked-retrieval probe preamble of [[ndcgQ]], [[mrrQ]],
    * [[mapAtKQ]] and [[errQ]] over normalized embeddings `e`: the first
    * 50 vectors as queries (query_id, true_label, qv), broadcast against
    * every other vector (neighbor_id, n_label, cv), with cosine `cos`
    * and per-query rank `rnk` (cos desc, neighbor id asc).
    */
  private def probeRanks(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = probeSlice(e, 50)
      .select(col("vec_id").as("query_id"), col("label").cast("long").as("true_label"),
        col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("label").cast("long").as("n_label"),
      col("embedding").as("cv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Similarity.dot(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(w))
  }

  /** Exact decimal sum of a double product expression, rounded to 2dp.
    * (Products of 2dp values are up to 6dp decimals — their double sums
    * can land on half-cent boundaries too; DECIMAL summing is exact and
    * identical in both engines.)
    */
  private def decimalSum2(c: Column): Column =
    round(sum(c.cast("decimal(30,8)")), 2).cast("double")

  def q1Agg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        decimalSum2(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        decimalSum2(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
        avgFromCents(sum(cents(col("l_quantity"))), count(lit(1)), 4).as("avg_qty"),
        avgFromCents(sum(cents(col("l_extendedprice"))), count(lit(1)), 4).as("avg_price"),
        avgFromCents(sum(cents(col("l_discount"))), count(lit(1)), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Incremental aggregate maintenance: orders split into three
    * "ingest partitions", each reduced to a mergeable partial state
    * ([[graft.ops.IncrementalAgg]]), states merged, derived values
    * computed at read time. The ORACLE is the DIRECT full aggregation —
    * the algebraic contract merge(partial(A), partial(B)) ==
    * partial(A ∪ B) is exactly what the hash comparison proves, and it
    * only holds because sums run over integer cents (double partial
    * sums would re-associate under merge and drift).
    */
  def incrAggQ(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .withColumn("c", cents(col("o_totalprice")).cast("long"))
    val keys = Seq("o_orderpriority")
    val parts = (0 to 2).map(i =>
      graft.ops.IncrementalAgg.partial(
        o.filter(col("o_orderkey") % 3 === i), keys, "c"))
    graft.ops.IncrementalAgg.merge(parts, keys)
      .select(col("o_orderpriority"), col("cnt"),
        (col("sum_c").cast("double") / 100.0).as("sum_price"),
        (col("min_c").cast("double") / 100.0).as("min_price"),
        (col("max_c").cast("double") / 100.0).as("max_price"),
        avgFromCents(col("sum_c"), col("cnt"), 2).as("avg_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Zone-map build + predicate pruning over the date-partitioned
    * layout (shard = ship month): the file-skipping stats table every
    * lake format keeps, as data. kept=false rows are shards a
    * [1996-04 .. 1996-06] scan provably never reads — at 100 TB this
    * table is shard-count-sized, so scan planning is a broadcast-sized
    * lookup, not a data pass.
    */
  def zoneMapQ(spark: SparkSession, sfDir: String): DataFrame = {
    // 1996-04-01T00:00:00Z .. 1996-07-01T00:00:00Z (exclusive), micros
    val lo = 828316800000000L
    val hi = 836179200000000L - 1
    val zones = graft.ops.ZoneMaps.build(
      Tables.lineitem(spark, sfDir),
      (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1).cast("long"),
      expr("unix_micros(cast(l_shipdate as timestamp))"))
    graft.ops.ZoneMaps.pruneRange(zones, lo, hi).orderBy(col("shard"))
  }

  /** Q1/Q5: selective filter + projection — both must reach the parquet
    * scan (PushedFilters / pruned ReadSchema in the explain output).
    */
  def filterProject(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 45 && col("l_discount") > 0.07)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Q3-analog: star join — orders (fact) against customer/nation/region
    * dims, all three broadcast; one shuffle for the final group-by.
    */
  def joinBroadcast(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("r_name"), col("n_name"))

  /** Big-big equi join (lineitem ⋈ orders): shuffle/sort-merge territory —
    * at 100 TB both sides hash-partition on the key; AQE may still pick
    * broadcast at small SF, which is the right call there.
    */
  def joinShuffle(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("line_count"), round(sum(col("l_extendedprice")), 2).as("total_price"))
      .orderBy(col("o_orderpriority"))

  /** Bloom-pruned big-big join (manual runtime filter): lineitem ⋈ a
    * selective orders slice (urgent + high-value, ~5% of orders). The
    * Bloom sketch of the slice's orderkeys broadcasts and prunes the
    * lineitem scan BEFORE its shuffle — the deterministic form of
    * Spark's InjectRuntimeFilter for when plan-time statistics can't
    * see the build side's selectivity. Output is row-identical to the
    * plain join (false positives die in the exact join), so the oracle
    * is the plain SQL join.
    */
  def bloomJoinQ(spark: SparkSession, sfDir: String): DataFrame = {
    val sel = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 400000.0)
    graft.ops.RuntimeFilter.bloomPrunedJoin(
        Tables.lineitem(spark, sfDir), sel,
        "l_orderkey", "o_orderkey", expectedBuildKeys = 4096)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        decimalSum2(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  /** Left-semi join (EXISTS): customers having at least one open order. */
  def semiJoin(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(
        Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "O"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))

  /** Left-anti join (NOT EXISTS): customers with no high-value order
    * (unfiltered anti-join is vacuous on this data — every customer has
    * at least one order).
    */
  def antiJoin(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(
        Tables.orders(spark, sfDir).filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"), round(sum(col("c_acctbal")), 2).as("acctbal_sum"))
      .orderBy(col("c_mktsegment"))

  /** Left-outer join preserving order-less customers (count(key)=0). */
  def outerJoin(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spent"))
      .orderBy(col("c_custkey"))

  /** Q4: top-k — agg then `TakeOrderedAndProject` (no global sort). */
  def topK(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"), count(lit(1)).as("n_orders"))
      .join(broadcast(Tables.customer(spark, sfDir)), col("o_custkey") === col("c_custkey"))
      .select(col("o_custkey").as("custkey"), col("c_name"), col("revenue"), col("n_orders"))
      .orderBy(col("revenue").desc, col("custkey"))
      .limit(10)

  /** Window functions: row_number/rank/dense_rank/lag/lead + running sum
    * over a per-customer frame (deterministic tie-break in the order spec).
    */
  def windowFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, sfDir)
      .filter(col("o_custkey") < 50)
      .select(
        col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"),
        row_number().over(w).cast("long").as("rn"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"),
        round(lead(col("o_totalprice"), 1).over(w), 2).as("next_price"),
        round(sum(col("o_totalprice")).over(wRun), 2).as("running_total"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Distribution window functions: ntile / percent_rank / cume_dist /
    * first_value / last_value with an explicit full frame.
    */
  def windowDist(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, sfDir)
      .filter(col("o_custkey") < 30)
      .select(
        col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cdist"),
        first_value(col("o_orderkey")).over(w).as("first_ok"),
        last_value(col("o_orderkey")).over(wFull).as("last_ok"))
      .orderBy(col("o_custkey"), col("price").desc, col("o_orderkey"))
  }

  /** Grouping sets via ROLLUP (subtotal + grand-total rows). */
  /** ROLLUP via pre-aggregation: Spark's Expand runs BEFORE the
    * aggregate, so a naive rollup/cube pushes sets× copies of the fact
    * table through the shuffle. Aggregating on the full key first
    * (count/sum are re-aggregable) shrinks the Expand input from the
    * corpus to |distinct key| rows — at 100 TB, the difference between
    * shuffling multiples of the corpus and shuffling a few thousand
    * partial rows. Results are identical: count→sum of partial counts,
    * sum→sum of partial sums (2dp money sums land on cents, so the
    * final round(,2) is unaffected by partial-sum association).
    */
  def rollupAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("n0"), sum(col("c_acctbal")).as("s0"))
      .rollup(col("c_mktsegment"), col("c_nationkey"))
      .agg(sum(col("n0")).as("n_customers"), round(sum(col("s0")), 2).as("acctbal_sum"))
      .orderBy(
        col("c_mktsegment").asc_nulls_first,
        col("c_nationkey").asc_nulls_first)

  /** CUBE over two dims of lineitem — same pre-aggregate-before-Expand
    * shape as [[rollupAgg]] (600k fact rows → 6 partials → Expand ×4).
    */
  def cubeAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n0"), sum(col("l_quantity")).as("s0"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("n0")).as("n_lines"), round(sum(col("s0")), 2).as("qty_sum"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Distinct aggregates (expand-based multi-distinct). */
  def distinctAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("l_returnflag"))

  /** Null-safe equi-join (<=> / IS NOT DISTINCT FROM): the null group
    * JOINS (a plain equi-join silently drops it — a classic silent-
    * data-loss corner). Planned as a regular hash/sort-merge join on
    * the null-safe key, not a nested loop.
    */
  def nullSafeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val a = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), nullif(col("c_nationkey"), lit(5)).as("k"))
    val b = a.groupBy(col("k")).agg(count(lit(1)).as("n_grp"))
      .select(col("k").as("bk"), col("n_grp"))
    a.join(b, col("k") <=> col("bk"))
      .groupBy(col("bk"))
      .agg(count(lit(1)).as("n_joined"), min(col("n_grp")).as("n_grp"))
      .select(col("bk").cast("long").as("k"), col("n_joined"), col("n_grp"))
      .orderBy(col("k").asc_nulls_first)
  }

  /** Set op: UNION (distinct) of two key sets. */
  def setUnion(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).filter(col("c_acctbal") > 7000).select(col("c_custkey").as("k"))
      .union(Tables.orders(spark, sfDir).filter(col("o_totalprice") > 400000).select(col("o_custkey").as("k")))
      .distinct()
      .orderBy(col("k"))

  /** Set op: INTERSECT of the same two key sets. */
  def setIntersect(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).filter(col("c_acctbal") > 7000).select(col("c_custkey").as("k"))
      .intersect(Tables.orders(spark, sfDir).filter(col("o_totalprice") > 400000).select(col("o_custkey").as("k")))
      .orderBy(col("k"))

  /** Set op: EXCEPT of the same two key sets. */
  def setExcept(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).filter(col("c_acctbal") > 7000).select(col("c_custkey").as("k"))
      .except(Tables.orders(spark, sfDir).filter(col("o_totalprice") > 400000).select(col("o_custkey").as("k")))
      .orderBy(col("k"))

  /** Multiset set ops: UNION ALL / INTERSECT ALL / EXCEPT ALL keep
    * duplicate cardinalities (contrast the distinct variants above).
    */
  def setOpsAll(spark: SparkSession, sfDir: String): DataFrame = {
    // Multiset identities over per-side counts (one scan per side,
    // instead of six scans when each ALL-op re-evaluates both inputs):
    // |A ⊎ B| = na+nb, |A ∩all B| = min(na,nb), |A −all B| = max(na−nb,0)
    val na = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 350000)
      .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("na"))
    val nb = Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "O")
      .filter(col("o_totalprice") > 300000)
      .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("nb"))
    na.join(nb, Seq("k"), "full_outer")
      .select(col("k"),
        coalesce(col("na"), lit(0L)).as("na"), coalesce(col("nb"), lit(0L)).as("nb"))
      .select(col("k"),
        (col("na") + col("nb")).as("n_union_all"),
        nullif(least(col("na"), col("nb")), lit(0L)).as("n_intersect_all"),
        nullif(greatest(col("na") - col("nb"), lit(0L)), lit(0L)).as("n_except_all"))
      .orderBy(col("k"))
  }

  /** Lateral explode with position (LATERAL VIEW posexplode shape). */
  def explodeQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 10)
      .select(col("doc_id"), posexplode(TextOps.words(col("text"))).as(Seq("pos", "word")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("word"))
      .orderBy(col("doc_id"), col("pos"))

  /** String scalar functions over part. */
  def stringFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .filter(col("p_partkey") < 100)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        lower(col("p_brand")).as("brand_lower"),
        length(col("p_name")).cast("long").as("name_len"),
        substring(col("p_name"), 1, 8).as("name_prefix"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_name"), " ", "_").as("name_snake"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("key_padded"),
        trim(col("p_type")).as("type_trim"))
      .orderBy(col("p_partkey"))

  /** Date/time scalar functions over orders. */
  def dateFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") < 200)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        month(col("o_orderdate")).cast("long").as("o_month"),
        dayofmonth(col("o_orderdate")).cast("long").as("o_day"),
        quarter(col("o_orderdate")).cast("long").as("o_quarter"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date_str"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
        datediff(lit("1998-01-01").cast("date"), col("o_orderdate").cast("date")).cast("long").as("days_to_98"))
      .orderBy(col("o_orderkey"))

  /** Date arithmetic: add days/months, last_day, day-of-week/year, ISO
    * week (dayofweek offset differs across engines — aligned in the
    * oracle; date outputs as strings to avoid physical-type mismatch).
    */
  def dateFuncs2(spark: SparkSession, sfDir: String): DataFrame = {
    val d = col("o_orderdate").cast("date")
    Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") < 300)
      .select(
        col("o_orderkey"),
        date_format(date_add(d, 30), "yyyy-MM-dd").as("plus_30d"),
        date_format(add_months(d, 2), "yyyy-MM-dd").as("plus_2m"),
        date_format(last_day(d), "yyyy-MM-dd").as("month_end"),
        dayofweek(d).cast("long").as("dow"),
        dayofyear(d).cast("long").as("doy"),
        weekofyear(d).cast("long").as("iso_week"))
      .orderBy(col("o_orderkey"))
  }

  /** String scalar functions, second wave. */
  def stringFuncs2(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .filter(col("p_partkey") < 100)
      .select(
        col("p_partkey"),
        translate(col("p_name"), "aeiou", "AEIOU").as("vowels_up"),
        repeat(col("p_brand"), 2).as("brand_x2"),
        reverse(col("p_brand")).as("brand_rev"),
        instr(col("p_name"), "a").cast("long").as("first_a"),
        split_part(col("p_type"), lit(" "), lit(1)).as("type_head"),
        col("p_name").like("%iv%").as("has_iv"),
        ascii(col("p_brand")).cast("long").as("brand_ascii"),
        chr(lit(65) + col("p_partkey") % 26).as("letter"))
      .orderBy(col("p_partkey"))

  /** Math scalar functions over lineitem. */
  def mathFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") < 100)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(abs(col("l_discount") - 0.05), 6).as("abs_v"),
        ceil(col("l_quantity")).as("ceil_v"),
        floor(col("l_extendedprice")).as("floor_v"),
        round(sqrt(col("l_quantity")), 6).as("sqrt_v"),
        round(ln(col("l_extendedprice")), 6).as("ln_v"),
        round(pow(col("l_tax") + 1.0, 2), 6).as("pow_v"),
        (col("l_partkey") % 7).as("mod_v"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Conditional aggregation (CASE WHEN inside SUM — hand pivot). */
  def caseAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_open"),
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_filled"),
        sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("n_pending"),
        avgFromCents(
          sum(when(col("o_orderstatus") === "O", cents(col("o_totalprice")))),
          sum(when(col("o_orderstatus") === "O", 1L)), 2).as("avg_open_price"))
      .orderBy(col("o_orderpriority"))

  // ------------------------------------------- training-data pipeline ops

  /** documents plus exact duplicate copies planted at doc_id+10000. */
  private def docsWithExactCopies(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    d.union(d.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 10000).as("doc_id"), col("text")))
  }

  /** documents (optionally id-capped) plus near-duplicate copies (one
    * word class substituted) planted at doc_id+10000.
    */
  private def docsWithNearCopies(spark: SparkSession, sfDir: String, cap: Option[Int]): DataFrame = {
    val d0 = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    // capped sets ride the probeSlice device (filter keeps the scan
    // prune, orderBy+limit makes the ≤cap bound structurally provable
    // to JoinLint through the downstream pair joins)
    val d = cap.map(c => d0.filter(col("doc_id") < c)
      .orderBy(col("doc_id")).limit(c)).getOrElse(d0)
    d.union(d.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 10000).as("doc_id"),
        replace(col("text"), lit("data"), lit("info")).as("text")))
  }

  /** LSH S-curve tuning table — measured band-collision probability vs
    * the analytic 1−(1−s^r)^b for three (bands, rows) splits of the
    * 8-hash MinHash signature, on a capped all-pairs probe set with
    * planted near-copies (the only honest way to pick (b, r) before
    * committing a 100 TB dedup pass to one): per pair, the EXACT
    * integer-e6 Jaccard buckets the x-axis, the three collision
    * indicators come straight off the signature columns, and the
    * theory column evaluates the S-curve at the bucket midpoint. The
    * probe is 48 docs = 1128 pairs BY CONSTRUCTION (JoinLint-
    * allowlisted on that cap); production pairs always go through the
    * band join, never all-pairs.
    */
  def lshScurveQ(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = docsWithNearCopies(spark, sfDir, Some(40))
    val sh = Dedup.shingleSets(docs).filter(size(col("shingles")) > 0)
    val sig = sh.join(Dedup.minhashSignatures(sh), "doc_id")
    def side(p: String) = sig.select(
      col("doc_id").as(s"d$p") +: col("shingles").as(s"sh$p") +:
        (0 to 7).map(j => col(s"s$j").as(s"$p$j")): _*)
    val pairs = side("a").join(side("b"), col("da") < col("db"))
      .withColumn("j_e6", expr(
        "size(array_intersect(sha, shb)) * 1000000 div size(array_union(sha, shb))"))
      .withColumn("bucket", least(expr("j_e6 div 100000"), lit(9L)))
      .withColumn("c_b8r1",
        (0 to 7).map(j => col(s"a$j") === col(s"b$j")).reduce(_ || _).cast("long"))
      .withColumn("c_b4r2",
        (0 to 3).map(j => col(s"a${2 * j}") === col(s"b${2 * j}") &&
          col(s"a${2 * j + 1}") === col(s"b${2 * j + 1}")).reduce(_ || _).cast("long"))
      .withColumn("c_b2r4",
        Seq(0, 4).map(o => (0 to 3).map(i =>
          col(s"a${o + i}") === col(s"b${o + i}")).reduce(_ && _))
          .reduce(_ || _).cast("long"))
    def cfg(name: String, b: Int, r: Int, c: String) =
      pairs.select(col("bucket"), lit(name).as("config"),
        lit(b.toLong).as("b"), lit(r.toLong).as("r"), col(c).as("coll"))
    cfg("b8r1", 8, 1, "c_b8r1")
      .union(cfg("b4r2", 4, 2, "c_b4r2"))
      .union(cfg("b2r4", 2, 4, "c_b2r4"))
      .groupBy(col("config"), col("b"), col("r"), col("bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("coll")).as("n_collide"))
      .withColumn("measured_e6", expr("n_collide * 1000000 div n_pairs"))
      .withColumn("theory_e6", floor(
        (lit(1.0) - pow(lit(1.0) - pow((col("bucket") + 0.5) / 10.0, col("r")),
          col("b"))) * 1000000.0 + 0.5).cast("long"))
      .orderBy(col("config"), col("bucket"))
  }

  /** Consistent-hashing ring audit — the shard-assignment primitive
    * under every distributed cache/store, shipped with its two
    * certificates: (a) balance (the 16-vnode-per-shard ring's max/min
    * load ratio) and (b) MINIMAL MOVEMENT — after removing shard 3,
    * the only keys that may change owner are the removed shard's own
    * (invalid_moves is re-derived by the oracle and must be 0). The
    * 128-token ring is ONE sorted array built by a grouping-free
    * aggregate and broadcast; each key's successor lookup is a narrow
    * array scan (no join at all), tokens encoded h·8+shard so the ring
    * is a plain BIGINT list on both engines. One customer scan; the
    * removal replay is a second filter over the same array.
    */
  def consistentHashQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ring = Tables.customer(spark, sfDir).sparkSession.range(0, 128)
      .select((TextOps.portableHash64(concat(lit("ring:"),
        col("id").cast("string"))) * 8L + col("id") % 8L).as("enc"))
      .groupBy().agg(sort_array(collect_list(col("enc"))).as("ring"))
    val keys = Tables.customer(spark, sfDir)
      .select(col("c_custkey"),
        TextOps.portableHash64(concat(lit("key:"),
          col("c_custkey").cast("string"))).as("kh"))
    val asg = keys.crossJoin(broadcast(ring))
      .withColumn("s1", expr("""coalesce(
          try_element_at(filter(ring, e -> e div 8 >= kh), 1),
          try_element_at(ring, 1)) % 8"""))
      .withColumn("ring2", expr("filter(ring, e -> e % 8 != 3)"))
      .withColumn("s2", expr("""coalesce(
          try_element_at(filter(ring2, e -> e div 8 >= kh), 1),
          try_element_at(ring2, 1)) % 8"""))
    val perShard = asg.groupBy(col("s1").as("shard"))
      .agg(count(lit(1)).as("load_before"),
        sum(when(col("s2") === col("s1"), 1L).otherwise(0L)).as("kept"))
    val after = asg.groupBy(col("s2").as("shard"))
      .agg(count(lit(1)).as("load_after"))
    val g = asg.groupBy()
      .agg(sum(when(col("s1") =!= col("s2"), 1L).otherwise(0L)).as("moved_total"),
        sum(when(col("s1") =!= lit(3L) && col("s1") =!= col("s2"), 1L)
          .otherwise(0L)).as("invalid_moves"))
    val bal = perShard.groupBy()
      .agg(expr("max(load_before) * 1000000 div min(load_before)")
        .as("balance_ratio_e6"))
    perShard.join(after, Seq("shard"), "left")
      .select(col("shard"), col("load_before"),
        coalesce(col("load_after"), lit(0L)).as("load_after"),
        (coalesce(col("load_after"), lit(0L)) - col("kept")).as("gained"))
      .crossJoin(broadcast(g)).crossJoin(broadcast(bal))
      .orderBy(col("shard"))
  }

  /** Prefix-cache (KV-reuse) analysis — "if this corpus were served to
    * an LLM in lexicographic order, what fraction of prompt tokens
    * would hit a shared-prefix cache?": per source, documents sorted
    * by text, each one's cacheable prefix = the token-level common
    * prefix with its predecessor (zip_with equality + first-mismatch
    * position — an O(prefix) narrow expression, no DP). Exactly the
    * radix-trie edge-sharing statistic, computed with one keyed
    * window. High hit rates flag boilerplate-heavy sources (cheap to
    * serve, low training value — both decisions want this number).
    */
  def prefixCacheQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), col("text"),
        TextOps.words(lower(col("text"))).as("ws"))
    val w = Window.partitionBy(col("source")).orderBy(col("text"), col("doc_id"))
    d.withColumn("pw", lag(col("ws"), 1).over(w))
      .withColumn("plen", when(col("pw").isNull, 0L).otherwise(expr(
        """CASE WHEN array_position(
             zip_with(ws, pw, (x, y) -> if(x <=> y, 1, 0)), 0) = 0
           THEN least(size(ws), size(pw))
           ELSE array_position(
             zip_with(ws, pw, (x, y) -> if(x <=> y, 1, 0)), 0) - 1 END""")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(size(col("ws"))).as("total_tokens"),
        sum(col("plen")).as("cached_tokens"))
      .withColumn("hit_rate_e6",
        expr("cached_tokens * 1000000 div total_tokens"))
      .orderBy(col("source"))
  }

  /** MinHash-LSH near-dup pairs over the full near-copy corpus,
    * materialized once per (session, sf): both the pair listing
    * (q_minhash_lsh) and the cluster assignment (q_dedup_clusters)
    * consume the same pair table — at 100 TB you compute the LSH
    * candidate pairs once and fan out, not once per downstream job.
    * Lifecycle is [[graft.sources.SessionMemo]]'s (JVM-lifetime in the
    * one-session-per-JVM layout); the persisted data additionally obeys
    * the curation working-set note (clearCache() between long reruns).
    */
  private def lshPairs(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.SessionMemo(spark, ("lsh_pairs", sfDir)) {
      Dedup.minhashLsh(docsWithNearCopies(spark, sfDir, None), 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Multimodal → similarity composition: payload bytes batch-decoded
    * into embeddings (featureExtractStub), unit-normalized, then
    * brute-force cosine top-3 for the first 5 media — the media
    * near-dup / retrieval pipeline with the decode stubbed and all
    * Spark-side plumbing (binary column, mapPartitions batch shape,
    * broadcast query side, native dot) real.
    */
  def mediaFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val media = graft.ops.Multimodal.syntheticMedia(spark, 2000)
    val emb = graft.ops.Multimodal.featureExtractStub(media)
      .withColumnRenamed("media_id", "vec_id")
    val e = Similarity.normalized(emb)
    Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e, 3)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Context-length chunking: 40-word chunks, 8-word overlap, pure
    * word-offset boundaries (reproducible anywhere).
    */
  def chunkDocs(spark: SparkSession, sfDir: String): DataFrame =
    TextOps.chunkWords(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
        "text", maxWords = 40, overlap = 8)
      .select(col("doc_id"), col("chunk_idx"), col("n_words"), col("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** PII scrub stage: documents seeded with deterministic synthetic
    * emails / IPv4s / long ids, per-kind match counts plus the md5 of
    * the redacted text (placeholders substituted globally).
    */
  def piiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val seeded = Tables.documents(spark, sfDir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com now")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" from 10.0."), col("doc_id") % 256, lit(".1")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" id "), col("doc_id") * 1000000007L + 123456789L))
          .otherwise(lit(""))).as("text"))
    seeded.select(
      col("doc_id"),
      // Column-API regexp_count (patterns as literal VALUES — routing
      // them through SQL text would re-interpret the backslashes)
      regexp_count(col("text"), lit(TextOps.EmailRx)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(TextOps.Ipv4Rx)).cast("long").as("n_ips"),
      regexp_count(col("text"), lit(TextOps.LongNumRx)).cast("long").as("n_nums"),
      md5(TextOps.redactPii(col("text"))).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** Text quality statistics per document. */
  def textStats(spark: SparkSession, sfDir: String): DataFrame = {
    val t = col("text")
    val ws = TextOps.words(t)
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      size(ws).cast("long").as("n_words"),
      TextOps.bpeTokenCount(t).as("n_bpe_tokens"),
      length(t).cast("long").as("n_chars"),
      round(TextOps.uniqueWordRatio(ws), 6).as("uniq_ratio"),
      TextOps.qualityScore(t).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Intra-doc repetition stats ([[graft.ops.TextOps.repetitionStats]])
    * over documents plus planted LOOP docs (id+90000, a 5-token phrase
    * repeated 20×): the planted docs must flag `repetitive` on both
    * signals (top bigram ≈ 20/99, duplicate trigrams ≈ 1.0) while the
    * corpus provides the natural distribution both engines must agree
    * on exactly.
    */
  def repetitionQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 400)
    val planted = d.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 90000).as("doc_id"),
        expr("repeat('data model scales well today ', 20)").as("text"))
    graft.ops.TextOps.repetitionStats(d.unionAll(planted))
      .orderBy(col("doc_id"))
  }

  /** Heuristic language ID vs the labeled lang column. */
  def langIdQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"), col("lang"),
      TextOps.langId(col("text")).as("predicted"))
      .orderBy(col("doc_id"))

  /** Language-ID confusion table: per (label, prediction) counts with
    * the per-label share at 10⁻⁶ — the evaluation harness for the
    * q_lang_id heuristic, exact integers end-to-end (one count + one
    * label-total join; the confusion matrix is |langs|²-bounded).
    */
  def langidAccQ(spark: SparkSession, sfDir: String): DataFrame = {
    val pred = Tables.documents(spark, sfDir).select(
      col("lang"), TextOps.langId(col("text")).as("predicted"))
    val conf = pred.groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
    conf.join(conf.groupBy(col("lang")).agg(sum(col("n")).as("total")), "lang")
      .select(col("lang"), col("predicted"), col("n"),
        expr("n * 1000000 div total").as("share_e6"),
        (col("lang") === col("predicted")).as("correct"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** RFM segmentation (recency / frequency / monetary terciles) —
    * the classic customer-value cube, scored SEGMENT-RELATIVE so the
    * tercile windows partition by market segment (never a global
    * sort): per customer one orders aggregate, three ntile(3) ranks
    * over deterministic (value, custkey) orders, one digit-coded
    * segment rollup. Monetary is exact cents; everything else counts.
    */
  def rfmQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perCust = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(max(expr("unix_micros(cast(o_orderdate as timestamp))")).as("rec_us"),
        count(lit(1)).as("freq"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("mon_cents"))
      .join(Tables.customer(spark, sfDir)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")), "o_custkey")
    def tercile(order: Seq[Column]) = ntile(3).over(
      Window.partitionBy(col("c_mktsegment")).orderBy(order: _*))
    perCust
      .withColumn("r", tercile(Seq(col("rec_us").desc, col("o_custkey"))))
      .withColumn("f", tercile(Seq(col("freq").desc, col("o_custkey"))))
      .withColumn("m", tercile(Seq(col("mon_cents").desc, col("o_custkey"))))
      .groupBy(col("c_mktsegment"),
        (col("r") * 100 + col("f") * 10 + col("m")).cast("long").as("rfm"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("mon_cents")).as("segment_cents"))
      .orderBy(col("c_mktsegment"), col("rfm"))
  }

  /** Exact duplicate rate per source — the corpus-health rollup
    * before any dedup decision: distinct-text counts via a (source,
    * md5) pre-aggregate (never a count(DISTINCT) blowup), dup rate at
    * 10⁻⁶ by integral division.
    */
  def dupRateQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("source"), md5(col("text")).as("h"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"), count(lit(1)).as("n_unique"))
      .withColumn("dup_rate_e6",
        expr("(n_docs - n_unique) * 1000000 div n_docs"))
      .orderBy(col("source"))

  /** Tokenizer fertility per language — BPE-ish tokens per whitespace
    * word at 10⁻⁶, the "how expensive is this language for the
    * tokenizer" table (CJK explodes, Latin stays ~1): two
    * codegen'd per-doc counts, one aggregate, one division.
    */
  def fertilityQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"),
        TextOps.bpeTokenCount(col("text")).as("t"),
        size(TextOps.words(col("text"))).cast("long").as("w"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("bpe_tokens"),
        sum(col("w")).as("words"))
      .withColumn("fertility_e6", expr("bpe_tokens * 1000000 div words"))
      .orderBy(col("lang"))

  /** Content fingerprints (md5 / portable 64-bit / min-shingle-hash). */
  def fingerprintQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      TextOps.fingerprintMd5(col("text")).as("fp_md5"),
      TextOps.fingerprint64(col("text")).as("fp64"),
      TextOps.minShingleHash(col("text")).as("min_shingle_hash"),
      TextOps.rollingFingerprint(col("text")).as("rolling_min"))
      .orderBy(col("doc_id"))

  /** Exact dedup over documents with planted exact copies. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.exact(docsWithExactCopies(spark, sfDir)).orderBy(col("keep_id"))

  /** Brute-force n-gram Jaccard near-dup pairs on a capped set. */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.ngramJaccardPairs(docsWithNearCopies(spark, sfDir, Some(100)), 0.5)
      .orderBy(col("doc_a"), col("doc_b"))

  /** MinHash+LSH near-dup over ALL documents + planted near copies. */
  def minhashLshQ(spark: SparkSession, sfDir: String): DataFrame =
    lshPairs(spark, sfDir).orderBy(col("doc_a"), col("doc_b"))

  /** Containment (near-superset) detection over documents + planted
    * AGGREGATORS: every 7th doc is concatenated with its successor into
    * a synthetic aggregator row (id+50000) — the quote/compilation
    * shape. [[graft.ops.Dedup.containmentPairs]] surfaces part→whole
    * relations (containment ≈ 1 where resemblance ≈ 0.5) that the
    * jaccard dedup would score below threshold.
    */
  def containmentQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val agg = d.as("a")
      .join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .filter(col("a.doc_id") % 7 === 0)
      .select((col("a.doc_id") + 50000).as("doc_id"),
        concat(col("a.text"), lit(" "), col("b.text")).as("text"))
    Dedup.containmentPairs(d.unionAll(agg), 0.75)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** ONE-SIDED containment search: original docs probed against a MEGA
    * corpus (8 consecutive originals concatenated per corpus doc) — the
    * small-doc-inside-huge-doc shape whose resemblance (≈ 1/8) sits far
    * below symmetric band recall but whose containment is exactly 1.
    * [[graft.ops.Dedup.containmentVersusCorpus]] samples the CONTAINED
    * side only (bottom-k shingle hashes) and probes the corpus posting
    * table, so recall is structural for true subsets. Mega text order
    * is pinned by sorting the collected (doc_id, text) structs — the
    * oracle's string_agg(ORDER BY doc_id).
    */
  def containmentOnesidedQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 320)
    val mega = d
      .groupBy(expr("doc_id div 8").as("g"))
      .agg(array_join(
        transform(sort_array(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text")), " ").as("text"))
      .select((col("g") + 80000L).as("doc_id"), col("text"))
    Dedup.containmentVersusCorpus(d, mega, 0.9)
      .orderBy(col("doc_id"), col("corpus_id"))
  }

  /** Winnowing (MOSS) span-level dedup over documents + planted QUOTE
    * docs: every 11th doc's tokens 11-40 spliced before another doc's
    * full text (id+70000) — the plagiarism/quotation shape where
    * whole-doc Jaccard stays low but a long shared token run exists.
    * [[graft.ops.Dedup.winnowPairs]]: shared winnowing fingerprints ≥ 20
    * after dropping corpus-boilerplate fingerprints (df > 20). The
    * small-vocab synthetic corpus also yields genuine heavy span
    * repeats — they surface alongside the planted docs, which is the
    * operator doing its job.
    */
  def winnowQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 300)
    // only docs long enough for a real 30-token quote are planted:
    // shorter sources hit an engine-semantics edge (DuckDB list[11:40]
    // on a 10-token doc is NULL where Spark slice() is empty)
    val planted = d.as("a")
      .join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 3)
      .filter(col("a.doc_id") % 11 === 0 &&
        size(split(trim(lower(col("a.text"))), "\\s+")) >= 40)
      .select((col("a.doc_id") + 70000).as("doc_id"),
        concat(
          array_join(slice(split(trim(lower(col("a.text"))), "\\s+"), 11, 30), " "),
          lit(" "), col("b.text")).as("text"))
    Dedup.winnowPairs(d.unionAll(planted), k = 3, w = 4,
        minShared = 20, maxDocFreq = 20)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Span pairs WITH coverage ratios ([[graft.ops.Dedup
    * .winnowPairsCoverage]]) over two contrasting plants per eligible
    * source doc: a HOST (id+70000, 30-token quote of `a` + full text of
    * `a+3`) whose coverage against `a` is a sliver, and a PURE-QUOTE
    * doc (id+80000, the 30-token slice alone) whose fingerprints are
    * structurally a subset of `a`'s — coverage ≈ 1. The pair rows carry
    * both ratios, so a drop policy can tell "doc that quotes" from
    * "doc that IS the quote" — the signal q_curation_spancov acts on.
    */
  def winnowCoverageQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 300)
    def slice30(c: Column) =
      array_join(slice(split(trim(lower(c)), "\\s+"), 11, 30), " ")
    val eligible = d.as("a")
      .join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 3)
      .filter(col("a.doc_id") % 11 === 0 &&
        size(split(trim(lower(col("a.text"))), "\\s+")) >= 40)
    val hosts = eligible.select((col("a.doc_id") + 70000).as("doc_id"),
      concat(slice30(col("a.text")), lit(" "), col("b.text")).as("text"))
    val quotes = eligible.select((col("a.doc_id") + 80000).as("doc_id"),
      slice30(col("a.text")).as("text"))
    Dedup.winnowPairsCoverage(d.unionAll(hosts).unionAll(quotes),
        k = 3, w = 4, minShared = graft.ops.Curation.SpanMinShared,
        maxDocFreq = graft.ops.Curation.SpanMaxDocFreq)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Shared input for the duplicate-SUBSTRING dedup queries: docs < 300
    * plus planted composites (id+60000) built like the winnow plants —
    * tokens 11-40 of every eligible 11th doc `a` (≥ 40 tokens) spliced
    * before the FULL text of `b = a+3`. Every gram of a plant except
    * the quote/b boundary grams re-uses an earlier doc's run, so under
    * the global first-occurrence rule the plant is (almost) entirely
    * removable while the originals keep their first copies.
    */
  private def spanDedupInput(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 300)
    val planted = d.as("a")
      .join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 3)
      .filter(col("a.doc_id") % 11 === 0 &&
        size(split(trim(lower(col("a.text"))), "\\s+")) >= 40)
      .select((col("a.doc_id") + 60000).as("doc_id"),
        concat(
          array_join(slice(split(trim(lower(col("a.text"))), "\\s+"), 11, 30), " "),
          lit(" "), col("b.text")).as("text"))
    d.unionAll(planted)
  }

  /** Exact duplicate-substring removal spans
    * ([[graft.ops.Dedup.duplicateSpans]], the Lee-et-al ExactSubstr
    * mode): maximal per-doc token ranges whose 8-grams all occur
    * earlier in the corpus. The plants must surface as (near-)whole-doc
    * spans; natural small-vocab repeats in the synthetic corpus surface
    * alongside them — both engines must agree exactly.
    */
  def dedupSpansQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.duplicateSpans(spanDedupInput(spark, sfDir), k = 8)
      .orderBy(col("doc_id"), col("span_start"))

  /** Cleaned-corpus rebuild ([[graft.ops.Dedup.stripDuplicateSpans]]):
    * every doc with its duplicate spans cut and the remainder re-joined
    * — the volume-preserving dedup output. Text compared by md5 (the
    * cleaned strings are doc-sized); token totals ride alongside so
    * the cut accounting is visible in the diff.
    */
  def dedupStripQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.stripDuplicateSpans(spanDedupInput(spark, sfDir), k = 8)
      .select(col("doc_id"), col("n_tokens"), col("n_kept"),
        md5(col("text_clean")).as("clean_md5"))
      .orderBy(col("doc_id"))

  /** CCNet paragraph-level dedup ([[graft.ops.Dedup.paragraphDedup]]
    * over [[graft.ops.Dedup.segmentsByBlock]] 20-token segments):
    * corpus-wide first-occurrence rule per segment hash, per-doc
    * rebuild. Plants (id+95000 for doc_id < 40) open with an exact
    * copy of the base doc's first 20-token block, then 20 filler
    * tokens unique to the plant — so each plant must lose exactly its
    * first segment to the base doc and keep the filler segment, while
    * all base docs keep everything (modulo natural block collisions,
    * which both engines see identically).
    */
  def paragraphDedupQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val w = split(trim(lower(col("text"))), "\\s+")
    // alias the plant id FIRST, build text in a second select: a lambda
    // referencing doc_id in the same select as the (+95000) alias
    // resolves against the aliased output, double-shifting the id
    val fillers = transform(sequence(lit(1), lit(20)),
      jj => concat(lit("p"), col("doc_id").cast("string"),
        lit("w"), jj.cast("string")))
    val plants = d.filter(col("doc_id") < 40)
      .select((col("doc_id") + 95000).as("doc_id"), col("text"))
      .select(col("doc_id"),
        array_join(concat(slice(w, 1, 20), fillers), " ").as("text"))
    Dedup.paragraphDedup(Dedup.segmentsByBlock(d.unionAll(plants), block = 20))
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        md5(col("text_clean")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** Incremental duplicate-substring spans
    * ([[graft.ops.Dedup.duplicateSpansVersusCorpus]]): corpus =
    * docs < 200 distilled into a prebuilt gram-first index; delta
    * batch = docs 200-299 plus two plant families — a composite
    * quoting CORPUS content (id+60000: 30-token quote of corpus doc
    * `a` + full text of corpus doc `a+3`, every dup mark from the
    * index side) and exact copies of batch docs (id+70000, the
    * batch-INTERNAL first-occurrence rule). Only batch docs appear in
    * the output; the corpus is never re-scanned.
    */
  def dedupSpansIncrQ(spark: SparkSession, sfDir: String): DataFrame = {
    val all = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val corpus = all.filter(col("doc_id") < 200)
    val batch0 = all.filter(col("doc_id") >= 200 && col("doc_id") < 300)
    val quoted = corpus.as("a")
      .join(corpus.as("b"), col("b.doc_id") === col("a.doc_id") + 3)
      .filter(col("a.doc_id") % 11 === 0 &&
        size(split(trim(lower(col("a.text"))), "\\s+")) >= 40)
      .select((col("a.doc_id") + 60000).as("doc_id"),
        concat(
          array_join(slice(split(trim(lower(col("a.text"))), "\\s+"), 11, 30), " "),
          lit(" "), col("b.text")).as("text"))
    val copies = batch0.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 70000).as("doc_id"), col("text"))
    Dedup.duplicateSpansVersusCorpus(
        batch0.unionAll(quoted).unionAll(copies),
        Dedup.gramFirstTable(corpus), k = 8)
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Span-level decontamination — the verbatim-leak companion of
    * [[decontaminate]] (same eval-set convention, doc_id % 97): corpus
    * docs sharing ≥ 3 WINNOWING fingerprints with the benchmark slice
    * carry a verbatim token run of length ≥ w + k − 1 per shared
    * fingerprint (the winnowing guarantee) — stronger evidence than
    * gram-overlap counting, which a paraphrase can trip. Benchmark
    * fingerprints broadcast (eval-set-sized); the corpus is probed by
    * one narrow left join — the decontaminate shape.
    */
  def decontaminateSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val fps = Dedup.winnowFingerprints(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
    val benchFps = fps.filter(col("doc_id") % 97 === 0)
      .select(col("fp")).distinct().withColumn("hit", lit(1L))
    fps.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(benchFps), Seq("fp"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fps"),
        sum(coalesce(col("hit"), lit(0L))).as("n_leaked"))
      .withColumn("span_contaminated", col("n_leaked") >= 3)
      .orderBy(col("doc_id"))
  }

  /** Temperature-scaled mixture weights per (lang, source) — the
    * multilingual/domain sampling-rate table every training run derives
    * from its corpus stats (alpha-smoothing, here alpha = 0.5 so the
    * smoothing is an EXACT `sqrt`: correctly-rounded IEEE in both
    * engines, unlike pow(x, 0.3) whose libm rounding could diverge).
    * Small groups get up-weighted relative to their raw share; one
    * narrow aggregate + a scalar window over ~|groups| rows.
    */
  def mixtureWeights(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .withColumn("w", sqrt(col("total_chars").cast("double")))
      // scalar total over ~|lang×source| rows — single partition is the
      // point; singleton_key keeps the spec non-empty through the
      // optimizer (see GraftFunctions.singleton_key)
      .withColumn("mix_weight",
        round(col("w") / sum(col("w")).over(
          Window.partitionBy(graft.functions.GraftFunctions.singleton_key(col("n_docs")))), 6))
      .select(col("lang"), col("source"), col("n_docs"), col("total_chars"),
        col("mix_weight"))
      .orderBy(col("lang"), col("source"))
  }

  /** Duplicate-cluster assignment: connected components (min-label
    * propagation) over the verified LSH near-dup pairs — the transitive
    * closure that collapses whole dup chains onto one canonical keeper.
    */
  def dedupClustersQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.connectedComponents(lshPairs(spark, sfDir))
      .orderBy(col("doc_id"))

  /** Leakage-safe train/val/test split: duplicate CLUSTERS, not raw
    * doc ids, are the split unit — every near-dup of a doc lands in
    * the SAME split, so a val/test doc can never be a near-copy of a
    * train doc (the leakage a plain doc_id-hash split permits, and a
    * real eval-integrity requirement in training pipelines). Cluster
    * labels come from [[graft.ops.Dedup.connectedComponents]] over the
    * memoized LSH pairs; singletons keep their own id as
    * representative; the Curation split-hash convention runs on the
    * representative. Scale: one left join of the corpus against the
    * duplicate-sized label table, then a narrow hash projection.
    */
  def clusterSplitQ(spark: SparkSession, sfDir: String): DataFrame = {
    val base = docsWithNearCopies(spark, sfDir, None).select(col("doc_id"))
    val cc = Dedup.connectedComponents(lshPairs(spark, sfDir))
    val withRep = base.join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("rep"))
    val bucket = graft.ops.TextOps.portableHash64(
      concat(lit("split:"), col("rep"))) % 100
    withRep.select(col("doc_id"), col("rep"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Incremental dedup: a synthetic ingest batch (near copies of every
    * 7th doc + vowel-mangled "novel" rewrites of others) LSH-matched
    * against the existing documents corpus. Near copies must match
    * (their shingle sets overlap heavily), mangled docs must come out
    * novel (every vowel-bearing word's shingles changed). One summary
    * row per batch doc — n_matches / best jaccard / first matching
    * corpus id — so both outcomes are visible and hash-stable.
    */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val newBatch =
      corpus.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 30000).as("doc_id"),
          replace(col("text"), lit("data"), lit("info")).as("text"))
      .union(corpus.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 40000).as("doc_id"),
          translate(lower(col("text")), "aeiou", "01234").as("text")))
    val matches = Dedup.newVersusCorpus(newBatch, corpus, 0.5)
    newBatch.select(col("doc_id").as("new_id"))
      .join(matches, Seq("new_id"), "left")
      .groupBy(col("new_id"))
      .agg(
        count(col("corpus_id")).as("n_matches"),
        round(coalesce(max(col("jaccard")), lit(0.0)), 6).as("max_jacc"),
        min(col("corpus_id")).as("first_match"))
      .orderBy(col("new_id"))
  }

  /** Exact batch-vs-corpus dedup behind a broadcast Bloom pre-filter:
    * exact copies of every 11th doc must resolve to their source, docs
    * with a one-token suffix must come out clean (exact ≠ near).
    */
  def dedupBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val batch =
      corpus.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 50000).as("doc_id"), col("text"))
      .union(corpus.filter(col("doc_id") % 11 === 5)
        .select((col("doc_id") + 60000).as("doc_id"),
          concat(col("text"), lit(" xyzzy")).as("text")))
    // sizing comes from plan statistics (one scan saved vs an exact
    // count(): the bloom build + verify join already read the corpus)
    Dedup.exactVersusCorpusBloom(batch, corpus, 0.01)
      .orderBy(col("new_id"))
  }

  /** Deterministic hash-Bernoulli downsampling stratified by language
    * (en downweighted to 0.2, everything else 0.8) — kept count per
    * stratum.
    */
  def weightedSampleQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Sampling.weightedByRate(
        Tables.documents(spark, sfDir), Map("en" -> 0.2), 0.8, "lang", "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy(col("lang"))

  /** Deterministic per-group document cap (20 docs/language, hash-
    * uniform subset, id tie-break).
    */
  def groupCapQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Sampling.capPerGroup(
        Tables.documents(spark, sfDir), "lang", "doc_id", 20)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Corpus balancing with DATA-derived rates
    * ([[graft.ops.Sampling.balanceToSmallest]]): every language
    * stratum downsampled to ≈ the smallest stratum's size, keep
    * decision exact-integer so both engines agree on every boundary
    * row. Output = per-language (original, kept) counts.
    */
  def rebalanceQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_orig"))
    val keptCounts = graft.ops.Sampling.balanceToSmallest(d, "lang", "doc_id")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_k"))
    counts.join(keptCounts, Seq("lang"), "left") // zero-kept strata stay visible
      .select(col("lang"), col("n_orig"),
        coalesce(col("n_k"), lit(0L)).as("n_kept"))
      .orderBy(col("lang"))
  }

  /** Epoch materialization by replication
    * ([[graft.ops.Sampling.upsampleToLargest]]): every language stratum
    * repeated to ≈ the largest stratum's size — the apply side of the
    * mixture-weight table (q_mixture_weights computes rates; this lays
    * an epoch down). Whole copies are exact integer division; the
    * fractional copy is the same exact-integer hash rule as
    * q_rebalance, so both engines emit the identical (doc_id, copy)
    * multiset.
    */
  def epochUpsampleQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Sampling.upsampleToLargest(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")),
        "lang", "doc_id")
      .select(col("doc_id"), col("lang"), col("copy"))
      .orderBy(col("doc_id"), col("copy"))

  /** Temperature-flattened sampling at α = 1/2
    * ([[graft.ops.Sampling.temperatureSample]]): every language stratum
    * kept at rate √(min_n/n_lang) — the partial flattening between
    * q_rebalance (α = 0) and the natural distribution (α = 1). The
    * keep rule compares exact BIGINT products (bucket²·n < min_n·B²),
    * so both engines agree on every boundary row. Output = per-language
    * (original, kept) counts, same shape as q_rebalance.
    */
  def temperatureSampleQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_orig"))
    val keptCounts = graft.ops.Sampling.temperatureSample(d, "lang", "doc_id")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_k"))
    counts.join(keptCounts, Seq("lang"), "left")
      .select(col("lang"), col("n_orig"),
        coalesce(col("n_k"), lit(0L)).as("n_kept"))
      .orderBy(col("lang"))
  }

  /** Greedy 1500-token budget per language
    * ([[graft.ops.Sampling.tokenBudgetPerGroup]]): docs rank by the
    * sampling hash within each language and survive while the running
    * whitespace-token total stays ≤ 1500 — the "fill each stratum to
    * its token allocation" step of laying down a mixture. Integer
    * window sums with a total order, so the cut row is engine-exact.
    */
  def tokenBudgetQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        size(TextOps.words(col("text"))).cast("long").as("n_tok"))
    graft.ops.Sampling.tokenBudgetPerGroup(d, "lang", "doc_id", "n_tok", 1500L)
      .orderBy(col("doc_id"))
  }

  /** 16-bit SimHash per document. */
  def simhashQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.simhash16(Tables.documents(spark, sfDir)).orderBy(col("doc_id"))

  /** SimHash hamming-distance near-dup pairs on a capped set. */
  def simhashPairsQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.simhashPairs(docsWithNearCopies(spark, sfDir, Some(100)), 3)
      .orderBy(col("doc_a"), col("doc_b"))

  /** The blocked (nibble-banded) variant must reproduce the brute-force
    * pair list EXACTLY — recall is pigeonhole-structural, so this shares
    * q_simhash_pairs' oracle SQL verbatim.
    */
  def simhashBlockedQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.simhashPairsBlocked(docsWithNearCopies(spark, sfDir, Some(100)), 3)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Brute-force cosine top-5 neighbors for the first 10 vectors.
    * The probe slice is a TakeOrdered (10 smallest vec_ids — identical
    * rows to `vec_id < 10` on the dense-from-0 id space) so the
    * cross-join build side is PROVABLY bounded: JoinLint certifies the
    * plan structurally instead of via an allowlist attestation.
    */
  def knnCosine(spark: SparkSession, sfDir: String): DataFrame = {
    val e = normEmbeddings(spark, sfDir)
    Similarity.bruteForceTopK(e.orderBy(col("vec_id")).limit(10), e, 5)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Label-blocked (IVF-style) embedding near-dup with planted copies. */
  def embedNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Similarity.asDouble(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("label"), col("embedding"))
    val planted = e.union(
      e.filter(col("vec_id") % 5 === 0).select(
        (col("vec_id") + 10000).as("vec_id"), col("label"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + 0.01).otherwise(x)).as("embedding")))
    Similarity.blockedNearDup(Similarity.normalized(planted), "label", 0.99)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Embedding-space eval decontamination — the semantic complement of
    * the n-gram [[decontaminateQ]] (paraphrased eval leakage carries no
    * shared 8-gram but lands at cosine ≈ 1): the 10-vector eval set is
    * normalized and BROADCAST, every train vector takes its max cosine
    * against it in one linear corpus pass (argmax eval id by
    * max(struct(cs, −eval_id)) — a total order, deterministic ties),
    * and vectors at ≥ 0.95 are flagged with their matching eval id.
    * Planted paraphrase-contamination (eval copies, first coordinate
    * nudged, ids +20000) is the ground truth the stage must catch —
    * the same planting contract as [[embedNearDup]], and the same
    * wide-margin raw-double threshold precedent (organic cosines sit
    * far below 0.95). Scale shape: |eval|·d broadcast, ONE scan, a
    * per-vector partial max — never an all-pairs join.
    */
  def decontaminateEmbedQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Similarity.asDouble(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("embedding"))
    // TakeOrdered probe slice (== vec_id < 10 on the dense id space):
    // the broadcast build side is provably bounded, so JoinLint
    // certifies the plan structurally (no allowlist entry needed)
    val evalSet = e.orderBy(col("vec_id")).limit(10)
    val train = e.filter(col("vec_id") >= 10).union(
      evalSet.select((col("vec_id") + 20000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + 0.01).otherwise(x)).as("embedding")))
    val tn = Similarity.normalized(train)
    val qn = Similarity.normalized(evalSet)
      .select(col("vec_id").as("eval_id"), col("embedding").as("qv"))
    val best = tn.crossJoin(broadcast(qn))
      .select(col("vec_id"),
        struct(Similarity.dot(col("embedding"), col("qv")).as("c"),
          (-col("eval_id")).as("nid")).as("s"))
      .groupBy(col("vec_id")).agg(max(col("s")).as("m"))
    val tot = best.groupBy()
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("m.c") >= 0.95, 1L).otherwise(0L)).as("n_flagged"))
    best.filter(col("m.c") >= 0.95)
      .crossJoin(broadcast(tot))
      .select(col("vec_id"), (-col("m.nid")).as("eval_id"),
        round(col("m.c"), 6).as("cos_sim"), col("n_train"), col("n_flagged"))
      .orderBy(col("vec_id"))
  }

  /** As-of join: each purchase matched to the user's latest view at or
    * before it (union+window — no per-row lookup, no range cross join).
    */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.ops.TimeSeries.asOfJoin(
      purchases, views, key = "user_id", ts = "ts",
      rightOrder = "event_id", rightPayload = Seq("event_id"))
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        col("_asof.event_id").as("view_id"))
      .orderBy(col("purchase_id"))
  }

  /** Same as-of semantics as [[asofJoin]], executed skew-resistantly:
    * the window partitions on (user, 6h time bucket) with carry-in
    * candidates, so a hot user splits across tasks. Must hash-match the
    * same oracle as [[asofJoin]].
    */
  def asofJoinBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.ops.TimeSeries.asOfJoinBucketed(
      purchases, views, key = "user_id", ts = "ts",
      rightOrder = "event_id", rightPayload = Seq("event_id"),
      bucketSeconds = 6 * 3600)
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        col("_asof.event_id").as("view_id"))
      .orderBy(col("purchase_id"))
  }

  /** Same as-of semantics as [[asofJoin]], executed by the custom
    * planner operator (graft.plans.AsOfJoinExec sorted merge) — the two
    * must hash-match the same oracle.
    */
  def asofJoinNative(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"), col("ts").as("v_ts"))
    graft.ops.TimeSeries.asOfJoinNative(purchases, views,
      leftKey = "user_id", rightKey = "v_user",
      leftTs = "ts", rightTs = "v_ts", rightOrder = "view_id")
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        col("view_id"))
      .orderBy(col("purchase_id"))
  }

  /** Gap-based sessionization of the event stream (30-minute gap). */
  def sessionizeQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.TimeSeries.sessionize(
      Tables.events(spark, sfDir), key = "user_id", ts = "ts",
      orderCol = "event_id", gapSeconds = 1800)
      .orderBy(col("user_id"), col("session_idx"))

  /** Recursive CTE (Spark 4.x WITH RECURSIVE): walk each session chain
    * from its head through successor events (gap ≤ 30 min), bounded at
    * 5 steps — the iterative-traversal SQL surface the reference's
    * engine family exposes, executed natively by Spark's recursion
    * operator (UNION ALL semantics; depth bounded by the step guard, so
    * no reliance on the engine's recursion limit).
    */
  def recursiveChain(spark: SparkSession, sfDir: String): DataFrame = {
    // The successor table is MATERIALIZED once (SessionMemo + persist,
    // the lshPairs pattern): Spark's recursion operator re-executes the
    // referenced plan on every step, so an un-cached `ordered` would run
    // the lag-window 6 times. The recursion then loops joins against an
    // InMemoryRelation — per-step cost is the join, not the prep.
    graft.sources.SessionMemo(spark, ("chain_ordered", sfDir)) {
      Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("us"))
        .withColumn("prev_id", lag(col("event_id"), 1).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))))
        .withColumn("prev_us", lag(col("us"), 1).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }.createOrReplaceTempView("graft_chain_ordered")
    spark.sql(
      """WITH RECURSIVE
        |nxt AS (SELECT user_id, event_id, us, prev_id FROM graft_chain_ordered
        |        WHERE prev_us IS NOT NULL AND us - prev_us <= 1800000000),
        |chain(user_id, event_id, step) AS (
        |  SELECT user_id, event_id, 1 FROM graft_chain_ordered
        |  WHERE prev_us IS NULL OR us - prev_us > 1800000000
        |  UNION ALL
        |  SELECT n.user_id, n.event_id, c.step + 1
        |  FROM chain c JOIN nxt n ON n.user_id = c.user_id AND n.prev_id = c.event_id
        |  WHERE c.step < 5)
        |SELECT CAST(step AS BIGINT) AS step, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users, min(event_id) AS min_event
        |FROM chain GROUP BY step ORDER BY step""".stripMargin)
  }

  /** Pivot (hand-rolled columns in the oracle). Empty cells are null in
    * Spark's pivot but 0 in a SUM(CASE) oracle — coalesce for parity.
    */
  def pivotQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("F"),
        coalesce(col("O"), lit(0L)).as("O"),
        coalesce(col("P"), lit(0L)).as("P"))
      .orderBy(col("o_orderpriority"))

  /** Exact interpolated percentiles per group. */
  def percentilesQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_qty"),
        round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90_price"),
        round(expr("percentile(l_discount, 0.25)"), 6).as("p25_disc"))
      .orderBy(col("l_returnflag"))

  /** Array functions over tokenized documents. */
  def arrayFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val ws = TextOps.words(col("text"))
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 100)
      .select(
        col("doc_id"),
        size(ws).cast("long").as("n_words"),
        element_at(ws, 1).as("first_word"),
        element_at(ws, -1).as("last_word"),
        concat_ws(" ", slice(ws, 1, 3)).as("first3"),
        element_at(array_sort(ws), 1).as("min_word"),
        array_contains(ws, "data").as("has_data"),
        size(array_distinct(ws)).cast("long").as("n_distinct"))
      .orderBy(col("doc_id"))
  }

  /** Elementwise label centroids — the k-means/IVF training primitive:
    * posexplode vectors → (label, dim) partial-avg aggregation. Long
    * format (label, dim, value) so the shuffle rows stay tiny.
    */
  def labelCentroids(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.asDouble(Tables.embeddings(spark, sfDir))
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(round(avg(col("x")), 6).as("centroid_val"), count(lit(1)).as("n_vectors"))
      .orderBy(col("label"), col("dim"))

  /** Deterministic random hyperplanes for sign-LSH: weights derived from
    * the portable hash of "plane:p:i", computed once at plan-build time
    * and inlined as literals (both engines get the identical doubles).
    */
  lazy val LshPlanes: Seq[Seq[Double]] = (0 until 8).map { p =>
    (0 until 64).map { i =>
      val h = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val d = md.digest(s"plane:$p:$i".getBytes("UTF-8"))
        ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) | ((d(2) & 0xffL) << 24) |
          ((d(3) & 0xffL) << 16) | ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
      }
      (h % 1000L) / 1000.0 - 0.5
    }
  }

  /** Sign-LSH bucketed ANN: 8 hyperplane sign bits → 256 buckets; search
    * only within the query's bucket (the scale path — bucket join instead
    * of all-pairs), score by cosine (pre-normalized dot), top-3.
    */
  def annLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = normEmbeddings(spark, sfDir)
    val bucket = LshPlanes.zipWithIndex.map { case (plane, p) =>
      when(graft.functions.GraftFunctions.dot_product(
        col("embedding"), typedLit(plane)) > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)
    val b = e.select(col("vec_id"), col("embedding"), bucket.as("bucket"))
    val q = b.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("bucket"))
    val c = b.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"), col("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", Similarity.dot(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rnk").cast("long").as("rnk"),
        round(col("cos_sim"), 6).as("cos_sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Full IVF ANN: compute centroids from the data (label-seeded),
    * assign every vector to its nearest cell, then search only the
    * query's cell. The real two-stage ANN shape: O(n·k) assignment +
    * per-cell scoring instead of O(n²).
    */
  def annIvf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val raw = Similarity.asDouble(Tables.embeddings(spark, sfDir))
    val cells = Similarity.assignCells(raw, Similarity.centroids(raw))
    val normed = Similarity.normalized(raw).join(cells, "vec_id")
    val q = probeSlice(normed, 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("cell"))
    val c = normed.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"), col("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", Similarity.dot(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("query_id"), col("cell"), col("neighbor_id"), col("rnk"),
        round(col("cos_sim"), 6).as("cos_sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Product-quantization ANN (ADC): m=4 subspaces over the 64-dim
    * embeddings, label-seeded per-subspace codebooks, every corpus
    * vector reduced to 4 small codes, then asymmetric-distance top-3
    * for the harness query set — the COMPRESSED-corpus ANN shape
    * ([[graft.ops.Similarity.pqAdcTopK]]): at 100 TB the raw vectors
    * never enter the search; the scan reads the narrow code table and
    * one broadcast LUT, and the per-pair sum is exact 1e6-floor
    * integers so the ranking hash-matches the oracle bit-for-bit.
    */
  def annPq(spark: SparkSession, sfDir: String): DataFrame = {
    val m = 4
    val raw = Similarity.asDouble(Tables.embeddings(spark, sfDir))
    val books = pqBooks(spark, sfDir, 0)
    val codes = Similarity.pqEncode(raw, books, m)
    Similarity.pqAdcTopK(probeSlice(raw, 10), codes, books, 3, m)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** The m=4 PQ codebooks shared by the PQ family — k·d-sized model,
    * referenced by several broadcasts (encode + LUT in each consumer).
    * Session-memoized per (sf, rounds) so the corpus-sized training
    * aggregate runs once AND repeated invocations (soak/bench loops)
    * can't accumulate checkpoint blocks — one cached entry per variant
    * per session, the annMtCodes discipline. The rounds=0 checkpoint is
    * LAZY (SessionMemo's benign-race contract: a losing builder's
    * un-executed checkpoint holds no blocks); Lloyd-refined books come
    * back driver-localized from [[graft.ops.Similarity.pqCodebooks]]
    * as a LocalRelation — a racing loser there re-runs training jobs
    * but likewise holds no executor storage.
    */
  private def pqBooks(spark: SparkSession, sfDir: String, lloydRounds: Int): DataFrame =
    graft.sources.SessionMemo(spark, ("pq_books", sfDir, lloydRounds)) {
      val raw = Similarity.asDouble(Tables.embeddings(spark, sfDir))
      val b = Similarity.pqCodebooks(raw, 4, lloydRounds)
      if (lloydRounds > 0) b else b.localCheckpoint(false)
    }

  /** [[annPq]] with the codebooks refined by 2 per-subspace Lloyd
    * rounds ([[graft.ops.Similarity.pqCodebooks]] — the q_kmeans
    * exact-replay discipline: 6dp centroids each round, id tie-breaks,
    * empty cells drop), the DuckDB oracle unrolling both rounds. Same
    * scan/selection as q_ann_pq; the measured quality delta of the
    * refinement is recorded by [[annPqRecall]]'s row pair.
    */
  def annPqLloyd(spark: SparkSession, sfDir: String): DataFrame = {
    val m = 4
    val raw = Similarity.asDouble(Tables.embeddings(spark, sfDir))
    val books = pqBooks(spark, sfDir, 2)
    val codes = Similarity.pqEncode(raw, books, m)
    Similarity.pqAdcTopK(probeSlice(raw, 10), codes, books, 3, m)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Exact re-rank of an ANN `shortlist` (query_id, neighbor_id,
    * adc_e6): each candidate's raw vector from `raw` and its query's
    * from `qs`, both by broadcast join, e6-floored squared Euclidean
    * distance d2_e6, top 3 per query. The refine step of
    * [[annPqRefine]] and [[annIvfPqRefine]].
    */
  private def exactRerank(raw: DataFrame, qs: DataFrame,
      shortlist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qv = qs.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val nv = raw.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2_e6"), col("neighbor_id"))
    nv.join(broadcast(shortlist), "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("d2_e6", floor((Similarity.dot(col("nv"), col("nv"))
        - lit(2.0) * Similarity.dot(col("qv"), col("nv"))
        + Similarity.dot(col("qv"), col("qv"))) * lit(1000000.0)).cast("long"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        col("adc_e6"), col("d2_e6"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** PQ/ADC with an exact refine stage (the FAISS `RFlat` shape,
    * Jégou et al. §VII): the compressed-corpus ADC scan shortlists
    * k'=10 candidates per query, then ONLY those candidates' raw
    * vectors are fetched and re-ranked by exact squared L2 to the
    * final top-3. At 100 TB this is the standard quality/IO trade:
    * the full corpus is touched through codes alone, and the raw-vector
    * table is probed by a broadcast join against the |Q|·k'-row
    * shortlist (point lookups, never a second scan-shuffle). Distances
    * are 1e6-floor integers via the shared sequential-fold dot, so
    * both rank stages hash-match the oracle; the re-rank window is
    * per-query over ≤ k' rows (bounded by the shortlist, never the
    * corpus).
    */
  def annPqRefine(spark: SparkSession, sfDir: String): DataFrame = {
    val m = 4
    val raw = Similarity.asDouble(Tables.embeddings(spark, sfDir))
    val books = pqBooks(spark, sfDir, 0)
    val codes = Similarity.pqEncode(raw, books, m)
    val qs = probeSlice(raw, 10)
    val shortlist = Similarity.pqAdcTopK(qs, codes, books, 10, m)
      .select(col("query_id"), col("neighbor_id"), col("adc_e6"))
    exactRerank(raw, qs, shortlist)
  }

  private val IvfPqM = 8
  private val IvfPqKsub = 32
  private val IvfPqNprobe = 3

  /** The IVFADC index triple (coarse centroids, residual codebooks,
    * residual codes+cell) — each piece session-memoized per sf: the
    * models are driver-sized, the code table is the narrow persisted
    * corpus artifact the scan reads. Residual codebooks are seeded by
    * `vec_id % 32` (label-seeded residuals would collapse: residual
    * means per label are ≈ 0 by construction) and refined by 2 Lloyd
    * rounds.
    */
  private def ivfPqParts(spark: SparkSession, sfDir: String): (DataFrame, DataFrame, DataFrame) = {
    val raw = Similarity.asDouble(Tables.embeddings(spark, sfDir))
    // lazy checkpoint/persist throughout: SessionMemo builders stay pure
    // plan construction, so a losing concurrent builder holds no blocks
    val cents = graft.sources.SessionMemo(spark, ("ivfpq_cents", sfDir)) {
      Similarity.centroids(raw).localCheckpoint(false)
    }
    val res = graft.sources.SessionMemo(spark, ("ivfpq_res", sfDir)) {
      Similarity.ivfResiduals(raw, cents)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    // the one non-pure builder: Lloyd training runs jobs, but its result
    // is a driver-local LocalRelation — a racing loser re-trains (wasted
    // compute under a cold concurrent race) yet holds no executor blocks
    val books = graft.sources.SessionMemo(spark, ("ivfpq_books", sfDir)) {
      Similarity.pqCodebooks(res, IvfPqM, 2, pmod(col("vec_id"), lit(IvfPqKsub)))
    }
    val codes = graft.sources.SessionMemo(spark, ("ivfpq_codes", sfDir)) {
      Similarity.pqEncode(res, books, IvfPqM)
        .join(res.select(col("vec_id"), col("ivf_cell")), "vec_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    (cents, books, codes)
  }

  /** IVF + PQ composed ANN — the IVFADC architecture (FAISS's
    * production shape, [[graft.ops.Similarity.ivfPqTopK]]): coarse
    * label-seeded centroids prune the scan to each query's 3 nearest
    * cells, and within them ADC runs over m=8, ksub=32 PQ codes of the
    * RESIDUALS. Same output shape as q_ann_pq; at 100 TB the win over
    * plain PQ is that per query only nprobe/ncells of the code table
    * is read (partition pruning when the codes are laid out by
    * ivf_cell) while residual quantization keeps MORE accuracy than
    * whole-vector PQ — measured ≥ plain-PQ recall at every SF
    * ([[annPqRecall]]'s third row carries the gate).
    */
  def annIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Similarity.asDouble(Tables.embeddings(spark, sfDir))
    val (cents, books, codes) = ivfPqParts(spark, sfDir)
    Similarity.ivfPqTopK(probeSlice(raw, 10), codes, cents, books,
        3, IvfPqM, IvfPqNprobe)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** [[annIvfPq]] served from the PARTITION-PRUNED lake layout — the
    * proof of the IVFADC storage claim: the residual code table is
    * WRITTEN to parquet partitioned by `ivf_cell` (the IVFADC
    * vector-store layout: codes + cell id on disk), read back, and
    * filtered to the queries' probed cells BEFORE the ADC join, so the
    * scan node itself carries `PartitionFilters` and reads only
    * nprobe-of-ncells directories (PlanSpec asserts both). At 100 TB the
    * code table is the only corpus-sized index artifact, and this layout
    * turns nprobe/ncells from a join selectivity into an IO bound. The probed
    * cell-id list is collected to the driver — bounded by the COARSE
    * MODEL (≤ ncells ids, here ≤ |labels|), never the corpus, the same
    * budget as broadcasting the centroids themselves. Results are
    * bit-identical to q_ann_ivfpq (same oracle SQL): pruning removes
    * only rows the LUT join would drop anyway. Layout write is
    * session-memoized per sf; rerunning overwrites idempotently.
    */
  def annIvfPqPruned(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Similarity.asDouble(Tables.embeddings(spark, sfDir))
    val (cents, books, codes) = ivfPqParts(spark, sfDir)
    val lake = graft.sources.SessionMemo(spark, ("ivfpq_lake_codes", sfDir)) {
      // "lake_" prefix: a leading underscore would make the directory
      // invisible to Spark's hidden-path filter on some list paths
      val path = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft_ivfpq_lake",
        "lake" + sfDir.replaceAll("[^A-Za-z0-9.]+", "_")).toString
      codes.write.mode("overwrite").partitionBy("ivf_cell").parquet(path)
      spark.read.parquet(path)
    }
    val qs = probeSlice(raw, 10)
    val probedCells = Similarity.ivfProbedCells(qs, cents, IvfPqNprobe)
      .select(col("ivf_cell")).distinct().collect().map(_.getLong(0))
    // static partition filter (int-typed on read-back: hive partition
    // values infer as INT); cast back to long only AFTER the filter so
    // pruning stays on the raw partition column
    val pruned = lake
      .filter(col("ivf_cell").isin(probedCells.map(_.toInt).toSeq: _*))
      .withColumn("ivf_cell", col("ivf_cell").cast("long"))
    Similarity.ivfPqTopK(qs, pruned, cents, books, 3, IvfPqM, IvfPqNprobe)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** IVFADC + exact re-rank — the full production serving stack
    * (FAISS IVFADC,R): the pruned residual-ADC scan of [[annIvfPq]]
    * shortlists k'=12 candidates per query, then ONLY those
    * candidates' raw vectors are point-looked-up and re-ranked by
    * exact squared L2 to the final top-3 — the [[annPqRefine]]
    * contract composed over the IVF-pruned path. At 100 TB the corpus
    * is touched through cell-pruned codes alone and the refine stage
    * is a broadcast join against the |Q|·k'-row shortlist; the re-rank
    * window is shortlist-bounded, never corpus-bounded. Carries both
    * distances so the quality delta (ADC order vs exact order) is
    * visible per row; recall@3 measured in COVERAGE.md.
    */
  def annIvfPqRefine(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Similarity.asDouble(Tables.embeddings(spark, sfDir))
    val (cents, books, codes) = ivfPqParts(spark, sfDir)
    val qs = probeSlice(raw, 10)
    val shortlist = Similarity.ivfPqTopK(qs, codes, cents, books,
        12, IvfPqM, IvfPqNprobe)
      .select(col("query_id"), col("neighbor_id"), col("adc_e6"))
    exactRerank(raw, qs, shortlist)
  }

  /** The 32×6 code table shared by [[annMultiTable]] and [[annRecall]]
    * — memoized + persisted per (session, sf): the 192 plane dots are
    * the expensive pass over the embeddings, and the table itself is
    * 3 narrow columns × 32 rows/vector.
    */
  private def annMtCodes(spark: SparkSession, sfDir: String, e: DataFrame): DataFrame =
    graft.sources.SessionMemo(spark, ("ann_mt_codes", sfDir)) {
      Similarity.lshMultiTableCodes(e)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** The shared multi-table candidate + exact-cosine rerank pipeline
    * over the harness query set (vec_id < 10) — delegates to
    * [[graft.ops.Similarity.lshMultiTableTopK]] with the memoized
    * corpus code table. ONE definition so the pipeline [[annRecall]]
    * certifies is exactly the one [[annMultiTable]] serves.
    */
  private def annMtTopK(spark: SparkSession, sfDir: String, e: DataFrame,
      k: Int): DataFrame =
    Similarity.lshMultiTableTopK(probeSlice(e, 10), e, k,
      corpusCodes = Some(annMtCodes(spark, sfDir, e)))

  /** OR-amplified multi-table ANN top-3 (the operator [[annRecall]]
    * certifies): candidates from 32 independent 6-bit sign-LSH tables
    * ([[graft.ops.Similarity.lshMultiTableCodes]]), union-deduped,
    * reranked by exact cosine. Same output shape as [[annLsh]] so a
    * user can swap single-code search for the recall-bearing variant.
    */
  def annMultiTable(spark: SparkSession, sfDir: String): DataFrame = {
    val e = normEmbeddings(spark, sfDir)
    annMtTopK(spark, sfDir, e, 3).orderBy(col("query_id"), col("rnk"))
  }

  /** ANN recall@3 contract: the OR-amplified multi-table LSH path
    * ([[graft.ops.Similarity.lshMultiTableCodes]], 32 tables × 6 bits)
    * reranked by exact cosine, scored against the brute-force top-3
    * ground truth on the same capped query set. Output is ONE audit row
    * — (method, n_queries, n_truth, n_hits, recall_ok) — with the
    * recall gate integer-exact (n_hits·4 ≥ n_truth·3, i.e. ≥ 0.75;
    * measured 0.90–0.97 across SFs). The DuckDB oracle replays the
    * ENTIRE pipeline — md5-regenerated planes, sequential-fold dots,
    * code buckets, rerank, truth — so n_hits itself hash-matches; the
    * boolean is the headline contract, not the only check.
    *
    * Why not gate `q_ann_lsh`/`q_ann_ivf` directly: their single-
    * bucket/single-cell search is the partition-pruning shape, and on
    * THIS corpus (near-uniform synthetic vectors, top-3 cosine ≈ 0.34)
    * a single 8-bit AND-amplified code measures recall 0.00-0.03 — no
    * honest threshold exists. OR-amplification is the standard fix and
    * the operator this row certifies.
    */
  def annRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 3
    val e = normEmbeddings(spark, sfDir)
    // the EXACT pipeline q_ann_multitable serves — one shared definition
    val approx = annMtTopK(spark, sfDir, e, k)
      .select(col("query_id"), col("neighbor_id"))
    val truth = Similarity.bruteForceTopK(probeSlice(e, 10), e, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
    truth.agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_truth"))
      .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hits"))))
      .select(lit("lsh_mt32x6").as("method"), col("n_queries"),
        col("n_truth"), col("n_hits"),
        (col("n_hits") * 4 >= col("n_truth") * 3).as("recall_ok"))
  }

  /** Measured PQ-family retrieval quality against exact squared-L2
    * truth — one row per variant, every hit count hash-matched in the
    * oracle's full-pipeline replay: `pq4x10_adc` (the one-shot
    * label-seeded chain q_ann_pq serves), `pq4x10_adc_lloyd2` (the
    * 2-round-refined books of q_ann_pq_lloyd — the before/after
    * refinement delta IS this row pair), and `ivfpq8x32_adc` (the
    * composed q_ann_ivfpq). No absolute recall gate: all PQ variants
    * on structure-free synthetic embeddings are lossy few-code
    * compressions (the certified-recall path remains q_ann_recall's
    * OR-amplified multi-table LSH) — but the RELATIVE gate
    * `ge_plain_pq` holds by measurement at every SF: IVFADC's residual
    * quantization recovers more than its 3-of-10-cell pruning costs,
    * exactly the Jégou et al. trade.
    */
  def annPqRecall(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = 4
    val k = 3
    val raw = Similarity.asDouble(Tables.embeddings(spark, sfDir))
    val q = probeSlice(raw, 10)
    def pqApprox(lloydRounds: Int): DataFrame = {
      val books = pqBooks(spark, sfDir, lloydRounds)
      Similarity.pqAdcTopK(q, Similarity.pqEncode(raw, books, m), books, k, m)
        .select(col("query_id"), col("neighbor_id"))
    }
    val ivfApprox = {
      val (cents, books, codes) = ivfPqParts(spark, sfDir)
      Similarity.ivfPqTopK(q, codes, cents, books, k, IvfPqM, IvfPqNprobe)
        .select(col("query_id"), col("neighbor_id"))
    }
    // the exact-refine serving stack (same IVF shortlist, re-ranked):
    // measured here so the refine stage's recovery over raw ADC order is
    // a recorded number, not a claim (round-9 advice item)
    val refineApprox = annIvfPqRefine(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"))
    val truth = pqL2Truth(raw, q, k)
    def hitsOf(approx: DataFrame, name: String): DataFrame = broadcast(
      truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as(name)))
    val wide = truth
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_truth"))
      .crossJoin(hitsOf(pqApprox(0), "h0"))
      .crossJoin(hitsOf(pqApprox(2), "h2"))
      .crossJoin(hitsOf(ivfApprox, "hi"))
      .crossJoin(hitsOf(refineApprox, "hr"))
    def rowOf(method: String, h: String): DataFrame =
      wide.select(lit(method).as("method"), col("n_queries"), col("n_truth"),
        col(h).as("n_hits"), (col(h) >= col("h0")).as("ge_plain_pq"))
    rowOf("ivfpq8x32_adc", "hi")
      .unionAll(rowOf("ivfpq8x32_adc_refine", "hr"))
      .unionAll(rowOf("pq4x10_adc", "h0"))
      .unionAll(rowOf("pq4x10_adc_lloyd2", "h2"))
      .orderBy(col("method"))
  }

  /** Exact squared-L2 top-k ground truth `(query_id, neighbor_id)` for
    * the capped query set — eval-only brute force (broadcast queries),
    * shared by [[annPqRecall]] and [[annIvfPqSweep]].
    */
  private def pqL2Truth(raw: DataFrame, q: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qv = q.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val cv = raw.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2"), col("neighbor_id"))
    cv.crossJoin(broadcast(qv))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("d2", Similarity.dot(col("cv"), col("cv"))
        - lit(2.0) * Similarity.dot(col("qv"), col("cv"))
        + Similarity.dot(col("qv"), col("qv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"))
      // |q|·k rows, but referenced once per compared method (recall
      // joins + the truth aggregate): checkpointed so the brute-force
      // corpus pass behind it runs ONCE, not per reference
      .localCheckpoint(true)
  }

  /** The IVFADC recall-vs-nprobe curve — the operator's cost/quality
    * knob measured in one pass: every (query, neighbor) ADC-scored
    * once ([[graft.ops.Similarity.ivfPqScoredAll]] — the sum is
    * nprobe-independent, a neighbor only joins its own cell's LUT
    * rows) and tagged with its cell's rank for that query; each
    * nprobe's top-3 is then a filter + the bounded bottom-k, hit
    * counts against exact squared-L2 truth. One row per nprobe ∈
    * {1, 2, 3, 5, 10}; every count hash-matched by the full DuckDB
    * replay. Eval-only by design (the sweep deliberately scans all
    * cells; serving stays [[annIvfPq]]'s pruned path).
    */
  def annIvfPqSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 3
    val raw = Similarity.asDouble(Tables.embeddings(spark, sfDir))
    val q = probeSlice(raw, 10)
    val (cents, books, codes) = ivfPqParts(spark, sfDir)
    val scoredAll = Similarity.ivfPqScoredAll(q, codes, cents, books, IvfPqM)
      .localCheckpoint(false) // |Q|·n rows at eval scale; feeds 5 filters
    val truth = pqL2Truth(raw, q, k).localCheckpoint(false)
    val stats = broadcast(truth.agg(
      countDistinct(col("query_id")).as("n_queries"),
      count(lit(1)).as("n_truth")))
    IvfPqSweepProbes.map { np =>
      val approx = Similarity.bottomKByQuery(
          scoredAll.filter(col("cell_rn") <= np)
            .select(col("query_id"), col("neighbor_id"), col("adc_e6")), k)
        .select(col("query_id"), col("neighbor_id"))
      val hits = broadcast(
        truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits")))
      stats.crossJoin(hits)
        .select(lit(np.toLong).as("nprobe"), col("n_queries"),
          col("n_truth"), col("n_hits"))
    }.reduce(_ unionAll _).orderBy(col("nprobe"))
  }

  private val IvfPqSweepProbes = Seq(1, 2, 3, 5, 10)

  /** k-means (3 Lloyd iterations from the label seed): cluster sizes.
    * Deterministic (6dp-rounded centroids each round, id tie-breaks),
    * so the DuckDB oracle replays all three iterations unrolled;
    * KMeansSpec additionally asserts monotone inertia + stability.
    */
  def kmeansQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Similarity.asDouble(Tables.embeddings(spark, sfDir))
    val (assigned, cents) = Similarity.kmeans(e, 3)
    assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("cell"))
  }

  /** Deterministic stratified train/val/test split by portable hash —
    * the reproducible-split primitive of a training-data pipeline.
    */
  def stratifiedSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = TextOps.portableHash64(concat(lit("split:"), col("doc_id"))) % 100
    Tables.documents(spark, sfDir)
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"), col("split"))
  }

  /** Top-N per group (window rank, not global top-k). */
  def topnPerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(spark, sfDir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("c_nationkey"), col("rn"), col("c_custkey"),
        round(col("c_acctbal"), 2).as("acctbal"))
      .orderBy(col("c_nationkey"), col("rn"))
  }

  /** Banded range join: same-user event pairs where b follows a by
    * (0, 60] seconds. Equi-join on (user, minute-bucket ∈ {b, b+1}) then
    * exact range filter — the scale shape for interval joins (bucket
    * join, not an O(n²) range predicate).
    */
  def rangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).cast("long").as("sec"))
    val a = ev.select(col("user_id"), col("event_id").as("id_a"), col("sec").as("sec_a"),
        explode(array((col("sec") / 60).cast("long"), (col("sec") / 60).cast("long") + 1)).as("bucket"))
    val b = ev.select(col("user_id"), col("event_id").as("id_b"), col("sec").as("sec_b"),
        (col("sec") / 60).cast("long").as("bucket"))
    a.join(b, Seq("user_id", "bucket"))
      .filter(col("sec_b") > col("sec_a") && col("sec_b") - col("sec_a") <= 60)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("user_id"))
  }

  /** Cartesian product (small × small). */
  def crossJoinQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.region(spark, sfDir).crossJoin(Tables.nation(spark, sfDir))
      .select(col("r_name"), col("n_name"))
      .orderBy(col("r_name"), col("n_name"))

  /** Scalar subquery: customers above the global average balance.
    * Compared in exact integer cents, cross-multiplied (bal*n > sum) so
    * neither engine ever divides — boundary-exact balances can't flip.
    */
  def scalarSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val globalAgg = c.agg(sum(cents(col("c_acctbal"))).as("g_sum"), count(lit(1)).as("g_n"))
    c.crossJoin(broadcast(globalAgg))
      .filter(cents(col("c_acctbal")) * col("g_n") > col("g_sum"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_above_avg"))
      .orderBy(col("c_mktsegment"))
  }

  /** Salted skew join: events fact ⋈ per-user dim, salt factor 8; result
    * must equal the plain join (which is what the oracle computes).
    */
  def saltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val dim = ev.select(col("user_id")).distinct()
      .withColumn("ip", LogGen.clientIp(col("user_id")))
    graft.ops.Skew.saltedJoin(ev, dim, "user_id", col("event_id") % 8, 8)
      .groupBy(col("ip"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("value_sum"))
      .orderBy(col("ip"))
  }

  /** Edit distance (Levenshtein) near-name pairs. */
  def editDistance(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir).filter(col("p_partkey") < 40)
      .select(col("p_partkey"), col("p_name"))
    val a = p.select(col("p_partkey").as("key_a"), col("p_name").as("name_a"))
    val b = p.select(col("p_partkey").as("key_b"), col("p_name").as("name_b"))
    a.join(b, col("key_a") < col("key_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= 15)
      .select(col("key_a"), col("key_b"), col("dist"))
      .orderBy(col("key_a"), col("key_b"))
  }

  /** Per-group top-3 via the typed [[graft.ops.Aggregators.TopK]]
    * Aggregator (bounded buffer, map-side combinable — no per-group
    * sort). Must equal the window-function oracle exactly.
    */
  def topkTyped(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val agg = new graft.ops.Aggregators.TopK(3)
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(agg.toColumn.name("topk"))
      .flatMap { case (cust, list) =>
        list.zipWithIndex.map { case ((price, okey), i) =>
          (cust, (i + 1).toLong, okey,
            BigDecimal(price).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }
      .toDF("c_custkey", "rnk", "o_orderkey", "price")
      .orderBy(col("c_custkey"), col("rnk"))
  }

  /** Ordered string aggregation (LISTAGG/STRING_AGG shape). */
  def stringAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.nation(spark, sfDir)
      .groupBy(col("n_regionkey"))
      .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy(col("n_regionkey"))

  /** Statistical aggregates via portable moment sums. Native
    * stddev_samp/corr use engine-specific merge algorithms (Welford
    * variants) whose low bits differ from DuckDB's — instead both sides
    * compute (n·Σxy − Σx·Σy)-style formulas over EXACT decimal sums of
    * integer cents, so every double operation runs on bit-identical
    * operands. StatsSpec asserts these equal Spark's native aggregates
    * to 1e-6 (keeping the native-API coverage).
    */
  def statsAgg(spark: SparkSession, sfDir: String): DataFrame = {
    def dsum(c: Column): Column = sum(c.cast("decimal(38,0)")).cast("double")
    val (q, p, d) = (cents(col("l_quantity")), cents(col("l_extendedprice")), cents(col("l_discount")))
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        dsum(q).as("sq"), dsum(q * q).as("sqq"),
        dsum(p).as("sp"), dsum(p * p).as("spp"),
        dsum(d).as("sd"), dsum(q * p).as("sqp"), dsum(q * d).as("sqd"))
      .select(
        col("l_returnflag"),
        // /1e4: cents² -> units²; var_samp = (n·Σx²−(Σx)²)/(n(n−1))
        round(sqrt((col("n") * col("sqq") - col("sq") * col("sq")) /
          (col("n") * (col("n") - 1))) / 100, 4).as("sd_qty"),
        round((col("n") * col("spp") - col("sp") * col("sp")) /
          (col("n") * (col("n") - 1)) / 10000, 2).as("var_price"),
        round((col("n") * col("sqp") - col("sq") * col("sp")) /
          (sqrt(col("n") * col("sqq") - col("sq") * col("sq")) *
            sqrt(col("n") * col("spp") - col("sp") * col("sp"))), 4).as("corr_qty_price"),
        round((col("n") * col("sqd") - col("sq") * col("sd")) /
          (col("n") * (col("n") - 1)) / 10000, 4).as("covar_qty_disc"))
      .orderBy(col("l_returnflag"))
  }

  /** Null semantics: coalesce/nullif chains, null-safe equality, and
    * null-skipping vs null-counting aggregation (testdata has no nulls,
    * so they are derived deterministically first).
    */
  def nullFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val nb = when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal"))
    Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"), nb.as("nb"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("nb")).as("n_nonnull"),
        sum(col("nb").isNull.cast("long")).as("n_null"),
        round(sum(coalesce(col("nb"), lit(0.0))), 2).as("sum_coalesced"),
        sum((col("nb") <=> lit(null)).cast("long")).as("n_nullsafe_eq_null"))
      .orderBy(col("c_mktsegment"))
  }

  /** HAVING clause (post-aggregation filter). */
  def havingQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"),
        avgFromCents(sum(cents(col("c_acctbal"))), count(lit(1)), 2).as("avg_bal"))
      .filter(col("n_customers") > 4)
      .orderBy(col("c_nationkey"))

  /** Explicit GROUPING SETS with grouping() flags — issued through the
    * spark.sql surface (SURVEY Q8/Q9) over registered views.
    */
  def groupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    // register only what the SQL touches, under graft_-prefixed names:
    // bare "customer" would clobber a same-named user temp view (the
    // session catalog is shared), and cross-query hidden dependencies
    // under concurrent runs are avoided by never touching common names.
    Tables.customer(spark, sfDir).createOrReplaceTempView("graft_customer")
    spark.sql(
      """SELECT c_mktsegment, c_nationkey,
        |  CAST(grouping(c_mktsegment) AS BIGINT) AS g_seg,
        |  CAST(grouping(c_nationkey) AS BIGINT) AS g_nat,
        |  count(1) AS n, round(sum(c_acctbal), 2) AS bal_sum
        |FROM graft_customer
        |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        |ORDER BY g_seg, g_nat, c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST""".stripMargin)
  }

  /** MapType functions over JSON-derived maps. */
  def mapFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val m = from_json(col("props"), org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.LongType))
    Tables.events(spark, sfDir)
      .filter(col("event_id") < 500)
      .select(
        col("event_id"),
        size(map_keys(m)).cast("long").as("n_keys"),
        concat_ws(",", array_sort(map_keys(m))).as("keys"),
        // try_: ANSI element_at throws on a missing key; the oracle's
        // json_extract_string yields NULL
        try_element_at(m, lit("k")).as("k_val"),
        map_contains_key(m, "missing").as("has_missing"))
      .orderBy(col("event_id"))
  }

  /** Multimodal pipeline: synth binary payloads → partition-wise decode →
    * per-kind rollup. Oracle-checked: the payload is a pure function of
    * media_id, so DuckDB regenerates the byte stream with generate_series
    * and replays the decode arithmetic (same double op order; Spark's
    * math.rint = DuckDB round_even). The average runs over exact integer
    * micro-brightness (the avgFromCents idiom) so accumulation order
    * cannot flip the hash. MultimodalSpec asserts the decode round-trip.
    */
  def mediaPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val meta = graft.ops.Multimodal.decodeStub(graft.ops.Multimodal.syntheticMedia(spark, 2000))
    // brightness is rint(raw*1e6)/1e6 — recover the exact micro integer
    val micros = round(col("brightness") * 1e6).cast("long")
    meta.toDF().groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_frames")).as("total_frames"),
        (floor(sum(micros).cast("double") / count(lit(1)) + 0.5) / 1e6).as("avg_brightness"),
        sum(col("payload_bytes")).as("total_bytes"))
      .orderBy(col("kind"))
  }

  /** Sketch aggregate: approx_count_distinct (HLL++). The raw estimate
    * is engine-specific, so the oracle checks the CONTRACT instead: the
    * query emits the exact count plus `within_bound` (relative error vs
    * exact ≤ 10%, double the default 5% rsd) and DuckDB asserts literal
    * TRUE — HLL++ is deterministic for fixed data, so the check is
    * stable, and a sketch regression flips the hash.
    */
  def approxDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = countDistinct(col("l_partkey"))
    val approx = approx_count_distinct(col("l_partkey"))
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        exact.as("exact_parts"),
        (abs(approx.cast("double") - exact.cast("double")) / exact.cast("double") <= 0.1)
          .as("within_bound"))
      .orderBy(col("l_returnflag"))
  }

  /** Mergeable-sketch rollup (DataSketches HLL): per-(type, day)
    * sketch PARTIALS unioned per type — the "sketch once at ingest,
    * roll up forever" lake pattern (daily sketches persist; weekly/
    * monthly/all-time distincts come from unions, never a rescan).
    * Gated by the estimate's error contract against the exact
    * distinct (the q_approx_distinct device): lgConfigK=12 gives
    * ~1.6% standard error, checked at a slack 10%.
    */
  def sketchRollupQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val daily = ev
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    val merged = daily.groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
        count(lit(1)).as("n_days"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged.join(exact, "event_type")
      .select(col("event_type"), col("exact_users"), col("n_days"),
        (abs(col("est").cast("double") - col("exact_users").cast("double"))
          / col("exact_users").cast("double") <= 0.1).as("within_bound"))
      .orderBy(col("event_type"))
  }

  /** Approximate-quantile sketch (GK/KLL-family `percentile_approx`)
    * gated by its rank-error CONTRACT, like q_approx_distinct: with
    * accuracy 1000 the rank error is ≤ 0.1%, so the approx median must
    * lie within the exact p45..p55 value band (hugely slack — stable
    * under any tie-breaking drift). The sketch itself is mergeable
    * partial-agg state: quantiles over 100 TB without a global sort.
    */
  def approxQuantileQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("exact_p50"),
        expr("percentile_approx(l_extendedprice, 0.5, 1000)")
          .between(
            expr("percentile(l_extendedprice, 0.45)"),
            expr("percentile(l_extendedprice, 0.55)"))
          .as("within_bound"))
      .orderBy(col("l_returnflag"))

  /** Spark 4 VARIANT path over the same props JSON: parse ONCE into the
    * binary-encoded variant, then typed `variant_get` extraction — the
    * scale-friendly semi-structured layout (repeated field access reads
    * the encoded tree, not the text; contrast q_json_funcs, which
    * re-parses the string per extraction). try_variant_get on a missing
    * path must yield null, counted to 0.
    */
  def variantFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val v = parse_json(col("props"))
    Tables.events(spark, sfDir)
      .select(col("event_type"), v.as("v"))
      .select(
        col("event_type"),
        expr("variant_get(v, '$.k', 'long')").as("k"),
        expr("try_variant_get(v, '$.absent', 'string')").as("miss"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"),
        count(col("miss")).as("n_missing"))
      .orderBy(col("event_type"))
  }

  /** JSON extraction from the events.props string column. */
  def jsonFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"))
      .orderBy(col("event_type"))

  /** Correlated EXISTS / NOT EXISTS (the decorrelation path — distinct
    * from the DataFrame left_semi/left_anti forms in q_semi/anti_join).
    */
  def existsSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    // graft_-prefixed views: never clobber user "customer"/"orders"
    Tables.customer(spark, sfDir).createOrReplaceTempView("graft_customer")
    Tables.orders(spark, sfDir).createOrReplaceTempView("graft_orders")
    spark.sql(
      """SELECT c_custkey, c_name
        |FROM graft_customer
        |WHERE EXISTS (SELECT 1 FROM graft_orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |  AND NOT EXISTS (SELECT 1 FROM graft_orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)
  }

  /** LATERAL join: top-2 customers by balance per nation — the lateral
    * subquery re-executes per outer row (planned as a decorrelated
    * ranked join, not a nested loop).
    */
  def lateralJoin(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("graft_customer")
    Tables.nation(spark, sfDir).createOrReplaceTempView("graft_nation")
    spark.sql(
      """SELECT n_name, t.c_custkey, round(t.c_acctbal, 2) AS acctbal
        |FROM graft_nation,
        |LATERAL (SELECT c_custkey, c_acctbal FROM graft_customer
        |         WHERE c_nationkey = n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n_name, t.c_custkey""".stripMargin)
  }

  /** Correlated scalar subqueries in the SELECT list (one per output
    * column — each decorrelates to an aggregate + left outer join).
    */
  def correlatedScalar(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("graft_customer")
    Tables.nation(spark, sfDir).createOrReplaceTempView("graft_nation")
    spark.sql(
      """SELECT n_nationkey, n_name,
        |  (SELECT count(*) FROM graft_customer WHERE c_nationkey = n_nationkey) AS n_cust,
        |  (SELECT round(max(c_acctbal), 2) FROM graft_customer WHERE c_nationkey = n_nationkey) AS max_bal
        |FROM graft_nation ORDER BY n_nationkey""".stripMargin)
  }

  /** Wide→long unpivot of the lineitem measures (Dataset.unpivot — the
    * melt operator; narrow, no shuffle).
    */
  def unpivotQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") < 200)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "value")
      .select(col("l_orderkey"), col("l_linenumber"), col("measure"),
        round(col("value"), 2).as("value"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))

  /** Value-RANGE window frames (peer rows by value distance, not row
    * position) + nth_value over the full frame.
    */
  def windowRange(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byBrand = Window.partitionBy(col("p_brand"))
    val wRange = byBrand.orderBy(col("p_size")).rangeBetween(-2, Window.currentRow)
    val wFull = byBrand.orderBy(col("p_size"), col("p_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.part(spark, sfDir)
      .filter(col("p_partkey") < 400)
      .select(
        col("p_partkey"), col("p_brand"), col("p_size").cast("long").as("p_size"),
        count(lit(1)).over(wRange).as("n_near"),
        sum(col("p_size")).over(wRange).cast("long").as("size_sum"),
        round(min(col("p_retailprice")).over(wRange), 2).as("min_near_price"),
        nth_value(col("p_partkey"), 2).over(wFull).as("second_smallest"))
      .orderBy(col("p_partkey"))
  }

  /** End-to-end curation flagship over documents seeded with exact
    * (+10000, %3) and near (+20000, %5, data→info) copies, so every
    * stage provably removes something: language gate → quality gate →
    * exact dedup → LSH near-dup removal → hash split.
    */
  def curationQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val base = d
      .union(d.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .union(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 20000).as("doc_id"),
          replace(col("text"), lit("data"), lit("info")).as("text")))
    graft.ops.Curation.curate(base).orderBy(col("doc_id"))
  }

  /** Curation WITH the CCNet-style LM perplexity stage: gates → exact →
    * LSH → LM filter → split. Plants (id+90000, every 17th doc) are
    * stopword-laced hex GIBBERISH — deterministic md5-chunk words that
    * sail through the stopword and quality gates (5 English stopwords,
    * no punctuation, high distinct ratio) but whose bigram stream is
    * almost entirely unseen under the reference model (the raw English
    * slice), landing near ln(0.4)+ln(1/(N+V)) per bigram — far below
    * [[graft.ops.Curation.LmPerBigramMicro]], so only the LM stage can
    * drop them. Fluent survivors score ~-3.4 and pass with margin.
    */
  def curationLmQ(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    def chunks(m: Column) = concat_ws(" ",
      (0 until 8).map(j => substring(m, 1 + 4 * j, 4)): _*)
    val idStr = col("doc_id").cast("string")
    val plants = docs.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 90000).as("doc_id"),
        concat_ws(" ", lit("the"), chunks(md5(idStr)),
          lit("and"), chunks(md5(concat(idStr, lit("x")))),
          lit("of"), chunks(md5(concat(idStr, lit("y")))),
          lit("to a")).as("text"))
    val base = docs.select(col("doc_id"), col("text")).union(plants)
    graft.ops.Curation.curate(base,
        lmRef = Some(docs.filter(col("lang") === "en")
          .select(col("doc_id"), col("text"))))
      .orderBy(col("doc_id"))
  }

  /** Curation flagship WITH the span-dedup stage (gates → exact → LSH →
    * winnowing span dedup → split): the q_curation plant set plus QUOTE
    * docs (id+70000) built from two 30-token slices — tokens 11-40 of
    * every 11th sufficiently-long doc and of its +3 neighbor,
    * concatenated. A quote doc's whole-doc Jaccard against either
    * source is far below JaccardMin (30 of ~100+ distinct shingles), so
    * the LSH stage keeps it — only the winnowing stage (shared
    * fingerprints from the verbatim 30-token runs) can drop it.
    */
  def curationSpansQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    def slice30(c: Column) =
      array_join(slice(split(trim(lower(c)), "\\s+"), 11, 30), " ")
    val quotes = d.as("a")
      .join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 3)
      .filter(col("a.doc_id") % 11 === 0 &&
        size(split(trim(lower(col("a.text"))), "\\s+")) >= 40 &&
        size(split(trim(lower(col("b.text"))), "\\s+")) >= 40)
      .select((col("a.doc_id") + 70000).as("doc_id"),
        concat(slice30(col("a.text")), lit(" "), slice30(col("b.text"))).as("text"))
    val base = d
      .union(d.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .union(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 20000).as("doc_id"),
          replace(col("text"), lit("data"), lit("info")).as("text")))
      .union(quotes)
    graft.ops.Curation.curate(base, spanStage = true).orderBy(col("doc_id"))
  }

  /** The covered-span plant corpus of [[curationSpanCovQ]] and
    * [[curationStripQ]] (doc_id, text): documents, every third doc
    * copied (id+10000), and per eligible source `a` (every 11th doc
    * of >= 40 tokens whose `a+3` has >= 60) a HOST (id+70000, the
    * vowel-rotated text of `a+3` + a 30-token quote of `a`) and the
    * PURE-QUOTE doc (id+80000).
    */
  private def coverPlantBase(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    def slice30(c: Column) =
      array_join(slice(split(trim(lower(c)), "\\s+"), 11, 30), " ")
    val eligible = d.as("a")
      .join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 3)
      .filter(col("a.doc_id") % 11 === 0 &&
        size(split(trim(lower(col("a.text"))), "\\s+")) >= 40 &&
        size(split(trim(lower(col("b.text"))), "\\s+")) >= 60)
    val hosts = eligible.select((col("a.doc_id") + 70000).as("doc_id"),
      concat(translate(lower(col("b.text")), "aeiou", "eioua"),
        lit(" "), slice30(col("a.text"))).as("text"))
    val quotes = eligible.select((col("a.doc_id") + 80000).as("doc_id"),
      slice30(col("a.text")).as("text"))
    d
      .union(d.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .union(hosts).union(quotes)
  }

  /** Curation with the COVERED span policy (gates → exact → LSH →
    * coverage-gated span dedup → split): drop a doc only when the
    * shared span is ≥ half of ITS OWN fingerprints. Two contrasting
    * plants per eligible source `a`: a PURE-QUOTE doc (id+80000, the
    * 30-token slice alone — mostly-span, must drop) and a HOST
    * (id+70000, vowel-rotated text of `a+3` + the quote of `a`): the
    * rotation makes the host novel to the LSH stage (near-zero shingle
    * overlap with its source) and the short quote is a sliver of its
    * fingerprints, so under `covered` the host SURVIVES — the exact
    * doc the unconditional drop-larger-id policy of q_curation_spans
    * would throw away. `b` length-gated ≥ 60 tokens so host coverage
    * is bounded below SpanMinCoverage by construction.
    */
  def curationSpanCovQ(spark: SparkSession, sfDir: String): DataFrame = {
    val base = coverPlantBase(spark, sfDir)
    graft.ops.Curation.curate(base, spanStage = true, spanPolicy = "covered")
      .orderBy(col("doc_id"))
  }

  /** Curation followed by the VOLUME-PRESERVING dedup mode: the
    * q_curation chain's survivors are rewritten by
    * [[graft.ops.Dedup.stripDuplicateSpans]] — every token run ≥ 8
    * duplicated WITHIN the surviving corpus keeps its global first
    * occurrence and is cut everywhere else — instead of dropping whole
    * near-dup documents. Same host/quote plants as q_curation_spancov:
    * where a quote's source survives curation, the pure-quote plant is
    * cut to ~nothing (keep_doc = false) while the host keeps its
    * unique vowel-rotated half — drop vs keep decided by surviving
    * CONTENT VOLUME, not document identity.
    */
  def curationStripQ(spark: SparkSession, sfDir: String): DataFrame = {
    val base = coverPlantBase(spark, sfDir)
    val curated = graft.ops.Curation.curate(base)
    val stripped = Dedup.stripDuplicateSpans(
      curated.join(base, "doc_id").select(col("doc_id"), col("text")), k = 8)
    curated.join(stripped, "doc_id")
      .select(col("doc_id"), col("quality"), col("split"),
        col("n_tokens"), col("n_kept"),
        (col("n_kept") >= 8).as("keep_doc"),
        md5(col("text_clean")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** Higher-order array functions (lambda expressions): aggregate /
    * filter / exists / forall / zip_with / transform. Note these are
    * CodegenFallback in Spark — correct but interpreted; hot paths use
    * the native expressions instead (see ShingleHashes scaladoc).
    */
  def hofFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val v = col("embedding")
    graft.ops.Similarity.asDouble(Tables.embeddings(spark, sfDir))
      .filter(col("vec_id") < 50)
      .select(
        col("vec_id"),
        round(aggregate(v, lit(0.0), (a, x) => a + x), 6).as("sum_v"),
        size(filter(v, x => x > 0)).cast("long").as("n_pos"),
        exists(v, x => x > 0.9).as("any_big"),
        forall(v, x => x > -1.0).as("all_gt"),
        round(aggregate(zip_with(v, reverse(v), (a, b) => a * b),
          lit(0.0), (a, x) => a + x), 6).as("dot_rev"),
        // scalar columns, not an array column: every other query emits
        // scalars and the driver's value-hasher is only proven on those
        round(element_at(v, 1), 6).as("h1"),
        round(element_at(v, 2), 6).as("h2"),
        round(element_at(v, 3), 6).as("h3"))
      .orderBy(col("vec_id"))
  }

  /** Heavy hitters via the Misra-Gries TypedImperativeAggregate. k=16
    * exceeds the distinct-lang cardinality, so the sketch is in its
    * exact regime and oracle-checkable against a plain GROUP BY count.
    */
  def freqItemsQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .agg(graft.functions.GraftFunctions.freq_items(col("lang"), 16).as("fi"))
      .select(explode(col("fi")).as("f"))
      .select(col("f.item").as("item"), col("f.cnt").as("cnt"))
      .orderBy(col("cnt").desc, col("item"))

  /** Time-series resample/gap-fill: dense per-user daily grid
    * (sequence + explode — generated, not scanned), zero-filled counts,
    * running cumulative. The grid side is tiny (users × days) and
    * broadcast; the fact side aggregates before joining.
    */
  def resampleQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir).filter(col("user_id") < 5)
    val daily = ev
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val users = ev.select(col("user_id")).distinct()
    val days = spark.range(1).select(explode(sequence(
      lit(java.sql.Date.valueOf("2024-01-01")),
      lit(java.sql.Date.valueOf("2024-01-30")),
      expr("interval 1 day"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    users.crossJoin(broadcast(days))
      .join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .withColumn("cum_events", sum(col("n_events")).over(w))
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_events"), col("cum_events"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Bitwise scalar functions (and/or/xor/not, shifts, popcount). */
  def bitwiseFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") < 2000)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_orderkey").bitwiseAND(255).as("and_v"),
        col("l_orderkey").bitwiseOR(4096).as("or_v"),
        col("l_orderkey").bitwiseXOR(col("l_suppkey")).as("xor_v"),
        bitwise_not(col("l_orderkey")).as("not_v"),
        shiftleft(col("l_orderkey"), 3).as("shl_v"),
        shiftright(col("l_orderkey"), 2).as("shr_v"),
        bit_count(col("l_orderkey")).cast("long").as("pop_v"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  // ------------------------------------------------- round-4 operators

  /** Append a 1-based global position to an already-sorted DataFrame.
    *
    * `zipWithIndex` is the distributed way to rank an entire dataset:
    * Spark's `orderBy` range-partitions (sampled boundaries) and sorts
    * within partitions, then zipWithIndex pays ONE extra count-per-
    * partition job to offset each partition's indices — no single-
    * partition window, no driver collect. This is the 100 TB shape for
    * "write ordered shards with global row numbers" (training-data
    * sharding / deterministic pagination).
    */
  private def withGlobalPos(df: DataFrame, posCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields :+
      StructField(posCol, LongType, nullable = false))
    val rdd = df.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) }
    spark.createDataFrame(rdd, schema)
  }

  /** Global total-order sort (range partitioning, no LIMIT — contrast
    * q_topk's TakeOrderedAndProject) with true global positions. The
    * oracle's `row_number() OVER (ORDER BY ...)` checks the ORDER
    * itself, not just the row set.
    */
  def globalSort(spark: SparkSession, sfDir: String): DataFrame =
    withGlobalPos(
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")),
      "pos")

  /** Fixed-width histogram: bucket = floor(x / width). IEEE division
    * and floor are correctly rounded, so bucket ids match DuckDB
    * bit-exactly; sums of 2dp money land on cents (safe to round).
    */
  def histogramQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bin"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("price_sum"),
        min(col("o_totalprice")).as("price_min"),
        max(col("o_totalprice")).as("price_max"))
      .orderBy(col("bin"))

  /** Distributed ordinary least squares via sufficient statistics —
    * THE scalable regression shape: one map-side-combinable aggregate
    * collects (n, Σx, Σy, Σx², Σxy, Σy²) per group and the closed-form
    * slope/intercept are a handful of scalar ops on the result. Here
    * y = extended price in cents vs x = quantity, per return flag.
    * All sums are widened to decimal(38,0) (DuckDB: HUGEINT) and every
    * reported figure is one integral division of exact integers —
    * slope_e6 = (n·Σxy − Σx·Σy)·10⁶ div (n·Σx² − Σx²), intercept in
    * cents·10⁶ from the same numerator/denominator pair, and r²·10⁶
    * with both operands pre-scaled div 1000 so the squares stay inside
    * 38 digits (documented approximation, identical on both engines).
    * No float enters at any point, so the fit is bit-exact.
    */
  def linregQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").as("grp"),
        round(col("l_quantity"), 0).cast("long").as("x"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("y"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("x").cast(d38)).as("sx"),
        sum(col("y").cast(d38)).as("sy"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"),
        sum((col("x").cast(d38) * col("y"))).as("sxy"),
        sum((col("y").cast(d38) * col("y"))).as("syy"))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("tss", col("n") * col("syy") - col("sy") * col("sy"))
      .select(col("grp"), col("n").cast("long").as("n"),
        expr("(num * 1000000) div den").as("slope_e6"),
        expr("((sy * den - num * sx) * 1000000) div (n * den)").as("icept_cents_e6"),
        // r²·10⁶ with matched prescales (num²/10¹⁴ vs den·tss/10¹⁴):
        // div returns LONG, so each quotient is re-widened to decimal
        // before the squares/products. Identical truncation on both
        // engines; needs tss ≥ 10¹¹ (any non-degenerate money fit).
        expr("""(cast(num div 10000000 as decimal(38,0)) * cast(num div 10000000 as decimal(38,0)) * 1000000)
                div (cast(den div 1000 as decimal(38,0)) * cast(tss div 100000000000 as decimal(38,0)))""")
          .as("r2_e6"))
      .orderBy(col("grp"))
  }

  /** Winsorized mean — the replace-don't-drop sibling of
    * q_trimmed_mean: values below the lower decile boundary are
    * clamped UP to it, above the upper decile clamped DOWN, then
    * averaged. Boundaries come from the same cumulative-count support
    * walk (smallest value with 10·cum ≥ n / ≥ 9·n — exact integer
    * predicates), the clamp is a broadcast of two scalars per group,
    * and the mean is one integral division at cents·100. Robust
    * location estimation with zero information thrown away about the
    * tail COUNT (unlike trimming) — the estimator of choice when the
    * tails are wrong but not absent.
    */
  def winsorizeQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").as("grp"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("v"))
    val pv = vals.groupBy(col("grp"), col("v")).agg(count(lit(1)).as("nv"))
    val w = Window.partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val bounds = pv.withColumn("cum", sum(col("nv")).over(w))
      .join(pv.groupBy(col("grp")).agg(sum(col("nv")).as("n")), "grp")
      .groupBy(col("grp"), col("n"))
      .agg(min(when(col("cum") * 10 >= col("n"), col("v"))).as("lo"),
        min(when(col("cum") * 10 >= col("n") * 9, col("v"))).as("hi"))
    vals.join(broadcast(bounds), "grp")
      .withColumn("wv", greatest(col("lo"), least(col("hi"), col("v"))))
      .groupBy(col("grp"), col("n"), col("lo"), col("hi"))
      .agg(sum(col("wv")).as("ws"))
      .select(col("grp"), col("n").as("total_n"),
        col("lo").as("lo_cents"), col("hi").as("hi_cents"),
        expr("ws * 100 div n").as("winsor_mean_e4"))
      .orderBy(col("grp"))
  }

  /** Completeness / freshness audit: which hourly buckets are MISSING
    * per event type against the full calendar grid (min..max hour of
    * the dataset) — the monitor that catches a dead upstream before a
    * dashboard does. The grid is sequence()-generated (one row per
    * type × hour, calendar-sized), present buckets anti-join it, and
    * the summary reports gap count plus the longest run of missing
    * hours per type via the island window on the gap set (gap-sized,
    * tiny). All integer hours, no timestamps compared.
    */
  def gapAuditQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hours = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"))
      .distinct()
    val span = hours.groupBy().agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
    val grid = hours.select(col("event_type")).distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"), explode(expr("sequence(lo, hi)")).as("h"))
    val gaps = grid.join(hours, Seq("event_type", "h"), "left_anti")
    val wg = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val runs = gaps
      .withColumn("grp", col("h") - row_number().over(wg))
      .groupBy(col("event_type"), col("grp")).agg(count(lit(1)).as("run"))
    gaps.groupBy(col("event_type")).agg(count(lit(1)).as("n_missing"))
      .join(runs.groupBy(col("event_type")).agg(max(col("run")).as("longest_gap")),
        Seq("event_type"), "left")
      .crossJoin(broadcast(span.select((col("hi") - col("lo") + 1).as("n_hours"))))
      .select(col("event_type"), col("n_hours"), col("n_missing"),
        coalesce(col("longest_gap"), lit(0L)).as("longest_gap"),
        expr("n_missing * 1000000 div n_hours").as("missing_e6"))
      .orderBy(col("event_type"))
  }

  /** Staged conversion funnel with strict event-time ordering: first
    * view, first click AFTER that view, first purchase AFTER that
    * click, per user. Three keyed aggregations on the same key
    * (user_id) — one logical shuffle key reused; the per-stage tables
    * shrink monotonically. µs BIGINTs end-to-end (nano ts via Tables).
    */
  def funnelQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), expr("unix_micros(ts)").as("us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("us")).as("view_us"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("us") > col("view_us"))
      .groupBy("user_id").agg(min(col("us")).as("click_us"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("us") > col("click_us"))
      .groupBy("user_id").agg(min(col("us")).as("purchase_us"))
    v.join(c.select(col("user_id"), col("click_us")), Seq("user_id"), "left")
      .join(p.select(col("user_id"), col("purchase_us")), Seq("user_id"), "left")
      .select(
        col("user_id"), col("view_us"), col("click_us"), col("purchase_us"),
        (lit(1) + when(col("click_us").isNotNull, 1).otherwise(0)
          + when(col("purchase_us").isNotNull, 1).otherwise(0)).cast("long").as("stage"))
      .orderBy(col("user_id"))
  }

  /** Cohort retention: cohort = first active epoch-day per user;
    * one row per (cohort, day-offset) with distinct active users.
    * The user-day table is pre-distinct'd so the final count is a
    * plain count(1) — no count(DISTINCT) blowup at scale.
    */
  def retentionQ(spark: SparkSession, sfDir: String): DataFrame = {
    val userDay = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"))
      .distinct()
    val cohort = userDay.groupBy("user_id").agg(min(col("d")).as("cohort_day"))
    userDay.join(cohort, "user_id")
      .groupBy(col("cohort_day"), (col("d") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Inter-purchase latency histogram: per-user purchase gaps (one
    * lag over the user exchange), bucketed to hours on the SUPPORT
    * (gap-hour → count — the KS/count-of-counts device again), with
    * the cumulative "≤ h hours" share at 10⁻⁶. The repurchase-latency
    * curve product analytics reads daily, exact end-to-end.
    */
  def interarrivalQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val gaps = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(expr("(us - prev) div 3600000000").as("gap_h"))
    val pv = gaps.groupBy(col("gap_h")).agg(count(lit(1)).as("n"))
    val wc = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("gap_h")))
      .orderBy(col("gap_h"))
      .rowsBetween(Window.unboundedPreceding, 0)
    pv.withColumn("cum", sum(col("n")).over(wc))
      .crossJoin(broadcast(pv.groupBy().agg(sum(col("n")).as("tot"))))
      .select(col("gap_h"), col("n"), col("cum"),
        expr("cum * 1000000 div tot").as("cdf_e6"))
      .orderBy(col("gap_h"))
  }

  /** Cross-source duplication provenance — which sources copy from
    * each other: the verified near-dup pairs joined to their source
    * labels on both ends (planted ids map back to their original's
    * source), aggregated per unordered source pair with a
    * within-source flag. The |sources|²-bounded forensics table that
    * decides whether dedup should run per-source or global.
    */
  def dupSourcesQ(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    def srcOf(side: String) = src.select(
      col("doc_id").as(side), col("source").as(s"src_$side"))
    lshPairs(spark, sfDir)
      .withColumn("doc_a", expr("CASE WHEN doc_a >= 10000 THEN doc_a - 10000 ELSE doc_a END"))
      .withColumn("doc_b", expr("CASE WHEN doc_b >= 10000 THEN doc_b - 10000 ELSE doc_b END"))
      .join(srcOf("doc_a"), "doc_a").join(srcOf("doc_b"), "doc_b")
      .select(least(col("src_doc_a"), col("src_doc_b")).as("source_lo"),
        greatest(col("src_doc_a"), col("src_doc_b")).as("source_hi"))
      .groupBy(col("source_lo"), col("source_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("within_source", col("source_lo") === col("source_hi"))
      .orderBy(col("source_lo"), col("source_hi"))
  }

  /** Dup-family size histogram — corpus forensics for the dedup
    * report: cluster sizes from the CC labels over the verified LSH
    * pairs, pivoted to the count-of-counts support (size → number of
    * families, cumulative docs in families ≥ size). Answers "is
    * duplication a few huge families or many pairs?" — which decides
    * whether cluster-verify cost is quadratic-in-family or benign.
    */
  def clusterSizesQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sizes = Dedup.connectedComponents(lshPairs(spark, sfDir))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
    val pv = sizes.groupBy(col("sz")).agg(count(lit(1)).as("n_families"))
    val w = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("sz")))
      .orderBy(col("sz").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    pv.withColumn("docs_in_ge", sum(col("sz") * col("n_families")).over(w))
      .orderBy(col("sz"))
  }

  /** Sessionized conversion rate per day: 30-minute-gap sessions (the
    * [[graft.ops.TimeSeries.sessionize]] island rule inline, plus a
    * purchase flag carried through the same user-partitioned window),
    * rolled up to (epoch-day of session start) with the converted
    * share at 10⁻⁶ — the product funnel number a batch warehouse
    * serves daily, one user exchange + one day-sized rollup.
    */
  def sessionConversionQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val sessions = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts) div 1000000").as("sec"))
      .withColumn("prev", lag(col("sec"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("sec") - col("prev") > 1800, 1L).otherwise(0L))
      .withColumn("sid",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("sec")).as("start_sec"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
    sessions.groupBy(expr("start_sec div 86400").as("day"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("converted")).as("n_converted"))
      .withColumn("conv_e6", expr("n_converted * 1000000 div n_sessions"))
      .orderBy(col("day"))
  }

  /** Activity concentration without ranking users: "the heaviest
    * users with ≥ k events are what share of all activity?" computed
    * on the COUNT-OF-COUNTS support — events-per-user k → number of
    * users at k (support-bounded rows), descending cumulative users
    * and events, shares at 10⁻⁶. The per-user rank a naive top-N%
    * needs would be a data-sized global sort; the support pivot makes
    * the whole curve one combinable aggregate + one tiny window
    * (the q_ks_drift device applied to concentration).
    */
  def userConcentrationQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("k"))
    val pv = perUser.groupBy(col("k")).agg(count(lit(1)).as("n_users"))
    val w = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("k")))
      .orderBy(col("k").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    pv.withColumn("cum_users", sum(col("n_users")).over(w))
      .withColumn("cum_events", sum(col("n_users") * col("k")).over(w))
      .crossJoin(broadcast(pv.groupBy().agg(
        sum(col("n_users")).as("tu"), sum(col("n_users") * col("k")).as("te"))))
      .select(col("k"), col("n_users"), col("cum_users"), col("cum_events"),
        expr("cum_users * 1000000 div tu").as("user_share_e6"),
        expr("cum_events * 1000000 div te").as("event_share_e6"))
      .orderBy(col("k").desc)
  }

  /** Week-over-week growth per event type: weekly counts, the lag
    * window on the (type, week) aggregate (group-sized, one
    * exchange), growth at 10⁻⁶ as an integral division — null on the
    * first week of each type rather than a fake 0.
    */
  def wowGrowthQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekly = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 604800000000").as("wk"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("wk"))
    weekly.withColumn("prev_n", lag(col("n"), 1).over(w))
      .select(col("event_type"), col("wk"), col("n"), col("prev_n"),
        expr("(n - prev_n) * 1000000 div prev_n").as("growth_e6"))
      .orderBy(col("event_type"), col("wk"))
  }

  /** Gini-Simpson language diversity per source — "is this crawl
    * monolingual?" as one exact number: with per-(source, lang) doc
    * counts nᵢ and N = Σnᵢ, the collision probability Σnᵢ(nᵢ−1) div
    * N(N−1) is a pure integer ratio, and diversity = 10⁶ − that. One
    * map-side-combinable count + one |sources×langs|-bounded rollup.
    */
  def diversityQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("n_langs"),
        sum(col("n") * (col("n") - 1)).as("coll"))
      // single-doc sources have an undefined collision probability —
      // excluded on BOTH sides (Spark ANSI would error, DuckDB would
      // NULL: the one divergence class this guard removes)
      .filter(col("n_docs") > 1)
      .select(col("source"), col("n_docs"), col("n_langs"),
        (lit(1000000L) - expr("coll * 1000000 div (n_docs * (n_docs - 1))"))
          .as("gini_simpson_e6"))
      .orderBy(col("source"))

  /** Vocabulary coverage curve — what fraction of corpus tokens the
    * top-k word types cover (k = 100 / 1000 / 10000), the first
    * number a tokenizer design needs: type counts (map-side
    * combined), one rank over the TYPE support (vocab-bounded,
    * singleton-key window, deterministic count-desc/token tie-break),
    * three conditional sums, integral 10⁻⁶ fractions. Zipf's law made
    * actionable.
    */
  def vocabCoverageQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val types = Tables.documents(spark, sfDir)
      .select(explode(graft.ops.TextOps.words(lower(col("text")))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val wr = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("c")))
      .orderBy(col("c").desc, col("tok"))
    types.withColumn("r", row_number().over(wr).cast("long"))
      .groupBy()
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("total_tokens"),
        sum(when(col("r") <= 100, col("c")).otherwise(0L)).as("cov100"),
        sum(when(col("r") <= 1000, col("c")).otherwise(0L)).as("cov1k"),
        sum(when(col("r") <= 10000, col("c")).otherwise(0L)).as("cov10k"))
      .select(col("n_types"), col("total_tokens"),
        expr("cov100 * 1000000 div total_tokens").as("coverage_100_e6"),
        expr("cov1k * 1000000 div total_tokens").as("coverage_1k_e6"),
        expr("cov10k * 1000000 div total_tokens").as("coverage_10k_e6"))
  }

  /** LSH banding recall certificate against PLANTED truth — the dedup
    * twin of q_ann_recall: the corpus's planted near-copies (d,
    * d+10000) give known ground-truth pairs; truth = planted pairs
    * whose EXACT Jaccard ≥ 0.5 (computed by a direct id join, linear
    * in plants), found = those the production band join surfaced
    * (semi-join against the memoized pair table). Reported per
    * 0.1-Jaccard bucket: the measured S-curve of 4-band×2-row
    * banding, recall at 10⁻⁶ — certified inside the oracle. A missed
    * pair here is a band miss, not a verify miss (verification is
    * exact), which is exactly the quantity to watch when retuning
    * bands/rows.
    */
  def dedupRecallQ(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = Dedup.shingleSets(docsWithNearCopies(spark, sfDir, None))
    val a = sh.filter(col("doc_id") % 5 === 0 && col("doc_id") < 10000)
      .select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val b = sh.filter(col("doc_id") >= 10000)
      .select((col("doc_id") - 10000).as("doc_a"), col("doc_id").as("doc_b"),
        col("shingles").as("sh_b"))
    val truth = a.join(b, "doc_a")
      .withColumn("jaccard",
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 6))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), floor(col("jaccard") * 10).as("bucket"))
    val found = lshPairs(spark, sfDir).select(col("doc_a"), col("doc_b"))
      .withColumn("hit", lit(1L))
    truth.join(found, Seq("doc_a", "doc_b"), "left")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_found"))
      .withColumn("recall_e6", expr("n_found * 1000000 div n_truth"))
      .orderBy(col("bucket"))
  }

  /** Quality-aware canonical selection: per near-dup cluster (the CC
    * labels over the verified LSH pairs) keep the HIGHEST-quality
    * member instead of the min id — quality = distinct-token ratio at
    * 10⁻⁶ (an exact integer, argmax via min-struct with doc_id
    * tie-break). The curation refinement every production dedup wants:
    * the cluster keeps its best-written copy, reproducibly. Cluster
    * table and quality scan are both corpus-sized, the argmax is one
    * combinable aggregate.
    */
  def canonicalKeeperQ(spark: SparkSession, sfDir: String): DataFrame = {
    val base = docsWithNearCopies(spark, sfDir, None)
    val ws = TextOps.words(col("text"))
    val quality = base
      .select(col("doc_id"), size(ws).cast("long").as("t"),
        size(array_distinct(ws)).cast("long").as("d"))
      .filter(col("t") > 0)
      .withColumn("q_e6", expr("d * 1000000 div t"))
    Dedup.connectedComponents(lshPairs(spark, sfDir))
      .join(quality, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        min(struct((-col("q_e6")).as("nq"), col("doc_id"))).as("best"))
      .select(col("cluster_id"), col("best.doc_id").as("keeper_id"),
        col("n_members"), (-col("best.nq")).as("keeper_q_e6"))
      .orderBy(col("cluster_id"))
  }

  /** Token-budget materialization of a data recipe: a global budget of
    * 20 000 tokens is allocated to languages proportionally to their
    * token mass (one integral division per group), then each language
    * admits its documents greedily in quality order (distinct-token
    * ratio desc, doc_id) until the next doc would overflow the
    * allocation — one partitioned cumulative window, zero floats.
    * This is the step that turns mixture weights into an actual
    * training corpus cut, deterministic at any scale.
    */
  def budgetCutQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = TextOps.words(col("text"))
    val t = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), size(ws).cast("long").as("t"),
        size(array_distinct(ws)).cast("long").as("d"))
      .filter(col("t") > 0)
      .withColumn("q_e6", expr("d * 1000000 div t"))
    val byLang = t.groupBy(col("lang"))
      .agg(sum(col("t")).as("gt"), count(lit(1)).as("n_docs_total"))
    val alloc = byLang
      .crossJoin(broadcast(byLang.agg(sum(col("gt")).as("tt"))))
      .select(col("lang"), col("n_docs_total"),
        expr("20000 * gt div tt").as("alloc_tokens"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("q_e6").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.withColumn("cum_before", coalesce(sum(col("t")).over(w), lit(0L)))
      .join(alloc, "lang")
      .filter(col("cum_before") + col("t") <= col("alloc_tokens"))
      .groupBy(col("lang"), col("alloc_tokens"), col("n_docs_total"))
      .agg(count(lit(1)).as("n_docs_kept"), sum(col("t")).as("tokens_kept"))
      .select(col("lang"), col("alloc_tokens"), col("n_docs_total"),
        col("n_docs_kept"), col("tokens_kept"))
      .orderBy(col("lang"))
  }

  /** Degree assortativity — "do hubs link to hubs?" — as the Pearson
    * correlation of endpoint degrees over undirected edges, computed
    * with the q_linreg sufficient-statistics discipline: one edge-list
    * join against the degree table per endpoint, one combinable
    * aggregate of (n, Σx, Σy, Σxy, Σx², Σy²) in decimal(38,0), and
    * r·10⁶ = num·10⁶ div floor(√varx·√vary) — the variances convert
    * decimal→double with correct rounding on BOTH engines and sqrt is
    * correctly rounded IEEE, so the two doubles (and hence the floor)
    * are bit-identical everywhere (the q_mixture_weights sqrt rule).
    * Symmetrized edges make x/y margins equal, so the statistic is
    * the classical Newman assortativity.
    */
  def assortativityQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    // the [[undEdges]] memo IS this exact table, and the plan below
    // references it three times (two degree joins + the degree
    // aggregate) — each was re-running the |E| distinct
    val und = undEdges(spark, sfDir)
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    und
      .join(deg.select(col("node").as("src"), col("deg").as("dx")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")), "dst")
      .groupBy()
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("dx").cast(d38)).as("sx"), sum(col("dy").cast(d38)).as("sy"),
        sum((col("dx") * col("dy")).cast(d38)).as("sxy"),
        sum((col("dx") * col("dx")).cast(d38)).as("sxx"),
        sum((col("dy") * col("dy")).cast(d38)).as("syy"))
      .select(col("n").cast("long").as("n_edges"),
        expr("""(n * sxy - sx * sy) * 1000000
                div cast(floor(sqrt(cast(n * sxx - sx * sx as double))
                             * sqrt(cast(n * syy - sy * sy as double))) as decimal(38,0))""")
          .as("assortativity_e6"))
  }

  /** Degree distribution with cumulative tail — the first diagnostic
    * of any graph pipeline (is this power-law? where does the hub tail
    * start?): per distinct-neighbor degree d the node count, plus the
    * "nodes with degree ≥ d" tail via one cumulative window over the
    * DEGREE SUPPORT (domain-bounded, same shape as q_ks_drift — never
    * a per-node window). Tail fraction at 10⁻⁶ by integral division.
    */
  def degreeDistQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val deg = undEdges(spark, sfDir)
      .groupBy(col("src")).agg(count(lit(1)).as("d"))
    val pv = deg.groupBy(col("d")).agg(count(lit(1)).as("n_nodes"))
    val w = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("d")))
      .orderBy(col("d").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    pv.withColumn("tail_nodes", sum(col("n_nodes")).over(w))
      .crossJoin(broadcast(pv.groupBy().agg(sum(col("n_nodes")).as("total"))))
      .select(col("d"), col("n_nodes"), col("tail_nodes"),
        expr("tail_nodes * 1000000 div total").as("tail_frac_e6"))
      .orderBy(col("d"))
  }

  /** Traffic seasonality profile + exact chi-square uniformity test:
    * per (event type, hour-of-day) counts, and per type the chi²
    * statistic against the uniform profile computed without a single
    * float — Σ(24·o − n)² div (24·n) at 10⁶ scale (= 10⁶·24·Σ(o−e)²/n
    * with e = n/24 cleared of fractions). The larger the value, the
    * more concentrated the type's diurnal pattern; both engines agree
    * bit-for-bit. One map-side-combinable count + one 24-row-per-type
    * aggregate.
    */
  def seasonalityQ(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr("(unix_micros(ts) div 3600000000) % 24").as("hour"))
      .groupBy(col("event_type"), col("hour")).agg(count(lit(1)).as("o"))
    val tot = hourly.groupBy(col("event_type")).agg(sum(col("o")).as("n"))
    hourly.join(tot, "event_type")
      .groupBy(col("event_type"), col("n"))
      .agg(count(lit(1)).as("hours_active"),
        max(struct(col("o"), col("hour"))).as("peak"),
        sum(expr("(24 * o - n) * (24 * o - n)")).as("ss"))
      // silent hours contribute (0 − e)² each: (24·0 − n)² = n² per
      // missing hour — added in closed form, no 24-row scaffold join
      .select(col("event_type"), col("n"), col("hours_active"),
        col("peak.hour").as("peak_hour"), col("peak.o").as("peak_count"),
        expr("""(cast(ss + (24 - hours_active) * n * n as decimal(38,0)) * 1000000)
                div (24 * n)""").as("chi2_e6"))
      .orderBy(col("event_type"))
  }

  /** Weekly churn: users active in epoch-week w but silent in w+1,
    * as exact counts and a 10⁻⁶ churn rate — retention's complement,
    * off the SAME pre-distinct'd user-week table discipline as
    * q_retention (the anti-join is week-sized, never event-sized).
    */
  def churnQ(spark: SparkSession, sfDir: String): DataFrame = {
    val uw = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts) div 604800000000").as("wk"))
      .distinct()
    val next = uw.select(col("user_id"), (col("wk") - 1).as("wk"))
      .withColumn("active_next", lit(1L))
    uw.join(next, Seq("user_id", "wk"), "left")
      .groupBy(col("wk"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("active_next").isNull, 1L).otherwise(0L)).as("n_churned"))
      .withColumn("churn_e6", expr("n_churned * 1000000 div n_active"))
      .orderBy(col("wk"))
  }

  /** MinHash estimator accuracy certificate — the q_ann_recall idea
    * applied to the dedup sketch: over the SAME banded candidate pairs
    * the production pipeline uses, compare the 8-hash signature
    * estimate (matching positions / 8) against the exact shingle
    * Jaccard, entirely in integers: err·10⁶ = |m·u − 8·i|·10⁶ div
    * (8·u), reported per signature-agreement level m with pair counts
    * and max/avg error — certified inside the oracle.
    *
    * What it measures on this sketch family is itself the finding:
    * the 8 signature functions are AFFINE TRANSFORMS of one 48-bit
    * base hash (a_j·h + b_j), so they are correlated — the same
    * smallest-h shingle tends to minimize every function at once.
    * Band candidates therefore agree on all 8 positions (one m = 8
    * row) while their exact Jaccard ranges down to ~0.006: the
    * estimate is USELESS as a similarity score, and the avg/max error
    * columns quantify precisely the false-positive mass the exact
    * verify stage (which every downstream operator here runs —
    * minhashLsh filters on exact Jaccard, never on m) must clean up.
    * Same scale shape as the pipeline itself: the band join generates
    * the pairs, the verify joins are pair-sized.
    */
  def minhashAccQ(spark: SparkSession, sfDir: String): DataFrame = {
    val base = docsWithNearCopies(spark, sfDir, None)
    val sh = Dedup.shingleSets(base)
    val sigs = Dedup.minhashSignatures(sh)
    val cands = Dedup.lshCandidates(sigs)
    val sa = sigs.select(col("doc_id").as("doc_a") +:
      (0 until 8).map(j => col(s"s$j").as(s"a$j")): _*)
    val sb = sigs.select(col("doc_id").as("doc_b") +:
      (0 until 8).map(j => col(s"s$j").as(s"b$j")): _*)
    val sha = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val shb = sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    cands.join(sa, "doc_a").join(sb, "doc_b").join(sha, "doc_a").join(shb, "doc_b")
      .withColumn("m", (0 until 8)
        .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
        .reduce(_ + _))
      .withColumn("i", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("u", size(array_union(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("err_e6", expr("abs(m * u - 8 * i) * 1000000 div (8 * u)"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_pairs"), max(col("err_e6")).as("max_err_e6"),
        sum(col("err_e6")).as("se"))
      .select(col("m"), col("n_pairs"), col("max_err_e6"),
        expr("se div n_pairs").as("avg_err_e6"))
      .orderBy(col("m"))
  }

  /** Exact trimmed mean (drop the bottom and top deciles by VALUE
    * rank, average the rest) per return flag — the robust-mean
    * sibling of q_mad/q_zscore, computed on the value SUPPORT like
    * q_weighted_quantile: per-(group, cents) counts, one cumulative
    * window, and the keep rule (10·cum_before ≥ n AND 10·cum_through
    * ≤ 9·n — whole tied-value runs kept or dropped atomically) is an
    * exact integer predicate both engines replay bit-for-bit. The
    * mean is one integral division at cents·100 precision.
    */
  def trimmedMeanQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pv = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").as("grp"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("v"))
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("nv"))
    val w = Window.partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    pv.withColumn("cum", sum(col("nv")).over(w))
      .join(pv.groupBy(col("grp")).agg(sum(col("nv")).as("n")), "grp")
      .filter(
        (col("cum") - col("nv")) * 10 >= col("n") &&
        col("cum") * 10 <= col("n") * 9)
      .groupBy(col("grp"), col("n"))
      .agg(sum(col("nv")).as("kept_n"), sum(col("nv") * col("v")).as("kept_sum"))
      .select(col("grp"), col("n").as("total_n"), col("kept_n"),
        expr("kept_sum * 100 div kept_n").as("trimmed_mean_e4"))
      .orderBy(col("grp"))
  }

  /** Last-touch attribution without a join: per user the event stream
    * is replayed once in event-time order and every purchase picks up
    * the running "most recent click" via last(_, ignoreNulls) over the
    * PRECEDING frame — the attribution shape that at 100 TB beats any
    * purchase×click range join (one user_id exchange, no pair blowup).
    * Emits each purchase with its attributed click time and the
    * click→purchase lag in µs (null = organic, no prior click).
    */
  def attributionQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("click_us",
        last(when(col("event_type") === "click", col("us")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("us").as("purchase_us"),
        col("click_us"), (col("us") - col("click_us")).as("lag_us"))
      .orderBy(col("user_id"), col("purchase_us"), col("event_id"))
  }

  /** Deterministic negative sampling for contrastive training: each
    * doc draws k = 2 same-language negatives by pure arithmetic —
    * target rank = (doc_id·1000003 + i·7919 + i) mod |stratum|, bumped
    * one slot (mod) when it lands on the anchor itself — then ONE
    * equi-join back on (lang, rank) resolves ids. No RNG state, no
    * skewed hot rows (ranks are uniform by construction), reruns are
    * bit-identical: the sampling-with-a-ledger property training-data
    * pipelines need for reproducible pair sets.
    */
  def negSampleQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"))
      .withColumn("idx",
        (row_number().over(Window.partitionBy(col("lang")).orderBy(col("doc_id"))) - 1)
          .cast("long"))
    val sized = ranked.join(
      ranked.groupBy(col("lang")).agg(count(lit(1)).as("cnt")), "lang")
    val wants = sized
      .select(col("lang"), col("doc_id").as("anchor_id"), col("idx"), col("cnt"),
        explode(array(lit(0L), lit(1L))).as("i"))
      .withColumn("t", expr("(anchor_id * 1000003 + i * 7919 + i) % cnt"))
      .withColumn("target_idx",
        when(col("t") === col("idx"), expr("(t + 1) % cnt")).otherwise(col("t")))
    wants.join(
        ranked.select(col("lang"), col("idx").as("target_idx"),
          col("doc_id").as("negative_id")),
        Seq("lang", "target_idx"))
      .select(col("lang"), col("anchor_id"), col("i"), col("negative_id"))
      .orderBy(col("lang"), col("anchor_id"), col("i"))
  }

  /** Exact weighted quantiles (p25/median/p75 of quantity weighted by
    * revenue cents, per return flag) — the "what quantity splits the
    * MONEY in half" statistic, computed with zero floats: per-(group,
    * value) weight totals (map-side combinable, value-domain-bounded
    * support — the q_ks_drift shape), one cumulative window per group,
    * and each quantile is the smallest value whose scaled cumulative
    * weight crosses the threshold (4·cumw ≥ k·totw compared as exact
    * integers). The weighted-median family backs curriculum/budget
    * decisions (which doc length splits the token budget in half) at
    * any scale.
    */
  def weightedQuantileQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pv = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").as("grp"),
        round(col("l_quantity"), 0).cast("long").as("v"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("wt"))
      .groupBy(col("grp"), col("v")).agg(sum(col("wt")).as("cw"))
    val w = Window.partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    pv.withColumn("cum", sum(col("cw")).over(w))
      .join(pv.groupBy(col("grp")).agg(sum(col("cw")).as("tot")), "grp")
      .groupBy(col("grp"), col("tot"))
      .agg(
        min(when(col("cum") * 4 >= col("tot"), col("v"))).as("p25"),
        min(when(col("cum") * 2 >= col("tot"), col("v"))).as("median"),
        min(when(col("cum") * 4 >= col("tot") * 3, col("v"))).as("p75"))
      .select(col("grp"), col("p25"), col("median"), col("p75"),
        col("tot").as("total_cents"))
      .orderBy(col("grp"))
  }

  /** Gini concentration of the corpus over sources — "is 90 % of the
    * data coming from two crawls?" as one exact number: sources ranked
    * by token mass ascending (a group-count-bounded scalar window —
    * singleton_key, the mixtureWeights device), Gini from the rank
    * identity (2·Σ i·xᵢ − (n+1)·Σxᵢ) · 10⁶ div (n·Σxᵢ), every term a
    * BIGINT. The per-source aggregate is the only data-sized pass.
    */
  def giniSourceQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySource = Tables.documents(spark, sfDir)
      .select(col("source"),
        size(graft.ops.TextOps.words(col("text"))).cast("long").as("tokens"))
      .groupBy(col("source")).agg(sum(col("tokens")).as("x"))
    val wr = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("x")))
      .orderBy(col("x"), col("source"))
    bySource.withColumn("i", row_number().over(wr).cast("long"))
      .groupBy()
      .agg(count(lit(1)).as("n_sources"), sum(col("x")).as("total_tokens"),
        sum(col("i") * col("x")).as("ix"))
      .select(col("n_sources"), col("total_tokens"),
        expr("((2 * ix - (n_sources + 1) * total_tokens) * 1000000) div (n_sources * total_tokens)")
          .as("gini_e6"))
  }

  /** Event-time disorder audit — the watermark-delay chooser: per
    * event type, replay events in ARRIVAL order (event_id) and measure
    * how far behind the running event-time maximum each event lands.
    * Emits the late-event count, the worst lateness in µs (= the
    * smallest watermark delay that would have lost nothing), and the
    * late fraction at 10⁻⁶ — all exact integers off one partitioned
    * window + one aggregate. This is the measurement a streaming
    * deployment needs BEFORE picking `withWatermark`.
    */
  def disorderQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), expr("unix_micros(ts)").as("us"))
      .withColumn("runmax", max(col("us")).over(w))
      .withColumn("late_us",
        when(col("runmax") > col("us"), col("runmax") - col("us")).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
        max(col("late_us")).as("max_late_us"))
      .withColumn("late_frac_e6", expr("n_late * 1000000 div n_events"))
      .orderBy(col("event_type"))
  }

  /** Reciprocal-rank fusion — the hybrid-retrieval combiner (lexical ∪
    * vector rankings → one list) done integer-exact: per lang stratum
    * two row_number rankings over DIFFERENT orderings of the SAME
    * partition key (one exchange feeds both windows), fused as
    * Σ 10⁹ div (60 + rank) — RRF's 1/(k+r) with k = 60 as integral
    * divisions, so scores are exact BIGINTs and the top-5 cut is
    * deterministic (score desc, doc_id). The ranking signals here are
    * corpus stand-ins (char-length and token-count ranks); the
    * operator under test is the fusion + dedup-free union shape every
    * RAG stack runs.
    */
  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * 1998): greedy diversity-aware selection over each query's
    * candidate pool — pick argmax λ·sim(q,c) − (1−λ)·max_{s∈S}
    * sim(c,s) with λ = 0.7, 3 picks from the exact-cosine top-8. The
    * candidate pool and its pairwise-similarity table are BOUNDED
    * (|Q|·8 and |Q|·28 rows), so the greedy loop is one aggregate HOF
    * over per-query arrays with the pair sims in a broadcastable map —
    * the only corpus-sized work is the candidate search itself. All
    * arithmetic integer: sims floor-quantized at 1e6, MMR scored at
    * ×10 scale (7·simq − 3·maxpair) so ranking can never float-flip;
    * ties break by candidate id. The diversity complement of
    * [[rrfQ]]'s rank fusion (RRF merges rankings; MMR de-duplicates
    * one).
    */
  def mmrQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = normEmbeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 10)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sq_e6").desc, col("neighbor_id"))
    val cand = graft.sources.SessionMemo(spark, ("mmr_cand", sfDir)) {
      e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
        .crossJoin(broadcast(q.select(col("vec_id").as("query_id"),
          col("embedding").as("qv"))))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("sq_e6",
          floor(Similarity.dot(col("qv"), col("cv")) * lit(1000000.0)).cast("long"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 8)
        .select(col("query_id"), col("neighbor_id"), col("sq_e6"))
        // bounded (|Q|·8); feeds two pair sides + the fold — memoized per
        // (session, sf) so repeated invocations reuse ONE checkpoint,
        // LAZY so a losing concurrent builder holds no blocks
        .localCheckpoint(false)
    }
    mmrFold(cand, e)
  }

  /** The greedy MMR selection over a bounded candidate table
    * `(query_id, neighbor_id, sq_e6)`: pairwise sims packed into a
    * per-query map, then 3 picks of argmax 7·sq − 3·max-pair-sim (ties
    * by id) as one aggregate HOF — shared by [[mmrQ]] (exact top-8
    * front) and [[mmrAnnQ]] (certified multi-table-LSH front).
    * Degenerate pools are safe: queries whose pool has NO pair (a
    * single candidate) keep their row via the left join + empty-map
    * coalesce, and once `rem` runs dry the fold carries `sel`
    * unchanged instead of appending null picks.
    */
  private def mmrFold(cand: DataFrame, e: DataFrame): DataFrame = {
    val ca = cand.select(col("query_id"), col("neighbor_id").as("a"))
      .join(e.select(col("vec_id").as("a"), col("embedding").as("va")), "a")
    val cb = cand.select(col("query_id"), col("neighbor_id").as("b"))
      .join(e.select(col("vec_id").as("b"), col("embedding").as("vb")), "b")
    val pairs = ca.join(cb, "query_id").filter(col("a") < col("b"))
      .select(col("query_id"),
        concat(col("a").cast("string"), lit("_"), col("b").cast("string")).as("k"),
        floor(Similarity.dot(col("va"), col("vb")) * lit(1000000.0))
          .cast("long").as("p_e6"))
    val packed = cand.groupBy(col("query_id"))
      .agg(collect_list(struct(col("neighbor_id").as("id"),
        col("sq_e6").as("sq"))).as("rem0"))
      .join(pairs.groupBy(col("query_id"))
        .agg(map_from_entries(collect_list(struct(col("k"), col("p_e6"))))
          .as("pm")), Seq("query_id"), "left")
      .withColumn("pm", coalesce(col("pm"), map_from_entries(
        expr("cast(array() as array<struct<k: string, p_e6: bigint>>)"))))
    // the greedy fold: score = 7·sq − 3·max pair-sim vs selected
    val score = "7 * c.sq - (case when size(st.sel) = 0 then 0L " +
      "else 3 * array_max(transform(st.sel, s -> element_at(pm, " +
      "concat(cast(least(c.id, s.id) as string), '_', " +
      "cast(greatest(c.id, s.id) as string))))) end)"
    val pick = "element_at(array_sort(transform(st.rem, c -> " +
      s"named_struct('nsc', -($score), 'id', c.id))), 1)"
    val fold =
      s"""aggregate(sequence(1, 3),
         |  cast(named_struct('sel', array(), 'rem', rem0) as
         |    struct<sel: array<struct<id: bigint, sc: bigint>>,
         |           rem: array<struct<id: bigint, sq: bigint>>>),
         |  (st, i) -> if(size(st.rem) = 0, st, named_struct(
         |    'sel', array_append(st.sel,
         |      named_struct('id', ($pick).id, 'sc', -(($pick).nsc))),
         |    'rem', filter(st.rem, c -> c.id != ($pick).id))))""".stripMargin
    packed.select(col("query_id"), posexplode(expr(s"($fold).sel")).as(Seq("p", "s")))
      .select(col("query_id"), (col("p") + 1).as("pick"),
        col("s.id").as("neighbor_id"), col("s.sc").as("mmr_score"))
      .orderBy(col("query_id"), col("pick"))
  }

  /** MMR over a CERTIFIED-ANN candidate front: the pool is the top-8
    * of the OR-amplified multi-table LSH pipeline ([[annMtTopK]] — the
    * exact operator [[annRecall]] certifies at recall@3 ≥ 0.75), with
    * query-candidate sims re-derived exactly (floor-1e6 of the raw
    * dot, same integers as [[mmrQ]]); the greedy fold is unchanged.
    * This replaces mmrQ's corpus-sized exact candidate search with the
    * bucketed front — at 100 TB the only corpus-sized pass left is the
    * LSH code probe. Candidate-recall caveat (the q_ann_recall
    * contract): pools are the LSH candidates' top-8, so a true
    * neighbor the 32 tables miss cannot be re-ranked into the pool —
    * certified, not exact.
    */
  def mmrAnnQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = normEmbeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val cand = graft.sources.SessionMemo(spark, ("mmr_ann_cand", sfDir)) {
      annMtTopK(spark, sfDir, e, 8)
        .select(col("query_id"), col("neighbor_id"))
        .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
          "neighbor_id")
        .join(broadcast(e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))),
          "query_id")
        .select(col("query_id"), col("neighbor_id"),
          floor(Similarity.dot(col("qv"), col("cv")) * lit(1000000.0))
            .cast("long").as("sq_e6"))
        // bounded (|Q|·8), memoized per (session, sf), lazy (see mmrQ)
        .localCheckpoint(false)
    }
    mmrFold(cand, e)
  }

  def rrfQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables.documents(spark, sfDir).select(
      col("lang"), col("doc_id"), col("n_chars"),
      size(graft.ops.TextOps.words(col("text"))).cast("long").as("tokens"))
    val w1 = Window.partitionBy(col("lang")).orderBy(col("n_chars").desc, col("doc_id"))
    val w2 = Window.partitionBy(col("lang")).orderBy(col("tokens").desc, col("doc_id"))
    val fused = t
      .withColumn("r1", row_number().over(w1).cast("long"))
      .withColumn("r2", row_number().over(w2).cast("long"))
      .withColumn("rrf_e6",
        expr("1000000000 div (60 + r1) + 1000000000 div (60 + r2)"))
    val wTop = Window.partitionBy(col("lang"))
      .orderBy(col("rrf_e6").desc, col("doc_id"))
    fused.withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("doc_id"), col("r1"), col("r2"), col("rrf_e6"))
      .orderBy(col("lang"), col("rrf_e6").desc, col("doc_id"))
  }

  /** Conjunctive boolean retrieval over an inverted posting list: the
    * query is the corpus's top-3 frequent long tokens (data-derived,
    * deterministic by count desc / token asc), the postings are
    * distinct (doc, term) pairs, and AND-semantics is the classic
    * "matched-term count = query size" trick — one semi-broadcast of
    * the 3-term set onto the posting stream, one doc-keyed count, no
    * per-term join chain. Emits every doc matching ≥ 1 term with its
    * match count and the all-terms flag (the OR and AND answer in one
    * result).
    */
  def boolSearchQ(spark: SparkSession, sfDir: String): DataFrame = {
    val post = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(graft.ops.TextOps.words(lower(col("text")))).as("term"))
      .filter(length(col("term")) >= 4)
      .distinct()
    val terms = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).limit(3)
    post.join(broadcast(terms.select(col("term"))), "term")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matched"))
      .withColumn("all_matched", col("n_matched") === 3)
      .orderBy(col("doc_id"))
  }

  /** Weighted single-source shortest paths over the part-adjacency
    * graph ([[graft.ops.Graph.sssp]]): edge cost = the adjacency
    * count, source = the smallest node. The min-plus generalization
    * of q_bfs — a cheap parallel edge can now beat a direct expensive
    * one, which is exactly what the relaxation fixpoint resolves.
    */
  def ssspQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = partAdjacencyEdges(spark, sfDir)
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
    val nodes = e.filter(col("src") =!= col("dst"))
    val seed = nodes.select(col("src")).union(nodes.select(col("dst")))
      .agg(min(col("src")).as("node"))
    graft.ops.Graph.sssp(e, seed).orderBy(col("node"))
  }

  /** Decision-stump split finding — the inner loop of distributed tree
    * ensembles (GBDT/random forest level-wise training), done the
    * scalable way: per (feature, candidate threshold) the 2×2 label
    * confusion comes from ONE map-side-combinable count plus a
    * cumulative window over the DISTINCT VALUE support (never over
    * rows), exactly the histogram-based split finding of the
    * LightGBM/XGBoost papers. The split criterion is chi² — computed
    * as (n·det²)·10⁶ div (pos·neg·nL·nR) with det = a·neg − b·pos all
    * exact integers (decimal(38,0) intermediates), so the argmax is
    * bit-deterministic; ties break toward the smallest threshold via
    * the min-struct device. Features: n_chars and whitespace token
    * count; label: lang = 'en'. The top-value threshold (empty right
    * side) is structurally excluded on both engines.
    */
  def stumpQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, sfDir).select(
      (col("lang") === "en").as("pos"),
      col("n_chars").as("f_chars"),
      size(graft.ops.TextOps.words(col("text"))).cast("long").as("f_words"))
    val long = d.select(lit("n_chars").as("feature"), col("f_chars").as("v"), col("pos"))
      .union(d.select(lit("n_words").as("feature"), col("f_words").as("v"), col("pos")))
    val pv = long.groupBy(col("feature"), col("v"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("p"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("q"))
    val w = Window.partitionBy(col("feature")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = pv.groupBy(col("feature"))
      .agg(sum(col("p")).as("pt"), sum(col("q")).as("qt"))
    pv.withColumn("a", sum(col("p")).over(w))
      .withColumn("b", sum(col("q")).over(w))
      .join(tot, "feature")
      .withColumn("nl", col("a") + col("b"))
      .withColumn("nr", col("pt") + col("qt") - col("nl"))
      .filter(col("nr") > 0)
      .withColumn("det", col("a") * col("qt") - col("b") * col("pt"))
      .withColumn("chi2_e6", expr(
        """(cast(det as decimal(38,0)) * det * (pt + qt) * 1000000)
           div (cast(pt as decimal(38,0)) * qt * nl * nr)"""))
      .groupBy(col("feature"), col("pt"), col("qt"))
      .agg(min(struct((-col("chi2_e6")).as("ns"), col("v"), col("a"), col("b"))).as("best"))
      .select(col("feature"), col("best.v").as("threshold"),
        (-col("best.ns")).as("chi2_e6"),
        col("best.a").as("pos_le"), col("best.b").as("neg_le"),
        (col("pt") - col("best.a")).as("pos_gt"),
        (col("qt") - col("best.b")).as("neg_gt"))
      .orderBy(col("feature"))
  }

  /** Snake-order balanced shard assignment — the deterministic
    * answer to "split each language's documents into K shards with
    * near-equal token budgets" (training-data writers want shards
    * whose token totals agree to within one document). Documents are
    * ranked by token count descending inside each lang stratum and
    * dealt boustrophedon (0,1,2,3,3,2,1,0,…) over K=4 shards — the
    * classic LPT-flavored greedy that needs no driver loop: one
    * partitioned window for the rank, pure arithmetic for the shard
    * id, one aggregate for the totals. The per-lang max-min spread
    * rides a second window over the K aggregated rows (group-count
    * bounded).
    */
  def shardBalanceQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 4
    val t = Tables.documents(spark, sfDir).select(
      col("lang"), col("doc_id"),
      size(graft.ops.TextOps.words(col("text"))).cast("long").as("tokens"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("tokens").desc, col("doc_id"))
    val assigned = t.withColumn("r", row_number().over(w) - 1)
      .withColumn("shard",
        when(expr(s"(r div $k) % 2") === 0, col("r") % k)
          .otherwise(lit(k - 1) - col("r") % k).cast("long"))
    val agg = assigned.groupBy(col("lang"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("tokens"))
    val ws = Window.partitionBy(col("lang"))
    agg.withColumn("lang_spread",
        max(col("tokens")).over(ws) - min(col("tokens")).over(ws))
      .orderBy(col("lang"), col("shard"))
  }

  /** k-anonymity audit over quasi-identifiers with one generalization
    * step — the data-governance gate before a release: at the finest
    * level (nation + market segment) and the generalized level
    * (segment only), how many identifier groups fall below k=5, and
    * how many rows those groups expose. Two map-side-combinable
    * counts plus a two-row summary; nothing about the audit changes
    * at 100 TB (group counts are QI-domain bounded).
    */
  def kanonQ(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val fine = c.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("sz"))
      .select(lit("nation+segment").as("level"), col("sz"))
    val coarse = c.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("sz"))
      .select(lit("segment").as("level"), col("sz"))
    fine.union(coarse)
      .groupBy(col("level"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("sz") < 5, 1L).otherwise(0L)).as("n_violating"),
        sum(when(col("sz") < 5, col("sz")).otherwise(0L)).as("rows_at_risk"),
        min(col("sz")).as("min_size"), max(col("sz")).as("max_size"))
      .withColumn("k_satisfied", col("n_violating") === 0)
      .orderBy(col("level"))
  }

  /** Two-sample value support over `documents`, per language: the
    * n_chars values v with A-side (even doc_id) count ca and B-side
    * count cb. The shared base of the EDF tests ([[ksDriftQ]],
    * [[cvmQ]], [[andersonDarlingQ]]) and [[energyDistQ]].
    */
  private def langValueSupport(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"), (col("doc_id") % 2 === 0).as("a"), col("n_chars").as("v"))
      .groupBy(col("lang"), col("v"))
      .agg(sum(when(col("a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("a"), 1L).otherwise(0L)).as("cb"))

  /** Per-language side totals (lang, na, nb) of a [[langValueSupport]]. */
  private def langValueTotals(pv: DataFrame): DataFrame =
    pv.groupBy(col("lang"))
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))

  /** [[langValueSupport]] with the inclusive cumulative counts fa/fb
    * walked over the value support and the side totals na/nb joined on.
    */
  private def langValueCdf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pv = langValueSupport(spark, sfDir)
    val w = Window.partitionBy(col("lang")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    pv.withColumn("fa", sum(col("ca")).over(w))
      .withColumn("fb", sum(col("cb")).over(w))
      .join(langValueTotals(pv), "lang")
  }

  /** Exact two-sample Kolmogorov–Smirnov drift statistic per language:
    * sample A = even doc_ids, sample B = odd, value = n_chars. The KS
    * distance sup|F_A − F_B| is computed entirely in integers by
    * cross-multiplying the step-function counts (|cumA·nB − cumB·nA|,
    * denominator nA·nB reported via one integral division at the end)
    * — no float CDF is ever formed, so the statistic is bit-exact.
    * This is the distribution-drift monitor every ingest pipeline
    * wants between a new batch and the corpus (or two sources).
    *
    * Scale shape: the heavy step is the (lang, value) count — fully
    * map-side combinable; the cumulative window then runs over the
    * DISTINCT VALUE support only (domain-bounded: document lengths,
    * bucket them if ever unbounded), partitioned by lang, so no
    * per-document data crosses the window. Argmax location is the
    * deterministic min-struct (max diff, then smallest value).
    */
  def ksDriftQ(spark: SparkSession, sfDir: String): DataFrame = {
    langValueCdf(spark, sfDir)
      .withColumn("diff", abs(col("fa") * col("nb") - col("fb") * col("na")))
      .groupBy(col("lang"), col("na"), col("nb"))
      .agg(min(struct((-col("diff")).as("nd"), col("v"))).as("best"))
      .select(col("lang"), col("na"), col("nb"),
        (-col("best.nd")).as("d_num"),
        expr("(-best.nd) * 1000000 div (na * nb)").as("d_e6"),
        col("best.v").as("at_value"))
      .orderBy(col("lang"))
  }

  /** OHLC time-bucket downsampling: per (event_type, epoch-day) the
    * first/max/min/last `value` plus volume. Open/close picked by
    * row_number over a unique (us, event_id) order — deterministic on
    * both engines, one exchange on the bucket key for both windows.
    */
  def ohlcQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("value"),
        expr("unix_micros(ts)").as("us"),
        expr("unix_micros(ts) div 86400000000").as("d"))
    val asc = Window.partitionBy(col("event_type"), col("d"))
      .orderBy(col("us"), col("event_id"))
    val desc = Window.partitionBy(col("event_type"), col("d"))
      .orderBy(col("us").desc, col("event_id").desc)
    e.withColumn("rn_a", row_number().over(asc))
      .withColumn("rn_d", row_number().over(desc))
      .groupBy(col("event_type"), col("d"))
      .agg(
        min(when(col("rn_a") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        min(when(col("rn_d") === 1, col("value"))).as("close"),
        round(sum(col("value")), 2).as("volume"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"), col("d"))
  }

  /** Vocabulary build over the document corpus: SQL-trim tokenization
    * (ShingleHashes.sqlTokens semantics), global counts, ids assigned
    * by (count desc, token asc) rank — the whole vocab table gets a
    * distributed global position (withGlobalPos), then the top slice is
    * kept. The token count table is tiny relative to the corpus; the
    * heavy explode aggregates map-side before its one exchange.
    */
  def vocabQ(spark: SparkSession, sfDir: String): DataFrame =
    withGlobalPos(
      Tables.documents(spark, sfDir)
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .filter(length(col("token")) >= 2)
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")),
      "vocab_id")
      .filter(col("vocab_id") <= 200)

  /** TF-IDF top-3 terms per document. Output is integer-only (doc, rank,
    * term, tf, df): the double score tf·ln(N/df) only ORDERS terms
    * within a doc — equal (tf, df) pairs tie and break on the term
    * string, so engine ulp differences in ln cannot flip the ranking.
    */
  def tfidfQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    // ONE tokenize pass: the (doc, token) tf table is already distinct
    // per doc-token, so document frequency is a count(*) window over it
    // — no second explode/distinct subtree (branch re-execution is not
    // deduped by Catalyst), no extra scan of the corpus.
    val tf = docs
      .select(col("doc_id"), explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) >= 2)
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("token"))))
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("term_rank", row_number().over(w).cast("long"))
      .filter(col("term_rank") <= 3)
      .select(col("doc_id"), col("term_rank"), col("token"), col("tf"), col("df"))
      .orderBy(col("doc_id"), col("term_rank"))
  }

  /** Event-type transition counts (first-order Markov structure of the
    * clickstream): per user, consecutive events ordered by (ts µs,
    * event_id) form (prev → curr) pairs; one window exchange on
    * user_id, then a tiny aggregate over the 25 type pairs.
    */
  def transitionsQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  /** Anomaly detection: events whose value is > 2.5σ from their
    * event-type mean. The gate is evaluated in EXACT integer
    * arithmetic — cents c, per-type n/Σc/Σc², and the inequality
    * 4(cn−s1)²(n−1) > 25·n(n·s2−s1²) (z² > 2.5² cross-multiplied) —
    * as decimal(38,0) on Spark and HUGEINT in DuckDB, so the flag can
    * never flip on a float boundary. Stats side is 5 rows (broadcast);
    * the event side never shuffles.
    */
  def zscoreQ(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val e = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("value") * 100, 0).cast(dec).as("c"))
    val st = e.groupBy(col("event_type")).agg(
      count(lit(1)).cast(dec).as("n"),
      sum(col("c")).cast(dec).as("s1"),
      sum(col("c") * col("c")).cast(dec).as("s2"))
    val dev = col("c") * col("n") - col("s1")
    e.join(broadcast(st), "event_type")
      .filter(lit(4).cast(dec) * dev * dev * (col("n") - 1) >
        lit(25).cast(dec) * col("n") * (col("n") * col("s2") - col("s1") * col("s1")))
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Fuzzy (edit-distance ≤ 2) similarity self-join via the FastSS
    * deletion-neighborhood prefilter ([[graft.ops.EditDistanceJoin]])
    * — structural recall, output identical to brute force, so the
    * oracle runs the plain quadratic join. Brand-blocked brute force
    * measured 11.3s at sf0.1 (8M pairs before the distance); the
    * variant equi-join never materializes the quadratic pair set.
    */
  def fuzzyJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_name"), col("p_brand"))
    // hashed-variant form: the candidate equi-join shuffles 8-byte
    // xxhash64 keys instead of near-full-length strings (Prof `fuzzy`
    // A/B: consistently 15-45% faster, identical output — collisions
    // only add candidates and the levenshtein verify is exact)
    graft.ops.EditDistanceJoin
      .selfJoinHashed(p, key = "p_partkey", name = "p_name", block = "p_brand", k = 2)
      .orderBy(col("key_a"), col("key_b"))
  }

  /** Interval coalescing (gaps-and-islands): each event opens a 300s
    * activity interval; overlapping intervals per user merge into
    * islands. The running `max(end) OVER (... 1 PRECEDING)` detects a
    * gap without any self-join — ONE exchange on user_id covers both
    * windows and the final per-island aggregate. All-integer µs
    * arithmetic, fully ordered by (us, event_id) — deterministic on
    * both engines.
    */
  def intervalMerge(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.TimeSeries.mergeIntervals(
      Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("s")),
      key = "user_id", start = "s", orderCol = "event_id", padUnits = 300000000L)
      .orderBy(col("user_id"), col("island"))

  /** Sequence packing: documents' tokens laid out contiguously into
    * fixed 2048-token context windows, per shard (doc_id mod 32), docs
    * split across window boundaries. This is the training-data packing
    * shape: each shard packs independently (window partitioned by
    * shard — NO global cumulative sum, so width scales with shard
    * count), and a doc's pack/offset is a pure function of the doc ids
    * before it in its shard.
    */
  def seqPack(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), (col("doc_id") % 32).as("shard"),
        size(filter(split(trim(lower(col("text"))), "\\s+"),
          t => length(t) >= 2)).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr("shard * 1000000 + cum_before div 2048").as("pack_id"),
        (col("cum_before") % 2048).as("pack_offset"),
        (col("cum_before") % 2048 + col("n_tokens") > 2048).as("spans_boundary"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition quality signals, exact-integer form: per
    * doc the token/distinct-token counts and the heaviest bigram, with
    * the two filter gates cross-multiplied into integer comparisons
    * (duplicate-token fraction > 1/2; top-bigram fraction > 1/10) so no
    * float ratio can flip a flag between engines. Everything derives
    * from ONE tokenize pass; bigrams come from a lead() over the kept
    * positions — no second scan of the corpus.
    */
  def docRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        posexplode(split(trim(lower(col("text"))), "\\s+")).as(Seq("pos", "token")))
      .filter(length(col("token")) >= 1)
    val perDoc = toks.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_tokens"),
      countDistinct(col("token")).as("n_distinct"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bigrams = toks
      .withColumn("bg", concat(col("token"), lit(" "), lead(col("token"), 1).over(w)))
      .filter(col("bg").isNotNull)
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("max_bigram_cnt"),
        sum(col("c")).as("n_bigrams"))
    perDoc.join(bigrams, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("max_bigram_cnt"), lit(0L)).as("max_bigram_cnt"),
        ((col("n_tokens") - col("n_distinct")) * 2 > col("n_tokens")).as("dup_token_flag"),
        (coalesce(col("max_bigram_cnt"), lit(0L)) * 10 >
          coalesce(col("n_bigrams"), lit(0L))).as("top_bigram_flag"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination: corpus docs sharing any 3-token shingle
    * with the benchmark slice (doc_id ≡ 0 mod 97 stands in for an eval
    * set) are flagged, with the matched-shingle count as evidence. The
    * benchmark gram set is small by construction → broadcast to the
    * corpus side; the probe is a narrow left join, the corpus is never
    * shuffled against itself. At 100 TB the bench set stays a broadcast
    * (eval suites are MBs) and the per-doc gram dedup rides the one
    * doc_id exchange the window already pays.
    */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val grams = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        posexplode(split(trim(lower(col("text"))), "\\s+")).as(Seq("pos", "token")))
      .filter(length(col("token")) >= 2)
      .withColumn("gram", concat(col("token"), lit(" "),
        lead(col("token"), 1).over(w), lit(" "), lead(col("token"), 2).over(w)))
      .filter(col("gram").isNotNull)
      .select(col("doc_id"), col("gram")).distinct()
    val bench = grams.filter(col("doc_id") % 97 === 0)
      .select(col("gram")).distinct().withColumn("hit", lit(1L))
    grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_matched"))
      .withColumn("contaminated", col("n_matched") > 0)
      .orderBy(col("doc_id"))
  }

  /** Weighted PageRank over the part-adjacency graph (consecutive
    * lineitems of an order form a directed part→part edge), 3 power
    * iterations via [[graft.ops.Graph.pagerank]]. Per-iteration round-6
    * quantization (the unrolled-kmeans device) keeps the DuckDB replay
    * bit-identical.
    */
  def pagerankQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Graph.pagerank(partAdjacencyEdges(spark, sfDir), iters = 3)
      .orderBy(col("node"))

  /** HITS hubs & authorities over the part-adjacency graph, 2 rounds of
    * [[graft.ops.Graph.hits]] — all-integer max-normalized scores, so
    * every value is exact on both engines (no L2 norm is ever summed in
    * floating point; same discipline as q_pca_power). Parts that are
    * only ever "followed" (pure sinks) end with hub 0; pure sources end
    * with auth 0 — both emitted, the full |V| assignment.
    */
  def hitsQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Graph.hits(
        partAdjacencyEdges(spark, sfDir)
          .select(col("src"), col("dst"), col("w").cast("long").as("w")),
        iters = 2)
      .orderBy(col("node"))

  /** Part-adjacency edge table (consecutive lineitems of an order form
    * a directed part→part edge, parallel edges count-aggregated),
    * memoized per (session, sf) — the standard "cache the graph" step
    * of iterative processing (shared by pagerank and label
    * propagation; each would otherwise re-derive the window+aggregate
    * pipeline once per iteration-join).
    *
    * (l_orderkey, l_linenumber) is NOT unique in this data; adding
    * l_partkey to the order makes the visited partkey SEQUENCE (and so
    * the edge multiset) deterministic — remaining ties are identical
    * partkeys, which commute.
    */
  private[graft] def partAdjacencyEdges(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.sources.SessionMemo(spark, ("pagerank_edges", sfDir)) {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("src"))
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey").as("src"))
        .withColumn("dst", lead(col("src"), 1).over(w))
        .filter(col("dst").isNotNull)
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).cast("double").as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }

  /** Synchronous label propagation over the part-adjacency graph
    * (4 rounds, integer weights — see
    * [[graft.ops.Graph.labelPropagation]]): full community assignment,
    * one row per node.
    */
  def labelPropQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Graph.labelPropagation(
        partAdjacencyEdges(spark, sfDir)
          .select(col("src"), col("dst"), col("w").cast("long").as("w")),
        iters = 4)
      .orderBy(col("node"))

  /** Native session windows (`session_window`): Spark's own gap-merge
    * session operator — the window END extends to last-event + gap and
    * an event landing exactly ON the current end opens a NEW session
    * (end-exclusive), which is what the oracle's `>= running-end` island
    * rule replays. Contrast [[graft.ops.TimeSeries.sessionize]] (gap
    * from previous event, boundary-inclusive) — both live in the
    * library because the reference's Q2-style continuous aggregation
    * maps to this operator under Structured Streaming with a watermark
    * (state evicts once the watermark passes a session's end).
    */
  def sessionWindowQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        expr("unix_micros(w.start)").as("start_us"),
        expr("unix_micros(w.end)").as("end_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("start_us"))

  /** Equi-depth histogram (quartiles per event type): ntile assigns
    * near-equal populations per bucket; per bucket the row count and
    * value span. The complement of q_histogram's fixed-width bins —
    * this is the feature-binning shape (quantile buckets) training
    * pipelines use for numeric features. One exchange on event_type.
    */
  def histogramEqDepth(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .groupBy(col("event_type"), col("quartile"))
      .agg(count(lit(1)).as("n_events"),
        round(min(col("value")), 2).as("v_min"),
        round(max(col("value")), 2).as("v_max"))
      .orderBy(col("event_type"), col("quartile"))
  }

  /** Z-order (Morton) clustering key: interleave the bits of two
    * dimensions so ordering by the single z value co-locates rows close
    * in BOTH — the multi-dimensional lake-layout device (sort/range-
    * partition by z before writing → min/max row-group stats prune on
    * either dimension). The 16-bit spread uses the classic mask ladder
    * — plain integer shifts/masks, bit-identical on any engine.
    */
  def zorderQ(spark: SparkSession, sfDir: String): DataFrame = {
    def spread(c: Column): Column = {
      // 16 bits -> even positions of 32: x = (x|x<<8)&0x00FF00FF ...
      val s1 = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FFL))
      val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
      s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
    }
    val a = col("c_custkey") % 65536
    val b = round(col("c_acctbal") * 100, 0).cast("long").bitwiseAND(lit(65535L))
    withGlobalPos(
      Tables.customer(spark, sfDir)
        .select(col("c_custkey"), a.as("dim_a"), b.as("dim_b"),
          spread(a).bitwiseOR(shiftleft(spread(b), 1)).as("zval"))
        .orderBy(col("zval"), col("c_custkey")),
      "zpos")
  }

  /** Small-files compaction plan — the lake-maintenance step that
    * groups many small files into target-size outputs. Files are
    * modeled as (event_type, hour) partitions with row-count sizes;
    * within each type the files are packed in hour order by TARGET-SIZE
    * SPLITTING (bin = running-bytes-before ÷ capacity, capacity =
    * ⌈total/8⌉): the split-points-every-C-bytes rule sort-based
    * compaction (OPTIMIZE/rewriteDataFiles) applies, which keeps the
    * plan one partitioned window over the file listing — no global
    * sort, no driver loop, exact integer arithmetic.
    */
  def compactionQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val files = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("hour"))
      .groupBy(col("event_type"), col("hour")).agg(count(lit(1)).as("size"))
    val caps = files.groupBy(col("event_type"))
      .agg(expr("(sum(size) + 7) div 8").as("cap"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, -1)
    files.join(caps, "event_type")
      .withColumn("cum_before", coalesce(sum(col("size")).over(w), lit(0L)))
      .withColumn("bin", expr("cum_before div cap"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("size")).as("bytes"),
        min(col("hour")).as("hour_lo"), max(col("hour")).as("hour_hi"))
      .orderBy(col("event_type"), col("bin"))
  }

  /** Int8 symmetric quantization of the embedding column — the
    * vector-compression step before ANN shipping (4× smaller, dot
    * products in integer SIMD). Whole computation stays inside array
    * HOFs (transform/aggregate — codegen, no explode, no shuffle):
    * scale = 127/max|v|, codes = round(v·scale). Output is integer-only
    * (code extremes + sum) so engine ulp differences cannot surface.
    */
  def quantizeQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("mx", expr("aggregate(v, cast(0.0 as double), (m, x) -> greatest(m, abs(x)))"))
      .withColumn("codes", expr(
        "transform(v, x -> cast(round(x * 127.0 / mx, 0) as bigint))"))
      .select(col("vec_id"),
        expr("aggregate(codes, cast(0 as bigint), (s, x) -> s + x)").as("code_sum"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"))
      .orderBy(col("vec_id"))

  /** SCD2 compaction: the per-user event-type stream collapsed to
    * change intervals — keep only rows where the state CHANGES, then
    * each surviving row is valid [its us, next change's us). The
    * open (current) interval has a null valid_to. Both the change
    * filter's lag and the validity lead ride ONE user_id exchange.
    * This is the dimension-history build every warehouse ingest needs.
    */
  /** CDC MERGE apply: a deterministic change feed derived from the
    * customer snapshot — updates (+100 balance, every 7th key), deletes
    * (every 11th, at a HIGHER seq so keys hit by both lose their update
    * to the delete), inserts (every 13th, re-keyed +1M into a new
    * segment) — applied latest-wins via [[graft.ops.Cdc.applyChanges]],
    * then aggregated per segment. Exercises all three ops plus
    * supersession in one oracle.
    */
  def cdcApplyQ(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val upd = c.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), lit(1L).as("seq"), lit("U").as("op"),
        col("c_name"), col("c_nationkey"),
        (col("c_acctbal") + 100.0).as("c_acctbal"), col("c_mktsegment"))
    val del = c.filter(col("c_custkey") % 11 === 0)
      .select(col("c_custkey"), lit(2L).as("seq"), lit("D").as("op"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    val ins = c.filter(col("c_custkey") % 13 === 0)
      .select((col("c_custkey") + 1000000).as("c_custkey"),
        lit(1L).as("seq"), lit("I").as("op"),
        concat(lit("new_"), (col("c_custkey") + 1000000).cast("string")).as("c_name"),
        col("c_nationkey"), lit(10.0).as("c_acctbal"),
        lit("NEWSEG").as("c_mktsegment"))
    graft.ops.Cdc.applyChanges(c, upd.union(del).union(ins), "c_custkey")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
        decimalSum2(col("c_acctbal")).as("sum_bal"),
        sum(when(col("c_custkey") > 1000000, 1L).otherwise(0L)).as("n_inserted"))
      .orderBy(col("c_mktsegment"))
  }

  def scd2Q(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("event_type") =!= col("prev_type"))
      .withColumn("valid_to_us", lead(col("us"), 1).over(w))
      .select(col("user_id"), col("event_type"),
        col("us").as("valid_from_us"), col("valid_to_us"))
      .orderBy(col("user_id"), col("valid_from_us"))
  }

  /** Point-in-time lookup against the SCD2 history — the other half
    * of q_scd2: given the change-row history, resolve "what was this
    * user's state at time t" for a probe set WITHOUT a range join.
    * Probes and change rows union into one per-user stream ordered by
    * (time, kind) and the state is carried forward by one
    * last(ignoreNulls) window — the as-of union trick applied to
    * temporal-table lookup, one user exchange however many probes.
    * Probes before the first change resolve to null (no state yet).
    */
  def pitLookupQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val wch = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val changes = e
      .withColumn("prev_type", lag(col("event_type"), 1).over(wch))
      .filter(col("prev_type").isNull || col("event_type") =!= col("prev_type"))
      .select(col("user_id"), col("us").as("t"), lit(0L).as("kind"),
        col("event_type").as("state"), lit(null).cast("long").as("probe_id"))
    val probes = e.filter(col("event_id") % 7 === 0)
      .select(col("user_id"), (col("us") + 1).as("t"), lit(1L).as("kind"),
        lit(null).cast("string").as("state"), col("event_id").as("probe_id"))
    // third key: two CHANGES at one µs must order deterministically
    // between themselves (probes carry no state, so their ties are
    // inert — null ordering divergence across engines cannot surface)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("kind"), col("state"))
      .rowsBetween(Window.unboundedPreceding, 0)
    changes.unionAll(probes)
      .withColumn("at_state", last(col("state"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("user_id"), col("probe_id"), col("t").as("t_us"), col("at_state"))
      .orderBy(col("user_id"), col("t_us"), col("probe_id"))
  }

  /** Path mining: top-20 three-step event-type paths (clickstream
    * n-grams — the sequence-mining generalization of q_transitions).
    * Two lags over one user_id exchange; the path-count table is at
    * most |types|³ rows, so the global top-k is a
    * TakeOrderedAndProject, never a full sort.
    */
  def eventPathsQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("p1", lag(col("event_type"), 1).over(w))
      .withColumn("p2", lag(col("event_type"), 2).over(w))
      .filter(col("p2").isNotNull)
      .select(concat_ws(" > ", col("p2"), col("p1"), col("event_type")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("path"))
      .limit(20)
  }

  /** Column profiling (ANALYZE-style) in ONE pass: row/null/distinct
    * counts and extremes for four orders columns, computed in a single
    * aggregate (multi-distinct plans one Expand — still one scan) and
    * unpivoted with stack(). At 100 TB the exact count(DISTINCT)s
    * would swap to approx_count_distinct — the oracle pins the exact
    * contract at test scale.
    */
  def profileQ(spark: SparkSession, sfDir: String): DataFrame = {
    def nulls(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L))
    // STRING min/max live in their OWN keyless aggregate: a string agg
    // BUFFER is not UnsafeRow-mutable, and one string buffer in the
    // mixed multi-distinct agg used to demote the whole Expand+distinct
    // rewrite to Sort+SortAggregate — a full 5·|rows| sort of the
    // expanded table (measured 1.5 s of q_profile's 2.0 at sf0.1; the
    // r12→r13 bench flag). Split, the distinct stage hash-aggregates
    // (string distinct KEYS are fine — only buffers must be mutable)
    // and the keyless string agg needs no sort at all. Values are
    // identical; the two 1-row results meet in a broadcast cross.
    val o = Tables.orders(spark, sfDir)
    val aNum = o.agg(
      count(lit(1)).as("n_rows"),
      nulls("o_custkey").as("nn_ck"), countDistinct(col("o_custkey")).as("nd_ck"),
      min(col("o_custkey")).cast("double").as("mn_ck"),
      max(col("o_custkey")).cast("double").as("mx_ck"),
      nulls("o_totalprice").as("nn_tp"), countDistinct(col("o_totalprice")).as("nd_tp"),
      round(min(col("o_totalprice")), 2).as("mn_tp"),
      round(max(col("o_totalprice")), 2).as("mx_tp"),
      nulls("o_orderstatus").as("nn_os"), countDistinct(col("o_orderstatus")).as("nd_os"),
      nulls("o_orderpriority").as("nn_op"), countDistinct(col("o_orderpriority")).as("nd_op"))
    val aStr = o.agg(
      min(col("o_orderstatus")).as("mns_os"), max(col("o_orderstatus")).as("mxs_os"),
      min(col("o_orderpriority")).as("mns_op"), max(col("o_orderpriority")).as("mxs_op"))
    val a = aNum.crossJoin(broadcast(aStr))
    a.select(expr(
      """stack(4,
        |  'o_custkey',      n_rows, nn_ck, nd_ck, mn_ck, mx_ck, CAST(NULL AS STRING), CAST(NULL AS STRING),
        |  'o_totalprice',   n_rows, nn_tp, nd_tp, mn_tp, mx_tp, CAST(NULL AS STRING), CAST(NULL AS STRING),
        |  'o_orderstatus',  n_rows, nn_os, nd_os, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mns_os, mxs_os,
        |  'o_orderpriority',n_rows, nn_op, nd_op, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mns_op, mxs_op)
        |AS (column_name, n_rows, n_nulls, n_distinct, min_num, max_num, min_str, max_str)""".stripMargin))
      .orderBy(col("column_name"))
  }

  /** Max edge count for which [[trianglesQ]]'s closing-edge probe is
    * broadcast; beyond it the probe is a shuffle equi-join on (v, w).
    * Override via `-Dgraft.tri.broadcastMaxEdges=N` (0 forces the
    * shuffle path everywhere — used by the PlanSpec path test).
    */
  def TriBroadcastMaxEdges: Long =
    sys.props.get("graft.tri.broadcastMaxEdges").map(_.toLong).getOrElse(1L << 22)

  /** Triangle counting over the part co-occurrence graph (parts sharing
    * an order), degree-oriented: every edge points low-degree →
    * high-degree (ties by id), so wedges enumerate only out-neighbor
    * PAIRS — Σ C(outdeg, 2) with outdeg ≤ O(√|E|) — instead of the
    * unoriented Σ indeg·outdeg (100× more here: 47s → ~3s at sf0.1).
    * The tiny degree table broadcasts onto the edges; the closing-edge
    * probe broadcasts the edge list (wedge stream generated and
    * filtered in ONE stage, no wedge shuffle) ONLY while the edge list
    * is provably broadcast-sized — the choice is gated on a cheap
    * `limit(N+1).count()` over the persisted edge table (the same
    * hybrid pattern as [[graft.ops.Dedup.connectedComponents]]).
    * Beyond [[TriBroadcastMaxEdges]] the closing probe falls back to a
    * shuffle equi-join on (v, w): the wedges shuffle once, but nothing
    * is driver-collected or broadcast, so the plan holds at any |E| —
    * the orientation bound is what survives scale. Count/min/max/
    * node-sum are orientation-invariant, so the oracle stays the plain
    * ordered-edge SQL.
    */
  /** Part co-occurrence pair table (parts sharing an order, canonical
    * x < y, distinct), memoized per (session, sf) — the distinct pair
    * table feeds the triangle counter's degree agg / orientation join /
    * closing-edge broadcast AND the link-prediction features;
    * materialized once instead of re-running the self-join per subtree.
    */
  private def coOccurrenceEdges(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.SessionMemo(spark, ("tri_edges", sfDir)) {
      val li = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_partkey"))
      li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("x"), col("b.l_partkey").as("y"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  def trianglesQ(spark: SparkSession, sfDir: String): DataFrame =
    trianglesScoped(spark, sfDir) { plan =>
      spark.createDataFrame(java.util.Arrays.asList(plan.collect(): _*), plan.schema)
    }

  /** The [[trianglesQ]] counting plan, handed to `use` inside the scope
    * of its one checkpoint (the oriented edge table), which is released
    * when `use` returns — the leak-free form of a plan that reads a
    * checkpoint ([[graft.ops.Curation.curateScoped]] style). `use` must
    * consume the plan (collect, write, or explain it).
    */
  def trianglesScoped[T](spark: SparkSession, sfDir: String)(use: DataFrame => T): T =
      Checkpoints.scoped { s =>
    val e = coOccurrenceEdges(spark, sfDir)
    val deg = e.select(col("x").as("node")).union(e.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient: src = the (deg, id)-smaller endpoint
    val withDeg = e
      .join(broadcast(deg).withColumnRenamed("node", "x").withColumnRenamed("deg", "dx"), "x")
      .join(broadcast(deg).withColumnRenamed("node", "y").withColumnRenamed("deg", "dy"), "y")
    val xFirst = col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y"))
    val o = withDeg.select(
      when(xFirst, col("x")).otherwise(col("y")).as("src"),
      when(xFirst, col("y")).otherwise(col("x")).as("dst"),
      when(xFirst, col("dy")).otherwise(col("dx")).as("ddst"))
    // out-neighbor pairs ordered by (deg, id) — each wedge once; the
    // closing edge (v, w) is oriented v→w by construction, so the probe
    // is a plain equi-join against the broadcast edge list. Wedge
    // generation stays the codegen'd SMJ self-join: the adjacency-list
    // HOF expansion was measured 1.5-2× SLOWER (Prof tri — per-pair
    // struct allocation beats the merge's sort only on paper).
    val vBeforeW = col("o1.ddst") < col("o2.ddst") ||
      (col("o1.ddst") === col("o2.ddst") && col("o1.dst") < col("o2.dst"))
    // o is consumed three times (both wedge sides + the closing probe's
    // broadcast build): one |E|-row checkpoint keeps the degree
    // broadcasts and the orientation projection to a single evaluation
    // (the hits rescale discipline)
    val oC = s.checkpoint(o)
    val probe = oC.select(col("src"), col("dst"))
    // |oC| = |E| exactly (one oriented row per edge) — the broadcast
    // gate reads the checkpoint's count for free; at ~16 B/edge the
    // default 4M-edge cap keeps the broadcast under ~64 MB with slack
    // for row overhead. Past the cap: plain shuffle equi-join, no hint.
    val closing = if (oC.count() <= TriBroadcastMaxEdges) broadcast(probe) else probe
    use(oC.as("o1").join(oC.as("o2"), col("o1.src") === col("o2.src") && vBeforeW)
      .select(col("o1.src").as("u"), col("o1.dst").as("v"), col("o2.dst").as("w"))
      .join(closing, col("v") === col("src") && col("w") === col("dst"))
      .agg(count(lit(1)).as("n_triangles"),
        min(least(col("u"), col("v"), col("w"))).as("min_node"),
        max(greatest(col("u"), col("v"), col("w"))).as("max_node"),
        sum(col("u") + col("v") + col("w")).as("node_sum")))
  }

  /** 30-core of the part-adjacency graph via [[graft.ops.Graph.kCore]]:
    * iterative peeling to fixpoint (3-6 rounds on this data — the
    * oracle unrolls 8, a strict superset, and extra rounds are no-ops
    * at fixpoint). k=30 sits in the critical band of this graph's
    * degree distribution (median ≈ 40-45), so the peel genuinely
    * cascades — early removals push later vertices below threshold —
    * rather than terminating in one pass.
    */
  def kCoreQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Graph.kCore(
        partAdjacencyEdges(spark, sfDir).select(col("src"), col("dst")), k = 30,
        und0 = Some(undSrcEdges(spark, sfDir)))
      .orderBy(col("node"))

  /** Per-edge link-prediction features over the part co-occurrence
    * graph via [[graft.ops.Graph.edgeJaccard]]: shared-neighbor count
    * (= per-edge triangle count, degree-oriented enumeration), endpoint
    * degrees, and neighborhood Jaccard. All-integer until the one
    * rounded division.
    */
  def linkPredQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Graph.edgeJaccard(coOccurrenceEdges(spark, sfDir))
      .orderBy(col("x"), col("y"))

  /** Personalized PageRank ([[graft.ops.Graph.personalizedPagerank]],
    * 3 power iterations) over the part-adjacency graph, restart set =
    * every 50th part id: rank mass concentrates around the seeds — the
    * related-items / seed-expansion scoring. Same per-iteration round-6
    * quantization as q_pagerank.
    */
  def pprQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = partAdjacencyEdges(spark, sfDir)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    graft.ops.Graph.personalizedPagerank(
        e, nodes.filter(col("node") % 50 === 0), iters = 3)
      .orderBy(col("node"))
  }

  /** Incremental paragraph dedup
    * ([[graft.ops.Dedup.paragraphDedupVersusCorpus]]): corpus = even
    * doc ids distilled into a paragraph-hash index; delta batch = odd
    * doc ids plus two plant families — exact copies of CORPUS docs
    * (id+96000: every segment dropped by the index probe) and exact
    * copies of BATCH docs (id+97000: dropped by the batch-internal
    * first-occurrence rule). Only batch docs appear in the output; the
    * corpus is never re-scanned. Parity split keeps both sides
    * non-empty at every SF.
    */
  def paraDedupIncrQ(spark: SparkSession, sfDir: String): DataFrame = {
    val all = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val corpus = all.filter(col("doc_id") % 2 === 0)
    val batch0 = all.filter(col("doc_id") % 2 === 1)
    val batch = batch0
      .unionAll(corpus.filter(col("doc_id") < 80)
        .select((col("doc_id") + 96000).as("doc_id"), col("text")))
      .unionAll(batch0.filter(col("doc_id") < 80)
        .select((col("doc_id") + 97000).as("doc_id"), col("text")))
    val idx = Dedup.paragraphHashTable(Dedup.segmentsByBlock(corpus, block = 20))
    Dedup.paragraphDedupVersusCorpus(Dedup.segmentsByBlock(batch, block = 20), idx)
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        md5(col("text_clean")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** BFS hop distances from the minimum part id over the part-adjacency
    * graph ([[graft.ops.Graph.bfsDistances]]): iterative relaxation to
    * fixpoint (eccentricity is 2-3 on this data; the oracle unrolls 6
    * materialized rounds, a strict superset). The seed is the one-row
    * aggregate min(src) — no driver-side collect.
    */
  def bfsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = partAdjacencyEdges(spark, sfDir).select(col("src"), col("dst"))
    // seed = min node over BOTH endpoints (a node appearing only on the
    // dst side would otherwise be missed), self-loops excluded to match
    // the op's internal edge normalization
    val nodes = e.filter(col("src") =!= col("dst"))
    val seed = nodes.select(col("src")).union(nodes.select(col("dst")))
      .agg(min(col("src")).as("node"))
    graft.ops.Graph.bfsDistances(e, seed,
      und0 = Some(undSrcEdges(spark, sfDir))).orderBy(col("node"))
  }

  /** Association rules over order baskets (the classic market-basket
    * support/confidence/lift surface): items = distinct parts per
    * order; antecedent→consequent emitted BOTH ways for every part
    * pair co-occurring in ≥ 2 orders. All counts are exact integers;
    * confidence and lift are each ONE rounded double division of
    * integer products, so the oracle replays bit-for-bit.
    *
    * Scale shape: the pair generation is the triangle counter's
    * per-order self-join (Σ C(basket,2), basket-size-bounded), counts
    * aggregate with map-side combine, item supports join 1:1, and the
    * single-row basket total broadcasts — no driver collect, no
    * all-pairs anywhere.
    */
  def assocRulesQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = graft.sources.SessionMemo(spark, ("basket_items", sfDir)) {
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val pairs = d.as("a").join(d.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("x"), col("b.l_partkey").as("y"))
      .agg(count(lit(1)).as("sup_pair"))
      .filter(col("sup_pair") >= 2)
    val items = d.groupBy(col("l_partkey").as("item")).agg(count(lit(1)).as("sup"))
    val n = d.agg(countDistinct(col("l_orderkey")).as("n_baskets"))
    val directed = pairs.select(col("x").as("ante"), col("y").as("cons"), col("sup_pair"))
      .unionAll(pairs.select(col("y").as("ante"), col("x").as("cons"), col("sup_pair")))
    directed
      .join(items.select(col("item").as("ante"), col("sup").as("sup_ante")), "ante")
      .join(items.select(col("item").as("cons"), col("sup").as("sup_cons")), "cons")
      .crossJoin(broadcast(n))
      .select(col("ante"), col("cons"), col("sup_pair"),
        round(col("sup_pair").cast("double") / col("sup_ante"), 6).as("conf"),
        round((col("n_baskets") * col("sup_pair")).cast("double")
          / (col("sup_ante") * col("sup_cons")), 6).as("lift"))
      .orderBy(col("ante"), col("cons"))
  }

  /** Exact phrase search with positions: the token stream's trigram at
    * every position (one doc-partitioned window — the winnowing gram
    * shape, no join) probed against a small phrase set, returning
    * (phrase, doc, hit count, first position) — the positional
    * exact-match probe decontamination and quote-mining pipelines run
    * against a corpus. Probe phrases are data-derived (the trigram at
    * position 5 of every 97th doc), so both engines construct the same
    * set. Scale shape: gram stream is scan-like; the phrase table
    * broadcasts.
    */
  def phraseSearchQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wo = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val grams = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        posexplode(split(trim(lower(col("text"))), "\\s+")).as(Seq("pos", "tok")))
      .withColumn("gram", concat_ws(" ",
        col("tok"), lead(col("tok"), 1).over(wo), lead(col("tok"), 2).over(wo)))
      .withColumn("ng", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("pos") <= col("ng") - 3)
      .select(col("doc_id"), col("pos"), col("gram"))
    val phrases = grams
      .filter(col("pos") === 5 && col("doc_id") % 97 === 0)
      .select(col("doc_id").as("phrase_id"), col("gram"))
    grams.join(broadcast(phrases), "gram")
      .groupBy(col("phrase_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("pos")).cast("long").as("first_pos"))
      .orderBy(col("phrase_id"), col("doc_id"))
  }

  /** Dominant-PC projection of the embedding table
    * ([[graft.ops.Similarity.pcaPowerProjection]], 3 power iterations):
    * integer-exact Gram → max-normalized integer power iteration →
    * integer projection. The one float op per step is a correctly-
    * rounded double division on identical operands, so the oracle
    * replays bit-for-bit with no per-iteration tolerance.
    */
  def pcaPowerQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Similarity.pcaPowerProjection(
        Tables.embeddings(spark, sfDir), iterations = 3)
      .orderBy(col("vec_id"))

  /** TPC-H Q3 shape (shipping priority): selective dim filter →
    * fact join → revenue aggregation → top-10. The plan the optimizer
    * should reach: mktsegment filter pushed to the customer scan,
    * customer (small, filtered) BROADCAST into orders, the orders⋈
    * lineitem join shuffled on the shared o/l_orderkey — and the final
    * top-10 a TakeOrderedAndProject over rounded-exact decimal revenue.
    */
  def tpch3Q(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp_ntz")
    val c = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val l = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(decimalSum2(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape (local-supplier volume): the six-table star —
    * region→nation→supplier/customer gate the fact side, with the
    * co-location condition c_nationkey = s_nationkey applied AFTER the
    * fact joins. All four dimension sides broadcast; only the
    * orders⋈lineitem join moves fact-sized data.
    */
  def tpch5Q(spark: SparkSession, sfDir: String): DataFrame = {
    val n = Tables.nation(spark, sfDir)
      .join(Tables.region(spark, sfDir).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val s = Tables.supplier(spark, sfDir)
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_nationkey"))
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .select(col("o_orderkey"), col("o_custkey"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(decimalSum2(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Referential-integrity audit (the DQ companion to q_profile):
    * orphan counts for the three FK edges of the star, each a
    * LEFT ANTI join — the probe side is the small parent key set, so
    * every check is a broadcast anti probe over one fact scan; the
    * three checks union into one report. Zero rows violated is the
    * expected (and still meaningful) output of a healthy lake.
    */
  def integrityQ(spark: SparkSession, sfDir: String): DataFrame = {
    def orphans(name: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String): DataFrame =
      child.join(broadcast(parent),
          child(key) === parent(pkey), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(name).as("fk_edge"), col("n_orphans"))
    val spark0 = spark
    orphans("lineitem.l_orderkey->orders",
        Tables.lineitem(spark0, sfDir).select(col("l_orderkey")),
        "l_orderkey", Tables.orders(spark0, sfDir).select(col("o_orderkey")), "o_orderkey")
      .unionAll(orphans("orders.o_custkey->customer",
        Tables.orders(spark0, sfDir).select(col("o_custkey")),
        "o_custkey", Tables.customer(spark0, sfDir).select(col("c_custkey")), "c_custkey"))
      .unionAll(orphans("customer.c_nationkey->nation",
        Tables.customer(spark0, sfDir).select(col("c_nationkey")),
        "c_nationkey", Tables.nation(spark0, sfDir).select(col("n_nationkey")), "n_nationkey"))
      .orderBy(col("fk_edge"))
  }

  /** TPC-H Q7 shape (volume shipping between two nations): the
    * DISJUNCTIVE cross-nation predicate ((A,B) OR (B,A)) — a join
    * condition the optimizer cannot turn into a single equi key; both
    * nation sides broadcast-filter their fact branch (supplier side
    * onto lineitem, customer side onto orders) BEFORE the fact-fact
    * join, so the disjunction only ever evaluates on pre-shrunk rows.
    */
  def tpch7Q(spark: SparkSession, sfDir: String): DataFrame = {
    val nations = Seq("NATION_3", "NATION_7")
    val n = Tables.nation(spark, sfDir)
      .filter(col("n_name").isin(nations: _*))
      .select(col("n_nationkey"), col("n_name"))
    val s = Tables.supplier(spark, sfDir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val c = Tables.customer(spark, sfDir)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val o = Tables.orders(spark, sfDir)
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .filter((col("supp_nation") === nations.head && col("cust_nation") === nations(1)) ||
        (col("supp_nation") === nations(1) && col("cust_nation") === nations.head))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(decimalSum2(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q12 shape (shipping-mode priority): fact⋈fact join feeding
    * a conditional two-bucket aggregate (urgent-vs-not counts per line
    * status within a ship-date year) — the join carries only the
    * priority column; output is integer-only, so nothing can drift.
    */
  def tpch12Q(spark: SparkSession, sfDir: String): DataFrame = {
    val urgent = col("o_orderpriority") === "1-URGENT" || col("o_orderpriority") === "2-HIGH"
    val l = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .select(col("l_orderkey"), col("l_linestatus"))
    l.join(Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(sum(when(urgent, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(urgent, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  /** TPC-H Q14 shape (promotion effect): one-month shipdate window,
    * part dim broadcast into the filtered fact, a single conditional/
    * total revenue ratio. Parity discipline: both revenue sums are
    * exact DECIMAL(30,8) accumulations rounded to 2dp BEFORE the
    * double ratio (the decimalSum2 device), so the one output value
    * is identical on both engines.
    */
  def tpch14Q(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1997-10-01").cast("timestamp_ntz"))
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    l.join(broadcast(Tables.part(spark, sfDir).select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(
        decimalSum2(when(col("p_type") === "PROMO", rev).otherwise(lit(0))).as("promo_rev"),
        decimalSum2(rev).as("total_rev"))
      .select(col("promo_rev"), col("total_rev"),
        round(lit(100.0) * col("promo_rev") / col("total_rev"), 6).as("promo_pct"))
  }

  /** TPC-H Q17 shape (small-quantity-order revenue): the correlated
    * scalar subquery `l_quantity < 0.2 * avg(l_quantity) WHERE
    * l_partkey = p_partkey`, decorrelated the way Catalyst rewrites it —
    * pre-aggregate per-part (sum, count) once over the SAME filtered
    * fact slice, join back, compare. The per-part aggregate is
    * dim-filtered-part-sized, so it broadcasts; the fact is scanned
    * with the part semi-filter applied — no second full-fact pass.
    * Adaptations for this data: no p_container column, so the selective
    * dim filter is (p_brand, p_size); l_quantity is integer-valued, so
    * 0.2·avg compares in exact integers (5·qty·cnt < sum — zero float
    * rounding on either engine); avg_yearly = sum/7 via exact cents.
    */
  def tpch17Q(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir)
      .filter(col("p_brand") === "Brand#23" && col("p_size") < 30)
      .select(col("p_partkey"))
    val lp = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
    val perPart = lp.groupBy(col("l_partkey").as("agg_pk"))
      .agg(sum(col("l_quantity").cast("long")).as("qty_sum"),
        count(lit(1)).as("qty_cnt"))
    lp.join(broadcast(perPart), col("l_partkey") === col("agg_pk"))
      .filter(col("l_quantity").cast("long") * 5 * col("qty_cnt") < col("qty_sum"))
      .agg(sum(cents(col("l_extendedprice"))).as("sum_cents"),
        count(lit(1)).as("n_small"))
      .select(avgFromCents(col("sum_cents"), lit(7), 2).as("avg_yearly"),
        col("n_small"))
  }

  /** TPC-H Q20 shape (potential part promotion): nested semi-joins with
    * a correlated aggregate — suppliers (from a nation set) who shipped
    * MORE THAN HALF of some PROMO part's total windowed volume.
    * Adaptations for this data: no partsupp table, so the
    * supplier↔part availability relation is lineitem itself (per
    * (supp, part) shipped volume vs the part's total), and Q20's
    * 0.5·sum(l_quantity) comparison is exact-integer (2·sq > tq). The
    * plan family is preserved: a part filter semi-restricting the
    * fact, two aggregates at nested keys over one shared slice, and an
    * IN-shaped semi-join into the supplier dim.
    */
  def tpch20Q(spark: SparkSession, sfDir: String): DataFrame = {
    val nations = Seq("NATION_1", "NATION_3", "NATION_7", "NATION_12", "NATION_19")
    val p = Tables.part(spark, sfDir)
      .filter(col("p_type") === "PROMO").select(col("p_partkey"))
    val fl = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1997-07-01").cast("timestamp_ntz"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("l_suppkey"), col("l_partkey"),
        col("l_quantity").cast("long").as("qty"))
    val sp = fl.groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("qty")).as("sq"))
    val tp = fl.groupBy(col("l_partkey")).agg(sum(col("qty")).as("tq"))
    val bigSupp = sp.join(tp, "l_partkey")
      .filter(col("sq") * 2 > col("tq"))
      .select(col("l_suppkey")).distinct()
    val n = Tables.nation(spark, sfDir)
      .filter(col("n_name").isin(nations: _*))
      .select(col("n_nationkey"))
    Tables.supplier(spark, sfDir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(bigSupp, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q21 shape (suppliers who kept waiting): the double-EXISTS
    * family — for each flagged lineitem, EXISTS another supplier's line
    * in the same order, and NOT EXISTS another supplier's FLAGGED line
    * — with the inequality correlation (l2.l_suppkey <> l1.l_suppkey)
    * that makes the decorrelation distinct from Q20's pure-equi semis.
    * Adaptations for this data: no receipt/commit dates, so "failed to
    * deliver" is l_returnflag = 'R' (order status 'F' as in the
    * original); nation set filter via LIKE.
    *
    * Plan: all three fact-fact joins (orders filter, semi, anti) key on
    * l_orderkey, so one exchange feeds the chain; supplier and nation
    * broadcast at the end, after the fact rows have been thinned.
    */
  def tpch21Q(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    val l1 = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_suppkey"))
    val oF = Tables.orders(spark, sfDir)
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    val l2 = li.select(col("l_orderkey").as("lo2"), col("l_suppkey").as("ls2"))
    val l3 = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("lo3"), col("l_suppkey").as("ls3"))
    val n = Tables.nation(spark, sfDir)
      .filter(col("n_name").like("NATION_1%")).select(col("n_nationkey"))
    l1.join(oF, col("l_orderkey") === col("o_orderkey"))
      .join(l2, col("l_orderkey") === col("lo2") &&
        col("l_suppkey") =!= col("ls2"), "left_semi")
      .join(l3, col("l_orderkey") === col("lo3") &&
        col("l_suppkey") =!= col("ls3"), "left_anti")
      .join(broadcast(Tables.supplier(spark, sfDir)
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** TPC-H Q22 shape (global sales opportunity): an UNCORRELATED scalar
    * aggregate subquery as a filter threshold plus a NOT EXISTS
    * anti-join, grouped by a derived code. Adaptations for this data:
    * no c_phone, so the country code is c_custkey % 7 and the customer
    * universe is unrestricted; "has no orders" (always false here —
    * every customer ordered) becomes "has no URGENT order". The
    * above-average comparison is EXACT-INTEGER (cents·count > total
    * cents), so no float-average boundary can differ between engines;
    * the scalar (count, total) pair broadcasts into the scan.
    */
  def tpch22Q(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_acctbal"),
        cents(col("c_acctbal")).as("bal_cents"))
    val st = c.filter(col("c_acctbal") > 0)
      .agg(count(lit(1)).as("n_pos"), sum(col("bal_cents")).as("tot_cents"))
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    c.crossJoin(broadcast(st)) // 1-row scalar — broadcast nested loop
      .filter(col("bal_cents") * col("n_pos") > col("tot_cents"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy((col("c_custkey") % 7).as("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        round(sum(col("c_acctbal")), 2).as("totbal"))
      .orderBy(col("cntrycode"))
  }

  /** TPC-H Q13 shape (customer order-count distribution): the plan
    * family the suite lacked — a left OUTER join whose extra predicate
    * lives in the JOIN CONDITION (not a WHERE; customers whose orders
    * all fail it must still appear with count 0), feeding a DOUBLE
    * aggregation (per-customer count, then distribution of counts).
    * Adaptation: no o_comment column, so the condition filter is
    * `o_orderpriority <> '1-URGENT'`.
    *
    * Scale: both sides are fact-sized → shuffle join on custkey, and
    * the first groupBy is on the SAME key, so it reuses the join's
    * hash partitioning (no second exchange); the distribution agg
    * shuffles only |distinct counts| rows. count(o_orderkey) (not
    * count(1)) makes unmatched customers count 0.
    */
  def tpch13Q(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"))
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"))
    c.join(o,
        col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") =!= "1-URGENT", "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q19 shape (discounted revenue, disjunctive predicates): an
    * OR of three brand/size/quantity branches that all share the
    * `p_partkey = l_partkey` conjunct. The plan point: Catalyst's
    * ExtractEquiJoinKeys must pull that common key OUT of the
    * disjunction (equi hash join, OR residual as the join filter) —
    * written naively this is a nested-loop cross product. The dim-side
    * disjunction (brand ∈ {12,23,24}, size ≤ 15) is applied to part
    * before the join — semantically redundant with the residual but it
    * shrinks the build side to broadcast size, which constraint
    * propagation alone does not do across an OR. Adaptation: no
    * p_container/l_shipmode columns; branches select on brand/size/
    * quantity only. Revenue via exact decimal sum (2dp products).
    */
  def tpch19Q(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir)
      .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#24") &&
        col("p_size").between(1, 15))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
    val branches =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#24" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    l.join(broadcast(p), col("p_partkey") === col("l_partkey") && branches)
      .agg(decimalSum2(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
  }

  /** TPC-H Q6 shape (forecasting revenue change): the ZERO-JOIN
    * pushdown aggregate — a conjunctive range filter that must reach
    * the parquet scan in full (shipdate year + discount band +
    * quantity cap, all in PushedFilters) feeding one global sum. The
    * cheapest plan family in the suite and the purest pushdown probe:
    * any filter evaluated post-scan is a plan bug. Discount bounds
    * compare the parquet doubles against the identical double
    * literals both engines parse, so the band is bit-exact; revenue
    * (a 2dp×2dp product) sums via exact decimal.
    */
  def tpch6Q(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(decimalSum2(col("l_extendedprice") * col("l_discount")).as("revenue"))

  /** TPC-H Q15 shape (top supplier): a revenue view reused TWICE — once
    * aggregated to its maximum (a 1-row scalar), once joined back
    * against that scalar to pick the winner(s). The fact scans once
    * into a supplier-sized aggregate; the max and the supplier dim
    * both broadcast, so the "scalar subquery" costs one extra
    * supplier-sized pass, never a second fact scan. Equality on
    * total_rev is safe because decimalSum2 rounds both sides to the
    * same 2dp decimal before the double cast.
    */
  def tpch15Q(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1997-07-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1997-10-01").cast("timestamp_ntz"))
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      .groupBy(col("l_suppkey"))
      .agg(decimalSum2(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("total_rev"))
    val mx = rev.agg(max(col("total_rev")).as("_max_rev"))
    rev.join(broadcast(mx), col("total_rev") === col("_max_rev"))
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select(col("s_suppkey"), col("s_name"))),
        col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q8 shape (national market share): the two-sided nation
    * decoration — customers restrict through region→nation to scope
    * the DENOMINATOR, suppliers decorate through nation to mark the
    * NUMERATOR — feeding a per-year conditional-aggregation ratio.
    * Plan: part (type filter), supplier⋈nation, and the region-scoped
    * customer set all broadcast; the only fact-fact shuffle is
    * lineitem⋈orders on orderkey. Both revenue sums are exact decimal
    * before the one double division (the q_tpch14 ratio discipline).
    */
  def tpch8Q(spark: SparkSession, sfDir: String): DataFrame = {
    val asia = Tables.nation(spark, sfDir)
      .join(broadcast(Tables.region(spark, sfDir)
        .filter(col("r_name") === "ASIA").select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val c = Tables.customer(spark, sfDir)
      .join(broadcast(asia), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year"))
    val p = Tables.part(spark, sfDir)
      .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))
    val s = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_year"))
      .agg(
        decimalSum2(when(col("supp_nation") === "NATION_7", vol).otherwise(lit(0)))
          .as("nation_rev"),
        decimalSum2(vol).as("total_rev"))
      .select(col("o_year"), col("nation_rev"), col("total_rev"),
        round(col("nation_rev") / col("total_rev"), 6).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q10 shape (returned-item report): one-quarter order window,
    * returnflag-filtered lineitems, customer + nation dims broadcast,
    * top-20 customers by lost revenue. The returnflag and date filters
    * must reach their scans; only orders⋈lineitem is fact-sized.
    */
  def tpch10Q(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp_ntz"))
      .select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
    val n = Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(decimalSum2(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .select(col("c_custkey"), col("c_name"), round(col("c_acctbal"), 2).as("acctbal"),
        col("n_name"), col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q18 shape (large-volume customers): aggregate-then-semi-join
    * — the big-order key set comes from a HAVING over the fact table
    * and rejoins orders/customer/lineitem; the per-order quantity sums
    * are exact on 2dp (sums of raw 2dp land on cents).
    */
  def tpch18Q(spark: SparkSession, sfDir: String): DataFrame = {
    val big = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey")).agg(round(sum(col("l_quantity")), 2).as("total_qty"))
      .filter(col("total_qty") > 150)
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_name"))
    big.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("order_date"), round(col("o_totalprice"), 2).as("total_price"),
        col("total_qty"))
      .orderBy(col("total_price").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Hopping (sliding) windows in batch: Spark's native
    * `window(ts, '1 hour', '15 minutes')` fans each event into
    * width/hop = 4 epoch-aligned windows — the Flink-style sliding
    * aggregation the reference's continuous GROUP BY generalizes to.
    * The fan-out is a narrow Expand (×4 BEFORE partial aggregation, so
    * the exchange carries per-window partials, not raw events).
    */
  def hoppingQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("value_sum"))
      .select(expr("unix_micros(w.start)").as("win_start_us"), col("event_type"),
        col("n_events"), col("value_sum"))
      .orderBy(col("win_start_us"), col("event_type"))

  /** regexp_extract_all over document text: pull every vowel-initial
    * 4+-letter token, explode, global top-50. The pattern sticks to a
    * plain character class (no \b, no \w) so RE2 (DuckDB) and Java
    * regex agree by construction — the same RE2-safe discipline as
    * q_pii_redact.
    */
  def regexpExtractQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(expr(
        "regexp_extract_all(lower(text), '[aeiou][a-z]{3,}', 0)")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n_hits"))
      .orderBy(col("n_hits").desc, col("word"))
      .limit(50)

  /** Robust (median/MAD) outlier detection, exact-integer gate: with
    * values as cents c, 2·median(c) and 2·median(|2c − 2m|)/2 are exact
    * integers (interpolated medians of integers land on halves), so the
    * flag |c − m| > 3·mad compares integers — 2·dev > 3·mad4 — and can
    * never flip on an engine ulp (same trick as q_zscore, but for the
    * quantile-based robust statistic; outliers can't drag this gate).
    * Per-type medians are two tiny broadcast joins; the event side
    * never shuffles.
    */
  def madQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("value") * 100, 0).cast("long").as("c"))
    val med = e.groupBy(col("event_type"))
      .agg(expr("cast(2 * percentile(c, 0.5) as bigint)").as("m2"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("dev", abs(lit(2) * col("c") - col("m2")))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("cast(2 * percentile(dev, 0.5) as bigint)").as("mad4"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(lit(2) * col("dev") > lit(3) * col("mad4"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** Day-level volume anomaly detection — the q_mad robust gate
    * applied to the DAILY COUNT series per event type: median and MAD
    * of the per-day totals via the exact 2·median integer trick, a
    * day flagged when |count − median| > 3·MAD (cross-multiplied, no
    * float). Reports per type the day count, anomaly count and the
    * single worst day (argmax deviation, min-struct tie-break) — the
    * pipeline-health alarm over ~30-row-per-type state.
    */
  def anomalyDaysQ(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))
    val med = daily.groupBy(col("event_type"))
      .agg(expr("cast(2 * percentile(c, 0.5) as bigint)").as("m2"))
    val dev = daily.join(broadcast(med), "event_type")
      .withColumn("dev", abs(lit(2) * col("c") - col("m2")))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("cast(2 * percentile(dev, 0.5) as bigint)").as("mad4"))
    dev.join(broadcast(mad), "event_type")
      .withColumn("anom", lit(2) * col("dev") > lit(3) * col("mad4"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("anom"), 1L).otherwise(0L)).as("n_anomalies"),
        min(struct((-col("dev")).as("nd"), col("day"), col("c"))).as("worst"))
      .select(col("event_type"), col("n_days"), col("n_anomalies"),
        col("worst.day").as("worst_day"), col("worst.c").as("worst_count"))
      .orderBy(col("event_type"))
  }

  /** Dedup threshold sensitivity in one pass: pair counts at Jaccard
    * ≥ 0.5/0.6/0.7/0.8/0.9 and exact (≥ 0.999999) as conditional sums
    * over the ONE memoized verified-pair table — the sweep that picks
    * a production threshold without recomputing candidates per value.
    */
  def thresholdSweepQ(spark: SparkSession, sfDir: String): DataFrame =
    lshPairs(spark, sfDir)
      .groupBy()
      .agg(count(lit(1)).as("n_05"),
        sum(when(col("jaccard") >= 0.6, 1L).otherwise(0L)).as("n_06"),
        sum(when(col("jaccard") >= 0.7, 1L).otherwise(0L)).as("n_07"),
        sum(when(col("jaccard") >= 0.8, 1L).otherwise(0L)).as("n_08"),
        sum(when(col("jaccard") >= 0.9, 1L).otherwise(0L)).as("n_09"),
        sum(when(col("jaccard") >= 0.999999, 1L).otherwise(0L)).as("n_exact"))

  /** Zipf rank-frequency fit over the vocabulary: OLS slope/intercept
    * of ln(count) against ln(rank) for the top-200 terms. The sums run
    * over 200 doubles (accumulation noise ~1e-14 against a 6dp round)
    * and the regression arithmetic is written IDENTICALLY in the oracle
    * — no regr_slope builtin, whose internal order could differ.
    */
  def zipfQ(spark: SparkSession, sfDir: String): DataFrame =
    vocabQ(spark, sfDir)
      .select(log(col("vocab_id").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("n").cast("long").as("n_terms"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) / col("n"), 6)
          .as("intercept"))

  /** Rolling median smoothing: exact interpolated median of the
    * trailing 21 values per event type, in the integer-exact 2·median
    * form (q_mad's device — a trailing frame of integer cents has a
    * half-integer median, so 2·median is an exact BIGINT and engine
    * ulps can't flip it). ROWS frames over a unique (us, event_id)
    * order are identical cross-engine; one exchange on event_type.
    */
  def rollingMedianQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("us"), col("event_id"))
      .rowsBetween(-20, 0)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), expr("unix_micros(ts)").as("us"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .withColumn("med2", (lit(2) * expr("percentile(c, 0.5)").over(w)).cast("long"))
      .select(col("event_id"), col("event_type"), col("us"), col("med2"))
      .orderBy(col("event_id"))
  }

  /** Cumulative daily active users: running count of DISTINCT users per
    * day. count(DISTINCT) can't run in a window — the scalable form is
    * the first-seen transform: min(day) per user (one agg), new users
    * per day (one agg over users, not events), then a running sum over
    * the tiny day table. Alongside it the per-day DAU itself.
    */
  def dauCumeQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val userDay = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"))
      .distinct()
    val dau = userDay.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    val newU = userDay.groupBy(col("user_id")).agg(min(col("d")).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("new_users"))
    // running sum over the tiny day table — single partition by design,
    // keyed so no empty window spec survives the optimizer
    val w = Window.partitionBy(graft.functions.GraftFunctions.singleton_key(col("d")))
      .orderBy(col("d")).rowsBetween(Window.unboundedPreceding, 0)
    dau.join(newU, Seq("d"), "left")
      .select(col("d"), col("dau"), coalesce(col("new_users"), lit(0L)).as("new_users"))
      .withColumn("cume_users", sum(col("new_users")).over(w))
      .orderBy(col("d"))
  }

  /** Skyline (Pareto front) of orders over (totalprice, orderdate) —
    * keep orders no other order strictly beats on BOTH. Skylines are
    * distributive, so the distributed shape is local-then-merge: a
    * per-shard skyline pass prunes to survivors, then the global pass
    * runs over that small set. Dominance is evaluated at distinct
    * price levels (max date per level, running max over STRICTLY
    * higher levels via lag) — ties in price never dominate each other
    * and every comparison is on exact values.
    */
  def skylineQ(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice").as("p"),
        // NTZ → µs: the session is pinned UTC, so the cast is lossless
        expr("unix_micros(cast(o_orderdate as timestamp))").as("dt"),
        (col("o_orderkey") % 16).as("shard"))
    graft.ops.Skyline.skyline(base, "shard")
      .select(col("o_orderkey"), round(col("p"), 2).as("price"), col("dt").as("date_us"))
      .orderBy(col("o_orderkey"))
  }

  /** The BM25 inputs for the fixed query terms (hash, join, vector),
    * shared by [[bm25Q]] and [[bm25SweepQ]]: corpus `stats` (n_docs,
    * avgdl), `tf` rows (doc_id, dl, token, tf > 0) and `dfreq` (token,
    * df).
    */
  private def bm25Terms(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame, DataFrame) = {
    // genuinely ONE tokenize pass: the per-doc agg carries dl AND the
    // three fixed-term tfs as columns (stack() widens them back to
    // (doc, token, tf) rows), and the doc-sized result is materialized
    // once — its two consumers (corpus stats, tf rows) must not
    // re-execute the corpus scan (Catalyst re-executes branches)
    val perDoc = graft.sources.SessionMemo(spark, ("bm25_perdoc", sfDir)) {
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .filter(length(col("token")) >= 2)
        .groupBy(col("doc_id")).agg(
          count(lit(1)).as("dl"),
          sum(when(col("token") === "hash", 1L).otherwise(0L)).as("tf_hash"),
          sum(when(col("token") === "join", 1L).otherwise(0L)).as("tf_join"),
          sum(when(col("token") === "vector", 1L).otherwise(0L)).as("tf_vector"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val stats = perDoc.agg(count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")) / count(lit(1))).as("avgdl"))
    val tf = perDoc.select(col("doc_id"), col("dl"), expr(
        "stack(3, 'hash', tf_hash, 'join', tf_join, 'vector', tf_vector) AS (token, tf)"))
      .filter(col("tf") > 0)
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    (stats, tf, dfreq)
  }

  /** BM25 scoring (Lucene form, k1=1.2 b=0.75) of a fixed 3-term query
    * over the corpus — the lexical-retrieval complement to the dense
    * kNN path. One tokenize pass feeds doc lengths and term counts;
    * N/avgdl broadcast as a 1-row scalar; per-doc score sums ≤3 terms
    * with the arithmetic written identically in the oracle (round-6).
    */
  def bm25Q(spark: SparkSession, sfDir: String): DataFrame = {
    val (stats, tf, dfreq) = bm25Terms(spark, sfDir)
    val idf = expr("ln(1 + (n_docs - df + 0.5) / (df + 0.5))")
    val tfn = expr("tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))")
    tf.join(broadcast(dfreq), "token")
      .crossJoin(broadcast(stats))
      .withColumn("s", idf * tfn)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_matched"), round(sum(col("s")), 6).as("bm25"))
      .orderBy(col("doc_id"))
  }

  /** kNN classification confusion matrix: 3-NN majority vote (ties →
    * smallest label) for the first 500 vectors against the full set,
    * aggregated to (true, predicted) counts — the model-eval shape over
    * the same brute-force cosine base as q_knn_cosine (bit-identical
    * dot products both engines; at corpus scale the candidate pass
    * swaps to the IVF cells). Integer-only output.
    */
  def confusionQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = normEmbeddings(spark, sfDir)
    val q = probeSlice(e, 500)
      .select(col("vec_id").as("query_id"), col("label").cast("long").as("true_label"),
        col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("label").cast("long").as("n_label"),
      col("embedding").as("cv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    val top = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Similarity.dot(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
    val wv = Window.partitionBy(col("query_id")).orderBy(col("votes").desc, col("n_label"))
    top.groupBy(col("query_id"), col("true_label"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wv))
      .filter(col("vr") === 1)
      .groupBy(col("true_label"), col("n_label").as("pred_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("true_label"), col("pred_label"))
  }

  /** NDCG@5 retrieval quality per query vector (first 50): relevance =
    * same label, DCG with the ln(x)/ln(2) discount written identically
    * on both engines; ideal DCG from the relevant count via a sequence
    * aggregate (binary relevance ⇒ ideal ranking = all hits first).
    */
  def ndcgQ(spark: SparkSession, sfDir: String): DataFrame = {
    probeRanks(normEmbeddings(spark, sfDir))
      .filter(col("rnk") <= 5)
      .withColumn("rel", when(col("n_label") === col("true_label"), 1.0).otherwise(0.0))
      .groupBy(col("query_id"))
      .agg(sum(col("rel")).cast("long").as("n_rel"),
        sum(col("rel") / (log(col("rnk") + 1.0) / log(lit(2.0)))).as("dcg"))
      .withColumn("idcg", expr(
        "if(n_rel = 0, 0.0, aggregate(sequence(1, n_rel), cast(0.0 as double), (s, i) -> s + 1.0 / (ln(i + 1.0) / ln(2.0))))"))
      .select(col("query_id"), col("n_rel"),
        when(col("n_rel") === 0, 0.0).otherwise(round(col("dcg") / col("idcg"), 6)).as("ndcg"))
      .orderBy(col("query_id"))
  }

  /** IGNORE NULLS window navigation — the forward-fill (LOCF) shape:
    * last non-null carried forward over a running frame, plus the
    * previous non-null via lag. Nulls derived deterministically
    * (negative balances), one exchange for both windows.
    */
  def ignoreNullsQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nb = when(col("c_acctbal") < 0, lit(null)).otherwise(round(col("c_acctbal"), 2))
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_custkey"))
    Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"), nb.as("nb"))
      .withColumn("prev_nb", lag(col("nb"), 1, null, ignoreNulls = true).over(w))
      .withColumn("ff_nb", last(col("nb"), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .orderBy(col("c_custkey"))
  }

  /** Error-tolerant scalar functions: try_divide (null on /0 — DuckDB's
    * division is null-on-zero natively) and try_cast (null on
    * malformed). The ANSI-mode-safe ingestion idiom: bad rows become
    * nulls to filter, never task failures.
    */
  def tryFuncsQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") < 500)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(expr("try_divide(l_extendedprice, l_linenumber - 1)"), 6).as("per_prev_line"),
        expr("try_cast(l_returnflag AS int)").cast("long").as("flag_as_int"),
        expr("try_cast(cast(l_orderkey AS string) AS int)").cast("long").as("roundtrip_key"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("per_prev_line"))

  /** Count-min-sketch frequency estimation, gated by its contract the
    * way q_approx_distinct gates HLL++: the CMS estimate can only
    * over-count, by at most eps·N (w.h.p.), so the oracle's column is
    * literal TRUE plus the exact counts. The sketch is a mergeable
    * map-side aggregate (eps 1e-4, conf 0.99 → ~2700×7 ints) —
    * constant-size state no matter how many rows stream through it.
    */
  def cmsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val eps = 0.0001
    val li = Tables.lineitem(spark, sfDir).select(col("l_partkey"))
    val sketch = li.stat.countMinSketch("l_partkey", eps, 0.99, 42)
    val total = sketch.totalCount()
    val bound = math.ceil(eps * total).toLong
    val est = (0L to 4L).map(k => (k, sketch.estimateCount(Long.box(k))))
      .toDF("l_partkey", "est")
    li.filter(col("l_partkey") < 5)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_exact"))
      .join(broadcast(est), "l_partkey")
      .select(col("l_partkey"), col("n_exact"),
        (col("est") >= col("n_exact") && col("est") <= col("n_exact") + bound)
          .as("within_bound"))
      .orderBy(col("l_partkey"))
  }

  /** TPC-H Q2 family (minimum-cost supplier): the correlated scalar MIN
    * subquery, decorrelated to a per-part min aggregate joined back on
    * value equality — ALL tied suppliers survive, as in the spec. No
    * partsupp in this data, so "supply cost" of a (part, supplier) pair
    * is its minimum lineitem price in exact integer cents (no float can
    * straddle the min-equality), suppliers restricted to EUROPE via
    * broadcast dims. Total-order output (acctbal desc, keys) + top-100
    * plans as TakeOrderedAndProject.
    */
  def tpch2Q(spark: SparkSession, sfDir: String): DataFrame = {
    val sup = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val supply = Tables.lineitem(spark, sfDir)
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"),
        col("s_name"), col("s_acctbal"), col("n_name"))
      .agg(min(cents(col("l_extendedprice")).cast("long")).as("cost_cents"))
    val minCost = supply.groupBy(col("l_partkey"))
      .agg(min(col("cost_cents")).as("min_cents"))
    supply.join(minCost, Seq("l_partkey"))
      .filter(col("cost_cents") === col("min_cents"))
      .join(broadcast(Tables.part(spark, sfDir)
          .filter(col("p_type") === "LARGE" && col("p_size") <= 10)),
        col("l_partkey") === col("p_partkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("cost_cents"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q4 family (order priority checking): EXISTS over the fact
    * with a CORRELATED non-equi residual — here "some line shipped more
    * than 60 days after the order date" (stand-in for the missing
    * commit/receipt dates) — planned as a left-semi join on l_orderkey
    * with the date comparison as residual, then a 5-row aggregate.
    */
  def tpch4Q(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp_ntz"))
    val l = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q9 family (product-type profit): the part-name LIKE filter
    * shrinks part to a broadcast at its scan, supplier/nation broadcast,
    * and the only shuffle joins the filtered fact to orders for the
    * year. Profit uses p_retailprice·qty/10 as the supply-cost stand-in
    * (no ps_supplycost here), summed as exact decimal.
    */
  def tpch9Q(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.part(spark, sfDir)
          .filter(col("p_name").contains("red"))
          .select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(spark, sfDir)
          .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")) -
          col("p_retailprice") * col("l_quantity") * lit(0.1)).as("amount"))
      .groupBy(col("nation"), col("o_year"))
      .agg(decimalSum2(col("amount")).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)

  /** TPC-H Q11 family (important stock): group values filtered against
    * a FRACTION of the uncorrelated global total — the 1-row scalar
    * broadcasts as a nested-loop, and the comparison is exact-integer
    * (value_cents · 10000 > total_cents), so no float threshold can
    * straddle engines. Part "value" = Σ price-cents · qty over one
    * nation's suppliers.
    */
  def tpch11Q(spark: SparkSession, sfDir: String): DataFrame = {
    val supN = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir).filter(col("n_name") === "NATION_12")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val value = Tables.lineitem(spark, sfDir)
      .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice")).cast("long") *
        col("l_quantity").cast("long")).as("value_cents"))
    val total = value.agg(sum(col("value_cents")).as("total_cents"))
    value.crossJoin(broadcast(total))
      .filter(col("value_cents") * 10000L > col("total_cents"))
      .select(col("l_partkey"), col("value_cents"))
      .orderBy(col("value_cents").desc, col("l_partkey"))
  }

  /** TPC-H Q16 family (parts/supplier relationship): the distinct-count
    * aggregate behind dim exclusions — supplier pairs come from a
    * DISTINCT over the fact (the partsupp stand-in, one shuffle),
    * "complaint" suppliers (negative balance) leave via a broadcast
    * left-anti join, and the filtered part dim broadcasts.
    */
  def tpch16Q(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val p = Tables.part(spark, sfDir)
      .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 9, 17, 25, 33, 41, 49, 50))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val bad = Tables.supplier(spark, sfDir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    pairs.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** SemDeDup-style semantic dedup: k-means is the coarse quantizer
    * (3 Lloyd iterations, label-seeded), then same-cell pairs with
    * cosine ≥ 0.95 drop their larger id. Planted near-copies (every 5th
    * vector, first coordinate nudged) are the ground truth the stage
    * must catch; organically similar vectors may drop too — the oracle
    * replays the full pipeline either way.
    */
  def semdedupQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Similarity.asDouble(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("label"), col("embedding"))
    val planted = e.union(
      e.filter(col("vec_id") % 5 === 0).select(
        (col("vec_id") + 10000).as("vec_id"), col("label"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + 0.01).otherwise(x)).as("embedding")))
    Similarity.semanticDedup(planted, 3, 0.95)
      .orderBy(col("vec_id"))
  }

  /** Training-shard export stats: every doc hash-assigned to one of 16
    * shards (narrow, no shuffle — see Sampling.shardAssign), then one
    * aggregate proves the balance contract: per-shard docs, BPE-ish
    * tokens, and chars. The write itself (`partitionBy("shard")`) is
    * exercised in SamplingSpec; this query pins the assignment and the
    * stats both engines must agree on.
    */
  def exportShardsQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Sampling.shardAssign(Tables.documents(spark, sfDir), "doc_id", 16)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.bpeTokenCount(col("text"))).as("n_tokens"),
        sum(col("n_chars")).as("n_chars_total"))
      .orderBy(col("shard"))

  /** Vocabulary coverage (OOV rate) per language — the tokenizer-health
    * metric of a training pipeline: what fraction of token mass falls
    * outside the global top-200 vocabulary. ONE corpus pass builds the
    * (lang, token) tf table; the vocab is a 200-row TakeOrdered slice
    * of its token rollup (broadcast back); rates are exact integer ppm
    * (n_oov·1e6 div n_tokens) so no float ratio can straddle engines.
    */
  def oovRateQ(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = Tables.documents(spark, sfDir)
      .select(col("lang"), explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) >= 2)
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
    val vocab = tf.groupBy(col("token")).agg(sum(col("n")).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(200)
      .select(col("token"), lit(1L).as("in_vocab"))
    tf.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("n")).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm", expr("n_oov * 1000000 DIV n_tokens"))
      .orderBy(col("lang"))
  }

  /** Leave-one-source-out data valuation — "which ingest source would
    * the rest of the corpus least predict?" (the cheap proxy for
    * per-source training value every mixture tuner wants before an
    * ablation run): for every source, a Laplace-smoothed unigram LM is
    * trained on ALL OTHER sources and scores the held-out source's
    * token stream. NO per-source retrain: LOO counts are pure
    * subtraction (cnt_loo = total − own; N_loo = N − n_s), so ONE
    * corpus tokenize + one (source, token) aggregate + one broadcast
    * of the global totals yields all 20 models at once — the
    * train-on-complement trick that keeps data valuation linear at
    * 100 TB. Per-(source,token) NLL terms are e6-floored WITH their
    * count multiplier inside the floor (the [[mutualInfoQ]] ln
    * discipline), summed exactly, and divided by the source's token
    * mass. High nll = the source is out-of-distribution for the rest
    * of the corpus (novel or junk — the mixture planner decides).
    */
  def sourceLooQ(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) >= 2)
    // four consumers (pair table, global totals, scalar totals, source
    // masses) — materialize the vocab×sources aggregate ONCE or the
    // plan re-tokenizes the corpus per branch (PlanSpec-guarded)
    val st = tok.groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val gt = st.groupBy(col("token")).agg(sum(col("c")).as("tc"))
    val tot = st.groupBy()
      .agg(sum(col("c")).as("nn"), countDistinct(col("token")).as("vv"))
    val perSrc = st.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    st.join(gt, "token")
      .join(broadcast(perSrc), "source")
      .crossJoin(broadcast(tot))
      .withColumn("term_e6", floor(
        col("c") * log((col("nn") - col("ns") + col("vv")).cast("double")
          / (col("tc") - col("c") + 1L).cast("double")) * 1000000.0 + 0.5)
        .cast("long"))
      .groupBy(col("source"), col("ns"))
      .agg(count(lit(1)).as("n_types"), sum(col("term_e6")).as("num_e6"))
      .select(col("source"), col("ns").as("n_tokens"), col("n_types"),
        expr("num_e6 div ns").as("nll_e6"))
      .orderBy(col("source"))
  }

  // ------------------------------------------------- model-based selection

  /** CCNet-style perplexity filtering with a Stupid-Backoff bigram LM:
    * train a counting LM on the clean target slice (English docs),
    * score EVERY document's bigram stream against it, keep documents
    * whose exact-integer score clears the per-bigram threshold. The
    * model is vocabulary-sized, so scoring is a hashed-key shuffle
    * equi-join (the shape that survives a web-scale bigram table);
    * in-domain docs score far above out-of-domain ones, which mostly
    * take the `ln(0.4)+unigram` or unseen-default backoff arm.
    */
  def lmScoreQ(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val (uni, bi, totals) =
      graft.ops.LanguageModel.train(docs.filter(col("lang") === "en"), "text")
    graft.ops.LanguageModel.score(
        docs, uni, bi, totals, "doc_id", "text", carry = Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("score_micro"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** BPE merge training over the corpus word-type dictionary: the
    * first 8 learned merges with their weighted pair counts — the
    * tokenizer-vocabulary induction step, run distributed (see
    * [[graft.ops.Bpe]]; only the per-iteration argmax row reaches the
    * driver).
    */
  /** The 8-merge BPE model, session-memoized per sf — training runs 8
    * driver-argmax iterations over the type dictionary (the pqBooks
    * "non-pure builder" precedent: a racing loser re-trains but holds
    * no executor storage), and THREE queries consume the same model
    * (q_bpe_merges, q_bpe_encode, q_bpe_compression) — one training
    * instead of three.
    */
  private def bpeMerges8(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.SessionMemo(spark, ("bpe_merges8", sfDir)) {
      graft.ops.Bpe.train(Tables.documents(spark, sfDir), "text", 8)
        .localCheckpoint(true)
    }

  def bpeMergesQ(spark: SparkSession, sfDir: String): DataFrame =
    bpeMerges8(spark, sfDir).orderBy(col("merge_rank"))

  /** BPE encode: train the 8-merge model, then tokenize the corpus with
    * it — the merge list is collected (it IS the model; every tokenizer
    * ships its merges as a file), the TYPE dictionary is encoded once,
    * and per-document subword counts are a word-keyed join against the
    * type-sized table, so no document is ever re-encoded
    * per-occurrence.
    */
  /** The 8-merge-encoded word-TYPE dictionary (word, freq,
    * n_subwords), memoized per session: q_bpe_encode and
    * q_bpe_compression join the corpus against this exact table, so
    * each was re-running the identical 8-pass merge chain over the
    * symbol table ([[graft.ops.Bpe.encodeTypes]] is deterministic).
    */
  private val BpeCurveChecks = Seq(0, 2, 4, 6, 8)

  private def bpeEncTypes(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.SessionMemo(spark, ("bpe_enc_types", sfDir)) {
      val merges = bpeMerges8(spark, sfDir)
        .orderBy(col("merge_rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // ONE 8-pass chain serves the encoded dictionary AND q_bpe_curve's
      // per-prefix totals (5 scalar aggregates on the same persisted
      // states); the curve points ride a driver-local companion memo,
      // so the curve query never re-runs the merge chain
      val (types, pts) = graft.ops.Bpe.encodeTypesWithCurve(
        graft.ops.Bpe.wordTypes(Tables.documents(spark, sfDir), "text"),
        merges, BpeCurveChecks)
      import spark.implicits._
      graft.sources.SessionMemo(spark, ("bpe_curve_pts", sfDir)) {
        pts.map { case (k, n) => (k.toLong, n) }
          .toDF("k_merges", "n_subwords_total")
      }
      types.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** q_bpe_curve's (k, total-subwords) points — served by the
    * bpe_enc_types chain when that memo built first (the bench order);
    * the fallback builder runs [[graft.ops.Bpe.encodeCurve]] exactly as
    * the query used to (identical totals either way).
    */
  private def bpeCurvePts(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.SessionMemo(spark, ("bpe_curve_pts", sfDir)) {
      val merges = bpeMerges8(spark, sfDir)
        .orderBy(col("merge_rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val types = graft.ops.Bpe.wordTypes(Tables.documents(spark, sfDir), "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pts = graft.ops.Bpe.encodeCurve(types, merges, BpeCurveChecks)
      types.unpersist()
      import spark.implicits._
      pts.map { case (k, n) => (k.toLong, n) }
        .toDF("k_merges", "n_subwords_total")
    }

  def bpeEncodeQ(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val enc = bpeEncTypes(spark, sfDir)
    docs.select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .filter(length(col("word")) >= 1)
      .join(enc.select(col("word"), col("n_subwords")), "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_subwords")).as("n_subwords"))
      .orderBy(col("doc_id"))
  }

  /** DSIR-style data selection: English docs are the "target corpus",
    * everything else is the raw pool; each pool doc is scored by the
    * summed log-likelihood ratio of its hashed-unigram features under
    * add-1 target/raw bucket models, and the top 50 most target-like
    * docs are kept. Weight table ≤1024 rows (broadcast); scores are
    * exact integer micro-units, so the ranking can't flip on a float
    * boundary; top-k plans as TakeOrderedAndProject.
    */
  def dsirQ(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val w = graft.ops.Classify.dsirWeightTable(
      docs, col("lang") === "en", "text", "dsir:", 1024)
    graft.ops.Classify.dsirScore(
        docs.filter(col("lang") =!= "en"), w,
        "doc_id", "text", "dsir:", 1024, carry = Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(50)
  }

  /** Distributed Naive Bayes language classifier: train by counting on
    * the 80% hash-stable train split (doc_id % 5 ≠ 0), score the held
    * out 20%. Model = per-(label, bucket) micro-int likelihood deltas
    * (≤ 5·1024 rows, broadcast) + per-label prior/default scalars;
    * per-doc argmax is integer-exact with label-ascending ties. Output:
    * held-out doc, true lang, predicted lang, hit flag.
    */
  def nbClassifierQ(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val test = docs.filter(col("doc_id") % 5 === 0)
    val (model, labelStats) =
      graft.ops.Classify.nbTrain(train, "lang", "text", "nb:", 1024)
    graft.ops.Classify.nbPredict(
        test, model, labelStats, "doc_id", "text", "nb:", 1024,
        carry = Seq("lang"))
      .select(col("doc_id"), col("lang"), col("pred_label").as("pred_lang"),
        (col("lang") === col("pred_label")).as("hit"))
      .orderBy(col("doc_id"))
  }

  /** The binary en-vs-rest perceptron ("pcpt:", 64 buckets, 3 batch
    * passes) trained ONCE per session: nine queries (q_perceptron,
    * q_perceptron_avg, q_calibration, q_auc, q_brier, q_lift_gains,
    * q_kappa, q_mcc, q_data_map at passes 1-3) consume this exact
    * integer-deterministic model, so each was re-running the identical
    * training jobs — the [[graft.ops.Classify.perceptronTrainTrajectory]]
    * memo pays them once (the pq_books trained-codebook pattern).
    * `pass` 1-3 reads the snapshot after that pass; `averaged` the
    * Collins sum (pass-0 rows). Bit-identical to in-query training
    * because the batch update never looks ahead; the model frame stays
    * a driver-local relation, so every downstream broadcast join keeps
    * its JoinLint bounded-by-construction proof.
    */
  /** Hashed "pcpt:" bag-of-words count table (doc_id, lang, y, bucket,
    * n), doc_id-partitioned and persisted once per session: training
    * (the [[pcptModel]] trajectory, q_cross_val's folds) and every
    * binary-perceptron scoring pass read this ONE featurize pass —
    * each consumer was re-tokenizing the corpus. The carry columns are
    * functionally dependent on doc_id, so a consumer grouping by any
    * subset sees identical groups ([[graft.ops.Classify
    * .perceptronScoreOnCounts]]).
    */
  private def pcptCounts(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.SessionMemo(spark, ("pcpt_counts", sfDir)) {
      graft.ops.Classify.tokenBucketCounts(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"),
          col("text"), when(col("lang") === "en", 1L).otherwise(-1L).as("y")),
        "doc_id", "text", "pcpt:", 64, carry = Seq("lang", "y"))
        .repartition(col("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private def pcptModel(spark: SparkSession, sfDir: String, pass: Int,
      averaged: Boolean = false): (DataFrame, DataFrame) = {
    val traj = graft.sources.SessionMemo(spark, ("pcpt_traj", sfDir)) {
      graft.ops.Classify.perceptronTrainTrajectoryOnCounts(
        pcptCounts(spark, sfDir), 3)
    }
    val p = if (averaged) 0 else pass
    (traj.filter(col("pass") === p && col("bucket") >= 0)
       .select(col("bucket"), col("w")),
     traj.filter(col("pass") === p && col("bucket") === -1)
       .select(col("w").as("b")))
  }

  /** Batch-perceptron language discriminator
    * ([[graft.ops.Classify.perceptronTrain]]): y = +1 for English docs,
    * −1 otherwise; 3 exact-integer batch passes over 64 hashed buckets,
    * then every doc re-scored with the final weights. The oracle
    * replays TRAINING (all three unrolled passes), not just inference —
    * only possible because no float ever enters the update. Model from
    * the session-shared [[pcptModel]] trajectory memo.
    */
  def perceptronQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (w, b) = pcptModel(spark, sfDir, 3)
    graft.ops.Classify.perceptronScoreOnCounts(pcptCounts(spark, sfDir), w, b,
        "doc_id", Seq("lang", "y"), Seq("y"))
      .withColumn("hit", col("pred") === col("y"))
      .orderBy(col("doc_id"))
  }

  /** Score-calibration (reliability) table for the batch perceptron:
    * equal-WIDTH score bins — bucket = (score−min)·10 integer-divided
    * by the span — with per-bin population, positive-label count and
    * rate, and the bin's score range. Equal-width rather than ntile
    * deciles deliberately: a global ntile is a single-partition sort,
    * while min/max are broadcast scalars and the binning stays a scan
    * (integer arithmetic end to end; the one rounded division is the
    * rate). The table a threshold-picking or Platt-scaling step
    * consumes.
    */
  def calibrationQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (w, b) = pcptModel(spark, sfDir, 3)
    val scored = graft.ops.Classify.perceptronScoreOnCounts(
      pcptCounts(spark, sfDir), w, b, "doc_id", Seq("lang", "y"), Seq("y"))
    val mm = scored.agg(min(col("score")).as("mn"), max(col("score")).as("mx"))
    scored.crossJoin(broadcast(mm))
      .select(col("y"), col("score"),
        expr("(score - mn) * 10 div (mx - mn + 1)").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"),
        round(sum(when(col("y") === 1L, 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 6).as("pos_rate"),
        min(col("score")).as("score_lo"), max(col("score")).as("score_hi"))
      .orderBy(col("bucket"))
  }

  /** Averaged-perceptron variant (Collins 2002): the decision model is
    * the SUM of the post-pass weight vectors — the iters-scaled
    * average, which preserves every sign, margin ordering and tie while
    * keeping the model integral. The variance reduction every
    * production perceptron ships; same data, labels and training CTEs
    * as q_perceptron.
    */
  def perceptronAvgQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (w, b) = pcptModel(spark, sfDir, 3, averaged = true)
    graft.ops.Classify.perceptronScoreOnCounts(pcptCounts(spark, sfDir), w, b,
        "doc_id", Seq("lang", "y"), Seq("y"))
      .withColumn("hit", col("pred") === col("y"))
      .orderBy(col("doc_id"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
    * PageRank over the word co-occurrence graph — adjacent kept tokens
    * form an undirected edge (materialized as both directed edges),
    * weight = corpus-wide co-occurrence count. The graph nodes are
    * VOCABULARY, not documents, so the one data-sized pass is the
    * adjacency count (map-side-combinable groupBy); the 3 power
    * iterations then run on the vocab-bounded edge table via
    * [[graft.ops.Graph.pagerank]] with the same per-iteration 6dp
    * quantization as q_pagerank, making the DuckDB replay
    * bit-identical. Top-20 keywords by rank — the unsupervised
    * keyphrase primitive (PMI collocations rank PAIRS; this ranks
    * WORDS by graph centrality).
    */
  def textrankQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        posexplode(split(trim(lower(col("text"))), "\\s+")).as(Seq("pos", "token")))
      .filter(length(col("token")) >= 2)
    val pairs = toks
      .withColumn("nxt", lead(col("token"), 1).over(wd))
      .filter(col("nxt").isNotNull && col("token") =!= col("nxt"))
    val ed = pairs.select(col("token").as("src"), col("nxt").as("dst"))
      .union(pairs.select(col("nxt").as("src"), col("token").as("dst")))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).cast("double").as("w"))
    // Global top-20 over the VOCAB-sized rank table: orderBy+limit plans
    // as TakeOrderedAndProject (per-partition heaps + driver merge of 20
    // rows), never a single-partition window — the house rule at
    // TextOps.scala:233. The rank index is then derived by a window over
    // the 20 surviving rows only.
    val w = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("node")))
      .orderBy(col("pr").desc, col("node"))
    graft.ops.Graph.pagerank(ed, iters = 3)
      .orderBy(col("pr").desc, col("node"))
      .limit(20)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("rnk"), col("node").as("token"), col("pr"))
      .orderBy(col("rnk"))
  }

  /** PMI collocations ([[graft.ops.TextOps.collocations]]): top-40
    * adjacent word pairs by exact-integer PMI ratio with support ≥ 5 —
    * the phrase-mining table a tokenizer/vocab pipeline promotes into
    * multi-word units.
    */
  def collocationsQ(spark: SparkSession, sfDir: String): DataFrame =
    TextOps.collocations(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
      minCount = 5L, topK = 40)

  /** Per-source ADAPTIVE quality floor: each source stratum keeps docs
    * at or above its OWN median quality — the per-domain calibration a
    * single global threshold can't do (a clean source sails through, a
    * boilerplate-heavy one floods). The median is exact-integer
    * (2·percentile of micro6'd scores, the q_mad trick) so the keep
    * decision can never float-flip; the threshold table is
    * stratum-sized and broadcasts, the keep pass is one narrow filter.
    */
  /** One-vs-rest multi-class averaged perceptron
    * ([[graft.ops.Classify.perceptronTrainOvr]]): one binary trainer
    * per language over ONE persisted hashed-count table (2 integer
    * passes each, Collins-averaged), then every doc classified by
    * integer argmax. The oracle replays ALL five labels' TRAINING
    * unrolled — 10 weight tables of pure integer sums — then the same
    * argmax; possible only because no float ever enters the update.
    */
  /** The one-vs-rest language model ("povr:", 64 buckets, 2 averaged
    * passes per label) trained ONCE per session: q_perceptron_ovr,
    * q_label_noise and q_margin_sample consume this exact model
    * ([[graft.ops.Classify.perceptronTrainOvr]] is integer-
    * deterministic), so each was re-running the identical 5-label
    * training — the same trained-model memo pattern as [[pcptModel]].
    * Weights and biases ride ONE driver-local frame (bias at
    * bucket = −1), so downstream broadcast joins keep their JoinLint
    * bounded proofs.
    */
  /** Hashed "povr:" count table (doc_id, lang, source, bucket, n),
    * doc_id-partitioned and persisted once per session — the OvR
    * family's single featurize pass (training + all three scoring
    * passes), the [[pcptCounts]] twin.
    */
  private def povrCounts(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.SessionMemo(spark, ("povr_counts", sfDir)) {
      graft.ops.Classify.tokenBucketCounts(
        Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("lang"), col("source"), col("text")),
        "doc_id", "text", "povr:", 64, carry = Seq("lang", "source"))
        .repartition(col("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private def povrModel(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val m = graft.sources.SessionMemo(spark, ("povr_model", sfDir)) {
      val (w, b) = graft.ops.Classify.perceptronTrainOvrOnCounts(
        povrCounts(spark, sfDir).withColumnRenamed("lang", "label"),
        2, averaged = true)
      w.select(col("label"), col("bucket"), col("w"))
        .unionByName(b.select(col("label"), lit(-1L).as("bucket"),
          col("b").as("w")))
    }
    (m.filter(col("bucket") >= 0),
     m.filter(col("bucket") === -1).select(col("label"), col("w").as("b")))
  }

  def perceptronOvrQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (w, b) = povrModel(spark, sfDir)
    graft.ops.Classify.perceptronScoresOvrOnCounts(
        povrCounts(spark, sfDir), w, b, "doc_id", Seq("lang", "source"),
        Seq("lang"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(min(struct((-col("score")).as("neg"), col("_m_label"))).as("best"))
      .select(col("doc_id"), col("lang"), col("best._m_label").as("pred_label"))
      .select(col("doc_id"), col("lang"), col("pred_label").as("pred_lang"),
        (col("lang") === col("pred_label")).as("hit"))
      .orderBy(col("doc_id"))
  }

  /** Exact all-pairs similarity self-join ([[graft.ops.Dedup
    * .allPairsExact]], the AllPairs/PPJoin prefix-filter family) at
    * Jaccard ≥ 1/2 over the near-copy corpus — the EXACT-recall
    * complement of q_minhash_lsh: every qualifying pair is guaranteed
    * out (banding is probabilistic), and every filter on the way is
    * integer arithmetic on the rational threshold. Capped at 300 docs
    * only to keep the DuckDB replay cheap; the operator itself is the
    * corpus-scale path.
    */
  def allPairsExactQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.allPairsExact(docsWithNearCopies(spark, sfDir, Some(300)), 1, 2)
      .orderBy(col("doc_a"), col("doc_b"))

  def qualityFloorQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"),
      graft.ops.Classify.micro6(TextOps.qualityScore(col("text"))).as("q_micro"))
    val med = d.groupBy(col("source"))
      .agg(expr("cast(2 * percentile(q_micro, 0.5) as bigint)").as("m2"))
    d.join(broadcast(med), "source")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("m2")).as("median2_micro"),
        sum(when(lit(2) * col("q_micro") >= col("m2"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  // ------------------------------------------------ exact rank statistics

  /** Mann-Whitney U (Wilcoxon rank-sum), each event type vs the rest,
    * without a single float: ranks are midranks at 2× scale (ties →
    * 2·below + eq + 1, always an integer), accumulated over the VALUE
    * SUPPORT (distinct `value` rows — 2/3 of the data here thanks to
    * real ties), never per-observation. Since every "type vs rest"
    * union IS the full sample, one shared support walk serves all five
    * tests. 2·U = Σmidrank2 − n(n+1); the rank-biserial effect size
    * AUC = U/(n₁n₂) lands at 10⁻⁶ by integral division. The support
    * walk rides one ordered window (singleton_key keeps the spec
    * non-empty); at 100 TB the support is what you'd quantize first —
    * the walk itself is support-sized, not data-sized.
    */
  def mannWhitneyQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val pv = Tables.events(spark, sfDir)
      .groupBy(col("value").as("v"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val sup = pv.groupBy(col("v")).agg(sum(col("c")).as("ct"))
    val w = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("v")))
      .orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val walked = sup.withColumn("lt", coalesce(sum(col("ct")).over(w), lit(0L)))
    val per = pv.join(walked, "v")
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n"),
        sum((col("c") * (lit(2) * col("lt") + col("ct") + 1)).cast(d38)).as("r2"))
    val tot = per.groupBy().agg(sum(col("n")).as("total"))
    per.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n"),
        (col("r2") - col("n").cast(d38) * (col("n") + 1)).cast("long").as("u2"),
        expr("""cast((r2 - cast(n as decimal(38,0)) * (n + 1)) * 1000000
                div (cast(2 as decimal(38,0)) * n * (total - n)) as bigint)""")
          .as("auc_e6"))
      .orderBy(col("event_type"))
  }

  /** Spearman vs Pearson correlation of user activity (event count)
    * against user spend (exact summed cents) — the classic "is the
    * relationship monotone or linear?" diagnostic, bit-exact: Pearson
    * via the q_linreg sufficient-statistics discipline on the raw
    * integers, Spearman via the SAME formula on 2×-midranks (two
    * support walks over the count and cents supports — user-bounded,
    * never data-sized). Both ratios use the correctly-rounded
    * √·√-floor rule (q_assortativity), so Spark and DuckDB agree to
    * the last 10⁻⁶ digit.
    */
  def spearmanQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val u = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"), sum(cents(col("value")).cast("long")).as("y"))
    def midrank2(colName: String, out: String): DataFrame = {
      val sup = u.groupBy(col(colName).as("v")).agg(count(lit(1)).as("ct"))
      val w = Window.partitionBy(
          graft.functions.GraftFunctions.singleton_key(col("v")))
        .orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      sup.withColumn("lt", coalesce(sum(col("ct")).over(w), lit(0L)))
        .select(col("v"), (lit(2) * col("lt") + col("ct") + 1).as(out))
    }
    val ranked = u
      .join(midrank2("x", "rx2"), u("x") === col("v")).drop("v")
      .join(midrank2("y", "ry2"), u("y") === col("v")).drop("v")
    def corrE6(xc: String, yc: String): Column =
      expr(s"""(n * s_${xc}${yc} - s_$xc * s_$yc) * 1000000
               div cast(floor(sqrt(cast(n * s_${xc}$xc - s_$xc * s_$xc as double))
                            * sqrt(cast(n * s_${yc}$yc - s_$yc * s_$yc as double)))
                        as decimal(38,0))""")
    ranked.groupBy()
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("x").cast(d38)).as("s_x"), sum(col("y").cast(d38)).as("s_y"),
        sum((col("x") * col("y")).cast(d38)).as("s_xy"),
        sum((col("x") * col("x")).cast(d38)).as("s_xx"),
        sum((col("y") * col("y")).cast(d38)).as("s_yy"),
        sum(col("rx2").cast(d38)).as("s_a"), sum(col("ry2").cast(d38)).as("s_b"),
        sum((col("rx2") * col("ry2")).cast(d38)).as("s_ab"),
        sum((col("rx2") * col("rx2")).cast(d38)).as("s_aa"),
        sum((col("ry2") * col("ry2")).cast(d38)).as("s_bb"))
      .select(col("n").cast("long").as("n_users"),
        corrE6("x", "y").cast("long").as("pearson_e6"),
        corrE6("a", "b").cast("long").as("spearman_e6"))
  }

  /** Autocorrelation function of the daily event volume at lags 1–7 —
    * the seasonality fingerprint (a weekly cycle shows as a lag-7
    * bump). Fraction-free: with S = Σx over the n observed days, the
    * standard r_k = Σ(x_t−x̄)(x_{t+k}−x̄)/Σ(x_t−x̄)² is multiplied
    * through by n², making numerator and denominator exact integers;
    * the ratio lands at 10⁻⁶ by integral division. One tiny daily
    * aggregate, a 7-row broadcast lag spine, one equi-join of the
    * daily table to itself on d+lag — no window at all.
    */
  def acfQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = dailyCounts(spark, sfDir)
    val g = daily.groupBy().agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum((expr("cast(x as decimal(38,0))") * col("x"))).as("sxx"))
    val spine = broadcast(
      daily.sparkSession.range(1, 8).select(col("id").as("lag")))
    val a = daily.select(col("d"), col("x").as("xa"))
    val b = daily.select(col("d").as("db"), col("x").as("xb"))
    a.crossJoin(spine)
      .join(b, col("db") === col("d") + col("lag"))
      .crossJoin(broadcast(g))
      .select(col("lag"),
        ((col("n") * col("xa") - col("s")).cast(d38)
          * (col("n") * col("xb") - col("s")).cast(d38)).as("term"),
        col("n"), col("s"), col("sxx"))
      .groupBy(col("lag"), col("n"), col("s"), col("sxx"))
      .agg(sum(col("term")).as("num"))
      .select(col("lag"), col("n").as("n_days"),
        expr("""cast(num * 1000000 div cast(n as decimal(38,0))
                div (n * sxx - cast(s as decimal(38,0)) * s) as bigint)""")
          .as("acf_e6"))
      .orderBy(col("lag"))
  }

  /** CUSUM changepoint scan over the daily event volume: the running
    * sum of n-scaled deviations C_k = Σ_{t≤k}(n·x_t − S) is an exact
    * integer (clearing the mean's fraction by n), and the changepoint
    * estimate is argmax|C_k| — flagged per day so the whole
    * trajectory ships, not just the verdict. The cumulative walk is a
    * window over the DAY support (calendar-bounded); the peak is one
    * broadcast max joined back.
    */
  def cusumQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyCounts(spark, sfDir)
    val g = daily.groupBy().agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val w = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("d")))
      .orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val c = daily.crossJoin(broadcast(g))
      .withColumn("cusum_n", sum(col("n") * col("x") - col("s")).over(w))
    val peak = c.groupBy().agg(max(abs(col("cusum_n"))).as("peak_abs"))
    c.crossJoin(broadcast(peak))
      .select(col("d"), col("x"), col("cusum_n"),
        (abs(col("cusum_n")) === col("peak_abs")).as("is_changepoint"))
      .orderBy(col("d"))
  }

  /** 4-truss of the part-adjacency graph ([[graft.ops.Graph.kTruss]]):
    * iterative support peel until every surviving edge sits in ≥2
    * triangles — the cohesion filter one notch above q_kcore (a core
    * can be a sparse star-of-stars; a truss edge is in actual
    * triangles). Per-round support is the q_triangles wedge equi-join
    * shape; the oracle unrolls 8 materialized peel rounds (fixpoint
    * measured at ≤6 on this data, extra rounds are no-ops).
    */
  def kTrussQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Graph.kTruss(
        partAdjacencyEdges(spark, sfDir).select(col("src"), col("dst")), k = 4,
        und0 = Some(undEdges(spark, sfDir)),
        support0 = Some(wedgeSupport(spark, sfDir)))
      .orderBy(col("src"), col("dst"))

  /** BLEU-style modified n-gram precision (n = 1..4) of each planted
    * near-copy against its original — the generation-eval primitive
    * (clipped counts: a candidate gram only scores up to its reference
    * multiplicity, Papineni et al.'s fix for degenerate repetition).
    * Everything is integer: per-pair totals, clipped matches
    * (Σ min(c_cand, c_ref) over an equi-join on (pair, n, gram)), and
    * precision at 10⁻⁶ by integral division. Gram tables are
    * data-sized and every join is keyed — no all-pairs anywhere; the
    * 300-doc cap only bounds the DuckDB replay.
    */
  def bleuQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 300 && col("doc_id") % 5 === 0)
      .select(col("doc_id").as("pid"), col("text"))
    val cand = d.select(col("pid"),
      replace(col("text"), lit("data"), lit("info")).as("text"))
    def gramCounts(df: DataFrame): DataFrame = {
      val ws = df.select(col("pid"), TextOps.words(lower(col("text"))).as("ws"))
      ws.crossJoin(broadcast(
          df.sparkSession.range(1, 5).select(col("id").cast("int").as("n"))))
        .filter(size(col("ws")) >= col("n"))
        .select(col("pid"), col("n"), explode(expr(
          """transform(sequence(0, size(ws) - n),
             i -> array_join(slice(ws, cast(i + 1 as int), n), ' '))"""))
          .as("gram"))
        .groupBy(col("pid"), col("n"), col("gram"))
        .agg(count(lit(1)).as("c"))
    }
    val cc = gramCounts(cand)
    val rc = gramCounts(d).withColumnRenamed("c", "cr")
    val totals = cc.groupBy(col("pid"), col("n")).agg(sum(col("c")).as("total"))
    val matches = cc.join(rc, Seq("pid", "n", "gram"))
      .groupBy(col("pid"), col("n"))
      .agg(sum(least(col("c"), col("cr"))).as("m"))
    totals.join(matches, Seq("pid", "n"), "left")
      .select(col("pid").as("doc_id"), col("n"), col("total"),
        coalesce(col("m"), lit(0L)).as("matches"))
      .withColumn("prec_e6", expr("matches * 1000000 div total"))
      .orderBy(col("doc_id"), col("n"))
  }

  /** Item-item collaborative filtering over order baskets: cosine
    * similarity on co-occurrence counts c_ij/√(c_i·c_j), top-3
    * neighbors per part — the recommendation primitive q_assoc_rules'
    * support/confidence table doesn't give (cosine symmetrizes away
    * the popularity bias that inflates confidence toward frequent
    * items). Pair generation is basket-bounded (per-order self-join
    * of the DISTINCT part set, ~7 items → ≤21 pairs per order, never
    * corpus-quadratic); cosine at 10⁻⁶ via the correctly-rounded
    * √·√-floor rule so ranking ties break identically everywhere; the
    * top-3 window is keyed per item.
    */
  def itemCfQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val cnt = li.groupBy(col("pk")).agg(count(lit(1)).as("ci"))
    val a = li.select(col("ok"), col("pk").as("pa"))
    val b = li.select(col("ok"), col("pk").as("pb"))
    val co = a.join(b, "ok").filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= 3)
    val sym = co.union(co.select(col("pb").as("pa"), col("pa").as("pb"),
      col("n_co")))
    val scored = sym
      .join(cnt.select(col("pk").as("pa"), col("ci")), "pa")
      .join(cnt.select(col("pk").as("pb"), col("ci").as("cj")), "pb")
      .select(col("pa").as("item"), col("pb").as("neighbor"), col("n_co"),
        expr(s"""cast(cast(n_co as decimal(38,0)) * 1000000
                 div cast(floor(sqrt(cast(ci as double))
                              * sqrt(cast(cj as double))) as decimal(38,0))
                 as bigint)""").as("cos_e6"))
    val w = Window.partitionBy(col("item"))
      .orderBy(col("cos_e6").desc, col("neighbor"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .orderBy(col("item"), col("rnk"))
  }

  /** Term burstiness (Church–Gale): variance-to-mean ratio of a
    * term's per-document count across the WHOLE corpus (absent docs
    * count as zero — handled in closed form, no scaffold join:
    * Σc and Σc² only need present docs, N comes from one broadcast
    * scalar). Fano factor = (N·Σc² − S²) / ((N−1)·S) cleared of
    * fractions at 10⁻⁶; a bursty term (topical) scores ≫ 1, a
    * function word ≈ 1 — the feature separating keywords from glue.
    * Scope: top-30 terms by corpus frequency via orderBy+limit —
    * `TakeOrderedAndProject`, a per-partition heap then a 30-row merge
    * on the driver. NOT a singleton-key ranking window: the stats
    * table is VOCAB-sized (10⁷–10⁸ distinct tokens at 100 TB), and
    * vocab-bounded is not bounded (TextOps.scala house rule).
    */
  def burstinessQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val n = docs.groupBy().agg(count(lit(1)).as("nn"))
    val tc = docs
      .select(col("doc_id"), explode(TextOps.words(lower(col("text")))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val stats = tc.groupBy(col("tok"))
      .agg(count(lit(1)).as("n_docs"), sum(col("c")).as("s"),
        sum((col("c") * col("c")).cast(d38)).as("q"))
    stats.orderBy(col("s").desc, col("tok")).limit(30)
      .crossJoin(broadcast(n))
      .select(col("tok"), col("n_docs"), col("s").as("total"),
        expr("""cast((nn * q - cast(s as decimal(38,0)) * s) * 1000000
                div cast(nn - 1 as decimal(38,0)) div s as bigint)""")
          .as("vmr_e6"))
      .orderBy(col("tok"))
  }

  /** Isotonic regression (PAVA) of purchase rate against the value
    * bucket — the calibration-curve smoother q_calibration's raw
    * reliability bins feed into. Uses the exact max-min water-filling
    * identity fitted(k) = max_{i≤k} min_{j≥k} rate(i..j) on
    * 10⁻⁹-truncated interval rates: the max-min structure guarantees
    * monotonicity for ANY rate table, so truncation cannot break the
    * isotonic contract, and both engines truncate identically. All
    * interval work is on the BUCKET support (≤21 buckets → ≤231
    * intervals, ≤1.8k (i,k,j) triples — domain-bounded, never
    * data-sized); the data pass is one groupBy.
    */
  def isotonicQ(spark: SparkSession, sfDir: String): DataFrame = {
    val bk = Tables.events(spark, sfDir)
      .select(floor(col("value") / 5).cast("long").as("b"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      .groupBy(col("b")).agg(count(lit(1)).as("n"), sum(col("y")).as("k"))
    val i = bk.select(col("b").as("bi"))
    val j = bk.select(col("b").as("bj"))
    val spans = i.crossJoin(j).filter(col("bi") <= col("bj"))
      .join(bk, col("b").between(col("bi"), col("bj")))
      .groupBy(col("bi"), col("bj"))
      .agg(expr("cast(sum(k) as decimal(38,0)) * 1000000000 div sum(n)")
        .as("r_e9"))
    val mins = spans
      .join(bk.select(col("b").as("kk")),
        col("bi") <= col("kk") && col("kk") <= col("bj"))
      .groupBy(col("kk"), col("bi")).agg(min(col("r_e9")).as("m"))
    val fit = mins.groupBy(col("kk")).agg(max(col("m")).as("fitted_e9"))
    bk.join(fit, col("b") === col("kk")).drop("kk")
      .select(col("b").as("bucket"), col("n"), col("k"),
        expr("cast(k as decimal(38,0)) * 1000000000 div n").as("raw_e9"),
        col("fitted_e9"))
      .orderBy(col("bucket"))
  }

  /** Kaplan-Meier-style life table of user lifetime (days from first
    * to last event), with right-censoring: a user still active in the
    * final 3 days of the window hasn't churned — their lifetime is a
    * lower bound, and the at-risk denominator is the only honest place
    * it can count. Per duration t: d (churned at t), c (censored at
    * t), at-risk n = Σ_{s≥t}(d+c) via one descending cumulative over
    * the DURATION support (calendar-bounded), hazard d/n at 10⁻⁶
    * exactly. The per-user reduce is one groupBy; no per-user window
    * anywhere.
    */
  def lifeTableQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byT = survivalByT(spark, sfDir, "d_churn", "c_cens")
    val w = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("t")))
      .orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    byT.withColumn("n_risk", sum(col("d_churn") + col("c_cens")).over(w))
      .select(col("t"), col("n_risk"), col("d_churn"), col("c_cens"),
        expr("d_churn * 1000000 div n_risk").as("hazard_e6"))
      .orderBy(col("t"))
  }

  /** Per-user lifetimes for the survival family: `u` = (user_id, first
    * day f, last day l) over `events`, with `md` = the last observed
    * day; a user whose last day is within 2 of it is censored.
    */
  private def survivalUsers(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    val u = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"))
      .groupBy(col("user_id")).agg(min(col("d")).as("f"), max(col("d")).as("l"))
    (u, u.groupBy().agg(max(col("l")).as("maxd")))
  }

  /** Churn and censor counts per lifetime t (duration support), named
    * `dName` and `cName`.
    */
  private def survivalByT(spark: SparkSession, sfDir: String,
      dName: String, cName: String): DataFrame = {
    val (u, md) = survivalUsers(spark, sfDir)
    u.crossJoin(broadcast(md))
      .select((col("l") - col("f")).as("t"),
        (col("l") >= col("maxd") - 2).as("cens"))
      .groupBy(col("t"))
      .agg(sum(when(!col("cens"), 1L).otherwise(0L)).as(dName),
        sum(when(col("cens"), 1L).otherwise(0L)).as(cName))
  }

  /** The Kaplan-Meier-family fold input: one row with `arr` = the
    * t-sorted (t, dd, cc) support and `total` = the user count.
    */
  private def survivalArr(spark: SparkSession, sfDir: String): DataFrame =
    survivalByT(spark, sfDir, "dd", "cc")
      .groupBy()
      .agg(sort_array(collect_list(struct(col("t"), col("dd"), col("cc"))))
        .as("arr"))
      .select(col("arr"),
        expr("aggregate(arr, 0L, (a, e) -> a + e.dd + e.cc)").as("total"))

  /** The two-arm (even/odd user) event-time walk shared by [[logrankQ]]
    * and [[coxQ]]: per event time t with deaths (d1 + d2 > 0), each
    * arm's deaths d1/d2, censored c1/c2, and at-risk-before counts via
    * the time-support running sums cl1/cl2 against arm totals t1/t2.
    */
  private def armEventTimes(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (u, md) = survivalUsers(spark, sfDir)
    val per = u.crossJoin(broadcast(md))
      .select((col("user_id") % 2).as("g"), (col("l") - col("f")).as("t"),
        (col("l") >= col("maxd") - 2).as("cens"))
    val sup = per.groupBy(col("t"))
      .agg(sum(when(col("g") === 0 && !col("cens"), 1L).otherwise(0L)).as("d1"),
        sum(when(col("g") === 0 && col("cens"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("g") === 1 && !col("cens"), 1L).otherwise(0L)).as("d2"),
        sum(when(col("g") === 1 && col("cens"), 1L).otherwise(0L)).as("c2"))
    val w = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("t")))
      .orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val walked = sup
      .withColumn("cl1", coalesce(sum(col("d1") + col("c1")).over(w), lit(0L)))
      .withColumn("cl2", coalesce(sum(col("d2") + col("c2")).over(w), lit(0L)))
    val tot = sup.groupBy()
      .agg(sum(col("d1") + col("c1")).as("t1"), sum(col("d2") + col("c2")).as("t2"))
    walked.crossJoin(broadcast(tot))
      .filter(col("d1") + col("d2") > 0)
  }

  /** Deterministic Poisson-ish bootstrap of mean event value: 32
    * resample replicates in ONE scan, each row's replicate weight
    * w ∈ {0,1,2,3} drawn by arithmetic hash (the q_neg_sample device —
    * thresholds 368/736/920 per mille ≈ Poisson(1) pmf), so both
    * engines materialize byte-identical resamples with no RNG state.
    * This is how you put a confidence band on a pipeline metric at
    * 100 TB: the 32× explode map-side-combines straight down to 32
    * partial rows per partition — scan-like, no reshuffle of the data.
    */
  def bootstrapQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    Tables.events(spark, sfDir)
      .select(col("event_id"), cents(col("value")).cast("long").as("vc"))
      .select(col("event_id"), col("vc"),
        explode(expr("sequence(1, 32)")).as("b"))
      .withColumn("h", expr("(event_id * 1000003 + b * 7919 + b) % 1000"))
      .withColumn("w",
        when(col("h") < 368, 0L).when(col("h") < 736, 1L)
          .when(col("h") < 920, 2L).otherwise(3L))
      .groupBy(col("b"))
      .agg(sum(col("w")).as("n_eff"),
        sum((col("w") * col("vc")).cast(d38)).as("sum_c"))
      .select(col("b").cast("long").as("b"), col("n_eff"),
        col("sum_c").cast("long").as("sum_cents"),
        expr("cast(sum_c * 1000000 div n_eff as bigint)").as("mean_c_e6"))
      .orderBy(col("b"))
  }

  /** Two-proportion A/B test on high-value user conversion (≥1
    * purchase of $200+; a bare any-purchase metric saturates at 100%
    * on this data and degenerates the statistic), with the variant
    * assigned by arithmetic hash of user_id — and the entire z²
    * statistic kept rational: z² = (k₁n₂−k₂n₁)²·N / (n₁n₂K(N−K))
    * lands at 10⁻⁶ by one chained truncating division (compare to
    * 3.84·10⁶ for p<0.05). Lift vs control ships at 10⁻⁶ too.
    * Degenerate margins (zero conversions, or total saturation) yield
    * NULL via nullif instead of aborting the job — the guard both
    * engines agree on. One per-user reduce, one 2-group conditional
    * aggregate, one row out — the experiment readout with no float
    * anywhere.
    */
  def abTestQ(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
          cents(col("value")).cast("long") >= 20000L, 1L).otherwise(0L))
        .as("conv"))
      .withColumn("v", expr("(user_id * 1000003 + 12345) % 97 % 2"))
      .groupBy()
      .agg(
        sum(when(col("v") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("v") === 0, col("conv")).otherwise(0L)).as("k_a"),
        sum(when(col("v") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("v") === 1, col("conv")).otherwise(0L)).as("k_b"))
      .select(col("n_a"), col("k_a"),
        expr("k_a * 1000000 div n_a").as("rate_a_e6"),
        col("n_b"), col("k_b"),
        expr("k_b * 1000000 div n_b").as("rate_b_e6"),
        expr("(k_b * n_a - k_a * n_b) * 1000000 div nullif(k_a * n_b, 0)")
          .as("lift_e6"),
        expr("""cast(cast(k_a * n_b - k_b * n_a as decimal(38,0))
                * (k_a * n_b - k_b * n_a) * (n_a + n_b) * 1000000
                div cast(n_a as decimal(38,0)) div n_b
                div nullif(k_a + k_b, 0)
                div nullif(n_a + n_b - k_a - k_b, 0) as bigint)""")
          .as("z2_e6"))
  }

  /** Chi-square independence test of the lang × source contingency
    * table, fraction-free per cell: with row margin r, column margin
    * c and total N, the cell contribution (o−rc/N)²/(rc/N) is cleared
    * to (N·o − r·c)²·10⁶ div (N·r·c) — exact integers end to end
    * (decimal(38,0): the square alone reaches 10¹⁶ at this SF).
    * Zero cells matter (they contribute rc/N), so the full margin
    * cross scaffold (|lang|×|source|, domain-bounded) is left-joined
    * against the observed counts. Per-cell expected counts at 10⁻⁶
    * ship alongside — the standardized-residual table an analyst
    * actually reads.
    */
  def chi2IndepQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val o = Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
    val r = o.groupBy(col("lang")).agg(sum(col("o")).as("r"))
    val cm = o.groupBy(col("source")).agg(sum(col("o")).as("c"))
    val n = o.groupBy().agg(sum(col("o")).as("nn"))
    broadcast(r).crossJoin(broadcast(cm)).crossJoin(broadcast(n))
      .join(o, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), coalesce(col("o"), lit(0L)).as("o"),
        col("r"), col("c"), col("nn"))
      .select(col("lang"), col("source"), col("o"),
        expr("cast(r * c as decimal(38,0)) * 1000000 div nn").cast("long")
          .as("expected_e6"),
        expr("""cast((nn * o - r * c) as decimal(38,0))
                * (nn * o - r * c) * 1000000
                div cast(nn as decimal(38,0)) div (r * c)""").cast("long")
          .as("cell_chi2_e6"))
      .orderBy(col("lang"), col("source"))
  }

  /** EWMA control chart over the daily event volume, α = 1/8 kept
    * EXACT in integers: s_t = s_{t−1} + (10⁶·x_t − s_{t−1}) div 8 —
    * both engines truncate toward zero, so the whole trajectory is
    * bit-identical with no float anywhere (the classic α·x+(1−α)·s
    * recurrence in that fixed-point form). The recurrence is folded by
    * ONE `aggregate` HOF over the sorted day array — the day support
    * is calendar-bounded (≈30 rows), so collecting it to a single row
    * is model-sized, not data-sized; the data-sized work is the one
    * partial-aggregated daily count scan. Residual vs the running
    * smooth ships per day — the drift readout.
    */
  def ewmaQ(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyCounts(spark, sfDir)
    daily
      .groupBy()
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("arr"))
      .select(explode(expr(
        """aggregate(arr,
          |  cast(array() as array<struct<d:bigint,x:bigint,s:bigint>>),
          |  (acc, e) -> array_append(acc, named_struct('d', e.d, 'x', e.x,
          |    's', case when size(acc) = 0 then e.x * 1000000L
          |         else element_at(acc, -1).s
          |              + (e.x * 1000000L - element_at(acc, -1).s) div 8L
          |    end)))""".stripMargin)).as("r"))
      .select(col("r.d").as("d"), col("r.x").as("x"),
        col("r.s").as("ewma_e6"),
        (col("r.x") * 1000000L - col("r.s")).as("resid_e6"))
      .orderBy(col("d"))
  }

  /** Deequ-style data-quality audit of lineitem in three bounded
    * passes: every ROW-level constraint (quantity range, discount
    * range, flag/status domain, tax completeness) rides ONE conditional
    * aggregate over a single scan; uniqueness of the
    * (orderkey, linenumber, partkey) candidate key is one distinct
    * count; referential integrity of l_orderkey → orders is one
    * broadcast-able anti-join count. Metrics ship as exact 10⁻⁶
    * fractions with a boolean verdict per check — the readout a
    * 100 TB ingest gate actually consumes (constraint rows, not a
    * per-record dump).
    */
  def dqChecksQ(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val row = li.groupBy().agg(
      count(lit(1)).as("n"),
      sum(when(col("l_quantity").between(1, 50), 1L).otherwise(0L)).as("c_qty"),
      sum(when(cents(col("l_discount")).cast("long").between(0L, 10L), 1L)
        .otherwise(0L)).as("c_disc"),
      sum(when(col("l_returnflag").isin("A", "N", "R") &&
          col("l_linestatus").isin("F", "O"), 1L).otherwise(0L)).as("c_flag"),
      sum(when(col("l_tax").isNotNull, 1L).otherwise(0L)).as("c_tax"))
    val uniq = li.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .distinct().groupBy().agg(count(lit(1)).as("u"))
    val orphan = li.select(col("l_orderkey"))
      .join(Tables.orders(spark, sfDir).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .groupBy().agg(count(lit(1)).as("orph"))
    row.crossJoin(broadcast(uniq)).crossJoin(broadcast(orphan))
      .select(expr(
        """stack(6,
          |  'quantity_in_1_50',   c_qty * 1000000 div n,   c_qty = n,
          |  'discount_in_0_10pct', c_disc * 1000000 div n,  c_disc = n,
          |  'flag_status_domain', c_flag * 1000000 div n,   c_flag = n,
          |  'tax_complete',       c_tax * 1000000 div n,    c_tax = n,
          |  'key_unique',         u * 1000000 div n,        u = n,
          |  'orderkey_resolves',  (n - orph) * 1000000 div n, orph = 0L)
          |  as (chk, metric_e6, pass)""".stripMargin))
      .orderBy(col("chk"))
  }

  /** Count-Min sketch of the corpus token stream (4 rows × 1024
    * counters, portable-hash columns), probed for the top-20 exact
    * terms: estimate = min over the 4 rows, always ≥ the true count
    * (the CMS overcount guarantee — asserted as a shipped boolean).
    * The sketch build is a groupBy over (row, col): 4096 cells of
    * partial-mergeable sums, the shape that unions across 100 TB of
    * shards for free; probes join the 4096-cell sketch broadcast to a
    * top-k-sized candidate list. All integers; both engines replay the
    * identical md5-fold hash.
    */
  def cmsTopkQ(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.GraftFunctions.portable_hash48
    val toks = Tables.documents(spark, sfDir)
      .select(explode(TextOps.words(lower(col("text")))).as("term"))
      .filter(length(col("term")) > 0)
    val rows = broadcast(
      toks.sparkSession.range(0, 4).select(col("id").as("r")))
    val sketch = toks.crossJoin(rows)
      .select(col("r"),
        pmod(portable_hash48(
          concat(lit("cms"), col("r"), lit(":"), col("term"))), lit(1024L))
          .as("c"))
      .groupBy(col("r"), col("c")).agg(count(lit(1)).as("cnt"))
    val top = toks.groupBy(col("term")).agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("term")).limit(20)
    broadcast(top).crossJoin(rows)
      .select(col("term"), col("exact"), col("r"),
        pmod(portable_hash48(
          concat(lit("cms"), col("r"), lit(":"), col("term"))), lit(1024L))
          .as("c"))
      .join(sketch, Seq("r", "c"))
      .groupBy(col("term"), col("exact"))
      .agg(min(col("cnt")).as("cms_est"))
      .select(col("term"), col("exact"), col("cms_est"),
        (col("cms_est") >= col("exact")).as("never_under"))
      .orderBy(col("exact").desc, col("term"))
  }

  /** [[adjPairs]] edges (a, b) with both endpoints' part brands (ba,
    * bb) — the community readouts [[modularityQ]] and [[conductanceQ]]
    * score brands as communities over this table.
    */
  private def brandEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = adjPairs(spark, sfDir)
    val brand = Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_brand"))
    raw
      .join(broadcast(brand.select(col("p_partkey").as("a"),
        col("p_brand").as("ba"))), "a")
      .join(broadcast(brand.select(col("p_partkey").as("b"),
        col("p_brand").as("bb"))), "b")
  }

  /** Newman modularity of the p_brand partition over the undirected
    * part-adjacency graph, fraction-free per community: with m
    * undirected edges, intra-community edge count e_c and community
    * degree sum d_c, the contribution e_c/m − (d_c/2m)² clears to
    * (4·m·e_c − d_c²)·10⁶ div (4m²) — exact integers end to end
    * (decimal(38,0) headroom for d_c²·10⁶). One edge dedup, two
    * broadcast-able brand lookups, two bounded aggregates: the
    * partition-quality score that tells you whether a community
    * assignment beats the configuration-model baseline, at one scan
    * of the edge list.
    */
  def modularityQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = brandEdges(spark, sfDir)
    val m = e.groupBy().agg(count(lit(1)).as("m"))
    val ec = e.filter(col("ba") === col("bb"))
      .groupBy(col("ba").as("brand")).agg(count(lit(1)).as("e_c"))
    val dc = e.select(col("ba").as("brand"))
      .union(e.select(col("bb").as("brand")))
      .groupBy(col("brand")).agg(count(lit(1)).as("d_c"))
    dc.join(ec, Seq("brand"), "left")
      .select(col("brand"), coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"))
      .crossJoin(broadcast(m))
      .select(col("brand"), col("e_c"), col("d_c"),
        expr("""cast((4 * m * e_c - cast(d_c as decimal(38,0)) * d_c)
                * 1000000 div (4 * cast(m as decimal(38,0)) * m) as bigint)""")
          .as("contrib_e6"))
      .orderBy(col("brand"))
  }

  /** Rich-club coefficient sweep of the part-adjacency graph: for each
    * degree threshold k, the edge density among nodes of degree > k —
    * φ(k) = 2·E_k·10⁶ div (N_k·(N_k−1)), exact integers, NULL when
    * the club has fewer than two members. One degree pass, one
    * per-edge min-endpoint-degree join (both on node keys), and a
    * 4-row broadcast threshold spine folding everything into two
    * conditional aggregates — a whole connectivity profile at one
    * scan of the edge list, no per-k recomputation.
    */
  def richClubQ(spark: SparkSession, sfDir: String): DataFrame = {
    val und = adjPairs(spark, sfDir)
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val spine = broadcast(und.sparkSession.range(1, 5)
      .select(expr("cast(pow(2, id) as bigint)").as("k")))
    val nk = deg.crossJoin(spine)
      .groupBy(col("k"))
      .agg(sum(when(col("deg") > col("k"), 1L).otherwise(0L)).as("n_k"))
    val ek = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(least(col("da"), col("db")).as("mindeg"))
      .crossJoin(spine)
      .groupBy(col("k"))
      .agg(sum(when(col("mindeg") > col("k"), 1L).otherwise(0L)).as("e_k"))
    nk.join(ek, "k")
      .select(col("k"), col("n_k"), col("e_k"),
        expr("2 * e_k * 1000000 div nullif(n_k * (n_k - 1), 0)")
          .as("phi_e6"))
      .orderBy(col("k"))
  }

  /** Holt double-exponential smoothing of the daily event volume
    * (α = 1/8, β = 1/4), the EWMA's trend-aware sibling, kept exact in
    * fixed point: l_t = (l+b) + (10⁶x_t − l − b) div 8, then
    * b_t = b + (l_t − l − b) div 4 — truncation is identical on both
    * engines, so level, trend and the one-step-ahead forecast are all
    * bit-exact integers. Same scale shape as [[ewmaQ]]: the only
    * data-sized work is the partial-aggregated daily count; the fold
    * runs once over the calendar-bounded day array.
    */
  def holtQ(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyCounts(spark, sfDir)
    daily
      .groupBy()
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("arr"))
      .select(explode(expr(
        """aggregate(arr,
          |  cast(array() as array<struct<d:bigint,x:bigint,l:bigint,b:bigint>>),
          |  (acc, e) -> array_append(acc,
          |    case when size(acc) = 0
          |      then named_struct('d', e.d, 'x', e.x, 'l', e.x * 1000000L,
          |                        'b', 0L)
          |      else named_struct('d', e.d, 'x', e.x,
          |        'l', element_at(acc, -1).l + element_at(acc, -1).b
          |          + (e.x * 1000000L - element_at(acc, -1).l
          |             - element_at(acc, -1).b) div 8L,
          |        'b', element_at(acc, -1).b
          |          + (element_at(acc, -1).l + element_at(acc, -1).b
          |             + (e.x * 1000000L - element_at(acc, -1).l
          |                - element_at(acc, -1).b) div 8L
          |             - element_at(acc, -1).l - element_at(acc, -1).b)
          |            div 4L)
          |    end))""".stripMargin)).as("r"))
      .select(col("r.d").as("d"), col("r.x").as("x"),
        col("r.l").as("level_e6"), col("r.b").as("trend_e6"),
        (col("r.l") + col("r.b")).as("forecast_next_e6"))
      .orderBy(col("d"))
  }

  /** Additive Holt-Winters (triple exponential smoothing) of the daily
    * event volume with a day-of-week season (period 7), α = 1/8,
    * β = γ = 1/4 — [[holtQ]]'s seasonal sibling, the workhorse for
    * traffic with a weekly rhythm. Same exact fixed-point discipline:
    * cold start l₀ = 10⁶x₁, b₀ = 0, all seasonals 0 (they converge
    * within a few periods), then per day with k = d mod 7:
    * l' = (l+b) + (10⁶x − s_k − l − b) div 8,
    * b' = b + (l' − l − b) div 4,
    * s_k' = s_k + (10⁶x − l' − s_k) div 4;
    * forecast = l' + b' + s_{(d+1) mod 7}. Every state component is a
    * truncated integer, so the whole trajectory — including the
    * 7-slot seasonal vector — is bit-exact on both engines. Scale
    * shape unchanged from [[holtQ]]: one partial-aggregated daily
    * count, then a calendar-bounded fold.
    */
  def holtWintersQ(spark: SparkSession, sfDir: String): DataFrame = {
    val prev = "element_at(acc, -1)"
    val sk = s"element_at($prev.ss, cast(e.d % 7 as int) + 1)"
    val lNew = s"$prev.l + $prev.b + (e.x * 1000000L - $sk - $prev.l - $prev.b) div 8L"
    val bNew = s"$prev.b + (($lNew) - $prev.l - $prev.b) div 4L"
    val skNew = s"$sk + (e.x * 1000000L - ($lNew) - $sk) div 4L"
    val ssNew = s"transform($prev.ss, (v, i) -> " +
      s"case when i = cast(e.d % 7 as int) then $skNew else v end)"
    val fold =
      s"""aggregate(arr,
         |  cast(array() as array<struct<d:bigint,x:bigint,l:bigint,b:bigint,ss:array<bigint>>>),
         |  (acc, e) -> array_append(acc,
         |    case when size(acc) = 0
         |      then named_struct('d', e.d, 'x', e.x, 'l', e.x * 1000000L,
         |                        'b', 0L, 'ss', array_repeat(0L, 7))
         |      else named_struct('d', e.d, 'x', e.x,
         |        'l', $lNew,
         |        'b', $bNew,
         |        'ss', $ssNew)
         |    end))""".stripMargin
    val daily = dailyCounts(spark, sfDir)
    daily
      .groupBy()
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("arr"))
      .select(explode(expr(fold)).as("r"))
      .select(col("r.d").as("d"), col("r.x").as("x"),
        (col("r.d") % 7).as("season"),
        col("r.l").as("level_e6"), col("r.b").as("trend_e6"),
        element_at(col("r.ss"), ((col("r.d") % 7) + 1).cast("int"))
          .as("seasonal_e6"),
        (col("r.l") + col("r.b") +
          element_at(col("r.ss"), (((col("r.d") + 1) % 7) + 1).cast("int")))
          .as("forecast_next_e6"))
      .orderBy(col("d"))
  }

  /** ROC AUC of the batch perceptron's English discriminator, exact:
    * AUC is the Mann-Whitney statistic of the score ranking —
    * Σ midrank₂ over positives (midranks at 2× scale so ties stay
    * integral), then AUC·10⁶ = (Σmidrank₂ − n₊(n₊+1))·10⁶ div
    * (2·n₊·n₋). The walk rides the SCORE SUPPORT (distinct integer
    * scores), not per-document rows, and training itself is replayed
    * by the oracle — only possible because no float ever enters the
    * update or the ranking. The threshold-free twin of
    * [[calibrationQ]]'s reliability table.
    */
  def aucQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (wm, b) = pcptModel(spark, sfDir, 3)
    val fs = graft.ops.Classify.perceptronScoreOnCounts(
        pcptCounts(spark, sfDir), wm, b, "doc_id", Seq("lang", "y"), Seq("y"))
      .select(col("y"), col("score"))
    val sup = fs.groupBy(col("score").as("s"))
      .agg(count(lit(1)).as("ct"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("pos"))
    val w = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("s")))
      .orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    sup.withColumn("below", coalesce(sum(col("ct")).over(w), lit(0L)))
      .groupBy()
      .agg(sum(col("pos")).as("n_pos"),
        sum(col("ct") - col("pos")).as("n_neg"),
        sum(col("pos") * (lit(2L) * col("below") + col("ct") + lit(1L)))
          .as("rank2_pos"))
      .select(col("n_pos"), col("n_neg"),
        expr("""(rank2_pos - n_pos * (n_pos + 1)) * 1000000
                div (2 * n_pos * n_neg)""").as("auc_e6"))
  }

  /** Kaplan-Meier product-limit survival curve over user lifetimes
    * (duration = last − first active day, censored in the final 3
    * days — the [[lifeTableQ]] contract), kept exact in fixed point:
    * S ← S·(n−d) div n per duration step, starting at 10⁶ — the
    * truncating product both engines replay identically, so the whole
    * curve is bit-exact. At-risk counts fall out of the SAME fold
    * (carry n, subtract deaths+censored per step), so there is no
    * window at all: one per-user reduce, one duration-support
    * aggregate, one bounded fold.
    */
  def kaplanMeierQ(spark: SparkSession, sfDir: String): DataFrame = {
    survivalArr(spark, sfDir)
      .select(explode(expr(
        """aggregate(arr,
          |  named_struct('n', total, 's', 1000000L,
          |    'out', cast(array() as array<struct<t:bigint,n_risk:bigint,
          |                                        d:bigint,surv_e6:bigint>>)),
          |  (acc, e) -> named_struct(
          |    'n', acc.n - e.dd - e.cc,
          |    's', acc.s * (acc.n - e.dd) div acc.n,
          |    'out', array_append(acc.out, named_struct(
          |      't', e.t, 'n_risk', acc.n, 'd', e.dd,
          |      'surv_e6', acc.s * (acc.n - e.dd) div acc.n))),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.t").as("t"), col("r.n_risk").as("n_risk"),
        col("r.d").as("d_churn"), col("r.surv_e6").as("surv_e6"))
      .orderBy(col("t"))
  }

  /** Mann-Kendall trend test + Sen's slope on the daily event volume:
    * S = Σ_{i<j} sgn(x_j − x_i) over all day pairs (calendar², tiny),
    * and the Sen estimator is the exact median of the pairwise slopes
    * (x_j−x_i)·10⁶ div (d_j−d_i), shipped at 2× scale so the
    * even-count midpoint stays an integer (the q_mad device). The
    * one data-sized pass is the daily count; the pair join is
    * support × support. The nonparametric "is volume trending"
    * readout that CUSUM's changepoint scan doesn't give.
    */
  def mannKendallQ(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyCounts(spark, sfDir)
    val a = daily.select(col("d").as("da"), col("x").as("xa"))
    val b = daily.select(col("d").as("db"), col("x").as("xb"))
    val pairs = broadcast(a).join(b, col("da") < col("db"))
      .select(signum(col("xb") - col("xa")).cast("long").as("sgn"),
        expr("(xb - xa) * 1000000 div (db - da)").as("slope_e6"))
    pairs.groupBy()
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("sgn")).as("s_stat"),
        expr("cast(2 * percentile(slope_e6, 0.5) as bigint)")
          .as("sen2_slope_e6"))
  }

  /** Benjamini-Yekutieli step-up correction over the per-event-type
    * permutation p-values — completes the multiple-testing family
    * ([[fdrBhQ]] assumes independence or PRDS; BY controls FDR under
    * ARBITRARY dependence by paying the harmonic factor
    * c(m) = Σ 1/i): the same 200-round permutation machinery and
    * rank self-join, c(m) as an exact floor-sum of 10⁶/i over the
    * ranked rows, and k* = max rank with p·m·c(m) ≤ rank·α. Shipping
    * BH and BY side by side shows exactly which discoveries survive
    * dropping the independence assumption.
    */
  def benjaminiYekutieliQ(spark: SparkSession, sfDir: String): DataFrame = {
    val p = eventPermCounts(spark, sfDir)
      .select(col("event_type"), col("obs_e3"),
        expr("1000000 * (1 + n_ge) div 201").as("p_e6"))
    val ranked = rankByP(p)
    val mc = ranked.groupBy()
      .agg(count(lit(1)).as("m"), sum(expr("1000000 div rnk")).as("cm_e6"))
    val rc = ranked.crossJoin(broadcast(mc))
    val kBh = rc.filter(col("p_e6") * col("m") <= col("rnk") * 50000L)
      .groupBy().agg(coalesce(max(col("rnk")), lit(0L)).as("k_bh"))
    val kBy = rc.filter(
        col("p_e6") * col("m") * col("cm_e6") <= col("rnk") * 50000L * 1000000L)
      .groupBy().agg(coalesce(max(col("rnk")), lit(0L)).as("k_by"))
    rc.crossJoin(broadcast(kBh)).crossJoin(broadcast(kBy))
      .select(col("event_type"), col("obs_e3"), col("p_e6"), col("rnk"),
        col("m"), col("cm_e6"),
        (col("rnk") <= col("k_bh")).as("reject_bh"),
        (col("rnk") <= col("k_by")).as("reject_by"))
      .orderBy(col("event_type"))
  }

  /** Minimum-detectable-effect planning grid for the purchase-rate
    * A/B — the inverse of [[sampleSizeQ]]'s "how many users" question:
    * given n per arm, the smallest absolute lift a standard 80%-power
    * two-proportion test could certify, MDE = (z_{α/2}+z_β)·√(2p̂q̂/n)
    * with the SAME 2.801585 constant the sample-size plan uses, p̂ the
    * exact purchase share, one IEEE sqrt per grid row floored at e6.
    * One events aggregate; the grid is 4 literal rows.
    */
  def mdeQ(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.events(spark, sfDir)
      .groupBy()
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("k"))
      .select(col("n_events"), col("k"),
        expr("k * 1000000 div n_events").as("p_base_e6"))
    val grid = base.sparkSession.range(0, 4)
      .select(expr("element_at(array(1000L, 5000L, 10000L, 50000L), cast(id + 1 as int))")
        .as("n_per_arm"))
    broadcast(base).crossJoin(grid)
      .select(col("n_per_arm"), col("p_base_e6"),
        expr("""cast(floor(2.801585 * sqrt(2.0 * (cast(k as double) / n_events)
               * (1.0 - cast(k as double) / n_events) / n_per_arm)
               * 1000000.0) as bigint)""").as("mde_abs_e6"))
      .select(col("n_per_arm"), col("p_base_e6"), col("mde_abs_e6"),
        expr("mde_abs_e6 * 1000000 div p_base_e6").as("mde_rel_e6"))
      .orderBy(col("n_per_arm"))
  }

  /** Price/volume/mix revenue decomposition between the two calendar
    * halves, per part brand — the FP&A waterfall that answers "did
    * revenue move because prices moved or because volume moved":
    * Δrev_b = (r1 − ⌊r0·q1/q0⌋) [price, Paasche-weighted]
    *        + (⌊r0·q1/q0⌋ − r0) [volume at base price], an EXACT
    * integer identity per brand by construction (both terms share the
    * single floored cross term, so price + volume = Δ to the cent).
    * One lineitem scan split at the ship-date midpoint, a broadcast
    * part-brand dim join, 25 brand rows out.
    */
  def mixShiftQ(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), expr("unix_date(cast(l_shipdate as date))").as("d"),
        round(col("l_quantity"), 0).cast("long").as("qty"),
        cents(col("l_extendedprice")).cast("long").as("rev"))
    val mid = li.groupBy().agg(expr("(min(d) + max(d)) div 2").as("mid"))
    val brand = Tables.part(spark, sfDir)
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    li.crossJoin(broadcast(mid))
      .join(broadcast(brand), "l_partkey")
      .groupBy(col("p_brand"))
      .agg(sum(when(col("d") <= col("mid"), col("qty")).otherwise(0L)).as("q0"),
        sum(when(col("d") > col("mid"), col("qty")).otherwise(0L)).as("q1"),
        sum(when(col("d") <= col("mid"), col("rev")).otherwise(0L)).as("r0"),
        sum(when(col("d") > col("mid"), col("rev")).otherwise(0L)).as("r1"))
      .select(col("p_brand"), col("q0"), col("q1"), col("r0"), col("r1"),
        (col("r1") - col("r0")).as("delta_rev"),
        expr("""r1 - cast(cast(r0 as decimal(38,0)) * q1 div nullif(q0, 0) as bigint)""")
          .as("price_effect"),
        expr("""cast(cast(r0 as decimal(38,0)) * q1 div nullif(q0, 0) as bigint) - r0""")
          .as("volume_effect"))
      .orderBy(col("p_brand"))
  }

  /** Daily growth accounting — every active user bucketed as NEW
    * (first-ever day), RETAINED (active yesterday too), or
    * RESURRECTED (active before, idle yesterday), with CHURNED =
    * yesterday's actives who went quiet today, the identity
    * dau_t = new + retained + resurrected and
    * dau_t − dau_{t−1} = new + resurrected − churned holding exactly
    * (the product-growth ledger behind every "where did the DAU move
    * come from" review): one (user, day) distinct, a per-user lag
    * window for yesterday/first-day flags, and a day-keyed rollup —
    * scales in |events| with the window keyed by user, never
    * singleton.
    */
  def growthAccountingQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val flags = ud
      .withColumn("prev", lag(col("d"), 1).over(w))
      .withColumn("nxt", lead(col("d"), 1).over(w))
      .select(col("d"),
        when(col("prev").isNull, "new")
          .when(col("prev") === col("d") - 1, "retained")
          .otherwise("resurrected").as("state"),
        // churned tomorrow: active today, not active on d+1
        (col("nxt").isNull || col("nxt") > col("d") + 1).as("quiet_next"))
    flags.groupBy(col("d"))
      .agg(count(lit(1)).as("dau"),
        sum(when(col("state") === "new", 1L).otherwise(0L)).as("new_users"),
        sum(when(col("state") === "retained", 1L).otherwise(0L)).as("retained"),
        sum(when(col("state") === "resurrected", 1L).otherwise(0L))
          .as("resurrected"),
        sum(when(col("quiet_next"), 1L).otherwise(0L)).as("churning_out"))
      .select(col("d").as("day"), col("dau"), col("new_users"), col("retained"),
        col("resurrected"), col("churning_out"))
      .orderBy(col("day"))
  }

  /** Interaction-matrix readiness audit for recommender training —
    * the density/cold-start numbers that decide whether collaborative
    * filtering is even fit to train ([[slopeOneQ]]/[[itemCfQ]] assume
    * co-rater mass exists): the (user, event_type) interaction
    * matrix's exact density against its full user×item grid, the
    * cold-start shares (users and items with < 3 interactions), and
    * the Gini-style top-decile interaction concentration — all from
    * one distinct-pair aggregate plus support-bounded rollups.
    */
  def interactionCoverageQ(spark: SparkSession, sfDir: String): DataFrame = {
    val r = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val users = r.groupBy(col("user_id")).agg(count(lit(1)).as("n_items"),
      sum(col("n")).as("n_inter"))
    val items = r.groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
    val uStats = users.groupBy()
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("n_inter") < 3, 1L).otherwise(0L)).as("cold_users"),
        sum(col("n_inter")).as("total_inter"))
    val iStats = items.groupBy()
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("n_users") < 3, 1L).otherwise(0L)).as("cold_items"))
    val cells = r.groupBy().agg(count(lit(1)).as("n_cells"))
    // top-decile user concentration: smallest per-user interaction
    // count q90 via the exact support walk, then the share above it
    val sup = users.groupBy(col("n_inter")).agg(count(lit(1)).as("c"))
    val q90 = sup.as("x").join(sup.as("y"), col("y.n_inter") <= col("x.n_inter"))
      .groupBy(col("x.n_inter").as("v")).agg(sum(col("y.c")).as("cum"))
      .crossJoin(broadcast(uStats.select(col("n_users").as("nu"))))
      .filter(col("cum") * 10 >= col("nu") * 9)
      .groupBy().agg(min(col("v")).as("q90"))
    val topShare = users.crossJoin(broadcast(q90))
      .groupBy().agg(sum(when(col("n_inter") >= col("q90"), col("n_inter"))
        .otherwise(0L)).as("top_inter"))
    uStats.crossJoin(broadcast(iStats)).crossJoin(broadcast(cells))
      .crossJoin(broadcast(topShare))
      .select(col("n_users"), col("n_items"), col("n_cells"), col("total_inter"),
        expr("n_cells * 1000000 div (n_users * n_items)").as("density_e6"),
        expr("cold_users * 1000000 div n_users").as("cold_user_share_e6"),
        expr("cold_items * 1000000 div n_items").as("cold_item_share_e6"),
        expr("top_inter * 1000000 div total_inter").as("top_decile_share_e6"))
  }

  /** Lognormal moment fit of the per-doc token-length distribution —
    * the two-parameter model every batch planner / packing simulation
    * ([[packFfdQ]], [[lengthBucketsQ]]) wants as a closed form: per
    * source, μ and σ² of ln(token count) from e6-floored per-row logs
    * (one log per doc, the [[mutualInfoQ]] discipline) with exact
    * integer sums, the model median e^μ floored at e6 next to the
    * EXACT empirical median (support walk) — the gap IS the fit
    * diagnostic. One tokenize scan, one per-source moment aggregate,
    * a support-bounded median walk.
    */
  def lengthLognormalQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val d = Tables.documents(spark, sfDir)
      .select(col("source"), TextOps.bpeTokenCount(col("text")).as("n"))
      .filter(col("n") >= 1)
      .withColumn("ln_e6",
        floor(log(col("n").cast("double")) * 1000000.0 + 0.5).cast("long"))
    val mom = d.groupBy(col("source"))
      .agg(count(lit(1)).as("nd"), sum(col("ln_e6")).as("s1"),
        sum(expr(s"cast(ln_e6 as $d38) * ln_e6")).as("s2"))
      .select(col("source"), col("nd"),
        expr("s1 div nd").as("mu_e6"),
        expr("cast((nd * s2 - cast(s1 as decimal(38,0)) * s1) div (cast(nd as decimal(38,0)) * nd) as bigint)")
          .as("sigma2_e12"))
    // exact median via a per-source cumulative window over the length
    // support (keyed by source, never singleton) — a support² pair
    // walk here went 6×/decade in the x100 soak because near-dup
    // replicas widen the distinct-length support
    val wcum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val sup = d.groupBy(col("source"), col("n")).agg(count(lit(1)).as("c"))
    val med = sup.withColumn("cum", sum(col("c")).over(wcum))
      .join(mom.select(col("source"), col("nd")), "source")
      .filter(col("cum") * 2 >= col("nd"))
      .groupBy(col("source")).agg(min(col("n")).as("median_tokens"))
    mom.join(med, "source")
      .select(col("source"), col("nd").as("n_docs"), col("mu_e6"),
        col("sigma2_e12"), col("median_tokens"),
        floor(exp(col("mu_e6").cast("double") / 1000000.0) * 1000000.0)
          .cast("long").as("model_median_e6"),
        expr("""cast(abs(cast(floor(exp(cast(mu_e6 as double) / 1000000.0)
               * 1000000.0) as bigint) - median_tokens * 1000000) * 1000000
               div (median_tokens * 1000000) as bigint)""")
          .as("median_gap_rel_e6"))
      .orderBy(col("source"))
  }

  /** Wilson score intervals for each event type's post-midpoint share
    * — the binomial CI that stays honest at extreme rates and small n
    * (the Wald interval every naive dashboard ships collapses to
    * zero width at p̂ ∈ {0,1}): per type, k = events after the
    * calendar midpoint out of n, exact integer rate, and the Wilson
    * 95% bounds from the closed form with z = 1.959964 — the single
    * sqrt is IEEE-exact, every other factor is the same literal text
    * on both engines, one e6 floor per bound. One events scan into a
    * type-bounded aggregate.
    */
  def wilsonCiQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("d"))
    val mid = ev.groupBy().agg(expr("(min(d) + max(d)) div 2").as("mid"))
    ev.crossJoin(broadcast(mid))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("d") > col("mid"), 1L).otherwise(0L)).as("k"))
      .select(col("event_type"), col("n"), col("k"),
        expr("k * 1000000 div n").as("rate_e6"),
        expr("""cast(floor(((k + 1.9207295) - 1.959964
               * sqrt(cast(k as double) * (n - k) / n + 0.96036475))
               / (n + 3.841459) * 1000000.0) as bigint)""").as("wilson_lo_e6"),
        expr("""cast(floor(((k + 1.9207295) + 1.959964
               * sqrt(cast(k as double) * (n - k) / n + 0.96036475))
               / (n + 3.841459) * 1000000.0) as bigint)""").as("wilson_hi_e6"))
      .orderBy(col("event_type"))
  }

  /** Seasonal (Hirsch-Slack) Mann-Kendall trend test on the daily
    * volume — [[mannKendallQ]] computed WITHIN each weekday and
    * summed, so a strong day-of-week cycle can no longer masquerade
    * as (or mask) a monotone trend: per weekday the pairwise sign
    * statistic S_k over its own day pairs (calendar²-bounded), the
    * no-ties variance Σ n_k(n_k−1)(2n_k+5)/18 carried ×18 as an exact
    * integer, continuity-corrected z floored once at e6 (the IEEE
    * sqrt is the only non-integer op). One daily aggregate; all pair
    * work on the ≤⌈days/7⌉² weekday supports.
    */
  def seasonalMkQ(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyCounts(spark, sfDir)
      .withColumn("dow", col("d") % 7)
    val a = daily.select(col("dow"), col("d").as("da"), col("x").as("xa"))
    val b = daily.select(col("dow"), col("d").as("db"), col("x").as("xb"))
    val perDow = broadcast(a).join(b, Seq("dow"))
      .filter(col("da") < col("db"))
      .groupBy(col("dow"))
      .agg(sum(signum(col("xb") - col("xa")).cast("long")).as("s_k"))
    val nk = daily.groupBy(col("dow")).agg(count(lit(1)).as("n_k"))
    perDow.join(nk, "dow")
      .groupBy()
      .agg(sum(col("n_k")).as("n_days"), count(lit(1)).as("n_seasons"),
        sum(col("s_k")).as("s_seasonal"),
        sum(col("n_k") * (col("n_k") - 1) * (col("n_k") * 2 + 5)).as("var_x18"))
      .select(col("n_days"), col("n_seasons"), col("s_seasonal"), col("var_x18"),
        expr("""cast(floor(case when s_seasonal > 0 then (s_seasonal - 1)
               else case when s_seasonal < 0 then (s_seasonal + 1) else 0 end end
               / sqrt(cast(var_x18 as double) / 18.0) * 1000000.0) as bigint)""")
          .as("z_e6"))
  }

  /** BM25 (k1, b) hyperparameter sweep with a retrieval-quality
    * readout per grid cell — the tuning loop behind every production
    * [[bm25Q]] deployment, run as ONE plan: the same memoized one-pass
    * per-doc term table, scored under all 6 (k1 ∈ {0.6, 1.2, 1.8} ×
    * b ∈ {0.25, 0.75}) settings via a 6-row broadcast grid,
    * rank-windowed PER CELL (the window key is the grid — inputs are
    * the match-bearing docs only, a shortlist), and judged against the
    * deterministic relevance "doc matches ≥2 of the 3 query terms":
    * hits@5, the first relevant rank (MRR's atom), and the relevant
    * pool size, all exact integers.
    */
  def bm25SweepQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (stats, tf, dfreq) = bm25Terms(spark, sfDir)
    val grid = broadcast(tf.sparkSession.range(0, 6)
      .select(expr("element_at(array(60L, 60L, 120L, 120L, 180L, 180L), cast(id + 1 as int))")
        .as("k1_e2"),
        expr("element_at(array(25L, 75L, 25L, 75L, 25L, 75L), cast(id + 1 as int))")
        .as("b_e2")))
    val scored = tf.join(broadcast(dfreq), "token")
      .crossJoin(broadcast(stats)).crossJoin(grid)
      .withColumn("s", expr(
        """ln(1 + (n_docs - df + 0.5) / (df + 0.5))
          | * (tf * (k1_e2 / 100.0 + 1) / (tf + k1_e2 / 100.0
          |   * (1 - b_e2 / 100.0 + b_e2 / 100.0 * dl / avgdl)))""".stripMargin))
      .groupBy(col("k1_e2"), col("b_e2"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), round(sum(col("s")), 6).as("score"))
    val w = Window.partitionBy(col("k1_e2"), col("b_e2"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w))
      .withColumn("rel", (col("n_terms") >= 2).cast("long"))
      .groupBy(col("k1_e2"), col("b_e2"))
      .agg(count(lit(1)).as("n_ranked"),
        sum(when(col("rnk") <= 5, col("rel")).otherwise(0L)).as("hits_at5"),
        min(when(col("rel") === 1L, col("rnk"))).cast("long").as("first_rel_rank"),
        sum(col("rel")).as("n_rel"))
      .orderBy(col("k1_e2"), col("b_e2"))
  }

  /** Benford first-digit audit of l_extendedprice (in cents — spans
    * several decades, the precondition for Benford), fraction-free:
    * the digit comes from the integer's decimal string (no float
    * log10), expected counts use the canonical log10(1+1/d)
    * probabilities as shared 10⁻⁶ constants, and each digit's χ²
    * contribution is (obs₆−exp₆)² div exp₆ on count·10⁶ scale —
    * exact integers end to end. One conditional aggregate over one
    * scan; 9 rows out. The fraud/synthetic-data smell test for any
    * money column at 100 TB.
    */
  def benfordQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val obs = Tables.lineitem(spark, sfDir)
      .select(cents(col("l_extendedprice")).cast("long").as("c"))
      .select(substring(col("c").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("obs"))
    val probs = broadcast(obs.sparkSession.range(1, 10)
      .select(col("id").as("digit"),
        element_at(
          typedLit(Seq(301030L, 176091L, 124939L, 96910L, 79181L,
            66947L, 57992L, 51153L, 45757L)),
          col("id").cast("int")).as("p_e6")))
    val n = obs.groupBy().agg(sum(col("obs")).as("n"))
    probs.join(obs, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("obs"), lit(0L)).as("obs"),
        col("p_e6"))
      .crossJoin(broadcast(n))
      .select(col("digit"), col("obs"),
        (col("n") * col("p_e6")).as("exp_e6"),
        expr("""cast((obs * 1000000 - cast(n as decimal(38,0)) * p_e6)
                * (obs * 1000000 - cast(n as decimal(38,0)) * p_e6)
                div (cast(n as decimal(38,0)) * p_e6) as bigint)""")
          .as("cell_chi2_e6"))
      .orderBy(col("digit"))
  }

  /** Cohort lifetime value: cumulative purchase revenue per
    * (first-active-week cohort, week offset), per cohort member at
    * 10⁻⁶ cents — [[Queries.retentionQ]]'s revenue twin. Weekly
    * revenue cells aggregate in one keyed pass (user cohorts joined
    * on user_id, co-partitioned); the cumulative walk runs over the
    * calendar²-bounded cell table partitioned BY COHORT — a real
    * partition spec, no global window anywhere.
    */
  def cohortLtvQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("wk"),
        when(col("event_type") === "purchase",
          cents(col("value")).cast("long")).otherwise(0L).as("rev_c"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("c0"))
    val size = cohort.groupBy(col("c0").as("cohort"))
      .agg(count(lit(1)).as("cohort_size"))
    val cell = ev.join(cohort, "user_id")
      .groupBy(col("c0").as("cohort"), (col("wk") - col("c0")).as("offset"))
      .agg(sum(col("rev_c")).as("rev_cents"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("offset"))
      .rowsBetween(Window.unboundedPreceding, 0)
    cell.join(broadcast(size), "cohort")
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
      .select(col("cohort"), col("offset"), col("rev_cents"),
        col("cum_rev_cents"), col("cohort_size"),
        expr("cum_rev_cents * 1000000 div cohort_size")
          .as("cum_rev_per_user_e6"))
      .orderBy(col("cohort"), col("offset"))
  }

  /** Sequential pattern support: every ADJACENT event-type trigram in
    * each user's time-ordered stream (ties broken by event_id — the
    * deterministic-order discipline), with occurrence and distinct-user
    * support, top 20. One keyed window (partition BY USER — state is
    * per-user-sized), one aggregate; the top-k plans as
    * TakeOrderedAndProject. [[Queries.funnelQ]] asks "did B follow A
    * for this fixed pattern"; this mines which patterns are frequent
    * at all — the other half of behavioral sequence analysis.
    */
  def seqMiningQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("b", lead(col("event_type"), 1).over(w))
      .withColumn("c", lead(col("event_type"), 2).over(w))
      .filter(col("b").isNotNull && col("c").isNotNull)
      .groupBy(col("event_type").as("t1"), col("b").as("t2"), col("c").as("t3"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_occ").desc, col("t1"), col("t2"), col("t3"))
      .limit(20)
  }

  /** Stationary distribution of the event-type Markov chain: adjacent
    * transition counts (one keyed window pass — the data-sized work),
    * row-normalized at 10⁻⁶, then 10 power-iteration steps computed on
    * the DRIVER over the 5×5 matrix (the kmeans discipline: data
    * distributed, model-sized state rides the driver) in exact integer
    * arithmetic — p′_j = (Σ_i p_i·t₆(i,j)) div 10⁶, truncating, so the
    * oracle replays every step bit-identically. Where the user's
    * long-run attention lands, from a transition table any SF fits in
    * a broadcast.
    */
  def markovStationaryQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val trans = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("i"), col("nxt").as("j"))
      .agg(count(lit(1)).as("c"))
    val rowTot = trans.groupBy(col("i")).agg(sum(col("c")).as("r"))
    val t6 = trans.join(rowTot, "i")
      .select(col("i"), col("j"), expr("c * 1000000 div r").as("t_e6"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val states = t6.keys.flatMap { case (i, j) => Seq(i, j) }.toSeq
      .distinct.sorted
    var p: Map[String, Long] =
      states.map(_ -> 1000000L / states.size).toMap
    for (_ <- 1 to 10) {
      p = states.map { j =>
        j -> states.map(i => p(i) * t6.getOrElse((i, j), 0L)).sum / 1000000L
      }.toMap
    }
    val spark2 = spark
    import spark2.implicits._
    states.map(s => (s, p(s))).toDF("event_type", "stationary_e6")
      .orderBy(col("event_type"))
  }

  /** CUPED variance reduction for the A/B readout ([[abTestQ]]'s
    * third leg, after the SRM guard): per user, X = pre-period
    * purchase cents (first half of the calendar), Y = post-period
    * purchase cents; θ = cov(X,Y)/var(X) from one sufficient-stats
    * aggregate, carried at 10⁻⁶ by a single truncating division of
    * exact decimal sums; the adjusted metric Ŷ = Y·10⁶ − θ₆·(X − X̄)
    * stays integral (X̄ cleared by n-scaling: n·Ŷ = n·Y·10⁶ −
    * θ₆·(n·X − S_x)). Ships per-variant adjusted means and the
    * adjusted lift — the variance-reduced readout, bit-exact. Two
    * scans (user reduce, stats) plus one broadcast-scalar pass.
    */
  def cupedQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("d"),
        when(col("event_type") === "purchase",
          cents(col("value")).cast("long")).otherwise(0L).as("rc"))
    val mid = ev.groupBy().agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(expr("(lo + hi) div 2").as("mid"))
    val u = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(sum(when(col("d") < col("mid"), col("rc")).otherwise(0L)).as("x"),
        sum(when(col("d") >= col("mid"), col("rc")).otherwise(0L)).as("y"))
      .withColumn("v", expr("(user_id * 1000003 + 12345) % 97 % 2"))
    val st = u.groupBy().agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum((col("x").cast(d38) * col("x"))).as("sxx"),
      sum((col("x").cast(d38) * col("y"))).as("sxy"))
    val theta = st.select(col("n"), col("sx"), col("sy"),
      expr("""cast((n * sxy - cast(sx as decimal(38,0)) * sy) * 1000000
              div nullif(n * sxx - cast(sx as decimal(38,0)) * sx, 0) as bigint)""")
        .as("theta_e6"))
    u.crossJoin(broadcast(theta))
      .select(col("v"), col("n"), col("theta_e6"),
        (col("n").cast(d38) * col("y") * 1000000L -
          col("theta_e6").cast(d38) * (col("n") * col("x") - col("sx")))
          .as("nyadj_e6"))
      .groupBy(col("v"), col("n"), col("theta_e6"))
      .agg(count(lit(1)).as("n_users"), sum(col("nyadj_e6")).as("s"))
      .select(col("v"), col("n_users"), col("theta_e6"),
        expr("cast(s div n div n_users as bigint)").as("adj_mean_e6"))
      .orderBy(col("v"))
  }

  /** Quantile treatment effect for the A/B assignment: exact
    * per-variant medians of user purchase totals (cents, 2× scale so
    * the even-count midpoint stays an integer — the q_mad device) and
    * their difference. The distribution-shift readout mean-based
    * [[abTestQ]] can't see; one user reduce + two tiny aggregates.
    */
  def qteQ(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .select(col("user_id"),
        when(col("event_type") === "purchase",
          cents(col("value")).cast("long")).otherwise(0L).as("rc"))
      .groupBy(col("user_id")).agg(sum(col("rc")).as("spend"))
      .withColumn("v", expr("(user_id * 1000003 + 12345) % 97 % 2"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n_users"),
        expr("cast(2 * percentile(spend, 0.5) as bigint)").as("med2_cents"))
      .orderBy(col("v"))
  }

  /** Per-node local clustering coefficient over the part-adjacency
    * graph: node triangle count falls out of the edge-support table
    * (the q_triangles/ktruss wedge equi-join) — each triangle at v
    * contributes 2 to the summed support of v's incident edges, so
    * t(v) = Σ s / 2 and the coefficient is Σs·10⁶ div (deg(deg−1)),
    * exact. One wedge pass, one degree pass, one keyed sum; top 50 by
    * coefficient (min-degree 3 to keep the readout meaningful). The
    * per-node texture q_triangles' single global count can't see.
    */
  /** Symmetrized, self-loop-free, dedup'd part-adjacency edge set —
    * memoized per session: q_ktruss, q_clustering_coef and
    * q_transitivity all start from this exact table, so it
    * materializes once.
    */
  private def undEdges(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.SessionMemo(spark, ("und_edges", sfDir)) {
      val e = partAdjacencyEdges(spark, sfDir)
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** [[undEdges]] re-partitioned by src and persisted — the iterative
    * BFS-family layout (per-round joins and degree aggregates reuse
    * the src hash partitioning): the shared round-0 edge table for
    * q_bfs, q_betweenness, q_kcore and the [[bfs10Distances]] memo
    * build, each of which was re-running the same symmetrize +
    * distinct + repartition.
    */
  private def undSrcEdges(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.SessionMemo(spark, ("und_src", sfDir)) {
      undEdges(spark, sfDir).repartition(col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Canonical (a < b) distinct pair view of [[undEdges]] (identical
    * set: the symmetrized table holds both orientations of every pair,
    * so the a < b half IS distinct(least, greatest)), memoized —
    * q_modularity, q_conductance, q_richclub and q_matching all start
    * from this exact table, and each was re-running the |E| distinct.
    */
  private def adjPairs(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.SessionMemo(spark, ("adj_pairs", sfDir)) {
      undEdges(spark, sfDir).filter(col("src") < col("dst"))
        .select(col("src").as("a"), col("dst").as("b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Edge triangle-support table (oriented (a,b) with a<b, s = common
    * neighbors) over [[undEdges]] — the wedge equi-join is the single
    * most expensive graph pass here, and THREE queries need exactly
    * this table (ktruss round 1, clustering coefficient, transitivity),
    * so it's computed once per session and shared.
    */
  private def wedgeSupport(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.SessionMemo(spark, ("wedge_support", sfDir)) {
      val und = undEdges(spark, sfDir)
      und.filter(col("src") < col("dst"))
        .select(col("src").as("a"), col("dst").as("b"))
        .join(und.select(col("src").as("a"), col("dst").as("w1")), "a")
        .join(und.select(col("src").as("b"), col("dst").as("w2")), "b")
        .filter(col("w1") === col("w2"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("s"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  def clusteringCoefQ(spark: SparkSession, sfDir: String): DataFrame = {
    val und = undEdges(spark, sfDir)
    val sup = wedgeSupport(spark, sfDir)
    val nodeSup = sup.select(col("a").as("node"), col("s"))
      .union(sup.select(col("b").as("node"), col("s")))
      .groupBy(col("node")).agg(sum(col("s")).as("s2"))
    val deg = und.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 3)
      .join(nodeSup, Seq("node"), "left")
      .select(col("node"), col("deg"),
        expr("coalesce(s2, 0L) div 2").as("triangles"),
        expr("coalesce(s2, 0L) * 1000000 div (deg * (deg - 1))")
          .as("coef_e6"))
      .orderBy(col("coef_e6").desc, col("node"))
      .limit(50)
  }

  /** Conductance of each p_brand community over the part-adjacency
    * graph — [[modularityQ]]'s cut-quality twin: φ(S) = cut(S, S̄)·10⁶
    * div min(vol S, vol S̄), all from the same brand-tagged edge pass
    * (cut = endpoints in different brands, vol = summed degree). The
    * low-conductance communities are the ones a partitioner could
    * actually isolate; one edge scan, two bounded aggregates.
    */
  def conductanceQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = brandEdges(spark, sfDir)
    val m = e.groupBy().agg(count(lit(1)).as("m"))
    val cut = e.filter(col("ba") =!= col("bb"))
      .select(col("ba").as("brand"))
      .union(e.filter(col("ba") =!= col("bb")).select(col("bb").as("brand")))
      .groupBy(col("brand")).agg(count(lit(1)).as("cut"))
    val vol = e.select(col("ba").as("brand"))
      .union(e.select(col("bb").as("brand")))
      .groupBy(col("brand")).agg(count(lit(1)).as("vol"))
    vol.join(cut, Seq("brand"), "left")
      .select(col("brand"), coalesce(col("cut"), lit(0L)).as("cut"), col("vol"))
      .crossJoin(broadcast(m))
      .select(col("brand"), col("cut"), col("vol"),
        expr("""cut * 1000000 div nullif(least(vol, 2 * m - vol), 0)""")
          .as("phi_e6"))
      .orderBy(col("brand"))
  }

  /** Mean average precision @20 of token-overlap retrieval against
    * same-lang relevance — the integer-exact member of the
    * retrieval-eval triad (q_ndcg ranks by float cosine, q_confusion
    * counts labels; MAP needs exact ranks, so the score here is the
    * DISTINCT-TOKEN OVERLAP, an integer, ties broken by doc_id).
    * Per query: AP@20 = (Σ over relevant top-20 hits of
    * hits@rank·10⁶ div rank) div min(n_rel, 20), every division
    * truncating identically on both engines; unretrieved relevant
    * docs contribute zero (trec_eval semantics). The posting join is
    * sparse (shared-token pairs only) and the rank window partitions
    * per query.
    */
  def mapQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        explode(TextOps.words(lower(col("text")))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .distinct()
    val q = toks.filter(col("doc_id") < 100 && col("doc_id") % 5 === 0)
      .select(col("doc_id").as("qid"), col("lang").as("qlang"), col("tok"))
    val c = toks.filter(col("doc_id") >= 100 && col("doc_id") < 1100)
      .select(col("doc_id").as("did"), col("lang").as("dlang"), col("tok"))
    val overlap = q.join(c, "tok")
      .groupBy(col("qid"), col("qlang"), col("did"), col("dlang"))
      .agg(count(lit(1)).as("ov"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("ov").desc, col("did"))
    val ranked = overlap.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20)
      .withColumn("hits",
        sum(when(col("qlang") === col("dlang"), 1L).otherwise(0L)).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
    val nrel = Tables.documents(spark, sfDir)
      .filter(col("doc_id") >= 100 && col("doc_id") < 1100)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val ap = ranked.filter(col("qlang") === col("dlang"))
      .select(col("qid"), col("qlang"),
        expr("hits * 1000000 div rk").as("p_at_k"))
      .groupBy(col("qid"), col("qlang"))
      .agg(sum(col("p_at_k")).as("sp"))
      .join(broadcast(nrel), col("qlang") === col("lang"))
      .select(col("qid"),
        expr("sp div least(n_lang, 20)").as("ap_e6"))
    // a query with zero relevant hits in its top 20 still counts, at
    // AP = 0 (trec_eval semantics) — left-join from the query SET
    val qset = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 100 && col("doc_id") % 5 === 0)
      .select(col("doc_id").as("qid"))
    qset.join(broadcast(ap), Seq("qid"), "left")
      .select(coalesce(col("ap_e6"), lit(0L)).as("ap_e6"))
      .groupBy()
      .agg(count(lit(1)).as("n_queries"),
        expr("cast(sum(ap_e6) div count(1) as bigint)").as("map_e6"))
  }

  /** Time-windowed funnel (the ClickHouse windowFunnel semantic):
    * view → click within 3 days → purchase within 3 days of the
    * click, strict event-time order AND bounded gaps — the unbounded
    * [[funnelQ]] overcounts users whose "conversion" took a month.
    * Same co-partitioned per-user conditional-min chain; the gap
    * predicates ride the stage joins. Ships both funnels' stage
    * counts side by side so the window's bite is visible.
    */
  def funnelWindowQ(spark: SparkSession, sfDir: String): DataFrame = {
    val gap = 3L * 86400000000L
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("t"))
    val s1 = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("t"))).as("f1"))
      .filter(col("f1").isNotNull)
    val s2u = ev.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("t") > col("f1"))
      .groupBy(col("user_id")).agg(min(col("t")).as("f2u"))
    val s2w = ev.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("t") > col("f1") && col("t") <= col("f1") + gap)
      .groupBy(col("user_id")).agg(min(col("t")).as("f2w"))
    val s3u = ev.filter(col("event_type") === "purchase").join(s2u, "user_id")
      .filter(col("t") > col("f2u"))
      .groupBy(col("user_id")).agg(min(col("t")).as("f3u"))
    val s3w = ev.filter(col("event_type") === "purchase").join(s2w, "user_id")
      .filter(col("t") > col("f2w") && col("t") <= col("f2w") + gap)
      .groupBy(col("user_id")).agg(min(col("t")).as("f3w"))
    def cnt(df: DataFrame, as: String) =
      broadcast(df.groupBy().agg(count(lit(1)).as(as)))
    cnt(s1, "n_view").crossJoin(cnt(s2u, "n_click_any"))
      .crossJoin(cnt(s2w, "n_click_3d"))
      .crossJoin(cnt(s3u, "n_purchase_any"))
      .crossJoin(cnt(s3w, "n_purchase_3d"))
      .select(col("n_view"), col("n_click_any"), col("n_click_3d"),
        col("n_purchase_any"), col("n_purchase_3d"),
        expr("n_purchase_3d * 1000000 div nullif(n_view, 0)")
          .as("windowed_cvr_e6"))
  }

  /** Time-to-convert distribution: per user, the latency from first
    * view to first purchase AFTER that view, summarized per A/B
    * variant as count + exact 2×-median (the q_mad device) + mean at
    * 10⁻⁶ seconds. The experiment readout for "did the variant make
    * conversion FASTER", which rate-based [[abTestQ]] can't answer;
    * two keyed stage reductions, one bounded aggregate.
    */
  def timeToConvertQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("t"))
    val s1 = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("t"))).as("f1"))
      .filter(col("f1").isNotNull)
    val conv = ev.filter(col("event_type") === "purchase").join(s1, "user_id")
      .filter(col("t") > col("f1"))
      .groupBy(col("user_id"), col("f1")).agg(min(col("t")).as("f3"))
      .select(col("user_id"),
        expr("(f3 - f1) div 1000000").as("lat_s"))
      .withColumn("v", expr("(user_id * 1000003 + 12345) % 97 % 2"))
    conv.groupBy(col("v"))
      .agg(count(lit(1)).as("n_converted"),
        expr("cast(2 * percentile(lat_s, 0.5) as bigint)").as("med2_lat_s"),
        expr("sum(lat_s) * 1000000 div count(1)").as("mean_lat_e6_s"))
      .orderBy(col("v"))
  }

  /** Duplicate token-budget inflation per language: total corpus
    * tokens vs tokens surviving exact dedup (min-doc_id keeper per
    * md5 fingerprint), with the inflation ratio at 10⁻⁶ — the
    * "what fraction of my training budget is re-reading the same
    * text" readout that decides whether dedup pays for itself. One
    * token-count scan (no explode: size(words)), one 16-byte-key
    * dedup window, two bounded aggregates.
    */
  def dupInflationQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        size(TextOps.words(lower(col("text")))).cast("long").as("toks"),
        md5(col("text")).as("fp"))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val flagged = d.withColumn("keep", row_number().over(w) === 1)
    flagged.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_toks"),
        sum(when(col("keep"), col("toks")).otherwise(0L)).as("kept_toks"))
      .select(col("lang"), col("n_docs"), col("total_toks"), col("kept_toks"),
        expr("total_toks * 1000000 div nullif(kept_toks, 0)")
          .as("inflation_e6"))
      .orderBy(col("lang"))
  }

  /** Peak concurrency per day: each user's daily activity interval
    * [first event, last event] becomes a +1/−1 boundary pair (end at
    * +1 µs so a point interval still counts), and the day's peak is
    * the max of the running sum over boundaries ORDERED (t, delta) —
    * deterministic tie-break, exact integers, the interval-stabbing
    * answer ("how many users were active at once") without any
    * interval self-join. The window partitions BY DAY (a real key);
    * boundary volume is 2·(user·day) rows, far below event volume.
    */
  def peakConcurrencyQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val iv = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"))
      .withColumn("day", expr("us div 86400000000"))
      .groupBy(col("day"), col("user_id"))
      .agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
    val bounds = iv.select(col("day"), col("lo").as("t"), lit(1L).as("delta"))
      .union(iv.select(col("day"), (col("hi") + 1).as("t"),
        lit(-1L).as("delta")))
    val w = Window.partitionBy(col("day")).orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, 0)
    bounds.withColumn("run", sum(col("delta")).over(w))
      .groupBy(col("day"))
      .agg(expr("count(1) div 2").as("n_users"),
        max(col("run")).as("peak_concurrent"))
      .orderBy(col("day"))
  }

  /** Empirical-Bayes (additive) smoothing of per-source quality
    * rates: raw rate k/n shrunk toward the global rate with pseudo-
    * count strength C = 20, all fractions cleared — smoothed·10⁶ =
    * (k·n_g + C·k_g)·10⁶ div (n_g·(n + C)) — so small sources stop
    * whipsawing a mixture-weight pipeline while big sources keep
    * their observed rate. One conditional aggregate per source + one
    * broadcast global row; the shrinkage primitive any per-group rate
    * feeding downstream decisions should pass through.
    */
  def ebSmoothingQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val per = Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("n_chars") >= 500, 1L).otherwise(0L)).as("k"))
    val g = per.groupBy().agg(sum(col("n")).as("n_g"), sum(col("k")).as("k_g"))
    per.crossJoin(broadcast(g))
      .select(col("source"), col("n"), col("k"),
        expr("k * 1000000 div n").as("raw_e6"),
        expr("""cast((cast(k as decimal(38,0)) * n_g + 20 * k_g) * 1000000
                div (cast(n_g as decimal(38,0)) * (n + 20)) as bigint)""")
          .as("smoothed_e6"))
      .orderBy(col("source"))
  }

  /** n-gram novelty of the test split vs the train split (the same
    * arithmetic-hash 80/20 as [[splitLeakageQ]] — the two audits
    * read together): for n = 1..3, the fraction of DISTINCT test-side
    * n-grams never seen on the train side. High novelty = the eval
    * set actually measures generalization; novelty ~0 at n=3 is the
    * memorization smell. One gram explode per side, one distinct,
    * one anti-join per n (all keyed, n rides a 3-row broadcast
    * spine) — posting-table work, never doc-pairs.
    */
  def ngramNoveltyQ(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextOps.words(lower(col("text"))).as("ws"))
      .withColumn("is_test", expr("doc_id * 2654435761 % 97 % 5 = 0"))
    val spine = broadcast(base.sparkSession.range(1, 4)
      .select(col("id").cast("int").as("n")))
    val grams = base.crossJoin(spine)
      .filter(size(col("ws")) >= col("n"))
      .select(col("is_test"), col("n"), explode(expr(
        "transform(sequence(0, size(ws) - n), i -> array_join(slice(ws, i + 1, n), ' '))"))
        .as("g"))
    val tr = grams.filter(!col("is_test")).select(col("n"), col("g")).distinct()
    val te = grams.filter(col("is_test")).select(col("n"), col("g")).distinct()
    val novel = te.join(tr, Seq("n", "g"), "left_anti")
      .groupBy(col("n")).agg(count(lit(1)).as("n_novel"))
    te.groupBy(col("n")).agg(count(lit(1)).as("n_test_grams"))
      .join(novel, Seq("n"), "left")
      .select(col("n").cast("long").as("n"), col("n_test_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        expr("coalesce(n_novel, 0L) * 1000000 div n_test_grams")
          .as("novelty_e6"))
      .orderBy(col("n"))
  }

  /** Global motif census + transitivity of the part-adjacency graph:
    * edges, wedges (Σ deg·(deg−1) div 2 — one degree aggregate, no
    * path enumeration), triangles (Σ edge support div 6 over the one
    * wedge equi-join), and global transitivity 3·Δ·10⁶ div wedges —
    * the whole-graph ratio [[clusteringCoefQ]]'s per-node view
    * averages over. One row out; every term exact.
    */
  def transitivityQ(spark: SparkSession, sfDir: String): DataFrame = {
    val und = undEdges(spark, sfDir)
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val wedges = deg.groupBy()
      .agg(sum(expr("d * (d - 1)")).as("w2"))
      .select(expr("w2 div 2").as("wedges"))
    // Σ edge support = 3·Δ (each triangle touches 3 oriented edges) —
    // the shared support table replaces the dedicated wedge pass
    val tri = wedgeSupport(spark, sfDir).groupBy()
      .agg(expr("coalesce(sum(s), 0L) div 3").as("triangles"))
    val m = und.groupBy().agg(expr("count(1) div 2").as("edges"))
    m.crossJoin(broadcast(wedges)).crossJoin(broadcast(tri))
      .select(col("edges"), col("wedges"), col("triangles"),
        expr("3 * triangles * 1000000 div nullif(wedges, 0)")
          .as("transitivity_e6"))
  }

  /** Train/test split-leakage audit: hash-split the corpus 80/20
    * (arithmetic hash of doc_id, so an original and its planted near
    * copy can land on OPPOSITE sides — the exact leak a naive
    * row-hash split produces in real pipelines), then surface every
    * near-duplicate pair (Jaccard ≥ 0.8, from the shared banded LSH
    * pass — never all-pairs) that CROSSES the split, oriented
    * (train_doc, test_doc). This is eval contamination that exact-id
    * decontamination can't see; fixing it means moving the test-side
    * doc or dropping the train-side one. Candidates and verification
    * both reuse the memoized lsh_pairs table, so the audit costs one
    * filter over work the dedup already did.
    */
  def splitLeakageQ(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = lshPairs(spark, sfDir).filter(col("jaccard") >= 0.8)
    val ta = expr("doc_a * 2654435761 % 97 % 5 = 0")
    val tb = expr("doc_b * 2654435761 % 97 % 5 = 0")
    pairs.filter(ta =!= tb)
      .select(when(ta, col("doc_b")).otherwise(col("doc_a")).as("train_doc"),
        when(ta, col("doc_a")).otherwise(col("doc_b")).as("test_doc"),
        col("jaccard"))
      .orderBy(col("train_doc"), col("test_doc"))
  }

  /** Cross-source dedup survivorship — when near-dups collide across
    * ingest sources, WHO keeps the canonical copy: the memoized LSH
    * pair table (shared with [[minhashLshMemoQ]]/[[splitLeakageQ]] —
    * the audit costs one filter, never a new corpus pass) at
    * jaccard ≥ 0.8, keeper = the min-id side (the library's canonical
    * rule), sources mapped through one broadcast of the 500-row doc
    * dim (planted copies resolve via id % 10000). The directional
    * (keeper_source, loser_source) matrix is the crawl-priority
    * signal: a source that always LOSES is pure re-crawl of someone
    * else's content.
    */
  def dedupSurvivorshipQ(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val pairs = lshPairs(spark, sfDir).filter(col("jaccard") >= 0.8)
    pairs
      .join(broadcast(src.select((col("doc_id")).as("ka"), col("source").as("keep_source"))),
        expr("doc_a % 10000") === col("ka"))
      .join(broadcast(src.select((col("doc_id")).as("kb"), col("source").as("lose_source"))),
        expr("doc_b % 10000") === col("kb"))
      .groupBy(col("keep_source"), col("lose_source"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("keep_source"), col("lose_source"))
  }

  /** Switchback-experiment readout with a carryover certificate — the
    * time-boxed design used when user-level randomization interferes
    * (marketplaces, pricing): 3-day alternating blocks over the
    * calendar, naive effect = treated−control mean daily purchase
    * volume over ALL days vs the interior effect that EXCLUDES each
    * block's first day (where yesterday's arm still contaminates);
    * carryover_bias = naive − interior is the number that says
    * whether the washout period was long enough. One daily aggregate;
    * everything after is the day spine.
    */
  def switchbackQ(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(sum(cents(col("value")).cast("long")).as("y"))
    val d0 = daily.groupBy().agg(min(col("d")).as("dmin"))
    val marked = daily.crossJoin(broadcast(d0))
      .withColumn("rel", col("d") - col("dmin"))
      .withColumn("treat", expr("(rel div 3) % 2 = 1"))
      .withColumn("interior", expr("rel % 3 != 0"))
    marked.groupBy()
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("interior"), 1L).otherwise(0L)).as("n_interior"),
        expr("""cast(sum(CASE WHEN treat THEN y END) * cast(1000000 as decimal(38,0))
              div sum(CASE WHEN treat THEN 1 ELSE 0 END) as bigint)""").as("t_all_e6"),
        expr("""cast(sum(CASE WHEN NOT treat THEN y END) * cast(1000000 as decimal(38,0))
              div sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) as bigint)""").as("c_all_e6"),
        expr("""cast(sum(CASE WHEN treat AND interior THEN y END) * cast(1000000 as decimal(38,0))
              div sum(CASE WHEN treat AND interior THEN 1 ELSE 0 END) as bigint)""").as("t_int_e6"),
        expr("""cast(sum(CASE WHEN NOT treat AND interior THEN y END) * cast(1000000 as decimal(38,0))
              div sum(CASE WHEN NOT treat AND interior THEN 1 ELSE 0 END) as bigint)""").as("c_int_e6"))
      .select(col("n_days"), col("n_interior"),
        (col("t_all_e6") - col("c_all_e6")).as("naive_diff_e6"),
        (col("t_int_e6") - col("c_int_e6")).as("interior_diff_e6"),
        ((col("t_all_e6") - col("c_all_e6"))
          - (col("t_int_e6") - col("c_int_e6"))).as("carryover_bias_e6"))
  }

  /** Context-window fit audit — before packing a corpus into a model's
    * context, the two numbers that size the training run: for each
    * window in {512, 2048, 8192} BPE-ish tokens, the share of
    * DOCUMENTS that fit whole and the share of TOKEN MASS lost to
    * truncation (Σ max(0, n−w) / Σn). One tokenize-count scan, a
    * 3-row window grid, exact integer ppm.
    */
  def contextFitQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(TextOps.bpeTokenCount(col("text")).as("n"))
    val grid = broadcast(d.sparkSession.range(0, 3)
      .select(expr("element_at(array(512L, 2048L, 8192L), cast(id + 1 as int))")
        .as("w")))
    d.crossJoin(grid)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("total_tokens"),
        sum(when(col("n") <= col("w"), 1L).otherwise(0L)).as("n_fit"),
        sum(greatest(col("n") - col("w"), lit(0L))).as("trunc_tokens"))
      .select(col("w").as("ctx_window"), col("n_docs"), col("n_fit"),
        expr("n_fit * 1000000 div n_docs").as("fit_docs_e6"),
        col("total_tokens"),
        expr("trunc_tokens * 1000000 div total_tokens").as("trunc_waste_e6"))
      .orderBy(col("ctx_window"))
  }

  /** Sequence packing by first-fit-decreasing into 2048-token training
    * windows — the operator that FIXES the padding waste
    * [[contextFitQ]] measures (one doc per window pads every window
    * to 2048; packing multiple docs into one window recovers it).
    * Exact FFD is inherently sequential, so the pipeline runs it
    * per salted-hash BUCKET (portable hash of the doc id mod 32 —
    * shuffle-parallel, deterministic, never a driver loop; at 100 TB
    * the bucket count scales with the cluster and each bucket's fold
    * is a single aggregate over its collected token counts): within a
    * bucket, docs sort by token count desc (doc id asc on ties) and a
    * single HOF fold first-fits each doc into the earliest window
    * with room, opening a new window when none fits. Docs longer than
    * the window can't pack whole and are counted separately (they are
    * contextFitQ's truncation population). One row out: windows used
    * vs the one-doc-per-window baseline, packing efficiency at e6,
    * and the windows saved — FFD is guaranteed ≤ (11/9)·OPT + 6/9
    * windows (Dósa 2007), so pack_eff_e6 is a certified-near-optimal
    * readout, not a heuristic guess.
    */
  def packFfdQ(spark: SparkSession, sfDir: String): DataFrame =
    packQ(spark, sfDir, s"b2 + t <= $PackWindow")

  /** Token window size of the sequence-packing queries. */
  private val PackWindow = 2048L

  /** Sequence packing shared by [[packFfdQ]] and [[packBestFitQ]]:
    * docs over [[PackWindow]] tokens are counted aside, the rest salted
    * into 32 buckets and folded per bucket in decreasing token order.
    * `fits` is the placement rule, a predicate over a window's load
    * `b2`, the doc's tokens `t` and all loads `bins`: the doc goes to
    * the first window for which it holds.
    */
  private def packQ(spark: SparkSession, sfDir: String,
      fits: String): DataFrame = {
    val W = PackWindow
    val B = 32
    // tokenize ONCE: without the checkpoint, the oversize count and the
    // packable filter each re-run the token regex over the corpus
    // (Catalyst re-inlines the projection into both branches) — the
    // [[sourceLooQ]] discipline; the checkpointed table is two longs
    // per doc
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextOps.bpeTokenCount(col("text")).as("n"))
      .localCheckpoint(true)
    val sized = d.groupBy()
      .agg(sum(when(col("n") > W, 1L).otherwise(0L)).as("n_oversize"))
    val lists = d.filter(col("n") <= W)
      .withColumn("bucket",
        pmod(TextOps.portableHash64(concat(lit("pack:"), col("doc_id"))), lit(B)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"), sum(col("n")).as("toks"),
        // (−n, id) struct sort = token count desc, doc id asc on ties:
        // the Decreasing in FFD, deterministic under count ties
        sort_array(collect_list(struct((-col("n")).as("negn"),
          col("doc_id").as("id")))).as("s"))
      .select(col("bucket"), col("cnt"), col("toks"),
        expr("transform(s, x -> -x.negn)").as("toks_desc"))
    // the fold: state = per-window loads; each doc goes to the FIRST
    // window whose load passes `fits` (positional update via the
    // indexed transform), else opens a new window
    val packed = lists.withColumn("bins", expr(
      s"""aggregate(toks_desc, cast(array() as array<bigint>),
         |  (bins, t) -> if(exists(bins, b -> b + t <= $W),
         |    transform(bins, (b, i) -> if(i = element_at(filter(
         |        transform(bins, (b2, i2) -> if($fits, i2, -1)),
         |        x -> x >= 0), 1), b + t, b)),
         |    concat(bins, array(t))))""".stripMargin))
      .select(col("cnt"), col("toks"), size(col("bins")).cast("long").as("nb"))
    packed.groupBy()
      .agg(sum(col("cnt")).as("n_docs_packed"), sum(col("toks")).as("total_tokens"),
        sum(col("nb")).as("n_windows"))
      .crossJoin(broadcast(sized))
      .select(col("n_docs_packed"), col("n_oversize"), col("total_tokens"),
        col("n_windows"),
        expr(s"cast(cast(total_tokens as decimal(38,0)) * 1000000" +
          s" div (n_windows * $W) as bigint)").as("pack_eff_e6"),
        expr(s"cast(cast(total_tokens as decimal(38,0)) * 1000000" +
          s" div (n_docs_packed * $W) as bigint)").as("naive_eff_e6"),
        (col("n_docs_packed") - col("n_windows")).as("windows_saved"))
  }

  /** Sequence packing by best-fit-decreasing — [[packFfdQ]]'s sibling
    * with the tighter placement rule (each doc goes to the FULLEST
    * window it still fits, not the first): same salted-bucket
    * parallelism, same checkpointed one-pass tokenize, only the fold's
    * choice function changes (argmax over fitting loads instead of
    * first-fit; first index on load ties keeps it deterministic). BFD
    * shares FFD's ≤ (11/9)·OPT + 6/9 guarantee but typically packs
    * tighter on skewed length distributions — shipping both turns the
    * packing-efficiency readout into a measured A/B instead of a
    * single point.
    */
  def packBestFitQ(spark: SparkSession, sfDir: String): DataFrame =
    packQ(spark, sfDir, s"b2 + t <= $PackWindow and" +
      s" b2 = array_max(filter(bins, b3 -> b3 + t <= $PackWindow))")

  /** Deterministic training order (see [[ops.TrainOrder.epochOrder]]) —
    * the canonical pipeline stage after packing: 2 epochs over the
    * document table, 8 shards, per-source mixture resampling
    * (src0 ×2 exact, src1 ×1.5 Bernoulli, src2 ×0.25, rest ×1), every
    * row keyed by the salted portable hash so the order is
    * reproducible bit-for-bit and epoch-decorrelated. One scan, a
    * broadcast epoch grid, a ≤2-row bounded replica explode, ONE
    * (epoch, shard) hash exchange for the in-shard position window —
    * at 100 TB the shard count scales with the cluster and no global
    * sort ever exists (TrainOrderSpec pins determinism and epoch
    * decorrelation; the plan guard pins the single-exchange shape).
    */
  def trainOrderQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.TrainOrder.epochOrder(
        Tables.documents(spark, sfDir), epochs = 2, nShards = 8, salt = "to")
      .orderBy(col("epoch"), col("shard"), col("pos"))

  /** Shard manifest over [[trainOrderQ]]'s order table — per
    * (epoch, shard): sequence/doc counts, token totals, realized
    * per-source mixture, reweighted share, and the min/max order-key
    * witnesses. The readout a trainer (or a reproducibility audit)
    * checks instead of re-reading the order itself.
    */
  def trainManifestQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.TrainOrder.shardManifest(graft.ops.TrainOrder.epochOrder(
        Tables.documents(spark, sfDir), epochs = 2, nShards = 8, salt = "to"))
      .orderBy(col("epoch"), col("shard"))

  /** DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining" —
    * the excess-loss device, one round, counting-LM proxy): train the
    * [[lmScoreQ]] Stupid-Backoff reference LM on the clean English
    * slice, score EVERY doc, and upweight sources whose per-bigram
    * score falls below the corpus baseline (excess loss ⇒ more
    * weight). Weights are exact integer ppm that sum to EXACTLY 10⁶
    * via largest-remainder rounding — the rank comes from a bounded
    * self-join over the ≤32-row source table (orderBy+limit = provable
    * to JoinLint, no window, no allowlist). One corpus scoring pass
    * (vocab-sized model equi-joins); everything after is source-sized.
    * The output plugs straight into [[ops.TrainOrder]]'s mixture
    * weights — measure ([[trainManifestQ]]) what you reweigh.
    */
  def doremiWeightsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val (uni, bi, totals) = graft.ops.LanguageModel.train(
      docs.filter(col("lang") === "en"), "text")
    // `per` is referenced ~7× downstream (base, shares, sw, fl, other,
    // the rem self-join) and each lazy duplicate was re-executing the
    // corpus-sized scoring pass behind it: the ≤|sources|-row aggregate
    // is checkpointed so scoring runs ONCE. The checkpoint sits BELOW
    // the limit so the TakeOrdered keeps the cross joins' JoinLint
    // bounded-by-construction proof (a LogicalRDD on top would erase
    // it).
    val per = graft.ops.LanguageModel.score(
        docs, uni, bi, totals, "doc_id", "text", carry = Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bigrams")).as("n_bigrams"),
        sum(col("score_micro")).as("sm"))
      .localCheckpoint(true)
      .orderBy(col("source")).limit(32) // ≤20 sources — provable bound
      .withColumn("mean_micro", expr("sm div n_bigrams"))
    val base = per.groupBy()
      .agg(expr("sum(sm) div sum(n_bigrams)").as("base_micro"))
    val shares = per.crossJoin(broadcast(base))
      .withColumn("excess_micro",
        greatest(col("base_micro") - col("mean_micro"), lit(0L)))
      .withColumn("w", lit(1000000L) + col("excess_micro"))
    val sw = shares.groupBy().agg(sum(col("w")).as("sw"))
    val fl = shares.crossJoin(broadcast(sw))
      .withColumn("ppm_floor", expr("w * 1000000 div sw"))
      .withColumn("rem", expr("(w * 1000000) % sw"))
    val leftover = fl.groupBy()
      .agg((lit(1000000L) - sum(col("ppm_floor"))).as("lo"))
    val other = fl.select(col("source").as("s2"), col("rem").as("rem2"))
    fl.join(other, col("rem2") > col("rem") ||
        (col("rem2") === col("rem") && col("s2") < col("source")), "left")
      .groupBy(col("source"), col("n_docs"), col("n_bigrams"),
        col("mean_micro"), col("excess_micro"), col("ppm_floor"))
      .agg(count(col("s2")).as("n_better"))
      .crossJoin(broadcast(leftover))
      .select(col("source"), col("n_docs"), col("n_bigrams"),
        col("mean_micro"), col("excess_micro"),
        (col("ppm_floor") +
          when(col("n_better") < col("lo"), 1L).otherwise(0L)).as("weight_ppm"))
      .orderBy(col("source"))
  }

  /** Data-scaling novelty curve — "how much NEW content does each
    * additional slice of the corpus add?", the diminishing-returns
    * readout behind every more-data-vs-better-data decision: per
    * doc-id decile (ingest order), the count of distinct 8-grams whose
    * GLOBAL first occurrence lands in that decile
    * ([[ops.Dedup.gramFirstTable]] — the ExactSubstr index read as a
    * curve), the decile's total gram occurrences, and the marginal
    * novelty ratio. Cumulative counts come from a ≤10-row bounded
    * self-join (limit(10) = provable), never a singleton window. One
    * gram pass + one narrow scan; the curve table is 10 rows at any
    * corpus size.
    */
  def noveltyCurveQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val nd = d.groupBy().agg((max(col("doc_id")) + 1).as("nd"))
    val newPerDec = Dedup.gramFirstTable(d, 8).crossJoin(broadcast(nd))
      .select(least(expr("(first_key div 1000000) * 10 div nd"), lit(9L))
        .as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).as("n_new_grams"))
    val occPerDec = d.crossJoin(broadcast(nd))
      .select(least(expr("doc_id * 10 div nd"), lit(9L)).as("decile"),
        greatest(size(split(trim(lower(col("text"))), "\\s+")) - 7, lit(0))
          .cast("long").as("occ"))
      .groupBy(col("decile")).agg(sum(col("occ")).as("n_gram_occ"))
    val spine = broadcast(d.sparkSession.range(0, 10).select(col("id").as("decile")))
    val counts = spine.join(newPerDec, Seq("decile"), "left")
      .join(occPerDec, Seq("decile"), "left")
      .select(col("decile"),
        coalesce(col("n_new_grams"), lit(0L)).as("n_new_grams"),
        coalesce(col("n_gram_occ"), lit(0L)).as("n_gram_occ"))
      .orderBy(col("decile")).limit(10) // decile ∈ [0,9] — provable bound
    val c2 = counts.select(col("decile").as("d2"), col("n_new_grams").as("c2"))
    counts.join(c2, col("d2") <= col("decile"))
      .groupBy(col("decile"), col("n_new_grams"), col("n_gram_occ"))
      .agg(sum(col("c2")).as("cum_new_grams"))
      .select(col("decile"), col("n_new_grams"), col("n_gram_occ"),
        col("cum_new_grams"),
        expr("n_new_grams * 1000000 div nullif(n_gram_occ, 0)")
          .as("novelty_e6"))
      .orderBy(col("decile"))
  }

  /** Neyman-optimal stratified-sample allocation (n_h ∝ N_h·S_h) of a
    * 1000-row audit budget across the 5 order-priority strata — the
    * design stage of every stratified data-quality audit (allocate
    * where the money variance lives, not per headcount): per-stratum
    * σ via ONE IEEE sqrt of the exact decimal(38) moment (the
    * [[wilsonCiQ]] discipline), Neyman weights N_h·σ_h as exact
    * integers, and the allocation rounded by largest remainder so it
    * sums to EXACTLY the budget (bounded ≤8-row self-join rank —
    * orderBy+limit, no window). The proportional allocation rides
    * alongside as the A/B. One orders scan; everything after is
    * stratum-sized.
    */
  def neymanAllocQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val budget = 1000L
    val st = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority").as("stratum"),
        cents(col("o_totalprice")).cast("long").as("x"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_h"), sum(col("x")).as("s"),
        sum(expr(s"cast(x as $d38) * x")).as("sxx"))
      .orderBy(col("stratum")).limit(8) // 5 strata — provable bound
      .withColumn("ss", expr(s"n_h * sxx - cast(s as $d38) * s"))
      .withColumn("sd_e3",
        floor(sqrt(col("ss").cast("double")) / col("n_h") * 1000.0).cast("long"))
      .withColumn("w", col("n_h") * col("sd_e3"))
    val tot = st.groupBy().agg(sum(col("w")).as("sw"), sum(col("n_h")).as("ntot"))
    val fl = st.crossJoin(broadcast(tot))
      .withColumn("alloc_floor", expr(s"w * $budget div sw"))
      .withColumn("rem", expr(s"(w * $budget) % sw"))
      .withColumn("prop_alloc", expr(s"n_h * $budget div ntot"))
    val leftover = fl.groupBy()
      .agg((lit(budget) - sum(col("alloc_floor"))).as("lo"))
    val other = fl.select(col("stratum").as("s2"), col("rem").as("rem2"))
    fl.join(other, col("rem2") > col("rem") ||
        (col("rem2") === col("rem") && col("s2") < col("stratum")), "left")
      .groupBy(col("stratum"), col("n_h"), col("sd_e3"),
        col("alloc_floor"), col("prop_alloc"))
      .agg(count(col("s2")).as("n_better"))
      .crossJoin(broadcast(leftover))
      .select(col("stratum"), col("n_h"), col("sd_e3"),
        (col("alloc_floor") +
          when(col("n_better") < col("lo"), 1L).otherwise(0L))
          .as("neyman_alloc"),
        col("prop_alloc"))
      .orderBy(col("stratum"))
  }

  /** The five Gopher-rule pass flags (`r_wc`/`r_mwl`/`r_alpha`/
    * `r_stop`/`r_dup2` + combined `keep`) per input row, carrying
    * `keyCols` through — the shared flag block behind
    * [[gopherRulesQ]]'s per-source rollup and
    * [[filterAttributionQ]]'s per-doc gate Venn.
    */
  private def gopherFlags(docs: DataFrame, keyCols: Seq[String]): DataFrame =
    docs
      .select(keyCols.map(col) :+
        split(trim(lower(col("text"))), "\\s+").as("ws"): _*)
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("sum_len",
        expr("aggregate(ws, 0L, (a, x) -> a + length(x))"))
      .withColumn("n_alpha",
        expr("size(filter(ws, x -> x rlike '[a-z]'))").cast("long"))
      .withColumn("n_stop", expr(
        """size(filter(ws, x -> array_contains(
          |array('the','be','to','of','and','that','have','with'), x)))"""
          .stripMargin).cast("long"))
      .withColumn("bg", expr(
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1), (a, b) -> concat(a, ' ', b))"))
      .withColumn("tot_bg", greatest(col("n_words") - 1, lit(0L)))
      .withColumn("dup_bg", col("tot_bg") - size(array_distinct(col("bg"))).cast("long"))
      .select(keyCols.map(col) :+
        (col("n_words") >= 50 && col("n_words") <= 100000).as("r_wc") :+
        (expr("sum_len * 1000 div n_words").between(3000L, 10000L)).as("r_mwl") :+
        (expr("n_alpha * 1000000 div n_words") >= 800000L).as("r_alpha") :+
        (col("n_stop") >= 2L).as("r_stop") :+
        coalesce(expr("dup_bg * 1000000 div nullif(tot_bg, 0)") <= 200000L,
          lit(true)).as("r_dup2"): _*)
      .withColumn("keep",
        col("r_wc") && col("r_mwl") && col("r_alpha") && col("r_stop") && col("r_dup2"))

  /** Gopher quality-rule table (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * §A1.1 data-quality filters, adapted to the newline-free synthetic
    * corpus): per document — word count in [50, 100k], mean word
    * length in [3, 10] chars, ≥80% of words containing an alphabetic
    * character, ≥2 canonical stopwords, and duplicate-bigram share
    * ≤ 20% — every metric an EXACT integer ratio (per-doc array ops,
    * no explode, no window), rolled up per source as per-rule fail
    * counts and the kept share. The rule-level breakdown is the
    * operator's point: it says WHICH gate bites each source before a
    * 100 TB filtering pass commits to thresholds.
    */
  def gopherRulesQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = gopherFlags(Tables.documents(spark, sfDir), Seq("source"))
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("r_wc"), 1L).otherwise(0L)).as("fail_wordcount"),
        sum(when(!col("r_mwl"), 1L).otherwise(0L)).as("fail_meanwordlen"),
        sum(when(!col("r_alpha"), 1L).otherwise(0L)).as("fail_alphaword"),
        sum(when(!col("r_stop"), 1L).otherwise(0L)).as("fail_stopword"),
        sum(when(!col("r_dup2"), 1L).otherwise(0L)).as("fail_dupbigram"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("source"), col("n_docs"), col("fail_wordcount"),
        col("fail_meanwordlen"), col("fail_alphaword"), col("fail_stopword"),
        col("fail_dupbigram"), col("n_kept"),
        expr("n_kept * 1000000 div n_docs").as("kept_e6"))
      .orderBy(col("source"))
  }

  /** Probability-proportional-to-size sampling with a Horvitz-Thompson
    * total estimate — the survey-sampling workhorse for auditing a
    * corpus without scanning it (sample ~100 docs, estimate total
    * tokens): inclusion probability π_i = min(1, n·s_i/S) as an exact
    * ppm integer, DETERMINISTIC hash inclusion (reproducible sample —
    * no rand()), and the HT estimator Σ s_i·10⁶ div π_i over included
    * docs, reported against the true total it estimates. One scan +
    * scalar moments; the design-effect inputs (Σw, Σw²) ride along.
    */
  def ppsSampleQ(spark: SparkSession, sfDir: String): DataFrame = {
    val n = 100L
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long").as("s"))
    val tot = d.groupBy().agg(sum(col("s")).as("stot"), count(lit(1)).as("nd"))
    val marked = d.crossJoin(broadcast(tot))
      .withColumn("pi_e6", least(lit(1000000L), expr(s"s * $n * 1000000 div stot")))
      .withColumn("inc",
        pmod(TextOps.portableHash64(concat(lit("pps:"), col("doc_id"))),
          lit(1000000L)) < col("pi_e6"))
    marked.groupBy()
      .agg(max(col("nd")).as("n_docs"), max(col("stot")).as("true_total"),
        sum(when(col("pi_e6") === 1000000L, 1L).otherwise(0L)).as("n_certain"),
        sum(when(col("inc"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("inc"), expr("s * 1000000 div pi_e6")).otherwise(0L))
          .as("ht_total"))
      .select(col("n_docs"), col("n_certain"), col("n_sampled"),
        col("true_total"), col("ht_total"),
        expr("ht_total * 1000000 div true_total").as("ratio_e6"))
  }

  /** Dataset-cartography map (Swayamdipta et al. 2020, "Dataset
    * Cartography: Mapping and Diagnosing Datasets with Training
    * Dynamics") over the batch perceptron's three training passes:
    * every document is scored under EACH pass's weight vector
    * ([[ops.Classify.perceptronTrain]] with passes = 1, 2, 3 — the
    * deterministic pass-prefix states), and classified easy-to-learn
    * (correct under all three), hard-to-learn (never correct), or
    * ambiguous (the sign flips — the slice cartography says to keep).
    * Rolled up per language. Exact integer scores throughout; the
    * three scorings are count-table equi-joins over the one persisted
    * hashed-count table, so the corpus is tokenized once.
    */
  def dataMapQ(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = (1 to 3).map { p =>
      val (w, b) = pcptModel(spark, sfDir, p)
      graft.ops.Classify.perceptronScoreOnCounts(pcptCounts(spark, sfDir), w, b,
          "doc_id", Seq("lang", "y"), Seq("lang", "y"))
        .select(col("doc_id"), col("lang"),
          (col("y") * col("score") > 0).as(s"c$p"))
    }
    scored.reduce((a, b) => a.join(b.drop("lang"), "doc_id"))
      .withColumn("nc", (0 to 2).map(i =>
        when(col(s"c${i + 1}"), 1L).otherwise(0L)).reduce(_ + _))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nc") === 3L, 1L).otherwise(0L)).as("n_easy"),
        sum(when(col("nc") === 0L, 1L).otherwise(0L)).as("n_hard"),
        sum(when(col("nc") > 0L && col("nc") < 3L, 1L).otherwise(0L))
          .as("n_ambiguous"))
      .orderBy(col("lang"))
  }

  /** Tokenizer-compression audit per source under the 8-merge BPE
    * model ([[bpeEncodeQ]]'s machinery read as an efficiency table):
    * chars per subword and subwords per word for every source — the
    * readout that decides whether a tokenizer underserves a slice of
    * the mix (fertility blowups are a real multilingual-training cost:
    * a source at 2× subwords/word pays 2× context per sentence). Type
    * dictionary encoded ONCE, per-source rollup is a word-keyed join —
    * no document is ever re-encoded.
    */
  def bpeCompressionQ(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val enc = bpeEncTypes(spark, sfDir)
    docs.select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .filter(length(col("word")) >= 1)
      .join(enc.select(col("word"), col("n_subwords")), "word")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(col("n_subwords")).as("n_subwords"))
      .select(col("source"), col("n_words"), col("n_chars"), col("n_subwords"),
        expr("n_chars * 1000 div n_subwords").as("chars_per_subword_e3"),
        expr("n_subwords * 1000 div n_words").as("subwords_per_word_e3"))
      .orderBy(col("source"))
  }

  /** Shuffle-quality certificate over [[trainOrderQ]]'s permutation:
    * the fraction of ADJACENT in-shard pairs sharing a source, against
    * the exact expectation under a uniform shard permutation
    * (Σ_shards A_sh/n_sh with A_sh = Σ_s n_s(n_s−1), pooled per
    * epoch) — the test that catches a broken shuffle (source-clumped
    * order starves data-parallel ranks of mixing). Both sides exact
    * integer arithmetic; one lead window per (epoch, shard) partition
    * over the order table.
    */
  def shuffleRunsQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = graft.ops.TrainOrder.epochOrder(
      Tables.documents(spark, sfDir), epochs = 2, nShards = 8, salt = "to")
    val w = Window.partitionBy(col("epoch"), col("shard")).orderBy(col("pos"))
    val adj = o.withColumn("nxt", lead(col("source"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_adj"),
        sum(when(col("nxt") === col("source"), 1L).otherwise(0L)).as("n_same"))
    val expd = o.groupBy(col("epoch"), col("shard"), col("source"))
      .agg(count(lit(1)).as("ns"))
      .groupBy(col("epoch"), col("shard"))
      .agg(sum(expr("ns * (ns - 1)")).as("a_sh"), sum(col("ns")).as("n_sh"))
      .groupBy(col("epoch"))
      .agg(sum(expr("a_sh * 1000000 div n_sh")).as("exp_same_e6"))
    adj.join(expd, "epoch")
      .select(col("epoch"), col("n_adj"), col("n_same"),
        expr("n_same * 1000000 div n_adj").as("same_e6"),
        expr("exp_same_e6 div n_adj").as("expected_e6"))
      .orderBy(col("epoch"))
  }

  /** Effective-epochs planning table: under [[ops.TrainOrder]]'s
    * mixture weights and a 10M-token sampling budget, how many times
    * does each source's data repeat? p_s ∝ w_s·tokens_s, sampled
    * tokens B·p_s, effective epochs B·w_s/Σw·t — all exact integer
    * rationals, with the repeats flag (>1 epoch = the source will be
    * seen more than once, the memorization-risk line every data card
    * reports). One tokenize scan; everything after is source-sized.
    */
  def effectiveEpochsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val budget = 10000000L
    val t = Tables.documents(spark, sfDir)
      .select(col("source"), TextOps.bpeTokenCount(col("text")).as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      .withColumn("weight_ppm", graft.ops.TrainOrder.weightPpm(col("source")))
      // decimal(38): weight·tokens·1e6 crosses 2^63 at soak scale
      .withColumn("wt", expr("cast(weight_ppm as decimal(38,0)) * n_tokens"))
    val tot = t.groupBy().agg(sum(col("wt")).as("swt"))
    t.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight_ppm"),
        expr("cast(wt * 1000000 div swt as bigint)").as("share_e6"),
        expr(s"cast($budget * wt div swt as bigint)").as("sampled_tokens"),
        expr(s"cast(cast($budget * weight_ppm as decimal(38,0)) * 1000 div swt as bigint)")
          .as("eff_epochs_e3"),
        (expr(s"cast(cast($budget * weight_ppm as decimal(38,0)) * 1000 div swt as bigint)")
          > 1000L).as("repeats"))
      .orderBy(col("source"))
  }

  /** Pairwise source-vocabulary overlap: Jaccard of each source pair's
    * top-50 token sets — the mix-design similarity matrix (two sources
    * that share 90% of their head vocabulary are near-redundant in a
    * mixture; a source sharing almost nothing is the diversity buy).
    * Per-source ranks ride a source-partitioned window; the 20-row set
    * table is bounded by orderBy+limit so the 190-pair self-join is
    * structurally provable. Exact integer Jaccard on sorted token
    * lists.
    */
  def sourceOverlapQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(spark, sfDir)
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) >= 2)
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source")).orderBy(col("c").desc, col("token"))
    val sets = tok.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 50)
      .groupBy(col("source"))
      .agg(sort_array(collect_list(col("token"))).as("toks"))
      .orderBy(col("source")).limit(32) // ≤20 sources — provable bound
    val b = sets.select(col("source").as("src_b"), col("toks").as("toks_b"))
    sets.select(col("source").as("src_a"), col("toks").as("toks_a"))
      .join(b, col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("long")
          .as("n_shared"),
        expr("""size(array_intersect(toks_a, toks_b)) * 1000000
               div size(array_union(toks_a, toks_b))""").as("jaccard_e6"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Quality-vs-quantity frontier: at each quality-score threshold of a
    * 5-point grid, the docs and tokens that survive — the curve every
    * filtering decision is actually made on (is the last 10% of
    * quality worth 40% of the tokens?). Exact integer micro-quality
    * ([[ops.Classify.micro6]] of the shared [[ops.TextOps.qualityScore]]),
    * one scan against a broadcast literal grid, per-threshold exact
    * shares.
    */
  def qualityFrontierQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(graft.ops.Classify.micro6(TextOps.qualityScore(col("text")))
          .as("q_micro"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long").as("toks"))
    val grid = broadcast(d.sparkSession.range(0, 5)
      .select(expr("element_at(array(300000L, 400000L, 500000L, 600000L, 700000L), cast(id + 1 as int))")
        .as("thr_micro")))
    d.crossJoin(grid)
      .groupBy(col("thr_micro"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("total_tokens"),
        sum(when(col("q_micro") >= col("thr_micro"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("q_micro") >= col("thr_micro"), col("toks")).otherwise(0L))
          .as("kept_tokens"))
      .select(col("thr_micro"), col("n_docs"), col("n_kept"),
        expr("n_kept * 1000000 div n_docs").as("kept_docs_e6"),
        col("total_tokens"), col("kept_tokens"),
        expr("kept_tokens * 1000000 div total_tokens").as("kept_tokens_e6"))
      .orderBy(col("thr_micro"))
  }

  /** Within-source 8-gram repetition profile off the ExactSubstr gram
    * pass ([[ops.Dedup.gramHashes]]): per source — gram occurrences,
    * distinct grams, the repetition factor, and the share of
    * occurrences belonging to a within-source repeated gram. The
    * per-source complement of [[noveltyCurveQ]] (which buckets by
    * ingest decile) and of [[dupRateQ]]'s whole-doc md5 rate: it says
    * WHICH source brings the self-copied boilerplate before a strip
    * pass commits. One gram pass + one (source, h) aggregate.
    */
  def sourceRepetitionQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val perGram = Dedup.gramHashes(d.select(col("doc_id"), col("text")), 8)
      .join(d.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"), col("h")).agg(count(lit(1)).as("c"))
    perGram.groupBy(col("source"))
      .agg(sum(col("c")).as("n_gram_occ"),
        count(lit(1)).as("n_distinct_grams"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("repeated_occ"))
      .select(col("source"), col("n_gram_occ"), col("n_distinct_grams"),
        expr("n_gram_occ * 1000 div n_distinct_grams").as("rep_factor_e3"),
        expr("repeated_occ * 1000000 div n_gram_occ").as("repeated_occ_e6"))
      .orderBy(col("source"))
  }

  /** Loss-vs-position curve (surprisal by relative document position):
    * per within-doc position decile, the mean Stupid-Backoff bigram
    * score under the [[lmScoreQ]] reference model — the diagnostic
    * behind context-length and curriculum decisions (do documents get
    * more predictable as context accumulates, and where does the
    * boilerplate sit?). One corpus scoring pass
    * ([[ops.LanguageModel.positionScores]] — the same model equi-joins
    * as q_lm_score plus the doc-partitioned position count), then a
    * 10-row bucket aggregate of exact integer micro scores.
    */
  def surprisalCurveQ(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val (uni, bi, totals) = graft.ops.LanguageModel.train(
      docs.filter(col("lang") === "en"), "text")
    graft.ops.LanguageModel.positionScores(docs, uni, bi, totals, "doc_id", "text")
      .select(least(expr("pos * 10 div n_pos"), lit(9L)).as("bucket"),
        col("s_micro"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_positions"),
        expr("sum(s_micro) div count(1)").as("mean_score_micro"))
      .orderBy(col("bucket"))
  }

  /** Nucleus-vocabulary size per source: the number of head tokens
    * covering 90% of the source's token mass (rank by count desc, tie
    * by token), and its share of the type inventory — the
    * concentration readout that separates a boilerplate-dominated
    * source (tiny nucleus) from genuinely diverse text, and the
    * empirical basis for truncated-vocab budgets. Per-source rank and
    * cumulative windows on one exchange; the 9/10 mass test is exact
    * cross-multiplied integers.
    */
  def nucleusVocabQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(spark, sfDir)
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) >= 1)
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source")).orderBy(col("c").desc, col("token"))
    val cum = tok.withColumn("cum",
      sum(col("c")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val tots = tok.groupBy(col("source"))
      .agg(sum(col("c")).as("tot"), count(lit(1)).as("n_types"))
    cum.join(broadcast(tots), "source")
      .groupBy(col("source"))
      .agg(max(col("tot")).as("n_tokens"), max(col("n_types")).as("n_types"),
        sum(when((col("cum") - col("c")) * 10 < lit(9) * col("tot"), 1L)
          .otherwise(0L)).as("p90_types"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("p90_types"),
        expr("p90_types * 1000000 div n_types").as("p90_share_e6"))
      .orderBy(col("source"))
  }

  /** Gini concentration of the per-source token-count distribution —
    * vocabulary inequality as ONE number per source (0 = uniform use,
    * →1 = a few tokens dominate), the corpus-diversity line next to
    * [[nucleusVocabQ]]'s head count: exact rank-weighted formula
    * G = (2Σi·cᵢ − (n+1)Σc)/(n·Σc) over ascending (count, token)
    * ranks, decimal(38) numerator, floored once to e6. One exchange
    * for the per-source rank window, then a source-sized reduce.
    */
  def tokenGiniQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(spark, sfDir)
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) >= 1)
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source")).orderBy(col("c").asc, col("token"))
    tok.withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_tokens"),
        sum(expr("cast(i as decimal(38,0)) * c")).as("sic"))
      .select(col("source"), col("n_types"), col("n_tokens"),
        expr("""cast((2 * sic - cast(n_types + 1 as decimal(38,0)) * n_tokens)
               * 1000000 div (cast(n_types as decimal(38,0)) * n_tokens)
               as bigint)""").as("gini_e6"))
      .orderBy(col("source"))
  }

  /** Gradient-noise-scale / critical-batch-size estimate per source
    * (McCandlish et al. 2018, "An Empirical Model of Large-Batch
    * Training"): B_simple = tr(Σ)/|G|² over the per-example gradients
    * gᵢ = yᵢ·xᵢ of the linear en-vs-rest classifier on hashed
    * bag-of-words counts ([[ops.Classify.tokenBucketCounts]]). Because
    * the features are exact integer counts and yᵢ ∈ {−1, 1}, the whole
    * statistic reduces to three integer moments — T = Σᵢ|xᵢ|²,
    * Sₕ = Σᵢ yᵢxᵢₕ, n — and B_simple = (n·T − Σ Sₕ²)/Σ Sₕ², computed
    * exactly. One count pass, one bucket-bounded aggregate; the source
    * whose gradients are noisiest is the one that tolerates (needs)
    * the largest batch.
    */
  def gradNoiseQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"),
      col("text"), when(col("lang") === "en", 1L).otherwise(-1L).as("y"))
    val cnt = graft.ops.Classify.tokenBucketCounts(
      d, "doc_id", "text", "gn:", 64, carry = Seq("source", "y"))
    val perBucket = cnt.groupBy(col("source"), col("bucket"))
      .agg(sum(col("y") * col("n")).as("s"),
        sum(expr("cast(n as decimal(38,0)) * n")).as("t"))
    perBucket.groupBy(col("source"))
      .agg(sum(col("t")).as("tt"),
        sum(expr("cast(s as decimal(38,0)) * s")).as("ss"))
      .join(cnt.groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs")), "source")
      .select(col("source"), col("n_docs"),
        col("tt").cast("long").as("grad_sumsq"),
        col("ss").cast("long").as("gnorm2_sum"),
        expr("""(cast(n_docs as decimal(38,0)) * tt - ss) * 1000000
               div nullif(ss, 0)""").as("b_simple_e6"))
      .orderBy(col("source"))
  }

  /** Greedy maximal-coverage data selection (the facility-location /
    * submodular-selection stage of a curation pipeline): pick K = 8
    * documents one at a time, each maximizing the number of NOT-yet-
    * covered 3-token shingles (tie → lowest doc_id) — the classic
    * (1−1/e) greedy with exact marginal gains, over the phrasing
    * universe rather than bare token types (the synthetic vocabulary
    * is 30 tokens, so unigram coverage saturates in one pick; 3-grams
    * give a 16k+ universe). The distinct (doc, gram) table is built
    * once and persisted; every round is one anti join against the
    * winners' gram set plus one doc-keyed count — K linear passes, no
    * pairwise work (CELF lazy evaluation is the documented refinement
    * when K grows). The driver holds only the K winner ids.
    */
  def maxCoverageQ(spark: SparkSession, sfDir: String): DataFrame = Checkpoints.scoped { s =>
    val k = 8
    val dt = s.persist(Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(ws) - 3),
           i -> concat(ws[i], ' ', ws[i + 1], ' ', ws[i + 2]))""")).as("tok"))
      .distinct()
      // partitioned on doc_id — the key of every round's marginal-gain
      // aggregate — so the K argmax passes and the checkpointed uncovered
      // tables they derive from all reuse this one hash partitioning
      // (guide §2.3/2.4) instead of re-exchanging the (doc, gram) table
      // once per round
      .repartition(col("doc_id")))
    val totalTypes = dt.select(col("tok")).distinct().count()
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var cum = 0L
    // the uncovered (doc, gram) table shrinks monotonically: maintain
    // it across rounds (one anti join against the LAST winner's
    // remaining tokens, a scoped checkpoint whose predecessor — dt
    // itself after round 1 — is released once it exists) instead of re-deriving coverage from ALL
    // winners each round — same set by induction (a winner's tokens
    // still in uncov ARE its uncovered tokens), with a round's anti-join
    // build side one doc instead of a growing distinct
    var uncov: DataFrame = dt
    (1 to k).foreach { r =>
      val win = uncov.groupBy(col("doc_id")).agg(count(lit(1)).as("g"))
        .orderBy(col("g").desc, col("doc_id")).limit(1).collect()
      if (win.nonEmpty) {
        cum += win(0).getLong(1)
        picks += ((r.toLong, win(0).getLong(0), win(0).getLong(1), cum))
        if (r < k) {
          // the build side is the winner's REMAINING tokens — exactly
          // `gain` rows (just collected), so the broadcast is size-proven
          // and the anti join streams the doc_id-partitioned uncovered
          // table without an exchange; past the gate the planner's
          // shuffle join is the honest fallback
          val winToks = uncov.filter(col("doc_id") === win(0).getLong(0))
            .select(col("tok"))
          val next = s.checkpoint(uncov.join(
            gatedBroadcast(winToks, win(0).getLong(1)), Seq("tok"), "left_anti"))
          s.release(uncov)
          uncov = next
        }
      }
    }
    import spark.implicits._
    picks.toSeq.toDF("round", "doc_id", "gain", "covered_types")
      .select(col("round"), col("doc_id"), col("gain"), col("covered_types"),
        expr(s"covered_types * 1000000 div ${totalTypes}L")
          .as("covered_share_e6"))
      .orderBy(col("round"))
  }

  /** Per-label embedding dispersion — the mean pairwise squared L2
    * distance WITHOUT any pairwise join, via the moment identity
    * Σ_{i<j}|xᵢ−xⱼ|² = n·Σ|xᵢ|² − |Σxᵢ|²: elements are e6-quantized
    * first (exact order-free integer sums, the [[embedDriftQ]]
    * discipline), then one (label × dim)-bounded aggregate yields both
    * moments. The identity IS the 100 TB story: semantic-diversity
    * audits over billions of vectors collapse to one linear scan where
    * the naive formulation is a quadratic self-join.
    */
  def embedDispersionQ(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        floor(col("x").cast("double") * lit(1000000.0)).cast("long").as("qx"))
    val byDim = q.groupBy(col("label"), col("dim"))
      .agg(sum(col("qx")).as("s"), count(lit(1)).as("n"),
        sum(expr("cast(qx as decimal(38,0)) * qx")).as("t"))
    byDim.groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"), sum(col("t")).as("tt"),
        sum(expr("cast(s as decimal(38,0)) * s")).as("ss"))
      .select(col("label"), col("n_vecs"),
        expr("tt div n_vecs").as("mean_norm2_e12"),
        expr("""(cast(n_vecs as decimal(38,0)) * tt - ss) * 2
               div nullif(cast(n_vecs as decimal(38,0)) * (n_vecs - 1), 0)""")
          .as("mean_pairdist2_e12"))
      .orderBy(col("label"))
  }

  /** CCNet-style perplexity buckets (Wenzek et al. 2020): per
    * language, documents are ranked by mean LM score under the
    * [[lmScoreQ]] reference model and split into head / middle / tail
    * terciles — the bucket assignment CCNet uses to keep head+middle
    * and drop the tail. Mean per-bigram score is an exact truncating
    * integer division (negative-safe: both engines truncate toward
    * zero); the tercile is `(rank−1)·3 div n` off one per-language
    * rank window. Readout per (lang, bucket): doc count, mean of the
    * per-doc means, and how many sources feed the bucket.
    */
  def ccnetBucketsQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    val (uni, bi, totals) =
      graft.ops.LanguageModel.train(docs.filter(col("lang") === "en"), "text")
    val perDoc = graft.ops.LanguageModel.score(
        docs, uni, bi, totals, "doc_id", "text", carry = Seq("lang", "source"))
      .select(col("doc_id"), col("lang"), col("source"),
        expr("score_micro div n_bigrams").as("avg_micro"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("avg_micro").desc, col("doc_id"))
    val nl = perDoc.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    perDoc.withColumn("rank", row_number().over(w).cast("long"))
      .join(broadcast(nl), "lang")
      .select(col("lang"), col("source"), col("avg_micro"),
        expr("(rank - 1) * 3 div n_lang").as("bucket"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(avg_micro) div count(1)").as("mean_avg_micro"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** DP-SGD clipping-bound audit over EXACT per-example gradient
    * norms: for each candidate clip bound C, the fraction of examples
    * clipped and the gradient-mass retention Σmin(‖gᵢ‖,C) / Σ‖gᵢ‖ —
    * the two curves a privacy team reads before fixing C (too low:
    * all signal clipped; too high: noise σ·C swamps the update).
    * Per-example norms come from the same hashed-count featurizer as
    * [[gradNoiseQ]] (`‖gᵢ‖² = Σ cᵢₕ²`, exact), the norm is one IEEE
    * floor-sqrt per doc, and the 4-point C grid is a literal explode —
    * one count pass, one 4-row aggregate.
    */
  def gradClipQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val norms = graft.ops.Classify.tokenBucketCounts(d, "doc_id", "text", "gn:", 64)
      .groupBy(col("doc_id")).agg(sum(col("n") * col("n")).as("m2"))
      .select(col("doc_id"),
        expr("cast(floor(sqrt(cast(m2 as double))) as bigint)").as("nrm"))
    norms.select(col("nrm"),
        explode(expr("array(16L, 32L, 64L, 128L)")).as("clip_c"))
      .groupBy(col("clip_c"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nrm") > col("clip_c"), 1L).otherwise(0L)).as("n_clipped"),
        sum(least(col("nrm"), col("clip_c"))).as("kept"),
        sum(col("nrm")).as("total"))
      .select(col("clip_c"), col("n_docs"), col("n_clipped"),
        expr("n_clipped * 1000000 div n_docs").as("frac_clipped_e6"),
        expr("kept * 1000000 div nullif(total, 0)").as("mass_kept_e6"))
      .orderBy(col("clip_c"))
  }

  /** Confident-learning label-noise matrix (Northcutt et al. 2021):
    * the joint count of (given language label, confidently-predicted
    * label) under the [[perceptronOvrQ]] one-vs-rest model — the
    * off-diagonal mass IS the estimated label-noise rate, per pair.
    * Class thresholds are the per-class mean self-confidence (mean OvR
    * score over docs carrying that label), compared exactly by
    * cross-multiplication; a document joins the matrix only if some
    * class clears its threshold, under the highest-scoring such class
    * (tie → label ascending). One scores pass
    * ([[ops.Classify.perceptronScoresOvr]], broadcast model), one
    * label-bounded threshold table, one doc-keyed argmax.
    */
  def labelNoiseQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (w, b) = povrModel(spark, sfDir)
    // the score table feeds BOTH the threshold aggregate and the join —
    // one (5 rows/doc)-bounded checkpoint instead of two scoring passes
    val scores = graft.ops.Classify.perceptronScoresOvrOnCounts(
      povrCounts(spark, sfDir), w, b, "doc_id", Seq("lang", "source"),
      Seq("lang"))
      .localCheckpoint(true)
    val thr = scores.filter(col("lang") === col("_m_label"))
      .groupBy(col("_m_label"))
      .agg(sum(col("score")).as("ts"), count(lit(1)).as("tn"))
    scores.join(broadcast(thr), "_m_label")
      .filter(expr("cast(score as decimal(38,0)) * tn >= cast(ts as decimal(38,0))"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(min(struct((-col("score")).as("neg"), col("_m_label"))).as("best"))
      .groupBy(col("lang").as("given_lang"),
        col("best._m_label").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("given_lang"), col("pred_lang"))
  }

  /** Curation-gate attribution Venn: every document is flagged
    * INDEPENDENTLY by each of the six gates the pipeline runs —
    * language dominance and quality floor (the [[ops.Curation.gate]]
    * predicates), exact duplication (not the min-id of its md5 text
    * group), near duplication (the verified-Jaccard LSH loser rule,
    * [[ops.Dedup.minhashLsh]] doc_b), LM perplexity
    * (score < [[ops.Curation.LmPerBigramMicro]]·n, absent-scores
    * keep), and the Gopher rule set — and the corpus rolls up per
    * observed flag COMBINATION. The off-diagonal structure is the
    * audit a 100 TB pipeline needs before reordering or dropping a
    * gate: unique-kill counts fall out of the single-flag rows,
    * overlap from the rest. All six flags are one scan each (doc-keyed
    * equi joins); the LSH stage runs over exact-text REPRESENTATIVES
    * only (min-id per md5 group) with the loser flag propagated back
    * through the group — identical bytes have identical shingles, so
    * the flags are unchanged for any doc not already exact-killed,
    * and the verify-join volume stops scaling with exact-duplicate
    * family size (the never-shingle-the-same-bytes-twice rule; the
    * banded candidate join is never all-pairs).
    */
  def filterAttributionQ(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.GraftFunctions.eval_once
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"))
    val scores = graft.ops.TextOps.LangStopwords.map { case (l, _) =>
      eval_once(graft.ops.TextOps.langScore(col("text"), l)).as(s"s_$l")
    }
    val lq = docs
      .select(col("doc_id") +: scores :+
        eval_once(graft.ops.TextOps.qualityScore(col("text"))).as("quality"): _*)
      .select(col("doc_id"),
        (!(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") &&
          col("s_en") >= col("s_zh") && col("s_en") > 0)).as("kill_lang"),
        (col("quality") < graft.ops.Curation.QualityMin).as("kill_quality"))
    val withRep = docs.select(col("doc_id"), col("text"))
      .withColumn("rid", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))))
    val loserReps = graft.ops.Dedup.minhashLsh(
        withRep.filter(col("doc_id") === col("rid"))
          .select(col("doc_id"), col("text")),
        graft.ops.Curation.JaccardMin)
      .select(col("doc_b").as("rid")).distinct()
      .withColumn("kn", lit(true))
    val exNear = withRep.select(col("doc_id"), col("rid"),
        (col("doc_id") =!= col("rid")).as("kill_exact"))
      .join(loserReps, Seq("rid"), "left")
      .select(col("doc_id"), col("kill_exact"),
        coalesce(col("kn"), lit(false)).as("kill_near"))
    val (uni, bi, tot) = graft.ops.LanguageModel.train(
      docs.filter(col("lang") === "en"), "text")
    val lm = graft.ops.LanguageModel.score(docs, uni, bi, tot, "doc_id", "text",
        thrPerBigramMicro = graft.ops.Curation.LmPerBigramMicro)
      .select(col("doc_id"), (!col("keep")).as("kl"))
    val gop = gopherFlags(docs, Seq("doc_id"))
      .select(col("doc_id"), (!col("keep")).as("kill_gopher"))
    lq.join(exNear, "doc_id")
      .join(lm, Seq("doc_id"), "left")
      .join(gop, "doc_id")
      .select(col("kill_lang"), col("kill_quality"), col("kill_exact"),
        col("kill_near"),
        coalesce(col("kl"), lit(false)).as("kill_lm"), col("kill_gopher"))
      .groupBy(col("kill_lang"), col("kill_quality"), col("kill_exact"),
        col("kill_near"), col("kill_lm"), col("kill_gopher"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("kill_lang"), col("kill_quality"), col("kill_exact"),
        col("kill_near"), col("kill_lm"), col("kill_gopher"))
  }

  /** Chinchilla-style compute-allocation plan (Hoffmann et al. 2022's
    * 20-tokens-per-parameter rule of thumb) against THIS corpus: for
    * each model size in the standard ladder, the compute-optimal token
    * budget 20·N, the training FLOPs 6·N·D = 120·N² (reported in
    * petaFLOPs), and how many epochs of the actual corpus that budget
    * implies — the one-table answer to "how big a model can this
    * dataset feed, and when do we start repeating data". One corpus
    * token count + an 8-row literal lattice; all arithmetic exact
    * (decimal(38) intermediates).
    */
  def computePlanQ(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(size(split(trim(lower(col("text"))), "\\s+")).cast("long").as("n"))
      .agg(sum(col("n")).as("d_avail"))
    toks.select(col("d_avail"), explode(expr(
        """array(125000000L, 350000000L, 1300000000L, 2700000000L,
           6700000000L, 13000000000L, 30000000000L, 70000000000L)"""))
        .as("n_params"))
      .select(col("n_params"), col("d_avail"),
        expr("n_params * 20").as("tokens_needed"),
        expr("""cast(cast(n_params as decimal(38,0)) * n_params * 120
               div 1000000000000000 as bigint)""").as("flops_pf"),
        expr("n_params * 20 * 1000000 div d_avail").as("epochs_needed_e6"),
        expr("n_params * 20 <= d_avail").as("fits_one_epoch"))
      .orderBy(col("n_params"))
  }

  /** TracIn-style gradient-alignment data valuation (Pruthi et al.
    * 2020, reduced to the linear hashed-count model the pipeline can
    * afford at corpus scale): a held-out eval slice (deterministic
    * hash split — never id parity) defines the eval gradient
    * E = Σ yᵢxᵢ over 64 hashed buckets; every training document's
    * alignment is the exact integer dot product y_d·⟨x_d, E⟩ — positive
    * means "an update on this doc moves the model the way the eval set
    * wants". One count pass + one broadcast join against the 64-row
    * eval vector; per-source rollup of mean alignment and the share of
    * docs pushing the right way.
    */
  def gradAlignQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"),
        col("text"), when(col("lang") === "en", 1L).otherwise(-1L).as("y"))
      .withColumn("is_eval", graft.ops.TextOps.portableHash64(
        concat(lit("ga:"), col("doc_id"))) % 10 === 0)
    val cnt = graft.ops.Classify.tokenBucketCounts(
      d, "doc_id", "text", "gn:", 64, carry = Seq("source", "y", "is_eval"))
    val evalGrad = cnt.filter(col("is_eval"))
      .groupBy(col("bucket")).agg(sum(col("y") * col("n")).as("e"))
    cnt.filter(!col("is_eval"))
      .join(broadcast(evalGrad), Seq("bucket"), "left")
      .groupBy(col("doc_id"), col("source"), col("y"))
      .agg(sum(col("n") * coalesce(col("e"), lit(0L))).as("dot"))
      .select(col("source"), (col("y") * col("dot")).as("align"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(align) div count(1)").as("mean_align"),
        sum(when(col("align") > 0, 1L).otherwise(0L)).as("n_aligned"))
      .select(col("source"), col("n_docs"), col("mean_align"), col("n_aligned"),
        expr("n_aligned * 1000000 div n_docs").as("aligned_share_e6"))
      .orderBy(col("source"))
  }

  /** Uncertainty-sampling batch audit (margin-based active learning):
    * every document's margin is the exact integer gap between its top
    * two one-vs-rest perceptron scores (ties → label order), and the
    * selection rule is "margin below half the global mean margin",
    * compared by cross-multiplication so no division ever rounds.
    * Per-source readout of mean margin and the selected share — the
    * table that says WHERE the labeling budget would go. One scores
    * pass ([[ops.Classify.perceptronScoresOvr]]), one bounded 5-row
    * per-doc rank window, one broadcast global aggregate.
    */
  def marginSampleQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (w, b) = povrModel(spark, sfDir)
    val scores = graft.ops.Classify.perceptronScoresOvrOnCounts(
      povrCounts(spark, sfDir), w, b, "doc_id", Seq("lang", "source"),
      Seq("source"))
    val ww = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("_m_label"))
    val margins = scores.withColumn("rn", row_number().over(ww))
      .filter(col("rn") <= 2)
      .groupBy(col("doc_id"), col("source"))
      .agg((max(when(col("rn") === 1, col("score")))
        - max(when(col("rn") === 2, col("score")))).as("margin"))
    val tot = margins.agg(sum(col("margin")).as("ms"),
      count(lit(1)).as("mn"))
    margins.crossJoin(broadcast(tot))
      .select(col("source"), col("margin"),
        (expr("cast(margin as decimal(38,0)) * mn * 2") <
          expr("cast(ms as decimal(38,0))")).as("selected"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(margin) div count(1)").as("mean_margin"),
        sum(when(col("selected"), 1L).otherwise(0L)).as("n_selected"))
      .select(col("source"), col("n_docs"), col("mean_margin"),
        col("n_selected"),
        expr("n_selected * 1000000 div n_docs").as("sel_share_e6"))
      .orderBy(col("source"))
  }

  /** RHO-loss style cross-fitted data selection (Mindermann et al.
    * 2022, "Prioritized Training on Points that are Learnable, Worth
    * Learning, and Not Yet Learnt", reduced to the bigram LM): English
    * docs are hash-split into two halves, a Stupid-Backoff model is
    * trained on each half and on the full English corpus, and every
    * document's RHO score is `s_holdout − s_full` — its log-prob under
    * the model that never saw its half, minus under the full model —
    * all three scorings over the SAME bigram set, so the difference is
    * an exact integer with no division. Positive RHO = learnable
    * (another model explains it) but not yet learnt (the full model
    * doesn't) — the dump-worthy points sit deep negative. Per-source
    * mean RHO and the positive share; three model joins, one corpus
    * scoring pass each, models vocab-bounded.
    */
  def rhoSelectionQ(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
      .withColumn("half", graft.ops.TextOps.portableHash64(
        concat(lit("rho:"), col("doc_id"))) % 2)
    val en = docs.filter(col("lang") === "en")
    def scoreWith(model: (DataFrame, DataFrame, DataFrame), out: String) = {
      val (uni, bi, tot) = model
      graft.ops.LanguageModel.score(docs, uni, bi, tot, "doc_id", "text",
          carry = Seq("source", "half"))
        .select(col("doc_id"), col("source"), col("half"),
          col("score_micro").as(out))
    }
    val sa = scoreWith(graft.ops.LanguageModel.train(
      en.filter(col("half") === 0), "text"), "s_a")
    val sb = scoreWith(graft.ops.LanguageModel.train(
      en.filter(col("half") === 1), "text"), "s_b")
      .select(col("doc_id"), col("s_b"))
    val sf = scoreWith(graft.ops.LanguageModel.train(en, "text"), "s_f")
      .select(col("doc_id"), col("s_f"))
    sa.join(sb, "doc_id").join(sf, "doc_id")
      .select(col("source"),
        (when(col("half") === 0, col("s_b")).otherwise(col("s_a"))
          - col("s_f")).as("rho"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(rho) div count(1)").as("mean_rho_micro"),
        sum(when(col("rho") > 0, 1L).otherwise(0L)).as("n_positive"))
      .select(col("source"), col("n_docs"), col("mean_rho_micro"),
        col("n_positive"),
        expr("n_positive * 1000000 div n_docs").as("pos_share_e6"))
      .orderBy(col("source"))
  }

  /** Tokenizer-size frontier: corpus compression at BPE merge-prefix
    * k ∈ {0, 2, 4, 6, 8} of the memoized 8-merge model — because BPE
    * merges apply in learned order, the encoding under the first k
    * merges is exactly the k-th intermediate state of training, so the
    * whole curve costs five type-dictionary encodes (word-type
    * bounded, never a corpus re-scan) against the one trained model.
    * The diminishing marginal chars-per-subword gain across rows IS
    * the vocab-budget readout. k = 0 is the char+terminator baseline.
    */
  def bpeCurveQ(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val base = graft.ops.Bpe.wordTypes(docs, "text")
      .agg(sum(col("freq")).as("w"),
        sum(col("freq") * length(col("word")).cast("long")).as("c")).collect()(0)
    val (nWords, nChars) = (base.getLong(0), base.getLong(1))
    val curve = bpeCurvePts(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    import spark.implicits._
    curve.toSeq.sortBy(_._1).map { case (k, nSub) =>
      (k, nWords, nChars, nSub, nChars * 1000L / nSub)
    }.toDF("k_merges", "n_words", "n_chars", "n_subwords",
      "chars_per_subword_e3")
      .orderBy(col("k_merges"))
  }

  /** Per-source unigram KL divergence from the corpus token mix —
    * D(p_source ‖ p_corpus) = Σ_t p_s(t)·ln(p_s(t)/p_c(t)) — the
    * distribution-shift number behind mixture reweighting: a source
    * with near-zero KL is interchangeable with the average mix, a
    * high-KL source is the one DoReMi-style methods up/down-weight.
    * Counts are exact; one ln per (source, type) model row is micro6'd
    * (the [[lmScoreQ]] model-row discipline — vocab-bounded, and in
    * the known-ULP-flaky inventory) and weighted exactly. No
    * smoothing is needed: every source token is in the corpus by
    * construction.
    */
  def sourceKlQ(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) >= 1)
    val st = tok.groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
    val srcTot = st.groupBy(col("source")).agg(sum(col("c")).as("ns"),
      count(lit(1)).as("n_types"))
    val corp = st.groupBy(col("token")).agg(sum(col("c")).as("ct"))
    val n = corp.agg(sum(col("ct")).as("n")).select(col("n"))
    st.join(broadcast(corp), "token").join(broadcast(srcTot), "source")
      .crossJoin(broadcast(n))
      .select(col("source"), col("ns"), col("n_types"), col("c"),
        floor(log((col("c") * col("n")).cast("double")
          / (col("ns") * col("ct")).cast("double")) * lit(1000000.0)
          + lit(0.5)).cast("long").as("lt"))
      .groupBy(col("source"), col("ns"), col("n_types"))
      .agg(sum(col("c") * col("lt")).as("num"))
      .select(col("source"), col("ns").as("n_tokens"), col("n_types"),
        expr("num div ns").as("kl_micro"))
      .orderBy(col("source"))
  }

  /** Densest-subgraph peel certificate over the part co-occurrence
    * graph ([[graft.ops.Graph.densestPeel]], Bahmani ε = 1, direction
    * multiplicity as edge weight): 8 rounds of
    * remove-below-twice-average-degree, each row the round's subgraph
    * size, exact density (edges·10⁶ div |V|, truncating), the
    * rule-removed count, and the best-density flag (earliest max) —
    * the community-core extraction that k-core's fixed threshold
    * can't see. Only 8 stat triples reach the driver; every round is
    * one node-keyed degree aggregate + two semi-joins over the
    * directed checkpoint (no |E|-keyed aggregate ever runs — the
    * q_mis x100 OOM lesson, see the op scaladoc).
    */
  def densestQ(spark: SparkSession, sfDir: String): DataFrame = {
    val stats = graft.ops.Graph.densestPeel(
      partAdjacencyEdges(spark, sfDir).select(col("src"), col("dst")), 8)
    val rows = stats.map { case (r, nv, u, rm) =>
      (r, nv, u / 2L, if (nv == 0L) None else Some(u * 1000000L / (2L * nv)), rm)
    }
    val best: Option[Long] = {
      val ds = rows.flatMap(_._4)
      if (ds.isEmpty) None
      else {
        val m = ds.max
        rows.find(_._4.contains(m)).map(_._1)
      }
    }
    import spark.implicits._
    rows.map { case (r, nv, ne, d, rm) =>
      (r, nv, ne, d, rm, best.contains(r))
    }.toDF("round", "n_nodes", "n_edges", "density_e6", "n_removed", "is_best")
      .orderBy(col("round"))
  }

  /** Coreness histogram of the part co-occurrence graph
    * ([[graft.ops.Graph.coreness]], 8 h-index rounds): how many
    * vertices sit at each k-core depth — the one-table summary of
    * graph cohesion that a single [[kCoreQ]] threshold can't give
    * (where does the core structure fall off?). Deterministic by
    * fixed rounds; histogram keys bounded by max degree.
    */
  def corenessQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Graph.coreness(
        partAdjacencyEdges(spark, sfDir).select(col("src"), col("dst")), 8,
        und0 = Some(undSrcEdges(spark, sfDir)))
      .groupBy(col("v").as("coreness"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("coreness"))

  /** Deterministic Linear-Threshold influence spread
    * ([[graft.ops.Graph.ltmCascade]]): the 16 highest-degree parts
    * seed a 4-round cascade with hash-ppm thresholds and uniform
    * 1/indeg in-weights — the influence-maximization EVALUATION side
    * (given seeds, how far does adoption spread?), exact because
    * every activation test is a cross-multiplied integer. Output is
    * the per-round adoption curve plus the final coverage share.
    */
  def cascadeQ(spark: SparkSession, sfDir: String): DataFrame = Checkpoints.scoped { s =>
    val e = partAdjacencyEdges(spark, sfDir).select(col("src"), col("dst"))
    val und = e.filter(col("src") =!= col("dst"))
    // the degree table feeds two driver actions (node count + seed
    // TakeOrdered): one |V|-sized checkpoint instead of two |E| degree
    // passes, released once the cascade (which consumes seeds eagerly)
    // has run
    val deg = s.checkpoint(und.select(col("src").as("node"))
      .union(und.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d")))
    val nNodes = deg.count()
    val seeds = deg.orderBy(col("d").desc, col("node")).limit(16)
      .select(col("node"))
    val curve = graft.ops.Graph.ltmCascade(e, seeds, 4, "ltm:")
    import spark.implicits._
    curve.map { case (r, newly, act) =>
      (r, newly, act, act * 1000000L / nNodes)
    }.toDF("round", "newly_active", "n_active", "coverage_e6")
      .orderBy(col("round"))
  }

  /** Duplicate-rate scaling curve: exact-duplicate share measured on
    * deterministic hash-nested 25% / 50% / 100% subcorpora — because
    * duplicate pairs grow superlinearly in corpus size, the dup rate
    * RISES with scale, and this three-point curve is the measurement
    * behind "how much dedup will 10× more crawl need". Nested subsets
    * (stratum < 1, < 2, < 4 of a salted hash) make the rows
    * comparable; one md5 group pass per subset, all ratios exact.
    */
  def dupScalingQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("h"),
        (graft.ops.TextOps.portableHash64(
          concat(lit("ds:"), col("doc_id"))) % 4).as("stratum"))
    Seq(1, 2, 4).map { s =>
      d.filter(col("stratum") < s)
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_distinct"))
        .select(lit(s * 25L).as("subset_pct"), col("n_docs"), col("n_distinct"),
          expr("(n_docs - n_distinct) * 1000000 div n_docs").as("dup_rate_e6"))
    }.reduce(_.unionAll(_)).orderBy(col("subset_pct"))
  }

  /** Sample-ratio-mismatch guard for the A/B assignment: the 1-df χ²
    * of the observed variant split against the intended 50/50 —
    * (n_a−n_b)²·10⁶ div (n_a+n_b), exact. The cheapest and most
    * important experiment health check there is (an SRM invalidates
    * [[abTestQ]]'s readout entirely); one per-user reduce and one row
    * out.
    */
  def abSrmQ(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .select(col("user_id")).distinct()
      .withColumn("v", expr("(user_id * 1000003 + 12345) % 97 % 2"))
      .groupBy()
      .agg(sum(when(col("v") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("v") === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        expr("""(n_a - n_b) * (n_a - n_b) * 1000000
                div (n_a + n_b)""").as("srm_chi2_e6"))
  }

  /** Good-Turing count-of-counts smoothing over the corpus trigram
    * vocabulary: N_r (trigram types seen exactly r times) for r ≤ 10,
    * the adjusted count r* = (r+1)·N_{r+1}/N_r, and the unseen mass
    * p0 = N_1/N — all e6-scaled exact integers (both engines truncate
    * `div` identically on positives). Trigrams (via
    * [[ops.TextOps.shingles3]]), not unigrams: the synthetic corpus
    * draws from a ~30-word vocabulary where every unigram occurs 25+
    * times, so only the 27k-combination trigram space has the rare
    * types (N_1, N_2, …) that Good-Turing exists to smooth. Scale
    * shape: the corpus-sized explode collapses to the type-sized count
    * table in one partial-agg pass; the count-of-counts table is
    * support-sized (distinct frequencies, O(√tokens)); the r→r+1
    * lookup is a self-join on that tiny table. Nothing after the
    * second aggregate grows with the corpus.
    */
  def goodTuringQ(spark: SparkSession, sfDir: String): DataFrame = {
    // materialize the token array BEFORE the shingle transform: passing
    // split(...) inline would re-evaluate the regex split inside every
    // element_at of the lambda — O(len²) per document (measured 25.8 s
    // -> ~2 s at sf0.1 for this one projection boundary)
    val counts = Tables.documents(spark, sfDir)
      .select(split(trim(lower(col("text"))), "\\s+").as("ws"))
      .select(TextOps.shingles3(col("ws")).as("grams"))
      .select(explode(col("grams")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val cc = counts.groupBy(col("cnt").as("r")).agg(count(lit(1)).as("n_r"))
    val tot = cc.groupBy().agg(
      sum(col("r") * col("n_r")).as("n_tokens"),
      sum(col("n_r")).as("n_types"),
      max(when(col("r") === 1, col("n_r"))).as("n1"))
    val nxt = cc.select((col("r") - 1).as("r"), col("n_r").as("n_r1"))
    cc.filter(col("r") <= 10)
      .join(nxt, Seq("r"), "left")
      .na.fill(0L, Seq("n_r1"))
      .crossJoin(broadcast(tot))
      .select(col("r"), col("n_r"), col("n_r1"),
        expr("((r + 1) * n_r1 * 1000000) div n_r").as("rstar_e6"),
        col("n_types"), col("n_tokens"),
        expr("(n1 * 1000000) div n_tokens").as("p0_e6"))
      .orderBy(col("r"))
  }

  /** One-way ANOVA of lineitem quantity across return flags: between /
    * within sums of squares and the F statistic, e6-scaled exact
    * integers end to end. ONE partial-agg pass over the fact table
    * reduces it to k=3 sufficient-stat rows (n, Σq, Σq²); the squared
    * sums ride decimal(38,0) so Σq² never leaves exact integers, and
    * every division is an integer `div` replayed verbatim in the
    * oracle — no float appears anywhere. Magnitude envelope: S²·10⁶
    * stays inside decimal38 up to Σq ≈ 10¹⁶ (≫ any real corpus).
    */
  def anovaQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").as("grp"), round(col("l_quantity"), 0).cast("long").as("q"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"), sum(col("q") * col("q")).as("qq"))
      .groupBy()
      .agg(count(lit(1)).as("k"), sum(col("n")).as("n_total"),
        sum(col("s")).cast("decimal(38,0)").as("s_total"),
        sum(col("qq")).as("qq_total"),
        sum(expr("(cast(s as decimal(38,0)) * s * 1000000) div n")).as("a_e6"))
      .select(col("k"), col("n_total"),
        expr("a_e6 - ((s_total * s_total * 1000000) div n_total)").as("ssb_e6"),
        expr("qq_total * 1000000 - a_e6").as("ssw_e6"))
      .select(col("k"), col("n_total"), col("ssb_e6"), col("ssw_e6"),
        expr("""(cast(ssb_e6 as decimal(38,0)) * (n_total - k) * 1000000)
                div nullif(cast(ssw_e6 as decimal(38,0)) * (k - 1), 0)""").as("f_e6"))

  /** Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
    * Chen & Goodman's interpolated form) with absolute discount
    * D = 3/4, for the 30 most frequent bigrams: P_KN(w2|w1) =
    * (c(w1,w2) − D)/c(w1·) + λ(w1)·P_cont(w2), where λ(w1) =
    * D·N1+(w1·)/c(w1·) and P_cont(w2) = N1+(·w2)/|bigram types|. The
    * ¾ discount makes every term a ratio of integers, so the whole
    * probability is e6-scaled exact integer arithmetic — identical
    * truncation on both engines. Scale shape: ONE narrow corpus pass
    * (array-side bigram construction, no per-token shuffle) partial-
    * aggregates to the bigram-TYPE table; all KN statistics (left/
    * right continuation counts, the type total) are aggregates over
    * that type-sized table, and the final top-30 is orderBy+limit
    * (TakeOrdered). Nothing after the first aggregate grows with the
    * corpus.
    */
  def kneserNeyQ(spark: SparkSession, sfDir: String): DataFrame = {
    // slice + zip_with, not transform + element_at — element_at inside
    // a lambda re-evaluates the array child per element once
    // CollapseProject re-inlines the split (the shingles3 O(len²) trap)
    val ws = col("ws")
    val bigrams = when(size(ws) >= 2,
      zip_with(slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val c12 = Tables.documents(spark, sfDir)
      .select(split(trim(lower(col("text"))), "\\s+").as("ws"))
      .select(explode(bigrams).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val left = c12.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1fw"))
    val right = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1bw"))
    val total = c12.groupBy().agg(count(lit(1)).as("nbig"))
    c12.join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        col("n1fw"), col("n1bw"),
        expr("""(((4 * c12 - 3) * 250000) div c1)
                + ((((3 * n1fw * 250000) div c1)
                    * ((n1bw * 1000000) div nbig)) div 1000000)""").as("pkn_e6"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(30)
  }

  /** RAKE keyword extraction (Rose et al. 2010): documents split into
    * candidate phrases at stopword boundaries (the [[ops.TextOps]] 'en'
    * stopword list), each word scored deg/freq where deg sums the
    * lengths of every phrase instance containing it, and each distinct
    * phrase scored as the sum of its member words' e6-scaled scores —
    * the top 20 by score. Integer-exact end to end ((deg·10⁶) div
    * freq, summed). Scale shape: ONE tokenize pass; the phrase-id
    * running count is a per-document window (bounded by document
    * length, never the corpus); phrase assembly and both score
    * aggregates are partial-agg shuffles on (doc, phrase) / word /
    * phrase-text keys; the word-score join broadcasts (vocabulary-
    * sized); final top-20 is orderBy+limit (TakeOrdered).
    */
  def rakeQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stop = Seq("the", "a", "and", "of", "to")
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        posexplode(split(trim(lower(col("text"))), "\\s+")).as(Seq("pos", "w")))
      .withColumn("is_stop", col("w").isin(stop: _*))
    val phraseId = sum(col("is_stop").cast("long"))
      .over(Window.partitionBy(col("doc_id")).orderBy(col("pos")))
    val phrases = toks.withColumn("phrase_id", phraseId)
      .filter(!col("is_stop"))
      .groupBy(col("doc_id"), col("phrase_id"))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("w")))),
          t => t.getField("w"))).as("phrase"),
        count(lit(1)).as("plen"))
    val wordScores = phrases
      .select(col("plen"), explode(split(col("phrase"), " ")).as("w"))
      .groupBy(col("w"))
      .agg(sum(col("plen")).as("deg"), count(lit(1)).as("freq"))
      .select(col("w"), expr("(deg * 1000000) div freq").as("wscore_e6"))
    phrases.groupBy(col("phrase")).agg(count(lit(1)).as("n_occur"))
      .select(col("phrase"), col("n_occur"), explode(split(col("phrase"), " ")).as("w"))
      .join(broadcast(wordScores), "w")
      .groupBy(col("phrase"), col("n_occur"))
      .agg(count(lit(1)).as("plen"), sum(col("wscore_e6")).as("score_e6"))
      .select(col("phrase"), col("plen"), col("n_occur"), col("score_e6"))
      .orderBy(col("score_e6").desc, col("phrase"))
      .limit(20)
  }

  /** Harmonic centrality of the 10 lowest-id nodes of the part-
    * adjacency graph (Boldi & Vigna's preferred closeness variant —
    * unreachable nodes contribute 0 instead of breaking the mean):
    * HC(s) = Σ_{t≠s} 1/d(s,t), e6-scaled with truncating integer
    * division per term so both engines sum identical integers. Exact
    * per-root BFS via [[graft.ops.Graph.bfsDistancesPerSource]] —
    * state |roots|·|reachable|, the sampled-centrality contract (at
    * 100 TB you budget the root count, never the reach). Also emits
    * reach count and total distance (the closeness numerator) per
    * root.
    */
  /** Per-root hop distances of the 10 lowest-id roots over the part-
    * adjacency graph ([[graft.ops.Graph.bfsDistancesPerSource]]),
    * memoized per session: q_harmonic_centrality, q_closeness and
    * q_eccentricity aggregate this EXACT table (same edges, same
    * roots, same fixpoint), so each was re-running the identical
    * multi-round BFS — the wedge_support shared-pass pattern. The
    * result is already an eagerly-materialized localCheckpoint, so the
    * memo just keeps it for the session (released between bench
    * passes like every memo).
    */
  private def bfs10Distances(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.SessionMemo(spark, ("bfs10_dist", sfDir)) {
      val e = partAdjacencyEdges(spark, sfDir).select(col("src"), col("dst"))
      val nodes = e.filter(col("src") =!= col("dst"))
      val roots = nodes.select(col("src").as("node"))
        .union(nodes.select(col("dst").as("node")))
        .distinct().orderBy(col("node")).limit(10)
      graft.ops.Graph.bfsDistancesPerSource(e, roots,
        und0 = Some(undSrcEdges(spark, sfDir)))
    }

  def harmonicCentralityQ(spark: SparkSession, sfDir: String): DataFrame = {
    bfs10Distances(spark, sfDir)
      .filter(col("d") > 0)
      .groupBy(col("root"))
      .agg(count(lit(1)).as("n_reached"), sum(col("d")).as("sum_d"),
        sum(expr("1000000 div d")).as("harmonic_e6"))
      .orderBy(col("root"))
  }

  /** Per-point silhouette of the k-means clustering for the 50-probe
    * eval set (the [[mrrQ]] contract: probes broadcast, the corpus is
    * scanned once — silhouette is inherently O(n²), so at scale you
    * sample the probe side and keep the corpus pass linear): a(i) =
    * mean distance to the probe's own cell, b(i) = min mean distance
    * to any other cell, s(i) = (b−a)/max(a,b). Every pairwise
    * Euclidean distance is 1e6-floor-quantized BEFORE the means, so
    * the per-cell sums are exact integers immune to accumulation
    * order, and both divisions truncate identically.
    */
  def silhouetteQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Similarity.asDouble(Tables.embeddings(spark, sfDir))
    val (assigned, _) = Similarity.kmeans(e, 3)
    val pts = e.join(assigned, "vec_id")
    val probes = probeSlice(pts, 50)
      .select(col("vec_id").as("probe_id"), col("cell").as("probe_cell"),
        col("embedding").as("pv"))
    val d2 = Similarity.dot(col("pv"), col("pv")) -
      lit(2.0) * Similarity.dot(col("pv"), col("cv")) +
      Similarity.dot(col("cv"), col("cv"))
    val cellMeans = pts
      .select(col("vec_id"), col("cell"), col("embedding").as("cv"))
      .crossJoin(broadcast(probes))
      .filter(col("probe_id") =!= col("vec_id"))
      .withColumn("dist_e6", floor(sqrt(greatest(d2, lit(0.0))) * lit(1000000.0)).cast("long"))
      .groupBy(col("probe_id"), col("probe_cell"), col("cell"))
      .agg(expr("sum(dist_e6) div count(1)").as("mean_e6"))
    val a = cellMeans.filter(col("cell") === col("probe_cell"))
      .select(col("probe_id"), col("probe_cell"), col("mean_e6").as("a_e6"))
    val b = cellMeans.filter(col("cell") =!= col("probe_cell"))
      .groupBy(col("probe_id")).agg(min(col("mean_e6")).as("b_e6"))
    a.join(b, "probe_id")
      .select(col("probe_id"), col("probe_cell"), col("a_e6"), col("b_e6"),
        expr("((b_e6 - a_e6) * 1000000) div greatest(a_e6, b_e6)").as("s_e6"))
      .orderBy(col("probe_id"))
  }

  /** Brown-Forsythe (median-centered Levene) test of variance equality
    * of lineitem quantity across return flags — [[anovaQ]]'s F
    * machinery applied to absolute deviations from each group's
    * median. The 2×-median trick ([[madQ]]) keeps the deviations
    * z = |2q − med2| exact integers, so the whole statistic is the
    * same decimal(38,0) integer chain as q_anova at 2× scale —
    * bit-identical on both engines. ONE fact pass to (grp, z), one
    * partial-agg to k sufficient-stat rows; the group medians ride a
    * broadcast.
    */
  def leveneQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val e = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").as("grp"),
        round(col("l_quantity"), 0).cast("long").as("q"))
    val med = e.groupBy(col("grp"))
      .agg(expr("cast(2 * percentile(q, 0.5) as bigint)").as("m2"))
    e.join(broadcast(med), "grp")
      .select(col("grp"), abs(lit(2) * col("q") - col("m2")).as("z"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("z")).as("s"),
        sum((col("z") * col("z")).cast(d38)).as("qq"))
      .groupBy()
      .agg(count(lit(1)).as("k"), sum(col("n")).as("n_total"),
        sum(col("s")).cast(d38).as("s_total"),
        sum(col("qq")).as("qq_total"),
        sum(expr(s"(cast(s as $d38) * s * 1000000) div n")).as("a_e6"))
      .select(col("k"), col("n_total"),
        expr("a_e6 - ((s_total * s_total * 1000000) div n_total)")
          .cast("long").as("ssb_e6"),
        expr("qq_total * 1000000 - a_e6").cast("long").as("ssw_e6"))
      .select(col("k"), col("n_total"), col("ssb_e6"), col("ssw_e6"),
        expr(s"""(cast(ssb_e6 as $d38) * (n_total - k) * 1000000)
                div nullif(cast(ssw_e6 as $d38) * (k - 1), 0)""")
          .cast("long").as("w_e6"))
  }

  /** Kruskal-Wallis rank test (the k-group extension of
    * [[mannWhitneyQ]]) of lineitem quantity across return flags — the
    * rank-based twin of [[anovaQ]], float-free: midranks at 2× scale
    * accumulated over the VALUE SUPPORT (l_quantity has ~50 distinct
    * values, so the rank walk is 50 rows regardless of corpus size),
    * H = 12/(N(N+1))·ΣR_i²/n_i − 3(N+1) carried as decimal(38,0)
    * integer arithmetic (R_i² = r2_i²/4 folds the 12 to 3), and the
    * tie-corrected H' = H·(N³−N)/(N³−N−Σ(t³−t)) from the same support
    * table. Magnitude envelope: r2² ≈ 4n_i²N² stays inside decimal38
    * up to N ≈ 3·10⁸ per group — a sample-statistic query by contract.
    */
  def kruskalWallisQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val pv = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").as("grp"),
        round(col("l_quantity"), 0).cast("long").as("v"))
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("c"))
    val sup = pv.groupBy(col("v")).agg(sum(col("c")).as("ct"))
    val w = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("v")))
      .orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val walked = sup.withColumn("lt", coalesce(sum(col("ct")).over(w), lit(0L)))
    val per = pv.join(walked, "v")
      .groupBy(col("grp"))
      .agg(sum(col("c")).as("n"),
        sum((col("c") * (lit(2) * col("lt") + col("ct") + 1)).cast(d38)).as("r2"))
    val ties = sup.groupBy()
      .agg(sum((col("ct") * col("ct") * col("ct") - col("ct")).cast(d38)).as("tie_cubed"))
    per.groupBy()
      .agg(count(lit(1)).as("k"), sum(col("n")).as("n_total"),
        sum(expr(s"(r2 * r2) div cast(n as $d38)")).as("srr"))
      .crossJoin(broadcast(ties))
      .withColumn("h_e6", expr(
        s"""(cast(3000000 as $d38) * srr)
            div (cast(n_total as $d38) * (n_total + 1))
            - cast(3 as $d38) * (n_total + 1) * 1000000"""))
      .select(col("k"), col("n_total"), col("tie_cubed").cast("long").as("tie_cubed"),
        col("h_e6").cast("long").as("h_e6"),
        expr(s"""cast((h_e6 * (cast(n_total as $d38) * n_total * n_total - n_total))
                 div (cast(n_total as $d38) * n_total * n_total - n_total - tie_cubed)
                 as bigint)""").as("h_corr_e6"))
  }

  /** Binary-hamming ANN: each embedding sign-binarized into two 32-bit
    * words (1 bit per dimension — a 64× compression over float32, the
    * binary-embedding production shape), Hamming distance =
    * bit_count(xor) summed over the words, top-3 per probe query. The
    * corpus is scanned through its 16-byte codes only; the 10-query
    * probe side broadcasts (the knn contract) and the k-selection is
    * the bounded partial [[ops.Aggregators]] bottom-k — never a
    * corpus-length window. Two 32-bit words, not one 64-bit word: bit
    * 63 would wrap negative and DuckDB BIGINT addition checks overflow,
    * so half-words keep the packing exact on both engines.
    */
  def annHammingQ(spark: SparkSession, sfDir: String): DataFrame =
    hammingTopK(spark, sfDir, 3)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        col("adc_e6").as("hamming"))
      .orderBy(col("query_id"), col("rnk"))

  /** Binary-hamming ANN with an exact refine stage — the production
    * binary-index shape ([[annPqRefine]]'s contract over
    * [[annHammingQ]]'s codes): the 16-byte sign codes shortlist k'=20
    * candidates per query, then ONLY those candidates' raw vectors are
    * fetched (broadcast joins) and re-ranked by exact cosine to top-3.
    * The point of the pair: raw sign bits rank weakly
    * ([[annQuantRecall]] measures ~7/30), but as a cheap FILTER over a
    * corpus touched through 16 bytes/vector they keep most of the true
    * top-3 inside a 20-deep shortlist, and the refine recovers it —
    * the measured delta rides [[annQuantRecall]]'s third row. Cosine
    * is 1e6-floor-quantized so the re-rank hash-matches; the window is
    * per-query over ≤ k' rows.
    */
  def annHammingRefineQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val raw = Similarity.asDouble(Tables.embeddings(spark, sfDir))
    val e = Similarity.normalized(raw)
    val shortlist = hammingTopK(spark, sfDir, 20)
      .select(col("query_id"), col("neighbor_id"), col("adc_e6").as("hamming"))
    val qv = probeSlice(e, 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val nv = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_e6").desc, col("neighbor_id"))
    nv.join(broadcast(shortlist), "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("cos_e6",
        floor(Similarity.dot(col("qv"), col("nv")) * lit(1000000.0)).cast("long"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        col("hamming"), col("cos_e6"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** The sign-code scan + bounded bottom-k shared by [[annHammingQ]]
    * (k=3, the raw index) and [[annHammingRefineQ]] (k'=20, the
    * shortlist front).
    */
  private def hammingTopK(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    val raw = Similarity.asDouble(Tables.embeddings(spark, sfDir))
    def word(off: String): Column = expr(
      s"""aggregate(sequence(0, cast(size(embedding) / 2 as int) - 1), 0L,
          (acc, i) -> acc + CASE WHEN element_at(embedding, i + $off + 1) > 0D
            THEN shiftleft(1L, i) ELSE 0L END)""")
    val codes = raw.select(col("vec_id"),
      word("0").as("w0"), word("cast(size(embedding) / 2 as int)").as("w1"))
    val qc = probeSlice(codes, 10)
      .select(col("vec_id").as("query_id"), col("w0").as("q0"), col("w1").as("q1"))
    val scored = codes.crossJoin(broadcast(qc))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (expr("bit_count(w0 ^ q0)") + expr("bit_count(w1 ^ q1)"))
          .cast("long").as("adc_e6"))
    Similarity.bottomKByQuery(scored, k)
  }

  /** Scalar-quantized (SQ8) ANN: each dimension affine-quantized to an
    * integer code 0..255 against the corpus per-dim min/max (the FAISS
    * SQ8 shape — 4× compression, and unlike PQ the codes preserve
    * per-dimension structure), distance = Σ(q_code − c_code)² exactly
    * in integers, top-3 per probe query. The 64-row dim-range model and
    * the 10-query code table broadcast; the corpus flows once through
    * the per-dim equi-join and the pair sum partial-aggregates before
    * its exchange; selection is the bounded partial bottom-k.
    */
  def annSq8Q(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Similarity.asDouble(Tables.embeddings(spark, sfDir))
    val ex = raw.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
    val ranges = ex.groupBy(col("dim")).agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val codes = ex.join(broadcast(ranges), "dim")
      .select(col("vec_id"), col("dim"),
        expr("""cast(CASE WHEN hi = lo THEN 0
                ELSE floor((x - lo) * 255.0 / (hi - lo)) END as bigint)""").as("code"))
    // the code table is per-(vec, dim): 10 probe vecs × 64 dims = 640
    // rows, so the provable probeSlice bound is 640 (a plain limit(10)
    // would truncate to ten DIM rows — caught by the two-SF verify)
    val qc = codes.filter(col("vec_id") < 10)
      .orderBy(col("vec_id"), col("dim")).limit(640)
      .select(col("vec_id").as("query_id"), col("dim"), col("code").as("qcode"))
    val scored = codes.join(broadcast(qc), "dim")
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum((col("qcode") - col("code")) * (col("qcode") - col("code"))).as("adc_e6"))
    Similarity.bottomKByQuery(scored, 3)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        col("adc_e6").as("d2_code"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Per-language unigram Shannon entropy of the corpus — the
    * token-diversity health metric of a training mix: H = Σ (c/N)·
    * ln(N/c) over token types, each type's contribution quantized to
    * an e9 integer BEFORE the sum (the q_lm_score floor(ln·scale + ½)
    * discipline), so the per-language totals are accumulation-order-
    * free and hash-match. Emits token/type counts and ln(V)·10⁹ (the
    * uniform-max entropy) alongside, so normalized entropy is a
    * reader-side ratio of shipped integers. ONE corpus pass to the
    * (lang, token) type table; everything after is vocab-sized.
    */
  def entropyQ(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .select(col("lang"), explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"))
    counts.join(broadcast(totals), "lang")
      .select(col("lang"), col("n_tokens"), col("n_types"),
        floor((col("c") * log(col("n_tokens").cast("double") / col("c"))
          / col("n_tokens")) * lit(1000000000.0) + lit(0.5)).cast("long").as("term_e9"))
      .groupBy(col("lang"), col("n_tokens"), col("n_types"))
      .agg(sum(col("term_e9")).as("h_e9"))
      .select(col("lang"), col("n_tokens"), col("n_types"), col("h_e9"),
        floor(log(col("n_types").cast("double")) * lit(1000000000.0) + lit(0.5))
          .cast("long").as("hmax_e9"))
      .orderBy(col("lang"))
  }

  /** Jensen-Shannon divergence between the unigram distributions of
    * two corpus snapshots (first-half vs second-half doc ids — the
    * "did the mix drift between crawls?" monitor): JSD = ½KL(P‖M) +
    * ½KL(Q‖M) with M = ½(P+Q), bounded [0, ln 2]. Per token type the
    * two KL contributions are computed from exact integer counts and
    * e9-floor-quantized before summing (order-free, hash-matched);
    * absent-in-one-side types contribute only their present side's
    * term (the ln inside stays finite: p/m ≤ 2). One corpus pass to
    * the (half, token) table; the join of the two sides is FULL OUTER
    * over the vocab — type-table-sized, never corpus-sized.
    */
  def jsDivQ(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select((col("doc_id") % 2).as("half"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .groupBy(col("half"), col("token")).agg(count(lit(1)).as("c"))
    val p = toks.filter(col("half") === 0).select(col("token"), col("c").as("cp"))
    val q = toks.filter(col("half") === 1).select(col("token"), col("c").as("cq"))
    val joined = p.join(q, Seq("token"), "full_outer")
      .na.fill(0L, Seq("cp", "cq"))
    val tot = joined.groupBy()
      .agg(sum(col("cp")).as("np"), sum(col("cq")).as("nq"), count(lit(1)).as("n_types"))
    // p = cp/np, q = cq/nq, m = (p+q)/2; per-type terms ½p·ln(p/m) and
    // ½q·ln(q/m), each e9-floored from one double expression
    val pd = col("cp").cast("double") / col("np")
    val qd = col("cq").cast("double") / col("nq")
    val md = (pd + qd) / lit(2.0)
    joined.crossJoin(broadcast(tot))
      .select(col("n_types"), col("np"), col("nq"),
        when(col("cp") > 0,
          floor(pd * log(pd / md) / lit(2.0) * lit(1000000000.0) + lit(0.5))
            .cast("long")).otherwise(0L).as("tp_e9"),
        when(col("cq") > 0,
          floor(qd * log(qd / md) / lit(2.0) * lit(1000000000.0) + lit(0.5))
            .cast("long")).otherwise(0L).as("tq_e9"))
      .groupBy(col("n_types"), col("np"), col("nq"))
      .agg(sum(col("tp_e9")).as("kl_p_e9"), sum(col("tq_e9")).as("kl_q_e9"))
      .select(col("n_types"), col("np"), col("nq"), col("kl_p_e9"), col("kl_q_e9"),
        (col("kl_p_e9") + col("kl_q_e9")).as("jsd_e9"))
  }

  /** Weak-supervision labeling-function diagnostics (the Snorkel
    * LFAnalysis surface — Ratner et al. 2017): three deterministic
    * keyword labeling functions vote on a binary topic (abstain =
    * null), and per LF the pipeline reports coverage (fraction of
    * docs labeled, e6), overlap (votes on docs where ≥ 2 LFs vote)
    * and conflict (votes on docs where voters disagree) — the
    * label-quality triage every weak-supervision pipeline runs before
    * training on generated labels. All counts are exact integers; the
    * per-doc vote summary (n_votes, min, max) is ROW-LOCAL, so the
    * whole query is one narrow corpus pass into one vocabulary-of-3
    * partial aggregate — no join, no shuffle beyond the 3-group agg.
    */
  def labelModelQ(spark: SparkSession, sfDir: String): DataFrame = {
    val padded = concat(lit(" "), trim(lower(col("text"))), lit(" "))
    def has(wordPad: String): Column = instr(padded, wordPad) > 0
    val votes = Tables.documents(spark, sfDir).select(
      when(has(" spark "), 1L).as("lf_spark"),
      when(has(" table "), 0L).as("lf_table"),
      when(has(" join ") && !has(" row "), 1L)
        .when(has(" row ") && !has(" join "), 0L).as("lf_join_row"))
    val summarized = votes.select(col("*"),
      (col("lf_spark").isNotNull.cast("int") +
        col("lf_table").isNotNull.cast("int") +
        col("lf_join_row").isNotNull.cast("int")).as("n_votes"),
      least(col("lf_spark"), col("lf_table"), col("lf_join_row")).as("vmin"),
      greatest(col("lf_spark"), col("lf_table"), col("lf_join_row")).as("vmax"))
    val total = summarized.groupBy().agg(count(lit(1)).as("n_docs"))
    summarized
      .select(explode(array(
        struct(lit("lf_spark").as("lf"), col("lf_spark").as("vote"),
          col("n_votes"), col("vmin"), col("vmax")),
        struct(lit("lf_table").as("lf"), col("lf_table").as("vote"),
          col("n_votes"), col("vmin"), col("vmax")),
        struct(lit("lf_join_row").as("lf"), col("lf_join_row").as("vote"),
          col("n_votes"), col("vmin"), col("vmax")))).as("e"))
      .select(col("e.*"))
      .filter(col("vote").isNotNull)
      .groupBy(col("lf"))
      .agg(count(lit(1)).as("n_labeled"),
        sum(when(col("n_votes") >= 2, 1L).otherwise(0L)).as("n_overlap"),
        sum(when(col("vmin") =!= col("vmax"), 1L).otherwise(0L)).as("n_conflict"),
        sum(col("vote")).as("n_pos"))
      .crossJoin(broadcast(total))
      .select(col("lf"), col("n_labeled"),
        expr("(n_labeled * 1000000) div n_docs").as("coverage_e6"),
        col("n_overlap"), col("n_conflict"), col("n_pos"), col("n_docs"))
      .orderBy(col("lf"))
  }

  /** Classical additive seasonal decomposition of the daily event
    * volume with weekly period: trend = centered 7-day moving average
    * (only days with a full window), detrended = x − trend, weekday
    * seasonal index = mean detrended per weekday re-centered to sum
    * ~zero, residual = detrended − seasonal. Everything e6-scaled
    * exact integers — `div` truncates toward zero identically in both
    * engines for negative detrended values too. Scale shape: ONE
    * partial-agg corpus pass to the day table; every window and
    * aggregate after is calendar-bounded (the [[mannWhitneyQ]]
    * singleton-key contract over ~30 rows), so nothing downstream
    * grows with the corpus.
    */
  def decomposeQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("day")))
      .orderBy(col("day")).rowsBetween(-3, 3)
    val t = daily
      .withColumn("n7", count(col("x")).over(w))
      .withColumn("sum7", sum(col("x")).over(w))
      .filter(col("n7") === 7)
      .withColumn("trend_e6", expr("(sum7 * 1000000) div 7"))
      .withColumn("det_e6", col("x") * lit(1000000L) - col("trend_e6"))
      .withColumn("wd", pmod(col("day"), lit(7)))
    val s = t.groupBy(col("wd"))
      .agg(expr("sum(det_e6) div count(1)").as("s_e6"))
    val sAdj = s
      .crossJoin(broadcast(s.groupBy().agg(expr("sum(s_e6) div 7").as("mean_s"))))
      .select(col("wd"), (col("s_e6") - col("mean_s")).as("seasonal_e6"))
    t.join(broadcast(sAdj), "wd")
      .select(col("day"), col("x"), col("trend_e6"), col("seasonal_e6"),
        (col("det_e6") - col("seasonal_e6")).as("resid_e6"))
      .orderBy(col("day"))
  }

  /** Measured recall@3 of the two scalar-compressed ANN indexes, each
    * against ITS OWN metric's exact truth — [[annHammingQ]] (sign bits
    * approximate the angle, so the yardstick is exact cosine over
    * normalized vectors) and [[annSq8Q]] (int8 affine codes approximate
    * L2, so the yardstick is exact squared L2) — extending the
    * [[annPqRecall]] certified-quality contract to the quantization
    * family. The sq8 row carries a ≥3/4 recall floor (`floor_3of4`,
    * measured 27/30, 24/30, 27/30 at sf0.001/0.01/0.1 — 8-bit affine
    * codes lose almost nothing on L2 ranking); the hamming row ships
    * readout-only (floor column NULL): 64 sign bits on structure-free
    * synthetic embeddings are honestly weak (7/30-ish), which is the
    * measurement, not a defect — binary codes need many more bits or
    * a learned rotation to rank well, exactly why production binary
    * indexes re-rank through a refine stage.
    */
  def annQuantRecall(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 3
    val raw = Similarity.asDouble(Tables.embeddings(spark, sfDir))
    val q = probeSlice(raw, 10)
    val cosTruth = {
      val e = Similarity.normalized(raw)
      val qv = probeSlice(e, 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val cv = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cs").desc, col("neighbor_id"))
      cv.crossJoin(broadcast(qv))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cs", Similarity.dot(col("qv"), col("cv")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("query_id"), col("neighbor_id"))
    }
    val l2Truth = pqL2Truth(raw, q, k)
    def recallRow(method: String, truth: DataFrame, approx: DataFrame): DataFrame = {
      val stats = truth.agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_truth"))
      val hits = broadcast(
        truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits")))
      stats.crossJoin(hits)
        .select(lit(method).as("method"), col("n_queries"),
          col("n_truth"), col("n_hits"))
    }
    recallRow("hamming64_vs_cos", cosTruth,
        annHammingQ(spark, sfDir).select(col("query_id"), col("neighbor_id")))
      .unionAll(recallRow("hamming64_refine20_vs_cos", cosTruth,
        annHammingRefineQ(spark, sfDir).select(col("query_id"), col("neighbor_id"))))
      .unionAll(recallRow("sq8_vs_l2", l2Truth,
        annSq8Q(spark, sfDir).select(col("query_id"), col("neighbor_id"))))
      .withColumn("floor_3of4",
        when(col("method") === "sq8_vs_l2",
          col("n_hits") * 4 >= col("n_truth") * 3))
      .orderBy(col("method"))
  }

  /** Mean reciprocal rank of exact-cosine retrieval against the planted
    * labels: per probe query, the rank of the first same-label
    * neighbor in the full ranking and rr = 1/rank as an exact e6
    * integer. Eval-capped exact baseline (50 probe queries, the
    * [[ndcgQ]]/[[confusionQ]] contract): the probe side broadcasts so
    * the corpus is scanned once; production retrieval rides the
    * certified ANN front, this is its measuring stick.
    */
  def mrrQ(spark: SparkSession, sfDir: String): DataFrame = {
    probeRanks(normEmbeddings(spark, sfDir))
      .filter(col("n_label") === col("true_label"))
      .groupBy(col("query_id"), col("true_label"))
      .agg(min(col("rnk")).cast("long").as("first_rel_rank"))
      .select(col("query_id"), col("true_label"), col("first_rel_rank"),
        expr("1000000 div first_rel_rank").as("rr_e6"))
      .orderBy(col("query_id"))
  }

  /** McNemar's paired test on per-user purchase conversion before vs
    * after the calendar midpoint — the paired sibling of [[abTestQ]]'s
    * two-proportion z-test (same user measured in both periods, so
    * only the discordant pairs b/c carry information). Everything is
    * exact integers: the 2×2 concordance table from one per-user
    * conditional aggregate, χ² = (b−c)²/(b+c) and the
    * continuity-corrected (|b−c|−1)²/(b+c) land at 10⁻⁶ by integral
    * division. One scan, one user-keyed partial aggregate, a 1-row
    * broadcast midpoint — scan-shaped at any scale.
    */
  def mcnemarQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("d"),
        (col("event_type") === "purchase").as("p"))
    val mid = ev.groupBy().agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(expr("(d0 + d1) div 2").as("mid"))
    val per = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(max(when(col("p") && col("d") <= col("mid"), 1L).otherwise(0L)).as("pre"),
        max(when(col("p") && col("d") > col("mid"), 1L).otherwise(0L)).as("post"))
    per.groupBy()
      .agg(sum(when(col("pre") === 1 && col("post") === 1, 1L).otherwise(0L)).as("n11"),
        sum(when(col("pre") === 0 && col("post") === 0, 1L).otherwise(0L)).as("n00"),
        sum(when(col("pre") === 1 && col("post") === 0, 1L).otherwise(0L)).as("b"),
        sum(when(col("pre") === 0 && col("post") === 1, 1L).otherwise(0L)).as("c"))
      .select(col("n11"), col("n00"), col("b"), col("c"),
        expr("1000000 * (b - c) * (b - c) div nullif(b + c, 0)").as("chi2_e6"),
        expr("""1000000 * (abs(b - c) - 1) * (abs(b - c) - 1)
                div nullif(b + c, 0)""").as("chi2_cc_e6"))
  }

  /** Difference-in-differences on purchase spend: treatment = even
    * user_id, periods split at the calendar midpoint, outcome =
    * per-cell mean purchase value. The DiD estimate
    * (T̄post − T̄pre) − (C̄post − C̄pre) cancels both the fixed group
    * gap and the common time trend; with cell means staged as exact
    * cents·10⁴ integral divisions (e6 of dollars) the whole readout
    * is deterministic integers. One filtered scan into a 4-cell
    * aggregate — the cheapest causal readout in the suite.
    */
  def didQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("d"),
        cents(col("value")).cast("long").as("cts"))
    val mid = ev.groupBy().agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(expr("(d0 + d1) div 2").as("mid"))
    val cell = ev.crossJoin(broadcast(mid))
      .groupBy((col("user_id") % 2 === 0).as("treated"), (col("d") > col("mid")).as("post"))
      .agg(sum(col("cts")).as("s"), count(lit(1)).as("n"))
      .select(col("treated"), col("post"), expr("s * 10000 div n").as("m_e6"), col("n"))
    cell.groupBy()
      .agg(max(when(col("treated") && !col("post"), col("m_e6"))).as("t_pre_e6"),
        max(when(col("treated") && col("post"), col("m_e6"))).as("t_post_e6"),
        max(when(!col("treated") && !col("post"), col("m_e6"))).as("c_pre_e6"),
        max(when(!col("treated") && col("post"), col("m_e6"))).as("c_post_e6"),
        sum(col("n")).as("n_purchases"))
      .select(col("t_pre_e6"), col("t_post_e6"), col("c_pre_e6"), col("c_post_e6"),
        ((col("t_post_e6") - col("t_pre_e6"))
          - (col("c_post_e6") - col("c_pre_e6"))).as("did_e6"),
        col("n_purchases"))
  }

  /** Event-study (dynamic DiD) around [[didQ]]'s midpoint "treatment"
    * day — the leads-and-lags panel view that a single post−pre DiD
    * collapses away (pre-trend leads SHOULD hover near zero; a drifting
    * lead means the parallel-trends assumption didQ leans on is broken,
    * which is exactly what this query lets you see): for each relative
    * day k ∈ −5..+5, per-arm daily event volume normalized per user at
    * e6, each arm's pre-mean (over the pre cells that exist, not a
    * literal 5 — calendar-gap safe) subtracted, and the dynamic effect
    * att_e6(k) = (y_t − y_c) − (pre_t − pre_c). One data-sized
    * aggregate onto the (arm, rel-day) grid; everything after is
    * 22 cells.
    */
  def eventStudyQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"))
    val mid = ev.groupBy().agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(expr("(d0 + d1) div 2").as("mid"))
    val users = ev.groupBy((col("user_id") % 2 === 0).as("treated"))
      .agg(countDistinct(col("user_id")).as("nu"))
    val cell = ev.crossJoin(broadcast(mid))
      .withColumn("rel", col("d") - col("mid"))
      .filter(col("rel").between(-5, 5))
      .groupBy((col("user_id") % 2 === 0).as("treated"), col("rel"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(users), "treated")
      .select(col("treated"), col("rel"), col("n"),
        expr("n * 1000000 div nu").as("y_e6"))
    // pre-mean over the pre-period cells that actually EXIST — a
    // calendar gap or a <11-day span must shrink the denominator with
    // the numerator, not silently bias pre_e6 (r11 ADVICE item)
    val pre = cell.filter(col("rel") < 0)
      .groupBy(col("treated"))
      .agg(expr("sum(y_e6) div count(*)").as("pre_e6"))
    val adj = cell.join(broadcast(pre), "treated")
      .select(col("treated"), col("rel"), col("n"),
        (col("y_e6") - col("pre_e6")).as("dev_e6"))
    adj.groupBy(col("rel"))
      .agg(max(when(col("treated"), col("dev_e6"))).as("t_dev_e6"),
        max(when(!col("treated"), col("dev_e6"))).as("c_dev_e6"),
        sum(col("n")).as("n_events"))
      .select(col("rel").as("rel_day"), col("n_events"),
        col("t_dev_e6"), col("c_dev_e6"),
        (col("t_dev_e6") - col("c_dev_e6")).as("att_e6"))
      .orderBy(col("rel_day"))
  }

  /** Daily-volume OLS sufficient statistics on the 0-based day index —
    * the shared core of the r12 econometrics trio ([[chowTestQ]],
    * [[breuschPaganQ]], [[cooksDistanceQ]]): one data-sized aggregate
    * into (t, y) rows, then exact decimal(38,0) sums. `den` is pure
    * calendar (n·Σt²−(Σt)², a long at any data size); num/tss carry
    * the volume scale and every consumer descales them with integer
    * `div` BEFORE squaring (documented per-query bounds), so all
    * downstream arithmetic is engine-identical truncating integers.
    */
  private def dailyOlsStats(spark: SparkSession, sfDir: String,
      filter: Column = lit(true)): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = dailyCounts(spark, sfDir, "y")
    val d0 = daily.groupBy().agg(min(col("d")).as("d0"))
    daily.crossJoin(broadcast(d0))
      .select((col("d") - col("d0")).as("t"), col("y"))
      .filter(filter)
      .groupBy()
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("t").cast(d38)).as("sx"),
        sum(col("y").cast(d38)).as("sy"),
        sum((col("t") * col("t")).cast(d38)).as("sxx"),
        sum((col("t").cast(d38) * col("y"))).as("sxy"),
        sum((col("y").cast(d38) * col("y"))).as("syy"))
      .select(col("n"), col("sx"), col("sy"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("tss"))
  }

  /** Chow structural-break test of the daily-volume trend at the
    * calendar midpoint — "did the slope/level regime change?", the
    * diagnostic that decides whether ONE [[linregQ]]-style trend line
    * is even a valid description: pooled vs per-half OLS SSE, each as
    * the exact rational (tss·den − num²)/(n²·den) floored ONCE to e3
    * — ALL integer arithmetic, num² the decimal(38) headroom cap
    * (holds to ~10⁹ daily volumes; past that swap in the [[linregQ]]
    * matched-prescale device), then
    * F = ((SSEp − SSE1 − SSE2)/2) / ((SSE1+SSE2)/(n−4)) at e6, the
    * denominator NULLIF-guarded (a perfectly-fit half is a NULL F,
    * not a crash). Three calendar-bounded scans of the daily
    * aggregate; zero windows.
    */
  def chowTestQ(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyCounts(spark, sfDir, "y")
    val span = daily.groupBy().agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(col("d0"), expr("(d1 - d0) div 2").as("mid"))
    // den = 0 on a degenerate half (single day / gapped calendar):
    // NULLIF → NULL SSE + NULL F, matching the oracle's `//` semantics
    // instead of an ANSI DIVIDE_BY_ZERO crash (r12 ADVICE item)
    def sseE3(tag: String) = expr(
      s"""cast((${tag}tss * ${tag}den - ${tag}num * ${tag}num) * 1000
         | div nullif(${tag}den * ${tag}n * ${tag}n, 0) as decimal(38,0))""".stripMargin)
    val halves = daily.crossJoin(broadcast(span))
      .select((col("d") - col("d0")).as("t"), col("y"),
        (col("d") - col("d0") <= col("mid")).as("h1"))
    val d38 = "decimal(38,0)"
    def stats(df: DataFrame, tag: String) = df.groupBy()
      .agg(count(lit(1)).cast(d38).as(s"${tag}nn"),
        sum(col("t").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum((col("t") * col("t")).cast(d38)).as("sxx"),
        sum((col("t").cast(d38) * col("y"))).as("sxy"),
        sum((col("y").cast(d38) * col("y"))).as("syy"))
      .select(col(s"${tag}nn").as(s"${tag}n"),
        (col(s"${tag}nn") * col("sxy") - col("sx") * col("sy")).as(s"${tag}num"),
        (col(s"${tag}nn") * col("sxx") - col("sx") * col("sx")).as(s"${tag}den"),
        (col(s"${tag}nn") * col("syy") - col("sy") * col("sy")).as(s"${tag}tss"))
    val p = stats(halves, "p")
    val a = stats(halves.filter(col("h1")), "a")
    val b = stats(halves.filter(!col("h1")), "b")
    p.crossJoin(broadcast(a)).crossJoin(broadcast(b))
      .select(col("pn"), sseE3("p").as("ssep"), sseE3("a").as("ssea"),
        sseE3("b").as("sseb"))
      .select(col("pn").cast("long").as("n_days"),
        col("ssep").cast("long").as("sse_pooled_e3"),
        col("ssea").cast("long").as("sse_first_e3"),
        col("sseb").cast("long").as("sse_second_e3"),
        expr("""cast((ssep - ssea - sseb) * (pn - 4) * 1000000
               div nullif((ssea + sseb) * 2, 0) as bigint)""").as("chow_f_e6"))
  }

  /** Breusch-Pagan (Koenker studentized) heteroscedasticity test of
    * the daily-volume trend fit — "does the residual variance itself
    * trend?", the validity gate for every OLS standard error
    * downstream: per-day residuals as EXACT integers u_t = n·den·y_t −
    * (sy·den − num·sx) − n·num·t (the fitted line cleared of both
    * divisions), reduced to v_t = (u_t div den)² = (n·resid)² — the
    * den division is exact-truncating on both engines and keeps the
    * aux second moments inside decimal(38) while staying
    * scale-RELATIVE (truncation error ≤ den/u, negligible whenever
    * residuals exceed one event) — then the auxiliary regression of
    * v on t, R² = num2²·10⁶/(den2·tss2) as exact truncating integers
    * (num2² caps headroom at ~10⁹ daily volumes, documented), and
    * LM = n·R² at e6 against the χ²₁ 5% line. Two data-sized
    * aggregates (daily counts, then the residual moments); everything
    * else is scalar.
    */
  def breuschPaganQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = dailyCounts(spark, sfDir, "y")
    val d0 = daily.groupBy().agg(min(col("d")).as("d0"))
    val ty = daily.crossJoin(broadcast(d0))
      .select((col("d") - col("d0")).as("t"), col("y"))
    val s = dailyOlsStats(spark, sfDir)
    val v = ty.crossJoin(broadcast(s))
      .select(col("t").cast(d38).as("t"),
        // u = n·den·y − (sy·den − num·sx) − n·num·t: exact residual·(n·den)
        (col("n") * col("den") * col("y")
          - (col("sy") * col("den") - col("num") * col("sx"))
          - col("n") * col("num") * col("t")).as("u"),
        col("den"))
      .select(col("t"), expr(s"cast((u div den) * (u div den) as $d38)").as("v"))
    val aux = v.groupBy()
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("t")).as("sx"), sum(col("v")).as("sv"),
        sum((col("t") * col("t"))).as("sxx"),
        sum((col("t") * col("v"))).as("sxv"),
        sum((col("v") * col("v"))).as("svv"))
      .select(col("n"),
        (col("n") * col("sxv") - col("sx") * col("sv")).as("num2"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den2"),
        (col("n") * col("svv") - col("sv") * col("sv")).as("tss2"))
    aux.select(col("n").cast("long").as("n_days"),
        // exact R² = num2²·10⁶/(den2·tss2); tss2 = 0 (constant squared
        // residuals) is a NULL readout, not a crash
        expr("""cast(num2 * num2 * 1000000
               div nullif(den2 * tss2, 0) as bigint)""")
          .as("r2_aux_e6"))
      .select(col("n_days"), col("r2_aux_e6"),
        (col("n_days") * col("r2_aux_e6")).as("lm_e6"),
        (col("n_days") * col("r2_aux_e6") > 3841459L).as("heteroscedastic_5pct"))
  }

  /** Cook's distance of every day on the daily-volume trend fit — the
    * influence diagnostic that names WHICH observations the
    * [[linregQ]]-style slope actually rests on: with T = n·den,
    * leverage numerator H_t = den + (n·t − sx)² (exact calendar-sized
    * integers) and exact residual integers u_t (the [[breuschPaganQ]]
    * clearing), Cook's D collapses to the single exact rational
    * D_t = u_t²·H_t·(n−2) / (2·S·(T−H_t)²) with S = tss·den − num²
    * — ALL integer, one e6 floor by integer division at the end
    * (u_t²·H_t caps decimal(38) headroom at ~10⁹ daily volumes,
    * documented; S NULLIF-guarded — a perfect fit has no influence to
    * rank). Emits the top-10 most influential days as a TakeOrdered —
    * the whole query is one daily aggregate plus calendar-bounded
    * scalars.
    */
  def cooksDistanceQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = dailyCounts(spark, sfDir, "y")
    val d0 = daily.groupBy().agg(min(col("d")).as("d0"))
    val ty = daily.crossJoin(broadcast(d0))
      .select((col("d") - col("d0")).as("t"), col("y"))
    val s = dailyOlsStats(spark, sfDir)
    ty.crossJoin(broadcast(s))
      .select(col("t"), col("y"),
        (col("n") * col("den") * col("y")
          - (col("sy") * col("den") - col("num") * col("sx"))
          - col("n") * col("num") * col("t").cast(d38)).as("u"),
        (col("den") + (col("n") * col("t") - col("sx"))
          * (col("n") * col("t") - col("sx"))).as("h"),
        (col("n") * col("den")).as("tt"),
        (col("tss") * col("den") - col("num") * col("num")).as("ss"),
        col("n"))
      .select(col("t").cast("long").as("day_idx"), col("y").as("volume"),
        expr("""cast(u * u * h * (n - 2) * 1000000
               div nullif(2 * ss * (tt - h) * (tt - h), 0) as bigint)""")
          .as("cooks_d_e6"),
        expr("cast(h * 1000000 div tt as bigint)").as("leverage_e6"))
      .orderBy(col("cooks_d_e6").desc, col("day_idx")).limit(10)
  }

  /** Team-draft interleaving of two document rankers — the online-eval
    * primitive that decides "which ranker is better" from ONE result
    * list instead of an A/B split (Radlinski et al.'s team draft, the
    * production-standard interleave): ranker A orders by character
    * length, ranker B by BPE token count (both desc, doc id asc on
    * ties, top-10 each — TakeOrdered shortlists), the draft alternates
    * picks (the team with fewer picks drafts its best not-yet-picked
    * doc; A on ties; a team with an exhausted list cedes the pick) as
    * one 20-step HOF fold over the two broadcast shortlists, and
    * deterministic synthetic clicks (doc_id % 7 < 2) on the
    * interleaved top-10 are credited to the contributing team. All
    * model-sized after the two shortlist scans.
    */
  def teamDraftQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"),
        TextOps.bpeTokenCount(col("text")).as("tokn"))
      .localCheckpoint(true)
    def top10(metric: String, out: String) = d
      .orderBy(col(metric).desc, col("doc_id")).limit(10)
      .groupBy().agg(expr(
        s"transform(sort_array(collect_list(struct(-$metric as m, doc_id as id))), x -> x.id)")
        .as(out))
    val one = top10("n_chars", "a").crossJoin(broadcast(top10("tokn", "b")))
    val fold = """aggregate(sequence(1, 20),
      named_struct('picked', cast(array() as array<bigint>),
                   'ca', cast(array() as array<bigint>),
                   'cb', cast(array() as array<bigint>)),
      (st, step) ->
        if(size(st.ca) <= size(st.cb)
             and size(filter(a, x -> not array_contains(st.picked, x))) > 0,
           named_struct(
             'picked', concat(st.picked, array(element_at(filter(a, x -> not array_contains(st.picked, x)), 1))),
             'ca', concat(st.ca, array(element_at(filter(a, x -> not array_contains(st.picked, x)), 1))),
             'cb', st.cb),
        if(size(filter(b, x -> not array_contains(st.picked, x))) > 0,
           named_struct(
             'picked', concat(st.picked, array(element_at(filter(b, x -> not array_contains(st.picked, x)), 1))),
             'ca', st.ca,
             'cb', concat(st.cb, array(element_at(filter(b, x -> not array_contains(st.picked, x)), 1)))),
        if(size(filter(a, x -> not array_contains(st.picked, x))) > 0,
           named_struct(
             'picked', concat(st.picked, array(element_at(filter(a, x -> not array_contains(st.picked, x)), 1))),
             'ca', concat(st.ca, array(element_at(filter(a, x -> not array_contains(st.picked, x)), 1))),
             'cb', st.cb),
           st))))"""
    one.withColumn("st", expr(fold))
      .select(
        size(col("st.picked")).cast("long").as("n_interleaved"),
        expr("""cast(size(filter(slice(st.picked, 1, 10),
               x -> array_contains(st.ca, x) and x % 7 < 2)) as bigint)""")
          .as("clicks_a"),
        expr("""cast(size(filter(slice(st.picked, 1, 10),
               x -> array_contains(st.cb, x) and x % 7 < 2)) as bigint)""")
          .as("clicks_b"),
        expr("cast(size(array_intersect(a, b)) as bigint)").as("overlap_top10"))
      .select(col("n_interleaved"), col("clicks_a"), col("clicks_b"),
        col("overlap_top10"),
        when(col("clicks_a") > col("clicks_b"), "A")
          .when(col("clicks_b") > col("clicks_a"), "B")
          .otherwise("tie").as("preferred"))
  }

  /** Newey-West (HAC, Bartlett kernel, 3 lags) long-run variance of
    * the daily event volume — the autocorrelation-robust variance
    * that belongs under any mean/trend standard error when
    * [[durbinWatsonQ]]/[[ljungBoxQ]] say the days are serially
    * dependent: exact integer autocovariances γ_l of the n-scaled
    * centered series (lag-l equi-joins on the day spine, the
    * [[yuleWalkerQ]] device), Bartlett weights (1 − l/4) cleared to
    * quarters so the whole estimate is ONE integer rational
    * 4γ₀ + 2(3γ₁ + 2γ₂ + γ₃) over 4γ₀, shipped as the e6 inflation
    * ratio over the iid variance. One daily aggregate, three
    * calendar-bounded self-joins.
    */
  def neweyWestQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = dailyCounts(spark, sfDir)
    val g = daily.groupBy().agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val y = daily.crossJoin(broadcast(g))
      .select(col("d"), (col("n") * col("x") - col("s")).as("y"))
    val b = y.select(col("d").as("db"), col("y").as("yb"))
    def gamma(lag: Int) = y
      .join(b, col("db") === col("d") + lag)
      .groupBy().agg(sum(expr(s"cast(y as $d38) * yb")).as(s"g$lag"))
    gamma(0).crossJoin(broadcast(gamma(1)))
      .crossJoin(broadcast(gamma(2))).crossJoin(broadcast(gamma(3)))
      .crossJoin(broadcast(g.select(col("n"))))
      .select(col("n").as("n_days"),
        expr("cast(g0 div (n * n) as bigint)").as("gamma0"),
        expr("cast(g1 div (n * n) as bigint)").as("gamma1"),
        expr("cast(g2 div (n * n) as bigint)").as("gamma2"),
        expr("cast(g3 div (n * n) as bigint)").as("gamma3"),
        expr("""cast((4 * g0 + 2 * (3 * g1 + 2 * g2 + g3)) * 1000000
               div nullif(4 * g0, 0) as bigint)""").as("nw_inflation_e6"))
  }

  /** Dynamic-batching pad audit: documents bucketed to power-of-two
    * token capacities (the standard length-bucketing a training
    * dataloader does so a batch pads to its bucket cap, not the
    * global max) — per bucket the exact pad tokens Σ(cap − n), and
    * each bucket's share of the padding a SINGLE global pad-to-max
    * batcher would have burned. cap = 2^bitlen(n−1) comes from pure
    * integer bit-length arithmetic (length(bin(·)) on both engines,
    * zero floats, zero logs). One checkpointed tokenize (the
    * [[packFfdQ]] table), one bucket-keyed aggregate.
    */
  def lengthBucketsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextOps.bpeTokenCount(col("text")).as("n"))
      .filter(col("n") >= 1)
      .localCheckpoint(true)
    val mx = d.groupBy().agg(max(col("n")).as("nmax"))
    d.select(col("n"),
        // cap = smallest power of two >= n: 2^bitlen(n−1), with the
        // n = 1 edge pinned to 1 (bin(0) = '0' would give 2)
        when(col("n") === 1, 1L)
          .otherwise(expr("shiftleft(cast(1 as bigint), length(bin(n - 1)))"))
          .as("cap"))
      .crossJoin(broadcast(mx))
      .groupBy(col("cap"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("total_tokens"),
        sum(col("cap") - col("n")).as("pad_tokens"),
        sum(col("nmax") - col("n")).as("global_pad_tokens"))
      .select(col("cap").as("bucket_cap"), col("n_docs"), col("total_tokens"),
        col("pad_tokens"),
        expr("pad_tokens * 1000000 div (total_tokens + pad_tokens)")
          .as("pad_share_e6"),
        col("global_pad_tokens"),
        expr("""cast(1000000 - pad_tokens * 1000000
               div nullif(global_pad_tokens, 0) as bigint)""")
          .as("pad_saved_vs_global_e6"))
      .orderBy(col("bucket_cap"))
  }

  /** AR(1) fit of the daily event volume and its one-step forecast —
    * the simplest autoregressive model, done with the [[linregQ]]
    * sufficient-statistics discipline: lag pairs come from the daily
    * table equi-joined to itself on d+1 (no window), φ and the
    * intercept land at 10⁻⁶ by integral division over exact
    * decimal(38,0) sums, and the forecast reuses the already-truncated
    * coefficients so both engines agree bit-for-bit. The only
    * data-sized work is the daily count aggregate; everything after is
    * calendar-bounded.
    */
  def ar1Q(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = dailyCounts(spark, sfDir)
    val pairs = daily.as("a")
      .join(daily.as("b"), col("a.d") + 1 === col("b.d"))
      .select(col("a.x").cast(d38).as("x"), col("b.x").cast(d38).as("y"))
    val s = pairs.groupBy()
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val last = daily.groupBy()
      .agg(max(struct(col("d"), col("x"))).as("m"))
      .select(col("m.x").as("x_last"))
    s.crossJoin(broadcast(last))
      .withColumn("phi_e6",
        expr("cast((n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx) as bigint)"))
      .withColumn("intercept_e6",
        expr("cast((sy * 1000000 - cast(phi_e6 as decimal(38,0)) * sx) div n as bigint)"))
      .select(col("n").cast("long").as("n_pairs"), col("phi_e6"), col("intercept_e6"),
        col("x_last"),
        expr("intercept_e6 + phi_e6 * x_last").as("forecast_e6"))
  }

  /** Per-arm (g = user_id % 2) purchase-value moments in cents as
    * decimal(38): n, sum s, sum of squares ssq, and the e6 variance of
    * the mean vn_e6 — the base of [[welchTtestQ]] and [[tostQ]].
    */
  private def purchaseArmMoments(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select((col("user_id") % 2).as("g"), cents(col("value")).cast("long").as("cts"))
    ev.groupBy(col("g"))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("cts").cast(d38)).as("s"),
        sum(col("cts").cast(d38) * col("cts")).as("ssq"))
      .withColumn("vn_e6", expr("(1000000 * (n * ssq - s * s)) div (n * n * (n - 1))"))
  }

  /** Welch's unequal-variance t² on purchase spend between even/odd
    * user cohorts — the parametric sibling of [[mannWhitneyQ]], done
    * entirely as staged integer arithmetic: per-group sufficient
    * statistics (n, Σcents, Σcents²) in one partial aggregate, each
    * group's v/n as a truncating e6 integral division, the mean gap at
    * e3 cents, and t² = diff²/(v₁/n₁+v₂/n₂) at e6. Every stage
    * truncates identically on both engines, so the readout is
    * bit-deterministic; the only data-sized work is the one scan into
    * the 2-row aggregate (the staged divisions keep every intermediate
    * under decimal(38,0) far past 10⁹ rows per group).
    */
  def welchTtestQ(spark: SparkSession, sfDir: String): DataFrame = {
    val per = purchaseArmMoments(spark, sfDir)
      .withColumn("m_e6", expr("s * 10000 div n"))
    per.groupBy()
      .agg(max(when(col("g") === 0, col("n"))).as("n0"),
        max(when(col("g") === 1, col("n"))).as("n1"),
        max(when(col("g") === 0, col("s"))).as("s0"),
        max(when(col("g") === 1, col("s"))).as("s1"),
        max(when(col("g") === 0, col("vn_e6"))).as("vn0"),
        max(when(col("g") === 1, col("vn_e6"))).as("vn1"),
        max(when(col("g") === 0, col("m_e6"))).as("m0"),
        max(when(col("g") === 1, col("m_e6"))).as("m1"))
      .withColumn("diff_e3", expr("1000 * (s0 * n1 - s1 * n0) div (n0 * n1)"))
      .select(col("n0").cast("long").as("n_even"), col("n1").cast("long").as("n_odd"),
        col("m0").as("m_even_e6"), col("m1").as("m_odd_e6"), col("diff_e3"),
        expr("""cast((cast(1000000 as decimal(38,0)) * diff_e3 * diff_e3)
                div nullif(vn0 + vn1, 0) as bigint)""").as("t2_e6"))
  }

  /** The two-arm permutation machinery shared by the permutation-test
    * family, per group of `keys`: users' total spend in cents (`u`),
    * the observed odd-vs-even-user |mean gap| at e3 (`obs`: keys,
    * obs_e3) and its 200 hash-relabelled replicates (`perm`: keys, r,
    * d_e3). See [[permutationTestQ]] for why the relabel hash is
    * full-width.
    */
  private def permDiffs(spark: SparkSession, sfDir: String,
      keys: Seq[String]): (DataFrame, DataFrame) = {
    val u = Tables.events(spark, sfDir)
      .groupBy((keys :+ "user_id").map(col): _*)
      .agg(sum(cents(col("value")).cast("long")).as("cts"))
    val diffE3 =
      """abs(1000 * (cast(sA as decimal(38,0)) * nB - cast(sB as decimal(38,0)) * nA)
        |    div (cast(nA as decimal(38,0)) * nB))""".stripMargin
    val obs = u.groupBy(keys.map(col): _*)
      .agg(sum(when(col("user_id") % 2 === 0, col("cts"))).as("sA"),
        sum(when(col("user_id") % 2 === 1, col("cts"))).as("sB"),
        sum(when(col("user_id") % 2 === 0, 1L)).as("nA"),
        sum(when(col("user_id") % 2 === 1, 1L)).as("nB"))
      .select(keys.map(col) :+ expr(diffE3).as("obs_e3"): _*)
    val spine = spark.range(1, 201).select(col("id").as("r"))
    val perm = u.crossJoin(broadcast(spine))
      .select(keys.map(col) ++ Seq(col("r"),
        (graft.ops.TextOps.portableHash64(
          concat(col("user_id").cast("string"), lit(":"), col("r").cast("string"))) % 2)
          .as("g"),
        col("cts")): _*)
      .groupBy((keys :+ "r").map(col): _*)
      .agg(sum(when(col("g") === 0, col("cts"))).as("sA"),
        sum(when(col("g") === 1, col("cts"))).as("sB"),
        sum(when(col("g") === 0, 1L)).as("nA"),
        sum(when(col("g") === 1, 1L)).as("nB"))
      .select((keys :+ "r").map(col) :+ expr(diffE3).as("d_e3"): _*)
    (obs, perm)
  }

  /** Per-event-type permutation counts (event_type, obs_e3, n_ge =
    * replicates at least as extreme as observed) for the
    * multiple-testing corrections ([[fdrBhQ]], [[holmBonferroniQ]],
    * [[benjaminiYekutieliQ]]).
    */
  private def eventPermCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val (obs, perm) = permDiffs(spark, sfDir, Seq("event_type"))
    perm.join(broadcast(obs), "event_type")
      .groupBy(col("event_type"), col("obs_e3"))
      .agg(sum(when(col("d_e3") >= col("obs_e3"), 1L).otherwise(0L)).as("n_ge"))
  }

  /** Ascending p-value rank (ties by event type) of (event_type,
    * obs_e3, p_e6) rows via a bounded left self-join: rnk = 1 + the
    * number of rows ranked before.
    */
  private def rankByP(p: DataFrame): DataFrame = {
    val pk = p.select(col("event_type").as("et2"), col("p_e6").as("p2"))
    p.as("x").join(pk.as("y"),
        col("y.p2") < col("x.p_e6")
          || (col("y.p2") === col("x.p_e6") && col("y.et2") < col("x.event_type")),
        "left")
      .groupBy(col("x.event_type").as("event_type"), col("x.obs_e3").as("obs_e3"),
        col("x.p_e6").as("p_e6"))
      .agg((count(col("y.et2")) + 1L).as("rnk"))
  }

  /** Permutation test of per-user total spend between even/odd user
    * cohorts: 200 deterministic pseudo-permutations (the portable md5
    * hash over "user_id:round" — no RNG state, identical on both
    * engines) re-split the users, and the p-value is the fraction of
    * rounds whose |mean gap| reaches the observed one, with the
    * standard +1 smoothing. The distribution-free sibling of
    * [[welchTtestQ]] and the resampling sibling of [[bootstrapQ]]
    * (which resamples one group; this re-labels the split under the
    * null). The round label MUST come from a full-width hash, not the
    * low bit of an LCG: with both multipliers odd, the low bit of
    * (u*a + r*b) mod 2^31 is just (u + r) mod 2 — every round
    * reproduces the observed split or its mirror and the test is
    * vacuous (PermutationSpec pins the non-degeneracy). The user table
    * is aggregated once, the 200-row spine broadcasts, and each round
    * is a partial-aggregated conditional sum — |users|·200 narrow rows
    * of map-side work, no shuffle wider than 200 groups.
    */
  def permutationTestQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (obs, perm) = permDiffs(spark, sfDir, Seq())
    perm.crossJoin(broadcast(obs))
      .groupBy(col("obs_e3"))
      .agg(sum(when(col("d_e3") >= col("obs_e3"), 1L).otherwise(0L)).as("n_ge"))
      .select(col("obs_e3"), col("n_ge"),
        expr("1000000 * (1 + n_ge) div 201").as("p_e6"),
        lit(200L).as("n_perm"))
  }

  /** Log-rank test comparing churn survival between even/odd user
    * cohorts — the hypothesis-test companion to [[kaplanMeierQ]]'s
    * curve (same framing: per-user lifetime t = last−first day,
    * censored if the user was still active in the final 3 days). At
    * each churn time the observed group-1 deaths are compared with the
    * hypergeometric expectation d·n₁/n and variance
    * d·n₁·n₂·(n−d)/(n²(n−1)), each term a truncating e6 integral
    * division over exact at-risk counts from one calendar-bounded
    * support walk; χ² = (O₁−E₁)²/V closes the readout. The only
    * data-sized work is the per-user min/max aggregate — everything
    * after lives on the (time, group) support, bounded by the
    * calendar, never by |users|.
    */
  def logrankQ(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = armEventTimes(spark, sfDir)
      .select(col("d1"), col("d2"), (col("d1") + col("d2")).as("dd"),
        (col("t1") - col("cl1")).as("n1"), (col("t2") - col("cl2")).as("n2"))
      .withColumn("n", col("n1") + col("n2"))
    terms.groupBy()
      .agg(sum(col("d1")).as("o1"), sum(col("d2")).as("o2"),
        sum(expr("(cast(1000000 as decimal(38,0)) * dd * n1) div n")).as("e1_e6"),
        sum(expr("(cast(1000000 as decimal(38,0)) * dd * n2) div n")).as("e2_e6"),
        sum(expr("""CASE WHEN n > 1 THEN
                      (cast(1000000 as decimal(38,0)) * dd * n1 * n2 * (n - dd))
                      div (cast(n as decimal(38,0)) * n * (n - 1))
                    ELSE 0 END""")).as("v_e6"))
      .select(col("o1"), col("o2"), col("e1_e6"), col("e2_e6"), col("v_e6"),
        expr("""cast((cast(o1 as decimal(38,0)) * 1000000 - e1_e6)
                   * (cast(o1 as decimal(38,0)) * 1000000 - e1_e6)
                   div nullif(v_e6, 0) as bigint)""").as("chi2_e6"))
  }

  /** One-step Cox proportional-hazards fit on [[logrankQ]]'s two-arm
    * survival setup — the EFFECT SIZE the logrank test only
    * yes/no's: with the binary arm covariate, the Breslow-ties partial
    * likelihood's Newton step from β=0 is closed-form over the SAME
    * event-time support walk (score U = Σ_t d1 − d·n1/n, information
    * I = Σ_t d·n1·n0/n²), each term e6-floored by one truncating
    * division over exact risk-set integers. β = U/I lands through one
    * sign-safe floor(double) (U may be negative — integer div would
    * split the engines there), HR = exp(β) at e6. One user reduce,
    * one time-support walk (WindowLint: time-support contract).
    */
  def coxQ(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = armEventTimes(spark, sfDir)
      .select(col("d1"), (col("d1") + col("d2")).as("dd"),
        (col("t1") - col("cl1")).as("n1"), (col("t2") - col("cl2")).as("n2"))
      .withColumn("n", col("n1") + col("n2"))
    terms.groupBy()
      .agg(sum(col("d1")).as("o1"), sum(col("dd")).as("d_total"),
        sum(expr("""(cast(d1 as decimal(38,0)) * n - cast(dd as decimal(38,0)) * n1)
              * 1000000 div n""")).as("u_e6"),
        sum(expr("""cast(dd as decimal(38,0)) * n1 * n2 * 1000000
              div (cast(n as decimal(38,0)) * n)""")).as("i_e6"))
      .select(col("o1"), col("d_total"),
        col("u_e6").cast("long").as("u_e6"), col("i_e6").cast("long").as("i_e6"),
        floor(col("u_e6").cast("double") / col("i_e6") * 1000000.0 + 0.5)
          .cast("long").as("beta_e6"),
        floor(exp(col("u_e6").cast("double") / col("i_e6")) * 1000000.0 + 0.5)
          .cast("long").as("hr_e6"))
  }

  /** Fixed-effect meta-analysis of the per-region odd-vs-even-customer
    * order-value effect — the "pool the regional experiments" readout
    * with the I² heterogeneity score that says whether pooling was
    * even legitimate: per-region Welch effect d and var from exact
    * moments, inverse-variance weights at e9 (integer), the pooled
    * effect through ONE sign-safe floor(double) (regional effects can
    * be negative), Cochran's Q from exact integer deviations around
    * the truncated pooled value, I² = max(0, (Q−(k−1))/Q). One
    * fact-dim pass, 5-region grid after.
    */
  def metaAnalysisQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val o = Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_regionkey").as("region"),
        (col("o_custkey") % 2 === 1).as("arm"),
        cents(col("o_totalprice")).cast("long").as("x"))
    val cells = o.groupBy(col("region"))
      .agg(sum(when(col("arm"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("arm"), 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm"), col("x")).otherwise(0L)).as("s1"),
        sum(when(!col("arm"), col("x")).otherwise(0L)).as("s0"),
        sum(when(col("arm"), expr(s"cast(x as $d38) * x")).otherwise(expr("cast(0 as decimal(38,0))"))).as("q1"),
        sum(when(!col("arm"), expr(s"cast(x as $d38) * x")).otherwise(expr("cast(0 as decimal(38,0))"))).as("q0"))
      // Welch: d = m1 − m0 (e6 cents), var = s1²/n1 + s0²/n0 of the MEANS
      .withColumn("d_e6", expr(s"""cast(cast(s1 as $d38) * 1000000 div n1
          - cast(s0 as $d38) * 1000000 div n0 as bigint)"""))
      .withColumn("var_e6", expr(s"""cast(
          (n1 * q1 - cast(s1 as $d38) * s1) * 1000000
            div (cast(n1 as $d38) * n1 * (n1 - 1))
          + (n0 * q0 - cast(s0 as $d38) * s0) * 1000000
            div (cast(n0 as $d38) * n0 * (n0 - 1)) as bigint)"""))
      // inverse-variance weights at 10³⁰/var (decimal — a 10¹⁵ long
      // scale collapsed to zero on cents² variances and NaN'd the
      // pooled cast under ANSI)
      .withColumn("wk", expr(s"""cast(1000000000000000000000000000000
          as $d38) div var_e6"""))
    val pool = cells.groupBy()
      // Spark decimal `div` yields LONG — recast before the products or
      // wk·d_e6 multiplies long×long and overflows under ANSI
      .agg(count(lit(1)).as("k"), sum(expr(s"cast(wk as $d38)")).as("wt"),
        sum(expr(s"cast(wk as $d38) * d_e6")).as("num"))
      .withColumn("pooled_e6",
        floor(col("num").cast("double") / col("wt").cast("double") + 0.5)
          .cast("long"))
    // Q needs no weight scale at all: Σ (d−p)²/var directly at e6
    val q = cells.crossJoin(broadcast(pool))
      .groupBy(col("k"), col("wt"), col("pooled_e6"))
      .agg(sum(expr(s"""cast(d_e6 - pooled_e6 as $d38)
          * (d_e6 - pooled_e6) div var_e6""")).as("q_e6"))
      .select(col("k"), col("wt"), col("pooled_e6"),
        col("q_e6").cast("long").as("q_e6"),
        expr("""greatest(0L, (q_e6 - (k - 1) * 1000000) * 1000000
            div nullif(q_e6, 0))""").as("i2_e6"))
    cells.select(col("region"), col("n1"), col("n0"), col("d_e6"),
        col("var_e6"), col("wk"))
      .crossJoin(broadcast(q))
      .select(col("region"), col("n1"), col("n0"), col("d_e6"), col("var_e6"),
        expr(s"cast(cast(wk as $d38) * 1000000 div wt as bigint)")
          .as("w_share_e6"),
        col("k"), col("pooled_e6"), col("q_e6"), col("i2_e6"))
      .orderBy(col("region"))
  }

  /** Expected steps to purchase absorption from each session state —
    * the hitting-time readout on [[markovStationaryQ]]'s ≤5-state
    * event-type chain (the stationary vector says where sessions SIT;
    * this says how FAR each state is from converting): 8 value-
    * iteration steps h ← 1 + P·h on the driver-held transition model
    * (the ≤5×5 collect the stationary query already established as
    * model-sized), truncating-integer e6 per fold so both engines
    * replay bit-identically. 8-step truncation documented: h is the
    * expected steps within an 8-hop horizon, with non-absorbed mass
    * contributing the horizon itself — deterministic either way.
    */
  def markovAbsorptionQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val trans = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .filter(col("event_type") =!= "purchase") // absorbing: no exits
      .groupBy(col("event_type").as("i"), col("nxt").as("j"))
      .agg(count(lit(1)).as("c"))
    val rows = trans.join(trans.groupBy(col("i")).agg(sum(col("c")).as("r")), "i")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val states = rows.map(_._1).distinct.sorted
    var h: Map[String, Long] = states.map(_ -> 0L).toMap
    for (_ <- 1 to 8) {
      h = states.map { i =>
        val out = rows.filter(_._1 == i)
        val rt = out.head._4
        i -> (1000000L + out.map { case (_, j, c, _) =>
          c * h.getOrElse(j, 0L) // absorbed or unseen targets: 0 steps
        }.sum / rt)
      }.toMap
    }
    val spark2 = Tables.events(spark, sfDir).sparkSession
    import spark2.implicits._
    states.toSeq.map(s => (s, rows.filter(_._1 == s).head._4, h(s)))
      .toDF("event_type", "n_transitions", "steps_to_purchase_e6")
      .orderBy(col("event_type"))
  }

  /** KMV (k-minimum-values / bottom-k) distinct sketches of each
    * source's token vocabulary, with set-operation estimates the HLL
    * partials of [[sketchRollupQ]] cannot give: for every source pair,
    * the merged bottom-64 sketch yields a distinct-union estimate
    * ((k−1)·M/h₍ₖ₎ over the portable 48-bit hash space) and a Jaccard
    * estimate (matching members under h₍ₖ₎ / k), printed next to the
    * EXACT union/Jaccard from the vocab join — a measured accuracy
    * certificate in the [[minhashAccQ]] tradition. The sketch build is
    * one partial-aggregatable [[Aggregators.BottomKLong]] pass over
    * distinct (source, hash) — at most 2k values per source per
    * partition ship to the merge, and the pair stage handles 64-entry
    * arrays only; the exact side is the vocab-bounded certificate, not
    * the scale path.
    */
  def kmvOverlapQ(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val k = 64
    val hashed = Tables.documents(spark, sfDir)
      .select(col("source"), explode(TextOps.words(lower(col("text")))).as("w"))
      .select(col("source"), col("w"), TextOps.portableHash64(col("w")).as("h"))
    val sk = hashed.select(col("source"), col("h")).distinct()
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._2))
      .agg(new Aggregators.BottomKLong(k).toColumn.name("bk"))
      .map { case (src, lst) => (src, lst.map(_._1).toArray) }
      .toDF("source", "sk")
    val est = sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        col("a.sk").as("ska"), col("b.sk").as("skb"))
      .withColumn("mg",
        slice(array_sort(array_distinct(concat(col("ska"), col("skb")))), 1, k))
      // a merged sketch shorter than k means BOTH input sketches were
      // complete vocabularies (< k distinct hashes) — the estimator
      // then degrades gracefully to the exact values over m members
      .withColumn("m", size(col("mg")).cast("long"))
      .withColumn("uk", expr("element_at(mg, cast(m as int))"))
      .withColumn("n_both",
        size(expr("filter(mg, x -> array_contains(ska, x) AND array_contains(skb, x))"))
          .cast("long"))
    val voc = hashed.select(col("source"), col("w")).distinct()
    val sizes = voc.groupBy(col("source")).agg(count(lit(1)).as("nv"))
    val inter = voc.as("x")
      .join(voc.as("y"), col("x.w") === col("y.w") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("inter"))
    // LEFT join to the exact-intersection table: a source pair with
    // zero shared vocabulary has no `inter` row but must still ship
    // its KMV estimates (the docstring's "for every source pair"
    // contract) — coalesce the missing intersection to 0.
    est.join(inter, Seq("source_a", "source_b"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .join(broadcast(sizes.select(col("source").as("source_a"), col("nv").as("nva"))),
        Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("nv").as("nvb"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"),
        expr("1000000 * n_both div m").as("jacc_est_e6"),
        expr("1000000 * inter div (nva + nvb - inter)").as("jacc_exact_e6"),
        expr("CASE WHEN m < 64 THEN m ELSE 63 * 281474976710656 div uk END")
          .as("union_est"),
        (col("nva") + col("nvb") - col("inter")).as("union_exact"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Betweenness centrality (top 20) of the part-adjacency graph from
    * the same 10 lowest-id roots [[harmonicCentralityQ]] uses — exact
    * Brandes dependencies per root ([[graft.ops.Graph.brandesBetweenness]]:
    * forward σ path counts, backward e6 dependency sweep, every
    * rational a truncating integral division), summed per node. The
    * final top-20 is an orderBy+limit (`TakeOrderedAndProject`, the
    * TextOps.scala house rule), never a global sort; tie-break on node
    * id keeps the cut deterministic. The oracle unrolls the identical
    * 8-level forward/backward sweeps with a fixguard that error()s if
    * distances hadn't converged — the unroll depth can never silently
    * drift from the Spark loop.
    */
  def betweennessQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = partAdjacencyEdges(spark, sfDir).select(col("src"), col("dst"))
    val nodes = e.filter(col("src") =!= col("dst"))
    val roots = nodes.select(col("src").as("node"))
      .union(nodes.select(col("dst").as("node")))
      .distinct().orderBy(col("node")).limit(10)
    // dist0 = the centrality trio's shared per-root BFS memo — SAME
    // edges, SAME 10 lowest-id roots (bfs10Distances builds them with
    // this exact construction), so level membership is a filter of the
    // cached table and the forward σ pass expands through the smaller
    // level side (see the op's dist0 doc)
    graft.ops.Graph.brandesBetweenness(e, roots, maxDepth = 8,
        und0 = Some(undSrcEdges(spark, sfDir)),
        dist0 = Some(bfs10Distances(spark, sfDir)))
      .groupBy(col("node"))
      .agg(sum(col("delta")).as("bc_e6"))
      .orderBy(col("bc_e6").desc, col("node"))
      .limit(20)
  }

  /** Perceptual-hash near-duplicate detection over the image corpus —
    * multimodal dedup composed from [[graft.ops.Multimodal.phash64]]
    * (64-bit signature from the payload BYTES, exact integer
    * cell-vs-global-mean bits in two 32-bit half-words) and the
    * [[simhashQ]] banding idea with BYTE bands: Hamming distance ≤ 6
    * guarantees at least 2 of the 8 byte-bands agree (pigeonhole), so
    * the candidate join is an 8-way band equi-join — never all-pairs —
    * and the exact `bit_count(xor)` verify runs on candidates only. The
    * oracle regenerates the signatures arithmetically from the media-id
    * formula, so a drift anywhere in the byte→bit→band chain
    * hash-mismatches. Finds the planted exact-payload twins (ids ≡ mod
    * 1536 share filler streams) at Hamming 0.
    */
  def phashDedupQ(spark: SparkSession, sfDir: String): DataFrame = {
    val media = graft.ops.Multimodal.syntheticMedia(spark, 2000)
      .filter(_.kind == "image")
    val sigs = graft.ops.Multimodal.phash64(media).toDF()
    val bd = sigs.select(col("media_id"), col("hi"), col("lo"),
        explode(expr(
          """transform(sequence(0, 7), b -> named_struct('b', b,
            |  'v', CASE WHEN b < 4 THEN shiftright(lo, 8 * b) % 256
            |            ELSE shiftright(hi, 8 * (b - 4)) % 256 END))""".stripMargin))
          .as("band"))
      .select(col("media_id"), col("hi"), col("lo"),
        col("band.b").as("b"), col("band.v").as("v"))
    val cand = bd.as("x")
      .join(bd.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v")
          && col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("media_a"), col("y.media_id").as("media_b"),
        col("x.hi").as("ha"), col("x.lo").as("la"),
        col("y.hi").as("hb"), col("y.lo").as("lb"))
      .distinct()
    cand
      .withColumn("hamming",
        expr("cast(bit_count(ha ^ hb) + bit_count(la ^ lb) as bigint)"))
      .filter(col("hamming") <= 6)
      .select(col("media_a"), col("media_b"), col("hamming"))
      .orderBy(col("media_a"), col("media_b"))
  }

  /** T5-style span corruption over the document corpus — the
    * denoising-objective data prep (Raffel et al. 2020): deterministic
    * 3-token groups are masked when the portable hash of (doc, group)
    * lands in a 1/7 bucket (≈14% noise density, no RNG state —
    * reproducible on any engine and any partitioning), each masked
    * group is replaced by an ordered `<extra_id_k>` sentinel in the
    * input and emitted after the same sentinel in the target. Group
    * boundaries (not run-merging) define sentinel numbering, so the
    * whole transform is per-token narrow work plus doc-bounded
    * aggregations: posexplode → hash flag → two sorted-collect rebuilds
    * — scan-shaped at any corpus size, no cross-doc shuffle beyond the
    * doc-keyed groupBys.
    */
  def spanCorruptQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(TextOps.words(col("text"))).as(Seq("pos", "tok")))
      .withColumn("g", expr("pos div 3"))
      .withColumn("masked",
        pmod(TextOps.portableHash64(concat(col("doc_id"), lit(":"), col("g"))), lit(7)) === 0)
    val mg = toks.filter(col("masked")).select(col("doc_id"), col("g")).distinct()
      .withColumn("k",
        row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("g"))) - 1)
    val sentinel = concat(lit("<extra_id_"), col("k"), lit(">"))
    val inpRows = toks.filter(!col("masked"))
      .select(col("doc_id"), col("pos"), col("tok"))
      .unionByName(mg.select(col("doc_id"), (col("g") * 3).cast("int").as("pos"),
        sentinel.as("tok")))
    val inp = inpRows.groupBy(col("doc_id"))
      .agg(concat_ws(" ",
        expr("transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok)"))
        .as("input_text"))
    val tgtRows = mg
      .select(col("doc_id"), col("g"), lit(-1).as("p2"), sentinel.as("tok"))
      .unionByName(toks.filter(col("masked"))
        .select(col("doc_id"), col("g"), col("pos").as("p2"), col("tok")))
    val tgt = tgtRows.groupBy(col("doc_id"))
      .agg(concat_ws(" ",
        expr("transform(array_sort(collect_list(struct(g, p2, tok))), s -> s.tok)"))
        .as("target_text"))
    val stats = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"))
    stats.join(inp, Seq("doc_id"))
      .join(tgt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_masked"), col("input_text"),
        coalesce(col("target_text"), lit("")).as("target_text"))
      .orderBy(col("doc_id"))
  }

  /** Cochran's Q over four weekly purchase indicators per user — the
    * k-sample extension of [[mcnemarQ]] (did conversion propensity
    * shift across the first four weeks, with each user as their own
    * control?). The textbook Q = k(k−1)Σ(C_j−T/k)²/(kT−ΣR²) is
    * multiplied through by k² so every quantity is an exact integer
    * (column totals C_j, per-user row totals R, their squares), and the
    * single ratio lands at 10⁻⁶ by integral division. Work: one
    * filtered distinct on (user, week) — users with R=0 or R=k drop
    * out of both sides of the ratio algebraically, so no exclusion pass
    * is needed.
    */
  def cochranQQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"),
        col("event_type"))
    val d0 = ev.groupBy().agg(min(col("d")).as("d0"))
    val pw = ev.filter(col("event_type") === "purchase")
      .crossJoin(broadcast(d0))
      .select(col("user_id"), expr("(d - d0) div 7").as("w"))
      .filter(col("w") < 4)
      .distinct()
    val rs = pw.groupBy(col("user_id")).agg(count(lit(1)).as("r"))
      .groupBy()
      .agg(sum(col("r")).as("t"), sum(col("r") * col("r")).as("sr2"))
    pw.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(rs))
      .groupBy(col("t"), col("sr2"))
      .agg(sum(expr(s"cast((4 * c - t) as $d38) * (4 * c - t)")).as("num"),
        max(when(col("w") === 0, col("c"))).as("c0"),
        max(when(col("w") === 1, col("c"))).as("c1"),
        max(when(col("w") === 2, col("c"))).as("c2"),
        max(when(col("w") === 3, col("c"))).as("c3"))
      .select(col("t"), col("sr2"), col("c0"), col("c1"), col("c2"), col("c3"),
        expr("""cast(1000000 * 3 * num
                div nullif(cast(4 as decimal(38,0)) * (4 * t - sr2), 0)
                as bigint)""").as("q_e6"))
  }

  /** Cochran–Mantel–Haenszel test of treatment (even/odd user) on
    * high-value conversion ($200+ purchase, the [[abTestQ]] metric)
    * stratified by signup cohort (first-event week) — the stratified
    * A/B readout that a raw pooled 2×2 gets wrong when cohorts differ
    * (Simpson's inversion). Per stratum the hypergeometric
    * E = n₁m₁/n and V = n₁n₀m₁m₀/(n²(n−1)) are truncating e6 integral
    * divisions (the [[logrankQ]] staging); χ² = (ΣA−ΣE)²/ΣV closes it.
    * One per-user reduce, then all arithmetic lives on the 4-row
    * stratum support.
    */
  def cmhQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"),
        col("event_type"), col("value"))
    val d0 = ev.groupBy().agg(min(col("d")).as("d0"))
    val per = ev.crossJoin(broadcast(d0))
      .groupBy(col("user_id"))
      .agg(expr("least(min(d - d0) div 7, 3)").as("s"),
        max(when(col("event_type") === "purchase" && col("value") >= 200, 1L)
          .otherwise(0L)).as("conv"))
      .withColumn("trt", (col("user_id") % 2 === 0).cast("int"))
    val strata = per.groupBy(col("s"))
      .agg(sum(when(col("trt") === 1 && col("conv") === 1, 1L).otherwise(0L)).as("a"),
        sum(col("trt").cast("long")).as("n1"),
        sum(when(col("trt") === 0, 1L).otherwise(0L)).as("n0"),
        sum(col("conv")).as("m1"))
      .withColumn("n", col("n1") + col("n0"))
      .withColumn("m0", col("n") - col("m1"))
    strata.groupBy()
      .agg(sum(col("a")).as("sum_a"),
        sum(expr("(cast(1000000 as decimal(38,0)) * n1 * m1) div n")).as("e_e6"),
        sum(expr("""CASE WHEN n > 1 THEN
                      (cast(1000000 as decimal(38,0)) * n1 * n0 * m1 * m0)
                      div (cast(n as decimal(38,0)) * n * (n - 1))
                    ELSE 0 END""")).as("v_e6"))
      .select(col("sum_a"), col("e_e6"), col("v_e6"),
        expr("""cast((cast(sum_a as decimal(38,0)) * 1000000 - e_e6)
                   * (cast(sum_a as decimal(38,0)) * 1000000 - e_e6)
                   div nullif(v_e6, 0) as bigint)""").as("chi2_e6"))
  }

  /** Exact Shapley-value channel attribution — the order-free,
    * axiomatic alternative to [[attributionQ]]'s last-touch: with 4
    * touch channels (click/view/signup/error) and coalition value
    * v(S) = converted users reached by at least one channel of S, each
    * channel's Shapley value sums w(|S|)·[v(S∪{c})−v(S)] over its 8
    * absent subsets, with the 4-channel factorial weights as truncated
    * e6 literals. The ONLY data-sized work is the per-user touch-mask
    * reduce; everything after lives on the 16-row mask support (value
    * table, subset spine, channel spine — all broadcast-sized by
    * construction), so the operator is one scan + O(2^k) arithmetic at
    * any corpus size.
    */
  def shapleyQ(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "click", 1L).otherwise(0L)).as("hc"),
        max(when(col("event_type") === "view", 1L).otherwise(0L)).as("hv"),
        max(when(col("event_type") === "signup", 1L).otherwise(0L)).as("hs"),
        max(when(col("event_type") === "error", 1L).otherwise(0L)).as("he"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
    val sup = per.filter(col("conv") === 1)
      .groupBy((col("hc") + col("hv") * 2 + col("hs") * 4 + col("he") * 8).as("mask"))
      .agg(count(lit(1)).as("cnt"))
    val subsets = spark.range(0, 16).select(col("id").as("s"))
    val v = subsets.crossJoin(broadcast(sup))
      .groupBy(col("s"))
      .agg(sum(when(expr("(mask & s) != 0"), col("cnt")).otherwise(0L)).as("v"))
    val chan = spark.range(0, 4)
      .select(col("id").as("c"), expr("shiftleft(1L, cast(id as int))").as("cbit"))
    val vWith = v.select(col("s").as("s2"), col("v").as("v_with"))
    val phi = chan.join(v, expr("(s & cbit) = 0"))
      .join(vWith, col("s2") === col("s") + col("cbit"))
      .withColumn("w_e6", expr(
        """CASE bit_count(s) WHEN 0 THEN 250000 WHEN 1 THEN 83333
          |WHEN 2 THEN 83333 ELSE 250000 END""".stripMargin))
      .groupBy(col("c"))
      .agg(sum(col("w_e6") * (col("v_with") - col("v"))).as("phi_e6"))
    val vFull = v.filter(col("s") === 15).select(col("v").as("v_full"))
    phi.crossJoin(broadcast(vFull))
      .select(expr(
        """CASE c WHEN 0 THEN 'click' WHEN 1 THEN 'view'
          |WHEN 2 THEN 'signup' ELSE 'error' END""".stripMargin).as("channel"),
        col("phi_e6"), col("v_full"))
      .orderBy(col("channel"))
  }

  /** SAX symbolization of the daily event volume (Lin et al. 2003) —
    * PAA over 4-day windows, empirical-quartile breakpoints via the
    * dyadic-exact 4·percentile trick (f ∈ {¼,½,¾} interpolation is
    * exact in binary on integer inputs, so both engines land on the
    * same integer after ×4), symbols a–d, and the 3-symbol motif
    * (word) histogram built by two equi-joins on seg+1/seg+2 — no
    * window anywhere. The data-sized work is the daily count
    * aggregate; PAA/symbols/words are calendar-bounded. The motif
    * counts are the time-series indexing primitive (frequent word =
    * recurring weekly shape; rare word = anomalous stretch).
    */
  def saxQ(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyCounts(spark, sfDir)
    val d0 = daily.groupBy().agg(min(col("d")).as("d0"))
    val paa = daily.crossJoin(broadcast(d0))
      .groupBy(expr("(d - d0) div 4").as("seg"))
      .agg(sum(col("x")).as("p"), count(lit(1)).as("nd"))
      .filter(col("nd") === 4)
    val qs = paa.groupBy().agg(
      expr("cast(4 * percentile(p, 0.25) as bigint)").as("q25_4"),
      expr("cast(4 * percentile(p, 0.5) as bigint)").as("q50_4"),
      expr("cast(4 * percentile(p, 0.75) as bigint)").as("q75_4"))
    val sym = paa.crossJoin(broadcast(qs))
      .select(col("seg"), expr(
        """CASE WHEN 4 * p <= q25_4 THEN 'a' WHEN 4 * p <= q50_4 THEN 'b'
          |WHEN 4 * p <= q75_4 THEN 'c' ELSE 'd' END""".stripMargin).as("sym"))
    sym.as("s1")
      .join(sym.as("s2"), col("s2.seg") === col("s1.seg") + 1)
      .join(sym.as("s3"), col("s3.seg") === col("s1.seg") + 2)
      .select(concat(col("s1.sym"), col("s2.sym"), col("s3.sym")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("word"))
  }

  /** The 7×7 DTW dynamic program as a shared expression chain: cell
    * d_i_j = |a_i − b_j| + min(↑, ←, ↖), rows unrolled top-to-bottom
    * so every reference points at an already-defined cell. ONE
    * generator feeds both the Spark withColumn chain and the DuckDB
    * oracle's lateral-alias SELECT — the two sides cannot drift.
    */
  /** Unrolled Needleman-Wunsch global-alignment cells over two
    * n-element symbol sequences: match +2, mismatch −1, gap −1, with
    * the virtual boundary row/column d_0_j = −j, d_i_0 = −i folded in
    * as literals. Same shared-chain discipline as [[dtwCells]]: one
    * codegen'd column per cell, identical expression text on both
    * engines.
    */
  private[graft] def nwCells(a: Int => String, b: Int => String,
      n: Int): Seq[(String, String)] = {
    val buf = scala.collection.mutable.ArrayBuffer[(String, String)]()
    for (i <- 1 to n; j <- 1 to n) {
      val s = s"(case when ${a(i)} = ${b(j)} then 2 else -1 end)"
      val diag =
        if (i == 1 && j == 1) "0"
        else if (i == 1) s"(${-(j - 1)})"
        else if (j == 1) s"(${-(i - 1)})"
        else s"d_${i - 1}_${j - 1}"
      val up = if (i == 1) s"(${-j})" else s"d_${i - 1}_$j"
      val left = if (j == 1) s"(${-i})" else s"d_${i}_${j - 1}"
      buf += (s"d_${i}_$j" -> s"greatest($diag + $s, $up - 1, $left - 1)")
    }
    buf.toSeq
  }

  /** LCS DP cells (longest common subsequence), the [[nwCells]]
    * unrolling with the gap-free recurrence d(i,j) = eq ? diag+1 :
    * max(up, left); boundaries are 0.
    */
  private[graft] def lcsCells(a: Int => String, b: Int => String,
      n: Int): Seq[(String, String)] = {
    val buf = scala.collection.mutable.ArrayBuffer[(String, String)]()
    for (i <- 1 to n; j <- 1 to n) {
      val eq = s"(case when ${a(i)} = ${b(j)} then 1 else 0 end)"
      val diag = if (i == 1 || j == 1) "0" else s"d_${i - 1}_${j - 1}"
      val up = if (i == 1) "0" else s"d_${i - 1}_$j"
      val left = if (j == 1) "0" else s"d_${i}_${j - 1}"
      buf += (s"d_${i}_$j" -> s"greatest($diag + $eq, $up, $left)")
    }
    buf.toSeq
  }

  private[graft] def dtwCells(a: Int => String, b: Int => String): Seq[(String, String)] = {
    val buf = scala.collection.mutable.ArrayBuffer[(String, String)]()
    for (i <- 1 to 7; j <- 1 to 7) {
      val cost = s"abs(${a(i)} - ${b(j)})"
      val e =
        if (i == 1 && j == 1) cost
        else if (i == 1) s"d_1_${j - 1} + $cost"
        else if (j == 1) s"d_${i - 1}_1 + $cost"
        else s"$cost + least(d_${i - 1}_$j, d_${i - 1}_${j - 1}, d_${i}_${j - 1})"
      buf += (s"d_${i}_$j" -> e)
    }
    buf.toSeq
  }

  /** Dynamic-time-warping distance between every pair of full weekly
    * day-curves of the event volume — "which weeks had the same shape,
    * possibly time-shifted?", the elastic alternative to the rigid
    * lag-k alignment of [[acfQ]]. Exact integer DP: |a_i − b_j| cells,
    * the full 7×7 table unrolled by [[dtwCells]] into one projection
    * per pair (49 codegen'd columns — no UDF, no recursion), weeks as
    * sorted 7-element arrays built by one calendar-bounded aggregate.
    * All pair work runs on the week support (~n_weeks² rows), never on
    * raw events.
    */
  def dtwQ(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyCounts(spark, sfDir)
    val d0 = daily.groupBy().agg(min(col("d")).as("d0"))
    val wk = daily.crossJoin(broadcast(d0))
      .select(expr("(d - d0) div 7").as("w"), expr("(d - d0) % 7").as("dow"), col("x"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("nd"),
        expr("transform(array_sort(collect_list(struct(dow, x))), s -> s.x)").as("arr"))
      .filter(col("nd") === 7)
      .select(col("w"), col("arr"))
    var df = wk.as("p")
      .join(wk.as("q"), col("q.w") > col("p.w"))
      .select(col("p.w").as("week_a"), col("q.w").as("week_b"),
        col("p.arr").as("a"), col("q.arr").as("b"))
    for ((n, e) <- dtwCells(i => s"element_at(a, $i)", j => s"element_at(b, $j)"))
      df = df.withColumn(n, expr(e))
    df.select(col("week_a"), col("week_b"), col("d_7_7").as("dtw"))
      .orderBy(col("week_a"), col("week_b"))
  }

  /** Heavy-change detection: the 20 tokens whose absolute frequency
    * moved most between the even- and odd-doc_id halves of the corpus
    * — the vocabulary-drift readout a streaming CMS pair would
    * approximate ([[cmsTopkQ]]'s exact batch sibling). One tokenize
    * pass into a conditional-count partial aggregate per token type,
    * final cut a TakeOrdered with token tie-break — vocab-bounded
    * after the map-side combine, no window, no join.
    */
  def heavyChangeQ(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(TextOps.words(lower(col("text")))).as("tok"))
      .groupBy(col("tok"))
      .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("c_even"),
        sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("c_odd"))
      .withColumn("delta", abs(col("c_even") - col("c_odd")))
      .orderBy(col("delta").desc, col("tok"))
      .limit(20)
  }

  /** l-diversity audit over (day, event_type) quasi-identifier groups
    * with the spend bucket (value div 100) as the sensitive attribute
    * — the release-safety companion to [[kanonQ]]'s k-anonymity: a
    * group every member of which shares one sensitive value leaks it
    * even when k-anonymous. Per event_type: group count, the minimum
    * per-group distinct-sensitive count l, how many groups fall below
    * l=3, and the rows they expose. Two partial aggregates (distinct
    * on (QI, sensitive), then per-QI counts) — scan-shaped.
    */
  def lDiversityQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("d"), col("event_type"),
        expr("cast(floor(value) as bigint) div 100").as("sv"))
    val perGroup = ev.groupBy(col("d"), col("event_type"))
      .agg(count(lit(1)).as("n_rows"), count_distinct(col("sv")).as("l"))
    perGroup.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_groups"), min(col("l")).as("min_l"),
        sum(when(col("l") < 3, 1L).otherwise(0L)).as("groups_below_3"),
        sum(when(col("l") < 3, col("n_rows")).otherwise(0L)).as("rows_exposed"))
      .withColumn("l_satisfied", col("groups_below_3") === 0)
      .orderBy(col("event_type"))
  }

  /** Mean-shift changepoint detection on the daily volume by binary
    * segmentation: for every candidate split the SSE drop
    * SSE_total − (SSE_left + SSE_right) is computed from one prefix-sum
    * walk (SSE = ΣX² − (ΣX)²/n, each S²/n a truncating e6 integral
    * division in decimal(38,0) — exact and overflow-loud at any
    * scale), and the top-3 splits survive a TakeOrdered cut. The
    * offline argmax sibling of [[cusumQ]]'s sequential detector:
    * CUSUM tells you THAT the level shifted, this tells you WHERE the
    * best piecewise-constant break is, with the measured variance
    * explained. Daily aggregate is the only data-sized pass; the walk
    * and argmax live on the calendar support.
    */
  def changepointQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val daily = dailyCounts(spark, sfDir)
    val w = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("d")))
      .orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val walked = daily
      .withColumn("rn", count(lit(1)).over(w))
      .withColumn("cs", sum(col("x").cast(d38)).over(w))
      .withColumn("css", sum((col("x").cast(d38)) * col("x")).over(w))
    val tot = daily.groupBy().agg(count(lit(1)).as("nn"),
      sum(col("x").cast(d38)).as("s"),
      sum((col("x").cast(d38)) * col("x")).as("ss"))
    walked.crossJoin(broadcast(tot))
      .filter(col("rn") < col("nn"))
      .withColumn("sse_tot_e6",
        expr("ss * 1000000 - (s * s * 1000000) div nn"))
      .withColumn("sse_split_e6",
        expr("""(css * 1000000 - (cs * cs * 1000000) div rn)
                + ((ss - css) * 1000000
                   - ((s - cs) * (s - cs) * 1000000) div (nn - rn))"""))
      .select(col("d").as("split_day"),
        (col("sse_tot_e6") - col("sse_split_e6")).cast("long").as("gain_e6"),
        expr("cast((cs * 1000000) div rn as bigint)").as("left_mean_e6"),
        expr("cast(((s - cs) * 1000000) div (nn - rn) as bigint)").as("right_mean_e6"))
      .orderBy(col("gain_e6").desc, col("split_day"))
      .limit(3)
  }

  /** Local outlier factor (Breunig et al. 2000) for the 50 probe
    * vectors, k=5, on 1e6-floored Euclidean distances — the
    * density-RATIO outlier score that plain kNN distance misses (a
    * point at the edge of a tight cluster scores high even though its
    * absolute distances are small). LOF needs the lrd of each probe's
    * neighbors, which needs THEIR neighbors' k-distances — so the
    * exact computation is three hop-bounded corpus passes (probes →
    * ≤250 neighbors → ≤1250 second-hop points), each a broadcast
    * probe-side scan selected through the partial
    * [[graft.ops.Aggregators.BottomKLong]] (never a corpus-length
    * window sort). Every rational (lrd = k/Σreach, the final density
    * ratio) is a truncating e6 integral division — bit-identical on
    * both engines. Eval-capped exact by the [[silhouetteQ]]/[[mrrQ]]
    * contract; the scale path for the candidate stage is the certified
    * ANN front.
    */
  def lofQ(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 5
    val e = Similarity.asDouble(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("embedding"))
    // the two self-norms depend on ONE side each: computed per probe /
    // per corpus row BEFORE the cross join instead of per PAIR (the
    // third-hop pass is |probes|·|corpus| pairs — this cuts 2 of its 3
    // 64-dim dot products; d2 = (qn − 2·qc) + cn keeps the original
    // left-to-right IEEE order, so every distance is bit-identical)
    val d2 = col("qn") -
      lit(2.0) * Similarity.dot(col("qv"), col("cv")) +
      col("cn")
    def knnOf(ids: DataFrame): DataFrame = {
      val q = e.join(ids, Seq("vec_id"))
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          Similarity.dot(col("embedding"), col("embedding")).as("qn"))
      val scored = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
          Similarity.dot(col("embedding"), col("embedding")).as("cn"))
        .crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          floor(sqrt(greatest(d2, lit(0.0))) * lit(1000000.0)).cast("long").as("adc_e6"))
      Similarity.bottomKByQuery(scored, k)
        .withColumnRenamed("adc_e6", "d_e6")
        .localCheckpoint(true)
    }
    def kdist(knn: DataFrame): DataFrame =
      knn.groupBy(col("query_id")).agg(max(col("d_e6")).as("kdist_e6"))
    val knn0 = knnOf(e.filter(col("vec_id") < 50).select(col("vec_id")))
    val knn1 = knnOf(knn0.select(col("neighbor_id").as("vec_id")).distinct())
    val knn2 = knnOf(knn1.select(col("neighbor_id").as("vec_id")).distinct())
    val kd = kdist(knn1).union(kdist(knn2))
      .groupBy(col("query_id")).agg(max(col("kdist_e6")).as("kdist_e6"))
    def lrd(knn: DataFrame): DataFrame =
      knn.join(kd.withColumnRenamed("query_id", "neighbor_id"), Seq("neighbor_id"))
        .withColumn("reach_e6", greatest(col("kdist_e6"), col("d_e6")))
        .groupBy(col("query_id"))
        .agg(expr("5000000000000 div nullif(sum(reach_e6), 0)").as("lrd_e6"))
    knn0
      .join(lrd(knn1).withColumnRenamed("query_id", "neighbor_id"), Seq("neighbor_id"))
      .groupBy(col("query_id"))
      .agg(sum(col("lrd_e6")).as("sum_lrd_o"))
      .join(lrd(knn0).withColumnRenamed("lrd_e6", "lrd_p_e6"), Seq("query_id"))
      .join(kdist(knn0).withColumnRenamed("kdist_e6", "kdist_p_e6"), Seq("query_id"))
      .select(col("query_id").as("probe_id"), col("kdist_p_e6"), col("lrd_p_e6"),
        expr("1000000 * sum_lrd_o div nullif(5 * lrd_p_e6, 0)").as("lof_e6"))
      .orderBy(col("probe_id"))
  }

  /** Instrumental-variable (Wald/LATE) estimate of the effect of
    * heavy clicking on purchase spend under a simulated-encouragement
    * design: Z = (user_id % 3 == 0) is the encouragement arm, and
    * treatment take-up D = clicks ≥ 15, with the encouraged facing a
    * lower bar (ck ≥ 12) — so compliers exist by construction and the
    * first stage E[D|Z=1]−E[D|Z=0] is non-degenerate. LATE =
    * (E[Y|Z=1]−E[Y|Z=0]) / (E[D|Z=1]−E[D|Z=0]) — the reduced form
    * over the first stage, which cancels selection on unobservables
    * that a naive D→Y regression absorbs. Everything is exact
    * integers: one user-keyed partial aggregate, then a 2-cell
    * sufficient-statistics readout with staged truncating e6
    * divisions (the [[welchTtestQ]] discipline) — scan-shaped at any
    * scale.
    */
  def ivWaldQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val per = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ck"),
        sum(when(col("event_type") === "purchase", cents(col("value")).cast("long"))
          .otherwise(0L)).as("y"))
      .select((col("user_id") % 3 === 0).as("z"), col("ck"), col("y"))
      .withColumn("dtr",
        when(col("ck") >= 15 || (col("z") && col("ck") >= 12), 1L).otherwise(0L))
    per.groupBy()
      .agg(sum(when(col("z"), 1L).otherwise(0L)).cast(d38).as("n1"),
        sum(when(!col("z"), 1L).otherwise(0L)).cast(d38).as("n0"),
        sum(when(col("z"), col("dtr"))).cast(d38).as("d1"),
        sum(when(!col("z"), col("dtr"))).cast(d38).as("d0"),
        sum(when(col("z"), col("y"))).cast(d38).as("y1"),
        sum(when(!col("z"), col("y"))).cast(d38).as("y0"))
      .withColumn("itt", expr("10000 * (y1 * n0 - y0 * n1) div (n1 * n0)"))
      .withColumn("fs", expr("1000000 * (d1 * n0 - d0 * n1) div (n1 * n0)"))
      .select(col("n1").cast("long").as("n_encouraged"),
        col("n0").cast("long").as("n_control"),
        col("itt").cast("long").as("itt_e6"),
        col("fs").cast("long").as("first_stage_e6"),
        expr("cast(itt * 1000000 div nullif(fs, 0) as bigint)").as("late_e6"))
  }

  /** Inverse-propensity-weighted ATE of heavy clicking (≥ 14 clicks)
    * on purchase spend with cell-based propensities: users are
    * stratified by total-activity cells (n_ev div 10 — activity
    * confounds both clicking and spending), the within-cell propensity
    * is the exact treated fraction, and the Horvitz–Thompson IPW
    * estimator then algebraically equals the cell-size-weighted
    * difference of within-cell treated/control means — computed that
    * way so every stage is a truncating integer division. Cells
    * missing either arm are dropped (the standard positivity filter).
    * One user-keyed aggregate, a bounded cell table, a broadcast 1-row
    * overall — the causal sibling of [[didQ]] for non-panel
    * confounding.
    */
  /** Propensity common-support audit (overlap coefficient) on
    * [[ipwQ]]'s activity-cell propensity buckets — the "should you
    * even run the causal estimator?" gate: OVL = Σ_cell min(treated
    * mass share, control mass share) at e6 (1 = identical covariate
    * distributions, → 0 = no overlap and every reweighting estimator
    * is extrapolating). Integer shares per cell BEFORE the min, so
    * both engines agree bit-for-bit; per-cell shares shipped alongside
    * the scalar so the thin cells are visible, not just the total. One
    * user aggregate, 13-cell grid.
    */
  def propensityOverlapQ(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ck"))
      .select(expr("least(n_ev div 10, 12)").as("cell"),
        when(col("ck") >= 14, 1L).otherwise(0L).as("dtr"))
    val cells = per.groupBy(col("cell"))
      .agg(sum(when(col("dtr") === 1, 1L).otherwise(0L)).as("nt"),
        sum(when(col("dtr") === 0, 1L).otherwise(0L)).as("nc"))
    val tot = cells.groupBy()
      .agg(sum(col("nt")).as("ttot"), sum(col("nc")).as("ctot"))
    val sh = cells.crossJoin(broadcast(tot))
      .select(col("cell"), col("nt"), col("nc"),
        expr("nt * 1000000 div ttot").as("ft_e6"),
        expr("nc * 1000000 div ctot").as("fc_e6"))
      .withColumn("min_e6", least(col("ft_e6"), col("fc_e6")))
    val ovl = sh.groupBy().agg(sum(col("min_e6")).as("ovl_e6"))
    sh.crossJoin(broadcast(ovl))
      .select(col("cell"), col("nt"), col("nc"), col("ft_e6"), col("fc_e6"),
        col("min_e6"), col("ovl_e6"))
      .orderBy(col("cell"))
  }

  def ipwQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val per = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ck"),
        sum(when(col("event_type") === "purchase", cents(col("value")).cast("long"))
          .otherwise(0L)).as("y"))
      .select(expr("least(n_ev div 10, 12)").as("cell"),
        when(col("ck") >= 14, 1L).otherwise(0L).as("dtr"), col("y"))
    val cells = per.groupBy(col("cell"))
      .agg(sum(when(col("dtr") === 1, 1L).otherwise(0L)).cast(d38).as("nt"),
        sum(when(col("dtr") === 0, 1L).otherwise(0L)).cast(d38).as("nc"),
        sum(when(col("dtr") === 1, col("y"))).cast(d38).as("st"),
        sum(when(col("dtr") === 0, col("y"))).cast(d38).as("sc"))
      .filter(col("nt") > 0 && col("nc") > 0)
      .withColumn("mt", expr("st * 10000 div nt"))
      .withColumn("mc", expr("sc * 10000 div nc"))
    val overall = cells.groupBy()
      .agg(sum(expr("(mt - mc) * (nt + nc)")).as("num"),
        sum(expr("nt + nc")).as("ntot"))
      .select(expr("cast(num div ntot as bigint)").as("ate_e6"),
        col("ntot").cast("long").as("n_users"))
    cells.crossJoin(broadcast(overall))
      .select(col("cell"),
        col("nt").cast("long").as("n_treated"), col("nc").cast("long").as("n_control"),
        col("mt").cast("long").as("mt_e6"), col("mc").cast("long").as("mc_e6"),
        col("ate_e6"), col("n_users"))
      .orderBy(col("cell"))
  }

  /** Split conformal prediction interval for purchase value: the
    * even-event half trains a per-user-segment mean predictor, the odd
    * half calibrates, and q̂ is the ⌈(n+1)(1−α)⌉-th smallest absolute
    * residual (α = 0.2) — the distribution-free interval with a
    * finite-sample marginal-coverage guarantee. The selection runs on
    * the residual-value HISTOGRAM (group-by value, cumulative count
    * over the bounded cents support — never a row-level sort), so the
    * only corpus-sized work is two narrow scans; the emitted
    * coverage_e6 ≥ 800000 is the guarantee made checkable.
    */
  def conformalQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val pur = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), (col("user_id") % 4).as("seg"),
        cents(col("value")).cast("long").as("cts"))
    val m = pur.filter(col("event_id") % 2 === 0)
      .groupBy(col("seg"))
      .agg(sum(col("cts")).cast(d38).as("s"), count(lit(1)).cast(d38).as("n"))
      .select(col("seg"), expr("cast(s * 10000 div n as bigint)").as("yhat_e6"))
    val cal = pur.filter(col("event_id") % 2 === 1)
      .join(broadcast(m), Seq("seg"))
      .select(abs(col("cts") * 10000 - col("yhat_e6")).as("r"))
    val w = Window
      .partitionBy(graft.functions.GraftFunctions.singleton_key(col("r")))
      .orderBy(col("r"))
    val hist = cal.groupBy(col("r")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val nk = cal.groupBy().agg(count(lit(1)).as("n_cal"))
      .withColumn("k", expr("(4 * (n_cal + 1) + 4) div 5"))
    hist.crossJoin(broadcast(nk))
      .filter(col("cum") >= col("k"))
      .groupBy(col("n_cal"), col("k"))
      .agg(min(col("r")).as("qhat_e6"), min(col("cum")).as("n_le"))
      .select(col("n_cal"), col("k"), col("qhat_e6"),
        expr("n_le * 1000000 div n_cal").as("coverage_e6"))
  }

  /** Friedman rank test across the five event types with calendar days
    * as blocks: within each day the per-type volumes are midranked
    * (doubled ranks keep ties integral), rank sums accumulate per
    * type, and Q = 3·Σ(R2ⱼ−n(k+1))² / (n·k·(k+1)) lands at 10⁻⁶ by
    * integral division — the k-group repeated-measures sibling of
    * [[cochranQQ]] (binary) and [[kruskalWallisQ]] (unblocked).
    * Within-day ranking is a k×k self-join on the day key (k = 5 —
    * constant fan-out, never corpus-quadratic); the day×type spine
    * zero-fills silent types so every block ranks the full k.
    */
  def friedmanQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("d"), col("event_type"))
    // ONE events scan: the spine, ranks and stats all derive from the
    // checkpointed (day x type) aggregate — the x100 soak showed the
    // original's 4 independent re-scans dominating the wall clock.
    val counts = ev.groupBy(col("d"), col("event_type")).agg(count(lit(1)).as("x"))
      .localCheckpoint(true)
    val spine = counts.select(col("d")).distinct()
      .crossJoin(broadcast(counts.select(col("event_type")).distinct()))
    val full = spine.join(counts, Seq("d", "event_type"), "left")
      .select(col("d"), col("event_type"), coalesce(col("x"), lit(0L)).as("x"))
      .localCheckpoint(true)
    val r2 = full.as("a")
      .join(full.as("b"), col("a.d") === col("b.d"))
      .groupBy(col("a.d").as("d"), col("a.event_type").as("event_type"))
      .agg((sum(when(col("b.x") < col("a.x"), 2L)
        .when(col("b.x") === col("a.x"), 1L).otherwise(0L)) + 1).as("r2"))
    val sums = r2.groupBy(col("event_type")).agg(sum(col("r2")).as("r2_sum"))
    val stat = sums.crossJoin(broadcast(
        full.select(col("d")).distinct().groupBy().agg(count(lit(1)).as("n_days"))))
      .groupBy(col("n_days"))
      .agg(sum(expr("(r2_sum - n_days * 6) * (r2_sum - n_days * 6)")).as("s2"))
      .select(col("n_days"), expr("1000000 * 3 * s2 div (n_days * 5 * 6)").as("q_e6"))
    sums.crossJoin(broadcast(stat))
      .select(col("event_type"), col("r2_sum"), col("n_days"), col("q_e6"))
      .orderBy(col("event_type"))
  }

  /** Mean-average-precision@10 over the label-relevance retrieval task
    * of [[mrrQ]]/[[ndcgQ]]: per query, AP sums precision-at-i at each
    * relevant rank i ≤ 10 and divides by min(R, 10) where R is the
    * query's total relevant corpus count — the rank-sensitive recall
    * companion the rank-of-first ([[mrrQ]]) and gain-discount
    * ([[ndcgQ]]) metrics miss. Precision terms are staged e6 integral
    * divisions so AP is bit-exact. Same declared eval-bounded shape as
    * its siblings: 50 broadcast queries against the corpus, per-query
    * top-10 via the query-keyed window.
    */
  def mapAtKQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = normEmbeddings(spark, sfDir)
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    val relTotal = e.groupBy(col("label").cast("long").as("true_label"))
      .agg(count(lit(1)).as("n_lab"))
    probeRanks(e)
      .filter(col("rnk") <= 10)
      .withColumn("rel", when(col("n_label") === col("true_label"), 1L).otherwise(0L))
      .withColumn("cumrel",
        sum(col("rel")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("query_id"), col("true_label"))
      .agg(sum(col("rel")).as("n_rel10"),
        sum(when(col("rel") === 1, expr("cumrel * 1000000 div rnk"))
          .otherwise(0L)).as("ap_num"))
      .join(broadcast(relTotal), Seq("true_label"))
      .select(col("query_id"), col("n_rel10"),
        expr("ap_num div nullif(least(n_lab - 1, 10), 0)").as("ap_e6"))
      .orderBy(col("query_id"))
  }

  /** ROUGE-1/2 between each reference document and a half-length
    * candidate (the leading half of its words — a deterministic
    * "summary"): clipped gram matches over candidate and reference
    * totals give precision, recall, and F1 = 2m/(tc+tr), each at 10⁻⁶
    * by integral division — the recall-oriented summarization
    * companion to [[bleuQ]]'s precision ladder. Gram counting is the
    * same per-(doc, n) partial aggregate as BLEU; all joins are keyed
    * by (doc, n, gram) — scan-shaped in corpus size.
    */
  /** ROUGE-L between each document's 10-word lead (reference) and an
    * every-other-word extract of its first 16 words (candidate — the
    * deterministic stand-in for a 2× compressive summary): the
    * LONGEST-COMMON-SUBSEQUENCE member of the ROUGE family, which
    * credits in-order phrasing that [[rougeQ]]'s clipped n-gram
    * matching fragments (an extract that keeps every other word has
    * ROUGE-2 ≈ 0 but ROUGE-L = |cand|). The 8×10 DP runs as
    * [[lcsCells]]-unrolled codegen columns per document — no UDF, no
    * recursion, identical lateral-alias replay on DuckDB. P = L/|cand|,
    * R = L/|ref|, F = 2L/(|cand|+|ref|), exact e6 integers.
    */
  def rougeLQ(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 300 && col("doc_id") % 5 === 0)
      .select(col("doc_id"), TextOps.words(lower(col("text"))).as("ws"))
      .filter(size(col("ws")) >= 20)
      .select(col("doc_id"),
        expr("slice(ws, 1, 10)").as("ref"),
        expr("transform(sequence(1, 8), i -> element_at(ws, cast(2 * i as int)))")
          .as("cand"))
    var df = base
    for ((n, e) <- lcsCells(i => s"element_at(cand, $i)",
        j => s"element_at(ref, $j)", 10)
        if { val p = n.split("_"); p(1).toInt <= 8 })
      df = df.withColumn(n, expr(e))
    df.select(col("doc_id"), col("d_8_10").cast("long").as("lcs"),
        expr("cast(d_8_10 as bigint) * 1000000 div 8").as("prec_e6"),
        expr("cast(d_8_10 as bigint) * 1000000 div 10").as("rec_e6"),
        expr("cast(2 * d_8_10 as bigint) * 1000000 div 18").as("f_e6"))
      .orderBy(col("doc_id"))
  }

  def rougeQ(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 300 && col("doc_id") % 5 === 0)
      .select(col("doc_id").as("pid"), TextOps.words(lower(col("text"))).as("ws"))
    val ref = base
    val cand = base.select(col("pid"),
      expr("slice(ws, 1, greatest(cast(size(ws) div 2 as int), 1))").as("ws"))
    def gramCounts(df: DataFrame, cname: String): DataFrame =
      df.crossJoin(broadcast(
          df.sparkSession.range(1, 3).select(col("id").cast("int").as("n"))))
        .filter(size(col("ws")) >= col("n"))
        .select(col("pid"), col("n"), explode(expr(
          """transform(sequence(0, size(ws) - n),
             i -> array_join(slice(ws, cast(i + 1 as int), n), ' '))"""))
          .as("gram"))
        .groupBy(col("pid"), col("n"), col("gram"))
        .agg(count(lit(1)).as(cname))
    val cc = gramCounts(cand, "c")
    val rc = gramCounts(ref, "cr")
    val tc = cc.groupBy(col("pid"), col("n")).agg(sum(col("c")).as("total_c"))
    val tr = rc.groupBy(col("pid"), col("n")).agg(sum(col("cr")).as("total_r"))
    val matches = cc.join(rc, Seq("pid", "n", "gram"))
      .groupBy(col("pid"), col("n"))
      .agg(sum(least(col("c"), col("cr"))).as("m"))
    tc.join(tr, Seq("pid", "n"))
      .join(matches, Seq("pid", "n"), "left")
      .select(col("pid").as("doc_id"), col("n"), col("total_c"), col("total_r"),
        coalesce(col("m"), lit(0L)).as("matches"))
      .withColumn("prec_e6", expr("matches * 1000000 div total_c"))
      .withColumn("rec_e6", expr("matches * 1000000 div total_r"))
      .withColumn("f1_e6", expr("2 * matches * 1000000 div (total_c + total_r)"))
      .orderBy(col("doc_id"), col("n"))
  }

  /** Viterbi decoding of a 2-state HMM (browse / buy-intent) over each
    * user's time-ordered event sequence, with integer log-score
    * surrogates for the initial/transition/emission tables. The DP is
    * run as a (max,+) fold: the initial vector is I[s]+E[s][o₁] and
    * each later observation applies v'[s] = max_{s'}(v[s']+T[s'][s]) +
    * E[s][o] — exact integers end to end, and because (max,+) products
    * are ASSOCIATIVE the per-user chain could even partial-aggregate
    * at scale. One user-keyed collect of the bounded per-user sequence
    * (≤ ~100 events), then a narrow fold — the sequence-labeling
    * sibling of [[dtwQ]]'s alignment DP.
    */
  def viterbiQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e0 = "array(-2L, -1L, -5L, -4L, -2L)"
    val e1 = "array(-4L, -4L, -1L, -1L, -5L)"
    val seq = Tables.events(spark, sfDir)
      .select(col("user_id"),
        struct(expr("unix_micros(ts)").as("t"), col("event_id"),
          expr("""cast(case event_type when 'click' then 0 when 'view' then 1
                  when 'purchase' then 2 when 'signup' then 3 else 4 end as int)""")
            .as("o")).as("s"))
      .groupBy(col("user_id"))
      .agg(expr("transform(sort_array(collect_list(s)), x -> x.o)").as("obs"))
    seq
      .withColumn("vv", expr(
        s"""aggregate(
           |  slice(obs, 2, size(obs) - 1),
           |  array(0L + element_at($e0, element_at(obs, 1) + 1),
           |        -10L + element_at($e1, element_at(obs, 1) + 1)),
           |  (acc, o) -> array(
           |    greatest(element_at(acc, 1) - 1L, element_at(acc, 2) - 6L)
           |      + element_at($e0, o + 1),
           |    greatest(element_at(acc, 1) - 8L, element_at(acc, 2) - 2L)
           |      + element_at($e1, o + 1)))""".stripMargin))
      .select(col("user_id"), size(col("obs")).cast("long").as("n_events"),
        expr("element_at(vv, 1)").as("v0"), expr("element_at(vv, 2)").as("v1"),
        expr("greatest(element_at(vv, 1), element_at(vv, 2))").as("best_score"),
        expr("cast(if(element_at(vv, 2) > element_at(vv, 1), 1, 0) as bigint)")
          .as("best_state"))
      .orderBy(col("user_id"))
  }

  /** 1-D Kalman filter (random-walk state, Q = 25, R = 400) over the
    * daily event volume: predict P' = P+Q, gain K = P'/(P'+R), update
    * x += K·(z−x), P = (1−K)·P' — every component held as a truncated
    * e6 integer so the whole gain/state trajectory is bit-exact on
    * both engines (the [[holtQ]] fixed-point discipline; Holt smooths
    * with FIXED gains, the Kalman gain adapts and converges). One
    * partial-aggregated daily count, then a calendar-bounded fold.
    */
  def kalmanQ(spark: SparkSession, sfDir: String): DataFrame = {
    val prev = "element_at(acc, -1)"
    val pp = s"$prev.p + 25000000L"
    val k = s"($pp) * 1000000L div (($pp) + 400000000L)"
    val xNew = s"$prev.xe + ($k) * (e.x * 1000000L - $prev.xe) div 1000000L"
    val pNew = s"(1000000L - ($k)) * ($pp) div 1000000L"
    val daily = dailyCounts(spark, sfDir)
    daily
      .groupBy()
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("arr"))
      .select(explode(expr(
        s"""aggregate(arr,
           |  cast(array() as array<struct<d:bigint,x:bigint,xe:bigint,p:bigint,k:bigint>>),
           |  (acc, e) -> array_append(acc,
           |    case when size(acc) = 0
           |      then named_struct('d', e.d, 'x', e.x, 'xe', e.x * 1000000L,
           |                        'p', 400000000L, 'k', 0L)
           |      else named_struct('d', e.d, 'x', e.x,
           |        'xe', $xNew,
           |        'p', $pNew,
           |        'k', $k)
           |    end))""".stripMargin)).as("r"))
      .select(col("r.d").as("d"), col("r.x").as("x"),
        col("r.xe").as("filt_e6"), col("r.p").as("p_e6"), col("r.k").as("k_e6"))
      .orderBy(col("d"))
  }

  /** Page–Hinkley sequential drift detector on the daily event volume:
    * the running mean is staged at e6 per step, deviations (minus the
    * tolerance δ = 5e6) accumulate into mₜ, and PHₜ = mₜ − min mₜ
    * alarms when it exceeds λ = 50e6 — the classic one-pass
    * upward-drift test, the sequential sibling of [[cusumQ]]. The
    * whole detector is cumulative windows over the calendar-bounded
    * daily table behind the hash-spread singleton key — no fold
    * needed, and every stage is exact integers.
    */
  def pageHinkleyQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyCounts(spark, sfDir)
    val w = Window
      .partitionBy(graft.functions.GraftFunctions.singleton_key(col("d")))
      .orderBy(col("d"))
    val cum = w.rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("rn", row_number().over(w))
      .withColumn("c1", sum(col("x")).over(cum))
      .withColumn("mean_e6",
        expr("cast(cast(c1 as decimal(38,0)) * 1000000 div rn as bigint)"))
      .withColumn("dev", expr("x * 1000000 - mean_e6 - 5000000"))
      .withColumn("m", sum(col("dev")).over(cum))
      .withColumn("ph_e6", col("m") - min(col("m")).over(cum))
      .select(col("d"), col("x"), col("mean_e6"), col("ph_e6"),
        (col("ph_e6") > 50000000L).as("alarm"))
      .orderBy(col("d"))
  }

  /** Rescaled-range (Hurst) analysis of the hourly event volume at
    * dyadic chunk sizes 16/32/64: per chunk, cumulative deviations are
    * kept EXACT by working in len-scaled units (devⱼ = L·xⱼ − Σx — no
    * division), R = max Y − min Y, S via the correctly-rounded
    * IEEE-sqrt floor rule, and R/S lands at e6. The per-scale mean R/S
    * and the consecutive-scale ratio (≈ 2^H — reported as a ratio so
    * no transcendental log enters the oracle) estimate long-range
    * dependence. Hour spine zero-fills silent hours; the per-chunk
    * window partitions by (scale, chunk) — ≤ 64 rows each, never
    * global.
    */
  def hurstQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 3600000000").as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("x"))
      // calendar-bounded (~720 rows) but consumed by 3 downstream
      // plans — checkpoint so the corpus is scanned exactly once
      .localCheckpoint(true)
    val spine = hourly.groupBy().agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(explode(expr("sequence(h0, h1)")).as("h"), col("h0"))
    val full = spine.join(hourly, Seq("h"), "left")
      .select(col("h"), col("h0"), coalesce(col("x"), lit(0L)).as("x"))
    val scales = spark.range(4, 7).select(expr("shiftleft(1L, cast(id as int))").as("scale"))
    val rows = full.crossJoin(broadcast(scales))
      .withColumn("chunk", expr("(h - h0) div scale"))
    val chunkSums = rows.groupBy(col("scale"), col("chunk"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("cnt"))
      .filter(col("cnt") === col("scale"))
    val wc = Window.partitionBy(col("scale"), col("chunk")).orderBy(col("h"))
    val perChunk = rows.join(chunkSums, Seq("scale", "chunk"))
      .withColumn("dev", expr("scale * x - s"))
      .withColumn("y", sum(col("dev")).over(wc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("scale"), col("chunk"))
      .agg((max(col("y")) - min(col("y"))).as("r_l"),
        sum(expr("dev * dev")).as("ss"))
      .withColumn("rs_e6", expr(
        """case when ss = 0 then 0L else cast(floor(1000000.0 * cast(r_l as double)
          |  * sqrt(cast(scale as double)) / sqrt(cast(ss as double))) as bigint) end"""
          .stripMargin))
    val perScale = perChunk.groupBy(col("scale"))
      .agg(count(lit(1)).as("n_chunks"),
        expr("sum(rs_e6) div count(1)").as("avg_rs_e6"))
    perScale.as("a")
      .join(perScale.as("b"), col("a.scale") === col("b.scale") * 2, "left")
      .select(col("a.scale").as("scale"), col("a.n_chunks").as("n_chunks"),
        col("a.avg_rs_e6").as("avg_rs_e6"),
        expr("a.avg_rs_e6 * 1000000 div b.avg_rs_e6").as("ratio_prev_e6"))
      .orderBy(col("scale"))
  }

  /** TOST (two one-sided tests) equivalence readout on purchase spend
    * between even/odd user cohorts: with margin δ = ±$5, equivalence
    * holds when BOTH shifted z-numerators are positive and both
    * squared statistics clear the one-sided critical value (z₀.₀₅² ≈
    * 2.706, held at e6) — the "are these the same?" complement of
    * [[welchTtestQ]], which can only answer "are they different?".
    * Reuses the Welch sufficient-statistics staging verbatim: one
    * scan, a 2-row aggregate, every stage a truncating integer
    * division.
    */
  def tostQ(spark: SparkSession, sfDir: String): DataFrame = {
    val per = purchaseArmMoments(spark, sfDir)
    per.groupBy()
      .agg(max(when(col("g") === 0, col("n"))).as("n0"),
        max(when(col("g") === 1, col("n"))).as("n1"),
        max(when(col("g") === 0, col("s"))).as("s0"),
        max(when(col("g") === 1, col("s"))).as("s1"),
        max(when(col("g") === 0, col("vn_e6"))).as("vn0"),
        max(when(col("g") === 1, col("vn_e6"))).as("vn1"))
      .withColumn("diff_e3", expr("1000 * (s0 * n1 - s1 * n0) div (n0 * n1)"))
      .withColumn("nl_e3", expr("diff_e3 + 500000"))
      .withColumn("nu_e3", expr("500000 - diff_e3"))
      .withColumn("tl2_e6",
        expr("cast(1000000 * nl_e3 * nl_e3 div nullif(vn0 + vn1, 0) as bigint)"))
      .withColumn("tu2_e6",
        expr("cast(1000000 * nu_e3 * nu_e3 div nullif(vn0 + vn1, 0) as bigint)"))
      .select(col("diff_e3").cast("long").as("diff_e3"),
        col("nl_e3").cast("long").as("nl_e3"), col("nu_e3").cast("long").as("nu_e3"),
        col("tl2_e6"), col("tu2_e6"),
        (col("nl_e3") > 0 && col("nu_e3") > 0
          && col("tl2_e6") >= 2706025L && col("tu2_e6") >= 2706025L).as("equivalent"))
  }

  /** Sharp regression-discontinuity estimate: the running variable is
    * the deterministic score user_id % 100 with cutoff 50, the outcome
    * is per-user total spend, and within the ±20 bandwidth each side
    * gets its own OLS (the [[linregQ]] sufficient-statistics
    * discipline, all-integer decimal sums). τ = lim right − lim left at
    * the cutoff, both fitted values from the already-truncated e6
    * coefficients so the readout is bit-deterministic. One user-keyed
    * aggregate, then two 1-row regressions — scan-shaped.
    */
  def rddSharpQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val per = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", cents(col("value")).cast("long"))
        .otherwise(0L)).as("y"))
      .select((col("user_id") % 100).as("sc"), col("y"))
      .filter(col("sc") >= 30 && col("sc") < 70)
      .select((col("sc") >= 50).as("right"), col("sc").cast(d38).as("x"),
        col("y").cast(d38).as("y"))
    val fit = per.groupBy(col("right"))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("b_e6",
        expr("(n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)"))
      .withColumn("a_e6",
        expr("(sy * 1000000 - cast(b_e6 as decimal(38,0)) * sx) div n"))
      .withColumn("at50_e6", expr("a_e6 + b_e6 * 50"))
    fit.groupBy()
      .agg(max(when(col("right"), col("at50_e6"))).as("r50"),
        max(when(!col("right"), col("at50_e6"))).as("l50"),
        max(when(col("right"), col("b_e6"))).as("br"),
        max(when(!col("right"), col("b_e6"))).as("bl"),
        sum(col("n")).as("n_bw"))
      .select(col("n_bw").cast("long").as("n_bw"),
        col("l50").cast("long").as("left_at_cut_e6"),
        col("r50").cast("long").as("right_at_cut_e6"),
        col("bl").cast("long").as("slope_left_e6"),
        col("br").cast("long").as("slope_right_e6"),
        (col("r50") - col("l50")).cast("long").as("tau_e6"))
  }

  /** UCB1 bandit replay over the 30-day event log: arms are the five
    * event types, the day-d reward of an arm is that day's mean event
    * value (exact e6 integer), and the policy — 5 warm-up pulls, then
    * argmax of mean + 100·√(2·⌊log₂t⌋/nₐ) — is replayed
    * deterministically. State (per-arm pull counts and reward sums)
    * stays exact integers; the index is computed per decision from
    * those integers with IEEE-exact double ops (÷, √ are correctly
    * rounded, so both engines produce bit-identical indices), and ties
    * break to the lowest arm via first-position argmax. One
    * partial-aggregated (day, arm) table, then a calendar-bounded fold
    * — the counterfactual-policy sibling of [[attributionQ]].
    */
  def ucbQ(spark: SparkSession, sfDir: String): DataFrame = {
    val t = "(size(acc.out) + 1)"
    val l = s"(case when $t >= 16 then 4 when $t >= 8 then 3 when $t >= 4 then 2 else 1 end)"
    val idx = s"""transform(sequence(0, 4), k ->
      cast(element_at(acc.ss, k + 1) as double) / cast(element_at(acc.ns, k + 1) as double) / 1000000.0
      + 100.0 * sqrt(2.0 * cast($l as double) / cast(element_at(acc.ns, k + 1) as double)))"""
    val pick = s"""(case when $t <= 5 then cast($t - 1 as int)
      else cast(array_position($idx, array_max($idx)) as int) - 1 end)"""
    val rew = s"element_at(e.r, $pick + 1)"
    val rCols = (0 to 4).map(k =>
      coalesce(max(when(col("a") === k, expr("s * 10000 div c"))), lit(0L)).as(s"r$k"))
    val daily = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("d"),
        expr("""cast(case event_type when 'click' then 0 when 'view' then 1
                when 'purchase' then 2 when 'signup' then 3 else 4 end as int)""").as("a"),
        cents(col("value")).cast("long").as("cts"))
      .groupBy(col("d"), col("a"))
      .agg(sum(col("cts")).as("s"), count(lit(1)).as("c"))
      .groupBy(col("d"))
      .agg(rCols.head, rCols.tail: _*)
      .select(col("d"), array(col("r0"), col("r1"), col("r2"), col("r3"), col("r4")).as("r"))
    daily
      .groupBy()
      .agg(sort_array(collect_list(struct(col("d"), col("r")))).as("arr"))
      .select(explode(expr(
        s"""aggregate(arr,
           |  named_struct('ns', array_repeat(0L, 5), 'ss', array_repeat(0L, 5),
           |    'out', cast(array() as array<struct<d:bigint,pick:int,reward_e6:bigint,n_after:bigint>>)),
           |  (acc, e) -> named_struct(
           |    'ns', transform(acc.ns, (v, i) -> if(i = $pick, v + 1L, v)),
           |    'ss', transform(acc.ss, (v, i) -> if(i = $pick, v + $rew, v)),
           |    'out', array_append(acc.out, named_struct('d', e.d, 'pick', $pick,
           |      'reward_e6', $rew, 'n_after', element_at(acc.ns, $pick + 1) + 1L))),
           |  acc -> acc.out)""".stripMargin)).as("o"))
      .select(col("o.d").as("d"), col("o.pick").cast("long").as("pick"),
        col("o.reward_e6").as("reward_e6"), col("o.n_after").as("n_after"))
      .orderBy(col("d"))
  }

  /** The planted embedding corpus of [[dbscanQ]] and [[singleLinkageQ]]:
    * every vector plus near copies (ids +10000/+20000 of every 7th,
    * one dim nudged by ±0.008) and looser chains (+30000/+40000 of
    * every 11th), normalized (vec_id, label, embedding).
    */
  private def plantedEmbeddings(spark: SparkSession, sfDir: String): DataFrame = {
    val e0 = Similarity.asDouble(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("label"), col("embedding"))
    def plant(idMod: Int, rem: Int, off: Long, dim: Int, delta: Double) =
      e0.filter(col("vec_id") % idMod === rem).select(
        (col("vec_id") + off).as("vec_id"), col("label"),
        transform(col("embedding"), (x, i) =>
          when(i === dim, x + delta).otherwise(x)).as("embedding"))
    val planted = e0
      .union(plant(7, 0, 10000L, 0, 0.008))
      .union(plant(7, 0, 20000L, 1, -0.008))
      .union(plant(11, 3, 30000L, 0, 0.07))
      .union(plant(11, 3, 40000L, 0, 0.14))
    Similarity.normalized(planted)
  }

  /** `base` with two 4-bit sign-LSH band codes (label, vec_id,
    * embedding, c0, c1).
    */
  private def bandCodes(base: DataFrame): DataFrame = {
    // sub-block the label cell with 2 bands of 4 sign-LSH bits each:
    // close pairs (cos >= eps) collide in >= 1 band w.h.p. (planted
    // pairs at cos ~0.9999 collide with prob ~0.9997), while the
    // within-label candidate volume drops ~16x per band — the x100
    // soak showed the bare label block going quadratic. Pairs are
    // deduped AFTER the cosine gate, so the band fan-out never
    // shuffles the pre-filter candidate stream twice.
    def bandCode(lo: Int): Column = LshPlanes.slice(lo, lo + 4).zipWithIndex
      .map { case (plane, p) =>
        when(graft.functions.GraftFunctions.dot_product(
          col("embedding"), typedLit(plane)) > 0, lit(1 << p)).otherwise(lit(0))
      }.reduce(_ + _)
    base.select(col("label"), col("vec_id"), col("embedding"),
      bandCode(0).as("c0"), bandCode(4).as("c1"))
  }

  /** Same-label pairs va < vb of [[bandCodes]] rows that share
    * band code column `c`, with both embeddings (va, vb, ea, eb, ...).
    */
  private def bandPairs(withCodes: DataFrame, c: String): DataFrame = {
    val a = withCodes.select(col("label"), col(c).as("code"),
      col("vec_id").as("va"), col("embedding").as("ea"))
    val b = withCodes.select(col("label"), col(c).as("code"),
      col("vec_id").as("vb"), col("embedding").as("eb"))
    a.join(b, Seq("label", "code")).filter(col("va") < col("vb"))
  }

  /** DBSCAN density clustering over the embedding corpus with planted
    * structure: tight triples (vec_id % 7 == 0 — all three mutually
    * within eps → a 3-core cluster) and chains (vec_id % 11 == 3 —
    * only the middle copy is core, its endpoints attach as border
    * points). eps is the cosine gate 0.995 on normalized vectors
    * (≡ squared-L2 0.01), minPts = 3. Candidate pairs come from the
    * same-label (IVF-cell) block — the [[embedNearDup]] discipline;
    * exactness is relative to that declared candidate front, the
    * production trade every coarse-quantized vector store makes. Core
    * = |N_eps| ≥ minPts (self included); clusters = connected
    * components of the core-core eps-graph ([[Dedup.connectedComponents]]
    * hybrid — min-id labels); border points attach to their minimum
    * core-neighbor cluster; everything else is noise (reported as the
    * cluster_id = −1 row). Pair generation is block-keyed (never
    * all-pairs), degree/label joins are id-keyed, and the CC loop is
    * the soaked hybrid — the density sibling of [[Similarity.kmeans]].
    */
  def dbscanQ(spark: SparkSession, sfDir: String): DataFrame = {
    val base = plantedEmbeddings(spark, sfDir)
    val withCodes = bandCodes(base)
    val pairs = Seq("c0", "c1").map { c =>
      bandPairs(withCodes, c)
        .withColumn("cs", Similarity.dot(col("ea"), col("eb")))
        .filter(col("cs") >= 0.995)
        .select(col("va"), col("vb"))
    }.reduce(_ union _).distinct()
      .localCheckpoint(true)
    val deg = pairs.select(col("va").as("v")).union(pairs.select(col("vb").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("nn"))
    val core = base.select(col("vec_id").as("v")).join(deg, Seq("v"), "left")
      .select(col("v"), (coalesce(col("nn"), lit(0L)) + 1 >= 3).as("is_core"))
      .localCheckpoint(true)
    val coreSet = core.filter(col("is_core")).select(col("v"))
    val ccEdges = pairs
      .join(coreSet.select(col("v").as("va")), Seq("va"))
      .join(coreSet.select(col("v").as("vb")), Seq("vb"))
      .select(col("va").as("doc_a"), col("vb").as("doc_b"))
    val ccLab = Dedup.connectedComponents(ccEdges)
      .select(col("doc_id").as("v"), col("cluster_id"))
    val coreLab = coreSet.join(ccLab, Seq("v"), "left")
      .select(col("v"), coalesce(col("cluster_id"), col("v")).as("cluster_id"))
    val nbr = pairs.select(col("va").as("v"), col("vb").as("q"))
      .union(pairs.select(col("vb").as("v"), col("va").as("q")))
    val borderLab = core.filter(!col("is_core")).select(col("v"))
      .join(nbr, Seq("v"))
      .join(coreLab.select(col("v").as("q"), col("cluster_id")), Seq("q"))
      .groupBy(col("v")).agg(min(col("cluster_id")).as("cluster_id"))
    val clusters = coreLab.withColumn("is_core", lit(true))
      .union(borderLab.withColumn("is_core", lit(false)))
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(sum(when(col("is_core"), 1L).otherwise(0L)).as("n_core"),
        sum(when(!col("is_core"), 1L).otherwise(0L)).as("n_border"))
      .select(col("cluster_id"), col("n_core"), col("n_border"),
        (col("n_core") + col("n_border")).as("n_pts"))
    val noise = base.groupBy().agg(count(lit(1)).as("n_total"))
      .crossJoin(broadcast(clusters.groupBy().agg(count(lit(1)).as("n_clustered"))))
      .select(lit(-1L).as("cluster_id"), lit(0L).as("n_core"), lit(0L).as("n_border"),
        (col("n_total") - col("n_clustered")).as("n_pts"))
    sizes.union(noise).orderBy(col("cluster_id"))
  }

  /** Lagged cross-correlation between the daily click and purchase
    * volumes at lags −3..+3 — the lead/lag diagnostic behind every
    * "does marketing activity precede revenue?" question. Sufficient
    * statistics stay exact integers per lag; the correlation itself
    * needs √·√, so it lands at e6 via the correctly-rounded IEEE
    * floor rule (the [[itemCfQ]] discipline) with the sign carried by
    * the exact integer numerator. The lag spine broadcasts and the
    * pair join is an equi-join on the shifted day key — calendar-
    * bounded after one partial-aggregated scan.
    */
  def crossCorrQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("d"), col("event_type"))
    val daily = ev.groupBy(col("d"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("b"))
    val lags = spark.range(-3, 4).select(col("id").as("lag"))
    val pairs = daily.select(col("d"), col("a")).crossJoin(broadcast(lags))
      .join(daily.select((col("d")).as("d2"), col("b")),
        col("d2") === col("d") + col("lag"))
    pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("a")).as("sa"), sum(col("b")).as("sb"),
        sum(col("a") * col("b")).as("sab"),
        sum(col("a") * col("a")).as("saa"),
        sum(col("b") * col("b")).as("sbb"))
      .withColumn("num", expr("n_days * sab - sa * sb"))
      .withColumn("da", expr("n_days * saa - sa * sa"))
      .withColumn("db", expr("n_days * sbb - sb * sb"))
      .select(col("lag"), col("n_days"),
        expr("""case when da = 0 or db = 0 then 0L
                else cast(floor(1000000.0 * cast(num as double)
                  / (sqrt(cast(da as double)) * sqrt(cast(db as double)))) as bigint)
                end""").as("corr_e6"))
      .orderBy(col("lag"))
  }

  /** Granger-causality readout: does yesterday's click volume improve
    * the AR(1) forecast of today's purchase volume? The restricted
    * model y_t ~ y_{t−1} is [[ar1Q]]'s fit; the unrestricted adds
    * x_{t−1} and is solved EXACTLY by Cramer's rule on the 3×3 normal
    * equations in decimal(38,0) — no matrix library, no floats.
    * Both models' SSEs are recomputed from the truncated e6
    * coefficients (so they are bit-deterministic), and the F-style
    * statistic (SSE_r − SSE_u)/(SSE_u/(n−3)) lands at e6 by integral
    * division. One daily aggregate, one d+1 self-join, two 1-row
    * fits — calendar-bounded.
    */
  def grangerQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("d"), col("event_type"))
    val daily = ev.groupBy(col("d"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val rows = daily.as("p")
      .join(daily.as("c"), col("p.d") + 1 === col("c.d"))
      .select(col("c.y").cast(d38).as("y"), col("p.y").cast(d38).as("y1"),
        col("p.x").cast(d38).as("x1"))
      .localCheckpoint(true)
    val s = rows.groupBy()
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("y")).as("sy"), sum(col("y1")).as("sy1"), sum(col("x1")).as("sx1"),
        sum(col("y") * col("y1")).as("syy1"), sum(col("y") * col("x1")).as("syx1"),
        sum(col("y1") * col("y1")).as("sy1y1"), sum(col("y1") * col("x1")).as("sy1x1"),
        sum(col("x1") * col("x1")).as("sx1x1"))
    // restricted: y = a + b y1 (the linreg staging)
    val restricted = s
      .withColumn("br_e6", expr("(n * syy1 - sy1 * sy) * 1000000 div (n * sy1y1 - sy1 * sy1)"))
      .withColumn("ar_e6", expr("(sy * 1000000 - cast(br_e6 as decimal(38,0)) * sy1) div n"))
    // unrestricted: y = a + b y1 + c x1 via Cramer on [n sy1 sx1; sy1 sy1y1 sy1x1; sx1 sy1x1 sx1x1]
    val det = "(n * (sy1y1 * sx1x1 - sy1x1 * sy1x1) - sy1 * (sy1 * sx1x1 - sy1x1 * sx1) + sx1 * (sy1 * sy1x1 - sy1y1 * sx1))"
    val detA = "(sy * (sy1y1 * sx1x1 - sy1x1 * sy1x1) - sy1 * (syy1 * sx1x1 - syx1 * sy1x1) + sx1 * (syy1 * sy1x1 - syx1 * sy1y1))"
    val detB = "(n * (syy1 * sx1x1 - syx1 * sy1x1) - sy * (sy1 * sx1x1 - sy1x1 * sx1) + sx1 * (sy1 * syx1 - syy1 * sx1))"
    val detC = "(n * (sy1y1 * syx1 - sy1x1 * syy1) - sy1 * (sy1 * syx1 - syy1 * sx1) + sy * (sy1 * sy1x1 - sy1y1 * sx1))"
    val fit = restricted
      .withColumn("au_e6", expr(s"$detA * 1000000 div $det"))
      .withColumn("bu_e6", expr(s"$detB * 1000000 div $det"))
      .withColumn("cu_e6", expr(s"$detC * 1000000 div $det"))
    val sse = rows.crossJoin(broadcast(fit))
      .withColumn("rr", expr("y * 1000000 - ar_e6 - br_e6 * y1"))
      .withColumn("ru", expr("y * 1000000 - au_e6 - bu_e6 * y1 - cu_e6 * x1"))
      .groupBy(col("n"))
      .agg(sum(expr("rr * rr")).as("sser"), sum(expr("ru * ru")).as("sseu"),
        max(col("br_e6")).as("br_e6"), max(col("bu_e6")).as("bu_e6"),
        max(col("cu_e6")).as("cu_e6"))
    sse.select(col("n").cast("long").as("n_pairs"),
      col("br_e6").cast("long").as("ar_coef_e6"),
      col("bu_e6").cast("long").as("y_lag_coef_e6"),
      col("cu_e6").cast("long").as("x_lag_coef_e6"),
      expr("cast(sser div 1000000 as bigint)").as("sse_r_e6"),
      expr("cast(sseu div 1000000 as bigint)").as("sse_u_e6"),
      expr("cast((sser - sseu) * (n - 3) * 1000000 div nullif(sseu, 0) as bigint)")
        .as("f_e6"))
  }

  /** Historical-simulation VaR₉₅ and expected shortfall of the
    * day-over-day change in total purchase spend: losses are the
    * negated diffs, VaR is the ⌈0.95·n⌉-th smallest loss selected on
    * the loss-value HISTOGRAM (the [[conformalQ]] selection — never a
    * row-level sort), and ES is the exact mean of the tail at or above
    * VaR. Integer cents end to end; one daily aggregate, one d+1
    * self-join, a bounded histogram walk.
    */
  def varEsQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(sum(cents(col("value")).cast("long")).as("s"))
    val losses = daily.as("p")
      .join(daily.as("c"), col("p.d") + 1 === col("c.d"))
      .select((col("p.s") - col("c.s")).as("loss"))
    val w = Window
      .partitionBy(graft.functions.GraftFunctions.singleton_key(col("loss")))
      .orderBy(col("loss"))
    val hist = losses.groupBy(col("loss")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val nk = losses.groupBy().agg(count(lit(1)).as("n"))
      .withColumn("k", expr("(19 * n + 19) div 20"))
    val varRow = hist.crossJoin(broadcast(nk))
      .filter(col("cum") >= col("k"))
      .groupBy(col("n"), col("k")).agg(min(col("loss")).as("var_cents"))
    losses.crossJoin(broadcast(varRow))
      .filter(col("loss") >= col("var_cents"))
      .groupBy(col("n"), col("k"), col("var_cents"))
      .agg(count(lit(1)).as("n_tail"), sum(col("loss")).as("tail_sum"))
      .select(col("n"), col("k"), col("var_cents"), col("n_tail"),
        expr("tail_sum * 1000000 div n_tail").as("es_cents_e6"))
  }

  /** Croston's method for the intermittent daily series of big-ticket
    * purchases (value ≥ $300 — most days see zero): on each demand
    * day, both the demand-size level ẑ and the inter-demand interval
    * p̂ update by 1/8 exponential smoothing, and the demand-rate
    * forecast is ẑ/p̂ — the standard sparse-demand forecaster where
    * plain exponential smoothing ([[ewmaQ]]) decays wrongly through
    * the zero runs. The fold carries (ẑ, p̂, gap) as truncated e6
    * integers over the zero-filled calendar — the [[holtQ]] exact
    * fixed-point discipline; one filtered daily aggregate, then a
    * calendar-bounded fold.
    */
  def crostonQ(spark: SparkSession, sfDir: String): DataFrame = {
    val prev = "element_at(acc, -1)"
    val zNew = s"$prev.z + (e.x * 1000000L - $prev.z) div 8L"
    val pNew = s"$prev.p + (($prev.gap + 1L) * 1000000L - $prev.p) div 8L"
    val daily = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("d"),
        when(col("event_type") === "purchase" && col("value") >= 300.0, 1L)
          .otherwise(0L).as("dem"))
      .groupBy(col("d")).agg(sum(col("dem")).as("x"))
    val spine = daily.groupBy().agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(explode(expr("sequence(d0, d1)")).as("d"))
    val full = spine.join(daily, Seq("d"), "left")
      .select(col("d"), coalesce(col("x"), lit(0L)).as("x"))
    full
      .groupBy()
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("arr"))
      .select(explode(expr(
        s"""aggregate(arr,
           |  cast(array() as array<struct<d:bigint,x:bigint,z:bigint,p:bigint,gap:bigint>>),
           |  (acc, e) -> array_append(acc,
           |    case when size(acc) = 0
           |      then named_struct('d', e.d, 'x', e.x,
           |        'z', if(e.x > 0, e.x * 1000000L, 0L),
           |        'p', 1000000L, 'gap', 0L)
           |      when e.x = 0
           |      then named_struct('d', e.d, 'x', e.x, 'z', $prev.z, 'p', $prev.p,
           |        'gap', $prev.gap + 1L)
           |      when $prev.z = 0L
           |      then named_struct('d', e.d, 'x', e.x, 'z', e.x * 1000000L,
           |        'p', ($prev.gap + 1L) * 1000000L, 'gap', 0L)
           |      else named_struct('d', e.d, 'x', e.x,
           |        'z', $zNew,
           |        'p', $pNew,
           |        'gap', 0L)
           |    end))""".stripMargin)).as("r"))
      .select(col("r.d").as("d"), col("r.x").as("x"),
        col("r.z").as("level_e6"), col("r.p").as("interval_e6"),
        expr("cast(r.z * 1000000 div nullif(r.p, 0) as bigint)").as("rate_e6"))
      .orderBy(col("d"))
  }

  /** Durbin-Watson autocorrelation diagnostic on the residuals of the
    * OLS time trend of daily purchase volume: the trend fit is
    * [[linregQ]]'s exact sufficient-statistics solve (coefficients
    * truncated at e6), residuals are then exact decimal(38,0)
    * integers, and DW = Σ(r_t − r_{t−1})²/Σr_t² lands at e6 by
    * integral division — no float anywhere. The lag is a d+1
    * self-join of the calendar-bounded residual table; the fit rides
    * a 1-row broadcast.
    */
  def durbinWatsonQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(count(lit(1)).as("x"))
    val d0 = daily.groupBy().agg(min(col("d")).as("d0"))
    val tx = daily.crossJoin(broadcast(d0))
      .select((col("d") - col("d0")).cast(d38).as("t"), col("x").cast(d38).as("x"))
    val fit = tx.groupBy()
      .agg(count(lit(1)).cast(d38).as("n"), sum(col("t")).as("st"),
        sum(col("x")).as("sx"), sum(col("t") * col("t")).as("stt"),
        sum(col("t") * col("x")).as("stx"))
      .withColumn("b_e6", expr("(n * stx - st * sx) * 1000000 div (n * stt - st * st)"))
      .withColumn("a_e6",
        expr("(sx * 1000000 - cast(b_e6 as decimal(38,0)) * st) div n"))
    val r = tx.crossJoin(broadcast(fit.select(col("a_e6"), col("b_e6"))))
      .select(col("t"),
        expr("x * 1000000 - a_e6 - cast(b_e6 as decimal(38,0)) * t").as("r"))
    val num = r.as("p").join(r.as("c"), col("p.t") + 1 === col("c.t"))
      .groupBy().agg(sum(expr("(c.r - p.r) * (c.r - p.r)")).as("sd2"))
    r.groupBy().agg(count(lit(1)).as("n_days"), sum(expr("r * r")).as("se2"))
      .crossJoin(broadcast(num))
      .crossJoin(broadcast(fit.select(col("b_e6"))))
      .select(col("n_days"), col("b_e6").cast("long").as("slope_e6"),
        expr("cast(sd2 * 1000000 div se2 as bigint)").as("dw_e6"))
  }

  /** Ljung-Box portmanteau test on the daily click series: are the
    * first 7 autocorrelations jointly zero? Per-lag ρ_k reuses
    * [[acfQ]]'s fraction-free device (deviations scaled by n, so
    * numerator and denominator are exact integers); the statistic
    * Q_m = n(n+2)·Σ_{k≤m} ρ_k²/(n−k) accumulates the e6-truncated
    * ρ's over the 7-row lag table (a singleton-key window over a
    * lag-bounded support). One daily aggregate, one 7-lag spine join.
    */
  def ljungBoxQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val daily = Tables.events(spark, sfDir)
      .filter(col("event_type") === "click")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint(true)
    val g = daily.groupBy().agg(count(lit(1)).cast(d38).as("n"),
      sum(col("x")).cast(d38).as("s"),
      sum(col("x").cast(d38) * col("x")).as("sxx"))
    val spine = broadcast(
      daily.sparkSession.range(1, 8).select(col("id").as("lag")))
    val rho = daily.select(col("d"), col("x").as("xa")).crossJoin(spine)
      .join(daily.select(col("d").as("db"), col("x").as("xb")),
        col("db") === col("d") + col("lag"))
      .crossJoin(broadcast(g))
      .groupBy(col("lag"), col("n"), col("s"), col("sxx"))
      .agg(sum((expr("n * xa - s")) * (expr("n * xb - s"))).as("ck"))
      .withColumn("rho_e6", expr("ck * 1000000 div (n * sxx - s * s)"))
    val w = Window
      .partitionBy(graft.functions.GraftFunctions.singleton_key(col("lag")))
      .orderBy(col("lag")).rowsBetween(Window.unboundedPreceding, 0)
    rho
      .withColumn("cum", sum(expr("rho_e6 * rho_e6 div (n - lag)")).over(w))
      .select(col("lag"), col("n").cast("long").as("n_days"),
        col("rho_e6").cast("long").as("rho_e6"),
        expr("cast(n * (n + 2) * cum div 1000000 as bigint)").as("q_e6"))
      .orderBy(col("lag"))
  }

  /** Wald-Wolfowitz runs test for randomness of the daily event
    * volume around its median: days are signed above/below the exact
    * median (2×-median trick; ties dropped), the run count is
    * 1 + sign changes over the ordered days, and the SIGNED SQUARED
    * z-statistic (R−E)²(N−1)/(2n₁n₂(2n₁n₂−N)) with sign(R−E) is an
    * exact rational at e6 — no sqrt, no float. Calendar-bounded
    * throughout; the sign-change count is an rn+1 self-join.
    */
  def runsTestQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(count(lit(1)).as("x"))
    val med = daily.groupBy()
      .agg(expr("cast(2 * percentile(x, 0.5) as bigint)").as("m2"))
    val w = Window
      .partitionBy(graft.functions.GraftFunctions.singleton_key(col("d")))
      .orderBy(col("d"))
    val signed = daily.crossJoin(broadcast(med))
      .filter(expr("2 * x <> m2"))
      .select(col("d"), expr("if(2 * x > m2, 1L, 0L)").as("s"))
      .withColumn("rn", row_number().over(w))
      .localCheckpoint(true)
    val chg = signed.as("p").join(signed.as("c"), col("p.rn") + 1 === col("c.rn"))
      .groupBy().agg(sum(expr("if(p.s <> c.s, 1L, 0L)")).as("changes"))
    signed.groupBy()
      .agg(sum(col("s")).as("n1"), sum(lit(1L) - col("s")).as("n2"))
      .crossJoin(broadcast(chg))
      .withColumn("runs", col("changes") + 1)
      .withColumn("nn", col("n1") + col("n2"))
      .withColumn("num", expr("runs * nn - 2 * n1 * n2 - nn"))
      .select(col("n1"), col("n2"), col("runs"),
        expr("""cast(sign(num) * (num * num * (nn - 1) * 1000000
                div (2 * n1 * n2 * (2 * n1 * n2 - nn))) as bigint)""")
          .as("z2_signed_e6"))
  }

  /** Kendall's τ-b rank correlation between daily click and purchase
    * volumes — the concordance twin of [[spearmanQ]], exact to the
    * last bit: concordant/discordant pair counts come from the
    * calendar-bounded d₁<d₂ self-join (the day table never grows with
    * corpus size, so the quadratic is bounded by the calendar), tie
    * corrections from per-value count-of-counts, and τ_b divides the
    * exact integer C−D by the floored product of the two sqrt terms
    * ([[spearmanQ]]'s denominator rule).
    */
  def kendallTauQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      .localCheckpoint(true)
    val cd = daily.as("a").join(daily.as("b"), col("a.d") < col("b.d"))
      .select((expr("sign(a.x - b.x) * sign(a.y - b.y)")).as("sgn"))
      .groupBy()
      .agg(sum(expr("if(sgn > 0, 1L, 0L)")).as("conc"),
        sum(expr("if(sgn < 0, 1L, 0L)")).as("disc"))
    def tieSum(c: String): DataFrame = daily.groupBy(col(c).as("v"))
      .agg(count(lit(1)).as("ct"))
      .groupBy().agg(coalesce(sum(expr("ct * (ct - 1) div 2")), lit(0L)).as(s"t$c"))
    daily.groupBy().agg(count(lit(1)).as("n_days"))
      .withColumn("n0", expr("n_days * (n_days - 1) div 2"))
      .crossJoin(broadcast(cd))
      .crossJoin(broadcast(tieSum("x")))
      .crossJoin(broadcast(tieSum("y")))
      .select(col("n_days"), col("conc").as("concordant"), col("disc").as("discordant"),
        expr(s"""cast((conc - disc) * 1000000
                 div cast(floor(sqrt(cast(n0 - tx as double))
                              * sqrt(cast(n0 - ty as double)))
                          as decimal(38,0)) as bigint)""").as("tau_b_e6"))
  }

  /** Jarque-Bera normality test of the daily event volume: skewness
    * and excess kurtosis from EXACT central power sums (deviations
    * scaled by n, so A=Σd², B=Σd³, C=Σd⁴ are decimal(38,0) integers),
    * kurtosis as an exact e6 rational, skewness and JB itself as the
    * identical IEEE double expression floored at e6 on both engines
    * (the [[crossCorrQ]] rule — all float inputs are exact integers).
    * One daily aggregate, one 1-row broadcast, one deviation pass.
    */
  def jarqueBeraQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(count(lit(1)).as("x"))
    val g = daily.groupBy().agg(count(lit(1)).cast(d38).as("n"),
      sum(col("x")).cast(d38).as("s"))
    val p = daily.crossJoin(broadcast(g))
      .select(col("n"), expr("cast(n * x - s as decimal(38,0))").as("dv"))
      .groupBy(col("n"))
      .agg(sum(expr("dv * dv")).as("a"), sum(expr("dv * dv * dv")).as("b"),
        sum(expr("dv * dv * dv * dv")).as("c"))
    p.select(col("n").cast("long").as("n_days"),
      expr("""cast(floor(1000000.0 * cast(b as double)
              / (cast(a as double) * sqrt(cast(a as double)))
              * sqrt(cast(n as double))) as bigint)""").as("skew_e6"),
      expr("cast((c * n - 3 * a * a) * 1000000 div (a * a) as bigint)")
        .as("kurt_excess_e6"),
      expr("""cast(floor(1000000.0 * cast(n as double) / 6.0
              * (cast(b as double) * cast(b as double) * cast(n as double)
                 / (cast(a as double) * cast(a as double) * cast(a as double))
               + (cast(c as double) * cast(n as double)
                  - 3.0 * cast(a as double) * cast(a as double))
                 * (cast(c as double) * cast(n as double)
                    - 3.0 * cast(a as double) * cast(a as double))
                 / (4.0 * cast(a as double) * cast(a as double)
                    * cast(a as double) * cast(a as double)))) as bigint)""")
        .as("jb_e6"))
  }

  /** Grubbs' outlier statistic for the daily event volume: the most
    * extreme day's |x−x̄|/s, with the deviation kept exact (n-scaled)
    * and only the final G = M·√(n−1)/√A floored at e6 from exact
    * integer inputs. Ties on |deviation| resolve to the earliest day.
    * One daily aggregate, one deviation pass, one 1-row argmax join.
    */
  def grubbsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(count(lit(1)).as("x"))
    val g = daily.groupBy().agg(count(lit(1)).cast(d38).as("n"),
      sum(col("x")).cast(d38).as("s"))
    val dev = daily.crossJoin(broadcast(g))
      .select(col("d"), col("x"), col("n"),
        abs(expr("cast(n * x - s as decimal(38,0))")).as("ad"))
      .localCheckpoint(true)
    val top = dev.groupBy(col("n"))
      .agg(max(col("ad")).as("m"), sum(expr("ad * ad")).as("a"))
    dev.join(broadcast(top), "n")
      .filter(col("ad") === col("m"))
      .groupBy(col("n"), col("m"), col("a"))
      .agg(min(struct(col("d"), col("x"))).as("peak"))
      .select(col("n").cast("long").as("n_days"),
        col("peak.d").as("outlier_day"), col("peak.x").as("x"),
        expr("""cast(floor(1000000.0 * cast(m as double)
                * sqrt(cast(n as double) - 1.0)
                / sqrt(cast(a as double))) as bigint)""").as("g_e6"))
  }

  /** Cohen's d and Cliff's delta between weekday and weekend purchase
    * spend — the parametric and ordinal effect sizes behind every
    * "is the difference MEANINGFUL?" question that a bare p-value
    * ([[welchTtestQ]], [[mannWhitneyQ]]) can't answer. Cohen's d
    * floors the identical IEEE expression over exact per-group
    * sufficient statistics; Cliff's delta is EXACT via the doubled
    * midrank device on the cents-value support table (δ = 2U₁/n₁n₂−1,
    * never a pairwise join). One fact scan; everything downstream is
    * support-bounded.
    */
  def effectSizeQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(expr("if((unix_micros(ts) div 86400000000 + 4) % 7 >= 5, 1L, 0L)")
        .as("g"), cents(col("value")).cast("long").as("v"))
      .localCheckpoint(true)
    val stats = ev.groupBy(col("g"))
      .agg(count(lit(1)).cast(d38).as("n"), sum(col("v").cast(d38)).as("s"),
        sum(col("v").cast(d38) * col("v")).as("ssq"))
    val wide = stats.groupBy()
      .agg(max(when(col("g") === 1, col("n"))).as("n1"),
        max(when(col("g") === 0, col("n"))).as("n2"),
        max(when(col("g") === 1, col("s"))).as("s1"),
        max(when(col("g") === 0, col("s"))).as("s2"),
        max(when(col("g") === 1, col("ssq"))).as("q1"),
        max(when(col("g") === 0, col("ssq"))).as("q2"))
    // doubled-midrank support walk: rank2(v) = 2·(#smaller) + ct + 1
    val sup = ev.groupBy(col("v"))
      .agg(count(lit(1)).as("ct"), sum(col("g")).as("ct1"))
    val w = Window
      .partitionBy(graft.functions.GraftFunctions.singleton_key(col("v")))
      .orderBy(col("v")).rowsBetween(Window.unboundedPreceding, -1)
    val r12 = sup.withColumn("lt", coalesce(sum(col("ct")).over(w), lit(0L)))
      .select((col("ct1").cast(d38) * (lit(2) * col("lt") + col("ct") + 1)).as("t"))
      .groupBy().agg(sum(col("t")).as("r1_2"))
    wide.crossJoin(broadcast(r12))
      .select(col("n1").cast("long").as("n_weekend"),
        col("n2").cast("long").as("n_weekday"),
        expr("""cast(floor(1000000.0 *
                (cast(s1 as double) / cast(n1 as double)
                 - cast(s2 as double) / cast(n2 as double))
                / sqrt(((cast(n1 * q1 - s1 * s1 as double) / cast(n1 as double))
                      + (cast(n2 * q2 - s2 * s2 as double) / cast(n2 as double)))
                     / cast(n1 + n2 - 2 as double))) as bigint)""")
          .as("cohens_d_e6"),
        expr("""cast((r1_2 - n1 * (n1 + 1)) * 1000000 div (n1 * n2) - 1000000
                as bigint)""").as("cliffs_delta_e6"))
  }

  /** Variance-ratio F test between weekday and weekend purchase spend:
    * F = s₁²/s₂² is an EXACT rational of the per-group sufficient
    * statistics — (n₁·Σx²−(Σx)²)·n₂(n₂−1) over the mirror term —
    * truncated at e6 by one integral division. The one fact scan
    * partial-aggregates into 2 rows; nothing else touches data.
    */
  def fTestQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val stats = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(expr("if((unix_micros(ts) div 86400000000 + 4) % 7 >= 5, 1L, 0L)")
        .as("g"), cents(col("value")).cast("long").as("v"))
      .groupBy(col("g"))
      .agg(count(lit(1)).cast(d38).as("n"), sum(col("v").cast(d38)).as("s"),
        sum(col("v").cast(d38) * col("v")).as("ssq"))
    stats.groupBy()
      .agg(max(when(col("g") === 1, col("n"))).as("n1"),
        max(when(col("g") === 0, col("n"))).as("n2"),
        max(when(col("g") === 1, expr("n * ssq - s * s"))).as("v1"),
        max(when(col("g") === 0, expr("n * ssq - s * s"))).as("v2"))
      .select(col("n1").cast("long").as("n_weekend"),
        col("n2").cast("long").as("n_weekday"),
        expr("cast(v1 * n2 * (n2 - 1) * 1000000 div (v2 * n1 * (n1 - 1)) as bigint)")
          .as("f_e6"))
  }

  /** Mood's median test across the five event types: does any type's
    * value distribution sit above or below the others? Counts above
    * the grand median (exact 2×-median gate, ties excluded) feed the
    * k×2 chi² with per-cell quantization: each cell's
    * (O·N−row·col)²·10⁶ div (N·row·col) truncates identically on both
    * engines before the sum (documented quantization, [[seasonalityQ]]
    * discipline). One fact scan into a 5-row table.
    */
  def moodMedianQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), cents(col("value")).cast("long").as("v"))
      .localCheckpoint(true)
    val med = ev.groupBy()
      .agg(expr("cast(2 * percentile(v, 0.5) as bigint)").as("m2"))
    val cells = ev.crossJoin(broadcast(med))
      .filter(expr("2 * v <> m2"))
      .groupBy(col("event_type"))
      .agg(sum(expr("if(2 * v > m2, 1L, 0L)")).as("above"),
        sum(expr("if(2 * v < m2, 1L, 0L)")).as("below"))
      .localCheckpoint(true)
    val tot = cells.groupBy()
      .agg(sum(col("above")).as("ca"), sum(col("below")).as("cb"),
        sum(col("above") + col("below")).as("nn"))
    cells.crossJoin(broadcast(tot))
      .withColumn("rw", expr("cast(above + below as decimal(38,0))"))
      .withColumn("da", expr("cast(above as decimal(38,0)) * nn - rw * ca"))
      .withColumn("db", expr("cast(below as decimal(38,0)) * nn - rw * cb"))
      .withColumn("chi2_cell_e6", expr(
        """cast(  da * da * 1000000 div (cast(nn as decimal(38,0)) * rw * ca)
                + db * db * 1000000 div (cast(nn as decimal(38,0)) * rw * cb)
           as bigint)"""))
      .select(col("event_type"), col("above"), col("below"), col("chi2_cell_e6"))
      .orderBy(col("event_type"))
  }

  /** Simple-exponential-smoothing model selection: replay SES over
    * the daily series once per α ∈ {1/8 … 7/8} and report each α's
    * one-step-ahead SSE — the grid-search loop every forecasting
    * stack runs before committing to a smoothing constant. Each
    * replay is ONE `aggregate` fold over the sorted day array (the
    * [[ewmaQ]] fixed-point discipline, level at e6, errors truncated
    * to whole counts before squaring so the SSE stays in long range
    * at any corpus scale); the 7 α's ride a broadcast spine against
    * the one collected array — the corpus is scanned exactly once.
    */
  def sesGridQ(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(count(lit(1)).as("x"))
    val arr = daily.groupBy()
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("arr"))
    val alphas = broadcast(
      daily.sparkSession.range(1, 8).select(col("id").as("k")))
    arr.crossJoin(alphas)
      .select(col("k").as("alpha_8ths"), expr(
        """aggregate(arr, named_struct('l', 0L, 'sse', 0L, 'n', 0L),
          |  (acc, e) -> case when acc.n = 0L
          |    then named_struct('l', e.x * 1000000L, 'sse', 0L, 'n', 1L)
          |    else named_struct(
          |      'l', acc.l + k * (e.x * 1000000L - acc.l) div 8L,
          |      'sse', acc.sse + ((e.x * 1000000L - acc.l) div 1000000L)
          |                     * ((e.x * 1000000L - acc.l) div 1000000L),
          |      'n', acc.n + 1L) end)""".stripMargin).as("r"))
      .select(col("alpha_8ths"), col("r.n").as("n_days"),
        col("r.sse").as("sse"), col("r.l").as("level_e6"))
      .orderBy(col("alpha_8ths"))
  }

  /** Time-series discord detection over the hourly event volume — the
    * matrix-profile question "which day-long window looks least like
    * ANY other?": 24-hour windows strided every 6 hours on the
    * zero-filled hourly calendar, exact integer squared-Euclidean
    * distance between every non-overlapping window pair, each
    * window's nearest-neighbor distance, and the top-3 discords via
    * TakeOrdered. Windows are calendar-bounded (the pair table never
    * grows with corpus size), and the window build is an equi-join on
    * the hour offset — no range join, no float.
    */
  def discordQ(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint(true)
    val bounds = hourly.groupBy().agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val full = bounds.select(explode(expr("sequence(h0, h1)")).as("h"))
      .join(hourly, Seq("h"), "left")
      .select(col("h"), coalesce(col("x"), lit(0L)).as("x"))
    val win = bounds
      .select(explode(expr("sequence(h0, h1 - 23, 6)")).as("s"))
      .select(col("s"), explode(expr("sequence(0, 23)")).as("off"))
      .join(full, col("h") === col("s") + col("off"))
      .select(col("s"), col("off"), col("x"))
      .localCheckpoint(true)
    val dist = win.as("a")
      .join(win.as("b"), col("a.off") === col("b.off") &&
        abs(col("a.s") - col("b.s")) >= 24)
      .groupBy(col("a.s").as("s"), col("b.s").as("s2"))
      .agg(sum(expr("(a.x - b.x) * (a.x - b.x)")).as("d2"))
    dist.groupBy(col("s"))
      .agg(min(col("d2")).as("nnd"))
      .orderBy(col("nnd").desc, col("s"))
      .limit(3)
      .select(col("s").as("window_start_h"), col("nnd"))
  }

  /** Closeness centrality (Wasserman-Faust normalized) for the same
    * 10 sampled roots as [[harmonicCentralityQ]]:
    * C = (r/(N−1))·(r/Σd) with r the reached count — exact rational
    * at e6 from the same hop-bounded BFS distance table
    * ([[graft.ops.Graph.bfsDistancesPerSource]]); the global node
    * count rides a 1-row broadcast. Disconnected components penalize
    * through the r/(N−1) factor rather than diverging, which is why
    * WF-closeness and not raw closeness is the scale-sane choice.
    */
  def closenessQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = partAdjacencyEdges(spark, sfDir).select(col("src"), col("dst"))
    val nodes = e.filter(col("src") =!= col("dst"))
    val allNodes = nodes.select(col("src").as("node"))
      .union(nodes.select(col("dst").as("node"))).distinct()
    val nTotal = allNodes.groupBy().agg(count(lit(1)).as("n_total"))
    bfs10Distances(spark, sfDir)
      .filter(col("d") > 0)
      .groupBy(col("root"))
      .agg(count(lit(1)).as("n_reached"), sum(col("d")).as("sum_d"))
      .crossJoin(broadcast(nTotal))
      .select(col("root"), col("n_reached"), col("sum_d"),
        expr("n_reached * n_reached * 1000000 div (sum_d * (n_total - 1))")
          .as("closeness_wf_e6"))
      .orderBy(col("root"))
  }

  /** Keyed pseudonymization audit — the data-governance step before
    * sharing event data: user ids map through a deterministic keyed
    * arithmetic hash (Knuth multiplicative mod a prime table size,
    * the [[negSampleQ]] hash discipline — NO raw id survives), and
    * the audit certifies the mapping: distinct users vs distinct
    * pseudonyms, collision mass, and the worst bucket. The user
    * support table is the only shuffled surface; events are scanned
    * once into it.
    */
  def pseudonymizeQ(spark: SparkSession, sfDir: String): DataFrame = {
    val users = Tables.events(spark, sfDir)
      .select(col("user_id")).distinct()
      .select(col("user_id"),
        expr("(user_id * 2654435761L) % 1000003L").as("pseudo"))
    val buckets = users.groupBy(col("pseudo")).agg(count(lit(1)).as("ct"))
    buckets.groupBy()
      .agg(sum(col("ct")).as("n_users"), count(lit(1)).as("n_pseudonyms"),
        max(col("ct")).as("max_users_per_pseudo"),
        sum(when(col("ct") > 1, col("ct")).otherwise(0L)).as("n_collided_users"))
  }

  /** Per-source dataset card — the datasheet table a corpus release
    * ships with: document and token volume, exact-duplicate rate
    * (distinct md5 of the text), language spread and the dominant
    * language's share. ONE scan of the corpus into per-source
    * aggregates; the dominant language derives from the (source,
    * lang) count table via an argmax struct (count then lang breaks
    * ties deterministically).
    */
  def datasetCardQ(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("source"), col("lang"), col("n_chars"),
        md5(col("text")).as("th"),
        size(graft.ops.TextOps.words(col("text"))).cast("long").as("ntok"))
      .localCheckpoint(true)
    val per = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("th")).as("n_distinct_texts"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("ntok")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"))
    val top = base.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(max(struct(col("c"), col("lang"))).as("m"))
      .select(col("source"), col("m.lang").as("top_lang"), col("m.c").as("top_c"))
    per.join(top, "source")
      .select(col("source"), col("n_docs"), col("n_distinct_texts"),
        expr("(n_docs - n_distinct_texts) * 1000000 div n_docs").as("dup_rate_e6"),
        col("total_chars"),
        expr("total_chars * 100 div n_docs").as("mean_chars_e2"),
        col("n_tokens"), col("n_langs"), col("top_lang"),
        expr("top_c * 1000000 div n_docs").as("top_lang_share_e6"))
      .orderBy(col("source"))
  }

  /** Leave-one-out 3-NN label prediction over the embedding corpus —
    * the standard "is there any signal in this space?" eval before
    * training anything: a bounded probe set (the [[mrrQ]] contract)
    * broadcasts against ONE corpus scan of exact e6-floored squared-L2
    * distances, the 3 nearest neighbors per probe come from the
    * partial-aggregatable bottom-k ([[graft.ops.Similarity]]'s
    * bottomKByQuery — never a per-probe corpus sort), and the
    * majority vote breaks ties toward the smallest label. Per-probe
    * verdicts ship so the accuracy is auditable row by row.
    */
  def knnClassQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Similarity.asDouble(Tables.embeddings(spark, sfDir))
    // ≤54 ids satisfy the residue+cap predicate, so the limit is a
    // provable no-op (the probeSlice device with a composite filter)
    val probes = e.filter(col("vec_id") % 37 === 5 && col("vec_id") < 2000)
      .orderBy(col("vec_id")).limit(54)
      .select(col("vec_id").as("probe_id"), col("label").as("true_label"),
        col("embedding").as("pv"))
    val d2 = greatest(
      Similarity.dot(col("pv"), col("pv")) -
        lit(2.0) * Similarity.dot(col("pv"), col("cv")) +
        Similarity.dot(col("cv"), col("cv")), lit(0.0))
    val scored = e.select(col("vec_id"), col("embedding").as("cv"), col("label"))
      .crossJoin(broadcast(probes.select(col("probe_id"), col("pv"))))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id").as("query_id"), col("vec_id").as("neighbor_id"),
        floor(d2 * lit(1000000.0)).cast("long").as("adc_e6"))
    val top3 = Similarity.bottomKByQuery(scored, 3)
    val votes = top3
      .join(e.select(col("vec_id").as("neighbor_id"), col("label")), "neighbor_id")
      .groupBy(col("query_id"), col("label")).agg(count(lit(1)).as("c"))
      .groupBy(col("query_id"))
      .agg(max(struct(col("c"), (lit(-1) * col("label")).as("nl"))).as("m"))
      .select(col("query_id").as("probe_id"), (lit(-1) * col("m.nl")).as("pred_label"))
    probes.select(col("probe_id"), col("true_label"))
      .join(votes, "probe_id")
      .select(col("probe_id"), col("true_label"), col("pred_label"),
        (col("true_label") === col("pred_label")).as("correct"))
      .orderBy(col("probe_id"))
  }

  /** The 3-pass perceptron's scores cut into 10 equal-width buckets
    * over [min, max]: (bucket, n_docs, n_pos) — the calibration base of
    * [[brierQ]] and [[liftGainsQ]].
    */
  private def perceptronScoreBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val (w, b) = pcptModel(spark, sfDir, 3)
    val scored = graft.ops.Classify.perceptronScoreOnCounts(
      pcptCounts(spark, sfDir), w, b, "doc_id", Seq("lang", "y"), Seq("y"))
    val mm = scored.agg(min(col("score")).as("mn"), max(col("score")).as("mx"))
    scored.crossJoin(broadcast(mm))
      .select(col("y"), expr("(score - mn) * 10 div (mx - mn + 1)").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"))
  }

  /** Brier score of the bucket-calibrated perceptron language
    * classifier ([[calibrationQ]]'s reliability table turned into ONE
    * number): with per-bucket p̂ = n_pos/n_docs as an exact e6
    * rational, the corpus Brier sum decomposes per bucket as
    * n_pos·(10⁶−p̂)² + n_neg·p̂² — all integer, no per-document float
    * ever. Training and scoring reuse the persisted hashed-count
    * table; the final statistic is three small aggregates deep.
    */
  def brierQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val bk = perceptronScoreBuckets(spark, sfDir)
      .withColumn("p_e6", expr("n_pos * 1000000 div n_docs"))
    bk.select(col("n_docs"), col("n_pos"), expr(
      s"""  cast(n_pos as $d38) * (1000000 - p_e6) * (1000000 - p_e6)
          + cast(n_docs - n_pos as $d38) * p_e6 * p_e6""").as("contrib"))
      .groupBy()
      .agg(sum(col("n_docs")).as("n_docs"), count(lit(1)).as("n_buckets"),
        sum(col("contrib")).as("sc"))
      .select(col("n_docs"), col("n_buckets"),
        expr(s"cast(sc div (cast(n_docs as $d38) * 1000000) as bigint)")
          .as("brier_e6"))
  }

  /** Cumulative gains table of the perceptron language classifier:
    * score bands from [[calibrationQ]]'s affine bucketing, walked from
    * the top band down — what share of all positives is captured in
    * the top k bands vs what share of the corpus was read? The lift
    * at e6 is exact (capture·N vs share·P as one integral division).
    * The walk is a 10-row singleton-key window over the band table.
    */
  def liftGainsQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bk = perceptronScoreBuckets(spark, sfDir)
    val tot = bk.groupBy().agg(sum(col("n_docs")).as("nn"), sum(col("n_pos")).as("pp"))
    val wd = Window
      .partitionBy(graft.functions.GraftFunctions.singleton_key(col("bucket")))
      .orderBy(col("bucket").desc).rowsBetween(Window.unboundedPreceding, 0)
    bk.crossJoin(broadcast(tot))
      .withColumn("cum_docs", sum(col("n_docs")).over(wd))
      .withColumn("cum_pos", sum(col("n_pos")).over(wd))
      .select(col("bucket"), col("n_docs"), col("n_pos"),
        expr("cum_pos * 1000000 div pp").as("capture_e6"),
        expr("cum_docs * 1000000 div nn").as("share_e6"),
        expr("(cum_pos * nn * 1000000) div (cum_docs * pp)").as("lift_e6"))
      .orderBy(col("bucket").desc)
  }

  /** Single-linkage dendrogram cuts over the planted embedding corpus
    * ([[dbscanQ]]'s candidate machinery with the cosine retained):
    * single-linkage clusters at threshold τ are EXACTLY the connected
    * components of the τ-thresholded similarity graph, so three cuts
    * (cos ≥ 0.995 / 0.990 / 0.980) are three CC runs over one banded
    * candidate pass gated at the loosest cut. Candidates come from
    * the label × 4-bit-sign-LSH blocks (documented recall contract,
    * identical on both engines); per cut: cluster count, largest
    * cluster, clustered mass.
    */
  def singleLinkageQ(spark: SparkSession, sfDir: String): DataFrame = {
    val withCodes = bandCodes(plantedEmbeddings(spark, sfDir))
    val cand0 = Seq("c0", "c1").map { c =>
      bandPairs(withCodes, c)
        .select(col("va"), col("vb"), col("ea"), col("eb"))
    }.reduce(_ union _)
    val cand = cand0
      .select(col("va"), col("vb"), Similarity.dot(col("ea"), col("eb")).as("cs"))
      .filter(col("cs") >= 0.98)
      .select(col("va"), col("vb"), col("cs")).distinct()
      .localCheckpoint(true)
    Seq(995L, 990L, 980L).map { t =>
      val pairs = cand.filter(col("cs") >= t.toDouble / 1000.0)
        .select(col("va").as("doc_a"), col("vb").as("doc_b"))
      val sizes = Dedup.connectedComponents(pairs)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      sizes.groupBy()
        .agg(count(lit(1)).as("n_clusters"),
          coalesce(max(col("sz")), lit(0L)).as("max_size"),
          coalesce(sum(col("sz")), lit(0L)).as("n_clustered"))
        .select(lit(t).as("threshold_e3"), col("n_clusters"), col("max_size"),
          col("n_clustered"))
    }.reduce(_ union _).orderBy(col("threshold_e3"))
  }

  /** A/B sample-size calculator from the OBSERVED baseline: with the
    * $200+ purchase conversion as p₁ ([[abTestQ]]'s metric), the
    * per-arm n to detect a +2/+5/+10% relative lift at α=0.05,
    * power=0.8 is (z_α/2+z_β)²·(p₁q₁+p₂q₂)/Δ² — computed entirely in
    * exact e6/e12 integers (the z constants are fixed rationals:
    * 1.959964 and 0.841621). One user-keyed conversion aggregate;
    * the lift grid rides a broadcast spine.
    */
  def sampleSizeQ(spark: SparkSession, sfDir: String): DataFrame = {
    val conv = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") >= 200.0, 1L)
        .otherwise(0L)).as("c"))
      .groupBy().agg(count(lit(1)).as("n"), sum(col("c")).as("k"))
      .select(col("n"), col("k"), expr("k * 1000000 div n").as("p1_e6"))
    val lifts = broadcast(Tables.events(spark, sfDir).sparkSession
      .range(0, 3).select(expr("element_at(array(20000L, 50000L, 100000L), cast(id as int) + 1)").as("lift_e6")))
    conv.crossJoin(lifts)
      .withColumn("p2_e6", expr("p1_e6 * (1000000 + lift_e6) div 1000000"))
      .withColumn("zsum2_e12", lit(2801585L * 2801585L))
      .withColumn("vsum_e12", expr(
        "p1_e6 * (1000000 - p1_e6) + p2_e6 * (1000000 - p2_e6)"))
      .withColumn("delta2_e12", expr("(p2_e6 - p1_e6) * (p2_e6 - p1_e6)"))
      .select(col("n").as("n_users"), col("p1_e6"), col("lift_e6"), col("p2_e6"),
        expr("""cast(cast(zsum2_e12 as decimal(38,0)) * vsum_e12
                div delta2_e12 div 1000000000000 as bigint)""").as("n_per_arm"))
      .orderBy(col("lift_e6"))
  }

  /** Per-user first-7 event-type sequences (users < 8), every user
    * pair (user_a < user_b, arrays a and b), and the unrolled DP
    * lattice `cells` (d_i_j columns) over a/b — the base of
    * [[needlemanQ]] and [[lcsSimQ]].
    */
  private def userPairDp(spark: SparkSession, sfDir: String,
      cells: Seq[(String, String)]): DataFrame = {
    val seqs = Tables.events(spark, sfDir)
      .filter(col("user_id") < 8)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        col("event_type").as("et"))
      .groupBy(col("user_id"))
      .agg(expr("""slice(transform(array_sort(collect_list(
        struct(us, event_id, et))), s -> s.et), 1, 7)""").as("arr"))
      .filter(size(col("arr")) === 7)
    val pairs = seqs.as("p")
      .join(seqs.as("q"), col("q.user_id") > col("p.user_id"))
      .select(col("p.user_id").as("user_a"), col("q.user_id").as("user_b"),
        col("p.arr").as("a"), col("q.arr").as("b"))
    cells.foldLeft(pairs) { case (df, (n, e)) => df.withColumn(n, expr(e)) }
  }

  /** Needleman-Wunsch global alignment between user event-type
    * sequences (match +2, mismatch −1, gap −1): how similar are two
    * users' first-7-event journeys ALLOWING insertions/deletions —
    * the alignment-aware upgrade of [[transitionsQ]]-style order
    * statistics. The 7×7 DP table is unrolled by [[nwCells]] into
    * 49 codegen'd columns per pair (the [[dtwQ]] discipline — no UDF,
    * no recursion; 7 is the DuckDB replay ceiling — lateral alias
    * references expand textually, so chain depth 3^(2n-1) explodes
    * past n=7); sequences build in one per-user sorted aggregate,
    * pairs are probe-bounded (users 0–7).
    */
  def needlemanQ(spark: SparkSession, sfDir: String): DataFrame = {
    userPairDp(spark, sfDir,
        nwCells(i => s"element_at(a, $i)", j => s"element_at(b, $j)", 7))
      .select(col("user_a"), col("user_b"),
        col("d_7_7").cast("long").as("nw_score"))
      .orderBy(col("user_a"), col("user_b"))
  }

  /** Forecast backtest over the last 7 days: hold out the final week
    * of the daily series, fit naive / drift / SES(α=1/8) / Holt
    * (α=1/8, β=1/4 — [[holtQ]]'s exact recurrence) on the train
    * prefix, and score each model's h-step forecasts by MAE — the
    * model-selection loop behind every "which forecaster do we ship?"
    * decision. The four fits come from ONE fold over the sorted train
    * array (ses/level/trend/first/last/n in one accumulator struct);
    * test errors are exact e6 integers, MAE an integral division.
    */
  def forecastEvalQ(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint(true)
    val split = daily.groupBy().agg((max(col("d")) - 7).as("dsplit"))
    val prev = "element_at(acc, -1)"
    val lNew = s"$prev.l + $prev.b + (e.x * 1000000L - $prev.l - $prev.b) div 8L"
    val model = daily.crossJoin(broadcast(split))
      .filter(col("d") <= col("dsplit"))
      .groupBy()
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("arr"))
      .select(expr(
        s"""element_at(aggregate(arr,
           |  cast(array() as array<struct<ses:bigint,l:bigint,b:bigint,
           |    first:bigint,last:bigint,n:bigint>>),
           |  (acc, e) -> array_append(acc,
           |    case when size(acc) = 0
           |      then named_struct('ses', e.x * 1000000L, 'l', e.x * 1000000L,
           |        'b', 0L, 'first', e.x, 'last', e.x, 'n', 1L)
           |      else named_struct(
           |        'ses', $prev.ses + (e.x * 1000000L - $prev.ses) div 8L,
           |        'l', $lNew,
           |        'b', $prev.b + ($lNew - $prev.l - $prev.b) div 4L,
           |        'first', $prev.first, 'last', e.x, 'n', $prev.n + 1L)
           |    end)), -1)""".stripMargin).as("m"))
    val test = daily.crossJoin(broadcast(split))
      .filter(col("d") > col("dsplit"))
      .select((col("d") - col("dsplit")).as("h"), col("x"))
    test.crossJoin(broadcast(model))
      .select(col("h"), col("x"), explode(expr(
        """array(
          |  named_struct('model', 'naive', 'f', m.last * 1000000L),
          |  named_struct('model', 'drift', 'f', m.last * 1000000L
          |    + h * ((m.last - m.first) * 1000000L div (m.n - 1L))),
          |  named_struct('model', 'ses', 'f', m.ses),
          |  named_struct('model', 'holt', 'f', m.l + h * m.b))""".stripMargin))
        .as("fc"))
      .groupBy(col("fc.model").as("model"))
      .agg(count(lit(1)).as("n_test"),
        expr("sum(abs(x * 1000000L - fc.f)) div count(1)").as("mae_e6"))
      .orderBy(col("model"))
  }

  /** Coarsened exact matching (Iacus-King-Porro) for the effect of
    * error exposure on purchase spend: users coarsen into (activity
    * ventile × first-active-week) bins, treated (≥1 error event) and
    * control users match within bins where BOTH arms exist, and the
    * ATT averages the per-bin mean-outcome gaps weighted by treated
    * mass — all exact integers with per-bin e6 truncation (documented
    * quantization). Causal matching as pure group-bys: ONE user-keyed
    * reduce, a bin-keyed 2-row-per-bin aggregate, a 1-row readout —
    * no per-pair matching join anywhere, which is what makes CEM the
    * matching method that survives 10⁹ users.
    */
  def cemQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val users = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"),
        col("event_type"), cents(col("value")).cast("long").as("cts"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        expr("min(d) div 7").as("first_week"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errs"),
        sum(when(col("event_type") === "purchase", col("cts")).otherwise(0L))
          .as("outcome"))
      // treated = error share above the 20% uniform expectation (a
      // bare >=1-error flag saturates: every active user errors once)
      .withColumn("treated", expr("if(5 * errs > n_events, 1L, 0L)"))
    val cells = users
      .groupBy(expr("n_events div 20").as("act_bin"), col("first_week"),
        col("treated"))
      .agg(count(lit(1)).as("n"), sum(col("outcome")).as("s"))
    val bins = cells.groupBy(col("act_bin"), col("first_week"))
      .agg(max(when(col("treated") === 1, col("n"))).as("n_t"),
        max(when(col("treated") === 0, col("n"))).as("n_c"),
        max(when(col("treated") === 1, col("s"))).as("s_t"),
        max(when(col("treated") === 0, col("s"))).as("s_c"))
      .localCheckpoint(true)
    val matched = bins.filter(col("n_t").isNotNull && col("n_c").isNotNull)
      .select(col("n_t"), col("n_c"),
        expr(s"""cast(n_t as $d38) * (cast(s_t as $d38) * 1000000 div n_t
                 - cast(s_c as $d38) * 1000000 div n_c)""").as("wterm"))
    bins.groupBy().agg(count(lit(1)).as("n_bins_total"))
      .crossJoin(broadcast(matched.groupBy()
        .agg(count(lit(1)).as("n_bins_matched"),
          coalesce(sum(col("n_t")), lit(0L)).as("n_treated_matched"),
          coalesce(sum(col("n_c")), lit(0L)).as("n_control_matched"),
          sum(col("wterm")).as("num"))))
      .select(col("n_bins_total"), col("n_bins_matched"),
        col("n_treated_matched"), col("n_control_matched"),
        expr("cast(num div nullif(n_treated_matched, 0) as bigint)")
          .as("att_cents_e6"))
  }

  /** Tukey-fence outlier counts per event type: with the quartiles
    * held EXACT at 4× scale (quarter-point interpolation on integers
    * is dyadic — the 2×-median trick generalized), the 1.5·IQR fences
    * are exact at 8× scale (8·(q₁−1.5·IQR) = 2·(4q₁) − 3·(4·IQR)),
    * so the outlier gate 8v < lo₈ compares integers only. One fact
    * scan into per-type percentiles, one counting pass.
    */
  def tukeyFencesQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), cents(col("value")).cast("long").as("v"))
      .localCheckpoint(true)
    val fences = ev.groupBy(col("event_type"))
      .agg(expr("cast(4 * percentile(v, 0.25) as bigint)").as("q1_4x"),
        expr("cast(4 * percentile(v, 0.75) as bigint)").as("q3_4x"))
      .withColumn("lo8", expr("2 * q1_4x - 3 * (q3_4x - q1_4x)"))
      .withColumn("hi8", expr("2 * q3_4x + 3 * (q3_4x - q1_4x)"))
    ev.join(broadcast(fences), "event_type")
      .groupBy(col("event_type"), col("q1_4x"), col("q3_4x"))
      .agg(count(lit(1)).as("n"),
        sum(expr("if(8 * v < lo8, 1L, 0L)")).as("n_low"),
        sum(expr("if(8 * v > hi8, 1L, 0L)")).as("n_high"))
      .orderBy(col("event_type"))
  }

  /** Octile Q-Q comparison of weekday vs weekend purchase spend: the
    * distributional WHERE of the [[effectSizeQ]] gap — at which
    * octiles do the two distributions diverge? Eighths are dyadic, so
    * 8×quantile interpolation on integer cents is exact on both
    * engines ([[madQ]]'s 2×-median rule at the next depth). One fact
    * scan into two percentile-array rows, exploded to 7 octiles.
    */
  def qqOctilesQ(spark: SparkSession, sfDir: String): DataFrame = {
    val fr = (1 to 7).map(j => j / 8.0)
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(expr("if((unix_micros(ts) div 86400000000 + 4) % 7 >= 5, 1L, 0L)")
        .as("g"), cents(col("value")).cast("long").as("v"))
    val q = ev.groupBy(col("g"))
      .agg(expr(s"transform(percentile(v, array(${fr.mkString(", ")})), " +
        "x -> cast(8 * x as bigint))").as("qs"))
    q.groupBy()
      .agg(max(when(col("g") === 1, col("qs"))).as("qw"),
        max(when(col("g") === 0, col("qs"))).as("qd"))
      .select(explode(expr(
        """transform(sequence(1, 7), j -> named_struct(
          |  'octile', cast(j as bigint),
          |  'weekend_8x', element_at(qw, j),
          |  'weekday_8x', element_at(qd, j)))""".stripMargin)).as("r"))
      .select(col("r.octile").as("octile"), col("r.weekend_8x").as("weekend_8x"),
        col("r.weekday_8x").as("weekday_8x"),
        (col("r.weekend_8x") - col("r.weekday_8x")).as("gap_8x"))
      .orderBy(col("octile"))
  }

  /** Vocabulary tail coverage — the tokenizer-budget curve: what share
    * of all token OCCURRENCES do the top-100/1k/10k types cover? The
    * type-count table is vocab-bounded after one map-side-combined
    * scan; each cut is a TakeOrdered (count desc, token) over the one
    * checkpointed top-10k table, never a global rank window.
    */
  def vocabTailQ(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .select(explode(TextOps.words(lower(col("text")))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val tot = counts.groupBy()
      .agg(sum(col("cnt")).as("total_tokens"), count(lit(1)).as("n_types"))
    val top = counts.orderBy(col("cnt").desc, col("tok")).limit(10000)
      .localCheckpoint(true)
    Seq(100, 1000, 10000).map { k =>
      top.orderBy(col("cnt").desc, col("tok")).limit(k)
        .groupBy().agg(sum(col("cnt")).as("covered"))
        .select(lit(k.toLong).as("top_k"), col("covered"))
    }.reduce(_ union _)
      .crossJoin(broadcast(tot))
      .select(col("top_k"), col("covered"), col("total_tokens"), col("n_types"),
        expr("covered * 1000000 div total_tokens").as("coverage_e6"))
      .orderBy(col("top_k"))
  }

  /** 3-fold cross-validated accuracy of the perceptron language
    * classifier — the eval harness that turns [[calibrationQ]]'s
    * in-sample reliability into an HONEST generalization number: each
    * fold trains the full 3-pass integer perceptron on 2/3 of the
    * corpus (doc_id mod 3) and scores the held-out third. Three
    * trainings over fold-filtered hashed-count tables; the oracle
    * replays all three unrolled chains. Exact integers end to end.
    */
  def crossValQ(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE shared featurize pass ([[pcptCounts]]): each fold trains on a
    // filter of the persisted count table and scores the held-out
    // filter — tokenizing commutes with the doc_id-mod filter, so the
    // fold models and scores are bit-identical to the per-fold
    // tokenize-train-score chain this replaced (3 corpus passes gone).
    val counts = pcptCounts(spark, sfDir)
    // The three folds are independent driver loops (3 passes × 2 jobs
    // each over the shared cached count table): submit them from a small
    // thread pool so one fold's tiny stages back-fill the cores idled by
    // another fold's driver barriers (guide §2.6 — actions are only
    // sequential because the driver calls them sequentially). Attribution
    // stays honest: training still runs eagerly inside this query's
    // timed region, and each fold's integer model is bit-identical to
    // the sequential run (per-fold jobs are themselves unchanged).
    val models = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val fs = (0 to 2).map { k => Future {
        graft.ops.Classify.perceptronTrainOnCounts(
          counts.filter(col("doc_id") % 3 =!= k), 3)
      } }
      fs.map(Await.result(_, scala.concurrent.duration.Duration.Inf))
    }
    (0 to 2).map { k =>
      val (w, b) = models(k)
      graft.ops.Classify.perceptronScoreOnCounts(
          counts.filter(col("doc_id") % 3 === k), w, b, "doc_id",
          Seq("lang", "y"), Seq("y"))
        .groupBy()
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("pred") === col("y"), 1L).otherwise(0L)).as("n_correct"))
        .select(lit(k.toLong).as("fold"), col("n_test"), col("n_correct"),
          expr("n_correct * 1000000 div n_test").as("acc_e6"))
    }.reduce(_ union _).orderBy(col("fold"))
  }

  /** Per-label L1 centroid (component-wise median) of the embedding
    * cells — the robust alternative to the k-means mean centroid that
    * a single corrupted vector can't drag: each of the first 8
    * dimensions' medians is held EXACT at 2× scale over e6-floored
    * components (floor parity is engine-safe; round is not for
    * negatives). One posexplode scan into (label, dim) percentile
    * cells — scan-shaped at any corpus size.
    */
  def l1CentroidQ(spark: SparkSession, sfDir: String): DataFrame = {
    Similarity.asDouble(Tables.embeddings(spark, sfDir))
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .filter(col("dim") < 8)
      .select(col("label"), col("dim").cast("long").as("dim"),
        floor(col("x") * lit(1000000.0)).cast("long").as("q"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("cast(2 * percentile(q, 0.5) as bigint)").as("med_2x_e6"))
      .orderBy(col("label"), col("dim"))
  }

  /** Modified-z (robust) outlier days: 0.6745·|x−med|/MAD > 3.5 with
    * every quantity exact — deviations at 2× scale, the MAD at 4×
    * (two nested 2×-median tricks), and the gate 1349·dev₂ > 3500·mad₄
    * comparing integers only. The top-3 days by robust z ship with
    * their flag, so the readout is never empty. [[grubbsQ]]'s
    * mean/sd sibling collapses under the very outliers it hunts; this
    * one doesn't — that's why monitoring stacks run MAD.
    */
  def robustZQ(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(count(lit(1)).as("x"))
    val med = daily.groupBy()
      .agg(expr("cast(2 * percentile(x, 0.5) as bigint)").as("m2"))
    val dev = daily.crossJoin(broadcast(med))
      .select(col("d"), col("x"), abs(expr("2 * x - m2")).as("dev2"))
      .localCheckpoint(true)
    val mad = dev.groupBy()
      .agg(expr("cast(2 * percentile(dev2, 0.5) as bigint)").as("mad4"))
    dev.crossJoin(broadcast(mad))
      .select(col("d"), col("x"),
        expr("1349 * dev2 * 1000 div nullif(mad4, 0)").as("z_e6"),
        expr("1349 * dev2 > 3500 * mad4").as("is_outlier"))
      .orderBy(col("z_e6").desc, col("d"))
      .limit(3)
  }

  /** Uplift of error exposure on $200+ purchase conversion, by
    * activity band — [[cemQ]]'s per-stratum readout: within each
    * activity bin, treated-vs-control conversion rates as exact e6
    * rationals and their gap. Heterogeneous treatment effects as pure
    * group-bys (ONE user reduce, one bin aggregate); only both-arm
    * bins ship.
    */
  def upliftQ(spark: SparkSession, sfDir: String): DataFrame = {
    val users = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errs"),
        max(when(col("event_type") === "purchase" && col("value") >= 200.0, 1L)
          .otherwise(0L)).as("converted"))
      // the cemQ treatment: error share above the 20% uniform baseline
      .withColumn("treated", expr("if(5 * errs > n_events, 1L, 0L)"))
    users
      .groupBy(expr("least(n_events div 25, 8L)").as("act_bin"), col("treated"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("k"))
      .groupBy(col("act_bin"))
      .agg(max(when(col("treated") === 1, col("n"))).as("n_t"),
        max(when(col("treated") === 1, col("k"))).as("k_t"),
        max(when(col("treated") === 0, col("n"))).as("n_c"),
        max(when(col("treated") === 0, col("k"))).as("k_c"))
      .filter(col("n_t").isNotNull && col("n_c").isNotNull)
      .select(col("act_bin"), col("n_t"), col("n_c"),
        expr("k_t * 1000000 div n_t").as("conv_t_e6"),
        expr("k_c * 1000000 div n_c").as("conv_c_e6"),
        expr("k_t * 1000000 div n_t - k_c * 1000000 div n_c").as("uplift_e6"))
      .orderBy(col("act_bin"))
  }

  /** Hodges-Lehmann shift estimator between weekday and weekend daily
    * event volumes: the median of ALL pairwise differences — the
    * robust "how much higher is a weekend day, really?" number that a
    * mean difference gets wrong under outliers and [[mannWhitneyQ]]
    * only tests. Day pairs are calendar-bounded (they never grow with
    * corpus size), and the median of integer differences is exact at
    * 2× scale.
    */
  def hodgesLehmannQ(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(count(lit(1)).as("x"))
      .withColumn("wknd", expr("if((d + 4) % 7 >= 5, 1L, 0L)"))
      .localCheckpoint(true)
    daily.filter(col("wknd") === 1).select(col("x").as("a"))
      .crossJoin(daily.filter(col("wknd") === 0).select(col("x").as("b")))
      .select((col("a") - col("b")).as("diff"))
      .groupBy()
      .agg(count(lit(1)).as("n_pairs"),
        expr("cast(2 * percentile(diff, 0.5) as bigint)").as("hl_2x"))
  }

  /** Cohen's kappa between the rule "lang = 'en'" and the trained
    * perceptron's prediction — chance-corrected agreement of two
    * labelers, THE inter-annotator metric for labeling pipelines.
    * κ = (p_o − p_e)/(1 − p_e) reduces to one exact rational:
    * (agree·n − a₁b₁ − a₀b₀)·10⁶ div (n² − a₁b₁ − a₀b₀). One scored
    * pass into five counters; no float anywhere.
    */
  def kappaQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val (w, b) = pcptModel(spark, sfDir, 3)
    graft.ops.Classify.perceptronScoreOnCounts(pcptCounts(spark, sfDir), w, b,
        "doc_id", Seq("lang", "y"), Seq("y"))
      .groupBy()
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(when(col("pred") === col("y"), 1L).otherwise(0L)).cast(d38).as("agree"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).cast(d38).as("a1"),
        sum(when(col("pred") === 1L, 1L).otherwise(0L)).cast(d38).as("b1"))
      .select(col("n").cast("long").as("n_docs"),
        col("agree").cast("long").as("n_agree"),
        expr("""cast((agree * n - a1 * b1 - (n - a1) * (n - b1)) * 1000000
                div (n * n - a1 * b1 - (n - a1) * (n - b1)) as bigint)""")
          .as("kappa_e6"))
  }

  /** Matthews correlation coefficient of the perceptron language
    * classifier — the single-number confusion summary that stays
    * honest under class imbalance where accuracy and F1 inflate:
    * (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN)), the four cell
    * counts exact from one scored pass, the denominator the identical
    * IEEE four-sqrt product floored at e6 on both engines.
    */
  def mccQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (w, b) = pcptModel(spark, sfDir, 3)
    graft.ops.Classify.perceptronScoreOnCounts(pcptCounts(spark, sfDir), w, b,
        "doc_id", Seq("lang", "y"), Seq("y"))
      .groupBy()
      .agg(sum(when(col("y") === 1L && col("pred") === 1L, 1L).otherwise(0L)).as("tp"),
        sum(when(col("y") === -1L && col("pred") === -1L, 1L).otherwise(0L)).as("tn"),
        sum(when(col("y") === -1L && col("pred") === 1L, 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === 1L && col("pred") === -1L, 1L).otherwise(0L)).as("fn"))
      .select(col("tp"), col("tn"), col("fp"), col("fn"),
        expr("""cast(floor(1000000.0
                * (cast(tp as double) * cast(tn as double)
                   - cast(fp as double) * cast(fn as double))
                / nullif(sqrt(cast(tp + fp as double)) * sqrt(cast(tp + fn as double))
                   * sqrt(cast(tn + fp as double)) * sqrt(cast(tn + fn as double)), 0.0d))
                as bigint)""").as("mcc_e6"))
  }

  /** Cronbach's α over the five event types as "items" scoring each
    * day — do the per-type daily volumes move together (one latent
    * traffic factor) or independently? α = k/(k−1)·(1 − ΣVᵢ/V_T)
    * with every variance the n²-scaled integer n·Σx²−(Σx)² over the
    * zero-filled (day × type) grid — the whole statistic is one exact
    * rational at e6. One partial-aggregated scan, a calendar-bounded
    * spine fill, two tiny variance aggregates.
    */
  def cronbachQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("d"), col("event_type"))
    val counts = ev.groupBy(col("d"), col("event_type")).agg(count(lit(1)).as("x"))
      .localCheckpoint(true)
    val spine = counts.select(col("d")).distinct()
      .crossJoin(broadcast(counts.select(col("event_type")).distinct()))
    val grid = spine.join(counts, Seq("d", "event_type"), "left")
      .select(col("d"), col("event_type"), coalesce(col("x"), lit(0L)).as("x"))
      .localCheckpoint(true)
    val vi = grid.groupBy(col("event_type"))
      .agg(count(lit(1)).cast(d38).as("n"), sum(col("x")).cast(d38).as("s"),
        sum(col("x").cast(d38) * col("x")).as("q"))
      .select(expr("n * q - s * s").as("v"), col("n"))
      .groupBy(col("n")).agg(sum(col("v")).as("sum_vi"), count(lit(1)).as("k"))
    val vt = grid.groupBy(col("d")).agg(sum(col("x")).as("t"))
      .groupBy()
      .agg(count(lit(1)).cast(d38).as("n2"), sum(col("t")).cast(d38).as("st"),
        sum(col("t").cast(d38) * col("t")).as("qt"))
      .select(expr("n2 * qt - st * st").as("v_total"))
    vi.crossJoin(broadcast(vt))
      .select(col("n").cast("long").as("n_days"), col("k"),
        expr("""cast(k * (v_total - sum_vi) * 1000000
                div ((k - 1) * v_total) as bigint)""").as("alpha_e6"))
  }

  /** Partial correlation of daily clicks and purchases CONTROLLING
    * for view volume — does the click→purchase link survive once
    * "it was just a busy day" is partialled out? All three pairwise
    * correlation numerators/denominators are exact n-scaled integers
    * from ONE daily aggregate; the final
    * (r_xy − r_xz·r_zy)/√((1−r_xz²)(1−r_zy²)) is the identical IEEE
    * expression floored at e6 on both engines ([[crossCorrQ]]'s rule).
    */
  def partialCorrQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).cast(d38).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).cast(d38).as("y"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).cast(d38).as("z"))
    val s = daily.groupBy()
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"), sum(col("z")).as("sz"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("z")).as("sxz"),
        sum(col("y") * col("z")).as("syz"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("z") * col("z")).as("szz"))
    def r(ab: String, a: String, b: String): String =
      s"""(cast(n * s$ab - s$a * s$b as double)
          / (sqrt(cast(n * s$a$a - s$a * s$a as double))
             * sqrt(cast(n * s$b$b - s$b * s$b as double))))"""
    val (rxy, rxz, rzy) = (r("xy", "x", "y"), r("xz", "x", "z"), r("yz", "y", "z"))
    s.select(col("n").cast("long").as("n_days"),
      expr(s"cast(floor(1000000.0 * $rxy) as bigint)").as("rxy_e6"),
      expr(s"cast(floor(1000000.0 * $rxz) as bigint)").as("rxz_e6"),
      expr(s"cast(floor(1000000.0 * $rzy) as bigint)").as("rzy_e6"),
      expr(s"""cast(floor(1000000.0 * ($rxy - $rxz * $rzy)
              / sqrt((1.0 - $rxz * $rxz) * (1.0 - $rzy * $rzy))) as bigint)""")
        .as("partial_e6"))
  }

  // === round 10: distance diagnostics, robust regression, governance,
  //     concentration, recommendation, ranking-agreement wave ===

  /** Graph eccentricity from the shared 10-root BFS ([[closenessQ]]'s
    * frontier table, same `pagerank_edges` memo): per root, the
    * farthest-reached distance (eccentricity restricted to the reached
    * component), plus the 10-root sample's radius (min ecc) and
    * diameter (max ecc) broadcast back onto every row — the standard
    * sampled bound pair (true radius ≤ sampled ecc ≤ true diameter for
    * every root). One BFS fixpoint then root-bounded aggregates; the
    * radius/diameter readout is a 1-row broadcast, never a data-sized
    * window.
    */
  def eccentricityQ(spark: SparkSession, sfDir: String): DataFrame = {
    val perRoot = bfs10Distances(spark, sfDir)
      .filter(col("d") > 0)
      .groupBy(col("root"))
      .agg(count(lit(1)).as("n_reached"), max(col("d")).as("ecc"))
    val bounds = perRoot.groupBy()
      .agg(min(col("ecc")).as("radius_sample"), max(col("ecc")).as("diameter_sample"))
    perRoot.crossJoin(broadcast(bounds))
      .select(col("root"), col("n_reached"), col("ecc"),
        col("radius_sample"), col("diameter_sample"))
      .orderBy(col("root"))
  }

  /** Theil–Sen robust trend of the daily event volume: the median of
    * all pairwise slopes (y_j−y_i)/(x_j−x_i) over the calendar-bounded
    * day series — the estimator that shrugs off the outlier days OLS
    * ([[linregQ]]) gets dragged by (29% breakdown point). Slopes are
    * e6-floored integers (`div` truncates identically on both
    * engines), the median uses the 2×-percentile integer trick, and
    * the intercept is the 2×-median of y_i·1e6 − slope_e6·x_i
    * residuals at the integer slope. The pair join is
    * calendar²-bounded (days choose 2 — ~10³ rows for a quarter, ~10⁵
    * for a decade), never data-sized: the only corpus-scan is the
    * daily count aggregate.
    */
  def theilSenQ(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("x"))
      .agg(count(lit(1)).as("y"))
    val d0 = daily.groupBy().agg(min(col("x")).as("x0"))
    val d = daily.crossJoin(broadcast(d0))
      .select((col("x") - col("x0")).as("x"), col("y"))
    val pairs = d.as("a").join(d.as("b"), col("a.x") < col("b.x"))
      .select(expr("(b.y - a.y) * 1000000 div (b.x - a.x)").as("slope_e6"))
    val slope = pairs.groupBy()
      .agg(count(lit(1)).as("n_pairs"),
        expr("cast(2 * percentile(slope_e6, 0.5) as bigint)").as("slope2_e6"))
    d.crossJoin(broadcast(slope))
      .select(col("n_pairs"), col("slope2_e6"),
        expr("y * 1000000 - (slope2_e6 div 2) * x").as("r_e6"))
      .groupBy(col("n_pairs"), col("slope2_e6"))
      .agg(count(lit(1)).as("n_days"),
        expr("cast(2 * percentile(r_e6, 0.5) as bigint)").as("icept2_e6"))
      .select(col("n_days"), col("n_pairs"), col("slope2_e6"), col("icept2_e6"))
  }

  /** t-closeness audit — the third leg of the privacy triad after
    * [[kanonQ]] and `q_ldiversity`: for every quasi-identifier group
    * (market segment × nation), the Earth-Mover's Distance between the
    * group's distribution of the ORDERED sensitive attribute (account
    * balance in fixed 1000-unit buckets) and the global distribution.
    * For an ordered attribute EMD = Σ|cumulative gaps|/(B−1), computed
    * fraction-free by cross-multiplying counts (|cumG·nAll − cumAll·nG|)
    * so the statistic is bit-exact. A group with t > 0.2 leaks: knowing
    * the QI narrows the sensitive value more than the release intends.
    *
    * Scale shape: one scan into (group, bucket) counts; everything
    * after lives on the QI-domain × bucket-domain grid (125 × ~11
    * here), with the per-group cumulative window keyed by group —
    * bounded by the value support, never by |rows|.
    */
  def tClosenessQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.customer(spark, sfDir)
      .select(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"),
        expr("cast(floor(c_acctbal / 1000) as bigint)").as("b"))
    val gb = base.groupBy(col("seg"), col("nat"), col("b")).agg(count(lit(1)).as("cg"))
    val glob = base.groupBy(col("b")).agg(count(lit(1)).as("ca"))
    // bounded self-join cumulative on the global bucket grid (≤ B² rows)
    val globCum = glob.as("x")
      .join(glob.select(col("b").as("b2"), col("ca").as("ca2")).as("y"), col("b2") <= col("x.b"))
      .groupBy(col("x.b").as("b"))
      .agg(sum(col("ca2")).as("cum_all"))
    val nAll = base.groupBy().agg(count(lit(1)).as("n_all"))
    val grid = gb.select(col("seg"), col("nat")).distinct()
      .crossJoin(glob.select(col("b")))
      .join(gb, Seq("seg", "nat", "b"), "left")
      .withColumn("cg", coalesce(col("cg"), lit(0L)))
    val w = Window.partitionBy(col("seg"), col("nat")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val nB = glob.groupBy().agg(count(lit(1)).as("n_b"))
    val nG = gb.groupBy(col("seg"), col("nat")).agg(sum(col("cg")).as("n_g"))
    grid.withColumn("cum_g", sum(col("cg")).over(w))
      .join(broadcast(globCum), "b")
      .join(broadcast(nG), Seq("seg", "nat"))
      .crossJoin(broadcast(nAll)).crossJoin(broadcast(nB))
      .groupBy(col("seg"), col("nat"), col("n_g"), col("n_all"), col("n_b"))
      .agg(sum(abs(col("cum_g") * col("n_all") - col("cum_all") * col("n_g")))
        .as("emd_num"))
      .select(col("seg"), col("nat"), col("n_g"),
        expr("emd_num * 1000000 div (n_g * n_all * (n_b - 1))").as("t_e6"))
      .withColumn("leaks", col("t_e6") > 200000L)
      .orderBy(col("seg"), col("nat"))
  }

  /** Herfindahl–Hirschman concentration index of supplier-nation
    * revenue within each region — the market-concentration readout a
    * marketplace/antitrust dashboard runs: HHI = Σ shareᵢ², plus the
    * top share and the inverse-HHI "effective number of competitors".
    * Fraction-free at e6: (Σ revᵢ²)·10⁶ div (Σrev)², revenue summed in
    * exact integer cents widened to decimal(38). One fact scan with a
    * map-side-combinable (region, nation) aggregate; the share math
    * runs on the bounded 5×25 grid.
    */
  def hhiQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val rev = Tables.lineitem(spark, sfDir)
      .join(Tables.supplier(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, sfDir)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_regionkey").as("region"), col("n_nationkey").as("nation"))
      .agg(sum(cents(col("l_extendedprice")).cast("long")).cast(d38).as("rev"))
    rev.groupBy(col("region"))
      .agg(count(lit(1)).as("n_nations"),
        sum(col("rev")).as("tot"),
        sum(col("rev") * col("rev")).as("sq"),
        max(col("rev")).as("top_rev"))
      .select(col("region"), col("n_nations"),
        expr("cast(sq * 1000000 div (tot * tot) as bigint)").as("hhi_e6"),
        expr("cast(top_rev * 1000000 div tot as bigint)").as("top_share_e6"),
        expr("cast(tot * tot * 1000000 div sq as bigint)").as("effective_n_e6"))
      .orderBy(col("region"))
  }

  /** Per-region 2×2 table of BUILDING-segment exposure vs having an
    * URGENT order (region, a, b, c, d: exposed/unexposed × with/without)
    * — the input of [[oddsRatioQ]] and [[evalueQ]].
    */
  private def regionUrgentTable(spark: SparkSession, sfDir: String): DataFrame = {
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey")).distinct()
    val c = Tables.customer(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(urgent.withColumn("outc", lit(1L)), Seq("c_custkey"), "left")
      .select(col("n_regionkey").as("region"),
        (col("c_mktsegment") === "BUILDING").as("exp"),
        coalesce(col("outc"), lit(0L)).as("outc"))
    c.groupBy(col("region"))
      .agg(sum(when(col("exp") && col("outc") === 1L, 1L).otherwise(0L)).as("a"),
        sum(when(col("exp") && col("outc") === 0L, 1L).otherwise(0L)).as("b"),
        sum(when(!col("exp") && col("outc") === 1L, 1L).otherwise(0L)).as("c"),
        sum(when(!col("exp") && col("outc") === 0L, 1L).otherwise(0L)).as("d"))
  }

  /** Odds ratio (with Haldane–Anscombe correction), risk ratio and
    * Yule's Q per region for exposure = BUILDING market segment,
    * outcome = the customer placed ≥ 1 URGENT order — the 2×2
    * effect-size panel epidemiology and growth teams read next to the
    * χ² test ([[chi2IndepQ]] owns significance; this owns magnitude).
    * Haldane's +0.5 is kept exact by doubling all four cells
    * ((2a+1)(2d+1)/((2b+1)(2c+1)) at e6). The outcome flag is one
    * broadcast-joinable DISTINCT of urgent orderers; cells are four
    * conditional counts in a single region-bounded aggregate.
    */
  def oddsRatioQ(spark: SparkSession, sfDir: String): DataFrame = {
    regionUrgentTable(spark, sfDir)
      .select(col("region"), col("a"), col("b"), col("c"), col("d"),
        expr("(2*a+1) * (2*d+1) * 1000000 div ((2*b+1) * (2*c+1))").as("or_haldane_e6"),
        expr("""case when c > 0 and a + b > 0
                then a * (c + d) * 1000000 div (c * (a + b)) end""").as("rr_e6"),
        expr("""case when a*d + b*c > 0
                then (a*d - b*c) * 1000000 div (a*d + b*c) end""").as("yule_q_e6"))
      .orderBy(col("region"))
  }

  /** Weighted Slope One recommender over the (user, event_type) rating
    * matrix (rating = the user's truncated-mean spend in cents on that
    * type): item–item deviation sums from co-raters, then predictions
    * for each probe user's UNRATED types as
    * Σᵢ(S_ji + r_ui·c_ji) / Σᵢc_ji — the classic "add the average
    * disagreement" collaborative filter, exactly integer because the
    * deviation SUM (not mean) is carried next to its count. The item
    * domain is bounded (event types), so the deviation matrix is
    * model-sized and broadcasts; the only corpus-scan is the per-(user,
    * item) rating aggregate. Probe set: user_id < 20 (the ANN-query
    * probe discipline).
    */
  def slopeOneQ(spark: SparkSession, sfDir: String): DataFrame = {
    val r = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), col("event_type").as("item"))
      .agg(sum(cents(col("value")).cast("long")).as("sv"), count(lit(1)).as("cv"))
      .select(col("user_id"), col("item"), expr("sv div cv").as("r"))
    // item-item deviations from users who rated both (i ≠ j)
    val dev = r.as("x").join(r.as("y"),
        col("x.user_id") === col("y.user_id") && col("x.item") =!= col("y.item"))
      .groupBy(col("x.item").as("j"), col("y.item").as("i"))
      .agg(sum(col("x.r") - col("y.r")).as("s_ji"), count(lit(1)).as("c_ji"))
    val probes = r.filter(col("user_id") < 20)
    val items = r.select(col("item")).distinct()
    // predict EVERY (probe user, item) pair — unrated pairs get the
    // recommendation, rated ones the model's reconstruction next to the
    // held actual (i ≠ j keeps the target out of its own prediction)
    val targets = probes.select(col("user_id")).distinct()
      .crossJoin(items.select(col("item").as("j")))
      .join(r.select(col("user_id"), col("item").as("j"), col("r").as("actual")),
        Seq("user_id", "j"), "left")
    targets
      .join(probes.select(col("user_id"), col("item").as("i"), col("r").as("r_ui")),
        Seq("user_id"))
      .filter(col("i") =!= col("j"))
      .join(broadcast(dev), Seq("j", "i"))
      .groupBy(col("user_id"), col("j").as("item"), col("actual"))
      .agg(sum(col("s_ji") + col("r_ui") * col("c_ji")).as("num"),
        sum(col("c_ji")).as("den"), count(lit(1)).as("n_items_used"))
      .select(col("user_id"), col("item"), col("n_items_used"),
        expr("num * 100 div den").as("pred_cents_e2"),
        (col("actual") * 100L).as("actual_cents_e2"))
      .orderBy(col("user_id"), col("item"))
  }

  /** Rank-Biased Overlap (p = 1/2, depth 20) between two part
    * rankings — by shipped quantity vs by revenue: the top-weighted
    * agreement measure search teams use where Kendall τ over-weights
    * the tail. RBO = (1−p)·Σ_d p^(d−1)·A_d/d with A_d the overlap of
    * the two depth-d prefixes; with p = 1/2 every weight is the dyadic
    * rational 1/(2^d·d), so the whole sum is exact over the common
    * denominator lcm(1..20)·2²⁰ (decimal(38) — no float ever). The two
    * rankings are TakeOrdered top-20s; A_d computation runs on their
    * ≤40-row union crossed with the 20-row depth spine.
    */
  def rboQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val li = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(expr("cast(round(l_quantity, 0) as long)")).as("qty"),
        sum(cents(col("l_extendedprice")).cast("long")).as("rev"))
    def top20(by: Column, name: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      // 20-row shortlist first (TakeOrdered), rank derived on the survivors
      val short = li.orderBy(by.desc, col("pk")).limit(20)
      short.withColumn(name, row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(graft.functions.GraftFunctions.singleton_key(col("pk")))
          .orderBy(by.desc, col("pk"))).cast("long"))
        .select(col("pk"), col(name))
    }
    val rx = top20(col("qty"), "rkx")
    val ry = top20(col("rev"), "rky")
    val both = rx.join(ry, Seq("pk"), "outer")
    val spine = spark.range(1, 21).select(col("id").as("d"))
    // lcm(1..20) = 232792560; common denominator lcm · 2^20
    val denom = "cast(232792560 as decimal(38,0)) * 1048576"
    both.crossJoin(broadcast(spine))
      .filter(col("rkx") <= col("d") && col("rky") <= col("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("a_d"))
      .select((col("a_d").cast(d38) *
        expr(s"$denom div (cast(pow(2, d) as decimal(38,0)) * d)")).as("term"))
      .groupBy()
      .agg(sum(col("term")).as("num"))
      .select(expr(s"cast(num * 1000000 div ($denom) as bigint)").as("rbo_e6"))
  }

  /** Flesch–Kincaid readability panel per language: grade =
    * 0.39·(words/sentences) + 11.8·(syllables/word) − 15.59, at e3 by
    * truncating integer division over exact corpus totals. Syllables
    * use the standard vowel-group heuristic (runs of [aeiouy] — counted
    * by regexp collapse, no per-word loop); the synthetic corpus
    * carries no sentence punctuation, so sentence = document here (the
    * docstring constant to swap for a [.!?] split on prose). One
    * narrow codegen'd scan into per-lang totals; everything after is
    * lang-domain bounded.
    */
  def readabilityQ(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables.documents(spark, sfDir).select(col("lang"),
      size(graft.ops.TextOps.words(lower(col("text")))).cast("long").as("w"),
      (length(regexp_replace(lower(col("text")), "[aeiouy]+", "V"))
        - length(regexp_replace(lower(col("text")), "[aeiouy]+", ""))).cast("long").as("syl"))
    t.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("words"),
        sum(col("syl")).as("syllables"))
      .select(col("lang"), col("n_docs"), col("words"), col("syllables"),
        expr("390 * words div n_docs").as("wps_x039_e3"),
        expr("11800 * syllables div words").as("spw_x118_e3"),
        expr("390 * words div n_docs + 11800 * syllables div words - 15590")
          .as("fk_grade_e3"))
      .orderBy(col("lang"))
  }

  /** Greedy k-center coreset (Gonzalez 2-approximation) over the
    * embedding corpus — the "pick k maximally-spread exemplars" pass a
    * curation pipeline runs to seed diverse few-shot pools or IVF
    * coarse codebooks: seed = smallest vec_id, then k−1 rounds of
    * "farthest point from the chosen set" under squared L2 (e6-floored,
    * vec_id tiebreak — fully deterministic). Each round is ONE corpus
    * scan against a broadcast single-vector frame with a running
    * element-wise `least` of distances, and the argmax is a global
    * TakeOrdered(1) — k linear passes, no pairwise table, the textbook
    * scalable shape (k is a constant; the passes pipeline through the
    * cached distance frame). Output: the k centers in selection order
    * with their selection distances and the final covering radius.
    */
  def kCenterQ(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 5
    val v = Similarity.asDouble(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("embedding").as("v"))
    def d2(a: Column, b: Column): Column =
      floor((Similarity.dot(a, a) - lit(2.0) * Similarity.dot(a, b)
        + Similarity.dot(b, b)) * lit(1000000.0)).cast("long")
    val seedId = v.orderBy(col("vec_id")).limit(1)
      .collect().head.getLong(0)
    def centerVec(id: Long): DataFrame =
      v.filter(col("vec_id") === id).select(col("v").as("cv"))
    var chosen = List((1L, seedId, 0L)) // (rank, vec_id, selection d2_e6)
    var dmin = v.crossJoin(broadcast(centerVec(seedId)))
      .select(col("vec_id"), col("v"), d2(col("v"), col("cv")).as("dm"))
      .persist()
    var rank = 2L
    while (rank <= k) {
      val far = dmin.orderBy(col("dm").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("dm")).collect().head
      chosen = chosen :+ ((rank, far.getLong(0), far.getLong(1)))
      val next = dmin.crossJoin(broadcast(centerVec(far.getLong(0))))
        .select(col("vec_id"), col("v"),
          least(col("dm"), d2(col("v"), col("cv"))).as("dm"))
        .persist()
      dmin.unpersist(blocking = false)
      dmin = next
      rank += 1
    }
    val radius = dmin.groupBy().agg(max(col("dm")).as("radius_e6"))
    dmin.unpersist(blocking = false)
    import spark.implicits._
    chosen.toDF("sel_rank", "vec_id", "sel_d2_e6")
      .crossJoin(broadcast(radius))
      .orderBy(col("sel_rank"))
  }

  /** Strongly connected components of the directed nation-trade graph
    * (edge a→b when suppliers in nation a ship above-average total
    * quantity to customers in nation b): transitive closure to
    * fixpoint, then scc_id(v) = min over the mutually-reachable set —
    * the directed sibling of `q_dedup_clusters`' undirected CC. The
    * corpus-scale work is ONE fact scan into the 25×25 pair aggregate;
    * the closure loop runs on the nation-domain-bounded edge table
    * (≤625 rows — a closure over an unbounded graph would instead use
    * forward/backward pivot decomposition, this operator's documented
    * scale path). Output: node, scc_id, component size.
    */
  def sccQ(spark: SparkSession, sfDir: String): DataFrame = Checkpoints.scoped { s =>
    val pairs = Tables.lineitem(spark, sfDir)
      .join(Tables.supplier(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      .agg(sum(expr("cast(round(l_quantity, 0) as long)")).as("qty"))
      .filter(col("src") =!= col("dst"))
    val tot = pairs.groupBy()
      .agg(sum(col("qty")).as("sq"), count(lit(1)).as("np"))
    val e = s.persist(pairs.crossJoin(broadcast(tot))
      .filter(col("qty") * col("np") > col("sq")) // qty > mean, fraction-free
      .select(col("src"), col("dst")))
    var r = s.checkpoint(e)
    var n = r.count()
    var grew = true
    var i = 0
    while (grew && i < 10) { // doubling closure: diameter ≤ 2^10
      val nr = s.checkpoint(r.union(
          r.as("a").join(r.as("b"), col("a.dst") === col("b.src"))
            .select(col("a.src"), col("b.dst")))
        .distinct())
      val m = nr.count()
      grew = m != n
      n = m
      s.release(r)
      r = nr
      i += 1
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val mutual = r.as("x")
      .join(r.as("y"), col("x.src") === col("y.dst") && col("x.dst") === col("y.src"))
      .select(col("x.src").as("node"), col("x.dst").as("peer"))
    val scc = nodes.join(mutual, Seq("node"), "left")
      .groupBy(col("node"))
      .agg(min(col("peer")).as("mp"))
      // NULL semantics of least() differ across engines — branch explicitly
      .select(col("node"),
        expr("cast(case when mp is null then node else least(mp, node) end as bigint)")
          .as("scc_id"))
    val out = scc.join(
        scc.groupBy(col("scc_id")).agg(count(lit(1)).as("scc_size")), "scc_id")
      .select(col("node"), col("scc_id"), col("scc_size"))
      .orderBy(col("node"))
    // materialized before the scope releases r and e: the result's own
    // checkpoint is the one kept past the scope
    s.keep(s.checkpoint(out))
  }

  /** Allen's interval algebra census: each user-day activity interval
    * [first event, last event] classified against that day's fixed
    * reference window (10:00–14:00 UTC) into the 13 Allen relations
    * (before/meets/overlaps/starts/during/finishes/equals + inverses)
    * — the temporal-reasoning primitive scheduling and
    * session-overlap analytics are built from, reduced to pure
    * integer endpoint comparisons (unix micros; a CASE ladder ordered
    * so each relation is reached exactly when its definition holds).
    * One scan into user-day min/max; the census output is
    * relation-domain bounded (≤13 rows).
    */
  def allenRelationsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val iv = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(min(expr("unix_micros(ts)")).as("s1"), max(expr("unix_micros(ts)")).as("e1"))
      .withColumn("s2", expr("day * 86400000000 + 36000000000"))  // 10:00
      .withColumn("e2", expr("day * 86400000000 + 50400000000")) // 14:00
    val rel = expr("""case
      when s1 = s2 and e1 = e2 then 'equals'
      when e1 < s2 then 'before'
      when e2 < s1 then 'after'
      when e1 = s2 then 'meets'
      when e2 = s1 then 'met_by'
      when s1 = s2 and e1 < e2 then 'starts'
      when s1 = s2 and e1 > e2 then 'started_by'
      when e1 = e2 and s1 > s2 then 'finishes'
      when e1 = e2 and s1 < s2 then 'finished_by'
      when s1 > s2 and e1 < e2 then 'during'
      when s1 < s2 and e1 > e2 then 'contains'
      when s1 < s2 and e1 < e2 then 'overlaps'
      else 'overlapped_by' end""")
    iv.select(rel.as("relation"))
      .groupBy(col("relation")).agg(count(lit(1)).as("n"))
      .orderBy(col("relation"))
  }

  /** Expected Reciprocal Rank over the 50-probe label-retrieval eval
    * ([[ndcgQ]]'s setup, graded): grade 3 = exact label match, 1 =
    * adjacent label, 0 otherwise; the cascade model
    * ERR = Σᵣ (1/r)·Rᵣ·Π_{i<r}(1−Rᵢ) with R = (2^g−1)/8 is DYADIC, so
    * the whole sum is closed-form exact over the denominator 8⁵·60 —
    * the top-5 grades pivot into five integer columns and the chain of
    * stop-probabilities is plain arithmetic (no fold, no float, no
    * log). The corpus-sized work is the one broadcast top-5 retrieval
    * pass shared with the other rank metrics.
    */
  def errQ(spark: SparkSession, sfDir: String): DataFrame = {
    val graded = probeRanks(normEmbeddings(spark, sfDir))
      .filter(col("rnk") <= 5)
      .withColumn("g", expr("""case when n_label = true_label then 3
        when abs(n_label - true_label) = 1 then 1 else 0 end"""))
    def rn(i: Int) = s"(case g$i when 3 then 7 when 1 then 1 else 0 end)"
    val gCols = (1 to 5).map(i =>
      max(when(col("rnk") === i, col("g")).otherwise(lit(-1))).as(s"g$i"))
    graded.groupBy(col("query_id"))
      .agg(gCols.head, gCols.tail: _*)
      .select(col("query_id"),
        expr(s"""(
          ${rn(1)} * 60 * 4096
          + (8 - ${rn(1)}) * ${rn(2)} * 30 * 512
          + (8 - ${rn(1)}) * (8 - ${rn(2)}) * ${rn(3)} * 20 * 64
          + (8 - ${rn(1)}) * (8 - ${rn(2)}) * (8 - ${rn(3)}) * ${rn(4)} * 15 * 8
          + (8 - ${rn(1)}) * (8 - ${rn(2)}) * (8 - ${rn(3)}) * (8 - ${rn(4)}) * ${rn(5)} * 12
        ) * cast(1000000 as bigint) div 1966080""").as("err_e6"))
      .orderBy(col("query_id"))
  }

  /** Borda-count rank aggregation of three part rankings (shipped
    * quantity, revenue, distinct orders): each list is a top-50
    * TakeOrdered shortlist, a part scores Σ(51 − rank) over the lists
    * it appears in (absent = 0 — the truncated-Borda convention), and
    * the fused top-20 ships with per-list ranks for audit. The fusion
    * input is ≤150 rows regardless of corpus size; the three ranking
    * passes share ONE (part → qty, rev, orders) aggregate scan. The
    * voting-theory sibling of [[rrfQ]] (reciprocal) and [[rboQ]]
    * (agreement).
    */
  def bordaQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(expr("cast(round(l_quantity, 0) as long)")).as("qty"),
        sum(cents(col("l_extendedprice")).cast("long")).as("rev"),
        countDistinct(col("l_orderkey")).as("nord"))
    def top50(by: Column, name: String): DataFrame = {
      val short = li.orderBy(by.desc, col("pk")).limit(50)
      short.withColumn(name, row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(graft.functions.GraftFunctions.singleton_key(col("pk")))
          .orderBy(by.desc, col("pk"))).cast("long"))
        .select(col("pk"), col(name))
    }
    top50(col("qty"), "r_qty")
      .join(top50(col("rev"), "r_rev"), Seq("pk"), "outer")
      .join(top50(col("nord"), "r_ord"), Seq("pk"), "outer")
      .select(col("pk"), col("r_qty"), col("r_rev"), col("r_ord"),
        (coalesce(lit(51L) - col("r_qty"), lit(0L))
          + coalesce(lit(51L) - col("r_rev"), lit(0L))
          + coalesce(lit(51L) - col("r_ord"), lit(0L))).as("borda"))
      .orderBy(col("borda").desc, col("pk")).limit(20)
  }

  /** Two-step Huber M-estimator of the daily-volume trend — the
    * middle ground between OLS ([[linregQ]], 0% breakdown) and
    * Theil–Sen ([[theilSenQ]], pair join): an exact-integer OLS pass,
    * residual scale σ̂ = √(SSR/(n−2)) through the correctly-rounded
    * IEEE sqrt (identical on both engines over exact integer inputs),
    * Huber weights w = min(1, 1.345σ̂/|r|) held as e6 integers, then
    * ONE weighted-OLS re-fit on exact decimal sufficient statistics.
    * Both passes are calendar-bounded aggregates over the daily count
    * table; the corpus-scan is the daily aggregate itself.
    */
  def huberQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("xd"))
      .agg(count(lit(1)).as("y"))
    val d0 = daily.groupBy().agg(min(col("xd")).as("x0"))
    val d = daily.crossJoin(broadcast(d0))
      .select((col("xd") - col("x0")).as("x"), col("y"))
    val s1 = d.groupBy()
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("x")).cast(d38).as("sx"), sum(col("y")).cast(d38).as("sy"),
        sum(col("x") * col("x")).cast(d38).as("sxx"),
        sum(col("x") * col("y")).cast(d38).as("sxy"))
      .select(col("n"), col("sx"), col("sy"),
        expr("(n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)").as("slope_ols_e6"),
        expr("""((sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx) * 1000000)
                div (n * (n * sxx - sx * sx))""").as("icept_ols_e6"))
    val withR = d.crossJoin(broadcast(s1))
      .withColumn("r_e6", expr("y * 1000000 - (slope_ols_e6 * x + icept_ols_e6)"))
    val sigma = withR.groupBy()
      .agg(expr("""cast(floor(1345.0 * sqrt(
          cast(sum(cast(r_e6 as decimal(38,0)) * r_e6) as double)
          / (count(1) - 2)) / 1000.0) as bigint)""").as("k_e6"))
    val weighted = withR.crossJoin(broadcast(sigma))
      .withColumn("w_e6",
        expr("least(cast(1000000 as bigint), k_e6 * 1000000 div abs(nullif(r_e6, 0)))"))
      .withColumn("w_e6", coalesce(col("w_e6"), lit(1000000L))) // zero residual → full weight
    val s2 = weighted.groupBy()
      .agg(sum(col("w_e6")).cast(d38).as("sw"),
        sum(col("w_e6") * col("x")).cast(d38).as("swx"),
        sum(col("w_e6") * col("y")).cast(d38).as("swy"),
        sum(col("w_e6") * col("x") * col("x")).cast(d38).as("swxx"),
        sum(col("w_e6") * col("x") * col("y")).cast(d38).as("swxy"),
        sum(when(col("w_e6") < 1000000L, 1L).otherwise(0L)).as("n_downweighted"),
        count(lit(1)).as("n_days"))
    s2.crossJoin(broadcast(s1.select(col("slope_ols_e6"), col("icept_ols_e6"))))
      .select(col("n_days"), col("n_downweighted"),
        col("slope_ols_e6"), col("icept_ols_e6"),
        expr("(sw * swxy - swx * swy) * 1000000 div (sw * swxx - swx * swx)")
          .as("slope_huber_e6"),
        expr("""((swy * (sw * swxx - swx * swx) - (sw * swxy - swx * swy) * swx)
                * 1000000) div (sw * (sw * swxx - swx * swx))""").as("icept_huber_e6"))
  }

  /** Tukey median polish of the region × segment revenue table — the
    * robust two-way decomposition (grand + row + column + residual)
    * that survives the outlier cells classical two-way ANOVA means get
    * dragged by. Two full iterations of alternating row/column median
    * sweeps on values PRE-SCALED by 16: each even-count median halves
    * at worst once per sweep, so after 4 sweeps every value is still
    * an exact integer — the median doubles are exactly representable
    * and cast identically on both engines (the 2×-median trick,
    * compounded). The fact scan is one (region, segment) cents
    * aggregate; the polish runs on the bounded 25-cell grid. Residual
    * magnitude flags the anomalous (region, segment) market cells.
    */
  def medianPolishQ(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_regionkey").as("region"), col("c_mktsegment").as("seg"))
      .agg(sum(cents(col("l_extendedprice")).cast("long")).as("v"))
    def rowSweep(t: DataFrame): DataFrame = {
      val rm = t.groupBy(col("region"))
        .agg(expr("cast(percentile(r, 0.5) as bigint)").as("rm"))
      t.join(broadcast(rm), "region")
        .select(col("region"), col("seg"), (col("r") - col("rm")).as("r"))
    }
    def colSweep(t: DataFrame): DataFrame = {
      val cm = t.groupBy(col("seg"))
        .agg(expr("cast(percentile(r, 0.5) as bigint)").as("cm"))
      t.join(broadcast(cm), "seg")
        .select(col("region"), col("seg"), (col("r") - col("cm")).as("r"))
    }
    val start = cells.select(col("region"), col("seg"), (col("v") * 16L).as("r"))
    val resid = colSweep(rowSweep(colSweep(rowSweep(start))))
    cells.join(resid, Seq("region", "seg"))
      .select(col("region"), col("seg"), col("v").as("cents"),
        col("r").as("resid_c16"),
        (col("v") * 16L - col("r")).as("fitted_c16"))
      .orderBy(col("region"), col("seg"))
  }

  /** Chapman capture–recapture estimate of the active-user population
    * per weekday: capture list = users who clicked, recapture list =
    * users who purchased; N̂ = (n₁+1)(n₂+1)/(m+1) − 1 (the
    * bias-corrected Lincoln–Petersen, always defined). The canonical
    * "how many users does this product REALLY have" estimator when
    * neither instrumentation stream sees everyone. One scan into
    * per-(dow, user) flags, then weekday-bounded counts.
    */
  def captureRecaptureQ(spark: SparkSession, sfDir: String): DataFrame = {
    val u = Tables.events(spark, sfDir)
      .groupBy(expr("(unix_micros(ts) div 86400000000) % 7").as("dow"), col("user_id"))
      .agg(max(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c2"))
    u.groupBy(col("dow"))
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(col("c1") * col("c2")).as("m"),
        countDistinct(col("user_id")).as("n_observed"))
      .select(col("dow"), col("n1"), col("n2"), col("m"), col("n_observed"),
        expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1").as("chapman"))
      .orderBy(col("dow"))
  }

  /** Moving-average type–token ratio (MATTR, window = 50 tokens) per
    * language — the length-invariant lexical-diversity measure (plain
    * TTR collapses as documents grow; windowed TTR doesn't): each
    * document's token stream is cut into 50-token segments, distinct/
    * total per full segment, averaged per language at e6. The whole
    * computation is one narrow tokenize → (doc, segment, token) counts
    * — map-side-combinable aggregates keyed by doc, nothing
    * vocab-global anywhere.
    */
  def mattrQ(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"),
        posexplode(graft.ops.TextOps.words(lower(col("text")))).as(Seq("pos", "tok")))
      .withColumn("segm", expr("pos div 50"))
    val segSize = toks.groupBy(col("lang"), col("doc_id"), col("segm"))
      .agg(count(lit(1)).as("n_tok"), countDistinct(col("tok")).as("n_type"))
      .filter(col("n_tok") === 50) // full windows only (MATTR convention)
    segSize.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_windows"),
        expr("sum(n_type * 1000000) div (count(1) * 50)").as("mattr_e6"))
      .orderBy(col("lang"))
  }

  /** Partial autocorrelation (lags 1–3) of the daily event volume via
    * the Durbin–Levinson recursion over [[acfQ]]'s exact integer
    * autocovariance numerators: r_k = num_k/(n·sxx − s²) enters as a
    * double RATIO of exact integers, and φ₁₁, φ₂₂, φ₃₃ are the
    * identical (−, ×, ÷)-only expressions on both engines, floored at
    * e6 ([[partialCorrQ]]'s rule — every operation is correctly
    * rounded IEEE, no ln/exp anywhere). PACF is THE lag-selection
    * readout an AR modeler wants next to [[acfQ]]/[[ar1Q]]. The only
    * data-sized work is the daily aggregate + three lag joins on the
    * calendar-bounded day table.
    */
  def pacfQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = dailyCounts(spark, sfDir)
    val g = daily.groupBy().agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum(expr("cast(x as decimal(38,0))") * col("x")).as("sxx"))
    val spine = broadcast(
      daily.sparkSession.range(1, 4).select(col("id").as("lag")))
    val a = daily.select(col("d"), col("x").as("xa"))
    val b = daily.select(col("d").as("db"), col("x").as("xb"))
    val nums = a.crossJoin(spine)
      .join(b, col("db") === col("d") + col("lag"))
      .crossJoin(broadcast(g))
      .select(col("lag"),
        ((col("n") * col("xa") - col("s")).cast(d38)
          * (col("n") * col("xb") - col("s")).cast(d38)).as("term"),
        col("n"), col("s"), col("sxx"))
      .groupBy(col("n"), col("s"), col("sxx"))
      .agg(sum(when(col("lag") === 1, col("term"))).as("m1"),
        sum(when(col("lag") === 2, col("term"))).as("m2"),
        sum(when(col("lag") === 3, col("term"))).as("m3"))
    def r(i: Int) =
      s"(cast(m$i as double) / cast(n * sxx - cast(s as $d38) * s as double))"
    val (r1, r2, r3) = (r(1), r(2), r(3))
    nums.select(col("n").as("n_days"),
      expr(s"cast(floor(1000000.0 * $r1) as bigint)").as("phi11_e6"),
      expr(s"""cast(floor(1000000.0 *
          (($r2 - $r1 * $r1) / (1.0 - $r1 * $r1))) as bigint)""").as("phi22_e6"),
      expr(s"""cast(floor(1000000.0 * (
          ($r3
            - ($r1 * (1.0 - (($r2 - $r1 * $r1) / (1.0 - $r1 * $r1)))) * $r2
            - (($r2 - $r1 * $r1) / (1.0 - $r1 * $r1)) * $r1)
          / ((1.0 - $r1 * $r1)
             * (1.0 - (($r2 - $r1 * $r1) / (1.0 - $r1 * $r1))
                    * (($r2 - $r1 * $r1) / (1.0 - $r1 * $r1))))
        )) as bigint)""").as("phi33_e6"))
  }

  /** Markov removal-effect attribution — the channel-attribution model
    * that replaces last-touch heuristics ([[attributionQ]]) with a
    * first-order journey chain: user journeys (truncated at first
    * purchase) become start→…→conv/null transition counts; conversion
    * probability from `start` is solved by 25 rounds of integer value
    * iteration at e9 (p(s) ← Σ cnt(s,s′)·p(s′) div out(s) — truncating
    * division, bit-identical on both engines); each channel's removal
    * effect re-solves the chain with transitions INTO that channel
    * redirected to null (same denominators — the standard removal
    * semantics), and attribution shares normalize the effects. The
    * corpus-sized work is ONE windowed scan into the state-domain²
    * transition table (≤36 rows); the chain solve runs on the driver
    * over that model-sized table, exactly like the BPE merge list.
    */
  def removalEffectQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val seq0 = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("prior_conv", sum(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      // journey ends at first purchase; the empty preceding frame is NULL
      .filter(coalesce(col("prior_conv"), lit(0L)) === 0)
      .withColumn("st", when(col("event_type") === "purchase", lit("conv"))
        .otherwise(col("event_type")))
    val seq = seq0
      .withColumn("ord", row_number().over(w))
      .withColumn("nxt", lead(col("st"), 1).over(w))
    val starts = seq.filter(col("ord") === 1)
      .select(lit("start").as("src"), col("st").as("dst"))
    val steps = seq.filter(col("st") =!= "conv")
      .select(col("st").as("src"), coalesce(col("nxt"), lit("null")).as("dst"))
    val trans = starts.union(steps)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
    // ---- model-sized driver solve (state domain ≤ 7) ----
    val t = trans.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val out = t.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val states = t.map(_._1).distinct.sorted
    def solve(excluded: Option[String]): Long = {
      var p = states.map(_ -> 0L).toMap + ("conv" -> 1000000000L) + ("null" -> 0L)
      for (_ <- 1 to 25) {
        val next = states.map { s =>
          val num = t.iterator
            .filter(e => e._1 == s && !excluded.contains(e._2))
            .map(e => e._3 * p(e._2)).sum
          s -> (if (out(s) == 0L) 0L else num / out(s))
        }.toMap
        p = p ++ next
      }
      p.getOrElse("start", 0L)
    }
    val pFull = solve(None)
    val pF = math.max(pFull, 1L) // degenerate no-conversion chain guard
    val channels = states.filter(s => s != "start").sorted
    val effects = channels.map(c => (c, pFull - solve(Some(c))))
    val sumRe = math.max(effects.map(_._2).sum, 1L)
    import spark.implicits._
    effects.toSeq.map { case (c, re) =>
      (c, pFull, pFull - re,
        re * 1000000L / pF,
        re * 1000000L / sumRe)
    }.toDF("channel", "p_full_e9", "p_removed_e9", "removal_effect_e6", "attribution_e6")
      .orderBy(col("channel"))
  }

  /** Benjamini–Hochberg multiple-testing correction over the per-type
    * permutation tests: each event type gets the [[permutationTestQ]]
    * treatment (|even − odd user mean-spend gap| vs 200 portable-hash
    * pseudo-splits, +1-smoothed p at e6), then the 5-hypothesis family
    * is corrected — Bonferroni (p·m ≤ α) and BH step-up (largest k
    * with p₍ₖ₎·m ≤ k·α, all ranks ≤ k rejected), both in pure integer
    * comparisons at α = 0.05. THE guard against "we ran twenty A/B
    * readouts and one came up significant". The spine cross-join is
    * the only data-sized pass (|user-type rows|·200 narrow map-side
    * work); the correction runs on the type-domain-bounded p table
    * via a bounded self-join (no singleton window).
    */
  def fdrBhQ(spark: SparkSession, sfDir: String): DataFrame = {
    val p = eventPermCounts(spark, sfDir)
      .select(col("event_type"), col("obs_e3"), col("n_ge"),
        expr("1000000 * (1 + n_ge) div 201").as("p_e6"))
    val m = p.groupBy().agg(count(lit(1)).as("m"))
    // rank p ascending via bounded self-join (ties by type name)
    val ranked = p.as("x").join(p.select(col("event_type").as("et2"),
        col("p_e6").as("p2")).as("y"),
        col("y.p2") < col("x.p_e6")
          || (col("y.p2") === col("x.p_e6") && col("y.et2") < col("x.event_type")),
        "left")
      .groupBy(col("x.event_type").as("event_type"), col("x.obs_e3").as("obs_e3"),
        col("x.n_ge").as("n_ge"), col("x.p_e6").as("p_e6"))
      .agg((count(col("y.et2")) + 1L).as("rnk"))
      .crossJoin(broadcast(m))
    // BH step-up: k* = max rank with p·m ≤ rank·alpha (alpha_e6 = 50000)
    val kStar = ranked.filter(col("p_e6") * col("m") <= col("rnk") * 50000L)
      .groupBy().agg(coalesce(max(col("rnk")), lit(0L)).as("k_star"))
    ranked.crossJoin(broadcast(kStar))
      .select(col("event_type"), col("obs_e3"), col("n_ge"), col("p_e6"),
        col("rnk"), col("m"),
        (col("p_e6") * col("m") <= 50000L).as("reject_bonferroni"),
        (col("rnk") <= col("k_star")).as("reject_bh"))
      .orderBy(col("event_type"))
  }

  /** Placebo (permutation) test for [[didQ]]'s
    * difference-in-differences — the falsification check every DiD
    * readout owes its reader: reassign "treatment" 200 times by
    * portable hash (the [[permutationTestQ]] spine) and ask how often
    * a PLACEBO assignment produces an absolute DiD at least as large
    * as the real even/odd split's. Per-user pre/post purchase sums
    * aggregate ONCE; each placebo round is then a 4-cell reduce over
    * the user support with exact cents·10⁴ cell means, identical
    * integer arithmetic to didQ. One data-sized scan; the 200-round
    * grid rides the user table.
    */
  def placeboTestQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("d"),
        cents(col("value")).cast("long").as("cts"))
    val mid = ev.groupBy().agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(expr("(d0 + d1) div 2").as("mid"))
    val u = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"), (col("d") > col("mid")).as("post"))
      .agg(sum(col("cts")).as("s"), count(lit(1)).as("n"))
    def didOf(df: DataFrame, key: Seq[Column]): DataFrame = df
      .groupBy(key: _*)
      .agg(max(when(col("treated") && !col("post"), col("m_e6"))).as("tp"),
        max(when(col("treated") && col("post"), col("m_e6"))).as("tq"),
        max(when(!col("treated") && !col("post"), col("m_e6"))).as("cp"),
        max(when(!col("treated") && col("post"), col("m_e6"))).as("cq"))
      .withColumn("did_e6",
        (col("tq") - col("tp")) - (col("cq") - col("cp")))
    val obs = didOf(u.groupBy((col("user_id") % 2 === 0).as("treated"), col("post"))
        .agg(sum(col("s")).as("ss"), sum(col("n")).as("nn"))
        .select(col("treated"), col("post"), expr("ss * 10000 div nn").as("m_e6")),
      Seq.empty)
      .select(col("did_e6").as("obs_did_e6"))
    val spine = ev.sparkSession.range(1, 201).select(col("id").as("r"))
    val perm = didOf(u.crossJoin(broadcast(spine))
        .groupBy(col("r"), (graft.ops.TextOps.portableHash64(
          concat(col("user_id").cast("string"), lit(":"), col("r").cast("string")))
          % 2 === 0).as("treated"), col("post"))
        .agg(sum(col("s")).as("ss"), sum(col("n")).as("nn"))
        .select(col("r"), col("treated"), col("post"),
          expr("ss * 10000 div nn").as("m_e6")),
      Seq(col("r")))
    perm.crossJoin(broadcast(obs))
      .groupBy(col("obs_did_e6"))
      .agg(sum(when(abs(col("did_e6")) >= abs(col("obs_did_e6")), 1L)
        .otherwise(0L)).as("n_ge"))
      .select(col("obs_did_e6"), col("n_ge"),
        expr("1000000 * (1 + n_ge) div 201").as("p_e6"),
        lit(200L).as("n_perm"))
  }

  /** Holm-Bonferroni step-down correction over the per-event-type
    * permutation p-values — the uniformly-more-powerful replacement
    * for plain Bonferroni that still controls FWER with NO independence
    * assumption (the [[fdrBhQ]] sibling: BH controls FDR, Holm
    * controls the stricter family-wise error): the same 200-round
    * hash-permutation p per type, ranks by the bounded self-join, the
    * step-down adjusted p as a running max of (m−rank+1)·p over the
    * ≤-rank prefix (another bounded self-join — the family is
    * value-support-sized), capped at 1. Rejection at α = 0.05.
    */
  def holmBonferroniQ(spark: SparkSession, sfDir: String): DataFrame = {
    val p = eventPermCounts(spark, sfDir)
      .select(col("event_type"), col("obs_e3"),
        expr("1000000 * (1 + n_ge) div 201").as("p_e6"))
    val m = p.groupBy().agg(count(lit(1)).as("m"))
    val ranked = rankByP(p)
      .crossJoin(broadcast(m))
    // step-down adjusted p: running max of (m−rnk+1)·p over the prefix
    val rk = ranked.select(col("event_type").as("et3"), col("p_e6").as("p3"),
      col("rnk").as("rnk3"))
    ranked.as("x").join(rk.as("y"), col("y.rnk3") <= col("x.rnk"))
      .groupBy(col("x.event_type").as("event_type"), col("x.obs_e3").as("obs_e3"),
        col("x.p_e6").as("p_e6"), col("x.rnk").as("rnk"), col("x.m").as("m"))
      .agg(max((col("x.m") - col("y.rnk3") + 1) * col("y.p3")).as("adjraw"))
      .select(col("event_type"), col("obs_e3"), col("p_e6"), col("rnk"), col("m"),
        least(col("adjraw"), lit(1000000L)).as("holm_adj_e6"),
        (least(col("adjraw"), lit(1000000L)) <= 50000L).as("reject_holm"))
      .orderBy(col("event_type"))
  }

  /** VanderWeele-Ding E-value for [[oddsRatioQ]]'s per-region
    * Haldane-corrected odds ratio — "how strong would an unmeasured
    * confounder have to be (on the risk-ratio scale, with BOTH
    * exposure and outcome) to explain this association away?": the
    * closed form E = OR* + √(OR*·(OR*−1)) on the ≥1-directed ratio
    * (inverted when OR < 1), with the single √ the only non-integer
    * op — IEEE sqrt is correctly rounded, so both engines agree
    * bit-for-bit on the e6-floored value. A model-sized readout over
    * the same 2×2 cells.
    */
  def evalueQ(spark: SparkSession, sfDir: String): DataFrame = {
    regionUrgentTable(spark, sfDir)
      .select(col("region"),
        expr("(2*a+1) * (2*d+1) * 1000000 div ((2*b+1) * (2*c+1))")
          .as("or_haldane_e6"))
      .select(col("region"), col("or_haldane_e6"),
        expr("""case when or_haldane_e6 >= 1000000 then or_haldane_e6
               else 1000000000000 div or_haldane_e6 end""").as("or_dir_e6"))
      .select(col("region"), col("or_haldane_e6"), col("or_dir_e6"),
        expr("""or_dir_e6 + cast(floor(sqrt(cast(or_dir_e6 as double)
               * (or_dir_e6 - 1000000))) as bigint)""").as("evalue_e6"))
      .orderBy(col("region"))
  }

  /** Embedding-distribution drift per label: the quantized-mean gap
    * between split A (even vec_ids) and split B (odd) — the monitor an
    * embedding pipeline runs between two model versions or two ingest
    * windows before ANN indexes are rebuilt. Every element is
    * quantized to an e6 integer FIRST, so the per-(label, dim) sums
    * are exact order-free integers (float accumulation order never
    * enters — the [[acfQ]] discipline applied element-wise), the
    * per-dim mean gap is one truncating division, and the readout is
    * Σ gap² (e12 squared-L2 of the mean shift) plus the worst dim by
    * |gap| (deterministic argmin struct). One posexplode scan into a
    * (label × dim)-bounded aggregate — scales in |vectors| only.
    */
  def embedDriftQ(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label"), col("dim"),
        floor(col("x").cast("double") * lit(1000000.0)).cast("long").as("qx"))
    val byDim = q.groupBy(col("label"), col("dim"))
      .agg(sum(when(col("vec_id") % 2 === 0, col("qx"))).as("sA"),
        sum(when(col("vec_id") % 2 === 1, col("qx"))).as("sB"),
        sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("nA"),
        sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("nB"))
      .select(col("label"), col("dim"), col("nA"), col("nB"),
        expr("""(cast(sA as decimal(38,0)) * nB - cast(sB as decimal(38,0)) * nA)
                div (cast(nA as decimal(38,0)) * nB)""").as("gap_e6"))
    byDim.groupBy(col("label"))
      .agg(max(col("nA")).as("n_a"), max(col("nB")).as("n_b"),
        sum(col("gap_e6") * col("gap_e6")).as("l2_gap_e12"),
        min(struct((-abs(col("gap_e6"))).as("na"), col("dim"))).as("worst"))
      .select(col("label"), col("n_a"), col("n_b"), col("l2_gap_e12"),
        col("worst.dim").cast("long").as("worst_dim"),
        (-col("worst.na")).as("worst_gap_abs_e6"))
      .orderBy(col("label"))
  }

  /** Depth-2 CART over the [[stumpQ]] feature set: the exact-χ² best
    * root split (argmax over both features' value supports), then the
    * best split WITHIN each child — the first real decision tree, and
    * the shape that shows split search parallelizes by (node, feature)
    * with zero driver iteration: the root choice is a one-row
    * broadcast, the child searches are the same cumulative-count
    * window keyed by (leaf, feature). All χ² values are
    * fraction-cleared exact integers at e6; argmaxes tiebreak by
    * (feature, value) deterministically.
    */
  def tree2Q(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, sfDir).select(
      (col("lang") === "en").as("pos"),
      col("n_chars").as("f_chars"),
      size(graft.ops.TextOps.words(col("text"))).cast("long").as("f_words"))
    def long(df: DataFrame): DataFrame =
      df.select(col("node"), lit("n_chars").as("feature"), col("f_chars").as("v"), col("pos"))
        .union(df.select(col("node"), lit("n_words").as("feature"), col("f_words").as("v"), col("pos")))
    def bestSplits(rows: DataFrame): DataFrame = {
      // per (node, feature): exact-χ² argmax over the value support
      val pv = rows.groupBy(col("node"), col("feature"), col("v"))
        .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("p"),
          sum(when(!col("pos"), 1L).otherwise(0L)).as("q"))
      val w = Window.partitionBy(col("node"), col("feature")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val tot = pv.groupBy(col("node"), col("feature"))
        .agg(sum(col("p")).as("pt"), sum(col("q")).as("qt"))
      pv.withColumn("a", sum(col("p")).over(w))
        .withColumn("b", sum(col("q")).over(w))
        .join(tot, Seq("node", "feature"))
        .withColumn("nl", col("a") + col("b"))
        .withColumn("nr", col("pt") + col("qt") - col("nl"))
        // a PURE node (pt or qt = 0) cannot split — it emits no row
        .filter(col("nr") > 0 && col("nl") > 0 && col("pt") > 0 && col("qt") > 0)
        .withColumn("det", col("a") * col("qt") - col("b") * col("pt"))
        .withColumn("chi2_e6", expr(
          """(cast(det as decimal(38,0)) * det * (pt + qt) * 1000000)
             div (cast(pt as decimal(38,0)) * qt * nl * nr)"""))
        .groupBy(col("node"))
        .agg(min(struct((-col("chi2_e6")).as("ns"), col("feature"), col("v"),
          col("a"), col("b"), col("pt"), col("qt"))).as("best"))
        .select(col("node"), col("best.feature").as("feature"),
          col("best.v").as("threshold"), (-col("best.ns")).as("chi2_e6"),
          col("best.a").as("pos_le"), col("best.b").as("neg_le"),
          (col("best.pt") - col("best.a")).as("pos_gt"),
          (col("best.qt") - col("best.b")).as("neg_gt"))
    }
    val root = bestSplits(long(d.withColumn("node", lit("root"))))
    val leaves = d.crossJoin(broadcast(
        root.select(col("feature").as("rf"), col("threshold").as("rt"))))
      .withColumn("node",
        when(expr("case rf when 'n_chars' then f_chars else f_words end") <= col("rt"),
          lit("leaf_le")).otherwise(lit("leaf_gt")))
    root.unionAll(bestSplits(long(leaves))).orderBy(col("node"))
  }

  /** Off-policy evaluation (IPS / SNIPS / direct) of the "recommend
    * each cohort its historically best action" policy: propensities
    * and the target policy are FIT on even epoch-days, the odd days
    * are the held-out logged feedback, and the estimators reweight
    * matched events by the inverse empirical propensity (e6 integer
    * weights, one truncating division per cohort — cross-cohort
    * aggregation keeps IPS ≠ SNIPS ≠ direct). The counterfactual
    * "what would the new policy have earned" readout every
    * recommendation team needs before an A/B. Corpus-sized work: two
    * (cohort, action) aggregates; everything else is cohort-bounded.
    */
  def ipsEvalQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select((col("user_id") % 4).as("cohort"), col("event_type").as("a"),
        cents(col("value")).cast("long").as("r"),
        (expr("unix_micros(ts) div 86400000000") % 2 === 0).as("fit"))
    val fitAgg = ev.filter(col("fit"))
      .groupBy(col("cohort"), col("a"))
      .agg(count(lit(1)).as("cnt"), sum(col("r")).as("sr"))
    val nFit = fitAgg.groupBy(col("cohort")).agg(sum(col("cnt")).as("n_fit"))
    val pi = fitAgg
      .withColumn("mean_e6", expr("sr * 1000000 div cnt"))
      .groupBy(col("cohort"))
      .agg(min(struct((-col("mean_e6")).as("nm"), col("a"), col("cnt"))).as("best"))
      .select(col("cohort"), col("best.a").as("pi_a"), col("best.cnt").as("cnt_pi"))
    val weights = pi.join(nFit, "cohort")
      .withColumn("w_e6", expr("n_fit * 1000000 div cnt_pi"))
    val eval0 = ev.filter(!col("fit"))
    val nEval = eval0.groupBy().agg(count(lit(1)).as("n_eval"))
    val matched = eval0.join(broadcast(weights), "cohort")
      .filter(col("a") === col("pi_a"))
      .groupBy()
      .agg(count(lit(1)).as("n_match"), sum(col("r")).as("sum_r_cents"),
        sum(col("r") * col("w_e6")).as("srw"), sum(col("w_e6")).as("sw"))
    matched.crossJoin(broadcast(nEval))
      .select(col("n_eval"), col("n_match"), col("sum_r_cents"),
        expr("srw div (n_eval * 10000)").as("ips_cents_e2"),
        expr("srw * 100 div sw").as("snips_cents_e2"),
        expr("sum_r_cents * 100 div n_match").as("dm_cents_e2"))
  }

  /** Disparate-impact (four-fifths rule) audit across market segments:
    * selection = the customer placed ≥ 1 URGENT order; each segment's
    * selection rate is compared to the most-selected segment's, and
    * a ratio below 0.8 flags adverse impact — the standard fairness
    * screen a model-governance review runs on any selection-like
    * outcome. All rates and ratios are truncating e6 integers; the
    * reference group is a 1-row broadcast max. One customer scan plus
    * one DISTINCT over urgent orderers; output is group-domain bounded.
    */
  def disparateImpactQ(spark: SparkSession, sfDir: String): DataFrame = {
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey")).distinct()
    val rates = Tables.customer(spark, sfDir)
      .join(urgent.withColumn("sel", lit(1L)), Seq("c_custkey"), "left")
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"), sum(coalesce(col("sel"), lit(0L))).as("selected"))
      .withColumn("rate_e6", expr("selected * 1000000 div n"))
    val ref = rates.groupBy().agg(max(col("rate_e6")).as("max_rate_e6"))
    rates.crossJoin(broadcast(ref))
      .select(col("segment"), col("n"), col("selected"), col("rate_e6"),
        expr("rate_e6 * 1000000 div max_rate_e6").as("di_ratio_e6"),
        (col("rate_e6") - col("max_rate_e6")).as("parity_diff_e6"))
      .withColumn("adverse_impact", col("di_ratio_e6") < 800000L)
      .orderBy(col("segment"))
  }

  /** Wilcoxon signed-rank test of per-user spend between the first and
    * second half of the observation window — the PAIRED sibling of
    * [[mannwhitneyQ]] (same user, two periods; zero diffs dropped per
    * the standard treatment): |diff| midranks walk the distinct-|diff|
    * support with DOUBLED midranks (2·cum_before + cnt + 1 — exact
    * integers, the [[effect_size]] Cliff's-delta trick), W⁺/W⁻ are
    * conditional sums over that support, and z² uses the exact
    * integer normal-approximation moments (E[2W⁺] = n(n+1)/2,
    * Var[2W⁺] = n(n+1)(2n+1)/6). Corpus-sized work: one per-(user,
    * half) aggregate; the rank walk lives on the diff-value support
    * (the documented [[mannwhitneyQ]] singleton-window contract).
    */
  def wilcoxonSignedQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
        cents(col("value")).cast("long").as("r"))
    val mid = ev.groupBy().agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    val diffs = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(sum(when(col("day") >= col("mid"), col("r")).otherwise(0L)).as("h2"),
        sum(when(col("day") < col("mid"), col("r")).otherwise(0L)).as("h1"))
      .select((col("h2") - col("h1")).as("d"))
      .filter(col("d") =!= 0)
    val support = diffs.groupBy(abs(col("d")).as("ad"))
      .agg(sum(when(col("d") > 0, 1L).otherwise(0L)).as("pos"),
        count(lit(1)).as("cnt"))
    val w = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("ad")))
      .orderBy(col("ad")).rowsBetween(Window.unboundedPreceding, -1)
    val ranked = support
      .withColumn("cumb", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .select(col("pos"), col("cnt"),
        (lit(2L) * col("cumb") + col("cnt") + 1L).as("mr2"))
    ranked.groupBy()
      .agg(sum(col("cnt")).as("n_pairs"),
        sum(col("pos") * col("mr2")).as("w2_plus"),
        sum((col("cnt") - col("pos")) * col("mr2")).as("w2_minus"))
      .select(col("n_pairs"), col("w2_plus"), col("w2_minus"),
        expr("""(cast(2 * w2_plus - n_pairs * (n_pairs + 1) as decimal(38,0))
                * (2 * w2_plus - n_pairs * (n_pairs + 1)) * 1500000)
                div (cast(n_pairs as decimal(38,0)) * (n_pairs + 1) * (2 * n_pairs + 1))""")
          .as("z2_e6"))
  }

  /** Cramér's V effect size for the language × source contingency
    * table — the magnitude readout next to [[chi2IndepQ]]'s
    * significance cells: χ² summed from the same truncating e6 cell
    * terms (deterministic integer sum — never a float accumulation),
    * then V = √(χ²/(n·(min(r,c)−1))) through the correctly-rounded
    * IEEE sqrt on exact integer operands. One contingency aggregate;
    * everything else is domain-bounded.
    */
  def cramersVQ(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
    val r = o.groupBy(col("lang")).agg(sum(col("o")).as("r"))
    val cm = o.groupBy(col("source")).agg(sum(col("o")).as("c"))
    val n = o.groupBy().agg(sum(col("o")).as("nn"))
    val dims = o.agg(countDistinct(col("lang")).as("r_levels"),
      countDistinct(col("source")).as("c_levels"))
    val cells = broadcast(r).crossJoin(broadcast(cm)).crossJoin(broadcast(n))
      .join(o, Seq("lang", "source"), "left")
      .select(coalesce(col("o"), lit(0L)).as("o"), col("r"), col("c"), col("nn"))
      .select(col("nn"),
        expr("""cast((nn * o - r * c) as decimal(38,0))
                * (nn * o - r * c) * 1000000
                div cast(nn as decimal(38,0)) div (r * c)""").cast("long")
          .as("cell_e6"))
    cells.groupBy(col("nn")).agg(sum(col("cell_e6")).as("chi2_e6"))
      .crossJoin(broadcast(dims))
      .select(col("nn").as("n"), col("r_levels"), col("c_levels"), col("chi2_e6"),
        expr("""cast(floor(1000000.0 * sqrt(cast(chi2_e6 as double)
                / (1000000.0 * cast(nn as double)
                   * (least(r_levels, c_levels) - 1)))) as bigint)""")
          .as("cramers_v_e6"))
  }

  /** DAU / rolling 30-day MAU / stickiness per day — the product
    * health metric every growth dashboard leads with. The rolling
    * distinct is NOT a window distinct (unsupported and unscalable):
    * each (user, day) fact fans out to the ≤30 future days it keeps
    * the user "monthly active" for (a bounded sequence explode), and
    * MAU is then a plain per-day distinct count. Corpus-sized work:
    * one (user, day) distinct; the fan-out factor is the fixed window
    * length, never the data.
    */
  def dauMauQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val days = ud.select(col("day")).distinct()
    val dau = ud.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
    val mau = ud
      .select(col("user_id"), explode(expr("sequence(day, day + 29)")).as("day"))
      .join(days, "day") // only observed days ship
      .groupBy(col("day")).agg(countDistinct(col("user_id")).as("mau"))
    dau.join(mau, "day")
      .select(col("day"), col("dau"), col("mau"),
        expr("dau * 1000000 div mau").as("stickiness_e6"))
      .orderBy(col("day"))
  }

  /** Iterative proportional fitting (raking) of the language × source
    * document table to UNIFORM target margins — the dataset-mixture
    * rebalancing step a training-data pipeline runs when the corpus
    * is lopsided: three rounds of alternating row/column scaling at e6
    * (w ← w·target div margin, truncating — bit-identical on both
    * engines), then the per-cell sampling rate w div (n·…) that a
    * downstream hash-sampler would apply. One contingency scan; the
    * raking runs on the bounded grid.
    */
  def ipfQ(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
    val tot = cells.groupBy().agg(sum(col("n")).as("t"),
      countDistinct(col("lang")).as("nl"), countDistinct(col("source")).as("ns"))
    def rowSweep(t: DataFrame): DataFrame = {
      val rs = t.groupBy(col("lang")).agg(sum(col("w")).as("rsum"))
      t.join(broadcast(rs), "lang")
        .select(col("lang"), col("source"), col("n"), col("rt"), col("ct"),
          expr("cast(w as decimal(38,0)) * rt div rsum").as("w"))
    }
    def colSweep(t: DataFrame): DataFrame = {
      val cs = t.groupBy(col("source")).agg(sum(col("w")).as("csum"))
      t.join(broadcast(cs), "source")
        .select(col("lang"), col("source"), col("n"), col("rt"), col("ct"),
          expr("cast(w as decimal(38,0)) * ct div csum").as("w"))
    }
    val start = cells.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n"),
        expr("t * 1000000 div nl").as("rt"), // uniform row target, e6
        expr("t * 1000000 div ns").as("ct"),
        (col("n") * 1000000L).as("w"))
    val raked = colSweep(rowSweep(colSweep(rowSweep(colSweep(rowSweep(start))))))
    raked
      .select(col("lang"), col("source"), col("n"), col("w").as("w_e6"),
        expr("w div n").as("per_doc_weight_e6"))
      .orderBy(col("lang"), col("source"))
  }

  /** Training-mixture sampling plan: given a token budget of HALF the
    * corpus and a uniform per-language target, how many tokens to take
    * from each language and at what sampling rate — with one
    * redistribution round that reallocates the deficit from
    * under-supplied languages to the remaining capacity (the
    * waterfill step, truncating-proportional). THE planning query
    * before a DSIR/hash-sample pass materializes the mixture. One
    * tokenize scan into per-lang token totals; the plan is
    * lang-domain bounded.
    */
  def mixturePlanQ(spark: SparkSession, sfDir: String): DataFrame = {
    val langTok = Tables.documents(spark, sfDir)
      .select(col("lang"),
        size(graft.ops.TextOps.words(col("text"))).cast("long").as("tok"))
      .groupBy(col("lang")).agg(sum(col("tok")).as("avail"))
    val tot = langTok.groupBy().agg(sum(col("avail")).as("t"),
      count(lit(1)).as("nl"))
    val base = langTok.crossJoin(broadcast(tot))
      .withColumn("want", expr("(t div 2) div nl"))
      .withColumn("take0", least(col("want"), col("avail")))
      .withColumn("spare", col("avail") - col("take0"))
    val agg = base.groupBy()
      .agg(sum(col("want") - col("take0")).as("deficit"),
        sum(col("spare")).as("spare_tot"))
    base.crossJoin(broadcast(agg))
      .withColumn("extra",
        expr("case when spare_tot > 0 then least(spare, deficit * spare div spare_tot) else 0 end"))
      .select(col("lang"), col("avail"), col("want"),
        (col("take0") + col("extra")).as("take"),
        expr("(take0 + extra) * 1000000 div avail").as("rate_e6"))
      .orderBy(col("lang"))
  }

  /** Two-sample Cramér–von Mises statistic per language (sample A =
    * even doc ids, B = odd, value = n_chars) — the INTEGRATED
    * distribution-distance companion to [[ksDriftQ]]'s sup-distance:
    * T = Σ_z (F_A(z) − F_B(z))²·(n_A n_B)/N² evaluated at every
    * observation, computed entirely fraction-free — the CDF gap at
    * each support value is the cross-multiplied integer
    * d = cumA·nB − cumB·nA, and T_e6 = Σ m_v·d_v² · 10⁶ div
    * (N²·nA·nB). Same cumulative support walk as KS (window keyed by
    * lang over the VALUE support); d² is decimal(38)-widened so the
    * statistic survives 10⁵-per-side samples.
    */
  def cvmQ(spark: SparkSession, sfDir: String): DataFrame = {
    langValueCdf(spark, sfDir)
      .withColumn("d", col("fa") * col("nb") - col("fb") * col("na"))
      .groupBy(col("lang"), col("na"), col("nb"))
      .agg(sum(expr("cast(d as decimal(38,0)) * d * (ca + cb)")).as("num"))
      .select(col("lang"), col("na"), col("nb"),
        expr("""cast(num * 1000000
                div (cast(na + nb as decimal(38,0)) * (na + nb) * na * nb)
                as bigint)""").as("cvm_e6"))
      .orderBy(col("lang"))
  }

  /** Two-sample Anderson–Darling per language (same A/B split and
    * value-support walk as [[cvmQ]]) — the tail-weighted member of the
    * EDF-test family (KS = sup, CvM = mean-square, AD = mean-square
    * over F(1−F), which up-weights exactly the tails where length
    * contamination hides): over the pooled n_chars support, each
    * distinct value contributes cnt·(N·FA − J·n_a)²·10⁶ div (J·(N−J))
    * with inclusive pooled cumulative J and A-side cumulative FA —
    * exact integers with ONE truncating division per support value
    * (the fisherExact max-relative-term discipline; both engines run
    * the identical integer op), the final A² summed and div N. The
    * terminal J = N block is excluded (0/0 by construction). One
    * grouped aggregate, one keyed window walk — O(support), never
    * O(n²).
    */
  def andersonDarlingQ(spark: SparkSession, sfDir: String): DataFrame = {
    langValueCdf(spark, sfDir)
      .withColumn("jj", col("fa") + col("fb"))
      .withColumn("nn", col("na") + col("nb"))
      .filter(col("jj") < col("nn"))
      .withColumn("d", col("nn") * col("fa") - col("jj") * col("na"))
      .groupBy(col("lang"), col("na"), col("nb"))
      .agg(sum(expr("""(ca + cb) * cast(d as decimal(38,0)) * d * 1000000
          div (cast(jj as decimal(38,0)) * (nn - jj))""")).as("num"))
      .select(col("lang"), col("na"), col("nb"),
        expr("cast(num div (na + nb) as bigint)").as("ad_e6"))
      .orderBy(col("lang"))
  }

  /** Two-sample energy distance per language (same A/B split as
    * [[cvmQ]]): D² = 2·E|X−Y| − E|X−X′| − E|Y−Y′|, with every pairwise
    * absolute-difference SUM computed in closed form from ONE
    * cumulative walk over the value support — Σᵢⱼ|xᵢ−yⱼ| =
    * Σ_v [ca_v·(v·CB_v − SB_v) + cb_v·(v·CA_v − SA_v)] over EXCLUSIVE
    * opposite-side cumulative counts/sums (and same-side for the
    * within terms) — O(support), never O(n²), all exact integers.
    * The metric-space two-sample test that catches mean AND shape
    * shifts KS can miss; zero float anywhere until the final e6 floor.
    */
  def energyDistQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pv = langValueSupport(spark, sfDir)
    val w = Window.partitionBy(col("lang")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1) // EXCLUSIVE cumulative
    val tot = langValueTotals(pv)
    // distinct names for the cumulatives: withColumn("cA", ...) would
    // case-insensitively OVERWRITE the ca count column
    val cum = pv
      .withColumn("cum_a", coalesce(sum(col("ca")).over(w), lit(0L)))
      .withColumn("cum_b", coalesce(sum(col("cb")).over(w), lit(0L)))
      .withColumn("sum_a", coalesce(sum(col("v") * col("ca")).over(w), lit(0L)))
      .withColumn("sum_b", coalesce(sum(col("v") * col("cb")).over(w), lit(0L)))
    val sums = cum.groupBy(col("lang"))
      .agg(
        sum(expr("cast(ca as decimal(38,0)) * (v * cum_b - sum_b) + cast(cb as decimal(38,0)) * (v * cum_a - sum_a)"))
          .as("sxy"),
        sum(expr("cast(ca as decimal(38,0)) * (v * cum_a - sum_a)")).as("sxx_h"),
        sum(expr("cast(cb as decimal(38,0)) * (v * cum_b - sum_b)")).as("syy_h"))
    sums.join(tot, "lang")
      .select(col("lang"), col("na"), col("nb"),
        // D^2 = 2*SXY/(na*nb) - 2*SXX_h/na^2 - 2*SYY_h/nb^2, fraction-free
        expr("""cast((2 * sxy * na * nb - 2 * sxx_h * nb * nb - 2 * syy_h * na * na)
                * 1000000
                div (cast(na as decimal(38,0)) * na * nb * nb) as bigint)""")
          .as("energy_d2_e6"))
      .orderBy(col("lang"))
  }

  /** Vocabulary-drift monitor: the top-20 token rankings of the
    * corpus's first and second half (by doc_id) compared with
    * [[rboQ]]'s dyadic-exact rank-biased overlap AND plain top-20
    * Jaccard — the "did the crawl's language shift" alarm between two
    * ingest windows. Two TakeOrdered shortlists off one token-count
    * scan; all agreement math on the ≤40-row union.
    */
  def vocabDriftQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mid = Tables.documents(spark, sfDir)
      .groupBy().agg(expr("(min(doc_id) + max(doc_id) + 1) div 2").as("mid"))
    val tc = Tables.documents(spark, sfDir).crossJoin(broadcast(mid))
      .select((col("doc_id") < col("mid")).as("h1"),
        explode(graft.ops.TextOps.words(lower(col("text")))).as("tok"))
      .groupBy(col("h1"), col("tok")).agg(count(lit(1)).as("c"))
    def top20(h1: Boolean, name: String): DataFrame = {
      val short = tc.filter(col("h1") === h1)
        .orderBy(col("c").desc, col("tok")).limit(20)
      short.withColumn(name, row_number().over(
        Window.partitionBy(graft.functions.GraftFunctions.singleton_key(col("tok")))
          .orderBy(col("c").desc, col("tok"))).cast("long"))
        .select(col("tok"), col(name))
    }
    val both = top20(h1 = true, "rkx").join(top20(h1 = false, "rky"), Seq("tok"), "outer")
    val jac = both.groupBy()
      .agg(sum(when(col("rkx").isNotNull && col("rky").isNotNull, 1L).otherwise(0L)).as("inter"),
        count(lit(1)).as("uni"))
    val spine = spark.range(1, 21).select(col("id").as("d"))
    val denom = "cast(232792560 as decimal(38,0)) * 1048576"
    val rbo = both.crossJoin(broadcast(spine))
      .filter(col("rkx") <= col("d") && col("rky") <= col("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("a_d"))
      .select((col("a_d").cast("decimal(38,0)") *
        expr(s"$denom div (cast(pow(2, d) as decimal(38,0)) * d)")).as("term"))
      .groupBy().agg(sum(col("term")).as("num"))
      // zero-overlap halves: the depth table is empty, sum is NULL → 0
      .select(expr(s"cast(coalesce(num, 0) * 1000000 div ($denom) as bigint)").as("rbo_e6"))
    jac.crossJoin(broadcast(rbo))
      .select(col("inter"), col("uni"),
        expr("inter * 1000000 div uni").as("jaccard_e6"), col("rbo_e6"))
  }

  /** kNN imputation: each probe vector's dimension 0 is treated as
    * MISSING and predicted as the mean of its 3 nearest neighbors'
    * (quantized) dim-0 values, with distance over the REMAINING
    * dimensions — the standard embedding-space missing-value fill,
    * evaluated against the held truth. Neighbor distances are
    * e6-floored sliced squared-L2 through the partial-aggregatable
    * bottom-k ([[Similarity.bottomKByQuery]] — never a global sort);
    * dim-0 values quantize to e6 integers before the mean so the
    * prediction is one exact truncating division. Probe discipline:
    * the [[knnClassQ]] 54-probe set, broadcast against the corpus.
    */
  def knnImputeQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Similarity.asDouble(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"),
        expr("slice(embedding, 2, size(embedding) - 1)").as("rest"),
        floor(expr("element_at(embedding, 1)") * lit(1000000.0)).cast("long").as("d0_e6"))
    // ≤54 ids satisfy the residue+cap predicate, so the limit is a
    // provable no-op (the probeSlice device with a composite filter)
    val probes = e.filter(col("vec_id") % 37 === 5 && col("vec_id") < 2000)
      .orderBy(col("vec_id")).limit(54)
      .select(col("vec_id").as("probe_id"), col("rest").as("pv"),
        col("d0_e6").as("true_e6"))
    val d2 = greatest(
      Similarity.dot(col("pv"), col("pv")) -
        lit(2.0) * Similarity.dot(col("cv"), col("pv")) +
        Similarity.dot(col("cv"), col("cv")), lit(0.0))
    val scored = e.select(col("vec_id"), col("rest").as("cv"))
      .crossJoin(broadcast(probes.select(col("probe_id"), col("pv"))))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id").as("query_id"), col("vec_id").as("neighbor_id"),
        floor(d2 * lit(1000000.0)).cast("long").as("adc_e6"))
    val top3 = Similarity.bottomKByQuery(scored, 3)
    val pred = top3
      .join(e.select(col("vec_id").as("neighbor_id"), col("d0_e6")), "neighbor_id")
      .groupBy(col("query_id"))
      .agg(expr("sum(d0_e6) div count(1)").as("pred_e6"),
        count(lit(1)).as("k_used"))
    probes.select(col("probe_id"), col("true_e6"))
      .join(pred, col("probe_id") === col("query_id"))
      .select(col("probe_id"), col("true_e6"), col("pred_e6"), col("k_used"),
        abs(col("true_e6") - col("pred_e6")).as("abs_err_e6"))
      .orderBy(col("probe_id"))
  }

  /** Western Electric control-chart rules over the daily event volume
    * — the SPC pattern alarms that catch drifts a single-point 3σ
    * gate misses: R1 |dev| > 3σ; R2 ≥2 of the last 3 beyond 2σ on one
    * side; R3 ≥4 of the last 5 beyond 1σ on one side; R4 the last 8
    * all on one side. Everything is EXACT: dev = n·x − S (the
    * n-scaled deviation) and every kσ gate becomes dev² > k²·(n·Σx²
    * − S²) — no sqrt, no float, identical truncation-free integer
    * comparisons on both engines. The rolling rule windows ride the
    * calendar-bounded day spine ([[cusumQ]]'s contract).
    */
  def weRulesQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val daily = dailyCounts(spark, sfDir)
    val g = daily.groupBy().agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum(expr(s"cast(x as $d38)") * col("x")).as("sxx"))
    val base = daily.crossJoin(broadcast(g))
      .withColumn("dev", expr(s"cast(n as $d38) * x - s"))
      .withColumn("vv", expr(s"cast(n as $d38) * sxx - cast(s as $d38) * s"))
      .withColumn("sgn", signum(col("dev")).cast("long"))
      .withColumn("b3", expr("case when dev * dev > 9 * vv then sgn else 0 end"))
      .withColumn("b2", expr("case when dev * dev > 4 * vv then sgn else 0 end"))
      .withColumn("b1", expr("case when dev * dev > vv then sgn else 0 end"))
    def w(back: Int) = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("d")))
      .orderBy(col("d")).rowsBetween(-back, 0)
    base
      .withColumn("r1", col("b3") =!= 0)
      .withColumn("r2",
        sum(when(col("b2") === 1, 1L).otherwise(0L)).over(w(2)) >= 2
          || sum(when(col("b2") === -1, 1L).otherwise(0L)).over(w(2)) >= 2)
      .withColumn("r3",
        sum(when(col("b1") === 1, 1L).otherwise(0L)).over(w(4)) >= 4
          || sum(when(col("b1") === -1, 1L).otherwise(0L)).over(w(4)) >= 4)
      .withColumn("r4", abs(sum(col("sgn")).over(w(7))) === 8
        && count(lit(1)).over(w(7)) === 8)
      // the WHOLE flagged chart ships (a quiet chart is still a result)
      .select(col("d").as("day"), col("x"), col("sgn").as("side"),
        col("r1"), col("r2"), col("r3"), col("r4"))
      .orderBy(col("day"))
  }

  /** Simpson's-paradox detector: the pooled quantity→price OLS slope
    * vs each market segment's own slope, flagging segments whose
    * trend sign CONTRADICTS the pooled one — the classic aggregation
    * trap auditor every metrics review wants automated. Slope signs
    * come from the exact integer normal-equation numerator (the
    * denominator is positive), so the flip flag is float-free; slopes
    * ship at e6 for magnitude. One fact scan into per-segment
    * sufficient statistics; the pooled row is their bounded re-sum.
    */
  def simpsonQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val b = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        expr("cast(round(l_quantity, 0) as long)").as("x"),
        cents(col("l_extendedprice")).cast("long").as("y"))
    val perSeg = b.groupBy(col("seg"))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("x")).cast(d38).as("sx"), sum(col("y")).cast(d38).as("sy"),
        sum(expr(s"cast(x as $d38)") * col("x")).as("sxx"),
        sum(expr(s"cast(x as $d38)") * col("y")).as("sxy"))
    val pooled = perSeg.groupBy()
      .agg(sum(col("n")).as("n"), sum(col("sx")).as("sx"), sum(col("sy")).as("sy"),
        sum(col("sxx")).as("sxx"), sum(col("sxy")).as("sxy"))
      .select(expr("n * sxy - sx * sy").as("pnum"),
        expr("n * sxx - sx * sx").as("pden"))
    perSeg.crossJoin(broadcast(pooled))
      .select(col("seg"), col("n").cast("long").as("n"),
        expr("(n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)")
          .as("slope_seg_e6"),
        expr("pnum * 1000000 div pden").as("slope_pooled_e6"),
        expr("""cast(case when (n * sxy - sx * sy) > 0 then 1
                when (n * sxy - sx * sy) < 0 then -1 else 0 end as bigint)""")
          .as("sign_seg"),
        expr("cast(case when pnum > 0 then 1 when pnum < 0 then -1 else 0 end as bigint)")
          .as("sign_pooled"))
      .withColumn("sign_flip",
        col("sign_seg") =!= col("sign_pooled") && col("sign_seg") =!= 0)
      .orderBy(col("seg"))
  }

  /** Quadratic-kernel Maximum Mean Discrepancy per language (A = even
    * doc ids, B = odd, value = n_chars): with k(x,y) = (xy + 1)² every
    * pairwise kernel SUM expands into plain moments —
    * ΣΣk(x,y) = Σx²·Σy² + 2Σx·Σy + n_A·n_B — so the biased MMD² is
    * CLOSED FORM from one aggregate, O(1) after the scan (the moment
    * trick that makes kernel two-sample tests feasible at corpus
    * scale). Three truncating e6 divisions close the readout (one per
    * term, identical on both engines — never a single overflow-prone
    * common denominator). Completes the distribution-test family:
    * KS (sup), CvM (integral), energy (metric), MMD (kernel).
    */
  def mmdQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val m = Tables.documents(spark, sfDir)
      .select(col("lang"), (col("doc_id") % 2 === 0).as("a"), col("n_chars").as("v"))
      .groupBy(col("lang"))
      .agg(sum(when(col("a"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("a"), 1L).otherwise(0L)).as("nb"),
        sum(when(col("a"), col("v")).otherwise(0L)).cast(d38).as("s1a"),
        sum(when(!col("a"), col("v")).otherwise(0L)).cast(d38).as("s1b"),
        sum(when(col("a"), expr("cast(v as decimal(38,0)) * v")).otherwise(expr("cast(0 as decimal(38,0))"))).as("s2a"),
        sum(when(!col("a"), expr("cast(v as decimal(38,0)) * v")).otherwise(expr("cast(0 as decimal(38,0))"))).as("s2b"))
    m.select(col("lang"), col("na"), col("nb"),
      expr("""(s2a * s2a + 2 * s1a * s1a + cast(na as decimal(38,0)) * na) * 1000000
              div (cast(na as decimal(38,0)) * na)""").as("kxx_e6"),
      expr("""(s2b * s2b + 2 * s1b * s1b + cast(nb as decimal(38,0)) * nb) * 1000000
              div (cast(nb as decimal(38,0)) * nb)""").as("kyy_e6"),
      expr("""(s2a * s2b + 2 * s1a * s1b + cast(na as decimal(38,0)) * nb) * 2000000
              div (cast(na as decimal(38,0)) * nb)""").as("kxy2_e6"))
      .withColumn("mmd2_e6", col("kxx_e6") + col("kyy_e6") - col("kxy2_e6"))
      .orderBy(col("lang"))
  }

  /** Cochran–Armitage trend test: does the urgent-order rate rise (or
    * fall) MONOTONICALLY across account-balance buckets — the
    * dose-response test a plain χ² (which ignores bucket order)
    * cannot ask. Scores = the 5 fixed-width balance buckets; the
    * statistic is fraction-cleared end to end: N·T = N·Σw·r − R·Σw·n
    * and z² = (N·T)²·N div (R·(N−R)·(N·Σw²n − (Σwn)²)) — exact
    * integers widened to decimal(38). One customer scan with a
    * broadcast urgent-orderer flag into bucket cells.
    */
  def trendTestQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey")).distinct()
    val cells = Tables.customer(spark, sfDir)
      .join(urgent.withColumn("y", lit(1L)), Seq("c_custkey"), "left")
      .select(expr("least(greatest(cast(floor((c_acctbal + 1000) / 2200) as bigint), 0), 4)")
        .as("w"), coalesce(col("y"), lit(0L)).as("y"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("r"))
    cells.groupBy()
      .agg(sum(col("n")).cast(d38).as("nn"), sum(col("r")).cast(d38).as("rr"),
        sum(col("w") * col("n")).cast(d38).as("swn"),
        sum(col("w") * col("r")).cast(d38).as("swr"),
        sum(col("w") * col("w") * col("n")).cast(d38).as("sw2n"))
      .select(col("nn").cast("long").as("n"), col("rr").cast("long").as("r"),
        expr("(nn * swr - rr * swn)").cast("long").as("nt"),
        expr("""case when rr > 0 and rr < nn then
                  (nn * swr - rr * swn) * (nn * swr - rr * swn) * nn * 1000000
                  div (rr * (nn - rr) * (nn * sw2n - swn * swn)) end""")
          .as("z2_e6"))
      .select(col("n"), col("r"), col("nt"),
        expr("cast(case when nt > 0 then 1 when nt < 0 then -1 else 0 end as bigint)")
          .as("trend_sign"), col("z2_e6"))
  }

  /** Moran's I spatial autocorrelation of part revenue over the
    * co-purchase graph: do high-revenue parts neighbor high-revenue
    * parts? I = n·Σ_edges z_i z_j / (W·Σz²) with z = x − ⌊mean⌋ (the
    * truncated-mean centering keeps every term an exact integer) and
    * unit weights over the memoized `pagerank_edges`. THE
    * graph-signal diagnostic (feature homophily) a GNN/feature team
    * runs before trusting neighborhood aggregation. One revenue
    * aggregate + two part-keyed joins of the edge list; the moments
    * are map-side-combinable.
    */
  def moranQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val x = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey").as("node"))
      .agg(sum(cents(col("l_extendedprice")).cast("long")).as("x"))
    val mean = x.groupBy().agg(expr("sum(x) div count(1)").as("mu"),
      count(lit(1)).as("n"))
    val z = x.crossJoin(broadcast(mean))
      .select(col("node"), (col("x") - col("mu")).as("z"), col("n"))
    val e = partAdjacencyEdges(spark, sfDir)
      .filter(col("src") =!= col("dst")).select(col("src"), col("dst"))
    val num = e
      .join(z.select(col("node").as("src"), col("z").as("zi")), "src")
      .join(z.select(col("node").as("dst"), col("z").as("zj")), "dst")
      .groupBy()
      .agg(sum(expr(s"cast(zi as $d38) * zj")).as("szz"), count(lit(1)).as("w"))
    val den = z.groupBy()
      .agg(sum(expr(s"cast(z as $d38) * z")).as("sz2"), max(col("n")).as("n"))
    num.crossJoin(broadcast(den))
      .select(col("n"), col("w").as("w_edges"),
        expr("cast(n as decimal(38,0)) * szz * 1000000 div (cast(w as decimal(38,0)) * sz2)")
          .as("moran_i_e6"),
        // the null expectation E[I] = -1/(n-1) at e6, for the readout
        expr("-1000000 div (n - 1)").as("e_i_e6"))
  }

  /** Restricted mean survival time at τ = 14 days — the
    * interpretable "expected active days in the first two weeks"
    * readout on top of [[kaplanMeierQ]]'s curve (the estimand
    * regulators now ask for instead of hazard ratios): the same
    * per-lifetime churn/censor fold advances the exact truncating KM
    * survival AND accumulates S·Δt up to τ in one pass, plus the tail
    * rectangle to τ. Identical integer recurrence on both engines;
    * the only data-sized work is the per-user min/max aggregate.
    */
  def rmstQ(spark: SparkSession, sfDir: String): DataFrame = {
    val tau = 14L
    survivalArr(spark, sfDir)
      .select(col("total").as("n_users"), expr(
        s"""aggregate(arr,
           |  named_struct('n', total, 's', 1000000L, 'pt', 0L, 'rmst', 0L),
           |  (acc, e) -> named_struct(
           |    'n', acc.n - e.dd - e.cc,
           |    's', acc.s * (acc.n - e.dd) div acc.n,
           |    'pt', e.t,
           |    'rmst', acc.rmst + acc.s *
           |      (least(e.t, ${tau}L) - least(acc.pt, ${tau}L))),
           |  acc -> acc.rmst + acc.s * (${tau}L - least(acc.pt, ${tau}L)))
           |""".stripMargin).as("rmst_days_e6"))
      .withColumn("tau_days", lit(tau))
  }

  /** Post-stratified treatment-effect estimate: BUILDING-segment
    * membership as the "treatment", ≥1 urgent order as the outcome,
    * region as the stratifier — the crude rate difference vs the
    * stratum-weighted one (Σ n_s·Δ_s / N), the first confounding
    * adjustment any experiment readout should show next to the raw
    * gap. Per-stratum gaps are fraction-free cross-multiplied
    * integers; the weighting is one more truncating division. One
    * customer scan into region × arm cells; everything after is
    * stratum-bounded.
    */
  def postStratQ(spark: SparkSession, sfDir: String): DataFrame = {
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey")).distinct()
    val cells = Tables.customer(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)), col("c_nationkey") === col("n_nationkey"))
      .join(urgent.withColumn("y", lit(1L)), Seq("c_custkey"), "left")
      .groupBy(col("n_regionkey").as("region"),
        (col("c_mktsegment") === "BUILDING").as("treat"))
      .agg(count(lit(1)).as("n"), sum(coalesce(col("y"), lit(0L))).as("r"))
    val strata = cells.groupBy(col("region"))
      .agg(sum(when(col("treat"), col("n")).otherwise(0L)).as("nt"),
        sum(when(col("treat"), col("r")).otherwise(0L)).as("rt"),
        sum(when(!col("treat"), col("n")).otherwise(0L)).as("nc"),
        sum(when(!col("treat"), col("r")).otherwise(0L)).as("rc"))
      .withColumn("n_s", col("nt") + col("nc"))
      .withColumn("diff_e6", expr("(rt * nc - rc * nt) * 1000000 div (nt * nc)"))
    val overall = strata.groupBy()
      .agg(sum(col("n_s")).as("nn"),
        sum(col("nt")).as("ntt"), sum(col("rt")).as("rtt"),
        sum(col("nc")).as("ncc"), sum(col("rc")).as("rcc"),
        sum(col("n_s") * col("diff_e6")).as("wsum"))
      .select(
        expr("(rtt * ncc - rcc * ntt) * 1000000 div (ntt * ncc)").as("crude_e6"),
        expr("wsum div nn").as("post_strat_e6"))
    strata.crossJoin(broadcast(overall))
      .select(col("region"), col("n_s"), col("nt"), col("nc"),
        expr("rt * 1000000 div nt").as("p_treat_e6"),
        expr("rc * 1000000 div nc").as("p_ctrl_e6"),
        col("diff_e6"), col("crude_e6"), col("post_strat_e6"))
      .orderBy(col("region"))
  }

  /** Leave-one-region-out jackknife of the revenue-per-order ratio —
    * the variance diagnostic for RATIO estimators (where a naive
    * per-row variance is wrong): each stratum's deletion estimate
    * θ₍ᵢ₎ = (R−Rᵢ)/(O−Oᵢ) at e6, the jackknife variance
    * (g−1)/g·Σ(θ₍ᵢ₎−θ̄)² at e12, and each region's influence
    * (θ₍ᵢ₎ − θ̂) — which stratum moves the metric. All from the
    * region-bounded (revenue, orders) table; truncating divisions
    * identical on both engines. One fact scan.
    */
  def jackknifeRatioQ(spark: SparkSession, sfDir: String): DataFrame = {
    val byRegion = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_regionkey").as("region"))
      .agg(sum(cents(col("l_extendedprice")).cast("long")).as("rev"),
        countDistinct(col("o_orderkey")).as("ords"))
    val tot = byRegion.groupBy()
      .agg(sum(col("rev")).as("tr"), sum(col("ords")).as("to"),
        count(lit(1)).as("g"))
    val loo = byRegion.crossJoin(broadcast(tot))
      .withColumn("theta_loo_e6", expr("(tr - rev) * 1000000 div (to - ords)"))
      .withColumn("theta_e6", expr("tr * 1000000 div to"))
    val jack = loo.groupBy()
      .agg(expr("sum(theta_loo_e6) div count(1)").as("tbar_e6"))
    val se = loo.crossJoin(broadcast(jack))
      .groupBy(col("g"), col("theta_e6"), col("tbar_e6"))
      .agg(sum(expr("""cast(theta_loo_e6 - tbar_e6 as decimal(38,0))
          * (theta_loo_e6 - tbar_e6)""")).as("ss"))
      // the e12 variance can exceed int64 — the (g−1)/g scaling and the
      // sqrt both run in IEEE double over the exact decimal ss
      .select(col("g").as("n_strata"), col("theta_e6"), col("tbar_e6"),
        expr("cast(floor(sqrt(cast(ss as double) * (g - 1) / g)) as bigint)")
          .as("jk_se_e6"))
    se.crossJoin(broadcast(loo.select(col("region"), col("theta_loo_e6"))))
      .withColumn("influence_e6", col("theta_loo_e6") - col("theta_e6"))
      .select(col("region"), col("n_strata"), col("theta_e6"),
        col("theta_loo_e6"), col("influence_e6"), col("jk_se_e6"))
      .orderBy(col("region"))
  }

  /** Population Stability Index of the event-value distribution between
    * the first and second half of the observation window — THE standard
    * score/feature drift gate in model monitoring (PSI < 0.1 stable,
    * > 0.25 shifted). Bins are fixed log-width buckets of exact cents
    * (floor(2·ln(1+cents)) — never on an exact boundary since e^{k/2}
    * is irrational), Laplace-smoothed (+1 over the observed-bin
    * scaffold) so empty bins can't blow up the log. Each bin's
    * (p₂−p₁)·ln(p₂/p₁) contribution is e9-floored from exact integer
    * counts before summing, the [[jsDivQ]] determinism discipline.
    * Two bounded groupBys on the bin key; output is bin-support-sized.
    */
  def psiQ(spark: SparkSession, sfDir: String): DataFrame = {
    val half = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("d"),
        cents(col("value")).cast("long").as("vc"))
    val mid = half.groupBy()
      .agg(expr("(min(d) + max(d) + 1) div 2").as("mid"))
    val binned = half.crossJoin(broadcast(mid))
      .select((col("d") >= col("mid")).as("cur"),
        floor(log(col("vc") + lit(1.0)) * 2.0).cast("long").as("bin"))
    val cells = binned.groupBy(col("bin"))
      .agg(sum(when(!col("cur"), 1L).otherwise(0L)).as("c_base"),
        sum(when(col("cur"), 1L).otherwise(0L)).as("c_cur"))
    val tot = cells.groupBy()
      .agg(sum(col("c_base")).as("nb"), sum(col("c_cur")).as("nc"),
        count(lit(1)).as("b"))
    val terms = cells.crossJoin(broadcast(tot))
      .withColumn("p_base_e6", expr("(c_base + 1) * 1000000 div (nb + b)"))
      .withColumn("p_cur_e6", expr("(c_cur + 1) * 1000000 div (nc + b)"))
      .withColumn("term_e9", floor(
        ((col("c_cur") + 1) / (col("nc") + col("b"))
          - (col("c_base") + 1) / (col("nb") + col("b")))
          * log(((col("c_cur") + 1).cast("double") * (col("nb") + col("b")))
            / ((col("c_base") + 1).cast("double") * (col("nc") + col("b"))))
          * 1000000000.0 + 0.5).cast("long"))
    val psi = terms.groupBy().agg(sum(col("term_e9")).as("psi_e9"))
    terms.crossJoin(broadcast(psi))
      .select(col("bin"), col("c_base"), col("c_cur"),
        col("p_base_e6"), col("p_cur_e6"), col("term_e9"), col("psi_e9"))
      .orderBy(col("bin"))
  }

  /** Mutual information between event type and day-of-week — the
    * model-free dependence screen (feature selection's cousin of
    * [[chi2IndepQ]]): MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) over the
    * 5×7 contingency, plus the entropy-normalized NMI =
    * MI/√(H_x·H_y) so the score is comparable across tables. The
    * margin-cross scaffold ships zero cells (their MI term is 0 by
    * the 0·ln0 convention); every per-cell term is one double
    * expression over exact integers, e9-floored before the sum. One
    * fact scan, all aggregates value-support-bounded (types × 7 days).
    */
  def mutualInfoQ(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000 % 7").as("dow"))
      .groupBy(col("event_type"), col("dow")).agg(count(lit(1)).as("o"))
    val rm = cells.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
    val cm = cells.groupBy(col("dow")).agg(sum(col("o")).as("c"))
    val tot = cells.groupBy().agg(sum(col("o")).as("nn"))
    val grid = rm.crossJoin(cm).crossJoin(broadcast(tot))
      .join(cells, Seq("event_type", "dow"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .withColumn("term_e9", when(col("o") === 0, 0L).otherwise(floor(
        (col("o") / col("nn"))
          * log((col("o").cast("double") * col("nn"))
            / (col("r").cast("double") * col("c")))
          * 1000000000.0 + 0.5).cast("long")))
    val hx = rm.crossJoin(broadcast(tot)).groupBy()
      .agg(sum(floor((col("r") / col("nn")) * log(col("nn") / col("r"))
        * 1000000000.0 + 0.5).cast("long")).as("hx_e9"))
    val hy = cm.crossJoin(broadcast(tot)).groupBy()
      .agg(sum(floor((col("c") / col("nn")) * log(col("nn") / col("c"))
        * 1000000000.0 + 0.5).cast("long")).as("hy_e9"))
    val mi = grid.groupBy().agg(sum(col("term_e9")).as("mi_e9"))
      .crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
      .select(col("mi_e9"), col("hx_e9"), col("hy_e9"),
        floor(col("mi_e9") / sqrt(col("hx_e9").cast("double") * col("hy_e9"))
          * 1000000.0 + 0.5).cast("long").as("nmi_e6"))
    grid.crossJoin(broadcast(mi))
      .select(col("event_type"), col("dow"), col("o"), col("r"), col("c"),
        col("term_e9"), col("mi_e9"), col("hx_e9"), col("hy_e9"),
        col("nmi_e6"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** Maximum drawdown of the cumulative monthly revenue — the
    * risk-of-ruin diagnostic for any running metric (finance's
    * underwater curve): cum_k = Σ_{t≤k} rev_t in exact cents, running
    * peak, drawdown = peak − cum, and the max-drawdown month flagged.
    * The cumulative/peak walk is a window over the MONTH support
    * (calendar-bounded — ~80 rows regardless of data size); everything
    * upstream is one monthly aggregate of the fact scan.
    */
  def drawdownQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = Tables.orders(spark, sfDir)
      .select((year(col("o_orderdate")) * 12
          + month(col("o_orderdate")) - 1).cast("long").as("m"),
        cents(col("o_totalprice")).cast("long").as("rc"))
      .groupBy(col("m")).agg(sum(col("rc")).as("rev_c"))
    val w = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("m")))
      .orderBy(col("m"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val c = monthly
      .withColumn("cum_c", sum(col("rev_c")).over(w))
      .withColumn("peak_c", max(col("cum_c")).over(w))
      .withColumn("dd_c", col("peak_c") - col("cum_c"))
    val mx = c.groupBy().agg(max(col("dd_c")).as("max_dd_c"))
    c.crossJoin(broadcast(mx))
      .select(col("m"), col("rev_c"), col("cum_c"), col("peak_c"),
        col("dd_c"), col("max_dd_c"),
        (col("dd_c") === col("max_dd_c") && col("dd_c") > 0)
          .as("is_max_dd"))
      .orderBy(col("m"))
  }

  /** Nelson-Aalen cumulative hazard over user lifetimes (same
    * duration/censoring contract as [[kaplanMeierQ]]) — the hazard-side
    * twin of the KM curve, preferred when the HAZARD is the estimand
    * (it is unbiased where the KM product is only consistent):
    * H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ accumulated as truncating e6 integers in
    * the same duration-support fold (no window), plus the Breslow
    * survival exp(−H) e6-rounded from the exact integer H. One
    * per-user reduce, one support aggregate, one bounded fold.
    */
  def nelsonAalenQ(spark: SparkSession, sfDir: String): DataFrame = {
    survivalArr(spark, sfDir)
      .select(explode(expr(
        """aggregate(arr,
          |  named_struct('n', total, 'h', 0L,
          |    'out', cast(array() as array<struct<t:bigint,n_risk:bigint,
          |                                        d:bigint,h_e6:bigint>>)),
          |  (acc, e) -> named_struct(
          |    'n', acc.n - e.dd - e.cc,
          |    'h', acc.h + e.dd * 1000000L div acc.n,
          |    'out', array_append(acc.out, named_struct(
          |      't', e.t, 'n_risk', acc.n, 'd', e.dd,
          |      'h_e6', acc.h + e.dd * 1000000L div acc.n))),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.t").as("t"), col("r.n_risk").as("n_risk"),
        col("r.d").as("d_churn"), col("r.h_e6").as("h_e6"),
        floor(exp(-col("r.h_e6") / 1000000.0) * 1000000.0 + 0.5)
          .cast("long").as("s_breslow_e6"))
      .orderBy(col("t"))
  }

  /** Aalen-Johansen competing-risks cumulative incidence over user
    * lifetimes: two terminal causes (the user's LAST event — by
    * event_id — was an 'error' vs anything else), censoring as in
    * [[kaplanMeierQ]]. Naive "1 − KM per cause" overstates incidence
    * when risks compete; the AJ estimator charges each cause
    * CIF_k(t) = Σ S(tᵢ⁻)·d_kᵢ/nᵢ with the ALL-cause survival S, so
    * the causes partition the event probability. Exact e6 fold over
    * the duration support (same idiom as KM — no window); one extra
    * per-user argmax for the cause label.
    */
  def competingRisksQ(spark: SparkSession, sfDir: String): DataFrame = {
    val u = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"),
        col("event_type"), col("event_id"))
      .groupBy(col("user_id"))
      .agg(min(col("d")).as("f"), max(col("d")).as("l"),
        expr("max_by(event_type, event_id)").as("last_type"))
    val md = u.groupBy().agg(max(col("l")).as("maxd"))
    val byT = u.crossJoin(broadcast(md))
      .select((col("l") - col("f")).as("t"),
        (col("l") >= col("maxd") - 2).as("cens"),
        (col("last_type") === "error").as("err"))
      .groupBy(col("t"))
      .agg(sum(when(!col("cens") && col("err"), 1L).otherwise(0L)).as("d1"),
        sum(when(!col("cens") && !col("err"), 1L).otherwise(0L)).as("d2"),
        sum(when(col("cens"), 1L).otherwise(0L)).as("cc"))
    byT
      .groupBy()
      .agg(sort_array(collect_list(
        struct(col("t"), col("d1"), col("d2"), col("cc")))).as("arr"))
      .select(col("arr"),
        expr("aggregate(arr, 0L, (a, e) -> a + e.d1 + e.d2 + e.cc)")
          .as("total"))
      .select(explode(expr(
        """aggregate(arr,
          |  named_struct('n', total, 's', 1000000L, 'c1', 0L, 'c2', 0L,
          |    'out', cast(array() as array<struct<t:bigint,n_risk:bigint,
          |      d1:bigint,d2:bigint,surv_e6:bigint,
          |      cif1_e6:bigint,cif2_e6:bigint>>)),
          |  (acc, e) -> named_struct(
          |    'n', acc.n - e.d1 - e.d2 - e.cc,
          |    's', acc.s * (acc.n - e.d1 - e.d2) div acc.n,
          |    'c1', acc.c1 + acc.s * e.d1 div acc.n,
          |    'c2', acc.c2 + acc.s * e.d2 div acc.n,
          |    'out', array_append(acc.out, named_struct(
          |      't', e.t, 'n_risk', acc.n, 'd1', e.d1, 'd2', e.d2,
          |      'surv_e6', acc.s * (acc.n - e.d1 - e.d2) div acc.n,
          |      'cif1_e6', acc.c1 + acc.s * e.d1 div acc.n,
          |      'cif2_e6', acc.c2 + acc.s * e.d2 div acc.n))),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.t").as("t"), col("r.n_risk").as("n_risk"),
        col("r.d1").as("d1"), col("r.d2").as("d2"),
        col("r.surv_e6").as("surv_e6"), col("r.cif1_e6").as("cif1_e6"),
        col("r.cif2_e6").as("cif2_e6"))
      .orderBy(col("t"))
  }

  /** Hill tail-index estimator of the order-value distribution — the
    * heavy-tail gauge (α ≈ how fast P(X>x) decays; α ≤ 2 means
    * infinite variance, the "whales dominate revenue" regime) over a
    * k-grid so the plateau is visible like a Hill plot: for each
    * k ∈ {50,100,200}, α̂⁻¹ = mean_{i≤k} ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the 201
    * largest exact-cents totals. The ONLY data-sized step is the
    * TakeOrdered top-201; ranking and the per-k sums run on the
    * 201-row shortlist (shortlist-bounded window, allowlisted). Each
    * log excess is e9-floored before summing.
    */
  def hillQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = Tables.orders(spark, sfDir)
      .select(cents(col("o_totalprice")).cast("long").as("xc"))
      .orderBy(col("xc").desc).limit(201)
    val w = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(lit(1)))
      .orderBy(col("xc").desc)
    val ranked = top.withColumn("rnk", row_number().over(w))
    val grid = broadcast(
      top.sparkSession.range(1, 4).select((col("id") * 50).as("k"))
        .withColumn("k", when(col("k") === 150, 200L).otherwise(col("k"))))
    val xk = ranked.join(grid, col("rnk") === col("k") + 1)
      .select(col("k"), col("xc").as("xk_c"))
    ranked.join(broadcast(xk), col("rnk") <= col("k"))
      .select(col("k"), col("xk_c"),
        floor(log(col("xc") / col("xk_c")) * 1000000000.0 + 0.5)
          .cast("long").as("term_e9"))
      .groupBy(col("k"), col("xk_c"))
      .agg(sum(col("term_e9")).as("sum_log_e9"))
      .select(col("k"), col("xk_c"), col("sum_log_e9"),
        expr("sum_log_e9 div k").as("hill_inv_e9"),
        expr("1000000000000000 div (sum_log_e9 div k)").as("alpha_e6"))
      .orderBy(col("k"))
  }

  /** Laspeyres / Paasche / Fisher price indices between the 1995 and
    * 2000 shipment years — the inflation readout every revenue metric
    * needs deflating by. Per-part period aggregates keep revenue in
    * exact cents and quantity in exact units, so p·q cross terms are
    * FRACTION-FREE: Σp₁q₀ accumulates R₁ᵢ·Q₀ᵢ div Q₁ᵢ (truncating,
    * replayed identically), Σp₀q₀ is exactly ΣR₀, and Fisher is the
    * e6-floored √(L·P) of the two integer indices. Only parts traded
    * in BOTH periods enter (the matched-basket convention). One fact
    * scan, one partkey-shuffled aggregate, one partkey join.
    */
  def priceIndexQ(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey").as("pk"), year(col("l_shipdate")).as("yr"),
        cents(col("l_extendedprice")).cast("long").as("rc"),
        col("l_quantity").cast("long").as("q"))
      .filter(col("yr").isin(1995, 2000))
      .groupBy(col("pk"), col("yr"))
      .agg(sum(col("rc")).as("r"), sum(col("q")).as("qq"))
    val base = li.filter(col("yr") === 1995)
      .select(col("pk"), col("r").as("r0"), col("qq").as("q0"))
    val cur = li.filter(col("yr") === 2000)
      .select(col("pk"), col("r").as("r1"), col("qq").as("q1"))
    base.join(cur, "pk")
      .select(
        expr("cast(r1 as decimal(38,0)) * q0 div q1").as("p1q0"), col("r0"),
        col("r1"), expr("cast(r0 as decimal(38,0)) * q1 div q0").as("p0q1"))
      .groupBy()
      .agg(count(lit(1)).as("n_parts"),
        sum(col("p1q0")).as("s_p1q0"), sum(col("r0")).as("s_p0q0"),
        sum(col("r1")).as("s_p1q1"), sum(col("p0q1")).as("s_p0q1"))
      .select(col("n_parts"),
        col("s_p1q0").cast("long").as("s_p1q0"), col("s_p0q0"),
        col("s_p1q1"), col("s_p0q1").cast("long").as("s_p0q1"),
        expr("cast(s_p1q0 * 1000000 div s_p0q0 as bigint)")
          .as("laspeyres_e6"),
        expr("cast(cast(s_p1q1 as decimal(38,0)) * 1000000 div s_p0q1 as bigint)")
          .as("paasche_e6"))
      .withColumn("fisher_e6", floor(sqrt(
        col("laspeyres_e6").cast("double") * col("paasche_e6")) + 0.5)
        .cast("long"))
  }

  /** Own-price demand elasticity per brand — the log-log OLS slope
    * ∂ln q/∂ln p estimated per p_brand (bounded enum): each lineitem
    * contributes x = ln(unit-price cents), y = ln(quantity), both
    * e6-floored to integers BEFORE the sums so accumulation order
    * can't move the hash; the slope/intercept/R² closed forms then run
    * in decimal(38,0) over exact integer moments (Σxy at e12 overflows
    * int64 at sf0.1 already). One scan, one brand join, one bounded
    * aggregate — the standard "can we raise prices" readout.
    */
  def elasticityQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val rows = Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        floor(log(cents(col("l_extendedprice"))
          / col("l_quantity")) * 1000000.0 + 0.5).cast("long").as("x"),
        floor(log(col("l_quantity")) * 1000000.0 + 0.5).cast("long").as("y"))
    rows.groupBy(col("brand"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast(d38) * col("x")).as("sxx"),
        sum(col("x").cast(d38) * col("y")).as("sxy"),
        sum(col("y").cast(d38) * col("y")).as("syy"))
      .select(col("brand"), col("n"),
        expr(s"""cast((n * sxy - cast(sx as $d38) * sy) * 1000000
                div (n * sxx - cast(sx as $d38) * sx) as bigint)""")
          .as("slope_e6"),
        expr(s"""cast((sy - (n * sxy - cast(sx as $d38) * sy) * 1000000
                div (n * sxx - cast(sx as $d38) * sx) * sx div 1000000)
                div n as bigint)""").as("intercept_e6"),
        // r² = slope_xy · slope_yx — two e6 integral slopes multiplied,
        // so the intermediate never exceeds decimal(38) (a direct
        // diff²·10⁶ would at sf0.1 already)
        expr(s"""cast(((n * sxy - cast(sx as $d38) * sy) * 1000000
                div (n * sxx - cast(sx as $d38) * sx))
                * ((n * sxy - cast(sx as $d38) * sy) * 1000000
                div (n * syy - cast(sy as $d38) * sy))
                div 1000000 as bigint)""")
          .as("r2_e6"))
      .orderBy(col("brand"))
  }

  /** Theil T inequality of customer revenue, decomposed by nation —
    * the additive inequality index (unlike Gini): T = T_between +
    * Σ s_g·T_g with T_g = (1/N_g)Σ(xᵢ/μ_g)ln(xᵢ/μ_g). Every log term
    * is e9-floored from exact cents BEFORE its sum (the [[jsDivQ]]
    * discipline), group shares are truncating e6 integers, and the
    * between term ships per nation so Σ checks out by eye. One
    * customer-revenue aggregate (custkey shuffle), one
    * nation-support-bounded rollup.
    */
  def theilQ(spark: SparkSession, sfDir: String): DataFrame = {
    val custRev = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice")).cast("long")).as("x"))
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nat"), col("x"))
    val g = custRev.groupBy(col("nat"))
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"))
    val tot = g.groupBy()
      .agg(sum(col("n_g")).as("nn"), sum(col("s_g")).as("ss"))
    val within = custRev.join(broadcast(g), "nat")
      .select(col("nat"),
        floor((col("x").cast("double") * col("n_g") / col("s_g"))
          * log(col("x").cast("double") * col("n_g") / col("s_g"))
          * 1000000000.0 + 0.5).cast("long").as("term_e9"))
      .groupBy(col("nat")).agg(sum(col("term_e9")).as("tsum_e9"))
    g.join(within, "nat").crossJoin(broadcast(tot))
      .select(col("nat"), col("n_g"), col("s_g"),
        expr("s_g * 1000000 div ss").as("share_e6"),
        expr("tsum_e9 div n_g").as("theil_within_e9"),
        floor((col("s_g").cast("double") / col("ss"))
          * log((col("s_g").cast("double") * col("nn"))
            / (col("ss").cast("double") * col("n_g")))
          * 1000000000.0 + 0.5).cast("long").as("between_term_e9"))
      .orderBy(col("nat"))
  }

  /** Schuster power per candidate period p ∈ 2..10 days of the daily
    * event volume (p, power) — the grid [[periodogramQ]] and
    * [[spectralEntropyQ]] read: n-scaled exact centering, e9-floored
    * cos/sin weights per (day, period) cell, decimal(38) dot products.
    */
  private def periodPower(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyCounts(spark, sfDir)
    val g = daily.groupBy()
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"), min(col("d")).as("d0"))
    val grid = broadcast(
      daily.sparkSession.range(2, 11).select(col("id").as("p")))
    val cells = daily.crossJoin(broadcast(g)).crossJoin(grid)
      .select(col("p"), col("n"),
        (col("n") * col("x") - col("s")).as("y"),
        floor(cos(lit(2.0) * acos(lit(-1.0)) * (col("d") - col("d0")) / col("p"))
          * 1000000000.0 + 0.5).cast("long").as("c"),
        floor(sin(lit(2.0) * acos(lit(-1.0)) * (col("d") - col("d0")) / col("p"))
          * 1000000000.0 + 0.5).cast("long").as("sn"))
    // descale the e9 weight factor BEFORE squaring — sc² at full e9²
    // scale would pass decimal(38) here but not at a 100 TB daily
    // volume; (sc div 1e9)² keeps ~10 more decades of headroom
    cells.groupBy(col("p"), col("n"))
      .agg(sum(expr("cast(y as decimal(38,0)) * c")).as("sc"),
        sum(expr("cast(y as decimal(38,0)) * sn")).as("ss"))
      .select(col("p"),
        expr("""cast((sc div 1000000000) * (sc div 1000000000)
                + (ss div 1000000000) * (ss div 1000000000) as bigint)""")
          .as("power"))
  }

  /** Schuster periodogram of the daily event volume — spectral power
    * at each candidate period p ∈ 2..10 days, the "is there a weekly
    * cycle" detector that [[decomposeQ]]'s fixed-7 seasonal split
    * assumes an answer to. The series is mean-centered EXACTLY by
    * n-scaling (y_d = n·x_d − S, the [[cusumQ]] device), each cos/sin
    * weight is e9-floored per (day, period) cell before the integer
    * dot products, and power = (Σy·c)² + (Σy·s)² runs in decimal(38).
    * Day spine × 9 periods — everything after the daily aggregate is
    * support-bounded.
    */
  def periodogramQ(spark: SparkSession, sfDir: String): DataFrame = {
    val pw = periodPower(spark, sfDir)
    val mx = pw.groupBy().agg(max(col("power")).as("max_power"))
    pw.crossJoin(broadcast(mx))
      .select(col("p"), col("power"),
        (col("power") === col("max_power")).as("is_dominant"))
      .orderBy(col("p"))
  }

  /** Spectral entropy / flatness of the [[periodogramQ]] power grid —
    * the one-number "is this series periodic or noise?" readout on top
    * of the period sweep (flatness → 1 means white-noise-flat power,
    * → 0 means one period owns the spectrum — the gate that decides
    * whether [[decomposeQ]]'s seasonal split is even warranted):
    * identical e9-floored cos/sin moment computation, then
    * H = Σ (Pᵢ/ΣP)·ln(ΣP/Pᵢ) with each term e9-floored before the
    * period-grid sum ([[mutualInfoQ]] discipline), flatness = H/ln(K)
    * at e6, and the dominant period's power share. Everything after
    * the daily aggregate is a 9-row grid.
    */
  def spectralEntropyQ(spark: SparkSession, sfDir: String): DataFrame = {
    val pw = periodPower(spark, sfDir)
    val tot = pw.groupBy()
      .agg(sum(col("power")).as("tp"), max(col("power")).as("mp"),
        count(lit(1)).as("kk"))
    pw.crossJoin(broadcast(tot))
      .select(col("p"), col("power"), col("tp"), col("mp"), col("kk"),
        when(col("power") === 0, 0L).otherwise(floor(
          (col("power") / col("tp"))
            * log(col("tp").cast("double") / col("power"))
            * 1000000000.0 + 0.5).cast("long")).as("term_e9"))
      .groupBy(col("kk"))
      .agg(sum(col("term_e9")).as("h_e9"),
        max(expr("mp * 1000000 div tp")).as("dominant_share_e6"))
      .select(col("kk").as("n_periods"), col("h_e9"),
        floor(col("h_e9").cast("double")
          / log(col("kk").cast("double")) / 1000.0 + 0.5)
          .cast("long").as("flatness_e6"),
        col("dominant_share_e6"))
  }

  /** Yule-Walker AR(2) fit of the daily event volume — the
    * autoregressive structure readout one order above [[ar1Q]]:
    * exact integer autocovariances g₀,g₁,g₂ of the n-scaled centered
    * series (lag pairs by equi-join on the day spine), then
    * φ₁ = (g₁g₀−g₁g₂)/(g₀²−g₁²), φ₂ = (g₂g₀−g₁²)/(g₀²−g₁²) as
    * truncating e6 integers in decimal(38) (g₀² ~ 10²² already), and
    * the innovation-variance ratio 1 − (φ₁g₁+φ₂g₂)/g₀. One daily
    * aggregate; everything else is support-sized.
    */
  def yuleWalkerQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = dailyCounts(spark, sfDir)
    val g = daily.groupBy().agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val y = daily.crossJoin(broadcast(g))
      .select(col("d"), (col("n") * col("x") - col("s")).as("y"), col("n"))
    val b = y.select(col("d").as("db"), col("y").as("yb"))
    def gamma(lag: Int) = y
      .join(b, col("db") === col("d") + lag)
      .groupBy().agg(sum(expr(s"cast(y as $d38) * yb")).as(s"g$lag"))
    // φ ratios run on 10⁻⁶-descaled autocovariances: the ratio is
    // scale-invariant (truncation noise ~10⁻¹² relative here) and the
    // squared terms keep decimal(38) headroom at 100 TB daily volumes
    y.groupBy().agg(max(col("n")).as("n_days")).crossJoin(broadcast(gamma(0)))
      .crossJoin(broadcast(gamma(1))).crossJoin(broadcast(gamma(2)))
      .select(col("n_days"), expr("g0 div 1000000").as("gd0"),
        expr("g1 div 1000000").as("gd1"), expr("g2 div 1000000").as("gd2"))
      .select(col("n_days"),
        col("gd0").cast("long").as("g0_e_6"),
        col("gd1").cast("long").as("g1_e_6"),
        col("gd2").cast("long").as("g2_e_6"),
        expr("cast((gd1 * gd0 - gd1 * gd2) * 1000000 div (gd0 * gd0 - gd1 * gd1) as bigint)")
          .as("phi1_e6"),
        expr("cast((gd2 * gd0 - gd1 * gd1) * 1000000 div (gd0 * gd0 - gd1 * gd1) as bigint)")
          .as("phi2_e6"),
        expr("""cast(1000000 - ((gd1 * gd0 - gd1 * gd2) * 1000000
                div (gd0 * gd0 - gd1 * gd1) * gd1
              + (gd2 * gd0 - gd1 * gd1) * 1000000
                div (gd0 * gd0 - gd1 * gd1) * gd2) div gd0 as bigint)""")
          .as("resid_ratio_e6"))
  }

  /** Wald SPRT on the purchase rate at daily granularity — the
    * always-on sequential monitor that stops a test the moment the
    * evidence crosses a boundary, unlike the fixed-horizon
    * [[abTestQ]]: H₀ p=0.18 vs H₁ p=0.22, α=β=0.05. Each day adds
    * k·ln(p₁/p₀) + (n−k)·ln(q₁/q₀) to the log-likelihood ratio; the
    * log constants are SHARED e9 literals (the [[benfordQ]] device) so
    * both engines accumulate identical integers, and the cumulative
    * walk is a window over the day spine (calendar-bounded). Emits
    * the whole trajectory with per-day verdicts and flags the first
    * boundary crossing.
    */
  def sprtQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val la = 200670695L // floor(ln(0.22/0.18)*1e9+0.5)
    val lb = -50010421L // floor(ln(0.78/0.82)*1e9+0.5)
    val bound = 2944438979L // floor(ln(19)*1e9+0.5), ln((1-b)/a), a=b=0.05
    val daily = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("d"),
        (col("event_type") === "purchase").as("conv"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("trials"),
        sum(when(col("conv"), 1L).otherwise(0L)).as("conv"))
      .withColumn("llr_day_e9",
        col("conv") * la + (col("trials") - col("conv")) * lb)
    val w = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("d")))
      .orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val c = daily.withColumn("llr_cum_e9", sum(col("llr_day_e9")).over(w))
      .withColumn("decision",
        when(col("llr_cum_e9") >= bound, "h1")
          .when(col("llr_cum_e9") <= -bound, "h0")
          .otherwise("continue"))
    val first = c.filter(col("decision") =!= "continue")
      .groupBy().agg(coalesce(min(col("d")), lit(Long.MaxValue)).as("fd"))
    c.crossJoin(broadcast(first))
      .select(col("d"), col("trials"), col("conv"), col("llr_day_e9"),
        col("llr_cum_e9"), col("decision"),
        (col("d") === col("fd")).as("is_first_decision"))
      .orderBy(col("d"))
  }

  /** Yule's K vocabulary-richness index per source (+ Herdan's C) —
    * the repetitiveness gauge that is INVARIANT to corpus size, unlike
    * a raw type/token ratio ([[mattrQ]] fixes that by windowing; K
    * fixes it analytically): K = 10⁴·(Σc² − N)/N² over the term
    * frequency spectrum, C = ln V/ln N. Σc² runs in decimal(38) from
    * exact counts; K ships at e6 by integral division, C e6-floored
    * from one double expression. One tokenize pass, one (source,token)
    * aggregate, one source-bounded rollup.
    */
  def yuleKQ(spark: SparkSession, sfDir: String): DataFrame = {
    val cnt = Tables.documents(spark, sfDir)
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) >= 2)
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
    cnt.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(expr("cast(c as decimal(38,0)) * c")).as("s2"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        expr("""cast((s2 - n_tokens) * 10000000000 div
                (cast(n_tokens as decimal(38,0)) * n_tokens) as bigint)""")
          .as("yule_k_e6"),
        floor(log(col("n_types").cast("double"))
          / log(col("n_tokens").cast("double")) * 1000000.0 + 0.5)
          .cast("long").as("herdan_c_e6"))
      .orderBy(col("source"))
  }

  /** Heaps'-law fit V ≈ K·N^β of corpus vocabulary growth — the
    * "how much new vocabulary will 10× more data buy" planner: vocab
    * size at 10 geometric doc-count checkpoints (a token counts at
    * checkpoint T iff its FIRST doc_id ≤ T — one min-aggregate, no
    * re-scan per point), token mass at each checkpoint from per-doc
    * counts, then the log-log OLS slope β and intercept ln K over the
    * ≤10 (ln N, ln V) points with e6-floored logs and decimal moments.
    * Everything after the two token aggregates is grid-bounded.
    */
  def heapsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) >= 2)
    val md = tok.groupBy().agg(max(col("doc_id")).as("md"))
    val grid = tok.sparkSession.range(0, 10).select(col("id"))
      .crossJoin(broadcast(md))
      .select(expr("md div shiftleft(1L, cast(id as int))").as("thr"))
      .distinct()
    val first = tok.groupBy(col("token")).agg(min(col("doc_id")).as("fd"))
    val vocabAt = first.crossJoin(broadcast(grid))
      .filter(col("fd") <= col("thr"))
      .groupBy(col("thr")).agg(count(lit(1)).as("vocab"))
    val massAt = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("k"))
      .crossJoin(broadcast(grid))
      .filter(col("doc_id") <= col("thr"))
      .groupBy(col("thr")).agg(sum(col("k")).as("n_tokens"))
    val pts = vocabAt.join(massAt, "thr")
      .select(col("thr"), col("n_tokens"), col("vocab"),
        floor(log(col("n_tokens").cast("double")) * 1000000.0 + 0.5)
          .cast("long").as("x"),
        floor(log(col("vocab").cast("double")) * 1000000.0 + 0.5)
          .cast("long").as("y"))
    val fit = pts.groupBy()
      .agg(count(lit(1)).as("np"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr(s"cast(x as $d38) * x")).as("sxx"),
        sum(expr(s"cast(x as $d38) * y")).as("sxy"))
      .select(
        expr(s"""cast((np * sxy - cast(sx as $d38) * sy) * 1000000
                div (np * sxx - cast(sx as $d38) * sx) as bigint)""")
          .as("beta_e6"),
        expr(s"""cast((sy - (np * sxy - cast(sx as $d38) * sy) * 1000000
                div (np * sxx - cast(sx as $d38) * sx) * sx div 1000000)
                div np as bigint)""").as("lnk_e6"))
    pts.crossJoin(broadcast(fit))
      .select(col("thr"), col("n_tokens"), col("vocab"),
        col("beta_e6"), col("lnk_e6"))
      .orderBy(col("thr"))
  }

  /** ε-differentially-private histogram release of (source, lang) doc
    * counts, ε=1: each cell gets Laplace(1/ε) noise derived from the
    * PORTABLE hash of its key — u = (h mod 10⁶ + ½)/10⁶ is an exact
    * rational strictly inside (0,1) (the half-offset keeps the odd
    * integer |2k−999999| away from 0, so ln never sees 0), then
    * x = −sign(u−½)·ln(1−2|u−½|). Hash-seeded noise makes the release
    * REPLAYABLE for this harness (the [[pseudonymizeQ]] contract);
    * production would draw real randomness per release. Cell grid is
    * source×lang-bounded; one scan.
    */
  def dpHistogramQ(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n_true"))
      .withColumn("k", pmod(TextOps.portableHash64(
        concat(col("source"), lit(":"), col("lang"))), lit(1000000L)))
    cells
      .withColumn("noise_e6", floor(
        (lit(0.0) - signum(col("k") * 2 - 999999L))
          * log((lit(1000000L) - abs(col("k") * 2 - 999999L)) / 1000000.0)
          * 1000000.0 + 0.5).cast("long"))
      .select(col("source"), col("lang"), col("n_true"), col("k").as("u_e6"),
        col("noise_e6"),
        expr("(n_true * 1000000 + noise_e6 + 500000) div 1000000")
          .as("noisy_count"))
      .orderBy(col("source"), col("lang"))
  }

  /** AIPW doubly-robust ATE of heavy clicking (≥14 clicks, the
    * [[ipwQ]] treatment) on purchase cents — consistent if EITHER the
    * linear-probability propensity e(x)=a+bx OR the per-arm linear
    * outcome models μ̂₁/μ̂₀ is right, where [[ipwQ]]'s pure stratification
    * needs the cells and a naive diff needs ignorability. All three
    * OLS fits are closed-form from ONE conditional-moment aggregate
    * (x = events per user); per-user influence values
    * ψ = μ̂₁−μ̂₀ + d(y−μ̂₁)/ê − (1−d)(y−μ̂₀)/(1−ê) run in truncating e6
    * with ê clipped to [0.05,0.95] (overlap trimming). One scan, one
    * user-key aggregate, broadcast coefficients.
    */
  def aipwQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val u = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ck"),
        sum(when(col("event_type") === "purchase",
          cents(col("value")).cast("long")).otherwise(0L)).as("y"))
      .select(col("x"), when(col("ck") >= 14, 1L).otherwise(0L).as("d"),
        col("y"))
    val m = u.groupBy()
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(expr(s"cast(x as $d38) * x")).as("sxx"),
        sum(col("d")).as("sd"),
        sum(col("x") * col("d")).as("sxd"),
        sum(when(col("d") === 1, col("y"))).as("syt"),
        sum(when(col("d") === 1, expr(s"cast(x as $d38) * y"))).as("sxyt"),
        sum(when(col("d") === 1, expr(s"cast(x as $d38) * x"))).as("sxxt"),
        sum(when(col("d") === 1, col("x"))).as("sxt"),
        sum(when(col("d") === 0, col("y"))).as("syc"),
        sum(when(col("d") === 0, expr(s"cast(x as $d38) * y"))).as("sxyc"),
        sum(when(col("d") === 0, expr(s"cast(x as $d38) * x"))).as("sxxc"),
        sum(when(col("d") === 0, col("x"))).as("sxc"))
      .withColumn("nt", col("sd"))
      .withColumn("nc", col("n") - col("sd"))
      .withColumn("b_e_e6", expr(s"""(n * sxd - cast(sx as $d38) * sd)
        * 1000000 div (n * sxx - cast(sx as $d38) * sx)"""))
      .withColumn("a_e_e6",
        expr("(cast(sd as decimal(38,0)) * 1000000 - b_e_e6 * sx) div n"))
      .withColumn("b1_e6", expr(s"""(nt * sxyt - cast(sxt as $d38) * syt)
        * 1000000 div (nt * sxxt - cast(sxt as $d38) * sxt)"""))
      .withColumn("a1_e6",
        expr(s"(cast(syt as $d38) * 1000000 - b1_e6 * sxt) div nt"))
      .withColumn("b0_e6", expr(s"""(nc * sxyc - cast(sxc as $d38) * syc)
        * 1000000 div (nc * sxxc - cast(sxc as $d38) * sxc)"""))
      .withColumn("a0_e6",
        expr(s"(cast(syc as $d38) * 1000000 - b0_e6 * sxc) div nc"))
      .select(col("n"), col("nt").cast("long").as("n_treated"),
        col("nc").cast("long").as("n_control"),
        col("b_e_e6").cast("long").as("b_e_e6"),
        col("a_e_e6").cast("long").as("a_e_e6"),
        col("b1_e6").cast("long").as("b1_e6"),
        col("a1_e6").cast("long").as("a1_e6"),
        col("b0_e6").cast("long").as("b0_e6"),
        col("a0_e6").cast("long").as("a0_e6"),
        expr("cast(cast(syt as decimal(38,0)) * 1000000 div nt\n"
          + "  - cast(syc as decimal(38,0)) * 1000000 div nc as bigint)")
          .as("naive_diff_e6"))
    val psi = u.crossJoin(broadcast(m))
      .withColumn("e_e6", greatest(lit(50000L),
        least(lit(950000L), col("a_e_e6") + col("b_e_e6") * col("x"))))
      .withColumn("m1_e6", col("a1_e6") + col("b1_e6") * col("x"))
      .withColumn("m0_e6", col("a0_e6") + col("b0_e6") * col("x"))
      .withColumn("psi_e6", expr(s"""m1_e6 - m0_e6
        + d * (cast(y as $d38) * 1000000 - m1_e6) * 1000000 div e_e6
        - (1 - d) * (cast(y as $d38) * 1000000 - m0_e6) * 1000000
            div (1000000 - e_e6)"""))
    psi.groupBy(col("n"), col("n_treated"), col("n_control"),
        col("b_e_e6"), col("b1_e6"), col("b0_e6"), col("naive_diff_e6"))
      .agg(expr("cast(sum(psi_e6) div n as bigint)")
        .as("ate_aipw_e6"))
      .select(col("n").as("n_users"), col("n_treated"), col("n_control"),
        col("b_e_e6"), col("b1_e6"), col("b0_e6"), col("naive_diff_e6"),
        col("ate_aipw_e6"))
  }

  /** 1-NN covariate matching ATT — match every treated activity level
    * to its NEAREST control activity level (ties to the smaller x) and
    * compare arm means level-by-level: the transparent cousin of
    * [[aipwQ]] (no model, just matching bias where supports differ).
    * Both arms first collapse to their VALUE SUPPORT (distinct
    * events-per-user counts — the [[mannwhitneyQ]] bounded-support
    * contract), so the NN search is a support×support join, never
    * row×row. ATT = Σ n_t·(ȳ_t − ȳ_c(match)) / Σ n_t in exact
    * truncating e6 cents.
    */
  def matchingAttQ(spark: SparkSession, sfDir: String): DataFrame = {
    val u = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ck"),
        sum(when(col("event_type") === "purchase",
          cents(col("value")).cast("long")).otherwise(0L)).as("y"))
      .select(col("x"), when(col("ck") >= 14, 1L).otherwise(0L).as("d"),
        col("y"))
    val ts = u.filter(col("d") === 1).groupBy(col("x"))
      .agg(count(lit(1)).as("n_t"), sum(col("y")).as("sy_t"))
    val cs = u.filter(col("d") === 0).groupBy(col("x").as("xc"))
      .agg(count(lit(1)).as("n_c"), sum(col("y")).as("sy_c"))
    val nn = ts.crossJoin(broadcast(cs))
      .withColumn("dist", abs(col("x") - col("xc")))
      .groupBy(col("x"), col("n_t"), col("sy_t"))
      .agg(min(struct(col("dist"), col("xc"), col("n_c"), col("sy_c")))
        .as("m"))
      .select(col("x"), col("n_t"), col("sy_t"),
        col("m.xc").as("x_matched"), col("m.n_c").as("n_c"),
        col("m.sy_c").as("sy_c"))
      .withColumn("diff_e6",
        expr("""cast(cast(sy_t as decimal(38,0)) * 1000000 div n_t
              - cast(sy_c as decimal(38,0)) * 1000000 div n_c as bigint)"""))
    val att = nn.groupBy()
      .agg(expr("""cast(sum(cast(n_t as decimal(38,0)) * diff_e6)
              div sum(n_t) as bigint)""")
        .as("att_e6"))
    nn.crossJoin(broadcast(att))
      .select(col("x"), col("n_t"), col("x_matched"), col("n_c"),
        col("diff_e6"), col("att_e6"))
      .orderBy(col("x"))
  }

  /** RANSAC robust line fit of purchase cents on events-per-user —
    * the fit that survives the whale users OLS bends toward: 64
    * hash-seeded candidate pairs (each endpoint the hash-ARGMIN over
    * the real user population — replayable and density-independent,
    * unlike an id-modulus draw), each
    * scored by its EXACT integer inlier test
    * |(y−y₁)Δx − Δy(x−x₁)| ≤ τ·|Δx| (no division, no float), best
    * round by (inliers desc, round), then one OLS refit on the best
    * model's inliers. Candidate scoring is rounds×users — linear with
    * constant 64; OLS moments in decimal(38).
    */
  def ransacQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val tau = 300000L // inlier half-width: 3000.00 in cents
    val u = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"),
        sum(when(col("event_type") === "purchase",
          cents(col("value")).cast("long")).otherwise(0L)).as("y"))
    // candidate endpoints by hash-ARGMIN over the real user
    // population (density-independent — `hash % (max_id+1)` broke on
    // the sparse-id x10 soak replica)
    val models = u
      .crossJoin(broadcast(
        u.sparkSession.range(0, 64).select(col("id").as("r"))))
      .groupBy(col("r"))
      .agg(min(struct(TextOps.portableHash64(
          concat(lit("ransac:a:"), col("r"), lit(":"), col("user_id")))
          .as("h"), col("x").as("x"), col("y").as("y"))).as("pa"),
        min(struct(TextOps.portableHash64(
          concat(lit("ransac:b:"), col("r"), lit(":"), col("user_id")))
          .as("h"), col("x").as("x"), col("y").as("y"))).as("pb"))
      .select(col("r"), col("pa.x").as("x1"), col("pa.y").as("y1"),
        col("pb.x").as("x2"), col("pb.y").as("y2"))
      .filter(col("x1") =!= col("x2"))
    val scored = u.crossJoin(broadcast(models))
      .withColumn("inlier",
        abs((col("y") - col("y1")).cast(d38) * (col("x2") - col("x1"))
          - (col("y2") - col("y1")).cast(d38) * (col("x") - col("x1")))
          <= expr(s"cast(${tau}L as $d38) * abs(x2 - x1)"))
      .groupBy(col("r"), col("x1"), col("y1"), col("x2"), col("y2"))
      .agg(sum(when(col("inlier"), 1L).otherwise(0L)).as("n_inliers"))
    val best = scored
      .orderBy(col("n_inliers").desc, col("r")).limit(1)
    val refit = u.crossJoin(broadcast(best))
      .filter(
        abs((col("y") - col("y1")).cast(d38) * (col("x2") - col("x1"))
          - (col("y2") - col("y1")).cast(d38) * (col("x") - col("x1")))
          <= expr(s"cast(${tau}L as $d38) * abs(x2 - x1)"))
      .groupBy(col("r"), col("n_inliers"))
      .agg(count(lit(1)).as("nf"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(expr(s"cast(x as $d38) * x")).as("sxx"),
        sum(expr(s"cast(x as $d38) * y")).as("sxy"))
      .select(col("r").as("best_round"), col("n_inliers"),
        expr(s"""cast((nf * sxy - cast(sx as $d38) * sy) * 1000000
                div (nf * sxx - cast(sx as $d38) * sx) as bigint)""")
          .as("b_ransac_e6"),
        expr(s"""cast((cast(sy as $d38) * 1000000
                - (nf * sxy - cast(sx as $d38) * sy) * 1000000
                  div (nf * sxx - cast(sx as $d38) * sx) * sx) div nf
                as bigint)""").as("a_ransac_e6"))
    val ols = u.groupBy()
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(expr(s"cast(x as $d38) * x")).as("sxx"),
        sum(expr(s"cast(x as $d38) * y")).as("sxy"))
      .select(expr(s"""cast((n * sxy - cast(sx as $d38) * sy) * 1000000
                div (n * sxx - cast(sx as $d38) * sx) as bigint)""")
        .as("b_ols_e6"))
    refit.crossJoin(broadcast(ols))
  }

  /** Rank-1 ALS matrix factorization of the user×article view/purchase
    * count matrix — latent-factor collaborative filtering one
    * abstraction above the memory-based [[itemCfQ]]/[[slopeOneQ]]:
    * alternate uᵢ = Σr·v / Σv², vⱼ = Σr·u / Σu² over OBSERVED cells
    * only, 3 half-sweeps from v≡1, every factor a truncating e6
    * integer so both engines walk identical lattice points. Each
    * sweep is one join + one keyed aggregate on the rating table —
    * the canonical "shuffle r by item, then by user" ALS data motion
    * at any scale. Ships the article factors with popularity.
    */
  def alsRank1Q(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val r = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id").as("u"),
        (expr("event_id % 40") + 1).as("item"))
      .groupBy(col("u"), col("item")).agg(count(lit(1)).as("r"))
    // u-step against item factors v (e6): u_i = Σr·v ·1e6 div Σv²/1e6
    def uStep(v: DataFrame): DataFrame = r.join(broadcast(v), "item")
      .groupBy(col("u"))
      .agg(expr(s"""cast(sum(cast(r as $d38) * v_e6) * 1000000
              div (sum(cast(v_e6 as $d38) * v_e6) div 1000000)
              as bigint)""").as("u_e6"))
    def vStep(uf: DataFrame): DataFrame = r.join(uf, "u")
      .groupBy(col("item"))
      .agg(expr(s"""cast(sum(cast(r as $d38) * u_e6) * 1000000
              div (sum(cast(u_e6 as $d38) * u_e6) div 1000000)
              as bigint)""").as("v_e6"))
    val v0 = r.select(col("item")).distinct()
      .withColumn("v_e6", lit(1000000L))
    val u1 = uStep(v0)
    val v1 = vStep(u1)
    val u2 = uStep(v1)
    val pop = r.groupBy(col("item")).agg(sum(col("r")).as("n_ratings"))
    v1.join(pop, "item")
      .select(col("item"), col("n_ratings"), col("v_e6"))
      .crossJoin(broadcast(u2.groupBy()
        .agg(count(lit(1)).as("n_users"),
          expr("sum(u_e6) div count(1)").as("mean_u_e6"))))
      .orderBy(col("item"))
  }

  /** Functional-dependency audit over a declared candidate list — the
    * schema-profiling primitive behind key discovery and denormalization
    * checks: for each A→B candidate, the count of LHS values, the
    * count VIOLATING (|distinct B| > 1), the worst fan-out, and the
    * verdict. Each check is one (A)-keyed count-distinct aggregate —
    * the exact shape a 100 TB profiler runs per column pair; the
    * candidate list is fixed and documented, not mined.
    */
  def fdCheckQ(spark: SparkSession, sfDir: String): DataFrame = {
    def check(name: String, df: DataFrame, a: String, b: String): DataFrame =
      df.groupBy(col(a)).agg(countDistinct(col(b)).as("nb"))
        .groupBy()
        .agg(count(lit(1)).as("n_lhs"),
          sum(when(col("nb") > 1, 1L).otherwise(0L)).as("n_violating"),
          max(col("nb")).as("max_fanout"))
        .select(lit(name).as("fd"), col("n_lhs"), col("n_violating"),
          col("max_fanout"), (col("n_violating") === 0).as("holds"))
    val orders = Tables.orders(spark, sfDir)
    val custNation = orders
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
    val partBrand = Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir), col("l_partkey") === col("p_partkey"))
    check("o_custkey->c_nationkey", custNation, "o_custkey", "c_nationkey")
      .union(check("l_partkey->p_brand", partBrand, "l_partkey", "p_brand"))
      .union(check("o_orderpriority->o_orderstatus", orders,
        "o_orderpriority", "o_orderstatus"))
      .union(check("user_id->event_type",
        Tables.events(spark, sfDir), "user_id", "event_type"))
      .union(check("l_orderkey->l_returnflag",
        Tables.lineitem(spark, sfDir), "l_orderkey", "l_returnflag"))
      .orderBy(col("fd"))
  }

  /** Histogram-based ABC inventory classification of part revenue —
    * the Pareto split (A ≈ top-80% of revenue, B to 95%, C the tail)
    * computed WITHOUT a global part sort: parts collapse onto a
    * log₂-revenue bin support (bounded ~40 bins at any data size),
    * the cumulative share walks the bin support from the top
    * (support-bounded window, allowlisted), and every part in a bin
    * inherits its class — the honest 100 TB shape where a per-part
    * rank() would be a corpus-sized single-partition sort. Ships the
    * bin table with counts, shares, and classes.
    */
  def abcAnalysisQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val partRev = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice")).cast("long")).as("rev"))
      .select(col("rev"),
        floor(log(col("rev").cast("double")) / log(lit(2.0)))
          .cast("long").as("bin"))
    val bins = partRev.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("rev_c"))
    val tot = bins.groupBy().agg(sum(col("rev_c")).as("tt"))
    val w = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("bin")))
      .orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    bins.crossJoin(broadcast(tot))
      .withColumn("cum_c", sum(col("rev_c")).over(w))
      .select(col("bin"), col("n_parts"), col("rev_c"),
        expr("rev_c * 1000000 div tt").as("share_e6"),
        expr("cum_c * 1000000 div tt").as("cum_share_e6"))
      .withColumn("abc_class",
        when(col("cum_share_e6") - col("share_e6") < 800000, "A")
          .when(col("cum_share_e6") - col("share_e6") < 950000, "B")
          .otherwise("C"))
      .orderBy(col("bin").desc)
  }

  /** Exact 1-D Wasserstein (earth-mover) distance between the first-
    * and second-half event-value distributions — the drift metric that
    * [[psiQ]]'s binned KL misses magnitude on (PSI says HOW SURE the
    * shift is, W₁ says HOW FAR the mass moved, in cents):
    * W₁ = ∫|F₁−F₂| = Σ_support |n₂·C₁(v) − n₁·C₂(v)|·gap(v) / (n₁n₂),
    * fraction-free by cross-scaling the cumulative counts. The
    * cumulative walk runs on the distinct-cents VALUE SUPPORT (the
    * [[aucQ]] contract, allowlisted); one scan, one support aggregate.
    */
  def wassersteinQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("d"),
        cents(col("value")).cast("long").as("vc"))
    val mid = h.groupBy().agg(expr("(min(d) + max(d) + 1) div 2").as("mid"))
    val sup = h.crossJoin(broadcast(mid))
      .groupBy(col("vc"))
      .agg(sum(when(col("d") < col("mid"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("d") >= col("mid"), 1L).otherwise(0L)).as("c2"))
    val tot = sup.groupBy()
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val w = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("vc")))
      .orderBy(col("vc"))
    val cum = sup
      .withColumn("cc1", sum(col("c1")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cc2", sum(col("c2")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("gap", lead(col("vc"), 1).over(w) - col("vc"))
      .filter(col("gap").isNotNull)
    cum.crossJoin(broadcast(tot))
      .select(abs(col("cc1").cast("decimal(38,0)") * col("n2")
        - col("cc2").cast("decimal(38,0)") * col("n1")).as("num"),
        col("gap"), col("n1"), col("n2"))
      .groupBy(col("n1"), col("n2"))
      .agg(sum(col("num") * col("gap")).as("s"))
      .select(col("n1"), col("n2"),
        expr("""cast(s * 1000000 div (cast(n1 as decimal(38,0)) * n2)
                as bigint)""").as("w1_cents_e6"))
  }

  /** SES forecast + Trigg tracking signal over the daily event volume
    * — the forecast-health monitor ops teams run beside [[ewmaQ]]'s
    * level chart: one exact e6 fold (the [[kaplanMeierQ]] idiom, no
    * window) carries the α=0.3 smoothed forecast, the cumulative
    * forecast error, and the 0.3-smoothed MAD; TS = CFE/MAD flags
    * systematic bias when |TS| > 4. Truncating-integer recursion both
    * engines replay bit-exactly; day-spine-bounded after one daily
    * aggregate.
    */
  def trackingSignalQ(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyCounts(spark, sfDir)
    daily
      .groupBy()
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("arr"))
      .select(explode(expr(
        """aggregate(arr,
          |  named_struct('f', -1L, 'cfe', 0L, 'smad', 0L,
          |    'out', cast(array() as array<struct<d:bigint,x:bigint,
          |      f_e6:bigint,err_e6:bigint,cfe_e6:bigint,smad_e6:bigint>>)),
          |  (acc, e) -> named_struct(
          |    'f', if(acc.f < 0L, e.x * 1000000L,
          |      acc.f + (e.x * 1000000L - acc.f) * 3L div 10L),
          |    'cfe', if(acc.f < 0L, 0L, acc.cfe + e.x * 1000000L - acc.f),
          |    'smad', if(acc.f < 0L, 0L,
          |      (abs(e.x * 1000000L - acc.f) * 3L + acc.smad * 7L) div 10L),
          |    'out', array_append(acc.out, named_struct(
          |      'd', e.d, 'x', e.x,
          |      'f_e6', if(acc.f < 0L, e.x * 1000000L, acc.f),
          |      'err_e6', if(acc.f < 0L, 0L, e.x * 1000000L - acc.f),
          |      'cfe_e6', if(acc.f < 0L, 0L, acc.cfe + e.x * 1000000L - acc.f),
          |      'smad_e6', if(acc.f < 0L, 0L,
          |        (abs(e.x * 1000000L - acc.f) * 3L + acc.smad * 7L)
          |          div 10L)))),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.d").as("d"), col("r.x").as("x"),
        col("r.f_e6").as("f_e6"), col("r.err_e6").as("err_e6"),
        col("r.cfe_e6").as("cfe_e6"), col("r.smad_e6").as("smad_e6"),
        when(col("r.smad_e6") === 0, 0L)
          .otherwise(expr("r.cfe_e6 * 1000000 div r.smad_e6")).as("ts_e6"))
      .orderBy(col("d"))
  }

  /** Engle-Granger cointegration test between daily click and view
    * volumes — "do these two series share a long-run equilibrium, or
    * does their spread wander" (the pairs-trading / coupled-metrics
    * screen [[grangerQ]]'s lead-lag test doesn't answer): stage 1 fits
    * views ~ clicks by integer OLS (e6), stage 2 regresses Δr on
    * r₋₁ — a unit root means ρ≈0. ρ and its t-stat come from exact
    * decimal(38) residual moments (residuals are themselves exact e6
    * integers); the t-stat's sqrt runs once on the final scalars. Day
    * spine only after the daily aggregates.
    */
  def cointegrationQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("y"))
    val m = daily.groupBy()
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr(s"cast(x as $d38) * x")).as("sxx"),
        sum(expr(s"cast(x as $d38) * y")).as("sxy"))
      .withColumn("b_e6", expr(s"""(n * sxy - cast(sx as $d38) * sy)
        * 1000000 div (n * sxx - cast(sx as $d38) * sx)"""))
      .withColumn("a_e6",
        expr(s"(cast(sy as $d38) * 1000000 - b_e6 * sx) div n"))
    val r = daily.crossJoin(broadcast(m.select(col("b_e6"), col("a_e6"))))
      .select(col("d"),
        (col("y") * 1000000L - col("a_e6") - col("b_e6") * col("x"))
          .as("r"))
    val rl = r.select((col("d") + 1).as("d"), col("r").as("rl"))
    val df = r.join(rl, "d")
      .select(col("rl"), (col("r") - col("rl")).as("dr"))
      .groupBy()
      .agg(count(lit(1)).as("nd"),
        sum(expr(s"cast(rl as $d38) * dr div 1000000")).as("srd"),
        sum(expr(s"cast(rl as $d38) * rl div 1000000")).as("srr"),
        sum(expr(s"cast(dr as $d38) * dr div 1000000")).as("sdd"))
      .select(col("nd"),
        expr("cast(srd * 1000000 div srr as bigint)").as("rho_e6"),
        // t = rho * sqrt(srr / s2), s2 = (sdd - rho^2 srr)/(nd-2) —
        // one double expression over the exact descaled moments
        floor(expr("""(cast(srd as double) / srr)
          * sqrt(cast(srr as double) * (nd - 2)
            / (cast(sdd as double) - cast(srd as double) * srd / srr))
          * 1000000.0""") + 0.5).cast("long").as("df_t_e6"))
    df.crossJoin(broadcast(m.select(col("n").as("n_days"),
        col("b_e6").cast("long").as("b_e6"),
        col("a_e6").cast("long").as("a_e6"))))
      .select(col("n_days"), col("b_e6"), col("a_e6"), col("nd"),
        col("rho_e6"), col("df_t_e6"))
  }

  /** Johnson-Lindenstrauss random projection (64→8 dims, hash-seeded
    * ±1 signs) with a distance-preservation audit — the dimensionality
    * cut every 100 TB embedding pipeline wants BEFORE the expensive
    * ANN build, plus the proof it didn't wreck geometry: project the
    * e6-quantized vectors through a broadcast 512-entry sign matrix
    * (one data-sized join + keyed aggregate), then check
    * ‖Pa−Pb‖²/(k·‖a−b‖²) on 100 hash-chosen pairs — E[ratio]=1 for
    * ±1 JL. Everything integer: projections are exact dot products,
    * ratios truncating e6.
    */
  def randomProjectionQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val q = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        floor(col("x").cast("double") * lit(1000000.0)).cast("long").as("qx"))
    val sess = q.sparkSession
    val signs = broadcast(sess.range(0, 8).select(col("id").as("k"))
      .crossJoin(sess.range(0, 64).select(col("id").as("dim")))
      .select(col("k"), col("dim"),
        (lit(1L) - pmod(TextOps.portableHash64(
          concat(lit("rp:"), col("k"), lit(":"), col("dim"))), lit(2L)) * 2L)
          .as("s")))
    val proj = q.join(signs, "dim")
      .groupBy(col("vec_id"), col("k"))
      .agg(sum(col("qx") * col("s")).as("y"))
    // pair endpoints by hash-ARGMIN over the actual id population —
    // never `hash % (max+1)` (sparse ids would empty the join; the x10
    // soak caught exactly that)
    val ids = Tables.embeddings(spark, sfDir).select(col("vec_id"))
    val pairs = ids
      .crossJoin(broadcast(sess.range(0, 100).select(col("id").as("pair"))))
      .groupBy(col("pair"))
      .agg(min(struct(TextOps.portableHash64(
          concat(lit("rp:a:"), col("pair"), lit(":"), col("vec_id")))
          .as("h"), col("vec_id").as("v"))).as("ma"),
        min(struct(TextOps.portableHash64(
          concat(lit("rp:b:"), col("pair"), lit(":"), col("vec_id")))
          .as("h"), col("vec_id").as("v"))).as("mb"))
      .select(col("pair"), col("ma.v").as("a"), col("mb.v").as("b"))
      .filter(col("a") =!= col("b"))
    val dOrig = pairs
      .join(q.select(col("vec_id").as("a"), col("dim"), col("qx").as("qa")), "a")
      .join(q.select(col("vec_id").as("b"), col("dim"), col("qx").as("qb")),
        Seq("b", "dim"))
      .groupBy(col("pair"), col("a"), col("b"))
      .agg(sum(expr(s"cast(qa - qb as $d38) * (qa - qb)")).as("d2o"))
    val dProj = pairs
      .join(proj.select(col("vec_id").as("a"), col("k"), col("y").as("ya")), "a")
      .join(proj.select(col("vec_id").as("b"), col("k"), col("y").as("yb")),
        Seq("b", "k"))
      .groupBy(col("pair")).agg(sum(expr(s"cast(ya - yb as $d38) * (ya - yb)"))
        .as("d2p"))
    val per = dOrig.filter(col("d2o") > 0) // identical vectors carry no info
      .join(dProj, "pair")
      .select(col("pair"), col("a"), col("b"),
        expr("cast(d2o div 1000000 as bigint)").as("d2_orig_e6"),
        expr("cast(d2p * 1000000 div (8 * d2o) as bigint)").as("ratio_e6"))
    val agg = per.groupBy()
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(ratio_e6) div count(1)").as("mean_ratio_e6"),
        max(abs(col("ratio_e6") - 1000000L)).as("max_distortion_e6"))
    per.crossJoin(broadcast(agg))
      .orderBy(col("pair"))
  }

  /** Position-bias audit (COEC — clicks over expected clicks) of
    * article engagement: a deterministic serving position
    * (event_id mod 10) stands in for the rank column a real log
    * carries; global per-position click/view rates form the prior,
    * each article's EXPECTED clicks charge its view volume through
    * that prior, and COEC = observed/expected at e6 — the
    * position-debiased popularity every recsys training-data pipeline
    * builds before learning from logged feedback. Shapes: two bounded
    * aggregates (position support ×10, article support ×40) and one
    * article×position rollup.
    */
  def positionBiasQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("view", "click"))
      .select((expr("event_id % 40") + 1).as("article"),
        (expr("event_id % 10")).as("pos"),
        (col("event_type") === "click").as("is_click"))
    val posRate = ev.groupBy(col("pos"))
      .agg(sum(when(!col("is_click"), 1L).otherwise(0L)).as("views_p"),
        sum(when(col("is_click"), 1L).otherwise(0L)).as("clicks_p"))
      // a position with clicks but no views has an undefined rate —
      // NULLIF keeps both engines at NULL (Spark div 0 is NULL, DuckDB
      // // 0 raises) and the sum below then skips that position
      .withColumn("rate_e6", expr("clicks_p * 1000000 div nullif(views_p, 0)"))
    val artPos = ev.groupBy(col("article"), col("pos"))
      .agg(sum(when(!col("is_click"), 1L).otherwise(0L)).as("views"),
        sum(when(col("is_click"), 1L).otherwise(0L)).as("clicks"))
    artPos.join(broadcast(posRate.select(col("pos"), col("rate_e6"))), "pos")
      .groupBy(col("article"))
      .agg(sum(col("views")).as("views"), sum(col("clicks")).as("clicks"),
        sum(expr("cast(views as decimal(38,0)) * rate_e6")).as("expected_e6"))
      .select(col("article"), col("views"), col("clicks"),
        expr("cast(expected_e6 div 1000000 as bigint)").as("expected"),
        expr("""cast(cast(clicks as decimal(38,0)) * 1000000000000
                div nullif(expected_e6, 0) as bigint)""").as("coec_e6"))
      .orderBy(col("article"))
  }

  /** Hashing-trick collision audit — before a 100 TB pipeline hashes
    * its vocabulary into 2¹⁰ feature buckets, this measures what the
    * trick destroys: bucket-occupancy histogram (how many buckets hold
    * k types), the type-level collision rate 1 − buckets/types, and
    * the token-MASS share sitting in collided buckets (the quantity
    * that actually moves a downstream model). One tokenize pass, one
    * type aggregate, bucket/occupancy-bounded rollups.
    */
  def featureHashingQ(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Tables.documents(spark, sfDir)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) >= 2)
      .groupBy(col("token")).agg(count(lit(1)).as("mass"))
      .select(pmod(TextOps.portableHash64(col("token")), lit(1024L))
        .as("bucket"), col("mass"))
    val buckets = types.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_types"), sum(col("mass")).as("mass"))
    val tot = buckets.groupBy()
      .agg(sum(col("n_types")).as("tt"), count(lit(1)).as("bu"),
        sum(col("mass")).as("tm"),
        sum(when(col("n_types") > 1, col("mass")).otherwise(0L)).as("cm"))
    buckets.groupBy(col("n_types").as("occupancy"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("mass")).as("mass"))
      .crossJoin(broadcast(tot))
      .select(col("occupancy"), col("n_buckets"), col("mass"),
        col("tt").as("n_types_total"), col("bu").as("n_buckets_used"),
        expr("(tt - bu) * 1000000 div tt").as("collision_rate_e6"),
        expr("cm * 1000000 div tm").as("collided_mass_e6"))
      .orderBy(col("occupancy"))
  }

  /** Count-model diagnostics on per-user-day event volume — is a
    * Poisson rate model even admissible, or is the data overdispersed
    * / zero-inflated (the question every anomaly threshold and demand
    * model gets wrong when unchecked)? Zeros come from the user×day
    * GRID SIZE (n_users·n_days, two scalars — the grid is never
    * materialized), moments from the nonzero cells only; ships the
    * variance/mean ratio, the method-of-moments negative-binomial
    * k = m²/(v−m), and observed vs Poisson-implied zero share
    * (e^{−λ} from the exact integer mean). One scan, one keyed
    * aggregate, all else scalar.
    */
  def negbinQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val cells = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(count(lit(1)).as("k"))
    val g = cells.groupBy()
      .agg(countDistinct(col("user_id")).as("nu"),
        countDistinct(col("d")).as("nd"),
        count(lit(1)).as("nz"), sum(col("k")).as("sk"),
        sum(expr(s"cast(k as $d38) * k")).as("skk"))
      .withColumn("n", col("nu") * col("nd"))
      // mean_e6 and the n-scaled variance are exact; v−m clears
      // fractions by n² (var·n² = n·Σk² − (Σk)²; mean·n² = n·Σk)
      .withColumn("mean_e6", expr("cast(sk as decimal(38,0)) * 1000000 div n"))
      .withColumn("var_e6", expr(s"""(n * skk - cast(sk as $d38) * sk)
        * 1000000 div (cast(n as $d38) * n)"""))
    g.select(col("n").as("n_cells"), (col("n") - col("nz")).as("n_zero"),
        col("mean_e6").cast("long").as("mean_e6"),
        col("var_e6").cast("long").as("var_e6"),
        // mean 0 (no events) and non-overdispersed var ≤ mean are NULL
        // on BOTH engines — a negative denominator would also split
        // them (Spark div truncates, DuckDB // floors), so the CASE
        // only divides when the MoM k is actually defined (var > mean)
        expr("cast(var_e6 * 1000000 div nullif(mean_e6, 0) as bigint)")
          .as("vmr_e6"),
        expr("""cast(case when var_e6 > mean_e6
                then mean_e6 * mean_e6 div (var_e6 - mean_e6) end
                as bigint)""").as("nb_k_e6"),
        floor(exp(-col("mean_e6").cast("double") / 1000000.0) * 1000000.0
          + 0.5).cast("long").as("pois_zero_e6"),
        expr("(n - nz) * 1000000 div n").as("obs_zero_e6"))
  }

  /** Bradley-Terry preference ranking of articles from within-user
    * click comparisons — the learning-to-rank primitive that turns
    * implicit feedback into a global item order WITHOUT assuming
    * click counts are comparable across users (only within): a beats
    * b for a user when the user clicked a more; two
    * minorization-maximization sweeps pᵢ ← Wᵢ / Σⱼ nᵢⱼ/(pᵢ+pⱼ) in
    * truncating e6. The per-user pair explode is bounded by the
    * article support (≤40² per user — linear in users); the MM sweeps
    * run on the 40×40 comparison table.
    */
  def bradleyTerryQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ua = Tables.events(spark, sfDir)
      .filter(col("event_type") === "click")
      .groupBy(col("user_id"), (expr("event_id % 40") + 1).as("a"))
      .agg(count(lit(1)).as("c"))
    val ub = ua.select(col("user_id"), col("a").as("b"), col("c").as("cb"))
    val comp = ua.join(ub, "user_id")
      .filter(col("a") =!= col("b") && col("c") =!= col("cb"))
      .groupBy(col("a"), col("b"))
      .agg(sum(when(col("c") > col("cb"), 1L).otherwise(0L)).as("w_ab"))
    val n = comp.select(col("a"), col("b"), col("w_ab"))
      .join(comp.select(col("b").as("a"), col("a").as("b"),
        col("w_ab").as("w_ba")), Seq("a", "b"), "left")
      .select(col("a"), col("b"), col("w_ab"),
        (col("w_ab") + coalesce(col("w_ba"), lit(0L))).as("n_ab"))
    val wins = n.groupBy(col("a")).agg(sum(col("w_ab")).as("w"))
    def sweep(p: DataFrame): DataFrame = n
      .join(broadcast(p.select(col("a"), col("p_e6"))), "a")
      .join(broadcast(p.select(col("a").as("b"), col("p_e6").as("pb_e6"))),
        "b")
      .groupBy(col("a"))
      .agg(sum(expr(
        "cast(n_ab as decimal(38,0)) * 1000000000000 div (p_e6 + pb_e6)"))
        .as("denom_e6"))
      .join(wins, "a")
      .select(col("a"),
        expr("cast(cast(w as decimal(38,0)) * 1000000000000 div denom_e6 as bigint)")
          .as("p_e6"))
    val p0 = wins.select(col("a"), lit(1000000L).as("p_e6"))
    val p2 = sweep(sweep(p0))
    p2.join(wins, "a")
      .select(col("a").as("article"), col("w").as("wins"), col("p_e6"))
      .orderBy(col("p_e6").desc, col("article"))
  }

  /** Kaplan-Meier with Greenwood standard errors and 95% bands — the
    * [[kaplanMeierQ]] curve made decision-grade (a point estimate
    * without bands invites overreading every wiggle): the same exact
    * e6 product fold ALSO accumulates Greenwood's Σ d/(n(n−d)) at e12,
    * then se = S·√g and the z=1.959964 bands clamp to [0, 10⁶]. The
    * sqrt runs per OUTPUT row on exact integers; everything else is
    * the KM fold's shapes (per-user reduce, support aggregate, bounded
    * fold).
    */
  def greenwoodQ(spark: SparkSession, sfDir: String): DataFrame = {
    val z = 1959964L // 1.959964 at e6
    survivalArr(spark, sfDir)
      .select(explode(expr(
        """aggregate(arr,
          |  named_struct('n', total, 's', 1000000L, 'g', 0L,
          |    'out', cast(array() as array<struct<t:bigint,n_risk:bigint,
          |      d:bigint,surv_e6:bigint,g_e12:bigint>>)),
          |  (acc, e) -> named_struct(
          |    'n', acc.n - e.dd - e.cc,
          |    's', acc.s * (acc.n - e.dd) div acc.n,
          |    'g', acc.g + if(e.dd = 0L, 0L,
          |      e.dd * 1000000000000L div (acc.n * (acc.n - e.dd))),
          |    'out', array_append(acc.out, named_struct(
          |      't', e.t, 'n_risk', acc.n, 'd', e.dd,
          |      'surv_e6', acc.s * (acc.n - e.dd) div acc.n,
          |      'g_e12', acc.g + if(e.dd = 0L, 0L,
          |        e.dd * 1000000000000L div (acc.n * (acc.n - e.dd)))))),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.t").as("t"), col("r.n_risk").as("n_risk"),
        col("r.d").as("d_churn"), col("r.surv_e6").as("surv_e6"),
        col("r.g_e12").as("g_e12"))
      .withColumn("se_e6", floor(col("surv_e6")
        * sqrt(col("g_e12").cast("double") / 1.0e12) + 0.5).cast("long"))
      .select(col("t"), col("n_risk"), col("d_churn"), col("surv_e6"),
        col("g_e12"), col("se_e6"),
        greatest(lit(0L), col("surv_e6") - expr(s"$z * se_e6 div 1000000"))
          .as("lo_e6"),
        least(lit(1000000L), col("surv_e6") + expr(s"$z * se_e6 div 1000000"))
          .as("hi_e6"))
      .orderBy(col("t"))
  }

  /** Quantile normalization — map the second half-window's value
    * distribution onto the first half's (the batch-effect remover
    * genomics popularized; for logs it makes week-2 scores comparable
    * to week-1 before thresholding): each source support value takes
    * the smallest TARGET value whose CDF ≥ its mid-CDF position. The
    * matcher is a single descending merge-walk over the UNION of the
    * two value supports (no support×support join): a target row
    * updates the carried value, a source row reads it — targets sort
    * before sources at equal positions so "≥" is exact. All positions
    * are cross-scaled exact integers (p·n₁n₂·2); support-bounded
    * window, allowlisted.
    */
  def quantileNormQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("d"),
        cents(col("value")).cast("long").as("vc"))
    val mid = h.groupBy().agg(expr("(min(d) + max(d) + 1) div 2").as("mid"))
    val sup = h.crossJoin(broadcast(mid))
      .groupBy(col("vc"))
      .agg(sum(when(col("d") < col("mid"), 1L).otherwise(0L)).as("ct"),
        sum(when(col("d") >= col("mid"), 1L).otherwise(0L)).as("cs"))
    val tot = sup.groupBy()
      .agg(sum(col("ct")).as("n1"), sum(col("cs")).as("n2"))
    val wv = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("vc")))
      .orderBy(col("vc"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // one cum pass per side, positions cross-scaled onto 2·n1·n2:
    // target cdf position = cumT·2·n2, source mid-cdf = (2·cumS−cs)·n1
    val cum = sup.crossJoin(broadcast(tot))
      .withColumn("cumt", sum(col("ct")).over(wv))
      .withColumn("cums", sum(col("cs")).over(wv))
    val t = cum.filter(col("ct") > 0)
      .select(col("vc").as("v"), lit("t").as("kind"),
        (col("cumt").cast("decimal(38,0)") * 2 * col("n2")).as("pos"))
    val s = cum.filter(col("cs") > 0)
      .select(col("vc").as("v"), lit("s").as("kind"),
        ((col("cums") * 2 - col("cs")).cast("decimal(38,0)") * col("n1"))
          .as("pos"))
    val wm = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("kind")))
      .orderBy(col("pos").desc, col("kind").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    t.union(s)
      .withColumn("mapped", min(when(col("kind") === "t", col("v"))).over(wm))
      .filter(col("kind") === "s")
      .select(col("v").as("v_src"),
        expr("cast(pos div 2 as bigint)").as("pos_x_n1n2"),
        col("mapped").as("v_mapped"))
      .orderBy(col("v_src"))
  }

  /** TURF analysis (total unduplicated reach) — which 3 articles
    * together reach the most DISTINCT users, the portfolio question a
    * per-item popularity top-k answers wrongly when audiences overlap:
    * 3 greedy max-coverage steps (the classic (1−1/e) guarantee), each
    * step one aggregate over the not-yet-covered (user, article) pairs
    * with ties to the smaller article id. The pair table is a distinct
    * view-scan; each step is a broadcast anti-filter on at most 3
    * chosen articles — no blowup at any scale.
    */
  def turfQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ua = Tables.events(spark, sfDir)
      .filter(col("event_type") === "view")
      .select(col("user_id").as("u"), (expr("event_id % 40") + 1).as("a"))
      .distinct()
    val total = ua.select(col("u")).distinct().count()
    def best(remaining: DataFrame): (Long, Long) = {
      val r = remaining.groupBy(col("a")).agg(count(lit(1)).as("reach"))
        .select(min(struct((-col("reach")).as("nr"), col("a"))).as("m"))
        .select(col("m.a"), (-col("m.nr")).as("reach"))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    val (a1, r1) = best(ua)
    val cov1 = ua.filter(col("a") === a1).select(col("u")).distinct()
    val rem1 = ua.join(broadcast(cov1), Seq("u"), "left_anti")
    val (a2, r2) = best(rem1)
    val cov2 = rem1.filter(col("a") === a2).select(col("u")).distinct()
    val rem2 = rem1.join(broadcast(cov2), Seq("u"), "left_anti")
    val (a3, r3) = best(rem2)
    val sess = ua.sparkSession
    import sess.implicits._
    Seq((1L, a1, r1, r1), (2L, a2, r2, r1 + r2), (3L, a3, r3, r1 + r2 + r3))
      .toDF("step", "article", "marginal_reach", "cum_reach")
      .withColumn("total_users", lit(total))
      .withColumn("cum_reach_e6",
        expr("cum_reach * 1000000 div total_users"))
      .orderBy(col("step"))
  }

  /** Mahalanobis outlier audit on (events, purchase-cents) per user —
    * the correlation-aware distance that catches points a per-axis
    * z-score calls normal (high spend CONSISTENT with high activity is
    * fine; high spend at low activity is not): exact n-scaled
    * deviations Ax = n·x−Sx and decimal covariance sums make
    * d² = (Ax²C_yy + Ay²C_xx − 2AxAyC_xy)·(n−1)/det one double
    * expression over exact integers — the n⁴ from Ax=n·dx in the
    * bracket cancels against the n⁴ from C=n²·SS in det, so (n−1)
    * alone converts the SS-quadratic-form into the sample-covariance
    * distance (the r10 n⁴ inflation flagged in ADVICE.md is fixed;
    * MahalanobisSpec pins d²=1.5·(n−1)/... on a 4-corner square).
    * E6-floored per user before any ordering. Ships the χ²₂ 99%
    * outlier count and the top-10 by the INTEGER d² (TakeOrdered —
    * no full sort).
    */
  def mahalanobisQ(spark: SparkSession, sfDir: String): DataFrame = {
    val u = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"),
        sum(when(col("event_type") === "purchase",
          cents(col("value")).cast("long")).otherwise(0L)).as("y"))
    mahalanobisCore(u)
  }

  /** Core of [[mahalanobisQ]] over any (user_id, x:long, y:long)
    * frame — split out so MahalanobisSpec can pin the distance on a
    * known configuration (4 corners of a square → d²=1.5 each).
    */
  def mahalanobisCore(u: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val m = u.groupBy()
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr(s"cast(x as $d38) * x")).as("sxx"),
        sum(expr(s"cast(y as $d38) * y")).as("syy"),
        sum(expr(s"cast(x as $d38) * y")).as("sxy"))
      .select(col("n"), col("sx"), col("sy"),
        expr(s"n * (n * sxx - cast(sx as $d38) * sx)").as("cxx"),
        expr(s"n * (n * syy - cast(sy as $d38) * sy)").as("cyy"),
        expr(s"n * (n * sxy - cast(sx as $d38) * sy)").as("cxy"))
    val d2 = u.crossJoin(broadcast(m))
      .withColumn("ax", expr("n * x - sx"))
      .withColumn("ay", expr(s"n * cast(y as $d38) - sy"))
      .withColumn("d2_e6", floor(
        expr("""(cast(ax as double) * ax * cast(cyy as double)
              + cast(ay as double) * ay * cast(cxx as double)
              - 2.0d * cast(ax as double) * ay * cast(cxy as double))
              * cast(n - 1 as double)
              / (cast(cxx as double) * cyy - cast(cxy as double) * cxy)""")
          * 1000000.0 + 0.5).cast("long"))
    val summary = d2.groupBy()
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("d2_e6") > 9210340L, 1L).otherwise(0L))
          .as("n_outliers"))
    d2.orderBy(col("d2_e6").desc, col("user_id")).limit(10)
      .crossJoin(broadcast(summary))
      .select(col("user_id"), col("x"), col("y"), col("d2_e6"),
        (col("d2_e6") > 9210340L).as("is_outlier"),
        col("n_users"), col("n_outliers"))
      .orderBy(col("d2_e6").desc, col("user_id"))
  }

  /** Borůvka minimum-spanning-forest over the undirected co-purchase
    * graph (weight = 10⁹ div co-occurrence count — the MST keeps the
    * STRONGEST ties) — the distributed-MST primitive (network design /
    * single-linkage backbone) that Prim/Kruskal's sequential heaps
    * can't give a cluster: 4 rounds of "every component hooks its
    * globally-min incident edge" (ties broken by (w, comp_a, comp_b) —
    * a total order, the Borůvka correctness precondition), each round
    * contracting with the textbook pointer discipline: hook → break
    * the 2-cycles to their min endpoint → 6 DOUBLING pointer jumps
    * (depth-64 budget; a pathological longer chain just rolls into the
    * next round — deterministic on both engines either way). Round 11
    * replaces the static-edge-list + per-round node-label joins with
    * textbook CONTRACTION: component labels START as node ids, so the
    * round-1 edge list needs no join at all, and each round relabels
    * the surviving cross-component edges through the COMPONENT-sized
    * pointer map (size-gated broadcast), collapsing parallel pairs to
    * their min weight. Per-round data motion is one per-comp min (map-
    * side partial) + two broadcast relabels + one shrinking pair-dedup
    * — the full |E| is shuffled once at round 1 instead of twice per
    * round, the r10 x100 wall's cost shape. Selected min structs are
    * IDENTICAL to the uncontracted form (collapsing (a,b) multi-edges
    * to min w cannot change a per-comp min over struct(w,a,b)), so the
    * label-replay DuckDB oracle is unchanged. Emits one row per round:
    * components before, edges/weight added, cumulative forest weight.
    */
  def boruvkaQ(spark: SparkSession, sfDir: String): DataFrame = Checkpoints.scoped { s =>
    // the self-join rounds read rebased checkpoints (Scope.rebase: a
    // bare checkpoint's size estimate squares per jump). The output is a
    // driver-side stats table, so the scope releases every checkpoint.
    val und = s.checkpoint(partAdjacencyEdges(spark, sfDir)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"), col("w").cast("long").as("c"))
      .filter(col("u") =!= col("v"))
      .groupBy(col("u"), col("v")).agg(sum(col("c")).as("cnt"))
      .select(col("u"), col("v"), expr("1000000000 div cnt").as("w")))
    // contracted state: `edges` = surviving cross-component edges with
    // a<b COMPONENT labels (round 1: node ids ARE the labels — no join).
    // There is NO materialized component table: every edge endpoint is
    // an ACTIVE component by construction (it has a cross edge), and a
    // component that ran out of cross edges is isolated forever — so
    // the live set is exactly minEdge's key set and the total count is
    // tracked arithmetically (inactive accumulates active − |minEdge|).
    var edges = und.select(col("w"), col("u").as("a"), col("v").as("b"))
    var inactive = 0L
    var activeBefore = 0L // round 1: every node has an incident edge
    val stats = collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var cum = 0L
    var converged = false
    for (r <- 1 to 4 if !converged) {
      val minEdge0 = edges.select(col("a").as("c"), col("w"), col("a"), col("b"))
        .union(edges.select(col("b").as("c"), col("w"), col("a"), col("b")))
        .groupBy(col("c"))
        .agg(min(struct(col("w"), col("a"), col("b"))).as("m"))
      val minEdgeR = s.rebase(minEdge0)
      val sel = minEdgeR.select(col("m.w").as("w"), col("m.a").as("a"),
        col("m.b").as("b")).distinct()
      val nMin = minEdgeR.count()
      if (r == 1) activeBefore = nMin
      val Array(nc, ne, wa) = {
        val st = sel.groupBy().agg(count(lit(1)), coalesce(sum(col("w")), lit(0L)))
          .head()
        Array(inactive + activeBefore, st.getLong(0), st.getLong(1))
      }
      inactive += activeBefore - nMin
      cum += wa
      stats += ((nc, ne, wa, cum))
      // ne == 0: converged (or isolated remainder) — later rounds select
      // nothing and merge nothing, so they are recorded below without
      // Spark work
      converged = ne == 0
      if (!converged) {
        // hook: every comp points at the other endpoint of its min edge.
        // No join, no left-coalesce: minEdge's key set IS the active set
        // (isolated comps have no cross edge and never hook again).
        val hooked = minEdgeR
          .select(col("c"), expr("if(m.a = c, m.b, m.a)").as("p"))
        // break 2-cycles to the min endpoint, keep roots self-pointing
        val pm = hooked.select(col("c").as("pc"), col("p").as("pp"))
        var ptr = s.rebase(hooked.join(pm, col("p") === col("pc"))
          .select(col("c"),
            when(col("pp") === col("c"), least(col("c"), col("p")))
              .otherwise(col("p")).as("p")))
        for (_ <- 1 to 6) {
          val m2 = ptr.select(col("c").as("pc"), col("p").as("pp"))
          ptr = s.rebase(ptr.join(m2, col("p") === col("pc"))
            .select(col("c"), col("pp").as("p")))
        }
        // contract: relabel surviving edges through the comp-sized
        // pointer map (size-gated broadcast on nc, already in hand from
        // the stats read) and collapse parallel (a,b) pairs to their min
        // weight
        def side(tag: String) =
          gatedBroadcast(ptr.select(col("c").as(tag), col("p").as(s"p$tag")), nc)
        edges = s.rebase(edges.join(side("a"), "a").join(side("b"), "b")
          .filter(col("pa") =!= col("pb"))
          .groupBy(least(col("pa"), col("pb")).as("na"),
            greatest(col("pa"), col("pb")).as("nb"))
          .agg(min(col("w")).as("w"))
          .select(col("w"), col("na").as("a"), col("nb").as("b")))
        activeBefore = ptr.select(col("p")).distinct().count()
      }
    }
    while (stats.size < 4) stats += ((stats.last._1, 0L, 0L, cum))
    val sess = spark
    import sess.implicits._
    stats.toSeq.zipWithIndex
      .map { case ((nc, ne, wa, cw), i) => (i + 1L, nc, ne, wa, cw) }
      .toDF("round", "n_comps_before", "edges_added", "weight_added",
        "cum_weight")
      .orderBy(col("round"))
  }

  /** Luby maximal-independent-set over the part-adjacency graph — the
    * symmetry-breaking primitive behind distributed coloring /
    * scheduling / landmark selection (pick a maximal set of parts no
    * two of which co-occur): 3 rounds of "join the MIS iff your hash
    * priority beats every ACTIVE neighbor's" with p(u) = Knuth
    * multiplicative mixing mod 2⁶¹−1 (a pure function of the node id —
    * no label join) made a total order by the (p, node) struct
    * tiebreak (the Luby correctness precondition; isolated actives
    * join unconditionally), then MIS ∪ N(MIS) leaves the active set.
    * Per-round motion: one active-active edge restriction (two equi
    * joins), one per-node min (map-side partial), one anti join — each
    * shrinking geometrically (Luby removes ≥ half the EDGES per round
    * in expectation). Emits one row per round (actives before, MIS
    * added, actives after, cumulative MIS) plus the independence
    * certificate: the count of graph edges with BOTH ends in the final
    * MIS, shipped as a column the oracle re-derives — 0 or the
    * operator is wrong.
    */
  def misQ(spark: SparkSession, sfDir: String): DataFrame = Checkpoints.scoped { s =>
    val ed = s.checkpoint(partAdjacencyEdges(spark, sfDir)
      .select(col("src"), col("dst")).filter(col("src") =!= col("dst")))
    // symmetrized view stays LAZY over the 45M-row directed checkpoint:
    // materializing the 90M-row distinct both-direction table is pure
    // memory cost — duplicates are harmless to every consumer here
    // (min-priority, neighbor SETS, a zero certificate count)
    val und = ed.union(ed.select(col("dst").as("src"), col("src").as("dst")))
    // the priority is a PURE FUNCTION of the node id, so the
    // min-neighbor-priority aggregate needs NO label join at all — it
    // runs straight off the maintained active-active edge subgraph
    // (which shrinks geometrically; the r11 first cut shuffle-joined a
    // V-sized priority table into the 2|E| union every round and blew
    // the x100 aggregate memory). Knuth multiplicative mixing mod the
    // Mersenne prime 2⁶¹−1 — pure codegen arithmetic (an md5-based
    // priority costs 2|E| digests in round 1 alone). The map u ↦
    // (u·2654435761 mod 2⁶⁴) mod (2⁶¹−1) is NOT a bijection (the final
    // mod folds 8 residue classes together), so priority collisions
    // are possible; the order is made TOTAL by the (p, node) struct
    // tiebreak below, which is all Luby needs (a node enters the MIS
    // only when strictly smaller than every neighbor under the total
    // order). Range assumption: u·2654435761 must not overflow long,
    // i.e. node ids < 2⁶³/2654435761 ≈ 3.5e9 — synthetic part ids are
    // ≪ that; revisit the mixer before reusing on wider id spaces
    // (ANSI mode would throw, not wrap, so a violation fails loudly).
    def pH(c: Column): Column =
      (c * lit(2654435761L)) % lit(2305843009213693951L)
    // round-1 active set is NEVER materialized as its own distinct:
    // every endpoint of `und` has at least one edge, so the min
    // aggregate's key set IS the active set (and round-1 isolated is
    // empty by the same argument) — this removes the 2|E|-row distinct
    // shuffle that dominated the r11 x100 profile's round 1.
    var active: DataFrame = null
    var prevAfter = 0L
    var e = und
    val misParts = collection.mutable.ListBuffer.empty[DataFrame]
    val stats = collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    for (r <- 1 to 3) {
      val mn = s.rebase(e.groupBy(col("src"))
        .agg(min(struct(pH(col("dst")).as("p"), col("dst").as("n"))).as("m")))
      if (r == 1) active = mn.select(col("src").as("node"))
      // active count from the round's own aggregates: |mn| in round 1,
      // the previous round's after-count later — no dedicated count job
      val before = if (r == 1) mn.count() else prevAfter
      val misEdge = s.rebase(mn
        .filter(struct(pH(col("src")).as("p"), col("src").as("n")) < col("m"))
        .select(col("src").as("node")))
      // actives with no surviving active neighbor are independent by
      // default and join unconditionally (mn's key set IS the set of
      // actives that still have one — the boruvka active-set argument);
      // round 1 has none, so its isolated anti join is skipped outright
      val mis =
        if (r == 1) misEdge
        else s.rebase(misEdge.union(active.join(
          mn.select(col("src").as("node")), Seq("node"), "left_anti")))
      misParts += mis
      val nMis = mis.count()
      // the neighbor expansion KEEPS its distinct — not for the anti
      // join's correctness (dup right-side keys are absorbed) but for
      // data motion: the aggregate dedups map-side BEFORE the shuffle,
      // so ≤V rows move instead of the dup-heavy 2|E| expansion (an
      // r12 A/B without it regressed the x10 wall 24→31 s). Only the
      // second, outer distinct over mis ∪ nbrs is gone: both inputs
      // are already narrow and the anti join tolerates their overlap.
      val nbrs = e.join(gatedBroadcast(misEdge.select(col("node").as("src")), nMis), "src")
        .select(col("dst").as("node")).distinct()
      val a2 = s.rebase(active.join(mis.union(nbrs), Seq("node"), "left_anti"))
      val nAfter = a2.count()
      stats += ((before, nMis, nAfter))
      active = a2
      prevAfter = nAfter
      if (r < 3) {
        e = s.rebase(e
          .join(gatedBroadcast(a2.select(col("node").as("src")), nAfter), Seq("src"), "left_semi")
          .join(gatedBroadcast(a2.select(col("node").as("dst")), nAfter), Seq("dst"), "left_semi")
          .select(col("src"), col("dst")))
      }
    }
    val misAll = s.checkpoint(misParts.reduce(_ union _))
    // certificate join rides size-gated broadcasts of the MIS node set
    // (MIS ≤ V ≪ 2|E|): both membership probes stay map-side over the
    // lazy symmetrized union — no edge-table shuffle (was 5 s of the
    // x100 wall as two shuffle joins)
    val nMisAll = misAll.count()
    val violations = und
      .join(gatedBroadcast(misAll.select(col("node").as("src")), nMisAll), "src")
      .join(gatedBroadcast(misAll.select(col("node").as("dst")), nMisAll), "dst")
      .count()
    val sess = spark
    import sess.implicits._
    var cum = 0L
    stats.toSeq.zipWithIndex.map { case ((b, m, a), i) =>
      cum += m
      (i + 1L, b, m, a, cum, violations)
    }.toDF("round", "active_before", "mis_added", "active_after",
        "cum_mis", "mis_edge_violations")
      .orderBy(col("round"))
  }

  /** Distributed greedy maximal matching over the part-adjacency
    * graph (3 rounds of locally-minimum edges — the edge-world sibling
    * of [[misQ]]'s Luby rounds, and the classic 2-approximation
    * certificate for minimum vertex cover: every cover must hit each
    * matched edge, so cover_size = 2|M| ≤ 2·OPT): an edge joins the
    * matching iff its (p, a, b) struct is the MINIMUM among all edges
    * at BOTH endpoints — priorities are pure functions of the
    * canonical endpoints (p = pH(a) + pH(b) < 2⁶², no mod-multiply
    * overflow; ties broken by the struct total order, which is all
    * greedy matching needs), so no label join ever runs. Per round:
    * one both-endpoint min aggregate, two equi joins to test
    * local-minimality, two anti joins to drop matched vertices — the
    * matched set within a round is vertex-disjoint BY CONSTRUCTION
    * (a vertex's min edge is unique under the total order). Emits one
    * row per round plus two certificates: match_violations (endpoint
    * covered twice — 0 or the operator is wrong) and the final
    * remaining active-edge count (maximality progress).
    */
  def matchingQ(spark: SparkSession, sfDir: String): DataFrame = Checkpoints.scoped { s =>
    def pH(c: Column): Column =
      (c * lit(2654435761L)) % lit(2305843009213693951L)
    val ced = adjPairs(spark, sfDir)
    var e = s.rebase(ced.select(col("a"), col("b"),
      (pH(col("a")) + pH(col("b"))).as("p")))
    val parts = collection.mutable.ListBuffer.empty[DataFrame]
    val stats = collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    // each round's `before` IS the previous round's `after` (same frame,
    // same lazy chain): carrying the scalar forward removes a full
    // re-evaluation of the stacked anti-join chain per round
    var carried = -1L
    for (r <- 1 to 3) {
      val before = if (carried >= 0) carried else e.count()
      val pab = struct(col("p"), col("a"), col("b"))
      // NOTE r14: an explode(array(struct,struct)) single-pass form of
      // this union measured 1.2 s faster at sf0.1 but 2.7× SLOWER at
      // the x10 soak (72 vs 26 s — per-row struct allocation in
      // Generate, the profTri HOF lesson) — reverted; the union's two
      // lazy-chain evaluations are cheap streaming maps at scale
      val inc = e.select(col("a").as("v"), pab.as("s"))
        .union(e.select(col("b").as("v"), pab.as("s")))
      // an edge is min at BOTH endpoints ⟺ its struct appears TWICE
      // among the per-vertex minima (each edge is incident to exactly
      // two vertices) — one V-row aggregate instead of two |E|-row
      // local-minimality equi joins (the r12 first cut's 129 s x100
      // wall)
      val matched = s.rebase(inc.groupBy(col("v")).agg(min(col("s")).as("m"))
        .groupBy(col("m")).agg(count(lit(1)).as("c"))
        .filter(col("c") === 2)
        .select(col("m.a").as("a"), col("m.b").as("b"), col("m.p").as("p")))
      parts += matched
      val nm = matched.count()
      // each matched edge gives two endpoint rows
      def gate(df: DataFrame): DataFrame = gatedBroadcast(df, 2 * nm)
      // the edge restriction stays LAZY over the single round-0
      // checkpoint: matching removes only 2·|M| vertices per round, so
      // the surviving edge list barely shrinks — re-materializing ~|E|
      // rows every round cost more than re-applying r stacked
      // broadcast anti joins map-side (129 → measured-below x100 wall)
      val e2 = e
        .join(gate(matched.select(col("a")).union(matched.select(col("b").as("a")))),
          Seq("a"), "left_anti")
        .join(gate(matched.select(col("a").as("b")).union(matched.select(col("b")))),
          Seq("b"), "left_anti")
      val after = e2.count()
      stats += ((before, nm, after))
      carried = after
      e = e2
    }
    val all = s.checkpoint(parts.reduce(_ union _))
    val violations = all.select(col("a").as("v"))
      .union(all.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .groupBy().agg(coalesce(sum(col("c") - 1), lit(0L)).as("x"))
      .first().getLong(0)
    val remaining = stats.last._3
    val sess = spark
    import sess.implicits._
    var cum = 0L
    stats.toSeq.zipWithIndex.map { case ((b, m, a), i) =>
      cum += m
      (i + 1L, b, m, a, cum, 2 * cum, violations, remaining)
    }.toDF("round", "edges_before", "matched_added", "edges_after",
        "cum_matched", "cover_size", "match_violations", "remaining_edges")
      .orderBy(col("round"))
  }

  /** Longest-common-subsequence similarity between user journeys —
    * the order-preserving overlap measure next to [[needlemanQ]]'s
    * gap-penalized alignment (LCS asks "how much of the journey is
    * shared in order", NW asks "how expensive is the edit"): the same
    * probe-bounded first-7-event pairs, the 7×7 DP unrolled by
    * [[lcsCells]] into codegen'd columns (no UDF, no recursion — the
    * DuckDB lateral-alias replay ceiling). Ships the LCS length and
    * the normalized e6 similarity.
    */
  def lcsSimQ(spark: SparkSession, sfDir: String): DataFrame = {
    userPairDp(spark, sfDir,
        lcsCells(i => s"element_at(a, $i)", j => s"element_at(b, $j)", 7))
      .select(col("user_a"), col("user_b"),
        col("d_7_7").cast("long").as("lcs"),
        expr("cast(d_7_7 as bigint) * 1000000 div 7").as("lcs_sim_e6"))
      .orderBy(col("user_a"), col("user_b"))
  }

  /** Intraclass correlation ICC(1,1) of daily event volume within
    * users — "is activity a stable USER trait or daily noise", the
    * reliability readout [[anovaQ]]'s F-test doesn't give (F says the
    * groups differ; ICC says how much of total variance is
    * between-user): one-way random-effects from exact integer ANOVA
    * moments with the unbalanced-design k₀ = (N − Σn²/N)/(g−1)
    * correction. One (user, day) aggregate, one user rollup, scalars.
    */
  def iccQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val cells = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(count(lit(1)).as("k"))
    val byU = cells.groupBy(col("user_id"))
      .agg(count(lit(1)).as("ng"), sum(col("k")).as("sg"),
        sum(expr(s"cast(k as $d38) * k")).as("sgg"))
    byU.groupBy()
      .agg(count(lit(1)).as("g"), sum(col("ng")).as("nn"),
        sum(col("sg")).as("st"), sum(col("sgg")).as("stt"),
        sum(expr(s"cast(sg as $d38) * sg * 1000000 div ng")).as("ssb_n"),
        sum(expr(s"cast(ng as $d38) * ng")).as("sn2"))
      // SSB = Σ sg²/ng − st²/N ; SSW = Σk² − Σ sg²/ng  (both at e6)
      .withColumn("ssb_e6",
        expr(s"ssb_n - cast(st as $d38) * st * 1000000 div nn"))
      .withColumn("ssw_e6", expr(s"cast(stt as $d38) * 1000000 - ssb_n"))
      .withColumn("msb_e6", expr("ssb_e6 div (g - 1)"))
      .withColumn("msw_e6", expr("ssw_e6 div (nn - g)"))
      .withColumn("k0_e6",
        expr(s"(nn * 1000000 - sn2 * 1000000 div nn) div (g - 1)"))
      .select(col("g").as("n_users"), col("nn").as("n_cells"),
        col("msb_e6").cast("long").as("msb_e6"),
        col("msw_e6").cast("long").as("msw_e6"),
        col("k0_e6").cast("long").as("k0_e6"),
        expr("""cast((msb_e6 - msw_e6) * 1000000
                div (msb_e6 + (k0_e6 - 1000000) * msw_e6 div 1000000)
                as bigint)""").as("icc_e6"))
  }

  /** Gumbel extreme-value fit on monthly block maxima of order value —
    * "how bad is the 100-month worst order" (capacity planning /
    * fraud-limit sizing), the tail question [[hillQ]]'s index answers
    * only asymptotically: method-of-moments β = s·√6/π and
    * μ = x̄ − γβ over the ~80 calendar-block maxima (exact cents
    * moments; γ and √6/π are SHARED double literals), then return
    * levels x_T = μ − β·ln(−ln(1−1/T)) for T ∈ {10,50,100} blocks.
    * One fact scan, one month aggregate, a 3-row grid.
    */
  def gumbelQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val blocks = Tables.orders(spark, sfDir)
      .groupBy((year(col("o_orderdate")) * 12
        + month(col("o_orderdate")) - 1).cast("long").as("m"))
      .agg(max(cents(col("o_totalprice")).cast("long")).as("mx"))
    val mo = blocks.groupBy()
      .agg(count(lit(1)).as("nb"), sum(col("mx")).as("s"),
        sum(expr(s"cast(mx as $d38) * mx")).as("ss"))
      .select(col("nb"), col("s"),
        // sample variance cleared by nb(nb−1); sqrt on the one scalar
        expr(s"""cast((nb * ss - cast(s as $d38) * s)
                div (cast(nb as $d38) * (nb - 1)) as double)""").as("v"))
      .select(col("nb"),
        (col("s").cast("double") / col("nb")).as("mean"),
        sqrt(col("v")).as("sd"))
      .select(col("nb"), col("mean"), col("sd"),
        (col("sd") * 0.7796968012336609).as("beta"))
      .select(col("nb"), col("mean"), col("sd"), col("beta"),
        (col("mean") - lit(0.5772156649015329) * col("beta")).as("mu"))
    val grid = broadcast(blocks.sparkSession.range(0, 3)
      .select(expr("element_at(array(10L, 50L, 100L), cast(id as int) + 1)")
        .as("t")))
    mo.crossJoin(grid)
      .select(col("t"), col("nb").as("n_blocks"),
        floor(col("mean") + 0.5).cast("long").as("mean_c"),
        floor(col("sd") + 0.5).cast("long").as("sd_c"),
        floor(col("mu") + 0.5).cast("long").as("mu_c"),
        floor(col("beta") + 0.5).cast("long").as("beta_c"),
        floor(col("mu") - col("beta")
          * log(-log(lit(1.0) - lit(1.0) / col("t"))) + 0.5)
          .cast("long").as("ret_c"))
      .orderBy(col("t"))
  }

  /** Adstock + response fit — the marketing-mix-model core: daily
    * click volume is carried over with geometric decay
    * a_d = c_d + λ·a_{d−1} (one exact e6 fold per λ on the day spine —
    * λ ∈ {0.3,0.5,0.7} as rational tenths so the recursion is
    * truncating-integer), then each λ's adstock series is fit to daily
    * purchase revenue by closed-form OLS and scored by R²; best λ
    * flagged (ties to the smaller λ). "How long does advertising
    * linger" answered with one scan, a 3-way grouped fold, and
    * decimal(38) moments.
    */
  def adstockQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        sum(when(col("event_type") === "purchase",
          cents(col("value")).cast("long")).otherwise(0L)).as("y"))
    val lams = broadcast(daily.sparkSession.range(0, 3)
      .select(expr("element_at(array(3L, 5L, 7L), cast(id as int) + 1)")
        .as("lam")))
    val ad = daily.crossJoin(lams)
      .groupBy(col("lam"))
      .agg(sort_array(collect_list(struct(col("d"), col("c"), col("y"))))
        .as("arr"))
      .select(col("lam"), explode(expr(
        """aggregate(arr,
          |  named_struct('a', 0L,
          |    'out', cast(array() as array<struct<d:bigint,a_e6:bigint,
          |                                        y:bigint>>)),
          |  (acc, e) -> named_struct(
          |    'a', e.c * 1000000L + lam * acc.a div 10L,
          |    'out', array_append(acc.out, named_struct(
          |      'd', e.d, 'a_e6', e.c * 1000000L + lam * acc.a div 10L,
          |      'y', e.y))),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("lam"), col("r.a_e6").as("x"), col("r.y").as("y"))
    val fits = ad.groupBy(col("lam"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr(s"cast(x as $d38) * x")).as("sxx"),
        sum(expr(s"cast(x as $d38) * y")).as("sxy"),
        sum(expr(s"cast(y as $d38) * y")).as("syy"))
      .select(col("lam"),
        expr(s"""cast((n * sxy - cast(sx as $d38) * sy) * 1000000
                div (n * sxx - cast(sx as $d38) * sx) as bigint)""")
          .as("b_e6"),
        expr(s"""cast(((n * sxy - cast(sx as $d38) * sy) * 1000000
                div (n * sxx - cast(sx as $d38) * sx))
                * ((n * sxy - cast(sx as $d38) * sy) * 1000000
                div (n * syy - cast(sy as $d38) * sy))
                div 1000000 as bigint)""").as("r2_e6"))
    val best = fits.groupBy()
      .agg(min(struct((-col("r2_e6")).as("nr"), col("lam"))).as("m"))
      .select(col("m.lam").as("best_lam"))
    fits.crossJoin(broadcast(best))
      .select((col("lam") * 100000L).as("lam_e6"), col("b_e6"), col("r2_e6"),
        (col("lam") === col("best_lam")).as("is_best"))
      .orderBy(col("lam_e6"))
  }

  /** The rater grid of the agreement queries: each event type rates
    * articles 1..40 by its event counts (`cnt` per (rater, article)),
    * zero-filled over every (rater, article) cell into column `value`.
    */
  private def raterGrid(spark: SparkSession, sfDir: String,
      value: String): DataFrame = {
    val cnt = Tables.events(spark, sfDir)
      .groupBy(col("event_type").as("rater"),
        (expr("event_id % 40") + 1).as("article"))
      .agg(count(lit(1)).as("cnt"))
    cnt.select(col("rater")).distinct()
      .crossJoin(cnt.sparkSession.range(1, 41).select(col("id").as("article")))
      .join(cnt, Seq("rater", "article"), "left")
      .withColumn(value, coalesce(col("cnt"), lit(0L)))
  }

  /** [[raterGrid]] ranked per rater by (count desc, article) in `rnk` —
    * the scaffold of [[kendallWQ]] and [[copelandQ]].
    */
  private def raterRanks(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    raterGrid(spark, sfDir, "cnt").withColumn("rnk", row_number().over(
      Window.partitionBy(col("rater"))
        .orderBy(col("cnt").desc, col("article"))))
  }

  /** Kendall's W concordance among the five event-type "raters"
    * ranking the 40 articles by volume — do click, view, purchase,
    * signup and error traffic AGREE on which articles matter (the
    * multi-rater generalization of [[kendallTauQ]]'s two-sequence
    * question): ranks are the deterministic (count desc, article)
    * total order per rater over the margin-cross scaffold (zero
    * cells included), and W = 3·Σ(2R_a − m(n+1))²/(m²(n³−n)) is exact
    * integer end to end. Rater×article-bounded everywhere after one
    * fact aggregate.
    */
  def kendallWQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val ranked = raterRanks(spark, sfDir)
    val sums = ranked.groupBy(col("article"))
      .agg(sum(col("rnk")).as("r_sum"), count(lit(1)).as("m"))
    val nRow = sums.groupBy().agg(count(lit(1)).as("n"), max(col("m")).as("m"))
    val s2 = sums.crossJoin(broadcast(nRow.select(col("n"), col("m").as("mm"))))
      .select(col("article"), col("r_sum"), col("n"), col("mm"),
        expr(s"""cast(2 * r_sum - mm * (n + 1) as $d38)
          * (2 * r_sum - mm * (n + 1))""").as("dev2"))
    val w = s2.groupBy(col("n"), col("mm"))
      .agg(sum(col("dev2")).as("s2"))
      .select(col("n"), col("mm"),
        expr(s"""cast(s2 * 3 * 1000000
                div (cast(mm as $d38) * mm * (cast(n as $d38) * n * n - n))
                as bigint)""").as("w_e6"))
    s2.join(broadcast(w), Seq("n", "mm"))
      .select(col("article"), col("r_sum"),
        col("dev2").cast("long").as("dev2"),
        col("mm").as("m_raters"), col("n").as("n_items"), col("w_e6"))
      .orderBy(col("article"))
  }

  /** Krippendorff's α (interval metric) on [[kendallWQ]]'s rater
    * scaffold — the reliability coefficient that, unlike W or κ,
    * compares OBSERVED within-item disagreement against the
    * chance disagreement of the pooled value distribution:
    * α = 1 − (SSW/(U·m(m−1))) / (SSD/(N(N−1))) with both
    * sums-of-squared-pair-differences in CLOSED FORM from moments
    * (Σ_{i<j}(xᵢ−xⱼ)² = k·Σx² − (Σx)² — no pair explode anywhere):
    * SSW from per-item moments, SSD from the pooled moments. Exact
    * integers end to end; one grid aggregate, two moment rollups,
    * α at e6 by one truncating division. Scales as the grid
    * (items × raters), not the data.
    */
  def krippendorffQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val grid = raterGrid(spark, sfDir, "x")
    val item = grid.groupBy(col("article"))
      .agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
        sum(expr(s"cast(x as $d38) * x")).as("sxx"))
      .select(col("article"), col("m"),
        expr(s"m * sxx - cast(sx as $d38) * sx").as("ssw_u"),
        col("sx"), col("sxx"))
    item.groupBy()
      .agg(count(lit(1)).as("u"), max(col("m")).as("m"),
        sum(col("ssw_u")).as("ssw"),
        sum(col("sx")).as("tx"), sum(col("sxx")).as("txx"))
      .select(col("u").as("n_items"), col("m").as("n_raters"),
        col("ssw").cast("long").as("ssw"),
        expr(s"cast(u * m * txx - cast(tx as $d38) * tx as bigint)").as("ssd"),
        expr(s"""cast((cast(u * m * txx - cast(tx as $d38) * tx as $d38)
              * u * m * (m - 1)
              - cast(ssw as $d38) * (u * m) * (u * m - 1)) * 1000000
            div (cast(u * m * txx - cast(tx as $d38) * tx as $d38)
              * u * m * (m - 1)) as bigint)""").as("alpha_e6"))
  }

  /** Page's L trend test — the ORDERED-alternative upgrade of
    * [[friedmanQ]]'s "any difference between treatments": with
    * day-of-week as the hypothesized monotone order and articles as
    * blocks, L = Σⱼ j·Rⱼ over within-block ranks detects a systematic
    * weekly ramp that an unordered rank test dilutes away. Ranks come
    * from a block-KEYED window over the (article × dow) grid (both
    * dims bounded), E[L] = n·k(k+1)²/4 exactly, Var[L] =
    * n·k²(k+1)(k²−1)/144, z at e6 through one IEEE sqrt. Emits the
    * per-dow rank sums plus the shared L/z readout.
    */
  def pageTrendQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = Tables.events(spark, sfDir)
      .groupBy((expr("event_id % 40") + 1).as("article"),
        expr("unix_micros(ts) div 86400000000 % 7").as("dow"))
      .agg(count(lit(1)).as("x"))
    val arts = cnt.select(col("article")).distinct()
    val grid = arts
      .crossJoin(cnt.sparkSession.range(0, 7).select(col("id").as("dow")))
      .join(cnt, Seq("article", "dow"), "left")
      .withColumn("x", coalesce(col("x"), lit(0L)))
    val rk = grid.withColumn("rnk", row_number().over(
      Window.partitionBy(col("article")).orderBy(col("x"), col("dow"))))
    val rs = rk.groupBy(col("dow"))
      .agg(sum(col("rnk")).as("rank_sum"), count(lit(1)).as("n_blocks"))
    val l = rs.groupBy()
      .agg(sum((col("dow") + 1L) * col("rank_sum")).as("ll"),
        max(col("n_blocks")).as("n"), count(lit(1)).as("k"))
      .select(col("ll"), col("n"), col("k"),
        expr("n * k * (k + 1) * (k + 1) div 4").as("e_l"),
        floor((col("ll") - expr("n * k * (k + 1) * (k + 1) div 4"))
          .cast("double")
          / sqrt(expr("cast(n * k * k * (k + 1) * (k * k - 1) as double)")
            / 144.0) * 1000000.0 + 0.5).cast("long").as("z_e6"))
    rs.crossJoin(broadcast(l))
      .select(col("dow"), col("rank_sum"), col("ll").as("page_l"),
        col("e_l").as("expected_l"), col("z_e6"))
      .orderBy(col("dow"))
  }

  /** Fisher's exact test on the heavy-clicker × early-churn 2×2 — the
    * small-table test [[chi2IndepQ]]'s asymptotics get wrong exactly
    * when it matters: the hypergeometric weights are walked over the
    * k-support with per-step e9-floored log ratios (the absolute
    * normalizer cancels), terms re-exponentiated RELATIVE TO THE MAX
    * and e9-floored to integers before summing (so double addition
    * order cannot move the hash), and the two-sided p sums every k at
    * least as extreme (L(k) ≤ L(k_obs)). The walk is min-margin-
    * bounded — the honest cost of EXACTNESS (at big margins use the
    * χ²); window allowlisted on that contract.
    */
  def fisherExactQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ck"),
        max(expr("unix_micros(ts) div 86400000000")).as("l"))
    val md = u.groupBy().agg(max(col("l")).as("maxd"))
    val cells = u.crossJoin(broadcast(md))
      .select((col("ck") >= 14).as("heavy"),
        (col("l") < col("maxd") - 2).as("churn"))
      .groupBy()
      .agg(sum(when(col("heavy") && col("churn"), 1L).otherwise(0L)).as("a"),
        sum(when(col("heavy"), 1L).otherwise(0L)).as("r1"),
        sum(when(!col("heavy"), 1L).otherwise(0L)).as("r2"),
        sum(when(col("churn"), 1L).otherwise(0L)).as("c1"),
        count(lit(1)).as("n"))
    val sup = cells.select(col("a"), col("r1"), col("r2"), col("c1"), col("n"),
        explode(expr("""sequence(greatest(0L, c1 - r2),
                        least(r1, c1))""")).as("k"))
    // step ratio INTO k (from k−1): ln((r1−k+1)(c1−k+1)/(k(r2−c1+k)))
    val steps = sup.withColumn("lr_e9",
      when(col("k") === greatest(lit(0L), col("c1") - col("r2")), 0L)
        .otherwise(floor(log(
          ((col("r1") - col("k") + 1).cast("double") * (col("c1") - col("k") + 1))
            / ((col("k")).cast("double") * (col("r2") - col("c1") + col("k"))))
          * 1000000000.0 + 0.5).cast("long")))
    val wk = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("k")))
      .orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = steps.withColumn("l_e9", sum(col("lr_e9")).over(wk))
    val mx = cum.groupBy().agg(max(col("l_e9")).as("lmax"))
    val terms = cum.crossJoin(broadcast(mx))
      .withColumn("t_e9", floor(exp(
        (col("l_e9") - col("lmax")).cast("double") / 1.0e9)
        * 1000000000.0 + 0.5).cast("long"))
    val lobs = terms.filter(col("k") === col("a"))
      .select(col("l_e9").as("l_obs"))
    terms.crossJoin(broadcast(lobs))
      .groupBy(col("a"), col("r1"), col("r2"), col("c1"), col("n"))
      .agg(sum(when(col("l_e9") <= col("l_obs"), col("t_e9")).otherwise(0L))
        .as("pnum"),
        sum(col("t_e9")).as("pden"))
      .select(col("a"), col("r1"), col("r2"), col("c1"), col("n"),
        expr("pnum * 1000000 div pden").as("p_two_e6"))
  }

  /** Exact binomial sign test on the daily-volume series — "are
    * above-mean days a fair coin?" with the tail probabilities EXACT
    * (no normal approximation, no logs): the day count n is
    * calendar-bounded (~31), so every C(n,j) is computed as a ratio of
    * decimal(38,0) factorials via a sequence-aggregate higher-order
    * function (31! < 10³⁴ — inside decimal range on both engines,
    * HUGEINT on DuckDB), each division exact by construction. Two-sided
    * p = min(1, 2·min(P(≤k), P(≥k))) with the 2ⁿ denominator exact.
    * The support explode is n+1 rows — grid work, zero windows.
    */
  def binomialTestQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(count(lit(1)).as("v"))
    val g = daily.groupBy()
      .agg(count(lit(1)).as("n"), sum(col("v")).as("tot"))
    val k = daily.crossJoin(broadcast(g))
      .groupBy(col("n"), col("tot"))
      .agg(sum(when(col("v") * col("n") > col("tot"), 1L).otherwise(0L)).as("k"))
    val sup = k.select(col("n"), col("k"),
      explode(expr("sequence(0L, n)")).as("j"))
      // the LONG recurrence below is exact only while its peak
      // intermediate C(n, n/2)·n < 2⁶³, i.e. n ≤ 60 — fail LOUDLY the
      // day a decade-scale calendar exceeds it instead of returning
      // silently-wrong tails (r11 ADVICE item)
      .filter(expr("assert_true(n <= 60, " +
        "'binomialTestQ: n > 60 days overflows the long C(n,j) " +
        "recurrence — route the accumulator through decimal(38,0)') is null"))
    // C(n,j) by the multiplicative recurrence with INTERLEAVED exact
    // division: after step i the accumulator is C(n−j+i, i) — always
    // integral, peaks at C(n, n/2)·n ≈ 5·10⁹ for the ~31-day calendar
    // (< 2⁶³ up to n = 60, asserted above), so plain LONG arithmetic
    // (a giant-factorial formulation overflows Spark's decimal HOF
    // silently — the bug this replaced)
    val c = sup.withColumn("cnj", expr(s"""cast(CASE WHEN j = 0 THEN 1
      ELSE aggregate(sequence(1L, j), 1L, (a, i) -> a * (n - j + i) div i)
      END as $d38)"""))
    c.groupBy(col("n"), col("k"))
      .agg(sum(when(col("j") <= col("k"), col("cnj")).otherwise(lit(0)))
          .as("s_le"),
        sum(when(col("j") >= col("k"), col("cnj")).otherwise(lit(0)))
          .as("s_ge"),
        sum(col("cnj")).as("s_tot"))
      .select(col("n").as("n_days"), col("k").as("k_above"),
        expr("cast(s_le as bigint)").as("tail_le"),
        expr("cast(s_ge as bigint)").as("tail_ge"),
        expr("""cast(least(cast(1000000 as decimal(38,0)),
              2 * least(s_le, s_ge) * 1000000 div s_tot) as bigint)""")
          .as("p_two_e6"))
  }

  /** Bartlett's test of equal order-value variances across the five
    * order priorities — the homoscedasticity gate an ANOVA ([[anovaQ]])
    * silently assumes and [[leveneQ]] tests robustly (Bartlett is the
    * likelihood-ratio version: more powerful under normality, fragile
    * outside it — shipping both is the honest pair): per-group and
    * pooled variances as exact integer rationals, ln of each taken
    * once per GROUP (k+1 e9-floored logs — the [[mutualInfoQ]]
    * discipline on a bounded grid), the Bartlett correction C in
    * closed form, T = [(N−k)·lnSp² − Σ(nᵢ−1)·lnSᵢ²]/C at e6. One
    * data-sized aggregate; everything after is 5 rows.
    */
  def bartlettQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority").as("grp"),
        cents(col("o_totalprice")).cast("long").as("x"))
    val pg = o.groupBy(col("grp"))
      .agg(count(lit(1)).as("ni"), sum(col("x")).as("sx"),
        sum(expr(s"cast(x as $d38) * x")).as("sxx"))
      // ni·Σx²−(Σx)² over ni(ni−1) — exact rational, ln'd once per group
      .withColumn("ln_si2_e9", floor(
        log(expr(s"cast(ni * sxx - cast(sx as $d38) * sx as double)")
          / expr(s"cast(cast(ni as $d38) * (ni - 1) as double)"))
          * 1000000000.0 + 0.5).cast("long"))
    val pool = pg.groupBy()
      .agg(count(lit(1)).as("kk"), sum(col("ni")).as("nn"),
        sum(expr(s"(ni * sxx - cast(sx as $d38) * sx) div (ni - 1)"))
          .as("ssp"),
        sum(expr("(ni - 1) * ln_si2_e9")).as("sum_w_ln"),
        sum(expr("cast(1000000000 as bigint) div (ni - 1)")).as("inv_e9"))
      .withColumn("ln_sp2_e9", floor(
        log(col("ssp").cast("double") / (col("nn") - col("kk")).cast("double"))
          * 1000000000.0 + 0.5).cast("long"))
      .withColumn("c_e9",
        lit(1000000000L) + (col("inv_e9") - lit(1000000000L) / (col("nn") - col("kk")))
          / ((col("kk") - 1L) * 3L))
      .select(col("kk").as("n_groups"), col("nn").as("n_total"),
        (col("kk") - 1L).as("df"),
        floor(((col("nn") - col("kk")) * col("ln_sp2_e9") - col("sum_w_ln"))
          .cast("double") / col("c_e9").cast("double") * 1000000.0 + 0.5)
          .cast("long").as("bartlett_e6"))
    pg.select(col("grp"), col("ni"), col("ln_si2_e9"))
      .crossJoin(broadcast(pool))
      .orderBy(col("grp"))
  }

  /** Chebyshev tail certificate of the order-value distribution —
    * observed P(|X−μ| ≥ kσ) against the distribution-free 1/k² bound
    * for k ∈ {1, 1.5, 2, 3}: the data-quality alarm that needs NO
    * model (an observed tail above the bound is arithmetically
    * impossible — it can only mean the pipeline's μ/σ and the data
    * disagree, i.e. drift or corruption mid-stream). The per-row test
    * (n·x − S)²·(10·k)²-free form 100·(nx−S)² ≥ k²ₑ₁·(nΣx²−S²) is
    * EXACT integer arithmetic on both engines — no sqrt, no float
    * anywhere. One scan, one moment row, a 4-row k-grid.
    */
  def chebBoundQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val o = Tables.orders(spark, sfDir)
      .select(cents(col("o_totalprice")).cast("long").as("x"))
    val m = o.groupBy()
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(expr(s"cast(x as $d38) * x")).as("sxx"))
      .withColumn("ss", expr(s"n * sxx - cast(s as $d38) * s"))
    val ks = o.sparkSession.range(0, 4)
      .select(expr("element_at(array(10L, 15L, 20L, 30L), cast(id + 1 as int))")
        .as("k_e1"))
    o.crossJoin(broadcast(m)).crossJoin(broadcast(ks))
      .groupBy(col("k_e1"), col("n"))
      .agg(sum(when(
        expr(s"cast(n * x - s as $d38) * (n * x - s) * 100 >= k_e1 * k_e1 * ss"),
        1L).otherwise(0L)).as("n_tail"))
      .select(col("k_e1"), col("n").as("n_orders"), col("n_tail"),
        expr("n_tail * 1000000 div n").as("observed_e6"),
        expr("100000000 div (k_e1 * k_e1)").as("bound_e6"),
        expr("n_tail * 1000000 div n <= 100000000 div (k_e1 * k_e1)")
          .as("bound_holds"))
      .orderBy(col("k_e1"))
  }

  /** Hoeffding tail certificate on hash-partitioned order-value
    * sample means — the bounded-support companion of [[chebBoundQ]]
    * (Chebyshev needs only a variance; Hoeffding trades the
    * observed support range for an EXPONENTIAL bound, the inequality
    * every "is this sample big enough" sizing rule leans on): orders
    * are split into ~100-row groups by portable hash, each group's
    * mean deviation from the global mean is tested at ε = k·(b−a)/100
    * as an exact cross-multiplied integer predicate
    * |sum_g·n − s·m_g| ≥ ε·m_g·n, and the observed exceed fraction is
    * compared to the mean of the per-group two-sided bounds
    * min(1, 2·exp(−2·m_g·ε²/(b−a)²)) — one e9-floored exp per
    * (group, k), the [[fisherExactQ]] discipline. One orders scan,
    * one group reduce, a 4-row k grid.
    */
  def hoeffdingBoundQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), cents(col("o_totalprice")).cast("long").as("x"))
    val m = o.groupBy()
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        min(col("x")).as("lo"), max(col("x")).as("hi"))
      .select(col("n"), col("s"), (col("hi") - col("lo")).as("range"),
        greatest(expr("n div 100"), lit(1L)).as("ngrp"))
    val g = o.crossJoin(broadcast(m))
      .groupBy(pmod(TextOps.portableHash64(
        concat(lit("hoeff:"), col("o_orderkey"))), col("ngrp")).as("grp"))
      .agg(count(lit(1)).as("mg"), sum(col("x")).as("sumg"))
    val ks = o.sparkSession.range(0, 4)
      .select(expr("element_at(array(3L, 5L, 8L, 12L), cast(id + 1 as int))")
        .as("k_pct"))
    g.crossJoin(broadcast(m)).crossJoin(broadcast(ks))
      .select(col("k_pct"), col("ngrp"),
        when(expr(s"""abs(cast(sumg as $d38) * n - cast(s as $d38) * mg)
             >= cast(k_pct * range div 100 as $d38) * mg * n"""), 1L)
          .otherwise(0L).as("exceed"),
        // exponent −2·m_g·(k/100)²: the product m_g·k² is EXACT integer
        // before the one double division, so both engines feed exp the
        // same IEEE value
        floor(least(lit(1000000000.0),
          lit(2.0e9) * exp((col("mg") * col("k_pct") * col("k_pct") * -2L)
            .cast("double") / 10000.0))).cast("long")
          .as("bound_e9"))
      .groupBy(col("k_pct"))
      .agg(max(col("ngrp")).as("n_groups"), sum(col("exceed")).as("n_exceed"),
        sum(col("bound_e9")).as("sb"))
      .select(col("k_pct"), col("n_groups"), col("n_exceed"),
        expr("n_exceed * 1000000 div n_groups").as("observed_e6"),
        expr("sb div (n_groups * 1000)").as("bound_e6"),
        expr("n_exceed * 1000000 div n_groups <= sb div (n_groups * 1000)")
          .as("bound_holds"))
      .orderBy(col("k_pct"))
  }

  /** Posting-list compression audit over the top-20 document-frequency
    * tokens — the index-size planning readout behind every inverted
    * index ([[boolSearchQ]]'s postings at 100 TB are a storage line
    * item): per token, the exact Elias-Fano size n·(ℓ+2) bits with
    * ℓ = max(0, ⌊log₂(U/n)⌋) (integer bit-length arithmetic —
    * length(bin(x)) on both engines, zero floats) and the
    * delta-varint size Σ 1+⌊(bitlen(gap)−1)/7⌋ bytes over the
    * doc-gap stream (lag window PER TOKEN — never singleton), against
    * the raw n·bitlen(U) baseline. One tokenize scan, one distinct
    * posting aggregate, a broadcast top-20 token shortlist.
    */
  def indexSizeQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val post = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) >= 2)
      .groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val u = post.groupBy().agg((max(col("doc_id")) + 1).as("uu"))
    val top = post.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token")).limit(20)
    val w = Window.partitionBy(col("token")).orderBy(col("doc_id"))
    post.join(broadcast(top), "token")
      .withColumn("gap", col("doc_id") - coalesce(lag(col("doc_id"), 1).over(w),
        lit(-1L)))
      .select(col("token"), col("df"), col("gap"))
      .crossJoin(broadcast(u))
      .groupBy(col("token"), col("df"), col("uu"))
      .agg(sum(expr("1 + (length(bin(gap)) - 1) div 7")).as("varint_bytes"))
      .select(col("token"), col("df").as("n_postings"),
        (col("df") * length(bin(col("uu") - 1))).as("raw_bits"),
        (col("df") * (greatest(length(bin(expr("uu div df"))) - 1, lit(0)) + 2))
          .as("ef_bits"),
        col("varint_bytes"),
        expr("df * (greatest(length(bin(uu div df)) - 1, 0) + 2) * 1000000 div df")
          .as("ef_bits_per_posting_e6"),
        expr("""df * (greatest(length(bin(uu div df)) - 1, 0) + 2) * 1000000
               div (df * length(bin(uu - 1)))""").as("ef_vs_raw_e6"))
      .orderBy(col("n_postings").desc, col("token"))
  }

  /** Birthday-bound audit of the [[featureHashingQ]] 1024-bucket
    * table — observed pairwise collisions Σ C(n_b, 2) against the
    * analytic E = C(T, 2)/B (the birthday approximation every
    * hashing-trick sizing decision rests on): a healthy hash sits
    * within a few percent of E; a big excess means the hash is biased
    * on this vocabulary, a deficit means it is anti-correlated with
    * it. Exact integer collision counts; ratio at e6. One tokenize,
    * one type aggregate, bucket-bounded rollup.
    */
  def birthdayCollisionQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val types = Tables.documents(spark, sfDir)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) >= 2)
      .select(col("token")).distinct()
      .select(pmod(TextOps.portableHash64(col("token")), lit(1024L)).as("bucket"))
    types.groupBy(col("bucket")).agg(count(lit(1)).as("nb"))
      .groupBy()
      .agg(sum(col("nb")).as("t"), count(lit(1)).as("used"),
        sum(expr(s"cast(nb as $d38) * (nb - 1) div 2")).as("obs"))
      .withColumn("expected",
        expr(s"cast(t as $d38) * (t - 1) div 2 div 1024"))
      .select(col("t").as("n_types"), col("used").as("n_buckets_used"),
        col("obs").cast("long").as("observed_collisions"),
        col("expected").cast("long").as("expected_collisions"),
        expr(s"""cast(cast(obs as $d38) * 1000000
              div nullif(expected, 0) as bigint)""").as("ratio_e6"))
  }

  /** Turning-point test of daily-volume randomness — counts strict
    * local maxima/minima in the day-ordered series (an i.i.d. sequence
    * has E = 2(n−2)/3 of them; too few = trend, too many = rapid
    * oscillation/negative autocorrelation — the cheap "is there ANY
    * serial structure" screen before [[acfQ]] commits to lags): lag
    * and lead over the calendar spine, exact integer counts, z at e6
    * through the one IEEE sqrt of the closed-form variance
    * (16n−29)/90. The window is the day spine (calendar-bounded —
    * WindowLint-allowlisted on that contract).
    */
  def turningPointsQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(count(lit(1)).as("v"))
    val w = Window.partitionBy(
      graft.functions.GraftFunctions.singleton_key(col("d"))).orderBy(col("d"))
    daily
      .withColumn("pv", lag(col("v"), 1).over(w))
      .withColumn("nv", lead(col("v"), 1).over(w))
      .filter(col("pv").isNotNull && col("nv").isNotNull)
      .withColumn("tp", when(
        (col("pv") < col("v") && col("v") > col("nv")) ||
          (col("pv") > col("v") && col("v") < col("nv")), 1L).otherwise(0L))
      .groupBy().agg((count(lit(1)) + 2L).as("n"), sum(col("tp")).as("n_turns"))
      .select(col("n").as("n_days"), col("n_turns"),
        expr("(2 * (n - 2)) * 1000000 div 3").as("expected_e6"),
        floor((col("n_turns") * 3L - (col("n") - 2L) * 2L).cast("double") / 3.0
          / sqrt((col("n") * 16L - 29L).cast("double") / 90.0)
          * 1000000.0 + 0.5).cast("long").as("z_e6"))
  }

  /** Fano factor (index of dispersion) of event arrivals at three
    * timescales — Poisson traffic has VMR ≈ 1 at EVERY scale; rising
    * VMR with window size is the signature of bursty/self-exciting
    * load that a single-scale [[negbinQ]] readout can't show. Zero
    * windows enter through the CALENDAR span (T = range/scale + 1 —
    * two scalars, the grid never materializes); variance is
    * fraction-cleared: VMR = (T·Σk² − N²)/(T·N). One scan, one
    * (scale, window) aggregate, scale-bounded rollup.
    */
  def fanoQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val sess = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 1000000").as("s"))
    val scales = broadcast(sess.sparkSession.range(0, 3)
      .select(expr("element_at(array(60L, 600L, 3600L), cast(id as int) + 1)")
        .as("scale")))
    val wc = sess.crossJoin(scales)
      .groupBy(col("scale"), expr("s div scale").as("w"))
      .agg(count(lit(1)).as("k"))
    val span = sess.groupBy()
      .agg(min(col("s")).as("s0"), max(col("s")).as("s1"))
    wc.groupBy(col("scale"))
      .agg(sum(col("k")).as("nev"), count(lit(1)).as("nz"),
        sum(expr(s"cast(k as $d38) * k")).as("s2"))
      .crossJoin(broadcast(span))
      .withColumn("t", expr("s1 div scale - s0 div scale + 1"))
      .select(col("scale").as("scale_s"), col("t").as("t_windows"),
        col("nev").as("n_events"), (col("t") - col("nz")).as("n_zero"),
        expr("cast(cast(nev as decimal(38,0)) * 1000000 div t as bigint)")
          .as("mean_e6"),
        expr(s"""cast((t * s2 - cast(nev as $d38) * nev) * 1000000
                div (cast(t as $d38) * nev) as bigint)""").as("vmr_e6"))
      .orderBy(col("scale_s"))
  }

  /** Entropy rate of the per-user event-type process — how many nats
    * of genuine surprise each next action carries once the previous
    * action is known, H(X₂|X₁) = Σ p(ij)·ln(nᵢ/nᵢⱼ): the compressibility
    * / predictability ceiling for journey models that
    * [[transitionsQ]]'s raw matrix doesn't summarize. Bigrams come
    * from a user-keyed lag (ordered by event_id — a real key, no
    * singleton); every cell term is e9-floored from exact counts.
    * Ships the 5×5 cells with the rate and the unconditional [[entropyQ]]-style
    * H(X) for the "memory buys this much" comparison.
    */
  def entropyRateQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val bi = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type").as("cur"))
      .withColumn("prev", lag(col("cur"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("nij"))
    val mi = bi.groupBy(col("prev")).agg(sum(col("nij")).as("ni"))
    val tot = bi.groupBy().agg(sum(col("nij")).as("nn"))
    val cells = bi.join(broadcast(mi), "prev").crossJoin(broadcast(tot))
      .withColumn("term_e9", floor(
        (col("nij") / col("nn"))
          * log(col("ni").cast("double") / col("nij"))
          * 1000000000.0 + 0.5).cast("long"))
    val rate = cells.groupBy().agg(sum(col("term_e9")).as("h_rate_e9"))
    val hx = mi.crossJoin(broadcast(tot)).groupBy()
      .agg(sum(floor((col("ni") / col("nn"))
        * log(col("nn").cast("double") / col("ni"))
        * 1000000000.0 + 0.5).cast("long")).as("h_marg_e9"))
    cells.crossJoin(broadcast(rate)).crossJoin(broadcast(hx))
      .select(col("prev"), col("cur"), col("nij"), col("ni"),
        col("term_e9"), col("h_rate_e9"), col("h_marg_e9"))
      .orderBy(col("prev"), col("cur"))
  }

  /** Segmented (broken-stick) regression of the daily event trend —
    * WHERE did the trend change, not just whether the level did (the
    * slope-aware sibling of [[changepointQ]]'s CUSUM): every interior
    * day is a candidate breakpoint, left/right OLS SSEs come from ONE
    * cumulative-moment pass over the day spine (calendar-bounded
    * windows, allowlisted), each SSE one double expression over exact
    * integer moments, best split = min total SSE (ties to the earlier
    * day). Ships the whole SSE curve so the break's sharpness is
    * visible.
    */
  def segRegressionQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val daily0 = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(count(lit(1)).as("x"))
    val d0 = daily0.groupBy().agg(min(col("d")).as("dmin"))
    val daily = daily0.crossJoin(broadcast(d0))
      .select((col("d") - col("dmin")).as("t"), col("x"))
    val wd = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("t")))
      .orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = daily
      .withColumn("cn", count(lit(1)).over(wd))
      .withColumn("csx", sum(col("t")).over(wd))
      .withColumn("csy", sum(col("x")).over(wd))
      .withColumn("csxx", sum(expr(s"cast(t as $d38) * t")).over(wd))
      .withColumn("csxy", sum(expr(s"cast(t as $d38) * x")).over(wd))
      .withColumn("csyy", sum(expr(s"cast(x as $d38) * x")).over(wd))
    val tot = cum.groupBy()
      .agg(max(col("cn")).as("n"), max(col("csx")).as("tsx"),
        max(col("csy")).as("tsy"), max(col("csxx")).as("tsxx"),
        max(col("csxy")).as("tsxy"), max(col("csyy")).as("tsyy"))
    def sse(n: String, sx: String, sy: String, sxx: String, sxy: String,
        syy: String): String =
      s"""(cast($syy as double) - cast($sy as double) * $sy / $n
         | - (cast($n as double) * $sxy - cast($sx as double) * $sy)
         |   * (cast($n as double) * $sxy - cast($sx as double) * $sy)
         |   / ($n * (cast($n as double) * $sxx
         |       - cast($sx as double) * $sx)))""".stripMargin
    val cand = cum.crossJoin(broadcast(tot))
      .filter(col("cn") >= 5 && col("cn") <= col("n") - 5)
      .withColumn("sse_l_e6",
        floor(expr(sse("cn", "csx", "csy", "csxx", "csxy", "csyy"))
          * 1000000.0 + 0.5).cast("long"))
      .withColumn("sse_r_e6",
        floor(expr(sse("(n - cn)", "(tsx - csx)", "(tsy - csy)",
          "(tsxx - csxx)", "(tsxy - csxy)", "(tsyy - csyy)"))
          * 1000000.0 + 0.5).cast("long"))
      .withColumn("sse_e6", col("sse_l_e6") + col("sse_r_e6"))
    val best = cand.groupBy()
      .agg(min(struct(col("sse_e6"), col("t"))).as("m"))
      .select(col("m.t").as("best_t"))
    cand.crossJoin(broadcast(best))
      .select(col("t"), col("cn").as("n_left"), col("sse_l_e6"),
        col("sse_r_e6"), col("sse_e6"),
        (col("t") === col("best_t")).as("is_break"))
      .orderBy(col("t"))
  }

  /** Standardized Pearson residuals for the lang×source contingency —
    * WHICH cells drive the dependence [[chi2IndepQ]] only scores in
    * aggregate: r = (o−e)/√(e·(1−rₘ/n)·(1−cₘ/n)) per cell on the
    * margin-cross scaffold (zero cells included), e6-floored from
    * exact counts, |r|>2 flagged. Same shapes as the chi² test —
    * bounded everywhere after one scan.
    */
  def chi2ResidualsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
    val rm = o.groupBy(col("lang")).agg(sum(col("o")).as("r"))
    val cm = o.groupBy(col("source")).agg(sum(col("o")).as("c"))
    val tot = o.groupBy().agg(sum(col("o")).as("nn"))
    rm.crossJoin(cm).crossJoin(broadcast(tot))
      .join(o, Seq("lang", "source"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .withColumn("resid_e6", floor(
        (col("o") - col("r").cast("double") * col("c") / col("nn"))
          / sqrt((col("r").cast("double") * col("c") / col("nn"))
            * (lit(1.0) - col("r") / col("nn"))
            * (lit(1.0) - col("c") / col("nn")))
          * 1000000.0 + 0.5).cast("long"))
      .select(col("lang"), col("source"), col("o"),
        col("r").as("row_total"), col("c").as("col_total"),
        col("resid_e6"), (abs(col("resid_e6")) > 2000000L).as("is_notable"))
      .orderBy(col("lang"), col("source"))
  }

  /** Content half-life — per-article exponential decay of daily views,
    * fit as log-linear OLS over the article×day scaffold (+1
    * smoothing so zero days enter; both dims bounded): the
    * content-planning number ("a post earns half its traffic in H
    * days") that raw popularity totals hide. Log responses are
    * e6-floored per cell before the decimal moments; half-life
    * = ln2/(−slope) only for decaying articles, growth flagged
    * otherwise. One fact aggregate + a bounded grid fit.
    */
  def contentHalflifeQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val av = Tables.events(spark, sfDir)
      .filter(col("event_type") === "view")
      .groupBy((expr("event_id % 40") + 1).as("article"),
        expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(count(lit(1)).as("cnt"))
    val days = av.select(col("d")).distinct()
    val d0 = days.groupBy().agg(min(col("d")).as("dmin"))
    val grid = av.select(col("article")).distinct()
      .crossJoin(broadcast(days)).crossJoin(broadcast(d0))
      .join(av, Seq("article", "d"), "left")
      .select(col("article"), (col("d") - col("dmin")).as("t"),
        floor(log(coalesce(col("cnt"), lit(0L)) + lit(1.0)) * 1000000.0
          + 0.5).cast("long").as("y"))
    val fit = grid.groupBy(col("article"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("sx"), sum(col("y")).as("sy"),
        sum(expr(s"cast(t as $d38) * t")).as("sxx"),
        sum(expr(s"cast(t as $d38) * y")).as("sxy"))
      .select(col("article"), col("n"),
        expr(s"""cast((n * sxy - cast(sx as $d38) * sy) * 1000000
                div (n * sxx - cast(sx as $d38) * sx) as bigint)""")
          .as("slope_e12"))
    fit
      .withColumn("is_decaying", col("slope_e12") < 0)
      .withColumn("halflife_days_e6",
        when(col("slope_e12") < 0,
          expr("cast(693147L * 1000000L div (-slope_e12) as bigint) * 1000000L"))
          .otherwise(lit(0L)))
      .select(col("article"), col("n").as("n_days"), col("slope_e12"),
        col("is_decaying"), col("halflife_days_e6"))
      .orderBy(col("article"))
  }

  /** Safety stock / reorder point / EOQ per brand — the inventory
    * policy triplet from demand statistics: daily shipped quantity
    * mean and variance with ZERO days entering through the calendar
    * span (the [[fanoQ]] device), lead time 7 days, service z=1.645,
    * order cost / holding cost as shared integer constants. ROP =
    * 7μ + z√(7σ²), EOQ = √(2·D_yr·K/h) — doubles only at the last
    * step over exact decimal moments. One fact scan, one (brand, day)
    * aggregate, brand-bounded rollup.
    */
  def safetyStockQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val bd = Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"),
        expr("unix_date(cast(l_shipdate as date))").as("d"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    val span = Tables.lineitem(spark, sfDir)
      .groupBy().agg(
        (expr("max(unix_date(cast(l_shipdate as date)))")
          - expr("min(unix_date(cast(l_shipdate as date)))") + 1)
          .cast("long").as("t"))
    bd.groupBy(col("brand"))
      .agg(count(lit(1)).as("n_active"), sum(col("q")).as("qq"),
        sum(expr(s"cast(q as $d38) * q")).as("q2"))
      .crossJoin(broadcast(span))
      .withColumn("mean", col("qq").cast("double") / col("t"))
      .withColumn("variance",
        (col("t").cast("double") * col("q2") - col("qq").cast("double") * col("qq"))
          / (col("t").cast("double") * col("t")))
      .select(col("brand"), col("n_active"), col("qq").as("total_q"),
        floor(col("mean") * 1000000.0 + 0.5).cast("long").as("mean_e6"),
        floor(sqrt(col("variance")) * 1000000.0 + 0.5).cast("long")
          .as("sd_e6"),
        floor((lit(7.0) * col("mean")
          + lit(1.645) * sqrt(lit(7.0) * col("variance")))
          * 1000000.0 + 0.5).cast("long").as("rop_e6"),
        floor(sqrt(lit(2.0) * (col("qq").cast("double") * 365.0 / col("t"))
          * 5000.0 / 200.0) * 1000000.0 + 0.5).cast("long").as("eoq_e6"))
      .orderBy(col("brand"))
  }

  /** Covariate-balance audit (standardized mean differences) before
    * and after IPW weighting — the table every causal paper prints
    * and [[aipwQ]]/[[ipwQ]] silently assume: for each covariate,
    * SMD = (μ_t−μ_c)/√((v_t+v_c)/2) unweighted, then re-computed under
    * the inverse-propensity weights (clipped LPM ê, the aipw
    * propensity), with the |SMD|<0.1 "balanced" verdict per row.
    * Weighted moments stay EXACT (integer e6 weights × integer
    * covariates in decimal(38)); doubles only in the final SMD
    * expression. One user aggregate + one unpivoted moment pass.
    */
  def balanceSmdQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val u0 = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("x1"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("x2"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x3"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ck"))
      .select(col("x1"), col("x2"), col("x3"),
        when(col("ck") >= 14, 1L).otherwise(0L).as("d"))
    val pm = u0.groupBy()
      .agg(count(lit(1)).as("n"), sum(col("x1")).as("sx"),
        sum(expr(s"cast(x1 as $d38) * x1")).as("sxx"),
        sum(col("d")).as("sd"), sum(col("x1") * col("d")).as("sxd"))
      .select(
        expr(s"""(n * sxd - cast(sx as $d38) * sd) * 1000000
              div (n * sxx - cast(sx as $d38) * sx)""").as("b_e6"),
        col("n"), col("sx"), col("sd"))
      .select(col("b_e6"),
        expr("(cast(sd as decimal(38,0)) * 1000000 - b_e6 * sx) div n")
          .as("a_e6"))
    val u = u0.crossJoin(broadcast(pm))
      .withColumn("e_e6", greatest(lit(50000L),
        least(lit(950000L), expr("cast(a_e6 + b_e6 * x1 as bigint)"))))
      .withColumn("w_e6",
        when(col("d") === 1, expr("1000000000000 div e_e6"))
          .otherwise(expr("1000000000000 div (1000000 - e_e6)")))
      .select(col("d"), col("w_e6"),
        expr("stack(3, 'n_events', x1, 'n_purchases', x2, 'n_views', x3)")
          .as(Seq("cov", "v")))
    val smd: Column =
      expr("""(cast(sv_1 as double) / sw_1 - cast(sv_0 as double) / sw_0)
        / sqrt(((cast(svv_1 as double) / sw_1
            - (cast(sv_1 as double) / sw_1) * (cast(sv_1 as double) / sw_1))
          + (cast(svv_0 as double) / sw_0
            - (cast(sv_0 as double) / sw_0) * (cast(sv_0 as double) / sw_0)))
          / 2.0)""")
    def moments(weighted: Boolean): DataFrame = {
      val w = if (weighted) col("w_e6") else lit(1000000L)
      u.groupBy(col("cov"))
        .agg(
          sum(when(col("d") === 1, w.cast(d38))).as("sw_1"),
          sum(when(col("d") === 1, w.cast(d38) * col("v"))).as("sv_1"),
          sum(when(col("d") === 1, w.cast(d38) * col("v") * col("v")))
            .as("svv_1"),
          sum(when(col("d") === 0, w.cast(d38))).as("sw_0"),
          sum(when(col("d") === 0, w.cast(d38) * col("v"))).as("sv_0"),
          sum(when(col("d") === 0, w.cast(d38) * col("v") * col("v")))
            .as("svv_0"))
        .select(col("cov"),
          floor(smd * 1000000.0 + 0.5).cast("long")
            .as(if (weighted) "smd_w_e6" else "smd_unw_e6"))
    }
    moments(false).join(moments(true), "cov")
      .select(col("cov"), col("smd_unw_e6"), col("smd_w_e6"),
        (abs(col("smd_w_e6")) < 100000L).as("balanced_after"))
      .orderBy(col("cov"))
  }

  /** Geometric median (Weiszfeld, 3 iterations) of the per-user
    * (activity, spend) cloud — the robust center a mean drags toward
    * whales and a per-axis median ignores correlation for: starting
    * at the centroid, mᵏ⁺¹ = Σ(p/d)/Σ(1/d) with per-user terms
    * e6/e12-floored BEFORE the sums (zero-distance users skipped, the
    * standard Weiszfeld guard), so both engines walk identical
    * iterates. Each iteration is one scan + one aggregate; ships the
    * centroid and all three iterates with the total transport cost.
    */
  def geomedianQ(spark: SparkSession, sfDir: String): DataFrame = {
    val u = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"),
        sum(when(col("event_type") === "purchase",
          cents(col("value")).cast("long")).otherwise(0L)).as("y"))
    val m0 = u.groupBy()
      .agg(expr("sum(x) * 1000000 div count(1)").as("mx_e6"),
        expr("cast(sum(cast(y as decimal(38,0))) * 1000000 div count(1) as bigint)")
          .as("my_e6"))
    def step(m: DataFrame): DataFrame = u.crossJoin(broadcast(m))
      .withColumn("dd", sqrt(
        (col("x") - col("mx_e6") / 1.0e6) * (col("x") - col("mx_e6") / 1.0e6)
          + (col("y") - col("my_e6") / 1.0e6)
          * (col("y") - col("my_e6") / 1.0e6)))
      .filter(col("dd") > 0.0)
      .select(
        floor(col("x") / col("dd") * 1000000.0 + 0.5).cast("long").as("tx"),
        floor(col("y") / col("dd") * 1000000.0 + 0.5).cast("long").as("ty"),
        floor(lit(1.0e12) / col("dd") + 0.5).cast("long").as("ti"))
      .groupBy()
      .agg(expr("cast(sum(cast(tx as decimal(38,0))) * 1000000000000 div sum(cast(ti as decimal(38,0))) as bigint)")
        .as("mx_e6"),
        expr("cast(sum(cast(ty as decimal(38,0))) * 1000000000000 div sum(cast(ti as decimal(38,0))) as bigint)")
          .as("my_e6"))
    def cost(m: DataFrame): DataFrame = u.crossJoin(broadcast(m))
      .select(floor(sqrt(
        (col("x") - col("mx_e6") / 1.0e6) * (col("x") - col("mx_e6") / 1.0e6)
          + (col("y") - col("my_e6") / 1.0e6)
          * (col("y") - col("my_e6") / 1.0e6)) * 100.0 + 0.5)
        .cast("long").as("dc"))
      .groupBy().agg(sum(col("dc")).as("cost_e2"))
    val m1 = step(m0); val m2 = step(m1); val m3 = step(m2)
    def row(it: Long, m: DataFrame): DataFrame =
      m.crossJoin(broadcast(cost(m))).select(lit(it).as("it"),
        col("mx_e6"), col("my_e6"), col("cost_e2"))
    row(0L, m0).union(row(1L, m1)).union(row(2L, m2)).union(row(3L, m3))
      .orderBy(col("it"))
  }

  /** Shared split-sample scorer for the decision-analytic eval triple:
    * train p̂(source) = English share among EVEN doc_ids, score the ODD
    * half — a calibrated-by-construction probability whose support is
    * SOURCE-bounded (≤20 distinct scores), so every rank/threshold
    * walk downstream is enum-bounded. Scores and labels exact e6/0-1
    * integers.
    */
  private def sourceRateScores(spark: SparkSession, sfDir: String): DataFrame = {
    // hash split, NOT doc_id parity: the synthetic source is a doc_id
    // residue, so a parity split would make train/eval sources DISJOINT
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        pmod(TextOps.portableHash64(
          concat(lit("evalsplit:"), col("doc_id"))), lit(2L)).as("half"))
    val rate = d.filter(col("half") === 0)
      .groupBy(col("source"))
      .agg(expr("sum(y) * 1000000 div count(1)").as("p_e6"))
    d.filter(col("half") === 1)
      .join(broadcast(rate), "source")
      .select(col("source"), col("y"), col("p_e6"))
  }

  /** Precision-recall AUC (average precision) of the source-rate
    * scorer — the ranking metric that stays honest under class
    * imbalance where [[aucQ]]'s ROC flatters: walk the score support
    * DESC accumulating TP/total, AP = Σ ΔTP·P_i / n_pos with each
    * precision a truncating e6 integer at its own cut. Support is
    * source-bounded; one scan + one enum walk.
    */
  def prAucQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sup = sourceRateScores(spark, sfDir)
      .groupBy(col("p_e6"))
      .agg(count(lit(1)).as("ct"), sum(col("y")).as("pos"))
    val w = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("p_e6")))
      .orderBy(col("p_e6").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val walk = sup
      .withColumn("cum_tp", sum(col("pos")).over(w))
      .withColumn("cum_n", sum(col("ct")).over(w))
      .withColumn("prec_e6", expr("cum_tp * 1000000 div cum_n"))
      .withColumn("term_e6",
        expr("cast(cast(pos as decimal(38,0)) * prec_e6 div 1000000 as bigint)"))
    val tot = walk.groupBy()
      .agg(sum(col("pos")).as("n_pos"),
        expr("cast(sum(cast(pos as decimal(38,0)) * prec_e6) div sum(pos) as bigint)")
          .as("ap_e6"))
    walk.crossJoin(broadcast(tot))
      .select(col("p_e6"), col("ct"), col("pos"), col("cum_tp"), col("cum_n"),
        col("prec_e6"), col("n_pos"), col("ap_e6"))
      .orderBy(col("p_e6").desc)
  }

  /** Decision-curve analysis (net benefit) of the source-rate scorer —
    * SHOULD anyone act on this model, and at which threshold: for
    * t ∈ {10..50%}, NB(t) = TP/n − FP/n · t/(1−t), compared per row
    * against treat-all and treat-none (the two strategies a model must
    * beat). All terms exact truncating e6 from integer confusion
    * counts; threshold grid × source-bounded score support.
    */
  def decisionCurveQ(spark: SparkSession, sfDir: String): DataFrame = {
    val s = sourceRateScores(spark, sfDir)
    val grid = broadcast(s.sparkSession.range(1, 6)
      .select((col("id") * 10).as("t")))
    val conf = s.crossJoin(grid)
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(when(col("p_e6") >= col("t") * 10000 && col("y") === 1, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("p_e6") >= col("t") * 10000 && col("y") === 0, 1L)
          .otherwise(0L)).as("fp"))
    conf
      .withColumn("nb_model_e6",
        expr("""tp * 1000000 div n
              - fp * 1000000 * t div ((100 - t) * n)"""))
      .withColumn("nb_all_e6",
        expr("""n_pos * 1000000 div n
              - (n - n_pos) * 1000000 * t div ((100 - t) * n)"""))
      .select(col("t").as("threshold_pct"), col("n"), col("tp"), col("fp"),
        col("nb_model_e6"), col("nb_all_e6"), lit(0L).as("nb_none_e6"),
        (col("nb_model_e6") >= col("nb_all_e6")
          && col("nb_model_e6") >= 0).as("model_wins"))
      .orderBy(col("threshold_pct"))
  }

  /** Hosmer-Lemeshow calibration test of the source-rate scorer with
    * sources as the natural groups — does predicted probability match
    * observed frequency group by group (the TEST behind
    * [[calibrationQ]]'s reliability plot): per group
    * χ² += (o − e)²/(e(1−p̂)), with o exact, e = n_g·p̂ at e6, every
    * contribution one double over exact integers e6-floored. Group
    * count ships for the df = g−2 reading. Source-bounded everywhere.
    */
  def hosmerLemeshowQ(spark: SparkSession, sfDir: String): DataFrame = {
    val g = sourceRateScores(spark, sfDir)
      .groupBy(col("source"), col("p_e6"))
      .agg(count(lit(1)).as("n_g"), sum(col("y")).as("o"))
      .withColumn("e_e6", col("n_g") * col("p_e6"))
      .withColumn("chi_e6",
        when(col("p_e6") > 0 && col("p_e6") < 1000000L, floor(
          (col("o") - col("e_e6") / 1.0e6) * (col("o") - col("e_e6") / 1.0e6)
            / ((col("e_e6") / 1.0e6)
              * (lit(1.0) - col("p_e6") / 1.0e6))
            * 1000000.0 + 0.5).cast("long"))
          .otherwise(0L)) // degenerate p̂∈{0,1} groups carry no HL info
    val tot = g.groupBy()
      .agg(count(lit(1)).as("n_groups"), sum(col("chi_e6")).as("hl_chi2_e6"))
    g.crossJoin(broadcast(tot))
      .select(col("source"), col("n_g"), col("o"),
        expr("e_e6 div 1000000").as("expected"), col("chi_e6"),
        col("n_groups"), col("hl_chi2_e6"))
      .orderBy(col("source"))
  }

  /** Copeland ranking of articles — the Condorcet-style aggregate of
    * the [[kendallWQ]] rater panel: article a "wins" the (a,b) contest
    * when a MAJORITY of the five event-type raters rank it higher
    * (per-rater ranks are the same deterministic (count desc, article)
    * order on the margin-cross scaffold), and the Copeland score is
    * wins − losses over the 40×40 contests — robust to a single
    * oddball ranking where [[bordaQ]]'s sum is not. Everything
    * rater×article-bounded after one fact aggregate.
    */
  def copelandQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ranked = raterRanks(spark, sfDir)
    val m = ranked.groupBy().agg(countDistinct(col("rater")).as("m"))
    val contests = ranked.select(col("rater"), col("article").as("a"),
        col("rnk").as("ra"))
      .join(ranked.select(col("rater"), col("article").as("b"),
        col("rnk").as("rb")), "rater")
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b"))
      .agg(sum(when(col("ra") < col("rb"), 1L).otherwise(0L)).as("wins_ab"))
    val verdicts = contests.crossJoin(broadcast(m))
      .select(col("a"), col("b"),
        when(col("wins_ab") * 2 > col("m"), 1L)
          .when(col("wins_ab") * 2 < col("m"), -1L)
          .otherwise(0L).as("v"))
    verdicts.groupBy(col("a").as("article"))
      .agg(sum(when(col("v") === 1, 1L).otherwise(0L)).as("wins"),
        sum(when(col("v") === -1, 1L).otherwise(0L)).as("losses"),
        sum(col("v")).as("copeland"))
      .orderBy(col("copeland").desc, col("article"))
  }

  /** Variance inflation factors for the (events, purchases, views)
    * covariate triple — the multicollinearity audit run BEFORE any
    * multiple regression trusts its coefficients ([[balanceSmdQ]] and
    * [[aipwQ]] both feed from these covariates): VIFⱼ = 1/(1−R²ⱼ)
    * with R²ⱼ from the closed two-predictor form
    * (r₁²+r₂²−2r₁r₂r₁₂)/(1−r₁₂²); pairwise correlations come from one
    * exact decimal(38) moment pass, the final VIF one double per row
    * e6-floored. VIF>5 flagged. One scan, one aggregate, 3 rows.
    */
  def vifQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val u = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("x1"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("x2"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x3"))
    val m = u.groupBy()
      .agg(count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"), sum(col("x3")).as("s3"),
        sum(expr(s"cast(x1 as $d38) * x1")).as("s11"),
        sum(expr(s"cast(x2 as $d38) * x2")).as("s22"),
        sum(expr(s"cast(x3 as $d38) * x3")).as("s33"),
        sum(expr(s"cast(x1 as $d38) * x2")).as("s12"),
        sum(expr(s"cast(x1 as $d38) * x3")).as("s13"),
        sum(expr(s"cast(x2 as $d38) * x3")).as("s23"))
    // pairwise correlations as doubles from exact integer moments
    def corr(sa: String, sb: String, sab: String, saa: String,
        sbb: String): String =
      s"""((cast(n as double) * $sab - cast($sa as double) * $sb)
         | / sqrt((cast(n as double) * $saa - cast($sa as double) * $sa)
         |   * (cast(n as double) * $sbb - cast($sb as double) * $sb)))"""
        .stripMargin
    val r12 = corr("s1", "s2", "s12", "s11", "s22")
    val r13 = corr("s1", "s3", "s13", "s11", "s33")
    val r23 = corr("s2", "s3", "s23", "s22", "s33")
    def vif(ra: String, rb: String, rab: String): String =
      s"""(1.0 / (1.0 - ($ra * $ra + $rb * $rb
         | - 2.0d * $ra * $rb * $rab) / (1.0 - $rab * $rab)))""".stripMargin
    m.select(
        floor(expr(r12) * 1000000.0 + 0.5).cast("long").as("r12_e6"),
        floor(expr(r13) * 1000000.0 + 0.5).cast("long").as("r13_e6"),
        floor(expr(r23) * 1000000.0 + 0.5).cast("long").as("r23_e6"),
        floor(expr(vif(r12, r13, r23)) * 1000000.0 + 0.5).cast("long")
          .as("vif1_e6"),
        floor(expr(vif(r12, r23, r13)) * 1000000.0 + 0.5).cast("long")
          .as("vif2_e6"),
        floor(expr(vif(r13, r23, r12)) * 1000000.0 + 0.5).cast("long")
          .as("vif3_e6"))
      .select(expr("stack(3, 'n_events', vif1_e6, 'n_purchases', vif2_e6, 'n_views', vif3_e6)")
        .as(Seq("covariate", "vif_e6")),
        col("r12_e6"), col("r13_e6"), col("r23_e6"))
      .withColumn("is_collinear", col("vif_e6") > 5000000L)
      .orderBy(col("covariate"))
  }

  /** Weibull fit of order→ship lead times by median-rank regression —
    * the shape/scale readout behind "is fulfillment delay
    * infant-mortality (k<1), memoryless (k≈1), or wear-out (k>1)",
    * which a nonparametric delay histogram cannot parameterize:
    * lead-time days ≥1 collapse to their support — bounded by the
    * CALENDAR span (a day gap cannot exceed the date range, ~2.5k
    * values here, data-size-independent) — median ranks
    * F = (cum−0.3)/(n+0.4) walk that support
    * (allowlisted), and OLS of ln(−ln(1−F)) on ln t gives shape k =
    * slope, scale = exp(x̄−ȳ/k) days — every log e6-floored per
    * support point before the decimal moments. Ships the probe points
    * with the broadcast fit.
    */
  def weibullQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val sup = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .select((expr("unix_date(cast(l_shipdate as date))")
        - expr("unix_date(cast(o_orderdate as date))")).cast("long").as("t"))
      .filter(col("t") >= 1)
      .groupBy(col("t")).agg(count(lit(1)).as("ct"))
    val n = sup.groupBy().agg(sum(col("ct")).as("n"))
    val w = Window.partitionBy(
        graft.functions.GraftFunctions.singleton_key(col("t")))
      .orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pts = sup.withColumn("cum", sum(col("ct")).over(w))
      .crossJoin(broadcast(n))
      .select(col("t"), col("ct"), col("cum"), col("n"),
        floor(log(col("t").cast("double")) * 1000000.0 + 0.5)
          .cast("long").as("x"),
        floor(log(-log(lit(1.0)
          - (col("cum") - lit(0.3)) / (col("n") + lit(0.4))))
          * 1000000.0 + 0.5).cast("long").as("y"))
    val fit = pts.groupBy()
      .agg(count(lit(1)).as("np"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr(s"cast(x as $d38) * x")).as("sxx"),
        sum(expr(s"cast(x as $d38) * y")).as("sxy"))
      .select(col("np"),
        expr(s"""cast((np * sxy - cast(sx as $d38) * sy) * 1000000
                div (np * sxx - cast(sx as $d38) * sx) as bigint)""")
          .as("shape_e6"),
        col("sx"), col("sy"))
      .select(col("np"), col("shape_e6"),
        // scale = exp(x̄ − ȳ/k): one double from the exact sums
        floor(exp((col("sx").cast("double") / col("np")
          - (col("sy").cast("double") / col("np"))
            / (col("shape_e6").cast("double") / 1.0e6)) / 1.0e6)
          * 1000000.0 + 0.5).cast("long").as("scale_days_e6"))
    pts.crossJoin(broadcast(fit))
      .select(col("t"), col("ct"), col("cum"), col("np"),
        col("shape_e6"), col("scale_days_e6"))
      .orderBy(col("t"))
  }
}
