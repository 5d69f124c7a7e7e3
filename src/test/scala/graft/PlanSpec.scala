package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape guards: these are the properties that decide
  * whether the operators survive a 100 TB scale-up — filters/pruning
  * reaching the parquet scan, small dims broadcast (no shuffle of the
  * fact side), top-k as TakeOrderedAndProject (no global sort), partial
  * (map-side) aggregation before the exchange.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  val sf = "/root/testdata/sf0.001"

  def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("filter+projection are pushed into the parquet scan") {
    val plan = formatted(Queries.filterProject(spark, sf))
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThan(l_quantity,45.0)"), plan)
    // pruned read schema — none of the untouched wide columns
    assert(!plan.contains("l_comment") && !plan.contains("l_returnflag"), plan)
  }

  test("star join broadcasts all three dims (no shuffle join)") {
    val plan = formatted(Queries.joinBroadcast(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val plan = formatted(Queries.topK(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("hot-section: broadcast dim join + partial aggregation") {
    val plan = formatted(Queries.hotSection(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan) // partial + final
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("minhash signatures aggregate partially before the exchange") {
    val sigs = graft.ops.Dedup.minhashSignatures(
      graft.ops.Dedup.shingleSets(graft.sources.Tables.documents(spark, sf)))
    val plan = formatted(sigs)
    assert(plan.contains("partial_min") || plan.contains("Partial"), plan)
  }

  test("knn broadcasts the small query side") {
    val plan = formatted(Queries.knnCosine(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
  }

  test("banded range join is an equi-join, not a cartesian/range product") {
    val plan = formatted(Queries.rangeJoin(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("correlated EXISTS/NOT EXISTS decorrelate to broadcast semi/anti joins") {
    val plan = formatted(Queries.existsSubquery(spark, sf))
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"), plan)
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("CartesianProduct"), plan)
    // the EXISTS predicates reach the orders scan
    assert(plan.contains("GreaterThan(o_totalprice,450000.0)"), plan)
  }

  test("lateral ORDER BY/LIMIT decorrelates to a partial rank pushdown") {
    val plan = formatted(Queries.lateralJoin(spark, sf))
    // WindowGroupLimit(Partial) trims each map partition to k rows BEFORE
    // the exchange — the property that makes per-group top-k scale.
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("Partial"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("events scan under the log generator prunes to the used columns") {
    val plan = formatted(Queries.clientIp(spark, sf))
    // props/value are never touched by the log pipeline
    assert(!plan.contains("props") && !plan.contains("value"), plan)
  }

  test("bucketed as-of windows partition on (key, bucket), never key alone") {
    val plan = formatted(Queries.asofJoinBucketed(spark, sf))
    // every merge window in the plan must carry the bucket column — a
    // key-only window partition is exactly the hot-key straggler this
    // variant exists to prevent (the carry table's key-only window is
    // over per-(key,bucket) aggregates, which explain prints with _bkt
    // in its partition spec too, via the universe join)
    // windowspecdefinition(part1, part2, ..., ord ASC ..., frame): the
    // merge window partitions on BOTH user_id and _bkt (no ASC on _bkt)
    assert("windowspecdefinition\\(user_id#\\d+L, _bkt#\\d+L, ".r
      .findFirstIn(plan).isDefined, plan)
    // any key-only-partitioned window must be the carry chain (its ORDER
    // column is _bkt, and it runs over per-(key,bucket) aggregates)
    val keyOnly = "windowspecdefinition\\(user_id#\\d+L, (\\w+)#\\d+L ASC".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(keyOnly.forall(_ == "_bkt"), s"key-only windows over $keyOnly\n$plan")
  }

  test("group cap pushes a partial rank limit below the exchange") {
    val plan = formatted(Queries.groupCapQ(spark, sf))
    // WindowGroupLimit both sides of the exchange: map-side top-k means
    // the shuffle carries at most cap rows per group per partition
    val idx = plan.indexOf("Exchange")
    assert(idx > 0, plan)
    assert(plan.substring(idx).contains("WindowGroupLimit"), plan)
  }

  test("incremental dedup joins are all equi (band/key), never cartesian") {
    val plan = formatted(Queries.dedupIncremental(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("bloom dedup: corpus aggregated once, no shuffle of the batch pre-filter") {
    val df = graft.ops.Dedup.exactVersusCorpusBloom(
      graft.sources.Tables.documents(spark, sf).select(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")),
      graft.sources.Tables.documents(spark, sf).select(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")),
      1000L, 0.01)
    val plan = formatted(df)
    // the bloom probe is a plain Filter over the batch scan — it must
    // not introduce a join or exchange of its own
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Filter"), plan)
  }

  test("media feature knn broadcasts the query side") {
    val plan = formatted(Queries.mediaFeatures(spark, sf))
    // crossJoin(broadcast(q)) plans as BroadcastNestedLoopJoin — the
    // candidates stream once, queries replicate; a CartesianProduct
    // (shuffle-based) would mean the broadcast hint was lost
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  // ---- round-4 operators

  test("global sort range-partitions (sampled boundaries), no single-partition funnel") {
    // guard the sorted child that withGlobalPos zips — the RDD-backed
    // result frame itself prints as LogicalRDD
    val plan = formatted(
      graft.sources.Tables.orders(spark, sf)
        .select(org.apache.spark.sql.functions.col("o_orderkey"),
          org.apache.spark.sql.functions.col("o_totalprice"))
        .orderBy(org.apache.spark.sql.functions.col("o_totalprice").desc,
          org.apache.spark.sql.functions.col("o_orderkey")))
    assert(plan.contains("rangepartitioning"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("fuzzy join is equi on the block key; levenshtein never sees a cross product") {
    val plan = formatted(Queries.fuzzyJoin(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // block key is the equi key; length-band + distance are post-join filters
    assert(plan.contains("p_brand"), plan)
  }

  test("ohlc: both windows and the final agg share ONE hash exchange on the bucket key") {
    val plan = formatted(Queries.ohlcQ(spark, sf))
    // at sf0.001 the scan is one partition and the windows need no
    // exchange at all; at width the (event_type, d) exchange is shared
    // by both windows AND the final agg — never one per operator
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx <= 1, s"expected <=1 hash exchange, got $hashEx\n$plan")
  }

  test("funnel: every stage aggregates partially before its exchange") {
    val plan = formatted(Queries.funnelQ(spark, sf))
    assert(plan.contains("partial_min"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("tfidf: corpus-size scalar broadcasts; token joins stay equi") {
    val plan = formatted(Queries.tfidfQ(spark, sf))
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("vocab: token counts partial-aggregate before the exchange") {
    val plan = formatted(
      graft.sources.Tables.documents(spark, sf)
        .select(org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.trim(
              org.apache.spark.sql.functions.lower(
                org.apache.spark.sql.functions.col("text"))), "\\s+")).as("token"))
        .groupBy("token").count())
    assert(plan.contains("partial_count") || plan.contains("Partial"), plan)
  }

  test("interval merge: both windows and the island agg share ONE user_id exchange") {
    val plan = formatted(Queries.intervalMerge(spark, sf))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx <= 1, s"expected <=1 hash exchange, got $hashEx\n$plan")
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("seq pack: cumulative window partitions by shard, never a global window") {
    val plan = formatted(Queries.seqPack(spark, sf))
    assert("windowspecdefinition\\(shard#\\d+L".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("decontaminate: bench gram set broadcasts; probe join never shuffles the corpus side twice") {
    val plan = formatted(Queries.decontaminate(spark, sf))
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("pagerank: rank/share joins stay equi; only the count scalar broadcasts") {
    val plan = formatted(Queries.pagerankQ(spark, sf))
    // crossJoin(broadcast(n)) is the one nested-loop (1-row scalar);
    // the per-iteration edge⋈rank joins must be hash/merge equi-joins
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("session_window plans Spark's native session aggregation, keyed by user") {
    val plan = formatted(Queries.sessionWindowQ(spark, sf))
    assert(plan.contains("session_window"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("equi-depth histogram: ntile and the bucket agg share the event_type exchange") {
    val plan = formatted(Queries.histogramEqDepth(spark, sf))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx <= 1, s"expected <=1 hash exchange, got $hashEx\n$plan")
  }

  test("winnow: per-doc windows, fingerprint joins equi — no cartesian, no global window") {
    val plan = formatted(Queries.winnowQ(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // every window partitions by doc_id — a global (empty-partition)
    // window would single-thread the token stream
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("containment: candidates from the band equi-join, never all-pairs") {
    val plan = formatted(Queries.containmentQ(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("decontaminate_spans: bench fingerprints broadcast; corpus probed once") {
    val plan = formatted(Queries.decontaminateSpans(spark, sf))
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("ann multitable: bucket and rerank joins are equi/broadcast — no cartesian") {
    val plan = formatted(Queries.annMultiTable(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastExchange"), plan) // query-side codes + vectors
  }

  test("bloom probe is a native codegen'd expression — no ScalaUDF node") {
    val plan = formatted(Queries.dedupBloom(spark, sf))
    assert(plan.contains("bloom_might_contain"), plan)
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"), plan)
  }

  test("triangles closing probe: hinted broadcast when small, shuffle equi-join past the gate") {
    // Disable auto-broadcast so the plan reflects ONLY the code's choice:
    // the explicit broadcast() hint survives -1, so the gated-off run's
    // extra shuffle join is unambiguously the closing probe.
    // Mutating shared-session conf + sys.props is safe here because
    // forked tests run suites SEQUENTIALLY (Test/fork := true with
    // sbt-default testForkedParallel = false) and both are restored in
    // the finally.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def shuffleJoins(p: String): Int =
        "SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size
      val b = Queries.trianglesScoped(spark, sf)(formatted)
      sys.props("graft.tri.broadcastMaxEdges") = "0"
      val s = Queries.trianglesScoped(spark, sf)(formatted)
      // broadcast path: the wedge self-join is the only shuffle join;
      // gated path: wedge self-join + the closing probe. Formatted
      // explain prints each node twice (tree + detail) → diff of 2.
      assert(shuffleJoins(s) == shuffleJoins(b) + 2, s"b:\n$b\ns:\n$s")
      // both paths produce identical aggregates (orientation-invariant)
      val bRow = { sys.props -= "graft.tri.broadcastMaxEdges"
        Queries.trianglesQ(spark, sf).collect().head }
      sys.props("graft.tri.broadcastMaxEdges") = "0"
      val sRow = Queries.trianglesQ(spark, sf).collect().head
      assert(bRow == sRow)
    } finally {
      sys.props -= "graft.tri.broadcastMaxEdges"
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("fuzzy join: broadcast below the row gate, pinned shuffle-hash past it") {
    // sys.props mutation safe: forked suites run sequentially (see the
    // triangle-gate test above); restored in finally
    try {
      val b = formatted(Queries.fuzzyJoin(spark, sf))
      assert(b.contains("BroadcastHashJoin"), b)
      sys.props("graft.fuzzy.broadcastMaxRows") = "0"
      val s = formatted(Queries.fuzzyJoin(spark, sf))
      // past the gate NOTHING broadcasts: the variant build side and
      // both name fetches are shuffle-hash — no driver-sized collect
      assert(!s.contains("BroadcastHashJoin") && !s.contains("BroadcastExchange"), s)
      assert("ShuffledHashJoin".r.findAllIn(s).size >= 6, s) // 3 joins × tree+detail
      // both paths produce identical pairs
      val bRows = { sys.props -= "graft.fuzzy.broadcastMaxRows"
        Queries.fuzzyJoin(spark, sf).collect().toSeq }
      sys.props("graft.fuzzy.broadcastMaxRows") = "0"
      val sRows = Queries.fuzzyJoin(spark, sf).collect().toSeq
      assert(bRows == sRows)
    } finally sys.props -= "graft.fuzzy.broadcastMaxRows"
  }

  test("one-sided containment: equi-joins end to end — no cartesian, no ScalaUDF") {
    val plan = formatted(Queries.containmentOnesidedQ(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("quantize stays inside array HOFs — no explode, no shuffle") {
    val plan = formatted(Queries.quantizeQ(spark, sf))
    assert(!plan.contains("Generate"), plan) // explode would plan a Generate
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("scd2: change filter and validity lead share ONE user_id exchange") {
    val plan = formatted(Queries.scd2Q(spark, sf))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx <= 1, s"expected <=1 hash exchange, got $hashEx\n$plan")
  }

  test("event paths: global top-20 is TakeOrderedAndProject, never a full sort") {
    val plan = formatted(Queries.eventPathsQ(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("profile: two-branch shape — multi-distinct Expand stays hash, string min/max in its own keyless agg") {
    // The r12-verdict q_profile fix split the string min/max out of the
    // multi-distinct aggregate (a string agg buffer demotes the whole
    // Expand rewrite to Sort+SortAggregate): the intended shape is TWO
    // scans — the Expand+hash-aggregate distinct branch and the keyless
    // string-min/max branch — crossed as 1-row broadcasts. formatted
    // mode prints each scan once in the detail section; count the
    // per-scan Location lines.
    val plan = formatted(Queries.profileQ(spark, sf))
    val scans = "Location: InMemoryFileIndex".r.findAllIn(plan).size
    assert(scans == 2, s"expected the 2-branch profile shape, got $scans scans\n$plan")
    assert(plan.contains("Expand"), plan)
    // the Expand (multi-distinct) branch must NOT have been demoted to
    // sort aggregates — that was the defect the split fixed (the
    // demoted plan had NO hash aggregate anywhere); the keyless string
    // min/max branch is allowed its sort-agg nodes
    assert(plan.contains("HashAggregate"),
      "multi-distinct branch demoted to SortAggregate\n" + plan)
  }

  test("triangles: wedge and closing joins are equi — no cartesian anywhere") {
    val plan = Queries.trianglesScoped(spark, sf)(formatted)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("hopping windows: the x4 fan-out expands BEFORE partial aggregation") {
    val plan = formatted(Queries.hoppingQ(spark, sf))
    assert(plan.contains("Expand"), plan)
    // partial agg after the expand: the exchange carries per-window
    // partials, not 4x raw events
    assert(plan.contains("partial_count") || plan.contains("Partial"), plan)
  }

  test("regexp extract: global top-50 is TakeOrderedAndProject") {
    val plan = formatted(Queries.regexpExtractQ(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("mad: per-type medians broadcast back — the event side joins without SMJ") {
    val plan = formatted(Queries.madQ(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("bm25: term stats broadcast; corpus aggregates once behind the memoized per-doc table") {
    val plan = formatted(Queries.bm25Q(spark, sf))
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("confusion/ndcg: the query side broadcasts — candidates stream once") {
    val plan = formatted(Queries.confusionQ(spark, sf))
    assert(plan.contains("BroadcastExchange"), plan)
    val plan2 = formatted(Queries.ndcgQ(spark, sf))
    assert(plan2.contains("BroadcastExchange"), plan2)
  }

  test("rolling median: frame window and type partition share one hash exchange") {
    val plan = formatted(Queries.rollingMedianQ(spark, sf))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx <= 1, s"expected <=1 hash exchange, got $hashEx\n$plan")
  }

  test("skyline: the local pass windows by shard — the fact never sees a global window") {
    val plan = formatted(Queries.skylineQ(spark, sf))
    assert("windowspecdefinition\\(shard#\\d+L".r.findFirstIn(plan).isDefined, plan)
    // merge pass windows by the range bucket (constant on the small
    // path, but always a non-empty partition spec)
    assert("windowspecdefinition\\(sky_bucket#\\d+".r.findFirstIn(plan).isDefined, plan)
    // NO window anywhere plans with an empty partition spec (a spec
    // whose first argument is already an order column ASC/DESC is
    // Spark's "No Partition Defined" single-partition hazard)
    val unpartitioned = "windowspecdefinition\\(\\w+#\\d+L? (ASC|DESC)".r
    assert(unpartitioned.findFirstIn(plan).isEmpty, plan)
  }

  test("covered span stage plans its winnow-pair subtree once") {
    // the winnow token explode appears once per SIDE of the pair
    // self-join (= 2); the one-pass explode drop rule must not double
    // that — a two-branch union over the coverage frame plans 4
    val plan = Queries.curationSpanCovQ(spark, sf)
      .queryExecution.executedPlan.toString
    val n = "posexplode".r.findAllIn(plan).size
    assert(n == 2, s"expected the two self-join sides only, got $n")
  }

  test("singleton-key windows survive optimization — no plan degrades to an unpartitioned window") {
    // the three by-design single-partition windows (scalar total,
    // running day sum, complete-mode Top-N) key on singleton_key;
    // an arithmetic constant key would FOLD here (non-nullable input)
    // and WindowExec would fall back to the "No Partition Defined"
    // path — assert the key survives the optimizer in each plan
    val unpartitioned = "windowspecdefinition\\(\\w+#\\d+L? (ASC|DESC)".r
    for ((name, df) <- Seq(
        "mixtureWeights" -> Queries.mixtureWeights(spark, sf),
        "dauCumeQ" -> Queries.dauCumeQ(spark, sf),
        "giniSourceQ" -> Queries.giniSourceQ(spark, sf))) {
      val plan = formatted(df)
      assert(unpartitioned.findFirstIn(plan).isEmpty, s"$name planned a global window:\n$plan")
      assert(plan.contains("pmod(hash("), s"$name lost its singleton key:\n$plan")
    }
  }

  test("tpch3: filtered customer broadcasts, segment filter pushed, top-10 TakeOrdered") {
    val plan = formatted(Queries.tpch3Q(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("BUILDING"), plan) // segment filter reaches a scan-side Filter
  }

  test("tpch7: disjunctive nation predicate evaluates on pre-shrunk broadcast branches") {
    val plan = formatted(Queries.tpch7Q(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the nation-name IN filter reaches the nation scan
    assert(plan.contains("NATION_3"), plan)
  }

  test("tpch17: correlated avg decorrelates to a broadcast aggregate join; filters pushed") {
    val plan = formatted(Queries.tpch17Q(spark, sf))
    // the per-part (sum, count) aggregate joins BROADCAST — the
    // decorrelated shape; the fact side is never shuffled for it
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan) // part filter + agg join
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("Brand#23"), plan) // dim filter reaches the part scan
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"), plan)
  }

  test("tpch20: nested semi-join family — part filter broadcast, supplier semi-joined") {
    val plan = formatted(Queries.tpch20Q(spark, sf))
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("PROMO"), plan) // part-type filter reaches its scan
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("tpch21: double-EXISTS family — semi + anti plan, flag filter pushed, dims broadcast") {
    val plan = formatted(Queries.tpch21Q(spark, sf))
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("LeftAnti"), plan)
    // supplier + nation broadcast after the fact rows are thinned
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the returnflag filter reaches the lineitem scans (pushed, not
    // evaluated post-join)
    assert(plan.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)") ||
      plan.contains("EqualTo(l_returnflag,R)"), plan)
  }

  test("tpch22: scalar threshold broadcasts as a nested-loop; urgent anti-join; no float avg") {
    val plan = formatted(Queries.tpch22Q(spark, sf))
    // the (count, total-cents) scalar pair rides a broadcast
    // nested-loop cross join — never a shuffle
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("LeftAnti"), plan)
    // the priority filter reaches the orders scan
    assert(plan.contains("EqualTo(o_orderpriority,1-URGENT)"), plan)
  }

  test("tpch10: returnflag + date filters reach their scans; dims broadcast; top-20 TakeOrdered") {
    val plan = formatted(Queries.tpch10Q(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)")
      || plan.contains("EqualTo(l_returnflag,R)"), plan)
  }

  test("tpch18: the HAVING key set partial-aggregates before its exchange") {
    val plan = formatted(Queries.tpch18Q(spark, sf))
    assert(plan.contains("partial_sum") || plan.contains("Partial"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("tpch13: outer join keeps the condition filter OUT of the scan of customers") {
    val plan = formatted(Queries.tpch13Q(spark, sf))
    assert(plan.contains("LeftOuter"), plan)
    // the priority predicate is pushed to the ORDERS scan (join-side),
    // never applied to customers — zero-order customers must survive
    assert(plan.contains("Not(EqualTo(o_orderpriority,1-URGENT))"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("tpch19: the shared equi key is extracted from the OR — hash join, not nested loop") {
    val plan = formatted(Queries.tpch19Q(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    // dim-side disjunction shrinks the build side at its scan
    assert(plan.contains("In(p_brand, [Brand#12,Brand#23,Brand#24])"), plan)
    // Catalyst derives the OR-of-quantity-ranges and pushes it to the
    // fact scan — the residual OR stays as the join condition
    assert(plan.contains("GreaterThanOrEqual(l_quantity,1.0)"), plan)
    assert(plan.contains("Join condition:"), plan)
  }

  test("tpch5: only the fact-fact join may shuffle; every dimension broadcasts") {
    val plan = formatted(Queries.tpch5Q(spark, sf))
    val smj = "SortMergeJoin".r.findAllIn(plan).size
    val shj = "ShuffledHashJoin".r.findAllIn(plan).size
    assert(smj + shj <= 1, s"expected <=1 shuffled join, got smj=$smj shj=$shj\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("tpch2: correlated MIN decorrelates — supplier dims broadcast, top-100 TakeOrdered") {
    val plan = formatted(Queries.tpch2Q(spark, sf))
    // EUROPE suppliers + part filter + per-part min table all broadcast
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("LARGE"), plan) // part filter reaches its scan
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("tpch4: correlated EXISTS plans as one left-semi with the date residual") {
    val plan = formatted(Queries.tpch4Q(spark, sf))
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("Join condition:"), plan) // non-equi residual kept in the join
    // the order-date window reaches the orders scan
    assert(plan.contains("IsNotNull(o_orderdate)"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("tpch9: every dim broadcasts; only the orders join may shuffle; name LIKE pushed") {
    val plan = formatted(Queries.tpch9Q(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan)
    val smj = "SortMergeJoin".r.findAllIn(plan).size
    val shj = "ShuffledHashJoin".r.findAllIn(plan).size
    assert(smj + shj <= 1, s"expected <=1 shuffled join, got smj=$smj shj=$shj\n$plan")
    assert(plan.contains("StringContains(p_name,red)"), plan)
  }

  test("tpch11: global total is a 1-row broadcast; threshold compares exact integers") {
    val plan = formatted(Queries.tpch11Q(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan) // the 1-row scalar
    assert(plan.contains("BroadcastHashJoin"), plan) // nation-supplier semi dim
    // no float in the predicate: the comparison is on integer cents
    assert(plan.contains("10000"), plan)
  }

  test("tpch16: distinct-pair shuffle + broadcast part dim + anti join on complaints") {
    val plan = formatted(Queries.tpch16Q(spark, sf))
    assert(plan.contains("LeftAnti"), plan)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"), plan)
  }

  test("dsir: the weight model broadcasts; ranking is TakeOrderedAndProject") {
    val plan = formatted(Queries.dsirQ(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan) // ≤1024-row model join
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("nb: model and label stats broadcast — scoring never shuffles on the model key") {
    val plan = formatted(Queries.nbClassifierQ(spark, sf))
    // model join + labelStats nested loop (5 rows) both broadcast
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // argmax is one hash aggregate (min-struct), not a rank window
    assert(!plan.contains("RunningWindowFunction"), plan)
  }

  test("export shards: assignment is a narrow projection — one exchange total (the agg)") {
    val plan = formatted(Queries.exportShardsQ(spark, sf))
    val exchanges = "Exchange".r.findAllIn(plan).size
    // formatted explain prints each node twice (tree + detail)
    assert(exchanges <= 4, s"shard stats should shuffle once: $exchanges\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"), plan)
  }

  test("duplicateSpans: first-occurrence min partial-aggregates; no pairwise join") {
    val plan = formatted(Queries.dedupSpansQ(spark, sf))
    // the skew-safety claim: min(first-key) combines MAP-SIDE, so hot
    // boilerplate grams never pile into one sort partition
    assert(plan.contains("partial_min"), plan)
    // no all-pairs shape anywhere — the join back is 1:1 on gram hash
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("perceptron: weight/bias joins broadcast; count table is the only big shuffle") {
    val plan = formatted(Queries.perceptronQ(spark, sf))
    // every weight-table join (3 train iters + scoring) broadcasts
    assert(plan.contains("BroadcastHashJoin"), plan)
    // bias rides a 1-row broadcast nested loop (the eval-set pattern),
    // never a cartesian product
    assert(!plan.contains("CartesianProduct"), plan)
    // trained weights are a model-sized LOCAL relation (driver-side
    // model, the kmeans pattern) — no training lineage in the plan
    assert(plan.contains("LocalTableScan"), plan)
  }

  test("collocations: top-k is TakeOrdered, not a global sort") {
    val plan = formatted(Queries.collocationsQ(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("paragraph dedup: first-occurrence min partial-aggregates; hash join back is equi") {
    val plan = formatted(Queries.paragraphDedupQ(spark, sf))
    // hot boilerplate paragraphs combine map-side before the exchange
    assert(plan.contains("partial_min"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("phrase search: the phrase set broadcasts onto the gram stream") {
    val plan = formatted(Queries.phraseSearchQ(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    // gram stream built by per-doc windows — no self-join of the corpus
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("pca power iteration: Gram pass partial-aggregates; only scalars/models broadcast") {
    val plan = formatted(Queries.pcaPowerQ(spark, sf))
    // the n·d² product stream combines map-side into d² cells
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // iteration state is checkpointed model-sized data, not corpus lineage
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LocalTableScan"), plan)
  }

  test("calibration: equal-width binning is a scan — no global sort or ntile window") {
    val plan = formatted(Queries.calibrationQ(spark, sf))
    assert(!plan.contains("RunningWindowFunction"), plan)
    // the min/max scalar rides a 1-row broadcast, not a cartesian
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("compaction plan: one partitioned window, no global funnel") {
    val plan = formatted(Queries.compactionQ(spark, sf))
    assert("windowspecdefinition\\(event_type#\\d+".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("assoc rules: per-order pair join is equi; only the basket total broadcasts") {
    val plan = formatted(Queries.assocRulesQ(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    // pair generation joins on l_orderkey — an equi join
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("ks drift: cumulative windows partition by lang — never a global window") {
    val plan = formatted(Queries.ksDriftQ(spark, sf))
    assert("windowspecdefinition\\(lang#\\d+".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("stump: confusion counts partial-aggregate; window rides the feature partition") {
    val plan = formatted(Queries.stumpQ(spark, sf))
    assert(plan.contains("partial_sum"), plan)
    assert("windowspecdefinition\\(feature#\\d+".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("linreg: one partial-aggregated pass, no window, no join at all") {
    val plan = formatted(Queries.linregQ(spark, sf))
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
  }

  test("hits: final join of the checkpointed score tables is equi — no cartesian") {
    // Since the r13 half-round checkpointing (each score table is an
    // eagerly-released localCheckpoint — the lazy chain re-evaluated
    // the previous table 2x per half-round), the FINAL plan is just
    // hub ⋈ auth over two LogicalRDDs; the in-loop equi joins and the
    // broadcast round max no longer appear here. Guard what remains
    // guardable: an equi join, never a cartesian/BNLJ.
    val plan = formatted(Queries.hitsQ(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin")
      || plan.contains("ShuffledHashJoin"), plan)
  }

  test("shard balance: both windows partition by lang") {
    val plan = formatted(Queries.shardBalanceQ(spark, sf))
    assert("windowspecdefinition\\(lang#\\d+".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("weighted quantile: cumulative window rides the group partition; counts partial-agg") {
    val plan = formatted(Queries.weightedQuantileQ(spark, sf))
    assert("windowspecdefinition\\(grp#\\d+".r.findFirstIn(plan).isDefined, plan)
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("disorder: running max partitions by event_type — never a global window") {
    val plan = formatted(Queries.disorderQ(spark, sf))
    assert("windowspecdefinition\\(event_type#\\d+".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("attribution: one user-partitioned window, no purchase-times-click join") {
    val plan = formatted(Queries.attributionQ(spark, sf))
    assert("windowspecdefinition\\(user_id#\\d+".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("trimmed mean: support-sized window rides the group partition; counts partial-agg") {
    val plan = formatted(Queries.trimmedMeanQ(spark, sf))
    assert("windowspecdefinition\\(grp#\\d+".r.findFirstIn(plan).isDefined, plan)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("negative sampling: rank resolve is an equi join, never cartesian") {
    val plan = formatted(Queries.negSampleQ(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("budget cut: quality admission window partitions by lang; global total broadcasts") {
    val plan = formatted(Queries.budgetCutQ(spark, sf))
    assert("windowspecdefinition\\(lang#\\d+".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("pit lookup: one user-partitioned carry window, no range join") {
    val plan = formatted(Queries.pitLookupQ(spark, sf))
    assert("windowspecdefinition\\(user_id#\\d+".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("session conversion: island windows ride the user partition") {
    val plan = formatted(Queries.sessionConversionQ(spark, sf))
    assert("windowspecdefinition\\(user_id#\\d+".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("user concentration: the support window keeps its singleton key") {
    val plan = formatted(Queries.userConcentrationQ(spark, sf))
    assert(plan.contains("pmod(hash("), plan)
    val unpartitioned = "windowspecdefinition\\(\\w+#\\d+L? (ASC|DESC)".r
    assert(unpartitioned.findFirstIn(plan).isEmpty, plan)
  }

  test("rfm: all three tercile windows partition by market segment") {
    val plan = formatted(Queries.rfmQ(spark, sf))
    assert("windowspecdefinition\\(c_mktsegment#\\d+".r.findFirstIn(plan).isDefined, plan)
    val global = "windowspecdefinition\\(\\w+#\\d+L? (ASC|DESC)".r
    assert(global.findFirstIn(plan).isEmpty, plan)
  }

  val globalWindow = "windowspecdefinition\\(\\w+#\\d+L? (ASC|DESC)".r

  test("mann-whitney: the support walk keeps its singleton key; counts partial-agg") {
    val plan = formatted(Queries.mannWhitneyQ(spark, sf))
    assert(plan.contains("pmod(hash("), plan)
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
  }

  test("spearman: both rank walks keep singleton keys; stats in one partial pass") {
    val plan = formatted(Queries.spearmanQ(spark, sf))
    assert("pmod\\(hash\\(".r.findAllIn(plan).size >= 2, plan)
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
  }

  test("acf: no window at all; the daily self-join is equi, never cartesian") {
    val plan = formatted(Queries.acfQ(spark, sf))
    assert(!plan.contains("windowspecdefinition"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"), plan)
  }

  test("cusum: day walk keeps its singleton key; scalars broadcast") {
    val plan = formatted(Queries.cusumQ(spark, sf))
    assert(plan.contains("pmod(hash("), plan)
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
  }

  test("chi2 independence: margins broadcast; the cell join is equi") {
    val plan = formatted(Queries.chi2IndepQ(spark, sf))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan) // everything is margin-sized
  }

  test("bleu: gram match is an equi join on (pair, n, gram); no cartesian") {
    val plan = formatted(Queries.bleuQ(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
  }

  test("item-cf: basket self-join is equi; top-3 window partitions by item") {
    val plan = formatted(Queries.itemCfQ(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert("windowspecdefinition\\(item#\\d+".r.findFirstIn(plan).isDefined, plan)
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
  }

  test("burstiness: term counts partial-agg; top-30 is TakeOrdered (r9 judge fix)") {
    val plan = formatted(Queries.burstinessQ(spark, sf))
    assert(plan.contains("partial_count"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the round-9 judge finding: the vocab-sized stats table must never
    // route through a singleton-key window (one task holding the vocab)
    assert(!plan.contains("pmod(hash("), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
  }

  test("isotonic: the data pass partial-aggregates; no window anywhere") {
    val plan = formatted(Queries.isotonicQ(spark, sf))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
  }

  test("ktruss: every join in the wedge/peel round is equi, never cartesian") {
    val plan = formatted(graft.ops.Graph.kTruss(
      graft.sources.Tables.lineitem(spark, sf)
        .selectExpr("l_partkey as src", "l_suppkey as dst"), k = 3, maxRounds = 30))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("life table: duration walk keeps its singleton key; user reduce partial-aggs") {
    val plan = formatted(Queries.lifeTableQ(spark, sf))
    assert(plan.contains("pmod(hash("), plan)
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
    assert(plan.contains("partial_min"), plan)
  }

  test("bootstrap: 32x explode combines map-side — partial sums, no join, no window") {
    val plan = formatted(Queries.bootstrapQ(spark, sf))
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
  }

  test("ab test: one partial-aggregated pass, no join, no window") {
    val plan = formatted(Queries.abTestQ(spark, sf))
    assert(plan.contains("partial_max") || plan.contains("partial_sum"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
  }

  test("ewma: daily counts partial-agg; the fold is one HOF, no window, no join") {
    val plan = formatted(Queries.ewmaQ(spark, sf))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("aggregate("), plan) // the HOF fold survives
  }

  test("dq checks: row constraints ride one scan; referential is an anti join") {
    val plan = formatted(Queries.dqChecksQ(spark, sf))
    assert(plan.contains("partial_sum"), plan)
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
    // three lineitem scans (row pass, uniqueness, referential), not more
    assert("Location: InMemoryFileIndex[^\\n]*lineitem".r
      .findAllIn(plan).size <= 6, plan) // formatted prints each node twice
  }

  test("cms: sketch cells partial-agg; probes join equi on (r,c); top-20 is TakeOrdered") {
    val plan = formatted(Queries.cmsTopkQ(spark, sf))
    assert(plan.contains("partial_count"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
  }

  test("modularity: brand lookups broadcast; bounded aggregates; no cartesian") {
    val plan = formatted(Queries.modularityQ(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("richclub: degree joins equi; threshold spine broadcast; conditional aggs partial") {
    val plan = formatted(Queries.richClubQ(spark, sf))
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the only window is the edge builder's keyed lead over l_orderkey
    val keyed = "windowspecdefinition\\(l_orderkey#\\d+L".r.findAllIn(plan).size
    val all = "windowspecdefinition".r.findAllIn(plan).size
    assert(all == keyed, plan)
  }

  test("holt: daily counts partial-agg; the fold is one HOF, no window, no join") {
    val plan = formatted(Queries.holtQ(spark, sf))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("aggregate("), plan)
  }

  test("auc: score-support walk keeps its singleton key; model join broadcast") {
    val plan = formatted(Queries.aucQ(spark, sf))
    // the support walk's window must carry the opaque singleton key
    assert(plan.contains("pmod(hash("), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("kaplan-meier: user reduce partial-aggs; KM product is one fold, no window") {
    val plan = formatted(Queries.kaplanMeierQ(spark, sf))
    assert(plan.contains("partial_min"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
    assert(plan.contains("aggregate("), plan)
  }

  test("mann-kendall: the pair join broadcasts the support, never a shuffle cartesian") {
    val plan = formatted(Queries.mannKendallQ(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("benford: one conditional aggregate; digit spine broadcast; no window") {
    val plan = formatted(Queries.benfordQ(spark, sf))
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
  }

  test("seq mining: the trigram window partitions BY USER; top-20 is TakeOrdered") {
    val plan = formatted(Queries.seqMiningQ(spark, sf))
    assert("windowspecdefinition\\(user_id#\\d+L".r.findFirstIn(plan).isDefined, plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("peak concurrency: the running-sum window partitions BY DAY, never global") {
    val plan = formatted(Queries.peakConcurrencyQ(spark, sf))
    assert("windowspecdefinition\\(day#\\d+L".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_min"), plan)
  }

  test("eb smoothing: one conditional aggregate per source; global row broadcast") {
    val plan = formatted(Queries.ebSmoothingQ(spark, sf))
    assert(plan.contains("partial_sum"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
  }

  test("ngram novelty: anti-join keyed on (n, gram); spine broadcast; no cartesian") {
    val plan = formatted(Queries.ngramNoveltyQ(spark, sf))
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
  }

  test("funnel window: gap-bounded stage joins equi on user_id; no window, no cartesian") {
    val plan = formatted(Queries.funnelWindowQ(spark, sf))
    assert(plan.contains("partial_min"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
  }

  test("time to convert: two keyed reductions; exact percentile; no window") {
    val plan = formatted(Queries.timeToConvertQ(spark, sf))
    assert(plan.contains("partial_min"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("split leakage: one filter over the memoized pair table, no new LSH pass") {
    val plan = formatted(Queries.splitLeakageQ(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    // the memoized lsh_pairs table feeds it — an InMemory scan, not a
    // fresh shingle explode
    assert(plan.contains("InMemoryTableScan") || plan.contains("Filter"), plan)
  }

  test("transitivity: wedge join equi; wedges from one degree aggregate") {
    val plan = formatted(Queries.transitivityQ(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
  }

  test("clustering coef: wedge join equi; per-node support sum partial-aggs") {
    val plan = formatted(Queries.clusteringCoefQ(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_sum"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("conductance: brand lookups broadcast; cut/vol bounded aggregates") {
    val plan = formatted(Queries.conductanceQ(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("map: posting join equi on token; rank window partitions per query") {
    val plan = formatted(Queries.mapQ(spark, sf))
    assert("windowspecdefinition\\(qid#\\d+L".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("cuped: user reduce + stats partial-agg; theta broadcast; no window") {
    val plan = formatted(Queries.cupedQ(spark, sf))
    assert(plan.contains("partial_sum"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("qte: one keyed user reduce, exact percentile, no window, no join") {
    val plan = formatted(Queries.qteQ(spark, sf))
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("ab srm: one distinct + one partial-aggregated pass, no join, no window") {
    val plan = formatted(Queries.abSrmQ(spark, sf))
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
  }

  test("cohort ltv: cumulative window partitions BY COHORT, never global") {
    val plan = formatted(Queries.cohortLtvQ(spark, sf))
    assert("windowspecdefinition\\(cohort#\\d+L".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_min"), plan)
  }

  test("ann pq: ADC scan joins codes against a broadcast LUT — equi only, no raw-vector join") {
    val plan = formatted(Queries.annPq(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the LUT (and the codebooks feeding encode) ride broadcasts
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the per-pair ADC sum partial-aggregates before its exchange
    assert(plan.contains("partial_sum"), plan)
    // the k-selection partial-aggregates too (bounded BottomKLong
    // buffers, at most k rows per query per partition reach the merge)
    // — never a per-query window sort of the corpus-length list
    assert(plan.contains("partial_bottomklong"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
  }

  test("ann ivfpq: scan prunes to probed cells via the (ivf_cell,s,cell) broadcast equi-join") {
    val plan = formatted(Queries.annIvfPq(spark, sf))
    // the only cross is the query x centroid-model probe (bounded);
    // the corpus-code side joins equi against the broadcast LUT keyed
    // by ivf_cell — a code row participates only when its cell is
    // probed, so the join IS the pruning
    assert(plan.contains("ivf_cell"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // ADC partial-aggregates; selection is the bounded partial bottom-k
    assert(plan.contains("partial_sum"), plan)
    assert(plan.contains("partial_bottomklong"), plan)
  }

  test("mmr ann: candidate front is the LSH code join — no corpus-sized cartesian anywhere") {
    val plan = formatted(Queries.mmrAnnQ(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    // pair sims and the greedy fold run on the bounded checkpointed pool
    assert(plan.contains("LocalTableScan") || plan.contains("Scan ExistingRDD"), plan)
  }

  test("textrank: adjacency count partial-aggs; top-20 is TakeOrdered, not a vocab window") {
    val plan = formatted(Queries.textrankQ(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_count"), plan)
    // the vocab-sized rank table is cut by TakeOrderedAndProject (the
    // TextOps house rule); the rnk window runs over those 20 rows only,
    // with no exchange feeding it (TakeOrdered output is already a
    // single 20-row partition)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("hashpartitioning(_w0"), plan)
  }

  test("holt winters: one partial-aggregated daily pass, no join, no window") {
    val plan = formatted(Queries.holtWintersQ(spark, sf))
    assert(plan.contains("partial_count") || plan.contains("Partial"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
  }

  test("pq refine: shortlist + query vectors broadcast onto the raw-vector probe; no cartesian") {
    val plan = formatted(Queries.annPqRefine(spark, sf))
    // ADC shortlist stage: partial bottom-k, not a corpus window
    assert(plan.contains("partial_bottomklong"), plan)
    // refine stage: raw vectors probed by broadcast joins against the
    // |Q|*k'-row shortlist — the corpus never shuffles for the re-rank
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"), plan)
  }

  test("good turing: corpus pass partial-aggs to the type table; stats table broadcasts") {
    val plan = formatted(Queries.goodTuringQ(spark, sf))
    assert(plan.contains("partial_count"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("kneser ney: one corpus bigram pass partial-aggs; top-30 is TakeOrdered") {
    val plan = formatted(Queries.kneserNeyQ(spark, sf))
    assert(plan.contains("partial_count"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("rake: word scores broadcast; phrase window is per-doc; top-20 is TakeOrdered") {
    val plan = formatted(Queries.rakeQ(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the only window is the per-document running stopword count,
    // partitioned by doc_id — never a corpus-global partition
    assert(plan.contains("hashpartitioning(doc_id"), plan)
  }

  test("anova: one fact pass reduces to k sufficient-stat rows; no join, no window") {
    val plan = formatted(Queries.anovaQ(spark, sf))
    assert(plan.contains("partial_count") || plan.contains("Partial"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
  }

  test("kruskal wallis: rank walk rides the value support, fact pass partial-aggs") {
    val plan = formatted(Queries.kruskalWallisQ(spark, sf))
    // one partial-agg corpus pass to (grp, value) cells; everything
    // after is support-sized (~50 distinct quantities); the rank walk
    // keeps its singleton key (pmod(hash(...)), the mann-whitney shape)
    assert(plan.contains("partial_count"), plan)
    assert(plan.contains("pmod(hash("), plan)
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
  }

  test("ann hamming: corpus scans 16-byte codes; probe side broadcasts; bounded bottom-k") {
    val plan = formatted(Queries.annHammingQ(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_bottomklong"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("ann sq8: dim-range model + query codes broadcast; pair sum partial-aggs; bounded bottom-k") {
    val plan = formatted(Queries.annSq8Q(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_sum"), plan)
    assert(plan.contains("partial_bottomklong"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("silhouette: probe side broadcasts; per-(probe,cell) means partial-agg; no windows") {
    val plan = formatted(Queries.silhouetteQ(spark, sf))
    // the corpus x probe pass is a broadcast of the 50-probe side (the
    // only SMJ is the corpus |><| assignment join on vec_id — correct
    // for two corpus-sized inputs); no cartesian, no window anywhere
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("levene: group medians broadcast onto one fact pass; stats partial-agg; no window") {
    val plan = formatted(Queries.leveneQ(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
  }

  test("hamming refine: shortlist + query vectors broadcast onto the raw probe; bounded bottom-k front") {
    val plan = formatted(Queries.annHammingRefineQ(spark, sf))
    assert(plan.contains("partial_bottomklong"), plan)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"), plan)
  }

  test("label model: row-local vote summary, one partial-agg pass, no join") {
    val plan = formatted(Queries.labelModelQ(spark, sf))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("windowspecdefinition"), plan)
  }

  test("decompose: one partial-agg daily pass; windows are calendar-bounded singleton-key") {
    val plan = formatted(Queries.decomposeQ(spark, sf))
    assert(plan.contains("partial_count"), plan)
    assert(plan.contains("pmod(hash("), plan)
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("ann quant recall: truth sides broadcast the probe set; hit counts partial-agg") {
    val plan = formatted(Queries.annQuantRecall(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("harmonic centrality: per-root aggregate partial-aggs; no cartesian in the final pass") {
    val plan = formatted(Queries.harmonicCentralityQ(spark, sf))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("betweenness: per-node reduce partial-aggs; top-20 is TakeOrdered, not a global sort") {
    val plan = formatted(Queries.betweennessQ(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("partial_sum"), plan)
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
  }

  test("kmv sketches: bottom-k aggregates partially; no all-pairs anywhere") {
    val plan = formatted(Queries.kmvOverlapQ(spark, sf))
    assert(plan.contains("partial_bottomklong"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("phash dedup: band equi-join candidates, never an all-pairs product") {
    val plan = formatted(Queries.phashDedupQ(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"), plan)
  }

  test("span corruption: sentinel window is doc-partitioned; no global window") {
    val plan = formatted(Queries.spanCorruptQ(spark, sf))
    assert(plan.contains("hashpartitioning(doc_id"), plan)
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
  }

  test("logrank: lifetimes partial-agg; support walk keeps its singleton key") {
    val plan = formatted(Queries.logrankQ(spark, sf))
    assert(plan.contains("pmod(hash("), plan)
    assert(plan.contains("partial_min") || plan.contains("partial_max"), plan)
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
  }

  test("permutation test: the 200-round spine broadcasts; per-round sums partial-agg") {
    val plan = formatted(Queries.permutationTestQ(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("welch/mcnemar/did/ar1: one scan into a tiny aggregate, no cartesian") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("welch", Queries.welchTtestQ _), ("mcnemar", Queries.mcnemarQ _),
        ("did", Queries.didQ _), ("ar1", Queries.ar1Q _))) {
      val plan = formatted(q(spark, sf))
      assert(plan.contains("partial_sum") || plan.contains("partial_count"),
        s"$n:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
    }
  }

  test("cochran/cmh/shapley: per-user reduce partial-aggs; support arithmetic joins broadcast") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("cochran", Queries.cochranQQ _), ("cmh", Queries.cmhQ _),
        ("shapley", Queries.shapleyQ _))) {
      val plan = formatted(q(spark, sf))
      assert(plan.contains("partial_sum") || plan.contains("partial_count")
        || plan.contains("partial_max"), s"$n:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$n:\n$plan")
    }
  }

  test("sax/dtw/changepoint: daily partial-agg; all later work calendar-bounded, no global window") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("sax", Queries.saxQ _), ("dtw", Queries.dtwQ _),
        ("changepoint", Queries.changepointQ _))) {
      val plan = formatted(q(spark, sf))
      assert(plan.contains("partial_count"), s"$n:\n$plan")
      assert(globalWindow.findFirstIn(plan).isEmpty, s"$n:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
    }
  }

  test("heavy change: token counts partial-agg; the cut is TakeOrdered, not a global sort") {
    val plan = formatted(Queries.heavyChangeQ(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("partial_sum"), plan)
  }

  test("ldiversity: two partial-agg passes, no window, no join") {
    val plan = formatted(Queries.lDiversityQ(spark, sf))
    assert(plan.contains("partial_count") || plan.contains("Partial"), plan)
    assert(!plan.contains("windowspecdefinition") && !plan.contains("SortMergeJoin"), plan)
  }

  test("lof: probe sides broadcast; selections are partial bottom-k, no corpus window sort") {
    val plan = formatted(Queries.lofQ(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
    assert(!plan.contains("windowspecdefinition"), plan)
  }

  test("iv/ipw: one user-keyed partial agg into a cell readout, joins broadcast") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("iv_wald", Queries.ivWaldQ _), ("ipw", Queries.ipwQ _))) {
      val plan = formatted(q(spark, sf))
      assert(plan.contains("partial_sum") || plan.contains("partial_count"), s"$n:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$n:\n$plan")
    }
  }

  test("conformal: selection runs on the residual histogram (singleton-key cumsum), not rows") {
    val plan = formatted(Queries.conformalQ(spark, sf))
    // the cumulative count windows over the value histogram behind the
    // hash-spread singleton key, never a row-level global sort
    assert(plan.contains("pmod(hash("), plan)
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("friedman: day x type ranking joins on the day key, spine broadcast, no cartesian") {
    val plan = formatted(Queries.friedmanQ(spark, sf))
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("rouge: gram counts partial-agg; all joins keyed by (doc, n, gram)") {
    val plan = formatted(Queries.rougeQ(spark, sf))
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("viterbi: per-user partial collect then a narrow fold, no window, no join") {
    val plan = formatted(Queries.viterbiQ(spark, sf))
    assert(plan.contains("partial_collect_list") || plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("windowspecdefinition") && !plan.contains("SortMergeJoin"), plan)
  }

  test("kalman/page-hinkley: daily partial-agg; later work calendar-bounded") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("kalman", Queries.kalmanQ _), ("page_hinkley", Queries.pageHinkleyQ _))) {
      val plan = formatted(q(spark, sf))
      assert(plan.contains("partial_count"), s"$n:\n$plan")
      assert(globalWindow.findFirstIn(plan).isEmpty, s"$n:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
    }
  }

  test("hurst: chunk windows key by (scale, chunk), scales spine broadcast") {
    val plan = formatted(Queries.hurstQ(spark, sf))
    assert(plan.contains("partial_count"), plan)
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
  }

  test("tost/rdd: one scan into a tiny aggregate, no cartesian") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("tost", Queries.tostQ _), ("rdd_sharp", Queries.rddSharpQ _))) {
      val plan = formatted(q(spark, sf))
      assert(plan.contains("partial_sum") || plan.contains("partial_count"), s"$n:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
    }
  }

  test("ucb: (day, arm) partial-agg; the replay fold is calendar-bounded, no window") {
    val plan = formatted(Queries.ucbQ(spark, sf))
    assert(plan.contains("partial_sum") || plan.contains("partial_count"), plan)
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dbscan: candidate pairs join on the label block key, never all-pairs") {
    val plan = formatted(Queries.dbscanQ(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    // the only nested-loop join is the 1-row x 1-row noise-count scalar
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("crosscorr/granger/var_es/croston: daily partial-agg, fits broadcast, no cartesian") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("crosscorr", Queries.crossCorrQ _), ("granger", Queries.grangerQ _),
        ("var_es", Queries.varEsQ _), ("croston", Queries.crostonQ _))) {
      val plan = formatted(q(spark, sf))
      assert(plan.contains("partial_sum") || plan.contains("partial_count"), s"$n:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
    }
  }

  test("dw/jb/grubbs/runs/kendall: one scan into sufficient stats, no cartesian") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("durbin_watson", Queries.durbinWatsonQ _),
        ("jarque_bera", Queries.jarqueBeraQ _), ("grubbs", Queries.grubbsQ _),
        ("runs_test", Queries.runsTestQ _), ("kendall_tau", Queries.kendallTauQ _))) {
      val plan = formatted(q(spark, sf))
      // grubbs' argmax stage reads its checkpointed deviation table, so
      // the visible partials are the max/sum pair rather than the count
      assert(plan.contains("partial_"), s"$n:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
    }
  }

  test("ljung_box: lag spine broadcast; Q cumsum keyed behind the singleton hash") {
    val plan = formatted(Queries.ljungBoxQ(spark, sf))
    assert(plan.contains("pmod(hash("), plan)
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("effect_size/f_test/mood_median: group stats partial-agg, support-bounded ranks") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("effect_size", Queries.effectSizeQ _), ("f_test", Queries.fTestQ _),
        ("mood_median", Queries.moodMedianQ _))) {
      val plan = formatted(q(spark, sf))
      assert(plan.contains("partial_count") || plan.contains("partial_sum"), s"$n:\n$plan")
      assert(globalWindow.findFirstIn(plan).isEmpty, s"$n:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
    }
  }

  test("ses_grid: ONE corpus scan into the day array; alpha spine broadcast") {
    val plan = formatted(Queries.sesGridQ(spark, sf))
    assert(plan.contains("partial_count"), plan)
    // one collected day array feeds all 7 alpha replays via the
    // broadcast alpha spine — a single nested-loop of 1 x 7 rows
    assert(plan.contains("partial_sort_array") || plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("discord: window pairs join on the hour offset, never all-pairs") {
    val plan = formatted(Queries.discordQ(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("closeness: hop-bounded BFS levels; node count rides a broadcast") {
    val plan = formatted(Queries.closenessQ(spark, sf))
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("pseudonymize: user support table only — no join anywhere") {
    val plan = formatted(Queries.pseudonymizeQ(spark, sf))
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("dataset_card: per-source rollup partial-aggs; argmax keyed by source") {
    val plan = formatted(Queries.datasetCardQ(spark, sf))
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
  }

  test("knn_class: probes broadcast; 3-NN selection is the partial bottom-k aggregate") {
    val plan = formatted(Queries.knnClassQ(spark, sf))
    assert(plan.contains("partial_bottomklong"), plan)
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("single_linkage: banded candidates, one pass gated at the loosest cut") {
    val plan = formatted(Queries.singleLinkageQ(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("sample_size: one user-keyed conversion aggregate; lift grid broadcast") {
    val plan = formatted(Queries.sampleSizeQ(spark, sf))
    assert(plan.contains("partial_max") || plan.contains("partial_count"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("needleman: per-user sorted collect; probe-bounded pair join, no window") {
    val plan = formatted(Queries.needlemanQ(spark, sf))
    assert(plan.contains("ObjectHashAggregate") || plan.contains("partial_collect_list"), plan)
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("forecast_eval: one fold over the train array; model + split broadcast to the holdout") {
    val plan = formatted(Queries.forecastEvalQ(spark, sf))
    assert(plan.contains("ObjectHashAggregate") || plan.contains("partial_collect_list"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("hl/kappa/mcc/cronbach: exact counters from one pass, no cartesian blowup") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("hodges_lehmann", Queries.hodgesLehmannQ _), ("kappa", Queries.kappaQ _),
        ("mcc", Queries.mccQ _), ("cronbach", Queries.cronbachQ _))) {
      val plan = formatted(q(spark, sf))
      assert(plan.contains("partial_"), s"$n:\n$plan")
      assert(globalWindow.findFirstIn(plan).isEmpty, s"$n:\n$plan")
    }
  }

  test("partial_corr: one daily aggregate into a 1-row sufficient-stats solve") {
    val plan = formatted(Queries.partialCorrQ(spark, sf))
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("uplift: user reduce -> per-(bin, arm) cells; no join at all") {
    val plan = formatted(Queries.upliftQ(spark, sf))
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("cem: user reduce -> bin cells -> 1-row readout; no per-pair matching join") {
    val plan = formatted(Queries.cemQ(spark, sf))
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("tukey/qq_octiles: per-group exact percentiles, fences broadcast back") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("tukey_fences", Queries.tukeyFencesQ _), ("qq_octiles", Queries.qqOctilesQ _))) {
      val plan = formatted(q(spark, sf))
      assert(plan.contains("partial_percentile") || plan.contains("ObjectHashAggregate"),
        s"$n:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
      assert(globalWindow.findFirstIn(plan).isEmpty, s"$n:\n$plan")
    }
  }

  test("vocab_tail: every cut is a TakeOrdered over the checkpointed top table") {
    val plan = formatted(Queries.vocabTailQ(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("cross_val/l1_centroid/robust_z: fold-filtered or percentile aggregates, no cartesian") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("cross_val", Queries.crossValQ _), ("l1_centroid", Queries.l1CentroidQ _),
        ("robust_z", Queries.robustZQ _))) {
      val plan = formatted(q(spark, sf))
      assert(plan.contains("partial_"), s"$n:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
      assert(globalWindow.findFirstIn(plan).isEmpty, s"$n:\n$plan")
    }
  }

  test("brier/lift_gains: bucket table aggregates; gains walk behind the singleton hash") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("brier", Queries.brierQ _), ("lift_gains", Queries.liftGainsQ _))) {
      val plan = formatted(q(spark, sf))
      assert(plan.contains("partial_count") || plan.contains("partial_sum"), s"$n:\n$plan")
      assert(globalWindow.findFirstIn(plan).isEmpty, s"$n:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
    }
  }

  test("r10 calendar stats (theil_sen/huber/pacf): partial aggs, bounded non-equi joins, no global window") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("theil_sen", Queries.theilSenQ _), ("huber", Queries.huberQ _),
        ("pacf", Queries.pacfQ _))) {
      val plan = formatted(q(spark, sf))
      assert(plan.contains("partial_count") || plan.contains("partial_sum"), s"$n:\n$plan")
      assert(globalWindow.findFirstIn(plan).isEmpty, s"$n:\n$plan")
    }
  }

  test("r10 shortlist fusers (borda/rbo): rankings are TakeOrdered shortlists") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("borda", Queries.bordaQ _), ("rbo", Queries.rboQ _))) {
      val plan = formatted(q(spark, sf))
      assert(plan.contains("TakeOrderedAndProject"), s"$n:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
    }
  }

  test("r10 corpus scans (readability/mattr/allen/capture_recapture): map-side combine, no window") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("readability", Queries.readabilityQ _), ("mattr", Queries.mattrQ _),
        ("allen", Queries.allenRelationsQ _),
        ("capture_recapture", Queries.captureRecaptureQ _))) {
      val plan = formatted(q(spark, sf))
      assert(plan.contains("partial_count") || plan.contains("partial_sum")
        || plan.contains("partial_max"), s"$n:\n$plan")
      assert(!plan.contains("windowspecdefinition"), s"$n:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
    }
  }

  test("r10 err: retrieval pass broadcasts the 50-probe side, window keyed by query") {
    val plan = formatted(Queries.errQ(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(globalWindow.findFirstIn(plan).isEmpty, plan)
  }

  test("r10 kcenter: distance passes broadcast the single-center frame") {
    val plan = formatted(Queries.kCenterQ(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("r10 dims (tcloseness/hhi/odds_ratio/median_polish/slope_one): broadcasts + partial aggs") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("tcloseness", Queries.tClosenessQ _), ("hhi", Queries.hhiQ _),
        ("odds_ratio", Queries.oddsRatioQ _),
        ("median_polish", Queries.medianPolishQ _),
        ("slope_one", Queries.slopeOneQ _))) {
      val plan = formatted(q(spark, sf))
      assert(plan.contains("partial_count") || plan.contains("partial_sum"), s"$n:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
    }
  }

  test("r10 wave4 (fdr_bh/embed_drift/removal_effect): partial aggs, keyed windows only") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("fdr_bh", Queries.fdrBhQ _), ("embed_drift", Queries.embedDriftQ _),
        ("removal_effect", Queries.removalEffectQ _))) {
      val plan = formatted(q(spark, sf))
      assert(globalWindow.findFirstIn(plan).isEmpty, s"$n:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
    }
  }

  test("ivfpq_pruned: the code-table scan carries PartitionFilters on ivf_cell") {
    val plan = formatted(Queries.annIvfPqPruned(spark, sf))
    // the IVFADC layout proof: the probed-cell predicate must land as a
    // partition filter on the parquet scan of the ivf_cell-partitioned
    // lake table — directory pruning (IO bound), not a post-scan filter
    val pf = "PartitionFilters: \\[[^\\]]*ivf_cell".r
    assert(pf.findFirstIn(plan).isDefined, plan)
    assert(plan.contains("ivf_cell IN") || plan.contains("ivf_cell#"), plan)
  }

  test("10b hill/mahalanobis: shortlists are TakeOrdered, never a global sort") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("hill", Queries.hillQ _), ("mahalanobis", Queries.mahalanobisQ _))) {
      val plan = formatted(q(spark, sf))
      assert(plan.contains("TakeOrderedAndProject"), s"$n:\n$plan")
    }
  }

  test("10b random_projection: the 512-entry sign matrix rides a broadcast join") {
    val plan = formatted(Queries.randomProjectionQ(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("10b als_rank1: factor joins broadcast the model side (item/user factors)") {
    val plan = formatted(Queries.alsRank1Q(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan) // partial+final sweeps
  }

  test("10b drift family (psi/wasserstein/quantile_norm/mutual_info): no cartesian, partial aggs") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("psi", Queries.psiQ _), ("wasserstein", Queries.wassersteinQ _),
        ("quantile_norm", Queries.quantileNormQ _),
        ("mutual_info", Queries.mutualInfoQ _))) {
      val plan = formatted(q(spark, sf))
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
      assert("HashAggregate".r.findAllIn(plan).size >= 2, s"$n:\n$plan")
    }
  }

  test("10b eval triple + price_index + bradley_terry: no cartesian, keyed joins") {
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
        ("pr_auc", Queries.prAucQ _),
        ("decision_curve", Queries.decisionCurveQ _),
        ("price_index", Queries.priceIndexQ _),
        ("bradley_terry", Queries.bradleyTerryQ _))) {
      val plan = formatted(q(spark, sf))
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
    }
  }

  test("r11 decontaminate_embed: broadcast probe side, one corpus pass, no cartesian") {
    val plan = formatted(Queries.decontaminateEmbedQ(spark, sf))
    // the eval set broadcasts; the per-vector argmax partial-aggregates
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r.findAllIn(plan).nonEmpty, plan)
  }

  test("r11 consistent_hashing: NO join on the key side — the ring rides one broadcast row") {
    val plan = formatted(Queries.consistentHashQ(spark, sf).select(col("shard"), col("load_before")))
    // successor lookup must be a narrow array expression, never a
    // per-key range/equi join against the 128-row token table
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("r11 prefix_cache: the window is keyed by source (never singleton)") {
    val df = Queries.prefixCacheQ(spark, sf)
    assert(WindowLint.singletonWindowKeys(df).isEmpty)
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("r11 source_loo: the corpus is tokenized ONCE, not once per consumer") {
    val plan = formatted(Queries.sourceLooQ(spark, sf))
    // the (source, token) aggregate is checkpointed; its four consumers
    // must read the materialized table — zero Generate(explode) nodes
    // in the final plan (the guard that caught the 4x re-tokenize)
    assert("\\bGenerate\\b".r.findAllIn(plan).isEmpty, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("r11 mis: joinless round-1 min-priority aggregate (no SortMergeJoin before the first agg)") {
    // build only the round-1 minEdge shape: symmetrized edges straight
    // into the per-src struct-min — the x100 OOM fix's load-bearing
    // property is that NO priority-table join precedes this aggregate
    val ed = Queries.partAdjacencyEdges(spark, sf)
      .select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
    val und = ed.union(ed.select(col("dst").as("src"), col("src").as("dst")))
    val prio = (col("dst") * lit(2654435761L)) % lit(2305843009213693951L)
    val mn = und.groupBy(col("src"))
      .agg(min(struct(prio.as("p"), col("dst").as("n"))).as("m"))
    val plan = formatted(mn)
    assert(!plan.contains("Join"), plan)
  }

  test("r12 matching: joinless round-1 matched-edge derivation (min agg + twice-count, no joins)") {
    // the load-bearing property of the 129→69 s x100 fix: matched
    // edges come from "struct appears twice among per-vertex minima",
    // never from local-minimality equi joins against the edge list
    val ed = Queries.partAdjacencyEdges(spark, sf)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
    val p = (col("a") * lit(2654435761L)) % lit(2305843009213693951L) +
      (col("b") * lit(2654435761L)) % lit(2305843009213693951L)
    val e = ed.select(col("a"), col("b"), p.as("p"))
    val s = struct(col("p"), col("a"), col("b"))
    val matched = e.select(col("a").as("v"), s.as("s"))
      .union(e.select(col("b").as("v"), s.as("s")))
      .groupBy(col("v")).agg(min(col("s")).as("m"))
      .groupBy(col("m")).agg(count(lit(1)).as("c")).filter(col("c") === 2)
    val plan = formatted(matched)
    assert(!plan.contains("Join"), plan)
  }

  test("r12 pack_ffd: tokenize once, bucket-parallel fold, no cartesian") {
    val plan = formatted(Queries.packFfdQ(spark, sf))
    // the tokenize regex runs ONCE, at the checkpointed (doc_id, n)
    // build — the final plan must not re-tokenize in either branch
    assert(!plan.contains("regexp_extract_all"), plan)
    // the per-bucket collect shuffles on the 32-way salted bucket key
    assert(plan.contains("hashpartitioning(bucket"), plan)
    // and the scalar oversize side rides a broadcast, not a cartesian
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("r13 train_order: one (epoch, shard) exchange, no global sort or driver loop") {
    val plan = formatted(Queries.trainOrderQ(spark, sf))
    // the in-shard position window shuffles ONCE on (epoch, shard) —
    // the only hash exchange in the plan; shard count scales with the
    // cluster and the permutation never passes through a global sort
    assert("hashpartitioning\\(epoch".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("partitioning(okey"), plan) // no okey-keyed shuffle
    // the epoch grid rides a broadcast, never a cartesian
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    // bounded replica explode is a Generate, not a join
    assert(plan.contains("Generate"), plan)
  }

  test("r14 coreness round body: src-partitioned edges + broadcast values → no shuffle") {
    // The h-index round over a src-partitioned edge table with the
    // |V|-row value table broadcast must plan WITHOUT any hash exchange:
    // the dst join preserves the stream side's hashpartitioning(src),
    // which then satisfies the (src, nv) count, the src window and the
    // final h-index aggregate (guide §2.3/2.4 — the q_coreness 13.7 →
    // 2.5 s round shape; two hash exchanges per round before).
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val e = ((for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)) :+ ((4L, 5L)))
      .toDF("src", "dst")
    val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().repartition(col("src")).persist()
    und.count()
    val v = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("v"))
      .localCheckpoint(true)
    val w = Window.partitionBy(col("src")).orderBy(col("nv").desc)
    val round = und
      .join(broadcast(v.select(col("node").as("dst"), col("v").as("nv"))), Seq("dst"))
      .groupBy(col("src"), col("nv")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(w))
      .groupBy(col("src").as("node"))
      .agg(max(least(col("cum"), col("nv"))).as("v"))
    val plan = formatted(round)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    und.unpersist()
  }
}
