package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Checkpoints.gatedBroadcast

/** Distributed graph measures over edge tables.
  *
  * PageRank here is the fixed-iteration, declarative form: each power
  * iteration is one equi-join (edges ⋈ ranks on src) plus one aggregate
  * (sum of pushed mass by dst) — the classic "join-and-regroup" shape
  * that scales linearly in |E| per iteration and never materializes
  * anything denser than the edge list. Ranks are rounded per iteration
  * (same device as the unrolled k-means oracle) so a DuckDB oracle can
  * replay the identical arithmetic bit-for-bit.
  */
object Graph {

  /** Synchronous label propagation (community detection) with a fixed
    * iteration count — deterministic LPA: every node starts labeled
    * with itself; each round it adopts the label carrying the highest
    * total INTEGER edge weight among its neighbors, ties broken by
    * smallest label. Integer weights make the argmax exact (no float
    * boundary can flip a community), and the synchronous schedule makes
    * the result order-free — the two changes that turn the classically
    * nondeterministic LPA into an oracle-checkable operator.
    *
    * Scale shape: one round = one equi-join of the undirected edge list
    * against the O(|V|) label table (shuffle on dst) + one (src, label)
    * aggregate + one min-struct argmax per src — the pagerank
    * join-and-regroup cost, O(|E|) per round, nothing collected.
    *
    * @param edges (src, dst, w: long) directed edge list; symmetrized
    *              and parallel-summed internally.
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    // The symmetrized weight-summed edge table feeds EVERY round's join:
    // checkpointed once (eager) instead of re-running the |E| union +
    // aggregate per round inside the lazy chain. The labels chain itself
    // is linear (each round references the previous exactly once), so it
    // stays lazy — one job, no per-round barrier. The checkpoint backs
    // the returned frame, so it is the one kind no scope may release
    // (see [[Checkpoints]]): it lives until the ContextCleaner drops it.
    val und = edges.select(col("src"), col("dst"), col("w"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .localCheckpoint(true)
    var labels = und.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to iters) {
      labels = und.join(labels, und("dst") === labels("node"))
        .groupBy(col("src"), col("label")).agg(sum(col("w")).as("wt"))
        .groupBy(col("src"))
        .agg(min(struct((-col("wt")).as("nw"), col("label"))).as("best"))
        .select(col("src").as("node"), col("best.label").as("label"))
    }
    labels
  }

  /** k-core: the maximal subgraph in which every vertex keeps at least
    * `k` neighbors — iterative peeling (drop all vertices of degree <k,
    * recompute degrees, repeat) run to fixpoint. The peel is the
    * standard subgraph-density primitive: spam/bot rings, dense
    * community seeds, and "well-connected part" selection all start
    * from a core membership test.
    *
    * Semantics: the input edge list is symmetrized, de-duplicated and
    * self-loop-stripped first, so degree = number of DISTINCT
    * neighbors. Returns the surviving vertices with their degree
    * INSIDE the core (all ≥ k). Deterministic: peeling removes a
    * unique vertex set per round regardless of order.
    *
    * Scale shape: each round is one O(|E|) degree aggregate plus two
    * semi-joins of the edge table against the O(|V|) keep set — the
    * connected-components cost profile. The edge table shrinks
    * monotonically; rounds needed in practice is small (degeneracy
    * peel depth, 3-6 on the test graphs). Per round the surviving edge
    * table is a scoped checkpoint ([[Checkpoints]]; the superseded one
    * is released at once) and the fixpoint probe is a cheap isEmpty on
    * the sub-threshold degree rows. Nothing is ever collected to the
    * driver.
    *
    * @param edges (src, dst) directed edge list; extra columns ignored.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 30,
      und0: Option[DataFrame] = None): DataFrame = Checkpoints.scoped { s =>
    // und0: caller-owned round-0 symmetrized distinct table (the kTruss
    // contract) — the scope does not track it, so it is never released
    var u = und0.getOrElse {
      val e = edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
      s.checkpoint(e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    }
    var converged = false
    var i = 0
    while (!converged && i < maxRounds) {
      // ONE O(|E|) degree pass per round: both the fixpoint probe and
      // the keep set read the checkpointed O(|V|) degree table instead
      // of re-aggregating the edge table
      val deg = s.checkpoint(u.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      // fixpoint probe: no vertex below threshold → current u IS the core
      if (deg.filter(col("deg") < k).isEmpty) converged = true
      else {
        val keep = deg.filter(col("deg") >= k).select(col("src").as("node"))
        val next = s.checkpoint(u
          .join(keep.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
          .select(col("src"), col("dst")))
        s.release(u)
        u = next
      }
      s.release(deg)
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"kCore: no fixpoint after $maxRounds rounds (k=$k)")
    s.keep(u).groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** Simple-graph symmetrization WITHOUT an |E|-keyed aggregate:
    * requires the input to be UNIQUE directed pairs (self-loops are
    * stripped); the reversed side keeps only pairs whose reverse is
    * absent via a spill-safe anti join, so no giant distinct ever
    * runs (the q_mis / 8g-heap x100 lesson — aggregates over |E|
    * grouping keys can't spill their way out, joins can). Result set
    * is identical to `union.distinct()`.
    */
  private def symmetrizeUnique(e0: DataFrame): DataFrame = {
    val e = e0.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
    e.union(
      e.select(col("dst").as("src"), col("src").as("dst"))
        .join(e, Seq("src", "dst"), "left_anti"))
  }

  /** Coreness (k-core number) of every vertex by the h-index fixpoint
    * iteration (Lü et al. 2016, "The H-index of a network node and its
    * relation to degree and coreness"): start from degree; each round
    * every vertex's value becomes the h-index of its neighbors'
    * values (the largest h with ≥ h neighbors valued ≥ h) — values
    * decrease monotonically to the exact coreness. `iters` is fixed
    * (deterministic output; an unconverged value is a valid upper
    * bound). Per round: one |E|-row join of the symmetrized edges
    * against the O(|V|) value table, COMPRESSED to per-(node, value)
    * counts before any window — h = max(least(cum_count, value)) over
    * the cumulative-from-the-top counts is exactly the neighbor-rank
    * h-index, but the windowed rows are bounded by distinct neighbor
    * VALUES per node, which collapses toward the small coreness range
    * after round 1 (the naive per-neighbor rank window re-sorts all
    * |E| rows every round — measured 24×/decade at x100 before this).
    * No |E|-keyed aggregate ([[symmetrizeUnique]]); nothing collected.
    *
    * @param edges UNIQUE directed pairs (the co-occurrence contract).
    */
  def coreness(edges: DataFrame, iters: Int,
      und0: Option[DataFrame] = None): DataFrame = Checkpoints.scoped { s =>
    import org.apache.spark.sql.expressions.Window
    // und0: caller-owned symmetrized distinct self-loop-free edge table,
    // pre-partitioned on src (the bfsDistances und0 contract) — never
    // released here. The self-built table gets the same src partitioning:
    // with the |V|-row value table broadcast (size-gated below), EVERY
    // round body — dst join, per-(node, value) count, cumulative window,
    // h-index max — then reuses hashpartitioning(src), so a round runs
    // with ZERO shuffle exchanges (two per round before).
    val und = und0.getOrElse(
      s.checkpoint(symmetrizeUnique(edges).repartition(col("src"))))
    var v = s.checkpoint(und.groupBy(col("src").as("node")).agg(count(lit(1)).as("v")))
    // |V| is round-invariant (every node keeps a value each round), so
    // one count gates all per-round broadcasts
    val nV = v.count()
    (1 to iters).foreach { _ =>
      val w = Window.partitionBy(col("src")).orderBy(col("nv").desc)
      val next = s.checkpoint(und
        .join(gatedBroadcast(v.select(col("node").as("dst"), col("v").as("nv")), nV),
          Seq("dst"))
        .groupBy(col("src"), col("nv")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(w))
        .groupBy(col("src").as("node"))
        .agg(max(least(col("cum"), col("nv"))).as("v")))
      s.release(v)
      v = next
    }
    s.keep(v)
  }

  /** Deterministic Linear Threshold cascade (Kempe, Kleinberg &
    * Tardos 2003 semantics with uniform 1/indeg weights and
    * hash-assigned thresholds — no randomness, so the spread is an
    * oracle-checkable number): seeds activate at round 0; a vertex
    * activates when its active-in-neighbor count clears its ppm
    * threshold under cross-multiplication
    * (`n_active_in·10⁶ ≥ θ_ppm·indeg`). Runs a FIXED round count;
    * returns (round, newly, active) per round. Per round: one |E|-row
    * join against the active set + one node-keyed aggregate
    * ([[symmetrizeUnique]] adjacency, in = symmetrized neighbors).
    */
  def ltmCascade(edges: DataFrame, seeds: DataFrame, rounds: Int,
      thetaSalt: String): Seq[(Long, Long, Long)] = Checkpoints.scoped { s =>
    // The edge table is partitioned on dst — the key of every round's
    // active-in-neighbor aggregate — and the O(active) set rides
    // size-gated broadcasts into the semi/anti joins, so a round's
    // aggregate reuses hashpartitioning(dst) with ZERO shuffle exchanges
    // (guide §2.3/2.4; the coreness/und_src layout applied here). The
    // threshold table inherits the same node partitioning for free.
    val und = s.checkpoint(symmetrizeUnique(edges).repartition(col("dst")))
    val thr = s.checkpoint(und.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("indeg"))
      .withColumn("theta_ppm",
        TextOps.portableHash64(concat(lit(thetaSalt), col("node"))) % 1000000))
    var active = s.checkpoint(seeds.select(col("node")))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var nActive = active.count()
    out += ((0L, nActive, nActive))
    (1 to rounds).foreach { r =>
      val activeIn = und
        .join(gatedBroadcast(active.withColumnRenamed("node", "src"), nActive),
          Seq("src"), "left_semi")
        .groupBy(col("dst").as("node")).agg(count(lit(1)).as("n_in"))
      val newly = activeIn
        .join(thr, "node")
        .join(gatedBroadcast(active, nActive), Seq("node"), "left_anti")
        .filter(col("n_in") * 1000000L >= col("theta_ppm") * col("indeg"))
        .select(col("node"))
      val nextActive = s.checkpoint(active.union(newly))
      val n = nextActive.count()
      out += ((r.toLong, n - nActive, n))
      nActive = n
      s.release(active)
      active = nextActive
    }
    out.toSeq
  }

  /** Densest-subgraph greedy peel (Bahmani, Kumar & Vassilvitskii
    * 2012, "Densest Subgraph in Streaming and MapReduce", ε = 1) on
    * the DIRECTED-MULTIPLICITY view of the input — an (a, b)/(b, a)
    * pair contributes degree 2, i.e. edge multiplicity acts as a
    * weight (Bahmani's rule is weight-agnostic): each round records
    * the current subgraph's (|V|, symmetrized-row count,
    * removed-this-round) and then deletes every vertex whose weighted
    * degree is at most twice the average (`deg·|V| ≤ 2·rows`, exact
    * cross-multiplied integers). The best density seen is the
    * 2(1+ε)-approximation certificate when the peel runs to empty;
    * under a bounded round budget it is still an exact density lower
    * bound for the best prefix subgraph.
    *
    * Scale shape, deliberately NOT the symmetrized-distinct [[kCore]]
    * construction: the checkpointed table stays DIRECTED (the input's
    * unique pairs), symmetrization is a lazy endpoint union, and every
    * aggregate is node-keyed (|V| keys) — no |E|-keyed aggregate ever
    * runs, so the peel stays inside the q_mis x100 memory lesson even
    * on a constrained heap. One degree pass + two semi-joins per
    * round; only scalar stat triples reach the driver.
    */
  def densestPeel(edges: DataFrame, rounds: Int): Seq[(Long, Long, Long, Long)] =
      Checkpoints.scoped { s =>
    var u = s.checkpoint(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")))
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    (1 to rounds).foreach { r =>
      val deg = s.checkpoint(u.select(col("src").as("node"))
        .union(u.select(col("dst").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg")))
      val st = deg.agg(coalesce(sum(col("deg")), lit(0L)).as("rows"),
        count(lit(1)).as("nv")).collect()(0)
      val (rows, nv) = (st.getLong(0), st.getLong(1))
      val kept = deg.filter(col("deg") * nv > lit(2L) * rows)
        .select(col("node"))
      val next = s.checkpoint(u
        .join(kept.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .join(kept.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")))
      // removed-by-rule count (a kept vertex can still vanish when all
      // its neighbors are removed — that is NOT counted here)
      stats += ((r.toLong, nv, rows, nv - kept.count()))
      s.release(u)
      s.release(deg)
      u = next
    }
    stats.toSeq
  }

  /** k-truss decomposition: iteratively peel edges supported by fewer
    * than k−2 triangles until fixpoint; returns the surviving oriented
    * edges (src < dst) with their final support. The cohesion notch
    * above k-core — a k-core can be a sparse star-of-stars, a k-truss
    * edge is embedded in (k−2) actual triangles, which is what
    * community-keeping pipelines filter on.
    *
    * Scale shape per round: support is ONE wedge equi-join
    * (oriented edge ⋈ adjacency ⋈ adjacency — the q_triangles closing
    * shape, never an all-pairs), the peel is a symmetrized left-semi
    * on the keep set, and the fixpoint probe compares two counts.
    * Round count is data-bounded (support only shrinks); each round's
    * edge set is a scoped checkpoint and the predecessor released, so
    * lineage stays flat on deep peels.
    */
  def kTruss(edges: DataFrame, k: Int, maxRounds: Int = 30,
      und0: Option[DataFrame] = None,
      support0: Option[DataFrame] = None): DataFrame = Checkpoints.scoped { s =>
    require(k >= 3, s"kTruss needs k >= 3, got $k")
    // und0/support0: caller-owned precomputed round-0 tables (e.g. a
    // session-memoized shared wedge pass). The scope does not track
    // them, so they are never released here; correctness is identical
    // because round 0 would compute exactly these tables.
    var und = und0.getOrElse {
      val e = edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
      s.checkpoint(e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    }
    def support(u: DataFrame): DataFrame = {
      val o = u.filter(col("src") < col("dst"))
        .select(col("src").as("a"), col("dst").as("b"))
      o.join(u.select(col("src").as("a"), col("dst").as("w1")), "a")
        .join(u.select(col("src").as("b"), col("dst").as("w2")), "b")
        .filter(col("w1") === col("w2"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("s"))
    }
    var converged = false
    var i = 0
    var sup: DataFrame = null
    while (!converged && i < maxRounds) {
      sup = if (i == 0 && support0.isDefined) support0.get else s.checkpoint(support(und))
      val oriented = und.filter(col("src") < col("dst")).count()
      val kept = sup.filter(col("s") >= k - 2)
      if (kept.count() == oriented) converged = true
      else {
        val keepSym = kept.select(col("a"), col("b"))
          .union(kept.select(col("b").as("a"), col("a").as("b")))
        val next = s.checkpoint(und
          .join(keepSym.select(col("a").as("src"), col("b").as("dst")),
            Seq("src", "dst"), "left_semi"))
        s.release(und)
        s.release(sup)
        und = next
      }
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"kTruss: no fixpoint after $maxRounds rounds (k=$k)")
    // only the final support table backs the result; the scope releases
    // the final edge set
    s.keep(sup).select(col("a").as("src"), col("b").as("dst"), col("s").as("support"))
  }

  /** Multi-source BFS hop distances: every node reachable from the
    * source set, with its minimum hop count — the
    * distance-to-seed-set primitive (seed-expansion sampling, blast
    * radius, "within N hops of a flagged account"). Iterative
    * relaxation: each round unions the current distances with
    * neighbor+1 candidates and takes the min per node. The BFS
    * invariant (a node reached in round i carries its FINAL distance)
    * makes the fixpoint probe a row-count comparison — no
    * change-detection join.
    *
    * Scale shape: one O(|E|) equi-join + one O(reached) aggregate per
    * round, rounds = source-set eccentricity; the distance table is a
    * scoped checkpoint per round ([[Checkpoints]]) with immediate
    * release of the superseded one. Nothing is collected.
    *
    * @param edges   (src, dst) directed; symmetrized + self-loop-
    *                stripped internally.
    * @param sources one column `node` — the seed set.
    */
  def bfsDistances(edges: DataFrame, sources: DataFrame,
      maxRounds: Int = 20, und0: Option[DataFrame] = None): DataFrame =
      Checkpoints.scoped { s =>
    // und0: caller-owned symmetrized distinct self-loop-free edge table
    // (e.g. a session memo shared across the BFS-family queries) —
    // never persisted or released here; identical semantics because the
    // local build would compute exactly this table.
    val und = und0.getOrElse(s.persist(symmetrizedBySrc(edges)))
    var dist = s.checkpoint(sources.select(col("node")).distinct()
      .withColumn("d", lit(0L)))
    var reached = dist.count()
    var converged = false
    var i = 0
    while (!converged && i < maxRounds) {
      val next = s.checkpoint(dist
        .union(und.join(dist.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"), (col("d") + 1L).as("d")))
        .groupBy(col("node")).agg(min(col("d")).as("d")))
      val n = next.count()
      converged = n == reached
      reached = n
      s.release(dist)
      dist = next
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"bfsDistances: frontier still growing after $maxRounds rounds")
    s.keep(dist)
  }

  /** Symmetrized distinct self-loop-free edges, partitioned on src: the
    * shape of the caller-owned `und0` tables.
    */
  private def symmetrizedBySrc(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
  }

  /** Per-source BFS distances `(root, node, d)` for a bounded seed set
    * — the multi-source twin of [[bfsDistances]] that keeps each
    * source's frontier separate. State is |sources|·|reachable|, so
    * callers bound the seed set (the centrality queries probe ~10
    * roots); at 100 TB this is the standard sampled-centrality shape —
    * exact per-root distances, root count chosen by budget. Same loop
    * as [[bfsDistances]]: min-aggregate per round over the symmetrized
    * edges, a scoped checkpoint each round with release of the
    * superseded one, count-converged (a node's first reach is at its
    * true hop distance, so a stable (root, node) count means every d
    * is final), error on non-convergence.
    */
  def bfsDistancesPerSource(edges: DataFrame, sources: DataFrame,
      maxRounds: Int = 20, und0: Option[DataFrame] = None): DataFrame =
      Checkpoints.scoped { s =>
    // und0: caller-owned shared edge table — see [[bfsDistances]]
    val und = und0.getOrElse(s.persist(symmetrizedBySrc(edges)))
    var dist = s.checkpoint(sources.select(col("node")).distinct()
      .select(col("node").as("root"), col("node"), lit(0L).as("d")))
    var reached = dist.count()
    var converged = false
    var i = 0
    while (!converged && i < maxRounds) {
      val next = s.checkpoint(dist
        .union(und.join(dist.withColumnRenamed("node", "src"), "src")
          .select(col("root"), col("dst").as("node"), (col("d") + 1L).as("d")))
        .groupBy(col("root"), col("node")).agg(min(col("d")).as("d")))
      val n = next.count()
      converged = n == reached
      reached = n
      s.release(dist)
      dist = next
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"bfsDistancesPerSource: frontier still growing after $maxRounds rounds")
    s.keep(dist)
  }

  /** Common-neighbor link features per edge: for every undirected edge
    * (x < y), the number of shared neighbors `cn`, the endpoint
    * degrees, and the neighborhood Jaccard cn/(dx+dy-cn) — the
    * classic link-prediction / tie-strength feature set
    * (Liben-Nowell & Kleinberg 2003; graph-cleaning pipelines use the
    * Jaccard to prune weak ties before community detection).
    *
    * cn is exactly the per-EDGE triangle count, so the implementation
    * reuses the degree-orientation trick from the triangle counter:
    * every edge points (deg, id)-low → high, wedges enumerate only
    * out-neighbor pairs (Σ C(outdeg,2), outdeg ≤ O(√|E|)), and each
    * closed wedge credits its three edges. All-integer arithmetic —
    * the single rounded division at the end is reproducible anywhere.
    *
    * @param e undirected edge list as (x, y) with x < y, de-duplicated
    *          (the [[graft.Queries]] co-occurrence table shape).
    */
  def edgeJaccard(e: DataFrame): DataFrame = {
    val deg = e.select(col("x").as("node")).union(e.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(broadcast(deg).withColumnRenamed("node", "x").withColumnRenamed("deg", "dx"), "x")
      .join(broadcast(deg).withColumnRenamed("node", "y").withColumnRenamed("deg", "dy"), "y")
    val xFirst = col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y"))
    val o = withDeg.select(
      when(xFirst, col("x")).otherwise(col("y")).as("src"),
      when(xFirst, col("y")).otherwise(col("x")).as("dst"),
      when(xFirst, col("dy")).otherwise(col("dx")).as("ddst"))
    val vBeforeW = col("o1.ddst") < col("o2.ddst") ||
      (col("o1.ddst") === col("o2.ddst") && col("o1.dst") < col("o2.dst"))
    val tri = o.as("o1").join(o.as("o2"), col("o1.src") === col("o2.src") && vBeforeW)
      .select(col("o1.src").as("u"), col("o1.dst").as("v"), col("o2.dst").as("w"))
      .join(o.select(col("src"), col("dst")), col("v") === col("src") && col("w") === col("dst"))
      .select(col("u"), col("v"), col("w"))
    // each triangle closes one wedge at each of its 3 edges (undirected,
    // emitted in canonical x<y order so the credit lands on the edge row)
    val credits = tri.select(array(
        struct(least(col("u"), col("v")).as("x"), greatest(col("u"), col("v")).as("y")),
        struct(least(col("v"), col("w")).as("x"), greatest(col("v"), col("w")).as("y")),
        struct(least(col("u"), col("w")).as("x"), greatest(col("u"), col("w")).as("y"))).as("es"))
      .select(explode(col("es")).as("edge"))
      .groupBy(col("edge.x").as("x"), col("edge.y").as("y"))
      .agg(count(lit(1)).as("cn"))
    withDeg.join(credits, Seq("x", "y"), "left")
      .select(col("x"), col("y"), coalesce(col("cn"), lit(0L)).as("cn"),
        col("dx"), col("dy"),
        round(coalesce(col("cn"), lit(0L)).cast("double")
          / (col("dx") + col("dy") - coalesce(col("cn"), lit(0L))), 6).as("jaccard"))
  }

  /** Weighted PageRank with a fixed number of power iterations.
    *
    * @param edges (src: long, dst: long, w: double) weighted directed
    *              edges; parallel edges should be pre-aggregated.
    * @param iters unrolled iteration count (small, fixed — convergence
    *              detection would add a driver action per round).
    * @param mass  total rank mass. Kept at O(1k) so round-6 per-iteration
    *              quantization sits ~9 orders of magnitude above the
    *              accumulation-order noise floor of double sums — the
    *              property that makes the oracle comparable cross-engine.
    *
    * Scale notes (100 TB posture): the rank table is O(|V|) and the
    * per-iteration shuffle is O(|E|) on (src, then dst) — both stay
    * distributed; nothing is collected. Iterations chain lineage; a
    * production loop with many rounds would checkpoint the rank table
    * every few iterations (the CC loop in [[Dedup]] shows that pattern) —
    * at 3 unrolled rounds the re-derivation is cheaper than the write.
    * Dangling nodes (no out-edges) follow the simple convention: their
    * mass is not redistributed, only the damped base term reaches them.
    */
  /** Personalized PageRank (random walk with restart): the teleport
    * mass lands only on the SEED set, so rank concentrates around the
    * seeds — the seed-expansion / related-items primitive
    * (recommendations, local community scoring, fraud blast-radius).
    * Same fixed-iteration join-and-regroup shape and per-iteration
    * round-6 quantization as [[pagerank]]; the seed membership rides
    * the node table as a flag (one extra O(|V|) left join built once,
    * reused every round), and the seed-count scalar broadcasts.
    *
    * @param seeds one column `node`; restart mass is split uniformly
    *              across it.
    */
  def personalizedPagerank(edges: DataFrame, seeds: DataFrame, iters: Int,
      damping: Double = 0.85, mass: Double = 1000.0): DataFrame = {
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
    val outw = edges.groupBy("src").agg(sum(col("w")).as("outw"))
    val shares = edges.join(outw, "src")
      .select(col("src"), col("dst"), (col("w") / col("outw")).as("share"))
    val seedSet = seeds.select(col("node")).distinct()
    val ns = seedSet.agg(count(lit(1)).cast("double").as("ns"))
    val base = nodes
      .join(seedSet.withColumn("is_seed", lit(1)), Seq("node"), "left")
      .crossJoin(broadcast(ns))
    var pr = base.select(col("node"),
      round(when(col("is_seed") === 1, lit(mass) / col("ns"))
        .otherwise(lit(0.0)), 6).as("pr"))
    for (_ <- 1 to iters) {
      val pushed = shares.join(pr, shares("src") === pr("node"))
        .groupBy(col("dst")).agg(sum(col("pr") * col("share")).as("c"))
      pr = base.join(pushed, base("node") === pushed("dst"), "left")
        .select(col("node"),
          round(when(col("is_seed") === 1, lit((1.0 - damping) * mass) / col("ns"))
            .otherwise(lit(0.0))
            + lit(damping) * coalesce(col("c"), lit(0.0)), 6).as("pr"))
    }
    pr
  }

  /** Single-source shortest paths with integer edge costs —
    * Bellman-Ford relaxation run to fixpoint, the min-plus sibling of
    * [[bfsDistances]] (which this generalizes: hop count is the w = 1
    * special case). Each round is one equi-join of the current distance
    * table against the symmetrized min-cost edge list plus one min
    * aggregate; distances are exact BIGINTs, monotonically
    * non-increasing, so the (count, sum) fixpoint probe terminates in
    * at most |V| rounds and in practice in the weighted diameter.
    * Same loop as bfsDistances: a scoped checkpoint per round, the
    * superseded one released immediately, nothing collected but the
    * two-scalar fixpoint probe.
    *
    * @param edges   (src, dst, w: long ≥ 0) directed; symmetrized and
    *                parallel-min-reduced internally.
    * @param sources (node) seed set, distance 0.
    */
  def sssp(edges: DataFrame, sources: DataFrame, maxRounds: Int = 30): DataFrame =
      Checkpoints.scoped { s =>
    val e = edges.select(col("src"), col("dst"), col("w"))
      .filter(col("src") =!= col("dst"))
    val und = s.persist(e.union(e.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
      .repartition(col("src")))
    var dist = s.checkpoint(sources.select(col("node")).distinct()
      .withColumn("d", lit(0L)))
    def probe(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)), sum(col("d"))).head()
      (r.getLong(0), r.getLong(1))
    }
    var state = probe(dist)
    // the O(reached) distance table rides a size-gated broadcast into
    // the relax join (reached is already in hand from the probe), so
    // the join streams the src-partitioned edge cache with no exchange;
    // past the gate the planner's shuffle join is the honest fallback
    var converged = false
    var i = 0
    while (!converged && i < maxRounds) {
      val next = s.checkpoint(dist
        .union(und.join(gatedBroadcast(dist.withColumnRenamed("node", "src"), state._1), "src")
          .select(col("dst").as("node"), (col("d") + col("w")).as("d")))
        .groupBy(col("node")).agg(min(col("d")).as("d")))
      val st = probe(next)
      converged = st == state
      state = st
      s.release(dist)
      dist = next
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"sssp: distances still improving after $maxRounds rounds")
    s.keep(dist)
  }

  /** HITS (Kleinberg hubs & authorities) with fully INTEGER arithmetic:
    * scores live on a 0..`scale` integer grid and each half-iteration
    * renormalizes by the round maximum via integral division, so the
    * classic L2 normalization (whose square roots no oracle could
    * replay) is replaced by max-normalization — same fixed point
    * direction, bit-exact everywhere. No floating-point op exists
    * anywhere in the operator.
    *
    * Per half-round: one equi-join of the O(|V|) score table against
    * the edge list (shuffle on the probe key) + one aggregate + one
    * scalar max broadcast — the pagerank join-and-regroup cost,
    * O(|E|) per iteration. The rescale multiply is widened to
    * decimal(38,0) before the divide, so score·scale cannot overflow
    * int64 even when a node's weighted degree approaches 1e12.
    *
    * @param edges (src, dst, w: long) directed edge list, parallel
    *              edges pre-aggregated.
    */
  def hits(edges: DataFrame, iters: Int, scale: Long = 1000000L): DataFrame =
      Checkpoints.scoped { s =>
    // Every half-round's score table is a scoped checkpoint: `rescale`
    // references its input TWICE (the round max + the join), so a lazy
    // chain re-evaluates the previous table 2× per half-round —
    // 2^(2·iters) recomputations of the deepest subtree (measured 8.7 s
    // for iters = 2 at sf0.1; ~2.5 s checkpointed). A superseded table
    // is released as soon as its successor materializes; the two final
    // tables back the returned join. With no round to run, nothing is
    // materialized at all.
    val nodes = {
      val n = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node")))
        .distinct()
      if (iters >= 1) s.checkpoint(n) else n
    }
    // |V| is fixed across rounds: one count gates every score-table
    // broadcast. With the score side broadcast, each push join streams
    // an edge copy PRE-PARTITIONED on its aggregate key (dst for the
    // auth push, src for the hub push), so the half-round's |E|
    // aggregate reuses the partitioning with no exchange (guide
    // §2.3/2.4 — the coreness layout; two cached edge copies is the
    // standard co-partitioning trade). Past the gate the score joins
    // shuffle anyway, so the copies would buy nothing: plain `edges`.
    lazy val nV = nodes.count()
    val prePartition = iters >= 1 && nV <= Checkpoints.BroadcastMaxRows
    def edgesBy(key: String): DataFrame =
      if (prePartition) s.checkpoint(edges.repartition(col(key))) else edges
    val eDst = edgesBy("dst")
    val eSrc = edgesBy("src")
    def rescale(raw0: DataFrame, key: String, out: String): DataFrame = {
      // raw is referenced twice (round max + the rescale join): one
      // |V|-sized checkpoint keeps the |E|-join push aggregate behind it
      // to a single evaluation, released as soon as the result exists
      val raw = s.checkpoint(raw0)
      val mx = raw.agg(max(col("r")).as("mx"))
      val res = s.checkpoint(
        nodes.join(gatedBroadcast(raw.withColumnRenamed(key, "node"), nV), Seq("node"), "left")
          .crossJoin(broadcast(mx))
          .select(col("node"),
            expr(s"(cast(coalesce(r, 0) as decimal(38,0)) * $scale) div mx")
              .as(out)))
      s.release(raw)
      res
    }
    var hub = nodes.withColumn("hub", lit(scale))
    var auth = nodes.withColumn("auth", lit(0L))
    for (_ <- 1 to iters) {
      // The push sum stays in LONG: scores are ≤ 10⁶ by construction,
      // so it overflows only past a 9·10¹² weighted in-degree — and
      // ANSI mode fails loud there, never wraps. Keeping the hot
      // |E|-sized aggregate out of decimal is a measured ~2× on the
      // whole operator (x100 soak); only the |V|-sized rescale
      // multiply widens to decimal.
      val a2 = rescale(
        eDst.join(gatedBroadcast(hub, nV), eDst("src") === hub("node"))
          .groupBy(col("dst"))
          .agg(sum(col("hub") * col("w")).as("r")),
        "dst", "auth")
      s.release(auth)
      auth = a2
      val h2 = rescale(
        eSrc.join(gatedBroadcast(auth, nV), eSrc("dst") === auth("node"))
          .groupBy(col("src"))
          .agg(sum(col("auth") * col("w")).as("r")),
        "src", "hub")
      s.release(hub)
      hub = h2
    }
    s.keep(hub).join(s.keep(auth), "node")
  }

  def pagerank(edges: DataFrame, iters: Int, damping: Double = 0.85,
               mass: Double = 1000.0): DataFrame = {
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
    val n = nodes.agg(count(lit(1)).cast("double").as("nn"))
    // Out-weight folded into the edge once: each iteration then only
    // joins ranks and regroups — no per-round outdegree recompute.
    val outw = edges.groupBy("src").agg(sum(col("w")).as("outw"))
    val shares = edges.join(outw, "src")
      .select(col("src"), col("dst"), (col("w") / col("outw")).as("share"))
    val base = nodes.crossJoin(broadcast(n))
    var pr = base.select(col("node"), round(lit(mass) / col("nn"), 6).as("pr"))
    for (_ <- 1 to iters) {
      val pushed = shares.join(pr, shares("src") === pr("node"))
        .groupBy(col("dst")).agg(sum(col("pr") * col("share")).as("c"))
      pr = base.join(pushed, base("node") === pushed("dst"), "left")
        .select(col("node"),
          round(lit((1.0 - damping) * mass) / col("nn")
            + lit(damping) * coalesce(col("c"), lit(0.0)), 6).as("pr"))
    }
    pr
  }

  /** Exact Brandes betweenness contributions from a bounded root set
    * (Brandes 2001): forward level-synchronous BFS accumulating exact
    * shortest-path counts σ (decimal(38,0) — path counts multiply along
    * dense DAGs far past 2⁶³), then the backward dependency sweep
    * δ(v) = Σ_w σ(v)·(1+δ(w))/σ(w) over successor levels, with the
    * rational kept as a per-edge truncating e6 integral division so
    * every engine reproduces it bit-for-bit. Per root the work is one
    * frontier join per level (≤ maxDepth), every frontier/level table
    * is a scoped checkpoint ([[Checkpoints]]), and the backward sweep
    * joins only adjacent levels — nothing materializes beyond
    * (levels × frontier) rows. Errors if any root's BFS is still
    * growing at maxDepth (the oracle unrolls exactly that many rounds —
    * the q_ktruss explicit-assumption discipline).
    *
    * @return (root, node, delta) — per-root e6 dependency of every
    *         non-root node; sum over roots for the centrality readout.
    *
    * `dist0`: caller-owned per-root hop-distance table
    * `(root, node, d)` for EXACTLY these (edges, sources) — the
    * [[bfsDistancesPerSource]] output (e.g. a session memo shared with
    * the centrality queries). With it, level membership is a filter of
    * the cached table: no per-level seen-union anti join, no per-level
    * count job, and each level's σ expansion joins und through the
    * SMALLER of (previous level, next level) — in-edges of a thin next
    * level instead of out-edges of a fat frontier, a ~50× intermediate
    * cut on the deep levels here. σ sums are bit-identical: a neighbor
    * w of a level-(k−1) node is unseen iff d(w) = k, so the inner join
    * against the d = k slice keeps exactly the rows the anti join kept.
    */
  def brandesBetweenness(edges: DataFrame, sources: DataFrame,
      maxDepth: Int = 8,
      und0: Option[DataFrame] = None,
      dist0: Option[DataFrame] = None): DataFrame = Checkpoints.scoped { s =>
    val d38 = "decimal(38,0)"
    // Frontier/level/seen tables are (roots × reached-nodes)-sized —
    // broadcast them (size-gated, the triangle-probe discipline) so
    // each round's only exchange is the expansion's partial-aggregated
    // groupBy; past the gate every join falls back to shuffles.
    // und0: caller-owned shared edge table — see [[bfsDistances]]
    val und = und0.getOrElse(s.persist(symmetrizedBySrc(edges)))
    var frontier = s.checkpoint(sources.select(col("node")).distinct()
      .select(col("node").as("root"), col("node"), expr(s"cast(1 as $d38)").as("sigma")))
    var frontierRows = frontier.count()
    val levels = scala.collection.mutable.ArrayBuffer(frontier)
    val levelRows = scala.collection.mutable.ArrayBuffer(frontierRows)
    dist0 match {
      case Some(dist) =>
        // level structure from the caller's distance table: one small
        // rollup replaces every per-level seen broadcast + count job
        val sizes = dist.groupBy(col("d")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val deepest = sizes.keys.max.toInt
        if (deepest > maxDepth) throw new IllegalStateException(
          s"brandesBetweenness: dist0 reaches depth $deepest > maxDepth $maxDepth")
        // a BFS distance table has rows at every depth up to its deepest
        val missing = (1 until deepest).filterNot(k => sizes.contains(k.toLong))
        if (missing.nonEmpty) throw new IllegalStateException(
          s"brandesBetweenness: dist0 has no rows at depth ${missing.mkString(", ")} " +
            s"below its deepest level $deepest — not the BFS distances of these sources")
        (1 to deepest).foreach { k =>
          val nxtSet = dist.filter(col("d") === k).select(col("root"), col("node"))
          // expand und through the SMALLER side: out-edges of the
          // previous level vs in-edges of this level (sizes in hand)
          val nxt = s.checkpoint((
            if (levelRows(k - 1) <= sizes(k.toLong))
              und
                .join(gatedBroadcast(frontier.withColumnRenamed("node", "src"), frontierRows),
                  Seq("src"))
                .select(col("root"), col("dst").as("node"), col("sigma"))
                .join(gatedBroadcast(nxtSet, sizes(k.toLong)), Seq("root", "node"))
            else
              und
                .join(gatedBroadcast(nxtSet.withColumnRenamed("node", "dst"), sizes(k.toLong)),
                  Seq("dst"))
                .select(col("root"), col("src").as("node"), col("dst"))
                .join(gatedBroadcast(frontier, frontierRows), Seq("root", "node"))
                .select(col("root"), col("dst").as("node"), col("sigma")))
            .groupBy(col("root"), col("node"))
            .agg(sum(col("sigma")).as("sigma")))
          levels += nxt
          levelRows += sizes(k.toLong)
          frontier = nxt
          frontierRows = sizes(k.toLong)
        }
      case None =>
        var seenRows = frontierRows
        var done = false
        while (!done && levels.size <= maxDepth) {
          // anti-join against the lazy union of the (already checkpointed)
          // level tables — no separate `seen` materialization per round.
          // The anti join runs BEFORE the σ aggregate: most expansion
          // targets are already-seen at later levels, and a broadcast
          // anti probe per row is far cheaper than a decimal hash-agg
          // update per row — dropped rows are whole (root, node) keys,
          // so surviving σ sums are identical.
          val seen = levels.map(_.select(col("root"), col("node"))).reduce(_ union _)
          val nxt = s.checkpoint(und
            .join(gatedBroadcast(frontier.withColumnRenamed("node", "src"), frontierRows),
              Seq("src"))
            .select(col("root"), col("dst").as("node"), col("sigma"))
            .join(gatedBroadcast(seen, seenRows), Seq("root", "node"), "left_anti")
            .groupBy(col("root"), col("node"))
            .agg(sum(col("sigma")).as("sigma")))
          val n = nxt.count()
          if (n == 0) {
            s.release(nxt)
            done = true
          } else {
            levels += nxt
            levelRows += n
            seenRows += n
            frontier = nxt
            frontierRows = n
          }
        }
        if (!done) throw new IllegalStateException(
          s"brandesBetweenness: frontier still growing after $maxDepth rounds")
    }
    // Backward sweep: deepest level seeds delta = 0; each level's delta
    // aggregates the truncating per-edge term over its successor level.
    // Every delta table is its own checkpoint, kept past the scope; the
    // level tables and und are released with it.
    val maxLevel = levels.size - 1
    if (maxLevel == 0) {
      // Degenerate: no root reaches any neighbor — a lineage-free empty
      // frame with the result schema (capturing it runs no job)
      val outSchema = levels(0)
        .select(col("root"), col("node"), lit(0L).as("delta")).schema
      val ss = edges.sparkSession
      ss.createDataFrame(ss.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    } else {
      var dAbove = s.checkpoint(levels(maxLevel)
        .select(col("root"), col("node"), lit(0L).as("delta")))
      val deltaTabs = scala.collection.mutable.ArrayBuffer[DataFrame](dAbove)
      var lev = maxLevel - 1
      while (lev >= 1) {
        val wTab = levels(lev + 1)
          .join(gatedBroadcast(dAbove, levelRows(lev + 1)), Seq("root", "node"))
          .select(col("root"), col("node").as("dst"),
            col("sigma").as("wsigma"), col("delta").as("wdelta"))
        // nodes without successors contribute zero rows via the union, so
        // one aggregate replaces the left-join-with-zeros shape. The two
        // inner joins commute — expand und through the SMALLER level side
        // first (level sizes are already in hand), so the intermediate is
        // Σ deg over the small side instead of the big one (50× here when
        // the deepest level is thin).
        val undN = und.withColumnRenamed("src", "node")
        val terms = (
          if (levelRows(lev) <= levelRows(lev + 1))
            undN.join(gatedBroadcast(levels(lev), levelRows(lev)), Seq("node"))
              .join(gatedBroadcast(wTab, levelRows(lev + 1)), Seq("root", "dst"))
          else
            undN.join(gatedBroadcast(wTab, levelRows(lev + 1)), Seq("dst"))
              .join(gatedBroadcast(levels(lev), levelRows(lev)), Seq("root", "node")))
          .select(col("root"), col("node"),
            expr("(sigma * (1000000 + wdelta)) div wsigma").as("t"))
        val dl = s.checkpoint(levels(lev)
          .select(col("root"), col("node"), lit(0L).as("t"))
          .union(terms)
          .groupBy(col("root"), col("node"))
          .agg(sum(col("t")).as("delta")))
        deltaTabs += dl
        dAbove = dl
        lev -= 1
      }
      deltaTabs.map(s.keep).reduce(_ union _)
    }
  }
}
