package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke: every harness query runs at sf0.001 and yields rows (t1-style
  * guard — catches runtime regressions long before the driver's gate).
  */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  val sf = "/root/testdata/sf0.001"

  private val observedSingleton = scala.collection.mutable.Set[String]()
  private val observedCross = scala.collection.mutable.Set[String]()
  private val ranPerQuery = new java.util.concurrent.atomic.AtomicInteger(0)

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      ranPerQuery.incrementAndGet()
      val df = fn(spark, sf)
      // the singleton-window house rule, enforced on every query's
      // analyzed plan (see WindowLint; fixture-proofed by WindowLintSpec)
      val keys = WindowLint.singletonWindowKeys(df)
      if (keys.nonEmpty) observedSingleton.synchronized { observedSingleton += name }
      if (!WindowLint.allowedSingleton(name))
        assert(keys.isEmpty,
          s"$name routes a window through ONE task via singleton_key (${keys.mkString("; ")}) — " +
            "bound the input (orderBy+limit / partial bottom-k) or, if the window input is " +
            "genuinely calendar/support/model-bounded, allowlist it in WindowLint with the bound stated")
      // the cartesian/broadcast house rule, enforced on the physical
      // plan (see JoinLint; fixture-proofed by JoinLintSpec)
      val sites = JoinLint.unboundedCrossSites(df)
      if (sites.nonEmpty) observedCross.synchronized { observedCross += name }
      if (!JoinLint.allowedCross.contains(name))
        assert(sites.isEmpty,
          s"$name carries an unproven cross site (${sites.mkString("; ")}) — " +
            "bound the build side (global agg / limit / literal model) or, if it is genuinely " +
            "calendar/support/shortlist-bounded, allowlist it in JoinLint with the bound stated")
      assert(df.count() > 0)
    }
  }

  /** The staleness sweeps are meaningful only when EVERY per-query test
    * recorded its observation in this JVM — under a filtered run
    * (`-z`/`-t`) or a per-query abort they would fail spuriously with a
    * misleading "stale entry" message, so cancel (not pass) instead.
    */
  private def assumeFullSweep(): Unit = {
    val ran = ranPerQuery.get()
    val total = SparkEntry.queries.size
    assume(ran == total,
      s"staleness sweep needs all $total per-query tests in this JVM (saw $ran) — " +
        "run the full QueriesSmokeSpec, not a filtered subset")
  }

  test("every WindowLint allowlist entry has a live singleton site") {
    // Registered after the per-query tests, so observedSingleton is
    // complete by the time this runs. An allowed name whose query no
    // longer builds a singleton window is a stale entry that would
    // silently re-admit a future regression — prune it instead.
    assumeFullSweep()
    val stale = WindowLint.allowedSingleton -- observedSingleton
    assert(stale.isEmpty,
      s"stale WindowLint.allowedSingleton entries (no singleton window in the live plan): $stale")
  }

  test("every JoinLint allowlist entry has a live unproven cross site") {
    assumeFullSweep()
    val stale = JoinLint.allowedCross.keySet -- observedCross
    assert(stale.isEmpty,
      s"stale JoinLint.allowedCross entries (no unproven cross site in the live plan): $stale")
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has a hash oracle (no rows-only queries remain)") {
    // Round 3 closed the last gap: q_kmeans hash-matches a fully
    // unrolled 3-iteration Lloyd oracle (6dp centroid rounding per
    // round keeps both engines' sums aligned; KMeansSpec still asserts
    // monotone inertia + stability at the unit level).
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, noOracle)
    // and no orphaned oracle entries either
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, orphans)
  }

  test("no oracle SQL line starts with a lone '|' (a twice-stripped margin)") {
    // Builder text interpolated into a caller's s"""...""".stripMargin
    // is margin-stripped a second time: a line like `      || ' ' ||`
    // loses one bar and string concatenation silently becomes DuckDB's
    // bitwise OR. A leading single `|` is that residue.
    val loneBar = "^\\s*\\|(?!\\|)".r
    val hits = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (name, sql) =>
      sql.split("\n").filter(loneBar.findFirstIn(_).isDefined).map(l => s"$name: $l")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("a dumped plan masks JVM object identities, so two builds compare equal") {
    val plan = DumpPlans.plan(spark, sf, "q_knn_class")
    assert(plan.contains("@<hex>"), plan) // the typed aggregator's identity, masked
    assert("@[0-9a-f]+\\b".r.findFirstIn(plan).isEmpty, plan)
    // expression and exchange ids count up per build; they are not identities
    def ids(p: String) = p.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
    assert(ids(DumpPlans.plan(spark, sf, "q_knn_class")) == ids(plan))
  }
}
