package graft

import scala.concurrent.duration._

/** Determinism soak (not part of the driver contract): run every harness
  * query N times in ONE session and fail on any run-to-run difference.
  * The DuckDB oracle gate compares one Spark run against DuckDB; this
  * catches what it cannot — nondeterminism BETWEEN Spark runs (sketch
  * merge order, cached-vs-recomputed paths like the LSH pair table,
  * accumulation-order noise that rounding failed to absorb).
  *
  * Run: `sbt "runMain graft.Soak [sfDir] [rounds] [par]"` — args after
  * sfDir may appear in any order: an integer sets the round count
  * (default 2), the literal `par` adds an 8-way-concurrent round run
  * against a CLEARED memo/cache (so concurrent FIRST builds — the
  * deadlock-prone path — are actually exercised). A query that throws
  * is named and the run goes on. Exits non-zero on any instability or
  * failed query.
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val rest = args.drop(1)
    // strict: every extra arg must be a round count or the literal
    // 'par' — a typo must fail loudly, not silently skip coverage
    val bad = rest.filterNot(a => a == "par" || (a.nonEmpty && a.forall(_.isDigit)))
    if (bad.nonEmpty) {
      System.err.println(
        s"[soak] unrecognized args: ${bad.mkString(", ")} — usage: Soak [sfDir] [rounds] [par]")
      sys.exit(2)
    }
    val rounds = rest.find(a => a.nonEmpty && a.forall(_.isDigit)).map(_.toInt).getOrElse(2)
    val par = rest.contains("par")
    val spark = GraftSession.local("8", aqe = Some(true))
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    // order-insensitive, value-exact: sorted row renderings
    def fingerprints(threads: Int = 1) = Bench.runEach(queries, threads, 20.minutes) {
      (_, fn) => fn(spark, sfDir).collect().map(_.toString).sorted.mkString("\n")
    }
    // Concurrency round: all queries at once from separate threads (the
    // BI-concurrency shape) — thread safety of the shared session,
    // SessionMemo, and persisted intermediates, and result parity with
    // the sequential fingerprints. Memo + cache are cleared first so the
    // par round performs concurrent FIRST builds, not warmed-cache hits.
    def parallel() = {
      graft.sources.SessionMemo.release(spark) // unpersists memoized frames too
      spark.catalog.clearCache()
      try fingerprints(threads = 8)
      catch {
        case e: java.util.concurrent.TimeoutException =>
          println(s"[soak] UNSTABLE parallel round TIMED OUT (possible deadlock): $e")
          sys.exit(1) // stuck threads are daemons; exit is not blocked
      }
    }
    val first = fingerprints()
    val later = (2 to rounds).map(r => s"round $r" -> fingerprints()) ++
      (if (par) Seq("parallel" -> parallel()) else Nil)
    val baseline = first.results.toMap
    val unstable = for ((round, ran) <- later; (n, fp) <- ran.results
      if baseline.get(n).exists(_ != fp)) yield s"$n ($round)"
    val failed = (first +: later.map(_._2)).flatMap(_.failed).distinct.sorted
    unstable.foreach(u => println(s"[soak] UNSTABLE $u"))
    if (failed.nonEmpty) println(s"[soak] ${failed.size} queries FAILED: ${failed.mkString(", ")}")
    if (unstable.isEmpty && failed.isEmpty)
      println(s"[soak] all ${baseline.size} queries stable over $rounds runs" +
        (if (par) " and under 8-way concurrency (cold memo)" else ""))
    spark.stop()
    if (unstable.nonEmpty || failed.nonEmpty) sys.exit(1)
  }
}
