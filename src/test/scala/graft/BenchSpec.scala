package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The harness mains' shared pieces. Bench's timing loop: a query that
  * throws is reported by name and never timed as a result. Its compact
  * line names every pinned query it has to drop and prints no time below
  * 0.001, while the full line keeps it exact. The name selection
  * rejects a typo, and the per-query loop goes on past a throwing query.
  */
class BenchSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  test("a query that throws is named in failed and left out of the timings") {
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_ok" -> ((s, _) => s.range(3).toDF()),
      "q_throws" -> ((s, _) => s.range(1).toDF().where("raise_error('boom') IS NULL")))
    val pass = Bench.timePass(spark, "unused", queries)
    assert(pass.failed == Set("q_throws"))
    assert(pass.times.keySet == Set("q_ok"))
    assert(pass.total == pass.times("q_ok") + pass.memo.values.sum)
  }

  test("a pinned query the compact line drops is warned by name") {
    val results = Map("q_coreness" -> 1.0, "q_triangles" -> 2.0, "q_unpinned" -> 9.0)
    val err = new java.io.ByteArrayOutputStream()
    val line = Console.withErr(err)(Bench.compactLine("{\"queries\":{", results, budget = 40))
    // pinned first, slowest first: q_triangles fits, q_coreness does not
    assert(line == "{\"queries\":{\"q_triangles\":2.000}}")
    val warned = err.toString
    assert(warned.contains("kept 1/3"), warned)
    assert(warned.contains("dropped pinned q_coreness"), warned)
    assert(!warned.contains("pinned q_unpinned") && !warned.contains("q_triangles"), warned)
  }

  test("a sub-millisecond time prints 0.001 on the compact line and stays exact on the full line") {
    val results = Map("q_bpe_curve" -> 0.0004)
    assert(Bench.compactLine("{\"queries\":{", results) == "{\"queries\":{\"q_bpe_curve\":0.001}}")
    assert(Bench.exactQueries(results) == "{\"q_bpe_curve\":4.0E-4}")
  }

  test("the name selection rejects an unknown name, naming it") {
    val all = SparkEntry.queries.toSeq
    val e = intercept[IllegalArgumentException](Bench.select(all, Some("q_hot_section,q_nope")))
    assert(e.getMessage.contains("q_nope") && !e.getMessage.contains("q_hot_section"), e.getMessage)
    assert(Bench.select(all, Some("q_hot_section,q1_agg")).map(_._1).toSet == Set("q_hot_section", "q1_agg"))
    assert(Bench.select(all, None) == all)
  }

  test("timePass reports the row count of each query that succeeds") {
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_three" -> ((s, _) => s.range(3).toDF()),
      "q_none" -> ((s, _) => s.range(0).toDF()))
    val pass = Bench.timePass(spark, "unused", queries)
    assert(pass.rows == Map("q_three" -> 3L, "q_none" -> 0L))
    assert(pass.times.keySet == pass.rows.keySet)
  }

  test("runEach goes on past a throwing entry and names it, sequential and concurrent") {
    val entries = Seq("a" -> 1, "b" -> 0, "c" -> 2)
    for (threads <- Seq(1, 2)) {
      val err = new java.io.ByteArrayOutputStream()
      val ran = Console.withErr(err)(Bench.runEach(entries, threads) { (_, d) => 10 / d })
      assert(ran.results == Seq("a" -> 10, "c" -> 5))
      assert(ran.failed == Seq("b"))
      assert(err.toString.contains("FAILED b: java.lang.ArithmeticException"), err.toString)
    }
  }
}
