package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's timing loop: a query that throws is reported by name and
  * never timed as a result. Its compact line names every pinned query
  * it has to drop.
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
}
