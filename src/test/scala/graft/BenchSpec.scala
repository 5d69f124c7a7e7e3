package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's timing loop: a query that throws is reported by name and
  * never timed as a result.
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
}
