package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Checkpoints

/** Lifecycle pins for [[graft.ops.Checkpoints]]: a scope releases every
  * checkpoint it took on every exit, and the driver-loop queries built
  * on it leave no persisted RDD behind.
  */
class CheckpointsSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a scoped body that checkpoints twice and throws leaves no new persisted RDD") {
    val before = persisted
    val err = intercept[IllegalStateException] {
      Checkpoints.scoped { s =>
        s.checkpoint(spark.range(10).toDF("n"))
        s.rebase(spark.range(20).toDF("n"))
        assert((persisted -- before).size == 2)
        throw new IllegalStateException("body failed")
      }
    }
    assert(err.getMessage == "body failed")
    assert((persisted -- before).isEmpty)
  }

  Seq("q_mis", "q_boruvka", "q_matching", "q_triangles").foreach { q =>
    test(s"$q: a second run adds no persisted RDD") {
      // the first run builds the session memos the query reads
      SparkEntry.queries(q)(spark, sf).collect()
      val before = persisted
      SparkEntry.queries(q)(spark, sf).collect()
      val left = persisted -- before
      assert(left.isEmpty, s"$q left persisted RDDs $left")
    }
  }
}
