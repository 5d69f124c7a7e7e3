package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.streaming.AnomalyStream

/** Per-micro-batch robust-z volume monitoring: the driver-side gate the
  * streaming alarm applies must produce the EXACT integer statistic the
  * batch arithmetic gives, and the alarm must flag a surge batch while
  * passing a normal one.
  */
class AnomalyStreamSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  // reference history: daily volumes 90..110 (21 periods)
  // med2 = 200, dev2 support = {0, 2, ..., 20} x2 => mad4 = 2*10 = 20
  private def refDF = {
    import spark.implicits._
    (90L to 110L).toDF("x")
  }

  private def z(x: Long): (Option[Long], Boolean) = {
    import spark.implicits._
    val r = AnomalyStream.robustZStatistic(Seq(x).toDF("x"), refDF).head()
    (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2))
  }

  test("batch statistic: exact z at e6, gate at 3.5 in integers") {
    // x = 100 (the median): dev2 = 0, z = 0, not an outlier
    assert(z(100L) == ((Some(0L), false)))
    // x = 105: dev2 = 10, z = 1349*10*1000/20 = 674500 (0.6745), pass
    assert(z(105L) == ((Some(674500L), false)))
    // x = 130: dev2 = 60, z = 1349*60*1000/20 = 4047000 (4.047) > 3.5
    assert(z(130L) == ((Some(4047000L), true)))
  }

  test("constant history: z is null (zero MAD), deviation still flags") {
    import spark.implicits._
    val const = Seq.fill(10)(100L).toDF("x")
    val same = AnomalyStream.robustZStatistic(Seq(100L).toDF("x"), const).head()
    assert(same.isNullAt(1) && !same.getBoolean(2), same)
    val off = AnomalyStream.robustZStatistic(Seq(101L).toDF("x"), const).head()
    assert(off.isNullAt(1) && off.getBoolean(2), off)
  }

  test("driver-side gate equals the batch statistic, zero-MAD history included") {
    import spark.implicits._
    val const = Seq.fill(10)(100L).toDF("x")
    val cases = Seq(refDF -> Seq(100L, 105L, 130L, 0L, 1000L), const -> Seq(100L, 101L, 99L))
    for ((ref, xs) <- cases; x <- xs) {
      val r = AnomalyStream.robustZStatistic(Seq(x).toDF("x"), ref).head()
      val batch = (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2))
      assert(AnomalyStream.reference(ref).gate(x) == batch, s"x = $x")
    }
    assert(AnomalyStream.reference(refDF) == AnomalyStream.Reference(200L, 20L))
  }

  test("streaming monitor: per-batch z equals the batch computation, surge flags") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val seen = scala.collection.concurrent.TrieMap[Long, (Long, Boolean)]()
    val listeners = spark.streams.listListeners().length
    val q = AnomalyStream.volumeAlarm(mem.toDF(), refDF) { (id, _, z, fired) =>
      seen(id) = (z.get, fired)
    }(_.writeStream.format("noop").start())
    try {
      mem.addData(1L to 100L: _*) // batch 0: volume 100 == median
      q.processAllAvailable()
      mem.addData(1L to 130L: _*) // batch 1: volume 130 — surge
      q.processAllAvailable()
      // the alarm reads each batch's progress on the listener bus
      eventually(timeout(Span(30, Seconds))) {
        assert(seen.get(0L).contains((0L, false)), seen)
        assert(seen.get(1L).contains((4047000L, true)), seen)
      }
    } finally q.stop()
    eventually(timeout(Span(30, Seconds))) {
      assert(spark.streams.listListeners().length == listeners)
    }
  }
}
