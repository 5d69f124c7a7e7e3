package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql` surface of the reference's hot-section queries
  * (`GraftSql`, SURVEY Q8/Q9) returns the same rows as the DataFrame
  * form `Queries.hotSection`.
  */
class SessionStreamSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  test("spark.sql surface produces the same hot-section result as the DataFrame form") {
    val sf = "/root/testdata/sf0.001"
    val viaSql = GraftSql.hotSectionSql(spark, sf).collect().map(_.toSeq).toSeq
    val viaDf = Queries.hotSection(spark, sf).collect().map(_.toSeq).toSeq
    assert(viaSql == viaDf)
  }
}
