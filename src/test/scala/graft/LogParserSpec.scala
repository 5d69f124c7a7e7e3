package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.logs.LogParser

/** Golden tests for the combined-log parser — the canonical line is the
  * reference's only test input (`TestLogparse.java:19`), edge cases come
  * from the fixture corpus (`access_log.txt`, see FIXTURES.md).
  */
class LogParserSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  val canonical =
    """192.168.10.1 - - [27/Aug/2020:10:20:53 +0800] "GET /forum.php?mod=viewthread&tid=9&extra=page%3D1 HTTP/1.1" 200 39913 "http://kms-4/forum.php?mod=forumdisplay&fid=41" "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/84.0.4147.135 Safari/537.36""""

  val emptyRequest408 =
    """192.168.10.4 - - [27/Aug/2020:10:20:53 +0800] "-" 408 - "-" "-""""

  val ajaxWithFid =
    """192.168.10.2 - - [27/Aug/2020:10:21:00 +0800] "GET /forum.php?mod=ajax&action=checknew&fid=40&inajax=yes HTTP/1.1" 200 71 "http://kms-4/forum.php?mod=forumdisplay&fid=40" "Mozilla/5.0"""""

  val forumDisplay =
    """192.168.10.3 - - [27/Aug/2020:10:22:00 +0800] "GET /forum.php?mod=forumdisplay&fid=40 HTTP/1.1" 200 30837 "-" "Mozilla/5.0"""""

  val notFound404 =
    """192.168.10.5 - - [27/Aug/2020:10:23:00 +0800] "GET /favicon.ico HTTP/1.1" 404 209 "-" "Mozilla/5.0"""""

  val garbage = Seq(
    "%h Remote host name",
    "### this is documentation, not a log line",
    "",
    "192.168.10.1 - - not a date \"GET / HTTP/1.1\" 200 1 \"-\" \"-\"")

  def parseOne(line: String): Row =
    LogParser.parseFull(Seq(line).toDF("line")).collect()(0)

  test("canonical line: all 9 record fields, intended group mapping (B1 fixed)") {
    val r = parseOne(canonical)
    assert(r.getAs[String]("client_ip") == "192.168.10.1")
    assert(r.getAs[String]("client_identity") == "-")
    assert(r.getAs[String]("remote_user") == "-")
    assert(r.getAs[String]("date_time") == "27/Aug/2020:10:20:53 +0800")
    assert(r.getAs[String]("request") == "GET /forum.php?mod=viewthread&tid=9&extra=page%3D1 HTTP/1.1")
    assert(r.getAs[String]("http_status") == "200") // B1: real status, not request text
    assert(r.getAs[String]("bytes_sent") == "39913")
    assert(r.getAs[String]("referer") == "http://kms-4/forum.php?mod=forumdisplay&fid=41")
    assert(r.getAs[String]("user_agent").startsWith("Mozilla/5.0 (Windows NT 10.0"))
  }

  test("canonical line: derived fields (ts drops zone, uri split, ids)") {
    val r = parseOne(canonical)
    assert(r.getAs[java.sql.Timestamp]("access_ts").toString == "2020-08-27 10:20:53.0")
    assert(r.getAs[String]("method") == "GET")
    assert(r.getAs[String]("uri") == "/forum.php?mod=viewthread&tid=9&extra=page%3D1")
    assert(r.getAs[String]("proto") == "HTTP/1.1")
    assert(r.getAs[Int]("article_id") == 9)
    assert(r.getAs[Int]("section_id") == 0) // fid only in the referer, not the uri
  }

  test("empty '-' request with 408 and '-' bytes parses; request parts null, ids 0") {
    val r = parseOne(emptyRequest408)
    assert(r.getAs[String]("request") == "-")
    assert(r.getAs[String]("http_status") == "408")
    assert(r.getAs[String]("bytes_sent") == "-")
    assert(r.getAs[String]("method") == null)
    assert(r.getAs[String]("uri") == null)
    assert(r.getAs[Int]("section_id") == 0)
    assert(r.getAs[Int]("article_id") == 0)
  }

  test("ajax url with fid but wrong mod extracts NO section id") {
    val r = parseOne(ajaxWithFid)
    assert(r.getAs[Int]("section_id") == 0)
    assert(r.getAs[Int]("article_id") == 0)
  }

  test("forumdisplay url extracts section id") {
    val r = parseOne(forumDisplay)
    assert(r.getAs[Int]("section_id") == 40)
    assert(r.getAs[Int]("article_id") == 0)
  }

  test("non-ASCII line takes the String fallback path and still parses") {
    val ua = "Mozilla/5.0 (测试端末; ブラウザ)"
    val r = parseOne(
      s"""192.168.10.9 - - [27/Aug/2020:10:20:53 +0800] "GET /forum.php?mod=viewthread&tid=5 HTTP/1.1" 200 10 "-" "$ua"""")
    assert(r.getAs[String]("user_agent") == ua)
    assert(r.getAs[Int]("article_id") == 5)
  }

  test("garbage lines yield null records and are dropped") {
    val df = LogParser.parseFull(garbage.toDF("line"))
    assert(df.count() == garbage.length)
    assert(df.filter($"client_ip".isNotNull).count() == 0)
    assert(LogParser.dropUnparseable(df).count() == 0)
  }

  test("keep-200 filter (intended semantics, B2 fixed)") {
    val df = LogParser.parseFull(
      Seq(canonical, notFound404, emptyRequest408, forumDisplay).toDF("line"))
    val kept = LogParser.keepStatus200(LogParser.dropUnparseable(df))
    assert(kept.count() == 2)
    assert(kept.filter($"http_status" =!= "200").count() == 0)
  }

  test("accessTuples: reference 4-tuple shape with formatted access_date") {
    val out = LogParser.accessTuples(Seq(canonical).toDF("line")).collect()(0)
    assert(out.getAs[String]("client_ip") == "192.168.10.1")
    assert(out.getAs[String]("access_date") == "2020-08-27 10:20:53")
    assert(out.getAs[Int]("section_id") == 0)
    assert(out.getAs[Int]("article_id") == 9)
  }
}
