package graft.perfbench

import graft.analytics.ForumAnalytics
import graft.logs.LogParser

/** The benchmark's own tests (run by test.py). Exits 1 if any fails.
  *
  *   - the generator is a function of its seed;
  *   - its ground-truth tally agrees with the batch product analytics
  *     (`ForumAnalytics` over `LogParser`) on a sample;
  *   - self times reconcile: a span's children plus its self time equal
  *     its wall time, on synthetic spans and on a real traced query;
  *   - the result fingerprint ignores row order and integer width.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Throwable => Console.err.println(e); false }
    println(s"${if (passed) "ok  " else "FAIL"} $name")
    if (!passed) failures += 1
  }

  private def render(seed: Long, n: Int): String = {
    val t = new Traffic(seed)
    Seq.fill(n)(t.line()).mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    val data = args(0)
    val expected = BatchQueries.loadExpected(java.nio.file.Paths.get(args(1)))

    check("same seed renders byte-identical input") {
      render(7, 5000).getBytes.sameElements(render(7, 5000).getBytes)
    }
    check("another seed renders other input") { render(7, 5000) != render(8, 5000) }
    check("traffic mix: every LogGen line shape occurs") {
      val ls = render(3, 20000).split("\n")
      Seq("###", "\"-\" 408 - ", "\" 404 ", "\" 500 ", "\" 200 - ", "\"POST ", "mod=ajax&",
        "/member.php", "\"http://kms-4/", "mod=forumdisplay&fid=", "mod=viewthread&tid=")
        .forall(shape => ls.count(_.contains(shape)) > 50)
    }

    check("self time: disjoint children plus self equal the wall time") {
      val spans = Seq(Span(0, "root", "x", "r", -1, 0, 100),
        Span(1, "a", "x", "r", 0, 10, 30), Span(2, "b", "x", "r", 0, 50, 70))
      val self = Span.selfTimes(spans)
      self(0) == 60 && self(0) + 20 + 20 == 100 && self(1) == 20
    }
    check("self time: overlapping children count once") {
      val spans = Seq(Span(0, "root", "x", "r", -1, 0, 100),
        Span(1, "a", "x", "r", 0, 10, 30), Span(2, "b", "x", "r", 0, 20, 40),
        Span(3, "c", "x", "r", 0, 90, 120))
      Span.selfTimes(spans)(0) == 100 - 30 - 10
    }

    val spark = Main.session()
    import spark.implicits._

    check("fingerprint ignores row order and integer width") {
      val a = Seq((1, "x", 2.5), (2, "y", 0.1)).toDF("k", "v", "d")
      val b = Seq((2L, "y", 0.1), (1L, "x", 2.5)).toDF("k", "v", "d")
      BatchQueries.fingerprint(a) == BatchQueries.fingerprint(b) &&
        BatchQueries.fingerprint(a) != BatchQueries.fingerprint(a.limit(1))
    }

    check("tally agrees with ForumAnalytics on a sample") {
      val t = new Traffic(11)
      val lines = Seq.fill(20000)(t.line()).toDF("line")
      val logs = LogParser.accessTuples(lines).cache()
      val p = t.p
      val sections = ForumAnalytics.hotSections(logs, Streams.sectionDim(spark, p)).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      val articles = ForumAnalytics.hotArticles(logs, Streams.articleDim(spark, p)).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      val clients = ForumAnalytics.clientIpAccess(logs).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val tally = t.tally
      sections == tally.top(tally.section, 10).map { case (id, n) => (id, Traffic.sectionName(id), n) } &&
        articles == tally.top(tally.article, 10).map { case (id, n) => (id, Traffic.articleSubject(id), n) } &&
        clients == tally.clients && clients.size > 1000
    }

    check("a traced query's child spans plus self time equal its wall time") {
      val rec = new Recorder(spark, traced = true)
      graft.sources.SessionMemo.record(true)
      val p = BatchQueries.pass(spark, rec, data, Seq("q_triangles"), expected)
      graft.sources.SessionMemo.record(false)
      rec.settle()
      val o = BatchQueries.Outcome(p, Nil, 0.0)
      val spans = BatchQueries.spans(rec, o)
      val self = Span.selfTimes(spans)
      rec.close()
      val root = spans.find(_.parent == -1).get
      val kids = spans.filter(_.parent == root.id)
      p.runs.head.ok && spans.exists(_.layer == "engine") && kids.size == 2 &&
        math.abs(self(root.id) + kids.map(_.dur).sum - root.dur) < 1e-6 &&
        spans.forall(s => self(s.id) >= -1e-6)
    }

    spark.stop()
    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    if (failures > 0) sys.exit(1)
  }
}
