package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftFunctions, RenderLogLine, RollingHashMin, ShingleHashes}
import graft.ops.TextOps

/** Edge-case parity between the native expressions and the SQL semantics
  * their oracles assume (ADVICE round-1 items): whitespace that Java's
  * String.trim strips but SQL trim does not, supplementary-plane
  * codepoints, and null-field ordering in the log renderer.
  */
class SqlParitySpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  test("shingle_hashes tokenizes like split(trim(c)) on tab/newline-padded text") {
    // Composed built-ins ARE the SQL semantics (space-only trim; split
    // keeps leading/trailing empty tokens). The native fn must agree.
    val docs = Seq(
      "\tthe quick brown fox jumps\n",      // edge tabs/newlines -> empty edge tokens
      "  plain spaced sentence here  ",     // edge spaces -> trimmed, no empty tokens
      "one\ttwo\nthree four five",          // internal whitespace mix
      "short\u0001 control char text here", // U+0001: Java trim strips, SQL keeps
      " ", "", "a b"
    ).toDF("text")
    val composed = TextOps.shingles3(TextOps.words($"text"))
    val out = docs.select(
      GraftFunctions.shingle_hashes($"text", 3).as("native"),
      array_distinct(transform(composed, TextOps.portableHash64(_))).as("built"))
    out.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString)
    }
  }

  test("sqlTokens keeps edge empty tokens and non-space controls") {
    assert(ShingleHashes.sqlTokens("\tfoo bar\n").toSeq == Seq("", "foo", "bar", ""))
    assert(ShingleHashes.sqlTokens("  foo bar  ").toSeq == Seq("foo", "bar"))
    assert(ShingleHashes.sqlTokens("foo").toSeq == Seq("foo"))
    assert(ShingleHashes.sqlTokens("").toSeq == Seq(""))
    assert(ShingleHashes.sqlTokens(" ").toSeq == Seq(""))
  }

  test("rolling_hash_min folds codepoints, not UTF-16 units") {
    // Reference: recompute every window over the codepoint array.
    def reference(s: String, w: Int): Option[Long] = {
      val cps = s.codePoints().toArray
      if (cps.length < w) None
      else Some(cps.sliding(w).map(win =>
        win.foldLeft(0L)((a, c) => (a * 257 + c) % 1000000007L)).min)
    }
    val samples = Seq(
      "plain ascii text that is long enough for windows",
      "emoji 😀 inside a long enough string of text", // U+1F600
      "😀😁😂 three emoji lead this long enough text",
      "short😀" // 6 codepoints < 16 -> null
    )
    samples.foreach { s =>
      val got = Option(RollingHashMin.compute(UTF8String.fromString(s), 16)).map(_.longValue)
      assert(got == reference(s, 16), s)
    }
  }

  test("render_log_line: malformed branch reads only event_id (null user_id/ts ok)") {
    import org.apache.spark.sql.catalyst.InternalRow
    // id % 97 == 0 with null user_id/ts -> still renders the malformed line
    val malformed = InternalRow(97L, null, null, null)
    assert(RenderLogLine.render(malformed).toString == "### malformed #97 ###")
    // non-malformed id with null user_id -> null line (concat semantics)
    val nullUser = InternalRow(98L, null, UTF8String.fromString("view"), 0L)
    assert(RenderLogLine.render(nullUser) == null)
    // and the composed-tree equivalence on a DataFrame with null fields
    val df = Seq(
      (97L * 3, Option.empty[Long], Option("view"), Option.empty[Long]),
      (101L, Option(7L), Option("view"), Option(1700000000000000L))
    ).toDF("event_id", "user_id", "event_type", "ts_us")
      .select(GraftFunctions.render_log_line(
        struct($"event_id", $"user_id", $"event_type",
          timestamp_micros($"ts_us").as("ts"))).as("line"))
    val lines = df.collect().map(r => Option(r.getString(0)))
    assert(lines(0).contains(s"### malformed #${97L * 3} ###"))
    assert(lines(1).exists(_.startsWith("10.")))
  }

  test("UpsertSink.merge publishes whole tables: a concurrent reader never sees a mix") {
    val sink = new graft.streaming.UpsertSink(1)
    // the same keys with all-"a" or all-"b" values: a key-by-key write
    // would expose a table holding both
    val a = (1 to 50).map(k => Seq[Any](k, "a"))
    val b = (1 to 50).map(k => Seq[Any](k, "b"))
    sink.merge(a, 0L)
    val tableA = sink.snapshot
    sink.merge(b, 1L)
    val tableB = sink.snapshot
    val mixed = new java.util.concurrent.ConcurrentLinkedQueue[Map[Seq[Any], Seq[Any]]]()
    @volatile var done = false
    val reader = new Thread(() => while (!done) {
      val s = sink.snapshot
      if (s != tableA && s != tableB) mixed.add(s)
    })
    reader.start()
    try (2 until 200).foreach(i => sink.merge(if (i % 2 == 0) a else b, i.toLong))
    finally { done = true; reader.join() }
    assert(mixed.isEmpty, s"reader saw ${mixed.size} mixed tables, e.g. ${mixed.peek()}")
  }
}
