package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Seeded combined-log traffic for the stream workloads, plus its own
  * ground-truth tally.
  *
  * The tally is kept while rendering, from the generator's own draws, so
  * it is independent of `LogParser`: a parser or sink defect shows as a
  * disagreement instead of being reproduced on both sides.
  *
  * Keys: sections 1..`sections`, articles 1..`articles`, client ids
  * 0..`clients`-1, each drawn from a Zipf law over a seeded permutation
  * of its key space. Line `i` carries the timestamp `start + i` seconds,
  * so event time advances monotonically. Lines take the shapes
  * `graft.logs.LogGen` renders, at the shares LogGen gives them.
  *
  * The key counts are fixed by the workload design; every share and
  * exponent is derived from the committed benchmark data by
  * `perfbench/derive_traffic.py` (which `--check`s these defaults).
  */
final case class TrafficParams(
    sections: Int = 25,
    articles: Int = 20000,
    clients: Int = 200000,
    viewShare: Double = 0.1982,
    purchaseShare: Double = 0.1981,
    clickShare: Double = 0.2006,
    errorShare: Double = 0.2014,
    malformedShare: Double = 0.0104,
    emptyRequestShare: Double = 0.0111,
    status404Share: Double = 0.0978,
    status500Share: Double = 0.1258,
    bytesDashShare: Double = 0.0771,
    refererShare: Double = 0.6666,
    clientZipf: Double = 0.1213,
    sectionZipf: Double = 0.1643,
    articleZipf: Double = 0.1614,
    startEpochSec: Long = 1598522400L)

/** Exact counts the sinks must hold: per section and article id, and per
  * client ip over lines carrying either id. Only well-formed status-200
  * lines count, as the product pipeline specifies.
  */
final class Tally(p: TrafficParams) {
  val section = new Array[Long](p.sections + 1)
  val article = new Array[Long](p.articles + 1)
  val client = new Array[Long](p.clients)
  var lines = 0L

  /** Top-n (id, count) by count desc, then id asc. */
  def top(counts: Array[Long], n: Int): Seq[(Long, Long)] =
    counts.indices.filter(i => i > 0 && counts(i) > 0)
      .sortBy(i => (-counts(i), i)).take(n).map(i => (i.toLong, counts(i)))

  def clients: Map[String, Long] =
    client.indices.filter(client(_) > 0)
      .map(i => Traffic.ip(i) -> client(i)).toMap
}

final class Traffic(seed: Long, val p: TrafficParams = TrafficParams()) {
  private val rnd = new java.util.SplittableRandom(seed)
  val tally = new Tally(p)
  private var next = 0L

  private def zipf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(k => math.pow(k + 1.0, -s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  private def permutation(n: Int): Array[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
  private val sectionCdf = zipf(p.sections, p.sectionZipf)
  private val articleCdf = zipf(p.articles, p.articleZipf)
  private val clientCdf = zipf(p.clients, p.clientZipf)
  private val sectionKey = permutation(p.sections)
  private val articleKey = permutation(p.articles)
  private val clientKey = permutation(p.clients)

  private def draw(cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private val dateFmt = java.time.format.DateTimeFormatter
    .ofPattern("dd/MMM/yyyy:HH:mm:ss", java.util.Locale.ENGLISH)
    .withZone(java.time.ZoneOffset.UTC)

  /** Render the next line and count it in the tally. The page kind
    * follows LogGen's event types: view and purchase (POST) read an
    * article, click browses a section, error is an ajax URL whose fid sits
    * under `mod=ajax` and so names no section, signup carries no id.
    */
  def line(): String = {
    val n = next
    next += 1
    tally.lines += 1
    val c = clientKey(draw(clientCdf))
    val kind = rnd.nextDouble()
    val sec = sectionKey(draw(sectionCdf)) + 1
    val art = articleKey(draw(articleCdf)) + 1
    val (request, secHit, artHit) =
      if (kind < p.viewShare) (s"GET /forum.php?mod=viewthread&tid=$art&extra=page%3D1 HTTP/1.1", 0, art)
      else if (kind < p.viewShare + p.purchaseShare)
        (s"POST /forum.php?mod=viewthread&tid=$art&from=fav HTTP/1.1", 0, art)
      else if (kind < p.viewShare + p.purchaseShare + p.clickShare)
        (s"GET /forum.php?mod=forumdisplay&fid=$sec HTTP/1.1", sec, 0)
      else if (kind < p.viewShare + p.purchaseShare + p.clickShare + p.errorShare)
        (s"GET /forum.php?mod=ajax&action=checknew&fid=$sec HTTP/1.1", 0, 0)
      else ("GET /member.php?mod=register HTTP/1.1", 0, 0)
    // one draw picks the line's shape, in LogGen's rule order
    val shape = rnd.nextDouble()
    val empty = shape >= p.malformedShare && shape < p.malformedShare + p.emptyRequestShare
    val status =
      if (empty) "408"
      else if (shape < p.malformedShare + p.emptyRequestShare + p.status404Share) "404"
      else if (shape < p.malformedShare + p.emptyRequestShare + p.status404Share + p.status500Share) "500"
      else "200"
    val bytes = if (empty || rnd.nextDouble() < p.bytesDashShare) "-" else (200 + n % 9000).toString
    val referer =
      if (rnd.nextDouble() < p.refererShare)
        s"http://kms-4/forum.php?mod=forumdisplay&fid=${sectionKey(draw(sectionCdf)) + 1}"
      else "-"
    if (shape < p.malformedShare) return s"### malformed line $n ###"
    if (status == "200") {
      if (secHit > 0) tally.section(secHit) += 1
      if (artHit > 0) tally.article(artHit) += 1
      if (secHit > 0 || artHit > 0) tally.client(c) += 1
    }
    val ts = dateFmt.format(java.time.Instant.ofEpochSecond(p.startEpochSec + n))
    s"""${Traffic.ip(c)} - - [$ts +0800] "${if (empty) "-" else request}" $status $bytes "$referer" "Mozilla/5.0 (perfbench)""""
  }

  /** Write `files` files of `linesPerFile` lines each into `dir`. */
  def writeFiles(dir: Path, files: Int, linesPerFile: Int): Seq[Path] = {
    Files.createDirectories(dir)
    (0 until files).map { f =>
      val sb = new java.lang.StringBuilder(linesPerFile * 120)
      (0 until linesPerFile).foreach(_ => sb.append(line()).append('\n'))
      val path = dir.resolve(f"part-$f%05d.txt")
      Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
      path
    }
  }
}

object Traffic {
  def ip(c: Int): String = s"10.${(c >> 16) & 255}.${(c >> 8) & 255}.${c & 255}"
  def sectionName(id: Long): String = f"section-$id%02d"
  def articleSubject(id: Long): String = s"thread $id"
}
