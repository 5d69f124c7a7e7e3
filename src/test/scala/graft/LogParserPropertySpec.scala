package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.functions.ParseCombinedLog
import graft.logs.LogParser

/** Property tests (pure scalacheck): render a random combined-format line
  * from the grammar (`README.md:147-162` of the reference) → parse →
  * fields round-trip; quote-free garbage never parses and never throws.
  */
object LogParserPropertySpec extends Properties("LogParser") {
  lazy val spark = GraftSpark.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  case class Fields(ip: String, ident: String, user: String, dt: String,
      request: String, status: String, bytes: String, referer: String, ua: String)

  val octet = Gen.choose(0, 255)
  val ipGen = for { a <- octet; b <- octet; c <- octet; d <- octet } yield s"$a.$b.$c.$d"
  val tokenGen = Gen.oneOf(Gen.const("-"), Gen.alphaNumStr.suchThat(_.nonEmpty))
  val months = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
  val dtGen = for {
    d <- Gen.choose(1, 28); m <- Gen.oneOf(months); y <- Gen.choose(1995, 2030)
    hh <- Gen.choose(0, 23); mm <- Gen.choose(0, 59); ss <- Gen.choose(0, 59)
    z <- Gen.oneOf("+0000", "+0800", "-0700")
  } yield f"$d%02d/$m/$y:$hh%02d:$mm%02d:$ss%02d $z"
  val uriGen = Gen.oneOf(
    Gen.const("/index.html"),
    Gen.choose(1, 99).map(i => s"/forum.php?mod=forumdisplay&fid=$i"),
    Gen.choose(1, 999).map(i => s"/forum.php?mod=viewthread&tid=$i&extra=page%3D1"),
    Gen.choose(1, 99).map(i => s"/forum.php?mod=ajax&action=x&fid=$i"))
  val requestGen = Gen.oneOf(
    Gen.const("-"),
    for { m <- Gen.oneOf("GET", "POST", "HEAD"); u <- uriGen } yield s"$m $u HTTP/1.1")
  val statusGen = Gen.oneOf("200", "301", "403", "404", "408", "500")
  val bytesGen = Gen.oneOf(Gen.const("-"), Gen.choose(0L, 999999L).map(_.toString))
  val quoteFree = Gen.asciiPrintableStr.map(_.filterNot(c => c == '"' || c == '\\'))
  val refererGen = Gen.oneOf(Gen.const("-"), Gen.const("http://x.example/a?b=c&d=1"))
  val uaGen = Gen.oneOf(
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko)",
    "curl/7.61.1", "-", "Sogou web spider/4.0(+http://www.sogou.com/docs/help.htm#07)")

  val fieldsGen = for {
    ip <- ipGen; ident <- tokenGen; user <- tokenGen; dt <- dtGen
    req <- requestGen; st <- statusGen; b <- bytesGen; ref <- refererGen; ua <- uaGen
  } yield Fields(ip, ident, user, dt, req, st, b, ref, ua)

  def render(f: Fields): String =
    s"""${f.ip} ${f.ident} ${f.user} [${f.dt}] "${f.request}" ${f.status} ${f.bytes} "${f.referer}" "${f.ua}""""

  property("roundTrip") = Prop.forAll(Gen.listOfN(10, fieldsGen)) { fs =>
    import spark.implicits._
    fs.isEmpty || {
      val parsed = LogParser.parseFull(fs.map(render).toDF("line")).collect()
      parsed.zip(fs).forall { case (r, f) =>
        r.getAs[String]("client_ip") == f.ip &&
          r.getAs[String]("client_identity") == f.ident &&
          r.getAs[String]("remote_user") == f.user &&
          r.getAs[String]("date_time") == f.dt &&
          r.getAs[String]("request") == f.request &&
          r.getAs[String]("http_status") == f.status &&
          r.getAs[String]("bytes_sent") == f.bytes &&
          r.getAs[String]("referer") == f.referer &&
          r.getAs[String]("user_agent") == f.ua &&
          r.getAs[java.sql.Timestamp]("access_ts") != null
      }
    }
  }

  /** The ASCII fast path of `ParseCombinedLog.parse` slices groups by
    * byte offset; on every ASCII line it must give the groups a `String`
    * match gives, field for field, and null where that match fails.
    * Empty quoted groups and `-` fields included, and lines broken by
    * dropping or doubling one character.
    */
  val emptyOr = (g: Gen[String]) => Gen.frequency(1 -> Gen.const(""), 3 -> g)
  val asciiLineGen: Gen[String] = for {
    f <- fieldsGen; req <- emptyOr(requestGen); ref <- emptyOr(refererGen); ua <- emptyOr(uaGen)
    line = render(f.copy(request = req, referer = ref, ua = ua))
    at <- Gen.choose(0, line.length - 1)
    broken <- Gen.frequency(3 -> Gen.const(line), 1 -> Gen.const(line.patch(at, "", 1)),
      1 -> Gen.const(line.patch(at, line.substring(at, at + 1) * 2, 1)), 1 -> quoteFree)
  } yield broken

  property("asciiSlicesEqualStringGroups") = Prop.forAll(Gen.listOfN(50, asciiLineGen)) { ls =>
    val pattern = java.util.regex.Pattern.compile(ParseCombinedLog.LogRegex)
    ls.forall { l =>
      val m = pattern.matcher(l)
      val want = if (m.matches()) Some((1 to 9).map(m.group)) else None
      val got = Option(ParseCombinedLog.parse(UTF8String.fromString(l)))
        .map(r => (0 until 9).map(r.getUTF8String(_).toString))
      got == want
    }
  }

  property("garbageNeverParses") = Prop.forAll(Gen.listOfN(10, quoteFree)) { ls =>
    import spark.implicits._
    ls.isEmpty || {
      val df = LogParser.parseFull(ls.toDF("line"))
      df.filter(org.apache.spark.sql.functions.col("client_ip").isNotNull).count() == 0
    }
  }
}
