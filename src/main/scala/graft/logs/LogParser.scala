package graft.logs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Apache *combined* access-log parser as pure Catalyst column expressions.
  *
  * Reference behavior: `LogParse.java:25-56` (master regex + record build),
  * `LogParse.java:79-101` (date parse), `LogParse.java:62-71` (request
  * split), `LogParse.java:112-132` (Discuz section/article id extraction),
  * `LogAnalysis.java:269-323` (pipeline: parse → drop unparseable → status
  * filter → 4-tuple extraction with 0-sentinels).
  *
  * We implement the reference's *intended* semantics (SURVEY.md §2.2):
  *   - B1 fixed: flat regex groups — status is the real status code, the
  *     user-agent is actually captured (the reference misaligns nested
  *     groups so `httpStatusCode` holds the request text).
  *   - B2 fixed: the status filter keeps 200s (the reference's is inverted
  *     AND dead, i.e. a no-op).
  *   - B3 fixed: value equality for the failure sentinels.
  *
  * Everything here is built-in expressions (regexp_extract / split /
  * try_to_timestamp), so whole-stage codegen applies and the parse fuses
  * with downstream filters into one stage — no shuffle, no UDF. On a real
  * cluster this runs as a narrow map over the source partitions.
  */
object LogParser {

  /** Discuz URL id patterns (`LogParse.java:114,117`): anchored on the
    * exact `mod=` value so e.g. `?mod=ajax&...&fid=40` yields NO section.
    */
  val SectionIdRegex: String = """\?mod=forumdisplay&fid=(\d+)"""
  val ArticleIdRegex: String = """\?mod=viewthread&tid=(\d+)"""

  /** Wall-clock format inside the bracketed field, zone dropped
    * (`LogParse.java:85` — reference discards the ±zzzz offset).
    */
  val DateFormat = "dd/MMM/yyyy:HH:mm:ss"

  /** P1 — record parse. Adds the 9 `AccessLogRecord` fields
    * (`AccessLogRecord.java:17-27`); all null when the line doesn't match
    * (the reference maps those to null records, `LogParse.java:50-56`).
    *
    * Uses the native one-pass [[graft.functions.ParseCombinedLog]]
    * expression (one regex match per line; the composed-builtins
    * alternative costs ~10 full matches and bloats codegen).
    */
  def parseRecord(lines: DataFrame, lineCol: String = "line"): DataFrame = {
    val parsed = lines.withColumn("_rec", graft.functions.GraftFunctions.parse_log(col(lineCol)))
    graft.functions.ParseCombinedLog.fieldNames
      .foldLeft(parsed)((df, f) => df.withColumn(f, col("_rec").getField(f)))
      .drop("_rec")
  }

  /** P2 — drop lines the regex rejected (`LogAnalysis.java:308-313`). */
  def dropUnparseable(records: DataFrame): DataFrame =
    records.filter(col("client_ip").isNotNull)

  /** P3 — status filter, *intended* semantics: keep only HTTP 200
    * (`LogAnalysis.java:314-320`, comment at `:315`; see B2).
    */
  def keepStatus200(records: DataFrame): DataFrame =
    records.filter(col("http_status") === "200")

  /** P5 — `[27/Aug/2020:10:20:53 +0800]` field (brackets already stripped
    * by the master regex) → timestamp, zone discarded like the reference
    * (`LogParse.java:79-101`); null when malformed (ANSI-safe).
    */
  def parseAccessTs(dateTime: Column): Column =
    try_to_timestamp(substring_index(dateTime, " ", 1), lit(DateFormat))

  /** P6 — `"GET /uri HTTP/1.1"` → (method, uri, proto); null unless
    * exactly 3 space-separated parts (`LogParse.java:62-71`).
    */
  def requestParts(request: Column): (Column, Column, Column) = {
    val parts = split(request, " ")
    val ok = size(parts) === 3
    (when(ok, get(parts, lit(0))), when(ok, get(parts, lit(1))), when(ok, get(parts, lit(2))))
  }

  /** P7+P8 — Discuz id from the URI with the 0 = "absent" sentinel
    * (`LogAnalysis.java:284-285`). `nullif` guards the ANSI cast: a
    * no-match extract yields "" which must become 0, not an error.
    */
  private def idFrom(uri: Column, rx: String): Column =
    coalesce(nullif(regexp_extract(uri, rx, 1), lit("")).cast("int"), lit(0))

  def sectionId(uri: Column): Column = idFrom(uri, SectionIdRegex)
  def articleId(uri: Column): Column = idFrom(uri, ArticleIdRegex)

  /** Full parsed-record view: record fields + derived analytics fields
    * (`access_ts`, `method`/`uri`/`proto`, `section_id`/`article_id`).
    * One narrow projection; unparseable lines keep all-null fields.
    */
  def parseFull(lines: DataFrame, lineCol: String = "line"): DataFrame = {
    val rec = parseRecord(lines, lineCol)
    val (m, u, p) = requestParts(col("request"))
    rec
      .withColumn("access_ts", parseAccessTs(col("date_time")))
      .withColumn("method", m)
      .withColumn("uri", u)
      .withColumn("proto", p)
      .withColumn("section_id", when(col("request").isNotNull, sectionId(col("uri"))))
      .withColumn("article_id", when(col("request").isNotNull, articleId(col("uri"))))
  }

  /** P1-P8 composed — the reference's analytics 4-tuple
    * `(clientIP, accessDate, sectionId, articleId)`
    * (`LogAnalysis.java:269-292`), after intended-semantics filtering:
    * parse → drop unparseable → keep 200. `access_date` is the formatted
    * string exactly as the reference carries it.
    */
  def accessTuples(lines: DataFrame, lineCol: String = "line"): DataFrame =
    accessEvents(lines, lineCol).drop("ts")

  /** [[accessTuples]] plus `ts`, the parsed event time `access_date` is
    * formatted from — what watermarks and interval joins read.
    */
  def accessEvents(lines: DataFrame, lineCol: String = "line"): DataFrame = {
    val parsed = keepStatus200(dropUnparseable(parseFull(lines, lineCol)))
    parsed.select(
      col("client_ip"),
      date_format(col("access_ts"), "yyyy-MM-dd HH:mm:ss").as("access_date"),
      col("section_id"),
      col("article_id"),
      col("access_ts").as("ts"))
  }
}
