package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured-Streaming form of the reference pipeline
  * (`LogAnalysis.java:34-94`): unbounded lines → parse → filter →
  * continuously-updating aggregates → upsert sink.
  *
  * Reference ⇄ Spark mapping (SURVEY.md §1.3):
  *   - Kafka `DataStream<String>`      → `readStream` lines (kafka/file/
  *     MemoryStream — the transforms below are source-agnostic)
  *   - continuous `count(1) GROUP BY`   → update-mode streaming aggregate
  *     (state in Spark's StateStore, keyed exchange on the group key)
  *   - `PRIMARY KEY ... NOT ENFORCED` JDBC upsert sink (`LogAnalysis
  *     .java:100-115`) → `foreachBatch` + key-wise MERGE (here an
  *     in-memory PK table; swap the merge lambda for `INSERT ... ON
  *     DUPLICATE KEY UPDATE` against a real JDBC pool at deploy time)
  *   - the three `count(1) GROUP BY` queries → one keyed count
  *     ([[keyedCounts]]): one state store for sections, articles and
  *     clients
  *   - streaming Top-N (`ORDER BY cnt DESC LIMIT 10`,
  *     `LogAnalysis.java:184-185`) → the sink's top 10 merged with each
  *     changelog's top 10 inside foreachBatch (Blink's rank-operator
  *     rewrite, done by hand; `graft.LogAnalysisApp`)
  *
  * The reference is processing-time only (no watermarks — SURVEY.md §2.3);
  * [[windowedEventCounts]] adds the event-time+watermark variant Spark
  * gives for free, as the extension surface.
  */
object LogStream {

  private val Section = "section"
  private val Article = "article"
  private val Client = "client"

  /** The product's one stateful aggregate: each parsed row becomes tagged
    * (kind, key) rows, counted per (kind, key). A row yields its section
    * and its article when the id is not the 0 sentinel, and its client
    * when it carries at least one id (the reference's three count
    * queries, `LogAnalysis.java:117-130,173-185,251`). In update mode
    * the changelog holds each touched key's new total; [[sectionTotals]],
    * [[articleTotals]] and [[clientTotals]] split it by kind.
    */
  def keyedCounts(parsed: DataFrame): DataFrame = {
    def tagged(kind: String, key: Column, keep: Column): Column =
      when(keep, struct(lit(kind).as("kind"), key.cast("string").as("key")))
    val section = col("section_id") =!= 0
    val article = col("article_id") =!= 0
    parsed
      .select(explode(array_compact(array(
        tagged(Section, col("section_id"), section),
        tagged(Article, col("article_id"), article),
        tagged(Client, col("client_ip"), section || article)))).as("t"))
      .select("t.*")
      .groupBy("kind", "key")
      .count()
  }

  /** `(section_id, name, section_pv)` rows of a [[keyedCounts]]
    * changelog. The dim joins the changelog, one row per touched section,
    * not the raw rows (stream-static broadcast join — Spark's semantic for
    * the reference's `FOR SYSTEM_TIME AS OF proctime` lookup join,
    * `LogAnalysis.java:251`); a section with no dim row drops.
    */
  def sectionTotals(changes: DataFrame, sectionDim: DataFrame): DataFrame =
    withDim(changes, Section, sectionDim, "fid", "name")

  /** `(article_id, subject, article_pv)` rows of a [[keyedCounts]]
    * changelog, joined to the dim like [[sectionTotals]].
    */
  def articleTotals(changes: DataFrame, articleDim: DataFrame): DataFrame =
    withDim(changes, Article, articleDim, "tid", "subject")

  /** `(client_ip, client_access_cnt)` rows of a [[keyedCounts]] changelog. */
  def clientTotals(changes: DataFrame): DataFrame =
    changes.filter(col("kind") === Client)
      .select(col("key").as("client_ip"), col("count").as("client_access_cnt"))

  private def withDim(changes: DataFrame, kind: String, dim: DataFrame,
      dimKey: String, attr: String): DataFrame = {
    val (id, pv) = (s"${kind}_id", s"${kind}_pv")
    changes.filter(col("kind") === kind)
      .select(col("key").cast("int").as(id), col("count").as(pv))
      .join(broadcast(dim), col(id) === col(dimKey))
      .select(col(id), col(attr), col(pv))
  }

  /** Stream-stream interval join (attribution): each purchase matched to
    * the SAME user's views within the trailing `windowSeconds` —
    * view.ts ∈ [purchase.ts - window, purchase.ts]. Both sides carry
    * watermarks, so the join state is BOUNDED: a buffered view row is
    * evicted once the purchase watermark passes view.ts + window (Spark
    * derives the eviction bound from the range condition), which is what
    * lets this run forever on a 1000-executor cluster. The state exchange
    * hashes on user_id — at scale the same hot-key note as the batch
    * as-of applies (pre-filter bot traffic, or bucket the attribution
    * window upstream).
    *
    * Inner join: purchases with no prior view in-window are dropped
    * (funnel semantics). Append output mode.
    */
  def attributionJoin(
      views: DataFrame, purchases: DataFrame,
      watermarkDelay: String, windowSeconds: Long): DataFrame =
    attribution(views, purchases, watermarkDelay, windowSeconds, "inner")

  /** LEFT OUTER variant of [[attributionJoin]]: unattributed purchases
    * still emit (null view columns) — but only once the watermark
    * passes the purchase's join window, because until then a matching
    * view could still arrive. Both watermarks bound the join state;
    * the outer row's emission latency IS the watermark delay — the
    * price of "every purchase appears exactly once".
    */
  def attributionJoinOuter(
      views: DataFrame, purchases: DataFrame,
      watermarkDelay: String, windowSeconds: Long): DataFrame =
    attribution(views, purchases, watermarkDelay, windowSeconds, "left_outer")

  private def attribution(views: DataFrame, purchases: DataFrame,
      watermarkDelay: String, windowSeconds: Long, joinType: String): DataFrame = {
    val v = views
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", watermarkDelay)
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermarkDelay)
    p.join(v, expr(
      s"""user_id = v_user AND
         |v_ts <= p_ts AND
         |v_ts >= p_ts - INTERVAL $windowSeconds SECONDS""".stripMargin), joinType)
      .select(col("purchase_id"), col("user_id"), col("p_ts"), col("view_id"), col("v_ts"))
  }

  /** Event-time tumbling window with watermark (extension beyond the
    * reference's processing-time-only surface).
    */
  def windowedEventCounts(events: DataFrame, watermarkDelay: String, windowLen: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n_events"))
}
