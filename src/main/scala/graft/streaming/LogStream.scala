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
}
