package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Structured-Streaming form of the reference pipeline
  * (`LogAnalysis.java:34-94`): unbounded lines → parse → filter →
  * continuously-updating aggregates → upsert sink.
  *
  * Reference ⇄ Spark mapping (SURVEY.md §1.3):
  *   - Kafka `DataStream<String>`      → `readStream` lines (file/
  *     MemoryStream — the transforms below are source-agnostic)
  *   - continuous `count(1) GROUP BY`   → update-mode streaming aggregate
  *     (state in Spark's StateStore, keyed exchange on the group key)
  *   - `PRIMARY KEY ... NOT ENFORCED` JDBC upsert sink (`LogAnalysis
  *     .java:100-115`) → `foreachBatch` collects the [[named]] changelog
  *     once, and [[split]] hands its rows to in-memory PK tables
  *     (`UpsertSink`). `graft.sources.JdbcUpsert` holds the `INSERT ...
  *     ON DUPLICATE KEY UPDATE` form, which no main wires in yet.
  *   - the three `count(1) GROUP BY` queries → one keyed count
  *     ([[keyedCounts]]): one state store for sections, articles and
  *     clients
  *   - streaming Top-N (`ORDER BY cnt DESC LIMIT 10`,
  *     `LogAnalysis.java:184-185`) → the sink's top 10 merged on the
  *     driver with every touched row of the changelog (Blink's
  *     rank-operator rewrite, done by hand; `graft.LogAnalysisApp`)
  *
  * This object is the one place that knows the changelog's format.
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
    * the changelog holds each touched key's new total; [[named]] names
    * it and [[split]] splits it by kind.
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

  /** A [[keyedCounts]] changelog `(kind, key, count)` as
    * `(kind, key, name, count)`: section and article rows take their name
    * from one broadcast `(kind, id, name)` table, the section dim
    * (`fid`, `name`) unioned with the article dim (`tid`, `subject`), and
    * a section or article with no dim row drops; client rows pass through
    * with a null name. The dims are read when the plan runs, once per
    * trigger (stream-static broadcast join — Spark's semantic for the
    * reference's `FOR SYSTEM_TIME AS OF proctime` lookup join,
    * `LogAnalysis.java:251`), so a JDBC dim sees rows added after start
    * (LogAnalysisAppSpec "a JDBC dim row inserted after start names its
    * section at the next trigger").
    */
  def named(changes: DataFrame, sectionDim: DataFrame, articleDim: DataFrame): DataFrame = {
    def dim(kind: String, d: DataFrame, id: String, name: String): DataFrame =
      d.select(lit(kind).as("dim_kind"), col(id).cast("string").as("dim_id"), col(name).as("name"))
    val dims = dim(Section, sectionDim, "fid", "name").union(dim(Article, articleDim, "tid", "subject"))
    changes.join(broadcast(dims), col("kind") === col("dim_kind") && col("key") === col("dim_id"), "left")
      .filter(col("kind") === Client || col("dim_id").isNotNull)
      .select("kind", "key", "name", "count")
  }

  /** The three sinks' rows of a collected [[named]] changelog:
    * `(section_id: Int, name, section_pv: Long)`,
    * `(article_id: Int, subject, article_pv: Long)` and
    * `(client_ip, client_access_cnt: Long)`.
    */
  def split(rows: Seq[Row]): (Seq[Seq[Any]], Seq[Seq[Any]], Seq[Seq[Any]]) = {
    def of(kind: String): Seq[Row] = rows.filter(_.getString(0) == kind)
    def dimmed(kind: String) = of(kind).map(r => Seq(r.getString(1).toInt, r.get(2), r.getLong(3)))
    (dimmed(Section), dimmed(Article), of(Client).map(r => Seq(r.getString(1), r.getLong(3))))
  }
}
