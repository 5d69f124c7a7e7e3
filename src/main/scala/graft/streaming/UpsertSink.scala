package graft.streaming

import org.apache.spark.sql.DataFrame

/** PK-upsert sink driven from `foreachBatch` — the Spark equivalent of
  * the reference's three `PRIMARY KEY ... NOT ENFORCED` JDBC sink tables
  * (`LogAnalysis.java:100-115,156-171,220-237`; MySQL DDL
  * `README.md:248-272`): each micro-batch's changelog rows overwrite by
  * key, so the external table always holds current aggregate state.
  *
  * This implementation keeps the table in memory (tests / local runs).
  * The `merge` seam is exactly where a production deployment issues
  * `INSERT ... ON DUPLICATE KEY UPDATE` over a JDBC connection per
  * partition — the batch → key → row flow is identical.
  */
class UpsertSink(keyCols: Seq[String]) extends Serializable {

  /** key values → latest row. Every write builds a whole new map and
    * publishes it in one volatile write, so a concurrent reader sees the
    * table before or after a batch, never a mix. Writes come from one
    * query's `foreachBatch`, one batch at a time.
    */
  @volatile private var table: Map[Seq[Any], Seq[Any]] = Map.empty

  /** foreachBatch hook: upsert every row of the micro-batch output.
    * `collect` here mirrors the reference sink's per-record JDBC writes;
    * the batch is already the *aggregated* changelog (small: one row per
    * touched key), not raw events.
    */
  def merge(batch: DataFrame, batchId: Long): Unit = table = table ++ keyed(batch)

  /** Complete-mode hook: the batch IS the whole table. A batch that fails
    * to collect leaves the previous table in place.
    */
  def replace(batch: DataFrame, batchId: Long): Unit = table = keyed(batch).toMap

  /** Top-k hook: upsert the batch, then keep only the `k` rows that come
    * first under `rank`.
    */
  def mergeTop[R: Ordering](batch: DataFrame, batchId: Long, k: Int)(rank: Seq[Any] => R): Unit =
    table = (table ++ keyed(batch)).toSeq.sortBy(kv => rank(kv._2)).take(k).toMap

  def snapshot: Map[Seq[Any], Seq[Any]] = table

  private def keyed(batch: DataFrame): Seq[(Seq[Any], Seq[Any])] = {
    val keyIdx = keyCols.map(batch.columns.indexOf(_))
    batch.collect().toSeq.map { row =>
      val vals = row.toSeq
      keyIdx.map(vals(_)) -> vals
    }
  }
}
