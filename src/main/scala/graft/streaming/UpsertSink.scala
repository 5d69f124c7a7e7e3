package graft.streaming

/** PK-upsert table fed from `foreachBatch` — the Spark equivalent of
  * the reference's three `PRIMARY KEY ... NOT ENFORCED` JDBC sink tables
  * (`LogAnalysis.java:100-115,156-171,220-237`; MySQL DDL
  * `README.md:248-272`): each micro-batch's changelog rows overwrite by
  * key, so the table always holds current aggregate state.
  *
  * The table lives in driver memory and runs no Spark action: the
  * caller collects its batch once and hands the rows over. A row's key
  * is its first `keyWidth` values.
  */
class UpsertSink(keyWidth: Int) {

  /** key values → latest row. Every write builds a whole new map and
    * publishes it in one volatile write, so a concurrent reader sees the
    * table before or after a batch, never a mix. Writes come from one
    * query's `foreachBatch`, one batch at a time.
    */
  @volatile private var table: Map[Seq[Any], Seq[Any]] = Map.empty

  /** Upsert every row of a collected micro-batch. */
  def merge(rows: Seq[Seq[Any]], batchId: Long): Unit = table = table ++ keyed(rows)

  /** Top-k hook: upsert the rows, then keep only the `k` rows that come
    * first under `rank`.
    */
  def mergeTop[R: Ordering](rows: Seq[Seq[Any]], batchId: Long, k: Int)(rank: Seq[Any] => R): Unit =
    table = (table ++ keyed(rows)).toSeq.sortBy(kv => rank(kv._2)).take(k).toMap

  def snapshot: Map[Seq[Any], Seq[Any]] = table

  private def keyed(rows: Seq[Seq[Any]]): Seq[(Seq[Any], Seq[Any])] = rows.map(r => r.take(keyWidth) -> r)
}
