package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-data-capture apply: MERGE a keyed change stream
  * (op ∈ {I,U,D} + a per-key strictly-ordered sequence number) into a
  * keyed snapshot — the batch core of a Delta/Iceberg-style
  * `MERGE INTO` and the primitive behind every "apply yesterday's CDC
  * feed to the lake" job.
  *
  * Semantics: per key, the HIGHEST-seq change wins (intermediate
  * changes are superseded); a winning D deletes the row (or is a no-op
  * when the key was absent), a winning I/U upserts the change payload,
  * keys without changes keep their snapshot row.
  *
  * Plan shape: the latest-change pick is ONE hash aggregate
  * (`max(struct(seq, op, payload…))` — seq leads the struct, so the
  * max IS the latest row; no sort window), then one full-outer
  * equi-join against the snapshot. At scale both sides hash-partition
  * on the key; with the snapshot bucketed by key on disk
  * (`df.write.bucketBy(...)`) the join reads sorted buckets
  * exchange-free and the per-apply shuffle is DELTA-sized. The caller
  * contracts that `seqCol` is strictly ordered per key (CDC logs are);
  * equal seqs would tie-break on (op, payload) struct order.
  */
object Cdc {

  def applyChanges(snapshot: DataFrame, changes: DataFrame, key: String,
      seqCol: String = "seq", opCol: String = "op"): DataFrame = {
    val payload = snapshot.columns.filterNot(_ == key).toSeq
    val latest = changes.groupBy(col(key))
      .agg(max(struct(col(seqCol) +: col(opCol).as("_op") +:
        payload.map(col): _*)).as("ch"))
      .select(col(key) +: col("ch._op").as("_op") +:
        payload.map(c => col(s"ch.$c").as(s"_ch_$c")): _*)
    snapshot.join(latest, Seq(key), "full_outer")
      // drop keys whose winning change is a delete (snapshot-absent
      // deletes fall out here too); NULL _op = unchanged snapshot row
      .filter(!coalesce(col("_op") === "D", lit(false)))
      .select(col(key) +: payload.map(c =>
        when(col("_op").isNotNull, col(s"_ch_$c")).otherwise(col(c)).as(c)): _*)
  }
}
