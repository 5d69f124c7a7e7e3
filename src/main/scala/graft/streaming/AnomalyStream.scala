package graft.streaming

import java.util.UUID

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryManager}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Streaming volume-anomaly monitoring: the exact modified-z
  * (robust-z) statistic of each micro-batch's row volume against a
  * static reference distribution of historical per-period volumes —
  * the q_robust_z arithmetic (two nested 2×-median tricks, the
  * 1349·dev₂ vs 3500·mad₄ integer gate, no sqrt and no float) applied
  * at ingest. This is the pager alarm that catches "this batch is
  * 6 MADs above any day we've ever seen" BEFORE downstream jobs
  * inherit the surge — the volume sibling of the q_ks_drift
  * distribution check.
  *
  * Scale shape: the reference collapses ONCE to two integers
  * (med₂, mad₄ — computed here per call because the reference is
  * domain-bounded: one row per historical period); each micro-batch
  * contributes a single count, observed on a query that already runs.
  * Nothing is re-scanned and no query of its own is started.
  */
object AnomalyStream {

  /** The reference volumes collapsed to their two integers: `m2` = 2·median
    * and `mad4` = 2·median(|2x − m2|).
    */
  final case class Reference(m2: Long, mad4: Long) {

    /** [[robustZStatistic]]'s `(z_e6, is_outlier)` of the volume `x`, in
      * the same integer arithmetic, on the driver.
      */
    def gate(x: Long): (Option[Long], Boolean) = {
      val dev2 = math.abs(2 * x - m2)
      if (mad4 == 0) (None, dev2 != 0)
      else (Some(1349 * dev2 * 1000 / mad4), 1349 * dev2 > 3500 * mad4)
    }
  }

  /** One row (m2, mad4) of the reference periods `ref` (an `x: long` column). */
  private def medMad(ref: DataFrame): DataFrame = {
    val med = ref.groupBy()
      .agg(expr("cast(2 * percentile(x, 0.5) as bigint)").as("m2"))
    val mad = ref.crossJoin(broadcast(med))
      .select(abs(expr("2 * x - m2")).as("dev2"))
      .groupBy().agg(expr("cast(2 * percentile(dev2, 0.5) as bigint)").as("mad4"))
    med.crossJoin(mad)
  }

  /** Exact robust z of the observation `x` (a one-row `x: long`
    * frame — typically a batch's row count) against the reference
    * periods `ref` (an `x: long` column of historical volumes): one
    * row (x, z_e6, is_outlier) with z = 1.349·|2x−med₂|/mad₄ at e6 by
    * integral division and the 3.5 gate compared in integers. A
    * zero-MAD reference (constant history) yields z_e6 = null rather
    * than a division error, with the outlier flag still exact (any
    * deviation from a constant history is an outlier).
    */
  def robustZStatistic(value: DataFrame, ref: DataFrame): DataFrame =
    value.crossJoin(broadcast(medMad(ref)))
      .select(col("x"),
        expr("1349 * abs(2 * x - m2) * 1000 div nullif(mad4, 0)").as("z_e6"),
        when(col("mad4") === 0, expr("2 * x <> m2"))
          .otherwise(expr("1349 * abs(2 * x - m2) > 3500 * mad4"))
          .as("is_outlier"))

  /** [[Reference]] of `ref`, computed once; `ref` must hold a row. */
  def reference(ref: DataFrame): Reference = {
    val r = medMad(ref).head()
    require(!r.isNullAt(0), "reference volumes are empty")
    Reference(r.getLong(0), r.getLong(1))
  }

  /** Per micro-batch volume alarm riding on a query that already runs:
    * `run` gets `stream` with its row count observed as a metric and
    * starts the query that consumes it. For every progress of that query
    * that read input, `onResult` gets the batch id, the observed count
    * and its [[Reference.gate]] against `ref`. No-data batches (a
    * watermark advance) raise no alarm. The listener that reads the
    * progress leaves the session when the query terminates.
    */
  def volumeAlarm(stream: DataFrame, ref: DataFrame)(
      onResult: (Long, Long, Option[Long], Boolean) => Unit)(
      run: DataFrame => StreamingQuery): StreamingQuery = {
    val spark = stream.sparkSession
    val metric = s"volume_${UUID.randomUUID().toString.replace("-", "")}"
    val listener = new VolumeListener(spark.streams, metric, reference(ref), onResult)
    // added before the query starts, so its first progress is not missed
    spark.streams.addListener(listener)
    val query =
      try run(stream.observe(metric, count(lit(1)).as("rows")))
      catch { case e: Throwable => listener.remove(); throw e }
    listener.queryId = query.id
    // a query that ended before its id was set: its termination went unmatched
    if (!query.isActive) listener.remove()
    query
  }

  private final class VolumeListener(streams: StreamingQueryManager, metric: String,
      reference: Reference, onResult: (Long, Long, Option[Long], Boolean) => Unit)
      extends StreamingQueryListener {
    @volatile var queryId: UUID = _
    def remove(): Unit = streams.removeListener(this)
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val rows = p.observedMetrics.get(metric)
      if (rows != null && p.numInputRows > 0) {
        val x = rows.getLong(0)
        val (z, fired) = reference.gate(x)
        onResult(p.batchId, x, z, fired)
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      if (e.id == queryId) remove()
  }
}
