package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** Streaming heavy hitters with BOUNDED state: a SpaceSaving (Metwally
  * et al.) summary per hash shard on the state API v2 — the library's
  * MapState shape of transformWithState (ValueState: EwmaStream,
  * SprtStream, QuantileStream; MapState: here).
  *
  * Exact per-key streaming counts (the product's
  * [[LogStream.keyedCounts]]) keep one state row per DISTINCT key —
  * unbounded on an open vocabulary. This
  * processor keys by `hash(term) % shards` instead and keeps at most k
  * counters per shard in a MapState: a present term increments; an
  * absent term with room starts at (1, 0); an absent term with the
  * summary full EVICTS the minimum counter and inherits its count —
  * est = min_cnt + 1 with err = min_cnt recorded. That yields the
  * SpaceSaving guarantees: est ≥ true ≥ est − err for every surviving
  * term, and any term with true count > N/k is guaranteed present.
  * State is k·shards counters TOTAL no matter how many distinct terms
  * stream past — the bounded-memory complement of the batch Count-Min
  * sketch (Queries.cmsTopkQ), and per-shard summaries merge downstream
  * exactly like any other partial.
  *
  * Eviction tie-breaks are deterministic ((cnt, err, term) ascending),
  * so replays reproduce bit-identically.
  */
class SpaceSavingProcessor(k: Int)
    extends StatefulProcessor[Long, (Long, String), (Long, String, Long, Long)] {

  @transient private var counters: MapState[String, (Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    counters = getHandle.getMapState[String, (Long, Long)]("hh",
      Encoders.STRING, Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
      TTLConfig.NONE)

  override def handleInputRows(shard: Long, rows: Iterator[(Long, String)],
      timerValues: TimerValues): Iterator[(Long, String, Long, Long)] = {
    // the summary is ≤ k entries by construction — loading it to the heap
    // per batch is bounded work, not data-sized
    val m = scala.collection.mutable.Map.empty[String, (Long, Long)]
    counters.iterator().foreach { p => m(p._1) = p._2 }
    rows.foreach { case (_, term) =>
      m.get(term) match {
        case Some((cnt, err)) => m(term) = (cnt + 1, err)
        case None if m.size < k => m(term) = (1L, 0L)
        case None =>
          val (evict, (minCnt, _)) = m.minBy { case (t, (c, e)) => (c, e, t) }
          m.remove(evict)
          counters.removeKey(evict)
          m(term) = (minCnt + 1, minCnt)
      }
    }
    m.foreach { case (t, v) => counters.updateValue(t, v) }
    m.iterator.map { case (t, (c, e)) => (shard, t, c, e) }
  }
}

object HeavyHittersStream {

  /** term stream (single string column) → continuous per-shard
    * SpaceSaving summaries: (shard, term, est, err) changelog rows,
    * at most k terms per shard alive at any moment.
    */
  def apply(terms: Dataset[String], k: Int, shards: Int)
      : Dataset[(Long, String, Long, Long)] = {
    val spark = terms.sparkSession
    import spark.implicits._
    terms
      .map(t => ((math.floorMod(t.hashCode, shards)).toLong, t))
      .groupByKey(_._1)
      .transformWithState(new SpaceSavingProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }
}
