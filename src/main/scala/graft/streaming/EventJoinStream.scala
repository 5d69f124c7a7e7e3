package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The browse→read funnel: each browse paired with the same client's
  * reads that follow it within a bounded gap, both sides taken from ONE
  * stream of parsed log rows. A pair is a browse at `view_ts` and a read
  * at `purchase_ts` with `view_ts < purchase_ts ≤ view_ts + maxGapSec`.
  *
  * Scale contract: watermarks bound the buffered state. A browse stays
  * only until the watermark passes `view_ts + maxGapSec` and a read until
  * it passes `purchase_ts`, so state is O(arrival rate × window), never
  * O(history). The pairing runs as one keyed stateful operator: one scan,
  * one parse and one state store per partition, where a stream-stream
  * join of the stream with itself reads its source once per side and
  * keeps four.
  */
object EventJoinStream {

  final case class Hit(user_id: String, ts: Timestamp, browse: Boolean, read: Int)
  final case class Read(ts: Long, value: Int)
  /** A client's buffered browses and reads, event times in ms. */
  final case class Buffered(views: Seq[Long], reads: Seq[Read])
  final case class Match(user_id: String, view_ts: Timestamp, purchase_ts: Timestamp, value: Int)

  /** The browse→read funnel over one stream of parsed log rows
    * (`client_ip`, `ts`, `section_id`, `article_id`): each browse
    * (`section_id` ≠ 0) paired with the same client's reads
    * (`article_id` ≠ 0, the read's article as `value`) with
    * `view_ts < purchase_ts ≤ view_ts + maxGapSec`, one
    * `(user_id, view_ts, purchase_ts, value)` row per pair.
    *
    * One `flatMapGroupsWithState` keyed by `client_ip` buffers each
    * browse's and each read's event time. A batch's reads pair with every
    * buffered and new browse, its browses with every buffered read, so
    * each pair emits exactly once, whichever batch brings either side.
    * The watermark is the max event time of all `events` minus
    * `watermarkSec`. A row at or below it is dropped; a browse
    * leaves state once `view_ts + maxGapSec` ≤ watermark and a read once
    * `purchase_ts` ≤ watermark, since no later row can pair with them.
    * The event-time timeout takes an idle client's state out on the same
    * rule. Event times are compared in milliseconds, the watermark's unit.
    */
  def browseToRead(events: DataFrame, maxGapSec: Int = 600,
      watermarkSec: Int = 300): Dataset[Match] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = maxGapSec * 1000L
    events
      .select(col("client_ip").as("user_id"), col("ts"),
        coalesce(col("section_id") =!= 0, lit(false)).as("browse"),
        coalesce(col("article_id"), lit(0)).as("read"))
      .withWatermark("ts", s"$watermarkSec seconds")
      .as[Hit]
      // typed, so the optimizer cannot push it below the watermark,
      // which then sees every row
      .filter(h => h.ts != null && (h.browse || h.read != 0))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: String, hits: Iterator[Hit], state: GroupState[Buffered]) =>
          val old = state.getOption.getOrElse(Buffered(Nil, Nil))
          val batch = hits.toSeq
          val newViews = batch.filter(_.browse).map(_.ts.getTime)
          val newReads = batch.filter(_.read != 0).map(h => Read(h.ts.getTime, h.read))
          def pairs(vs: Seq[Long], rs: Seq[Read]): Seq[Match] =
            for (v <- vs; r <- rs if v < r.ts && r.ts <= v + gapMs)
              yield Match(user, new Timestamp(v), new Timestamp(r.ts), r.value)
          val views = old.views ++ newViews
          val reads = old.reads ++ newReads
          val out = pairs(views, newReads) ++ pairs(newViews, old.reads)
          val watermark = state.getCurrentWatermarkMs()
          val kept = Buffered(views.filter(_ + gapMs > watermark), reads.filter(_.ts > watermark))
          if (kept.views.isEmpty && kept.reads.isEmpty) state.remove()
          else {
            state.update(kept)
            state.setTimeoutTimestamp((kept.views.map(_ + gapMs) ++ kept.reads.map(_.ts)).max)
          }
          out.iterator
      }
  }
}
