package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stream-stream interval join — the attribution primitive the
  * stream-static lookups (LogStream) cannot express: BOTH sides arrive
  * continuously, and a purchase must match a view by the same user
  * within a bounded gap after it.
  *
  * Scale contract: the time-bound predicate plus watermarks on both
  * sides is what keeps the symmetric join state finite — Spark's
  * StreamingSymmetricHashJoin buffers each side only until the other
  * side's watermark passes `view_ts + maxGapSec`, so state is
  * O(arrival rate × window), never O(history). Without the interval
  * condition the same join would accumulate both streams forever; the
  * spec asserts both the match semantics and the physical operator.
  *
  * When both sides are rows of ONE stream, [[browseToRead]] pairs them
  * with one keyed stateful operator instead: one scan, one parse and one
  * state store per partition, where the join reads its source once per
  * side and keeps four.
  */
object EventJoinStream {

  /** Join views to same-user purchases within (0, maxGapSec] after the
    * view. Inner join: matches emit as soon as both rows arrived;
    * watermarks bound the buffered state, delayed rows past them drop.
    */
  def viewToPurchase(views: DataFrame, purchases: DataFrame,
      maxGapSec: Int = 600, watermarkSec: Int = 300): DataFrame = {
    val v = views
      .select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", s"$watermarkSec seconds")
    val p = purchases
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("value"))
      .withWatermark("purchase_ts", s"$watermarkSec seconds")
    v.join(p,
      expr(s"""user_id = p_user_id
               AND purchase_ts > view_ts
               AND purchase_ts <= view_ts + interval $maxGapSec seconds"""))
      .select(col("user_id"), col("view_ts"), col("purchase_ts"), col("value"))
  }

  final case class Hit(user_id: String, ts: Timestamp, browse: Boolean, read: Int)
  final case class Read(ts: Long, value: Int)
  /** A client's buffered browses and reads, event times in ms. */
  final case class Buffered(views: Seq[Long], reads: Seq[Read])
  final case class Match(user_id: String, view_ts: Timestamp, purchase_ts: Timestamp, value: Int)

  /** The browse→read funnel over one stream of parsed log rows
    * (`client_ip`, `ts`, `section_id`, `article_id`): each browse
    * (`section_id` ≠ 0) paired with the same client's reads
    * (`article_id` ≠ 0, the read's article as `value`) in
    * (0, maxGapSec] after it — [[viewToPurchase]]'s predicate and output
    * columns, with both sides taken from the same rows.
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
