package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.graft.ColumnBridge

/** Lifecycle of the tables a driver-loop operator materializes.
  *
  * [[scoped]] runs a body with a [[Scope]] that tracks every eager
  * checkpoint and every cache the body takes through it, and releases
  * whatever is still tracked in `finally` — on the normal exit and on an
  * exception alike. Checkpoint blocks are freed through
  * `ColumnBridge.unpersistCheckpoint`: `Dataset.unpersist` on a
  * `localCheckpoint` result releases nothing.
  *
  * The one exception is a table that backs the returned lazy plan: the
  * body hands it out with [[Scope.keep]], and it lives until the
  * ContextCleaner collects the orphaned RDD.
  */
object Checkpoints {

  /** Row count up to which [[gatedBroadcast]] broadcasts: ~64 MB at
    * ~16 B per row of the node- and frontier-sized tables it gates.
    */
  val BroadcastMaxRows = 4000000L

  /** `broadcast(df)` when its known row count `rows` is at most
    * [[BroadcastMaxRows]]; past it the planner's shuffle join is the
    * fallback.
    */
  def gatedBroadcast(df: DataFrame, rows: Long): DataFrame =
    if (rows <= BroadcastMaxRows) broadcast(df) else df

  /** Runs `body` with a fresh [[Scope]] and releases whatever the scope
    * still tracks when `body` returns or throws.
    */
  def scoped[T](body: Scope => T): T = {
    val s = new Scope
    try body(s)
    finally s.close()
  }

  final class Scope private[Checkpoints] {
    // (the frame the body reads, how to free what backs it)
    private val held = scala.collection.mutable.ArrayBuffer.empty[(DataFrame, () => Unit)]

    private def track(df: DataFrame, free: () => Unit): DataFrame = {
      held += ((df, free))
      df
    }

    private def trackCheckpoint(df: DataFrame, c: DataFrame): DataFrame =
      track(df, () => ColumnBridge.unpersistCheckpoint(c))

    private def untrack(df: DataFrame): Option[() => Unit] = {
      val i = held.indexWhere(_._1 eq df)
      if (i < 0) None else Some(held.remove(i)._2)
    }

    /** Eager `localCheckpoint` of `df`. */
    def checkpoint(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true)
      trackCheckpoint(c, c)
    }

    /** [[checkpoint]], then a fresh frame over the checkpoint's rows.
      * Spark 4 carries a checkpointed plan's originStats into the
      * `LogicalRDD`, so a self-join over checkpoints SQUARES the size
      * estimate each round; by round 4 the BigInt statistic has ~2²⁴
      * bits and the driver stalls in BigInteger.multiply (minutes per
      * pointer jump at sf0.01). `createDataFrame(rdd,
      * schema)` resets the statistics to the bounded default as well as
      * the lineage.
      */
    def rebase(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true)
      trackCheckpoint(df.sparkSession.createDataFrame(c.rdd, df.schema), c)
    }

    /** `df.persist()` (lazy, MEMORY_AND_DISK), uncached with the scope. */
    def persist(df: DataFrame): DataFrame =
      track(df.persist(), () => df.unpersist(blocking = false))

    /** Frees `df` now when this scope tracks it (a superseded loop
      * table); a no-op for a frame the scope does not own, such as a
      * caller-owned input or a lazy initial state.
      */
    def release(df: DataFrame): Unit = untrack(df).foreach(_())

    /** Stops tracking `df` and returns it: it backs the returned lazy
      * plan, so it must outlive the scope.
      */
    def keep(df: DataFrame): DataFrame = {
      untrack(df)
      df
    }

    private[Checkpoints] def close(): Unit = {
      held.foreach(_._2())
      held.clear()
    }
  }
}
