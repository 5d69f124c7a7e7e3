package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the trace. Times are epoch milliseconds.
  * `request` groups the spans of one batch query (its name) or of one
  * streaming trigger (`<query id>/<batch id>`).
  */
final case class Span(id: Int, name: String, layer: String, request: String,
    parent: Int, start: Double, end: Double) {
  def dur: Double = end - start
}

object Span {

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(lo: Double, hi: Double, intervals: Iterable[(Double, Double)]): Double = {
    val clipped = intervals.map { case (s, e) => (s max lo, e min hi) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - covered(s.start, s.end,
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))))
    }.toMap
  }

  def json(s: Span): String =
    f"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","request":"${s.request}",""" +
      f""""parent":${s.parent},"start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}"""
}

/** Events seen by the Spark listeners the benchmark registers. */
final case class JobRec(id: Int, request: String, start: Long, end: Long)
final case class TaskRec(request: String, launch: Long, finish: Long, runMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long)
final case class PlanRec(start: Long, end: Long, phase: String)
final case class ProgressRec(query: String, batch: Long, start: Long,
    durations: Map[String, Long], sourceRows: Seq[Long],
    stateRows: Long, stateMem: Long, stateCommitMs: Long) {
  def end: Long = start + durations.getOrElse("triggerExecution", 0L)
  def inputRows: Long = sourceRows.sum
}

/** Registers Spark's own listeners and keeps what they report in memory.
  *
  * The streaming-progress listener is always on: the stream workload
  * checks its drain with it. The job, task and query-execution listeners
  * are on only for a traced run.
  */
final class Recorder(spark: SparkSession, traced: Boolean) {
  private val progress = new ConcurrentLinkedQueue[ProgressRec]()
  private val terminated = new java.util.concurrent.atomic.AtomicInteger(0)
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val stageRequest = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageCount = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()

  /** Local property naming the batch query a job belongs to. */
  val RequestKey = "perfbench.request"

  private def requestOf(props: java.util.Properties): String =
    if (props == null) ""
    else Option(props.getProperty(RequestKey)).orElse(
      Option(props.getProperty("sql.streaming.queryId")).map(q =>
        s"$q/${Option(props.getProperty("streaming.sql.batchId")).getOrElse("")}"))
      .getOrElse("")

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      progress.add(ProgressRec(p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.sources.toSeq.map(_.numInputRows),
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum))
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, (requestOf(e.properties), e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (r, t) => jobs.add(JobRec(e.jobId, r, t, e.time)) }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val r = requestOf(e.properties)
      stageRequest.put(e.stageInfo.stageId, r)
      stageCount.merge(r, 1, _ + _)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      tasks.add(TaskRec(stageRequest.getOrDefault(e.stageId, ""), i.launchTime, i.finishTime,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, s) => plans.add(PlanRec(s.startTimeMs, s.endTimeMs, phase)) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.streams.addListener(streamListener)
  if (traced) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def stages(request: String => Boolean): Int =
    stageCount.asScala.collect { case (r, n) if request(r) => n }.sum

  def progressSeq: Seq[ProgressRec] = progress.asScala.toSeq
  def jobSeq: Seq[JobRec] = jobs.asScala.toSeq
  def taskSeq: Seq[TaskRec] = tasks.asScala.toSeq
  def planSeq: Seq[PlanRec] = plans.asScala.toSeq

  /** Wait until the listener bus has delivered what already happened:
    * `expectTerminated` query terminations and the end of every started
    * job (events arrive asynchronously, shortly after the fact).
    */
  def settle(expectTerminated: Int = 0, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline &&
        (terminated.get < expectTerminated || !jobStart.isEmpty)) Thread.sleep(20)
    Thread.sleep(200)
  }

  def close(): Unit = {
    spark.streams.removeListener(streamListener)
    if (traced) {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
    }
  }
}
