package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.LogAnalysisApp
import graft.sources.LogSources

/** The stream workload: the product pipeline driven through its public
  * entry points (`LogAnalysisApp.start` + `startMonitors`) over a
  * file-arrival `readStream` built here, drained and stopped through
  * `spark.streams.active` only.
  *
  * Every file is in place before the queries start and each trigger takes
  * one file: a closed loop, the next batch starts when the previous one
  * is done.
  */
object Streams {

  /** Input lines per `--seconds`, split into `ReplayFiles` files. */
  val ReplayLinesPerSecond = 6000
  val ReplayFiles = 4

  final case class Outcome(attempted: Int, failed: Int, wallS: Double, cpuS: Double,
      heapLiveMb: Double, lines: Long, layers: Map[String, Double],
      spans: Seq[Span], queries: Int)

  def sectionDim(spark: SparkSession, p: TrafficParams): DataFrame = {
    import spark.implicits._
    (1 to p.sections).map(i => (i.toLong, Traffic.sectionName(i))).toDF("fid", "name")
  }

  def articleDim(spark: SparkSession, p: TrafficParams): DataFrame = {
    import spark.implicits._
    (1 to p.articles).map(i => (i.toLong, Traffic.articleSubject(i))).toDF("tid", "subject")
  }

  /** Historical per-trigger volumes for the volume alarm: values around
    * one file's worth of lines, so the alarm computes but rarely fires.
    */
  def refVolumes(spark: SparkSession, around: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val r = new scala.util.Random(seed)
    (1 to 48).map(_ => around + r.nextInt((around / 5 + 1).toInt)).toDF("x")
  }

  /** Start the product pipeline and the monitors on `lines`; return the
    * pipeline handle, whose sinks the checks read.
    */
  def launch(spark: SparkSession, lines: DataFrame, p: TrafficParams,
      volume: Long, seed: Long, root: Path): LogAnalysisApp.Pipelines = {
    val app = LogAnalysisApp.start(spark, lines, sectionDim(spark, p), articleDim(spark, p),
      root.resolve("ckpt").toString)
    LogAnalysisApp.startMonitors(spark, lines, refVolumes(spark, volume, seed),
      root.resolve("ckpt").toString)
    app
  }

  def stopAll(spark: SparkSession): Int = {
    val qs = spark.streams.active.toSeq
    qs.foreach(_.stop())
    qs.foreach(_.awaitTermination(30000))
    qs.size
  }

  /** Compare the three product sinks with the generator's tally; return
    * the names of the sinks that disagree.
    */
  def checkSinks(app: LogAnalysisApp.Pipelines, t: Tally): Seq[String] = {
    def rows(snap: Map[Seq[Any], Seq[Any]]): Seq[(Long, String, Long)] =
      snap.values.map(v => (v(0).toString.toLong, v(1).toString, v(2).toString.toLong))
        .toSeq.sortBy { case (id, _, n) => (-n, id) }
    val wantSections = t.top(t.section, 10).map { case (id, n) => (id, Traffic.sectionName(id), n) }
    val wantArticles = t.top(t.article, 10).map { case (id, n) => (id, Traffic.articleSubject(id), n) }
    val gotClients = app.clientSink.snapshot.values.map(v => v(0).toString -> v(1).toString.toLong).toMap
    Seq(
      "sink:hot_section" -> (rows(app.sectionSink.snapshot) == wantSections),
      "sink:hot_article" -> (rows(app.articleSink.snapshot) == wantArticles),
      "sink:client_ip" -> (gotClients == t.clients))
      .collect { case (name, false) => name }
  }

  /** One file per trigger, so the trigger count is `ReplayFiles`. */
  private def readStream(spark: SparkSession, dir: Path): DataFrame =
    spark.readStream.schema(LogSources.LineSchema).option("maxFilesPerTrigger", "1")
      .text(dir.toString).toDF("line")

  /** Each of `queries` queries has read `lines` rows on every source. */
  private def drained(progress: Seq[ProgressRec], queries: Int, lines: Long): Boolean = {
    val perQuery = progress.groupBy(_.query).values
    perQuery.size == queries && perQuery.forall { ps =>
      ps.flatMap(_.sourceRows.zipWithIndex).groupBy(_._2).values.forall(_.map(_._1).sum >= lines)
    }
  }

  def replay(spark: SparkSession, rec: Recorder, seed: Long, seconds: Int,
      root: Path, traffic: Traffic): Outcome = {
    val perFile = ReplayLinesPerSecond * seconds / ReplayFiles
    val in = root.resolve("in")
    traffic.writeFiles(in, ReplayFiles, perFile)
    val lines = traffic.tally.lines
    val cpu0 = Telemetry.cpuSeconds()
    val t0 = System.nanoTime()
    val app = launch(spark, readStream(spark, in), traffic.p, perFile, seed, root)
    spark.streams.active.foreach(_.processAllAvailable())
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Telemetry.cpuSeconds() - cpu0
    val n = stopAll(spark)
    rec.settle(expectTerminated = n)
    val failures = checkSinks(app, traffic.tally) ++
      (if (drained(rec.progressSeq, n, lines)) Nil else Seq("drain"))
    failures.foreach(f => Console.err.println(s"perfbench: FAILED $f"))
    // measured while the sinks are still held
    val heap = Telemetry.heapLiveMb()
    Outcome(4, failures.size, wall, cpu, heap, lines,
      layers(spark, rec, lines) + ("stream.lines_per_s" -> lines / wall),
      spans(rec), n)
  }

  /** Per-layer numbers of a stream run, from the listeners. */
  def layers(spark: SparkSession, rec: Recorder, lines: Long): Map[String, Double] = {
    val ps = rec.progressSeq
    val last = ps.groupBy(_.query).values.map(_.maxBy(_.batch))
    def sumDur(k: String) = ps.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val streamTasks = rec.taskSeq.filter(_.request.contains("/"))
    Map(
      "streaming.queries" -> ps.map(_.query).distinct.size.toDouble,
      "streaming.source_rows_per_line" -> ps.map(_.inputRows).sum.toDouble / lines,
      "streaming.triggers" -> ps.size.toDouble,
      "streaming.add_batch_ms" -> sumDur("addBatch"),
      "streaming.latest_offset_ms" -> sumDur("latestOffset"),
      "streaming.query_planning_ms" -> sumDur("queryPlanning"),
      "streaming.wal_commit_ms" -> sumDur("walCommit"),
      "streaming.commit_offsets_ms" -> sumDur("commitOffsets"),
      "streaming.state_rows" -> last.map(_.stateRows).sum.toDouble,
      "streaming.state_mem_bytes" -> last.map(_.stateMem).sum.toDouble,
      "streaming.state_commit_ms" -> ps.map(_.stateCommitMs).sum.toDouble,
      "streaming.jobs" -> rec.jobSeq.count(_.request.contains("/")).toDouble,
      "streaming.tasks" -> streamTasks.size.toDouble,
      "streaming.shuffle_write_bytes" -> streamTasks.map(_.shuffleWrite).sum.toDouble,
      "streaming.cached_rdds_left" -> spark.sparkContext.getPersistentRDDs.size.toDouble)
  }

  /** Execution order of the trigger phases `durationMs` reports. */
  private val PhaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  /** Spans of every trigger: the trigger, its phases laid end to end
    * from the trigger's start in execution order (the progress reports
    * durations only), and the Spark jobs each trigger ran.
    */
  def spans(rec: Recorder): Seq[Span] = {
    val out = scala.collection.mutable.ArrayBuffer[Span]()
    val jobsBy = rec.jobSeq.groupBy(_.request)
    rec.progressSeq.sortBy(p => (p.start, p.query)).foreach { p =>
      val req = s"${p.query}/${p.batch}"
      val root = Span(out.size, "trigger", "streaming", req, -1, p.start, p.end)
      out += root
      var at = p.start.toDouble
      var addBatch = root.id
      PhaseOrder.filter(p.durations.contains).foreach { k =>
        val d = p.durations(k).toDouble
        val s = Span(out.size, k, "streaming", req, root.id, at, at + d)
        if (k == "addBatch") addBatch = s.id
        out += s
        at += d
      }
      jobsBy.getOrElse(req, Nil).foreach { j =>
        out += Span(out.size, s"job ${j.id}", "engine", req, addBatch, j.start, j.end)
      }
    }
    out.toSeq
  }
}
