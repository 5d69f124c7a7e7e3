package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry
import graft.sources.SessionMemo

/** The batch workload: a fixed named set of `SparkEntry.queries`, each
  * run once in a seeded order, each result fingerprinted and
  * checked against the stored value.
  */
object BatchQueries {

  /** Driver-loop graph operators: many jobs per query. */
  val Loop: Seq[String] = Seq("q_mis", "q_boruvka", "q_triangles")

  /** Single-plan queries: the batch form of the product analytics
    * (parse-bound) and short planning- and scheduling-bound queries.
    */
  val Oneshot: Seq[String] = Seq("q_hot_section", "q_hot_article", "q_client_ip",
    "q_sessionize", "q_dedup_exact", "q_funnel", "q_tpch12", "q_event_paths")

  val All: Seq[String] = Loop ++ Oneshot

  def classOf(q: String): String = if (Loop.contains(q)) "loop" else "oneshot"

  /** Row count plus an order-insensitive hash of the rows. Each row is
    * rendered as its columns (sorted by name, decimals as doubles) cast to
    * string, so a result read back from another engine's parquet with
    * equal values but other physical types gets the same fingerprint.
    */
  def fingerprint(df: DataFrame): String = {
    val named = df.columns.zipWithIndex.sortBy(_._1)
    val pos = df.toDF(df.columns.indices.map(i => s"_c$i"): _*)
    val parts = named.map { case (_, i) =>
      val c = col(s"_c$i")
      val v = df.schema(i).dataType match {
        case _: DecimalType => c.cast("double")
        case _ => c
      }
      coalesce(v.cast("string"), lit("\u0000"))
    }
    val row = pos.select(xxhash64(concat_ws("\u0001", parts.toIndexedSeq: _*))
      .cast("decimal(38,0)").as("h"))
    val r = row.agg(count(lit(1)), sum(col("h"))).head()
    val h = if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString
    s"${r.getLong(0)}:$h"
  }

  def loadExpected(path: java.nio.file.Path): Map[String, String] =
    scala.io.Source.fromFile(path.toFile).getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> a(1)).toMap

  final case class QueryRun(name: String, start: Double, buildEnd: Double, end: Double,
      ok: Boolean, persistedLeft: Int, storageLeft: Long) {
    def wallS: Double = (end - start) / 1000
  }

  final case class Pass(runs: Seq[QueryRun]) {
    def total: Double = runs.map(_.wallS).sum
  }

  /** Run one pass over `order`; a thrown or mismatched query is named on
    * stderr and marked not ok.
    */
  def pass(spark: SparkSession, rec: Recorder, sf: String, order: Seq[String],
      expected: Map[String, String]): Pass = Pass(order.map { q =>
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    sc.setLocalProperty(rec.RequestKey, q)
    val t0 = Telemetry.nowMs()
    var tb = t0
    val ok =
      try {
        val df = SparkEntry.queries(q)(spark, sf)
        tb = Telemetry.nowMs()
        val fp = fingerprint(df)
        val want = expected.getOrElse(q, "")
        if (fp != want) Console.err.println(s"perfbench: FAILED $q: fingerprint $fp, expected $want")
        fp == want
      } catch {
        case e: Throwable =>
          Console.err.println(s"perfbench: FAILED $q: threw $e")
          false
      }
    val t1 = Telemetry.nowMs()
    sc.setLocalProperty(rec.RequestKey, null)
    val held = sc.getRDDStorageInfo.map(_.memSize).sum
    QueryRun(q, t0, tb, t1, ok, math.max(0, sc.getPersistentRDDs.size - before), held)
  })

  final case class Outcome(pass: Pass, memo: Seq[(String, Double, Double)], cpuS: Double)

  /** One pass over every query in a seeded order. Only a traced run
    * records memo builds: recording makes each persisted memo pay an
    * eager `count()`, which the untimed product path never does.
    */
  def run(spark: SparkSession, rec: Recorder, sf: String, seed: Long,
      expected: Map[String, String], traced: Boolean): Outcome = {
    val memo = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Double)]()
    @volatile var polling = traced
    // memo builds log (key, seconds) when they finish; stamping the end
    // here places each build span on the timeline to within the period
    val poller = new Thread(() => while (polling) {
      val now = Telemetry.nowMs()
      SessionMemo.drainBuildLog().foreach { case (k, s) => memo.add((k, now - s * 1000, now)) }
      Thread.sleep(2)
    }, "perfbench-memo-poller")
    poller.setDaemon(true)
    if (traced) {
      SessionMemo.record(true)
      SessionMemo.drainBuildLog()
      poller.start()
    }
    val cpu0 = Telemetry.cpuSeconds()
    val order = new scala.util.Random(seed).shuffle(All)
    val p = pass(spark, rec, sf, order, expected)
    val cpu = Telemetry.cpuSeconds() - cpu0
    if (traced) {
      polling = false
      poller.join()
      SessionMemo.record(false)
    }
    import scala.jdk.CollectionConverters._
    Outcome(p, memo.asScala.toSeq, cpu)
  }

  private def within(r: QueryRun, t: Double) = t >= r.start && t <= r.end

  /** The jobs and tasks a query run started. */
  private def jobsOf(rec: Recorder, r: QueryRun): Seq[JobRec] =
    rec.jobSeq.filter(j => j.request == r.name && within(r, j.start.toDouble))
  private def tasksOf(rec: Recorder, r: QueryRun): Seq[TaskRec] =
    rec.taskSeq.filter(t => t.request == r.name && within(r, t.launch.toDouble))

  /** Per-layer numbers of the pass, by query class. */
  def layers(rec: Recorder, o: Outcome): Map[String, Double] = {
    val runs = o.pass.runs
    val tasks = runs.map(r => r.name -> tasksOf(rec, r)).toMap
    val plans = rec.planSeq
    def perClass(cls: String): Map[String, Double] = {
      val rs = runs.filter(r => classOf(r.name) == cls)
      val names = rs.map(_.name).toSet
      val ts = rs.flatMap(r => tasks.getOrElse(r.name, Nil))
      Map(
        s"$cls.wall_s" -> rs.map(_.wallS).sum,
        s"$cls.jobs" -> rs.map(r => jobsOf(rec, r).size).sum.toDouble,
        s"$cls.stages" -> rec.stages(names.contains).toDouble,
        s"$cls.tasks" -> ts.size.toDouble,
        s"$cls.task_s" -> ts.map(_.runMs).sum / 1000.0,
        s"$cls.idle_s" -> rs.map { r =>
          val busy = Span.covered(r.start, r.end,
            tasks.getOrElse(r.name, Nil).map(t => (t.launch.toDouble, t.finish.toDouble)))
          (r.end - r.start - busy) / 1000
        }.sum,
        s"$cls.plan_ms" -> rs.map(r => plans.filter(p => within(r, p.start.toDouble))
          .map(p => p.end - p.start).sum).sum.toDouble,
        s"$cls.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
        s"$cls.spill_bytes" -> ts.map(_.spill).sum.toDouble,
        s"$cls.cached_rdds_left" -> rs.map(_.persistedLeft).sum.toDouble)
    }
    perClass("loop") ++ perClass("oneshot") + (
      "sources.memo_build_s" -> o.memo.filter { case (_, s, _) =>
        runs.exists(r => within(r, s)) }.map { case (_, s, e) => (e - s) / 1000 }.sum)
  }

  /** Spans of the pass: each query with its build and exec phases,
    * and the memo builds, planning phases and Spark jobs inside them.
    */
  def spans(rec: Recorder, o: Outcome): Seq[Span] = {
    val out = scala.collection.mutable.ArrayBuffer[Span]()
    val plans = rec.planSeq
    o.pass.runs.foreach { r =>
      val root = Span(out.size, "query", "queries", r.name, -1, r.start, r.end)
      val build = Span(root.id + 1, "build", "queries", r.name, root.id, r.start, r.buildEnd)
      val exec = Span(root.id + 2, "exec", "queries", r.name, root.id, r.buildEnd, r.end)
      out ++= Seq(root, build, exec)
      val memos = o.memo.filter { case (_, s, _) => s >= r.start && s < r.end }.map { case (k, s, e) =>
        val parent = if (s < r.buildEnd) build.id else exec.id
        val m = Span(out.size, s"memo $k", "sources", r.name, parent, s, e)
        out += m
        m
      }
      def parentOf(s: Double) = memos.find(m => s >= m.start && s < m.end).map(_.id)
        .getOrElse(if (s < r.buildEnd) build.id else exec.id)
      plans.filter(p => p.start >= r.start && p.start < r.end).foreach { p =>
        out += Span(out.size, s"plan ${p.phase}", "planning", r.name, parentOf(p.start.toDouble),
          p.start.toDouble, p.end.toDouble)
      }
      jobsOf(rec, r).foreach { j =>
        out += Span(out.size, s"job ${j.id}", "engine", r.name, parentOf(j.start.toDouble),
          j.start.toDouble, j.end.toDouble)
      }
    }
    out.toSeq
  }
}
