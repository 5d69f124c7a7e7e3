package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.logs.LogParser

/** Benchmark entry point.
  *
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <sf dir> --work <scratch dir> --expected <tsv> [--trace-out <jsonl>]`
  *
  * Prints one JSON result as the last line of stdout. With `--trace 0`
  * its metrics are the end-to-end ones; with `--trace 1` the per-layer
  * ones, and the spans go to `--trace-out`.
  */
object Main {

  final case class Metric(name: String, unit: String)

  val EndToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s"), Metric("wall_s", "s"), Metric("heap_live_mb", "MB"))

  val PerLayer: Seq[Metric] = Seq(
    "streaming.queries" -> "count", "streaming.source_rows_per_line" -> "ratio",
    "streaming.triggers" -> "count", "streaming.add_batch_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_mem_bytes" -> "bytes",
    "streaming.state_commit_ms" -> "ms", "streaming.jobs" -> "count",
    "streaming.tasks" -> "count", "streaming.shuffle_write_bytes" -> "bytes",
    "streaming.cached_rdds_left" -> "count", "stream.lines_per_s" -> "lines/s",
    "logs.parse_ns_per_line" -> "ns",
    "loop.wall_s" -> "s", "loop.jobs" -> "count", "loop.stages" -> "count",
    "loop.tasks" -> "count", "loop.task_s" -> "s", "loop.idle_s" -> "s",
    "loop.plan_ms" -> "ms", "loop.shuffle_read_bytes" -> "bytes",
    "loop.spill_bytes" -> "bytes", "loop.cached_rdds_left" -> "count",
    "oneshot.wall_s" -> "s", "oneshot.jobs" -> "count", "oneshot.stages" -> "count",
    "oneshot.tasks" -> "count", "oneshot.task_s" -> "s", "oneshot.idle_s" -> "s",
    "oneshot.plan_ms" -> "ms", "oneshot.shuffle_read_bytes" -> "bytes",
    "oneshot.spill_bytes" -> "bytes", "oneshot.cached_rdds_left" -> "count",
    "sources.memo_build_s" -> "s",
    "self.queries_s" -> "s", "self.planning_s" -> "s", "self.engine_s" -> "s",
    "self.sources_s" -> "s", "self.streaming_s" -> "s", "trace.wall_s" -> "s",
    "process.cpu_s" -> "s", "process.peak_rss_mb" -> "MB")
    .map { case (n, u) => Metric(n, u) }

  val Workloads = Seq("stream_replay", "batch_queries")

  def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def session(): SparkSession = {
    val cores = math.min(4, Telemetry.nproc).toString
    GraftSession.build(s"local[$cores]", cores, logLevel = "ERROR", appName = "perfbench")
  }

  /** Shared first-use costs paid before anything is timed: JIT, codegen,
    * the log parser, parquet reads, shuffle and broadcast.
    */
  def warmUp(spark: SparkSession, data: String): Unit = {
    import spark.implicits._
    spark.range(1 << 20).selectExpr("sum(id * 2)").collect()
    val t = new Traffic(0)
    val lines = Seq.fill(2000)(t.line()).toDF("line")
    LogParser.accessTuples(lines).groupBy("section_id").count().collect()
    val n = graft.sources.Tables.nation(spark, data)
    n.join(broadcast(n.limit(5).select("n_nationkey")), "n_nationkey").groupBy("n_regionkey").count().collect()
  }

  /** `logs.parse_ns_per_line`: parse-and-filter count over cached lines
    * minus a bare count of the same lines, per line; median of three.
    */
  def parseNsPerLine(spark: SparkSession, seed: Long, n: Int = 100000): Double = {
    import spark.implicits._
    val t = new Traffic(seed)
    val lines = Seq.fill(n)(t.line()).toDF("line").cache()
    lines.count()
    def time(f: => Long): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble }
    val ns = (1 to 3).map { _ =>
      val bare = time(lines.count())
      time(LogParser.accessTuples(lines).count()) - bare
    }
    lines.unpersist(blocking = true)
    Telemetry.median(ns) / n
  }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.lang.Double.toString(x)

  def resultJson(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(Metric, Double)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (m, v) => s""""${m.name}": {"value": ${num(v)}, "unit": "${m.unit}"}""" }
        .mkString(", ") + "}}"

  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val self = Span.selfTimes(spans)
    spans.groupBy(_.layer).map { case (layer, ss) => s"self.${layer}_s" -> ss.map(s => self(s.id)).sum / 1000 }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val started = System.nanoTime()
    val workload = o.getOrElse("workload", "")
    if (!Workloads.contains(workload)) {
      Console.err.println(s"perfbench: unknown workload '$workload' (one of ${Workloads.mkString(", ")})")
      sys.exit(2)
    }
    val seed = o("seed").toLong
    val seconds = o("seconds").toInt
    val traced = o.getOrElse("trace", "0") == "1"
    val data = o("data")
    val work = Files.createDirectories(Paths.get(o("work")))
    val loadBefore = Telemetry.loadavg()

    // the set-up a real launch pays: a cold session build, then warm-up
    val t0 = System.nanoTime()
    val spark = session()
    warmUp(spark, data)
    val setupS = (System.nanoTime() - t0) / 1e9
    val rec = new Recorder(spark, traced)

    val traceLines = scala.collection.mutable.ArrayBuffer[String]()
    val (attempted, failed, wall, cpu, heap, layers, spans, notes) = workload match {
      case "batch_queries" =>
        val expected = BatchQueries.loadExpected(Paths.get(o("expected")))
        val b = BatchQueries.run(spark, rec, data, seed, expected, traced)
        val runs = b.pass.runs
        runs.foreach { r =>
          traceLines += f"""{"query":"${r.name}","class":"${BatchQueries.classOf(r.name)}",""" +
            f""""wall_s":${r.wallS}%.4f,"build_s":${(r.buildEnd - r.start) / 1000}%.4f,"ok":${r.ok},""" +
            f""""persisted_rdds_left":${r.persistedLeft},"storage_bytes_held":${r.storageLeft}}"""
        }
        (runs.size, runs.count(!_.ok), b.pass.total, b.cpuS, Telemetry.heapLiveMb(),
          BatchQueries.layers(rec, b),
          if (traced) BatchQueries.spans(rec, b) else Nil, Map.empty[String, String])
      case _ =>
        val s = Streams.replay(spark, rec, seed, seconds, work, new Traffic(seed))
        (s.attempted, s.failed, s.wallS, s.cpuS, s.heapLiveMb, s.layers,
          if (traced) s.spans else Nil,
          Map("stream_queries" -> s.queries.toString, "lines" -> s.lines.toString,
            "persisted_rdds_left" -> spark.sparkContext.getPersistentRDDs.size.toString,
            "storage_bytes_held" -> spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum.toString))
    }
    val loadAfter = Telemetry.loadavg()
    Console.err.println(s"perfbench: telemetry workload=$workload seed=$seed nproc=${Telemetry.nproc} " +
      s"load_before=[$loadBefore] load_after=[$loadAfter] " +
      f"setup_s=$setupS%.3f run_s=${(System.nanoTime() - started) / 1e9}%.1f " + notes.map { case (k, v) => s"$k=$v" }.mkString(" "))

    val metrics: Seq[(Metric, Double)] =
      if (!traced) {
        val v = Map("setup_s" -> setupS, "wall_s" -> wall,
          "heap_live_mb" -> heap)
        EndToEnd.map(m => m -> v(m.name))
      } else {
        val all = layers ++ selfTimes(spans) ++ Map(
          "logs.parse_ns_per_line" -> parseNsPerLine(spark, seed), "trace.wall_s" -> wall,
          "process.cpu_s" -> cpu, "process.peak_rss_mb" -> Telemetry.peakRssMb())
        o.get("trace-out").foreach { p =>
          val out = Paths.get(p)
          Files.createDirectories(out.toAbsolutePath.getParent)
          Files.write(out, (spans.map(Span.json) ++ traceLines).mkString("", "\n", "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        PerLayer.map(m => m -> all.getOrElse(m.name, 0.0))
      }
    rec.close()
    spark.stop()
    println(resultJson(failed == 0, attempted, failed, metrics))
  }
}
