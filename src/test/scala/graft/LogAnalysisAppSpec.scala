package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** End-to-end product pipeline: files arriving in a directory → one
  * streaming query (parse → keyed count) → three upsert sinks (the full
  * reference `LogAnalysis.main` shape, driven by the file source
  * stand-in).
  */
class LogAnalysisAppSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  def line(ip: String, uri: String): String =
    s"""$ip - - [27/Aug/2020:10:20:53 +0800] "GET $uri HTTP/1.1" 200 1024 "-" "Mozilla/5.0""""

  def tline(ip: String, time: String, uri: String): String =
    s"""$ip - - [27/Aug/2020:$time +0800] "GET $uri HTTP/1.1" 200 1024 "-" "Mozilla/5.0""""

  /** Section sink rows in rank order: count desc, then id asc. */
  def sectionRanks(p: LogAnalysisApp.Pipelines): Seq[(Long, Long)] =
    p.sectionSink.snapshot.values.toSeq
      .map(v => (v.head.toString.toLong, v.last.asInstanceOf[Long]))
      .sortBy { case (id, n) => (-n, id) }

  test("file-stream end to end: three sinks fill and upsert across batches") {
    import spark.implicits._
    val logDir = Files.createTempDirectory("graft-logs").toFile
    val ckpt = Files.createTempDirectory("graft-ckpt").toString

    val sectionDim = Seq((3L, "tech"), (5L, "life")).toDF("fid", "name")
    val articleDim = Seq((9L, "post nine"), (7L, "post seven")).toDF("tid", "subject")

    Files.writeString(new java.io.File(logDir, "b1.log").toPath, Seq(
      line("10.0.0.1", "/forum.php?mod=forumdisplay&fid=3"),
      line("10.0.0.1", "/forum.php?mod=viewthread&tid=9"),
      line("10.0.0.2", "/forum.php?mod=forumdisplay&fid=5"),
      "### not a log line ###").mkString("\n"))

    val before = spark.streams.active.map(_.id).toSet
    val p = LogAnalysisApp.start(spark,
      graft.sources.LogSources.textStreamLines(spark, logDir.toString),
      sectionDim, articleDim, ckpt)
    try {
      assert(spark.streams.active.map(_.id).toSet -- before == Set(p.query.id))
      p.query.processAllAvailable()
      assert(p.sectionSink.snapshot.size == 2)
      assert(p.articleSink.snapshot.keySet == Set(Seq(9L)))
      assert(p.clientSink.snapshot(Seq("10.0.0.1")).last == 2L)
      // b1: fid3=1, fid5=1 — tie broken by id asc
      assert(sectionRanks(p) == Seq((3L, 1L), (5L, 1L)))

      Files.writeString(new java.io.File(logDir, "b2.log").toPath, Seq(
        line("10.0.0.1", "/forum.php?mod=forumdisplay&fid=3"),
        line("10.0.0.3", "/forum.php?mod=viewthread&tid=7")).mkString("\n"))
      p.query.processAllAvailable()

      val sec3 = p.sectionSink.snapshot(Seq(3L))
      assert(sec3.contains("tech") && sec3.last == 2L) // upserted count grew
      assert(p.articleSink.snapshot.keySet == Set(Seq(9L), Seq(7L)))
      assert(p.clientSink.snapshot(Seq("10.0.0.3")).last == 1L)
      assert(sectionRanks(p) == Seq((3L, 2L), (5L, 1L)))

      // b3: two more fid5 hits flip the ranking
      Files.writeString(new java.io.File(logDir, "b3.log").toPath, Seq(
        line("10.0.0.4", "/forum.php?mod=forumdisplay&fid=5"),
        line("10.0.0.5", "/forum.php?mod=forumdisplay&fid=5")).mkString("\n"))
      p.query.processAllAvailable()
      assert(sectionRanks(p) == Seq((5L, 3L), (3L, 2L)))

      // every line written (the unparseable one included) was read once
      assert(p.query.recentProgress.map(_.numInputRows).sum == 8L)
    } finally p.query.stop()
  }

  test("checkpoint recovery: restart resumes aggregate state, no double counting") {
    import spark.implicits._
    val logDir = Files.createTempDirectory("graft-logs-r").toFile
    val ckpt = Files.createTempDirectory("graft-ckpt-r").toString
    val sectionDim = Seq((3L, "tech")).toDF("fid", "name")
    val articleDim = Seq((9L, "post nine")).toDF("tid", "subject")

    Files.writeString(new java.io.File(logDir, "b1.log").toPath,
      Seq(line("10.0.0.1", "/forum.php?mod=forumdisplay&fid=3"),
        line("10.0.0.1", "/forum.php?mod=forumdisplay&fid=3")).mkString("\n"))
    val p1 = LogAnalysisApp.start(spark,
      graft.sources.LogSources.textStreamLines(spark, logDir.toString),
      sectionDim, articleDim, ckpt)
    try {
      p1.query.processAllAvailable()
      assert(p1.sectionSink.snapshot(Seq(3L)).last == 2L)
    } finally p1.query.stop()

    // restart from the same checkpoint with fresh sinks; add one more hit
    Files.writeString(new java.io.File(logDir, "b2.log").toPath,
      line("10.0.0.2", "/forum.php?mod=forumdisplay&fid=3"))
    val p2 = LogAnalysisApp.start(spark,
      graft.sources.LogSources.textStreamLines(spark, logDir.toString),
      sectionDim, articleDim, ckpt)
    try {
      p2.query.processAllAvailable()
      // 2 (restored from StateStore) + 1 (new file); b1 not re-consumed
      assert(p2.sectionSink.snapshot(Seq(3L)).last == 3L)
    } finally p2.query.stop()
  }

  test("a batch that fails in publish leaves every sink as it was, and its replay after a restart gives the uninterrupted sinks") {
    import spark.implicits._
    val logDir = Files.createTempDirectory("graft-logs-f").toFile
    val ckpt = Files.createTempDirectory("graft-ckpt-f").toString
    val sectionDim = Seq((3L, "tech"), (5L, "life"), (8L, "news")).toDF("fid", "name")
    // the article dim throws while the flag is set, inside the batch's
    // one collect: no sink is written
    val articleDim = Seq((9L, "post nine"), (7L, "post seven")).toDF("tid", "subject")
      .select($"tid", FailingDim.subject($"subject").as("subject"))
    val files = Seq(
      Seq(line("10.0.0.1", "/forum.php?mod=forumdisplay&fid=3"),
        line("10.0.0.1", "/forum.php?mod=forumdisplay&fid=3"),
        line("10.0.0.2", "/forum.php?mod=forumdisplay&fid=5"),
        line("10.0.0.2", "/forum.php?mod=viewthread&tid=9")),
      // the failing batch: fid3 is not touched again after this point,
      // so only the state seeding can put it back in a fresh sink
      Seq(line("10.0.0.3", "/forum.php?mod=forumdisplay&fid=5"),
        line("10.0.0.3", "/forum.php?mod=viewthread&tid=7")),
      Seq(line("10.0.0.4", "/forum.php?mod=forumdisplay&fid=8"),
        line("10.0.0.1", "/forum.php?mod=viewthread&tid=7")))
    def write(dir: java.io.File, i: Int): Unit =
      Files.writeString(new java.io.File(dir, s"b$i.log").toPath, files(i).mkString("\n"))
    def run(dir: java.io.File, ck: String) = LogAnalysisApp.start(spark,
      graft.sources.LogSources.textStreamLines(spark, dir.toString),
      sectionDim, articleDim, ck)
    def sinks(p: LogAnalysisApp.Pipelines) =
      (p.sectionSink.snapshot, p.articleSink.snapshot, p.clientSink.snapshot)

    write(logDir, 0)
    val p1 = run(logDir, ckpt)
    try {
      p1.query.processAllAvailable()
      val afterBatch0 = sinks(p1)
      write(logDir, 1)
      FailingDim.fail = true
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](p1.query.processAllAvailable())
      assert(sinks(p1) == afterBatch0)
      assert(p1.sectionSink.snapshot(Seq(5L)).last == 1L)
      assert(!p1.articleSink.snapshot.contains(Seq(7L)))
      assert(!p1.clientSink.snapshot.contains(Seq("10.0.0.3")))
    } finally { FailingDim.fail = false; p1.query.stop() }

    write(logDir, 2)
    val p2 = run(logDir, ckpt)
    val resumed = try { p2.query.processAllAvailable(); sinks(p2) } finally p2.query.stop()

    val refDir = Files.createTempDirectory("graft-logs-f-ref").toFile
    files.indices.foreach(write(refDir, _))
    val ref = run(refDir, Files.createTempDirectory("graft-ckpt-f-ref").toString)
    val uninterrupted = try { ref.query.processAllAvailable(); sinks(ref) } finally ref.query.stop()

    assert(resumed == uninterrupted)
    assert(uninterrupted._1(Seq(3L)).last == 2L)
    assert(uninterrupted._2.keySet == Set(Seq(9L), Seq(7L)))
    assert(uninterrupted._3(Seq("10.0.0.1")).last == 3L)
  }

  test("a JDBC dim row inserted after start names its section at the next trigger") {
    import spark.implicits._
    // embedded Derby (ships with Spark), its own database
    val url = "jdbc:derby:memory:graftsectiondim;create=true"
    def sql(statements: String*): Unit = {
      val conn = java.sql.DriverManager.getConnection(url)
      try statements.foreach(conn.createStatement().execute(_)) finally conn.close()
    }
    sql("CREATE TABLE forum_section (fid BIGINT PRIMARY KEY, name VARCHAR(64))",
      "INSERT INTO forum_section VALUES (3, 'tech')")
    val sectionDim = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "forum_section").load()
    val articleDim = Seq((9L, "post nine")).toDF("tid", "subject")
    val logDir = Files.createTempDirectory("graft-logs-j").toFile
    Files.writeString(new java.io.File(logDir, "b0.log").toPath, Seq(
      line("10.0.0.1", "/forum.php?mod=forumdisplay&fid=3"),
      line("10.0.0.2", "/forum.php?mod=forumdisplay&fid=5")).mkString("\n"))
    val p = LogAnalysisApp.start(spark,
      graft.sources.LogSources.textStreamLines(spark, logDir.toString),
      sectionDim, articleDim, Files.createTempDirectory("graft-ckpt-j").toString)
    try {
      p.query.processAllAvailable()
      // fid 5 has no dim row yet: its changelog row drops at the join
      assert(p.sectionSink.snapshot.keySet == Set(Seq(3L)))

      sql("INSERT INTO forum_section VALUES (5, 'life')")
      Files.writeString(new java.io.File(logDir, "b1.log").toPath,
        line("10.0.0.3", "/forum.php?mod=forumdisplay&fid=5"))
      p.query.processAllAvailable()
      assert(p.sectionSink.snapshot(Seq(5L)) == Seq(5, "life", 2L))
    } finally p.query.stop()
  }

  test("each product trigger runs one Spark action and leaves nothing cached") {
    import spark.implicits._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val logDir = Files.createTempDirectory("graft-logs-a").toFile
    val ckpt = Files.createTempDirectory("graft-ckpt-a").toString
    // (action, run on this session rather than the query's clone)
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.add(funcName -> (qe.sparkSession eq spark))
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        actions.add(funcName -> (qe.sparkSession eq spark))
    }
    writeInOrder(logDir, Seq(
      Seq(line("10.0.0.1", "/forum.php?mod=forumdisplay&fid=3"),
        line("10.0.0.1", "/forum.php?mod=viewthread&tid=9")),
      Seq(line("10.0.0.2", "/forum.php?mod=forumdisplay&fid=3"))))
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    // registered before start, so the query's cloned session carries it
    spark.listenerManager.register(listener)
    val p = try LogAnalysisApp.start(spark, oneFilePerTrigger(logDir),
      Seq((3L, "tech")).toDF("fid", "name"), Seq((9L, "post nine")).toDF("tid", "subject"), ckpt)
    finally spark.listenerManager.unregister(listener)
    try p.query.processAllAvailable() finally p.query.stop()
    val batches = p.query.lastProgress.batchId + 1
    assert(batches == 2)
    // a marker action on this session: listener events arrive in order,
    // so once it is seen every product action has been seen
    spark.listenerManager.register(listener)
    try eventually(timeout(Span(30, Seconds))) {
      spark.range(1).collect()
      assert(actions.asScala.exists(_._2))
    } finally spark.listenerManager.unregister(listener)
    assert(actions.asScala.filterNot(_._2).map(_._1).toSeq == Seq.fill(batches.toInt)("collect"))
    assert(p.sectionSink.snapshot(Seq(3L)).last == 2L)
    assert(spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore == Set.empty)
  }

  test("monitors: robust-z volume alarm + browse→read interval join") {
    import spark.implicits._
    val logDir = Files.createTempDirectory("graft-logs-m").toFile
    val ckpt = Files.createTempDirectory("graft-ckpt-m").toString
    // historical per-period volumes: med=14 → m2=28, mad4=8
    val ref = Seq(10L, 12L, 14L, 16L, 18L).toDF("x")

    Files.writeString(new java.io.File(logDir, "b1.log").toPath, Seq(
      tline("10.0.0.1", "10:20:00", "/forum.php?mod=forumdisplay&fid=3"),
      tline("10.0.0.1", "10:25:00", "/forum.php?mod=viewthread&tid=9"), // 300 s after the browse → match
      tline("10.0.0.2", "10:20:30", "/forum.php?mod=viewthread&tid=7"), // read with no prior browse → drop
      tline("10.0.0.1", "10:40:00", "/forum.php?mod=viewthread&tid=7")  // 1200 s > maxGap → drop
    ).mkString("\n"))

    val lines = graft.sources.LogSources.textStreamLines(spark, logDir.toString)
    val before = spark.streams.active.map(_.id).toSet
    val p = LogAnalysisApp.start(spark, lines,
      Seq((3L, "tech")).toDF("fid", "name"), Seq((9L, "post nine")).toDF("tid", "subject"), ckpt)
    val m = LogAnalysisApp.startMonitors(spark, lines, ref, ckpt)
    try {
      // the product query and the funnel; the alarm rides the funnel
      assert(spark.streams.active.map(_.id).toSet -- before == Set(p.query.id, m.funnel.id))
      m.funnel.processAllAvailable()
      // batch 0: 4 parsed rows → z = 1349·|8−28|·1000/8 = 3372500 (< 3.5) — quiet
      eventually(timeout(Span(30, Seconds))) {
        assert(m.alarms.get(0L).contains((4L, Some(3372500L), false)), m.alarms)
      }
      val rows = m.funnelSink.snapshot.values.toSeq
      assert(rows.size == 1, s"expected exactly one funnel match, got $rows")
      assert(rows.head.head == "10.0.0.1" && rows.head.last == 9L)

      // the next data batch: ONE row — 1349·|2−28| = 35074 > 3500·8 → the
      // alarm fires. A no-data watermark batch may run first, so the
      // alarm is the entry with the largest batch id.
      Files.writeString(new java.io.File(logDir, "b2.log").toPath,
        tline("10.0.0.9", "11:00:00", "/forum.php?mod=forumdisplay&fid=5"))
      m.funnel.processAllAvailable()
      eventually(timeout(Span(30, Seconds))) {
        assert(m.alarms.size == 2, m.alarms)
        assert(m.alarms(m.alarms.keys.max) == ((1L, Some(4384250L), true)))
      }
    } finally { p.query.stop(); m.funnel.stop() }
  }

  /** A file-arrival stream over `dir` that takes one file per trigger. */
  def oneFilePerTrigger(dir: java.io.File) =
    spark.readStream.schema(graft.sources.LogSources.LineSchema)
      .option("maxFilesPerTrigger", "1").text(dir.toString).toDF("line")

  /** Write `files` into `dir` as b0.log, b1.log, … with increasing
    * modification times, so a stream takes them in order.
    */
  def writeInOrder(dir: java.io.File, files: Seq[Seq[String]], from: Int = 0): Unit =
    files.zipWithIndex.foreach { case (lines, i) =>
      val f = new java.io.File(dir, s"b${from + i}.log")
      Files.writeString(f.toPath, lines.mkString("\n"))
      f.setLastModified(1600000000000L + (from + i) * 1000L)
    }

  def funnelRows(m: LogAnalysisApp.Monitors): Set[Seq[Any]] = m.funnelSink.snapshot.values.toSet

  test("the funnel reads each line once: one source per progress, input rows equal the lines") {
    import spark.implicits._
    val logDir = Files.createTempDirectory("graft-logs-once").toFile
    val ckpt = Files.createTempDirectory("graft-ckpt-once").toString
    val files = Seq(
      Seq(tline("10.0.0.1", "10:20:00", "/forum.php?mod=forumdisplay&fid=3"),
        tline("10.0.0.1", "10:21:00", "/forum.php?mod=viewthread&tid=9"),
        "### not a log line ###"),
      Seq(tline("10.0.0.2", "10:22:00", "/forum.php?mod=forumdisplay&fid=5"),
        tline("10.0.0.2", "10:23:00", "/index.php")))
    writeInOrder(logDir, files)
    val m = LogAnalysisApp.startMonitors(spark, oneFilePerTrigger(logDir), Seq(10L, 12L).toDF("x"), ckpt)
    try {
      m.funnel.processAllAvailable()
      val progress = m.funnel.recentProgress.toSeq
      assert(progress.nonEmpty && progress.forall(_.sources.length == 1), progress.map(_.prettyJson))
      assert(progress.map(_.numInputRows).sum == files.flatten.size.toLong)
      assert(funnelRows(m).map(_.last) == Set(9))
    } finally m.funnel.stop()
  }

  test("the funnel over event-ordered generated lines equals a batch self-join of the same lines") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val lines = graft.logs.LogGen.logLines(spark, "/root/testdata/sf0.001")
      .orderBy("ts", "event_id").select("line").as[String].collect().toSeq
    val logDir = Files.createTempDirectory("graft-logs-gen").toFile
    writeInOrder(logDir, lines.grouped((lines.size + 2) / 3).toSeq)
    val m = LogAnalysisApp.startMonitors(spark, oneFilePerTrigger(logDir), Seq(10L, 12L).toDF("x"),
      Files.createTempDirectory("graft-ckpt-gen").toString)
    val streamed = try { m.funnel.processAllAvailable(); funnelRows(m) } finally m.funnel.stop()

    val events = graft.logs.LogParser.accessEvents(lines.toDF("line"))
    val views = events.filter($"section_id" =!= 0).select($"client_ip".as("user_id"), $"ts".as("view_ts"))
    val reads = events.filter($"article_id" =!= 0)
      .select($"client_ip", $"ts".as("purchase_ts"), $"article_id".as("value"))
    val batch = views.join(reads, $"user_id" === $"client_ip" && $"purchase_ts" > $"view_ts" &&
        $"purchase_ts" <= $"view_ts" + expr("interval 600 seconds"))
      .select("user_id", "view_ts", "purchase_ts", "value").collect().toSeq.map(_.toSeq)
    // the sink is keyed by (user_id, view_ts, purchase_ts): no two pairs share a key
    assert(batch.map(_.take(3)).distinct.size == batch.size)
    assert(batch.nonEmpty)
    assert(streamed == batch.toSet)
  }

  test("a funnel restarted on its checkpoint keeps a buffered browse and pairs it with a later read") {
    import spark.implicits._
    val ref = Seq(10L, 12L).toDF("x")
    val files = Seq(
      Seq(tline("10.0.0.1", "10:20:00", "/forum.php?mod=forumdisplay&fid=3"),
        tline("10.0.0.2", "10:20:10", "/forum.php?mod=viewthread&tid=7")),
      Seq(tline("10.0.0.1", "10:24:00", "/forum.php?mod=viewthread&tid=9")))
    def run(dir: java.io.File, ck: String) = LogAnalysisApp.startMonitors(spark, oneFilePerTrigger(dir), ref, ck)

    val logDir = Files.createTempDirectory("graft-logs-fr").toFile
    val ckpt = Files.createTempDirectory("graft-ckpt-fr").toString
    writeInOrder(logDir, files.take(1))
    val m1 = run(logDir, ckpt)
    try {
      m1.funnel.processAllAvailable()
      assert(funnelRows(m1).isEmpty) // the browse is buffered, nothing to pair yet
    } finally m1.funnel.stop()

    val m2 = run(logDir, ckpt) // a fresh sink on the same checkpoint
    val resumed = try {
      writeInOrder(logDir, files.drop(1), from = 1)
      m2.funnel.processAllAvailable()
      funnelRows(m2)
    } finally m2.funnel.stop()

    val refDir = Files.createTempDirectory("graft-logs-fr-ref").toFile
    writeInOrder(refDir, files)
    val m3 = run(refDir, Files.createTempDirectory("graft-ckpt-fr-ref").toString)
    val uninterrupted = try { m3.funnel.processAllAvailable(); funnelRows(m3) } finally m3.funnel.stop()

    assert(resumed.map(r => (r.head, r.last)) == Set(("10.0.0.1", 9)))
    assert(resumed == uninterrupted)
  }

  test("the product query and the funnel keep RocksDB state with changelog checkpoints") {
    import spark.implicits._
    val logDir = Files.createTempDirectory("graft-logs-c").toFile
    val ckpt = Files.createTempDirectory("graft-ckpt-c").toString
    Files.writeString(new java.io.File(logDir, "b1.log").toPath, Seq(
      tline("10.0.0.1", "10:20:00", "/forum.php?mod=forumdisplay&fid=3"),
      tline("10.0.0.1", "10:25:00", "/forum.php?mod=viewthread&tid=9")).mkString("\n"))
    // the session default: each entry point must set the provider itself
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    spark.conf.unset("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    val lines = graft.sources.LogSources.textStreamLines(spark, logDir.toString)
    val m = LogAnalysisApp.startMonitors(spark, lines, Seq(10L, 12L).toDF("x"), ckpt)
    val p = LogAnalysisApp.start(spark, lines,
      Seq((3L, "tech")).toDF("fid", "name"), Seq((9L, "post nine")).toDF("tid", "subject"), ckpt)
    try {
      m.funnel.processAllAvailable()
      p.query.processAllAvailable()
    } finally { p.query.stop(); m.funnel.stop() }
    def changelogs(query: String): Seq[java.nio.file.Path] = {
      val stream = Files.walk(java.nio.file.Paths.get(ckpt, query, "state"))
      try stream.iterator().asScala.filter(_.getFileName.toString.endsWith(".changelog")).toSeq
      finally stream.close()
    }
    assert(changelogs("funnel").nonEmpty)
    assert(changelogs("product").nonEmpty)
  }

  test("the application-end hook closes the stopped queries' state stores") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreId, StateStoreProviderId}
    val logDir = Files.createTempDirectory("graft-logs-s").toFile
    val ckpt = Files.createTempDirectory("graft-ckpt-s").toString
    Files.writeString(new java.io.File(logDir, "b1.log").toPath,
      tline("10.0.0.1", "10:20:00", "/forum.php?mod=forumdisplay&fid=3"))
    val p = LogAnalysisApp.start(spark,
      graft.sources.LogSources.textStreamLines(spark, logDir.toString),
      Seq((3L, "tech")).toDF("fid", "name"), Seq((9L, "post nine")).toDF("tid", "subject"), ckpt)
    try p.query.processAllAvailable() finally p.query.stop()
    // the keyed count is operator 0; one store per shuffle partition
    val root = new org.apache.hadoop.fs.Path(s"file:$ckpt/product/state").toString
    val ids = (0 until spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .map(part => StateStoreProviderId(StateStoreId(root, 0, part), p.query.runId))
    assert(ids.exists(StateStore.isLoaded), s"no provider loaded under $root")
    LogAnalysisApp.CloseStateStores.onApplicationEnd(
      org.apache.spark.scheduler.SparkListenerApplicationEnd(System.currentTimeMillis()))
    assert(!ids.exists(StateStore.isLoaded))
    assert(!StateStore.isMaintenanceRunning)
  }

  test("jdbc upsert SQL is the MySQL ON DUPLICATE KEY UPDATE form") {
    val u = new graft.sources.JdbcUpsert(
      "hot_section", Seq("section_id", "name", "section_pv"), Seq("section_id"),
      () => throw new UnsupportedOperationException("no db in tests"))
    assert(u.upsertSql ==
      "INSERT INTO hot_section (section_id, name, section_pv) VALUES (?, ?, ?) " +
        "ON DUPLICATE KEY UPDATE name = VALUES(name), section_pv = VALUES(section_pv)")
  }

  test("config precedence: env > sysprop > reference default") {
    assert(GraftConfig.load().checkpointDir == "/tmp/graft-checkpoints")
    sys.props.put("graft.checkpoint.dir", "/tmp/graft-override")
    try assert(GraftConfig.load().checkpointDir == "/tmp/graft-override")
    finally sys.props.remove("graft.checkpoint.dir")
  }
}

/** An article-dim column that throws while `fail` is set. */
object FailingDim {
  @volatile var fail = false
  val subject = org.apache.spark.sql.functions.udf { (s: String) =>
    if (fail) throw new IllegalStateException("injected article-dim failure")
    s
  }
}
