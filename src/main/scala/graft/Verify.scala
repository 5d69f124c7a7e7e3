package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated query names to dump (fast local
    // iteration); an unknown name fails before the session starts.
    val queries = Bench.select(SparkEntry.queries.toSeq, args.lift(2))
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    val ran = Bench.runEach(queries) { (name, fn) =>
      System.err.println(s"[verify] running $name")
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    // Keep the oracle dump consistent with what was actually dumped:
    // with the name filter active, a fresh outDir would otherwise make
    // compare.py fail every undumped query on a missing parquet dir.
    writeOracleJson(outDir, queries.map(_._1).toSet)
    if (ran.failed.nonEmpty)
      System.err.println(s"[verify] ${ran.failed.size} failed: ${ran.failed.mkString(", ")}")
    spark.stop()
  }

  /** Writes `outDir/oracle_sql.json`: the `SparkEntry.oracleSql`
    * entries whose name passes `keep`, as one JSON object.
    */
  def writeOracleJson(outDir: String, keep: String => Boolean): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}

/** Dumps the FULL oracle_sql.json without running any Spark query —
  * input to `tools/oracle_latency.py`, the per-round audit that keeps a
  * planning blowup in a DuckDB replay (the 9-minute q_rouge_l lateral
  * lattice, r11) from silently dragging the driver's correctness gate.
  */
object DumpOracleSql {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/oracle_dump")
    new java.io.File(outDir).mkdirs()
    Verify.writeOracleJson(outDir, _ => true)
    System.err.println(s"[dump] ${SparkEntry.oracleSql.size} oracle SQLs -> $outDir/oracle_sql.json")
  }
}
