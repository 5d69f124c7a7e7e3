package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Maintenance of `expected.tsv`, the batch workload's stored result
  * fingerprints (see check_expected.py, which drives the DuckDB side).
  *
  *   - `record <sfDir> <out.tsv>`: run each benchmark query and write its
  *     fingerprint.
  *   - `oracle <out.json>`: write `SparkEntry.oracleSql` for the
  *     benchmark queries.
  *   - `check <resultDir> <expected.tsv>`: fingerprint `<resultDir>/<q>.parquet`
  *     (another engine's result for q) and compare with the stored value;
  *     exit 1 on any difference.
  */
object Fingerprints {
  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("record", sf, out) =>
      val spark = Main.session()
      val lines = BatchQueries.All.map { q =>
        s"$q\t${BatchQueries.fingerprint(graft.SparkEntry.queries(q)(spark, sf))}"
      }
      val header = Seq(
        s"# batch_queries result fingerprints over ${Paths.get(sf).getFileName}: " +
          "name<TAB>rows:sum of row xxhash64.",
        "# Checked against SparkEntry.oracleSql in DuckDB by perfbench/check_expected.py.")
      Files.write(Paths.get(out), (header ++ lines).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      spark.stop()
    case Seq("oracle", out) =>
      val sql = graft.SparkEntry.oracleSql
      val json = BatchQueries.All.map { q =>
        val esc = sql(q).flatMap {
          case '"' => "\\\""
          case '\\' => "\\\\"
          case '\n' => "\\n"
          case '\t' => "\\t"
          case '\r' => "\\r"
          case c => c.toString
        }
        s"""  "$q": "$esc""""
      }.mkString("{\n", ",\n", "\n}\n")
      Files.write(Paths.get(out), json.getBytes(StandardCharsets.UTF_8))
    case Seq("check", dir, expectedPath) =>
      val spark = Main.session()
      val expected = BatchQueries.loadExpected(Paths.get(expectedPath))
      val bad = BatchQueries.All.filterNot { q =>
        val got = BatchQueries.fingerprint(spark.read.parquet(s"$dir/$q.parquet"))
        val ok = expected.get(q).contains(got)
        println(s"${if (ok) "OK  " else "FAIL"} $q $got expected ${expected.getOrElse(q, "-")}")
        ok
      }
      spark.stop()
      println(s"${BatchQueries.All.size - bad.size}/${BatchQueries.All.size} stored fingerprints match the oracle")
      if (bad.nonEmpty) sys.exit(1)
    case _ =>
      Console.err.println("usage: Fingerprints record <sfDir> <out.tsv> | oracle <out.json> | check <dir> <expected.tsv>")
      sys.exit(2)
  }
}
