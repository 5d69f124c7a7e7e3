package graft

import org.apache.spark.sql.SparkSession

/** The engine's session posture, in ONE place. Every entry point (Bench,
  * Verify, Soak, SoakScale, DumpPlans, LogAnalysisApp) builds here, so a
  * parity-critical conf — UTC timezone, GraftExtensions, UI off — cannot
  * drift between the shipped engine and the harness that grades it.
  */
object GraftSession {

  /** `aqe = None` leaves Spark's default (enabled in Spark 4). */
  def build(master: String, shufflePartitions: String,
      aqe: Option[Boolean] = None, logLevel: String = "WARN",
      appName: String = "graft"): SparkSession = {
    var b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    aqe.foreach(v => b = b.config("spark.sql.adaptive.enabled", v.toString))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** local[cores] with one shuffle partition per core — the right
    * local-mode sizing (the global 200 default is a cluster number).
    */
  def local(cores: String, aqe: Option[Boolean] = None,
      logLevel: String = "WARN"): SparkSession =
    build(s"local[$cores]", cores, aqe, logLevel)
}
