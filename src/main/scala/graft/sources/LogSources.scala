package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Log-line sources — the reference's ingestion surface re-expressed.
  * [[textStreamLines]] is a file-arrival stream of raw combined-format
  * lines, the stand-in for the reference's Kafka topic
  * (`LogAnalysis.java:54-70`): one string column `line`, the shape every
  * downstream plan reads, with the read offsets kept in the checkpoint.
  */
object LogSources {

  val LineSchema: StructType = StructType(Seq(StructField("line", StringType)))

  /** File-arrival streaming text source. */
  def textStreamLines(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(LineSchema).text(dir).toDF("line")
}
