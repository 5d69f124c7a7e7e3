package graft

/** Externalized config surface of the product main.
  *
  * The reference ships `src/main/resources/param.conf` (Typesafe config
  * with Kafka + MySQL endpoints) but never loads it — every endpoint is
  * hard-coded (SURVEY.md §2.1 config note, reference
  * `LogAnalysis.java:54-63,108-113`). This rebuild externalizes what its
  * main reads: every setting reads `GRAFT_<KEY>` from the environment,
  * then the `graft.<key>` JVM system property, then the default.
  */
final case class GraftConfig(
    checkpointDir: String,
    shufflePartitions: Int)

object GraftConfig {

  def get(key: String, default: String): String =
    sys.env.getOrElse(s"GRAFT_${key.toUpperCase.replace('.', '_')}",
      sys.props.getOrElse(s"graft.$key", default))

  /** The streaming checkpoint root (the reference checkpoints at
    * `LogAnalysis.java:43`) and the shuffle partition count.
    */
  def load(): GraftConfig = GraftConfig(
    checkpointDir = get("checkpoint.dir", "/tmp/graft-checkpoints"),
    shufflePartitions = get("shuffle.partitions", "32").toInt)
}
