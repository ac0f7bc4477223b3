package graft.ops

/** Shuffle/scratch-directory selection for the session builders.
  *
  * `$SPARK_GRAFT_LOCAL_DIR`, when set, becomes `spark.local.dir` verbatim
  * (point it at fast local storage — NVMe, or tmpfs when the shuffle
  * volume is known to fit in memory). Unset, Spark's own default
  * (java.io.tmpdir) stands: a memory-backed default would silently spend
  * RAM on every shuffle and only pays off on some hosts.
  */
object ScratchDir {
  def resolve(): Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").map(_.trim).filter(_.nonEmpty)

  /** Apply to a session builder: sets spark.local.dir when a scratch
    * directory is configured, no-op otherwise.
    */
  def tune(b: org.apache.spark.sql.SparkSession.Builder)
      : org.apache.spark.sql.SparkSession.Builder =
    resolve().map(d => b.config("spark.local.dir", d)).getOrElse(b)
}
