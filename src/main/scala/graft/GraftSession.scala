package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration
  * (SURVEY.md par.9 posture) and [[GraftExtensions]] applied. The
  * driver-contract mains (Verify/Bench) build their own bare sessions to
  * honor the harness env; applications embedding the library should
  * start here.
  */
object GraftSession {

  /** `cores` sizes both the local master and shuffle parallelism; on a
    * real cluster pass `master = None` and let spark-submit decide.
    */
  def builder(cores: Int = Runtime.getRuntime.availableProcessors(),
      local: Boolean = true): SparkSession.Builder = {
    val b = SparkSession.builder()
      // session-wide: nanos-timestamp parquet reads as BIGINT (see
      // Tables.configure — the builders set it so no loader mutates conf)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", 128L * 1024 * 1024)
      .config("spark.sql.parquet.filterPushdown", "true")
      // fork-free checkpoint commits on local disks (see Tables.configure)
      .config(streaming.LocalCheckpointFileManager.ConfKey,
        classOf[streaming.LocalCheckpointFileManager].getName)
      .withExtensions(new GraftExtensions)
    if (local) b.master(s"local[$cores]") else b
  }
}
