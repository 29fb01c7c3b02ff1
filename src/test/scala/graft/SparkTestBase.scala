package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for specs. getOrCreate reuses one JVM-wide
  * session across suites (sbt forks a single test JVM), keeping the suite
  * wall time dominated by queries, not session churn.
  */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
    .appName("graft-test")
    .getOrCreate()

  /** A checkpoint dir scoped to `body` (see CheckpointDirs). */
  def withCheckpointDir[T](body: String => T): T =
    org.apache.spark.graftbridge.CheckpointDirs.withCheckpointDir(
      spark.sparkContext)(body)

  override def beforeAll(): Unit = {
    super.beforeAll()
    Tables.configure(spark)
    spark.sparkContext.setLogLevel("WARN")
  }
}
