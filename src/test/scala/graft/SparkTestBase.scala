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
      spark.sparkContext, tempDir("graft-ckpt-dir"))(body)

  /** This suite's scratch root under `java.io.tmpdir`, made on first
    * use of [[tempDir]] and deleted with its contents by [[afterAll]].
    */
  @volatile private var suiteRoot: Option[java.nio.file.Path] = None

  /** A fresh directory under the suite's scratch root. */
  def tempDir(prefix: String): String = synchronized {
    val root = suiteRoot.getOrElse {
      val r = java.nio.file.Files.createTempDirectory(
        s"graft-${getClass.getSimpleName}")
      suiteRoot = Some(r)
      r
    }
    java.nio.file.Files.createTempDirectory(root, prefix).toString
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    Tables.configure(spark)
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit =
    try suiteRoot.foreach(r =>
      org.apache.commons.io.FileUtils.deleteQuietly(r.toFile))
    finally super.afterAll()
}
