package graft

import java.io.File

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{KpiReportSink, Materialize}

/** The one materialization rule: executor-local without a checkpoint
  * dir, reliable checkpoint files with one; `shared` lazy, `now` eager.
  */
class MaterializeSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** The RDD a materialized frame scans: its LogicalRDD leaf. */
  private def stored(df: DataFrame): RDD[_] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
      .getOrElse(fail("not a materialized frame"))

  private def rows() = spark.range(1000).selectExpr("id", "id * 2 AS v")

  private def checkpointFiles(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith("rdd-"))

  test("shared without a checkpoint dir: lazy, local blocks after one action") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val m = Materialize.shared(rows())
    val rdd = stored(m)
    assert(!rdd.isCheckpointed, "no job may run at construction")
    assert(m.count() === 1000L)
    assert(rdd.isCheckpointed && rdd.getCheckpointFile.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    Bridge.unpersistCheckpoint(m)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
  }

  test("now without a checkpoint dir: materialized at the call") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val m = Materialize.now(rows())
    val rdd = stored(m)
    assert(rdd.isCheckpointed && rdd.getCheckpointFile.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    assert(m.agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0) ===
      999L * 1000L)
    Bridge.unpersistCheckpoint(m)
  }

  test("shared and now write reliable checkpoint files under a checkpoint dir") {
    withCheckpointDir { dir =>
      val lazyOne = Materialize.shared(rows())
      assert(!stored(lazyOne).isCheckpointed, "no job may run at construction")
      assert(lazyOne.count() === 1000L)
      val eager = Materialize.now(rows())
      Seq(lazyOne, eager).foreach { m =>
        val rdd = stored(m)
        assert(rdd.isCheckpointed && rdd.getCheckpointFile.isDefined)
      }
      assert(checkpointFiles(dir).size === 2, checkpointFiles(dir))
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "the checkpoint dir must be unset after the scope")
  }

  private def report() = KpiReportSink.reportJson(
    Seq(("2024-05-25", 245273.32, 4468L, 54.90, 99.99, 10.04))
      .toDF("pickup_date", "total_fare", "trip_count", "average_fare",
        "maximum_fare", "minimum_fare"),
    Seq((4468L, "2024-05-25", "2024-05-25", 1L))
      .toDF("record_count", "start_date", "end_date", "kpi_count"))

  test("the JSON report sink checkpoints reliably under a checkpoint dir") {
    val base = tempDir("graft-materialize")
    withCheckpointDir { dir =>
      assert(KpiReportSink.writeJsonReport(report(), base,
        "2024/05/25/report") === 1L)
      assert(checkpointFiles(dir).nonEmpty,
        "the report's materialization wrote no checkpoint files")
    }
  }

  test("the JSON report sink releases its materialization") {
    val base = tempDir("graft-materialize")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(KpiReportSink.writeJsonReport(report(), base,
      "2024/05/25/report") === 1L)
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before === Set.empty)
  }
}
