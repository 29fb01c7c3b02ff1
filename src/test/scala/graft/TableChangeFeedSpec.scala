package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TripStreams

/** S5 literal analogue: a parquet-dir change feed delivers every
  * newly-landed file's rows as INSERT events, exactly once, with the
  * reference's query-on-insert steps (INSERT filter -> type filter)
  * running as plain stream transforms downstream
  * (reference lambda2.py:183-212).
  */
class TableChangeFeedSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("newly landed files appear as inserts, exactly once, filterable") {
    val dir = tempDir("feed") + "/store"
    val ckpt = tempDir("feed-ckpt")
    def land(rows: Seq[(String, String)]): Unit =
      rows.toDF("trip_id", "data_type")
        .write.mode("append").parquet(dir)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    def start() = TripStreams.tableChangeFeed(spark, dir,
        spark.read.parquet(dir).schema)
      // the reference's query-on-insert shape: react only to starts
      .filter(col("data_type") === "trip_start")
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.as[(String, String)].collect().foreach(seen.add)
      }
      .option("checkpointLocation", ckpt)
      .start()
    import scala.jdk.CollectionConverters._
    def rows = seen.asScala.toSet

    // batch 1 lands BEFORE the feed starts — still delivered (the
    // checkpoint starts empty, so the table's current files replay once)
    land(Seq(("t1", "trip_start"), ("t2", "trip_end")))
    val q = start()
    try {
      q.processAllAvailable()
      assert(rows === Set(("t1", "trip_start")))

      // batch 2 lands while the query runs: only the NEW file's rows
      // arrive — nothing re-delivers
      land(Seq(("t3", "trip_start"), ("t4", "trip_end")))
      q.processAllAvailable()
      assert(rows === Set(("t1", "trip_start"), ("t3", "trip_start")))
    } finally q.stop()

    // exactly-once across RESTART: a new query over the same checkpoint
    // sees only files landed after the last commit
    land(Seq(("t5", "trip_start")))
    seen.clear()
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(rows === Set(("t5", "trip_start")),
        "replay after restart must skip already-delivered files")
    } finally q2.stop()
  }
}
