package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.KeyedUpsertSink
import graft.streaming.TripStore

/** End-to-end materialization of the reference's DynamoDB table
  * (SURVEY.md par.2.7 status lifecycle): the golden feed replayed through
  * [[TripStore.storeWriter]] must leave the store holding the
  * reference's FINAL table state — every raw event as a RAW item, 4,468
  * COMPLETED items, and exactly the matched RAW pairs flipped to
  * `processed_by_matcher` (scripts/lambda2.py:249-251).
  */
class TripStoreSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-tripstore").toString

  test("golden replay materializes the reference's final table state with status lifecycle") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val storeDir = tmp() + "/store"
    val q = TripStore.storeWriter(input.toDF(), storeDir, tmp() + "/ckpt").start()
    try {
      GoldenFeed.wireJson(spark).grouped(6000).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
    } finally q.stop()

    val store = KeyedUpsertSink.readStore(spark, storeDir).get.cache()
    try {
      val completed = store.filter(col("sk").startsWith("COMPLETED#"))
      assert(completed.count() === 4468L, "published golden run: 4,468 completed trips")
      assert(completed.select("status").distinct().collect().map(_.getString(0)).toSeq
        === Seq("completed"))

      // exactly the matched RAW pairs carry processed_by_matcher: the
      // expected SK set derives from each COMPLETED item's two timestamps
      val expected = completed.select(col("trip_id"),
          concat_ws("#", lit("RAW"), lit("trip_start"), col("pickup_datetime")).as("sk"))
        .unionByName(completed.select(col("trip_id"),
          concat_ws("#", lit("RAW"), lit("trip_end"), col("dropoff_datetime")).as("sk")))
        .distinct()
      val processed = store.filter(col("status") === "processed_by_matcher")
        .select("trip_id", "sk")
      assert(processed.exceptAll(expected).count() === 0,
        "an unmatched RAW item was flagged processed")
      assert(expected.exceptAll(processed).count() === 0,
        "a matched RAW item was not flagged processed")
      assert(processed.count() === 2 * 4468L,
        "one start + one end item flagged per completed trip")

      // processed items keep their sparse attrs and record the match's
      // event time
      val ps = store.filter(col("status") === "processed_by_matcher" &&
        col("data_type") === "trip_start")
      assert(ps.filter(col("pickup_datetime").isNull || col("fare_amount").isNotNull)
        .count() === 0, "processed start items must keep start attrs and stay end-sparse")
      assert(store.filter(col("status") === "processed_by_matcher" &&
        col("processed_at").isNull).count() === 0)

      // everything else RAW stays status='raw', and every wire event
      // landed as a RAW item (SK dedups exact re-deliveries)
      val raw = store.filter(col("sk").startsWith("RAW#"))
      assert(raw.filter(!col("status").isin("raw", "processed_by_matcher")).count() === 0)
      assert(raw.count() > 2 * 4468L, "unmatched raw events must persist as status='raw'")
      // no trip both completed and missing its processed flags was
      // asserted above; conversely a trip with no COMPLETED item must
      // have no processed items
      val completedIds = completed.select("trip_id").distinct()
      val processedIds = processed.select("trip_id").distinct()
      assert(processedIds.exceptAll(completedIds).count() === 0)
    } finally store.unpersist()
  }

  test("the lookup store build releases every checkpoint it materializes") {
    val dir = tmp()
    Seq((1L, java.sql.Date.valueOf("2024-05-20"), 10.0),
        (2L, java.sql.Date.valueOf("2024-05-21"), 20.0))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    Seq((1L, java.sql.Date.valueOf("2024-05-20"), 1, 7L, 8L, 11.0),
        (1L, java.sql.Date.valueOf("2024-05-20"), 2, 7L, 8L, 12.0),
        (2L, java.sql.Date.valueOf("2024-05-22"), 1, 7L, 8L, 21.0))
      .toDF("l_orderkey", "l_shipdate", "l_linenumber", "l_partkey",
        "l_suppkey", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val storeDir = SparkEntry.tripStoreBuild(spark, dir)
    assert(KeyedUpsertSink.readStore(spark, storeDir).get
      .filter(col("sk").startsWith("COMPLETED#")).count() === 2L)
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before === Set.empty,
      "the batch and shared `ends` checkpoints must be released after the build")
  }
}
