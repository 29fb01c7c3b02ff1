package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{RawEventStore, TripMatcher}

class TripMatcherSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def starts = Seq(
    ("t1", "2024-05-25 10:00:00", 101),
    ("t2", "2024-05-25 11:00:00", 102),
    ("t3", "2024-05-25 12:00:00", 103)
  ).toDF("trip_id", "pickup_datetime", "pickup_location_id")

  private def ends = Seq(
    ("t1", "2024-05-25 10:30:00", 12.5),
    ("t2", "2024-05-25 11:45:00", 20.0)
  ).toDF("trip_id", "dropoff_datetime", "fare_amount")

  test("matchTrips: inner equi-join emits only matched pairs") {
    val out = ReferenceTwins.matchTrips(starts, ends)
    assert(out.count() === 2)
    assert(out.columns.count(_ == "trip_id") === 1)
  }

  test("unmatchedStarts: anti-join lists the still-raw starts") {
    val out = TripMatcher.unmatchedStarts(starts, ends)
    assert(out.select("trip_id").as[String].collect().toSeq === Seq("t3"))
  }

  test("mergeProjection: collision policy end_-prefixes shared columns") {
    val s = Seq(("t1", "trip_start", "2024-05-25 10:00:00", "x"))
      .toDF("trip_id", "data_type", "ts", "pk")
    val e = Seq(("t1", "trip_end", "2024-05-25 10:30:00", 9.9))
      .toDF("trip_id", "data_type", "ts", "fare_amount")
    val out = TripMatcher.mergeProjection(s, e)
    // pk excluded; ts collides -> end_ts; data_type/status overwritten
    assert(out.columns.toSet ===
      Set("trip_id", "data_type", "ts", "end_ts", "fare_amount", "status"))
    val row = out.collect().head
    assert(row.getAs[String]("data_type") === "completed_trip")
    assert(row.getAs[String]("status") === "completed")
    assert(row.getAs[String]("ts") === "2024-05-25 10:00:00")
    assert(row.getAs[String]("end_ts") === "2024-05-25 10:30:00")
  }

  test("dedup before join reproduces first-match-only (O4) semantics") {
    // duplicate end event for t1: without dedup the join would emit 2 rows
    val dupEnds = ends.unionByName(
      Seq(("t1", "2024-05-25 10:31:00", 99.9)).toDF("trip_id", "dropoff_datetime", "fare_amount"))
    val naive = ReferenceTwins.matchTrips(starts, dupEnds)
    assert(naive.count() === 3, "duplicates cross-product without dedup")

    val deduped = RawEventStore.dedupFirstWins(dupEnds,
      Seq("trip_id"), Seq("dropoff_datetime"))
    val out = ReferenceTwins.matchTrips(starts, deduped)
    assert(out.count() === 2)
    // first occurrence (10:30, fare 12.5) won
    assert(out.filter($"trip_id" === "t1").select("fare_amount")
      .as[Double].head() === 12.5)
  }
}
