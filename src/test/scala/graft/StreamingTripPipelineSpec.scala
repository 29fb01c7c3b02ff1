package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingTripPipeline

/** MemoryStream tests for the streaming hot path (SURVEY.md par.5 item 3):
  * either-order matching, in-stream dedup, and the full parse->join
  * pipeline.
  */
class StreamingTripPipelineSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def startJson(id: String, ts: String, fare: Double = 10.0): String =
    s"""{"trip_id":"$id","data_type":"trip_start","pickup_datetime":"$ts","estimated_fare_amount":$fare,"pickup_location_id":1,"dropoff_location_id":2,"vendor_id":3}"""

  private def endJson(id: String, ts: String, fare: Double = 25.5): String =
    s"""{"trip_id":"$id","data_type":"trip_end","dropoff_datetime":"$ts","fare_amount":$fare,"passenger_count":1.0,"trip_distance":2.2}"""

  private var n = 0
  private def runPipeline(batches: Seq[Seq[String]]): org.apache.spark.sql.DataFrame = {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    n += 1
    val name = s"completed_$n"
    val q = StreamingTripPipeline.pipeline(input.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name)
  }

  test("in-order start/end pair joins into one completed trip") {
    val out = runPipeline(Seq(Seq(
      startJson("t1", "2024-05-25 10:00:00"),
      endJson("t1", "2024-05-25 10:30:00"))))
    assert(out.count() === 1)
    val row = out.collect().head
    assert(row.getAs[String]("data_type") === "completed_trip")
    assert(row.getAs[String]("status") === "completed")
    assert(row.getAs[Double]("fare_amount") === 25.5)
  }

  test("either-order arrival: end before start still matches (lambda2.py:237-242)") {
    val out = runPipeline(Seq(
      Seq(endJson("t2", "2024-05-25 11:00:00")),
      Seq(startJson("t2", "2024-05-25 10:40:00"))))
    assert(out.count() === 1)
  }

  test("duplicate events are dropped before the join — no cross product") {
    val out = runPipeline(Seq(Seq(
      startJson("t3", "2024-05-25 10:00:00"),
      startJson("t3", "2024-05-25 10:00:00"),
      endJson("t3", "2024-05-25 10:30:00"),
      endJson("t3", "2024-05-25 10:30:00"))))
    assert(out.count() === 1)
  }

  test("duplicate arriving in a LATER batch is still dropped (cross-batch dedup state)") {
    val out = runPipeline(Seq(
      Seq(startJson("t10", "2024-05-25 10:00:00")),
      Seq(startJson("t10", "2024-05-25 10:00:00")), // dup, next micro-batch
      Seq(endJson("t10", "2024-05-25 10:30:00"))))
    assert(out.count() === 1)
  }

  test("unmatched start emits nothing; dropoff outside the trip window does not match") {
    val out = runPipeline(Seq(Seq(
      startJson("t4", "2024-05-25 10:00:00"),
      // end 3 days later: outside maxTripDuration=24h
      endJson("t4", "2024-05-28 10:00:00"),
      startJson("t5", "2024-05-25 12:00:00"))))
    assert(out.count() === 0)
  }

  test("invalid/poison records are filtered, not fatal (lambda2.py:257-260)") {
    val out = runPipeline(Seq(Seq(
      "not json",
      """{"trip_id":null,"data_type":"trip_start","pickup_datetime":"2024-05-25 10:00:00"}""",
      // present but malformed: dropped at validation, not a cast failure
      startJson("t6x", "2024-13-45 99:00:00"),
      startJson("t6", "2024-05-25 10:00:00"),
      endJson("t6", "2024-05-25 10:20:00"))))
    assert(out.count() === 1)
  }

  test("completed trips do not depend on the state partition count") {
    // 160 trips over 4 event days, one batch per day plus a tail batch:
    // every 5th end arrives a batch before its start, every 7th trip is
    // re-delivered (start in the same batch, end in the next), every
    // 11th day-0 end is held back until the watermark has evicted its
    // start, and each batch carries invalid events
    val rnd = new scala.util.Random(7)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val t0 = java.time.LocalDateTime.of(2024, 5, 20, 0, 0)
    val batches = Array.fill(5)(Seq.newBuilder[String])
    (0 until 160).foreach { i =>
      val day = i / 40
      val pickup = t0.plusDays(day).plusMinutes((i % 40) * 30L)
      val start = startJson(s"p$i", pickup.format(fmt), i + 0.25)
      val end = endJson(s"p$i", pickup.plusMinutes(20).format(fmt), i + 0.5)
      val (sb, eb) =
        if (day == 0 && i % 11 == 0) (day, 4)
        else if (i % 5 == 0) (day + 1, day)
        else (day, day)
      batches(sb) += start
      batches(eb) += end
      if (i % 7 == 0) { batches(sb) += start; batches(math.min(eb + 1, 4)) += end }
    }
    batches.zipWithIndex.foreach { case (b, k) =>
      b += "not json"
      b += s"""{"trip_id":null,"data_type":"trip_start","pickup_datetime":"2024-05-2$k 10:00:00"}"""
    }
    val feed = batches.map(b => rnd.shuffle(b.result()))

    def completedAt(partitions: Int): (Set[(String, String, String, Double)], Long) = {
      implicit val ctx = spark.sqlContext
      val saved = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      val input = MemoryStream[String]
      n += 1
      val name = s"completed_$n"
      val q = try StreamingTripPipeline.pipeline(input.toDF())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
        finally spark.conf.set("spark.sql.shuffle.partitions", saved)
      val removed = try {
        feed.foreach { b => input.addData(b); q.processAllAvailable() }
        assert(q.lastProgress.stateOperators.forall(_.numShufflePartitions == partitions))
        q.recentProgress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum
      } finally q.stop()
      (spark.table(name).select("trip_id", "pickup_datetime", "dropoff_datetime", "fare_amount")
        .as[(String, String, String, Double)].collect().toSet, removed)
    }

    val (one, removedOne) = completedAt(1)
    val (four, removedFour) = completedAt(4)
    assert(one === four)
    // the feed exercises what the answer must not depend on: watermark
    // eviction happened, and the held-back ends found no start
    assert(removedOne > 0 && removedFour > 0)
    val ids = one.toSeq.map(_._1)
    assert(ids.distinct.size === ids.size, "one completed row per trip")
    assert(ids.nonEmpty && !ids.contains("p0") && !ids.contains("p11"))
  }

  test("streaming daily KPI window aggregates completed trips") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val dir = tempDir("graft-kpi")
    // the KPI stream is its own query over the matcher's parquet output
    val completed = StreamingTripPipeline.pipeline(input.toDF())
    val matcher = completed.writeStream.format("parquet")
      .option("checkpointLocation", s"$dir/ckpt").start(s"$dir/trips")
    val q = StreamingTripPipeline.dailyKpiStream(
        spark.readStream.schema(completed.schema).parquet(s"$dir/trips"))
      .writeStream.format("memory").queryName("kpis").outputMode("append").start()
    try {
      input.addData(Seq(
        startJson("t7", "2024-05-25 10:00:00"), endJson("t7", "2024-05-25 10:30:00", 30.0),
        startJson("t8", "2024-05-25 11:00:00"), endJson("t8", "2024-05-25 11:30:00", 50.0)))
      matcher.processAllAvailable(); q.processAllAvailable()
      // advance the watermark past the day so the window closes
      input.addData(Seq(
        startJson("t9", "2024-05-28 10:00:00"), endJson("t9", "2024-05-28 10:10:00", 1.0)))
      matcher.processAllAvailable(); q.processAllAvailable()
    } finally { q.stop(); matcher.stop() }
    val rows = spark.table("kpis").collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[java.sql.Date]("pickup_date").toString === "2024-05-25")
    assert(r.getAs[Long]("trip_count") === 2L)
    assert(r.getAs[Double]("total_fare") === 80.0)
  }
}
