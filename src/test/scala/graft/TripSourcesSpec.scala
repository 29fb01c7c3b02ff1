package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TripSources

class TripSourcesSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("parseEvents: permissive JSON parse, both families through one schema") {
    val raw = Seq(
      """{"trip_id":"t1","data_type":"trip_start","pickup_datetime":"2024-05-25 10:00:00","estimated_fare_amount":12.5}""",
      """{"trip_id":"t2","data_type":"trip_end","dropoff_datetime":"2024-05-25 10:30:00","fare_amount":20.0,"passenger_count":1.0}""",
      """not json at all"""
    ).toDF("value")
    val parsed = TripSources.parseEvents(raw)
    assert(parsed.count() === 3)
    // malformed row -> all-null struct -> dropped by validation
    val valid = TripSources.validated(parsed)
    assert(valid.count() === 2)
    assert(valid.filter($"data_type" === "trip_start")
      .select("estimated_fare_amount").as[Double].head() === 12.5)
  }

  test("parseEventsWithCorrupt quarantines poison records instead of dropping") {
    val raw = Seq(
      """{"trip_id":"t1","data_type":"trip_start","pickup_datetime":"2024-05-25 10:00:00"}""",
      """{{{ definitely not json""",
      """{"trip_id":"t2","data_type":"trip_end","dropoff_datetime":"x","fare_amount":1.0}"""
    ).toDF("value")
    val parsed = graft.sources.TripSources.parseEventsWithCorrupt(raw)
    val good = parsed.filter($"corrupt".isNull)
    val quarantined = parsed.filter($"corrupt".isNotNull)
    assert(good.count() === 2)
    assert(quarantined.count() === 1)
    assert(quarantined.select("corrupt").as[String].head().contains("definitely not json"))
  }

  test("file-based stream source feeds the pipeline (S2/S3 transport shape)") {
    val dir = tempDir("graft-feed")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/events.jsonl"),
      Seq(
        """{"trip_id":"f1","data_type":"trip_start","pickup_datetime":"2024-05-25 10:00:00"}""",
        """{"trip_id":"f1","data_type":"trip_end","dropoff_datetime":"2024-05-25 10:20:00","fare_amount":7.5,"passenger_count":1.0}"""
      ).mkString("\n"))
    val raw = graft.sources.TripStreams.rawFromFiles(spark, dir)
    val q = graft.streaming.StreamingTripPipeline.pipeline(raw)
      .writeStream.format("memory").queryName("file_fed").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("file_fed").count() === 1)
  }

  test("kafka wire contract: key = trip_id, value JSON round-trips through parseEvents") {
    // the broker-less twin of an embedded-Kafka round-trip (no connector
    // jar in this container): [[TripStreams.kafkaPayload]] is the exact
    // projection toKafka writes, so producing then re-parsing the value
    // column must reproduce the events — and every event of a trip must
    // carry the same key (Kafka's default partitioner then guarantees
    // the per-trip partition affinity the reference gets from Kinesis's
    // PartitionKey=trip_id, to_kinesis.py:63-67,89-93)
    val events = Seq(
      ("k1", "trip_start", "2024-05-25 10:00:00", null.asInstanceOf[String], 12.5),
      ("k1", "trip_end", null.asInstanceOf[String], "2024-05-25 10:30:00", 20.0),
      ("k2", "trip_start", "2024-05-25 11:00:00", null.asInstanceOf[String], 7.0)
    ).toDF("trip_id", "data_type", "pickup_datetime", "dropoff_datetime", "fare_amount")
    val wire = graft.sources.TripStreams.kafkaPayload(events)
    assert(wire.columns.toSeq === Seq("key", "value"),
      "kafka sink schema must be exactly (key, value)")
    // per-trip key affinity: one distinct key per trip_id, equal across
    // that trip's start and end events
    val keys = wire.select("key").as[String].collect().toSeq
    assert(keys === Seq("k1", "k1", "k2"))
    // the value decodes through the SAME schema the read side applies
    val back = TripSources.parseEvents(wire.select("value"))
    assert(back.count() === 3)
    val k1start = back.filter($"trip_id" === "k1" && $"data_type" === "trip_start")
    assert(k1start.select("pickup_datetime").as[String].head() === "2024-05-25 10:00:00")
    assert(k1start.select("fare_amount").as[Double].head() === 12.5)
    val k1end = back.filter($"trip_id" === "k1" && $"data_type" === "trip_end")
    assert(k1end.select("dropoff_datetime").as[String].head() === "2024-05-25 10:30:00")
    // null fields are ABSENT from the JSON (to_json drops them), and the
    // permissive read restores them as nulls — the at-least-once wire
    // shape survives sparse rows
    assert(k1end.select("pickup_datetime").isEmpty ||
      k1end.select("pickup_datetime").as[String].collect().forall(_ == null))
  }

  test("validated: type-appropriate timestamp rule") {
    val events = Seq(
      ("t1", "trip_start", "2024-05-25 10:00:00", null.asInstanceOf[String]),
      ("t2", "trip_start", null.asInstanceOf[String], "2024-05-25 11:00:00"), // wrong ts kind
      ("t3", "trip_end", null.asInstanceOf[String], "2024-05-25 10:30:00"),
      ("t4", "trip_end", "2024-05-25 10:00:00", null.asInstanceOf[String]), // wrong ts kind
      (null.asInstanceOf[String], "trip_start", "2024-05-25 10:00:00", null.asInstanceOf[String]),
      ("t6", "unknown", "2024-05-25 10:00:00", "2024-05-25 10:30:00")
    ).toDF("trip_id", "data_type", "pickup_datetime", "dropoff_datetime")
    val out = TripSources.validated(events).select("trip_id").as[String].collect().toSet
    assert(out === Set("t1", "t3"))
  }

  test("sanitizeNumerics nulls the attribute, keeps the row") {
    val df = Seq(
      ("a", 1.0), ("b", Double.NaN), ("c", Double.PositiveInfinity),
      ("d", Double.NegativeInfinity)
    ).toDF("id", "v")
    val out = TripSources.sanitizeNumerics(df, Seq("v"))
    assert(out.count() === 4)
    assert(out.filter($"v".isNotNull).select("id").as[String].collect().toSeq === Seq("a"))
  }

  test("interleavedFeed: global event-time order across both families") {
    val s = Seq(("t1", "2024-05-25 10:00:00")).toDF("trip_id", "pickup_datetime")
    val e = Seq(("t1", "2024-05-25 09:59:00")).toDF("trip_id", "dropoff_datetime")
    val out = TripSources.interleavedFeed(s, e)
      .select("data_type").as[String].collect().toSeq
    assert(out === Seq("trip_end", "trip_start"))
  }
}
