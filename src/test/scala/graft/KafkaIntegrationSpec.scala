package graft

import graft.sources.{TripSources, TripStreams}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Live-broker round trip for the production Kafka endpoints
  * ([[TripStreams.rawFromKafka]] / [[TripStreams.toKafka]]) — env-gated:
  * runs only when `GRAFT_KAFKA_BROKERS` points at a reachable broker AND
  * the spark-sql-kafka connector jar is on the classpath; in this
  * sandbox (neither present) every test cancels cleanly via `assume`,
  * and the wire contract stays covered by the broker-less twin
  * (TripSourcesSpec asserts [[TripStreams.kafkaPayload]]'s exact
  * key/value projection and its decodability by
  * [[TripSources.parseEvents]]).
  *
  * To run for real:
  * {{{
  * GRAFT_KAFKA_BROKERS=host:9092 sbt "testOnly graft.KafkaIntegrationSpec"
  * }}}
  * (optionally `GRAFT_KAFKA_TOPIC`; defaults to a fresh per-run topic so
  * `startingOffsets=earliest` reads only this run's events).
  */
class KafkaIntegrationSpec extends AnyFunSuite with SparkTestBase {

  private def brokers = sys.env.get("GRAFT_KAFKA_BROKERS")

  private def connectorPresent: Boolean =
    try { Class.forName(
      "org.apache.spark.sql.kafka010.KafkaSourceProvider"); true }
    catch { case _: ClassNotFoundException => false }

  test("toKafka -> rawFromKafka round-trips the golden feed through a live broker") {
    assume(brokers.isDefined,
      "GRAFT_KAFKA_BROKERS not set — live Kafka round trip skipped " +
        "(wire contract covered by the broker-less twin in TripSourcesSpec)")
    assume(connectorPresent,
      "spark-sql-kafka connector not on the classpath — add " +
        "org.apache.spark:spark-sql-kafka-0-10_2.13 to run this spec")
    val topic = sys.env.getOrElse("GRAFT_KAFKA_TOPIC",
      s"graft_roundtrip_${java.util.UUID.randomUUID().toString.take(8)}")
    implicit val ctx = spark.sqlContext
    import spark.implicits._

    // a bounded slice of the golden feed, parsed to the event schema
    // the producer keys/serializes from
    val feed = GoldenFeed.wireJson(spark).take(200)
    val events = TripSources.parseEvents(feed.toSeq.toDF("value"))
      .localCheckpoint(true)
    val expected = events.select(to_json(struct(col("*"))))
      .as[String].collect().sorted.toSeq

    // produce: the real toKafka writer over a memory stream
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val ckpt = tempDir("kafka_prod_ckpt")
    val producer = TripStreams.toKafka(
      TripSources.parseEvents(input.toDF()), brokers.get, topic, ckpt).start()
    try {
      input.addData(feed.toSeq)
      producer.processAllAvailable()
    } finally producer.stop()

    // consume: the real rawFromKafka reader, decoded by the same schema
    val consumed = TripStreams.rawFromKafka(spark, brokers.get, topic)
    val q = TripSources.parseEvents(consumed)
      .select(to_json(struct(col("*"))).as("value"))
      .writeStream.format("memory").queryName("kafka_roundtrip")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("kafka_roundtrip")
        .as[String].collect().sorted.toSeq
      assert(got == expected,
        s"round trip lost/garbled events: got ${got.size}, expected ${expected.size}")
    } finally q.stop()
  }

  test("per-trip ordering survives the broker (partition-key contract)") {
    assume(brokers.isDefined, "GRAFT_KAFKA_BROKERS not set — skipped")
    assume(connectorPresent, "kafka connector missing — skipped")
    // trip_start must precede trip_end per trip_id after the round trip
    // WITHIN a partition: key = trip_id guarantees both records of a
    // trip land in the same partition in send order
    val topic = sys.env.getOrElse("GRAFT_KAFKA_TOPIC",
      s"graft_order_${java.util.UUID.randomUUID().toString.take(8)}")
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val feed = GoldenFeed.wireJson(spark).take(400)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val ckpt = tempDir("kafka_ord_ckpt")
    val producer = TripStreams.toKafka(
      TripSources.parseEvents(input.toDF()), brokers.get, topic, ckpt).start()
    try { input.addData(feed.toSeq); producer.processAllAvailable() }
    finally producer.stop()
    val raw = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers.get)
      .option("subscribe", topic).option("startingOffsets", "earliest").load()
      .select(col("key").cast("string").as("trip_id"),
        col("partition"), col("offset"),
        get_json_object(col("value").cast("string"), "$.data_type").as("dt"))
    val q = raw.writeStream.format("memory").queryName("kafka_order")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("kafka_order")
        .select("trip_id", "partition", "offset", "dt")
        .as[(String, Int, Long, String)].collect()
      val violations = rows.groupBy(_._1).filter { case (_, rs) =>
        val sorted = rs.sortBy(_._3)
        sorted.map(_._2).distinct.length > 1 || // split across partitions
          sorted.lastOption.exists(_._4 == "trip_start") &&
            sorted.exists(_._4 == "trip_end") // end offset < start offset
      }
      assert(violations.isEmpty,
        s"per-trip partition/order contract broken for: ${violations.keys.take(5).mkString(", ")}")
    } finally q.stop()
  }
}
