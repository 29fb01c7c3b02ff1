package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.KpiAggregator
import graft.sources.TripSources
import graft.streaming.StreamingTripPipeline

/** Production state-store coverage (SURVEY.md par.2.7 deploy posture): at
  * 100 TB/day the dedup + stream-stream-join state that replaces the
  * reference's DynamoDB table (scripts/lambda2.py:27-63) does not fit the
  * default in-memory HDFS-backed provider — RocksDB is the deploy
  * answer. These tests run the reference's own feed through the full
  * stateful pipeline under BOTH providers and prove checkpoint recovery
  * under RocksDB, so the provider switch is a config flip, not a leap.
  *
  * The golden streaming replay here is also the streaming twin of
  * GoldenKpiSpec: the reference CSVs are re-serialized to the producer's
  * wire JSON (string timestamps, scripts/to_kinesis.py:48-93) and fed as
  * micro-batches; the published KPI run must come out the other end.
  */
class RocksDbStreamingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** Runs `f` with the given provider class (None = Spark default),
    * restoring the previous session conf afterwards. Streaming queries
    * capture the provider at start, so setting session conf around
    * `start()` is the real-world switch.
    */
  private def withProvider[T](cls: Option[String])(f: => T): T = {
    val old = spark.conf.getOption(ProviderKey)
    cls match {
      case Some(c) => spark.conf.set(ProviderKey, c)
      case None => spark.conf.unset(ProviderKey)
    }
    try f finally old match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None => spark.conf.unset(ProviderKey)
    }
  }

  private var runId = 0
  private def replay(provider: Option[String]): org.apache.spark.sql.DataFrame =
    withProvider(provider) {
      implicit val ctx = spark.sqlContext
      val feed = GoldenFeed.wireJson(spark)
      val input = MemoryStream[String]
      runId += 1
      val name = s"golden_completed_$runId"
      val q = StreamingTripPipeline.pipeline(input.toDF())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        feed.grouped(4000).foreach { b => input.addData(b); q.processAllAvailable() }
      } finally q.stop()
      spark.table(name)
    }

  test("golden streaming replay reproduces the published KPI run on both providers") {
    Seq(None, Some(RocksDb)).foreach { provider =>
      val completed = replay(provider)
      val kpis = KpiAggregator.dailyKpis(completed,
        to_date(col("pickup_ts")), col("fare_amount"), col("trip_id")).collect()
      assert(kpis.length === 1, s"provider=$provider: one pickup_date expected")
      val row = kpis.head
      assert(row.getAs[java.sql.Date]("pickup_date").toString === "2024-05-25")
      assert(row.getAs[Long]("trip_count") === 4468L,
        s"provider=$provider lost or duplicated trips")
      assert(math.abs(row.getAs[Double]("total_fare") - 245273.31744125657) < 1e-6)
      assert(math.abs(row.getAs[Double]("maximum_fare") - 99.9901266575316) < 1e-9)
      assert(math.abs(row.getAs[Double]("minimum_fare") - 10.036694629486496) < 1e-9)
    }
  }

  test("checkpoint recovery under RocksDB neither duplicates nor loses trips") {
    withProvider(Some(RocksDb)) {
      implicit val ctx = spark.sqlContext
      val ckpt = tempDir("graft-rocks-ckpt")
      val out = tempDir("graft-rocks-out")
      val input = MemoryStream[String]

      def start() = StreamingTripPipeline.pipeline(input.toDF())
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/batch_$id")
        }
        .start()

      def trip(i: Int): Seq[String] = Seq(
        s"""{"trip_id":"t$i","data_type":"trip_start","pickup_datetime":"2024-05-25 10:00:00"}""",
        s"""{"trip_id":"t$i","data_type":"trip_end","dropoff_datetime":"2024-05-25 10:30:00","fare_amount":$i.0,"passenger_count":1.0}""")

      val q1 = start()
      try {
        input.addData((1 to 5).flatMap(trip))
        q1.processAllAvailable()
      } finally q1.stop()

      // data arriving while the query is DOWN; recovery must resume the
      // RocksDB state (dedup + both join sides) from the checkpoint
      input.addData((6 to 9).flatMap(trip))

      val q2 = start()
      try {
        q2.processAllAvailable()
        input.addData(trip(10))
        q2.processAllAvailable()
      } finally q2.stop()

      val trips = spark.read.parquet(s"$out/batch_*")
        .select("trip_id").as[String].collect().toSeq
      assert(trips.length === 10, s"expected 10 completed trips, got: $trips")
      assert(trips.toSet === (1 to 10).map(i => s"t$i").toSet)
    }
  }

  test("windowed daily-KPI stream state runs on RocksDB") {
    withProvider(Some(RocksDb)) {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[String]
      val dir = tempDir("graft-rocks-kpi")
      // the KPI stream is its own query over the matcher's parquet output
      val completed = StreamingTripPipeline.pipeline(input.toDF())
      val matcher = completed.writeStream.format("parquet")
        .option("checkpointLocation", s"$dir/ckpt").start(s"$dir/trips")
      val q = StreamingTripPipeline.dailyKpiStream(
          spark.readStream.schema(completed.schema).parquet(s"$dir/trips"))
        .writeStream.format("memory").queryName("rocks_kpis")
        .outputMode("append").start()
      try {
        input.addData(Seq(
          """{"trip_id":"k1","data_type":"trip_start","pickup_datetime":"2024-05-25 10:00:00"}""",
          """{"trip_id":"k1","data_type":"trip_end","dropoff_datetime":"2024-05-25 10:30:00","fare_amount":30.0,"passenger_count":1.0}"""))
        matcher.processAllAvailable(); q.processAllAvailable()
        // advance the watermark past the day so the window closes
        input.addData(Seq(
          """{"trip_id":"k2","data_type":"trip_start","pickup_datetime":"2024-05-28 10:00:00"}""",
          """{"trip_id":"k2","data_type":"trip_end","dropoff_datetime":"2024-05-28 10:10:00","fare_amount":1.0,"passenger_count":1.0}"""))
        matcher.processAllAvailable(); q.processAllAvailable()
      } finally { q.stop(); matcher.stop() }
      val rows = spark.table("rocks_kpis").collect()
      assert(rows.length === 1)
      assert(rows.head.getAs[java.sql.Date]("pickup_date").toString === "2024-05-25")
      assert(rows.head.getAs[Double]("total_fare") === 30.0)
    }
  }
}
