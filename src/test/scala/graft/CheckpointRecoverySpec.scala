package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingTripPipeline

/** Exactly-once across restarts (SURVEY.md par.2.7 delivery row): stop the
  * streaming query mid-stream, restart from the same checkpoint with the
  * same source, and confirm no output is duplicated or lost. The reference
  * can only offer at-least-once with idempotent-key overwrites; Spark's
  * checkpoint + replayable-source contract gives exactly-once into an
  * idempotent (per-batch parquet) sink.
  */
class CheckpointRecoverySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("restart from checkpoint neither duplicates nor loses completed trips") {
    implicit val ctx = spark.sqlContext
    val ckpt = tempDir("graft-ckpt")
    val out = tempDir("graft-out")
    val input = MemoryStream[String]

    def start() = StreamingTripPipeline.pipeline(input.toDF())
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // idempotent per-batch sink: overwrite the batch's own directory
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

    // data arriving while the query is DOWN
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
