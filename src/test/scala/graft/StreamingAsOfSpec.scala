package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{AsOfEvent, StreamingAsOf}

/** MemoryStream tests for the streaming as-of lookup: backward-inclusive
  * matching, cross-batch dimension history (out-of-order events), the
  * as-known-at-processing-time late-dim rule, and history pruning.
  */
class StreamingAsOfSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private def dim(k: String, t: String, v: String) =
    AsOfEvent(k, ts(t), "dim", v)
  private def ev(k: String, t: String) = AsOfEvent(k, ts(t), "event", "")

  private var n = 0
  private def run(batches: Seq[Seq[AsOfEvent]], maxDimHistory: Int = 64) = {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[AsOfEvent]
    n += 1
    val name = s"asof_out_$n"
    val q = StreamingAsOf.latestDimPerEvent(input.toDS(), maxDimHistory)
      .writeStream.format("memory").queryName(name).outputMode("update").start()
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table(name).as[(String, java.sql.Timestamp,
      Option[java.sql.Timestamp], Option[String])].collect()
      .map(r => (r._2.toString, r._3.map(_.toString), r._4)).toSet
  }

  test("event takes the latest dim at-or-before it; no covering dim -> nulls") {
    val out = run(Seq(Seq(
      dim("k", "2024-01-01 10:00:00", "v1"),
      dim("k", "2024-01-01 12:00:00", "v2"),
      ev("k", "2024-01-01 11:00:00"),  // between the dims -> v1
      ev("k", "2024-01-01 12:00:00"),  // tie -> inclusive, v2
      ev("k", "2024-01-01 09:00:00")))) // before any dim -> nulls
    assert(out === Set(
      ("2024-01-01 11:00:00.0", Some("2024-01-01 10:00:00.0"), Some("v1")),
      ("2024-01-01 12:00:00.0", Some("2024-01-01 12:00:00.0"), Some("v2")),
      ("2024-01-01 09:00:00.0", None, None)))
  }

  test("out-of-order event in a later batch matches retained history") {
    val out = run(Seq(
      Seq(dim("k", "2024-01-01 10:00:00", "v1"),
        dim("k", "2024-01-01 12:00:00", "v2")),
      // arrives late, belongs between the two retained dims -> v1
      Seq(ev("k", "2024-01-01 11:00:00"))))
    assert(out === Set(
      ("2024-01-01 11:00:00.0", Some("2024-01-01 10:00:00.0"), Some("v1"))))
  }

  test("late dim serves future events but does not retract past matches") {
    val out = run(Seq(
      Seq(dim("k", "2024-01-01 10:00:00", "v1")),
      Seq(ev("k", "2024-01-01 11:00:00")),                 // sees only v1
      Seq(dim("k", "2024-01-01 10:30:00", "v1b")),         // late dim
      Seq(ev("k", "2024-01-01 11:00:00"))))                // now sees v1b
    assert(out === Set(
      ("2024-01-01 11:00:00.0", Some("2024-01-01 10:00:00.0"), Some("v1")),
      ("2024-01-01 11:00:00.0", Some("2024-01-01 10:30:00.0"), Some("v1b"))))
  }

  test("history pruning keeps the newest maxDimHistory versions") {
    val out = run(Seq(
      Seq(dim("k", "2024-01-01 01:00:00", "old"),
        dim("k", "2024-01-01 02:00:00", "mid"),
        dim("k", "2024-01-01 03:00:00", "new")),
      // history=2 kept {mid,new}; an event before mid finds nothing
      Seq(ev("k", "2024-01-01 01:30:00"),
        ev("k", "2024-01-01 02:30:00"))), maxDimHistory = 2)
    assert(out === Set(
      ("2024-01-01 01:30:00.0", None, None),
      ("2024-01-01 02:30:00.0", Some("2024-01-01 02:00:00.0"), Some("mid"))))
  }

  test("restart from checkpoint: dim history survives, no dup/loss") {
    import java.nio.file.Files
    implicit val ctx = spark.sqlContext
    val ckpt = tempDir("graft-asof-ckpt")
    val out = tempDir("graft-asof-out")
    val input = MemoryStream[AsOfEvent]

    def start() = StreamingAsOf.latestDimPerEvent(input.toDS())
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.AsOfMatch], id: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/batch_$id")
      }.outputMode("update").start()

    val q1 = start()
    try {
      input.addData(Seq(dim("k", "2024-01-01 10:00:00", "v1"),
        ev("k", "2024-01-01 10:30:00")))
      q1.processAllAvailable()
    } finally q1.stop()

    // events arriving while the query is down must still see the
    // dimension version recorded in the CHECKPOINTED state
    input.addData(Seq(ev("k", "2024-01-01 11:00:00")))

    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(s"$out/batch_*")
      .as[(String, java.sql.Timestamp, Option[java.sql.Timestamp], Option[String])]
      .collect().map(r => (r._2.toString, r._4)).toSet
    assert(got === Set(
      ("2024-01-01 10:30:00.0", Some("v1")),
      ("2024-01-01 11:00:00.0", Some("v1"))),
      "exactly one match per event; history from before the restart serves the late event")
  }

  test("same results under the RocksDB state store provider") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = run(Seq(
        Seq(dim("k", "2024-01-01 10:00:00", "v1"),
          dim("k", "2024-01-01 12:00:00", "v2")),
        Seq(ev("k", "2024-01-01 11:00:00"),
          ev("k", "2024-01-01 12:30:00"))))
      assert(out === Set(
        ("2024-01-01 11:00:00.0", Some("2024-01-01 10:00:00.0"), Some("v1")),
        ("2024-01-01 12:30:00.0", Some("2024-01-01 12:00:00.0"), Some("v2"))))
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("keys are independent") {
    val out = run(Seq(Seq(
      dim("a", "2024-01-01 10:00:00", "va"),
      dim("b", "2024-01-01 10:00:00", "vb"),
      ev("a", "2024-01-01 11:00:00"))))
    assert(out === Set(
      ("2024-01-01 11:00:00.0", Some("2024-01-01 10:00:00.0"), Some("va"))))
  }
}
