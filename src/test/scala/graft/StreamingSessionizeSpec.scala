package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sessionize
import graft.streaming.StreamingSessionize

/** One keyed event on the streaming sessionize test feed. */
case class SessionizeTestEvent(user: String, ts: java.sql.Timestamp, v: Double)

/** MemoryStream tests for streaming sessionization: closed sessions
  * equal the batch operator on the same feed, sessions split across
  * micro-batches merge, and an open session is withheld until the
  * watermark passes it.
  */
class StreamingSessionizeSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private type E = SessionizeTestEvent
  private val E = SessionizeTestEvent
  private def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
  private def e(u: String, min: Int, v: Double) = E(u, ts(min), v)

  private var n = 0
  /** Runs the streaming sessionizer (10 min gap, zero lateness) over
    * the batches and returns the emitted (closed) sessions.
    */
  private def run(batches: Seq[Seq[E]]): Set[(String, Long, Long, Long, Double)] = {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[E]
    n += 1
    val name = s"sessionize_out_$n"
    val q = StreamingSessionize.sessions(input.toDF(), col("user"), "ts",
        col("v"), gap = "10 minutes", watermark = "0 seconds")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table(name)
      .as[(String, java.sql.Timestamp, java.sql.Timestamp, Long, Double)]
      .collect()
      .map(r => (r._1, r._2.getTime / 60000L, r._3.getTime / 60000L, r._4, r._5))
      .toSet
  }

  // a far-future tick whose own session stays open, closing everything else
  private val flush = e("zz_flush", 10000, 0.0)

  test("closed sessions equal the batch operator on the same feed") {
    val feed = Seq(
      e("u1", 1, 1.0), e("u1", 5, 2.0), e("u1", 30, 4.0), // two sessions
      e("u2", 3, 8.0), // singleton
      e("u2", 13, 1.0)) // exactly gap-boundary: merges (inclusive)
    val streamed = run(Seq(feed :+ flush))
    val batch = Sessionize.sessions(feed.toDF(), col("user"), col("ts"),
        col("v"), gap = "10 minutes")
      .as[(String, java.sql.Timestamp, java.sql.Timestamp, Long, Double)]
      .collect()
      .map(r => (r._1, r._2.getTime / 60000L, r._3.getTime / 60000L, r._4, r._5))
      .toSet
    assert(streamed === batch)
    assert(batch === Set(
      ("u1", 1L, 5L, 2L, 3.0), ("u1", 30L, 30L, 1L, 4.0),
      ("u2", 3L, 13L, 2L, 9.0)))
  }

  test("a session split across micro-batches merges into one row") {
    val streamed = run(Seq(
      Seq(e("u3", 100, 1.0)),
      Seq(e("u3", 105, 2.0)), // within gap of the open session
      Seq(flush)))
    assert(streamed === Set(("u3", 100L, 105L, 2L, 3.0)))
  }

  test("an open session is withheld until the watermark passes it") {
    val early = run(Seq(Seq(e("u4", 1, 1.0)))) // nothing advances the clock
    assert(early.isEmpty, "open session must not be emitted")
    val closed = run(Seq(Seq(e("u4", 1, 1.0)), Seq(flush)))
    assert(closed === Set(("u4", 1L, 1L, 1L, 1.0)))
  }

  test("restart from checkpoint: open session state survives, no dup/loss") {
    implicit val ctx = spark.sqlContext
    val ckpt = tempDir("sess-ckpt")
    val out = tempDir("sess-out")
    val input = MemoryStream[E] // SAME instance across both query runs
    def start() = StreamingSessionize.sessions(input.toDF(), col("user"),
        "ts", col("v"), gap = "10 minutes", watermark = "0 seconds")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/batch_$id")
      }.start()

    val q1 = start()
    try { input.addData(Seq(e("u5", 1, 1.0))); q1.processAllAvailable() }
    finally q1.stop() // u5's session is OPEN keyed state at shutdown
    input.addData(Seq(e("u5", 5, 2.0))) // arrives while the query is down
    val q2 = start()
    try { input.addData(Seq(flush)); q2.processAllAvailable() }
    finally q2.stop()

    val got = spark.read.parquet(s"$out/batch_*")
      .as[(String, java.sql.Timestamp, java.sql.Timestamp, Long, Double)]
      .collect()
      .map(r => (r._1, r._2.getTime / 60000L, r._3.getTime / 60000L, r._4, r._5))
      .toSeq
    // ONE merged session spanning the restart — the pre-restart event
    // and the while-down event fused from recovered state, emitted once
    assert(got === Seq(("u5", 1L, 5L, 2L, 3.0)))
  }
}
