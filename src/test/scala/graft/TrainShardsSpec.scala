package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextAnalysis, TextHash}
import graft.operators.{SequencePack, TrainShards}

class TrainShardsSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def packed = SequencePack.packOffsets(
    TextAnalysis.withTokenCounts(Tables.documents(spark, sf))
      .select(col("doc_id"), col("ws_tokens")))

  test("two-phase bucketed rank equals the single-task window deal") {
    // the naive global window is the spec, not the implementation;
    // buckets=7 forces several bucket boundaries even at tiny sf
    val naive = packed
      .withColumn("_skey", TextHash.hash60(col("doc_id")))
      .withColumn("_rank", row_number().over(
        Window.orderBy(col("_skey"), col("doc_id"))).cast("long") - 1L)
      .withColumn("shard", pmod(col("_rank"), lit(8L)))
      .withColumn("shard_pos", expr("_rank DIV 8L"))
      .select("doc_id", "shard", "shard_pos")
    val fast = TrainShards.shardAssign(packed, numShards = 8, buckets = 7)
      .select("doc_id", "shard", "shard_pos")
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
  }

  test("shards are fixed-count (sizes differ by at most one)") {
    val sizes = TrainShards.shardAssign(packed, numShards = 8)
      .groupBy("shard").count().select("count")
      .collect().map(_.getLong(0))
    assert(sizes.length === 8)
    assert(sizes.max - sizes.min <= 1,
      s"shard sizes must differ by <= 1, got ${sizes.mkString(",")}")
  }

  test("shard_pos is dense per shard and follows hash order") {
    val rows = TrainShards.shardAssign(packed, numShards = 4)
      .withColumn("_skey", TextHash.hash60(col("doc_id")))
      .select("shard", "shard_pos", "_skey", "doc_id")
      .collect().groupBy(_.getLong(0))
    rows.foreach { case (_, rs) =>
      val byPos = rs.sortBy(_.getLong(1))
      assert(byPos.map(_.getLong(1)).toSeq === byPos.indices.map(_.toLong),
        "shard_pos must be dense 0..n-1 within each shard")
      val keys = byPos.map(r => (r.getLong(2), r.getLong(3))).toSeq
      assert(keys === keys.sorted,
        "intra-shard order must follow the (hash, id) order")
    }
  }

  test("writeShards is exactly-once per shard dir and idempotent") {
    val dir = tempDir("shards")
    val assigned = TrainShards.shardAssign(packed, numShards = 4)
      .localCheckpoint(false)
    TrainShards.writeShards(assigned, dir, numShards = 4)
    (0 until 4).foreach { k =>
      assert(new java.io.File(s"$dir/shard=$k").isDirectory,
        s"shard dir shard=$k must exist")
    }
    def snapshot() = TrainShards.readShards(spark, dir)
      .select("doc_id", "ws_tokens", "offset", "bin", "shard", "shard_pos")
      .collect().map(_.toSeq).sortBy(_.toString)
    val first = snapshot()
    // read-back equals the assignment relation
    val want = assigned
      .select("doc_id", "ws_tokens", "offset", "bin", "shard", "shard_pos")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(first.toSeq === want.toSeq)
    // re-delivery: a second writer run overwrites with equal rows
    TrainShards.writeShards(assigned, dir, numShards = 4)
    assert(snapshot().toSeq === first.toSeq)
    // and rows inside each shard's parquet are stored in training order
    val inFileOrder = spark.read.parquet(s"$dir/shard=0")
      .select("shard_pos").collect().map(_.getLong(0)).toSeq
    assert(inFileOrder === inFileOrder.sorted,
      "rows within a shard dir must be stored in shard_pos order")
  }

  test("reserved column names are rejected") {
    intercept[IllegalArgumentException] {
      TrainShards.shardAssign(packed.withColumn("shard", lit(1)))
    }
  }
}
