package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.KeyedUpsertSink

/** The batch trip store behind the `trip_store_lookup` contract query.
  * The streaming road to the same table is the two-hop topology
  * (TopologySpec).
  */
class TripStoreSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp() = tempDir("graft-tripstore")

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
