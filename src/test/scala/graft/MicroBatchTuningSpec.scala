package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.MicroBatchTuning

class MicroBatchTuningSpec extends AnyFunSuite with SparkTestBase {

  test("the rule: batch-volume-proportional, clamped to [1, cores]") {
    import MicroBatchTuning.shufflePartitionsFor
    // the measured operating point: a 4,000-row batch commits its state
    // in ONE partition even with cores to spare
    assert(shufflePartitionsFor(4000, 4) === 1)
    assert(shufflePartitionsFor(1000, 32) === 1)
    // tiny batches never fan out below one row-carrying partition
    assert(shufflePartitionsFor(0, 32) === 1)
    assert(shufflePartitionsFor(1, 32) === 1)
    // huge batches cap at cores (more state stores only add overhead)
    assert(shufflePartitionsFor(1000000, 32) === 32)
    assert(shufflePartitionsFor(1000000, 4) === 4)
    // exact boundary arithmetic (ceil) at ~8k rows per partition
    assert(shufflePartitionsFor(8192, 32) === 1)
    assert(shufflePartitionsFor(8193, 32) === 2)
    assert(shufflePartitionsFor(16384, 32) === 2)
    assert(shufflePartitionsFor(16385, 32) === 3)
  }

  test("configure sets the session conf and returns the choice") {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val n = MicroBatchTuning.configure(spark, 20000, cores = Some(32))
      assert(n === 3)
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "3")
      assert(MicroBatchTuning.configure(spark, 4000, cores = Some(4)) === 1)
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "1")
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("withBatchVolume applies per-batch and restores after") {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    val inside = MicroBatchTuning.withBatchVolume(spark, 1000) {
      spark.conf.get("spark.sql.shuffle.partitions")
    }
    // stateless batches keep 256 rows per partition, not the stateful 8k
    assert(inside.toInt === math.min(4, spark.sparkContext.defaultParallelism))
    assert(spark.conf.get("spark.sql.shuffle.partitions") === saved)
    // restores even when the body throws
    intercept[RuntimeException] {
      MicroBatchTuning.withBatchVolume(spark, 5) { throw new RuntimeException }
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") === saved)
  }
}
