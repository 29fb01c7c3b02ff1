package graft.streaming

import org.apache.spark.sql.SparkSession

/** The micro-batch shuffle-partition rule, in code instead of a
  * footnote: a stateful micro-batch query wants shuffle (= state)
  * partitions sized to batch VOLUME, not cores.
  *
  * Cost model (Structured Streaming, SIGMOD 2018: a trigger costs a
  * fixed part plus per-row work). For the trip pipeline the fixed part
  * is state-store commits: every state partition opens and commits one
  * HDFS-backed store per stateful operator on every trigger (1 for
  * [[StreamingTripPipeline.pipeline]]: its keyed-state matcher), each
  * commit writing a checksummed delta file — and it is paid again on
  * every no-data trigger after a watermark advance. Concurrent
  * commits slow each other down, so adding partitions multiplies the
  * fixed part instead of hiding it; they pay only once the per-row work
  * of one partition outweighs it.
  *
  * The rule: `partitions = clamp(ceil(batchRows / targetRows), 1,
  * cores)` with targetRows = 8192. Measured on the trip pipeline's
  * former dedup + join matcher, which committed 6 stores per partition
  * (4 vCPUs, a 16,000-event drain, state partitions 4 / 2 / 1):
  * 4,000-event batches took 6.4 / 5.1 / 4.4 s, so partitions of 1-2k
  * rows only lose; 16,000-event batches took 2.1 / 1.8 / 1.7 s, where 1
  * and 2 partitions are within run-to-run noise — ~8k rows is where a
  * second partition stops costing. Traced at 4,000-event batches, 4
  * partitions -> 1 cut summed state-commit time 27.9 s -> 3.1 s and task
  * wall 43.7 s -> 8.5 s at nearly equal task CPU (4.0 s -> 3.1 s): the
  * removed time was commits waiting on each other.
  *
  * Most of that fixed part was process starts, not I/O: without Hadoop's
  * native library each checkpoint file cost a `chmod` fork and each
  * FileContext rename a `readlink` fork (~40 ms a file), until
  * [[LocalCheckpointFileManager]] took local commits onto java.nio
  * (~0.3 ms a file). The 8,192 constant was measured with those forks,
  * so a state partition's commit now costs far less than it assumes;
  * re-measure it before relying on it, and before changing it.
  *
  * Caveat that keeps this a STARTUP decision, not a per-batch one:
  * Spark pins a stateful streaming query's state-store partition
  * count at FIRST checkpoint — it cannot change across restarts
  * without rebuilding state. So pick the expected steady-state batch
  * volume once, call [[configure]] before `.start()`, and keep the
  * checkpoint. (Stateless foreachBatch sinks — [[IngestPipeline]] —
  * have no pinned state and may re-apply the rule per batch.)
  */
object MicroBatchTuning {

  /** Rows per state partition at which one more partition's per-row
    * parallelism pays for its per-trigger state-store commits.
    */
  val TargetRowsPerPartition = 8192L

  /** Rows per shuffle partition for STATELESS batches, which open no
    * state stores: there the fixed per-partition cost is only task
    * launch, so smaller partitions keep the cores busy.
    */
  val StatelessRowsPerPartition = 256L

  /** Shuffle partitions for an expected steady-state micro-batch
    * volume: batch-volume-proportional, never more than the session's
    * cores (state stores beyond cores only add open/commit overhead),
    * never less than 1.
    */
  def shufflePartitionsFor(expectedBatchRows: Long, cores: Int,
      targetRowsPerPartition: Long = TargetRowsPerPartition): Int = {
    require(expectedBatchRows >= 0 && cores >= 1 && targetRowsPerPartition >= 1)
    val wanted = (expectedBatchRows + targetRowsPerPartition - 1) /
      targetRowsPerPartition
    math.max(1L, math.min(wanted, cores.toLong)).toInt
  }

  /** Apply the rule to the session before starting a streaming query.
    * Returns the chosen partition count. `cores` defaults to the
    * session's scheduler parallelism (= local[N] threads / executor
    * cores).
    */
  def configure(spark: SparkSession, expectedBatchRows: Long,
      cores: Option[Int] = None): Int = {
    val n = shufflePartitionsFor(expectedBatchRows,
      cores.getOrElse(spark.sparkContext.defaultParallelism))
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    n
  }

  /** Run `thunk` with the rule applied for one batch's actual volume at
    * [[StatelessRowsPerPartition]], restoring the previous setting after
    * — the per-batch variant for STATELESS foreachBatch sinks, where no
    * checkpoint pins the count and no state store is committed.
    *
    * Scope caveat (ADVICE r15): `spark.sql.shuffle.partitions` is
    * SESSION-global — any OTHER query planned against the same session
    * while `thunk` runs sees the temporary value. The model this serves
    * is one foreachBatch writer per session (the single-writer sink
    * contract every store here already assumes); a deployment running
    * unrelated concurrent queries should hand the sink its own
    * `spark.newSession()`. Two concurrent withBatchVolume calls on ONE
    * session additionally serialize on the session's conf object below,
    * so the save/restore pair can never interleave and strand the wrong
    * value.
    */
  def withBatchVolume[T](spark: SparkSession, batchRows: Long)(
      thunk: => T): T = spark.conf.synchronized {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      shufflePartitionsFor(batchRows, spark.sparkContext.defaultParallelism,
        StatelessRowsPerPartition).toString)
    try thunk
    finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }
}
