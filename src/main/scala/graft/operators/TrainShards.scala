package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextHash

/** Deterministic TRAINING-SHARD writer — the last mile of the LLM data
  * pipeline: packed sequences ([[SequencePack.packOffsets]] output)
  * dealt into `numShards` fixed-count shards in a hash-derived global
  * order, then written exactly-once per shard directory.
  *
  * Why hash order, not id order: training wants each shard (and each
  * position within a shard) to be an unbiased sample of the corpus —
  * consecutive doc ids are correlated (same crawl, same source, same
  * day), so dealing in id order would make shard k a topical slice.
  * The order key is [[TextHash.hash60]] of the id — the `corpus_split`
  * discipline: NO rand(), so assignment is a pure function of the row
  * and survives re-runs, retries, and engine changes (the oracle
  * replays it bit-for-bit in DuckDB).
  *
  * Fixed-count dealing: rows sorted by (hash, id) get a global rank;
  * `shard = rank % numShards`, `shard_pos = rank div numShards` — shard
  * sizes differ by at most 1 whatever the corpus, and intra-shard order
  * is the hash order restricted to the shard (still unbiased).
  *
  * Scale shape — the global rank is NOT a partitionless window (the
  * single-task anti-pattern PlanAuditSpec gates): hash60 is uniform on
  * [0, 2^60), so bucketing by a fixed range split of the hash value
  * needs no sampling and reproduces identically across passes (the
  * [[SequencePack.packOffsets]] two-phase discipline):
  *
  *  1. one hash aggregate counts rows per bucket (≤ `buckets` rows to
  *     the driver, independent of corpus size) → running-sum prefix
  *     offsets;
  *  2. a window partitioned BY BUCKET ranks within each bucket
  *     (max task ~ 1/buckets of the data) and adds the bucket offset.
  *
  * At 100 TB: every stage is one scan + one bounded-fanout exchange;
  * grow `buckets` with the corpus and no task ever exceeds
  * corpus/buckets rows.
  */
object TrainShards {

  /** Adds `shard` and `shard_pos` to `docs`. `idCol` must be unique and
    * non-null; every other column rides along untouched.
    */
  def shardAssign(docs: DataFrame, idCol: String = "doc_id",
      numShards: Int = 8, buckets: Int = 256): DataFrame =
    shardAssignBy(docs, Nil, idCol, numShards, buckets)

  /** [[shardAssign]] computed INDEPENDENTLY within each distinct value
    * of `partitionCols` (string/integral columns), in one pass: bucket
    * counts per (group, bucket), rank reset per group — bit-identical
    * to one [[shardAssign]] call per group unioned, at one driver
    * round-trip instead of one per group (the `c4_shards` shape: three
    * splits dealt in a single two-phase pass).
    */
  def shardAssignBy(docs: DataFrame, partitionCols: Seq[String],
      idCol: String = "doc_id",
      numShards: Int = 8, buckets: Int = 256): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    val reserved = Set("shard", "shard_pos", "_skey", "_bucket", "_boff", "_grp")
    require(!docs.columns.exists(reserved),
      s"input must not carry reserved shard columns ${reserved.mkString(",")}")
    val spark = docs.sparkSession
    val pcols = partitionCols.map(col)
    // materialize once: both phases (bucket counts, rank) re-read the
    // input, and its lineage may be an expensive packing chain
    val base = docs.withColumn("_skey", TextHash.hash60(col(idCol)))
      .transform(Materialize.shared)
    // fixed range split of the 60-bit hash space — deterministic across
    // passes, no sampling (unlike repartitionByRange boundaries)
    val width = (1L << 60) / buckets + 1L
    val bucketExpr = expr(s"CAST(_skey DIV ${width}L AS BIGINT)").as("_bucket")
    val grpExpr =
      if (partitionCols.isEmpty) lit("")
      else concat_ws("", partitionCols.map(c =>
        coalesce(col(c).cast("string"), lit(" null"))): _*)

    // phase 1: per-(group, bucket) counts -> driver -> offsets with the
    // accumulator reset at each group boundary
    val counts = base.select(grpExpr.as("_grp"), bucketExpr)
      .groupBy("_grp", "_bucket").count()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    var curGrp: String = null
    var acc = 0L
    val offsets = counts.map { case (g, b, n) =>
      if (g != curGrp) { curGrp = g; acc = 0L }
      val row = (g, b, acc); acc += n; row
    }
    if (offsets.isEmpty) {
      return docs.withColumn("shard", lit(0L)).withColumn("shard_pos", lit(0L))
    }
    val offsetDf = spark.createDataFrame(offsets.toSeq)
      .toDF("_grp", "_bucket", "_boff")

    // phase 2: within-(group, bucket) rank (ties impossible on unique
    // ids; the id tiebreak keeps the order total even if hash60 ever
    // collides)
    val w = Window.partitionBy((pcols :+ col("_bucket")): _*)
      .orderBy(col("_skey"), col(idCol))
    base.withColumn("_bucket", bucketExpr)
      .withColumn("_grp", grpExpr)
      .join(broadcast(offsetDf), Seq("_grp", "_bucket"))
      .withColumn("_rank",
        (row_number().over(w).cast("long") - 1L) + col("_boff"))
      .withColumn("shard", pmod(col("_rank"), lit(numShards.toLong)))
      .withColumn("shard_pos", expr(s"_rank DIV ${numShards}L"))
      .drop("_skey", "_bucket", "_boff", "_grp", "_rank")
  }

  /** Write the assigned shards exactly-once: one `shard=<k>` directory
    * per shard under `outDir`, rows stored in `shard_pos` order within
    * each shard's files. Everything upstream is a pure function of the
    * input rows (hash order, no rand(), no timestamps), so a re-run —
    * crash recovery, re-delivery, a second writer — OVERWRITES each
    * shard directory with equal bytes: the write is idempotent per
    * shard dir, the same contract as [[DeltaLog.writeDelta]].
    */
  def writeShards(assigned: DataFrame, outDir: String,
      numShards: Int): Unit = {
    val spark = assigned.sparkSession
    val saved = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      assigned
        // one task per shard, rows sorted so the parquet row order IS the
        // training order (readers stream a shard front-to-back)
        .repartition(numShards, col("shard"))
        .sortWithinPartitions(col("shard"), col("shard_pos"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("shard")
        .parquet(outDir)
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Read back the sharded corpus with the `shard` partition column.
    * [[writeShards]] stores each shard's rows in `shard_pos` order and
    * (with hash-distinct shard keys) one file per shard dir, so a
    * single-shard scan streams in training order; a reader that cannot
    * rely on file order (multi-file shards after a re-partitioned
    * rewrite) should sort by `shard_pos` — the order is IN the data,
    * not only in the layout.
    */
  def readShards(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
}
