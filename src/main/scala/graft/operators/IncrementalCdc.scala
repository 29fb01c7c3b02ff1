package graft.operators

import graft.functions.GramFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental CONTENT-level dedup — [[IncrementalDedup]]'s chunk-
  * granular sibling: each arriving batch is CDC-chunked once
  * ([[graft.functions.GramHashes.cdcChunks]]), its chunk hashes
  * equi-joined against the PERSISTED corpus chunk store, and its own
  * chunks folded in. Where the MinHash path answers "which batch docs
  * near-duplicate an existing doc?", this answers "which batch docs
  * SHARE PASSAGES with an existing doc, and how much?" — boilerplate,
  * quoted blocks, and re-posted fragments that whole-doc signatures
  * dilute, caught at ingest time for O(batch + collisions), never by
  * re-chunking the corpus.
  *
  * Exactness: a doc's chunk set depends only on its own text (CDC
  * boundaries are local), so batch-computed chunks equal full-rerun
  * chunks, and with disjoint ids
  *   pairs(corpus ∪ batch) = pairs(corpus) ∪ incremental(batch, corpus)
  * per-pair including `shared_chunks` (IncrementalCdcSpec asserts it).
  *
  * Plan shape: the candidate join is equi on the chunk hash with both
  * sides (id, hash)-narrow; a hot boilerplate chunk is the one skew
  * risk, guarded by the same df-cap/anti-join as [[Dedup.shingles]].
  */
object IncrementalCdc {

  /** Distinct (id, h) chunk-hash rows of a corpus — the relation the
    * store persists and the pair join consumes. Distinct per doc:
    * shared_chunks counts shared CONTENT, not repetition within one
    * document, and makes re-delivered rows idempotent in the store.
    */
  def chunkHashes(docs: DataFrame, w: Int = 8, divisor: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.filter(length(col(textCol)) > 0)
      .select(col(idCol).as("id"),
        explode(GramFunctions.cdcChunks(col(textCol), w, divisor)).as("c"))
      .select(col("id"), col("c.hash").as("h"))
      .distinct()

  /** Chunk-sharing pairs INVOLVING the batch: batch×(corpus ∪ batch),
    * oriented id_a < id_b, with the count of distinct shared chunk
    * hashes. Overlapping ids (re-delivery) are tolerated: a doc is
    * never its own match, and the distinct pair-hash relation collapses
    * duplicate evidence, so a re-run batch yields the identical list.
    */
  def incrementalChunkPairs(batchChunks: DataFrame, corpusChunks: DataFrame,
      maxDocFreq: Option[Long] = None): DataFrame = {
    val b0 = Materialize.shared(batchChunks)
    val uni0 = corpusChunks.unionByName(b0).distinct()
    val (uni, b) = maxDocFreq match {
      case Some(cap) =>
        val hot = uni0.groupBy("h").agg(count(lit(1)).as("_df"))
          .filter(col("_df") > cap).select("h")
        (uni0.join(broadcast(hot), Seq("h"), "left_anti"),
          b0.join(broadcast(hot), Seq("h"), "left_anti"))
      case None => (uni0, b0)
    }
    b.select(col("id").as("_bid"), col("h"))
      .join(uni.select(col("id").as("_cid"), col("h")), Seq("h"))
      .filter(col("_bid") =!= col("_cid"))
      .select(least(col("_bid"), col("_cid")).as("id_a"),
        greatest(col("_bid"), col("_cid")).as("id_b"), col("h"))
      .distinct() // batch-internal pairs arrive in both orientations
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_chunks"))
  }

  /** Persist a batch's chunk rows into the keyed store (LWW by batch,
    * re-delivery idempotent — the [[IncrementalDedup]] discipline).
    * New stores are BUCKETED BY THE CHUNK HASH alone (r17 verdict item
    * 4): the pair join probes the store by `h`, so an h-bucketed store
    * lets [[readChunksForBatch]] read only the batch's hash buckets —
    * O(touched buckets) per batch instead of the whole corpus relation.
    * Existing (id, h)-bucketed stores keep their pin and fall back to
    * the full read.
    */
  def upsertChunks(chunks: DataFrame, storeDir: String, batchId: Long): Unit = {
    // request the h pin only on CREATION; an existing store keeps
    // whatever it was pinned with (an (id,h)-bucketed store must keep
    // folding, it just reads unpruned)
    val bc = if (KeyedUpsertSink.pinnedBucketCols(chunks.sparkSession,
      storeDir).isEmpty) Seq("h") else Seq.empty
    KeyedUpsertSink.upsertBatch(
      chunks.select(col("id"), col("h"), lit(batchId).as("batch_id")),
      storeDir, Seq("id", "h"), "batch_id", batchId, bucketCols = bc)
  }

  /** The persisted corpus chunk relation (id, h), or None pre-ingest. */
  def readChunks(spark: SparkSession, storeDir: String): Option[DataFrame] =
    KeyedUpsertSink.readStore(spark, storeDir).map(_.select("id", "h"))

  /** The corpus chunk relation RESTRICTED to the buckets the batch's
    * hashes touch — exact for the pair join (it matches on `h`, and an
    * h-bucketed store holds every row of a given `h` in one bucket).
    * Falls back to the full relation on a store bucketed by (id, h).
    */
  def readChunksForBatch(spark: SparkSession, storeDir: String,
      batchChunks: DataFrame): Option[DataFrame] =
    KeyedUpsertSink.pinnedBucketCols(spark, storeDir) match {
      case Some(Seq("h")) =>
        KeyedUpsertSink.readStoreForKeys(spark, storeDir,
          batchChunks.select("h"), Seq("h")).map(_.select("id", "h"))
      case Some(_) => readChunks(spark, storeDir)
      case None => None
    }

  /** End-to-end ingest: chunk the batch, mine its passage-sharing pairs
    * against the store (plus batch-internal), fold the chunks in.
    * Result is materialized before the upsert for the same
    * compaction-grace reason as [[IncrementalDedup.ingestBatch]].
    */
  def ingestBatch(batch: DataFrame, storeDir: String, batchId: Long,
      w: Int = 8, divisor: Int = 64, maxDocFreq: Option[Long] = None,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ch = Materialize.shared(chunkHashes(batch, w, divisor, idCol, textCol))
    val pairs = readChunksForBatch(batch.sparkSession, storeDir, ch) match {
      case Some(corpus) => incrementalChunkPairs(ch, corpus, maxDocFreq)
      case None         => incrementalChunkPairs(ch, ch.filter(lit(false)), maxDocFreq)
    }
    val out = Materialize.round(pairs)
    upsertChunks(ch, storeDir, batchId)
    out
  }

  /** foreachBatch adapter: continuous passage-level ingest dedup, pair
    * lists landing exactly-once under `pairsDir/batch=<id>` on
    * at-least-once delivery (per-batch Overwrite + re-delivery-stable
    * pair mining).
    */
  def ingester(storeDir: String, pairsDir: String, w: Int = 8,
      divisor: Int = 64, maxDocFreq: Option[Long] = None,
      idCol: String = "doc_id", textCol: String = "text"): (DataFrame, Long) => Unit =
    (batch, id) =>
      ingestBatch(batch, storeDir, id, w, divisor, maxDocFreq, idCol,
          textCol)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$pairsDir/batch=$id")
}
