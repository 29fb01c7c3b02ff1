package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental IMAGE near-dup — the perceptual-hash sibling of
  * [[IncrementalDedup]] (MinHash text) and [[IncrementalCdc]] (shared
  * passages): each arriving media batch is dHash-fingerprinted once
  * ([[graft.functions.PerceptualHash]], map-only — payload bytes never
  * shuffle), its signature blocks equi-joined against the PERSISTED
  * corpus hash store by the [[Dedup.hammingPairs64]] pigeonhole, and
  * its own hashes folded in. "Which incoming images near-duplicate one
  * we already hold?" answered at ingest time for O(batch + collisions),
  * never by re-hashing the corpus.
  *
  * Exactness: a payload's dHash depends only on its own bytes, so
  * batch-computed hashes equal full-rerun hashes, and with disjoint ids
  *   pairs(corpus ∪ batch) = pairs(corpus) ∪ incremental(batch, corpus)
  * per pair including the hamming distance (IncrementalPhashSpec
  * asserts it against a full [[Dedup.hammingPairs64]] rerun).
  *
  * Plan shape: candidates are equi on (block, 16-bit value); both join
  * sides are (id, 8-byte hash) — nothing payload-sized moves. The skew
  * guard is the same `maxBlockFreq` cap as the one-shot miner, computed
  * over corpus ∪ batch so the incremental answer matches the rerun
  * under the cap too.
  */
object IncrementalPhash {

  /** `(id, h)` dHash rows of a media relation (payloads under 72 bytes
    * fingerprint as null and are excluded — they cannot near-dup).
    */
  def phashes(media: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload"): DataFrame =
    media.select(col(idCol).as("id"),
        graft.functions.PerceptualHashFunctions
          .perceptualHash(col(payloadCol)).getField("dhash").as("h"))
      .filter(col("h").isNotNull)
      .distinct()

  /** Hamming <= maxHamming pairs INVOLVING the batch: batch×(corpus ∪
    * batch), oriented id_a < id_b. Re-delivered ids are tolerated: the
    * distinct (id, h) union collapses them, a doc never pairs with
    * itself, and the pair relation dedups multi-block matches.
    */
  def incrementalPhashPairs(batchHashes: DataFrame, corpusHashes: DataFrame,
      maxHamming: Int = 3, blockBits: Int = 16,
      maxBlockFreq: Option[Long] = None): DataFrame = {
    require(blockBits == 8 || blockBits == 16,
      s"blockBits must be 8 or 16, got $blockBits")
    val blocks = 64 / blockBits
    val mask = (1L << blockBits) - 1L
    require(maxHamming >= 0 && maxHamming < blocks,
      s"pigeonhole blocking needs 0 <= maxHamming < $blocks, got $maxHamming")
    val b0 = Materialize.shared(batchHashes.select("id", "h"))
    val uni0 = corpusHashes.select("id", "h").unionByName(b0).distinct()
    def blockRows(df: DataFrame) = df.select(col("id"), col("h"),
      explode(array((0 until blocks).map(b =>
        struct(lit(b).as("block"),
          shiftright(col("h"), b * blockBits).bitwiseAND(mask).as("byte"))): _*)).as("bb"))
      .select(col("id"), col("h"), col("bb.block"), col("bb.byte"))
    val (uni, b) = maxBlockFreq match {
      case Some(cap) =>
        val hot = blockRows(uni0).groupBy("block", "byte")
          .agg(count(lit(1)).as("_df")).filter(col("_df") > cap)
          .select("block", "byte")
        (blockRows(uni0).join(broadcast(hot), Seq("block", "byte"), "left_anti"),
          blockRows(b0).join(broadcast(hot), Seq("block", "byte"), "left_anti"))
      case None => (blockRows(uni0), blockRows(b0))
    }
    b.select(col("id").as("_bid"), col("h").as("_bh"),
        col("block"), col("byte"))
      .join(uni.select(col("id").as("_cid"), col("h").as("_ch"),
        col("block"), col("byte")), Seq("block", "byte"))
      .filter(col("_bid") =!= col("_cid"))
      .select(least(col("_bid"), col("_cid")).as("id_a"),
        greatest(col("_bid"), col("_cid")).as("id_b"),
        bit_count(col("_bh").bitwiseXOR(col("_ch"))).as("hamming"))
      .distinct() // multi-block matches + both batch-internal orientations
      .filter(col("hamming") <= maxHamming)
  }

  /** Persist a batch's hash rows into the keyed store (LWW by batch,
    * re-delivery idempotent — the [[IncrementalDedup]] discipline).
    */
  def upsertHashes(hashes: DataFrame, storeDir: String, batchId: Long): Unit =
    KeyedUpsertSink.upsertBatch(
      hashes.select(col("id"), col("h"), lit(batchId).as("batch_id")),
      storeDir, Seq("id"), "batch_id", batchId)

  /** The persisted corpus hash relation (id, h), or None pre-ingest. */
  def readHashes(spark: SparkSession, storeDir: String): Option[DataFrame] =
    KeyedUpsertSink.readStore(spark, storeDir).map(_.select("id", "h"))

  /** End-to-end ingest: fingerprint the batch, mine its near-dup pairs
    * against the store (plus batch-internal), fold the hashes in.
    * Result materialized before the upsert so a later compaction
    * cannot delete this result's input store deltas.
    */
  def ingestBatch(batch: DataFrame, storeDir: String, batchId: Long,
      maxHamming: Int = 3, blockBits: Int = 16,
      maxBlockFreq: Option[Long] = None,
      idCol: String = "doc_id", payloadCol: String = "payload"): DataFrame = {
    val ph = Materialize.shared(phashes(batch, idCol, payloadCol))
    val pairs = readHashes(batch.sparkSession, storeDir) match {
      case Some(corpus) =>
        incrementalPhashPairs(ph, corpus, maxHamming, blockBits, maxBlockFreq)
      case None =>
        incrementalPhashPairs(ph, ph.filter(lit(false)), maxHamming,
          blockBits, maxBlockFreq)
    }
    val out = Materialize.round(pairs)
    upsertHashes(ph, storeDir, batchId)
    out
  }

  /** foreachBatch adapter: continuous image near-dup at ingest, pair
    * lists landing exactly-once under `pairsDir/batch=<id>` on
    * at-least-once delivery.
    */
  def ingester(storeDir: String, pairsDir: String, maxHamming: Int = 3,
      blockBits: Int = 16, maxBlockFreq: Option[Long] = None,
      idCol: String = "doc_id", payloadCol: String = "payload"): (DataFrame, Long) => Unit =
    (batch, id) =>
      ingestBatch(batch, storeDir, id, maxHamming, blockBits, maxBlockFreq,
          idCol, payloadCol)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$pairsDir/batch=$id")
}
