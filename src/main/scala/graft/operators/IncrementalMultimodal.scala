package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental CROSS-MODAL (image, caption) near-dup — the ingest-time
  * face of [[graft.sources.MediaColumns.pairedNearDupEdges]], composed
  * from the two persisted single-modality stores: each arriving batch
  * of paired docs is dHash-mined against the [[IncrementalPhash]] hash
  * store (image edges) AND MinHash-LSH-mined against an
  * [[IncrementalDedup]] signature store over the CAPTION column
  * (caption edges), the union tagged by modality. A scraped
  * image-caption corpus is inherently a stream — the mirror
  * re-captioning a held photo and the thumbnail re-encoding under a
  * held alt-text both arrive LATER than the original — so the
  * LAION-style dedup has to run at ingest, O(batch + collisions),
  * never by re-hashing the corpus.
  *
  * Generator note (the one-shot/incremental seam, same stance as the
  * text family): the BATCH operator's caption edges are exact n-gram
  * Jaccard; at ingest the caption side rides MinHash-LSH signatures —
  * the persistable sketch — exactly as [[IncrementalDedup]] relates to
  * `dedup_ngram_jaccard`. The image side is identical in both (dHash
  * is already per-doc-local). Exactness of the fold: both sides'
  * signatures depend only on their own row, so with disjoint ids
  * incremental(batch, corpus) == rerun(corpus ∪ batch) restricted to
  * pairs involving the batch, per edge including its score — each side
  * spec-proven alone, the union proven in IncrementalMultimodalSpec.
  */
object IncrementalMultimodal {

  /** Tagged near-dup edges involving the batch, mined against both
    * persisted stores, then both stores folded forward. `paired` needs
    * `(doc_id, payload, caption)`. Result is materialized before the
    * store upserts (the [[IncrementalDedup.ingestBatch]] discipline).
    */
  def ingestBatch(paired: DataFrame, baseDir: String, batchId: Long,
      maxHamming: Int = 3, n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      minAgreement: Double = 0.5,
      maxBlockFreq: Option[Long] = None): DataFrame = {
    val spark = paired.sparkSession
    val ph = Materialize.shared(IncrementalPhash.phashes(paired))
    val sigs = Materialize.shared(Dedup.minHashSignatures(paired, n,
      numHashes, idCol = "doc_id", textCol = "caption"))
    val img = (IncrementalPhash.readHashes(spark, s"$baseDir/phash") match {
      case Some(corpus) => IncrementalPhash.incrementalPhashPairs(ph, corpus,
        maxHamming, maxBlockFreq = maxBlockFreq)
      case None => IncrementalPhash.incrementalPhashPairs(ph,
        ph.filter(lit(false)), maxHamming, maxBlockFreq = maxBlockFreq)
    }).select(col("id_a"), col("id_b"), lit("image").as("modality"))
    // the caption leg rides IncrementalDedup's shared mining path:
    // bucket-pruned against the capsigs band index when present (the
    // store is written through upsertSignatures, so fresh stores always
    // have one), full-scan only for legacy index-less stores — the same
    // O(batch) read bound as the dedup ingest (r19)
    val cap = IncrementalDedup.minePairs(sigs, s"$baseDir/capsigs",
        numHashes, bands, minAgreement)
      .select(col("id_a"), col("id_b"), lit("caption").as("modality"))
    val out = Materialize.round(img.unionByName(cap))
    IncrementalPhash.upsertHashes(ph, s"$baseDir/phash", batchId)
    IncrementalDedup.upsertSignatures(sigs, s"$baseDir/capsigs", batchId)
    out
  }

  /** foreachBatch adapter: tagged edge lists land exactly-once under
    * `baseDir/pairs/batch=<id>` on at-least-once delivery.
    */
  def ingester(baseDir: String, maxHamming: Int = 3, n: Int = 3,
      numHashes: Int = 16, bands: Int = 4, minAgreement: Double = 0.5,
      maxBlockFreq: Option[Long] = None): (DataFrame, Long) => Unit =
    (batch, id) =>
      ingestBatch(batch, baseDir, id, maxHamming, n, numHashes, bands,
          minAgreement, maxBlockFreq)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$baseDir/pairs/batch=$id")

  /** Every tagged edge mined so far (with its `batch` column). */
  def minedEdges(spark: SparkSession, baseDir: String): DataFrame =
    spark.read.parquet(s"$baseDir/pairs")

  /** The consumable end over everything ingested: one CC over the
    * union of all mined edges (transitive ACROSS modalities and across
    * batches), one representative pair kept per cluster.
    */
  def keptPairs(paired: DataFrame, spark: SparkSession,
      baseDir: String): DataFrame =
    Dedup.dropNearDups(paired,
      Dedup.nearDupClusters(
        minedEdges(spark, baseDir).select("id_a", "id_b").distinct()))
}
