package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental ANN ingest — similarity search AT INGEST TIME: each new
  * batch of vectors is answered (top-k nearest over everything ingested
  * so far) and folded into a persisted index, without recomputing
  * anything over the corpus. The batch-arrival twin of
  * [[SimilaritySearch.lshBandedTopK]], shaped exactly like
  * [[IncrementalDedup]] is for text: a full-corpus rerun per arriving
  * batch would be O(corpus) work for an O(batch)-sized question.
  *
  * The persisted index ([[KeyedUpsertSink]] store keyed by vector id,
  * LWW by batch, re-delivery idempotent) carries per vector its
  * embedding, its norm, and its `tables` band buckets — all computed
  * ONCE, on the batch that first ingests it. A new batch computes only
  * its own |batch| band signatures and equi-joins them against the
  * stored buckets (ids-only on the corpus side — the big relation never
  * shuffles vectors), plus batch-internal candidates, then ranks by
  * exact cosine after re-attaching vectors with two hash joins.
  *
  * Exactness: buckets and norms depend only on their own vector, so
  * batch-computed values equal full-rerun values, and with batch ids
  * disjoint from the corpus (the new-vectors-only ingest contract)
  *   topK(corpus ∪ batch, batch) = incrementalTopK(batch, corpus)
  * row-for-row — IncrementalAnnSpec asserts the equality. Re-delivered
  * batches are tolerated: self-candidates are excluded and the batch
  * side's vector wins the scoring joins (same LWW rule as the store).
  */
object IncrementalAnn {

  /** The per-vector index row: (id, v, nrm, bands) — norm and the
    * `tables` band buckets precomputed so later ingests never touch the
    * vector math of already-indexed rows.
    */
  def indexRows(vecs: DataFrame, tables: Int = 4, bitsPerTable: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotF _
    vecs.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(dot(col(vecCol), col(vecCol))).as("nrm"),
      // one constant-code-size kernel call for all tables' buckets
      // (bit-identical to the per-plane form — see BandBucketsFloat)
      graft.functions.VectorFunctions.bandBucketsF(col(vecCol),
        tables, bitsPerTable).as("bands"))
  }

  /** Top-k per batch vector against the indexed corpus plus the batch
    * itself, banded-LSH candidates, exact-cosine ranking. `batchIdx` and
    * `corpusIdx` are [[indexRows]] relations. `multiProbe` probes each
    * QUERY band bucket's hamming-1 neighbors (recall lever, same as
    * [[SimilaritySearch.lshBandedCandidates]]).
    */
  def incrementalTopK(batchIdx: DataFrame, corpusIdx: DataFrame, k: Int,
      bitsPerTable: Int = 16, multiProbe: Boolean = false): DataFrame = {
    def bandRows(idx: DataFrame, id: String) = idx
      .select(col("id").as(id), posexplode(col("bands")).as(Seq("t", "bucket")))
    val probeRows = {
      val base = bandRows(batchIdx, "query_id")
      if (!multiProbe) base
      else base.select(col("query_id"), col("t"),
        explode(array(col("bucket") +: (0 until bitsPerTable).map(j =>
          col("bucket").bitwiseXOR(1L << j)): _*)).as("bucket"))
    }
    // candidate ids travel alone (the corpus side is the big relation);
    // batch-internal candidates come from the same probe relation so
    // multiprobe semantics match the union-corpus rerun exactly
    val cand = bandRows(corpusIdx, "id")
      .unionByName(bandRows(batchIdx, "id"))
      .join(probeRows, Seq("t", "bucket"))
      .filter(col("id") =!= col("query_id")) // re-delivered vector is not its own neighbor
      .select("query_id", "id").distinct()
    // batch vector wins where both sides know an id (the store's LWW rule)
    val all = batchIdx.unionByName(
      corpusIdx.join(broadcast(batchIdx.select("id")), Seq("id"), "left_anti"))
      .select(col("id"), col("v"), col("nrm"))
    val dot = graft.functions.VectorFunctions.dotF _
    val scored = cand
      .join(all, Seq("id"))
      .join(broadcast(batchIdx.select(col("id").as("query_id"),
        col("v").as("qv"), col("nrm").as("qnrm"))), Seq("query_id"))
      .withColumn("cosine", SimilaritySearch.cosineFromNorms(
        dot(col("qv"), col("v")), col("qnrm"), col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"),
        col("cosine"))
  }

  /** Persist a batch's index rows into the keyed store (LWW by
    * `batch_id`; re-delivery idempotent). The store lives under
    * `index/`, beside the band-parameter pin at the root.
    */
  def upsertIndex(idx: DataFrame, storeDir: String, batchId: Long): Unit =
    KeyedUpsertSink.upsertBatch(
      idx.select(col("id"), col("v"), col("nrm"), col("bands"),
        lit(batchId).as("batch_id")),
      s"$storeDir/index", Seq("id"), "batch_id", batchId)

  /** The persisted index relation, or None before the first ingest. */
  def readIndex(spark: SparkSession, storeDir: String): Option[DataFrame] =
    KeyedUpsertSink.readStore(spark, s"$storeDir/index")
      .map(_.select("id", "v", "nrm", "bands"))

  /** End-to-end ingest step: index the batch, answer its top-k against
    * the persisted corpus (plus batch-internal), fold the batch into the
    * store. Returns the top-k MATERIALIZED (same compaction-grace
    * rationale as [[IncrementalDedup.ingestBatch]]).
    */
  def ingestBatch(batch: DataFrame, storeDir: String, batchId: Long,
      k: Int = 10, tables: Int = 4, bitsPerTable: Int = 16,
      multiProbe: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // the stored bands are a function of (tables, bitsPerTable): a later
    // ingest with different parameters would probe buckets the stored
    // rows never hashed into — silently empty candidates, not an error.
    // Pin at first write, refuse mismatches (the sketch-store rule).
    // SIZE bitsPerTable TO THE PLANNED CORPUS at store creation
    // ([[SimilaritySearch.autoBandBits]]): band width cannot grow in
    // place — outgrowing the pin means a rebuild (read vectors, re-band
    // wider, write a fresh store), the standard ANN re-index.
    DeltaLog.pinParams(batch.sparkSession, storeDir,
      Map("tables" -> tables.toString,
        "bitsPerTable" -> bitsPerTable.toString))
    val idx = Materialize.shared(
      indexRows(batch, tables, bitsPerTable, idCol, vecCol))
    val topk = readIndex(batch.sparkSession, storeDir) match {
      case Some(corpusIdx) =>
        incrementalTopK(idx, corpusIdx, k, bitsPerTable, multiProbe)
      case None =>
        incrementalTopK(idx, idx.filter(lit(false)), k, bitsPerTable, multiProbe)
    }
    val out = Materialize.round(topk)
    upsertIndex(idx, storeDir, batchId)
    out
  }

  /** foreachBatch adapter — continuous ANN as a streaming sink:
    * `vecStream.writeStream.foreachBatch(IncrementalAnn.ingester(
    * storeDir, topkDir))`. Each micro-batch's neighbor list lands in
    * `topkDir/batch=<id>`; per-batch Overwrite + [[incrementalTopK]]'s
    * re-delivery tolerance make it exactly-once on top of at-least-once
    * delivery (the [[IncrementalDedup.ingester]] contract).
    */
  def ingester(storeDir: String, topkDir: String, k: Int = 10,
      tables: Int = 4, bitsPerTable: Int = 16, multiProbe: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): (DataFrame, Long) => Unit =
    (batch, id) =>
      ingestBatch(batch, storeDir, id, k, tables, bitsPerTable, multiProbe,
          idCol, vecCol)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$topkDir/batch=$id")

  /** All neighbor lists landed so far by [[ingester]], with `batch`. */
  def answeredTopK(spark: SparkSession, topkDir: String): DataFrame =
    spark.read.parquet(topkDir)
}
