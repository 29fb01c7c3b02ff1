package graft.streaming

import org.apache.hadoop.fs.Path
import graft.operators.{BloomSet, FreqSketch, IncrementalBoilerplate, IncrementalDedup, IncrementalProfile, Materialize}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, explode, split, trim}
import org.apache.spark.sql.graftbridge.Bridge

/** The COMPOSED ingestion sink a production training-data corpus runs —
  * the end-to-end shape every piece of this library exists for, wired
  * as one `foreachBatch` function over a document stream:
  *
  *  1. CURATE: the caller's filter chain (quality / lang-ID / token
  *     bounds / repetition gates — any `DataFrame => DataFrame`)
  *     prunes the raw batch;
  *  2. LAND: the curated batch persists under `docs/batch=<id>`
  *     (idempotent overwrite — re-delivery rewrites equal bytes);
  *  3. DEDUP AT INGEST: [[IncrementalDedup.ingestBatch]] mines the
  *     batch's near-dup pairs against the PERSISTED corpus signature
  *     store and folds the batch in — O(batch + collisions), never a
  *     corpus rescan; pairs land under `pairs/batch=<id>`;
  *  4. BOILERPLATE STATS AT INGEST: [[IncrementalBoilerplate]] lands
  *     the batch's additive `(unit, df)` delta, so the corpus-wide
  *     document frequency of every sentence/line unit — what the batch
  *     [[graft.operators.CurationPipeline]]'s C4 boilerplate stage
  *     scans the whole corpus for — stays current at O(batch) cost;
  *     [[boilerplateCleanedDocs]] reads the landed corpus against it
  *     and equals the one-shot `Dedup.dropBoilerplateUnits` exactly;
  *  5. PROFILE AT INGEST: [[IncrementalProfile]] folds the batch's
  *     mergeable column summary (counts, typed bounds, HLL distinct
  *     sketch) into the |columns|-row store — statistics stay current
  *     with zero corpus rescans, re-delivery is a marker-guarded no-op;
  *  6. DECONTAMINATE AT INGEST (optional, VERDICT r15 item 2): the
  *     curated batch's shingles probe the CURRENT eval-benchmark Bloom
  *     store ([[BloomSet.IncrementalBloom]], fed independently as
  *     benchmarks publish) and the per-doc verdicts land under
  *     `contam/batch=<id>` — the 100 TB shape, where the eval sets are
  *     a ≤numBits-row broadcast instead of a corpus×benchmark join and
  *     no landed doc is ever re-shingled;
  *  7. TOKEN FREQUENCY AT INGEST (optional): the batch's whitespace
  *     tokens fold into a [[FreqSketch.IncrementalFreq]] register store
  *     — corpus-wide approximate token counts stay current at O(batch),
  *     in ≤ depth·width rows forever.
  *
  * Everything downstream (drop-near-dups, boilerplate cleaning, budget
  * selection, splits) reads the landed relations; nothing here ever
  * scans more than one batch. IngestPipelineSpec proves the composed
  * sink equals the batch-composed one-shot run part by part, and that
  * re-delivering a batch changes nothing.
  */
object IngestPipeline {

  /** Ingest-time decontamination knobs; `evalBloomDir` is the
    * [[BloomSet.IncrementalBloom]] store the benchmark publisher feeds.
    * The df-cap is per-BATCH (each batch's hot shingles are its own) —
    * the cap is a fanout bound, not a semantic filter; the default None
    * keeps per-batch verdicts EXACTLY equal to a one-shot run's.
    */
  final case class DecontamConfig(
      evalBloomDir: String,
      n: Int = 5,
      minFrac: Double = 0.3,
      minHits: Option[Long] = None,
      maxDocFreq: Option[Long] = None)

  /** The foreachBatch function. `profileCols` must exist on the CURATED
    * batch. Step order matters: land first (so a crash between steps
    * leaves a readable batch and re-delivery repairs the rest), then
    * dedup (which materializes its pairs before touching the signature
    * store), then the marker-guarded profile fold, then the sketch
    * folds (each idempotent per batch id on its own).
    */
  def sink(baseDir: String, curate: DataFrame => DataFrame,
      profileCols: Seq[String],
      decontam: Option[DecontamConfig] = None,
      tokenFreq: Boolean = false): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val curated = Materialize.shared(curate(batch))
      // size this batch's shuffles to its VOLUME, not the session
      // default: MicroBatchTuning's rule at its stateless sizing (256
      // rows per partition — no state store is committed here, so only
      // task launch is fixed per partition). Safe per-batch: foreachBatch
      // is stateless, so no checkpoint pins the partition count. The
      // count is a cheap post-checkpoint scan. The materialization is
      // released once every step has read it: the sink lives as long as
      // the stream, so its batches must not pile up in the block manager.
      try MicroBatchTuning.withBatchVolume(spark, curated.count()) {
        curated.write.mode(SaveMode.Overwrite)
          .parquet(s"$baseDir/docs/batch=$batchId")
        IncrementalDedup.ingestBatch(curated, s"$baseDir/sigs", batchId)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$baseDir/pairs/batch=$batchId")
        IncrementalBoilerplate.updateStore(s"$baseDir/unitdf", batchId, curated)
        IncrementalProfile.updateStore(s"$baseDir/profile", batchId,
          IncrementalProfile.summarize(curated, profileCols))
        decontam.foreach { dc =>
          // verdicts are against the filter AS OF THIS BATCH: a
          // benchmark publishing later flags only later batches — the
          // at-ingest contract. Before the first benchmark lands there
          // is nothing to probe and nothing is written (the read side
          // treats an absent batch dir as zero hits).
          BloomSet.IncrementalBloom.contaminatedAgainstStore(spark,
            dc.evalBloomDir, curated, dc.n, dc.minFrac, dc.minHits,
            dc.maxDocFreq).foreach {
            _.write.mode(SaveMode.Overwrite)
              .parquet(s"$baseDir/contam/batch=$batchId")
          }
        }
        if (tokenFreq)
          FreqSketch.IncrementalFreq.updateStore(s"$baseDir/tokfreq",
            batchId,
            curated.select(explode(split(trim(col("text")), "\\s+"))
              .as("tok")).filter(col("tok") =!= ""),
            Seq.empty, "tok")
      } finally Bridge.unpersistCheckpoint(curated)
    }
  }

  /** Per-doc contamination verdicts across every ingested batch (the
    * union of the per-batch reports — batches partition the corpus by
    * doc, so this IS the corpus-wide report for the benchmark set each
    * batch saw). None before any verdict landed.
    */
  def contaminationReport(spark: SparkSession,
      baseDir: String): Option[DataFrame] = {
    val p = new Path(s"$baseDir/contam")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) Some(spark.read.parquet(p.toString).drop("batch"))
    else None
  }

  /** The landed corpus with every flagged doc removed — the composed
    * decontaminated product a training run reads. Docs ingested before
    * the first benchmark landed carry no verdict and are kept (they can
    * be re-checked by a later batch sweep if the deployment needs
    * retro-decontamination).
    */
  def decontaminatedDocs(spark: SparkSession, baseDir: String): DataFrame =
    contaminationReport(spark, baseDir) match {
      case None => landedDocs(spark, baseDir)
      case Some(rep) => landedDocs(spark, baseDir)
        .join(rep.filter(col("flagged")).select("doc_id"), Seq("doc_id"),
          "left_anti")
    }

  /** Corpus-wide approximate token counts for `queries` (a one-column
    * `tok` frame) from the token-frequency store. None before the first
    * ingest.
    */
  def tokenFreqEstimate(spark: SparkSession, baseDir: String,
      queries: DataFrame): Option[DataFrame] =
    FreqSketch.IncrementalFreq.readEstimate(spark, s"$baseDir/tokfreq",
      queries, Seq.empty, "tok")

  /** The landed corpus with corpus-wide boilerplate units removed —
    * the streaming-side equal of the batch CurationPipeline's
    * boilerplate stage, read at any moment from the unit-df store the
    * sink keeps current (no corpus re-scan to build the df relation:
    * only the rebuild itself touches the docs).
    */
  def boilerplateCleanedDocs(spark: SparkSession, baseDir: String,
      minDocFreq: Long): DataFrame =
    IncrementalBoilerplate.cleanAgainstStore(
      landedDocs(spark, baseDir), s"$baseDir/unitdf", minDocFreq)

  /** The landed corpus read out as the FULL C4-equivalent product —
    * every remaining batch-only stage of
    * [[graft.operators.CurationPipeline]] composed over the relations
    * the sink keeps current, with zero corpus-wide recomputation of
    * anything the stores already hold: boilerplate cleaning against
    * the folded unit-df store, per-doc intra-document unit dedup,
    * near-dup clusters from the incrementally-mined pair log, then the
    * IDENTICAL leakage-safe split + per-split packing code path the
    * batch pipeline runs (`CurationPipeline.splitAndPack`). Output:
    * `(doc_id, split, ws_tokens, offset, bin)` — the packed training
    * sequences. IngestPipelineSpec proves this equals the one-shot
    * batch twin of the same chain over the same raw corpus.
    */
  def c4Corpus(spark: SparkSession, baseDir: String, minDocFreq: Long = 3L,
      binSize: Long = 2048L): DataFrame = {
    val cleaned = boilerplateCleanedDocs(spark, baseDir, minDocFreq)
      .select(col("doc_id"), col("text_clean").as("text"))
    val unitDeduped = graft.operators.Dedup.dedupUnitsWithinDocs(cleaned)
      .select(col("doc_id"), col("text_clean").as("text"))
      .transform(Materialize.shared)
    val clusters = graft.operators.Dedup.nearDupClusters(
      minedPairs(spark, baseDir).select("id_a", "id_b"))
    graft.operators.CurationPipeline.splitAndPack(unitDeduped, clusters,
      "doc_id", binSize)
  }

  /** The landed curated corpus (all batches, `batch` partition column). */
  def landedDocs(spark: SparkSession, baseDir: String): DataFrame =
    spark.read.parquet(s"$baseDir/docs")

  /** All near-dup pairs mined so far. */
  def minedPairs(spark: SparkSession, baseDir: String): DataFrame =
    spark.read.parquet(s"$baseDir/pairs")

  /** Current corpus statistics from the profile store. */
  def currentProfile(spark: SparkSession, baseDir: String): Option[DataFrame] =
    IncrementalProfile.readStore(spark, s"$baseDir/profile")
      .map(IncrementalProfile.report)
}
