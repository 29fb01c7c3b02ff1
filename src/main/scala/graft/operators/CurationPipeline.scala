package graft.operators

import graft.functions.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end C4-style curation pipeline — the composition a
  * pretraining-data team actually ships, as ONE operator: raw crawled
  * HTML in, packed per-split training sequences out.
  *
  *   1. HTML → text extraction ([[TextAnalysis.htmlToText]])
  *   2. Strict quality gates: exact-dedup keep-first + quality score /
  *      language-ID / length / repetition filters (the
  *      `curate_documents_strict` contract)
  *   3. Corpus-wide boilerplate-unit removal
  *      ([[Dedup.dropBoilerplateUnits]] — C4's "discard any repeated
  *      line across the corpus")
  *   4. Intra-document unit dedup ([[Dedup.dedupUnitsWithinDocs]])
  *   5. Document-level near-dup clustering (shingle Jaccard →
  *      [[Dedup.nearDupClusters]]) and representative keep
  *   6. Leakage-safe train/val/test split
  *      ([[CorpusSelect.leakageSafeSplit]] — every member of a near-dup
  *      cluster lands in its representative's split, so a val doc's
  *      near-twin can never sit in train)
  *   7. Per-split sequence packing ([[SequencePack.packOffsets]])
  *
  * Every stage is individually oracle-checked by its own contract
  * query; this operator is their composition with the plumbing a user
  * would otherwise write by hand — and the `c4_end_to_end` contract
  * query replays the ENTIRE chain as one DuckDB CTE pipeline, so the
  * composition itself (stage ordering, column handoffs, doc-survival
  * anchors) is cross-engine-proven, not just each piece.
  *
  * Scale shape: extraction and feature scoring are map-only; the unit
  * passes are one explode + a |distinct units|-row aggregate + an
  * anti-join each; the near-dup join is the df-capped inverted-index
  * equi-join (Σdf², never corpus²); packing is the two-phase
  * bucket-prefix-sum (≤`buckets` driver rows). The post-unit-dedup
  * relation is materialized once — it feeds the pair join, the
  * split, AND the pack, and its lineage (two window rebuilds over
  * exploded units) would otherwise be recomputed by each consumer.
  */
object CurationPipeline {

  /** Every intermediate relation of one run, for stage-by-stage
    * inspection and the composition spec. `packed` is the product.
    */
  final case class Stages(
      extracted: DataFrame,
      curated: DataFrame,
      deboilered: DataFrame,
      unitDeduped: DataFrame,
      clusters: DataFrame,
      split: DataFrame,
      packed: DataFrame)

  /** Run the full chain over `(idCol, htmlCol)` rows. Output: one row
    * per surviving document — `(idCol, split, ws_tokens, offset, bin)`
    * with offsets/bins assigned independently within each split (a
    * dataloader packs train batches from train docs only).
    */
  def stages(html: DataFrame, idCol: String = "doc_id",
      htmlCol: String = "html", minDocFreq: Long = 3L, shingleN: Int = 3,
      jaccardThreshold: Double = 0.5, shingleDfCap: Long = 100L,
      binSize: Long = 2048L): Stages = {
    // S1: extraction — fused map-only expression chain. Checkpointed:
    // the gate stage reads it from three branches (features, exact-dedup
    // hash groups, the final projection), and six regex passes per doc
    // are exactly the thing not to run three times.
    // fan a small corpus out across the session's parallelism before
    // the extraction regexes (a one-split scan would otherwise run the
    // whole map-only S1/S2 kernel chain serially; no-op at scale —
    // see Dedup.fanOutSmall)
    val extracted = Dedup.fanOutSmall(html, col(idCol)).select(col(idCol),
      TextAnalysis.htmlToText(col(htmlCol)).as("text"))
      .transform(Materialize.shared)

    // S2: strict gates. One text_stats kernel pass + one repetition
    // kernel pass; the exact-dedup keep-first rides a left-semi join
    // against the md5-group min-id relation.
    val scored = TextAnalysis.withRepetitionStats(
      TextAnalysis.withTextFeatures(extracted))
    val keptExact = Dedup.exactDedup(extracted, idCol)
      .select(col("kept_id").as(idCol))
    val curated = scored.join(keptExact, Seq(idCol), "left_semi")
      .filter(col("quality_score") >= 0.5 && col("lang_pred") === "en" &&
        col("ws_tokens").between(20, 1000) &&
        col("dup_token_frac") <= 0.6 && col("top_bigram_frac") <= 0.2)
      .select(col(idCol), col("text"))
      // each unit pass references its input THREE times (unit explode,
      // per-doc totals, the doc-survival anchor) — checkpoint the stage
      // boundaries or the kernel/gate lineage runs multiplicatively
      .transform(Materialize.shared)

    // S3+S4 FUSED (r21): corpus-wide boilerplate-unit removal and
    // intra-doc unit dedup in ONE unit pass
    // (Dedup.dropBoilerThenDedupUnits — value-identical to the chained
    // operators, the intermediate rebuild+re-split cancelled out; the
    // two-pass plan paid a second explode, a window, two extra per-doc
    // aggregates, three extra anchor joins and a checkpoint).
    // Checkpointed: three downstream consumers (pair join, split, pack)
    // would each replay the explode/aggregate lineage otherwise.
    val unitDeduped = Dedup.dropBoilerThenDedupUnits(curated, minDocFreq,
        idCol = idCol)
      .select(col(idCol), col("text_clean").as("text"))
      .transform(Materialize.shared)

    // the S3-only intermediate, for stage-by-stage inspection
    // ([[Stages.deboilered]], CurationPipelineSpec): LAZY and UNCONSUMED
    // by the fused product path — evaluating `packed` never computes it
    val deboilered = Dedup.dropBoilerplateUnits(curated, minDocFreq,
        idCol = idCol)
      .select(col(idCol), col("text_clean").as("text"))

    // S5: near-dup clusters over the cleaned text
    val clusters = Dedup.nearDupClusters(
      Dedup.jaccardPairs(unitDeduped, n = shingleN,
          threshold = jaccardThreshold, idCol = idCol,
          maxDocFreq = Some(shingleDfCap))
        .select("id_a", "id_b"))

    // S6: leakage-safe split for EVERY doc (members inherit their
    // representative's bucket), then keep only representatives
    val split = CorpusSelect.leakageSafeSplit(unitDeduped, clusters, idCol)
      .select(col(idCol), col("rep_id"), col("split"), col("bucket"))
    val packed = splitAndPack(unitDeduped, clusters, idCol, binSize)

    Stages(extracted, curated, deboilered, unitDeduped, clusters, split,
      packed)
  }

  /** Stages S6+S7 as a reusable tail — leakage-safe split, near-dup
    * representative keep, token counts once, per-split packing. Shared
    * with [[graft.streaming.IngestPipeline]]'s read-side C4 chain so
    * the streamed corpus is packed by the IDENTICAL code path.
    */
  private[graft] def splitAndPack(unitDeduped: DataFrame,
      clusters: DataFrame, idCol: String, binSize: Long): DataFrame = {
    val kept = Dedup.dropNearDups(unitDeduped, clusters, idCol)

    // S6' (r21): the packed relation only carries KEPT docs — cluster
    // representatives and singletons, whose leakage-safe split bucket is
    // by definition the hash of their OWN text (rep_id == id for every
    // kept doc: dropNearDups removes exactly the rows with
    // cluster_id != id). So the split is a map-only projection here —
    // the full leakageSafeSplit's two rep-lookup joins and the id-join
    // back are the price of labeling DROPPED members, which this
    // consumer never reads. Same bucket/split single definitions
    // (CorpusSelect.splitBucket/splitOfBucket), so the assignment is
    // bit-identical to the joined form (spec-pinned: CurationPipelineSpec
    // "composed run equals chaining the public stage operators").
    // S7: token counts once, then ONE grouped two-phase pass packs all
    // splits independently (bit-identical to the former per-split
    // packOffsets calls; one driver round-trip instead of three — r20)
    val withTok = TextAnalysis.withTokenCounts(kept)
      .withColumn("split",
        CorpusSelect.splitOfBucket(CorpusSelect.splitBucket(col("text"))))
      .select(col(idCol), col("split"),
        col("ws_tokens").cast("long").as("ws_tokens"))
    SequencePack.packOffsetsBy(withTok, Seq("split"), idCol,
        binSize = binSize)
      .select(col(idCol), col("split"), col("ws_tokens"), col("offset"),
        col("bin"))
  }

  /** The one-call product face of [[stages]]. */
  def run(html: DataFrame, idCol: String = "doc_id",
      htmlCol: String = "html", minDocFreq: Long = 3L, shingleN: Int = 3,
      jaccardThreshold: Double = 0.5, shingleDfCap: Long = 100L,
      binSize: Long = 2048L): DataFrame =
    stages(html, idCol, htmlCol, minDocFreq, shingleN, jaccardThreshold,
      shingleDfCap, binSize).packed
}
