package graft.streaming

import graft.operators.{Materialize, Profile, Relevance}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Label-mix monitoring AT INGEST — the streaming face of the trained
  * multi-class classifier ([[graft.operators.Relevance.unigramModels]]
  * / `classifyWithModels`): every micro-batch is classified under a
  * PERSISTED model (train once, monitor forever), its label
  * distribution lands under `distDir/batch=<id>` (idempotent
  * overwrite), and each batch is scored against a reference label
  * distribution with the same PSI machinery as
  * [[StreamingProfile.monitorPsi]]. The production question this
  * answers: "does today's feed still look like what we curated for?" —
  * a feed whose spam-domain share doubles alarms HERE, before the
  * corpus absorbs it.
  *
  * Per-batch cost: one classify pass over the batch (token-equi join
  * against the vocabulary-sized model + |labels|-row fan-out) and a
  * |labels|-sized PSI join — independent of history, no cross-batch
  * state.
  */
object StreamingClassify {

  /** Train-side: persist the per-label model relation. */
  def writeModels(models: DataFrame, dir: String): Unit =
    models.coalesce(1).write.mode("overwrite").parquet(dir)

  /** The reference label distribution `(bin, n)` a monitor compares
    * every batch against — the classified mix of the blessed corpus.
    */
  def writeReferenceDistribution(docs: DataFrame, modelsDir: String,
      refDir: String, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val models = docs.sparkSession.read.parquet(modelsDir)
    Relevance.classifyWithModels(docs, models, idCol, textCol)
      .groupBy(col("predicted").as("bin")).agg(count(lit(1)).as("n"))
      .coalesce(1).write.mode("overwrite").parquet(refDir)
  }

  /** foreachBatch monitor: classify the batch, land its label
    * distribution under `distDir/batch=<id>`, and score it against the
    * reference as one (col_name, n_bins, psi) row under
    * `psiDir/batch=<id>` — both idempotent overwrites, so at-least-once
    * re-delivery rewrites equal bytes.
    */
  def monitor(modelsDir: String, refDir: String, distDir: String,
      psiDir: String, idCol: String = "doc_id", textCol: String = "text",
      eps: Double = 1e-6): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val models = spark.read.parquet(modelsDir)
      val dist = Relevance.classifyWithModels(batch, models, idCol, textCol)
        .groupBy(col("predicted").as("bin")).agg(count(lit(1)).as("n"))
        .transform(Materialize.shared) // written AND psi-scored
      try {
        dist.coalesce(1).write.mode("overwrite")
          .parquet(s"$distDir/batch=$batchId")
        // an empty batch (restart replays, all-blank texts — classify
        // excludes them) has no distribution to score; psiFromCounts
        // would `require`-throw and kill the stream, the opposite of a
        // monitor's availability contract. Land a sentinel (n_bins=0,
        // psi null) so every batch still has a psi artifact and
        // re-delivery stays an equal-bytes overwrite.
        val psi =
          if (dist.isEmpty)
            spark.range(1).select(lit("label_mix").as("col_name"),
              lit(0L).as("n_bins"), lit(null).cast("double").as("psi"))
          else Profile.psiFromCounts(spark.read.parquet(refDir), dist,
            "label_mix", eps)
        psi.coalesce(1).write.mode("overwrite")
          .parquet(s"$psiDir/batch=$batchId")
      } finally Bridge.unpersistCheckpoint(dist) // the stream outlives it
    }
  }
}
