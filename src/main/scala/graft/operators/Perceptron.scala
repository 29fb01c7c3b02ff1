package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** In-engine trained quality classifier: a full-batch perceptron over
  * hashing-trick bag-of-words features — the fastText-style "train a
  * cheap linear model, filter the corpus with it" step of an LLM data
  * pipeline (label a slice, learn weights, score everything), done
  * entirely as Spark aggregates with the weight vector as the only
  * driver state.
  *
  * Training dynamics (batch variant of Rosenblatt's rule): start at
  * w = 0; each epoch scores every document (s = Σ_b n_b·w_b), collects
  * the misclassified set M = {d : y_d·s_d ≤ 0}, and applies the SUMMED
  * update w_b += Σ_{d∈M} y_d·n_{d,b}. Everything is 64-bit integer
  * arithmetic — counts are integers, so weights stay integers — which
  * makes the whole training trajectory bit-exact and oracle-replayable
  * as an unrolled CTE chain (the k-means/PageRank/BPE playbook): one
  * mis-scored document in any epoch changes every later epoch's
  * weights.
  *
  * Scale shape: per epoch, one equi-join of the feature relation with
  * the broadcast dim-length weight array (a literal — no join at all,
  * an `element_at`), one hash aggregate by doc, one filter, one hash
  * aggregate by bucket, and a ≤ dim-row collect. Driver traffic is
  * O(dim) per epoch; executor work is two passes over the feature
  * relation (materialized once). No per-sample sequencing — the
  * batch rule is order-free, which is exactly what makes it
  * distributable where SGD is not. Overflow headroom: |w_b| ≤
  * epochs · Σ_d n_{d,b} ≤ epochs · corpus tokens < 2^63 for any corpus
  * under ~10^18 tokens/epoch — not the binding constraint at 100 TB.
  */
object Perceptron {

  /** Epoch-by-epoch training history: (epoch, bucket, weight, mistakes)
    * for epoch = 1..epochs, bucket = 0..dim−1 — `weight` is the value
    * AFTER that epoch's summed update, `mistakes` the misclassified
    * count that produced it (epoch 1 scores with w = 0, so every doc is
    * a mistake by the y·s ≤ 0 rule — both engines agree by
    * construction). Documents with no tokens have no feature rows,
    * score 0, and count as mistakes without contributing updates.
    */
  def trainHistory(docs: DataFrame, isPositive: Column, dim: Int = 64,
      epochs: Int = 4, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(dim > 0 && epochs > 0, s"need dim>0, epochs>0: $dim, $epochs")
    val spark = docs.sparkSession
    val feats = Materialize.shared(
      TextAnalysis.hashedFeatures(docs, idCol, textCol, dim))
    val labels = Materialize.shared(docs.select(col(idCol).as("id"),
      when(isPositive, 1L).otherwise(-1L).as("y")))

    val w = Array.fill(dim)(0L)
    val history = Seq.newBuilder[(Int, Int, Long, Long)]
    for (epoch <- 1 to epochs) {
      val arr = array(w.map(lit(_)): _*)
      val mis = Materialize.shared(labels
        .join(feats, Seq("id"), "left")
        .withColumn("contrib",
          coalesce(col("n") * element_at(arr, col("bucket").cast("int") + 1),
            lit(0L)))
        .groupBy(col("id"), col("y"))
        .agg(sum(col("contrib")).as("s"))
        .filter(col("y") * col("s") <= 0)
        .select("id", "y"))
      val nMis = mis.count()
      feats.join(mis, "id")
        .groupBy(col("bucket"))
        .agg(sum(col("y") * col("n")).as("d"))
        .collect()
        .foreach(r => w(r.getAs[Long]("bucket").toInt) += r.getAs[Long]("d"))
      val snap = w.clone()
      (0 until dim).foreach(b => history += ((epoch, b, snap(b), nMis)))
    }
    import spark.implicits._
    history.result().toDF("epoch", "bucket", "weight", "mistakes")
      .select(col("epoch").cast("long"), col("bucket").cast("long"),
        col("weight"), col("mistakes"))
  }

  /** Score every document against a trained weight table
    * (bucket, weight): (id, score, pred) with pred = sign(score),
    * ties (score 0) predicted negative — the exact decision rule
    * training counted mistakes with. The weight table is dim rows →
    * broadcast; scoring is one map-side join + one hash aggregate.
    */
  def score(docs: DataFrame, weights: DataFrame, dim: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"))
      .join(TextAnalysis.hashedFeatures(docs, idCol, textCol, dim)
        .join(broadcast(weights.select(col("bucket"), col("weight"))),
          "bucket")
        .groupBy(col("id"))
        .agg(sum(col("n") * col("weight")).as("s")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("s"), lit(0L)).as("score"),
        when(coalesce(col("s"), lit(0L)) > 0, 1L).otherwise(-1L).as("pred"))
}
