package graft.operators

import graft.functions.TextHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-budget corpus selection: keep the best documents (by a caller-
  * supplied total order) until a global token budget is exhausted — the
  * "give me the top N billion tokens by quality" step every pretraining
  * data curation ends with.
  *
  * The semantics are a global running sum over a total order, which a
  * naive `Window.orderBy(ord)` computes in ONE task. This uses the same
  * two-phase distributed prefix sum as [[SequencePack.packOffsets]]
  * (per-bucket totals -> driver prefix over <= `buckets` rows ->
  * within-bucket window), with one budget-specific improvement:
  * **bucket pruning**. Buckets whose global offset already meets the
  * budget cannot contribute a kept row, so they are filtered out BEFORE
  * the phase-2 shuffle — at 100 TB with a 1% keep rate, ~99% of the
  * corpus never leaves its scan stage.
  *
  * Bit-identical to the single-task window: integer token sums, unique
  * integer order key, floor-div bucketing identical across both passes.
  */
object CorpusSelect {

  /** Filters `docs` to the rows whose strictly-before cumulative token
    * count (in ascending `ordCol` order) is below `budget`, adding that
    * count as `cum_before`. The boundary document (the one that crosses
    * the budget) is KEPT — greedy selection takes it.
    *
    * `ordCol` must be a unique non-negative long (compose quality tier
    * and id as `(tierMax - tier) * 2^k + id` for a quality-descending
    * order); `tokensCol` integral and non-negative.
    *
    * EAGER AT CONSTRUCTION like [[SequencePack.packOffsets]]: the
    * bucket-total aggregate runs when this is called. `docs` is
    * materialized first (lazy local checkpoint) so upstream work — here
    * typically a quality-scoring pass — runs once, not once per phase.
    */
  def budgetSelect(docs: DataFrame, ordCol: String, tokensCol: String,
      budget: Long, buckets: Int = 256): DataFrame = {
    val spark = docs.sparkSession
    val base = Materialize.shared(docs)
    val stats = base.agg(min(col(ordCol)).cast("long").as("lo"),
      max(col(ordCol)).cast("long").as("hi")).head()
    if (stats.isNullAt(0)) return base.withColumn("cum_before", lit(0L))
    val lo = stats.getLong(0)
    val hi = stats.getLong(1)
    val width = math.max((hi - lo) / buckets, 0L) + 1L
    // exact integer floor-div, identical in both phases (see packOffsets)
    def bucketOf: Column = expr(
      s"CAST((CAST(`$ordCol` AS BIGINT) - ${lo}L) DIV ${width}L AS BIGINT)")

    // phase 1: per-bucket token totals -> driver (<= buckets rows)
    val totals = base
      .select(bucketOf.as("_bucket"), col(tokensCol).cast("long").as("_t"))
      .groupBy("_bucket").agg(sum(col("_t")).as("_t"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = totals.map { case (b, t) => val row = (b, acc); acc += t; row }
    // bucket pruning: a bucket whose global offset is already >= budget
    // has cum_before >= budget for every row — drop it pre-shuffle
    val live = offsets.filter(_._2 < budget)
    val offsetDf = spark.createDataFrame(live.toSeq)
      .toDF("_bucket", "_bucket_offset")

    // phase 2: within-bucket running sum over the surviving buckets only
    val w = Window.partitionBy("_bucket").orderBy(ordCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    base.withColumn("_bucket", bucketOf)
      .join(broadcast(offsetDf), Seq("_bucket")) // inner join = the prune
      .withColumn("cum_before",
        (coalesce(sum(col(tokensCol)).over(w), lit(0L)) +
          col("_bucket_offset")).cast("long"))
      .filter(col("cum_before") < budget)
      .drop("_bucket", "_bucket_offset")
  }

  /** [[budgetSelect]] with an INDEPENDENT budget per group — "2 B
    * tokens per language", the multilingual curation contract (a global
    * budget lets the dominant language starve the rest). Fully
    * distributed: no driver prefix at all — the per-(group, bucket)
    * totals relation is |groups|·|buckets| rows, its running sum is a
    * window over THAT tiny relation (partitioned by group), and bucket
    * pruning applies per group before the phase-2 shuffle. `ordCol`
    * unique within each group; same boundary-doc-kept semantics.
    */
  def budgetSelectPerGroup(docs: DataFrame, groupCol: String,
      ordCol: String, tokensCol: String, budgetPerGroup: Long,
      buckets: Int = 256): DataFrame = {
    val base = Materialize.shared(docs)
    val stats = base.agg(min(col(ordCol)).cast("long").as("lo"),
      max(col(ordCol)).cast("long").as("hi")).head()
    if (stats.isNullAt(0)) return base.withColumn("cum_before", lit(0L))
    val lo = stats.getLong(0)
    val width = math.max((stats.getLong(1) - lo) / buckets, 0L) + 1L
    def bucketOf: Column = expr(
      s"CAST((CAST(`$ordCol` AS BIGINT) - ${lo}L) DIV ${width}L AS BIGINT)")
    val counts = base
      .select(col(groupCol), bucketOf.as("_bucket"),
        col(tokensCol).cast("long").as("_t"))
      .groupBy(col(groupCol), col("_bucket")).agg(sum(col("_t")).as("_t"))
    val wB = Window.partitionBy(groupCol).orderBy("_bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("_bucket_offset", coalesce(sum(col("_t")).over(wB), lit(0L)))
      .filter(col("_bucket_offset") < budgetPerGroup) // per-group prune
      .select(col(groupCol), col("_bucket"), col("_bucket_offset"))
    val wIn = Window.partitionBy(groupCol, "_bucket").orderBy(ordCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    // no broadcast hint: offsets is |groups|·|buckets| rows — tiny for
    // languages, but a per-domain run can have millions of groups and a
    // hard hint would OOM the driver; AQE broadcasts it when it IS small
    base.withColumn("_bucket", bucketOf)
      .join(offsets, Seq(groupCol, "_bucket"))
      .withColumn("cum_before",
        (coalesce(sum(col(tokensCol)).over(wIn), lit(0L)) +
          col("_bucket_offset")).cast("long"))
      .filter(col("cum_before") < budgetPerGroup)
      .drop("_bucket", "_bucket_offset")
  }

  /** Leakage-safe train/val/test split: a plain hash split puts two
    * near-duplicates of the same document in DIFFERENT splits ~32% of
    * the time (1 − 0.8² − 0.1² − 0.1²), leaking train content into
    * eval. Here every near-dup cluster moves as a unit: each document
    * is bucketed by the content hash of its cluster REPRESENTATIVE
    * (min-id member; singletons represent themselves), so the split
    * decision is identical across a whole duplicate group.
    *
    * `clusters` is a `(id, cluster_id)` labeling as produced by
    * [[Dedup.nearDupClusters]] — any near-dup notion (Jaccard, SimHash,
    * embedding, SemDeDup cells) plugs in unchanged. Two shuffling
    * equi-joins: docs⋈labels on id, then rep-text lookup on rep_id —
    * both key-partitioned, no broadcast of anything corpus-sized, so
    * the shape survives 100 TB (the rep-text join's key distribution is
    * the cluster-size distribution; a pathological mega-cluster is a
    * dedup bug upstream, not a split concern).
    */
  def leakageSafeSplit(corpus: DataFrame, clusters: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val withRep = corpus
      .join(clusters.select(col("id").as(idCol), col("cluster_id")),
        Seq(idCol), "left")
      .withColumn("rep_id", coalesce(col("cluster_id"), col(idCol)))
    val repText = corpus.select(col(idCol).as("rep_id"),
      col(textCol).as("_rep_text"))
    withRep.join(repText, Seq("rep_id"))
      .withColumn("bucket", splitBucket(col("_rep_text")))
      .withColumn("split", splitOfBucket(col("bucket"), trainPct, valPct))
      .drop("_rep_text", "cluster_id")
  }

  /** The split-bucket hash and the bucket→split mapping as SHARED single
    * definitions: [[leakageSafeSplit]] applies them to the cluster
    * representative's text; a consumer restricted to representatives/
    * singletons (whose rep text IS their own text — see
    * [[CurationPipeline.splitAndPack]]) may apply them map-only to its
    * own text and get the identical assignment without the two
    * rep-lookup joins.
    */
  private[graft] def splitBucket(text: Column): Column =
    TextHash.hash60(text) % 100

  private[graft] def splitOfBucket(bucket: Column, trainPct: Int = 80,
      valPct: Int = 10): Column =
    when(bucket < trainPct, "train")
      .when(bucket < trainPct + valPct, "val").otherwise("test")
}
