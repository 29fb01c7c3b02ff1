package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training batches: a DISTRIBUTED cumulative
  * token sum in deterministic id order, plus greedy bin assignment.
  *
  * A naive `Window.orderBy(id)` prefix sum has no partition spec, so
  * Spark moves the entire corpus through ONE task — fine at test scale,
  * fatal at 100 TB. Here the classic two-phase formulation instead:
  *
  *  1. bucket every row by a deterministic range of the (unique) id —
  *     `bucket = (id - min) / width` with `width` sized from one tiny
  *     min/max aggregate, so bucketing needs no sampling and no caching
  *     (unlike `repartitionByRange` + `spark_partition_id()`, whose
  *     boundaries are not reproducible across the two passes);
  *  2. one hash aggregate computes per-bucket token totals — at most
  *     `buckets` rows come back to the driver, independent of corpus
  *     size — and a running sum over them yields each bucket's global
  *     prefix offset;
  *  3. a window partitioned BY BUCKET computes the within-bucket running
  *     sum (max task = one bucket, ~1/buckets of the data), and a
  *     broadcast join adds the bucket offset.
  *
  * The result is bit-identical to the single-task window (integer sums,
  * unique order key) while every stage stays bounded: scale the corpus
  * 100x and only `buckets` needs to grow, not any single task.
  */
object SequencePack {

  /** Adds `offset` (tokens strictly before this row in `idCol` order) and
    * `bin` (= offset / binSize: which fixed-size token block the row
    * STARTS in) to `docs`. `idCol` must be unique and numeric; `tokensCol`
    * integral and non-negative.
    *
    * EAGER AT CONSTRUCTION: phase 1 (id range + per-bucket totals) runs
    * two Spark jobs when this method is CALLED, not when the result is
    * acted on — a two-phase prefix sum cannot size its offset table
    * lazily. `docs` is materialized (lazy local checkpoint) before the
    * first pass so the upstream computation (e.g. token counting) runs
    * once, not once per pass.
    */
  def packOffsets(docs: DataFrame, idCol: String = "doc_id",
      tokensCol: String = "ws_tokens", binSize: Long = 2048,
      buckets: Int = 256): DataFrame =
    packOffsetsBy(docs, Nil, idCol, tokensCol, binSize, buckets)

  /** [[packOffsets]] computed INDEPENDENTLY within each distinct value
    * of `partitionCols`, in one pass: phase 1 aggregates per
    * (partition, bucket) — at most groups x buckets driver rows — and
    * the running sum resets at every partition-group boundary; phase 2
    * windows by (partition, bucket). Bit-identical to calling
    * [[packOffsets]] once per group and unioning (bucket boundaries
    * come from the GLOBAL id range, but bucketing by any monotone id
    * split leaves the within-group prefix sums unchanged), at a third
    * of the passes for a 3-split corpus — the shape
    * [[CurationPipeline.splitAndPack]] and `c4_shards` consume.
    */
  def packOffsetsBy(docs: DataFrame, partitionCols: Seq[String],
      idCol: String = "doc_id", tokensCol: String = "ws_tokens",
      binSize: Long = 2048, buckets: Int = 256): DataFrame = {
    val spark = docs.sparkSession
    val pcols = partitionCols.map(col)
    val base = docs.select((pcols :+ col(idCol) :+ col(tokensCol)): _*)
      .transform(Materialize.shared)
    val stats = base.agg(min(col(idCol)).cast("long").as("lo"),
      max(col(idCol)).cast("long").as("hi")).head()
    if (stats.isNullAt(0)) {
      // empty input: keep the schema contract
      return base.withColumn("offset", lit(0L)).withColumn("bin", lit(0L))
    }
    val lo = stats.getLong(0)
    val hi = stats.getLong(1)
    val width = math.max((hi - lo) / buckets, 0L) + 1L
    // exact integer floor-div (id - lo >= 0, width >= 1). Spark's `/` on
    // longs is IEEE double division: inexact past 2^53, and both phases
    // MUST bucket identically or offsets silently skew.
    val bucketExpr = expr(
      s"CAST((CAST(`$idCol` AS BIGINT) - ${lo}L) DIV ${width}L AS BIGINT)")
      .as("_bucket")

    // phase 1: per-(group, bucket) totals -> driver -> prefix sums with
    // the accumulator reset at each group boundary
    val totals = base.select((pcols :+ bucketExpr :+
        col(tokensCol).cast("long").as("_t")): _*)
      .groupBy((pcols :+ col("_bucket")): _*).agg(sum(col("_t")).as("_t"))
      .collect().map(r => (
        partitionCols.indices.map(i => Option(r.get(i)).map(_.toString)
          .getOrElse("\u0000null")).mkString("\u0001"),
        r.getLong(partitionCols.length), r.getLong(partitionCols.length + 1)))
      .sortBy(t => (t._1, t._2))
    var curGroup: String = null
    var acc = 0L
    val offsets = totals.map { case (g, b, t) =>
      if (g != curGroup) { curGroup = g; acc = 0L }
      val row = (g, b, acc); acc += t; row
    }
    val offsetDf = spark.createDataFrame(offsets.toSeq)
      .toDF("_grp", "_bucket", "_bucket_offset")

    // phase 2: within-(group, bucket) running sum + broadcast offsets
    val grpExpr =
      if (partitionCols.isEmpty) lit("")
      else concat_ws("\u0001", partitionCols.map(c =>
        coalesce(col(c).cast("string"), lit("\u0000null"))): _*)
    val w = Window.partitionBy((pcols :+ col("_bucket")): _*).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    base.withColumn("_bucket", bucketExpr)
      .withColumn("_grp", grpExpr)
      .join(broadcast(offsetDf), Seq("_grp", "_bucket"))
      .withColumn("offset",
        (coalesce(sum(col(tokensCol)).over(w), lit(0L)) +
          col("_bucket_offset")).cast("long"))
      .withColumn("bin", floor(col("offset") / binSize).cast("long"))
      .drop("_bucket", "_bucket_offset", "_grp")
  }

  /** Greedy FIRST-FIT bin packing: the doc→bin assignment an LLM
    * dataloader consumes when bins must not overflow `binCapacity`
    * tokens (unlike [[packOffsets]]' concat-then-chunk, where a doc can
    * straddle a block boundary). Returns
    * (doc_id, ws_tokens, bin, bin_offset): `bin` is the assigned bin id,
    * `bin_offset` the token position within it.
    *
    * Exact global first-fit is inherently sequential (each placement
    * depends on every open bin's load), so the distributed formulation
    * is GROUP-LOCAL first-fit, the standard packing compromise at scale:
    * docs are partitioned into deterministic bounded groups
    * (`group = id div groupSize`, at most `groupSize` docs each), exact
    * first-fit runs inside each group in id order, and bin ids are
    * namespaced per group (`group*groupSize + local bin` — collision-free
    * since a group opens at most `groupSize` bins). Groups pack in
    * parallel with ZERO cross-group coordination; each task holds at
    * most `groupSize` (id, tokens) pairs. Packing quality matches global
    * first-fit up to one partially-filled bin per group.
    *
    * A doc larger than `binCapacity` opens (and overflows) its own bin —
    * first-fit never splits a document; chunk oversized docs upstream.
    * Ids must be non-negative (integer div defines the grouping).
    */
  def binPackFirstFit(docs: DataFrame, idCol: String = "doc_id",
      tokensCol: String = "ws_tokens", binCapacity: Long = 2048,
      groupSize: Int = 512): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(tokensCol).cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._1 / groupSize)
      .flatMapGroups { (group, it) =>
        val rows = it.toArray.sortBy(_._1)
        val loads = scala.collection.mutable.ArrayBuffer.empty[Long]
        rows.iterator.map { case (id, sz) =>
          val i = loads.indexWhere(_ + sz <= binCapacity)
          val (bin, off) =
            if (i < 0) { loads += sz; (loads.length - 1, 0L) }
            else { val o = loads(i); loads(i) += sz; (i, o) }
          (id, sz, group * groupSize + bin, off)
        }
      }
      .toDF(idCol, tokensCol, "bin", "bin_offset")
  }
}
