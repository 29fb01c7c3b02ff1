package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Start/end matcher — the heart of the reference pipeline (J1/J2/J3).
  *
  * The reference matches per-inserted-record with a DynamoDB point query
  * (scripts/lambda2.py:27-63, handler 169-265) and merges the pair into a
  * `completed_trip` item (scripts/lambda2.py:66-109). Re-expressed
  * Spark-first, the whole CDC-query-on-insert machine collapses into ONE
  * equi-join on `trip_id`:
  *  - batch flavor here (exact unbounded semantics — an unmatched event
  *    simply doesn't appear, like `status='raw'` rows waiting forever,
  *    README.md:57);
  *  - streaming flavor in [[graft.streaming.StreamingTripPipeline]]
  *    (one keyed state machine per trip_id with watermark-bounded
  *    state, the reference's keyed lookup kept as state).
  *
  * Scale notes: the join shuffles both sides on `trip_id` —
  * HashPartitioning on a high-cardinality uniform key, no skew. Dedup (D1)
  * MUST precede the join so each side has <=1 row per trip_id; then inner
  * join emits exactly one completed trip and reproduces the reference's
  * first-match-only rule (O4, scripts/lambda2.py:54-56) without a window.
  * Both inputs can be bucketed by trip_id to make this join shuffle-free.
  */
object TripMatcher {

  /** J3/J1-batch: inner equi-join on trip_id. */
  def matchTrips(starts: DataFrame, ends: DataFrame): DataFrame =
    starts.join(ends, Seq("trip_id"), "inner")

  /** J2: merge projection with collision policy. The reference copies start
    * attrs then end attrs; colliding non-key names land as `end_{key}`
    * (scripts/lambda2.py:100-102) and PK/SK/status/processing fields are
    * excluded (scripts/lambda2.py:93-99). Deterministic column selection,
    * no data movement.
    */
  def mergeProjection(starts: DataFrame, ends: DataFrame,
      excluded: Set[String] = Set("pk", "sk", "status", "processing_timestamp")): DataFrame = {
    val sCols = starts.columns.filterNot(c => excluded.contains(c.toLowerCase))
    val eCols = ends.columns.filterNot(c => excluded.contains(c.toLowerCase))
    val joined = starts.alias("s")
      .join(ends.alias("e"), col("s.trip_id") === col("e.trip_id"), "inner")
    val startSide = sCols.map(c => col(s"s.$c").as(c))
    // end side: skip the join key and data_type (overwritten below);
    // other collisions get the end_ prefix (lambda2.py:100-102)
    val endSide = eCols.filterNot(c => c == "trip_id" || c == "data_type").map { c =>
      if (sCols.contains(c)) col(s"e.$c").as(s"end_$c") else col(s"e.$c").as(c)
    }
    joined.select(startSide.toSeq ++ endSide.toSeq: _*)
      .withColumn("data_type", lit("completed_trip"))
      .withColumn("status", lit("completed"))
  }

  /** The still-unmatched events (`status='raw'` rows in the reference,
    * README.md:57) are derived, not stored: a left-anti join.
    */
  def unmatchedStarts(starts: DataFrame, ends: DataFrame): DataFrame =
    starts.join(ends, Seq("trip_id"), "left_anti")
}
