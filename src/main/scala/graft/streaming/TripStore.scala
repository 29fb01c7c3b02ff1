package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.RawEventStore

/** The reference's single DynamoDB trip table materialized on the
  * keyed upsert store: RAW items written at ingest
  * (scripts/lambda1.py:50-60 — PK = trip_id, SK =
  * `RAW#{data_type}#{timestamp}`, status `raw`), COMPLETED items
  * written by the matcher (scripts/lambda2.py:79-87 — SK =
  * `COMPLETED#{dropoff_datetime}`, status `completed`), and the
  * matcher's status lifecycle flipping both matched RAW items to
  * `processed_by_matcher` (scripts/lambda2.py:112-142,249-251).
  *
  * The item families are projected here once and written by the
  * two-hop [[TripTopology]] (RAW items by its ingest hop, COMPLETED and
  * processed items by its matcher hop) and by the batch contract
  * queries `trip_store_final`/`trip_store_lookup`. The store upserts
  * them with `versionWins` on `status_rank` — the monotonic-status twin
  * of the reference's UpdateExpression: a replayed or late `raw` write
  * (rank 0) can never regress a `processed_by_matcher` row (rank 1)
  * regardless of delivery order. `processed_at` is the match's event
  * time (the dropoff timestamp) rather than the reference's wall-clock
  * `utcnow()` (lambda2.py:135) — deterministic under replay, which a
  * wall clock is not.
  *
  * 100 TB posture: per micro-batch the store writes one O(batch) delta
  * and pays O(store) only at its periodic compaction (see
  * [[graft.operators.KeyedUpsertSink]]); the item projections are
  * stateless maps over the matcher's output, whose keyed state is
  * already watermark-bounded, so the store adds no unbounded state of
  * its own.
  */
object TripStore {

  /** DynamoDB-shaped composite key: partition key + sort key. */
  val Keys: Seq[String] = Seq("trip_id", "sk")

  /** Monotonic status order for the versionWins merge: raw=0,
    * processed_by_matcher/completed=1. A status can advance, never
    * regress.
    */
  val OrderCol = "status_rank"

  /** Attrs carried by a trip_start item (wire names,
    * sources/TripSchemas.scala); the matcher,
    * [[StreamingTripPipeline.completed]], keeps exactly these for a
    * start, so the match carries every attr of both items.
    */
  val StartAttrs: Seq[String] = Seq("pickup_datetime", "pickup_ts",
    "pickup_location_id", "dropoff_location_id", "vendor_id",
    "estimated_dropoff_datetime", "estimated_fare_amount")

  /** Attrs carried by a trip_end item. */
  val EndAttrs: Seq[String] = Seq("dropoff_datetime", "dropoff_ts",
    "rate_code", "payment_type", "fare_amount", "trip_distance",
    "tip_amount", "trip_type", "passenger_count")

  /** One RAW item per event: SK = RAW#{data_type}#{event timestamp
    * string} (lambda1.py:56), status `raw`. Events of either family
    * pass through with the other family's attrs null — exactly the
    * sparse-attribute item the reference writes.
    */
  def rawItems(events: DataFrame, startAttrs: Seq[String] = StartAttrs,
      endAttrs: Seq[String] = EndAttrs): DataFrame =
    events.select(
      col("trip_id") +:
        RawEventStore.rawSortKey(col("data_type"),
          coalesce(col("pickup_datetime"), col("dropoff_datetime"))).as("sk") +:
        col("data_type") +:
        lit("raw").as("status") +:
        lit(0L).as("status_rank") +:
        lit(null).cast("string").as("processed_at") +:
        (startAttrs ++ endAttrs).map(col): _*)

  /** The matcher's three puts per match, in ONE pass over the matcher
    * output: the COMPLETED item (SK = COMPLETED#{dropoff_datetime},
    * lambda2.py:79-87) and the two `processed_by_matcher` re-puts of the
    * matched RAW items (lambda2.py:249-251 — the matcher holds every
    * attr of both events, so each re-put reconstructs the RAW item
    * exactly as ingest wrote it, sparse attrs preserved, with only
    * status/processed_at advanced: the put-overwrite equivalent of the
    * reference's SET UpdateExpression).
    *
    * Emitted via explode of a 3-struct array rather than a union of
    * three projections — a union would re-evaluate the matcher subtree
    * once per family, and in streaming would instantiate the matcher's
    * keyed state three times.
    */
  def matcherItems(completed: DataFrame,
      startAttrs: Seq[String] = StartAttrs,
      endAttrs: Seq[String] = EndAttrs): DataFrame = {
    def nulled(names: Seq[String]) =
      names.map(a => lit(null).cast(completed.schema(a).dataType).as(a))
    def item(sk: org.apache.spark.sql.Column, dataType: String, status: String,
        processedAt: org.apache.spark.sql.Column,
        attrs: Seq[org.apache.spark.sql.Column]) =
      struct(col("trip_id") +: sk.as("sk") +: lit(dataType).as("data_type") +:
        lit(status).as("status") +: lit(1L).as("status_rank") +:
        processedAt.as("processed_at") +: attrs: _*)
    val completedItem = item(
      concat_ws("#", lit("COMPLETED"), col("dropoff_datetime")),
      "completed_trip", "completed", lit(null).cast("string"),
      (startAttrs ++ endAttrs).map(col))
    val processedStart = item(
      RawEventStore.rawSortKey(lit("trip_start"), col("pickup_datetime")),
      "trip_start", "processed_by_matcher",
      col("dropoff_datetime").cast("string"),
      startAttrs.map(col) ++ nulled(endAttrs))
    val processedEnd = item(
      RawEventStore.rawSortKey(lit("trip_end"), col("dropoff_datetime")),
      "trip_end", "processed_by_matcher",
      col("dropoff_datetime").cast("string"),
      nulled(startAttrs) ++ endAttrs.map(col))
    completed
      .select(explode(array(completedItem, processedStart, processedEnd)).as("item"))
      .select(col("item.*"))
  }

  /** The LWW state an item union converges to — the batch twin of the
    * streaming store's versionWins merge: per (trip_id, sk) the highest
    * status_rank wins, latest processed_at breaking rank ties (a 1:N
    * batch matcher re-puts the same start item once per match; the
    * reference's sequential UpdateExpressions leave the last one).
    * Remaining ties are IDENTICAL rows (re-delivered items), so
    * row_number needs no further tiebreak.
    */
  def finalState(items: DataFrame): DataFrame = {
    // max_by over (status_rank, processed_at with null as '' — the
    // store's own _ord encoding, '' sorting below every timestamp
    // string exactly like desc_nulls_last) replaces the former
    // row_number window: a hash aggregate with map-side partial
    // reduction and no sort, winner row identical (remaining ties are
    // identical rows — see class doc). One exchange either way; the
    // two sorts disappear (r20).
    val cols = items.columns
    items
      .groupBy(Keys.map(col): _*)
      .agg(max_by(struct(cols.map(col): _*),
        struct(col(OrderCol), coalesce(col("processed_at"), lit(""))))
        .as("_w"))
      .select(cols.map(c => col(s"_w.$c").as(c)): _*)
  }
}
