package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.TripSources

/** The reference's hot path (SURVEY.md par.3.1) as ONE Structured
  * Streaming query:
  *
  *   Kinesis -> Lambda1 (validate/dedup/store) -> DDB Streams ->
  *   Lambda2 (query-on-insert match) -> completed trips
  *
  * becomes
  *
  *   readStream -> parse/validate (P2) -> dropDuplicatesWithinWatermark
  *   (D1) -> symmetric stream-stream join (J1) -> merge projection (J2)
  *   -> sink.
  *
  * Every network boundary in the reference is an in-job exchange here,
  * checkpointed once, exactly-once end-to-end with an idempotent sink.
  *
  * State & scale (SURVEY.md par.2.7): the reference parks unmatched events
  * in DynamoDB forever; Spark bounds join state with watermarks. The
  * tolerance is config — at 24h it covers any plausible trip while
  * keeping state O(events/day). Join state is hash-partitioned by
  * trip_id across executors; dedup state likewise. At 100 TB/day both
  * scale horizontally — no single-node state bottleneck, unlike the
  * reference's one-table design.
  */
object StreamingTripPipeline {

  /** Watermark/State tuning knobs; defaults mirror the reference's
    * "wait all day" behavior while keeping state bounded.
    */
  final case class Config(
      watermarkTolerance: String = "24 hours",
      maxTripDuration: String = "24 hours")

  /** S3+P2: parse the raw JSON event stream (Kafka-shaped `value` column)
    * and drop invalid events. Adds the per-family event timestamp.
    */
  def parseAndValidate(raw: DataFrame): DataFrame =
    TripSources.validated(TripSources.parseEvents(raw))
      .withColumn("pickup_ts", to_timestamp(col("pickup_datetime")))
      .withColumn("dropoff_ts", to_timestamp(col("dropoff_datetime")))
      .withColumn("event_ts", coalesce(col("pickup_ts"), col("dropoff_ts")))

  /** Start-family branch: watermark (defined ONCE per branch — Spark
    * forbids redefinition downstream), then D1 first-wins dedup with
    * watermark-bounded state (strictly stronger than the reference's
    * per-invocation dict, SURVEY.md par.2.3 note).
    */
  def dedupedStarts(validated: DataFrame, cfg: Config = Config()): DataFrame =
    validated.filter(col("data_type") === "trip_start")
      .select(col("trip_id"), col("pickup_datetime"), col("pickup_ts"),
        col("pickup_location_id"), col("dropoff_location_id"), col("vendor_id"),
        col("estimated_dropoff_datetime"), col("estimated_fare_amount"))
      .withWatermark("pickup_ts", cfg.watermarkTolerance)
      .dropDuplicatesWithinWatermark("trip_id")

  /** End-family branch, same structure. */
  def dedupedEnds(validated: DataFrame, cfg: Config = Config()): DataFrame =
    validated.filter(col("data_type") === "trip_end")
      .select(col("trip_id").as("end_trip_id"), col("dropoff_datetime"),
        col("dropoff_ts"), col("rate_code"), col("payment_type"),
        col("fare_amount"), col("trip_distance"), col("tip_amount"),
        col("trip_type"), col("passenger_count"))
      .withWatermark("dropoff_ts", cfg.watermarkTolerance)
      .dropDuplicatesWithinWatermark("end_trip_id")

  /** J1: the matcher. Equi-join on trip_id plus an event-time interval
    * bound (dropoff within [pickup, pickup+maxTripDuration]) — the bound
    * is what lets Spark expire join state; the reference instead keeps
    * state forever and matches in either arrival order
    * (scripts/lambda2.py:237-242), which the symmetric hash join also
    * handles natively.
    */
  def matchTrips(starts: DataFrame, ends: DataFrame,
      cfg: Config = Config()): DataFrame =
    starts.join(ends,
      col("trip_id") === col("end_trip_id") &&
        col("dropoff_ts") >= col("pickup_ts") &&
        col("dropoff_ts") <= col("pickup_ts") + expr(s"interval ${cfg.maxTripDuration}"),
      "inner")

  /** J2: merge projection to the completed-trip shape
    * (scripts/lambda2.py:66-109): start attrs then end attrs,
    * data_type/status overwritten.
    */
  def completedTrips(matched: DataFrame): DataFrame =
    matched.drop("end_trip_id")
      .withColumn("data_type", lit("completed_trip"))
      .withColumn("status", lit("completed"))

  /** Validated events in, completed trips out: dedup each family, match,
    * project. The one composition shared by [[pipeline]], the topology's
    * matcher hop and the trip store's item stream.
    */
  def completed(validated: DataFrame, cfg: Config = Config()): DataFrame =
    completedTrips(matchTrips(
      dedupedStarts(validated, cfg), dedupedEnds(validated, cfg), cfg))

  /** The full pipeline: raw value stream in, completed trips out. */
  def pipeline(raw: DataFrame, cfg: Config = Config()): DataFrame =
    completed(parseAndValidate(raw), cfg)

  /** A1 streaming flavor: the five daily KPIs over a 1-day event-time
    * tumbling window on completed trips (append mode once the watermark
    * passes the day). The input must already carry a watermark on
    * pickup_ts — [[pipeline]] output does (from [[dedupedStarts]]); Spark
    * forbids redefining it here.
    */
  def dailyKpiStream(completed: DataFrame, cfg: Config = Config()): DataFrame =
    completed
      .groupBy(window(col("pickup_ts"), "1 day").as("day"))
      .agg(sum(col("fare_amount")).as("total_fare"),
        count(col("trip_id")).as("trip_count"),
        avg(col("fare_amount")).as("average_fare"),
        max(col("fare_amount")).as("maximum_fare"),
        min(col("fare_amount")).as("minimum_fare"))
      .select(col("day.start").cast("date").as("pickup_date"),
        col("total_fare"), col("trip_count"), col("average_fare"),
        col("maximum_fare"), col("minimum_fare"))
}
