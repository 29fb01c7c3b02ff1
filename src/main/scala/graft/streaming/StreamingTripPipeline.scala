package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.KpiAggregator
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
  * tolerance is a constant — at 24h it covers any plausible trip while
  * keeping state O(events/day). Join state is hash-partitioned by
  * trip_id across executors; dedup state likewise. At 100 TB/day both
  * scale horizontally — no single-node state bottleneck, unlike the
  * reference's one-table design.
  */
object StreamingTripPipeline {

  /** Event-time tolerance of both dedup branches: the reference's "wait
    * all day" behavior while keeping state bounded.
    */
  val WatermarkTolerance = "24 hours"

  /** Longest trip the matcher's interval bound admits. */
  val MaxTripDuration = "24 hours"

  /** S3+P2+P8: parse the raw JSON event stream (Kafka-shaped `value`
    * column), drop invalid events, and add the per-family event
    * timestamps. An event whose family timestamp is present but does not
    * parse is invalid too: it is dropped here rather than failing the
    * query.
    */
  def parseAndValidate(raw: DataFrame): DataFrame =
    TripSources.validated(TripSources.parseEvents(raw))
      .withColumn("pickup_ts", TripSources.parseTimestamp(col("pickup_datetime")))
      .withColumn("dropoff_ts", TripSources.parseTimestamp(col("dropoff_datetime")))
      .filter(when(col("data_type") === "trip_start", col("pickup_ts"))
        .otherwise(col("dropoff_ts")).isNotNull)
      .withColumn("event_ts", coalesce(col("pickup_ts"), col("dropoff_ts")))

  /** Start-family branch: watermark (defined ONCE per branch — Spark
    * forbids redefinition downstream), then D1 first-wins dedup with
    * watermark-bounded state (strictly stronger than the reference's
    * per-invocation dict, SURVEY.md par.2.3 note). Carries exactly the
    * trip store's start attrs.
    */
  def dedupedStarts(validated: DataFrame): DataFrame =
    validated.filter(col("data_type") === "trip_start")
      .select((col("trip_id") +: TripStore.StartAttrs.map(col)): _*)
      .withWatermark("pickup_ts", WatermarkTolerance)
      .dropDuplicatesWithinWatermark("trip_id")

  /** End-family branch, same structure. */
  def dedupedEnds(validated: DataFrame): DataFrame =
    validated.filter(col("data_type") === "trip_end")
      .select((col("trip_id").as("end_trip_id") +: TripStore.EndAttrs.map(col)): _*)
      .withWatermark("dropoff_ts", WatermarkTolerance)
      .dropDuplicatesWithinWatermark("end_trip_id")

  /** J1: the matcher. Equi-join on trip_id plus an event-time interval
    * bound (dropoff within [pickup, pickup+MaxTripDuration]) — the bound
    * is what lets Spark expire join state; the reference instead keeps
    * state forever and matches in either arrival order
    * (scripts/lambda2.py:237-242), which the symmetric hash join also
    * handles natively.
    */
  def matchTrips(starts: DataFrame, ends: DataFrame): DataFrame =
    starts.join(ends,
      col("trip_id") === col("end_trip_id") &&
        col("dropoff_ts") >= col("pickup_ts") &&
        col("dropoff_ts") <= col("pickup_ts") + expr(s"interval $MaxTripDuration"),
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
    * project. The one composition shared by [[pipeline]] and the
    * topology's matcher hop.
    */
  def completed(validated: DataFrame): DataFrame =
    completedTrips(matchTrips(dedupedStarts(validated), dedupedEnds(validated)))

  /** The full pipeline: raw value stream in, completed trips out. */
  def pipeline(raw: DataFrame): DataFrame =
    completed(parseAndValidate(raw))

  /** A1 streaming flavor: [[KpiAggregator.dailyKpis]] over a 1-day
    * event-time tumbling window on completed trips (append mode once the
    * watermark passes the day). The input must already carry a watermark
    * on pickup_ts — [[pipeline]] output does (from [[dedupedStarts]]);
    * Spark forbids redefining it here.
    */
  def dailyKpiStream(completed: DataFrame): DataFrame = {
    val kpis = KpiAggregator.dailyKpis(completed,
      window(col("pickup_ts"), "1 day"), col("fare_amount"), col("trip_id"))
    kpis.select(col("pickup_date.start").cast("date").as("pickup_date") +:
      kpis.columns.tail.map(col): _*)
  }
}
