package graft.streaming

import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

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
  *   readStream -> parse/validate (P2) -> one keyed state machine per
  *   trip_id (D1 + J1 + J2, [[completed]]) -> sink.
  *
  * The matcher is the reference's one keyed lookup per trip_id
  * (scripts/lambda2.py:27-63) kept as keyed state (`GroupState`): one
  * state store per state partition is committed per trigger. Every
  * network boundary in the reference is an in-job exchange here,
  * checkpointed once, exactly-once end-to-end with an idempotent sink.
  *
  * State & scale (SURVEY.md par.2.7): the reference parks unmatched events
  * in DynamoDB forever; here one event-time watermark bounds the state.
  * The tolerance is a constant — at 24h it covers any plausible trip while
  * keeping state O(trips/day). State is hash-partitioned by trip_id
  * across executors, so at 100 TB/day it scales horizontally — no
  * single-node state bottleneck, unlike the reference's one-table design.
  */
object StreamingTripPipeline {

  /** Event-time tolerance of the matcher's watermark: the reference's
    * "wait all day" behavior while keeping state bounded.
    */
  val WatermarkTolerance: Duration = Duration.ofHours(24)

  /** Longest trip the matcher's interval bound admits. */
  val MaxTripDuration: Duration = Duration.ofHours(24)

  /** The event time of a trip event: the pickup of a start, the dropoff
    * of an end.
    */
  private val EventTs =
    when(col("data_type") === "trip_start", col("pickup_ts")).otherwise(col("dropoff_ts"))

  private def delay(d: Duration): String = s"${d.toSeconds} seconds"

  /** S3+P2+P8: parse the raw JSON event stream (Kafka-shaped `value`
    * column), drop invalid events, and add the per-family timestamps and
    * the event time. An event whose event time is present but does not
    * parse is invalid too: it is dropped here rather than failing the
    * query.
    */
  def parseAndValidate(raw: DataFrame): DataFrame =
    TripSources.validated(TripSources.parseEvents(raw))
      .withColumn("pickup_ts", TripSources.parseTimestamp(col("pickup_datetime")))
      .withColumn("dropoff_ts", TripSources.parseTimestamp(col("dropoff_datetime")))
      .withColumn("event_ts", EventTs)
      .filter(col("event_ts").isNotNull)

  /** Validated events in, completed trips out — D1 (first-wins dedup),
    * J1 (the match, in either arrival order, scripts/lambda2.py:237-242)
    * and J2 (the merge projection, scripts/lambda2.py:66-109) as one
    * keyed state machine, [[matchTrip]], over one event-time watermark.
    * The one matcher shared by [[pipeline]] and the topology's matcher
    * hop; it needs only `trip_id`, `data_type` and the trip store's
    * [[TripStore.StartAttrs]] / [[TripStore.EndAttrs]].
    *
    * Output: `trip_id`, the start attrs, the end attrs,
    * `data_type = completed_trip`, `status = completed`.
    *
    * Lateness: an event is late, and dropped, once it falls
    * [[WatermarkTolerance]] behind the newest event of EITHER family.
    * (The former per-family dedups measured a start against the newest
    * pickup and an end against the newest dropoff; the two rules differ
    * only for events more than a day late.)
    */
  def completed(validated: DataFrame): DataFrame = {
    val events = validated
      .select(col("trip_id"), col("data_type"), EventTs.as("event_ts"),
        // each event fills only its own side: the other side shuffles
        // as a null, not as a struct of nulls
        when(col("data_type") === "trip_start",
          struct(TripStore.StartAttrs.map(col): _*)).as("start"),
        when(col("data_type") === "trip_end",
          struct(TripStore.EndAttrs.map(col): _*)).as("end"))
      .withWatermark("event_ts", delay(WatermarkTolerance))
    val sides = Seq("start", "end").map(events.schema(_).copy(nullable = true))
    val state = StructType(sides :+ StructField("newest_ms", LongType, nullable = false))
    val out = StructType(events.schema("trip_id") +:
      sides.flatMap(_.dataType.asInstanceOf[StructType].fields) :+
      StructField("data_type", StringType, nullable = false) :+
      StructField("status", StringType, nullable = false))
    events.groupByKey((e: Row) => e.getString(0))(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        matchTrip)(Encoders.row(state), Encoders.row(out))
  }

  /** One trip's state machine. The state is the first start's attrs, the
    * first end's attrs and the newest event time seen. The trip is
    * emitted once, in the batch that completes the pair, when the dropoff
    * lies in [pickup, pickup + [[MaxTripDuration]]]; a complete pair never
    * changes, so a pair held before the batch is one already decided.
    *
    * The state times out at the newest event time + [[MaxTripDuration]]
    * and is then removed. Under an event-time timeout Spark drops input
    * rows below the watermark before they reach this function, so a
    * re-delivery that arrives after the eviction is late, not a new trip.
    */
  private def matchTrip(tripId: String, batch: Iterator[Row],
      state: GroupState[Row]): Iterator[Row] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val held = state.getOption.getOrElse(Row(null, null, Long.MinValue))
      val events = batch.toVector
      def first(heldAt: Int, dataType: String, at: Int): Row =
        if (!held.isNullAt(heldAt)) held.getStruct(heldAt)
        else events.find(_.getString(1) == dataType).map(_.getStruct(at)).orNull
      val start = first(0, "trip_start", 3)
      val end = first(1, "trip_end", 4)
      val newest = events.map(_.getTimestamp(2).getTime).foldLeft(held.getLong(2))(math.max)
      state.update(Row(start, end, newest))
      state.setTimeoutTimestamp(newest + MaxTripDuration.toMillis)
      val newlyPaired = (held.isNullAt(0) || held.isNullAt(1)) && start != null && end != null
      if (newlyPaired && withinTrip(start, end))
        Iterator(Row.fromSeq(tripId +: (start.toSeq ++ end.toSeq) :+
          "completed_trip" :+ "completed"))
      else Iterator.empty
    }

  /** J1's interval bound: the dropoff lies in [pickup, pickup +
    * [[MaxTripDuration]]].
    */
  private def withinTrip(start: Row, end: Row): Boolean = {
    val pickup = start.getAs[Timestamp]("pickup_ts").toInstant
    val dropoff = end.getAs[Timestamp]("dropoff_ts").toInstant
    !dropoff.isBefore(pickup) && !dropoff.isAfter(pickup.plus(MaxTripDuration))
  }

  /** The full pipeline: raw value stream in, completed trips out. */
  def pipeline(raw: DataFrame): DataFrame =
    completed(parseAndValidate(raw))

  /** A1 streaming flavor: [[KpiAggregator.dailyKpis]] over a 1-day
    * event-time tumbling window on completed trips (append mode once the
    * watermark passes the day).
    *
    * It runs as its own query over the matcher's output (for example read
    * back from the matcher's file sink): Spark rejects a stateful operator
    * downstream of the matcher's keyed state in one query. Its watermark on
    * pickup_ts trails by [[WatermarkTolerance]] + [[MaxTripDuration]]: a
    * trip is emitted when its end arrives at or above the matcher's
    * watermark, so its pickup can trail that watermark by up to
    * [[MaxTripDuration]].
    */
  def dailyKpiStream(completed: DataFrame): DataFrame = {
    val trips = completed.withWatermark("pickup_ts",
      delay(WatermarkTolerance.plus(MaxTripDuration)))
    val kpis = KpiAggregator.dailyKpis(trips,
      window(col("pickup_ts"), "1 day"), col("fare_amount"), col("trip_id"))
    kpis.select(col("pickup_date.start").cast("date").as("pickup_date") +:
      kpis.columns.tail.map(col): _*)
  }
}
