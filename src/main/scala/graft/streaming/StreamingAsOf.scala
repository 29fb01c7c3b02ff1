package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One row on the streaming as-of path: a dimension update
  * (`side = "dim"`) or an event to annotate (`side = "event"`), already
  * keyed and timestamped by the caller.
  */
final case class AsOfEvent(
    key: String,
    ts: java.sql.Timestamp,
    side: String,
    value: String)

/** One retained dimension version. */
final case class DimPoint(ts: Long, value: String)

/** Keyed state: the retained dimension history, ascending by ts. */
final case class AsOfState(dims: List[DimPoint])

/** An event annotated with the latest dimension at-or-before it. */
final case class AsOfMatch(
    key: String,
    event_ts: java.sql.Timestamp,
    dim_ts: Option[java.sql.Timestamp],
    dim_value: Option[String])

/** Streaming twin of [[graft.operators.AsOfJoin]]: annotate each event
  * with the latest dimension row at-or-before its timestamp for the same
  * key (price before trade, config before deploy) — as a keyed state
  * machine on `flatMapGroupsWithState`, the same custom-state escape
  * hatch as the trip matcher, [[StreamingTripPipeline.completed]].
  *
  * Semantics (matching the batch operator where a stream can):
  *  - backward-INCLUSIVE: a dimension AT the event timestamp matches
  *    (dims sort before events on equal ts within a batch).
  *  - events with no covering dimension emit null dim fields (left
  *    semantics).
  *  - out-of-order EVENTS match correctly across micro-batches: the
  *    retained history serves any event whose true position is covered
  *    by a kept dimension version.
  *  - a LATE dimension (arriving after an event it should have served
  *    was already emitted) joins the history for future events, but
  *    already-emitted matches are not retracted — streaming point-in-time
  *    lookup is as-known-at-processing-time. Replaying the same feed
  *    in order converges to the batch operator's answer.
  *
  * Scale: state is at most `maxDimHistory` (ts, value) points per key —
  * O(keys * maxDimHistory) total, hash-partitioned by key across
  * executors like all keyed state; an optional processing-time timeout
  * evicts idle keys. Events themselves are never buffered.
  */
object StreamingAsOf {

  /** @param maxDimHistory versions retained per key (newest kept); older
    *                      versions can no longer serve late events once
    *                      pruned — size it to the event-lateness bound.
    * @param timeoutMs     optional idle-key state expiry; `None` for
    *                      replay/tests: with a processing-time timeout
    *                      Spark schedules no-data micro-batches
    *                      continuously to evict state, which
    *                      `processAllAvailable` never settles on (the trip
    *                      matcher, [[StreamingTripPipeline.completed]],
    *                      uses an event-time timeout instead).
    */
  def latestDimPerEvent(events: Dataset[AsOfEvent], maxDimHistory: Int = 64,
      timeoutMs: Option[Long] = None): Dataset[AsOfMatch] = {
    implicit val stateEnc = Encoders.product[AsOfState]
    implicit val outEnc = Encoders.product[AsOfMatch]
    implicit val keyEnc = Encoders.STRING

    events.groupByKey(_.key)
      .flatMapGroupsWithState[AsOfState, AsOfMatch](
        OutputMode.Update(),
        if (timeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout) {
        (key: String, batch: Iterator[AsOfEvent], state: GroupState[AsOfState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var dims = state.getOption.map(_.dims).getOrElse(Nil)
            // dims first on ties -> inclusive match at equal timestamps
            val rows = batch.toSeq
              .sortBy(e => (e.ts.getTime, if (e.side == "dim") 0 else 1))
            val out = Vector.newBuilder[AsOfMatch]
            rows.foreach { r =>
              if (r.side == "dim") {
                // sorted insert (late dims land mid-list), newest retained
                dims = (dims :+ DimPoint(r.ts.getTime, r.value))
                  .sortBy(_.ts).takeRight(maxDimHistory)
              } else {
                val m = dims.reverseIterator.find(_.ts <= r.ts.getTime)
                out += AsOfMatch(key, r.ts,
                  m.map(d => new java.sql.Timestamp(d.ts)), m.map(_.value))
              }
            }
            if (dims.nonEmpty) {
              state.update(AsOfState(dims))
              timeoutMs.foreach(state.setTimeoutDuration)
            }
            out.result().iterator
          }
      }
  }
}
