package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The validated-raw-event store stage (reference Lambda 1 write path).
  *
  * Covers SURVEY.md par.2.2-2.3 operators:
  *  - P5 key synthesis  (scripts/lambda1.py:56, lambda2.py:85)
  *  - P11 processing-time column (scripts/lambda1.py:91)
  *  - P12 UUID idempotency token (scripts/to_kinesis.py:59-61)
  *  - D1 first-occurrence key dedup (scripts/lambda1.py:119-150)
  *  - P6 prefix predicate on the synthesized key (scripts/lambda2.py:42-52)
  *
  * Scale notes: D1 is a single hash-shuffle on the dedup key (map-side
  * partial dedup happens for free via partial aggregation when expressed as
  * `row_number`+filter Catalyst rewrites to a TopK-per-key; for plain
  * `dropDuplicates` Spark plans a partial+final HashAggregate). In streaming
  * the equivalent is `dropDuplicatesWithinWatermark`, whose keyed state is
  * bounded by the watermark — strictly stronger than the reference's
  * per-invocation-batch dict (SURVEY.md par.2.3 note).
  */
object RawEventStore {

  /** P5: the one RAW item sort-key format, SK =
    * RAW#{data_type}#{event timestamp-string} (lambda1.py:56) — shared by
    * the contract queries, the trip store's RAW and processed items, and
    * [[rawOnly]]'s prefix.
    */
  def rawSortKey(dataType: Column, ts: Column): Column =
    concat_ws("#", lit("RAW"), dataType, ts)

  /** P5 over trip events: the family's own timestamp string. */
  def withSortKey(events: DataFrame): DataFrame =
    events.withColumn("sk", rawSortKey(col("data_type"),
      coalesce(col("pickup_datetime").cast("string"),
        col("dropoff_datetime").cast("string"))))

  /** P11 + P12: processing metadata. Non-deterministic columns — excluded
    * from verified outputs (SURVEY.md par.7.3).
    */
  def withProcessingMeta(events: DataFrame): DataFrame =
    events
      .withColumn("processing_timestamp", current_timestamp())
      .withColumn("record_id",
        when(col("record_id").isNull, expr("uuid()")).otherwise(col("record_id")))
      .withColumn("status", lit("raw"))

  /** D1: first-occurrence dedup on the natural key. The reference keeps the
    * FIRST batch occurrence of each "{PK}#{SK}" (scripts/lambda1.py:119-150);
    * with a deterministic arrival order column we reproduce first-wins
    * exactly via row_number. When no order column is meaningful,
    * `dropDuplicates(keys)` (arbitrary-wins) is the batch equivalent.
    */
  def dedupFirstWins(events: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols.map(col): _*)
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** P6: prefix predicate, server-side in the reference
    * (begins_with(SK,'RAW#'), scripts/lambda2.py:42-52). On parquet this is
    * a pushable StringStartsWith filter.
    */
  def rawOnly(store: DataFrame): DataFrame =
    store.filter(col("sk").startsWith("RAW#"))

  /** P7: event-family domain filter (scripts/lambda2.py:209-212). */
  def tripEventsOnly(store: DataFrame): DataFrame =
    store.filter(col("data_type").isin("trip_start", "trip_end"))
}
