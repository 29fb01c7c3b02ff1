package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers / parsers for the trip pipeline inputs.
  *
  * Covers SURVEY.md par.2.1-2.2 source-side operators:
  *  - S1 CSV directory scan (scripts/to_kinesis.py:11-33)
  *  - S3 JSON event decode (scripts/lambda1.py:26-32)
  *  - P1 projection+cast (scripts/to_kinesis.py:48-57,72-83)
  *  - P2 required-field validation (scripts/lambda1.py:38-47)
  *  - P3 NaN/Infinity sanitization (scripts/lambda1.py:72-82)
  *  - P8 timestamp parse with coercion (scripts/glue_scripts.py:113-119)
  *  - O1/O2 event-time sort + union interleave (scripts/to_kinesis.py:21,34,117-123)
  *
  * Scale note: CSV/JSON scans are directory-globbed, schema-pinned (no
  * inference pass over 100 TB) and filter/projection push down to the scan.
  */
object TripSources {

  /** S1: directory CSV scan with pinned schema. Spark globs + splits files
    * natively; no pandas-style concat needed.
    */
  def readTripStartCsv(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(TripSchemas.tripStartCsv)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(dir)

  def readTripEndCsv(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(TripSchemas.tripEndCsv)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(dir)

  /** The producer's silent drop rule (SURVEY.md par.5): end events whose
    * `passenger_count` is null never enter the pipeline because
    * `int(row['passenger_count'])` raises and the per-record except
    * swallows the record (scripts/to_kinesis.py:82,96-97). We make the
    * rule an explicit, tested filter.
    */
  def producerAdmittedEnds(ends: DataFrame): DataFrame =
    ends.filter(col("passenger_count").isNotNull)

  /** S3: parse a JSON event stream (one JSON object per `value` string,
    * both families interleaved) into the union schema. PERMISSIVE parsing:
    * malformed JSON -> all-null struct -> dropped by `validated` below,
    * mirroring the reference's poison-record skip (scripts/lambda2.py:257-260).
    */
  def parseEvents(raw: DataFrame, valueCol: String = "value"): DataFrame =
    raw.select(from_json(col(valueCol).cast("string"), TripSchemas.tripEvent)
        .as("e"))
      .select(col("e.*"))

  /** S3 with quarantine: PERMISSIVE parse keeping a `_corrupt_record`
    * side channel (SURVEY.md par.2.7 delivery row). Returns the parsed
    * frame with `corrupt` = the raw line for undecodable records, null
    * otherwise — callers split it into the main flow and a quarantine
    * sink instead of silently dropping poison records.
    */
  def parseEventsWithCorrupt(raw: DataFrame, valueCol: String = "value"): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val schema = StructType(TripSchemas.tripEvent.fields :+
      StructField("_corrupt_record", StringType))
    raw.select(from_json(col(valueCol).cast("string"), schema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record"))
        .as("e"))
      .select(col("e.*"))
      .withColumnRenamed("_corrupt_record", "corrupt")
  }

  /** P2: required-field validation (scripts/lambda1.py:38-47) — drop events
    * lacking `trip_id`, `data_type`, or the type-appropriate timestamp.
    */
  def validated(events: DataFrame): DataFrame =
    events.filter(
      col("trip_id").isNotNull && col("data_type").isNotNull &&
        when(col("data_type") === "trip_start", col("pickup_datetime").isNotNull)
          .when(col("data_type") === "trip_end", col("dropoff_datetime").isNotNull)
          .otherwise(lit(false)))

  /** P8: the one event-timestamp parse. Coercing (invalid -> null, =
    * pandas errors='coerce'), so under ANSI mode a malformed timestamp
    * becomes a droppable null instead of a CAST_INVALID_INPUT failure.
    */
  def parseTimestamp(c: Column): Column = try_to_timestamp(c)

  /** P3: NaN/Infinity sanitization (scripts/lambda1.py:72-82) — per numeric
    * attribute, a non-finite value nulls the ATTRIBUTE but keeps the row.
    */
  def sanitizeNumerics(df: DataFrame, numericCols: Seq[String]): DataFrame =
    numericCols.foldLeft(df) { (acc, c) =>
      acc.withColumn(c,
        when(isnan(col(c)) || col(c) === Double.PositiveInfinity ||
          col(c) === Double.NegativeInfinity, lit(null)).otherwise(col(c)))
    }

  /** O1+O2: the producer's global event-time interleave
    * (scripts/to_kinesis.py:117-123): tag each family, union by name, order
    * by the per-family event time. Used to replay the reference feed in
    * tests; a global sort is inherently a full shuffle — only meaningful
    * for replay, never on the 100 TB path.
    */
  def interleavedFeed(starts: DataFrame, ends: DataFrame): DataFrame = {
    val s = starts.withColumn("data_type", lit("trip_start"))
      .withColumn("event_time", col("pickup_datetime"))
    val e = ends.withColumn("data_type", lit("trip_end"))
      .withColumn("event_time", col("dropoff_datetime"))
    s.unionByName(e, allowMissingColumns = true).orderBy(col("event_time"))
  }
}
