package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.TripSources

/** Daily-KPI aggregation stage (reference Glue job).
  *
  * Covers SURVEY.md par.2.5 + the coercion filters P8-P10:
  *  - P8 timestamp parse w/ coercion + null-drop (scripts/glue_scripts.py:113-119)
  *  - P9 numeric parse w/ coercion + null-drop (scripts/glue_scripts.py:121-126)
  *  - P10 timestamp->date projection (scripts/glue_scripts.py:136)
  *  - A1 the five daily KPIs (scripts/glue_scripts.py:139-161)
  *  - A2 report metadata aggregates (scripts/glue_scripts.py:196-205)
  *  - A3 frequency count (notebooks/inspections.ipynb cell 15)
  *  - A4 null-count profile (notebook cells 3,7)
  *  - J4 literal 5-aggregate + 4-left-join KPI assembly
  *    (scripts/glue_scripts.py:171-175) — kept only as a test cross-check
  *    for the fused single-pass form (design-time rewrite, SURVEY.md par.4).
  *
  * Scale notes: A1 is ONE partial+final hash aggregate — one shuffle keyed
  * by the (low-cardinality) date; map-side combine collapses each input
  * partition to <=|dates| rows before the exchange, so 100 TB in ->
  * |dates| rows shuffled. The J4 literal variant would run five aggregates
  * and three extra shuffles for identical output — that rewrite is why the
  * fused form is the production path.
  */
object KpiAggregator {

  /** P8: parse with coercion ([[TripSources.parseTimestamp]], the
    * streaming pipeline's own parse) then drop.
    */
  def withParsedPickupTs(df: DataFrame, src: String = "pickup_datetime",
      dst: String = "pickup_ts"): DataFrame =
    df.withColumn(dst, TripSources.parseTimestamp(col(src)))
      .filter(col(dst).isNotNull)

  /** P9: numeric coercion + null-drop on the measure. */
  def withParsedFare(df: DataFrame, src: String = "fare_amount"): DataFrame =
    df.withColumn(src, expr(s"try_cast($src AS DOUBLE)"))
      .filter(col(src).isNotNull && !isnan(col(src)))

  /** A1: the five daily KPIs as one fused groupBy/agg. `dateCol` must be a
    * DateType column (P10 applied by the caller or via `to_date`).
    */
  def dailyKpis(df: DataFrame, dateCol: Column, fareCol: Column,
      idCol: Column): DataFrame =
    df.groupBy(dateCol.as("pickup_date")).agg(
      sum(fareCol).as("total_fare"),
      count(idCol).as("trip_count"),
      avg(fareCol).as("average_fare"),
      max(fareCol).as("maximum_fare"),
      min(fareCol).as("minimum_fare"))

  /** J4: the reference's literal shape — five single-column aggregates
    * merged pairwise with left joins (scripts/glue_scripts.py:139-175).
    * Semantically identical to [[dailyKpis]] because all five share the
    * grouping key and the left side carries the complete key set. Test
    * cross-check only; never the production path.
    */
  def dailyKpisLiteral(df: DataFrame, dateCol: Column, fareCol: Column,
      idCol: Column): DataFrame = {
    val base = df.select(dateCol.as("pickup_date"), fareCol.as("__fare"), idCol.as("__id"))
    val total = base.groupBy("pickup_date").agg(sum(col("__fare")).as("total_fare"))
    val cnt = base.groupBy("pickup_date").agg(count(col("__id")).as("trip_count"))
    val mean = base.groupBy("pickup_date").agg(avg(col("__fare")).as("average_fare"))
    val mx = base.groupBy("pickup_date").agg(max(col("__fare")).as("maximum_fare"))
    val mn = base.groupBy("pickup_date").agg(min(col("__fare")).as("minimum_fare"))
    total.join(cnt, Seq("pickup_date"), "left")
      .join(mean, Seq("pickup_date"), "left")
      .join(mx, Seq("pickup_date"), "left")
      .join(mn, Seq("pickup_date"), "left")
  }

  /** A2: report metadata — record count, date range, kpi row count. */
  def reportMetadata(trips: DataFrame, kpis: DataFrame, dateCol: Column): DataFrame = {
    val m = trips.agg(
      count(lit(1)).as("record_count"),
      min(dateCol).as("start_date"),
      max(dateCol).as("end_date"))
    m.crossJoin(kpis.agg(count(lit(1)).as("kpi_count")))
  }

  /** A3: frequency count (value_counts). Deterministic ordering: count
    * desc, then key asc.
    */
  def freqCount(df: DataFrame, key: Column): DataFrame =
    df.groupBy(key.as("key")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("key"))

  /** A4: per-column null-count profile, one output row. count-count form
    * (not sum-of-bool) so the oracle's DuckDB plan stays BIGINT-typed.
    */
  def nullProfile(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(c =>
      (count(lit(1)) - count(col(c))).as(s"nulls_$c")): _*)
}
