package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.KpiAggregator
import graft.sources.TripSources

/** End-to-end golden test (SURVEY.md par.5, par.7.2): the reference's own
  * CSVs through the flagship pipeline must reproduce the published KPI run
  * data/kpi_results/2025-04-24-12-02-04-daily_trip_kpis.json:15-24 —
  * 4,468 completed trips on 2024-05-25 after the producer's silent
  * null-passenger_count drop (scripts/to_kinesis.py:82,96-97).
  */
class GoldenKpiSpec extends AnyFunSuite with SparkTestBase {

  private val refData = "/root/reference/data"

  test("flagship pipeline reproduces the reference golden KPI run") {
    val starts = TripSources.readTripStartCsv(spark, s"$refData/Trip_Start")
    val ends = TripSources.producerAdmittedEnds(
      TripSources.readTripEndCsv(spark, s"$refData/Trip_End"))

    val completed = ReferenceTwins.matchTrips(starts, ends)
    val kpis = KpiAggregator.dailyKpis(completed,
      to_date(col("pickup_datetime")), col("fare_amount"), col("trip_id"))
      .collect()

    assert(kpis.length === 1, "golden run has exactly one pickup_date")
    val row = kpis.head
    assert(row.getAs[java.sql.Date]("pickup_date").toString === "2024-05-25")
    assert(row.getAs[Long]("trip_count") === 4468L)
    // Ulp-scale slack everywhere: (a) Spark's partial-agg accumulation order
    // differs from pandas' sequential sum; (b) pandas read_csv uses a fast
    // imprecise float parser — the CSV string "10.036694629486497" becomes
    // ...496 in the golden run while Spark parses it correctly rounded.
    assert(math.abs(row.getAs[Double]("total_fare") - 245273.31744125657) < 1e-6)
    assert(math.abs(row.getAs[Double]("average_fare") - 54.89555000923379) < 1e-9)
    assert(math.abs(row.getAs[Double]("maximum_fare") - 99.9901266575316) < 1e-12)
    assert(math.abs(row.getAs[Double]("minimum_fare") - 10.036694629486496) < 1e-13)
  }

  test("producer drop rule: 531 end events have null passenger_count") {
    val ends = TripSources.readTripEndCsv(spark, s"$refData/Trip_End")
    assert(ends.count() === 4999L)
    assert(TripSources.producerAdmittedEnds(ends).count() === 4468L)
  }

  test("literal 5-agg/4-join KPI assembly equals the fused aggregate") {
    val starts = TripSources.readTripStartCsv(spark, s"$refData/Trip_Start")
    val ends = TripSources.producerAdmittedEnds(
      TripSources.readTripEndCsv(spark, s"$refData/Trip_End"))
    val completed = ReferenceTwins.matchTrips(starts, ends)

    val fused = KpiAggregator.dailyKpis(completed,
      to_date(col("pickup_datetime")), col("fare_amount"), col("trip_id"))
    val literal = KpiAggregator.dailyKpisLiteral(completed,
      to_date(col("pickup_datetime")), col("fare_amount"), col("trip_id"))

    assert(fused.exceptAll(literal).count() === 0)
    assert(literal.exceptAll(fused).count() === 0)
  }
}
