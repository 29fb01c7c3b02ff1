package graft

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{KpiAggregator, TripMatcher}
import graft.streaming.StreamingTripPipeline

/** ScalaCheck invariants (SURVEY.md par.5 item 4). Plain Gen + fixed seeds
  * (scalatestplus bridge isn't on the offline classpath); samples stay
  * small — each one is a Spark job.
  */
class KpiPropertiesSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val tripGen: Gen[List[(String, Double)]] = Gen.nonEmptyListOf(for {
    day <- Gen.choose(1, 3)
    fare <- Gen.choose(1.0, 500.0)
  } yield (f"2024-05-$day%02d", fare))

  test("KPI invariants: min <= avg <= max, counts match cardinality") {
    for (trips <- samples(tripGen, 5)) {
      val df = trips.zipWithIndex
        .map { case ((d, f), i) => (i.toString, d, f) }
        .toDF("trip_id", "pickup_date_str", "fare_amount")
      val kpis = KpiAggregator.dailyKpis(df,
        to_date(col("pickup_date_str")), col("fare_amount"), col("trip_id"))
        .collect()
      assert(kpis.map(_.getAs[Long]("trip_count")).sum === trips.size)
      kpis.foreach { r =>
        val (mn, av, mx) = (r.getAs[Double]("minimum_fare"),
          r.getAs[Double]("average_fare"), r.getAs[Double]("maximum_fare"))
        assert(mn <= av + 1e-9 && av <= mx + 1e-9)
        assert(math.abs(r.getAs[Double]("total_fare") -
          av * r.getAs[Long]("trip_count")) <
          1e-6 * math.max(1.0, r.getAs[Double]("total_fare")))
      }
    }
  }

  test("join cardinality: |matched| <= min(|starts|,|ends|) under unique keys") {
    for ((nS, nE) <- samples(Gen.zip(Gen.choose(0, 30), Gen.choose(0, 30)), 5)) {
      val starts = (0 until nS).map(i => (s"t$i", i)).toDF("trip_id", "x")
      val ends = (5 until 5 + nE).map(i => (s"t$i", i)).toDF("trip_id", "y")
      val matched = TripMatcher.matchTrips(starts, ends).count()
      assert(matched <= math.min(nS, nE))
      assert(TripMatcher.unmatchedStarts(starts, ends).count() === nS - matched)
    }
  }

  // ---- streaming matcher: the batch answer under any micro-batch split ----

  /** A wire line with the event it carries when valid: (trip_id, is
    * start, event time, end fare).
    */
  private type Line = (String, Option[(String, Boolean, LocalDateTime, Double)])

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val day0 = LocalDateTime.of(2024, 5, 20, 0, 0)

  private def startLine(id: String, t: LocalDateTime): Line =
    (s"""{"trip_id":"$id","data_type":"trip_start","pickup_datetime":"${t.format(fmt)}","estimated_fare_amount":9.5,"pickup_location_id":1,"dropoff_location_id":2,"vendor_id":3}""",
      Some((id, true, t, 0.0)))

  private def endLine(id: String, t: LocalDateTime, fare: Double): Line =
    (s"""{"trip_id":"$id","data_type":"trip_end","dropoff_datetime":"${t.format(fmt)}","fare_amount":$fare,"passenger_count":1.0,"trip_distance":2.2}""",
      Some((id, false, t, fare)))

  /** One trip's lines, each paired with its event time. ~10% never
    * complete, ~10% end before pickup or past pickup + 24h, ~10% are
    * re-delivered, ~10% carry an invalid line for the same trip id.
    */
  private def tripGen(id: String): Gen[Seq[(LocalDateTime, Line)]] = for {
    kind <- Gen.frequency(6 -> "ok", 1 -> "open", 1 -> "outside",
      1 -> "redelivered", 1 -> "invalid")
    pickup <- Gen.choose(0, 3 * 24 * 60 - 1).map(m => day0.plusMinutes(m.toLong))
    minutes <- if (kind == "outside")
        Gen.oneOf(Gen.choose(-120, -1), Gen.choose(24 * 60 + 1, 30 * 60))
      else Gen.choose(0, 150)
    fare <- Gen.choose(1, 500).map(_ + 0.5)
    openSide <- Gen.oneOf(true, false)
  } yield {
    val dropoff = pickup.plusMinutes(minutes.toLong)
    val start = pickup -> startLine(id, pickup)
    val end = dropoff -> endLine(id, dropoff, fare)
    kind match {
      case "open" => Seq(if (openSide) start else end)
      case "redelivered" => Seq(start, end, start, end)
      case "invalid" => Seq(start, end,
        pickup -> ((s"""{"trip_id":"$id","data_type":"trip_start"}""", None): Line),
        dropoff -> ((s"""{"trip_id":"$id","data_type":"trip_end","dropoff_datetime":"2024-13-45 99:00:00"}""", None): Line))
      case _ => Seq(start, end)
    }
  }

  /** A feed in delivery order (each line displaced by < 1h from event-time
    * order, with malformed lines mixed in) and its micro-batch cuts.
    */
  private val feedGen: Gen[(Vector[Line], Seq[Double])] = for {
    n <- Gen.choose(20, 60)
    trips <- Gen.sequence[List[Seq[(LocalDateTime, Line)]], Seq[(LocalDateTime, Line)]](
      (0 until n).map(i => tripGen(s"q$i")))
    junkAt <- Gen.listOfN(n / 10 + 1, Gen.choose(0, 3 * 24 * 60 - 1))
    delays <- Gen.listOfN(trips.map(_.size).sum + junkAt.size, Gen.choose(0, 3599))
    batches <- Gen.choose(1, 6)
    cuts <- Gen.listOfN(batches - 1, Gen.choose(0.0, 1.0))
  } yield {
    val junk = junkAt.map(m => day0.plusMinutes(m.toLong) ->
      (("not json", None): Line))
    val timed = trips.flatten ++ junk
    val feed = timed.zip(delays)
      .sortBy { case ((t, _), d) => t.plusSeconds(d.toLong).format(fmt) }
      .map(_._1._2).toVector
    (feed, cuts.sorted)
  }

  /** The expected completed trips, without Spark: the first valid start
    * and the first valid end of each trip id in delivery order, kept when
    * the dropoff lies in [pickup, pickup + 24h].
    */
  private def expectedTrips(feed: Seq[Line]): Set[(String, String, String, Double)] = {
    val events = feed.flatMap(_._2)
    val starts = events.filter(_._2).groupBy(_._1).map { case (k, v) => k -> v.head }
    val ends = events.filterNot(_._2).groupBy(_._1).map { case (k, v) => k -> v.head }
    starts.toSeq.flatMap { case (id, (_, _, pu, _)) =>
      ends.get(id).collect {
        case (_, _, dropoff, fare)
            if !dropoff.isBefore(pu) && !dropoff.isAfter(pu.plusHours(24)) =>
          (id, pu.format(fmt), dropoff.format(fmt), fare)
      }
    }.toSet
  }

  private var matcherRuns = 0

  /** Completed trips of the streaming pipeline fed `batches`, one
    * micro-batch each.
    */
  private def streamed(batches: Seq[Seq[String]]): Seq[(String, String, String, Double)] = {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    matcherRuns += 1
    val name = s"matched_$matcherRuns"
    val q = StreamingTripPipeline.pipeline(input.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table(name)
      .select("trip_id", "pickup_datetime", "dropoff_datetime", "fare_amount")
      .as[(String, String, String, Double)].collect().toSeq
  }

  test("streaming matcher gives the batch answer under any micro-batch split") {
    for ((feed, cuts) <- samples(feedGen, 6)) {
      val expected = expectedTrips(feed)
      val lines = feed.map(_._1)
      val at = (0 +: cuts.map(c => (c * lines.size).toInt) :+ lines.size).distinct
      val split = streamed(at.zip(at.tail).map { case (a, b) => lines.slice(a, b) })
      val whole = streamed(Seq(lines)) // the static union, as one micro-batch
      for (out <- Seq(split, whole)) {
        assert(out.size === out.toSet.size, "one output row per trip")
        assert(out.toSet === expected, s"cuts at $at")
      }
    }
  }
}
