package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingProfile

/** One record on the streaming profile test feed. */
case class ProfileTestRow(id: Long, lang: String, n: Option[Long])

/** The live data-quality monitor: per-batch snapshots equal the batch
  * profiler, drift appears from the second batch and flags a nulled
  * column, and re-delivery of a batch id is idempotent.
  */
class StreamingProfileSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val cols = Seq("id", "lang", "n")

  private def run(dir: String, batches: Seq[Seq[ProfileTestRow]]): Unit = {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[ProfileTestRow]
    val q = input.toDF().writeStream
      .foreachBatch(StreamingProfile.monitor(s"$dir/profiles", s"$dir/drift",
        cols))
      .option("checkpointLocation", s"$dir/ckpt").start()
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
  }

  test("snapshots match the batch profiler; drift flags a nulled column") {
    val dir = tempDir("sprof")
    val b0 = (1L to 20L).map(i => ProfileTestRow(i, "en", Some(i)))
    val b1 = (21L to 40L).map(i => ProfileTestRow(i, "de", None)) // n dies
    run(dir, Seq(b0, b1))

    val snap0 = spark.read.parquet(s"$dir/profiles/batch=0")
    val expected0 = graft.operators.Profile.profile(b0.toDF(), cols)
    assert(snap0.collect().toSet === expected0.collect().toSet)

    assert(!new java.io.File(s"$dir/drift/batch=0").exists(),
      "no predecessor -> no drift for the first batch")
    val drift = spark.read.parquet(s"$dir/drift/batch=1")
      .collect().map(r => r.getString(0) -> r).toMap
    // n went all-null in batch 1: 20 non-null before, 0 after
    assert(drift("n").getLong(2) === 20L && drift("n").getLong(3) === 0L)
    assert(drift("n").getString(1) === "common")
  }

  test("re-delivered batch id rewrites an identical snapshot") {
    val dir = tempDir("sprof2")
    val rows = (1L to 10L).map(i => ProfileTestRow(i, "en", Some(i)))
    val fn = StreamingProfile.monitor(s"$dir/profiles", s"$dir/drift", cols)
    fn(rows.toDF(), 0L)
    val first = spark.read.parquet(s"$dir/profiles/batch=0").collect().toSet
    fn(rows.toDF(), 0L) // foreachBatch re-delivery
    val second = spark.read.parquet(s"$dir/profiles/batch=0").collect().toSet
    assert(first === second)
  }

  test("outlier monitor equals the batch operator and flags a planted spike") {
    val dir = tempDir("soutl")
    implicit val ctx = spark.sqlContext
    // batch 0: two well-behaved cohorts; batch 1: same shape plus one
    // planted spike in cohort "en" (value 999 among 10..19)
    val b0 = (1L to 20L).map(i =>
      ProfileTestRow(i, if (i % 2 == 0) "en" else "de", Some(10 + i % 10)))
    val b1 = (21L to 40L).map(i =>
      ProfileTestRow(i, if (i % 2 == 0) "en" else "de", Some(10 + i % 10))) :+
      ProfileTestRow(99L, "en", Some(999L))
    val input = MemoryStream[ProfileTestRow]
    val q = input.toDF().writeStream
      .foreachBatch(
        StreamingProfile.monitorOutliers(s"$dir/outliers", "lang", "n", "id"))
      .option("checkpointLocation", s"$dir/ckpt").start()
    try Seq(b0, b1).foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()

    // batch 0 snapshot == running the batch operator directly
    val snap0 = spark.read.parquet(s"$dir/outliers/batch=0").collect().toSet
    val expected0 = graft.operators.Profile
      .outliersMad(b0.toDF(), "lang", "n", "id").collect().toSet
    assert(snap0 === expected0)
    assert(new java.io.File(s"$dir/outliers/batch=0/_SUCCESS").exists())

    // the planted spike is the flagged row of batch 1
    val flagged = spark.read.parquet(s"$dir/outliers/batch=1").collect()
    assert(flagged.exists(r => r.getAs[Long]("id") == 99L &&
      r.getAs[Double]("v") == 999.0))
    assert(flagged.forall(_.getAs[String]("grp") == "en"))
  }

  test("outlier monitor re-delivery rewrites identical flagged rows") {
    val dir = tempDir("soutl2")
    val rows = (1L to 15L).map(i => ProfileTestRow(i, "en", Some(i % 5))) :+
      ProfileTestRow(50L, "en", Some(1000L))
    val fn = StreamingProfile.monitorOutliers(
      s"$dir/outliers", "lang", "n", "id")
    fn(rows.toDF(), 3L)
    val first = spark.read.parquet(s"$dir/outliers/batch=3").collect().toSet
    fn(rows.toDF(), 3L) // foreachBatch re-delivery
    val second = spark.read.parquet(s"$dir/outliers/batch=3").collect().toSet
    assert(first === second && first.nonEmpty)
  }

  test("psi monitor: in-distribution batch quiet, shifted batch alarms") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("psimon")
    // reference: 80/20 langs
    val ref = (Seq.fill(80)("en") ++ Seq.fill(20)("de"))
      .zipWithIndex.map { case (l, i) => ProfileTestRow(i.toLong, l, Some(1L)) }
    StreamingProfile.writePsiReference(ref.toDF(), col("lang"), s"$dir/ref")
    val fn = StreamingProfile.monitorPsi(s"$dir/ref", s"$dir/psi",
      col("lang"), "lang")
    // batch 0: same mix -> quiet; batch 1: inverted mix -> alarm
    val same = (Seq.fill(40)("en") ++ Seq.fill(10)("de"))
      .zipWithIndex.map { case (l, i) => ProfileTestRow(i.toLong, l, Some(1L)) }
    val shifted = (Seq.fill(10)("en") ++ Seq.fill(40)("de"))
      .zipWithIndex.map { case (l, i) => ProfileTestRow(i.toLong, l, Some(1L)) }
    fn(same.toDF(), 0L)
    fn(shifted.toDF(), 1L)
    val p0 = spark.read.parquet(s"$dir/psi/batch=0").head().getAs[Double]("psi")
    val p1 = spark.read.parquet(s"$dir/psi/batch=1").head().getAs[Double]("psi")
    assert(math.abs(p0) < 1e-9, s"identical mix must score ~0, got $p0")
    assert(p1 > 0.25, s"inverted mix must alarm, got $p1")
    // re-delivery rewrites identical content
    fn(shifted.toDF(), 1L)
    assert(spark.read.parquet(s"$dir/psi/batch=1").head()
      .getAs[Double]("psi") == p1)
  }
}
