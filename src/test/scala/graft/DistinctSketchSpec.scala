package graft

import graft.operators.DistinctSketch
import graft.operators.DistinctSketch.IncrementalDistinct
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The relational HyperLogLog: registers match a driver-side reference
  * bit-for-bit, the max-fold equals a one-shot build even under
  * OVERLAPPING batches (idempotent merge — the strongest exactness
  * contract of the incremental stores), and estimates land inside the
  * 3σ band on both the harmonic and linear-counting paths.
  */
class DistinctSketchSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val P = 8
  private val W = 60 - P

  /** Driver-side reference: the same md5-hex 60-bit hash → (bucket, rank). */
  private def refRegisters(values: Seq[String]): Map[Long, Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    values.map { v =>
      val hex = md.digest(v.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      val bucket = h % (1L << P)
      val tail = h >>> P
      val r = if (tail == 0L) W + 1
        else W + 1 - (64 - java.lang.Long.numberOfLeadingZeros(tail))
      bucket -> r
    }.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
  }

  private def regMap(df: DataFrame): Map[Long, Int] =
    df.select("bucket", "r").as[(Long, Int)].collect().toMap

  test("registers match the driver-side md5 reference bit-for-bit") {
    val vals = (1 to 500).map(i => s"user-$i")
    val df = vals.toDF("v").withColumn("g", org.apache.spark.sql.functions.lit("a"))
    val regs = regMap(DistinctSketch.registers(df, Seq("g"), "v", P))
    assert(regs == refRegisters(vals))
  }

  test("estimate within 3σ on the harmonic path, duplicates ignored") {
    val n = 2000
    val df = ((1 to n) ++ (1 to n)).map(i => ("a", s"id-$i")).toDF("g", "v")
    val est = DistinctSketch.estimate(
        DistinctSketch.registers(df, Seq("g"), "v", P), Seq("g"), P)
      .select("approx_distinct").as[Double].head()
    val rsd = 1.04 / math.sqrt((1 << P).toDouble)
    assert(math.abs(est - n) <= 3 * rsd * n,
      s"estimate $est outside 3σ of $n")
  }

  test("small cardinalities ride the linear-counting correction") {
    val df = (1 to 12).map(i => ("a", s"id-$i")).toDF("g", "v")
    val est = DistinctSketch.estimate(
        DistinctSketch.registers(df, Seq("g"), "v", P), Seq("g"), P)
      .select("approx_distinct").as[Double].head()
    assert(math.abs(est - 12) <= 2.0, s"linear counting off: $est vs 12")
  }

  test("estimate with a smaller p than registers() used fails loudly") {
    // 2000 distincts at p=10 fill far more than 2^6 buckets; estimating
    // those registers at p=6 used to yield negative _v and NaN silently
    // (ADVICE r14) — now the _nz > 2^p guard raises
    val df = (1 to 2000).map(i => ("a", s"id-$i")).toDF("g", "v")
    val regs = DistinctSketch.registers(df, Seq("g"), "v", p = 10)
    val ex = intercept[Exception] {
      DistinctSketch.estimate(regs, Seq("g"), p = 6).collect()
    }
    assert(ex.getMessage != null)
    // and a group column named like a register column is rejected
    intercept[IllegalArgumentException] {
      DistinctSketch.registers(df.withColumnRenamed("g", "bucket"),
        Seq("bucket"), "v")
    }
  }

  test("nulls contribute nothing") {
    val df = Seq(("a", "x"), ("a", null), ("a", "y")).toDF("g", "v")
    val regs = DistinctSketch.registers(df, Seq("g"), "v", P)
    assert(regMap(regs) == refRegisters(Seq("x", "y")))
  }

  test("fold == one-shot even for OVERLAPPING batches and re-delivery") {
    val dir = tempDir("ids")
    val all = (1 to 300).map(i => ("a", s"id-$i")).toDF("g", "v")
    // overlapping thirds: [1,150], [100,250], [200,300] — max is
    // idempotent, so unlike the additive stores no disjointness needed
    val slices = Seq((1, 150), (100, 250), (200, 300)).map { case (lo, hi) =>
      all.filter(col("v").substr(4, 10).cast("int").between(lo, hi)) }
    slices.zipWithIndex.foreach { case (b, i) =>
      IncrementalDistinct.updateStore(dir, i.toLong, b, Seq("g"), "v", P) }
    IncrementalDistinct.updateStore(dir, 1L, slices(1), Seq("g"), "v", P)
    val folded = regMap(
      IncrementalDistinct.readRegisters(spark, dir, Seq("g")).get)
    assert(folded == regMap(DistinctSketch.registers(all, Seq("g"), "v", P)))
  }

  test("compaction preserves registers and estimate") {
    val dir = tempDir("ids")
    val all = (1 to 300).map(i => ("a", s"id-$i")).toDF("g", "v")
    (0 until 3).foreach { i =>
      IncrementalDistinct.updateStore(dir, i.toLong,
        all.filter(col("v").substr(4, 10).cast("int") % 3 === i),
        Seq("g"), "v", P) }
    val before = regMap(
      IncrementalDistinct.readRegisters(spark, dir, Seq("g")).get)
    IncrementalDistinct.compact(spark, dir, Seq("g"))
    assert(regMap(
      IncrementalDistinct.readRegisters(spark, dir, Seq("g")).get) == before)
    val est = IncrementalDistinct.readEstimate(spark, dir, Seq("g"), P).get
      .select("approx_distinct").as[Double].head()
    assert(math.abs(est - 300) <= 3 * 1.04 / math.sqrt(256.0) * 300)
  }

  test("store pins p; a mismatched read or write refuses (ADVICE r15)") {
    val dir = tempDir("idspin")
    val all = (1 to 300).map(i => ("a", s"id-$i")).toDF("g", "v")
    IncrementalDistinct.updateStore(dir, 0L, all, Seq("g"), "v", p = 8)
    // a LARGER read-side p passes the in-relation _nz guard (fewer
    // non-empty buckets than 2^p) and would silently underestimate —
    // only the pin catches that direction
    val exR = intercept[IllegalArgumentException] {
      IncrementalDistinct.readEstimate(spark, dir, Seq("g"), p = 12)
    }
    assert(exR.getMessage.contains("parameters"))
    val exW = intercept[IllegalArgumentException] {
      IncrementalDistinct.updateStore(dir, 1L, all, Seq("g"), "v", p = 12)
    }
    assert(exW.getMessage.contains("parameters"))
    // matching p keeps working
    assert(IncrementalDistinct.readEstimate(spark, dir, Seq("g"), p = 8)
      .get.count() === 1)
  }
}
