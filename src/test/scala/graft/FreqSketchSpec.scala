package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextHash
import graft.operators.FreqSketch
import graft.operators.FreqSketch.IncrementalFreq

class FreqSketchSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // 5000 occurrences over 500 distinct values with a skewed head —
  // enough distincts to force collisions at width 64
  private def values = spark.range(5000)
    .select((col("id") % 10).as("grp"),
      concat(lit("v"), (col("id") * col("id") % 500).cast("string")).as("v"))
    .localCheckpoint(false)

  test("registers match the driver-side reference bit-for-bit") {
    val got = FreqSketch.registers(values, Seq.empty, "v", depth = 2,
        width = 64)
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    // same arithmetic in plain Scala over the same md5 hash
    val consts = TextHash.mixConstants(2)
    val m = TextHash.Mersenne61
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(0, 15), 16)
    }
    val want = values.select("v").as[String].collect()
      .flatMap { v =>
        val h = h60(v)
        (0 until 2).map { i =>
          val (a, b, c) = consts(i)
          (i, Math.floorMod((a * (h & 0x3FFFFFFFL) + b * (h >> 30) + c) % m,
            64L))
        }
      }
      .groupBy(identity).map { case (k, occ) => k -> occ.length.toLong }
    assert(got === want)
  }

  test("estimate >= exact for every value, exact when sketch is wide") {
    val regs = FreqSketch.registers(values, Seq.empty, "v", width = 64)
    val exact = values.groupBy("v").agg(count(lit(1)).as("n"))
    val est = FreqSketch.estimate(regs, exact.select("v"), Seq.empty, "v",
      width = 64)
    val joined = est.join(exact, "v")
      .select(col("cms_count"), col("n")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getLong(0) >= r.getLong(1), "CMS must only ever overcount")
    }
    // a sketch much wider than the distinct count collides nowhere
    val wide = FreqSketch.registers(values, Seq.empty, "v", width = 65536)
    val estW = FreqSketch.estimate(wide, exact.select("v"), Seq.empty, "v",
      width = 65536)
    assert(estW.join(exact, "v")
      .filter(col("cms_count") =!= col("n")).count() === 0)
  }

  test("grouped registers count within groups independently") {
    val regs = FreqSketch.registers(values, Seq("grp"), "v", width = 64)
    // total register mass per group row 0 = group occurrence count
    val mass = regs.filter(col("r") === 0).groupBy("grp")
      .agg(sum("cnt").as("mass"))
    val want = values.groupBy("grp").agg(count(lit(1)).as("mass"))
    assert(mass.exceptAll(want).isEmpty && want.exceptAll(mass).isEmpty)
  }

  test("unknown values estimate 0; nulls contribute nothing") {
    val regs = FreqSketch.registers(
      values.withColumn("v", when(col("grp") === 0, col("v"))),
      Seq.empty, "v", width = 65536)
    val novel = Seq("never-seen-token-xyz").toDF("v")
    val est = FreqSketch.estimate(regs, novel, Seq.empty, "v", width = 65536)
    assert(est.select("cms_count").as[Long].head() === 0L)
  }

  test("fold == one-shot for disjoint batches; store round-trip; compact") {
    val dir = tempDir("cms")
    (0 until 3).foreach { i =>
      IncrementalFreq.updateStore(dir, i.toLong,
        values.filter(pmod(col("grp"), lit(3)) === i), Seq.empty, "v",
        width = 64)
    }
    val oneShot = FreqSketch.registers(values, Seq.empty, "v", width = 64)
    def regsEqual(): Unit = {
      val folded = IncrementalFreq.readRegisters(spark, dir, Seq.empty).get
      assert(folded.exceptAll(oneShot).isEmpty &&
        oneShot.exceptAll(folded).isEmpty)
    }
    regsEqual()
    // re-delivery of a batch under its id rewrites equal content
    IncrementalFreq.updateStore(dir, 1L,
      values.filter(pmod(col("grp"), lit(3)) === 1), Seq.empty, "v",
      width = 64)
    regsEqual()
    IncrementalFreq.compact(spark, dir, Seq.empty)
    regsEqual()
  }

  test("a different store pointed at the same dir is rejected") {
    val dir = tempDir("cmsdir")
    IncrementalFreq.updateStore(dir, 0L, values, Seq.empty, "v")
    // a bloom store writing into the CMS dir would fold garbage — the
    // _PARAMS pin (different parameter names) or the DeltaLog schema
    // guard refuses the mismatched write, whichever fires first
    val ex = intercept[IllegalArgumentException] {
      graft.operators.BloomSet.IncrementalBloom.updateStore(dir, 1L,
        values, "v")
    }
    assert(ex.getMessage.contains("two different stores") ||
      ex.getMessage.contains("built with parameters"))
    // the SAME store shape keeps writing fine
    IncrementalFreq.updateStore(dir, 1L, values.limit(10), Seq.empty, "v")
  }

  test("parameter-mismatch and reserved-name guards fail loudly") {
    intercept[IllegalArgumentException] {
      FreqSketch.registers(values.withColumnRenamed("grp", "r"),
        Seq("r"), "v")
    }
    val regs = FreqSketch.registers(values, Seq.empty, "v", width = 256)
    val ex = intercept[Exception] {
      FreqSketch.estimate(regs, values.select("v").limit(1), Seq.empty, "v",
        width = 16).collect()
    }
    assert(ex.getMessage != null)
  }

  test("LARGER estimate-side depth is caught too (ADVICE r15 asymmetry)") {
    // registers at depth 2; estimate at the default depth 4 used to pass
    // the range-only guard (all r < 4) and return cms_count 0 for seen
    // values — an UNDERestimate violating the one-sided error contract.
    // The r-cardinality guard makes the mismatch loud in both directions.
    val regs = FreqSketch.registers(values, Seq.empty, "v", depth = 2,
      width = 256)
    val ex = intercept[Exception] {
      FreqSketch.estimate(regs, values.select("v").limit(1), Seq.empty, "v",
        depth = 4, width = 256).collect()
    }
    assert(ex.getMessage.contains("distinct hash rows"),
      s"expected the depth-cardinality guard, got: ${ex.getMessage}")
  }

  test("store pins (depth, width); a mismatched read or write refuses") {
    val dir = tempDir("cmspin")
    IncrementalFreq.updateStore(dir, 0L, values, Seq.empty, "v",
      depth = 4, width = 256)
    // LARGER width on read: undetectable from the relation (every address
    // in range, every row present) — only the pin can catch it
    val exR = intercept[IllegalArgumentException] {
      IncrementalFreq.readEstimate(spark, dir, values.select("v").limit(1),
        Seq.empty, "v", depth = 4, width = 512)
    }
    assert(exR.getMessage.contains("parameters"))
    // a writer with different params refuses before landing a delta
    val exW = intercept[IllegalArgumentException] {
      IncrementalFreq.updateStore(dir, 1L, values, Seq.empty, "v",
        depth = 8, width = 256)
    }
    assert(exW.getMessage.contains("parameters"))
    // matching params keep working
    assert(IncrementalFreq.readEstimate(spark, dir,
      values.select("v").limit(1), Seq.empty, "v",
      depth = 4, width = 256).get.count() === 1)
  }
}
