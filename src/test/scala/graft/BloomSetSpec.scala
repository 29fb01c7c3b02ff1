package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextHash
import graft.operators.{BloomSet, Dedup}
import graft.operators.BloomSet.IncrementalBloom

class BloomSetSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def vals = spark.range(400)
    .select(concat(lit("w"), col("id")).as("v")).localCheckpoint(false)

  test("bit relation matches the driver-side reference bit-for-bit") {
    val got = BloomSet.bits(vals, "v", numBits = 1 << 12, numHashes = 3)
      .as[Long].collect().sorted.toSeq
    val consts = TextHash.mixConstants(3)
    val m = TextHash.Mersenne61
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(0, 15), 16)
    }
    val want = vals.as[String].collect().flatMap { v =>
      val h = h60(v)
      (0 until 3).map { i =>
        val (a, b, c) = consts(i)
        Math.floorMod((a * (h & 0x3FFFFFFFL) + b * (h >> 30) + c) % m,
          (1L << 12))
      }
    }.distinct.sorted.toSeq
    assert(got === want)
  }

  test("no false negatives: every true member tests positive") {
    val bits = BloomSet.bits(vals, "v")
    val verdicts = BloomSet.possiblyContains(bits,
      vals.withColumn("k", lit(1)), Seq("k"), "v")
    assert(verdicts.filter(!col("possibly_in_set")).count() === 0)
    assert(verdicts.count() === 400)
  }

  test("false positives exist at a tight filter but never at a wide one") {
    val others = spark.range(400, 5000)
      .select(concat(lit("w"), col("id")).as("v"))
    // 400 members × 4 hashes into 512 bits: filter nearly full — some
    // non-member must collide on all 4
    val tight = BloomSet.bits(vals, "v", numBits = 512)
    val fpTight = BloomSet.possiblyContains(tight,
      others.withColumn("k", lit(1)), Seq("k"), "v", numBits = 512)
      .filter(col("possibly_in_set")).count()
    assert(fpTight > 0, "a near-full filter must show false positives")
    // 400 members into 2^20 bits: collision chance negligible
    val wide = BloomSet.bits(vals, "v", numBits = 1 << 20)
    val fpWide = BloomSet.possiblyContains(wide,
      others.withColumn("k", lit(1)), Seq("k"), "v", numBits = 1 << 20)
      .filter(col("possibly_in_set")).count()
    assert(fpWide === 0)
  }

  test("no false negatives vs the exact join: hits >= overlap, " +
      "flagged superset at matching thresholds") {
    val d = Tables.documents(spark, sf).select("doc_id", "text")
    val eval = d.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 500000L).as("doc_id"),
        array_join(slice(split(trim(col("text")), "\\s+"), 1, 25), " ")
          .as("text"))
    // exact per-pair overlaps (threshold 0 = every overlapping pair)
    val exactPairs = Dedup.contaminationPairs(d, eval, n = 5,
        minOverlapFrac = 0.0, maxDocFreq = Some(100L))
      .select(col("train_id"), col("overlap"))
      .as[(Long, Long)].collect()
    assert(exactPairs.nonEmpty, "the planted prefixes must contaminate")
    val ebits = BloomSet.bits(
      Dedup.shingles(eval, n = 5).select("shingle"), "shingle")
    val bloom = BloomSet.contaminatedDocs(d, ebits, n = 5,
        minFrac = 0.3, minHits = Some(17L), maxDocFreq = Some(100L))
      .select(col("doc_id"), col("n_hits"), col("flagged"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    // per-shingle no-false-negatives => a doc's bloom hit count bounds
    // its exact overlap with EVERY prompt from below
    exactPairs.foreach { case (id, overlap) =>
      assert(bloom(id)._1 >= overlap,
        s"doc $id: bloom hits ${bloom(id)._1} < exact overlap $overlap")
    }
    // and therefore: every exact pair at overlap >= minHits is flagged
    val mustFlag = exactPairs.filter(_._2 >= 17L).map(_._1).toSet
    assert(mustFlag.nonEmpty)
    mustFlag.foreach { id =>
      assert(bloom(id)._2, s"doc $id with exact overlap >= 17 not flagged")
    }
  }

  test("store fold is idempotent: overlap and re-delivery change nothing") {
    val dir = tempDir("bloom")
    // OVERLAPPING batches on purpose — distinct-union needs no contract
    IncrementalBloom.updateStore(dir, 0L,
      vals.filter(expr("v like 'w1%' or v like 'w2%'")), "v")
    IncrementalBloom.updateStore(dir, 1L, vals, "v")
    IncrementalBloom.updateStore(dir, 1L, vals, "v") // re-delivery
    val oneShot = BloomSet.bits(vals, "v")
    val folded = IncrementalBloom.readBits(spark, dir).get
    assert(folded.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(folded).isEmpty)
    IncrementalBloom.compact(spark, dir)
    val compacted = IncrementalBloom.readBits(spark, dir).get
    assert(compacted.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(compacted).isEmpty)
  }

  test("store-backed decontamination: benchmarks fold in as they publish") {
    val dir = tempDir("bloomstore")
    val d = Tables.documents(spark, sf).select("doc_id", "text")
    def prompts(mod: Long) = d.filter(col("doc_id") % 100 === mod)
      .select(col("doc_id"),
        array_join(slice(split(trim(col("text")), "\\s+"), 1, 25), " ")
          .as("text"))
    def promptShingles(mod: Long) =
      Dedup.shingles(prompts(mod), n = 5).select("shingle")
    def report(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_hits").as[(Long, Long)].collect().toMap
    assert(IncrementalBloom.contaminatedAgainstStore(spark, dir, d).isEmpty)
    // benchmark 1 lands: the store read-side equals the direct operator
    // against exactly that benchmark's filter
    IncrementalBloom.updateStore(dir, 0L, promptShingles(0), "shingle")
    val after1 = report(IncrementalBloom.contaminatedAgainstStore(spark, dir,
      d, minHits = Some(17L), maxDocFreq = Some(100L)).get)
    val direct1 = report(BloomSet.contaminatedDocs(d,
      BloomSet.bits(promptShingles(0), "shingle"), n = 5,
      minHits = Some(17L), maxDocFreq = Some(100L)))
    assert(after1 === direct1)
    assert(after1.values.max >= 17L, "benchmark sources must score hits")
    // benchmark 2 publishes later as its own batch: read side now equals
    // the one-shot filter over BOTH prompt sets, and no doc's hit count
    // ever decreases (the filter only grows)
    IncrementalBloom.updateStore(dir, 1L, promptShingles(50), "shingle")
    val after2 = report(IncrementalBloom.contaminatedAgainstStore(spark, dir,
      d, minHits = Some(17L), maxDocFreq = Some(100L)).get)
    val direct2 = report(BloomSet.contaminatedDocs(d,
      BloomSet.bits(promptShingles(0).unionByName(promptShingles(50)),
        "shingle"), n = 5, minHits = Some(17L), maxDocFreq = Some(100L)))
    assert(after2 === direct2)
    after1.foreach { case (id, h) => assert(after2(id) >= h) }
    assert(after2.values.sum > after1.values.sum,
      "the second benchmark must add hits somewhere")
  }

  test("parameter guards") {
    intercept[IllegalArgumentException] { BloomSet.bits(vals, "v", numBits = 1) }
    intercept[IllegalArgumentException] {
      BloomSet.bits(vals, "v", numHashes = 17)
    }
    // reserved probe names fail at the API boundary, not deep in the join
    // (ADVICE r15: the sibling sketches had this guard, the bloom did not)
    val exN = intercept[IllegalArgumentException] {
      BloomSet.possiblyContains(BloomSet.bits(vals, "v"),
        vals.withColumnRenamed("v", "bit"), Seq.empty, "bit")
    }
    assert(exN.getMessage.contains("reserved"))
  }

  test("store pins (numBits, numHashes); a mismatched read or write refuses") {
    val dir = tempDir("bloompin")
    IncrementalBloom.updateStore(dir, 0L, vals, "v",
      numBits = 1 << 16, numHashes = 4)
    // different bits on the read side address different cells — silent
    // false negatives without the pin, a loud refusal with it
    val exR = intercept[IllegalArgumentException] {
      IncrementalBloom.contaminatedAgainstStore(spark, dir,
        Tables.documents(spark, sf).select("doc_id", "text").limit(1),
        numBits = 1 << 15)
    }
    assert(exR.getMessage.contains("parameters"))
    val exW = intercept[IllegalArgumentException] {
      IncrementalBloom.updateStore(dir, 1L, vals, "v",
        numBits = 1 << 16, numHashes = 3)
    }
    assert(exW.getMessage.contains("parameters"))
    // matching params keep working
    IncrementalBloom.updateStore(dir, 1L, vals, "v",
      numBits = 1 << 16, numHashes = 4)
  }
}
