package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, DeltaLog, IncrementalBoilerplate,
  IncrementalCdc, KeyedUpsertSink}

/** The point-lookup read paths of the corpus-scale stores (r17 verdict
  * item 4): bucket-column pinning + pruned reads on [[KeyedUpsertSink]],
  * the scaled-bucket base snapshot + pruned fold on [[DeltaLog]], and
  * the operators that ride them ([[IncrementalCdc]],
  * [[IncrementalBoilerplate]]) proven EQUAL to their full-read answers
  * — pruning must change cost, never content.
  */
class StorePruneSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def freshDir() = tempDir("graft-prune")

  /** `n` rows (id, h = id % mod, ts) from `from`, as a spark.range frame. */
  private def idh(from: Long, n: Long, mod: Long, ts: Long) =
    spark.range(from, from + n).select(col("id"),
      (col("id") % mod).as("h"), lit(ts).as("ts"))

  test("bucketCols pin: h-bucketed store colocates equal hashes; pruned read equals filtered full read") {
    val dir = freshDir()
    // keys (id, h), bucketed by h alone — many ids share a hash. The
    // snapshot's bucket count follows its rows (one per 4096), so the
    // store holds enough rows for several buckets
    KeyedUpsertSink.upsertBatch(idh(0L, 20000L, 17L, 0L), dir,
      Seq("id", "h"), "ts", 0L, bucketCols = Seq("h"))
    KeyedUpsertSink.upsertBatch(idh(20000L, 600L, 17L, 1L),
      dir, Seq("id", "h"), "ts", 1L, bucketCols = Seq("h"))
    KeyedUpsertSink.compact(spark, dir, Seq("id", "h"))
    val full = KeyedUpsertSink.readStore(spark, dir).get
    assert(full.count() === 20600L)
    // probe three hash values: the pruned read must contain EVERY row
    // carrying those hashes (all rows of an h live in h's bucket)
    val probe = Seq(3L, 7L, 11L).toDF("h")
    val pruned = KeyedUpsertSink.readStoreForKeys(spark, dir, probe,
      Seq("h")).get
    val wantIds = full.filter(col("h").isin(3L, 7L, 11L))
      .select("id").as[Long].collect().toSet
    val gotIds = pruned.filter(col("h").isin(3L, 7L, 11L))
      .select("id").as[Long].collect().toSet
    assert(gotIds === wantIds)
    // and it genuinely pruned: fewer rows scanned than the store holds
    assert(pruned.count() < 20600L,
      "pruned read returned the whole store — no bucket was skipped")
    // a conflicting bucketCols request on the pinned store fails loudly
    val e = intercept[IllegalArgumentException] {
      KeyedUpsertSink.upsertBatch(Seq((999L, 1L, 9L)).toDF("id", "h", "ts"),
        dir, Seq("id", "h"), "ts", 9L, bucketCols = Seq("id"))
    }
    assert(e.getMessage.contains("bucketed by"))
  }

  test("compact can re-bucket (grow the count); reads and lookups stay exact") {
    import graft.operators.DeltaLog
    val dir = freshDir()
    KeyedUpsertSink.upsertBatch(idh(0L, 300L, 29L, 0L), dir,
      Seq("id", "h"), "ts", 0L, bucketCols = Seq("h"))
    KeyedUpsertSink.compact(spark, dir, Seq("id", "h"))
    assert(DeltaLog.readBucketCount(spark, dir) === Some(1))
    // the store grows: the next compaction sizes the buckets from rows
    KeyedUpsertSink.upsertBatch(idh(300L, 19700L, 29L, 1L), dir,
      Seq("id", "h"), "ts", 1L)
    KeyedUpsertSink.compact(spark, dir, Seq("id", "h"))
    assert(DeltaLog.readBucketCount(spark, dir) === Some(5))
    val full = KeyedUpsertSink.readStore(spark, dir).get
    assert(full.count() === 20000L)
    val pruned = KeyedUpsertSink.readStoreForKeys(spark, dir,
      Seq(5L).toDF("h"), Seq("h")).get
    assert(pruned.filter(col("h") === 5L).select("id").as[Long]
      .collect().toSet ===
      (0L until 20000L).filter(_ % 29 == 5L).toSet)
    // post-rebucket upserts keep working against the pin
    KeyedUpsertSink.upsertBatch(Seq((900000L, 5L, 2L)).toDF("id", "h", "ts"),
      dir, Seq("id", "h"), "ts", 2L)
    assert(KeyedUpsertSink.readStoreForKeys(spark, dir, Seq(5L).toDF("h"),
      Seq("h")).get.filter(col("h") === 5L).count() ===
      (0L until 20000L).count(_ % 29 == 5L) + 1L)
  }

  test("cdc ingest over the h-bucketed store equals the full-read answer") {
    val mk = (id: Long, text: String) => (id, text)
    val batch1 = Seq(
      mk(1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4),
      mk(2L, "one two three four five six seven eight nine ten " * 4)
    ).toDF("doc_id", "text")
    val batch2 = Seq(
      mk(3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4),
      mk(4L, "completely fresh content with no overlap whatsoever here " * 4)
    ).toDF("doc_id", "text")
    // pruned (h-bucketed, the new default) vs full (force the legacy
    // (id,h) pin by upserting through the sink directly)
    val prunedDir = freshDir()
    IncrementalCdc.ingestBatch(batch1, prunedDir, 0L).count()
    val prunedPairs = IncrementalCdc.ingestBatch(batch2, prunedDir, 1L)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Long)].collect().toSeq
    assert(KeyedUpsertSink.pinnedBucketCols(spark, prunedDir) ===
      Some(Seq("h")))
    val legacyDir = freshDir()
    val ch1 = IncrementalCdc.chunkHashes(batch1)
    KeyedUpsertSink.upsertBatch(
      ch1.select(col("id"), col("h"), lit(0L).as("batch_id")),
      legacyDir, Seq("id", "h"), "batch_id", 0L) // legacy: bucket by keys
    val legacyPairs = IncrementalCdc.ingestBatch(batch2, legacyDir, 1L)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Long)].collect().toSeq
    assert(KeyedUpsertSink.pinnedBucketCols(spark, legacyDir) ===
      Some(Seq("id", "h")))
    assert(prunedPairs === legacyPairs)
    assert(prunedPairs.exists { case (a, b, _) => a == 1L && b == 3L },
      s"cross-batch duplicate (1,3) missing from $prunedPairs")
  }

  test("bucketed boilerplate base: pruned clean equals the one-shot answer; layout carries the marker") {
    val dir = freshDir()
    val mkDocs = (ids: Seq[Long]) => ids.map(i =>
      (i, if (i % 3 == 0) "the common boilerplate line. unique tail " + i
      else "unique body " + i + ". the common boilerplate line"))
      .toDF("doc_id", "text")
    val all = mkDocs(0L until 90L)
    // two ingest batches, then a bucketed compact
    IncrementalBoilerplate.updateStore(dir, 0L, mkDocs(0L until 45L))
    IncrementalBoilerplate.updateStore(dir, 1L, mkDocs(45L until 90L))
    IncrementalBoilerplate.compact(spark, dir, targetRowsPerBucket = 8L)
    val base = Files.list(Paths.get(s"$dir/base")).iterator()
    assert(base.hasNext)
    val basePath = Paths.get(s"$dir/base").toFile.listFiles()
      .filter(_.getName.startsWith("upto=")).head.toPath
    assert(Files.exists(basePath.resolve("_NBUCKETS")),
      "bucketed base must carry its bucket-count marker")
    assert(basePath.toFile.listFiles().exists(_.getName.startsWith("ubkt=")),
      "bucketed base must be ubkt-partitioned")
    // the pruned clean-against-store equals the one-shot corpus answer
    val probe = mkDocs(Seq(3L, 7L, 12L))
    val cleaned = IncrementalBoilerplate.cleanAgainstStore(probe, dir,
      minDocFreq = 30L).orderBy("doc_id")
    val oneShot = Dedup.dropBoilerplateUnits(all, minDocFreq = 30L)
      .filter(col("doc_id").isin(3L, 7L, 12L)).orderBy("doc_id")
    assert(cleaned.collect().toSeq === oneShot.collect().toSeq)
    // and the pruned fold matches the full fold on the probe's units
    val probeUnits = IncrementalBoilerplate.unitDfDelta(probe).select("unit")
    val pruned = DeltaLog.readFoldedFor(spark, dir,
      df => df.groupBy("unit").agg(sum("df").as("df")), Seq("unit"),
      probeUnits).get
    val full = IncrementalBoilerplate.readUnitDf(spark, dir).get
    val onProbe = full.join(probeUnits.distinct(), Seq("unit"))
      .orderBy("unit").collect().toSeq
    val onProbePruned = pruned.join(probeUnits.distinct(), Seq("unit"))
      .orderBy("unit").collect().toSeq
    assert(onProbePruned === onProbe)
    // fold == one-shot still holds post-compact (the invariant the
    // store family lives by)
    val oneShotDf = Dedup.unitDocFrequencies(all).orderBy("unit")
    assert(full.orderBy("unit").collect().toSeq ===
      oneShotDf.collect().toSeq)
  }

  private val sumMerge: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame =
    _.groupBy("unit").agg(sum("df").as("df"))

  private def committedRuns(dir: String): Seq[Long] =
    DeltaLog.committedIds(spark, s"$dir/l1", "upto=").map(_._1).sorted

  private def committedDeltas(dir: String): Seq[Long] =
    DeltaLog.committedIds(spark, s"$dir/delta", "batch=").map(_._1).sorted

  private def foldMap(dir: String): Map[String, Long] =
    DeltaLog.readFolded(spark, dir, sumMerge).get
      .select("unit", "df").as[(String, Long)].collect().toMap

  test("minor compaction: L1 runs fold the tail exactly, grace-delete one round late, reads stay exact") {
    val dir = freshDir()
    def delta(id: Long, units: (String, Long)*): Unit =
      DeltaLog.writeDelta(units.toDF("unit", "df"), dir, id)
    delta(0L, "a" -> 1L, "b" -> 2L)
    delta(1L, "a" -> 1L, "c" -> 3L)
    DeltaLog.compactMinor(spark, dir, sumMerge, Seq("unit"),
      targetRowsPerBucket = 2L)
    // one bucketed run covering the whole tail, marker carrying rows
    assert(committedRuns(dir) === Seq(1L))
    val (b1, rows1) = DeltaLog.markerAt(spark, s"$dir/l1/upto=1").get
    assert(b1 >= 1 && rows1.contains(3L)) // a=2 folded, b, c
    assert(foldMap(dir) === Map("a" -> 2L, "b" -> 2L, "c" -> 3L))
    // first minor had nothing previously folded: no grace deletes yet
    assert(committedDeltas(dir) === Seq(0L, 1L))
    delta(2L, "b" -> 5L)
    delta(3L, "d" -> 7L)
    DeltaLog.compactMinor(spark, dir, sumMerge, Seq("unit"),
      targetRowsPerBucket = 2L)
    // run 3 = fold(run 1 ∪ deltas 2,3); run 1 survives ONE round for
    // lazy readers; deltas the PREVIOUS run covered are gone
    assert(committedRuns(dir) === Seq(1L, 3L))
    assert(committedDeltas(dir) === Seq(2L, 3L))
    assert(foldMap(dir) === Map("a" -> 2L, "b" -> 7L, "c" -> 3L, "d" -> 7L))
    delta(4L, "a" -> 10L)
    DeltaLog.compactMinor(spark, dir, sumMerge, Seq("unit"),
      targetRowsPerBucket = 2L)
    // run 1 (two flips old) is gone, run 3 rides its grace round
    assert(committedRuns(dir) === Seq(3L, 4L))
    assert(committedDeltas(dir) === Seq(4L))
    val expect = Map("a" -> 12L, "b" -> 7L, "c" -> 3L, "d" -> 7L)
    assert(foldMap(dir) === expect)
    // pruned fold over the run+tail layout == filtered full fold
    val probe = Seq("a", "d").toDF("unit")
    val pruned = DeltaLog.readFoldedFor(spark, dir, sumMerge, Seq("unit"),
      probe).get.join(probe, Seq("unit"))
      .select("unit", "df").as[(String, Long)].collect().toMap
    assert(pruned === Map("a" -> 12L, "d" -> 7L))
  }

  test("major after minors: run content folds into the base; superseded runs go at the next flip") {
    val dir = freshDir()
    def delta(id: Long, units: (String, Long)*): Unit =
      DeltaLog.writeDelta(units.toDF("unit", "df"), dir, id)
    delta(0L, "a" -> 1L); delta(1L, "b" -> 2L)
    DeltaLog.compactMinor(spark, dir, sumMerge, Seq("unit"),
      targetRowsPerBucket = 2L)
    delta(2L, "a" -> 4L)
    DeltaLog.compactBucketed(spark, dir, sumMerge, Seq("unit"),
      targetRowsPerBucket = 2L)
    // the base covers run + tail; the run is instantly excluded from
    // reads (it sits at-or-below the base) but survives its grace round
    assert(DeltaLog.newestCommitted(spark, s"$dir/base", "upto=")
      .map(_._1) === Some(2L))
    assert(committedRuns(dir) === Seq(1L))
    assert(foldMap(dir) === Map("a" -> 5L, "b" -> 2L))
    // next flip deletes the superseded run
    delta(3L, "c" -> 9L)
    DeltaLog.compactBucketed(spark, dir, sumMerge, Seq("unit"),
      targetRowsPerBucket = 2L)
    assert(committedRuns(dir) === Seq.empty)
    assert(foldMap(dir) === Map("a" -> 5L, "b" -> 2L, "c" -> 9L))
    // a minor directly after a major is a no-op (no tail above the base)
    DeltaLog.compactMinor(spark, dir, sumMerge, Seq("unit"),
      targetRowsPerBucket = 2L)
    assert(committedRuns(dir) === Seq.empty)
  }

  test("boilerplate minor cadence: clean-against-store equals one-shot with only minors since the major") {
    val dir = freshDir()
    val mkDocs = (ids: Seq[Long]) => ids.map(i =>
      (i, if (i % 3 == 0) "the common boilerplate line. unique tail " + i
      else "unique body " + i + ". the common boilerplate line"))
      .toDF("doc_id", "text")
    val all = mkDocs(0L until 90L)
    IncrementalBoilerplate.updateStore(dir, 0L, mkDocs(0L until 40L))
    IncrementalBoilerplate.compact(spark, dir, targetRowsPerBucket = 8L)
    IncrementalBoilerplate.updateStore(dir, 1L, mkDocs(40L until 70L))
    IncrementalBoilerplate.compactMinor(spark, dir, targetRowsPerBucket = 8L)
    IncrementalBoilerplate.updateStore(dir, 2L, mkDocs(70L until 90L))
    // layout now: bucketed base + bucketed L1 run + one delta — the
    // steady state of a continuously-ingesting deployment between majors
    assert(committedRuns(dir) === Seq(1L))
    val probe = mkDocs(Seq(3L, 7L, 12L))
    val cleaned = IncrementalBoilerplate.cleanAgainstStore(probe, dir,
      minDocFreq = 30L).orderBy("doc_id")
    val oneShot = Dedup.dropBoilerplateUnits(all, minDocFreq = 30L)
      .filter(col("doc_id").isin(3L, 7L, 12L)).orderBy("doc_id")
    assert(cleaned.collect().toSeq === oneShot.collect().toSeq)
    assert(IncrementalBoilerplate.readUnitDf(spark, dir).get
      .orderBy("unit").collect().toSeq ===
      Dedup.unitDocFrequencies(all).orderBy("unit").collect().toSeq)
  }
}
