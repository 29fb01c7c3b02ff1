package graft

import graft.functions.TextAnalysis
import graft.operators.{BloomSet, Dedup, FreqSketch, IncrementalBoilerplate, Profile}
import graft.operators.BloomSet.IncrementalBloom
import graft.streaming.IngestPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One row on the streaming ingest feed. */
case class IngestDoc(doc_id: Long, text: String)

/** The composed production ingest sink (curate → land → incremental
  * dedup → incremental profile) must equal its batch-composed one-shot
  * run part by part, and re-delivery must change nothing.
  */
class IngestPipelineSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val profCols = Seq("doc_id", "ws_tokens")

  // the curate_documents-style chain: quality floor + token bounds
  private def curate(df: DataFrame): DataFrame =
    TextAnalysis.withQualityScore(TextAnalysis.withTokenCounts(df))
      .filter(col("quality_score") >= 0.3 &&
        col("ws_tokens").between(10, 10000))
      .select(col("doc_id"), col("text"), col("ws_tokens").cast("long").as("ws_tokens"))

  // 3 batches: two corpus slices plus near-dup copies of every 20th doc;
  // every 10th doc carries a planted TEMPLATE unit (the boilerplate
  // signal the unit-df store must count corpus-wide across batches)
  private val Template = "Subscribe to our newsletter for free offers"
  private def batches: Seq[Seq[IngestDoc]] = {
    val all = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect().map { case (i, t) =>
        IngestDoc(i, if (i % 10 == 0) s"$t. $Template" else t) }
    val dups = all.filter(_.doc_id % 20 == 0)
      .map(d => IngestDoc(d.doc_id + 100000L, d.text + " extradup token"))
    // junk the curation chain must drop: too short / pure punctuation
    val junk = Seq(IngestDoc(900001L, "x"),
      IngestDoc(900002L, "!!! ??? ... ;;; ::: ,,, (( )) [[ ]] {{ }} %% @@"))
    Seq(all.take(250).toSeq :+ junk.head,
      all.drop(250).toSeq, dups.toSeq :+ junk.last)
  }

  test("streamed ingest equals the batch-composed one-shot, part by part") {
    val dir = tempDir("ingest")
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[IngestDoc]
    val q = input.toDF().writeStream
      .foreachBatch(IngestPipeline.sink(dir, curate, profCols))
      .option("checkpointLocation", s"$dir/ckpt").start()
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()

    val allRaw = batches.flatten.toDF()
    val curatedAll = curate(allRaw)

    // 1. landed docs == curate(everything)
    val landed = IngestPipeline.landedDocs(spark, dir)
    val landedCount = landed.count()
    assert(landed.select("doc_id").as[Long].collect().sorted.toSeq ==
      curatedAll.select("doc_id").as[Long].collect().sorted.toSeq)
    assert(landedCount > 0 && landedCount < allRaw.count(),
      "curation must actually prune")

    // 2. union of per-batch pairs == one-shot pairs over the curated corpus
    val mined = IngestPipeline.minedPairs(spark, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val oneShot = Dedup.minHashLshPairs(curatedAll)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(mined == oneShot && mined.nonEmpty)

    // 3. profile store == one-shot profile on exact fields
    val stored = IngestPipeline.currentProfile(spark, dir).get
      .select("col_name", "n_non_null", "n_nulls", "min_value", "max_value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4))).toSet
    val direct = Profile.profile(curatedAll, profCols)
      .select("col_name", "n_non_null", "n_nulls", "min_value", "max_value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4))).toSet
    assert(stored == direct)

    // 4. boilerplate stage: landed docs cleaned against the folded
    // unit-df store == one-shot dropBoilerplateUnits over the curated
    // corpus — the batch CurationPipeline stage, matched by the stream
    def cleanedSet: Set[(Long, String, Long, Long)] =
      IngestPipeline.boilerplateCleanedDocs(spark, dir, minDocFreq = 3)
        .select("doc_id", "text_clean", "n_units", "n_dropped")
        .as[(Long, String, Long, Long)].collect().toSet
    val cleaned = cleanedSet
    val oneShotClean = Dedup.dropBoilerplateUnits(curatedAll, minDocFreq = 3)
      .select("doc_id", "text_clean", "n_units", "n_dropped")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(cleaned == oneShotClean)
    // the planted template (df >= 3 corpus-wide, even where a batch
    // held fewer than 3 carriers) is gone from every doc
    assert(!cleaned.exists(_._2.contains(Template)))
    assert(cleaned.exists(_._4 > 0), "template units must have dropped")

    // 5. re-delivering the last batch changes nothing anywhere
    IngestPipeline.sink(dir, curate, profCols)(batches.last.toDF(), 2L)
    assert(IngestPipeline.landedDocs(spark, dir).count() == landedCount)
    assert(IngestPipeline.minedPairs(spark, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet == mined)
    assert(IngestPipeline.currentProfile(spark, dir).get
      .select("col_name", "n_non_null", "n_nulls", "min_value", "max_value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4))).toSet == stored)
    assert(cleanedSet == oneShotClean)

    // 6. compacting the unit-df log changes no answers either
    IncrementalBoilerplate.compact(spark, s"$dir/unitdf")
    assert(cleanedSet == oneShotClean)

    // 7. the FULL read-side C4 chain (boilerplate clean -> intra-doc
    // unit dedup -> near-dup keep from the mined pair log -> leakage-
    // safe split -> per-split packing) == its one-shot batch twin over
    // the same raw corpus, stage generators aligned (LSH pairs over the
    // curated text on both sides)
    val streamedPacked = IngestPipeline.c4Corpus(spark, dir, minDocFreq = 3)
      .select("doc_id", "split", "ws_tokens", "offset", "bin")
      .as[(Long, String, Long, Long, Long)].collect().toSet
    val twinUnitDeduped = Dedup.dedupUnitsWithinDocs(
        Dedup.dropBoilerplateUnits(curatedAll, minDocFreq = 3)
          .select(col("doc_id"), col("text_clean").as("text")))
      .select(col("doc_id"), col("text_clean").as("text"))
    val twinClusters = Dedup.nearDupClusters(
      Dedup.minHashLshPairs(curatedAll).select("id_a", "id_b"))
    val twinPacked = graft.operators.CurationPipeline.splitAndPack(
        twinUnitDeduped, twinClusters, "doc_id", binSize = 2048L)
      .select("doc_id", "split", "ws_tokens", "offset", "bin")
      .as[(Long, String, Long, Long, Long)].collect().toSet
    assert(streamedPacked == twinPacked && streamedPacked.nonEmpty)
  }

  test("ingest-time decontamination + token-frequency folds equal their one-shot twins") {
    val dir = tempDir("ingest-sketch")
    val bloomDir = s"$dir/evalbloom"
    implicit val ctx = spark.sqlContext

    // eval benchmarks: 25-token prefixes of every 50th doc, published as
    // TWO bloom bit deltas BEFORE ingest (fixed set → streamed == one-shot)
    val allDocs = Tables.documents(spark, sf).select("doc_id", "text")
    def prompts(m: Long) = allDocs.filter(col("doc_id") % 50 === m)
      .select(col("doc_id"),
        array_join(slice(split(trim(col("text")), "\\s+"), 1, 25), " ")
          .as("text"))
    def promptShingles(m: Long) =
      Dedup.shingles(prompts(m), n = 5).select("shingle")
    IncrementalBloom.updateStore(bloomDir, 0L, promptShingles(0), "shingle")
    IncrementalBloom.updateStore(bloomDir, 1L, promptShingles(25), "shingle")

    val dc = IngestPipeline.DecontamConfig(bloomDir, minHits = Some(17L))
    val mkSink = () => IngestPipeline.sink(dir, curate, profCols,
      decontam = Some(dc), tokenFreq = true)
    val input = MemoryStream[IngestDoc]
    val q = input.toDF().writeStream.foreachBatch(mkSink())
      .option("checkpointLocation", s"$dir/ckpt").start()
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()

    val curatedAll = curate(batches.flatten.toDF()).localCheckpoint(false)
    def repSet(df: DataFrame): Set[(Long, Long, Long, Boolean)] =
      df.select("doc_id", "n_shingles", "n_hits", "flagged")
        .as[(Long, Long, Long, Boolean)].collect().toSet

    // 1. union of per-batch verdicts == one-shot contaminatedDocs over
    // the folded filter and the whole curated corpus
    val bits = IncrementalBloom.readBits(spark, bloomDir).get
    val streamedRep = repSet(IngestPipeline.contaminationReport(spark, dir).get)
    val oneShotRep = repSet(BloomSet.contaminatedDocs(curatedAll, bits,
      n = 5, minFrac = 0.3, minHits = Some(17L)))
    assert(streamedRep == oneShotRep)
    assert(streamedRep.exists(_._4), "planted prompt sources must be flagged")

    // 2. the decontaminated read-side == curated minus flagged
    val kept = IngestPipeline.decontaminatedDocs(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    val flaggedIds = oneShotRep.filter(_._4).map(_._1)
    assert(flaggedIds.nonEmpty)
    assert(kept ==
      curatedAll.select("doc_id").as[Long].collect().toSet -- flaggedIds)

    // 3. token-frequency store estimates == the one-shot sketch over the
    // curated corpus tokens (deterministic query set, exact equality —
    // register folds are additive over disjoint batches)
    def toks(df: DataFrame) = df.select(
      explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val queries = toks(curatedAll.filter(col("doc_id") % 37 === 0)).distinct()
    def estSet(df: DataFrame): Set[(String, Long)] =
      df.select("tok", "cms_count").as[(String, Long)].collect().toSet
    val streamedEst = estSet(
      IngestPipeline.tokenFreqEstimate(spark, dir, queries).get)
    val oneShotEst = estSet(FreqSketch.estimate(
      FreqSketch.registers(toks(curatedAll), Seq.empty, "tok"),
      queries, Seq.empty, "tok"))
    assert(streamedEst == oneShotEst && streamedEst.nonEmpty)

    // 4. re-delivering the last batch (same filter) changes nothing
    mkSink()(batches.last.toDF(), 2L)
    assert(repSet(IngestPipeline.contaminationReport(spark, dir).get)
      == streamedRep)
    assert(estSet(IngestPipeline.tokenFreqEstimate(spark, dir, queries).get)
      == streamedEst)

    // 5. at-ingest semantics: a benchmark publishing AFTER ingest never
    // retro-flags landed batches, but a batch arriving NOW is checked
    // against the grown filter
    IncrementalBloom.updateStore(bloomDir, 2L, promptShingles(10), "shingle")
    assert(repSet(IngestPipeline.contaminationReport(spark, dir).get)
      == streamedRep,
      "later benchmarks must not retro-flag already-landed batches")
    val late = allDocs.filter(col("doc_id") % 50 === 10)
      .select((col("doc_id") + 300000L).as("doc_id"), col("text"))
      .as[IngestDoc].collect().toSeq
    mkSink()(late.toDF(), 3L)
    val lateRep = repSet(IngestPipeline.contaminationReport(spark, dir).get)
      .filter(_._1 >= 300000L)
    assert(lateRep.exists(_._4),
      "a batch ingested after the benchmark published must flag its sources")
  }
}
