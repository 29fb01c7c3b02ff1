package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IncrementalAnn, SimilaritySearch}

/** Incremental ANN ingest: the batch-vs-index top-k must equal a
  * union-corpus banded rerun exactly, the persisted band store must make
  * multi-batch ingestion idempotent under re-delivery, and planted
  * near-copies must retrieve their sources.
  */
class IncrementalAnnSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"

  private def corpus = Tables.embeddings(spark, sf)
    .select("vec_id", "embedding")

  // the "new batch": exact copies of every 25th vector under fresh ids
  // (disjoint — the new-vectors-only ingest contract)
  private def batch = corpus.filter($"vec_id" % 25 === 0)
    .select(($"vec_id" + 100000L).as("vec_id"), $"embedding")

  private def topkSet(df: DataFrame): Set[(Long, Long, Int, Double)] =
    df.select("query_id", "neighbor_id", "rank", "cosine")
      .as[(Long, Long, Int, Double)].collect().toSet

  test("incrementalTopK == lshBandedTopK over the union corpus, row for row") {
    val incr = topkSet(IncrementalAnn.incrementalTopK(
      IncrementalAnn.indexRows(batch), IncrementalAnn.indexRows(corpus), k = 5))
    val rerun = topkSet(SimilaritySearch.lshBandedTopK(
      corpus.unionByName(batch), batch, k = 5, tables = 4, bitsPerTable = 16))
    assert(incr === rerun,
      s"missing=${rerun.diff(incr).take(5)} extra=${incr.diff(rerun).take(5)}")
    // every batch vector finds its source at rank 1, cosine ~ 1
    val rank1 = incr.filter(_._3 == 1)
    assert(rank1.nonEmpty)
    rank1.foreach { case (q, n, _, c) =>
      assert(n === q - 100000L, s"query $q rank-1 must be its source copy")
      assert(math.abs(c - 1.0) < 1e-9)
    }
  }

  test("multiprobe equivalence holds too (probe expansion matches the rerun)") {
    val incr = topkSet(IncrementalAnn.incrementalTopK(
      IncrementalAnn.indexRows(batch), IncrementalAnn.indexRows(corpus),
      k = 5, multiProbe = true))
    val rerun = topkSet(SimilaritySearch.lshBandedTopK(
      corpus.unionByName(batch), batch, k = 5, tables = 4, bitsPerTable = 16,
      multiProbe = true))
    assert(incr === rerun)
  }

  test("multi-batch ingestion through the band store answers each batch; re-delivery idempotent") {
    val storeDir = tempDir("annstore")
    val b0 = IncrementalAnn.ingestBatch(corpus, storeDir, batchId = 0L, k = 5)
    b0.count() // materialize before the next ingest prunes generations
    val b1 = topkSet(IncrementalAnn.ingestBatch(batch, storeDir, batchId = 1L, k = 5))
    // batch 1's answers equal the union rerun (store carried batch 0)
    val rerun = topkSet(SimilaritySearch.lshBandedTopK(
      corpus.unionByName(batch), batch, k = 5, tables = 4, bitsPerTable = 16))
    assert(b1 === rerun)
    // re-delivering batch 1 (same id, at-least-once) changes nothing:
    // same answers (no self-matches), store row count stable
    val redelivered = topkSet(IncrementalAnn.ingestBatch(batch, storeDir,
      batchId = 1L, k = 5))
    assert(redelivered === b1, "re-delivery must be idempotent")
    val stored = IncrementalAnn.readIndex(spark, storeDir).get.count()
    assert(stored === corpus.count() + batch.count())
  }

  test("store pins (tables, bitsPerTable); a mismatched ingest refuses") {
    // the stored bands are a function of the band parameters — probing
    // them with different ones returns silently-empty candidates, so
    // the pin makes the mismatch loud (the sketch-store rule, r16)
    val storeDir = tempDir("annpin")
    IncrementalAnn.ingestBatch(corpus, storeDir, batchId = 0L, k = 5,
      tables = 4, bitsPerTable = 16).count()
    val ex = intercept[IllegalArgumentException] {
      IncrementalAnn.ingestBatch(batch, storeDir, batchId = 1L, k = 5,
        tables = 4, bitsPerTable = 20)
    }
    assert(ex.getMessage.contains("parameters"))
    // matching parameters keep working
    IncrementalAnn.ingestBatch(batch, storeDir, batchId = 1L, k = 5,
      tables = 4, bitsPerTable = 16).count()
  }

  test("planted near-copies retrieve their sources through the ingest path") {
    val storeDir = tempDir("annstore2")
    IncrementalAnn.ingestBatch(corpus, storeDir, batchId = 0L, k = 5).count()
    val planted = SimilaritySearch.plantedQueries(corpus) // cosine ~0.945 noise
    val answers = IncrementalAnn.ingestBatch(planted, storeDir, batchId = 1L,
      k = 5, multiProbe = true)
    val nq = planted.count()
    val hits = answers.filter($"neighbor_id" === $"query_id" - 900000L).count()
    assert(hits.toDouble / nq >= 0.6,
      f"planted recall through ingest ${hits.toDouble / nq}%.2f — banding or store broken")
  }

  test("streaming ingester lands per-batch answers == one-shot reruns") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val storeDir = tempDir("annstore3")
    val topkDir = tempDir("anntopk")
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, Array[Float])]
    val stream = in.toDF().toDF("vec_id", "embedding")
    val q = stream.writeStream
      .foreachBatch(IncrementalAnn.ingester(storeDir, topkDir, k = 5))
      .outputMode("update").start()
    try {
      val c = corpus.as[(Long, Array[Float])].collect()
      val b = batch.as[(Long, Array[Float])].collect()
      in.addData(c.toSeq); q.processAllAvailable()
      in.addData(b.toSeq); q.processAllAvailable()
    } finally q.stop()
    val landed = IncrementalAnn.answeredTopK(spark, topkDir)
    val batch1 = topkSet(landed.filter($"batch" === 1)
      .select("query_id", "neighbor_id", "rank", "cosine"))
    val rerun = topkSet(SimilaritySearch.lshBandedTopK(
      corpus.unionByName(batch), batch, k = 5, tables = 4, bitsPerTable = 16))
    assert(batch1 === rerun,
      "streamed batch answers must equal the one-shot rerun")
  }
}
