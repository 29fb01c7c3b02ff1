package graft

import graft.operators.{Dedup, IncrementalDedup, IncrementalMultimodal, IncrementalPhash}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental cross-modal (image, caption) dedup: the store-backed
  * ingest equals the one-shot rerun of both generators restricted to
  * pairs involving the batch, per edge and tag; re-delivery changes
  * nothing; the kept-set drops exactly the plants.
  */
class IncrementalMultimodalSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val rising  = (0 until 80).map(i => ('a' + i % 26).toChar).mkString
  private val falling = (0 until 80).map(i => ('z' - i % 26).toChar).mkString
  private val per3    = (0 until 80).map(i => "amz".charAt(i % 3)).mkString

  // captions need >= 3 shared shingle-words for LSH bands to agree
  private val capA = "ancient stone bridge over the quiet river at dawn"
  private val capB = "bright yellow taxi waiting outside the grand hotel"
  private val capNew = "fresh snow covers every rooftop in the old town"

  private def paired(rows: (Long, String, String)*): DataFrame =
    rows.toDF("doc_id", "img", "caption")
      .select(col("doc_id"), encode(col("img"), "UTF-8").as("payload"),
        col("caption"))

  private val corpus = paired(
    (1L, rising, capA), (2L, falling, capB), (3L, per3, capNew))
  // structurally distinct byte patterns for the new images (periodic
  // with different periods — a precondition below asserts all five
  // fingerprints sit > 3 bits apart, so no accidental image edge)
  private val alt2 = (0 until 80).map(i =>
    (if (i % 2 == 0) 'a' else 'z').toChar).mkString
  private val per4 = (0 until 80).map(i => "admz".charAt(i % 4)).mkString

  // 11 = re-captioned copy of 1 (same image); 12 = re-encoded under
  // 2's caption (different image); 13 = genuinely new in both modalities
  private val batch = paired(
    (11L, rising, "completely unrelated caption words entirely here now"),
    (12L, alt2, capB),
    (13L, per4, "another brand new caption nothing shares this"))

  private def edgeSet(df: DataFrame): Set[(Long, Long, String)] =
    df.select("id_a", "id_b", "modality")
      .as[(Long, Long, String)].collect().toSet

  test("store-backed ingest == one-shot rerun restricted to the batch; kept drops the plants") {
    // precondition: the five distinct image patterns are all far apart
    // in dHash space (only 1 and 11 share an image)
    val hs = IncrementalPhash.phashes(paired(
        (1L, rising, "x"), (2L, falling, "x"), (3L, per3, "x"),
        (4L, alt2, "x"), (5L, per4, "x")))
      .as[(Long, Long)].collect().toMap
    for (a <- hs.keys; b <- hs.keys if a < b)
      assert(java.lang.Long.bitCount(hs(a) ^ hs(b)) > 3,
        s"patterns $a and $b fingerprint too close for this fixture")

    val dir = tempDir("immp")
    IncrementalMultimodal.ingestBatch(corpus, dir, 0L)
    val mined = edgeSet(IncrementalMultimodal.ingestBatch(batch, dir, 1L))

    // one-shot rerun of the SAME generators over corpus ∪ batch,
    // restricted to pairs involving batch ids
    val all = corpus.unionByName(batch)
    val imgOneShot = Dedup.hammingPairs64(
        IncrementalPhash.phashes(all), maxHamming = 3,
        idCol = "id", hashCol = "h")
      .filter(col("id_b") >= 11L)
      .select(col("id_a"), col("id_b"), lit("image").as("modality"))
    val capOneShot = Dedup.minHashLshPairs(all, textCol = "caption")
      .filter(col("id_b") >= 11L)
      .select(col("id_a"), col("id_b"), lit("caption").as("modality"))
    assert(mined == edgeSet(imgOneShot.unionByName(capOneShot)))
    // each plant caught by exactly its one modality; 13 untouched
    assert(mined.contains((1L, 11L, "image")))
    assert(mined.contains((2L, 12L, "caption")))
    assert(!mined.exists(e => e._1 == 13L || e._2 == 13L))

    // re-delivering the batch yields the identical edge list and
    // leaves both stores unchanged
    val redelivered = edgeSet(IncrementalMultimodal.ingestBatch(batch, dir, 1L))
    assert(redelivered == mined)

    // consumable end over the landed edge log
    IncrementalMultimodal.ingester(dir)(corpus, 10L)
    IncrementalMultimodal.ingester(dir)(batch, 11L)
    val kept = IncrementalMultimodal.keptPairs(all, spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 13L),
      s"plants 11/12 must die against their sources, got $kept")
  }
}
