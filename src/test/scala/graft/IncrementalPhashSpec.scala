package graft

import graft.operators.{Dedup, IncrementalPhash => IP}
import graft.sources.MediaColumns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IncrementalPhashSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def media(docs: DataFrame) = MediaColumns.mediaFromDocuments(docs)

  // corpus docs + two batches: batch1 = one-byte re-encodes of every
  // 10th doc (near-dups of the corpus), batch2 = exact copies of every
  // 20th (near-dups at hamming 0) plus fresh far content
  private def corpusDocs = Tables.documents(spark, sf)
    .select("doc_id", "text").filter(length(col("text")) >= 72)
  private def batch1 = {
    val len = length(col("text"))
    val idx0 = floor(len * 40 / 72).cast("int")
    corpusDocs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text").substr(lit(1), idx0), lit("Q"),
          col("text").substr(idx0 + lit(2), len)).as("text"))
  }
  private def batch2 = corpusDocs.filter(col("doc_id") % 20 === 0)
    .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
    .unionByName(corpusDocs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 300000L).as("doc_id"),
        reverse(col("text")).as("text")))

  private def pairSet(df: DataFrame) =
    df.select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet

  test("incremental pairs equal the full-rerun pairs involving the batch") {
    val inc = pairSet(IP.incrementalPhashPairs(
      IP.phashes(media(batch1)), IP.phashes(media(corpusDocs))))
    val rerun = pairSet(Dedup.hammingPairs64(
        IP.phashes(media(corpusDocs.unionByName(batch1))),
        maxHamming = 3)
      .filter(col("id_a") >= 100000L || col("id_b") >= 100000L))
    assert(inc == rerun)
    assert(inc.nonEmpty, "planted re-encodes must pair with their sources")
    // every planted doc found its source at hamming <= 2
    val planted = batch1.select("doc_id").as[Long].collect().toSet
    val matched = inc.collect { case (a, b, _) if planted(b) => b - 100000L -> a }
    assert(matched.forall { case (src, a) => a == src })
  }

  test("multi-batch store ingestion equals the one-shot rerun") {
    val store = tempDir("phstore")
    IP.ingestBatch(media(corpusDocs), store, 0L)
    val p1 = pairSet(IP.ingestBatch(media(batch1), store, 1L))
    val p2 = pairSet(IP.ingestBatch(media(batch2), store, 2L))
    val all = pairSet(Dedup.hammingPairs64(
      IP.phashes(media(corpusDocs.unionByName(batch1).unionByName(batch2))),
      maxHamming = 3))
    val corpusOnly = pairSet(Dedup.hammingPairs64(
      IP.phashes(media(corpusDocs)), maxHamming = 3))
    // batch0's internal pairs + batch1-vs-store + batch2-vs-store tile
    // the full pair set exactly
    val p0 = pairSet(Dedup.hammingPairs64(
      IP.phashes(media(corpusDocs)), maxHamming = 3))
    assert((p0 ++ p1 ++ p2) == all)
    assert(p1.intersect(corpusOnly).isEmpty && p2.intersect(p1).isEmpty)
  }

  test("re-delivered batch is a store no-op and yields identical pairs") {
    val store = tempDir("phredo")
    IP.ingestBatch(media(corpusDocs), store, 0L)
    val first = pairSet(IP.ingestBatch(media(batch1), store, 1L))
    val storedBefore = IP.readHashes(spark, store).get
      .as[(Long, Long)].collect().toSet
    val again = pairSet(IP.ingestBatch(media(batch1), store, 1L))
    val storedAfter = IP.readHashes(spark, store).get
      .as[(Long, Long)].collect().toSet
    assert(again == first)
    assert(storedAfter == storedBefore)
  }

  test("maxBlockFreq cap drops degenerate masses from the candidate join") {
    // 40 identical corpus payloads (hash-degenerate) + one distinctive
    // doc; the batch re-encodes only the distinctive doc
    val base = "The quick brown fox jumps over the lazy dog, " * 4
    val corpus = ((0 until 40).map(i => (i.toLong, "all work and no play " * 8)) :+
      (100L, base)).toDF("doc_id", "text")
    val batch = Seq((200L, base.updated(100, 'Q'))).toDF("doc_id", "text")
    val capped = pairSet(IP.incrementalPhashPairs(
      IP.phashes(media(batch)), IP.phashes(media(corpus)),
      maxBlockFreq = Some(10L)))
    assert(capped.map(p => (p._1, p._2)) == Set((100L, 200L)),
      "hot blocks dropped, the distinctive pair kept")
  }
}
