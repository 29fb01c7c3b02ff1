package graft

import graft.operators.IncrementalCdc
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental passage-level (CDC chunk) dedup: the batch-vs-corpus
  * miner must equal the one-shot union rerun exactly, the store must
  * make multi-batch ingestion equal one-shot, and re-delivery must be
  * a no-op.
  */
class IncrementalCdcSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def corpus = Tables.documents(spark, sf)
    .select(col("doc_id"), col("text")).filter(col("doc_id") < 400)

  // suffix-edited near dups of every 20th doc, plus fresh docs (>= 400)
  private def batch = corpus.filter(col("doc_id") % 20 === 0)
    .select((col("doc_id") + 100000L).as("doc_id"),
      concat(col("text"), lit(" extradup token")).as("text"))
    .unionByName(Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") >= 400))

  private def pairSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.select("id_a", "id_b", "shared_chunks").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  // one-shot reference: every pair of the given corpus (an empty
  // "corpus" side makes the batch-internal miner the all-pairs miner)
  private def oneShot(docs: DataFrame): DataFrame = {
    val ch = IncrementalCdc.chunkHashes(docs)
    IncrementalCdc.incrementalChunkPairs(ch, ch.filter(lit(false)))
  }

  test("incremental pairs + corpus self-pairs == one-shot union rerun") {
    val full = pairSet(oneShot(corpus.unionByName(batch)))
    val self = pairSet(oneShot(corpus))
    val incr = pairSet(IncrementalCdc.incrementalChunkPairs(
      IncrementalCdc.chunkHashes(batch), IncrementalCdc.chunkHashes(corpus)))
    assert(self.union(incr) == full,
      s"missing=${full.diff(self.union(incr))}\nextra=${self.union(incr).diff(full)}")
    assert(self.intersect(incr).isEmpty)
  }

  test("CDC resync: a suffix edit shares every chunk but at most the last") {
    val incr = IncrementalCdc.incrementalChunkPairs(
      IncrementalCdc.chunkHashes(batch), IncrementalCdc.chunkHashes(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val nChunks = IncrementalCdc.chunkHashes(corpus)
      .filter(col("id") % 20 === 0).groupBy("id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nChunks.nonEmpty)
    for ((id, n) <- nChunks) {
      val shared = incr.getOrElse((id, id + 100000L), 0L)
      assert(shared >= n - 1, s"doc $id: shared=$shared of $n chunks")
    }
  }

  test("store: multi-batch ingestion equals one-shot; re-delivery is a no-op") {
    val dir = tempDir("cdcstore")
    val b1 = corpus
    val b2 = batch
    val p1 = IncrementalCdc.ingestBatch(b1, dir, 1L)
    val p2 = IncrementalCdc.ingestBatch(b2, dir, 2L)
    val got = pairSet(p1).union(pairSet(p2))
    val want = pairSet(oneShot(corpus.unionByName(batch)))
    assert(got == want)
    // re-deliver batch 2: identical pair list, store state unchanged
    val p2again = IncrementalCdc.ingestBatch(b2, dir, 2L)
    assert(pairSet(p2again) == pairSet(p2))
    val stored = IncrementalCdc.readChunks(spark, dir).get.count()
    assert(stored ==
      IncrementalCdc.chunkHashes(corpus.unionByName(batch)).count())
  }

  test("df-cap drops hot boilerplate chunks from the pair join") {
    import spark.implicits._
    val boiler = "standard disclaimer text that appears everywhere verbatim"
    val docs = (1L to 30L).map(i => (i, s"$boiler unique tail $i")).toDF("doc_id", "text")
    val ch = IncrementalCdc.chunkHashes(docs)
    val uncapped = IncrementalCdc.incrementalChunkPairs(ch, ch.filter(lit(false)))
    val capped = IncrementalCdc.incrementalChunkPairs(ch, ch.filter(lit(false)),
      maxDocFreq = Some(10L))
    assert(uncapped.count() > 0)
    assert(capped.count() < uncapped.count())
  }
}
