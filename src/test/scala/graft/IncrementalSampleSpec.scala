package graft

import graft.operators.{IncrementalSample => IS, Mixture}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The incremental weighted exact-k sample store: the E-S key is a
  * deterministic per-row function, so rank selection is mergeable —
  * topK(A ∪ B) = topK(topK(A) ∪ topK(B)) — and the fold equals a
  * one-shot re-rank of everything ingested, row-for-row.
  */
class IncrementalSampleSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val K = 3

  /** 60 docs in 2 groups with id-derived weights. */
  private def corpus: DataFrame =
    (1L to 60L).map(i =>
        (i, if (i % 2 == 0) "even" else "odd", (i % 7 + 1).toDouble))
      .toDF("doc_id", "grp", "w")

  private def batches: Seq[DataFrame] =
    (0 until 3).map(i => corpus.filter($"doc_id" % 3 === i))

  private def rows(df: DataFrame): Set[(Long, String, Double)] =
    df.select("doc_id", "grp", "w").as[(Long, String, Double)]
      .collect().toSet

  test("fold of per-batch top-k deltas == one-shot weightedSampleK") {
    val dir = tempDir("ism")
    batches.zipWithIndex.foreach { case (b, i) =>
      IS.updateStore(dir, i.toLong, b, "grp", "doc_id", "w", K) }
    val folded = rows(IS.readSample(spark, dir, "grp", "doc_id", "w", K).get)
    val oneShot = rows(Mixture.weightedSampleK(corpus, "grp", "doc_id", "w", K))
    assert(folded == oneShot)
    assert(folded.groupBy(_._2).forall(_._2.size == K), "exactly k per group")
  }

  test("overlapping batches fold to the one-shot sample (idempotent merge)") {
    // violate the disjointness contract on purpose: batch 3 re-delivers
    // half of batch 0's rows UNDER A NEW BATCH ID. The merge dedups ids
    // per group before re-ranking (ADVICE r14), so duplicates can never
    // occupy two top-k slots and the fold still equals the one-shot.
    val dir = tempDir("ism")
    batches.zipWithIndex.foreach { case (b, i) =>
      IS.updateStore(dir, i.toLong, b, "grp", "doc_id", "w", K) }
    IS.updateStore(dir, 3L, batches.head.filter($"doc_id" % 2 === 0),
      "grp", "doc_id", "w", K)
    val folded = rows(IS.readSample(spark, dir, "grp", "doc_id", "w", K).get)
    val oneShot = rows(Mixture.weightedSampleK(corpus, "grp", "doc_id", "w", K))
    assert(folded == oneShot)
    assert(folded.groupBy(_._2).forall(_._2.size == K), "exactly k per group")
  }

  test("each delta is bounded at k rows per group, whatever the batch size") {
    val delta = IS.sampleDelta(corpus, "grp", "doc_id", "w", K)
    val byGroup = delta.groupBy("grp").count().as[(String, Long)]
      .collect().toMap
    assert(byGroup.values.forall(_ == K))
  }

  test("re-delivery overwrites to equal content; empty store reads None") {
    val dir = tempDir("ism")
    assert(IS.readSample(spark, dir, "grp", "doc_id", "w", K).isEmpty)
    IS.updateStore(dir, 0L, batches.head, "grp", "doc_id", "w", K)
    val once = rows(IS.readSample(spark, dir, "grp", "doc_id", "w", K).get)
    IS.updateStore(dir, 0L, batches.head, "grp", "doc_id", "w", K)
    assert(rows(IS.readSample(spark, dir, "grp", "doc_id", "w", K).get) == once)
  }

  test("compaction preserves the sample and shrinks the log to ≤ k·|groups|") {
    val dir = tempDir("ism")
    batches.zipWithIndex.foreach { case (b, i) =>
      IS.updateStore(dir, i.toLong, b, "grp", "doc_id", "w", K) }
    val before = rows(IS.readSample(spark, dir, "grp", "doc_id", "w", K).get)
    IS.compact(spark, dir, "grp", "doc_id", "w", K)
    assert(rows(IS.readSample(spark, dir, "grp", "doc_id", "w", K).get)
      == before)
    val base = spark.read.parquet(s"$dir/base/upto=2")
    assert(base.count() <= 2L * K, "compacted base holds only the winners")
    // a later batch still folds correctly against the compacted base
    val late = Seq((1000L, "even", 1e9)).toDF("doc_id", "grp", "w")
    IS.updateStore(dir, 3L, late, "grp", "doc_id", "w", K)
    val after = rows(IS.readSample(spark, dir, "grp", "doc_id", "w", K).get)
    assert(after ==
      rows(Mixture.weightedSampleK(corpus.unionByName(late),
        "grp", "doc_id", "w", K)))
    assert(after.exists(_._1 == 1000L),
      "an overwhelming-weight late arrival enters the sample")
  }
}
