package graft

import graft.operators.{Dedup, IncrementalBoilerplate => IB}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The unit-df delta-log store: fold == one-shot exactly (document
  * frequencies over disjoint doc batches are additive), re-delivery is
  * an idempotent overwrite, compaction preserves every answer while
  * pruning the log with a one-round grace window.
  */
class IncrementalBoilerplateSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private val b0 = docs(
    1L -> "alpha beta. common footer. unique one",
    2L -> "gamma delta. common footer")
  private val b1 = docs(
    3L -> "epsilon. common footer. common footer", // twice in ONE doc: df +1
    4L -> "zeta eta theta")
  private val b2 = docs(
    5L -> "common footer. iota kappa",
    6L -> "lambda mu")
  private val corpus = b0.unionByName(b1).unionByName(b2)

  private def dfMap(df: DataFrame): Map[String, Long] =
    df.select("unit", "df").as[(String, Long)].collect().toMap

  test("per-batch deltas fold to the one-shot unit document frequencies") {
    val dir = tempDir("ibp")
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      IB.updateStore(dir, i.toLong, b) }
    val folded = dfMap(IB.readUnitDf(spark, dir).get)
    assert(folded == dfMap(Dedup.unitDocFrequencies(corpus)))
    assert(folded("common footer") == 4L, "df counts DOCS, not occurrences")
  }

  test("cleaning against the store == one-shot dropBoilerplateUnits") {
    val dir = tempDir("ibp")
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      IB.updateStore(dir, i.toLong, b) }
    def rows(df: DataFrame): Set[(Long, String, Long, Long)] =
      df.select("doc_id", "text_clean", "n_units", "n_dropped")
        .as[(Long, String, Long, Long)].collect().toSet
    val viaStore = rows(IB.cleanAgainstStore(corpus, dir, minDocFreq = 3))
    assert(viaStore == rows(Dedup.dropBoilerplateUnits(corpus, minDocFreq = 3)))
    assert(!viaStore.exists(_._2.contains("common footer")))
    // doc 3's duplicate occurrences both dropped, organic unit kept
    assert(viaStore.contains((3L, "epsilon", 3L, 2L)))
  }

  test("re-delivery overwrites to equal content; empty store reads None") {
    val dir = tempDir("ibp")
    assert(IB.readUnitDf(spark, dir).isEmpty)
    IB.updateStore(dir, 0L, b0)
    val once = dfMap(IB.readUnitDf(spark, dir).get)
    IB.updateStore(dir, 0L, b0) // the at-least-once replay
    assert(dfMap(IB.readUnitDf(spark, dir).get) == once)
  }

  test("compaction preserves answers and prunes with one-round grace") {
    val dir = tempDir("ibp")
    IB.updateStore(dir, 0L, b0)
    IB.updateStore(dir, 1L, b1)
    val expect01 = dfMap(Dedup.unitDocFrequencies(b0.unionByName(b1)))
    IB.compact(spark, dir) // first compact: nothing previously superseded
    assert(dfMap(IB.readUnitDf(spark, dir).get) == expect01)
    IB.updateStore(dir, 2L, b2)
    val expectAll = dfMap(Dedup.unitDocFrequencies(corpus))
    assert(dfMap(IB.readUnitDf(spark, dir).get) == expectAll)
    IB.compact(spark, dir) // folds delta 2; prunes deltas <= base 1
    assert(dfMap(IB.readUnitDf(spark, dir).get) == expectAll)
    val deltaDir = new java.io.File(s"$dir/delta")
    val left = deltaDir.listFiles().map(_.getName).toSet
    assert(!left.contains("batch=0") && !left.contains("batch=1"),
      s"grace-expired deltas must be pruned, found $left")
    assert(left.contains("batch=2"), "one-round grace keeps the newest delta")
    // compact with nothing new is a no-op (no self-overwrite)
    IB.compact(spark, dir)
    assert(dfMap(IB.readUnitDf(spark, dir).get) == expectAll)
  }
}
