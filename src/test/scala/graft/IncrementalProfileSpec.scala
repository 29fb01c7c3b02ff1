package graft

import graft.operators.{IncrementalProfile => IP, Profile}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IncrementalProfileSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private val cols = Seq("doc_id", "lang", "source", "n_chars")

  private def docs = Tables.documents(spark, sf)

  private def batches = (0 until 3).map(i =>
    docs.filter(pmod(col("doc_id"), lit(3)) === i))

  test("batch-wise fold equals the one-shot profile on exact fields") {
    val folded = IP.report(batches.map(IP.summarize(_, cols)).reduce(IP.merge))
      .select("col_name", "n_non_null", "n_nulls", "min_value", "max_value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4))).sortBy(_._1)
    val oneShot = Profile.profile(docs, cols)
      .select("col_name", "n_non_null", "n_nulls", "min_value", "max_value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4))).sortBy(_._1)
    assert(folded.toSeq == oneShot.toSeq)
  }

  test("folded HLL distinct estimate stays within 5% of exact") {
    val est = IP.report(batches.map(IP.summarize(_, cols)).reduce(IP.merge))
      .select("col_name", "n_distinct_approx").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val exact = Profile.profile(docs, cols)
      .select("col_name", "n_distinct").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    for ((c, e) <- exact)
      assert(math.abs(est(c) - e) <= 0.05 * e, s"$c: est=${est(c)} exact=$e")
  }

  test("double columns merge bounds numerically, not lexicographically") {
    import spark.implicits._
    // 10.0 < 9.0 lexicographically — the trap the typed families avoid
    val a = Seq(9.0, 2.5).toDF("v")
    val b = Seq(10.0, 3.5).toDF("v")
    val m = IP.report(IP.merge(IP.summarize(a, Seq("v")), IP.summarize(b, Seq("v"))))
      .select("min_value", "max_value").head()
    assert(m.getString(0) == "2.5" && m.getString(1) == "10.0")
  }

  test("persisted store folds batches and ignores re-delivery") {
    val dir = tempDir("ipstore")
    val sums = batches.map(IP.summarize(_, cols).localCheckpoint(true))
    sums.zipWithIndex.foreach { case (s0, i) => IP.updateStore(dir, i, s0) }
    // re-deliver every batch: markers make it a no-op
    sums.zipWithIndex.foreach { case (s0, i) => IP.updateStore(dir, i, s0) }
    val stored = IP.report(IP.readStore(spark, dir).get)
      .select("col_name", "n_non_null", "n_nulls").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val oneShot = Profile.profile(docs, cols)
      .select("col_name", "n_non_null", "n_nulls").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(stored.toSeq == oneShot.toSeq)
  }

  test("quantile store: persisted fold equals the one-shot summary exactly") {
    val dir = tempDir("ipq")
    val clean = Tables.events(spark, sf)
      .filter(col("value").isNotNull && !isnan(col("value")))
    val batchBins = (0 until 3).map(i => Profile.hdrBins(
      clean.filter(pmod(col("event_id"), lit(3)) === i), "event_type", "value")
      .localCheckpoint(true))
    batchBins.zipWithIndex.foreach { case (b, i) =>
      IP.updateQuantileStore(dir, i, b) }
    // re-deliver: markers make every fold a no-op
    batchBins.zipWithIndex.foreach { case (b, i) =>
      IP.updateQuantileStore(dir, i, b) }
    def bm(b: org.apache.spark.sql.DataFrame) =
      b.select("g", "bin_id", "n").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val stored = bm(IP.readQuantileStore(spark, dir).get)
    val oneShot = bm(Profile.hdrBins(clean, "event_type", "value"))
    assert(stored == oneShot)
    // and the quantile answers off the store match the one-shot answers
    val qs = Seq(("p50", 1L, 2L), ("p99", 99L, 100L))
    def qm(b: org.apache.spark.sql.DataFrame) =
      Profile.hdrQuantiles(b, qs).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(qm(IP.readQuantileStore(spark, dir).get) ==
      qm(Profile.hdrBins(clean, "event_type", "value")))
  }

  test("re-delivery after crash between snapshot commit and marker is a no-op") {
    val dir = tempDir("ipcrash")
    val sums = batches.map(IP.summarize(_, cols).localCheckpoint(true))
    IP.updateStore(dir, 0, sums(0))
    IP.updateStore(dir, 1, sums(1))
    // simulate the torn attempt: batch 1's snapshot committed (_SUCCESS
    // present) but the crash hit before the marker mkdirs
    val marker = new org.apache.hadoop.fs.Path(s"$dir/ingested/batch=1")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(marker, true))
    IP.updateStore(dir, 1, sums(1)) // re-delivery must merge base < 1, not 1
    val stored = IP.report(IP.readStore(spark, dir).get)
      .select("col_name", "n_non_null", "n_nulls").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val oneShot = Profile.profile(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 2), cols)
      .select("col_name", "n_non_null", "n_nulls").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(stored.toSeq == oneShot.toSeq,
      "crashed attempt's own snapshot must not double-merge")
  }
}
