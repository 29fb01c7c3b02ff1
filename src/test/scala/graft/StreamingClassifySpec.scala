package graft

import graft.operators.Relevance
import graft.streaming.StreamingClassify
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

final case class ClassifyDoc(doc_id: Long, text: String)

/** Streaming label-mix monitor: per-batch distributions must equal the
  * batch classifier's, the PSI stays quiet while the feed matches the
  * reference mix and alarms when it inverts, and re-delivery rewrites
  * equal bytes.
  */
class StreamingClassifySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // strongly separable two-class corpus (marker vocabulary per label)
  private def labeled = ((1L to 30L).map(i =>
      (i, "ham", s"regular newsletter text number $i friendly words")) ++
    (31L to 60L).map(i =>
      (i, "spam", s"BUY pills NOW winner prize $i click claim")))
    .toDF("doc_id", "lang", "text")

  private def mkDocs(ids: Seq[Long], spam: Boolean): Seq[ClassifyDoc] =
    ids.map(i => ClassifyDoc(i,
      if (spam) s"BUY pills NOW winner prize $i click claim"
      else s"regular newsletter text number $i friendly words"))

  private def setup(dir: String): Unit = {
    StreamingClassify.writeModels(Relevance.unigramModels(labeled),
      s"$dir/models")
    // reference mix: the labeled corpus itself (50/50)
    StreamingClassify.writeReferenceDistribution(
      labeled.select("doc_id", "text"), s"$dir/models", s"$dir/ref")
  }

  test("per-batch distribution == batch classify; PSI quiet vs alarming") {
    val dir = tempDir("sclass")
    setup(dir)
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[ClassifyDoc]
    val q = input.toDF().writeStream
      .foreachBatch(StreamingClassify.monitor(s"$dir/models", s"$dir/ref",
        s"$dir/dist", s"$dir/psi"))
      .option("checkpointLocation", s"$dir/ckpt").start()
    // batch 0: the reference 50/50 mix; batch 1: all spam
    val b0 = mkDocs(100L to 109L, spam = false) ++
      mkDocs(110L to 119L, spam = true)
    val b1 = mkDocs(200L to 219L, spam = true)
    try Seq(b0, b1).foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()

    def dist(batch: Long) = spark.read.parquet(s"$dir/dist/batch=$batch")
      .as[(String, Long)].collect().toMap
    assert(dist(0) == Map("ham" -> 10L, "spam" -> 10L))
    assert(dist(1) == Map("spam" -> 20L))
    def psi(batch: Long) = spark.read.parquet(s"$dir/psi/batch=$batch")
      .select("psi").head().getDouble(0)
    assert(psi(0) < 0.05, s"in-mix batch alarmed: ${psi(0)}")
    assert(psi(1) > 0.25, s"all-spam batch stayed quiet: ${psi(1)}")
  }

  test("re-delivered batch id rewrites identical distribution and psi") {
    val dir = tempDir("sclass2")
    setup(dir)
    val fn = StreamingClassify.monitor(s"$dir/models", s"$dir/ref",
      s"$dir/dist", s"$dir/psi")
    val batch: DataFrame = mkDocs(300L to 311L, spam = true).toDF()
      .select(col("doc_id"), col("text"))
    fn(batch, 0L)
    val d1 = spark.read.parquet(s"$dir/dist/batch=0").collect().toSet
    val p1 = spark.read.parquet(s"$dir/psi/batch=0").collect().toSet
    fn(batch, 0L) // at-least-once re-delivery
    assert(spark.read.parquet(s"$dir/dist/batch=0").collect().toSet == d1)
    assert(spark.read.parquet(s"$dir/psi/batch=0").collect().toSet == p1)
  }

  test("empty batch lands a sentinel psi row instead of killing the stream") {
    val dir = tempDir("sclass3")
    setup(dir)
    val fn = StreamingClassify.monitor(s"$dir/models", s"$dir/ref",
      s"$dir/dist", s"$dir/psi")
    // zero rows (restart replay) and all-blank texts (classify excludes
    // them) both yield an empty distribution — neither may throw
    val empty = Seq.empty[ClassifyDoc].toDF().select(col("doc_id"), col("text"))
    fn(empty, 5L)
    val blank = Seq(ClassifyDoc(1L, ""), ClassifyDoc(2L, "   ")).toDF()
      .select(col("doc_id"), col("text"))
    fn(blank, 6L)
    for (b <- Seq(5L, 6L)) {
      assert(spark.read.parquet(s"$dir/dist/batch=$b").count() == 0L)
      val psi = spark.read.parquet(s"$dir/psi/batch=$b")
        .as[(String, Long, Option[Double])].collect().toSeq
      assert(psi == Seq(("label_mix", 0L, None)))
    }
    // and the sentinel is itself an idempotent overwrite
    fn(empty, 5L)
    assert(spark.read.parquet(s"$dir/psi/batch=5").count() == 1L)
  }
}
