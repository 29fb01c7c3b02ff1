package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextAnalysis

/** BPE trainer merge loop vs an independent SEQUENTIAL reference: the
  * distributed gaps-and-islands merge must reproduce, bit-for-bit, what
  * a single-threaded greedy left-to-right scan produces — including
  * self-pair runs ("a a a a"), merged tokens feeding later merges, and
  * the (n DESC, left, right) tie order.
  */
class BpeSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Single-threaded trainer: the semantics the operator must match. */
  private def seqBpe(texts: Seq[String], steps: Int): Seq[(Long, String, String, Long)] = {
    var docs: Seq[Vector[String]] =
      texts.map(_.trim.split("\\s+").toVector)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (step <- 1 to steps) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      docs.foreach { d =>
        d.iterator.zip(d.iterator.drop(1)).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + 1L
        }
      }
      if (counts.nonEmpty) {
        val ((l, r), n) = counts.minBy { case ((l, r), n) => (-n, l, r) }
        merges += ((step.toLong, l, r, n))
        docs = docs.map { d =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < d.length) {
            if (i + 1 < d.length && d(i) == l && d(i + 1) == r) {
              out += s"$l $r"; i += 2 // greedy: consume both, no overlap
            } else { out += d(i); i += 1 }
          }
          out.result()
        }
      }
    }
    merges.result()
  }

  private def run(texts: Seq[String], steps: Int): Seq[(Long, String, String, Long)] =
    TextAnalysis.bpeMergeSequence(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
      steps)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)

  test("hand-checked corpus: top pair merges, count recorded") {
    val texts = Seq("the cat sat", "the cat ran", "a cat sat")
    // pairs: (the,cat) 2, (cat,sat) 2, (cat,ran) 1, (a,cat) 1 — tie
    // (cat,sat) vs (the,cat) broken by left: "cat" < "the"
    val got = run(texts, 1)
    assert(got === Seq((1L, "cat", "sat", 2L)))
  }

  test("self-pair runs merge greedily left-to-right without overlap") {
    // "a a a a a" -> (a,a) x4 candidates, but only floor(5/2)=2 merges
    val texts = Seq("a a a a a", "a a a", "b a a")
    val got = run(texts, 2)
    assert(got === seqBpe(texts, 2))
    // step 1 count: overlapping occurrences counted as raw pairs (4+2+1)
    assert(got.head === ((1L, "a", "a", 7L)))
  }

  test("merged tokens participate in later rounds") {
    // after (x,y) merges everywhere, the pair ("x y", z) dominates
    val texts = Seq.fill(4)("x y z") ++ Seq("x y", "q x y")
    val got = run(texts, 2)
    assert(got === seqBpe(texts, 2))
    assert(got(0)._2 === "x" && got(0)._3 === "y")
    assert(got(1) === ((2L, "x y", "z", 4L)))
  }

  test("matches the sequential trainer on real corpus text, 5 steps") {
    val texts = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("text").as[String].collect().toSeq
    assert(run(texts, 5) === seqBpe(texts, 5))
  }

  private def runBatched(texts: Seq[String], steps: Int,
      batch: Int): Seq[(Long, String, String, Long)] =
    TextAnalysis.bpeMergeSequenceBatched(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
      steps, batch)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)

  test("batched with batchSize=1 degenerates to the sequential trainer exactly") {
    val texts = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("text").as[String].collect().toSeq
    assert(runBatched(texts, 4, batch = 1) === run(texts, 4))
  }

  test("one 2-batched pass == two sequential rounds on a conflict-free corpus") {
    // (a,b) and (c,d) are token-disjoint and never adjacent to each
    // other's instances, so merging one cannot change the other's count
    // — the documented equivalence domain of the batched trainer
    val texts = Seq("a b x c d", "a b y c d", "a b z c d")
    val twoPass = run(texts, 2)          // two driver round-trips
    val onePass = runBatched(texts, 2, batch = 2) // one
    assert(onePass === twoPass)
    assert(onePass.map(m => (m._2, m._3, m._4)) ===
      Seq(("a", "b", 3L), ("c", "d", 3L)))
  }

  test("batched selection skips conflicting pairs within a pass (greedy disjoint)") {
    // top pairs share token b: (a,b) n=3 then (b,c) n=2 conflict; the
    // pass must take (a,b) and then the best DISJOINT pair (x,y) n=2
    // rather than rewriting an ambiguous chain in one pass
    val texts = Seq("a b c", "a b c", "a b", "x y", "x y")
    val got = runBatched(texts, 2, batch = 2)
    assert(got.map(m => (m._2, m._3)) === Seq(("a", "b"), ("x", "y")))
    // and the skipped (b,c) stays mergeable in the NEXT pass, counted
    // against the rewritten corpus (b is now inside "a b")
    val got3 = runBatched(texts, 3, batch = 2)
    assert(got3.length === 3)
    assert(got3(2)._2 === "a b" && got3(2)._3 === "c",
      s"expected the merged-token pair ('a b', c) third, got ${got3(2)}")
  }

  test("batched on real corpus: full step count, within-pass ranks non-increasing") {
    val texts = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("text").as[String].collect().toSeq
    val got = runBatched(texts, 6, batch = 3)
    assert(got.map(_._1) === (1L to 6L))
    assert(got.forall(_._4 >= 1L))
  }

  /** Sequential encode reference: apply merges in step order, each
    * greedy left-to-right (same loop the trainer reference uses).
    */
  private def seqEncode(texts: Seq[String],
      merges: Seq[(String, String)]): Seq[Vector[String]] = {
    var docs: Seq[Vector[String]] = texts.map(_.trim.split("\\s+").toVector)
    merges.foreach { case (l, r) =>
      docs = docs.map { d =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < d.length) {
          if (i + 1 < d.length && d(i) == l && d(i + 1) == r) {
            out += s"$l $r"; i += 2
          } else { out += d(i); i += 1 }
        }
        out.result()
      }
    }
    docs
  }

  private def encodeStreams(texts: Seq[String],
      merges: Seq[(Long, String, String, Long)]): Map[Long, Vector[String]] =
    TextAnalysis.bpeEncode(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
      merges.toDF("step", "left_tok", "right_tok", "n"))
      .as[(Long, Int, String)].collect()
      .groupBy(_._1)
      .map { case (id, rows) => id -> rows.sortBy(_._2).map(_._3).toVector }

  test("bpeEncode: training corpus reproduces the trainer's final stream exactly") {
    val texts = Seq("x y z x y z", "x y", "q x y z w", "z z z")
    val merges = seqBpe(texts, 3)
    val got = encodeStreams(texts, merges)
    val want = seqEncode(texts, merges.map(m => (m._2, m._3)))
    texts.indices.foreach { i =>
      assert(got(i.toLong) === want(i), s"doc $i stream diverged")
    }
  }

  test("bpeEncode: NEW documents encode greedily under a trained merge table") {
    val train = Seq("a b c a b", "a b", "c d c d")
    val merges = seqBpe(train, 2) // learns (a,b) then (c,d)
    val fresh = Seq("a b a b a", "c d a b x", "b a")
    val got = encodeStreams(fresh, merges)
    val want = seqEncode(fresh, merges.map(m => (m._2, m._3)))
    fresh.indices.foreach { i =>
      assert(got(i.toLong) === want(i), s"new doc $i stream diverged")
    }
    // sanity: the merged tokens actually appear in the fresh encodes
    assert(got(0L).contains("a b"))
    assert(got(1L) === Vector("c d", "a b", "x"))
  }

  private def encodeStreamsBatched(texts: Seq[String],
      merges: Seq[(Long, String, String, Long)]): Map[Long, Vector[String]] =
    TextAnalysis.bpeEncodeBatched(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
      merges.toDF("step", "left_tok", "right_tok", "n"))
      .as[(Long, Int, String)].collect()
      .groupBy(_._1)
      .map { case (id, rows) => id -> rows.sortBy(_._2).map(_._3).toVector }

  test("bpeEncodeBatched equals the sequential encode on real corpus text") {
    import org.apache.spark.sql.functions.{col, length}
    val texts = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(length(col("text")) > 0)
      .select("text").as[String].collect().toSeq
    val merges = seqBpe(texts, 8)
    val got = encodeStreamsBatched(texts, merges)
    val want = seqEncode(texts, merges.map(m => (m._2, m._3)))
    texts.indices.foreach { i =>
      assert(got(i.toLong) === want(i), s"doc $i stream diverged")
    }
  }

  test("bpeEncodeBatched splits groups at chained merges (output feeds a later pattern)") {
    // merge 2 consumes merge 1's OUTPUT; merge 3 reuses merge 1's left
    // token; both force group boundaries — fusing them would miss the
    // newly created instances / make the pass ambiguous
    val chained = Seq((1L, "a", "b", 0L), (2L, "a b", "c", 0L),
      (3L, "a", "x", 0L), (4L, "y", "z", 0L))
    val texts = Seq("a b c a x y z", "a b c c", "a x a b", "y z a b c")
    val got = encodeStreamsBatched(texts, chained)
    val want = seqEncode(texts, chained.map(m => (m._2, m._3)))
    texts.indices.foreach { i =>
      assert(got(i.toLong) === want(i), s"chained doc $i stream diverged")
    }
    // the chain really exercises the split: "a b c" must become one token
    assert(got(1L) === Vector("a b c", "c"))
  }

  test("bpeEncodeBatched equals bpeEncode under a trained table with self-pairs") {
    val texts = Seq("a a a a b", "a a b a a", "b b b b b b", "a b a b")
    val merges = seqBpe(texts, 4) // includes self-pair merges (a,a)/(b,b)
    val batched = encodeStreamsBatched(texts, merges)
    val sequential = encodeStreams(texts, merges)
    assert(batched === sequential)
  }

  test("merge-table parquet round-trip: persisted table encodes fresh docs identically") {
    val train = Seq((1L, "a b a b a b c d"), (2L, "a b c d c d"),
      (3L, "x y a b")).toDF("doc_id", "text")
    val fresh = Seq((10L, "a b c d a b"), (11L, "c d x y"),
      (12L, "never seen tokens")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeMergeSequence(train, steps = 3)
    val dir = tempDir("bpe_rt")
    merges.write.mode("overwrite").parquet(dir)
    val persisted = spark.read.parquet(dir)
    // parquet round-trip must not perturb the table...
    assert(persisted.orderBy("step")
      .select("step", "left_tok", "right_tok", "n")
      .as[(Long, String, String, Long)].collect().toSeq ==
      merges.orderBy("step").select("step", "left_tok", "right_tok", "n")
        .as[(Long, String, String, Long)].collect().toSeq)
    // ...nor the encode it drives on documents the trainer never saw
    def stream(m: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bpeEncodeBatched(fresh, m)
        .orderBy("doc_id", "pos")
        .select("doc_id", "pos", "token")
        .as[(Long, Int, String)].collect().toSeq
    assert(stream(persisted) == stream(merges))
  }

  test("guards: non-positive steps rejected; pairless corpus yields no merges") {
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeMergeSequence(Seq((1L, "x")).toDF("doc_id", "text"), 0)
    }
    assert(run(Seq("solo", "one"), 3).isEmpty)
  }
}
