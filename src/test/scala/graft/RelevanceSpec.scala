package graft

import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relevance

/** BM25: hand-computed scores on a tiny corpus, idf ordering (rare term
  * beats common term), tf saturation, and omission of unmatched docs.
  */
class RelevanceSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // 4 docs, 4 tokens each (equal dl ⇒ length normalization cancels):
  // "cat" appears in 3 docs (common), "owl" in 1 (rare)
  private def corpus = Seq(
    (1L, "cat cat cat dog"),
    (2L, "cat dog dog dog"),
    (3L, "cat owl dog dog"),
    (4L, "fox fox fox fox")
  ).toDF("doc_id", "text")

  private def score(terms: Seq[String]): Map[Long, (Double, Long)] =
    Relevance.bm25(corpus, terms)
      .as[(Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  test("matches a hand-computed BM25 on a tiny corpus") {
    val out = score(Seq("cat", "owl"))
    // n=4 docs, dl=4 each, avgdl=4 ⇒ the (1 - b + b*dl/avgdl) factor is 1
    def idf(df: Double) = math.log((4.0 - df + 0.5) / (df + 0.5) + 1.0)
    def w(tf: Double, df: Double) = idf(df) * tf * 2.2 / (tf + 1.2)
    val eps = 1e-12
    assert(math.abs(out(1L)._1 - w(3, 3)) < eps)          // cat x3
    assert(math.abs(out(2L)._1 - w(1, 3)) < eps)          // cat x1
    assert(math.abs(out(3L)._1 - (w(1, 3) + w(1, 1))) < eps) // cat + owl
    assert(out(3L)._2 === 2L && out(1L)._2 === 1L)
    assert(!out.contains(4L), "doc matching no term is omitted")
  }

  test("rare term outweighs common term; repetition saturates") {
    val out = score(Seq("cat", "owl"))
    // doc3's single rare owl contributes more than doc2's single common cat
    assert(out(3L)._1 > 2 * out(2L)._1)
    // tf saturation: 3x the term is far less than 3x the score
    assert(out(1L)._1 < 2 * out(2L)._1)
  }

  test("bm25SearchTopK: per-query ranking equals single-query bm25; k cut; no cross-query leakage") {
    val queries = Seq((100L, "owl"), (200L, "cat dog")).toDF("query_id", "qtext")
    val out = Relevance.bm25SearchTopK(corpus, queries, k = 2).collect()
      .groupBy(_.getAs[Long]("query_id"))
    // query "owl": only doc 3 contains it
    val owl = out(100L).map(r =>
      (r.getAs[Long]("rank"), r.getAs[Long]("doc_id")))
    assert(owl.toSeq === Seq((1L, 3L)))
    // query "cat dog": docs 1-3 match; k=2 keeps the top two, and the
    // ordering must agree with the fixed-term bm25 operator's scores
    val single = Relevance.bm25(corpus, Seq("cat", "dog")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val expected = single.toSeq.sortBy { case (id, s) => (-s, id) }
      .take(2).map(_._1)
    val catdog = out(200L).sortBy(_.getAs[Long]("rank"))
      .map(_.getAs[Long]("doc_id")).toSeq
    assert(catdog === expected)
    assert(out.values.forall(_.length <= 2))
  }

  test("tfidfTerms matches hand-computed weights; df-cap drops hot terms") {
    val w = Relevance.tfidfTerms(corpus)
      .as[(Long, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    def tfidf(tf: Double, df: Double) = tf * (math.log(4.0 / df) + 1.0)
    val eps = 1e-12
    assert(math.abs(w((1L, "cat")) - tfidf(3, 3)) < eps)
    assert(math.abs(w((3L, "owl")) - tfidf(1, 1)) < eps)
    assert(math.abs(w((4L, "fox")) - tfidf(4, 1)) < eps)
    // df cap 2 drops cat (df=3) and dog (df=3) everywhere
    val capped = Relevance.tfidfTerms(corpus, maxDocFreq = Some(2))
      .select("term").as[String].collect().toSet
    assert(capped === Set("owl", "fox"))
  }

  test("topTfidfTerms ranks by weight desc then term; keeps m per doc") {
    val top = Relevance.topTfidfTerms(corpus, m = 1)
      .as[(Long, String, Int, Double)].collect()
      .map(r => r._1 -> r._2).toMap
    // doc1: cat tf=3 beats dog tf=1 (same idf class would tie-break by term)
    assert(top(1L) === "cat")
    // doc3: dog tf=2 (2*(ln(4/3)+1) ~ 2.58) edges out rare owl (ln(4)+1 ~ 2.39)
    assert(top(3L) === "dog")
    assert(top(4L) === "fox")
  }

  test("tfidfCosinePairs: identical docs hit 1.0; disjoint docs never pair") {
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma"),      // identical to 1
      (3L, "alpha beta delta"),      // shares 2 of 3 terms
      (4L, "zeta eta theta")         // disjoint
    ).toDF("doc_id", "text")
    val pairs = Relevance.tfidfCosinePairs(docs, threshold = 0.0,
        maxDocFreq = None)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(math.abs(pairs((1L, 2L)) - 1.0) < 1e-12)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L },
      "no shared term -> no candidate pair")
    // threshold filters
    val strict = Relevance.tfidfCosinePairs(docs, threshold = 0.99,
      maxDocFreq = None).count()
    assert(strict === 1)
  }

  test("tfidfCosinePairs joins on the term inverted index, never all-pairs") {
    val docs = Seq((1L, "a b"), (2L, "b c"), (3L, "c d")).toDF("doc_id", "text")
    val plan = Relevance.tfidfCosinePairs(docs, 0.5, Some(100))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    // the only BroadcastNestedLoopJoin allowed is the 1-row n_docs stat
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 1, s"unexpected nested-loop joins ($bnlj):\n${plan.take(1500)}")
  }

  test("unigramLogScores: hand-computed averages; typical beats atypical") {
    // freqs over "a a b a c": a=3, b=1, c=1, N=5
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    def expect(lps: Seq[Double]) =
      math.floor(lps.sum / lps.size * 1e4) / 1e4
    val la = math.log(3.0 / 5); val l1 = math.log(1.0 / 5)
    val got = Relevance.unigramLogScores(docs)
      .select("id", "n_toks", "avg_logprob_t")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((3L, expect(Seq(la, la, l1)))))
    assert(got(2L) === ((2L, expect(Seq(la, l1)))))
    // the doc made of the corpus-common token outscores the rare-heavy one
    assert(got(1L)._2 > got(2L)._2)
  }

  test("bigramLogScores: hand-computed interpolated averages") {
    // corpus transitions over docs "a b a b" and "a b c":
    // bigrams: (a,b)=3, (b,a)=1, (b,c)=1; unigrams: a=3, b=3, c=1, N=7
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    def lp(c2: Double, c1l: Double, c1r: Double) =
      math.log(0.75 * (c2 / c1l) + 0.25 * (c1r / 7.0))
    def expect(lps: Seq[Double]) =
      math.floor(lps.sum / lps.size * 1e4) / 1e4
    val ab = lp(3, 3, 3); val ba = lp(1, 3, 3); val bc = lp(1, 3, 1)
    val got = Relevance.bigramLogScores(docs)
      .select("id", "n_bigrams", "avg_logprob_b")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((3L, expect(Seq(ab, ba, ab)))))
    assert(got(2L) === ((2L, expect(Seq(ab, bc)))))
  }

  test("bigramLogScores: typical transitions beat shuffled ones at equal unigrams") {
    // 6 docs share the same transition structure; the shuffled doc uses
    // EXACTLY the same tokens (so its unigram profile is corpus-typical)
    // but each of its transitions occurs only once in the corpus — the
    // word-salad case the unigram filter cannot see
    val typical = (1L to 6L).map(i => (i, "the cat sat on the mat"))
    val shuffled = Seq((7L, "mat the on sat cat the"))
    val docs = (typical ++ shuffled).toDF("doc_id", "text")
    val got = Relevance.bigramLogScores(docs)
      .select("id", "avg_logprob_b").as[(Long, Double)].collect().toMap
    assert(got(1L) > got(7L),
      s"typical ${got(1L)} must beat shuffled ${got(7L)}")
    // and the unigram filter indeed cannot separate them (same tokens)
    val uni = Relevance.unigramLogScores(docs)
      .select("id", "avg_logprob_t").as[(Long, Double)].collect().toMap
    assert(uni(1L) === uni(7L))
  }

  test("bigramLogScores: docs without transitions are omitted; lambda guarded") {
    val docs = Seq((1L, "solo"), (2L, "a b")).toDF("doc_id", "text")
    val ids = Relevance.bigramLogScores(docs).select("id").as[Long].collect()
    assert(ids.toSeq === Seq(2L))
    intercept[IllegalArgumentException] {
      Relevance.bigramLogScores(docs, lambda = 1.0)
    }
  }

  /** Independent md5-bucket hash (TextHash.hash60's contract, written
    * against java.security directly so a shared bug is implausible).
    */
  private def h60(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Sequential reference of dsirLogWeights: same spec (hashed-bucket
    * Laplace models, log-ratio per token, 1e-4 floor), plain
    * collections.
    */
  private def localDsir(docs: Seq[(Long, String, Boolean)],
      buckets: Int): Map[Long, (Long, Double)] = {
    def toks(t: String) = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
    val ct = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val cr = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    docs.foreach { case (_, t, tgt) =>
      toks(t).foreach { w =>
        val b = h60(w) % buckets
        if (tgt) ct(b) += 1 else cr(b) += 1
      }
    }
    val dt = (ct.values.sum + buckets).toDouble
    val dr = (cr.values.sum + buckets).toDouble
    docs.filterNot(_._3).map { case (id, t, _) =>
      val lps = toks(t).map { w =>
        val b = h60(w) % buckets
        math.log((ct(b) + 1).toDouble / dt) - math.log((cr(b) + 1).toDouble / dr)
      }
      // decimal-exact sum surrogate: BigDecimal at 12 digits like the engine
      val s = lps.map(x => BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum
      id -> ((lps.size.toLong, math.floor(s.toDouble * 1e4) / 1e4))
    }.toMap
  }

  test("dsirLogWeights matches the sequential reference; target docs excluded") {
    val docs = Seq(
      (1L, "the cat sat on the mat", true),
      (2L, "the dog sat on the log", true),
      (3L, "the cat sat on the rug", false), // target-like raw doc
      (4L, "zx qv wq jj kk zz", false),      // target-alien raw doc
      (5L, "the mat the cat", false)
    )
    val df = docs.map { case (id, t, tgt) => (id, t, tgt) }
      .toDF("doc_id", "text", "is_tgt")
    val got = Relevance.dsirLogWeights(df, col("is_tgt"), buckets = 64)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val expected = localDsir(docs, 64)
    assert(got.keySet === Set(3L, 4L, 5L)) // only raw docs, no targets
    assert(got === expected)
    // the target-like doc must beat the alien one on per-doc weight
    assert(got(3L)._2 > got(4L)._2)
  }

  test("dsirSelect: top-n by (weight desc, id), deterministic at ties") {
    val w = Seq((10L, 5L, 2.5), (11L, 5L, 2.5), (12L, 5L, 1.0), (13L, 5L, 3.0))
      .toDF("id", "n_toks", "log_weight")
    val got = Relevance.dsirSelect(w, n = 3)
      .as[(Long, Double)].collect().toSeq
    assert(got === Seq((13L, 3.0), (10L, 2.5), (11L, 2.5)))
    intercept[IllegalArgumentException] { Relevance.dsirSelect(w, 0) }
  }

  test("dsirLogWeights guards empty target/raw splits") {
    val allTgt = Seq((1L, "a b", true)).toDF("doc_id", "text", "t")
    intercept[IllegalArgumentException] {
      Relevance.dsirLogWeights(allTgt, col("t"))
    }
  }

  test("dsirLogWeights bigrams: n-gram counts include adjacent pairs; phrasing separates docs") {
    val docs = Seq(
      (1L, "new york city hall", true),
      (2L, "york new hall city", false), // same unigrams, alien bigrams
      (3L, "new york city council", false) // shares target BIGRAMS
    ).toDF("doc_id", "text", "is_tgt")
    val uni = Relevance.dsirLogWeights(docs, col("is_tgt"), buckets = 64)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val bi = Relevance.dsirLogWeights(docs, col("is_tgt"), buckets = 64,
        bigrams = true)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // gram counts: 4 unigrams -> 4 + 3 bigrams
    assert(uni(2L)._2 === 4L && bi(2L)._2 === 7L)
    // under bag-of-words the scrambled doc 2 scores AT LEAST as
    // target-like as doc 3 on shared-vocabulary mass alone; bigrams
    // must break the tie toward the doc that shares target PHRASING
    assert(bi(3L)._3 > bi(2L)._3,
      s"bigram features must prefer shared phrasing: ${bi(3L)} vs ${bi(2L)}")
  }

  test("dsirResample: Gumbel-top-k is deterministic, k-sized, and key-exact") {
    val w = (1L to 50L).map(i => (i, 3L, (i % 7).toDouble / 2))
      .toDF("id", "n_toks", "log_weight")
    val a = Relevance.dsirResample(w, k = 10)
      .as[(Long, Double, Double)].collect().toSeq
    val b = Relevance.dsirResample(w, k = 10)
      .as[(Long, Double, Double)].collect().toSeq
    assert(a === b, "hash-seeded Gumbel draw must replay identically")
    assert(a.size === 10 && a.map(_._1).distinct.size === 10)
    // key = floor((log_weight + gumbel(id)) * 1e4) / 1e4, recomputed here
    a.foreach { case (id, lw, key) =>
      val u = (h60(id.toString) + 1L).toDouble / 1152921504606846976.0
      val expect = math.floor((lw + -math.log(-math.log(u))) * 1e4) / 1e4
      assert(key === expect, s"key mismatch for id=$id")
    }
    // resampling is not plain top-k: with noise, at least one selected
    // id must fall outside the 10 highest raw weights (ids with
    // log_weight 3.0 are ranks 1-7; a 50-doc pool with Gumbel noise
    // spreading several nats guarantees crossings for this seed set)
    val topIds = Relevance.dsirSelect(w, n = 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(a.map(_._1).toSet !== topIds,
      "Gumbel resampling should differ from the zero-temperature top-k")
    intercept[IllegalArgumentException] { Relevance.dsirResample(w, 0) }
  }

  test("noveltyScores: duplicated content zeroes novelty, unique content keeps 1.0") {
    val withDup = corpus.unionByName(
      Seq((5L, "cat dog dog dog")).toDF("doc_id", "text"))
    val out = Relevance.noveltyScores(withDup)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("novel_shingles"),
          r.getAs[Double]("novelty"))).toMap
    // doc 2 == doc 5: every shingle has df 2 -> novelty 0
    assert(out(2L) == ((2L, 0L, 0.0)) && out(5L) == ((2L, 0L, 0.0)))
    // docs 1/3 share nothing at 3-gram level -> fully novel
    assert(out(1L)._3 == 1.0 && out(3L)._3 == 1.0)
    // doc 4 "fox fox fox fox" has ONE distinct shingle, unique -> 1.0
    assert(out(4L) == ((1L, 1L, 1.0)))
  }

  test("unigramModel: the model is data — parquet round-trip scores identically") {
    val dir = tempDir("lmmodel")
    val model = Relevance.unigramModel(corpus)
    model.write.parquet(s"$dir/m")
    val direct = Relevance.scoreWithUnigramModel(corpus, model)
      .select("id", "avg_logprob_m").as[(Long, Double)].collect().toMap
    val reloaded = Relevance.scoreWithUnigramModel(corpus,
        spark.read.parquet(s"$dir/m"))
      .select("id", "avg_logprob_m").as[(Long, Double)].collect().toMap
    assert(direct == reloaded && direct.size == 4)
  }

  test("scoreWithUnigramModel: seen tokens have no OOV, unseen score the floor") {
    val model = Relevance.unigramModel(corpus)
    val target = Seq((10L, "cat dog"), (11L, "zebra quark"))
      .toDF("doc_id", "text")
    val out = Relevance.scoreWithUnigramModel(target, model)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("oov_toks"), r.getAs[Double]("avg_logprob_m"))).toMap
    assert(out(10L)._1 == 0L)
    assert(out(11L)._1 == 2L)
    // corpus: N=16 tokens, V=4 -> OOV floor ln(1/20); avg of two floors
    // floor-truncated at 1e-4
    val floorLp = math.log(1.0 / 20.0)
    assert(out(11L)._2 == math.floor(floorLp * 1e4) / 1e4)
    // seen-token doc scores the Laplace probs: cat c=5, dog c=6
    val want = (math.log(6.0 / 20.0) + math.log(7.0 / 20.0)) / 2
    assert(math.abs(out(10L)._2 - math.floor(want * 1e4) / 1e4) < 1e-12)
  }

  test("unigramModels/classifyWithModels: hand-checked two-label model and argmax") {
    val train = Seq((1L, "cat", "meow purr meow"), (2L, "dog", "woof woof bark"))
      .toDF("doc_id", "lang", "text")
    val models = Relevance.unigramModels(train)
    // cat: N=3 tokens, V=2 vocab -> logp(meow) = ln(3/5), logp(purr) = ln(2/5)
    val m = models.collect().map(r =>
      (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(math.abs(m(("cat", "meow")) - math.log(3.0 / 5)) < 1e-12)
    assert(math.abs(m(("cat", "purr")) - math.log(2.0 / 5)) < 1e-12)
    assert(math.abs(m(("dog", "woof")) - math.log(3.0 / 5)) < 1e-12)
    val got = Relevance.classifyWithModels(
        Seq((10L, "meow meow"), (11L, "bark woof"), (12L, "")
        ).toDF("doc_id", "text"), models)
      .select("id", "predicted").as[(Long, String)].collect().toMap
    assert(got == Map(10L -> "cat", 11L -> "dog")) // empty doc excluded
  }

  test("classifier retrieves a planted label marker at >= 95% accuracy") {
    // the corpus's organic text is label-independent (the label twin of
    // the ANN isotropy finding), so the signal is planted: one marker
    // token per label. Misses are short docs whose organic tokens
    // outweigh the single marker - deterministic, not flaky.
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("lang"),
        concat(col("text"), lit(" xmark"), col("lang")).as("text"))
    val train = docs.filter(col("doc_id") % 2 === 0)
    val evalD = docs.filter(col("doc_id") % 2 =!= 0)
    val pred = Relevance.classifyWithModels(evalD, Relevance.unigramModels(train))
      .join(evalD.select(col("doc_id").as("id"), col("lang").as("actual")), "id")
    val n = pred.count()
    val correct = pred.filter(col("predicted") === col("actual")).count()
    assert(n > 0 && correct.toDouble / n >= 0.95,
      s"planted-marker accuracy $correct/$n")
    // determinism
    val again = Relevance.classifyWithModels(evalD, Relevance.unigramModels(train))
      .select("id", "predicted").as[(Long, String)].collect().toSet
    assert(again == Relevance.classifyWithModels(evalD,
      Relevance.unigramModels(train))
      .select("id", "predicted").as[(Long, String)].collect().toSet)
  }
}
