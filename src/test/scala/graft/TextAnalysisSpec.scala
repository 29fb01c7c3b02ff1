package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextAnalysis, TextHash}

class TextAnalysisSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("token counts: whitespace and BPE-ish tokens") {
    val df = Seq(
      (1L, "hello world"),
      (2L, "it's 42 tokens, right?"),
      (3L, "   "),
      (4L, "one")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withTokenCounts(df)
      .select("doc_id", "ws_tokens", "bpe_tokens")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(out(1L) === ((2, 2)))
    // it ' s 42 tokens , right ?  => 8 bpe tokens
    assert(out(2L) === ((4, 8)))
    assert(out(3L) === ((0, 0)))
    assert(out(4L) === ((1, 1)))
  }

  test("quality score: stopword-rich plain text beats symbol soup") {
    val df = Seq(
      (1L, "the cat sat on the mat and it is a fine day in the sun"),
      (2L, "@@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( )))) ____")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withQualityScore(df)
      .select("doc_id", "quality_score")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) > out(2L))
    assert(out.values.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("language-ID picks the language with most function-word hits") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "der Hund und die Katze ist nicht da"),
      (3L, "le chat et la maison est une belle"),
      (4L, "el perro y los gatos es una casa que"),
      (5L, "中文文本")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withLangId(df).select("doc_id", "lang_pred")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es", 5L -> "zh"))
  }

  test("fingerprint: identical text => identical; shared k-gram window collapses min-hash") {
    val df = Seq(
      (1L, "abcdefghijklmnop"),
      (2L, "abcdefghijklmnop"),
      (3L, "zzzzzzzzzzzzzzzz")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withFingerprint(df)
      .select("doc_id", "fingerprint", "md5_fingerprint")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(1L) === out(2L))
    assert(out(1L)._1 !== out(3L)._1)
  }

  test("winnowing guarantee: docs sharing a long substring share a fingerprint") {
    // shared block of length 40 >= w+k-1 = 11 -> must share >=1 fingerprint
    val shared = "qwertyuiopasdfghjklzxcvbnm1234567890QWER"
    val df = Seq(
      (1L, "aaaaaaaaaa" + shared + "bbbbbbbbbb"),
      (2L, "cccccccccc" + shared + "dddddddddd"),
      (3L, "eeeeeeeeeeffffffffffgggggggggghhhhhhhhhh")
    ).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(df)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty, "shared substring must share a fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty, "unrelated docs should not collide")
  }

  test("native winnow expression equals the relational formulation") {
    // edge cases: shorter than k (8), shorter than k+w-1 (11), exactly 11,
    // empty, plus real corpus text at sf0.001
    val edges = Seq((1L, "short"), (2L, "abcdefghij"), (3L, "abcdefghijk"),
      (4L, ""), (5L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").limit(200)
    Seq(edges, corpus).foreach { df =>
      val native = TextAnalysis.winnowFingerprints(df)
      val relational = ReferenceTwins.winnowFingerprintsRelational(df)
      assert(native.exceptAll(relational).isEmpty &&
        relational.exceptAll(native).isEmpty)
    }
  }

  test("winnow coverShort emits the min-gram for docs below the guarantee length") {
    val df = Seq((1L, "short"), (2L, "abcdefghij"), (3L, "abcdefghijk"),
      (5L, "a much longer document body for the unchanged case"))
      .toDF("doc_id", "text")
    // default: sub-guarantee docs (< k+w-1 = 11 chars) yield nothing
    val default0 = TextAnalysis.winnowFingerprints(df)
    assert(!default0.collect().map(_.getLong(0)).toSet.exists(Set(1L, 2L)))
    // coverShort: they yield exactly the single partial-window min,
    // which is by construction the whole-doc min-gram fingerprint
    val covered = TextAnalysis.winnowFingerprints(df, coverShort = true)
    val covMap = covered.collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val minG = df.select(col("doc_id"),
        graft.functions.GramFunctions.minGramHash(col("text"), 8).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(covMap(1L) === Set(minG(1L)))
    assert(covMap(2L) === Set(minG(2L)))
    // at/above the guarantee length the flag changes nothing
    val longDefault = default0.filter(col("id") >= 3L)
    val longCovered = covered.filter(col("id") >= 3L)
    assert(longDefault.exceptAll(longCovered).isEmpty &&
      longCovered.exceptAll(longDefault).isEmpty)
  }

  test("native min-gram hash equals the HOF array_min formulation") {
    // doc 4 exercises the non-BMP code-point walk: SQL substring counts
    // code points, so grams around the surrogate pairs must align
    val df = Seq((1L, "short"), (2L, "abcdefghijklmnop"), (3L, "a"),
      (4L, "abc𝄞defghij𝄞klmno"))
      .toDF("doc_id", "text")
      .unionByName(Tables.documents(spark, "/root/testdata/sf0.001")
        .select("doc_id", "text").limit(200))
    val hof = df.select(col("doc_id"), array_min(transform(
      sequence(lit(1), greatest(length(col("text")) - 7, lit(1))),
      i => TextHash.hash60(col("text").substr(i, lit(8))))).as("fingerprint"))
    val native = TextAnalysis.withFingerprint(df).select("doc_id", "fingerprint")
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
  }

  test("native text_stats equals the 10-regex relational formulation") {
    // edge cases the fused kernel's hand-rolled classes must survive:
    // space-only trim vs \s+ split quirks, underscores as \w, apostrophe
    // boundaries, digit-adjacent words, non-ASCII letters, surrogate
    // pairs, Han codepoints, ASCII punct ranges
    val edges = Seq(
      "", " ", "\t", " \t ", "  a  ", "\tab c", "a b\t", "the the the",
      "_the_ the the2 1the", "l'est d'une chose", "the1 42 a an of",
      "café 𝄞 中文 the and", "a-b.c,d;e:f!g?h", "(the) [and] {of}",
      "der und die das ist nicht", "le la les et est une",
      "el los las es una que", "~`!@#$%^&*()_+-=[]{}|;':\",./<>?",
      "ABC DEF the THE The", "xy\fz", "中the文and国"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    // plus randomized ASCII soup (fixed seeds — each sample is cheap here)
    val gen = org.scalacheck.Gen.listOfN(80, org.scalacheck.Gen.frequency(
      6 -> org.scalacheck.Gen.alphaNumChar,
      2 -> org.scalacheck.Gen.oneOf(' ', '\t', '\n', '.', ',', '!', '_', '\''),
      1 -> org.scalacheck.Gen.oneOf("the", "and", "est", "que", "ist")))
      .map(_.map {
        case s: String => s" $s "
        case c => c.toString
      }.mkString)
    val fuzz = (0 until 60).flatMap(i => gen.apply(
        org.scalacheck.Gen.Parameters.default, org.scalacheck.rng.Seed(7L + i)))
      .zipWithIndex.map { case (t, i) => (1000L + i, t) }
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").limit(200)

    val cols = Seq("ws_tokens", "bpe_tokens", "punct", "stop_hits",
      "en_hits", "de_hits", "fr_hits", "es_hits", "zh_hits")
    Seq((edges ++ fuzz).toDF("doc_id", "text"), corpus).foreach { df =>
      val native = df.select(col("doc_id"),
        graft.functions.TextStatsFunctions.textStats(col("text")).as("_ts"))
        .select(col("doc_id") +: cols.map(c => col(s"_ts.$c").as(c)): _*)
      val twin = ReferenceTwins.textStatsRelational(df).select("doc_id", cols: _*)
      val diff = native.exceptAll(twin).unionByName(twin.exceptAll(native))
      assert(diff.isEmpty, s"counter mismatch rows:\n${diff.limit(5).collect().mkString("\n")}")
    }
  }

  test("repetition stats: hand-checked fractions and native/relational parity") {
    val df = Seq(
      (1L, "a a a a"),                       // 4 toks, 1 distinct; "a a" x3 of 3
      (2L, "the cat sat on the mat"),        // 6 toks, 5 distinct; all bigrams unique
      (3L, "buy now buy now buy now"),       // 6 toks, 2 distinct; "buy now" 3 of 5
      (4L, ""), (5L, "one"),
      (6L, "  spaced   out\ttokens  ")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withRepetitionStats(df)
      .select("doc_id", "n_tokens", "dup_token_frac", "top_bigram_frac")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((4, 0.75, 1.0)))
    assert(out(2L)._2 === 1.0 - 5.0 / 6.0)
    assert(out(2L)._3 === 0.2) // "the cat/cat sat/sat on/on the/the mat" all 1 of 5
    assert(out(3L) === ((6, 1.0 - 2.0 / 6.0, 0.6)))
    assert(out(4L) === ((0, 0.0, 0.0)))
    assert(out(5L) === ((1, 0.0, 0.0)))
    assert(out(6L)._1 === 3)

    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").limit(200)
    val cols = Seq("total_tokens", "distinct_tokens", "total_bigrams", "top_bigram")
    Seq(df, corpus).foreach { d =>
      val native = d.select(col("doc_id"),
          graft.functions.TextStatsFunctions.repetitionStats(col("text")).as("_rs"))
        .select(col("doc_id") +: cols.map(c => col(s"_rs.$c").as(c)): _*)
      val twin = ReferenceTwins.repetitionRelational(d).select("doc_id", cols: _*)
      val diff = native.exceptAll(twin).unionByName(twin.exceptAll(native))
      assert(diff.isEmpty, s"repetition mismatch:\n${diff.limit(5).collect().mkString("\n")}")
    }
  }

  test("htmlToText: blocks dropped, tags stripped, entities decoded, ws collapsed") {
    import spark.implicits._
    val cases = Seq(
      // script/style content must vanish WHOLESALE, not leak as text
      ("<p>keep</p><script>var x = 1 < 2 && true;</script><p>this</p>",
        "keep this"),
      ("<style type=\"text/css\">body { color: red }</style>ok", "ok"),
      ("before<!-- a\nmultiline\ncomment -->after", "before after"),
      // entity decode order: &amp;lt; is the literal text "&lt;", not "<"
      ("AT&amp;T says &amp;lt; is &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end",
        "AT&T says &lt; is <tag> \"q\" 's'\u00A0end".replace('\u00A0', ' ')),
      // attributes, self-closing tags, uppercase tags
      ("<A HREF=\"x?a=1&amp;b=2\">link</A><br/>next", "link next"),
      ("   lots \t of \n whitespace   ", "lots of whitespace"),
      ("no markup at all", "no markup at all"))
    val got = cases.map(_._1).zipWithIndex.map { case (h, i) => (i, h) }
      .toDF("i", "html")
      .select(col("i"), TextAnalysis.htmlToText(col("html")).as("t"))
      .as[(Int, String)].collect().sortBy(_._1).map(_._2).toSeq
    assert(got == cases.map(_._2))
  }

  test("hash60 is stable and within 60 bits") {
    val df = Seq("abc").toDF("s")
      .select(TextHash.hash60(col("s")).as("h"))
    val h = df.as[Long].head()
    // first 15 hex chars of md5('abc') = 900150983cd24fb -> base 10
    assert(h === java.lang.Long.parseLong("900150983cd24fb", 16))
  }

  test("minhash signature: similar shingle sets share most components") {
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val b = "the quick brown fox jumps over the lazy dog near the river bank now"
    val c = "completely different words appear here without any overlap whatsoever at all"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val sig = df.select(col("doc_id"),
      ReferenceTwins.minHashSignature(TextHash.wordShingles(col("text"), 3), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def agree(x: Seq[Long], y: Seq[Long]) = x.zip(y).count { case (p, q) => p == q }
    assert(agree(sig(1L), sig(2L)) > agree(sig(1L), sig(3L)))
    assert(agree(sig(1L), sig(3L)) === 0)
  }

  test("simhash: near-duplicates are hamming-close, unrelated texts are not") {
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val b = "the quick brown fox jumps over the lazy dog near the river bank now"
    val c = "completely different words appear here without any overlap whatsoever at all"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val sh = df.select(col("doc_id"),
      TextHash.simHash(TextHash.wordShingles(col("text"), 2), 16).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(sh(1L), sh(2L)) < hamming(sh(1L), sh(3L)))
  }

  test("adjacentPairCounts: corpus bigrams, doc boundaries, minCount") {
    val docs = Seq(
      (1L, "a b a b c"), // (a,b)x2 via positions 0,2; (b,a); (b,c)
      (2L, "c a b"), // (c,a), (a,b)
      (3L, "b"), // single token — no pairs
      (4L, "") // empty — no pairs
    ).toDF("doc_id", "text")
    val all = TextAnalysis.adjacentPairCounts(docs)
      .as[(String, String, Long)].collect().toSet
    // doc 1 ends in c, doc 2 starts with c — but (c,c) must NOT appear
    assert(all === Set(("a", "b", 3L), ("b", "a", 1L), ("b", "c", 1L),
      ("c", "a", 1L)))
    val floored = TextAnalysis.adjacentPairCounts(docs, minCount = 2L)
      .as[(String, String, Long)].collect().toSet
    assert(floored === Set(("a", "b", 3L)))
  }

  test("pmiPairs: hand-computed collocation score; minCount cuts the tail") {
    val docs = Seq(
      (1L, "new york new york"),
      (2L, "of the of the")
    ).toDF("doc_id", "text")
    // U=8 (each token count 2), B=6; both kept pairs have n=2:
    // pmi = ln((2/6) / ((2/8)·(2/8))) = ln(16/3) = 1.67397... -> 1.6739
    val out = TextAnalysis.pmiPairs(docs, minCount = 2L).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Long]("c1l"), r.getAs[Long]("c1r"),
          r.getAs[Double]("pmi_t"))).toMap
    assert(out.keySet === Set(("new", "york"), ("of", "the")))
    assert(out(("new", "york")) === ((2L, 2L, 2L, 1.6739)))
    assert(out(("of", "the")) === ((2L, 2L, 2L, 1.6739)))
    // minCount=1 admits the cross pairs (york,new)/(the,of), which are
    // UNDER-represented vs independence only through the totals: n=1
    val all = TextAnalysis.pmiPairs(docs, minCount = 1L).collect()
    assert(all.length === 4)
  }

  test("hashedFeatures: fixed bucket space, counts partition the tokens") {
    val docs = Seq((1L, "x y x z x"), (2L, "y y"), (3L, "")).toDF("doc_id", "text")
    val rows = TextAnalysis.hashedFeatures(docs, dim = 16)
      .as[(Long, Long, Long)].collect()
    assert(rows.forall { case (_, b, _) => b >= 0 && b < 16 })
    val perDoc = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(perDoc === Map(1L -> 5L, 2L -> 2L)) // empty doc emits nothing
    // identical tokens always land in one bucket: doc 1 has <= 3 buckets
    assert(rows.count(_._1 == 1L) <= 3)
    intercept[IllegalArgumentException] {
      TextAnalysis.hashedFeatures(docs, dim = 0)
    }
  }
}
