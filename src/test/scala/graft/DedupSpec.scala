package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val base = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river shore"),
    (3L, "completely different words appear here without any overlap at all"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
    (5L, "numbers and symbols one two three four five six seven eight nine")
  ).toDF("doc_id", "text")

  test("exactDedup groups identical texts, keeps smallest id") {
    val out = Dedup.exactDedup(base).collect()
    assert(out.length === 4)
    val dupGroup = out.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dupGroup.getAs[Long]("kept_id") === 1L)
  }

  test("jaccardPairs finds near and exact dups, not unrelated docs") {
    val pairs = Dedup.jaccardPairs(base, n = 3, threshold = 0.5)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((1L, 4L)) && pairs((1L, 4L)) === 1.0)
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) > 0.5)
    assert(pairs.contains((2L, 4L)))
    assert(pairs.size === 3, s"unexpected pairs: $pairs")
  }

  test("jaccardPairsPrefixForced returns exactly jaccardPairs' output (prefix pruning is lossless)") {
    // forced: below the crossover the public API dispatches to the
    // plain plan, so the losslessness proof must name the prefix plan
    val full = Dedup.jaccardPairs(base, n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("inter"),
        r.getAs[Long]("size_a"), r.getAs[Long]("size_b"))).toSet
    val pref = Dedup.jaccardPairsPrefixForced(base, n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("inter"),
        r.getAs[Long]("size_a"), r.getAs[Long]("size_b"))).toSet
    assert(pref === full)
    // and under a df-cap, still equal to the capped full join
    val fullC = Dedup.jaccardPairs(base, n = 3, threshold = 0.5,
      maxDocFreq = Some(2L)).select("id_a", "id_b").as[(Long, Long)]
      .collect().toSet
    val prefC = Dedup.jaccardPairsPrefixForced(base, n = 3, threshold = 0.5,
      maxDocFreq = Some(2L)).select("id_a", "id_b").as[(Long, Long)]
      .collect().toSet
    assert(prefC === fullC)
  }

  test("jaccardPairsPrefix threshold gate picks the scale-safe plan per regime") {
    // below the measured crossover the prefix pruning is too weak to pay
    // for its extra window + distinct + verification join (measured
    // 8.2x wall at 10x data); the dispatch must refuse it
    assert(!Dedup.prefixPlanSelected(0.5))
    assert(Dedup.prefixPlanSelected(Dedup.PrefixJaccardCrossover))
    assert(Dedup.prefixPlanSelected(0.9))
    // dispatched-low == plain plan, not just equal output: the prefix
    // plan verifies candidates with array_intersect over per-doc sets
    // (its final join), which the plain inverted join never does — and
    // unlike the df-order window it is not hidden behind the candidate
    // relation's localCheckpoint
    val low = Dedup.jaccardPairsPrefix(base, n = 3, threshold = 0.5)
    assert(!low.queryExecution.executedPlan.toString.contains("array_intersect"),
      "t=0.5 must dispatch to the plain inverted join (no set verification)")
    val hi = Dedup.jaccardPairsPrefix(base, n = 3, threshold = 0.9)
    assert(hi.queryExecution.executedPlan.toString.contains("array_intersect"),
      "t=0.9 must run the prefix plan (array_intersect verification present)")
  }

  test("jaccardPairsPrefix stays lossless at a high threshold where prefixes are shortest") {
    // t=0.9: prefix length is |d| - ceil(0.9|d|) + 1 — roughly 10% of
    // each doc. Only the exact-dup pair survives the threshold, and the
    // prefix scheme must still find it.
    val full = Dedup.jaccardPairs(base, n = 3, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val pref = Dedup.jaccardPairsPrefix(base, n = 3, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pref === full && pref.contains((1L, 4L)))
  }

  test("jaccardPairs maxDocFreq drops hot shingles before the join") {
    // 'the quick brown'... shingles shared by docs 1,2,4 have df=3; cap=2
    // removes them, so pair (1,2) loses shared shingles and its jaccard
    // drops below threshold, while the exact-dup pair (1,4) still matches
    // on the remaining (df<=2) shingles it shares exclusively.
    val capped = Dedup.jaccardPairs(base, n = 3, threshold = 0.5,
      maxDocFreq = Some(2L))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.jaccardPairs(base, n = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(exact))
    assert(capped.contains((1L, 4L)))
  }

  test("containmentPairs maxDocFreq drops hot shingles; exact dups survive") {
    // shingles shared by docs 1,2,4 have df=3; cap=2 drops them. The
    // near-dup pair (1,2) then shares nothing and disappears, while the
    // exact-dup pair (1,4) keeps containment 1.0 in the capped universe
    // (sz counts post-cap shingles, so the metric stays self-consistent).
    val uncapped = Dedup.containmentPairs(base, n = 3, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((1L, 2L)), "10/11 shared shingles >= 0.9")
    assert(uncapped.contains((1L, 4L)))
    val capped = Dedup.containmentPairs(base, n = 3, threshold = 0.9,
      maxDocFreq = Some(2L))
      .select("id_a", "id_b", "containment_a").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(!capped.contains((1L, 2L)), "hot shingles dropped before the join")
    assert(capped((1L, 4L)) === 1.0)
  }

  test("jaccardFromShingles over a shared shingles relation matches jaccardPairs") {
    val sh = Dedup.shingles(base, n = 3)
    val viaShared = Dedup.jaccardFromShingles(sh, threshold = 0.5)
      .select("id_a", "id_b", "inter", "size_a", "size_b").collect().toSet
    val direct = Dedup.jaccardPairs(base, n = 3, threshold = 0.5)
      .select("id_a", "id_b", "inter", "size_a", "size_b").collect().toSet
    assert(viaShared === direct)
  }

  test("winnowPairs finds copied passages that whole-doc jaccard dilutes") {
    val shared = "qwertyuiopasdfghjklzxcvbnm1234567890QWERTYUIOPZXCVBNM"
    val docs = Seq(
      (1L, "intro alpha beta " + shared + " outro gamma delta"),
      (2L, "different opening words here " + shared + " and unrelated closing"),
      (3L, "no overlap with anything else at all in this document body")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, minShared = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)),
      "the shared 53-char passage must pair 1-2 and nothing else")
    // the hot-key cap drops fingerprints common to too many docs
    val capped = Dedup.winnowPairs(docs, minShared = 2, maxDocFreq = Some(1L))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped.isEmpty, "df-cap=1 removes every shared fingerprint")
  }

  test("minHashLshPairs surfaces the same dup structure as exact jaccard") {
    val got = Dedup.minHashLshPairs(base, minAgreement = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 4L)))
    assert(!got.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("simHashPairs: exact dup at hamming 0; unrelated docs not paired") {
    val pairs = Dedup.simHashPairs(base, maxHamming = 1)
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 4L)) === 0)
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("embeddingNearDups flags identical vectors only, cosine ~ 1") {
    val embs = Seq(
      (1L, Array(1.0f, 0.0f, 2.0f)),
      (2L, Array(1.0f, 0.0f, 2.0f)),
      (3L, Array(-1.0f, 5.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDups(embs, threshold = 0.9).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("id_a") === 1L)
    assert(out.head.getAs[Long]("id_b") === 2L)
    assert(math.abs(out.head.getAs[Double]("cosine") - 1.0) < 1e-9)
  }

  test("nearDupClusters collapses transitive chains to one component (both paths)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (7L, 9L))
      .toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      7L -> 7L, 8L -> 7L, 9L -> 7L)
    // driver union-find fast path (default) and distributed fixpoint
    // (forced via driverMaxEdges = 0) must agree exactly
    val fast = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.nearDupClusters(pairs, driverMaxEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === expected)
    assert(dist === expected)
  }

  test("nearDupClusters job/stage budget per iteration (folded convergence test)") {
    // chain 1-2-3-4: min-label needs 4 rounds (3 propagating + 1 quiet).
    // With AQE off the fixpoint measures a STABLE 16 jobs / 26 stages
    // (asserted with slack: 18/30). The convergence test reads the
    // checkpointed round result; a regression to the old shape — a
    // per-round shuffle join of old vs new labels — adds ~2 stages per
    // round and busts the stage bound.
    // statusTracker is fed by the async listener bus; poll until the
    // group's numbers stop moving before asserting on them
    def groupStats(): (Int, Int) = {
      val st = spark.sparkContext.statusTracker
      def read(): (Int, Int) = {
        val ids = st.getJobIdsForGroup("cc-jobs")
        (ids.length, ids.flatMap(i => st.getJobInfo(i).map(_.stageIds.length).toSeq).sum)
      }
      var last = read()
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val now = read()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      last
    }
    // AQE materializes each shuffle stage as its own job, which makes job
    // counts meaningless as a budget; turn it off for a deterministic
    // one-job-per-action shape (the operator itself is AQE-agnostic)
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setJobGroup("cc-jobs", "nearDupClusters job budget")
    val (jobs0, stages0) = groupStats()
    // driverMaxEdges = 0 forces the DISTRIBUTED fixpoint whose job shape
    // this test budgets (the default would take the union-find fast path)
    val out = try Dedup.nearDupClusters(
      Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b"),
      driverMaxEdges = 0L)
    finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    val (jobs1, stages1) = groupStats()
    spark.sparkContext.clearJobGroup()
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    val (jobs, stages) = (jobs1 - jobs0, stages1 - stages0)
    assert(jobs <= 18 && stages <= 30,
      s"nearDupClusters fixpoint launched $jobs jobs / $stages stages for a 4-round chain")
  }

  test("nearDupClusters uses reliable checkpoints when a checkpoint dir is set") {
    withCheckpointDir { dir =>
      val out = Dedup.nearDupClusters(Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
      val sub = new java.io.File(dir).listFiles()
      assert(sub != null && sub.nonEmpty, "no reliable checkpoint data written")
    }
  }

  test("contaminationPairs flags a quoted benchmark prompt against its source only") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and keeps running far away"),
      (2L, "completely different text about spark catalyst plans and shuffle exchanges here")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"), // prompt quoted from doc 1
      (101L, "unrelated benchmark question with its own words entirely")
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationPairs(train, eval, n = 5, minOverlapFrac = 0.8)
      .collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("train_id") === 1L && r.getAs[Long]("eval_id") === 100L)
    // the 9-token prompt has 5 distinct 5-grams, all inside doc 1
    assert(r.getAs[Long]("overlap") === 5L && r.getAs[Long]("eval_size") === 5L)
    assert(r.getAs[Double]("overlap_frac") === 1.0)
    // a tighter threshold run with a partially-quoted prompt stays below it
    val partial = Seq((102L, "the quick brown fox jumps over my own new words here today"))
      .toDF("doc_id", "text")
    assert(Dedup.contaminationPairs(train, partial, n = 5, minOverlapFrac = 0.8)
      .count() === 0)
  }

  test("nearDupClustersStar equals the union-find/min-label result on chains and forests") {
    // transitive chain + separate 2-component + isolated pair, with ids
    // deliberately out of order so min-propagation direction matters
    val pairs = Seq((5L, 9L), (9L, 2L), (2L, 7L), (30L, 20L), (40L, 41L))
      .toDF("id_a", "id_b")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = m(Dedup.nearDupClusters(pairs)) // union-find path
    assert(expected === Map(5L -> 2L, 9L -> 2L, 2L -> 2L, 7L -> 2L,
      30L -> 20L, 20L -> 20L, 40L -> 40L, 41L -> 40L))
    assert(m(Dedup.nearDupClustersStar(pairs)) === expected)
    // and against the distributed min-label fixpoint on the same edges
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    assert(m(Dedup.minLabelClusters(edges)._1) === expected)
  }

  test("alternating stars converge in far fewer rounds than min-label on a path graph") {
    // a 200-edge path: component diameter 200 — the worst case for
    // min-label (rounds ~ diameter), the motivating case for stars
    // (rounds ~ log n)
    val n = 200
    val pairs = (1 to n).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))

    val (starLabels, starRounds, starConverged) =
      Dedup.starClusters(pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    assert(starConverged, "stars must reach the fixpoint")
    assert(starRounds <= 8, s"stars took $starRounds rounds on a ${n}-path")
    assert(starLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === (1 to n + 1).map(i => i.toLong -> 1L).toMap)

    // min-label, capped at the stars' budget, must NOT have converged —
    // the measured round-count drop
    val (_, mlRounds, mlConverged) = Dedup.minLabelClusters(edges, maxRounds = 8)
    assert(mlRounds === 8 && !mlConverged,
      s"min-label unexpectedly converged in $mlRounds rounds on a ${n}-path")
  }

  test("shared relations materialize reliably when a checkpoint dir is set") {
    // with a checkpoint dir the shingles/LSH/simhash shared relations
    // must route their materialization through reliable checkpoint
    // files (fault-tolerant on a cluster), not executor-local blocks
    withCheckpointDir { _ =>
      val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w v"))
        .toDF("doc_id", "text")
      val sh = Dedup.shingles(docs, materialize = true)
      sh.count() // lazy checkpoint materializes on first action
      def reliablyCheckpointed(rdd: org.apache.spark.rdd.RDD[_]): Boolean =
        (rdd.isCheckpointed && rdd.getCheckpointFile.isDefined) ||
          rdd.dependencies.exists(d => reliablyCheckpointed(d.rdd))
      assert(reliablyCheckpointed(sh.queryExecution.toRdd),
        "no reliable checkpoint file in the materialized shingle relation's lineage")
      // and the lazy construction ran no job at plan time: a fresh frame
      // before any action has no checkpoint yet
      val fresh = Dedup.shingles(docs, materialize = true)
      assert(!reliablyCheckpointed(fresh.queryExecution.toRdd),
        "materialization must stay lazy (no job at plan construction)")
    }
  }

  test("dropNearDups keeps one representative per cluster and no surviving pair") {
    val textDup = base.unionByName(
      Seq((6L, "the quick brown fox jumps over the lazy dog near the river bank"))
        .toDF("doc_id", "text"))
    val clusters = Dedup.nearDupClusters(
      Dedup.jaccardPairs(textDup, n = 3, threshold = 0.5).select("id_a", "id_b"))
    val kept = Dedup.dropNearDups(textDup, clusters)
    assert(Dedup.jaccardPairs(kept, n = 3, threshold = 0.5).count() === 0L,
      "no pair at-or-above the clustering threshold may survive the drop")
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    assert(keptIds.contains(1L) && !keptIds.contains(4L) && !keptIds.contains(6L),
      "the 1/4/6 exact-dup group keeps only its min id")
    assert(keptIds.contains(3L) && keptIds.contains(5L),
      "docs in no cluster are untouched")
  }

  test("embeddingNearDupsLsh finds every exact-dup pair brute force finds") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dup = embs.select("vec_id", "embedding").unionByName(
      embs.filter($"vec_id" % 25 === 0)
        .select(($"vec_id" + 100000L).as("vec_id"), $"embedding"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brute = pairs(Dedup.embeddingNearDups(dup))
    val lsh = pairs(Dedup.embeddingNearDupsLsh(dup))
    assert(lsh === brute, "identical vectors always share an LSH bucket")
    assert(brute.nonEmpty)

    // banded multi-table at the long-code defaults (4x16 bits): recall
    // parity with the exact path — exact dups collide in EVERY table, so
    // raising bits-per-table must not cost a single pair here, while the
    // candidate join runs at n^2/2^16 per table instead of n^2/2^8
    val banded = pairs(Dedup.embeddingNearDupsLshBanded(dup))
    assert(banded === brute,
      "banded LSH must keep exact-dup recall at long code lengths")
  }

  test("alignedSpanPairs: hand-checked runs, separate islands, guard") {
    val docs = Seq(
      (1L, "x1 x2 p q r s t u x3 x4"), // shares "p q r s t u" with 2
      (2L, "y1 p q r s t u y2"),
      (3L, "p q r s z1 z2 u v w x"), // two distinct runs vs 4
      (4L, "p q r s k1 u v w x k2"),
      (5L, "lone words only here")
    ).toDF("doc_id", "text")
    val got = Dedup.alignedSpanPairs(docs, n = 3, minTokens = 4)
      .select("id_a", "id_b", "span_tokens", "n_aligned")
      .as[(Long, Long, Long, Long)].collect().toSet
    // 1-2: one 6-token run = 4 aligned shingles; 3-4: two 4-token runs
    // (2 shingles each) at different offsets -> span 4, aligned 4;
    // every cross pair shares just the "p q r s" prefix -> span 4
    assert(got === Set((1L, 2L, 6L, 4L), (3L, 4L, 4L, 4L),
      (1L, 3L, 4L, 2L), (1L, 4L, 4L, 2L),
      (2L, 3L, 4L, 2L), (2L, 4L, 4L, 2L)))
    intercept[IllegalArgumentException] {
      Dedup.alignedSpanPairs(docs, n = 3, minTokens = 2)
    }
    // the consumable end: all four span-sharing docs collapse to one
    // representative; the unpaired doc survives untouched
    val pairs = Dedup.alignedSpanPairs(docs, n = 3, minTokens = 4)
    val kept = Dedup.dropNearDups(docs,
        Dedup.nearDupClusters(pairs.select("id_a", "id_b")))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 5L))
  }

  test("alignedSpanRuns positions + pruneSharedSpans hand-checked excision") {
    val docs = Seq(
      (1L, "x1 x2 p q r s t u x3 x4"), // source: keeps its text
      (2L, "y1 p q r s t u y2"),       // victim: loses "p q r s t u"
      (5L, "lone words only here")     // untouched, byte-identical
    ).toDF("doc_id", "text")
    val runs = Dedup.alignedSpanRuns(docs, n = 3, minTokens = 4)
      .select("id_a", "id_b", "start_a", "start_b", "span_tokens")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // "p q r s t u": starts at token 2 in doc 1, token 1 in doc 2
    assert(runs === Set((1L, 2L, 2L, 1L, 6L)))
    val pruned = Dedup.pruneSharedSpans(docs,
        Dedup.alignedSpanRuns(docs, n = 3, minTokens = 4))
      .select("doc_id", "removed_tokens", "text_pruned")
      .as[(Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(pruned(1L) === (0L, "x1 x2 p q r s t u x3 x4"))
    assert(pruned(2L) === (6L, "y1 y2"))
    assert(pruned(5L) === (0L, "lone words only here"))
  }

  test("pruneSharedSpans: excision shrinks the pair's span, never grows any") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val runs = Dedup.alignedSpanRuns(docs, n = 3, minTokens = 10)
    val before = Dedup.alignedSpanPairs(docs, n = 3, minTokens = 3)
      .select("id_a", "id_b", "span_tokens")
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val prunedDocs = Dedup.pruneSharedSpans(docs, runs)
      .select(col("doc_id"), col("text_pruned").as("text"))
    val after = Dedup.alignedSpanPairs(prunedDocs, n = 3, minTokens = 3)
      .select("id_a", "id_b", "span_tokens")
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val victims = runs.select("id_b").as[Long].collect().toSet
    assert(victims.nonEmpty)
    // every pair whose victim was pruned lost span length (or vanished);
    // no pair anywhere gained
    for ((pair, sp) <- before) {
      val now = after.getOrElse(pair, 0L)
      assert(now <= sp, s"pair $pair grew: $sp -> $now")
    }
    val shrunk = before.keys.filter(p => victims.contains(p._2))
      .count(p => after.getOrElse(p, 0L) < before(p))
    assert(shrunk > 0, "at least one pruned pair must strictly shrink")
  }

  test("pruneSharedSpansToFixpoint: terminal corpus has no shared span left") {
    // doc 3 shares DIFFERENT passages with 1 and 2 — one excision pass
    // (longest span only) cannot clear it; the fixpoint must
    val docs = Seq(
      (1L, "a1 a2 a3 p q r s t u b1 b2"),
      (2L, "c1 v w x y z1 z2 z3 z4 c2"),
      (3L, "p q r s t u m1 m2 v w x y z1 z2 z3 z4")
    ).toDF("doc_id", "text")
    val (pruned, rounds, converged) =
      Dedup.pruneSharedSpansToFixpoint(docs, n = 3, minTokens = 4)
    assert(converged)
    assert(rounds >= 2, s"two distinct passages need two rounds, got $rounds")
    assert(Dedup.alignedSpanPairs(pruned, n = 3, minTokens = 4).isEmpty)
    // min-id docs keep their text byte-identical through every round
    val texts = pruned.as[(Long, String)].collect().toMap
    assert(texts(1L) == "a1 a2 a3 p q r s t u b1 b2")
    assert(texts(2L) == "c1 v w x y z1 z2 z3 z4 c2")
  }

  test("alignedSpanPairs == token-level longest-common-substring DP") {
    val rnd = new scala.util.Random(7)
    val docs = (1L to 30L).map { id =>
      val toksN = 5 + rnd.nextInt(21)
      (id, (0 until toksN).map(_ => s"w${rnd.nextInt(3)}").mkString(" "))
    }
    val n = 3
    def lcs(a: Array[String], b: Array[String]): Int = {
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      var best = 0
      for (i <- 1 to a.length; j <- 1 to b.length)
        if (a(i - 1) == b(j - 1)) {
          dp(i)(j) = dp(i - 1)(j - 1) + 1
          best = math.max(best, dp(i)(j))
        }
      best
    }
    val expected = (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      l = lcs(ta.split("\\s+"), tb.split("\\s+")) if l >= n
    } yield (ia, ib) -> l.toLong).toMap
    val got = Dedup.alignedSpanPairs(docs.toDF("doc_id", "text"),
        n = n, minTokens = n)
      .select("id_a", "id_b", "span_tokens")
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got === expected)
    assert(expected.nonEmpty, "3-symbol vocab must produce shared runs")
  }

  test("dropBoilerplateUnits: template sentences vanish corpus-wide, content survives in order") {
    val docs = Seq(
      (1L, "unique alpha text. BUY NOW LIMITED OFFER. more alpha content"),
      (2L, "different beta words. BUY NOW LIMITED OFFER. beta tail"),
      (3L, "BUY NOW LIMITED OFFER. gamma body only"),
      (4L, "BUY NOW LIMITED OFFER"), // fully boilerplate -> empty, not dropped
      (5L, "no template here at all")
    ).toDF("doc_id", "text")
    val got = Dedup.dropBoilerplateUnits(docs, minDocFreq = 3)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "unique alpha text. more alpha content", 3L, 1L),
      (2L, "different beta words. beta tail", 3L, 1L),
      (3L, "gamma body only", 2L, 1L),
      (4L, "", 1L, 1L),
      (5L, "no template here at all", 1L, 0L)))
    // below the df threshold nothing is touched (df("BUY NOW...") = 4 >= 5? no)
    val none = Dedup.dropBoilerplateUnits(docs, minDocFreq = 5)
      .agg(sum(col("n_dropped"))).head().getLong(0)
    assert(none == 0L)
    // repetition WITHIN one doc does not make a unit boilerplate
    val intra = Seq(
      (1L, "same line. same line. same line"),
      (2L, "other things entirely")).toDF("doc_id", "text")
    val kept = Dedup.dropBoilerplateUnits(intra, minDocFreq = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(kept.head == (1L, "same line. same line. same line", 3L, 0L),
      "document frequency counts DOCS, not occurrences")
    intercept[IllegalArgumentException] {
      Dedup.dropBoilerplateUnits(docs, minDocFreq = 1)
    }
  }

  test("unit passes: zero-unit docs (empty/whitespace-only) survive as empty rows") {
    val docs = Seq(
      (1L, "real content. BUY NOW. more content"),
      (2L, "other words. BUY NOW. tail here"),
      (3L, ""), // no units at all
      (4L, "   "), // whitespace-only
      (5L, ". .  . ") // separator-only: every split is empty after trim
    ).toDF("doc_id", "text")
    val boiler = Dedup.dropBoilerplateUnits(docs, minDocFreq = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(boiler.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L),
      "a doc is never dropped — including docs with zero units")
    assert(boiler.filter(_._1 >= 3L).forall(r => r._2 == "" && r._3 == 0L && r._4 == 0L))
    val intra = Dedup.dedupUnitsWithinDocs(docs)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(intra.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(intra.filter(_._1 >= 3L).forall(r => r._2 == "" && r._3 == 0L && r._4 == 0L))
  }

  test("dedupUnitsWithinDocs: keep-first per doc, cross-doc repeats untouched") {
    val docs = Seq(
      (1L, "hello world. other text. hello world. tail"),
      (2L, "hello world. unique here"), // repeat of doc 1's unit: NOT intra-doc
      (3L, "a. a. a. b. a")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupUnitsWithinDocs(docs)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "hello world. other text. tail", 4L, 1L),
      (2L, "hello world. unique here", 2L, 0L),
      (3L, "a. b", 5L, 3L)))
    // composes with the corpus-wide pass: intra-dedup first, then the
    // boilerplate pass still removes cross-doc templates
    val composed = Dedup.dropBoilerplateUnits(
      Dedup.dedupUnitsWithinDocs(docs)
        .select(col("doc_id"), col("text_clean").as("text")),
      minDocFreq = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(composed.map(_._2) == Seq("other text. tail", "unique here", "a. b"))
  }
}
