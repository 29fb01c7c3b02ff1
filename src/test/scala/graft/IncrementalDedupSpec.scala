package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, IncrementalDedup}

/** Incremental corpus dedup: the batch-vs-corpus pair miner must equal a
  * full-corpus rerun exactly, and the persisted signature store must make
  * multi-batch ingestion equal one-shot ingestion.
  */
class IncrementalDedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // corpus: distinct docs; batch: an exact dup of 1, a near dup of 2, a
  // fresh doc, and an internal dup pair (103, 104)
  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "pack my box with five dozen liquor jugs before the night train leaves"),
    (3L, "completely different words appear here without any overlap at all")
  ).toDF("doc_id", "text")

  private def batch = Seq(
    (101L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (102L, "pack my box with five dozen liquor jugs before the night train arrives"),
    (103L, "numbers and symbols one two three four five six seven eight nine"),
    (104L, "numbers and symbols one two three four five six seven eight nine")
  ).toDF("doc_id", "text")

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select("id_a", "id_b", "sig_agreement")
      .as[(Long, Long, Double)].collect().toSet

  test("incremental pairs + corpus self-pairs == full-corpus rerun, exactly") {
    val full = pairSet(Dedup.minHashLshPairs(corpus.unionByName(batch)))
    val corpusSelf = pairSet(Dedup.minHashLshPairs(corpus))
    val incr = pairSet(IncrementalDedup.incrementalLshPairs(
      Dedup.minHashSignatures(batch), Dedup.minHashSignatures(corpus)))
    assert(corpusSelf.union(incr) === full,
      s"incremental decomposition must reproduce the rerun;\n" +
        s"missing=${full.diff(corpusSelf.union(incr))}\n" +
        s"extra=${corpusSelf.union(incr).diff(full)}")
    // and the two legs are disjoint: corpus-internal pairs never reappear
    assert(corpusSelf.intersect(incr).isEmpty)
    // fixture sanity: the exact dup, the internal batch dup, and the near
    // dup all surface
    val ids = incr.map(p => (p._1, p._2))
    assert(ids.contains((1L, 101L)), "exact cross dup must be found")
    assert(ids.contains((103L, 104L)), "batch-internal dup must be found")
  }

  test("multi-batch ingestion through the signature store == one-shot rerun") {
    val dir = java.nio.file.Files.createTempDirectory("sigstore").toString
    val b1 = IncrementalDedup.ingestBatch(corpus, dir, batchId = 0L)
    val b2 = IncrementalDedup.ingestBatch(batch, dir, batchId = 1L)
    val all = pairSet(b1).union(pairSet(b2))
    val full = pairSet(Dedup.minHashLshPairs(corpus.unionByName(batch)))
    assert(all === full,
      s"missing=${full.diff(all)} extra=${all.diff(full)}")
  }

  test("ingest survives store pruning: pairs are materialized before upsert") {
    val dir = java.nio.file.Files.createTempDirectory("sigstore2").toString
    IncrementalDedup.ingestBatch(corpus, dir, batchId = 0L)
    val pairs = IncrementalDedup.ingestBatch(batch, dir, batchId = 1L)
    // two more ingests of fresh docs — prunes past the one-generation
    // grace window of every generation batch 1 read from
    IncrementalDedup.ingestBatch(
      Seq((201L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("doc_id", "text"), dir, batchId = 2L)
    IncrementalDedup.ingestBatch(
      Seq((202L, "lambda mu nu xi omicron pi rho sigma tau upsilon"))
        .toDF("doc_id", "text"), dir, batchId = 3L)
    assert(pairSet(pairs).map(p => (p._1, p._2)).contains((1L, 101L)),
      "earlier batch's result frame must stay readable after later ingests")
  }

  test("re-delivered ingest batch is idempotent in store AND pair list") {
    val dir = java.nio.file.Files.createTempDirectory("sigstore3").toString
    IncrementalDedup.ingestBatch(corpus, dir, batchId = 0L)
    val first = pairSet(IncrementalDedup.ingestBatch(batch, dir, batchId = 1L))
    // re-delivery AFTER the upsert landed: the store already holds the
    // batch's own signatures — self-pairs must not appear and the pair
    // list must reproduce exactly
    val second = pairSet(IncrementalDedup.ingestBatch(batch, dir, batchId = 1L))
    assert(second === first,
      s"re-delivered pairs differ; missing=${first.diff(second)} extra=${second.diff(first)}")
    assert(second.forall(p => p._1 != p._2), "no self-pairs on re-delivery")
    val stored = IncrementalDedup.readSignatures(spark, dir).get
    assert(stored.count() === 7, "re-delivery must not duplicate signatures")
    assert(stored.select("id").as[Long].collect().toSet ===
      Set(1L, 2L, 3L, 101L, 102L, 103L, 104L))
  }

  test("compactStores re-buckets both stores; indexed ingest still exact") {
    val dir = java.nio.file.Files.createTempDirectory("sigstore5").toString
    IncrementalDedup.ingestBatch(corpus, dir, batchId = 0L)
    // grow bucket counts to ~1 row per bucket — the corpus-scaled cadence
    IncrementalDedup.compactStores(spark, dir, targetRowsPerBucket = 1L)
    val incr = pairSet(IncrementalDedup.ingestBatch(batch, dir, batchId = 1L))
    val full = pairSet(Dedup.minHashLshPairs(corpus.unionByName(batch)))
    val corpusSelf = pairSet(Dedup.minHashLshPairs(corpus))
    assert(corpusSelf.union(incr) === full,
      s"missing=${full.diff(corpusSelf.union(incr))}\n" +
        s"extra=${corpusSelf.union(incr).diff(full)}")
  }

  test("minor-compaction cadence between majors: mined pairs stay == one-shot rerun") {
    val dir = java.nio.file.Files.createTempDirectory("sigstore6").toString
    // major once (establishes the bucketed bases), then only MINORS —
    // the steady state of a continuous deployment between growth-
    // triggered majors: base + one L1 run + a short delta tail
    IncrementalDedup.ingestBatch(corpus, dir, batchId = 0L)
    IncrementalDedup.compactStores(spark, dir, targetRowsPerBucket = 1L)
    val b1 = Seq((201L,
      "completely different words appear here without any overlap at all"))
      .toDF("doc_id", "text")
    IncrementalDedup.ingestBatch(b1, dir, batchId = 1L)
    IncrementalDedup.compactMinorStores(spark, dir, targetRowsPerBucket = 1L)
    assert(new java.io.File(s"$dir/slog/l1").exists() &&
      new java.io.File(s"$dir/blog/l1").exists(),
      "minor compaction must land L1 runs in both logs")
    val incr = pairSet(IncrementalDedup.ingestBatch(batch, dir, batchId = 2L))
    val allPrior = corpus.unionByName(b1)
    val full = pairSet(Dedup.minHashLshPairs(allPrior.unionByName(batch)))
    val priorSelf = pairSet(Dedup.minHashLshPairs(allPrior))
    assert(priorSelf.union(incr) === full,
      s"missing=${full.diff(priorSelf.union(incr))}\n" +
        s"extra=${priorSelf.union(incr).diff(full)}")
  }

  test("maybeCompactStores: majors fire on growth, not cadence") {
    val dir = java.nio.file.Files.createTempDirectory("sigstore7").toString
    val big = (0L until 40L).map(i =>
      (i, s"document number $i carries its own unique words alpha$i beta$i"))
      .toDF("doc_id", "text")
    IncrementalDedup.ingestBatch(big, dir, batchId = 0L)
    // no bucketed base yet: the first check majors unconditionally
    assert(IncrementalDedup.maybeCompactStores(spark, dir,
      targetRowsPerBucket = 4L))
    // one small batch + a minor: run ≪ base/4, the major must NOT fire
    val one = Seq((500L, "a single fresh document with its own words"))
      .toDF("doc_id", "text")
    IncrementalDedup.ingestBatch(one, dir, batchId = 1L)
    IncrementalDedup.compactMinorStores(spark, dir, targetRowsPerBucket = 4L)
    assert(!IncrementalDedup.maybeCompactStores(spark, dir,
      targetRowsPerBucket = 4L),
      "a one-doc run against a 40-doc base must not trigger a major")
    // grow the run past base/sizeRatio: the major fires and re-bases
    val grow = (600L until 616L).map(i =>
      (i, s"growth document $i with words gamma$i delta$i")).toDF("doc_id", "text")
    IncrementalDedup.ingestBatch(grow, dir, batchId = 2L)
    IncrementalDedup.compactMinorStores(spark, dir, targetRowsPerBucket = 4L)
    assert(IncrementalDedup.maybeCompactStores(spark, dir,
      targetRowsPerBucket = 4L))
    // post-major reads still exact: signatures == everything ingested
    assert(IncrementalDedup.readSignatures(spark, dir).get.count() === 57L)
  }

  test("maybeCompactStores: a marker-less base is repaired, not majored in a no-op loop") {
    import graft.operators.DeltaLog
    val dir = java.nio.file.Files.createTempDirectory("sigstore8").toString
    val big = (0L until 40L).map(i =>
      (i, s"repair document $i with its own words mu$i nu$i"))
      .toDF("doc_id", "text")
    IncrementalDedup.ingestBatch(big, dir, batchId = 0L)
    assert(IncrementalDedup.maybeCompactStores(spark, dir,
      targetRowsPerBucket = 4L))
    // simulate the crash between a major's parquet commit and its
    // _NBUCKETS write: delete the newest signature base's marker
    val basePath = DeltaLog
      .newestCommitted(spark, s"$dir/slog/base", "upto=").get._2
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      basePath.stripPrefix("file:"), "_NBUCKETS"))
    // pre-fix behavior (ADVICE r19): fired=true on every tick while
    // compactStores no-oped (nothing newer than the base). Now: the
    // marker is repaired in place and the trigger reports false.
    assert(!IncrementalDedup.maybeCompactStores(spark, dir,
      targetRowsPerBucket = 4L),
      "a marker-less base must be repaired, not majored")
    val repaired = DeltaLog.markerAt(spark, basePath)
    assert(repaired.exists(_._2.contains(40L)),
      s"marker must be rewritten with the recounted rows: $repaired")
    // the repaired bucket count was VERIFIED against the data, so
    // pruned reads through it stay exact
    assert(IncrementalDedup.readSignatures(spark, dir).get.count() === 40L)
  }

  test("maybeCompactStores: a long uncompacted delta tail triggers an inline minor") {
    import graft.operators.DeltaLog
    val dir = java.nio.file.Files.createTempDirectory("sigstore9").toString
    val big = (0L until 40L).map(i =>
      (i, s"tail document $i with its own words xi$i omicron$i"))
      .toDF("doc_id", "text")
    IncrementalDedup.ingestBatch(big, dir, batchId = 0L)
    assert(IncrementalDedup.maybeCompactStores(spark, dir,
      targetRowsPerBucket = 4L))
    // five one-doc batches with NO external minor cadence: the old
    // due() was blind to the tail (no L1 run above the base => "nothing
    // grew") and read fan-in grew one dir per batch forever
    (1 to 5).foreach { i =>
      val one = Seq((500L + i, s"fresh tail words number $i here"))
        .toDF("doc_id", "text")
      IncrementalDedup.ingestBatch(one, dir, batchId = i.toLong)
    }
    // 5 new rows vs a 40-row base: the RATIO must not fire a major,
    // but the >= maxTailDirs tail must fold into an L1 run (O(tail))
    assert(!IncrementalDedup.maybeCompactStores(spark, dir,
      targetRowsPerBucket = 4L, maxTailDirs = 4),
      "a 5-row tail against a 40-row base must not trigger a major")
    val base = DeltaLog.newestCommitted(spark, s"$dir/slog/base", "upto=")
    assert(DeltaLog.newestRunAbove(spark, s"$dir/slog", base).nonEmpty,
      "the uncompacted tail must have been folded into an L1 run")
    // reads stay exact through the freshly-folded layout
    assert(IncrementalDedup.readSignatures(spark, dir).get.count() === 45L)
  }

  test("randomized: decomposition equality holds on random corpus/batch splits") {
    // 80 docs over a 14-word vocabulary (plenty of natural near-dups and
    // band collisions), 3 random splits — pairs(corpus ∪ batch) must
    // equal pairs(corpus) ∪ incremental(batch, corpus) on every split,
    // scores included
    val rnd = new scala.util.Random(13)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi")
    val base = (1 to 50).map(i => (i.toLong,
      Seq.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    // 30 near-copies (one appended token) guarantee real dup structure
    val copies = (1 to 30).map { i =>
      val (srcId, text) = base(rnd.nextInt(base.size))
      (srcId + 1000L * i, s"$text ${vocab(rnd.nextInt(vocab.size))}")
    }
    val docs = base ++ copies
    val full = pairSet(Dedup.minHashLshPairs(docs.toDF("doc_id", "text")))
    assert(full.nonEmpty, "fixture must produce near-dup pairs")
    for (trial <- 0 until 3) {
      val mask = docs.map(_ => rnd.nextBoolean())
      val (c, b) = (docs.zip(mask).collect { case (d, true) => d },
        docs.zip(mask).collect { case (d, false) => d })
      val self = pairSet(Dedup.minHashLshPairs(c.toDF("doc_id", "text")))
      val incr = pairSet(IncrementalDedup.incrementalLshPairs(
        Dedup.minHashSignatures(b.toDF("doc_id", "text")),
        Dedup.minHashSignatures(c.toDF("doc_id", "text"))))
      assert(self.union(incr) === full,
        s"trial $trial: missing=${full.diff(self.union(incr))} " +
          s"extra=${self.union(incr).diff(full)}")
    }
  }

  test("streaming ingester: per-batch mined pairs == one-shot rerun") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("sigstream").toString
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(IncrementalDedup.ingester(s"$root/store", s"$root/pairs"))
      .start()
    try {
      input.addData(corpus.as[(Long, String)].collect().toSeq)
      q.processAllAvailable()
      input.addData(batch.as[(Long, String)].collect().toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val mined = IncrementalDedup.minedPairs(spark, s"$root/pairs")
    assert(mined.columns.contains("batch"), "partition column discovered")
    assert(pairSet(mined.drop("batch")) ===
      pairSet(Dedup.minHashLshPairs(corpus.unionByName(batch))))
    // the store holds every streamed doc's signature exactly once
    assert(IncrementalDedup.readSignatures(spark, s"$root/store").get.count() === 7)
  }

  test("self-maintaining ingester (compactEvery=1): pairs and store == one-shot; L1 runs land") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("sigselfmnt").toString
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(IncrementalDedup.ingester(s"$root/store", s"$root/pairs",
        compactEvery = 1, targetRowsPerBucket = 2L))
      .start()
    try {
      input.addData(corpus.as[(Long, String)].collect().toSeq)
      q.processAllAvailable()
      input.addData(batch.as[(Long, String)].collect().toSeq)
      q.processAllAvailable()
    } finally q.stop()
    // batch 0's trigger majored (no bucketed base yet); batch 1's
    // minor folded its tail into L1 runs in both logs
    assert(new java.io.File(s"$root/store/slog/base").exists(),
      "the first growth-trigger check must establish the bucketed base")
    val mined = IncrementalDedup.minedPairs(spark, s"$root/pairs")
    assert(pairSet(mined.drop("batch")) ===
      pairSet(Dedup.minHashLshPairs(corpus.unionByName(batch))))
    assert(IncrementalDedup.readSignatures(spark, s"$root/store").get
      .count() === 7)
  }

  test("streaming ingester survives a checkpointed restart without duplicates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("sigrestart").toString
    def start(in: MemoryStream[(Long, String)]) = in.toDF().toDF("doc_id", "text")
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(IncrementalDedup.ingester(s"$root/store", s"$root/pairs"))
      .start()
    val in = MemoryStream[(Long, String)]
    val q1 = start(in)
    try {
      in.addData(corpus.as[(Long, String)].collect().toSeq)
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the checkpoint: the new query continues the batch-id
    // sequence; already-committed batches are not re-ingested
    in.addData(batch.as[(Long, String)].collect().toSeq)
    val q2 = start(in)
    try q2.processAllAvailable() finally q2.stop()
    val mined = IncrementalDedup.minedPairs(spark, s"$root/pairs").drop("batch")
    assert(pairSet(mined) ===
      pairSet(Dedup.minHashLshPairs(corpus.unionByName(batch))),
      "pairs after restart must equal the one-shot rerun")
    assert(IncrementalDedup.readSignatures(spark, s"$root/store").get
      .count() === 7, "no duplicate signatures after restart")
  }
}
