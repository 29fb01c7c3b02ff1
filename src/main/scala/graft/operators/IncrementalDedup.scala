package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental corpus dedup — the production INGESTION shape: each new
  * batch of documents is deduped against the ALREADY-INGESTED corpus
  * without recomputing anything over the corpus itself. The reference
  * pipeline has no dedup beyond an in-batch dict (scripts/
  * lambda1.py:119-150); this is the extension surface a continuously-fed
  * 100 TB pretraining corpus needs — a full-corpus
  * [[Dedup.minHashLshPairs]] rerun per arriving batch would be
  * O(corpus) work for an O(batch)-sized question.
  *
  * Mechanics: MinHash signatures are computed ONCE per document — on the
  * batch that first ingests it — and persisted in a [[KeyedUpsertSink]]
  * bucketed store keyed by doc id (re-delivered batches overwrite
  * idempotently; per-upsert cost is O(touched buckets)). A new batch
  * computes only its own |batch| signatures, LSH-bands them, and
  * equi-joins against the banded corpus signatures — the same
  * AND-within-band / OR-across-bands candidate generation as
  * [[Dedup.minHashLshPairs]], but cross-corpus like
  * [[Dedup.contaminationPairs]], so the join cost is
  * |batch bands ∩ corpus band keys|, never corpus².
  *
  * Exactness: a signature depends only on its own document's text, so
  * batch-computed signatures equal full-rerun signatures, and
  *   pairs(corpus ∪ batch) = pairs(corpus) ∪ incremental(batch, corpus)
  * EXACTLY (per-id-pair, including scores) whenever batch and corpus ids
  * are disjoint — IncrementalDedupSpec asserts the equality. Disjointness
  * is the caller's contract; compose with the added-set of a corpus diff
  * (SparkEntry `corpus_diff`) to get it for free on re-ingests.
  */
object IncrementalDedup {

  /** Candidate near-dup pairs INVOLVING the new batch: batch×corpus plus
    * batch-internal pairs, scored by signature agreement like
    * [[Dedup.minHashLshPairs]]. Inputs are (id, sig) signature relations
    * (from [[Dedup.minHashSignatures]] / [[readSignatures]]). Pairs are
    * oriented id_a < id_b, so with DISJOINT id sets (the new-docs-only
    * ingest contract) the union with the corpus's own historical pair
    * list reproduces the full-corpus rerun row-for-row.
    *
    * Overlapping ids are tolerated, not punished — the AT-LEAST-ONCE
    * delivery case, where a re-run batch's signatures already landed in
    * the store: self-pairs are excluded and the batch side's signature
    * wins the scoring join (same LWW rule as the store), so re-delivering
    * a batch yields the identical pair list instead of self-matches and
    * duplicates.
    *
    * Plan shape: candidate ids travel the band joins with their (small)
    * signatures attached for the batch-internal self-join, while the
    * batch×corpus join carries ids only and re-attaches signatures with
    * two hash joins — at 100 TB the corpus side of the band join is the
    * big relation, and keeping it id+band+key-narrow is what keeps the
    * shuffle bytes proportional to row count, not signature width. The
    * LWW dedup of the scoring relation broadcasts only the batch's ids.
    */
  def incrementalLshPairs(batchSigs: DataFrame, corpusSigs: DataFrame,
      numHashes: Int = 16, bands: Int = 4,
      minAgreement: Double = 0.5): DataFrame = {
    val bb = Dedup.bandedSignatures(batchSigs, numHashes, bands)
      .transform(Materialize.shared) // self-join sides + cross join scan it
    val bc = Dedup.bandedSignatures(corpusSigs, numHashes, bands)
      .select(col("id"), col("band"), col("key")) // ids only: bytes-narrow
    val within = bb.as("a")
      .join(bb.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val cross = bb.select(col("id").as("_bid"), col("band"), col("key"))
      .join(bc.withColumnRenamed("id", "_cid"), Seq("band", "key"))
      .filter(col("_bid") =!= col("_cid")) // re-delivered doc is not its own dup
      .select(least(col("_bid"), col("_cid")).as("id_a"),
        greatest(col("_bid"), col("_cid")).as("id_b"))
    val cand = within.unionByName(cross).distinct()
    // batch sig wins where both sides know an id (matches the store's LWW)
    val all = batchSigs.unionByName(
      corpusSigs.join(broadcast(batchSigs.select("id")), Seq("id"), "left_anti"))
    cand
      .join(all.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(all.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("sig_agreement",
        Dedup.sigAgreement(col("sig_a"), col("sig_b"), numHashes))
      .filter(col("sig_agreement") >= minAgreement)
      .select("id_a", "id_b", "sig_agreement")
  }

  /** The LSH band INDEX nested under the signature store: the banded
    * corpus relation (id, band, key) as its own [[KeyedUpsertSink]]
    * store bucketed by (band, key) — the secondary-index
    * materialization that turns the per-batch candidate join from a
    * full-corpus scan into a bucket-pruned read over the batch's own
    * band keys.
    *
    * LAYOUT — an LSM pair of [[DeltaLog]]s nested under the store root:
    * `slog/` holds (id, sig, batch_id), `blog/` the banded index rows
    * (id, band, key, batch_id). Each ingest APPENDS one delta per log —
    * O(batch) write at ANY corpus size (a merge-on-write store would
    * rewrite every touched bucket: measured 3.6x per decade at a fixed
    * 500-doc batch before this layout) — and re-delivery overwrites the
    * same `batch=<id>` delta, so at-least-once stays exactly-once.
    * Reads fold base + delta tail with LWW-by-batch_id; the tail is
    * bounded by the [[compactStores]] cadence, which also re-buckets
    * the bases to the corpus so pruned reads stay O(probe x
    * rowsPerBucket). Single-writer by the foreachBatch contract, like
    * every [[DeltaLog]] store.
    *
    * Stores created before this layout (signatures in a
    * [[KeyedUpsertSink]] at the root) are detected by their pointer and
    * stay on the byte-compatible full-scan path forever — a partial
    * index would silently miss pairs against the unindexed prefix.
    */
  private def slogDir(storeDir: String) = s"$storeDir/slog"
  private def blogDir(storeDir: String) = s"$storeDir/blog"

  /** LWW fold by `batch_id` within `keys` — the delta-log merge for
    * both logs (schema-preserving, as [[DeltaLog]] folds must be).
    */
  private def lwwBy(keys: Seq[String])(df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("batch_id").desc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }
  private def sigLww(df: DataFrame): DataFrame = lwwBy(Seq("id"))(df)
  private def bandLww(df: DataFrame): DataFrame =
    lwwBy(Seq("id", "band", "key"))(df)

  /** Persist a batch's (id, sig) signatures and their band-index rows:
    * one appended delta per log (re-delivery idempotent). A legacy
    * root-store keeps its original sink-upsert path and grows no index.
    */
  def upsertSignatures(sigs: DataFrame, storeDir: String, batchId: Long,
      numBuckets: Int = KeyedUpsertSink.DefaultNumBuckets,
      numHashes: Int = 16, bands: Int = 4): Unit = {
    val spark = sigs.sparkSession
    if (KeyedUpsertSink.readState(spark, storeDir).isDefined)
      KeyedUpsertSink.upsertBatch(
        sigs.select(col("id"), col("sig"), lit(batchId).as("batch_id")),
        storeDir, Seq("id"), "batch_id", batchId, numBuckets = numBuckets)
    else {
      DeltaLog.writeDelta(
        sigs.select(col("id"), col("sig"), lit(batchId).as("batch_id")),
        slogDir(storeDir), batchId)
      DeltaLog.writeDelta(
        Dedup.bandedSignatures(sigs, numHashes, bands)
          .select(col("id"), col("band"), col("key"),
            lit(batchId).as("batch_id")),
        blogDir(storeDir), batchId)
    }
  }

  /** Fold both logs into hash-bucketed base snapshots with the bucket
    * count scaled to the corpus (`ceil(rows / targetRowsPerBucket)`,
    * the [[DeltaLog.compactBucketed]] rule) — the compaction cadence
    * that bounds BOTH the delta tail a read folds and the rows a
    * pruned read scans per touched bucket. No-op on a legacy store.
    */
  def compactStores(spark: SparkSession, storeDir: String,
      targetRowsPerBucket: Long = 4096L): Unit = {
    DeltaLog.compactBucketed(spark, slogDir(storeDir), sigLww,
      Seq("id"), targetRowsPerBucket)
    DeltaLog.compactBucketed(spark, blogDir(storeDir), bandLww,
      Seq("band", "key"), targetRowsPerBucket)
  }

  /** MINOR compaction of both logs ([[DeltaLog.compactMinor]]) — the
    * per-cadence step of a continuous deployment: fold the delta tail
    * into one bucketed L1 run per log at O(rows since the last MAJOR)
    * cost, never O(corpus). [[compactStores]] (the corpus-proportional
    * major) then runs only when [[maybeCompactStores]]' growth trigger
    * fires, so total compaction work amortizes to O(1) per ingested row
    * instead of O(corpus) per cadence tick.
    */
  def compactMinorStores(spark: SparkSession, storeDir: String,
      targetRowsPerBucket: Long = 4096L): Unit = {
    DeltaLog.compactMinor(spark, slogDir(storeDir), sigLww,
      Seq("id"), targetRowsPerBucket)
    DeltaLog.compactMinor(spark, blogDir(storeDir), bandLww,
      Seq("band", "key"), targetRowsPerBucket)
  }

  /** The LSM size-ratio trigger: run the MAJOR [[compactStores]] only
    * when either log's L1 run has grown past `1/sizeRatio` of its base
    * (or the log has no bucketed base yet) — decided from the snapshot
    * markers' recorded row counts alone, no Spark job. Returns whether
    * a major ran. With minors on the cadence and this gating majors,
    * a store ingesting N rows does O(N log N) total compaction work
    * instead of O(N x cadence-ticks).
    *
    * Self-sufficient without an external minor cadence (ADVICE r19): a
    * committed delta tail longer than `maxTailDirs` dirs above the
    * newest snapshot triggers an inline MINOR on that log (O(tail)),
    * folding the tail into an L1 run the ratio rule then sees — so a
    * store fed only through this trigger still keeps its read fan-in
    * bounded instead of growing one delta dir per batch forever. A
    * base whose `_NBUCKETS` marker is missing or row-less (a crash
    * between a major's parquet commit and the marker write, or a
    * pre-r19 marker) is repaired in place ([[DeltaLog.repairMarker]])
    * rather than firing a major that would no-op while reporting
    * fired=true on every tick.
    */
  def maybeCompactStores(spark: SparkSession, storeDir: String,
      targetRowsPerBucket: Long = 4096L, sizeRatio: Long = 4L,
      maxTailDirs: Int = 16): Boolean = {
    def due(dir: String, merge: DataFrame => DataFrame,
        hashCols: Seq[String]): Boolean = {
      val base = DeltaLog.newestCommitted(spark, s"$dir/base", "upto=")
      base match {
        case None => true // no major yet: establish the bucketed base
        case Some((_, p)) =>
          val baseRows = DeltaLog.markerAt(spark, p).flatMap(_._2)
            .orElse {
              if (DeltaLog.repairMarker(spark, p, hashCols,
                  targetRowsPerBucket))
                DeltaLog.markerAt(spark, p).flatMap(_._2)
              else None // irreparable (legacy unbucketed dir): a real
                        // re-base happens at the next delta; firing
                        // now would no-op forever
            }
          baseRows match {
            case None => false
            case Some(b) =>
              def runRows: Option[Long] =
                DeltaLog.newestRunAbove(spark, dir, base)
                  .flatMap { case (_, rp) => DeltaLog.markerAt(spark, rp) }
                  .flatMap(_._2)
              // the uncompacted tail above the newest snapshot: fold it
              // into an L1 run (O(tail)) when it has outgrown the
              // fan-in bound, THEN let the ratio rule see the growth
              val floor = (base.map(_._1).toSeq ++
                DeltaLog.newestRunAbove(spark, dir, base).map(_._1)).max
              val tailDirs = DeltaLog
                .committedIds(spark, s"$dir/delta", "batch=")
                .count(_._1 > floor)
              if (tailDirs >= maxTailDirs)
                DeltaLog.compactMinor(spark, dir, merge, hashCols,
                  targetRowsPerBucket)
              runRows.exists(r => r * sizeRatio >= b)
          }
      }
    }
    val fire = due(slogDir(storeDir), sigLww, Seq("id")) ||
      due(blogDir(storeDir), bandLww, Seq("band", "key"))
    if (fire) compactStores(spark, storeDir, targetRowsPerBucket)
    fire
  }

  /** The persisted corpus signature relation (id, sig), or None before
    * the first ingest. Reads whichever layout the store carries.
    */
  def readSignatures(spark: SparkSession, storeDir: String): Option[DataFrame] =
    DeltaLog.readFolded(spark, slogDir(storeDir), sigLww)
      .map(_.select("id", "sig"))
      .orElse(
        KeyedUpsertSink.readStore(spark, storeDir).map(_.select("id", "sig")))

  /** End-to-end ingest step: signature the batch, mine its near-dup
    * pairs against the persisted corpus (plus batch-internal pairs),
    * then fold the batch's signatures into the store. Returns the pair
    * list MATERIALIZED (reliable checkpoint when a checkpoint dir is
    * set, local otherwise) — the result must not lazily read store
    * generations that a later ingest may prune past the sink's
    * one-generation grace window.
    */
  def ingestBatch(batch: DataFrame, storeDir: String, batchId: Long,
      n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      minAgreement: Double = 0.5, idCol: String = "doc_id",
      textCol: String = "text",
      numBuckets: Int = KeyedUpsertSink.DefaultNumBuckets): DataFrame = {
    val sigs = Materialize.shared(
      Dedup.minHashSignatures(batch, n, numHashes, idCol, textCol))
    val pairs = minePairs(sigs, storeDir, numHashes, bands, minAgreement)
    val out = Materialize.round(pairs)
    upsertSignatures(sigs, storeDir, batchId, numBuckets, numHashes, bands)
    out
  }

  /** Candidate near-dup pairs for a batch's signature relation against
    * the store at `storeDir` — the read side of [[ingestBatch]], shared
    * with [[IncrementalMultimodal]]'s caption leg. Lazy: callers
    * materialize (the ingest discipline) before upserting.
    *
    * INDEXED path (the 100 TB shape): the corpus side of the band join
    * is read bucket-pruned from the persisted band index — the batch
    * touches only the buckets its own band keys hash into (plus the
    * cadence-bounded delta tail), and corpus signatures are
    * re-attached by pruned point-lookup for the CANDIDATE ids only.
    * Per-batch read cost is O(batch-band-buckets x rowsPerBucket +
    * delta tail + candidates), independent of corpus size under the
    * [[compactStores]] cadence; the full-corpus scan-and-band fallback
    * survives only for index-less legacy stores. Exact: every corpus
    * row with a probed (band, key) lives in that probe's bucket, so
    * the pruned band join equals the full one (IncrementalDedupSpec
    * asserts indexed == full-rerun pair lists).
    */
  private[operators] def minePairs(sigs: DataFrame, storeDir: String,
      numHashes: Int = 16, bands: Int = 4,
      minAgreement: Double = 0.5): DataFrame = {
    val spark = sigs.sparkSession
    DeltaLog.readFolded(spark, blogDir(storeDir), bandLww) match {
      case Some(_) =>
        val bb = Materialize.shared(
          Dedup.bandedSignatures(sigs, numHashes, bands))
        val corpusBands = DeltaLog.readFoldedFor(spark, blogDir(storeDir),
          bandLww, Seq("band", "key"), bb.select("band", "key"))
          .get.select("id", "band", "key")
        val within = bb.as("a")
          .join(bb.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
              col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        val cross = bb.select(col("id").as("_bid"), col("band"), col("key"))
          .join(corpusBands.withColumnRenamed("id", "_cid"), Seq("band", "key"))
          .filter(col("_bid") =!= col("_cid")) // re-delivered doc ≠ its own dup
          .select(least(col("_bid"), col("_cid")).as("id_a"),
            greatest(col("_bid"), col("_cid")).as("id_b"))
        // materialized BEFORE the point-lookups below collect its bucket
        // ids (no double-compute) and before the upserts prune past it
        val cand = Materialize.round(within.unionByName(cross).distinct())
        val candIds = cand.select(col("id_a").as("id"))
          .unionByName(cand.select(col("id_b").as("id"))).distinct()
        val corpusSigs = DeltaLog.readFoldedFor(spark, slogDir(storeDir),
          sigLww, Seq("id"), candIds).get.select("id", "sig")
        // batch sig wins where both sides know an id (the store's LWW);
        // shared: the relation feeds BOTH scoring joins below, and the
        // store fold behind it must not run twice
        val all = Materialize.shared(sigs.select("id", "sig").unionByName(
          corpusSigs.join(broadcast(sigs.select("id")), Seq("id"), "left_anti")))
        cand
          .join(all.select(col("id").as("id_a"), col("sig").as("sig_a")),
            Seq("id_a"))
          .join(all.select(col("id").as("id_b"), col("sig").as("sig_b")),
            Seq("id_b"))
          .withColumn("sig_agreement",
            Dedup.sigAgreement(col("sig_a"), col("sig_b"), numHashes))
          .filter(col("sig_agreement") >= minAgreement)
          .select("id_a", "id_b", "sig_agreement")
      case None => readSignatures(spark, storeDir) match {
        case Some(corpusSigs) => // legacy index-less store: full scan
          incrementalLshPairs(sigs, corpusSigs, numHashes, bands, minAgreement)
        case None => // first batch: corpus is empty, only internal pairs
          incrementalLshPairs(sigs,
            sigs.filter(lit(false)), numHashes, bands, minAgreement)
      }
    }
  }

  /** foreachBatch adapter — continuous ingestion dedup as a streaming
    * sink: `docsStream.writeStream.foreachBatch(
    * IncrementalDedup.ingester(storeDir, pairsDir))`. Each micro-batch
    * is mined against the signature store via [[ingestBatch]] and its
    * pair list lands in `pairsDir/batch=<id>` (partition-discovered as a
    * `batch` column on read). Structured Streaming re-runs a failed
    * micro-batch under the SAME id; the per-batch Overwrite plus
    * [[incrementalLshPairs]]' re-delivery tolerance (self-pairs
    * excluded, batch sig wins) makes the landed pair list exactly-once
    * on top of at-least-once delivery — the same contract as
    * [[KeyedUpsertSink.upserter]].
    */
  def ingester(storeDir: String, pairsDir: String, n: Int = 3,
      numHashes: Int = 16, bands: Int = 4, minAgreement: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text",
      numBuckets: Int = KeyedUpsertSink.DefaultNumBuckets,
      compactEvery: Int = 0,
      targetRowsPerBucket: Long = 4096L): (DataFrame, Long) => Unit =
    (batch, id) => {
      ingestBatch(batch, storeDir, id, n, numHashes, bands, minAgreement,
          idCol, textCol, numBuckets)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$pairsDir/batch=$id")
      // self-maintenance (r19, opt-in): every `compactEvery` batches a
      // cadence MINOR bounds the delta tail at O(rows since the last
      // major), and the marker-read growth trigger re-bases only when a
      // log has outgrown its bucket count — the sink keeps its own read
      // amplification bounded with no out-of-band compactor. Safe under
      // re-delivery: a re-run batch's delta lands at-or-below the
      // newest run's upto, holds the same bytes that run already
      // folded, and readers skip it by the floor rule.
      if (compactEvery > 0 && (id + 1) % compactEvery == 0) {
        val spark = batch.sparkSession
        compactMinorStores(spark, storeDir, targetRowsPerBucket)
        maybeCompactStores(spark, storeDir, targetRowsPerBucket)
      }
    }

  /** All pairs mined so far by [[ingester]], with their `batch` column. */
  def minedPairs(spark: SparkSession, pairsDir: String): DataFrame =
    spark.read.parquet(pairsDir)
}
