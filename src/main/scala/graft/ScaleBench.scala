package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The measured SCALE-UP datapoint: every bench number elsewhere is
  * sf0.1 (~17 MB); this main builds a DERIVED 10x corpus (union sf0.1
  * ten times under disjoint id blocks — TESTDATA.md forbids writing to
  * /root/testdata, so it lands under the repo's own target dir), times
  * the heaviest query families at both scales, and writes the
  * sf0.1 → sf1 wall-time ratios to SCALEUP.json, which [[Bench]]
  * embeds into BENCH_full.json as the "scaleup" section.
  *
  * MEASUREMENT TRUST (r16 verdict item 1): the r16-committed
  * `graph_prep` 10x row was ~9x inflated by co-located load (71.5 s
  * committed vs 8.0 s on a quiet JVM — the artifact's own history
  * showed 11.8 → 39.8 → 71.5 s for unchanged code as reruns piled onto
  * the box). Every probe here now runs through [[GuardedTimer]]:
  * per-probe external-CPU windows ([[BenchGuard.timedExt]]), a
  * prior-value retime against the previous SCALEUP.json, and the
  * quiet-start gate (loadavg + co-resident sbt/Spark JVM scan) that
  * [[Bench]] already had — with the per-probe external-CPU and every
  * (first, retime) pair recorded in the artifact, so a contaminated
  * number is visible or corrected, never silent.
  *
  * Replica construction keeps the scaling HONEST:
  *  - ids shift by replica * 10^7, far above every in-query plant
  *    offset (+100000/+400000/...), so plants never collide with a
  *    replica's real ids;
  *  - document TEXT is Caesar-shifted per replica (letter rotation —
  *    an isomorphism: token lengths, df distributions, and unit
  *    structure are preserved exactly, while replicas share no words).
  *    Without this, every shingle's df would grow 10x and the
  *    inverted-index joins would measure a 100x Σdf² corpus, not a
  *    10x one — the quadratic artifact of cloning, not of scale;
  *  - the co-purchase graph becomes 10 disjoint copies (order/supplier/
  *    customer keys shift per replica): 10x nodes, 10x edges;
  *  - embeddings replicate under shifted ids (the ANN families'
  *    cost is row-count-driven; vector content is irrelevant to cost).
  *
  * Expected readings: the inverted-index dedup families, the C4 chain,
  * BPE encode, and PageRank should scale NEAR-LINEARLY (their shuffles
  * are Σdf-/edge-/token-proportional). `ann_incremental_topk` is the
  * BRUTE-FORCE baseline — batch x corpus scoring is quadratic BY
  * DESIGN (both sides grow 10x => ~100x work); it is included to price
  * that honestly, with the banded-LSH path alongside as the sublinear
  * production shape.
  */
object ScaleBench {

  import BenchGuard.{jstr, jnum}

  val Factor = 10
  private val Block = 10000000L // replica id stride, above every plant offset

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  /** Letter-rotation isomorphism for replica `i` (identity at i=0). */
  private def shifted(s: String, i: Int): String =
    s.map {
      case c if c >= 'a' && c <= 'z' => (((c - 'a') + i) % 26 + 'a').toChar
      case c if c >= 'A' && c <= 'Z' => (((c - 'A') + i) % 26 + 'A').toChar
      case c => c
    }

  /** Document replicas beyond the letter rotation's 26: replica `i`
    * composes rotation (i % 26) with a per-GROUP token suffix `~g`
    * (g = i / 26; group 0 is bare, so replicas 0..9 are exactly the
    * 10x corpus's own). The suffix preserves whitespace token counts
    * and within-replica n-gram structure while making cross-group
    * shingles disjoint (no bare token equals a suffixed one), so the
    * global df relation stays exactly `factor` disjoint copies of the
    * source's — the same honesty discipline as the first decade
    * (rotation alone would repeat at i = 26 and square the dfs).
    *
    * PRECONDITION (ADVICE r16): every source token must contain a
    * letter (a letterless token is rotation-invariant and would repeat
    * across the 26 rotations of a group) and no token may contain '~'
    * (it would collide with the group suffix). [[replicaInvariantViolations]]
    * counts offenders on the source so the artifact carries the check.
    */
  private def replicateDocs(src: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { i =>
      val rot = src
        .withColumn("doc_id", col("doc_id") + lit(i * Block))
        .withColumn("text", translate(col("text"),
          Lower + Upper, shifted(Lower, i % 26) + shifted(Upper, i % 26)))
      if (i < 26) rot
      else rot.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", "$1~" + (i / 26)))
    }.reduce(_ unionByName _)

  /** Docs whose text breaks [[replicateDocs]]'s disjoint-copies df
    * invariant: a whitespace token with no letter (rotation-invariant)
    * or containing '~' (group-suffix collision). Zero on the bundled
    * sf0.1 corpus; counted into the artifact so a future corpus that
    * violates it is self-flagging instead of silently inflating dfs.
    */
  private def replicaInvariantViolations(src: DataFrame): Long =
    src.filter(col("text").rlike("(^|\\s)[^A-Za-z\\s]+(\\s|$)") ||
      col("text").contains("~")).count()

  /** `factor` disjoint-id (and for text, letter-rotated) replicas. */
  private def replicate(src: DataFrame, factor: Int,
      idCols: Seq[String], textCols: Seq[String]): DataFrame =
    (0 until factor).map { i =>
      val withIds = idCols.foldLeft(src)((df, c) =>
        df.withColumn(c, col(c) + lit(i * Block)))
      textCols.foldLeft(withIds)((df, c) =>
        df.withColumn(c, translate(col(c),
          Lower + Upper, shifted(Lower, i) + shifted(Upper, i))))
    }.reduce(_ unionByName _)

  private def buildDerived(spark: SparkSession, srcDir: String,
      outDir: String): Unit = {
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    write(replicate(Tables.documents(spark, srcDir), Factor,
      Seq("doc_id"), Seq("text")), "documents")
    write(replicate(Tables.embeddings(spark, srcDir), Factor,
      Seq("vec_id"), Seq.empty), "embeddings")
    // the graph families read only the join/node keys — keep the
    // derived lineitem narrow rather than clone TPC-H's widest table
    write(replicate(Tables.lineitem(spark, srcDir)
      .select("l_orderkey", "l_suppkey"), Factor,
      Seq("l_orderkey", "l_suppkey"), Seq.empty), "lineitem")
    write(replicate(Tables.orders(spark, srcDir)
      .select("o_orderkey", "o_custkey"), Factor,
      Seq("o_orderkey", "o_custkey"), Seq.empty), "orders")
  }

  /** Prior run's numbers from the committed SCALEUP.json, flattened to
    * dotted paths ("families.graph_pagerank.sf1_sec" -> 6.1) — the
    * reference for the prior-value retime rule. Empty when
    * absent/unparseable.
    */
  private def flattenPrior(path: String): Map[String, Double] =
    try {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = mapper.readTree(java.nio.file.Files.readAllBytes(p))
        val b = Map.newBuilder[String, Double]
        def walk(prefix: String,
            n: com.fasterxml.jackson.databind.JsonNode): Unit =
          if (n.isObject) {
            val it = n.fields()
            while (it.hasNext) {
              val e = it.next()
              walk(if (prefix.isEmpty) e.getKey
                else prefix + "." + e.getKey, e.getValue)
            }
          } else if (n.isNumber) b += prefix -> n.asDouble()
        walk("", root)
        b.result()
      }
    } catch { case _: Throwable => Map.empty }

  /** [[Bench]]'s immune system, per ScaleBench probe: every window
    * records its external-CPU cores; a RE-RUNNABLE probe that saw
    * > `extGate` external cores OR ran > `priorGate` x its own
    * prior-run figure (and > 0.5 s above it — sub-second probes
    * otherwise retime on noise) is re-run once, both timings recorded,
    * headline = min. Cache fills and store-mutating probes use
    * [[timeNoRetime]] — a rerun would measure the cache or corrupt the
    * store — and carry the external-CPU annotation only.
    */
  private final class GuardedTimer(prior: Map[String, Double],
      extGate: Double, priorGate: Double, ioGate: Double,
      stealGate: Double) {
    val retimed =
      scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    val extCpu = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val ioWait = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // host steal per probe (guest-VM contention — the HOST's neighbors,
    // not a local process; separated from extCpu so "the builder ran
    // something concurrently" and "the host was contended" stay
    // distinguishable in the artifact)
    val stolen = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // per-probe GC seconds (delta across the window): a 48 GB heap can
    // hide multi-second collections that neither /proc counter sees —
    // the gc map attributes a retime pair's delta to collection
    // pressure vs disk vs neighbors
    val gcSec = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    private def measured(key: String)(thunk: => Unit)
        : (Double, Double, Double, Double) = {
      val g0 = BenchGuard.gcMillis()
      val (s, ext, iow, stl) = BenchGuard.timedExt(thunk)
      extCpu(key) = ext
      ioWait(key) = iow
      stolen(key) = stl
      gcSec(key) = (BenchGuard.gcMillis() - g0) / 1000.0
      (s, ext, iow, stl)
    }

    def timeNoRetime(key: String)(thunk: => Unit): Double = {
      val (s, ext, iow, stl) = measured(key)(thunk)
      if (ext > extGate || iow > ioGate || stl > stealGate)
        System.err.println(f"[scale] $key at $s%.2fs saw $ext%.2f external" +
          f" / $iow%.2f iowait / $stl%.2f stolen cores (probe not" +
          " re-runnable — annotated, not retimed)")
      s
    }

    def time(key: String)(thunk: => Unit): Double = {
      val (s, ext, iow, stl) = measured(key)(thunk)
      val priorBad = prior.get(key)
        .exists(p => p > 0 && s > priorGate * p && s - p > 0.5)
      if (ext > extGate || iow > ioGate || stl > stealGate || priorBad) {
        val why = if (ext > extGate) f"$ext%.2f external cores"
          else if (iow > ioGate) f"$iow%.2f cores in iowait"
          else if (stl > stealGate) f"$stl%.2f cores stolen by the host"
          else f"${s / prior(key)}%.1fx its prior ${prior(key)}%.2fs"
        System.err.println(f"[scale] $key at $s%.2fs saw $why — retiming")
        // a throwing retry (the box is already misbehaving when a
        // retime triggers) must not abort the multi-hour run: keep the
        // first timing, record the failed retry as -1 (Bench's rule)
        try {
          val (s2, _, _, _) = BenchGuard.timedExt(thunk)
          retimed(key) = (s, s2)
          math.min(s, s2)
        } catch { case _: Throwable => retimed(key) = (s, -1.0); s }
      } else s
    }

    /** Ratio fairness: a retime is a WARM second run, so a two-leg
      * ratio whose legs retimed asymmetrically mixes warmths (the
      * committed c4 sf01 [33.4 -> 17.0] halved while sf1 kept its first
      * run, inflating the ratio ~2x). When one leg of a pair retimed
      * and the other didn't, the caller gives the other leg its warm
      * run too via this: re-run unconditionally, record the pair,
      * headline = min (the same rule `time` applies). A throwing rerun
      * records (prev, -1) — never silent — and keeps the first timing.
      */
    def forceRetime(key: String, prevSecs: Double)(thunk: => Unit): Double = {
      try {
        val (s2, ext, iow, stl) = BenchGuard.timedExt(thunk)
        extCpu(key + ".fair") = ext; ioWait(key + ".fair") = iow
        stolen(key + ".fair") = stl
        retimed(key) = (prevSecs, s2)
        math.min(prevSecs, s2)
      } catch { case _: Throwable =>
        retimed(key) = (prevSecs, -1.0); prevSecs
      }
    }

    /** A leg counts as (successfully) retimed only when its warm rerun
      * actually landed — a failed retry (recorded (s, -1)) left the leg
      * COLD, and pairing against it would invert the warmth mix the
      * fairness rule exists to fix.
      */
    def wasRetimed(key: String): Boolean =
      retimed.get(key).exists(_._2 >= 0)

    /** The two-leg fair measurement every scale RATIO should use: time
      * both legs through the gated `time`, then — if exactly one leg
      * got a (successful) warm retime — give the other leg its warm run
      * too. Lives on the timer so the rule has ONE implementation.
      */
    def timePair(keyA: String, thunkA: => Unit,
        keyB: String, thunkB: => Unit): (Double, Double) = {
      var a = time(keyA)(thunkA)
      var b = time(keyB)(thunkB)
      if (wasRetimed(keyA) && !wasRetimed(keyB))
        b = forceRetime(keyB, b)(thunkB)
      else if (wasRetimed(keyB) && !wasRetimed(keyA))
        a = forceRetime(keyA, a)(thunkA)
      (a, b)
    }

    def extJson: String = extCpu
      .map { case (k, v) => s"${jstr(k)}:${jnum(v)}" }.mkString("{", ",", "}")
    def ioJson: String = ioWait
      .map { case (k, v) => s"${jstr(k)}:${jnum(v)}" }.mkString("{", ",", "}")
    def stealJson: String = stolen
      .map { case (k, v) => s"${jstr(k)}:${jnum(v)}" }.mkString("{", ",", "}")
    def gcJson: String = gcSec
      .map { case (k, v) => s"${jstr(k)}:${jnum(v)}" }.mkString("{", ",", "}")
    def retimedJson: String = retimed
      .map { case (k, (a, b)) => s"${jstr(k)}:[${jnum(a)},${jnum(b)}]" }
      .mkString("{", ",", "}")
  }

  /** The families measured, mirroring the r13 verdict's list, plus the
    * banded-LSH contrast for the quadratic brute-force baseline.
    * `dedup_prefix_jaccard` (t=0.5) now exercises the THRESHOLD GATE
    * (r16 verdict item 2: it dispatches to the plain inverted join
    * below the crossover — its ratio should match dedup_ngram_jaccard's
    * now); `dedup_prefix_jaccard_hi` (t=0.8) measures the prefix plan
    * in its own regime.
    */
  private val Families = Seq("c4_end_to_end", "dedup_prefix_jaccard",
    "dedup_prefix_jaccard_hi",
    "dedup_ngram_jaccard", "graph_pagerank", "bpe_encode_tokens",
    "ann_incremental_topk", "ann_lsh_banded_topk",
    // r15 families: the bloom decontamination chain over the 10x corpus
    // and the fixed-count shard deal (the two-phase bucketed rank)
    "decontaminate_bloom", "corpus_shards")

  /** The INGEST-PATH scale-up datapoint (r14 verdict ask #4): the
    * relational families above measure query cost vs corpus size; this
    * measures what a CONTINUOUS-INGESTION deployment cares about — the
    * cost of ONE fixed-size batch against a store built from a 1x vs a
    * 10x (and, in the second-decade section, 100x) corpus. The
    * O(batch + collisions) claim predicts near-flat probe cost;
    * [[graft.operators.IncrementalBoilerplate.compact]] is
    * corpus-proportional BY DESIGN (it rewrites the folded base) and is
    * reported as such — its cost amortizes over the grace window, not
    * per batch.
    *
    * The probe batch is the same 500 documents at every scale (fresh
    * ids far above every replica block): its text exists ONCE in each
    * store (the replicas are letter-rotated/suffixed, sharing no
    * shingles), so collision volume is held constant and the
    * measurement isolates store-size dependence. Probes mutate the
    * store, so they ride [[GuardedTimer.timeNoRetime]] (external-CPU
    * annotated, not re-run).
    */
  private def ingestProbe(spark: SparkSession, docs: DataFrame,
      probe: DataFrame, probe2: DataFrame, base: String, timer: GuardedTimer,
      keyPrefix: String, batchRows: Int = 2500): Map[String, Double] = {
    import graft.operators.{IncrementalBoilerplate, IncrementalDedup}
    val d = docs.localCheckpoint(false)
    val n = d.count()
    val setupBatches = math.max(1L, (n + batchRows - 1) / batchRows).toInt
    var setupSec = 0.0
    // MINOR cadence during construction (r19 verdict item 3): without
    // it the x100 store reaches the probes with a 40-delta uncompacted
    // tail — the pre-minor fold then pays a tail that GROWS with the
    // decade (fold_read 2.54x/decade at x100) instead of the bounded
    // <= MinorEvery dirs a continuously-deployed store carries at any
    // scale. The cadence is store construction, so it rides setup_sec;
    // the measured tail bound rides the artifact as *_delta_dirs.
    val MinorEvery = 8
    (0 until setupBatches).foreach { i =>
      val b = d.filter(pmod(col("doc_id"), lit(setupBatches)) === i)
      setupSec += timer.timeNoRetime(s"$keyPrefix.setup_batch_$i") {
        IncrementalDedup.ingestBatch(b, s"$base/sigs", i.toLong).count()
        IncrementalBoilerplate.updateStore(s"$base/unitdf", i.toLong, b)
        if ((i + 1) % MinorEvery == 0 && i + 1 < setupBatches) {
          IncrementalDedup.compactMinorStores(spark, s"$base/sigs",
            targetRowsPerBucket = 256L)
          IncrementalBoilerplate.compactMinor(spark, s"$base/unitdf",
            targetRowsPerBucket = 256L)
        }
      }
    }
    // setup batches are store construction, not the datapoint — drop
    // their per-batch ext/iowait entries, keep one aggregate each
    val setupExt = (0 until setupBatches).map(i =>
      timer.extCpu.remove(s"$keyPrefix.setup_batch_$i").getOrElse(0.0)).max
    timer.extCpu(s"$keyPrefix.setup_sec") = setupExt
    val setupIo = (0 until setupBatches).map(i =>
      timer.ioWait.remove(s"$keyPrefix.setup_batch_$i").getOrElse(0.0)).max
    timer.ioWait(s"$keyPrefix.setup_sec") = setupIo
    val setupSteal = (0 until setupBatches).map(i =>
      timer.stolen.remove(s"$keyPrefix.setup_batch_$i").getOrElse(0.0)).max
    timer.stolen(s"$keyPrefix.setup_sec") = setupSteal
    val setupGc = (0 until setupBatches).map(i =>
      timer.gcSec.remove(s"$keyPrefix.setup_batch_$i").getOrElse(0.0)).sum
    timer.gcSec(s"$keyPrefix.setup_sec") = setupGc
    // the sig/band-index compaction cadence (corpus-proportional BY
    // DESIGN, amortized over the grace window like compact_sec): grows
    // both stores' bucket counts to ~256 rows/bucket so the probe below
    // measures the post-compaction steady state — the state a
    // continuously-compacted deployment is in almost always
    val sigCompact = timer.timeNoRetime(s"$keyPrefix.sig_compact_sec") {
      IncrementalDedup.compactStores(spark, s"$base/sigs",
        targetRowsPerBucket = 256L)
    }
    val probeIngest = timer.timeNoRetime(s"$keyPrefix.probe_ingest_sec") {
      IncrementalDedup.ingestBatch(probe, s"$base/sigs", 900L).count()
    }
    val probeBoiler = timer.timeNoRetime(s"$keyPrefix.probe_boilerplate_sec") {
      IncrementalBoilerplate.updateStore(s"$base/unitdf", 900L, probe)
    }
    // fold_read split into PLAN (delta/base dir listing) vs READ (the
    // full-relation fold itself, corpus-proportional by design) so the
    // artifact names which term grows (r18 verdict item 1)
    var foldRows = 0L
    val foldPlan = timer.time(s"$keyPrefix.fold_plan_sec") {
      IncrementalBoilerplate.readUnitDf(spark, s"$base/unitdf").get
    }
    val foldRead = timer.time(s"$keyPrefix.fold_read_sec") {
      foldRows = IncrementalBoilerplate.readUnitDf(spark, s"$base/unitdf")
        .get.count()
      foldRows
    }
    // compact buckets the base by unit hash with a corpus-SCALED count
    // (targetRowsPerBucket chosen small so the scaling law is visible
    // at toy corpus sizes; production uses the 4096 default)
    val compactSec = timer.timeNoRetime(s"$keyPrefix.compact_sec") {
      IncrementalBoilerplate.compact(spark, s"$base/unitdf",
        targetRowsPerBucket = 256L)
    }
    // the per-batch LOOKUP datapoint (r17 verdict item 4): a fixed
    // 50-doc batch cleaned against the bucketed store — the base read
    // prunes to the batch's unit buckets, so this should stay ~flat per
    // decade while fold_read (the whole-relation fold) stays
    // corpus-proportional by design
    val probe50 = probe.filter(col("doc_id") % 100 === 0)
    val cleanSec = timer.time(s"$keyPrefix.clean_probe_sec") {
      IncrementalBoilerplate.cleanAgainstStore(probe50, s"$base/unitdf",
        minDocFreq = 2).count()
    }
    // r19 LSM datapoints: the cadence MINOR ([[DeltaLog.compactMinor]])
    // folds the probe batch's deltas into one L1 run per log at O(rows
    // since the major) — these two must stay ~flat per decade at a
    // fixed batch, unlike the corpus-proportional majors above; then
    // the probe paths re-run through the three-level base+L1+tail
    // layout (same answers, near-same cost), and the growth trigger's
    // marker-read decision is timed and recorded (it must NOT fire for
    // a 500-doc run against these bases — majors move to growth, not
    // cadence).
    val sigMinor = timer.timeNoRetime(s"$keyPrefix.sig_minor_sec") {
      IncrementalDedup.compactMinorStores(spark, s"$base/sigs",
        targetRowsPerBucket = 256L)
    }
    val unitMinor = timer.timeNoRetime(s"$keyPrefix.unitdf_minor_sec") {
      IncrementalBoilerplate.compactMinor(spark, s"$base/unitdf",
        targetRowsPerBucket = 256L)
    }
    // the post-minor datapoint uses a DISJOINT second 500-doc probe
    // (ADVICE r19): re-ingesting batch 900's docs would measure a
    // re-delivery-shaped ingest (overlapping ids, batch-sig-wins
    // anti-join, self-pair filtering), not a fresh-batch ingest —
    // probe2's docs are different source rows under their own id
    // block, so its collision profile matches probe's pre-ingest state
    val probeIngest2 = timer.timeNoRetime(
      s"$keyPrefix.probe_ingest_post_minor_sec") {
      IncrementalDedup.ingestBatch(probe2, s"$base/sigs", 901L).count()
    }
    val cleanSec2 = timer.time(s"$keyPrefix.clean_probe_post_minor_sec") {
      IncrementalBoilerplate.cleanAgainstStore(probe50, s"$base/unitdf",
        minDocFreq = 2).count()
    }
    import graft.operators.DeltaLog
    def l1Rows(dir: String): Double = {
      val b = DeltaLog.newestCommitted(spark, s"$dir/base", "upto=")
      DeltaLog.newestRunAbove(spark, dir, b)
        .flatMap { case (_, p) => DeltaLog.markerAt(spark, p).flatMap(_._2) }
        .getOrElse(0L).toDouble
    }
    val sigL1 = l1Rows(s"$base/sigs/slog")
    val unitL1 = l1Rows(s"$base/unitdf")
    var majorFired = false
    val maybeMajor = timer.timeNoRetime(s"$keyPrefix.maybe_major_sec") {
      majorFired = IncrementalDedup.maybeCompactStores(spark,
        s"$base/sigs", targetRowsPerBucket = 256L)
    }
    // per-phase attribution (r18 verdict item 1): bucket counts, delta
    // dirs, and relation sizes alongside the timings, so a growing term
    // is NAMED by the artifact rather than inferred
    import graft.operators.DeltaLog
    def buckets(dir: String): Double =
      DeltaLog.readBucketCount(spark, dir).getOrElse(0).toDouble
    val unitBase = s"$base/unitdf"
    val fs = new org.apache.hadoop.fs.Path(unitBase)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dirCount(p: String, prefix: String): Double =
      (try fs.listStatus(new org.apache.hadoop.fs.Path(p)).toSeq
      catch { case _: Throwable => Seq.empty })
        .count(_.getPath.getName.startsWith(prefix)).toDouble
    Map("docs" -> n.toDouble, "setup_batches" -> setupBatches.toDouble,
      "setup_sec" -> setupSec, "setup_sec_per_batch" -> setupSec / setupBatches,
      "sig_compact_sec" -> sigCompact,
      "probe_ingest_sec" -> probeIngest,
      "probe_boilerplate_sec" -> probeBoiler,
      "fold_plan_sec" -> foldPlan,
      "fold_read_sec" -> foldRead, "compact_sec" -> compactSec,
      "clean_probe_sec" -> cleanSec,
      "sig_minor_sec" -> sigMinor,
      "unitdf_minor_sec" -> unitMinor,
      "probe_ingest_post_minor_sec" -> probeIngest2,
      "clean_probe_post_minor_sec" -> cleanSec2,
      "sig_l1_rows" -> sigL1, "unitdf_l1_rows" -> unitL1,
      "maybe_major_sec" -> maybeMajor,
      "maybe_major_fired" -> (if (majorFired) 1.0 else 0.0),
      "fold_rows" -> foldRows.toDouble,
      "sig_buckets" -> buckets(s"$base/sigs/slog"),
      "bands_buckets" -> buckets(s"$base/sigs/blog"),
      "sig_delta_dirs" -> dirCount(s"$base/sigs/slog/delta", "batch="),
      "bands_delta_dirs" -> dirCount(s"$base/sigs/blog/delta", "batch="),
      "unitdf_buckets" -> buckets(unitBase),
      "unitdf_delta_dirs" -> dirCount(s"$unitBase/delta", "batch="))
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1)
      .getOrElse("/root/repo/target/scaleup/sf1_derived")
    val jsonPath = args.lift(2).getOrElse("/root/repo/SCALEUP.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    // quiet-start gate + co-resident JVM scan (r16 verdict item 6: both
    // contamination incidents were a concurrent sbt JVM); survivors are
    // recorded in the artifact, never silent
    val loadGate = sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE", "1.0").toDouble
    val loadWaitCap =
      sys.env.getOrElse("SPARK_GRAFT_LOAD_WAIT_CAP_SEC", "600").toInt
    val (loadWaitSec, loadAtStart, coResident, dirtyAtStart, stealAtStart) =
      BenchGuard.quietGate("scale", loadGate, loadWaitCap,
        dirtyGateMb =
          sys.env.getOrElse("SPARK_GRAFT_DIRTY_GATE_MB", "256").toDouble,
        stealGate =
          sys.env.getOrElse("SPARK_GRAFT_STEAL_GATE", "2.0").toDouble)
    if (coResident.nonEmpty)
      System.err.println(s"[scale] WARNING: proceeding with " +
        s"${coResident.size} co-resident JVM(s) alive — artifact annotated")

    val extGate = sys.env.getOrElse("SPARK_GRAFT_EXT_CPU_GATE", "0.75").toDouble
    val priorGate = sys.env.getOrElse("SPARK_GRAFT_PRIOR_GATE", "2.0").toDouble
    val ioGate = sys.env.getOrElse("SPARK_GRAFT_IOWAIT_GATE", "4.0").toDouble
    val stealGate = sys.env.getOrElse("SPARK_GRAFT_STEAL_GATE", "2.0").toDouble
    val timer = new GuardedTimer(flattenPrior(jsonPath), extGate, priorGate,
      ioGate, stealGate)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // local[*] on a local fs: partition/root discovery is faster on
      // the driver than as a distributed listing job (measured 3.6 s ->
      // 1.3 s for a 2000-root pruned read); a real cluster on an object
      // store keeps the default threshold and lists in parallel
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", 16384)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Tables.configure(spark)
    spark.sparkContext.setLogLevel("WARN")

    if (!new java.io.File(s"$outDir/documents.parquet/_SUCCESS").exists()) {
      System.err.println(s"[scale] building ${Factor}x derived corpus at $outDir")
      buildDerived(spark, srcDir, outDir)
    }
    val rows = Seq("documents", "embeddings", "lineitem", "orders")
      .map(t => t -> spark.read.parquet(s"$outDir/$t.parquet").count()).toMap

    // one small warm pass so neither scale's first family absorbs
    // codegen init (the Bench warmup discipline)
    val warmDir = "/root/testdata/sf0.001"
    Seq("dedup_ngram_jaccard", "graph_pagerank", "ann_lsh_banded_topk")
      .foreach(q => try SparkEntry.queries(q)(spark, warmDir).count()
        catch { case _: Throwable => () })

    // graph prep tracked separately at each scale (the Bench
    // accounting), so graph_pagerank measures the recurrence both
    // times. The thunk EVICTS the shared co-purchase cache first, so a
    // retime rebuilds for real instead of measuring the cache — the
    // r16-contaminated row had no honest retime path for exactly this
    // reason.
    def prepThunk(dir: String): Unit = {
      SparkEntry.copurchaseEvict(spark, dir)
      SparkEntry.copurchasePrepared(spark, dir).count()
    }
    val (prep01, prep1) = timer.timePair(
      "graph_prep.sf01_sec", prepThunk(srcDir),
      "graph_prep.sf1_sec", prepThunk(outDir))

    val fams = Families.map { name =>
      val q = SparkEntry.queries(name)
      val (s01, s1) = timer.timePair(
        s"families.$name.sf01_sec", q(spark, srcDir).count(),
        s"families.$name.sf1_sec", q(spark, outDir).count())
      System.err.println(f"[scale] $name: sf0.1 $s01%.2f s -> 10x $s1%.2f s" +
        f" (ratio ${s1 / s01}%.2f)")
      s""""$name":{"sf01_sec":${jnum(s01)},"sf1_sec":${jnum(s1)},"ratio":${jnum(s1 / s01)}}"""
    }

    // the shard deal at REAL row volume (the contract query's documents
    // table is only 50k rows at 10x — orders gives the two-phase rank
    // 150k -> 1.5M unique ids to deal into 64 shards)
    val shardDeal = try {
      def deal(dir: String): Unit =
        graft.operators.TrainShards.shardAssign(
          Tables.orders(spark, dir).select(col("o_orderkey")),
          idCol = "o_orderkey", numShards = 64).count()
      val (s01, s1) = timer.timePair(
        "shard_deal_orders.sf01_sec", deal(srcDir),
        "shard_deal_orders.sf1_sec", deal(outDir))
      System.err.println(f"[scale] shard_deal_orders: sf0.1 $s01%.2f s -> " +
        f"10x $s1%.2f s (ratio ${s1 / s01}%.2f)")
      s"""{"sf01_sec":${jnum(s01)},"sf1_sec":${jnum(s1)},"ratio":${jnum(s1 / s01)}}"""
    } catch { case e: Throwable =>
      s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
    }

    // ingest-path stores: one fixed 500-doc probe batch against a store
    // built from the 1x vs the 10x corpus (same probe text both times).
    // Probe ids sit at +100*Block — ABOVE every replica block of both
    // the 10x (blocks 0..9) and 100x (blocks 0..99) corpora; the
    // previous +9*Block collided with the 10x corpus's replica 9
    // (block [90M, 90M+105k]), making ~500 probe ids look like
    // re-ingests of existing keys rather than fresh docs.
    // built lazily INSIDE the first consuming try: a documents-table
    // failure must record an {"error": ...} for that section, not abort
    // the whole run before the artifact line is written
    lazy val probeDocs = Tables.documents(spark, srcDir)
      .filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100 * Block).as("doc_id"), col("text"))
      .localCheckpoint(false)
    // disjoint twin for the post-minor datapoint (ADVICE r19): different
    // source docs under their own id block, so the second ingest is a
    // genuinely fresh batch with the same collision profile
    lazy val probe2Docs = Tables.documents(spark, srcDir)
      .filter(col("doc_id") % 10 === 5)
      .select((col("doc_id") + 101 * Block).as("doc_id"), col("text"))
      .localCheckpoint(false)
    val ingest = try {
      val tmp = java.nio.file.Files.createTempDirectory("scale_ingest").toString
      val one = ingestProbe(spark, Tables.documents(spark, srcDir)
        .select("doc_id", "text"), probeDocs, probe2Docs, s"$tmp/x1", timer,
        "ingest.x1")
      val ten = ingestProbe(spark, Tables.documents(spark, outDir)
        .select("doc_id", "text"), probeDocs, probe2Docs, s"$tmp/x10", timer,
        "ingest.x10")
      def sec(m: Map[String, Double], k: String) = m.getOrElse(k, -1.0)
      def obj(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${jnum(v)}""" }.mkString("{", ",", "}")
      val keys = Seq("probe_ingest_sec", "probe_boilerplate_sec",
        "fold_plan_sec", "fold_read_sec", "compact_sec", "sig_compact_sec",
        "clean_probe_sec", "setup_sec_per_batch",
        "sig_minor_sec", "unitdf_minor_sec",
        "probe_ingest_post_minor_sec", "clean_probe_post_minor_sec")
      val ratios = keys.map(k =>
        s""""$k":${jnum(sec(ten, k) / sec(one, k))}""").mkString("{", ",", "}")
      keys.foreach { k =>
        System.err.println(f"[scale] ingest $k: 1x ${sec(one, k)}%.2f s -> " +
          f"10x ${sec(ten, k)}%.2f s (ratio ${sec(ten, k) / sec(one, k)}%.2f)")
      }
      s"""{"probe_docs":500,"x1":${obj(one)},"x10":${obj(ten)},"ratio_10x_over_1x":$ratios}"""
    } catch { case e: Throwable =>
      System.err.println(s"[scale] ingest probe FAILED — ${e.getMessage}")
      s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
    }

    // AUTO-SIZED BANDED ANN (r16, verdict item 3): the two families
    // SCALEUP r15 marked `weak` re-measured across THREE scales (1x =
    // the 2,000-vector bench corpus, 10x, 100x — embeddings replicate
    // under disjoint id blocks; vector content is irrelevant to cost)
    // with the corpus-sized rule bits = autoBandBits(n) (occupancy-
    // constant) and tables = autoBandTables(bits) (recall-constant),
    // against the fixed 4x16 default. The bench corpus is SMALL: at 2k
    // vectors the fixed default already sits at occupancy 0.03, so
    // wall-seconds at 1x/10x are query-count- and overhead-dominated
    // and the quadratic term only starts to bite at 100x (fixed
    // occupancy ~3). CANDIDATES PER QUERY is therefore reported
    // alongside seconds and planted recall: under fixed bits it grows
    // ~10x per decade (the n^2/2^b term); under the auto rule it stays
    // ~flat — the direct, deterministic evidence of the restored-linear
    // claim, with recall alongside so the restoration is visibly not
    // bought with retrieval quality. The incremental family is probed
    // with a FIXED 500-vector batch against prebuilt 1x/10x/100x
    // stores — the per-batch cost a continuous-ingestion deployment
    // pays, which the auto rule must hold ~flat.
    // 100x embeddings-only derived corpus (same replica discipline) —
    // ONE shared path: ann_auto builds it, semdedup reuses it
    val emb100Dir = new java.io.File(outDir).getParent + "/emb100"
    def emb100Built: Boolean =
      new java.io.File(s"$emb100Dir/embeddings.parquet/_SUCCESS").exists()
    val annAuto = try {
      import graft.operators.{IncrementalAnn, SimilaritySearch}
      if (!emb100Built) {
        System.err.println(s"[scale] building 100x embeddings at $emb100Dir")
        replicate(Tables.embeddings(spark, srcDir), 100,
          Seq("vec_id"), Seq.empty)
          .write.mode("overwrite").parquet(s"$emb100Dir/embeddings.parquet")
      }
      val scales = Seq("x1" -> srcDir, "x10" -> outDir, "x100" -> emb100Dir)
      // "retrieved ANY exact copy of the source": replicas carry the
      // SAME vectors under block-shifted ids, so at 10x/100x the
      // source's 9/99 identical copies tie it at equal cosine and
      // source-id-exact recall degenerates into a tie-break lottery
      // (measured: 0.093 ~ 10 of 100 tied copies at 100x). Any copy is
      // equally a true nearest neighbor; match modulo the replica
      // block (reduces to the exact test at 1x).
      def recallOf(df: DataFrame, nq: Long): Double =
        if (nq == 0) -1.0
        else df.filter(pmod(col("neighbor_id"), lit(Block)) ===
            pmod(col("query_id") - 900000L, lit(Block)))
          .select("query_id").distinct()
          .count().toDouble / nq
      // fixed probe batch: 500 fresh-id vectors far above every replica
      val probe = Tables.embeddings(spark, srcDir)
        .filter(col("vec_id") % 4 === 0)
        .select((col("vec_id") + 10000000000L).as("vec_id"), col("embedding"))
        .localCheckpoint(false)
      val nProbe = probe.count()

      val perScale = scales.map { case (tag, dir) =>
        val emb = Tables.embeddings(spark, dir).localCheckpoint(false)
        val n = emb.count()
        val planted = SimilaritySearch.plantedQueries(emb)
          .localCheckpoint(false)
        val nq = planted.count()
        val autoBits = SimilaritySearch.autoBandBits(n)
        val autoTabs = SimilaritySearch.autoBandTables(autoBits)
        def cfgJson(cfgTag: String, tables: Int, bits: Int): String = {
          val cand = SimilaritySearch.lshBandedCandidates(emb, planted,
            tables = tables, bitsPerTable = bits, multiProbe = true).count()
          var rec = -1.0
          val sec = timer.time(s"ann_auto.$tag.$cfgTag.banded_sec") {
            rec = recallOf(SimilaritySearch.lshBandedTopK(emb, planted,
              k = 10, tables = tables, bitsPerTable = bits,
              multiProbe = true), nq)
          }
          // incremental: the fixed probe batch vs a store of this
          // corpus (store-mutating, so annotated-not-retimed)
          val store = java.nio.file.Files
            .createTempDirectory(s"annstore_${tag}_$cfgTag").toString
          IncrementalAnn.upsertIndex(IncrementalAnn.indexRows(emb,
            tables = tables, bitsPerTable = bits), store, 0L)
          val incSec = timer.timeNoRetime(
              s"ann_auto.$tag.$cfgTag.incremental_probe_sec") {
            IncrementalAnn.ingestBatch(probe, store, 1L,
              k = 10, tables = tables, bitsPerTable = bits,
              multiProbe = true).count()
          }
          System.err.println(f"[scale] ann $tag $cfgTag (${tables}x$bits): " +
            f"banded $sec%.2f s, recall $rec%.3f, " +
            f"cand/query ${cand.toDouble / math.max(1, nq)}%.1f, " +
            f"incr probe $incSec%.2f s")
          s""""$cfgTag":{"tables":$tables,"bits":$bits,"banded_sec":${jnum(sec)},"recall":${jnum(rec)},"candidates":$cand,"cand_per_query":${jnum(cand.toDouble / math.max(1, nq))},"incremental_probe_sec":${jnum(incSec)}}"""
        }
        val fixedJ = cfgJson("fixed", 4, 16)
        val autoJ = cfgJson("auto", autoTabs, autoBits)
        s""""$tag":{"n":$n,"queries":$nq,$fixedJ,$autoJ}"""
      }
      s"""{"probe_docs":$nProbe,${perScale.mkString(",")}}"""
    } catch { case e: Throwable =>
      System.err.println(s"[scale] ann auto-sizing FAILED — ${e.getMessage}")
      s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
    }

    // SEMDEDUP K-SCALING (r17): Cluster.semanticNearDupPairs blocks its
    // candidate pairs on k-means cells, so the pair join costs
    // sum|cell|^2 ~ n^2/k — with FIXED k each decade of data is two
    // decades of pairs; the paper's rule (k grows with n,
    // Cluster.autoK holds expected cell size constant) restores
    // linearity. Measured the way ann_auto measures the banded rule:
    // 1x and 10x embeddings, fixed k=8 vs auto k, with the
    // deterministic cost driver (candidate pairs = sum of m*(m-1)/2
    // over the assignment's cells) recorded alongside seconds and the
    // found-pair count, so the reading doesn't depend on wall-clock
    // alone. Expected: fixed-k candidates ~100x per decade, auto-k
    // ~10x. (autoK(2000) = 8 = the fixed config, so x1 doubles as the
    // shared baseline.)
    val semDedup = try {
      import graft.operators.Cluster
      // x100 reuses the embeddings-only derived corpus the ann_auto
      // section built above (skipped if that build failed)
      val scales = Seq(("x1", srcDir), ("x10", outDir)) ++
        (if (emb100Built) Seq(("x100", emb100Dir)) else Seq.empty)
      val per = scales.map { case (tag, dir) =>
        val emb = Tables.embeddings(spark, dir).localCheckpoint(false)
        val n = emb.count()
        // exact candidate-pair count (sum m(m-1)/2 over the cells) —
        // the deterministic cost driver, computed from a given
        // materialized assignment (constant code size but O(n·k·d)
        // Lloyd work to BUILD — so the assignment is computed once per
        // (scale, k) inside the timed window and shared with this
        // count, never re-run untimed; ADVICE r17)
        def candPairsFrom(asg: DataFrame): Long =
          asg.groupBy(col("cluster")).agg(count(lit(1)).as("m"))
            .agg(coalesce(sum((col("m") * (col("m") - 1) / 2).cast("long")),
              lit(0L)).as("c"))
            .collect()(0).getLong(0)
        def assignment(k: Int): DataFrame =
          Cluster.kmeansAssignments(emb, "vec_id", "embedding",
            k = k, iters = 3).localCheckpoint(false)
        def cfgJson(cfgTag: String, k: Int, measurePairs: Boolean): String = {
          if (measurePairs) {
            var pairs = -1L
            var asg: DataFrame = null
            // timed window = assignment + pair join, the same total
            // work semanticNearDupPairs does in one lazy plan (the
            // checkpoint even saves the twice-in-plan assignment
            // recompute the self-joined side otherwise pays)
            val sec = timer.time(s"semdedup.$tag.$cfgTag.pairs_sec") {
              asg = assignment(k)
              pairs = Cluster.semanticNearDupPairsFromAssignments(emb, asg,
                "vec_id", "embedding", threshold = 0.9).count()
            }
            val cand = candPairsFrom(asg)
            System.err.println(f"[scale] semdedup $tag $cfgTag (k=$k): " +
              f"$sec%.2f s, cand pairs $cand, found $pairs")
            s""""$cfgTag":{"k":$k,"pairs_sec":${jnum(sec)},"cand_pairs":$cand,"pairs":$pairs}"""
          } else {
            // no silent caps: the fixed-k pair join at x100 is ~100x the
            // x10 cost by the n^2/k law — record the exact candidate
            // count that predicts it and say loudly that the join was
            // not run, rather than burning minutes proving a quadratic
            val cand = candPairsFrom(assignment(k))
            System.err.println(s"[scale] semdedup $tag $cfgTag (k=$k): " +
              s"pair join SKIPPED (quadratic at fixed k), cand pairs $cand")
            s""""$cfgTag":{"k":$k,"pairs_sec":-1,"cand_pairs":$cand,"pairs":-1,"skipped":"fixed-k pair join is quadratic; cand_pairs is the exact predicted join size"}"""
          }
        }
        val fixedJ = cfgJson("fixed", 8, measurePairs = tag != "x100")
        val autoK = Cluster.autoK(n)
        // at 1x autoK(2000) == 8 == fixed: reuse the measurement instead
        // of timing the byte-identical config twice
        val autoJ = if (autoK == 8) "\"auto\":" + fixedJ.stripPrefix("\"fixed\":")
          else cfgJson("auto", autoK, measurePairs = true)
        s""""$tag":{"n":$n,$fixedJ,$autoJ}"""
      }
      s"""{${per.mkString(",")}}"""
    } catch { case e: Throwable =>
      System.err.println(s"[scale] semdedup k-scaling FAILED — ${e.getMessage}")
      s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
    }

    // SECOND-DECADE DATAPOINT (r16, extended r17 per verdict item 4):
    // 10x AND 100x measured in THIS run so each ratio is same-machine/
    // same-warmth, across FIVE families plus the graph prep:
    //   - the inverted-index dedup families and the novelty scorer over
    //     100x documents (500k docs; replicateDocs keeps the workload
    //     exactly 100 disjoint copies — rotation x group suffix — so
    //     ratio_100_over_10 ~ 10 is the linear reading);
    //   - dedup_prefix_jaccard through the new threshold gate (dispatch
    //     to the plain plan) and dedup_prefix_jaccard_hi (the prefix
    //     plan at t=0.8, its own regime);
    //   - graph_pagerank over 100x edges (6M lineitem rows -> 60M);
    //   - the fixed 500-doc ingest probe vs a store built from the 10x
    //     vs the 100x corpus (setup batches sized up so construction
    //     stays bounded; the PROBE is the datapoint).
    val secondDecade = try {
      val parent = new java.io.File(outDir).getParent
      val docs100Dir = parent + "/docs100"
      val graph100Dir = parent + "/graph100"
      val srcDocs = Tables.documents(spark, srcDir)
      val invariantViolations = replicaInvariantViolations(srcDocs)
      if (invariantViolations > 0)
        System.err.println(s"[scale] WARNING: $invariantViolations docs " +
          "violate the replica df invariant (letterless or '~' tokens) — " +
          "100x dfs are partially cloning artifacts")
      if (!new java.io.File(s"$docs100Dir/documents.parquet/_SUCCESS")
          .exists()) {
        System.err.println(s"[scale] building 100x documents at $docs100Dir")
        replicateDocs(srcDocs, 100)
          .write.mode("overwrite").parquet(s"$docs100Dir/documents.parquet")
      }
      if (!new java.io.File(s"$graph100Dir/orders.parquet/_SUCCESS")
          .exists()) {
        System.err.println(s"[scale] building 100x graph at $graph100Dir")
        replicate(Tables.lineitem(spark, srcDir)
          .select("l_orderkey", "l_suppkey"), 100,
          Seq("l_orderkey", "l_suppkey"), Seq.empty)
          .write.mode("overwrite").parquet(s"$graph100Dir/lineitem.parquet")
        replicate(Tables.orders(spark, srcDir)
          .select("o_orderkey", "o_custkey"), 100,
          Seq("o_orderkey", "o_custkey"), Seq.empty)
          .write.mode("overwrite").parquet(s"$graph100Dir/orders.parquet")
      }
      // dsir families ride the same per-decade measurement (r17 verdict
      // item 6: the bigram variant doubles explode width — its decade
      // ratio is the empirical form of the "explode-proportional, not
      // superlinear" claim)
      // each family INDIVIDUALLY guarded (r19: one OOM under host
      // memory pressure must cost one row, not the whole section —
      // the ingest/media/topology legs below were lost to a graph-prep
      // OOM exactly once)
      val docFams = Seq("dedup_ngram_jaccard", "dedup_prefix_jaccard",
        "dedup_prefix_jaccard_hi", "doc_ngram_novelty",
        "dsir_log_weights_bigrams", "dsir_resampled").map { name =>
        try {
          val q = SparkEntry.queries(name)
          val (s10, s100) = timer.timePair(
            s"second_decade.$name.x10_sec", q(spark, outDir).count(),
            s"second_decade.$name.x100_sec", q(spark, docs100Dir).count())
          System.err.println(f"[scale] $name: 10x $s10%.2f s -> 100x " +
            f"$s100%.2f s (ratio ${s100 / s10}%.2f)")
          s""""$name":{"x10_sec":${jnum(s10)},"x100_sec":${jnum(s100)},"ratio_100_over_10":${jnum(s100 / s10)}}"""
        } catch { case e: Throwable =>
          System.err.println(s"[scale] decade $name FAILED — ${e.getMessage}")
          s""""$name":{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
        }
      }
      // graph: prep (cache fill, evict-first so it's re-runnable) and
      // the pagerank recurrence, 10x vs 100x edges
      // interleave order note: both legs of each pair ride timePair so
      // neither ratio can mix a warm retime with a cold first run (the
      // r17 committed pagerank 17.3x per decade was exactly that)
      val graphJ = try {
      val (gp10, gp100) = timer.timePair(
        "second_decade.graph_prep.x10_sec", prepThunk(outDir),
        "second_decade.graph_prep.x100_sec", prepThunk(graph100Dir))
      val (gr10, gr100) = timer.timePair(
        "second_decade.graph_pagerank.x10_sec",
        SparkEntry.queries("graph_pagerank")(spark, outDir).count(),
        "second_decade.graph_pagerank.x100_sec",
        SparkEntry.queries("graph_pagerank")(spark, graph100Dir).count())
      System.err.println(f"[scale] graph_prep: 10x $gp10%.2f s -> 100x " +
        f"$gp100%.2f s (ratio ${gp100 / gp10}%.2f); pagerank 10x " +
        f"$gr10%.2f s -> 100x $gr100%.2f s (ratio ${gr100 / gr10}%.2f)")
      // PATH ATTRIBUTION (r17 verdict item 2): the default-gate decade
      // ratio above crosses the broadcast gate (10x nodes sit under
      // BroadcastRanksMaxNodes, 100x above), so it mixes two plans.
      // Record the node count and selected path per scale, and probe
      // BOTH paths explicitly at each scale — broadcast at 100x via a
      // raised 2M gate (~1.6M long node ids ≈ 13 MB of rank table, well
      // inside broadcast budget), shuffle at 10x via gate 0 — so the
      // decade shift is explained by recorded per-path timings, not
      // inferred from the gate's arithmetic.
      import graft.operators.PageRank
      def nodesOf(dir: String): Long = SparkEntry.copurchasePrepared(
        spark, dir).select("src").distinct().count()
      val (nodes10, nodes100) = (nodesOf(outDir), nodesOf(graph100Dir))
      val gate = PageRank.BroadcastRanksMaxNodes
      def pathOf(n: Long): String = if (n <= gate) "broadcast" else "shuffle"
      def gated(dir: String, g: Long): Unit =
        PageRank.ranksPreparedGated(SparkEntry.copurchasePrepared(spark, dir),
          iters = 3, scale = PageRank.DefaultScale, broadcastGate = g).count()
      val (sh10, bc100) = timer.timePair(
        "second_decade.graph_pagerank.x10_shuffle_sec", gated(outDir, 0L),
        "second_decade.graph_pagerank.x100_broadcast_sec",
        gated(graph100Dir, 2000000L))
      val sh100 = timer.time(
        "second_decade.graph_pagerank.x100_shuffle_sec")(
        gated(graph100Dir, 0L))
      System.err.println(f"[scale] pagerank paths: x10 ${pathOf(nodes10)} " +
        f"(default) $gr10%.2f s / shuffle $sh10%.2f s; x100 " +
        f"${pathOf(nodes100)} (default) $gr100%.2f s / broadcast@2M " +
        f"$bc100%.2f s / shuffle $sh100%.2f s — per-path decade ratios: " +
        f"shuffle ${sh100 / sh10}%.2f, broadcast ${bc100 / gr10}%.2f")
      val pathsJ =
        s""""graph_pagerank_paths":{"gate_default":$gate,"x10":{"nodes":$nodes10,"default_path":"${pathOf(nodes10)}","default_sec":${jnum(gr10)},"shuffle_sec":${jnum(sh10)}},"x100":{"nodes":$nodes100,"default_path":"${pathOf(nodes100)}","default_sec":${jnum(gr100)},"broadcast_gate_used":2000000,"broadcast_sec":${jnum(bc100)},"shuffle_sec":${jnum(sh100)}},"ratio_100_over_10_shuffle":${jnum(sh100 / sh10)},"ratio_100_over_10_broadcast":${jnum(bc100 / gr10)}}"""
        s""""graph_prep":{"x10_sec":${jnum(gp10)},"x100_sec":${jnum(gp100)},"ratio_100_over_10":${jnum(gp100 / gp10)}},"graph_pagerank":{"x10_sec":${jnum(gr10)},"x100_sec":${jnum(gr100)},"ratio_100_over_10":${jnum(gr100 / gr10)}},$pathsJ"""
      } catch { case e: Throwable =>
        System.err.println(s"[scale] decade graph FAILED — ${e.getMessage}")
        s""""graph_prep":{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
      }
      // ingest probe vs a 10x and a 100x store, same 500-doc probe
      // (ids above block 99), setup batches sized to keep construction
      // bounded (12,500 docs/batch: 4 setup batches at 10x, 40 at 100x)
      val ingestJ = try {
        val tmp = java.nio.file.Files
          .createTempDirectory("scale_ingest_decade").toString
        val ten = ingestProbe(spark, Tables.documents(spark, outDir)
          .select("doc_id", "text"), probeDocs, probe2Docs, s"$tmp/x10",
          timer, "second_decade.ingest.x10", batchRows = 12500)
        val hundred = ingestProbe(spark,
          spark.read.parquet(s"$docs100Dir/documents.parquet")
            .select("doc_id", "text"), probeDocs, probe2Docs, s"$tmp/x100",
          timer, "second_decade.ingest.x100", batchRows = 12500)
        def sec(m: Map[String, Double], k: String) = m.getOrElse(k, -1.0)
        def obj(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":${jnum(v)}""" }.mkString("{", ",", "}")
        val keys = Seq("probe_ingest_sec", "probe_boilerplate_sec",
          "fold_plan_sec", "fold_read_sec", "compact_sec", "sig_compact_sec",
          "clean_probe_sec", "sig_minor_sec", "unitdf_minor_sec",
          "probe_ingest_post_minor_sec", "clean_probe_post_minor_sec")
        val ratios = keys.map(k =>
          s""""$k":${jnum(sec(hundred, k) / sec(ten, k))}""")
          .mkString("{", ",", "}")
        keys.foreach { k =>
          System.err.println(f"[scale] decade ingest $k: 10x " +
            f"${sec(ten, k)}%.2f s -> 100x ${sec(hundred, k)}%.2f s " +
            f"(ratio ${sec(hundred, k) / sec(ten, k)}%.2f)")
        }
        s""""ingest":{"probe_docs":500,"x10":${obj(ten)},"x100":${obj(hundred)},"ratio_100_over_10":$ratios}"""
      } catch { case e: Throwable =>
        System.err.println(s"[scale] decade ingest FAILED — ${e.getMessage}")
        s""""ingest":{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
      }
      // the dsir model-size pin (verdict item 6): the scores above are
      // explode-proportional BECAUSE the model stays a <= 256-row
      // broadcast at any corpus size — record the actual row count at
      // both decades so the claim is measured, not structural
      val dsirJ = try {
        def modelRows(docsDf: DataFrame): Long =
          graft.operators.Relevance.dsirModel(docsDf,
            isTarget = col("lang") === "en", buckets = 256,
            bigrams = true).count()
        val m10 = modelRows(Tables.documents(spark, outDir))
        val m100 = modelRows(
          spark.read.parquet(s"$docs100Dir/documents.parquet"))
        System.err.println(s"[scale] dsir model rows: 10x $m10, 100x $m100" +
          " (bound 256)")
        s""""dsir_model":{"buckets":256,"model_rows_x10":$m10,"model_rows_x100":$m100}"""
      } catch { case e: Throwable =>
        s""""dsir_model":{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
      }
      // MEDIA SECOND DECADE (verdict item 5): the phash/multimodal
      // ingest family probed the semdedup way — one FIXED 500-image
      // batch against stores built from the 10x vs 100x media corpus
      // (payload = UTF-8 text bytes; the letter rotation makes replica
      // hashes disjoint, so cross-replica dHash collisions stay at the
      // random-64-bit floor and collision volume is constant by
      // construction). The dHash block-join CANDIDATE count — the
      // deterministic cost driver, Σ over (block, byte) of
      // batch-count x corpus-count — rides alongside wall-time, and
      // the planted any-copy recall rides alongside both: every probe
      // payload equals its replica-0 source byte-for-byte, so a
      // hamming-0 partner exists at every scale and the probe's
      // retrieval quality is measurable, not assumed.
      val mediaJ = try {
        import graft.operators.{IncrementalDedup, IncrementalMultimodal, IncrementalPhash}
        import graft.sources.MediaColumns
        val probeMedia = MediaColumns.mediaFromDocuments(probeDocs)
          .localCheckpoint(false)
        val probePaired = probeDocs.select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"),
          col("text").as("caption")).localCheckpoint(false)
        val probeHashes = IncrementalPhash.phashes(probeMedia)
          .localCheckpoint(false)
        val nProbe = probeHashes.select("id").distinct().count()
        def blockCounts(df: DataFrame, cnt: String): DataFrame =
          df.select(explode(array((0 until 4).map(b =>
              struct(lit(b).as("block"), shiftright(col("h"), b * 16)
                .bitwiseAND(lit(0xFFFFL)).as("byte"))): _*)).as("bb"))
            .select(col("bb.block").as("block"), col("bb.byte").as("byte"))
            .groupBy("block", "byte").agg(count(lit(1)).as(cnt))
        val tmp = java.nio.file.Files
          .createTempDirectory("scale_media_decade").toString
        val per = Seq(
          ("x10", Tables.documents(spark, outDir)),
          ("x100", spark.read.parquet(s"$docs100Dir/documents.parquet")))
          .map { case (tag, docsDf) =>
            val corpus = MediaColumns.mediaFromDocuments(
              docsDf.select("doc_id", "text"))
            // store build is setup, not the datapoint (the corpus hash
            // relation is (id, 8-byte hash) — one upsert per store)
            val setupSec = timer.timeNoRetime(
                s"second_decade.media.$tag.setup_sec") {
              // ONE base dir: the image store feeds both the phash
              // probe and the composed multimodal probe (the composed
              // operator's own layout: base/phash + base/capsigs)
              IncrementalPhash.upsertHashes(
                IncrementalPhash.phashes(corpus), s"$tmp/$tag/mm/phash", 0L)
              IncrementalDedup.upsertSignatures(
                graft.operators.Dedup.minHashSignatures(
                  docsDf.select(col("doc_id"), col("text").as("caption")),
                  3, 16, idCol = "doc_id", textCol = "caption"),
                s"$tmp/$tag/mm/capsigs", 0L)
            }
            // exact block-join candidate volume for the probe batch,
            // from the same relations the timed join consumes (the
            // 4 x |batch| self-hits subtracted)
            val corpusHashes = IncrementalPhash.readHashes(spark,
              s"$tmp/$tag/mm/phash").get
            val uni = corpusHashes.unionByName(probeHashes
              .select("id", "h")).distinct()
            val cand = blockCounts(probeHashes, "bc")
              .join(blockCounts(uni, "uc"), Seq("block", "byte"))
              .agg(coalesce(sum(col("bc") * col("uc")), lit(0L)))
              .head().getLong(0) - 4L * nProbe
            var pairs: DataFrame = null
            val probeSec = timer.timeNoRetime(
                s"second_decade.media.$tag.phash_probe_sec") {
              pairs = IncrementalPhash.ingestBatch(probeMedia,
                s"$tmp/$tag/mm/phash", 900L)
              pairs.count()
            }
            val nPairs = pairs.count()
            // any-copy recall at hamming 0: probe ids sit above
            // 100*Block, their replica-0 copies below
            val found = pairs.filter(col("hamming") === 0 &&
                col("id_b") >= lit(100L * Block) &&
                col("id_a") < lit(100L * Block))
              .select("id_b").distinct().count()
            val recall = if (nProbe == 0) -1.0 else found.toDouble / nProbe
            // the cross-modal composition: same probe as (image,
            // caption) pairs against the phash + caption-signature
            // stores (image store shared with the phash probe above —
            // the composed operator's own layout)
            var mmPairs = -1L
            val mmSec = timer.timeNoRetime(
                s"second_decade.media.$tag.multimodal_probe_sec") {
              mmPairs = IncrementalMultimodal.ingestBatch(probePaired,
                s"$tmp/$tag/mm", 901L).count()
            }
            System.err.println(f"[scale] media $tag: setup $setupSec%.2f s," +
              f" phash probe $probeSec%.2f s ($cand cand, $nPairs pairs," +
              f" recall $recall%.3f), multimodal probe $mmSec%.2f s" +
              f" ($mmPairs pairs)")
            tag -> Map("setup_sec" -> setupSec.toString,
              "phash_probe_sec" -> probeSec.toString,
              "phash_candidates" -> cand.toString,
              "phash_pairs" -> nPairs.toString,
              "phash_recall" -> jnum(recall),
              "multimodal_probe_sec" -> mmSec.toString,
              "multimodal_pairs" -> mmPairs.toString)
          }.toMap
        def obj(m: Map[String, String]) = m.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
        def ratio(k: String): Double =
          per("x100")(k).toDouble / per("x10")(k).toDouble
        val ratios = Seq("phash_probe_sec", "phash_candidates",
          "multimodal_probe_sec")
          .map(k => s""""$k":${jnum(ratio(k))}""").mkString("{", ",", "}")
        s""""media":{"probe_images":$nProbe,"x10":${obj(per("x10"))},"x100":${obj(per("x100"))},"ratio_100_over_10":$ratios}"""
      } catch { case e: Throwable =>
        System.err.println(s"[scale] media decade FAILED — ${e.getMessage}")
        s""""media":{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
      }
      // TOPOLOGY SECOND DECADE (r18 verdict item 7; r19 items 1 and 6):
      // the two-hop concurrent topology at 100x the golden feed (946k
      // events). Each chunk's row now carries a PHASE BREAKDOWN — the
      // two hops' cumulative merge/flip/changelog milliseconds and
      // lease waits (KeyedUpsertSink.phaseMs), the matcher's state
      // commit ms, and the store's row/bucket counts, diffed at chunk
      // boundaries — so the r19 per-chunk decay (7.2k -> 2.8k ev/s as
      // the store grew to 3.79M rows) is ATTRIBUTED, not inferred.
      // Matcher-side phases run concurrently with the timed ingest
      // window; their per-chunk figures are wall-window diffs.
      //
      // MAINTENANCE under load (r19 item 6): when rows/bucket outgrows
      // 2x the target, the store is re-bucketed by a live
      // KeyedUpsertSink.compact — a MAJOR under the shared lease,
      // CONCURRENT with the matcher — and the chunk row records the
      // compaction and the lease waits around it, so "does maintenance
      // stall the pipeline" is a number, not a guess. Completions must
      // still equal golden x 100 — a throughput row with wrong output
      // is not data (and a mid-flight re-bucket makes each hop's next
      // upsert re-read the re-pinned bucket count under the lease).
      val topoJ = try {
        import graft.operators.KeyedUpsertSink
        import graft.streaming.{TripStore, TripTopology}
        import spark.implicits._
        implicit val ctx = spark.sqlContext
        val golden = GoldenFeed.wireJson(spark)
        val feed = (0 until 100).iterator.flatMap { i =>
          if (i == 0) golden.iterator
          else golden.iterator.map(
            _.replace("\"trip_id\":\"", s"""\"trip_id\":\"r$i~"""))
        }.toArray
        KeyedUpsertSink.leaseWaitMs.clear()
        KeyedUpsertSink.commitStatsClear()
        KeyedUpsertSink.phaseClear()
        // cumulative sums below walk recentProgress; keep the buffer
        // larger than any plausible trigger count for the run
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", 1000)
        val base = java.nio.file.Files
          .createTempDirectory("scale_topo_x100").toString
        val store = s"$base/store"
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[String]
        val chunks = 10
        val groups = feed.grouped(feed.length / chunks + 1).toSeq
        val ingest = TripTopology.ingestWriter(input.toDF(), store,
          s"$base/changes", s"$base/ckpt_i").start()
        val m = TripTopology.matcherWriter(spark, s"$base/changes",
          store, s"$base/ckpt_m", maxFilesPerTrigger = 256).start()
        case class Snap(lease: Map[String, Long], phase: Map[String, Long],
            matCommitMs: Long)
        def snap(): Snap = Snap(KeyedUpsertSink.leaseWaitSnapshot(),
          KeyedUpsertSink.phaseSnapshot(),
          m.recentProgress.iterator.flatMap(_.stateOperators)
            .map(_.commitTimeMs).sum)
        val perChunk = scala.collection.mutable.ArrayBuffer.empty[Double]
        val chunkRows = scala.collection.mutable.ArrayBuffer.empty[String]
        val TargetRowsPerBucket = 65536L
        var maintSec = 0.0
        val t0 = System.nanoTime()
        try {
          groups.zipWithIndex.foreach { case (c, i) =>
            val s0 = snap()
            val tc = System.nanoTime()
            input.addData(c); ingest.processAllAvailable()
            val chunkSec = (System.nanoTime() - tc) / 1e9
            perChunk += c.length / chunkSec
            val s1 = snap()
            def d(f: Snap => Map[String, Long], k: String): Double =
              (f(s1).getOrElse(k, 0L) - f(s0).getOrElse(k, 0L)) / 1000.0
            // store size (footer-only count) + maintenance, OUTSIDE the
            // timed ingest window; its cost is its own field
            val st = KeyedUpsertSink.readState(spark, store).get
            val rows = KeyedUpsertSink.readStore(spark, store).get.count()
            var compactSec = 0.0
            var bucketsAfter = st.numBuckets
            if (rows > 2L * TargetRowsPerBucket * st.numBuckets) {
              val nb = ((rows + TargetRowsPerBucket - 1) /
                TargetRowsPerBucket).toInt
              val tcp = System.nanoTime()
              KeyedUpsertSink.compact(spark, store, TripStore.Keys,
                newNumBuckets = nb)
              compactSec = (System.nanoTime() - tcp) / 1e9
              maintSec += compactSec
              bucketsAfter = nb
              System.err.println(f"[scale] topology x100 chunk $i: " +
                f"re-bucketed $rows rows ${st.numBuckets} -> $nb buckets " +
                f"in $compactSec%.1f s (matcher live)")
            }
            chunkRows += s"""{"chunk":$i,"events":${c.length},"sec":${jnum(chunkSec)},"events_per_sec":${jnum(c.length / chunkSec)},"ing_merge_sec":${jnum(d(_.phase, "merge:ing"))},"ing_flip_sec":${jnum(d(_.phase, "flip:ing"))},"changelog_sec":${jnum(d(_.phase, "changelog:ing"))},"mat_merge_sec":${jnum(d(_.phase, "merge:mat"))},"mat_flip_sec":${jnum(d(_.phase, "flip:mat"))},"lease_wait_ing_sec":${jnum(d(_.lease, "ing"))},"lease_wait_mat_sec":${jnum(d(_.lease, "mat"))},"mat_state_commit_ms":${s1.matCommitMs - s0.matCommitMs},"store_rows":$rows,"store_buckets":${st.numBuckets},"compact_sec":${jnum(compactSec)},"buckets_after":$bucketsAfter}"""
          }
          m.processAllAvailable()
        } finally { m.stop(); ingest.stop() }
        val secs = (System.nanoTime() - t0) / 1e9
        def stateOf(q: org.apache.spark.sql.streaming.StreamingQuery) = {
          val progs = q.recentProgress
          (progs.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum)
            .getOrElse(0L),
            progs.iterator.flatMap(_.stateOperators).map(_.commitTimeMs)
              .sum.toDouble)
        }
        val (matRows, matCumCommitMs) = stateOf(m)
        val waits = KeyedUpsertSink.leaseWaitSnapshot()
        val cstats = KeyedUpsertSink.commitStatsSnapshot()
        val completed = KeyedUpsertSink.readStore(spark, store).get
          .filter(col("sk").startsWith("COMPLETED#")).count()
        // The NAMED growing term, priced (r19 item 1): the copy-on-write
        // upsert rewrites every touched bucket, so per-batch cost is
        // min(store, touched_buckets x rows_per_bucket). The topology's
        // chunk-sized batches span every bucket — O(store) per chunk,
        // the decay above. The bound that holds at 100 TB is the OTHER
        // regime: a FIXED-size batch against a bucket-scaled store
        // touches only its own buckets. Price both: the same 500-item
        // batch re-upserted (content-identical under LWW) against the
        // store as the run left it, then against the store re-bucketed
        // to ~512 rows/bucket.
        val probeItems = KeyedUpsertSink.readStore(spark, store).get
          .filter(col("sk").startsWith("COMPLETED#")).limit(500)
          .localCheckpoint()
        def timeUpsert(id: Long): Double = {
          val tb = System.nanoTime()
          KeyedUpsertSink.upsertBatch(probeItems, store, TripStore.Keys,
            TripStore.OrderCol, id, versionWins = true, writerId = "probe")
          (System.nanoTime() - tb) / 1e9
        }
        val bucketsCoarse = KeyedUpsertSink.readState(spark, store)
          .get.numBuckets
        val coarseSec = timeUpsert(9000L)
        val rowsFinal = KeyedUpsertSink.readStore(spark, store).get.count()
        val nbFine = math.max(1L, rowsFinal / 512L).toInt
        KeyedUpsertSink.compact(spark, store, TripStore.Keys,
          newNumBuckets = nbFine)
        val fineSec = timeUpsert(9001L)
        System.err.println(f"[scale] topology x100: ${feed.length} events " +
          f"in $secs%.1f s (${feed.length / secs}%.0f ev/s), $completed " +
          f"completed; per-chunk ev/s ${perChunk.map(v => f"$v%.0f").mkString(",")}; " +
          f"bounded upsert: 500 items vs $rowsFinal rows — " +
          f"$bucketsCoarse buckets $coarseSec%.1f s -> $nbFine buckets " +
          f"$fineSec%.1f s")
        s""""topology":{"concurrent_x100":{"events":${feed.length},"chunks":$chunks,"elapsed_sec":${jnum(secs)},"maintenance_sec":${jnum(maintSec)},"events_per_sec":${jnum(feed.length / secs)},"completed":$completed,"per_chunk_events_per_sec":[${perChunk.map(jnum).mkString(",")}],"per_chunk":[${chunkRows.mkString(",")}],"lease_wait_sec":{"ing":${jnum(waits.getOrElse("ing", 0L) / 1000.0)},"mat":${jnum(waits.getOrElse("mat", 0L) / 1000.0)},"compact":${jnum(waits.getOrElse("compact", 0L) / 1000.0)}},"commit_stats":${cstats.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")},"state":{"mat_rows":$matRows,"mat_cum_commit_ms":${jnum(matCumCommitMs)}},"bounded_upsert":{"probe_items":500,"store_rows":$rowsFinal,"coarse_buckets":$bucketsCoarse,"coarse_sec":${jnum(coarseSec)},"fine_buckets":$nbFine,"fine_sec":${jnum(fineSec)}}}}"""
      } catch { case e: Throwable =>
        System.err.println(s"[scale] topology x100 FAILED — ${e.getMessage}")
        s""""topology":{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
      }
      // record the JVM heap: 100x in ONE JVM needs cluster-normal
      // per-core memory (the default 8g over 32 threads is 0.25g/core
      // — the 55M-row checkpointed shingle relation OOMs the harness,
      // not the plan). Rounded, not floored (ADVICE r16: maxMemory
      // reports slightly under -Xmx, so flooring records 48g as 47).
      val heapGb = (Runtime.getRuntime.maxMemory() + (1L << 29)) >> 30
      s"""{"heap_gb":$heapGb,"replica_invariant_violations":$invariantViolations,${docFams.mkString(",")},$graphJ,$ingestJ,$dsirJ,$mediaJ,$topoJ}"""
    } catch { case e: Throwable =>
      System.err.println(s"[scale] second decade FAILED — ${e.getMessage}")
      s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
    }

    val coResObj = coResident.map(jstr).mkString("[", ",", "]")
    val line =
      s"""{"factor":$Factor,"src":"$srcDir","derived":"$outDir","load_at_start":${jnum(loadAtStart)},"load_wait_sec":${jnum(loadWaitSec)},"dirty_mb_at_start":${jnum(dirtyAtStart)},"steal_cores_at_start":${jnum(stealAtStart)},"co_resident_jvms":$coResObj,"derived_rows":{${
        rows.toSeq.sortBy(_._1).map { case (t, n) => s""""$t":$n""" }.mkString(",")
      }},"graph_prep":{"sf01_sec":${jnum(prep01)},"sf1_sec":${jnum(prep1)},"ratio":${jnum(prep1 / prep01)}},"shard_deal_orders":$shardDeal,"ingest":$ingest,"ann_auto":$annAuto,"semdedup":$semDedup,"second_decade":$secondDecade,"families":{${fams.mkString(",")}},"retimed":${timer.retimedJson},"ext_cpu":${timer.extJson},"io_wait":${timer.ioJson},"steal":${timer.stealJson},"gc_sec":${timer.gcJson}}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(jsonPath),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
