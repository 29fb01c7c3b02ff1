package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every contract query once, one JSON line.
  * A crashing query is recorded as an entry in `"errors"` (and echoed to
  * stderr) instead of masquerading as a fast timing; successful queries
  * keep their timings either way, and the process still emits the JSON
  * contract line so partial failure never zeroes the round's numbers.
  */
object Bench {
  import BenchGuard.{jstr, jnum}

  // /proc-based external-CPU windows, GC deltas, and the co-resident-JVM
  // scan are shared with ScaleBench via BenchGuard (r16 verdict items 1
  // and 6: both contamination incidents were a concurrent sbt JVM that
  // loadavg-at-start could not see)
  import BenchGuard.{timedExt, cpuJiffies, gcMillis, JiffiesPerSec}

  /** Prior round's per-query timings from the committed BENCH_full.json
    * (read BEFORE this run overwrites it) — the reference for the
    * round-over-round retime rule. Empty when absent/unparseable.
    */
  private def priorQueryTimes(path: String): Map[String, Double] =
    try {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = mapper.readTree(java.nio.file.Files.readAllBytes(p))
        val qs = root.get("queries")
        if (qs == null || !qs.isObject) Map.empty
        else {
          val it = qs.fields()
          val b = Map.newBuilder[String, Double]
          while (it.hasNext) {
            val e = it.next()
            if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble()
          }
          b.result()
        }
      }
    } catch { case _: Throwable => Map.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // pinned to the driver's local[32] so the committed artifact and the
    // driver's run are the SAME experiment (r15 verdict: the 4-cpu
    // builder default and the 32-cpu driver run disagreed by round)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Quiet-start gate: four consecutive rounds recorded their bench at
    // loadavg 2-6, making per-query history untrustworthy, and both r15
    // and r16 contaminations were a co-resident sbt JVM specifically.
    // Wait (capped) for the 1-min loadavg to settle below the gate AND
    // for any other sbt/Spark JVM to exit before measuring; record the
    // wait, the load at measurement start, and any surviving JVMs in the
    // artifact so a still-contaminated run is self-flagging, not silent.
    val loadGate = sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE", "1.0").toDouble
    val loadWaitCap =
      sys.env.getOrElse("SPARK_GRAFT_LOAD_WAIT_CAP_SEC", "600").toInt
    val (loadWaitSec, loadAtStart, coResident, dirtyAtStart, stealAtStart) =
      BenchGuard.quietGate("bench", loadGate, loadWaitCap,
        dirtyGateMb =
          sys.env.getOrElse("SPARK_GRAFT_DIRTY_GATE_MB", "256").toDouble,
        stealGate =
          sys.env.getOrElse("SPARK_GRAFT_STEAL_GATE", "2.0").toDouble)
    if (coResident.nonEmpty)
      System.err.println(s"[bench] WARNING: proceeding with " +
        s"${coResident.size} co-resident JVM(s) still alive — " +
        "artifact is annotated")
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
    // warm the session so the alphabetically-first query of each codegen
    // family doesn't absorb its one-time init (join/KPI path via entry;
    // shingle-window, vector, and gram kernels via tiny sf0.001 runs —
    // measured: the first shingle query otherwise pays ~3s of codegen
    // that belongs to no query)
    SparkEntry.entry(spark).count()
    // smallest available SF for the family warmups; fall back to the
    // bench dir itself rather than silently skipping (a skipped warmup
    // re-attaches ~3s of codegen to the first query of each family)
    val warmDir = Seq("/root/testdata/sf0.001", sfDir)
      .find(d => new java.io.File(d).isDirectory).getOrElse(sfDir)
    Seq("dedup_ngram_jaccard", "ann_lsh_topk", "doc_winnow_fingerprints",
      "graph_pagerank", "fuzzy_name_pairs", "dedup_aligned_spans")
      .foreach { q =>
        try SparkEntry.queries(q)(spark, warmDir).count()
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup $q failed: ${e.getMessage}")
        }
      }
    // prior-round reference read BEFORE this run overwrites the file
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      "/root/repo/BENCH_full.json")
    val prior = priorQueryTimes(fullPath)
    val extGate = sys.env.getOrElse("SPARK_GRAFT_EXT_CPU_GATE", "0.75").toDouble
    val priorGate = sys.env.getOrElse("SPARK_GRAFT_PRIOR_GATE", "2.0").toDouble
    val ioGate = sys.env.getOrElse("SPARK_GRAFT_IOWAIT_GATE", "4.0").toDouble
    val stealGate = sys.env.getOrElse("SPARK_GRAFT_STEAL_GATE", "2.0").toDouble
    val retimed = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    // Honest graph-family accounting: the co-purchase prepared relation
    // is shared by the PageRank family, so build+materialize it as an
    // explicit tracked step — per-query graph numbers then measure the
    // superstep recurrence itself, not the shared construction
    // amortized into whichever family query happens to run first. The
    // step rides the queries map (and total) as its own "graph_prep"
    // entry. This is THE row with the recorded contamination history
    // (11.8 -> 71.5 s within r16), so it gets the same four-trigger
    // guard and retime as every query — copurchaseEvict makes the
    // rerun rebuild for real instead of measuring the cache.
    val graphPrep: Either[String, Double] = try {
      val (s1, ext, iow, stl) = timedExt {
        SparkEntry.copurchasePrepared(spark, sfDir).count()
      }
      val priorBad = prior.get("graph_prep")
        .exists(p => p > 0 && s1 > priorGate * p && s1 - p > 0.5)
      if (ext > extGate || iow > ioGate || stl > stealGate || priorBad) {
        val why = if (ext > extGate) f"$ext%.2f external cores"
          else if (iow > ioGate) f"$iow%.2f cores in iowait"
          else if (stl > stealGate) f"$stl%.2f cores stolen by the host"
          else f"${s1 / prior("graph_prep")}%.1fx its prior-round figure"
        System.err.println(f"[bench] graph_prep at $s1%.2fs saw $why — retiming")
        val best = try {
          val (s2, _, _, _) = timedExt {
            SparkEntry.copurchaseEvict(spark, sfDir)
            SparkEntry.copurchasePrepared(spark, sfDir).count()
          }
          retimed += "graph_prep" -> (s1, s2)
          math.min(s1, s2)
        } catch { case _: Throwable =>
          retimed += "graph_prep" -> (s1, -1.0); s1
        }
        Right(best)
      } else Right(s1)
    } catch { case e: Throwable =>
      val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        .linesIterator.next().take(300)
      System.err.println(s"[bench] graph_prep FAILED — $msg")
      Left(msg)
    }
    // trip-store fixture build, timed SEPARATELY (r19 verdict item 2):
    // r19's trip_store_lookup row was ~90% store construction; building
    // the store here (memoized per source dir) makes the query-loop row
    // below price the pruned LOOKUP alone, with the build cost its own
    // artifact field
    val tripStoreBuildSec: Double = try {
      val (s, _, _, _) = timedExt { SparkEntry.tripStoreBuild(spark, sfDir) }
      s
    } catch { case e: Throwable =>
      System.err.println(s"[bench] trip store build FAILED — ${e.getMessage}")
      -1.0
    }
    // Per-query block hygiene (r20): queries materialize lazy/eager
    // localCheckpoints whose cached blocks were NEVER released — by the
    // late-alphabet queries ~190 queries of blocks had accumulated in
    // the shared 4 GB JVM and the heaviest wide-row query of the tail
    // (trip_store_final) ran 3-4x its isolated time from eviction + GC
    // pressure (r20 baseline recorded 10.2 s first AND 13.2 s retimed
    // vs 2.4 s isolated-warm). Unpersist the blocks each query created,
    // AFTER its timing window — blocks created before the loop (warmups,
    // graph_prep's declared shared relation, the trip-store fixture)
    // are outside the snapshot diff and keep their documented sharing.
    def persistentIds(): Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet
    def dropNewBlocks(before: Set[Int]): Unit =
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        // blocking: the removal must finish OUTSIDE the next query's
        // timed window, not race its execution on block-manager threads
        if (!before(id))
          try rdd.unpersist(blocking = true) catch { case _: Throwable => () }
      }
    // deterministic name order so per-query timings are comparable
    // across rounds (Map iteration order is not stable across builds)
    val (runB0, runS0, _, runSt0) = cpuJiffies()
    val runT0 = System.nanoTime()
    val results0 = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val preIds = persistentIds()
      val outcome = try {
        val g0 = gcMillis()
        val (secs, ext, iow, stl) = timedExt { fn(spark, sfDir).count() }
        Right((secs, ext, iow, stl, (gcMillis() - g0) / 1000.0))
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          .linesIterator.next().take(300)
        System.err.println(s"[bench] $name FAILED — $msg")
        Left(msg)
      }
      dropNewBlocks(preIds)
      name -> outcome
    }
    // SELF-HEALING retime, three triggers (r15 verdict: the ext-cores
    // gate alone shipped a 3x-inflated row it never saw; r17: a quiet
    // run's early probes were 3-4x inflated by DISK writeback, which
    // neither loadavg nor external-CPU sees):
    //  (a) the query's window averaged > extGate external cpu cores;
    //  (b) the window averaged > ioGate cores in iowait (disk
    //      contention — possibly the query's own I/O, in which case the
    //      retime just confirms the number);
    //  (c) the query ran > priorGate x its OWN prior-round figure —
    //      contamination the /proc counters can miss (GC pressure, page
    //      cache churn) still shows up against the query's own history.
    // BOTH timings are recorded per retimed query (first, retime) so the
    // contamination delta is visible instead of collapsed away (ADVICE
    // r15); the headline map takes the min, biased fast on purpose and
    // attributably so. Per-query GC seconds ride their own map.
    val results: Seq[(String, Either[String, Double])] = results0.map {
      case (name, Right((secs, ext, iow, stl, _))) if ext > extGate ||
          iow > ioGate || stl > stealGate ||
          // the ScaleBench rule: sub-second noise blips (0.15 -> 0.35s)
          // must not trigger a pointless retime
          prior.get(name).exists(p =>
            p > 0 && secs > priorGate * p && secs - p > 0.5) =>
        val why = if (ext > extGate) f"$ext%.2f external cores"
          else if (iow > ioGate) f"$iow%.2f cores in iowait"
          else if (stl > stealGate) f"$stl%.2f cores stolen by the host"
          else f"${secs / prior(name)}%.1fx its prior-round ${prior(name)}%.2fs"
        System.err.println(f"[bench] $name at $secs%.2fs saw $why — retiming")
        val best = try {
          val preIds = persistentIds()
          val (s2, _, _, _) = timedExt { SparkEntry.queries(name)(spark, sfDir).count() }
          dropNewBlocks(preIds)
          retimed += name -> (secs, s2)
          math.min(secs, s2)
        } catch { case _: Throwable => retimed += name -> (secs, -1.0); secs }
        name -> Right(best)
      case (name, Right((secs, _, _, _, _))) => name -> Right(secs)
      case (name, Left(msg)) => name -> Left(msg)
    }
    val gcByQuery: Seq[(String, Double)] = results0.collect {
      case (name, Right((_, _, _, _, gc))) => name -> gc
    }
    val runSecs = (System.nanoTime() - runT0) / 1e9
    val (runB1, runS1, _, runSt1) = cpuJiffies()
    val runExtCores = if (runSecs <= 0.0) 0.0
      else math.max(0L, (runB1 - runB0) - (runS1 - runS0)) /
        JiffiesPerSec / runSecs
    val runStealCores = if (runSecs <= 0.0) 0.0
      else math.max(0L, runSt1 - runSt0) / JiffiesPerSec / runSecs
    val resultsAll = ("graph_prep" -> graphPrep) +: results
    val qs = resultsAll.collect { case (k, Right(v)) => s"${jstr(k)}:$v" }
      .mkString("{", ",", "}")
    val errs = resultsAll.collect { case (k, Left(m)) => s"${jstr(k)}:${jstr(m)}" }
      .mkString("{", ",", "}")
    val total = resultsAll.collect { case (_, Right(v)) => v }.sum

    // contention self-adjudication (three rounds, two contested bench
    // files): re-run the 3 slowest queries and report the relative drift
    // — a quiet box re-times within noise (|delta| ~< 0.2), a loaded box
    // shows up as a large positive/negative swing — plus the 1-minute
    // system load average around the run
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val slowest = results.collect { case (k, Right(v)) => k -> v }
      .sortBy(-_._2).take(3)
    val rerun = slowest.map { case (name, _) =>
      val preIds = persistentIds()
      val t0 = System.nanoTime()
      try { SparkEntry.queries(name)(spark, sfDir).count() } catch { case _: Throwable => }
      val secs = (System.nanoTime() - t0) / 1e9
      dropNewBlocks(preIds)
      secs
    }
    val firstSum = slowest.map(_._2).sum
    val rerunDelta =
      if (firstSum > 0) (rerun.sum - firstSum) / firstSum else 0.0
    val rerunNames = slowest.map(s => jstr(s._1)).mkString("[", ",", "]")

    // Streaming throughput (VERDICT r5 item 3): the golden 9.4k-event feed
    // replayed through the full pipeline (parse → validate → keyed-state
    // match) in one micro-batch — the same
    // methodology as the SURVEY par.9 865 ev/s figure, now a tracked number.
    // A failure records events=-1 rather than killing the batch contract.
    val streaming = try {
      val feed = GoldenFeed.wireJson(spark)
      import spark.implicits._
      implicit val ctx = spark.sqlContext
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[String]
      val q = graft.streaming.StreamingTripPipeline.pipeline(input.toDF())
        .writeStream.format("memory").queryName("bench_completed")
        .outputMode("append").start()
      val t0 = System.nanoTime()
      val completedRows = try {
        input.addData(feed.toSeq)
        q.processAllAvailable()
        spark.table("bench_completed").count()
      } finally q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      // steady-state variant: same feed in 1000-event micro-batches, so
      // dedup/join state carries ACROSS batches (per-batch planning +
      // state-store commit overhead included — the production cadence).
      // Measured at two shuffle-partition settings: the session default
      // (= cores; r6 showed 32 one-time state-store commits dominating
      // 1000-row batches at 136 ev/s) and a batch-volume-sized 4 — the
      // operational lesson is that micro-batch cadence wants partitions
      // sized to batch VOLUME, not cores (SURVEY par.9).
      def batchedReplay(tag: String, partitions: Int): (Long, Double) = {
        val saved = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
        try {
          val in = org.apache.spark.sql.execution.streaming.runtime
            .MemoryStream[String]
          val q2 = graft.streaming.StreamingTripPipeline.pipeline(in.toDF())
            .writeStream.format("memory").queryName(s"bench_completed_$tag")
            .outputMode("append").start()
          val t1 = System.nanoTime()
          val rows = try {
            feed.grouped(1000).foreach { b =>
              in.addData(b.toSeq); q2.processAllAvailable()
            }
            spark.table(s"bench_completed_$tag").count()
          } finally q2.stop()
          (rows, (System.nanoTime() - t1) / 1e9)
        } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
      }
      // "batched" is what a user gets FOLLOWING THE BUILDER — the
      // batch-volume rule applied by MicroBatchTuning (one state
      // partition per ~8k rows, so 1 for these 1000-event batches: each
      // extra partition commits one more state store per trigger). "cores"
      // keeps the cores-sized anti-pattern as the measured contrast;
      // "tuned" keeps a fixed 4 as a second contrast, so the rule's
      // distance from both stays tracked.
      val defaultParts = graft.streaming.MicroBatchTuning
        .shufflePartitionsFor(1000, cpus.toInt)
      val (batchedRows, secs2) = batchedReplay("batched", defaultParts)
      val (coresRows, secsC) = batchedReplay("cores", cpus.toInt)
      val (tunedRows, secs3) = batchedReplay("tuned", 4)
      s"""{"events":${feed.length},"completed_rows":$completedRows,"elapsed_sec":${jnum(secs)},"events_per_sec":${jnum(feed.length / secs)},"batched_partitions":$defaultParts,"batched_completed_rows":$batchedRows,"batched_elapsed_sec":${jnum(secs2)},"batched_events_per_sec":${jnum(feed.length / secs2)},"batched_cores_partitions":${cpus.toInt},"batched_cores_completed_rows":$coresRows,"batched_cores_elapsed_sec":${jnum(secsC)},"batched_cores_events_per_sec":${jnum(feed.length / secsC)},"batched_tuned_partitions":4,"batched_tuned_completed_rows":$tunedRows,"batched_tuned_elapsed_sec":${jnum(secs3)},"batched_tuned_events_per_sec":${jnum(feed.length / secs3)}}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] streaming replay FAILED — ${e.getMessage}")
      s"""{"events":-1,"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
    }

    // ANN recall@k of the two production index shapes vs exact brute
    // force, each against ITS OWN corpus (the banded contract query runs
    // on the injected-dup corpus), plus the candidate fanout each path
    // actually scored — so a recall regression OR a fanout blowup shows
    // up in the round artifact, not only in spec assertions.
    val annRecall = try {
      import org.apache.spark.sql.DataFrame
      import graft.operators.SimilaritySearch
      def recallAt(approx: DataFrame, exact: DataFrame): Double = {
        val hits = approx.select("query_id", "neighbor_id")
          .join(exact.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id")).count()
        val denom = exact.count()
        if (denom > 0) hits.toDouble / denom else -1.0
      }
      val queries = SparkEntry.annQueries(spark, sfDir)
      val banded = recallAt(
        SparkEntry.queries("ann_lsh_banded_topk")(spark, sfDir),
        SimilaritySearch.bruteForceTopK(
          SparkEntry.embDupCorpus(spark, sfDir), queries, k = 10))
      val bandedCand = SimilaritySearch.lshBandedCandidates(
        SparkEntry.embDupCorpus(spark, sfDir), queries,
        tables = 4, bitsPerTable = 16).count()
      val ivfpq = recallAt(
        SparkEntry.queries("ann_ivfpq_topk")(spark, sfDir),
        SparkEntry.queries("ann_bruteforce_topk")(spark, sfDir))
      val ivfpqCand = SimilaritySearch.ivfCandidates(
        graft.Tables.embeddings(spark, sfDir), queries,
        numCentroids = 64, nprobe = 8).count()

      // PLANTED recall — the meaningful index-quality number on this
      // corpus. The embeddings are isotropic noise (ann_corpus_isotropy:
      // pairwise cosine mean ~0, std ~1/sqrt(64), top-10 label agreement
      // at chance), so organic neighbors are ~0.45-cosine fluctuations no
      // sublinear index can bucket — the organic numbers above are
      // bounded near the candidate fraction BY THE CORPUS, not the index.
      // Planted queries (every 20th vector perturbed to cosine ~0.945,
      // ann_planted_check proves the source is the exact top-1) measure
      // whether the index retrieves a true near-neighbor when one exists.
      import org.apache.spark.sql.functions.col
      val emb = graft.Tables.embeddings(spark, sfDir)
      val planted = SimilaritySearch.plantedQueries(emb).localCheckpoint(false)
      val nPlanted = planted.count()
      val corpusN = emb.count()
      def pRecall(df: DataFrame): Double =
        if (nPlanted == 0) -1.0
        else df.filter(col("neighbor_id") === col("query_id") - 900000L)
          .count().toDouble / nPlanted
      val pBandedMp = pRecall(SimilaritySearch.lshBandedTopK(emb, planted,
        k = 10, tables = 4, bitsPerTable = 16, multiProbe = true))
      val pBandedMpCand = SimilaritySearch.lshBandedCandidates(emb, planted,
        tables = 4, bitsPerTable = 16, multiProbe = true).count()
      val trainedCents = SimilaritySearch.ivfTrainedCentroids(emb,
        numCentroids = 32, iters = 3).localCheckpoint(false)
      val pIvfTrained = pRecall(SimilaritySearch.ivfTopKTrained(emb, planted,
        k = 10, numCentroids = 32, iters = 3, nprobe = 3))
      val pIvfTrainedCand = SimilaritySearch.ivfCandidatesFromCents(emb,
        planted, trainedCents, nprobe = 3).count()
      // PQ family: no candidate pruning in the flat scans (fraction 1.0
      // by construction — PQ cheapens scoring, not candidacy), IVF-PQ
      // prunes via its 8-of-64 probes. Planted recall saturates at 1.0
      // for all three on this corpus; the number is tracked so a
      // codebook/fold regression shows up as a drop from 1.0.
      val pPq = pRecall(SimilaritySearch.pqTopK(emb, planted, k = 10))
      val pPqTrained = pRecall(SimilaritySearch.pqTopKTrained(emb, planted, k = 10))
      val pIvfPq = pRecall(SimilaritySearch.ivfPqTopK(emb, planted, k = 10))
      val pIvfPqCand = SimilaritySearch.ivfCandidates(emb, planted,
        numCentroids = 64, nprobe = 8).count()
      def frac(c: Long): Double =
        if (nPlanted * corpusN == 0) -1.0 else c.toDouble / (nPlanted * corpusN)
      s"""{"k":10,"ann_lsh_banded_topk":{"recall":${jnum(banded)},"candidates_scored":$bandedCand},"ann_ivfpq_topk":{"recall":${jnum(ivfpq)},"candidates_scored":$ivfpqCand},"planted":{"cosine":0.945,"n_queries":$nPlanted,"banded_multiprobe":{"recall":${jnum(pBandedMp)},"candidates_scored":$pBandedMpCand,"candidate_fraction":${jnum(frac(pBandedMpCand))}},"ivf_trained_32c_3probe":{"recall":${jnum(pIvfTrained)},"candidates_scored":$pIvfTrainedCand,"candidate_fraction":${jnum(frac(pIvfTrainedCand))}},"pq_flat_8s16c":{"recall":${jnum(pPq)},"candidate_fraction":1.0},"pq_trained_8s16c":{"recall":${jnum(pPqTrained)},"candidate_fraction":1.0},"ivfpq_64c_8probe":{"recall":${jnum(pIvfPq)},"candidates_scored":$pIvfPqCand,"candidate_fraction":${jnum(frac(pIvfPqCand))}}}}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ann recall FAILED — ${e.getMessage}")
      s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
    }

    // BPE at production merge counts: the batched trainer's SCALING
    // CURVE — 256 merges at batch sizes 32/64/128 over the full bench
    // corpus (batch size is the driver-round-trip divisor; the curve
    // shows whether merges/sec keeps climbing with batch, which is
    // what the 50k-vocabulary claim extrapolates along) plus one
    // DEPTH point (1024 merges, batch 64, sf0.01 — merge count is the
    // other axis) — and the batch=1 degeneracy equality vs the
    // sequential trainer on a sampled corpus, re-proving on this data
    // the exact contract the big batched runs lean on.
    val bpe = try {
      import graft.functions.TextAnalysis
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(spark, sfDir)
      def timed(d: org.apache.spark.sql.DataFrame, steps: Int,
          bs: Int): (Long, Double) = {
        val t0 = System.nanoTime()
        val n = TextAnalysis.bpeMergeSequenceBatched(d,
          steps = steps, batchSize = bs).count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      val curve = Seq(32, 64, 128).map { bs =>
        val (n, secs) = timed(docs, 256, bs)
        s"""{"batch_size":$bs,"merges":$n,"elapsed_sec":${jnum(secs)},"merges_per_sec":${jnum(n / secs)}}"""
      }.mkString("[", ",", "]")
      val deepDir = Seq("/root/testdata/sf0.01", sfDir)
        .find(d => new java.io.File(d).isDirectory).getOrElse(sfDir)
      val (dn, dsecs) = timed(Tables.documents(spark, deepDir), 1024, 64)
      val deep = s"""{"sf":"$deepDir","batch_size":64,"merges":$dn,"elapsed_sec":${jnum(dsecs)},"merges_per_sec":${jnum(dn / dsecs)}}"""
      def table(df: org.apache.spark.sql.DataFrame) =
        df.select("step", "left_tok", "right_tok", "n").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2),
            r.getLong(3))).toSeq
      val sample = docs.filter(col("doc_id") % 20 === 0)
      val eq = table(TextAnalysis.bpeMergeSequenceBatched(sample,
          steps = 6, batchSize = 1)) ==
        table(TextAnalysis.bpeMergeSequence(sample, steps = 6))
      s"""{"curve":$curve,"deep":$deep,"batch1_equals_sequential_sample":$eq}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bpe batched FAILED — ${e.getMessage}")
      s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
    }

    // Composed ingest sink throughput: the full bench corpus streamed
    // through IngestPipeline (curate → land → incremental dedup →
    // profile fold) in 4 micro-batches — the end-to-end docs/sec a
    // continuous-ingestion deployment of this library sustains, now a
    // tracked number rather than spec-only.
    val ingest = try {
      import spark.implicits._
      implicit val ctx = spark.sqlContext
      import org.apache.spark.sql.functions.col
      import graft.functions.TextAnalysis
      val dir = java.nio.file.Files.createTempDirectory("bench_ingest").toString
      val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
        .as[(Long, String)].collect()
      def curate(df: org.apache.spark.sql.DataFrame) =
        TextAnalysis.withQualityScore(TextAnalysis.withTokenCounts(df))
          .filter(col("quality_score") >= 0.3 &&
            col("ws_tokens").between(10, 10000))
          .select(col("doc_id"), col("text"),
            col("ws_tokens").cast("long").as("ws_tokens"))
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val q = input.toDF()
        .select(col("_1").as("doc_id"), col("_2").as("text"))
        .writeStream
        .foreachBatch(graft.streaming.IngestPipeline.sink(dir, curate,
          Seq("doc_id", "ws_tokens")))
        .start()
      val t0 = System.nanoTime()
      val nBatches = 4
      try {
        docs.grouped(math.max(1, docs.length / nBatches)).foreach { g =>
          input.addData(g.toSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      val landed = graft.streaming.IngestPipeline.landedDocs(spark, dir).count()
      s"""{"docs":${docs.length},"landed":$landed,"batches":$nBatches,"elapsed_sec":${jnum(secs)},"docs_per_sec":${jnum(docs.length / secs)}}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ingest pipeline FAILED — ${e.getMessage}")
      s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
    }

    // Two-hop topology throughput (r17 verdict item 3): the lease/fence
    // protocol was correctness-proven (StoreLeaseSpec, TopologySpec) but
    // never TIMED — this measures the composed ingest→change-feed→
    // matcher topology's ev/s under both schedules (ping-pong: hops
    // alternate, the lease is always free; concurrent: both hops live,
    // every micro-batch races for the lease) at 1x and 10x the golden
    // feed (10x = nine trip-id-prefixed replicas — matching is per
    // trip id, so completions scale exactly 10x), with the writers'
    // cumulative lease-wait seconds recorded per hop from the store's
    // own instrumentation.
    val topology = try {
      import spark.implicits._
      import graft.operators.KeyedUpsertSink
      import graft.streaming.TripTopology
      implicit val ctx = spark.sqlContext
      val goldenFeed = GoldenFeed.wireJson(spark)
      def feedTimes(n: Int): Array[String] =
        if (n == 1) goldenFeed
        else (0 until n).iterator.flatMap { i =>
          if (i == 0) goldenFeed.iterator
          else goldenFeed.iterator.map(
            _.replace("\"trip_id\":\"", s"""\"trip_id\":\"r$i~"""))
        }.toArray
      // Per-hop state-store metrics off the queries' own progress
      // reports (r18 verdict item 5): rows in state, CUMULATIVE state
      // commit milliseconds (already partition-aggregated per batch and
      // summed across batches — labeled cum_commit_ms, NOT wall seconds:
      // r19 verdict item 5 flagged the old _sec label as reading like
      // wall time inside a shorter run), and state memory at the last
      // micro-batch.
      def stateMetrics(q: org.apache.spark.sql.streaming.StreamingQuery)
          : (Long, Double, Long) = {
        val progs = q.recentProgress
        val commitMs = progs.iterator.flatMap(_.stateOperators)
          .map(_.commitTimeMs).sum
        val last = progs.lastOption
        (last.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L),
          commitMs.toDouble,
          last.map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L))
      }
      val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
      val RocksCls = "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider"
      def run(tag: String, feed: Array[String], concurrent: Boolean,
          chunks: Int, provider: String = "hdfs"): String = {
        KeyedUpsertSink.leaseWaitMs.clear()
        KeyedUpsertSink.commitStatsClear()
        if (provider == "rocksdb") spark.conf.set(ProviderKey, RocksCls)
        else spark.conf.unset(ProviderKey)
        val base = java.nio.file.Files
          .createTempDirectory(s"bench_topo_$tag").toString
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[String]
        val groups = feed.grouped(feed.length / chunks + 1).toSeq
        val ingest = TripTopology.ingestWriter(input.toDF(), s"$base/store",
          s"$base/changes", s"$base/ckpt_i").start()
        def matcher() = TripTopology.matcherWriter(spark, s"$base/changes",
          s"$base/store", s"$base/ckpt_m", maxFilesPerTrigger = 256).start()
        var matRows = 0L; var matCumCommitMs = 0.0; var matMem = 0L
        def drainMatcherStats(m: org.apache.spark.sql.streaming.StreamingQuery)
            : Unit = {
          val (r, c, b) = stateMetrics(m)
          matRows = math.max(matRows, r); matCumCommitMs += c
          matMem = math.max(matMem, b)
        }
        val t0 = System.nanoTime()
        try {
          if (concurrent) {
            val m = matcher()
            try {
              groups.foreach { c =>
                input.addData(c); ingest.processAllAvailable()
              }
              m.processAllAvailable() // drain the tail of the change feed
              drainMatcherStats(m)
            } finally m.stop()
          } else {
            groups.foreach { c =>
              input.addData(c); ingest.processAllAvailable()
              val m = matcher()
              try { m.processAllAvailable(); drainMatcherStats(m) }
              finally m.stop()
            }
          }
        } finally ingest.stop()
        val secs = (System.nanoTime() - t0) / 1e9
        val (ingRows, ingCumCommitMs, ingMem) = stateMetrics(ingest)
        spark.conf.unset(ProviderKey)
        val waits = KeyedUpsertSink.leaseWaitSnapshot()
        val cstats = KeyedUpsertSink.commitStatsSnapshot()
        val cstatsObj = cstats.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
        val completed = KeyedUpsertSink.readStore(spark, s"$base/store").get
          .filter(org.apache.spark.sql.functions.col("sk")
            .startsWith("COMPLETED#")).count()
        System.err.println(f"[bench] topology $tag($provider): " +
          f"${feed.length} events in $secs%.1f s" +
          f" (${feed.length / secs}%.0f ev/s), $completed completed;" +
          f" lease wait ing ${waits.getOrElse("ing", 0L) / 1000.0}%.2f s" +
          f" / mat ${waits.getOrElse("mat", 0L) / 1000.0}%.2f s;" +
          s" commit stats $cstats")
        s""""$tag":{"events":${feed.length},"chunks":$chunks,"provider":${jstr(provider)},"elapsed_sec":${jnum(secs)},"events_per_sec":${jnum(feed.length / secs)},"completed":$completed,"lease_wait_sec":{"ing":${jnum(waits.getOrElse("ing", 0L) / 1000.0)},"mat":${jnum(waits.getOrElse("mat", 0L) / 1000.0)}},"commit_stats":$cstatsObj,"state":{"ing_rows":$ingRows,"ing_cum_commit_ms":${jnum(ingCumCommitMs)},"ing_mem_bytes":$ingMem,"mat_rows":$matRows,"mat_cum_commit_ms":${jnum(matCumCommitMs)},"mat_mem_bytes":$matMem}}"""
      }
      val x1 = feedTimes(1)
      val x10 = feedTimes(10)
      val parts = Seq(
        run("pingpong_x1", x1, concurrent = false, chunks = 5),
        run("concurrent_x1", x1, concurrent = true, chunks = 5),
        run("pingpong_x10", x10, concurrent = false, chunks = 5),
        run("concurrent_x10", x10, concurrent = true, chunks = 5),
        // same experiment on the deploy-grade state store (r18 verdict
        // item 5): provider-labeled so the rows are comparable
        run("concurrent_x10_rocksdb", x10, concurrent = true, chunks = 5,
          provider = "rocksdb"))
      s"""{${parts.mkString(",")}}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] topology FAILED — ${e.getMessage}")
      s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
    }

    // Store-lease CONTENTION probe: N same-JVM writers, each upserting
    // a full-bucket-span batch into ONE shared store, so every upsert
    // queues on the lease behind every other — the shape of the
    // concurrent two-hop topology, where both hops touch every bucket.
    // Writers use DISJOINT keys (w mod writers) so the final state is
    // deterministic; lease wait and per-flip commit counts ride the
    // JSON row.
    val contention = try {
      import org.apache.spark.sql.functions.{col, lit}
      import graft.operators.KeyedUpsertSink
      def probe(tag: String, writers: Int, batches: Int): String = {
        KeyedUpsertSink.commitStatsClear()
        KeyedUpsertSink.leaseWaitMs.clear()
        val dir = java.nio.file.Files
          .createTempDirectory(s"bench_cont_$tag").toString
        val errsQ = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val t0 = System.nanoTime()
        val threads = (0 until writers).map { w =>
          val t = new Thread(() => {
            try {
              for (b <- 0 until batches) {
                val df = spark.range(2000)
                  .select(((col("id") * writers + w) % 3000).as("k"),
                    (col("id") * writers + w + b.toLong * 10000)
                      .cast("long").as("ver"),
                    lit(w).as("writer"))
                KeyedUpsertSink.upsertBatch(df, dir, Seq("k"), "ver",
                  b.toLong, versionWins = true, numBuckets = 32,
                  writerId = s"w$w")
              }
            } catch { case e: Throwable =>
              errsQ.add(s"w$w: ${Option(e.getMessage).getOrElse(e.getClass.getName)}".take(160))
            }
          })
          t.setDaemon(true); t
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        val secs = (System.nanoTime() - t0) / 1e9
        val stats = KeyedUpsertSink.commitStatsSnapshot()
        val statsObj = stats.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
        val waits = KeyedUpsertSink.leaseWaitSnapshot()
        val waitSec = waits.values.sum / 1000.0
        val rows = KeyedUpsertSink.readStore(spark, dir)
          .map(_.count()).getOrElse(0L)
        System.err.println(f"[bench] contention $tag: $writers writers x " +
          f"$batches batches in $secs%.1f s, $rows rows, lease wait " +
          f"$waitSec%.2f s, stats $stats")
        s""""$tag":{"writers":$writers,"batches_per_writer":$batches,"elapsed_sec":${jnum(secs)},"store_rows":$rows,"lease_wait_sec":${jnum(waitSec)},"commit_stats":$statsObj,"errors":[${errsQ.toArray.map(e => jstr(e.toString)).mkString(",")}]}"""
      }
      val parts = Seq(
        probe("w1", 1, 8), probe("w2", 2, 8), probe("w4", 4, 8))
      s"""{${parts.mkString(",")}}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] contention FAILED — ${e.getMessage}")
      s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
    }

    // Store-commit seam microbench (r18 verdict items 2 and 6): the
    // CONTROL path alone — one reader pointer-read plus the writer's
    // acquire → read → flip → release, the per-upsert control footprint
    // with the merge job factored out — K times per protocol, fs-op
    // counters snapshotted around the loop. rename_local is the
    // pre-seam-equivalent baseline; marker_local prices the write-once
    // protocol on the same fs; marker_simobj pays it where it's
    // mandatory (copy+delete renames, the object-store shape).
    val storeSeam = try {
      import graft.operators.StoreCommit
      spark.sparkContext.hadoopConfiguration.set("fs.simobj.impl",
        classOf[graft.SimObjFileSystem].getName)
      def cycle(tag: String, mode: String, mkDir: => String, k: Int): String = {
        val prevMode = sys.props.get("graft.store.commit")
        if (mode.nonEmpty) sys.props("graft.store.commit") = mode
        val proto = try StoreCommit.forStore(spark, mkDir)
          finally {
            if (mode.nonEmpty) prevMode match {
              case Some(m) => sys.props("graft.store.commit") = m
              case None => sys.props.remove("graft.store.commit")
            }
          }
        StoreCommit.fsOpsClear()
        val token = java.util.UUID.randomUUID().toString
        val t0 = System.nanoTime()
        var i = 0
        while (i < k) {
          proto.readPointer()
          if (!proto.tryAcquire(token, s"bench:$i"))
            throw new IllegalStateException(s"seam $tag: lock held at $i")
          proto.readPointer()
          proto.commitPointer(s"buckets=32\n0=gen-$i")
          proto.release(token)
          i += 1
        }
        val secs = (System.nanoTime() - t0) / 1e9
        val ops = StoreCommit.fsOpsSnapshot()
        val totalOps = ops.values.sum
        val opsObj = ops.toSeq.sortBy(_._1)
          .map { case (kk, v) => s"${jstr(kk)}:$v" }.mkString("{", ",", "}")
        System.err.println(f"[bench] seam $tag: $k commits in $secs%.2f s " +
          f"(${secs * 1000 / k}%.3f ms/commit, " +
          f"${totalOps.toDouble / k}%.1f fs ops/commit)")
        s""""$tag":{"commits":$k,"elapsed_sec":${jnum(secs)},"ms_per_commit":${jnum(secs * 1000 / k)},"fs_ops_total":$totalOps,"fs_ops_per_commit":${jnum(totalOps.toDouble / k)},"fs_ops":$opsObj}"""
      }
      def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
      val K = 1000
      val parts = Seq(
        cycle("rename_local", "rename", tmp("bench_seam_rn"), K),
        cycle("marker_local", "marker", tmp("bench_seam_mk"), K),
        cycle("marker_simobj", "",
          { val raw = tmp("bench_seam_so"); s"simobj://$raw/store" }, K))
      s"""{${parts.mkString(",")}}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] store seam FAILED — ${e.getMessage}")
      s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
    }

    // Batch-curation flagship throughput: c4_end_to_end (extraction →
    // gates → unit passes → near-dup keep → split → pack) is already
    // timed by the main loop over its full crawled-HTML corpus; report
    // it as docs/sec so the composed chain carries a capacity number,
    // not just a seconds entry.
    val c4 = try {
      val elapsed = results.collectFirst {
        case ("c4_end_to_end", Right(v)) => v
      }
      elapsed match {
        case Some(secs) =>
          val base = Tables.documents(spark, sfDir).count()
          val nDocs = base + Tables.documents(spark, sfDir)
            .filter(org.apache.spark.sql.functions.col("doc_id") % 20 === 0)
            .count()
          s"""{"docs":$nDocs,"elapsed_sec":${jnum(secs)},"docs_per_sec":${jnum(nDocs / secs)}}"""
        case None => """{"error":"c4_end_to_end did not complete"}"""
      }
    } catch { case e: Throwable =>
      s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
    }

    // Measured scale-up section: graft.ScaleBench times the heaviest
    // families on a derived 10x corpus and writes SCALEUP.json; embed
    // it verbatim when present so the round artifact carries the
    // datapoint without re-paying the 10x run on every bench.
    val scaleup = try {
      val p = java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_SCALEUP_JSON", "/root/repo/SCALEUP.json"))
      if (java.nio.file.Files.exists(p))
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
      else """{"enabled":false}"""
    } catch { case _: Throwable => """{"enabled":false}""" }

    // Headline numbers FIRST, the 123-entry per-query map LAST: r8's
    // committed artifact kept only the tail of this line, losing the
    // timings that happened to be serialized early. Front-loading the
    // totals means any truncation from either end still leaves the
    // round's verdict-grade numbers, and the full map is ALSO persisted
    // to its own file below so no truncation can lose per-query data.
    // {name: [first_sec, retime_sec]} — both timings, the delta IS the
    // contamination evidence (-1 retime = the retry itself failed)
    val retimedObj = retimed.map { case (n, (a, b)) =>
      s"${jstr(n)}:[${jnum(a)},${jnum(b)}]" }.mkString("{", ",", "}")
    val gcObj = gcByQuery.map { case (n, g) => s"${jstr(n)}:${jnum(g)}" }
      .mkString("{", ",", "}")
    val coResObj = coResident.map(jstr).mkString("[", ",", "]")
    // the fixture-vs-lookup split (r19 verdict item 2): build_sec is the
    // memoized store construction timed before the query loop;
    // lookup_sec is the query-loop row itself (the pruned read alone)
    val tripStore = {
      val lookup = results.collectFirst {
        case ("trip_store_lookup", Right(v)) => v }.getOrElse(-1.0)
      s"""{"build_sec":${jnum(tripStoreBuildSec)},"lookup_sec":${jnum(lookup)}}"""
    }
    val line = s"""{"metric":"total","value":$total,"unit":"sec","failed":${resultsAll.count(_._2.isLeft)},"loadavg":$loadAvg,"load_at_start":${jnum(loadAtStart)},"load_wait_sec":${jnum(loadWaitSec)},"dirty_mb_at_start":${jnum(dirtyAtStart)},"steal_cores_at_start":${jnum(stealAtStart)},"external_cpu_cores":${jnum(runExtCores)},"steal_cores_run":${jnum(runStealCores)},"co_resident_jvms":$coResObj,"cpus":$cpus,"retimed_queries":$retimedObj,"rerun_delta":$rerunDelta,"rerun_queries":$rerunNames,"ann_recall":$annRecall,"bpe_batched":$bpe,"ingest":$ingest,"topology":$topology,"contention":$contention,"store_seam":$storeSeam,"trip_store":$tripStore,"c4_pipeline":$c4,"scaleup":$scaleup,"streaming":$streaming,"sf":"$sfDir","errors":$errs,"gc_sec":$gcObj,"queries":$qs}"""
    println(line)
    // belt-and-braces: the identical JSON, committed as its own file —
    // the durable copy of every per-query timing regardless of what the
    // driver preserves of stdout
    try java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $fullPath — ${e.getMessage}")
    }
    // LAST line compact (r16 verdict item 8): the round runner keeps only
    // a ~2 KB tail of stdout, so the 17 KB full line above truncates into
    // unparseable JSON in BENCH_r<N>.json. This final line carries the
    // verdict-grade headline plus the 10 slowest queries and fits the
    // tail whole; the complete per-query map lives in the full line above
    // AND in the committed BENCH_full.json it names.
    def r3(d: Double): String =
      if (d.isNaN || d.isInfinite) "-1" else (math.rint(d * 1000) / 1000).toString
    // resultsAll, not results: graph_prep (the one row with a recorded
    // contamination history) must be eligible for the tail line's
    // slowest-10, or the compact line hides exactly the regression it
    // exists to surface
    val slow10 = resultsAll.collect { case (k, Right(v)) => k -> v }
      .sortBy(-_._2).take(10)
      .map { case (k, v) => s"${jstr(k)}:${r3(v)}" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":"$sfDir","n_queries":${resultsAll.size},"failed":${resultsAll.count(_._2.isLeft)},"cpus":$cpus,"loadavg":${r3(loadAvg)},"load_at_start":${r3(loadAtStart)},"load_wait_sec":${r3(loadWaitSec)},"external_cpu_cores":${r3(runExtCores)},"steal_cores_run":${r3(runStealCores)},"co_resident_jvms":${coResident.size},"rerun_delta":${r3(rerunDelta)},"retimed":${retimed.size},"queries":$slow10,"queries_shown":"10_slowest_of_${resultsAll.size}","queries_full":"BENCH_full.json"}""")
    spark.stop()
    // rc mirrors the "failed" field: the contract line (stdout + BENCH_full)
    // is already emitted above, so a nonzero exit loses nothing — it just
    // stops a partially-failed run from being recorded as a clean one.
    val nFailed = resultsAll.count(_._2.isLeft)
    if (nFailed > 0) {
      System.err.println(s"[bench] $nFailed queries failed — exiting nonzero")
      sys.exit(1)
    }
  }
}
