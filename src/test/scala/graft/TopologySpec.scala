package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.KeyedUpsertSink
import graft.streaming.{StreamingTripPipeline, TripStore, TripTopology}

/** The literal two-hop reference topology end-to-end (VERDICT r15 item
  * 1): golden feed → ingest hop (RAW items → keyed table + insert log)
  * → change feed → matcher hop (match-on-insert → COMPLETED +
  * processed flips into the SAME table). The final table state must be
  * the reference's golden — 4,468 COMPLETED items and exactly the
  * matched RAW pairs flipped to processed_by_matcher — under three
  * adverse schedules:
  *
  *  1. the matcher hop stopped and restarted from its checkpoint
  *     repeatedly mid-stream, including one stop in the middle of a
  *     phase's backlog;
  *  2. BOTH writers live simultaneously (r16 verdict item 3) — the
  *     reference's actual runtime shape, lambda1 and lambda2 writing
  *     the same table in parallel, serialized by the store's writer
  *     lease rather than by the test's schedule;
  *  3. on the RocksDB state-store provider, with an injected crash
  *     BETWEEN the ingest hop's change-log commit and its store
  *     reference (r16 verdict item 5): the restart re-runs the same
  *     batch id, keeps the committed log dir, and the store adopts it.
  *
  * Two tests run schedule 2 over a small generated feed (re-deliveries,
  * ends before starts, invalid events including a malformed timestamp,
  * never-completed trips) and expect exactly the trips with a valid
  * start and end, so the concurrent two-hop path is covered without the
  * reference data; the second also kills the ingest hop between a
  * change-log commit and its store reference while the matcher runs.
  * Two more drive the ingest hop's batch body directly: it leaves no
  * materialization behind in the block manager, and the store's deltas
  * reference the change log instead of copying it.
  */
class TopologySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** The final-table assertions shared by every schedule: `expected`
    * completed trips (4,468 on the golden feed, the reference's
    * published number), exactly their RAW pairs flipped, each flipped
    * item keeping its own family's attrs and recording the match time.
    */
  private def assertGolden(storeDir: String, expected: Long = 4468L): Unit = {
    val store = KeyedUpsertSink.readStore(spark, storeDir).get.cache()
    try {
      val completed = store.filter(col("sk").startsWith("COMPLETED#"))
      assert(completed.count() === expected,
        s"two-hop topology must reach $expected completed trips")
      assert(completed.select("status").distinct()
        .collect().map(_.getString(0)).toSeq === Seq("completed"))

      // exactly the matched RAW pairs flipped to processed_by_matcher
      val pairs = completed.select(col("trip_id"),
          concat_ws("#", lit("RAW"), lit("trip_start"),
            col("pickup_datetime")).as("sk"))
        .unionByName(completed.select(col("trip_id"),
          concat_ws("#", lit("RAW"), lit("trip_end"),
            col("dropoff_datetime")).as("sk")))
        .distinct()
      val processed = store.filter(col("status") === "processed_by_matcher")
        .select("trip_id", "sk")
      assert(processed.exceptAll(pairs).count() === 0,
        "an unmatched RAW item was flagged processed")
      assert(pairs.exceptAll(processed).count() === 0,
        "a matched RAW item was not flagged processed (a flip was lost)")
      assert(processed.count() === 2 * expected)

      // processed items keep their sparse attrs and record the match's
      // event time
      val ps = store.filter(col("status") === "processed_by_matcher" &&
        col("data_type") === "trip_start")
      assert(ps.filter(col("pickup_datetime").isNull || col("fare_amount").isNotNull)
        .count() === 0, "processed start items must keep start attrs and stay end-sparse")
      assert(store.filter(col("status") === "processed_by_matcher" &&
        col("processed_at").isNull).count() === 0, "processed_at must be set")

      // unmatched raw events persist as status='raw'; nothing regressed
      val raw = store.filter(col("sk").startsWith("RAW#"))
      assert(raw.filter(!col("status").isin("raw", "processed_by_matcher"))
        .count() === 0)
      assert(raw.count() > 2 * expected,
        "unmatched raw events must persist as status='raw'")

      // no phantom completions: every processed trip has its COMPLETED item
      val processedIds = processed.select("trip_id").distinct()
      val completedIds = completed.select("trip_id").distinct()
      assert(processedIds.exceptAll(completedIds).count() === 0)
    } finally store.unpersist()
  }

  test("two-hop change-feed topology reaches the golden final table state across restarts") {
    implicit val ctx = spark.sqlContext
    val base = tempDir("graft-topology")
    val storeDir = s"$base/store"
    val changesDir = s"$base/changes"

    val input = MemoryStream[String]
    val ingest = TripTopology.ingestWriter(input.toDF(), storeDir, changesDir,
      s"$base/ckpt_ingest").start()
    def matcher() = TripTopology.matcherWriter(spark, changesDir, storeDir,
      s"$base/ckpt_matcher", maxFilesPerTrigger = 4).start()

    try {
      val chunks = GoldenFeed.wireJson(spark).grouped(20000).toSeq
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        input.addData(chunk)
        ingest.processAllAvailable()
        val m = matcher()
        try {
          if (i == 0) {
            // mid-backlog restart: let the matcher make partial progress
            // (a few 4-file triggers), then kill it mid-stream; the NEXT
            // phase's fresh start must resume from the checkpoint with
            // no duplicated or lost matches
            val t0 = System.nanoTime()
            while (m.recentProgress.length < 2 &&
              (System.nanoTime() - t0) / 1e9 < 60) Thread.sleep(100)
          } else {
            m.processAllAvailable()
          }
        } finally m.stop()
      }
      // drain whatever the mid-stream kill left behind
      val fin = matcher()
      try fin.processAllAvailable() finally fin.stop()
    } finally ingest.stop()

    assertGolden(storeDir)
  }

  test("both hops live CONCURRENTLY (no ping-pong) still reach the golden final table") {
    implicit val ctx = spark.sqlContext
    val base = tempDir("graft-topology-conc")
    val storeDir = s"$base/store"
    val changesDir = s"$base/changes"

    val input = MemoryStream[String]
    // both queries started up front and never stopped mid-feed: every
    // micro-batch of either hop races the other for the store's writer
    // lease, and small chunks + a small files-per-trigger keep the two
    // writers genuinely interleaved rather than accidentally phased
    val ingest = TripTopology.ingestWriter(input.toDF(), storeDir, changesDir,
      s"$base/ckpt_ingest").start()
    val matcher = TripTopology.matcherWriter(spark, changesDir, storeDir,
      s"$base/ckpt_matcher", maxFilesPerTrigger = 2).start()
    try {
      GoldenFeed.wireJson(spark).grouped(2000).foreach { chunk =>
        input.addData(chunk) // no barrier — both hops process as they race
      }
      ingest.processAllAvailable()
      // the last ingest batch may land after the matcher's last listing;
      // a second drain is a no-op when the first already caught it
      matcher.processAllAvailable()
      matcher.processAllAvailable()
    } finally {
      ingest.stop(); matcher.stop()
    }

    assertGolden(storeDir)
  }

  /** 120 trips over 10 event hours (inside the 24 h watermark and trip
    * bounds, so nothing is evicted), in 6 chunks: every 6th trip never
    * ends, every 10th has no start, every 9th has an invalid start (no
    * pickup time), every 5th end arrives a chunk before its start,
    * every 7th trip is re-delivered a chunk later, and each chunk
    * carries poison events; one extra trip's start carries a present but
    * malformed pickup time, so it never completes. Returns the chunks
    * and the ids that must complete.
    */
  private def generatedFeed(): (Seq[Seq[String]], Set[String]) = {
    def startJson(id: String, ts: String) =
      s"""{"trip_id":"$id","data_type":"trip_start","pickup_datetime":"$ts","estimated_fare_amount":10.0,"pickup_location_id":1,"dropoff_location_id":2,"vendor_id":3}"""
    def endJson(id: String, ts: String) =
      s"""{"trip_id":"$id","data_type":"trip_end","dropoff_datetime":"$ts","fare_amount":25.5,"passenger_count":1.0,"trip_distance":2.2}"""
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val t0 = java.time.LocalDateTime.of(2024, 5, 20, 6, 0)
    val chunks = Array.fill(6)(Seq.newBuilder[String])
    val expectedIds = Set.newBuilder[String]
    (0 until 120).foreach { i =>
      val id = s"g$i"
      val pickup = t0.plusMinutes(i * 5L)
      val c = i / 20
      val (sc, ec) = if (i % 5 == 2 && c < 5) (c + 1, c) else (c, c)
      val start =
        if (i % 9 == 4) s"""{"trip_id":"$id","data_type":"trip_start"}"""
        else startJson(id, pickup.format(fmt))
      val end = endJson(id, pickup.plusMinutes(20).format(fmt))
      // a re-delivery repeats only what was sent
      val copies = if (i % 7 == 0) 2 else 1
      (0 until copies).foreach { k =>
        if (i % 10 != 3) chunks(math.min(sc + k, 5)) += start
        if (i % 6 != 0) chunks(math.min(ec + k, 5)) += end
      }
      if (i % 6 != 0 && i % 10 != 3 && i % 9 != 4) expectedIds += id
    }
    chunks(2) += startJson("gbad", "2024-13-45 99:00:00")
    chunks(2) += endJson("gbad", "2024-05-20 08:00:00")
    chunks.foreach { b =>
      b += "not json"
      b += """{"trip_id":null,"data_type":"trip_end","dropoff_datetime":"2024-05-20 07:00:00"}"""
    }
    (chunks.map(_.result()).toSeq, expectedIds.result())
  }

  /** [[assertGolden]] for `expected` ids, and exactly those completed. */
  private def assertCompletes(storeDir: String, expected: Set[String]): Unit = {
    assertGolden(storeDir, expected.size.toLong)
    val completedIds = KeyedUpsertSink.readStore(spark, storeDir).get
      .filter(col("sk").startsWith("COMPLETED#"))
      .select("trip_id").as[String].collect().toSet
    assert(completedIds === expected)
  }

  test("both hops live concurrently over a generated feed complete exactly the valid pairs") {
    implicit val ctx = spark.sqlContext
    val (chunks, expected) = generatedFeed()
    val base = tempDir("graft-topology-gen")
    val storeDir = s"$base/store"
    val changesDir = s"$base/changes"
    val input = MemoryStream[String]
    val ingest = TripTopology.ingestWriter(input.toDF(), storeDir, changesDir,
      s"$base/ckpt_ingest").start()
    val matcher = TripTopology.matcherWriter(spark, changesDir, storeDir,
      s"$base/ckpt_matcher", maxFilesPerTrigger = 2).start()
    try {
      // one ingest batch per chunk while the matcher races it
      chunks.foreach { b => input.addData(b); ingest.processAllAvailable() }
      matcher.processAllAvailable()
      matcher.processAllAvailable()
    } finally {
      ingest.stop(); matcher.stop()
    }

    assertCompletes(storeDir, expected)
  }

  /** The part-file names of one committed change-log batch. */
  private def logParts(changesDir: String, id: Long): Set[String] =
    Option(new java.io.File(s"$changesDir/batch=$id").listFiles())
      .toSeq.flatten.map(_.getName).filter(_.endsWith(".parquet")).toSet

  /** Hop 1 as [[TripTopology.ingestWriter]] builds it, with a failpoint
    * that throws once, after batch `crashAt`'s change-log commit and
    * before its store reference.
    */
  private def crashingIngest(input: MemoryStream[String], storeDir: String,
      changesDir: String, checkpointDir: String, crashAt: Option[Long]) = {
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    TripStore.rawItems(StreamingTripPipeline.parseAndValidate(input.toDF()))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        TripTopology.ingestBatch(batch, storeDir, changesDir, id,
          afterChangeLog = i =>
            if (crashAt.contains(i) && crashed.compareAndSet(false, true))
              throw new RuntimeException(
                "injected crash between change-log commit and store reference"))
      }
      .start()
  }

  private def assertInjectedCrash(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val died = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination()
    }
    assert(died.getMessage.contains("injected crash") ||
      Option(died.getCause).exists(_.getMessage.contains("injected crash")))
  }

  test("an ingest crash between change-log commit and store reference keeps the log and converges") {
    implicit val ctx = spark.sqlContext
    val (chunks, expected) = generatedFeed()
    val base = tempDir("graft-topology-gen-crash")
    val storeDir = s"$base/store"
    val changesDir = s"$base/changes"
    val input = MemoryStream[String]
    val matcher = TripTopology.matcherWriter(spark, changesDir, storeDir,
      s"$base/ckpt_matcher", maxFilesPerTrigger = 2).start()
    try {
      val q1 = crashingIngest(input, storeDir, changesDir,
        s"$base/ckpt_ingest", Some(2L))
      chunks.take(2).foreach { b => input.addData(b); q1.processAllAvailable() }
      input.addData(chunks(2))
      assertInjectedCrash(q1)
      // the log committed batch 2, and the store does not reference it yet
      assert(new java.io.File(s"$changesDir/batch=2/_SUCCESS").exists())
      assert(!new java.io.File(s"$storeDir/delta/ing=2").exists())
      val parts = logParts(changesDir, 2L)
      assert(parts.nonEmpty)
      // the matcher keeps reading the log while the ingest hop is down
      matcher.processAllAvailable()

      // restart from the same checkpoint: batch 2 re-runs under its id
      val q2 = crashingIngest(input, storeDir, changesDir,
        s"$base/ckpt_ingest", None)
      try {
        q2.processAllAvailable()
        chunks.drop(3).foreach { b => input.addData(b); q2.processAllAvailable() }
      } finally q2.stop()
      assert(logParts(changesDir, 2L) === parts,
        "the replay rewrote a committed change-log batch")
      assert(new java.io.File(s"$storeDir/delta/ing=2/_SUCCESS").exists())
      matcher.processAllAvailable()
      matcher.processAllAvailable()
      assert(matcher.exception.isEmpty && matcher.isActive,
        s"the matcher failed: ${matcher.exception}")
    } finally matcher.stop()

    assertCompletes(storeDir, expected)
  }

  test("the ingest hop releases each batch's materialization") {
    val base = tempDir("graft-topology-release")
    def batch(i: Int): DataFrame = TripStore.rawItems(
      StreamingTripPipeline.parseAndValidate(Seq(
        s"""{"trip_id":"r$i","data_type":"trip_start","pickup_datetime":"2024-05-20 06:00:00","estimated_fare_amount":10.0,"pickup_location_id":1,"dropoff_location_id":2,"vendor_id":3}""",
        s"""{"trip_id":"r$i","data_type":"trip_end","dropoff_datetime":"2024-05-20 06:20:00","fare_amount":25.5,"passenger_count":1.0,"trip_distance":2.2}""")
        .toDF("value")))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    (0 until 20).foreach { i =>
      TripTopology.ingestBatch(batch(i), s"$base/store", s"$base/changes",
        i.toLong)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before === Set.empty,
      "20 ingest batches left materializations in the block manager")
    assert(spark.read.parquet(s"$base/changes").count() === 40L)
  }

  test("the store references the change log: no copy, one fold, and compaction keeps the log") {
    val base = tempDir("graft-topology-layout")
    val storeDir = s"$base/store"
    val changesDir = s"$base/changes"
    // batch i lands trip `l<i>`'s start and end, and re-sends trip
    // `l<i-1>`'s end with a new fare: the newer batch must win the fold
    def end(id: String, fare: Double) =
      s"""{"trip_id":"$id","data_type":"trip_end","dropoff_datetime":"2024-05-20 06:20:00","fare_amount":$fare,"passenger_count":1.0,"trip_distance":2.2}"""
    def batch(i: Int): DataFrame = TripStore.rawItems(
      StreamingTripPipeline.parseAndValidate((Seq(
        s"""{"trip_id":"l$i","data_type":"trip_start","pickup_datetime":"2024-05-20 06:00:00","estimated_fare_amount":10.0,"pickup_location_id":1,"dropoff_location_id":2,"vendor_id":3}""",
        end(s"l$i", 20.0)) ++ (if (i > 0) Seq(end(s"l${i - 1}", 30.0 + i))
        else Seq.empty)).toDF("value")))
    def ingest(ids: Range): Unit = ids.foreach(i =>
      TripTopology.ingestBatch(batch(i), storeDir, changesDir, i.toLong))
    def files(dir: String): Set[String] = {
      val root = new java.io.File(dir)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      if (root.exists()) walk(root).map(_.getPath).toSet else Set.empty
    }
    // recursive: the batch=<id> dirs are not a partition column
    def readLog() =
      spark.read.option("recursiveFileLookup", "true").parquet(changesDir)
    // the fold, computed independently from the change log: per
    // (trip_id, sk), the row of the newest batch
    def logFold(): Set[org.apache.spark.sql.Row] = {
      val log = readLog()
        .withColumn("_b", regexp_extract(col("_metadata.file_path"),
          "batch=([0-9]+)/", 1).cast("long"))
      val newest = log.groupBy("trip_id", "sk").agg(max("_b").as("_b"))
      log.join(newest, Seq("trip_id", "sk", "_b")).drop("_b").distinct()
        .collect().toSet
    }
    def storeRows(): Set[org.apache.spark.sql.Row] = {
      val st = KeyedUpsertSink.readStore(spark, storeDir).get
      st.select(readLog().columns.map(col): _*)
        .collect().toSet
    }

    ingest(0 until 5)
    assert(files(s"$storeDir/delta").count(_.endsWith(".parquet")) === 0,
      "an ingest batch wrote a copy into the store")
    assert(storeRows() === logFold())
    assert(storeRows().size === 5 * 2)

    val logFiles = files(changesDir)
    KeyedUpsertSink.compact(spark, storeDir, TripStore.Keys)
    ingest(5 until 8)
    KeyedUpsertSink.compact(spark, storeDir, TripStore.Keys)
    // the second compaction deleted the references the first folded
    assert(!new java.io.File(s"$storeDir/delta/ing=0").exists())
    assert((logFiles -- files(changesDir)).isEmpty,
      "a compaction deleted change-log files")
    assert(storeRows() === logFold())

    // deltas without _SUCCESS are never read: a torn reference to a
    // committed log dir, and a torn written delta
    val torn = batch(100).filter(col("trip_id") === "l100")
    torn.write.parquet(s"$base/torn/batch=100")
    graft.operators.DeltaLog.adoptDelta(spark, storeDir, 100L, "ing",
      s"$base/torn/batch=100")
    assert(new java.io.File(s"$storeDir/delta/ing=100/_SUCCESS").delete())
    torn.write.parquet(s"$storeDir/delta/mat=101")
    assert(new java.io.File(s"$storeDir/delta/mat=101/_SUCCESS").delete())
    val before = logFold()
    assert(storeRows() === before)
    KeyedUpsertSink.compact(spark, storeDir, TripStore.Keys) // nothing newer
    ingest(8 until 9)
    KeyedUpsertSink.compact(spark, storeDir, TripStore.Keys)
    assert(storeRows() === logFold())
    assert(!storeRows().exists(_.getAs[String]("trip_id") == "l100"))
  }

  test("RocksDB provider + crash between change-log commit and store reference recovers to golden") {
    implicit val ctx = spark.sqlContext
    val base = tempDir("graft-topology-crash")
    val storeDir = s"$base/store"
    val changesDir = s"$base/changes"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // hop 1 with a failpoint: die AFTER the first batch's change-log
      // commit but BEFORE the store references it
      val feed = GoldenFeed.wireJson(spark)
      val input = MemoryStream[String]
      input.addData(feed.take(5000))
      assertInjectedCrash(crashingIngest(input, storeDir, changesDir,
        s"$base/ckpt_ingest", Some(0L)))
      // the crash left the log committed and the store unwritten
      assert(new java.io.File(s"$changesDir/batch=0/_SUCCESS").exists(),
        "the change log commits before the crash point")
      assert(KeyedUpsertSink.readStore(spark, storeDir).isEmpty,
        "the store must not reference a batch before the crash point")
      val parts = logParts(changesDir, 0L)

      // restart from the same checkpoint: Structured Streaming re-runs
      // the SAME batch id, which keeps the committed log dir and lands
      // the store reference
      val q2 = crashingIngest(input, storeDir, changesDir,
        s"$base/ckpt_ingest", None)
      try {
        q2.processAllAvailable()
        input.addData(feed.drop(5000))
        q2.processAllAvailable()
      } finally q2.stop()
      assert(logParts(changesDir, 0L) === parts)

      val m = TripTopology.matcherWriter(spark, changesDir, storeDir,
        s"$base/ckpt_matcher", maxFilesPerTrigger = 4).start()
      try m.processAllAvailable() finally m.stop()

      assertGolden(storeDir)
    } finally oldProvider match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }
}
