package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DeltaLog, IncrementalCdc, KeyedUpsertSink, StoreCommit}

/** The object-store leg of the keyed store (r17 verdict item 1): driven
  * end-to-end over [[SimObjFileSystem]] — a local filesystem whose
  * `rename` is the object-store reality (copy, then delete, with an
  * injectable crash between) — proving that on such a store the
  * [[StoreCommit]] MARKER lock is selected automatically, no control
  * path is ever renamed, the content matches the local store's, and
  * nothing committed is lost across torn writes, a crash inside
  * compaction, or a mid-section lease takeover.
  */
class StoreObjectCommitSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration.set("fs.simobj.impl",
      classOf[SimObjFileSystem].getName)
  }

  /** (simobj URI for the store, raw local path underneath it). */
  private def freshDirs(): (String, String) = {
    val raw = Files.createTempDirectory("graft-simobj").toString
    (s"simobj://$raw/store", s"$raw/store")
  }

  private def mk(rows: (String, Long)*) = rows.toSeq.toDF("k", "ts")

  test("the simulated rename is genuinely non-atomic (the hazard being designed out)") {
    val (_, raw) = freshDirs()
    Files.createDirectories(Paths.get(raw))
    Files.write(Paths.get(raw, "src.txt"), "payload".getBytes("UTF-8"))
    val fs = new Path(s"simobj://$raw/src.txt")
      .getFileSystem(spark.sessionState.newHadoopConf())
    SimObjFileSystem.crashPoint = "after-copy"
    try {
      intercept[java.io.IOException] {
        fs.rename(new Path(s"simobj://$raw/src.txt"),
          new Path(s"simobj://$raw/dst.txt"))
      }
    } finally SimObjFileSystem.crashPoint = ""
    // the tear: both names exist — a pointer "renamed" this way would
    // be resolvable as EITHER file depending on which a reader tries
    assert(Files.exists(Paths.get(raw, "src.txt")))
    assert(Files.exists(Paths.get(raw, "dst.txt")))
  }

  test("simobj stores auto-select markers: no control-path rename, rename store equivalence") {
    val (dir, raw) = freshDirs()
    val localDir = Files.createTempDirectory("graft-localstore").toString
    SimObjFileSystem.renamedPaths.clear()
    // the same batch sequence against both filesystems: create,
    // overwrite a key, re-deliver a batch id, versionWins regress
    // attempt, compact
    def drive(d: String): Unit = {
      KeyedUpsertSink.upsertBatch(mk("a" -> 1L, "b" -> 1L), d, Seq("k"),
        "ts", 0L, versionWins = true)
      KeyedUpsertSink.upsertBatch(mk("b" -> 5L, "c" -> 2L), d, Seq("k"),
        "ts", 1L, versionWins = true)
      KeyedUpsertSink.upsertBatch(mk("b" -> 5L, "c" -> 2L), d, Seq("k"),
        "ts", 1L, versionWins = true) // re-delivery
      KeyedUpsertSink.upsertBatch(mk("b" -> 3L), d, Seq("k"),
        "ts", 2L, versionWins = true) // stale write must not regress b=5
      KeyedUpsertSink.compact(spark, d, Seq("k"))
    }
    drive(dir)
    drive(localDir)
    val obj = KeyedUpsertSink.readStore(spark, dir).get
      .as[(String, Long)].collect().toSet
    val loc = KeyedUpsertSink.readStore(spark, localDir).get
      .as[(String, Long)].collect().toSet
    assert(obj === Set("a" -> 1L, "b" -> 5L, "c" -> 2L))
    assert(obj === loc)
    // the compaction lease ran the election on the object store and the
    // exclusive-create lock file on the local one
    assert(Files.isDirectory(Paths.get(raw, "_LOCK.d")))
    assert(!Files.exists(Paths.get(localDir, "_LOCK.d")))
    // no control path was renamed on the object store — the non-atomic
    // primitive is avoided, not merely survived (parquet task commits
    // may rename under delta/ and base/; those are gated by _SUCCESS,
    // not by rename atomicity)
    val controlRenames = SimObjFileSystem.renamedPaths.asScala
      .filter(p => p.contains("_LOCK") || p.contains("_PARAMS"))
    assert(controlRenames.isEmpty,
      s"control paths renamed on the object store: $controlRenames")
  }

  test("a crash inside compaction keeps the old snapshot and deltas readable") {
    val (dir, _) = freshDirs()
    KeyedUpsertSink.upsertBatch(mk("a" -> 1L, "b" -> 1L), dir, Seq("k"), "ts", 0L)
    KeyedUpsertSink.compact(spark, dir, Seq("k"))
    KeyedUpsertSink.upsertBatch(mk("a" -> 9L, "c" -> 2L), dir, Seq("k"), "ts", 1L)
    def content() = KeyedUpsertSink.readStore(spark, dir).get
      .as[(String, Long)].collect().toSet
    val want = Set("a" -> 9L, "b" -> 1L, "c" -> 2L)
    assert(content() === want)
    KeyedUpsertSink.preCommitHold =
      () => throw new RuntimeException("injected crash before commit")
    try {
      intercept[RuntimeException] {
        KeyedUpsertSink.compact(spark, dir, Seq("k"))
      }
    } finally KeyedUpsertSink.preCommitHold = () => ()
    // the previous snapshot plus the delta still fold to the same store
    assert(content() === want)
    assert(DeltaLog.unfoldedDeltas(spark, dir) === 1)
    // the retried compaction completes cleanly, same fold
    KeyedUpsertSink.compact(spark, dir, Seq("k"))
    assert(DeltaLog.unfoldedDeltas(spark, dir) === 0)
    assert(content() === want)
  }

  test("a torn delta (no _SUCCESS) is never read, by readers or compactions") {
    val (dir, raw) = freshDirs()
    KeyedUpsertSink.upsertBatch(mk("a" -> 1L), dir, Seq("k"), "ts", 0L)
    // a writer crashed mid-write: its delta holds a data file but no
    // _SUCCESS (written here as a real parquet part, then stripped)
    val tornSrc = Files.createTempDirectory("graft-torn").toString + "/d"
    mk("a" -> 7L, "z" -> 7L).coalesce(1).write.parquet(tornSrc)
    val torn = Paths.get(raw, "delta", "batch=5")
    Files.createDirectories(torn)
    Files.list(Paths.get(tornSrc)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, torn.resolve(f.getFileName)))
    def content() = KeyedUpsertSink.readStore(spark, dir).get
      .as[(String, Long)].collect().toSet
    assert(content() === Set("a" -> 1L))
    KeyedUpsertSink.compact(spark, dir, Seq("k"))
    assert(content() === Set("a" -> 1L))
    // the compaction neither folded nor skipped it: once the write
    // completes, the delta reads above the snapshot
    Files.write(torn.resolve("_SUCCESS"), Array.emptyByteArray)
    assert(content() === Set("a" -> 7L, "z" -> 7L))
  }

  test("marker lock: exclusion, stale takeover, and release") {
    val (dir, raw) = freshDirs()
    Files.createDirectories(Paths.get(raw))
    val p1 = StoreCommit.forStore(spark, dir)
    assert(p1.tryAcquire("tok-1", "w1"))
    assert(p1.ownerToken() === Some("tok-1"))
    // a second contender cannot undercut a live owner
    val p2 = StoreCommit.forStore(spark, dir)
    assert(!p2.tryAcquire("tok-2", "w2"))
    assert(p1.ownerToken() === Some("tok-1"))
    // heartbeat refreshes liveness without touching the candidate
    Thread.sleep(60)
    p1.refresh("tok-1")
    assert(p1.lockAge().exists(_._1 < 60))
    // a crashed owner: backdate candidate + heartbeat past any lease
    val election = Paths.get(raw, "_LOCK.d")
    Files.list(election).iterator().asScala.foreach { f =>
      Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 3600 * 1000L))
    }
    val obs = p2.lockAge()
    assert(obs.exists(_._1 > 300000L))
    assert(p2.tryTakeover("tok-2", obs.get._2))
    assert(p2.tryAcquire("tok-2", "w2"))
    assert(p2.ownerToken() === Some("tok-2"))
    // the zombie's release must not dent the new owner's lock
    p1.release("tok-1")
    assert(p2.ownerToken() === Some("tok-2"))
    p2.release("tok-2")
    assert(p2.ownerToken() === None)
  }

  test("takeover removes only the lock that was judged stale, never its replacement") {
    // marker protocol (simobj) and rename protocol (local) both: a
    // waiter whose staleness judgment predates a release+re-acquire
    // must NOT delete the fresh lock (ADVICE r18 — the robbed writer
    // would abort with 'lease lost mid-section' under a benign race)
    val (objDir, objRaw) = freshDirs()
    Files.createDirectories(Paths.get(objRaw))
    val localDir = Files.createTempDirectory("graft-takeover").toString
    for (dir <- Seq(objDir, localDir)) {
      val p = StoreCommit.forStore(spark, dir)
      assert(p.tryAcquire("tok-old", "w-old"))
      val obs = p.lockAge()
      assert(obs.nonEmpty)
      // the observed owner releases and a peer re-acquires in between
      p.release("tok-old")
      assert(p.tryAcquire("tok-new", "w-new"))
      assert(!p.tryTakeover("tok-waiter", obs.get._2),
        s"$dir: takeover deleted a fresh live lock")
      assert(p.ownerToken() === Some("tok-new"))
      p.release("tok-new")
    }
  }

  test("orphan heartbeat files are swept at release") {
    val (dir, raw) = freshDirs()
    Files.createDirectories(Paths.get(raw, "_LOCK.d"))
    // a zombie's stranded heartbeat from a long-gone takeover
    Files.write(Paths.get(raw, "_LOCK.d", "hb-zombie"),
      "123".getBytes("UTF-8"))
    val p = StoreCommit.forStore(spark, dir)
    assert(p.tryAcquire("tok-1", "w1"))
    p.refresh("tok-1")
    p.release("tok-1")
    val left = Files.list(Paths.get(raw, "_LOCK.d")).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(left.isEmpty, s"election dir not swept: $left")
  }

  test("fence on markers: a writer whose lease was usurped aborts before the flip") {
    val (dir, raw) = freshDirs()
    KeyedUpsertSink.upsertBatch(mk("k0" -> 0L), dir, Seq("k"), "ts", 0L)
    KeyedUpsertSink.upsertBatch(mk("k1" -> 1L), dir, Seq("k"), "ts", 1L)
    KeyedUpsertSink.preCommitHold = () => Thread.sleep(1200)
    try {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val victim = new Thread(() => {
        try KeyedUpsertSink.compact(spark, dir, Seq("k"))
        catch { case t: Throwable => errs.add(t) }
      })
      victim.start()
      // wait for the victim's candidate, then usurp: remove it and win
      // the now-free election — the shape of a peer that (wrongly or
      // rightly) judged the lease stale mid-section
      val election = Paths.get(raw, "_LOCK.d")
      val t0 = System.nanoTime()
      def candidates() =
        if (!Files.isDirectory(election)) Seq.empty
        else Files.list(election).iterator().asScala
          .map(_.getFileName.toString).filter(_.startsWith("c")).toSeq
      while (candidates().isEmpty && (System.nanoTime() - t0) / 1e9 < 20)
        Thread.sleep(10)
      assert(candidates().nonEmpty, "victim never acquired the lock")
      Thread.sleep(100)
      val usurper = StoreCommit.forStore(spark, dir)
      val seen = usurper.lockAge()
      assert(seen.nonEmpty, "usurper observed no lock to take over")
      assert(usurper.tryTakeover("tok-usurper", seen.get._2))
      assert(usurper.tryAcquire("tok-usurper", "usurper"))
      victim.join(30000)
      assert(!victim.isAlive, "victim compactor hung")
      assert(errs.size() === 1, "victim must abort once the lease is lost")
      assert(errs.peek().getMessage.contains("lost mid-section"),
        s"wrong failure: ${errs.peek().getMessage}")
      // no snapshot committed: the deltas are still the whole store
      assert(!Files.exists(Paths.get(raw, "base")),
        "dispossessed compactor committed a snapshot")
      assert(KeyedUpsertSink.readStore(spark, dir).get.count() === 2L)
      // and the victim's release did not remove the usurper's lock
      assert(usurper.ownerToken() === Some("tok-usurper"))
      usurper.release("tok-usurper")
    } finally KeyedUpsertSink.preCommitHold = () => ()
  }

  test("params pin on the object store: write-once put, no rename, torn-pin repair") {
    import graft.operators.DeltaLog
    val (dir, raw) = freshDirs()
    Files.createDirectories(Paths.get(raw))
    SimObjFileSystem.renamedPaths.clear()
    DeltaLog.pinParams(spark, dir, Map("depth" -> "4", "width" -> "1024"))
    // idempotent re-pin; conflicting re-pin fails loudly
    DeltaLog.pinParams(spark, dir, Map("depth" -> "4", "width" -> "1024"))
    intercept[IllegalArgumentException] {
      DeltaLog.pinParams(spark, dir, Map("depth" -> "8", "width" -> "1024"))
    }
    assert(DeltaLog.readParams(spark, dir) ===
      Some(Map("depth" -> "4", "width" -> "1024")))
    assert(!SimObjFileSystem.renamedPaths.asScala.exists(_.contains("_PARAMS")),
      "the pin must never ride a rename on an object store")
    // a torn creation-time upload (cut mid-line, no sentinel): reads
    // throw rather than silently passing, and the next pin repairs it
    val (dir2, raw2) = freshDirs()
    Files.createDirectories(Paths.get(raw2))
    Files.write(Paths.get(raw2, "_PARAMS"), "depth=4\nwid".getBytes("UTF-8"))
    intercept[IllegalStateException] { DeltaLog.readParams(spark, dir2) }
    DeltaLog.pinParams(spark, dir2, Map("depth" -> "4", "width" -> "1024"))
    assert(DeltaLog.readParams(spark, dir2) ===
      Some(Map("depth" -> "4", "width" -> "1024")))
  }

  test("the two-hop topology reaches the golden table with the store on the object store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.TripTopology
    implicit val ctx = spark.sqlContext
    // the TABLE (the DynamoDB analogue) lives on the simulated object
    // store and commits through the marker protocol; the hops'
    // checkpoints and the change log stay on local disk — they are
    // Spark-internal state, not this library's commit path
    val (storeDir, raw) = freshDirs()
    val base = Files.createTempDirectory("graft-topo-obj").toString
    val changesDir = s"$base/changes"
    val input = MemoryStream[String]
    val ingest = TripTopology.ingestWriter(input.toDF(), storeDir,
      changesDir, s"$base/ckpt_i").start()
    val matcher = TripTopology.matcherWriter(spark, changesDir, storeDir,
      s"$base/ckpt_m", maxFilesPerTrigger = 64).start()
    try {
      GoldenFeed.wireJson(spark).grouped(20000).foreach { chunk =>
        input.addData(chunk)
        ingest.processAllAvailable()
      }
      matcher.processAllAvailable()
    } finally { matcher.stop(); ingest.stop() }
    val store = KeyedUpsertSink.readStore(spark, storeDir).get.cache()
    try {
      import org.apache.spark.sql.functions.col
      assert(store.filter(col("sk").startsWith("COMPLETED#")).count() ===
        4468L, "golden completed-trip count through the marker protocol")
      assert(store.filter(col("status") === "processed_by_matcher")
        .count() === 2 * 4468L)
    } finally store.unpersist()
    // and both writers' deltas landed on the object store
    val writers = Files.list(Paths.get(raw, "delta")).iterator().asScala
      .map(_.getFileName.toString.takeWhile(_ != '=')).toSet
    assert(writers === Set("ing", "mat"))
  }

  test("an incremental operator rides the seam unchanged on the object store") {
    val (dir, _) = freshDirs()
    val docs1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely different document about spark partitions")
    ).toDF("doc_id", "text")
    val docs2 = Seq(
      (3L, "the quick brown fox jumps over the lazy dog again and again"),
      (4L, "nothing shared with anything else at all here")
    ).toDF("doc_id", "text")
    assert(IncrementalCdc.ingestBatch(docs1, dir, 0L).count() >= 0)
    val pairs = IncrementalCdc.ingestBatch(docs2, dir, 1L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // doc 3 duplicates doc 1's text: the cross-batch pair must surface
    // from the persisted chunk store through the marker-committed reads
    assert(pairs.contains((1L, 3L)), s"expected (1,3) in $pairs")
  }
}
