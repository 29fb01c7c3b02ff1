package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DeltaLog, KeyedUpsertSink}
import graft.streaming.TripStore

/** Concurrent writers and the compaction lease behind
  * [[KeyedUpsertSink]], pinned at the unit level through the public API.
  * Writers land deltas without a lock; the lease serializes compactions
  * only. TopologySpec proves the composed two-hop topology; this spec
  * proves convergence of racing writers and compactions, and the lease
  * mechanics themselves: stale-lease takeover (the crashed-compactor
  * case), the wait-cap error (the wedged-peer case), the heartbeat, the
  * fence, and writer-id delta namespacing.
  */
class StoreLeaseSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def freshDir() = tempDir("graft-lease")

  private def seed(dir: String): Unit =
    KeyedUpsertSink.upsertBatch(Seq(("k0", 0L)).toDF("k", "ts"), dir,
      Seq("k"), "ts", 0L)

  test("racing writers with distinct writerIds both land; store converges row-level") {
    // the two-hop shape: an ingest writer puts RAW items (rank 0), a
    // matcher writer puts processed items (rank 1) for the same keys —
    // sometimes before their RAW put lands — and a third thread
    // compacts over and over while both write
    val dir = freshDir()
    val trips = 48
    def item(t: Int, rank: Long, batch: Int) =
      (f"t$t%03d", "RAW#trip_start", if (rank == 0L) "raw" else "processed_by_matcher",
        rank, if (rank == 0L) null else f"2024-05-25 10:$batch%02d:00", t * 10.0 + rank)
    val ingBatches = (0 until 8).map(b => (b * 6 until b * 6 + 6).map(item(_, 0L, b)))
    // the matcher trails ingest by one batch, except batch 0 which runs
    // AHEAD (the out-of-order put the versionWins fold must absorb)
    val matBatches = (0 until 8).map(b =>
      (if (b == 0) (42 until 48) else ((b - 1) * 6 until b * 6)).map(item(_, 1L, b)))
    def df(rows: Seq[(String, String, String, Long, String, Double)]) =
      rows.toDF("trip_id", "sk", "status", "status_rank", "processed_at", "v")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writing = new java.util.concurrent.atomic.AtomicInteger(2)
    def writer(w: String, batches: Seq[Seq[(String, String, String, Long, String, Double)]]) =
      new Thread(() => {
        try batches.zipWithIndex.foreach { case (b, i) =>
          KeyedUpsertSink.upsertBatch(df(b), dir, TripStore.Keys,
            TripStore.OrderCol, i.toLong, versionWins = true, writerId = w)
        } catch { case t: Throwable => errs.add(t) }
        finally writing.decrementAndGet()
      })
    val compactor = new Thread(() => {
      try while (writing.get() > 0) {
        if (new java.io.File(dir, "_PARAMS").exists())
          KeyedUpsertSink.compact(spark, dir, TripStore.Keys)
        Thread.sleep(50)
      } catch { case t: Throwable => errs.add(t) }
    })
    val threads = Seq(writer("ing", ingBatches), writer("mat", matBatches), compactor)
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(errs.isEmpty, s"writer threads failed: ${errs.peek()}")
    assert(new java.io.File(dir, "base").exists(),
      "no compaction committed while the writers ran")
    val all = df((ingBatches ++ matBatches).flatten)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("trip_id", "sk", "status", "status_rank", "processed_at", "v")
        .as[(String, String, String, Long, String, Double)].collect().toSet
    val want = rows(TripStore.finalState(all))
    assert(want.size === trips)
    assert(rows(KeyedUpsertSink.readStore(spark, dir).get) === want,
      "a racing write or compaction lost or regressed a row")
    // at-least-once re-delivery of batches a snapshot already folded
    // rewrites their deltas; readers skip them, and the content holds
    Seq(2, 5).foreach(i => KeyedUpsertSink.upsertBatch(df(ingBatches(i)),
      dir, TripStore.Keys, TripStore.OrderCol, i.toLong, versionWins = true,
      writerId = "ing"))
    assert(rows(KeyedUpsertSink.readStore(spark, dir).get) === want)
    // and once more after a final compaction folds everything
    KeyedUpsertSink.compact(spark, dir, TripStore.Keys)
    assert(DeltaLog.unfoldedDeltas(spark, dir) === 0)
    assert(rows(KeyedUpsertSink.readStore(spark, dir).get) === want)
  }

  test("a stale lease (crashed writer) is taken over, not deadlocked") {
    val dir = freshDir()
    seed(dir)
    val lock = Paths.get(dir, "_LOCK")
    Files.write(lock, "dead-token\ncrashed-writer\n0".getBytes("UTF-8"))
    // age the lock past the lease window
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 24 * 3600 * 1000L))
    // a live compactor must take the expired lease over and proceed
    KeyedUpsertSink.compact(spark, dir, Seq("k"))
    assert(DeltaLog.unfoldedDeltas(spark, dir) === 0)
    assert(KeyedUpsertSink.readStore(spark, dir).get.count() === 1L)
    // the crashed writer's lock did not survive its takeover
    assert(!Files.exists(lock) ||
      !new String(Files.readAllBytes(lock), "UTF-8").startsWith("dead-token"))
  }

  test("a live peer's lock makes acquisition fail loudly after the wait cap") {
    val dir = freshDir()
    seed(dir)
    val lock = Paths.get(dir, "_LOCK")
    Files.write(lock, s"live-token\npeer\n${System.currentTimeMillis()}"
      .getBytes("UTF-8"))
    val oldWait = sys.props.put("graft.store.lock.wait.ms", "300")
    try {
      val e = intercept[IllegalStateException] {
        KeyedUpsertSink.compact(spark, dir, Seq("k"))
      }
      assert(e.getMessage.contains("store lock"))
    } finally oldWait match {
      case Some(v) => sys.props.put("graft.store.lock.wait.ms", v)
      case None => sys.props.remove("graft.store.lock.wait.ms")
    }
    // the failed acquisition must not have dented the peer's lock
    assert(new String(Files.readAllBytes(lock), "UTF-8")
      .startsWith("live-token"))
    // and a writer never waits on the lease: upserts still land
    KeyedUpsertSink.upsertBatch(Seq(("k1", 1L)).toDF("k", "ts"), dir,
      Seq("k"), "ts", 1L)
    assert(KeyedUpsertSink.readStore(spark, dir).get.count() === 2L)
  }

  test("a long critical section outlives the lease via the heartbeat (no takeover window)") {
    val dir = freshDir()
    seed(dir)
    val lock = Paths.get(dir, "_LOCK")
    val oldLease = sys.props.put("graft.store.lease.ms", "600")
    // a compaction whose locked section spans several lease periods
    KeyedUpsertSink.preCommitHold = () => Thread.sleep(2000)
    try {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val compactor = new Thread(() => {
        try KeyedUpsertSink.compact(spark, dir, Seq("k"))
        catch { case t: Throwable => errs.add(t) }
      })
      compactor.start()
      // watch the lock while the body runs: the heartbeat must keep its
      // observed age well under the 600 ms lease at every sample, or a
      // cross-process peer would be entitled to take it over mid-write
      var maxAge = 0L
      while (compactor.isAlive) {
        if (Files.exists(lock)) {
          val age = System.currentTimeMillis() -
            Files.getLastModifiedTime(lock).toMillis
          if (age > maxAge) maxAge = age
        }
        Thread.sleep(40)
      }
      compactor.join()
      assert(errs.isEmpty, s"compactor failed: ${errs.peek()}")
      assert(maxAge < 600L,
        s"lock aged ${maxAge}ms past a heartbeat period — a peer could take over")
      assert(DeltaLog.unfoldedDeltas(spark, dir) === 0)
      assert(!Files.exists(lock), "lease must be released after the body")
    } finally {
      KeyedUpsertSink.preCommitHold = () => ()
      oldLease match {
        case Some(v) => sys.props.put("graft.store.lease.ms", v)
        case None => sys.props.remove("graft.store.lease.ms")
      }
    }
  }

  test("writerId namespaces generations: equal batch ids never collide") {
    val dir = freshDir()
    KeyedUpsertSink.upsertBatch(Seq(("a", 1L)).toDF("k", "ts"), dir,
      Seq("k"), "ts", batchId = 3L, writerId = "ing")
    KeyedUpsertSink.upsertBatch(Seq(("b", 1L)).toDF("k", "ts"), dir,
      Seq("k"), "ts", batchId = 3L, writerId = "mat")
    val deltas = new java.io.File(dir, "delta").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(deltas === Set("ing=3", "mat=3"),
      s"expected per-writer delta dirs, got $deltas")
    assert(KeyedUpsertSink.readStore(spark, dir).get.count() === 2L)
    // a compaction records both writers' marks
    KeyedUpsertSink.compact(spark, dir, Seq("k"))
    assert(DeltaLog.unfoldedDeltas(spark, dir) === 0)
    assert(KeyedUpsertSink.readStore(spark, dir).get.count() === 2L)
  }

  test("fence: a writer whose lease was taken over aborts before the flip") {
    val dir = freshDir()
    val lock = Paths.get(dir, "_LOCK")
    seed(dir)
    KeyedUpsertSink.upsertBatch(Seq(("k1", 1L)).toDF("k", "ts"), dir,
      Seq("k"), "ts", 1L)
    KeyedUpsertSink.preCommitHold = () => Thread.sleep(800)
    try {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val compactor = new Thread(() => {
        try KeyedUpsertSink.compact(spark, dir, Seq("k"))
        catch { case t: Throwable => errs.add(t) }
      })
      compactor.start()
      // while the victim holds the section open, simulate a takeover:
      // replace its lock with a foreign owner's. Wait for the victim's
      // OWN lock first (it creates it at acquisition) so the overwrite
      // can't race ahead of the acquire.
      val t0 = System.nanoTime()
      while (!Files.exists(lock) && (System.nanoTime() - t0) / 1e9 < 20)
        Thread.sleep(10)
      assert(Files.exists(lock), "victim never acquired the lock")
      Thread.sleep(100)
      Files.write(lock,
        s"usurper-token\nusurper\n${System.currentTimeMillis()}"
          .getBytes("UTF-8"))
      compactor.join(30000)
      assert(!compactor.isAlive, "victim compactor hung")
      assert(errs.size() === 1, "victim must abort once the lease is lost")
      assert(errs.peek().getMessage.contains("lost mid-section"),
        s"wrong failure: ${errs.peek().getMessage}")
      // no snapshot committed: both deltas are still the store
      assert(!new java.io.File(dir, "base").exists(),
        "dispossessed compactor committed a snapshot")
      assert(DeltaLog.unfoldedDeltas(spark, dir) === 2)
      assert(KeyedUpsertSink.readStore(spark, dir).get.count() === 2L)
      // the victim's release must NOT have deleted the usurper's lock
      assert(new String(Files.readAllBytes(lock), "UTF-8")
        .startsWith("usurper-token"))
    } finally KeyedUpsertSink.preCommitHold = () => ()
  }

  test("a crashed writer's FRESH lock is waited out and taken over (cap > lease)") {
    val dir = freshDir()
    seed(dir)
    val lock = Paths.get(dir, "_LOCK")
    // a just-crashed compactor: foreign token, mtime NOW — under the old
    // 120s default cap with a 300s lease every waiter threw before the
    // lock could ever go stale; the cap must outlive the lease
    Files.write(lock,
      s"dead-token\ncrashed\n${System.currentTimeMillis()}".getBytes("UTF-8"))
    val oldLease = sys.props.put("graft.store.lease.ms", "700")
    // leave the wait cap at its 0=auto default: lease + 60 s
    try {
      // watch for the MOMENT the dead token leaves the lock — total
      // compaction wall-time includes the Spark jobs and would mask a
      // premature takeover (e.g. an inverted staleness comparison)
      val takeoverAt = new java.util.concurrent.atomic.AtomicLong(-1L)
      val t0 = System.nanoTime()
      val watcher = new Thread(() => {
        var dead = true
        while (dead) {
          dead = try Files.exists(lock) &&
            new String(Files.readAllBytes(lock), "UTF-8")
              .startsWith("dead-token")
          catch { case _: Throwable => true } // raced rename — keep watching
          if (dead) Thread.sleep(20)
          else takeoverAt.set((System.nanoTime() - t0) / 1000000)
        }
      })
      watcher.setDaemon(true)
      watcher.start()
      KeyedUpsertSink.compact(spark, dir, Seq("k"))
      watcher.join(2000)
      val tookMs = takeoverAt.get()
      assert(tookMs >= 600,
        s"dead token left the lock at ${tookMs} ms — before the 700 ms " +
          "lease expired")
      assert(DeltaLog.unfoldedDeltas(spark, dir) === 0)
      assert(KeyedUpsertSink.readStore(spark, dir).get.count() === 1L)
    } finally oldLease match {
      case Some(v) => sys.props.put("graft.store.lease.ms", v)
      case None => sys.props.remove("graft.store.lease.ms")
    }
  }
}
