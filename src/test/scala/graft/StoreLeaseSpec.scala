package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.KeyedUpsertSink

/** The writer-lease protocol behind [[KeyedUpsertSink]]'s concurrent-
  * writer support (r16 verdict item 3), pinned at the unit level —
  * TopologySpec proves the composed two-hop topology under the lease;
  * this spec proves the lease mechanics themselves through the public
  * API: mutual exclusion of racing writers, stale-lease takeover (the
  * crashed-writer case), the wait-cap error (the wedged-peer case),
  * writer-id generation namespacing, and reclamation of a crashed
  * writer's unflipped generation.
  */
class StoreLeaseSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def freshDir() =
    Files.createTempDirectory("graft-lease").toString

  test("racing writers with distinct writerIds both land; store converges row-level") {
    val dir = freshDir()
    val mk = (k: String, v: Long) =>
      Seq((k, v)).toDF("k", "ts")
    // two writers, each hammering the same store from its own thread
    // with its OWN keys and batch ids — the lease must serialize the
    // read-merge-write-flip-prune sections so no flip is lost
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq("a", "b").map { w =>
      new Thread(() => {
        try {
          (0 until 6).foreach { i =>
            KeyedUpsertSink.upsertBatch(mk(s"$w$i", i.toLong), dir,
              Seq("k"), "ts", i.toLong, versionWins = true, writerId = w)
          }
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"writer threads failed: ${errs.peek()}")
    val store = KeyedUpsertSink.readStore(spark, dir).get
    // every write from both writers survived — a lost pointer-map
    // update (the unserialized read-modify-write race) would drop keys
    assert(store.count() === 12L)
    assert(store.select("k").as[String].collect().toSet ===
      (0 until 6).flatMap(i => Seq(s"a$i", s"b$i")).toSet)
  }

  test("a stale lease (crashed writer) is taken over, not deadlocked") {
    val dir = freshDir()
    Files.createDirectories(Paths.get(dir))
    val lock = Paths.get(dir, "_LOCK")
    Files.write(lock, "dead-token\ncrashed-writer\n0".getBytes("UTF-8"))
    // age the lock past the lease window
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 24 * 3600 * 1000L))
    // a live writer must take the expired lease over and proceed
    KeyedUpsertSink.upsertBatch(Seq(("k1", 1L)).toDF("k", "ts"), dir,
      Seq("k"), "ts", 0L)
    assert(KeyedUpsertSink.readStore(spark, dir).get.count() === 1L)
    // the crashed writer's lock did not survive its takeover
    assert(!Files.exists(lock) ||
      !new String(Files.readAllBytes(lock), "UTF-8").startsWith("dead-token"))
  }

  test("a live peer's lock makes acquisition fail loudly after the wait cap") {
    val dir = freshDir()
    Files.createDirectories(Paths.get(dir))
    val lock = Paths.get(dir, "_LOCK")
    Files.write(lock, s"live-token\npeer\n${System.currentTimeMillis()}"
      .getBytes("UTF-8"))
    val oldWait = sys.props.put("graft.store.lock.wait.ms", "300")
    try {
      val e = intercept[IllegalStateException] {
        KeyedUpsertSink.upsertBatch(Seq(("k1", 1L)).toDF("k", "ts"), dir,
          Seq("k"), "ts", 0L)
      }
      assert(e.getMessage.contains("store lock"))
    } finally oldWait match {
      case Some(v) => sys.props.put("graft.store.lock.wait.ms", v)
      case None => sys.props.remove("graft.store.lock.wait.ms")
    }
    // the failed acquisition must not have dented the peer's lock
    assert(new String(Files.readAllBytes(lock), "UTF-8")
      .startsWith("live-token"))
  }

  test("a long critical section outlives the lease via the heartbeat (no takeover window)") {
    val dir = freshDir()
    val lock = Paths.get(dir, "_LOCK")
    val oldLease = sys.props.put("graft.store.lease.ms", "600")
    try {
      // an upsert whose in-lock evaluation takes several lease periods:
      // a per-row sleeping udf on a single partition (test-only)
      val slow = org.apache.spark.sql.functions.udf { (s: String) =>
        Thread.sleep(25); s
      }
      val batch = spark.range(0, 100, 1, 1)
        .selectExpr("cast(id as string) as k", "id as ts")
        .withColumn("k", slow(org.apache.spark.sql.functions.col("k")))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val writer = new Thread(() => {
        try KeyedUpsertSink.upsertBatch(batch, dir, Seq("k"), "ts", 0L)
        catch { case t: Throwable => errs.add(t) }
      })
      writer.start()
      // watch the lock while the body runs: the heartbeat must keep its
      // observed age well under the 600 ms lease at every sample, or a
      // cross-process peer would be entitled to take it over mid-write
      var maxAge = 0L
      while (writer.isAlive) {
        if (Files.exists(lock)) {
          val age = System.currentTimeMillis() -
            Files.getLastModifiedTime(lock).toMillis
          if (age > maxAge) maxAge = age
        }
        Thread.sleep(40)
      }
      writer.join()
      assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
      assert(maxAge < 600L,
        s"lock aged ${maxAge}ms past a heartbeat period — a peer could take over")
      assert(KeyedUpsertSink.readStore(spark, dir).get.count() === 100L)
      assert(!Files.exists(lock), "lease must be released after the body")
    } finally oldLease match {
      case Some(v) => sys.props.put("graft.store.lease.ms", v)
      case None => sys.props.remove("graft.store.lease.ms")
    }
  }

  test("writerId namespaces generations: equal batch ids never collide") {
    val dir = freshDir()
    KeyedUpsertSink.upsertBatch(Seq(("a", 1L)).toDF("k", "ts"), dir,
      Seq("k"), "ts", batchId = 3L, writerId = "ing")
    KeyedUpsertSink.upsertBatch(Seq(("b", 1L)).toDF("k", "ts"), dir,
      Seq("k"), "ts", batchId = 3L, writerId = "mat")
    val gens = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
      .map(_.getName).toSet
    assert(gens === Set("gen-ing-3", "gen-mat-3"),
      s"expected per-writer generation dirs, got $gens")
    assert(KeyedUpsertSink.readStore(spark, dir).get.count() === 2L)
  }

  test("fence: a writer whose lease was taken over aborts before the flip") {
    val dir = freshDir()
    val lock = Paths.get(dir, "_LOCK")
    // seed the store so the victim writer has a pointer it WOULD flip
    KeyedUpsertSink.upsertBatch(Seq(("k0", 0L)).toDF("k", "ts"), dir,
      Seq("k"), "ts", 0L)
    val ptrBefore = new String(
      Files.readAllBytes(Paths.get(dir, "_CURRENT")), "UTF-8")
    KeyedUpsertSink.preFlipHold = () => Thread.sleep(800)
    try {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val writer = new Thread(() => {
        try KeyedUpsertSink.upsertBatch(Seq(("k1", 1L)).toDF("k", "ts"),
          dir, Seq("k"), "ts", 1L)
        catch { case t: Throwable => errs.add(t) }
      })
      writer.start()
      // while the victim holds the section open at the seam, simulate a
      // takeover: replace its lock with a foreign owner's. Wait for the
      // victim's OWN lock first (it creates it at acquisition) so the
      // overwrite can't race ahead of the acquire.
      val t0 = System.nanoTime()
      while (!Files.exists(lock) && (System.nanoTime() - t0) / 1e9 < 20)
        Thread.sleep(10)
      assert(Files.exists(lock), "victim never acquired the lock")
      Thread.sleep(100)
      Files.write(lock,
        s"usurper-token\nusurper\n${System.currentTimeMillis()}"
          .getBytes("UTF-8"))
      writer.join(30000)
      assert(!writer.isAlive, "victim writer hung")
      assert(errs.size() === 1, "victim must abort once the lease is lost")
      assert(errs.peek().getMessage.contains("lost mid-section"),
        s"wrong failure: ${errs.peek().getMessage}")
      // the flip never happened: pointer content is byte-identical and
      // the store still reads the seed row only
      val ptrAfter = new String(
        Files.readAllBytes(Paths.get(dir, "_CURRENT")), "UTF-8")
      assert(ptrAfter === ptrBefore, "dispossessed writer flipped the pointer")
      assert(KeyedUpsertSink.readStore(spark, dir).get.count() === 1L)
      // the victim's release must NOT have deleted the usurper's lock
      assert(new String(Files.readAllBytes(lock), "UTF-8")
        .startsWith("usurper-token"))
    } finally KeyedUpsertSink.preFlipHold = () => ()
  }

  test("an unflipped generation left by a crashed writer is reclaimed at the next flip") {
    val dir = freshDir()
    KeyedUpsertSink.upsertBatch(Seq(("k", 1L)).toDF("k", "ts"), dir,
      Seq("k"), "ts", 0L, versionWins = true)
    // what a writer that died between its generation write and its
    // pointer flip leaves behind: a written bucket no pointer names,
    // plus the fresh in-flight marker older writers stamped on it
    val orphan = Paths.get(dir, "gen-x-9")
    Files.createDirectories(orphan.resolve("bucket=0"))
    Files.write(orphan.resolve("bucket=0/part-00000.parquet"),
      "never flipped".getBytes("UTF-8"))
    Files.write(orphan.resolve("_INFLIGHT"), "inflight".getBytes("UTF-8"))
    KeyedUpsertSink.upsertBatch(Seq(("k2", 2L)).toDF("k", "ts"), dir,
      Seq("k"), "ts", 1L, versionWins = true)
    assert(!Files.exists(orphan),
      "only the lease holder writes generations: an unnamed one is garbage")
    assert(KeyedUpsertSink.readStore(spark, dir).get
      .as[(String, Long)].collect().toSet === Set("k" -> 1L, "k2" -> 2L))
  }

  test("a crashed writer's FRESH lock is waited out and taken over (cap > lease)") {
    val dir = freshDir()
    Files.createDirectories(Paths.get(dir))
    val lock = Paths.get(dir, "_LOCK")
    // a just-crashed writer: foreign token, mtime NOW — under the old
    // 120s default cap with a 300s lease every waiter threw before the
    // lock could ever go stale; the cap must outlive the lease
    Files.write(lock,
      s"dead-token\ncrashed\n${System.currentTimeMillis()}".getBytes("UTF-8"))
    val oldLease = sys.props.put("graft.store.lease.ms", "700")
    // leave the wait cap at its 0=auto default: lease + 60 s
    try {
      // watch for the MOMENT the dead token leaves the lock — total
      // upsert wall-time includes the Spark job and would mask a
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
      KeyedUpsertSink.upsertBatch(Seq(("k1", 1L)).toDF("k", "ts"), dir,
        Seq("k"), "ts", 0L)
      watcher.join(2000)
      val tookMs = takeoverAt.get()
      assert(tookMs >= 600,
        s"dead token left the lock at ${tookMs} ms — before the 700 ms " +
          "lease expired")
      assert(KeyedUpsertSink.readStore(spark, dir).get.count() === 1L)
    } finally oldLease match {
      case Some(v) => sys.props.put("graft.store.lease.ms", v)
      case None => sys.props.remove("graft.store.lease.ms")
    }
  }
}
