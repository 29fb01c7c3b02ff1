package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S4: last-write-wins keyed upsert store — the semantics of the
  * reference's DynamoDB `put_item`/`batch_write_item` overwrite
  * (scripts/lambda1.py:152-177, scripts/lambda2.py:145-166): writing a
  * key REPLACES its row, so re-delivering the same batch leaves the
  * store's content identical instead of appending duplicates (the gap an
  * append-parquet store hits under at-least-once replay).
  *
  * WRITE POLICY — merge-on-read, on the [[DeltaLog]] layout: an upsert
  * lands its batch as ONE delta, `delta/<writerId>=<batchId>`, written
  * with Overwrite and gated by `_SUCCESS`, and takes no lock. Its cost
  * follows the batch, not the store — the cost shape of the reference's
  * DynamoDB writes, which touch only the batch's keys. Re-delivering a
  * batch id rewrites the same delta (the Structured Streaming
  * idempotent-sink contract). The first upsert pins `keys`, `orderCol`,
  * `versionWins` and `bucketCols` in the store's `_PARAMS`; a later
  * upsert asking for other values fails loudly.
  *
  * READ — one merge rule ([[foldRule]]): per key, the newest snapshot's
  * rows and every unfolded delta's rows are ranked, and `max_by` keeps
  * the winner. Snapshot rows rank below every delta. With `versionWins`
  * the rank is `orderCol` desc, then batch id desc, then a whole-row
  * hash — a conditional-write / version-LWW merge where a stale replayed
  * batch cannot regress a newer row. Without it (put-overwrite) the
  * rank is batch id desc, then `orderCol` desc nulls last (duplicate
  * keys WITHIN a batch: the reference's sequential put_items make the
  * last one win), then the row hash. The hash makes equal-rank ties
  * pick the same winner on every replay.
  *
  * Put-overwrite ranks deltas by batch id, so it assumes ONE sequential
  * writer per `writerId` with rising batch ids — the streaming sink
  * contract. A fresh checkpoint against an old store is a new query and
  * must write under a new `writerId`: its restarted batch ids would
  * otherwise rank below (or hide under) the old query's.
  *
  * COMPACTION is the only locked section: [[compact]] folds the newest
  * snapshot and the unfolded deltas into a fresh snapshot, hash-bucketed
  * by `bucketCols` with the bucket count following the row count
  * ([[DeltaLog.compactBucketed]]), and records per writer the highest
  * batch id it folded. A delta still being written has no `_SUCCESS`, so
  * a compaction never sees (or skips) it. Deltas the PREVIOUS snapshot
  * folded are deleted when a new one commits, so a lazy reader resolved
  * before a compaction keeps its files for one more round. An upsert
  * compacts by itself once [[CompactAfterDeltas]] deltas are unfolded,
  * so a long-lived store keeps a bounded number of files.
  *
  * CONCURRENT WRITERS (the reference's Lambda1 and Lambda2 writing one
  * DynamoDB table in parallel, lambda1.py:104-205 + lambda2.py:145-166):
  * writers never wait on each other — each lands its own deltas under
  * its own `writerId`, and ROW-level convergence under any interleaving
  * comes from the fold (versionWins: a monotonic rank, so writer order
  * cannot regress a row). Compactions serialize on the store LEASE
  * ([[withStoreLock]]): a per-store JVM monitor plus a lease file
  * through the [[StoreCommit]] lock protocol (exclusive create on
  * local/HDFS, a candidate-file election on object stores), with
  * heartbeat, stale takeover and a fence before the snapshot commit.
  *
  * 100 TB posture: an upsert writes O(batch) bytes at any store size; a
  * read folds one snapshot plus at most [[CompactAfterDeltas]] batch
  * deltas; [[readStoreForKeys]] reads only the snapshot buckets a probe
  * hashes into, and the bucket count grows with the rows at each
  * compaction. Compaction is the O(store) step, amortized over
  * [[CompactAfterDeltas]] batches. At warehouse scale the same layout is
  * a merge-on-read table format (Delta/Iceberg/Hudi MOR) or the
  * reference's DynamoDB.
  */
object KeyedUpsertSink {

  /** Test-only hook, run inside a compaction's locked section just
    * before its fence and snapshot write: specs install a
    * sleeper/thrower to stage takeover or crash interleavings
    * deterministically. Identity in production — tests that install
    * MUST restore it.
    */
  @volatile private[graft] var preCommitHold: () => Unit = () => ()

  /** Cumulative milliseconds writers spent acquiring the store lease
    * (monitor + lock-file wait), keyed by writer id — the measured face
    * of the two-hop topology's lock contention (r17 verdict item 3):
    * Bench's topology section snapshots this per schedule so lease wait
    * is a recorded number, not an inference from wall-clock deltas.
    * Instrumentation only — one map add per acquisition.
    */
  private[graft] val leaseWaitMs = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.LongAdder]()

  private def recordLeaseWait(who: String, ms: Long): Unit = {
    // who is "compact:<writerId>:<batchId>" or "compact" — aggregate by
    // the writer, not the batch: an empty writerId (the single-writer
    // default) must still collapse to ONE key, or a long-running
    // streaming job grows this map by one entry per micro-batch
    // (ADVICE r18)
    val key = who.split(":", -1) match {
      case Array(_, w, _*) => if (w.nonEmpty) w else "(default)"
      case _ => who
    }
    leaseWaitMs.computeIfAbsent(key,
      _ => new java.util.concurrent.atomic.LongAdder).add(ms)
  }

  private[graft] def leaseWaitSnapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    leaseWaitMs.asScala.map { case (k, v) => k -> v.sum() }.toMap
  }

  /** Commit telemetry: `commits`, one per landed delta or snapshot,
    * and `compactions`, one per snapshot, recorded globally and
    * snapshotted by the benches' topology sections. Instrumentation
    * only.
    */
  private[graft] val commitStats = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.LongAdder]()

  private[graft] def commitStatsSnapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    commitStats.asScala.map { case (k, v) => k -> v.sum() }.toMap
  }

  private[graft] def commitStatsClear(): Unit = commitStats.clear()

  /** Cumulative per-phase milliseconds of the write path — the delta
    * write (`merge`), the compaction (`compact`) — keyed by
    * `<phase>:<writerId>`: the attribution feed for the topology
    * probes' per-chunk timelines (r19 verdict item 1), so "throughput
    * decayed" decomposes into WHICH phase grew. Instrumentation only —
    * one map add per phase per batch.
    */
  private[graft] val phaseMs = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.LongAdder]()

  private[graft] def recordPhase(phase: String, writerId: String,
      ms: Long): Unit =
    phaseMs.computeIfAbsent(
      s"$phase:${if (writerId.nonEmpty) writerId else "(default)"}",
      _ => new java.util.concurrent.atomic.LongAdder).add(ms)

  private[graft] def phaseSnapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    phaseMs.asScala.map { case (k, v) => k -> v.sum() }.toMap
  }

  private[graft] def phaseClear(): Unit = phaseMs.clear()

  /** Per-store JVM monitors: two writers in one JVM (the composed
    * topology's two streaming queries under local[*]) serialize here
    * without filesystem round-trips; the `_LOCK` lease extends the same
    * exclusion across processes.
    */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `body` as the store's exclusive writer: JVM monitor first,
    * then the `_LOCK` lease file (exclusive create; content = a random
    * token + `who` + wall-clock millis). A lock older than
    * `GRAFT_STORE_LEASE_MS` (default 300,000) is presumed crashed and
    * TAKEN OVER — atomically, by renaming the stale file aside: only
    * the waiter whose rename succeeds proceeds to the create race, so
    * two cross-process waiters can never both delete-and-create over
    * each other. While `body` runs, a daemon HEARTBEAT refreshes the
    * lock's mtime every leaseMs/4 (checking the token first, so a
    * zombie never extends a new owner's lease) — without it any
    * compaction longer than the lease would be "taken over"
    * mid-critical-section by a live peer.
    *
    * FENCING: `body` receives a `fence: () => Unit` it MUST call
    * immediately before its snapshot commit. A compactor that lost the
    * lease mid-section (a long STW pause, a wedged heartbeat) would
    * otherwise resume, commit a snapshot folded from a pre-takeover
    * listing, and grace-delete deltas under the new owner. `fence()` verifies
    * the lock still carries our token (a missing lock or a foreign
    * token throws — the batch aborts and at-least-once re-delivery
    * re-runs it), refreshes the mtime so no peer may legally judge the
    * lease stale from here on, then verifies again to catch a takeover
    * racing the refresh. A microsecond residual window remains on
    * rename-only filesystems (see the fence implementation) — reachable
    * only after the lease ALREADY expired mid-section, not in normal
    * operation.
    *
    * Acquisition gives up after `GRAFT_STORE_LOCK_WAIT_MS` so a wedged
    * peer surfaces as an error rather than a silent hang; the default
    * (0 = auto) is leaseMs + 60 s, STRICTLY LONGER than the lease — a
    * shorter cap would make every waiter behind a crashed writer throw
    * before the stale-takeover path could ever trigger. Release deletes
    * the lock only if it still carries OUR token.
    */
  private def withStoreLock[T](spark: SparkSession, storeDir: String,
      who: String)(body: (() => Unit) => T): T = {
    val fs = fileSystem(spark, storeDir)
    val canonical = fs.makeQualified(new Path(storeDir)).toString
    val monitor = jvmLocks.computeIfAbsent(canonical, _ => new Object)
    val tWait0 = System.nanoTime() // monitor wait counts as lease wait
    monitor.synchronized {
      fs.mkdirs(new Path(storeDir))
      // all filesystem verbs of the lock protocol (exclusive acquire,
      // liveness, heartbeat, takeover, release) go through the commit
      // seam — exclusive-create + mtime on rename-capable filesystems,
      // a candidate-file election + heartbeat puts on object stores
      // (see StoreCommit); the lease state machine here is identical
      // over either
      val proto = StoreCommit.forStore(spark, storeDir)
      val token = java.util.UUID.randomUUID().toString
      // system property first (test seam), env second, default last
      def knob(prop: String, env: String, dflt: String): Long =
        sys.props.get(prop).orElse(sys.env.get(env)).getOrElse(dflt).toLong
      val leaseMs =
        knob("graft.store.lease.ms", "GRAFT_STORE_LEASE_MS", "300000")
      // 0 = auto: lease + 60 s. The cap must EXCEED the lease, or a
      // waiter behind a crashed writer (lock age < leaseMs) throws
      // before the lock ever goes stale enough to take over.
      val waitCapMs0 =
        knob("graft.store.lock.wait.ms", "GRAFT_STORE_LOCK_WAIT_MS", "0")
      val waitCapMs = if (waitCapMs0 <= 0) leaseMs + 60000L else waitCapMs0
      val t0 = System.nanoTime()
      var acquired = false
      while (!acquired) {
        if (proto.tryAcquire(token, who)) acquired = true
        else {
          // a missing lock (raced release) reads as not-stale — retry.
          // The takeover carries the OBSERVED handle so it removes
          // exactly the lock judged stale, never a peer's fresh lock
          // that replaced it in between (ADVICE r18).
          val staleObs = proto.lockAge()
            .filter { case (age, _) => age > leaseMs }.map(_._2)
          var wonTakeover = false
          staleObs.foreach { obs =>
            wonTakeover = proto.tryTakeover(token, obs)
            if (wonTakeover)
              System.err.println(
                s"[store] taking over expired lease at $storeDir")
          }
          // the cap and the backoff apply on every non-acquired pass
          // EXCEPT the one that just won a takeover (ADVICE r17: the
          // winner has already removed the stale lock — throwing here
          // wastes the takeover and blames a peer that is gone; let it
          // attempt the acquire it earned). A stale lock whose takeover
          // persistently fails (permissions) still hits the cap instead
          // of busy-spinning forever.
          if (!wonTakeover) {
            if ((System.nanoTime() - t0) / 1e6 > waitCapMs)
              throw new IllegalStateException(
                s"could not acquire store lock at $storeDir within " +
                  s"${waitCapMs}ms — is a peer writer wedged? (lease" +
                  s" expires after ${leaseMs}ms)")
            Thread.sleep(50)
          }
        }
      }
      recordLeaseWait(who, (System.nanoTime() - tWait0) / 1000000L)
      // heartbeat: keep the lease visibly alive while body runs longer
      // than leaseMs (compaction is corpus-proportional by design)
      val hbStop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val hb = new Thread(() => {
        val period = math.max(leaseMs / 4, 50L)
        var mine = true
        while (!hbStop.get && mine) {
          try {
            Thread.sleep(period)
            if (!hbStop.get) {
              if (proto.ownerToken().contains(token)) proto.refresh(token)
              else mine = false // taken over (e.g. a long GC pause) — stop
            }
          } catch {
            case _: InterruptedException => mine = false
            case _: Throwable => () // transient fs error — keep trying
          }
        }
      }, s"graft-store-lease-$who")
      hb.setDaemon(true)
      hb.start()
      // the fence the body calls before its commit: verify the
      // lock still carries OUR token (a missing lock or a foreign token
      // means a peer took over — abort, never commit), refresh the mtime
      // so no peer may LEGALLY judge the lease stale from here on, then
      // verify AGAIN — a takeover decided between the first check and
      // the refresh would have renamed our lock aside and created its
      // own, which the second read sees as a foreign token. Residual
      // window on rename-only filesystems: a peer whose staleness
      // judgment predates our refresh could land its rename+create
      // between the second read and the commit (microseconds); closing it
      // fully needs a CAS the fs API lacks — in-JVM writers are closed
      // by the monitor, and the window requires the lease to have
      // ALREADY expired (a wedged heartbeat), not normal operation.
      def verifyOwner(): Unit = {
        val owner = try proto.ownerToken() catch { case _: Throwable => None }
        if (!owner.contains(token))
          throw new IllegalStateException(
            s"store lease at $storeDir lost mid-section (owner now " +
              s"${owner.getOrElse("<none>")}) — aborting before the " +
              "snapshot commit; the deltas stay readable")
      }
      val fence: () => Unit = () => {
        verifyOwner()
        proto.refresh(token)
        verifyOwner()
      }
      try body(fence) finally {
        hbStop.set(true)
        hb.interrupt()
        proto.release(token)
      }
    }
  }

  private def fileSystem(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Compaction fires once this many committed deltas are unfolded.
    * The read fan-in sets it: a read lists its delta roots in one
    * driver-side pass up to `spark.sql.sources.parallelPartitionDiscovery
    * .threshold` paths (32 by default) and with an extra Spark listing
    * job past it, so a fold over at most 32 delta roots stays one cheap
    * listing. Not an option.
    */
  private[graft] val CompactAfterDeltas = 32

  /** The fold's per-row source rank: the delta's batch id. */
  private val BatchIdCol = "_bid"

  /** What the first upsert pins in `_PARAMS`. */
  private case class Pin(keys: Seq[String], orderCol: String,
      versionWins: Boolean, bucketCols: Seq[String]) {
    def params: Map[String, String] = Map("keys" -> keys.mkString(","),
      "orderCol" -> orderCol, "versionWins" -> versionWins.toString,
      "bucketCols" -> bucketCols.mkString(","))
  }

  private def readPin(spark: SparkSession, storeDir: String): Option[Pin] =
    DeltaLog.readParams(spark, storeDir).map { m =>
      def cols(k: String) = m(k).split(",").toSeq.filter(_.nonEmpty)
      Pin(cols("keys"), m("orderCol"), m("versionWins").toBoolean,
        cols("bucketCols"))
    }

  /** The columns the store's snapshots are bucketed by, or None before
    * the first upsert.
    */
  private[graft] def pinnedBucketCols(spark: SparkSession,
      storeDir: String): Option[Seq[String]] =
    readPin(spark, storeDir).map(_.bucketCols)

  /** The one merge rule (see class doc): per key, `max_by` over a rank
    * struct — a hash aggregate with map-side partial reduction and no
    * sort, as [[graft.streaming.TripStore.finalState]] (r20 measured it
    * faster than a `row_number` window). Struct ordering puts a null
    * field lowest, so `orderCol` ranks desc NULLS LAST either way.
    */
  private def foldRule(pin: Pin)(all: DataFrame): DataFrame = {
    val cols = all.columns.filterNot(_ == BatchIdCol)
    val rowHash = xxhash64(cols.map(col): _*)
    val rank =
      if (pin.versionWins) struct(col(pin.orderCol), col(BatchIdCol), rowHash)
      else struct(col(BatchIdCol), col(pin.orderCol), rowHash)
    all.groupBy(pin.keys.map(col): _*)
      .agg(max_by(struct(cols.map(col): _*), rank).as("_w"))
      .select(cols.map(c => col("_w").getField(c).as(c)): _*)
  }

  /** The store's current content, or None before the first upsert. */
  def readStore(spark: SparkSession, storeDir: String): Option[DataFrame] =
    readPin(spark, storeDir).flatMap(pin =>
      DeltaLog.readFolded(spark, storeDir, foldRule(pin), BatchIdCol))

  /** The store RESTRICTED to the snapshot buckets `probe`'s rows hash
    * into — the point-lookup read: `probeCols` are the probe-side
    * columns positionally matching the store's pinned `bucketCols`. The
    * snapshot is pruned to the probe's buckets and the delta tail (at
    * most [[CompactAfterDeltas]] batches) folds in full, so a
    * fixed-size batch's lookup stays flat as the store grows
    * ([[DeltaLog.readFoldedFor]]). Exact for equi-lookups on the bucket
    * columns: every store row matching a probe row's bucket columns
    * lives in that probe row's bucket; co-resident foreign rows ride
    * along and are join-inert downstream. None before the first upsert.
    */
  def readStoreForKeys(spark: SparkSession, storeDir: String,
      probe: DataFrame, probeCols: Seq[String]): Option[DataFrame] =
    readPin(spark, storeDir).flatMap { pin =>
      require(probeCols.size == pin.bucketCols.size,
        s"probe columns $probeCols do not match the store's bucket " +
          s"columns ${pin.bucketCols}")
      DeltaLog.readFoldedFor(spark, storeDir, foldRule(pin), pin.bucketCols,
        probe.select(probeCols.zip(pin.bucketCols)
          .map { case (p, b) => col(p).as(b) }: _*), BatchIdCol)
    }

  /** Land `batch` in the store at `storeDir` as one delta (see class
    * doc). `bucketCols` — a SUBSET of the keys, so point lookups on
    * that subset can prune buckets ([[readStoreForKeys]]) — defaults to
    * the keys on creation and to the pinned value afterwards.
    * `writerId` names this writer's deltas; two writers sharing a store
    * MUST use distinct ids (their micro-batch ids are independent). No
    * lock is taken unless this upsert fires the compaction.
    */
  def upsertBatch(batch: DataFrame, storeDir: String, keys: Seq[String],
      orderCol: String, batchId: Long, versionWins: Boolean = false,
      writerId: String = "", bucketCols: Seq[String] = Seq.empty): Unit = {
    val spark = batch.sparkSession
    require(bucketCols.forall(keys.contains),
      s"bucketCols $bucketCols must be a subset of keys $keys")
    // a pin still being written by a concurrent first upsert reads as
    // torn: pinParams below settles that race
    val pinned = try readPin(spark, storeDir)
      catch { case _: IllegalStateException => None }
    val pin = Pin(keys, orderCol, versionWins,
      if (bucketCols.nonEmpty) bucketCols
      else pinned.map(_.bucketCols).getOrElse(keys))
    pinned match {
      case Some(have) => require(have == pin,
        s"store at $storeDir is keyed by ${have.keys} on ${have.orderCol} " +
          s"(versionWins=${have.versionWins}) and bucketed by " +
          s"${have.bucketCols}, but this upsert asks for $pin")
      case None => DeltaLog.pinParams(spark, storeDir, pin.params)
    }
    val t0 = System.nanoTime()
    DeltaLog.writeDelta(batch, storeDir, batchId,
      if (writerId.nonEmpty) writerId else DeltaLog.DefaultWriter)
    recordPhase("merge", writerId, (System.nanoTime() - t0) / 1000000L)
    count("commits")
    if (DeltaLog.unfoldedDeltas(spark, storeDir) >= CompactAfterDeltas)
      compactUnderLease(spark, storeDir, s"compact:$writerId:$batchId",
        writerId, CompactAfterDeltas)
  }

  private def count(stat: String): Unit =
    commitStats.computeIfAbsent(stat,
      _ => new java.util.concurrent.atomic.LongAdder).increment()

  /** Full compaction: fold the newest snapshot and every unfolded delta
    * into one fresh bucketed snapshot, under the store lease and its
    * fence (see class doc). No-op on an empty store or when nothing is
    * newer than the snapshot. `keys` must be the pinned keys.
    */
  def compact(spark: SparkSession, storeDir: String, keys: Seq[String]): Unit = {
    readPin(spark, storeDir).foreach(pin => require(pin.keys == keys,
      s"store at $storeDir is keyed by ${pin.keys}, not $keys"))
    compactUnderLease(spark, storeDir, "compact", "compact", 1)
  }

  /** Compact under the lease when at least `minTail` deltas are still
    * unfolded once the lease is held — a peer may have compacted while
    * this caller waited.
    */
  private def compactUnderLease(spark: SparkSession, storeDir: String,
      who: String, phaseWriter: String, minTail: Int): Unit =
    withStoreLock(spark, storeDir, who) { fence =>
      val t0 = System.nanoTime()
      try readPin(spark, storeDir).foreach { pin =>
        if (DeltaLog.unfoldedDeltas(spark, storeDir) >= minTail) {
          DeltaLog.compactBucketed(spark, storeDir, foldRule(pin),
            pin.bucketCols, batchIdCol = BatchIdCol,
            beforeCommit = () => { preCommitHold(); fence() })
          count("compactions")
        }
      } finally recordPhase("compact", phaseWriter,
        (System.nanoTime() - t0) / 1000000L)
    }

  /** foreachBatch adapter: `writeStream.foreachBatch(
    * KeyedUpsertSink.upserter(dir, Seq("trip_id","sk"), "ts"))`.
    * Structured Streaming re-runs a failed micro-batch with the SAME
    * batch id, which rewrites the same delta — exactly-once store
    * content on top of at-least-once delivery.
    */
  def upserter(storeDir: String, keys: Seq[String], orderCol: String,
      versionWins: Boolean = false,
      writerId: String = ""): (DataFrame, Long) => Unit =
    (batch, id) =>
      upsertBatch(batch, storeDir, keys, orderCol, id, versionWins, writerId)
}
