package graft.operators

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The LOCK SEAM under [[KeyedUpsertSink]]'s compaction lease: the
  * filesystem verbs of the writer lock behind one interface with two
  * implementations, because the two filesystem families at play offer
  * OPPOSITE primitives:
  *
  *  - local/HDFS give ATOMIC RENAME and ATOMIC EXCLUSIVE CREATE —
  *    [[RenameCommit]] uses an exclusive-create `_LOCK` file with an
  *    mtime lease, and takes a stale lock over by renaming it aside;
  *  - object stores (S3/GCS/ABFS) have NO rename (it is a copy-then-
  *    delete that a crash can tear in half) and NO exclusive create in
  *    the Hadoop API, but every PUT of a NEW key is atomic and
  *    read-after-write consistent (S3 since 2020-12; GCS/ABFS always) —
  *    [[MarkerCommit]] builds the lock from immutable new-key puts
  *    alone: a candidate-file election under `_LOCK.d/` (lowest name
  *    wins).
  *
  * Which implementation a store uses is pinned by its ON-DISK LAYOUT
  * first (a store that already has `_LOCK.d/` keeps the election, one
  * holding a `_LOCK` file keeps rename), then by `graft.store.commit` /
  * `GRAFT_STORE_COMMIT` (`rename` | `marker` | `auto`, default auto),
  * where `auto` selects markers for object-store URI schemes and rename
  * everywhere else.
  *
  * What the seam does NOT change: the lease/heartbeat/fence state
  * machine in [[KeyedUpsertSink]] is protocol-independent and runs
  * unchanged on either implementation — only the verbs below differ.
  * The store's data commits need no seam: deltas and snapshots are
  * `_SUCCESS`-gated directories ([[DeltaLog]]).
  */
private[graft] sealed trait StoreCommitProtocol {

  /** Try to acquire the writer lock exclusively. False = a peer holds
    * it (the caller waits / checks staleness).
    */
  def tryAcquire(token: String, who: String): Boolean

  /** The token of the lock's current owner, if any lock exists. */
  def ownerToken(): Option[String]

  /** Milliseconds since the current lock's liveness signal (creation or
    * last heartbeat), PLUS an opaque handle naming the lock observed —
    * [[tryTakeover]] takes the same handle back so a takeover removes
    * exactly the lock that was judged stale, never a peer's fresh lock
    * that replaced it between the two calls (ADVICE r18). None when no
    * lock exists, INCLUDING a lock that vanishes mid-observation: a
    * raced release must read as "no lock — retry the acquire", never as
    * epoch-age "maximally stale".
    */
  def lockAge(): Option[(Long, String)]

  /** Heartbeat: refresh the lock's liveness signal. Callers verify
    * ownership first ([[ownerToken]]) — a zombie must never extend a
    * new owner's lease.
    */
  def refresh(token: String): Unit

  /** Try to remove the lock judged stale — `observed` is the handle
    * [[lockAge]] returned for that judgment: true = this caller won the
    * removal and may immediately attempt [[tryAcquire]]; false = the
    * observed lock is no longer current (a racing waiter already won,
    * or the owner released and a peer re-acquired) — re-observe rather
    * than deleting whatever lock is there now.
    */
  def tryTakeover(token: String, observed: String): Boolean

  /** Release the lock if it still carries `token` (a taken-over
    * zombie's release must not delete the new owner's lock).
    */
  def release(token: String): Unit
}

private[graft] object StoreCommit {

  private[graft] val LockFile = "_LOCK"
  private[graft] val ElectionDir = "_LOCK.d"

  /** URI schemes whose filesystems rename by copy (no atomic rename,
    * no exclusive create): the `auto` protocol picks markers for these.
    * `simobj` is the test harness's simulated object store.
    */
  private val ObjectSchemes = Set("s3", "s3a", "s3n", "gs", "abfs",
    "abfss", "oss", "cos", "cosn", "wasb", "wasbs", "simobj")

  /** Resolved protocols, one per canonical store path: the choice is
    * pinned by layout (or, for a brand-new store, by config/scheme —
    * deterministic for a given path), so re-probing the filesystem on
    * every compaction would pay repeated exists round-trips for an
    * answer that never changes (ADVICE r18).
    */
  private val resolved = new java.util.concurrent.ConcurrentHashMap[
    String, StoreCommitProtocol]()

  /** Control-path filesystem-op counters, keyed `<protocol>.<verb>` —
    * the measured face of the lock seam's overhead (r18 verdict items 2
    * and 6), snapshotted by perfbench. One LongAdder add per fs call.
    */
  private val fsOps = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.LongAdder]()
  private def fsOp(name: String): Unit =
    fsOps.computeIfAbsent(name,
      _ => new java.util.concurrent.atomic.LongAdder).add(1L)
  private[graft] def fsOpsSnapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    fsOps.asScala.map { case (k, v) => k -> v.sum() }.toMap
  }

  private[graft] def forStore(spark: SparkSession,
      storeDir: String): StoreCommitProtocol = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(storeDir).getFileSystem(conf)
    val canonical = fs.makeQualified(new Path(storeDir)).toString
    resolved.computeIfAbsent(canonical, _ => {
      // the on-disk layout pins the protocol for an existing store.
      // Only a genuinely-absent path reads as "no layout"; any OTHER
      // probe failure PROPAGATES (ADVICE r18) — a transient exists()
      // error on an election store would otherwise select and cache
      // RenameCommit, splitting the lock across two protocols.
      def has(name: String) = try fs.exists(new Path(storeDir, name))
        catch { case _: java.io.FileNotFoundException => false }
      if (has(ElectionDir)) new MarkerCommit(fs, storeDir)
      else if (has(LockFile)) new RenameCommit(fs, storeDir)
      else {
        val mode = sys.props.get("graft.store.commit")
          .orElse(sys.env.get("GRAFT_STORE_COMMIT")).getOrElse("auto")
        mode match {
          case "rename" => new RenameCommit(fs, storeDir)
          case "marker" => new MarkerCommit(fs, storeDir)
          case _ =>
            val scheme = Option(new Path(canonical).toUri.getScheme)
              .getOrElse("file")
            if (ObjectSchemes(scheme)) new MarkerCommit(fs, storeDir)
            else new RenameCommit(fs, storeDir)
        }
      }
    })
  }

  /** Read a small control file fully. None ONLY for a file that is
    * genuinely absent (raced release); any other filesystem failure
    * PROPAGATES — swallowing a transient read error here would surface
    * as "no lock" (ADVICE r18).
    */
  private def slurp(fs: FileSystem, p: Path,
      opTag: String = ""): Option[String] =
    try {
      if (opTag.nonEmpty) fsOp(opTag)
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** The exclusive-create-and-mtime implementation: correct wherever
    * rename and exclusive create are atomic (local fs, HDFS).
    */
  private final class RenameCommit(fs: FileSystem,
      storeDir: String) extends StoreCommitProtocol {
    private val lock = new Path(storeDir, LockFile)

    def tryAcquire(token: String, who: String): Boolean =
      try {
        fsOp("rename.create")
        val out = fs.create(lock, false) // exclusive: fails if held
        try {
          try out.write(s"$token\n$who\n${System.currentTimeMillis()}"
            .getBytes("UTF-8"))
          finally out.close()
          true
        } catch { case e: Throwable =>
          // our create succeeded but the token write failed: a
          // half-created fresh-mtime lock nobody owns would block every
          // writer for a full lease — remove it before rethrowing
          try fs.delete(lock, false) catch { case _: Throwable => () }
          throw e
        }
      } catch { case _: IOException => false }

    def ownerToken(): Option[String] =
      slurp(fs, lock, "rename.open").flatMap(_.linesIterator.nextOption())

    def lockAge(): Option[(Long, String)] =
      try {
        fsOp("rename.stat")
        val age = System.currentTimeMillis() -
          fs.getFileStatus(lock).getModificationTime
        // handle = the owner token ("" for a half-created token-less
        // lock): tryTakeover re-reads it, so a release+re-acquire race
        // between the observation and the takeover targets nothing
        Some((age, ownerToken().getOrElse("")))
      } catch { case _: Throwable => None } // raced release — no lock

    def refresh(token: String): Unit = {
      fsOp("rename.touch")
      fs.setTimes(lock, System.currentTimeMillis(), -1)
    }

    def tryTakeover(token: String, observed: String): Boolean = {
      // the lock must still carry the OBSERVED identity: a fresh lock
      // from a release+re-acquire race since the staleness judgment is
      // a live peer's, not the stale one's (ADVICE r18)
      val still = try ownerToken().getOrElse("")
        catch { case _: Throwable => return false }
      if (still != observed) return false
      // atomic: the rename succeeds for exactly one waiter (the source
      // vanishes for the rest), so two cross-process waiters can never
      // both delete-and-create over each other
      val aside = new Path(storeDir, s"$LockFile.stale-$token")
      fsOp("rename.rename")
      val won = try fs.rename(lock, aside)
        catch { case _: Throwable => false }
      if (won) try fs.delete(aside, false) catch { case _: Throwable => () }
      won
    }

    def release(token: String): Unit =
      try {
        if (ownerToken().contains(token)) { fsOp("rename.delete"); fs.delete(lock, false) }
      } catch { case _: Throwable => () } // lock already taken over
  }

  /** The immutable-marker implementation for object stores: every
    * durability step is a PUT OF A NEW KEY (atomic and list-consistent
    * on S3/GCS/ABFS) — no rename, no exclusive create, no mtime update
    * on an existing object.
    *
    * LOCK: `_LOCK.d/c<millis>-<token>` candidate files; the owner is
    * the lowest-named live candidate. Acquire = (list empty) → put own
    * candidate → re-list → own candidate is still the minimum (else
    * self-delete and report failure). Because a contender only inserts
    * after seeing an empty list, two candidates can coexist only when
    * both inserted within one list round-trip; the deterministic name
    * order elects one and the loser withdraws. The residual overlap
    * (winner decided before the loser's candidate became visible) is
    * microseconds wide and is closed where it matters by the FENCE:
    * [[ownerToken]] re-lists at fence time — seconds later — and the
    * non-minimum writer aborts before its snapshot commit. Heartbeat =
    * overwrite-put of `hb-<token>` (full-object PUT is atomic);
    * staleness = age of max(candidate, heartbeat). Takeover = delete of
    * the stale candidate + its heartbeat (idempotent; the post-delete
    * acquire race is settled by the same election).
    *
    * Clock-skew note: candidate names embed the writer's wall clock
    * only to make LATER contenders sort after the current owner; a
    * contender never self-inserts below a live candidate (the pre-check
    * refuses), so skew cannot steal a held lock — it can only reorder
    * contenders racing for a FREE one, where any winner is correct.
    */
  private final class MarkerCommit(fs: FileSystem,
      storeDir: String) extends StoreCommitProtocol {
    private val election = new Path(storeDir, ElectionDir)

    private def listNames(dir: Path, prefix: String): Seq[String] = {
      // a missing dir is an empty listing; any OTHER failure propagates
      // (a swallowed transient list error would read as "no lock" — the
      // same silent-stale hazard slurp documents)
      fsOp("marker.list")
      (try fs.listStatus(dir).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty })
        .map(_.getPath.getName).filter(_.startsWith(prefix)).sorted
    }

    // --- lock --------------------------------------------------------

    private def tokenOf(candidate: String): String =
      candidate.dropWhile(_ != '-').drop(1)

    private def candidates(): Seq[String] = listNames(election, "c")

    def tryAcquire(token: String, who: String): Boolean = {
      if (candidates().nonEmpty) return false // held — defer, never undercut
      fs.mkdirs(election)
      val name = f"c${System.currentTimeMillis()}%020d-$token"
      val p = new Path(election, name)
      try {
        fsOp("marker.create")
        val out = fs.create(p, false)
        try out.write(s"$who\n${System.currentTimeMillis()}".getBytes("UTF-8"))
        finally out.close()
      } catch { case _: Throwable =>
        try fs.delete(p, false) catch { case _: Throwable => () }
        return false
      }
      // election: the lowest name among the candidates now visible wins;
      // a loser withdraws its candidate so the winner's next list is clean
      val won = candidates().headOption.map(tokenOf).contains(token)
      if (!won) try fs.delete(p, false) catch { case _: Throwable => () }
      won
    }

    def ownerToken(): Option[String] = candidates().headOption.map(tokenOf)

    private def hbPath(token: String) = new Path(election, s"hb-$token")

    def lockAge(): Option[(Long, String)] =
      candidates().headOption.flatMap { n =>
        // a candidate deleted between the list and the stat is a RACED
        // RELEASE: report "no lock" so the caller retries its acquire —
        // never epoch-0 mtime = "maximally stale", which would send a
        // waiter to delete a peer's freshly-acquired live lock
        // (ADVICE r18). The handle is the candidate NAME, so the
        // takeover targets exactly this observation.
        fsOp("marker.stat")
        val cand = try Some(fs.getFileStatus(new Path(election, n))
          .getModificationTime)
          catch { case _: java.io.FileNotFoundException => None }
        cand.map { c =>
          val hb = try fs.getFileStatus(hbPath(tokenOf(n)))
            .getModificationTime
            catch { case _: Throwable => 0L } // no heartbeat yet
          (System.currentTimeMillis() - math.max(c, hb), n)
        }
      }

    def refresh(token: String): Unit = {
      // overwrite-put of the heartbeat object: atomic full-object PUT,
      // no mtime mutation of an existing key needed
      fsOp("marker.create")
      val out = fs.create(hbPath(token), true)
      try out.write(System.currentTimeMillis().toString.getBytes("UTF-8"))
      finally out.close()
    }

    /** Remove hb-<token> files whose token matches no live candidate:
      * takeover deletes the candidate, but a racing zombie heartbeat
      * (or a failed hb delete) can strand the hb file forever, growing
      * `_LOCK.d/` unboundedly under takeover churn (ADVICE r18). The hb
      * files are listed BEFORE the candidates, so a contender acquiring
      * between the two lists keeps its heartbeat.
      */
    private def sweepOrphanHeartbeats(): Unit =
      try {
        val hbs = listNames(election, "hb-").map(_.stripPrefix("hb-"))
        val live = candidates().map(tokenOf).toSet
        hbs.filterNot(live).foreach { t =>
          fsOp("marker.delete")
          try fs.delete(hbPath(t), false) catch { case _: Throwable => () }
        }
      } catch { case _: Throwable => () }

    def tryTakeover(token: String, observed: String): Boolean = {
      // delete exactly the candidate that was JUDGED stale, and only
      // while it is still the head of the election — whatever replaced
      // it since the observation is a live peer's lock (ADVICE r18)
      if (!candidates().headOption.contains(observed)) return false
      try fs.delete(hbPath(tokenOf(observed)), false)
      catch { case _: Throwable => () }
      // delete is the election's tiebreak here: exactly one concurrent
      // waiter gets true from removing the same candidate file
      fsOp("marker.delete")
      val won = try fs.delete(new Path(election, observed), false)
        catch { case _: Throwable => false }
      if (won) sweepOrphanHeartbeats()
      won
    }

    def release(token: String): Unit = {
      candidates().filter(n => tokenOf(n) == token).foreach { n =>
        fsOp("marker.delete")
        try fs.delete(new Path(election, n), false)
        catch { case _: Throwable => () }
      }
      try fs.delete(hbPath(token), false) catch { case _: Throwable => () }
      sweepOrphanHeartbeats()
    }
  }
}
