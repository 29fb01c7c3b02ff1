package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{BenchGuard, SparkEntry, Tables}
import graft.operators.{KeyedUpsertSink, StoreCommit}
import graft.sources.TripSources
import graft.streaming.{MicroBatchTuning, StreamingTripPipeline, TripTopology}

/** The benchmark's measuring process. It runs one workload against the
  * library's public entry points and writes the raw observations
  * (timings, sink outputs, progress records, traced spans) as JSON to
  * `out=<dir>/result.json`; `perfbench/run.py` turns them into metrics
  * and checks the outputs.
  *
  * Arguments are `key=value` pairs: workload, in, out, cores, trace
  * (0|1), setups, plus the workload's own sizes.
  */
object Main {

  final class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing $k="))
    def int(k: String): Int = apply(k).toInt
    def double(k: String): Double = apply(k).toDouble
    def list(k: String): Seq[String] = apply(k).split(",").toSeq.filter(_.nonEmpty)
  }

  def main(args: Array[String]): Unit = {
    val bootMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    val o = new Opts(args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap)
    val res = mutable.LinkedHashMap[String, Any]("jvm_boot_s" -> bootMs / 1000.0)
    val load0 = BenchGuard.load1m
    val (b0, s0, _, st0) = BenchGuard.cpuJiffies()
    val t0 = System.nanoTime()
    val tracer = if (o("trace") == "1") Some(new Tracer) else None
    o("workload") match {
      case "trip_stream" => tripStream(o, tracer, res)
      case "trip_topology" => tripTopology(o, tracer, res)
      case "queries_small" => queries(o, tracer, res)
      case w => sys.error(s"unknown workload $w")
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val (b1, s1, _, st1) = BenchGuard.cpuJiffies()
    res("box") = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "loadavg_start" -> load0, "loadavg_end" -> BenchGuard.load1m,
      "ext_cpu_cores" -> math.max(0L, (b1 - b0) - (s1 - s0)) / BenchGuard.JiffiesPerSec / secs,
      "steal_cores" -> math.max(0L, st1 - st0) / BenchGuard.JiffiesPerSec / secs)
    res("peak_rss_mb") = vmHwmMb()
    tracer.foreach { t =>
      res("trace_callback_ms") = t.callbackMs
      Files.writeString(Paths.get(o("out"), "trace.json"), Json(Map(
        "spans" -> t.spanRecords, "triggers" -> t.triggers.asScala.toSeq)))
    }
    Files.writeString(Paths.get(o("out"), "result.json"), Json(res))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Peak resident set of this process, from /proc/self/status VmHWM. */
  def vmHwmMb(): Double = scala.io.Source.fromFile("/proc/self/status")
    .getLines().find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def session(o: Opts, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o("work")}/warehouse")
      // every trigger of a run stays in recentProgress for the metrics
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    Tables.configure(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Set-up repeated `setups` times: a fresh session and the workload's
    * `start` each time; everything but the last cycle's session and run
    * is stopped. Returns those with each cycle's seconds. The warm-up
    * that follows runs once (see `warmed`).
    */
  def setupCycles[R](o: Opts, cores: Int)(start: (SparkSession, Int) => R)(
      stop: R => Unit): (SparkSession, R, Seq[Double]) = {
    var spark: SparkSession = null
    var run: Option[R] = None
    val secs = (1 to o.int("setups")).map { i =>
      run.foreach(stop)
      if (spark != null) stopSession(spark)
      val t = System.nanoTime()
      spark = session(o, cores)
      run = Some(start(spark, i))
      (System.nanoTime() - t) / 1e9
    }
    (spark, run.get, secs)
  }

  /** Runs the workload's warm-up once on the measured session, recording
    * its seconds, then attaches the tracer (when tracing).
    */
  def warmed(res: mutable.Map[String, Any], tracer: Option[Tracer],
      spark: SparkSession)(body: => Unit): Unit = {
    res("warm_s") = timeS(body)
    tracer.foreach(_.attach(spark))
  }

  def readLines(path: String): IndexedSeq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toIndexedSeq

  def timeS(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  // ---- trip_stream --------------------------------------------------------

  /** A running `StreamingTripPipeline.pipeline` over a MemoryStream with
    * the benchmark's own foreachBatch sink, which records each completed
    * trip and the nanoTime at which the sink saw it.
    */
  final class TripPipelineRun(spark: SparkSession, name: String, ckpt: String) {
    import spark.implicits._
    val input: MemoryStream[String] = MemoryStream[String](spark)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Double, Long)]()
    val query: StreamingQuery = StreamingTripPipeline.pipeline(input.toDF())
      .writeStream.queryName(name)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.select("trip_id", "pickup_datetime", "fare_amount").collect()
        val t = System.nanoTime()
        rows.foreach(r => seen.add((r.getString(0), r.getString(1),
          if (r.isNullAt(2)) Double.NaN else r.getDouble(2), t)))
      }
      .start()

    def drain(lines: Seq[String], chunk: Int): Double = timeS {
      lines.grouped(chunk).foreach { c => input.addData(c); query.processAllAvailable() }
    }
  }

  def streamConf(spark: SparkSession, chunk: Int, cores: Int): Unit =
    spark.conf.set("spark.sql.shuffle.partitions",
      MicroBatchTuning.shufflePartitionsFor(chunk.toLong, cores).toString)

  def tripStream(o: Opts, tracer: Option[Tracer],
      res: mutable.Map[String, Any]): Unit = {
    val cores = o.int("cores")
    val chunk = o.int("chunk")
    val all = readLines(s"${o("in")}/feed.jsonl")
    val (warmFeed, feed) = all.splitAt(o.int("warm_events"))
    val drainN = o.int("drain_events")
    val rate = o.double("rate")
    val pacedN = o.int("paced_events")
    val (spark, run, setups) = setupCycles(o, cores) { (s, i) =>
      streamConf(s, chunk, cores)
      new TripPipelineRun(s, "trip_stream", s"${o("work")}/ckpt$i")
    }(_.query.stop())
    res("setup_cycles_s") = setups
    // the warm feed (event times before the measured feed's) goes through
    // the measured query, so its first triggers' one-time costs stay out
    // of the measured phases
    warmed(res, tracer, spark)(run.drain(warmFeed, chunk))
    val snap0 = Snapshots(spark)
    val wall0 = tracer.map(_.nowMs)
    val drainS = run.drain(feed.take(drainN), chunk)
    res("drain") = Map("events" -> drainN, "seconds" -> drainS)

    // paced phase: the producer flushes every tickMs; the events of
    // tick k (rate * tickMs / 1000 of them) are due at T0 + k * tickMs
    val paced = feed.slice(drainN, drainN + pacedN)
    val tickMs = o.int("tick_ms")
    val perTick = math.max(1, (rate * tickMs / 1000).round.toInt)
    val t0Ns = System.nanoTime() + 20000000L
    val t0Epoch = System.currentTimeMillis() + 20.0
    val sends = mutable.ArrayBuffer[(Double, Int)]()
    var lateMax = 0.0
    paced.grouped(perTick).zipWithIndex.foreach { case (batch, k) =>
      val dueNs = t0Ns + k * tickMs * 1000000L
      val sleepNs = dueNs - System.nanoTime()
      if (sleepNs > 0) Thread.sleep(sleepNs / 1000000L, (sleepNs % 1000000L).toInt)
      run.input.addData(batch)
      val after = System.nanoTime()
      lateMax = math.max(lateMax, (after - dueNs) / 1e6)
      sends += (((after - t0Ns) / 1e6, k * perTick + batch.size))
    }
    val sentDoneMs = (System.nanoTime() - t0Ns) / 1e6
    run.query.processAllAvailable()
    val wall1 = tracer.map(_.nowMs)
    val progress = run.query.recentProgress.toSeq.map { p =>
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.getOrDefault("triggerExecution", 0L).toDouble
      Map("end_ms" -> (end - t0Epoch), "rows" -> p.numInputRows)
    }
    run.query.stop()
    res("paced") = Map("rate" -> rate, "events" -> pacedN,
      "first_index" -> (warmFeed.size + drainN),
      "tick_ms" -> tickMs, "per_tick" -> perTick,
      "sends" -> sends.map { case (t, n) => Seq(t, n) }, "progress" -> progress,
      "sent_done_ms" -> sentDoneMs, "late_ms_max" -> lateMax)
    writeTrips(o, run.seen.asScala.toSeq.map { case (id, pu, fare, ns) =>
      (id, pu, fare, (ns - t0Ns) / 1e6) })
    res("blocks_retained_mb") = retainedMb(spark)
    tracer.foreach { t =>
      res("layers") = layerSums(t, spark, snap0, wall0.get, wall1.get) ++
        storeLayers(snap0, Snapshots(spark))
      import spark.implicits._
      val static = feed.toDF("value")
      val pv = (1 to 3).map { _ =>
        timeS(TripSources.validated(TripSources.parseEvents(static))
          .write.format("noop").mode("overwrite").save()) * 1000
      }.sorted
      t.detach(spark)
      stopSession(spark)
      val one = session(o, 1)
      streamConf(one, chunk, 1)
      val l1 = new TripPipelineRun(one, "drain_local1", s"${o("work")}/ckpt-l1")
      val l1S = try {
        l1.drain(warmFeed, chunk)
        l1.drain(feed.take(drainN), chunk)
      } finally l1.query.stop()
      res("layers_extra") = Map("sources.parse_validate_ms" -> pv(1),
        "drain_ev_per_s_local1" -> drainN / l1S)
    }
  }

  def writeTrips(o: Opts, rows: Seq[(String, String, Double, Double)]): Unit =
    Files.write(Paths.get(o("out"), "trips.tsv"), rows.map { case (id, pu, fare, t) =>
      s"$id\t$pu\t${fare.toString}\t$t"
    }.asJava)

  // ---- trip_topology -----------------------------------------------------

  final class TopologyRun(spark: SparkSession, dir: String, tag: String) {
    import spark.implicits._
    val input: MemoryStream[String] = MemoryStream[String](spark)
    val store = s"$dir/store"
    val ingest: StreamingQuery = TripTopology.ingestWriter(input.toDF(), store,
      s"$dir/changes", s"$dir/ckpt-ing").queryName(s"${tag}_ingest").start()
    val matcher: StreamingQuery = TripTopology.matcherWriter(spark, s"$dir/changes",
      store, s"$dir/ckpt-mat").queryName(s"${tag}_matcher").start()

    /** Closed loop: each chunk waits for the ingest hop, the matcher runs
      * concurrently and is drained at the end. Returns per-chunk
      * (send, ingest-done) epoch ms.
      */
    def run(lines: Seq[String], chunk: Int): Seq[(Double, Double)] = {
      val marks = lines.grouped(chunk).map { c =>
        val a = System.currentTimeMillis().toDouble
        input.addData(c); ingest.processAllAvailable()
        (a, System.currentTimeMillis().toDouble)
      }.toVector
      matcher.processAllAvailable()
      marks
    }

    def stop(): Unit = { ingest.stop(); matcher.stop() }
  }

  def tripTopology(o: Opts, tracer: Option[Tracer],
      res: mutable.Map[String, Any]): Unit = {
    val cores = o.int("cores")
    val chunk = o.int("chunk")
    val all = readLines(s"${o("in")}/feed.jsonl")
    val (warmFeed, feed) = all.splitAt(o.int("warm_events"))
    val (spark, run, setups) = setupCycles(o, cores) { (s, i) =>
      streamConf(s, chunk, cores)
      new TopologyRun(s, s"${o("work")}/topo$i", "topo")
    }(_.stop())
    res("setup_cycles_s") = setups
    // as in trip_stream, the warm feed goes through the measured queries
    warmed(res, tracer, spark)(run.run(warmFeed, chunk))
    val snap0 = Snapshots(spark)
    val wall0 = tracer.map(_.nowMs)
    val t0 = System.nanoTime()
    val t0Epoch = System.currentTimeMillis().toDouble
    val marks = run.run(feed, chunk)
    val totalS = (System.nanoTime() - t0) / 1e9
    val wall1 = tracer.map(_.nowMs)
    val matcherProgress = run.matcher.recentProgress.toSeq.map { p =>
      Map("end_ms" -> (java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.getOrDefault("triggerExecution", 0L).toDouble - t0Epoch),
        "rows" -> p.numInputRows)
    }
    run.stop()
    val snap1 = Snapshots(spark)
    res("topology") = Map("events" -> feed.size, "seconds" -> totalS,
      "chunks" -> marks.map { case (a, b) => Seq(a - t0Epoch, b - t0Epoch) },
      "matcher_progress" -> matcherProgress)
    val done = KeyedUpsertSink.readStore(spark, run.store).get
      .filter(col("sk").startsWith("COMPLETED#"))
      .select("trip_id", "pickup_datetime", "fare_amount").collect()
    writeTrips(o, done.toSeq.map(r => (r.getString(0), r.getString(1),
      if (r.isNullAt(2)) Double.NaN else r.getDouble(2), 0.0)))
    res("blocks_retained_mb") = retainedMb(spark)
    tracer.foreach { t =>
      res("layers") = layerSums(t, spark, snap0, wall0.get, wall1.get) ++
        storeLayers(snap0, snap1) +
        ("store.rows" -> KeyedUpsertSink.readStore(spark, run.store).get.count().toDouble)
      t.detach(spark)
    }
  }

  // ---- queries_small -------------------------------------------------------

  def queries(o: Opts, tracer: Option[Tracer],
      res: mutable.Map[String, Any]): Unit = {
    val cores = o.int("cores")
    val dir = o("in")
    val names = o.list("queries")
    val warmNames = o.list("warm_queries")
    val all = SparkEntry.queries
    val (spark, _, setups) = setupCycles(o, cores)((_, _) => ())(_ => ())
    res("setup_cycles_s") = setups
    warmed(res, tracer, spark)(warmNames.foreach(q =>
      all(q)(spark, o("warm_dir")).write.format("noop").mode("overwrite").save()))
    val snap0 = Snapshots(spark)
    val wall0 = tracer.map(_.nowMs)
    val built = mutable.LinkedHashMap[String, DataFrame]()
    val times = names.map { q =>
      tracer.foreach(_.currentOp = q)
      val a = tracer.map(_.nowMs)
      val t0 = System.nanoTime()
      var t1 = t0
      val error = try {
        val df = tracer.fold(all(q)(spark, dir))(_.span("entry.build", q, "query")(all(q)(spark, dir)))
        t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        built(q) = df
        None
      } catch { case e: Exception => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val t2 = System.nanoTime()
      tracer.foreach(t => t.spans.add(Span("query", a.get, t.nowMs, "", q)))
      Map("name" -> q, "build_s" -> (t1 - t0) / 1e9, "seconds" -> (t2 - t0) / 1e9,
        "error" -> error)
    }
    val wall1 = tracer.map(_.nowMs)
    res("queries") = times
    res("blocks_retained_mb") = retainedMb(spark)
    tracer.foreach { t =>
      t.currentOp = ""
      val l = layerSums(t, spark, snap0, wall0.get, wall1.get)
      // the driver gap of this workload: each query's wall time not
      // covered by its stages
      val gap = t.spans.asScala.filter(_.name == "query").map(s => t.driverGapMs(s.start, s.end)).sum
      res("layers") = l ++ Map("sched.driver_gap_ms" -> gap,
        "entry.build_ms" -> times.map(_("build_s").asInstanceOf[Double]).sum * 1000) ++
        storeLayers(snap0, Snapshots(spark))
      t.detach(spark)
    }
    // outputs for tools/check_oracle.py, outside the timed region
    val results = s"${o("out")}/results"
    built.foreach { case (q, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$results/$q")
    }
    Files.createDirectories(Paths.get(results))
    Files.writeString(Paths.get(results, "oracle_sql.json"),
      Json(names.map(q => q -> SparkEntry.oracleSql(q)).toMap))
  }

  // ---- layer aggregates --------------------------------------------------

  /** Library counters and codegen totals at one instant. */
  final case class Snapshots(phases: Map[String, Long], lease: Map[String, Long],
      commit: Map[String, Long], fsOps: Map[String, Long],
      compiles: Long, compileMean: Double)
  object Snapshots {
    def apply(spark: SparkSession): Snapshots = {
      val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      new Snapshots(KeyedUpsertSink.phaseSnapshot(), KeyedUpsertSink.leaseWaitSnapshot(),
        KeyedUpsertSink.commitStatsSnapshot(), StoreCommit.fsOpsSnapshot(),
        h.getCount, h.getSnapshot.getMean)
    }
  }

  def retainedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

  def layerSums(t: Tracer, spark: SparkSession, s0: Snapshots,
      wall0: Double, wall1: Double): Map[String, Double] = {
    t.settle()
    val s1 = Snapshots(spark)
    val trig = t.triggers.asScala.toSeq
    def dur(k: String) = trig.map(_("duration_ms").asInstanceOf[Map[String, Long]]
      .getOrElse(k, 0L).toDouble).sum
    def tot(k: String) = trig.map(_(k).asInstanceOf[Long].toDouble).sum
    val trigMs = trig.map(_("duration_ms").asInstanceOf[Map[String, Long]]
      .getOrElse("triggerExecution", 0L).toDouble).sorted
    val rows = trig.map(_("rows").asInstanceOf[Long].toDouble)
    val addBatch = trig.filter(_("rows").asInstanceOf[Long] > 0)
      .map(_("duration_ms").asInstanceOf[Map[String, Long]].getOrElse("addBatch", 0L).toDouble)
      .sorted
    // event-time lag of the watermark behind the newest event, at the
    // last trigger that reported both
    val lagS = trig.reverseIterator.map(r => (r("event_max").toString, r("watermark").toString))
      .collectFirst { case (m, w) if m.nonEmpty && w.nonEmpty =>
        (java.time.Instant.parse(m).toEpochMilli - java.time.Instant.parse(w).toEpochMilli) / 1000.0
      }.getOrElse(0.0)
    val compiles = (s1.compiles - s0.compiles).toDouble
    Map(
      "plan.analysis_ms" -> t.sum("plan.analysis_ms"),
      "plan.optimization_ms" -> t.sum("plan.optimization_ms"),
      "plan.planning_ms" -> t.sum("plan.planning_ms"),
      "codegen.compiles" -> compiles,
      "codegen.compile_ms" -> compiles * s1.compileMean,
      "sched.jobs" -> t.sum("sched.jobs"),
      "sched.stages" -> t.sum("sched.stages"),
      "sched.tasks" -> t.sum("sched.tasks"),
      "sched.driver_gap_ms" -> t.driverGapMs(wall0, wall1),
      "exec.task_run_ms" -> t.sum("exec.task_run_ms"),
      "exec.task_cpu_ms" -> t.sum("exec.task_cpu_ms"),
      "exec.gc_ms" -> t.sum("exec.gc_ms"),
      "exec.peak_mem_bytes" -> t.maxOf("exec.peak_mem_bytes").toDouble,
      "shuffle.read_bytes" -> t.sum("shuffle.read_bytes"),
      "shuffle.write_bytes" -> t.sum("shuffle.write_bytes"),
      "spill.bytes" -> t.sum("spill.bytes"),
      "stream.triggers" -> trig.size.toDouble,
      "stream.rows_per_trigger" -> (if (trig.isEmpty) 0.0 else rows.sum / trig.size),
      "stream.trigger_ms_p50" -> Stats.pct(trigMs, 0.5),
      "stream.trigger_ms_p99" -> Stats.pct(trigMs, 0.99),
      "stream.latest_offset_ms" -> dur("latestOffset"),
      "stream.query_planning_ms" -> dur("queryPlanning"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.commit_offsets_ms" -> dur("commitOffsets"),
      "stream.watermark_lag_s" -> lagS,
      "sink.batch_ms" -> Stats.pct(addBatch, 0.5),
      "state.commit_ms" -> tot("state_commit_ms"),
      "state.updates_ms" -> tot("state_updates_ms"),
      "state.removals_ms" -> tot("state_removals_ms"),
      "state.rows_total" -> trig.lastOption.map(_("state_rows").asInstanceOf[Long].toDouble).getOrElse(0.0),
      "state.memory_bytes" -> trig.map(_("state_memory_bytes").asInstanceOf[Long].toDouble).foldLeft(0.0)(math.max),
      "state.dropped_by_watermark" -> tot("state_dropped"),
      "trace.spans" -> t.spans.size.toDouble)
  }

  def storeLayers(s0: Snapshots, s1: Snapshots): Map[String, Double] = {
    def d(m1: Map[String, Long], m0: Map[String, Long], k: String) =
      (m1.getOrElse(k, 0L) - m0.getOrElse(k, 0L)).toDouble
    val committed = d(s1.commit, s0.commit, "optimistic_committed")
    val conflicts = d(s1.commit, s0.commit, "commit_conflicts")
    val fallbacks = d(s1.commit, s0.commit, "locked_fallbacks")
    val commits = committed + fallbacks
    val fsOps = (s1.fsOps.keySet ++ s0.fsOps.keySet).toSeq.map(k => d(s1.fsOps, s0.fsOps, k)).sum
    Map(
      "store.merge_ms.ing" -> d(s1.phases, s0.phases, "merge:ing"),
      "store.merge_ms.mat" -> d(s1.phases, s0.phases, "merge:mat"),
      "store.flip_ms.ing" -> d(s1.phases, s0.phases, "flip:ing"),
      "store.flip_ms.mat" -> d(s1.phases, s0.phases, "flip:mat"),
      "store.changelog_ms" -> d(s1.phases, s0.phases, "changelog:ing"),
      "store.lease_wait_ms.ing" -> d(s1.lease, s0.lease, "ing"),
      "store.lease_wait_ms.mat" -> d(s1.lease, s0.lease, "mat"),
      "store.commit_conflicts" -> conflicts,
      "store.locked_fallbacks" -> fallbacks,
      "store.discarded_merge_ms" -> d(s1.commit, s0.commit, "discarded_merge_ms"),
      "store.commit_success_ratio" -> (if (committed + conflicts == 0) 1.0
        else committed / (committed + conflicts)),
      "store.fs_ops_per_commit" -> (if (commits == 0) 0.0 else fsOps / commits))
  }
}

object Stats {
  /** Nearest-rank percentile of sorted values (0 when empty). */
  def pct(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.size - 1, math.max(0, math.ceil(p * sorted.size).toInt - 1)))
}

/** Minimal JSON writer for maps, sequences, numbers and strings. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => BenchGuard.jstr(s)
    case b: Boolean => b.toString
    case d: Double => BenchGuard.jnum(d)
    case f: Float => BenchGuard.jnum(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${BenchGuard.jstr(k.toString)}:${apply(x)}" }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => BenchGuard.jstr(x.toString)
  }
}
