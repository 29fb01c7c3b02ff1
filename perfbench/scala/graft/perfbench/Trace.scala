package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: wall-clock epoch milliseconds, a parent span
  * name and the query or trigger id it belongs to.
  */
final case class Span(name: String, start: Double, end: Double,
    parent: String, id: String)

/** Layer tracing through Spark's public listeners. Spans stay in memory
  * and are written once at the end; `sums` and `maxes` hold the
  * per-layer aggregates the traced run reports.
  */
final class Tracer {
  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNs) / 1e6

  val spans = new ConcurrentLinkedQueue[Span]()
  private val sums = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()
  private val maxes = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val callbackNs = new AtomicLong()
  @volatile var currentOp: String = ""

  def add(k: String, v: Double): Unit =
    sums.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  def max(k: String, v: Long): Unit =
    maxes.computeIfAbsent(k, _ => new AtomicLong(Long.MinValue))
      .accumulateAndGet(v, (a, b) => math.max(a, b))
  def sum(k: String): Double = Option(sums.get(k)).map(_.sum()).getOrElse(0.0)
  def maxOf(k: String): Long =
    Option(maxes.get(k)).map(_.get()).filter(_ != Long.MinValue).getOrElse(0L)
  def callbackMs: Double = callbackNs.get() / 1e6

  def span[T](name: String, id: String, parent: String = "")(body: => T): T = {
    val a = nowMs
    try body finally spans.add(Span(name, a, nowMs, parent, id))
  }

  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    try body finally callbackNs.addAndGet(System.nanoTime() - t)
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = timed {
      val op = currentOp
      qe.tracker.phases.foreach { case (phase, s) =>
        add(s"plan.${phase}_ms", s.durationMs.toDouble)
        spans.add(Span(s"plan.$phase", s.startTimeMs.toDouble,
          s.endTimeMs.toDouble, "query", op))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      add("sched.jobs", 1); add("sched.stages", e.stageInfos.size.toDouble)
      jobStarts.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobStarts.remove(e.jobId)).foreach(a =>
        spans.add(Span("job", a.toDouble, e.time.toDouble, "query", s"${currentOp}/job-${e.jobId}")))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val si = e.stageInfo
      for (a <- si.submissionTime; b <- si.completionTime)
        spans.add(Span("stage", a.toDouble, b.toDouble, "job",
          s"${currentOp}/stage-${si.stageId}"))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      add("sched.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_run_ms", m.executorRunTime.toDouble)
        add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        add("exec.gc_ms", m.jvmGCTime.toDouble)
        max("exec.peak_mem_bytes", m.peakExecutionMemory)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  /** Per-trigger progress of every streaming query: the raw records go
    * to the trace file, the aggregates to `sums`/`maxes`.
    */
  val triggers = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
        d.getOrElse("triggerExecution", 0L)
      val ops = p.stateOperators.toSeq
      triggers.add(Map(
        "query" -> Option(p.name).getOrElse(p.id.toString), "batch" -> p.batchId,
        "end_ms" -> end, "rows" -> p.numInputRows, "duration_ms" -> d.toMap,
        "watermark" -> Option(p.eventTime.get("watermark")).getOrElse(""),
        "event_max" -> Option(p.eventTime.get("max")).getOrElse(""),
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "state_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum,
        "state_updates_ms" -> ops.map(_.allUpdatesTimeMs).sum,
        "state_removals_ms" -> ops.map(_.allRemovalsTimeMs).sum))
      spans.add(Span("trigger", end - d.getOrElse("triggerExecution", 0L), end,
        "stream", s"${Option(p.name).getOrElse("")}#${p.batchId}"))
      val id = s"${Option(p.name).getOrElse("")}#${p.batchId}"
      d.get("addBatch").foreach(ms => spans.add(Span("sink.batch", end - ms, end, "trigger", id)))
      // store phases the keyed sink recorded since the previous trigger,
      // placed at the end of this trigger's sink batch
      val now = graft.operators.KeyedUpsertSink.phaseSnapshot()
      storePhases.synchronized {
        now.foreach { case (k, v) =>
          val dv = v - storePhases.getOrElse(k, 0L)
          if (dv > 0) spans.add(Span(s"store.$k", end - dv, end, "sink.batch", id))
        }
        storePhases = now
      }
    }
  }
  @volatile private var storePhases: Map[String, Long] =
    graft.operators.KeyedUpsertSink.phaseSnapshot()

  /** Waits until the listener bus has delivered what it has queued: the
    * span count stays unchanged for 300 ms (or 3 s pass).
    */
  def settle(): Unit = {
    val until = System.nanoTime() + 3000000000L
    var last = -1
    while (spans.size != last && System.nanoTime() < until) {
      last = spans.size; Thread.sleep(300)
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.listenerManager.register(queryListener)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wall time inside [a, b] not covered by any stage span. */
  def driverGapMs(a: Double, b: Double): Double = {
    val iv = spans.asScala.filter(s => s.name == "stage" && s.end > a && s.start < b)
      .map(s => (math.max(a, s.start), math.min(b, s.end))).toSeq.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (x, y) =>
      if (curA.isNaN || x > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = x; curB = y
      } else curB = math.max(curB, y)
    }
    if (!curA.isNaN) covered += curB - curA
    (b - a) - covered
  }

  def spanRecords: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.start)
    .map(s => Map("name" -> s.name, "start" -> s.start, "end" -> s.end,
      "parent" -> s.parent, "id" -> s.id))
}
