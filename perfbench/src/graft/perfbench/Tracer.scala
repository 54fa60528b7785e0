package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Span `parent` 0 is an operation root; `op` is the operation's id, which
  * is also the Spark job group its jobs run under. Times are epoch ms. */
final case class Span(id: Long, parent: Long, op: String, name: String,
    startMs: Double, endMs: Double)

/** Measures the program's layers from outside: spans around each operation,
  * each call into the program and each action, plus a Spark listener
  * (which also sees streaming progress) and a SQL listener. Listeners are only registered by [[start]], so the
  * untraced part of a run pays nothing for them. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def epochMs(nanos: Long): Double = epochMs0 + (nanos - nano0) / 1e6

  @volatile private var active = false
  private val ids = new AtomicLong()
  private val current = new ThreadLocal[(String, Long)]
  val spans = new ConcurrentLinkedQueue[Span]()

  /** Runs `body` as span `name`: a root when `op` is given, else a child of
    * the calling thread's current span (untraced when there is none). */
  def span[T](name: String, op: String = null)(body: => T): T = {
    val outer = current.get
    val (opId, parent) =
      if (op != null) (op, 0L) else if (outer == null) return body else outer
    if (!active) return body
    val id = ids.incrementAndGet()
    current.set((opId, id))
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, opId, name, epochMs(t0), epochMs(System.nanoTime())))
      current.set(outer)
    }
  }

  // ---- listener state (written on the listener bus thread) ----
  private final case class Job(group: String, startMs: Long, var endMs: Long)
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val batchMs = mutable.ArrayBuffer.empty[Double]

  private def add(k: String, v: Double): Unit = c.synchronized { c(k) += v }
  private def max(k: String, v: Double): Unit = c.synchronized { c(k) = math.max(c(k), v) }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs.synchronized {
        jobs(e.jobId) = Job(group, e.time, e.time)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
      add("jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        if (j.group != null) spans.add(Span(ids.incrementAndGet(), 0L, j.group,
          s"job ${e.jobId}", j.startMs.toDouble, e.time.toDouble))
      }
    }
    // streaming progress reaches every SparkListener, whichever session
    // (the program runs its streams in cloned sessions) started the query
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case q: StreamingQueryListener.QueryProgressEvent if active =>
        val p = q.progress
        add("stream_batches", 1)
        batchMs.synchronized(batchMs += p.batchDuration.toDouble)
        add("stream_commit_ms",
          Seq("walCommit", "commitOffsets").flatMap(p.durationMs.asScala.get).map(_.toDouble).sum)
        max("stream_state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
        max("stream_state_bytes", p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) {
      val si = e.stageInfo
      val m = si.taskMetrics
      add("stages", 1); add("tasks", si.numTasks)
      if (m != null) {
        add("task_run_ms", m.executorRunTime); add("task_cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("scan_bytes", m.inputMetrics.bytesRead); add("scan_records", m.inputMetrics.recordsRead)
        add("write_bytes", m.outputMetrics.bytesWritten)
        add("write_records", m.outputMetrics.recordsWritten)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("spill_bytes", m.diskBytesSpilled + m.memoryBytesSpilled)
      }
      for (a <- si.submissionTime; b <- si.completionTime) {
        val group = jobs.synchronized(stageJob.get(si.stageId).flatMap(jobs.get).map(_.group))
        group.filter(_ != null).foreach(g =>
          spans.add(Span(ids.incrementAndGet(), 0L, g, s"stage ${si.stageId}", a.toDouble, b.toDouble)))
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = if (active)
      qe.tracker.phases.foreach { case (phase, s) => add(s"phase_$phase", s.durationMs) }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private def gcMs: Double = gcBeans.map(_.getCollectionTime.max(0L)).sum.toDouble
  private var gc0 = 0.0
  private var startNs = 0L

  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(sqlListener)
    heapPools.foreach(_.resetPeakUsage())
    gc0 = gcMs
    startNs = System.nanoTime()
    active = true
  }

  /** Stops counting and returns the listener counters of the traced
    * window, normalized per operation where the name says so. */
  def stop(ops: Seq[Op]): Map[String, Double] = {
    val windowS = (System.nanoTime() - startNs) / 1e9
    org.apache.spark.BenchBus.drain(sc)
    active = false
    val gcS = (gcMs - gc0) / 1e3
    val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(sqlListener)
    val n = ops.size.max(1).toDouble
    val cpus = Runtime.getRuntime.availableProcessors
    val byGroup = jobs.synchronized(jobs.values.toSeq.groupBy(_.group))
    // operation wall time minus the union of its jobs' intervals
    val gaps = ops.map { o =>
      val ivs = byGroup.getOrElse(o.id, Nil).map(j => (j.startMs.toDouble, j.endMs.toDouble))
        .sortBy(_._1)
      var covered = 0.0; var reach = Double.MinValue
      ivs.foreach { case (a, b) =>
        val lo = math.max(a, reach)
        if (b > lo) covered += b - lo
        reach = math.max(reach, b)
      }
      o.seconds - covered / 1e3
    }
    val batches = batchMs.synchronized(batchMs.sorted.toSeq)
    Map(
      "driver.gap_s" -> gaps.sum / n,
      "catalyst.analysis_ms" -> c("phase_analysis") / n,
      "catalyst.optimization_ms" -> c("phase_optimization") / n,
      "catalyst.planning_ms" -> c("phase_planning") / n,
      "sched.jobs_per_op" -> c("jobs") / n,
      "sched.stages_per_op" -> c("stages") / n,
      "sched.tasks_per_op" -> c("tasks") / n,
      "exec.task_run_s" -> c("task_run_ms") / 1e3 / n,
      "exec.task_cpu_s" -> c("task_cpu_ns") / 1e9 / n,
      "exec.gc_s" -> c("gc_ms") / 1e3 / n,
      "exec.core_busy_frac" -> c("task_run_ms") / 1e3 / (windowS * cpus),
      "scan.bytes_read" -> c("scan_bytes") / n,
      "scan.records_read" -> c("scan_records") / n,
      "shuffle.bytes_written" -> c("shuffle_write_bytes") / n,
      "shuffle.bytes_read" -> c("shuffle_read_bytes") / n,
      "shuffle.fetch_wait_s" -> c("fetch_wait_ms") / 1e3 / n,
      "spill.bytes" -> c("spill_bytes") / n,
      "write.bytes" -> c("write_bytes") / n,
      "write.records" -> c("write_records"),
      "scan.records_total" -> c("scan_records"),
      "write.bytes_total" -> c("write_bytes"),
      "stream.batches" -> c("stream_batches") / n,
      "stream.batch_ms_p50" -> (if (batches.isEmpty) 0.0 else batches(batches.size / 2)),
      "stream.commit_ms" -> c("stream_commit_ms") / c("stream_batches").max(1.0),
      "stream.state_rows" -> c("stream_state_rows"),
      "stream.state_bytes" -> c("stream_state_bytes"),
      "jvm.heap_peak_mb" -> heapMb,
      "jvm.gc_s" -> gcS)
  }

  /** Time from each call span's start to the first job of its operation
    * that starts inside it (the whole call when it runs no job). */
  def planMs(callName: String): Seq[Double] = {
    val all = spans.asScala.toSeq
    val jobStarts = all.filter(_.name.startsWith("job ")).groupBy(_.op)
      .map { case (op, js) => op -> js.map(_.startMs) }
    all.filter(_.name == callName).map { s =>
      val first = jobStarts.getOrElse(s.op, Nil).filter(t => t >= s.startMs && t <= s.endMs)
      (if (first.isEmpty) s.endMs else first.min) - s.startMs
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startMs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${Json.str(s.op)},"name":${Json.str(s.name)},""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
