package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation; `id` is its Spark job group. */
final case class Op(id: String, kind: String, seconds: Double, ok: Boolean)

/** Times operations, runs each under its own Spark job group, and records
  * failures instead of letting them end the run. */
final class Recorder(spark: SparkSession, tracer: Option[Tracer]) {
  private val ops = new ConcurrentLinkedQueue[Op]()
  private val seq = new AtomicLong()

  def op[T](kind: String)(body: => T): Option[T] = {
    val id = s"op-${seq.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setJobGroup(id, kind, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val res =
      try Some(tracer.fold(body)(_.span(kind, id)(body)))
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $kind failed: $e"); None
      }
    ops.add(Op(id, kind, (System.nanoTime() - t0) / 1e9, res.isDefined))
    sc.clearJobGroup()
    res
  }

  /** A child span of the current operation (a call or an action). */
  def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))

  def drain(): Seq[Op] = {
    val out = ops.asScala.toSeq; ops.clear(); out
  }
}

/** A benchmark workload: a set-up step that can be repeated on fresh
  * state, a timed loop, and the outputs its checks need. */
trait Workload {
  /** Prepares repetition `rep` of set-up without timing it (copies). */
  def prepare(rep: Int): Unit = ()
  /** The timed set-up step; the last repetition's state is served. */
  def setup(rec: Recorder): Unit
  /** Runs operations until `deadline` (System.nanoTime). */
  def run(rec: Recorder, deadline: Long): Unit
  /** Untimed operations that warm the JIT before the window. */
  def warmup(rec: Recorder): Unit = ()
  /** Operations the traced run adds after its window, for layers the
    * window's operations do not reach. */
  def extra(rec: Recorder): Unit = ()
  /** Writes what the output checks read; returns extra result fields. */
  def writeOutputs(): Map[String, String]
  /** Rows handed back to the user by the traced operations (called after
    * [[writeOutputs]]). */
  def resultRows(ops: Seq[Op], counters: Map[String, Double]): Double
  /** Bytes of generated input the operations consumed. */
  def inputBytes(ops: Seq[Op]): Double
  /** Data directory whose fact matview the lookup probe hits. */
  def servingDir: String
  /** Name of the span around the call into the program. */
  def callSpan: String
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

/** Entry point: `Harness <workload> <inputDir> <workDir> <seconds> <trace>
  * <setupReps>`. Writes `result.json` into workDir. */
object Harness {
  def main(args: Array[String]): Unit = {
    val Array(name, in, work, secs, trace, reps) = args
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      // the program's Catalyst rule and planner strategy take part in
      // planning every query, as in a deployment that installs them
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(s"[perfbench] session ready ${(System.currentTimeMillis() - jvmStart) / 1e3} s after JVM start")
    try runWorkload(spark, name, in, Paths.get(work), secs.toDouble,
      trace == "1", reps.toInt)
    finally spark.stop()
  }

  private def opsJson(ops: Seq[Op]): String = Json.arr(ops.map(o =>
    Json.obj(Seq("kind" -> Json.str(o.kind), "s" -> Json.num(o.seconds),
      "ok" -> o.ok.toString))))

  private def runWorkload(spark: SparkSession, name: String, in: String,
      work: Path, seconds: Double, trace: Boolean, reps: Int): Unit = {
    val w: Workload = name match {
      case "dashboard" => new Dashboard(spark, in, work)
      case "etl_refresh" => new EtlRefresh(spark, in, work)
    }
    val plain = new Recorder(spark, None)
    def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
    // the first set-up pays class loading and JIT compilation that later
    // ones do not, and its time swings with the host: it is not reported
    val setupS = (0 to reps).map { r =>
      w.prepare(r)
      val t0 = System.nanoTime()
      w.setup(plain)
      (System.nanoTime() - t0) / 1e9
    }
    log(s"set-up took ${setupS.mkString(", ")} s")
    val w0 = System.nanoTime()
    w.warmup(plain)
    log(s"warm-up took ${(System.nanoTime() - w0) / 1e9} s")
    val setupOps = plain.drain()
    val fields = Seq.newBuilder[(String, String)]
    fields += "setup_s" -> Json.arr(setupS.tail.map(Json.num))
    fields += "setup_ops" -> setupOps.size.toString
    fields += "setup_failed" -> setupOps.count(!_.ok).toString
    def window(rec: Recorder, nanos: Long): (Seq[Op], Double) = {
      val t0 = System.nanoTime()
      w.run(rec, t0 + nanos)
      (rec.drain(), (System.nanoTime() - t0) / 1e9)
    }
    val windowNs = (seconds * 1e9).toLong
    if (!trace) {
      val (ops, s) = window(plain, windowNs)
      log(s"window took $s s")
      fields += "ops" -> opsJson(ops) += "window_s" -> Json.num(s)
      w.writeOutputs().foreach(fields += _)
    } else {
      // the first half runs with no listener registered: its latencies
      // are the baseline the tracing overhead is measured against
      val (plainOps, plainS) = window(plain, windowNs / 2)
      fields += "ops" -> opsJson(plainOps) += "window_s" -> Json.num(plainS)
      val tracer = new Tracer(spark)
      val traced = new Recorder(spark, Some(tracer))
      val before = publishedDirs()
      val build0 = graft.Publish.buildSeconds
      val start = System.currentTimeMillis()
      tracer.start()
      val (windowOps, _) = window(traced, windowNs / 2)
      w.extra(traced)
      val ops = windowOps ++ traced.drain()
      val counters = tracer.stop(ops)
      val built = graft.Publish.buildSeconds - build0
      val published = (publishedDirs() -- before).size
      val written = filesWrittenSince(work, start)
      val plan = tracer.planMs(w.callSpan).sorted
      val lookup = (1 to 20).map { _ =>
        val t0 = System.nanoTime()
        graft.operators.Matview.factPath(spark, w.servingDir)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      w.writeOutputs().foreach(fields += _)
      val rows = w.resultRows(ops, counters)
      val layers = counters -- Seq("write.records", "scan.records_total",
        "write.bytes_total") ++ Map(
        "engine.plan_ms" -> (if (plan.isEmpty) 0.0 else plan(plan.size / 2)),
        "scan.records_per_result_row" ->
          counters("scan.records_total") / rows.max(1.0),
        "artifact.build_s" -> built,
        "artifact.dirs_published" -> published.toDouble,
        "artifact.lookup_ms" -> lookup(lookup.size / 2),
        "write.files" -> written.toDouble,
        "write.amplification" ->
          counters("write.bytes_total") / w.inputBytes(ops).max(1.0))
      fields += "traced_ops" -> opsJson(ops)
      fields += "layers" -> Json.obj(layers.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) })
      val traceDir = work.resolveSibling("traces")
      Files.createDirectories(traceDir)
      tracer.writeSpans(traceDir.resolve(s"${work.getFileName}.jsonl"))
    }
    Files.writeString(work.resolve("result.json"), Json.obj(fields.result()))
  }

  private def publishedDirs(): Set[String] = {
    val root = Paths.get(graft.Warehouse.root)
    if (!Files.isDirectory(root)) Set.empty
    else {
      val s = Files.list(root)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => !n.contains(".build-")).toSet
      finally s.close()
    }
  }

  /** Regular files under `dir` modified at or after `sinceMs`, leaving
    * out Spark's shuffle and temp files, which the shuffle layer counts. */
  private def filesWrittenSince(dir: Path, sinceMs: Long): Int = {
    val skip = Seq("spark-local", "tmp").map(dir.resolve)
    val s = Files.walk(dir)
    try s.iterator().asScala.count(p => Files.isRegularFile(p) &&
      !skip.exists(p.startsWith) &&
      Files.getLastModifiedTime(p).toMillis >= sinceMs)
    finally s.close()
  }

  /** Copies a directory tree; the copy is new content to every
    * content-keyed cache (the key covers path and mtime). */
  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
    finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def size(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}
