package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Engine, SparkEntry, Tables}
import graft.operators.{Flagship, Matview}

/** Dashboard serving (viz.py): one closed-loop client sends a request
  * stream to `Engine.dashboard` with no think time and collects the
  * per-bucket counts and the summary metrics. The fact matview is built
  * during set-up, so every artifact lookup hits. One client, because one
  * request keeps about 2 of 4 cores busy: with two clients latency
  * measured CPU queueing. */
final class Dashboard(spark: SparkSession, in: String, work: Path) extends Workload {
  private final case class Req(from: String, to: String, types: Seq[String], min: Int)

  private val requests: IndexedSeq[Req] =
    Files.readAllLines(Paths.get(in, "requests.tsv")).asScala.toIndexedSeq
      .map(_.split("\t", -1))
      .map(r => Req(r(0), r(1), r(2).split(",").filter(_.nonEmpty).toSeq, r(3).toInt))
  private var dataDir: String = _
  private var engine: Engine = _
  private val responses = mutable.ArrayBuffer[String]()

  override def prepare(rep: Int): Unit = {
    val d = work.resolve(s"data/rep$rep")
    Harness.copyTree(Paths.get(in, "events"), d)
    dataDir = d.toString
  }

  def setup(rec: Recorder): Unit = {
    engine = new Engine(spark, dataDir)
    rec.op("fact_build")(Matview.factPath(spark, dataDir))
  }

  private def request(rec: Recorder, r: Req): Option[String] = rec.op("request") {
    val res = rec.span("Engine.dashboard")(engine.dashboard(r.from, r.to, r.types, r.min))
    val buckets = rec.span("collect perBucket")(res.perBucket.collect())
    val m = rec.span("collect metrics")(res.metrics.collect()).head
    def d(i: Int): String = if (m.isNullAt(i)) "null" else Json.num(m.getDouble(i))
    Json.obj(Seq(
      "from" -> Json.str(r.from), "to" -> Json.str(r.to),
      "types" -> Json.arr(r.types.map(Json.str)), "min" -> r.min.toString,
      "buckets" -> Json.arr(buckets.map(b =>
        Json.arr(Seq(b.getInt(0), b.getInt(1), b.getLong(2)).map(_.toString)))),
      "n_rows" -> m.getLong(0).toString, "avg_value" -> d(1), "med_value" -> d(2)))
  }

  /** A fixed number of untimed requests from the tail of the stream,
    * which the window never reaches: per-request latency keeps falling
    * while the JIT compiles the planning path, so the window starts at the
    * same point of that curve on a fast or a slow host. The cap only bounds
    * the run on a very slow one. */
  override def warmup(rec: Recorder): Unit =
    serve(requests.takeRight(Dashboard.WarmRequests),
      System.nanoTime() + Dashboard.WarmCapNanos)(request(rec, _))

  /** Whole blocks only: the generator balances the mix of work within each
    * block of [[Dashboard.Block]] requests, so every window serves the same
    * mix; the block running at the deadline finishes. */
  def run(rec: Recorder, deadline: Long): Unit =
    serve(requests.dropRight(Dashboard.WarmRequests), deadline)(
      request(rec, _).foreach(responses += _))

  /** Sends `reqs` in order, checking the deadline only between blocks. */
  private def serve(reqs: IndexedSeq[Req], deadline: Long)(send: Req => Unit): Unit = {
    var i = 0
    while (i < reqs.size && (i % Dashboard.Block != 0 || System.nanoTime() < deadline)) {
      send(reqs(i)); i += 1
    }
  }

  def writeOutputs(): Map[String, String] = {
    val p = work.resolve("responses.jsonl")
    Files.write(p, responses.asJava)
    Map("fact" -> Json.str(Matview.factPath(spark, dataDir)),
      "responses" -> Json.str(p.toString))
  }

  /** Bucket rows plus the one metrics row per successful request. */
  def resultRows(ops: Seq[Op], counters: Map[String, Double]): Double =
    ops.count(_.ok) * (Flagship.buckets(spark).count() + 1.0)
  def inputBytes(ops: Seq[Op]): Double = 0.0
  def servingDir: String = dataDir
  def callSpan: String = "Engine.dashboard"
}

object Dashboard {
  /** Requests per balanced block; must match perfbench/gen.py. */
  val Block = 8
  /** Warm-up requests: whole blocks, never served in a window. */
  val WarmRequests = 3 * Block
  val WarmCapNanos = 60L * 1000 * 1000 * 1000
}

/** The write path (etl.py). Set-up is a cold `Engine.runEtl`: it copies the
  * generated base events to a fresh directory, so every content-keyed
  * artifact misses. The warm-up merges the first slice into the raw base
  * with `Engine.refreshFact` (the bootstrap snapshot). The window then runs
  * chains of refreshes: each chain merges the remaining slices one by one,
  * the first into the bootstrap snapshot and each later one into the
  * snapshot the previous merge wrote, every snapshot written as parquet.
  * Every chain does the same work, so each window holds the same mix of
  * merges whatever its length. */
final class EtlRefresh(spark: SparkSession, in: String, work: Path) extends Workload {
  private val base = Paths.get(in, "base")
  private val slices: IndexedSeq[String] = {
    val s = Files.list(Paths.get(in, "slices"))
    try s.iterator().asScala.map(_.toString).toIndexedSeq.sorted finally s.close()
  }
  private val baseBytes = Harness.size(base).toDouble
  private val sliceBytes = Harness.size(Paths.get(slices.head)).toDouble
  private val bootstrap = work.resolve("bootstrap")
  private var chain = 0
  private var builds = 0
  private var srcDir: String = _
  private var engine: Engine = _
  private var snapshot: Option[(String, Int)] = None
  private var streamFact: Option[String] = None
  private val streamUpsert = SparkEntry.queries("st02_stream_upsert")
  private val counts = new ConcurrentLinkedQueue[String]()

  private def build(rec: Recorder, dir: Path): Unit = {
    Harness.copyTree(base, dir.resolve("src"))
    srcDir = dir.resolve("src").toString
    val e = new Engine(spark, srcDir)
    rec.op("etl_build") {
      val c = rec.span("Engine.runEtl")(e.runEtl(dir.resolve("out").toString))
      counts.add(Json.obj(c.toSeq.sorted.map { case (k, v) => k -> v.toString }))
    }
    engine = e
  }

  override def prepare(rep: Int): Unit = Harness.deleteTree(work.resolve("setup"))
  def setup(rec: Recorder): Unit = build(rec, work.resolve("setup"))

  /** Merges `slice` into the snapshot at `from` (the raw base when None)
    * and writes the result to `to`. */
  private def refresh(rec: Recorder, kind: String, from: Option[Path], slice: Int,
      to: Path): Boolean = rec.op(kind) {
    val existing = from.fold(Tables.events(spark, srcDir))(p => spark.read.parquet(p.toString))
    val merged = rec.span("Engine.refreshFact")(
      engine.refreshFact(existing, Tables.events(spark, slices(slice))))
    rec.span("write snapshot")(merged.write.parquet(to.toString))
  }.isDefined

  /** The bootstrap merge, then the start of one untimed chain for the JIT. */
  override def warmup(rec: Recorder): Unit =
    if (refresh(rec, "bootstrap_merge", None, 0, bootstrap)) {
      runChain(rec, Long.MaxValue, EtlRefresh.WarmMerges)
    }

  /** Refresh chains until the deadline; the merge running at the deadline
    * finishes. */
  def run(rec: Recorder, deadline: Long): Unit =
    while (System.nanoTime() < deadline && runChain(rec, deadline, slices.size - 1)) {}

  /** Up to `merges` merges of one chain into a fresh directory, stopping
    * early at the deadline; false when a merge failed. */
  private def runChain(rec: Recorder, deadline: Long, merges: Int): Boolean = {
    chain += 1
    // keep the chain the checked snapshot came from until this one has one
    Harness.deleteTree(work.resolve(s"chains/c${chain - 2}"))
    val dir = work.resolve(s"chains/c$chain")
    var k = 1
    var ok = true
    while (ok && k <= merges && System.nanoTime() < deadline) {
      val from = if (k == 1) bootstrap else dir.resolve(s"snap_${k - 1}")
      ok = refresh(rec, "refresh", Some(from), k, dir.resolve(s"snap_$k"))
      if (ok) snapshot = Some((dir.resolve(s"snap_$k").toString, k + 1))
      k += 1
    }
    ok
  }

  /** The traced run adds one cold build and the same fact built by the
    * streaming upsert (`st02_stream_upsert`), written as parquet, so the
    * artifact and streaming layers are measured too. */
  override def extra(rec: Recorder): Unit = {
    builds += 1
    val dir = work.resolve(s"extra$builds")
    build(rec, dir)
    val streamed = dir.resolve("stream_fact").toString
    if (rec.op("stream_upsert") {
      val df = rec.span("st02_stream_upsert")(streamUpsert(spark, srcDir))
      rec.span("write stream fact")(df.write.parquet(streamed))
    }.isDefined) streamFact = Some(streamed)
  }

  def writeOutputs(): Map[String, String] = Map(
    "counts" -> Json.arr(counts.asScala),
    "snapshot" -> snapshot.map(s => Json.str(s._1)).getOrElse("null"),
    "merged_slices" -> snapshot.map(_._2.toString).getOrElse("0"),
    "stream_fact" -> streamFact.map(Json.str).getOrElse("null"),
    "stream_oracle" -> Json.str(SparkEntry.oracleSql("st02_stream_upsert")))

  def resultRows(ops: Seq[Op], counters: Map[String, Double]): Double =
    counters("write.records")
  def inputBytes(ops: Seq[Op]): Double = ops.filter(_.ok).map(_.kind).map {
    case "etl_build" | "stream_upsert" => baseBytes
    case _ => sliceBytes
  }.sum
  def servingDir: String = srcDir
  def callSpan: String = "Engine.refreshFact"
}

object EtlRefresh {
  /** Merges of the untimed warm-up chain. */
  val WarmMerges = 3
}
