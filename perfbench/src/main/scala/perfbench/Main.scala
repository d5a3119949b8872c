package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}

/** Raw outcome of one run: latency series, scalar values, operation and
 * check counts. Percentiles and span analysis are computed from it by the
 * Python side (`perfbench/stats.py`), which is where that math is tested. */
final class Result {
  val setupS = new ConcurrentLinkedQueue[Double]()
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val failures = new ConcurrentLinkedQueue[String]()
  val series = TrieMap.empty[String, ConcurrentLinkedQueue[Double]]
  val values = TrieMap.empty[String, Double]

  def sample(name: String, v: Double): Unit =
    series.getOrElseUpdate(name, new ConcurrentLinkedQueue[Double]()).add(v)
  def value(name: String, v: Double): Unit = values.put(name, v)

  /** Count one operation; `ok = false` marks it failed with `msg`. */
  def op(ok: Boolean, msg: => String): Unit = {
    attempted.incrementAndGet()
    if (!ok) fail(msg)
  }
  def fail(msg: String): Unit = {
    failed.incrementAndGet()
    if (failures.size < 50) failures.add(msg)
    System.err.println(s"perfbench: FAILED $msg")
  }

  def write(path: Path, workload: String, spansFile: Option[String]): Unit = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("workload", workload)
    m.put("setup_s", setupS.asScala.toSeq.asJava)
    m.put("attempted", attempted.get)
    m.put("failed", failed.get)
    m.put("failures", failures.asScala.toSeq.asJava)
    m.put("series", series.map { case (k, q) => k -> q.asScala.toSeq.asJava }.toMap.asJava)
    m.put("values", values.toMap.asJava)
    spansFile.foreach(f => m.put("spans", f))
    m.put("phases", Main.phases.toMap.asJava)
    Files.write(path, Json.mapper.writeValueAsBytes(m))
  }
}

/** Everything a workload needs: the current session (replaced by each set-up
 * repetition), the tracer, the run's seed, window and directories. */
final class Ctx(val seed: Long, val seconds: Int, val cores: Int,
    val work: Path, val dataDir: Path, val tracer: Tracer, val result: Result) {
  @volatile var spark: SparkSession = _
  @volatile var gs: GraftSession = _

  val runDir: Path = work.resolve("run")

  /** Start (or restart) the Spark session the engine runs on. */
  def startSession(): Unit = {
    if (spark != null) spark.stop()
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    gs = GraftSession(spark)
    tracer.attach(spark)
  }

  def stopSession(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Wall time of `body` in milliseconds, with its value. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  /** Record the latency of an operation of kind `kind` (a query template,
   * a pipeline) under `name` and `name|kind`; in a traced run also under
   * `name.traced` or `name.untraced`. */
  def sampleOp(name: String, kind: String, ms: Double): Unit = {
    result.sample(name, ms)
    result.sample(s"$name|$kind", ms)
    if (tracer.enabled) result.sample(name + (if (tracer.active) ".traced" else ".untraced"), ms)
  }

  /** Run `body` and count it as one operation: a throw is a failed op. */
  def guarded[A](what: String)(body: => A): Option[A] =
    try Some(body)
    catch {
      case e: Exception =>
        result.op(ok = false, s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        None
    }

  /** Bytes of all regular files under `dir` (0 when absent). */
  def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Block-manager storage (memory + disk) of all cached RDDs, in bytes. */
  def cachedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

/** The measured window. An operation is started only while the window is
 * open and the previous one's duration still fits, so a run ends close to
 * its deadline instead of overrunning it by a whole slow operation. */
final class Window(seconds: Int) {
  private val deadline = System.nanoTime() + seconds * 1000000000L

  /** Whether an operation expected to take `lastNs` still fits. */
  def fits(lastNs: Long): Boolean = System.nanoTime() + lastNs <= deadline
}

trait Workload {
  /** Make (or load from the per-seed cache) the inputs. Not timed. */
  def generate(ctx: Ctx): Unit
  /** Session-scoped set-up: tables, samples, TopKs. Timed as `setup_s`,
   * repeated on fresh sessions. */
  def setup(ctx: Ctx): Unit
  /** A few untimed operations after the last set-up, so the window does
   * not start on cold code. */
  def warmup(ctx: Ctx): Unit
  /** The measured window: closed-loop operations for `ctx.seconds`. */
  def run(ctx: Ctx): Unit
  /** Output checks and end-of-run values. */
  def finish(ctx: Ctx): Unit
}

object Main {
  val SetupReps = 3
  private val t00 = System.nanoTime()

  /** Progress line in the run log, with seconds since the JVM started. */
  def phase(what: String): Unit = {
    val at = (System.nanoTime() - t00) / 1e9
    println(f"perfbench: $what at $at%.1f s")
    phases += what -> at
  }
  val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]


  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val name = need("workload")
    val work = Paths.get(need("work")).toAbsolutePath
    val out = Paths.get(need("out")).toAbsolutePath
    val trace = opts.get("trace").contains("1")
    val cores = opts.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val workload: Workload = name match {
      case "aqp_live" => new AqpLive
      case "dedup_pipeline" => new DedupPipeline
      case other => sys.error(s"unknown workload $other")
    }
    val ctx = new Ctx(need("seed").toLong, need("seconds").toInt, cores, work,
      Paths.get(need("data")).toAbsolutePath, new Tracer(trace), new Result)
    Files.createDirectories(ctx.dataDir)
    Files.createDirectories(ctx.runDir)
    try {
      ctx.startSession()
      phase("session started")
      workload.generate(ctx)
      phase("inputs ready")
      for (rep <- 1 to SetupReps) {
        val t0 = System.nanoTime()
        ctx.startSession()
        ctx.tracer.span(s"setup-$rep", "setup")(workload.setup(ctx))
        ctx.result.setupS.add((System.nanoTime() - t0) / 1e9)
        phase(s"set-up $rep done")
      }
      workload.warmup(ctx)
      phase("warmup done")
      ctx.result.value("window_start_ns", System.nanoTime().toDouble)
      workload.run(ctx)
      ctx.result.value("window_end_ns", System.nanoTime().toDouble)
      ctx.result.value("cores", cores.toDouble)
      phase("window done")
      ctx.guarded("end-of-run checks")(workload.finish(ctx))
      phase("checks done")
      val spans = if (trace) {
        val f = out.resolveSibling("spans.jsonl")
        ctx.tracer.write(f)
        Some(f.getFileName.toString)
      } else None
      ctx.result.write(out, name, spans)
    } finally ctx.stopSession()
  }
}
