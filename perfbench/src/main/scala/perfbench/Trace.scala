package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan

/** One timed call into a layer. `op` groups the spans of one query, batch
 * or pipeline pass; `tag` carries a classification (query template class,
 * estimator family). Counters hold the Spark work the listener attributes
 * to the span while it is the innermost open span on its thread, plus
 * values the harness records on it (plan shape, row counts). */
final class Span(val id: Int, val parent: Int, val op: String,
    val name: String, val tag: String, val startNs: Long) {
  @volatile var endNs: Long = 0L
  private val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def add(key: String, v: Double): Unit = synchronized {
    counters.update(key, counters.getOrElse(key, 0.0) + v)
  }
  def snapshot: Map[String, Double] = synchronized(counters.toMap)
}

/** Span recorder. Disabled, `span` just runs its body: the end-to-end run
 * pays nothing for the tracing hooks. Enabled, every span sets a Spark
 * local property on its thread, so the jobs its body starts (including the
 * broadcast and subquery threads Spark propagates local properties to) are
 * attributed to it by [[SpanListener]]. */
final class Tracer(val enabled: Boolean) {
  private val on = ThreadLocal.withInitial[java.lang.Boolean](() => enabled)
  private val nextId = new AtomicInteger(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val byId = new ConcurrentHashMap[Integer, Span]()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  @volatile private var spark: SparkSession = _
  val listener = new SpanListener(byId)

  /** Follow a (re)started session: the listener moves to its context. */
  def attach(s: SparkSession): Unit = {
    spark = s
    if (enabled) s.sparkContext.addSparkListener(listener)
  }

  /** Whether spans are being recorded on this thread. */
  def active: Boolean = on.get

  /** Run one window operation, traced or not: a traced run traces every
   * other operation, so the untraced ones measure the tracing overhead. */
  def op[A](traced: Boolean)(body: => A): A =
    if (!enabled) body
    else {
      val before = on.get
      on.set(traced)
      try body finally on.set(before)
    }

  def span[A](op: String, name: String, tag: String = "")(body: => A): A =
    if (!active) body
    else {
      val outer = stack.get
      val s = new Span(nextId.getAndIncrement(), outer.headOption.map(_.id).getOrElse(0),
        op, name, tag, System.nanoTime())
      byId.put(s.id, s)
      spans.add(s)
      stack.set(s :: outer)
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.set(outer)
        sc.setLocalProperty(Tracer.SpanProp, outer.headOption.map(_.id.toString).orNull)
      }
    }

  /** Record a value on the innermost open span of this thread. */
  def note(key: String, v: Double): Unit =
    if (active) stack.get.headOption.foreach(_.add(key, v))

  /** Record the shape of an executed physical plan on the current span. */
  def notePlan(plan: SparkPlan): Unit =
    if (active) PlanShape.of(plan).foreach { case (k, v) => note(k, v.toDouble) }

  /** Write every span as one JSON object per line. Waits for the listener
   * bus first so late task-end events are counted. */
  def write(path: java.nio.file.Path): Unit = {
    if (spark != null) org.apache.spark.sql.graft.Plans.flushListenerBus(spark)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("parent", s.parent); m.put("op", s.op)
      m.put("name", s.name); m.put("tag", s.tag)
      m.put("start_ns", s.startNs); m.put("end_ns", s.endNs)
      m.put("counters", s.snapshot.asJava)
      w.write(Json.mapper.writeValueAsString(m)); w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Attributes jobs, stages and task metrics to the span that was open on
 * the submitting thread when each job started. */
final class SpanListener(spans: ConcurrentHashMap[Integer, Span]) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Integer, Span]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .flatMap(id => Option(spans.get(Integer.valueOf(id.toInt))))
      .foreach { s =>
        s.add("jobs", 1)
        e.stageIds.foreach(st => stageSpan.put(st, s))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.add("stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      s.add("tasks", 1)
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        s.add("task_run_ms", m.executorRunTime.toDouble)
        val overhead = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime
        s.add("scheduler_delay_ms",
          math.max(0L, info.finishTime - info.launchTime - overhead).toDouble)
        s.add("scan_bytes", m.inputMetrics.bytesRead.toDouble)
        s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        s.add("gc_ms", m.jvmGCTime.toDouble)
      }
    }
}

/** Node counts of an executed physical plan, looking through adaptive
 * wrappers, query stages, reused exchanges and subqueries. */
object PlanShape {
  def of(plan: SparkPlan): Map[String, Int] = {
    val counts = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def bump(k: String): Unit = counts(k) += 1
    def walk(p: SparkPlan): Unit = {
      p.getClass.getSimpleName match {
        case n if n.endsWith("ExchangeExec") && !n.startsWith("Reused") => bump("plan.exchanges")
        case "FileSourceScanExec" | "InMemoryTableScanExec" | "RDDScanExec" |
             "BatchScanExec" | "RowDataSourceScanExec" => bump("plan.scans")
        case "BroadcastHashJoinExec" => bump("plan.bhj")
        case "SortMergeJoinExec" => bump("plan.smj")
        case "SortExec" => bump("plan.sorts")
        case "HacExec" => bump("plan.hac_nodes")
        case _ =>
      }
      val inner: Seq[SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Nil
        case _ => p.children
      }
      inner.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    counts.toMap
  }
}
