package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded, time-advancing `events` batches, generated in the client JVM: batch
 * `b` covers event time `[T0 + b min, T0 + (b + 1) min)`. Batch 0 is the
 * base table the sample and TopK are created on. */
final class EventStream(seed: Long) {
  val BaseRows = 20000
  val BatchRows = 5000
  val T0 = 1704067200000L // 2024-01-01T00:00:00Z
  val IntervalMs = 60000L
  val Types = Array("view", "click", "scroll", "purchase", "signup")
  private val TypeCdf = Array(0.40, 0.70, 0.85, 0.95, 1.0)

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  def rowsOf(b: Int): Int = if (b == 0) BaseRows else BatchRows
  def startMs(b: Int): Long = T0 + b * IntervalMs

  def rows(b: Int): IndexedSeq[Row] = {
    val r = new java.util.SplittableRandom(seed * 1000003L + b)
    val first = if (b == 0) 0L else BaseRows + (b - 1).toLong * BatchRows
    (0 until rowsOf(b)).map { i =>
      val u = r.nextDouble()
      val typ = Types(TypeCdf.indexWhere(u < _))
      Row(first + i, new java.sql.Timestamp(startMs(b) + r.nextLong(IntervalMs)),
        (100000 * math.pow(r.nextDouble(), 4)).toLong + 1, typ,
        math.round(-math.log(1 - r.nextDouble()) * 2000) / 100.0)
    }
  }

  def frame(spark: SparkSession, b: Int): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows(b): _*), schema)

  /** Raw field bytes of a batch: 8 per numeric field plus the type name. */
  def inputBytes(b: Int): Long = rows(b).map(r => 32L + r.getString(3).length).sum
}

/** Exact running aggregates over the batches applied so far. */
final class IngestTruth {
  val groups = mutable.HashMap.empty[String, Array[Double]] // key -> (sum, count)
  val users = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
  var rows = 0L

  def add(batch: Seq[Row]): Unit = synchronized {
    batch.foreach { r =>
      val typ = r.getString(3)
      val v = r.getDouble(4)
      val user = r.getLong(2)
      for (k <- Seq(typ, s"$typ|${user % 50}")) {
        val a = groups.getOrElseUpdate(k, Array(0.0, 0.0))
        a(0) += v; a(1) += 1
      }
      users(user) += 1
      rows += 1
    }
  }
}

/** The ingest side of [[AqpLive]]: append steps put seeded batches into a
 * path-backed sample and a path-backed time-series TopK, and replay every
 * second batch's predecessor under its old id; reader steps query the live
 * sample and TopK. */
final class SampleIngest {
  val Stream = "ingest"
  private var events: EventStream = _
  private var truth: IngestTruth = _
  private var storeDir: Path = _
  private val lastBatch = new AtomicInteger(0)
  private var inputBytes = 0L
  private var replays = 0L
  private var appendCalls = 0L

  def sampleDir: Path = storeDir.resolve("sample")
  def topkDir: Path = storeDir.resolve("topk")

  /** Batches are made in the client JVM from the seed, each when it is
   * appended: cheaper than reading a cached copy. */
  def generate(ctx: Ctx): Unit = events = new EventStream(ctx.seed)

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    storeDir = ctx.runDir.resolve("ingest-store")
    deleteTree(storeDir)
    truth = new IngestTruth
    truth.add(events.rows(0))
    inputBytes = events.inputBytes(0)
    events.frame(spark, 0).createOrReplaceTempView("events_live")
    ctx.tracer.span("setup", "store.create") {
      ctx.gs.sql("CREATE SAMPLE TABLE ev_sample ON events_live OPTIONS(qcs 'event_type', " +
        s"fraction '0.05', strataReservoirSize '50', path '$sampleDir')")
    }
    ctx.tracer.span("setup", "topk.create") {
      ctx.gs.sql("CREATE TOPK TABLE ev_topk ON events_live OPTIONS(key 'user_id', " +
        s"timeSeriesColumn 'ts', timeInterval '${events.IntervalMs}', size '20', path '$topkDir')")
    }
  }

  /** One batch through the write path, one pass of the read path. */
  def warmup(ctx: Ctx): Unit = {
    appendBatch(ctx, 1, replay = false)
    lastBatch.set(1)
    val rnd = new scala.util.Random(ctx.seed)
    (0 until 3).foreach(readerStep(ctx, _, rnd))
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  /** Sample append plus TopK append of batch `b`; returns their wall ms. */
  private def appendBatch(ctx: Ctx, b: Int, replay: Boolean): Double = {
    val df = events.frame(ctx.spark, b)
    val batchTime = events.startMs(b)
    val op = if (replay) s"replay-$b" else s"batch-$b"
    val (_, ms) = ctx.timed {
      ctx.tracer.span(op, "append") {
        ctx.tracer.span(op, "store.append")(
          ctx.gs.appendToSampleForBatch("ev_sample", df, Stream, b.toLong))
        ctx.tracer.span(op, "topk.append")(
          ctx.gs.appendToTopKForBatch("ev_topk", df, batchTime, Stream, b.toLong))
      }
    }
    appendCalls += 1
    if (!replay) {
      truth.add(events.rows(b))
      inputBytes += events.inputBytes(b)
    } else replays += 1
    ms
  }

  private val readerSql = Seq(
    "SELECT event_type, sum(value) AS s, count(*) AS c, lower_bound(s) AS s_lo, " +
      "upper_bound(s) AS s_hi FROM events_live GROUP BY event_type WITH ERROR 0.5",
    "SELECT event_type, avg(value) AS a, lower_bound(a) AS a_lo, upper_bound(a) AS a_hi " +
      "FROM events_live WHERE user_id < 5000 GROUP BY event_type WITH ERROR 0.5")

  /** One reader operation: a `WITH ERROR` query over the live sample, a
   * TopK window, or a snapshot read of the sample. */
  def readerStep(ctx: Ctx, i: Int, rnd: scala.util.Random): Unit = {
    val op = s"read-$i"
    i % 3 match {
      case 0 =>
        val text = readerSql((i / 3) % readerSql.size)
        val (rows, ms) = ctx.timed(ctx.tracer.span(op, "query", "live") {
          ctx.gs.sql(text).collect()
        })
        ctx.result.sample("fresh_ms", ms)
        ctx.result.op(rows.nonEmpty, s"reader query returned no rows: $text")
      case 1 =>
        val last = lastBatch.get
        val b1 = rnd.nextInt(last + 1)
        val b2 = b1 + rnd.nextInt(last + 1 - b1)
        val (rows, ms) = ctx.timed(ctx.tracer.span(op, "topk.query") {
          ctx.gs.queryTopK("ev_topk", events.startMs(b1), events.startMs(b2 + 1) - 1, 10).collect()
        })
        ctx.result.sample("topk_ms", ms)
        ctx.result.op(rows.nonEmpty, s"TopK window [$b1, $b2] returned no rows")
      case _ =>
        val (n, ms) = ctx.timed(ctx.tracer.span(op, "store.read_snapshot") {
          ctx.gs.readSample("ev_sample").count()
        })
        ctx.result.sample("snapshot_ms", ms)
        ctx.result.op(n > 0, "sample snapshot is empty")
    }
  }

  /** Append the next batch; after every even batch, replay the one before
   * it under its old id (the store must fence it). */
  def appendStep(ctx: Ctx): Unit = {
    val b = lastBatch.get + 1
    ctx.guarded(s"append batch $b") {
      val ms = ctx.tracer.op(traced = b % 2 == 0)(appendBatch(ctx, b, replay = false))
      ctx.result.sample("append_ms", ms)
      ctx.result.op(ok = true, "")
      lastBatch.set(b)
      if (b % 2 == 0) {
        ctx.result.sample("replay_ms", appendBatch(ctx, b - 1, replay = true))
        ctx.result.op(ok = true, "")
      }
    }
  }

  def finish(ctx: Ctx): Unit = {
    val res = ctx.result
    val gs = ctx.gs
    val appendMs = res.series("append_ms").asScala.toSeq.sorted
    res.value("items_per_s", events.BatchRows / (appendMs(appendMs.size / 2) / 1000))
    // the sample's weighted count is every row ingested, replays included once
    val count = gs.sql("SELECT count(*) AS c FROM events_live WITH ERROR 0.9")
      .collect().head.get(0).asInstanceOf[Number].doubleValue()
    res.op(math.abs(count - truth.rows) <= 1e-6 * truth.rows,
      s"sample weighted count $count != ${truth.rows} rows ingested")
    // TopK: the exact count of every reported heavy hitter lies in its
    // CMS bounds (a double-applied replay would push it out)
    val top = gs.queryTopK("ev_topk", k = 20).collect()
    val outside = top.filter { r =>
      val exact = truth.users(r.getLong(0))
      val bounds = r.getStruct(3)
      exact < bounds.getLong(0) || exact > bounds.getLong(2)
    }
    res.op(top.nonEmpty && outside.isEmpty,
      s"TopK bounds miss the exact count for ${outside.length} of ${top.length} keys")
    // accuracy of the live sample: closed-form intervals against the
    // exact aggregates of everything ingested
    for ((group, key) <- Seq("event_type" -> ((r: Row) => r.getString(0)),
        "event_type, user_id % 50" -> ((r: Row) => s"${r.getString(0)}|${r.get(1)}"))) {
      val rows = gs.sql(s"SELECT $group, sum(value) AS s, count(*) AS c, " +
        "lower_bound(s) AS s_lo, upper_bound(s) AS s_hi, lower_bound(c) AS c_lo, " +
        s"upper_bound(c) AS c_hi FROM events_live GROUP BY $group WITH ERROR 0.9").collect()
      val nk = if (group.contains(",")) 2 else 1
      rows.foreach { r =>
        val want = truth.groups(key(r))
        def num(j: Int) = r.get(j).asInstanceOf[Number].doubleValue()
        for (i <- 0 to 1) {
          val est = num(nk + i)
          val lo = num(nk + 2 + 2 * i)
          val hi = num(nk + 3 + 2 * i)
          res.sample("ci_covered", if (lo <= want(i) && want(i) <= hi) 1.0 else 0.0)
          res.sample("rel_err", math.abs(est - want(i)) / math.abs(want(i)))
        }
      }
      // every event type is a stratum and must answer; a finer group the
      // sample holds no row of is legitimately absent
      res.op(rows.forall(r => truth.groups.contains(key(r))) &&
        (nk == 2 || rows.length == events.Types.length),
        s"live sample grouped by $group answers the wrong groups")
    }
    val sampleBytes = ctx.bytesUnder(sampleDir)
    val topkBytes = ctx.bytesUnder(topkDir)
    res.value("stored_per_input", (sampleBytes + topkBytes).toDouble / inputBytes)
    res.value("store.bytes", sampleBytes.toDouble)
    res.value("topk.snapshot_bytes", topkBytes.toDouble)
    val listing = Files.list(sampleDir)
    try res.value("store.files",
      listing.filter(_.getFileName.toString.endsWith(".parquet")).count().toDouble)
    finally listing.close()
    res.value("store.fenced_replay_share", replays.toDouble / appendCalls)
    if (ctx.tracer.enabled) res.value("StratifiedSampler.kept_ratio",
      gs.readSample("ev_sample").count().toDouble / truth.rows)
  }
}
