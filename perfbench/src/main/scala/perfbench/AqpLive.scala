package perfbench

import scala.jdk.CollectionConverters._

/** The AQP workload: analytics on live data, one client thread, closed
 * loop. It runs the seeded `WITH ERROR` / exact mix of [[AqpInteractive]]
 * and, after every third of those queries, one live step: alternately a
 * batch appended through [[SampleIngest]] and a reader step on the live
 * sample and TopK. The steps are sequential, so no step's latency depends
 * on how another client's jobs interleave with it. Foreground operation:
 * the `WITH ERROR` query; side operation: its exact twin; throughput: batch
 * rows over the median append latency. */
final class AqpLive extends Workload {
  private val analyst = new AqpInteractive
  private val ingest = new SampleIngest

  def generate(ctx: Ctx): Unit = { analyst.generate(ctx); ingest.generate(ctx) }

  def setup(ctx: Ctx): Unit = { analyst.setup(ctx); ingest.setup(ctx) }

  def warmup(ctx: Ctx): Unit = { analyst.warmup(ctx); ingest.warmup(ctx) }

  def run(ctx: Ctx): Unit = {
    val window = new Window(ctx.seconds)
    val rnd = new scala.util.Random(ctx.seed ^ 0x7F4A7C15L)
    var n = 0
    var last = 0L
    while (window.fits(last)) {
      val t0 = System.nanoTime()
      n += 1
      analyst.step(ctx, n)
      if (n % 3 == 0) {
        val live = n / 3
        if (live % 2 == 1) ingest.appendStep(ctx)
        else ctx.guarded("reader")(
          ctx.tracer.op(traced = live % 4 == 0)(ingest.readerStep(ctx, live / 2, rnd)))
      }
      last = System.nanoTime() - t0
    }
  }

  def finish(ctx: Ctx): Unit = {
    analyst.finish(ctx)
    ingest.finish(ctx)
    val cov = ctx.result.series("ci_covered").asScala
    ctx.result.value("accuracy", cov.sum / cov.size)
  }
}
