package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.{AqpInfo, AqpParser, AqpRewrite, Plans}

/** One query of the analyst's mix. `approx` carries the `WITH ERROR` clause
 * and, per aggregate `a`, the columns `a_lo`, `a_hi`, `a_re` (lower and
 * upper bound, relative error); `exact` is the same query with neither. */
final case class AqpQuery(id: String, cls: String, keys: Seq[String],
    aggs: Seq[String], approx: String, exact: String, limit: Double) {
  def keyOf(r: Row): String =
    keys.indices.map(i => Option(r.get(i)).map(_.toString).getOrElse("<null>")).mkString("|")
}

/** The analyst of [[AqpLive]]: a seeded mix of `WITH ERROR` queries, and the
 * same templates without the clause, over a 300k-row lineitem joined
 * with orders. Two in-memory samples share the base: a low-cardinality QCS
 * and a skewed high-cardinality one, so routing has a real choice and
 * filtered small strata reach the Student-t bound. */
final class AqpInteractive {
  val LineitemRows = 300000L
  val OrdersRows: Long = LineitemRows / 4

  private var queries: Seq[AqpQuery] = Nil
  private var truth: Map[String, Map[String, Seq[Double]]] = Map.empty
  private var liDir = ""
  private var ordDir = ""
  private var truthFile: java.nio.file.Path = _
  /** Answers of the window's queries, checked once the truth is known. */
  private val answers = scala.collection.mutable.ArrayBuffer.empty[(AqpQuery, Boolean, Array[Row])]

  /** The templates, with parameters drawn from the seed. */
  def templates(seed: Long): Seq[AqpQuery] = {
    val rnd = new scala.util.Random(seed)
    // narrow ranges: selectivity, and so the work per query, stays alike
    // across seeds
    val qty = 20 + rnd.nextInt(6)
    val supp = 190 + rnd.nextInt(21)
    val disc = 0.04 + 0.01 * rnd.nextInt(2)
    val day1 = java.time.LocalDate.of(1994, 11, 1).plusDays(rnd.nextInt(120).toLong)
    val day2 = java.time.LocalDate.of(1994, 11, 1).plusDays(rnd.nextInt(120).toLong)
    def q(id: String, cls: String, keys: Seq[String], aggs: Seq[(String, String)],
        from: String, where: String, groupBy: String, clause: String, limit: Double) = {
      val w = if (where.isEmpty) "" else s" WHERE $where"
      val g = if (groupBy.isEmpty) keys.mkString(", ") else groupBy
      val base = keys ++ aggs.map { case (a, e) => s"$e AS $a" }
      val errs = aggs.flatMap { case (a, _) =>
        Seq(s"lower_bound($a) AS ${a}_lo", s"upper_bound($a) AS ${a}_hi",
          s"relative_error($a) AS ${a}_re")
      }
      val tail = s" FROM $from$w GROUP BY $g"
      AqpQuery(id, cls, keys, aggs.map(_._1),
        s"SELECT ${(base ++ errs).mkString(", ")}$tail $clause",
        s"SELECT ${base.mkString(", ")}$tail", limit)
    }
    Seq(
      q("flag_sum_avg_count", "closedform", Seq("l_returnflag", "l_linestatus"),
        Seq("s" -> "sum(l_quantity)", "a" -> "avg(l_extendedprice)", "c" -> "count(*)"),
        "lineitem", "", "", "WITH ERROR 0.5", 0.5),
      q("supp_sum", "closedform", Seq("l_suppkey"),
        Seq("s" -> "sum(l_extendedprice)", "c" -> "count(*)"),
        "lineitem", s"l_suppkey <= $supp", "", "WITH ERROR 0.5", 0.5),
      q("supp_sum_small_strata", "closedform", Seq("l_suppkey"),
        Seq("s" -> "sum(l_quantity)"),
        "lineitem", s"l_suppkey <= $supp AND l_quantity > 45", "", "WITH ERROR 0.9", 0.9),
      q("flag_avg_filtered", "bootstrap", Seq("l_returnflag"),
        Seq("a" -> "avg(l_extendedprice)"),
        "lineitem", s"l_quantity > $qty", "", "WITH ERROR 0.5", 0.5),
      q("status_revenue_filtered", "closedform", Seq("l_linestatus"),
        Seq("s" -> "sum(l_extendedprice * (1 - l_discount))"),
        "lineitem", s"l_shipdate >= TIMESTAMP '$day1 00:00:00' AND l_discount > $disc",
        "", "WITH ERROR 0.5", 0.5),
      q("priority_join", "join", Seq("o_orderpriority"),
        Seq("s" -> "sum(l_extendedprice)", "c" -> "count(*)"),
        "lineitem JOIN orders ON l_orderkey = o_orderkey",
        s"o_orderdate < TIMESTAMP '$day2 00:00:00'", "", "WITH ERROR 0.5", 0.5),
      q("flag_rollup", "rollup", Seq("l_returnflag", "l_linestatus"),
        Seq("s" -> "sum(l_quantity)"),
        "lineitem", "", "ROLLUP(l_returnflag, l_linestatus)", "WITH ERROR 0.5", 0.5),
      q("supp_local_omit", "local_omit", Seq("l_suppkey"),
        Seq("s" -> "sum(l_quantity)"),
        "lineitem", s"l_suppkey <= $supp", "",
        "WITH ERROR 0.15 BEHAVIOR 'local_omit'", 0.15),
      q("supp_partial", "hac_partial", Seq("l_suppkey"),
        Seq("s" -> "sum(l_extendedprice)"),
        "lineitem", s"l_suppkey <= $supp", "",
        "WITH ERROR 0.15 BEHAVIOR 'partial_run_on_base_table'", 0.15),
      q("flag_full", "hac_full", Seq("l_returnflag"),
        Seq("s" -> "sum(l_quantity)"),
        "lineitem", "", "", "WITH ERROR 0.001 BEHAVIOR 'run_on_full_table'", 0.001))
  }

  /** Aggregate values of a result, keyed by its group key. */
  private def valuesOf(q: AqpQuery, rows: Array[Row]): Map[String, Seq[Double]] =
    rows.map { r =>
      q.keyOf(r) -> q.aggs.indices.map { i =>
        val v = r.get(q.keys.size + i)
        if (v == null) Double.NaN else v.asInstanceOf[Number].doubleValue()
      }
    }.toMap

  def generate(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.dataDir.resolve(s"aqp-seed${ctx.seed}-li$LineitemRows")
    liDir = dir.resolve("lineitem").toString
    ordDir = dir.resolve("orders").toString
    Gen.cached(spark, dir.resolve("lineitem"), LineitemRows)(
      Gen.lineitem(spark, ctx.seed, LineitemRows))
    Gen.cached(spark, dir.resolve("orders"), OrdersRows)(
      Gen.orders(spark, ctx.seed, OrdersRows))
    queries = templates(ctx.seed)
    truthFile = dir.resolve("truth.json")
  }

  /** The exact answer of every template, by plain Spark SQL on the base
   * tables (the engine's parser and rewrite are not involved), cached per
   * seed. Computed after the window, on a warm JVM. */
  private def loadTruth(ctx: Ctx): Unit = {
    if (!Files.exists(truthFile)) {
      val t = queries.map { q =>
        q.id -> valuesOf(q, ctx.spark.sql(q.exact).collect())
          .map { case (k, v) => k -> v.asJava }.asJava
      }.toMap.asJava
      Files.write(truthFile, Json.mapper.writeValueAsBytes(t))
    }
    val node = Json.mapper.readTree(truthFile.toFile)
    truth = queries.map { q =>
      val groups = node.get(q.id)
      q.id -> groups.fieldNames().asScala.map { k =>
        k -> groups.get(k).elements().asScala.map(n =>
          if (n.isNumber) n.asDouble() else Double.NaN).toSeq
      }.toMap
    }.toMap
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    spark.conf.set("spark.sql.aqp.estimator", "auto")
    spark.read.parquet(liDir).createOrReplaceTempView("lineitem")
    spark.read.parquet(ordDir).createOrReplaceTempView("orders")
    ctx.tracer.span("setup", "StratifiedSampler.build") {
      ctx.gs.sql("CREATE SAMPLE TABLE li_flag_sample ON lineitem " +
        "OPTIONS(qcs 'l_returnflag,l_linestatus', fraction '0.01')")
      ctx.gs.sql("CREATE SAMPLE TABLE li_supp_sample ON lineitem " +
        "OPTIONS(qcs 'l_suppkey', fraction '0.02', strataReservoirSize '30')")
      // the samples are cached lazily: materialize them here
      val kept = spark.table("li_flag_sample").count() + spark.table("li_supp_sample").count()
      ctx.tracer.note("kept_rows", kept.toDouble)
      ctx.tracer.note("base_rows", 2.0 * LineitemRows)
    }
  }

  /** Every template once with its clause. */
  def warmup(ctx: Ctx): Unit = queries.foreach(q => ctx.gs.sql(q.approx).collect())

  /** Run one query the way `GraftSession.sql` does, one layer at a time
   * under its own span, and check the rewritten plan is the one the session
   * entry point produces. */
  private def tracedRows(ctx: Ctx, op: String, text: String): Array[Row] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val parsed = tr.span(op, "AqpParser.parse") {
      new AqpParser(spark.sessionState.sqlParser, Some(spark)).parsePlan(text)
    }
    val analyzed = tr.span(op, "catalyst.analyze")(Plans.analyzed(Plans.ofRows(spark, parsed)))
    val rewritten = tr.span(op, "AqpRewrite.rewrite")(AqpRewrite(spark)(analyzed))
    val df = tr.span(op, "catalyst.analyze")(Plans.ofRows(spark, rewritten))
    tr.span(op, "catalyst.optimize")(df.queryExecution.optimizedPlan)
    tr.span(op, "catalyst.plan")(df.queryExecution.executedPlan)
    val rows = tr.span(op, "exec") {
      val r = df.collect()
      tr.notePlan(df.queryExecution.executedPlan)
      r
    }
    tr.note("family." + AqpInfo.analysisOf(df), 1)
    traced = Some(df)
    rows
  }
  /** The last layer-by-layer frame, for the path-drift guard. */
  private var traced: Option[DataFrame] = None
  private val drifted = scala.collection.mutable.HashSet.empty[String]

  /** The analyst's schedule: rounds of every template once with its
   * clause, in a seeded order, with one template without the clause after
   * every third query. Those exact queries rotate through the templates in
   * a fixed order, so every run times the same ones. */
  private def schedule(seed: Long): Iterator[(AqpQuery, Boolean)] = {
    val rnd = new scala.util.Random(seed ^ 0x5DEECE66DL)
    val exact = Iterator.continually(queries).flatten
    Iterator.continually(rnd.shuffle(queries)).flatten.zipWithIndex.flatMap {
      case (q, i) => if (i % 3 == 2) Seq(q -> true, exact.next() -> false) else Seq(q -> true)
    }
  }

  private var plan: Iterator[(AqpQuery, Boolean)] = _

  /** Run the `n`-th query of the schedule (`n` counts from 1). */
  def step(ctx: Ctx, n: Int): Unit = {
    if (plan == null) plan = schedule(ctx.seed)
    val (q, approx) = plan.next()
    val op = s"q$n"
    val text = if (approx) q.approx else q.exact
    val cls = if (approx) q.cls else "exact"
    ctx.tracer.op(traced = n % 2 == 0)(ctx.guarded(s"${q.id} ${if (approx) "approx" else "exact"}") {
      val (rows, ms) = ctx.timed {
        ctx.tracer.span(op, "query", cls) {
          if (ctx.tracer.active) tracedRows(ctx, op, text)
          else ctx.gs.sql(text).collect()
        }
      }
      ctx.sampleOp(if (approx) "op_ms" else "side_ms", q.id, ms)
      answers += ((q, approx, rows))
      // path-drift guard, once per query text, outside the timed region
      for (df <- traced.take(1) if drifted.add(text))
        ctx.result.op(AqpTrace.sameShape(ctx.gs.sql(text), df),
          s"traced path drifted from GraftSession.sql for: $text")
      traced = None
    })
  }

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  private def equalsTruth(q: AqpQuery, got: Map[String, Seq[Double]]): Boolean = {
    val want = truth(q.id)
    got.keySet == want.keySet && got.forall { case (k, vs) =>
      vs.zip(want(k)).forall { case (a, b) => close(a, b) } }
  }

  private def checkExact(ctx: Ctx, q: AqpQuery, rows: Array[Row]): Unit =
    ctx.result.op(equalsTruth(q, valuesOf(q, rows)),
      s"${q.id}: exact answer differs from plain Spark SQL")

  private def checkApprox(ctx: Ctx, q: AqpQuery, rows: Array[Row]): Unit = {
    val want = truth(q.id)
    val res = ctx.result
    val nk = q.keys.size
    val na = q.aggs.size
    def est(r: Row, i: Int): Option[Double] =
      Option(r.get(nk + i)).map(_.asInstanceOf[Number].doubleValue())
    def err(r: Row, i: Int, j: Int): Option[Double] =
      Option(r.get(nk + na + 3 * i + j)).map(_.asInstanceOf[Number].doubleValue())
    var ok = rows.forall(r => want.contains(q.keyOf(r)))
    q.cls match {
      case "hac_full" =>
        ok &&= equalsTruth(q, valuesOf(q, rows))
      case "hac_partial" =>
        // every group either re-ran exactly on the base table or kept an
        // estimate within the limit
        val rerouted = rows.count(r => est(r, 0).exists(v => close(v, want(q.keyOf(r)).head)))
        ok &&= rows.length == want.size && rows.forall { r =>
          est(r, 0).exists(v => close(v, want(q.keyOf(r)).head)) ||
            err(r, 0, 2).exists(_ <= q.limit)
        }
        res.sample("hac_rerouted_share", rerouted.toDouble / math.max(1, rows.length))
      case cls =>
        val omitted = rows.count(r => est(r, 0).isEmpty)
        if (cls == "local_omit") {
          res.sample("hac_omitted_share", omitted.toDouble / math.max(1, rows.length))
          ok &&= rows.forall(r => est(r, 0).isEmpty || err(r, 0, 2).exists(_ <= q.limit))
        }
        for (r <- rows; i <- 0 until na; e <- est(r, i); lo <- err(r, i, 0); hi <- err(r, i, 1)) {
          val exact = want(q.keyOf(r))(i)
          res.sample("ci_covered", if (lo <= exact && exact <= hi) 1.0 else 0.0)
          if (exact != 0) res.sample("rel_err", math.abs(e - exact) / math.abs(exact))
        }
    }
    res.op(ok, s"${q.id}: approximate answer failed its check")
  }

  /** Check every answer of the window against the exact ones. */
  def finish(ctx: Ctx): Unit = {
    loadTruth(ctx)
    for ((q, approx, rows) <- answers)
      ctx.guarded(s"check ${q.id}") {
        if (approx) checkApprox(ctx, q, rows) else checkExact(ctx, q, rows)
      }
  }
}

object AqpTrace {
  /** Plans equal up to expression ids. */
  def sameShape(a: DataFrame, b: DataFrame): Boolean = {
    def norm(df: DataFrame) =
      df.queryExecution.analyzed.treeString.replaceAll("#\\d+L?", "#")
    norm(a) == norm(b)
  }
}
