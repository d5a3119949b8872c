package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ann.Ann
import graft.dedup.Dedup
import graft.pipeline.Pipeline
import graft.text.TextFunctions

/** Seeded corpus with planted duplicates. A base set of documents (a tenth
 * of them junk: too short or repetitive) is replicated `Replicas` times,
 * each replica through its own letter-substitution cipher so replicas share
 * no content. Exact copies and one-word-edited near copies of good
 * documents are planted on top, and the planted pairs are the ground
 * truth. */
final class Corpus(seed: Long) {
  val BaseDocs = 1000
  val Replicas = 4
  val Planted = 60 // of each kind
  val Stopwords = Array("the", "and", "of", "to", "in", "is", "that", "it", "was",
    "for", "with", "as", "on", "are", "this", "from", "by", "at")

  private val rnd = new java.util.Random(seed)
  private val vocab: Array[String] = Array.fill(3000) {
    val n = 3 + rnd.nextInt(7)
    new String(Array.fill(n)(('a' + rnd.nextInt(26)).toChar))
  }

  private def word(r: java.util.Random): String =
    if (r.nextDouble() < 0.35) Stopwords(r.nextInt(Stopwords.length))
    else vocab((vocab.length * math.pow(r.nextDouble(), 2)).toInt)

  /** (text, good) of base document `i`. */
  private def baseDoc(i: Int): (String, Boolean) = {
    val r = new java.util.Random(seed * 31 + i)
    r.nextInt(10) match {
      case 0 => (Seq.fill(3 + r.nextInt(10))(word(r)).mkString(" ") + ".", false)
      case 1 => (Seq.fill(40)("buy now").mkString(" ") + "!", false)
      case _ =>
        val words = Seq.fill(50 + r.nextInt(40))(word(r))
        (words.grouped(12).map(_.mkString(" ") + ".").mkString(" "), true)
    }
  }

  private def cipher(k: Int, s: String): String =
    if (k == 0) s
    else {
      val letters = scala.util.Random.javaRandomToRandom(
        new java.util.Random(seed ^ (k * 0x9E3779B97F4A7C15L))).shuffle(('a' to 'z').toVector)
      s.map(c => if (c >= 'a' && c <= 'z') letters(c - 'a') else c)
    }

  /** Documents as (doc_id, text, source), and the planted exact and near
   * pairs as (original id, copy id). */
  def build(): (Seq[(Long, String, String)], Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val base = (0 until BaseDocs).map(baseDoc)
    val docs = for (k <- 0 until Replicas; (i, (t, _)) <- base.indices.zip(base))
      yield (k * 10000000L + i, cipher(k, t), s"src${i % 7}")
    val good = docs.filter { case (id, _, _) => base((id % 10000000L).toInt)._2 }
    val r = new java.util.Random(seed + 17)
    val picks = scala.util.Random.javaRandomToRandom(r).shuffle(good).take(2 * Planted)
    val exact = picks.take(Planted).zipWithIndex.map { case ((id, t, s), j) =>
      ((id, 900000000L + j), (900000000L + j, t, s)) }
    val near = picks.drop(Planted).zipWithIndex.map { case ((id, t, s), j) =>
      val ws = t.split(" ")
      // one word replaced by a different word of the same document (so
      // the copy stays in the replica's alphabet and is never exact)
      val p = r.nextInt(ws.length)
      val others = ws.filter(_ != ws(p))
      ws(p) = others(r.nextInt(others.length))
      ((id, 950000000L + j), (950000000L + j, ws.mkString(" "), s)) }
    (docs ++ exact.map(_._2) ++ near.map(_._2), exact.map(_._1), near.map(_._1))
  }
}

/** Embeddings: random unit vectors plus planted near-identical copies. */
final class Vectors(seed: Long) {
  val Count = 8000
  val Dim = 64
  val Planted = 100

  def build(): (Seq[(Long, Array[Float])], Seq[(Long, Long)]) = {
    val r = new java.util.Random(seed + 99)
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val raw = Array.fill(Count)(Array.fill(Dim)(r.nextGaussian()))
    val vecs = raw.indices.map(i => (i.toLong, unit(raw(i))))
    val copies = (0 until Planted).map { j =>
      val src = r.nextInt(Count)
      (src.toLong, 1000000L + j) -> unit(raw(src).map(_ + 0.001 * r.nextGaussian()))
    }
    (vecs ++ copies.map { case ((_, id), v) => (id, v) }, copies.map(_._1))
  }
}

/** A fixed text pipeline (quality filter, exact dedup, n-gram Jaccard
 * near-dup pairs, connected components, chunking) over the corpus, and an
 * embedding cosine dedup, alternating in a closed loop. */
final class DedupPipeline extends Workload {
  private var corpusDir = ""
  private var vectorsDir = ""
  private var inputBytes = 0L
  private var exactPairs: Seq[(Long, Long)] = Nil
  private var nearPairs: Seq[(Long, Long)] = Nil
  private var vecPairs: Seq[(Long, Long)] = Nil
  private var corpus: DataFrame = _
  private var vectors: DataFrame = _
  private var corpusRows = 0L
  private var firstPass: Option[Seq[Long]] = None
  private var firstAnn: Option[Set[(Long, Long)]] = None

  def generate(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.dataDir.resolve(s"dedup-seed${ctx.seed}")
    val (docs, ex, nr) = new Corpus(ctx.seed).build()
    val (vecs, vp) = new Vectors(ctx.seed).build()
    exactPairs = ex; nearPairs = nr; vecPairs = vp
    corpusDir = dir.resolve("documents").toString
    vectorsDir = dir.resolve("embeddings").toString
    import spark.implicits._
    Gen.cached(spark, dir.resolve("documents"), docs.size.toLong)(
      docs.toDF("doc_id", "text", "source").repartition(8))
    Gen.cached(spark, dir.resolve("embeddings"), vecs.size.toLong)(
      vecs.toDF("vec_id", "embedding").repartition(8))
    inputBytes = ctx.bytesUnder(dir.resolve("documents")) + ctx.bytesUnder(dir.resolve("embeddings"))
  }

  /** Reads the inputs and caches them in memory. */
  def setup(ctx: Ctx): Unit = {
    corpus = ctx.spark.read.parquet(corpusDir).persist()
    vectors = ctx.spark.read.parquet(vectorsDir).persist()
    corpusRows = corpus.count()
    vectors.count()
  }

  /** One full pass of each: the per-row kernels warm on the real inputs. */
  def warmup(ctx: Ctx): Unit = {
    textPass(ctx, "warmup-text", corpus)
    annPass(ctx, "warmup-ann", vectors)
  }

  /** One pipeline pass over `docs`; returns the row counts of its stages
   * (filtered, deduped, verified pairs, components, chunks) and how many
   * planted document pairs it found. */
  private def textPass(ctx: Ctx, op: String, docs: DataFrame): (Seq[Long], Int) = {
    val tr = ctx.tracer
    val (filtered, nFiltered) = tr.span(op, "text.filter") {
      val f = docs.filter(TextFunctions.tokenCountWs(col("text")) >= 20 &&
        TextFunctions.repetitionRatio(col("text"), 3) < 0.3).persist()
      (f, f.count())
    }
    val (deduped, kept) = tr.span(op, "dedup.exact") {
      val d = Dedup.exact(filtered, "text", "doc_id").persist()
      (d, d.select("doc_id").collect().map(_.getLong(0)).toSet)
    }
    val (pairs, nPairs) = tr.span(op, "dedup.jaccard") {
      val p = Dedup.jaccardPairs(deduped, "doc_id", "text", threshold = 0.8)
        .select("id_a", "id_b").persist()
      val n = p.count()
      tr.note("verified_pairs", n.toDouble)
      (p, n)
    }
    val cluster = tr.span(op, "dedup.cc") {
      val c = Dedup.connectedComponents(pairs, deduped.select("doc_id"), "doc_id")
        .select("doc_id", "cluster_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      tr.note("components", c.values.toSet.size.toDouble)
      c
    }
    val chunks = tr.span(op, "pipeline.chunk") {
      Pipeline.chunk(deduped, "text", chunkTokens = 32, overlap = 4).count()
    }
    Seq(filtered, deduped, pairs).foreach(_.unpersist(blocking = true))
    val found = exactPairs.count { case (a, b) => kept(a) != kept(b) } +
      nearPairs.count { case (a, b) => cluster.get(a).exists(cluster.get(b).contains) }
    (Seq(nFiltered, kept.size.toLong, nPairs, cluster.values.toSet.size.toLong, chunks), found)
  }

  private def annPass(ctx: Ctx, op: String, vecs: DataFrame): Set[(Long, Long)] =
    ctx.tracer.span(op, "ann.cosine_dedup") {
      val p = Ann.cosineDedupPairs(vecs, "vec_id", "embedding", threshold = 0.99)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      ctx.tracer.note("pairs", p.size.toDouble); p
    }

  def run(ctx: Ctx): Unit = {
    val res = ctx.result
    val window = new Window(ctx.seconds)
    var docs = 0L
    var textMs = 0.0
    var i = 0
    var lastText, lastAnn = 0L
    while (window.fits(lastText)) {
      i += 1
      val t0 = System.nanoTime()
      ctx.guarded("text pipeline") {
        val ((counts, found), ms) = ctx.tracer.op(traced = i % 2 == 1) {
          val r = ctx.timed(
            ctx.tracer.span(s"text-$i", "pass")(textPass(ctx, s"text-$i", corpus)))
          ctx.sampleOp("op_ms", "text", r._2)
          r
        }
        docs += corpusRows; textMs += ms
        val planted = exactPairs.size + nearPairs.size
        if (firstPass.isEmpty) {
          firstPass = Some(counts)
          res.value("docs_recall", found.toDouble / planted)
          // LSH candidate volume, outside the timed pass: jaccardPairs
          // verifies candidates internally and does not report them
          if (ctx.tracer.enabled) ctx.tracer.span("candidates", "dedup.lsh_candidates") {
            val d = Dedup.exact(corpus.filter(TextFunctions.tokenCountWs(col("text")) >= 20 &&
              TextFunctions.repetitionRatio(col("text"), 3) < 0.3), "text", "doc_id")
            res.value("dedup.candidates",
              Dedup.lshCandidatePairIds(d, "doc_id", "text").count().toDouble)
          }
        }
        res.op(firstPass.contains(counts) && counts(0) - counts(1) == exactPairs.size,
          s"text pipeline counts $counts (first pass ${firstPass.get}; " +
            s"exact dedup must drop the ${exactPairs.size} planted copies)")
      }
      lastText = System.nanoTime() - t0
      if (window.fits(lastAnn)) ctx.guarded("ann dedup") {
        val t1 = System.nanoTime()
        val pairs = ctx.tracer.op(traced = i % 2 == 1) {
          val (p, ms) = ctx.timed(annPass(ctx, s"ann-$i", vectors))
          ctx.sampleOp("side_ms", "ann", ms)
          p
        }
        if (firstAnn.isEmpty) firstAnn = Some(pairs)
        res.op(firstAnn.contains(pairs), "cosine dedup pairs changed between passes")
        lastAnn = System.nanoTime() - t1
      }
    }
    res.value("items_per_s", docs / (textMs / 1000))
  }

  def finish(ctx: Ctx): Unit = {
    val res = ctx.result
    val vecFound = firstAnn.map(p => vecPairs.count { case (a, b) =>
      p((math.min(a, b), math.max(a, b))) }).getOrElse(0)
    val planted = exactPairs.size + nearPairs.size + vecPairs.size
    val docsFound = res.values.getOrElse("docs_recall", 0.0) * (exactPairs.size + nearPairs.size)
    res.value("accuracy", (docsFound + vecFound) / planted)
    res.value("stored_per_input", ctx.cachedBytes().toDouble / inputBytes)
  }
}
