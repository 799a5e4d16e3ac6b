package graft.perfbench

import graft.Engine
import graft.queries.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** `curate_serve`: one client over the generated documents+embeddings
  * corpus. Each round rebuilds the stored BM25 (`writeBm25Index`), n-gram
  * (`writeNgramIndex`) and IVF (`buildIvfIndex`) indexes, each build
  * starting from `Engine.clearSwapCaches`; then serves batches of BM25
  * probes (`probeBm25Index`, query text cut from corpus documents) and IVF
  * probes (`searchVectors` over the stored index, seeded query vectors);
  * and runs one one-shot `Dedup.minhashPairs` pass. Every served batch is
  * checked after the loop against the same ranking computed one-shot.
  *
  * Kernel-heavy and index-I/O-heavy, and it exercises the swap caches; it
  * bypasses the SQL dialect and the multiset store. The BM25 index holds
  * unigram postings: the generated vocabulary gives unigrams positive idf,
  * and `TextAnalysis.searchBm25`, the one-shot ranking the probe is
  * checked against, ranks unigrams. */
final class CurateServe extends Workload {
  val tables: Seq[String] = Seq("documents", "embeddings")

  private val batch = 8
  private val cents = Similarity.hashCentroids(16)
  private var idx: String = _
  private var docs = 0L
  private var texts: IndexedSeq[String] = IndexedSeq.empty
  private var vecs: IndexedSeq[Array[Double]] = IndexedSeq.empty
  private var nextQuery = 0L
  /** (rows, query batch, BM25?) of every probe served in the loop */
  private var served: Seq[(Seq[Seq[Any]], DataFrame, Boolean)] = Nil

  private def bm25Path = s"$idx/bm25"
  private def ngramPath = s"$idx/ngram"
  private def ivfPath = s"$idx/ivf"

  private def build(ctx: Ctx, cls: String)(body: => Unit): Unit = {
    Engine.clearSwapCaches(ctx.spark)
    ctx.op(cls)(ctx.tracer.span(s"queries.$cls")(body))
  }
  private def buildAll(ctx: Ctx): Unit = {
    val (spark, dir) = (ctx.spark, ctx.dataDir)
    build(ctx, "bm25_write")(TextAnalysis.writeBm25Index(spark, dir, bm25Path, bigram = false))
    build(ctx, "ngram_write")(Dedup.writeNgramIndex(spark, dir, ngramPath))
    build(ctx, "ivf_write")(Similarity.buildIvfIndex(spark, dir, ivfPath))
  }

  private def textBatch(ctx: Ctx): DataFrame = {
    val rows = (0 until batch).map { _ =>
      nextQuery += 1
      Row(nextQuery, texts(ctx.rng.nextInt(texts.size)))
    }
    ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      new StructType().add("query_id", LongType).add("text", StringType))
  }
  private def vectorBatch(ctx: Ctx): DataFrame = {
    val rows = (0 until batch).map { _ =>
      nextQuery += 1
      // negative ids: searchVectors excludes a candidate equal to the query id
      Row(-nextQuery, vecs(ctx.rng.nextInt(vecs.size)).map(_ + 0.05 * ctx.rng.nextGaussian()).toSeq)
    }
    ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      new StructType().add("query_id", LongType).add("qv", ArrayType(DoubleType)))
  }

  private def bm25Probe(ctx: Ctx, q: DataFrame): DataFrame =
    TextAnalysis.probeBm25Index(ctx.spark, bm25Path, q, bigram = false)
  private def ivfProbe(ctx: Ctx, q: DataFrame): DataFrame =
    Similarity.searchVectors(q, ctx.spark.read.parquet(ivfPath), cents)

  def init(ctx: Ctx): Unit = {
    val spark = ctx.spark
    idx = s"${ctx.workDir}/indexes"
    docs = spark.table("documents").count()
    // probe inputs: 8..16-word windows of seeded documents, and seeded
    // embeddings that each probe perturbs
    val rng = new scala.util.Random(ctx.seed)
    val ids = Seq.fill(200)(rng.nextInt(docs.toInt)).distinct.mkString(",")
    texts = spark.sql(s"SELECT text FROM documents WHERE doc_id IN ($ids)").collect()
      .map { r =>
        val w = r.getString(0).split(' ')
        val n = math.min(w.length, 8 + rng.nextInt(9))
        w.slice(rng.nextInt(w.length - n + 1), w.length).take(n).mkString(" ")
      }.toIndexedSeq
    val nv = spark.table("embeddings").count().toInt
    val vids = Seq.fill(200)(rng.nextInt(nv)).distinct.mkString(",")
    vecs = spark.sql(s"SELECT embedding FROM embeddings WHERE vec_id IN ($vids)").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray).toIndexedSeq
  }

  /** One build of each index, one probe of each kind and one dedup pass:
    * every kind of operation the round runs. */
  def warmup(ctx: Ctx): Unit = {
    buildAll(ctx)
    bm25Probe(ctx, textBatch(ctx)).collect()
    ivfProbe(ctx, vectorBatch(ctx)).collect()
    Engine.clearSwapCaches(ctx.spark)
    Dedup.minhashPairs(ctx.spark, ctx.dataDir).collect()
  }

  /** One round per step: the three index builds, a BM25 and an IVF probe
    * batch, then a dedup pass. */
  def step(ctx: Ctx): Unit = {
    val spark = ctx.spark
    buildAll(ctx)
    for (bm25 <- Seq(true, false)) {
      val q = ctx.offClock(if (bm25) textBatch(ctx) else vectorBatch(ctx))
      val span = if (bm25) "queries.bm25_probe" else "queries.ivf_probe"
      ctx.op("probe")(ctx.tracer.span(span)(
        (if (bm25) bm25Probe(ctx, q) else ivfProbe(ctx, q)).collect()))
        .foreach(rows => served :+= ((rows.toSeq.map(_.toSeq), q, bm25)))
    }
    Engine.clearSwapCaches(spark)
    ctx.op("dedup")(ctx.tracer.span("queries.minhash")(
      Dedup.minhashPairs(spark, ctx.dataDir).collect()))
  }

  private def ranked(rows: Seq[Seq[Any]]): Seq[Seq[Any]] =
    rows.sortBy(r => (r(0).asInstanceOf[Long], r(3).asInstanceOf[Int]))

  /** The same batch ranked without the stored index. */
  private def oneShot(ctx: Ctx, q: DataFrame, bm25: Boolean): Seq[Seq[Any]] =
    (if (bm25) TextAnalysis.searchBm25(q, ctx.dataDir)
     else Similarity.searchVectors(q, ctx.spark.table("embeddings").selectExpr(
       "vec_id AS cand_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS cv"), cents))
      .collect().toSeq.map(_.toSeq)

  /** Every served batch against its one-shot ranking. */
  def finish(ctx: Ctx): Boolean = {
    val samples = served.map { case (rows, q, bm25) => (ranked(rows), ranked(oneShot(ctx, q, bm25))) }
    samples.foreach { case (served, oneShot) =>
      if (!Check.sameRows(served, oneShot))
        ctx.wrong(s"curate_serve: probe differs from its one-shot ranking\n" +
          s"  served   ${served.take(3)}\n  one-shot ${oneShot.take(3)}")
    }
    samples.exists { case (_, o) => Check.bites(o) }
  }

  /** Kernel cost per row from direct SQL over the corpus (repeated 10×),
    * minus the same scan computing only the kernel's inputs. */
  def layerMetrics(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    def secs(sql: String): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime; spark.sql(sql).collect(); (System.nanoTime - t0) / 1e9
    })
    def perRow(kernel: String, base: String, from: String): Double = {
      val n = spark.sql(s"SELECT count(*) FROM $from").head().getLong(0)
      (secs(s"SELECT sum($kernel) FROM $from") - secs(s"SELECT sum($base) FROM $from")) / n * 1e9
    }
    val docs20 = "documents CROSS JOIN range(10)"
    val sets = "(SELECT sort_array(array_distinct(split(text, ' '))) AS a, " +
      "sort_array(array_distinct(slice(split(text, ' '), 3, 1000))) AS b FROM " + docs20 + ")"
    val vectors = "(SELECT transform(embedding, x -> CAST(x AS DOUBLE)) AS v " +
      "FROM embeddings CROSS JOIN range(10))"
    Map(
      "functions.word_ngram_tfs.ns_per_row" -> perRow(
        "size(word_ngram_tfs(lower(text), 1))", "length(lower(text))", docs20),
      "functions.jaccard_sorted.ns_per_row" -> perRow("jaccard_sorted(a, b)", "size(a) + size(b)", sets),
      "functions.argmax_dot.ns_per_row" -> perRow(
        s"argmax_dot(v, ${Similarity.centroidMatrixSql})", "size(v)", vectors))
  }

  def breakdown(ctx: Ctx): Map[String, Double] = {
    def med(c: String) = Stats.median(ctx.samples.getOrElse(c, Nil).toSeq)
    val probes = ctx.samples.getOrElse("probe", Nil).toSeq
    Map("index_docs_per_s" -> docs / (med("bm25_write") + med("ngram_write") + med("ivf_write")),
      "probe_p50_s" -> Stats.quantile(probes, 0.5), "probe_p90_s" -> Stats.quantile(probes, 0.9),
      "dedup_docs_per_s" -> docs / med("dedup"))
  }
}
