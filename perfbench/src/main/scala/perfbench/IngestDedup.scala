package perfbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{DedupQueries, SimilarityQueries}

/** LLM-data-pipeline ingest. Set-up writes a standing corpus of
  * documents and embeddings and builds its persisted indexes; one
  * closed-loop client then submits seeded incoming batches, each with
  * planted exact and near duplicates, and dedups every batch twice:
  * MinHash word-3-shingle Jaccard >= 0.8 (nearDupPairsAcross) and
  * cosine >= 0.95 (embeddingNearDupAcross). */
object IngestDedup {
  val CorpusDocs = 2000
  val BatchSize = 200
  val Exact = 10
  val Near = 20
  val JaccardMin = 0.8
  val CosineMin = 0.95
  val RecallMin = 0.9               // planted-pair recall per batch, both passes
  val TailPct = 75.0               // ~9 batches a 25 s run: no percentile leaves 10 beyond
  val Setups = 3

  final class Corpus(ctx: Ctx, val dir: Path) {
    private val spark = ctx.spark
    import spark.implicits._
    val (docs, embs) = Gen.Docs.corpus(ctx.seed, CorpusDocs)
    writeDocs(dir, docs, embs)

    def writeDocs(d: Path, ds: Seq[(Long, String)], es: Seq[(Long, Array[Float])]): Unit = {
      ds.toDF("doc_id", "text").withColumn("lang", lit("en")).withColumn("source", lit("web"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.parquet(d.resolve("documents.parquet").toString)
      es.map { case (i, v) => (i, v.toSeq, 0) }.toDF("vec_id", "embedding", "label")
        .write.parquet(d.resolve("embeddings.parquet").toString)
    }

    def shingled(d: Path): DataFrame = DedupQueries.wordShingleDocs(spark, d.toString)
    def vectors(d: Path): DataFrame = Tables.load(spark, d.toString, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    lazy val base: DataFrame = shingled(dir)
      .where(col("doc_id") % DedupQueries.IngestSplitMod =!= DedupQueries.IngestSplitRem)
    lazy val baseVecs: DataFrame = vectors(dir)

    def indexes(): (DedupQueries.BandIndex, (Int, DataFrame)) =
      (DedupQueries.baseBandIndex(spark, dir.toString), SimilarityQueries.embKeyIndex(spark, dir.toString))

    /** One incoming batch through both passes; returns (text pairs,
      * embedding pairs) as (new_id, old_id, score). */
    def dedup(batchDir: Path): (Seq[(Long, Long, Double)], Seq[(Long, Long, Double)]) = {
      val (band, (bits, keys)) = ctx.trace.span("core", "index_load") { indexes() }
      val text = ctx.trace.span("operators", "text_pairs") {
        DedupQueries.nearDupPairsAcross(base, shingled(batchDir),
          sigCol = call_function(graft.functions.MinHash.sigFnName, col("sh")), payloadCol = col("sh"),
          jacOf = DedupQueries.arrayJaccard, threshold = JaccardMin, baseIndex = Some(band))
          .as[(Long, Long, Double)].collect().toSeq
      }
      val emb = ctx.trace.span("operators", "emb_pairs") {
        SimilarityQueries.embeddingNearDupAcross(baseVecs, vectors(batchDir), CosineMin, bits, keys)
          .as[(Long, Long, Double)].collect().toSeq
      }
      (text, emb)
    }
  }

  /** One checked batch: its latency, planted pairs found of those
    * planted, and text pairs reported. */
  final case class Result(sample: Sample, found: Int, planted: Int, textPairs: Int)

  private def shingles(text: String): Set[String] = text.split(" ").sliding(3).map(_.mkString(" ")).toSet
  private def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }
  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d, na, nb = 0.0
    a.indices.foreach { i => d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
    d / math.sqrt(na * nb)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val setups = (0 until Setups).map { i =>
      val t0 = System.nanoTime()
      val c = new Corpus(ctx, ctx.dir(s"ingest_$i").resolve("corpus"))
      ctx.trace.span("core", "index_build") { c.indexes() }
      val ms = (System.nanoTime() - t0) / 1e6
      (ms, c)
    }
    val c = setups.last._2
    ctx.e("setup_s", Stats.median(setups.map(_._1)) / 1000.0, "s")
    ctx.log(s"set-up done: ${setups.map(_._1.toInt).mkString(", ")} ms")
    val docText = c.docs.toMap
    val corpusVec = c.embs.toMap

    /** Submit batch `op` and check it. */
    def submit(op: Long): Result = {
      val b = Gen.Docs.batch(ctx.seed, op, BatchSize, Exact, Near, c.docs, c.embs)
      val bdir = ctx.dir(s"batch_$op")
      c.writeDocs(bdir, b.docs, b.embs)
      val t0 = System.nanoTime()
      val (text, emb) = c.dedup(bdir)
      val s = Sample((System.nanoTime() - t0) / 1e6, ctx.trace.enabled)
      // no reported pair below its threshold; planted pairs found
      val bText = b.docs.toMap; val bVec = b.embs.toMap
      val badText = text.count { case (n, o, j) =>
        val mine = jaccard(bText(n), docText(o)); j < JaccardMin || math.abs(mine - j) > 1e-9 }
      val badEmb = emb.count { case (n, o, cs) =>
        val mine = cosine(bVec(n), corpusVec(o)); cs < CosineMin || math.abs(mine - cs) > 1e-5 }
      val textTruth = b.plantedText.filter { case (n, o) => jaccard(bText(n), docText(o)) >= JaccardMin }
      val embTruth = b.plantedEmb.filter { case (n, o) => cosine(bVec(n), corpusVec(o)) >= CosineMin }
      val found = textTruth.count(p => text.exists(t => t._1 == p._1 && t._2 == p._2)) +
        embTruth.count(p => emb.exists(t => t._1 == p._1 && t._2 == p._2))
      val planted = textTruth.size + embTruth.size
      ctx.ok(badText + badEmb == 0, s"batch $op: ${badText + badEmb} reported pairs fail their threshold")
      ctx.ok(found >= RecallMin * planted, s"batch $op: planted recall $found/$planted < $RecallMin")
      if (ctx.trace.enabled) traceBatch(ctx, c, bdir)
      Dirs.delete(bdir)
      Result(s, found, planted, text.size)
    }

    submit(-1) // warm-up, untimed
    val results = scala.collection.mutable.ArrayBuffer.empty[Result]
    // the window counts dedup time only: writing each batch's input and
    // checking its output stop the clock, so every run gets the same
    // measured time (at about 2.7 s a batch, about 9 batches in 25 s)
    ctx.measure { _ =>
      var op = 0L
      var busyMs = 0.0
      while (busyMs < ctx.seconds * 1000.0) {
        ctx.trace.newOp(); results += submit(op); busyMs += results.last.sample.ms; op += 1
      }
    }
    val lat = results.map(_.sample.ms).toSeq
    ctx.log(s"measured: ${results.size} batches, ms ${lat.map(_.toInt).mkString(" ")}")
    ctx.e("latency_p50_ms", Stats.median(lat), "ms")
    ctx.e("latency_tail_ms", Stats.pct(lat, TailPct), "ms")
    // closed loop, one client: documents per second is batch size / mean latency
    ctx.e("work_per_s", BatchSize * 1000.0 / Stats.mean(lat), "1/s")
    ctx.n("dedup_batch_p50_ms", Stats.median(lat), "ms")
    ctx.n(s"dedup_batch_tail_ms (p${TailPct.toInt}, n=${lat.size}, ${Stats.beyond(lat.size, TailPct)} beyond)",
      Stats.pct(lat, TailPct), "ms")
    val recall = results.map(_.found).sum.toDouble / math.max(1, results.map(_.planted).sum)
    ctx.n("planted_recall", recall, "ratio")

    if (ctx.tracedRun) {
      val tr = ctx.trace
      ctx.l("core.index_build_ms", tr.meanMs("core", "index_build"), "ms")
      Seq("core.index_load", "functions.shingle_minhash", "functions.lsh_keys",
          "operators.text_pairs", "operators.emb_pairs").foreach { n =>
        val Array(l, s) = n.split('.')
        ctx.l(s"${n}_ms", tr.meanMs(l, s), "ms")
      }
      val traced = results.filter(_.sample.traced)
      ctx.l("operators.candidate_precision",
        traced.map(_.textPairs).sum.toDouble / math.max(1L, candidates.get), "ratio")
      ctx.l("operators.planted_recall", recall, "ratio")
      ctx.sparkLayer(traced.size)
      val (a, b) = results.map(_.sample).toSeq.partition(!_.traced)
      ctx.l("bench.tracing_overhead_pct", 100.0 * (Stats.median(b.map(_.ms)) / Stats.median(a.map(_.ms)) - 1.0), "%")
    }
  }

  private val candidates = new java.util.concurrent.atomic.AtomicLong

  /** Traced half only, outside the timed op: the kernels as standalone
    * calls over the batch, and the LSH candidate count. */
  private def traceBatch(ctx: Ctx, c: Corpus, bdir: Path): Unit = {
    val spark = ctx.spark
    val (band, (bits, _)) = c.indexes()
    val sigs = c.shingled(bdir).select(col("doc_id"),
      call_function(graft.functions.MinHash.sigFnName, col("sh")).as("sig"))
    ctx.trace.span("functions", "shingle_minhash") { sigs.agg(max(element_at(col("sig"), 1))).head() }
    ctx.trace.span("functions", "lsh_keys") {
      c.vectors(bdir).select(posexplode(call_function(graft.functions.HyperplaneLsh.wideFnName,
        col("v"), lit(bits))).as(Seq("table_id", "key"))).agg(max(col("key"))).head()
    }
    val n = sigs.select(col("doc_id").as("new_id"), explode(DedupQueries.bandKeys(col("sig"))).as("band"))
      .join(band.bands.select(col("doc_id").as("old_id"), col("band")), "band")
      .select("new_id", "old_id").distinct().count()
    candidates.addAndGet(n)
  }
}
