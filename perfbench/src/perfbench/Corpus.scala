package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{CorpusPipeline, Dedup, Sampling, Similarity, TextAnalysis}

/** `llm-corpus`: fuzzy corpus preparation, then the k-NN graph store
  * lifecycle (layered build and write, append, delete) and batched
  * layered serving over the read-back store.
  *
  * Inputs are synthetic and seeded: documents over a Zipf vocabulary
  * with planted near-duplicate groups, and clustered, centred 64-d
  * vectors. Checks: the number of surviving representatives equals the
  * number of planted groups; served neighbours reach a recall@10 floor
  * against brute force, and no deleted id is ever served.
  */
object Corpus {
  final case class Sizes(docs: Int, vocab: Int, vectors: Int, batches: Int, batchSize: Int)

  val spanNames: Seq[String] = Seq("dedup.near_pairs", "dedup.groups", "text.quality_redact",
    "similarity.build", "similarity.store_write", "similarity.mutate", "similarity.serve")

  val k = 10
  val recallFloor = 0.75
  private def isArrival(id: Column) = pmod(id, lit(5L)) === 4
  private def isDeleted(id: Column) = pmod(id, lit(7L)) === 3

  final case class Docs(rows: Seq[Row], groups: Int)

  /** Documents of 40-139 Zipf-drawn words in three languages. About a
    * fifth are near-duplicates: a copy of an earlier document with 5%
    * of its words replaced by other words of the same length, so the
    * copy stays in its original's length block. Each original with its
    * copies is one planted group; 5% of originals carry an e-mail
    * address for the redaction step.
    */
  def genDocs(n: Int, vocabSize: Int, seed: Long): Docs = {
    val r = new Random(seed)
    val vocab = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < vocabSize)
        seen += Seq.fill(3 + r.nextInt(8))(('a' + r.nextInt(26)).toChar).mkString
      seen.toArray
    }
    val byLen = vocab.indices.groupBy(i => vocab(i).length).map { case (l, is) => l -> is.toArray }
    val cdf = vocab.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail.toArray
    def zipf(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble() * cdf.last)
      if (i >= 0) i else -i - 1
    }
    val langs = Array("en", "de", "fr")
    val rows = mutable.ArrayBuffer.empty[Row]
    var groups = 0
    def add(words: Array[Int], extra: Option[(Int, String)], lang: String): Unit = if (rows.size < n) {
      val toks = words.map(vocab(_))
      extra.foreach { case (pos, tok) => toks(pos) = tok }
      val text = toks.mkString(" ")
      rows += Row(rows.size.toLong, text, lang, text.length.toLong, r.nextInt(1000).toLong)
    }
    while (rows.size < n) {
      val words = Array.fill(40 + r.nextInt(100))(zipf())
      val pii = if (r.nextDouble() < 0.05)
        Some(r.nextInt(words.length) -> s"user${r.nextInt(100000)}@mail.example.org") else None
      val lang = langs(r.nextInt(langs.length))
      add(words, pii, lang)
      groups += 1
      if (r.nextDouble() < 0.17) (0 to r.nextInt(2)).foreach { _ =>
        val copy = words.clone()
        val edits = math.max(1, math.round(words.length * 0.05).toInt)
        (0 until edits).foreach { _ =>
          val pos = r.nextInt(copy.length)
          val same = byLen(vocab(copy(pos)).length)
          if (same.length > 1) {
            var w = copy(pos)
            while (w == copy(pos)) w = same(r.nextInt(same.length))
            copy(pos) = w
          }
        }
        add(copy, pii, lang)
      }
    }
    Docs(rows.toSeq, groups)
  }

  /** Vectors around 16 random centres plus Gaussian noise, centred on
    * their mean.
    */
  def genVectors(n: Int, seed: Long): Seq[Row] = {
    val r = new Random(seed)
    val dim = 64
    val centres = Array.fill(16)(Array.fill(dim)(r.nextGaussian()))
    val raw = Array.fill(n) {
      val c = centres(r.nextInt(centres.length))
      Array.tabulate(dim)(d => c(d) + 0.6 * r.nextGaussian())
    }
    val mean = Array.tabulate(dim)(d => raw.map(_(d)).sum / n)
    raw.indices.map(i => Row(i.toLong, raw(i).indices.map(d => (raw(i)(d) - mean(d)).toFloat).toArray.toSeq))
  }

  val docSchema: StructType = StructType(Seq(StructField("doc_id", LongType, false),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("n_chars", LongType, false), StructField("score", LongType, false)))
  val vecSchema: StructType = StructType(Seq(StructField("id", LongType, false),
    StructField("vec", ArrayType(FloatType, false))))

  final case class PassOut(reps: Seq[Row], dedupS: Double, buildS: Double, mutateS: Double, batchMs: Seq[Double],
      served: Seq[(Long, Long)])

  def run(ctx: Ctx): Unit = {
    val full = if (ctx.smoke) Sizes(300, 2000, 400, 2, 10) else Sizes(6000, 20000, 3000, 10, 50)
    val ((docs, vecRows), genS) = Ctx.timed(
      (genDocs(full.docs, full.vocab, ctx.seed), genVectors(full.vectors, ctx.seed + 1)))
    ctx.label("input_gen_s", genS)
    ctx.label("docs", full.docs)
    ctx.label("planted_groups", docs.groups)
    ctx.label("vectors", full.vectors)
    ctx.label("input_bytes", docs.rows.map(_.getString(1).length.toLong).sum +
      full.vectors.toLong * 64 * 4)

    ctx.metric("setup_s", ctx.setup(), "s")

    val (_, writeS) = Ctx.timed {
      val s = ctx.spark
      s.createDataFrame(s.sparkContext.parallelize(docs.rows, ctx.cpus), docSchema)
        .write.parquet(ctx.dir("input").resolve("docs").toString)
      s.createDataFrame(s.sparkContext.parallelize(vecRows, ctx.cpus), vecSchema)
        .write.parquet(ctx.work.resolve("input").resolve("vectors").toString)
    }
    ctx.label("input_write_s", writeS)
    val docsDf = ctx.spark.read.parquet(ctx.work.resolve("input/docs").toString)
    val vecsDf = ctx.spark.read.parquet(ctx.work.resolve("input/vectors").toString)

    val survivors = (0L until full.vectors).filterNot(id => id % 7 == 3)
    val queryIds = new Random(ctx.seed + 4).shuffle(survivors).take(full.batches * full.batchSize)
    val batches = queryIds.grouped(full.batchSize).toSeq
    val (truth, truthS) = Ctx.timed(Similarity.bruteForceTopK(
      vecsDf.where(col("id").isin(queryIds: _*)), vecsDf.where(!isDeleted(col("id"))), k)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    ctx.label("truth_s", truthS)
    ctx.log(s"input write $writeS s, brute-force truth $truthS s")

    val count = ctx.passCount(least = if (ctx.traced) 5 else 4, coldS = 50, warmS = 30)
    val passes = ctx.passes(count) { (i, trace) =>
      val out = pass(ctx, ctx.spark, docsDf, vecsDf, batches,
        ctx.dir("store").resolve("idx").toString, trace)
      verify(ctx, s"corpus pass $i", out, docs.groups, truth)
      out
    }
    val plain = passes.filter(_.trace.isEmpty)
    val warm = plain.filter(_.index >= Ctx.FirstWarm)
    def med(f: PassOut => Double) = Ctx.median(warm.map(p => f(p.result)))
    ctx.metric("dedup_s", med(_.dedupS), "s")
    ctx.metric("index_build_s", med(_.buildS), "s")
    ctx.metric("index_mutate_s", med(_.mutateS), "s")
    val batchMs = warm.flatMap(_.result.batchMs)
    ctx.metric("serve_batch_ms", Ctx.median(batchMs), "ms")
    ctx.label("serve_batch_samples", batchMs.size)
    ctx.metric("pass_s", Ctx.median(warm.map(_.wallS)), "s")
    ctx.metric("first_pass_s", plain.head.wallS, "s")
    if (ctx.traced) {
      ctx.traceMetrics(spanNames, passes)
      val served = passes.filter(_.index > 0).map(_.result.served.toSet)
      ctx.layer("similarity.recall_at_10", Ctx.median(served.map(recall(_, truth))), "ratio")
    }
  }

  private def recall(served: Set[(Long, Long)], truth: Set[(Long, Long)]): Double =
    truth.count(served.contains).toDouble / truth.size

  /** One pass: prepareFuzzy materialized, layered build + write,
    * append + delete, then the serve batches. In a traced pass the same
    * public calls run with a span around each layer's share.
    */
  private def pass(ctx: Ctx, spark: SparkSession, docs: DataFrame, vecs: DataFrame,
      batches: Seq[Seq[Long]], store: String, trace: Option[Trace]): PassOut = {
    def sp[T](name: String)(body: => T): T = trace.fold(body)(_.span(name)(body))
    val (reps, dedupS) = Ctx.timed(ctx.op("prepareFuzzy") {
      val prepared = trace match {
        case None => CorpusPipeline.prepareFuzzy(docs, col("doc_id"), col("text"), col("lang"),
          col("n_chars"), col("score"))
        case Some(t) => tracedPrepareFuzzy(docs, t)
      }
      sp("text.quality_redact")(prepared.collect().toSeq)
    })

    val base = vecs.where(!isArrival(col("id")))
    val (index, buildS) = Ctx.timed(ctx.op("knn graph build + write") {
      val layers = sp("similarity.build")(Similarity.knnGraphBuildLayers(base, k = 8, levels = 1))
      sp("similarity.store_write") {
        val idx = Similarity.knnGraphWritePartitioned(spark, layers.last, base, store,
          parts = 8, k = 8)
        Similarity.knnGraphWriteLayer(spark, idx, level = 1, layers.head,
          base.where(Similarity.knnLayerMemberFilter(col("id"), 1, 8)))
      }
    })
    val (mutated, mutateS) = Ctx.timed(index.flatMap(idx => ctx.op("knn graph append + delete") {
      sp("similarity.mutate") {
        val appended = Similarity.knnGraphAppendPartitioned(spark, idx, vecs, isArrival(col("id")))
        Similarity.knnGraphDeletePartitioned(spark, appended, vecs, isDeleted(col("id")))
      }
    }))
    val batchMs = mutable.ArrayBuffer.empty[Double]
    val served = mutable.ArrayBuffer.empty[(Long, Long)]
    mutated.foreach { idx =>
      val survivors = vecs.where(!isDeleted(col("id")))
      val layers = Seq(Similarity.knnGraphReadLayer(spark, idx, 1),
        Similarity.knnGraphReadEdges(spark, idx))
      sp("similarity.serve")(batches.zipWithIndex.foreach { case (b, j) =>
        val (rows, s) = Ctx.timed(ctx.op(s"serve batch $j") {
          Similarity.knnGraphServeLayered(survivors.where(col("id").isin(b: _*)), layers,
            survivors, k = k, beam = 16, hopsPerLayer = 3)
            .select("query_id", "neighbor_id").collect()
        })
        batchMs += s * 1000
        rows.foreach(_.foreach(r => served += ((r.getLong(0), r.getLong(1)))))
      })
    }
    PassOut(reps.getOrElse(Nil), dedupS, buildS, mutateS, batchMs.toSeq, served.toSeq)
  }

  /** `CorpusPipeline.prepareFuzzy`'s composition with its eager stages
    * in their own spans; the lazy tail runs in the caller's
    * `text.quality_redact` span.
    */
  private def tracedPrepareFuzzy(docs: DataFrame, t: Trace): DataFrame = {
    val cfg = CorpusPipeline.Config()
    val id = col("doc_id")
    val text = col("text")
    val pairs = t.span("dedup.near_pairs")(Dedup.ngramJaccardNearDups(docs, id, text,
      col("lang"), col("n_chars"), n = 3, threshold = 0.5, bucketWidth = 100))
      .select("id_a", "id_b")
    val groups = t.span("dedup.groups")(Dedup.dedupGroups(pairs))
      .withColumnRenamed("id", "doc_id")
    val labeled = docs.select(id.as("doc_id"), col("score").cast("long").as("score"))
      .join(groups, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("keep_id"), col("doc_id")))
    val reps = labeled.groupBy("grp")
      .agg(max_by(col("doc_id"), struct(col("score"), -col("doc_id"))).as("doc_id"),
        count(lit(1)).as("n_members"))
      .select("doc_id", "n_members")
    val repDocs = docs.select(id.as("doc_id"), text.as("text"))
      .join(reps.select("doc_id"), Seq("doc_id"), "left_semi")
    val metrics = TextAnalysis.repetitionMetrics(repDocs, col("doc_id"), col("text"))
      .select("doc_id", "n_tokens", "uniq_ratio", "top_token_frac")
    val surviving = reps.join(metrics, "doc_id")
      .where(col("n_tokens") >= cfg.minTokens && col("top_token_frac") <= cfg.maxTopTokenFrac)
    val redacted = TextAnalysis.redactPii(docs, id, text).select("doc_id", "redacted")
    Sampling.hashSplit(surviving.join(redacted, "doc_id"), col("doc_id"), cfg.splits)
      .select("doc_id", "n_members", "split", "n_tokens", "uniq_ratio", "top_token_frac",
        "redacted")
  }

  private def verify(ctx: Ctx, what: String, out: PassOut, groups: Int,
      truth: Set[(Long, Long)]): Unit = {
    val reps = out.reps
    val members = reps.map(_.getAs[Long]("n_members")).sum
    ctx.check(s"$what dedup", reps.length == groups && reps.forall(r =>
      !r.getAs[String]("redacted").contains("@mail.example.org")),
      s"${reps.length} representatives for $groups planted groups ($members members)")
    val deleted = out.served.collect { case (_, n) if n % 7 == 3 => n }.distinct
    ctx.check(s"$what deleted ids", deleted.isEmpty, s"served deleted ids ${deleted.take(10)}")
    val rc = recall(out.served.toSet, truth)
    ctx.check(s"$what recall", out.batchMs.isEmpty || rc >= recallFloor,
      s"recall@$k $rc below $recallFloor")
  }
}
