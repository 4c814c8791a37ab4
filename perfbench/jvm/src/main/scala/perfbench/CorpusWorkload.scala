package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** `llm_corpus`: batch, one driver thread. Each pass runs four stages
  * over the seeded corpus, each one operation checked against the
  * generator's planted truth:
  *   Dedup.minhashPairs  (the q_dedup_minhash parameters)
  *   q_text_analysis     (the declared pipeline, over the corpus)
  *   Similarity.bruteForceTopK      (float32 cosine, k = 10)
  *   Similarity.bruteForceTopKInt8  (quantizeInt8 inside, k = 10)
  */
object CorpusWorkload {
  val K = 10

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.rec.tracer
    val truth = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new java.io.File(ctx.args("truth")), classOf[java.util.Map[String, Any]])
      .asScala
    def ints(key: String): Seq[Seq[Number]] =
      truth(key).asInstanceOf[java.util.List[java.util.List[Number]]].asScala.map(_.asScala.toSeq).toSeq
    val threshold = truth("threshold").asInstanceOf[Number].doubleValue
    val nQueries = truth("n_queries").asInstanceOf[Number].longValue
    val plantedAbove = ints("planted_pairs").filter(_(2).doubleValue >= threshold)
      .map(p => (p(0).longValue, p(1).longValue)).toSet
    val neighbors = ints("planted_neighbors").map(p => p(0).longValue -> p(1).longValue).toMap
    val nTokens = truth("n_tokens").asInstanceOf[Number].longValue
    val bpeTokens = truth("bpe_tokens").asInstanceOf[Number].longValue
    val nDocs = truth("n_docs").asInstanceOf[Number].longValue

    // the corpus is written as many files, so scans split over all cores
    val texts = ctx.repeatedPrep("prep_s") {
      graft.Tables.load(spark, ctx.data, "documents").select("doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    ctx.info("input_bytes") = ChSqlWorkload.dirBytes(ctx.data)
    ctx.info("n_docs") = nDocs
    ctx.info("n_vectors") = truth("n_vectors")
    ctx.info("n_queries") = nQueries
    def docs: DataFrame = graft.Tables.load(spark, ctx.data, "documents")
    def emb: DataFrame = graft.Tables.load(spark, ctx.data, "embeddings")

    def shingles(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length < 3) Set(w.mkString(" ")) else w.sliding(3).map(_.mkString(" ")).toSet
    }

    def dedup(): Array[Row] = {
      val out = tr.span("Dedup.minhashPairs") {
        val df = Dedup.minhashPairs(docs, "doc_id", "text", shingleK = 3,
          numHashes = 64, bands = 16, threshold = threshold)
        val rows = df.collect()
        if (tr.enabled) {
          tr.count("dedup.verified", rows.length)
          candidatePairs(df).foreach(tr.count("dedup.candidates", _))
          tr.count("dedup.cached_bytes", spark.sparkContext.getRDDStorageInfo
            .map(i => i.memSize + i.diskSize).sum.toDouble)
          val found = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
          tr.count("dedup.planted_recall",
            plantedAbove.count(found).toDouble / math.max(1, plantedAbove.size))
        }
        rows
      }
      // the operator's persist barriers stay in the session cache; drop
      // them so every pass is a cold run
      spark.catalog.clearCache()
      out
    }

    def checkDedup(rows: Array[Row]): Option[String] = {
      val found = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val missing = plantedAbove.filterNot(found.contains)
      val wrong = found.find { case ((a, b), j) =>
        val exact = { val x = shingles(texts(a)); val y = shingles(texts(b))
          (x & y).size.toDouble / (x | y).size }
        exact < threshold || math.abs(exact - j) > 1e-6
      }
      if (missing.nonEmpty) Some(s"${missing.size} planted pairs missing, e.g. ${missing.head}")
      else wrong.map { case (p, j) => s"pair $p reported jaccard $j is wrong" }
    }

    def text(): Array[Row] = tr.span("TextAnalysis.pipeline") {
      graft.SparkEntry.queries("q_text_analysis")(spark, ctx.data).collect()
    }

    def checkText(rows: Array[Row]): Option[String] = {
      val nt = rows.map(_.getAs[Int]("n_tokens").toLong).sum
      val bt = rows.map(_.getAs[Long]("bpe_tokens")).sum
      if (rows.length != nDocs) Some(s"${rows.length} rows for $nDocs documents")
      else if (nt != nTokens || bt != bpeTokens)
        Some(s"token sums $nt/$bt, generator says $nTokens/$bpeTokens")
      else None
    }

    def topk(int8: Boolean): Array[Row] = {
      val name = if (int8) "Similarity.bruteForceTopKInt8" else "Similarity.bruteForceTopK"
      tr.span(name) {
        val q = emb.filter(col("vec_id") < nQueries)
        val df = if (int8) Similarity.bruteForceTopKInt8(q, emb, "vec_id", "vec_id", "embedding", K)
          else Similarity.bruteForceTopK(q, emb, "vec_id", "vec_id", "embedding", K)
        val rows = df.collect()
        if (tr.enabled) {
          tr.count("similarity.scored_pairs", nQueries.toDouble * (truth("n_vectors")
            .asInstanceOf[Number].longValue - 1))
          tr.count("similarity.planted_hit_rate", hitRate(rows))
        }
        rows
      }
    }

    def hitRate(rows: Array[Row]): Double = {
      val top1 = rows.filter(_.getAs[Any]("rank").toString.toLong == 1)
        .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
      neighbors.count { case (q, t) => top1.get(q).contains(t) }.toDouble / neighbors.size
    }

    def checkTopk(rows: Array[Row]): Option[String] =
      if (rows.length != nQueries * K) Some(s"${rows.length} rows for $nQueries queries x $K")
      else if (hitRate(rows) < 1.0) Some(s"planted neighbour not at rank 1 for ${
        ((1 - hitRate(rows)) * neighbors.size).round} queries")
      else None

    def pass(): Unit = {
      ctx.rec.op("stage", "dedup")(dedup())(checkDedup)
      ctx.rec.op("stage", "text")(text())(checkText)
      ctx.rec.op("stage", "ann_f32")(topk(int8 = false))(checkTopk)
      ctx.rec.op("stage", "ann_int8")(topk(int8 = true))(checkTopk)
    }

    // warm-up: JIT, codegen and parquet footer caches; after one pass the
    // next still runs ~25 % slower than the steady state
    pass()
    pass()
    ctx.windows { (phase, secs) =>
      (1 to ctx.passes(secs, 3.3)).foreach(_ => pass())
      if (phase == "traced") kernels(ctx)
    }
  }

  /** Candidate pairs the LSH stage handed to exact verification: the
    * rows out of the distinct-(id_a, id_b) aggregate in the executed
    * plan (the smallest count, i.e. the final, not the partial, one). */
  private def candidatePairs(df: DataFrame): Option[Double] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).collect {
      case a: BaseAggregateExec if a.groupingExpressions.map(_.name) == Seq("id_a", "id_b") &&
          a.metrics.contains("numOutputRows") => a.metrics("numOutputRows").value.toDouble
    }.minOption
  }

  /** Kernel throughput from outside: one projection pass per kernel over
    * a persisted slice, minus an identity pass over the same slice
    * (median of three each). Runs in the traced half only. */
  private def kernels(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.rec.tracer
    val docs = graft.Tables.load(spark, ctx.data, "documents").select("doc_id", "text").persist()
    val nDocs = docs.count().toDouble
    val hashed = docs.select(col("doc_id"),
      graft.functions.ShingleHashes(col("text"), 3).as("base")).persist()
    hashed.count()
    val emb = graft.Tables.load(spark, ctx.data, "embeddings").select("vec_id", "embedding").persist()
    val nVec = emb.count().toDouble
    val pairs = emb.select(col("vec_id"), col("embedding").as("a"))
      .join(emb.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("b")), "vec_id")
      .persist()
    val nPairs = pairs.count().toDouble
    def timed(df: => DataFrame): Double = {
      val xs = (1 to 3).map { _ =>
        val t0 = Clock.ms()
        df.write.format("noop").mode("overwrite").save()
        Clock.ms() - t0
      }
      xs.sorted.apply(1)
    }
    def rate(key: String, rows: Double, identity: Double)(df: => DataFrame): Unit =
      ctx.rec.op("kernel", key)(tr.span(s"functions.$key")(timed(df))) { _ => None }
        .foreach(ms => tr.withOp(ctx.rec.lastOpId) {
          tr.count(s"kernel.$key", if (ms > identity) rows / ((ms - identity) / 1000) else 0.0)
        })
    val idDocs = timed(docs.select(col("doc_id"), col("text")))
    val idHashed = timed(hashed.select(col("doc_id"), col("base")))
    val idEmb = timed(emb.select(col("vec_id"), col("embedding")))
    val idPairs = timed(pairs.select(col("a"), col("b")))
    rate("shingle", nDocs, idDocs)(docs.select(graft.functions.ShingleHashes(col("text"), 3)))
    rate("minhash", nDocs, idHashed)(hashed.select(graft.functions.MinHashBands(col("base"), 64, 16)))
    rate("textstats", nDocs, idDocs)(docs.select(graft.functions.TextStats(col("text"))))
    rate("simhash", nDocs, idDocs)(docs.select(Dedup.simhash(split(col("text"), " "))))
    rate("dot", nPairs, idPairs)(pairs.select(Similarity.dot(col("a"), col("b"))))
    rate("int8_quantize", nVec, idEmb)(Similarity.quantizeInt8(emb, "embedding").select("code", "scale"))
    Seq(docs, hashed, emb, pairs).foreach(_.unpersist())
  }
}
