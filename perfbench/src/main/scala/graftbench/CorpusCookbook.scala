package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Corpus, Dedup, IvfPq, LangModel, QualityRules, TextClean}
import graft.sources.Tables

/** The README corpus cookbook, start to finish: quality gate (Gopher +
  * bigram LM) → PII redaction + boilerplate lines → near-dup dedup →
  * Bloom decontamination → mixture → splits → chunks → shards → BPE. */
final class CorpusCookbook(val dataDir: String) extends Workload {
  val name = "corpus_cookbook"

  /** Docs whose mean bigram log-probability is below this fail quality. */
  private val MinAvgLogProb = -12.0
  private val DedupThreshold = 0.8

  private lazy val families = truth.get("families").elements().asScala.toSeq.map { f =>
    val xs = f.elements().asScala.toSeq
    Checks.Family(xs.head.asText, xs.tail.map(_.asLong))
  }
  private def ids(key: String) = truth.get(key).elements().asScala.map(_.asLong).toSeq
  private lazy val maxDocsBoiler = truth.get("max_docs_boiler").asLong

  private var evalSet: DataFrame = _

  def open(spark: SparkSession): Unit =
    evalSet = spark.read.parquet(s"$dataDir/eval.parquet")

  /** The cleaned corpus: the dedup stage's input. */
  private def cleaned(spark: SparkSession, calls: Calls): DataFrame = {
    val docs = calls.df("sources.Tables.documents") {
      Tables.documents(spark, dataDir).select("doc_id", "source", "text")
    }
    val lm = calls.value("operators.LangModel.train")(LangModel.train(docs, "text"))
    val scored = calls.df("operators.LangModel.score")(LangModel.score(docs, "text", "doc_id", lm))
    val gopher = calls.df("operators.QualityRules.gopher")(QualityRules.gopher(docs, "text"))
    val quality = gopher.join(scored, Seq("doc_id"))
      .filter(col("keep") && col("avg_lp") > lit(MinAvgLogProb))
      .select("doc_id", "source", "text")
    val redacted = calls.df("operators.TextClean.redactPii")(TextClean.redactPii(quality, "text"))
      .select(col("doc_id"), col("source"), col("redacted").as("text"))
    val stripped = calls.df("operators.TextClean.dropBoilerplateLines") {
      TextClean.dropBoilerplateLines(redacted, "text", "doc_id", maxDocs = maxDocsBoiler)
    }
    stripped.join(redacted.select("doc_id", "source"), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("cleaned").as("text"))
  }

  def pass(spark: SparkSession, calls: Calls): PassResult = {
    import spark.implicits._
    val clean = cleaned(spark, calls)
    val deduped = calls.df("operators.Dedup.dedupCorpusBy") {
      Dedup.dedupCorpusBy(clean, "text", "doc_id", orderCol = length(col("text")), threshold = DedupThreshold)
    }
    val flagged = calls.df("operators.Corpus.decontaminateBloom") {
      Corpus.decontaminateBloom(deduped, evalSet, "text", "doc_id")
    }
    val safe = flagged.filter(col("contaminated") === 0L).drop("contaminated")
    val mixed = calls.df("operators.Corpus.sampleToMixture") {
      Corpus.sampleToMixture(safe, "text", "source", length(col("text")), Seq("web" -> 0.6, "wiki" -> 0.4))
    }
    val split = calls.df("operators.Corpus.assignSplits") {
      Corpus.assignSplits(mixed, "text", Seq("val" -> 0.01, "test" -> 0.01), defaultSplit = "train")
    }
    val chunks = calls.df("operators.Corpus.chunkDocuments") {
      Corpus.chunkDocuments(split.filter(col("split") === "train"), "text", "doc_id",
        chunkTokens = 256, overlapTokens = 32)
    }
    val shards = calls.df("operators.Corpus.packShards") {
      Corpus.packShards(chunks, groupCol = "doc_id", idCol = "chunk_idx", tokens = col("n_chunk_tokens"),
        budget = 1L << 16)
    }
    val bpe = calls.value("operators.Bpe.train")(Bpe.train(chunks, "chunk_text", numMerges = 200))
    val tokenized = calls.df("operators.Bpe.encode")(Bpe.encode(chunks, "chunk_text", "doc_id", bpe))

    val survivors = deduped.select("doc_id").as[Long].collect().toSet
    val safeIds = safe.select("doc_id").as[Long].collect().toSet
    val (shardSum, shardFrame) = Workload.checksum(shards)
    val (tokSum, tokFrame) = Workload.checksum(tokenized)
    PassResult(
      checksums = Map("shards" -> shardSum, "tokens" -> tokSum,
        "survivors" -> survivors.toSeq.sorted.hashCode.toLong, "safe" -> safeIds.toSeq.sorted.hashCode.toLong),
      failures = Checks.dedup(survivors, families, ids("low_quality")) ++
        Checks.decontaminated(safeIds, ids("contaminated")) ++
        (if (tokSum == 0L) Seq("empty tokenized output") else Nil),
      finals = Seq(shardFrame, tokFrame),
      quality = Map("dedup_recall" -> Checks.dedupRecall(survivors, families)))
  }

  override def queryNames: Seq[String] = Seq("q113_dedup_incremental", "q80_similarity_join",
    "q58_profile_columns", "q123_ivfpq_search", "q126_ivfpq_refined", "q124_dedup_incr_embed",
    "q120_two_level_assign", "q89b_semantic_dedup_auto")

  def traceExtras(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    val text = Tables.documents(spark, dataDir).select("text").localCheckpoint(eager = true)
    Workload.runExpression(tracer, "normalize_text", text, "normalize_text(text)")
    Workload.runExpression(tracer, "minhash_bands", text, "minhash_bands(text, 8, 2, 3)")
    Workload.runExpression(tracer, "xxminhash_bands", text, "xxminhash_bands(text, 8, 2, 3)")
    Workload.runExpression(tracer, "minhash_sig", text, "minhash_sig(word_shingles(text, 3), 8)")
    val vecs = Tables.embeddings(spark, queryDir).select(col("embedding").cast("array<double>").as("e"))
      .localCheckpoint(eager = true)
    Workload.runExpression(tracer, "dot_product", vecs, "dot_product(e, e)")
    val ivfPq = ivfPqRequests(spark, tracer)

    // useful/attempted ratios on the dedup stage's input
    val input = cleaned(spark, Untraced).localCheckpoint(eager = true)
    val candidates = Dedup.minhashLshFast(input, "text", "doc_id").localCheckpoint(eager = true)
    val nCand = candidates.count()
    val nVerified = Dedup.jaccardVerify(candidates, input, "text", "doc_id")
      .filter(col("jaccard") >= DedupThreshold).count()
    val nIn = input.count()
    val nOut = Dedup.dedupCorpusBy(input, "text", "doc_id", orderCol = length(col("text")),
      threshold = DedupThreshold).count()
    Map(
      "operators.Dedup.verify_yield" -> (if (nCand == 0) 1.0 else nVerified.toDouble / nCand),
      "operators.Dedup.survivor_frac" -> nOut.toDouble / nIn) ++ ivfPq
  }

  /** Builds the q123/q126 IVF-PQ index over the generated embeddings and
    * issues [[Requests]] top-10 requests through `search` and through
    * `searchRefined`, so `searchRefined − search` is the refine cost.
    * Checks every result and returns `candidates_per_result`: encoded
    * rows in the probed clusters per returned neighbour. */
  private def ivfPqRequests(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    val base = Tables.embeddings(spark, queryDir).select("vec_id", "embedding").localCheckpoint(eager = true)
    val model = tracer.value("operators.IvfPq.train") {
      IvfPq.train(base, "vec_id", "embedding", dim = 64, nlist = 8, m = 4, k = 16, iters = 2)
    }
    val enc = tracer.df("operators.IvfPq.encode")(IvfPq.encode(base, "vec_id", "embedding", model))
    val ids = base.select("vec_id").collect().map(_.getLong(0)).toSet
    val perCluster = enc.groupBy("cluster").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val centroids = model.coarse.select("cluster", "c_centroid").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
    val queries = base.orderBy("vec_id").limit(Requests).collect()
    var candidates = 0L
    var results = 0L
    queries.foreach { q =>
      val id = q.getLong(0)
      val qv = q.getSeq[Float](1).map(_.toDouble).toArray
      val one = base.filter(col("vec_id") === id)
      val top = tracer.df("operators.IvfPq.search") {
        IvfPq.search(one, enc, model, "vec_id", "embedding", nprobe = Nprobe, k = K)
      }.select("t_id", "adc_d2", "rank").collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
      val refined = tracer.df("operators.IvfPq.searchRefined") {
        IvfPq.searchRefined(one, base, enc, model, "vec_id", "embedding", "vec_id", "embedding",
          nprobe = Nprobe, k = K, shortlist = 5 * K)
      }.select("t_id", "d2", "rank").collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
      val bad = Checks.topK(s"search $id", top.toSeq, K, ids) ++ Checks.topK(s"searchRefined $id", refined.toSeq, K, ids)
      require(bad.isEmpty, bad.mkString("; "))
      val probed = centroids.sortBy { case (c, v) => (v.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum, c) }
        .take(Nprobe).map(_._1)
      candidates += probed.map(perCluster.getOrElse(_, 0L)).sum
      results += refined.length
    }
    Map("operators.IvfPq.candidates_per_result" -> candidates.toDouble / results)
  }

  private val Requests = 8
  private val Nprobe = 2
  private val K = 10
}
