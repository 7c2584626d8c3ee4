package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Num
import graft.functions.TextFns

/** Keyword retrieval over the corpus — BM25-scored top-k, the "search the
  * training data" capability (quality audits, targeted subset extraction,
  * contamination forensics). Relational formulation of an inverted index:
  * posting lists are (term, doc) rows, so the index IS a DataFrame and
  * Catalyst plans the retrieval.
  */
object TextSearch {

  /** BM25 top-`k` docs per query. `queries` is a (queryIdCol, termCol)
    * table — one row per query term, duplicates ignored. Standard
    * Robertson/Sparck-Jones BM25:
    *
    *   score(q, D) = Σ_t  ln(1 + (N - df_t + 0.5)/(df_t + 0.5))
    *                      · tf · (k1+1) / (tf + k1·(1 − b + b·|D|/avgdl))
    *
    * Output: (query_id, doc_id, score, rank), rank 1..k by score desc
    * (ties by doc_id). The per-(query,doc) term sum goes through
    * DECIMAL(38,6) (Num.dsum) so summation order cannot perturb the
    * ranking — near-equal scores collapse to exact decimal ties broken
    * deterministically by doc_id.
    *
    * Scale shape: the distinct query-term set is structurally small →
    * broadcast; the corpus-side explode is a map stage whose output is
    * immediately filtered to query terms, so only posting-list hits reach
    * the (doc, term) partial aggregation. Document-frequency and corpus
    * stats (N, avgdl) are term-count-sized aggregates → broadcast back.
    * The final per-query top-k is the custom TopKPerKey operator (bounded
    * heaps, map-side partial) — never a full sort of the posting lists.
    */
  def bm25(docs: DataFrame, textCol: String, idCol: String,
           queries: DataFrame, queryIdCol: String, termCol: String,
           k: Int, k1: Double = 1.2, b: Double = 0.75,
           requireAll: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // self-install so the rank-filter below becomes TopKPerKey on
    // externally-created sessions too (same as the ANN operators)
    graft.plans.RankFilterToTopK_Install(docs.sparkSession)
    val d = docs.select(
      col(idCol).as("doc_id"),
      TextFns.words(col(textCol)).as("__ws"))
      .withColumn("dl", size(col("__ws")).cast("long"))

    // corpus stats: one row (N, total tokens). avgdl = exact-long ratio,
    // so both engines derive the identical double.
    val stats = d.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))

    val terms = queries.select(col(termCol).as("__t")).distinct()

    // posting-list hits only: explode → broadcast-semi-filter → per-(doc,
    // term) tf. dl is functionally dependent on doc_id; grouping by it
    // avoids a join back to the doc table.
    // tf feeds BOTH the document-frequency aggregate and the scoring
    // join; a lazy barrier (bounded by posting-list hits — the
    // query-term filter keeps it structurally small) stops the corpus
    // explode + semi-filter from running twice per action
    val tf = graft.Barrier(d.select(col("doc_id"), col("dl"), explode(col("__ws")).as("__t"))
      .join(broadcast(terms), Seq("__t"), "inner")
      .groupBy("doc_id", "dl", "__t")
      .agg(count(lit(1)).as("tf")))

    val dfreq = tf.groupBy("__t").agg(count(lit(1)).as("df"))

    val q = queries.select(
      col(queryIdCol).as("query_id"), col(termCol).as("__t")).distinct()

    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfD = col("tf").cast("double")
    val norm = tfD * lit(k1 + 1.0) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))

    val scoredAny = tf
      .join(broadcast(dfreq), Seq("__t"))
      .crossJoin(broadcast(stats))
      .join(broadcast(q), Seq("__t"))
      .withColumn("__contrib", idf * norm)
      .groupBy("query_id", "doc_id")
      .agg(Num.dsum(col("__contrib")).as("score"),
        count(lit(1)).as("__nmatched"))

    // AND semantics: a doc must contain EVERY query term. Matched-term
    // count comes free from the score aggregation; the per-query term
    // count is a broadcast dim.
    val scored =
      if (!requireAll) scoredAny.drop("__nmatched")
      else {
        val qSizes = q.groupBy("query_id").agg(count(lit(1)).as("__nterms"))
        scoredAny.join(broadcast(qSizes), Seq("query_id"))
          .filter(col("__nmatched") === col("__nterms"))
          .drop("__nmatched", "__nterms")
      }

    // declarative rank-filter: the RankFilterToTopK rule replaces this
    // Window+Filter with the heap-based TopKPerKey operator (map-side
    // partial, k rows per key per partition over the shuffle)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "doc_id", "score", "rank")
  }

  /** Hybrid retrieval: fuse a keyword ranking and a vector ranking with
    * Reciprocal Rank Fusion (Cormack/Clarke/Buettcher's score
    * Σ 1/(kRrf + rank), the standard score-free fusion — it needs no
    * cross-retriever score calibration, only ranks). Inputs are two
    * (query_id, doc_id, rank) tables — e.g. [[bm25]]'s output and
    * `KnnJoin.bruteForce`'s — each already cut to its own top-k. Output:
    * (query_id, doc_id, rrf_score, rank), top `k` per query by fused
    * score (ties by doc_id).
    *
    * The fused score is two IEEE divisions and one add in a fixed order
    * (keyword term + vector term), so any engine reproduces it exactly.
    * Scale shape: both inputs are rank-bounded (#queries × k rows), so
    * the full-outer join is tiny no matter the corpus size — retrieval
    * cost lives in the upstream retrievers; fusion is free. The final
    * rank-filter rewrites to the bounded-heap TopKPerKey operator.
    */
  def hybridRrf(keyword: DataFrame, vector: DataFrame,
                k: Int, kRrf: Int = 60): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(kRrf >= 0, s"kRrf must be >= 0, got $kRrf")
    graft.plans.RankFilterToTopK_Install(keyword.sparkSession)
    val kw = keyword.select(col("query_id"), col("doc_id"), col("rank").as("__rkw"))
    val vec = vector.select(col("query_id"), col("doc_id"), col("rank").as("__rvec"))
    val fused = kw.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("__rkw").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("__rvec").cast("double")), lit(0.0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("rrf_score").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "doc_id", "rrf_score", "rank")
  }

  /** Exact-phrase retrieval: top-`k` docs by occurrence count of the
    * space-separated word `phrase`, matched on whole-word boundaries.
    * Word gaps are expanded to double spaces before counting, so each
    * token carries its own boundary spaces and back-to-back phrase
    * repeats ("spark join spark join") each count — a single-space
    * marker would consume the shared separator and count ceil(n/2).
    * SELF-overlapping matches ("a a" in "a a a") still count
    * non-overlapping left-to-right (replace semantics, identical in any
    * engine with string replace).
    *
    * Pure map stage (one padded replace per row, codegen'd) + the
    * bounded-heap global top-k — no shuffle of non-matching docs, no
    * sort. Output: (doc_id, n_hits, rank). */
  /** Proximity (NEAR/w) retrieval — the middle rung between `bm25`'s
    * bag-of-words OR/AND and `phrase`'s exact adjacency: documents where
    * ALL `terms` co-occur within a token window, ranked by their MINIMAL
    * span (smallest token stretch containing every term at least once).
    * The query "hash NEAR/5 join" finds hash-join discussions that
    * neither "hash join" (exact phrase) nor an AND query (anywhere in
    * the doc) delimits correctly.
    *
    * Scale shape: ONE corpus scan — the explode filters to the query
    * terms immediately, one groupBy collects each doc's per-term
    * position lists, and the minimal span is nested integer folds over
    * those lists (cost Π per-doc term frequencies of the QUERY terms —
    * the same candidate combinations a position join would enumerate,
    * WITHOUT re-scanning the corpus once per term; tiny for selective
    * terms, and a stopword query is the user's antipattern, same as any
    * positional index). Up to 4 terms keeps the combinatorics honest.
    * Final top-k is a global TakeOrderedAndProject (bounded
    * per-partition heaps), the `phrase` recipe. Spans are exact integer
    * arithmetic — no float anywhere — so the oracle matches by
    * construction. */
  def proximity(docs: DataFrame, textCol: String, idCol: String,
                terms: Seq[String], window: Int, k: Int): DataFrame = {
    require(terms.nonEmpty && terms.length <= 4, "proximity takes 1-4 terms")
    require(terms.distinct.length == terms.length, "terms must be distinct")
    require(window >= terms.length, s"window $window cannot hold ${terms.length} terms")
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = docs.select(col(idCol).as("doc_id"),
        posexplode(TextFns.words(col(textCol))).as(Seq("pos", "w")))
      .filter(col("w").isin(terms: _*))
    val listAggs = terms.zipWithIndex.map { case (t, i) =>
      sort_array(collect_list(when(col("w") === lit(t), col("pos")))).as(s"l$i")
    }
    val perDoc = toks.groupBy("doc_id").agg(listAggs.head, listAggs.tail: _*)
      .filter(terms.indices.map(i => size(col(s"l$i")) > 0).reduce(_ && _))
    def minSpanFold(level: Int, picked: Seq[Column]): Column =
      if (level == terms.length) {
        if (terms.length == 1) lit(1)
        else greatest(picked: _*) - least(picked: _*) + lit(1)
      } else aggregate(col(s"l$level"), lit(Int.MaxValue),
        (best, p) => least(best, minSpanFold(level + 1, picked :+ p)))
    val spans = perDoc
      .withColumn("min_span", minSpanFold(0, Nil))
      .select("doc_id", "min_span")
      .filter(col("min_span") <= lit(window))
    val top = spans.orderBy(col("min_span").asc, col("doc_id").asc).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("min_span").asc, col("doc_id").asc)
    top.withColumn("rank", row_number().over(w))
      .select("doc_id", "min_span", "rank")
  }

  def phrase(docs: DataFrame, textCol: String, idCol: String,
             phrase: String, k: Int): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    require(k >= 1, s"k must be >= 1, got $k")
    val padded = concat(lit(" "), replace(col(textCol), lit(" "), lit("  ")), lit(" "))
    val marker = " " + phrase.split(" ").mkString("  ") + " "
    val hits = docs
      .withColumn("doc_id", col(idCol))
      .withColumn("n_hits", TextFns.occurrences(padded, marker))
      .filter(col("n_hits") > 0)
    // global top-k via orderBy+limit → TakeOrderedAndProject (per-partition
    // bounded heaps, k rows to the driver stage); the rank window then
    // runs over ≤ k rows, so its single-partition shape is free
    val top = hits.orderBy(col("n_hits").desc, col("doc_id").asc).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_hits").desc, col("doc_id").asc)
    top.withColumn("rank", row_number().over(w))
      .select("doc_id", "n_hits", "rank")
  }
}
