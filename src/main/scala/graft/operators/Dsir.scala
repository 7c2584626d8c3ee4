package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** DSIR-style importance scoring for training-data selection (Xie et
  * al. 2023, "Data Selection for Language Models via Importance
  * Resampling", arXiv:2302.03169): score every doc in a RAW corpus by
  * how target-domain-like it is, using hashed n-gram feature counts —
  * the step between quality filtering and mixture sampling when the
  * recipe says "web data, but weighted toward things that look like
  * the target domain".
  *
  * Features are word unigrams + bigrams hashed into `buckets` buckets
  * (md5-prefix hash — deterministic, engine-portable). Each bucket b
  * gets a smoothed log-likelihood ratio
  * `lr(b) = ln p̂_target(b) − ln p̂_raw(b)` (add-one smoothing over the
  * bucket space), and a doc's score is the sum of lr over its feature
  * OCCURRENCES — the log importance weight ln(p_target(x)/p_raw(x))
  * under the hashed bag-of-ngrams model. Resample with
  * [[Corpus.weightedSamplePerGroup]] on exp-score or threshold on the
  * score directly.
  *
  * Scale shape: the feature stream is a pure map/explode; the bucket
  * dims are `buckets` rows (broadcast); the RAW corpus is streamed
  * ONCE — the stream collapses map-side into per-(doc, bucket)
  * occurrence counts (bounded by docs × `buckets` rows, NOT
  * corpus-sized: a long document contributes at most `buckets` rows
  * however many features it has), and both the bucket totals and the
  * per-doc scores derive from that one checkpointed frame. This
  * replaces the former stream-twice shape, whose recompute-vs-store
  * disposition only considered materializing the corpus-sized raw
  * stream. Per-feature lr rounds to DECIMAL(38,6) before the
  * order-free sum (the q72/q91 recipe); the grouped form multiplies
  * lr(25,6) × count(12,0) → DECIMAL(38,6) with no precision
  * adjustment, so Σ_occurrences lr ≡ Σ_buckets lr·count exactly and
  * scores stay engine-exact. Docs with no features (null text) are
  * absent from the output.
  */
object Dsir {

  /** One row per (doc, bucket) feature OCCURRENCE (multiplicity kept —
    * the model is a bag, not a set). */
  private def features(df: DataFrame, textCol: String, idCol: String,
                       buckets: Int): DataFrame =
    df.select(col(idCol).as("doc"),
        explode(concat(TextFns.words(col(textCol)),
          TextFns.shingles(col(textCol), 2))).as("f"))
      .select(col("doc"),
        (conv(substring(md5(col("f")), 1, 8), 16, 10).cast("long") % buckets).as("b"))

  /** (doc_id, n_features, score) for every raw doc with ≥ 1 feature;
    * higher score = more target-like. */
  def scores(raw: DataFrame, target: DataFrame, textCol: String, idCol: String,
             buckets: Int = 1024): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val tc = features(target, textCol, idCol, buckets)
      .groupBy("b").agg(count(lit(1)).as("ct"))
    // ONE raw feature pass: per-(doc, bucket) occurrence counts, read
    // by BOTH the bucket-count aggregate below and the scoring join —
    // without the barrier the explode+md5 stream (the operator's
    // dominant per-row cost) plans and runs twice. The materialized
    // frame is docs × ≤buckets rows, not the corpus-sized stream the
    // old stream-twice disposition refused to store.
    val fb = graft.Barrier(features(raw, textCol, idCol, buckets)
      .groupBy("doc", "b").agg(count(lit(1)).as("cnt")))
    val rc = fb.groupBy("b").agg(sum(col("cnt")).as("cr"))
    val counts = tc.join(rc, Seq("b"), "full_outer")
      .select(col("b"),
        coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
    val totals = broadcast(counts.agg(
      sum(col("ct")).as("nt"), sum(col("cr")).as("nr")))
    val dim = counts.crossJoin(totals)
      .select(col("b"),
        (log((col("ct") + lit(1)).cast("double") / (col("nt") + lit(buckets)).cast("double"))
          - log((col("cr") + lit(1)).cast("double") / (col("nr") + lit(buckets)).cast("double")))
          .cast("decimal(38,6)").as("lr"))
    // lr(25,6) × cnt(12,0) → DECIMAL(38,6) exactly (38 = 25+12+1, no
    // precision adjustment under ANY allowPrecisionLoss setting), so
    // Σ lr·cnt is bit-equal to the former per-occurrence Σ lr; |lr| is
    // a smoothed log-ratio (≪ 10^19) and cnt ≤ 10^12 per (doc, bucket)
    fb.join(broadcast(dim), Seq("b"))
      .groupBy(col("doc").as(idCol))
      .agg(sum(col("cnt")).as("n_features"),
        sum(col("lr").cast("decimal(25,6)") * col("cnt").cast("decimal(12,0)"))
          .cast("double").as("score"))
  }
}
