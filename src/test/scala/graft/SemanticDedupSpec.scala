package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** SemDeDup-style semantic dedup (Dedup.semanticPairs / semanticDedup /
  * semanticDedupAuto): nearest-centroid blocking + within-cluster cosine
  * verify + connected-component survivor drop. */
class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  private val centroids = Seq(
    (0, Seq(1.0, 0.0, 0.0, 0.0)),
    (1, Seq(0.0, 1.0, 0.0, 0.0)),
  ).toDF("cluster", "centroid")

  // two blobs on the first two axes; (1,2) and (4,5) are planted near-dups,
  // 3 shares cluster 0 but is far from everything, (6,7) are a near-dup
  // pair STRADDLING the cluster boundary (6 → cluster 0, 7 → cluster 1)
  private val vecs = Seq(
    (1L, Seq(1.00f, 0.05f, 0f, 0f)),
    (2L, Seq(0.99f, 0.06f, 0f, 0f)),
    (3L, Seq(0.80f, -0.30f, 0.50f, 0f)),
    (4L, Seq(0.05f, 1.00f, 0f, 0f)),
    (5L, Seq(0.06f, 0.99f, 0f, 0f)),
    (6L, Seq(0.72f, 0.69f, 0f, 0f)),
    (7L, Seq(0.69f, 0.72f, 0f, 0f)),
  ).toDF("vec_id", "embedding")

  test("semanticPairs finds within-cluster near-dups and only those") {
    val pairs = Dedup.semanticPairs(vecs, "embedding", "vec_id", centroids,
        threshold = 0.98)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L), (4L, 5L)),
      "planted same-cluster pairs found; far doc 3 pairs with nothing")
  }

  test("cross-cluster near-dups are missed by design (blocking recall contract)") {
    // 6 and 7 have cosine ≈ 0.9991 but land in different clusters — the
    // disclosed SemDeDup recall loss at cluster boundaries (raise k /
    // overlap clusters to trade cost for recall)
    val pairs = Dedup.semanticPairs(vecs, "embedding", "vec_id", centroids,
        threshold = 0.98)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(!pairs.contains((6L, 7L)))
  }

  test("semanticDedup drops the larger id of each pair, keeps everything else") {
    val kept = Dedup.semanticDedup(vecs, "embedding", "vec_id", centroids,
        threshold = 0.98)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 4L, 6L, 7L))
  }

  test("semanticPairs is repartition-invariant") {
    val a = Dedup.semanticPairs(vecs.repartition(7), "embedding", "vec_id",
        centroids, threshold = 0.98)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val b = Dedup.semanticPairs(vecs.coalesce(1), "embedding", "vec_id",
        centroids, threshold = 0.98)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(a === b)
  }

  test("semanticDedupAuto trains its own clustering and still collapses the planted dups") {
    val kept = Dedup.semanticDedupAuto(vecs, "embedding", "vec_id", k = 2,
        threshold = 0.98)
      .select("vec_id").as[Long].collect().toSet
    // whatever the trained boundary does with 6/7, the planted same-blob
    // dups must collapse and the far doc must survive
    assert(!kept.contains(2L) && !kept.contains(5L))
    assert(kept.contains(1L) && kept.contains(3L) && kept.contains(4L))
  }
}
