package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Scale contract of the SemDeDup blocking (q89/q89b): the codebook size
  * must grow with the corpus so max-cluster population stays bounded and
  * the candidate-pair cost Σ|cluster|² grows ~linearly in n — the fix for
  * the round-5 finding that a FIXED k turns nearest-centroid blocking
  * quadratic (measured then: 100× pairs at 10× data). Pins both the
  * labeled [[Dedup.blockCentroids]] path (q89) and the k-scaling rule the
  * trained path (q89b, k = ceil(n/S)) follows. */
class SemanticScaleSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 8
  private val Labels = 5
  private val Target = 25 // target cluster population S

  /** Deterministic corpus shaped like the embeddings table: per-label
    * anchor direction + seeded Gaussian noise. */
  private def corpus(n: Int): DataFrame = {
    val rng = new scala.util.Random(42)
    (0 until n).map { i =>
      val lab = i % Labels
      val vec = Array.tabulate(Dim) { d =>
        val anchor = if (d == lab) 1.0f else 0.0f
        anchor + 0.35f * rng.nextGaussian().toFloat
      }
      (i.toLong, lab, vec)
    }.toDF("vec_id", "label", "embedding")
  }

  /** (number of clusters, max assigned population, Σ|cluster|²) for the
    * q89 parameterization at corpus size n. */
  private def stats(n: Int): (Long, Long, Long) = {
    val df = corpus(n)
    val (cents, _) = Dedup.blockCentroids(df, "embedding", "vec_id", "label", Target)
    val sizes = Dedup.assignNearest(df, "embedding", "vec_id", cents)
      .groupBy("cluster").agg(count(lit(1)).as("c"))
      .select("c").as[Long].collect()
    (cents.count(), sizes.max, sizes.map(c => c * c).sum)
  }

  test("blockCentroids grows the codebook linearly with the corpus") {
    val df500 = corpus(500)
    val (c500, _) = Dedup.blockCentroids(df500, "embedding", "vec_id", "label", Target)
    val (c2000, _) = Dedup.blockCentroids(corpus(2000), "embedding", "vec_id", "label", Target)
    // B = ceil(n / (L*S)): 500/(5*25)=4 blocks/label, 2000/(5*25)=16
    assert(c500.count() === Labels * 4L)
    assert(c2000.count() === Labels * 16L)
  }

  test("max-cluster population stays bounded as the corpus grows 4x") {
    val (_, max500, _) = stats(500)
    val (_, max2000, _) = stats(2000)
    // bounded means NOT growing with n: at 4x data the hottest cluster
    // must stay within skew-slack of the target population, not 4x it
    assert(max500 <= 6L * Target, s"n=500 max cluster $max500 > ${6 * Target}")
    assert(max2000 <= 6L * Target, s"n=2000 max cluster $max2000 > ${6 * Target}")
    assert(max2000 <= 2L * math.max(max500, Target.toLong),
      s"max population grew with n: $max500 -> $max2000")
  }

  test("candidate-pair cost grows ~linearly, not quadratically, at 4x data") {
    val (_, _, sq500) = stats(500)
    val (_, _, sq2000) = stats(2000)
    // Σ|c|² is the within-cluster pair cost: linear scaling gives 4x,
    // the fixed-k quadratic failure gives 16x; allow skew slack to 8x
    assert(sq2000 < 8L * sq500,
      s"pair cost grew superlinearly: sigma|c|^2 $sq500 -> $sq2000")
  }

  test("q89b's k rule matches the same target population") {
    // k = ceil(n/S) — the rule the catalog entry applies before KMeans.fit
    assert(math.ceil(500 / 25.0).toInt === 20)
    assert(math.ceil(2000 / 25.0).toInt === 80)
  }

  test("two-level assignment: candidate work grows ~n^1.5, driver holds only the coarse codebook") {
    // flat assignment scans all k centroids per row: work n·k, and with
    // the scale-honest k ∝ n that is n²/S total flops plus a k×d driver
    // literal. Two-level routes through ceil(√k) coarse cells and scans
    // only the routed cell's fine centroids: expected work n·√k — at 4×
    // data (k ∝ n) flat work grows 16×, two-level ~8×.
    def candidates(n: Int): (Long, Long) = {
      val df = corpus(n)
      val (cents, _) = Dedup.blockCentroids(df, "embedding", "vec_id", "label", Target)
      val k = cents.count()
      val twoLevel = Dedup.twoLevelCandidates(df, "embedding", "vec_id", cents).count()
      (twoLevel, n * k) // (two-level candidate rows, flat candidate work)
    }
    val (tl500, flat500) = candidates(500)
    val (tl2000, flat2000) = candidates(2000)
    assert(flat2000 === 16L * flat500, "flat work is quadratic by construction")
    assert(tl500 < flat500, s"two-level $tl500 should beat flat $flat500 at n=500")
    assert(tl2000 < 12L * tl500,
      s"two-level candidate growth superlinear beyond sqrt-k: $tl500 -> $tl2000")
  }

  /** Well-separated fixture for agreement tests: 16 one-hot anchors in
    * 16 dims, tight noise — "nearest centroid" is unambiguous, so any
    * disagreement measures the ROUTING mechanism, not tie-breaking
    * between near-identical block centroids. */
  private def separated(n: Int): DataFrame = {
    val dim = 16
    val rng = new scala.util.Random(7)
    (0 until n).map { i =>
      val lab = i % dim
      val vec = Array.tabulate(dim) { d =>
        (if (d == lab) 1.0f else 0.0f) + 0.05f * rng.nextGaussian().toFloat
      }
      (i.toLong, lab, vec)
    }.toDF("vec_id", "label", "embedding")
  }

  test("two-level assignment agrees with flat when centroids are separated") {
    val df = separated(2000)
    // Target 125 -> B = 1 block/label: centroids are the 16 label means
    val (cents, _) = Dedup.blockCentroids(df, "embedding", "vec_id", "label", 125)
    val flat = Dedup.assignNearest(df, "embedding", "vec_id", cents)
      .select(col("id"), col("cluster").as("flat_cluster"))
    val two = Dedup.assignNearestTwoLevel(df, "embedding", "vec_id", cents)
      .select(col("id"), col("cluster").as("two_cluster"))
    val joined = flat.join(two, Seq("id"))
    val n = joined.count()
    assert(n === 2000L, "two-level must assign every row")
    val same = joined.filter(col("flat_cluster") === col("two_cluster")).count()
    // a row whose noise lands it nearer another cell's boundary may route
    // away (the disclosed IVF trade); the bulk must agree
    assert(same.toDouble / n >= 0.9,
      s"two-level agreement ${same.toDouble / n} below 90% on separated clusters")
  }

  test("semanticPairsTwoLevel pairs are a high-recall subset of the flat pairs") {
    val df = separated(800)
    val (cents, _) = Dedup.blockCentroids(df, "embedding", "vec_id", "label", 50)
    val flatPairs = Dedup.semanticPairs(df, "embedding", "vec_id", cents, 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val twoPairs = Dedup.semanticPairsTwoLevel(df, "embedding", "vec_id", cents, 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(flatPairs.nonEmpty, "fixture produced no near-dup pairs at 0.8")
    // two-level can only lose pairs whose members routed to different
    // cells than their flat cluster — the same boundary loss class
    val kept = twoPairs.intersect(flatPairs).size.toDouble / flatPairs.size
    assert(kept >= 0.8, s"two-level kept only $kept of flat pairs")
  }

  test("two-level assignment keeps EVERY row even when coarse cells are empty") {
    val df = separated(400)
    val (cents, _) = Dedup.blockCentroids(df, "embedding", "vec_id", "label", 25)
    // force more coarse cells than fine centroids can populate — KMeans
    // leaves empty/stale coarse centroids, and rows routing to a cell
    // holding no fine centroid must NOT vanish (they route among
    // non-empty cells only)
    for (coarseK <- Seq(2, 7, 64)) {
      val out = Dedup.assignNearestTwoLevel(df, "embedding", "vec_id", cents, coarseK)
      assert(out.count() === 400L,
        s"coarseK=$coarseK dropped rows from the assignment")
      assert(out.select("id").distinct().count() === 400L)
    }
    // clusterBits auto-sizing: ids over 2^10 still round-trip the pack
    val bigIds = cents.withColumn("cluster", col("cluster") + lit(5000000))
    val out = Dedup.assignNearestTwoLevel(df, "embedding", "vec_id", bigIds)
    assert(out.count() === 400L)
    assert(out.agg(org.apache.spark.sql.functions.min("cluster")).head().getInt(0) >= 5000000,
      "auto-sized clusterBits must carry the large cluster ids intact")
  }
}
