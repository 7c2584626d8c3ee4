package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** General distributed k-means (Lloyd) over an embedding column — the
  * clustering operator behind semantic corpus organization (topic
  * bucketing, cluster-balanced sampling, semantic-dedup prefilters) and
  * the generalized form of the IVF/PQ trainers (Quantize.trainCodebook
  * runs the same loop per subspace at fixed iterations; the centroid
  * update is the shared `Quantize.lloydUpdate`).
  *
  * What this adds over the fixed-round trainer: convergence monitoring
  * (stop when the max centroid shift drops under `tol`), per-cluster
  * sizes, and the final inertia (within-cluster sum of squared
  * distances) — the quantities you need to pick k and trust a clustering.
  *
  * Scale shape per iteration (identical to MLlib's, minus its RDD API):
  * the k×dim centroids live on the DRIVER between rounds (they are
  * broadcast to executors either way) and each round's codebook is a
  * fresh LocalRelation — so the plan never grows with the iteration
  * count and round k never re-executes rounds 1..k-1 (the
  * cache-chain/lineage trap iterative DataFrame loops fall into; see
  * Dedup.resolveClusters' per-round [[graft.Barrier]] for the partner pattern
  * when state must stay distributed). Assignment is a per-row argmin
  * via the packed-long ArgMaxPack HASH aggregate, the update is one
  * map-side-combining decimal-mean aggregate, and exactly one job runs
  * per round. The vectors themselves never leave the executors.
  * Deterministic: k-means|| init seeded by id-hash (fixed-seed hash
  * "randomness", no RNG state), exact decimal means, ties to the
  * smaller cluster id.
  */
object KMeans {

  /** Fitted model: `centroids` = (cluster, centroid, size), plus how the
    * loop ended. `inertia` is the final within-cluster SSE. */
  final case class Model(centroids: DataFrame, iterations: Int,
                         converged: Boolean, inertia: Double)

  /** Seeding strategy for [[fit]]. */
  sealed trait Init
  /** Deterministic k-means|| (Bahmani et al.) — the default: far better
    * spread than naive seeds, but its hash draws and driver-side greedy
    * reduction are NOT SQL-expressible. */
  case object KMeansParallel extends Init
  /** Seeds = the k rows with the SMALLEST id, cluster code = id rank.
    * Deliberately naive: the one seeding an external SQL engine can
    * reproduce verbatim (`ROW_NUMBER() OVER (ORDER BY id) <= k`), which
    * is what lets a fixed-iteration Lloyd run be oracle-checked
    * end-to-end (q89b). Combine with `tol = 0` so the round count is
    * fixed too. */
  case object FirstIds extends Init

  /** Argmin assignment against DRIVER-HELD centroids as ONE projection:
    * the native [[graft.expressions.NearestCentroid]] expression runs
    * the k×d loop per row over a plan-literal codebook — no join, no
    * re-aggregation, row count never grows. The join-shaped alternative
    * (Quantize.assignCodes) materializes n×k wide rows and
    * hash-aggregates them keyed on the full vector — hundreds of MB of
    * array churn per Lloyd round at corpus scale; a transform/array_min
    * HOF keeps rows flat but pays k interpreted lambda evals per row
    * (worse than the join at k in the thousands — measured). d² is the
    * same |v|²−2v·c+|c|² accumulation order as sqDist, ties to the
    * smaller code, so assignments are bit-identical. Codebook is k×dim
    * doubles in the plan — fine for driver-held k (the Model contract),
    * not for codebooks that only exist distributed. */
  private def localAssign(rows: DataFrame, cents: Array[(Int, Seq[Double])]): DataFrame = {
    val best = graft.expressions.NearestCentroid.l2(
      col("vec"), cents.map(_._2.toArray), cents.map(_._1))
    rows.withColumn("__best", best)
      .withColumn("code", col("__best").getField("cluster"))
      .withColumn("d2", col("__best").getField("metric"))
      .drop("__best")
  }

  /** One Lloyd pass per iteration until the max centroid shift < `tol`
    * or `maxIters` is hit. Input vectors are cached for the loop and
    * unpersisted before return. Throws on empty input (no centroid is
    * definable).
    *
    * `diagnostics = false` skips the final inertia and per-cluster-size
    * passes (two extra corpus-sized jobs) for callers that only need the
    * codebook — e.g. a dedup/IVF blocking prefilter; the Model then
    * carries inertia = NaN and size = -1. `seedRounds` tunes the
    * k-means|| oversampling rounds (each is a corpus pass; 2 is plenty
    * for a blocking codebook, the default 3 for analysis clusterings). */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int,
          maxIters: Int = 20, tol: Double = 1e-6,
          diagnostics: Boolean = true, seedRounds: Int = 3,
          init: Init = KMeansParallel): Model = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    require(tol >= 0, s"tol must be >= 0, got $tol")
    require(seedRounds >= 1, s"seedRounds must be >= 1, got $seedRounds")
    val spark = df.sparkSession

    // shape rows for Quantize.assignCodes: a single subspace 0
    val rows = df.select(col(idCol).as("id"), lit(0).as("subspace"),
      col(vecCol).cast("array<double>").as("vec")).cache()
    try {
      // deterministic k-means|| init (Bahmani et al. 2012, arXiv:1203.6402)
      // with fixed-seed hash "randomness" — same determinism contract as
      // the rest of the loop, far better seeding than first-k-ids
      // (which could land every seed inside one blob; FirstIds exists
      // only for the SQL-mirrorable fixed-iteration mode)
      var centroids: Array[(Int, Seq[Double])] = (init match {
        case KMeansParallel => initParallel(rows, k, seedRounds)
        case FirstIds => rows.filter(col("vec").isNotNull)
          .orderBy(col("id")).limit(k)
          .select("vec").collect().map(_.getSeq[Double](0))
      }).zipWithIndex.map { case (v, i) => (i, v) }
      require(centroids.nonEmpty, "KMeans.fit: input has no rows — no centroid is definable")

      def codebookDf(cents: Array[(Int, Seq[Double])]): DataFrame = {
        import spark.implicits._
        cents.toSeq.toDF("code", "centroid").withColumn("subspace", lit(0))
          .select(col("subspace"), col("code"), col("centroid"))
      }

      var iter = 0
      var converged = false
      while (iter < maxIters && !converged) {
        iter += 1
        val assigned = localAssign(rows, centroids)
        val updated: Map[Int, Seq[Double]] =
          Quantize.lloydUpdate(assigned, "vec").collect()
            .map((r: Row) => r.getInt(r.fieldIndex("code")) ->
              r.getSeq[Double](r.fieldIndex("centroid"))).toMap
        // empty clusters keep their previous centroid; shift computed on
        // the driver over k×dim doubles — no extra job
        var maxShift = 0.0
        val next = centroids.map { case (code, prev) =>
          updated.get(code) match {
            case Some(c) =>
              var d2 = 0.0
              var i = 0
              while (i < c.length) { val d = c(i) - prev(i); d2 += d * d; i += 1 }
              maxShift = math.max(maxShift, math.sqrt(d2))
              (code, c)
            case None => (code, prev)
          }
        }
        centroids = next
        converged = maxShift < tol
      }

      val finalCb = codebookDf(centroids)
      if (!diagnostics) {
        val out = finalCb.select(col("code").as("cluster"), col("centroid"),
          lit(-1L).as("size"))
        return Model(out, iter, converged, Double.NaN)
      }
      val finalAssign = localAssign(rows, centroids)
      // decimal(38,6) leaves 10^32 of integer headroom (38,18 overflowed
      // to null at ~10^20, silently reporting inertia = 0.0 — the
      // statistic callers use to pick k); a null sum over a non-empty
      // input now fails loudly instead of coalescing
      val inertiaRow = finalAssign
        .agg(sum(col("d2").cast("decimal(38,6)")).cast("double"),
          count(lit(1)))
        .head()
      val inertia =
        if (inertiaRow.getLong(1) == 0L) 0.0
        else if (inertiaRow.isNullAt(0))
          sys.error("KMeans inertia sum overflowed decimal(38,6) — " +
            "distances too large; scale the input vectors")
        else inertiaRow.getDouble(0)
      val sizes = finalAssign.groupBy("code").agg(count(lit(1)).as("size"))
      val out = finalCb
        .join(sizes, Seq("code"), "left")
        .select(col("code").as("cluster"), col("centroid"),
          coalesce(col("size"), lit(0L)).as("size"))
      Model(out, iter, converged, inertia)
    } finally rows.unpersist()
  }

  /** Deterministic k-means|| seeding over cached rows of
    * (id, subspace=0, vec) — the distributed k-means++ variant
    * (Bahmani et al.): a few oversampling rounds draw ~2k candidates
    * each with probability ∝ their squared distance to the current
    * candidate set, then the candidates (weighted by how many points
    * they'd own) reduce to k centers driver-side.
    *
    * "Randomness" is fixed-seed hashing so runs are bit-reproducible —
    * and ENGINE-PORTABLE (md5 over the id string, the q100/q122 draw
    * family, which is what lets q140 put a seeding round under the SQL
    * oracle; xxhash64 exists only in Spark): the first candidate is the
    * row with the smallest md5(id); a round-r draw keeps a point when
    * u = (first-13-hex-digits of md5(id:r) + 0.5)/2⁵² <
    * min(1, l·d²/φ) with φ the decimal-exact d² total (a double-sum φ
    * would be partition-order-dependent and could flip borderline
    * draws; u's 52-bit mantissa and power-of-two divisor make the draw
    * itself bitwise in any engine). The driver-side reduction is greedy
    * weighted farthest-point (argmax w·d², ties to the lowest candidate
    * index) — the deterministic stand-in for weighted k-means++
    * sampling.
    *
    * Cost: `rounds` × (one broadcast-join min-d² aggregate + one tiny
    * candidate collect) + one weighting pass — ~4 extra jobs, candidate
    * set ≈ 1 + rounds·2k vectors on the driver. May return fewer than k
    * centers when the data has fewer distinct useful seeds (duplicate
    * or zero-weight candidates), matching the capped first-k-ids
    * behavior it replaces. */
  /** md5 seed-ordering hash over the id's string form — identical text in
    * any engine for integral/string ids. */
  private def seedHash(id: Column): Column = md5(id.cast("string"))

  /** Element-wise lexicographic vector order, shorter-prefix first —
    * Spark's array ordering, so driver-side sorts agree with
    * `orderBy(col("vec"))`. */
  private def vecLt(a: Seq[Double], b: Seq[Double]): Boolean = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      if (a(i) < b(i)) return true
      if (a(i) > b(i)) return false
      i += 1
    }
    a.length < b.length
  }

  /** Round-`r` unit draw in [0, 1): first 13 hex digits of md5("id:r")
    * (52 bits, exactly a double) + 0.5, over 2⁵². Bitwise in any engine
    * with md5 — integer-valued numerator, power-of-two divisor. */
  private def unitDraw(id: Column, r: Int): Column =
    (conv(substring(md5(concat(id.cast("string"), lit(s":$r"))), 1, 13), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(4503599627370496.0)

  /** The first k-means|| seeding round as DATA — the oracle window into
    * [[initParallel]] (q140): row `round = 0` is the first candidate
    * (smallest md5(id)); rows `round = 1` are the points the round-1
    * draw selects, each with its squared distance `d2` to the first
    * candidate and its unit draw `u` (selected ⟺ u < min(1, 2k·d²/φ),
    * φ = decimal-exact Σd²). Same expressions as the production
    * seeding — md5 draws are bitwise cross-engine; d2 rides the q89b
    * decimal-sum-vs-sequential margin argument. The driver-side greedy
    * reduction that follows the rounds is oracled separately —
    * [[chosenSeeds]]/q142 unrolls it for small k. */
  def seedRound1(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val rows = df
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .filter(col("vec").isNotNull)
    val first = rows.select(col("id"), col("vec"), seedHash(col("id")).as("__h"))
      .orderBy(col("__h"), col("vec")).limit(1).collect()
    require(first.nonEmpty, "KMeans.seedRound1: input has no rows")
    val seedId = first(0).get(0)
    val s0: Seq[Double] = first(0).getSeq[Double](1)
    val d2s = localAssign(rows, Array((0, s0))).select(col("id"), col("d2"))
    val phi = d2s
      .agg(coalesce(sum(col("d2").cast("decimal(38,6)")).cast("double"), lit(0.0)))
      .head().getDouble(0)
    // seed row built driver-side from the already-collected id: a
    // rows.filter(id === seedId) here would re-scan the whole fact table
    // just to re-materialize one known row (and fan out on duplicate ids)
    val seedRow = {
      import org.apache.spark.sql.types._
      // rows.schema, not df.schema(idCol): rows resolved idCol through
      // the analyzer (case-insensitive), a direct schema lookup is not
      val schema = StructType(Seq(
        rows.schema("id"),
        StructField("round", IntegerType, nullable = false),
        StructField("u", DoubleType, nullable = true),
        StructField("d2", DoubleType, nullable = true)))
      df.sparkSession.createDataFrame(
        java.util.Collections.singletonList(
          org.apache.spark.sql.Row(seedId, 0, null, null)), schema)
    }
    if (phi <= 0.0) return seedRow // saturated: round 1 selects nothing
    val sel = d2s
      .withColumn("u", unitDraw(col("id"), 1))
      .filter(col("u") < least(lit(1.0), lit(2.0 * k) * col("d2") / lit(phi)))
      .select(col("id"), lit(1).as("round"), col("u"), col("d2"))
    seedRow.unionByName(sel)
  }

  private def initParallel(rows0: DataFrame, k: Int, rounds: Int = 3): Array[Seq[Double]] = {
    val (cands, chosen) = initParallelDetail(rows0, k, rounds)
    chosen.map(i => cands(i)._3).toArray
  }

  /** The k-means|| pool-and-reduce with full provenance: returns the
    * ordered candidate pool (md5-of-id sort key, id, vec) — seed first,
    * then each round's draw in ascending-hash order — plus the indices
    * the greedy weighted farthest-point reduction chose, in choice
    * order. Split from [[initParallel]] so [[chosenSeeds]] can put the
    * ACTUAL chosen seeds under the SQL oracle (q142). Candidate order
    * is the engine-portable md5(id) hash — a vector-string sort would
    * mirror Scala's Double.toString, which no SQL engine reproduces. */
  private def initParallelDetail(rows0: DataFrame, k: Int, rounds: Int)
      : (Vector[(String, Any, Seq[Double])], Seq[Int]) = {
    // null vectors carry no seeding information and would NPE the seed
    // collect if one won the md5 order (FirstIds and seedRound1 already
    // filter them; this path must match)
    val rows = rows0.filter(col("vec").isNotNull)
    val first = rows
      .select(col("id"), col("vec"), seedHash(col("id")).as("__h"))
      .orderBy(col("__h"), col("vec")).limit(1).collect()
    if (first.isEmpty) return (Vector.empty, Nil)
    var cands: Vector[(String, Any, Seq[Double])] =
      Vector((first(0).getString(2), first(0).get(0), first(0).getSeq[Double](1).toVector))

    val l = 2.0 * k
    var r = 1
    var saturated = false
    while (r <= rounds && !saturated) {
      val d2s = localAssign(rows,
          cands.map(_._3).zipWithIndex.map { case (v, i) => (i, v) }.toArray)
        .select(col("id"), col("vec"), col("d2"))
      val phi = d2s
        .agg(coalesce(sum(col("d2").cast("decimal(38,6)")).cast("double"), lit(0.0)))
        .head().getDouble(0)
      if (phi <= 0.0) saturated = true // every point sits ON a candidate
      else {
        val u = unitDraw(col("id"), r)
        // sort the draw so candidate indices don't depend on collect()
        // partition order — keeps the whole init bit-reproducible. Vec
        // tiebreak (element-wise, then length — Spark's array ordering,
        // the same key the seed pick's orderBy(__h, vec) uses): duplicate
        // ids share an md5 key, and a stable sort on the hash alone
        // would leave their order to partitioning
        cands ++= d2s
          .filter(u < least(lit(1.0), lit(l) * col("d2") / lit(phi)))
          .select(col("id"), col("vec"), seedHash(col("id")).as("__h")).collect()
          .map(row => (row.getString(2), row.get(0), row.getSeq[Double](1).toVector))
          .sortWith((a, b) => a._1 < b._1 || (a._1 == b._1 && vecLt(a._3, b._3)))
      }
      r += 1
    }

    // weight candidates by the points they'd own, then greedy weighted
    // farthest-point down to k
    val weights = localAssign(rows,
        cands.map(_._3).zipWithIndex.map { case (v, i) => (i, v) }.toArray)
      .groupBy("code").agg(count(lit(1)).as("w"))
      .collect().map(row => row.getInt(0) -> row.getLong(1)).toMap
    val cArr = cands.map(_._3).toArray
    val wArr = cArr.indices.map(i => weights.getOrElse(i, 0L).toDouble).toArray

    def sq(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val firstIdx = cArr.indices.maxBy(i => (wArr(i), -i))
    val chosen = scala.collection.mutable.ArrayBuffer(firstIdx)
    val bestD2 = cArr.indices.map(i => sq(cArr(i), cArr(firstIdx))).toArray
    var more = true
    while (chosen.size < k && more) {
      val next = cArr.indices.maxBy(i => (wArr(i) * bestD2(i), -i))
      if (wArr(next) * bestD2(next) <= 0.0) more = false // only dups/deadweight left
      else {
        chosen += next
        var i = 0
        while (i < cArr.length) {
          bestD2(i) = math.min(bestD2(i), sq(cArr(i), cArr(next))); i += 1
        }
      }
    }
    (cands, chosen.toSeq)
  }

  /** The CHOSEN k-means|| seeds as data — the greedy weighted
    * farthest-point reduction's actual output, by id, in choice order
    * (q142 puts this under the SQL oracle for small k: the pool CTEs
    * are [[seedRound1]]'s, the weights are a per-point argmin count,
    * and each greedy pick is one ORDER-BY-LIMIT-1 CTE with the
    * `w·d² > 0` stop rule — an argmax LOOP is not SQL-expressible, but
    * k picks unroll like q26's Newton rounds). Output: (rank 1..≤k,
    * seed_id). Fewer than k rows when only duplicate/deadweight
    * candidates remain (the production cap). */
  def chosenSeeds(df: DataFrame, idCol: String, vecCol: String, k: Int,
                  rounds: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // cache for the seeding loop like fit does: the seed collect, each
    // round's phi + draw, and the weights pass would otherwise each
    // re-scan the source (~2 jobs per round + 2)
    val rows = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec")).cache()
    try {
      val (cands, chosen) = initParallelDetail(rows, k, rounds)
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("rank", IntegerType, nullable = false),
        rows.schema("id").copy(name = "seed_id")))
      val out = chosen.zipWithIndex.map { case (ci, r) =>
        org.apache.spark.sql.Row(r + 1, cands(ci)._2) }
      df.sparkSession.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava, schema)
    } finally rows.unpersist()
  }

  /** Nearest-centroid assignment of (possibly new) vectors against a
    * fitted model: (id, cluster, d2). The k-sized centroid frame is
    * collected to the driver (the Model contract — centroids live there
    * between rounds anyway) and assignment is the one-projection
    * [[localAssign]]: per-row argmin, zero shuffle, zero join blowup. */
  def assign(df: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame): DataFrame = {
    val cents = centroids
      .select(col("cluster").cast("int"), col("centroid").cast("array<double>"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    val rows = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
    localAssign(rows, cents).select(col("id"), col("code").as("cluster"), col("d2"))
  }
}
