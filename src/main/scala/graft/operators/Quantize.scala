package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.DotProduct

/** Product quantization (PQ) — the standard compression for
  * billion-vector ANN: split each embedding into `m` subvectors, learn a
  * small per-subspace codebook with k-means, store each vector as `m`
  * one-byte codes, and search with asymmetric distance (query kept
  * full-precision, distances looked up per code). At 100 TB this turns a
  * 256-byte float vector into m bytes and the scan into table lookups.
  *
  * Everything is DataFrame-composed: codebook training is a fixed number
  * of Lloyd iterations (assign via broadcast + max-struct aggregate,
  * update via exact decimal means), deterministic across partitionings;
  * encode/search are per-row column math over broadcast codebooks.
  */
object Quantize {

  /** Split `vecCol` (array<float|double>) into `m` equal subvectors:
    * one row per (id, subspace, subvec). `dim` must divide by `m`. */
  def subvectors(df: DataFrame, idCol: String, vecCol: String, m: Int, dim: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    val slices = (0 until m).map { s =>
      struct(lit(s).as("subspace"),
        slice(col(vecCol), s * sub + 1, sub).cast("array<double>").as("subvec"))
    }
    df.select(col(idCol).as("id"), explode(array(slices: _*)).as("s"))
      .select(col("id"), col("s.subspace").as("subspace"), col("s.subvec").as("subvec"))
  }

  /** Train per-subspace codebooks: `k` centroids per subspace via `iters`
    * Lloyd iterations. Initial centroids are the subvectors of the `k`
    * smallest ids (deterministic). Returns (subspace, code, centroid).
    *
    * Scale shape per iteration (the KMeans.fit shape, per subspace): the
    * codebook lives on the DRIVER between rounds (k·dim doubles — the PQ
    * contract makes it bounded), assignment is ONE stateless
    * NearestCentroid projection (no join, no extra exchange), and the
    * update is one map-side-combining decimal-mean aggregate keyed on
    * (subspace, code). Exactly one job runs per round and round i never
    * re-executes rounds 1..i-1 — the previous fold-of-lazy-DataFrames
    * form re-planned (and re-ran) every earlier round once per
    * iteration's eager max-code probe and once more per downstream
    * consumer (a measured 2-3× of q119/q123/q126's whole runtime).
    * Codebooks past [[driverCodebookMaxDoubles]] (the k→2^24 coarse
    * regime) fall back to the distributed join-based loop. */
  def trainCodebook(df: DataFrame, idCol: String, vecCol: String,
                    m: Int, dim: Int, k: Int, iters: Int = 3): DataFrame = {
    // k ≤ 256 is the classic byte-code PQ; larger k is allowed because
    // IvfPq reuses this trainer (m = 1, k = nlist) as its coarse k-means,
    // and real IVF lists run to tens of thousands. 2^24 is ArgMaxPack's
    // label-width ceiling.
    require(k >= 1 && k <= (1 << 24), s"codebook size k must be in [1, 2^24], got $k")
    if (k.toLong * dim <= driverCodebookMaxDoubles(df))
      trainCodebookLocal(df, idCol, vecCol, m, dim, k, iters)
    else
      trainCodebookDistributed(df, idCol, vecCol, m, dim, k, iters)
  }

  /** Driver-held-codebook budget (doubles) for [[trainCodebook]]'s local
    * loop — parameterized, not hard-coded for the 128 GiB sandbox: the
    * default 2^21 doubles (16 MB) is comfortable for any driver that can
    * broadcast the same codebook, which the join path would do anyway. */
  private[operators] def driverCodebookMaxDoubles(df: DataFrame): Long =
    df.sparkSession.conf.get("spark.graft.quantize.driverCodebookMaxDoubles",
      (1L << 21).toString).toLong

  /** The driver-resident Lloyd loop of [[trainCodebook]]: same init, same
    * decimal-mean update ([[lloydUpdate]]), same empty-cluster fallback,
    * assignment bit-identical to [[assignCodes]] on finite inputs
    * (NearestCentroid.l2 runs the identical |v|²−2v·c+|c|² chain; ties to
    * the smaller code at full double precision — QuantizeSpec pins
    * determinism and the q119/q123/q126 oracles pin the trained values). */
  private def trainCodebookLocal(df: DataFrame, idCol: String, vecCol: String,
                                 m: Int, dim: Int, k: Int, iters: Int): DataFrame = {
    val spark = df.sparkSession
    val subs = subvectors(df, idCol, vecCol, m, dim).cache()
    try {
      // init: the k smallest ids' subvectors per subspace (unchanged —
      // including rows whose subvec is null, which the update then skips)
      var codebook: Array[(Int, Int, Seq[Double])] = subs
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("subspace").orderBy("id")))
        .filter(col("rn") <= k)
        .select(col("subspace"), (col("rn") - 1).cast("int").as("code"), col("subvec").as("centroid"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1),
          if (r.isNullAt(2)) null else r.getSeq[Double](2)))

      for (_ <- 1 to iters if codebook.exists(_._3 != null)) {
        // stateless per-row argmin against the driver codebook: one
        // when-chain branch per subspace, each a literal-codebook
        // NearestCentroid (k×(dim/m) primitive flops, no join rows)
        val bySub = codebook.filter(_._3 != null).groupBy(_._1).view
          .mapValues(_.sortBy(_._2).map(t => (t._2, t._3.toArray))).toMap
        val codeCol = bySub.toSeq.sortBy(_._1).foldLeft(lit(null).cast("int")) {
          case (acc, (s, entries)) =>
            val best = graft.expressions.NearestCentroid.l2(
              col("subvec"), entries.map(_._2), entries.map(_._1))
            when(col("subspace") === s, best.getField("cluster")).otherwise(acc)
        }
        // lloydUpdate's first stage (decimal mean per component) runs
        // distributed; its second stage only ASSEMBLES the ≤ m·k·dim
        // component means into arrays — do that on the driver and save
        // the second exchange per round (values are identical: same
        // per-(subspace, code, pos) means, same pos order)
        val updated = subs.withColumn("code", codeCol).filter(col("code").isNotNull)
          .select(col("subspace"), col("code"), posexplode(col("subvec")).as(Seq("pos", "comp")))
          .groupBy("subspace", "code", "pos")
          .agg((sum(col("comp").cast("decimal(38,18)")).cast("double") / count(lit(1))).as("c"))
          .collect()
          .map(r => ((r.getInt(0), r.getInt(1)), (r.getInt(2), r.getDouble(3))))
          .groupBy(_._1).view
          .mapValues(_.map(_._2).sortBy(_._1).map(_._2).toSeq).toMap
        // empty clusters keep their previous centroid
        codebook = codebook.map { case (s, c, prev) =>
          (s, c, updated.getOrElse((s, c), prev))
        }
      }
      import spark.implicits._
      codebook.toSeq.toDF("subspace", "code", "centroid")
    } finally { subs.unpersist(); () }
  }

  /** The original lazy-DataFrame Lloyd fold — the path for codebooks too
    * large to hold on the driver between rounds. Each iteration's
    * assignment is the broadcast-join [[assignCodes]]; note its eager
    * max-code probe re-executes the preceding rounds' lineage, so prefer
    * the driver loop whenever the codebook fits. */
  private def trainCodebookDistributed(df: DataFrame, idCol: String, vecCol: String,
                                       m: Int, dim: Int, k: Int, iters: Int): DataFrame = {
    val subs = subvectors(df, idCol, vecCol, m, dim).cache()
    try {
      val init = subs
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("subspace").orderBy("id")))
        .filter(col("rn") <= k)
        .select(col("subspace"), (col("rn") - 1).cast("int").as("code"), col("subvec").as("centroid"))

      val trained = (1 to iters).foldLeft(init) { (codebook, _) =>
        val updated = lloydUpdate(assignCodes(subs, codebook, "subvec"), "subvec")
        // empty clusters keep their previous centroid
        codebook.select(col("subspace"), col("code"), col("centroid").as("prev"))
          .join(updated, Seq("subspace", "code"), "left")
          .select(col("subspace"), col("code"), coalesce(col("centroid"), col("prev")).as("centroid"))
      }
      // materialize the trained codebook BEFORE releasing the training
      // cache: the fold's result is lazy, and unpersisting `subs` under a
      // lazy plan would silently recompute every subvector pass per
      // consumer — while never unpersisting (the previous shape) leaked
      // the cache across the whole session (and across timed bench runs)
      graft.Barrier(trained, eager = true)
    } finally { subs.unpersist(); () }
  }

  /** One Lloyd centroid update: exact per-component decimal means of the
    * assigned vectors, keyed on (subspace, code) — the single shared
    * implementation behind [[trainCodebook]] and `KMeans.fit`. */
  private[operators] def lloydUpdate(assigned: DataFrame, vecField: String): DataFrame =
    assigned
      .select(col("subspace"), col("code"), posexplode(col(vecField)).as(Seq("pos", "comp")))
      .groupBy("subspace", "code", "pos")
      .agg((sum(col("comp").cast("decimal(38,18)")).cast("double") / count(lit(1))).as("c"))
      .groupBy("subspace", "code")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        f => f.getField("c")).as("centroid"))

  /** Nearest-code assignment for rows of (…, subspace, `vecField`):
    * joins the broadcast codebook per subspace and picks the minimum
    * squared-distance code via a packed-long HASH aggregate (ArgMaxPack
    * over the negated distance; max(struct) buffers aren't UnsafeRow-
    * mutable and fall back to SortAggregate — a per-partition sort of
    * the n×k candidate rows). The label width is sized from the
    * codebook's actual max code (a one-row driver aggregate over the
    * already-tiny broadcast table), so coarse codebooks beyond 256
    * entries work; the label is stored bit-flipped so ties go to the
    * smaller code. */
  private[operators] def assignCodes(rows: DataFrame, codebook: DataFrame, vecField: String): DataFrame = {
    val cb = broadcast(codebook.select(
      col("subspace"), col("code").as("cb_code"), col("centroid")))
    val maxCode = codebook.agg(max(col("code"))).head().getInt(0)
    val bits = math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(1, maxCode)))
    val inv = (1 << bits) - 1
    val d2 = sqDist(col(vecField), col("centroid"))
    rows.join(cb, Seq("subspace"))
      .withColumn("nd2", d2)
      .groupBy(rows.columns.map(col): _*)
      .agg(max(graft.expressions.ArgMaxPack.of(
        -col("nd2"), lit(inv) - col("cb_code"), bits)).as("packed"))
      .withColumn("code",
        lit(inv) - graft.expressions.ArgMaxPack.unpackLabel(col("packed"), bits))
      .drop("packed")
  }

  /** Squared L2 distance via dot products: |a|² − 2a·b + |b|². */
  private[operators] def sqDist(a: Column, b: Column): Column =
    DotProduct.of(a, a) - lit(2.0) * DotProduct.of(a, b) + DotProduct.of(b, b)

  /** Encode every vector as its `m` codes: (id, codes array<int>).
    *
    * With a trained codebook in hand (m·k bounded rows — the PQ
    * contract) encoding is ONE stateless projection of native
    * NearestCentroid argmins over plan-literal centroids — zero
    * shuffles, vs the join path's explode→broadcast-join→argmin-agg→
    * regroup (three aggregate/exchange rounds per encode call). Tie
    * direction (smaller code) and the distance chain (|v|²−2v·c+|c|²,
    * ascending-index folds) are bit-identical to [[encodeViaJoin]] on
    * FINITE inputs; QuantizeSpec pins code-for-code parity.
    *
    * Corrupt input gets the IvfPq sentinel, not garbage: any subspace
    * whose best distance is not a finite double (NaN/Infinity
    * components, null/ragged vectors) emits code -1 — where the join
    * path's NaN bit-pattern packing produced an arbitrary real-looking
    * code. Filter or route codes containing -1 before indexing.
    *
    * Codebooks too large to collect (trainCodebook allows k up to 2^24
    * as the IvfPq coarse reuse) belong on [[encodeViaJoin]]. */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             codebook: DataFrame, m: Int, dim: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    val bySub = codebook.select("subspace", "code", "centroid").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
    require((0 until m).forall(s => bySub.get(s).exists(_.nonEmpty)),
      s"codebook missing a subspace (need 0 until $m)")
    val vec = col(vecCol).cast("array<double>")
    val codes = (0 until m).map { s =>
      val b = graft.expressions.NearestCentroid.l2(slice(vec, s * sub + 1, sub),
        bySub(s).map(_._2), bySub(s).map(_._1))
      // finiteness sentinel (the IvfPq.encodeStateless guard): NaN/Inf
      // metrics and null structs all coalesce to -1, never a garbage code
      coalesce(when(b.getField("metric") < lit(Double.PositiveInfinity),
        b.getField("cluster")), lit(-1))
    }
    df.select(col(idCol).as("id"), array(codes: _*).as("codes"))
  }

  /** The explode→join→aggregate encode — the parity reference for
    * [[encode]] and the PUBLIC form for codebooks too large to collect
    * as plan literals (the k→2^24 coarse regime trainCodebook permits;
    * the stateless form would pull them all to the driver). */
  def encodeViaJoin(df: DataFrame, idCol: String, vecCol: String,
                    codebook: DataFrame, m: Int, dim: Int): DataFrame = {
    val assigned = assignCodes(subvectors(df, idCol, vecCol, m, dim), codebook, "subvec")
    assigned
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("subspace"), col("code")))),
        f => f.getField("code")).as("codes"))
  }

  /** Scalar int8 quantization (SQ8): per-vector affine map of each
    * component onto the 256 signed-byte levels — `code = round((x −
    * min) / scale) − 128`, `scale = (max − min)/255`. A 4× memory cut
    * over float32 with near-lossless recall (reconstruction error ≤
    * scale/2 per component), the standard first rung of the ANN
    * compression ladder below PQ; FAISS's SQ8 uses the same affine
    * form. Adds `sq8_offset`, `sq8_scale`, `sq8_codes` (array<tinyint>:
    * one byte per component in Tungsten rows, vs 8 for the double).
    * Pure map stage — no shuffle, embarrassingly parallel.
    *
    * Constant vectors (max == min) get scale 0 and all-(-128) codes
    * (the raw level 0 shifted into signed-byte range);
    * [[sq8Decode]] reproduces the constant exactly (scale 0 zeroes the
    * code term, leaving the offset). */
  def sq8Encode(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val mn = array_min(v)
    val mx = array_max(v)
    df.withColumn("sq8_offset", mn)
      .withColumn("sq8_scale", (mx - mn) / lit(255.0))
      .withColumn("sq8_codes",
        transform(v, x =>
          (when(col("sq8_scale") === 0.0, lit(0.0))
            .otherwise(round((x - col("sq8_offset")) / col("sq8_scale")))
            .cast("int") - 128).cast("byte")))
  }

  /** Reconstruct the quantized vector: `offset + (code + 128) · scale`.
    * Feed the result to the codegen'd DotProduct / cosine ops — at this
    * codebook-free tier the decode is two fused arithmetic ops per
    * component, cheap enough that a dedicated integer kernel only pays
    * on SIMD hardware. */
  def sq8Decode(codes: Column, scale: Column, offset: Column): Column =
    transform(codes, c => offset + (c.cast("double") + lit(128.0)) * scale)

  /** Asymmetric-distance top-k: queries stay full precision; each encoded
    * vector's distance is the sum over subspaces of the query-to-centroid
    * distance of its code. The per-query distance table (m·k doubles)
    * is built once via the broadcast codebook, then the encoded scan is
    * per-row MAP lookups folded in place ([[adcFold]]) — no explode of
    * the codes, no re-aggregation shuffle of the candidates (the former
    * shape churned candidates×m rows through a groupBy for per-row-local
    * work). The rank filter rides the TopKPerKey rewrite. */
  def adcTopK(queries: DataFrame, encoded: DataFrame, codebook: DataFrame,
              qIdCol: String, qVecCol: String, m: Int, dim: Int, k: Int): DataFrame = {
    graft.plans.RankFilterToTopK_Install(queries.sparkSession)
    // per (query, subspace, code): squared distance to that centroid
    val qsubs = subvectors(queries, qIdCol, qVecCol, m, dim)
      .select(col("id").as("q_id"), col("subspace"), col("subvec"))
    val cb = broadcast(codebook)
    val table = qsubs.join(cb, Seq("subspace"))
      .select(col("q_id"), col("subspace"), col("code"),
        sqDist(col("subvec"), col("centroid")).as("d2"))
    val tbl = adcMaps(table, "q_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("adc_d2").asc, col("t_id"))
    encoded.select(col("id").as("t_id"), col("codes"))
      .crossJoin(broadcast(tbl))
      // decimal accumulation inside adcFold (Num policy): the m-term sum
      // is exact and order-free, so duplicate codes get BITWISE-equal
      // distances and the t_id tie-break below is deterministic across
      // partitionings. MAGNITUDE CONTRACT: decimal(38,18) holds
      // |Σd2| < 1e20 — comfortable for unit-scale embeddings, and under
      // ANSI mode an overflow fails LOUDLY rather than silently nulling
      // the ranking.
      .withColumn("adc_d2", adcFold(col("codes"), col("tbl"), m))
      .filter(col("adc_d2").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "t_id", "adc_d2", "rank")
  }

  /** Per-key ADC lookup maps: one row per `keyCol` value with a
    * (subspace·2^25 + code) → d2 map — the broadcastable form of the
    * per-query distance table ([[adcFold]] is the reader). 2^25 clears
    * trainCodebook's k ≤ 2^24 ceiling, so a -1 sentinel code's key
    * (s·2^25 − 1) can never collide with a real (s−1, code) entry. */
  private[operators] def adcMaps(table: DataFrame, keyCol: String): DataFrame =
    table
      .select(col(keyCol), (col("subspace").cast("long") * (1L << 25) + col("code")).as("k"),
        col("d2"))
      .groupBy(keyCol)
      .agg(map_from_arrays(collect_list(col("k")), collect_list(col("d2"))).as("tbl"))

  /** Fold a codes array over an [[adcMaps]] lookup map: exact scale-18
    * decimal sum of the found entries, null when NO code resolves
    * (-1 sentinel codes miss the map exactly as they failed the old
    * (subspace, code) inner join; a candidate with no valid code must
    * be ABSENT from the ranking, so callers filter the null).
    *
    * Precision: the accumulator is decimal(37,18) and each entry casts
    * to decimal(30,18), so the add result is decimal(38,18) — SCALE 18
    * IS PRESERVED (a naive (38,18)+(38,18) lambda promotes to scale 17,
    * silently rounding the 18th digit the old Sum kept exact). The cast
    * back to (37,18) checks magnitude only. Contract: per-subspace
    * d2 < 1e12 and |Σd2| < 1e19 (vs the old 1e20) — orders beyond any
    * unit-scale embedding; ANSI mode fails loudly past it. */
  private[operators] def adcFold(codes: Column, tbl: Column, m: Int): Column = {
    val found = filter(
      zip_with(codes, typedLit((0 until m).toList),
        (c, s) => try_element_at(tbl, s.cast("long") * (1L << 25) + c)),
      x => x.isNotNull)
    when(size(found) > 0,
      aggregate(found, lit(java.math.BigDecimal.ZERO).cast("decimal(37,18)"),
        (acc, x) => (acc + x.cast("decimal(30,18)")).cast("decimal(37,18)")).cast("double"))
  }
}
