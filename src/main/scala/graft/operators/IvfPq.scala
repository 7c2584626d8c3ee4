package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF+PQ with residual quantization — the billion-vector ANN index
  * layout (FAISS-style IndexIVFPQ): a coarse k-means quantizer routes each
  * vector to one of `nlist` clusters, and product quantization compresses
  * the RESIDUAL (vector − its coarse centroid) rather than the vector
  * itself. Residuals concentrate near zero, so the same PQ bit budget
  * spends its codewords on a much smaller volume — materially lower
  * reconstruction error than PQ over raw vectors at equal m·k.
  *
  * Scale shape: training is a fixed number of Lloyd rounds over broadcast
  * centroids (Quantize.trainCodebook); encode is one broadcast join + one
  * per-row argmin per stage (no shuffle of the vector table beyond the
  * final one-row-per-id aggregate); search probes `nprobe` clusters so
  * candidate generation is a join keyed on cluster id — cluster-local,
  * never an all-pairs scan — and the rank filter rides the
  * TopKPerKey rewrite.
  *
  * Reference analog: none in meerpipe — this is the training-data-pipeline
  * similarity-search stack (SURVEY.md §2.C) taken to its production form.
  */
object IvfPq {

  /** Trained index parameters: coarse centroids (cluster, centroid) and
    * per-subspace residual codebooks (subspace, code, centroid).
    * `clusterBits` sizes the ArgMaxPack label field for the coarse
    * assignment (ceil(log2(nlist))). */
  final case class Model(coarse: DataFrame, pq: DataFrame, m: Int, dim: Int, clusterBits: Int)

  /** Train coarse quantizer (k-means, `nlist` centers, via
    * Quantize.trainCodebook with one subspace spanning the full vector)
    * then PQ codebooks over coarse residuals. Deterministic: Lloyd
    * iterations with smallest-id init, exact decimal centroid means. */
  def train(df: DataFrame, idCol: String, vecCol: String, dim: Int,
            nlist: Int, m: Int, k: Int, iters: Int = 3): Model = {
    val bits = clusterBitsFor(nlist)
    val coarse = Quantize.trainCodebook(df, idCol, vecCol, m = 1, dim = dim,
        k = nlist, iters = iters)
      .select(col("code").as("cluster"), col("centroid").as("c_centroid"))
    // residuals for PQ training: when the trained coarse codebook is
    // driver-collectable (nlist·dim doubles — always, for any nlist this
    // trainer could have looped on the driver) the assignment is ONE
    // stateless NearestCentroid projection, replacing the join+argmin-agg
    // shape that shuffled the full vector table (groupBy(id) carrying the
    // vec) and materialized n×nlist joined rows. Same distance chain and
    // tie direction; rows with no assignable cluster (null/ragged vecs)
    // are dropped exactly as the old inner join-back dropped them.
    // same driver-held-codebook budget as trainCodebook itself — a
    // deployment that lowers the conf (driver cannot hold codebooks)
    // must not get the coarse codebook collected here either
    val resid =
      if (nlist.toLong * dim <= Quantize.driverCodebookMaxDoubles(df))
        residualsStateless(df, idCol, vecCol, coarse)
      else residuals(df, idCol, vecCol, coarse, bits)
    val pq = Quantize.trainCodebook(resid, "id", "resid", m = m, dim = dim,
      k = k, iters = iters)
    Model(coarse, pq, m, dim, bits)
  }

  /** (id, cluster, resid) as one stateless projection over a literal
    * coarse codebook — the training-path twin of [[encodeStateless]]'s
    * coarse stage (same NearestCentroid.l2, same |v|²−2v·c+|c|² chain,
    * ties to the smaller cluster). Null/invalid vectors (null struct
    * from NearestCentroid) are filtered, matching [[residuals]]'s
    * inner join-back. */
  private def residualsStateless(df: DataFrame, idCol: String, vecCol: String,
                                 coarse: DataFrame): DataFrame = {
    // null centroids (an init row with no vector) can never win the old
    // join path's argmin — dropping them before the collect is identical
    val rows = coarse.select("cluster", "c_centroid")
      .filter(col("c_centroid").isNotNull).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    if (rows.isEmpty)
      // all-null codebook: the old inner join-back dropped every row
      return df.select(col(idCol).as("id"), lit(0).as("cluster"),
        col(vecCol).cast("array<double>").as("resid")).limit(0)
    val vec = col(vecCol).cast("array<double>")
    val best = graft.expressions.NearestCentroid.l2(vec, rows.map(_._2), rows.map(_._1))
    val centMap = map_from_arrays(
      typedLit(rows.map(_._1).toSeq),
      typedLit(rows.map(_._2.toSeq).toSeq))
    df.withColumn("__cl", best.getField("cluster"))
      .filter(col("__cl").isNotNull)
      .select(col(idCol).as("id"), col("__cl").as("cluster"),
        zip_with(vec, element_at(centMap, col("__cl")), (a, b) => a - b).as("resid"))
  }

  /** Smallest label width covering `nlist` clusters (ArgMaxPack field). */
  def clusterBitsFor(nlist: Int): Int = {
    require(nlist >= 1 && nlist <= (1 << 24), s"nlist must be in [1, 2^24], got $nlist")
    math.max(1, 32 - Integer.numberOfLeadingZeros(nlist - 1))
  }

  /** (id, cluster, resid): nearest coarse centroid per vector (argmin by
    * squared L2, ties to smaller cluster) and the residual against it.
    * One broadcast join; the argmin is a packed-long HASH aggregate
    * (ArgMaxPack over the negated distance — max(struct) would fall back
    * to SortAggregate and per-partition-sort the full n×nlist candidate
    * set, the largest intermediate in the operator). */
  private def residuals(df: DataFrame, idCol: String, vecCol: String,
                        coarse: DataFrame, bits: Int): DataFrame = {
    val vecs = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
    assignCluster(vecs, coarse, bits)
      .withColumn("resid", zip_with(col("vec"), col("c_centroid"), (a, b) => a - b))
      .select("id", "cluster", "resid")
  }

  /** (id, vec, cluster, c_centroid) with cluster = argmin squared L2.
    * The label is stored bit-flipped ((2^bits−1) − cluster) so max(packed)
    * breaks exact-distance ties toward the SMALLER cluster id. */
  private def assignCluster(vecs: DataFrame, coarse: DataFrame, bits: Int): DataFrame = {
    val cb = broadcast(coarse)
    val inv = (1 << bits) - 1
    vecs.join(cb)
      .withColumn("nd2", Quantize.sqDist(col("vec"), col("c_centroid")))
      .groupBy("id")
      .agg(
        max(graft.expressions.ArgMaxPack.of(-col("nd2"), lit(inv) - col("cluster"), bits)).as("packed"),
        first(col("vec")).as("vec"))
      .withColumn("cluster",
        lit(inv) - graft.expressions.ArgMaxPack.unpackLabel(col("packed"), bits))
      .drop("packed")
      .join(cb, Seq("cluster"))
  }

  /** Encode the corpus: (id, cluster, codes array<int>) — the complete
    * compressed index entry (4 + m bytes of information per vector).
    *
    * Routes through [[encodeStateless]]: with a trained model in hand
    * the codebooks are bounded literals, so encoding is ONE stateless
    * projection — zero shuffles (spec-pinned) — where the aggregate form
    * ([[encodeViaAggregate]]) materializes the n×nlist candidate set
    * through a broadcast join and pays two aggregate rounds. */
  def encode(df: DataFrame, idCol: String, vecCol: String, model: Model): DataFrame =
    encodeStateless(df, idCol, vecCol, model)

  /** The broadcast-join + argmin-aggregate encode — kept as the parity
    * reference for [[encodeStateless]] (spec pins cluster-for-cluster /
    * code-for-code agreement on trained models) and for callers whose
    * codebooks are too large to embed as plan literals. */
  def encodeViaAggregate(df: DataFrame, idCol: String, vecCol: String, model: Model): DataFrame = {
    val resid = residuals(df, idCol, vecCol, model.coarse, model.clusterBits)
    val codes = Quantize.encodeViaJoin(resid, "id", "resid", model.pq, model.m, model.dim)
    resid.select("id", "cluster").join(codes, Seq("id"))
  }

  /** Stateless per-row encoding against LITERAL codebooks — the
    * streaming-ingest path that keeps a trained index FRESH: `encode`
    * routes through a groupBy-per-id argmin (aggregation ⇒ state stores
    * and output-mode constraints on a stream), while this variant folds
    * each row over the codebooks embedded as literal arrays, making the
    * whole encoding ONE stateless projection — legal in any streaming
    * output mode, no watermark, no state; and on batch inputs it trades
    * the two broadcast-join+aggregate rounds for zero shuffles.
    *
    * Driver/plan state is the codebook itself (nlist·dim + m·k·(dim/m)
    * doubles — the same bounded tables `save` persists), collected once
    * at plan-build time.
    *
    * Parity contract (spec-pinned against `encode` on trained models):
    * distances are the same `sqDist` chains over the same doubles, and
    * the fold's strict `<` keeps the FIRST (= smallest id) minimum —
    * the same tie direction as the batch ArgMaxPack path. The one
    * disclosed divergence window is ArgMaxPack's: the packed argmin
    * quantizes away the low labelBits mantissa bits, so two distances
    * within ~2^-48 relative collapse to a tie batch-side while the fold
    * compares full-precision — same bounded window as q44's scaladoc.
    *
    * Corrupt input: any vector whose best distance is not a finite
    * double — NaN or ±Infinity components, magnitudes whose square
    * overflows, null / wrong-length / null-element arrays — is emitted
    * with the EXPLICIT invalid sentinel `cluster = -1`, `codes = [-1…]`
    * (spec-pinned for the NaN, Infinity, and null classes) — routable
    * to a quarantine partition — rather than whatever bit-pattern
    * cluster the batch path's packed argmax happens to produce. Filter
    * or route `cluster = -1` before appending to the index. */
  def encodeStateless(df: DataFrame, idCol: String, vecCol: String,
                      model: Model, keep: Seq[String] = Nil): DataFrame = {
    import graft.expressions.NearestCentroid
    val sub = model.dim / model.m
    val vec = col(vecCol).cast("array<double>")

    // argmins via the NATIVE NearestCentroid expression — a tight
    // primitive k×d loop per row over plan-literal codebooks. The first
    // cut of this method folded `aggregate()` HOFs over literal struct
    // arrays: semantically identical, but every candidate comparison paid
    // interpreted-lambda + Catalyst boxing costs (~ms per row — a
    // measured 4× q123 regression when batch encode routed here).
    // NearestCentroid ties to the SMALLER code, same direction as the
    // fold's strict < and the batch ArgMaxPack path.
    val coarseRows = model.coarse.select("cluster", "c_centroid").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    require(coarseRows.nonEmpty, "empty coarse codebook")
    val pqBySub = model.pq.select("subspace", "code", "centroid").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
    require((0 until model.m).forall(s => pqBySub.get(s).exists(_.nonEmpty)),
      "PQ codebook missing a subspace")

    val best = NearestCentroid.l2(vec, coarseRows.map(_._2), coarseRows.map(_._1))
    // one FINITENESS test covers every invalid-input class: NaN metrics
    // (NaN components), +Inf metrics (Infinity components / |v|² overflow
    // — `metric < +Inf` is false for both), and null structs (null /
    // wrong-length / null-element vectors — comparison null, coalesced to
    // false). All collapse to the explicit -1 sentinel; a plain isnan
    // check let +Inf and null-struct rows into the index with real-looking
    // cluster ids (found in review)
    val cluster = when(
      coalesce(col("__best").getField("metric") < lit(Double.PositiveInfinity), lit(false)),
      col("__best").getField("cluster")).otherwise(lit(-1))
    // chosen centroid by cluster id from a literal map (ids need not be
    // contiguous for loaded models); sentinel → null → null residual
    val centMap = map_from_arrays(
      typedLit(coarseRows.map(_._1).toSeq),
      typedLit(coarseRows.map(_._2.toSeq).toSeq))
    val withCluster = df
      .withColumn("__best", best)
      .withColumn("__cl", cluster)
      .withColumn("__resid",
        // try_: ANSI element_at raises on the missing sentinel key (-1)
        zip_with(vec, try_element_at(centMap, col("__cl")), (a, b) => a - b))
    val codeCols = (0 until model.m).map { s =>
      val b = NearestCentroid.l2(slice(col("__resid"), s * sub + 1, sub),
        pqBySub(s).map(_._2), pqBySub(s).map(_._1))
      // same finiteness guard per subspace, so codes can never carry a
      // null element where the sentinel contract promises -1
      when(col("__cl") === -1, lit(-1)).otherwise(
        coalesce(when(b.getField("metric") < lit(Double.PositiveInfinity),
          b.getField("cluster")), lit(-1)))
    }
    withCluster.select(Seq(col(idCol).as("id"),
      col("__cl").as("cluster"),
      array(codeCols: _*).as("codes")) ++ keep.map(col): _*)
  }

  /** The coarse codebook as driver-local (cluster, centroid) pairs sorted
    * by cluster, when it fits the `driverCodebookMaxDoubles` budget and
    * every row is a non-null `dim`-long centroid; None sends [[search]]'s
    * probe selection to the join+window fallback. */
  private[graft] def localCoarse(queries: DataFrame, model: Model): Option[Array[(Int, Array[Double])]] = {
    // clamped into [0, Int.MaxValue - 1]: a large budget over a small dim
    // overflows Int, and limit() rejects the negative row count
    val budgetRows = math.max(0L, math.min(
      Quantize.driverCodebookMaxDoubles(queries) / math.max(1, model.dim), Int.MaxValue - 1L)).toInt
    val probeRows = model.coarse.select("cluster", "c_centroid")
      .limit(budgetRows + 1).collect()
    val clean = probeRows.length <= budgetRows && probeRows.nonEmpty &&
      probeRows.forall(r => !r.isNullAt(0) && !r.isNullAt(1) &&
        r.getSeq[Double](1).length == model.dim)
    if (clean) Some(probeRows.map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1))
    else None
  }

  /** Probe search: per query, rank coarse centroids by squared L2 and keep
    * the best `nprobe`; per probed cluster build the asymmetric-distance
    * table over the RESIDUAL query (q − cluster centroid); candidates are
    * the encoded rows of probed clusters (join on cluster id); each
    * candidate's distance is the sum of its codes' table entries. Output:
    * (q_id, t_id, adc_d2, rank ≤ k) per query. */
  def search(queries: DataFrame, encoded: DataFrame, model: Model,
             qIdCol: String, qVecCol: String, nprobe: Int, k: Int): DataFrame = {
    graft.plans.RankFilterToTopK_Install(queries.sparkSession)
    val w = org.apache.spark.sql.expressions.Window
    val qvecs = queries.select(col(qIdCol).as("q_id"), col(qVecCol).cast("array<double>").as("q_vec"))

    // nprobe best clusters per query. Default: the coarse codebook is
    // driver-collectable (the trainCodebook budget), so probe selection
    // is ONE stateless top-nprobe expression over plan-literal centroids
    // — no queries × nlist join rows, no window, no exchange in the
    // probe segment. Ordering (Spark double compare on cd2 asc, ties to
    // the smaller cluster) and the d² chain are bit-identical to the
    // join+window fallback below, which remains for codebooks past the
    // budget or carrying null/ragged centroids (whose null-first window
    // ranking the expression deliberately does not reproduce).
    val probes = localCoarse(queries, model) match {
      case Some(cents) =>
        val centMap = map_from_arrays(
          typedLit(cents.map(_._1).toSeq),
          typedLit(cents.map(_._2.toSeq).toSeq))
        qvecs
          .withColumn("cluster", explode(graft.expressions.NearestCentroidsTopN.l2(
            col("q_vec"), cents.map(_._2), cents.map(_._1), nprobe)))
          .withColumn("c_centroid", element_at(centMap, col("cluster")))
          .select(col("q_id"), col("q_vec"), col("cluster"), col("c_centroid"))
      case None =>
        val pw = w.partitionBy("q_id").orderBy(col("cd2").asc, col("cluster").asc)
        qvecs.join(broadcast(model.coarse))
          .withColumn("cd2", Quantize.sqDist(col("q_vec"), col("c_centroid")))
          .withColumn("pr", row_number().over(pw))
          .filter(col("pr") <= nprobe)
          .select(col("q_id"), col("q_vec"), col("cluster"), col("c_centroid"))
    }
    // probes is read twice (the ADC-table chain and the candidate join)
    // and its producer includes the CALLER's whole queries plan — a lazy
    // barrier, bounded by queries × nprobe rows, runs that plan once
    val probed = graft.Barrier(probes)

    // residual query per probed cluster → per-subspace ADC lookup table:
    // (q_id, cluster, subspace, code) → squared distance contribution
    val qresid = probed.withColumn("q_resid",
      zip_with(col("q_vec"), col("c_centroid"), (a, b) => a - b))
    // struct key, not a delimited string: string q_ids containing the
    // delimiter would let distinct (q_id, cluster) pairs collide and mix
    // ADC distance tables across queries
    val qsubs = Quantize.subvectors(
        qresid.select(struct(col("q_id"), col("cluster")).as("qc"), col("q_resid")),
        "qc", "q_resid", model.m, model.dim)
      .select(col("id").as("qc"), col("subspace"), col("subvec"))
    val table = qsubs.join(broadcast(model.pq), Seq("subspace"))
      .select(col("qc"), col("subspace"), col("code"),
        Quantize.sqDist(col("subvec"), col("centroid")).as("d2"))

    // ADC distances as ONE per-row fold over a broadcast per-(query,
    // cluster) lookup MAP instead of the former posexplode → broadcast
    // join → re-aggregate: the explode churned candidates×m rows and the
    // groupBy re-shuffled every candidate — pure overhead, since each
    // candidate's m lookups need no cross-row data. Values are identical:
    // the same m d2 doubles enter the same exact decimal(38,18) sum
    // (order-free), a -1 sentinel code contributes nothing exactly as it
    // failed the old inner join, and a candidate with NO valid code is
    // absent from the output in both shapes.
    val tbl = Quantize.adcMaps(table, "qc")
    val cand = probed.select(col("q_id"), col("cluster"))
      .join(encoded.select(col("id").as("t_id"), col("cluster"), col("codes")), Seq("cluster"))
      .withColumn("qc", struct(col("q_id"), col("cluster")))

    val rw = w.partitionBy("q_id").orderBy(col("adc_d2").asc, col("t_id"))
    cand.join(broadcast(tbl), Seq("qc"))
      .withColumn("adc_d2", Quantize.adcFold(col("codes"), col("tbl"), model.m))
      .filter(col("adc_d2").isNotNull)
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select("q_id", "t_id", "adc_d2", "rank")
  }

  /** Refined probe search (the FAISS-style refine stage): [[search]]
    * produces an ADC shortlist of `shortlist` ≥ `k` candidates per query,
    * then the shortlist's RAW vectors are fetched and re-ranked by exact
    * squared L2; output is the exact-distance top `k`. ADC compression
    * error then only costs recall when a true neighbor misses the
    * shortlist entirely — re-ranking within it is exact.
    *
    * Scale shape: the raw-vector table `corpus` is touched only for
    * shortlist hits — a hash join keyed on vector id moving
    * queries × `shortlist` rows, never the corpus — which is exactly how
    * a billion-vector deployment keeps full-precision vectors out of the
    * index: codes in the index table, raw vectors fetched per-finalist.
    * The final rank filter rides the TopKPerKey rewrite. */
  def searchRefined(queries: DataFrame, corpus: DataFrame, encoded: DataFrame, model: Model,
                    qIdCol: String, qVecCol: String, tIdCol: String, tVecCol: String,
                    nprobe: Int, k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val short = search(queries, encoded, model, qIdCol, qVecCol, nprobe, shortlist)
    val qv = queries.select(col(qIdCol).as("q_id"), col(qVecCol).cast("array<double>").as("q_vec"))
    val tv = corpus.select(col(tIdCol).as("t_id"), col(tVecCol).cast("array<double>").as("t_vec"))
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("d2").asc, col("t_id"))
    short.select("q_id", "t_id")
      .join(tv, Seq("t_id"))
      .join(qv, Seq("q_id"))
      .withColumn("d2", Quantize.sqDist(col("q_vec"), col("t_vec")))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select("q_id", "t_id", "d2", "rank")
  }

  // -------------------------------------------------------------------
  // Model persistence — a production index trains ONCE and serves many
  // sessions; without this every job would re-run the two Lloyd
  // trainings (the dominant cost of q123-style chains). Layout:
  //   <path>/manifest.json   {"format":"graft-ivfpq","version":1,m,dim,clusterBits}
  //   <path>/coarse/         parquet (cluster, c_centroid)
  //   <path>/pq/             parquet (subspace, code, centroid)
  // Centroids are doubles and parquet stores them bit-exactly, so a
  // loaded model searches identically to the freshly trained one
  // (IvfPqSpec pins this). Paths go through the Hadoop FileSystem API,
  // so any Spark-supported URI works (same contract as
  // FitsFile.transformFiles).
  // -------------------------------------------------------------------

  private val FormatName = "graft-ivfpq"
  private val FormatVersion = 1

  /** Persist a trained model under `path` (overwrites). */
  def save(model: Model, path: String): Unit = {
    val spark = model.coarse.sparkSession
    model.coarse.write.mode("overwrite").parquet(s"$path/coarse")
    model.pq.write.mode("overwrite").parquet(s"$path/pq")
    val manifest =
      s"""{"format":"$FormatName","version":$FormatVersion,""" +
      s""""m":${model.m},"dim":${model.dim},"clusterBits":${model.clusterBits}}"""
    val p = new org.apache.hadoop.fs.Path(path, "manifest.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val os = fs.create(p, true)
    try os.write(manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
  }

  /** Load a model persisted by [[save]]; fails loudly on a missing or
    * incompatible manifest rather than mis-searching with wrong m/dim. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    val p = new org.apache.hadoop.fs.Path(path, "manifest.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val is = fs.open(p)
    val text =
      try new String(is.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally is.close()
    def field(name: String): String =
      s""""$name":\\s*"?([^",}]+)"?""".r.findFirstMatchIn(text)
        .map(_.group(1))
        .getOrElse(throw new IllegalArgumentException(
          s"IvfPq.load: manifest at $path missing field '$name'"))
    require(field("format") == FormatName,
      s"IvfPq.load: not a $FormatName index: ${field("format")}")
    require(field("version").toInt == FormatVersion,
      s"IvfPq.load: unsupported version ${field("version")} (want $FormatVersion)")
    Model(
      spark.read.parquet(s"$path/coarse"),
      spark.read.parquet(s"$path/pq"),
      m = field("m").toInt,
      dim = field("dim").toInt,
      clusterBits = field("clusterBits").toInt)
  }
}
