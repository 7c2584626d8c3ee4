package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Num._
import graft.functions.VectorFns
import graft.operators.KnnJoin
import graft.sources.Tables

/** SURVEY.md §2.C (vector half) — similarity search over `embeddings`.
  *
  * Oracle parity relies on the decimal-accumulator dot product
  * (VectorFns.dotExact): decimal addition is exact and therefore
  * order-independent, so Spark's sequential array fold equals DuckDB's
  * grouped sum over the same per-element double products.
  *
  * Every query loads `embeddings` with `spread = true`: each does per-row
  * array math (64-component dots/norms/explodes) that would otherwise run
  * fused into a single-split local file scan.
  */
object VectorQueries {

  private val dotSql =
    "CAST(SUM(CAST(CAST(%s[i] AS DOUBLE) * CAST(%s[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)"

  private val normsCte =
    s"""norms AS (
        SELECT vec_id, SQRT(${dotSql.format("embedding", "embedding")}) AS nrm
        FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS u(i)
        GROUP BY 1)"""

  /** DECIMAL(38,18)-exact squared-L2 SUM template (q89b tier) — shared by
    * the seeding oracles so the distance chain cannot fork per query. */
  private def sqSumSql(a: String, b: String): String =
    s"CAST(SUM(CAST((CAST($a AS DOUBLE) - CAST($b AS DOUBLE))" +
      s" * (CAST($a AS DOUBLE) - CAST($b AS DOUBLE)) AS DECIMAL(38,18))) AS DOUBLE)"

  /** Shared k-means‖ seed-round CTE prefix (q140/q142): null-filtered
    * base (mirroring the Spark side's vec_id/embedding filters — the
    * null gate may someday inject embedding nulls), md5-minimal seed,
    * per-point d² to the seed, decimal φ.
    *
    * PRECONDITION: vec_id is unique (the embeddings table's key
    * contract — gen_sf.py shifts ids per replica, gen_nulls.py never
    * nulls keys). The ORACLE leans on it three ways: `d`'s GROUP BY
    * vec_id would sum d² across duplicate-id rows, `cv`-style joins on
    * vec_id would fan out, and ROW_NUMBER over md5(vec_id) has no
    * tiebreak between equal ids. The ENGINE side is duplicate-safe
    * (hash + element-wise vec sort, commit e2961c0); a future gate that
    * injects duplicate ids would need the oracle re-keyed on
    * (vec_id, embedding) with the same vec tiebreak — it would be the
    * oracle failing, not the engine. */
  private val seedPoolCtes =
    s"""eb AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
      s0 AS (
        SELECT vec_id, embedding FROM eb
        ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 1),
      d AS (
        SELECT e.vec_id, ${sqSumSql("e.embedding[u.i]", "s0.embedding[u.i]")} AS d2
        FROM eb e CROSS JOIN s0,
          LATERAL unnest(generate_series(1, len(e.embedding))) AS u(i)
        GROUP BY 1),
      p AS (SELECT CAST(SUM(CAST(d2 AS DECIMAL(38,6))) AS DOUBLE) AS phi FROM d)"""

  /** C9: brute-force cosine top-k (exact ANN baseline). Queries broadcast;
    * rank-filter rewritten to bounded-heap TopKPerKey. Engine path is the
    * native double DotProduct; the decimal oracle differs by ≤ a few ulps
    * (float32 products are exact in double, only the 64-term sum rounds),
    * far inside the compare tolerance, and top-k gaps are ~1e-4 so ranks
    * can't flip. */
  private val q38 = Q(
    "q38_cosine_topk",
    (s, dir) => {
      val e = Tables.embeddings(s, dir, spread = true)
      KnnJoin.bruteForce(
        e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
        "embedding", "vec_id", k = 3)
    },
    Some(s"""
      WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
      t AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
      dots AS (
        SELECT q.vec_id AS q_id, t.vec_id AS t_id, ${dotSql.format("q.embedding", "t.embedding")} AS dot
        FROM q, t, LATERAL unnest(generate_series(1, len(q.embedding))) AS u(i)
        GROUP BY 1, 2),
      $normsCte,
      cos AS (
        SELECT q_id, t_id, dot / (nq.nrm * nt.nrm) AS cosine
        FROM dots JOIN norms nq ON nq.vec_id = q_id JOIN norms nt ON nt.vec_id = t_id),
      r AS (SELECT q_id, t_id, cosine,
        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, t_id) AS "rank" FROM cos)
      SELECT q_id, t_id, cosine, "rank" FROM r WHERE "rank" <= 3
    """),
  )

  /** C10: sign-LSH bucketed ANN (scale path — pair join is bucket-local). */
  private val q39 = Q(
    "q39_ann_buckets",
    (s, dir) => {
      val e = Tables.embeddings(s, dir, spread = true)
      KnnJoin.bucketed(
        e.filter(col("vec_id") < 20), e.filter(col("vec_id") >= 20),
        "embedding", "vec_id", k = 1, bits = 4)
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, embedding,
          (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END
           + CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END
           + CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END
           + CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) AS bucket
        FROM embeddings),
      q AS (SELECT * FROM e WHERE vec_id < 20),
      t AS (SELECT * FROM e WHERE vec_id >= 20),
      dots AS (
        SELECT q.vec_id AS q_id, t.vec_id AS t_id, q.bucket,
          ${dotSql.format("q.embedding", "t.embedding")} AS dot
        FROM q JOIN t ON q.bucket = t.bucket,
             LATERAL unnest(generate_series(1, len(q.embedding))) AS u(i)
        GROUP BY 1, 2, 3),
      $normsCte,
      cos AS (
        SELECT q_id, t_id, dot / (nq.nrm * nt.nrm) AS cosine, bucket
        FROM dots JOIN norms nq ON nq.vec_id = q_id JOIN norms nt ON nt.vec_id = t_id),
      r AS (SELECT q_id, t_id, cosine, bucket,
        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, t_id) AS "rank" FROM cos)
      SELECT q_id, t_id, cosine, "rank", bucket FROM r WHERE "rank" <= 1
    """),
  )

  /** C11: per-label norm/centroid stats (decimal-exact). */
  private val q40 = Q(
    "q40_embedding_stats",
    (s, dir) =>
      Tables.embeddings(s, dir, spread = true)
        .withColumn("nrm", VectorFns.normExact(col("embedding")))
        .withColumn("c1", element_at(col("embedding"), 1).cast("double"))
        .groupBy("label")
        .agg(
          count(lit(1)).as("n"),
          davg(col("nrm")).as("avg_norm"),
          davg(col("c1")).as("avg_first_comp"),
        ),
    Some(s"""
      WITH $normsCte,
      j AS (
        SELECT label, nrm, CAST(embedding[1] AS DOUBLE) AS c1
        FROM embeddings JOIN norms USING (vec_id))
      SELECT label, COUNT(*) AS n,
        CAST(SUM(CAST(nrm AS DECIMAL(38,6))) AS DOUBLE) / COUNT(nrm) AS avg_norm,
        CAST(SUM(CAST(c1 AS DECIMAL(38,6))) AS DOUBLE) / COUNT(c1) AS avg_first_comp
      FROM j GROUP BY 1
    """),
  )

  /** C12: IVF "training" — per-label centroids as exact component means
    * (one explode + one groupBy; 640 output rows). */
  private val q43 = Q(
    "q43_centroids",
    (s, dir) =>
      Tables.embeddings(s, dir, spread = true)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "comp")))
        .groupBy("label", "pos")
        .agg(davg(col("comp").cast("double")).as("c")),
    Some("""
      SELECT label, i - 1 AS pos,
        CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
          / COUNT(embedding[i]) AS c
      FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS u(i)
      GROUP BY 1, 2
    """),
  )

  /** C13: IVF assignment — every vector to its nearest label-centroid by
    * exact cosine; centroids broadcast, so the scan is one pass with a
    * 10-way comparison per row (the IVF coarse-quantizer step). */
  private val q44 = Q(
    "q44_ivf_assign",
    (s, dir) => {
      val centroids = Tables.embeddings(s, dir, spread = true)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "comp")))
        .groupBy("label", "pos")
        .agg(davg(col("comp").cast("double")).as("c"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          s => s.getField("c")).as("centroid"))
        .select(col("label").as("assigned"), col("centroid"),
          VectorFns.normExact(col("centroid")).as("nrm_c"))
      val e = Tables.embeddings(s, dir, spread = true).select("vec_id", "embedding")
        .withColumn("nrm_e", sqrt(VectorFns.dot(col("embedding"), col("embedding"))))
      // Nearest-centroid pick as a TRUE hash aggregate: the native
      // ArgMaxPack expression packs (cosine, assigned) into one
      // order-preserving long, so the argmax is max(long) — a mutable
      // primitive buffer that HashAggregate accepts (max(struct) fell
      // back to SortAggregate: struct buffers aren't UnsafeRow-mutable,
      // costing a per-partition sort of the full n×nlist candidate set).
      // Precision contract: packing replaces the low labelBits mantissa
      // bits of the score, so cosines within ~2^-48 relative of
      // each other collapse to a tie the pack breaks by LARGER label —
      // exactly the oracle's `cosine DESC, assigned DESC` tiebreak, so
      // the label matches the oracle unless two distinct cosines differ
      // by less than the quantization step AND the numerically-larger one
      // carries the smaller label (bounded, disclosed divergence window).
      // max(cosine) is deliberately the separate full-precision maximum:
      // it equals the oracle winner's score ALWAYS (the oracle winner is
      // by definition the max), even in that window — pairing the packed
      // label with max_by(cosine, packed) instead would surface the
      // quantized winner's score and widen, not narrow, oracle drift.
      e.crossJoin(broadcast(centroids))
        .withColumn("cosine",
          VectorFns.dot(col("embedding"), col("centroid")) / (col("nrm_e") * col("nrm_c")))
        .groupBy("vec_id")
        .agg(
          max(graft.expressions.ArgMaxPack.of(col("cosine"), col("assigned"), 4)).as("packed"),
          max(col("cosine")).as("cosine"))
        .select(col("vec_id"),
          graft.expressions.ArgMaxPack.unpackLabel(col("packed"), 4).as("assigned"),
          col("cosine"))
    },
    Some(s"""
      WITH cent AS (
        SELECT label AS assigned, i - 1 AS pos,
          CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
            / COUNT(embedding[i]) AS c
        FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS u(i)
        GROUP BY 1, 2),
      cnorm AS (
        SELECT assigned, SQRT(CAST(SUM(CAST(c * c AS DECIMAL(38,18))) AS DOUBLE)) AS nrm_c
        FROM cent GROUP BY 1),
      $normsCte,
      dots AS (
        SELECT e.vec_id, cent.assigned,
          CAST(SUM(CAST(CAST(e.embedding[cent.pos + 1] AS DOUBLE) * cent.c AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM embeddings e CROSS JOIN cent
        GROUP BY 1, 2),
      cos AS (
        SELECT dots.vec_id AS vec_id, dots.assigned AS assigned,
          dot / (norms.nrm * cnorm.nrm_c) AS cosine
        FROM dots
        JOIN norms ON norms.vec_id = dots.vec_id
        JOIN cnorm ON cnorm.assigned = dots.assigned),
      r AS (
        SELECT vec_id, assigned, cosine,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, assigned DESC) AS rn
        FROM cos)
      SELECT vec_id, assigned, cosine FROM r WHERE rn = 1
    """),
  )

  /** C22: IVF probe search — the full coarse-quantizer ANN query: rank
    * centroids per query, probe the best `nprobe` clusters, and search
    * only vectors assigned there. Candidate generation joins on the
    * centroid id, so at scale the search is cluster-local (a shuffle
    * keyed on ≤ nlist values) instead of an all-pairs scan; the final
    * top-k runs on the rank-filter→TopKPerKey rewrite. */
  private val q46 = Q(
    "q46_ivf_search",
    (s, dir) => {
      graft.plans.RankFilterToTopK_Install(s)
      val centroids = Tables.embeddings(s, dir, spread = true)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "comp")))
        .groupBy("label", "pos")
        .agg(davg(col("comp").cast("double")).as("c"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          f => f.getField("c")).as("centroid"))
        .select(col("label").as("cl"), col("centroid"),
          sqrt(VectorFns.dot(col("centroid"), col("centroid"))).as("nrm_c"))
      val e = Tables.embeddings(s, dir, spread = true).select("vec_id", "embedding")
        .withColumn("nrm_e", sqrt(VectorFns.dot(col("embedding"), col("embedding"))))
      val vc = e.crossJoin(broadcast(centroids))
        .withColumn("ccos",
          VectorFns.dot(col("embedding"), col("centroid")) / (col("nrm_e") * col("nrm_c")))
        .select("vec_id", "cl", "ccos")
      // every vector's home cluster (the q44 assignment, as a packed-long
      // hash aggregate — see q44's ArgMaxPack note)
      val asgn = vc.groupBy("vec_id")
        .agg(max(graft.expressions.ArgMaxPack.of(col("ccos"), col("cl"), 4)).as("packed"))
        .select(col("vec_id"), graft.expressions.ArgMaxPack.unpackLabel(col("packed"), 4).as("cl"))
      // per query: the nprobe=2 closest centroids
      val pw = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cl").desc)
      val probes = vc.filter(col("vec_id") < 5)
        .withColumn("pr", row_number().over(pw))
        .filter(col("pr") <= 2)
        .select(col("vec_id").as("q_id"), col("cl"))
      val targets = e.filter(col("vec_id") >= 5)
        .join(asgn, Seq("vec_id"))
        .select(col("vec_id").as("t_id"), col("embedding").as("t_vec"),
          col("nrm_e").as("t_nrm"), col("cl"))
      val qside = broadcast(e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("nrm_e").as("q_nrm")))
      val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("t_id"))
      probes.join(targets, Seq("cl"))
        .join(qside, Seq("q_id"))
        .withColumn("cosine",
          VectorFns.dot(col("q_vec"), col("t_vec")) / (col("q_nrm") * col("t_nrm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 1)
        .select("q_id", "t_id", "cosine")
    },
    Some(s"""
      WITH cent AS (
        SELECT label AS cl, i - 1 AS pos,
          CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
            / COUNT(embedding[i]) AS c
        FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS u(i)
        GROUP BY 1, 2),
      cnorm AS (
        SELECT cl, SQRT(CAST(SUM(CAST(c * c AS DECIMAL(38,18))) AS DOUBLE)) AS nrm_c
        FROM cent GROUP BY 1),
      $normsCte,
      vc AS (
        SELECT e.vec_id, cent.cl,
          CAST(SUM(CAST(CAST(e.embedding[cent.pos + 1] AS DOUBLE) * cent.c AS DECIMAL(38,18))) AS DOUBLE)
            / (norms.nrm * cnorm.nrm_c) AS ccos
        FROM embeddings e
        CROSS JOIN cent
        JOIN norms ON norms.vec_id = e.vec_id
        JOIN cnorm ON cnorm.cl = cent.cl
        GROUP BY 1, 2, norms.nrm, cnorm.nrm_c),
      asgn AS (
        SELECT vec_id, cl FROM (
          SELECT vec_id, cl, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cl DESC) AS rn
          FROM vc) WHERE rn = 1),
      probes AS (
        SELECT vec_id AS q_id, cl FROM (
          SELECT vec_id, cl, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cl DESC) AS pr
          FROM vc WHERE vec_id < 5) WHERE pr <= 2),
      cand AS (
        SELECT p.q_id, a.vec_id AS t_id
        FROM probes p JOIN asgn a ON a.cl = p.cl AND a.vec_id >= 5),
      dots AS (
        SELECT c.q_id, c.t_id,
          CAST(SUM(CAST(CAST(q.embedding[i] AS DOUBLE) * CAST(t.embedding[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM cand c
        JOIN embeddings q ON q.vec_id = c.q_id
        JOIN embeddings t ON t.vec_id = c.t_id,
        LATERAL unnest(generate_series(1, len(q.embedding))) AS u(i)
        GROUP BY 1, 2),
      cos AS (
        SELECT q_id, t_id, dot / (nq.nrm * nt.nrm) AS cosine
        FROM dots JOIN norms nq ON nq.vec_id = q_id JOIN norms nt ON nt.vec_id = t_id),
      r AS (SELECT q_id, t_id, cosine,
        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, t_id) AS rn FROM cos)
      SELECT q_id, t_id, cosine FROM r WHERE rn = 1
    """),
  )

  /** C55: SemDeDup semantic dedup (`Dedup.semanticDedup`, Abbas et al.
    * 2023) — nearest-centroid clustering blocks the candidate space, then
    * within-cluster cosine ≥ τ pairs resolve to connected components and
    * a min-id survivor per component.
    *
    * Scale-honest parameterization: the codebook size grows LINEARLY with
    * the corpus — B = ceil(n / (L·S)) id-blocks per label targets a fixed
    * cluster population S=25, so max-cluster population stays bounded and
    * candidate pairs grow ~linearly in n (measured: 6.2k pairs at n=500 →
    * 25.2k at n=2000, 4.06× at 4× data; the fixed-k=L form this replaced
    * measured 100× pairs at 10× data). Centroids are exact decimal means
    * over (label, vec_id mod B) groups so the oracle can rebuild them
    * bit-for-bit; production trains the codebook with `KMeans.fit`
    * (`Dedup.semanticDedupAuto`, exercised by q89b and the bounded-
    * population spec). Cross-engine contract: at the verified SFs the
    * smallest argmax assignment gap is 7.2e-6 and the smallest |cos−τ|
    * margin is 4.0e-4 while the engines agree to ~1e-10, so neither the
    * assignment nor the τ=0.4 filter can diverge (same argument as q38's
    * rank gaps). */
  private val q89 = Q(
    "q89_semantic_dedup",
    (s, dir) => {
      val e = Tables.embeddings(s, dir, spread = true)
      val (centroids, _) = graft.operators.Dedup.blockCentroids(
        e, "embedding", "vec_id", "label", targetClusterSize = 25)
      val pairs = graft.operators.Dedup.semanticPairs(
        e, "embedding", "vec_id", centroids, threshold = 0.4)
      graft.operators.Dedup.survivors(e, pairs.select("a_id", "b_id"), "vec_id")
        .withColumnRenamed("doc_id", "vec_id")
    },
    Some(s"""
      WITH RECURSIVE prm AS (
        SELECT GREATEST(1, CAST(CEIL(COUNT(*) / (COUNT(DISTINCT label) * 25.0)) AS BIGINT)) AS b
        FROM embeddings),
      cent AS (
        SELECT CAST(label AS BIGINT) * prm.b + (vec_id % prm.b) AS assigned, i - 1 AS pos,
          CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
            / COUNT(embedding[i]) AS c
        FROM embeddings, prm, LATERAL unnest(generate_series(1, len(embedding))) AS u(i)
        GROUP BY 1, 2),
      cnorm AS (
        SELECT assigned, SQRT(CAST(SUM(CAST(c * c AS DECIMAL(38,18))) AS DOUBLE)) AS nrm_c
        FROM cent GROUP BY 1),
      $normsCte,
      dots AS (
        SELECT e.vec_id, cent.assigned,
          CAST(SUM(CAST(CAST(e.embedding[cent.pos + 1] AS DOUBLE) * cent.c AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM embeddings e CROSS JOIN cent
        GROUP BY 1, 2),
      ccos AS (
        SELECT dots.vec_id, dots.assigned, dot / (norms.nrm * cnorm.nrm_c) AS cosine
        FROM dots
        JOIN norms ON norms.vec_id = dots.vec_id
        JOIN cnorm ON cnorm.assigned = dots.assigned),
      rnk AS (
        SELECT vec_id, assigned,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, assigned DESC) AS rn
        FROM ccos),
      asgn AS (SELECT vec_id, assigned AS cl FROM rnk WHERE rn = 1),
      cand AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM asgn a JOIN asgn b ON a.cl = b.cl AND a.vec_id < b.vec_id),
      pairs AS (
        SELECT c.a_id, c.b_id
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.a_id
        JOIN embeddings eb ON eb.vec_id = c.b_id
        JOIN norms na ON na.vec_id = c.a_id
        JOIN norms nb ON nb.vec_id = c.b_id,
        LATERAL unnest(generate_series(1, len(ea.embedding))) AS u(i)
        GROUP BY 1, 2, na.nrm, nb.nrm
        HAVING CAST(SUM(CAST(CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)
          / (na.nrm * nb.nrm) >= 0.4),
      edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION
        SELECT b_id AS src, a_id AS dst FROM pairs),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      reach(node, r2) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, r.r2 FROM reach r JOIN edges e ON e.src = r.node),
      cl AS (SELECT node, MIN(r2) AS cluster_id FROM reach GROUP BY 1)
      SELECT emb.vec_id,
        COALESCE(cl.cluster_id, emb.vec_id) AS cluster_id,
        CAST(emb.vec_id = COALESCE(cl.cluster_id, emb.vec_id) AS BIGINT) AS keep
      FROM embeddings emb LEFT JOIN cl ON cl.node = emb.vec_id
    """),
  )

  /** One unrolled Lloyd round for the q89b oracle: L2 argmin assignment
    * against `cent$p` (squared distances as exact decimal sums of
    * per-component double products — order-independent, so the margin
    * argument carries across engines; ties to the SMALLER cluster,
    * matching NearestCentroid.l2), then the decimal-exact per-component
    * mean update mirroring Quantize.lloydUpdate verbatim, with empty
    * clusters keeping their previous centroid (the LEFT JOIN COALESCE,
    * matching KMeans.fit's driver-side fallback). */
  private def lloydRoundCte(r: Int): String = {
    val p = r - 1
    s"""d$r AS (
        SELECT e.vec_id, c.cl,
          SUM(CAST((CAST(e.embedding[c.pos + 1] AS DOUBLE) - c.c)
                 * (CAST(e.embedding[c.pos + 1] AS DOUBLE) - c.c) AS DECIMAL(38,18))) AS d2
        FROM embeddings e CROSS JOIN cent$p c
        GROUP BY 1, 2),
      asn$r AS (
        SELECT vec_id, cl FROM (
          SELECT vec_id, cl,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) AS rn
          FROM d$r) WHERE rn = 1),
      mean$r AS (
        SELECT a.cl, u.i - 1 AS pos,
          CAST(SUM(CAST(CAST(e.embedding[u.i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)
            / COUNT(*) AS c
        FROM asn$r a JOIN embeddings e USING (vec_id),
          LATERAL unnest(generate_series(1, len(e.embedding))) AS u(i)
        GROUP BY 1, 2),
      cent$r AS (
        SELECT c.cl, c.pos, COALESCE(m.c, c.c) AS c
        FROM cent$p c LEFT JOIN mean$r m ON m.cl = c.cl AND m.pos = c.pos)"""
  }

  /** C55b: the fully-TRAINED SemDeDup path with a HARD oracle signal —
    * `Dedup.semanticDedupFixed` seeds the codebook from the k smallest
    * vec_ids and runs a FIXED two-round Lloyd (tol=0, no early stop), so
    * the oracle replays the training round by round the way q26 unrolled
    * Newton: two (L2-argmin assignment → decimal-exact mean) CTE blocks,
    * then exactly q89's cosine blocking + τ=0.4 verify + recursive-CTE
    * component tail. Same data-scaled contract as q89 (k = ceil(n/S),
    * S=50, so the codebook grows linearly with the corpus and cluster
    * populations stay bounded); the production k-means‖ seeding
    * (`semanticDedupAuto`) stays pinned by KMeansSpec +
    * SemanticScaleSpec. Cross-engine contract: assignments/verify ride
    * the same decimal-sum + gap-margin argument as q89 (engines agree to
    * ~1e-10; assignment and threshold margins are orders of magnitude
    * wider — verified at both gate SFs). */
  private val q89b = Q(
    "q89b_semantic_dedup_auto",
    (s, dir) => {
      val e = Tables.embeddings(s, dir, spread = true)
      val n = e.count()
      // k = ceil(n/S): linear-in-n codebook (the scale contract), S=50.
      // Two Lloyd rounds: a blocking codebook doesn't need convergence —
      // cluster QUALITY only moves recall at the margin, while every
      // extra round is a full assignment pass over the corpus (and one
      // more unrolled CTE block in the oracle).
      val k = math.max(2, math.ceil(n / 50.0).toInt)
      graft.operators.Dedup.semanticDedupFixed(e, "embedding", "vec_id", k,
          threshold = 0.4, iters = 2)
        .select("vec_id", "label")
    },
    Some(s"""
      WITH RECURSIVE prm AS (
        SELECT GREATEST(2, CAST(CEIL(COUNT(*) / 50.0) AS BIGINT)) AS k
        FROM embeddings),
      sd AS (
        -- seeds = k smallest ids WITH a vector (KMeans.FirstIds skips
        -- null embeddings; a null seed centroid is undefined)
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cl
        FROM embeddings
        WHERE embedding IS NOT NULL
        QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= (SELECT k FROM prm)),
      cent0 AS (
        SELECT sd.cl, u.i - 1 AS pos, CAST(e.embedding[u.i] AS DOUBLE) AS c
        FROM sd JOIN embeddings e USING (vec_id),
          LATERAL unnest(generate_series(1, len(e.embedding))) AS u(i)),
      ${lloydRoundCte(1)},
      ${lloydRoundCte(2)},
      cnorm AS (
        SELECT cl, SQRT(CAST(SUM(CAST(c * c AS DECIMAL(38,18))) AS DOUBLE)) AS nrm_c
        FROM cent2 GROUP BY 1),
      $normsCte,
      dots AS (
        SELECT e.vec_id, c.cl,
          CAST(SUM(CAST(CAST(e.embedding[c.pos + 1] AS DOUBLE) * c.c AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM embeddings e CROSS JOIN cent2 c
        GROUP BY 1, 2),
      ccos AS (
        SELECT dots.vec_id, dots.cl, dot / (norms.nrm * cnorm.nrm_c) AS cosine
        FROM dots
        JOIN norms ON norms.vec_id = dots.vec_id
        JOIN cnorm ON cnorm.cl = dots.cl),
      rnk AS (
        SELECT vec_id, cl,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cl DESC) AS rn
        FROM ccos),
      asgn AS (SELECT vec_id, cl FROM rnk WHERE rn = 1),
      cand AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM asgn a JOIN asgn b ON a.cl = b.cl AND a.vec_id < b.vec_id),
      pairs AS (
        SELECT c.a_id, c.b_id
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.a_id
        JOIN embeddings eb ON eb.vec_id = c.b_id
        JOIN norms na ON na.vec_id = c.a_id
        JOIN norms nb ON nb.vec_id = c.b_id,
        LATERAL unnest(generate_series(1, len(ea.embedding))) AS u(i)
        GROUP BY 1, 2, na.nrm, nb.nrm
        HAVING CAST(SUM(CAST(CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)
          / (na.nrm * nb.nrm) >= 0.4),
      edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION
        SELECT b_id AS src, a_id AS dst FROM pairs),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      reach(node, r2) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, r.r2 FROM reach r JOIN edges e ON e.src = r.node),
      cl AS (SELECT node, MIN(r2) AS cluster_id FROM reach GROUP BY 1)
      SELECT e.vec_id, e.label
      FROM embeddings e LEFT JOIN cl ON cl.node = e.vec_id
      WHERE e.vec_id = COALESCE(cl.cluster_id, e.vec_id)
    """),
  )

  /** C39→oracle: SQ8 scalar quantization round trip
    * (`Quantize.sq8Encode`/`sq8Decode`, the FAISS-style per-vector
    * affine int8 form): encode every embedding, reconstruct, and report
    * per-vector code mass + max reconstruction error. Codes and
    * reconstructions are per-component IEEE arithmetic on identical
    * doubles (Spark round() and DuckDB ROUND() agree away from exact
    * .5 ties — quotients of arbitrary doubles land there with
    * probability ~0, and the gate data has none); the array columns
    * collapse to exact-integer and MAX aggregates so the driver compare
    * sees scalars. */
  private val q109 = Q(
    "q109_sq8_roundtrip",
    (s, dir) => {
      val enc = graft.operators.Quantize.sq8Encode(
        Tables.embeddings(s, dir, spread = true), "embedding")
      enc.select(col("vec_id"), col("sq8_offset"), col("sq8_scale"),
          explode(zip_with(col("sq8_codes"), col("embedding").cast("array<double>"),
            (c, x) => struct(c.as("c"), x.as("x")))).as("z"))
        .select(col("vec_id"), col("sq8_offset"), col("sq8_scale"),
          (col("z.c").cast("long") + 128L).as("lvl"),
          abs(col("sq8_offset") + (col("z.c").cast("double") + lit(128.0)) * col("sq8_scale")
            - col("z.x")).as("err"))
        .groupBy("vec_id", "sq8_offset", "sq8_scale")
        .agg(sum(col("lvl")).as("sum_levels"), max(col("err")).as("max_abs_err"))
    },
    Some("""
      WITH v AS (
        -- min/max commute with the exact float->double cast, so casting
        -- the list extrema equals Spark's extrema of the casted list
        SELECT vec_id,
          CAST(list_min(embedding) AS DOUBLE) AS sq8_offset,
          (CAST(list_max(embedding) AS DOUBLE)
            - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS sq8_scale,
          embedding
        FROM embeddings),
      comp AS (
        SELECT vec_id, sq8_offset, sq8_scale,
          CASE WHEN sq8_scale = 0.0 THEN 0
            ELSE CAST(ROUND((CAST(embedding[i] AS DOUBLE) - sq8_offset) / sq8_scale) AS INT)
          END AS lvl,
          CAST(embedding[i] AS DOUBLE) AS x
        FROM v, LATERAL unnest(generate_series(1, len(embedding))) AS u(i)),
      r AS (
        SELECT vec_id, sq8_offset, sq8_scale, lvl,
          ABS(sq8_offset + (CAST(lvl - 128 AS DOUBLE) + 128.0) * sq8_scale - x) AS err
        FROM comp)
      SELECT vec_id, sq8_offset, sq8_scale,
        CAST(SUM(lvl) AS BIGINT) AS sum_levels,
        MAX(err) AS max_abs_err
      FROM r GROUP BY 1, 2, 3
    """),
  )

  /** C12→oracle: embedding-cosine near-dup dedup
    * (`Dedup.dedupCorpusByEmbedding`, single-table sign-LSH) — the
    * oblivious-hyperplane counterpart to q89's data-adaptive centroid
    * blocking, proven end to end: sign buckets from the first 8
    * component signs (engine-portable by construction), bucket-local
    * cosine ≥ τ pairs, connected components, min-id survivor, losers
    * dropped. The oracle replays bucket/candidate/verify and the
    * recursive-CTE component tail; cosine via the decimal-summed dot
    * (order-free) against Spark's native double DotProduct — same
    * few-ulp tolerance story as q38/q89. The multi-table seeded-
    * hyperplane mode stays spec-verified (its Gaussian planes are
    * JVM-RNG artifacts no SQL engine reproduces). */
  private val q116 = Q(
    "q116_dedup_embeddings",
    (s, dir) => {
      val e = Tables.embeddings(s, dir, spread = true)
      graft.operators.Dedup.dedupCorpusByEmbedding(e, "embedding", "vec_id",
          threshold = 0.4, bits = 8, tables = 1)
        .select("vec_id", "label")
    },
    Some {
      val bucket = (0 until 8)
        .map(i => s"CASE WHEN embedding[${i + 1}] > 0 THEN ${1L << (7 - i)} ELSE 0 END")
        .mkString(" + ")
      s"""
      WITH RECURSIVE b AS (
        SELECT vec_id, ($bucket) AS bucket FROM embeddings),
      norms AS (
        SELECT vec_id, SQRT(${dotSql.format("embedding", "embedding")}) AS nrm
        FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS u(i)
        GROUP BY 1),
      cand AS (
        SELECT x.vec_id AS a_id, y.vec_id AS b_id
        FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
      dots AS (
        SELECT c.a_id, c.b_id,
          CAST(SUM(CAST(CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)
            AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.a_id
        JOIN embeddings eb ON eb.vec_id = c.b_id,
        LATERAL unnest(generate_series(1, len(ea.embedding))) AS u(i)
        GROUP BY 1, 2),
      pairs AS (
        SELECT d.a_id, d.b_id FROM dots d
        JOIN norms na ON na.vec_id = d.a_id
        JOIN norms nb ON nb.vec_id = d.b_id
        WHERE d.dot / (na.nrm * nb.nrm) >= 0.4),
      edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION
        SELECT b_id AS src, a_id AS dst FROM pairs),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      reach(node, r2) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, r.r2 FROM reach r JOIN edges e ON e.src = r.node),
      cl AS (SELECT node, MIN(r2) AS cluster_id FROM reach GROUP BY 1)
      SELECT e.vec_id, e.label FROM embeddings e
      WHERE e.vec_id NOT IN (SELECT node FROM cl WHERE node <> cluster_id)
      """
    },
  )

  /** One unrolled per-subspace PQ Lloyd round (q119/q123 oracles):
    * decimal-exact squared distance per (vector, subspace, code), argmin
    * with ties to the SMALLER code (matching Quantize.assignCodes's
    * bit-flipped ArgMaxPack), then the decimal-exact per-component mean
    * mirroring Quantize.lloydUpdate, empty codes keeping their previous
    * centroid (the LEFT JOIN COALESCE = trainCodebook's coalesce).
    * `pfx`/`subs` parameterize the CTE namespace and the point relation
    * so one helper trains raw-vector subspaces (q119), the coarse
    * quantizer (q123, one subspace spanning the vector), and residual
    * subspaces (q123) in the same query. */
  private def pqLloydRoundCte(r: Int, pfx: String = "p", subs: String = "psubs"): String = {
    val p = r - 1
    s"""${pfx}d$r AS (
        SELECT s.vec_id, s.subspace, c.code,
          SUM(CAST((s.x - c.c) * (s.x - c.c) AS DECIMAL(38,18))) AS d2
        FROM $subs s JOIN ${pfx}cent$p c ON c.subspace = s.subspace AND c.pos = s.pos
        GROUP BY 1, 2, 3),
      ${pfx}a$r AS (
        SELECT vec_id, subspace, code FROM (
          SELECT vec_id, subspace, code,
            ROW_NUMBER() OVER (PARTITION BY vec_id, subspace ORDER BY d2 ASC, code ASC) AS rn
          FROM ${pfx}d$r) WHERE rn = 1),
      ${pfx}m$r AS (
        SELECT a.subspace, a.code, s.pos,
          CAST(SUM(CAST(s.x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS c
        FROM ${pfx}a$r a JOIN $subs s ON s.vec_id = a.vec_id AND s.subspace = a.subspace
        GROUP BY 1, 2, 3),
      ${pfx}cent$r AS (
        SELECT c.subspace, c.code, c.pos, COALESCE(m.c, c.c) AS c
        FROM ${pfx}cent$p c LEFT JOIN ${pfx}m$r m
          ON m.subspace = c.subspace AND m.code = c.code AND m.pos = c.pos)"""
  }

  /** Seed + fixed-round training CTE block for [[pqLloydRoundCte]]:
    * seeds = the `k` smallest vec_ids' subvectors (trainCodebook's
    * deterministic init), then `rounds` unrolled Lloyd rounds. */
  private def pqTrainCtes(pfx: String, subs: String, kSeeds: String, rounds: Int): String = {
    val seedAndInit = s"""${pfx}sd AS (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
        FROM (SELECT DISTINCT vec_id FROM $subs)
        QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= ($kSeeds)),
      ${pfx}cent0 AS (
        SELECT s.subspace, d.code, s.pos, s.x AS c
        FROM ${pfx}sd d JOIN $subs s USING (vec_id))"""
    (seedAndInit +: (1 to rounds).map(r => pqLloydRoundCte(r, pfx, subs)))
      .mkString(",\n      ")
  }

  /** C23/C27→oracle: the full PQ chain — per-subspace codebook training
    * (`Quantize.trainCodebook`: FirstIds-seeded, fixed 2-round tol-0
    * Lloyd, the q89b recipe applied per subspace), byte-code `encode` of
    * EVERY vector (pinned exactly by `code_key` = Σ code·2^(4·subspace);
    * m=8, k=16 ⇒ 32 bits), and `adcTopK` asymmetric-distance search from
    * the smallest-id query (top-100 rank + distance). Cross-engine
    * contract: training distances are decimal-exact in the oracle vs
    * native-double sqDist in Spark (diff ≤ ulps, assignment margins on
    * this data orders wider — the q89b argument); ADC sums ride the
    * decimal accumulator on BOTH sides, so duplicate codes get bitwise-
    * equal distances and the t_id tie-break is engine-free. */
  private val q119 = Q(
    "q119_pq_adc",
    (s, dir) => {
      val base = Tables.embeddings(s, dir, spread = true)
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      val m = 8
      val dim = 64
      val cb = graft.operators.Quantize
        .trainCodebook(base, "vec_id", "embedding", m, dim, k = 16, iters = 2)
      // k·m = 128 rows in a LocalRelation — reused by encode + both ADC
      // sides with no lineage to pin (former barrier removed).
      // `enc` itself feeds BOTH adcTopK and the code_key aggregate — the
      // lazy barrier keeps the per-row encode projection to one corpus
      // pass (Spark does not CSE the duplicated subtree)
      val enc = graft.Barrier(
        graft.operators.Quantize.encode(base, "vec_id", "embedding", cb, m, dim))
      val q0 = base
        .join(broadcast(base.agg(min(col("vec_id")).as("vec_id"))), Seq("vec_id"))
        .select("vec_id", "embedding")
      val top = graft.operators.Quantize
        .adcTopK(q0, enc, cb, "vec_id", "embedding", m, dim, k = 100)
      val key = enc
        .select(col("id"), posexplode(col("codes")).as(Seq("subspace", "code")))
        .groupBy("id")
        .agg(sum(expr("shiftleft(cast(code as bigint), 4 * subspace)")).as("code_key"))
      key
        .join(top.select(col("t_id").as("id"), col("adc_d2"), col("rank").as("rnk")),
          Seq("id"), "left")
        .select(col("id").as("vec_id"), col("code_key"), col("adc_d2"), col("rnk"))
    },
    Some(s"""
      WITH pbase AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
      psubs AS (
        SELECT vec_id, u.s AS subspace, v.p AS pos,
          CAST(embedding[u.s * 8 + v.p + 1] AS DOUBLE) AS x
        FROM pbase,
          LATERAL unnest(generate_series(0, 7)) AS u(s),
          LATERAL unnest(generate_series(0, 7)) AS v(p)),
      psd AS (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
        FROM pbase
        QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 16),
      pcent0 AS (
        SELECT s.subspace, psd.code, s.pos, s.x AS c
        FROM psd JOIN psubs s USING (vec_id)),
      ${pqLloydRoundCte(1)},
      ${pqLloydRoundCte(2)},
      penc0 AS (
        SELECT s.vec_id, s.subspace, c.code,
          SUM(CAST((s.x - c.c) * (s.x - c.c) AS DECIMAL(38,18))) AS d2
        FROM psubs s JOIN pcent2 c ON c.subspace = s.subspace AND c.pos = s.pos
        GROUP BY 1, 2, 3),
      penc AS (
        SELECT vec_id, subspace, code FROM (
          SELECT vec_id, subspace, code,
            ROW_NUMBER() OVER (PARTITION BY vec_id, subspace ORDER BY d2 ASC, code ASC) AS rn
          FROM penc0) WHERE rn = 1),
      pkey AS (
        SELECT vec_id, CAST(SUM(CAST(code AS BIGINT) << (4 * subspace)) AS BIGINT) AS code_key
        FROM penc GROUP BY 1),
      pq0 AS (SELECT vec_id FROM pbase WHERE vec_id = (SELECT MIN(vec_id) FROM pbase)),
      pqd AS (
        SELECT c.subspace, c.code,
          SUM(CAST((s.x - c.c) * (s.x - c.c) AS DECIMAL(38,18))) AS d2
        FROM psubs s JOIN pq0 ON s.vec_id = pq0.vec_id
        JOIN pcent2 c ON c.subspace = s.subspace AND c.pos = s.pos
        GROUP BY 1, 2),
      padc AS (
        SELECT a.vec_id AS t_id, CAST(SUM(q.d2) AS DOUBLE) AS adc_d2
        FROM penc a JOIN pqd q ON q.subspace = a.subspace AND q.code = a.code
        GROUP BY 1),
      ptop AS (
        SELECT t_id, adc_d2, rnk FROM (
          SELECT t_id, adc_d2,
            ROW_NUMBER() OVER (ORDER BY adc_d2 ASC, t_id ASC) AS rnk
          FROM padc) WHERE rnk <= 100)
      SELECT k.vec_id, k.code_key, t.adc_d2, CAST(t.rnk AS INT) AS rnk
      FROM pkey k LEFT JOIN ptop t ON t.t_id = k.vec_id
    """),
  )

  /** One unrolled coarse-Lloyd round for the q120 oracle, over POINTS =
    * the fine centroids (`cent`: assigned, pos, c): decimal-exact L2
    * argmin with ties to the SMALLER coarse code (KMeans.localAssign /
    * NearestCentroid.l2), decimal-exact mean update, empty coarse codes
    * keeping their previous centroid (KMeans.fit's driver fallback). */
  private def coarseLloydRoundCte(r: Int): String = {
    val p = r - 1
    s"""gd$r AS (
        SELECT p.assigned, g.code,
          SUM(CAST((p.c - g.c) * (p.c - g.c) AS DECIMAL(38,18))) AS d2
        FROM cent p JOIN gcent$p g ON g.pos = p.pos
        GROUP BY 1, 2),
      ga$r AS (
        SELECT assigned, code FROM (
          SELECT assigned, code,
            ROW_NUMBER() OVER (PARTITION BY assigned ORDER BY d2 ASC, code ASC) AS rn
          FROM gd$r) WHERE rn = 1),
      gm$r AS (
        SELECT a.code, p.pos,
          CAST(SUM(CAST(p.c AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS c
        FROM ga$r a JOIN cent p ON p.assigned = a.assigned
        GROUP BY 1, 2),
      gcent$r AS (
        SELECT g.code, g.pos, COALESCE(m.c, g.c) AS c
        FROM gcent$p g LEFT JOIN gm$r m ON m.code = g.code AND m.pos = g.pos)"""
  }

  /** C64→oracle: the two-level (coarse → fine) centroid assignment —
    * the thing that makes k ∝ n semantic dedup viable at 100 TB — hash-
    * proven against BOTH the SQL mirror and the flat assignment in one
    * query. Fine codebook = q89's data-scaled blockCentroids (exact
    * decimal means — bit-rebuildable); coarse fit = FirstIds-seeded
    * fixed-2-round tol-0 L2 Lloyd over the √k fine centroids (the q89b
    * recipe, here over the CODEBOOK not the corpus); then the oracle
    * replays fine→cell routing (cosine argmax, ties to larger coarse
    * code), row→cell routing over NON-EMPTY cells only, and the
    * cell-local fine argmax (cosine, ties to larger fine id). `agree`
    * pins the flat-vs-two-level comparison row by row, honestly: on
    * this UNstructured random data ~40% of rows keep their exact flat
    * cluster (sf0.1: 800/2000 fixed-seed, 759/2000 with the production
    * k-means|| coarse fit — routing loss is intrinsic here, not a
    * seeding artifact), while near-duplicate PAIRS still co-route
    * because their vectors are nearly identical — pair recall, the
    * thing SemDeDup blocking actually needs, is what
    * SemanticScaleSpec's subset pin covers. Margins: same 7.2e-6
    * assignment-gap vs ~1e-10 engine-agreement argument as q89. */
  private val q120 = Q(
    "q120_two_level_assign",
    (s, dir) => {
      val e = Tables.embeddings(s, dir, spread = true)
      val (centroids, labelBits) = graft.operators.Dedup.blockCentroids(
        e, "embedding", "vec_id", "label", targetClusterSize = 25)
      // the two-level path evaluates the codebook several times (count,
      // coarse fit, cell keying, non-empty collect) — pin it once
      val cents = graft.Barrier(centroids)
      val flat = graft.operators.Dedup
        .assignNearest(e, "embedding", "vec_id", cents)
        .select(col("id").as("vec_id"), col("cluster").as("flat_cl"))
      val two = graft.operators.Dedup
        .assignNearestTwoLevel(e, "embedding", "vec_id", cents,
          clusterBits = labelBits,
          coarseInit = graft.operators.KMeans.FirstIds,
          coarseIters = 2, coarseTol = 0.0)
        .select(col("id").as("vec_id"), col("cluster").as("two_cl"))
      flat.join(two, Seq("vec_id"), "left")
        .select(col("vec_id"), col("flat_cl"), col("two_cl"),
          (col("flat_cl") <=> col("two_cl")).as("agree"))
    },
    Some(s"""
      WITH prm AS (
        SELECT GREATEST(1, CAST(CEIL(COUNT(*) / (COUNT(DISTINCT label) * 25.0)) AS BIGINT)) AS b
        FROM embeddings),
      cent AS (
        SELECT CAST(label AS BIGINT) * prm.b + (vec_id % prm.b) AS assigned, i - 1 AS pos,
          CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
            / COUNT(embedding[i]) AS c
        FROM embeddings, prm, LATERAL unnest(generate_series(1, len(embedding))) AS u(i)
        GROUP BY 1, 2),
      cnorm AS (
        SELECT assigned, SQRT(CAST(SUM(CAST(c * c AS DECIMAL(38,18))) AS DOUBLE)) AS nrm_c
        FROM cent GROUP BY 1),
      $normsCte,
      fdots AS (
        SELECT e.vec_id, cent.assigned,
          CAST(SUM(CAST(CAST(e.embedding[cent.pos + 1] AS DOUBLE) * cent.c AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM embeddings e CROSS JOIN cent
        GROUP BY 1, 2),
      fcos AS (
        SELECT fdots.vec_id, fdots.assigned, dot / (norms.nrm * cnorm.nrm_c) AS cosine
        FROM fdots
        JOIN norms ON norms.vec_id = fdots.vec_id
        JOIN cnorm ON cnorm.assigned = fdots.assigned),
      flat AS (
        SELECT vec_id, assigned AS flat_cl FROM (
          SELECT vec_id, assigned,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, assigned DESC) AS rn
          FROM fcos) WHERE rn = 1),
      kc AS (
        SELECT CAST(CEIL(SQRT(COUNT(DISTINCT assigned))) AS BIGINT) AS kc FROM cent),
      seeds AS (
        SELECT assigned, ROW_NUMBER() OVER (ORDER BY assigned) - 1 AS code
        FROM (SELECT DISTINCT assigned FROM cent)
        QUALIFY ROW_NUMBER() OVER (ORDER BY assigned) <= (SELECT kc FROM kc)),
      gcent0 AS (
        SELECT s.code, c.pos, c.c FROM seeds s JOIN cent c ON c.assigned = s.assigned),
      ${coarseLloydRoundCte(1)},
      ${coarseLloydRoundCte(2)},
      gnorm AS (
        SELECT code, SQRT(CAST(SUM(CAST(c * c AS DECIMAL(38,18))) AS DOUBLE)) AS nrm_g
        FROM gcent2 GROUP BY 1),
      celldots AS (
        SELECT p.assigned, g.code,
          CAST(SUM(CAST(p.c * g.c AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM cent p JOIN gcent2 g ON g.pos = p.pos
        GROUP BY 1, 2),
      fcell AS (
        SELECT assigned, code AS cell FROM (
          SELECT cd.assigned, cd.code,
            ROW_NUMBER() OVER (PARTITION BY cd.assigned
              ORDER BY cd.dot / (cnorm.nrm_c * gnorm.nrm_g) DESC, cd.code DESC) AS rn
          FROM celldots cd
          JOIN cnorm ON cnorm.assigned = cd.assigned
          JOIN gnorm ON gnorm.code = cd.code) WHERE rn = 1),
      nonempty AS (SELECT DISTINCT cell FROM fcell),
      rdots AS (
        SELECT e.vec_id, g.code,
          CAST(SUM(CAST(CAST(e.embedding[g.pos + 1] AS DOUBLE) * g.c AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM embeddings e CROSS JOIN gcent2 g
        WHERE g.code IN (SELECT cell FROM nonempty)
        GROUP BY 1, 2),
      rcell AS (
        SELECT vec_id, code AS cell FROM (
          SELECT rd.vec_id, rd.code,
            ROW_NUMBER() OVER (PARTITION BY rd.vec_id
              ORDER BY rd.dot / (norms.nrm * gnorm.nrm_g) DESC, rd.code DESC) AS rn
          FROM rdots rd
          JOIN norms ON norms.vec_id = rd.vec_id
          JOIN gnorm ON gnorm.code = rd.code) WHERE rn = 1),
      two AS (
        SELECT vec_id, assigned AS two_cl FROM (
          SELECT f.vec_id, f.assigned,
            ROW_NUMBER() OVER (PARTITION BY f.vec_id ORDER BY f.cosine DESC, f.assigned DESC) AS rn
          FROM fcos f
          JOIN rcell r ON r.vec_id = f.vec_id
          JOIN fcell fc ON fc.assigned = f.assigned AND fc.cell = r.cell
        ) WHERE rn = 1)
      SELECT f.vec_id, CAST(f.flat_cl AS INT) AS flat_cl, CAST(t.two_cl AS INT) AS two_cl,
        (CAST(f.flat_cl AS INT) IS NOT DISTINCT FROM CAST(t.two_cl AS INT)) AS agree
      FROM flat f LEFT JOIN two t ON t.vec_id = f.vec_id
    """),
  )

  /** C12→oracle (round 8): MULTI-TABLE embedding near-dup dedup
    * (`Dedup.dedupCorpusByEmbedding`, tables = 2) — previously spec-only
    * because the second table's hyperplanes were JVM-RNG artifacts; the
    * planes are now md5 Box–Muller draws (VectorFns.hashGaussian — a
    * pure function of `graft-plane:<seed>:<i>:<j>` through a universal
    * hash), so the oracle REGENERATES them: DuckDB slices the same md5
    * into two 53-bit uniforms and applies the same √(−2 ln u1)·cos(2π u2).
    * Table 0 = first-8-component sign bucket, table 1 = 8 hyperplane
    * sign bits (+2³² table offset), candidates deduped across tables,
    * bucket-local cosine ≥ τ verify, components, min-id survivors.
    * bits = 8 (256 buckets/table, q116's sizing): a first cut at
    * bits = 4 measured 31× on 10× data — 16 buckets make bucket
    * populations grow linearly and the bucket-local join quadratic;
    * at 8 bits the remeasured pair is back under the data factor
    * (production sizes bits from n via KnnJoin.bitsFor).
    * Cross-engine contract: plane components agree to ~1ulp of libm
    * (ln/cos), dots are decimal-summed, and a sign flip would need
    * |dot| ≲ 1e-14 — orders below any observed margin (same argument
    * family as q89b). */
  private val q122 = Q(
    "q122_dedup_multitable",
    (s, dir) => {
      val e = Tables.embeddings(s, dir, spread = true)
      graft.operators.Dedup.dedupCorpusByEmbedding(e, "embedding", "vec_id",
          threshold = 0.4, bits = 8, tables = 2)
        .select("vec_id", "label")
    },
    Some(s"""
      WITH RECURSIVE $twoTableBucketCtes,
      cand AS (
        SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
        FROM buckets x JOIN buckets y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
      $cosineComponentTailCtes
      SELECT e.vec_id, e.label FROM embeddings e
      WHERE e.vec_id NOT IN (SELECT node FROM cl WHERE node <> cluster_id)
    """),
  )

  /** Shared q122/q124 bucket block: the 8 md5 Box–Muller hyperplanes
    * regenerated in SQL, table-1 sign bits over their decimal dots,
    * table-0 first-8-component sign bucket, both unioned with the 2³²
    * table offset separating key spaces. */
  private lazy val twoTableBucketCtes: String = {
    val sign8 = (0 until 8)
      .map(i => s"CASE WHEN embedding[${i + 1}] > 0 THEN ${1L << (7 - i)} ELSE 0 END")
      .mkString(" + ")
    s"""planes AS (
        SELECT a.i, b.j,
          sqrt(-2.0 * ln(((CAST(concat('0x', substr(md5(concat('graft-plane:1:', a.i, ':', b.j)), 1, 16)) AS UBIGINT) >> 11) + 1.0) / 9007199254740992.0))
            * cos(2 * pi() * ((CAST(concat('0x', substr(md5(concat('graft-plane:1:', a.i, ':', b.j)), 17, 16)) AS UBIGINT) >> 11) / 9007199254740992.0)) AS h
        FROM generate_series(0, 7) AS a(i), generate_series(0, 63) AS b(j)),
      pdots AS (
        SELECT e.vec_id, p.i,
          CAST(SUM(CAST(CAST(e.embedding[p.j + 1] AS DOUBLE) * p.h AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM embeddings e CROSS JOIN planes p
        GROUP BY 1, 2),
      b1 AS (
        SELECT vec_id,
          CAST(SUM(CASE WHEN dot > 0.0 THEN 1 << (7 - i) ELSE 0 END) + 4294967296 AS BIGINT) AS bucket
        FROM pdots GROUP BY 1),
      b0 AS (SELECT vec_id, CAST($sign8 AS BIGINT) AS bucket FROM embeddings),
      buckets AS (SELECT * FROM b0 UNION ALL SELECT * FROM b1)"""
  }

  /** Shared q122/q124 verify + component tail over a `cand(a_id, b_id)`
    * CTE: decimal-dot cosine ≥ 0.4 verify, undirected edges, recursive
    * reachability, min-id cluster labels (`cl(node, cluster_id)`). */
  private lazy val cosineComponentTailCtes: String = s"""$normsCte,
      dots AS (
        SELECT c.a_id, c.b_id,
          CAST(SUM(CAST(CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)
            AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.a_id
        JOIN embeddings eb ON eb.vec_id = c.b_id,
        LATERAL unnest(generate_series(1, len(ea.embedding))) AS u(i)
        GROUP BY 1, 2),
      pairs AS (
        SELECT d.a_id, d.b_id FROM dots d
        JOIN norms na ON na.vec_id = d.a_id
        JOIN norms nb ON nb.vec_id = d.b_id
        WHERE d.dot / (na.nrm * nb.nrm) >= 0.4),
      edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION
        SELECT b_id AS src, a_id AS dst FROM pairs),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      reach(node, r2) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, r.r2 FROM reach r JOIN edges e ON e.src = r.node),
      cl AS (SELECT node, MIN(r2) AS cluster_id FROM reach GROUP BY 1)"""

  /** C27→oracle (round 8): IVF+PQ residual quantization END TO END
    * (`IvfPq.train`/`encode`/`search`, the FAISS IndexIVFPQ layout) —
    * closing the last mirrorable spec-only composition. The oracle
    * replays BOTH trainings with [[pqTrainCtes]] (coarse = one subspace
    * spanning the vector, nlist=8; PQ = m=4 subspaces of 16 over the
    * RESIDUAL vec − coarse centroid, k=16; each FirstIds-seeded fixed
    * 2-round tol-0 Lloyd), the coarse assignment (L2 argmin, ties to
    * smaller cluster), residual computation, byte-code encode (pinned
    * per vector by `code_key` = Σ code·2^(4·subspace)), and the probe
    * search from the smallest-id query: nprobe=2 clusters ranked by
    * coarse distance, per-cluster residual-query ADC tables, candidates
    * cluster-local, distances decimal-accumulated, top-200 ranks.
    * Vectors OUTSIDE the probed clusters have null adc_d2/rnk — the
    * probe-selection decision itself is part of the hash. Same q89b
    * margin family for the argmins; ADC sums exact on both sides. */
  private val q123 = Q(
    "q123_ivfpq_search",
    (s, dir) => {
      val base = Tables.embeddings(s, dir, spread = true)
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      // trainCodebook's driver loop returns LocalRelation codebooks —
      // already materialized, nothing to pin (the former barrier
      // copies cost two barrier jobs for frames with no lineage to cut)
      val model = graft.operators.IvfPq.train(base, "vec_id", "embedding",
        dim = 64, nlist = 8, m = 4, k = 16, iters = 2)
      // `enc` feeds BOTH the probe search and the code_key aggregate —
      // without a barrier the per-row encode projection (m NearestCentroid
      // loops over the whole corpus) plans and runs twice
      val enc = graft.Barrier(graft.operators.IvfPq.encode(base, "vec_id", "embedding", model))
      val q0 = base
        .join(broadcast(base.agg(min(col("vec_id")).as("vec_id"))), Seq("vec_id"))
        .select("vec_id", "embedding")
      val top = graft.operators.IvfPq.search(q0, enc, model,
        "vec_id", "embedding", nprobe = 2, k = 200)
      val key = enc
        .select(col("id"), col("cluster"),
          posexplode(col("codes")).as(Seq("subspace", "code")))
        .groupBy("id", "cluster")
        .agg(sum(expr("shiftleft(cast(code as bigint), 4 * subspace)")).as("code_key"))
      key
        .join(top.select(col("t_id").as("id"), col("adc_d2"), col("rank").as("rnk")),
          Seq("id"), "left")
        .select(col("id").as("vec_id"), col("cluster"), col("code_key"),
          col("adc_d2"), col("rnk"))
    },
    Some(s"""
      WITH $ivfPqChainCtes
      SELECT k.vec_id, CAST(k.cluster AS INT) AS cluster, k.code_key,
        t.adc_d2, CAST(t.rnk AS INT) AS rnk
      FROM ckey k LEFT JOIN itop t ON t.t_id = k.vec_id
    """),
  )

  /** The shared q123/q126 oracle chain: base → coarse training →
    * assignment → residual PQ training → encode → smallest-id query →
    * probe selection → ADC tables → top-200 ADC shortlist (`itop`). */
  private lazy val ivfPqChainCtes: String = s"""ibase AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
      csubs AS (
        SELECT vec_id, 0 AS subspace, u.p AS pos, CAST(embedding[u.p + 1] AS DOUBLE) AS x
        FROM ibase, LATERAL unnest(generate_series(0, 63)) AS u(p)),
      ${pqTrainCtes("c", "csubs", "8", 2)},
      cassign AS (
        SELECT vec_id, code AS cluster FROM (
          SELECT vec_id, code,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, code ASC) AS rn
          FROM (
            SELECT s.vec_id, c.code,
              SUM(CAST((s.x - c.c) * (s.x - c.c) AS DECIMAL(38,18))) AS d2
            FROM csubs s JOIN ccent2 c ON c.pos = s.pos
            GROUP BY 1, 2)
        ) WHERE rn = 1),
      rsubs AS (
        SELECT s.vec_id, s.pos // 16 AS subspace, s.pos % 16 AS pos,
          s.x - c.c AS x
        FROM csubs s
        JOIN cassign a ON a.vec_id = s.vec_id
        JOIN ccent2 c ON c.code = a.cluster AND c.pos = s.pos),
      ${pqTrainCtes("r", "rsubs", "16", 2)},
      rencd AS (
        SELECT s.vec_id, s.subspace, c.code,
          SUM(CAST((s.x - c.c) * (s.x - c.c) AS DECIMAL(38,18))) AS d2
        FROM rsubs s JOIN rcent2 c ON c.subspace = s.subspace AND c.pos = s.pos
        GROUP BY 1, 2, 3),
      renc AS (
        SELECT vec_id, subspace, code FROM (
          SELECT vec_id, subspace, code,
            ROW_NUMBER() OVER (PARTITION BY vec_id, subspace ORDER BY d2 ASC, code ASC) AS rn
          FROM rencd) WHERE rn = 1),
      ckey AS (
        SELECT r.vec_id, a.cluster,
          CAST(SUM(CAST(r.code AS BIGINT) << (4 * r.subspace)) AS BIGINT) AS code_key
        FROM renc r JOIN cassign a ON a.vec_id = r.vec_id
        GROUP BY 1, 2),
      iq0 AS (SELECT vec_id FROM ibase WHERE vec_id = (SELECT MIN(vec_id) FROM ibase)),
      qcd AS (
        SELECT c.code AS cluster,
          SUM(CAST((s.x - c.c) * (s.x - c.c) AS DECIMAL(38,18))) AS cd2
        FROM csubs s JOIN iq0 ON s.vec_id = iq0.vec_id
        JOIN ccent2 c ON c.pos = s.pos
        GROUP BY 1),
      probes AS (
        SELECT cluster FROM (
          SELECT cluster, ROW_NUMBER() OVER (ORDER BY cd2 ASC, cluster ASC) AS pr
          FROM qcd) WHERE pr <= 2),
      qr AS (
        SELECT p.cluster, s.pos // 16 AS subspace, s.pos % 16 AS pos,
          s.x - c.c AS x
        FROM csubs s
        JOIN iq0 ON s.vec_id = iq0.vec_id
        CROSS JOIN probes p
        JOIN ccent2 c ON c.code = p.cluster AND c.pos = s.pos),
      qtable AS (
        SELECT q.cluster, r.subspace, r.code,
          SUM(CAST((q.x - r.c) * (q.x - r.c) AS DECIMAL(38,18))) AS d2
        FROM qr q JOIN rcent2 r ON r.subspace = q.subspace AND r.pos = q.pos
        GROUP BY 1, 2, 3),
      adc AS (
        SELECT e.vec_id AS t_id, CAST(SUM(t.d2) AS DOUBLE) AS adc_d2
        FROM renc e
        JOIN cassign a ON a.vec_id = e.vec_id
        JOIN qtable t ON t.cluster = a.cluster AND t.subspace = e.subspace AND t.code = e.code
        GROUP BY 1),
      itop AS (
        SELECT t_id, adc_d2, rnk FROM (
          SELECT t_id, adc_d2, ROW_NUMBER() OVER (ORDER BY adc_d2 ASC, t_id ASC) AS rnk
          FROM adc) WHERE rnk <= 200)"""

  /** C27b (round 8): the REFINE stage (`IvfPq.searchRefined`, FAISS-style
    * exact re-rank): q123's ADC top-200 shortlist re-ranked by EXACT
    * squared L2 against the raw vectors, top-50 kept. The oracle extends
    * the shared chain with one decimal-exact Σ(qᵢ−tᵢ)² per shortlist
    * member — compression error now only costs recall when a true
    * neighbor misses the shortlist entirely, and THAT decision is
    * hashed (the shortlist set is itop). */
  private val q126 = Q(
    "q126_ivfpq_refined",
    (s, dir) => {
      val base = Tables.embeddings(s, dir, spread = true)
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      // LocalRelation codebooks — no lineage to pin (see q123)
      val model = graft.operators.IvfPq.train(base, "vec_id", "embedding",
        dim = 64, nlist = 8, m = 4, k = 16, iters = 2)
      val enc = graft.operators.IvfPq.encode(base, "vec_id", "embedding", model)
      val q0 = base
        .join(broadcast(base.agg(min(col("vec_id")).as("vec_id"))), Seq("vec_id"))
        .select("vec_id", "embedding")
      graft.operators.IvfPq.searchRefined(q0, base, enc, model,
          "vec_id", "embedding", "vec_id", "embedding",
          nprobe = 2, k = 50, shortlist = 200)
        .select(col("q_id"), col("t_id"), col("d2"), col("rank").as("rnk"))
    },
    Some(s"""
      WITH $ivfPqChainCtes,
      rerank AS (
        SELECT t.t_id,
          CAST(SUM(CAST((sq.x - st.x) * (sq.x - st.x) AS DECIMAL(38,18))) AS DOUBLE) AS d2
        FROM itop t
        JOIN csubs st ON st.vec_id = t.t_id
        JOIN csubs sq ON sq.vec_id = (SELECT vec_id FROM iq0) AND sq.pos = st.pos
        GROUP BY 1)
      SELECT (SELECT vec_id FROM iq0) AS q_id, t_id, d2, CAST(rnk AS INT) AS rnk
      FROM (
        SELECT t_id, d2, ROW_NUMBER() OVER (ORDER BY d2 ASC, t_id ASC) AS rnk
        FROM rerank)
      WHERE rnk <= 50
    """),
  )

  /** C43→oracle (round 8): INCREMENTAL embedding dedup
    * (`Dedup.dedupIncrementalByEmbedding`) — the daily-ingest mode for
    * vectors, previously spec-only as a composition: its bucketing went
    * oracle-able with the md5 hyperplanes (q122) and its asymmetric
    * pair-graph semantics were proven on the text side (q113); this
    * query hashes the composition itself. Split = vec_id parity
    * (existing even / batch odd), bits=8, tables=2. The oracle replays
    * the asymmetric new×existing bucket join, the new×new self join,
    * ONE unified pair graph across the boundary (a batch vector tied to
    * the corpus only through another dropped batch vector still
    * collapses into the corpus cluster), the contaminated-cluster rule
    * (existing vectors always win), and the min-id survivor rule for
    * all-new clusters. Output = the batch rows that survive. */
  private val q124 = Q(
    "q124_dedup_incr_embed",
    (s, dir) => {
      val e = Tables.embeddings(s, dir, spread = true)
      val existing = e.filter(col("vec_id") % 2 === 0)
      val batch = e.filter(col("vec_id") % 2 === 1)
      graft.operators.Dedup.dedupIncrementalByEmbedding(batch, existing,
          "embedding", "vec_id", threshold = 0.4, bits = 8, tables = 2)
        .select("vec_id", "label")
    },
    Some(s"""
      WITH RECURSIVE $twoTableBucketCtes,
      cand AS (
        -- asymmetric new x existing, plus new x new self join — ONE graph
        SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
        FROM buckets x JOIN buckets y ON x.bucket = y.bucket
        WHERE x.vec_id % 2 = 1 AND y.vec_id % 2 = 0
        UNION
        SELECT DISTINCT x.vec_id, y.vec_id
        FROM buckets x JOIN buckets y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        WHERE x.vec_id % 2 = 1 AND y.vec_id % 2 = 1),
      $cosineComponentTailCtes,
      contaminated AS (SELECT DISTINCT cluster_id FROM cl WHERE node % 2 = 0),
      dropnew AS (
        SELECT node FROM cl
        WHERE node % 2 = 1
          AND (cluster_id IN (SELECT cluster_id FROM contaminated)
               OR node <> cluster_id))
      SELECT vec_id, label FROM embeddings
      WHERE vec_id % 2 = 1 AND vec_id NOT IN (SELECT node FROM dropnew)
    """),
  )

  /** C72: ANN recall evaluation (`AnnEval.recallAt`) — measure, don't
    * assume: per sampled query, how much of the exact cosine top-k the
    * sign-LSH bucketed index (q39's scale path) actually returns.
    * Membership is matched by neighbor ID — no float comparison can flip
    * a hit — and queries whose bucket missed entirely surface with
    * n_hit = 0 rather than disappearing. Scale shape: ground truth costs
    * sample × corpus (the sample is the knob, disclosed in AnnEval's
    * scaladoc); the evaluation itself joins two ≤ k·|sample|-row result
    * sets. The same operator evaluates any (q_id, t_id) result pair —
    * IVF (q46), IVF+PQ (q123/q126) — spec-pinned; `summarize` collapses
    * to macro/micro/worst recall. */
  private val q132 = Q(
    "q132_ann_recall",
    (s, dir) => {
      import graft.operators.AnnEval
      val e = Tables.embeddings(s, dir, spread = true)
      val q = e.filter(col("vec_id") < 5)
      val t = e.filter(col("vec_id") >= 5)
      val exact = KnnJoin.bruteForce(q, t, "embedding", "vec_id", k = 3)
      val approx = KnnJoin.bucketed(q, t, "embedding", "vec_id", k = 3, bits = 4)
      AnnEval.recallAt(exact, approx)
        .select(col("q_id"), col("n_exact"), col("n_hit"), col("recall"))
    },
    Some(s"""
      WITH qq AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
      tt AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
      dots AS (
        SELECT qq.vec_id AS q_id, tt.vec_id AS t_id, ${dotSql.format("qq.embedding", "tt.embedding")} AS dot
        FROM qq, tt, LATERAL unnest(generate_series(1, len(qq.embedding))) AS u(i)
        GROUP BY 1, 2),
      $normsCte,
      cos AS (
        SELECT q_id, t_id, dot / (nq.nrm * nt.nrm) AS cosine
        FROM dots JOIN norms nq ON nq.vec_id = q_id JOIN norms nt ON nt.vec_id = t_id),
      ex AS (
        SELECT q_id, t_id FROM (
          SELECT q_id, t_id,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, t_id) AS rn
          FROM cos) WHERE rn <= 3),
      eb AS (
        SELECT vec_id,
          (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END
           + CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END
           + CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END
           + CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) AS bucket
        FROM embeddings),
      ap AS (
        SELECT q_id, t_id FROM (
          SELECT c.q_id, c.t_id,
            ROW_NUMBER() OVER (PARTITION BY c.q_id ORDER BY c.cosine DESC, c.t_id) AS rn
          FROM cos c
          JOIN eb bq ON bq.vec_id = c.q_id
          JOIN eb bt ON bt.vec_id = c.t_id AND bt.bucket = bq.bucket) WHERE rn <= 3),
      base AS (SELECT q_id, COUNT(*) AS n_exact FROM ex GROUP BY 1),
      hits AS (
        SELECT ex.q_id, COUNT(*) AS n_hit
        FROM ex JOIN ap ON ap.q_id = ex.q_id AND ap.t_id = ex.t_id
        GROUP BY 1)
      SELECT b.q_id, b.n_exact,
        COALESCE(h.n_hit, CAST(0 AS BIGINT)) AS n_hit,
        CAST(COALESCE(h.n_hit, CAST(0 AS BIGINT)) AS DOUBLE)
          / CAST(b.n_exact AS DOUBLE) AS recall
      FROM base b LEFT JOIN hits h ON h.q_id = b.q_id
    """),
  )

  /** C73 (C50 under the gate): PCA brought under the SQL oracle for the
    * closed-form d=2 case — `Pca.fit`'s one-pass moment Aggregator +
    * population covariance + driver eigensolve, checked against the
    * quadratic-formula eigenvalues DuckDB computes from the same moments
    * (λ = (tr ± √((caa−cbb)² + 4·cab²))/2). Cross-engine contract: the
    * moment buffer sums IEEE doubles (order-dependent partials — the
    * deliberate exception to the Num policy, disclosed in Pca's
    * scaladoc), and Jacobi-vs-quadratic are different chains, so parity
    * here rides check.py's 1e-9 relative float tolerance rather than
    * bitwise equality — measured agreement is ~1e-13 relative on these
    * well-conditioned covariances. EigenVECTORS stay spec-pinned (sign
    * convention + known-matrix recovery in PcaSpec); this query pins the
    * eigenvalues, means, and explained-variance ratio. */
  private val q134 = Q(
    "q134_pca_eigen",
    (s, dir) => {
      import graft.operators.Pca
      val e = Tables.embeddings(s, dir, spread = true)
        .select(slice(col("embedding").cast("array<double>"), 1, 2).as("v2"))
      val model = Pca.fit(e, "v2", d = 2, k = 2)
      import s.implicits._
      Seq((model.mean(0), model.mean(1),
           model.explainedVariance(0), model.explainedVariance(1)))
        .toDF("mean1", "mean2", "lambda1", "lambda2")
        .withColumn("explained_ratio",
          col("lambda1") / (col("lambda1") + col("lambda2")))
    },
    Some("""
      WITH v AS (
        SELECT CAST(embedding[1] AS DOUBLE) AS a, CAST(embedding[2] AS DOUBLE) AS b
        FROM embeddings),
      mo AS (
        SELECT COUNT(*) AS n, SUM(a) AS sa, SUM(b) AS sb,
          SUM(a * a) AS saa, SUM(a * b) AS sab, SUM(b * b) AS sbb
        FROM v),
      c AS (
        SELECT sa / n AS m1, sb / n AS m2,
          saa / n - (sa / n) * (sa / n) AS caa,
          sab / n - (sa / n) * (sb / n) AS cab,
          sbb / n - (sb / n) * (sb / n) AS cbb
        FROM mo),
      e AS (
        SELECT m1, m2,
          (caa + cbb) / 2.0 + SQRT((caa - cbb) * (caa - cbb) + 4.0 * cab * cab) / 2.0 AS l1,
          (caa + cbb) / 2.0 - SQRT((caa - cbb) * (caa - cbb) + 4.0 * cab * cab) / 2.0 AS l2
        FROM c)
      SELECT m1 AS mean1, m2 AS mean2, l1 AS lambda1, l2 AS lambda2,
        l1 / (l1 + l2) AS explained_ratio
      FROM e
    """),
  )

  /** C77 (closing q134's spec-only tail): PCA eigenVECTORS under the SQL
    * oracle for the closed-form d=2 case. The 2×2 symmetric covariance's
    * principal axis is the rotation angle θ = ½·atan2(2·cab, caa−cbb) —
    * v1 = (cos θ, sin θ) belongs to the LARGER eigenvalue (checked at
    * the four degenerate compass points), v2 = (−sin θ, cos θ) — and the
    * oracle mirrors `jacobiEigen`'s deterministic sign convention
    * (largest-|entry| positive, ties toward the earlier index). Same
    * disclosed float tier as q134: IEEE moment sums + libm trig vs
    * driver Jacobi differ in chain, so parity rides the gate's 1e-9
    * relative float tolerance (measured ~1e-12: moment wobble ~1e-13
    * divided by the 5–11% eigen gap on this data). The sign-pick index
    * is data-stable here (|v1x| vs |v1y| separated ≥3% at every SF —
    * checked before authoring; a |x|≈|y| boundary with opposite signs
    * would be un-oracle-able and belongs in the spec tier). Scale shape
    * is q134's: ONE d²-bounded aggregator pass, driver eigensolve on a
    * 2×2. */
  private val q139 = Q(
    "q139_pca_components",
    (s, dir) => {
      import graft.operators.Pca
      val e = Tables.embeddings(s, dir, spread = true)
        .select(slice(col("embedding").cast("array<double>"), 1, 2).as("v2"))
      val model = Pca.fit(e, "v2", d = 2, k = 2)
      import s.implicits._
      Seq((model.components(0)(0), model.components(0)(1),
           model.components(1)(0), model.components(1)(1),
           model.explainedVariance(0), model.explainedVariance(1)))
        .toDF("c11", "c12", "c21", "c22", "lambda1", "lambda2")
    },
    Some("""
      WITH v AS (
        SELECT CAST(embedding[1] AS DOUBLE) AS a, CAST(embedding[2] AS DOUBLE) AS b
        FROM embeddings),
      mo AS (
        SELECT COUNT(*) AS n, SUM(a) AS sa, SUM(b) AS sb,
          SUM(a * a) AS saa, SUM(a * b) AS sab, SUM(b * b) AS sbb
        FROM v),
      c AS (
        SELECT saa / n - (sa / n) * (sa / n) AS caa,
          sab / n - (sa / n) * (sb / n) AS cab,
          sbb / n - (sb / n) * (sb / n) AS cbb
        FROM mo),
      e AS (
        SELECT caa, cab, cbb,
          0.5 * ATAN2(2.0 * cab, caa - cbb) AS th,
          (caa + cbb) / 2.0 + SQRT((caa - cbb) * (caa - cbb) + 4.0 * cab * cab) / 2.0 AS l1,
          (caa + cbb) / 2.0 - SQRT((caa - cbb) * (caa - cbb) + 4.0 * cab * cab) / 2.0 AS l2
        FROM c),
      w AS (
        SELECT l1, l2, COS(th) AS v1x, SIN(th) AS v1y,
          -SIN(th) AS v2x, COS(th) AS v2y
        FROM e),
      f AS (
        SELECT l1, l2, v1x, v1y, v2x, v2y,
          CASE WHEN (CASE WHEN ABS(v1y) > ABS(v1x) THEN v1y ELSE v1x END) < 0
            THEN -1.0 ELSE 1.0 END AS f1,
          CASE WHEN (CASE WHEN ABS(v2y) > ABS(v2x) THEN v2y ELSE v2x END) < 0
            THEN -1.0 ELSE 1.0 END AS f2
        FROM w)
      SELECT f1 * v1x AS c11, f1 * v1y AS c12,
        f2 * v2x AS c21, f2 * v2y AS c22,
        l1 AS lambda1, l2 AS lambda2
      FROM f
    """),
  )

  /** C78 (closing C47's production-seeding tail): the k-means‖ seeding
    * round users actually run (`KMeans.fit`'s default init) under the
    * SQL oracle — q89b/q119/q123 oracle the FirstIds training path, but
    * the Bahmani oversampling draw was spec-only. `KMeans.seedRound1`
    * exposes round 1 as data: the first candidate (smallest md5(id) —
    * bitwise cross-engine) plus every point the round-1 draw selects
    * (u < min(1, 2k·d²/φ)), with its md5-unit draw u (integer numerator
    * / 2⁵² divisor — bitwise cross-engine) and its d² to the seed.
    * Cross-engine contract: d² is the q89b decimal-sum-vs-sequential
    * tier (~1e-15 relative agreement, 1e-9 gate); the selection
    * threshold is margin-safe on this data (min |u − thr| ≥ 1.4e-4 at
    * every SF, measured — u is uniform, so min gaps ride the draw count,
    * not the float chain). The driver-side greedy weighted farthest-point reduction
    * stays spec-pinned (KMeansSpec): an argmax loop over mutating
    * candidate state has no SQL form. */
  private val q140 = Q(
    "q140_kmeans_seed_round",
    (s, dir) => {
      val e = Tables.embeddings(s, dir, spread = true)
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      graft.operators.KMeans.seedRound1(e, "vec_id", "embedding", k = 8)
        .select(col("id").as("vec_id"), col("round"), col("u"), col("d2"))
    },
    Some(s"""
      WITH $seedPoolCtes,
      dr AS (
        SELECT d.vec_id, d.d2,
          (CAST(('0x' || substr(md5(CAST(d.vec_id AS VARCHAR) || ':1'), 1, 13)) AS BIGINT)
            + 0.5) / 4503599627370496.0 AS u
        FROM d)
      SELECT vec_id, 0 AS round, CAST(NULL AS DOUBLE) AS u, CAST(NULL AS DOUBLE) AS d2
      FROM s0
      UNION ALL
      SELECT dr.vec_id, 1 AS round, dr.u, dr.d2
      FROM dr, p
      -- phi > 0 mirrors seedRound1's saturated early-return: with phi = 0
      -- the quotient is 0/0 -> NaN/NULL, LEAST ignores both and would
      -- select every row where the Scala side selects none
      WHERE p.phi > 0 AND dr.u < LEAST(1.0, 16.0 * dr.d2 / p.phi)
    """),
  )

  /** C79 (the q140 tail closed): the k-means‖ seeds users actually GET —
    * `KMeans.chosenSeeds` exposes the greedy weighted farthest-point
    * reduction's output by id, and for small k the whole reduction
    * unrolls in SQL (each pick = one ORDER-BY-LIMIT-1 CTE with the
    * `w·d² > 0` stop rule, like q26 unrolled Newton): pool = q140's
    * seed + round-1 draw CTEs (candidate order = ascending md5(id),
    * which is why initParallel sorts draws by hash, not by Scala's
    * Double.toString), weights = per-point L2 argmin counts (ties to
    * the smaller index — the q89b margin tier), picks maximize w then
    * w·bestD² with ties to the smaller index. Margins measured at every
    * SF: each pick's top-two gap ≥ 1.1% relative and every weight
    * assignment's argmin gap ≥ 1.4e-5 relative — both dwarf the ~1e-15
    * cross-engine d² wobble. k = 3, rounds = 1 keeps the unroll three
    * CTE blocks; the production default (rounds = 3) runs the same code
    * path, pinned by KMeansSpec's blob-spread/determinism tests. */
  private val q142 = Q(
    "q142_kmeans_chosen_seeds",
    (s, dir) => {
      val e = Tables.embeddings(s, dir, spread = true)
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      graft.operators.KMeans.chosenSeeds(e, "vec_id", "embedding", k = 3, rounds = 1)
    },
    Some(s"""
      WITH $seedPoolCtes,
      sel AS (
        SELECT d.vec_id
        FROM d, p
        WHERE p.phi > 0
          AND (CAST(('0x' || substr(md5(CAST(d.vec_id AS VARCHAR) || ':1'), 1, 13)) AS BIGINT)
            + 0.5) / 4503599627370496.0 < LEAST(1.0, 6.0 * d.d2 / p.phi)),
      cand AS (
        SELECT 0 AS i, vec_id FROM s0
        UNION ALL
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS INTEGER) AS i,
          vec_id
        FROM sel),
      cv AS (SELECT c.i, c.vec_id, e.embedding FROM cand c JOIN eb e USING (vec_id)),
      pd AS (
        SELECT e.vec_id AS pid, c.i,
          ${sqSumSql("e.embedding[u.i]", "c.embedding[u.i]")} AS d2
        FROM eb e CROSS JOIN cv c,
          LATERAL unnest(generate_series(1, len(e.embedding))) AS u(i)
        GROUP BY 1, 2),
      asn AS (
        SELECT pid, i FROM (
          SELECT pid, i, ROW_NUMBER() OVER (PARTITION BY pid ORDER BY d2 ASC, i ASC) AS rn
          FROM pd) WHERE rn = 1),
      w AS (
        SELECT c.i, c.vec_id, COALESCE(a.w, CAST(0 AS BIGINT)) AS w
        FROM cand c LEFT JOIN (SELECT i, COUNT(*) AS w FROM asn GROUP BY 1) a USING (i)),
      cc AS (
        SELECT a.i AS ai, b.i AS bi,
          ${sqSumSql("a.embedding[u.i]", "b.embedding[u.i]")} AS d2
        FROM cv a CROSS JOIN cv b,
          LATERAL unnest(generate_series(1, len(a.embedding))) AS u(i)
        GROUP BY 1, 2),
      p1 AS (SELECT i FROM w ORDER BY w DESC, i ASC LIMIT 1),
      b1 AS (
        SELECT w.i, w.vec_id, w.w, cc.d2 AS bd
        FROM w CROSS JOIN p1 JOIN cc ON cc.ai = w.i AND cc.bi = p1.i),
      p2 AS (SELECT i FROM b1 WHERE w * bd > 0 ORDER BY w * bd DESC, i ASC LIMIT 1),
      b2 AS (
        SELECT b1.i, b1.vec_id, b1.w, LEAST(b1.bd, cc.d2) AS bd
        FROM b1 CROSS JOIN p2 JOIN cc ON cc.ai = b1.i AND cc.bi = p2.i),
      p3 AS (SELECT i FROM b2 WHERE w * bd > 0 ORDER BY w * bd DESC, i ASC LIMIT 1)
      SELECT 1 AS rank, c.vec_id AS seed_id FROM cand c JOIN p1 USING (i)
      UNION ALL
      SELECT 2 AS rank, c.vec_id AS seed_id FROM cand c JOIN p2 USING (i)
      UNION ALL
      SELECT 3 AS rank, c.vec_id AS seed_id FROM cand c JOIN p3 USING (i)
    """),
  )

  val all: Seq[Q] = Seq(q38, q39, q40, q43, q44, q46, q89, q89b, q109, q116,
    q119, q120, q122, q123, q124, q126, q132, q134, q139, q140, q142)
}
