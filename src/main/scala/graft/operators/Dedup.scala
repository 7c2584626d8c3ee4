package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Barrier
import graft.expressions.{MinHashBands, MinHashFamily}
import graft.functions.{TextFns, VectorFns}

/** Document deduplication operators (SURVEY.md §2.C).
  *
  * Scale design: every variant is blocking-based — candidates are only
  * compared inside a shared bucket (hash group, LSH band, sign bucket), so
  * there is never an O(n²) cross join. Each stage is one explode+groupBy
  * (a single shuffle keyed on doc or bucket id).
  *
  * No operator here repartitions its input: feed them a spread frame
  * (`Tables.documents(spark, dir, spread = true)`) when the scan arrives
  * with too few splits for the per-row shingle/tokenize work.
  */
object Dedup {

  /** Exact dedup by content hash: one survivor (min id) per distinct text. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash + LSH candidate pairs: `numHashes` md5-minhash components over
    * word-`shingleN`-gram shingles, banded `bands`-wise; docs sharing any
    * band hash become candidate pairs (a_id < b_id, distinct).
    *
    * The shingle → signature → band-key chain is the single fused native
    * MinHashBands expression — one md5 per shingle (served straight off
    * the text's byte buffer, no shingle array) plus one md5 per band —
    * so the rows × shingles explode (and its groupBy shuffle) never
    * exists; only the per-doc band keys reach an exchange, and the band
    * self-join stays bucket-local.
    *
    * md5 slicing is the DuckDB-parity choice; `minhashLshFast` is the
    * same pipeline on xxhash64 longs for production scale.
    */
  def minhashLsh(df: DataFrame, textCol: String, idCol: String,
                 numHashes: Int = 8, bands: Int = 2, shingleN: Int = 3): DataFrame =
    lshPairs(df, textCol, idCol, numHashes, bands, shingleN, MinHashFamily.Md5Hex)

  /** Scale-path MinHash+LSH: identical banded design to `minhashLsh` but
    * each minhash component is `xxhash64(shingle, seed_i)` — one long hash
    * per component instead of md5 slices, and each band key one xxhash64
    * fold instead of an md5 over hex text. Use when DuckDB oracle parity is
    * not required (xxhash64 has no DuckDB twin). */
  def minhashLshFast(df: DataFrame, textCol: String, idCol: String,
                     numHashes: Int = 8, bands: Int = 2, shingleN: Int = 3): DataFrame =
    lshPairs(df, textCol, idCol, numHashes, bands, shingleN, MinHashFamily.XxHash64)

  /** The band self-join of both LSH entry points: candidate pairs
    * (a_id < b_id, distinct) of the docs sharing a `family` band key. */
  private def lshPairs(df: DataFrame, textCol: String, idCol: String, numHashes: Int,
                       bands: Int, shingleN: Int, family: MinHashFamily): DataFrame = {
    // ONE signature pass: both sides of the band self-join read the same
    // (doc, band) keys; without the barrier the shingle+minhash map stage
    // (the operator's dominant per-row cost) plans — and runs — twice
    val bandDf = Barrier(bandKeys(df, textCol, idCol, numHashes, bands, shingleN, family))
    val a = bandDf.select(col("doc").as("a_id"), col("band"))
    val b = bandDf.select(col("doc").as("b_id"), col("band"))
    a.join(b, Seq("band")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** (doc, band) LSH keys in `family`'s banded scheme — shared by the
    * self-join path above and the asymmetric [[dedupIncremental]]
    * batch-vs-corpus join. */
  private def bandKeys(df: DataFrame, textCol: String, idCol: String, numHashes: Int,
                       bands: Int, shingleN: Int, family: MinHashFamily): DataFrame = {
    // No shingle-count pre-filter: MinHashBands returns null for texts
    // with fewer than shingleN words (split(" ", -1) word-count semantics,
    // identical to TextFns.words) and for null texts, and explode(null)
    // yields no rows — the same row set the former
    // size(words(text)) >= shingleN filter kept, without paying a full
    // split-to-string-array pass per row just to count words.
    // The whole shingle → minhash → band-key chain is ONE fused native
    // projection over the raw text bytes (no shingle-array
    // materialization — each shingle is a byte range of the text); the
    // composed forms it replaced explode corpus × shingles rows through a
    // groupBy(doc) exchange. NativeExprParitySpec pins value-parity with
    // them for both families.
    df.select(col(idCol).as("doc"),
      explode(MinHashBands.of(col(textCol), numHashes, bands, shingleN, family)).as("band"))
  }

  /** SimHash fingerprint (`bits` ≤ 16): per distinct word, ±1 votes from
    * the low bit of each hex digit of md5(word); fingerprint bit set where
    * the vote sum is positive.
    *
    * One pure map stage: array_distinct dedups words per row and the
    * native SimHashBits expression folds the votes per row — NO shuffle
    * (the earlier explode + 16-vote-aggregate shape shuffled rows ×
    * distinct-words; a zip_with/transform fold was worse still, since HOF
    * lambdas run interpreted). Values are identical to both prior shapes
    * and the DuckDB oracle. */
  def simhash(df: DataFrame, textCol: String, idCol: String, bits: Int = 16): DataFrame =
    // null text has no word set, hence no fingerprint: drop the row
    // (mirrors the oracle, where unnest of a null split yields no rows)
    // instead of emitting a null-simhash group
    df.filter(col(textCol).isNotNull).select(
      col(idCol).as("doc_id"),
      graft.expressions.SimHashBits.of(
        array_distinct(TextFns.words(col(textCol))), bits).as("simhash"))

  /** Word-set Jaccard similarity for given candidate pairs — the verify
    * stage of the near-dup pipeline. Feed it `minhashLsh` (or
    * `minhashLshFast`) candidates: LSH keeps the candidate count ~linear
    * in corpus size, where an attribute-blocking key (same source + same
    * token count) degenerates quadratically and skews at scale.
    *
    * Shape: two broadcast-free hash joins keyed on doc id carry each
    * side's distinct word set size; the intersection count is one
    * explode-join-aggregate over only the candidate pairs' words.
    * `pairs` must have (a_id, b_id); output adds `jaccard`.
    */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, textCol: String,
                    idCol: String): DataFrame = {
    // `pairs` is read FOUR ways below (both candIds sides, the inter
    // join, the outer frame) and its producer is typically the LSH
    // candidate join — without a barrier that join (and everything
    // under it) plans and runs four times per action. Materializing the
    // candidate list once is bounded by the candidate count.
    val p = Barrier(pairs)
    // restrict to docs actually named by a candidate pair BEFORE the
    // word explode/aggregate: `docs` may be a whole corpus (the
    // incremental path passes batch ∪ existing) and verification cost
    // must follow the candidate count, not the corpus size
    val candIds = p.select(explode(array(col("a_id"), col("b_id"))).as("__cid")).distinct()
    val cand = docs.join(candIds, docs(idCol) === col("__cid"), "leftsemi")
    // the candidate-restricted token stream is read three ways (counts,
    // intersection a-side, b-side) — one barrier stops the corpus
    // semi-join + tokenize from running three times; its size follows
    // the candidate count, not the corpus
    val wd = Barrier(cand.select(col(idCol).as("doc"),
      explode(array_distinct(TextFns.words(col(textCol)))).as("w")))
    val wc = wd.groupBy("doc").agg(count(lit(1)).as("nw"))
    val inter = p
      .join(wd.select(col("doc").as("a_id"), col("w")), Seq("a_id"))
      .join(wd.select(col("doc").as("b_id"), col("w")), Seq("b_id", "w"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
    p
      .join(inter, Seq("a_id", "b_id"), "left")
      .na.fill(0L, Seq("inter"))
      .join(wc.select(col("doc").as("a_id"), col("nw").as("nw_a")), Seq("a_id"))
      .join(wc.select(col("doc").as("b_id"), col("nw").as("nw_b")), Seq("b_id"))
      .withColumn("jaccard", col("inter") / (col("nw_a") + col("nw_b") - col("inter")))
      .select(col("a_id"), col("b_id"), col("jaccard")) // using-joins reorder key cols
  }

  /** Edit-distance verify stage over candidate pairs — the
    * character-level companion to [[jaccardVerify]]'s word-set measure:
    * Jaccard is blind to word ORDER ("a b c" vs "c b a" scores 1.0)
    * while normalized edit similarity is not, so near-dup policies that
    * must distinguish shuffled boilerplate from true copies verify on
    * both. Adds `edit_dist` (Levenshtein, via Spark's codegen'd builtin)
    * and `edit_sim` = 1 − dist / max(len_a, len_b) ∈ [0,1]; two empty
    * texts score 1.0.
    *
    * Cost is O(len_a·len_b) PER PAIR unbounded — which is exactly why
    * this is a verify stage: run it on LSH/blocked candidates only,
    * never as a corpus-wide measure. `maxDist` caps the computation with
    * Spark's BANDED levenshtein (O(len·maxDist) per pair): a pair beyond
    * the cap reports edit_dist = maxDist+1 (sentinel) and edit_sim NULL
    * — similarity is UNKNOWN there, and back-computing it from the
    * sentinel would overstate it (dist 500 capped at 65 on 1000 chars
    * would read as 0.935 "similarity"). Choose maxDist ≥ (1−τ)·max_len
    * for a keep-threshold τ so every pair the policy could keep is
    * measured exactly. At sf0.1 the cap cut this stage ~5×; production
    * calls should always pass one. Same candidate-restricted join shape as
    * [[jaccardVerify]]: text lookup cost follows the candidate count,
    * not the corpus size. */
  def editVerify(pairs: DataFrame, docs: DataFrame, textCol: String,
                 idCol: String, maxDist: Int = Int.MaxValue): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    // same barrier discipline as jaccardVerify: `pairs` is read three
    // ways (candIds, outer frame via two joins) and `cand` twice (a/b
    // text sides) — materialize each once, bounded by candidate count
    val p = Barrier(pairs)
    val texts = docs.select(col(idCol).as("__tid"), col(textCol).as("__txt"))
    val candIds = p.select(explode(array(col("a_id"), col("b_id"))).as("__cid")).distinct()
    val cand = Barrier(texts.join(candIds, col("__tid") === col("__cid"), "leftsemi"))
    val dist =
      if (maxDist == Int.MaxValue) levenshtein(col("__ta"), col("__tb")).cast("long")
      else {
        val banded = levenshtein(col("__ta"), col("__tb"), maxDist)
        when(banded === -1, lit(maxDist.toLong + 1L)).otherwise(banded.cast("long"))
      }
    p
      .join(cand.select(col("__tid").as("a_id"), col("__txt").as("__ta")), Seq("a_id"))
      .join(cand.select(col("__tid").as("b_id"), col("__txt").as("__tb")), Seq("b_id"))
      .withColumn("edit_dist", dist)
      .withColumn("edit_sim",
        when(col("edit_dist") > maxDist, lit(null).cast("double"))
          .when(greatest(length(col("__ta")), length(col("__tb"))) === 0, lit(1.0))
          .otherwise(lit(1.0) - col("edit_dist").cast("double") /
            greatest(length(col("__ta")), length(col("__tb"))).cast("double")))
      .select(col("a_id"), col("b_id"), col("edit_dist"), col("edit_sim"))
  }

  /** Connected components over near-dup candidate pairs: every doc in the
    * pair graph gets a `cluster_id` = the minimum doc id reachable through
    * candidate edges. This is the step that turns pair *reports*
    * (`minhashLsh` / `byEmbedding` / `jaccardVerify`) into keep/drop
    * *decisions*: one survivor per cluster, everything else droppable —
    * including transitive dups (A~B, B~C collapse even when A~C was never
    * a candidate pair).
    *
    * Algorithm: iterative min-label propagation with pointer jumping.
    * Each round a node's label becomes min(own, neighbors' labels), then
    * label := label(label) (path halving), so convergence is
    * O(log diameter) rounds — a 10⁶-long chain resolves in ~20 rounds,
    * each round a bounded number of key-partitioned shuffles. Labels are
    * behind a [[graft.Barrier]] per round to truncate lineage (mandatory for
    * iterative plans — otherwise round k re-executes rounds 1..k-1).
    *
    * Output: (`outId`, `outCluster`) for every node appearing in `pairs`.
    */
  def resolveClusters(pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
                      outId: String = "doc_id", outCluster: String = "cluster_id",
                      maxIters: Int = 25): DataFrame = {
    // ONE pass over the pair pipeline: the union-of-two-projections form
    // plants the (candidate join + verify) subtree twice in the plan and
    // Spark does not CSE across union branches — the most expensive stage
    // of every dedup pipeline executed twice (measured: half of q92/q113's
    // edge materialization). Exploding both directions per row reads the
    // pairs exactly once and yields the same edge set.
    // reused every round — don't re-run the pair pipeline. Lazy: the
    // count() gate below is the first action and materializes it, so an
    // eager barrier here would just be one extra scheduled job
    val edges = Barrier(pairs
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct())
    // Hybrid (guide §1.2 "choose the distributed algorithm"): the verified
    // pair graph is already a huge reduction of the corpus — when it fits
    // on the driver, a local union-find resolves components in one collect
    // (exact same min-reachable-id labels) instead of O(log diameter)
    // rounds of 3 scheduled jobs each. The edge budget is conf-sized, not
    // hard-coded for this box; past it (billion-pair corpora) the
    // distributed label-propagation loop below is unchanged. The count is
    // the action that materializes the lazy checkpoint above.
    val maxLocalEdges = pairs.sparkSession.conf
      .get("spark.graft.components.maxLocalEdges", (4L << 20).toString).toLong
    val integralIds = edges.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    if (integralIds && edges.count() <= maxLocalEdges)
      return resolveClustersLocal(edges, outId, outCluster)
    var labels = Barrier(edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label")), eager = true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("node").as("dst"), col("label").as("dl")), Seq("dst"))
        .groupBy("src").agg(min(col("dl")).as("nbr_min"))
        .select(col("src").as("node"), col("nbr_min"))
      // materialized before the self-join below: its two sides are
      // different projections shuffled on different keys, so without
      // this the edges-join + neighbor-min aggregation (the expensive
      // part of the round) would execute twice per round
      val stepped = Barrier(labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("label").as("old"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label")),
        eager = true)
      // Pointer jump (path halving): label := label(label). Labels are
      // always node ids, so the self-join hits unless label is already a
      // cluster root that only appears as a label — coalesce keeps it.
      // (A giant cluster makes its root label a hot join key late in the
      // run; AQE's skew-join split handles that — rows per distinct key
      // on the RIGHT side are always 1.)
      val jumped = Barrier(stepped
        .join(stepped.select(col("node").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("node"), coalesce(col("ll"), col("label")).as("label"),
          (coalesce(col("ll"), col("label")) =!= col("old")).as("chg")),
        eager = true)
      // convergence reads the just-checkpointed partitions — a cheap scan,
      // not another shuffle join against the previous round
      converged = jumped.filter(col("chg")).isEmpty
      labels = jumped.select("node", "label")
      iter += 1
    }
    // A silent exit at maxIters would return partially-propagated labels:
    // one connected component split into several clusters, near-dups
    // surviving dedup. With pointer jumping the default 25 rounds covers
    // any realistic diameter (~2^25), so hitting this means the call was
    // mis-parameterized — fail loudly rather than under-merge quietly.
    if (!converged)
      throw new IllegalStateException(
        s"resolveClusters did not converge within maxIters=$maxIters rounds; " +
          "labels are partially propagated and clusters would be split — " +
          "raise maxIters (pointer jumping needs ~log2(component diameter) rounds)")
    labels.select(col("node").as(outId), col("label").as(outCluster))
  }

  /** Driver-side union-find over a collected (src, dst) edge frame —
    * the small-graph path of [[resolveClusters]]. Label semantics are
    * identical to the propagation loop: every node appearing as an
    * endpoint gets the MINIMUM id reachable through edges; a null
    * endpoint (never produced by the join-built pair frames, but legal
    * input) is its own inert node with a null label, exactly as the
    * null-unsafe joins of the loop leave it. */
  private def resolveClustersLocal(edges: DataFrame, outId: String,
                                   outCluster: String): DataFrame = {
    val spark = edges.sparkSession
    val longIds = edges.schema.head.dataType == org.apache.spark.sql.types.LongType
    // collect boxed-Long pairs, not GenericRows: a Row costs ~2× the
    // tuple (row object + value array on top of the two boxes), and this
    // transient array is budgeted in EDGES (maxLocalEdges), not bytes —
    // keep the driver footprint as close to the raw longs as a null-safe
    // collect allows
    val rows: Array[(java.lang.Long, java.lang.Long)] = edges
      .select(col(edges.columns(0)).cast("long"), col(edges.columns(1)).cast("long"))
      .as(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.LONG, org.apache.spark.sql.Encoders.LONG))
      .collect()
    val idx = new java.util.HashMap[java.lang.Long, Integer]()
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    val parent = new scala.collection.mutable.ArrayBuffer[Int]()
    var sawNull = false
    def nodeOf(v: java.lang.Long): Int = {
      val e = idx.get(v)
      if (e != null) e.intValue()
      else {
        idx.put(v, Integer.valueOf(ids.length))
        ids += v.longValue(); parent += parent.length
        ids.length - 1
      }
    }
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows.foreach { case (a, b) =>
      if (a == null || b == null) {
        sawNull = true
        if (a != null) nodeOf(a)
        if (b != null) nodeOf(b)
      } else {
        val (ra, rb) = (find(nodeOf(a)), find(nodeOf(b)))
        if (ra != rb) parent(ra) = rb
      }
    }
    // min id per component root
    val minOf = new java.util.HashMap[Integer, java.lang.Long]()
    ids.indices.foreach { i =>
      val r = Integer.valueOf(find(i))
      val cur = minOf.get(r)
      if (cur == null || ids(i) < cur.longValue()) minOf.put(r, java.lang.Long.valueOf(ids(i)))
    }
    val out: Seq[(java.lang.Long, java.lang.Long)] =
      ids.indices.map(i =>
        (java.lang.Long.valueOf(ids(i)), minOf.get(Integer.valueOf(find(i))))) ++
        (if (sawNull) Seq((null: java.lang.Long, null: java.lang.Long)) else Nil)
    val t = edges.schema.head.dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(outId, t, nullable = true),
      org.apache.spark.sql.types.StructField(outCluster, t, nullable = true)))
    def cv(v: java.lang.Long): Any =
      if (v == null) null else if (longIds) v.longValue() else v.intValue()
    val data = out.map { case (n, l) =>
      org.apache.spark.sql.Row(cv(n), cv(l)) }
    // LocalRelation (not an RDD): the planner sees its true size, so the
    // downstream cluster join can go broadcast on its own
    spark.createDataFrame(new java.util.ArrayList(
      scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava), schema)
  }

  /** Survivor selection over a full corpus: each doc gets its near-dup
    * `cluster_id` (itself when it appears in no candidate pair) and
    * `keep` = 1 iff it is the cluster's minimum-id survivor — the same
    * survivor policy as [[exact]]. `keep = 0` rows ARE the drop list. */
  def survivors(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val clusters = resolveClusters(pairs)
    docs.select(col(idCol).as("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", (col("doc_id") === col("cluster_id")).cast("long"))
  }

  /** The WHOLE near-dup pipeline in one call — what a training-data user
    * actually runs: LSH candidate pairs → Jaccard verification at
    * `threshold` → connected components → min-id survivor per cluster →
    * the corpus with duplicates DROPPED. Returns `df`'s rows (all
    * columns) for surviving docs only.
    *
    * Stage shapes (each documented on its operator): one pass + band
    * self-join (minhashLsh), candidate-local verify (jaccardVerify),
    * O(log diameter) label-propagation rounds (resolveClusters), one
    * broadcast-free semi-join to drop losers. */
  def dedupCorpus(df: DataFrame, textCol: String, idCol: String,
                  threshold: Double = 0.8,
                  numHashes: Int = 8, bands: Int = 2, shingleN: Int = 3): DataFrame = {
    // exact pre-stage: keep one (min-id) copy per identical text FIRST.
    // The LSH stage would also pair exact copies — but only when they
    // have >= shingleN words (the band expression yields no keys for
    // shorter docs), so identical short texts would otherwise both
    // survive; it also
    // shrinks the LSH input for free.
    // `unique` is the working set of every following stage (band keys,
    // verify token sets, the final anti join) — materialize the exact
    // stage once instead of re-running its corpus hash-aggregate + semi
    // join per consumer. A corpus-sized barrier: executor blocks with no
    // lineage fallback are the deliberate trade (see [[graft.Barrier]]),
    // cheaper than re-running the exact stage for 3+ corpus passes
    val unique = Barrier(df.join(
      exact(df, textCol, idCol).select(col("keep_id").as("__keep")),
      df(idCol) === col("__keep"), "leftsemi"), corpus = true)
    dropLosers(unique, verifiedNearDupPairs(unique, textCol, idCol,
      threshold, numHashes, bands, shingleN), idCol)
  }

  /** Shared candidate+verify stage of the one-call pipelines: LSH
    * candidates over the (already exact-deduped) docs, Jaccard-verified
    * at `threshold`. */
  private def verifiedNearDupPairs(unique: DataFrame, textCol: String, idCol: String,
                                   threshold: Double, numHashes: Int,
                                   bands: Int, shingleN: Int): DataFrame =
    jaccardVerify(
      minhashLshFast(unique, textCol, idCol, numHashes, bands, shingleN),
      unique, textCol, idCol)
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id")

  /** Incremental ingestion dedup — the daily-pipeline mode: clean a NEW
    * batch against the EXISTING (already-deduplicated) corpus, then
    * within itself. Existing docs are never dropped (they already won);
    * a new doc is dropped if it exactly matches an existing text, is a
    * verified near-dup of an existing doc, or loses the within-batch
    * near-dup resolution. Returns the new batch's surviving rows.
    *
    * Ids must be unique ACROSS both frames (the verify stage joins a
    * union). Scale shape: the exact stage is an anti join on content
    * hash; the near stage is an ASYMMETRIC band join (new × existing
    * only — never existing × existing, which was already resolved), so
    * cost scales with the batch, not the corpus². At 100 TB, persist the
    * corpus's (doc, band) keys bucketed on `band`
    * (`Formats.writeBucketedTable`) instead of recomputing them per
    * batch — this operator recomputes for self-containment. */
  def dedupIncremental(newDocs: DataFrame, existing: DataFrame, textCol: String,
                       idCol: String, threshold: Double = 0.8,
                       numHashes: Int = 8, bands: Int = 2, shingleN: Int = 3,
                       parity: Boolean = false): DataFrame = {
    // Stage 1 — exact: drop batch docs matching an existing text, then
    // keep one copy per identical within-batch text (catches short docs
    // the shingle stages can't see). Barrier: `fresh` anchors
    // the band keys, the verify union, and the final anti join — without
    // it the corpus-wide hash anti-join re-executes for each.
    val existingHashes = existing.select(md5(col(textCol)).as("__eh")).distinct()
    // NO barrier on vsCorpus, deliberately: it is read twice (the
    // within-batch exact stage and the semi join below), but both reads
    // fuse into `fresh`'s one materialization and the producer is a
    // single hash anti join — measured in r14's interleave, a
    // barrier here cost +45% of the whole query (the
    // materialize-vs-recompute trade VERDICT r13 flagged: the producer
    // is cheaper than storing and re-reading the text blocks).
    val vsCorpus = newDocs
      .join(existingHashes, md5(newDocs(textCol)) === col("__eh"), "left_anti")
    val fresh = Barrier(vsCorpus.join(
      exact(vsCorpus, textCol, idCol).select(col("keep_id").as("__keep")),
      vsCorpus(idCol) === col("__keep"), "leftsemi"))
    // Stage 2 — ONE pair graph across both frames: new×existing pairs
    // from an asymmetric band join plus new×new pairs from the self
    // join, verified together and resolved as one set of connected
    // components. Resolving jointly is what makes a batch doc whose
    // only link to the corpus runs THROUGH another (dropped) batch doc
    // still collapse into the corpus cluster — two separate passes
    // would leak such transitive dups into the survivor set.
    // `parity` swaps the xxhash64 band keys for the md5-sliced family so a
    // DuckDB oracle can replay the candidate stage verbatim (q113); the
    // production default stays the fast long-hash scheme.
    val family = if (parity) MinHashFamily.Md5Hex else MinHashFamily.XxHash64
    // ONE signature pass over the batch serves both candidate joins (the
    // within-batch LSH is definitionally the band-key self join, so
    // deriving it from the checkpointed keys changes nothing but the
    // pass count — the shingle+minhash map stage is the expensive part).
    // The barrier sits after the a_id rename (lshPairs' sits before
    // it), so this self-join is its own: sharing lshPairs' would move
    // the barrier and re-plan q113's candidate joins.
    val nb = Barrier(bandKeys(fresh, textCol, idCol, numHashes, bands, shingleN, family)
      .select(col("doc").as("a_id"), col("band")))
    val eb = bandKeys(existing, textCol, idCol, numHashes, bands, shingleN, family)
      .select(col("doc").as("b_id"), col("band"))
    val candNE = nb.join(eb, Seq("band")).select("a_id", "b_id").distinct()
    val candNN = nb
      .join(nb.select(col("a_id").as("b_id"), col("band")), Seq("band"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val both = fresh.select(col(idCol), col(textCol))
      .union(existing.select(col(idCol), col(textCol)))
    val verified = jaccardVerify(candNE.union(candNN).distinct(), both, textCol, idCol)
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id")
    keepNewSurvivors(fresh, existing, verified, idCol)
  }

  /** Stage 3 of the incremental paths — survivor policy: existing docs
    * always win (they are the corpus). A batch doc survives iff its
    * cluster holds no existing doc AND it is the cluster's min-id batch
    * member (= cluster_id, since min-label propagation labels by global
    * min and the cluster is all-new). Unpaired batch docs survive
    * untouched. Returns `batch`'s surviving rows. */
  private def keepNewSurvivors(batch: DataFrame, existing: DataFrame, pairs: DataFrame,
                               idCol: String): DataFrame = {
    val clusters = resolveClusters(pairs)
    val contaminated = clusters
      .join(existing.select(col(idCol).as("doc_id")), Seq("doc_id"), "leftsemi")
      .select("cluster_id").distinct()
    val dropNew = clusters
      .join(existing.select(col(idCol).as("doc_id")), Seq("doc_id"), "left_anti")
      .join(contaminated.withColumn("__c", lit(1L)), Seq("cluster_id"), "left")
      .filter(col("__c").isNotNull || col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    batch.join(dropNew, batch(idCol) === dropNew("doc_id"), "left_anti")
  }

  /** EXACT all-pairs set-similarity join via prefix filtering (the
    * AllPairs/PPJoin family): every pair of docs with word-set Jaccard
    * ≥ `tau` — guaranteed, no false negatives — without an O(n²) cross
    * join. LSH ([[minhashLsh]]) trades recall for speed; this is the
    * deterministic counterpart for when "we dropped a duplicate we never
    * compared" is unacceptable (legal dedup, eval-set integrity).
    *
    * Prefix-filter theorem: order every doc's distinct tokens by one
    * global rarity order (freq asc, token asc — rarest first). If
    * J(x,y) ≥ τ then |x∩y| ≥ ⌈τ·|x|⌉, so x and y MUST share a token
    * among each one's first |x| − ⌈τ·|x|⌉ + 1 ordered tokens — docs
    * pair only when their (short) prefixes collide, and rare-first
    * ordering makes prefix postings lists short: the candidate join is
    * keyed on rare tokens, never on stopwords.
    *
    * Shapes: one token-frequency count (broadcastable dim), one per-doc
    * sort of its own tokens (map-side, doc-length-bounded), a prefix
    * explode (≈ (1−τ)·tokens per doc) self-joined on token, then a
    * candidate-local verify that REUSES the per-doc token arrays the
    * prefix stage already built (two id-keyed joins + a per-pair
    * array_intersect, O(|x|+|y|) per candidate) — re-tokenizing the
    * corpus through [[jaccardVerify]] cost two extra corpus explodes
    * and four shuffles for data this stage already holds. Output:
    * (a_id, b_id, jaccard) for pairs ≥ τ. */
  def similarityJoin(df: DataFrame, textCol: String, idCol: String,
                     tau: Double): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1], got $tau")
    val toks = df.select(col(idCol).as("doc"),
      explode(array_distinct(TextFns.words(col(textCol)))).as("w"))
    // Token frequency as a WINDOW over the token rows, not a separate
    // aggregate joined back: the join form planted `toks` (the corpus
    // tokenize+explode) twice in the plan — Spark does not CSE — and
    // paid the freq aggregate's exchange on top of the join's sort of
    // the token rows by `w`. One window = one tokenize pass, one
    // w-keyed exchange, and the same (token, frequency) rows. NOT a
    // broadcast join for the same reason as before: the distinct-token
    // table is vocabulary-sized (Heaps'-law unbounded), far past any
    // broadcast ceiling on a real corpus; hot-token skew lands the same
    // rows in one partition either way.
    // Barrier: `ordered` is referenced FOUR times below (both
    // prefix sides, both verify token-set sides) — without the barrier
    // the tokenize + freq-window + per-doc sort chain plans (and runs)
    // four times (the round-10 plan was 85 nodes with three extra
    // corpus scans; the r11 sf1 pairing showed the fixed multi-stage
    // cost IS q80's whole runtime). Materializing the per-doc
    // ordered-token frame once is strictly cheaper at any scale — it is
    // the operator's working set, read four ways.
    val wWin = org.apache.spark.sql.expressions.Window.partitionBy("w")
    val ordered = Barrier(toks
      .withColumn("__f", count(lit(1)).over(wWin))
      .groupBy("doc")
      .agg(sort_array(collect_list(struct(col("__f"), col("w")))).as("__ord"),
        count(lit(1)).as("__sz")))
    val prefixLen = (col("__sz") - ceil(lit(tau) * col("__sz")) + 1).cast("int")
    val prefixes = ordered.select(col("doc"), col("__sz"),
      explode(slice(transform(col("__ord"), s => s.getField("w")), lit(1), prefixLen)).as("pw"))
    // PPJoin length filter: J(x,y) ≥ τ forces τ ≤ |x∩y|/|x∪y| ≤
    // min(|x|,|y|)/max(|x|,|y|), so a size-mismatched pair can NEVER
    // verify — drop it at the candidate join (the predicate rides the
    // joined row, so the dominant mismatched-size candidate class dies
    // before the distinct shuffle and the verify token joins). The
    // filter is the DIVISION form, not lb·τ ≤ la: the verify stage
    // compares jaccard ≥ τ with an IEEE division, and jaccard is
    // maximized at inter = min(la,lb) where it equals exactly this
    // min/max quotient — fl is monotone, so pruning on the same rounded
    // quotient can never drop a pair the verify division would accept
    // (the multiplication form could, at an exact threshold boundary).
    val candidates = prefixes.select(col("doc").as("a_id"), col("__sz").as("__la"), col("pw"))
      .join(prefixes.select(col("doc").as("b_id"), col("__sz").as("__lb"), col("pw")), Seq("pw"))
      .filter(col("a_id") < col("b_id") &&
        least(col("__la"), col("__lb")).cast("double") /
          greatest(col("__la"), col("__lb")).cast("double") >= lit(tau))
      .select("a_id", "b_id").distinct()
    val tokenSets = ordered.select(col("doc"),
      transform(col("__ord"), s => s.getField("w")).as("__ws"), col("__sz"))
    candidates
      .join(tokenSets.select(col("doc").as("a_id"), col("__ws").as("__wa"),
        col("__sz").as("__sza")), Seq("a_id"))
      .join(tokenSets.select(col("doc").as("b_id"), col("__ws").as("__wb"),
        col("__sz").as("__szb")), Seq("b_id"))
      .withColumn("__inter", size(array_intersect(col("__wa"), col("__wb"))))
      .withColumn("jaccard",
        col("__inter") / (col("__sza") + col("__szb") - col("__inter")))
      .filter(col("jaccard") >= tau)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** [[survivors]] with a CONFIGURABLE survivor policy: each cluster
    * keeps the doc maximizing `orderCol` (ties to the smaller id) —
    * real pipelines keep the LONGEST or highest-quality copy, not the
    * smallest id (a near-dup cluster often holds one full article and
    * several truncated scrapes; min-id keeps whichever crawled first).
    * `orderCol` must be computable from a `docs` row (e.g.
    * `length(col("text"))` or a quality score).
    *
    * Winner selection rides TopKPerKey k=1 per cluster (bounded heaps,
    * one row per cluster per partition over the shuffle); the winner
    * list joins back keyed on cluster_id. */
  def survivorsBy(docs: DataFrame, pairs: DataFrame, idCol: String,
                  orderCol: org.apache.spark.sql.Column): DataFrame = {
    val clusters = resolveClusters(pairs)
    val withC = docs.select(col(idCol).as("doc_id"), orderCol.as("__ord"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"), col("__ord"))
    val winners = graft.plans.TopK.perKey(withC, Seq("cluster_id"),
        Seq(graft.plans.TopK.desc("__ord"), graft.plans.TopK.asc("doc_id")), k = 1)
      .select(col("cluster_id"), col("doc_id").as("__winner"))
    withC.join(winners, Seq("cluster_id"))
      .withColumn("keep", (col("doc_id") === col("__winner")).cast("long"))
      .select("doc_id", "cluster_id", "keep")
  }

  /** [[dedupCorpus]] with the [[survivorsBy]] policy: LSH candidates →
    * Jaccard verify at `threshold` → connected components → the doc
    * maximizing `orderCol` survives per cluster. The exact pre-stage
    * also keeps the policy winner per identical text (not min id).
    *
    * The result is materialized once: the survivor frame sits behind the
    * same lazy corpus-level [[graft.Barrier]] as `unique` (stored by the
    * first action), so every later action
    * on it (a collect, a word count, a downstream checksum) reads the
    * stored rows instead of re-running the loser anti join and its
    * TopKPerKey winner selection. Two consequences: the barrier blocks
    * column pruning below it, so a consumer's `select(idCol)` still reads
    * the stored text; and once the survivors are stored, `unique`'s
    * blocks are unreachable from the result and the ContextCleaner frees
    * them when the working frames are collected. */
  def dedupCorpusBy(df: DataFrame, textCol: String, idCol: String,
                    orderCol: org.apache.spark.sql.Column,
                    threshold: Double = 0.8,
                    numHashes: Int = 8, bands: Int = 2, shingleN: Int = 3): DataFrame = {
    // exact pre-stage under the same policy: best copy per identical text
    val exactWinners = graft.plans.TopK.perKey(
        df.select(col(idCol).as("doc_id"), md5(col(textCol)).as("__h"), orderCol.as("__ord")),
        Seq("__h"), Seq(graft.plans.TopK.desc("__ord"), graft.plans.TopK.asc("doc_id")), k = 1)
      .select(col("doc_id").as("__keep"))
    // the shared working set — same corpus-sized barrier as dedupCorpus
    val unique = Barrier(
      df.join(exactWinners, df(idCol) === col("__keep"), "leftsemi"), corpus = true)
    val verified = verifiedNearDupPairs(unique, textCol, idCol,
      threshold, numHashes, bands, shingleN)
    val losers = survivorsBy(unique, verified, idCol, orderCol)
      .filter(col("keep") === 0L).select("doc_id")
    Barrier(unique.join(losers, unique(idCol) === losers("doc_id"), "left_anti"), corpus = true)
  }

  /** Packed-label bit width sized from a codebook's max `cluster` id —
    * one tiny agg over the (small) centroid frame. */
  private[graft] def autoBits(centroids: DataFrame): Int = {
    val maxId = centroids.agg(max(col("cluster").cast("int"))).head() match {
      case r if r.isNullAt(0) => 0
      case r => math.max(0, r.getInt(0))
    }
    bitWidth(maxId)
  }

  /** Bits that hold every label in [0, maxId] (at least 1). */
  private def bitWidth(maxId: Long): Int =
    math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, maxId)))

  /** Shared survivor tail of the one-call dedup pipelines: resolve the
    * verified pair graph to clusters, drop every doc that is not its
    * cluster's min-id survivor. */
  private[graft] def dropLosers(df: DataFrame, verifiedPairs: DataFrame, idCol: String): DataFrame = {
    val losers = resolveClusters(verifiedPairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    df.join(losers, df(idCol) === losers("doc_id"), "left_anti")
  }

  /** [[dedupCorpus]] for embeddings: sign-LSH candidates above `threshold`
    * cosine → connected components → min-id survivor per cluster → the
    * corpus with near-duplicate vectors dropped. Same cluster semantics
    * as the text path (transitive dups collapse). */
  def dedupCorpusByEmbedding(df: DataFrame, vecCol: String, idCol: String,
                             threshold: Double, bits: Int = 4, tables: Int = 1): DataFrame = {
    val verified = byEmbedding(df, vecCol, idCol, threshold, bits, tables)
      .select("a_id", "b_id")
    dropLosers(df, verified, idCol)
  }

  /** Embedding near-duplicate candidate pairs: sign-LSH bucket blocking +
    * cosine above `threshold` inside each bucket.
    *
    * Scale shape: size `bits` with the data (`KnnJoin.bitsFor`) so bucket
    * population stays bounded — a fixed small bucket count makes the
    * within-bucket self-join quadratic. `tables > 1` unions independent
    * seeded-hyperplane bucketings (multi-table LSH) to recover recall lost
    * to finer buckets; candidate pairs are deduped across tables. */
  def byEmbedding(df: DataFrame, vecCol: String, idCol: String,
                  threshold: Double, bits: Int = 4, tables: Int = 1): DataFrame =
    // one bucketing pass feeds both self-join sides (same barrier as
    // minhashLsh's band keys)
    bucketPairs(Barrier(embeddingBuckets(df, vecCol, idCol, bits, tables)), threshold, tables)

  /** (a_id, b_id, cosine) pairs (a_id < b_id, deduped across tables) of
    * the vectors sharing a bucket in an (id, vec, bucket) frame, cosine
    * at least `threshold` — the bucket self-join. */
  private def bucketPairs(keys: DataFrame, threshold: Double, tables: Int): DataFrame = {
    val a = keys.select(col("id").as("a_id"), col("vec").as("a_vec"), col("bucket"))
    val b = keys.select(col("id").as("b_id"), col("vec").as("b_vec"), col("bucket"))
    val pairs = a.join(b, Seq("bucket")).filter(col("a_id") < col("b_id"))
    val distinctPairs = if (tables == 1) pairs else pairs.dropDuplicates("a_id", "b_id")
    distinctPairs
      .withColumn("cosine", VectorFns.cosine(col("a_vec"), col("b_vec")))
      .filter(col("cosine") >= threshold)
      .select("a_id", "b_id", "cosine")
  }

  /** (id, vec, bucket) sign/hyperplane-LSH keys shared by the
    * [[byEmbedding]] self join and [[dedupIncrementalByEmbedding]]'s
    * asymmetric batch-vs-corpus join. */
  private def embeddingBuckets(df: DataFrame, vecCol: String, idCol: String,
                               bits: Int, tables: Int): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    val bcols = (0 until tables).map { tab =>
      val b = if (tab == 0) VectorFns.signBucket(col(vecCol), bits)
              else VectorFns.planeBucket(col(vecCol), bits, seed = tab)
      (b + lit(tab.toLong << 32)).as(s"b$tab")
    }
    df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      explode(array(bcols: _*)).as("bucket"))
  }

  /** [[dedupIncremental]] for embeddings: clean a new batch of vectors
    * against the existing corpus, then within itself, via ONE unified
    * pair graph (asymmetric bucket join new×existing + self join
    * new×new) — so a batch vector tied to the corpus only through
    * another dropped batch vector still collapses into the corpus
    * cluster. Existing vectors always win; an all-new cluster keeps its
    * min id. Same id-uniqueness contract as the text path. */
  def dedupIncrementalByEmbedding(newDocs: DataFrame, existing: DataFrame,
                                  vecCol: String, idCol: String, threshold: Double,
                                  bits: Int = 4, tables: Int = 1): DataFrame = {
    // ONE bucketing pass over the batch serves the asymmetric join AND
    // the within-batch self join (the dedupIncremental band-key pattern)
    val nbk = Barrier(embeddingBuckets(newDocs, vecCol, idCol, bits, tables))
    val nb = nbk.select(col("id").as("a_id"), col("vec").as("a_vec"), col("bucket"))
    val eb = embeddingBuckets(existing, vecCol, idCol, bits, tables)
      .select(col("id").as("b_id"), col("vec").as("b_vec"), col("bucket"))
    val candNE = nb.join(eb, Seq("bucket"))
      .dropDuplicates("a_id", "b_id")
      .withColumn("cosine", VectorFns.cosine(col("a_vec"), col("b_vec")))
      .filter(col("cosine") >= threshold)
      .select("a_id", "b_id")
    // within-batch pairs from the same checkpointed keys — value-identical
    // to byEmbedding(newDocs, …) (same buckets, same cosine, same dedup)
    val candNN = bucketPairs(nbk, threshold, tables).select("a_id", "b_id")
    keepNewSurvivors(newDocs, existing, candNE.union(candNN).distinct(), idCol)
  }

  /** Near-duplicate pairs over a 64-bit FINGERPRINT column (SimHash,
    * image aHash/dHash/pHash — [[graft.multimodal.ImageHash]], any
    * 64-bit sketch) within Hamming distance `maxDist`, found by banded
    * Hamming LSH: the hash splits into `bands` disjoint bit chunks, and
    * by pigeonhole two hashes differing in ≤ maxDist < bands bits MUST
    * agree exactly on at least one chunk — so the chunk-keyed self-join
    * has PERFECT recall (never a heuristic), and `bit_count(a ^ b)`
    * verifies candidates exactly.
    *
    * Scale shape: candidates shuffle on (band, chunk-key) — with
    * 64/bands-bit chunks the per-band collision rate on unrelated
    * hashes is 2^-(64/bands), so candidate volume tracks the true
    * near-dup volume, not n². Verify is one codegen'd XOR+popcount per
    * candidate. Same contract as the MinHash band join (q31) with the
    * Jaccard verify replaced by exact popcount. */
  def hammingPairs(df: DataFrame, hashCol: String, idCol: String,
                   maxDist: Int, bands: Int = 4): DataFrame = {
    require(bands >= 1 && 64 % bands == 0, s"bands must divide 64, got $bands")
    require(maxDist >= 0 && maxDist < bands,
      s"pigeonhole recall guarantee needs maxDist < bands (got $maxDist >= $bands)")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    // one fingerprint pass feeds both self-join sides: the upstream
    // hash computation (SimHash/pHash per row) must not run twice
    val keyed = Barrier(df
      .select(col(idCol).as("id"), col(hashCol).cast("long").as("h"))
      .select(col("id"), col("h"), explode(array((0 until bands).map { i =>
        struct(lit(i).as("band"),
          shiftright(col("h"), i * width).bitwiseAND(lit(mask)).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("h"), col("bk.band").as("band"), col("bk.key").as("key")))
    val a = keyed.select(col("id").as("a_id"), col("h").as("a_h"), col("band"), col("key"))
    val b = keyed.select(col("id").as("b_id"), col("h").as("b_h"), col("band"), col("key"))
    // popcount-filter BEFORE the pair dedup: dist is computable from
    // columns already on the joined row, so the dominant candidate class
    // (unrelated chunk collisions, 2^-(64/bands) of n²/2) dies map-side
    // instead of shuffling through dropDuplicates
    a.join(b, Seq("band", "key")).filter(col("a_id") < col("b_id"))
      .withColumn("dist", bit_count(col("a_h").bitwiseXOR(col("b_h"))))
      .filter(col("dist") <= maxDist)
      .dropDuplicates("a_id", "b_id")
      .select("a_id", "b_id", "dist")
  }

  /** [[dedupCorpus]] for fingerprint columns: Hamming pairs within
    * `maxDist` → connected components → min-id survivor per cluster →
    * the corpus with fingerprint near-duplicates dropped. */
  def dedupCorpusByHammingHash(df: DataFrame, hashCol: String, idCol: String,
                               maxDist: Int, bands: Int = 4): DataFrame =
    dropLosers(df, hammingPairs(df, hashCol, idCol, maxDist, bands)
      .select("a_id", "b_id"), idCol)

  /** Semantic near-duplicate pairs, SemDeDup-style (Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to its nearest centroid by
    * cosine, then search for pairs above `threshold` ONLY inside a
    * cluster. The data-adaptive counterpart to [[byEmbedding]]'s random
    * hyperplanes: k-means centroids follow the corpus's density, so hot
    * regions split across many centroids instead of hashing into one
    * overloaded bucket, and `k` tunes candidate cost directly
    * (Σ|cluster|² vs n²).
    *
    * `centroids`: (`cluster`: Int, `centroid`: array<double>) — from
    * [[KMeans.fit]] (see [[semanticDedupAuto]]) or any externally trained
    * coarse quantizer (the IVF codebook double-serves here).
    *
    * Scale shape: centroids are k×d doubles broadcast to every task; the
    * assignment is one map pass planned as a packed-long HASH aggregate
    * (ArgMaxPack — see q44's precision note: near-ties within ~2^-48
    * relative break toward the larger cluster id); the only shuffle is
    * the cluster-keyed pair self-join. A skewed giant cluster is the
    * signal to raise k — the same contract as IVF list sizing.
    */
  def semanticPairs(df: DataFrame, vecCol: String, idCol: String,
                    centroids: DataFrame, threshold: Double): DataFrame =
    pairsFromAssigned(assignNearest(df, vecCol, idCol, centroids), threshold)

  /** [[semanticPairs]] on the two-level assignment — the form for
    * codebooks too large to collect ([[assignNearestTwoLevel]]'s
    * contract); same within-cluster pair semantics. */
  def semanticPairsTwoLevel(df: DataFrame, vecCol: String, idCol: String,
                            centroids: DataFrame, threshold: Double,
                            coarseK: Int = 0, clusterBits: Int = 0): DataFrame =
    pairsFromAssigned(
      assignNearestTwoLevel(df, vecCol, idCol, centroids, coarseK, clusterBits),
      threshold)

  /** Within-cluster cosine pairs over an (id, cluster, vec) assignment —
    * the shared tail of the flat and two-level SemDeDup paths. The
    * assignment (k×d flops per row — the SemDeDup scale cost at k ∝ n)
    * feeds both self-join sides: materialize it once rather than running
    * the nearest-centroid scan twice. */
  private def pairsFromAssigned(assigned: DataFrame, threshold: Double): DataFrame = {
    val once = Barrier(assigned)
    val a = once.select(col("cluster"), col("id").as("a_id"), col("vec").as("a_vec"))
    val b = once.select(col("cluster"), col("id").as("b_id"), col("vec").as("b_vec"))
    a.join(b, Seq("cluster")).filter(col("a_id") < col("b_id"))
      .withColumn("cosine", VectorFns.cosine(col("a_vec"), col("b_vec")))
      .filter(col("cosine") >= threshold)
      .select("cluster", "a_id", "b_id", "cosine")
  }

  /** Data-scaled exact-mean codebook for [[semanticPairs]] when a label
    * column (or any coarse category) exists: B = ceil(n / (L·S)) id-blocks
    * per label, centroid = exact decimal mean of each (label, id mod B)
    * group. Because B grows linearly with the corpus at fixed target
    * population S, max-cluster population stays bounded and Σ|cluster|²
    * (the candidate-pair cost) grows ~linearly in n — the parameterization
    * q89 practices and SemanticScaleSpec pins. Deterministic and
    * SQL-mirrorable (unlike a trained codebook); for unlabeled corpora use
    * [[semanticDedupAuto]], whose k-means k should scale the same way
    * (k ≈ n/S). Returns the (cluster, centroid) frame plus the label bit
    * width, the `clusterBits` of [[assignNearestTwoLevel]]. */
  def blockCentroids(df: DataFrame, vecCol: String, idCol: String,
                     labelCol: String, targetClusterSize: Int = 25): (DataFrame, Int) = {
    require(targetClusterSize >= 1, s"targetClusterSize must be >= 1, got $targetClusterSize")
    import graft.functions.Num.davg
    val sizes = df.agg(count(lit(1)).as("n"), countDistinct(col(labelCol)).as("l")).head()
    val (n, l) = (sizes.getLong(0), sizes.getLong(1))
    require(l > 0, "blockCentroids: empty input")
    val b = math.max(1L, math.ceil(n.toDouble / (l * targetClusterSize.toDouble)).toLong)
    val nClusters = l * b
    val labelBits = bitWidth(nClusters - 1)
    val cents = df
      .select(col(labelCol).as("__lab"), (col(idCol) % b).cast("int").as("__blk"),
        posexplode(col(vecCol)).as(Seq("__pos", "__comp")))
      .groupBy("__lab", "__blk", "__pos")
      .agg(davg(col("__comp").cast("double")).as("__c"))
      .groupBy("__lab", "__blk")
      .agg(transform(array_sort(collect_list(struct(col("__pos"), col("__c")))),
        f => f.getField("__c")).as("centroid"))
      .select((col("__lab").cast("long") * b + col("__blk")).cast("int").as("cluster"),
        col("centroid"))
    (cents, labelBits)
  }

  /** Nearest-centroid assignment by cosine: (id, vec, cluster), as ONE
    * projection — the native [[graft.expressions.NearestCentroid]]
    * expression runs the k×d cosine loop per row over a plan-literal
    * codebook (k-sized by contract, collected once; norms accumulate in
    * the same array order as VectorFns.dot, so cosines are
    * bit-identical). The prior crossJoin + ArgMaxPack form materialized
    * n×k wide rows and re-aggregated them keyed on the full vector — at
    * k ∝ n (the scale-honest blocking) that join was the new quadratic
    * hot spot (q89 sf1: 100M joined rows); a transform/array_max HOF
    * keeps rows flat but pays k interpreted lambda evals per row (worse
    * than the join at k in the thousands — measured). Ties break at
    * FULL precision to the larger cluster id — exactly the oracle's
    * ORDER BY cosine DESC, assigned DESC (the old packed form collapsed
    * near-ties within ~2^-48; gate data's min assignment gap is 7.2e-6,
    * so selections agree). */
  private[graft] def assignNearest(df: DataFrame, vecCol: String, idCol: String,
                                   centroids: DataFrame): DataFrame = {
    val cents = centroids.select(col("cluster").cast("int").as("cluster"),
      col("centroid").cast("array<double>").as("centroid"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    val best = graft.expressions.NearestCentroid.cosine(
      col("vec"), cents.map(_._2), cents.map(_._1))
    df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("__best", best)
      .select(col("id"), col("__best").getField("cluster").as("cluster"), col("vec"))
  }

  /** Two-level (coarse → fine) nearest-centroid assignment — the scale
    * form of [[assignNearest]] for codebooks too large to hold on the
    * driver or ship as a plan literal. The scale-honest k ∝ n contract
    * makes the flat form O(n·k·d) total flops behind a k×d driver
    * collect (n = 10⁹ at S = 25 → 2.5M centroids ≈ 1.3 GB literal);
    * here the fine codebook STAYS DISTRIBUTED. ceil(√k) coarse
    * centroids are trained over the centroid frame itself (KMeans.fit —
    * the only collect anywhere, √k×d on the driver), each fine centroid
    * keys to its nearest coarse cell, rows route to their nearest
    * coarse cell by the same cosine, and the fine argmax runs inside
    * the routed cell: a cell-keyed shuffle join + packed-long hash
    * aggregate. Expected work O(n·√k·d) (cells hold ~√k fine
    * centroids), so with k ∝ n assignment grows ~n^1.5 instead of n² —
    * SemanticScaleSpec pins the candidate-row growth and flat/two-level
    * agreement.
    *
    * Approximation contract (the standard IVF trade): a row whose true
    * nearest fine centroid sits in a different coarse cell than the row
    * routes to gets its cell-local best instead — for semantic-dedup
    * blocking that only moves boundary vectors between blocks (the same
    * disclosed recall class as q89's label blocks). Rows route only
    * among cells that hold ≥ 1 fine centroid (KMeans can leave a coarse
    * cell empty; routing to it would drop the row). Rows with
    * null/ragged vectors drop out (a null cell never joins); the flat
    * form keeps them with a null cluster, which equally never joins a
    * pair. Ties break to the LARGER cluster id at ArgMaxPack's packed
    * precision (2^-(52-bits) relative — ~5e-7 even at the 31-bit label
    * ceiling, far below any meaningful cosine gap; the flat form ties
    * at full precision); `clusterBits` auto-sizes to the codebook, so
    * k ∝ n never hits a fixed bit cap.
    *
    * The centroid frame is evaluated SEVERAL times here (count, coarse
    * fit passes, cell keying, the non-empty-cell collect, plus the
    * auto-bits agg when `clusterBits` is left 0) — put expensively-derived
    * codebooks behind a [[graft.Barrier]] before calling, and pass
    * `clusterBits` when the caller already knows k ([[semanticDedup]]
    * forwards its labelBits). */
  def assignNearestTwoLevel(df: DataFrame, vecCol: String, idCol: String,
                            centroids: DataFrame, coarseK: Int = 0,
                            clusterBits: Int = 0,
                            coarseInit: KMeans.Init = KMeans.KMeansParallel,
                            coarseIters: Int = 5,
                            coarseTol: Double = 1e-6): DataFrame = {
    // clusterBits = 0 ⇒ auto-size to the codebook's max cluster id, so
    // k ∝ n label spaces never hit a fixed-bit ceiling (ArgMaxPack
    // carries up to 31 bits — 2^31 fine centroids, n ≈ 5·10^10 at
    // S = 25, before the Int label itself becomes the next ceiling)
    val bits = if (clusterBits > 0) clusterBits else autoBits(centroids)
    val routed = twoLevelCandidates(df, vecCol, idCol, centroids, coarseK,
      coarseInit, coarseIters, coarseTol)
    val packed = graft.expressions.ArgMaxPack.of(
      col("__cos"), col("__fine"), bits)
    routed
      .groupBy("id")
      .agg(max(packed).as("__packed"), first(col("vec")).as("vec"))
      .withColumn("cluster",
        graft.expressions.ArgMaxPack.unpackLabel(col("__packed"), bits))
      .select(col("id"), col("cluster"), col("vec"))
  }

  /** The two-level candidate frame pre-argmax: one row per (routed row,
    * fine centroid in its coarse cell) with the cosine attached — split
    * out so SemanticScaleSpec can count candidate work directly. */
  private[graft] def twoLevelCandidates(df: DataFrame, vecCol: String, idCol: String,
                                        centroids: DataFrame, coarseK: Int = 0,
                                        coarseInit: KMeans.Init = KMeans.KMeansParallel,
                                        coarseIters: Int = 5,
                                        coarseTol: Double = 1e-6): DataFrame = {
    val cents = centroids.select(col("cluster").cast("int").as("__fine"),
      col("centroid").cast("array<double>").as("__fc"))
    val kc =
      if (coarseK > 0) coarseK
      else math.max(1, math.ceil(math.sqrt(
        math.max(1L, cents.count()).toDouble)).toInt)
    // coarseInit/coarseIters/coarseTol expose the coarse fit to callers
    // that need the SQL-mirrorable configuration (FirstIds seeds, fixed
    // rounds, tol = 0 — the q89b recipe); the defaults keep the
    // production k-means|| seeding with early stop
    val coarse = KMeans.fit(cents, "__fine", "__fc", kc,
      maxIters = coarseIters, tol = coarseTol, diagnostics = false,
      seedRounds = 2, init = coarseInit)
    val coarseArr = coarse.centroids
      .select(col("cluster").cast("int"), col("centroid").cast("array<double>"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    def cellOf(arr: Array[(Int, Array[Double])])(vec: Column): Column =
      graft.expressions.NearestCentroid.cosine(
        vec, arr.map(_._2), arr.map(_._1)).getField("cluster")
    val fineByCell = cents.withColumn("__cell", cellOf(coarseArr)(col("__fc")))
    // DATA rows route only among cells that actually HOLD a fine
    // centroid: KMeans can leave a coarse centroid with zero fine
    // members (empty clusters keep their previous centroid), and a row
    // whose nearest coarse cell were empty would silently vanish in the
    // inner join below — a contract break vs the flat form's
    // one-row-out-per-row-in. The non-empty cell set is ≤ √k ints.
    // null __cell = a null/ragged codebook vector: it can never join a
    // routed row (null key), so exclude it here too — collecting it
    // would NPE the getInt
    val nonEmpty = fineByCell.select("__cell")
      .filter(col("__cell").isNotNull).distinct()
      .collect().map(_.getInt(0)).toSet
    val routerArr = coarseArr.filter { case (id, _) => nonEmpty.contains(id) }
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .withColumn("__cell", cellOf(routerArr)(col("vec")))
      .join(fineByCell, Seq("__cell"))
      .withColumn("__cos", VectorFns.cosine(col("vec"), col("__fc")))
  }

  /** [[dedupCorpus]] with SemDeDup blocking: semantic pairs above
    * `threshold` → connected components → min-id survivor per cluster →
    * the corpus with semantic duplicates dropped. `labelBits` is the
    * two-level path's packed-label width (the flat path packs no label):
    * it must cover the codebook's max cluster id (an undersized value
    * throws loudly from ArgMaxPack, never a silent wrong argmax) — leave
    * it 0 to auto-size from the codebook (one tiny agg; put an
    * expensively-derived centroid frame behind a [[graft.Barrier]] first), or
    * pass the known width as [[semanticDedupAuto]] does from k. */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
                    centroids: DataFrame, threshold: Double,
                    labelBits: Int = 0, twoLevel: Boolean = false): DataFrame = {
    val pairs =
      if (twoLevel) semanticPairsTwoLevel(df, vecCol, idCol, centroids, threshold,
        clusterBits = labelBits)
      else semanticPairs(df, vecCol, idCol, centroids, threshold)
    dropLosers(df, pairs.select("a_id", "b_id"), idCol)
  }

  /** Codebook size beyond which the trained dedup paths switch from the
    * flat plan-literal assignment to [[assignNearestTwoLevel]]: 64k
    * centroids × 64 dims ≈ 34 MB of plan literal is about the ceiling a
    * driver/broadcast should carry. */
  val MaxLocalCodebook: Int = 1 << 16

  /** [[semanticDedup]] end to end: train the coarse clustering with
    * deterministic k-means|| Lloyd ([[KMeans.fit]]), then dedup inside
    * its clusters. One extra pass per Lloyd round; everything else
    * identical to the pre-trained path. */
  def semanticDedupAuto(df: DataFrame, vecCol: String, idCol: String,
                        k: Int, threshold: Double,
                        maxIters: Int = 10): DataFrame = {
    // blocking codebook: skip fit's inertia/size diagnostics (two corpus
    // passes nothing downstream reads) and settle for 2 seeding rounds
    val model = KMeans.fit(df, idCol, vecCol, k, maxIters,
      diagnostics = false, seedRounds = 2)
    semanticDedup(df, vecCol, idCol,
      model.centroids.select("cluster", "centroid"), threshold, bitWidth(k - 1),
      twoLevel = k > MaxLocalCodebook)
  }

  /** [[semanticDedupAuto]] in its ORACLE-CHECKABLE form: seeds are the k
    * smallest-id vectors ([[KMeans.FirstIds]]) and the Lloyd loop runs a
    * FIXED `iters` rounds (`tol = 0` disables early stop), so every step
    * — seeding, per-round L2 argmin assignment, decimal-exact mean
    * update with empty clusters keeping their previous centroid, then
    * the cosine blocking + verify + components tail — is a deterministic
    * function an external SQL engine can replay round by round (q89b
    * unrolls the rounds as CTEs the way q26 unrolled Newton). Production
    * corpora should prefer [[semanticDedupAuto]]'s k-means|| seeding;
    * the pipelines are otherwise identical. */
  def semanticDedupFixed(df: DataFrame, vecCol: String, idCol: String,
                         k: Int, threshold: Double, iters: Int): DataFrame = {
    val model = KMeans.fit(df, idCol, vecCol, k, maxIters = iters, tol = 0.0,
      diagnostics = false, init = KMeans.FirstIds)
    // always the flat path: this is the ORACLE-mirrorable form, and its
    // KMeans.fit already holds k on the driver (oracle-checkable k is
    // small by construction)
    semanticDedup(df, vecCol, idCol, model.centroids.select("cluster", "centroid"), threshold)
  }
}
