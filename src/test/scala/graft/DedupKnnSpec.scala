package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFns, VectorFns}
import graft.operators.{Dedup, KnnJoin}

class DedupKnnSpec extends SparkSpec {
  import spark.implicits._

  test("similarityJoin finds exactly the brute-force Jaccard pairs (no false negatives)") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions._
    // random-ish docs with planted near-dups across sizes
    val docs = ((1 to 30).map { i =>
      (i.toLong, (0 until 12).map(j => s"t${(i * 7 + j * 13) % 40}").distinct.mkString(" "))
    } ++ Seq(
      (101L, "a b c d e f g h"),
      (102L, "a b c d e f g x"),   // J = 7/9 vs 101
      (103L, "a b c d"),           // J = 4/8 = 0.5 vs 101 (boundary)
    )).toDF("doc_id", "text")
    val tau = 0.5
    val got = Dedup.similarityJoin(docs, "text", "doc_id", tau)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // independent brute force over all pairs
    val sets = docs.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ").toSet }.toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      j = sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
      if j >= tau
    } yield (a, b)).toSet
    assert(got === want)
    assert(want.contains((101L, 102L)) && want.contains((101L, 103L)),
      "planted pairs incl. the exact-boundary one must be present")
  }

  test("survivorsBy keeps the policy winner per cluster; dedupCorpusBy keeps longest") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    // chain: 1~2, 2~3 one cluster (A~C never paired); 4 isolated
    val docs = Seq(
      (1L, "short copy of the article text here"),
      (2L, "short copy of the article text here plus a little more"),
      (3L, "short copy of the article text here plus a little more and the full ending"),
      (4L, "an unrelated document entirely"),
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val out = Dedup.survivorsBy(docs, pairs, "doc_id", length(col("text")))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // doc 3 is the longest in the {1,2,3} cluster → the ONLY keeper there
    assert(out(3L)._2 === 1L && out(1L)._2 === 0L && out(2L)._2 === 0L)
    assert(out(1L)._1 === out(2L)._1 && out(2L)._1 === out(3L)._1, "one transitive cluster")
    assert(out(4L) === ((4L, 1L)), "isolated doc is its own surviving cluster")

    // end-to-end: identical texts keep the policy winner too (tie on
    // length → smaller id), near-dups keep the longest
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 10
      (12L, "totally different words entirely unrelated content"),
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupCorpusBy(corpus, "text", "doc_id", length(col("text")))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(10L, 12L))
  }

  /** `dedupCorpusBy` without its survivor barrier: the operator's body
    * before the result was materialized, kept as the parity reference
    * (`unique` keeps its barrier, at the default storage level). */
  private def dedupCorpusByUnbarriered(df: DataFrame, textCol: String, idCol: String,
                                       orderCol: Column, threshold: Double): DataFrame = {
    import graft.plans.TopK
    val exactWinners = TopK.perKey(
        df.select(col(idCol).as("doc_id"), md5(col(textCol)).as("__h"), orderCol.as("__ord")),
        Seq("__h"), Seq(TopK.desc("__ord"), TopK.asc("doc_id")), k = 1)
      .select(col("doc_id").as("__keep"))
    val unique = df.join(exactWinners, df(idCol) === col("__keep"), "leftsemi").localCheckpoint(false)
    val verified = Dedup.jaccardVerify(Dedup.minhashLshFast(unique, textCol, idCol), unique, textCol, idCol)
      .filter(col("jaccard") >= threshold).select("a_id", "b_id")
    val losers = Dedup.survivorsBy(unique, verified, idCol, orderCol)
      .filter(col("keep") === 0L).select("doc_id")
    unique.join(losers, unique(idCol) === losers("doc_id"), "left_anti")
  }

  private val article = (1 to 40).map(i => s"w${i * 7 % 53}").mkString(" ")

  /** (doc_id, source, text): exact copies, a near-dup family, null source,
    * null texts, unicode and unrelated docs. */
  private def dedupCorpusFixture: DataFrame = Seq[(Long, String, String)](
    (1L, "web", article),
    (2L, "web", article),                          // exact copy of 1
    (3L, "wiki", article + " tail"),               // near dup, longest
    (4L, null, article.replace("w14", "zz")),      // near dup, null source
    (5L, "web", null),
    (6L, "wiki", null),                            // second null text
    (7L, "web", "Überlänge 日本語 text with unicode words in it"),
    (8L, "books", "an unrelated document with its own words entirely"),
    (9L, null, "x"),
  ).toDF("doc_id", "source", "text")

  test("dedupCorpusBy: materialized result == the unbarriered body (rows, schema), losers or none") {
    val order = length(col("text"))
    val withLosers = dedupCorpusFixture
    val noLosers = withLosers.filter(col("doc_id") >= 7L)
    Seq("with losers" -> withLosers, "no losers" -> noLosers).foreach { case (name, df) =>
      val got = Dedup.dedupCorpusBy(df, "text", "doc_id", order)
      val want = dedupCorpusByUnbarriered(df, "text", "doc_id", order, 0.8)
      assert(got.schema == want.schema, name)
      assert(rowBag(got) == rowBag(want), name)
    }
    val kept = Dedup.dedupCorpusBy(withLosers, "text", "doc_id", order)
      .select("doc_id").as[Long].collect().toSet
    // the family {1, 2, 3, 4} keeps its longest copy; one null text stays
    assert(kept.intersect(Set(1L, 2L, 3L, 4L)) == Set(3L), kept)
    assert(kept.intersect(Set(5L, 6L)).size == 1, kept)
    assert(Set(7L, 8L, 9L).subsetOf(kept), kept)
    assert(Dedup.dedupCorpusBy(noLosers, "text", "doc_id", order).count() == 3L)
  }

  test("dedupCorpusBy: a second action reads the stored survivors, no loser join or TopKPerKey") {
    import org.apache.spark.sql.execution.exchange.Exchange
    import graft.plans.TopKPerKeyExec
    val out = Dedup.dedupCorpusBy(dedupCorpusFixture, "text", "doc_id", length(col("text")))
    val n = out.count()
    val nodes = countPlanNodes(out)
    assert(!nodes.exists(_.isInstanceOf[TopKPerKeyExec]), nodes.map(_.nodeName))
    // the count's own single-partition exchange is the only one left
    assert(nodes.count(_.isInstanceOf[Exchange]) == 1, nodes.map(_.nodeName))
    assert(out.count() == n)
  }

  test("Dedup.exact groups identical texts and keeps min id") {
    val df = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "x y z"),
    ).toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("Dedup.minhashLsh pairs near-duplicate docs, skips unrelated") {
    val near1 = "the quick brown fox jumps over the lazy dog again and again today"
    val near2 = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    val far = "completely different words describing some other topic entirely here now"
    val df = Seq((1L, near1), (2L, near2), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(df, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("Dedup.minhashLshFast (xxhash64 scale path) pairs near-duplicates like the md5 path") {
    val near1 = "the quick brown fox jumps over the lazy dog again and again today"
    val near2 = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    val far = "completely different words describing some other topic entirely here now"
    val df = Seq((1L, near1), (2L, near2), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshFast(df, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("LSH candidates -> jaccardVerify: the scale-shape near-dup pipeline") {
    val near1 = "the quick brown fox jumps over the lazy dog again and again today"
    val near2 = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    val far = "completely different words describing some other topic entirely here now"
    val df = Seq((1L, near1), (2L, near2), (3L, far)).toDF("doc_id", "text")
    val candidates = Dedup.minhashLsh(df, "text", "doc_id")
    val verified = Dedup.jaccardVerify(candidates, df, "text", "doc_id")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    // near1/near2: 11 distinct words each, 10 shared → jaccard = 10/12
    assert(math.abs(verified((1L, 2L)) - 10.0 / 12.0) < 1e-12)
    // the far doc never reached the verify stage (LSH pruned it)
    assert(!verified.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("Dedup.resolveClusters collapses transitive chains (A~B, B~C, no A~C pair)") {
    // 1-2 and 2-3 are candidate pairs but 1-3 never was; min-label
    // propagation must still put all three in cluster 1. 7-8 is a
    // separate component; 9 appears in no pair.
    val pairs = Seq((2L, 1L), (2L, 3L), (7L, 8L)).toDF("a_id", "b_id")
    val clusters = Dedup.resolveClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("Dedup.resolveClusters handles long chains (pointer jumping) and empty input") {
    // a 64-node path graph: naive propagation needs 63 rounds; pointer
    // jumping must converge within the 25-round guard.
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val labels = Dedup.resolveClusters(chain).as[(Long, Long)].collect()
    assert(labels.length == 64 && labels.forall(_._2 == 0L))
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.resolveClusters(empty).isEmpty)
  }

  test("Dedup.resolveClusters fails loudly instead of returning split clusters") {
    // a mis-parameterized maxIters must throw, not silently hand back
    // partially-propagated labels (which would let near-dups survive) —
    // the distributed loop's contract, so force past the local-edge gate
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    spark.conf.set("spark.graft.components.maxLocalEdges", "0")
    try {
      val ex = intercept[IllegalStateException] {
        Dedup.resolveClusters(chain, maxIters = 2).collect()
      }
      assert(ex.getMessage.contains("did not converge"))
    } finally spark.conf.unset("spark.graft.components.maxLocalEdges")
  }

  test("Dedup.resolveClusters local union-find path matches the distributed loop") {
    val rng = new scala.util.Random(11)
    val pairs = (1 to 500).map { _ =>
      (rng.nextInt(200).toLong, rng.nextInt(200).toLong)
    }.filter(p => p._1 != p._2).distinct.toDF("a_id", "b_id")
    val local = Dedup.resolveClusters(pairs).as[(Long, Long)].collect().toMap
    spark.conf.set("spark.graft.components.maxLocalEdges", "0")
    val dist =
      try Dedup.resolveClusters(pairs).as[(Long, Long)].collect().toMap
      finally spark.conf.unset("spark.graft.components.maxLocalEdges")
    assert(local == dist)
  }

  test("Dedup.resolveClusters matches a union-find oracle on a random pair graph") {
    val rng = new scala.util.Random(7)
    val pairs = (1 to 800).map { _ =>
      val a = rng.nextInt(300); val b = rng.nextInt(300); (a.toLong, b.toLong)
    }.filter(p => p._1 != p._2).distinct
    // union-find with attach-larger-under-smaller: every root is its
    // component's minimum id — exactly resolveClusters' cluster_id
    val parent = Array.tabulate(300)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val ra = find(a.toInt); val rb = find(b.toInt)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expected = nodes.map(n => n -> find(n.toInt).toLong).toMap
    val got = Dedup.resolveClusters(pairs.toDF("a_id", "b_id"))
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("Dedup.survivors keeps one min-id doc per cluster; singletons keep themselves") {
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "x"), (9L, "y")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val out = Dedup.survivors(docs, pairs, "doc_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 1L), (2L, 1L, 0L), (3L, 1L, 0L), (9L, 9L, 1L)))
  }

  test("Dedup.dedupCorpus drops transitive near-dups, keeps min-id survivor and unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      (5L, base + " today"),     // near-dup chain: 5 ~ 7 ~ 9 → keep 5
      (7L, base + " tomorrow"),
      (9L, base + " yesterday"),
      (2L, "completely different words describing some other topic entirely here now"),
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupCorpus(df, "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 5L))
  }

  test("Dedup.dedupIncremental cleans a batch against the corpus, then itself") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val existing = Seq(
      (1L, base + " today"),
      (2L, "completely different words describing some other topic entirely here now"),
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base + " today"),     // exact copy of existing 1 → dropped (stage 1)
      (11L, base + " tomorrow"),  // near-dup of existing 1 → dropped (stage 2)
      (12L, "fresh unique sentence with plenty of brand new never seen words"),
      (13L, "another fresh unique sentence sharing no overlap with anything else written"),
      (14L, "another fresh unique sentence sharing no overlap with anything else typed"),
      // 13 ~ 14 are within-batch near-dups → stage 3 keeps min id 13
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupIncremental(batch, existing, "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(12L, 13L))
  }

  test("Dedup.dedupIncremental collapses transitive chains that cross the batch/corpus line") {
    // E(1) ~ A(10) ~ B(11), but B alone is NOT a near-dup of E
    // (J(B,E)=10/13 < 0.8 ≤ J(A,E)=10/12, J(A,B)=11/12): resolving one
    // unified pair graph must drop BOTH batch docs; two separate passes
    // would drop A, lose the A~B edge, and leak B into the corpus.
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val existing = Seq((1L, base + " today")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base + " tomorrow"),
      (11L, base + " tomorrow extra"),
      (12L, "fresh unique sentence with plenty of brand new never seen words"),
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupIncremental(batch, existing, "text", "doc_id", threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(12L), s"transitive chain must collapse into the corpus cluster: $kept")
  }

  test("dedup catches exact duplicates too short for any shingle") {
    // 2-word texts produce no 3-shingles, so the LSH stage is blind to
    // them — the exact pre-stage must still keep only the min id
    val batch = Seq((20L, "hello world"), (21L, "hello world"), (22L, "bye now"))
      .toDF("doc_id", "text")
    val corpusKept = Dedup.dedupCorpus(batch, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(corpusKept == Set(20L, 22L), s"$corpusKept")
    val incKept = Dedup.dedupIncremental(
        batch, Seq((1L, "some other text entirely")).toDF("doc_id", "text"),
        "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(incKept == Set(20L, 22L), s"$incKept")
  }

  test("Dedup.dedupIncrementalByEmbedding collapses cross-boundary cosine chains") {
    // rotate u toward v in 15° steps: cos15 ≈ 0.966 ≥ 0.95 > cos30 ≈ 0.866.
    // E(1)=u ~ A(10)=rot15 ~ B(11)=rot30, but B alone is below threshold
    // vs E — the unified graph must drop both batch vectors.
    val dim = 8
    val u = Array.fill(dim)(1.0f / math.sqrt(dim).toFloat)
    val v = Array.tabulate(dim)(i => (if (i % 2 == 0) 1.0f else -1.0f) / math.sqrt(dim).toFloat)
    def rot(deg: Double): Array[Float] = {
      val (c, s) = (math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
      Array.tabulate(dim)(i => (c * u(i) + s * v(i)).toFloat)
    }
    val existing = Seq((1L, u)).toDF("vec_id", "embedding")
    val batch = Seq(
      (10L, rot(15)), (11L, rot(30)),
      (12L, v.map(x => -x)), // different sign bucket, far from everything
    ).toDF("vec_id", "embedding")
    val kept = Dedup.dedupIncrementalByEmbedding(batch, existing, "embedding", "vec_id",
        threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(12L), s"cosine chain must collapse into the corpus cluster: $kept")
  }

  test("Dedup.dedupCorpusByEmbedding drops same-direction vectors, keeps min id and distinct ones") {
    val df = Seq(
      (3L, Array(1.0f, 0.2f, 0.1f, 0.3f)),
      (5L, Array(2.0f, 0.4f, 0.2f, 0.6f)),   // same direction as 3 → dropped (3 survives)
      (8L, Array(-1.0f, 0.5f, -0.2f, 0.1f)), // different direction → kept
    ).toDF("vec_id", "embedding")
    val kept = Dedup.dedupCorpusByEmbedding(df, "embedding", "vec_id", threshold = 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(3L, 8L))
  }

  test("Dedup.simhash: identical word sets share a fingerprint") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"), (3L, "delta eps zeta"))
      .toDF("doc_id", "text")
    val fp = Dedup.simhash(df, "text", "doc_id").as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("Dedup.byEmbedding finds same-direction vectors in the same bucket") {
    val df = Seq(
      (1L, Array(1.0f, 0.2f, 0.1f, 0.3f)),
      (2L, Array(2.0f, 0.4f, 0.2f, 0.6f)),   // same direction as 1
      (3L, Array(-1.0f, 0.5f, -0.2f, 0.1f)), // different bucket (sign of c1)
    ).toDF("vec_id", "embedding")
    val out = Dedup.byEmbedding(df, "embedding", "vec_id", threshold = 0.99)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L)))
  }

  test("KnnJoin.bruteForce ranks by cosine with deterministic ties") {
    val q = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val t = Seq(
      (10L, Array(1.0f, 0.0f)),    // cos 1
      (11L, Array(1.0f, 1.0f)),    // cos ~0.707
      (12L, Array(0.0f, 1.0f)),    // cos 0
    ).toDF("vec_id", "embedding")
    val out = KnnJoin.bruteForce(q, t, "embedding", "vec_id", k = 2)
      .orderBy("rank").select("t_id").as[Long].collect().toSeq
    assert(out == Seq(10L, 11L))
  }

  test("VectorFns exact and fast cosine agree to double precision") {
    val df = Seq((Array(0.3f, -0.7f, 0.5f), Array(0.1f, 0.9f, -0.2f))).toDF("a", "b")
    val (exact, fast) = df.select(
      VectorFns.cosineExact(col("a"), col("b")),
      VectorFns.cosine(col("a"), col("b"))).as[(Double, Double)].head()
    assert(math.abs(exact - fast) < 1e-12)
  }

  test("TextFns.shingles builds sliding word n-grams") {
    val df = Seq("a b c d").toDF("text").select(TextFns.shingles(col("text"), 3).as("sh"))
    assert(df.as[Seq[String]].head() == Seq("a b c", "b c d"))
  }

  test("TextFns.langId scores marker words deterministically") {
    val df = Seq("the cat sat on the mat", "el gato es el mejor").toDF("text")
      .select(TextFns.langId(col("text")).as("l"))
    assert(df.as[String].collect().toSeq == Seq("en", "es"))
  }
}
