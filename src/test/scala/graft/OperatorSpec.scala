package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Interpolate, Outliers, Sessionize}

class OperatorSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("AsOfJoin picks the most recent right row at or before each left time") {
    val left = Seq(
      (1L, t("2024-01-01 10:00:00")),
      (1L, t("2024-01-01 12:00:00")),
      (2L, t("2024-01-01 09:00:00")),
    ).toDF("k", "ts")
    val right = Seq(
      (1L, t("2024-01-01 09:30:00"), "cfgA", 1L),
      (1L, t("2024-01-01 11:00:00"), "cfgB", 2L),
      (1L, t("2024-01-01 13:00:00"), "cfgC", 3L),
      (2L, t("2024-01-01 09:00:00"), "cfgD", 4L),
    ).toDF("rk", "rts", "cfg", "rid")

    val out = AsOfJoin.join(left, right, "k", "rk", "ts", "rts",
        rightCols = Seq("cfg"), rightTiebreak = Some("rid"))
      .select("k", "ts", "cfg").as[(Long, Timestamp, String)].collect().toSet

    assert(out == Set(
      (1L, t("2024-01-01 10:00:00"), "cfgA"),
      (1L, t("2024-01-01 12:00:00"), "cfgB"),
      (2L, t("2024-01-01 09:00:00"), "cfgD"), // equal time matches (<=)
    ))
  }

  test("AsOfJoin forward/nearest directions complete the merge-asof surface") {
    val left = Seq(
      (1L, t("2024-01-01 10:00:00")), // back cfgA@9:30, fwd cfgB@11:00 → nearest cfgA (30m < 60m)
      (1L, t("2024-01-01 12:30:00")), // back cfgB@11:00, fwd cfgC@13:00 → nearest cfgC (30m < 90m)
      (1L, t("2024-01-01 12:00:00")), // back@11 fwd@13 equidistant → tie prefers backward cfgB
      (2L, t("2024-01-01 08:00:00")), // nothing before → nearest falls to forward cfgD
    ).toDF("k", "ts")
    val right = Seq(
      (1L, t("2024-01-01 09:30:00"), "cfgA", 1L),
      (1L, t("2024-01-01 11:00:00"), "cfgB", 2L),
      (1L, t("2024-01-01 13:00:00"), "cfgC", 3L),
      (2L, t("2024-01-01 09:00:00"), "cfgD", 4L),
    ).toDF("rk", "rts", "cfg", "rid")

    def run(dir: String) = AsOfJoin.join(left, right, "k", "rk", "ts", "rts",
        rightCols = Seq("cfg"), rightTiebreak = Some("rid"), direction = dir)
      .select("k", "ts", "cfg").as[(Long, Timestamp, String)].collect()
      .map { case (k, ts, c) => (k, ts.toString.substring(11, 16), c) }.toSet

    assert(run("forward") == Set(
      (1L, "10:00", "cfgB"), (1L, "12:30", "cfgC"), (1L, "12:00", "cfgC"),
      (2L, "08:00", "cfgD")))
    assert(run("nearest") == Set(
      (1L, "10:00", "cfgA"), (1L, "12:30", "cfgC"), (1L, "12:00", "cfgB"),
      (2L, "08:00", "cfgD")))

    // null-time left rows must match NOTHING in every direction (plain
    // .desc would sort them last in the forward traversal with every
    // right row in frame, silently matching the earliest config)
    val nullLeft = Seq((1L, Option.empty[Timestamp])).toDF("k", "ts")
    Seq("backward", "forward", "nearest").foreach { dir =>
      val r = AsOfJoin.join(nullLeft, right, "k", "rk", "ts", "rts",
          rightCols = Seq("cfg"), rightTiebreak = Some("rid"), direction = dir)
        .select("cfg").collect()
      assert(r.length == 1 && r.head.isNullAt(0), s"direction=$dir matched a null-time row")
    }
  }

  test("AsOfJoin leaves unmatched left rows with null match") {
    val left = Seq((9L, t("2024-01-01 08:00:00"))).toDF("k", "ts")
    val right = Seq((9L, t("2024-01-01 09:00:00"), "late", 1L)).toDF("rk", "rts", "cfg", "rid")
    val out = AsOfJoin.join(left, right, "k", "rk", "ts", "rts", Seq("cfg"), Some("rid"))
    assert(out.filter(col("asof_time").isNull).count() == 1)
  }

  test("Sessionize splits on inactivity gaps") {
    val df = Seq(
      (1L, t("2024-01-01 10:00:00")),
      (1L, t("2024-01-01 10:10:00")),
      (1L, t("2024-01-01 12:00:00")), // > 30 min gap → new session
      (2L, t("2024-01-01 10:00:00")),
    ).toDF("user", "ts")
    val out = Sessionize.withSessionIds(df, "user", "ts", gapSeconds = 1800)
      .groupBy("user").agg(max("session_id").as("max_sid"))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 0L))
  }

  test("Corpus.packShards bins docs by start-offset token budget per group") {
    import graft.operators.Corpus
    val df = Seq(
      ("g", 1L, 300), ("g", 2L, 300), ("g", 3L, 300), // cum-before 0/300/600
      ("h", 1L, 600),                                 // oversize doc still shard 0
    ).toDF("source", "doc_id", "ntok")
    val out = Corpus.packShards(df, "source", "doc_id", col("ntok"), budget = 512L)
      .select("source", "doc_id", "shard").as[(String, Long, Long)].collect().toSet
    assert(out == Set(("g", 1L, 0L), ("g", 2L, 0L), ("g", 3L, 1L), ("h", 1L, 0L)))
  }

  test("Corpus.samplePerGroup keeps exactly k docs per group, stable across runs and partitionings") {
    import graft.operators.Corpus
    val df = (1 to 120).map(i => (i.toLong, s"g${i % 3}", s"text number $i")).toDF("doc_id", "source", "text")
    val a = Corpus.samplePerGroup(df, "source", "text", "doc_id", k = 4)
      .select("doc_id").as[Long].collect().toSet
    val b = Corpus.samplePerGroup(df.repartition(7), "source", "text", "doc_id", k = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b && a.size == 12) // 3 groups × 4
    assert(Corpus.samplePerGroup(df, "source", "text", "doc_id", k = 4)
      .groupBy("source").count().as[(String, Long)].collect().forall(_._2 == 4))
  }

  test("Corpus.sampleByHash is deterministic; rate 1 keeps all, rate 0 keeps none") {
    import graft.operators.Corpus
    // docs 201-210 have a null text: no hash, so never kept at any rate
    val df = ((1 to 200).map(i => (i.toLong, s"document number $i")) ++
      (201 to 210).map(i => (i.toLong, null.asInstanceOf[String]))).toDF("doc_id", "text")
    def kept(rate: Double): Set[Long] =
      Corpus.sampleByHash(df, "text", lit(rate)).select("doc_id").as[Long].collect().toSet
    val once = kept(0.25)
    assert(once == kept(0.25) && once.nonEmpty && once.size < 200)
    assert(kept(1.0) == (1L to 200L).toSet)
    assert(kept(0.0).isEmpty)
  }

  test("Profile.numeric emits one row per column from a single scan") {
    import graft.operators.Profile
    val df = Seq((Option(1.0), 10L), (None, 10L), (Option(3.5), 20L)).toDF("x", "y")
    val rows = Profile.numeric(df, Seq("x", "y")).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    assert(rows("x").getAs[Long]("n_rows") == 3 && rows("x").getAs[Long]("n_present") == 2)
    assert(rows("x").getAs[Long]("n_distinct") == 2)
    assert(rows("x").getAs[Double]("min_val") == 1.0 && rows("x").getAs[Double]("max_val") == 3.5)
    assert(rows("y").getAs[Long]("n_present") == 3 && rows("y").getAs[Long]("n_distinct") == 2)
    assert(rows("y").getAs[Double]("min_val") == 10.0 && rows("y").getAs[Double]("max_val") == 20.0)
    // single scan: exactly one leaf (LocalRelation here; FileScan on parquet)
    val leaves = Profile.numeric(df, Seq("x", "y")).queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.length == 1, s"profiler must not re-scan per column: $leaves")
  }

  test("Corpus.mixtureRates caps at the binding source and realizes target shares") {
    import graft.operators.Corpus
    // tokens: a=1000, b=600, c=400, d=9999 (untargeted)
    val df = Seq(
      ("a", 1000L), ("b", 600L), ("c", 400L), ("d", 9999L),
    ).toDF("source", "n_tok")
    val rates = Corpus.mixtureRates(df, "source", col("n_tok"),
        Seq("a" -> 0.5, "b" -> 0.3, "c" -> 0.2))
      .select("source", "tokens", "rate").as[(String, Long, Double)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // capacities: a 1000/.5=2000, b 600/.3=2000, c 400/.2=2000 → all binding
    assert(rates.keySet == Set("a", "b", "c"), "untargeted sources get no rate")
    rates.values.foreach { case (_, r) => assert(math.abs(r - 1.0) < 1e-12) }
    // skew it: c shrinks to 100 tokens → c binds at C=500
    val df2 = Seq(("a", 1000L), ("b", 600L), ("c", 100L)).toDF("source", "n_tok")
    val r2 = Corpus.mixtureRates(df2, "source", col("n_tok"),
        Seq("a" -> 0.5, "b" -> 0.3, "c" -> 0.2))
      .select("source", "rate").as[(String, Double)].collect().toMap
    assert(math.abs(r2("c") - 1.0) < 1e-12, "binding source samples at 1")
    assert(math.abs(r2("a") - 0.25) < 1e-12)   // 500*0.5/1000
    assert(math.abs(r2("b") - 0.25) < 1e-12)   // 500*0.3/600
  }

  test("Corpus.mixtureRates handles rounding, missing sources, and duplicate targets") {
    import graft.operators.Corpus
    // T/p = 3000/0.3 rounds to 9999.999…; the snap must still yield rate 1.0
    val df = Seq(("a", 3000L), ("b", 7000L)).toDF("source", "n_tok")
    val r = Corpus.mixtureRates(df, "source", col("n_tok"), Seq("a" -> 0.3, "b" -> 0.7))
      .select("source", "rate").as[(String, Double)].collect().toMap
    assert(r("a") == 1.0 && r("b") == 1.0, s"binding rates must snap to exactly 1.0: $r")
    // a targeted source absent from the corpus → capacity 0 → every rate 0
    // (an inner join would silently ship the wrong mixture)
    val r2 = Corpus.mixtureRates(df, "source", col("n_tok"),
        Seq("a" -> 0.3, "b" -> 0.5, "missing" -> 0.2))
      .select("source", "rate").as[(String, Double)].collect().toMap
    assert(r2.keySet == Set("a", "b", "missing") && r2.values.forall(_ == 0.0), s"$r2")
    // duplicate target sources would fan out the rate join
    intercept[IllegalArgumentException] {
      Corpus.mixtureRates(df, "source", col("n_tok"), Seq("a" -> 0.5, "a" -> 0.3, "b" -> 0.2))
    }
  }

  test("Corpus.sampleToMixture yields a deterministic sub-corpus near the target mix") {
    import graft.operators.Corpus
    val df = (1 to 3000).map { i =>
      val src = if (i % 3 == 0) "web" else if (i % 3 == 1) "wiki" else "books"
      (i.toLong, src, s"doc body number $i with some words", 10L)
    }.toDF("doc_id", "source", "text", "n_tok")
    val targets = Seq("web" -> 0.6, "wiki" -> 0.3, "books" -> 0.1)
    val out = Corpus.sampleToMixture(df, "text", "source", col("n_tok"), targets)
    val again = Corpus.sampleToMixture(df, "text", "source", col("n_tok"), targets)
    assert(out.select("doc_id").as[Long].collect().toSet ==
      again.select("doc_id").as[Long].collect().toSet)
    val kept = out.groupBy("source").agg(sum("n_tok").as("t"))
      .as[(String, Long)].collect().toMap
    val total = kept.values.sum.toDouble
    // web binds (1000 docs / 0.6 share is the smallest capacity) → rate 1
    assert(kept("web") == 10000L)
    // hash sampling is binomial around the target share: ±5 points at n=1000
    targets.foreach { case (s, p) =>
      assert(math.abs(kept(s) / total - p) < 0.05, s"$s share ${kept(s) / total} vs $p")
    }
  }

  test("Corpus.decontaminateFuzzy scores n-gram containment and flags at the threshold") {
    import graft.operators.Corpus
    val benchmark = Seq((100L, "a b c d e f")).toDF("doc_id", "text") // 3 4-grams
    val corpus = Seq(
      (1L, "a b c d e f"),          // identical: frac 1.0
      (2L, "a b c d x y z w"),      // 1 of 5 distinct 4-grams shared: 0.2
      (3L, "p q r s t"),            // disjoint: 0.0
      (4L, "a b"),                  // too short: 0.0
    ).toDF("doc_id", "text")
    val got = Corpus.decontaminateFuzzy(corpus, benchmark, "text", "doc_id",
        n = 4, minOverlap = 0.5)
      .select("doc_id", "overlap_frac", "contaminated")
      .as[(Long, Double, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got(1L) == ((1.0, 1L)))
    assert(math.abs(got(2L)._1 - 0.2) < 1e-12 && got(2L)._2 == 0L)
    assert(got(3L) == ((0.0, 0L)) && got(4L) == ((0.0, 0L)))
  }

  test("Corpus.decontaminate flags exactly the docs sharing an n-gram with the benchmark") {
    import graft.operators.Corpus
    val benchmark = Seq(
      (100L, "w1 w2 w3 w4 w5 w6 w7 w8"), // one 8-gram
      (101L, "x1 x2"),                   // too short — contributes nothing
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "pre w1 w2 w3 w4 w5 w6 w7 w8 post"), // contains the benchmark 8-gram
      (2L, "w1 w2 w3 w4 w5 w6 w7 other"),       // 7-gram prefix only → clean
      (3L, "x1 x2"),                            // short doc, no 8-grams → clean
    ).toDF("doc_id", "text")
    val out = Corpus.decontaminate(corpus, benchmark, "text", "doc_id", n = 8)
      .select("doc_id", "contaminated").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 0L, 3L -> 0L))

    // benchmark with no n-grams at all → everything clean
    val clean = Corpus.decontaminate(corpus, benchmark.filter($"doc_id" === 101L),
        "text", "doc_id", n = 8)
      .agg(sum($"contaminated")).as[Long].head()
    assert(clean == 0L)
  }

  test("Corpus.decontaminateBloom agrees exactly with the exact path") {
    import graft.operators.Corpus
    val benchmark = Seq(
      (100L, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),
      (101L, "a1 a2 a3 a4 a5 a6 a7 a8"),
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "pre w1 w2 w3 w4 w5 w6 w7 w8 post"), // shares a benchmark 8-gram
      (2L, "w1 w2 w3 w4 w5 w6 w7 other"),       // 7-gram prefix only → clean
      (3L, "a1 a2 a3 a4 a5 a6 a7 a8"),          // identical to benchmark doc
      (4L, "p q r s t u v w x y z"),            // disjoint
      (5L, "x1"),                               // too short for any 8-gram
    ).toDF("doc_id", "text")
    val exact = Corpus.decontaminate(corpus, benchmark, "text", "doc_id", n = 8)
      .select("doc_id", "contaminated").as[(Long, Long)].collect().toMap
    val bloom = Corpus.decontaminateBloom(corpus, benchmark, "text", "doc_id", n = 8)
      .select("doc_id", "contaminated").as[(Long, Long)].collect().toMap
    assert(bloom === exact)
    assert(bloom === Map(1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 0L, 5L -> 0L))

    // empty benchmark (no doc long enough for an 8-gram) → all clean
    val none = Corpus.decontaminateBloom(corpus,
        Seq((200L, "too short")).toDF("doc_id", "text"), "text", "doc_id", n = 8)
      .agg(sum($"contaminated")).as[Long].head()
    assert(none === 0L)
  }

  /** `decontaminateBloom` without its hit barrier: the operator's body
    * before the hit set was materialized, kept as the parity reference. */
  private def decontaminateBloomUnbarriered(corpus: DataFrame, benchmark: DataFrame,
                                            textCol: String, idCol: String, n: Int): DataFrame = {
    import graft.functions.TextFns
    import graft.operators.Corpus
    val benchShingles = benchmark
      .select(explode(TextFns.shingles(col(textCol), n)).as("__s"))
      .distinct()
      .localCheckpoint(false)
    val nShingles = benchShingles.count()
    if (nShingles == 0L) return corpus.withColumn("contaminated", lit(0L))
    val bloomBytes = Corpus.buildBloomBytes(benchShingles, nShingles, 0.01)
    val hits = corpus
      .select(col(idCol), TextFns.shingles(col(textCol), n).as("__sh"))
      .filter(exists(col("__sh"), s => Corpus.mightContainCol(bloomBytes, s)))
      .select(col(idCol), explode(col("__sh")).as("__s"))
      .join(broadcast(benchShingles), Seq("__s"), "leftsemi")
      .select(idCol).distinct()
      .withColumn("__c", lit(1L))
    corpus.join(hits, Seq(idCol), "left")
      .withColumn("contaminated", coalesce(col("__c"), lit(0L)))
      .drop("__c")
  }

  /** `sampleToMixture` without its rate barrier, kept as the parity
    * reference. */
  private def sampleToMixtureUnbarriered(df: DataFrame, textCol: String, sourceCol: String,
                                         tokensCol: Column, targets: Seq[(String, Double)]): DataFrame = {
    import graft.operators.Corpus
    val rates = Corpus.mixtureRates(df, sourceCol, tokensCol, targets)
      .select(col("source").as("__msrc"), col("rate").as("mixture_rate"))
    val joined = df.join(broadcast(rates), col(sourceCol) === col("__msrc")).drop("__msrc")
    Corpus.sampleByHash(joined, textCol, col("mixture_rate"))
  }

  private val evalDocs = Seq(
    (100L, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),
    (101L, "a1 a2 a3 a4 a5 a6 a7 a8"),
  ).toDF("doc_id", "text")

  /** (doc_id, source, text, n_tok) with null sources and null texts. */
  private val mixedCorpus = ((1 to 300).map { i =>
    val src = Seq("web", "wiki", "books", null)(i % 4)
    val text = if (i % 17 == 0) null
      else if (i % 5 == 0) s"pre w1 w2 w3 w4 w5 w6 w7 w8 post $i"
      else s"doc body number $i with some words"
    (i.toLong, src, text, (i % 7 + 1).toLong)
  } ++ Seq((900L, "web", "a1 a2 a3 a4 a5 a6 a7 a8", 3L), (901L, "wiki", "Überlänge 日本語 x", 2L)))
    .toDF("doc_id", "source", "text", "n_tok")

  test("decontaminateBloom: materialized hits == the unbarriered body (rows, schema) on edge corpora") {
    import graft.operators.Corpus
    val cases = Seq(
      "mixed, null source and text" -> (mixedCorpus, evalDocs),
      "empty hit set" -> (mixedCorpus.filter(col("doc_id") % 5 =!= 0L && col("doc_id") < 900L), evalDocs),
      "every doc contaminated" -> (mixedCorpus.filter(col("doc_id") % 5 === 0L && col("doc_id") % 17 =!= 0L),
        evalDocs),
      "no benchmark shingles" -> (mixedCorpus, Seq((200L, "too short")).toDF("doc_id", "text")))
    cases.foreach { case (name, (corpus, bench)) =>
      val got = Corpus.decontaminateBloom(corpus, bench, "text", "doc_id", n = 8)
      val want = decontaminateBloomUnbarriered(corpus, bench, "text", "doc_id", n = 8)
      assert(got.schema == want.schema, name)
      assert(rowBag(got) == rowBag(want), name)
    }
    val flags = cases.map { case (name, (corpus, bench)) =>
      name -> Corpus.decontaminateBloom(corpus, bench, "text", "doc_id", n = 8)
        .select("contaminated").as[Long].collect().toSet
    }.toMap
    assert(flags("mixed, null source and text") == Set(0L, 1L))
    assert(flags("empty hit set") == Set(0L))
    assert(flags("every doc contaminated") == Set(1L))
  }

  test("decontaminateBloom: a second action reads the stored hits, no probe, explode or distinct") {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import graft.operators.Corpus
    // a consumer that reads the flag: a bare count() needs no hit row,
    // and the optimizer drops the left join onto the distinct hit ids
    val safe = Corpus.decontaminateBloom(mixedCorpus, evalDocs, "text", "doc_id", n = 8)
      .filter(col("contaminated") === 0L)
    val n = safe.count()
    val nodes = countPlanNodes(safe)
    val names = nodes.map(_.nodeName)
    assert(!nodes.exists(_.isInstanceOf[GenerateExec]), names)
    assert(!nodes.exists(_.expressions.exists(_.exists(_.isInstanceOf[BloomFilterMightContain]))), names)
    // only the count's global aggregate: the hit set's distinct is stored
    assert(!nodes.exists {
      case a: BaseAggregateExec => a.groupingExpressions.nonEmpty
      case _ => false
    }, names)
    assert(safe.count() == n)
  }

  test("sampleToMixture: materialized rates == the unbarriered body (rows, schema) on edge corpora") {
    import graft.operators.Corpus
    val cases = Seq(
      "null source and text" -> Seq("web" -> 0.6, "wiki" -> 0.3, "books" -> 0.1),
      "target missing from corpus" -> Seq("web" -> 0.5, "news" -> 0.5),
      "one source" -> Seq("wiki" -> 1.0))
    cases.foreach { case (name, targets) =>
      val got = Corpus.sampleToMixture(mixedCorpus, "text", "source", col("n_tok"), targets)
      val want = sampleToMixtureUnbarriered(mixedCorpus, "text", "source", col("n_tok"), targets)
      assert(got.schema == want.schema, name)
      assert(rowBag(got) == rowBag(want), name)
    }
    assert(Corpus.sampleToMixture(mixedCorpus, "text", "source", col("n_tok"),
      Seq("web" -> 0.5, "news" -> 0.5)).count() == 0L)
    // rate 1 keeps every wiki doc but the null texts, which hash to null
    assert(Corpus.sampleToMixture(mixedCorpus, "text", "source", col("n_tok"),
      Seq("wiki" -> 1.0)).count() ==
      mixedCorpus.filter(col("source") === "wiki" && col("text").isNotNull).count())
  }

  test("sampleToMixture: a second action reads the stored rates, no rate aggregate or capacity join") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import graft.operators.Corpus
    val out = Corpus.sampleToMixture(mixedCorpus, "text", "source", col("n_tok"),
      Seq("web" -> 0.6, "wiki" -> 0.4))
    val n = out.count()
    val nodes = countPlanNodes(out)
    val names = nodes.map(_.nodeName)
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]), names)
    // the count's partial and final aggregates are all that is left: no
    // per-source rate aggregate, no global capacity aggregate
    assert(nodes.count(_.isInstanceOf[BaseAggregateExec]) == 2, names)
    assert(out.count() == n)
  }

  test("Corpus.chunkDocuments splits with overlap and keeps short docs whole") {
    import graft.operators.Corpus
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 words
      (2L, "a b c"),                                  // shorter than one chunk
    ).toDF("doc_id", "text")
    val out = Corpus.chunkDocuments(docs, "text", "doc_id", chunkTokens = 4, overlapTokens = 1)
      .select("doc_id", "chunk_idx", "chunk_text", "n_chunk_tokens")
      .as[(Long, Long, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    // stride 3: starts 0,3,6,9 → ceil((10-1)/3)=3 chunks at 0/3/6;
    // formula: (10-1+3-1)/3 = 11/3 → 3 chunks (start 9 dropped: its
    // content is covered up to overlap; chunk 2 ends at word 10)
    val d1 = out(1L)
    assert(d1.map(_._3) === Seq("w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    assert(d1.map(_._4) === Seq(4L, 4L, 4L))
    // consecutive chunks overlap by exactly overlapTokens words
    d1.sliding(2).foreach { p =>
      val a = p(0)._3.split(" "); val b = p(1)._3.split(" ")
      assert(a.takeRight(1).toSeq === b.take(1).toSeq)
    }
    assert(out(2L) === Seq((2L, 0L, "a b c", 3L)))
  }

  test("Profile sketch columns merge incrementally without rescanning") {
    import graft.operators.Profile
    val docs = (1 to 400).map(i => (s"u${i % 97}", if (i % 2 == 0) "a" else "b", s"d${i % 13}"))
      .toDF("user", "source", "day")
    val perDay = Profile.distinctSketches(docs, Seq("source", "day"), "user")
    assert(perDay.count() === 26) // 2 sources × 13 days, one sketch each

    // union up to source and overall; estimates match the exact counts
    // (97 distinct users, well inside lgK=12 resolution — exact here)
    val bySource = Profile.mergeSketchCounts(perDay, Seq("source"))
      .select("source", "n_distinct_est").as[(String, Long)].collect().toMap
    val exactBySource = docs.groupBy("source")
      .agg(countDistinct($"user")).as[(String, Long)].collect().toMap
    assert(bySource === exactBySource)
    val overall = Profile.mergeSketchCounts(perDay, Nil)
      .select("n_distinct_est").as[Long].head()
    assert(overall === 97L)

    // merging stored sketches == sketching the union (incremental append)
    val h1 = Profile.distinctSketches(docs.filter($"day" < "d5"), Seq("source"), "user")
    val h2 = Profile.distinctSketches(docs.filter($"day" >= "d5"), Seq("source"), "user")
    val incr = Profile.mergeSketchCounts(h1.union(h2), Seq("source"))
      .select("source", "n_distinct_est").as[(String, Long)].collect().toMap
    val direct = Profile.mergeSketchCounts(
        Profile.distinctSketches(docs, Seq("source"), "user"), Seq("source"))
      .select("source", "n_distinct_est").as[(String, Long)].collect().toMap
    assert(incr === direct)
  }

  test("Profile.categoricalDrift decomposes chi-square and handles one-sided categories") {
    import graft.operators.Profile
    val a = Seq("x", "x", "x", "y").toDF("c")       // 3 x, 1 y
    val b = Seq("x", "y", "y", "y", "z").toDF("c")  // 1 x, 3 y, 1 z (z absent in a)
    val out = Profile.categoricalDrift(a, b, "c")
      .select("category", "n_a", "n_b", "exp_a", "exp_b", "chi2_contrib")
      .as[(String, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // totals: 4 vs 5; pooled x=4, y=4, z=1; exp_a = pooled*4/9
    def expect(pooled: Long, na: Long, nb: Long): (Double, Double, Double) = {
      val ea = pooled * 4.0 / 9.0; val eb = pooled * 5.0 / 9.0
      (ea, eb, (na - ea) * (na - ea) / ea + (nb - eb) * (nb - eb) / eb)
    }
    Seq(("x", 4L, 3L, 1L), ("y", 4L, 1L, 3L), ("z", 1L, 0L, 1L)).foreach {
      case (cat, pooled, na, nb) =>
        val (ea, eb, chi) = expect(pooled, na, nb)
        val r = out(cat)
        assert(r._2 === na && r._3 === nb)
        assert(math.abs(r._4 - ea) < 1e-12 && math.abs(r._5 - eb) < 1e-12)
        assert(math.abs(r._6 - chi) < 1e-12, s"$cat chi2")
    }
    // identical distributions → zero statistic
    val same = Profile.categoricalDrift(a, a, "c")
      .agg(sum($"chi2_contrib")).as[Double].head()
    assert(math.abs(same) < 1e-12)
  }

  test("Profile.klDrift: zero on identical counts, hand-computed on a planted shift, JSD bounded") {
    import graft.operators.Profile
    val counts = Seq(
      ("g", "a", 6L, 2L), ("g", "b", 2L, 6L),       // shifted distribution
      ("h", "a", 3L, 3L), ("h", "b", 5L, 5L),       // identical
      ("k", "a", 4L, 0L), ("k", "b", 0L, 4L)        // disjoint supports
    ).toDF("grp", "item", "ca", "cb")
    val out = Profile.klDrift(counts, "grp", "item", "ca", "cb")
      .select("grp", "n_a", "n_b", "vocab", "kl_ab", "jsd")
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // identical counts → both divergences 0 (within decimal-cast dust)
    val h = out("h")
    assert(h._2 === 8L && h._3 === 8L && h._4 === 2L)
    assert(math.abs(h._5) < 1e-15 && math.abs(h._6) < 1e-15)
    // planted shift: Jeffreys-smoothed p = (6.5/9, 2.5/9), q = (2.5/9, 6.5/9)
    val p0 = 6.5 / 9.0; val p1 = 2.5 / 9.0
    val klWant = p0 * math.log(p0 / p1) + p1 * math.log(p1 / p0)
    assert(math.abs(out("g")._5 - klWant) < 1e-12, s"kl ${out("g")._5} want $klWant")
    // JSD: symmetric under A↔B swap, positive, and bounded by ln 2
    val swapped = Profile.klDrift(counts, "grp", "item", "cb", "ca")
      .select("grp", "jsd").as[(String, Double)].collect().toMap
    Seq("g", "h", "k").foreach { grp =>
      val j = out(grp)._6
      assert(j >= -1e-15 && j <= math.log(2.0) + 1e-12, s"$grp jsd $j out of [0, ln2]")
      assert(math.abs(j - swapped(grp)) < 1e-12, s"$grp jsd asymmetric")
    }
    // disjoint supports approach the JSD ceiling
    assert(out("k")._6 > 0.5 * math.log(2.0))
    // full-outer-join shape: NULL counts weigh as 0 and a NULL group key
    // surfaces as its own row instead of silently vanishing
    val raw = Seq(
      (Some("g"), "a", Some(4L), None: Option[Long]),
      (Some("g"), "b", None, Some(4L)),
      (None: Option[String], "a", Some(2L), Some(2L))
    ).toDF("grp", "item", "ca", "cb")
    val outer = Profile.klDrift(raw, "grp", "item", "ca", "cb")
      .select("grp", "n_a", "n_b", "jsd")
      .collect().map(r => Option(r.getString(0)) -> r).toMap
    assert(outer.contains(None), "null group must surface")
    assert(math.abs(outer(None).getDouble(3)) < 1e-15)
    val g = outer(Some("g"))
    assert(g.getLong(1) === 4L && g.getLong(2) === 4L)
    assert(g.getDouble(3) > 0.5 * math.log(2.0), "disjoint supports via NULLs")
  }

  test("Dedup.editVerify scores order-sensitively where Jaccard cannot") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "a b c"), (2L, "c b a"),   // same word set, different order
      (3L, "a b c"),                  // identical to 1
      (4L, ""), (5L, ""),             // empty pair
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("a_id", "b_id")
    val out = Dedup.editVerify(pairs, docs, "text", "doc_id")
      .select("a_id", "b_id", "edit_dist", "edit_sim")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out((1L, 3L)) === ((0L, 1.0)), "identical texts")
    assert(out((4L, 5L)) === ((0L, 1.0)), "empty pair defined as similar")
    val (d12, s12) = out((1L, 2L))
    assert(d12 === 2L && math.abs(s12 - (1.0 - 2.0 / 5.0)) < 1e-15,
      "swapped word order must cost edits even though word-set Jaccard is 1.0")
    // contrast: jaccardVerify scores the reordered pair 1.0
    val j = Dedup.jaccardVerify(pairs.filter($"b_id" === 2L), docs, "text", "doc_id")
      .select("jaccard").as[Double].head()
    assert(j === 1.0)

    // banded cap: below the cap the distance is exact; beyond it the
    // pair reports maxDist+1 (far pairs are not near-dups — exact
    // distance is paid-for noise)
    val capped = Dedup.editVerify(pairs, docs, "text", "doc_id", maxDist = 1)
      .select("a_id", "b_id", "edit_dist", "edit_sim")
      .as[(Long, Long, Long, Option[Double])]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(capped((1L, 3L)) === ((0L, Some(1.0))), "exact below the cap")
    assert(capped((1L, 2L))._1 === 2L, "dist 2 at cap 1 reports cap+1")
    assert(capped((1L, 2L))._2.isEmpty,
      "capped pair similarity is UNKNOWN — a back-computed value would overstate it")
  }

  test("Profile.zipf fits the log-log frequency slope over top-k words") {
    import graft.operators.Profile
    // construct an exact power law: freq(rank) = 64 / rank for rank 1,2,4
    // → ln(freq) = ln(64) − 1·ln(rank): slope exactly −1
    val doc = (Seq.fill(64)("w1") ++ Seq.fill(32)("w2") ++ Seq.fill(16)("w3")).mkString(" ")
    val docs = Seq((1L, doc, "en")).toDF("doc_id", "text", "lang")
    val out = Profile.zipf(docs, "text", "lang", k = 3)
      .select("group", "n_top", "slope", "intercept")
      .as[(String, Long, Option[Double], Option[Double])].collect()
    assert(out.length === 1)
    val (g, n, slope, icept) = (out.head._1, out.head._2, out.head._3, out.head._4)
    assert(g === "en" && n === 3L)
    // freqs 64/32/16 at ranks 1/2/3: ln-ln OLS slope of (0, ln2, ln3) vs
    // (ln64, ln32, ln16) = −ln2·cov(r,[0,1,2])/var(r) where r=(0,ln2,ln3)
    val xs = Seq(0.0, math.log(2), math.log(3))
    val ys = Seq(math.log(64), math.log(32), math.log(16))
    val nD = 3.0
    val expSlope = (nD * xs.zip(ys).map(p => p._1 * p._2).sum - xs.sum * ys.sum) /
      (nD * xs.map(x => x * x).sum - xs.sum * xs.sum)
    // decimal-exact sums quantize each ln moment at 1e-6 (the oracle
    // policy — both engines quantize identically), so the fit agrees
    // with the full-double expectation only to ~1e-5
    assert(math.abs(slope.get - expSlope) < 1e-4)
    assert(math.abs(icept.get - (ys.sum - expSlope * xs.sum) / nD) < 1e-4)

    // degenerate group: a single distinct word has one rank → k >= 2 rows
    // never materialize a second point; slope must be NULL, not a crash
    val one = Seq((2L, "solo solo solo", "xx")).toDF("doc_id", "text", "lang")
    val deg = Profile.zipf(one, "text", "lang", k = 5)
      .select("slope").as[Option[Double]].collect()
    assert(deg === Array(None))
  }

  test("Retention.cohorts computes per-week cohort activity and rates") {
    import java.sql.Timestamp
    import graft.operators.Retention
    def t(s: String) = Timestamp.valueOf(s)
    // week of 2024-01-01 (Mon) and 2024-01-08 (Mon)
    val events = Seq(
      ("a", t("2024-01-02 10:00:00")), // cohort w1
      ("a", t("2024-01-09 10:00:00")), //   active w2
      ("b", t("2024-01-03 10:00:00")), // cohort w1, never returns
      ("c", t("2024-01-10 10:00:00")), // cohort w2
      ("a", t("2024-01-04 09:00:00")), // duplicate w1 activity — ignored by distinct
    ).toDF("user_id", "ts")
    val out = Retention.cohorts(events, "user_id", "ts", "week")
      .select("cohort", "period_offset", "n_users", "cohort_size", "retention")
      .as[(Timestamp, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    val w1 = t("2024-01-01 00:00:00")
    val w2 = t("2024-01-08 00:00:00")
    assert(out((w1, 0L)) === ((2L, 2L, 1.0)))   // a, b
    assert(out((w1, 1L)) === ((1L, 2L, 0.5)))   // only a returns
    assert(out((w2, 0L)) === ((1L, 1L, 1.0)))   // c
    assert(out.size === 3)
  }

  test("TextSearch.hybridRrf fuses rankings by reciprocal rank") {
    import graft.operators.TextSearch
    val kw = Seq(("qa", 1L, 1), ("qa", 2L, 2), ("qb", 7L, 1))
      .toDF("query_id", "doc_id", "rank")
    val vec = Seq(("qa", 2L, 1), ("qa", 3L, 2), ("qb", 7L, 1))
      .toDF("query_id", "doc_id", "rank")
    val out = TextSearch.hybridRrf(kw, vec, k = 2)
      .select("query_id", "doc_id", "rrf_score", "rank")
      .as[(String, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).toSeq).toMap
    // qa: doc 2 in both lists (1/62 + 1/61) beats doc 1 (keyword-only
    // 1/61) beats doc 3 (vector-only 1/62); k=2 keeps the first two
    assert(out("qa").map(_._2) === Seq(2L, 1L))
    assert(math.abs(out("qa")(0)._3 - (1.0 / 62 + 1.0 / 61)) < 1e-15)
    assert(math.abs(out("qa")(1)._3 - 1.0 / 61) < 1e-15)
    // qb: same doc rank 1 in both retrievers
    assert(out("qb") === Seq(("qb", 7L, 1.0 / 61 + 1.0 / 61, 1)))
  }

  test("TextSearch.bm25 matches hand-computed scores and ranks") {
    import graft.operators.TextSearch
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana cherry date"),
      (4L, "date egg fig"),
    ).toDF("doc_id", "text")
    val queries = Seq(("qx", "apple"), ("qy", "banana"), ("qy", "date"))
      .toDF("query_id", "term")
    val out = TextSearch.bm25(docs, "text", "doc_id", queries, "query_id", "term", k = 5)
      .select("query_id", "doc_id", "score", "rank")
      .as[(String, Long, Double, Int)].collect()
      .groupBy(_._1).map { case (q, rows) => q -> rows.sortBy(_._4).toSeq }

    // qx = {apple}: N=4, avgdl=2.75, df=2 → idf=ln 2. Hand-computed:
    //   d1 (tf=2, dl=3): ln2 · 4.4/(2+1.2·(0.25+0.75·3/2.75))  = 0.929316
    //   d2 (tf=1, dl=2): ln2 · 2.2/(1+1.2·(0.25+0.75·2/2.75))  = 0.780194
    val qx = out("qx")
    assert(qx.map(r => (r._2, r._4)) == Seq((1L, 1), (2L, 2)))
    assert(math.abs(qx(0)._3 - 0.929316) < 1e-5 && math.abs(qx(1)._3 - 0.780194) < 1e-5)

    // qy = {banana, date}: only d3 matches both terms → rank 1
    val qy = out("qy")
    assert(qy.head._2 == 3L && qy.size == 3)
    // d1 (banana only) and d4 (date only): equal tf=1, dl=3, equal df
    // → exactly tied scores, tie broken by doc_id
    val tied = qy.filter(r => r._2 == 1L || r._2 == 4L)
    assert(tied.map(_._3).distinct.size == 1 && tied.map(_._2) == Seq(1L, 4L))
  }

  test("Profile.weightedQuantiles picks exact weighted order statistics") {
    import graft.operators.Profile
    // group g: values 1..4 with weights 1,1,6,2 (total 10):
    //   cum: 1,2,8,10 → median (5/10) lands on value 3; p90 (9/10) on 4
    // group h: equal weights → plain median = smallest value reaching half
    val df = Seq(
      ("g", 1.0, 1L, 1L), ("g", 2.0, 1L, 2L), ("g", 3.0, 6L, 3L), ("g", 4.0, 2L, 4L),
      ("h", 10.0, 5L, 5L), ("h", 20.0, 5L, 6L)
    ).toDF("grp", "v", "w", "id")
    val out = Profile.weightedQuantiles(df, Seq("grp"), "v", "w",
        quantiles = Seq((0, 1), (1, 2), (9, 10), (1, 1)), tieCols = Seq("id"))
      .collect().map(r => r.getString(0) -> r).toMap
    val g = out("g")
    assert(g.getDouble(1) === 1.0, "p0 = min")           // wq_0_1
    assert(g.getDouble(2) === 3.0, "weighted median")    // wq_1_2
    assert(g.getDouble(3) === 4.0, "weighted p90")       // wq_9_10
    assert(g.getDouble(4) === 4.0, "p100 = max")         // wq_1_1
    assert(g.getLong(5) === 4L && g.getLong(6) === 10L)  // n, w_total
    val h = out("h")
    assert(h.getDouble(2) === 10.0 && h.getDouble(3) === 20.0)
    // zero-weight rows shift nothing but remain pickable at their cum point
    val z = Seq(("z", 1.0, 0L, 1L), ("z", 2.0, 4L, 2L)).toDF("grp", "v", "w", "id")
    val zr = Profile.weightedQuantiles(z, Seq("grp"), "v", "w",
      quantiles = Seq((1, 2)), tieCols = Seq("id")).head()
    assert(zr.getDouble(1) === 2.0, "zero-weight row must not satisfy the cum test")
    // contract enforcement: duplicate quantiles and fractional weight
    // types fail fast; a negative weight fails loudly at execution
    intercept[IllegalArgumentException] {
      Profile.weightedQuantiles(df, Seq("grp"), "v", "w",
        quantiles = Seq((1, 2), (1, 2)), tieCols = Seq("id"))
    }
    val frac = Seq(("f", 1.0, 0.7, 1L)).toDF("grp", "v", "w", "id")
    intercept[IllegalArgumentException] {
      Profile.weightedQuantiles(frac, Seq("grp"), "v", "w",
        quantiles = Seq((1, 2)), tieCols = Seq("id"))
    }
    val neg = Seq(("n", 1.0, 2L, 1L), ("n", 2.0, -1L, 2L)).toDF("grp", "v", "w", "id")
    val ex = intercept[Exception] {
      Profile.weightedQuantiles(neg, Seq("grp"), "v", "w",
        quantiles = Seq((1, 2)), tieCols = Seq("id")).collect()
    }
    // the INTENDED guard, not just any failure: a refactor that breaks
    // the checked projection would throw AnalysisException and slip by
    // a bare non-null assert
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("negative weight")), s"got: ${messages(ex)}")
    // a NULL weight must fail the same way: `null < 0` is null under
    // three-valued logic, so an unguarded projection would let the row
    // count in `n` while its weight silently vanishes from the window sums
    val nul = Seq(("n", 1.0, Some(2L), 1L), ("n", 2.0, None, 2L))
      .toDF("grp", "v", "w", "id")
    val exN = intercept[Exception] {
      Profile.weightedQuantiles(nul, Seq("grp"), "v", "w",
        quantiles = Seq((1, 2)), tieCols = Seq("id")).collect()
    }
    assert(messages(exN).exists(_.contains("null or negative weight")),
      s"got: ${messages(exN)}")
    // no silent overflow: huge integral weights still pick correctly
    // (q·W_cum at decimal precision; a Long multiply would wrap)
    val big = Seq(("b", 1.0, 4000000000000000000L, 1L),
                  ("b", 2.0, 5000000000000000000L, 2L)).toDF("grp", "v", "w", "id")
    val br = Profile.weightedQuantiles(big, Seq("grp"), "v", "w",
      quantiles = Seq((9, 10)), tieCols = Seq("id")).head()
    assert(br.getDouble(1) === 2.0, s"p90 over ~9e18 total weight, got ${br.getDouble(1)}")
  }

  test("TextSearch.proximity finds minimal spans within the window, across 1-3 terms") {
    import graft.operators.TextSearch
    val docs = Seq(
      (1L, "hash x join y z"),          // span 3 (positions 0,2)
      (2L, "join hash"),                // span 2 — adjacent either order
      (3L, "hash a b c d e f join"),    // span 8 — outside window 5
      (4L, "hash only here"),           // missing 'join' — no result
      (5L, "x hash hash join x hash"),  // multiple occurrences: min span 2
    ).toDF("doc_id", "text")
    val out = TextSearch.proximity(docs, "text", "doc_id",
        Seq("hash", "join"), window = 5, k = 10)
      .select("doc_id", "min_span", "rank").as[(Long, Int, Int)].collect().toSeq
    assert(out == Seq((2L, 2, 1), (5L, 2, 2), (1L, 3, 3)), s"got $out")
    // widening the window admits doc 3 at its true span
    val wide = TextSearch.proximity(docs, "text", "doc_id",
        Seq("hash", "join"), window = 8, k = 10)
      .select("doc_id", "min_span").as[(Long, Int)].collect().toMap
    assert(wide(3L) == 8)
    // three terms: minimal covering stretch of all three
    val tri = Seq((1L, "a x b y c"), (2L, "c b a"), (3L, "a b"))
      .toDF("doc_id", "text")
    val t3 = TextSearch.proximity(tri, "text", "doc_id",
        Seq("a", "b", "c"), window = 5, k = 10)
      .select("doc_id", "min_span").as[(Long, Int)].collect().toMap
    assert(t3 == Map(1L -> 5, 2L -> 3), s"got $t3")
    // single term degenerates to presence with span 1
    val t1 = TextSearch.proximity(docs, "text", "doc_id",
        Seq("join"), window = 1, k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(t1 == Set(1L, 2L, 3L, 5L))
  }

  test("TextSearch.bm25 requireAll keeps only docs matching every query term; phrase counts whole-word hits") {
    import graft.operators.TextSearch
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana cherry date"),
      (4L, "date egg fig date egg"),
    ).toDF("doc_id", "text")
    val queries = Seq(("qy", "banana"), ("qy", "date")).toDF("query_id", "term")

    val andHits = TextSearch.bm25(docs, "text", "doc_id", queries, "query_id", "term",
        k = 5, requireAll = true)
      .select("doc_id").as[Long].collect().toSeq
    assert(andHits == Seq(3L), s"only d3 has both banana AND date, got $andHits")

    val ph = TextSearch.phrase(docs, "text", "doc_id", "date egg", k = 5)
      .select("doc_id", "n_hits", "rank").as[(Long, Long, Int)].collect().toSeq
    assert(ph == Seq((4L, 2L, 1)), s"d4 contains 'date egg' twice, got $ph")
    // substring-inside-a-word must NOT match: "ate egg" is not a token match
    assert(TextSearch.phrase(docs, "text", "doc_id", "ate egg", k = 5).count() == 0)

    // back-to-back repeats each count (double-space expansion); a
    // self-overlapping phrase still counts non-overlapping left-to-right
    val adj = Seq((1L, "spark join spark join spark join"), (2L, "a a a")).toDF("doc_id", "text")
    val adjHits = TextSearch.phrase(adj, "text", "doc_id", "spark join", k = 5)
      .select("doc_id", "n_hits").as[(Long, Long)].collect().toSeq
    assert(adjHits == Seq((1L, 3L)), s"3 adjacent repeats must count 3, got $adjHits")
    val selfOv = TextSearch.phrase(adj, "text", "doc_id", "a a", k = 5)
      .select("n_hits").as[Long].collect().toSeq
    assert(selfOv == Seq(1L), s"'a a' in 'a a a' counts once non-overlapping, got $selfOv")
  }

  test("Corpus.assignSplits is deterministic, exhaustive, and stable under corpus growth") {
    import graft.operators.Corpus
    val df = (1 to 400).map(i => (i.toLong, s"document body number $i")).toDF("doc_id", "text")
    val splits = Seq("train" -> 0.8, "val" -> 0.1)
    val out = Corpus.assignSplits(df, "text", splits, defaultSplit = "test")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(out.size == 400 && out.values.toSet.subsetOf(Set("train", "val", "test")))
    val frac = out.values.groupBy(identity).view.mapValues(_.size / 400.0).toMap
    assert(math.abs(frac("train") - 0.8) < 0.08, s"train fraction off: $frac")
    // growth stability: assignments never change when other docs arrive
    val grown = Corpus.assignSplits(
        df.union(Seq((9999L, "a brand new doc")).toDF("doc_id", "text")),
        "text", splits, defaultSplit = "test")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(out.forall { case (id, sp) => grown(id) == sp })
  }

  test("TextFns.bpeTokenCount counts subword-ish tokens") {
    import graft.functions.TextFns
    val out = Seq("don't!! stop", "abc123", "", "   ").toDF("t")
      .select(TextFns.bpeTokenCount($"t")).as[Long].collect().toSeq
    // don / ' / t / ! / ! / stop = 6; abc / 123 = 2; empties = 0
    assert(out == Seq(6L, 2L, 0L, 0L), out.toString)
  }

  test("Interpolate.refillLinear fills interior gaps with neighbor mean and edges with nearest") {
    val df = Seq(
      (1L, t("2024-01-01 10:00:00"), 10.0, false),
      (1L, t("2024-01-01 10:01:00"), -1.0, true),
      (1L, t("2024-01-01 10:02:00"), 20.0, false),
      (1L, t("2024-01-01 09:59:00"), -1.0, true), // leading edge → nearest next good
    ).toDF("k", "ts", "v", "miss")
    val out = Interpolate.refillLinear(df, "k", "ts", "v", col("miss"))
      .orderBy("ts").select("refilled").as[Double].collect().toSeq
    assert(out == Seq(10.0, 10.0, 15.0, 20.0))
  }

  test("SkewJoin.heavyHitters reports exact top-k keys with shares, heap-planned") {
    import graft.operators.SkewJoin
    val df = (1 to 100).map(i => (if (i <= 60) "hot" else if (i <= 90) "warm" else s"cold$i"))
      .toDF("k")
    val got = SkewJoin.heavyHitters(df, Seq("k"), k = 2)
      .select("k", "n", "share").as[(String, Long, Double)].collect().toSeq
    assert(got == Seq(("hot", 60L, 0.6), ("warm", 30L, 0.3)))
    val plan = SkewJoin.heavyHitters(df, Seq("k"), k = 2).queryExecution.sparkPlan
    val heap = plan.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t }
    assert(heap.nonEmpty, s"global top-k must plan TakeOrderedAndProject, got:\n$plan")
  }

  test("Histogram.fixedWidth clamps out-of-range values into edge buckets") {
    import graft.operators.Histogram
    val df = Seq(("a", -5.0), ("a", 0.0), ("a", 49.9), ("a", 50.0), ("a", 975.0))
      .toDF("g", "v")
    val got = Histogram.fixedWidth(df, Seq("g"), "v", lo = 0.0, width = 50.0, nBins = 10)
      .select("bucket", "n").as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 3L, 1L -> 1L, 9L -> 1L)) // -5 and 975 clamp to the edges
  }

  test("Funnel.steps counts strictly-ordered first-occurrence prefixes") {
    import graft.operators.Funnel
    def t(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val ev = Seq(
      (1L, "view", t(1)), (1L, "click", t(2)), (1L, "buy", t(3)),   // full funnel
      (2L, "view", t(1)), (2L, "buy", t(2)), (2L, "click", t(3)),   // buy precedes click → view+click only? no: click at 3 > view... prefix view,click needs t(click)>t(view): 3>1 ✓ but buy must be > click: first buy=2 < 3 → stops at click
      (3L, "click", t(1)), (3L, "buy", t(2)),                       // never viewed → nothing
      (4L, "view", t(5)), (4L, "click", t(5)),                      // tie is not strictly after
    ).toDF("user_id", "event_type", "ts")
    val got = Funnel.steps(ev, "user_id", "event_type", "ts", Seq("view", "click", "buy"))
      .select("step", "step_idx", "n_users").as[(String, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("view") == ((1, 3L)))   // users 1, 2, 4
    assert(got("click") == ((2, 2L)))  // users 1, 2 (4 ties out)
    assert(got("buy") == ((3, 1L)))    // user 1 only
  }

  test("Outliers.madClip flags spikes that inflate sigma past sigmaClip's reach") {
    import graft.operators.Outliers
    // 20 quiet points + 3 enormous spikes: the spikes drag σ up so far
    // that sigma-clip at 3σ misses them, while median/MAD barely move
    val rows = ((1 to 20).map(i => (i.toLong, "g", 100.0 + (i % 5))) ++
      Seq((21L, "g", 1e7), (22L, "g", 1.1e7), (23L, "g", 0.9e7))).toDF("id", "g", "v")
    val sig = Outliers.sigmaClip(rows, Seq("g"), "v", k = 3.0)
      .filter(col("is_outlier")).select("id").as[Long].collect().toSet
    val mad = Outliers.madClip(rows, Seq("g"), "v", "id", k = 3.5 * 1.4826)
      .filter(col("is_outlier")).select("id").as[Long].collect().toSet
    assert(sig.isEmpty, s"3 spikes in 23 points inflate sigma past the 3-sigma clip: $sig")
    assert(mad == Set(21L, 22L, 23L), s"MAD stays robust: $mad")
    // median/MAD values are the exact mid elements
    val r = Outliers.madClip(rows, Seq("g"), "v", "id", k = 3.5).select("grp_median", "grp_mad").head()
    assert(r.getDouble(0) == 102.0 && r.getDouble(1) == 1.0)
  }

  test("Outliers.madClip computes medians over non-null values; null rows flag null") {
    import graft.operators.Outliers
    val rows = Seq((1L, "g", Some(1.0)), (2L, "g", Some(2.0)), (3L, "g", Some(3.0)),
      (4L, "g", None)).toDF("id", "g", "v")
    val out = Outliers.madClip(rows, Seq("g"), "v", "id", k = 3.0)
      .select("id", "grp_median", "is_outlier").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), Option(r.get(2))))).toMap
    // median of {1,2,3} is 2 — nulls neither shift the rank nor flag
    assert(out(1L)._1 == 2.0)
    assert(out(4L)._2.isEmpty, "null value rows must get null is_outlier")
  }

  test("Funnel.steps tolerates step names that would break a SQL parser") {
    import graft.operators.Funnel
    def t(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val ev = Seq((1L, "sign'up", t(1)), (1L, "buy`now", t(2))).toDF("user_id", "event_type", "ts")
    val got = Funnel.steps(ev, "user_id", "event_type", "ts", Seq("sign'up", "buy`now"))
      .select("step", "n_users").as[(String, Long)].collect().toMap
    assert(got == Map("sign'up" -> 1L, "buy`now" -> 1L))
  }

  test("Outliers.sigmaClip flags only far points") {
    val vals = Seq.fill(20)(10.0) :+ 1000.0
    val df = vals.map(("g", _)).toDF("g", "v")
    val out = Outliers.sigmaClip(df, Seq("g"), "v", 2.0)
    assert(out.filter(col("is_outlier")).select("v").as[Double].collect().toSeq == Seq(1000.0))
  }

  test("Corpus.packSequences cuts each group's token stream into fixed sequences, docs crossing boundaries") {
    import graft.operators.Corpus
    val df = Seq(
      ("g", 1L, 100), ("g", 2L, 200), ("g", 3L, 30), // stream: [0,100) [100,300) [300,330)
      ("g", 4L, 0),                                  // zero-token doc: no span
      ("h", 1L, 5),                                  // independent group
    ).toDF("source", "doc_id", "ntok")
    val out = Corpus.packSequences(df, "source", "doc_id", col("ntok"), seqLen = 128L)
      .select("source", "doc_id", "seq_id", "tok_start", "tok_end")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      ("g", 1L, 0L, 0L, 100L),                                      // fits in seq 0
      ("g", 2L, 0L, 100L, 128L), ("g", 2L, 1L, 0L, 128L), ("g", 2L, 2L, 0L, 44L), // spans 3
      ("g", 3L, 2L, 44L, 74L),                                      // packs after doc 2's tail
      ("h", 1L, 0L, 0L, 5L),
    ))
    // conservation: every token lands in exactly one (seq, span) slot
    val packed = Corpus.packSequences(df, "source", "doc_id", col("ntok"), seqLen = 128L)
    assert(packed.agg(sum("n_tokens")).as[Long].head() == 335L)
    // each full interior sequence is exactly seqLen tokens
    val perSeq = packed.filter(col("source") === "g")
      .groupBy("seq_id").agg(sum("n_tokens").as("t"))
      .as[(Long, Long)].collect().toMap
    assert(perSeq == Map(0L -> 128L, 1L -> 128L, 2L -> 74L))
  }

  test("Corpus.weightedSamplePerGroup takes exactly k per group, favors heavy docs, stable under repartitioning") {
    import graft.operators.Corpus
    val df = (1 to 100).map { i =>
      val heavy = i <= 50
      (i.toLong, s"g${i % 2}", s"doc body $i", if (heavy) 10000L else 1L)
    }.toDF("doc_id", "source", "text", "w")
    val a = Corpus.weightedSamplePerGroup(df, "source", "text", col("w"), "doc_id", k = 5)
    val ids = a.select("doc_id").as[Long].collect().toSet
    val b = Corpus.weightedSamplePerGroup(df.repartition(7), "source", "text", col("w"), "doc_id", k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == b && ids.size == 10, "2 groups x 5, identical across partitionings")
    // w=10000 docs hold 99.99% of each group's mass — the deterministic
    // hash draw picks only heavy docs here (a light doc needs a ~1e-4
    // tail event PER competing heavy doc to place)
    assert(ids.forall(_ <= 50), s"expected only heavy docs, got $ids")
    // null/non-positive weights carry no sampling mass
    val withBad = df.withColumn("w",
      when(col("doc_id") <= 50, lit(null).cast("long")).otherwise(lit(0L)))
    assert(Corpus.weightedSamplePerGroup(withBad, "source", "text", col("w"), "doc_id", k = 5)
      .count() == 0L)
  }

  test("Corpus.planMixtureEpochs: repetition cap binds the feasible budget; ample budget plans full epochs") {
    import graft.operators.Corpus
    val df = Seq(("a", 1000L), ("b", 600L), ("c", 400L), ("d", 9999L)).toDF("source", "n_tok")
    val tgts = Seq("a" -> 0.5, "b" -> 0.3, "c" -> 0.2)
    // caps: 4·1000/.5 = 4·600/.3 = 4·400/.2 = 8000 → B' = 8000, all at 4 epochs
    val plan = Corpus.planMixtureEpochs(df, "source", col("n_tok"), tgts,
        totalTokens = 100000L, maxEpochs = 4.0)
      .select("source", "planned_tokens", "epochs").as[(String, Double, Double)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(plan.keySet == Set("a", "b", "c"), "untargeted sources are not in the plan")
    assert(plan("a") == ((4000.0, 4.0)) && plan("b") == ((2400.0, 4.0)) && plan("c") == ((1600.0, 4.0)))
    // ample data, small budget → budget binds, epochs scale down
    val small = Corpus.planMixtureEpochs(df, "source", col("n_tok"), tgts,
        totalTokens = 4000L, maxEpochs = 4.0)
      .select("source", "epochs").as[(String, Double)].collect().toMap
    assert(small("a") == 2.0 && small("b") == 2.0 && small("c") == 2.0)
    // a targeted source absent from the corpus zeroes the feasible budget
    val empty = Corpus.planMixtureEpochs(df, "source", col("n_tok"),
        Seq("a" -> 0.5, "missing" -> 0.5), totalTokens = 4000L, maxEpochs = 4.0)
      .select("source", "planned_tokens", "epochs").as[(String, Double, Double)].collect()
    assert(empty.length == 2 && empty.forall(r => r._2 == 0.0 && r._3 == 0.0))
    intercept[IllegalArgumentException] {
      Corpus.planMixtureEpochs(df, "source", col("n_tok"), Seq("a" -> 0.5), 100L, 4.0)
    }
  }
}
