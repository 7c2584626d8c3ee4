package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Downsample, Funnel, LangModel}

/** Downsample.rollingRange (time-RANGE rolling aggregate),
  * Downsample.products (multi-resolution decimation), LangModel.pmiTop
  * (PMI collocations), Funnel.sequencePattern (event-sequence regex). */
class SequenceOpsSpec extends SparkSpec {
  import spark.implicits._

  private def t(epochSec: Long) = new Timestamp(epochSec * 1000L)

  test("rollingRange sums the trailing time window, inclusive of equal timestamps") {
    val df = Seq(
      (1L, t(0), 1.0), (1L, t(10), 2.0), (1L, t(3600), 4.0),
      (1L, t(3601), 8.0), (1L, t(7300), 16.0),
      (2L, t(5), 1.0), (2L, t(5), 2.0), // equal ts share one frame
    ).toDF("user_id", "ts", "value")
    val got = Downsample.rollingRange(df, "user_id", "ts", "value", 3600L)
      .select("user_id", "value", "roll_sum", "roll_n")
      .as[(Long, Double, Double, Long)].collect().toSet
    assert(got === Set(
      (1L, 1.0, 1.0, 1L),    // only itself
      (1L, 2.0, 3.0, 2L),    // t0 + t10
      (1L, 4.0, 7.0, 3L),    // t0 still inside [0, 3600]
      (1L, 8.0, 14.0, 3L),   // t0 aged out, t10..t3601
      (1L, 16.0, 16.0, 1L),  // everything aged out
      (2L, 1.0, 3.0, 2L),    // RANGE: same-instant rows share the frame
      (2L, 2.0, 3.0, 2L),
    ))
  }

  test("pmiTop ranks hand-computed PMI with deterministic tie order") {
    val corpus = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    // bigrams: (a,b)=3 (b,a)=1 (b,c)=1, N=5; unigrams a=3 b=3 c=1
    val got = LangModel.pmiTop(corpus, "text", k = 2, minCount = 1L)
      .as[(String, String, Long, Double)].collect()
    def r6(x: Double) =
      new java.math.BigDecimal(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val pmiAB = r6(math.log(3.0 * 5 / (3 * 3)))
    val pmiBC = r6(math.log(1.0 * 5 / (3 * 1)))
    assert(pmiAB === pmiBC, "fixture engineered as an exact rounded tie")
    // tie breaks by (w_prev, w): (a,b) before (b,c); (b,a) has lower PMI
    assert(got.toSeq === Seq(("a", "b", 3L, pmiAB), ("b", "c", 1L, pmiBC)))
  }

  test("pmiTop returns an empty frame (same schema) on a corpus with no bigrams") {
    val corpus = Seq((1L, "solo"), (2L, "")).toDF("doc_id", "text")
    val got = LangModel.pmiTop(corpus, "text", k = 3, minCount = 1L)
    assert(got.columns.toSeq === Seq("w_prev", "w", "c_pair", "pmi"))
    assert(got.count() === 0L)
  }

  test("sequencePattern counts non-overlapping regex matches on the time-ordered sequence") {
    import Funnel.tok
    // inserted OUT of time order; sort must restore view,click,purchase,view,click
    val df = Seq(
      (103L, t(30), 1L, "purchase"),
      (101L, t(10), 1L, "view"),
      (105L, t(50), 1L, "click"),
      (102L, t(20), 1L, "click"),
      (104L, t(40), 1L, "view"),
      (201L, t(10), 2L, "error"),
      (202L, t(20), 2L, "error"),
      (203L, t(30), 2L, "signup"),
    ).toDF("event_id", "ts", "user_id", "event_type")
    val rows = Funnel.sequencePattern(df, "user_id", "ts", "event_id", "event_type",
        Seq("n_triple" -> (tok("view") + tok("click") + tok("purchase")),
            "n_vc" -> (tok("view") + tok("click")),
            "n_err" -> (tok("error") + "(" + tok("error") + ")*" + tok("signup"))))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(rows(1L) === ((5L, 1L, 2L, 0L)))
    assert(rows(2L) === ((3L, 0L, 0L, 1L)), "greedy error+ run collapses to one match")
  }

  test("sequencePattern tok atoms do not match inside longer types or across boundaries") {
    import Funnel.tok
    val df = Seq(
      (1L, t(10), 1L, "preview"), // contains 'view' as a substring
      (2L, t(20), 1L, "click"),
      (3L, t(30), 2L, "view"),
      (4L, t(40), 2L, "click"),
    ).toDF("event_id", "ts", "user_id", "event_type")
    val rows = Funnel.sequencePattern(df, "user_id", "ts", "event_id", "event_type",
        Seq("n_vc" -> (tok("view") + tok("click"))))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(rows(1L) === 0L, "'view click' must not match inside 'preview click'")
    assert(rows(2L) === 1L)
  }

  test("sequencePattern refuses a key over maxEvents loudly, before collecting it") {
    import Funnel.tok
    val df = (1L to 10L).map(i => (i, t(i), 1L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val e = intercept[Exception] {
      Funnel.sequencePattern(df, "user_id", "ts", "event_id", "event_type",
        Seq("n_v" -> tok("view")), maxEvents = 5).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(m => m.contains("maxEvents=5") && m.contains("key 1")),
      s"expected a loud per-key cap failure, got: ${messages(e).mkString(" | ")}")
    // under the cap the same input succeeds
    val ok = Funnel.sequencePattern(df, "user_id", "ts", "event_id", "event_type",
      Seq("n_v" -> tok("view")), maxEvents = 10)
      .as[(Long, Long, Long)].collect()
    assert(ok.toSeq === Seq((1L, 10L, 10L)))
  }

  test("debounce keeps rows whose same-key predecessor is at least the horizon older") {
    val df = Seq(
      (1L, t(0), 1L, "click"),    // kept (no predecessor)
      (2L, t(30), 1L, "click"),   // dropped (30s < 60s after event 1)
      (3L, t(60), 1L, "click"),   // kept (exactly 60s after event 2's ts... 30s) — dropped
      (4L, t(120), 1L, "click"),  // 60s after event 3 → kept
      (5L, t(10), 1L, "view"),    // different type: own chain, kept
      (6L, t(15), 2L, "click"),   // different user, kept
    ).toDF("event_id", "ts", "user_id", "event_type")
    val kept = graft.operators.Sessionize.debounce(
        df, Seq("user_id", "event_type"), "ts", 60L, Seq("event_id"))
      .select("event_id").as[Long].collect().toSet
    // lag semantics: each row compares to its PHYSICAL predecessor —
    // event 3 is 30s after event 2 (dropped row still anchors the lag)
    assert(kept === Set(1L, 4L, 5L, 6L))
  }

  test("sequencePattern ties on identical timestamps break by the tiebreak column") {
    val df = Seq(
      (2L, t(10), 1L, "click"),
      (1L, t(10), 1L, "view"), // same ts — event_id must decide order
    ).toDF("event_id", "ts", "user_id", "event_type")
    val rows = Funnel.sequencePattern(df, "user_id", "ts", "event_id", "event_type",
        Seq("n_vc" -> (Funnel.tok("view") + Funnel.tok("click"))))
      .as[(Long, Long, Long)].collect()
    assert(rows.head === ((1L, 2L, 1L)))
  }

  test("parseFlags reads the verbatim reference config line") {
    val (plans, global) = Downsample.parseFlags(
      "pscrunch,t 320 f 8,t 64 f 16,t 8 f 32,tscrunch,fscrunch,saveall")
    assert(plans === Seq(
      Downsample.Plan("t320f8", 320, 8), Downsample.Plan("t64f16", 64, 16),
      Downsample.Plan("t8f32", 8, 32), Downsample.Plan("tscrunch", 0, 1),
      Downsample.Plan("fscrunch", 1, 0)))
    assert(global === Set("pscrunch", "saveall"))
    // axis order is free, a missing axis stays untouched (factor 1)
    val (p2, _) = Downsample.parseFlags("f 4 t 2, t 16")
    assert(p2 === Seq(Downsample.Plan("f4t2", 2, 4), Downsample.Plan("t16", 16, 1)))
    // compact forms parse too — Plan names round-trip through the parser
    val (p3, g3) = Downsample.parseFlags("t320f8, t64 f16, pscrunch")
    assert(p3 === Seq(Downsample.Plan("t320f8", 320, 8), Downsample.Plan("t64f16", 64, 16)))
    assert(g3 === Set("pscrunch"))
    // subband N is vocabulary, any other digit-bearing token is a typo'd
    // product spec and must FAIL LOUDLY, not become a silent global flag
    val (_, g4) = Downsample.parseFlags("subband 4, nozap")
    assert(g4 === Set("subband 4", "nozap"))
    intercept[IllegalArgumentException] { Downsample.parseFlags("t 320 g 8") }
    intercept[IllegalArgumentException] { Downsample.parseFlags("t320x8") }
    // digit-free unknown tokens still pass through (forward compat)
    assert(Downsample.parseFlags("newflag")._2 === Set("newflag"))
  }

  test("products: one-pass multi-resolution equals per-plan groupBys") {
    import org.apache.spark.sql.functions._
    val df = (0 until 200).map { i =>
      (s"k${i % 2}", (i / 3).toLong, (i % 8).toLong, i * 0.5 + 1)
    }.toDF("k", "t_idx", "f_idx", "v")
    val plans = Seq(Downsample.Plan("t4f2", 4, 2), Downsample.Plan("tscrunch", 0, 1))
    val one = Downsample.products(df, Seq("k"), col("t_idx"), col("f_idx"), col("v"), plans)
      .collect().map(_.toString).toSet
    val perPlan = plans.flatMap { p =>
      def bin(c: org.apache.spark.sql.Column, f: Long) =
        if (f == 0L) lit(0L) else if (f == 1L) c.cast("long")
        else floor(c / lit(f.toDouble)).cast("long")
      df.groupBy(col("k"), lit(p.name).as("plan"),
          bin(col("t_idx"), p.tFactor).as("t_bin"), bin(col("f_idx"), p.fFactor).as("f_bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast("decimal(38,6)")).cast("double").as("sum_value"),
          (sum(col("v").cast("decimal(38,6)")).cast("double") / count(col("v")))
            .as("avg_value"))
        .collect().map(_.toString)
    }.toSet
    assert(one === perPlan)
    // full-collapse product: exactly one bin per key
    val tsc = Downsample.products(df, Seq("k"), col("t_idx"), col("f_idx"), col("v"),
        Seq(Downsample.Plan("all", 0, 0)))
      .collect()
    assert(tsc.length === 2 && tsc.map(_.getAs[Long]("n")).sum === 200)
  }

  /** The explode-then-aggregate body `Downsample.products` had before the
    * finest-grid roll-up — kept here as its reference: every raw row
    * replicates into its (plan, t_bin, f_bin) memberships, then one
    * aggregate sums the rows. */
  private def explodeProducts(df: DataFrame, keyCols: Seq[String], tIdx: Column, fIdx: Column,
                              valueCol: Column, plans: Seq[Downsample.Plan]): DataFrame = {
    def bin(idx: Column, factor: Long): Column =
      if (factor == 0L) lit(0L)
      else if (factor == 1L) idx.cast("long")
      else floor(idx / lit(factor.toDouble)).cast("long")
    val rep = explode(array(plans.map { p =>
      struct(lit(p.name).as("plan"), bin(tIdx, p.tFactor).as("t_bin"),
        bin(fIdx, p.fFactor).as("f_bin"))
    }: _*)).as("__p")
    df.select(keyCols.map(col) ++ Seq(rep, valueCol.as("__v")): _*)
      .select(keyCols.map(col) ++ Seq(col("__p.plan").as("plan"),
        col("__p.t_bin").as("t_bin"), col("__p.f_bin").as("f_bin"), col("__v")): _*)
      .groupBy(keyCols.map(col) ++ Seq(col("plan"), col("t_bin"), col("f_bin")): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__v").cast("decimal(38,6)")).cast("double").as("sum_value"),
        (sum(col("__v").cast("decimal(38,6)")).cast("double") / count(col("__v")))
          .as("avg_value"))
  }

  /** (keys, plan, t_bin, f_bin) → (n, raw bits of sum_value, of avg_value). */
  private def productBits(df: DataFrame, keyCols: Seq[String]): Map[Seq[Any], (Long, Option[Long], Option[Long])] = {
    def bits(r: Row, f: String) =
      Option(r.getAs[java.lang.Double](f)).map(d => java.lang.Double.doubleToRawLongBits(d))
    val rows = df.collect()
    val out = rows.map { r =>
      (keyCols ++ Seq("plan", "t_bin", "f_bin")).map(r.getAs[Any]) ->
        ((r.getAs[Long]("n"), bits(r, "sum_value"), bits(r, "avg_value")))
    }.toMap
    assert(out.size === rows.length, "one row per (keys, plan, t_bin, f_bin)")
    out
  }

  private val productsSchema = StructType(Seq(StructField("k1", StringType),
    StructField("k2", IntegerType), StructField("t_idx", DoubleType),
    StructField("f_idx", LongType), StructField("v", DoubleType)))

  /** RDD-backed over three slices, so partial aggregates really merge. */
  private def productsFrame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), productsSchema)

  test("products: finest-grid roll-up == explode-then-aggregate bit for bit on random data") {
    val rng = new scala.util.Random(115)
    def maybeNull[A](a: => A): Any = if (rng.nextInt(12) == 0) null else a
    val rows = (0 until 3000).map { _ =>
      Row(maybeNull(Seq("a", "b", "c")(rng.nextInt(3))), maybeNull(rng.nextInt(3) - 1),
        // null, negative and fractional time indices
        maybeNull(rng.nextInt(40) - 12 + Seq(0.0, 0.25, 0.5, 0.999)(rng.nextInt(4))),
        maybeNull((rng.nextInt(24) - 6).toLong),
        // null, NaN and six decades of magnitude of both signs: any
        // other rounding of the sums shows in the raw bits
        if (rng.nextInt(50) == 0) Double.NaN
        else maybeNull((if (rng.nextBoolean()) 1.0 else -1.0) * math.pow(10, rng.nextDouble() * 9 - 3)))
    }
    val df = productsFrame(rows)
    val plans = Seq(Downsample.Plan("t0f1", 0, 1), Downsample.Plan("t1f0", 1, 0),
      Downsample.Plan("t0f0", 0, 0), Downsample.Plan("t1f1", 1, 1),
      Downsample.Plan("t3f4", 3, 4), Downsample.Plan("t7f2", 7, 2))
    val keys = Seq("k1", "k2")
    val rolled = productBits(
      Downsample.products(df, keys, col("t_idx"), col("f_idx"), col("v"), plans), keys)
    val reference = productBits(
      explodeProducts(df, keys, col("t_idx"), col("f_idx"), col("v"), plans), keys)
    assert(rolled.size === reference.size)
    assert(rolled === reference)
    // the fixture really covers null and NaN outputs and null bins
    assert(rolled.values.exists(_._2.isEmpty))
    assert(rolled.keys.exists(_(keys.size + 1) == null))
    assert(rolled.values.map(_._1).sum === rows.length * plans.size)
    // output schema unchanged, `n` included
    assert(Downsample.products(df, keys, col("t_idx"), col("f_idx"), col("v"), plans).schema
      === explodeProducts(df, keys, col("t_idx"), col("f_idx"), col("v"), plans).schema)
  }

  test("products: a decimal(38,6) sum overflow fails the same way in both forms") {
    // three 9e31 samples in one cell: |Σ| = 2.7e32 > 1e32, decimal(38,6)'s range
    val df = productsFrame(Seq.fill(3)(Row("a", 1, 0.0, 0L, 9e31)) :+ Row("a", 1, 5.0, 1L, 1.0))
    val plans = Seq(Downsample.Plan("t2f2", 2, 2))
    def failure(out: DataFrame): (Class[_], String) = {
      val e = intercept[Throwable](out.collect())
      val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case t: org.apache.spark.SparkThrowable if t.getCondition != null => t }
      assert(root.isDefined, s"no Spark error condition in $e")
      (root.get.getClass, root.get.getCondition)
    }
    val rolled = failure(Downsample.products(df, Seq("k1"), col("t_idx"), col("f_idx"), col("v"), plans))
    val reference = failure(explodeProducts(df, Seq("k1"), col("t_idx"), col("f_idx"), col("v"), plans))
    assert(rolled === reference)
    assert(rolled._2.contains("OVERFLOW") || rolled._2.contains("OUT_OF_RANGE"), rolled._2)
  }
}
