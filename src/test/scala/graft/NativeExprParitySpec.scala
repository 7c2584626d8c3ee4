package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StringType, StructField, StructType}

import graft.expressions.{MinHashBands, MinHashFamily, MinHashSig, SimHashBits, WordShingles}
import graft.functions.TextFns
import graft.operators.Toa

/** Randomized parity: each native expression must be value-identical to
  * the builtin composition it replaced (which is what the DuckDB oracles
  * mirror). Fixed seed keeps the corpus deterministic. */
class NativeExprParitySpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(23)
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
    "eta", "theta", "the", "a", "", "x1", "Überlänge", "日本語")

  private def randDoc(): String =
    Seq.fill(rng.nextInt(12))(vocab(rng.nextInt(vocab.size))).mkString(" ")

  private val docs = (1 to 200).map(i => (i.toLong, randDoc())).toDF("doc_id", "text")

  /** The builtin composition WordShingles replaced: split, `n` slices and
    * a zip_with concat chain. */
  private def builtinShingles(text: Column, n: Int): Column = {
    val ws = split(text, " ")
    val len = greatest(size(ws) - lit(n - 1), lit(0))
    (0 until n).map(o => slice(ws, lit(o + 1), len))
      .reduce((acc, p) => zip_with(acc, p, (a, b) => concat(a, lit(" "), b)))
  }

  /** The explode + vote aggregation SimHashBits replaced, over `(id, w)`
    * word rows: each id's `bits`-bit fingerprint `fp`. */
  private def builtinSimhash(words: DataFrame, bits: Int): DataFrame = {
    val votes = (0 until bits).map { j =>
      val c = substring(md5(col("w")), j + 1, 1)
      val hexVal = when(ascii(c) >= 97, ascii(c) - 87).otherwise(ascii(c) - 48)
      sum(when(hexVal % 2 === 1, 1L).otherwise(-1L)).as(s"v$j")
    }
    val fp = (0 until bits).map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _)
    words.groupBy("id").agg(votes.head, votes.tail: _*).select(col("id"), fp.as("fp"))
  }

  test("WordShingles == slice/zip_with composition on random docs (incl. empties, unicode)") {
    val rows = docs.select(
      WordShingles.of(col("text"), 3).as("native"),
      builtinShingles(col("text"), 3).as("composed"),
    ).as[(Seq[String], Seq[String])].collect()
    rows.foreach { case (n, c) => assert(n == c) }
  }

  test("SimHashBits == explode + 16-vote aggregation on random docs") {
    val native = docs.select(col("doc_id"),
      SimHashBits.of(array_distinct(TextFns.words(col("text"))), 16).as("fp"))
      .as[(Long, Long)].collect().toMap
    val wordsDf = docs.select(col("doc_id").as("id"),
      explode(array_distinct(TextFns.words(col("text")))).as("w"))
    val composed = builtinSimhash(wordsDf, 16).as[(Long, Long)].collect().toMap
    // the explode path drops docs with zero words; compare on its domain
    composed.foreach { case (d, f) => assert(native(d) == f, s"doc $d") }
    assert(composed.nonEmpty)
  }

  test("MinHashSig == explode + min(substring(md5)) aggregation on random docs") {
    val eligible = docs.filter(size(TextFns.words(col("text"))) >= 3)
    val native = eligible.select(col("doc_id"),
      MinHashSig.of(TextFns.shingles(col("text"), 3), 8).as("sig"))
      .as[(Long, Seq[String])].collect().toMap
    val sh = eligible
      .select(col("doc_id").as("doc"), explode(TextFns.shingles(col("text"), 3)).as("s"))
      .select(col("doc"), md5(col("s")).as("h"))
    val mins = (0 until 8).map(j => min(substring(col("h"), 1 + 4 * j, 4)).as(s"m$j"))
    val composed = sh.groupBy("doc").agg(mins.head, mins.tail: _*)
      .select(col("doc"), array((0 until 8).map(j => col(s"m$j")): _*).as("sig"))
      .as[(Long, Seq[String])].collect().toMap
    composed.foreach { case (d, s) => assert(native(d) == s, s"doc $d") }
    assert(composed.nonEmpty)
  }

  test("MinHashBands == word_shingles + minhash_sig + md5(concat(sig slices)) on random docs") {
    val (numHashes, bands, n) = (8, 2, 3)
    val perBand = numHashes / bands
    val eligible = docs.filter(size(TextFns.words(col("text"))) >= n)
    val native = eligible.select(col("doc_id"),
      MinHashBands.of(col("text"), numHashes, bands, n, MinHashFamily.Md5Hex).as("bk"))
      .as[(Long, Seq[String])].collect().toMap
    val sig = MinHashSig.of(TextFns.shingles(col("text"), n), numHashes)
    val composed = eligible.select(col("doc_id"), sig.as("sig"))
      .select(col("doc_id"), array((0 until bands).map { b =>
        md5(concat((b * perBand until (b + 1) * perBand)
          .map(i => element_at(col("sig"), i + 1)): _*))
      }: _*).as("bk"))
      .as[(Long, Seq[String])].collect().toMap
    assert(native.keySet == composed.keySet)
    composed.foreach { case (d, b) => assert(native(d) == b, s"doc $d") }
    assert(composed.nonEmpty)
  }

  test("explode(bands) drops exactly the docs a words-count pre-filter would") {
    // Dedup's bandKeys relies on this, for both hash families, in place
    // of the former size(words(text)) >= n filter: short and null texts
    // must vanish from the exploded band rows, nothing else may.
    val n = 3
    val withEdge = docs.union(Seq(
      (9001L, "two words"), (9002L, ""), (9003L, null.asInstanceOf[String]),
      (9004L, "  "), (9005L, "exactly three words")).toDF("doc_id", "text"))
    val kept = withEdge.filter(size(TextFns.words(col("text"))) >= n)
      .select("doc_id").as[Long].collect().toSet
    val viaMd5 = withEdge.select(col("doc_id"),
        explode(MinHashBands.of(col("text"), 8, 2, n, MinHashFamily.Md5Hex)).as("b"))
      .select("doc_id").distinct().as[Long].collect().toSet
    val viaXx = withEdge.select(col("doc_id"),
        explode(MinHashBands.of(col("text"), 8, 2, n, MinHashFamily.XxHash64)).as("b"))
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(viaMd5 == kept)
    assert(viaXx == kept)
    assert(kept.contains(9004L) && kept.contains(9005L)) // "  " = 3 empty words
    assert(!kept.contains(9001L) && !kept.contains(9002L) && !kept.contains(9003L))
  }

  test("XxMinHashBands == explode + min(xxhash64(sh, i)) + xxhash64 band fold on random docs") {
    val (numHashes, bands, n) = (8, 2, 3)
    val perBand = numHashes / bands
    val eligible = docs.filter(size(TextFns.words(col("text"))) >= n)
    val native = eligible.select(col("doc_id"),
      MinHashBands.of(col("text"), numHashes, bands, n, MinHashFamily.XxHash64).as("bk"))
      .as[(Long, Seq[Long])].collect().toMap
    val sh = eligible.select(col("doc_id").as("doc"),
      explode(TextFns.shingles(col("text"), n)).as("sh"))
    val hashCols = (0 until numHashes).map(i => min(xxhash64(col("sh"), lit(i))).as(s"h$i"))
    val composed = sh.groupBy("doc").agg(hashCols.head, hashCols.tail: _*)
      .select(col("doc"), array((0 until bands).map { b =>
        xxhash64((b * perBand until (b + 1) * perBand).map(i => col(s"h$i")): _*)
      }: _*).as("bk"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native.keySet == composed.keySet)
    composed.foreach { case (d, b) => assert(native(d) == b, s"doc $d") }
    assert(composed.nonEmpty)
  }

  test("ArgMaxPack max(long) == max(struct) argmax on random scores, and plans HashAggregate") {
    import graft.expressions.ArgMaxPack
    // random (key, score, label) candidates; scores spaced far above the
    // 2^-48 packing quantization, plus exact-tie rows (label breaks ties)
    val cand = (1 to 2000).map { i =>
      (i % 50L, math.rint(rng.nextDouble() * 1e6) / 1e6 - 0.5, i % 13)
    } ++ Seq((999L, 0.25, 3), (999L, 0.25, 7))
    val df = cand.toDF("k", "score", "lbl")
    val viaStruct = df.groupBy("k").agg(max(struct(col("score"), col("lbl"))).as("b"))
      .select(col("k"), col("b.lbl").as("lbl"), col("b.score").as("score"))
      .as[(Long, Int, Double)].collect().toSet
    val packed = df.groupBy("k").agg(
        max(ArgMaxPack.of(col("score"), col("lbl"), 4)).as("p"),
        max(col("score")).as("score"))
      .select(col("k"), ArgMaxPack.unpackLabel(col("p"), 4).as("lbl"), col("score"))
    assert(packed.as[(Long, Int, Double)].collect().toSet == viaStruct)
    // the whole point: a mutable long buffer → HashAggregate, no sort
    // (sparkPlan, not executedPlan: AQE wraps the tree until execution)
    val sp = packed.queryExecution.sparkPlan
    assert(sp.collect { case e: org.apache.spark.sql.execution.aggregate.SortAggregateExec => e }.isEmpty,
      "packed argmax must not plan SortAggregate")
    assert(sp.collect { case e: org.apache.spark.sql.execution.aggregate.HashAggregateExec => e }.nonEmpty)
    // out-of-range label (13 > 15 is fine; 16 is not) must throw, not mask
    val err = intercept[Exception] {
      Seq((1L, 0.5, 16)).toDF("k", "score", "lbl")
        .select(ArgMaxPack.of(col("score"), col("lbl"), 4)).collect()
    }
    assert(err.getMessage != null)
  }

  test("the full native SQL function surface is registered by GraftSession.install") {
    GraftSession.install(spark)
    val row = Seq(("alpha beta gamma delta", Array(1.0, 2.0), Array(3.0, 4.0)))
      .toDF("text", "va", "vb")
      .selectExpr(
        "word_shingles(text, 3) AS sh",
        "minhash_sig(word_shingles(text, 3), 8) AS sig",
        "simhash_bits(split(text, ' '), 16) AS sim",
        "dot_product(va, vb) AS dp",
        "cross_correlate(va, vb) AS ccf",
        "argmax_pack(0.5D, 3, 4) AS packed",
        "kepler_solve(1.5D, 0.3D) AS e")
      .head()
    assert(row.getAs[scala.collection.Seq[String]]("sh") ==
      Seq("alpha beta gamma", "beta gamma delta"))
    assert(row.getAs[scala.collection.Seq[String]]("sig").length == 8)
    assert(row.getAs[Double]("dp") == 11.0)
    assert(row.getAs[scala.collection.Seq[Double]]("ccf") == Seq(11.0, 10.0))
    // parity with the Column-API builders
    val viaCols = Seq(("alpha beta gamma delta", Array(1.0, 2.0), Array(3.0, 4.0)))
      .toDF("text", "va", "vb")
      .select(
        MinHashSig.of(TextFns.shingles(col("text"), 3), 8).as("sig"),
        graft.expressions.DotProduct.of(col("va"), col("vb")).as("dp"),
        Toa.crossCorrelate(col("va"), col("vb")).as("ccf"))
      .head()
    assert(row.getAs[scala.collection.Seq[String]]("sig") ==
      viaCols.getAs[scala.collection.Seq[String]]("sig"))
    assert(row.getAs[Double]("dp") == viaCols.getAs[Double]("dp"))
    assert(row.getAs[scala.collection.Seq[Double]]("ccf") ==
      viaCols.getAs[scala.collection.Seq[Double]]("ccf"))

    // width args must be literals — a column reference is a loud error
    val err2 = intercept[Exception] {
      Seq((3, "a b c d")).toDF("n", "text").selectExpr("word_shingles(text, n)").collect()
    }
    assert(err2.getMessage.contains("integer literal"))
  }

  /** The transform/aggregate lag fold `Toa.crossCorrelate` used before
    * the native kernel — kept here as its reference. */
  private def hofCcf(profile: Column, template: Column): Column = {
    val n = size(template)
    transform(sequence(lit(0), n - lit(1)), k =>
      aggregate(sequence(lit(0), n - lit(1)), lit(0.0), (acc, j) =>
        acc + element_at(profile, pmod(j + k, n) + lit(1)) *
          element_at(template, j + lit(1))))
  }

  /** Runs `body` once compiled (whole-stage codegen, no interpreted
    * fallback) and once interpreted (`eval`), unsetting both confs after. */
  private def inBothCodegenModes(body: String => Unit): Unit =
    Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach { case (mode, wholeStage) =>
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try body(mode)
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }

  private val ccfSchema = StructType(Seq(StructField("id", IntegerType),
    StructField("p", ArrayType(DoubleType)), StructField("t", ArrayType(DoubleType))))

  /** An RDD-backed frame, so the projection really runs in the chosen
    * mode (a local relation would be folded by the optimizer's
    * interpreted projection). Arrays may be null or hold nulls. */
  private def ccfFrame(rows: Seq[(Int, Seq[Any], Seq[Any])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, p, t) => Row(i, p, t) }, 2), ccfSchema)

  /** id → lags as raw IEEE bits (None = null array, inner None = null lag). */
  private def ccfBits(df: DataFrame, ccf: Column): Map[Int, Option[Seq[Option[Long]]]] =
    df.select(col("id"), ccf.as("ccf")).collect().map { r =>
      r.getInt(0) -> Option(r.getSeq[Any](1)).map(_.map {
        case null => None
        case d: Double => Some(java.lang.Double.doubleToRawLongBits(d))
        case other => fail(s"unexpected lag $other")
      }.toSeq)
    }.toMap

  test("CrossCorrelate == transform/aggregate lag fold bit for bit, codegen'd and interpreted") {
    // six decades of magnitude, both signs: the sums round differently in
    // any other accumulation order
    def value(): Double = (if (rng.nextBoolean()) 1.0 else -1.0) * math.pow(10, rng.nextDouble() * 6 - 3)
    val rows = for {
      n <- Seq(1, 2, 7, 64, 512, 1024)
      r <- 0 until 4
    } yield (n * 10 + r, Seq.fill[Any](n)(value()), Seq.fill[Any](n)(value()))
    val df = ccfFrame(rows)
    inBothCodegenModes { mode =>
      val native = ccfBits(df, Toa.crossCorrelate(col("p"), col("t")))
      val reference = ccfBits(df, hofCcf(col("p"), col("t")))
      assert(native.size == rows.size)
      rows.foreach { case (id, p, _) =>
        assert(native(id).map(_.size).contains(p.size), s"$mode row $id")
        assert(native(id) == reference(id), s"$mode row $id")
      }
    }
  }

  test("CrossCorrelate edge semantics match the fold: nulls, NaN, length mismatch, empty template") {
    val t3 = Seq[Any](1.0, 2.0, 3.0)
    val nulls3 = Some(Seq(None, None, None))
    val rows = Seq(
      (1, Seq[Any](4.0, 5.0), null),                   // null template → null
      (2, null, t3),                                    // null profile → n null lags
      (3, Seq[Any](4.0, null, 6.0), t3),                // null profile bin → n null lags
      (4, Seq[Any](4.0, 5.0, 6.0), Seq[Any](1.0, null, 3.0)), // null template bin
      (5, Seq[Any](4.0, 5.0, 6.0, 7.0, null), t3),      // longer profile: first n bins only
      (6, Seq[Any](4.0, Double.NaN, 6.0), t3),          // NaN → all-NaN lags
      (7, Seq[Any](4.0, 5.0, 6.0), Seq[Any](1.0, 2.0, Double.NaN)),
      (8, Seq[Any](4.0, 5.0, 6.0), t3))
    val df = ccfFrame(rows)
    val nanBits = Some(java.lang.Double.doubleToRawLongBits(Double.NaN))
    inBothCodegenModes { mode =>
      val native = ccfBits(df, Toa.crossCorrelate(col("p"), col("t")))
      assert(native == ccfBits(df, hofCcf(col("p"), col("t"))), mode)
      assert(native(1).isEmpty, mode)
      Seq(2, 3, 4).foreach(id => assert(native(id) == nulls3, s"$mode row $id"))
      assert(native(5) == native(8), mode)
      Seq(6, 7).foreach(id => assert(native(id) == Some(Seq(nanBits, nanBits, nanBits)), s"$mode row $id"))
      // a shorter profile and an empty template both fail loudly, as the fold does
      Seq((9, Seq[Any](4.0, 5.0), t3), (10, Seq[Any](4.0), Seq.empty[Any])).foreach { row =>
        val bad = ccfFrame(Seq(row))
        intercept[Exception](bad.select(Toa.crossCorrelate(col("p"), col("t"))).collect())
        intercept[Exception](bad.select(hofCcf(col("p"), col("t"))).collect())
      }
    }
  }

  test("KeplerSolve codegen'd and interpreted both equal KeplerMath.solve bit for bit (scalacheck)") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.rng.Seed
    import graft.expressions.KeplerMath
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("m", DoubleType), StructField("ecc", DoubleType)))
    // ecc on both sides of the near-circular shortcut (1e-4), up to 0.99
    val ecc = Gen.oneOf[Any](0.0, 5e-5, 0.3, 0.99, Double.NaN, null)
    val anomaly = Gen.frequency[Any](
      8 -> Gen.choose(-50.0, 50.0), 1 -> Gen.const(Double.NaN), 1 -> Gen.const(null))
    val batches = Gen.listOfN(48, Gen.zip(anomaly, ecc))
    def bits(d: Any): Option[Long] =
      Option(d).map(x => java.lang.Double.doubleToRawLongBits(x.asInstanceOf[Double]))
    inBothCodegenModes { mode =>
      val prop = Prop.forAllNoShrink(batches) { pairs =>
        val df = spark.createDataFrame(spark.sparkContext.parallelize(
          pairs.zipWithIndex.map { case ((m, e), i) => Row(i, m, e) }, 2), schema)
        val got = df.select(col("id"), expr("kepler_solve(m, ecc)")).collect()
          .map(r => r.getInt(0) -> bits(r.get(1))).toMap
        val want = pairs.zipWithIndex.map { case ((m, e), i) =>
          i -> (if (m == null || e == null) None
                else bits(KeplerMath.solve(m.asInstanceOf[Double], e.asInstanceOf[Double])))
        }.toMap
        got == want
      }
      val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(12)
        .withInitialSeed(Seed(4L)).withWorkers(1), prop)
      assert(result.passed, s"$mode: $result")
    }
  }

  /** Random docs for the text properties: null, empty, one-word, unicode
    * and multi-space docs (a double space is an empty word). */
  private def textDocs = {
    import org.scalacheck.Gen
    val word = Gen.oneOf(vocab)
    Gen.frequency[String](
      1 -> Gen.const(null), 1 -> Gen.const(""), 2 -> word,
      6 -> Gen.choose(2, 14).flatMap(k => Gen.listOfN(k, word)).map(_.mkString(" ")))
  }

  private def textFrame(texts: Seq[String]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      texts.zipWithIndex.map { case (t, i) => Row(i, t) }, 2),
      StructType(Seq(StructField("id", IntegerType), StructField("text", StringType))))

  test("MinHashBands (md5 and xxhash64 families) and MinHashSig codegen'd and interpreted both equal builtin explode/fold references (scalacheck)") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.rng.Seed
    // shingle widths up to 9, past most docs' word counts
    val shape = Gen.zip(Gen.oneOf((8, 2), (4, 1), (6, 3)), Gen.choose(1, 9))
    val family = Gen.oneOf[MinHashFamily](MinHashFamily.Md5Hex, MinHashFamily.XxHash64)
    val batches = Gen.zip(family, shape, Gen.listOfN(40, textDocs))
    inBothCodegenModes { mode =>
      val seen = scala.collection.mutable.Set[MinHashFamily]()
      val prop = Prop.forAllNoShrink(batches) { case (fam, ((hashes, bands), n), texts) =>
        seen += fam
        val isMd5 = fam == MinHashFamily.Md5Hex
        val df = textFrame(texts)
        def byId(out: DataFrame): Map[Int, Seq[Any]] =
          out.collect().collect { case r if !r.isNullAt(1) => r.getInt(0) -> r.getSeq[Any](1).toSeq }.toMap
        val native = byId(df.select(col("id"), MinHashBands.of(col("text"), hashes, bands, n, fam)))
        // builtin shingles (no native expression), explode, per-component
        // min — min(substring(md5(sh), 1+4i, 4)) or min(xxhash64(sh, i)) —
        // then per band md5(concat(…)) or the xxhash64 fold; no shingle → null
        val shingles = builtinShingles(col("text"), n)
        val perBand = hashes / bands
        val mins = (0 until hashes).map { i =>
          (if (isMd5) min(substring(md5(col("sh")), 1 + 4 * i, 4))
           else min(xxhash64(col("sh"), lit(i)))).as(s"h$i")
        }
        val components = df.select(col("id"), explode(shingles).as("sh"))
          .groupBy("id").agg(mins.head, mins.tail: _*)
        val reference = byId(components.select(col("id"), array((0 until bands).map { b =>
          val cs = (b * perBand until (b + 1) * perBand).map(i => col(s"h$i"))
          if (isMd5) md5(concat(cs: _*)) else xxhash64(cs: _*)
        }: _*)))
        // minhash_sig over the same builtin shingles is the md5 components
        lazy val sigOk = byId(df.select(col("id"), MinHashSig.of(shingles, hashes))) ==
          byId(components.select(col("id"), array((0 until hashes).map(i => col(s"h$i")): _*)))
        native == reference && (!isMd5 || sigOk)
      }
      val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(12)
        .withInitialSeed(Seed(5L)).withWorkers(1), prop)
      assert(result.passed, s"$mode: $result")
      assert(seen == Set(MinHashFamily.Md5Hex, MinHashFamily.XxHash64), s"$mode: families $seen")
    }
  }

  test("WordShingles codegen'd and interpreted both equal the slice/zip_with composition (scalacheck)") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.rng.Seed
    // widths past most docs' word counts, so empty results show up too
    val batches = Gen.zip(Gen.choose(1, 9), Gen.listOfN(40, textDocs))
    inBothCodegenModes { mode =>
      val prop = Prop.forAllNoShrink(batches) { case (n, texts) =>
        val df = textFrame(texts)
        def byId(shingles: Column): Map[Int, Option[Seq[String]]] =
          df.select(col("id"), shingles).collect()
            .map(r => r.getInt(0) -> Option(r.getSeq[String](1)).map(_.toSeq)).toMap
        val native = byId(WordShingles.of(col("text"), n))
        native == byId(builtinShingles(col("text"), n)) && native.size == texts.size
      }
      val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(12)
        .withInitialSeed(Seed(6L)).withWorkers(1), prop)
      assert(result.passed, s"$mode: $result")
    }
  }

  test("SimHashBits codegen'd and interpreted both equal the explode + vote aggregation (scalacheck)") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.rng.Seed
    // 16 is what Dedup.simhash runs; 32 reads every md5 hex digit
    val batches = Gen.zip(Gen.oneOf(1, 7, 16, 32), Gen.listOfN(40, textDocs))
    inBothCodegenModes { mode =>
      val prop = Prop.forAllNoShrink(batches) { case (bits, texts) =>
        val df = textFrame(texts)
        val words = array_distinct(TextFns.words(col("text")))
        val native = df.select(col("id"), SimHashBits.of(words, bits)).collect()
          .map(r => r.getInt(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
        // a null text has no word array, hence no exploded rows and no
        // reference fingerprint: the native value must be null there
        val reference = builtinSimhash(df.select(col("id"), explode(words).as("w")), bits)
          .collect().map(r => r.getInt(0) -> Option(r.getLong(1))).toMap
        val nullIds = texts.zipWithIndex.collect { case (null, i) => i }.toSet
        native == (reference ++ nullIds.map(_ -> None)) && native.size == texts.size
      }
      val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(12)
        .withInitialSeed(Seed(7L)).withWorkers(1), prop)
      assert(result.passed, s"$mode: $result")
    }
  }

  /** `rows` under `schema` as an RDD-backed frame in two partitions. */
  private def rddFrame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** Asserts `prop` holds for 12 generated batches with `seed`. */
  private def check(mode: String, seed: Long)(prop: org.scalacheck.Prop): Unit = {
    import org.scalacheck.{Test => Check}
    import org.scalacheck.rng.Seed
    val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(12)
      .withInitialSeed(Seed(seed)).withWorkers(1), prop)
    assert(result.passed, s"$mode: $result")
  }

  private def rawBits(d: Any): Option[Long] =
    Option(d).map(x => java.lang.Double.doubleToRawLongBits(x.asInstanceOf[Double]))

  /** Random vectors of `dim` doubles, sometimes null, ragged or holding a
    * null element (all null cases of the vector expressions). */
  private def vectors(dim: Int) = {
    import org.scalacheck.Gen
    val v = Gen.listOfN(dim, Gen.choose(-2.0, 2.0))
    Gen.frequency[Seq[Any]](
      12 -> v, 1 -> Gen.const(null), 1 -> Gen.listOfN(dim + 1, Gen.choose(-2.0, 2.0)),
      1 -> v.map(xs => xs.updated(0, null)))
  }

  test("ArgMaxPack codegen'd and interpreted: max(packed) per key is the (score, label) argmax (scalacheck)") {
    import org.scalacheck.{Gen, Prop}
    import graft.expressions.ArgMaxPack
    val schema = StructType(Seq(StructField("k", IntegerType),
      StructField("score", DoubleType), StructField("lbl", IntegerType)))
    // scores on a 1/64 grid: exact ties are common, distinct scores far
    // apart from the packing's quantization; nulls in either input
    val score = Gen.frequency[Any](10 -> Gen.choose(-64, 64).map(_ / 64.0), 1 -> Gen.const(null))
    val row = Gen.zip(Gen.choose(0, 5), score, Gen.frequency[Any](10 -> Gen.choose(0, 15), 1 -> Gen.const(null)))
    inBothCodegenModes { mode =>
      check(mode, 8L)(Prop.forAllNoShrink(Gen.listOfN(60, row)) { rows =>
        val df = rddFrame(schema, rows.map { case (k, s, l) => Row(k, s, l) })
        val got = df.groupBy("k").agg(max(ArgMaxPack.of(col("score"), col("lbl"), 4)).as("p"))
          .select(col("k"), ArgMaxPack.unpackLabel(col("p"), 4)).collect()
          .map(r => r.getInt(0) -> Option(r.get(1))).toMap
        val want = rows.groupBy(_._1).map { case (k, rs) =>
          val scored = rs.collect { case (_, s: Double, l: Int) => (s, l) }
          k -> scored.reduceOption((a, b) =>
            if (b._1 > a._1 || (b._1 == a._1 && b._2 > a._2)) b else a).map(_._2)
        }
        got == want
      })
    }
  }

  test("DotProduct codegen'd and interpreted both equal the sequential fold bit for bit (scalacheck)") {
    import org.scalacheck.{Gen, Prop}
    import graft.expressions.DotProduct
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("a", ArrayType(DoubleType)), StructField("b", ArrayType(DoubleType))))
    def fold(a: Seq[Any], b: Seq[Any]): Option[Double] =
      if (a == null || b == null || a.size != b.size || (a ++ b).contains(null)) None
      else Some(a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.asInstanceOf[Double] * y.asInstanceOf[Double] })
    val pairs = Gen.choose(1, 40).flatMap(d => Gen.listOfN(30, Gen.zip(vectors(d), vectors(d))))
    inBothCodegenModes { mode =>
      check(mode, 9L)(Prop.forAllNoShrink(pairs) { ps =>
        val df = rddFrame(schema, ps.zipWithIndex.map { case ((a, b), i) => Row(i, a, b) })
        // float inputs widen exactly, so the float path folds the same doubles
        val got = df.select(col("id"), DotProduct.of(col("a"), col("b")),
            DotProduct.of(col("a").cast("array<float>"), col("b")))
          .collect().map(r => r.getInt(0) -> ((rawBits(r.get(1)), rawBits(r.get(2))))).toMap
        ps.zipWithIndex.forall { case ((a, b), i) =>
          val f = if (a == null) null else a.map(x => if (x == null) null else x.asInstanceOf[Double].toFloat.toDouble)
          got(i) == ((fold(a, b).flatMap(rawBits), fold(f, b).flatMap(rawBits)))
        }
      })
    }
  }

  /** A random codebook: `k` centroids of `dim` doubles, codes shuffled,
    * with a duplicated centroid so exact metric ties occur. */
  private def codebooks(dim: Int) = {
    import org.scalacheck.Gen
    for {
      k <- Gen.choose(1, 12)
      cents <- Gen.listOfN(k, Gen.listOfN(dim, Gen.choose(-2.0, 2.0)))
      codes <- Gen.pick(k + 1, 0 until 100)
    } yield ((cents :+ cents.head).map(_.toArray).toArray, codes.toArray)
  }

  private def sqDist(v: Seq[Double], c: Array[Double]): Double = {
    val dot = (a: Seq[Double], b: Seq[Double]) => a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    dot(v, v) - 2.0 * dot(v, c.toSeq) + dot(c.toSeq, c.toSeq)
  }

  private def vecFrame(vs: Seq[Seq[Any]]): DataFrame =
    rddFrame(StructType(Seq(StructField("id", IntegerType), StructField("v", ArrayType(DoubleType)))),
      vs.zipWithIndex.map { case (v, i) => Row(i, v) })

  /** A vector with no null element and the codebook's `dim`, as doubles. */
  private def clean(v: Seq[Any], dim: Int): Option[Seq[Double]] =
    Option(v).filter(xs => xs.size == dim && !xs.contains(null)).map(_.map(_.asInstanceOf[Double]))

  test("NearestCentroid codegen'd and interpreted both equal a brute-force argmax/argmin (scalacheck)") {
    import org.scalacheck.{Gen, Prop}
    import graft.expressions.NearestCentroid
    val batches = for {
      dim <- Gen.choose(1, 16)
      cb <- codebooks(dim)
      vs <- Gen.listOfN(30, vectors(dim))
    } yield (dim, cb, vs)
    inBothCodegenModes { mode =>
      check(mode, 10L)(Prop.forAllNoShrink(batches) { case (dim, (cents, codes), vs) =>
        val got = vecFrame(vs).select(col("id"),
            NearestCentroid.cosine(col("v"), cents, codes).as("c"),
            NearestCentroid.l2(col("v"), cents, codes).as("l"))
          .collect().map { r =>
            def pick(i: Int) = Option(r.getStruct(i)).map(s => (rawBits(s.getDouble(0)), s.getInt(1)))
            r.getInt(0) -> ((pick(1), pick(2)))
          }.toMap
        vs.zipWithIndex.forall { case (v, i) =>
          val want = clean(v, dim).map { x =>
            val nrm = math.sqrt(x.foldLeft(0.0)((s, y) => s + y * y))
            val cos = cents.indices.map { c =>
              val dvc = x.zip(cents(c)).foldLeft(0.0) { case (s, (p, q)) => s + p * q }
              val nc = math.sqrt(cents(c).foldLeft(0.0)((s, y) => s + y * y))
              (dvc / (nrm * nc), codes(c))
            }
            // first maximum in the codebook walk; bit-equal ties to the larger id
            val best = cos.reduceLeft((b, n) => if (n._1 > b._1 || (n._1 == b._1 && n._2 > b._2)) n else b)
            val d2 = cents.indices.map(c => (sqDist(x, cents(c)), codes(c)))
            val near = d2.reduceLeft((b, n) => if (n._1 < b._1 || (n._1 == b._1 && n._2 < b._2)) n else b)
            (Some((rawBits(best._1), best._2)), Some((rawBits(near._1), near._2)))
          }.getOrElse((None, None))
          got(i) == want
        }
      })
    }
  }

  test("NearestCentroidsTopN codegen'd and interpreted both equal a full sort's first n (scalacheck)") {
    import org.scalacheck.{Gen, Prop}
    import graft.expressions.NearestCentroidsTopN
    val batches = for {
      dim <- Gen.choose(1, 16)
      cb <- codebooks(dim)
      n <- Gen.choose(1, 16)
      vs <- Gen.listOfN(30, vectors(dim))
    } yield (dim, cb, n, vs)
    inBothCodegenModes { mode =>
      check(mode, 11L)(Prop.forAllNoShrink(batches) { case (dim, (cents, codes), n, vs) =>
        val got = vecFrame(vs).select(col("id"), NearestCentroidsTopN.l2(col("v"), cents, codes, n))
          .collect().map(r => r.getInt(0) -> Option(r.getSeq[Int](1)).map(_.toSeq)).toMap
        vs.zipWithIndex.forall { case (v, i) =>
          got(i) == clean(v, dim).map { x =>
            cents.indices.map(c => (sqDist(x, cents(c)), codes(c)))
              .sortWith { case ((d1, c1), (d2, c2)) =>
                val cd = java.lang.Double.compare(d1, d2)
                cd < 0 || (cd == 0 && c1 < c2)
              }.take(n).map(_._2)
          }
        }
      })
    }
  }

  test("NormalizeText codegen'd and interpreted both equal NFC + lowercase + whitespace collapse (scalacheck)") {
    import org.scalacheck.{Gen, Prop}
    import graft.expressions.NormalizeText
    // composed and decomposed accents, title/dotted capitals, astral
    // letters, tabs/newlines, NUL and other controls, NBSP (not Java
    // whitespace), CJK
    val pieces = Gen.oneOf("Café", "café", "ǅ", "İstanbul", "𝔘x", " ", "  ",
      "\t", "\n", "\u0000", "\u001f", " ", "日本語", "WORD", "a", "")
    val texts = Gen.frequency[String](1 -> Gen.const(null),
      9 -> Gen.choose(0, 10).flatMap(k => Gen.listOfN(k, pieces)).map(_.mkString))
    def reference(s: String): String = {
      val nfc = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
        .toLowerCase(java.util.Locale.ROOT)
      val spaced = nfc.codePoints().toArray.toSeq.flatMap { cp =>
        if (Character.isWhitespace(cp)) " "
        else if (Character.isISOControl(cp)) ""
        else new String(Character.toChars(cp))
      }.mkString
      spaced.split(" ").filter(_.nonEmpty).mkString(" ")
    }
    inBothCodegenModes { mode =>
      check(mode, 12L)(Prop.forAllNoShrink(Gen.listOfN(40, texts)) { ts =>
        val got = textFrame(ts).select(col("id"), NormalizeText.of(col("text"))).collect()
          .map(r => r.getInt(0) -> Option(r.getString(1))).toMap
        ts.zipWithIndex.forall { case (t, i) => got(i) == Option(t).map(reference) }
      })
    }
  }
}
