package graft

import graft.operators.IvfPq

class IvfPqSpec extends SparkSpec {
  import spark.implicits._

  // 4 well-separated cluster centers in 8-dim; 10 vectors per cluster with
  // deterministic small jitter (no RNG — reproducible across runs)
  private def corpus = (0 until 40).map { i =>
    val c = i % 4
    val base = Array.tabulate(8)(d => if (d / 2 == c) 10.0f else 0.0f)
    val jit = Array.tabulate(8)(d => ((i * 7 + d * 3) % 5) * 0.01f)
    (i.toLong, base.zip(jit).map { case (a, b) => a + b })
  }.toDF("vec_id", "embedding")

  test("train/encode: every vector gets a cluster and m codes") {
    val model = IvfPq.train(corpus, "vec_id", "embedding", dim = 8, nlist = 4, m = 2, k = 4, iters = 2)
    assert(model.coarse.count() == 4)
    assert(model.pq.count() == 2 * 4) // m subspaces × k codes
    val enc = IvfPq.encode(corpus, "vec_id", "embedding", model).collect()
    assert(enc.length == 40)
    enc.foreach { r =>
      assert(r.getAs[Int]("cluster") >= 0 && r.getAs[Int]("cluster") < 4)
      assert(r.getAs[scala.collection.Seq[Int]]("codes").length == 2)
    }
    // the coarse quantizer separates the four true clusters: vectors of
    // the same true cluster land together
    val byTrue = enc.map(r => (r.getAs[Long]("id") % 4) -> r.getAs[Int]("cluster"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(byTrue.values.forall(_.size == 1), s"coarse clusters split a true cluster: $byTrue")
  }

  test("encodeStateless matches encode cluster-for-cluster and code-for-code") {
    val model = IvfPq.train(corpus, "vec_id", "embedding", dim = 8, nlist = 4, m = 2, k = 4, iters = 2)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Int]("cluster"), r.getAs[scala.collection.Seq[Int]]("codes").toList))).toMap
    val batch = asMap(IvfPq.encodeViaAggregate(corpus, "vec_id", "embedding", model))
    val stateless = asMap(IvfPq.encodeStateless(corpus, "vec_id", "embedding", model))
    assert(stateless.size === 40)
    assert(stateless === batch)
    // batch `encode` routes through the stateless fold: the plan is one
    // shuffle-free projection, not the n×nlist broadcast join + two
    // aggregate rounds of encodeViaAggregate
    // executedPlan string, not sparkPlan collect: exchanges are inserted
    // by EnsureRequirements during preparation, and AQE wrapping makes a
    // node collect over executedPlan pass vacuously
    val encPlan = IvfPq.encode(corpus, "vec_id", "embedding", model)
      .queryExecution.executedPlan.toString
    assert(!encPlan.contains("Exchange"),
      "encode on a trained model must plan zero shuffles")
    val aggPlan = IvfPq.encodeViaAggregate(corpus, "vec_id", "embedding", model)
      .queryExecution.executedPlan.toString
    assert(aggPlan.contains("Exchange"),
      "sanity: the aggregate form is the one that shuffles")
    // keep-columns ride through the stateless projection
    val kept = IvfPq.encodeStateless(
        corpus.withColumn("tag", $"vec_id" * 2), "vec_id", "embedding", model,
        keep = Seq("tag"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("tag")).toMap
    assert(kept(7L) === 14L)
    // corrupt vectors → the explicit invalid sentinel, not a garbage
    // cluster: NaN components, Infinity components (metric +Inf — an
    // isnan-only guard let these through, found in review), and null
    // vectors (null NearestCentroid struct)
    val bads = Seq(
      (997L, Array.tabulate(8)(d => if (d == 3) Float.NaN else 1.0f)),
      (998L, Array.tabulate(8)(d => if (d == 5) Float.PositiveInfinity else 1.0f)),
    ).toDF("vec_id", "embedding")
      .unionByName(Seq((999L, Option.empty[Array[Float]])).toDF("vec_id", "embedding"))
    IvfPq.encodeStateless(bads, "vec_id", "embedding", model).collect().foreach { bad =>
      assert(bad.getAs[Int]("cluster") === -1, s"row ${bad.get(0)}")
      assert(bad.getAs[scala.collection.Seq[Int]]("codes").forall(_ === -1), s"row ${bad.get(0)}")
    }
  }

  test("search: probing the home cluster finds the vector itself at rank 1") {
    val model = IvfPq.train(corpus, "vec_id", "embedding", dim = 8, nlist = 4, m = 2, k = 4, iters = 2)
    val encoded = IvfPq.encode(corpus, "vec_id", "embedding", model)
    val queries = corpus.filter($"vec_id".isin(0L, 1L, 2L, 3L, 17L))
    val out = IvfPq.search(queries, encoded, model, "vec_id", "embedding", nprobe = 2, k = 3)
      .collect()
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 17L))
    byQ.foreach { case (q, rows) =>
      assert(rows.length == 3, s"query $q returned ${rows.length} rows")
      val top = rows.minBy(_.getAs[Int]("rank"))
      assert(top.getAs[Long]("t_id") == q,
        s"query $q top-1 was ${top.getAs[Long]("t_id")} (ADC must rank the vector itself first)")
      // every candidate comes from a probed (= nearby) cluster: its true
      // cluster matches the query's
      rows.foreach(r => assert(r.getAs[Long]("t_id") % 4 == q % 4))
    }
  }

  test("search: literal top-nprobe probe path == join+window fallback row-for-row") {
    val model = IvfPq.train(corpus, "vec_id", "embedding", dim = 8, nlist = 4, m = 2, k = 4, iters = 2)
    val encoded = IvfPq.encode(corpus, "vec_id", "embedding", model)
    val queries = corpus.filter($"vec_id" < 10L)
    def run() = IvfPq.search(queries, encoded, model, "vec_id", "embedding", nprobe = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val literal = run()
    // driverCodebookMaxDoubles = 0 forces the broadcast-join + window
    // probe selection — the two paths must agree exactly (same cd2
    // doubles, same tie direction, same probed clusters)
    spark.conf.set("spark.graft.quantize.driverCodebookMaxDoubles", "0")
    val viaWindow =
      try run()
      finally spark.conf.unset("spark.graft.quantize.driverCodebookMaxDoubles")
    assert(literal == viaWindow)
    assert(literal.nonEmpty)
  }

  test("search: a driverCodebookMaxDoubles past Int range keeps the literal probe path") {
    // 2^32 doubles over dim 2 is 2^31 budget rows, one past Int.MaxValue:
    // the row budget must clamp, not wrap to Int.MinValue and make
    // limit() throw
    val corpus2 = (0 until 40).map { i =>
      val c = i % 4
      (i.toLong, Array(if (c % 2 == 0) 10.0f else 0.0f, if (c / 2 == 0) 10.0f else 0.0f)
        .zipWithIndex.map { case (v, d) => v + ((i * 7 + d * 3) % 5) * 0.01f })
    }.toDF("vec_id", "embedding")
    val model = IvfPq.train(corpus2, "vec_id", "embedding", dim = 2, nlist = 4, m = 2, k = 4, iters = 2)
    val encoded = IvfPq.encode(corpus2, "vec_id", "embedding", model)
    val queries = corpus2.filter($"vec_id" < 10L)
    def run() = IvfPq.search(queries, encoded, model, "vec_id", "embedding", nprobe = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(IvfPq.localCoarse(queries, model).isDefined)
    val default = run()
    assert(default.nonEmpty)
    Seq(1L << 32, Long.MaxValue).foreach { budget =>
      spark.conf.set("spark.graft.quantize.driverCodebookMaxDoubles", budget.toString)
      try {
        assert(IvfPq.localCoarse(queries, model).isDefined, s"budget $budget left the literal probe path")
        assert(run() == default, s"budget $budget")
      } finally spark.conf.unset("spark.graft.quantize.driverCodebookMaxDoubles")
    }
  }

  // test-local exact squared L2 (Quantize.sqDist is package-private; an
  // interpreted HOF fold is fine at spec scale)
  private def sqD2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions._
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)
  }

  test("real embeddings table: probe search recalls true neighbors scanning a corpus fraction") {
    import org.apache.spark.sql.functions._
    val k = 10
    val nlist = 16
    val nprobe = 4
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val n = emb.count()
    val model = IvfPq.train(emb, "vec_id", "embedding", dim = 64, nlist = nlist, m = 8, k = 16, iters = 3)
    val encoded = IvfPq.encode(emb, "vec_id", "embedding", model).cache()
    val queries = emb.filter($"vec_id" % 10 === 0) // 50 of the 500 vectors
    val nq = queries.count()

    val approx = IvfPq.search(queries, encoded, model, "vec_id", "embedding", nprobe = nprobe, k = k)

    // exact ground truth: brute-force squared-L2 top-k (small here; the
    // thing IVF+PQ exists to avoid at scale)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("d2").asc, col("t_id").asc)
    val truth = queries.select($"vec_id".as("q_id"), $"embedding".cast("array<double>").as("q_vec"))
      .crossJoin(emb.select($"vec_id".as("t_id"), $"embedding".cast("array<double>").as("t_vec")))
      .withColumn("d2", sqD2($"q_vec", $"t_vec"))
      .withColumn("r", row_number().over(w)).filter($"r" <= k)
      .select("q_id", "t_id")

    // the scan bound that makes it ANN: candidates actually scored =
    // encoded rows of probed clusters only, a fraction of nq × n
    val probes = queries.select($"vec_id".as("q_id"), $"embedding".cast("array<double>").as("q_vec"))
      .crossJoin(model.coarse)
      .withColumn("cd2", sqD2($"q_vec", $"c_centroid"))
      .withColumn("pr", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("cd2").asc, col("cluster").asc)))
      .filter($"pr" <= nprobe).select("q_id", "cluster")
    val clusterSizes = encoded.groupBy("cluster").agg(count(lit(1)).as("sz"))
    val scanned = probes.join(clusterSizes, Seq("cluster")).agg(sum("sz")).as[Long].head()
    val frac = scanned.toDouble / (nq * n)

    // NOTE on this table: these embeddings are nearly UNSTRUCTURED
    // (unit-norm; same-label mean d² 1.957 vs cross-label 1.999, true
    // top-10 sharing the query's label only 19%), so recall at a ~25%
    // scan is bounded near the scan fraction for ANY index. The honest
    // claims on such data are RELATIVE: (a) probing beats a random
    // same-size scan, (b) exact re-rank of the ADC shortlist never loses
    // to ADC ranking, (c) full-probe + re-rank recovers ~everything
    // (shortlist-inclusion is then the only loss).
    val adcHits = approx.select("q_id", "t_id").intersect(truth).count()
    val adcRecall = adcHits.toDouble / (nq * k)
    info(f"ADC recall@$k = $adcRecall%.3f at scanned fraction $frac%.3f (nprobe=$nprobe/$nlist, $n vectors)")
    assert(frac <= 0.5, f"probe search scanned $frac%.3f of the corpus — not sublinear")
    assert(adcRecall >= 1.2 * frac,
      f"ADC recall $adcRecall%.3f does not beat a random scan of the same fraction $frac%.3f")

    val refined = IvfPq.searchRefined(queries, emb, encoded, model,
      "vec_id", "embedding", "vec_id", "embedding", nprobe = nprobe, k = k, shortlist = 5 * k)
    val refRecall = refined.select("q_id", "t_id").intersect(truth).count().toDouble / (nq * k)
    info(f"refined recall@$k = $refRecall%.3f (same probes, exact re-rank of ADC top-${5 * k})")
    // guaranteed: ADC top-k ⊆ shortlist and re-rank is exact, so every
    // ADC hit survives refinement
    assert(refRecall >= adcRecall)

    // full probe + a wider shortlist: probing loss is gone and shortlist
    // inclusion is the only remaining loss. On unstructured data the
    // 32-bit ADC codes rank noisily, so the shortlist must be generous
    // (10k here) for refinement to recover most true neighbors.
    val full = IvfPq.searchRefined(queries, emb, encoded, model,
      "vec_id", "embedding", "vec_id", "embedding", nprobe = nlist, k = k, shortlist = 10 * k)
    val fullRecall = full.select("q_id", "t_id").intersect(truth).count().toDouble / (nq * k)
    info(f"full-probe refined recall@$k = $fullRecall%.3f (probing loss removed, shortlist ${10 * k})")
    assert(fullRecall >= 0.8,
      f"full-probe refined recall $fullRecall%.3f < 0.8 — ADC shortlist at 10k is dropping true neighbors")
  }

  test("save/load round-trips the model and searches identically") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_model").toString
    try {
      val model = IvfPq.train(corpus, "vec_id", "embedding", dim = 8, nlist = 4, m = 2, k = 4, iters = 2)
      IvfPq.save(model, dir)
      val loaded = IvfPq.load(spark, dir)
      assert(loaded.m == model.m && loaded.dim == model.dim &&
        loaded.clusterBits == model.clusterBits)
      // centroid tables are bit-identical through parquet
      assert(loaded.coarse.collect().toSet == model.coarse.collect().toSet)
      assert(loaded.pq.collect().toSet == model.pq.collect().toSet)
      // a session that only loads the index must search identically to
      // the session that trained it
      val encoded = IvfPq.encode(corpus, "vec_id", "embedding", model)
      val queries = corpus.filter($"vec_id".isin(0L, 5L, 11L))
      val a = IvfPq.search(queries, encoded, model, "vec_id", "embedding", nprobe = 2, k = 3)
        .collect().map(_.toSeq).toSet
      val b = IvfPq.search(queries, IvfPq.encode(corpus, "vec_id", "embedding", loaded),
          loaded, "vec_id", "embedding", nprobe = 2, k = 3)
        .collect().map(_.toSeq).toSet
      assert(a == b, "loaded-model search differs from trained-model search")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("load fails loudly on a foreign or future manifest") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_bad").toString
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "manifest.json"),
        """{"format":"graft-ivfpq","version":99,"m":2,"dim":8,"clusterBits":2}""")
      val e = intercept[IllegalArgumentException](IvfPq.load(spark, dir))
      assert(e.getMessage.contains("version"))
    } finally {
      new java.io.File(dir, "manifest.json").delete()
      new java.io.File(dir).delete()
    }
  }

  test("residual PQ reconstructs tighter than raw PQ at the same bit budget") {
    // ADC self-distance is the PQ reconstruction error of the (residual)
    // vector; compare against raw-vector PQ (Quantize.adcTopK) self-match.
    val model = IvfPq.train(corpus, "vec_id", "embedding", dim = 8, nlist = 4, m = 2, k = 4, iters = 2)
    val encoded = IvfPq.encode(corpus, "vec_id", "embedding", model)
    val selfIvf = IvfPq.search(corpus, encoded, model, "vec_id", "embedding", nprobe = 1, k = 1)
      .filter($"q_id" === $"t_id").agg(org.apache.spark.sql.functions.sum("adc_d2"))
      .as[Double].head()

    val rawCb = graft.operators.Quantize.trainCodebook(corpus, "vec_id", "embedding", m = 2, dim = 8, k = 4, iters = 2)
    val rawEnc = graft.operators.Quantize.encode(corpus, "vec_id", "embedding", rawCb, m = 2, dim = 8)
    val selfRaw = graft.operators.Quantize.adcTopK(corpus, rawEnc, rawCb, "vec_id", "embedding", m = 2, dim = 8, k = 1)
      .filter($"q_id" === $"t_id").agg(org.apache.spark.sql.functions.sum("adc_d2"))
      .as[Double].head()

    // raw PQ must spread 4 codewords per subspace over 4 far-apart
    // clusters; residual PQ only covers the small jitter ball
    assert(selfIvf < selfRaw,
      s"residual ADC self-error $selfIvf should beat raw-PQ $selfRaw")
  }
}
