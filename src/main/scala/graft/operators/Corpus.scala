package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Barrier

/** Corpus-assembly operators — the sampling/sharding stage of a
  * training-data pipeline (after cleaning + dedup, before tokenization):
  * deterministic mixture sampling and token-budget shard packing.
  */
object Corpus {

  /** rate∈[0,1] → 4-hex-char threshold for `md5-prefix < threshold`
    * keep-decisions — the ONE encoding shared by [[sampleByHash]] and
    * [[assignSplits]]. Clamps BOTH ends before hex-formatting: rate ≥ 1
    * must keep everything ("g" sorts above every hex digit —
    * format_string would emit the 5-char "10000", which string-compares
    * BELOW "fabc…"), and rate ≤ 0 must keep nothing (%04x on a negative
    * int emits an 8-char two's-complement string like "ffffe667" that
    * every md5 prefix sorts below — the maximal wrong answer for a
    * slightly-negative computed mixture weight). A null text has no md5
    * prefix, so its compare is null at every threshold: [[sampleByHash]]
    * never keeps it (not even at rate 1) and [[assignSplits]] sends it to
    * the default split. */
  private def hexThreshold(rate: Column): Column =
    when(rate >= 1.0, lit("g"))
      .when(rate <= 0.0, lit("0000"))
      .otherwise(format_string("%04x", (rate * 65536).cast("int")))

  /** Deterministic content-hash sampling: keep a row iff the first 16
    * bits of md5(`textCol`) fall under `rate`·2¹⁶. Unlike rand()-based
    * sampling this is reproducible across runs, engines, partitionings
    * and cluster sizes — re-running the pipeline yields the SAME corpus,
    * which is what makes training runs comparable. `rate` is a per-row
    * Column in [0,1] (domain-mixture weights: different rates per
    * source/language/quality tier). Resolution is 1/65536; the compare
    * is on the lowercase hex prefix, so any engine with md5 reproduces
    * the exact sample. Pure map stage — no shuffle, fully pushdown-able.
    *
    * A null text has no hash and is never kept, at any rate (1 included);
    * DuckDB's `md5(NULL) < …` drops it the same way. */
  def sampleByHash(df: DataFrame, textCol: String, rate: Column): DataFrame =
    df.filter(substring(md5(col(textCol)), 1, 4) < hexThreshold(rate))

  /** Per-source sampling rates that realize a target token mixture, the
    * standard corpus-assembly computation ("50% web / 30% wiki / 20%
    * books"): the largest corpus honoring `targets` exactly is capped by
    * the binding source, capacity C = min over targeted sources of
    * T_s / p_s (T_s = source token count, p_s = target share), and each
    * source samples at rate_s = C·p_s / T_s — 1.0 for the binding
    * source, < 1 elsewhere. Sources absent from `targets` get no row
    * (rate 0: they are not part of the mixture).
    *
    * Output: (source, tokens, target_share, rate). Scale shape: one
    * groupBy on source (tiny result — sources number in the hundreds),
    * a broadcast of the target list, and a single-row capacity aggregate
    * broadcast back; the corpus itself is scanned once. */
  def mixtureRates(df: DataFrame, sourceCol: String, tokensCol: Column,
                   targets: Seq[(String, Double)]): DataFrame = {
    require(targets.nonEmpty, "at least one target share required")
    require(targets.map(_._1).distinct.size == targets.size,
      "duplicate source in targets (the rate join would fan out and duplicate docs)")
    require(targets.map(_._2).forall(_ > 0), "target shares must be positive")
    val total = targets.map(_._2).sum
    require(math.abs(total - 1.0) <= 1e-9,
      s"target shares must sum to 1, got $total")
    val spark = df.sparkSession
    import spark.implicits._
    val tgt = targets.toDF("__src", "target_share")
    // RIGHT join from the targets: a targeted source missing from the
    // corpus (or with an all-null tokensCol) gets tokens = 0, which makes
    // the capacity — and therefore EVERY rate — 0: the largest corpus
    // honoring a mixture that includes an empty source is empty. An
    // inner join would silently drop the target and ship a corpus with
    // the wrong mixture.
    val perSource = df
      .groupBy(col(sourceCol).as("source"))
      .agg(sum(tokensCol.cast("long")).as("__toks"))
      .join(broadcast(tgt), col("source") === col("__src"), "right")
      .select(coalesce(col("source"), col("__src")).as("source"),
        coalesce(col("__toks"), lit(0L)).as("tokens"), col("target_share"))
    val capacity = perSource
      .agg(min(col("tokens").cast("double") / col("target_share")).as("__cap"))
    // Snap rates within 1 ulp-ish of 1 up to exactly 1.0: the binding
    // source's (T/p)·p/T round-trip can land at 0.9999999999999999,
    // and hexThreshold would then emit "ffff" instead of "g" — silently
    // dropping the ~1/65536 of binding-source docs whose hash prefix IS
    // "ffff" (same rounding class as assignSplits' cumulative-sum snap).
    val raw = col("__cap") * col("target_share") / col("tokens").cast("double")
    perSource
      .crossJoin(broadcast(capacity))
      .withColumn("rate",
        when(col("tokens") === 0L, lit(0.0))
          .when(raw >= 1.0 - 1e-9, lit(1.0))
          .otherwise(raw))
      .drop("__cap")
  }

  /** Apply [[mixtureRates]]: the largest deterministic sub-corpus with
    * token shares matching `targets`. Untargeted sources drop out; each
    * kept doc carries its source's `mixture_rate`. Reproducibility is
    * [[sampleByHash]]'s: the keep-decision is a pure function of content
    * and the (deterministic) rate, so the same corpus emerges on every
    * engine/run/partitioning.
    *
    * The per-source rates (one row per target source) are materialized
    * once behind a lazy local checkpoint, stored by the first action on
    * the result. Every later action (a collect, a checksum, a word count
    * downstream) then reads those stored rows and scans the corpus only
    * for the filter, instead of re-running the rate aggregate's corpus
    * scan and its capacity cross join each time. The barrier sits on the
    * rates, not the corpus, so a consumer's `select(idCol)` still prunes
    * the corpus scan; the broadcast join stays — nothing large shuffles.
    * Batch only, like the aggregate it stores. Null-text docs are never
    * kept, whatever their source's rate (see [[sampleByHash]]). */
  def sampleToMixture(df: DataFrame, textCol: String, sourceCol: String,
                      tokensCol: Column, targets: Seq[(String, Double)]): DataFrame = {
    val rates = Barrier(mixtureRates(df, sourceCol, tokensCol, targets)
      .select(col("source").as("__msrc"), col("rate").as("mixture_rate")))
    val joined = df.join(broadcast(rates), col(sourceCol) === col("__msrc")).drop("__msrc")
    sampleByHash(joined, textCol, col("mixture_rate"))
  }

  /** Deterministic EXACT-size sample: `k` docs per group, chosen by
    * md5-hash order (ties by `idCol`) — "give me exactly 1000 docs per
    * domain, the same 1000 every run". Where [[sampleByHash]] keeps a
    * deterministic FRACTION, this keeps a deterministic COUNT. Rides the
    * custom TopKPerKey operator: bounded per-key heaps with a map-side
    * partial phase, so at most k rows per (partition, group) reach the
    * shuffle — never a full per-group sort. */
  def samplePerGroup(df: DataFrame, groupCol: String, textCol: String,
                     idCol: String, k: Int): DataFrame = {
    import graft.plans.TopK
    // null texts hash to "g", which sorts AFTER every hex digit — the
    // same position DuckDB's default NULLS LAST gives them (Spark's asc
    // default is nulls FIRST, which would preferentially sample them and
    // break cross-engine reproducibility)
    TopK.perKey(
      df.withColumn("__h", coalesce(md5(col(textCol)), lit("g"))),
      keys = Seq(groupCol),
      order = Seq(TopK.asc("__h"), TopK.asc(idCol)),
      k = k,
    ).drop("__h")
  }

  /** Deterministic train/val/test split assignment: each doc's md5-hash
    * prefix places it in exactly one named split, with fractions given by
    * `splits` (name → weight; weights need not sum to 1 — the remainder
    * falls to `defaultSplit`). Same reproducibility story as
    * [[sampleByHash]]: the assignment is a pure function of content, so
    * it survives reruns, repartitioning, engine changes, and corpus
    * growth (a doc never migrates between splits when OTHER docs are
    * added — the property rand()-splits lack, and the reason eval
    * contamination creeps into retrained models). Pure map stage. */
  def assignSplits(df: DataFrame, textCol: String,
                   splits: Seq[(String, Double)],
                   defaultSplit: String = "rest"): DataFrame = {
    require(splits.nonEmpty, "at least one split required")
    require(splits.map(_._2).forall(w => w >= 0 && w <= 1), "weights must be in [0,1]")
    val total = splits.map(_._2).sum
    require(total <= 1.0 + 1e-9, s"split weights sum to $total > 1")
    val h = substring(md5(col(textCol)), 1, 4)
    // cumulative thresholds through the same encoding as sampleByHash;
    // snap near-1 sums to 1 first — weights like 0.7+0.2+0.1 cumulate to
    // 0.9999999999999999 in doubles, and without the snap the last
    // threshold would be "ffff" instead of "g", silently leaking the
    // ~1/65536 of docs whose hash prefix IS "ffff" into defaultSplit
    val cum = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w }.tail
      .map(c => if (c >= 1.0 - 1e-9) 1.0 else c)
    val thresholds = splits.map(_._1).zip(cum).map { case (name, c) =>
      (name, hexThreshold(lit(c)))
    }
    val assigned = thresholds.foldLeft(Option.empty[Column]) { case (acc, (name, t)) =>
      val cond = h < t
      Some(acc.fold(when(cond, name))(_.when(cond, name)))
    }.get.otherwise(defaultSplit)
    df.withColumn("split", assigned)
  }

  /** Benchmark decontamination: flag corpus docs sharing ANY word
    * `n`-gram with a benchmark/eval set (the standard n-gram-overlap
    * decontamination rule; n = 13 in most published pipelines, smaller
    * here because the synthetic docs are short). Adds `contaminated`
    * (0/1 long); `filter(col("contaminated") === 0)` is the clean corpus.
    *
    * Scale shape: the benchmark side is structurally small (eval sets are
    * thousands of docs, the corpus is billions), so its distinct shingle
    * set is broadcast — the corpus is never shuffled. The corpus-side
    * explode is a pure map stage; only shingle HITS (corpus rows matching
    * a benchmark shingle) reach the distinct-ids shuffle, and the flag
    * join back is left to AQE (hit set is usually tiny → runtime
    * broadcast; a pathologically contaminated corpus still works as a
    * shuffle join). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, textCol: String,
                    idCol: String, n: Int = 8): DataFrame = {
    import graft.functions.TextFns
    require(n >= 1, s"n must be >= 1, got $n")
    val benchShingles = benchmark
      .select(explode(TextFns.shingles(col(textCol), n)).as("__s"))
      .distinct()
    val hits = corpus
      .select(col(idCol), explode(TextFns.shingles(col(textCol), n)).as("__s"))
      .join(broadcast(benchShingles), Seq("__s"), "leftsemi")
      .select(idCol).distinct()
      .withColumn("__c", lit(1L))
    corpus.join(hits, Seq(idCol), "left")
      .withColumn("contaminated", coalesce(col("__c"), lit(0L)))
      .drop("__c")
  }

  /** Fuzzy decontamination: [[decontaminate]]'s any-match rule flags a
    * doc for ONE shared n-gram; this variant scores each corpus doc by
    * the FRACTION of its distinct n-grams that appear in the benchmark
    * set (the n-gram-containment rule used when eval sets quote common
    * boilerplate — a single shared gram is noise, 60% containment is a
    * leaked eval doc). Adds `overlap_frac` and `contaminated`
    * (overlap_frac ≥ minOverlap). Docs too short for any n-gram score 0.
    *
    * Same scale shape as [[decontaminate]]: benchmark shingles broadcast,
    * per-doc distinct grams computed map-side (array_distinct), only
    * benchmark HITS reach the count shuffle, flags join back by id. */
  def decontaminateFuzzy(corpus: DataFrame, benchmark: DataFrame, textCol: String,
                         idCol: String, n: Int = 8, minOverlap: Double = 0.5): DataFrame = {
    import graft.functions.TextFns
    require(n >= 1, s"n must be >= 1, got $n")
    require(minOverlap > 0 && minOverlap <= 1, s"minOverlap must be in (0,1], got $minOverlap")
    val benchShingles = benchmark
      .select(explode(TextFns.shingles(col(textCol), n)).as("__s"))
      .distinct()
    val hits = corpus
      .select(col(idCol), explode(array_distinct(TextFns.shingles(col(textCol), n))).as("__s"))
      .join(broadcast(benchShingles), Seq("__s"), "leftsemi")
      .groupBy(idCol).agg(count(lit(1)).as("__hits"))
    corpus
      .withColumn("__total", size(array_distinct(TextFns.shingles(col(textCol), n))).cast("long"))
      .join(hits, Seq(idCol), "left")
      .withColumn("overlap_frac",
        when(col("__total") > 0,
          coalesce(col("__hits"), lit(0L)).cast("double") / col("__total").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("contaminated", (col("overlap_frac") >= minOverlap).cast("long"))
      .drop("__hits", "__total")
  }

  /** [[decontaminate]] with a Bloom-filter prefilter — the 100 TB form.
    *
    * [[decontaminate]] broadcasts the benchmark shingle SET and explodes
    * every corpus document into the semi join. This variant compresses
    * the benchmark set into a Bloom filter (~1.2 bytes per shingle at 1%
    * FP instead of ~n·8-byte strings), built DISTRIBUTED with Spark's own
    * `BloomFilterAggregate` (the aggregate behind `InjectRuntimeFilter`'s
    * row-level runtime filters — mergeable partials, no driver-side set).
    * The corpus pass is then a pure map stage: `exists(shingles,
    * might_contain)` short-circuits on the first hit, and only the
    * Bloom-POSITIVE docs (true hits + ~fpp false positives) reach the
    * exact semi join that removes false positives. Output is IDENTICAL to
    * [[decontaminate]] — the Bloom stage only prunes work, never decides.
    *
    * The single aggregated filter crosses the driver once as one binary
    * value (the same tiny-collect class as broadcast query vectors); at
    * 1M benchmark shingles and 1% FP that is ~1.2 MB shipped per task
    * versus broadcasting tens of MB of distinct shingle strings.
    *
    * The hit set (ids of the docs that share a shingle with the
    * benchmark) is materialized once behind a lazy local checkpoint,
    * stored by the first action that reads `contaminated` (a bare count
    * needs no hit row: the optimizer drops the left join onto the
    * distinct ids). Every later action reads
    * the stored ids and only re-runs the left join onto `corpus`, never
    * the Bloom probe, the shingle explode or the verify join. The barrier
    * sits on the small hit frame, so a consumer's `select(idCol)` still
    * prunes `corpus`; pass a materialized corpus (such as
    * `Dedup.dedupCorpusBy`'s result) to make the whole output a read of
    * stored blocks. Batch only, like the Bloom build before it.
    */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, textCol: String,
                         idCol: String, n: Int = 8, fpp: Double = 0.01): DataFrame = {
    import graft.functions.TextFns
    require(n >= 1, s"n must be >= 1, got $n")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")

    // One lazy barrier, stored by the sizing count below (its first
    // action), materializes the explode+distinct shuffle exactly once
    // and truncates lineage: the sizing count, the bloom
    // build, and the returned plan's verify join all read the same
    // executor-resident blocks (never recomputed, never routed through
    // the driver), and the blocks are freed by the ContextCleaner when
    // the frame is unreachable — no session-lifetime cache residency.
    val benchShingles = Barrier(benchmark
      .select(explode(TextFns.shingles(col(textCol), n)).as("__s"))
      .distinct())

    // Size the filter to the actual distinct-shingle count (one tiny
    // aggregate over the structurally-small benchmark), then build it
    // with map-side-combining partials. count >= 1 is required by the
    // aggregate; an empty benchmark contaminates nothing.
    val nShingles = benchShingles.count()
    if (nShingles == 0L) {
      return corpus.withColumn("contaminated", lit(0L))
    }
    val bloomBytes = buildBloomBytes(benchShingles, nShingles, fpp)

    // The exact-verify join broadcasts the checkpointed shingles directly
    // — distributed end to end, bounded by the maxNumItems guard below.
    val verifyDim = benchShingles

    // map-only prefilter: short-circuit on the first might-contain hit
    val candidates = corpus
      .select(col(idCol), TextFns.shingles(col(textCol), n).as("__sh"))
      .filter(exists(col("__sh"), s => mightContainCol(bloomBytes, s)))

    // exact verify on the (tiny) candidate set only — false positives die here
    val hits = Barrier(candidates
      .select(col(idCol), explode(col("__sh")).as("__s"))
      .join(broadcast(verifyDim), Seq("__s"), "leftsemi")
      .select(idCol).distinct()
      .withColumn("__c", lit(1L)))
    corpus.join(hits, Seq(idCol), "left")
      .withColumn("contaminated", coalesce(col("__c"), lit(0L)))
      .drop("__c")
  }

  /** Guarded Bloom build over a distinct-shingle frame (one string column
    * `__s`) — shared by the batch prefilter above and the streaming
    * tagger (`EventStream.decontaminatedBloom`). BloomFilterAggregate
    * silently CLAMPS to the runtime-filter conf maxima, which would
    * quietly deliver a far worse fpp than requested — fail loudly
    * instead and tell the caller which knob to raise. */
  private[graft] def buildBloomBytes(shingles: DataFrame, nShingles: Long,
                                     fpp: Double): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge
    val nBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(nShingles, fpp)
    val conf = shingles.sparkSession.conf
    val maxItems = conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits = conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    require(nShingles <= maxItems && nBits <= maxBits,
      s"buildBloomBytes: $nShingles distinct shingles need $nBits bits at fpp=$fpp, " +
        s"but spark.sql.optimizer.runtime.bloomFilter.{maxNumItems=$maxItems, maxNumBits=$maxBits} " +
        "would silently clamp the filter (worse fpp than requested) — raise those confs or fpp")
    val hashed = Bridge.column(new XxHash64(Seq(Bridge.expression(col("__s")))))
    val bloomAgg = Bridge.column(
      new BloomFilterAggregate(
        Bridge.expression(hashed),
        Literal(nShingles), Literal(nBits)).toAggregateExpression())
    shingles.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
  }

  /** Codegen'd might-contain probe of a driver-built Bloom filter — a
    * pure map-side column (the filter travels as a literal with the task
    * binary; no join, no state). */
  private[graft] def mightContainCol(bloomBytes: Array[Byte],
                                     s: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(
      BloomFilterMightContain(
        Literal.create(bloomBytes, org.apache.spark.sql.types.BinaryType),
        new XxHash64(Seq(Bridge.expression(s)))))
  }

  /** Token-budget shard packing: within each `groupCol` (ordered by
    * `idCol`), documents pack into consecutive shards of ~`budget`
    * tokens: shard = floor(tokens-before-this-doc / budget) — the
    * deterministic, single-window form of "pack the corpus into ~N-token
    * training shards". A shard can exceed `budget` by at most one
    * document (standard start-offset binning). Adds `n_tokens`, `shard`.
    *
    * One running window per group — O(n) per key, shuffle only on the
    * group key. At 100 TB, group by (source, date-bucket) so no single
    * partition holds the whole corpus. */
  def packShards(df: DataFrame, groupCol: String, idCol: String,
                 tokens: Column, budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val w = Window.partitionBy(groupCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tokens", tokens.cast("long"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      // doubles are exact here (token counts ≪ 2^53); floor-div matches
      // any engine's FLOOR(x / b) on non-negative values
      .withColumn("shard",
        floor((col("__cum") - col("n_tokens")).cast("double") / lit(budget.toDouble)))
      .drop("__cum")
  }

  /** Split documents into overlapping fixed-token-window chunks — the
    * context-window preparation step between cleaning and tokenization
    * (a 50k-word doc cannot feed a 4k-token context; training pipelines
    * chunk with overlap so no boundary sentence is seen by zero chunks).
    * Chunk i covers words [i·stride, i·stride + chunkTokens) with
    * stride = chunkTokens − overlapTokens; every doc emits ≥ 1 chunk
    * (short docs yield one short chunk). Deterministic chunk ids.
    *
    * Pure map stage: split → per-row chunk-count arithmetic →
    * posexplode of a generated index sequence → slice/join. No shuffle
    * at all; composes with [[packShards]] downstream. Output:
    * (idCol, chunk_idx, chunk_text, n_chunk_tokens). */
  def chunkDocuments(df: DataFrame, textCol: String, idCol: String,
                     chunkTokens: Int, overlapTokens: Int = 0): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlap must be in [0, chunkTokens), got $overlapTokens")
    val stride = chunkTokens - overlapTokens
    val ws = split(col(textCol), " ")
    val n = size(ws)
    // exact while n < 2^50: (n - overlap + stride - 1) / stride, min 1
    val nChunks = greatest(lit(1L),
      floor(((n - lit(overlapTokens) + lit(stride) - 1).cast("double")) / lit(stride.toDouble))
        .cast("long"))
    df.select(col(idCol), ws.as("__ws"), nChunks.as("__nc"))
      .select(col(idCol), col("__ws"),
        posexplode(sequence(lit(0L), col("__nc") - 1L)).as(Seq("__p", "chunk_idx")))
      .select(col(idCol), col("chunk_idx"),
        array_join(slice(col("__ws"), (col("chunk_idx") * stride + 1).cast("int"), lit(chunkTokens)), " ")
          .as("chunk_text"),
        size(slice(col("__ws"), (col("chunk_idx") * stride + 1).cast("int"), lit(chunkTokens)))
          .cast("long").as("n_chunk_tokens"))
  }

  /** GPT-style sequence packing: within each `groupCol` (ordered by
    * `idCol`), documents concatenate into one token stream that is cut
    * into fixed `seqLen`-token training rows — documents CROSS sequence
    * boundaries (the concat-and-chunk packing of GPT/Pile-era training,
    * zero padding waste), unlike [[packShards]] whose shards keep whole
    * docs. Output: one row per (doc × overlapped sequence) with the
    * doc's span inside that sequence — (groupCol, idCol, seq_id,
    * tok_start, tok_end, n_tokens); downstream slices the tokenized doc
    * at [tok_cursor) spans to emit the actual training rows. Zero- and
    * null-token docs occupy no span and are dropped.
    *
    * Scale shape: one running window per group (shuffle on the group key
    * only), then a per-row explode into the ≤ ntok/seqLen + 1 sequences
    * the doc overlaps — output size is Θ(total tokens / seqLen + docs),
    * never quadratic. At 100 TB, group by (source, date-bucket) so no
    * single partition holds one giant stream, exactly as [[packShards]].
    * Doubles are exact here (token offsets ≪ 2^53). */
  def packSequences(df: DataFrame, groupCol: String, idCol: String,
                    tokens: Column, seqLen: Long): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val w = Window.partitionBy(groupCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__n", tokens.cast("long"))
      .filter(col("__n") > 0)
      .withColumn("__end", sum(col("__n")).over(w))
      .withColumn("__start", col("__end") - col("__n"))
      .withColumn("seq_id", explode(sequence(
        floor(col("__start").cast("double") / lit(seqLen.toDouble)).cast("long"),
        floor((col("__end") - 1L).cast("double") / lit(seqLen.toDouble)).cast("long"))))
      .withColumn("tok_start", greatest(col("__start") - col("seq_id") * seqLen, lit(0L)))
      .withColumn("tok_end", least(col("__end") - col("seq_id") * seqLen, lit(seqLen)))
      .withColumn("n_tokens", col("tok_end") - col("tok_start"))
      .drop("__n", "__end", "__start")
  }

  /** Materialize [[packSequences]]'s layout as actual training rows: one
    * row per (group, sequence) carrying the packed text — each doc's
    * span sliced out of its whitespace tokens and reassembled in stream
    * order. This is the last pre-tokenizer step: the output IS the
    * training corpus at fixed `seqLen` context length (swap the
    * whitespace split for BPE ids downstream and the arithmetic is
    * unchanged). Output: (groupCol, seq_id, seq_text, n_tokens); every
    * interior sequence carries exactly `seqLen` tokens.
    *
    * Scale shape: [[packSequences]]'s window+explode, one more window
    * (per-doc span offsets — doc-keyed, bounded by spans per doc), then
    * a (group, seq) aggregation whose per-row state is bounded by
    * `seqLen` tokens — collect_list here can never exceed one training
    * row of text. No stage holds a whole group. */
  def packedRows(df: DataFrame, groupCol: String, idCol: String,
                 textCol: String, seqLen: Long): DataFrame = {
    val ws = split(col(textCol), " ")
    val packed = packSequences(
      df.select(col(groupCol), col(idCol), ws.as("__ws")),
      groupCol, idCol, size(col("__ws")), seqLen)
    // tokens of this doc already emitted to EARLIER sequences = this
    // span's start position inside the doc's own token array
    val wDoc = Window.partitionBy(groupCol, idCol).orderBy("seq_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    packed
      .withColumn("__off", coalesce(sum(col("n_tokens")).over(wDoc), lit(0L)))
      .withColumn("__piece",
        slice(col("__ws"), (col("__off") + 1L).cast("int"), col("n_tokens").cast("int")))
      .groupBy(col(groupCol), col("seq_id"))
      .agg(
        concat_ws(" ", flatten(transform(
          array_sort(collect_list(struct(col("tok_start"), col("__piece")))),
          f => f.getField("__piece")))).as("seq_text"),
        sum(col("n_tokens")).cast("long").as("n_tokens"))
  }

  /** Deterministic WEIGHTED exact-size sample: `k` docs per group drawn
    * without replacement with probability proportional to `weight`
    * (Efraimidis–Spirakis A-ES: priority u^(1/w), realized as the
    * equivalent ascending exponential race key −ln(u)/w). Where
    * [[samplePerGroup]] samples uniformly, this favors high-weight docs
    * — "5 docs per domain, token-weighted, the same 5 every run". u is
    * the first 13 hex digits of md5(`textCol`) (52 bits — exactly
    * representable in a double, so any engine with md5 reproduces the
    * key bit-for-bit; +0.5 keeps u strictly inside (0,1)). Rows with
    * null/non-positive weight are dropped (they have no sampling mass);
    * null text hashes as the empty string. Rides TopKPerKey: bounded
    * per-key heaps, map-side partial, never a full per-group sort.
    *
    * Cross-engine note: ln() may differ in the last ulp between libms,
    * but adjacent key gaps are ~1/n relative while ulp noise is ~1e-16 —
    * the same margin argument as q38's rank gaps. */
  def weightedSamplePerGroup(df: DataFrame, groupCol: String, textCol: String,
                             weight: Column, idCol: String, k: Int): DataFrame = {
    import graft.plans.TopK
    require(k >= 1, s"k must be >= 1, got $k")
    val v = conv(substring(coalesce(md5(col(textCol)), md5(lit(""))), 1, 13), 16, 10)
      .cast("long")
    val u = (v.cast("double") + 0.5) / lit(4503599627370496.0) // 2^52
    TopK.perKey(
      df.filter(weight.cast("double") > 0.0)
        .withColumn("__k", -log(u) / weight.cast("double")),
      keys = Seq(groupCol),
      order = Seq(TopK.asc("__k"), TopK.asc(idCol)),
      k = k,
    ).drop("__k")
  }

  /** Epochs-aware mixture planning: where [[mixtureRates]] finds the
    * largest mixture-true corpus WITHOUT repetition (every rate ≤ 1),
    * this plans the standard LLM data recipe WITH repetition — "web ×0.3,
    * wiki ×4 epochs" — under two constraints: a total token budget
    * (`totalTokens`; `tokensCol` is the per-row token COUNT column) and
    * a per-source repetition cap `maxEpochs` (data-constrained scaling
    * laws put useful repetition at ~4 epochs). The feasible budget is
    * B' = min(budget, min_s maxEpochs·T_s/p_s) — the most-repeated
    * source binds — and each source plans p_s·B' tokens = p_s·B'/T_s
    * epochs. Output: (source, tokens, target_share, planned_tokens,
    * epochs); epochs > 1 means upsample (repeat), < 1 means subsample
    * (feed rate to [[sampleByHash]]).
    *
    * Scale shape: identical to [[mixtureRates]] — one groupBy on source,
    * a broadcast target join, a single-row min broadcast back; the
    * corpus is scanned once. Integer token sums keep the double
    * arithmetic deterministic across engines. */
  def planMixtureEpochs(df: DataFrame, sourceCol: String, tokensCol: Column,
                        targets: Seq[(String, Double)], totalTokens: Long,
                        maxEpochs: Double): DataFrame = {
    require(targets.nonEmpty, "at least one target share required")
    require(targets.map(_._1).distinct.size == targets.size,
      "duplicate source in targets")
    require(targets.map(_._2).forall(_ > 0), "target shares must be positive")
    val total = targets.map(_._2).sum
    require(math.abs(total - 1.0) <= 1e-9,
      s"target shares must sum to 1, got $total")
    require(totalTokens >= 0, s"totalTokens must be >= 0, got $totalTokens")
    require(maxEpochs > 0, s"maxEpochs must be > 0, got $maxEpochs")
    val spark = df.sparkSession
    import spark.implicits._
    val tgt = targets.toDF("__src", "target_share")
    // outer-join FROM the targets, as mixtureRates: a targeted source
    // missing from the corpus plans 0 tokens (its cap is 0, which zeroes
    // the whole feasible budget — an empty source cannot be repeated
    // into its share). The per-source aggregate (hundreds of rows) is
    // the broadcast build side — broadcasting the preserved target side
    // of an outer join is not plannable.
    val agg = df
      .groupBy(col(sourceCol).as("__asrc"))
      .agg(sum(tokensCol.cast("long")).as("__toks"))
    val perSource = tgt
      .join(broadcast(agg), col("__asrc") === col("__src"), "left")
      .select(col("__src").as("source"),
        coalesce(col("__toks"), lit(0L)).as("tokens"), col("target_share"))
    val feasible = perSource.agg(
      least(lit(totalTokens.toDouble),
        min(lit(maxEpochs) * col("tokens").cast("double") / col("target_share")))
        .as("__b"))
    perSource
      .crossJoin(broadcast(feasible))
      .withColumn("planned_tokens", col("target_share") * col("__b"))
      .withColumn("epochs",
        when(col("tokens") === 0L, lit(0.0))
          .otherwise(col("target_share") * col("__b") / col("tokens").cast("double")))
      .drop("__b")
  }
}
