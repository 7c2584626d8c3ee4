package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.Barrier

/** Byte-pair-encoding tokenizer TRAINING — the vocabulary is itself a
  * training-data-pipeline product (Sennrich et al.'s word-level BPE:
  * learn merges on the corpus' word-frequency table, then tokenize with
  * them). `TextFns.bpeTokenCount` estimates with a fixed heuristic; this
  * learns real corpus-fitted merges.
  *
  * Scale shape: the corpus-sized work is ONE job — the distinct-word
  * frequency count (a 100 TB corpus has ~10⁷ distinct words ≈ 10²-10³ MB,
  * Heaps' law). The merge loop itself runs over that word table, and a
  * 32k-merge vocabulary means 32k sequential rounds — as 32k Spark jobs
  * that is hours of pure scheduler overhead on a ~100 MB table, so:
  *
  *  - `train` collects the word table to the driver when its estimated
  *    footprint fits `driverByteBudget` and runs the merge loop there
  *    with INCREMENTAL pair-delta updates (only the words containing the
  *    merged pair are touched per round — the standard fast-BPE shape);
  *  - when the vocabulary doesn't fit, the DEFAULT route caps it: train
  *    on the top-frequency head (deterministic freq-desc/md5-tiebreak
  *    truncation shrunk to the budget, loud disclosure of dropped word
  *    count and corpus mass) — the standard capped-vocab practice, since
  *    pair frequencies are Zipf-dominated by the head and top-ranked
  *    merges are unaffected by the tail (BpeSpec pins head-merge
  *    agreement);
  *  - `capVocab = false` (or budget 0) instead falls back LOUDLY to the
  *    exact distributed loop (one pair-count job + argmax + rewrite per
  *    round, state behind a [[graft.Barrier]] so round k doesn't re-execute all
  *    prior rounds — the lineage trap documented on
  *    Dedup.resolveClusters) — correct but one Spark job per merge.
  *
  * The driver and distributed EXACT paths produce identical merges
  * (the capped head is by construction an approximation above the
  * budget — it discloses loudly and callers whose oracle replays exact
  * full-vocab BPE, q129/q130, pin `capVocab = false`): the argmax
  * tiebreak is
  * (freq desc, pair asc) with pair order compared BY CODE POINT — the
  * order Spark's UTF8String binary comparison yields — not by UTF-16
  * code unit (String.compareTo), which disagrees for astral-plane
  * symbols vs [U+E000, U+FFFF].
  */
object Bpe {

  /** Split a string into code-point symbols — NOT UTF-16 units: an
    * astral-plane character (emoji, rare CJK) split into surrogate
    * halves would corrupt to '?' at Spark's UTF8String boundary and
    * conflate distinct characters (same guarantee class as
    * TextFns.occurrences' code-point note). */
  private[operators] def symbols(word: String): Vector[String] =
    word.codePoints().toArray.map(cp => new String(Character.toChars(cp))).toVector

  /** Learned merges, in application order.
    *
    * `cappedVocab`/`droppedWords`/`droppedMassPct` record whether the
    * capped-head route fired during training (and how much of the
    * vocabulary/corpus word mass the truncation excluded), so a caller
    * can programmatically distinguish an exact model from an
    * approximate one instead of relying on the stderr disclosure. An
    * exactly-trained model carries (false, 0, 0.0). */
  final case class Model(merges: Seq[(String, String)],
                         cappedVocab: Boolean = false,
                         droppedWords: Long = 0L,
                         droppedMassPct: Double = 0.0) {
    // built once per (deserialized) model, NOT once per word — encode
    // calls encodeWord per corpus word and a per-call toMap of a
    // 10k-merge model would dominate tokenization cost
    @transient private lazy val rank: Map[(String, String), Int] = merges.zipWithIndex.toMap

    /** Tokenize one word by applying merges in learned order (the
      * standard greedy loop: repeatedly merge the earliest-learned pair
      * present). Driver/executor-side pure function. */
    def encodeWord(word: String): Seq[String] = {
      var syms = Bpe.symbols(word)
      var changed = true
      while (changed && syms.length > 1) {
        var bestIdx = -1
        var bestRank = Int.MaxValue
        var i = 0
        while (i < syms.length - 1) {
          rank.get((syms(i), syms(i + 1))).foreach { r =>
            if (r < bestRank) { bestRank = r; bestIdx = i }
          }
          i += 1
        }
        if (bestIdx < 0) changed = false
        else syms = (syms.take(bestIdx) :+ (syms(bestIdx) + syms(bestIdx + 1))) ++
          syms.drop(bestIdx + 2)
      }
      syms
    }
  }

  /** Compare strings by code point — the order Spark's UTF8String binary
    * (UTF-8 byte) comparison produces. String.compareTo would disagree
    * for astral-plane symbols, and the driver loop's tiebreak must match
    * the distributed loop's `orderBy(col("a").asc)` exactly. */
  private[operators] def cpCompare(x: String, y: String): Int = {
    var i = 0
    var j = 0
    while (i < x.length && j < y.length) {
      val cx = x.codePointAt(i)
      val cy = y.codePointAt(j)
      if (cx != cy) return Integer.compare(cx, cy)
      i += Character.charCount(cx)
      j += Character.charCount(cy)
    }
    Integer.compare(x.length - i, y.length - j)
  }

  /** Learn `numMerges` merges from the corpus (stop early when the best
    * remaining pair's weighted frequency drops below `minFreq`).
    *
    * `driverByteBudget`: the word-frequency table (the post-count state,
    * NOT the corpus) is collected to the driver and merged there when its
    * estimated heap footprint fits; set 0 to force the distributed loop.
    *
    * `capVocab` (default true): when the table exceeds the budget, train
    * on the top-frequency HEAD of the vocabulary instead — deterministic
    * truncation ordered by (freq desc, md5(word) asc), shrunk until the
    * head's estimated footprint fits the budget, with a loud disclosure
    * of how many words and what corpus mass were dropped. This is the
    * standard capped-vocab practice: pair frequencies are dominated by
    * the head (Zipf), so top-ranked merges are unaffected by dropping
    * the long tail — BpeSpec pins head-merge agreement against the
    * full-vocab model. When the cap fires the returned Model records it
    * (`cappedVocab = true` plus dropped word count / corpus-mass
    * percentage), so callers can detect the approximation in code, not
    * just on stderr. A 100 TB web corpus WILL exceed any driver
    * budget, and the exact alternative (`capVocab = false` → the
    * distributed per-merge loop) costs one Spark job per merge — hours
    * of scheduler overhead at real vocab sizes — so the capped head is
    * the route that actually runs at target scale.
    */
  def train(df: DataFrame, textCol: String, numMerges: Int,
            minFreq: Long = 2L,
            driverByteBudget: Long = 512L << 20,
            capVocab: Boolean = true): Model = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(minFreq >= 1, s"minFreq must be >= 1, got $minFreq")
    val spark = df.sparkSession
    import spark.implicits._

    // corpus → distinct-word frequency table; this is the ONLY
    // corpus-sized job
    val wordFreq = Barrier(df
      .select(explode(graft.functions.TextFns.words(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .as[(String, Long)])

    // Size guard: one tiny agg over the (already word-sized) table. The
    // driver-side state is per-SYMBOL boxed strings, so estimate ~48 B
    // per character (String + char[] + Vector slot) + ~200 B per word
    // (entry + pair-index membership) — deliberately pessimistic.
    val (nWords, nChars, totMass) = wordFreq
      .agg(count(lit(1)), coalesce(sum(length(col("w"))), lit(0L)),
        coalesce(sum(col("n")), lit(0L)))
      .as[(Long, Long, Long)].head()
    val estBytes = nChars * 48L + nWords * 200L

    if (estBytes <= driverByteBudget) {
      trainDriver(wordFreq.collect(), numMerges, minFreq)
    } else if (capVocab && driverByteBudget > 0L) {
      // Deterministic head truncation: keep the k top-frequency words
      // (md5 tiebreak so equal-frequency words cut identically on any
      // engine/partitioning), k sized from the measured average word
      // cost and re-shrunk if the head's ACTUAL estimate still
      // overshoots (head words can be longer than average). orderBy +
      // limit is a distributed top-k — no global single-partition sort —
      // and the collect that follows is the point: we are choosing the
      // head that FITS the driver.
      val avgCost = 48.0 * nChars / math.max(nWords, 1L) + 200.0
      def head(k: Long): Dataset[(String, Long)] = wordFreq
        .orderBy(col("n").desc, md5(col("w").cast("binary")).asc)
        .limit(math.min(k, Int.MaxValue.toLong).toInt)
        .as[(String, Long)]
      def measure(h: Dataset[(String, Long)]): (Long, Long, Long) = h
        .agg(count(lit(1)), coalesce(sum(length(col("w"))), lit(0L)),
          coalesce(max(length(col("w"))).cast("long"), lit(0L)))
        .as[(Long, Long, Long)].head()
      var k = math.max(1L, (driverByteBudget / avgCost).toLong).min(nWords)
      var h = head(k)
      var (hWords, hChars, hMaxLen) = measure(h)
      var tries = 0
      while (hChars * 48L + hWords * 200L > driverByteBudget && k > 1L && tries < 4) {
        // shrink by the overshoot ratio IN DOUBLE: k * budget as a Long
        // product overflows at real budgets (k ~1e8 x budget ~1e11)
        val est = math.max(hChars * 48L + hWords * 200L, 1L)
        k = math.max(1L, (k * (driverByteBudget.toDouble / est)).toLong)
        h = head(k)
        val m = measure(h); hWords = m._1; hChars = m._2; hMaxLen = m._3
        tries += 1
      }
      if (hChars * 48L + hWords * 200L > driverByteBudget) {
        // convergence backstop — the budget is a CONTRACT, not a hint:
        // bound k by the worst-case per-word cost observed in the
        // current head (a smaller head is a PREFIX of this one under
        // the same deterministic ordering, so its max word length can
        // only shrink) — guaranteed to fit, no further measurement
        k = math.max(1L, driverByteBudget / (48L * math.max(hMaxLen, 1L) + 200L))
        h = head(k)
      }
      val kept = h.collect()
      val keptMass = kept.iterator.map(_._2).sum
      val pct = if (totMass > 0L) 100.0 * keptMass / totMass else 100.0
      System.err.println(
        f"[graft.Bpe] word-frequency table est. $estBytes B exceeds driver " +
        f"budget $driverByteBudget B; training on the CAPPED vocabulary head " +
        f"— top ${kept.length} of $nWords words (freq-desc/md5-tiebreak " +
        f"truncation) covering $pct%.2f%% of corpus word mass. Tail-only " +
        f"merges are excluded by construction; pass capVocab = false for " +
        f"the exact distributed loop (one Spark job per merge).")
      trainDriver(kept, numMerges, minFreq).copy(
        cappedVocab = true,
        droppedWords = nWords - kept.length,
        droppedMassPct = 100.0 - pct)
    } else {
      // Loud fallback: per-round Spark jobs are hours of scheduler
      // overhead at real vocab sizes — the exact route for when the
      // head approximation is explicitly declined (or budget 0 forces
      // the distributed loop).
      System.err.println(
        s"[graft.Bpe] word-frequency table est. $estBytes B exceeds driver " +
        s"budget $driverByteBudget B ($nWords words); falling back to the " +
        "distributed per-round merge loop (one Spark job per merge)")
      trainDistributed(wordFreq, numMerges, minFreq)
    }
  }

  /** Driver-side merge loop with incremental pair-delta updates: per
    * round, only the words that CONTAIN the merged pair are rewritten,
    * and only the pairs those rewrites created/destroyed have their
    * counts adjusted — no full recount. The argmax is a LAZY-DELETION
    * max-heap ((freq desc, pair asc-by-code-point) order): every count
    * change pushes a fresh (count, pair) entry, and pops that disagree
    * with the live count table are discarded as stale — so a round costs
    * O(delta · log P) instead of the O(P) full-table scan that made 32k
    * rounds quadratic-ish in practice (the standard fast-BPE queue). */
  private[operators] def trainDriver(wordFreq: Array[(String, Long)],
                                     numMerges: Int, minFreq: Long): Model = {
    import scala.collection.mutable
    val words = wordFreq.map { case (w, _) => mutable.ArrayBuffer(symbols(w): _*) }
    val freqs = wordFreq.map(_._2)
    val pairCounts = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.BitSet]

    // max-heap: higher freq wins; on ties the code-point-SMALLER pair
    // must pop first, so the ordering treats it as the larger element
    val heapOrd: Ordering[(Long, (String, String))] =
      new Ordering[(Long, (String, String))] {
        def compare(x: (Long, (String, String)), y: (Long, (String, String))): Int = {
          val c = java.lang.Long.compare(x._1, y._1)
          if (c != 0) c
          else {
            val ca = cpCompare(y._2._1, x._2._1)
            if (ca != 0) ca else cpCompare(y._2._2, x._2._2)
          }
        }
      }
    val heap = mutable.PriorityQueue.empty[(Long, (String, String))](heapOrd)

    def setCount(p: (String, String), c: Long): Unit = {
      if (c <= 0L) pairCounts.remove(p)
      else { pairCounts(p) = c; heap.enqueue((c, p)) }
      ()
    }

    def addPair(p: (String, String), n: Long, wi: Int): Unit = {
      setCount(p, pairCounts.getOrElse(p, 0L) + n)
      pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += wi
      ()
    }
    var wi = 0
    while (wi < words.length) {
      val syms = words(wi)
      var i = 0
      while (i < syms.length - 1) {
        addPair((syms(i), syms(i + 1)), freqs(wi), wi)
        i += 1
      }
      wi += 1
    }

    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var continue = true
    while (continue && merges.length < numMerges) {
      var bestPair: (String, String) = null
      var bestFreq = 0L
      while (bestPair == null && heap.nonEmpty) {
        val (f, p) = heap.dequeue()
        // stale entries (count changed since push) are discarded
        if (pairCounts.getOrElse(p, 0L) == f) { bestPair = p; bestFreq = f }
      }
      if (bestPair == null || bestFreq < minFreq) continue = false
      else {
        merges += bestPair
        val (a, b) = bestPair
        val merged = a + b
        val affected = pairWords.getOrElse(bestPair, mutable.BitSet.empty).toArray
        affected.foreach { wi =>
          val old = words(wi)
          val out = mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < old.length) {
            if (i < old.length - 1 && old(i) == a && old(i + 1) == b) {
              out += merged; i += 2
            } else { out += old(i); i += 1 }
          }
          // pair-delta: multiset difference of adjacent pairs, weighted
          // by this word's corpus frequency
          val delta = mutable.HashMap.empty[(String, String), Long]
          var j = 0
          while (j < old.length - 1) {
            val p = (old(j), old(j + 1))
            delta(p) = delta.getOrElse(p, 0L) - freqs(wi)
            j += 1
          }
          j = 0
          while (j < out.length - 1) {
            val p = (out(j), out(j + 1))
            delta(p) = delta.getOrElse(p, 0L) + freqs(wi)
            j += 1
          }
          delta.foreach { case (p, d) =>
            if (d != 0L) setCount(p, pairCounts.getOrElse(p, 0L) + d)
          }
          // membership: drop this word from pairs it no longer contains,
          // add it to pairs the rewrite created
          val newSet = mutable.HashSet.empty[(String, String)]
          j = 0
          while (j < out.length - 1) { newSet += ((out(j), out(j + 1))); j += 1 }
          j = 0
          while (j < old.length - 1) {
            val p = (old(j), old(j + 1))
            if (!newSet.contains(p)) pairWords.get(p).foreach { s =>
              s -= wi
              if (s.isEmpty) pairWords.remove(p)
            }
            j += 1
          }
          newSet.foreach(p => pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += wi)
          words(wi) = out
        }
        pairCounts.remove(bestPair)
        pairWords.remove(bestPair)
      }
    }
    Model(merges.toSeq)
  }

  /** Distributed per-round merge loop — the fallback for vocabularies
    * that exceed the driver budget. One pair-count job + global argmax +
    * symbol rewrite per round; state behind a [[graft.Barrier]] each round. */
  private[operators] def trainDistributed(wordFreq: Dataset[(String, Long)],
                                          numMerges: Int, minFreq: Long): Model = {
    val spark = wordFreq.sparkSession
    import spark.implicits._
    var vocab: Dataset[(Seq[String], Long)] =
      Barrier(wordFreq.map { case (w, n) => (symbols(w): Seq[String], n) })

    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var continue = true
    while (continue && merges.length < numMerges) {
      // weighted adjacent-pair counts; deterministic argmax (freq desc,
      // pair asc) via a bounded-heap global top-1
      val top = vocab.flatMap { case (syms, n) =>
          syms.iterator.zip(syms.iterator.drop(1)).map(p => (p._1, p._2, n))
        }
        .toDF("a", "b", "n")
        .groupBy("a", "b").agg(sum(col("n")).as("freq"))
        .orderBy(col("freq").desc, col("a").asc, col("b").asc)
        .limit(1)
        .as[(String, String, Long)]
        .collect()
      top.headOption match {
        case Some((a, b, freq)) if freq >= minFreq =>
          merges += ((a, b))
          val merged = a + b
          val next = Barrier(vocab.map { case (syms, n) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
                out += merged; i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.toSeq, n)
          })
          // note: no unpersist — it is a no-op for barrier blocks;
          // dropping the reference lets ContextCleaner reclaim
          // the previous round's RDD blocks
          vocab = next
        case _ => continue = false
      }
    }
    Model(merges.toSeq)
  }

  /** Tokenize a corpus with a trained model: (id, bpe_tokens,
    * n_bpe_tokens) — join back on id for the full row; the id keeps its
    * ORIGINAL type (a long cast would null string/uuid ids and the join
    * back would silently drop the corpus). A row-typed map (the greedy
    * merge loop is genuinely imperative — the same mapPartitions-class
    * exception as the multimodal codecs; no SQL UDF), with the model
    * (a few thousand merges) shipped once per task in the closure. */
  def encode(df: DataFrame, textCol: String, idCol: String, model: Model): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      df.schema(idCol),
      StructField("bpe_tokens", ArrayType(StringType, containsNull = false)),
      StructField("n_bpe_tokens", LongType, nullable = false)))
    df.select(col(idCol), col(textCol))
      .map { r =>
        val text = if (r.isNullAt(1)) null else r.getString(1)
        val toks: Seq[String] =
          if (text == null) Seq.empty[String]
          else text.split(" ").iterator.filter(_.nonEmpty)
            .flatMap(model.encodeWord).toSeq
        Row(r.get(0), toks, toks.length.toLong)
      }(Encoders.row(outSchema))
  }
}
