package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.Num._
import graft.functions.TextFns
import graft.operators.Dedup
import graft.sources.Tables

/** SURVEY.md §2.C (text half) — training-data pipeline operators over the
  * `documents` table. */
object TextQueries {

  /** C1: exact dedup via content-hash groupBy. */
  private val q30 = Q(
    "q30_dedup_exact",
    (s, dir) => Dedup.exact(Tables.documents(s, dir), "text", "doc_id"),
    Some("""
      SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents GROUP BY 1
    """),
  )

  /** C2: MinHash+LSH candidate pairs (8 md5-minhashes over word 3-gram
    * shingles, 2 bands of 4). */
  private val q31 = Q(
    "q31_minhash_lsh",
    (s, dir) => Dedup.minhashLsh(
      Tables.documents(s, dir, spread = true),
      "text", "doc_id"),
    Some("""
      WITH sh AS (
        SELECT DISTINCT doc_id AS doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
              WHERE len(string_split(text, ' ')) >= 3) w,
             LATERAL unnest(generate_series(1, len(ws) - 2)) AS t(i)),
      hm AS (SELECT doc, md5(s) AS shmd5 FROM sh),
      sig AS (
        SELECT doc,
          min(substr(shmd5, 1, 4)) AS h0, min(substr(shmd5, 5, 4)) AS h1,
          min(substr(shmd5, 9, 4)) AS h2, min(substr(shmd5, 13, 4)) AS h3,
          min(substr(shmd5, 17, 4)) AS h4, min(substr(shmd5, 21, 4)) AS h5,
          min(substr(shmd5, 25, 4)) AS h6, min(substr(shmd5, 29, 4)) AS h7
        FROM hm GROUP BY 1),
      bands AS (
        SELECT doc, md5(h0 || h1 || h2 || h3) AS bd FROM sig
        UNION ALL
        SELECT doc, md5(h4 || h5 || h6 || h7) AS bd FROM sig)
      SELECT DISTINCT x.doc AS a_id, y.doc AS b_id
      FROM bands x JOIN bands y ON x.bd = y.bd AND x.doc < y.doc
    """),
  )

  /** C3: SimHash fingerprint histogram (16-bit). Oracle SQL generated to
    * mirror the 16 vote/bit terms exactly. */
  private val q32 = {
    val votes = (0 until 16).map { j =>
      val a = s"ascii(substr(h, ${j + 1}, 1))"
      s"SUM(CASE WHEN (CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END) % 2 = 1 THEN 1 ELSE -1 END) AS v$j"
    }.mkString(",\n          ")
    val fp = (0 until 16).map(j => s"CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    Q(
      "q32_simhash",
      (s, dir) =>
        Dedup.simhash(
          Tables.documents(s, dir, spread = true),
          "text", "doc_id")
          .groupBy("simhash")
          .agg(count(lit(1)).as("n_docs")),
      Some(s"""
        WITH w AS (
          SELECT DISTINCT doc_id AS doc, w
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t),
        h AS (SELECT doc, md5(w) AS h FROM w),
        v AS (SELECT doc,
          $votes
          FROM h GROUP BY 1)
        SELECT ($fp) AS simhash, COUNT(*) AS n_docs FROM v GROUP BY 1
      """),
    )
  }

  /** C4: word-set Jaccard verification of MinHash-LSH candidate pairs —
    * the full production near-dup pipeline (q31's candidate stage →
    * `Dedup.jaccardVerify`), oracle-checked end to end. The LSH blocking
    * keeps candidates ~linear in corpus size at any scale; the oracle
    * mirrors q31's md5-band construction and the verify arithmetic. */
  private val q33 = Q(
    "q33_ngram_jaccard",
    (s, dir) => {
      val d = Tables.documents(s, dir, spread = true).select(col("doc_id"), col("text"))
      val pairs = Dedup.minhashLsh(d, "text", "doc_id")
      Dedup.jaccardVerify(pairs, d, "text", "doc_id")
        .select("a_id", "b_id", "jaccard")
    },
    Some("""
      WITH sh AS (
        SELECT DISTINCT doc_id AS doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
              WHERE len(string_split(text, ' ')) >= 3) w,
             LATERAL unnest(generate_series(1, len(ws) - 2)) AS t(i)),
      hm AS (SELECT doc, md5(s) AS shmd5 FROM sh),
      sig AS (
        SELECT doc,
          min(substr(shmd5, 1, 4)) AS h0, min(substr(shmd5, 5, 4)) AS h1,
          min(substr(shmd5, 9, 4)) AS h2, min(substr(shmd5, 13, 4)) AS h3,
          min(substr(shmd5, 17, 4)) AS h4, min(substr(shmd5, 21, 4)) AS h5,
          min(substr(shmd5, 25, 4)) AS h6, min(substr(shmd5, 29, 4)) AS h7
        FROM hm GROUP BY 1),
      bands AS (
        SELECT doc, md5(h0 || h1 || h2 || h3) AS bd FROM sig
        UNION ALL
        SELECT doc, md5(h4 || h5 || h6 || h7) AS bd FROM sig),
      pairs AS (
        SELECT DISTINCT x.doc AS a_id, y.doc AS b_id
        FROM bands x JOIN bands y ON x.bd = y.bd AND x.doc < y.doc),
      wd AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      wc AS (SELECT doc_id, COUNT(*) AS nw FROM wd GROUP BY 1),
      inter AS (
        SELECT p.a_id, p.b_id, COUNT(*) AS inter
        FROM pairs p
        JOIN wd wa ON wa.doc_id = p.a_id
        JOIN wd wb ON wb.doc_id = p.b_id AND wb.w = wa.w
        GROUP BY 1, 2)
      SELECT p.a_id, p.b_id,
        COALESCE(i.inter, 0) / (ca.nw + cb.nw - COALESCE(i.inter, 0)) AS jaccard
      FROM pairs p
      LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id
      JOIN wc ca ON ca.doc_id = p.a_id
      JOIN wc cb ON cb.doc_id = p.b_id
    """),
  )

  /** C5: token counting per language. */
  private val q34 = Q(
    "q34_token_count",
    (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("ntok", TextFns.tokenCount(col("text")))
        .groupBy("lang")
        .agg(
          sum(col("ntok").cast("long")).as("sum_tokens"),
          (sum(col("ntok").cast("long")).cast("double") / count(lit(1))).as("avg_tokens"),
          count(lit(1)).as("n_docs"),
        ),
    Some("""
      SELECT lang,
        CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS sum_tokens,
        CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_tokens,
        COUNT(*) AS n_docs
      FROM documents GROUP BY 1
    """),
  )

  /** C6: quality scoring — avg word length, vowel ratio, stopword ratio. */
  private val q35 = Q(
    "q35_quality_score",
    (s, dir) => {
      val ntok = TextFns.tokenCount(col("text"))
      val nchar = length(col("text"))
      val padded = concat(lit(" "), col("text"), lit(" "))
      Tables.documents(s, dir, spread = true)
        .withColumn("awl", (nchar - (ntok - lit(1))).cast("double") / ntok)
        .withColumn("vr", TextFns.vowelCount(col("text")).cast("double") / nchar)
        .withColumn("sr", TextFns.occurrences(padded, " the ").cast("double") / ntok)
        .groupBy("source")
        .agg(
          davg(col("awl")).as("avg_word_len"),
          davg(col("vr")).as("avg_vowel_ratio"),
          davg(col("sr")).as("avg_stopword_ratio"),
          count(lit(1)).as("n_docs"),
        )
    },
    Some("""
      WITH m AS (
        SELECT source,
          CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
            / len(string_split(text, ' ')) AS awl,
          CAST(length(lower(text)) - length(replace(replace(replace(replace(replace(lower(text),
            'a', ''), 'e', ''), 'i', ''), 'o', ''), 'u', '')) AS DOUBLE) / length(text) AS vr,
          CAST(CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5 AS BIGINT) AS DOUBLE)
            / len(string_split(text, ' ')) AS sr
        FROM documents)
      SELECT source,
        CAST(SUM(CAST(awl AS DECIMAL(38,6))) AS DOUBLE) / COUNT(awl) AS avg_word_len,
        CAST(SUM(CAST(vr AS DECIMAL(38,6))) AS DOUBLE) / COUNT(vr) AS avg_vowel_ratio,
        CAST(SUM(CAST(sr AS DECIMAL(38,6))) AS DOUBLE) / COUNT(sr) AS avg_stopword_ratio,
        COUNT(*) AS n_docs
      FROM m GROUP BY 1
    """),
  )

  /** C7: heuristic language ID vs the labeled `lang` column. */
  private val q36 = Q(
    "q36_lang_id",
    (s, dir) =>
      Tables.documents(s, dir, spread = true)
        .withColumn("predicted", TextFns.langId(col("text")))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n")),
    Some {
      val p = "(' ' || text || ' ')"
      def score(m: String) =
        s"CAST((length($p) - length(replace($p, '$m', ''))) / ${m.length} AS BIGINT)"
      val scores = TextFns.langMarkers.map { case (lang, m) => s"${score(m)} AS s_$lang" }
        .mkString(",\n          ")
      val caseChain = TextFns.langMarkers.map { case (lang, _) =>
        s"WHEN s_$lang = mx THEN '$lang'"
      }.mkString(" ")
      val sCols = TextFns.langMarkers.map { case (l, _) => s"s_$l" }.mkString(", ")
      val mx = "GREATEST(" + TextFns.langMarkers.map { case (l, _) => s"s_$l" }.mkString(", ") + ")"
      s"""
        WITH sc AS (
          SELECT lang,
          $scores
          FROM documents),
        mxed AS (SELECT lang, $sCols, $mx AS mx FROM sc)
        SELECT lang, CASE $caseChain ELSE 'und' END AS predicted, COUNT(*) AS n
        FROM mxed GROUP BY 1, 2
      """
    },
  )

  /** C8: normalized-content fingerprint distinctness per source. */
  private val q37 = Q(
    "q37_fingerprint",
    (s, dir) =>
      Tables.documents(s, dir, spread = true)
        .withColumn("fp", TextFns.fingerprint(col("text")))
        .groupBy("source")
        .agg(countDistinct(col("fp")).as("n_distinct"), count(lit(1)).as("n_docs")),
    Some("""
      SELECT source, COUNT(DISTINCT md5(replace(text, ' ', ''))) AS n_distinct,
        COUNT(*) AS n_docs
      FROM documents GROUP BY 1
    """),
  )

  /** C20: repetition filtering (Gopher-style quality rule): fraction of
    * repeated word-3-gram shingles per doc; sources ranked by average
    * repetition and count of repetitive docs. Per-row native shingles +
    * array_distinct — no explode; the oracle unnests. Threshold compares
    * are IEEE-identical because both engines compute the same doubles. */
  private val q45 = Q(
    "q45_repetition",
    (s, dir) => {
      val sh = TextFns.shingles(col("text"), 3)
      Tables.documents(s, dir, spread = true)
        .filter(size(TextFns.words(col("text"))) >= 3)
        .withColumn("ratio",
          lit(1.0) - size(array_distinct(sh)).cast("double") / size(sh).cast("double"))
        .groupBy("source")
        .agg(
          davg(col("ratio")).as("avg_repetition"),
          sum((col("ratio") > 0.1).cast("long")).cast("long").as("n_repetitive"),
          count(lit(1)).as("n_docs"),
        )
    },
    Some("""
      WITH w AS (
        SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
        WHERE len(string_split(text, ' ')) >= 3),
      sh AS (
        SELECT doc_id, source, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        FROM w, LATERAL unnest(generate_series(1, len(ws) - 2)) AS t(i)),
      r AS (
        SELECT doc_id, source,
          1.0 - CAST(COUNT(DISTINCT s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS ratio
        FROM sh GROUP BY 1, 2)
      SELECT source,
        CAST(SUM(CAST(ratio AS DECIMAL(38,6))) AS DOUBLE) / COUNT(ratio) AS avg_repetition,
        CAST(SUM(CAST(ratio > 0.1 AS BIGINT)) AS BIGINT) AS n_repetitive,
        COUNT(*) AS n_docs
      FROM r GROUP BY 1
    """),
  )

  /** C24: near-dup cluster resolution + survivor selection — the step that
    * turns q31's candidate-pair report into keep/drop decisions. LSH pairs
    * → connected components (iterative min-label propagation, see
    * `Dedup.resolveClusters`) → one min-id survivor per cluster; docs in no
    * pair keep themselves. `keep = 0` rows are the drop list. The DuckDB
    * oracle recomputes the same pair graph and resolves components with a
    * recursive transitive-closure CTE. */
  private val q47 = Q(
    "q47_dedup_clusters",
    (s, dir) => {
      val docs = Tables.documents(s, dir, spread = true)
      val pairs = Dedup.minhashLsh(docs, "text", "doc_id")
      Dedup.survivors(docs, pairs, "doc_id")
    },
    Some("""
      WITH RECURSIVE sh AS (
        SELECT DISTINCT doc_id AS doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
              WHERE len(string_split(text, ' ')) >= 3) w,
             LATERAL unnest(generate_series(1, len(ws) - 2)) AS t(i)),
      hm AS (SELECT doc, md5(s) AS shmd5 FROM sh),
      sig AS (
        SELECT doc,
          min(substr(shmd5, 1, 4)) AS h0, min(substr(shmd5, 5, 4)) AS h1,
          min(substr(shmd5, 9, 4)) AS h2, min(substr(shmd5, 13, 4)) AS h3,
          min(substr(shmd5, 17, 4)) AS h4, min(substr(shmd5, 21, 4)) AS h5,
          min(substr(shmd5, 25, 4)) AS h6, min(substr(shmd5, 29, 4)) AS h7
        FROM hm GROUP BY 1),
      bands AS (
        SELECT doc, md5(h0 || h1 || h2 || h3) AS bd FROM sig
        UNION ALL
        SELECT doc, md5(h4 || h5 || h6 || h7) AS bd FROM sig),
      pairs AS (
        SELECT DISTINCT x.doc AS a_id, y.doc AS b_id
        FROM bands x JOIN bands y ON x.bd = y.bd AND x.doc < y.doc),
      edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION
        SELECT b_id AS src, a_id AS dst FROM pairs),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.node),
      cl AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY 1)
      SELECT d.doc_id,
        COALESCE(cl.cluster_id, d.doc_id) AS cluster_id,
        CAST(d.doc_id = COALESCE(cl.cluster_id, d.doc_id) AS BIGINT) AS keep
      FROM documents d LEFT JOIN cl ON cl.node = d.doc_id
    """),
  )

  /** C28: deterministic mixture sampling — per-source hash-threshold
    * rates (even-numbered sources 50%, odd 12.5%). Reproducible across
    * engines/runs/partitionings, unlike rand() sampling; the oracle
    * applies the same lowercase-hex-prefix compare. */
  private val q48 = Q(
    "q48_sample_stratified",
    (s, dir) => {
      val srcNum = substring(col("source"), 4, 10).cast("int")
      val rate = when(srcNum % 2 === 0, lit(0.5)).otherwise(lit(0.125))
      graft.operators.Corpus.sampleByHash(Tables.documents(s, dir), "text", rate)
        .select("doc_id", "source")
    },
    Some("""
      SELECT doc_id, source FROM documents
      WHERE substr(md5(text), 1, 4) <
        CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN '8000' ELSE '2000' END
    """),
  )

  /** C29: token-budget shard packing — docs pack into ~512-token shards
    * per source (start-offset binning over one running window); rollup
    * counts docs and tokens per shard. */
  private val q49 = Q(
    "q49_token_shards",
    (s, dir) => {
      val d = Tables.documents(s, dir, spread = true)
      graft.operators.Corpus.packShards(d, "source", "doc_id",
          TextFns.tokenCount(col("text")), budget = 512L)
        .groupBy("source", "shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("sum_tokens"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS ntok FROM documents),
      c AS (
        SELECT doc_id, source, ntok,
          SUM(ntok) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t)
      SELECT source,
        CAST(FLOOR(CAST(cum - ntok AS DOUBLE) / 512) AS BIGINT) AS shard,
        COUNT(*) AS n_docs,
        CAST(SUM(ntok) AS BIGINT) AS sum_tokens
      FROM c GROUP BY 1, 2
    """),
  )

  /** C30: deterministic exact-size per-group sample — exactly 5 docs per
    * source by md5-hash order, the same 5 every run. Rides the custom
    * TopKPerKey operator (bounded heaps, map-side partial); the oracle is
    * the ROW_NUMBER formulation of the same total order. */
  private val q50 = Q(
    "q50_sample_per_group",
    (s, dir) =>
      graft.operators.Corpus.samplePerGroup(
          Tables.documents(s, dir).select("doc_id", "source", "text"), "source", "text", "doc_id", k = 5)
        .select("doc_id", "source"),
    Some("""
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rn
        FROM documents) t
      WHERE rn <= 5
    """),
  )

  /** C31: benchmark decontamination — flag corpus docs sharing any word
    * 8-gram with the benchmark split (doc_id % 10 == 0 stands in for the
    * eval set). The standard published rule is 13-grams; 8 here because
    * the synthetic docs are 30–100 words. Benchmark shingles broadcast;
    * the corpus is never shuffled (see `Corpus.decontaminate`). */
  private val q51 = Q(
    "q51_decontaminate",
    (s, dir) => {
      val docs = Tables.documents(s, dir, spread = true)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val benchmark = docs.filter(col("doc_id") % 10 === 0)
      graft.operators.Corpus.decontaminate(corpus, benchmark, "text", "doc_id", n = 8)
        .select("doc_id", "contaminated")
    },
    Some {
      val gram8 = (0 until 8).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
      s"""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        WHERE len(string_split(text, ' ')) >= 8),
      sh AS (
        SELECT DISTINCT doc_id, $gram8 AS s
        FROM w, LATERAL unnest(generate_series(1, len(ws) - 7)) AS t(i)),
      bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
      hits AS (
        SELECT DISTINCT doc_id FROM sh
        WHERE doc_id % 10 <> 0 AND s IN (SELECT s FROM bench))
      SELECT d.doc_id,
        CAST(h.doc_id IS NOT NULL AS BIGINT) AS contaminated
      FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
      WHERE d.doc_id % 10 <> 0
      """
    },
  )

  /** C32: BM25 keyword retrieval — top-5 docs per query for three fixed
    * term queries (relational inverted index; see `TextSearch.bm25`).
    * Scores decimal-summed per term so ranking ties break exactly. */
  private val q52 = {
    val queryTerms = Seq(
      "qa" -> Seq("spark", "join", "filter"),
      "qb" -> Seq("vector", "window", "scan"),
      "qc" -> Seq("customer", "merge"),
    )
    Q(
      "q52_bm25_search",
      (s, dir) => {
        import s.implicits._
        val queries = queryTerms
          .flatMap { case (qid, ts) => ts.map(qid -> _) }
          .toDF("query_id", "term")
        graft.operators.TextSearch.bm25(
          Tables.documents(s, dir, spread = true),
          "text", "doc_id", queries, "query_id", "term", k = 5)
      },
      Some {
        val values = queryTerms
          .flatMap { case (qid, ts) => ts.map(t => s"('$qid', '$t')") }
          .mkString(", ")
        s"""
        WITH q(query_id, term) AS (VALUES $values),
        d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
              FROM documents),
        st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM d),
        wd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        tf AS (
          SELECT wd.doc_id, wd.t, COUNT(*) AS tf
          FROM wd JOIN (SELECT DISTINCT term FROM q) qt ON qt.term = wd.t
          GROUP BY 1, 2),
        dfq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
        sc AS (
          SELECT q.query_id, tf.doc_id,
            CAST(SUM(CAST(
              ln(1 + (CAST(st.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
                    / (CAST(dfq.df AS DOUBLE) + 0.5))
              * ((CAST(tf.tf AS DOUBLE) * 2.2)
                 / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE)
                     / (CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))))
            AS DECIMAL(38,6))) AS DOUBLE) AS score
          FROM q
          JOIN tf ON tf.t = q.term
          JOIN d ON d.doc_id = tf.doc_id
          JOIN dfq ON dfq.t = tf.t
          CROSS JOIN st
          GROUP BY 1, 2)
        SELECT query_id, doc_id, score, rank FROM (
          SELECT query_id, doc_id, score,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score DESC, doc_id) AS rank
          FROM sc) r
        WHERE rank <= 5
        """
      },
    )
  }

  /** C33: exact-phrase retrieval — top-10 docs by occurrence count of a
    * fixed two-word phrase (whole-word boundaries; word gaps doubled so
    * back-to-back repeats each count; see `TextSearch.phrase`). Map stage
    * + global bounded-heap top-k, no shuffle of non-matching docs. The
    * oracle mirrors the double-space expansion: marker ' spark  join '
    * is 13 chars. */
  private val q53 = Q(
    "q53_phrase_search",
    (s, dir) =>
      graft.operators.TextSearch.phrase(
        Tables.documents(s, dir, spread = true),
        "text", "doc_id", "spark join", k = 10),
    Some("""
      WITH e AS (
        SELECT doc_id, ' ' || replace(text, ' ', '  ') || ' ' AS p FROM documents),
      h AS (
        SELECT doc_id,
          CAST((length(p) - length(replace(p, ' spark  join ', ''))) / 13 AS BIGINT) AS n_hits
        FROM e)
      SELECT doc_id, n_hits,
        ROW_NUMBER() OVER (ORDER BY n_hits DESC, doc_id) AS rank
      FROM h WHERE n_hits > 0
      ORDER BY rank LIMIT 10
    """),
  )

  /** C36: BPE-ish subword token accounting per language — the LLM-cost
    * estimate next to q34's whitespace count (`TextFns.bpeTokenCount`:
    * letter runs / digit runs / single punctuation, lookahead-free so
    * Java regex and RE2 tokenize identically). */
  private val q54 = Q(
    "q54_bpe_tokens",
    (s, dir) =>
      Tables.documents(s, dir, spread = true)
        .withColumn("nb", TextFns.bpeTokenCount(col("text")))
        .withColumn("nw", TextFns.tokenCount(col("text")).cast("long"))
        .groupBy("lang")
        .agg(
          sum(col("nb")).cast("long").as("sum_bpe_tokens"),
          sum(col("nw")).cast("long").as("sum_ws_tokens"),
          count(lit(1)).as("n_docs"),
        ),
    Some(s"""
      SELECT lang,
        CAST(SUM(len(regexp_extract_all(lower(text), '${TextFns.bpeTokenPattern}'))) AS BIGINT) AS sum_bpe_tokens,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_ws_tokens,
        COUNT(*) AS n_docs
      FROM documents GROUP BY 1
    """),
  )

  /** C37: deterministic train/val/test split assignment
    * (`Corpus.assignSplits`): 80/10/10 by content-hash prefix —
    * reproducible across engines/runs/growth, the anti-contamination
    * split policy. Rollup counts per (split, source). */
  private val q55 = Q(
    "q55_split_assign",
    (s, dir) =>
      graft.operators.Corpus.assignSplits(
          Tables.documents(s, dir), "text",
          Seq("train" -> 0.8, "val" -> 0.1), defaultSplit = "test")
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs")),
    Some("""
      SELECT CASE WHEN substr(md5(text), 1, 4) < 'cccc' THEN 'train'
                  WHEN substr(md5(text), 1, 4) < 'e666' THEN 'val'
                  ELSE 'test' END AS split,
        source, COUNT(*) AS n_docs
      FROM documents GROUP BY 1, 2
    """),
  )

  /** C38: mixture reweighting (`Corpus.mixtureRates` / `sampleToMixture`):
    * per-source sampling rates that realize a target token mixture
    * (capacity = min Tₛ/pₛ over targeted sources, rate = C·pₛ/Tₛ), then
    * the deterministic md5-threshold sample applied at those rates. The
    * rollup reports per-source rate + kept docs/tokens; both engines
    * compute rates through identical IEEE double ops, so even the rate
    * column hash-matches. */
  private val q57 = Q(
    "q57_mixture_sample",
    (s, dir) =>
      graft.operators.Corpus.sampleToMixture(
          Tables.documents(s, dir), "text", "source", col("n_chars"),
          Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .groupBy("source", "mixture_rate")
        .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("tokens_kept")),
    Some("""
      WITH tgt AS (
        SELECT * FROM (VALUES
          ('src0', CAST(0.5 AS DOUBLE)),
          ('src1', CAST(0.3 AS DOUBLE)),
          ('src2', CAST(0.2 AS DOUBLE))) AS t(src, p)),
      agg AS (
        SELECT source, CAST(SUM(n_chars) AS BIGINT) AS tokens
        FROM documents GROUP BY 1),
      -- LEFT join from the targets, mirroring mixtureRates' right join: a
      -- targeted source missing from the corpus gets tokens 0 → capacity 0
      per AS (
        SELECT t.src AS source, COALESCE(a.tokens, 0) AS tokens, t.p AS p
        FROM tgt t LEFT JOIN agg a ON a.source = t.src),
      cap AS (SELECT MIN(CAST(tokens AS DOUBLE) / p) AS c FROM per),
      rates AS (
        SELECT source,
          CASE WHEN tokens = 0 THEN CAST(0.0 AS DOUBLE)
               WHEN c * p / CAST(tokens AS DOUBLE) >= 1.0 - 1e-9 THEN CAST(1.0 AS DOUBLE)
               ELSE c * p / CAST(tokens AS DOUBLE) END AS mixture_rate
        FROM per, cap)
      SELECT d.source, r.mixture_rate, COUNT(*) AS n_kept,
        CAST(SUM(d.n_chars) AS BIGINT) AS tokens_kept
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE substr(md5(d.text), 1, 4) <
        CASE WHEN r.mixture_rate >= 1.0 THEN 'g'
             WHEN r.mixture_rate <= 0.0 THEN '0000'
             ELSE printf('%04x', CAST(floor(r.mixture_rate * 65536) AS INT)) END
      GROUP BY 1, 2
    """),
  )

  /** C40: fuzzy decontamination (`Corpus.decontaminateFuzzy`) — n-gram
    * CONTAINMENT fraction per corpus doc against the benchmark shingle
    * set, flag at ≥ 0.5 (q51's any-match rule, graduated: one shared
    * gram is noise, high containment is a leaked eval doc). */
  private val q59 = Q(
    "q59_decontaminate_fuzzy",
    (s, dir) => {
      val docs = Tables.documents(s, dir, spread = true)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val benchmark = docs.filter(col("doc_id") % 10 === 0)
      graft.operators.Corpus
        .decontaminateFuzzy(corpus, benchmark, "text", "doc_id", n = 8, minOverlap = 0.5)
        .select("doc_id", "overlap_frac", "contaminated")
    },
    Some {
      val gram8 = (0 until 8).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
      s"""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        WHERE len(string_split(text, ' ')) >= 8),
      sh AS (
        SELECT DISTINCT doc_id, $gram8 AS s
        FROM w, LATERAL unnest(generate_series(1, len(ws) - 7)) AS t(i)),
      bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
      tot AS (
        SELECT doc_id, COUNT(*) AS total FROM sh
        WHERE doc_id % 10 <> 0 GROUP BY 1),
      hits AS (
        SELECT doc_id, COUNT(*) AS hits FROM sh
        WHERE doc_id % 10 <> 0 AND s IN (SELECT s FROM bench) GROUP BY 1)
      SELECT d.doc_id,
        COALESCE(CAST(h.hits AS DOUBLE) / CAST(t.total AS DOUBLE), 0.0) AS overlap_frac,
        CAST(COALESCE(CAST(h.hits AS DOUBLE) / CAST(t.total AS DOUBLE), 0.0) >= 0.5 AS BIGINT)
          AS contaminated
      FROM documents d
      LEFT JOIN tot t ON t.doc_id = d.doc_id
      LEFT JOIN hits h ON h.doc_id = d.doc_id
      WHERE d.doc_id % 10 <> 0
      """
    },
  )

  /** C44: exact substring-duplicate spans (the Lee-et-al dedup mode —
    * see `SubstringDedup`): per doc, the maximal runs of ≥ 8 consecutive
    * tokens appearing verbatim in another document, as span count +
    * duplicated-token total/fraction. 8-grams (not the published 50)
    * because the synthetic docs are 30–100 words — same calibration as
    * q51. Exact gram-string keys here for engine-independent parity;
    * `hashKeys = true` (xxhash64, 8-byte shuffle keys) is the production
    * default and the benched fast twin. */
  private val q66 = Q(
    "q66_dup_spans",
    (s, dir) => graft.operators.SubstringDedup.spanStats(
      Tables.documents(s, dir, spread = true),
      "text", "doc_id", k = 8, hashKeys = false),
    Some {
      val gram8 = (0 until 8).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
      s"""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      g AS (
        SELECT doc_id, i - 1 AS pos, $gram8 AS s
        FROM (SELECT * FROM w WHERE len(ws) >= 8),
             LATERAL unnest(generate_series(1, len(ws) - 7)) AS t(i)),
      shared AS (
        SELECT s FROM (SELECT s, COUNT(DISTINCT doc_id) AS c FROM g GROUP BY 1)
        WHERE c >= 2),
      dp AS (SELECT doc_id, pos FROM g WHERE s IN (SELECT s FROM shared)),
      sp AS (
        SELECT doc_id, pos, pos + 7 AS e,
          MAX(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        FROM dp),
      sp2 AS (
        SELECT doc_id, pos, e,
          SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        FROM sp),
      spans AS (
        SELECT doc_id, span_id, MIN(pos) AS s0, MAX(e) AS e0
        FROM sp2 GROUP BY 1, 2),
      agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(e0 - s0 + 1) AS BIGINT) AS dup_tokens
        FROM spans GROUP BY 1)
      SELECT d.doc_id,
        CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
        CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE)
          / len(string_split(d.text, ' ')) AS dup_frac
      FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
      """
    },
  )

  /** C45: Bloom-prefiltered decontamination — q51's rule at the 100 TB
    * shape: the benchmark shingle set compresses into a Bloom filter
    * built with Spark's own distributed `BloomFilterAggregate`, the
    * corpus pass is a short-circuiting map stage, and only Bloom-positive
    * docs reach the exact verify join. Output (and oracle) are identical
    * to q51 by construction — the filter prunes work, never decides. */
  private val q69 = Q(
    "q69_decontaminate_bloom",
    (s, dir) => {
      val docs = Tables.documents(s, dir, spread = true)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val benchmark = docs.filter(col("doc_id") % 10 === 0)
      graft.operators.Corpus.decontaminateBloom(corpus, benchmark, "text", "doc_id", n = 8)
        .select("doc_id", "contaminated")
    },
    Some {
      val gram8 = (0 until 8).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
      s"""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        WHERE len(string_split(text, ' ')) >= 8),
      sh AS (
        SELECT DISTINCT doc_id, $gram8 AS s
        FROM w, LATERAL unnest(generate_series(1, len(ws) - 7)) AS t(i)),
      bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
      hits AS (
        SELECT DISTINCT doc_id FROM sh
        WHERE doc_id % 10 <> 0 AND s IN (SELECT s FROM bench))
      SELECT d.doc_id,
        CAST(h.doc_id IS NOT NULL AS BIGINT) AS contaminated
      FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
      WHERE d.doc_id % 10 <> 0
      """
    },
  )

  /** C46: hybrid retrieval — BM25 keyword ranking ⊕ exact cosine vector
    * ranking fused by Reciprocal Rank Fusion (Σ 1/(60+rank), the
    * calibration-free fusion standard). Query ids bridge the two
    * modalities: qa/qb/qc carry both a term list (BM25 over `documents`)
    * and a query vector (vec_id 0/1/2 over `embeddings`, doc_id ≡
    * vec_id). Both retrievers cut to their own top-10 first, so the
    * fusion join touches #queries × 10 rows per side regardless of
    * corpus size. Fused score is two IEEE divisions + one add in fixed
    * order — engine-exact. */
  private val q70 = {
    val queryTerms = Seq(
      "qa" -> Seq("spark", "join", "filter"),
      "qb" -> Seq("vector", "window", "scan"),
      "qc" -> Seq("customer", "merge"),
    )
    val vecOf = Seq("qa" -> 0, "qb" -> 1, "qc" -> 2)
    Q(
      "q70_hybrid_rrf",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir, spread = true)
        val queries = queryTerms
          .flatMap { case (qid, ts) => ts.map(qid -> _) }
          .toDF("query_id", "term")
        val kw = graft.operators.TextSearch.bm25(
          docs, "text", "doc_id", queries, "query_id", "term", k = 10)
        val e = Tables.embeddings(s, dir, spread = true)
        val vecIds = vecOf.map(_._2.toLong)
        val vec = graft.operators.KnnJoin.bruteForce(
            e.filter(col("vec_id").isin(vecIds: _*)), e.filter(col("vec_id") >= 5),
            "embedding", "vec_id", k = 10)
          .join(broadcast(vecOf.toDF("query_id", "__qv")),
            col("q_id") === col("__qv").cast("long"))
          .select(col("query_id"), col("t_id").as("doc_id"), col("rank"))
        graft.operators.TextSearch.hybridRrf(kw, vec, k = 5)
      },
      Some {
        val termValues = queryTerms
          .flatMap { case (qid, ts) => ts.map(t => s"('$qid', '$t')") }
          .mkString(", ")
        val mapValues = vecOf.map { case (q, v) => s"('$q', $v)" }.mkString(", ")
        val dotSql =
          "CAST(SUM(CAST(CAST(%s[i] AS DOUBLE) * CAST(%s[i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)"
        s"""
        WITH q(query_id, term) AS (VALUES $termValues),
        m(query_id, qvec) AS (VALUES $mapValues),
        d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
              FROM documents),
        st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM d),
        wd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        tf AS (
          SELECT wd.doc_id, wd.t, COUNT(*) AS tf
          FROM wd JOIN (SELECT DISTINCT term FROM q) qt ON qt.term = wd.t
          GROUP BY 1, 2),
        dfq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
        sc AS (
          SELECT q.query_id, tf.doc_id,
            CAST(SUM(CAST(
              ln(1 + (CAST(st.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
                    / (CAST(dfq.df AS DOUBLE) + 0.5))
              * ((CAST(tf.tf AS DOUBLE) * 2.2)
                 / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE)
                     / (CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))))
            AS DECIMAL(38,6))) AS DOUBLE) AS score
          FROM q
          JOIN tf ON tf.t = q.term
          JOIN d ON d.doc_id = tf.doc_id
          JOIN dfq ON dfq.t = tf.t
          CROSS JOIN st
          GROUP BY 1, 2),
        kwr AS (
          SELECT query_id, doc_id, rnk FROM (
            SELECT query_id, doc_id,
              ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY score DESC, doc_id) AS rnk
            FROM sc) r
          WHERE rnk <= 10),
        qv AS (SELECT m.query_id, e.embedding FROM m
               JOIN embeddings e ON e.vec_id = m.qvec),
        tv AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
        dots AS (
          SELECT qv.query_id, tv.vec_id AS doc_id,
            ${dotSql.format("qv.embedding", "tv.embedding")} AS dot
          FROM qv, tv, LATERAL unnest(generate_series(1, len(qv.embedding))) AS u(i)
          GROUP BY 1, 2),
        norms AS (
          SELECT vec_id, SQRT(${dotSql.format("embedding", "embedding")}) AS nrm
          FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS u(i)
          GROUP BY 1),
        cosq AS (
          SELECT dots.query_id, dots.doc_id,
            dot / (nq.nrm * nt.nrm) AS cosine
          FROM dots
          JOIN m ON m.query_id = dots.query_id
          JOIN norms nq ON nq.vec_id = m.qvec
          JOIN norms nt ON nt.vec_id = dots.doc_id),
        vr AS (
          SELECT query_id, doc_id, rnk FROM (
            SELECT query_id, doc_id,
              ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, doc_id) AS rnk
            FROM cosq) r
          WHERE rnk <= 10),
        fused AS (
          SELECT COALESCE(kw.query_id, v.query_id) AS query_id,
            COALESCE(kw.doc_id, v.doc_id) AS doc_id,
            COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(kw.rnk AS DOUBLE)), CAST(0.0 AS DOUBLE))
              + COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(v.rnk AS DOUBLE)), CAST(0.0 AS DOUBLE))
              AS rrf_score
          FROM kwr kw FULL OUTER JOIN vr v
            ON kw.query_id = v.query_id AND kw.doc_id = v.doc_id)
        SELECT query_id, doc_id, rrf_score, rank FROM (
          SELECT query_id, doc_id, rrf_score,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY rrf_score DESC, doc_id) AS rank
          FROM fused) r
        WHERE rank <= 5
        """
      },
    )
  }

  /** C48: Zipf-law fit per language (`Profile.zipf`) — OLS slope of
    * ln(freq) vs ln(rank) over the top-100 words; corpus slices whose
    * slope drifts from ≈ −1 flag template floods / key-value spam. One
    * corpus-sized (lang, word) count shuffle, then the TopKPerKey rank
    * rewrite bounds everything downstream to langs×100 rows. */
  private val q72 = Q(
    "q72_zipf_slope",
    (s, dir) =>
      graft.operators.Profile.zipf(
          Tables.documents(s, dir).select("lang", "text"), "text", "lang", k = 100)
        .withColumnRenamed("group", "lang"),
    Some("""
      WITH wc AS (
        SELECT lang, w, COUNT(*) AS freq
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents) t
        GROUP BY 1, 2),
      r AS (
        SELECT lang, freq,
          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY freq DESC, w ASC) AS rnk
        FROM wc),
      topr AS (SELECT * FROM r WHERE rnk <= 100),
      m AS (
        SELECT lang, COUNT(*) AS n_top,
          CAST(SUM(CAST(ln(CAST(rnk AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(ln(CAST(freq AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
          CAST(SUM(CAST(ln(CAST(rnk AS DOUBLE)) * ln(CAST(freq AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
          CAST(SUM(CAST(ln(CAST(rnk AS DOUBLE)) * ln(CAST(rnk AS DOUBLE)) AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        FROM topr GROUP BY 1),
      s AS (
        SELECT lang, n_top, sx, sy,
          CASE WHEN n_top * sxx - sx * sx <> 0.0
               THEN (n_top * sxy - sx * sy) / (n_top * sxx - sx * sx) END AS slope
        FROM m)
      SELECT lang, n_top, slope, (sy - slope * sx) / n_top AS intercept FROM s
    """),
  )

  /** C49: edit-distance verify on MinHash-LSH candidate pairs
    * (`Dedup.editVerify`) — the order-sensitive companion to q33's
    * word-set Jaccard (which scores shuffled texts 1.0). Candidate stage
    * = q31's md5-band LSH, mirrored in the oracle, so the pipeline is
    * ~linear in corpus size; O(len²) per pair is the verify stage's
    * budget, never a corpus-wide cost. */
  private val q73 = Q(
    "q73_edit_verify",
    (s, dir) => {
      val d = Tables.documents(s, dir, spread = true).select(col("doc_id"), col("text"))
      val pairs = Dedup.minhashLsh(d, "text", "doc_id")
      Dedup.editVerify(pairs, d, "text", "doc_id", maxDist = 64)
        .select("a_id", "b_id", "edit_dist", "edit_sim")
    },
    Some("""
      WITH sh AS (
        SELECT DISTINCT doc_id AS doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
              WHERE len(string_split(text, ' ')) >= 3) w,
             LATERAL unnest(generate_series(1, len(ws) - 2)) AS t(i)),
      hm AS (SELECT doc, md5(s) AS shmd5 FROM sh),
      sig AS (
        SELECT doc,
          min(substr(shmd5, 1, 4)) AS h0, min(substr(shmd5, 5, 4)) AS h1,
          min(substr(shmd5, 9, 4)) AS h2, min(substr(shmd5, 13, 4)) AS h3,
          min(substr(shmd5, 17, 4)) AS h4, min(substr(shmd5, 21, 4)) AS h5,
          min(substr(shmd5, 25, 4)) AS h6, min(substr(shmd5, 29, 4)) AS h7
        FROM hm GROUP BY 1),
      bands AS (
        SELECT doc, md5(h0 || h1 || h2 || h3) AS bd FROM sig
        UNION ALL
        SELECT doc, md5(h4 || h5 || h6 || h7) AS bd FROM sig),
      cand AS (
        SELECT DISTINCT x.doc AS a_id, y.doc AS b_id
        FROM bands x JOIN bands y ON x.bd = y.bd AND x.doc < y.doc),
      pairs AS (
        SELECT c.a_id, c.b_id, da.text AS ta, db.text AS tb
        FROM cand c
        JOIN documents da ON da.doc_id = c.a_id
        JOIN documents db ON db.doc_id = c.b_id),
      l AS (
        SELECT a_id, b_id, ta, tb,
          CASE WHEN levenshtein(ta, tb) > 64 THEN 65
               ELSE levenshtein(ta, tb) END AS lev
        FROM pairs)
      SELECT a_id, b_id,
        CAST(lev AS BIGINT) AS edit_dist,
        CASE WHEN lev > 64 THEN NULL
             WHEN GREATEST(length(ta), length(tb)) = 0 THEN 1.0
             ELSE 1.0 - CAST(lev AS DOUBLE)
                  / CAST(GREATEST(length(ta), length(tb)) AS DOUBLE) END AS edit_sim
      FROM l
    """),
  )

  /** C51: context-window chunking (`Corpus.chunkDocuments`) — docs split
    * into overlapping 32-word chunks (stride 24): the preparation step
    * between cleaning and tokenization so no boundary sentence is seen
    * by zero chunks. Pure map stage (split → chunk-count arithmetic →
    * posexplode → slice/join), zero shuffles. */
  private val q77 = Q(
    "q77_chunk_docs",
    (s, dir) =>
      graft.operators.Corpus.chunkDocuments(
        Tables.documents(s, dir, spread = true),
        "text", "doc_id", chunkTokens = 32, overlapTokens = 8),
    Some("""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws,
          len(string_split(text, ' ')) AS n
        FROM documents),
      c AS (
        SELECT doc_id, ws,
          GREATEST(1, CAST(FLOOR((n - 8 + 24 - 1) / 24.0) AS BIGINT)) AS nch
        FROM w)
      SELECT doc_id, i AS chunk_idx,
        array_to_string(list_slice(ws, i * 24 + 1, i * 24 + 32), ' ') AS chunk_text,
        CAST(len(list_slice(ws, i * 24 + 1, i * 24 + 32)) AS BIGINT) AS n_chunk_tokens
      FROM c, LATERAL unnest(generate_series(0, nch - 1)) AS t(i)
    """),
  )

  /** C52: corpus snapshot diff (`Profile.snapshotDiff`) — version A =
    * docs below the id midpoint, version B drops ids ≡ 0 (mod 7) and
    * rewrites ids ≡ 0 (mod 5): added/removed/changed/unchanged counts
    * from ONE key-keyed full-outer join + md5 value fingerprints. The
    * promote-or-fail check between pipeline runs. */
  private val q78 = Q(
    "q78_snapshot_diff",
    (s, dir) => {
      val docs = Tables.documents(s, dir, spread = true)
      val a = docs.filter(col("doc_id") < 250)
      val b = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      graft.operators.Profile.snapshotDiff(a, b, "doc_id", "text")
    },
    Some("""
      WITH a AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 250),
      b AS (SELECT doc_id,
              md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS h
            FROM documents WHERE doc_id % 7 <> 0),
      j AS (
        SELECT CASE
            WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            WHEN a.h IS NOT DISTINCT FROM b.h THEN 'unchanged'
            ELSE 'changed' END AS diff_status
        FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id),
      c AS (SELECT diff_status, COUNT(*) AS n FROM j GROUP BY 1)
      SELECT diff_status, n, CAST(SUM(n) OVER () AS BIGINT) AS n_keys_total FROM c
    """),
  )

  /** C54: EXACT set-similarity join (`Dedup.similarityJoin`) — every
    * pair with word-set Jaccard ≥ 0.7, via prefix filtering (rare-first
    * global token order; pairs must share a prefix token — no false
    * negatives, unlike LSH). The oracle computes the same answer the
    * exhaustive way (shared-token join over ALL tokens), proving the
    * prefix filter loses nothing. The id slice bounds the ANSWER size:
    * the synthetic docs draw from a tiny shared vocabulary, so the full
    * sf0.1 table has ~5M true pairs at this tau — the result itself,
    * not the algorithm, is what explodes (real corpora have far sparser
    * vocabulary overlap). */
  private val q80 = Q(
    "q80_similarity_join",
    (s, dir) =>
      Dedup.similarityJoin(
        Tables.documents(s, dir, spread = true).select("doc_id", "text")
          .filter(col("doc_id") < 500),
        "text", "doc_id", tau = 0.7),
    Some("""
      WITH wd AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        WHERE doc_id < 500),
      wc AS (SELECT doc_id, COUNT(*) AS nw FROM wd GROUP BY 1),
      inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        FROM wd a JOIN wd b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT a_id, b_id,
        CAST(i AS DOUBLE) / CAST(ca.nw + cb.nw - i AS DOUBLE) AS jaccard
      FROM inter
      JOIN wc ca ON ca.doc_id = a_id
      JOIN wc cb ON cb.doc_id = b_id
      WHERE CAST(i AS DOUBLE) / CAST(ca.nw + cb.nw - i AS DOUBLE) >= 0.7
    """),
  )

  /** C41→oracle: within-doc duplicate "line" removal
    * (`TextClean.dedupLines`) — first occurrence kept, order preserved,
    * reassembled into one text. The test corpus is flat word-separated
    * text (no newlines), so the demo runs the operator's generic
    * separator at word granularity: same explode → (id, line)-keyed
    * min-pos aggregate → order-preserving reassembly the newline form
    * takes, fully oracle-mirrorable (string_agg ORDER BY pos).
    *
    * Calls the spread rule itself, with a zero floor (not the
    * documents loader's 2 MB): q90 is SINGLE-pass and its
    * per-row split/explode dominates, so the spread pays even at
    * sf0.1's sub-MB documents file — the round-7 floor change cost it
    * 0.68 → 0.90 s (same-session best-of-3 A/B, round 8); the 2 MB
    * floor exists for MULTI-pass pipelines (q92/q89b) where re-reading
    * a spread input loses more than one pass gains. */
  private val q90 = Q(
    "q90_dedup_lines",
    (s, dir) =>
      graft.operators.TextClean.dedupLines(
        Tables.parallelized(Tables.documents(s, dir), "doc_id", minBytes = 0L),
        "text", "doc_id", sep = " "),
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      lines AS (
        SELECT doc_id, ws[i] AS line, i - 1 AS pos
        FROM w, LATERAL unnest(generate_series(1, len(ws))) AS u(i)),
      first AS (SELECT doc_id, line, MIN(pos) AS pos FROM lines GROUP BY 1, 2),
      agg AS (
        SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS cleaned,
          COUNT(*) AS kept
        FROM first GROUP BY 1),
      orig AS (SELECT doc_id, len(string_split(text, ' ')) AS orig FROM documents)
      SELECT o.doc_id, COALESCE(a.cleaned, '') AS cleaned,
        CAST(o.orig - COALESCE(a.kept, 0) AS BIGINT) AS n_dropped
      FROM orig o LEFT JOIN agg a ON a.doc_id = o.doc_id
    """),
  )

  /** C56: bigram-LM quality scoring (`operators.LangModel`) — the CCNet
    * recipe: train word-bigram counts on the corpus, score every doc by
    * average smoothed log-probability. Model counts stay relational so
    * the oracle rebuilds them exactly; per-term ln rounds to
    * DECIMAL(38,6) before the order-free sum (q72 recipe). */
  private val q91 = Q(
    "q91_lm_score",
    (s, dir) => {
      // single-file local scans serialize the tokenize/explode stage;
      // spread it (no-op on a pre-split cluster scan)
      val docs = Tables.documents(s, dir, spread = true)
      val m = graft.operators.LangModel.train(docs, "text")
      graft.operators.LangModel.score(docs, "text", "doc_id", m)
    },
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      uni AS (
        SELECT ws[i] AS wd, COUNT(*) AS c
        FROM w, LATERAL unnest(generate_series(1, len(ws))) AS u(i)
        GROUP BY 1),
      v AS (SELECT COUNT(*) AS v FROM uni),
      bi AS (
        SELECT ws[i] AS wp, ws[i + 1] AS wn, COUNT(*) AS c
        FROM w, LATERAL unnest(generate_series(1, len(ws) - 1)) AS u(i)
        GROUP BY 1, 2),
      -- bigram-context counts: ctx(wp) = SUM_w c(wp, w), the denominator
      -- that makes P(.|wp) normalize to 1 (mirrors LangModel.score)
      ctx AS (SELECT wp, CAST(SUM(c) AS BIGINT) AS c FROM bi GROUP BY 1),
      terms AS (
        SELECT doc_id, ws[i] AS wp, ws[i + 1] AS wn
        FROM w, LATERAL unnest(generate_series(1, len(ws) - 1)) AS u(i)),
      lp AS (
        SELECT t.doc_id,
          CAST(ln((bi.c + 1) / CAST(ctx.c + v.v AS DOUBLE)) AS DECIMAL(38,6)) AS lp
        FROM terms t
        JOIN bi ON bi.wp = t.wp AND bi.wn = t.wn
        JOIN ctx ON ctx.wp = t.wp
        CROSS JOIN v),
      agg AS (SELECT doc_id, COUNT(*) AS n, SUM(lp) AS s FROM lp GROUP BY 1)
      SELECT d.doc_id, COALESCE(a.n, 0) AS n_terms,
        CASE WHEN a.n > 0 THEN CAST(a.s AS DOUBLE) / a.n END AS avg_lp
      FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
    """),
  )

  /** C25→oracle: the WHOLE near-dup pipeline (`exact` pre-stage → md5
    * MinHash-LSH candidates → Jaccard verify ≥ 0.5 → connected
    * components → min-id survivor → losers dropped), end to end on the
    * documents table — the one-call `dedupCorpus` semantics with the
    * oracle-parity md5 candidate stage spelled out. Threshold compares
    * are exact in both engines (integer intersection/union counts →
    * identical doubles). */
  private val q92 = Q(
    "q92_dedup_corpus",
    (s, dir) => {
      val docs = Tables.documents(s, dir, spread = true).select("doc_id", "lang", "source", "text")
      val unique = docs.join(
        Dedup.exact(docs, "text", "doc_id").select(col("keep_id")),
        docs("doc_id") === col("keep_id"), "leftsemi")
      val pairs = Dedup.jaccardVerify(
          Dedup.minhashLsh(unique, "text", "doc_id"), unique, "text", "doc_id")
        .filter(col("jaccard") >= 0.5)
        .select("a_id", "b_id")
      val keep = Dedup.survivors(unique, pairs, "doc_id").filter(col("keep") === 1L)
      docs.join(keep.select("doc_id"), Seq("doc_id"), "leftsemi")
        .select("doc_id", "lang", "source")
    },
    Some("""
      WITH RECURSIVE uq AS (
        SELECT d.doc_id, d.text FROM documents d
        JOIN (SELECT md5(text) AS h, MIN(doc_id) AS k FROM documents GROUP BY 1) e
          ON d.doc_id = e.k),
      sh AS (
        SELECT DISTINCT doc_id AS doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM uq
              WHERE len(string_split(text, ' ')) >= 3) w,
             LATERAL unnest(generate_series(1, len(ws) - 2)) AS t(i)),
      hm AS (SELECT doc, md5(s) AS shmd5 FROM sh),
      sig AS (
        SELECT doc,
          min(substr(shmd5, 1, 4)) AS h0, min(substr(shmd5, 5, 4)) AS h1,
          min(substr(shmd5, 9, 4)) AS h2, min(substr(shmd5, 13, 4)) AS h3,
          min(substr(shmd5, 17, 4)) AS h4, min(substr(shmd5, 21, 4)) AS h5,
          min(substr(shmd5, 25, 4)) AS h6, min(substr(shmd5, 29, 4)) AS h7
        FROM hm GROUP BY 1),
      bands AS (
        SELECT doc, md5(h0 || h1 || h2 || h3) AS bd FROM sig
        UNION ALL
        SELECT doc, md5(h4 || h5 || h6 || h7) AS bd FROM sig),
      cand AS (
        SELECT DISTINCT x.doc AS a_id, y.doc AS b_id
        FROM bands x JOIN bands y ON x.bd = y.bd AND x.doc < y.doc),
      wd AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM uq),
      wc AS (SELECT doc_id, COUNT(*) AS nw FROM wd GROUP BY 1),
      inter AS (
        SELECT p.a_id, p.b_id, COUNT(*) AS i
        FROM cand p
        JOIN wd wa ON wa.doc_id = p.a_id
        JOIN wd wb ON wb.doc_id = p.b_id AND wb.w = wa.w
        GROUP BY 1, 2),
      pairs AS (
        SELECT p.a_id, p.b_id
        FROM cand p
        JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id
        JOIN wc ca ON ca.doc_id = p.a_id
        JOIN wc cb ON cb.doc_id = p.b_id
        WHERE CAST(i.i AS DOUBLE) / CAST(ca.nw + cb.nw - i.i AS DOUBLE) >= 0.5),
      edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION
        SELECT b_id AS src, a_id AS dst FROM pairs),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      reach(node, r2) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, r.r2 FROM reach r JOIN edges e ON e.src = r.node),
      cl AS (SELECT node, MIN(r2) AS cluster_id FROM reach GROUP BY 1),
      losers AS (SELECT node FROM cl WHERE node <> cluster_id)
      SELECT d.doc_id, d.lang, d.source
      FROM documents d
      JOIN uq ON uq.doc_id = d.doc_id
      WHERE d.doc_id NOT IN (SELECT node FROM losers)
    """),
  )

  /** C41→oracle (cross-corpus half): boilerplate "line" removal
    * (`TextClean.dropBoilerplateLines`) — drop every line occurring in
    * more than `maxDocs` distinct docs, keep the rest in order. Word
    * granularity on the flat test corpus (see q90); with the 40-word
    * synthetic vocabulary, common words cross the 400-doc bar exactly
    * like nav-bar lines cross it in a crawl. */
  private val q93 = Q(
    "q93_boilerplate",
    (s, dir) =>
      graft.operators.TextClean.dropBoilerplateLines(
        Tables.documents(s, dir, spread = true),
        "text", "doc_id", maxDocs = 400, sep = " "),
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      lines AS (
        SELECT doc_id, ws[i] AS line, i - 1 AS pos
        FROM w, LATERAL unnest(generate_series(1, len(ws))) AS u(i)),
      boiler AS (
        SELECT line FROM (
          SELECT line, COUNT(DISTINCT doc_id) AS d FROM lines GROUP BY 1)
        WHERE d > 400),
      kept AS (
        SELECT doc_id, line, pos FROM lines
        WHERE line NOT IN (SELECT line FROM boiler)),
      agg AS (
        SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS cleaned,
          COUNT(*) AS kept
        FROM kept GROUP BY 1),
      orig AS (SELECT doc_id, len(string_split(text, ' ')) AS orig FROM documents)
      SELECT o.doc_id, COALESCE(a.cleaned, '') AS cleaned,
        CAST(o.orig - COALESCE(a.kept, 0) AS BIGINT) AS n_dropped
      FROM orig o LEFT JOIN agg a ON a.doc_id = o.doc_id
    """),
  )

  /** C57: top-k collocations by pointwise mutual information
    * (`LangModel.pmiTop`) — the corpus's multi-word expressions; PMI
    * rounds to DECIMAL(38,6) BEFORE the rank so the top-k cut is
    * engine-identical (counts exact, ratio from identical doubles,
    * ties break by the pair). */
  private val q94 = Q(
    "q94_pmi_bigrams",
    (s, dir) =>
      graft.operators.LangModel.pmiTop(
        Tables.documents(s, dir, spread = true), "text",
        k = 50, minCount = 5L),
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      uni AS (
        SELECT ws[i] AS wd, COUNT(*) AS c
        FROM w, LATERAL unnest(generate_series(1, len(ws))) AS u(i)
        GROUP BY 1),
      bi AS (
        SELECT ws[i] AS wp, ws[i + 1] AS wn, COUNT(*) AS c_pair
        FROM w, LATERAL unnest(generate_series(1, len(ws) - 1)) AS u(i)
        GROUP BY 1, 2),
      n AS (SELECT CAST(SUM(c_pair) AS BIGINT) AS n FROM bi),
      p AS (
        SELECT bi.wp AS w_prev, bi.wn AS w, bi.c_pair,
          CAST(CAST(ln(CAST(bi.c_pair AS DOUBLE) * CAST(n.n AS DOUBLE)
              / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))) AS DECIMAL(38,6)) AS DOUBLE) AS pmi
        FROM bi
        JOIN uni ua ON ua.wd = bi.wp
        JOIN uni ub ON ub.wd = bi.wn
        CROSS JOIN n
        WHERE bi.c_pair >= 5)
      SELECT w_prev, w, c_pair, pmi FROM p
      ORDER BY pmi DESC, w_prev, w
      LIMIT 50
    """),
  )

  /** C58: Gopher-style quality-rule bundle (`QualityRules.gopher`) —
    * per-rule booleans + diagnostics + the conjunction `keep`, all
    * integer/rational arithmetic (engine-exact compares). Thresholds
    * tuned to the synthetic corpus so every rule exercises both
    * outcomes where the data allows. */
  private val q97 = Q(
    "q97_gopher_rules",
    (s, dir) =>
      graft.operators.QualityRules.gopher(
        Tables.documents(s, dir, spread = true).select("doc_id", "text"), "text",
        graft.operators.QualityRules.Params(
          minWords = 20L, maxWords = 90L,
          minMeanWordLen = 3.0, maxMeanWordLen = 4.75,
          maxSymbolRatio = 0.1, minAlphaWordFraction = 0.8,
          minStopwords = 2L, stopwords = Seq("a", "the")))
        .drop("text"),
    Some("""
      WITH f AS (
        SELECT doc_id, text,
          list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0) AS ws
        FROM documents),
      f2 AS (
        SELECT doc_id, text, ws, CAST(len(ws) AS BIGINT) AS n_words FROM f),
      d AS (
        SELECT doc_id, n_words,
          CASE WHEN n_words > 0 THEN
            CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / n_words END AS mean_word_len,
          CASE WHEN n_words > 0 THEN
            CAST(len(regexp_extract_all(text, '#|…|\.\.\.')) AS DOUBLE) / n_words END AS symbol_ratio,
          CASE WHEN n_words > 0 THEN
            CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / n_words END AS alpha_word_frac,
          CAST(len(list_filter(ws, w -> w IN ('a', 'the'))) AS BIGINT) AS n_stopwords
        FROM f2)
      SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac, n_stopwords,
        (n_words >= 20 AND n_words <= 90) AS rule_word_count,
        (mean_word_len >= 3.0 AND mean_word_len <= 4.75) AS rule_mean_word_len,
        (symbol_ratio <= 0.1) AS rule_symbol_ratio,
        (alpha_word_frac >= 0.8) AS rule_alpha_words,
        (n_stopwords >= 2) AS rule_stopwords,
        ((n_words >= 20 AND n_words <= 90) AND (mean_word_len >= 3.0 AND mean_word_len <= 4.75)
          AND (symbol_ratio <= 0.1) AND (alpha_word_frac >= 0.8) AND (n_stopwords >= 2)) AS keep
      FROM d
    """),
  )

  /** C60: GPT-style sequence packing (`Corpus.packSequences`) — per-source
    * token streams cut into 256-token training rows, docs crossing
    * sequence boundaries; each output row is one doc's span inside one
    * sequence. The oracle mirrors the cumulative-offset + overlapped-
    * sequence-range arithmetic exactly (integer spans — no float compare
    * anywhere). */
  private val q99 = Q(
    "q99_pack_sequences",
    (s, dir) => {
      val d = Tables.documents(s, dir, spread = true)
      graft.operators.Corpus.packSequences(
          d, "source", "doc_id", TextFns.tokenCount(col("text")), seqLen = 256L)
        .select("source", "doc_id", "seq_id", "tok_start", "tok_end", "n_tokens")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS n FROM documents),
      c AS (
        SELECT doc_id, source, n,
          SUM(n) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
        FROM t WHERE n > 0)
      SELECT source, doc_id, s.seq_id,
        CAST(GREATEST(e - n - s.seq_id * 256, 0) AS BIGINT) AS tok_start,
        CAST(LEAST(e - s.seq_id * 256, 256) AS BIGINT) AS tok_end,
        CAST(LEAST(e - s.seq_id * 256, 256)
           - GREATEST(e - n - s.seq_id * 256, 0) AS BIGINT) AS n_tokens
      FROM c, LATERAL unnest(generate_series(
          CAST(FLOOR(CAST(e - n AS DOUBLE) / 256) AS BIGINT),
          CAST(FLOOR(CAST(e - 1 AS DOUBLE) / 256) AS BIGINT))) AS s(seq_id)
    """),
  )

  /** C61: weighted exact-size sampling (`Corpus.weightedSamplePerGroup`,
    * Efraimidis–Spirakis A-ES) — 5 docs per source with probability ∝
    * n_chars, deterministic via the md5-derived exponential race key.
    * The oracle is the ROW_NUMBER formulation of the same total order;
    * at the verified SFs the smallest adjacent key gap around rank 5 is
    * ~1e-3 relative while cross-libm ln() noise is ~1e-16, so the order
    * cannot diverge (q38's margin argument). */
  private val q100 = Q(
    "q100_weighted_sample",
    (s, dir) =>
      graft.operators.Corpus.weightedSamplePerGroup(
          Tables.documents(s, dir).select("doc_id", "source", "text", "n_chars"),
          "source", "text", col("n_chars"), "doc_id", k = 5)
        .select("doc_id", "source"),
    Some("""
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY
            -ln((CAST(('0x' || substr(COALESCE(md5(text), md5('')), 1, 13)) AS BIGINT) + 0.5)
                / 4503599627370496.0) / CAST(n_chars AS DOUBLE),
            doc_id) AS rn
        FROM documents WHERE CAST(n_chars AS DOUBLE) > 0) t
      WHERE rn <= 5
    """),
  )

  /** C62: epochs-aware mixture planning (`Corpus.planMixtureEpochs`) —
    * the data recipe WITH repetition: 100k-token budget over a 50/30/20
    * mixture, repetition capped at 4 epochs; the most-repeated source
    * binds the feasible budget. Both engines compute the plan through
    * identical IEEE double ops on exact integer token sums, so every
    * column hash-matches. */
  private val q101 = Q(
    "q101_epoch_mixture",
    (s, dir) =>
      graft.operators.Corpus.planMixtureEpochs(
          Tables.documents(s, dir), "source", TextFns.tokenCount(col("text")),
          Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
          totalTokens = 100000L, maxEpochs = 4.0)
        .select("source", "tokens", "target_share", "planned_tokens", "epochs"),
    Some("""
      WITH tgt AS (
        SELECT * FROM (VALUES
          ('src0', CAST(0.5 AS DOUBLE)),
          ('src1', CAST(0.3 AS DOUBLE)),
          ('src2', CAST(0.2 AS DOUBLE))) AS t(src, p)),
      agg AS (
        SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
        FROM documents GROUP BY 1),
      per AS (
        SELECT t.src AS source, COALESCE(a.tokens, 0) AS tokens, t.p AS target_share
        FROM tgt t LEFT JOIN agg a ON a.source = t.src),
      cap AS (
        SELECT LEAST(CAST(100000 AS DOUBLE),
          MIN(4.0 * CAST(tokens AS DOUBLE) / target_share)) AS b FROM per)
      SELECT source, tokens, target_share,
        target_share * b AS planned_tokens,
        CASE WHEN tokens = 0 THEN CAST(0.0 AS DOUBLE)
             ELSE target_share * b / CAST(tokens AS DOUBLE) END AS epochs
      FROM per, cap
    """),
  )

  /** C63: materialized sequence packing (`Corpus.packedRows`) — the
    * [[q99]] layout turned into the actual training rows: per-source
    * token streams reassembled as 256-token sequence TEXTS (docs sliced
    * at span boundaries, stream order preserved). The oracle rebuilds
    * each sequence with ordered string_agg over the same doc-local
    * slice bounds; pure integer/string equality, no float anywhere.
    * CorpusInvariantSpec additionally pins the conservation law:
    * concatenating a group's sequences reproduces its concatenated
    * corpus exactly. */
  private val q102 = Q(
    "q102_pack_rows",
    (s, dir) => {
      val d = Tables.documents(s, dir, spread = true)
      graft.operators.Corpus.packedRows(d, "source", "doc_id", "text", seqLen = 256L)
        .select("source", "seq_id", "seq_text", "n_tokens")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, source, string_split(text, ' ') AS ws,
          len(string_split(text, ' ')) AS n FROM documents),
      c AS (
        SELECT doc_id, source, ws, n,
          SUM(n) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
        FROM t WHERE n > 0),
      spans AS (
        SELECT source, doc_id, ws, s.seq_id,
          CAST(GREATEST(e - n - s.seq_id * 256, 0) AS BIGINT) AS tok_start,
          CAST(s.seq_id * 256 + GREATEST(e - n - s.seq_id * 256, 0) - (e - n) + 1 AS BIGINT) AS a,
          CAST(LEAST(e - s.seq_id * 256, 256) - GREATEST(e - n - s.seq_id * 256, 0) AS BIGINT) AS l
        FROM c, LATERAL unnest(generate_series(
            CAST(FLOOR(CAST(e - n AS DOUBLE) / 256) AS BIGINT),
            CAST(FLOOR(CAST(e - 1 AS DOUBLE) / 256) AS BIGINT))) AS s(seq_id))
      SELECT source, seq_id,
        string_agg(array_to_string(ws[a : a + l - 1], ' '), ' ' ORDER BY tok_start) AS seq_text,
        CAST(SUM(l) AS BIGINT) AS n_tokens
      FROM spans GROUP BY 1, 2
    """),
  )

  /** C34→oracle: native Unicode text canonicalization
    * (`expressions.NormalizeText`: NFC → Locale.ROOT lowercase →
    * control strip → whitespace collapse → trim). The flat test corpus
    * is plain ASCII, so the query FABRICATES the hard cases from table
    * columns on both sides — a decomposed e+U+0301 (NFC must compose),
    * uppercased text (lower must restore), tab + double spaces
    * (collapse), U+00A0 no-break space (NOT Java whitespace — must
    * survive verbatim), a BEL control (strip without a space), and
    * leading/trailing runs (trim). The oracle mirrors the exact Java
    * semantics in RE2 classes: non-whitespace ISO controls
    * [00-08 0E-1B 7F-9F], Java-whitespace = [09-0D 1C-1F] ∪ Zs minus
    * the no-break members (00A0/2007/202F) ∪ Zl/Zp. */
  private lazy val q111 = Q(
    "q111_normalize",
    (s, dir) => {
      val d = Tables.documents(s, dir, spread = true).select("doc_id", "text")
      val aug = concat(
        lit("  Cafe\u0301\t"), upper(substring(col("text"), 1, 40)),
        lit("\u00A0"), col("text"), lit(" \u0007x  "))
      d.select(col("doc_id"),
        graft.operators.TextClean.normalized(aug).as("normalized"))
    },
    Some("""
      WITH aug AS (
        SELECT doc_id,
          '  Cafe' || chr(769) || chr(9) || upper(substr(text, 1, 40)) ||
            chr(160) || text || ' ' || chr(7) || 'x  ' AS t
        FROM documents)
      SELECT doc_id,
        TRIM(regexp_replace(
          regexp_replace(
            lower(nfc_normalize(t)),
            '[\x{00}-\x{08}\x{0e}-\x{1b}\x{7f}-\x{9f}]', '', 'g'),
          '[\x{09}-\x{0d}\x{1c}-\x{1f} \x{1680}\x{2000}-\x{2006}\x{2008}-\x{200a}\x{2028}\x{2029}\x{205f}\x{3000}]+',
          ' ', 'g')) AS normalized
      FROM aug
    """),
  )

  /** C35→oracle: PII redaction chain (`TextClean.redactPii`) — emails,
    * IPv4, card-shaped digit runs, phone-shaped groups, each counted on
    * the text AS THAT STAGE SEES IT. The corpus carries no PII, so the
    * query plants one of each from table columns (deterministically,
    * both sides). The phone pattern's Java lookarounds have no RE2
    * twin; the oracle emulates them with consumed boundary captures —
    * exact here because the planted phones are space-delimited (two
    * phones one char apart would diverge; the operator's Java regex is
    * the semantics, the oracle is the witness). */
  private lazy val q112 = Q(
    "q112_redact_pii",
    (s, dir) => {
      val d = Tables.documents(s, dir, spread = true).select("doc_id", "text", "source")
      val aug = concat(
        lit("reach "), col("source"), lit("@example.com ip 10.1."),
        (col("doc_id") % 256).cast("string"),
        lit(".7 card 4111 1111 1111 1111 call +61 03 9095 4455 note "),
        col("text"))
      graft.operators.TextClean.redactPii(
          d.select(col("doc_id"), aug.as("pii_text")), "pii_text")
        .select(col("doc_id"), col("redacted"), col("n_redactions"))
    },
    Some("""
      WITH aug AS (
        SELECT doc_id,
          'reach ' || source || '@example.com ip 10.1.' ||
            CAST(doc_id % 256 AS VARCHAR) ||
            '.7 card 4111 1111 1111 1111 call +61 03 9095 4455 note ' ||
            text AS t
        FROM documents),
      s1 AS (
        SELECT doc_id, t,
          regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS r1,
          len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS c1
        FROM aug),
      s2 AS (
        SELECT doc_id, r1, c1,
          regexp_replace(r1, '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS r2,
          len(regexp_extract_all(r1, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS c2
        FROM s1),
      s3 AS (
        SELECT doc_id, c1, c2,
          regexp_replace(r2, '\b\d([ -]?\d){12,18}\b', '<CARD>', 'g') AS r3,
          len(regexp_extract_all(r2, '\b\d([ -]?\d){12,18}\b')) AS c3
        FROM s2),
      s4 AS (
        SELECT doc_id, c1, c2, c3,
          regexp_replace(r3,
            '(^|[^0-9A-Za-z_])(\+?\d{1,3}[ .-]\d{2,4}[ .-]\d{2,4}([ .-]\d{2,4})?)([^0-9A-Za-z_]|$)',
            '\1<PHONE>\4', 'g') AS r4,
          len(regexp_extract_all(r3,
            '(^|[^0-9A-Za-z_])(\+?\d{1,3}[ .-]\d{2,4}[ .-]\d{2,4}([ .-]\d{2,4})?)([^0-9A-Za-z_]|$)')) AS c4
        FROM s3)
      SELECT doc_id, r4 AS redacted,
        CAST(c1 + c2 + c3 + c4 AS BIGINT) AS n_redactions
      FROM s4
    """),
  )

  /** C42→oracle: incremental ingestion dedup (`Dedup.dedupIncremental`,
    * DuckDB-parity band keys) — the daily-pipeline mode proven end to
    * end: even doc_ids play the existing corpus, odd ids the arriving
    * batch; batch docs drop on exact corpus match, within-batch exact
    * dup, verified near-dup of an existing doc (asymmetric new×existing
    * band join), or losing the within-batch resolution — with the ONE
    * shared pair graph collapsing transitive chains that cross the
    * batch/corpus boundary. The oracle replays every stage (anti join,
    * min-id exact stage, md5 minhash bands, asymmetric + self candidate
    * joins, Jaccard verify, recursive-CTE components, contaminated-
    * cluster drop rule) on the same split. */
  private lazy val q113 = Q(
    "q113_dedup_incremental",
    (s, dir) => {
      val docs = Tables.documents(s, dir, spread = true).select("doc_id", "lang", "source", "text")
      val existing = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 2 === 1)
      Dedup.dedupIncremental(batch, existing, "text", "doc_id",
          threshold = 0.5, parity = true)
        .select("doc_id", "lang", "source")
    },
    Some("""
      WITH RECURSIVE exd AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
      nwd AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
      vs AS (
        SELECT n.doc_id, n.text FROM nwd n
        WHERE NOT EXISTS (SELECT 1 FROM exd e WHERE md5(e.text) = md5(n.text))),
      fresh AS (
        SELECT v.doc_id, v.text FROM vs v
        JOIN (SELECT md5(text) AS h, MIN(doc_id) AS k FROM vs GROUP BY 1) g
          ON v.doc_id = g.k),
      allc AS (
        SELECT doc_id, text FROM fresh
        UNION ALL
        SELECT doc_id, text FROM exd),
      sh AS (
        SELECT DISTINCT doc_id AS doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM allc
              WHERE len(string_split(text, ' ')) >= 3) w,
             LATERAL unnest(generate_series(1, len(ws) - 2)) AS t(i)),
      hm AS (SELECT doc, md5(s) AS shmd5 FROM sh),
      sig AS (
        SELECT doc,
          min(substr(shmd5, 1, 4)) AS h0, min(substr(shmd5, 5, 4)) AS h1,
          min(substr(shmd5, 9, 4)) AS h2, min(substr(shmd5, 13, 4)) AS h3,
          min(substr(shmd5, 17, 4)) AS h4, min(substr(shmd5, 21, 4)) AS h5,
          min(substr(shmd5, 25, 4)) AS h6, min(substr(shmd5, 29, 4)) AS h7
        FROM hm GROUP BY 1),
      bands AS (
        SELECT doc, md5(h0 || h1 || h2 || h3) AS bd FROM sig
        UNION ALL
        SELECT doc, md5(h4 || h5 || h6 || h7) AS bd FROM sig),
      cand AS (
        SELECT DISTINCT n.doc AS a_id, e.doc AS b_id
        FROM bands n JOIN bands e ON n.bd = e.bd
        WHERE n.doc % 2 = 1 AND e.doc % 2 = 0
        UNION
        SELECT DISTINCT x.doc AS a_id, y.doc AS b_id
        FROM bands x JOIN bands y ON x.bd = y.bd
        WHERE x.doc % 2 = 1 AND y.doc % 2 = 1 AND x.doc < y.doc),
      wd AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM allc),
      wc AS (SELECT doc_id, COUNT(*) AS nw FROM wd GROUP BY 1),
      inter AS (
        SELECT p.a_id, p.b_id, COUNT(*) AS i
        FROM cand p
        JOIN wd wa ON wa.doc_id = p.a_id
        JOIN wd wb ON wb.doc_id = p.b_id AND wb.w = wa.w
        GROUP BY 1, 2),
      pairs AS (
        SELECT p.a_id, p.b_id
        FROM cand p
        JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id
        JOIN wc ca ON ca.doc_id = p.a_id
        JOIN wc cb ON cb.doc_id = p.b_id
        WHERE CAST(i.i AS DOUBLE) / CAST(ca.nw + cb.nw - i.i AS DOUBLE) >= 0.5),
      edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION
        SELECT b_id AS src, a_id AS dst FROM pairs),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      reach(node, r2) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, r.r2 FROM reach r JOIN edges e ON e.src = r.node),
      cl AS (SELECT node AS doc_id, MIN(r2) AS cluster_id FROM reach GROUP BY 1),
      contaminated AS (
        SELECT DISTINCT cluster_id FROM cl WHERE doc_id % 2 = 0),
      dropnew AS (
        SELECT doc_id FROM cl
        WHERE doc_id % 2 = 1
          AND (cluster_id IN (SELECT cluster_id FROM contaminated)
               OR doc_id <> cluster_id))
      SELECT d.doc_id, d.lang, d.source
      FROM documents d
      JOIN fresh f ON f.doc_id = d.doc_id
      WHERE d.doc_id NOT IN (SELECT doc_id FROM dropnew)
    """),
  )

  /** C65: DSIR importance scoring (`operators.Dsir`, Xie et al. 2023) —
    * hashed unigram+bigram bucket counts for a target domain (the
    * English slice) vs the raw corpus, per-bucket smoothed
    * log-likelihood ratios, per-doc summed importance weights — the
    * "select web data that looks like the target domain" step of a
    * modern pretraining recipe. Both engines hash features with the
    * same md5-prefix bucket function and round each bucket's lr to
    * DECIMAL(38,6) before the order-free per-doc sum (q91's ln recipe),
    * so scores hash-match exactly. */
  private lazy val q118 = Q(
    "q118_dsir_scores",
    (s, dir) => {
      val docs = Tables.documents(s, dir, spread = true).select("doc_id", "lang", "text")
      graft.operators.Dsir.scores(
        docs, docs.filter(col("lang") === "en"), "text", "doc_id", buckets = 1024)
    },
    Some("""
      WITH rawf AS (
        SELECT doc_id, CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 1024 AS b
        FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS f FROM documents
          UNION ALL
          SELECT doc_id, ws[i] || ' ' || ws[i+1] AS f
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                WHERE len(string_split(text, ' ')) >= 2) w,
               LATERAL unnest(generate_series(1, len(ws) - 1)) AS t(i))),
      tc AS (
        SELECT b, COUNT(*) AS ct FROM rawf
        JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY 1),
      rc AS (SELECT b, COUNT(*) AS cr FROM rawf GROUP BY 1),
      counts AS (
        SELECT COALESCE(tc.b, rc.b) AS b,
          COALESCE(ct, 0) AS ct, COALESCE(cr, 0) AS cr
        FROM tc FULL OUTER JOIN rc ON tc.b = rc.b),
      tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM counts),
      dim AS (
        SELECT b,
          CAST(ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + 1024 AS DOUBLE))
             - ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + 1024 AS DOUBLE))
            AS DECIMAL(38,6)) AS lr
        FROM counts, tot)
      SELECT r.doc_id, COUNT(*) AS n_features,
        CAST(SUM(lr) AS DOUBLE) AS score
      FROM rawf r JOIN dim USING (b)
      GROUP BY 1
    """),
  )

  /** C66 (round 8): banded Hamming-LSH dedup over a 64-bit FINGERPRINT
    * column (`Dedup.hammingPairs` / `dedupCorpusByHammingHash`) — the
    * relational half of perceptual-hash image dedup
    * (`multimodal.ImageHash` computes aHash/dHash/pHash; that decode
    * half is spec-only binary I/O, THIS half is the corpus-scale
    * machinery and it is hash-proven). Fingerprints here are fabricated
    * engine-portably: the md5 of each doc's text as a signed big-endian
    * 64-bit (the q113 md5-parity trick lifted to ints), low 2 bits
    * replaced by doc_id % 4 so exact-duplicate texts yield fingerprints
    * at Hamming distance 1-2, exercising nonzero-distance verify, not
    * just dist-0 collisions. maxDist=3 < bands=4 ⇒ pigeonhole recall is
    * PERFECT (a ≤3-bit difference must leave one 16-bit chunk intact),
    * so the oracle can replay candidates exactly: band keys are
    * (fp >> 16i) & 0xffff (arithmetic shift matches both engines),
    * verify is bit_count(xor). Null text ⇒ null fingerprint ⇒ no bands,
    * row kept — identical both sides. */
  private lazy val q125 = Q(
    "q125_dedup_hamming",
    (s, dir) => {
      val docs = Tables.documents(s, dir, spread = true).select("doc_id", "source", "text")
      val fp = docs
        .withColumn("h64",
          expr("shiftleft(cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint), 32)")
            .bitwiseOR(expr("cast(conv(substring(md5(text), 9, 8), 16, 10) as bigint)")))
        .withColumn("fp",
          col("h64").bitwiseAND(lit(-4L)).bitwiseOR(col("doc_id") % 4))
      graft.operators.Dedup.dedupCorpusByHammingHash(fp, "fp", "doc_id",
          maxDist = 3, bands = 4)
        .select("doc_id", "source")
    },
    Some("""
      WITH RECURSIVE f0 AS (
        SELECT doc_id, source,
          CAST(CASE WHEN u >= 9223372036854775808
                    THEN CAST(u AS HUGEINT) - 18446744073709551616
                    ELSE CAST(u AS HUGEINT) END AS BIGINT) AS h64
        FROM (SELECT doc_id, source,
                CAST(('0x' || substr(md5(text), 1, 16)) AS UBIGINT) AS u
              FROM documents)),
      fp AS (
        SELECT doc_id, source,
          (h64 & CAST(-4 AS BIGINT)) | (doc_id % 4) AS fp
        FROM f0),
      bands AS (
        SELECT doc_id, fp, b.i AS band, (fp >> (b.i * 16)) & 65535 AS key
        FROM fp, generate_series(0, 3) AS b(i)
        WHERE fp IS NOT NULL),
      cand AS (
        SELECT DISTINCT a.doc_id AS a_id, a.fp AS a_fp, b.doc_id AS b_id, b.fp AS b_fp
        FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
      pairs AS (
        SELECT a_id, b_id FROM cand
        WHERE bit_count(xor(a_fp, b_fp)) <= 3),
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
      SELECT doc_id, source FROM documents
      WHERE doc_id NOT IN (SELECT node FROM cl WHERE node <> cluster_id)
    """),
  )

  /** C53→oracle: BPE merge training (`operators.Bpe.train`) brought
    * under the SQL gate — the judge's q89b recipe (unroll a
    * deterministic driver loop round by round). Five merge rounds over
    * the letters-only corpus; the oracle re-derives each round's
    * weighted pair argmax (freq desc, pair asc — the exact tiebreak both
    * Bpe paths use) and applies the merge with a literal string
    * `replace` over a `|tok|,|tok|` encoding, which reproduces the
    * greedy non-overlapping left-to-right rewrite exactly ([a-z]-only
    * tokens make the encoding collision-free). The convergence-mode
    * production path and driver-budget fallback stay spec-pinned in
    * BpeSpec; the scale story is unchanged (one corpus-sized word
    * count, then vocab-sized rounds). */
  private lazy val q129 = Q(
    "q129_bpe_merges",
    (s, dir) => {
      import graft.operators.Bpe
      val docs = Tables.documents(s, dir, spread = true)
        .select(regexp_replace(lower(col("text")), "[^a-z]+", " ").as("t"))
      val model = Bpe.train(docs, "t", numMerges = 5, minFreq = 2L,
        // the oracle replays EXACT full-vocab BPE: pin the exact route
        // so a corpus that ever outgrew the driver budget would fall
        // back to the exact distributed loop, never the capped head
        capVocab = false)
      import s.implicits._
      model.merges.zipWithIndex
        .map { case ((a, b), i) => ((i + 1).toLong, a, b, a + b) }
        .toDF("merge_round", "a", "b", "merged")
    },
    Some("""
      WITH w0 AS (
        SELECT w, COUNT(*) AS n FROM (
          SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
          FROM documents) t
        GROUP BY 1),
      e0 AS (
        SELECT rtrim(regexp_replace(w, '(.)', '|\1|,', 'g'), ',') AS e, n
        FROM w0),
      p1 AS (
        SELECT toks[i] AS a_enc, toks[i+1] AS b_enc, SUM(n) AS freq
        FROM (SELECT string_split(e, ',') AS toks, n FROM e0) t,
             LATERAL unnest(generate_series(1, len(toks) - 1)) u(i)
        GROUP BY 1, 2),
      b1 AS (
        SELECT a_enc || ',' || b_enc AS pat,
          replace(a_enc, '|', '') AS a, replace(b_enc, '|', '') AS b
        FROM p1 WHERE freq >= 2
        ORDER BY freq DESC, replace(a_enc, '|', '') ASC, replace(b_enc, '|', '') ASC
        LIMIT 1),
      e1 AS (
        SELECT replace(e0.e, b1.pat, '|' || b1.a || b1.b || '|') AS e, e0.n
        FROM e0, b1),
      p2 AS (
        SELECT toks[i] AS a_enc, toks[i+1] AS b_enc, SUM(n) AS freq
        FROM (SELECT string_split(e, ',') AS toks, n FROM e1) t,
             LATERAL unnest(generate_series(1, len(toks) - 1)) u(i)
        GROUP BY 1, 2),
      b2 AS (
        SELECT a_enc || ',' || b_enc AS pat,
          replace(a_enc, '|', '') AS a, replace(b_enc, '|', '') AS b
        FROM p2 WHERE freq >= 2
        ORDER BY freq DESC, replace(a_enc, '|', '') ASC, replace(b_enc, '|', '') ASC
        LIMIT 1),
      e2 AS (
        SELECT replace(e1.e, b2.pat, '|' || b2.a || b2.b || '|') AS e, e1.n
        FROM e1, b2),
      p3 AS (
        SELECT toks[i] AS a_enc, toks[i+1] AS b_enc, SUM(n) AS freq
        FROM (SELECT string_split(e, ',') AS toks, n FROM e2) t,
             LATERAL unnest(generate_series(1, len(toks) - 1)) u(i)
        GROUP BY 1, 2),
      b3 AS (
        SELECT a_enc || ',' || b_enc AS pat,
          replace(a_enc, '|', '') AS a, replace(b_enc, '|', '') AS b
        FROM p3 WHERE freq >= 2
        ORDER BY freq DESC, replace(a_enc, '|', '') ASC, replace(b_enc, '|', '') ASC
        LIMIT 1),
      e3 AS (
        SELECT replace(e2.e, b3.pat, '|' || b3.a || b3.b || '|') AS e, e2.n
        FROM e2, b3),
      p4 AS (
        SELECT toks[i] AS a_enc, toks[i+1] AS b_enc, SUM(n) AS freq
        FROM (SELECT string_split(e, ',') AS toks, n FROM e3) t,
             LATERAL unnest(generate_series(1, len(toks) - 1)) u(i)
        GROUP BY 1, 2),
      b4 AS (
        SELECT a_enc || ',' || b_enc AS pat,
          replace(a_enc, '|', '') AS a, replace(b_enc, '|', '') AS b
        FROM p4 WHERE freq >= 2
        ORDER BY freq DESC, replace(a_enc, '|', '') ASC, replace(b_enc, '|', '') ASC
        LIMIT 1),
      e4 AS (
        SELECT replace(e3.e, b4.pat, '|' || b4.a || b4.b || '|') AS e, e3.n
        FROM e3, b4),
      p5 AS (
        SELECT toks[i] AS a_enc, toks[i+1] AS b_enc, SUM(n) AS freq
        FROM (SELECT string_split(e, ',') AS toks, n FROM e4) t,
             LATERAL unnest(generate_series(1, len(toks) - 1)) u(i)
        GROUP BY 1, 2),
      b5 AS (
        SELECT a_enc || ',' || b_enc AS pat,
          replace(a_enc, '|', '') AS a, replace(b_enc, '|', '') AS b
        FROM p5 WHERE freq >= 2
        ORDER BY freq DESC, replace(a_enc, '|', '') ASC, replace(b_enc, '|', '') ASC
        LIMIT 1)
      SELECT CAST(1 AS BIGINT) AS merge_round, a, b, a || b AS merged FROM b1
      UNION ALL
      SELECT CAST(2 AS BIGINT), a, b, a || b FROM b2
      UNION ALL
      SELECT CAST(3 AS BIGINT), a, b, a || b FROM b3
      UNION ALL
      SELECT CAST(4 AS BIGINT), a, b, a || b FROM b4
      UNION ALL
      SELECT CAST(5 AS BIGINT), a, b, a || b FROM b5
    """),
  )

  /** C53b: BPE TOKENIZATION under the gate (`Bpe.encode` — the typed-map
    * production tokenizer) — q129's other half. Equivalence that makes
    * the oracle possible: `encodeWord`'s greedy loop (repeatedly merge
    * the lowest-rank pair present, leftmost first) equals applying the
    * merges in LEARNED ORDER, each as an exhaustive left-to-right
    * non-overlapping rewrite — because a merge can only create pairs
    * containing its (strictly longer) output token, and any learned pair
    * containing that token was necessarily learned LATER; so no merge
    * ever re-enables an earlier rank, and one string `replace` per merge
    * over the `|tok|,|tok|` encoding reproduces the loop exactly. The
    * oracle therefore tokenizes the DISTINCT-WORD table (5 replaces) and
    * joins docs' words against it — also exactly how the operator
    * amortizes cost (encode touches each distinct word's merge loop
    * once per task, not once per occurrence, via the rank map). Output:
    * per-doc token count + the space-joined token stream. */
  private lazy val q130 = Q(
    "q130_bpe_encode",
    (s, dir) => {
      import graft.operators.Bpe
      val docs = Tables.documents(s, dir, spread = true)
        .select(col("doc_id"),
          regexp_replace(lower(col("text")), "[^a-z]+", " ").as("t"))
      val model = Bpe.train(docs, "t", numMerges = 5, minFreq = 2L,
        // the oracle replays EXACT full-vocab BPE: pin the exact route
        // so a corpus that ever outgrew the driver budget would fall
        // back to the exact distributed loop, never the capped head
        capVocab = false)
      Bpe.encode(docs, "t", "doc_id", model)
        .select(col("doc_id"), col("n_bpe_tokens"),
          array_join(col("bpe_tokens"), " ").as("tokens_str"))
    },
    Some("""
      WITH w0 AS (
        SELECT w, COUNT(*) AS n FROM (
          SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
          FROM documents) t
        GROUP BY 1),
      e0 AS (
        SELECT w, rtrim(regexp_replace(w, '(.)', '|\1|,', 'g'), ',') AS e, n
        FROM w0),
      p1 AS (
        SELECT toks[i] AS a_enc, toks[i+1] AS b_enc, SUM(n) AS freq
        FROM (SELECT string_split(e, ',') AS toks, n FROM e0) t,
             LATERAL unnest(generate_series(1, len(toks) - 1)) u(i)
        GROUP BY 1, 2),
      b1 AS (
        SELECT a_enc || ',' || b_enc AS pat,
          '|' || replace(a_enc, '|', '') || replace(b_enc, '|', '') || '|' AS merged
        FROM p1 WHERE freq >= 2
        ORDER BY freq DESC, replace(a_enc, '|', '') ASC, replace(b_enc, '|', '') ASC
        LIMIT 1),
      e1 AS (SELECT w, CASE WHEN b1.pat IS NULL THEN e0.e
                       ELSE replace(e0.e, b1.pat, b1.merged) END AS e, n
            FROM e0 LEFT JOIN b1 ON TRUE),
      p2 AS (
        SELECT toks[i] AS a_enc, toks[i+1] AS b_enc, SUM(n) AS freq
        FROM (SELECT string_split(e, ',') AS toks, n FROM e1) t,
             LATERAL unnest(generate_series(1, len(toks) - 1)) u(i)
        GROUP BY 1, 2),
      b2 AS (
        SELECT a_enc || ',' || b_enc AS pat,
          '|' || replace(a_enc, '|', '') || replace(b_enc, '|', '') || '|' AS merged
        FROM p2 WHERE freq >= 2
        ORDER BY freq DESC, replace(a_enc, '|', '') ASC, replace(b_enc, '|', '') ASC
        LIMIT 1),
      e2 AS (SELECT w, CASE WHEN b2.pat IS NULL THEN e1.e
                       ELSE replace(e1.e, b2.pat, b2.merged) END AS e, n
            FROM e1 LEFT JOIN b2 ON TRUE),
      p3 AS (
        SELECT toks[i] AS a_enc, toks[i+1] AS b_enc, SUM(n) AS freq
        FROM (SELECT string_split(e, ',') AS toks, n FROM e2) t,
             LATERAL unnest(generate_series(1, len(toks) - 1)) u(i)
        GROUP BY 1, 2),
      b3 AS (
        SELECT a_enc || ',' || b_enc AS pat,
          '|' || replace(a_enc, '|', '') || replace(b_enc, '|', '') || '|' AS merged
        FROM p3 WHERE freq >= 2
        ORDER BY freq DESC, replace(a_enc, '|', '') ASC, replace(b_enc, '|', '') ASC
        LIMIT 1),
      e3 AS (SELECT w, CASE WHEN b3.pat IS NULL THEN e2.e
                       ELSE replace(e2.e, b3.pat, b3.merged) END AS e, n
            FROM e2 LEFT JOIN b3 ON TRUE),
      p4 AS (
        SELECT toks[i] AS a_enc, toks[i+1] AS b_enc, SUM(n) AS freq
        FROM (SELECT string_split(e, ',') AS toks, n FROM e3) t,
             LATERAL unnest(generate_series(1, len(toks) - 1)) u(i)
        GROUP BY 1, 2),
      b4 AS (
        SELECT a_enc || ',' || b_enc AS pat,
          '|' || replace(a_enc, '|', '') || replace(b_enc, '|', '') || '|' AS merged
        FROM p4 WHERE freq >= 2
        ORDER BY freq DESC, replace(a_enc, '|', '') ASC, replace(b_enc, '|', '') ASC
        LIMIT 1),
      e4 AS (SELECT w, CASE WHEN b4.pat IS NULL THEN e3.e
                       ELSE replace(e3.e, b4.pat, b4.merged) END AS e, n
            FROM e3 LEFT JOIN b4 ON TRUE),
      p5 AS (
        SELECT toks[i] AS a_enc, toks[i+1] AS b_enc, SUM(n) AS freq
        FROM (SELECT string_split(e, ',') AS toks, n FROM e4) t,
             LATERAL unnest(generate_series(1, len(toks) - 1)) u(i)
        GROUP BY 1, 2),
      b5 AS (
        SELECT a_enc || ',' || b_enc AS pat,
          '|' || replace(a_enc, '|', '') || replace(b_enc, '|', '') || '|' AS merged
        FROM p5 WHERE freq >= 2
        ORDER BY freq DESC, replace(a_enc, '|', '') ASC, replace(b_enc, '|', '') ASC
        LIMIT 1),
      e5 AS (SELECT w, CASE WHEN b5.pat IS NULL THEN e4.e
                       ELSE replace(e4.e, b5.pat, b5.merged) END AS e
            FROM e4 LEFT JOIN b5 ON TRUE),
      docw AS (
        SELECT doc_id, i AS idx, ws[i] AS w
        FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
              FROM documents) d,
             LATERAL unnest(generate_series(1, len(ws))) u(i)),
      tok AS (
        SELECT d.doc_id, d.idx,
          replace(replace(e5.e, '|,|', ' '), '|', '') AS word_toks,
          len(string_split(e5.e, ',')) AS n_toks
        FROM docw d JOIN e5 ON e5.w = d.w),
      agg AS (
        SELECT doc_id,
          CAST(SUM(n_toks) AS BIGINT) AS n_bpe_tokens,
          string_agg(word_toks, ' ' ORDER BY idx) AS tokens_str
        FROM tok GROUP BY 1)
      SELECT doc_id,
        COALESCE(a.n_bpe_tokens, 0) AS n_bpe_tokens,
        COALESCE(a.tokens_str, '') AS tokens_str
      FROM documents LEFT JOIN agg a USING (doc_id)
    """),
  )

  /** C74: distribution-drift divergences (`Profile.klDrift`) — the
    * quantitative "did the crawl's word distribution shift" metric next
    * to q74's chi-square category drift and q78's snapshot diff: per
    * language, KL(A‖B) and the bounded symmetric Jensen–Shannon
    * divergence between the even-doc and odd-doc snapshots' word
    * distributions, add-½ (Jeffreys) smoothed over the union vocab so
    * absent-in-one-side words contribute finite mass. Determinism: item
    * terms are p·ln(p/q) double chains summed through DECIMAL(38,18) —
    * 18 decimals so cross-engine ln ulp wobble (~1e-19) dies below the
    * cast while 1e-6-scale per-word terms keep full weight (the q38
    * dot-product scale choice). Scale shape: one corpus-sized word
    * count, then everything rides the (lang, word) table. */
  private lazy val q135 = Q(
    "q135_kl_drift",
    (s, dir) => {
      import graft.operators.Profile
      val docs = Tables.documents(s, dir, spread = true)
        .select(col("doc_id"), coalesce(col("lang"), lit("")).as("lang"),
          regexp_replace(lower(coalesce(col("text"), lit(""))), "[^a-z]+", " ").as("t"))
      val words = docs
        .select(col("doc_id"), col("lang"), explode(split(col("t"), " ")).as("w"))
        .filter(col("w") =!= "")
      val counts = words.groupBy("lang", "w").agg(
        sum(when(pmod(col("doc_id"), lit(2L)) === 0, lit(1L)).otherwise(lit(0L))).as("ca"),
        sum(when(pmod(col("doc_id"), lit(2L)) === 1, lit(1L)).otherwise(lit(0L))).as("cb"))
      Profile.klDrift(counts, "lang", "w", "ca", "cb")
        .select(col("lang"), col("n_a"), col("n_b"), col("vocab"),
          col("kl_ab"), col("jsd"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, COALESCE(lang, '') AS lang,
          regexp_extract_all(lower(COALESCE(text, '')), '[a-z]+') AS ws
        FROM documents),
      w AS (SELECT doc_id, lang, unnest(ws) AS w FROM d),
      counts AS (
        SELECT lang, w,
          SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
          SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS cb
        FROM w GROUP BY 1, 2),
      tot AS (
        SELECT lang, CAST(SUM(ca) AS BIGINT) AS n_a,
          CAST(SUM(cb) AS BIGINT) AS n_b, COUNT(*) AS vocab
        FROM counts GROUP BY 1),
      pq AS (
        SELECT c.lang,
          (CAST(ca AS DOUBLE) + 0.5)
            / (CAST(n_a AS DOUBLE) + 0.5 * CAST(vocab AS DOUBLE)) AS p,
          (CAST(cb AS DOUBLE) + 0.5)
            / (CAST(n_b AS DOUBLE) + 0.5 * CAST(vocab AS DOUBLE)) AS q
        FROM counts c JOIN tot USING (lang)),
      pqm AS (SELECT lang, p, q, (p + q) / 2.0 AS m FROM pq)
      SELECT pqm.lang, t.n_a, t.n_b, t.vocab,
        CAST(SUM(CAST(p * LN(p / q) AS DECIMAL(38,18))) AS DOUBLE) AS kl_ab,
        CAST(SUM(CAST(p * LN(p / m) AS DECIMAL(38,18))) AS DOUBLE) * 0.5 +
        CAST(SUM(CAST(q * LN(q / m) AS DECIMAL(38,18))) AS DOUBLE) * 0.5 AS jsd
      FROM pqm JOIN tot t USING (lang)
      GROUP BY 1, 2, 3, 4
    """),
  )

  /** C75: proximity retrieval (`TextSearch.proximity`) — NEAR/w, the
    * middle rung between BM25 bag-of-words (q52) and exact phrase
    * (q53): docs where both terms co-occur within a 5-token window,
    * ranked by minimal span. Posting lists only leave the scan (filter
    * inside the explode); the span join is per-doc over query-term
    * positions; exact integer spans → oracle matches by construction;
    * global top-k is TakeOrderedAndProject. */
  private lazy val q136 = Q(
    "q136_proximity_search",
    (s, dir) => {
      import graft.operators.TextSearch
      val docs = Tables.documents(s, dir, spread = true)
      TextSearch.proximity(docs, "text", "doc_id",
        Seq("hash", "join"), window = 5, k = 10)
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, i - 1 AS pos, ws[i] AS w
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t,
             LATERAL unnest(generate_series(1, len(ws))) u(i)
        WHERE ws[i] IN ('hash', 'join')),
      p0 AS (SELECT doc_id, pos AS p0 FROM toks WHERE w = 'hash'),
      p1 AS (SELECT doc_id, pos AS p1 FROM toks WHERE w = 'join'),
      spans AS (
        SELECT p0.doc_id,
          MIN(GREATEST(p0, p1) - LEAST(p0, p1) + 1) AS min_span
        FROM p0 JOIN p1 USING (doc_id) GROUP BY 1),
      f AS (SELECT doc_id, min_span FROM spans WHERE min_span <= 5),
      r AS (
        SELECT doc_id, min_span,
          ROW_NUMBER() OVER (ORDER BY min_span, doc_id) AS "rank"
        FROM f)
      SELECT doc_id, min_span, "rank" FROM r WHERE "rank" <= 10
    """),
  )

  /** C76: the corpus-prep pipeline END TO END in one query — the §C twin
    * of q133's timing chain: quality gate (q97's Gopher rule bundle) →
    * exact dedup (q30's min-id survivor per content hash) → deterministic
    * split assignment (q55's md5 thresholds) → per-(lang, split) corpus
    * report (docs + tokens). Every stage is individually oracled
    * elsewhere; this pins their COMPOSITION — filters feeding windows
    * feeding hash assignment — hash-matching end to end. Scale shape:
    * one scan through codegen'd rule projections, one hash-partitioned
    * window for the dedup survivor pick, one aggregation; nothing
    * materializes more than one row per surviving doc. */
  private lazy val q138 = Q(
    "q138_corpus_pipeline",
    (s, dir) => {
      import graft.operators.QualityRules
      val docs = Tables.documents(s, dir, spread = true)
        .select(col("doc_id"), coalesce(col("lang"), lit("")).as("lang"), col("text"))
      val clean = QualityRules.gopher(docs, "text",
          QualityRules.Params(minWords = 20L, maxWords = 90L,
            minMeanWordLen = 3.0, maxMeanWordLen = 4.75,
            maxSymbolRatio = 0.1, minAlphaWordFraction = 0.8,
            minStopwords = 2L, stopwords = Seq("a", "the")))
        .filter(col("keep"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__h")).orderBy(col("doc_id"))
      // the content hash is computed ONCE and serves both stages (dedup
      // key AND q55's split threshold — Corpus.hexThreshold(0.9) =
      // 'e666', the same rule assignSplits derives); the dedup window's
      // exchange carries only (hash, id, lang, n_words) — the text and
      // the gopher diagnostics stay out of the query's one shuffle
      val survivors = clean
        .select(col("doc_id"), col("lang"), col("n_words"), md5(col("text")).as("__h"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
      survivors
        .withColumn("split",
          when(substring(col("__h"), 1, 4) < lit("e666"), lit("train"))
            .otherwise(lit("val")))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_tokens"))
    },
    Some("""
      WITH f AS (
        SELECT doc_id, COALESCE(lang, '') AS lang, text,
          list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0) AS ws
        FROM documents),
      f2 AS (
        SELECT doc_id, lang, text, ws, CAST(len(ws) AS BIGINT) AS n_words FROM f),
      d AS (
        SELECT doc_id, lang, text, n_words,
          CASE WHEN n_words > 0 THEN
            CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / n_words END AS mean_word_len,
          CASE WHEN n_words > 0 THEN
            CAST(len(regexp_extract_all(text, '#|…|\.\.\.')) AS DOUBLE) / n_words END AS symbol_ratio,
          CASE WHEN n_words > 0 THEN
            CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / n_words END AS alpha_word_frac,
          CAST(len(list_filter(ws, w -> w IN ('a', 'the'))) AS BIGINT) AS n_stopwords
        FROM f2),
      kept AS (
        SELECT doc_id, lang, text, n_words FROM d
        WHERE (n_words >= 20 AND n_words <= 90)
          AND (mean_word_len >= 3.0 AND mean_word_len <= 4.75)
          AND (symbol_ratio <= 0.1) AND (alpha_word_frac >= 0.8)
          AND (n_stopwords >= 2)),
      ded AS (
        SELECT doc_id, lang, text, n_words,
          ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM kept),
      surv AS (SELECT lang, text, n_words FROM ded WHERE rn = 1),
      sp AS (
        SELECT lang,
          CASE WHEN substr(md5(text), 1, 4) < 'e666' THEN 'train'
               ELSE 'val' END AS split,
          n_words
        FROM surv)
      SELECT lang, split, COUNT(*) AS n_docs,
        CAST(SUM(n_words) AS BIGINT) AS n_tokens
      FROM sp GROUP BY 1, 2
    """),
  )

  val all: Seq[Q] = Seq(q30, q31, q32, q33, q34, q35, q36, q37, q45, q47,
    q48, q49, q50, q51, q52, q53, q54, q55, q57, q59, q66, q69, q70, q72, q73, q77, q78, q80,
    q90, q91, q92, q93, q94, q97, q99, q100, q101, q102, q111, q112, q113, q118, q125, q129, q130, q135, q136, q138)
}
