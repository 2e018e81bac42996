package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, QueryPack, Tables}
import graft.operators.TextAnalysis

/** Text-analysis family on the `documents` table (SURVEY §7.5):
  * language-ID, quality scoring, token statistics, fingerprinting.
  * Counting is length-difference arithmetic in both engines, so results
  * match exactly (DuckDB regexp_replace carries the 'g' flag — Spark's
  * is global by default).
  */
object TextQueries extends QueryPack {

  /** Exact stopword count over the bound word array `w`, SQL form
    * (mirrors TextAnalysis.wordCount: array filter, not substring
    * arithmetic — substring counting undercounts adjacent repeats). */
  private def occSql(word: String): String =
    s"CAST(len(list_filter(w, x -> x = '$word')) AS BIGINT)"

  private[queries] def scoreSql(lang: String): String =
    TextAnalysis.stopwords(lang).map(occSql).mkString("(", " + ", ")")

  private val wordsSql =
    raw"string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')"

  // ---------------------------------------------------------------- q23
  // Stopword-profile language ID. On this synthetic corpus the text is
  // English-ish word salad regardless of the `lang` label, so the
  // heuristic's job here is determinism, not label recovery.
  private val q23 = Q(
    "q23_lang_id",
    (s, dir) => {
      val withWords = Tables(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.Dedup.words(col("text")).as("__w"))
      val scores = TextAnalysis.stopwords.keys.map(l =>
        l -> TextAnalysis.stopwordScore(col("__w"), l)).toMap
      withWords
        .select(col("doc_id"),
          scores("en").as("s_en"), scores("de").as("s_de"),
          scores("fr").as("s_fr"), scores("es").as("s_es"),
          TextAnalysis.predictedLanguage(scores).as("pred_lang"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      SELECT doc_id, s_en, s_de, s_fr, s_es,
             CASE WHEN s_en = best AND best > 0 THEN 'en'
                  WHEN s_de = best AND best > 0 THEN 'de'
                  WHEN s_fr = best AND best > 0 THEN 'fr'
                  WHEN s_es = best AND best > 0 THEN 'es'
                  ELSE 'und' END AS pred_lang
      FROM (
        SELECT doc_id, s_en, s_de, s_fr, s_es,
               greatest(s_en, s_de, s_fr, s_es) AS best
        FROM (
          SELECT doc_id,
                 ${scoreSql("en")} AS s_en, ${scoreSql("de")} AS s_de,
                 ${scoreSql("fr")} AS s_fr, ${scoreSql("es")} AS s_es
          FROM (SELECT doc_id, $wordsSql AS w FROM documents)))
      ORDER BY doc_id
    """))

  // ---------------------------------------------------------------- q24
  // Composite quality score: length, punctuation/digit noise, stopword
  // density — the contract is the documented weight formula.
  private val q24 = Q(
    "q24_quality_score",
    (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          graft.operators.Dedup.words(col("text")).as("__w"))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.punctCount(col("text")).as("n_punct"),
          TextAnalysis.qualityScore(col("text"), col("__w")).as("quality"))
        .orderBy(col("doc_id"))
    },
    Some(raw"""
      SELECT doc_id, n_chars, n_tokens, n_punct,
             ROUND(
               0.4 * least(n_chars / 500.0, 1.0)
             + 0.2 * (1.0 - least((n_punct / greatest(n_chars, 1.0)) * 10.0, 1.0))
             + 0.2 * (1.0 - least((n_digit / greatest(n_chars, 1.0)) * 10.0, 1.0))
             + 0.2 * least((s_en / greatest(CAST(n_tokens AS DOUBLE), 1.0)) * 5.0, 1.0),
               6) AS quality
      FROM (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
               CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
               CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
               ${scoreSql("en")} AS s_en
        FROM (SELECT doc_id, text, $wordsSql AS w FROM documents))
      ORDER BY doc_id
    """))

  // ---------------------------------------------------------------- q25
  // Corpus token statistics per source: whitespace tokens, BPE-ish
  // estimate, distinct vocabulary (the only op here that shuffles, and
  // it shuffles (source, word) pairs — not documents).
  private val q25 = Q(
    "q25_token_stats",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      // final SUM columns pinned to BIGINT on both engines (DuckDB's
      // SUM(BIGINT) widens to HUGEINT and the driver hash is type-strict)
      val perDoc = docs.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text"))).cast("long").as("sum_tokens"),
        sum(TextAnalysis.bpeTokenEstimate(col("text"))).cast("long")
          .as("sum_bpe_tokens"))
      val vocab = docs
        .select(col("source"),
          explode(graft.operators.Dedup.words(col("text"))).as("w"))
        .groupBy(col("source"))
        .agg(countDistinct(col("w")).as("n_distinct_words"))
      perDoc.join(vocab, "source").orderBy(col("source"))
    },
    Some(raw"""
      WITH perdoc AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS sum_tokens,
               CAST(SUM(CAST(ceil(length(regexp_replace(text, '\s', '', 'g')) / 4.0) AS BIGINT)) AS BIGINT) AS sum_bpe_tokens
        FROM documents GROUP BY source),
      vocab AS (
        SELECT source, COUNT(DISTINCT w) AS n_distinct_words
        FROM (SELECT source,
                UNNEST(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
              FROM documents)
        GROUP BY source)
      SELECT source, n_docs, sum_tokens, sum_bpe_tokens, n_distinct_words
      FROM perdoc JOIN vocab USING (source)
      ORDER BY source
    """))

  // ---------------------------------------------------------------- q26
  // Document fingerprinting: md5 content digest + 32-bit numeric form.
  private val q26 = Q(
    "q26_fingerprint",
    (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.Dedup.fingerprint(col("text")).as("fp"),
          TextAnalysis.fingerprint32(col("text")).as("fp32"))
        .orderBy(col("doc_id"))
    },
    Some(raw"""
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
             ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 8))::BIGINT AS fp32
      FROM documents
      ORDER BY doc_id
    """))

  // ---------------------------------------------------------------- q33
  // Approximate distinct counting (HLL++) per source — the sketch path
  // a 100 TB vocabulary census actually uses (exact countDistinct in q25
  // is the small-scale baseline). HLL estimates are not engine-portable,
  // so the oracle-hashed columns are the EXACT per-group distinct count
  // plus a boolean asserting the HLL estimate landed within 5×rsd of it
  // (pinned TRUE in the oracle) — the sketch stays under the gate
  // without requiring DuckDB to reproduce Spark's HLL++ bit-for-bit.
  // ApproxDistinctSpec pins the tighter per-group error bound.
  private val q33 = Q(
    "q33_approx_distinct",
    (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("source"),
          explode(graft.operators.Dedup.words(col("text"))).as("w"))
        .groupBy(col("source"))
        .agg(
          countDistinct(col("w")).as("n_words_exact"),
          approx_count_distinct(col("w"), rsd = 0.02).as("__approx"))
        .select(col("source"), col("n_words_exact"),
          (abs(col("__approx") - col("n_words_exact")) <=
            col("n_words_exact") * 0.10).as("approx_ok"))
        .orderBy(col("source"))
    },
    Some("""
      SELECT source, COUNT(DISTINCT w) AS n_words_exact, TRUE AS approx_ok
      FROM (SELECT source,
              UNNEST(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
            FROM documents)
      GROUP BY source
      ORDER BY source
    """))

  // ---------------------------------------------------------------- q44
  // Deterministic train/val/test split: membership is a pure function
  // of the id's md5 (5% val, 5% test) — stable under re-partitioning,
  // appends, and engine choice, unlike randomSplit whose assignment
  // depends on partition layout. The property that makes a 100 TB
  // split auditable.
  private val q44 = Q(
    "q44_train_split",
    (s, dir) => {
      graft.operators.Sampling.withSplit(
          Tables(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id", valPct = 5, testPct = 5)
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id, source,
             CASE WHEN b < 5 THEN 'val'
                  WHEN b < 10 THEN 'test'
                  ELSE 'train' END AS split
      FROM (
        SELECT doc_id, source,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
        FROM documents)
      ORDER BY doc_id
    """))

  // ---------------------------------------------------------------- q45
  // Context-window packing: documents laid end-to-end in doc_id order,
  // token stream cut at 512-token boundaries — each document's span and
  // the chunks it straddles, via one running-sum window pass.
  private val q45 = Q(
    "q45_context_pack",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.operators.Sampling.packContexts(docs, "doc_id", "n_tokens", 512)
        .orderBy(col("doc_id"))
    },
    Some(raw"""
      SELECT doc_id, n_tokens,
             CAST(tok_end - n_tokens AS BIGINT) AS tok_start,
             CAST(tok_end AS BIGINT) AS tok_end,
             CAST((tok_end - n_tokens) // 512 AS BIGINT) AS chunk_first,
             CAST(CASE WHEN n_tokens = 0 THEN (tok_end - n_tokens) // 512
                  ELSE (tok_end - 1) // 512 END AS BIGINT) AS chunk_last
      FROM (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY doc_id ASC
                                   ROWS UNBOUNDED PRECEDING) AS tok_end
        FROM (
          SELECT doc_id,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
          FROM documents))
      ORDER BY doc_id
    """))

  // ---------------------------------------------------------------- q46
  // Per-source length-distribution stats: exact interpolated
  // percentiles of the token count. Spark's exact `percentile` and
  // DuckDB's `quantile_cont` share the (n-1)·p linear-interpolation
  // formula and match BITWISE (verified across all sources). The exact
  // aggregate buffers each group's values — right for per-source
  // profiling where groups are bounded; at 100 TB row counts switch to
  // approx_percentile the way q33 stands in for exact distinct.
  private val q46 = Q(
    "q46_length_stats",
    (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("source"), TextAnalysis.tokenCount(col("text")).as("n"))
        .groupBy(col("source"))
        .agg(
          min(col("n")).as("min_tokens"),
          max(col("n")).as("max_tokens"),
          expr("percentile(n, array(0.5D, 0.9D, 0.99D))").as("__q"))
        .select(col("source"), col("min_tokens"), col("max_tokens"),
          element_at(col("__q"), 1).as("p50"),
          element_at(col("__q"), 2).as("p90"),
          element_at(col("__q"), 3).as("p99"))
        .orderBy(col("source"))
    },
    Some(raw"""
      SELECT source, MIN(n) AS min_tokens, MAX(n) AS max_tokens,
             quantile_cont(n, 0.5) AS p50,
             quantile_cont(n, 0.9) AS p90,
             quantile_cont(n, 0.99) AS p99
      FROM (
        SELECT source,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        FROM documents)
      GROUP BY source
      ORDER BY source
    """))

  // ---------------------------------------------------------------- q47
  // Deterministic stratified sample: the 10 hash-smallest docs per
  // source — reproducible across runs/engines (sampleBy's RNG is not),
  // pruned by WindowGroupLimit like any top-k.
  private val q47 = Q(
    "q47_stratified_sample",
    (s, dir) => {
      graft.operators.Sampling.stratifiedSample(
          Tables(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id", perStratum = 10)
        .orderBy(col("source"), col("doc_id"))
    },
    Some("""
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT ASC,
                          doc_id ASC) AS rk
        FROM documents)
      WHERE rk <= 10
      ORDER BY source, doc_id
    """))

  // ---------------------------------------------------------------- q50
  // PIVOT: per-source corpus composition as one row per source with a
  // count column per language. The pivot VALUES are explicit — at scale
  // an inferred pivot triggers an extra distinct pass AND makes the
  // output schema data-dependent; pinning them keeps the plan a single
  // aggregation and the schema stable. Oracle = portable conditional
  // aggregation (the relational meaning of PIVOT).
  private val q50 = Q(
    "q50_pivot_lang",
    (s, dir) => {
      Tables(s, dir, "documents")
        .groupBy(col("source"))
        .pivot("lang", Seq("en", "de", "fr", "es"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("source"))
    },
    Some("""
      SELECT source,
             COUNT(*) FILTER (lang = 'en') AS en,
             COUNT(*) FILTER (lang = 'de') AS de,
             COUNT(*) FILTER (lang = 'fr') AS fr,
             COUNT(*) FILTER (lang = 'es') AS es
      FROM documents
      GROUP BY source
      ORDER BY source
    """))

  // ---------------------------------------------------------------- q56
  // Percentile outlier trimming: keep documents whose token count lies
  // within the per-source [p05, p95] band — the curation step that
  // drops truncated fragments and concatenation blobs. Per-source
  // stats broadcast back onto the corpus (20 rows, never a shuffle of
  // the documents).
  private val q56 = Q(
    "q56_length_trim",
    (s, dir) => {
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n"))
      val stats = toks.groupBy(col("source"))
        .agg(expr("percentile(n, array(0.05D, 0.95D))").as("__q"))
        .select(col("source"),
          element_at(col("__q"), 1).as("lo"),
          element_at(col("__q"), 2).as("hi"))
      toks.join(broadcast(stats), "source")
        .filter(col("n") >= col("lo") && col("n") <= col("hi"))
        .select(col("doc_id"), col("source"), col("n"))
        .orderBy(col("doc_id"))
    },
    Some(raw"""
      WITH t AS (
        SELECT doc_id, source,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        FROM documents),
      s AS (
        SELECT source, quantile_cont(n, 0.05) AS lo, quantile_cont(n, 0.95) AS hi
        FROM t GROUP BY source)
      SELECT doc_id, source, n
      FROM t JOIN s USING (source)
      WHERE n >= lo AND n <= hi
      ORDER BY doc_id
    """))

  // ---------------------------------------------------------------- q57
  // Token-budget subset: documents in deterministic md5 order until the
  // running total reaches 10k tokens (the crossing document included) —
  // a reproducible "N-token dataset" cut, stable across engines and
  // partitionings.
  private val q57 = Q(
    "q57_token_budget",
    (s, dir) => {
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.operators.Sampling.tokenBudgetSubset(toks, "doc_id", "n_tokens",
          budgetTokens = 10000L)
        .orderBy(col("doc_id"))
    },
    Some(raw"""
      SELECT doc_id, n_tokens FROM (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (
                 ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT ASC,
                          doc_id ASC
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM (
          SELECT doc_id,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
          FROM documents))
      WHERE cum - n_tokens < 10000
      ORDER BY doc_id
    """))

  // ---------------------------------------------------------------- q91
  // Bigram collocations by lift = N·c(ab)/(c(a)·c(b)) — the division-
  // only association measure (PMI is its log; ln is the cross-engine
  // last-ulp trap). Bigram extraction is in-row (arrays_zip of two
  // slices — no lambda, so nothing re-evaluates per element); both
  // count aggregations partial-combine to vocabulary size map-side.
  private val q91 = Q(
    "q91_bigram_collocations",
    (s, dir) => {
      TextAnalysis.collocations(Tables(s, dir, "documents"),
          "doc_id", "text", minCount = 5L, topN = 20)
    },
    Some(raw"""
      WITH toks AS (SELECT doc_id, $wordsSql AS w FROM documents),
      pairs AS (
        SELECT w[i] AS w1, w[i + 1] AS w2
        FROM toks, UNNEST(generate_series(1, len(w) - 1)) t(i)),
      bi AS (
        SELECT w1, w2, COUNT(*) AS c_ab FROM pairs GROUP BY w1, w2),
      uni AS (
        SELECT u.x AS t, COUNT(*) AS c
        FROM toks, UNNEST(w) u(x) GROUP BY u.x),
      tot AS (SELECT SUM(c_ab) AS n FROM bi)
      SELECT w1, w2, c_ab, lift, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT b.w1, b.w2, b.c_ab,
               CAST(t.n * b.c_ab AS DOUBLE) /
                 CAST(a.c * c.c AS DOUBLE) AS lift,
               ROW_NUMBER() OVER (
                 ORDER BY CAST(t.n * b.c_ab AS DOUBLE) /
                            CAST(a.c * c.c AS DOUBLE) DESC,
                          b.w1 ASC, b.w2 ASC) AS rnk
        FROM bi b
        JOIN uni a ON a.t = b.w1
        JOIN uni c ON c.t = b.w2
        CROSS JOIN tot t
        WHERE b.c_ab >= 5)
      WHERE rnk <= 20
      ORDER BY rnk
    """))

  // --------------------------------------------------------------- q101
  // Bigram-LM cross-entropy quality scoring (CCNet-style): train an MLE
  // bigram model on the corpus, score each doc by average surprisal.
  // The float entropy itself stays OUT of the hashed output (Σ log₂ is
  // libm/fold-order territory — same reasoning as q91's lift-not-PMI
  // and q33's HLL split); the gate hashes the exact integer companions
  // (n_bigrams, distinct, corpus-rare count) plus a range assertion on
  // the entropy, and TextAnalysisSpec pins the exact value on a hand
  // corpus.
  private val q101 = Q(
    "q101_bigram_lm",
    (s, dir) => {
      TextAnalysis.bigramLm(Tables(s, dir, "documents"),
          "doc_id", "text", rareMax = 2L)
        .drop("entropy")
        .orderBy(col("doc_id"))
    },
    Some(raw"""
      WITH toks AS (SELECT doc_id, $wordsSql AS w FROM documents),
      pairs AS (
        SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        FROM toks, UNNEST(generate_series(1, len(w) - 1)) t(i)),
      bi AS (SELECT w1, w2, COUNT(*) AS c_ab FROM pairs GROUP BY w1, w2),
      scored AS (
        SELECT p.doc_id,
               COUNT(*) AS n_bigrams,
               COUNT(DISTINCT (p.w1, p.w2)) AS n_distinct_bigrams,
               CAST(SUM(CASE WHEN b.c_ab <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_rare
        FROM pairs p JOIN bi b ON b.w1 = p.w1 AND b.w2 = p.w2
        GROUP BY p.doc_id)
      SELECT d.doc_id,
             CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             CAST(COALESCE(s.n_distinct_bigrams, 0) AS BIGINT)
               AS n_distinct_bigrams,
             CAST(COALESCE(s.n_rare, 0) AS BIGINT) AS n_rare,
             TRUE AS entropy_ok
      FROM documents d LEFT JOIN scored s USING (doc_id)
      ORDER BY doc_id
    """))

  // --------------------------------------------------------------- q111
  // Per-language top-10 tokens (grouped heavy hitters): the induced-
  // stopword census that seeds q73's boilerplate scrub and per-mixture
  // vocabulary diagnostics. (group, token) counts partial-combine
  // map-side; the per-group top-k prunes via WindowGroupLimit — nothing
  // vocabulary-wide is globally sorted. The sketch path for when
  // vocab×groups outgrows exact state is Sketch.cmsHeavyHitters (q90).
  private val q111 = Q(
    "q111_top_tokens_per_lang",
    (s, dir) => {
      TextAnalysis.topTokensPerGroup(Tables(s, dir, "documents"),
          "lang", "text", k = 10)
        .orderBy(col("lang"), col("rnk"))
    },
    Some(s"""
      SELECT lang, token, cnt, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT lang, token, cnt,
               ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY cnt DESC, token ASC) AS rnk
        FROM (
          SELECT lang, token, COUNT(*) AS cnt
          FROM (SELECT lang, UNNEST($wordsSql) AS token FROM documents)
          GROUP BY lang, token))
      WHERE rnk <= 10
      ORDER BY lang, rnk
    """))

  // --------------------------------------------------------------- q113
  // EXACT greedy BPE tokenization under the pinned merges table
  // (functions/BpeTokenize.scala) — per-doc counts, plus the whitespace
  // token count as a sanity anchor (BPE can only refine word splits, so
  // n_bpe >= n_ws on alphabet-only text). The oracle's replace-chain is
  // GENERATED from the same merges Vector the native expression reads,
  // so the two sides cannot drift independently.
  private val q113 = Q(
    "q113_bpe_tokens",
    (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"),
          TextAnalysis.tokenCount(col("text")).as("n_ws"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      SELECT doc_id,
             ${graft.functions.BpeTokenizer.oracleCountFromSymbolsSql("bpe_s")} AS n_bpe,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_ws
      FROM (SELECT doc_id, text,
              ${graft.functions.BpeTokenizer.oracleSymbolStreamSql("text")} AS bpe_s
            FROM documents)
      ORDER BY doc_id
    """))

  // --------------------------------------------------------------- q123
  // Vocabulary-coverage QA (tokenizer-fit audit): corpus top-500 word
  // census → per-doc OOV rate against it. A mixture whose docs are
  // full of out-of-vocab tokens fragments into byte fallback at
  // training time; this is the report that catches it before the GPU
  // bill. Integer-exact counts only — the coverage flag is the
  // cross-multiplied inequality, so nothing float is hashed. The vocab
  // cut is deterministic (cnt desc, token asc) on BOTH sides, which is
  // what makes the boundary reproducible.
  private val q123 = Q(
    "q123_vocab_coverage",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      TextAnalysis.oovStats(docs, "doc_id", "text",
          TextAnalysis.vocabTopN(docs, "text", n = 500), oovPctMax = 10)
        .orderBy(col("doc_id"))
    },
    Some(raw"""
      WITH tok AS (
        SELECT doc_id, token
        FROM (SELECT doc_id, UNNEST($wordsSql) AS token FROM documents)
        WHERE token <> ''),
      vocab AS (
        SELECT token
        FROM (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token)
        ORDER BY cnt DESC, token ASC LIMIT 500),
      per AS (
        SELECT t.doc_id, COUNT(*) AS n_tokens,
               SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS n_oov
        FROM tok t LEFT JOIN vocab v ON t.token = v.token
        GROUP BY t.doc_id)
      SELECT d.doc_id,
             CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
             CAST(COALESCE(p.n_oov, 0) AS BIGINT) AS n_oov,
             COALESCE(p.n_oov, 0) * 100 <= 10 * COALESCE(p.n_tokens, 0)
               AS well_covered
      FROM documents d LEFT JOIN per p USING (doc_id)
      ORDER BY doc_id
    """))

  // --------------------------------------------------------------- q126
  // Split-leakage audit: q44's hash split is a function of the ID, so
  // duplicate TEXT under different ids crosses split boundaries — the
  // train-on-test contamination an eval must rule out. One summary row
  // (dup fingerprint groups, cross-split groups, per-pair breakdown),
  // produced by one fp-keyed shuffle + the 1-row global reduce; the
  // corpus text never travels, only 16-byte fingerprints and split
  // bits.
  private val q126 = Q(
    "q126_split_leakage",
    (s, dir) => {
      graft.operators.Sampling.splitLeakage(
        Tables(s, dir, "documents"), "doc_id", "text",
        valPct = 5, testPct = 5)
    },
    Some(raw"""
      WITH tagged AS (
        SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
               CASE WHEN b < 5 THEN 'val'
                    WHEN b < 10 THEN 'test'
                    ELSE 'train' END AS split
        FROM (
          SELECT text,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 100 AS b
          FROM documents)),
      per AS (
        SELECT fp, COUNT(*) AS n_docs,
               MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS has_train,
               MAX(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS has_val,
               MAX(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS has_test
        FROM tagged GROUP BY fp)
      SELECT
        CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup_fps,
        CAST(SUM(CASE WHEN has_train + has_val + has_test > 1 THEN 1 ELSE 0
          END) AS BIGINT) AS n_leaky_fps,
        CAST(SUM(CASE WHEN has_train = 1 AND has_val = 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_train_val,
        CAST(SUM(CASE WHEN has_train = 1 AND has_test = 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_train_test,
        CAST(SUM(CASE WHEN has_val = 1 AND has_test = 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_val_test
      FROM per
    """))

  // --------------------------------------------------------------- q130
  // One distributed BPE TRAINING step: adjacent-symbol-pair census
  // under the CURRENT merges table — the top row is the next merge a
  // trainer would adopt; iterate the census and you have induced a
  // tokenizer from the corpus. The symbol stream comes from the same
  // native expression family as q113, and the oracle's stream is
  // GENERATED from the same merges Vector, so the two sides cannot
  // drift; pairs never cross the `|` word boundary.
  private val q130 = Q(
    "q130_bpe_merge_census",
    (s, dir) => {
      TextAnalysis.bpeMergeCensus(Tables(s, dir, "documents"),
        "text", n = 20)
    },
    Some(s"""
      WITH streams AS (
        SELECT doc_id,
               ${graft.functions.BpeTokenizer.oracleSymbolStreamSql("text")}
                 AS s
        FROM documents),
      syms AS (
        SELECT doc_id, regexp_extract_all(s, '<([^<>]*)>', 1) AS a
        FROM streams),
      pairs AS (
        SELECT a[i] AS sym_a, a[i + 1] AS sym_b
        FROM syms, UNNEST(generate_series(1, len(a) - 1)) t(i)
        WHERE len(a) >= 2)
      SELECT sym_a, sym_b, COUNT(*) AS cnt
      FROM pairs
      WHERE sym_a <> '|' AND sym_b <> '|'
      GROUP BY 1, 2
      ORDER BY cnt DESC, sym_a ASC, sym_b ASC
      LIMIT 20
    """))

  // --------------------------------------------------------------- q134
  // Deterministic weighted sample without replacement (Efraimidis–
  // Spirakis): top-100 docs by ln(u)/w with the md5-derived uniform
  // and w = n_chars — inclusion probability ∝ length, reproducible
  // across engines because the draw is a pure function of the id.
  // Engine plans TakeOrderedAndProject (no corpus sort, no corpus
  // window); only integer columns are emitted, so the float key never
  // hits the hash gate.
  private val q134 = Q(
    "q134_weighted_sample",
    (s, dir) => {
      graft.operators.Sampling.weightedSample(
        Tables(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", n = 100)
    },
    Some(raw"""
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY k DESC, doc_id ASC)
               AS INTEGER) AS rnk,
             doc_id, CAST(w AS BIGINT) AS weight
      FROM (
        SELECT doc_id, n_chars AS w,
               ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                     + 1) / CAST(1152921504606846976 AS DOUBLE))
                 / CAST(n_chars AS DOUBLE) AS k
        FROM documents WHERE n_chars > 0)
      ORDER BY k DESC, doc_id ASC
      LIMIT 100
    """))

  // --------------------------------------------------------------- q135
  // Split-leakage REPAIR, the fix for what q126 audits: every doc in a
  // duplicate-text group spanning splits moves to the split of the
  // group's min-doc_id leader. Output is the move ledger (moved docs
  // only). One fp-keyed shuffle; the leaky-leader frame is tiny and
  // broadcasts back — text never travels.
  private val q135 = Q(
    "q135_split_repair",
    (s, dir) => {
      graft.operators.Sampling.repairSplitLeakage(
          Tables(s, dir, "documents"), "doc_id", "text",
          valPct = 5, testPct = 5)
        .orderBy(col("doc_id"))
    },
    Some(raw"""
      WITH tagged AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
               CASE WHEN b < 5 THEN 'val'
                    WHEN b < 10 THEN 'test'
                    ELSE 'train' END AS split
        FROM (
          SELECT doc_id, text,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 100 AS b
          FROM documents)),
      grp AS (
        SELECT fp, MIN(doc_id) AS lid, COUNT(*) AS n,
               MIN(split) AS smin, MAX(split) AS smax
        FROM tagged GROUP BY fp),
      leaky AS (
        SELECT g.fp, t.split AS new_split
        FROM grp g JOIN tagged t ON t.fp = g.fp AND t.doc_id = g.lid
        WHERE g.n > 1 AND g.smin <> g.smax)
      SELECT t.doc_id, t.split AS old_split, k.new_split
      FROM tagged t JOIN leaky k ON t.fp = k.fp
      WHERE t.split <> k.new_split
      ORDER BY t.doc_id
    """))

  /** Shared q136/q140 oracle prefix: per-doc host (q114's fabricated
    * URL discipline) and quality in integer micro-units (q24's score
    * formula × 10⁶). One definition so the batch gate and its
    * incremental sibling cannot drift. */
  private def qmicroCtes: String = raw"""base AS (
        SELECT doc_id,
               lower(regexp_extract(
                 'https://crawler@' || source || '.example.org:8443/docs/'
                   || CAST(doc_id AS VARCHAR),
                 '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1))
                 AS host,
               CAST(length(text) AS BIGINT) AS n_chars,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END
                 AS n_tokens,
               CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
                 AS BIGINT) AS n_punct,
               CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                 AS BIGINT) AS n_digit,
               ${scoreSql("en")} AS s_en
        FROM (SELECT doc_id, source, text, $wordsSql AS w FROM documents)),
      q AS (
        SELECT doc_id, host,
               CAST(ROUND(ROUND(
                 0.4 * least(n_chars / 500.0, 1.0)
               + 0.2 * (1.0 - least((n_punct / greatest(n_chars, 1.0)) * 10.0, 1.0))
               + 0.2 * (1.0 - least((n_digit / greatest(n_chars, 1.0)) * 10.0, 1.0))
               + 0.2 * least((s_en / greatest(CAST(n_tokens AS DOUBLE), 1.0)) * 5.0, 1.0),
                 6) * 1000000) AS BIGINT) AS qm
        FROM base)"""

  // --------------------------------------------------------------- q136
  // Domain-level quality curation: per-HOST mean quality (q24's score
  // in integer micro-units, mean as sum DIV count — exact, order-
  // independent) gates whole domains, the Gopher/C4 "judge the host"
  // pass. URL fabricated per the q114 discipline; threshold 660000
  // sits mid-distribution at sf0.01 (8 of 20 hosts drop). Engine:
  // one aggregate to ≤ |hosts| rows, fanned back by an unhinted
  // equi-join (broadcast at sf, AQE shuffled-hash at web scale).
  private val q136 = Q(
    "q136_domain_quality",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
        .withColumn("url",
          concat(lit("https://crawler@"), col("source"),
            lit(".example.org:8443/docs/"), col("doc_id")))
        .withColumn("host", graft.operators.Curation.extractHost(col("url")))
        .withColumn("__w", graft.operators.Dedup.words(col("text")))
        .withColumn("q_micro",
          TextAnalysis.qualityMicro(col("text"), col("__w")))
      graft.operators.Curation.domainQualityReport(
          docs, "host", "q_micro", minMeanMicro = 660000L)
        .select(col("doc_id"), col("host"), col("host_q_micro"),
          col("kept"))
        .orderBy(col("doc_id"))
    },
    Some(raw"""
      WITH $qmicroCtes,
      h AS (
        SELECT host, CAST(SUM(qm) // COUNT(*) AS BIGINT) AS host_q_micro
        FROM q GROUP BY host)
      SELECT q.doc_id, q.host, h.host_q_micro,
             h.host_q_micro >= 660000 AS kept
      FROM q JOIN h USING (host)
      ORDER BY q.doc_id
    """))

  // --------------------------------------------------------------- q140
  // The O(new)-per-day sibling of q136 (the q65/q116/q132 incremental
  // family): yesterday's (host, q_sum, n_docs) ledger merges with
  // today's batch by pure addition — the integer micro-unit mean is
  // exactly mergeable — and verdicts re-evaluate on the updated mean.
  // History (doc_id % 3 > 0) contributes ONLY its ledger; the oracle
  // recomputes from the FULL corpus, so the hash match proves the
  // merge is a pure optimization. Output is the new ledger + verdicts,
  // which is tomorrow's input — self-maintaining.
  private val q140 = Q(
    "q140_domain_quality_incremental",
    (s, dir) => {
      import org.apache.spark.sql.DataFrame
      def withQ(df: DataFrame): DataFrame = df
        .withColumn("url",
          concat(lit("https://crawler@"), col("source"),
            lit(".example.org:8443/docs/"), col("doc_id")))
        .withColumn("host", graft.operators.Curation.extractHost(col("url")))
        .withColumn("__w", graft.operators.Dedup.words(col("text")))
        .withColumn("q_micro",
          TextAnalysis.qualityMicro(col("text"), col("__w")))
      val docs = Tables(s, dir, "documents")
      val ledger = graft.operators.Curation.domainQualityLedger(
        withQ(docs.filter(col("doc_id") % 3 > 0)), "host", "q_micro")
      graft.operators.Curation.domainQualityIncremental(
          ledger, withQ(docs.filter(col("doc_id") % 3 === 0)),
          "host", "q_micro", minMeanMicro = 660000L)
        .orderBy(col("host"))
    },
    Some(raw"""
      WITH $qmicroCtes
      SELECT host,
             CAST(SUM(qm) AS BIGINT) AS q_sum,
             COUNT(*) AS n_docs,
             CAST(SUM(qm) // COUNT(*) AS BIGINT) AS host_q_micro,
             SUM(qm) // COUNT(*) >= 660000 AS kept
      FROM q
      GROUP BY host
      ORDER BY host
    """))

  // --------------------------------------------------------------- q159
  // Per-host TOKEN budget: q136's host discipline applied to token
  // MASS instead of a verdict on mean quality — within each host,
  // docs admit in quality order (q24's micro-unit score, doc_id
  // tie-break) until the host's running token total crosses 700,
  // the proportional-curation pass that stops one giant domain from
  // swamping the mixture by token count. ONE window partitioned by
  // host (never the banned empty partitionSpec), running SUM over
  // rows — the 700 cut sits mid-distribution at sf0.01 (hosts carry
  // ~1.3–1.6k tokens), so roughly half of each host survives and
  // both branches of the verdict are exercised.
  private val q159 = Q(
    "q159_host_token_budget",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
        .withColumn("url",
          concat(lit("https://crawler@"), col("source"),
            lit(".example.org:8443/docs/"), col("doc_id")))
        .withColumn("host", graft.operators.Curation.extractHost(col("url")))
        .withColumn("__w", graft.operators.Dedup.words(col("text")))
        .withColumn("q_micro",
          TextAnalysis.qualityMicro(col("text"), col("__w")))
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      graft.operators.Curation.hostTokenBudget(
          docs, "host", "doc_id", "n_tokens", "q_micro",
          budgetTokens = 700L)
        .select(col("doc_id"), col("host"), col("cum_tokens"), col("kept"))
        .orderBy(col("doc_id"))
    },
    Some(raw"""
      WITH $qmicroCtes,
      qt AS (
        SELECT q.doc_id, q.host, q.qm, b.n_tokens
        FROM q JOIN base b USING (doc_id)),
      cum AS (
        SELECT doc_id, host,
               SUM(n_tokens) OVER (PARTITION BY host
                 ORDER BY qm DESC, doc_id ASC
                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM qt)
      SELECT doc_id, host, CAST(cum_tokens AS BIGINT) AS cum_tokens,
             cum_tokens <= 700 AS kept
      FROM cum ORDER BY doc_id
    """))

  // --------------------------------------------------------------- q163
  // Deterministic token masking (denoising/MLM corruption): token i of
  // doc d masks iff md5(d:i) % 100 < 15 — no RNG, reproducible,
  // append-stable, engine-portable (the q44/q83 hash-membership rule
  // applied to positions). One map-side `transform` over the token
  // array, no shuffle, no UDF; the mask key carries the doc id so
  // identical sentences in different docs mask differently. The oracle
  // replays the identical per-position md5 chain in DuckDB, gating the
  // corrupted TEXT itself, not just the mask counts.
  private val q163 = Q(
    "q163_token_masking",
    (s, dir) => {
      TextAnalysis.maskTokens(
          Tables(s, dir, "documents"), "doc_id", "text", pct = 15)
        .orderBy(col("doc_id"))
    },
    Some(raw"""
      WITH w AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        FROM documents),
      m AS (
        SELECT doc_id, len(w) AS n_tokens,
               list_transform(generate_series(1, len(w)), i ->
                 CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                        || ':' || CAST(i AS VARCHAR)), 1, 15))::BIGINT
                        % 100 < 15
                      THEN '[MASK]' ELSE w[i] END) AS mw
        FROM w)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(len(list_filter(mw, x -> x = '[MASK]')) AS BIGINT)
               AS n_masked,
             array_to_string(mw, ' ') AS masked_text
      FROM m ORDER BY doc_id
    """))

  // --------------------------------------------------------------- q164
  // Model-calibration audit: mean q160 model score per equi-depth
  // DECILE of the q24 heuristic quality signal — the "is the trained
  // filter monotone in the signal it should track" read a pipeline
  // takes before trusting a model cutover. Deciles via q148's
  // distributed-prefix-sum machinery (no corpus sort); the per-decile
  // mean is EXACT FLOOR division — scores go negative, Spark's DIV
  // truncates toward zero while DuckDB's // floors, so the engine
  // computes floor via the pmod identity (a - pmod(a,b)) / b, making
  // the two sides bit-identical on negative sums too.
  private val q164 = Q(
    "q164_score_calibration",
    (s, dir) => {
      val t = TextAnalysis
      val base = Tables(s, dir, "documents")
        .withColumn("__w", graft.operators.Dedup.words(col("text")))
        .withColumn("q_micro", t.qualityMicro(col("text"), col("__w")))
        .withColumn("score_micro",
          lit(1000L) * length(col("text")).cast("long") +
          lit(5000L) * t.tokenCount(col("text")) -
          lit(50000L) * t.punctCount(col("text")).cast("long") -
          lit(50000L) * t.digitCount(col("text")).cast("long") -
          lit(100000L))
        .select(col("doc_id"), col("q_micro"), col("score_micro"))
      graft.operators.Sampling.equiDepthBuckets(base, "doc_id", "q_micro",
          k = 10)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("score_micro")).as("sum_score_micro"))
        .withColumn("mean_score_micro",
          expr("(sum_score_micro - pmod(sum_score_micro, n_docs)) DIV n_docs"))
        .orderBy(col("bucket"))
    },
    Some(raw"""
      WITH $qmicroCtes,
      sc AS (
        SELECT doc_id,
               1000 * n_chars + 5000 * n_tokens
               - 50000 * n_punct - 50000 * n_digit - 100000 AS score
        FROM base),
      r AS (
        SELECT q.doc_id, sc.score,
               ROW_NUMBER() OVER (ORDER BY q.qm ASC, q.doc_id ASC) AS rn,
               COUNT(*) OVER () AS n
        FROM q JOIN sc USING (doc_id))
      SELECT bucket, COUNT(*) AS n_docs,
             CAST(SUM(score) AS BIGINT) AS sum_score_micro,
             CAST(SUM(score) // COUNT(*) AS BIGINT) AS mean_score_micro
      FROM (SELECT CAST((rn - 1) * 10 // n AS BIGINT) AS bucket, score
            FROM r)
      GROUP BY bucket
      ORDER BY bucket
    """))

  // --------------------------------------------------------------- q170
  // Word frequency SPECTRUM (frequency-of-frequencies): how many
  // distinct words occur exactly f times — the Zipf/hapax audit a
  // corpus curator reads for vocabulary health (a fat hapax tail means
  // noise or genuine diversity; a collapsed spectrum means boilerplate
  // or template spam). Two partial-combining aggregates: the word
  // census folds map-side to |vocab| keys, the spectrum to |distinct
  // frequencies| keys — the second exchange is tiny whatever the
  // corpus size. Exact integers end to end.
  private val q170 = Q(
    "q170_frequency_spectrum",
    (s, dir) => {
      TextAnalysis.frequencySpectrum(
          TextAnalysis.wordCensus(Tables(s, dir, "documents"), "text"))
        .orderBy(col("f"))
    },
    Some(raw"""
      WITH norm AS (
        SELECT doc_id, $wordsSql AS w FROM documents),
      tok AS (SELECT unnest(w) AS t FROM norm),
      freq AS (SELECT t, COUNT(*) AS f FROM tok GROUP BY t)
      SELECT f, COUNT(*) AS n_words FROM freq GROUP BY f ORDER BY f
    """))

  // --------------------------------------------------------------- q172
  // Intra-document repeated-sentence removal: the line-dedup repair
  // pass (q25-family repetitionStats SCORES the pathology; this cuts
  // it) — keep each distinct trimmed sentence's first occurrence in
  // order, reassemble. In-row via array_distinct (first-occurrence
  // order preserved), no shuffle; the oracle spells the same
  // first-occurrence rule relationally (MIN(position) per sentence,
  // string_agg ordered by it) — the hash match pins Spark's
  // array_distinct ordering contract, which this operator depends on.
  private val q172 = Q(
    "q172_sentence_dedup",
    (s, dir) => {
      TextAnalysis.dedupSentences(
          Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some(raw"""
      WITH sp AS (
        SELECT doc_id, string_split(text, '.') AS p FROM documents),
      snt AS (
        SELECT doc_id, i, trim(p[i]) AS sent
        FROM sp, UNNEST(generate_series(1, len(p))) AS t(i)
        WHERE trim(p[i]) <> ''),
      agg AS (
        SELECT doc_id, COUNT(*) AS n_sents FROM snt GROUP BY doc_id),
      firsts AS (
        SELECT doc_id, sent, MIN(i) AS fi FROM snt GROUP BY doc_id, sent),
      ded AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(sent, '. ' ORDER BY fi) AS clean_text
        FROM firsts GROUP BY doc_id)
      SELECT a.doc_id, CAST(a.n_sents AS BIGINT) AS n_sents,
             CAST(a.n_sents - d.n_kept AS BIGINT) AS n_removed,
             d.clean_text
      FROM agg a JOIN ded d USING (doc_id)
      ORDER BY a.doc_id
    """))

  // --------------------------------------------------------------- q174
  // O(new) incremental form of q170: the stored (word, count) census
  // merges today's batch census by addition (counts add under an
  // append-only corpus — the q150 discipline on the unigram table),
  // fresh words append via broadcast anti join, and the spectrum
  // re-derives from the merged census. History (doc_id % 3 > 0)
  // contributes ONLY its census; the oracle recomputes the spectrum
  // from the FULL corpus, so the hash match proves the merge exact.
  private val q174 = Q(
    "q174_incremental_frequency_spectrum",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val stored = TextAnalysis.wordCensus(
        docs.filter(col("doc_id") % 3 > 0), "text")
      TextAnalysis.incrementalFrequencySpectrum(
          stored, docs.filter(col("doc_id") % 3 === 0), "text")
        .orderBy(col("f"))
    },
    Some(raw"""
      WITH norm AS (
        SELECT doc_id, $wordsSql AS w FROM documents),
      tok AS (SELECT unnest(w) AS t FROM norm),
      freq AS (SELECT t, COUNT(*) AS f FROM tok GROUP BY t)
      SELECT f, COUNT(*) AS n_words FROM freq GROUP BY f ORDER BY f
    """))

  // --------------------------------------------------------------- q137
  // Distributed BPE TRAINING, the full loop q130 is one step of:
  // 5 rounds of (corpus-wide pair census → adopt the top pair → fuse
  // every occurrence), starting from bare characters. The oracle
  // expresses the DATA-DEPENDENT merge choices entirely in SQL — five
  // unrolled census/top-1/fuse CTE stages whose replace pattern comes
  // from the 1-row top-1 CTE — so the adopted merge table is
  // hash-gated end-to-end, not just spot-checked.
  private val q137 = Q(
    "q137_bpe_train",
    (s, dir) => TextAnalysis.bpeTrain(
      Tables(s, dir, "documents"), "text", rounds = 5),
    Some(graft.functions.BpeTokenizer.oracleTrainSql(
      5, "documents", "text")))

  // --------------------------------------------------------------- q142
  // Train-then-tokenize, one gated query: induce 3 merges from the
  // corpus (q137's loop), then tokenize the SAME corpus under the
  // trained table and emit per-document counts — the "fit a
  // tokenizer, size your dataset with it" pass. The oracle is the
  // unrolled training SQL carrying doc_id through the fuse stages,
  // ending in the per-doc symbol count — train AND apply hash-gate
  // together, so a drift in either surfaces.
  private val q142 = Q(
    "q142_bpe_train_tokenize",
    (s, dir) => TextAnalysis.bpeTrainAndTokenize(
      Tables(s, dir, "documents"), "doc_id", "text", rounds = 3),
    Some(graft.functions.BpeTokenizer.oracleTrainAndCountSql(
      3, "documents", "text", "doc_id")))

  // --------------------------------------------------------------- q150
  // O(new) incremental bigram census: the stored LM model table
  // (w1, w2, c_ab) absorbs the day's batch without re-tokenizing
  // history — counts add under an append-only corpus, the stored
  // census never crosses an exchange (batch census broadcasts into a
  // map-side merge; new bigrams append via a broadcast anti join), and
  // the oracle is the PLAIN census recompute over the full table, so
  // the hash match proves the merge exact — the q147 discipline
  // applied to the q101 scoring model's state.
  private val q150 = Q(
    "q150_incremental_bigram_census",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val history = docs.filter(col("doc_id") % 3 > 0)
      val batch = docs.filter(col("doc_id") % 3 === 0)
      TextAnalysis.incrementalBigramCensus(
          TextAnalysis.bigramCensus(history, "doc_id", "text"),
          batch, "doc_id", "text")
        .orderBy(col("w1"), col("w2"))
    },
    Some(raw"""
      WITH toks AS (SELECT doc_id, $wordsSql AS w FROM documents),
      pairs AS (
        SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        FROM toks, UNNEST(generate_series(1, len(w) - 1)) t(i))
      SELECT w1, w2, COUNT(*) AS c_ab
      FROM pairs GROUP BY w1, w2
      ORDER BY w1, w2
    """))

  // --------------------------------------------------------------- q191
  // END-TO-END curation pipeline — the library's stages COMPOSED the
  // way a real run schedules them: exact dedup keep-first (q16/q34) →
  // heuristic quality gate (q24's micro score ≥ 0.6) → reproducible
  // 5k-token budget in hash order (q57's distributed prefix sum) →
  // deterministic 5/5/90 split (q44) → per-split doc/token accounting.
  // Every stage is individually oracle-proven; this query proves they
  // COMPOSE (each stage's output frame is the next stage's input, and
  // the one hash gate covers the whole chain). The oracle chains the
  // four stages' CTEs verbatim.
  private val q191 = Q(
    "q191_curation_pipeline",
    (s, dir) => {
      val t = TextAnalysis
      val docs = Tables(s, dir, "documents")
      val keep = graft.operators.Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val survivors = docs
        .join(keep, Seq("doc_id"), "left_semi")
        .withColumn("__w", graft.operators.Dedup.words(col("text")))
        .withColumn("q_micro", t.qualityMicro(col("text"), col("__w")))
        .filter(col("q_micro") >= 600000L)
        .withColumn("n_tokens", t.tokenCount(col("text")))
        .select(col("doc_id"), col("n_tokens"))
      val budgeted = graft.operators.Sampling.tokenBudgetSubset(
        survivors, "doc_id", "n_tokens", budgetTokens = 5000L)
      graft.operators.Sampling.withSplit(budgeted, "doc_id",
          valPct = 5, testPct = 5)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("split"))
    },
    Some(raw"""
      WITH $qmicroCtes,
      keepers AS (
        SELECT MIN(doc_id) AS doc_id FROM documents
        GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))),
      sv AS (
        SELECT q.doc_id, b.n_tokens
        FROM q
        JOIN base b USING (doc_id)
        JOIN keepers k ON k.doc_id = q.doc_id
        WHERE q.qm >= 600000),
      bud AS (
        SELECT doc_id, n_tokens FROM (
          SELECT doc_id, n_tokens,
                 CAST(SUM(n_tokens) OVER (
                   ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT ASC,
                            doc_id ASC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM sv)
        WHERE cum - n_tokens < 5000),
      sp AS (
        SELECT doc_id, n_tokens,
               CASE WHEN b2 < 5 THEN 'val'
                    WHEN b2 < 10 THEN 'test'
                    ELSE 'train' END AS split
        FROM (
          SELECT doc_id, n_tokens,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b2
          FROM bud))
      SELECT split, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM sp GROUP BY split ORDER BY split
    """))

  // --------------------------------------------------------------- q226
  // The EXPORT pipeline — q191's curation chain continued to what a
  // training job actually mounts: dedup → quality gate → token budget
  // → split, then the TRAIN split's text rejoins (id-keyed equi-join)
  // and flows through token-balanced sharding into the integrity
  // MANIFEST (q120 + q141 machinery over the curated subset, not the
  // raw corpus — the shard cut re-derives from the budgeted train
  // mass). One hash gate covers curate → export; the checksum column
  // means a corrupted export of the curated set cannot silently pass.
  private val q226 = Q(
    "q226_export_pipeline",
    (s, dir) => {
      val t = TextAnalysis
      val docs = Tables(s, dir, "documents")
      val keep = graft.operators.Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val survivors = docs
        .join(keep, Seq("doc_id"), "left_semi")
        .withColumn("__w", graft.operators.Dedup.words(col("text")))
        .withColumn("q_micro", t.qualityMicro(col("text"), col("__w")))
        .filter(col("q_micro") >= 600000L)
        .withColumn("n_tokens", t.tokenCount(col("text")))
        .select(col("doc_id"), col("n_tokens"))
      val budgeted = graft.operators.Sampling.tokenBudgetSubset(
        survivors, "doc_id", "n_tokens", budgetTokens = 5000L)
      val train = graft.operators.Sampling.withSplit(budgeted, "doc_id",
          valPct = 5, testPct = 5)
        .filter(col("split") === "train")
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      graft.operators.Sampling.shardManifest(train, "doc_id",
        "n_tokens", "text", nShards = 4)
    },
    Some(raw"""
      WITH $qmicroCtes,
      keepers AS (
        SELECT MIN(doc_id) AS doc_id FROM documents
        GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))),
      sv AS (
        SELECT q.doc_id, b.n_tokens
        FROM q
        JOIN base b USING (doc_id)
        JOIN keepers k ON k.doc_id = q.doc_id
        WHERE q.qm >= 600000),
      bud AS (
        SELECT doc_id, n_tokens FROM (
          SELECT doc_id, n_tokens,
                 CAST(SUM(n_tokens) OVER (
                   ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT ASC,
                            doc_id ASC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM sv)
        WHERE cum - n_tokens < 5000),
      trn AS (
        SELECT doc_id, n_tokens FROM (
          SELECT doc_id, n_tokens,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b2
          FROM bud)
        WHERE b2 >= 10),
      fp AS (
        SELECT t.doc_id, t.n_tokens,
               ('0x' || substr(md5(
                 regexp_replace(lower(trim(d.text)), '\s+', ' ', 'g')), 1, 15))::BIGINT
                 AS fp60
        FROM trn t JOIN documents d USING (doc_id)),
      c AS (
        SELECT doc_id, n_tokens, fp60,
               CAST(SUM(n_tokens) OVER (
                 ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT ASC,
                          doc_id ASC
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM fp),
      tt AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM fp)
      SELECT shard, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
             CAST(bit_xor(fp60) AS BIGINT) AS checksum
      FROM (
        SELECT CAST(((GREATEST(cum, 1) - 1) * 4) // GREATEST(total, 1) AS BIGINT)
                 AS shard,
               n_tokens, fp60
        FROM c CROSS JOIN tt)
      GROUP BY shard ORDER BY shard
    """))

  // --------------------------------------------------------------- q193
  // q191 with the EXPENSIVE half composed in: exact dedup → q187's
  // TOTAL substring redaction (pair lane df=2 ∪ cluster lane df≥3,
  // one keep-first cut) → quality gate ON THE REDACTED TEXT → token
  // budget over POST-redaction token counts → split → accounting.
  // Redaction changes token counts, so every downstream stage
  // consumes different masses than q191 — this is the composition a
  // production curation run actually schedules, and the one hash gate
  // proves the chain end to end (each stage is individually proven by
  // q16/q187/q24/q57/q44; the oracle chains their CTEs verbatim, with
  // the quality CTEs rebased onto the redacted text). Scale shape is
  // inherited stage by stage: the dedup keep-set semi-join and the
  // redaction removal join are size-gated, the budget prefix-sum is
  // the q57 two-pass distributed form, and no stage collects.
  private val q193 = Q(
    "q193_curation_pipeline_redacted",
    (s, dir) => {
      val t = TextAnalysis
      val docs = Tables(s, dir, "documents")
      val keep = graft.operators.Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val survivors = docs.join(keep, Seq("doc_id"), "left_semi")
      // persisted (r18, guide §2.4/§5): kept_text is the whole
      // redact chain (cut join + in-row lambda + concat) — without
      // the barrier, PushDownPredicates clones it into the pushed
      // quality filter and the row chain evaluates twice per doc
      // r19: eager localCheckpoint (see q200) — truncates the redact
      // chain out of the quality/budget tail's plans
      // released by the enclosing CacheScope.withScope (Bench/Verify); unscoped callers own it
      val redacted = graft.util.CacheScope.checkpoint(
        graft.operators.Dedup.redactAllSpans(survivors,
            "doc_id", "text", k = 5, minSpan = 12, maxDf = 2, minDf = 3)
          .select(col("doc_id"), col("kept_text")))
      val gated = redacted
        .withColumn("__w", graft.operators.Dedup.words(col("kept_text")))
        .withColumn("q_micro",
          t.qualityMicro(col("kept_text"), col("__w")))
        .filter(col("q_micro") >= 600000L)
        .withColumn("n_tokens", t.tokenCount(col("kept_text")))
        .select(col("doc_id"), col("n_tokens"))
      val budgeted = graft.operators.Sampling.tokenBudgetSubset(
        gated, "doc_id", "n_tokens", budgetTokens = 5000L)
      graft.operators.Sampling.withSplit(budgeted, "doc_id",
          valPct = 5, testPct = 5)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("split"))
    },
    Some(raw"""
      WITH keepers AS (
        SELECT MIN(doc_id) AS doc_id FROM documents
        GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))),
      norm AS (
        SELECT d.doc_id,
               string_split(regexp_replace(lower(trim(d.text)),
                 '\s+', ' ', 'g'), ' ') AS w
        FROM documents d JOIN keepers k USING (doc_id)),
      shng AS (
        SELECT doc_id, i AS pos,
               ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                  || ' ' || w[i+3] || ' ' || w[i+4]), 1, 15))::BIGINT AS fp
        FROM norm, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
        WHERE len(w) >= 5),
      census AS (
        SELECT fp, COUNT(DISTINCT doc_id) AS df FROM shng GROUP BY fp),
      mm AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
        FROM shng a
        JOIN (SELECT fp FROM census WHERE df = 2) an ON an.fp = a.fp
        JOIN shng b ON a.fp = b.fp AND a.doc_id < b.doc_id),
      isl AS (
        SELECT doc_a, doc_b, diag, pos_a, pos_b,
               pos_a - ROW_NUMBER() OVER (
                 PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS grp
        FROM mm),
      spans AS (
        SELECT doc_a, doc_b, MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
               COUNT(*) + 4 AS span_words
        FROM isl GROUP BY doc_a, doc_b, diag, grp
        HAVING COUNT(*) + 4 >= 12),
      rm1 AS (
        SELECT DISTINCT doc_b AS doc_id, start_b + j AS pos
        FROM spans, UNNEST(generate_series(0, span_words - 1)) AS t(j)),
      hisl AS (
        SELECT s.doc_id, s.pos, s.fp,
               s.pos - ROW_NUMBER() OVER (PARTITION BY s.doc_id
                 ORDER BY s.pos) AS grp
        FROM shng s JOIN (SELECT fp FROM census WHERE df >= 3) h
          ON h.fp = s.fp),
      runs AS (
        SELECT doc_id, MIN(pos) AS start_pos, COUNT(*) + 4 AS span_words,
               md5(string_agg(CAST(fp AS VARCHAR), ',' ORDER BY pos))
                 AS span_sig
        FROM hisl GROUP BY doc_id, grp
        HAVING COUNT(*) + 4 >= 12),
      cl AS (
        SELECT doc_id, start_pos, span_words,
               ROW_NUMBER() OVER (PARTITION BY span_sig
                 ORDER BY doc_id, start_pos) = 1 AS is_keeper
        FROM runs),
      rm2 AS (
        SELECT DISTINCT doc_id, start_pos + j AS pos
        FROM cl, UNNEST(generate_series(0, span_words - 1)) AS t(j)
        WHERE NOT is_keeper),
      rm AS (SELECT doc_id, pos FROM rm1 UNION SELECT doc_id, pos FROM rm2),
      wp AS (
        SELECT doc_id, i AS pos, w[i] AS word
        FROM norm, UNNEST(generate_series(1, len(w))) AS t(i)),
      kept AS (
        SELECT wp.doc_id, wp.pos, wp.word
        FROM wp LEFT JOIN rm ON rm.doc_id = wp.doc_id AND rm.pos = wp.pos
        WHERE rm.pos IS NULL),
      red AS (
        SELECT n.doc_id, COALESCE(kk.t, '') AS text
        FROM norm n LEFT JOIN (
          SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS t
          FROM kept GROUP BY doc_id) kk USING (doc_id)),
      rb AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END
                 AS n_tokens,
               CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
                 AS BIGINT) AS n_punct,
               CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                 AS BIGINT) AS n_digit,
               ${scoreSql("en")} AS s_en
        FROM (SELECT doc_id, text, $wordsSql AS w FROM red)),
      rq AS (
        SELECT doc_id, n_tokens,
               CAST(ROUND(ROUND(
                 0.4 * least(n_chars / 500.0, 1.0)
               + 0.2 * (1.0 - least((n_punct / greatest(n_chars, 1.0)) * 10.0, 1.0))
               + 0.2 * (1.0 - least((n_digit / greatest(n_chars, 1.0)) * 10.0, 1.0))
               + 0.2 * least((s_en / greatest(CAST(n_tokens AS DOUBLE), 1.0)) * 5.0, 1.0),
                 6) * 1000000) AS BIGINT) AS qm
        FROM rb),
      sv AS (
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens
        FROM rq WHERE qm >= 600000),
      bud AS (
        SELECT doc_id, n_tokens FROM (
          SELECT doc_id, n_tokens,
                 CAST(SUM(n_tokens) OVER (
                   ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT ASC,
                            doc_id ASC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM sv)
        WHERE cum - n_tokens < 5000),
      sp AS (
        SELECT doc_id, n_tokens,
               CASE WHEN b2 < 5 THEN 'val'
                    WHEN b2 < 10 THEN 'test'
                    ELSE 'train' END AS split
        FROM (
          SELECT doc_id, n_tokens,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b2
          FROM bud))
      SELECT split, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM sp GROUP BY split ORDER BY split
    """))

  // --------------------------------------------------------------- q200
  // The TOTAL curation pipeline — all three text-cleaning passes this
  // library ships, composed in production order under ONE hash gate:
  // exact dedup (corpus only; the benchmark never enters) → q187
  // total substring redaction → q196 benchmark-decontamination
  // redaction ON THE REDACTED TEXT → quality gate and token counts on
  // the final text → q57 token budget → q44 split → accounting. Each
  // downstream stage consumes the text the upstream stages actually
  // produced — the property q191/q193 prove for their prefixes,
  // extended to the full chain. The oracle chains the keeper CTEs,
  // the q187 cut, the q180 winnow/match/stitch chain RE-DERIVED over
  // the redacted words, the second cut, and the quality/budget/split
  // tail — ~all of the library's text machinery under one hash.
  private val q200 = Q(
    "q200_total_curation_pipeline",
    (s, dir) => {
      val t = TextAnalysis
      val docs = Tables(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 25 === 0)
      val corpus0 = docs.filter(col("doc_id") % 25 =!= 0)
      val keep = graft.operators.Dedup.exact(corpus0, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val survivors = corpus0.join(keep, Seq("doc_id"), "left_semi")
      // both stage outputs persisted (r18, guide §2.4/§5): `redacted`
      // feeds TWO consumers inside redactContamination (the winnow
      // fingerprint fill and the cut join's text side) — unpersisted,
      // the whole q187 redact chain ran twice; `decon` feeds the
      // quality gate, whose pushed filter would otherwise clone the
      // decontam cut chain into a second per-row evaluation
      // r19: eager localCheckpoint, not persist — the redact chain is
      // the plan-size driver here (the r18 plan was still 2353 lines
      // after the persists, because InMemoryRelation keeps the full
      // subtree in every consumer's analysis and AQE replan);
      // truncating to an RDD leaf cuts the downstream decontam/quality
      // plans to the composed stages actually being planned
      // released by the enclosing CacheScope.withScope (Bench/Verify); unscoped callers own it
      val redacted = graft.util.CacheScope.checkpoint(
        graft.operators.Dedup.redactAllSpans(survivors,
            "doc_id", "text", k = 5, minSpan = 12, maxDf = 2, minDf = 3)
          .select(col("doc_id"), col("kept_text").as("text")))
      // released by the enclosing CacheScope.withScope (Bench/Verify); unscoped callers own it
      val decon = graft.util.CacheScope.checkpoint(
        graft.operators.Decontam.redactContamination(redacted,
            bench, "doc_id", "text", k = 3, windowW = 4, minShared = 2,
            maxGap = 7, minSpan = 3)
          .select(col("doc_id"), col("kept_text")))
      val gated = decon
        .withColumn("__w", graft.operators.Dedup.words(col("kept_text")))
        .withColumn("q_micro",
          t.qualityMicro(col("kept_text"), col("__w")))
        .filter(col("q_micro") >= 600000L)
        .withColumn("n_tokens", t.tokenCount(col("kept_text")))
        .select(col("doc_id"), col("n_tokens"))
      val budgeted = graft.operators.Sampling.tokenBudgetSubset(
        gated, "doc_id", "n_tokens", budgetTokens = 5000L)
      graft.operators.Sampling.withSplit(budgeted, "doc_id",
          valPct = 5, testPct = 5)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("split"))
    },
    Some(raw"""
      WITH normAll AS (
        SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)),
                 '\s+', ' ', 'g'), ' ') AS w
        FROM documents),
      keepers AS (
        SELECT MIN(doc_id) AS doc_id FROM documents
        WHERE doc_id % 25 <> 0
        GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))),
      norm AS (
        SELECT n.doc_id, n.w FROM normAll n JOIN keepers k USING (doc_id)),
      shng AS (
        SELECT doc_id, i AS pos,
               ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                  || ' ' || w[i+3] || ' ' || w[i+4]), 1, 15))::BIGINT AS fp
        FROM norm, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
        WHERE len(w) >= 5),
      census AS (
        SELECT fp, COUNT(DISTINCT doc_id) AS df FROM shng GROUP BY fp),
      mmr AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
        FROM shng a
        JOIN (SELECT fp FROM census WHERE df = 2) an ON an.fp = a.fp
        JOIN shng b ON a.fp = b.fp AND a.doc_id < b.doc_id),
      islr AS (
        SELECT doc_a, doc_b, diag, pos_a, pos_b,
               pos_a - ROW_NUMBER() OVER (
                 PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS grp
        FROM mmr),
      spansr AS (
        SELECT doc_a, doc_b, MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
               COUNT(*) + 4 AS span_words
        FROM islr GROUP BY doc_a, doc_b, diag, grp
        HAVING COUNT(*) + 4 >= 12),
      rm1 AS (
        SELECT DISTINCT doc_b AS doc_id, start_b + j AS pos
        FROM spansr, UNNEST(generate_series(0, span_words - 1)) AS t(j)),
      hislr AS (
        SELECT s.doc_id, s.pos, s.fp,
               s.pos - ROW_NUMBER() OVER (PARTITION BY s.doc_id
                 ORDER BY s.pos) AS grp
        FROM shng s JOIN (SELECT fp FROM census WHERE df >= 3) h
          ON h.fp = s.fp),
      runsr AS (
        SELECT doc_id, MIN(pos) AS start_pos, COUNT(*) + 4 AS span_words,
               md5(string_agg(CAST(fp AS VARCHAR), ',' ORDER BY pos))
                 AS span_sig
        FROM hislr GROUP BY doc_id, grp
        HAVING COUNT(*) + 4 >= 12),
      clr AS (
        SELECT doc_id, start_pos, span_words,
               ROW_NUMBER() OVER (PARTITION BY span_sig
                 ORDER BY doc_id, start_pos) = 1 AS is_keeper
        FROM runsr),
      rm2 AS (
        SELECT DISTINCT doc_id, start_pos + j AS pos
        FROM clr, UNNEST(generate_series(0, span_words - 1)) AS t(j)
        WHERE NOT is_keeper),
      rma AS (SELECT doc_id, pos FROM rm1 UNION SELECT doc_id, pos FROM rm2),
      wpr AS (
        SELECT doc_id, i AS pos, w[i] AS word
        FROM norm, UNNEST(generate_series(1, len(w))) AS t(i)),
      keptr AS (
        SELECT wpr.doc_id, wpr.pos, wpr.word
        FROM wpr LEFT JOIN rma ON rma.doc_id = wpr.doc_id
          AND rma.pos = wpr.pos
        WHERE rma.pos IS NULL),
      red AS (
        SELECT n.doc_id, COALESCE(kk.t, '') AS text
        FROM norm n LEFT JOIN (
          SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS t
          FROM keptr GROUP BY doc_id) kk USING (doc_id)),
      rw AS (SELECT doc_id, string_split(text, ' ') AS w FROM red),
      kgC AS (
        SELECT doc_id, i AS p,
               ('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15))::BIGINT
                 AS h
        FROM rw, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3),
      kgB AS (
        SELECT doc_id, i AS p,
               ('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15))::BIGINT
                 AS h
        FROM normAll, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        WHERE doc_id % 25 = 0 AND len(w) >= 3),
      mC AS (SELECT doc_id, COUNT(*) AS m FROM kgC GROUP BY doc_id),
      mB AS (SELECT doc_id, COUNT(*) AS m FROM kgB GROUP BY doc_id),
      winsC AS (
        SELECT doc_id, j
        FROM mC, UNNEST(generate_series(1, greatest(m - 3, 1))) AS t(j)),
      winsB AS (
        SELECT doc_id, j
        FROM mB, UNNEST(generate_series(1, greatest(m - 3, 1))) AS t(j)),
      selC AS (
        SELECT DISTINCT doc_id, p, h FROM (
          SELECT wn.doc_id, wn.j, g.p, g.h,
                 ROW_NUMBER() OVER (PARTITION BY wn.doc_id, wn.j
                   ORDER BY g.h ASC, g.p DESC) AS rn
          FROM winsC wn JOIN kgC g
            ON g.doc_id = wn.doc_id AND g.p BETWEEN wn.j AND wn.j + 3)
        WHERE rn = 1),
      selB AS (
        SELECT DISTINCT doc_id, p, h FROM (
          SELECT wn.doc_id, wn.j, g.p, g.h,
                 ROW_NUMBER() OVER (PARTITION BY wn.doc_id, wn.j
                   ORDER BY g.h ASC, g.p DESC) AS rn
          FROM winsB wn JOIN kgB g
            ON g.doc_id = wn.doc_id AND g.p BETWEEN wn.j AND wn.j + 3)
        WHERE rn = 1),
      matched AS (
        SELECT c.doc_id AS doc_a, b.doc_id AS doc_b,
               c.p AS pos_a, b.p AS pos_b, c.h AS h, c.p - b.p AS diag
        FROM selC c JOIN selB b ON c.h = b.h),
      pairsd AS (
        SELECT doc_a, doc_b FROM (
          SELECT doc_a, doc_b, COUNT(DISTINCT h) AS n
          FROM matched GROUP BY 1, 2)
        WHERE n >= 2),
      mmd AS (SELECT m.* FROM matched m JOIN pairsd USING (doc_a, doc_b)),
      isld AS (
        SELECT doc_a, doc_b, diag, pos_a, pos_b,
               pos_a - ROW_NUMBER() OVER (
                 PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS grp
        FROM mmd),
      isld2 AS (
        SELECT doc_a, doc_b, diag, MIN(pos_a) AS sa, MIN(pos_b) AS sb,
               COUNT(*) + 2 AS sw
        FROM isld GROUP BY doc_a, doc_b, diag, grp),
      markd AS (
        SELECT doc_a, doc_b, diag, sa, sb, sw,
               CASE WHEN LAG(sa + sw - 1) OVER w IS NULL
                     OR sa - LAG(sa + sw - 1) OVER w - 1 > 7
                    THEN 1 ELSE 0 END AS brk
        FROM isld2
        WINDOW w AS (PARTITION BY doc_a, doc_b, diag ORDER BY sa)),
      std AS (
        SELECT doc_a, doc_b, diag, sa, sb, sw,
               SUM(brk) OVER (PARTITION BY doc_a, doc_b, diag ORDER BY sa
                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM markd),
      spd AS (
        SELECT doc_a AS doc_id, MIN(sa) AS start_doc,
               MAX(sa + sw) - MIN(sa) AS span_words
        FROM std GROUP BY doc_a, doc_b, diag, sid
        HAVING MAX(sa + sw) - MIN(sa) >= 3),
      rmb AS (
        SELECT DISTINCT doc_id, start_doc + j AS pos
        FROM spd, UNNEST(generate_series(0, span_words - 1)) AS t(j)),
      wpd AS (
        SELECT doc_id, i AS pos, w[i] AS word
        FROM rw, UNNEST(generate_series(1, len(w))) AS t(i)),
      keptd AS (
        SELECT wpd.doc_id, wpd.pos, wpd.word
        FROM wpd LEFT JOIN rmb ON rmb.doc_id = wpd.doc_id
          AND rmb.pos = wpd.pos
        WHERE rmb.pos IS NULL),
      fin AS (
        SELECT r.doc_id, COALESCE(kk.t, '') AS text
        FROM rw r LEFT JOIN (
          SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS t
          FROM keptd GROUP BY doc_id) kk USING (doc_id)),
      rb AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END
                 AS n_tokens,
               CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
                 AS BIGINT) AS n_punct,
               CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                 AS BIGINT) AS n_digit,
               ${scoreSql("en")} AS s_en
        FROM (SELECT doc_id, text, $wordsSql AS w FROM fin)),
      rq AS (
        SELECT doc_id, n_tokens,
               CAST(ROUND(ROUND(
                 0.4 * least(n_chars / 500.0, 1.0)
               + 0.2 * (1.0 - least((n_punct / greatest(n_chars, 1.0)) * 10.0, 1.0))
               + 0.2 * (1.0 - least((n_digit / greatest(n_chars, 1.0)) * 10.0, 1.0))
               + 0.2 * least((s_en / greatest(CAST(n_tokens AS DOUBLE), 1.0)) * 5.0, 1.0),
                 6) * 1000000) AS BIGINT) AS qm
        FROM rb),
      sv AS (
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens
        FROM rq WHERE qm >= 600000),
      bud AS (
        SELECT doc_id, n_tokens FROM (
          SELECT doc_id, n_tokens,
                 CAST(SUM(n_tokens) OVER (
                   ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT ASC,
                            doc_id ASC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM sv)
        WHERE cum - n_tokens < 5000),
      sp AS (
        SELECT doc_id, n_tokens,
               CASE WHEN b2 < 5 THEN 'val'
                    WHEN b2 < 10 THEN 'test'
                    ELSE 'train' END AS split
        FROM (
          SELECT doc_id, n_tokens,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b2
          FROM bud))
      SELECT split, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM sp GROUP BY split ORDER BY split
    """))

  def all: Seq[Q] = Seq(q23, q24, q25, q26, q33, q44, q45, q46, q47, q50,
    q56, q57, q91, q101, q111, q113, q123, q126, q130, q134, q135, q136,
    q137, q140, q142, q150, q159, q163, q164, q170, q172, q174, q191,
    q193, q200, q226)
}
