package graft.operators

import org.apache.spark.sql.graft.CheckpointOps.FenceSyntax
import graft.{Fns, QueryDef, Tables}

/** Text normalization / filtering / analysis operators.
  *
  * Reference operators covered (SURVEY.md §2.2 / §2.7):
  *  - E4 whitespace normalization (`src/pdf_extractor.py:30`)
  *  - E5 min-length paragraph filter (`src/pdf_extractor.py:32-33`)
  * plus the training-data-pipeline text-analysis extensions: token
  * counting, language-ID heuristic, quality scoring, document
  * fingerprinting, per-group text statistics.
  *
  * Everything is pure `org.apache.spark.sql.functions` / Catalyst
  * expressions — single narrow-dependency scans (no shuffle except the
  * explicit group-bys), codegen-friendly, and safe at any scale.
  */
object TextOps {

  private val P = 1000000007L // fold modulus for fingerprints (fits 2^35 * 31 in int64)

  /** Stopword list used by quality scoring + language ID (tiny, inlined
    * in both Spark and oracle SQL so the two stay in lockstep).
    */
  private val stop = Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
  private val stopSql = stop.map(s => s"'$s'").mkString(", ")

  /** ta_vocab_hll's oracle, shared by st_hll. */
  private[graft] val vocabHllOracleSql: String = s"""
        WITH sh AS (${Dedup.shingleHashesSql}),
        post AS (SELECT unnest(hs) AS h FROM sh),
        rk AS (
          SELECT h // 4503599627370496 AS b,
                 53 - length(regexp_replace(bin(h % 4503599627370496), '^0+', '')) AS r
          FROM post),
        mb AS (SELECT b, max(r) AS mr FROM rk GROUP BY b),
        allb AS (
          SELECT gs.b, coalesce(mb.mr, 0) AS M
          FROM (SELECT unnest(generate_series(0, 255)) AS b) gs
          LEFT JOIN mb ON gs.b = mb.b),
        agg AS (
          SELECT list_sum(list(pow(2, -M) ORDER BY b)) AS S,
                 sum(CASE WHEN M > 0 THEN 1 ELSE 0 END) AS hit
          FROM allb)
        SELECT 256::BIGINT AS m_buckets, hit::BIGINT AS buckets_hit,
               round((0.7213 / (1 + 1.079 / 256)) * 256 * 256 / S, 4) AS hll_est
        FROM agg"""

  def queries: Seq[QueryDef] = Seq(
    // ---------------------------------------------------------------- E4
    QueryDef(
      "e4_clean",
      (spark, dir) =>
        Tables.documents(spark, dir).selectExpr(
          "doc_id",
          s"${Fns.cleanTextSql("text")} AS text_clean"),
      Some(s"""
        SELECT doc_id, ${Fns.cleanTextDuck("text")} AS text_clean
        FROM documents""")),

    // ---------------------------------------------------------------- E5
    QueryDef(
      "e5_filter",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr(
            "doc_id",
            s"${Fns.cleanTextSql("text")} AS text_clean")
          // char_length, NOT octet_length: the reference counts Python
          // characters (matters for CJK text).
          .selectExpr("doc_id", "text_clean", "cast(length(text_clean) AS bigint) AS char_len")
          .where("char_len >= 10"),
      Some(s"""
        SELECT doc_id, text_clean, length(text_clean)::BIGINT AS char_len
        FROM (SELECT doc_id, ${Fns.cleanTextDuck("text")} AS text_clean
              FROM documents)
        WHERE length(text_clean) >= 10""")),

    // ------------------------------------------------- token counting (extension)
    QueryDef(
      "ta_tokens",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id", s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr(
            "doc_id",
            "cast(size(split(tc, ' ')) AS bigint) AS n_tokens_ws",
            "cast(size(filter(split(tc, '[^a-z0-9]+'), t -> t != '')) AS bigint) AS n_tokens_re",
            // BPE-ish upper bound: ~4 chars/token, exact integer math
            "cast((length(tc) + 3) div 4 AS bigint) AS n_tokens_bpe"),
      Some(s"""
        SELECT doc_id,
               len(string_split(tc, ' '))::BIGINT AS n_tokens_ws,
               len(list_filter(string_split_regex(tc, '[^a-z0-9]+'), t -> t != ''))::BIGINT AS n_tokens_re,
               ((length(tc) + 3) // 4)::BIGINT AS n_tokens_bpe
        FROM (SELECT doc_id, ${Fns.cleanTextDuck("text")} AS tc
              FROM documents)""")),

    // --------------------------- vocabulary coverage (tokenizer design)
    // "How much of the corpus does a K-entry vocabulary cover?" — the
    // question a tokenizer budget decision starts from. Token counts
    // fold corpus-wide (partial-aggregated, vocab-sized result); the
    // rank window runs over the BOUNDED vocab table, never the corpus;
    // coverage shares are exact integer ppm. Ties rank
    // deterministically by (count desc, token asc) in both engines.
    QueryDef(
      "ta_vocab_coverage",
      (spark, dir) => {
        val counts = Tables.documents(spark, dir)
          .selectExpr(s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("explode(split(tc, ' ')) AS tok")
          .where("tok != ''")
          .groupBy("tok")
          .agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n"))
        val ranked = counts.selectExpr("tok", "n",
          "row_number() OVER (ORDER BY n DESC, tok) AS rk")
        val total = counts.agg(org.apache.spark.sql.functions.expr("cast(sum(n) AS bigint) AS total"))
        ranked.crossJoin(org.apache.spark.sql.functions.broadcast(total))
          .selectExpr("n", "rk", "total",
            "explode(array(10, 100, 1000)) AS vocab_k")
          .where("rk <= vocab_k")
          .groupBy("vocab_k", "total")
          .agg(org.apache.spark.sql.functions.expr("cast(sum(n) AS bigint) AS covered"))
          .selectExpr("cast(vocab_k AS bigint) AS vocab_k", "total", "covered",
            "covered * 1000000L div total AS coverage_ppm")
      },
      Some(s"""
        WITH toks AS (
          SELECT unnest(string_split(${Fns.cleanTextDuck("text")}, ' ')) AS tok
          FROM documents),
        counts AS (
          SELECT tok, count(*)::BIGINT AS n FROM toks WHERE tok != '' GROUP BY tok),
        ranked AS (
          SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rk FROM counts),
        total AS (SELECT sum(n)::BIGINT AS total FROM counts)
        SELECT k.vocab_k::BIGINT AS vocab_k, total, sum(n)::BIGINT AS covered,
               (sum(n) * 1000000 // total)::BIGINT AS coverage_ppm
        FROM ranked, total, (SELECT unnest([10, 100, 1000]) AS vocab_k) k
        WHERE rk <= k.vocab_k
        GROUP BY k.vocab_k, total""")),

    // --------------------------------- type-token ratio (lexical diversity)
    // The Gopher-family repetitiveness complement: distinct whitespace
    // tokens over total tokens, in integer ppm. Low TTR = template/
    // boilerplate text; quality pipelines gate on it alongside the
    // repetition metrics. Row-local (array ops inside the scan), the
    // division is exact integer ppm — nothing for engines to disagree on.
    QueryDef(
      "ta_ttr",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id", s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("doc_id", "split(tc, ' ') AS toks")
          .selectExpr(
            "doc_id",
            "cast(size(toks) AS bigint) AS n_tokens",
            "cast(size(array_distinct(toks)) AS bigint) AS n_types")
          .selectExpr("doc_id", "n_tokens", "n_types",
            "CASE WHEN n_tokens = 0 THEN 0L ELSE n_types * 1000000L div n_tokens END AS ttr_ppm"),
      Some(s"""
        SELECT doc_id, n_tokens, n_types,
               CASE WHEN n_tokens = 0 THEN 0
                    ELSE n_types * 1000000 // n_tokens END::BIGINT AS ttr_ppm
        FROM (
          SELECT doc_id,
                 len(toks)::BIGINT AS n_tokens,
                 len(list_distinct(toks))::BIGINT AS n_types
          FROM (SELECT doc_id, string_split(${Fns.cleanTextDuck("text")}, ' ') AS toks
                FROM documents))""")),

    // ---------------- per-source lexical concentration (Gini–Simpson)
    // ta_ttr measures per-DOC lexical variety; this measures per-SOURCE
    // concentration: 1 − Σ(c_w/N)², the probability two random tokens
    // from the source differ — near 1 for natural text, collapsing
    // toward 0 for template/boilerplate-dominated sources, which is
    // what makes it a corpus-triage signal next to ta_gopher/ta_hhi
    // (ta_hhi applies the same index to source SHARES; this applies it
    // to each source's own vocabulary). Exact rational arithmetic:
    // simpson_ppm = 1e6 − Σc²·1e6 div N², with Σc² accumulated in
    // DECIMAL(38,0) (N² at 100 TB exceeds int64; the ridge-moments
    // headroom). Scale shape: one (source, word)-keyed count exchange
    // (partial-aggregated) then a source-bounded reduce.
    QueryDef(
      "ta_simpson",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("source",
            s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("source", "explode(split(tc, ' ')) AS w")
          .groupBy("source", "w")
          .agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS c"))
          .groupBy("source")
          .agg(
            org.apache.spark.sql.functions.expr("cast(sum(cast(c AS decimal(38,0))) AS decimal(38,0)) AS nt"),
            org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n_types"),
            org.apache.spark.sql.functions.expr("cast(sum(cast(c AS decimal(38,0)) * c) AS decimal(38,0)) AS sumsq"))
          .selectExpr("source",
            "cast(nt AS bigint) AS n_tokens", "n_types",
            "cast(1000000L - (sumsq * 1000000L) div (nt * nt) AS bigint) AS simpson_ppm"),
      Some(s"""
        SELECT source, n_tokens::BIGINT AS n_tokens, n_types,
               (1000000 - (sumsq * 1000000) // (n_tokens * n_tokens))::BIGINT AS simpson_ppm
        FROM (
          SELECT source, sum(c)::HUGEINT AS n_tokens, count(*)::BIGINT AS n_types,
                 sum(c::HUGEINT * c)::HUGEINT AS sumsq
          FROM (SELECT source, w, count(*)::BIGINT AS c
                FROM (SELECT source,
                             unnest(string_split(${Fns.cleanTextDuck("text")}, ' ')) AS w
                      FROM documents)
                GROUP BY source, w)
          GROUP BY source)""")),

    // ------------------------------------------------- language ID (extension)
    // n-gram/charclass heuristic: CJK-codepoint ratio decides zh; else a
    // stopword vote (same tiny list both engines). On the synthetic corpus
    // accuracy is irrelevant — the contract is determinism + identical
    // semantics in both engines.
    QueryDef(
      "ta_langid",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id", s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr(
            "doc_id",
            "cast(length(tc) - length(regexp_replace(tc, '[一-鿿]', '')) AS bigint) AS cjk_chars",
            "cast(length(tc) AS bigint) AS char_len",
            s"cast(size(filter(split(tc, ' '), t -> t IN ($stopSql))) AS bigint) AS stop_hits")
          .selectExpr(
            "doc_id", "cjk_chars", "stop_hits",
            """CASE WHEN char_len > 0 AND cjk_chars * 5 > char_len THEN 'zh'
                    WHEN stop_hits >= 3 THEN 'en'
                    ELSE 'other' END AS lang_pred"""),
      Some(s"""
        SELECT doc_id, cjk_chars, stop_hits,
               CASE WHEN char_len > 0 AND cjk_chars * 5 > char_len THEN 'zh'
                    WHEN stop_hits >= 3 THEN 'en'
                    ELSE 'other' END AS lang_pred
        FROM (SELECT doc_id,
                     (length(tc) - length(regexp_replace(tc, '[\\x{4e00}-\\x{9fff}]', '', 'g')))::BIGINT AS cjk_chars,
                     length(tc)::BIGINT AS char_len,
                     len(list_filter(string_split(tc, ' '), t -> t IN ($stopSql)))::BIGINT AS stop_hits
              FROM (SELECT doc_id, ${Fns.cleanTextDuck("text")} AS tc
                    FROM documents))""")),

    // ------------------------------------------------- quality scoring (extension)
    // All ratios are single IEEE double divisions of exact integers —
    // bit-identical across engines, no rounding fudge needed.
    QueryDef(
      "ta_quality",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id", s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr(
            "doc_id",
            "cast(length(tc) AS bigint) AS char_len",
            "cast(size(split(tc, ' ')) AS bigint) AS n_tokens",
            "cast(length(tc) - length(regexp_replace(tc, '[.,!?;:]', '')) AS bigint) AS punct_chars",
            s"cast(size(filter(split(tc, ' '), t -> t IN ($stopSql))) AS bigint) AS stop_tokens")
          .selectExpr(
            "doc_id", "char_len", "n_tokens",
            // n_tokens >= 1 always (split of '' is ['']), but char_len
            // can be 0: Spark's Divide yields NULL there while DuckDB's
            // IEEE default yields NaN — guard to 0.0 in BOTH engines
            "cast(char_len - (n_tokens - 1) AS double) / cast(n_tokens AS double) AS avg_token_len",
            "CASE WHEN char_len = 0 THEN 0.0 ELSE cast(punct_chars AS double) / cast(char_len AS double) END AS punct_ratio",
            "cast(stop_tokens AS double) / cast(n_tokens AS double) AS stopword_ratio")
          .selectExpr(
            "doc_id", "char_len", "n_tokens", "avg_token_len", "punct_ratio", "stopword_ratio",
            // toy composite score. Each term is cast to DOUBLE before the
            // sum: a bare 0.5 literal parses as DECIMAL in both engines
            // and the decimal sum would leak a DecimalType gate column
            // (banned — RegistrySpec); the left-assoc IEEE double sum is
            // bit-identical cross-engine.
            """cast(CASE WHEN char_len >= 50 AND char_len <= 2000 THEN 0.5 ELSE 0.0 END AS double)
               + cast(CASE WHEN avg_token_len >= 3.0 AND avg_token_len <= 12.0 THEN 0.3 ELSE 0.0 END AS double)
               + cast(CASE WHEN stopword_ratio >= 0.05 THEN 0.2 ELSE 0.0 END AS double) AS quality_score"""),
      Some(s"""
        SELECT doc_id, char_len, n_tokens, avg_token_len, punct_ratio, stopword_ratio,
               CAST(CASE WHEN char_len >= 50 AND char_len <= 2000 THEN 0.5 ELSE 0.0 END AS DOUBLE)
               + CAST(CASE WHEN avg_token_len >= 3.0 AND avg_token_len <= 12.0 THEN 0.3 ELSE 0.0 END AS DOUBLE)
               + CAST(CASE WHEN stopword_ratio >= 0.05 THEN 0.2 ELSE 0.0 END AS DOUBLE) AS quality_score
        FROM (
          SELECT doc_id, char_len, n_tokens,
                 (char_len - (n_tokens - 1))::DOUBLE / n_tokens::DOUBLE AS avg_token_len,
                 CASE WHEN char_len = 0 THEN 0.0 ELSE punct_chars::DOUBLE / char_len::DOUBLE END AS punct_ratio,
                 stop_tokens::DOUBLE / n_tokens::DOUBLE AS stopword_ratio
          FROM (
            SELECT doc_id,
                   length(tc)::BIGINT AS char_len,
                   len(string_split(tc, ' '))::BIGINT AS n_tokens,
                   (length(tc) - length(regexp_replace(tc, '[.,!?;:]', '', 'g')))::BIGINT AS punct_chars,
                   len(list_filter(string_split(tc, ' '), t -> t IN ($stopSql)))::BIGINT AS stop_tokens
            FROM (SELECT doc_id, ${Fns.cleanTextDuck("text")} AS tc
                  FROM documents)))""")),

    // ------------------------------------- Gopher quality rules (extension)
    // The full repetition-free rule set from Rae et al. 2021 (Gopher,
    // appendix A1.1) as a per-document rule TABLE — where ta_quality is
    // a composite score, this is the production go/no-go filter corpora
    // actually ship with: word-count bounds, mean-word-length band,
    // symbol-to-word ratio (# and ... marks), alphabetic-word floor,
    // bullet-/ellipsis-line caps, and the required-stopword floor.
    // Every ratio test is an INTEGER cross-multiplication (sym·10 ≤
    // n_words, alpha·10 ≥ n_words·8, …) — no float boundary can flip a
    // verdict cross-engine. Scale shape: pure per-row projection over
    // one corpus scan; the rule columns all derive from the same split
    // arrays, nothing shuffles until the caller aggregates.
    // --------------------------- source concentration (data-card HHI)
    // The Herfindahl–Hirschman concentration index of provenance
    // shares within each language — the dataset-card number that says
    // "is this slice one crawl wearing twenty source tags?". Exact
    // integers end to end: per-source share in ppm (1e6 div over the
    // per-lang window total), HHI = Σ share² div 1e6 (≤ 1e6, no
    // overflow), top share alongside. Scale shape: one
    // partial-aggregated (lang, source) count — the corpus reduction —
    // then a provenance-bounded window + rollup; nothing after the
    // first aggregate touches corpus-sized data.
    QueryDef(
      "ta_hhi",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .groupBy("lang", "source")
          .agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n"))
          .selectExpr("lang", "source", "n",
            "n * 1000000 div (sum(n) OVER (PARTITION BY lang)) AS share_ppm")
          .groupBy("lang")
          .agg(
            org.apache.spark.sql.functions.expr("cast(sum(n) AS bigint) AS n_docs"),
            org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n_sources"),
            org.apache.spark.sql.functions.expr("cast(max(share_ppm) AS bigint) AS top_share_ppm"),
            org.apache.spark.sql.functions.expr("cast(sum(share_ppm * share_ppm) div 1000000 AS bigint) AS hhi_ppm")),
      Some("""
        WITH c AS (
          SELECT lang, source, count(*)::BIGINT AS n FROM documents GROUP BY 1, 2),
        s AS (
          SELECT lang, source, n,
                 (n * 1000000 // (sum(n) OVER (PARTITION BY lang))::BIGINT)::BIGINT AS share_ppm
          FROM c)
        SELECT lang, sum(n)::BIGINT AS n_docs, count(*)::BIGINT AS n_sources,
               max(share_ppm)::BIGINT AS top_share_ppm,
               (sum(share_ppm * share_ppm)::BIGINT // 1000000)::BIGINT AS hhi_ppm
        FROM s GROUP BY lang""")),

    QueryDef(
      "ta_gopher",
      (spark, dir) => gopherRules(Tables.documents(spark, dir)),
      Some(s"""
        SELECT doc_id, n_words, alpha_words, sym_count, stop_hits,
               r_words, r_word_len, r_symbols, r_alpha, r_bullets, r_ellipsis,
               r_stopwords,
               (r_words AND r_word_len AND r_symbols AND r_alpha AND r_bullets
                AND r_ellipsis AND r_stopwords) AS keep
        FROM (
          SELECT doc_id, n_words, alpha_words, sym_count, stop_hits,
                 (n_words >= 50 AND n_words <= 100000) AS r_words,
                 (3 * n_words <= char_len - (n_words - 1)
                  AND char_len - (n_words - 1) <= 10 * n_words) AS r_word_len,
                 (sym_count * 10 <= n_words) AS r_symbols,
                 (alpha_words * 10 >= n_words * 8) AS r_alpha,
                 (bullet_lines * 10 <= n_lines * 9) AS r_bullets,
                 (ellipsis_lines * 10 <= n_lines * 3) AS r_ellipsis,
                 (stop_hits >= 2) AS r_stopwords
          FROM (
            SELECT doc_id,
                   len(ws)::BIGINT AS n_words,
                   length(tc)::BIGINT AS char_len,
                   len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))::BIGINT AS alpha_words,
                   (length(text) - length(replace(text, '#', ''))
                    + (length(text) - length(replace(text, '...', ''))) // 3)::BIGINT AS sym_count,
                   len(lines)::BIGINT AS n_lines,
                   len(list_filter(lines, l -> starts_with(l, '- ') OR starts_with(l, '* ')
                       OR starts_with(l, chr(8226))))::BIGINT AS bullet_lines,
                   len(list_filter(lines, l -> ends_with(l, '...')
                       OR ends_with(l, chr(8230))))::BIGINT AS ellipsis_lines,
                   len(list_filter(['the','be','to','of','and','that','have','with'],
                                   s -> list_contains(ws, s)))::BIGINT AS stop_hits
            FROM (
              SELECT doc_id, text,
                     ${Fns.cleanTextDuck("text")} AS tc,
                     string_split(${Fns.cleanTextDuck("text")}, ' ') AS ws,
                     string_split(text, chr(10)) AS lines
              FROM documents)))""")),

    // ----------------------------------------- bigram frequency (extension)
    // Corpus-wide top-20 word bigrams: explode → hash aggregate (partial
    // map-side combine) → TakeOrderedAndProject. The shuffle carries one
    // partial count per distinct bigram per partition — at 100 TB the
    // n-gram LM / collocation-stats shape. Tie-break on the bigram
    // string keeps the LIMIT set deterministic (ASCII corpus ⇒ binary
    // collation agrees across engines).
    QueryDef(
      "ta_bigram_freq",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .repartition(spark.sessionState.conf.numShufflePartitions,
            org.apache.spark.sql.functions.col("doc_id"))
          .selectExpr(s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("split(tc, ' ') AS toks")
          .where("size(toks) >= 2")
          .selectExpr(
            "explode(transform(sequence(1, size(toks) - 1, 1), i -> concat_ws(' ', slice(toks, i, 2)))) AS bigram")
          .groupBy("bigram")
          .agg(org.apache.spark.sql.functions.expr("count(*) AS n"))
          .orderBy(org.apache.spark.sql.functions.desc("n"),
            org.apache.spark.sql.functions.col("bigram"))
          .limit(20),
      Some(s"""
        SELECT bigram, count(*) AS n
        FROM (
          SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                       i -> toks[i] || ' ' || toks[i + 1])) AS bigram
          FROM (SELECT string_split(tc, ' ') AS toks
                FROM (SELECT ${Fns.cleanTextDuck("text")} AS tc
                      FROM documents))
          WHERE len(toks) >= 2)
        GROUP BY bigram
        ORDER BY n DESC, bigram
        LIMIT 20""")),

    // ------------------------------------------------- document fingerprint (extension)
    // Polynomial rolling hash over token hash60 values mod 1e9+7 — a
    // content fingerprint for exact/near-exact dedup joins. The fold is
    // seeded with the first element in BOTH engines (Spark: aggregate
    // over slice(2..); DuckDB: list_reduce) so results match exactly.
    QueryDef(
      "ta_fingerprint",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id", s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr(
            "doc_id",
            s"transform(split(tc, ' '), t -> cast(conv(substring(md5(t), 1, 15), 16, 10) AS bigint) % $P) AS hs")
          .selectExpr(
            "doc_id",
            s"aggregate(slice(hs, 2, size(hs) - 1), hs[0], (acc, x) -> (acc * 31 + x) % $P) AS fingerprint"),
      Some(s"""
        SELECT doc_id,
               list_reduce(hs, (acc, x) -> (acc * 31 + x) % $P) AS fingerprint
        FROM (
          SELECT doc_id,
                 list_transform(string_split(tc, ' '),
                                t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % $P) AS hs
          FROM (SELECT doc_id, ${Fns.cleanTextDuck("text")} AS tc
                FROM documents))""")),

    // ------------------------------------ repetition metrics (extension)
    // The Gopher-style repetition filters a curation pipeline thresholds
    // on: the duplicate-3-gram fraction (1 − distinct/total 3-grams —
    // high on boilerplate and template spam) and the top-word fraction
    // (most frequent token / all tokens — high on keyword stuffing).
    // Distinct 3-grams come from the native `word_shingles` kernel (one
    // codegen'd call per doc); the word mode runs as the DISTRIBUTED
    // explode → two-level hash aggregate — max(count) per doc never
    // builds a per-row frequency map in a lambda, so a 1 GB document
    // costs the same per token as a 1 KB one. sum(c) recovers n_toks in
    // the same aggregate for free.
    QueryDef(
      "ta_repetition",
      (spark, dir) => {
        val par = spark.sessionState.conf.numShufflePartitions
        val toks = Tables.documents(spark, dir)
          .repartition(par, org.apache.spark.sql.functions.col("doc_id"))
          .selectExpr("doc_id", s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("doc_id", "split(tc, ' ') AS toks")
        val gram = toks
          .selectExpr("doc_id", "size(toks) AS n_toks",
            "cast(size(word_shingles(toks, 3)) AS bigint) AS distinct_3grams")
          .selectExpr("doc_id", "distinct_3grams",
            "CASE WHEN n_toks < 3 THEN 1L ELSE cast(n_toks - 2 AS bigint) END AS total_3grams")
        val word = toks
          .selectExpr("doc_id", "explode(toks) AS t")
          .groupBy("doc_id", "t")
          .agg(org.apache.spark.sql.functions.expr("count(*) AS c"))
          .groupBy("doc_id")
          .agg(
            org.apache.spark.sql.functions.expr("max(c) AS top_cnt"),
            org.apache.spark.sql.functions.expr("sum(c) AS n_toks"))
        gram.join(word, "doc_id")
          .selectExpr("doc_id", "cast(n_toks AS bigint) AS n_toks", "distinct_3grams",
            "round(1.0D - cast(distinct_3grams AS double) / cast(total_3grams AS double), 6) AS dup_3gram_frac",
            "round(cast(top_cnt AS double) / cast(n_toks AS double), 6) AS top_word_frac")
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id, string_split(${Fns.cleanTextDuck("text")}, ' ') AS toks
          FROM documents),
        gram AS (
          SELECT doc_id,
                 (CASE WHEN len(toks) < 3 THEN 1 ELSE len(toks) - 2 END)::BIGINT AS total_3grams,
                 (CASE WHEN len(toks) < 3 THEN 1
                       ELSE len(list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                                             i -> array_to_string(toks[i:i+2], ' ')))) END)::BIGINT AS distinct_3grams
          FROM d),
        tok AS (SELECT doc_id, unnest(toks) AS t FROM d),
        cnt AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
        word AS (SELECT doc_id, max(c)::BIGINT AS top_cnt, sum(c)::BIGINT AS n_toks FROM cnt GROUP BY 1)
        SELECT g.doc_id, w.n_toks, g.distinct_3grams,
               round(1.0 - g.distinct_3grams::DOUBLE / g.total_3grams::DOUBLE, 6) AS dup_3gram_frac,
               round(w.top_cnt::DOUBLE / w.n_toks::DOUBLE, 6) AS top_word_frac
        FROM gram g JOIN word w ON g.doc_id = w.doc_id""")),

    // ------------------------------------ HyperLogLog distinct sketch
    // Corpus-distinct shingle count via a from-scratch HLL (m = 256
    // buckets over the 60-bit md5 hash: top 8 bits route, the rank is
    // the leading-zero run of the 52-bit suffix). The whole sketch is
    // ONE aggregation pass with a 256-row state — the mergeable shape
    // that answers "how many distinct n-grams / urls / users" over
    // 100 TB without a count(distinct) shuffle of the full key set.
    //
    // Cross-engine determinism is the engineered part: the rank is
    // INTEGER-ONLY (bit length via bin() + leading-zero strip — no
    // float log2, whose last-ulp could flip a rank at bucket
    // boundaries), and the harmonic sum folds bucket-ORDERED in both
    // engines (each 2^-M term is an exact dyadic, but partial-sum
    // rounding depends on order). The estimate is then bit-identical,
    // so the driver hash gate can check a SKETCH — normally
    // impossible across two engines' native HLLs.
    QueryDef(
      "ta_vocab_hll",
      (spark, dir) => {
        val half = 1L << 52
        val mb = Dedup.shingleHashes(spark, dir)
          .selectExpr("explode(hs) AS h")
          .selectExpr(s"h div ${half}L AS b", s"h % ${half}L AS rem")
          .selectExpr("b", "rank52(rem) AS r")
          .groupBy("b").agg(org.apache.spark.sql.functions.expr("max(r) AS mr"))
        spark.range(0, 256).selectExpr("cast(id AS bigint) AS b")
          .join(mb, Seq("b"), "left")
          .selectExpr("b", "coalesce(mr, 0) AS M")
          .groupBy()
          .agg(
            org.apache.spark.sql.functions.expr("""aggregate(sort_array(collect_list(named_struct('b', b, 'm', M))),
                              cast(0 AS double), (acc, x) -> acc + pow(2D, -cast(x.m AS double))) AS S"""),
            org.apache.spark.sql.functions.expr("sum(CASE WHEN M > 0 THEN 1 ELSE 0 END) AS hit"))
          .selectExpr(
            "cast(256 AS bigint) AS m_buckets",
            "cast(hit AS bigint) AS buckets_hit",
            "round((0.7213D / (1D + 1.079D / 256D)) * 256D * 256D / S, 4) AS hll_est")
      },
      Some(vocabHllOracleSql)),

    // ------------------------------------------ PII redaction (extension)
    // The scrub pass every training corpus runs before release: emails,
    // IPv4 addresses, and phone numbers are replaced with typed
    // placeholder tags, and per-document match counts are emitted for
    // audit. A pure projection — regex scan per document, no shuffle,
    // no state — so it runs inside the parquet scan stage at any scale.
    //
    // The synthetic corpus contains no PII, so the gate PLANTS a
    // deterministic contact line (email/IP/phone derived from doc_id,
    // identical literals in both engines) on every doc_id % 5 == 0
    // document; the other 4/5 of the corpus doubles as the
    // false-positive check (all counts 0, text unchanged). Patterns
    // stay within the regex subset Java and RE2 evaluate identically
    // (character classes, bounded repeats, no backrefs); counts are
    // taken on the planted text and the redacted text is content-hashed
    // so the gate sees both the detection and the rewrite.
    QueryDef(
      "ta_redact",
      (spark, dir) => {
        val email = "[a-z0-9._]+@[a-z0-9.]+[a-z]"
        val ip = "[0-9]{1,3}\\\\.[0-9]{1,3}\\\\.[0-9]{1,3}\\\\.[0-9]{1,3}"
        val phone = "555-[0-9]{4}"
        Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("doc_id",
            """CASE WHEN doc_id % 5 = 0
                    THEN concat(tc, ' contact user', cast(doc_id AS string),
                                '@mail.example.com from 10.20.',
                                cast(pmod(doc_id, 200) AS string), '.9 call 555-0142')
                    ELSE tc END AS tc""")
          .selectExpr("doc_id",
            s"cast(regexp_count(tc, '$email') AS bigint) AS n_emails",
            s"cast(regexp_count(tc, '$ip') AS bigint) AS n_ips",
            s"cast(regexp_count(tc, '$phone') AS bigint) AS n_phones",
            s"""regexp_replace(regexp_replace(regexp_replace(tc,
                  '$email', '[EMAIL]'), '$ip', '[IP]'), '$phone', '[PHONE]') AS redacted""")
          .selectExpr("doc_id", "n_emails", "n_ips", "n_phones",
            "cast(length(redacted) AS bigint) AS redacted_len",
            "md5(redacted) AS redacted_hash")
      },
      Some(s"""
        WITH planted AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0
                      THEN tc || ' contact user' || doc_id::VARCHAR ||
                           '@mail.example.com from 10.20.' ||
                           (doc_id % 200)::VARCHAR || '.9 call 555-0142'
                      ELSE tc END AS tc
          FROM (SELECT doc_id, ${Fns.cleanTextDuck("text")} AS tc
                FROM documents)),
        red AS (
          SELECT doc_id,
                 len(regexp_extract_all(tc, '[a-z0-9._]+@[a-z0-9.]+[a-z]'))::BIGINT AS n_emails,
                 len(regexp_extract_all(tc, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}'))::BIGINT AS n_ips,
                 len(regexp_extract_all(tc, '555-[0-9]{4}'))::BIGINT AS n_phones,
                 regexp_replace(regexp_replace(regexp_replace(tc,
                   '[a-z0-9._]+@[a-z0-9.]+[a-z]', '[EMAIL]', 'g'),
                   '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '[IP]', 'g'),
                   '555-[0-9]{4}', '[PHONE]', 'g') AS redacted
          FROM planted)
        SELECT doc_id, n_emails, n_ips, n_phones,
               length(redacted)::BIGINT AS redacted_len,
               md5(redacted) AS redacted_hash
        FROM red""")),

    // --------------------------------------- salted aggregation (skew pattern)
    // Same result as ta_stats (minus the distinct count, which doesn't
    // decompose), computed as a TWO-STAGE aggregation over a salted key:
    // stage 1 groups on (lang, salt) — a skewed lang fans out over 8
    // salt buckets instead of hammering one reducer — stage 2 merges
    // partials on lang alone. Counts/sums/min/max compose exactly;
    // decimal partials keep the sums order-independent. This is the
    // hand-rolled version of what AQE skew-join does for joins.
    QueryDef(
      "ta_stats_salted",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("lang", "n_chars", "pmod(doc_id, 8) AS salt")
          .groupBy("lang", "salt")
          .agg(
            org.apache.spark.sql.functions.expr("count(*) AS pc"),
            org.apache.spark.sql.functions.expr("sum(n_chars) AS ps"),
            org.apache.spark.sql.functions.expr("min(n_chars) AS pmin"),
            org.apache.spark.sql.functions.expr("max(n_chars) AS pmax"))
          .groupBy("lang")
          .agg(
            org.apache.spark.sql.functions.expr("sum(pc) AS n_docs"),
            org.apache.spark.sql.functions.expr("cast(sum(ps) AS bigint) AS total_chars"),
            org.apache.spark.sql.functions.expr("min(pmin) AS min_chars"),
            org.apache.spark.sql.functions.expr("max(pmax) AS max_chars"))
          .selectExpr("lang", "n_docs", "total_chars", "min_chars", "max_chars",
            "cast(total_chars AS double) / cast(n_docs AS double) AS avg_chars"),
      Some("""
        SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
               min(n_chars) AS min_chars, max(n_chars) AS max_chars,
               sum(n_chars)::BIGINT::DOUBLE / count(*)::DOUBLE AS avg_chars
        FROM documents GROUP BY lang""")),

    // -------------------------------------- length percentiles (extension)
    // Exact interpolated percentiles of document length per lang —
    // the corpus-distribution profile a curation pipeline thresholds
    // against. Spark `percentile` and DuckDB `quantile_cont` both
    // linearly interpolate over the sorted values, so the results are
    // comparable to the last ulp (rounded to 6 anyway). Exact
    // percentile sorts per group — fine for bounded groups; the
    // unbounded-cardinality path is approx_percentile (GK sketch),
    // which has no cross-engine oracle and stays out of the gate.
    QueryDef(
      "ta_percentiles",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .groupBy("lang")
          .agg(
            org.apache.spark.sql.functions.expr("count(*) AS n_docs"),
            org.apache.spark.sql.functions.expr(
              "round(percentile(n_chars, 0.5), 6) AS p50"),
            org.apache.spark.sql.functions.expr(
              "round(percentile(n_chars, 0.9), 6) AS p90"),
            org.apache.spark.sql.functions.expr(
              "round(percentile(n_chars, 0.99), 6) AS p99")),
      Some("""
        SELECT lang, count(*) AS n_docs,
               round(quantile_cont(n_chars, 0.5), 6) AS p50,
               round(quantile_cont(n_chars, 0.9), 6) AS p90,
               round(quantile_cont(n_chars, 0.99), 6) AS p99
        FROM documents
        GROUP BY lang""")),

    // ------------------------- approximate percentiles (the scale path)
    // The exact `percentile` above buffers and sorts every group value —
    // fine for bounded groups, unusable on an unbounded-cardinality
    // column at 100 TB. `approx_percentile` is the GK-sketch path:
    // fixed-size state, partial-merges map-side. At gate scale the
    // sketch holds every value (group sizes ≪ accuracy), so it
    // degenerates to EXACT nearest-rank selection — the same
    // `ceil(p·n)-1` convention DuckDB's quantile_disc implements, which
    // is what makes a hash-exact oracle row possible at all.
    // TextOpsSpec separately pins the sketch within quantile-rank error
    // of the exact percentile under a LOW accuracy (the true sketch
    // regime the 100 TB path runs in).
    QueryDef(
      "ta_percentiles_approx",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .groupBy("lang")
          .agg(
            org.apache.spark.sql.functions.expr("count(*) AS n_docs"),
            org.apache.spark.sql.functions.expr(
              "cast(approx_percentile(n_chars, 0.5, 10000) AS bigint) AS p50"),
            org.apache.spark.sql.functions.expr(
              "cast(approx_percentile(n_chars, 0.9, 10000) AS bigint) AS p90"),
            org.apache.spark.sql.functions.expr(
              "cast(approx_percentile(n_chars, 0.99, 10000) AS bigint) AS p99")),
      Some("""
        SELECT lang, count(*) AS n_docs,
               quantile_disc(n_chars, 0.5)::BIGINT AS p50,
               quantile_disc(n_chars, 0.9)::BIGINT AS p90,
               quantile_disc(n_chars, 0.99)::BIGINT AS p99
        FROM documents
        GROUP BY lang""")),

    // ------------------------------------------------- per-group text stats (extension)
    // One shuffle on a low-cardinality key; partial aggregation
    // (map-side combine) makes this a safe pattern at 100 TB.
    QueryDef(
      "ta_stats",
      (spark, dir) => {
        val d = Tables.documents(spark, dir)
        d.selectExpr("lang", "source", "n_chars")
          .groupBy("lang")
          .agg(
            org.apache.spark.sql.functions.expr("count(*) AS n_docs"),
            org.apache.spark.sql.functions.expr("sum(n_chars) AS total_chars"),
            org.apache.spark.sql.functions.expr("min(n_chars) AS min_chars"),
            org.apache.spark.sql.functions.expr("max(n_chars) AS max_chars"),
            org.apache.spark.sql.functions.expr(
              "cast(sum(n_chars) AS double) / cast(count(*) AS double) AS avg_chars"),
            org.apache.spark.sql.functions.expr("count(DISTINCT source) AS n_sources"))
      },
      Some("""
        SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
               min(n_chars) AS min_chars, max(n_chars) AS max_chars,
               sum(n_chars)::DOUBLE / count(*)::DOUBLE AS avg_chars,
               count(DISTINCT source) AS n_sources
        FROM documents GROUP BY lang""")),

    // -------------------------------- corpus-LM fluency scoring (extension)
    // The CCNet/Gopher-style quality filter: score each document by how
    // well a language model TRAINED ON THE CORPUS ITSELF predicts it —
    // boilerplate and template-soup score as highly predictable, rare
    // garbage as unpredictable. The model is an add-one-smoothed bigram
    // LM: p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V).
    //
    // Cross-engine determinism: the score deliberately avoids ln()/
    // floating sums (libm vs JVM transcendentals differ in the last
    // ulp, and float sums are order-dependent across 32 partitions).
    // Each bigram contributes its conditional probability in integer
    // PARTS-PER-MILLION ((c+1)*1e6 div (cu+V) — exact int64 math), the
    // per-doc sum is a BIGINT (order-independent), and avg_ppm is one
    // exact integer division. Monotone in the geometric/arithmetic LM
    // score, hash-stable everywhere.
    //
    // Scale shape: unigram/bigram count tables are partial-aggregated
    // before their exchange (vocab-bounded, tiny relative to a 100 TB
    // corpus); scoring is two hash joins keyed on w1 / (w1, w2) —
    // co-partitioned with the count tables, no broadcast of corpus
    // data; V folds to one scalar row. A real deploy would min-df
    // prune the bigram table; the synthetic vocab (~hundreds of words)
    // needs no pruning.
    QueryDef(
      "ta_lm_score",
      (spark, dir) => {
        val toks = Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"split(${Fns.cleanTextSql("text")}, ' ') AS toks")
        val uni = toks.selectExpr("explode(toks) AS w")
        val vocab = uni.selectExpr("count(DISTINCT w) AS v").groupBy().agg(
          org.apache.spark.sql.functions.expr("first(v) AS v"))
        val cu = uni.groupBy("w").agg(
          org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS cu"))
        val bg = toks.selectExpr("doc_id",
            "explode(transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS w1, toks[i + 1] AS w2))) AS b")
          .selectExpr("doc_id", "b.w1 AS w1", "b.w2 AS w2")
        val cb = bg.groupBy("w1", "w2").agg(
          org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS cb"))
        bg.join(cb, Seq("w1", "w2"))
          .join(cu.withColumnRenamed("w", "w1"), Seq("w1"))
          .crossJoin(org.apache.spark.sql.functions.broadcast(vocab))
          .selectExpr("doc_id", "(cb + 1) * 1000000 div (cu + v) AS ppm")
          .groupBy("doc_id")
          .agg(
            org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n_bigrams"),
            org.apache.spark.sql.functions.expr("cast(sum(ppm) AS bigint) AS sum_ppm"),
            org.apache.spark.sql.functions.expr("sum(ppm) div count(*) AS avg_ppm"))
      },
      Some(s"""
        WITH c AS (
          SELECT doc_id,
                 string_split(${Fns.cleanTextDuck("text")}, ' ') AS toks
          FROM documents),
        uni AS (SELECT unnest(toks) AS w FROM c),
        vocab AS (SELECT count(DISTINCT w) AS v FROM uni),
        cu AS (SELECT w, count(*)::BIGINT AS cu FROM uni GROUP BY w),
        bg AS (
          SELECT doc_id, b['w1'] AS w1, b['w2'] AS w2
          FROM (SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(toks) - 1),
                                             i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS b
                FROM c)),
        cb AS (SELECT w1, w2, count(*)::BIGINT AS cb FROM bg GROUP BY w1, w2)
        SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(ppm)::BIGINT AS sum_ppm,
               (sum(ppm)::BIGINT // count(*)::BIGINT) AS avg_ppm
        FROM (
          SELECT bg.doc_id, ((cb.cb + 1) * 1000000) // (cu.cu + vocab.v) AS ppm
          FROM bg JOIN cb ON bg.w1 = cb.w1 AND bg.w2 = cb.w2
                  JOIN cu ON bg.w1 = cu.w
                  CROSS JOIN vocab)
        GROUP BY doc_id""")),

    // ------------------------------- TF-IDF keyword extraction (extension)
    // Top-5 characteristic terms per document by tf·idf with raw-log
    // idf ln(N/df) — per-doc feature extraction (the indexing-time
    // complement to ts_bm25's query-time scoring). The rank key is the
    // ROUNDED score (round 6, the same cross-engine quantization
    // ts_bm25 orders on) with the term as tie-break, so near-ulp
    // transcendental drift can't flip ranks across engines.
    //
    // Scale shape: tf is one shuffle keyed (doc_id, term); df reduces
    // the tf table to vocab size (broadcast-able); N folds to one
    // scalar row; the top-5 window partitions by doc_id — per-doc
    // bounded state, never a global sort.
    QueryDef(
      "ta_keywords",
      (spark, dir) => {
        val tf = Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"explode(split(${Fns.cleanTextSql("text")}, ' ')) AS term")
          .groupBy("doc_id", "term")
          .agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS tf"))
        val df = tf.groupBy("term").agg(
          org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS df"))
        val n = tf.selectExpr("doc_id").distinct().groupBy().agg(
          org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n_docs"))
        tf.join(df, "term")
          .crossJoin(org.apache.spark.sql.functions.broadcast(n))
          .selectExpr("doc_id", "term", "tf", "df",
            "round(cast(tf AS double) * ln(cast(n_docs AS double) / cast(df AS double)), 6) AS score")
          .selectExpr("doc_id", "term", "tf", "df", "score",
            """cast(row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term) AS bigint) AS rank""")
          .where("rank <= 5")
      },
      Some(s"""
        WITH tf AS (
          SELECT doc_id, term, count(*)::BIGINT AS tf
          FROM (SELECT doc_id,
                       unnest(string_split(${Fns.cleanTextDuck("text")}, ' ')) AS term
                FROM documents)
          GROUP BY doc_id, term),
        df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
        n AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM tf)
        SELECT doc_id, term, tf, df, score, rank
        FROM (
          SELECT doc_id, term, tf, df, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, term)::BIGINT AS rank
          FROM (SELECT doc_id, term, tf, df.df AS df,
                       round(tf::DOUBLE * ln(n_docs::DOUBLE / df.df::DOUBLE), 6) AS score
                FROM tf JOIN df USING (term) CROSS JOIN n))
        WHERE rank <= 5""")),

    // ------------------------- Unicode NFC normalization (extension)
    // The canonicalization step that must run BEFORE any text hashing:
    // composed and decomposed forms of the same text are different byte
    // strings (different md5 → different dedup verdicts) until both
    // fold to NFC. The native `nfc_normalize` expression (one static
    // Normalizer call per row inside WholeStageCodegen) is checked
    // against DuckDB's built-in of the same name over a fixture that
    // exercises the canonical cases: composed passthrough, combining
    // acute composition, singleton replacement (Å from the Angstrom
    // sign), combining-mark canonical reordering, and the ASCII fast
    // path. Both engines receive the IDENTICAL codepoint sequences
    // (interpolated from one Scala constant), so the gate hashes the
    // normalization itself, not literal-encoding luck.
    QueryDef(
      "ta_nfc",
      (spark, dir) => {
        import spark.implicits._
        NfcCases.toDF("id", "s")
          .selectExpr("id", "nfc_normalize(s) AS norm",
            "nfc_normalize(s) != s AS changed",
            "cast(length(s) AS bigint) AS n_cp_before",
            "cast(length(nfc_normalize(s)) AS bigint) AS n_cp_after",
            "md5(nfc_normalize(s)) AS norm_md5")
      },
      Some(s"""
        WITH f(id, s) AS (VALUES
          ${NfcCases.map { case (i, s) => s"($i::BIGINT, '$s')" }.mkString(",\n          ")})
        SELECT id, nfc_normalize(s) AS norm,
               (nfc_normalize(s) != s) AS changed,
               length(s)::BIGINT AS n_cp_before,
               length(nfc_normalize(s))::BIGINT AS n_cp_after,
               md5(nfc_normalize(s)) AS norm_md5
        FROM f""")),

    // --------------------------- URL canonicalization + blocklist gate
    // The CommonCrawl-stage filter: canonicalize each document's URL
    // (lowercase host, strip the www. prefix and the trailing slash),
    // extract the registrable domain, drop blocklisted suffixes, and
    // report per-domain survival — the provenance-side quality gate
    // that runs before any content-side scoring. Pure projections +
    // one partial-aggregated groupBy on the extracted domain; the
    // blocklist is a suffix predicate evaluated in the scan (a real
    // deploy broadcasts a trie/Bloom of registrable domains — q8 shows
    // that machinery).
    QueryDef(
      "ta_urls",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id", s"$UrlExpr AS url")
          .selectExpr("doc_id", "url",
            "regexp_replace(regexp_replace(lower(url), '^https?://(www\\\\.)?', ''), '/$', '') AS canon")
          .selectExpr("doc_id", "url", "canon",
            "regexp_extract(canon, '^([^/]+)', 1) AS domain")
          .selectExpr("doc_id", "canon", "domain",
            "domain LIKE '%.spam-mirror.example' AS blocked")
          .groupBy("domain", "blocked")
          .agg(
            org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n_docs"),
            org.apache.spark.sql.functions.expr("min(doc_id) AS first_doc"),
            org.apache.spark.sql.functions.expr("md5(cast(sum(pmod(cast(conv(substring(md5(canon), 1, 15), 16, 10) AS bigint), 1000000007)) AS string)) AS canon_fold")),
      Some(s"""
        SELECT domain, blocked, count(*)::BIGINT AS n_docs, min(doc_id) AS first_doc,
               md5((sum(('0x' || substr(md5(canon), 1, 15))::BIGINT % 1000000007)::BIGINT)::VARCHAR) AS canon_fold
        FROM (
          SELECT doc_id, canon,
                 regexp_extract(canon, '^([^/]+)', 1) AS domain,
                 (regexp_extract(canon, '^([^/]+)', 1) LIKE '%.spam-mirror.example') AS blocked
          FROM (
            SELECT doc_id,
                   regexp_replace(regexp_replace(lower($UrlExprSql), '^https?://(www\\.)?', ''), '/$$', '') AS canon
            FROM documents))
        GROUP BY domain, blocked""")),

    // --------------------------------------- collocation mining (PMI)
    // Statistically-bound word pairs ("New York"-style collocations) —
    // the phrase-vocabulary step of tokenizer and n-gram-LM pipelines.
    // The association score is an all-integer PMI surrogate:
    // (n_ab·1e6 div c_a)·1e6 div c_b — monotone in n_ab/(c_a·c_b),
    // the variable part of pointwise mutual information, with no ln()
    // for the last-ulp cross-engine trap (the ta_lm_score lesson) and
    // no overflow (≤ 1e16 at any corpus size given n_ab ≤ c_a). The
    // n_ab ≥ 5 support floor is the standard collocation-mining guard
    // against one-off pairs dominating the ranking.
    // Scale shape: unigram and bigram counts are partial-aggregated
    // scans that reduce to vocab-sized tables; the scoring join is
    // vocab⋈vocab (tiny against the corpus); the final ranking is
    // TakeOrdered-bounded, never a global sort.
    QueryDef(
      "ta_pmi",
      (spark, dir) => {
        val base = Tables.documents(spark, dir)
          .selectExpr(s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("split(tc, ' ') AS toks")
        val uni = base.selectExpr("explode(toks) AS w")
          .groupBy("w").agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS cw"))
        val bi = base.where("size(toks) >= 2")
          .selectExpr(
            "explode(transform(sequence(1, size(toks) - 1, 1), i -> concat_ws(' ', slice(toks, i, 2)))) AS bigram")
          .groupBy("bigram").agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n_ab"))
          .where("n_ab >= 5")
          .selectExpr("bigram", "split(bigram, ' ')[0] AS w1",
            "split(bigram, ' ')[1] AS w2", "n_ab")
        bi.join(uni.selectExpr("w AS w1", "cw AS c1"), "w1")
          .join(uni.selectExpr("w AS w2", "cw AS c2"), "w2")
          .selectExpr("bigram", "n_ab", "c1", "c2",
            "(n_ab * 1000000L div c1) * 1000000L div c2 AS affinity")
          .orderBy(org.apache.spark.sql.functions.desc("affinity"),
            org.apache.spark.sql.functions.col("bigram"))
          .limit(20)
      },
      Some(s"""
        WITH base AS (
          SELECT string_split(${Fns.cleanTextDuck("text")}, ' ') AS toks
          FROM documents),
        uni AS (
          SELECT w, count(*)::BIGINT AS cw
          FROM (SELECT unnest(toks) AS w FROM base) GROUP BY w),
        bi AS (
          SELECT bigram, split_part(bigram, ' ', 1) AS w1,
                 split_part(bigram, ' ', 2) AS w2, count(*)::BIGINT AS n_ab
          FROM (SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                             i -> toks[i] || ' ' || toks[i + 1])) AS bigram
                FROM base WHERE len(toks) >= 2)
          GROUP BY 1, 2, 3
          HAVING count(*) >= 5)
        SELECT bigram, n_ab, u1.cw AS c1, u2.cw AS c2,
               ((n_ab * 1000000 // u1.cw) * 1000000 // u2.cw)::BIGINT AS affinity
        FROM bi JOIN uni u1 ON bi.w1 = u1.w JOIN uni u2 ON bi.w2 = u2.w
        ORDER BY affinity DESC, bigram
        LIMIT 20""")),

    // ----------------------------- HLL mergeability (per-group sketches)
    // The property that makes HyperLogLog THE count-distinct answer at
    // 100 TB, demonstrated in-query: per-source register sets (max rank
    // per bucket within each source) merge by a register-wise max into
    // EXACTLY the sketch a direct global pass builds — union(sketch) ≡
    // sketch(union), so shards/partitions/days can sketch independently
    // and an O(m)-byte merge replaces any re-scan. The gate hashes the
    // 'merged' and 'direct' rows to identical values, making the
    // algebraic identity itself the checked artifact. Same bit-exact
    // integer-rank + bucket-ordered harmonic fold as ta_vocab_hll.
    // Scale shape: rank extraction is scan-local; per-source registers
    // are an O(sources·m) aggregate; every estimate is arithmetic over
    // ≤ 256-row groups.
    QueryDef(
      "ta_hll_merge",
      (spark, dir) => {
        val half = 1L << 52
        val srcOf = Tables.documents(spark, dir).select("doc_id", "source")
        val ranks = graft.operators.Dedup.shingleHashes(spark, dir)
          .join(srcOf, "doc_id")
          .selectExpr("source", "explode(hs) AS h")
          .selectExpr("source", s"h div ${half}L AS b", s"h % ${half}L AS rem")
          .selectExpr("source", "b",
            "rank52(rem) AS r")
          // the rank table feeds BOTH the per-source registers and the
          // 'direct' global pass; without the fence the md5 shingle
          // subtree (the query's dominant CPU, r9 profile: ~35 CPU-s
          // at sf0.1) is recomputed per consumer
          .fenced
        val perSrcRegs = ranks.groupBy("source", "b")
          .agg(org.apache.spark.sql.functions.expr("max(r) AS mr"))
        val foldExpr =
          """aggregate(sort_array(collect_list(named_struct('b', b, 'm', M))),
                       cast(0 AS double), (acc, x) -> acc + pow(2D, -cast(x.m AS double))) AS S"""
        def estimate(dense: org.apache.spark.sql.DataFrame, keyed: Boolean) = {
          val g = if (keyed) dense.groupBy("scope") else dense.groupBy()
          g.agg(
            org.apache.spark.sql.functions.expr(foldExpr),
            org.apache.spark.sql.functions.expr(
              "sum(CASE WHEN M > 0 THEN 1 ELSE 0 END) AS hit"))
        }
        val range256 = "explode(sequence(0L, 255L)) AS b"
        val perSrcDense = srcOf.select("source").distinct()
          .selectExpr("source AS scope", range256)
          .join(perSrcRegs.selectExpr("source AS scope", "b", "mr"),
            Seq("scope", "b"), "left")
          .selectExpr("scope", "b", "coalesce(mr, 0) AS M")
        val per = estimate(perSrcDense, keyed = true)
        // merged = register-wise max of the per-source sketches;
        // direct = registers from one global pass over the same ranks
        val mergedDense = perSrcDense.groupBy("b")
          .agg(org.apache.spark.sql.functions.expr("max(M) AS M"))
        val directDense = spark.range(0, 256).selectExpr("cast(id AS bigint) AS b")
          .join(ranks.groupBy("b").agg(
            org.apache.spark.sql.functions.expr("max(r) AS mr")), Seq("b"), "left")
          .selectExpr("b", "coalesce(mr, 0) AS M")
        val tail = Seq("merged" -> mergedDense, "direct" -> directDense).map {
          case (name, dense) => estimate(dense, keyed = false)
            .selectExpr(s"'$name' AS scope", "S", "hit")
        }
        (per +: tail).reduce(_ unionByName _)
          .selectExpr("scope", "cast(hit AS bigint) AS buckets_hit",
            "round((0.7213D / (1D + 1.079D / 256D)) * 256D * 256D / S, 4) AS hll_est")
      },
      Some(s"""
        WITH sh AS (${graft.operators.Dedup.shingleHashesSql}),
        srcof AS (SELECT doc_id, source FROM documents),
        rk AS (
          SELECT source, h // 4503599627370496 AS b,
                 53 - length(regexp_replace(bin(h % 4503599627370496), '^0+', '')) AS r
          FROM (SELECT source, unnest(hs) AS h
                FROM sh JOIN srcof ON sh.doc_id = srcof.doc_id)),
        psr AS (SELECT source, b, max(r) AS mr FROM rk GROUP BY 1, 2),
        dense AS (
          SELECT s.source AS scope, gs.b, coalesce(psr.mr, 0) AS M
          FROM (SELECT DISTINCT source FROM documents) s
          CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS b) gs
          LEFT JOIN psr ON s.source = psr.source AND gs.b = psr.b),
        per AS (
          SELECT scope, list_sum(list(pow(2, -M) ORDER BY b)) AS S,
                 sum(CASE WHEN M > 0 THEN 1 ELSE 0 END) AS hit
          FROM dense GROUP BY scope),
        mrg AS (
          SELECT 'merged' AS scope, list_sum(list(pow(2, -M) ORDER BY b)) AS S,
                 sum(CASE WHEN M > 0 THEN 1 ELSE 0 END) AS hit
          FROM (SELECT b, max(M) AS M FROM dense GROUP BY b)),
        dct AS (
          SELECT 'direct' AS scope, list_sum(list(pow(2, -M) ORDER BY b)) AS S,
                 sum(CASE WHEN M > 0 THEN 1 ELSE 0 END) AS hit
          FROM (SELECT gs.b, coalesce(g.mr, 0) AS M
                FROM (SELECT unnest(generate_series(0, 255)) AS b) gs
                LEFT JOIN (SELECT b, max(r) AS mr FROM rk GROUP BY b) g ON gs.b = g.b))
        SELECT scope, hit::BIGINT AS buckets_hit,
               round((0.7213 / (1 + 1.079 / 256)) * 256 * 256 / S, 4) AS hll_est
        FROM (SELECT * FROM per UNION ALL SELECT * FROM mrg UNION ALL SELECT * FROM dct)""")),

    // ------------------------- readability scoring (Flesch–Kincaid)
    // The classic curriculum/quality signal: grade level from words
    // per sentence and syllables per word. All three inputs are
    // DETERMINISTIC functions both engines compute identically —
    // syllables per word = vowel-group count (min 1, the standard
    // heuristic), and since the synthetic corpus carries no
    // punctuation, sentence length is derived per doc as (7 + doc_id
    // % 5) tokens (the planted-fixture discipline of dd_spandup), so
    // sentence counts vary and exercise the formula. Scale shape:
    // pure scan-local projection — one pass, no shuffle, no UDF; the
    // syllable fold is a codegen'd higher-order aggregate over the
    // token array.
    QueryDef(
      "ta_readability",
      (spark, dir) => {
        Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("doc_id", "split(tc, ' ') AS toks")
          .selectExpr("doc_id",
            "cast(size(toks) AS bigint) AS words",
            """aggregate(toks, 0L, (acc, w) ->
                 acc + greatest(1L, cast(size(regexp_extract_all(lower(w), '[aeiouy]+', 0)) AS bigint))) AS syllables""",
            "7L + doc_id % 5 AS sent_len")
          .selectExpr("doc_id", "words", "syllables",
            "cast(ceil(cast(words AS double) / cast(sent_len AS double)) AS bigint) AS sentences")
          .selectExpr("doc_id", "words", "sentences", "syllables",
            """round(0.39 * (cast(words AS double) / cast(sentences AS double))
                     + 11.8 * (cast(syllables AS double) / cast(words AS double))
                     - 15.59, 6) AS fk_grade""")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id,
                 string_split(${Fns.cleanTextDuck("text")}, ' ') AS toks
          FROM documents),
        m AS (
          SELECT doc_id,
                 len(toks)::BIGINT AS words,
                 list_sum(list_transform(toks,
                   w -> greatest(1, len(regexp_extract_all(lower(w), '[aeiouy]+')))))::BIGINT AS syllables,
                 (7 + doc_id % 5)::BIGINT AS sent_len
          FROM t)
        SELECT doc_id, words,
               ceil(words::DOUBLE / sent_len::DOUBLE)::BIGINT AS sentences,
               syllables,
               round(0.39 * (words::DOUBLE / ceil(words::DOUBLE / sent_len::DOUBLE))
                     + 11.8 * (syllables::DOUBLE / words::DOUBLE) - 15.59, 6) AS fk_grade
        FROM m""")),

    // ------------------------- novel-content growth curve (Heaps-style)
    // How fast does NEW content stop appearing as the corpus grows —
    // the saturation curve behind "is more crawl worth it" and the
    // denominator of every novelty/contamination budget. Corpus order
    // is a deterministic md5 decile of doc_id (reproducible across
    // engines/runs, no global sort); content units are word TRIGRAMS
    // (the documents fixture's 31-word unigram vocabulary saturates in
    // the first slice — trigram space is what actually grows). Shape:
    // one corpus scan exploding ≤ len-2 trigrams per doc, ONE
    // gram-keyed aggregate (min first-decile — vocab-bounded, the
    // tp_bpe_train factoring), then decile-level accounting over
    // exactly 10 rows (the only window, trivially bounded). Output per
    // decile: trigram occurrences, first-seen distinct trigrams, and
    // both running totals.
    QueryDef(
      "ta_ngram_growth",
      (spark, dir) => {
        val grams = Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("doc_id",
            "pmod(cast(conv(substring(md5(concat('vg:', cast(doc_id AS string))), 1, 15), 16, 10) AS bigint), 10) AS decile",
            "filter(split(tc, ' '), x -> x != '') AS ws")
          .where("size(ws) >= 3")
          .selectExpr("decile",
            "explode(transform(sequence(1, size(ws) - 2), i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))) AS gram")
        val perDecile = grams.groupBy("decile")
          .agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS grams"))
        val firstSeen = grams.groupBy("gram")
          .agg(org.apache.spark.sql.functions.expr("min(decile) AS first_decile"))
          .groupBy("first_decile")
          .agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS new_grams"))
        perDecile
          .join(firstSeen.selectExpr("first_decile AS decile", "new_grams"),
            Seq("decile"), "left")
          .selectExpr("decile", "grams", "coalesce(new_grams, 0L) AS new_grams")
          .selectExpr("decile", "grams",
            "sum(grams) OVER (ORDER BY decile) AS cum_grams",
            "new_grams",
            "sum(new_grams) OVER (ORDER BY decile) AS cum_vocab")
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id,
                 ('0x' || substr(md5('vg:' || doc_id::VARCHAR), 1, 15))::BIGINT % 10 AS decile,
                 list_filter(string_split(${Fns.cleanTextDuck("text")}, ' '), x -> x != '') AS ws
          FROM documents),
        g AS (
          SELECT decile,
                 unnest(list_transform(generate_series(1, len(ws) - 2),
                   i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS gram
          FROM d WHERE len(ws) >= 3),
        per_decile AS (
          SELECT decile, count(*)::BIGINT AS grams FROM g GROUP BY decile),
        first_seen AS (
          SELECT first_decile, count(*)::BIGINT AS new_grams FROM (
            SELECT gram, min(decile) AS first_decile FROM g GROUP BY gram)
          GROUP BY first_decile)
        SELECT p.decile, p.grams,
               (sum(p.grams) OVER (ORDER BY p.decile))::BIGINT AS cum_grams,
               coalesce(f.new_grams, 0)::BIGINT AS new_grams,
               (sum(coalesce(f.new_grams, 0)) OVER (ORDER BY p.decile))::BIGINT AS cum_vocab
        FROM per_decile p LEFT JOIN first_seen f ON f.first_decile = p.decile""")),

    // -------------------- cross-source vocabulary overlap (mirrors)
    // Which sources republish each other's content? The corpus-level
    // mirror detector: per unordered source pair, the Jaccard overlap
    // of their word VOCABULARIES (presence, not frequency — a mirror
    // carrying 1 copy or 50 scores the same). Zero-overlap pairs don't
    // exist in the output (the intersection join produces nothing for
    // them — document, don't densify). Scale shape: one distinct
    // (source, word) reduction — the per-source vocab table, orders of
    // magnitude under the corpus — then a word-keyed self-equi-join
    // whose fan-out per word is bounded by SOURCES², never corpus
    // size, and a pair-keyed aggregate over that. On the driver's
    // shared-salad fixture every pair overlaps fully (jaccard = 1e6) —
    // the hash still pins the whole join/count machinery, and the
    // ScaleUp corpus (per-copy decollided tokens) gives the metric
    // real spread at sf3.
    QueryDef(
      "ta_source_overlap",
      (spark, dir) => {
        val sw = Tables.documents(spark, dir)
          .selectExpr("source",
            s"explode(split(${Fns.cleanTextSql("text")}, ' ')) AS w")
          .where("w != ''")
          .select("source", "w").distinct()
        val sizes = sw.groupBy("source")
          .agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS vocab"))
        sw.selectExpr("source AS src_a", "w")
          .join(sw.selectExpr("source AS src_b", "w"), "w")
          .where("src_a < src_b")
          .groupBy("src_a", "src_b")
          .agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS common"))
          .join(sizes.selectExpr("source AS src_a", "vocab AS vocab_a"), "src_a")
          .join(sizes.selectExpr("source AS src_b", "vocab AS vocab_b"), "src_b")
          .selectExpr("src_a", "src_b", "vocab_a", "vocab_b", "common",
            "common * 1000000L div (vocab_a + vocab_b - common) AS jaccard_ppm")
      },
      Some(s"""
        WITH sw AS (
          SELECT DISTINCT source, w
          FROM (SELECT source,
                       unnest(string_split(${Fns.cleanTextDuck("text")}, ' ')) AS w
                FROM documents)
          WHERE w != ''),
        sizes AS (SELECT source, count(*)::BIGINT AS vocab FROM sw GROUP BY source),
        inter AS (
          SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS common
          FROM sw a JOIN sw b ON a.w = b.w AND a.source < b.source
          GROUP BY 1, 2)
        SELECT i.src_a, i.src_b, sa.vocab AS vocab_a, sb.vocab AS vocab_b, i.common,
               (i.common * 1000000 // (sa.vocab + sb.vocab - i.common))::BIGINT AS jaccard_ppm
        FROM inter i
        JOIN sizes sa ON sa.source = i.src_a
        JOIN sizes sb ON sb.source = i.src_b""")),

    // ------------------------- code-vs-prose routing (corpus triage)
    // Mixed crawls route code and prose to different tokenizers,
    // dedup policies, and mixture weights (the StarCoder/Stack split),
    // so the first triage every corpus runs is a cheap structural
    // classifier: code betrays itself through symbol density
    // ({}();=<>#) and indented lines, prose through their absence.
    // The fixture plants a deterministic code block on every 5th doc
    // (the dd_record_linkage fixture discipline: synthesize the
    // pathology, then detect it); counting is all NON-regex — symbol
    // census via translate() deletion-length, indent census via
    // replace() on the \n+4-spaces token — so cross-engine regex
    // dialect drift cannot touch the numbers. The flag anchors on
    // indented-line count (length-invariant), not the ratio a long
    // prose tail dilutes. Scale shape: every column is row-local in
    // the scan — zero shuffles, full codegen; at 100 TB this runs at
    // I/O speed in the same pass as any other per-doc metric.
    QueryDef(
      "ta_code_detect",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id",
            """CASE WHEN doc_id % 5 = 0 THEN
                 concat('def fn_', cast(doc_id AS string), '(x) {', chr(10),
                        '    y = (x + 1);', chr(10),
                        '    return y;', chr(10), '}', chr(10), text)
               ELSE text END AS t""")
          .selectExpr("doc_id", "cast(length(t) AS bigint) AS n_chars",
            "cast(length(t) - length(translate(t, '{}();=<>#', '')) AS bigint) AS n_sym",
            """cast((length(t) - length(replace(t, concat(chr(10), '    '), chr(10)))) div 4
               AS bigint) AS n_indent""")
          .selectExpr("doc_id", "n_chars", "n_sym", "n_indent",
            "n_sym * 1000000L div n_chars AS sym_ppm",
            "CASE WHEN n_indent >= 2 THEN 1L ELSE 0L END AS is_code"),
      Some("""
        WITH t AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN
                   'def fn_' || doc_id::VARCHAR || '(x) {' || chr(10)
                   || '    y = (x + 1);' || chr(10)
                   || '    return y;' || chr(10) || '}' || chr(10) || text
                 ELSE text END AS t
          FROM documents),
        m AS (
          SELECT doc_id, length(t)::BIGINT AS n_chars,
                 (length(t) - length(translate(t, '{}();=<>#', '')))::BIGINT AS n_sym,
                 ((length(t) - length(replace(t, chr(10) || '    ', chr(10)))) // 4)::BIGINT AS n_indent
          FROM t)
        SELECT doc_id, n_chars, n_sym, n_indent,
               (n_sym * 1000000 // n_chars)::BIGINT AS sym_ppm,
               (CASE WHEN n_indent >= 2 THEN 1 ELSE 0 END)::BIGINT AS is_code
        FROM m""")),

    // --------------------------- winnowing fingerprints (extension)
    // Schleimer/Wilkerson/Aiken 2003 (MOSS): hash every token 4-gram,
    // then in every window of w = 4 consecutive positions keep the
    // RIGHTMOST minimal hash — the guarantee is one fingerprint per w
    // positions (density 2/(w+1) expected) while any shared substring
    // of ≥ k + w − 1 tokens shares a fingerprint, the local property
    // plagiarism/copy detection needs and ta_fingerprint's whole-doc
    // hash cannot give. Selection is stated window-free: position p is
    // picked iff SOME window containing p has p as its rightmost
    // argmin, i.e. iff for some split s ∈ {0..3} the s in-window
    // predecessors all have h ≥ h_p and the 3−s successors all have
    // h > h_p — four fixed lag/lead comparisons, no per-window
    // explode. Plan: one scan → row-local position explode → ONE
    // doc-partitioned sort for the 6 lag/lead frames; windows never
    // cross documents, so at 100 TB this partitions perfectly by
    // doc_id and the exchange is the only shuffle.
    QueryDef(
      "ta_winnowing",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"split(${Fns.cleanTextSql("text")}, ' ') AS toks")
          .where("size(toks) >= 7")
          .selectExpr("doc_id", "toks", "explode(sequence(1, size(toks) - 3)) AS pos")
          .selectExpr("doc_id", "cast(pos AS bigint) AS pos",
            s"cast(conv(substring(md5(array_join(slice(toks, pos, 4), ' ')), 1, 15), 16, 10) AS bigint) % $P AS h",
            "cast(size(toks) - 3 AS bigint) AS npos")
          .selectExpr("doc_id", "pos", "h", "npos",
            "lag(h, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS b1",
            "lag(h, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS b2",
            "lag(h, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS b3",
            "lead(h, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS f1",
            "lead(h, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS f2",
            "lead(h, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS f3")
          .where("""(pos + 3 <= npos AND f1 > h AND f2 > h AND f3 > h)
                 OR (pos >= 2 AND pos + 2 <= npos AND b1 >= h AND f1 > h AND f2 > h)
                 OR (pos >= 3 AND pos + 1 <= npos AND b1 >= h AND b2 >= h AND f1 > h)
                 OR (pos >= 4 AND b1 >= h AND b2 >= h AND b3 >= h)""")
          .selectExpr("doc_id", "pos", "h AS fp"),
      Some(s"""
        WITH t AS (
          SELECT doc_id,
                 string_split(${Fns.cleanTextDuck("text")}, ' ') AS toks
          FROM documents),
        p AS (
          SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 3)) AS pos
          FROM t WHERE len(toks) >= 7),
        hh AS (
          SELECT doc_id, pos::BIGINT AS pos,
                 ('0x' || substr(md5(array_to_string(toks[pos:pos+3], ' ')), 1, 15))::BIGINT % $P AS h,
                 (len(toks) - 3)::BIGINT AS npos
          FROM p),
        w AS (
          SELECT doc_id, pos, h, npos,
                 lag(h, 1) OVER win AS b1, lag(h, 2) OVER win AS b2,
                 lag(h, 3) OVER win AS b3,
                 lead(h, 1) OVER win AS f1, lead(h, 2) OVER win AS f2,
                 lead(h, 3) OVER win AS f3
          FROM hh WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
        SELECT doc_id, pos, h AS fp
        FROM w
        WHERE (pos + 3 <= npos AND f1 > h AND f2 > h AND f3 > h)
           OR (pos >= 2 AND pos + 2 <= npos AND b1 >= h AND f1 > h AND f2 > h)
           OR (pos >= 3 AND pos + 1 <= npos AND b1 >= h AND b2 >= h AND f1 > h)
           OR (pos >= 4 AND b1 >= h AND b2 >= h AND b3 >= h)""")),

    // ---------------------------- entity census (extension)
    // Pattern-based named-entity mention mining — the provenance /
    // PII-adjacent census a corpus audit runs before any model-based
    // NER: maximal runs of ≥ 2 capitalized words extracted with ONE
    // greedy regex (identical semantics in Java regex and RE2), then
    // a (entity) count fold for mentions and document frequency. The
    // fixture is all-lowercase, so mentions are PLANTED in-query (the
    // ta_redact discipline) — two overlapping name sets on the %6
    // residues exercise multi-doc df, multi-mention counts, and the
    // maximal-run rule ("New York City" is one entity, never two).
    // Row-local extract + explode off the scan, one entity-keyed
    // aggregate; output is bounded by the entity vocabulary.
    QueryDef(
      "ta_entities",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id",
            """CASE WHEN doc_id % 6 = 0
                 THEN concat(text, ' Alice Johnson met Bob Smith in New York City while Mary Ann Lee waited')
               WHEN doc_id % 6 = 3
                 THEN concat(text, ' Bob Smith and Carol Jones toured San Francisco')
               ELSE text END AS t""")
          .selectExpr("doc_id",
            "explode(regexp_extract_all(t, '[A-Z][a-z]+(?: [A-Z][a-z]+)+', 0)) AS entity")
          .groupBy("entity")
          .agg(
            org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n_mentions"),
            org.apache.spark.sql.functions.expr("cast(count(DISTINCT doc_id) AS bigint) AS n_docs")),
      Some("""
        WITH t AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 6 = 0
                   THEN text || ' Alice Johnson met Bob Smith in New York City while Mary Ann Lee waited'
                 WHEN doc_id % 6 = 3
                   THEN text || ' Bob Smith and Carol Jones toured San Francisco'
                 ELSE text END AS t
          FROM documents),
        m AS (
          SELECT doc_id, unnest(regexp_extract_all(t, '[A-Z][a-z]+(?: [A-Z][a-z]+)+')) AS entity
          FROM t)
        SELECT entity, count(*)::BIGINT AS n_mentions,
               count(DISTINCT doc_id)::BIGINT AS n_docs
        FROM m GROUP BY entity"""))
  )

  /** Synthetic per-doc URL (the fixture half of ta_urls): every doc
    * carries one; docs ≡ 0 (mod 3) land on a blocklisted domain. The
    * `WWW.` casing and trailing-slash noise exist to be canonicalized
    * away.
    */
  /** The ta_gopher rule table over any (doc_id, text) frame — factored
    * out so the spec can pin each rule's flip point on crafted
    * documents (the fixture corpus never exercises the bullet/ellipsis
    * branches). Pure per-row projections; see the QueryDef commentary.
    */
  private[graft] def gopherRules(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .selectExpr("doc_id", "text",
        s"${Fns.cleanTextSql("text")} AS tc")
      .selectExpr("doc_id", "text", "tc",
        "split(tc, ' ') AS ws", "split(text, '\\n') AS lines")
      .selectExpr("doc_id",
        "cast(size(ws) AS bigint) AS n_words",
        "cast(length(tc) AS bigint) AS char_len",
        "cast(size(filter(ws, w -> w rlike '[A-Za-z]')) AS bigint) AS alpha_words",
        """cast(length(text) - length(replace(text, '#', ''))
           + (length(text) - length(replace(text, '...', ''))) div 3 AS bigint) AS sym_count""",
        "cast(size(lines) AS bigint) AS n_lines",
        """cast(size(filter(lines, l -> startswith(l, '- ') OR startswith(l, '* ')
           OR startswith(l, '•'))) AS bigint) AS bullet_lines""",
        """cast(size(filter(lines, l -> endswith(l, '...')
           OR endswith(l, '…'))) AS bigint) AS ellipsis_lines""",
        """cast(size(filter(array('the','be','to','of','and','that','have','with'),
                           s -> array_contains(ws, s))) AS bigint) AS stop_hits""")
      .selectExpr("doc_id", "n_words", "alpha_words", "sym_count", "stop_hits",
        "n_words >= 50 AND n_words <= 100000 AS r_words",
        """3 * n_words <= char_len - (n_words - 1)
           AND char_len - (n_words - 1) <= 10 * n_words AS r_word_len""",
        "sym_count * 10 <= n_words AS r_symbols",
        "alpha_words * 10 >= n_words * 8 AS r_alpha",
        "bullet_lines * 10 <= n_lines * 9 AS r_bullets",
        "ellipsis_lines * 10 <= n_lines * 3 AS r_ellipsis",
        "stop_hits >= 2 AS r_stopwords")
      .selectExpr("doc_id", "n_words", "alpha_words", "sym_count", "stop_hits",
        "r_words", "r_word_len", "r_symbols", "r_alpha", "r_bullets",
        "r_ellipsis", "r_stopwords",
        """r_words AND r_word_len AND r_symbols AND r_alpha
           AND r_bullets AND r_ellipsis AND r_stopwords AS keep""")

  private val UrlExpr =
    "concat('https://WWW.', source, CASE WHEN doc_id % 3 = 0 THEN '.spam-mirror.example' ELSE '.example.org' END, '/p/', cast(doc_id AS string), '/')"
  private val UrlExprSql =
    "'https://WWW.' || source || (CASE WHEN doc_id % 3 = 0 THEN '.spam-mirror.example' ELSE '.example.org' END) || '/p/' || doc_id::VARCHAR || '/'"

  /** NFC fixture — identical codepoint sequences feed both engines.
    * The source bytes pin the exact PRE-normalization forms: (1)
    * U+00E9 composed é; (2) e + U+0301 combining acute (decomposed);
    * (3) U+212B angstrom SIGN (NFC singleton → U+00C5); (4) d + U+0307
    * dot above + U+0323 dot below — canonical REORDER (ccc 220 before
    * 230) then composition to U+1E0D + U+0307; (5) ASCII fast path.
    */
  private val NfcCases: Seq[(Long, String)] = Seq(
    (1L, "café stays composed"),
    (2L, "café composes the acute"),
    (3L, "Å is the angstrom singleton"),
    (4L, "ḍ̇ reorders then composes"),
    (5L, "plain ascii fast path"))
}
