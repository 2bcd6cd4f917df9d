package graft.operators

import graft.{Fns, QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Keyword search — BM25 ranked retrieval over the documents table.
  *
  * The reference retrieves by embedding similarity only
  * (`/root/reference/src/vector_store.py:158-175`); production RAG
  * stacks pair that with lexical BM25 and fuse the two rankings, so the
  * engine carries a first-class BM25 operator as an extension.
  *
  * Scale design (the 100 TB shape):
  *  - term frequencies are computed per document IN THE SCAN
  *    (`size(filter(toks, ...))` per query term — codegen'd, no explode,
  *    no shuffle): a q-term query costs q array scans per doc;
  *  - corpus statistics (N, Σdl, per-term document frequencies) reduce
  *    to ONE scalar row — a single partial-aggregated pass — and join
  *    back as a broadcast, so the only wide operation in the whole plan
  *    is a TakeOrderedAndProject of the top k;
  *  - the score is a pure projection over (tf…, dl) × the broadcast
  *    stats row: adding terms changes the expression, not the plan.
  *
  * Cross-engine determinism: tf, df, dl, N are exact integers; the
  * score folds per-term contributions in one FIXED left-to-right
  * expression (never a groupBy sum over an exploded term table, whose
  * addition order is nondeterministic), so both engines run the same
  * IEEE double sequence and the rounded score hash-matches.
  */
object Search {

  /** Query terms, inlined as literals into both engines' SQL. */
  private val Terms = Seq("sort", "hash", "window", "spark")
  private val K1 = "1.2"
  private val B = "0.75"
  private val TopK = 20

  /** Per-doc BM25 scores (doc_id, dl, matched_terms, bm25) before the
    * top-k cut — the shared scoring pass ts_bm25 ranks and ts_hybrid
    * fuses. See the object comment for the scale shape.
    */
  private def bm25Scored(spark: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame = {
    val toks = Tables.documents(spark, dir)
      .selectExpr("doc_id",
        s"${Fns.cleanTextSql("text")} AS tc")
      .selectExpr(Seq("doc_id", "cast(size(split(tc, ' ')) AS bigint) AS dl") ++
        Terms.zipWithIndex.map { case (t, i) =>
          s"cast(size(filter(split(tc, ' '), x -> x = '$t')) AS bigint) AS tf$i"
        }: _*)
    val stats = toks.groupBy().agg(
      expr("count(*) AS n_docs"),
      expr("sum(dl) AS sum_dl") +:
        Terms.indices.map(i => expr(s"sum(CASE WHEN tf$i > 0 THEN 1L ELSE 0L END) AS df$i")): _*)
    // norm = (1-b) + b * dl/avgdl, with avgdl division written as
    // (dl * N / Σdl) so both engines run the identical op sequence
    val contrib = Terms.indices.map { i =>
      s"""(ln(1.0D + (cast(n_docs AS double) - cast(df$i AS double) + 0.5D)
                      / (cast(df$i AS double) + 0.5D))
           * (cast(tf$i AS double) * (${K1}D + 1.0D))
           / (cast(tf$i AS double) + ${K1}D * ((1.0D - ${B}D)
                + ${B}D * (cast(dl AS double) * cast(n_docs AS double) / cast(sum_dl AS double)))))"""
    }
    toks.crossJoin(broadcast(stats))
      .selectExpr("doc_id", "dl",
        s"cast(${Terms.indices.map(i => s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END").mkString(" + ")} AS bigint) AS matched_terms",
        s"round(${contrib.mkString(" + ")}, 6) AS bm25")
  }

  /** DuckDB twin of [[bm25Scored]] — a self-contained subquery (WITH
    * inside parentheses) so both ts_bm25 and ts_hybrid embed it.
    */
  private val bm25ScoredSql: String = {
    val contrib = Terms.indices.map { i =>
      s"""(ln(1.0 + (n_docs::DOUBLE - df$i::DOUBLE + 0.5) / (df$i::DOUBLE + 0.5))
           * (tf$i::DOUBLE * ($K1 + 1.0))
           / (tf$i::DOUBLE + $K1 * ((1.0 - $B)
                + $B * (dl::DOUBLE * n_docs::DOUBLE / sum_dl::DOUBLE))))"""
    }
    s"""
        WITH toks AS (
          SELECT doc_id, len(string_split(tc, ' '))::BIGINT AS dl,
                 ${Terms.zipWithIndex.map { case (t, i) =>
                   s"len(list_filter(string_split(tc, ' '), x -> x = '$t'))::BIGINT AS tf$i"
                 }.mkString(",\n                 ")}
          FROM (SELECT doc_id, ${Fns.cleanTextDuck("text")} AS tc
                FROM documents)),
        stats AS (
          SELECT count(*) AS n_docs, sum(dl)::BIGINT AS sum_dl,
                 ${Terms.indices.map(i => s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)::BIGINT AS df$i").mkString(", ")}
          FROM toks)
        SELECT doc_id, dl,
               (${Terms.indices.map(i => s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END").mkString(" + ")})::BIGINT AS matched_terms,
               round(${contrib.mkString(" + ")}, 6) AS bm25
        FROM toks, stats"""
  }

  def queries: Seq[QueryDef] = Seq(
    QueryDef(
      "ts_bm25",
      (spark, dir) =>
        bm25Scored(spark, dir)
          .orderBy(desc("bm25"), col("doc_id"))
          .limit(TopK),
      Some(s"""
        SELECT doc_id, dl, matched_terms, bm25
        FROM ($bm25ScoredSql)
        ORDER BY bm25 DESC, doc_id
        LIMIT $TopK"""))
    ,

    // ------------------------- exact phrase search (positional index)
    // "the standard corpus" as a positional-postings join: tokenize
    // with positions, keep each phrase term's postings, and match
    // where the positions are CONSECUTIVE within a document — the
    // relational form of a search engine's positional inverted index
    // (term filters evaluate inside the scan; the adjacency join keys
    // on (doc, position), never a text rescan). The corpus plants the
    // dd_spandup boilerplate in every doc_id ≡ 0 (mod 7), so the
    // phrase has a known ground truth; natural word soup supplies the
    // negative space.
    QueryDef(
      "ts_phrase",
      (spark, dir) => {
        val posts = Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("doc_id",
            s"CASE WHEN doc_id % 7 = 0 THEN concat(tc, ' ', '${graft.operators.Dedup.SpanBoiler}') ELSE tc END AS tc")
          .selectExpr("doc_id", "posexplode(split(tc, ' ')) AS (pos, w)")
        def term(t: String, alias: String) =
          posts.where(s"w = '$t'").selectExpr("doc_id", s"cast(pos AS bigint) AS $alias")
        term("the", "p1")
          .join(term("standard", "p2"), Seq("doc_id"))
          .where("p2 = p1 + 1")
          .join(term("corpus", "p3"), Seq("doc_id"))
          .where("p3 = p1 + 2")
          .groupBy("doc_id")
          .agg(
            org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n_matches"),
            org.apache.spark.sql.functions.expr("min(p1) AS first_pos"))
      },
      Some(s"""
        WITH c AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN tc || ' ' || '${graft.operators.Dedup.SpanBoiler}' ELSE tc END AS tc
          FROM (SELECT doc_id,
                       ${Fns.cleanTextDuck("text")} AS tc
                FROM documents)),
        posts AS (
          SELECT doc_id, unnest(string_split(tc, ' ')) AS w,
                 generate_subscripts(string_split(tc, ' '), 1) AS i
          FROM c),
        p1 AS (SELECT doc_id, i - 1 AS p1 FROM posts WHERE w = 'the'),
        p2 AS (SELECT doc_id, i - 1 AS p2 FROM posts WHERE w = 'standard'),
        p3 AS (SELECT doc_id, i - 1 AS p3 FROM posts WHERE w = 'corpus')
        SELECT doc_id, count(*)::BIGINT AS n_matches, min(p1)::BIGINT AS first_pos
        FROM p1 JOIN p2 USING (doc_id) JOIN p3 USING (doc_id)
        WHERE p2 = p1 + 1 AND p3 = p1 + 2
        GROUP BY doc_id""")),

    // -------------------- hybrid retrieval (BM25 ⊕ vector, RRF fusion)
    // The modern RAG retrieval stack in one operator: the lexical
    // top-20 (the shared BM25 pass) and the semantic top-20 (hashed-
    // token embedding cosine against the SAME query text) fuse by
    // reciprocal-rank fusion — score = Σ_legs 10⁶ div (60 + rank),
    // integer arithmetic, so the fused ranking is hash-exact with no
    // float fusion weights to drift. RRF needs only each leg's RANKS,
    // which makes it the production fusion choice: legs can come from
    // incomparable scorers (log-scale BM25 vs [-1,1] cosine) without
    // calibration. Scale shape: each leg is its own TakeOrdered top-20
    // (the corpus-wide work is the legs' existing scans); the fusion
    // full-outer join and rank windows touch 20-row sets only —
    // post-retrieval work is O(k), never corpus-sized.
    QueryDef(
      "ts_hybrid",
      (spark, dir) => {
        val queryText = Terms.mkString(" ")
        val lex = bm25Scored(spark, dir)
          .orderBy(desc("bm25"), col("doc_id"))
          .limit(TopK)
          .selectExpr("doc_id",
            "cast(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS bigint) AS lex_rank")
        val q = spark.sql(
          s"SELECT ${Knn.embedLiteralSpark(s"'$queryText'")} AS q_emb")
        val vec = Knn.embedDocs(spark, dir)
          .crossJoin(broadcast(q))
          .selectExpr("doc_id", "round(cosine_f(embedding, q_emb), 6) AS sim")
          .orderBy(desc("sim"), col("doc_id"))
          .limit(TopK)
          .selectExpr("doc_id",
            "cast(row_number() OVER (ORDER BY sim DESC, doc_id) AS bigint) AS vec_rank")
        lex.join(vec, Seq("doc_id"), "full_outer")
          .selectExpr("doc_id",
            "coalesce(lex_rank, 0L) AS lex_rank",
            "coalesce(vec_rank, 0L) AS vec_rank",
            """CASE WHEN lex_rank IS NULL THEN 0L ELSE 1000000L div (60L + lex_rank) END
               + CASE WHEN vec_rank IS NULL THEN 0L ELSE 1000000L div (60L + vec_rank) END AS rrf_ppm""")
          .orderBy(desc("rrf_ppm"), col("doc_id"))
          .limit(10)
      },
      Some {
        val queryText = Terms.mkString(" ")
        s"""
        WITH lex AS (
          SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
          FROM (SELECT doc_id, bm25 FROM ($bm25ScoredSql)
                ORDER BY bm25 DESC, doc_id LIMIT $TopK)),
        emb AS (${Knn.v1EmbedOracle}),
        q AS (SELECT ${Knn.embedLiteralDuck(s"'$queryText'")} AS q_emb),
        vec AS (
          SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS vec_rank
          FROM (SELECT doc_id, round(${Knn.dCos("embedding", "q_emb")}, 6) AS sim
                FROM emb, q
                ORDER BY sim DESC, doc_id LIMIT $TopK))
        SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
               coalesce(lex_rank, 0)::BIGINT AS lex_rank,
               coalesce(vec_rank, 0)::BIGINT AS vec_rank,
               (CASE WHEN lex_rank IS NULL THEN 0 ELSE 1000000 // (60 + lex_rank) END
                + CASE WHEN vec_rank IS NULL THEN 0 ELSE 1000000 // (60 + vec_rank) END)::BIGINT AS rrf_ppm
        FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
        ORDER BY rrf_ppm DESC, doc_id
        LIMIT 10"""
      }),

    // ------------------- typo-tolerant term lookup (fuzzy vocabulary)
    // "Did you mean": each (misspelled) query term expands to every
    // corpus vocabulary word within edit distance 1, with its document
    // frequency — the fuzzy expansion a search engine feeds back into
    // retrieval. Candidates come from the FastSS both-sides deletion-
    // neighborhood equi-join (the dd_record_linkage machinery on the
    // native del_hashes kernel): equal strings collide at (0,0),
    // deletion/insertion as whole-vs-variant, substitution as
    // same-position variants — ONE hash equi-join, no vocabulary cross
    // product, exact levenshtein kills the rare 64-bit collision. The
    // query side is 4 terms × O(len) variants — a broadcast; the vocab
    // side is one corpus aggregate + O(len) variants per DISTINCT
    // word. The DuckDB oracle deliberately brute-forces levenshtein
    // over vocab × terms, so a green row proves the neighborhood join
    // recalls EVERY within-distance word, not that two copies of one
    // idea agree. Typos are d1 edits of boilerplate words (deletion,
    // truncation, substitution, deletion): the %7 plant guarantees
    // they exist in-vocabulary.
    QueryDef(
      "ts_fuzzy",
      (spark, dir) => {
        val qterms = Seq("standrd", "corpu", "licence", "redistribted")
        val q = spark.sql(
            s"SELECT explode(array(${qterms.map(t => s"'$t'").mkString(", ")})) AS qt")
          .selectExpr("qt", "posexplode(del_hashes(qt)) AS (qi, qh)")
        val vocab = Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("doc_id",
            s"CASE WHEN doc_id % 7 = 0 THEN concat(tc, ' ', '${graft.operators.Dedup.SpanBoiler}') ELSE tc END AS tc")
          .selectExpr("explode(split(tc, ' ')) AS w")
          .where("w != ''")
          .groupBy("w").agg(expr("cast(count(*) AS bigint) AS df"))
          .selectExpr("w", "df", "posexplode(del_hashes(w)) AS (vi, vh)")
        vocab.join(broadcast(q), expr("vh = qh AND (vi = 0 OR qi = 0 OR vi = qi)"))
          .where("levenshtein(qt, w) <= 1")
          .selectExpr("qt AS query_term", "w AS word", "df",
            "cast(levenshtein(qt, w) AS bigint) AS dist")
          .distinct()
      },
      Some(s"""
        WITH c AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN tc || ' ' || '${graft.operators.Dedup.SpanBoiler}' ELSE tc END AS tc
          FROM (SELECT doc_id,
                       ${Fns.cleanTextDuck("text")} AS tc
                FROM documents)),
        v AS (
          SELECT w, count(*)::BIGINT AS df
          FROM (SELECT unnest(string_split(tc, ' ')) AS w FROM c)
          WHERE w != '' GROUP BY 1),
        q(qt) AS (SELECT * FROM (VALUES ('standrd'), ('corpu'), ('licence'), ('redistribted')))
        SELECT qt AS query_term, w AS word, df, levenshtein(qt, w)::BIGINT AS dist
        FROM v, q
        WHERE levenshtein(qt, w) <= 1""")),

    // ------------------- ranking quality audit (NDCG@k, every k ≤ K)
    // The eval half of the retrieval stack: how good is the ts_bm25
    // ranking against a graded relevance label? Relevance here is the
    // deterministic rel = min(matched_terms, 3) (0–3 grades), gain is
    // the standard 2^rel − 1, and the log2 rank discounts are
    // PRECOMPUTED integer ppm constants ([[NdcgDiscountPpm]]) rendered
    // into both engines — the Dct8 one-source-of-truth discipline, so
    // no per-engine transcendental can drift a single unit. DCG and
    // IDCG accumulate as exact integers over the top-K and the ideal
    // (relevance-sorted) top-K respectively; one truncating division
    // per cutoff yields NDCG@k for EVERY k ≤ K in one output table —
    // the eval curve, not a single scalar. Scale shape: both rankings
    // are TakeOrderedAndProject roots over the shared broadcast-stats
    // scoring scan (no global sort); everything after the two top-K
    // cuts is K-row-bounded arithmetic.
    QueryDef(
      "ts_ndcg",
      (spark, dir) => {
        val scored = bm25Scored(spark, dir)
          .selectExpr("doc_id", "bm25", "least(matched_terms, 3L) AS rel")
        val top = scored.orderBy(desc("bm25"), col("doc_id")).limit(TopK)
          .selectExpr("doc_id", "rel", "bm25")
          .selectExpr("doc_id", "rel",
            "cast(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS bigint) AS k")
        val ideal = scored.orderBy(desc("rel"), desc("bm25"), col("doc_id")).limit(TopK)
          .selectExpr("rel AS irel", "bm25")
          .selectExpr("irel",
            "cast(row_number() OVER (ORDER BY irel DESC, bm25 DESC) AS bigint) AS k")
        val w = s"element_at(array(${NdcgDiscountPpm.mkString("L, ")}L), cast(k AS int))"
        top.join(broadcast(ideal), "k")
          .selectExpr("k", "doc_id", "rel", "irel",
            s"(shiftleft(1L, cast(rel AS int)) - 1) * $w AS g",
            s"(shiftleft(1L, cast(irel AS int)) - 1) * $w AS ig")
          .selectExpr("k", "doc_id", "rel", "irel",
            "sum(g) OVER (ORDER BY k) AS dcg_m",
            "sum(ig) OVER (ORDER BY k) AS idcg_m")
          .selectExpr("k", "doc_id", "rel", "irel", "dcg_m", "idcg_m",
            "CASE WHEN idcg_m = 0 THEN 0L ELSE dcg_m * 1000000L div idcg_m END AS ndcg_ppm")
      },
      Some(s"""
        WITH scored AS (
          SELECT doc_id, bm25, least(matched_terms, 3)::BIGINT AS rel
          FROM ($bm25ScoredSql)),
        top AS (
          SELECT doc_id, rel,
                 row_number() OVER (ORDER BY bm25 DESC, doc_id)::BIGINT AS k
          FROM (SELECT * FROM scored ORDER BY bm25 DESC, doc_id LIMIT $TopK)),
        ideal AS (
          SELECT rel AS irel,
                 row_number() OVER (ORDER BY rel DESC, bm25 DESC, doc_id)::BIGINT AS k
          FROM (SELECT * FROM scored ORDER BY rel DESC, bm25 DESC, doc_id LIMIT $TopK)),
        wt(k, w) AS (SELECT unnest(generate_series(1, $TopK)),
                            unnest(${NdcgDiscountPpm.mkString("[", ", ", "]")}::BIGINT[])),
        gains AS (
          SELECT t.k, t.doc_id, t.rel, i.irel,
                 ((1::BIGINT << t.rel) - 1) * wt.w AS g,
                 ((1::BIGINT << i.irel) - 1) * wt.w AS ig
          FROM top t JOIN ideal i USING (k) JOIN wt USING (k)),
        cum AS (
          SELECT k, doc_id, rel, irel,
                 sum(g) OVER (ORDER BY k)::BIGINT AS dcg_m,
                 sum(ig) OVER (ORDER BY k)::BIGINT AS idcg_m
          FROM gains)
        SELECT k, doc_id, rel, irel, dcg_m, idcg_m,
               CASE WHEN idcg_m = 0 THEN 0
                    ELSE dcg_m * 1000000 // idcg_m END::BIGINT AS ndcg_ppm
        FROM cum""")),

    // ------------------ binary-relevance IR metrics (the eval row)
    // The other half of the eval stack next to ts_ndcg's graded curve:
    // MRR, precision@k, and recall@k for every k ≤ 20 under binary
    // relevance (rel = matched_terms ≥ 2 — strict enough that the
    // metrics move). All integers: hits is a cumulative sum over the
    // top-K cut, each metric one truncating ppm division, MRR =
    // 10⁶ div first-relevant-rank (0 when the top-K holds none). Scale
    // shape: the ranking is the shared broadcast-stats scoring scan's
    // TakeOrderedAndProject; the recall denominator is ONE 1-row
    // aggregate over the same scan; everything after is 20-row
    // arithmetic.
    QueryDef(
      "ts_ir_metrics",
      (spark, dir) => {
        val scored = bm25Scored(spark, dir)
          .selectExpr("doc_id", "bm25",
            "CASE WHEN matched_terms >= 2 THEN 1L ELSE 0L END AS rel")
        val totalRel = scored.groupBy().agg(expr("cast(sum(rel) AS bigint) AS n_rel"))
        val top = scored.orderBy(desc("bm25"), col("doc_id")).limit(TopK)
          .selectExpr("doc_id", "rel", "bm25")
          .selectExpr("doc_id", "rel",
            "cast(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS bigint) AS k")
        val mrr = top.groupBy().agg(expr(
          "coalesce(1000000L div min(CASE WHEN rel = 1 THEN k END), 0L) AS mrr_ppm"))
        top
          .selectExpr("k", "sum(rel) OVER (ORDER BY k) AS hits")
          .crossJoin(broadcast(totalRel))
          .crossJoin(broadcast(mrr))
          .selectExpr("k", "hits",
            "hits * 1000000L div k AS precision_ppm",
            "CASE WHEN n_rel = 0 THEN 0L ELSE hits * 1000000L div n_rel END AS recall_ppm",
            "mrr_ppm")
      },
      Some(s"""
        WITH scored AS (
          SELECT doc_id, bm25,
                 CASE WHEN matched_terms >= 2 THEN 1 ELSE 0 END::BIGINT AS rel
          FROM ($bm25ScoredSql)),
        tot AS (SELECT sum(rel)::BIGINT AS n_rel FROM scored),
        top AS (
          SELECT doc_id, rel,
                 row_number() OVER (ORDER BY bm25 DESC, doc_id)::BIGINT AS k
          FROM (SELECT * FROM scored ORDER BY bm25 DESC, doc_id LIMIT $TopK)),
        m AS (SELECT coalesce(1000000 // min(CASE WHEN rel = 1 THEN k END), 0)::BIGINT AS mrr_ppm
              FROM top),
        cum AS (SELECT k, sum(rel) OVER (ORDER BY k)::BIGINT AS hits FROM top)
        SELECT k, hits,
               (hits * 1000000 // k)::BIGINT AS precision_ppm,
               (CASE WHEN n_rel = 0 THEN 0 ELSE hits * 1000000 // n_rel END)::BIGINT AS recall_ppm,
               mrr_ppm
        FROM cum, tot, m""")),

    // --------------------- reciprocal-rank fusion (the OTHER fusion)
    // ts_hybrid fuses SCORES; RRF (Cormack et al. 2009) fuses RANKS —
    // the fusion that needs no score calibration at all, which is why
    // it's the default in every hybrid-search stack. Two retrievers
    // over the shared scoring scan: the BM25 ranking and a brevity
    // prior (dl ASC — the deterministic stand-in for any second
    // retriever's rank list; at 100 TB this column is an ANN ranker's
    // output). Each contributes 1e6 div (60 + rank) integer ppm for
    // docs inside its top-100 pool, zero outside (missing-from-pool is
    // the standard RRF convention, kept explicit via the outer join).
    // Everything is exact integers — rank fusion is drift-immune by
    // construction, the whole point of RRF. Scale shape: two
    // TakeOrderedAndProject pools (K-bounded) off one shared scan,
    // a pool-sized outer join, and a final top-20 cut — nothing after
    // the scan touches more than 200 rows.
    QueryDef(
      "ts_rrf",
      (spark, dir) => {
        val scored = bm25Scored(spark, dir)
        val poolA = scored.orderBy(desc("bm25"), col("doc_id")).limit(100)
          .selectExpr("doc_id", "bm25",
            "cast(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS bigint) AS rank_bm25")
        val poolB = scored.orderBy(col("dl"), col("doc_id")).limit(100)
          .selectExpr("doc_id", "dl",
            "cast(row_number() OVER (ORDER BY dl, doc_id) AS bigint) AS rank_brev")
        poolA.join(poolB, Seq("doc_id"), "full_outer")
          .selectExpr("doc_id",
            "coalesce(rank_bm25, 0L) AS rank_bm25",
            "coalesce(rank_brev, 0L) AS rank_brev",
            s"""coalesce(1000000L div ($RrfK + rank_bm25), 0L)
                + coalesce(1000000L div ($RrfK + rank_brev), 0L) AS rrf_ppm""")
          .orderBy(desc("rrf_ppm"), col("doc_id")).limit(TopK)
      },
      Some(s"""
        WITH scored AS ($bm25ScoredSql),
        pool_a AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY bm25 DESC, doc_id)::BIGINT AS rank_bm25
          FROM (SELECT * FROM scored ORDER BY bm25 DESC, doc_id LIMIT 100)),
        pool_b AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY dl, doc_id)::BIGINT AS rank_brev
          FROM (SELECT * FROM scored ORDER BY dl, doc_id LIMIT 100)),
        fused AS (
          SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                 coalesce(a.rank_bm25, 0)::BIGINT AS rank_bm25,
                 coalesce(b.rank_brev, 0)::BIGINT AS rank_brev,
                 (coalesce(1000000 // ($RrfK + a.rank_bm25), 0)
                  + coalesce(1000000 // ($RrfK + b.rank_brev), 0))::BIGINT AS rrf_ppm
          FROM pool_a a FULL OUTER JOIN pool_b b ON a.doc_id = b.doc_id)
        SELECT doc_id, rank_bm25, rank_brev, rrf_ppm
        FROM fused ORDER BY rrf_ppm DESC, doc_id LIMIT $TopK""")),

    // -------------- pseudo-relevance feedback (Rocchio-style expansion)
    // The classic second-pass retrieval trick (Rocchio 1971 / RM1):
    // assume the lexical top-[[PrfPool]] are relevant, mine their
    // vocabulary for the [[PrfExpand]] terms most characteristic of the
    // pool (frequent in the pool, rare in the corpus, stopwords
    // excluded by the 2·df ≤ N cut), and re-retrieve with the expanded
    // query. Term selection and the final score are EXACT INTEGERS —
    // weight_t·idf_ppm(t) summed per token occurrence (idf_ppm =
    // (N−df+1)·10⁶ div (df+1), original terms weight 2, expansion
    // weight 1) — so the data-dependent expanded query stays
    // hash-identical cross-engine with no float fold-order to pin.
    // Everything is in-plan (no driver-side collect): the pool is a
    // 10-row TakeOrdered broadcast, candidate mining is the vocab-
    // bounded df table joined against the pool's term set, and the
    // re-score is one token explode joined to the 9-row broadcast
    // term table — per-occurrence contributions summed per doc, so no
    // (doc, term) intermediate materializes. Scale shape: three
    // corpus passes (BM25 scan, distinct-token df reduce, scoring
    // explode), each one partial-aggregated exchange; nothing after
    // them touches more than vocab- or K-bounded rows.
    QueryDef(
      "ts_prf",
      (spark, dir) => {
        import org.apache.spark.sql.graft.CheckpointOps.FenceSyntax
        val cleaned = Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"${Fns.cleanTextSql("text")} AS tc")
        // fenced: the regex-clean + tokenize corpus pass feeds THREE
        // consumers (the distinct-token df mining, the final scoring
        // explode, and the doc count) — unfenced, each re-ran the
        // whole pass (r17 profile: a fully serialized 17×1-task chain,
        // 3.1 s of single-core work at sf0.1). One materialization;
        // layout stays the scan's natural split shape (no forced
        // exchange of tokenized arrays — at 100 TB the scan's own
        // splits carry the parallelism). Memory: this fence holds the
        // WHOLE tokenized corpus, so its blocks are corpus-sized; at
        // 100 TB run with spark.graft.fence.storageLevel=DISK_ONLY and
        // local disk of about the corpus's size.
        val toks = cleaned.selectExpr("doc_id", "split(tc, ' ') AS t").fenced
        val pool = bm25Scored(spark, dir)
          .orderBy(desc("bm25"), col("doc_id")).limit(PrfPool).select("doc_id")
        val expl = toks.selectExpr("doc_id", "explode(array_distinct(t)) AS w")
        // vocab-bounded and consumed twice (candidate mining + the
        // original-term idf lookup) — fence so the distinct-token
        // explode + df aggregate run once
        val df = expl.groupBy("w").agg(expr("cast(count(*) AS bigint) AS df"))
          .fenced
        val n = toks.groupBy().agg(expr("cast(count(*) AS bigint) AS n_docs"))
        val origList = Terms.map(t => s"'$t'").mkString(", ")
        val cand = expl.join(broadcast(pool), "doc_id")
          .groupBy("w").agg(expr("cast(count(*) AS bigint) AS pool_df"))
          .join(df, "w").crossJoin(broadcast(n))
          .where(s"w NOT IN ($origList) AND w rlike '^[a-z0-9~]+$$' AND 2 * df <= n_docs")
          .orderBy(desc("pool_df"), col("df"), col("w")).limit(PrfExpand)
          .selectExpr("w AS term", "cast(1 AS bigint) AS wt", "df")
        val orig = n.selectExpr(s"explode(array($origList)) AS term")
          .selectExpr("term", "cast(2 AS bigint) AS wt")
          .join(df.withColumnRenamed("w", "term"), Seq("term"), "left")
        val w9 = cand.unionByName(orig).crossJoin(broadcast(n))
          .selectExpr("term", "wt",
            "cast((n_docs - coalesce(df, 0L) + 1L) * 1000000L div (coalesce(df, 0L) + 1L) AS bigint) AS idf_ppm")
        toks.selectExpr("doc_id", "explode(t) AS w")
          .join(broadcast(w9), expr("w = term"))
          .groupBy("doc_id")
          .agg(
            expr("cast(sum(wt * idf_ppm) AS bigint) AS prf_score"),
            expr("cast(count(DISTINCT term) AS bigint) AS n_terms"))
          .orderBy(desc("prf_score"), col("doc_id")).limit(TopK)
      },
      Some {
        val origList = Terms.map(t => s"'$t'").mkString(", ")
        val origRows = Terms.map(t => s"('$t')").mkString(", ")
        s"""
        WITH c AS (
          SELECT doc_id, ${Fns.cleanTextDuck("text")} AS tc
          FROM documents),
        toks AS (SELECT doc_id, string_split(tc, ' ') AS t FROM c),
        scored AS ($bm25ScoredSql),
        pool AS (SELECT doc_id FROM scored ORDER BY bm25 DESC, doc_id LIMIT $PrfPool),
        expl AS (SELECT doc_id, unnest(list_distinct(t)) AS w FROM toks),
        df AS (SELECT w, count(*)::BIGINT AS df FROM expl GROUP BY w),
        n AS (SELECT count(*)::BIGINT AS n_docs FROM c),
        cand AS (
          SELECT w AS term, 1::BIGINT AS wt, d.df
          FROM (SELECT w, count(*)::BIGINT AS pool_df
                FROM expl JOIN pool USING (doc_id) GROUP BY w) p
          JOIN df d USING (w), n
          WHERE w NOT IN ($origList)
            AND regexp_full_match(w, '[a-z0-9~]+')
            AND 2 * d.df <= n.n_docs
          ORDER BY pool_df DESC, d.df ASC, w ASC
          LIMIT $PrfExpand),
        w9 AS (
          SELECT term, wt,
                 ((n_docs - coalesce(df, 0) + 1) * 1000000 // (coalesce(df, 0) + 1))::BIGINT AS idf_ppm
          FROM (SELECT term, wt, df FROM cand
                UNION ALL
                SELECT t.term, 2::BIGINT, d.df
                FROM (VALUES $origRows) t(term) LEFT JOIN df d ON d.w = t.term), n)
        SELECT doc_id, sum(wt * idf_ppm)::BIGINT AS prf_score,
               count(DISTINCT term)::BIGINT AS n_terms
        FROM (SELECT doc_id, unnest(t) AS w FROM toks) tok
        JOIN w9 ON tok.w = w9.term
        GROUP BY doc_id
        ORDER BY prf_score DESC, doc_id LIMIT $TopK"""
      }),

    // --------------------- best-passage snippet extraction (display)
    // The last mile of the retrieval stack: for every matching document
    // the densest 20-token window of query-term hits and its text — the
    // highlighted passage a search result shows. The optimal window
    // always starts AT a hit (shifting a window right to its first hit
    // never loses one), so candidates are hit positions only: one
    // match-bounded explode (positions of the 4 query terms, never all
    // tokens), hit density per candidate as ONE doc-partitioned RANGE
    // window over the hit rows, leftmost-argmax per doc via the
    // (density DESC, pos ASC) row_number, and the winner joins BACK to
    // the doc scan to slice its snippet — so document text never rides
    // the exchange; only the output-sized winner set touches it.
    QueryDef(
      "ts_snippet",
      (spark, dir) => {
        val termList = Terms.map(t => s"'$t'").mkString("(", ", ", ")")
        val toks = Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"split(${Fns.cleanTextSql("text")}, ' ') AS toks")
        val best = toks
          // posexplode + codegen'd IN filter, NOT a filter() lambda
          // over sequence(1, n): the interpreted per-token lambda cost
          // 3× the generator pipeline on the same 10⁸ token stream
          .selectExpr("doc_id", "posexplode(toks) AS (p, w)")
          .where(s"w IN $termList")
          .selectExpr("doc_id", "cast(p + 1 AS bigint) AS pos")
          .selectExpr("doc_id", "pos",
            """count(*) OVER (PARTITION BY doc_id ORDER BY pos
                              RANGE BETWEEN CURRENT ROW AND 19 FOLLOWING) AS n_hits""")
          .selectExpr("doc_id", "pos", "n_hits",
            """row_number() OVER (PARTITION BY doc_id
                                  ORDER BY n_hits DESC, pos ASC) AS rk""")
          .where("rk = 1")
        best.join(toks, "doc_id")
          .selectExpr("doc_id", "pos AS win_start",
            "least(pos + 19, cast(size(toks) AS bigint)) AS win_end",
            "n_hits",
            "array_join(slice(toks, cast(pos AS int), cast(least(20L, size(toks) - pos + 1) AS int)), ' ') AS snippet")
      },
      Some {
        val termList = Terms.map(t => s"'$t'").mkString("(", ", ", ")")
        s"""
        WITH t AS (
          SELECT doc_id,
                 string_split(${Fns.cleanTextDuck("text")}, ' ') AS toks
          FROM documents),
        m AS (
          SELECT doc_id, s['pos']::BIGINT AS pos
          FROM (SELECT doc_id,
                       unnest(list_filter(list_transform(generate_series(1, len(toks)),
                         i -> {'pos': i, 'w': toks[i]}), s -> s['w'] IN $termList)) AS s
                FROM t)),
        w AS (
          SELECT doc_id, pos,
                 count(*) OVER (PARTITION BY doc_id ORDER BY pos
                                RANGE BETWEEN CURRENT ROW AND 19 FOLLOWING) AS n_hits
          FROM m),
        b AS (
          SELECT doc_id, pos, n_hits
          FROM (SELECT doc_id, pos, n_hits,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY n_hits DESC, pos ASC) AS rk
                FROM w)
          WHERE rk = 1)
        SELECT b.doc_id, pos AS win_start,
               least(pos + 19, len(toks))::BIGINT AS win_end,
               n_hits::BIGINT AS n_hits,
               array_to_string(toks[pos:least(pos + 19, len(toks))], ' ') AS snippet
        FROM b JOIN t ON b.doc_id = t.doc_id"""
      })
  )

  /** ts_ndcg: integer ppm log2 rank discounts, round(1e6 / log2(r+1))
    * for r = 1..TopK — ONE source of truth rendered into both engines'
    * plans so the discount table cannot drift (the Dct8 discipline).
    */
  private val NdcgDiscountPpm: Seq[Long] =
    (1 to TopK).map(r => math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))

  /** ts_rrf's smoothing constant — the k in 1/(k + rank), the
    * literature default (Cormack et al. 2009).
    */
  private val RrfK = 60L

  /** ts_prf: pseudo-relevant pool size and expansion-term count. */
  private val PrfPool = 10
  private val PrfExpand = 5
}
