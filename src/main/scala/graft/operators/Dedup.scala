package graft.operators

import org.apache.spark.sql.graft.CheckpointOps.{pin, release, FenceSyntax}
import graft.{Fns, QueryDef, SessionMemo, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication suite — the training-data-pipeline extension family:
  * exact dedup, MinHash+LSH, SimHash, n-gram Jaccard verification, and
  * embedding-cosine near-dup.
  *
  * Everything is built on md5-derived 60-bit hashes (the SQL form is
  * [[graft.Fns.hash60]]; the hot paths run the native kernels in
  * [[graft.plans.TextHash]], bit-identical and codegen'd) so Spark
  * results and the DuckDB oracle agree bit-for-bit — no engine-private
  * hash functions (Spark's `hash`/`xxhash64` have no DuckDB twin).
  *
  * Scale design:
  *  - no operator ever forms the full O(n²) pair set — candidates come
  *    from LSH band buckets (minhash), 15-bit simhash bands, or
  *    (lang, length) blocking, and the verification join only touches
  *    candidate pairs;
  *  - shingle sets are reduced to DISTINCT int64 hash arrays before any
  *    join (int set-intersection is ~10× cheaper than string, and the
  *    shuffle moves 8-byte ints, not text);
  *  - band self-joins carry ONLY (doc_id, band key); shingle sets are
  *    joined back per candidate pair afterwards.
  */
object Dedup {

  private val P = 1000000007L

  /** Fan-out for the hash-fold barriers. An explicit partition count is
    * load-bearing: a bare repartition(col) is AQE-coalesced back to ONE
    * partition on small inputs (tiny shuffle < advisory size), which
    * serializes every fold; pinning it keeps all cores busy.
    */
  private def Par = org.apache.spark.sql.SparkSession.active
    .sessionState.conf.numShufflePartitions
  private val NumHashes = 16
  private val Bands = 4
  private val Rows = 4 // NumHashes / Bands
  private val JaccardThreshold = 0.5
  private val MaxShingleDf = 50
  private val ContainmentThreshold = 0.8
  private[graft] val CosineThreshold = 0.35
  // 60-bit simhash, 4 bands × 15 bits: detection guaranteed for
  // hamming ≤ 3 (pigeonhole over 4 bands), overwhelmingly likely up to
  // the ≤ 6 emitted; 2^15 buckets per band keeps common-vocab corpora
  // from collapsing into hot buckets (8-bit bands did: 10k+ candidate
  // pairs on 500 docs).
  // dd_spandup: 20-token windows; the planted boilerplate (24 words,
  // inlined literally into both engines) yields 24−20+1 = 5 shared
  // fully-internal spans per planted doc
  private val SpanTokens = 20
  // dd_decontaminate: the GPT-3 appendix-C rule — a training doc is
  // contaminated when it shares any 13-gram with the eval set; eval
  // split = doc_id % 97 (coprime to the %5/%7 plants, so the eval set
  // samples both planted and clean documents)
  private[graft] val DecontamTokens = 13
  private[graft] val EvalMod = 97
  private[graft] val SpanBoiler =
    "this document is provided under the standard corpus license and may be " +
      "redistributed only with this notice attached in full to every copy made"
  // dd_exact_substr: a SECOND planted phrase (26 words), PREPENDED, so
  // some documents carry two disjoint duplicated islands (one at each
  // end) and the span-merge logic is exercised on both boundaries
  private[graft] val SpanBoiler2 =
    "the contents of this file are generated for benchmark purposes and any " +
      "resemblance to real documents is purely coincidental as stated in the shared preamble text"
  private val SimBits = 60
  private val SimBandBits = 15
  private val SimBands = 4
  private val HammingMax = 6

  /** Deterministic minhash coefficients, inlined as literals into BOTH
    * engines' SQL so they cannot diverge.
    */
  private val A: Seq[Long] = (0 until NumHashes).map(j => ((2L * j + 1) * 2654435761L) % P)
  private val B: Seq[Long] = (0 until NumHashes).map(j => ((j + 1) * 40503L * 65537L) % P)

  private def sparkArr(xs: Seq[Long]) = xs.mkString("array(", "L, ", "L)")
  private def duckArr(xs: Seq[Long]) = xs.mkString("[", ", ", "]")

  /** doc_id + distinct word-4-gram shingle set as int64 hashes (guarded
    * for short docs: < 4 tokens → the whole text is the single shingle).
    * 4-grams, not 3: on a dense shared vocabulary 3-grams collide so
    * often that the inverted-index posting join inflates 29× (1.13M vs
    * 39k candidate pairs at sf0.1) while the verified ≥ 0.5 match set is
    * IDENTICAL — 4-grams carry the same near-dup signal at a fraction
    * of the join cost.
    *
    * Shingling runs through the native `word_shingles` kernel
    * (graft.plans.TextHash) — one codegen'd static call per document
    * instead of an interpreted md5 lambda per shingle.
    *
    * The fold feeds at least two DAG branches in every consumer (band
    * join + Jaccard verify) and a dozen queries read it, so it is
    * pinned once per (session, dir), filled when built, and shared: the
    * pin is also the barrier that keeps projection collapse from
    * re-inlining the fold into every consumer, and its measured size
    * lets joins broadcast it when small. Its blocks live until the
    * memo's `reset`.
    */
  private[graft] val shingleHashes = new SessionMemo[DataFrame]((spark, dir) =>
    pin(Tables.documents(spark, dir)
      .select("doc_id", "lang", "text")
      // single-file tables scan as ONE task; fan out before the hash
      // folds so they use every core (at real scale row-group splits
      // provide this for free, and the tiny text shuffle is noise)
      .repartition(Par, col("doc_id"))
      .selectExpr("doc_id", "lang",
        s"${Fns.cleanTextSql("text")} AS tc")
      .selectExpr("doc_id", "lang", "split(tc, ' ') AS toks")
      .selectExpr("doc_id", "lang", "size(toks) AS n_toks", "word_shingles(toks, 4) AS hs"),
      fill = true),
    release)

  private[graft] val shingleHashesSql: String =
    s"""SELECT doc_id, lang, len(toks) AS n_toks,
      |       list_distinct(list_transform(
      |         CASE WHEN len(toks) < 4 THEN [tc]
      |              ELSE list_transform(generate_series(1, len(toks) - 3),
      |                                  i -> array_to_string(toks[i:i+3], ' '))
      |         END,
      |         s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS hs
      |FROM (SELECT doc_id, lang, string_split(tc, ' ') AS toks, tc
      |      FROM (SELECT doc_id, lang, ${Fns.cleanTextDuck("text")} AS tc
      |            FROM documents))""".stripMargin

  /** Exact Jaccard over two distinct int arrays (SQL fragments). */
  private val sparkJaccard =
    """cast(size(array_intersect(hs_a, hs_b)) AS double)
       / cast(size(array_union(hs_a, hs_b)) AS double)"""
  private val duckJaccard =
    """len(list_intersect(a.hs, b.hs))::DOUBLE / len(list_distinct(a.hs || b.hs))::DOUBLE"""

  /** Join candidate (doc_a, doc_b) pairs back to their shingle sets and
    * emit verified Jaccard pairs ≥ threshold.
    */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame): DataFrame = {
    val a = sh.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"))
    cand.join(a, "doc_a").join(b, "doc_b")
      .selectExpr("doc_a", "doc_b", s"$sparkJaccard AS jaccard")
      .where(s"jaccard >= $JaccardThreshold")
      .selectExpr("doc_a", "doc_b", "round(jaccard, 6) AS jaccard")
  }

  /** The MinHash+LSH verified-pair pipeline, shared by dd_minhash_lsh,
    * dd_edit_distance, and the curation queries: shingle hashes → 16
    * native minhashes → 4 bands × 4 rows → bucket self-join on
    * (band, key) only → distinct candidates → exact Jaccard ≥ 0.5.
    *
    * A dozen consumers (dd_minhash_lsh, dd_edit_distance, dd_cluster,
    * the tp_curate family) read this tiny verified-pair set, so the
    * RESULT is pinned once per (session, dir), filled when built, and
    * shared: the band join and the verify run once, and its measured
    * size lets joins broadcast it. Its blocks live until the memo's
    * `reset`.
    */
  val minhashPairs = new SessionMemo[DataFrame]((spark, dir) =>
    pin(verifyJaccard(minhashCandidates(spark, dir), shingleHashes(spark, dir)), fill = true),
    release)

  /** The pre-verification LSH candidate pair set — exposed so
    * PruningSpec can assert the banding actually prunes (candidates ≪
    * all pairs), a property a recall-only oracle cannot see break.
    */
  private[graft] def minhashCandidates(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleHashes(spark, dir)
    // native one-pass 16-permutation minhash (graft.plans.TextHash);
    // coefficients identical to the literal arrays in the oracle SQL
    // both sides of the band self-join read this one exchange (the
    // plan reuses it), so the 16-permutation fold runs once
    val sig = sh.selectExpr("doc_id", "minhash16(hs) AS mh")
      .repartition(Par, col("doc_id"))
    val bands = sig.selectExpr(
        "doc_id",
        s"""explode(transform(sequence(0, ${Bands - 1}, 1),
                    b -> named_struct('band_id', b,
                                      'band_key', array_join(transform(slice(mh, b * $Rows + 1, $Rows),
                                                                       x -> cast(x AS string)), '_')))) AS bk""")
      .selectExpr("doc_id", "bk.band_id AS band_id", "bk.band_key AS band_key")
    val l = bands.select(col("band_id"), col("band_key"), col("doc_id").as("doc_a"))
    val r = bands.select(col("band_id").as("band_id_r"), col("band_key").as("band_key_r"),
      col("doc_id").as("doc_b"))
    l.join(r,
        l("band_id") === r("band_id_r") && l("band_key") === r("band_key_r") &&
          l("doc_a") < r("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** DuckDB twin of [[minhashPairs]] (a complete SELECT usable as a
    * derived table / CTE body).
    */
  val minhashPairsSql: String = s"""
        WITH sh AS ($shingleHashesSql),
        sig AS (
          SELECT doc_id,
                 list_transform(generate_series(0, ${NumHashes - 1}),
                   j -> list_min(list_transform(
                          list_transform(hs, h -> h % $P),
                          h -> (${duckArr(A)}[j + 1] * h + ${duckArr(B)}[j + 1]) % $P))) AS mh
          FROM sh
        ),
        bands AS (
          SELECT doc_id, bb.band_id,
                 array_to_string(mh[bb.band_id * $Rows + 1 : bb.band_id * $Rows + $Rows], '_') AS band_key
          FROM sig, (SELECT unnest(generate_series(0, ${Bands - 1})) AS band_id) bb
        ),
        cand AS (
          SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
          FROM bands l JOIN bands r
            ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.doc_id < r.doc_id
        )
        SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard
        FROM (
          SELECT c.doc_a, c.doc_b, $duckJaccard AS jaccard
          FROM cand c JOIN sh a ON c.doc_a = a.doc_id JOIN sh b ON c.doc_b = b.doc_id)
        WHERE jaccard >= $JaccardThreshold"""

  /** ExactSubstr dedup core (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", at token granularity): find every
    * MAXIMAL token span of length ≥ k repeated across ≥ 2 documents, at
    * ARBITRARY boundaries — the operator that catches boilerplate
    * which paragraph- or doc-grain dedup (dd_spandup / dd_paragraph)
    * cannot, because a duplicated run need not align with any
    * structural unit. Input: (doc_id, tc) with tc single-space
    * normalized; output one row per maximal duplicated span:
    * (doc_id, span_start, span_end, span_tokens), token positions
    * 1-based inclusive.
    *
    * Shape: a span of length L ≥ k is repeated iff ALL of its L−k+1
    * k-token windows are repeated, so flagging every window whose
    * hash occurs in ≥ 2 documents and merging flagged starts whose
    * gap ≤ k (their windows overlap or touch) reconstructs exactly
    * the maximal repeated spans — the rolling-hash factoring of the
    * suffix-array formulation, and the one that distributes: cost is
    * LINEAR in corpus tokens, no pair space.
    *
    * 100 TB notes: the posting table (h, doc_id, pos) is corpus-token
    * sized but fixed-width; it is exchanged ON h exactly ONCE
    * (explicit repartition — window hashes are ~unique per map task,
    * so map-side partial aggregation would be the gr_linkpred lost
    * bet; the df aggregate and the flagged semi join both reuse the
    * same partitioning exchange-free). The flagged set and everything
    * after it is output-sized (only actually-duplicated windows), so
    * the per-doc island merge windows run over a few positions per
    * document, not the corpus.
    */
  private[graft] def exactSubstrSpans(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.graft.CheckpointOps.{checkpointHashPartitioned, release}
    // ONE exchange of the corpus-sized posting on h, with the
    // partitioning kept TRUTHFUL through the fence (a plain
    // localCheckpoint forgets it under AQE — the r11 iterative-loop
    // lesson — and both consumers would silently re-shuffle)
    val post = checkpointHashPartitioned(
      docs
        .selectExpr("doc_id", s"shingle_hashes(split(tc, ' '), $k) AS hs")
        .selectExpr("doc_id", "posexplode(hs) AS (p0, h)")
        .selectExpr("doc_id", "cast(p0 + 1 AS bigint) AS pos", "h"),
      Par, "h")
    // df ≥ 2 DISTINCT docs: the (h, doc_id) distinct and the count both
    // run on the existing h-partitioning (subset clustering), no shuffle
    val dup = post.select("h", "doc_id").distinct()
      .groupBy("h").agg(expr("count(*) AS df"))
      .where("df >= 2").select("h")
    // flagged is output-sized (only actually-duplicated windows);
    // materialize it, then drop the corpus-sized posting blocks
    val flagged = post.join(dup, "h").select("doc_id", "pos").fenced
    release(post)
    flagged
      .selectExpr("doc_id", "pos",
        s"CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $k " +
          "THEN 0 ELSE 1 END AS brk")
      .selectExpr("doc_id", "pos",
        "sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl")
      .groupBy("doc_id", "isl")
      .agg(expr("min(pos) AS span_start"), expr(s"max(pos) + ${k - 1} AS span_end"))
      .selectExpr("doc_id", "span_start", "span_end",
        "span_end - span_start + 1 AS span_tokens")
  }

  /** The planted ExactSubstr corpus: normalized text, the 24-word
    * license APPENDED on doc_id % 7 == 0, the 26-word preamble
    * PREPENDED on doc_id % 5 == 0 — %35 documents carry both.
    */
  private[graft] def exactSubstrCorpus(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(Par, col("doc_id"))
      .selectExpr("doc_id",
        s"${Fns.cleanTextSql("text")} AS tc")
      .selectExpr("doc_id",
        s"CASE WHEN doc_id % 7 = 0 THEN concat(tc, ' ', '$SpanBoiler') ELSE tc END AS tc")
      .selectExpr("doc_id",
        s"CASE WHEN doc_id % 5 = 0 THEN concat('$SpanBoiler2', ' ', tc) ELSE tc END AS tc")

  /** DuckDB CTE chain for the ExactSubstr span mining, ending in
    * `spanout(doc_id, span_start, span_end, span_tokens)` (with `t`
    * exposing the tokenized corpus) — shared by dd_exact_substr and
    * the dd_exact_substr_cut rewrite so the two oracles cannot
    * diverge. Matches [[exactSubstrCorpus]] + [[exactSubstrSpans]].
    */
  private def exactSubstrSpansSql: String = s"""c AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN '$SpanBoiler2' || ' ' || tc ELSE tc END AS tc
          FROM (SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0 THEN tc || ' ' || '$SpanBoiler' ELSE tc END AS tc
                FROM (SELECT doc_id, ${Fns.cleanTextDuck("text")} AS tc
                      FROM documents))),
        t AS (SELECT doc_id, string_split(tc, ' ') AS toks FROM c),
        p0 AS (
          SELECT doc_id, unnest(list_transform(
                   generate_series(1, len(toks) - ${SpanTokens - 1}),
                   i -> struct_pack(pos := i,
                          h := ('0x' || substr(md5(array_to_string(toks[i:i+${SpanTokens - 1}], ' ')), 1, 15))::BIGINT))) AS ph
          FROM t WHERE len(toks) >= $SpanTokens),
        p AS (SELECT doc_id, ph.pos AS pos, ph.h AS h FROM p0),
        dup AS (SELECT h FROM (SELECT DISTINCT h, doc_id FROM p) GROUP BY h HAVING count(*) >= 2),
        f AS (SELECT doc_id, pos FROM p JOIN dup USING (h)),
        b AS (SELECT doc_id, pos,
                     CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $SpanTokens
                          THEN 0 ELSE 1 END AS brk
              FROM f),
        g AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM b),
        spanout AS (
          SELECT doc_id, min(pos)::BIGINT AS span_start,
                 (max(pos) + ${SpanTokens - 1})::BIGINT AS span_end,
                 (max(pos) + ${SpanTokens - 1} - min(pos) + 1)::BIGINT AS span_tokens
          FROM g GROUP BY doc_id, isl)"""

  def queries: Seq[QueryDef] = Seq(
    // ------------------------------------------------------- exact dedup
    // Hash-groupBy on normalized text; output is the keep-set
    // (representative = min doc_id) with copy counts. One shuffle on
    // md5(text) — uniformly distributed ⇒ no skew at 100 TB.
    QueryDef(
      "dd_exact",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"md5(${Fns.cleanTextSql("text")}) AS text_hash")
          .groupBy("text_hash")
          .agg(expr("min(doc_id) AS keep_doc_id"), expr("count(*) AS n_copies")),
      Some(s"""
        SELECT md5(${Fns.cleanTextDuck("text")}) AS text_hash,
               min(doc_id) AS keep_doc_id, count(*) AS n_copies
        FROM documents
        GROUP BY 1""")),

    // ------------------------------------------------------ MinHash + LSH
    // shingle hashes → 16 minhashes → 4 bands × 4 rows → bucket
    // self-join on (band, key) only → distinct candidate pairs → exact
    // Jaccard verification ≥ 0.5 on the int shingle sets.
    QueryDef(
      "dd_minhash_lsh",
      (spark, dir) => minhashPairs(spark, dir),
      Some(minhashPairsSql)),

    // ----------------------------- MinHash estimator accuracy (audit)
    // The sketch-calibration row: for every verified near-dup pair,
    // the minhash ESTIMATE of Jaccard (matching signature components
    // / 16) against the exact set Jaccard the verifier computed — the
    // measurement that justifies trusting 16 permutations before
    // scaling the banding to a 100 TB corpus (E[est] = J, σ =
    // √(J(1−J)/16) ≈ 0.125 at J = 0.5). Reuses the pinned verified
    // pair set and the native minhash16 kernel; the oracle re-derives
    // both sides independently.
    QueryDef(
      "dd_minhash_acc",
      (spark, dir) => {
        val sig = shingleHashes(spark, dir).selectExpr("doc_id", "minhash16(hs) AS mh")
        minhashPairs(spark, dir)
          .join(sig.selectExpr("doc_id AS doc_a", "mh AS mh_a"), "doc_a")
          .join(sig.selectExpr("doc_id AS doc_b", "mh AS mh_b"), "doc_b")
          .selectExpr("doc_a", "doc_b", "jaccard",
            s"cast(size(filter(sequence(0, ${NumHashes - 1}), j -> mh_a[j] = mh_b[j])) AS bigint) AS matching")
          .selectExpr("doc_a", "doc_b", "jaccard", "matching",
            s"cast(matching AS double) / $NumHashes.0 AS est_jaccard",
            s"round(abs(cast(matching AS double) / $NumHashes.0 - jaccard), 6) AS abs_err")
      },
      Some(s"""
        WITH pairs AS ($minhashPairsSql),
        sh2 AS ($shingleHashesSql),
        sig AS (
          SELECT doc_id,
                 list_transform(generate_series(0, ${NumHashes - 1}),
                   j -> list_min(list_transform(
                          list_transform(hs, h -> h % $P),
                          h -> (${duckArr(A)}[j + 1] * h + ${duckArr(B)}[j + 1]) % $P))) AS mh
          FROM sh2)
        SELECT doc_a, doc_b, jaccard, matching,
               matching::DOUBLE / $NumHashes.0 AS est_jaccard,
               round(abs(matching::DOUBLE / $NumHashes.0 - jaccard), 6) AS abs_err
        FROM (
          SELECT p.doc_a, p.doc_b, p.jaccard,
                 len(list_filter(generate_series(1, $NumHashes),
                                 j -> a.mh[j] = b.mh[j]))::BIGINT AS matching
          FROM pairs p JOIN sig a ON p.doc_a = a.doc_id
                       JOIN sig b ON p.doc_b = b.doc_id)""")),

    // ---------------------------------------------------------- SimHash
    // 60-bit simhash over term-frequency-weighted token hashes.
    QueryDef(
      "dd_simhash",
      (spark, dir) => simhashDf(spark, dir),
      Some(simhashSql)),

    // SimHash near-dup pairs: 4 × 15-bit band blocking, then Hamming ≤ 6.
    QueryDef(
      "dd_simhash_pairs",
      (spark, dir) =>
        simhashCandidates(spark, dir)
          .selectExpr("doc_a", "doc_b", "cast(bit_count(sim_a ^ sim_b) AS bigint) AS hamming")
          .where(s"hamming <= $HammingMax"),
      Some(s"""
        WITH s AS ($simhashSql),
        bands AS (
          SELECT doc_id, simhash, b.band_id,
                 (simhash // (1::BIGINT << (b.band_id * $SimBandBits))) % ${1 << SimBandBits} AS band_val
          FROM s, (SELECT unnest(generate_series(0, ${SimBands - 1})) AS band_id) b
        ),
        cand AS (
          SELECT DISTINCT l.doc_id AS doc_a, l.simhash AS sim_a, r.doc_id AS doc_b, r.simhash AS sim_b
          FROM bands l JOIN bands r
            ON l.band_id = r.band_id AND l.band_val = r.band_val AND l.doc_id < r.doc_id
        )
        SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b))::BIGINT AS hamming
        FROM cand
        WHERE bit_count(xor(sim_a, sim_b)) <= $HammingMax""")),

    // -------------------------------- n-gram Jaccard (inverted index)
    // Corpus-wide exact Jaccard via the inverted-index shape: explode
    // shingles → drop shingles with document frequency > 50 (stopword
    // shingles would otherwise quadratically blow up the posting join;
    // Jaccard is then over the informative-shingle sets, identically in
    // both engines) → self-join postings on the shingle hash →
    // |A∩B| by groupBy(pair) count → J = inter/(|A|+|B|-inter).
    //
    // This is the 100 TB shape for pairwise similarity: no per-pair
    // lambda work, no O(n²) block scan — only codegen'd joins and
    // aggregations over postings, with cost Σ_shingle C(df, 2) bounded
    // by the df cap.
    QueryDef(
      "dd_ngram_jaccard",
      (spark, dir) => {
        // fence the posting list: it feeds the df counter AND the kept
        // join's probe side, and `kept` below feeds sizes + BOTH ends
        // of the intersection join — without the fences the md5
        // shingle subtree re-ran once per consumer (r9 profile: four
        // ~8-CPU-s copies of the same scan at sf0.1, ~60% of the
        // query's CPU). The materialized lists are posting-row-sized
        // (RDD blocks spill to disk at scale) — the standard trade for
        // multi-consumer lineage.
        val post = shingleHashes(spark, dir)
          .selectExpr("doc_id", "explode(hs) AS h")
          .fenced
        // df filter via groupBy+join, NOT count() OVER (PARTITION BY h):
        // the window form sorts the entire posting list; the hash-agg
        // form never sorts and partial-aggregates map-side
        val lowDf = post.groupBy("h").agg(expr("count(*) AS df"))
          .where(s"df <= $MaxShingleDf").select("h")
        val kept = post.join(lowDf, "h").select("doc_id", "h")
          .fenced
        // the sizes joins carry NO broadcast hint: sizes is one row
        // per DOCUMENT — corpus-cardinality, i.e. a forced broadcast
        // is a driver OOM at 10⁹ docs on exactly the boilerplate-heavy
        // corpora this operator targets. Hint-free, AQE broadcasts
        // only when the aggregate MEASURES under the threshold at
        // runtime and degrades gracefully to a shuffle join beyond it
        // (the pair table is already key-partitioned, so that join
        // adds one doc-keyed exchange of the PAIR rows, never a
        // driver-sized collect). An r11 experiment that instead rode
        // sz on the posting rows into the pair aggregation measured
        // 1.4-1.7× SLOWER at sf3 — the extra posting-list join +
        // materialization costs more than the post-agg join ever does.
        // PlanShapeSpec pins the analyzed plan ResolvedHint-free.
        val sizes = kept.groupBy("doc_id").agg(expr("count(*) AS sz"))
        val inter = kept.select(col("doc_id").as("doc_a"), col("h"))
          .join(kept.select(col("doc_id").as("doc_b"), col("h").as("h_r")),
            col("h") === col("h_r") && col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(expr("count(*) AS inter"))
        inter
          .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
          .selectExpr("doc_a", "doc_b",
            "cast(inter AS double) / cast(sz_a + sz_b - inter AS double) AS jaccard")
          .where(s"jaccard >= $JaccardThreshold")
          .selectExpr("doc_a", "doc_b", "round(jaccard, 6) AS jaccard")
      },
      Some(s"""
        WITH sh AS ($shingleHashesSql),
        post AS (SELECT doc_id, unnest(hs) AS h FROM sh),
        kept AS (
          SELECT p.doc_id, p.h FROM post p
          JOIN (SELECT h FROM post GROUP BY h HAVING count(*) <= $MaxShingleDf) d USING (h)),
        sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard
        FROM (
          SELECT doc_a, doc_b,
                 inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE AS jaccard
          FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id)
        WHERE jaccard >= $JaccardThreshold""")),

    // ----------------------------- shingle containment (doc-in-doc)
    // Jaccard is symmetric, so a short document wholly quoted inside a
    // long one scores LOW (|A∩B|/|A∪B| shrinks with the size gap) and
    // near-dup mining misses it — yet quoted/boilerplate containment
    // is exactly what training-data curation must catch. Containment
    // C = |A∩B| / min(|A|,|B|) is the directional fix (the
    // spandup/quotation detector from the same inverted index): reuse
    // the df-capped posting join, divide by the SMALLER set, and
    // orient each pair as (contained, container). Same 100 TB shape
    // as dd_ngram_jaccard — cost bounded by Σ C(df,2) under the df
    // cap, no per-pair scans. Division of labor the df cap imposes:
    // content shared by MORE than MaxShingleDf documents never forms
    // pairs here — by design, because (a) its pair set is itself
    // quadratic in df and (b) corpus-wide boilerplate is the
    // LINEAR-shaped detectors' job (dd_spandup / dd_paragraph flag
    // and strip it with no pair space at all). This operator scores
    // pairwise containment of informative (low-df) content, over the
    // informative-shingle sets, identically in both engines.
    QueryDef(
      "dd_containment",
      (spark, dir) => {
        val post = shingleHashes(spark, dir)
          .selectExpr("doc_id", "explode(hs) AS h")
          .fenced
        val lowDf = post.groupBy("h").agg(expr("count(*) AS df"))
          .where(s"df <= $MaxShingleDf").select("h")
        val kept = post.join(lowDf, "h").select("doc_id", "h")
          .fenced
        // hint-free sizes joins — same rationale as dd_ngram_jaccard:
        // AQE broadcasts only when sizes measures small at runtime
        val sizes = kept.groupBy("doc_id").agg(expr("count(*) AS sz"))
        val inter = kept.select(col("doc_id").as("doc_a"), col("h"))
          .join(kept.select(col("doc_id").as("doc_b"), col("h").as("h_r")),
            col("h") === col("h_r") && col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(expr("count(*) AS inter"))
        inter
          .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
          .selectExpr("doc_a", "doc_b", "sz_a", "sz_b", "inter",
            "cast(inter AS double) / cast(least(sz_a, sz_b) AS double) AS cont")
          .where(s"cont >= $ContainmentThreshold")
          .selectExpr(
            "CASE WHEN sz_a < sz_b OR (sz_a = sz_b AND doc_a < doc_b) THEN doc_a ELSE doc_b END AS doc_small",
            "CASE WHEN sz_a < sz_b OR (sz_a = sz_b AND doc_a < doc_b) THEN doc_b ELSE doc_a END AS doc_big",
            "cast(least(sz_a, sz_b) AS bigint) AS sz_small",
            "cast(greatest(sz_a, sz_b) AS bigint) AS sz_big",
            "round(cont, 6) AS containment")
      },
      Some(s"""
        WITH sh AS ($shingleHashesSql),
        post AS (SELECT doc_id, unnest(hs) AS h FROM sh),
        kept AS (
          SELECT p.doc_id, p.h FROM post p
          JOIN (SELECT h FROM post GROUP BY h HAVING count(*) <= $MaxShingleDf) d USING (h)),
        sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        scored AS (
          SELECT doc_a, doc_b, sa.sz AS sz_a, sb.sz AS sz_b, inter,
                 inter::DOUBLE / least(sa.sz, sb.sz)::DOUBLE AS cont
          FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id)
        SELECT CASE WHEN sz_a < sz_b OR (sz_a = sz_b AND doc_a < doc_b) THEN doc_a ELSE doc_b END AS doc_small,
               CASE WHEN sz_a < sz_b OR (sz_a = sz_b AND doc_a < doc_b) THEN doc_b ELSE doc_a END AS doc_big,
               least(sz_a, sz_b)::BIGINT AS sz_small,
               greatest(sz_a, sz_b)::BIGINT AS sz_big,
               round(cont, 6) AS containment
        FROM scored
        WHERE cont >= $ContainmentThreshold""")),

    // ------------------------------ novelty scoring (first-occurrence)
    // The incremental-ingest question dedup cannot answer: how much
    // NEW content does each document contribute, in corpus order? A
    // shingle's owner is its first-occurrence document (min doc_id);
    // a document's novelty is the fraction of its distinct shingles it
    // owns. Late exact duplicates score ~0, the first copy of
    // boilerplate scores high while every later carrier is penalized
    // exactly for the shared part — the greedy marginal-contribution
    // rule streaming corpus construction applies. Scale shape: one
    // groupBy(shingle) min + one posting join back — the inverted
    // index again, no pair space at all (novelty is per-doc, not
    // per-pair). Integer ppm so the division is hash-stable.
    QueryDef(
      "dd_novelty",
      (spark, dir) => {
        val post = shingleHashes(spark, dir)
          .selectExpr("doc_id", "explode(hs) AS h")
          .distinct() // per-doc shingle SET (hs can repeat a hash)
          .fenced // feeds owners + the join back
        val owners = post.groupBy("h")
          .agg(expr("min(doc_id) AS owner"))
        post.join(owners, "h")
          .groupBy("doc_id")
          .agg(
            expr("cast(count(*) AS bigint) AS n_shingles"),
            expr("cast(sum(CASE WHEN owner = doc_id THEN 1L ELSE 0L END) AS bigint) AS n_novel"))
          .selectExpr("doc_id", "n_shingles", "n_novel",
            "n_novel * 1000000L div n_shingles AS novelty_ppm")
      },
      Some(s"""
        WITH sh AS ($shingleHashesSql),
        post AS (SELECT DISTINCT doc_id, h
                 FROM (SELECT doc_id, unnest(hs) AS h FROM sh)),
        owners AS (SELECT h, min(doc_id) AS owner FROM post GROUP BY h)
        SELECT p.doc_id, count(*)::BIGINT AS n_shingles,
               sum(CASE WHEN o.owner = p.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
               (sum(CASE WHEN o.owner = p.doc_id THEN 1 ELSE 0 END) * 1000000
                  // count(*))::BIGINT AS novelty_ppm
        FROM post p JOIN owners o USING (h)
        GROUP BY p.doc_id""")),

    // ---------------------------------- edit-distance verification
    // Character-level Levenshtein over the MinHash candidate pairs —
    // the high-precision second verifier a curation pipeline runs after
    // the cheap Jaccard pass (token-set Jaccard is order-blind; edit
    // distance catches reorderings it cannot). Never O(n²): the LSH
    // candidate set bounds the quadratic-per-pair DP, and both engines
    // run their native levenshtein. Output = every verified pair with
    // (see also dd_record_linkage below for the CROSS-table variant)
    // both scores.
    QueryDef(
      "dd_edit_distance",
      (spark, dir) => {
        val texts = Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"${Fns.cleanTextSql("text")} AS tc")
        minhashPairs(spark, dir)
          .join(texts.selectExpr("doc_id AS doc_a", "tc AS tc_a"), "doc_a")
          .join(texts.selectExpr("doc_id AS doc_b", "tc AS tc_b"), "doc_b")
          .selectExpr("doc_a", "doc_b", "jaccard",
            "cast(levenshtein(tc_a, tc_b) AS bigint) AS edit_dist")
      },
      Some(s"""
        WITH pairs AS ($minhashPairsSql),
        texts AS (
          SELECT doc_id, ${Fns.cleanTextDuck("text")} AS tc
          FROM documents
        )
        SELECT p.doc_a, p.doc_b, p.jaccard,
               levenshtein(a.tc, b.tc)::BIGINT AS edit_dist
        FROM pairs p
        JOIN texts a ON p.doc_a = a.doc_id
        JOIN texts b ON p.doc_b = b.doc_id""")),

    // ------------------------------------- embedding-cosine near-dup
    // Production-threshold (≥ 0.9) banded near-dup over the derived
    // twin corpus (embeddings + deterministic near-twins — the driver
    // tables alone contain no pair above cosine 0.51, so a meaningful
    // near-dup gate must plant some). Candidates come from a
    // (label, band) bucket self-join with REAL pruning (34–46× vs
    // all-pairs, PruningSpec-pinned); exact dot re-verifies. The DuckDB
    // oracle DELIBERATELY stays on the all-pairs-within-label
    // formulation over the same derived corpus — a green row therefore
    // proves the banding recalled EVERY pair above threshold, not just
    // that two copies of the same code agree. DedupSpec pins the same
    // equality in-engine.
    QueryDef(
      "dd_embed_neardup",
      (spark, dir) => embedNearDupBanded(spark, dir),
      Some(s"""
        WITH ${embedTwinCorpusSql}
        SELECT label, vec_a, vec_b, round(cos, 6) AS cosine
        FROM (
          SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
                 list_sum(list_transform(generate_series(1, len(a.emb_n)), i -> a.emb_n[i] * b.emb_n[i])) AS cos
          FROM cn a JOIN cn b ON a.label = b.label AND a.vec_id < b.vec_id)
        WHERE cos >= $EmbNearDupThreshold""")),

    // ------------------------------- cross-document duplicated spans
    // Exact substring-level dedup signal (the Lee-et-al "deduplicating
    // training data" shape, approximated at token granularity): every
    // 20-token window of every document is hashed, and a window whose
    // hash occurs in ≥ 2 documents is a duplicated span — boilerplate
    // footers, license blocks, template text. Output: per-document span
    // counts + duplicated fraction, the signal a curation pipeline
    // thresholds on to trim boilerplate.
    //
    // The synthetic corpus is random word salad (no 20-token span
    // repeats by chance), so the gate plants a shared 24-word
    // boilerplate on every doc_id % 7 == 0 document — derived
    // identically in both engines, like the embed-twin corpus; a green
    // row proves the window hashing, df counting, and per-doc rollup
    // all agree.
    //
    // 100 TB shape: windows come from the native `word_shingles` kernel
    // (one codegen'd call per doc); the duplicated-hash set is the
    // df ≥ 2 aggregate of the postings — usually tiny (only
    // actually-repeated spans), but corpus-FRACTION sized on exactly
    // the boilerplate-heavy corpora this operator exists to measure,
    // so it is NOT hint-broadcast: the join keeps the postings'
    // hash partitioning on h (the df aggregate already shuffled on h,
    // so the semi join is exchange-free on that side) and AQE demotes
    // it to a broadcast at runtime only when the set measures small.
    // No self-join, no pair space at all: cost is linear in corpus
    // tokens.
    QueryDef(
      "dd_spandup",
      (spark, dir) => {
        val spans = Tables.documents(spark, dir)
          .repartition(Par, col("doc_id"))
          .selectExpr("doc_id",
            s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("doc_id",
            s"CASE WHEN doc_id % 7 = 0 THEN concat(tc, ' ', '$SpanBoiler') ELSE tc END AS tc")
          .selectExpr("doc_id", s"word_shingles(split(tc, ' '), $SpanTokens) AS hs")
          .repartition(Par, col("doc_id"))
        val post = spans.selectExpr("doc_id", "explode(hs) AS h")
        // hs is distinct per doc ⇒ count(*) per h = document frequency
        val dup = post.groupBy("h").agg(expr("count(*) AS df"))
          .where("df >= 2").select("h")
        val hits = post.join(dup, "h")
          .groupBy("doc_id").agg(expr("count(*) AS dup_spans"))
        spans.selectExpr("doc_id", "cast(size(hs) AS bigint) AS n_spans")
          .join(hits, "doc_id")
          .selectExpr("doc_id", "n_spans", "dup_spans",
            "round(cast(dup_spans AS double) / cast(n_spans AS double), 6) AS dup_frac")
      },
      Some(s"""
        WITH c AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN tc || ' ' || '$SpanBoiler' ELSE tc END AS tc
          FROM (SELECT doc_id, ${Fns.cleanTextDuck("text")} AS tc
                FROM documents)),
        sh AS (
          SELECT doc_id, list_distinct(list_transform(
                   CASE WHEN len(toks) < $SpanTokens THEN [tc]
                        ELSE list_transform(generate_series(1, len(toks) - ${SpanTokens - 1}),
                                            i -> array_to_string(toks[i:i+${SpanTokens - 1}], ' '))
                   END,
                   s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS hs
          FROM (SELECT doc_id, tc, string_split(tc, ' ') AS toks FROM c)),
        post AS (SELECT doc_id, unnest(hs) AS h FROM sh),
        dup AS (SELECT h FROM post GROUP BY h HAVING count(*) >= 2),
        hits AS (SELECT doc_id, count(*) AS dup_spans FROM post JOIN dup USING (h) GROUP BY 1)
        SELECT doc_id, n_spans, dup_spans,
               round(dup_spans::DOUBLE / n_spans::DOUBLE, 6) AS dup_frac
        FROM (SELECT s.doc_id, len(s.hs)::BIGINT AS n_spans, h.dup_spans
              FROM sh s JOIN hits h ON s.doc_id = h.doc_id)""")),

    // ----------------------- ExactSubstr: maximal duplicated token spans
    // dd_spandup counts duplicated windows; THIS operator reconstructs
    // the maximal repeated spans themselves, at arbitrary boundaries —
    // the Lee-et-al ExactSubstr member of the dedup family, the output
    // a removal pass consumes ([[exactSubstrSpans]] for the algebra:
    // flag ≥2-doc window hashes, merge flagged starts with gap ≤ k).
    // Two planted phrases make the geometry non-trivial: the 24-word
    // license APPENDED on doc_id % 7 == 0 and the 26-word preamble
    // PREPENDED on doc_id % 5 == 0, so doc_id % 35 == 0 documents carry
    // two disjoint islands, one at each end, and windows STRADDLING a
    // plant/salad boundary flag exactly when two documents share the
    // same salad context (the 31-word vocabulary makes that common) —
    // identical in both engines because the corpus derivation is.
    QueryDef(
      "dd_exact_substr",
      (spark, dir) => exactSubstrSpans(exactSubstrCorpus(spark, dir), SpanTokens),
      Some(s"""
        WITH $exactSubstrSpansSql
        SELECT doc_id, span_start, span_end, span_tokens FROM spanout""")),

    // ------------------- ExactSubstr removal pass (the actionable half)
    // dd_exact_substr FINDS the maximal duplicated spans; this rewrites
    // every document with them EXCISED — the destructive "drop all
    // copies of any ≥ k-token repeated span" mode of Lee et al., at
    // arbitrary boundaries (dd_paragraph's structural-unit analog).
    // Output: per doc, original/cut token accounting and the rewritten
    // text; documents with no duplicated spans pass through verbatim.
    // Scale shape: the span set is OUTPUT-sized, so the rewrite is one
    // doc-keyed broadcast-or-shuffle join of spans onto the corpus and
    // a row-local filter-by-position rebuild — the corpus moves once;
    // untouched documents never join at all (anti-join branch).
    QueryDef(
      "dd_exact_substr_cut",
      (spark, dir) => {
        val docs = exactSubstrCorpus(spark, dir)
          .fenced // feeds the span mining AND the rewrite
        val spansAgg = exactSubstrSpans(docs, SpanTokens)
          .groupBy("doc_id")
          .agg(expr("collect_list(named_struct('s', span_start, 'e', span_end)) AS sp"))
          .fenced // output-sized; feeds join + anti-join
        val rewritten = docs.join(spansAgg, "doc_id")
          .selectExpr("doc_id", "split(tc, ' ') AS toks", "sp")
          .selectExpr("doc_id", "cast(size(toks) AS bigint) AS n_tokens",
            """filter(transform(toks, (t, i) -> named_struct('t', t, 'i', cast(i + 1 AS bigint))),
                      x -> NOT exists(sp, r -> x.i >= r.s AND x.i <= r.e)) AS kept""")
          .selectExpr("doc_id", "n_tokens",
            "n_tokens - cast(size(kept) AS bigint) AS n_cut",
            "array_join(transform(kept, x -> x.t), ' ') AS text_kept")
        val untouched = docs
          .join(spansAgg.select("doc_id"), Seq("doc_id"), "left_anti")
          .selectExpr("doc_id", "cast(size(split(tc, ' ')) AS bigint) AS n_tokens",
            "0L AS n_cut", "tc AS text_kept")
        rewritten.unionByName(untouched)
      },
      Some(s"""
        WITH $exactSubstrSpansSql,
        tok AS (
          SELECT doc_id, len(toks) AS n, unnest(list_transform(
                   generate_series(1, len(toks)),
                   i -> struct_pack(i := i, t := toks[i]))) AS tp
          FROM t),
        cut AS (
          SELECT doc_id, n, tp.i AS i, tp.t AS t,
                 EXISTS(SELECT 1 FROM spanout s
                        WHERE s.doc_id = tok.doc_id
                          AND tp.i BETWEEN s.span_start AND s.span_end) AS dropped
          FROM tok)
        SELECT doc_id, max(n)::BIGINT AS n_tokens,
               sum(dropped::INT)::BIGINT AS n_cut,
               coalesce(string_agg(t, ' ' ORDER BY i) FILTER (WHERE NOT dropped), '') AS text_kept
        FROM cut GROUP BY doc_id""")),

    // ------------------- eval-set decontamination (GPT-3 appendix C)
    // The release gate every production corpus runs before training:
    // flag any TRAINING document sharing a ≥ 13-token n-gram with the
    // held-out EVAL set, so benchmark answers cannot leak into the
    // training data (Brown et al. 2020, appendix C, use exactly this
    // 13-gram overlap rule). Fixture split: doc_id % 97 == 0 is the
    // eval set, everything else trains, over the SAME planted corpus
    // as dd_exact_substr — doc 0 is an eval doc carrying both planted
    // boilers (24- and 26-word), so every %5/%7 training doc has a
    // guaranteed ≥ 13-gram hit, plus whatever salad-context windows
    // genuinely coincide (identical in both engines by construction).
    //
    // Scale shape — why this is the 100 TB plan: an eval set is
    // fixed-size (benchmarks, not corpora), so its distinct 13-gram
    // hash set broadcasts; the training side is ONE scan producing
    // positional window hashes checked against the broadcast set
    // row-locally, and only HITS (output-sized) reach the per-doc
    // aggregate. No shuffle touches anything corpus-sized: the corpus
    // moves zero times, unlike dd_exact_substr's one h-exchange —
    // decontamination is strictly cheaper than self-dedup because one
    // side is tiny. Output per contaminated doc: window accounting,
    // the dirty span envelope, and the contamination fraction in ppm
    // (the keep/drop decision column).
    QueryDef(
      "dd_decontaminate",
      (spark, dir) => {
        val corpus = exactSubstrCorpus(spark, dir)
          .fenced // feeds the eval AND the train branch
        val evalHashes = corpus.where(s"doc_id % $EvalMod = 0")
          .selectExpr(s"explode(shingle_hashes(split(tc, ' '), $DecontamTokens)) AS h")
          .distinct()
        val post = corpus.where(s"doc_id % $EvalMod != 0")
          .selectExpr("doc_id", s"shingle_hashes(split(tc, ' '), $DecontamTokens) AS hs")
          .selectExpr("doc_id", "cast(size(hs) AS bigint) AS n_windows",
            "posexplode(hs) AS (p0, h)")
          .selectExpr("doc_id", "n_windows", "cast(p0 + 1 AS bigint) AS pos", "h")
        post.join(broadcast(evalHashes), Seq("h"), "left_semi")
          .groupBy("doc_id")
          .agg(expr("max(n_windows) AS n_windows"),
            expr("cast(count(*) AS bigint) AS dirty_windows"),
            expr("min(pos) AS first_dirty"),
            expr(s"max(pos) + ${DecontamTokens - 1} AS last_dirty"))
          .selectExpr("doc_id", "n_windows", "dirty_windows", "first_dirty",
            "last_dirty", "dirty_windows * 1000000 div n_windows AS dirty_ppm")
      },
      Some(s"""
        WITH c AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN '$SpanBoiler2' || ' ' || tc ELSE tc END AS tc
          FROM (SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0 THEN tc || ' ' || '$SpanBoiler' ELSE tc END AS tc
                FROM (SELECT doc_id, ${Fns.cleanTextDuck("text")} AS tc
                      FROM documents))),
        t AS (SELECT doc_id, string_split(tc, ' ') AS toks FROM c),
        ph AS (
          SELECT doc_id, (len(toks) - ${DecontamTokens - 1})::BIGINT AS n_windows,
                 unnest(list_transform(
                   generate_series(1, len(toks) - ${DecontamTokens - 1}),
                   i -> struct_pack(pos := i,
                          h := ('0x' || substr(md5(array_to_string(toks[i:i+${DecontamTokens - 1}], ' ')), 1, 15))::BIGINT))) AS w
          FROM t WHERE len(toks) >= $DecontamTokens),
        p AS (SELECT doc_id, n_windows, w.pos AS pos, w.h AS h FROM ph),
        ev AS (SELECT DISTINCT h FROM p WHERE doc_id % $EvalMod = 0),
        hit AS (SELECT doc_id, n_windows, pos FROM p
                WHERE doc_id % $EvalMod != 0 AND h IN (SELECT h FROM ev))
        SELECT doc_id, max(n_windows)::BIGINT AS n_windows,
               count(*)::BIGINT AS dirty_windows,
               min(pos)::BIGINT AS first_dirty,
               (max(pos) + ${DecontamTokens - 1})::BIGINT AS last_dirty,
               (count(*)::BIGINT * 1000000 // max(n_windows))::BIGINT AS dirty_ppm
        FROM hit GROUP BY doc_id""")),

    // ------------------------------- low-threshold similarity pairs
    // Within-label pairwise cosine at 0.35 — a SIMILARITY-MINING
    // threshold, not a near-dup one: at θ ≈ 69° no sign-LSH banding
    // prunes (r4 measured 16 × 2-bit bands admitting ~99% of random
    // pairs, 7.5× slower than this form) and IVF blocking loses recall
    // (measured: every (C, nprobe) ≤ (64, 4) misses true pairs on this
    // corpus). Exact all-pairs IS the honest algorithm here; the
    // registered form is the TRIANGLE-CELL-BLOCKED layout
    // (embedSimPairsBlocked) — same exact result, but a dominant label
    // spreads over m² bounded tasks instead of one quadratic reducer.
    // Callers who need an unblocked low threshold at 100 TB want v3's
    // top-k kNN instead.
    QueryDef(
      "dd_embed_simpairs",
      (spark, dir) => embedSimPairsBlocked(spark, dir),
      Some(s"""
        WITH e0 AS (
          SELECT label, vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb_d,
                 sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE))) AS nrm
          FROM embeddings
        ),
        e AS (
          SELECT label, vec_id,
                 CASE WHEN nrm = 0 THEN emb_d ELSE list_transform(emb_d, x -> x / nrm) END AS emb_n
          FROM e0
        )
        SELECT label, vec_a, vec_b, round(cos, 6) AS cosine
        FROM (
          SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
                 list_sum(list_transform(generate_series(1, len(a.emb_n)), i -> a.emb_n[i] * b.emb_n[i])) AS cos
          FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
        WHERE cos >= $CosineThreshold""")),

    // --------------------------------- paragraph-level destructive dedup
    // The CCNet move: dedup at PARAGRAPH granularity across the whole
    // corpus and REWRITE each document with only its surviving
    // paragraphs — boilerplate headers/footers vanish from every copy
    // but the first. First occurrence = min (doc_id, para_idx) in
    // corpus order; all later occurrences (including repeats inside
    // one document) are removed. The synthetic corpus has no newline
    // structure, so paragraphs are deterministic 12-token folds of the
    // cleaned text, and docs with doc_id % 5 = 0 carry a planted
    // boilerplate paragraph (doc 0 keeps it, ~all others lose it).
    //
    // Scale shape: one shuffle keyed on the paragraph hash to elect
    // first occurrences (uniform — md5), one shuffle back on doc_id to
    // reassemble. Both are plain hash aggregations; the reassembly
    // window is per-doc (bounded), never global. This is dd_exact at
    // sub-document granularity plus the destructive rewrite.
    QueryDef(
      "dd_paragraph",
      (spark, dir) => {
        val paras = Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("doc_id",
            s"CASE WHEN doc_id % 5 = 0 THEN concat('$ParaBoiler', ' ', tc) ELSE tc END AS tc")
          .selectExpr("doc_id", "split(tc, ' ') AS toks")
          .selectExpr("doc_id",
            s"""explode(transform(sequence(0, (size(toks) - 1) div $ParaWords),
                 i -> struct(i AS para_idx, array_join(slice(toks, i * $ParaWords + 1, $ParaWords), ' ') AS para))) AS p""")
          .selectExpr("doc_id", "cast(p.para_idx AS bigint) AS para_idx", "p.para AS para")
        val firsts = paras
          .groupBy(expr("md5(para) AS ph"))
          .agg(expr("min(struct(doc_id, para_idx)) AS keeper"))
          .selectExpr("keeper.doc_id AS doc_id", "keeper.para_idx AS para_idx",
            "true AS is_first")
        paras.join(firsts, Seq("doc_id", "para_idx"), "left")
          .groupBy("doc_id")
          .agg(
            expr("cast(count(*) AS bigint) AS n_paras"),
            expr("cast(count(is_first) AS bigint) AS n_kept"),
            expr("""array_join(transform(
                      array_sort(collect_list(CASE WHEN is_first THEN struct(para_idx, para) END)),
                      x -> x.para), ' ') AS text_kept"""))
          .selectExpr("doc_id", "n_paras", "n_kept",
            "cast(length(text_kept) AS bigint) AS kept_chars", "text_kept")
      },
      Some(s"""
        WITH c AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN '$ParaBoiler' || ' ' || tc ELSE tc END AS tc
          FROM (SELECT doc_id,
                       ${Fns.cleanTextDuck("text")} AS tc
                FROM documents)),
        paras AS (
          SELECT doc_id, p['para_idx']::BIGINT AS para_idx, p['para'] AS para
          FROM (SELECT doc_id,
                       unnest(list_transform(generate_series(1, (len(toks) + ${ParaWords - 1}) // $ParaWords),
                         i -> {'para_idx': i - 1,
                               'para': array_to_string(toks[(i - 1) * $ParaWords + 1 : (i - 1) * $ParaWords + $ParaWords], ' ')})) AS p
                FROM (SELECT doc_id, string_split(tc, ' ') AS toks FROM c))),
        firsts AS (
          -- scalar keeper key: para_idx < 1e6, so (doc_id, para_idx)
          -- lexicographic min == min of doc_id * 1e6 + para_idx
          SELECT min(doc_id * 1000000 + para_idx) AS kk
          FROM paras GROUP BY md5(para)),
        kept AS (
          SELECT kk // 1000000 AS doc_id, kk % 1000000 AS para_idx,
                 true AS is_first
          FROM firsts)
        SELECT p.doc_id, count(*)::BIGINT AS n_paras, count(k.is_first)::BIGINT AS n_kept,
               length(coalesce(string_agg(CASE WHEN k.is_first THEN p.para END, ' '
                                          ORDER BY p.para_idx), ''))::BIGINT AS kept_chars,
               coalesce(string_agg(CASE WHEN k.is_first THEN p.para END, ' '
                                   ORDER BY p.para_idx), '') AS text_kept
        FROM paras p LEFT JOIN kept k
          ON p.doc_id = k.doc_id AND p.para_idx = k.para_idx
        GROUP BY p.doc_id""")),

    // ----------------- record linkage (cross-table entity resolution)
    // The classical ER shape: link a clean reference table to a DIRTY
    // twin (every customer name with one character deleted,
    // SUBSTITUTED, or INSERTED at a key-derived position — the
    // deterministic stand-in for typo'd upstream feeds) WITHOUT a
    // cross join, and WITHOUT quadratic blocks either: candidate
    // generation is FastSS proper — BOTH sides explode their
    // one-char-deletion neighborhood (the string itself at depth 0
    // plus its len deletion variants at depth 1, each tagged with the
    // deletion position), and two names are edit-distance-1 candidates
    // exactly when neighborhoods intersect: clean₀ = dirty₁ catches an
    // insertion, clean₁ = dirty₀ a deletion, and clean₁ = dirty₁ AT
    // THE SAME POSITION a substitution (same-variant-different-
    // position pairs are distance 2 and are excluded in the join
    // condition). `levenshtein == 1` then verifies — it now does real
    // work, dropping the rare ed-0/ed-2 collisions the depth-1×depth-1
    // overlap admits (and, since the variants travel as del_hashes
    // 64-bit polynomial hashes rather than strings, the rare
    // hash-collision candidates too). No block products exist at any
    // scale: total work is O(n·len) variant rows per side through one
    // hash equi-join on (nation, variant hash). Two earlier formulations measured why
    // this shape matters: attribute blocking on (nation, first char,
    // len±1) degenerated on the shared-prefix synthetic names to 42 s
    // at sf0.1, and adding the last-char invariant still left
    // within-block n² (5 s, superlinear at 10×); the neighborhood join
    // is the standard spell-checker-style fix. Output: every verified
    // link + per-nation accounting of linked dirty rows.
    QueryDef(
      "dd_record_linkage",
      (spark, dir) => {
        val clean = Tables.customer(spark, dir)
          .selectExpr("c_custkey", "c_name", "c_nationkey")
        // corruption mode = key mod 3: delete / substitute / insert at
        // the key-derived position k+2 (k = key mod (len-2), so the
        // edit always lands strictly inside the name). The substitute
        // char comes from 'a'..'y' with a 'z' fallback when it would
        // equal the original, so substitution is ALWAYS a real edit.
        val dirty = clean.selectExpr(
          "c_custkey + 10000000L AS d_id",
          """CASE WHEN c_custkey % 3 = 0 THEN
               concat(substring(c_name, 1, cast(c_custkey % (length(c_name) - 2) + 1 AS int)),
                      substring(c_name, cast(c_custkey % (length(c_name) - 2) + 3 AS int)))
             WHEN c_custkey % 3 = 1 THEN
               concat(substring(c_name, 1, cast(c_custkey % (length(c_name) - 2) + 1 AS int)),
                      CASE WHEN chr(97 + c_custkey % 25) = substring(c_name, cast(c_custkey % (length(c_name) - 2) + 2 AS int), 1)
                           THEN 'z' ELSE chr(97 + c_custkey % 25) END,
                      substring(c_name, cast(c_custkey % (length(c_name) - 2) + 3 AS int)))
             ELSE
               concat(substring(c_name, 1, cast(c_custkey % (length(c_name) - 2) + 1 AS int)),
                      chr(97 + c_custkey % 26),
                      substring(c_name, cast(c_custkey % (length(c_name) - 2) + 2 AS int)))
             END AS d_name""",
          "c_nationkey AS d_nationkey")
        // the deletion neighborhood is emitted as 64-bit polynomial
        // HASHES by the native del_hashes kernel (one codegen'd call
        // per name — element k+1 is the hash of the name minus char
        // k), not materialized variant strings: the join key shrinks
        // from (nation, ~18-char string) to (nation, bigint), the
        // biggest shuffle in the steepest sf3 query. Hash equality is
        // implied by string equality, so FastSS recall is unchanged;
        // the rare extra hash-collision candidates die at the
        // levenshtein verify exactly like the ed-0/ed-2 collisions the
        // string form already admits. TextHashSpec pins kernel ≡
        // string-materializing hashes.
        def neighborhood(df: DataFrame, nameCol: String): DataFrame =
          df.selectExpr(df.columns :+
            s"posexplode(del_hashes($nameCol)) AS (i, vh)": _*)
        val cv = neighborhood(clean, "c_name")
          .selectExpr("c_custkey", "c_name", "c_nationkey",
            "vh AS v", "cast(i > 0 AS int) AS dep_c",
            "CASE WHEN i = 0 THEN -1 ELSE i END AS pos_c")
        val dv = neighborhood(dirty, "d_name")
          .selectExpr("d_id", "d_name", "d_nationkey",
            "vh AS dv", "cast(i > 0 AS int) AS dep_d",
            "CASE WHEN i = 0 THEN -1 ELSE i END AS pos_d")
        val links = cv.join(dv,
            expr("""c_nationkey = d_nationkey AND v = dv
                    AND (dep_c + dep_d < 2 OR pos_c = pos_d)"""))
          .selectExpr("c_custkey", "d_id", "c_name", "d_name")
          .distinct() // equal chars at adjacent positions yield duplicate variants
          .where("levenshtein(c_name, d_name) = 1")
        val byNation = links
          .join(dirty.selectExpr("d_id", "d_nationkey"), "d_id")
          .groupBy("d_nationkey")
          .agg(expr("cast(count(DISTINCT d_id) AS bigint) AS n_linked"))
        val totals = dirty.groupBy("d_nationkey")
          .agg(expr("cast(count(*) AS bigint) AS n_dirty"))
        links
          .selectExpr("'link' AS kind", "c_custkey", "d_id",
            "cast(-1 AS int) AS d_nationkey", "0L AS n_dirty", "0L AS n_linked")
          .unionByName(
            totals.join(byNation, Seq("d_nationkey"), "left")
              .selectExpr("'nation' AS kind", "-1L AS c_custkey", "-1L AS d_id",
                "cast(d_nationkey AS int) AS d_nationkey", "n_dirty",
                "coalesce(n_linked, 0L) AS n_linked"))
      },
      Some("""
        WITH clean AS (SELECT c_custkey, c_name, c_nationkey FROM customer),
        dirty AS (
          SELECT c_custkey + 10000000 AS d_id,
                 CASE WHEN c_custkey % 3 = 0 THEN
                   substr(c_name, 1, (c_custkey % (length(c_name) - 2) + 1)::INT)
                     || substr(c_name, (c_custkey % (length(c_name) - 2) + 3)::INT)
                 WHEN c_custkey % 3 = 1 THEN
                   substr(c_name, 1, (c_custkey % (length(c_name) - 2) + 1)::INT)
                     || (CASE WHEN chr((97 + c_custkey % 25)::INT) = substr(c_name, (c_custkey % (length(c_name) - 2) + 2)::INT, 1)
                              THEN 'z' ELSE chr((97 + c_custkey % 25)::INT) END)
                     || substr(c_name, (c_custkey % (length(c_name) - 2) + 3)::INT)
                 ELSE
                   substr(c_name, 1, (c_custkey % (length(c_name) - 2) + 1)::INT)
                     || chr((97 + c_custkey % 26)::INT)
                     || substr(c_name, (c_custkey % (length(c_name) - 2) + 2)::INT)
                 END AS d_name,
                 c_nationkey AS d_nationkey
          FROM clean),
        cv AS (
          SELECT c_custkey, c_name, c_nationkey,
                 n['v'] AS v, n['dep']::INT AS dep_c, n['pos']::INT AS pos_c
          FROM (SELECT c_custkey, c_name, c_nationkey,
                       unnest(list_concat(
                         [{'v': c_name, 'dep': 0, 'pos': -1}],
                         list_transform(generate_series(1, length(c_name)),
                           p -> {'v': substr(c_name, 1, p - 1) || substr(c_name, p + 1),
                                 'dep': 1, 'pos': p}))) AS n
                FROM clean)),
        dv AS (
          SELECT d_id, d_name, d_nationkey,
                 n['v'] AS dv, n['dep']::INT AS dep_d, n['pos']::INT AS pos_d
          FROM (SELECT d_id, d_name, d_nationkey,
                       unnest(list_concat(
                         [{'v': d_name, 'dep': 0, 'pos': -1}],
                         list_transform(generate_series(1, length(d_name)),
                           p -> {'v': substr(d_name, 1, p - 1) || substr(d_name, p + 1),
                                 'dep': 1, 'pos': p}))) AS n
                FROM dirty)),
        links AS (
          SELECT DISTINCT c.c_custkey, d.d_id, c.c_name, d.d_name, d.d_nationkey
          FROM cv c JOIN dv d
            ON c.c_nationkey = d.d_nationkey AND c.v = d.dv
           AND (c.dep_c + d.dep_d < 2 OR c.pos_c = d.pos_d)
          WHERE levenshtein(c.c_name, d.d_name) = 1),
        by_nation AS (
          SELECT d_nationkey, count(DISTINCT d_id)::BIGINT AS n_linked
          FROM links GROUP BY d_nationkey),
        totals AS (
          SELECT d_nationkey, count(*)::BIGINT AS n_dirty FROM dirty GROUP BY d_nationkey)
        SELECT 'link' AS kind, c_custkey, d_id, -1::INT AS d_nationkey,
               0::BIGINT AS n_dirty, 0::BIGINT AS n_linked
        FROM links
        UNION ALL
        SELECT 'nation', -1, -1, t.d_nationkey::INT, n_dirty, coalesce(n_linked, 0)
        FROM totals t LEFT JOIN by_nation b ON t.d_nationkey = b.d_nationkey""")),

    // ------------------- URL canonicalization dedup (crawl first pass)
    // The cheapest dedup every web-corpus pipeline runs BEFORE any
    // content comparison: two crawls of the same page differ only in
    // URL decoration — scheme case, www, default port, duplicate
    // slashes, tracking parameters (utm_*/fbclid), fragments, trailing
    // slash — so canonicalizing the URL and keeping the first fetch
    // per canonical key removes refetches for free. The fixture
    // synthesizes exactly those decorations (deterministic per doc_id;
    // docs 2k/2k+1 are the same logical page fetched twice with
    // disjoint decoration sets), and the canonicalizer is a fixed
    // 8-step regexp chain — each anchored step matches at most once,
    // the two multi-match steps (slash collapse, tracking strip) are
    // global on both engines (Spark regexp_replace is always-global;
    // the oracle passes 'g'). Real query params (id=7) survive.
    // Scale shape: canonicalization is row-local in the scan; keeper
    // election is ONE exchange on the canonical key (min doc_id
    // window) — no content ever moves, and a hot URL's key fan-in is
    // bounded by its refetch count, not corpus size.
    QueryDef(
      "dd_url_dedup",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id",
            """concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://' END,
                      'cdn', cast((doc_id div 2) % 20 AS string), '.example.org',
                      CASE WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END,
                      '/p//', cast(doc_id div 2 AS string), '/',
                      CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&utm_campaign=x&id=7#frag'
                           ELSE '?id=7&fbclid=abc123' END) AS url""")
          .selectExpr("doc_id", "url",
            """regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(regexp_replace(regexp_replace(
                   lower(url),
                   '#.*$', ''),
                   '^https?://(www\\.)?', ''),
                   ':(443|80)/', '/'),
                   '//+', '/'),
                   '(utm_[a-z]+|fbclid)=[^&#]*&?', ''),
                   '[?&]$', ''),
                   '/\\?', '?'),
                   '/$', '') AS canon""")
          .selectExpr("doc_id", "url", "canon",
            """CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY canon)
                    THEN 1L ELSE 0L END AS is_keeper"""),
      Some("""
        WITH raw AS (
          SELECT doc_id,
                 (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://' END)
                 || 'cdn' || ((doc_id // 2) % 20)::VARCHAR || '.example.org'
                 || (CASE WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END)
                 || '/p//' || (doc_id // 2)::VARCHAR || '/'
                 || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&utm_campaign=x&id=7#frag'
                          ELSE '?id=7&fbclid=abc123' END) AS url
          FROM documents),
        canon AS (
          SELECT doc_id, url,
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
              regexp_replace(regexp_replace(regexp_replace(
                lower(url),
                '#.*$', ''),
                '^https?://(www\.)?', ''),
                ':(443|80)/', '/'),
                '//+', '/', 'g'),
                '(utm_[a-z]+|fbclid)=[^&#]*&?', '', 'g'),
                '[?&]$', ''),
                '/\?', '?'),
                '/$', '') AS canon
          FROM raw)
        SELECT doc_id, url, canon,
               CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY canon)
                    THEN 1 ELSE 0 END::BIGINT AS is_keeper
        FROM canon""")),

    // ------------- content-defined chunking (storage-level dedup)
    // LBFS/FastCDC-style variable-size chunking over the token stream
    // (Muthitacharoen et al. 2001): a chunk boundary falls at gap g
    // (between tokens g and g+1) whenever the gap's 2-gram hash ≡ 0
    // (mod 16) — boundaries are CONTENT-anchored, so an insertion
    // early in a document shifts only its own chunk while every later
    // chunk re-aligns on the same anchors (the resilience fixed-size
    // blocks lack, and the reason backup/dedup stores chunk this way;
    // expected chunk length = 16 tokens). Chunk fingerprints reuse
    // ta_fingerprint's seeded polynomial fold over the token hashes,
    // so identical chunks ANYWHERE in the corpus share an fp and the
    // downstream dedup is one groupBy on fp. Everything is row-local
    // array arithmetic off the one scan — one explode per chunk, zero
    // shuffles at any corpus size.
    QueryDef(
      "dd_cdc_chunks",
      (spark, dir) => {
        Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"split(${Fns.cleanTextSql("text")}, ' ') AS toks")
          .where("size(toks) >= 1")
          // the whole per-doc pass — token hashes, gap anchors, chunk
          // fingerprint folds — runs through native kernels in one
          // projection (hash_tokens + shingle_hashes + cdc_chunks).
          // The HOF formulations both failed at scale: the explode-
          // then-fold form re-shipped the n-long hash array once per
          // chunk (measured 41 s at sf10), and the fold-before-explode
          // transform lambda hit the CollapseProject trap (the O(n)
          // bounds filter inlined per lambda reference — the dct8
          // lesson, one core pegged for minutes). cdc_chunks touches
          // each hash exactly once and explodes only the results.
          .selectExpr("doc_id",
            "explode(cdc_chunks(hash_tokens(toks), shingle_hashes(toks, 2))) AS c")
          .selectExpr("doc_id", "c.chunk_no AS chunk_no", "c.start_pos AS start_pos",
            "c.len AS len", "c.fp AS fp")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id,
                 string_split(${Fns.cleanTextDuck("text")}, ' ') AS toks
          FROM documents),
        h AS (
          SELECT doc_id, toks,
                 list_transform(toks, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % $P) AS hs
          FROM t WHERE len(toks) >= 1),
        b AS (
          SELECT doc_id, hs,
                 [0] || list_filter(generate_series(1, len(toks) - 1),
                          g -> ('0x' || substr(md5(toks[g] || ' ' || toks[g + 1]), 1, 15))::BIGINT % 16 = 0)
                     || [len(toks)] AS bounds
          FROM h),
        c AS (
          SELECT doc_id, hs, bounds,
                 unnest(generate_series(1, len(bounds) - 1)) AS j
          FROM b)
        SELECT doc_id, j::BIGINT AS chunk_no,
               (bounds[j] + 1)::BIGINT AS start_pos,
               (bounds[j + 1] - bounds[j])::BIGINT AS len,
               list_reduce(hs[(bounds[j] + 1)::INT : bounds[j + 1]::INT],
                           (acc, x) -> (acc * 31 + x) % $P) AS fp
        FROM c""")),

    // ------------------- per-doc longest-duplicate-substring profile
    // The curation-threshold companion to dd_exact_substr: instead of
    // MINING the duplicated spans, profile each document with the
    // length of its longest token window that also occurs in ANOTHER
    // document — the per-doc "max dup length" statistic curation
    // pipelines threshold on (e.g. "drop docs whose longest duplicated
    // run exceeds 50 tokens"). A literal suffix automaton / suffix
    // array gives this exactly but is inherently single-machine: a
    // per-partition automaton cannot see cross-document repeats in
    // other partitions, and a global SA over 100 TB of text is not a
    // Spark-shaped build. The distributed equivalent is a DOUBLING
    // LADDER of window lengths (4, 8, …, 64): level L hashes every
    // L-token window (native shingle_hashes kernel, one hash per
    // window) and a window is "duplicated" iff its hash occurs in ≥ 2
    // distinct docs. max_dup_len is then the largest passing level —
    // the log-spaced lower bound of the true SA answer (true max ∈
    // [level, 2·level)), which is what thresholding needs; doubling
    // refinement to the exact length would just re-run one level per
    // bisection step. Plan: LEVEL-SEQUENTIAL, each level exactly the
    // proven exactSubstrSpans posting shape — the level's window
    // hashes exchange on h ONCE with truthful partitioning through the
    // fence, the cross-doc flag (min doc ≠ max doc) and the join-back
    // run on that partitioning exchange-free, the per-doc counts
    // (doc-bounded) checkpoint, and the corpus-sized posting RELEASES
    // before the next level starts — peak footprint is ONE level's
    // posting regardless of ladder depth. Two rejected formulations,
    // both measured at the decade point: `count(*) OVER (PARTITION BY
    // L, h)` sorts the full 5-level posting (sf3 8.5 s → sf10 38.4 s,
    // exp 1.25), and a single 5-level stacked posting behind one fence
    // holds levels×tokens rows in the block manager at once (sf10:
    // executor OOM in the downstream hash aggregate). The planted
    // SpanBoiler (25 tokens, docs % 7) and SpanBoiler2 (26 tokens,
    // docs % 5) pin levels 4-16; level 32/64 exercise the empty-level
    // path at fixture scale.
    QueryDef(
      "dd_dup_profile",
      (spark, dir) => dupProfile(exactSubstrCorpus(spark, dir)
        .selectExpr("doc_id", "split(tc, ' ') AS toks")),
      Some(s"""
        WITH c AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN '$SpanBoiler2' || ' ' || tc ELSE tc END AS tc
          FROM (SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0 THEN tc || ' ' || '$SpanBoiler' ELSE tc END AS tc
                FROM (SELECT doc_id, ${Fns.cleanTextDuck("text")} AS tc
                      FROM documents))),
        t AS (SELECT doc_id, string_split(tc, ' ') AS toks FROM c),
        lv AS (SELECT unnest([${DupProfileLadder.mkString(", ")}]) AS L),
        w AS (
          SELECT t.doc_id, lv.L::BIGINT AS L,
                 unnest(list_transform(
                   generate_series(1, len(t.toks) - lv.L + 1),
                   i -> ('0x' || substr(md5(array_to_string(t.toks[i:i+lv.L-1], ' ')), 1, 15))::BIGINT)) AS h
          FROM t, lv
          WHERE len(t.toks) >= lv.L),
        g AS (SELECT L, h, doc_id, count(*)::BIGINT AS c FROM w GROUP BY 1, 2, 3),
        d AS (
          SELECT doc_id, L, sum(c)::BIGINT AS dup_windows
          FROM (SELECT *, count(*) OVER (PARTITION BY L, h) AS nd FROM g)
          WHERE nd >= 2 GROUP BY 1, 2),
        b AS (
          SELECT doc_id, L AS max_dup_len, dup_windows,
                 row_number() OVER (PARTITION BY doc_id ORDER BY L DESC) AS rk
          FROM d)
        SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
               coalesce(b.max_dup_len, 0)::BIGINT AS max_dup_len,
               coalesce(b.dup_windows, 0)::BIGINT AS dup_windows
        FROM t LEFT JOIN (SELECT * FROM b WHERE rk = 1) b USING (doc_id)"""))
  )

  /** dd_dup_profile's doubling ladder of window lengths (tokens). */
  /** dd_dup_profile over `tokens`, the `(doc_id, toks)` corpus. The
    * tokens feed six consumers (five level postings + the n_tokens
    * scan), so they are fenced once; plain fence, no layout: the
    * postings re-exchange on h anyway and the join-back is doc-bounded.
    * The independent levels run from TWO driver threads (guide §2.6:
    * the next level back-fills the previous one's straggler tail), at
    * most two postings live at once, each released before its level
    * completes; the futures are collected in ladder order.
    *
    * Each level runs in its own [[Rounds]] scope (a scope is one
    * thread's), all in one job group per call. The first level to fail
    * cancels the group's running and future jobs; every level is then
    * waited for, every fence any level made is released with the
    * tokens, and the first error is rethrown.
    */
  private[graft] def dupProfile(tokens: DataFrame): DataFrame = Rounds.scope { rs =>
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val sc = tokens.sparkSession.sparkContext
    val toks = rs.fence(tokens)
    // resolved here: `Par` reads the thread's active session, and the
    // futures below run on pool threads
    val par = Par
    val group = s"dd_dup_profile-${java.util.UUID.randomUUID}"
    val firstError = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val ec = ExecutionContext.fromExecutorService(pool)
    val futs = DupProfileLadder.map { l =>
      Future {
        sc.setJobGroup(group, s"dd_dup_profile level $l")
        try Rounds.scope { ls =>
          val post = ls.fence(
            toks.selectExpr("doc_id", s"explode(shingle_hashes(toks, $l)) AS h"), par, "h")
          // cross-doc flag per h — min ≠ max over doc_id ⟺ held by
          // ≥ 2 distinct docs; runs on the existing partitioning
          val dup = post.groupBy("h")
            .agg(expr("min(doc_id) AS mn"), expr("max(doc_id) AS mx"))
            .where("mn != mx").select("h")
          // only duplicated occurrences survive; the fold is doc-bounded
          // (the scope releases the posting: the fenced counts no
          // longer read it)
          ls.fence(post.join(dup, Seq("h"))
            .groupBy("doc_id")
            .agg(expr("cast(count(*) AS bigint) AS dup_windows"))
            .selectExpr("doc_id", s"${l}L AS L", "dup_windows"))
        } catch {
          case e: Throwable =>
            if (firstError.compareAndSet(null, e)) sc.cancelJobGroupAndFutureJobs(group)
            throw e
        } finally sc.clearJobGroup()
      }(ec)
    }
    val levels = try futs.map(f => Await.ready(f, Duration.Inf).value.get)
    finally pool.shutdown()
    Option(firstError.get).foreach { e =>
      levels.foreach(_.foreach(release(_)))
      throw e
    }
    val best = levels.map(_.get).reduce(_ unionByName _)
      .withColumn("rk", expr("row_number() OVER (PARTITION BY doc_id ORDER BY L DESC)"))
      .where("rk = 1")
      .selectExpr("doc_id", "L AS max_dup_len", "dup_windows")
    toks.selectExpr("doc_id", "cast(size(toks) AS bigint) AS n_tokens")
      .join(best, Seq("doc_id"), "left")
      .selectExpr("doc_id", "n_tokens",
        "coalesce(max_dup_len, 0L) AS max_dup_len",
        "coalesce(dup_windows, 0L) AS dup_windows")
  }

  private[graft] val DupProfileLadder = Seq(4, 8, 16, 32, 64)

  // dd_paragraph: 12-token paragraph folds; the planted boilerplate is
  // ≥ ParaWords tokens so it forms (at least) one full duplicate
  // paragraph in every planted doc
  private val ParaWords = 12
  private[graft] val ParaBoiler =
    "all rights reserved unauthorized reproduction of this page is strictly prohibited by law"

  // ------------------------------------------- embedding near-dup pair
  // generation. Two formulations over the same normalized embeddings:
  // all-pairs-within-label (the ground truth + the oracle's shape) and
  // the LSH-banded version the registered query runs.

  /** (label, vec_id, emb_n): L2-normalized double embeddings. Zero-norm
    * guard: an all-zero vector stays all-zero (Spark's Divide would
    * yield NULL, DuckDB NaN — an oracle mismatch).
    */
  private def normalizedEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(spark, dir)
      .selectExpr("label", "vec_id", "transform(embedding, x -> cast(x AS double)) AS emb_d")
      // dot_f(v, v) is the same left-to-right double fold the DuckDB
      // oracle's list_sum runs, but codegen'd (the aggregate() HOF
      // interprets its lambda per element)
      .selectExpr("label", "vec_id", "sqrt(dot_f(emb_d, emb_d)) AS nrm", "emb_d")
      .selectExpr("label", "vec_id",
        "CASE WHEN nrm = 0D THEN emb_d ELSE transform(emb_d, x -> x / nrm) END AS emb_n")
  }

  /** Exact cosine verification of candidate (label, vec_a, vec_b) pairs:
    * join the normalized vectors back (candidates carry only ids until
    * here) and keep pairs with dot ≥ threshold. The dot of two
    * normalized vectors uses the same left-to-right double fold as the
    * DuckDB oracle — value-identical arithmetic.
    */
  private def verifyCosine(cand: DataFrame, e: DataFrame,
                           threshold: Double = CosineThreshold): DataFrame = {
    val ea = e.select(col("vec_id").as("vec_a"), col("emb_n").as("emb_a"))
    val eb = e.select(col("vec_id").as("vec_b"), col("emb_n").as("emb_b"))
    cand.join(ea, "vec_a").join(eb, "vec_b")
      .selectExpr("label", "vec_a", "vec_b",
        "dot_f(emb_a, emb_b) AS cos") // native codegen'd loop (graft.plans.DotProduct)
      .where(s"cos >= $threshold")
      .selectExpr("label", "vec_a", "vec_b", "round(cos, 6) AS cosine")
  }

  /** All-pairs within each label block — O(block²) pair space keyed on
    * the bare label: a single hot label lands in ONE reducer. Kept as
    * the spec's ground-truth formulation, not the registered query
    * (that is [[embedSimPairsBlocked]], which computes the same exact
    * result with the pair space spread over bounded cells).
    */
  private[graft] def embedNearDupAllPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = normalizedEmbeddings(spark, dir)
    val l = e.select(col("label"), col("vec_id").as("vec_a"))
    val r = e.select(col("label").as("label_r"), col("vec_id").as("vec_b"))
    val cand = l.join(r, l("label") === r("label_r") && l("vec_a") < r("vec_b"))
      .select(col("label"), col("vec_a"), col("vec_b"))
    verifyCosine(cand, e)
  }

  /** Default cell cap for [[embedSimPairsBlocked]]: blocks below this
    * stay whole (one cell, zero overhead — every test-SF block does);
    * larger blocks split so no task ever holds more than ~2·cap rows
    * or forms more than cap² pairs.
    */
  private[graft] val SimPairsBlockCap = 4096

  /** Exact all-pairs similarity mining with a BOUNDED quadratic:
    * triangle cell blocking. Each label block of n vectors is split
    * into m = ceil(n / cap) deterministic hash cells; candidate
    * generation shuffles on (label, cell_i, cell_j) so every task
    * handles ONE cell pair — ≤ 2·cap rows held, ≤ cap² pairs formed —
    * instead of a whole label. Exhaustive because every unordered pair
    * of cells (i ≤ j) is enumerated: this is a WORK-SPREADING layout,
    * not candidate pruning, so the result set is bit-identical to
    * [[embedNearDupAllPairs]] at any cap ≥ 1 (PruningSpec pins both
    * the equality and the per-task bound with a forced multi-cell cap).
    *
    * Cost: replication is m per row (n·m = n²/cap rows shuffled —
    * 1/cap of the pair space), total comparison work is the same
    * inherent O(n²) exact mining pays; what changes at 100 TB is that
    * a dominant label now spreads over m² tasks that scale with
    * executors instead of serializing on one.
    */
  private[graft] def embedSimPairsBlocked(spark: SparkSession, dir: String,
                                          cap: Int = SimPairsBlockCap): DataFrame =
    verifyCosine(
      simPairsCellCandidates(normalizedEmbeddings(spark, dir), cap)
        .select("label", "vec_a", "vec_b"),
      normalizedEmbeddings(spark, dir))

  /** The candidate half of [[embedSimPairsBlocked]], cell keys kept so
    * PruningSpec can assert the per-task bound: every (label, ka, kb)
    * group — one shuffle task's pair work — holds ≤ cap·(cap+ceil-slack)
    * candidates. `e` must carry (label, vec_id).
    *
    * Whole blocks (m = 1 — a label with ≤ cap vectors) take a plain
    * label self-join instead of the cell machinery: the bound holds
    * trivially (the task holds the ≤ cap-row block itself), and the
    * generator + 3-key-join overhead only gets paid by labels that
    * actually overflow the cap. Oversized labels still spread over m²
    * bounded cell-pair tasks exactly as before.
    */
  private[graft] def simPairsCellCandidates(e: DataFrame, cap: Int): DataFrame = {
    // per-label cell count: tiny aggregate (one row per label), broadcast
    val cells = e.groupBy("label")
      .agg(expr(s"cast(ceil(count(*) / $cap.0D) AS int) AS m"))
    val withM = e.join(broadcast(cells), "label")
      .selectExpr("label", "vec_id", "m")
    // fast path: the whole block is one cell — ordinary self-join on the
    // bare label key, constant (0,0) cell tags to stay union-compatible
    val whole = withM.where("m = 1")
    val wholeCand = whole.selectExpr("label", "vec_id AS id_l")
      .join(whole.selectExpr("label", "vec_id AS id_r"), Seq("label"))
      .where("id_l < id_r")
      .selectExpr("label", "0 AS ka", "0 AS kb", "id_l AS vec_a", "id_r AS vec_b")
    val withCell = withM.where("m > 1")
      // engine-side only (cells never reach the output or the oracle),
      // so Spark's murmur3 hash is fine here; pmod keeps it in [0, m)
      .selectExpr("label", "vec_id", "m", "pmod(hash(vec_id), m) AS cell")
    // left role: a vector in cell c serves every cell pair (c, j), j ≥ c
    val lhs = withCell.selectExpr("label", "vec_id AS id_l", "cell AS ka",
        "explode(sequence(cell, m - 1)) AS kb")
    // right role: a vector in cell c serves every cell pair (i, c), i ≤ c
    val rhs = withCell.selectExpr("label", "vec_id AS id_r",
        "explode(sequence(0, cell)) AS ka", "cell AS kb")
    val splitCand = lhs.join(rhs, Seq("label", "ka", "kb"))
      // diagonal tasks see their cell twice: keep one orientation; an
      // off-diagonal pair meets exactly once (cells are disjoint)
      .where("ka < kb OR id_l < id_r")
      .selectExpr("label", "ka", "kb", "least(id_l, id_r) AS vec_a",
        "greatest(id_l, id_r) AS vec_b")
    wholeCand.unionByName(splitCand)
  }

  // --------------------------- production-threshold banded near-dup
  // Sign-LSH can only prune when the threshold is a NEAR-DUP threshold:
  // at cosine ≥ 0.9 (θ ≤ 26°) a 4 × 8-bit banding (Knn.LshPlanes, the
  // SAME 32 planes v4_lsh_ann signs against, in the same grouping)
  // collides true pairs with p ≈ 1 while a random pair (θ ≈ 90°)
  // collides with p ≈ 4·(1/2)⁸ ≈ 1.6% — measured 34–46× candidate
  // pruning on this corpus. At the r4 parameters (16 bands × 2 bits,
  // threshold 0.35 ⇒ θ ≈ 69°) a RANDOM pair collided somewhere with
  // p ≈ 1−(3/4)¹⁶ ≈ 0.99: the bucket join regenerated ~the whole pair
  // space plus banding overhead — pruning theater. PruningSpec pins
  // both facts. Low-threshold similarity mining (dd_embed_simpairs)
  // stays on blocked-exact all-pairs, the honest algorithm there.
  private val EmbNearDupThreshold = 0.9
  private val EmbEps = 0.005

  /** Deterministic perturbation direction: the seed-12345 Gaussian
    * stream CONTINUED past the 32×64 draws Knn.LshPlanes consumed.
    * (A second Random seeded differently is NOT usable here: Java's
    * LCG produces cross-seed-correlated early draws, and a perturbation
    * correlated with the banding planes shifts every sign margin the
    * same way — measured 7% twin-pair recall loss before this fix.)
    */
  private val PerturbDir: Seq[Double] = {
    val rnd = new scala.util.Random(12345)
    (0 until 32 * 64 + 64).map(_ => rnd.nextGaussian()).drop(32 * 64)
  }

  /** The near-dup demo corpus: every (re-normalized) embedding plus a
    * deterministic near-twin nudged by EmbEps along [[PerturbDir]]
    * (twin ids offset by 1 000 000). The driver's tables contain no
    * pairs above cosine 0.51, so a production-threshold gate needs a
    * corpus that actually CONTAINS near-dups; deriving twins inside the
    * query keeps the oracle an independent all-pairs computation over
    * the same derived corpus. Emits (label, vec_id, emb_n) with emb_n
    * L2-normalized doubles.
    */
  private[graft] def embedTwinCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = normalizedEmbeddings(spark, dir)
    val twins = base.selectExpr("label", "vec_id + 1000000L AS vec_id",
      s"zip_with(emb_n, ${Knn.planeSpark(PerturbDir)}, (x, d) -> x + ${EmbEps}D * d) AS emb")
    val corpus = base.selectExpr("label", "cast(vec_id AS bigint) AS vec_id", "emb_n AS emb")
      .unionAll(twins)
    corpus
      .selectExpr("label", "vec_id", "emb", "sqrt(dot_f(emb, emb)) AS nrm")
      .selectExpr("label", "vec_id",
        "CASE WHEN nrm = 0D THEN emb ELSE transform(emb, x -> x / nrm) END AS emb_n")
  }

  /** DuckDB twin of [[embedTwinCorpus]] — same construction, same
    * left-to-right double folds, same literal perturbation array.
    */
  private def embedTwinCorpusSql: String = s"""
        e0 AS (
          SELECT label, vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb_d,
                 sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE))) AS nrm
          FROM embeddings),
        base AS (
          SELECT label, vec_id,
                 CASE WHEN nrm = 0 THEN emb_d ELSE list_transform(emb_d, x -> x / nrm) END AS emb_n
          FROM e0),
        corpus AS (
          SELECT label, vec_id::BIGINT AS vec_id, emb_n AS emb FROM base
          UNION ALL
          SELECT label, vec_id + 1000000, list_transform(generate_series(1, len(emb_n)),
                   i -> emb_n[i] + $EmbEps * (${Knn.planeDuck(PerturbDir)})[i])
          FROM base),
        cn0 AS (
          SELECT label, vec_id, emb,
                 sqrt(list_sum(list_transform(emb, y -> y * y))) AS nrm
          FROM corpus),
        cn AS (
          SELECT label, vec_id,
                 CASE WHEN nrm = 0 THEN emb ELSE list_transform(emb, x -> x / nrm) END AS emb_n
          FROM cn0)"""

  /** Banded candidate generation over a (label, vec_id, emb_n) corpus:
    * sign-bit band signatures (sign of dot(v, plane) is scale-invariant),
    * bucket self-join on (label, band_id, band_val) carrying ONLY ids,
    * distinct. The pair space is per-bucket, not per-block — a hot label
    * spreads over 2^bits buckets per band instead of degenerating to
    * O(block²). Parameterized so PruningSpec can demonstrate the
    * r4-degenerate (16 × 2) grouping against the production (4 × 8) one
    * over the same 32 planes.
    */
  /** Band-signature rows for a (label, vec_id, emb_n) corpus: one row
    * per (vector, band) with the band's sign-bit value, the embedding
    * carried along for inline verification.
    */
  private[graft] def embedBandRows(corpus: DataFrame,
                                   bands: Int, bits: Int): DataFrame = {
    require(bands * bits <= Knn.LshPlanes.size, "not enough fixed planes")
    def bandVal(b: Int): String =
      (0 until bits).map { j =>
        s"(CASE WHEN dot_f(emb_n, ${Knn.planeSpark(Knn.LshPlanes(b * bits + j))}) > 0D THEN ${1L << j}L ELSE 0L END)"
      }.mkString("(", " + ", ")")
    val bandStructs = (0 until bands)
      .map(b => s"named_struct('band_id', $b, 'band_val', ${bandVal(b)})")
      .mkString("array(", ", ", ")")
    corpus
      .selectExpr("label", "vec_id", "emb_n", s"explode($bandStructs) AS bk")
      .selectExpr("label", "vec_id", "emb_n",
        "bk.band_id AS band_id", "bk.band_val AS band_val")
  }

  private[graft] def embedBandCandidates(corpus: DataFrame,
                                         bands: Int, bits: Int): DataFrame = {
    val bk = embedBandRows(corpus, bands, bits)
    val l = bk.select(col("label"), col("band_id"), col("band_val"), col("vec_id").as("vec_a"))
    val r = bk.select(col("label").as("label_r"), col("band_id").as("band_id_r"),
      col("band_val").as("band_val_r"), col("vec_id").as("vec_b"))
    l.join(r,
        l("label") === r("label_r") && l("band_id") === r("band_id_r") &&
          l("band_val") === r("band_val_r") && l("vec_a") < r("vec_b"))
      .select(col("label"), col("vec_a"), col("vec_b"))
      .distinct()
  }

  /** The registered dd_embed_neardup pipeline: twin corpus → 4 × 8-bit
    * banded candidates → exact cosine verify at the production 0.9
    * threshold. The verify runs INLINE in the band join (each band row
    * carries its emb_n; candidates that fail the exact cosine die in
    * the join's output filter), so only TRUE pairs ever reach the
    * distinct — the r11 sf10 decade check measured the previous shape
    * (ids-only candidates → quadratic distinct → two verify joins) at
    * exponent 2.37: clustered sign patterns make band buckets hold a
    * corpus fraction, and the candidate pair space — harmless when it
    * stays inside one codegen'd filter — was being shuffled TWICE.
    * Same exactness (identical candidate set, identical verify
    * expression, fused), same recall pin in DedupSpec. The trade is
    * the mm_ahash_neardup one: the dot product runs once per
    * colliding band (≤4× per pair) instead of once per distinct pair.
    */
  private[graft] def embedNearDupBanded(spark: SparkSession, dir: String): DataFrame = {
    val corpus = embedTwinCorpus(spark, dir)
    val bk = embedBandRows(corpus, bands = 4, bits = 8)
    val l = bk.select(col("label"), col("band_id"), col("band_val"),
      col("vec_id").as("vec_a"), col("emb_n").as("emb_a"))
    val r = bk.select(col("label").as("label_r"), col("band_id").as("band_id_r"),
      col("band_val").as("band_val_r"), col("vec_id").as("vec_b"), col("emb_n").as("emb_b"))
    l.join(r,
        l("label") === r("label_r") && l("band_id") === r("band_id_r") &&
          l("band_val") === r("band_val_r") && l("vec_a") < r("vec_b"))
      .selectExpr("label", "vec_a", "vec_b", "dot_f(emb_a, emb_b) AS cos")
      .where(s"cos >= $EmbNearDupThreshold")
      .selectExpr("label", "vec_a", "vec_b", "round(cos, 6) AS cosine")
      .distinct()
  }

  /** All-pairs-within-label ground truth over the SAME twin corpus at
    * the production threshold — DedupSpec's recall reference for
    * [[embedNearDupBanded]] (the oracle SQL is the cross-engine twin
    * of this).
    */
  private[graft] def embedTwinAllPairs(spark: SparkSession, dir: String): DataFrame = {
    val c = embedTwinCorpus(spark, dir)
    val l = c.select(col("label"), col("vec_id").as("vec_a"))
    val r = c.select(col("label").as("label_r"), col("vec_id").as("vec_b"))
    val cand = l.join(r, l("label") === r("label_r") && l("vec_a") < r("vec_b"))
      .select(col("label"), col("vec_a"), col("vec_b"))
    verifyCosine(cand, c, EmbNearDupThreshold)
  }

  // ---------------------------------------------------------------------
  /** 60-bit tf-weighted simhash via the native `hash_tokens` +
    * `simhash60` kernels (graft.plans.TextHash) — the SQL lambda
    * formulation interprets 60 × n_tokens lambda dispatches per doc.
    */
  /** 15-bit-band blocked simhash candidate pairs, pre-Hamming-filter —
    * the dd_simhash_pairs generator, exposed so PruningSpec can assert
    * the band blocking prunes (candidates ≪ all pairs).
    */
  private[graft] def simhashCandidates(spark: SparkSession, dir: String): DataFrame = {
    val s = simhashDf(spark, dir)
    val bands = s.selectExpr(
        "doc_id", "simhash",
        s"""explode(transform(sequence(0, ${SimBands - 1}, 1),
                   b -> named_struct('band_id', b,
                                     'band_val', (simhash div shiftleft(cast(1 AS bigint), b * $SimBandBits)) % ${1 << SimBandBits}))) AS bk""")
      .selectExpr("doc_id", "simhash", "bk.band_id AS band_id", "bk.band_val AS band_val")
    val l = bands.select(col("band_id"), col("band_val"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val r = bands.select(col("band_id").as("band_id_r"), col("band_val").as("band_val_r"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    l.join(r,
        l("band_id") === r("band_id_r") && l("band_val") === r("band_val_r") &&
          l("doc_a") < r("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sim_a"), col("sim_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  private def simhashDf(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select("doc_id", "text")
      .repartition(Par, col("doc_id")) // parallelize the 60-bit fold (see shingleHashes)
      .selectExpr("doc_id",
        s"${Fns.cleanTextSql("text")} AS tc")
      .selectExpr("doc_id", "simhash60(hash_tokens(split(tc, ' '))) AS simhash")
      .repartition(Par, col("doc_id")) // materialize the fold (see shingleHashes)
  }

  private val simhashSql: String =
    s"""SELECT doc_id,
       |       list_sum(list_transform(generate_series(0, ${SimBits - 1}),
       |         j -> CASE WHEN list_sum(list_transform(hv,
       |                        h -> CASE WHEN (h // (1::BIGINT << j)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
       |                   THEN (1::BIGINT << j) ELSE 0 END))::BIGINT AS simhash
       |FROM (SELECT doc_id,
       |             list_transform(string_split(tc, ' '),
       |                            t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hv
       |      FROM (SELECT doc_id, ${Fns.cleanTextDuck("text")} AS tc
       |            FROM documents))""".stripMargin
}
