package graft.operators

import org.apache.spark.sql.graft.CheckpointOps.FenceSyntax
import graft.{Fns, QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-curation compositions — the end-to-end shapes a training-data
  * pipeline runs over a 100 TB document corpus, built by composing the
  * engine's own operators (quality gate → exact dedup → near-dup
  * removal → deterministic sampling).
  *
  * Scale notes:
  *  - the keep/drop decisions are LEFT SEMI / LEFT ANTI joins on
  *    doc_id — Spark plans them as hash joins with no payload columns
  *    from the filter side, and the near-dup drop set is tiny relative
  *    to the corpus (broadcast in practice);
  *  - sampling is hash-based (md5 of the key), not `TABLESAMPLE` /
  *    `rand()`: deterministic under retries, stable across engines,
  *    and trivially stratifiable by computing the hash per stratum.
  */
object Curation {

  /** Connected components by min-label propagation over an undirected
    * edge list `(doc_a, doc_b)`: every vertex repeatedly takes the min
    * label among itself and its neighbors until no label changes.
    * Converges in O(component diameter) rounds — each round is one
    * join + one aggregation. Labels are `localCheckpoint`ed every round:
    * persist alone is NOT enough for iterative DataFrames — the logical
    * plan still nests one level per round and analysis blows up
    * exponentially around ~10 rounds; checkpointing truncates lineage
    * to the materialized RDD so every round plans O(1) work. Returns
    * `(doc_id, component)` where component is the min doc_id reachable
    * — a unique fixpoint, independent of execution order.
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 20): DataFrame =
    Rounds.scope { fs =>
      val (edges, labels0) = ccFences(fs, pairs)
      // state: (labels, converged)
      val ((labels, _), _) = fs.loop((labels0, false), maxRounds)(_._2) {
        case (round, (labels, _)) =>
          // change count rides the fence job as an observed metric — the
          // r16 gr_hits discipline; the old formulation paid a separate
          // filter-count job per round over the just-materialized blocks
          val obs = org.apache.spark.sql.Observation(s"cc_changed_${round - 1}")
          val next = fs.fence(ccRound(edges, labels)
            .observe(obs,
              expr("sum(CASE WHEN component != old THEN 1 ELSE 0 END) AS changed")))
          val changed = Option(obs.get("changed")).fold(0L)(_.asInstanceOf[Long])
          (next.select("doc_id", "component"), changed == 0)
      }
      labels
    }

  /** The fenced both-directions edge table and the initial labels
    * (every vertex its own component) — shared by the loop and
    * [[ccRoundPlanForSpec]].
    */
  private def ccFences(fs: Rounds, pairs: DataFrame): (DataFrame, DataFrame) = {
    val edges = fs.fence(pairs.toDF("doc_a", "doc_b")
      .unionByName(pairs.toDF("doc_a", "doc_b").selectExpr("doc_b AS doc_a", "doc_a AS doc_b")))
    (edges, fs.fence(edges.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("component", col("doc_id"))))
  }

  /** One lazy min-label-propagation round (pre-observe, pre-fence):
    * per-vertex min neighbor label joined back onto the current
    * labels, carrying the previous label through as `old` so the
    * change count can ride the fence job. Shared by the loop and
    * [[ccRoundPlanForSpec]].
    */
  private def ccRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    val neighborMin = edges
      .join(labels.selectExpr("doc_id AS doc_b", "component AS nc"), "doc_b")
      .groupBy("doc_a").agg(expr("min(nc) AS nmin"))
      .selectExpr("doc_a AS doc_id", "nmin")
    labels.join(neighborMin, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "least(component, coalesce(nmin, component)) AS component",
        "component AS old")
  }

  /** One connected-components round's executed-plan string — plan
    * evidence for the fenced loop (the outer dump collapses to a
    * checkpoint scan), built on the same fenced both-directions edge
    * table and initial labels the loop starts from.
    */
  private[graft] def ccRoundPlanForSpec(pairs: DataFrame): String =
    Rounds.scope { fs =>
      val (edges, labels) = ccFences(fs, pairs)
      val obs = org.apache.spark.sql.Observation("cc_changed_spec")
      ccRound(edges, labels)
        .observe(obs,
          expr("sum(CASE WHEN component != old THEN 1 ELSE 0 END) AS changed"))
        .queryExecution.executedPlan.toString
    }

  /** Cleaned text + md5 for the gate/dedup stages (shared fragment). */
  private val cleanCols =
    Seq("doc_id", "lang",
      s"${Fns.cleanTextSql("text")} AS tc")

  def queries: Seq[QueryDef] = Seq(
    // ------------------------------------------- deterministic sampling
    // ~1-in-10 hash sample, stratified by lang: the bucket is
    // md5(doc_id) so membership is a pure function of the key —
    // re-runs, retries, and the DuckDB oracle all agree, and at 100 TB
    // the sample needs no shuffle at all (filter in the scan).
    QueryDef(
      "tp_sample_stratified",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id", "lang", "n_chars")
          .where("pmod(cast(conv(substring(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint), 10) = 0"),
      Some("""
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10 = 0""")),

    // -------------------------------------------- sequence packing
    // Pack documents into fixed token budgets (2048 BPE-ish tokens) —
    // the batch-assembly step of an LLM training pipeline. Greedy
    // in-order packing IS a running-sum bucketing: a doc opens a new
    // pack when the running total BEFORE it crosses a budget boundary.
    // The running sum is windowed WITHIN salt partitions (pmod 8), so
    // the sort is partition-local and the operator scales with the
    // salt count — never a global single-partition window; packs are
    // salt-scoped by construction (pack_id embeds the salt).
    QueryDef(
      "tp_pack_tokens",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("doc_id", "pmod(doc_id, 8) AS salt",
            "cast((length(tc) + 3) div 4 AS bigint) AS n_tokens")
          .selectExpr("doc_id", "salt", "n_tokens",
            """sum(n_tokens) OVER (PARTITION BY salt ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens AS before_sum""")
          .selectExpr("salt", "doc_id", "n_tokens",
            "salt * 1000000 + before_sum div 2048 AS pack_id")
          .groupBy("pack_id")
          .agg(
            expr("cast(count(*) AS bigint) AS n_docs"),
            expr("cast(sum(n_tokens) AS bigint) AS pack_tokens"),
            expr("min(doc_id) AS first_doc"),
            expr("max(doc_id) AS last_doc")),
      Some(s"""
        SELECT pack_id::BIGINT AS pack_id, count(*) AS n_docs, sum(n_tokens)::BIGINT AS pack_tokens,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM (
          SELECT doc_id, salt, n_tokens,
                 salt * 1000000 + (sum(n_tokens) OVER (PARTITION BY salt ORDER BY doc_id
                                                       ROWS UNBOUNDED PRECEDING) - n_tokens) // 2048 AS pack_id
          FROM (
            SELECT doc_id, doc_id % 8 AS salt,
                   ((length(${Fns.cleanTextDuck("text")}) + 3) // 4)::BIGINT AS n_tokens
            FROM documents))
        GROUP BY pack_id""")),

    // ----------------------------------- epoch-style lang upsampling
    // The repetition-factor assignment of a multilingual training mix:
    // low-resource languages repeat more epochs (the per-mille targets
    // inlined in both engines — the inverse of tp_mix_weights'
    // subsampling). Factors are pure integer functions of lang, the
    // effective token budget is repeat × tokens, and the per-lang
    // report shows raw vs effective contribution — all scan-local
    // arithmetic plus one partial-aggregated groupBy.
    QueryDef(
      "tp_upsample",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id", "lang",
            s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("doc_id", "lang",
            "cast((length(tc) + 3) div 4 AS bigint) AS n_tokens",
            "coalesce(element_at(map('en', 1, 'zh', 2, 'de', 4, 'fr', 4, 'es', 8), lang), 1) AS rep")
          .groupBy("lang")
          .agg(
            expr("cast(count(*) AS bigint) AS n_docs"),
            expr("cast(sum(n_tokens) AS bigint) AS raw_tokens"),
            expr("cast(first(rep) AS bigint) AS repeat_factor"),
            expr("cast(sum(n_tokens * rep) AS bigint) AS effective_tokens")),
      Some(s"""
        SELECT lang, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS raw_tokens,
               first(rep)::BIGINT AS repeat_factor,
               sum(n_tokens * rep)::BIGINT AS effective_tokens
        FROM (
          SELECT doc_id, lang,
                 ((length(${Fns.cleanTextDuck("text")}) + 3) // 4)::BIGINT AS n_tokens,
                 CASE lang WHEN 'en' THEN 1 WHEN 'zh' THEN 2 WHEN 'de' THEN 4
                           WHEN 'fr' THEN 4 WHEN 'es' THEN 8 ELSE 1 END AS rep
          FROM documents)
        GROUP BY lang""")),

    // ------------------------------- curation funnel (observability)
    // The per-stage accounting every pipeline run logs: how many
    // documents enter, survive the length gate, survive exact dedup,
    // and survive near-dup removal — tp_curate's stages re-expressed
    // as one funnel report (stage, n_docs, chars). Each stage count is
    // a partial-aggregated scan over the SAME shared subplans the
    // pipeline runs; no violating rows materialize. Monotone
    // non-increasing by construction — a broken stage shows up as a
    // count jump before it corrupts downstream output.
    QueryDef(
      "tp_curate_funnel",
      (spark, dir) => {
        val cleaned = Tables.documents(spark, dir)
          .selectExpr(cleanCols: _*)
          .selectExpr("doc_id", "length(tc) AS char_len", "md5(tc) AS th")
        val quality = cleaned.where("char_len >= 50")
        val exactKept = quality.groupBy("th")
          .agg(expr("min(doc_id) AS doc_id"), expr("min(char_len) AS char_len"))
        val nearDupDrop = Dedup.minhashPairs(spark, dir)
          .select(col("doc_b").as("doc_id")).distinct()
        val finalKept = exactKept.join(nearDupDrop, Seq("doc_id"), "left_anti")
        def stage(name: String, rank: Long, df: DataFrame) =
          df.groupBy().agg(
            expr(s"$rank AS stage_rank"),
            expr(s"'$name' AS stage"),
            expr("cast(count(*) AS bigint) AS n_docs"),
            expr("cast(sum(char_len) AS bigint) AS sum_chars"))
        stage("input", 1, cleaned)
          .unionByName(stage("length_gate", 2, quality))
          .unionByName(stage("exact_dedup", 3, exactKept))
          .unionByName(stage("near_dedup", 4, finalKept))
          .selectExpr("stage_rank", "stage", "n_docs", "sum_chars")
      },
      Some(s"""
        WITH cleaned AS (
          SELECT doc_id, length(tc) AS char_len, md5(tc) AS th
          FROM (SELECT doc_id, ${Fns.cleanTextDuck("text")} AS tc
                FROM documents)),
        quality AS (SELECT * FROM cleaned WHERE char_len >= 50),
        exact_kept AS (
          SELECT min(doc_id) AS doc_id, min(char_len) AS char_len
          FROM quality GROUP BY th),
        pairs AS ($minhashPairsSqlRef),
        final_kept AS (
          SELECT k.doc_id, k.char_len FROM exact_kept k
          LEFT JOIN (SELECT DISTINCT doc_b AS doc_id FROM pairs) d
            ON k.doc_id = d.doc_id
          WHERE d.doc_id IS NULL)
        SELECT 1::BIGINT AS stage_rank, 'input' AS stage,
               count(*)::BIGINT AS n_docs, sum(char_len)::BIGINT AS sum_chars FROM cleaned
        UNION ALL SELECT 2, 'length_gate', count(*)::BIGINT, sum(char_len)::BIGINT FROM quality
        UNION ALL SELECT 3, 'exact_dedup', count(*)::BIGINT, sum(char_len)::BIGINT FROM exact_kept
        UNION ALL SELECT 4, 'near_dedup', count(*)::BIGINT, sum(char_len)::BIGINT FROM final_kept""")),

    // ----------------------------- first-fit-decreasing packing (FFD)
    // The packing-quality upgrade over tp_pack_tokens' in-order
    // running sum: sort each salt's documents by token count
    // DESCENDING, then place each into the FIRST open pack with room
    // (capacity 2048), opening a new pack only when none fits —
    // classic FFD bin packing (≤ 11/9·OPT + 1), the algorithm LLM
    // batch assembly actually wants. Genuinely sequential per salt, so
    // it runs as an imperative fold inside ONE partition per salt
    // (repartition on salt, bounded state = open-pack capacities);
    // cross-salt it is embarrassingly parallel and scales with the
    // salt count. The oracle is a DuckDB RECURSIVE CTE that replays
    // the same placement chain item by item — an independent
    // implementation of the whole algorithm, not a re-expression of
    // this one.
    QueryDef(
      "tp_pack_ffd",
      (spark, dir) => {
        import spark.implicits._
        val items = Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("pmod(doc_id, 8) AS salt", "doc_id",
            "cast((length(tc) + 3) div 4 AS bigint) AS n_tokens")
          .as[(Long, Long, Long)]
        // the shuffle SORTS each partition into (salt, tokens desc, id)
        // order, so the fold is a pure streaming pass: state is ONLY the
        // open-pack capacity array of the salt currently in hand — the
        // partition is never materialized (a salt's documents stream
        // through one executor, which is the point of salting)
        val placed = items
          .repartition(col("salt"))
          .sortWithinPartitions(col("salt"), desc("n_tokens"), col("doc_id"))
          .mapPartitions { part =>
            var curSalt = Long.MinValue
            val caps = scala.collection.mutable.ArrayBuffer.empty[Long]
            part.map { case (salt, id, tok) =>
              if (salt != curSalt) { curSalt = salt; caps.clear() }
              val fit = caps.indexWhere(_ >= tok)
              val bin = if (fit < 0) { caps += Budget - tok; caps.length }
                        else { caps(fit) -= tok; fit + 1 }
              (salt, id, tok, bin.toLong)
            }
          }
          .toDF("salt", "doc_id", "n_tokens", "bin")
        placed
          .selectExpr("salt * 1000000 + bin AS pack_id", "doc_id", "n_tokens")
          .groupBy("pack_id")
          .agg(
            expr("cast(count(*) AS bigint) AS n_docs"),
            expr("cast(sum(n_tokens) AS bigint) AS pack_tokens"),
            expr("min(doc_id) AS first_doc"),
            expr("max(doc_id) AS last_doc"))
      },
      Some(s"""
        WITH RECURSIVE base AS (
          SELECT doc_id, doc_id % 8 AS salt,
                 ((length(${Fns.cleanTextDuck("text")}) + 3) // 4)::BIGINT AS n_tokens
          FROM documents),
        items AS (
          SELECT salt, doc_id, n_tokens,
                 row_number() OVER (PARTITION BY salt ORDER BY n_tokens DESC, doc_id)::BIGINT AS rn
          FROM base),
        ffd AS (
          SELECT salt, 0::BIGINT AS rn, CAST([] AS BIGINT[]) AS caps,
                 CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_tokens,
                 CAST(NULL AS BIGINT) AS bin
          FROM (SELECT DISTINCT salt FROM items)
          UNION ALL
          SELECT salt, rn,
                 CASE WHEN fit IS NULL THEN list_append(caps, $Budget - n_tokens)
                      ELSE list_transform(generate_series(1, len(caps)),
                             j -> CASE WHEN j = fit THEN caps[j] - n_tokens ELSE caps[j] END)
                 END AS caps,
                 doc_id, n_tokens,
                 coalesce(fit, len(caps) + 1) AS bin
          FROM (
            SELECT i.salt, i.rn, f.caps, i.doc_id, i.n_tokens,
                   list_min(list_filter(
                     list_transform(generate_series(1, len(f.caps)),
                                    j -> CASE WHEN f.caps[j] >= i.n_tokens THEN j END),
                     x -> x IS NOT NULL)) AS fit
            FROM ffd f JOIN items i ON i.salt = f.salt AND i.rn = f.rn + 1))
        SELECT (salt * 1000000 + bin)::BIGINT AS pack_id,
               count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS pack_tokens,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM ffd WHERE rn > 0
        GROUP BY 1""")),

    // ------------------------------------------------ corpus curation
    // quality gate (min length) → exact dedup (keep min doc_id per
    // normalized-text hash) → near-dup removal (drop the RIGHT side of
    // every verified MinHash-LSH pair, left side survives). Keep/drop
    // sets apply as semi/anti joins; the pair set reuses the
    // dd_minhash_lsh pipeline (native shingle/minhash kernels).
    QueryDef(
      "tp_curate",
      (spark, dir) => {
        val cleaned = Tables.documents(spark, dir)
          .selectExpr(cleanCols: _*)
          .selectExpr("doc_id", "lang", "length(tc) AS char_len", "md5(tc) AS th")
        val quality = cleaned.where("char_len >= 50")
        val exactKeep = quality.groupBy("th")
          .agg(expr("min(doc_id) AS doc_id"))
          .select("doc_id")
        val nearDupDrop = Dedup.minhashPairs(spark, dir)
          .select(col("doc_b").as("doc_id")).distinct()
        quality
          .join(exactKeep, Seq("doc_id"), "left_semi")
          .join(nearDupDrop, Seq("doc_id"), "left_anti")
          .selectExpr("doc_id", "lang", "cast(char_len AS bigint) AS char_len")
      },
      Some(s"""
        WITH cleaned AS (
          SELECT doc_id, lang, length(tc) AS char_len, md5(tc) AS th
          FROM (SELECT doc_id, lang, ${Fns.cleanTextDuck("text")} AS tc
                FROM documents)
        ),
        quality AS (SELECT * FROM cleaned WHERE char_len >= 50),
        exact_keep AS (SELECT min(doc_id) AS doc_id FROM quality GROUP BY th),
        near_dup_drop AS (
          SELECT DISTINCT doc_b AS doc_id
          FROM (${Dedup.minhashPairsSql}) p
        )
        SELECT q.doc_id, q.lang, q.char_len::BIGINT AS char_len
        FROM quality q
        JOIN exact_keep k ON q.doc_id = k.doc_id
        WHERE q.doc_id NOT IN (SELECT doc_id FROM near_dup_drop)""")),

    // --------------------------------- cluster-correct corpus curation
    // tp_curate drops the RIGHT side of each verified pair — simple, but
    // when dups chain through a middle doc (edges (3,5),(2,5): 2 and 3
    // never compared directly) it keeps several docs of one duplicate
    // CLUSTER. This variant drops every non-keeper of each connected
    // component instead: exactly one survivor per cluster, the min
    // doc_id. Same semi/anti-join application; the component pass adds
    // O(diameter) rounds over the (tiny) pair graph only.
    QueryDef(
      "tp_curate_cluster",
      (spark, dir) => {
        val cleaned = Tables.documents(spark, dir)
          .selectExpr(cleanCols: _*)
          .selectExpr("doc_id", "lang", "length(tc) AS char_len", "md5(tc) AS th")
        val quality = cleaned.where("char_len >= 50")
        val exactKeep = quality.groupBy("th")
          .agg(expr("min(doc_id) AS doc_id"))
          .select("doc_id")
        val clusterDrop = connectedComponents(
            Dedup.minhashPairs(spark, dir).select("doc_a", "doc_b"))
          .where("doc_id != component")
          .select("doc_id")
        quality
          .join(exactKeep, Seq("doc_id"), "left_semi")
          .join(clusterDrop, Seq("doc_id"), "left_anti")
          .selectExpr("doc_id", "lang", "cast(char_len AS bigint) AS char_len")
      },
      Some(s"""
        WITH RECURSIVE cleaned AS (
          SELECT doc_id, lang, length(tc) AS char_len, md5(tc) AS th
          FROM (SELECT doc_id, lang, ${Fns.cleanTextDuck("text")} AS tc
                FROM documents)
        ),
        quality AS (SELECT * FROM cleaned WHERE char_len >= 50),
        exact_keep AS (SELECT min(doc_id) AS doc_id FROM quality GROUP BY th),
        pairs AS (
          SELECT doc_a, doc_b
          FROM (${Dedup.minhashPairsSql}) p
        ),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs
        ),
        reach(v, r) AS (
          SELECT a, a FROM edges
          UNION
          SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.v
        ),
        cluster_drop AS (
          SELECT v AS doc_id FROM reach GROUP BY v HAVING v != min(r)
        )
        SELECT q.doc_id, q.lang, q.char_len::BIGINT AS char_len
        FROM quality q
        JOIN exact_keep k ON q.doc_id = k.doc_id
        WHERE q.doc_id NOT IN (SELECT doc_id FROM cluster_drop)""")),

    // ------------------------------------- duplicate-cluster resolution
    // Near-dup pairs form a graph; the keep-one-per-cluster decision
    // needs its CONNECTED COMPONENTS (pair-at-a-time dropping keeps one
    // doc per EDGE, not per cluster). Spark side: min-label propagation
    // — each round every vertex takes the min label among itself and
    // its neighbors; converges in O(component diameter) rounds, each
    // round one join + one aggregation, labels persisted per round so
    // lineage stays flat. This is the BSP shape that scales (transitive
    // closure does not). Oracle: DuckDB recursive-CTE reachability —
    // a different algorithm, same unique fixpoint (min doc_id per
    // component), which makes the cross-check meaningful.
    QueryDef(
      "dd_cluster",
      (spark, dir) => {
        val pairs = Dedup.minhashPairs(spark, dir).select("doc_a", "doc_b")
        connectedComponents(pairs)
          .selectExpr("doc_id", "component",
            "CASE WHEN doc_id = component THEN 1L ELSE 0L END AS keeper")
      },
      Some(s"""
        WITH RECURSIVE pairs AS (
          SELECT doc_a, doc_b
          FROM (${Dedup.minhashPairsSql}) p
        ),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs
        ),
        reach(v, r) AS (
          SELECT a, a FROM edges
          UNION
          SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.v
        )
        SELECT v AS doc_id, min(r) AS component,
               CASE WHEN v = min(r) THEN 1 ELSE 0 END::BIGINT AS keeper
        FROM reach GROUP BY v""")),

    // --------------------------------- duplicate-cluster size profile
    // The shape of the duplication problem, not just its members: how
    // many dup clusters exist at each size (count-of-counts over the
    // connected components) plus the rows removable by cluster-correct
    // dedup (size − 1 survivors each). Two tiny aggregations over the
    // component labels dd_cluster already computes; the DuckDB oracle
    // re-derives components through its own recursive CTE.
    QueryDef(
      "dd_cluster_sizes",
      (spark, dir) => {
        val pairs = Dedup.minhashPairs(spark, dir).select("doc_a", "doc_b")
        connectedComponents(pairs)
          .groupBy("component")
          .agg(expr("cast(count(*) AS bigint) AS cluster_size"))
          .groupBy("cluster_size")
          .agg(
            expr("cast(count(*) AS bigint) AS n_clusters"),
            expr("cast(sum(cluster_size - 1) AS bigint) AS removable_docs"))
      },
      Some(s"""
        WITH RECURSIVE pairs AS (
          SELECT doc_a, doc_b
          FROM (${Dedup.minhashPairsSql}) p
        ),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs
        ),
        reach(v, r) AS (
          SELECT a, a FROM edges
          UNION
          SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.v
        ),
        comp AS (SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v),
        sizes AS (SELECT component, count(*)::BIGINT AS cluster_size
                  FROM comp GROUP BY component)
        SELECT cluster_size, count(*)::BIGINT AS n_clusters,
               sum(cluster_size - 1)::BIGINT AS removable_docs
        FROM sizes GROUP BY cluster_size""")),

    // --------------------------------------- benchmark contamination check
    // The eval-overlap gate every training corpus needs: documents whose
    // word-4-gram shingles overlap a held-out benchmark split leak eval
    // data into training. The split is the md5 hash bucket (~2% of
    // docs — deterministic, like tp_sample_stratified); each train doc
    // reports |shingles ∩ benchmark| / |shingles|.
    //
    // 100 TB shape: benchmarks are TINY relative to the corpus, so the
    // distinct benchmark shingle set BROADCASTS and the corpus-side
    // plan is scan → explode → broadcast hash join → partial-aggregated
    // groupBy(doc_id) — the corpus shuffles only (doc_id, count)
    // partials, never the shingle sets. Shingles reuse the SAME persisted
    // `shingleHashes` fold as the dedup family (CacheManager shares the
    // entry), and the df-cap problem doesn't arise: the join is against
    // the benchmark set, not a postings self-join.
    QueryDef(
      "tp_contamination",
      (spark, dir) => {
        val sh = Dedup.shingleHashes(spark, dir)
        val isEval =
          "pmod(cast(conv(substring(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint), 50) = 0"
        val evalSet = sh.where(isEval).selectExpr("explode(hs) AS h").distinct()
        val train = sh.where(s"NOT ($isEval)")
        val hits = train.selectExpr("doc_id", "explode(hs) AS h")
          .join(broadcast(evalSet), "h")
          .groupBy("doc_id")
          .agg(expr("count(*) AS hit_shingles")) // hs is distinct per doc ⇒ count = |∩|
        train.selectExpr("doc_id", "cast(size(hs) AS bigint) AS n_shingles")
          .join(hits, "doc_id")
          .selectExpr("doc_id", "n_shingles", "hit_shingles",
            "round(cast(hit_shingles AS double) / cast(n_shingles AS double), 6) AS contamination")
      },
      Some(s"""
        WITH sh AS (${Dedup.shingleHashesSql}),
        ev AS (
          SELECT DISTINCT unnest(hs) AS h FROM sh
          WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 50 = 0),
        train AS (
          SELECT * FROM sh
          WHERE NOT (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 50 = 0)),
        hits AS (
          SELECT t.doc_id, count(*) AS hit_shingles
          FROM (SELECT doc_id, unnest(hs) AS h FROM train) t
          JOIN ev USING (h)
          GROUP BY 1)
        SELECT t.doc_id, len(t.hs)::BIGINT AS n_shingles, h.hit_shingles,
               round(h.hit_shingles::DOUBLE / len(t.hs)::DOUBLE, 6) AS contamination
        FROM train t JOIN hits h ON t.doc_id = h.doc_id""")),

    // --------------------------------------- bottom-k (KMV) sample sketch
    // The mergeable uniform sample: keep the k documents with the
    // SMALLEST key hashes. Deterministic (pure function of the key set),
    // mergeable across partitions/days (union → re-take bottom k — how a
    // 100 TB pipeline maintains a standing corpus sample), and the k-th
    // smallest hash doubles as a KMV distinct-count estimator:
    // D̂ = (k−1)·2⁶⁰/h₍ₖ₎. Plan: TakeOrderedAndProject, never a global
    // sort; the estimate joins back as a broadcast scalar.
    QueryDef(
      "tp_sample_bottomk",
      (spark, dir) => {
        val k = 64
        val s = Tables.documents(spark, dir)
          .selectExpr("doc_id", "lang",
            "cast(conv(substring(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint) AS h")
          .orderBy(col("h"), col("doc_id"))
          .limit(k)
        val hk = s.groupBy().agg(expr("max(h) AS h_k"))
        s.crossJoin(broadcast(hk))
          .selectExpr("doc_id", "lang", "h",
            s"round(cast(${k - 1} AS double) * pow(2D, 60D) / cast(h_k AS double), 6) AS distinct_est")
      },
      Some("""
        WITH s AS (
          SELECT doc_id, lang, ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
          FROM documents
          ORDER BY h, doc_id
          LIMIT 64)
        SELECT doc_id, lang, h,
               round(63.0 * pow(2, 60) / (SELECT max(h) FROM s)::DOUBLE, 6) AS distinct_est
        FROM s""")),

    // --------------------------------------------- per-source caps
    // The anti-domination rule of web-corpus curation (one crawl domain
    // must not swamp the mix): keep at most K documents per source,
    // preferring longer documents, ties broken by doc_id. Runs through
    // the typed bounded-heap TopKAggregator — per-key state never
    // exceeds K rows and partial-merges map-side, so a source with 10⁹
    // documents shuffles K rows, not 10⁹ (the rank-window form sorts
    // the whole source). Same machinery as batch kNN (v3_knn_batch_agg),
    // keyed by source name; oracle = the rank-window formulation.
    QueryDef(
      "tp_source_cap",
      (spark, dir) => {
        import spark.implicits._
        val rows = Tables.documents(spark, dir)
          .selectExpr("source", "doc_id", "cast(n_chars AS double) AS score")
          .as[(String, Long, Double)]
        TopK.topKByStringKey(rows, 10)
          .toDF("source", "rank", "doc_id", "score")
          .selectExpr("source", "rank", "doc_id", "cast(score AS bigint) AS n_chars")
      },
      Some("""
        SELECT source, rank, doc_id, n_chars
        FROM (
          SELECT source, doc_id, n_chars,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n_chars DESC, doc_id)::BIGINT AS rank
          FROM documents)
        WHERE rank <= 10""")),

    // ----------------------------------------- source-mix weighted sampling
    // The corpus-mixing knob of a training run: each language stratum
    // samples at its own target rate (per-mille, inlined literally in
    // both engines). Membership is pure md5-bucket arithmetic on the
    // key — the filter evaluates INSIDE the scan (zero shuffle, zero
    // state), re-runs and stragglers sample identically, and re-weighting
    // a 100 TB corpus is a config change, not a repartition. This is
    // tp_sample_stratified generalized from one global rate to a
    // per-stratum rate map.
    QueryDef(
      "tp_mix_weights",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id", "lang", "n_chars",
            "coalesce(element_at(map('en', 1000, 'zh', 500, 'de', 250, 'fr', 250, 'es', 125), lang), 0) AS rate_pm")
          .where("pmod(cast(conv(substring(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint), 1000) < rate_pm")
          .selectExpr("doc_id", "lang", "n_chars", "cast(rate_pm AS bigint) AS rate_pm"),
      Some("""
        SELECT doc_id, lang, n_chars,
               (CASE lang WHEN 'en' THEN 1000 WHEN 'zh' THEN 500 WHEN 'de' THEN 250
                          WHEN 'fr' THEN 250 WHEN 'es' THEN 125 ELSE 0 END)::BIGINT AS rate_pm
        FROM documents
        WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000 <
              CASE lang WHEN 'en' THEN 1000 WHEN 'zh' THEN 500 WHEN 'de' THEN 250
                        WHEN 'fr' THEN 250 WHEN 'es' THEN 125 ELSE 0 END""")),

    // ------------------------ per-document weighted sampling (quality-aware)
    // tp_mix_weights samples per LANGUAGE; this samples per DOCUMENT
    // with a weight derived from the doc itself — longer documents keep
    // with higher probability (clamped to [100, 1000] permille), the
    // "prefer substantive documents" curation knob. Deterministic
    // Bernoulli: keep iff md5-bucket(doc_id) < own weight — retry- and
    // engine-stable, evaluates inside the scan with zero shuffle before
    // the per-lang accounting aggregate. The realized keep rate per
    // lang is emitted next to the expected weight mass so a sampler
    // drift is visible in the row itself.
    QueryDef(
      "tp_sample_weighted",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id", "lang", "n_chars",
            "least(1000L, greatest(100L, n_chars div 2)) AS w_pm",
            "pmod(cast(conv(substring(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint), 1000) AS bucket")
          .groupBy("lang")
          .agg(
            expr("cast(count(*) AS bigint) AS n_total"),
            expr("cast(sum(w_pm) AS bigint) AS weight_mass_pm"),
            expr("cast(sum(CASE WHEN bucket < w_pm THEN 1 ELSE 0 END) AS bigint) AS n_kept"),
            expr("cast(sum(CASE WHEN bucket < w_pm THEN n_chars ELSE 0 END) AS bigint) AS kept_chars"),
            expr("cast(sum(CASE WHEN bucket < w_pm THEN doc_id ELSE 0 END) AS bigint) AS kept_id_sum")),
      Some("""
        SELECT lang, count(*)::BIGINT AS n_total,
               sum(w_pm)::BIGINT AS weight_mass_pm,
               sum(CASE WHEN bucket < w_pm THEN 1 ELSE 0 END)::BIGINT AS n_kept,
               sum(CASE WHEN bucket < w_pm THEN n_chars ELSE 0 END)::BIGINT AS kept_chars,
               sum(CASE WHEN bucket < w_pm THEN doc_id ELSE 0 END)::BIGINT AS kept_id_sum
        FROM (
          SELECT doc_id, lang, n_chars,
                 least(1000, greatest(100, n_chars // 2)) AS w_pm,
                 ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000 AS bucket
          FROM documents)
        GROUP BY lang""")),

    // ------------------------------------------- SemDeDup-style pruning
    // Semantic deduplication over the embedding space (Abbas et al.
    // 2023, "SemDeDup"): cluster the corpus, then within each cluster
    // drop every vector that has a LOWER-id neighbor at cosine ≥ θ —
    // one survivor per tight semantic neighborhood, decided purely
    // locally (no transitive closure needed: the min-id member of any
    // similar group has no lower-id neighbor and always survives).
    //
    // Scale shape: assignment is the exchange-free broadcast-argmax
    // from the IVF path (Knn.assignToCentroids — zero corpus shuffle);
    // the candidate pair space is ONE self-join keyed on cluster_id.
    // The quadratic term is bounded per cluster, and in a real deploy
    // k grows with the corpus (SemDeDup uses k ≈ n/⟨cluster⟩) so
    // cluster populations — and therefore per-task pair counts — stay
    // constant as the corpus scales. θ is the pruning-aggressiveness
    // knob the paper sweeps; 0.3 here is tuned to the synthetic
    // corpus's similarity range (within-cluster cosines top out ≈0.45)
    // so the gate row exercises a non-trivial drop set.
    QueryDef(
      "tp_semdedup",
      (spark, dir) => {
        val (assigned, drops) = semanticAssignAndDrops(spark, dir)
        assigned.join(drops.withColumn("hit", lit(true)), Seq("vec_id"), "left")
          .selectExpr("vec_id", "cluster_id", "(hit IS NULL) AS kept")
      },
      Some(semDedupOracleSql)),

    // --------------------------------------- deterministic corpus split
    // Train/validation/test assignment as pure key arithmetic: the
    // md5 bucket of doc_id places each document in exactly one split
    // (80/10/10), so membership is reproducible across runs, engines,
    // retries, and incremental re-ingests — no rand(), no global sort,
    // no state. At 100 TB the split predicate evaluates inside the
    // scan; the only aggregation is the per-split accounting emitted
    // here (docs, chars, BPE-ish token budget per split × lang).
    QueryDef(
      "tp_split",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id", "lang", "n_chars",
            "pmod(cast(conv(substring(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint), 100) AS b")
          .selectExpr("doc_id", "lang", "n_chars",
            "CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split")
          .groupBy("split", "lang")
          .agg(
            expr("cast(count(*) AS bigint) AS n_docs"),
            expr("cast(sum(n_chars) AS bigint) AS sum_chars"),
            expr("cast(sum((n_chars + 3) div 4) AS bigint) AS sum_tokens"),
            expr("min(doc_id) AS first_doc")),
      Some("""
        SELECT split, lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
               sum((n_chars + 3) // 4)::BIGINT AS sum_tokens, min(doc_id) AS first_doc
        FROM (
          SELECT doc_id, lang, n_chars,
                 CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split
          FROM (SELECT doc_id, lang, n_chars,
                       ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS b
                FROM documents))
        GROUP BY split, lang""")),

    // -------------------------- deterministic shard shuffle (epoch order)
    // The last step of every pretraining data run: a reproducible
    // GLOBAL shuffle of the corpus into N balanced shards with a dense
    // per-shard position — the order the trainer will stream. The
    // permutation is pure key arithmetic (md5 of a salted doc_id), so
    // it is identical across runs/engines/retries; shard = hash mod N
    // balances in expectation, and pos comes from a row_number window
    // PARTITIONED BY SHARD — N independent, parallel sorts of ~1/N of
    // the corpus each, never a global single-partition order (the
    // anti-pattern s5_store_entries documents). At 1000 executors you
    // raise N to a multiple of the cluster parallelism and write with
    // partitionBy(shard) sortWithinPartitions(pos); the plan shape is
    // unchanged.
    QueryDef(
      "tp_shard_shuffle",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id", "n_chars",
            "cast(conv(substring(md5(concat('shuf:', cast(doc_id AS string))), 1, 15), 16, 10) AS bigint) AS h")
          .selectExpr("doc_id", "n_chars", "h", "pmod(h, 8) AS shard")
          .withColumn("pos", expr("row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)"))
          .selectExpr("shard", "cast(pos AS bigint) AS pos", "doc_id", "n_chars"),
      Some("""
        SELECT h % 8 AS shard,
               row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)::BIGINT AS pos,
               doc_id, n_chars
        FROM (SELECT doc_id, n_chars,
                     ('0x' || substr(md5('shuf:' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
              FROM documents)""")),

    // ----------------------- BPE vocabulary induction (tokenizer train)
    // The missing tokenizer-side operator: learn the first 10 BPE
    // merges from the corpus itself, exactly the way production BPE
    // trainers (HF tokenizers, SentencePiece) do it — NOT over raw
    // text, but over the WORD-FREQUENCY TABLE. That one factoring is
    // the whole scale story: one distributed word-count pass reads the
    // corpus, and the merge rounds then run on the driver over the
    // collected word-type table ([[bpeLearn]]), bounded by distinct
    // words, not corpus bytes — at 100 TB the vocab is millions of
    // rows while the corpus is trillions of tokens. Each round:
    // adjacent-symbol pairs counted from the per-word symbol sequences
    // weighted by word count, the most frequent pair wins (ties by
    // symbol order, UTF-8 binary in both engines), and every word
    // merges it via a single string replace. Symbol sequences are
    // stored pipe-TERMINATED ('a|b|c|') so the merge pattern 'a|b|'
    // owns its trailing separator: replacements never share a boundary
    // character, which makes leftmost-nonoverlapping replace IDENTICAL
    // to greedy BPE merging in both engines (validated: 'a|b|a|b|' →
    // 'ab|ab|', 'a|a|a|' → 'aa|a|'). Output: the 10 learned merges
    // with their counts plus the post-merge corpus token total — the
    // artifact a tokenizer run ships.
    QueryDef(
      "tp_bpe_train",
      (spark, dir) => {
        import spark.implicits._
        val model = bpeLearned(spark, dir)
        (model.merges.zipWithIndex.map { case ((a, b, cnt), i) => (i + 1L, a, b, a + b, cnt) } :+
          ((-1L, "(tokens)", "", "", model.tokens)))
          .toDF("round", "a", "b", "merged", "cnt")
      },
      Some(s"""$bpeOracleLearn
        ${(1 to BpeRounds).map(r => s"SELECT ${r}::BIGINT AS round, a, b, a || b AS merged, cnt FROM t$r").mkString("\n        UNION ALL\n        ")}
        UNION ALL
        SELECT -1::BIGINT, '(tokens)', '', '',
               sum(wc * len(list_filter(string_split(seq, '|'), x -> x != '')))::BIGINT
        FROM v$BpeRounds"""),
      resetMemo = Some(bpeLearned.reset _)),

    // ------------------------------ BPE encode with the learned merges
    // The tokenizer lifecycle's second half: take tp_bpe_train's 10
    // learned merges (read straight off the memoized driver-side model
    // — the pair trains once per session) and ENCODE the corpus with
    // them, the way a tokenizer ships. The merge table is 10 pairs, so
    // application is a single scan-local projection: each document
    // becomes its per-word pipe-terminated symbol string and the 10
    // replaces compose as one nested codegen'd expression — no joins,
    // no shuffles, nothing corpus-sized past the scan. Token counts
    // fall out as '|' occurrences (every symbol owns exactly one
    // terminator). Output per doc: pre-merge symbol count, post-merge
    // BPE token count, and the integer-ppm compression — the
    // before/after a tokenizer rollout is judged on.
    QueryDef(
      "tp_bpe_apply",
      (spark, dir) => {
        def esc(s: String) =
          "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
        val rep0 = "concat_ws(' ', transform(filter(split(tc, ' '), x -> x != ''), " +
          "w -> concat(array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), '|'), '|')))"
        val repN = bpeLearned(spark, dir).merges.foldLeft(rep0) { case (acc, (a, b, _)) =>
          s"replace($acc, ${esc(a + "|" + b + "|")}, ${esc(a + b + "|")})"
        }
        Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("doc_id",
            s"cast(length($rep0) - length(replace($rep0, '|', '')) AS bigint) AS n_syms",
            s"cast(length($repN) - length(replace($repN, '|', '')) AS bigint) AS n_tokens")
          .selectExpr("doc_id", "n_syms", "n_tokens",
            "CASE WHEN n_syms = 0 THEN 0L ELSE (n_syms - n_tokens) * 1000000L div n_syms END AS saved_ppm")
      },
      Some {
        val reps = (1 to BpeRounds).map { r => s"""
        r$r AS MATERIALIZED (
          SELECT doc_id, n_syms, replace(rep, a || '|' || b || '|', a || b || '|') AS rep
          FROM r${r - 1}, t$r)"""
        }.mkString(",")
        s"""$bpeOracleLearn,
        r0 AS MATERIALIZED (
          SELECT doc_id,
                 (length(rep) - length(replace(rep, '|', '')))::BIGINT AS n_syms, rep
          FROM (
            SELECT doc_id,
                   array_to_string(list_transform(
                     list_filter(string_split(${Fns.cleanTextDuck("text")}, ' '), x -> x != ''),
                     w -> array_to_string(list_transform(generate_series(1, length(w)), i -> w[i]), '|') || '|'), ' ') AS rep
            FROM documents)),
        $reps
        SELECT doc_id, n_syms,
               (length(rep) - length(replace(rep, '|', '')))::BIGINT AS n_tokens,
               CASE WHEN n_syms = 0 THEN 0
                    ELSE (n_syms - (length(rep) - length(replace(rep, '|', '')))) * 1000000 // n_syms
               END::BIGINT AS saved_ppm
        FROM r$BpeRounds"""
      }),

    // --------------------------------- full semantic curation pipeline
    // The end-to-end shape a modern LLM-pretraining corpus run takes,
    // as ONE declarative plan: fluency gate (corpus-trained bigram-LM
    // score ≥ floor, ta_lm_score's integer arithmetic) → exact dedup
    // (min-doc_id per normalized-text hash) → SemDeDup semantic prune
    // (tp_semdedup's corpus-wide drop set, embeddings keyed by doc id)
    // → deterministic train/valid/test split with per-split×lang token
    // accounting. Every stage is a proven gate row; this query is their
    // composition, so the oracle re-derives all four stages in SQL.
    //
    // Scale shape: the gate and dedup are hash aggregations; the drop
    // set applies as a LEFT ANTI join (tiny relative to the corpus —
    // broadcast in practice); split accounting is pure key arithmetic
    // inside the scan. Nothing here materializes more than the
    // surviving keep-set plus vocab-bounded LM count tables.
    QueryDef(
      "tp_curate_semantic",
      (spark, dir) => {
        val fluent = TextOps.queries.find(_.name == "ta_lm_score").get
          .run(spark, dir)
          .where(s"avg_ppm >= $LmFloor").select("doc_id")
        val docs = Tables.documents(spark, dir).selectExpr(cleanCols: _*)
        val keepers = docs.join(fluent, "doc_id")
          .groupBy(expr("md5(tc) AS th"))
          .agg(expr("min(doc_id) AS doc_id"))
          .select("doc_id")
        val (_, drops) = semanticAssignAndDrops(spark, dir)
        val kept = keepers.join(drops.selectExpr("vec_id AS doc_id"),
          Seq("doc_id"), "left_anti")
        kept.join(Tables.documents(spark, dir).selectExpr("doc_id", "lang", "n_chars"), "doc_id")
          .selectExpr("doc_id", "lang", "n_chars",
            "pmod(cast(conv(substring(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint), 100) AS b")
          .selectExpr("doc_id", "lang", "n_chars",
            "CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split")
          .groupBy("split", "lang")
          .agg(
            expr("cast(count(*) AS bigint) AS n_docs"),
            expr("cast(sum((n_chars + 3) div 4) AS bigint) AS sum_tokens"),
            expr("min(doc_id) AS first_doc"),
            expr("max(doc_id) AS last_doc"))
      },
      Some(s"""
        WITH c AS (
          SELECT doc_id, lang, n_chars,
                 ${Fns.cleanTextDuck("text")} AS tc
          FROM documents),
        t AS (SELECT doc_id, string_split(tc, ' ') AS toks FROM c),
        uni AS (SELECT unnest(toks) AS w FROM t),
        vocab AS (SELECT count(DISTINCT w) AS v FROM uni),
        cu AS (SELECT w, count(*)::BIGINT AS cu FROM uni GROUP BY w),
        bg AS (
          SELECT doc_id, b['w1'] AS w1, b['w2'] AS w2
          FROM (SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(toks) - 1),
                                             i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS b
                FROM t)),
        cb AS (SELECT w1, w2, count(*)::BIGINT AS cb FROM bg GROUP BY w1, w2),
        lm AS (
          SELECT doc_id, (sum(ppm)::BIGINT // count(*)::BIGINT) AS avg_ppm
          FROM (SELECT bg.doc_id, ((cb.cb + 1) * 1000000) // (cu.cu + vocab.v) AS ppm
                FROM bg JOIN cb ON bg.w1 = cb.w1 AND bg.w2 = cb.w2
                        JOIN cu ON bg.w1 = cu.w
                        CROSS JOIN vocab)
          GROUP BY doc_id),
        fluent AS (SELECT doc_id FROM lm WHERE avg_ppm >= $LmFloor),
        keepers AS (
          SELECT min(doc_id) AS doc_id
          FROM c JOIN fluent USING (doc_id)
          GROUP BY md5(tc)),
        cent AS (SELECT vec_id AS cent_id, embedding AS cent_emb
                 FROM embeddings WHERE vec_id < 8),
        assigned AS (
          SELECT vec_id, embedding, cent_id AS cluster_id
          FROM (
            SELECT e.vec_id, e.embedding, cn.cent_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY ${Knn.dCos("e.embedding", "cn.cent_emb")} DESC, cn.cent_id) AS rn
            FROM embeddings e, cent cn)
          WHERE rn = 1),
        drops AS (
          SELECT DISTINCT b.vec_id
          FROM assigned a JOIN assigned b
            ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
          WHERE ${Knn.dCos("a.embedding", "b.embedding")} >= $SemTheta),
        kept AS (
          SELECT k.doc_id FROM keepers k
          LEFT JOIN drops d ON k.doc_id = d.vec_id
          WHERE d.vec_id IS NULL)
        SELECT split, lang, count(*) AS n_docs,
               sum((n_chars + 3) // 4)::BIGINT AS sum_tokens,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM (
          SELECT c.doc_id, c.lang, c.n_chars,
                 CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'valid' ELSE 'test' END AS split
          FROM (SELECT doc_id, lang, n_chars,
                       ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS bk
                FROM c) c JOIN kept USING (doc_id))
        GROUP BY split, lang""")),

    // -------------------- curation over cell-blocked exact pair mining
    // The dd_embed_simpairs miner (triangle cell blocking — bounded
    // per-task pair space, bit-identical to all-pairs) feeding the
    // curation capstone's anti-join: drop the HIGHER-id side of every
    // mined pair, keep the rest, report membership-sensitive per-label
    // survivor stats (sum/min/max make any wrong drop set break the
    // hash). A label's MINIMUM vec_id can never be dropped (vec_b >
    // vec_a always), so every label keeps ≥ 1 vector and the totals
    // join is safely inner. CurationSpec pins that this composition
    // over the BLOCKED miner equals the same pipeline over the
    // unblocked all-pairs ground truth at a multi-cell-forcing cap.
    // Scale shape: the pair miner is the audited bounded-quadratic; the
    // drop set applies as one anti-join on vec_id and the stats are
    // plain per-label aggregates — nothing new shuffles beyond them.
    QueryDef(
      "tp_curate_pairs",
      (spark, dir) => {
        val drop = Dedup.embedSimPairsBlocked(spark, dir)
          .select(col("vec_b").as("vec_id")).distinct()
        val e = Tables.embeddings(spark, dir)
          .selectExpr("cast(label AS int) AS label", "vec_id")
        val totals = e.groupBy("label")
          .agg(expr("cast(count(*) AS bigint) AS n_total"))
        e.join(drop, Seq("vec_id"), "left_anti")
          .groupBy("label")
          .agg(
            expr("cast(count(*) AS bigint) AS n_kept"),
            expr("cast(sum(vec_id) AS bigint) AS kept_sum"),
            expr("cast(min(vec_id) AS bigint) AS kept_min"),
            expr("cast(max(vec_id) AS bigint) AS kept_max"))
          .join(totals, Seq("label"))
          .selectExpr("label", "n_total", "n_kept",
            "n_total - n_kept AS n_dropped", "kept_sum", "kept_min", "kept_max")
      },
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
        ),
        pairs AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 list_sum(list_transform(generate_series(1, len(a.emb_n)), i -> a.emb_n[i] * b.emb_n[i])) AS cos
          FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
        dropped AS (SELECT DISTINCT vec_b AS vec_id FROM pairs WHERE cos >= ${Dedup.CosineThreshold}),
        kept AS (
          SELECT label, vec_id FROM embeddings
          WHERE vec_id NOT IN (SELECT vec_id FROM dropped)),
        tot AS (SELECT label, count(*)::BIGINT AS n_total FROM embeddings GROUP BY label),
        k AS (SELECT label, count(*)::BIGINT AS n_kept, sum(vec_id)::BIGINT AS kept_sum,
                     min(vec_id)::BIGINT AS kept_min, max(vec_id)::BIGINT AS kept_max
              FROM kept GROUP BY label)
        SELECT t.label, n_total, n_kept, (n_total - n_kept)::BIGINT AS n_dropped,
               kept_sum, kept_min, kept_max
        FROM tot t JOIN k USING (label)""")),

    // --------------------- classifier-gated curation (the learned gate)
    // The DCLM/FineWeb-style pipeline composition: the TRAINED quality
    // classifier (graft.operators.Ml) is the first gate — documents the
    // model predicts as boilerplate-class (margin > 0) drop — then the
    // survivors exact-dedup on normalized text, with per-language
    // attrition accounting. This closes the loop on ml_train_linear:
    // the learned model is not a demo artifact, it FILTERS the corpus
    // the way a fastText gate filters CommonCrawl. Scale shape: the
    // gate is the broadcast-model margin pass (see ml_score_docs), the
    // dedup is one md5-keyed aggregate, accounting is per-lang
    // partial-aggregated counts joined on the tiny lang key.
    QueryDef(
      "tp_curate_clf",
      (spark, dir) => {
        val keep = graft.operators.Ml.trainChain(spark, dir)._3.last
          .where("m <= 0").select("doc_id")
        val cleaned = Tables.documents(spark, dir)
          .selectExpr(cleanCols: _*)
          .selectExpr("doc_id", "lang", "length(tc) AS char_len", "md5(tc) AS th")
        val kept = cleaned.join(keep, Seq("doc_id"), "left_semi")
        val exactKeep = kept.groupBy("th").agg(expr("min(doc_id) AS doc_id")).select("doc_id")
        val surv = kept.join(exactKeep, Seq("doc_id"), "left_semi")
        val inAgg = cleaned.groupBy("lang")
          .agg(expr("cast(count(*) AS bigint) AS n_input"))
        val clfAgg = kept.groupBy("lang")
          .agg(expr("cast(count(*) AS bigint) AS n_after_clf"))
        val dedupAgg = surv.groupBy("lang")
          .agg(expr("cast(count(*) AS bigint) AS n_after_dedup"),
            expr("cast(sum(char_len) AS bigint) AS chars_after_dedup"))
        inAgg.join(clfAgg, "lang").join(dedupAgg, "lang")
      },
      Some(s"""
        WITH sc AS (SELECT doc_id FROM (${graft.operators.Ml.scoreOracleSql}) WHERE margin <= 0),
        cleaned AS (
          SELECT doc_id, lang, length(tc) AS char_len, md5(tc) AS th
          FROM (SELECT doc_id, lang, ${Fns.cleanTextDuck("text")} AS tc
                FROM documents)),
        kept AS (SELECT c.* FROM cleaned c JOIN sc USING (doc_id)),
        ek AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY th),
        surv AS (SELECT k.* FROM kept k JOIN ek ON k.doc_id = ek.doc_id),
        a AS (SELECT lang, count(*)::BIGINT AS n_input FROM cleaned GROUP BY lang),
        b AS (SELECT lang, count(*)::BIGINT AS n_after_clf FROM kept GROUP BY lang),
        c AS (SELECT lang, count(*)::BIGINT AS n_after_dedup,
                     sum(char_len)::BIGINT AS chars_after_dedup
              FROM surv GROUP BY lang)
        SELECT a.lang, n_input, n_after_clf, n_after_dedup, chars_after_dedup
        FROM a JOIN b USING (lang) JOIN c USING (lang)""")),

    // -------------------- contrastive training pairs (pos + hard-neg)
    // The data-prep shape contrastive embedding training (SimCSE/E5
    // style) needs from a raw corpus: POSITIVE pairs = the verified
    // near-duplicate edges (documents that genuinely say the same
    // thing), and for each anchor a deterministic NEGATIVE partner
    // drawn by hashing the anchor id to a RANK in the actual doc-id
    // set (md5-derived, so both engines draw the identical partner) —
    // rank-based, so the draw space is every real document even when
    // ids are sparse or shifted, not a density assumption. Accidental
    // positives are removed by an anti-join against the near-dup edge
    // set (both orientations) and self-draws dropped. Scale shape:
    // positives reuse the persisted pair set; the rank table comes
    // from [[rankedDocIds]] (bucketed two-phase ranking, no global
    // window), and the draw resolves by broadcasting the (tiny,
    // near-dup-bounded) draw set against it — nothing corpus².
    QueryDef(
      "tp_contrastive_pairs",
      (spark, dir) => {
        val pairs = Dedup.minhashPairs(spark, dir).select("doc_a", "doc_b")
        val n = Tables.documents(spark, dir)
          .groupBy().agg(expr("cast(count(*) AS bigint) AS n_docs"))
        val anchors = pairs.select(col("doc_a").as("anchor"))
          .unionByName(pairs.select(col("doc_b").as("anchor")))
          .distinct()
        val draws = anchors
          .crossJoin(broadcast(n))
          .selectExpr("anchor",
            "pmod(cast(conv(substring(md5(cast(anchor AS string)), 1, 15), 16, 10) AS bigint), n_docs) AS prk")
        // no broadcast hint: draws is one row per near-dup anchor,
        // which on a duplicate-heavy corpus is a corpus FRACTION —
        // an equi-join on rk lets the planner shuffle when it must
        // (AQE still broadcasts it at test scale)
        val negs = rankedDocIds(Tables.documents(spark, dir))
          .join(draws, expr("rk = prk"))
          .selectExpr("anchor", "doc_id AS partner")
          .where("partner != anchor")
          .join(pairs.selectExpr("doc_a AS anchor", "doc_b AS partner"),
            Seq("anchor", "partner"), "left_anti")
          .join(pairs.selectExpr("doc_b AS anchor", "doc_a AS partner"),
            Seq("anchor", "partner"), "left_anti")
          .selectExpr("anchor", "partner", "'negative' AS label")
        pairs.selectExpr("doc_a AS anchor", "doc_b AS partner", "'positive' AS label")
          .unionByName(negs)
      },
      Some(s"""
        WITH p AS (SELECT doc_a, doc_b FROM (${Dedup.minhashPairsSql})),
        n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
        ranked AS (
          SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rk
          FROM documents),
        anchors AS (
          SELECT DISTINCT anchor FROM (
            SELECT doc_a AS anchor FROM p
            UNION ALL SELECT doc_b FROM p)),
        draws AS (
          SELECT anchor,
                 ('0x' || substr(md5(anchor::VARCHAR), 1, 15))::BIGINT % n.n_docs AS prk
          FROM anchors, n),
        negs AS (
          SELECT d.anchor, r.doc_id AS partner, 'negative' AS label
          FROM draws d JOIN ranked r ON r.rk = d.prk
          WHERE r.doc_id != d.anchor
            AND NOT EXISTS (SELECT 1 FROM p WHERE p.doc_a = d.anchor AND p.doc_b = r.doc_id)
            AND NOT EXISTS (SELECT 1 FROM p WHERE p.doc_b = d.anchor AND p.doc_a = r.doc_id))
        SELECT doc_a AS anchor, doc_b AS partner, 'positive' AS label FROM p
        UNION ALL
        SELECT anchor, partner, label FROM negs""")),

    // --------------------------- fixed-window sequence packing (trainer)
    // Third member of the packing family, and the one that matches how
    // GPT-style pretraining actually consumes data: tp_pack_tokens
    // keeps docs whole and lets a bin overflow, tp_pack_ffd keeps docs
    // whole and optimizes fill, THIS op concatenates the corpus in the
    // deterministic tp_shard_shuffle order and cuts EXACT 2048-token
    // context windows, documents spanning boundaries — no padding, no
    // overflow, every window full except each shard's last. A doc's
    // windows are pure key arithmetic on its [offset, offset + tok)
    // span — offset comes from ONE cumulative sum per shard (N
    // independent parallel windows, the tp_shard_shuffle scale story;
    // never a global single-partition sort), the span explode adds
    // ≤ ⌈tok/2048⌉ + 1 rows per doc, and the final accounting is a
    // hash aggregate bounded by corpus_tokens / 2048. Output per
    // (shard, window): docs touching it, docs starting in it, token
    // fill — the exact-fill invariant CurationSpec pins.
    QueryDef(
      "tp_pack_sequences",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id", "(n_chars + 3) div 4 AS tok",
            "cast(conv(substring(md5(concat('shuf:', cast(doc_id AS string))), 1, 15), 16, 10) AS bigint) AS h")
          .where("tok > 0")
          .selectExpr("doc_id", "tok", "h", "pmod(h, 8) AS shard")
          .withColumn("off",
            expr("sum(tok) OVER (PARTITION BY shard ORDER BY h, doc_id) - tok"))
          .selectExpr("shard", "tok", "off",
            "explode(sequence(off div 2048, (off + tok - 1) div 2048)) AS win")
          .groupBy("shard", "win")
          .agg(
            expr("cast(count(*) AS bigint) AS n_docs"),
            expr("cast(sum(CASE WHEN off >= win * 2048 THEN 1 ELSE 0 END) AS bigint) AS n_starts"),
            expr("cast(sum(least((win + 1) * 2048, off + tok) - greatest(win * 2048, off)) AS bigint) AS n_tokens")),
      Some("""
        WITH d AS (
          SELECT doc_id, (n_chars + 3) // 4 AS tok,
                 ('0x' || substr(md5('shuf:' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
          FROM documents
          WHERE (n_chars + 3) // 4 > 0),
        s AS (
          SELECT doc_id, tok, h % 8 AS shard,
                 (sum(tok) OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - tok)::BIGINT AS off
          FROM d),
        e AS (
          SELECT shard, tok, off,
                 unnest(generate_series(off // 2048, (off + tok - 1) // 2048)) AS win
          FROM s)
        SELECT shard, win, count(*)::BIGINT AS n_docs,
               sum(CASE WHEN off >= win * 2048 THEN 1 ELSE 0 END)::BIGINT AS n_starts,
               sum(least((win + 1) * 2048, off + tok) - greatest(win * 2048, off))::BIGINT AS n_tokens
        FROM e
        GROUP BY shard, win""")),

    // -------------------- attention/loss-mask boundaries for packing
    // tp_pack_sequences accounts each window; THIS emits what the
    // trainer actually loads next to the token buffer: one row per
    // (window, segment) — the document slice occupying [seg_start,
    // seg_end] within the 2048-token window, in order, with the
    // doc-start flag. Exactly the metadata document-boundary attention
    // masking and split-document loss masking consume (segments that
    // CONTINUE a document from the previous window carry
    // is_doc_start = 0). Same derivation as the packer — one md5 hash
    // order, one per-shard cumulative sum, one explode — plus a
    // row_number whose partition is a single window (≤ 2048 segments
    // by construction: every segment holds ≥ 1 token), so the rank
    // runs window-local and N-parallel, never corpus-wide.
    QueryDef(
      "tp_pack_masks",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id", "(n_chars + 3) div 4 AS tok",
            "cast(conv(substring(md5(concat('shuf:', cast(doc_id AS string))), 1, 15), 16, 10) AS bigint) AS h")
          .where("tok > 0")
          .selectExpr("doc_id", "tok", "h", "pmod(h, 8) AS shard")
          .withColumn("off",
            expr("sum(tok) OVER (PARTITION BY shard ORDER BY h, doc_id) - tok"))
          .selectExpr("doc_id", "shard", "tok", "off",
            "explode(sequence(off div 2048, (off + tok - 1) div 2048)) AS win")
          .selectExpr("shard", "win", "doc_id",
            "greatest(win * 2048, off) - win * 2048 AS seg_start",
            "least((win + 1) * 2048, off + tok) - 1 - win * 2048 AS seg_end",
            "CASE WHEN off >= win * 2048 THEN 1L ELSE 0L END AS is_doc_start")
          .selectExpr("shard", "win",
            "cast(row_number() OVER (PARTITION BY shard, win ORDER BY seg_start, doc_id) AS bigint) AS seg_idx",
            "doc_id", "seg_start", "seg_end", "is_doc_start"),
      Some("""
        WITH d AS (
          SELECT doc_id, (n_chars + 3) // 4 AS tok,
                 ('0x' || substr(md5('shuf:' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
          FROM documents
          WHERE (n_chars + 3) // 4 > 0),
        s AS (
          SELECT doc_id, tok, h % 8 AS shard,
                 (sum(tok) OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - tok)::BIGINT AS off
          FROM d),
        e AS (
          SELECT doc_id, shard, tok, off,
                 unnest(generate_series(off // 2048, (off + tok - 1) // 2048)) AS win
          FROM s)
        SELECT shard, win,
               row_number() OVER (PARTITION BY shard, win
                                  ORDER BY greatest(win * 2048, off) - win * 2048, doc_id) AS seg_idx,
               doc_id,
               (greatest(win * 2048, off) - win * 2048)::BIGINT AS seg_start,
               (least((win + 1) * 2048, off + tok) - 1 - win * 2048)::BIGINT AS seg_end,
               (CASE WHEN off >= win * 2048 THEN 1 ELSE 0 END)::BIGINT AS is_doc_start
        FROM e""")),

    // ------------------- curriculum ordering (token-budget phases)
    // Curriculum learning's data-side half: order the corpus by a
    // difficulty proxy (mean token length in exact integer ppm — long
    // words ≈ harder text; any integer score plugs in) and cut it into
    // 4 phases of EQUAL TOKEN BUDGET, so a trainer consumes phases in
    // difficulty order with each phase contributing the same compute.
    // Scale shape — the global order WITHOUT a global sort (the
    // rankedDocIds discipline): scores range-bucket into ≤ 256
    // order-preserving bands, band token totals cumulate in one
    // bounded ≤ 256-row window, within-band positions come from
    // band-partitioned windows (N-parallel), and global token position
    // = band offset + in-band cumsum — bit-identical to the oracle's
    // naive one-window global order, provable because banding
    // preserves the (score, doc_id) total order.
    QueryDef(
      "tp_curriculum",
      (spark, dir) => {
        val scored = Tables.documents(spark, dir)
          .selectExpr("doc_id", "n_chars",
            s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("doc_id", "(n_chars + 3) div 4 AS tok",
            """(cast(length(tc) AS bigint) - (cast(size(split(tc, ' ')) AS bigint) - 1))
               * 1000000 div cast(size(split(tc, ' ')) AS bigint) AS score_ppm""")
          .where("tok > 0")
          .selectExpr("doc_id", "tok", "score_ppm",
            "least(255L, score_ppm div 100000) AS band")
        val offsets = scored.groupBy("band")
          .agg(expr("cast(sum(tok) AS bigint) AS bt"))
          // ≤ 256 rows: the one place a single-partition window is the
          // RIGHT plan (bounded set, rankedDocIds discipline)
          .selectExpr("band", "sum(bt) OVER (ORDER BY band) - bt AS boff")
        val total = scored.groupBy().agg(expr("cast(sum(tok) AS bigint) AS total"))
        scored
          .withColumn("wcum",
            expr("sum(tok) OVER (PARTITION BY band ORDER BY score_ppm, doc_id) - tok"))
          .join(broadcast(offsets), "band")
          .crossJoin(broadcast(total))
          .selectExpr("doc_id", "score_ppm", "tok AS n_tok",
            "least(3L, (boff + wcum) * 4 div total) AS phase")
      },
      Some(s"""
        WITH c AS (
          SELECT doc_id, n_chars,
                 ${Fns.cleanTextDuck("text")} AS tc
          FROM documents),
        d AS (
          SELECT doc_id, (n_chars + 3) // 4 AS tok,
                 ((length(tc) - (len(string_split(tc, ' ')) - 1)) * 1000000
                  // len(string_split(tc, ' ')))::BIGINT AS score_ppm
          FROM c WHERE (n_chars + 3) // 4 > 0),
        t AS (SELECT sum(tok)::BIGINT AS total FROM d),
        o AS (
          SELECT doc_id, score_ppm, tok,
                 (sum(tok) OVER (ORDER BY score_ppm, doc_id) - tok)::BIGINT AS sp
          FROM d)
        SELECT doc_id, score_ppm, tok AS n_tok,
               least(3, sp * 4 // total)::BIGINT AS phase
        FROM o, t""")),

    // ------------------ span-corruption plan (T5/UL2 denoising prep)
    // The data-side half of span-corruption pretraining: pick the
    // token spans each document will have masked, DETERMINISTICALLY —
    // a reproducible corruption plan (re-runs, shards, and both
    // engines agree), not an RNG pass. Rule: every FULL 20-token block
    // contributes one 3-token span whose offset is md5(doc_id:block)
    // mod 18 — exactly 15 % corruption, spans never overlap and never
    // cross block boundaries, zero sequential state (each block
    // decides row-locally, so the plan is one scan + one explode at
    // any corpus size). Output one row per span: sentinel id (the
    // block ordinal), global 1-based span bounds, and the masked
    // tokens themselves — the targets a denoising trainer pairs with
    // the corrupted input.
    QueryDef(
      "tp_span_corruption",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("doc_id", "split(tc, ' ') AS toks")
          .selectExpr("doc_id", "toks", "cast(size(toks) AS bigint) div 20 AS nblk")
          .where("nblk >= 1")
          .selectExpr("doc_id", "toks", "explode(sequence(0L, nblk - 1)) AS blk")
          .selectExpr("doc_id", "toks", "blk",
            """blk * 20 + cast(conv(substring(md5(concat(cast(doc_id AS string), ':', cast(blk AS string))), 1, 15), 16, 10) AS bigint) % 18 + 1 AS ss""")
          .selectExpr("doc_id", "blk AS sentinel_id", "ss AS span_start",
            "ss + 2 AS span_end",
            "array_join(slice(toks, cast(ss AS int), 3), ' ') AS masked"),
      Some(s"""
        WITH c AS (
          SELECT doc_id,
                 ${Fns.cleanTextDuck("text")} AS tc
          FROM documents),
        t AS (SELECT doc_id, string_split(tc, ' ') AS toks FROM c),
        b AS (
          SELECT doc_id, toks, unnest(generate_series(0, len(toks) // 20 - 1)) AS blk
          FROM t WHERE len(toks) // 20 >= 1),
        s AS (
          SELECT doc_id, toks, blk,
                 blk * 20 + ('0x' || substr(md5(doc_id::VARCHAR || ':' || blk::VARCHAR), 1, 15))::BIGINT % 18 + 1 AS ss
          FROM b)
        SELECT doc_id, blk::BIGINT AS sentinel_id, ss::BIGINT AS span_start,
               (ss + 2)::BIGINT AS span_end,
               array_to_string(toks[ss:ss+2], ' ') AS masked
        FROM s""")),

    // --------------- DSIR importance selection (domain up-weighting)
    // Data Selection via Importance Resampling (Xie et al. 2023): score
    // every training document by how much more likely its hashed
    // n-gram features are under a TARGET domain than under the raw
    // corpus, and keep the top slice — the principled replacement for
    // source-level mix weights when the target is "more like THIS
    // data". Features are word bigrams hashed into 4096 buckets (the
    // paper's hashed n-gram model); the target here is the src1-3
    // provenance slice. The per-bucket log-likelihood-ratio weight is
    // replaced by its integer-ppm probability-difference surrogate
    // (t+1)·1e6 div (T+B) − (r+1)·1e6 div (R+B) — add-one smoothed,
    // monotone in the per-bucket evidence, and free of ln()'s
    // last-ulp cross-engine trap (the ta_lm_score / ta_pmi
    // discipline); a doc's score is the exact BIGINT sum of its
    // bucket weights. Two corpus scans by construction — DSIR is a
    // two-pass algorithm (fit the bucket model, then score): the
    // bucket table is 4096 rows (checkpoint-fenced, it feeds the
    // totals AND the weight projection), the weight table broadcasts
    // to the scoring join, and the per-doc aggregate partial-combines
    // in the scan. Selection is TakeOrdered top-1000 on (score desc,
    // doc_id) — a deterministic total order, never a global sort.
    QueryDef(
      "tp_dsir",
      (spark, dir) => {
        // spread BEFORE the bigram explode so the md5-per-bigram hashing
        // (run twice — fit and score, DSIR's two scans) rides every core
        // instead of the single fixture scan split (r15 profile: 1.4 s
        // of a 2.0 s wall in two 1-task stages); wide real scans pass
        // through exchange-free
        val bg = Tables.spread(Tables.documents(spark, dir), "doc_id")
          .selectExpr("doc_id", "source IN ('src1', 'src2', 'src3') AS tgt",
            s"split(${Fns.cleanTextSql("text")}, ' ') AS toks")
          .selectExpr("doc_id", "tgt",
            "explode(transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))) AS bgr")
          .selectExpr("doc_id", "tgt",
            "pmod(cast(conv(substring(md5(bgr), 1, 15), 16, 10) AS bigint), 4096) AS b")
        val counts = bg.groupBy("b")
          .agg(expr("cast(count(*) AS bigint) AS r"),
            expr("cast(count_if(tgt) AS bigint) AS t"))
          .fenced // 4096 rows — feeds totals AND weights
        val tot = counts.groupBy()
          .agg(expr("cast(sum(r) AS bigint) AS rt"), expr("cast(sum(t) AS bigint) AS tt"))
        val w = counts.crossJoin(org.apache.spark.sql.functions.broadcast(tot))
          .selectExpr("b",
            """(t + 1) * 1000000 div (tt + 4096)
               - (r + 1) * 1000000 div (rt + 4096) AS w_ppm""")
        bg.join(org.apache.spark.sql.functions.broadcast(w), "b")
          .groupBy("doc_id")
          .agg(expr("cast(count(*) AS bigint) AS n_bigrams"),
            expr("cast(sum(w_ppm) AS bigint) AS dsir_ppm"))
          .orderBy(col("dsir_ppm").desc, col("doc_id"))
          .limit(1000)
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id, (source IN ('src1', 'src2', 'src3')) AS tgt,
                 string_split(${Fns.cleanTextDuck("text")}, ' ') AS toks
          FROM documents),
        bg AS (
          SELECT doc_id, tgt,
                 ('0x' || substr(md5(bgr), 1, 15))::BIGINT % 4096 AS b
          FROM (SELECT doc_id, tgt,
                       unnest(list_transform(generate_series(1, len(toks) - 1),
                                             i -> toks[i] || ' ' || toks[i + 1])) AS bgr
                FROM d)),
        c AS (
          SELECT b, count(*)::BIGINT AS r, count_if(tgt)::BIGINT AS t
          FROM bg GROUP BY 1),
        tot AS (SELECT sum(r)::BIGINT AS rt, sum(t)::BIGINT AS tt FROM c),
        w AS (
          SELECT b, ((t + 1) * 1000000 // (tt + 4096)
                     - (r + 1) * 1000000 // (rt + 4096))::BIGINT AS w_ppm
          FROM c, tot)
        SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(w_ppm)::BIGINT AS dsir_ppm
        FROM bg JOIN w ON bg.b = w.b
        GROUP BY doc_id
        ORDER BY dsir_ppm DESC, doc_id
        LIMIT 1000""")),

    // ------------------- token-budget waterfill (mix planning)
    // The budgeting step between tp_mix_weights (rates someone chose)
    // and the sampler: given a 60 % token budget, allocate per-source
    // caps by max-min fair WATERFILL — small sources keep everything,
    // large sources are capped at a common water level t, chosen as
    // the largest level the budget affords (Σ min(tok_s, t) ≤ B). The
    // closed form needs no iteration: sort sources by token count,
    // prefix-sum, and for each rank i test the level that saturates
    // exactly the i−1 smaller sources — the FIRST feasible rank wins
    // (integer truncation can only under-fill by < n_sources tokens,
    // documented, never over-fill). All BIGINT arithmetic, identical
    // in both engines. Scale shape: the corpus folds to one
    // source-bounded aggregate in a single partial-aggregated scan;
    // the waterfill windows run on that ~|sources|-row table — a
    // global sort of twenty rows, not of the corpus.
    QueryDef(
      "tp_token_budget",
      (spark, dir) => {
        val toks = Tables.documents(spark, dir)
          .selectExpr("source",
            s"cast(size(split(${Fns.cleanTextSql("text")}, ' ')) AS bigint) AS tok")
          .groupBy("source")
          .agg(expr("cast(count(*) AS bigint) AS n_docs"),
            expr("cast(sum(tok) AS bigint) AS tok"))
        toks
          .selectExpr("source", "n_docs", "tok",
            "cast(row_number() OVER (ORDER BY tok, source) AS bigint) AS i",
            "sum(tok) OVER (ORDER BY tok, source ROWS UNBOUNDED PRECEDING) AS p",
            "count(*) OVER () AS n",
            "sum(tok) OVER () * 600 div 1000 AS b")
          .selectExpr("source", "n_docs", "tok", "i", "n", "b",
            "(b - (p - tok)) div (n - i + 1) AS t",
            "lag(tok) OVER (ORDER BY i) AS prev_tok")
          .selectExpr("source", "n_docs", "tok", "b",
            """min(CASE WHEN t < tok AND (prev_tok IS NULL OR prev_tok <= t)
                        THEN t END) OVER () AS level""")
          .selectExpr("source", "n_docs", "tok", "b AS budget_tok",
            // no feasible rank ⇒ the budget covers every source whole
            "coalesce(level, tok) AS level",
            "least(tok, coalesce(level, tok)) AS alloc_tok",
            "tok > coalesce(level, tok) AS capped")
      },
      Some(s"""
        WITH s AS (
          SELECT source, count(*)::BIGINT AS n_docs,
                 sum(len(string_split(${Fns.cleanTextDuck("text")}, ' ')))::BIGINT AS tok
          FROM documents GROUP BY source),
        r AS (
          SELECT source, n_docs, tok,
                 row_number() OVER (ORDER BY tok, source) AS i,
                 (sum(tok) OVER (ORDER BY tok, source ROWS UNBOUNDED PRECEDING))::BIGINT AS p,
                 (count(*) OVER ())::BIGINT AS n,
                 ((sum(tok) OVER ())::BIGINT * 600 // 1000)::BIGINT AS b
          FROM s),
        c AS (
          SELECT source, n_docs, tok, i, n, b,
                 ((b - (p - tok)) // (n - i + 1))::BIGINT AS t,
                 lag(tok) OVER (ORDER BY i) AS prev_tok
          FROM r),
        lvl AS (
          SELECT source, n_docs, tok, b,
                 (min(CASE WHEN t < tok AND (prev_tok IS NULL OR prev_tok <= t)
                           THEN t END) OVER ())::BIGINT AS level
          FROM c)
        SELECT source, n_docs, tok, b AS budget_tok,
               coalesce(level, tok)::BIGINT AS level,
               least(tok, coalesce(level, tok))::BIGINT AS alloc_tok,
               (tok > coalesce(level, tok)) AS capped
        FROM lvl""")),

    // ---------------- WordPiece encode (greedy longest-match-first)
    // The BERT-family tokenizer next to tp_bpe_apply's merge-based
    // one: a piece VOCABULARY (not a merge list) and, per word, the
    // longest vocab piece at each position — word-initial pieces and
    // continuation pieces are distinct entries (the ## distinction,
    // carried as an is_head flag). The vocabulary derives from the
    // corpus deterministically: every single character (both flags —
    // the UNK-free floor real tokenizers guarantee with byte
    // fallback) plus the top-300 2..4-char pieces by occurrence count
    // (ties: piece ASC, head-first — a total order, so both engines
    // rank identically). Encoding touches DISTINCT words only; per-doc
    // counts come back through the (doc, word) multiplicity join —
    // the factoring that makes tokenization corpus-size-independent
    // past one scan. The Scala matcher steps by CODEPOINTS
    // (String.codePoints), because the vocab census uses SQL
    // substring() codepoint semantics on both engines and a Java
    // UTF-16 substring would split surrogate pairs differently.
    // Scale shape: census = two explodes + one partial-agg reduction
    // (the n-gram counting shape); vocab = bounded TakeOrdered +
    // driver collect (300 + alphabet rows — the Knn probe-id
    // precedent); encode = mapPartitions over distinct words with the
    // broadcast vocab; one word-keyed join carries counts back. The
    // oracle re-derives the vocabulary AND replays the greedy walk as
    // a recursive CTE with four vocab left-joins (longest coalesce
    // wins) — an independent implementation of both halves.
    QueryDef(
      "tp_wordpiece",
      (spark, dir) => {
        import spark.implicits._
        val dw = Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"explode(split(${Fns.cleanTextSql("text")}, ' ')) AS w")
          .where("w != ''")
          .groupBy("doc_id", "w")
          .agg(expr("cast(count(*) AS bigint) AS wc"))
        val gw = dw.groupBy("w").agg(expr("cast(sum(wc) AS bigint) AS wc"))
          .fenced // census + encode both read it; one distinct pass
        val ranked = gw
          .selectExpr("w", "wc", "explode(sequence(2, 4)) AS l")
          .where("length(w) >= l")
          .selectExpr("wc", "explode(sequence(1, length(w) - l + 1)) AS s", "w", "l")
          .selectExpr("substring(w, s, l) AS piece", "s = 1 AS is_head", "wc")
          .groupBy("piece", "is_head")
          .agg(expr("cast(sum(wc) AS bigint) AS cnt"))
          .orderBy(col("cnt").desc, col("piece").asc, col("is_head").desc)
          .limit(300)
          .select("piece", "is_head")
          .collect()
        val chars = gw
          .selectExpr("explode(sequence(1, length(w))) AS i", "w")
          .selectExpr("substring(w, i, 1) AS piece").distinct()
          .collect().map(_.getString(0))
        val head = new java.util.HashSet[String]()
        val cont = new java.util.HashSet[String]()
        ranked.foreach(r => (if (r.getBoolean(1)) head else cont).add(r.getString(0)))
        chars.foreach { c => head.add(c); cont.add(c) }
        val bc = spark.sparkContext.broadcast((head, cont))
        val enc = gw.select("w").as[String].mapPartitions { it =>
          val (h, c) = bc.value
          it.map { w =>
            val cps = w.codePoints().toArray
            var pos = 0; var np = 0L
            val byLen = Array.fill(5)(0L)
            while (pos < cps.length) {
              val vocab = if (pos == 0) h else c
              var l = math.min(4, cps.length - pos)
              while (l >= 2 && !vocab.contains(new String(cps, pos, l))) l -= 1
              if (l < 2) l = 1 // single chars are always in vocab
              np += 1L; byLen(l) += 1L; pos += l
            }
            (w, np, byLen(1), byLen(2), byLen(3), byLen(4))
          }
        }.toDF("w", "np", "c1", "c2", "c3", "c4")
        dw.join(enc, "w")
          .groupBy("doc_id")
          .agg(
            expr("cast(sum(wc) AS bigint) AS n_words"),
            expr("cast(sum(wc * np) AS bigint) AS n_pieces"),
            expr("cast(sum(wc * c1) AS bigint) AS p1"),
            expr("cast(sum(wc * c2) AS bigint) AS p2"),
            expr("cast(sum(wc * c3) AS bigint) AS p3"),
            expr("cast(sum(wc * c4) AS bigint) AS p4"))
      },
      Some(s"""
        WITH RECURSIVE dw AS MATERIALIZED (
          SELECT doc_id, w, count(*)::BIGINT AS wc
          FROM (SELECT doc_id,
                       unnest(string_split(${Fns.cleanTextDuck("text")}, ' ')) AS w
                FROM documents)
          WHERE w != '' GROUP BY doc_id, w),
        gw AS MATERIALIZED (SELECT w, sum(wc)::BIGINT AS wc FROM dw GROUP BY w),
        subs AS (
          SELECT piece, is_head, sum(wc)::BIGINT AS cnt
          FROM (
            SELECT substr(w, sl['s'], sl['l']) AS piece, sl['s'] = 1 AS is_head, wc
            FROM (SELECT w, wc,
                         unnest(flatten(list_transform(generate_series(2, 4), l ->
                           list_transform(generate_series(1, greatest(length(w) - l + 1, 0)),
                             s -> {'s': s, 'l': l})))) AS sl
                  FROM gw))
          GROUP BY piece, is_head),
        ranked AS (
          SELECT piece, is_head FROM (
            SELECT piece, is_head,
                   row_number() OVER (ORDER BY cnt DESC, piece ASC, is_head DESC) AS rk
            FROM subs)
          WHERE rk <= 300),
        chars AS (
          SELECT DISTINCT c AS piece, h.is_head
          FROM (SELECT unnest(list_transform(generate_series(1, length(w)), i -> w[i])) AS c
                FROM gw),
               (VALUES (true), (false)) AS h(is_head)),
        vocab AS MATERIALIZED (
          SELECT DISTINCT piece, is_head
          FROM (SELECT * FROM ranked UNION ALL SELECT * FROM chars)),
        enc AS (
          SELECT w, 1 AS pos, 0::BIGINT AS np,
                 0::BIGINT AS p1, 0::BIGINT AS p2, 0::BIGINT AS p3, 0::BIGINT AS p4
          FROM gw
          UNION ALL
          SELECT r.w, r.pos + length(coalesce(v4.piece, v3.piece, v2.piece, v1.piece)),
                 r.np + 1,
                 r.p1 + (length(coalesce(v4.piece, v3.piece, v2.piece, v1.piece)) = 1)::BIGINT,
                 r.p2 + (length(coalesce(v4.piece, v3.piece, v2.piece, v1.piece)) = 2)::BIGINT,
                 r.p3 + (length(coalesce(v4.piece, v3.piece, v2.piece, v1.piece)) = 3)::BIGINT,
                 r.p4 + (length(coalesce(v4.piece, v3.piece, v2.piece, v1.piece)) = 4)::BIGINT
          FROM enc r
          LEFT JOIN vocab v4 ON v4.piece = substr(r.w, r.pos, 4)
                             AND v4.is_head = (r.pos = 1)
                             AND length(substr(r.w, r.pos, 4)) = 4
          LEFT JOIN vocab v3 ON v3.piece = substr(r.w, r.pos, 3)
                             AND v3.is_head = (r.pos = 1)
                             AND length(substr(r.w, r.pos, 3)) = 3
          LEFT JOIN vocab v2 ON v2.piece = substr(r.w, r.pos, 2)
                             AND v2.is_head = (r.pos = 1)
                             AND length(substr(r.w, r.pos, 2)) = 2
          LEFT JOIN vocab v1 ON v1.piece = substr(r.w, r.pos, 1)
                             AND v1.is_head = (r.pos = 1)
          WHERE r.pos <= length(r.w)),
        done AS (SELECT w, np, p1, p2, p3, p4 FROM enc WHERE pos = length(w) + 1)
        SELECT d.doc_id,
               sum(d.wc)::BIGINT AS n_words,
               sum(d.wc * e.np)::BIGINT AS n_pieces,
               sum(d.wc * e.p1)::BIGINT AS p1,
               sum(d.wc * e.p2)::BIGINT AS p2,
               sum(d.wc * e.p3)::BIGINT AS p3,
               sum(d.wc * e.p4)::BIGINT AS p4
        FROM dw d JOIN done e ON d.w = e.w
        GROUP BY d.doc_id""")),

    // --------------- unigram-LM tokenizer encode (Viterbi, exact DP)
    // The third tokenizer family next to tp_bpe_* (merge-based) and
    // tp_wordpiece (greedy longest-match): SentencePiece-style unigram
    // segmentation picks, per word, the GLOBALLY cheapest piece
    // sequence under per-piece costs — Viterbi DP, not greedy, so a
    // locally attractive long piece loses when its tail segments badly.
    // Kudo (2018) is the spec, not the code. Determinism is engineered
    // at three layers: (1) piece costs are INTEGER surprisal proxies,
    // cost = max(40 − bitlength(count), 1) — bitlength via length(bin())
    // on both engines, no log2 double whose floor could straddle a
    // power-of-two boundary; (2) the DP state is the lexicographic
    // (cost, n_pieces) pair, which is translation-invariant under
    // extension, so per-position lex-min IS the global lex-min — ties
    // cannot diverge cross-engine because the VALUE, not the path, is
    // the output; (3) the vocab cut (top-300 multi-char pieces by
    // count, piece ASC tiebreak, plus every single char) reuses
    // tp_wordpiece's proven deterministic ranking. The oracle replays
    // the DP as reachable-state closure: a recursive CTE over
    // (word, pos, cost, n) states joined to a precomputed equi-join
    // edge table; UNION dedupe bounds states because costs are small
    // bounded integers. Scale shape: identical to tp_wordpiece — the
    // census and the DP both run over the DISTINCT-WORD table (vocab-
    // bounded, not corpus-bounded), the vocab is a ≤ ~350-entry
    // broadcast, and the per-doc aggregate joins encode results back
    // on the word key; 10× corpus ⇒ same DP work, one more scan.
    QueryDef(
      "tp_unigram",
      (spark, dir) => {
        import spark.implicits._
        val dw = Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"explode(split(${Fns.cleanTextSql("text")}, ' ')) AS w")
          .where("w != ''")
          .groupBy("doc_id", "w")
          .agg(expr("cast(count(*) AS bigint) AS wc"))
        val gw = dw.groupBy("w").agg(expr("cast(sum(wc) AS bigint) AS wc"))
          .fenced // census + encode both read it; one distinct pass
        val census = gw
          .selectExpr("w", "wc", "explode(sequence(1, 4)) AS l")
          .where("length(w) >= l")
          .selectExpr("wc", "explode(sequence(1, length(w) - l + 1)) AS s", "w", "l")
          .selectExpr("substring(w, s, l) AS piece", "wc")
          .groupBy("piece")
          .agg(expr("cast(sum(wc) AS bigint) AS cnt"))
          .fenced // ranked cut + char floor share one pass
        val ranked = census.where("length(piece) >= 2")
          .orderBy(col("cnt").desc, col("piece").asc).limit(300)
          .select("piece", "cnt").collect()
        val chars = census.where("length(piece) = 1")
          .select("piece", "cnt").collect()
        val costs = new java.util.HashMap[String, java.lang.Long]()
        (ranked ++ chars).foreach { r =>
          val bl = 64 - java.lang.Long.numberOfLeadingZeros(r.getLong(1))
          costs.put(r.getString(0), math.max(40L - bl, 1L))
        }
        val bc = spark.sparkContext.broadcast(costs)
        val enc = gw.select("w").as[String].mapPartitions { it =>
          val v = bc.value
          it.map { w =>
            val cps = w.codePoints().toArray
            val n = cps.length
            val inf = Long.MaxValue / 4
            val dpC = Array.fill(n + 1)(inf)
            val dpN = Array.fill(n + 1)(inf)
            dpC(0) = 0L; dpN(0) = 0L
            var pos = 0
            while (pos < n) {
              if (dpC(pos) < inf) {
                var l = 1
                while (l <= 4 && pos + l <= n) {
                  val c = v.get(new String(cps, pos, l))
                  if (c != null) {
                    val nc = dpC(pos) + c.longValue()
                    val nn = dpN(pos) + 1L
                    if (nc < dpC(pos + l) ||
                      (nc == dpC(pos + l) && nn < dpN(pos + l))) {
                      dpC(pos + l) = nc; dpN(pos + l) = nn
                    }
                  }
                  l += 1
                }
              }
              pos += 1
            }
            (w, dpC(n), dpN(n))
          }
        }.toDF("w", "cost", "np")
        dw.join(enc, "w")
          .groupBy("doc_id")
          .agg(
            expr("cast(sum(wc) AS bigint) AS n_words"),
            expr("cast(sum(wc * np) AS bigint) AS n_pieces"),
            expr("cast(sum(wc * cost) AS bigint) AS total_cost"))
      },
      Some(s"""
        WITH RECURSIVE dw AS MATERIALIZED (
          SELECT doc_id, w, count(*)::BIGINT AS wc
          FROM (SELECT doc_id,
                       unnest(string_split(${Fns.cleanTextDuck("text")}, ' ')) AS w
                FROM documents)
          WHERE w != '' GROUP BY doc_id, w),
        gw AS MATERIALIZED (SELECT w, sum(wc)::BIGINT AS wc FROM dw GROUP BY w),
        census AS MATERIALIZED (
          SELECT piece, sum(wc)::BIGINT AS cnt
          FROM (
            SELECT substr(w, sl['s'], sl['l']) AS piece, wc
            FROM (SELECT w, wc,
                         unnest(flatten(list_transform(generate_series(1, 4), l ->
                           list_transform(generate_series(1, greatest(length(w) - l + 1, 0)),
                             s -> {'s': s, 'l': l})))) AS sl
                  FROM gw))
          GROUP BY piece),
        ranked AS (
          SELECT piece, cnt FROM (
            SELECT piece, cnt,
                   row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rk
            FROM census WHERE length(piece) >= 2)
          WHERE rk <= 300),
        vocab AS MATERIALIZED (
          SELECT piece, greatest(40 - length(bin(cnt)), 1)::BIGINT AS cost
          FROM (SELECT piece, cnt FROM ranked
                UNION ALL
                SELECT piece, cnt FROM census WHERE length(piece) = 1)),
        cand AS (
          SELECT w, sl['s'] AS pos, substr(w, sl['s'], sl['l']) AS piece
          FROM (SELECT w,
                       unnest(flatten(list_transform(generate_series(1, 4), l ->
                         list_transform(generate_series(1, greatest(length(w) - l + 1, 0)),
                           s -> {'s': s, 'l': l})))) AS sl
                FROM gw)),
        edges AS MATERIALIZED (
          SELECT c.w, c.pos, length(c.piece) AS l, v.cost
          FROM cand c JOIN vocab v USING (piece)),
        states AS (
          SELECT w, 1 AS pos, 0::BIGINT AS cost, 0::BIGINT AS np FROM gw
          UNION
          SELECT s.w, s.pos + e.l, s.cost + e.cost, s.np + 1
          FROM states s JOIN edges e ON e.w = s.w AND e.pos = s.pos
          WHERE s.pos <= length(s.w)),
        fin AS (SELECT w, cost, np FROM states WHERE pos = length(w) + 1),
        best AS (SELECT w, min(cost)::BIGINT AS cost FROM fin GROUP BY w),
        done AS (
          SELECT f.w, b.cost, min(f.np)::BIGINT AS np
          FROM fin f JOIN best b ON b.w = f.w AND f.cost = b.cost
          GROUP BY f.w, b.cost)
        SELECT d.doc_id,
               sum(d.wc)::BIGINT AS n_words,
               sum(d.wc * e.np)::BIGINT AS n_pieces,
               sum(d.wc * e.cost)::BIGINT AS total_cost
        FROM dw d JOIN done e ON d.w = e.w
        GROUP BY d.doc_id""")),

    // -------------------- fill-in-the-middle transform (training prep)
    // FIM (Bavarian et al. 2022, "Efficient Training of Language Models
    // to Fill in the Middle"): split each document at two deterministic
    // cut points into (prefix, middle, suffix) and re-serialize in PSM
    // sentinel order — the format an infilling-capable model trains on.
    // Cut points are md5-derived from doc_id (the tp_span_corruption
    // discipline — retry-stable, engine-identical): c1 uniform in
    // [1, n-2], c2 in [c1+1, n-1], so all three parts are non-empty.
    // Plan: ONE scan, zero shuffles — the transform is row-local, so
    // at 100 TB it is embarrassingly parallel and pipeline-fusable
    // with the upstream quality gate.
    QueryDef(
      "tp_fim",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"split(${Fns.cleanTextSql("text")}, ' ') AS toks")
          .selectExpr("doc_id", "toks", "cast(size(toks) AS bigint) AS n")
          .where("n >= 8")
          .selectExpr("doc_id", "toks", "n",
            "1 + cast(conv(substring(md5(concat(cast(doc_id AS string), ':c1')), 1, 15), 16, 10) AS bigint) % (n - 2) AS c1")
          .selectExpr("doc_id", "toks", "n", "c1",
            "c1 + 1 + cast(conv(substring(md5(concat(cast(doc_id AS string), ':c2')), 1, 15), 16, 10) AS bigint) % (n - 1 - c1) AS c2")
          .selectExpr("doc_id", "n AS n_toks", "c1", "c2",
            "array_join(slice(toks, 1, cast(c1 AS int)), ' ') AS prefix",
            "array_join(slice(toks, cast(c1 AS int) + 1, cast(c2 - c1 AS int)), ' ') AS middle",
            "array_join(slice(toks, cast(c2 AS int) + 1, cast(n - c2 AS int)), ' ') AS suffix")
          .selectExpr("doc_id", "n_toks", "c1", "c2", "prefix", "middle", "suffix",
            "concat('<PRE>', prefix, '<SUF>', suffix, '<MID>', middle) AS psm"),
      Some(s"""
        WITH t AS (
          SELECT doc_id,
                 string_split(${Fns.cleanTextDuck("text")}, ' ') AS toks
          FROM documents),
        sized AS (
          SELECT doc_id, toks, len(toks)::BIGINT AS n FROM t WHERE len(toks) >= 8),
        cut1 AS (
          SELECT doc_id, toks, n,
                 1 + ('0x' || substr(md5(doc_id::VARCHAR || ':c1'), 1, 15))::BIGINT % (n - 2) AS c1
          FROM sized),
        cut2 AS (
          SELECT doc_id, toks, n, c1,
                 c1 + 1 + ('0x' || substr(md5(doc_id::VARCHAR || ':c2'), 1, 15))::BIGINT % (n - 1 - c1) AS c2
          FROM cut1),
        parts AS (
          SELECT doc_id, n AS n_toks, c1, c2,
                 array_to_string(toks[1:c1], ' ') AS prefix,
                 array_to_string(toks[c1+1:c2], ' ') AS middle,
                 array_to_string(toks[c2+1:n], ' ') AS suffix
          FROM cut2)
        SELECT doc_id, n_toks, c1, c2, prefix, middle, suffix,
               '<PRE>' || prefix || '<SUF>' || suffix || '<MID>' || middle AS psm
        FROM parts""")),

    // ---------------- Kneser–Ney continuation counts (LM data prep)
    // The count tables an interpolated Kneser–Ney bigram LM is built
    // from (Kneser & Ney 1995; Chen & Goodman 1999): per bigram the
    // raw count c(w1 w2), the history mass c(w1 •), the fan-out
    // N1+(w1 •) (distinct continuations of w1), the continuation count
    // N1+(• w2) (distinct histories of w2 — the "novel contexts"
    // numerator that replaces raw frequency in the lower-order model),
    // and the interpolated probability with absolute discount D = 0.75
    // in exact integer ppm:
    //   p_kn = (c − D)/c(w1 •) + D·N1+(w1 •)/c(w1 •) · N1+(• w2)/T
    // (c ≥ 1 so c − D > 0), T = total bigram types. D = 3/4 keeps both
    // terms integer: each is one quarter-scaled multiply and a single
    // `div`, identically ordered in both engines. Plan: ONE corpus
    // scan exploding row-local bigram structs → one (w1,w2)
    // partial-agg exchange, checkpoint-fenced because FOUR readers
    // (marginals ×3 + output filter) reuse it; the marginal tables are
    // aggregates over the already-type-bounded bigram table joined
    // back on its own keys; T is a 1-row broadcast. Output bounded to
    // bigrams with c ≥ 5. Magnitudes: 3·n1l·250000·n1r needs
    // n1l·n1r < 1.2e13 — safe to ~3e6-type vocabularies; beyond that,
    // lift the two products to decimal(38,0) (the ev_ab_cuped
    // widening).
    QueryDef(
      "tp_kn_counts",
      (spark, dir) => {
        val bg = Tables.documents(spark, dir)
          .selectExpr(
            s"split(${Fns.cleanTextSql("text")}, ' ') AS toks")
          .where("size(toks) >= 2")
          .selectExpr(
            "explode(transform(sequence(2, size(toks)), i -> struct(toks[i - 2] AS w1, toks[i - 1] AS w2))) AS b")
          .selectExpr("b.w1 AS w1", "b.w2 AS w2")
          .groupBy("w1", "w2")
          .agg(expr("cast(count(*) AS bigint) AS c"))
          .fenced
        val h = bg.groupBy("w1").agg(
          expr("cast(sum(c) AS bigint) AS ch"),
          expr("cast(count(*) AS bigint) AS n1l"))
        val r = bg.groupBy("w2").agg(expr("cast(count(*) AS bigint) AS n1r"))
        val t = bg.groupBy().agg(expr("cast(count(*) AS bigint) AS bigram_types"))
        bg.where("c >= 5")
          .join(h, "w1")
          .join(r, "w2")
          .crossJoin(broadcast(t))
          .selectExpr("w1", "w2", "c", "ch", "n1l", "n1r", "bigram_types",
            """((4L * c - 3L) * 250000L) div ch
               + (3L * n1l * 250000L * n1r) div (ch * bigram_types) AS pkn_ppm""")
      },
      Some(s"""
        WITH bg AS MATERIALIZED (
          SELECT b['w1'] AS w1, b['w2'] AS w2, count(*)::BIGINT AS c
          FROM (
            SELECT unnest(list_transform(generate_series(2, len(toks)),
                          i -> {'w1': toks[i-1], 'w2': toks[i]})) AS b
            FROM (SELECT string_split(${Fns.cleanTextDuck("text")}, ' ') AS toks
                  FROM documents)
            WHERE len(toks) >= 2)
          GROUP BY 1, 2),
        h AS (SELECT w1, sum(c)::BIGINT AS ch, count(*)::BIGINT AS n1l FROM bg GROUP BY w1),
        r AS (SELECT w2, count(*)::BIGINT AS n1r FROM bg GROUP BY w2),
        t AS (SELECT count(*)::BIGINT AS bigram_types FROM bg)
        SELECT bg.w1, bg.w2, c, ch, n1l, n1r, bigram_types,
               ((4 * c - 3) * 250000) // ch
               + (3 * n1l * 250000 * n1r) // (ch * bigram_types) AS pkn_ppm
        FROM bg JOIN h USING (w1) JOIN r USING (w2) CROSS JOIN t
        WHERE c >= 5""")),

    // ------------------- BERT masked-LM corruption plan (training prep)
    // Devlin et al. 2018 §3.1 masking: 15% of positions select for
    // prediction; of those, 80% become [MASK], 10% a random token, 10%
    // keep the original (so the encoder cannot rely on [MASK] always
    // marking the target). All three draws are md5-derived (the
    // tp_span_corruption/tp_fim discipline — retry-stable,
    // engine-identical, any shard regenerable from doc_id alone); the
    // random replacement draws from the document's own tokens, keeping
    // the plan corpus-vocabulary-free. Selection runs as posexplode +
    // a codegen'd predicate, NOT a filter() lambda (the ts_snippet
    // 5.3× lesson); output is the ~15% selected slice. One scan, zero
    // shuffles at any corpus size.
    QueryDef(
      "tp_mlm_masks",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"split(${Fns.cleanTextSql("text")}, ' ') AS toks")
          .where("size(toks) >= 1")
          .selectExpr("doc_id", "toks", "cast(size(toks) AS bigint) AS n",
            "posexplode(toks) AS (p0, w)")
          .where("cast(conv(substring(md5(concat(cast(doc_id AS string), ':', cast(p0 + 1 AS string))), 1, 15), 16, 10) AS bigint) % 100 < 15")
          .selectExpr("doc_id", "cast(p0 + 1 AS bigint) AS pos", "w AS original",
            "cast(conv(substring(md5(concat(cast(doc_id AS string), ':', cast(p0 + 1 AS string), ':op')), 1, 15), 16, 10) AS bigint) % 10 AS opr",
            "toks[cast(cast(conv(substring(md5(concat(cast(doc_id AS string), ':', cast(p0 + 1 AS string), ':rnd')), 1, 15), 16, 10) AS bigint) % n AS int)] AS rtok")
          .selectExpr("doc_id", "pos", "original",
            "CASE WHEN opr < 8 THEN 'mask' WHEN opr = 8 THEN 'random' ELSE 'keep' END AS op",
            "CASE WHEN opr < 8 THEN '[MASK]' WHEN opr = 8 THEN rtok ELSE original END AS replacement"),
      Some(s"""
        WITH t AS (
          SELECT doc_id,
                 string_split(${Fns.cleanTextDuck("text")}, ' ') AS toks
          FROM documents),
        s AS (
          SELECT doc_id, toks, len(toks)::BIGINT AS n,
                 unnest(generate_series(1, len(toks))) AS p
          FROM t WHERE len(toks) >= 1),
        sel AS (
          SELECT doc_id, toks, n, p::BIGINT AS pos
          FROM s
          WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':' || p::VARCHAR), 1, 15))::BIGINT % 100 < 15),
        d AS (
          SELECT doc_id, pos, toks[pos::INT] AS original,
                 ('0x' || substr(md5(doc_id::VARCHAR || ':' || pos::VARCHAR || ':op'), 1, 15))::BIGINT % 10 AS opr,
                 toks[(('0x' || substr(md5(doc_id::VARCHAR || ':' || pos::VARCHAR || ':rnd'), 1, 15))::BIGINT % n)::INT + 1] AS rtok
          FROM sel)
        SELECT doc_id, pos, original,
               CASE WHEN opr < 8 THEN 'mask' WHEN opr = 8 THEN 'random' ELSE 'keep' END AS op,
               CASE WHEN opr < 8 THEN '[MASK]' WHEN opr = 8 THEN rtok ELSE original END AS replacement
        FROM d""")),

    // -------------- DPO preference-pair construction (training prep)
    // The data half of preference optimization (Rafailov et al. 2023):
    // per (source, lang) prompt group, pair the quality-ranked best
    // document (chosen) against the worst (rejected). The quality
    // proxy is integer lexical diversity — distinct words per mille of
    // total words, the ta_ttr signal — and both elections are
    // deterministic rank windows under the (score, doc_id) total
    // order; groups of one document emit nothing, and the two windows
    // tie-break doc_id in OPPOSITE directions (hi: ASC, lo: DESC) so
    // an all-tied group still elects two DISTINCT documents — the
    // no-self-pair invariant holds for every n_docs ≥ 2 group, not
    // just untied ones.
    // Plan: the score is row-local in the scan (two array ops), both
    // rank windows and the group fold share ONE (source, lang)
    // exchange; output is groups-bounded. At 100 TB with a learned
    // reward model, the score column is its output — the pairing plan
    // is unchanged.
    QueryDef(
      "tp_dpo_pairs",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("doc_id", "source", "lang",
            s"split(${Fns.cleanTextSql("text")}, ' ') AS toks")
          .where("size(toks) >= 1")
          .selectExpr("doc_id", "source", "lang",
            "cast(size(array_distinct(toks)) AS bigint) * 1000 div size(toks) AS score")
          .selectExpr("doc_id", "source", "lang", "score",
            """row_number() OVER (PARTITION BY source, lang
                                  ORDER BY score DESC, doc_id ASC) AS rk_hi""",
            """row_number() OVER (PARTITION BY source, lang
                                  ORDER BY score ASC, doc_id DESC) AS rk_lo""",
            "count(*) OVER (PARTITION BY source, lang) AS n_docs")
          .where("n_docs >= 2 AND (rk_hi = 1 OR rk_lo = 1)")
          .groupBy("source", "lang")
          .agg(
            expr("max(CASE WHEN rk_hi = 1 THEN doc_id END) AS chosen_doc"),
            expr("max(CASE WHEN rk_hi = 1 THEN score END) AS chosen_score"),
            expr("max(CASE WHEN rk_lo = 1 THEN doc_id END) AS rejected_doc"),
            expr("max(CASE WHEN rk_lo = 1 THEN score END) AS rejected_score"))
          .selectExpr("source", "lang", "chosen_doc", "chosen_score",
            "rejected_doc", "rejected_score",
            "chosen_score - rejected_score AS margin_permille"),
      Some(s"""
        WITH t AS (
          SELECT doc_id, source, lang,
                 string_split(${Fns.cleanTextDuck("text")}, ' ') AS toks
          FROM documents),
        s AS (
          SELECT doc_id, source, lang,
                 len(list_distinct(toks))::BIGINT * 1000 // len(toks) AS score
          FROM t WHERE len(toks) >= 1),
        r AS (
          SELECT doc_id, source, lang, score,
                 row_number() OVER (PARTITION BY source, lang
                                    ORDER BY score DESC, doc_id ASC) AS rk_hi,
                 row_number() OVER (PARTITION BY source, lang
                                    ORDER BY score ASC, doc_id DESC) AS rk_lo,
                 count(*) OVER (PARTITION BY source, lang) AS n_docs
          FROM s)
        SELECT source, lang,
               max(CASE WHEN rk_hi = 1 THEN doc_id END) AS chosen_doc,
               max(CASE WHEN rk_hi = 1 THEN score END) AS chosen_score,
               max(CASE WHEN rk_lo = 1 THEN doc_id END) AS rejected_doc,
               max(CASE WHEN rk_lo = 1 THEN score END) AS rejected_score,
               (max(CASE WHEN rk_hi = 1 THEN score END)
                - max(CASE WHEN rk_lo = 1 THEN score END))::BIGINT AS margin_permille
        FROM r
        WHERE n_docs >= 2 AND (rk_hi = 1 OR rk_lo = 1)
        GROUP BY source, lang""")),

    // --------------------- release gate (lake → quality → dedup →
    //                       decontaminate → pack, one funnel row each)
    // The production pre-training release shape END TO END, as one
    // auditable gate row: the raw corpus is committed to a lake store
    // and read back from the tip (provenance — the release is cut from
    // a VERSION, not from whatever files happen to be in a directory),
    // then quality-gated (length floors), exact-deduped (min doc_id
    // per normalized-text hash), decontaminated against the eval
    // fixture's 13-gram windows (the dd_decontaminate discipline:
    // bounded eval-side hash set broadcasts, the train side is scanned
    // once; eval docs themselves leave the training corpus here), and
    // greedily packed into 2048-token shards per salt. The output is
    // the stage funnel — (rank, stage, docs, tokens, packs) — the
    // sign-off table a release review actually reads; each stage's
    // keep/drop applies as a semi/anti join, so the row counts are the
    // operators' own arithmetic, not a parallel estimate. Scale: one
    // corpus exchange per stage boundary (md5 groups, 13-gram posting,
    // per-salt pack windows), every auxiliary set (eval hashes, dirty
    // doc ids) bounded; the funnel aggregates are 1-row folds.
    QueryDef(
      "tp_release_gate",
      (spark, dir) => {
        val root = gateLakeRoot(spark, dir)
        // the lake tip is few-split at gate scale: spread it before the
        // tokenize projection feeding four stage frames + the eval-hash
        // broadcast build (r15 profile: two ~0.5 s 1-task stages)
        val docs = Tables.spread(graft.sources.Lake.readVersion(spark, root), "doc_id")
          .selectExpr("doc_id",
            s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("doc_id", "tc", "split(tc, ' ') AS toks")
          .selectExpr("doc_id", "tc", "toks",
            "cast(length(tc) AS bigint) AS char_len",
            "cast(size(toks) AS bigint) AS n_tokens")
        val quality = docs.where("char_len >= 50 AND n_tokens >= 10")
        val exact = quality
          .withColumn("rk",
            expr("row_number() OVER (PARTITION BY md5(tc) ORDER BY doc_id)"))
          .where("rk = 1").drop("rk")
        val evalHashes = docs.where(s"doc_id % ${Dedup.EvalMod} = 0")
          .selectExpr(
            s"explode(shingle_hashes(toks, ${Dedup.DecontamTokens})) AS h")
          .distinct()
        val train = exact.where(s"doc_id % ${Dedup.EvalMod} != 0")
        val dirtyDocs = train
          .selectExpr("doc_id",
            s"explode(shingle_hashes(toks, ${Dedup.DecontamTokens})) AS h")
          .join(broadcast(evalHashes), Seq("h"), "left_semi")
          .select("doc_id").distinct()
        val clean = train.join(dirtyDocs, Seq("doc_id"), "left_anti")
        val packs = clean
          .selectExpr("pmod(doc_id, 8) AS salt", "doc_id", "n_tokens")
          .withColumn("cum", expr(
            """sum(n_tokens) OVER (PARTITION BY salt ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"""))
          .selectExpr("salt", s"coalesce(cum, 0L) div $Budget AS bin", "n_tokens")
        def stage(rank: Long, name: String, df: DataFrame) =
          df.groupBy().agg(
            expr(s"${rank}L AS stage_rank"),
            expr(s"'$name' AS stage"),
            expr("cast(count(*) AS bigint) AS n_docs"),
            expr("cast(coalesce(sum(n_tokens), 0) AS bigint) AS n_tokens"),
            expr("0L AS n_packs"))
        stage(1, "ingested", docs)
          .unionByName(stage(2, "quality", quality))
          .unionByName(stage(3, "exact_dedup", exact))
          .unionByName(stage(4, "decontaminated", clean))
          .unionByName(packs.groupBy().agg(
            expr("5L AS stage_rank"),
            expr("'packed' AS stage"),
            expr("cast(count(*) AS bigint) AS n_docs"),
            expr("cast(coalesce(sum(n_tokens), 0) AS bigint) AS n_tokens"),
            expr("cast(count(DISTINCT salt, bin) AS bigint) AS n_packs")))
      },
      Some(s"""
        WITH d0 AS (
          SELECT doc_id, ${Fns.cleanTextDuck("text")} AS tc
          FROM documents),
        dd AS (
          SELECT doc_id, tc, toks, length(tc)::BIGINT AS char_len,
                 len(toks)::BIGINT AS n_tokens
          FROM (SELECT doc_id, tc, string_split(tc, ' ') AS toks FROM d0)),
        q AS (SELECT * FROM dd WHERE char_len >= 50 AND n_tokens >= 10),
        ex AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY md5(tc) ORDER BY doc_id) AS rk
            FROM q)
          WHERE rk = 1),
        ev AS (
          SELECT DISTINCT h FROM (
            SELECT unnest(list_transform(
                     generate_series(1, len(toks) - ${Dedup.DecontamTokens - 1}),
                     i -> ('0x' || substr(md5(array_to_string(toks[i:i+${Dedup.DecontamTokens - 1}], ' ')), 1, 15))::BIGINT)) AS h
            FROM dd WHERE doc_id % ${Dedup.EvalMod} = 0)),
        dirty AS (
          SELECT DISTINCT doc_id FROM (
            SELECT doc_id,
                   unnest(list_transform(
                     generate_series(1, len(toks) - ${Dedup.DecontamTokens - 1}),
                     i -> ('0x' || substr(md5(array_to_string(toks[i:i+${Dedup.DecontamTokens - 1}], ' ')), 1, 15))::BIGINT)) AS h
            FROM ex WHERE doc_id % ${Dedup.EvalMod} != 0)
          WHERE h IN (SELECT h FROM ev)),
        cln AS (
          SELECT * FROM ex
          WHERE doc_id % ${Dedup.EvalMod} != 0
            AND doc_id NOT IN (SELECT doc_id FROM dirty)),
        pk AS (
          SELECT doc_id % 8 AS salt, n_tokens,
                 coalesce(sum(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $Budget AS bin
          FROM cln)
        SELECT 1::BIGINT AS stage_rank, 'ingested' AS stage,
               count(*)::BIGINT AS n_docs,
               coalesce(sum(n_tokens), 0)::BIGINT AS n_tokens, 0::BIGINT AS n_packs
        FROM dd
        UNION ALL SELECT 2::BIGINT, 'quality', count(*)::BIGINT,
               coalesce(sum(n_tokens), 0)::BIGINT, 0::BIGINT FROM q
        UNION ALL SELECT 3::BIGINT, 'exact_dedup', count(*)::BIGINT,
               coalesce(sum(n_tokens), 0)::BIGINT, 0::BIGINT FROM ex
        UNION ALL SELECT 4::BIGINT, 'decontaminated', count(*)::BIGINT,
               coalesce(sum(n_tokens), 0)::BIGINT, 0::BIGINT FROM cln
        UNION ALL SELECT 5::BIGINT, 'packed', count(*)::BIGINT,
               coalesce(sum(n_tokens), 0)::BIGINT,
               count(DISTINCT (salt, bin))::BIGINT FROM pk""")),

    // ----------------- temperature-scaled language mixing (α-sampling)
    // The multilingual mixing formula mT5 / XLM-R actually train with:
    // sample language l with probability q_l ∝ p_l^α, α ∈ (0, 1) — low
    // α upsamples low-resource languages toward uniform, α = 1 is
    // proportional. tp_mix_weights applies rates someone CHOSE; this
    // row derives them. The α grid is {1, 3/4, 1/2, 1/4} — exactly the
    // exponents expressible with one or two IEEE sqrt calls (p^(1/2),
    // p^(1/4), and p^(3/4) = p^(1/2)·p^(1/4)), keeping the
    // no-transcendentals discipline: sqrt is correctly rounded in both
    // engines, so the milli-quantized weights are bit-identical
    // cross-engine (the α = 1 lane stays exact INTEGER — tokens·1000
    // exceeds double's 2^53 exactness at 100 TB token counts, so it
    // never routes through a double). Output per (α, lang): raw token
    // share, temperature share, and the boost ratio q/p in ppm — the
    // effective upsampling factor the mix assigns each language.
    // Widenings (tokens·1e6, w·1e6) are internal DECIMAL; outputs are
    // BIGINT (RegistrySpec). Scale shape: the corpus folds to ONE
    // lang-bounded aggregate in a single partial-aggregated scan;
    // everything downstream operates on ≤ 4·|langs| rows (two bounded
    // windows partitioned by α).
    QueryDef(
      "tp_mix_temperature",
      (spark, dir) =>
        Tables.documents(spark, dir)
          .selectExpr("lang", "cast((n_chars + 3) div 4 AS bigint) AS tok")
          .groupBy("lang")
          .agg(
            expr("cast(count(*) AS bigint) AS n_docs"),
            expr("cast(sum(tok) AS bigint) AS tokens"))
          .selectExpr("lang", "n_docs", "tokens",
            """stack(4,
                 1000L, cast(0D AS double),
                 750L, sqrt(cast(tokens AS double)) * sqrt(sqrt(cast(tokens AS double))),
                 500L, sqrt(cast(tokens AS double)),
                 250L, sqrt(sqrt(cast(tokens AS double)))) AS (alpha_permille, wd)""")
          .selectExpr("alpha_permille", "lang", "n_docs", "tokens",
            """CASE WHEN alpha_permille = 1000 THEN tokens * 1000
                    ELSE cast(floor(wd * 1000D) AS bigint) END AS w""")
          .withColumn("tw", expr("sum(w) OVER (PARTITION BY alpha_permille)"))
          .withColumn("tt", expr("sum(tokens) OVER (PARTITION BY alpha_permille)"))
          .selectExpr("alpha_permille", "lang", "n_docs", "tokens",
            "cast(cast(tokens AS decimal(38,0)) * 1000000 div tt AS bigint) AS share_ppm",
            "cast(cast(w AS decimal(38,0)) * 1000000 div tw AS bigint) AS q_ppm")
          .selectExpr("alpha_permille", "lang", "n_docs", "tokens", "share_ppm", "q_ppm",
            """CASE WHEN share_ppm = 0 THEN 0L
                    ELSE q_ppm * 1000000L div share_ppm END AS boost_ppm"""),
      Some("""
        WITH b AS (
          SELECT lang, count(*)::BIGINT AS n_docs,
                 sum((n_chars + 3) // 4)::BIGINT AS tokens
          FROM documents GROUP BY lang),
        a AS (SELECT unnest([1000, 750, 500, 250]) AS ap),
        w AS (
          SELECT a.ap::BIGINT AS alpha_permille, b.lang, b.n_docs, b.tokens,
                 CASE WHEN a.ap = 1000 THEN b.tokens * 1000
                      WHEN a.ap = 750 THEN floor(sqrt(b.tokens::DOUBLE) * sqrt(sqrt(b.tokens::DOUBLE)) * 1000)::BIGINT
                      WHEN a.ap = 500 THEN floor(sqrt(b.tokens::DOUBLE) * 1000)::BIGINT
                      ELSE floor(sqrt(sqrt(b.tokens::DOUBLE)) * 1000)::BIGINT END AS w
          FROM b, a),
        t AS (SELECT alpha_permille, sum(w)::HUGEINT AS tw, sum(tokens)::HUGEINT AS tt
              FROM w GROUP BY 1)
        SELECT w.alpha_permille, w.lang, w.n_docs, w.tokens,
               (w.tokens::HUGEINT * 1000000 // t.tt)::BIGINT AS share_ppm,
               (w.w::HUGEINT * 1000000 // t.tw)::BIGINT AS q_ppm,
               (CASE WHEN (w.tokens::HUGEINT * 1000000 // t.tt) = 0 THEN 0
                     ELSE (w.w::HUGEINT * 1000000 // t.tw) * 1000000
                          // (w.tokens::HUGEINT * 1000000 // t.tt) END)::BIGINT AS boost_ppm
        FROM w JOIN t USING (alpha_permille)"""))
  )


  /** The 10 BPE merge rounds tp_bpe_train reports and tp_bpe_apply
    * encodes with.
    */
  private val BpeRounds = 10

  /** The DuckDB form of [[bpeLearn]], shared by the tp_bpe_train and
    * tp_bpe_apply oracles: the word-frequency vocab `v0` (w, wc, seq),
    * then per round r the pair counts `p$r`, the winning pair `t$r` and
    * the merged vocab `v$r`. Ends inside the WITH list, after
    * `v$BpeRounds`.
    */
  private val bpeOracleLearn: String = {
    val iters = (1 to BpeRounds).map { r => s"""
        p$r AS MATERIALIZED (
          SELECT syms[i] AS a, syms[i + 1] AS b, sum(wc)::BIGINT AS cnt
          FROM (SELECT wc, list_filter(string_split(seq, '|'), x -> x != '') AS syms FROM v${r - 1}),
               unnest(generate_series(1, len(syms) - 1)) AS t(i)
          GROUP BY 1, 2),
        t$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
        v$r AS MATERIALIZED (
          SELECT w, wc, replace(seq, a || '|' || b || '|', a || b || '|') AS seq
          FROM v${r - 1}, t$r)"""
    }.mkString(",")
    s"""
        WITH v0 AS MATERIALIZED (
          SELECT w, count(*)::BIGINT AS wc,
                 array_to_string(list_transform(generate_series(1, length(w)), i -> w[i]), '|') || '|' AS seq
          FROM (SELECT unnest(string_split(${Fns.cleanTextDuck("text")}, ' ')) AS w
                FROM documents)
          WHERE w != '' GROUP BY w),
        $iters"""
  }

  /** Learned BPE state: the merges `(a, b, cnt)` in round order and the
    * corpus token total after applying all of them.
    */
  private[graft] final case class BpeModel(merges: Vector[(String, String, Long)], tokens: Long)

  /** Learn up to `rounds` BPE merges over the word-frequency table.
    * The corpus is scanned ONCE, by one distributed word-count pass;
    * its `(wc, seq)` rows are collected and every merge round runs on
    * the driver over those arrays, so round cost is flat in corpus
    * size and linear in vocabulary size (the SPARK_GRAFT_BPE_DEPTH
    * bench mode measures the depth grid). Driver memory is bounded by
    * the vocabulary, not the corpus: a vocabulary too large to collect
    * fails loudly under `spark.driver.maxResultSize`, never silently.
    *
    * The loop keeps Spark SQL's semantics exactly (the same rows the
    * DuckDB oracle computes): symbols are `seq` split on '|' with empty
    * pieces dropped; pair counts are `sum(wc)` with ANSI overflow
    * checks; the winner is the highest count, ties by `a` then `b` in
    * UTF-8 binary order (Spark's and DuckDB's string order, which
    * `String.compareTo`'s UTF-16 order breaks for supplementary-plane
    * symbols); the merge is `String.replace`, leftmost non-overlapping
    * like `UTF8String.replace`. Learning STOPS when no adjacent pair
    * remains (every word fused to one symbol), so fewer than `rounds`
    * merges marks vocab exhaustion; none at all is an error.
    */
  private[graft] def bpeLearn(spark: org.apache.spark.sql.SparkSession,
                              dir: String, rounds: Int): BpeModel = {
    import org.apache.spark.unsafe.types.UTF8String
    val vocab = Tables.documents(spark, dir)
      .selectExpr(
        s"${Fns.cleanTextSql("text")} AS tc")
      .selectExpr("explode(split(tc, ' ')) AS w")
      .where("w != ''")
      .groupBy("w").agg(expr("cast(count(*) AS bigint) AS wc"))
      .selectExpr("wc",
        "concat(array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), '|'), '|') AS seq")
      .collect()
    val wc = vocab.map(_.getLong(0))
    val seq = vocab.map(_.getString(1))
    def syms(s: String): Array[String] = s.split('|').filter(_.nonEmpty)
    val utf8 = Ordering.fromLessThan[String] { (x, y) =>
      UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y)) < 0
    }
    val rank = Ordering.Tuple3(Ordering.Long.reverse, utf8, utf8) // cnt DESC, a, b
    val merges = Vector.newBuilder[(String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      val pairs = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for (i <- seq.indices; s = syms(seq(i)); j <- 0 until s.length - 1) {
        val k = (s(j), s(j + 1))
        pairs(k) = Math.addExact(pairs.getOrElse(k, 0L), wc(i))
      }
      if (pairs.isEmpty) exhausted = true
      else {
        val (cnt, a, b) = pairs.iterator.map { case ((a, b), c) => (c, a, b) }.min(rank)
        merges += ((a, b, cnt))
        for (i <- seq.indices) seq(i) = seq(i).replace(s"$a|$b|", s"$a$b|")
        r += 1
      }
    }
    require(r > 0, s"corpus under $dir yielded no mergeable pairs")
    val tokens = seq.indices.foldLeft(0L) { (t, i) =>
      Math.addExact(t, Math.multiplyExact(wc(i), syms(seq(i)).length.toLong))
    }
    BpeModel(merges.result(), tokens)
  }

  /** One committed lake copy of the corpus per (session, sfDir) for
    * tp_release_gate. Without the memo, every PLAN BUILD (Bench warmup
    * + each timed pass, RegistrySpec, the profile lane) wrote a fresh
    * corpus copy. The root is a held [[graft.TmpDirs]] dir: the bench
    * lanes' sweep leaves it to the session, and the exit hook deletes it.
    */
  private val gateLakeRoot = new graft.SessionMemo[String]((spark, dir) => {
    val root = graft.TmpDirs.create("graft_gate", held = true).toString + "/documents"
    graft.sources.Lake.commitVersion(spark, Tables.documents(spark, dir), root)
    root
  }, _ => ())

  /** The 10-round [[BpeModel]] per (session, dir), shared by
    * tp_bpe_train (which reports the merges) and tp_bpe_apply (which
    * encodes the corpus with them). tp_bpe_train's OUTPUT-level memo:
    * its `resetMemo` is this memo's `reset`, so a timed bench pass
    * measures the merge learning, not a cached read (tp_bpe_apply
    * keeps reading the memo — the merges are its INPUT). The model is
    * 10 merges and a count, so nothing is persisted and the reset only
    * drops it; the learn itself holds the collected vocabulary on the
    * driver (see [[bpeLearn]] for that bound).
    */
  private[graft] val bpeLearned =
    new graft.SessionMemo[BpeModel](bpeLearn(_, _, BpeRounds), _ => ())

  /** Layout-independent dense rank over the doc-id set: (doc_id, rk)
    * with rk the 0-based position in ascending doc_id order — the draw
    * space for contrastive negatives, valid for sparse, shifted, or
    * gappy id layouts (the dense-ids `mod n_docs` shortcut it replaces
    * silently drew nonexistent partners on any other layout).
    *
    * Ranked WITHOUT a global window (a single-reducer sort at corpus
    * scale): order-preserving range buckets (`(doc_id - mn) div w`),
    * a cumulative offset table over the ≤256 bucket counts (window
    * over a bounded set), then a per-bucket row_number whose partition
    * is one bucket — rank = bucket offset + in-bucket position.
    */
  private[graft] def rankedDocIds(docs: DataFrame): DataFrame = {
    val nBuckets = 256L
    val stats = docs.groupBy().agg(
      expr("min(doc_id) AS mn"), expr("max(doc_id) AS mx"))
    val bucketed = docs.select("doc_id").crossJoin(broadcast(stats))
      .selectExpr("doc_id",
        s"(doc_id - mn) div ((mx - mn) div $nBuckets + 1) AS bkt")
    val offsets = bucketed.groupBy("bkt")
      .agg(expr("cast(count(*) AS bigint) AS cnt"))
      .selectExpr("bkt",
        "coalesce(sum(cnt) OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L) AS off")
    bucketed.join(broadcast(offsets), "bkt")
      .selectExpr("doc_id",
        "cast(off + row_number() OVER (PARTITION BY bkt ORDER BY doc_id) - 1 AS bigint) AS rk")
  }

  /** Fluency floor for tp_curate_semantic (ppm of avg bigram
    * probability — drops the bottom ~decile of the synthetic corpus).
    */
  private val LmFloor = 32000L

  /** Token budget per pack (tp_pack_tokens and tp_pack_ffd). */
  private val Budget = 2048L

  /** The MinHash verified-pair SQL (Dedup's), for funnel CTE reuse. */
  private def minhashPairsSqlRef: String = Dedup.minhashPairsSql

  /** SemDeDup pruning threshold — see the tp_semdedup docstring.
    * private[graft]: the streaming twin (st_semdedup) must apply the
    * IDENTICAL threshold.
    */
  private[graft] val SemTheta = "0.3"

  /** tp_semdedup's oracle, shared by st_semdedup. */
  private[graft] val semDedupOracleSql: String = s"""
        WITH cent AS (SELECT vec_id AS cent_id, embedding AS cent_emb
                      FROM embeddings WHERE vec_id < 8),
        assigned AS (
          SELECT vec_id, embedding, cent_id AS cluster_id
          FROM (
            SELECT e.vec_id, e.embedding, c.cent_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY ${Knn.dCos("e.embedding", "c.cent_emb")} DESC, c.cent_id) AS rn
            FROM embeddings e, cent c)
          WHERE rn = 1),
        drops AS (
          SELECT DISTINCT b.vec_id
          FROM assigned a JOIN assigned b
            ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
          WHERE ${Knn.dCos("a.embedding", "b.embedding")} >= $SemTheta)
        SELECT a.vec_id, a.cluster_id, (d.vec_id IS NULL) AS kept
        FROM assigned a LEFT JOIN drops d ON a.vec_id = d.vec_id"""

  /** Shared SemDeDup machinery: exchange-free centroid assignment plus
    * the drop set (vectors with a lower-id in-cluster neighbor at
    * cosine ≥ θ). Used by tp_semdedup and tp_curate_semantic.
    */
  private def semanticAssignAndDrops(spark: org.apache.spark.sql.SparkSession,
                                     dir: String): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(spark, dir)
    val assigned = Knn.assignToCentroids(
        e, e.where("vec_id < 8")
          .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb")))
      .select("vec_id", "cluster_id", "embedding")
    val drops = assigned.selectExpr("cluster_id", "vec_id AS va", "embedding AS ea")
      .join(assigned.selectExpr("cluster_id", "vec_id AS vb", "embedding AS eb"),
        Seq("cluster_id"))
      .where(s"va < vb AND cosine_f(ea, eb) >= $SemTheta")
      .select(col("vb").as("vec_id")).distinct()
    (assigned, drops)
  }
}
