package graft.operators

import org.apache.spark.sql.graft.CheckpointOps.FenceSyntax
import graft.{Fns, QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-quality constraint audit — the Deequ-style validation pass a
  * production pipeline runs before promoting a batch: uniqueness,
  * completeness, derived-column consistency, referential integrity,
  * value ranges, and fixed-shape checks, each reported as one row with
  * its violation count.
  *
  * Scale shape: every check is an independent partial-aggregated scan
  * (count / count distinct / anti-join count) unioned into a tiny
  * report — no check ever materializes violating ROWS (at 100 TB the
  * report must stay O(checks), with row-level drill-down as a separate
  * targeted query). Referential checks are anti joins that broadcast
  * the smaller key side.
  */
object Quality {

  /** dq_outliers' oracle, shared by st_outliers. */
  private[graft] val outliersOracleSql: String = """
        WITH e AS (SELECT event_id, event_type, value FROM events),
        m AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
              FROM e GROUP BY event_type),
        d AS (SELECT event_id, e.event_type, value, med, abs(value - med) AS ad
              FROM e JOIN m ON e.event_type = m.event_type),
        md AS (SELECT event_type, round(quantile_cont(ad, 0.5), 6) AS mad
               FROM d GROUP BY event_type)
        SELECT event_id, d.event_type AS event_type, round(value, 6) AS value,
               round(med, 6) AS med, round(mad, 6) AS mad,
               round(ad / (1.4826 * mad), 6) AS robust_z
        FROM d JOIN md ON d.event_type = md.event_type
        WHERE ad > 3 * 1.4826 * mad"""

  /** dq_drift's oracle, shared by st_drift. */
  private[graft] val driftOracleSql: String = """
        WITH ev AS (SELECT value, CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS is_ref
                    FROM events),
        cuts AS (
          SELECT round(quantile_cont(value, 0.1), 6) AS c1,
                 round(quantile_cont(value, 0.2), 6) AS c2,
                 round(quantile_cont(value, 0.3), 6) AS c3,
                 round(quantile_cont(value, 0.4), 6) AS c4,
                 round(quantile_cont(value, 0.5), 6) AS c5,
                 round(quantile_cont(value, 0.6), 6) AS c6,
                 round(quantile_cont(value, 0.7), 6) AS c7,
                 round(quantile_cont(value, 0.8), 6) AS c8,
                 round(quantile_cont(value, 0.9), 6) AS c9
          FROM ev WHERE is_ref = 1),
        counts AS (
          SELECT 1 + (value > c1)::INT + (value > c2)::INT + (value > c3)::INT
                   + (value > c4)::INT + (value > c5)::INT + (value > c6)::INT
                   + (value > c7)::INT + (value > c8)::INT + (value > c9)::INT AS bucket,
                 sum(is_ref)::BIGINT AS n_ref, sum(1 - is_ref)::BIGINT AS n_cur
          FROM ev, cuts GROUP BY 1),
        tot AS (SELECT sum(n_ref)::BIGINT AS t_ref, sum(n_cur)::BIGINT AS t_cur FROM counts),
        per AS (
          SELECT bucket::BIGINT AS bucket, n_ref, n_cur,
                 (n_ref * 1000000 // t_ref)::BIGINT AS ppm_ref,
                 (n_cur * 1000000 // t_cur)::BIGINT AS ppm_cur,
                 abs(n_ref * 1000000 // t_ref - n_cur * 1000000 // t_cur)::BIGINT AS diff_ppm
          FROM counts, tot)
        SELECT * FROM per
        UNION ALL
        SELECT -1, sum(n_ref)::BIGINT, sum(n_cur)::BIGINT, 1000000, 1000000,
               (sum(diff_ppm) // 2)::BIGINT
        FROM per"""

  def queries: Seq[QueryDef] = Seq(
    QueryDef(
      "dq_constraints",
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val orders = Tables.orders(spark, dir)
        val cust = Tables.customer(spark, dir)
        val li = Tables.lineitem(spark, dir)
        val emb = Tables.embeddings(spark, dir)
        val ev = Tables.events(spark, dir)
        def check(name: String, df: org.apache.spark.sql.DataFrame) =
          df.selectExpr(s"'$name' AS check_name", "total", "violations")
        val uniq = check("documents.doc_id unique",
          docs.groupBy().agg(expr("count(*) AS total"),
            expr("count(*) - count(DISTINCT doc_id) AS violations")))
        val nn = check("documents.text not null",
          docs.groupBy().agg(expr("count(*) AS total"),
            expr("sum(CASE WHEN text IS NULL THEN 1L ELSE 0L END) AS violations")))
        val derived = check("documents.n_chars = length(text)",
          docs.groupBy().agg(expr("count(*) AS total"),
            expr("sum(CASE WHEN n_chars != length(text) THEN 1L ELSE 0L END) AS violations")))
        // no broadcast hint: customer is corpus-cardinality (one row
        // per customer) — AQE may still broadcast when it measures
        // small, but forcing it is a driver OOM at 10⁹ customers
        val refOrders = check("orders.o_custkey in customer",
          orders.join(cust.select("c_custkey"),
              col("o_custkey") === col("c_custkey"), "left")
            .groupBy().agg(expr("count(*) AS total"),
              expr("sum(CASE WHEN c_custkey IS NULL THEN 1L ELSE 0L END) AS violations")))
        val refLi = check("lineitem.l_orderkey in orders",
          li.join(orders.select("o_orderkey"),
              col("l_orderkey") === col("o_orderkey"), "left")
            .groupBy().agg(expr("count(*) AS total"),
              expr("sum(CASE WHEN o_orderkey IS NULL THEN 1L ELSE 0L END) AS violations")))
        val range = check("events.value in [0, 1e6]",
          ev.groupBy().agg(expr("count(*) AS total"),
            expr("sum(CASE WHEN value < 0D OR value > 1000000D THEN 1L ELSE 0L END) AS violations")))
        val dim = check("embeddings dim = 64",
          emb.groupBy().agg(expr("count(*) AS total"),
            expr("sum(CASE WHEN size(embedding) != 64 THEN 1L ELSE 0L END) AS violations")))
        uniq.unionByName(nn).unionByName(derived).unionByName(refOrders)
          .unionByName(refLi).unionByName(range).unionByName(dim)
          .selectExpr("check_name", "total", "violations",
            "CASE WHEN violations = 0 THEN 1L ELSE 0L END AS pass")
      },
      Some("""
        SELECT check_name, total, violations,
               (CASE WHEN violations = 0 THEN 1 ELSE 0 END)::BIGINT AS pass
        FROM (
          SELECT 'documents.doc_id unique' AS check_name, count(*) AS total,
                 count(*) - count(DISTINCT doc_id) AS violations FROM documents
          UNION ALL
          SELECT 'documents.text not null', count(*),
                 sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT FROM documents
          UNION ALL
          SELECT 'documents.n_chars = length(text)', count(*),
                 sum(CASE WHEN n_chars != length(text) THEN 1 ELSE 0 END)::BIGINT FROM documents
          UNION ALL
          SELECT 'orders.o_custkey in customer', count(*),
                 sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
          FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
          UNION ALL
          SELECT 'lineitem.l_orderkey in orders', count(*),
                 sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
          FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
          UNION ALL
          SELECT 'events.value in [0, 1e6]', count(*),
                 sum(CASE WHEN value < 0 OR value > 1000000 THEN 1 ELSE 0 END)::BIGINT FROM events
          UNION ALL
          SELECT 'embeddings dim = 64', count(*),
                 sum(CASE WHEN len(embedding) != 64 THEN 1 ELSE 0 END)::BIGINT FROM embeddings)""")),

    // ----------------------------------- robust outlier flagging (MAD)
    // The row-level drill-down companion to dq_constraints: flag events
    // whose value sits more than 3 robust standard deviations from its
    // event-type median, where the robust σ is 1.4826·MAD (median
    // absolute deviation) — immune to the very outliers it hunts,
    // unlike mean/stddev z-scores which a single 10⁶ value drags.
    //
    // Scale shape: two grouped exact medians over event_type (BOUNDED
    // group count — the percentile buffer is per-type, and the
    // approx_percentile sketch is the drop-in when types are unbounded)
    // and two broadcast joins of the tiny per-type stats back onto the
    // scan; the flag predicate evaluates row-local. Output is only the
    // flagged tail (~1% of rows), never the corpus.
    QueryDef(
      "dq_outliers",
      (spark, dir) =>
        outlierReport(Tables.events(spark, dir)
          .selectExpr("event_id", "event_type", "value")),
      Some(outliersOracleSql)),

    // --------------------------------------------- corpus datasheet
    // The "datasheets for datasets" summary a training-data release
    // ships: one row per metric over the whole corpus — volume, token
    // budget, language/source diversity, duplication rate, length
    // distribution. Every metric is an independent partial-aggregated
    // scan UNIONed into an O(metrics) report (the dq_constraints
    // shape, pointed at description instead of validation); the token
    // count is the exact integer BPE-ish estimate used corpus-wide.
    QueryDef(
      "tp_dataset_card",
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
          .selectExpr("doc_id", "lang", "source", "n_chars",
            s"${Fns.cleanTextSql("text")} AS tc")
        val base = docs.selectExpr("doc_id", "lang", "source", "n_chars",
          "cast((length(tc) + 3) div 4 AS bigint) AS n_tokens", "md5(tc) AS th")
        val metrics = Seq(
          base.selectExpr("'documents' AS metric", "cast(count(*) AS bigint) AS value"),
          base.selectExpr("'tokens_total' AS metric", "cast(sum(n_tokens) AS bigint) AS value"),
          base.selectExpr("'chars_total' AS metric", "cast(sum(n_chars) AS bigint) AS value"),
          base.selectExpr("'languages' AS metric", "cast(count(DISTINCT lang) AS bigint) AS value"),
          base.selectExpr("'sources' AS metric", "cast(count(DISTINCT source) AS bigint) AS value"),
          base.selectExpr("'distinct_texts' AS metric", "cast(count(DISTINCT th) AS bigint) AS value"),
          base.selectExpr("'exact_dup_docs' AS metric",
            "cast(count(*) - count(DISTINCT th) AS bigint) AS value"),
          base.selectExpr("'len_min' AS metric", "cast(min(n_chars) AS bigint) AS value"),
          base.selectExpr("'len_max' AS metric", "cast(max(n_chars) AS bigint) AS value"),
          base.selectExpr("'len_p50' AS metric",
            "cast(floor(percentile(n_chars, 0.5)) AS bigint) AS value"))
        metrics.reduce(_ unionByName _)
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id, lang, source, n_chars,
                 ((length(tc) + 3) // 4)::BIGINT AS n_tokens, md5(tc) AS th
          FROM (SELECT doc_id, lang, source, n_chars,
                       ${Fns.cleanTextDuck("text")} AS tc
                FROM documents))
        SELECT 'documents' AS metric, count(*)::BIGINT AS value FROM base
        UNION ALL SELECT 'tokens_total', sum(n_tokens)::BIGINT FROM base
        UNION ALL SELECT 'chars_total', sum(n_chars)::BIGINT FROM base
        UNION ALL SELECT 'languages', count(DISTINCT lang)::BIGINT FROM base
        UNION ALL SELECT 'sources', count(DISTINCT source)::BIGINT FROM base
        UNION ALL SELECT 'distinct_texts', count(DISTINCT th)::BIGINT FROM base
        UNION ALL SELECT 'exact_dup_docs', (count(*) - count(DISTINCT th))::BIGINT FROM base
        UNION ALL SELECT 'len_min', min(n_chars)::BIGINT FROM base
        UNION ALL SELECT 'len_max', max(n_chars)::BIGINT FROM base
        UNION ALL SELECT 'len_p50', floor(quantile_cont(n_chars, 0.5))::BIGINT FROM base""")),

    // ------------------------------------ distribution drift monitor
    // Train/serve drift detection: the month's first half is the
    // reference window, the second half the current one; the reference
    // value distribution defines decile boundaries and both halves
    // histogram against them. The drift statistic is total variation
    // distance in integer parts-per-million (Σ|ppm_ref − ppm_cur|/2) —
    // deliberately TVD and not PSI/KL, whose ln() is last-ulp
    // divergent cross-engine (the ta_lm_score lesson); at equal bucket
    // counts TVD ranks drifts the same way. Boundaries are rounded to
    // 6 decimals BEFORE any comparison (the dq_outliers discipline).
    // Scale shape: one bounded grouped percentile on the reference
    // half (9 values, broadcast), bucket assignment row-local in the
    // scan, a 10-row groupBy, and ppm arithmetic on that tiny result —
    // the corpus is read once and never shuffled.
    QueryDef(
      "dq_drift",
      (spark, dir) => {
        val ev = Tables.events(spark, dir).selectExpr("value",
          "CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS is_ref")
        val cuts = driftCuts(ev)
        driftReport(bucketize(ev, cuts)
          .groupBy("bucket").agg(
            expr("cast(sum(is_ref) AS bigint) AS n_ref"),
            expr("cast(sum(1 - is_ref) AS bigint) AS n_cur")))
      },
      Some(driftOracleSql)),

    // ---------------- two-sample Kolmogorov–Smirnov drift (exact)
    // dq_drift's decile TVD quantizes the distribution into 10 buckets
    // a drift can hide inside; the KS statistic is the EXACT
    // distribution-free alternative — D = sup_x |F_ref(x) − F_cur(x)|,
    // evaluated per event_type between the month's halves. All
    // arithmetic is integer: at every distinct value, the ECDF gap
    // |cum_ref·n_cur − cum_cur·n_ref| is an exact cross-product (never
    // a float quotient), D's numerator is the max of those, and the
    // reported d_ppm divides once at the end in DECIMAL(38,0) (the
    // 10⁶-scaled product overflows int64 once n_ref·n_cur > 9.2e12 —
    // per-type halves beyond ~3M×3M rows — so the widening is load-
    // bearing at scale, not pedantry). Ties need no special-casing:
    // grouping by value first makes each ECDF step land exactly once.
    // Scale shape: one (type, value) partial-aggregated reduction,
    // then ONE exchange on event_type whose windows (cumsum + totals)
    // and final max share it — the raw corpus never shuffles.
    QueryDef(
      "dq_ks_drift",
      (spark, dir) =>
        Tables.events(spark, dir)
          .selectExpr("event_type", "cast(value AS decimal(18,6)) AS v",
            "CASE WHEN day(ts) <= 15 THEN 1L ELSE 0L END AS is_ref")
          .groupBy("event_type", "v")
          .agg(
            expr("cast(sum(is_ref) AS bigint) AS r"),
            expr("cast(sum(1 - is_ref) AS bigint) AS c"))
          .selectExpr("event_type",
            """cast(sum(r) OVER (PARTITION BY event_type ORDER BY v) AS bigint) AS cr""",
            """cast(sum(c) OVER (PARTITION BY event_type ORDER BY v) AS bigint) AS cc""",
            """cast(sum(r) OVER (PARTITION BY event_type) AS bigint) AS nr""",
            """cast(sum(c) OVER (PARTITION BY event_type) AS bigint) AS nc""")
          .groupBy("event_type")
          .agg(
            expr("max(nr) AS n_ref"),
            expr("max(nc) AS n_cur"),
            expr("cast(max(abs(cr * nc - cc * nr)) AS bigint) AS d_num"),
            expr("""cast(cast(max(abs(cr * nc - cc * nr)) AS decimal(38,0)) * 1000000
                    div (cast(max(nr) AS decimal(38,0)) * max(nc)) AS bigint) AS d_ppm""")),
      Some("""
        WITH ev AS (
          SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v,
                 CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS is_ref
          FROM events),
        pts AS (
          SELECT event_type, v,
                 sum(is_ref)::BIGINT AS r, sum(1 - is_ref)::BIGINT AS c
          FROM ev GROUP BY 1, 2),
        cum AS (
          SELECT event_type,
                 sum(r) OVER (PARTITION BY event_type ORDER BY v)::BIGINT AS cr,
                 sum(c) OVER (PARTITION BY event_type ORDER BY v)::BIGINT AS cc,
                 sum(r) OVER (PARTITION BY event_type)::BIGINT AS nr,
                 sum(c) OVER (PARTITION BY event_type)::BIGINT AS nc
          FROM pts)
        SELECT event_type, max(nr) AS n_ref, max(nc) AS n_cur,
               max(abs(cr * nc - cc * nr))::BIGINT AS d_num,
               CAST((max(abs(cr * nc - cc * nr))::HUGEINT * 1000000)
                    // (max(nr)::HUGEINT * max(nc)) AS BIGINT) AS d_ppm
        FROM cum GROUP BY event_type""")),

    // ------------------------- k-anonymity audit (privacy readiness)
    // Before a table ships as training data, the release gate every
    // privacy review runs: bucket each record by its quasi-identifier
    // tuple (here nation × market segment × coarse balance band — the
    // attributes an adversary could link externally) and flag every
    // equivalence class smaller than k=5, whose members are
    // re-identifiable. Output: one row per QI class with its size and
    // k-anonymous flag, plus a '-1 summary' row counting risky classes
    // and the records needing suppression/generalization. Scale shape:
    // one hash aggregate on the QI tuple (map-side partial combine),
    // then a broadcast-sized class table folds into the summary —
    // never a self-join, never a window.
    QueryDef(
      "dq_kanon",
      (spark, dir) => {
        val k = 5L
        val classes = Tables.customer(spark, dir)
          .selectExpr("cast(c_nationkey AS bigint) AS nation", "c_mktsegment AS segment",
            "cast(floor(c_acctbal / 2000) AS bigint) AS bal_band")
          .groupBy("nation", "segment", "bal_band")
          .agg(expr("cast(count(*) AS bigint) AS n"))
          .selectExpr("nation", "segment", "bal_band", "n",
            s"CASE WHEN n >= $k THEN 1L ELSE 0L END AS k_anon")
        classes.unionByName(
          classes.groupBy().agg(
              expr("cast(sum(CASE WHEN k_anon = 0 THEN 1 ELSE 0 END) AS bigint) AS risky_classes"),
              expr("cast(sum(CASE WHEN k_anon = 0 THEN n ELSE 0 END) AS bigint) AS risky_rows"))
            .selectExpr("-1L AS nation", "'(summary)' AS segment",
              "risky_classes AS bal_band", "risky_rows AS n", "-1L AS k_anon"))
      },
      Some("""
        WITH classes AS (
          SELECT c_nationkey::BIGINT AS nation, c_mktsegment AS segment,
                 floor(c_acctbal / 2000)::BIGINT AS bal_band,
                 count(*)::BIGINT AS n
          FROM customer GROUP BY 1, 2, 3)
        SELECT nation, segment, bal_band, n,
               (CASE WHEN n >= 5 THEN 1 ELSE 0 END)::BIGINT AS k_anon
        FROM classes
        UNION ALL
        SELECT -1, '(summary)',
               sum(CASE WHEN n < 5 THEN 1 ELSE 0 END)::BIGINT,
               sum(CASE WHEN n < 5 THEN n ELSE 0 END)::BIGINT,
               -1
        FROM classes""")),

    // ----------------------- l-diversity audit (homogeneity attack)
    // k-anonymity's blind spot: a class can hold k ≥ 5 rows and still
    // leak the sensitive attribute when all k AGREE on it (the
    // homogeneity attack). Distinct l-diversity requires ≥ l distinct
    // sensitive values per quasi-identifier class — here quasi-ids
    // (nation, bal_band), sensitive attribute = market segment, l = 3.
    // Scale shape: one hash aggregate with a distinct count — Spark
    // expands it into the two-phase (class, segment) partial dedup
    // then per-class count, both map-side combinable; the summary is a
    // second aggregate over the (bounded: one row per class) result.
    // No join, no window, nothing corpus-sized leaves the first
    // shuffle.
    QueryDef(
      "dq_l_diversity",
      (spark, dir) => {
        val l = 3L
        val classes = Tables.customer(spark, dir)
          .selectExpr("cast(c_nationkey AS bigint) AS nation",
            "cast(floor(c_acctbal / 2000) AS bigint) AS bal_band", "c_mktsegment AS segment")
          .groupBy("nation", "bal_band")
          .agg(expr("cast(count(*) AS bigint) AS n"),
            expr("cast(count(DISTINCT segment) AS bigint) AS l_distinct"))
          .selectExpr("nation", "bal_band", "n", "l_distinct",
            s"CASE WHEN l_distinct >= $l THEN 1L ELSE 0L END AS l_div")
        classes.unionByName(
          classes.groupBy().agg(
              expr("cast(sum(CASE WHEN l_div = 0 THEN 1 ELSE 0 END) AS bigint) AS risky_classes"),
              expr("cast(sum(CASE WHEN l_div = 0 THEN n ELSE 0 END) AS bigint) AS risky_rows"))
            .selectExpr("-1L AS nation", "risky_classes AS bal_band",
              "risky_rows AS n", "-1L AS l_distinct", "-1L AS l_div"))
      },
      Some("""
        WITH classes AS (
          SELECT c_nationkey::BIGINT AS nation,
                 floor(c_acctbal / 2000)::BIGINT AS bal_band,
                 count(*)::BIGINT AS n,
                 count(DISTINCT c_mktsegment)::BIGINT AS l_distinct
          FROM customer GROUP BY 1, 2)
        SELECT nation, bal_band, n, l_distinct,
               (CASE WHEN l_distinct >= 3 THEN 1 ELSE 0 END)::BIGINT AS l_div
        FROM classes
        UNION ALL
        SELECT -1,
               sum(CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END)::BIGINT,
               sum(CASE WHEN l_distinct < 3 THEN n ELSE 0 END)::BIGINT,
               -1, -1
        FROM classes""")),

    // ----------------------- t-closeness audit (skewness attack)
    // l-diversity's blind spot: a class can hold l ≥ 3 DISTINCT
    // sensitive values and still leak when its DISTRIBUTION over them
    // departs far from the table's (the skewness attack — "90 % of
    // this class is BUILDING" is a disclosure even with 3 segments
    // present). t-closeness (Li et al.) bounds the distance between
    // each class's sensitive distribution and the global one; for a
    // categorical attribute the equal-ground-distance EMD is total
    // variation = Σ|p_class − p_global| / 2, computed here in exact
    // integer ppm so both engines agree bit-for-bit. t = 0.2 (200 000
    // ppm). Scale shape: one corpus hash aggregate on (class,
    // segment); everything after is CLASS-bounded — the per-class ×
    // 5-segment dense grid (missing segments must still contribute
    // |0 − p_global|, hence the broadcast cross join, never a corpus
    // product), a broadcast global-distribution row, one bounded
    // rollup. The (class, segment) counts are checkpoint-fenced once
    // because three aggregates consume them (the recompute hazard).
    QueryDef(
      "dq_t_closeness",
      (spark, dir) => {
        val t = 200000L
        val cnt = Tables.customer(spark, dir)
          .selectExpr("cast(c_nationkey AS bigint) AS nation",
            "cast(floor(c_acctbal / 2000) AS bigint) AS bal_band", "c_mktsegment AS segment")
          .groupBy("nation", "bal_band", "segment")
          .agg(expr("cast(count(*) AS bigint) AS nc"))
          .fenced // class-bounded; feeds cls + segs + glob + grid
        val cls = cnt.groupBy("nation", "bal_band").agg(expr("cast(sum(nc) AS bigint) AS n"))
        val segs = cnt.select("segment").distinct()
        val glob = cnt.groupBy("segment").agg(expr("cast(sum(nc) AS bigint) AS ns"))
          .crossJoin(broadcast(cnt.groupBy().agg(expr("cast(sum(nc) AS bigint) AS ntot"))))
          .selectExpr("segment", "ns * 1000000 div ntot AS gppm")
        val per = cls.crossJoin(broadcast(segs))
          .join(cnt, Seq("nation", "bal_band", "segment"), "left")
          .join(broadcast(glob), "segment")
          .selectExpr("nation", "bal_band", "n",
            "abs(coalesce(nc, 0L) * 1000000 div n - gppm) AS d")
          .groupBy("nation", "bal_band")
          .agg(expr("cast(max(n) AS bigint) AS n"),
            expr("cast(sum(d) div 2 AS bigint) AS dist_ppm"))
          .selectExpr("nation", "bal_band", "n", "dist_ppm",
            s"CASE WHEN dist_ppm <= $t THEN 1L ELSE 0L END AS t_close")
        per.unionByName(
          per.groupBy().agg(
              expr("cast(sum(CASE WHEN t_close = 0 THEN 1 ELSE 0 END) AS bigint) AS risky_classes"),
              expr("cast(sum(CASE WHEN t_close = 0 THEN n ELSE 0 END) AS bigint) AS risky_rows"))
            .selectExpr("-1L AS nation", "risky_classes AS bal_band",
              "risky_rows AS n", "-1L AS dist_ppm", "-1L AS t_close"))
      },
      Some("""
        WITH cnt AS (
          SELECT c_nationkey::BIGINT AS nation,
                 floor(c_acctbal / 2000)::BIGINT AS bal_band,
                 c_mktsegment AS segment, count(*)::BIGINT AS nc
          FROM customer GROUP BY 1, 2, 3),
        cls AS (SELECT nation, bal_band, sum(nc)::BIGINT AS n FROM cnt GROUP BY 1, 2),
        gdist AS (
          SELECT segment,
                 (sum(nc)::BIGINT * 1000000 // (SELECT sum(nc)::BIGINT FROM cnt))::BIGINT AS gppm
          FROM cnt GROUP BY 1),
        per0 AS (
          SELECT c.nation, c.bal_band, c.n,
                 abs(coalesce(t.nc, 0) * 1000000 // c.n - g.gppm)::BIGINT AS d
          FROM cls c
          CROSS JOIN (SELECT DISTINCT segment FROM cnt) s
          JOIN gdist g ON g.segment = s.segment
          LEFT JOIN cnt t ON t.nation = c.nation AND t.bal_band = c.bal_band
                         AND t.segment = s.segment),
        per AS (
          SELECT nation, bal_band, max(n)::BIGINT AS n,
                 (sum(d) // 2)::BIGINT AS dist_ppm
          FROM per0 GROUP BY 1, 2)
        SELECT nation, bal_band, n, dist_ppm,
               (CASE WHEN dist_ppm <= 200000 THEN 1 ELSE 0 END)::BIGINT AS t_close
        FROM per
        UNION ALL
        SELECT -1,
               sum(CASE WHEN dist_ppm > 200000 THEN 1 ELSE 0 END)::BIGINT,
               sum(CASE WHEN dist_ppm > 200000 THEN n ELSE 0 END)::BIGINT,
               -1, -1
        FROM per""")),

    // ------------------------ Benford first-digit audit (fraud/forensics)
    // The classic forensic screen: naturally-occurring magnitudes
    // follow Benford's law (P(d) = log10(1 + 1/d)); fabricated or
    // systematically-generated numbers usually don't, so the per-digit
    // deviation profile is the first thing an auditor pulls on a
    // numeric column. Cross-engine exactness: the first significant
    // digit comes from the INTEGER micros value's canonical decimal
    // string (both engines print integers identically — no log10, no
    // float formatting), and the Benford expectations are inlined
    // integer ppm CONSTANTS computed once offline, so every output
    // cell is integer arithmetic. One scan, one 9-bucket aggregate —
    // the dq_kanon cost class. The synthetic uniform `value` column
    // deliberately VIOLATES Benford (uniform magnitudes are the
    // textbook non-conforming case) — the gate pins the deviation
    // measurement, not conformity.
    QueryDef(
      "dq_benford",
      (spark, dir) => {
        val benford = (1 to 9)
          .map(d => s"WHEN $d THEN ${Seq(301030, 176091, 124939, 96910, 79181,
            66947, 57992, 51153, 45757)(d - 1)}L")
          .mkString("CASE digit ", " ", " END")
        // fence the 9-row aggregate: it feeds BOTH the output rows and
        // the re-aggregated total below, and without a checkpoint the
        // events scan+aggregate can execute once per consumer (the
        // dq_t_closeness recompute-hazard pattern)
        val digits = Tables.events(spark, dir)
          .selectExpr("cast(cast(value AS decimal(18,6)) * 1000000 AS bigint) AS vm")
          .where("vm > 0")
          .selectExpr("cast(substring(cast(vm AS string), 1, 1) AS bigint) AS digit")
          .groupBy("digit").agg(expr("cast(count(*) AS bigint) AS n"))
          .fenced
        digits
          .crossJoin(broadcast(digits.groupBy().agg(expr("cast(sum(n) AS bigint) AS total"))))
          .selectExpr("digit", "n",
            "n * 1000000 div total AS share_ppm",
            s"$benford AS benford_ppm")
          .selectExpr("digit", "n", "share_ppm", "benford_ppm",
            "abs(share_ppm - benford_ppm) AS dev_ppm")
      },
      Some {
        val rows = (1 to 9).map(d => s"($d, ${Seq(301030, 176091, 124939, 96910,
          79181, 66947, 57992, 51153, 45757)(d - 1)})").mkString(", ")
        s"""
        WITH b(digit, benford_ppm) AS (SELECT * FROM (VALUES $rows)),
        d AS (
          SELECT CAST(substr(CAST(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
          FROM events
          WHERE CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) > 0),
        cnt AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY digit),
        t AS (SELECT sum(n)::BIGINT AS total FROM cnt)
        SELECT cnt.digit AS digit, n,
               (n * 1000000 // total)::BIGINT AS share_ppm,
               benford_ppm::BIGINT AS benford_ppm,
               abs(n * 1000000 // total - benford_ppm)::BIGINT AS dev_ppm
        FROM cnt JOIN b ON b.digit = cnt.digit, t"""
      }),

    // ------------------------ column profiling (dataset statistics)
    // The Deequ/Great-Expectations-style profiler a release gate runs
    // BEFORE writing constraints: per column of `orders`, row count,
    // null count, EXACT distinct count, and lexicographic min/max over
    // a canonical string form (decimals with fixed scale, timestamps
    // as epoch seconds — the established cross-engine forms, never raw
    // double/timestamp rendering). One corpus scan: each row explodes
    // to 6 (column, value) pairs, a first aggregate keyed (column,
    // value) collapses to the distinct-value table with partial
    // map-side combine (this is where 100 TB dies to ~vocab size), and
    // a 6-group rollup derives every statistic from those counts —
    // n_distinct is NOT a count(DISTINCT) over the corpus (which would
    // Expand the scan 6×) but a count over the already-collapsed
    // groups.
    QueryDef(
      "dq_profile",
      (spark, dir) =>
        // r16: UNION of per-column scans instead of one explode-unpivot
        // scan. Two prior attempts at the serialized single-task stage
        // (the fixture parquet has one row group, so the explode scan
        // could not split): spread-then-explode measured ~equal-to-
        // worse in r15 (the exchange just moved the map-side combine).
        // The union form gives each column its OWN scan leg — 6
        // independent splits even on a 1-row-group file — and each leg
        // reads ONLY its column (parquet pruning), so total bytes read
        // stay ≈ one all-column scan while the stringify + partial
        // aggregate parallelize 6-way. Same shuffle key (col, v), same
        // rollup; the oracle was already written in union form.
        Seq(
          ("o_orderkey", "cast(o_orderkey AS string)"),
          ("o_custkey", "cast(o_custkey AS string)"),
          ("o_orderstatus", "o_orderstatus"),
          ("o_totalprice", "cast(cast(o_totalprice AS decimal(18,2)) AS string)"),
          ("o_orderdate", "cast(cast(cast(o_orderdate AS timestamp) AS long) AS string)"),
          ("o_orderpriority", "o_orderpriority"))
          .map { case (c, e) =>
            Tables.orders(spark, dir).selectExpr(s"'$c' AS col", s"$e AS v")
          }
          .reduce(_ unionByName _)
          .groupBy("col", "v")
          .agg(expr("cast(count(*) AS bigint) AS cnt"))
          .groupBy("col")
          .agg(
            expr("cast(sum(cnt) AS bigint) AS n_rows"),
            expr("cast(coalesce(sum(CASE WHEN v IS NULL THEN cnt END), 0) AS bigint) AS n_null"),
            expr("cast(count(v) AS bigint) AS n_distinct"),
            expr("min(v) AS min_s"),
            expr("max(v) AS max_s")),
      Some("""
        WITH u AS (
          SELECT 'o_orderkey' AS col, o_orderkey::VARCHAR AS v FROM orders
          UNION ALL SELECT 'o_custkey', o_custkey::VARCHAR FROM orders
          UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
          UNION ALL SELECT 'o_totalprice', CAST(o_totalprice AS DECIMAL(18,2))::VARCHAR FROM orders
          UNION ALL SELECT 'o_orderdate', epoch(o_orderdate)::BIGINT::VARCHAR FROM orders
          UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders),
        g AS (SELECT col, v, count(*)::BIGINT AS cnt FROM u GROUP BY 1, 2)
        SELECT col, sum(cnt)::BIGINT AS n_rows,
               coalesce(sum(CASE WHEN v IS NULL THEN cnt END), 0)::BIGINT AS n_null,
               count(v)::BIGINT AS n_distinct,
               min(v) AS min_s, max(v) AS max_s
        FROM g GROUP BY col""")),

    // --------------- referential-integrity audit (full FK census)
    // The foreign-key half of the Deequ pass as one report: every FK
    // relation in the star schema, plus the reverse childless-parent
    // census (orders with no lineitem — 27 fire at sf0.001, so the
    // audit's nonzero path is exercised on a real fixture property)
    // with child row count, orphan count, and orphan share in ppm. Each relation
    // is ONE LEFT ANTI hash join against the parent's distinct key set
    // + two 1-row aggregates — O(relations) report rows out, never
    // violating rows. TRUE dimension parents (region/nation/customer/
    // supplier/part — bounded or slowly-growing key sets) broadcast
    // explicitly so the child side never exchanges; FACT parents
    // (orders for lineitem→orders, lineitem for the reverse
    // childless-parent census) must NOT be force-broadcast — their
    // distinct key sets grow linearly with scale and a hinted
    // broadcast bypasses the size threshold (driver OOM at 100 TB), so
    // those relations take the plain shuffled anti join and AQE may
    // still downgrade to broadcast when the run-time size permits.
    // This is the load-gate census; row-level drill-down is a separate
    // targeted query by design.
    QueryDef(
      "dq_referential",
      (spark, dir) => {
        // ONE child pass per relation (r17): a LEFT join against the
        // distinct parent keys is row-preserving, so n_child and the
        // orphan count are two aggregates of the SAME scan — the old
        // anti-join + separate count(*) crossJoin scanned every child
        // table twice per leg (lineitem: six scans across its three
        // legs; the oracle SQL always had this one-pass shape).
        def audit(rel: String, child: DataFrame, ck: String,
                  parent: DataFrame, pk: String,
                  broadcastParent: Boolean = true): DataFrame = {
          val keys = parent.selectExpr(s"$pk AS k").distinct()
            .withColumn("hit", lit(true))
          child.selectExpr(s"$ck AS k")
            .join(if (broadcastParent) broadcast(keys) else keys,
              Seq("k"), "left")
            .groupBy().agg(
              expr("cast(count(*) AS bigint) AS n_child"),
              expr("cast(count_if(hit IS NULL) AS bigint) AS n_orphan"))
            .selectExpr(s"'$rel' AS relation", "n_child", "n_orphan",
              "n_orphan * 1000000L div n_child AS orphan_ppm")
        }
        val li = Tables.lineitem(spark, dir)
        Seq(
          audit("lineitem.l_orderkey->orders", li, "l_orderkey",
            Tables.orders(spark, dir), "o_orderkey", broadcastParent = false),
          audit("lineitem.l_suppkey->supplier", li, "l_suppkey",
            Tables.supplier(spark, dir), "s_suppkey"),
          audit("lineitem.l_partkey->part", li, "l_partkey",
            Tables.part(spark, dir), "p_partkey"),
          audit("orders.o_custkey->customer", Tables.orders(spark, dir), "o_custkey",
            Tables.customer(spark, dir), "c_custkey"),
          audit("customer.c_nationkey->nation", Tables.customer(spark, dir), "c_nationkey",
            Tables.nation(spark, dir), "n_nationkey"),
          audit("supplier.s_nationkey->nation", Tables.supplier(spark, dir), "s_nationkey",
            Tables.nation(spark, dir), "n_nationkey"),
          audit("nation.n_regionkey->region", Tables.nation(spark, dir), "n_regionkey",
            Tables.region(spark, dir), "r_regionkey"),
          audit("events.user_id->customer", Tables.events(spark, dir), "user_id",
            Tables.customer(spark, dir), "c_custkey"),
          audit("orders.o_orderkey->lineitem", Tables.orders(spark, dir), "o_orderkey",
            li, "l_orderkey", broadcastParent = false)
        ).reduce(_ unionByName _)
      },
      Some("""
        SELECT 'lineitem.l_orderkey->orders' AS relation,
               count(*)::BIGINT AS n_child,
               sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_orphan,
               (sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) * 1000000 // count(*))::BIGINT AS orphan_ppm
        FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        UNION ALL
        SELECT 'lineitem.l_suppkey->supplier', count(*)::BIGINT,
               sum(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
               (sum(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END) * 1000000 // count(*))::BIGINT
        FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
        UNION ALL
        SELECT 'lineitem.l_partkey->part', count(*)::BIGINT,
               sum(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
               (sum(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END) * 1000000 // count(*))::BIGINT
        FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        UNION ALL
        SELECT 'orders.o_custkey->customer', count(*)::BIGINT,
               sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
               (sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) * 1000000 // count(*))::BIGINT
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        UNION ALL
        SELECT 'customer.c_nationkey->nation', count(*)::BIGINT,
               sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
               (sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) * 1000000 // count(*))::BIGINT
        FROM customer LEFT JOIN nation n ON c_nationkey = n.n_nationkey
        UNION ALL
        SELECT 'supplier.s_nationkey->nation', count(*)::BIGINT,
               sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
               (sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) * 1000000 // count(*))::BIGINT
        FROM supplier LEFT JOIN nation n ON s_nationkey = n.n_nationkey
        UNION ALL
        SELECT 'nation.n_regionkey->region', count(*)::BIGINT,
               sum(CASE WHEN r_regionkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
               (sum(CASE WHEN r_regionkey IS NULL THEN 1 ELSE 0 END) * 1000000 // count(*))::BIGINT
        FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
        UNION ALL
        SELECT 'events.user_id->customer', count(*)::BIGINT,
               sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
               (sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) * 1000000 // count(*))::BIGINT
        FROM events LEFT JOIN customer ON user_id = c_custkey
        UNION ALL
        SELECT 'orders.o_orderkey->lineitem', count(*)::BIGINT,
               sum(CASE WHEN lk IS NULL THEN 1 ELSE 0 END)::BIGINT,
               (sum(CASE WHEN lk IS NULL THEN 1 ELSE 0 END) * 1000000 // count(*))::BIGINT
        FROM orders LEFT JOIN (SELECT DISTINCT l_orderkey AS lk FROM lineitem) l
          ON o_orderkey = lk""")),

    // ------------- CBO selectivity-estimation audit (stats quality)
    // The consumer side of ANALYZE (s23): textbook cardinality
    // estimates from one stats row — equality = n/ndv, range =
    // linear-interpolated fraction of [min, max], conjunction =
    // independence — against the ACTUAL row counts, with the error in
    // ppm. This is the audit that tells a planner whether uniform/
    // independent assumptions hold on this data (the estimation gap is
    // the finding, not a defect). All-integer: prices in cents, dates
    // in epoch seconds, thresholds derived FROM the stats row so both
    // engines compute identical literals. Plan: one stats aggregate
    // (checkpoint-fenced — estimates and actuals both read it,
    // broadcast), one flag-projection scan folding all four actuals in
    // a single aggregate, then 4 rows of O(1) arithmetic. Magnitudes:
    // n·(mx−mn) cents needs n·range < 9.2e18 — past ~10¹⁰ rows widen
    // the products to decimal(38,0) (the ev_ab_cuped discipline).
    QueryDef(
      "dq_selectivity",
      (spark, dir) => {
        val o = Tables.orders(spark, dir).selectExpr(
          "o_custkey",
          "cast(cast(o_totalprice AS decimal(18,2)) * 100 AS bigint) AS price_cents",
          "cast(cast(o_orderdate AS timestamp) AS long) AS od_s")
        val stats = o.groupBy().agg(
            expr("cast(count(*) AS bigint) AS n"),
            expr("cast(count(DISTINCT o_custkey) AS bigint) AS ndv_ck"),
            expr("min(price_cents) AS mn_p"), expr("max(price_cents) AS mx_p"),
            expr("min(od_s) AS mn_d"), expr("max(od_s) AS mx_d"))
          .selectExpr("n", "ndv_ck", "mn_p", "mx_p", "mn_d", "mx_d",
            "mn_p + (mx_p - mn_p) * 7 div 10 AS p70",
            "mn_d + (mx_d - mn_d) * 3 div 10 AS d30")
          .fenced
        val act = o.crossJoin(broadcast(stats))
          .selectExpr(
            "CASE WHEN o_custkey = 42 THEN 1L ELSE 0L END AS f_eq",
            "CASE WHEN price_cents > p70 THEN 1L ELSE 0L END AS f_gt",
            "CASE WHEN od_s < d30 THEN 1L ELSE 0L END AS f_lt",
            "CASE WHEN price_cents > p70 AND od_s < d30 THEN 1L ELSE 0L END AS f_conj")
          .groupBy().agg(
            expr("cast(sum(f_eq) AS bigint) AS a_eq"),
            expr("cast(sum(f_gt) AS bigint) AS a_gt"),
            expr("cast(sum(f_lt) AS bigint) AS a_lt"),
            expr("cast(sum(f_conj) AS bigint) AS a_conj"))
        val joined = stats.selectExpr(
            "n div ndv_ck AS e_eq",
            "n * (mx_p - p70) div (mx_p - mn_p) AS e_gt",
            "n * (d30 - mn_d) div (mx_d - mn_d) AS e_lt",
            "(n * (mx_p - p70) div (mx_p - mn_p)) * (n * (d30 - mn_d) div (mx_d - mn_d)) div n AS e_conj")
          .crossJoin(act)
        Seq(
          ("eq_custkey", "e_eq", "a_eq"),
          ("gt_price_p70", "e_gt", "a_gt"),
          ("lt_date_p30", "e_lt", "a_lt"),
          ("conj_price_date", "e_conj", "a_conj")
        ).map { case (nm, e, a) =>
          joined.selectExpr(s"'$nm' AS predicate", s"$e AS est_rows",
            s"$a AS actual_rows",
            s"abs($e - $a) * 1000000L div greatest($a, 1L) AS err_ppm")
        }.reduce(_ unionByName _)
      },
      Some("""
        WITH o AS (
          SELECT o_custkey,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
                 epoch(o_orderdate)::BIGINT AS od_s
          FROM orders),
        s AS (
          SELECT count(*)::BIGINT AS n, count(DISTINCT o_custkey)::BIGINT AS ndv_ck,
                 min(price_cents) AS mn_p, max(price_cents) AS mx_p,
                 min(od_s) AS mn_d, max(od_s) AS mx_d
          FROM o),
        s2 AS (
          SELECT *, mn_p + (mx_p - mn_p) * 7 // 10 AS p70,
                 mn_d + (mx_d - mn_d) * 3 // 10 AS d30
          FROM s),
        a AS (
          SELECT sum(CASE WHEN o_custkey = 42 THEN 1 ELSE 0 END)::BIGINT AS a_eq,
                 sum(CASE WHEN price_cents > p70 THEN 1 ELSE 0 END)::BIGINT AS a_gt,
                 sum(CASE WHEN od_s < d30 THEN 1 ELSE 0 END)::BIGINT AS a_lt,
                 sum(CASE WHEN price_cents > p70 AND od_s < d30 THEN 1 ELSE 0 END)::BIGINT AS a_conj
          FROM o, s2),
        e AS (
          SELECT n // ndv_ck AS e_eq,
                 n * (mx_p - p70) // (mx_p - mn_p) AS e_gt,
                 n * (d30 - mn_d) // (mx_d - mn_d) AS e_lt,
                 (n * (mx_p - p70) // (mx_p - mn_p)) * (n * (d30 - mn_d) // (mx_d - mn_d)) // n AS e_conj
          FROM s2)
        SELECT 'eq_custkey' AS predicate, e_eq AS est_rows, a_eq AS actual_rows,
               (abs(e_eq - a_eq) * 1000000 // greatest(a_eq, 1))::BIGINT AS err_ppm FROM e, a
        UNION ALL
        SELECT 'gt_price_p70', e_gt, a_gt,
               (abs(e_gt - a_gt) * 1000000 // greatest(a_gt, 1))::BIGINT FROM e, a
        UNION ALL
        SELECT 'lt_date_p30', e_lt, a_lt,
               (abs(e_lt - a_lt) * 1000000 // greatest(a_lt, 1))::BIGINT FROM e, a
        UNION ALL
        SELECT 'conj_price_date', e_conj, a_conj,
               (abs(e_conj - a_conj) * 1000000 // greatest(a_conj, 1))::BIGINT FROM e, a"""))
  )

  /** Per-event-type robust stats (median + MAD) for the outlier rule —
    * a BOUNDED aggregate (one row per type) that broadcasts. Both are
    * rounded to 6 decimals BEFORE any threshold comparison: Spark
    * percentile and DuckDB quantile_cont share the lower+frac*(hi-lo)
    * formula but can differ in the last ulp, and an unrounded boundary
    * would flip borderline rows cross-engine. Shared by the batch
    * dq_outliers gate and the streaming st_outliers twin, so the two
    * can never disagree on the rule.
    */
  /** Reference-window decile boundaries for drift histograms — one
    * bounded aggregate (9 values, broadcast), rounded to 6 decimals
    * BEFORE any comparison (the outlierStats discipline). Input needs
    * (value, is_ref); shared by the batch dq_drift gate and the
    * streaming st_drift twin so the two can never disagree on buckets.
    */
  private[graft] def driftCuts(ev: DataFrame): DataFrame =
    ev.where("is_ref = 1").agg(
      expr("round(percentile(value, 0.1), 6) AS c1"),
      expr("round(percentile(value, 0.2), 6) AS c2"),
      expr("round(percentile(value, 0.3), 6) AS c3"),
      expr("round(percentile(value, 0.4), 6) AS c4"),
      expr("round(percentile(value, 0.5), 6) AS c5"),
      expr("round(percentile(value, 0.6), 6) AS c6"),
      expr("round(percentile(value, 0.7), 6) AS c7"),
      expr("round(percentile(value, 0.8), 6) AS c8"),
      expr("round(percentile(value, 0.9), 6) AS c9"))

  /** Row-local decile assignment against broadcast boundaries — works
    * identically on a batch frame and a streaming source (no shuffle,
    * no state; the crossJoin is the 1-row broadcast-scalar pattern).
    */
  private[graft] def bucketize(ev: DataFrame, cuts: DataFrame): DataFrame = {
    val bucketExpr = "1L" + (1 to 9)
      .map(i => s" + CASE WHEN value > c$i THEN 1L ELSE 0L END").mkString
    ev.crossJoin(broadcast(cuts))
      .selectExpr("is_ref", s"$bucketExpr AS bucket")
  }

  /** Drift report from per-bucket (bucket, n_ref, n_cur) counts:
    * integer-ppm proportions per bucket plus the -1 'global' row whose
    * diff_ppm is the total variation distance (Σ|Δppm| div 2).
    */
  private[graft] def driftReport(counts: DataFrame): DataFrame = {
    val tot = counts.agg(
      expr("cast(sum(n_ref) AS bigint) AS t_ref"),
      expr("cast(sum(n_cur) AS bigint) AS t_cur"))
    val per = counts.crossJoin(broadcast(tot)).selectExpr(
      "bucket", "n_ref", "n_cur",
      "n_ref * 1000000L div t_ref AS ppm_ref",
      "n_cur * 1000000L div t_cur AS ppm_cur",
      "abs(n_ref * 1000000L div t_ref - n_cur * 1000000L div t_cur) AS diff_ppm")
    val global = per.agg(
      expr("cast(sum(n_ref) AS bigint) AS n_ref"),
      expr("cast(sum(n_cur) AS bigint) AS n_cur"),
      expr("cast(sum(diff_ppm) AS bigint) div 2 AS diff_ppm"))
      .selectExpr("-1L AS bucket", "n_ref", "n_cur",
        "1000000L AS ppm_ref", "1000000L AS ppm_cur", "diff_ppm")
    per.unionByName(global)
  }

  private[graft] def outlierStats(ev: DataFrame): DataFrame = {
    val med = ev.groupBy("event_type")
      .agg(expr("round(percentile(value, 0.5), 6) AS med"))
    ev.join(broadcast(med), "event_type")
      .selectExpr("event_type", "abs(value - med) AS ad", "med")
      .groupBy("event_type", "med")
      .agg(expr("round(percentile(ad, 0.5), 6) AS mad"))
      .select("event_type", "med", "mad")
  }

  /** The one place the outlier RULE lives — shared by the fused batch
    * report and the streaming flagger so the two can never drift.
    */
  private val OutlierCut = "ad > 3 * 1.4826 * mad"
  private val OutlierCols = Seq("event_id", "event_type",
    "round(value, 6) AS value", "round(med, 6) AS med", "round(mad, 6) AS mad",
    "round(ad / (1.4826 * mad), 6) AS robust_z")

  /** Row-local MAD flagging against broadcast [[outlierStats]]: works
    * identically over a batch scan or a stream (stateless — the
    * streaming twin's whole point).
    */
  private[graft] def flagOutliers(ev: DataFrame, stats: DataFrame): DataFrame =
    ev.join(broadcast(stats), "event_type")
      .selectExpr("event_id", "event_type", "value", "med", "mad",
        "abs(value - med) AS ad")
      .where(OutlierCut)
      .selectExpr(OutlierCols: _*)

  /** Batch drill-down FUSED to two scans: one median pass, then a
    * single deviated frame reused by both the MAD aggregate and the
    * final filter. Composing [[outlierStats]] + [[flagOutliers]]
    * instead re-scans the source a third time and recomputes the
    * deviation — profiled at 1.46× the fused wall (the r7 committed
    * bench's one unexplained shift, r8-diagnosed). The rule constants
    * ([[OutlierCut]]/[[OutlierCols]], 6-dp pre-rounded boundaries) are
    * shared with the streaming twin, which keeps its stats+flag split:
    * a stream cannot reuse a batch-side deviated frame.
    */
  private[graft] def outlierReport(ev: DataFrame): DataFrame = {
    val med = ev.groupBy("event_type")
      .agg(expr("round(percentile(value, 0.5), 6) AS med"))
    val dev = ev.join(broadcast(med), "event_type")
      .selectExpr("event_id", "event_type", "value", "med",
        "abs(value - med) AS ad")
    val mad = dev.groupBy("event_type")
      .agg(expr("round(percentile(ad, 0.5), 6) AS mad"))
    dev.join(broadcast(mad), "event_type")
      .where(OutlierCut)
      .selectExpr(OutlierCols: _*)
  }
}
