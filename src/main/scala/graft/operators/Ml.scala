package graft.operators

import org.apache.spark.sql.graft.CheckpointOps.{release, FenceSyntax}
import graft.{Fns, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed model training as a first-class engine operator — the
  * data-parallel shape every large-scale quality-classifier pipeline
  * (fastText-style document gates, DCLM/FineWeb filters) reduces to:
  *
  *   model (small) broadcasts out → per-row scoring is embarrassingly
  *   parallel → the gradient folds BACK through one bounded aggregate
  *   keyed by feature id → the updated model broadcasts again.
  *
  * The corpus never moves: per epoch exactly one exchange of
  * (features × misclassified docs) partial sums, each bounded by the
  * 4096-bucket feature space — the allreduce pattern expressed
  * relationally. Training is INTEGER-EXACT batch perceptron (binary
  * hashed-bigram features, unit learning rate): every update is a sum
  * of ±1 contributions, so the trace is bit-identical across engines,
  * partitionings, and retries — no float gradient whose accumulation
  * order a shuffle could flip.
  */
object Ml {

  private val Buckets = 4096L
  private val Epochs = 3

  /** doc_id, y (+1 planted / −1 clean), distinct hashed-bigram feature
    * ids, plus the always-on bias feature h = −1. The planted class
    * reuses dd_spandup's boilerplate fixture: docs ≡ 0 (mod 7) carry
    * the appended span, so the signal the model can learn is exactly
    * the boilerplate's bigram set.
    */
  private def features(spark: SparkSession, dir: String): DataFrame =
    // repartition BEFORE the bigram-hashing projection (the
    // exactSubstrCorpus discipline): the documents parquet is a few
    // hundred KB compressed — ONE scan split — while the row-local
    // md5-per-bigram work is corpus-token-sized. Without the exchange
    // the whole feature build serialized into a single 12 s task at
    // sf0.1 (r15 profile, stage-level evidence); with it the build
    // rides every core and the (tiny) exchange ships raw text once.
    // explode_OUTER, deliberately: hs always carries the -1L bias
    // bucket (array_union with array(-1L)) so outer ≡ inner here, and
    // the outer form suppresses InferFiltersFromGenerate's
    // `size(hs) > 0` guard — which predicate-pushdown inlines BELOW
    // the exchange as a Filter recomputing the whole md5-per-bigram
    // feature expression inside the single scan task (12 s of the
    // 16 s wall at sf0.1, r15 profile; the dct8/CollapseProject
    // expression-inlining family). Tables.spread parallelizes the
    // hashing projection when the source scan is narrow (the
    // one-row-group fixture case); the epoch loop amortizes it.
    featureArrays(Tables.spread(Tables.documents(spark, dir), "doc_id"))
      .selectExpr("doc_id", "y", "explode_outer(hs) AS h")

  /** The row-local half of [[features]]: (doc_id, y, hs) with the
    * feature ids still as a per-doc array — every expression is
    * streaming-safe (no window, no aggregate), so st_ml_score applies
    * this to a document STREAM and scores each row statelessly.
    */
  private[graft] def featureArrays(docs: DataFrame): DataFrame =
    docs
      .selectExpr("doc_id",
        s"${Fns.cleanTextSql("text")} AS tc")
      .selectExpr("doc_id",
        s"CASE WHEN doc_id % 7 = 0 THEN concat(tc, ' ', '${Dedup.SpanBoiler}') ELSE tc END AS tc")
      .selectExpr("doc_id",
        "CASE WHEN doc_id % 7 = 0 THEN 1L ELSE -1L END AS y",
        "split(tc, ' ') AS t")
      .selectExpr("doc_id", "y",
        s"""array_union(
              CASE WHEN size(t) >= 2
                   THEN array_distinct(transform(sequence(0, size(t) - 2),
                          i -> pmod(cast(conv(substring(md5(concat(t[i], ' ', t[i + 1])), 1, 15), 16, 10) AS bigint), ${Buckets}L)))
                   ELSE cast(array() AS array<bigint>) END,
              array(-1L)) AS hs""")

  /** The shared training chain: persisted feature table, the trained
    * weight table after [[Epochs]] integer perceptron updates, and the
    * per-epoch margin tables (epoch t's margins are measured with the
    * weights BEFORE update t; the list carries Epochs+1 entries so the
    * last one evaluates the final model). Margins are checkpoint-fenced
    * because each feeds both its epoch's error row and the gradient —
    * and the final one is ml_score_docs' output; weight tables are
    * fenced so the lazy epoch chain cannot re-expand its whole prefix
    * per consumer.
    *
    * Four queries (ml_train_linear, ml_score_docs, tp_curate_clf,
    * st_ml_score) plus repeated bench passes read the chain, so it is
    * built once per (session, dir): localCheckpoint produces fresh RDDs
    * the CacheManager cannot unify by canonicalized plan. It is
    * ml_train_linear's OUTPUT-level memo: that query's `resetMemo` is
    * this memo's `reset`, which unpersists the features and releases
    * the weight and margin fences, so a timed bench pass measures the
    * epoch loop (the other three keep reading the memo — the trained
    * model is their INPUT).
    */
  private[graft] val trainChain =
    new graft.SessionMemo[(DataFrame, DataFrame, Seq[DataFrame])](trainChainUncached, {
      case (f, w, margins) =>
        f.unpersist(false)
        release(w)
        margins.foreach(release)
    })

  private def trainChainUncached(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    import spark.implicits._
    val f = features(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the weight tables are tiny (≤ Buckets + 1 rows): the superseded
    // ones are released when training ends, the final one and the
    // margins live on as the result
    Rounds.scope { fs =>
      var w = Seq.empty[(Long, Long)].toDF("h", "w")
      val margins = (1 to (Epochs + 1)).map { epoch =>
        val m = fs.fence(f.join(broadcast(w), Seq("h"), "left")
          .groupBy("doc_id", "y")
          .agg(expr("sum(coalesce(w, 0L)) AS m")))
        if (epoch <= Epochs) {
          val g = f.join(m.where("y * m <= 0").select("doc_id"), "doc_id")
            .groupBy("h").agg(expr("cast(sum(y) AS bigint) AS g"))
          w = fs.fence(w.join(g, Seq("h"), "full_outer")
            .selectExpr("h", "coalesce(w, 0L) + coalesce(g, 0L) AS w"))
        }
        m
      }
      (f, w, margins)
    }
  }

  def queries: Seq[QueryDef] = Seq(
    // ---------------------- linear classifier training (batch perceptron)
    // Output = the training trace: for epoch t, the error measured with
    // the weights BEFORE update t (epoch 1 sees the zero model — every
    // doc misclassifies), plus a final row (epoch Epochs+1) evaluating
    // the trained model. Scale shape per epoch: F (persisted, one
    // corpus-derived exchange total) joins the ≤ 4097-row weight table
    // broadcast, margins reduce per doc, the gradient reduces per
    // feature — model state is O(Buckets) regardless of corpus size,
    // and each epoch's weight table is checkpoint-fenced so the plan
    // stays O(1) per round (the pageRank lineage discipline).
    QueryDef(
      "ml_train_linear",
      (spark, dir) => {
        val (f, _, margins) = trainChain(spark, dir)
        val nDocs = f.select("doc_id").distinct()
          .groupBy().agg(expr("cast(count(*) AS bigint) AS n_docs"))
        margins.zipWithIndex.map { case (m, i) =>
          m.where("y * m <= 0")
            .groupBy().agg(expr("cast(count(*) AS bigint) AS n_wrong"))
            .crossJoin(broadcast(nDocs))
            .selectExpr(s"${i + 1}L AS epoch", "n_wrong",
              "(n_docs - n_wrong) * 1000000L div n_docs AS acc_ppm")
        }.reduce(_ unionByName _)
      },
      Some(s"""
        WITH $trainChainSql,
        n AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM f)
        SELECT t AS epoch, n_wrong,
               ((n.n_docs - n_wrong) * 1000000 // n.n_docs)::BIGINT AS acc_ppm
        FROM (
          ${(1 to (Epochs + 1)).map(t =>
            s"SELECT ${t}::BIGINT AS t, count(*)::BIGINT AS n_wrong FROM wr$t")
            .mkString("\n          UNION ALL ")}
        ) CROSS JOIN n"""),
      resetMemo = Some(trainChain.reset _)),

    // ----------------------------- classifier deployment (the gate itself)
    // The operator a pipeline actually runs: every document scored by
    // the trained model — margin, predicted class, hit/miss against
    // the planted label. This is the quality-gate filter shape at
    // deployment: model broadcasts, scoring is one row-local join +
    // per-doc reduction, the output is the per-doc verdict a curation
    // stage's keep-filter consumes. Same integer-exact chain as
    // ml_train_linear, so the margins are bit-identical cross-engine.
    QueryDef(
      "ml_score_docs",
      (spark, dir) => {
        val (_, _, margins) = trainChain(spark, dir)
        margins.last
          .selectExpr("doc_id", "y", "m AS margin",
            "CASE WHEN m > 0 THEN 1L ELSE -1L END AS pred",
            "CASE WHEN y * m > 0 THEN 1L ELSE 0L END AS correct")
      },
      Some(scoreOracleSql)),

    // ------------- closed-form ridge regression (exact normal equations)
    // The GLM counterpart of the perceptron: fit
    // y = β₀ + β₁·quantity + β₂·discount_bp on lineitem (y in cents)
    // by solving (XᵀX + λI)β = Xᵀy EXACTLY — nine integer moment sums
    // and Cramer's rule on the 3×3 system, no gradient loop, no float.
    // This is the 100 TB shape for any fixed-width linear fit: the
    // ENTIRE corpus contribution is ONE partial-aggregated scan down
    // to 10 numbers (map-side combine does almost all the work; the
    // exchange carries 10 values per map task), and the solve is O(1)
    // arithmetic on the driver-side row. Exactness engineering: moment
    // sums accumulate in DECIMAL(38,0) (int64 passes sf10 but not
    // sf1000 for Σx₁y); determinants stay ≤ ~1e36 through sf10 (the
    // QueryDef emits them, so overflow would be VISIBLE as a gate
    // diff, not silent); β is emitted in exact ppm via the two-step
    // split β_ppm = q·1e6 + (r·1e6 div det) with q = det_i div det,
    // r = det_i − q·det — algebraically equal to (det_i·1e6) div det
    // (signs of the two addends always agree) but never forming the
    // 1e40-at-sf10 product that would overflow DECIMAL(38,0)/HUGEINT.
    // λ penalizes all three coefficients (incl. intercept — documented
    // simplification, λ = 10000 in the integer units of the moments).
    QueryDef(
      "ml_train_ridge",
      (spark, dir) =>
        ridgeSolve(
          Tables.lineitem(spark, dir)
            .selectExpr(
              "cast(l_quantity AS bigint) AS x1", // integral by fixture
              "cast(cast(l_discount AS decimal(18,4)) * 10000 AS bigint) AS x2",
              "cast(cast(l_extendedprice AS decimal(18,2)) * 100 AS bigint) AS y")
            .groupBy()
            .agg(
              expr("cast(count(*) AS decimal(38,0)) AS n"),
              expr("cast(sum(cast(x1 AS decimal(38,0))) AS decimal(38,0)) AS sx1"),
              expr("cast(sum(cast(x2 AS decimal(38,0))) AS decimal(38,0)) AS sx2"),
              expr("cast(sum(cast(x1 AS decimal(38,0)) * x1) AS decimal(38,0)) AS s11"),
              expr("cast(sum(cast(x1 AS decimal(38,0)) * x2) AS decimal(38,0)) AS s12"),
              expr("cast(sum(cast(x2 AS decimal(38,0)) * x2) AS decimal(38,0)) AS s22"),
              expr("cast(sum(cast(y AS decimal(38,0))) AS decimal(38,0)) AS sy"),
              expr("cast(sum(cast(y AS decimal(38,0)) * x1) AS decimal(38,0)) AS sy1"),
              expr("cast(sum(cast(y AS decimal(38,0)) * x2) AS decimal(38,0)) AS sy2"))),
      Some(s"""
        WITH m AS (
          SELECT count(*)::HUGEINT AS n,
                 sum(x1::HUGEINT)::HUGEINT AS sx1,
                 sum(x2::HUGEINT)::HUGEINT AS sx2,
                 sum(x1::HUGEINT * x1)::HUGEINT AS s11,
                 sum(x1::HUGEINT * x2)::HUGEINT AS s12,
                 sum(x2::HUGEINT * x2)::HUGEINT AS s22,
                 sum(y::HUGEINT)::HUGEINT AS sy,
                 sum(y::HUGEINT * x1)::HUGEINT AS sy1,
                 sum(y::HUGEINT * x2)::HUGEINT AS sy2
          FROM (SELECT l_quantity::BIGINT AS x1,
                       CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT) AS x2,
                       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
                FROM lineitem)),
        g AS (
          SELECT *, (n + $RidgeLambda) AS a, sx1 AS b, sx2 AS c,
                 (s11 + $RidgeLambda) AS d, s12 AS e, (s22 + $RidgeLambda) AS f
          FROM m),
        dets AS (
          SELECT n, sx1, sx2, s11, s12, s22, sy, sy1, sy2,
                 (a * (d * f - e * e) - b * (b * f - c * e) + c * (b * e - c * d)) AS det,
                 (sy * (d * f - e * e) - b * (sy1 * f - e * sy2) + c * (sy1 * e - d * sy2)) AS det0,
                 (a * (sy1 * f - e * sy2) - sy * (b * f - e * c) + c * (b * sy2 - sy1 * c)) AS det1,
                 (a * (d * sy2 - sy1 * e) - b * (b * sy2 - sy1 * c) + sy * (b * e - d * c)) AS det2
          FROM g),
        q AS (
          SELECT *, det0 // det AS q0, det1 // det AS q1, det2 // det AS q2
          FROM dets)
        SELECT ${Seq("n", "sx1", "sx2", "s11", "s12", "s22", "sy", "sy1", "sy2", "det")
          .map(c => s"""CAST($c // 1000000000000000000 AS BIGINT) AS ${c}_hi,
               CAST($c % 1000000000000000000 AS BIGINT) AS ${c}_lo""")
          .mkString(",\n               ")},
               (q0 * 1000000 + ((det0 - q0 * det) * 1000000) // det)::BIGINT AS beta0_ppm,
               (q1 * 1000000 + ((det1 - q1 * det) * 1000000) // det)::BIGINT AS beta1_ppm,
               (q2 * 1000000 + ((det2 - q2 * det) * 1000000) // det)::BIGINT AS beta2_ppm
        FROM q""")),

    // -------------------- engine-native Lloyd k-means (integer-exact)
    // The clustering counterpart of ml_train_ridge's "model is a few
    // numbers, corpus folds to it" shape: K=8 centroids over the
    // embedding corpus, [[KmIters]] Lloyd rounds, everything in EXACT
    // integer micros so the trace is bit-identical cross-engine (MLlib
    // KMeans — exercised in MlSpec as interop — can never be
    // oracle-gated; this one is). Per round: the K×D model broadcasts
    // out as a literal, assignment is ONE native codegen'd scan
    // (argmin_q — ties to the smallest centroid id, matching the
    // oracle's row_number order), and the centroid update folds back
    // through one K-group partial aggregate of D component sums —
    // the k-means allreduce, exchange bounded by K·D·partitions
    // regardless of corpus size. New centroid = component sum div
    // count (truncating division, = DuckDB `//`); a cluster that
    // empties keeps its previous centroid on both engines. Output is
    // membership-sensitive per final cluster: size, id-sum, exact
    // integer inertia (accumulated in DECIMAL(38,0) — int64 passes sf10
    // but not the 100 TB headroom the ridge moments also reserve —
    // emitted as hi/lo BIGINT halves, never as a decimal column), and
    // the final centroid's L1 mass pinning the model itself.
    QueryDef(
      "ml_kmeans",
      (spark, dir) => {
        val cents = kmTrain(spark, dir)
        val lit = kmCentLit(cents)
        val l1Case = cents.map(_.map(math.abs).sum).zipWithIndex
          .map { case (v, j) => s"WHEN $j THEN ${v}L" }
          .mkString("CASE cluster ", " ", " END")
        kmQuantized(spark, dir)
          .selectExpr("vec_id", s"argmin_q(qv, $lit) AS cluster", s"minsq_q(qv, $lit) AS d")
          .groupBy("cluster")
          .agg(
            expr("cast(count(*) AS bigint) AS n_vecs"),
            expr("cast(sum(vec_id) AS bigint) AS sum_ids"),
            expr("cast(sum(cast(d AS decimal(38,0))) AS decimal(38,0)) AS inertia"))
          // inertia accumulates in DECIMAL(38,0) (100 TB headroom) but is
          // EMITTED as two non-negative BIGINT halves — gate outputs may
          // never carry DecimalType (driver-hash-unstable; RegistrySpec).
          .selectExpr("cluster", "n_vecs", "sum_ids",
            "cast(inertia div 1000000000000000000 AS bigint) AS inertia_hi",
            "cast(inertia % 1000000000000000000 AS bigint) AS inertia_lo",
            s"cast($l1Case AS bigint) AS c_l1")
      },
      Some(s"""
        WITH $kmAssignCtes
        SELECT a.cid AS cluster, count(*)::BIGINT AS n_vecs,
               sum(a.vec_id)::BIGINT AS sum_ids,
               CAST(sum(a.d)::HUGEINT // 1000000000000000000 AS BIGINT) AS inertia_hi,
               CAST(sum(a.d)::HUGEINT % 1000000000000000000 AS BIGINT) AS inertia_lo,
               any_value(l.c_l1)::BIGINT AS c_l1
        FROM af a JOIN (SELECT cid, list_sum(list_transform(cv, x -> abs(x))) AS c_l1
                        FROM c$KmIters) l USING (cid)
        GROUP BY a.cid""")),

    // ------------------- top principal direction (exact power method)
    // PCA is the standard embedding-pipeline step before compression /
    // whitening / IVF coarse quantization; this computes the TOP
    // principal direction of the embedding corpus with zero float
    // drift. The corpus folds to its second moments in ONE scan: the
    // gram_u kernel packs [count, components, upper-triangle products]
    // per row and a single posexplode + partial-aggregated sum is the
    // covariance allreduce (exchange bounded by 1 + D + D(D+1)/2 values
    // per map task — the ridge-moments shape at D dims). The UNSCALED
    // covariance A = N·Σqqᵀ − (Σq)(Σq)ᵀ (= N²·Cov, scale is
    // eigenvector-irrelevant) stays exact in BigInt; PcaRounds power
    // iterations then run on the COLLECTED moments (a D²-bounded model,
    // the ridge "solve is O(1) driver arithmetic on the reduced row"
    // discipline — an earlier in-plan formulation spent 14.5 s
    // scheduling 8 rounds of 4096-row joins that compute in
    // microseconds), each round renormalizing to ±1e6 ppm by
    // truncating division, so every intermediate is exact integer and
    // the trace is bit-identical cross-engine regardless of
    // convergence state. BigInt ≡ the oracle's HUGEINT on these
    // magnitudes (≤ ~1e37 ≪ either bound). Output: the direction in
    // ppm, max-abs component = ±1e6 by construction.
    QueryDef(
      "ml_pca_power",
      (spark, dir) => {
        import spark.implicits._
        val D = KmDim
        val m = Tables.embeddings(spark, dir)
          .selectExpr(
            "transform(embedding, x -> cast(floor(cast(x AS double) * 1000000D) AS bigint)) AS qv")
          .selectExpr("posexplode(gram_u(qv)) AS (p, c)")
          .groupBy("p")
          .agg(expr("cast(sum(cast(c AS decimal(38,0))) AS decimal(38,0)) AS s"))
          .collect()
          .map(r => r.getInt(0) -> BigInt(r.getDecimal(1).toBigInteger)).toMap
        val n = m(0)
        val sx = Array.tabulate(D)(i => m(1 + i))
        val a = Array.ofDim[BigInt](D, D)
        var k = 1 + D
        for (i <- 0 until D; j <- i until D) {
          val v = n * m(k) - sx(i) * sx(j)
          a(i)(j) = v; a(j)(i) = v
          k += 1
        }
        var v = Array.fill(D)(BigInt(1000000))
        for (_ <- 1 to PcaRounds) {
          val w = Array.tabulate(D)(i => (0 until D).map(j => a(i)(j) * v(j)).sum)
          val mx = w.map(_.abs).max
          v = w.map(x => x * 1000000 / mx) // BigInt / truncates toward zero = //
        }
        v.zipWithIndex.map { case (x, i) => (i.toLong, x.toLong) }.toSeq
          .toDF("dim_i", "v_ppm")
      },
      Some {
        val round = (t: Int) => s"""
        w$t AS (SELECT a.i, sum(a.av * v.vv) AS w
                FROM a JOIN v${t - 1} v ON a.j = v.i GROUP BY a.i),
        v$t AS (SELECT i, ((w * 1000000) // (SELECT max(abs(w)) FROM w$t))::HUGEINT AS vv
                FROM w$t)"""
        s"""
        WITH q AS MATERIALIZED (
          SELECT list_transform(embedding, x -> floor(x::DOUBLE * 1000000)::BIGINT) AS qv
          FROM embeddings),
        n AS (SELECT count(*)::HUGEINT AS n FROM q),
        sx AS MATERIALIZED (
          SELECT i, sum(qv[i])::HUGEINT AS sx
          FROM q CROSS JOIN generate_series(1, $KmDim) AS g(i)
          GROUP BY i),
        su AS MATERIALIZED (
          SELECT i, j, sum(qv[i] * qv[j])::HUGEINT AS s
          FROM q CROSS JOIN generate_series(1, $KmDim) AS gi(i)
                 CROSS JOIN generate_series(1, $KmDim) AS gj(j)
          WHERE j >= i
          GROUP BY i, j),
        fullm AS (SELECT i, j, s FROM su
                  UNION ALL SELECT j AS i, i AS j, s FROM su WHERE i < j),
        a AS MATERIALIZED (
          SELECT f.i, f.j, (n.n * f.s - x1.sx * x2.sx) AS av
          FROM fullm f, n, sx x1, sx x2
          WHERE x1.i = f.i AND x2.i = f.j),
        v0 AS (SELECT i, 1000000::HUGEINT AS vv FROM generate_series(1, $KmDim) AS g(i)),
        ${(1 to PcaRounds).map(round).mkString(",")}
        SELECT (i - 1)::BIGINT AS dim_i, vv::BIGINT AS v_ppm FROM v$PcaRounds"""
      }),

    // ----------------- multinomial Naive Bayes boilerplate classifier
    // The second learned model family next to the perceptron, on the
    // SAME learnable fixture (docs ≡ 0 mod 7 carry dd_spandup's
    // appended boilerplate — the corpus's lang/source columns are
    // measured noise w.r.t. word statistics, so they would only test
    // that NB converges to the prior): add-one-smoothed multinomial NB
    // over word counts, trained on the %5≠0 split and
    // confusion-scored on the %5=0 holdout. Log-probabilities are
    // replaced by INTEGER SURPRISAL costs — the tp_unigram
    // discipline: cost(w|cls) = max(34 − bitlength(P·2²⁰), 1), a
    // transcendental-free −log₂P within one bit, identical in both
    // engines via length(bin(x)); prediction = argmin Σ n_w·cost +
    // prior_cost with the (score, cls) tie order. A holdout doc whose
    // every word is train-OOV scores nowhere and drops — deterministic
    // in both engines. Plan = fit-then-score (the DSIR shape): one
    // (cls, word) partial-agg exchange over the train scan,
    // checkpoint-fenced because THREE readers (marginals, vocab, model
    // join) reuse it; the dense vocab×classes cost model and priors
    // are vocab-bounded and broadcast-able; scoring is one holdout
    // scan → model hash join → (doc, cls)-keyed aggregate → per-doc
    // argmin window; the confusion output is classes². 10× corpus =
    // same model size, two more scans.
    QueryDef(
      "ml_nb_classify",
      (spark, dir) => {
        val toks = Tables.documents(spark, dir)
          .selectExpr("doc_id",
            s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("doc_id",
            s"CASE WHEN doc_id % 7 = 0 THEN concat(tc, ' ', '${Dedup.SpanBoiler}') ELSE tc END AS tc")
          .selectExpr("doc_id",
            "CASE WHEN doc_id % 7 = 0 THEN 'planted' ELSE 'clean' END AS lang",
            "split(tc, ' ') AS toks")
        val cw = toks.where("doc_id % 5 != 0")
          .selectExpr("lang", "explode(toks) AS w")
          .groupBy("lang", "w")
          .agg(expr("cast(count(*) AS bigint) AS c"))
          .fenced
        val nl = cw.groupBy("lang").agg(expr("cast(sum(c) AS bigint) AS n_l"))
        val vocab = cw.select("w").distinct()
        val vsize = vocab.groupBy().agg(expr("cast(count(*) AS bigint) AS v"))
        val model = vocab.crossJoin(nl.crossJoin(broadcast(vsize)))
          .join(cw, Seq("lang", "w"), "left")
          .selectExpr("lang", "w",
            "greatest(34L - length(bin((coalesce(c, 0L) + 1L) * 1048576L div (n_l + v))), 1L) AS cost")
        val nd = toks.where("doc_id % 5 != 0")
          .groupBy("lang").agg(expr("cast(count(*) AS bigint) AS nd"))
        val ndTot = nd.groupBy().agg(expr("cast(sum(nd) AS bigint) AS ndt"))
        val prior = nd.crossJoin(broadcast(ndTot))
          .selectExpr("lang", "greatest(34L - length(bin(nd * 1048576L div ndt)), 1L) AS prior_cost")
        val testW = toks.where("doc_id % 5 = 0")
          .selectExpr("doc_id", "lang AS true_cls", "explode(toks) AS w")
          .groupBy("doc_id", "true_cls", "w")
          .agg(expr("cast(count(*) AS bigint) AS n"))
        testW
          .join(model.withColumnRenamed("lang", "cand_cls"), "w")
          .groupBy("doc_id", "true_cls", "cand_cls")
          .agg(expr("cast(sum(n * cost) AS bigint) AS wcost"))
          .join(prior.selectExpr("lang AS cand_cls", "prior_cost"), "cand_cls")
          .selectExpr("doc_id", "true_cls", "cand_cls",
            "prior_cost + wcost AS score")
          .selectExpr("doc_id", "true_cls", "cand_cls",
            """row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score ASC, cand_cls ASC) AS rk""")
          .where("rk = 1")
          .groupBy("true_cls", "cand_cls")
          .agg(expr("cast(count(*) AS bigint) AS n_docs"))
          .selectExpr("true_cls", "cand_cls AS pred_cls", "n_docs")
      },
      Some {
        val boiler = Dedup.SpanBoiler
        s"""
        WITH t AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN 'planted' ELSE 'clean' END AS lang,
                 string_split(CASE WHEN doc_id % 7 = 0 THEN tc || ' ' || '$boiler' ELSE tc END, ' ') AS toks
          FROM (SELECT doc_id,
                       ${Fns.cleanTextDuck("text")} AS tc
                FROM documents)),
        tr AS (SELECT lang, unnest(toks) AS w FROM t WHERE doc_id % 5 != 0),
        cw AS MATERIALIZED (SELECT lang, w, count(*)::BIGINT AS c FROM tr GROUP BY 1, 2),
        nl AS (SELECT lang, sum(c)::BIGINT AS n_l FROM cw GROUP BY lang),
        vocab AS MATERIALIZED (SELECT DISTINCT w FROM cw),
        vs AS (SELECT count(*)::BIGINT AS v FROM vocab),
        model AS MATERIALIZED (
          SELECT nl.lang, vocab.w,
                 greatest(34 - length(bin((coalesce(cw.c, 0) + 1) * 1048576 // (nl.n_l + vs.v))), 1)::BIGINT AS cost
          FROM vocab CROSS JOIN nl CROSS JOIN vs
          LEFT JOIN cw ON cw.lang = nl.lang AND cw.w = vocab.w),
        nd AS (SELECT lang, count(*)::BIGINT AS nd FROM t WHERE doc_id % 5 != 0 GROUP BY lang),
        ndt AS (SELECT sum(nd)::BIGINT AS ndt FROM nd),
        prior AS (
          SELECT lang, greatest(34 - length(bin(nd * 1048576 // ndt)), 1)::BIGINT AS prior_cost
          FROM nd, ndt),
        tw AS (
          SELECT doc_id, true_cls, w, count(*)::BIGINT AS n
          FROM (SELECT doc_id, lang AS true_cls, unnest(toks) AS w
                FROM t WHERE doc_id % 5 = 0)
          GROUP BY 1, 2, 3),
        sc AS (
          SELECT tw.doc_id, tw.true_cls, m.lang AS cand_cls,
                 (p.prior_cost + sum(tw.n * m.cost))::BIGINT AS score
          FROM tw JOIN model m ON m.w = tw.w
          JOIN prior p ON p.lang = m.lang
          GROUP BY 1, 2, 3, p.prior_cost),
        pred AS (
          SELECT doc_id, true_cls, cand_cls AS pred_cls
          FROM (SELECT doc_id, true_cls, cand_cls,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY score ASC, cand_cls ASC) AS rk
                FROM sc)
          WHERE rk = 1)
        SELECT true_cls, pred_cls, count(*)::BIGINT AS n_docs
        FROM pred GROUP BY 1, 2"""
      })
  )

  /** ml_pca_power's fixed power-method schedule — exactness does not
    * depend on convergence, so both engines run the same 8 rounds.
    */
  private val PcaRounds = 8

  /** ml_kmeans model size / schedule: K centroids over the [[KmDim]]-dim
    * embedding fixture, [[KmIters]] Lloyd update rounds (the final
    * output assigns against the round-[[KmIters]] model).
    */
  private val KmK = 8
  private[graft] val KmIters = 2
  private val KmDim = 64

  /** The broadcast-model literal: K×D quantized centroids as a nested
    * array expression (512 long literals — the planeSpark pattern).
    */
  private def kmCentLit(cents: Array[Array[Long]]): String =
    cents.map(_.map(v => s"${v}L").mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")

  /** The quantized embedding corpus (vec_id, qv): integer micros via
    * floor(x·1e6) — float→double widening is exact and the single
    * double multiply + floor is IEEE-identical cross-engine.
    */
  private def kmQuantized(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(floor(cast(x AS double) * 1000000D) AS bigint)) AS qv")

  /** Run the Lloyd schedule and return the final K×D centroid model —
    * the batch trainer ml_kmeans reports on and st_kmeans_score serves
    * from. Per round: the model broadcasts as a literal, assignment is
    * the native argmin_q scan, the update folds back through one
    * K-group aggregate of component sums; new centroid = sum div count
    * (truncating, = DuckDB `//`), an emptied cluster keeps its
    * previous centroid.
    */
  private[graft] def kmTrain(spark: SparkSession, dir: String): Array[Array[Long]] = {
    val q = kmQuantized(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cents: Array[Array[Long]] =
        q.where(s"vec_id < $KmK").orderBy("vec_id").select("qv")
          .collect().map(_.getSeq[Long](0).toArray)
      val dim = cents.head.length
      for (_ <- 1 to KmIters) {
        val sums = (0 until dim).map(i => expr(s"cast(sum(qv[$i]) AS bigint) AS s$i"))
        val rows = q
          .selectExpr("qv", s"argmin_q(qv, ${kmCentLit(cents)}) AS cluster")
          .groupBy("cluster")
          .agg(expr("cast(count(*) AS bigint) AS n"), sums: _*)
          .collect()
        val next = cents.map(_.clone()) // empty cluster keeps its centroid
        rows.foreach { r =>
          val n = r.getLong(1)
          next(r.getLong(0).toInt) = Array.tabulate(dim)(i => r.getLong(2 + i) / n)
        }
        cents = next
      }
      cents
    } finally q.unpersist(false)
  }

  /** The shared DuckDB CTE chain replaying [[kmTrain]] + the final
    * assignment: quantize → init c0 → one (assign → component-mean →
    * coalesce-empty) trio per Lloyd round (the ml_train_linear
    * fixed-unroll discipline) → `af` = every vector's final (cid, d).
    * ml_kmeans aggregates it; st_kmeans_score emits it row-for-row.
    */
  private[graft] val kmAssignCtes: String = {
    val sq = (qa: String, ca: String) =>
      s"""list_sum(list_transform(generate_series(1, $KmDim),
             i -> ($qa.qv[i] - $ca.cv[i]) * ($qa.qv[i] - $ca.cv[i])))"""
    val round = (t: Int) => s"""
        a$t AS MATERIALIZED (
          SELECT vec_id, qv, cid FROM (
            SELECT q.vec_id, q.qv, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY ${sq("q", "c")} ASC, c.cid ASC) AS rn
            FROM q CROSS JOIN c${t - 1} c)
          WHERE rn = 1),
        m$t AS (
          SELECT cid, list(s ORDER BY i) AS cv
          FROM (SELECT cid, i, (sum(qv[i]) // count(*))::BIGINT AS s
                FROM a$t CROSS JOIN generate_series(1, $KmDim) AS g(i)
                GROUP BY cid, i)
          GROUP BY cid),
        c$t AS (
          SELECT p.cid, coalesce(m.cv, p.cv) AS cv
          FROM c${t - 1} p LEFT JOIN m$t m USING (cid))"""
    s"""q AS MATERIALIZED (
          SELECT vec_id, list_transform(embedding, x -> floor(x::DOUBLE * 1000000)::BIGINT) AS qv
          FROM embeddings),
        c0 AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < $KmK),
        ${(1 to KmIters).map(round).mkString(",")},
        af AS (
          SELECT vec_id, cid, d FROM (
            SELECT q.vec_id, c.cid, ${sq("q", "c")} AS d,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY ${sq("q", "c")} ASC, c.cid ASC) AS rn
            FROM q CROSS JOIN c$KmIters c)
          WHERE rn = 1)"""
  }

  /** ml_train_ridge's regularizer, in the integer units of the moment
    * sums (quantity / discount basis points / cents).
    */
  private val RidgeLambda = 10000L

  /** The O(1) tail of ml_train_ridge: Cramer's rule + the two-step
    * exact ppm division over the single moments row. Split out so the
    * spec can feed it hand-built moments.
    */
  private[graft] def ridgeSolve(moments: DataFrame): DataFrame =
    moments
      .selectExpr("n", "sx1", "sx2", "s11", "s12", "s22", "sy", "sy1", "sy2",
        s"n + $RidgeLambda AS a", "sx1 AS b", "sx2 AS c",
        s"s11 + $RidgeLambda AS d", "s12 AS e", s"s22 + $RidgeLambda AS f")
      .selectExpr("n", "sx1", "sx2", "s11", "s12", "s22", "sy", "sy1", "sy2",
        "cast(a * (d * f - e * e) - b * (b * f - c * e) + c * (b * e - c * d) AS decimal(38,0)) AS det",
        "cast(sy * (d * f - e * e) - b * (sy1 * f - e * sy2) + c * (sy1 * e - d * sy2) AS decimal(38,0)) AS det0",
        "cast(a * (sy1 * f - e * sy2) - sy * (b * f - e * c) + c * (b * sy2 - sy1 * c) AS decimal(38,0)) AS det1",
        "cast(a * (d * sy2 - sy1 * e) - b * (b * sy2 - sy1 * c) + sy * (b * e - d * c) AS decimal(38,0)) AS det2")
      .selectExpr("n", "sx1", "sx2", "s11", "s12", "s22", "sy", "sy1", "sy2",
        "det", "det0", "det1", "det2",
        "det0 div det AS q0", "det1 div det AS q1", "det2 div det AS q2")
      .selectExpr(
        // The DECIMAL(38,0) moments/determinant are the overflow
        // canaries (the QueryDef comment's "VISIBLE as a gate diff"
        // discipline), but gate outputs may never carry DecimalType
        // (driver-hash-unstable on decimal128; RegistrySpec pins the
        // ban) — so each is emitted as two BIGINT halves base 1e18.
        // All ten are non-negative by construction (quantity/basis-
        // point/cent sums; det > 0 from the λ-regularized PD matrix),
        // so Spark's truncating `div` ≡ DuckDB's floor `//` here.
        Seq("n", "sx1", "sx2", "s11", "s12", "s22", "sy", "sy1", "sy2", "det")
          .flatMap(c => Seq(
            s"cast($c div 1000000000000000000 AS bigint) AS ${c}_hi",
            s"cast($c % 1000000000000000000 AS bigint) AS ${c}_lo")) ++ Seq(
          "cast(q0 * 1000000 + ((det0 - q0 * det) * 1000000) div det AS bigint) AS beta0_ppm",
          "cast(q1 * 1000000 + ((det1 - q1 * det) * 1000000) div det AS bigint) AS beta1_ppm",
          "cast(q2 * 1000000 + ((det2 - q2 * det) * 1000000) div det AS bigint) AS beta2_ppm"): _*)

  /** The training chain in DuckDB, as CTEs without the leading `WITH`:
    * the boilerplate-planted docs `d`, the features `f`, and per epoch
    * t the margins `m<t>` (with the weights `w<t-1>`), the misclassified
    * docs `wr<t>` and the updated weights `w<t>` — one materialized CTE
    * triple per epoch, the same fixed unroll discipline as gr_kcore's
    * oracle. ml_train_linear reports the `wr<t>` counts; the scorers
    * read the last margins.
    */
  private val trainChainSql: String = {
    val epoch = (t: Int) => s"""
        m$t AS MATERIALIZED (
          SELECT f.doc_id, f.y, sum(coalesce(w${t - 1}.w, 0)) AS m
          FROM f LEFT JOIN w${t - 1} ON f.h = w${t - 1}.h
          GROUP BY f.doc_id, f.y),
        wr$t AS MATERIALIZED (SELECT doc_id, y FROM m$t WHERE y * m <= 0),
        w$t AS MATERIALIZED (
          SELECT coalesce(a.h, b.h) AS h, coalesce(a.w, 0) + coalesce(b.g, 0) AS w
          FROM w${t - 1} a FULL OUTER JOIN
               (SELECT f.h, sum(f.y)::BIGINT AS g
                FROM f JOIN wr$t USING (doc_id) GROUP BY f.h) b
          ON a.h = b.h)"""
    s"""d AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN tc || ' ' || '${Dedup.SpanBoiler}' ELSE tc END AS tc
          FROM (SELECT doc_id,
                       ${Fns.cleanTextDuck("text")} AS tc
                FROM documents)),
        f AS MATERIALIZED (
          SELECT DISTINCT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN 1 ELSE -1 END AS y, h
          FROM (
            SELECT doc_id, unnest(list_append(
                     CASE WHEN len(t) >= 2
                          THEN list_distinct(list_transform(generate_series(1, len(t) - 1),
                                 i -> ('0x' || substr(md5(t[i] || ' ' || t[i + 1]), 1, 15))::BIGINT % $Buckets))
                          ELSE [] END,
                     -1)) AS h
            FROM (SELECT doc_id, string_split(tc, ' ') AS t FROM d))),
        w0 AS (SELECT NULL::BIGINT AS h, NULL::BIGINT AS w WHERE false),
        ${(1 to (Epochs + 1)).map(epoch).mkString(",")}"""
  }

  /** ml_score_docs' oracle — also st_ml_score's (the streamed scorer
    * must drain row-identical to the batch one, so they share the SQL
    * verbatim).
    */
  private[graft] val scoreOracleSql: String = s"""
        WITH $trainChainSql
        SELECT doc_id, y::BIGINT AS y, m::BIGINT AS margin,
               CASE WHEN m > 0 THEN 1 ELSE -1 END::BIGINT AS pred,
               CASE WHEN y * m > 0 THEN 1 ELSE 0 END::BIGINT AS correct
        FROM m${Epochs + 1}"""
}
