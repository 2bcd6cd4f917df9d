package graft.operators

import org.apache.spark.sql.graft.CheckpointOps.{pin, FenceSyntax}
import graft.{QueryDef, Tables}

/** Event-time analytics over the `events` table — the batch analogs of
  * the Structured Streaming surface (graft.streaming). The reference's
  * closest feature is its resumable batch ingest (SURVEY.md §2.6 P1/P2);
  * these extend it to real event-time processing.
  *
  * Timestamps are surfaced as epoch integers (seconds / micros), never
  * raw timestamps: parquet-vs-DuckDB timezone adornment differs, epoch
  * integers compare exactly.
  */
object Events {

  // ---- Count-Min sketch pieces, shared by batch ev_countmin and the
  // streaming st_countmin twin so the two grids cannot diverge: the
  // skewed item derivation (the ev_heavyhitters fixture), the d=4
  // hash-row bucket structs (minhash coefficient family, inlined as
  // literals into both engines), and the post-sketch estimate lookup.
  private val CmP = graft.plans.TextHash.P
  private val CmW = 256
  private val CmD = 4
  private[graft] val CmItemExpr =
    "CASE WHEN event_id % 10 < 7 THEN event_id % 20 ELSE event_id + 1000000000L END"
  private def cmBucket(j: Int, x: String) =
    s"((${graft.plans.TextHash.A(j)}L * ($x % $CmP) + ${graft.plans.TextHash.B(j)}L) % $CmP) % $CmW"
  private[graft] def cmStructs: String = (0 until CmD)
    .map(j => s"named_struct('j', $j, 'b', ${cmBucket(j, "item")})").mkString(", ")

  /** Point estimates for the hot items against a drained (j, b, n)
    * sketch grid: est = min over the d cells each item hashes to,
    * joined against exact batch truth.
    */
  private[graft] def cmEstimates(spark: org.apache.spark.sql.SparkSession,
                                 dir: String,
                                 cells: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, expr}
    Tables.events(spark, dir).selectExpr(s"$CmItemExpr AS item")
      .where("item < 20")
      .groupBy("item").agg(expr("cast(count(*) AS bigint) AS true_cnt"))
      .selectExpr("item", "true_cnt", s"explode(array($cmStructs)) AS c")
      .selectExpr("item", "true_cnt", "c.j AS j", "c.b AS b")
      .join(broadcast(cells), Seq("j", "b"))
      .groupBy("item")
      .agg(expr("cast(max(true_cnt) AS bigint) AS true_cnt"),
        expr("cast(min(n) AS bigint) AS est"))
      .selectExpr("item", "true_cnt", "est", "est - true_cnt AS overcount")
  }

  private[graft] def cmOracleSql: String = {
    val hashRows = (0 until CmD)
      .map(j => s"(${j}, ${graft.plans.TextHash.A(j)}, ${graft.plans.TextHash.B(j)})")
      .mkString(", ")
    s"""
        WITH i AS (
          SELECT CASE WHEN event_id % 10 < 7 THEN event_id % 20
                      ELSE event_id + 1000000000 END AS item
          FROM events),
        h(j, a, b) AS (SELECT * FROM (VALUES $hashRows)),
        cells AS (
          SELECT j, ((a * (item % $CmP) + b) % $CmP) % $CmW AS bkt, count(*)::BIGINT AS n
          FROM i, h GROUP BY 1, 2),
        hot AS (SELECT item, count(*)::BIGINT AS true_cnt FROM i WHERE item < 20 GROUP BY 1)
        SELECT hot.item AS item, max(true_cnt)::BIGINT AS true_cnt,
               min(n)::BIGINT AS est, (min(n) - max(true_cnt))::BIGINT AS overcount
        FROM hot, h
        JOIN cells ON cells.j = h.j
                  AND cells.bkt = ((h.a * (hot.item % $CmP) + h.b) % $CmP) % $CmW
        GROUP BY 1"""
  }

  // ---- CUSUM pieces, shared by batch ev_cusum and the streaming
  // st_cusum twin so the recurrences cannot diverge. Page's cumulative
  // sum test with per-user RELATIVE parameters (one user's scale never
  // sets another's threshold — the ev_anomaly discipline): allowance
  // k = μ/4, decision interval h = 2μ, restart-after-alarm variant.
  // All integer micros; μ is the user's integer mean (sum div count,
  // truncating division — identical in Spark `div` and DuckDB `//` on
  // the non-negative fixture values).
  /** One CUSUM step. Returns (sp, sm, alarm, spCarry, smCarry): the
    * emitted one-sided sums, the alarm verdict, and the post-reset
    * state to carry into the next step.
    */
  private[graft] def cusumStep(mu: Long, v: Long, spc: Long, smc: Long)
      : (Long, Long, Boolean, Long, Long) = {
    val k = mu / 4
    val h = 2L * mu
    val sp = math.max(0L, spc + (v - mu - k))
    val sm = math.max(0L, smc + (mu - v - k))
    val alarm = sp > h || sm > h
    (sp, sm, alarm, if (alarm) 0L else sp, if (alarm) 0L else sm)
  }

  /** The recursive-CTE oracle for the CUSUM fold — shared verbatim by
    * ev_cusum and st_cusum (an independent sequential replay of the
    * same recurrence, like the ev_ewma/ev_holt oracles).
    */
  private[graft] val cusumOracleSql: String = """
        WITH RECURSIVE e AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                 CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v,
                 ((sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
                     OVER (PARTITION BY user_id))::BIGINT
                  // (count(*) OVER (PARTITION BY user_id))::BIGINT)::BIGINT AS mu,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS rn
          FROM events),
        r AS (
          SELECT user_id, event_id, rn, v, mu,
                 greatest(0, v - mu - mu // 4)::BIGINT AS sp,
                 greatest(0, mu - v - mu // 4)::BIGINT AS sm,
                 (greatest(0, v - mu - mu // 4) > 2 * mu
                  OR greatest(0, mu - v - mu // 4) > 2 * mu) AS alarm,
                 (CASE WHEN greatest(0, v - mu - mu // 4) > 2 * mu
                         OR greatest(0, mu - v - mu // 4) > 2 * mu
                       THEN 0 ELSE greatest(0, v - mu - mu // 4) END)::BIGINT AS spc,
                 (CASE WHEN greatest(0, v - mu - mu // 4) > 2 * mu
                         OR greatest(0, mu - v - mu // 4) > 2 * mu
                       THEN 0 ELSE greatest(0, mu - v - mu // 4) END)::BIGINT AS smc
          FROM e WHERE rn = 1
          UNION ALL
          SELECT e.user_id, e.event_id, e.rn, e.v, e.mu,
                 greatest(0, r.spc + (e.v - e.mu - e.mu // 4))::BIGINT,
                 greatest(0, r.smc + (e.mu - e.v - e.mu // 4))::BIGINT,
                 (greatest(0, r.spc + (e.v - e.mu - e.mu // 4)) > 2 * e.mu
                  OR greatest(0, r.smc + (e.mu - e.v - e.mu // 4)) > 2 * e.mu),
                 (CASE WHEN greatest(0, r.spc + (e.v - e.mu - e.mu // 4)) > 2 * e.mu
                         OR greatest(0, r.smc + (e.mu - e.v - e.mu // 4)) > 2 * e.mu
                       THEN 0
                       ELSE greatest(0, r.spc + (e.v - e.mu - e.mu // 4)) END)::BIGINT,
                 (CASE WHEN greatest(0, r.spc + (e.v - e.mu - e.mu // 4)) > 2 * e.mu
                         OR greatest(0, r.smc + (e.mu - e.v - e.mu // 4)) > 2 * e.mu
                       THEN 0
                       ELSE greatest(0, r.smc + (e.mu - e.v - e.mu // 4)) END)::BIGINT
          FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
        SELECT user_id, event_id, rn::BIGINT AS rn, v AS v_micros,
               mu AS mu_micros, sp AS sp_micros, sm AS sm_micros, alarm
        FROM r"""

  // ---- per-key ordered recurrences. Each is written once, as a step
  // from a key's state before a row (None on the key's first row) to
  // its state after it, and every use runs through one of two drivers:
  // [[foldSorted]] for the batch folds below, Streaming's state-store
  // fold for their streaming twins. A twin therefore cannot drift from
  // its batch operator. All integer micros; the trend differences can
  // be NEGATIVE, where DuckDB's `//` truncates toward zero (measured:
  // (-7)//2 = -3) exactly like Scala's Long `/` — floorDiv would
  // diverge on every downward-trending key.

  /** α = 0.3 smoothing of `x` into the running level `level`. */
  private def smooth(x: Long, level: Long): Long = (300L * x + 700L * level) / 1000L

  /** EWMA level `s` and the row's one-step-ahead residual v − s_{t−1}
    * (0 on a key's first row).
    */
  private[graft] final case class Ewma(s: Long, resid: Long)

  private[graft] def ewmaStep(prev: Option[Ewma], v: Long): Ewma = prev match {
    case None => Ewma(v, 0L)
    case Some(p) => Ewma(smooth(v, p.s), v - p.s)
  }

  /** Holt's linear smoothing: level `l` (α = 0.3) and trend `b` (β = 0.2). */
  private[graft] final case class Holt(l: Long, b: Long)

  private[graft] def holtStep(prev: Option[Holt], v: Long): Holt = prev match {
    case None => Holt(v, 0L)
    case Some(p) =>
      val l = smooth(v, p.l + p.b)
      Holt(l, (200L * (l - p.l) + 800L * p.b) / 1000L)
  }

  /** Holt-Winters additive: Holt over the deseasonalized value, plus a
    * ring of the last m = 24 seasonal indices (γ = 0.1), oldest first —
    * `ring(0)` is s_{t+1−m}, the index the next step consumes, and
    * `ring(23)` the one this step wrote. Cold start: an all-zero ring.
    */
  private[graft] final case class HoltWinters(holt: Holt, ring: Array[Long])

  private[graft] def holtWintersStep(prev: Option[HoltWinters], v: Long): HoltWinters = {
    val ring = prev.fold(new Array[Long](24))(_.ring)
    val h = holtStep(prev.map(_.holt), v - ring(0))
    val next = java.util.Arrays.copyOfRange(ring, 1, 25)
    next(23) = (100L * (v - h.l) + 900L * ring(0)) / 1000L
    HoltWinters(h, next)
  }

  /** One CUSUM row: the emitted sums and verdict, and the carries the
    * next step starts from.
    */
  private[graft] final case class Cusum(sp: Long, sm: Long, alarm: Boolean, spc: Long, smc: Long)

  private[graft] def cusumNext(prev: Option[Cusum], mu: Long, v: Long): Cusum = {
    val (sp, sm, alarm, spc, smc) = cusumStep(mu, v, prev.fold(0L)(_.spc), prev.fold(0L)(_.smc))
    Cusum(sp, sm, alarm, spc, smc)
  }

  /** SCD2's open dimension row: the current event type, since when, and
    * its version. A step that changes the version has closed the
    * previous row at the new row's `from_us`.
    */
  private[graft] final case class Scd2Open(event_type: String, from_us: Long, version: Long)

  private[graft] def scd2Step(prev: Option[Scd2Open], eventType: String, tsUs: Long): Scd2Open =
    prev match {
      case Some(p) if p.event_type == eventType => p
      case _ => Scd2Open(eventType, tsUs, prev.fold(1L)(_.version + 1L))
    }

  /** The batch driver of a per-key recurrence, a SECONDARY-SORT fold:
    * `in` arrives hash-partitioned on `key` (the caller owns that
    * exchange), each partition sorts by (key, order…) — the shuffle's
    * external sort spills, never a heap — and one mapPartitions pass
    * restarts the state and rn at each key boundary. Unlike a
    * groupByKey → flatMapGroups fold, which buffers one key's whole
    * history to sort it, the fold holds O(1) state per key. `emit`
    * gets the row, its 1-based rn within the key and the state after it.
    */
  private[graft] def foldSorted[T, S, U: org.apache.spark.sql.Encoder](
      in: org.apache.spark.sql.Dataset[T], key: String, order: String*)(keyOf: T => Any)(
      step: (Option[S], T) => S)(emit: (T, Long, S) => U): org.apache.spark.sql.Dataset[U] =
    in.sortWithinPartitions(key, order: _*).mapPartitions { it =>
      var cur: Any = null; var rn = 0L; var st: Option[S] = None
      it.map { r =>
        val k = keyOf(r)
        if (rn == 0L || k != cur) { cur = k; rn = 0L; st = None }
        val next = step(st, r)
        st = Some(next); rn += 1L
        emit(r, rn, next)
      }
    }

  /** Integer micros of the events' `value`. */
  private[graft] val ValueMicros = "cast(cast(value AS decimal(18,6)) * 1000000 AS bigint)"

  /** Events as `(user_id, event_id, ts_us, v)` points, the input of
    * every per-user fold.
    */
  private[graft] def eventPoints(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    events.selectExpr("user_id", "event_id", "unix_micros(ts) AS ts_us", s"$ValueMicros AS v")

  /** An event point as the batch folds read it: (user_id, event_id, ts_us, v). */
  private type Point = (Long, Long, Long, Long)

  /** The events table's points, hash-partitioned on user_id: the
    * exchange a per-user [[foldSorted]] sorts within.
    */
  private def userPoints(spark: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.Dataset[Point] = {
    import spark.implicits._
    eventPoints(Tables.events(spark, dir)).as[Point]
      .repartition(org.apache.spark.sql.functions.col("user_id"))
  }

  /** ev_anomaly's flag over a residual log `(user_id, event_id, rn,
    * v_micros, resid_micros)`: from each user's second row on, a row
    * flags when 2|r| > 3·m2, m2 being twice the user's median absolute
    * residual. 2·median of integers is itself an integer (a+b of the
    * middle pair), so no float boundary can flip a row cross-engine.
    * The median is a window over each user's rows, so `resid` is read
    * once: a memory-sink table, which a self-join cannot deduplicate,
    * is a valid input.
    */
  private[graft] def anomalyFlags(resid: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    resid.where("rn >= 2")
      .selectExpr("user_id", "event_id", "rn", "v_micros", "resid_micros",
        "cast(round(2 * percentile(abs(resid_micros), 0.5) OVER (PARTITION BY user_id), 0) " +
          "AS bigint) AS m2")
      .where("2 * abs(resid_micros) > 3 * m2")

  /** The hourly per-series bucket table shared by ev_seasonal and
    * ev_acf (series key = event_type, values = integer-micros bucket
    * means): one partial-aggregated corpus scan folding to a
    * (series × hour)-bounded frame — everything downstream operates
    * on this reduction, never the corpus.
    */
  private[graft] def hourlySeries(spark: org.apache.spark.sql.SparkSession,
                                  dir: String): org.apache.spark.sql.DataFrame =
    Tables.events(spark, dir)
      .selectExpr("event_type", "unix_micros(ts) div 3600000000L AS hr", s"$ValueMicros AS v")
      .groupBy("event_type", "hr")
      .agg(
        org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n_events"),
        org.apache.spark.sql.functions.expr("sum(v) div count(*) AS vb"))

  /** ev_ab_chisq's contingency-cell aggregates over
    * (event_type, variant, succ) rows — shared with the streaming twin
    * so the cells the two maintain are the same expressions.
    */
  private[graft] val abCellAggs: Seq[org.apache.spark.sql.Column] = Seq(
    org.apache.spark.sql.functions.expr(
      "cast(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS bigint) AS n_a"),
    org.apache.spark.sql.functions.expr(
      "cast(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS bigint) AS n_b"),
    org.apache.spark.sql.functions.expr(
      "cast(sum(CASE WHEN variant = 0 THEN succ ELSE 0 END) AS bigint) AS s_a"),
    org.apache.spark.sql.functions.expr(
      "cast(sum(CASE WHEN variant = 1 THEN succ ELSE 0 END) AS bigint) AS s_b"))

  /** Shared exact-integer Pearson χ² arithmetic over a 2×2 contingency
    * table (event_type, n_a, n_b, s_a, s_b) — ONE kernel for
    * ev_ab_chisq and st_ab_chisq so batch and stream cannot diverge.
    * See ev_ab_chisq's QueryDef comment for the widening/zero-guard
    * reasoning. The DECIMAL(38,0) widening of the χ² numerator /
    * denominator is strictly INTERNAL: gate outputs must never carry
    * DecimalType columns (RegistrySpec pins this) because the driver's
    * typed row-hash is unstable on decimal128 even when the values
    * agree — the r14 red-row lesson. The statistic itself is emitted
    * as exact integer milli-units (BIGINT).
    */
  private[graft] def chisqFromCells(
      cells: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    cells
      .selectExpr("event_type", "n_a", "n_b", "s_a", "s_b",
        "s_a * (n_b - s_b) - s_b * (n_a - s_a) AS d")
      .selectExpr("event_type", "n_a", "n_b", "s_a", "s_b",
        """cast(cast(n_a + n_b AS decimal(38,0)) * cast(d AS decimal(38,0))
                * cast(d AS decimal(38,0)) AS decimal(38,0)) AS chi2_num""",
        """cast(cast(s_a + s_b AS decimal(38,0)) * ((n_a - s_a) + (n_b - s_b))
                * n_a * n_b AS decimal(38,0)) AS chi2_den""")
      .selectExpr("event_type", "n_a", "n_b", "s_a", "s_b",
        """CASE WHEN chi2_den = 0 THEN 0L
                ELSE cast(chi2_num * 1000 div chi2_den AS bigint) END AS chi2_milli""")

  /** The DuckDB replay of the full χ² pipeline — reused verbatim by the
    * streaming twin (AvailableNow drain ≡ batch on a bounded source).
    */
  private[graft] val abChisqOracleSql: String = """
        WITH cells AS (
          SELECT event_type,
                 sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
                 sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
                 sum(CASE WHEN user_id % 2 = 0 AND value > 50 THEN 1 ELSE 0 END)::BIGINT AS s_a,
                 sum(CASE WHEN user_id % 2 = 1 AND value > 50 THEN 1 ELSE 0 END)::BIGINT AS s_b
          FROM events GROUP BY event_type),
        dd AS (
          SELECT event_type, n_a, n_b, s_a, s_b,
                 (s_a::HUGEINT * (n_b - s_b) - s_b::HUGEINT * (n_a - s_a)) AS d
          FROM cells),
        prods AS (
          SELECT event_type, n_a, n_b, s_a, s_b,
                 CAST((n_a + n_b)::HUGEINT * d * d AS DECIMAL(38,0)) AS chi2_num,
                 CAST((s_a + s_b)::HUGEINT * ((n_a - s_a) + (n_b - s_b))
                      * n_a::HUGEINT * n_b AS DECIMAL(38,0)) AS chi2_den
          FROM dd)
        SELECT event_type, n_a, n_b, s_a, s_b,
               CASE WHEN chi2_den = 0 THEN 0
                    ELSE CAST((chi2_num::HUGEINT * 1000) // chi2_den::HUGEINT AS BIGINT)
               END::BIGINT AS chi2_milli
        FROM prods"""

  /** The DuckDB twin of [[hourlySeries]] (CTE named `h`). */
  private[graft] val hourlySeriesSql: String = """
        h AS (
          SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
                 count(*)::BIGINT AS n_events,
                 (sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))::BIGINT
                  // count(*)::BIGINT)::BIGINT AS vb
          FROM events GROUP BY 1, 2)"""

  /** ev_sliding_window's oracle, shared by st_sliding_counts. */
  private[graft] val slidingWindowOracleSql: String = """
        SELECT slide_start AS window_start, event_type, count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM (
          SELECT event_type, value, (ts_s // 900 - g.k) * 900 AS slide_start, ts_s
          FROM (SELECT epoch_us(ts) // 1000000 AS ts_s, event_type, value FROM events),
               (SELECT unnest(generate_series(0, 3)) AS k) g)
        WHERE slide_start >= 0 AND ts_s < slide_start + 3600
        GROUP BY slide_start, event_type"""

  /** ev_sessionize's oracle, shared by st_sessionize. */
  private[graft] val sessionizeOracleSql: String = """
        WITH flagged AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                 CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
                      THEN 1
                      WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 1800000000
                      THEN 1 ELSE 0 END AS is_boundary
          FROM events
        ), sessioned AS (
          SELECT user_id, event_id, ts_us,
                 sum(is_boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
          FROM flagged
        )
        SELECT user_id, session_id, count(*) AS n_events,
               min(ts_us) AS session_start_us, max(ts_us) AS session_end_us
        FROM sessioned
        GROUP BY user_id, session_id"""

  /** ev_ewma's oracle, shared by st_ewma. */
  private[graft] val ewmaOracleSql: String = """
        WITH RECURSIVE e AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                 CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS rn
          FROM events),
        r AS (
          SELECT user_id, event_id, rn, v, v AS s FROM e WHERE rn = 1
          UNION ALL
          SELECT e.user_id, e.event_id, e.rn, e.v,
                 ((300 * e.v + 700 * r.s) // 1000)::BIGINT
          FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
        SELECT user_id, event_id, rn::BIGINT AS rn, v AS v_micros,
               s::BIGINT AS ewma_micros
        FROM r"""

  /** ev_holt's oracle, shared by st_holt. */
  private[graft] val holtOracleSql: String = """
        WITH RECURSIVE e AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                 CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS rn
          FROM events),
        r AS (
          SELECT user_id, event_id, rn, v, v AS l, 0::BIGINT AS b FROM e WHERE rn = 1
          UNION ALL
          SELECT e.user_id, e.event_id, e.rn, e.v,
                 ((300 * e.v + 700 * (r.l + r.b)) // 1000)::BIGINT,
                 ((200 * (((300 * e.v + 700 * (r.l + r.b)) // 1000) - r.l)
                   + 800 * r.b) // 1000)::BIGINT
          FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
        SELECT user_id, event_id, rn::BIGINT AS rn, v AS v_micros,
               l::BIGINT AS level_micros, b::BIGINT AS trend_micros,
               (l + b)::BIGINT AS forecast_micros
        FROM r"""

  /** ev_anomaly's oracle, shared by st_anomaly. */
  private[graft] val anomalyOracleSql: String = """
        WITH RECURSIVE e AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                 CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS rn
          FROM events),
        r AS (
          SELECT user_id, event_id, rn, v, v AS s, 0::BIGINT AS resid FROM e WHERE rn = 1
          UNION ALL
          SELECT e.user_id, e.event_id, e.rn, e.v,
                 ((300 * e.v + 700 * r.s) // 1000)::BIGINT,
                 (e.v - r.s)::BIGINT
          FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1),
        ew AS (SELECT * FROM r WHERE rn >= 2),
        scale AS (
          SELECT user_id,
                 CAST(round(2 * quantile_cont(abs(resid), 0.5), 0) AS BIGINT) AS m2
          FROM ew GROUP BY user_id)
        SELECT ew.user_id, event_id, rn::BIGINT AS rn, v AS v_micros,
               resid AS resid_micros, m2
        FROM ew JOIN scale ON ew.user_id = scale.user_id
        WHERE 2 * abs(resid) > 3 * m2"""

  /** ev_funnel_strict's oracle, shared by st_funnel_strict. */
  private[graft] val funnelStrictOracleSql: String = """
        WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
               WHERE event_type = 'signup' GROUP BY user_id),
        s2 AS (SELECT e.user_id, min(ts_us) AS t2
               FROM e JOIN s1 USING (user_id)
               WHERE event_type = 'view' AND ts_us > t1 AND ts_us <= t1 + 86400000000
               GROUP BY e.user_id),
        s3 AS (SELECT e.user_id, min(ts_us) AS t3
               FROM e JOIN s2 USING (user_id)
               WHERE event_type = 'purchase' AND ts_us > t2 AND ts_us <= t2 + 86400000000
               GROUP BY e.user_id),
        c AS (
          SELECT '1_signup' AS stage, count(*)::BIGINT AS n FROM s1
          UNION ALL SELECT '2_view_24h', count(*)::BIGINT FROM s2
          UNION ALL SELECT '3_purchase_24h', count(*)::BIGINT FROM s3)
        SELECT stage, n, (n * 1000000 // (SELECT count(*) FROM s1))::BIGINT AS conv_ppm
        FROM c"""

  /** ev_heavyhitters' oracle, shared by st_heavyhitters. */
  private[graft] val heavyHittersOracleSql: String = """
        WITH i AS (
          SELECT CASE WHEN event_id % 10 < 7 THEN event_id % 20
                      ELSE event_id + 1000000000 END AS item
          FROM events)
        SELECT item, count(*)::BIGINT AS cnt,
               (count(*) * 1000000 // (SELECT count(*) FROM i))::BIGINT AS share_ppm
        FROM i
        GROUP BY item
        HAVING count(*) * 500 > (SELECT count(*) FROM i)"""

  def queries: Seq[QueryDef] = Seq(
    // Tumbling 1-hour event-time window per event_type. In streaming this
    // is `window($"ts", "1 hour")` + watermark; batch-side date_trunc is
    // the same bucketing. Shuffle key (bucket, type) is high-cardinality
    // and time-spread ⇒ no skew at scale.
    QueryDef(
      "ev_window_agg",
      (spark, dir) =>
        Tables.events(spark, dir)
          .selectExpr(
            "cast(date_trunc('HOUR', ts) AS long) AS window_start",
            "event_type", "value")
          .groupBy("window_start", "event_type")
          .agg(
            org.apache.spark.sql.functions.expr("count(*) AS n_events"),
            org.apache.spark.sql.functions.expr(
              "cast(sum(cast(value AS decimal(18,6))) AS double) AS sum_value"),
            org.apache.spark.sql.functions.expr("cast(min(value) AS double) AS min_value"),
            org.apache.spark.sql.functions.expr("cast(max(value) AS double) AS max_value")),
      Some("""
        SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_start, event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
               min(value) AS min_value, max(value) AS max_value
        FROM events
        GROUP BY 1, 2""")),

    // Sliding event-time windows: 1-hour windows advancing every 15
    // minutes — each event lands in FOUR overlapping window instances
    // (Spark's window(ts, '1 hour', '15 minutes') semantics, written as
    // an explicit instance explode so the batch plan and the DuckDB
    // oracle share one formulation). The fan-out is row-local (scan →
    // generate → partial agg); the shuffle key (window_start, type) is
    // time-spread, no skew. Sliding windows are THE streaming-alerting
    // aggregation; this is its deterministic batch twin.
    QueryDef(
      "ev_sliding_window",
      (spark, dir) =>
        // Spark `div` truncates toward zero while DuckDB `//` floors;
        // they agree only for non-negative operands. unix_micros(ts) is
        // non-negative for the post-1970 event corpus (and ts_s div 900
        // inherits that) — pre-1970 timestamps would need floor(a/b) on
        // both sides instead.
        Tables.events(spark, dir)
          .selectExpr("unix_micros(ts) div 1000000 AS ts_s", "event_type", "value")
          .selectExpr("event_type", "value",
            """explode(transform(sequence(0, 3),
                 k -> (ts_s div 900 - k) * 900)) AS slide_start""")
          .where("slide_start >= 0 AND ts_s < slide_start + 3600")
          .groupBy("slide_start", "event_type")
          .agg(
            org.apache.spark.sql.functions.expr("count(*) AS n_events"),
            org.apache.spark.sql.functions.expr(
              "cast(sum(cast(value AS decimal(18,6))) AS double) AS sum_value"))
          .selectExpr("slide_start AS window_start", "event_type", "n_events", "sum_value"),
      Some(slidingWindowOracleSql)),

    // Sessionization: per-user sessions split on >30 min inactivity.
    // The batch analog of flatMapGroupsWithState sessionization
    // (graft.streaming.Sessionizer): lag + running sum of boundaries.
    // Partition key user_id is high-cardinality ⇒ balanced shuffle; at
    // 100 TB this is the standard one-shuffle sessionize.
    QueryDef(
      "ev_sessionize",
      (spark, dir) =>
        Tables.events(spark, dir)
          .selectExpr("user_id", "event_id", "unix_micros(ts) AS ts_us", "value")
          .selectExpr(
            "user_id", "event_id", "ts_us", "value",
            """CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
                    THEN 1
                    WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > 1800000000
                    THEN 1 ELSE 0 END AS is_boundary""")
          .selectExpr(
            "user_id", "event_id", "ts_us",
            """sum(is_boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id""")
          .groupBy("user_id", "session_id")
          .agg(
            org.apache.spark.sql.functions.expr("count(*) AS n_events"),
            org.apache.spark.sql.functions.expr("min(ts_us) AS session_start_us"),
            org.apache.spark.sql.functions.expr("max(ts_us) AS session_end_us")),
      Some(sessionizeOracleSql)),

    // JSON scalar extraction over the props column (semi-structured
    // payloads are the norm in event pipelines): get_json_object stays
    // codegen'd; aggregation by the extracted value.
    QueryDef(
      "ev_props_json",
      (spark, dir) =>
        Tables.events(spark, dir)
          .selectExpr(
            "event_type",
            "cast(get_json_object(props, '$.k') AS bigint) AS k")
          .groupBy("event_type")
          .agg(
            org.apache.spark.sql.functions.expr("count(*) AS n_events"),
            org.apache.spark.sql.functions.expr("sum(k) AS sum_k"),
            org.apache.spark.sql.functions.expr("min(k) AS min_k"),
            org.apache.spark.sql.functions.expr("max(k) AS max_k")),
      Some("""
        SELECT event_type, count(*) AS n_events,
               sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
               min(json_extract_string(props, '$.k')::BIGINT) AS min_k,
               max(json_extract_string(props, '$.k')::BIGINT) AS max_k
        FROM events
        GROUP BY event_type""")),

    // As-of (backward) join: for every 'error' event, the most recent
    // 'purchase' by the same user at-or-before it. Spark has no ASOF
    // JOIN operator; the scalable formulation is the sorted-union
    // window — tag both sides, order by (ts, side, id) within user, and
    // carry the last purchase forward with last_value(... , true)
    // [ignore nulls]. ONE shuffle on user_id, no range cross-product —
    // this is the shape that survives 100 TB, and the oracle runs the
    // identical algorithm so tie handling matches exactly.
    QueryDef(
      "ev_asof_join",
      (spark, dir) =>
        Tables.events(spark, dir)
          .where("event_type IN ('error', 'purchase')")
          .selectExpr(
            "user_id", "event_id", "unix_micros(ts) AS ts_us",
            "CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS kind",
            "CASE WHEN event_type = 'purchase' THEN event_id END AS p_event_id",
            "CASE WHEN event_type = 'purchase' THEN unix_micros(ts) END AS p_ts_us")
          .selectExpr(
            "user_id", "event_id", "ts_us", "kind",
            """last_value(p_event_id, true) OVER (PARTITION BY user_id
                 ORDER BY ts_us, kind, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_event_id""",
            """last_value(p_ts_us, true) OVER (PARTITION BY user_id
                 ORDER BY ts_us, kind, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_ts_us""")
          .where("kind = 1")
          .select("user_id", "event_id", "ts_us", "purchase_event_id", "purchase_ts_us"),
      Some("""
        SELECT user_id, event_id, ts_us, purchase_event_id, purchase_ts_us
        FROM (
          SELECT user_id, event_id, ts_us, kind,
                 last_value(p_event_id IGNORE NULLS) OVER (PARTITION BY user_id
                   ORDER BY ts_us, kind, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_event_id,
                 last_value(p_ts_us IGNORE NULLS) OVER (PARTITION BY user_id
                   ORDER BY ts_us, kind, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_ts_us
          FROM (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                   CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS kind,
                   CASE WHEN event_type = 'purchase' THEN event_id END AS p_event_id,
                   CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS p_ts_us
            FROM events
            WHERE event_type IN ('error', 'purchase')))
        WHERE kind = 1""")),

    // Funnel: users progressing signup → click → purchase IN ORDER.
    // One conditional-min aggregation per user (no self-joins, no
    // window over history), then a single funnel-count row. The
    // stage-ordering predicate compares the per-stage first timestamps
    // — at 100 TB this is one shuffle on user_id and a 1-row result.
    QueryDef(
      "ev_funnel",
      (spark, dir) =>
        Tables.events(spark, dir)
          .selectExpr("user_id", "event_type", "unix_micros(ts) AS ts_us")
          .groupBy("user_id")
          .agg(
            org.apache.spark.sql.functions.expr(
              "min(CASE WHEN event_type = 'signup' THEN ts_us END) AS t_signup"),
            org.apache.spark.sql.functions.expr(
              "min(CASE WHEN event_type = 'click' THEN ts_us END) AS t_click"),
            org.apache.spark.sql.functions.expr(
              "min(CASE WHEN event_type = 'purchase' THEN ts_us END) AS t_purchase"))
          .agg(
            org.apache.spark.sql.functions.expr(
              "count(t_signup) AS n_signup"),
            org.apache.spark.sql.functions.expr(
              "count(CASE WHEN t_click > t_signup THEN 1 END) AS n_signup_click"),
            org.apache.spark.sql.functions.expr(
              "count(CASE WHEN t_click > t_signup AND t_purchase > t_click THEN 1 END) AS n_full_funnel")),
      Some("""
        SELECT count(t_signup) AS n_signup,
               count(CASE WHEN t_click > t_signup THEN 1 END) AS n_signup_click,
               count(CASE WHEN t_click > t_signup AND t_purchase > t_click THEN 1 END) AS n_full_funnel
        FROM (
          SELECT user_id,
                 min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t_signup,
                 min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
                 min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
          FROM events
          GROUP BY user_id)""")),

    // Cohort retention: users bucketed by first-seen hour; active-user
    // counts per (cohort, hours-since-first). Two hash aggregations and
    // one equi-join on user_id — the canonical retention-matrix shape.
    // The first-seen pass is a min() aggregate (map-side partial), NOT
    // a window over the full history; at 100 TB that is the difference
    // between shuffling (user, min) pairs and sorting every event.
    // -------------------- DAU/WAU stickiness (engagement ratio)
    // The product-analytics headline metric: per ISO week (both
    // engines truncate weeks to Monday), how much of the weekly
    // audience shows up on an average active day. All-integer: per-day
    // and per-week distinct-user counts, then stickiness =
    // sum(dau) · 1e6 div (active_days · wau) — one exact division at
    // the end. Scale shape: ONE pass reduces the corpus to distinct
    // (week, day, user) triples — bounded by users × active days, the
    // only exchange that sees event-sized input — and both DAU and WAU
    // derive from that tiny PINNED table. The pin is load-bearing:
    // without it Catalyst's RemoveRedundantAggregates correctly
    // collapses distinct-over-distinct and each branch would re-scan +
    // re-shuffle the raw corpus (the r8 shape); with it the 100 TB
    // events table is read and exchanged exactly once, and the two
    // downstream aggregates shuffle only user×day-bounded rows. The
    // result reads the pin, so it lives as long as the result does.
    QueryDef(
      "ev_stickiness",
      (spark, dir) => {
        val days = pin(Tables.events(spark, dir)
          .selectExpr("date_trunc('week', ts) AS w", "date_trunc('day', ts) AS d", "user_id")
          .distinct())
        val dau = days.groupBy("w", "d")
          .agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS dau"))
        val wau = days.select("w", "user_id").distinct()
          .groupBy("w")
          .agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS wau"))
        dau.groupBy("w")
          .agg(
            org.apache.spark.sql.functions.expr("cast(sum(dau) AS bigint) AS sum_dau"),
            org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS active_days"))
          .join(wau, "w")
          .selectExpr("unix_micros(w) AS week_us", "wau", "active_days", "sum_dau",
            "sum_dau * 1000000L div (active_days * wau) AS stickiness_ppm")
      },
      Some("""
        WITH dau AS (
          SELECT date_trunc('week', ts) AS w, date_trunc('day', ts) AS d,
                 count(DISTINCT user_id)::BIGINT AS dau
          FROM events GROUP BY 1, 2),
        wau AS (
          SELECT date_trunc('week', ts) AS w, count(DISTINCT user_id)::BIGINT AS wau
          FROM events GROUP BY 1)
        SELECT epoch_us(dau.w) AS week_us, wau, count(*)::BIGINT AS active_days,
               sum(dau)::BIGINT AS sum_dau,
               (sum(dau) * 1000000 // (count(*) * wau))::BIGINT AS stickiness_ppm
        FROM dau JOIN wau ON dau.w = wau.w
        GROUP BY dau.w, wau""")),

    QueryDef(
      "ev_retention",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
          .selectExpr("user_id", "unix_micros(ts) div 3600000000 AS hour_bucket")
        val first = ev.groupBy("user_id")
          .agg(org.apache.spark.sql.functions.expr("min(hour_bucket) AS cohort_hour"))
        ev.join(first, "user_id")
          .selectExpr("cohort_hour", "hour_bucket - cohort_hour AS hours_since_first", "user_id")
          .groupBy("cohort_hour", "hours_since_first")
          .agg(org.apache.spark.sql.functions.expr("count(DISTINCT user_id) AS n_users"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) // 3600000000 AS hour_bucket FROM events
        ),
        first AS (SELECT user_id, min(hour_bucket) AS cohort_hour FROM ev GROUP BY user_id)
        SELECT f.cohort_hour, e.hour_bucket - f.cohort_hour AS hours_since_first,
               count(DISTINCT e.user_id) AS n_users
        FROM ev e JOIN first f ON e.user_id = f.user_id
        GROUP BY 1, 2""")),

    // Pivot: per-user event-type counts as columns. Spark's
    // `groupBy().pivot(col, values)` with EXPLICIT values compiles to a
    // single pass of conditional aggregation — no second job to
    // discover the pivot domain, no schema drift between runs, and the
    // exact plan a hand-written CASE-WHEN aggregation produces (which
    // is what the oracle runs). At 100 TB: one shuffle on user_id,
    // partial aggregation map-side, five counters per group.
    QueryDef(
      "ev_pivot",
      (spark, dir) =>
        Tables.events(spark, dir)
          .groupBy("user_id")
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(org.apache.spark.sql.functions.expr("count(*)"))
          .selectExpr("user_id",
            "coalesce(click, 0L) AS n_click",
            "coalesce(error, 0L) AS n_error",
            "coalesce(purchase, 0L) AS n_purchase",
            "coalesce(signup, 0L) AS n_signup",
            "coalesce(view, 0L) AS n_view"),
      Some("""
        SELECT user_id,
               count(*) FILTER (event_type = 'click') AS n_click,
               count(*) FILTER (event_type = 'error') AS n_error,
               count(*) FILTER (event_type = 'purchase') AS n_purchase,
               count(*) FILTER (event_type = 'signup') AS n_signup,
               count(*) FILTER (event_type = 'view') AS n_view
        FROM events
        GROUP BY user_id""")),

    // Unpivot (melt): the inverse reshaping — wide per-user counts back
    // to long (user_id, event_type, n) rows via stack(). A generator
    // projection, no shuffle beyond the pivot's own; zero-count cells
    // are dropped symmetrically in both engines.
    QueryDef(
      "ev_unpivot",
      (spark, dir) => {
        val wide = Tables.events(spark, dir)
          .groupBy("user_id")
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(org.apache.spark.sql.functions.expr("count(*)"))
        wide.selectExpr("user_id",
            """stack(5, 'click', coalesce(click, 0L),
                        'error', coalesce(error, 0L),
                        'purchase', coalesce(purchase, 0L),
                        'signup', coalesce(signup, 0L),
                        'view', coalesce(view, 0L)) AS (event_type, n)""")
          .where("n > 0")
      },
      Some("""
        SELECT user_id, event_type, count(*) AS n
        FROM events
        GROUP BY user_id, event_type""")),

    // Range join, binned: count all events inside ±5-minute windows
    // around the 5 highest-value purchases. Spark has no range-join
    // operator — a raw `ts BETWEEN start AND end` theta join plans as a
    // nested-loop scan of events × windows. The scalable formulation
    // bins time at (≥ window width) granularity: windows explode to the
    // 10-min bins they overlap, events hash to their single bin, the
    // join is an EQUI-join on the bin, and the exact BETWEEN is a cheap
    // residual filter. Each event lands in exactly one bin, so no
    // dedup is needed. Cost: |events| + Σ bins-per-window, any scale.
    // The oracle runs the direct theta join — different algorithm, same
    // result, which makes the cross-check meaningful.
    QueryDef(
      "ev_range_join",
      (spark, dir) => {
        val binUs = 600000000L // 10 min ≥ window width ⇒ ≤ 2 bins/window
        val ev = Tables.events(spark, dir)
          .selectExpr("event_id", "unix_micros(ts) AS ts_us", "event_type", "value")
        val anchors = ev.where("event_type = 'purchase'")
          .orderBy(org.apache.spark.sql.functions.desc("value"),
            org.apache.spark.sql.functions.col("event_id"))
          .limit(5)
          .selectExpr("event_id AS w_id",
            "ts_us - 300000000 AS w_start", "ts_us + 300000000 AS w_end")
        val wBins = anchors.selectExpr("w_id", "w_start", "w_end",
          s"explode(sequence(w_start div $binUs, w_end div $binUs, 1)) AS bin")
        val eBins = ev.selectExpr("event_id", "ts_us", "value", s"ts_us div $binUs AS bin")
        eBins.join(org.apache.spark.sql.functions.broadcast(wBins), "bin")
          .where("ts_us BETWEEN w_start AND w_end AND event_id != w_id")
          .groupBy("w_id")
          .agg(
            org.apache.spark.sql.functions.expr("count(*) AS n_events"),
            org.apache.spark.sql.functions.expr(
              "cast(sum(cast(value AS decimal(18,6))) AS double) AS sum_value"))
      },
      Some("""
        WITH anchors AS (
          SELECT event_id AS w_id,
                 epoch_us(ts) - 300000000 AS w_start,
                 epoch_us(ts) + 300000000 AS w_end
          FROM events WHERE event_type = 'purchase'
          ORDER BY value DESC, event_id LIMIT 5)
        SELECT w_id, count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM anchors a JOIN events e
          ON epoch_us(e.ts) BETWEEN a.w_start AND a.w_end AND e.event_id != a.w_id
        GROUP BY w_id""")),

    // Top-N per group: latest 3 events per user — row_number window +
    // filter, the standard dedup-keep-latest building block.
    QueryDef(
      "ev_latest_per_user",
      (spark, dir) =>
        Tables.events(spark, dir)
          .selectExpr("user_id", "event_id", "event_type", "unix_micros(ts) AS ts_us")
          .selectExpr(
            "user_id", "event_id", "event_type", "ts_us",
            "cast(row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS bigint) AS rn")
          .where("rn <= 3"),
      Some("""
        SELECT user_id, event_id, event_type, ts_us, rn
        FROM (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
                 row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
          FROM events)
        WHERE rn <= 3""")),

    // --------------------------- lag/lead step analysis (extension)
    // Per-user event transitions: time since the previous event and the
    // next event's type — the feature most sequence models extract
    // first. One window keyed by user_id, deterministic (ts, event_id)
    // order; lag and lead share a single Window spec so Spark computes
    // both in ONE pass over each partition (one shuffle, one sort —
    // check the plan: a single Window node carries both functions).
    QueryDef(
      "ev_lag_lead",
      (spark, dir) =>
        Tables.events(spark, dir)
          .selectExpr("user_id", "event_id", "event_type", "unix_micros(ts) AS ts_us")
          .selectExpr(
            "user_id", "event_id", "event_type",
            """coalesce(ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id),
                        -1L) AS us_since_prev""",
            """coalesce(lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id),
                        'none') AS next_type"""),
      Some("""
        SELECT user_id, event_id, event_type,
               coalesce(epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id),
                        -1)::BIGINT AS us_since_prev,
               coalesce(lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id),
                        'none') AS next_type
        FROM events""")),

    // --------------------------- resample + forward fill (extension)
    // Time-series gap filling: each user's sparse events resample onto
    // a dense hourly grid from their first to their last active hour;
    // hours with no events carry the last observed value forward
    // (IGNORE NULLS last_value — both engines implement the identical
    // semantics). The per-hour representative is the LAST event of the
    // hour under a total (ts, event_id) order, so every step is
    // deterministic. Scale shape: the grid explodes per user (bounded
    // by the user's own active span, never a global calendar), all
    // windows are user-partitioned — one shuffle on the
    // high-cardinality key, no global sort, no driver-side calendar.
    QueryDef(
      "ev_resample",
      (spark, dir) => {
        val hourly = Tables.events(spark, dir)
          .selectExpr("user_id", "event_id", "unix_micros(ts) AS ts_us", "value",
            "cast(date_trunc('HOUR', ts) AS long) div 3600 AS hr")
          .selectExpr("user_id", "hr", "value",
            """row_number() OVER (PARTITION BY user_id, hr
                                  ORDER BY ts_us DESC, event_id DESC) AS rn""")
          .where("rn = 1")
          .selectExpr("user_id", "hr", "value AS close")
        val grid = hourly.groupBy("user_id")
          .agg(
            org.apache.spark.sql.functions.expr("min(hr) AS hr0"),
            org.apache.spark.sql.functions.expr("max(hr) AS hr1"))
          .selectExpr("user_id", "explode(sequence(hr0, hr1, 1)) AS hr")
        grid.join(hourly, Seq("user_id", "hr"), "left")
          .selectExpr("user_id", "hr",
            "CASE WHEN close IS NULL THEN 0L ELSE 1L END AS observed",
            """last(close, true) OVER (PARTITION BY user_id ORDER BY hr
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled""")
          .selectExpr("user_id", "hr * 3600 AS hour_epoch", "observed", "filled")
      },
      Some("""
        WITH hourly AS (
          SELECT user_id, hr, value AS close
          FROM (
            SELECT user_id, epoch(date_trunc('hour', ts))::BIGINT // 3600 AS hr, value,
                   row_number() OVER (PARTITION BY user_id, epoch(date_trunc('hour', ts))::BIGINT // 3600
                                      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
            FROM events)
          WHERE rn = 1),
        grid AS (
          SELECT user_id, unnest(generate_series(min(hr), max(hr))) AS hr
          FROM hourly GROUP BY user_id)
        SELECT g.user_id, g.hr * 3600 AS hour_epoch,
               CASE WHEN h.close IS NULL THEN 0 ELSE 1 END::BIGINT AS observed,
               last_value(h.close IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.hr
                                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr""")),

    // --------------------------------- RFM customer segmentation
    // Recency / Frequency / Monetary scoring over purchase events —
    // the classic lifecycle-segmentation aggregate. The reference
    // instant is the corpus max timestamp (broadcast scalar), so the
    // score is a pure function of the data. Quintile scores come from
    // BOUNDARY COMPARISON, not ntile: the four 20/40/60/80-percentile
    // cut points per metric fold to one broadcast row and each user
    // scores row-locally against them — no global sort anywhere, which
    // is what makes this shape survive 10⁹ users (an ntile(5) OVER ()
    // is a single-partition sort of the whole user table).
    QueryDef(
      "ev_rfm",
      (spark, dir) => {
        val p = Tables.events(spark, dir).where("event_type = 'purchase'")
          .selectExpr("user_id", "unix_micros(ts) AS ts_us", "value")
        val agg = p.groupBy("user_id")
          .agg(
            org.apache.spark.sql.functions.expr("max(ts_us) AS last_us"),
            org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS frequency"),
            org.apache.spark.sql.functions.expr(
              "cast(sum(cast(value AS decimal(18,6))) AS double) AS monetary"))
        val withRec = agg
          .crossJoin(org.apache.spark.sql.functions.broadcast(
            agg.groupBy().agg(
              org.apache.spark.sql.functions.expr("max(last_us) AS ref_us"))))
          // ref_us = max(last_us), so ref_us - last_us >= 0 and Spark's
          // truncating `div` agrees with DuckDB's flooring `//`.
          .selectExpr("user_id", "(ref_us - last_us) div 1000000 AS recency_s",
            "frequency", "monetary")
        // Cut points are rounded to 6 decimals before any tier
        // comparison: Spark percentile and DuckDB quantile_cont can
        // drift a last ulp on interpolated values, and an unrounded
        // boundary would flip users sitting exactly on a quintile edge
        // cross-engine.
        val bounds = withRec.groupBy().agg(
          org.apache.spark.sql.functions.expr(
            "transform(percentile(recency_s, array(0.2, 0.4, 0.6, 0.8)), x -> round(x, 6)) AS rb"),
          org.apache.spark.sql.functions.expr(
            "transform(percentile(frequency, array(0.2, 0.4, 0.6, 0.8)), x -> round(x, 6)) AS fb"),
          org.apache.spark.sql.functions.expr(
            "transform(percentile(monetary, array(0.2, 0.4, 0.6, 0.8)), x -> round(x, 6)) AS mb"))
        def tier(v: String, b: String, lowIsGood: Boolean) = {
          val cmp = (i: Int) =>
            if (lowIsGood) s"CASE WHEN cast($v AS double) > $b[$i] THEN 1 ELSE 0 END"
            else s"CASE WHEN cast($v AS double) <= $b[$i] THEN 1 ELSE 0 END"
          s"cast(1 + ${(0 to 3).map(cmp).mkString(" + ")} AS bigint)"
        }
        withRec.crossJoin(org.apache.spark.sql.functions.broadcast(bounds))
          .selectExpr("user_id", "recency_s", "frequency", "monetary",
            // recency: smaller = better tier (tier 1 = most recent);
            // frequency/monetary: larger = better tier (tier 1 = top)
            s"${tier("recency_s", "rb", lowIsGood = true)} AS r_tier",
            s"${tier("frequency", "fb", lowIsGood = false)} AS f_tier",
            s"${tier("monetary", "mb", lowIsGood = false)} AS m_tier")
          .selectExpr("user_id", "recency_s", "frequency", "monetary",
            "r_tier * 100 + f_tier * 10 + m_tier AS rfm")
      },
      Some("""
        WITH p AS (SELECT user_id, epoch_us(ts) AS ts_us, value
                   FROM events WHERE event_type = 'purchase'),
        agg AS (
          SELECT user_id, max(ts_us) AS last_us, count(*)::BIGINT AS frequency,
                 CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
          FROM p GROUP BY user_id),
        wr AS (
          SELECT user_id, (r.ref_us - last_us) // 1000000 AS recency_s,
                 frequency, monetary
          FROM agg, (SELECT max(last_us) AS ref_us FROM agg) r),
        b AS (
          SELECT list_transform(quantile_cont(recency_s, [0.2, 0.4, 0.6, 0.8]), x -> round(x, 6)) AS rb,
                 list_transform(quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]), x -> round(x, 6)) AS fb,
                 list_transform(quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]), x -> round(x, 6)) AS mb
          FROM wr)
        SELECT user_id, recency_s, frequency, monetary,
               (1 + (recency_s::DOUBLE > rb[1])::INT + (recency_s::DOUBLE > rb[2])::INT
                  + (recency_s::DOUBLE > rb[3])::INT + (recency_s::DOUBLE > rb[4])::INT)::BIGINT * 100
               + (1 + (frequency::DOUBLE <= fb[1])::INT + (frequency::DOUBLE <= fb[2])::INT
                    + (frequency::DOUBLE <= fb[3])::INT + (frequency::DOUBLE <= fb[4])::INT)::BIGINT * 10
               + (1 + (monetary <= mb[1])::INT + (monetary <= mb[2])::INT
                    + (monetary <= mb[3])::INT + (monetary <= mb[4])::INT)::BIGINT AS rfm
        FROM wr, b""")),

    // ------------------------------ gaps-and-islands run collapse
    // Consecutive same-type events per user collapse into runs — the
    // classic islands pattern (CDC run-length encoding, state-change
    // detection) via the row_number DIFFERENCE trick: rn over the full
    // user timeline minus rn within (user, type) is constant exactly
    // along an unbroken same-type run. Two window passes + one
    // aggregation, all partitioned by user — bounded state, no self
    // join, the shape that survives any corpus size.
    QueryDef(
      "ev_islands",
      (spark, dir) =>
        Tables.events(spark, dir)
          .selectExpr("user_id", "event_type", "event_id", "unix_micros(ts) AS ts_us")
          .selectExpr("user_id", "event_type", "ts_us",
            """row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
               - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts_us, event_id) AS grp""")
          .groupBy("user_id", "event_type", "grp")
          .agg(
            org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n_events"),
            org.apache.spark.sql.functions.expr("min(ts_us) AS run_start_us"),
            org.apache.spark.sql.functions.expr("max(ts_us) AS run_end_us"))
          .select("user_id", "event_type", "n_events", "run_start_us", "run_end_us"),
      Some("""
        SELECT user_id, event_type, count(*)::BIGINT AS n_events,
               min(ts_us) AS run_start_us, max(ts_us) AS run_end_us
        FROM (
          SELECT user_id, event_type, ts_us,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
                 - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts_us, event_id) AS grp
          FROM (SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us FROM events))
        GROUP BY user_id, event_type, grp""")),

    // ----------------------------------- churn risk via LEFT ANTI join
    // Engaged-but-gone: users with view activity and NO purchase after
    // their last view — the correlated NOT EXISTS (with an inequality)
    // a churn model trains on. The scalable shape reduces the inner
    // side to a per-user MAX first (purchases collapse to one row per
    // user — broadcast-sized), then a LEFT ANTI join with the compound
    // condition; the naive correlated subquery would re-scan purchases
    // per outer row. Gate-visible anti join: the semi/anti pair q10
    // started.
    QueryDef(
      "ev_churn_anti",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val viewers = ev.where("event_type = 'view'")
          .groupBy("user_id")
          .agg(
            org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n_views"),
            org.apache.spark.sql.functions.expr("cast(max(unix_micros(ts)) AS bigint) AS last_view_us"))
        val lastPurchase = ev.where("event_type = 'purchase'")
          .groupBy("user_id")
          .agg(org.apache.spark.sql.functions.expr("cast(max(unix_micros(ts)) AS bigint) AS p_max_us"))
          .withColumnRenamed("user_id", "p_user_id")
        viewers.join(lastPurchase,
            viewers("user_id") === lastPurchase("p_user_id")
              && lastPurchase("p_max_us") > viewers("last_view_us"),
            "left_anti")
      },
      Some("""
        SELECT user_id, count(*)::BIGINT AS n_views,
               max(epoch_us(ts))::BIGINT AS last_view_us
        FROM events v
        WHERE event_type = 'view'
        GROUP BY user_id
        HAVING NOT EXISTS (SELECT 1 FROM events p
                           WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
                             AND epoch_us(p.ts) > max(epoch_us(v.ts)))""")),

    // --------------------------------- event-type transition matrix
    // First-order Markov transitions over each user's ordered event
    // stream — the behavioral fingerprint recommendation and anomaly
    // models start from. Shares are integer parts-per-million within
    // each source type (cnt * 1e6 div row-total), so the matrix is
    // hash-exact with no floating division anywhere. Scale shape: one
    // user-partitioned window pass for the lag, then a 25-cell
    // partial-aggregated groupBy — the matrix is O(types²) however
    // many events feed it, and the per-source totals it normalizes by
    // come from a window over that tiny aggregate, not a second scan.
    QueryDef(
      "ev_markov",
      (spark, dir) =>
        Tables.events(spark, dir)
          .selectExpr("user_id", "event_id", "event_type", "unix_micros(ts) AS ts_us")
          .selectExpr("user_id", "event_type AS next_type",
            """lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts_us, event_id) AS prev_type""")
          .where("prev_type IS NOT NULL")
          .groupBy("prev_type", "next_type")
          .agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n_trans"))
          .selectExpr("prev_type", "next_type", "n_trans",
            "n_trans * 1000000L div sum(n_trans) OVER (PARTITION BY prev_type) AS ppm"),
      Some("""
        WITH t AS (
          SELECT lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY epoch_us(ts), event_id) AS prev_type,
                 event_type AS next_type
          FROM events),
        m AS (
          SELECT prev_type, next_type, count(*)::BIGINT AS n_trans
          FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        SELECT prev_type, next_type, n_trans,
               (n_trans * 1000000 // sum(n_trans) OVER (PARTITION BY prev_type))::BIGINT AS ppm
        FROM m""")),

    // --------------------------------- last-touch revenue attribution
    // Marketing attribution: every purchase credits its value to the
    // most recent NON-purchase event by the same user within a 7-day
    // lookback ('direct' when none qualifies). The touch row is found
    // by two IGNORE-NULLS last() windows over the same null pattern
    // (nulls exactly on purchase rows), so touch_type and touch_us are
    // guaranteed to come from the SAME row — no struct-valued window
    // needed, and both engines implement the identical semantics.
    // Scale shape: one user-partitioned window pass over the stream,
    // then a 6-row partial-aggregated groupBy; revenue folds as an
    // exact decimal so partition order cannot move the hash.
    QueryDef(
      "ev_attribution",
      (spark, dir) =>
        Tables.events(spark, dir)
          .selectExpr("user_id", "event_id", "event_type", "value",
            "unix_micros(ts) AS ts_us")
          .selectExpr("event_type", "value", "ts_us",
            """last(CASE WHEN event_type <> 'purchase' THEN event_type END, true)
                 OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type""",
            """last(CASE WHEN event_type <> 'purchase' THEN ts_us END, true)
                 OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_us""")
          .where("event_type = 'purchase'")
          .selectExpr(
            """CASE WHEN touch_us IS NOT NULL AND ts_us - touch_us <= 604800000000L
                    THEN touch_type ELSE 'direct' END AS channel""",
            "value")
          .groupBy("channel")
          .agg(
            org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n_purchases"),
            org.apache.spark.sql.functions.expr(
              "cast(sum(cast(value AS decimal(18,6))) AS double) AS credited_value")),
      Some("""
        WITH touched AS (
          SELECT event_type, value, epoch_us(ts) AS ts_us,
                 last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type,
                 last_value(CASE WHEN event_type <> 'purchase' THEN epoch_us(ts) END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_us
          FROM events)
        SELECT CASE WHEN touch_us IS NOT NULL AND ts_us - touch_us <= 604800000000
                    THEN touch_type ELSE 'direct' END AS channel,
               count(*)::BIGINT AS n_purchases,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS credited_value
        FROM touched WHERE event_type = 'purchase'
        GROUP BY 1""")),

    // ----------------------------- linear multi-touch attribution
    // The fairness counterpart to ev_attribution: every touch in the
    // purchase's 7-day lookback shares the credit equally. Credit is
    // integer micros — value div n_touches per touch, with the
    // remainder assigned to the LAST touch so per-purchase credit sums
    // conserve exactly (no fractional cents to round cross-engine).
    // Untouched purchases credit 'direct' in full.
    // Scale shape: purchases⋈touches joins on (user_id, WEEK BUCKET)
    // with the 7-day band as a join residual — each purchase explodes
    // to its own and the preceding week bucket (the only two buckets an
    // in-window touch can live in), so out-of-window touches NEVER
    // materialize join rows. A user with years of history no longer
    // pairs every purchase with every touch they ever made: per-key
    // pair space is one purchase × one week of that user's touches.
    // The surviving (in-window-only) rows re-shuffle once for the
    // per-purchase window — an O(result) exchange, far smaller than
    // the unbounded pair space it replaces. Then an O(channels)
    // aggregate. The left join keeps no-touch purchases without a
    // second pass.
    QueryDef(
      "ev_multitouch",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val week = 604800000000L
        val purchases = ev.where("event_type = 'purchase'")
          .selectExpr("user_id AS pu", "event_id AS p_id", "unix_micros(ts) AS p_us",
            s"$ValueMicros AS v_micros",
            s"explode(array(unix_micros(ts) div ${week}L - 1L, unix_micros(ts) div ${week}L)) AS wk")
        val touches = ev.where("event_type <> 'purchase'")
          .selectExpr("user_id AS tu", "event_id AS t_id", "event_type AS t_type",
            "unix_micros(ts) AS t_us", s"unix_micros(ts) div ${week}L AS twk")
        purchases.join(touches,
            org.apache.spark.sql.functions.expr(
              s"pu = tu AND wk = twk AND t_us < p_us AND p_us - t_us <= ${week}L"),
            "left")
          // every matched row is in-window by construction (the band
          // rides the join); unmatched bucket keys surface null rows
          .selectExpr("p_id", "v_micros", "t_type AS channel", "t_us", "t_id", "wk")
          .selectExpr("p_id", "v_micros", "channel",
            """count(channel) OVER (PARTITION BY p_id) AS n_t""",
            """row_number() OVER (PARTITION BY p_id
                                  ORDER BY (channel IS NULL), t_us DESC, t_id DESC, wk DESC) AS rn""")
          // rn = 1 is the LAST in-window touch when any exists (non-null
          // channels sort first), else one arbitrary-but-deterministic
          // carrier row for the 'direct' credit — a no-touch purchase
          // explodes to TWO unmatched bucket rows and must emit exactly
          // once (wk DESC breaks the otherwise-all-null tie)
          .where("channel IS NOT NULL OR rn = 1")
          .selectExpr(
            "coalesce(channel, 'direct') AS channel",
            """CASE WHEN channel IS NULL THEN v_micros
                    ELSE v_micros div n_t +
                         CASE WHEN rn = 1 THEN v_micros - n_t * (v_micros div n_t)
                              ELSE 0L END END AS credit_micros""")
          .groupBy("channel")
          .agg(
            org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n_credits"),
            org.apache.spark.sql.functions.expr(
              "cast(sum(credit_micros) AS bigint) AS credited_micros"))
      },
      Some("""
        WITH p AS (
          SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us,
                 CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micros
          FROM events WHERE event_type = 'purchase'),
        t AS (
          SELECT user_id, event_id AS t_id, event_type AS t_type, epoch_us(ts) AS t_us
          FROM events WHERE event_type <> 'purchase'),
        j AS (
          SELECT p_id, v_micros,
                 CASE WHEN t_us IS NOT NULL AND t_us < p_us
                       AND p_us - t_us <= 604800000000
                      THEN t_type END AS channel,
                 t_us, t_id
          FROM p LEFT JOIN t USING (user_id)),
        w AS (
          SELECT p_id, v_micros, channel,
                 count(channel) OVER (PARTITION BY p_id) AS n_t,
                 row_number() OVER (PARTITION BY p_id
                                    ORDER BY (channel IS NULL), t_us DESC, t_id DESC) AS rn
          FROM j)
        SELECT coalesce(channel, 'direct') AS channel,
               count(*)::BIGINT AS n_credits,
               sum(CASE WHEN channel IS NULL THEN v_micros
                        ELSE v_micros // n_t +
                             CASE WHEN rn = 1 THEN v_micros - n_t * (v_micros // n_t)
                                  ELSE 0 END END)::BIGINT AS credited_micros
        FROM w
        WHERE channel IS NOT NULL OR rn = 1
        GROUP BY 1""")),

    // --------------------------- integer EWMA (per-user smoothing)
    // Exponential smoothing over each user's value series — the
    // baseline forecasting/anomaly primitive. The recurrence
    // s_t = (300·v_t + 700·s_{t−1}) div 1000 (α = 0.3, [[ewmaStep]]) is
    // inherently sequential, so it runs through the secondary-sort
    // driver [[foldSorted]] over a user_id exchange, ordered by
    // (ts_us, event_id): a hyper-active user at 100 TB streams through
    // the spilling shuffle sort instead of materializing. The oracle
    // replays the recurrence as a DuckDB RECURSIVE CTE stepping
    // rn → rn+1 per user: an independent implementation of it.
    QueryDef(
      "ev_ewma",
      (spark, dir) => {
        import spark.implicits._
        foldSorted(userPoints(spark, dir), "user_id", "ts_us", "event_id")(_._1)(
          (p: Option[Ewma], r: Point) => ewmaStep(p, r._4))(
          (r, rn, e) => (r._1, r._2, rn, r._4, e.s))
          .toDF("user_id", "event_id", "rn", "v_micros", "ewma_micros")
      },
      Some(ewmaOracleSql)),

    // ------------- Holt's linear smoothing (trend-aware forecasting)
    // ev_ewma's level-only recurrence misses drifting series; Holt
    // carries a TREND term: l_t = α·v + (1−α)(l+b),
    // b_t = β·(l_t − l_{t−1}) + (1−β)·b, forecast = l_t + b_t — the
    // double-exponential smoother capacity planners run per entity.
    // Integer micros with α = 0.3, β = 0.2 ([[holtStep]]; the trend
    // difference can be negative, where its truncating division
    // matters). Same driver and exchange as ev_ewma; the oracle
    // replays the recurrence as a recursive CTE.
    QueryDef(
      "ev_holt",
      (spark, dir) => {
        import spark.implicits._
        foldSorted(userPoints(spark, dir), "user_id", "ts_us", "event_id")(_._1)(
          (p: Option[Holt], r: Point) => holtStep(p, r._4))(
          (r, rn, h) => (r._1, r._2, rn, r._4, h.l, h.b, h.l + h.b))
          .toDF("user_id", "event_id", "rn", "v_micros",
            "level_micros", "trend_micros", "forecast_micros")
      },
      Some(holtOracleSql)),

    // ------ Holt-Winters additive triple smoothing (seasonal series)
    // ev_holt's level+trend recurrence is blind to the daily cycle
    // ev_seasonal showed the hourly series carries; Holt-Winters adds
    // a third, SEASONAL state — a ring of m=24 hour-of-day indices:
    //   l_t = α(v − s_{t−m}) + (1−α)(l+b)
    //   b_t = β(l_t − l_{t−1}) + (1−β)b
    //   s_t = γ(v − l_t) + (1−γ)s_{t−m}
    // with α/β/γ = 0.3/0.2/0.1 in thousandths over integer micros
    // (truncating division; DuckDB `//` ≡ Scala Long `/`, measured on
    // negatives in ev_holt). Deterministic cold start: l₁ = v₁, b = 0,
    // seasonal ring all-zero — the first day's indices learn from 0,
    // exactly what the oracle's anchor list replays. One-step-ahead
    // forecast = l + b + s_{t+1−m} (the ring slot the NEXT step will
    // consume; [[holtWintersStep]]). Runs per event_type over the
    // shared hourly reduction: the corpus folds to (type, hour) rows in
    // one partial-aggregated exchange, then [[foldSorted]] folds each
    // type's series — 26 longs of state (l, b, 24-slot ring) per type
    // regardless of series length. The oracle
    // replays the recurrence as a recursive CTE carrying the ring as
    // a LIST column (s[1] = s_{t−m}; append-shift per step).
    QueryDef(
      "ev_holt_winters",
      (spark, dir) => {
        import spark.implicits._
        val series = hourlySeries(spark, dir)
          .select("event_type", "hr", "vb")
          .as[(String, Long, Long)]
          .repartition(org.apache.spark.sql.functions.col("event_type"))
        foldSorted(series, "event_type", "hr")(_._1)(
          (p: Option[HoltWinters], r: (String, Long, Long)) => holtWintersStep(p, r._3))(
          (r, rn, w) => (r._1, r._2, rn, r._3, w.holt.l, w.holt.b, w.ring(23),
            w.holt.l + w.holt.b + w.ring(0)))
          .toDF("event_type", "hr", "rn", "vb_micros", "level_micros",
            "trend_micros", "season_micros", "forecast_micros")
      },
      Some(s"""
        WITH RECURSIVE $hourlySeriesSql,
        e AS (
          SELECT event_type, hr, vb,
                 row_number() OVER (PARTITION BY event_type ORDER BY hr) AS rn
          FROM h),
        r AS (
          SELECT event_type, hr, rn, vb, vb AS l, 0::BIGINT AS b,
                 [0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0]::BIGINT[] AS s
          FROM e WHERE rn = 1
          UNION ALL
          SELECT e.event_type, e.hr, e.rn, e.vb,
                 ((300 * (e.vb - r.s[1]) + 700 * (r.l + r.b)) // 1000)::BIGINT,
                 ((200 * (((300 * (e.vb - r.s[1]) + 700 * (r.l + r.b)) // 1000) - r.l)
                   + 800 * r.b) // 1000)::BIGINT,
                 list_append(r.s[2:],
                   ((100 * (e.vb - ((300 * (e.vb - r.s[1]) + 700 * (r.l + r.b)) // 1000))
                     + 900 * r.s[1]) // 1000)::BIGINT)
          FROM r JOIN e ON e.event_type = r.event_type AND e.rn = r.rn + 1)
        SELECT event_type, hr::BIGINT AS hr, rn::BIGINT AS rn, vb AS vb_micros,
               l::BIGINT AS level_micros, b::BIGINT AS trend_micros,
               s[24]::BIGINT AS season_micros,
               (l + b + s[1])::BIGINT AS forecast_micros
        FROM r""")),

    // ----------------- A/B contingency audit (exact-integer chi-square)
    // The experiment-analysis primitive: users split into two variants
    // (parity of user_id — the deterministic stand-in for an
    // assignment table), success = a high-value event, and the 2×2
    // contingency table per event_type yields Pearson's χ² =
    // N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)). Everything stays EXACT:
    // the cross-product d = s_a(n_b−s_b) − s_b(n_a−s_a) is int64-safe
    // to ~3M users per arm, and the χ² numerator/denominator are
    // emitted as DECIMAL(38,0) products (d² alone reaches 1e24 at sf10
    // — the widening is load-bearing); the scaled χ²·1000 quotient
    // divides once at the end, zero-guarded for degenerate tables
    // (an all-failure type divides by zero otherwise — Spark would
    // null, DuckDB would throw; the guard keeps both at 0). Scale
    // shape: ONE partial-aggregated pass folds the corpus to a
    // types-bounded table; all the arithmetic happens on that.
    QueryDef(
      "ev_ab_chisq",
      (spark, dir) =>
        chisqFromCells(
          Tables.events(spark, dir)
            .selectExpr("event_type", "user_id % 2 AS variant",
              "CASE WHEN value > 50 THEN 1L ELSE 0L END AS succ")
            .groupBy("event_type")
            .agg(abCellAggs.head, abCellAggs.tail: _*)),
      Some(abChisqOracleSql)),

    // ----------------- EWMA forecast-residual anomaly flags
    // The alerting half of ev_ewma: each event's one-step-ahead
    // forecast is the PREVIOUS smoothed value; the residual
    // v_t − s_{t−1} measures surprise. A row flags when its absolute
    // residual exceeds 3× the user's own median absolute residual —
    // per-user robust scale, so one user's volatility never sets
    // another's threshold ([[anomalyFlags]], shared with st_anomaly).
    // Scale shape: ev_ewma's fold (the same [[ewmaStep]] state carries
    // the residual) emits residuals; the per-user median is a
    // percentile window partitioned on the fold's own user_id key;
    // only the flagged tail leaves the executor.
    QueryDef(
      "ev_anomaly",
      (spark, dir) => {
        import spark.implicits._
        anomalyFlags(
          foldSorted(userPoints(spark, dir), "user_id", "ts_us", "event_id")(_._1)(
            (p: Option[Ewma], r: Point) => ewmaStep(p, r._4))(
            (r, rn, e) => (r._1, r._2, rn, r._4, e.resid))
            .toDF("user_id", "event_id", "rn", "v_micros", "resid_micros"))
      },
      Some(anomalyOracleSql)),

    // ------------------------ strict time-windowed funnel
    // ev_funnel's upgrade: each stage must follow the PREVIOUS stage
    // within 24 hours, so the earliest-qualifying time of stage k is
    // conditional on stage k−1's — the cascade real conversion
    // analysis runs, not three independent minima. Each stage is a
    // per-user aggregate joined back user-keyed: the per-user stage
    // table is corpus-bounded (one row per converting user) and every
    // join rides the same user_id shuffle key. Conversion shares in
    // integer ppm.
    QueryDef(
      "ev_funnel_strict",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
          .selectExpr("user_id", "event_type", "unix_micros(ts) AS ts_us")
        val day = 86400000000L
        val s1 = ev.where("event_type = 'signup'")
          .groupBy("user_id").agg(org.apache.spark.sql.functions.expr("min(ts_us) AS t1"))
        val s2 = ev.where("event_type = 'view'")
          .join(s1, "user_id")
          .where(s"ts_us > t1 AND ts_us <= t1 + ${day}L")
          .groupBy("user_id").agg(org.apache.spark.sql.functions.expr("min(ts_us) AS t2"))
        val s3 = ev.where("event_type = 'purchase'")
          .join(s2, "user_id")
          .where(s"ts_us > t2 AND ts_us <= t2 + ${day}L")
          .groupBy("user_id").agg(org.apache.spark.sql.functions.expr("min(ts_us) AS t3"))
        val counts = s1.agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n")).selectExpr("'1_signup' AS stage", "n")
          .unionByName(s2.agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n")).selectExpr("'2_view_24h' AS stage", "n"))
          .unionByName(s3.agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n")).selectExpr("'3_purchase_24h' AS stage", "n"))
        val base = s1.agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n0"))
        counts.crossJoin(org.apache.spark.sql.functions.broadcast(base))
          .selectExpr("stage", "n", "n * 1000000L div n0 AS conv_ppm")
      },
      Some(funnelStrictOracleSql)),

    // -------------------- heavy-hitter keys (Misra-Gries + exact confirm)
    // "Which keys carry more than 1/500 of all traffic?" — the skew
    // question every shuffle-sizing decision starts from (the hot keys
    // this finds are exactly the ones q9_skew_salted_join must salt).
    // A plain groupBy answers it with key-cardinality state: at 100 TB
    // the partial-aggregate hash maps grow with DISTINCT keys and
    // spill. This instead runs the streaming Misra-Gries summary per
    // partition — k=500 counters of HARD state, independent of key
    // cardinality — then one bounded exact pass:
    //   pass 1  mapPartitions: MG fold (k counters) + the partition's
    //           row tally, emitted as ≤ k+1 tiny rows per partition.
    //           A key absent from every summary has global count
    //           ≤ N/k (each decrement-all retires k counts, so a
    //           partition's undercount is ≤ n_p/k; sum over
    //           partitions), so candidates ⊇ every true heavy hitter.
    //   pass 2  exact confirm: broadcast the ≤ k·P candidate keys,
    //           semi-join the corpus, count ONLY those keys, keep
    //           cnt·500 > N. False candidates die here, so the result
    //           is EXACT and partitioning-independent even though the
    //           sketch itself is not.
    // The fixture plants the skew the uniform synthetic corpus lacks,
    // keyed off the DENSE event_id so the shape is scale-invariant:
    // 70% of events land on 14 hot keys (event_id ≡ 0..6, 10..16
    // mod 20 — 5% each), the rest keep their unique event_id in a
    // disjoint id space (1/N each) — the answer is those 14 keys at
    // every sf, with a 25× margin above the 1/500 line and the tail
    // vanishing below it as N grows.
    QueryDef(
      "ev_heavyhitters",
      (spark, dir) => {
        import spark.implicits._
        heavyHitters(
          Tables.events(spark, dir)
            .selectExpr(
              "CASE WHEN event_id % 10 < 7 THEN event_id % 20 ELSE event_id + 1000000000L END AS item")
            .as[Long],
          k = 500)
      },
      Some(heavyHittersOracleSql)),

    // ------------------------- Count-Min sketch (mergeable frequency)
    // The sketch counterpart to ev_heavyhitters' Misra-Gries summary:
    // a d=4 × w=256 grid of integer counters, each row j counting the
    // stream under an independent hash ((A_j·x + B_j) mod P) mod w —
    // the coefficients are graft's minhash family, inlined as literals
    // into BOTH engines. A point estimate is min_j cell(j, h_j(x)),
    // which can only OVERcount (collisions add, never subtract) — the
    // oracle checks the estimates exactly and the overcount column
    // exhibits the guarantee. Why it matters at 100 TB: the grid is
    // the canonical mergeable-aggregate shape — map-side partial
    // combine collapses every task's stream to ≤ d·w cells, the
    // exchange carries ≤ d·w rows per task regardless of corpus size,
    // and cross-shard/cross-day merging is elementwise addition (the
    // same reason st_hll/ta_hll_merge earn their place). Item stream =
    // the heavy-hitter fixture: ~70 % of mass in 14 hot keys (event_id
    // % 10 < 7 mapped through event_id % 20 yields the values 0–6 and
    // 10–16), 30 % a unique tail that supplies the colliding noise the
    // estimator has to survive. Output: per hot item, true count vs
    // estimate vs overcount.
    QueryDef(
      "ev_countmin",
      (spark, dir) => {
        val items = Tables.events(spark, dir).selectExpr(s"$CmItemExpr AS item")
        val cells = items
          .selectExpr(s"explode(array($cmStructs)) AS c")
          .selectExpr("c.j AS j", "c.b AS b")
          .groupBy("j", "b")
          .agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n"))
        cmEstimates(spark, dir, cells)
      },
      Some(cmOracleSql)),

    // ----------------------- top user-journey paths (sequence mining)
    // The product-analytics "what do users actually do" query: each
    // user's first 8 events (event-time order, event_id tie-break)
    // fold into a path string, and the most common journeys rank
    // top-20. The 8-event cap is the scale decision: an uncapped path
    // would make both the window buffer and the path-string key grow
    // with a user's whole history; capped, the per-user state is 8
    // rows and the group-by key is a short bounded string. Shape: one
    // user-keyed window pass (rank ≤ 8 prunes before the fold), one
    // user-keyed aggregate whose collect_list is 8-bounded by
    // construction, one path-keyed count, TakeOrdered top-20 — no
    // global sort.
    QueryDef(
      "ev_paths",
      (spark, dir) => {
        val seq8 = Tables.events(spark, dir)
          .selectExpr("user_id", "event_type", "unix_micros(ts) AS ts_us", "event_id")
          .selectExpr("user_id", "event_type",
            """row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts_us, event_id) AS rn""")
          .where("rn <= 8")
        seq8.groupBy("user_id")
          .agg(org.apache.spark.sql.functions.expr(
            """array_join(transform(array_sort(collect_list(named_struct('rn', rn, 't', event_type))),
                                    x -> x.t), '>') AS path"""))
          .groupBy("path")
          .agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n_users"))
          .orderBy(org.apache.spark.sql.functions.desc("n_users"),
            org.apache.spark.sql.functions.col("path"))
          .limit(20)
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_type,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS rn
          FROM events),
        p AS (
          SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
          FROM e WHERE rn <= 8 GROUP BY user_id)
        SELECT path, count(*)::BIGINT AS n_users
        FROM p GROUP BY path
        ORDER BY n_users DESC, path
        LIMIT 20""")),

    // --------------- CUSUM change-point detection (sequential audit)
    // Page's cumulative-sum test per user: S⁺ accumulates sustained
    // upward drift beyond the allowance k, S⁻ downward; crossing the
    // decision interval h raises an alarm and restarts the
    // accumulators. Where ev_anomaly flags INDIVIDUAL surprising
    // events, CUSUM flags SUSTAINED small shifts — the data-quality
    // sentinel that catches a pipeline silently re-scaling a feed.
    // Parameters are per-user relative (k = μ/4, h = 2μ with μ the
    // user's integer-micros mean) so one user's volume never sets
    // another's threshold. Two-pass by construction (μ first, then
    // the fold) — the window computing μ rides the SAME user-keyed
    // exchange the fold sorts on, so the plan pays one shuffle total.
    // Scale shape: the secondary-sort driver [[foldSorted]] over that
    // exchange, stepping [[cusumNext]] (the st_cusum twin steps it
    // through the state-store driver), replayed independently by the
    // oracle's recursive CTE.
    QueryDef(
      "ev_cusum",
      (spark, dir) => {
        import spark.implicits._
        val withMu = eventPoints(Tables.events(spark, dir))
          .selectExpr("user_id", "event_id", "ts_us", "v",
            """(sum(v) OVER (PARTITION BY user_id))
               div (count(v) OVER (PARTITION BY user_id)) AS mu""")
          .as[(Long, Long, Long, Long, Long)]
        foldSorted(withMu, "user_id", "ts_us", "event_id")(_._1)(
          (p: Option[Cusum], r: (Long, Long, Long, Long, Long)) => cusumNext(p, r._5, r._4))(
          (r, rn, c) => (r._1, r._2, rn, r._4, r._5, c.sp, c.sm, c.alarm))
          .toDF("user_id", "event_id", "rn", "v_micros", "mu_micros",
            "sp_micros", "sm_micros", "alarm")
      },
      Some(cusumOracleSql)),

    // ------------- seasonal-trend decomposition (periodic baseline)
    // The classical additive decomposition v = trend + seasonal +
    // remainder over per-series hourly buckets (series key =
    // event_type, period = 24 h): trend is a centered ±12-hour moving
    // mean (RANGE frame on the hour index, so sparse hours widen the
    // gap instead of sliding the window), seasonal is the
    // hour-of-day mean of the detrended series, the remainder is what
    // capacity alerting should watch. All integer micros — bucket
    // means, trend and seasonal are truncating integer divisions
    // (identical in Spark `div` and DuckDB `//` — the sums stay
    // non-negative-dominated but the DETRENDED sums can be negative,
    // where both engines truncate toward zero, the ev_holt finding).
    // Scale shape: the corpus folds to a (series × hour)-bounded
    // table in ONE partial-aggregated scan; both window passes run on
    // that bounded series partitioned by series key — per-partition
    // sorts, never a global one; output is series-sized, not
    // corpus-sized.
    QueryDef(
      "ev_seasonal",
      (spark, dir) =>
        hourlySeries(spark, dir)
          .selectExpr("event_type", "hr", "hr % 24 AS hod", "n_events", "vb",
            """(sum(vb) OVER (PARTITION BY event_type ORDER BY hr
                              RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING))
               div
               (count(vb) OVER (PARTITION BY event_type ORDER BY hr
                                RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)) AS trend""")
          .selectExpr("event_type", "hr", "hod", "n_events", "vb", "trend",
            "vb - trend AS detr")
          .selectExpr("event_type", "hr", "hod", "n_events", "vb", "trend", "detr",
            """(sum(detr) OVER (PARTITION BY event_type, hod))
               div (count(*) OVER (PARTITION BY event_type, hod)) AS seasonal""")
          .selectExpr("event_type", "hr", "hod", "n_events",
            "vb AS v_micros", "trend AS trend_micros",
            "seasonal AS seasonal_micros", "detr - seasonal AS resid_micros"),
      Some(s"""
        WITH $hourlySeriesSql,
        t AS (
          SELECT event_type, hr, hr % 24 AS hod, n_events, vb,
                 ((sum(vb) OVER w)::BIGINT // (count(vb) OVER w)::BIGINT)::BIGINT AS trend
          FROM h
          WINDOW w AS (PARTITION BY event_type ORDER BY hr
                       RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
        s AS (
          SELECT event_type, hr, hod, n_events, vb, trend, vb - trend AS detr,
                 ((sum(vb - trend) OVER (PARTITION BY event_type, hod))::BIGINT
                  // (count(*) OVER (PARTITION BY event_type, hod))::BIGINT)::BIGINT AS seasonal
          FROM t)
        SELECT event_type, hr, hod, n_events, vb AS v_micros, trend AS trend_micros,
               seasonal AS seasonal_micros, (detr - seasonal)::BIGINT AS resid_micros
        FROM s""")),

    // --------------------- autocorrelation audit (seasonality probe)
    // Pearson autocorrelation of each series at lags 1–3 hours — the
    // diagnostic that says whether ev_seasonal's period assumption and
    // ev_holt's trend term have anything to model. Rides the SAME
    // hourly reduction as ev_seasonal ([[hourlySeries]]); lag pairs
    // come from an equi-join of the series to itself on (type,
    // hr + lag) — gaps drop pairs instead of sliding them, matching
    // the RANGE-frame discipline. The five moment sums are exact
    // BIGINTs in integer MILLI-units (micros² × hours would escape 64
    // bits; milli² × 10⁵ hours stays ~2⁵⁴) and only the final
    // coefficient is one fixed-op-order rounded double — the
    // gr_assortativity discipline; IEEE sqrt is correctly rounded, so
    // the engines agree bit for bit before the round(6).
    QueryDef(
      "ev_acf",
      (spark, dir) => {
        val h = hourlySeries(spark, dir)
          .selectExpr("event_type", "hr", "vb div 1000 AS vm")
          .fenced // series-bounded; feeds both join sides
        val lags = spark.range(1L, 4L).selectExpr("id AS lag_h")
        h.selectExpr("event_type", "hr", "vm AS x")
          .crossJoin(org.apache.spark.sql.functions.broadcast(lags))
          .join(h.selectExpr("event_type AS et2", "hr AS hr2", "vm AS y"),
            org.apache.spark.sql.functions.expr("event_type = et2 AND hr2 = hr + lag_h"))
          .groupBy("event_type", "lag_h")
          .agg(
            org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n_pairs"),
            org.apache.spark.sql.functions.expr("cast(sum(x) AS bigint) AS sx"),
            org.apache.spark.sql.functions.expr("cast(sum(y) AS bigint) AS sy"),
            org.apache.spark.sql.functions.expr("cast(sum(x * y) AS bigint) AS sxy"),
            org.apache.spark.sql.functions.expr("cast(sum(x * x) AS bigint) AS sxx"),
            org.apache.spark.sql.functions.expr("cast(sum(y * y) AS bigint) AS syy"))
          .selectExpr("event_type", "lag_h", "n_pairs",
            """cast(n_pairs AS double) * cast(sxy AS double)
               - cast(sx AS double) * cast(sy AS double) AS num""",
            """cast(n_pairs AS double) * cast(sxx AS double)
               - cast(sx AS double) * cast(sx AS double) AS dx""",
            """cast(n_pairs AS double) * cast(syy AS double)
               - cast(sy AS double) * cast(sy AS double) AS dy""")
          .selectExpr("event_type", "lag_h", "n_pairs",
            """CASE WHEN dx > 0.0D AND dy > 0.0D
                    THEN round(num / sqrt(dx * dy), 6)
                    ELSE cast(NULL AS double) END AS acf6""")
      },
      Some(s"""
        WITH $hourlySeriesSql,
        l AS (SELECT unnest(generate_series(1, 3))::BIGINT AS lag_h),
        p AS (
          SELECT a.event_type AS event_type, l.lag_h AS lag_h,
                 a.vb // 1000 AS x, b.vb // 1000 AS y
          FROM h a CROSS JOIN l
          JOIN h b ON b.event_type = a.event_type AND b.hr = a.hr + l.lag_h),
        m AS (
          SELECT event_type, lag_h, count(*)::BIGINT AS n_pairs,
                 sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                 sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
                 sum(y * y)::BIGINT AS syy
          FROM p GROUP BY 1, 2),
        d AS (
          SELECT event_type, lag_h, n_pairs,
                 n_pairs::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE AS num,
                 n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE AS dx,
                 n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE AS dy
          FROM m)
        SELECT event_type, lag_h, n_pairs,
               CASE WHEN dx > 0 AND dy > 0 THEN round(num / sqrt(dx * dy), 6)
                    ELSE NULL END AS acf6
        FROM d""")),

    // ------------------- burstiness audit (Fano dispersion index)
    // Fano factor of the hourly arrival counts per series — the
    // variance-to-mean ratio that separates Poisson-like traffic
    // (F ≈ 1) from bursty ingestion (F ≫ 1): the capacity-planning
    // number behind shard sizing and rate-limit budgets. Rides the
    // same [[hourlySeries]] reduction; the two count moments are
    // exact BIGINTs and F = (n·Σc² − (Σc)²)/(n·Σc) is one
    // fixed-op-order rounded double (the gr_assortativity
    // discipline — the ppm form would overflow 64 bits first).
    QueryDef(
      "ev_fano",
      (spark, dir) =>
        hourlySeries(spark, dir)
          .groupBy("event_type")
          .agg(
            org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n_hours"),
            org.apache.spark.sql.functions.expr("cast(sum(n_events) AS bigint) AS sc"),
            org.apache.spark.sql.functions.expr("cast(sum(n_events * n_events) AS bigint) AS sc2"))
          .selectExpr("event_type", "n_hours", "sc AS n_events",
            """round((cast(n_hours AS double) * cast(sc2 AS double)
                      - cast(sc AS double) * cast(sc AS double))
                     / (cast(n_hours AS double) * cast(sc AS double)), 6) AS fano6"""),
      Some(s"""
        WITH $hourlySeriesSql,
        m AS (
          SELECT event_type, count(*)::BIGINT AS n_hours,
                 sum(n_events)::BIGINT AS sc,
                 sum(n_events * n_events)::BIGINT AS sc2
          FROM h GROUP BY 1)
        SELECT event_type, n_hours, sc AS n_events,
               round((n_hours::DOUBLE * sc2::DOUBLE - sc::DOUBLE * sc::DOUBLE)
                     / (n_hours::DOUBLE * sc::DOUBLE), 6) AS fano6
        FROM m""")),

    // ----------------- inter-arrival profile (per-entity gap stats)
    // Each user's event-gap distribution — the liveness/SLA table a
    // monitoring deployment keys alerts off: gap count, exact integer
    // mean, EXACT ORDER-STATISTIC p50/p95 (the gap at rank
    // ⌈n/2⌉ / ⌈0.95·n⌉ — no interpolation, so no engine's
    // quantile-interpolation formula is trusted; both sides select
    // the same integer by rank), and the max. Scale shape: one
    // user-keyed exchange carries ALL THREE window passes (time-order
    // lag, gap-order rank, per-user count share the partition key)
    // plus the final per-user aggregate — per-user bounded state,
    // output entity-sized.
    QueryDef(
      "ev_gap_stats",
      (spark, dir) =>
        Tables.events(spark, dir)
          .selectExpr("user_id", "event_id", "unix_micros(ts) AS ts_us")
          .selectExpr("user_id", "ts_us",
            """ts_us - lag(ts_us) OVER (PARTITION BY user_id
                                        ORDER BY ts_us, event_id) AS gap""")
          .where("gap IS NOT NULL")
          .selectExpr("user_id", "gap",
            """cast(row_number() OVER (PARTITION BY user_id ORDER BY gap)
               AS bigint) AS rnk""",
            "count(*) OVER (PARTITION BY user_id) AS n")
          .selectExpr("user_id", "gap", "rnk", "n",
            "(n + 1) div 2 AS med_rank", "(95 * n + 99) div 100 AS p95_rank")
          .groupBy("user_id")
          .agg(
            org.apache.spark.sql.functions.expr("cast(max(n) AS bigint) AS n_gaps"),
            org.apache.spark.sql.functions.expr("sum(gap) div max(n) AS mean_gap_us"),
            org.apache.spark.sql.functions.expr(
              "max(CASE WHEN rnk = med_rank THEN gap END) AS p50_gap_us"),
            org.apache.spark.sql.functions.expr(
              "max(CASE WHEN rnk = p95_rank THEN gap END) AS p95_gap_us"),
            org.apache.spark.sql.functions.expr("max(gap) AS max_gap_us")),
      Some("""
        WITH g AS (
          SELECT user_id,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                        ORDER BY epoch_us(ts), event_id) AS gap
          FROM events),
        r AS (
          SELECT user_id, gap,
                 row_number() OVER (PARTITION BY user_id ORDER BY gap) AS rnk,
                 (count(*) OVER (PARTITION BY user_id))::BIGINT AS n
          FROM g WHERE gap IS NOT NULL),
        k AS (
          SELECT user_id, gap, rnk, n,
                 (n + 1) // 2 AS med_rank, (95 * n + 99) // 100 AS p95_rank
          FROM r)
        SELECT user_id, max(n)::BIGINT AS n_gaps,
               (sum(gap)::BIGINT // max(n))::BIGINT AS mean_gap_us,
               max(CASE WHEN rnk = med_rank THEN gap END)::BIGINT AS p50_gap_us,
               max(CASE WHEN rnk = p95_rank THEN gap END)::BIGINT AS p95_gap_us,
               max(gap)::BIGINT AS max_gap_us
        FROM k GROUP BY user_id""")),

    // --------------- A/B rank test (exact Mann-Whitney U / AUC)
    // The nonparametric sibling of ev_ab_chisq: where chi-square
    // compares conversion RATES, Mann-Whitney compares the whole value
    // DISTRIBUTION between the two variants — no normality assumption,
    // robust to the heavy right tail every spend metric has. U has a
    // direct ML reading too: U_a / (n_a·n_b) is the AUC of "variant
    // predicts higher value". Everything stays exact: ranks are over
    // integer micros, and tie groups contribute through the midrank
    // identity 2·avgrank = 2·rank_min + ties − 1, so DOUBLED rank sums
    // are integers and no .5 ever floats. Scale shape: the corpus scan
    // partial-aggregates map-side to (type, value) cells — bounded by
    // DISTINCT values (2-decimal fixture values keep it tiny; at 100 TB
    // with near-unique values the same prefix-sum runs two-pass over a
    // range partitioning: per-range subtotals broadcast as offsets) —
    // the ordered window walks only that reduced table, and the final
    // per-type aggregate is types-bounded. The AUC quotient widens to
    // DECIMAL(38,0) before the single division (2·U·1e6 would pass
    // int64 at sf10 but not at sf100 — same widening as ev_ab_chisq).
    QueryDef(
      "ev_ab_mannwhitney",
      (spark, dir) =>
        Tables.events(spark, dir)
          .selectExpr("event_type", s"$ValueMicros AS v",
            "CASE WHEN user_id % 2 = 0 THEN 1L ELSE 0L END AS ia")
          .groupBy("event_type", "v")
          .agg(
            org.apache.spark.sql.functions.expr("cast(sum(ia) AS bigint) AS cnt_a"),
            org.apache.spark.sql.functions.expr(
              "cast(count(*) - sum(ia) AS bigint) AS cnt_b"))
          .selectExpr("event_type", "cnt_a", "cnt_b",
            """coalesce(sum(cnt_a + cnt_b) OVER (PARTITION BY event_type ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L) AS cum_before""")
          .groupBy("event_type")
          .agg(
            org.apache.spark.sql.functions.expr("cast(sum(cnt_a) AS bigint) AS n_a"),
            org.apache.spark.sql.functions.expr("cast(sum(cnt_b) AS bigint) AS n_b"),
            org.apache.spark.sql.functions.expr(
              "cast(sum(cnt_a * (2 * cum_before + cnt_a + cnt_b + 1)) AS bigint) AS r2_a"))
          .selectExpr("event_type", "n_a", "n_b", "r2_a",
            "r2_a - n_a * (n_a + 1) AS u2_a")
          .selectExpr("event_type", "n_a", "n_b", "r2_a", "u2_a",
            "2 * n_a * n_b - u2_a AS u2_b",
            """CASE WHEN n_a = 0 OR n_b = 0 THEN 0L
                    ELSE cast(cast(u2_a AS decimal(38,0)) * 1000000
                              div (2 * cast(n_a AS decimal(38,0)) * n_b) AS bigint)
               END AS auc_ppm"""),
      Some("""
        WITH cells AS (
          SELECT event_type,
                 CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v,
                 sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS cnt_a,
                 sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS cnt_b
          FROM events GROUP BY 1, 2),
        w AS (
          SELECT event_type, cnt_a, cnt_b,
                 coalesce(sum(cnt_a + cnt_b) OVER (PARTITION BY event_type ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
          FROM cells),
        agg AS (
          SELECT event_type, sum(cnt_a)::BIGINT AS n_a, sum(cnt_b)::BIGINT AS n_b,
                 sum(cnt_a * (2 * cum_before + cnt_a + cnt_b + 1))::BIGINT AS r2_a
          FROM w GROUP BY 1),
        u AS (
          SELECT event_type, n_a, n_b, r2_a,
                 (r2_a - n_a * (n_a + 1))::BIGINT AS u2_a
          FROM agg)
        SELECT event_type, n_a, n_b, r2_a, u2_a,
               (2 * n_a * n_b - u2_a)::BIGINT AS u2_b,
               CASE WHEN n_a = 0 OR n_b = 0 THEN 0
                    ELSE (u2_a::HUGEINT * 1000000 // (2::HUGEINT * n_a * n_b))
               END::BIGINT AS auc_ppm
        FROM u""")),

    // --------------- Kaplan-Meier time-to-conversion life table
    // The survival-analysis primitive growth teams run on every funnel:
    // time from a user's FIRST event to their first high-value
    // purchase (value > 150 — the deterministic conversion event; the
    // raw churn framing is degenerate on this fixture: every user is
    // active through the window). Users who never convert are
    // right-CENSORED at their last observed hour — exactly the case
    // naive "average time to convert" silently drops and KM exists to
    // handle. The life table is exact integers (hour t, n_risk, d, c)
    // and the KM survival curve is integer ppm with truncating division
    // per death step, so no float product can drift cross-engine.
    // Scale shape: ONE user-keyed partial-aggregated exchange folds the
    // corpus to per-user (t, dead) rows; the life table aggregate is
    // bounded by distinct hours; the ordered KM recurrence walks that
    // hour-bounded table in a single-partition fold (≤ observation
    // window in rows — the same bounded-table discipline as
    // ev_holt's per-type fold), and the oracle replays it as a
    // recursive CTE. n_risk > 0 on every emitted row by construction
    // (a row exists only because ≥ 1 user leaves at that hour, and
    // leavers are still at risk at their own t).
    QueryDef(
      "ev_survival",
      (spark, dir) => {
        import spark.implicits._
        val perUser = Tables.events(spark, dir)
          .selectExpr("user_id", "unix_micros(ts) AS us",
            """CASE WHEN event_type = 'purchase' AND value > 150.0D
                    THEN unix_micros(ts) ELSE NULL END AS cus""")
          .groupBy("user_id")
          .agg(
            org.apache.spark.sql.functions.expr("min(us) AS first_us"),
            org.apache.spark.sql.functions.expr("max(us) AS last_us"),
            org.apache.spark.sql.functions.expr("min(cus) AS conv_us"))
          .selectExpr(
            """CASE WHEN conv_us IS NULL THEN (last_us - first_us) div 3600000000L
                    ELSE (conv_us - first_us) div 3600000000L END AS t""",
            "CASE WHEN conv_us IS NULL THEN 0L ELSE 1L END AS dead")
        val lifeRaw = perUser.groupBy("t")
          .agg(
            org.apache.spark.sql.functions.expr("cast(sum(dead) AS bigint) AS d"),
            org.apache.spark.sql.functions.expr("cast(count(*) - sum(dead) AS bigint) AS c"))
          .selectExpr("t", "d", "c",
            // global ordered prefix over the hour-bounded life table:
            // single-partition window is the point, not an accident
            """coalesce(sum(d + c) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L) AS left_before""")
        val total = perUser.groupBy()
          .agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n_users"))
        lifeRaw
          .crossJoin(org.apache.spark.sql.functions.broadcast(total))
          .selectExpr("t", "n_users - left_before AS n_risk", "d", "c")
          .as[(Long, Long, Long, Long)]
          .coalesce(1)
          .sortWithinPartitions("t")
          .mapPartitions { it =>
            var s = 1000000L
            it.map { case (t, nRisk, d, c) =>
              s = s * (nRisk - d) / nRisk
              (t, nRisk, d, c, s)
            }
          }
          .toDF("t_hours", "n_risk", "d_conv", "c_censored", "km_ppm")
      },
      Some("""
        WITH RECURSIVE e AS (
          SELECT user_id, epoch_us(ts) AS us,
                 CASE WHEN event_type = 'purchase' AND value > 150.0 THEN epoch_us(ts) END AS cus
          FROM events),
        u AS (
          SELECT user_id, min(us) AS first_us, max(us) AS last_us, min(cus) AS conv_us
          FROM e GROUP BY 1),
        pu AS (
          SELECT CASE WHEN conv_us IS NULL THEN (last_us - first_us) // 3600000000
                      ELSE (conv_us - first_us) // 3600000000 END AS t,
                 CASE WHEN conv_us IS NULL THEN 0 ELSE 1 END AS dead
          FROM u),
        lt AS (
          SELECT t, sum(dead)::BIGINT AS d, (count(*) - sum(dead))::BIGINT AS c
          FROM pu GROUP BY 1),
        lw AS (
          SELECT t, d, c,
                 coalesce(sum(d + c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS left_before,
                 row_number() OVER (ORDER BY t) AS rn
          FROM lt),
        tot AS (SELECT count(*)::BIGINT AS n_users FROM pu),
        base AS (
          SELECT lw.t, (n_users - left_before)::BIGINT AS n_risk, lw.d, lw.c, lw.rn
          FROM lw, tot),
        r AS (
          SELECT t, n_risk, d, c, rn,
                 (1000000 * (n_risk - d) // n_risk)::BIGINT AS km
          FROM base WHERE rn = 1
          UNION ALL
          SELECT b.t, b.n_risk, b.d, b.c, b.rn,
                 (r.km * (b.n_risk - b.d) // b.n_risk)::BIGINT
          FROM r JOIN base b ON b.rn = r.rn + 1)
        SELECT t AS t_hours, n_risk, d AS d_conv, c AS c_censored, km AS km_ppm
        FROM r""")),

    // ----------------- CUPED variance reduction (pre-period control)
    // The third leg of the experimentation suite (rates → ev_ab_chisq,
    // distributions → ev_ab_mannwhitney, means with variance reduction
    // → here): adjust each user's post-period spend Y by their OWN
    // pre-period spend X, Y' = Y − θ(X − E[X]) with θ = cov(X,Y)/var(X)
    // pooled across variants (Deng et al. 2013 is the spec). A user's
    // habitual level explains most spend variance, so the adjusted
    // variant delta is the same estimate with far tighter error bars —
    // the reason every mature platform runs CUPED by default. The
    // split is a FIXED timestamp literal (pre < 2024-01-16 ≤ post) so
    // ScaleUp corpora (ts untouched) keep both windows populated.
    // Exactness: per-user (x, y) micros sums are int64; the pooled
    // moments n·Σxy − Σx·Σy and n·Σxx − Σx² widen to DECIMAL(38,0);
    // θ lands as exact ppm via the same two-step quotient split as
    // ml_train_ridge (never forming num·1e6); means and deltas are
    // truncating integer micros end to end. Scale shape: ONE
    // partial-aggregated exchange folds the corpus to the
    // (type, user) table; the pooled and per-variant moments are two
    // types-bounded aggregates over it; everything after is O(1)
    // arithmetic per event_type.
    QueryDef(
      "ev_ab_cuped",
      (spark, dir) => {
        val ux = Tables.events(spark, dir)
          .selectExpr("event_type", "user_id",
            """CASE WHEN ts < timestamp'2024-01-16 00:00:00'
                    THEN cast(cast(value AS decimal(18,6)) * 1000000 AS bigint)
                    ELSE 0L END AS xv""",
            """CASE WHEN ts >= timestamp'2024-01-16 00:00:00'
                    THEN cast(cast(value AS decimal(18,6)) * 1000000 AS bigint)
                    ELSE 0L END AS yv""")
          .groupBy("event_type", "user_id")
          .agg(
            org.apache.spark.sql.functions.expr("sum(xv) AS x"),
            org.apache.spark.sql.functions.expr("sum(yv) AS y"))
          .selectExpr("event_type", "user_id % 2 AS variant", "x", "y")
        ux.groupBy("event_type")
          .agg(
            org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n_users"),
            org.apache.spark.sql.functions.expr("cast(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS bigint) AS n_a"),
            org.apache.spark.sql.functions.expr("cast(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS bigint) AS n_b"),
            org.apache.spark.sql.functions.expr("cast(sum(cast(x AS decimal(38,0))) AS decimal(38,0)) AS sx"),
            org.apache.spark.sql.functions.expr("cast(sum(cast(y AS decimal(38,0))) AS decimal(38,0)) AS sy"),
            org.apache.spark.sql.functions.expr("cast(sum(cast(x AS decimal(38,0)) * x) AS decimal(38,0)) AS sxx"),
            org.apache.spark.sql.functions.expr("cast(sum(cast(x AS decimal(38,0)) * y) AS decimal(38,0)) AS sxy"),
            org.apache.spark.sql.functions.expr("sum(CASE WHEN variant = 0 THEN x ELSE 0L END) AS sx_a"),
            org.apache.spark.sql.functions.expr("sum(CASE WHEN variant = 1 THEN x ELSE 0L END) AS sx_b"),
            org.apache.spark.sql.functions.expr("sum(CASE WHEN variant = 0 THEN y ELSE 0L END) AS sy_a"),
            org.apache.spark.sql.functions.expr("sum(CASE WHEN variant = 1 THEN y ELSE 0L END) AS sy_b"))
          .selectExpr("event_type", "n_users", "n_a", "n_b",
            "sx_a", "sx_b", "sy_a", "sy_b",
            "cast(n_users * sxy - sx * sy AS decimal(38,0)) AS th_num",
            "cast(n_users * sxx - sx * sx AS decimal(38,0)) AS th_den")
          .selectExpr("event_type", "n_users", "n_a", "n_b",
            "sx_a", "sx_b", "sy_a", "sy_b", "th_num", "th_den",
            "CASE WHEN th_den = 0 THEN 0L ELSE cast(th_num div th_den AS bigint) END AS q")
          .selectExpr("event_type", "n_users", "n_a", "n_b",
            """CASE WHEN th_den = 0 THEN 0L
                    ELSE cast(q * 1000000 + ((th_num - q * th_den) * 1000000) div th_den AS bigint)
               END AS theta_ppm""",
            "sx_a div n_a AS mean_x_a", "sx_b div n_b AS mean_x_b",
            "sy_a div n_a AS mean_y_a", "sy_b div n_b AS mean_y_b")
          .selectExpr("event_type", "n_users", "n_a", "n_b", "theta_ppm",
            "mean_x_a", "mean_x_b", "mean_y_a", "mean_y_b",
            "mean_y_a - mean_y_b AS raw_delta_micros",
            """(mean_y_a - mean_y_b)
               - (theta_ppm * (mean_x_a - mean_x_b)) div 1000000 AS adj_delta_micros""")
      },
      Some("""
        WITH ux AS (
          SELECT event_type, user_id % 2 AS variant,
                 sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                          THEN CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
                          ELSE 0 END)::BIGINT AS x,
                 sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                          THEN CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
                          ELSE 0 END)::BIGINT AS y
          FROM events GROUP BY event_type, user_id),
        m AS (
          SELECT event_type,
                 count(*)::BIGINT AS n_users,
                 sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
                 sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
                 sum(x::HUGEINT)::HUGEINT AS sx,
                 sum(y::HUGEINT)::HUGEINT AS sy,
                 sum(x::HUGEINT * x)::HUGEINT AS sxx,
                 sum(x::HUGEINT * y)::HUGEINT AS sxy,
                 sum(CASE WHEN variant = 0 THEN x ELSE 0 END)::BIGINT AS sx_a,
                 sum(CASE WHEN variant = 1 THEN x ELSE 0 END)::BIGINT AS sx_b,
                 sum(CASE WHEN variant = 0 THEN y ELSE 0 END)::BIGINT AS sy_a,
                 sum(CASE WHEN variant = 1 THEN y ELSE 0 END)::BIGINT AS sy_b
          FROM ux GROUP BY event_type),
        t AS (
          SELECT *, (n_users::HUGEINT * sxy - sx * sy) AS th_num,
                    (n_users::HUGEINT * sxx - sx * sx) AS th_den
          FROM m),
        qq AS (
          SELECT *, CASE WHEN th_den = 0 THEN 0 ELSE th_num // th_den END AS q
          FROM t),
        s AS (
          SELECT event_type, n_users, n_a, n_b,
                 CASE WHEN th_den = 0 THEN 0
                      ELSE q * 1000000 + ((th_num - q * th_den) * 1000000) // th_den
                 END::BIGINT AS theta_ppm,
                 (sx_a // n_a)::BIGINT AS mean_x_a, (sx_b // n_b)::BIGINT AS mean_x_b,
                 (sy_a // n_a)::BIGINT AS mean_y_a, (sy_b // n_b)::BIGINT AS mean_y_b
          FROM qq)
        SELECT event_type, n_users, n_a, n_b, theta_ppm,
               mean_x_a, mean_x_b, mean_y_a, mean_y_b,
               (mean_y_a - mean_y_b)::BIGINT AS raw_delta_micros,
               ((mean_y_a - mean_y_b)
                - (theta_ppm * (mean_x_a - mean_x_b)) // 1000000)::BIGINT AS adj_delta_micros
        FROM s""")),

    // ----------------- difference-in-differences estimator (causal)
    // The parallel-trends estimator for a launch that hit everyone in
    // the treated arm at a known date: per event_type the treated
    // (user_id % 2 = 1) vs control per-user outcome means before and
    // after the 2024-01-16 split, and
    //   DiD = (ȳ_t,post − ȳ_t,pre) − (ȳ_c,post − ȳ_c,pre)
    // — the pre-period delta nets out the groups' standing level
    // difference that a raw post comparison would absorb (Card &
    // Krueger 1994 two-period form). A user contributes BOTH period
    // cells (zero if silent in one) — DiD means are over the cohort,
    // not the active slice. Exact integer micros end-to-end; the means
    // are single `div`s per cell, identically ordered in both engines.
    // Plan: ONE events scan folded to the (event_type, user) table in
    // one partial-aggregated exchange (the ev_ab_cuped shape);
    // everything downstream is a types-bounded aggregate — at 100 TB
    // the cost is the scan, the estimator is free.
    QueryDef(
      "ev_did",
      (spark, dir) =>
        Tables.events(spark, dir)
          .selectExpr("event_type", "user_id",
            """CASE WHEN ts < timestamp'2024-01-16 00:00:00'
                    THEN cast(cast(value AS decimal(18,6)) * 1000000 AS bigint)
                    ELSE 0L END AS pre""",
            """CASE WHEN ts >= timestamp'2024-01-16 00:00:00'
                    THEN cast(cast(value AS decimal(18,6)) * 1000000 AS bigint)
                    ELSE 0L END AS post""")
          .groupBy("event_type", "user_id")
          .agg(org.apache.spark.sql.functions.expr("sum(pre) AS pre"),
            org.apache.spark.sql.functions.expr("sum(post) AS post"))
          .selectExpr("event_type", "user_id % 2 AS variant", "pre", "post")
          .groupBy("event_type")
          .agg(
            org.apache.spark.sql.functions.expr("cast(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS bigint) AS n_c"),
            org.apache.spark.sql.functions.expr("cast(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS bigint) AS n_t"),
            org.apache.spark.sql.functions.expr("sum(CASE WHEN variant = 0 THEN pre ELSE 0L END) AS s_pre_c"),
            org.apache.spark.sql.functions.expr("sum(CASE WHEN variant = 1 THEN pre ELSE 0L END) AS s_pre_t"),
            org.apache.spark.sql.functions.expr("sum(CASE WHEN variant = 0 THEN post ELSE 0L END) AS s_post_c"),
            org.apache.spark.sql.functions.expr("sum(CASE WHEN variant = 1 THEN post ELSE 0L END) AS s_post_t"))
          .selectExpr("event_type", "n_c", "n_t",
            "s_pre_c div n_c AS mean_pre_c", "s_pre_t div n_t AS mean_pre_t",
            "s_post_c div n_c AS mean_post_c", "s_post_t div n_t AS mean_post_t")
          .selectExpr("event_type", "n_c", "n_t",
            "mean_pre_c", "mean_pre_t", "mean_post_c", "mean_post_t",
            "(mean_post_t - mean_pre_t) - (mean_post_c - mean_pre_c) AS did_micros"),
      Some("""
        WITH ux AS (
          SELECT event_type, user_id % 2 AS variant,
                 sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                          THEN CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
                          ELSE 0 END)::BIGINT AS pre,
                 sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                          THEN CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
                          ELSE 0 END)::BIGINT AS post
          FROM events GROUP BY event_type, user_id),
        m AS (
          SELECT event_type,
                 sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)::BIGINT AS n_c,
                 sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)::BIGINT AS n_t,
                 sum(CASE WHEN variant = 0 THEN pre ELSE 0 END)::BIGINT AS s_pre_c,
                 sum(CASE WHEN variant = 1 THEN pre ELSE 0 END)::BIGINT AS s_pre_t,
                 sum(CASE WHEN variant = 0 THEN post ELSE 0 END)::BIGINT AS s_post_c,
                 sum(CASE WHEN variant = 1 THEN post ELSE 0 END)::BIGINT AS s_post_t
          FROM ux GROUP BY event_type),
        means AS (
          SELECT event_type, n_c, n_t,
                 s_pre_c // n_c AS mean_pre_c, s_pre_t // n_t AS mean_pre_t,
                 s_post_c // n_c AS mean_post_c, s_post_t // n_t AS mean_post_t
          FROM m)
        SELECT event_type, n_c, n_t,
               mean_pre_c, mean_pre_t, mean_post_c, mean_post_t,
               (mean_post_t - mean_pre_t) - (mean_post_c - mean_pre_c) AS did_micros
        FROM means""")),

    // ---------------- SCD Type-2 dimension build (warehouse modeling)
    // Kimball's slowly-changing-dimension history over the stream:
    // each user's current event_type is the tracked attribute; every
    // CHANGE (the first event, or a type differing from the previous
    // event in (ts, event_id) order) opens a new version row with
    // [valid_from, valid_to) micros and a dense version ordinal; the
    // open row carries NULL valid_to — exactly the dimension table a
    // warehouse load maintains, derived here as a pure view. Plan: ONE
    // user-keyed exchange carries the lag compare, the close-time lead
    // AND the version rank (all three windows share the (user_id) ×
    // (ts, event_id) sort — the ev_gap_stats single-exchange shape);
    // output is change-bounded, not event-bounded.
    QueryDef(
      "ev_scd2",
      (spark, dir) =>
        Tables.events(spark, dir)
          .selectExpr("user_id", "event_id", "event_type", "unix_micros(ts) AS ts_us")
          .selectExpr("user_id", "event_id", "event_type", "ts_us",
            """lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts_us, event_id) AS prev""")
          .where("prev IS NULL OR prev != event_type")
          .selectExpr("user_id", "event_type", "ts_us AS valid_from_us",
            """lead(ts_us) OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id) AS valid_to_us""",
            """cast(row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts_us, event_id) AS bigint) AS version"""),
      Some(scd2OracleSql))
  )

  /** ev_scd2's oracle — shared verbatim with the streaming twin
    * (st_scd2), the cusumOracleSql discipline.
    */
  private[graft] val scd2OracleSql = """
        WITH e AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY epoch_us(ts), event_id) AS prev
          FROM events),
        ch AS (
          SELECT user_id, event_id, event_type, ts_us
          FROM e WHERE prev IS NULL OR prev != event_type)
        SELECT user_id, event_type, ts_us AS valid_from_us,
               lead(ts_us) OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id) AS valid_to_us,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts_us, event_id)::BIGINT AS version
        FROM ch"""

  /** Exact φ = 1/k heavy hitters over an arbitrary key stream with
    * cardinality-independent memory. Pass 1 folds each partition into a
    * Misra-Gries summary (k counters + the partition tally — ≤ k+1 rows
    * out per partition, O(k) live state, O(n_p) amortized time); a key
    * absent from every summary has global count ≤ N/k, so the union of
    * summaries covers every true heavy hitter. Pass 2 broadcasts the
    * ≤ k·P candidates, semi-joins the stream, counts only those keys
    * exactly, and keeps cnt·k > N — false candidates die, making the
    * output exact and partitioning-independent. Keys must be ≥ 0: item
    * −1 is the reserved partition-tally sentinel.
    */
  private[graft] def heavyHitters(
      items: org.apache.spark.sql.Dataset[Long], k: Int): org.apache.spark.sql.DataFrame = {
    import items.sparkSession.implicits._
    // ≤ (k+1)·P rows — the pin keeps the corpus scan single-pass for
    // BOTH consumers below (total and candidates); the result reads it,
    // so it lives as long as the result does
    val summary = pin(items
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[Long, Long]
        var n = 0L
        it.foreach { t =>
          n += 1L
          m.get(t) match {
            case Some(c) => m(t) = c + 1L
            case None =>
              if (m.size < k) m(t) = 1L
              else {
                // decrement-all retires k counts per trigger ⇒ the
                // whole fold is O(n_p) amortized, O(k) live state
                m.mapValuesInPlace((_, c) => c - 1L)
                m.filterInPlace((_, c) => c > 0L)
              }
          }
        }
        Iterator.single((-1L, n)) ++ m.keysIterator.map(t => (t, 0L))
      }
      .toDF("item", "n_part"))
    val total = summary.where("item = -1")
      .groupBy().agg(org.apache.spark.sql.functions.expr("sum(n_part) AS n_total"))
    val cands = summary.where("item != -1").select("item").distinct()
    items.toDF("item")
      .join(org.apache.spark.sql.functions.broadcast(cands), "item")
      .groupBy("item")
      .agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS cnt"))
      .crossJoin(org.apache.spark.sql.functions.broadcast(total))
      .where(s"cnt * ${k}L > n_total")
      .selectExpr("item", "cnt", "cnt * 1000000L div n_total AS share_ppm")
  }
}
