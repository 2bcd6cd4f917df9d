package graft.streaming

import graft.Fns
import graft.operators.Events.{anomalyFlags, cusumNext, eventPoints, ewmaStep, holtStep, scd2Step,
  Cusum, Ewma, Holt, Scd2Open}
import org.apache.spark.sql.graft.CheckpointOps.FenceSyntax
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import scala.reflect.ClassTag

/** Structured Streaming surface — the scale-native analog of the
  * reference's resumable batch ingest (SURVEY.md §2.6 P1/P2: the
  * skip-if-done guards at `src/main.py:27-28,42-43` are exactly what a
  * streaming checkpoint gives for free), plus event-time windowed
  * aggregation and stateful sessionization over the `events` shape.
  *
  * All transforms are the SAME logical plans as the batch operators
  * (Events.ev_window_agg / ev_sessionize are the batch twins) — Spark's
  * unified batch/streaming model means the per-microbatch physical plan
  * is identical to the batch one, so the 100 TB design notes carry over.
  *
  * The gate twins in [[queries]] all end through one drain seam:
  * [[drain]] (parquet Append sink in a [[graft.TmpDirs]] dir, read back
  * through a declared schema) or [[drainTable]] (memory sink in
  * Complete/Update mode). Both run under `Trigger.AvailableNow` and
  * wait for the query to end, which rethrows a failed stream's error.
  * Each twin names its batch twin's oracle, never a copy of it.
  */
object Streaming {

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** P1/P2 analog — resumable document→chunk ingest: a parquet file
    * stream through the C1 chunker into an append sink. The checkpoint
    * IS the skip-if-extracted guard: already-processed files are never
    * re-read, new files are picked up incrementally, a crashed run
    * resumes exactly-once.
    */
  def chunkIngest(spark: SparkSession, inDir: String, outDir: String,
                  checkpointDir: String): StreamingQuery = {
    appendParquet(chunkDocuments(spark.readStream.schema(documentsSchema).parquet(inDir)),
      outDir, checkpointDir)
  }

  /** [[chunkIngest]]'s transform: the C1 chunk rows of a document stream. */
  private def chunkDocuments(docs: DataFrame): DataFrame =
    graft.operators.Chunker.chunk(docs, "doc_id")
      .select("doc_id", "chunk_number", "chunk_text")

  /** Event-time tumbling-window aggregation with a watermark: late rows
    * beyond 1 hour are dropped, state is bounded — the streaming twin of
    * Events.ev_window_agg.
    */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .selectExpr(
        "cast(window.start AS long) AS window_start", "event_type", "n_events", "sum_value")

  /** Sliding-window twin of [[windowedEventCounts]]: 1-hour windows
    * advancing every 15 minutes — each event updates FOUR window
    * states in the store.
    */
  def slidingEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .selectExpr(
        "cast(window.start AS long) AS window_start", "event_type", "n_events", "sum_value")

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionState(start: Long, end: Long, n: Long)
  final case class SessionOut(user_id: Long, session_start_us: Long,
                              session_end_us: Long, n_events: Long)

  /** Stateful sessionization via flatMapGroupsWithState (the streaming
    * twin of Events.ev_sessionize): per-user state, 30-minute inactivity
    * gap closes a session when a later event arrives.
    *
    * NoTimeout keeps the operator deterministic (emission depends only
    * on data, never on wall clock); a production deployment that must
    * flush idle users would add EventTimeTimeout + a watermark so the
    * flush itself stays data-driven.
    */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = 30L * 60 * 1000000
    // true microseconds: Timestamp.getTime is millis-only, but the
    // events carry sub-ms precision (batch twin uses unix_micros)
    def micros(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[List[SessionState]]) =>
          val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var sessions = state.getOption.getOrElse(Nil)
          val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          for (e <- sorted) {
            val tsUs = micros(e.ts)
            sessions match {
              case cur :: rest if tsUs - cur.end <= gapUs =>
                sessions = SessionState(cur.start, tsUs, cur.n + 1) :: rest
              case cur :: rest =>
                closed += SessionOut(userId, cur.start, cur.end, cur.n)
                sessions = SessionState(tsUs, tsUs, 1) :: rest
              case Nil =>
                sessions = SessionState(tsUs, tsUs, 1) :: Nil
            }
          }
          state.update(sessions)
          closed.iterator
      }
  }

  /** Streaming exact dedup — the incremental twin of `dd_exact`: one
    * row per first-seen normalized-text hash, duplicates dropped ACROSS
    * microbatches via the state store (the checkpoint carries the
    * seen-hash set, so a resumed stream never re-admits a duplicate).
    *
    * State is unbounded by design here (exact corpus dedup must
    * remember every hash); a time-bounded deployment would swap in
    * `dropDuplicatesWithinWatermark` to cap state at the watermark
    * horizon. The state key is the 32-char md5 — 32 bytes/doc of state,
    * hash-partitioned across executors, no shuffle beyond the dedup
    * exchange itself.
    */
  def dedupDocuments(docs: DataFrame): DataFrame =
    docs
      .selectExpr("doc_id", "lang",
        s"md5(${Fns.cleanTextSql("text")}) AS text_hash")
      .dropDuplicates("text_hash")

  /** File-stream wrapper for [[dedupDocuments]]: parquet in, parquet
    * out, checkpoint-resumable like [[chunkIngest]].
    */
  def dedupIngest(spark: SparkSession, inDir: String, outDir: String,
                  checkpointDir: String): StreamingQuery =
    appendParquet(dedupDocuments(spark.readStream.schema(documentsSchema).parquet(inDir)),
      outDir, checkpointDir)

  /** Watermark-bounded streaming dedup: like [[dedupDocuments]] but
    * state is capped at the watermark horizon — a duplicate arriving
    * within `delay` of the original is dropped; state for older keys is
    * evicted. This is the production shape when the dup window is
    * bounded (e.g. at-least-once upstream delivery) and state must not
    * grow with the corpus.
    */
  def dedupDocumentsBounded(docs: DataFrame, tsCol: String, delay: String): DataFrame =
    docs
      .selectExpr(s"$tsCol AS event_ts", "doc_id", "lang",
        s"md5(${Fns.cleanTextSql("text")}) AS text_hash")
      .withWatermark("event_ts", delay)
      .dropDuplicatesWithinWatermark("text_hash")

  final case class BandedDoc(doc_id: Long, hs: Seq[Long], band_key: String)
  final case class StoredDoc(doc_id: Long, hs: Seq[Long])
  final case class NearDupPair(doc_a: Long, doc_b: Long, jaccard: Double)

  /** Streaming near-dup detection — the incremental twin of
    * `dd_minhash_lsh`: each document's 4 MinHash band keys (computed by
    * the same native `word_shingles`/`minhash16` kernels as the batch
    * pipeline) become state-store keys; the state under a band key is
    * the shingle sets of every prior document that hashed there. A new
    * document compares ONLY against its bucket's state (never the
    * corpus), emits exact-Jaccard-verified pairs ≥ 0.5, and joins the
    * state. Pairs arrive as a SET deterministically regardless of batch
    * boundaries; a pair sharing several bands can surface once per
    * band, so exactly-once delivery adds a downstream dropDuplicates.
    *
    * Scale: state is partitioned by band key across executors; per-key
    * state is one bucket's docs (LSH keeps buckets small by design —
    * the same property that bounds the batch join bounds this state).
    */
  def nearDupPairsStream(spark: SparkSession, docs: DataFrame): Dataset[NearDupPair] = {
    import spark.implicits._
    val banded = docs
      .selectExpr("doc_id",
        s"${Fns.cleanTextSql("text")} AS tc")
      .selectExpr("doc_id", "word_shingles(split(tc, ' '), 4) AS hs")
      .selectExpr("doc_id", "hs", "minhash16(hs) AS mh")
      .selectExpr("doc_id", "hs",
        """explode(transform(sequence(0, 3, 1),
             b -> concat(cast(b AS string), '_',
                         array_join(slice(mh, b * 4 + 1, 4), '_')))) AS band_key""")
      .as[BandedDoc]
    banded.groupByKey(_.band_key)
      .flatMapGroupsWithState[List[StoredDoc], NearDupPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[BandedDoc], state: GroupState[List[StoredDoc]]) =>
          val existing = state.getOption.getOrElse(Nil)
          val fresh = rows.map(r => StoredDoc(r.doc_id, r.hs)).toList
            .distinctBy(_.doc_id)
            .filterNot(f => existing.exists(_.doc_id == f.doc_id))
          val all = existing ++ fresh
          val out = scala.collection.mutable.ArrayBuffer.empty[NearDupPair]
          var i = existing.size
          while (i < all.size) {
            var j = 0
            while (j < i) {
              val sa = all(j).hs.toSet
              val sb = all(i).hs.toSet
              val inter = sa.intersect(sb).size
              val jac = inter.toDouble / (sa.size + sb.size - inter)
              if (jac >= 0.5) {
                val (x, y) =
                  if (all(j).doc_id < all(i).doc_id) (all(j).doc_id, all(i).doc_id)
                  else (all(i).doc_id, all(j).doc_id)
                out += NearDupPair(x, y, math.rint(jac * 1e6) / 1e6)
              }
              j += 1
            }
            i += 1
          }
          state.update(all)
          out.iterator
      }
  }

  /** Stream-static enrichment join: each microbatch of the stream joins
    * against a static dimension snapshot. The dim side is broadcast per
    * microbatch — the streaming twin of the batch star-join rule
    * (dimensions broadcast, fact never reshuffled), so the stream stays
    * shuffle-free end-to-end. Left join keeps unmatched stream rows
    * (dimension lag must not drop events).
    */
  def enrichStream(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  // ------------------------------------------------- streaming top-k

  final case class ScoredDoc(q_id: Long, doc_id: Long, sim: Double)
  final case class TopKEntry(q_id: Long, doc_id: Long, sim: Double, rank: Int)

  /** Streaming kNN — the incremental twin of the batch
    * `TopK.TopKAggregator` (v3_knn_batch_agg): candidates stream in,
    * each query's bounded top-k heap lives in the state store, and a
    * microbatch emits a query's CURRENT ranked top-k only when the set
    * improved (Update semantics). State is O(k) per query — never the
    * candidate history — so an unbounded corpus stream runs in constant
    * state; the checkpoint carries the heaps, so a resumed stream
    * continues ranking where it left off.
    *
    * Ordering matches every batch kNN query: similarity DESC with NaN
    * greatest (`java.lang.Double.compare`), ties to the lower doc_id —
    * emission depends only on data, never wall clock (NoTimeout).
    */
  def topKStream(scored: Dataset[ScoredDoc], k: Int): Dataset[TopKEntry] = {
    import scored.sparkSession.implicits._
    def better(a: (Long, Double), b: (Long, Double)): Boolean = {
      val c = java.lang.Double.compare(a._2, b._2)
      c > 0 || (c == 0 && a._1 < b._1)
    }
    scored
      .groupByKey(_.q_id)
      .flatMapGroupsWithState[List[(Long, Double)], TopKEntry](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (qId: Long, rows: Iterator[ScoredDoc], state: GroupState[List[(Long, Double)]]) =>
          val before = state.getOption.getOrElse(Nil)
          val merged = (before ++ rows.map(r => (r.doc_id, r.sim)))
            .distinct.sortWith(better).take(k)
          if (merged == before) Iterator.empty
          else {
            state.update(merged)
            merged.iterator.zipWithIndex.map { case ((d, s), i) =>
              TopKEntry(qId, d, s, i + 1)
            }
          }
      }
  }

  /** Score a streaming document-vector feed against a small static
    * query set: queries broadcast per microbatch (the stream side never
    * shuffles), native codegen'd cosine. Feed the result to
    * [[topKStream]] for end-to-end streaming ANN.
    */
  def scoreAgainstQueries(docs: DataFrame, queries: DataFrame): Dataset[ScoredDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.crossJoin(broadcast(queries))
      .selectExpr("q_id", "doc_id", "cosine_f(embedding, q_emb) AS sim")
      .as[ScoredDoc]
  }

  /** Stream-stream event-time interval join: each left event matches
    * right events of the SAME key whose timestamp falls in
    * [left.ts − maxDelay, left.ts]. Both sides carry watermarks, so the
    * state store retains only a bounded time range per side — the join
    * that correlates clicks to recent views over an unbounded stream
    * without unbounded state. Inner join in append mode emits each
    * match as soon as both rows have arrived; the watermark only
    * bounds state retention, so the drained result is the exact batch
    * interval join (a pure set — gate-checkable).
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
                         maxDelay: String = "30 minutes"): DataFrame = {
    val l = left.selectExpr("user_id", "event_id AS l_id", "ts AS l_ts")
      .withWatermark("l_ts", maxDelay)
    val r = right.selectExpr("user_id AS r_user_id", "event_id AS r_id", "ts AS r_ts")
      .withWatermark("r_ts", maxDelay)
    l.join(r, expr(
      s"user_id = r_user_id AND r_ts BETWEEN l_ts - INTERVAL $maxDelay AND l_ts"))
      .selectExpr("user_id", "l_id", "r_id",
        "unix_micros(l_ts) - unix_micros(r_ts) AS us_gap")
  }

  // ------------------------------------------------- driver-gate rows
  // Structured Streaming through the DuckDB oracle: a Trigger.AvailableNow
  // run over the static test tables drains the whole source through the
  // REAL streaming machinery (file source, checkpoint, state store,
  // sink) and terminates — and because the chosen transforms are
  // deterministic as SETS, the drained result must equal the batch
  // twin the oracle computes. This closes the "streaming is spec-only"
  // gap: the driver gate itself now exercises the streaming path.

  private val rawEventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // placeholder — eventsStream sniffs the real type
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming reader for the events table, tolerant of either vintage
    * of the driver parquet (`ts` as TIMESTAMP(NANOS)-read-as-long under
    * nanosAsLong, or TIMESTAMP(MICROS) read as TIMESTAMP_NTZ): the file
    * stream needs an explicit schema, so sniff `ts`'s physical type
    * from the footer with a batch read of the staged copy, then
    * normalize to a micros TimestampType column. Sessions run in UTC,
    * so the NTZ cast is value-identity (same rule as [[Tables.events]]).
    */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame =
    eventsStreamFrom(spark, stageDir(s"$dir/events.parquet"))

  /** Same, over an already-staged source directory — for queries that
    * append extra rows (e.g. st_sessionize's watermark sentinel) to the
    * staged copy before opening the stream.
    */
  private def eventsStreamFrom(spark: SparkSession, path: String): DataFrame = {
    val tsType = spark.read.parquet(path).schema("ts").dataType
    val schema = StructType(rawEventsSchema.map {
      case f if f.name == "ts" => f.copy(dataType = tsType)
      case f => f
    })
    val raw = spark.readStream.schema(schema).parquet(path)
    tsType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  case class SemVec(vec_id: Long, cluster_id: Long, embedding: Seq[Float])
  case class SemVerdict(vec_id: Long, cluster_id: Long, kept: Boolean)
  /** The key and order fields a per-user state-store fold reads. */
  trait UserPoint { def user_id: Long; def event_id: Long; def ts_us: Long }
  case class EwmaPoint(user_id: Long, event_id: Long, ts_us: Long, v: Long) extends UserPoint
  case class EwmaScore(user_id: Long, event_id: Long, rn: Long,
                       v_micros: Long, ewma_micros: Long)
  case class HoltScore(user_id: Long, event_id: Long, rn: Long,
                       v_micros: Long, level_micros: Long,
                       trend_micros: Long, forecast_micros: Long)
  case class CusumPoint(user_id: Long, event_id: Long, ts_us: Long,
                        v: Long, mu: Long) extends UserPoint
  case class CusumRow(user_id: Long, event_id: Long, rn: Long,
                      v_micros: Long, mu_micros: Long, sp_micros: Long,
                      sm_micros: Long, alarm: Boolean)
  case class Scd2Point(user_id: Long, event_id: Long, event_type: String,
                       ts_us: Long) extends UserPoint
  case class Scd2Row(user_id: Long, event_type: String, valid_from_us: Long,
                     valid_to_us: Long, version: Long)

  /** One group's micro-batch rows, sorted in place by `order`: the one
    * in-function sort of the state-store folds. Streaming forbids a Sort
    * operator before groupByKey (UnsupportedOperationChecker), so the
    * batch folds' secondary-sort shuffle is not available here. The
    * buffer is one key's rows in ONE micro-batch (bounded by the
    * trigger, never the stream's history, which lives in the state).
    */
  private def sortedBatch[P <: AnyRef : ClassTag, K: Ordering](batch: Iterator[P])(
      order: P => K): Array[P] = {
    val buf = batch.toArray
    java.util.Arrays.sort(buf, Ordering.by(order))
    buf
  }

  /** The state-store driver of a per-user recurrence, the streaming
    * side of [[graft.operators.Events.foldSorted]]: groupByKey(user_id)
    * → flatMapGroupsWithState(Append, NoTimeout). Each micro-batch of a
    * user sorts by (ts_us, event_id); the (rn, state) pair is read
    * once, every row steps it, and it is written once, so a user costs
    * one rn plus one state however long the stream runs. `emit` gets
    * the row, its 1-based rn and the state before and after it.
    *
    * CONTRACT — ordered arrival: the drained output equals the batch
    * fold when events arrive time-ordered per user across micro-batches
    * (AvailableNow over one staged file trivially satisfies it; a
    * production deployment gets it from per-key ordered sources or a
    * watermarked pre-sort).
    */
  private def foldGroups[P <: UserPoint : ClassTag, S, O: Encoder](src: Dataset[P])(
      step: (Option[S], P) => S)(emit: (P, Long, Option[S], S) => IterableOnce[O])(
      implicit stateEncoder: Encoder[(Long, S)]): Dataset[O] =
    src.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[(Long, S), O](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, batch, state) =>
          var (rn, st) = state.getOption.fold((0L, Option.empty[S]))(p => (p._1, Some(p._2)))
          val out = sortedBatch(batch)(r => (r.ts_us, r.event_id)).iterator.flatMap { r =>
            val next = step(st, r)
            rn += 1L
            val rows = emit(r, rn, st, next)
            st = Some(next)
            rows
          }.toVector
          state.update((rn, st.get))
          out.iterator
      }

  /** Streaming EWMA ([[graft.operators.Events.ewmaStep]]): the state is
    * an rn, a level and a residual per user, so a forecasting baseline
    * stays live over an unbounded stream with O(users) state.
    */
  def ewmaStream(spark: SparkSession, src: DataFrame): Dataset[EwmaScore] = {
    import spark.implicits._
    foldGroups(src.as[EwmaPoint])((p: Option[Ewma], r: EwmaPoint) => ewmaStep(p, r.v))(
      (r, rn, _, e) => Some(EwmaScore(r.user_id, r.event_id, rn, r.v, e.s)))
  }

  final case class FunnelEvent(user_id: Long, event_type: String, ts: java.sql.Timestamp)
  final case class FunnelState(t1: Long, t2: Long, t3: Long, closed: Boolean)
  final case class FunnelHit(user_id: Long, stage: Int, ts_us: Long)

  /** Stateful strict funnel — the flatMapGroupsWithState twin of the
    * batch ev_funnel_strict: per-user stage state (t1/t2/t3 as micros,
    * 0 = unset) advances signup → view-within-24h-of-t1 →
    * purchase-within-24h-of-t2, emitting one Append row the first time
    * each stage completes. Under ordered per-user arrival the FIRST
    * qualifying event IS the batch min, so the drained hits equal the
    * batch stage tables row for row.
    *
    * Deadline handling uses EVENT-TIME TIMEOUT: while a chain is open
    * the state carries a timeout at the next stage deadline (t1+24h or
    * t2+24h); when the watermark passes it, the state COMPACTS to a
    * closed tombstone (4 fields, t's zeroed) rather than being removed
    * — the batch definition pins the FIRST signup forever, so a later
    * signup must not reopen a dead chain (removal would resurrect it
    * and diverge from the oracle). Completed chains compact the same
    * way. State is O(users) either way; compaction just caps it at the
    * tombstone size for the (typically dominant) dead/converted tail.
    */
  def funnelStream(events: Dataset[FunnelEvent]): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    val day = 86400000000L
    def micros(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, batch, state) =>
          if (state.hasTimedOut) {
            state.update(FunnelState(0L, 0L, 0L, closed = true))
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(FunnelState(0L, 0L, 0L, closed = false))
            val out = List.newBuilder[FunnelHit]
            for (e <- sortedBatch(batch)(e => micros(e.ts)) if !st.closed) {
              val ts = micros(e.ts)
              e.event_type match {
                case "signup" if st.t1 == 0L =>
                  st = st.copy(t1 = ts); out += FunnelHit(uid, 1, ts)
                case "view" if st.t1 > 0L && st.t2 == 0L && ts > st.t1 && ts <= st.t1 + day =>
                  st = st.copy(t2 = ts); out += FunnelHit(uid, 2, ts)
                case "purchase" if st.t2 > 0L && st.t3 == 0L && ts > st.t2 && ts <= st.t2 + day =>
                  out += FunnelHit(uid, 3, ts)
                  st = FunnelState(0L, 0L, 0L, closed = true) // chain complete
                case _ =>
              }
            }
            state.update(st)
            if (!st.closed) {
              val deadlineUs = if (st.t2 > 0L) st.t2 + day else if (st.t1 > 0L) st.t1 + day else 0L
              if (deadlineUs > 0L)
                state.setTimeoutTimestamp(
                  math.max(deadlineUs / 1000L, state.getCurrentWatermarkMs + 1L))
            }
            out.result().iterator
          }
      }
  }

  final case class EwmaResid(user_id: Long, event_id: Long, rn: Long,
                             v_micros: Long, resid_micros: Long)

  /** [[ewmaStream]]'s residual twin: the same state, but each row emits
    * the ONE-STEP-AHEAD forecast residual v_t − s_{t−1} (0 for a user's
    * first row) instead of the smoothed value — the live input to
    * anomaly flagging. Kept separate from EwmaScore so the st_ewma gate
    * schema stays frozen.
    */
  def ewmaResidStream(spark: SparkSession, src: DataFrame): Dataset[EwmaResid] = {
    import spark.implicits._
    foldGroups(src.as[EwmaPoint])((p: Option[Ewma], r: EwmaPoint) => ewmaStep(p, r.v))(
      (r, rn, _, e) => Some(EwmaResid(r.user_id, r.event_id, rn, r.v, e.resid)))
  }

  /** Streaming Holt ([[graft.operators.Events.holtStep]]): level +
    * trend per user, the trend-aware sibling of [[ewmaStream]].
    */
  def holtStream(spark: SparkSession, src: DataFrame): Dataset[HoltScore] = {
    import spark.implicits._
    foldGroups(src.as[EwmaPoint])((p: Option[Holt], r: EwmaPoint) => holtStep(p, r.v))(
      (r, rn, _, h) => Some(HoltScore(r.user_id, r.event_id, rn, r.v, h.l, h.b, h.l + h.b)))
  }

  /** Streaming CUSUM change-point monitor
    * ([[graft.operators.Events.cusumNext]], the batch ev_cusum's step):
    * the state is the S⁺/S⁻ carries per user; the μ each step needs
    * rides IN THE ROW (a stream-static join against the user-mean table
    * — the reference-profile side of a monitoring deployment,
    * recomputed offline and joined to the live feed).
    */
  def cusumStream(spark: SparkSession, src: Dataset[CusumPoint]): Dataset[CusumRow] = {
    import spark.implicits._
    foldGroups(src)((p: Option[Cusum], r: CusumPoint) => cusumNext(p, r.mu, r.v))(
      (r, rn, _, c) => Some(CusumRow(r.user_id, r.event_id, rn, r.v, r.mu, c.sp, c.sm, c.alarm)))
  }

  /** Streaming SemDeDup (see the st_semdedup QueryDef): per-cluster
    * keep/drop state over a centroid-assigned embedding stream. The
    * cosine is the native CosineSim fold itself, over each vector
    * widened to doubles once as it enters the state, so the streaming
    * verdict can never disagree with the batch expression at θ.
    *
    * CONTRACT — ordered arrival across microbatches: verdicts are
    * emitted in Append mode and never revised, so equality with the
    * batch tp_semdedup rule ("drop iff some LOWER-id cluster-mate is
    * within θ") requires that vec_ids arrive non-decreasing per
    * cluster across microbatches. A lower-id similar vector landing in
    * a LATER batch cannot retract the 'kept' already emitted for a
    * higher id (the reverse direction — higher id later — is handled:
    * `seen` keeps every prior vector). Within a single microbatch the
    * group is sorted by vec_id, so intra-batch order never matters;
    * the gate row satisfies the contract by staging one file under
    * AvailableNow (a single microbatch). Producers feeding this from a
    * multi-batch source must stage input so per-cluster ids are
    * non-decreasing batch-over-batch (e.g. id-ordered file drops), or
    * accept first-arrival-wins semantics instead of lowest-id-wins.
    */
  def semanticDedupStream(spark: SparkSession, assignedSrc: DataFrame,
                          centroids: DataFrame): Dataset[SemVerdict] = {
    import spark.implicits._
    val theta = graft.operators.Curation.SemTheta.toDouble
    graft.operators.Knn.assignToCentroids(assignedSrc, centroids)
      .select("vec_id", "cluster_id", "embedding")
      .as[SemVec]
      .groupByKey(_.cluster_id)
      .flatMapGroupsWithState[List[(Long, Array[Double])], SemVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (cluster, batch, state) =>
          var seen = state.getOption.getOrElse(Nil)
          val out = scala.collection.mutable.ListBuffer.empty[SemVerdict]
          batch.toSeq.sortBy(_.vec_id).foreach { v =>
            val x = v.embedding.iterator.map(_.toDouble).toArray
            val dropped = seen.exists { case (id, e) =>
              id < v.vec_id &&
                graft.plans.CosineSim.fold(e, 0, x, 0, math.min(e.length, x.length)) >= theta
            }
            out += SemVerdict(v.vec_id, cluster, !dropped)
            seen = (v.vec_id, x) :: seen
          }
          state.update(seen)
          out.iterator
      }
  }

  /** Streaming SCD Type-2 maintenance
    * ([[graft.operators.Events.scd2Step]]): per-user state is the OPEN
    * dimension row — (current type, valid_from, version), one string +
    * two longs however long the stream runs. A version row is emitted
    * exactly when the NEXT change closes it, so Append mode never
    * revises; the still-open tail is closed by a per-user far-future
    * sentinel event (the st_sessionize watermark-drag trick, pointed
    * at group state instead of a session window) whose close rows the
    * batch side rewrites to the NULL-terminated open row.
    */
  def scd2Stream(spark: SparkSession, src: Dataset[Scd2Point]): Dataset[Scd2Row] = {
    import spark.implicits._
    foldGroups(src)((p: Option[Scd2Open], r: Scd2Point) => scd2Step(p, r.event_type, r.ts_us))(
      (r, _, prev, next) => prev.filter(_.version != next.version)
        .map(p => Scd2Row(r.user_id, p.event_type, p.from_us, next.from_us, p.version)))
  }

  /** The file-stream source requires a DIRECTORY (basePath); the test
    * tables are single files — stage a copy into a temp source dir, the
    * same shape a production landing zone has.
    */
  private def stageDir(file: String): String = {
    val src = graft.TmpDirs.create("graft_st_src")
    java.nio.file.Files.copy(java.nio.file.Paths.get(file), src.resolve("part-0.parquet"))
    src.toString
  }

  /** The staged documents table as a file stream. */
  private def documentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(documentsSchema).parquet(stageDir(s"$dir/documents.parquet"))

  private val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** The staged embeddings table as a file stream. */
  private def embeddingsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(embeddingsSchema).parquet(stageDir(s"$dir/embeddings.parquet"))

  // ------------------------------------------------- the drain seam
  // Every gate twin ends in one of the two drains below. Both run the
  // stream under Trigger.AvailableNow over its bounded, staged source
  // and wait for the query to end, which rethrows a failed stream's
  // error: a drain raises, it never reads back a sink the stream did
  // not finish.

  /** The parquet Append sink chain: [[drain]], [[chunkIngest]] and
    * [[dedupIngest]] all write through it.
    */
  private def appendParquet(df: Dataset[_], outDir: String, checkpointDir: String,
                            partitionBy: String*): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy(partitionBy: _*)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Drain `df` into a parquet sink under a fresh [[graft.TmpDirs]] dir
    * and read `out/` back through `schema` (a DDL string).
    */
  private[graft] def drain(df: Dataset[_], schema: String, partitionBy: String*): DataFrame = {
    val tmp = graft.TmpDirs.create("graft_st_gate").toString
    appendParquet(df, s"$tmp/out", s"$tmp/cp", partitionBy: _*).awaitTermination()
    df.sparkSession.read.schema(schema).parquet(s"$tmp/out")
  }

  /** Drain `df` into the memory sink `name` in `mode` (Complete or
    * Update) and return the sink's table.
    */
  private[graft] def drainTable(df: Dataset[_], name: String, mode: OutputMode): DataFrame = {
    df.writeStream.format("memory").queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    df.sparkSession.table(name)
  }

  def queries: Seq[graft.QueryDef] = Seq(
    // P1/C1 through the checkpointed stream: documents flow file-source →
    // chunker → parquet APPEND sink, then the sink directory is read
    // back. Oracle = the same chunker SQL as c1_chunk — any row the
    // stream drops, duplicates, or mangles breaks the hash. bench=false:
    // this measures checkpoint/sink I/O, not engine throughput.
    graft.QueryDef(
      "st_chunk_ingest",
      (spark, dir) => drain(chunkDocuments(documentsStream(spark, dir)),
        "doc_id BIGINT, chunk_number INT, chunk_text STRING"),
      Some(graft.operators.Chunker.chunkOracle),
      bench = false),

    // Stateful exact dedup through the dropDuplicates state store: which
    // doc survives per hash is arrival-order-dependent, but the SET of
    // surviving hashes is not — projecting the hash column alone makes
    // the drained output deterministic, so the oracle is simply the
    // distinct normalized-text hashes. Any state-store miss (a dup
    // passing through) or over-drop breaks row count and hash alike.
    graft.QueryDef(
      "st_dedup_ingest",
      (spark, dir) => drain(dedupDocuments(documentsStream(spark, dir)),
        "doc_id BIGINT, lang STRING, text_hash STRING").select("text_hash"),
      Some(s"""
        SELECT DISTINCT md5(${Fns.cleanTextDuck("text")}) AS text_hash
        FROM documents"""),
      bench = false),

    // Streaming ANN index maintenance: embeddings arrive as a file
    // stream, assign to broadcast centroids ROW-LOCALLY (the same
    // exchange-free argmax_cos projection as the batch index build) and
    // append into the cluster_id-partitioned layout — how a 100 TB
    // vector index stays fresh without rebuilds. The sink directory is
    // read back with partition pruning intact; oracle = the batch
    // rank-window assignment over the same corpus and centroid set.
    graft.QueryDef(
      "st_ivf_build",
      (spark, dir) => {
        val cents = graft.Tables.embeddings(spark, dir).where("vec_id < 8")
          .selectExpr("vec_id AS cent_id", "embedding AS cent_emb")
        drain(graft.operators.Knn.assignToCentroids(embeddingsStream(spark, dir), cents)
          .select("vec_id", "cluster_id"), "vec_id BIGINT, cluster_id BIGINT", "cluster_id")
      },
      Some("""
        WITH cent AS (SELECT vec_id AS cent_id, list_transform(embedding, x -> x::DOUBLE) AS cent_emb
                      FROM embeddings WHERE vec_id < 8),
        e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings)
        SELECT vec_id, cent_id AS cluster_id
        FROM (
          SELECT e.vec_id, c.cent_id,
                 row_number() OVER (PARTITION BY e.vec_id
                                    ORDER BY list_sum(list_transform(generate_series(1, len(e.emb)), i -> e.emb[i] * c.cent_emb[i]))
                                             / (sqrt(list_sum(list_transform(e.emb, x -> x * x)))
                                                * sqrt(list_sum(list_transform(c.cent_emb, x -> x * x)))) DESC,
                                    c.cent_id) AS rn
          FROM e, cent c)
        WHERE rn = 1"""),
      bench = false),

    // Streaming SemDeDup: embeddings arrive as a file stream, assign to
    // broadcast centroids row-locally (zero exchange, the st_ivf_build
    // projection), then per-CLUSTER state decides keep/drop — a vector
    // drops iff some lower-id vector of the same cluster sits within
    // cosine θ, kept or not, exactly tp_semdedup's rule. Within each
    // microbatch the group sorts by vec_id, so arrival order inside a
    // batch cannot perturb the verdict, and the drained output equals
    // the batch query — the oracle IS tp_semdedup's SQL. Across
    // batches the equality relies on the ordered-arrival contract
    // documented on semanticDedupStream (here trivially met: one
    // staged file + AvailableNow = a single microbatch). State grows
    // with cluster population (the same bound as the batch pair space);
    // a production deploy caps it with cluster splitting, not eviction
    // (evicting would silently re-admit duplicates).
    graft.QueryDef(
      "st_semdedup",
      (spark, dir) => {
        val cents = graft.Tables.embeddings(spark, dir).where("vec_id < 8")
          .selectExpr("vec_id AS cent_id", "embedding AS cent_emb")
        drain(semanticDedupStream(spark, embeddingsStream(spark, dir), cents),
          "vec_id BIGINT, cluster_id BIGINT, kept BOOLEAN")
      },
      Some(graft.operators.Curation.semDedupOracleSql),
      bench = false),

    // Stream-stream interval join through the join state store: clicks
    // and views arrive as two independent file streams (both
    // watermarked), and each click joins the same user's views from the
    // preceding 30 minutes. Inner join in append mode emits matches
    // eagerly; the watermark bounds per-side state, so the drained
    // output is the exact batch interval join — which is precisely what
    // the oracle computes. Any dropped match (state evicted too early),
    // duplicate emission, or timestamp skew breaks the hash.
    graft.QueryDef(
      "st_stream_join",
      (spark, dir) => {
        def src() = eventsStream(spark, dir)
        val joined = intervalJoinStream(
          src().where("event_type = 'click'"),
          src().where("event_type = 'view'"))
        drain(joined, "user_id BIGINT, l_id BIGINT, r_id BIGINT, us_gap BIGINT")
      },
      Some("""
        WITH c AS (SELECT event_id AS l_id, ts AS l_ts, user_id FROM events WHERE event_type = 'click'),
        v AS (SELECT event_id AS r_id, ts AS r_ts, user_id FROM events WHERE event_type = 'view')
        SELECT c.user_id, c.l_id, v.r_id,
               epoch_us(c.l_ts) - epoch_us(v.r_ts) AS us_gap
        FROM c JOIN v ON c.user_id = v.user_id
                     AND v.r_ts BETWEEN c.l_ts - INTERVAL 30 MINUTE AND c.l_ts"""),
      bench = false),

    // Event-time windowed aggregation through the state store: the
    // watermarked tumbling-window count/sum drains under AvailableNow
    // into a COMPLETE-mode memory sink — final state = the batch
    // aggregate, windows and all (the watermark bounds state during the
    // run; complete mode emits everything at the end). Oracle = the
    // hour-truncated batch aggregation (ev_window_agg minus min/max —
    // the streaming twin carries count and decimal sum).
    graft.QueryDef(
      "st_window_counts",
      (spark, dir) => drainTable(windowedEventCounts(eventsStream(spark, dir)),
        "st_window_counts_sink", OutputMode.Complete),
      Some("""
        SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_start, event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2"""),
      bench = false),

    // Sliding windows through the state store: every event updates four
    // overlapping 1-hour/15-minute window states — the alerting
    // aggregation shape. Complete-mode drain under AvailableNow = the
    // batch sliding aggregate, which is exactly ev_sliding_window's
    // oracle (instances whose window would start before the epoch are
    // clipped there; Spark's window() generates them, so the gate
    // filters to the shared domain ≥ 0 — both engines agree on it).
    graft.QueryDef(
      "st_sliding_counts",
      (spark, dir) => drainTable(slidingEventCounts(eventsStream(spark, dir)),
        "st_sliding_counts_sink", OutputMode.Complete).where("window_start >= 0"),
      Some(graft.operators.Events.slidingWindowOracleSql),
      bench = false),

    // Streaming outlier alerts: the production alerting split of
    // dq_outliers. The robust per-type stats (median + MAD) are a
    // BATCH artifact — a bounded one-row-per-type table refreshed
    // offline and broadcast — and the stream flags each arriving event
    // against them ROW-LOCALLY (stream-static broadcast join, zero
    // streaming state, so it scales to any event rate and never
    // waits for a window to close). Both twins call the same
    // Quality.outlierStats/flagOutliers pair, so the drained output
    // equals the batch gate by construction; oracle = dq_outliers' SQL.
    graft.QueryDef(
      "st_outliers",
      (spark, dir) => {
        val stats = graft.operators.Quality.outlierStats(
          graft.Tables.events(spark, dir).selectExpr("event_id", "event_type", "value"))
        val src = eventsStream(spark, dir)
          .selectExpr("event_id", "event_type", "value")
        drain(graft.operators.Quality.flagOutliers(src, stats),
          "event_id BIGINT, event_type STRING, value DOUBLE, med DOUBLE, mad DOUBLE, robust_z DOUBLE")
      },
      Some(graft.operators.Quality.outliersOracleSql),
      bench = false),

    // ------------------------- streaming distribution-drift monitor
    // dq_drift's serving half as a live stream: the decile boundaries
    // and reference histogram are frozen from the batch reference
    // window (bounded, broadcast — Quality.driftCuts/bucketize, the
    // SAME code the batch gate runs), the current window arrives as a
    // stream whose rows bucket row-locally and count through the state
    // store (Complete mode: the histogram is O(buckets) state however
    // long the stream runs). The drained counts joined to the frozen
    // reference produce byte-identical output to the batch dq_drift —
    // which is exactly what the oracle recomputes.
    graft.QueryDef(
      "st_drift",
      (spark, dir) => {
        import graft.operators.Quality
        val evB = graft.Tables.events(spark, dir).selectExpr("value",
          "CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS is_ref")
        val cuts = Quality.driftCuts(evB)
        val refCounts = Quality.bucketize(evB.where("is_ref = 1"), cuts)
          .groupBy("bucket").agg(expr("cast(count(*) AS bigint) AS n_ref"))
        val src = eventsStream(spark, dir)
          .selectExpr("value",
            "CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS is_ref")
          .where("is_ref = 0")
        val curCounts = drainTable(Quality.bucketize(src, cuts)
          .groupBy("bucket").agg(expr("cast(count(*) AS bigint) AS n_cur")),
          "st_drift_sink", OutputMode.Complete)
        Quality.driftReport(
          refCounts.join(curCounts, Seq("bucket"), "full_outer")
            .selectExpr("bucket", "coalesce(n_ref, 0L) AS n_ref",
              "coalesce(n_cur, 0L) AS n_cur"))
      },
      Some(graft.operators.Quality.driftOracleSql),
      bench = false),

    // ------------------------- streaming HLL sketch maintenance
    // The cardinality companion to st_ivf_build: documents stream in,
    // shingle ranks extract row-locally (the same native word_shingles
    // kernel as the batch path), and the ONLY state the stream carries
    // is the sketch itself — a 256-row max-register aggregate in the
    // state store, O(m) bytes however many exabytes flow past. The
    // drained registers feed the identical bucket-ordered harmonic
    // fold, so the streamed estimate is bit-equal to batch
    // ta_vocab_hll — whose oracle SQL this row reuses verbatim.
    graft.QueryDef(
      "st_hll",
      (spark, dir) => {
        val half = 1L << 52
        val regs = documentsStream(spark, dir)
          .selectExpr(
            s"${Fns.cleanTextSql("text")} AS tc")
          .selectExpr("split(tc, ' ') AS toks")
          .selectExpr("word_shingles(toks, 4) AS hs")
          .selectExpr("explode(hs) AS h")
          .selectExpr(s"h div ${half}L AS b", s"h % ${half}L AS rem")
          .selectExpr("b", "rank52(rem) AS r")
          .groupBy("b").agg(expr("max(r) AS mr"))
        spark.range(0, 256).selectExpr("cast(id AS bigint) AS b")
          .join(drainTable(regs, "st_hll_sink", OutputMode.Complete), Seq("b"), "left")
          .selectExpr("b", "coalesce(mr, 0) AS M")
          .groupBy()
          .agg(
            expr("""aggregate(sort_array(collect_list(named_struct('b', b, 'm', M))),
                              cast(0 AS double), (acc, x) -> acc + pow(2D, -cast(x.m AS double))) AS S"""),
            expr("sum(CASE WHEN M > 0 THEN 1 ELSE 0 END) AS hit"))
          .selectExpr(
            "cast(256 AS bigint) AS m_buckets",
            "cast(hit AS bigint) AS buckets_hit",
            "round((0.7213D / (1D + 1.079D / 256D)) * 256D * 256D / S, 4) AS hll_est")
      },
      Some(graft.operators.TextOps.vocabHllOracleSql),
      bench = false),

    // ------------------------- streaming Count-Min sketch maintenance
    // ev_countmin's grid maintained ON the stream: events flow in, each
    // explodes into its d=4 (row, bucket) cells row-locally, and the
    // ONLY state the stream carries is the d × w counter grid itself —
    // ≤ 1024 count rows in the state store however many events flow
    // past (the st_hll discipline: the sketch IS the state). The
    // drained grid feeds the identical hot-item min-cell lookup as the
    // batch operator (shared cmEstimates — the estimate path cannot
    // diverge), so the streamed sketch is bit-equal to batch
    // ev_countmin, whose oracle SQL this row reuses verbatim.
    graft.QueryDef(
      "st_countmin",
      (spark, dir) => {
        val cells = eventsStream(spark, dir)
          .selectExpr(s"${graft.operators.Events.CmItemExpr} AS item")
          .selectExpr(s"explode(array(${graft.operators.Events.cmStructs})) AS c")
          .selectExpr("c.j AS j", "c.b AS b")
          .groupBy("j", "b").agg(expr("cast(count(*) AS bigint) AS n"))
        graft.operators.Events.cmEstimates(spark, dir,
          drainTable(cells, "st_countmin_sink", OutputMode.Complete))
      },
      Some(graft.operators.Events.cmOracleSql),
      bench = false),

    // ------------------- streaming A/B chi-square (live experiment)
    // ev_ab_chisq's contingency table maintained ON the stream — the
    // always-on experiment dashboard: per event_type the state is four
    // counters (n_a, n_b, s_a, s_b) however many events flow past, a
    // plain streaming aggregation in Complete mode (types-bounded
    // output, the st_countmin "the sketch IS the state" discipline).
    // The drained cells feed the IDENTICAL exact-integer χ² arithmetic
    // as the batch operator (shared Events.chisqFromCells — the
    // widening and zero-guard cannot diverge), and the oracle SQL is
    // ev_ab_chisq's verbatim: an AvailableNow drain over a bounded
    // source must equal batch.
    graft.QueryDef(
      "st_ab_chisq",
      (spark, dir) => {
        val cells = eventsStream(spark, dir)
          .selectExpr("event_type", "user_id % 2 AS variant",
            "CASE WHEN value > 50 THEN 1L ELSE 0L END AS succ")
          .groupBy("event_type")
          .agg(graft.operators.Events.abCellAggs.head,
            graft.operators.Events.abCellAggs.tail: _*)
        graft.operators.Events.chisqFromCells(
          drainTable(cells, "st_ab_chisq_sink", OutputMode.Complete))
      },
      Some(graft.operators.Events.abChisqOracleSql),
      bench = false),

    // ----------------------------- streaming EWMA (live forecasting)
    // ev_ewma's recurrence running against the stream: per-user state
    // is (rn, level, residual) — three longs per user however long it runs.
    // The drained Append output under AvailableNow equals the batch
    // fold row for row, which is what the oracle (the same RECURSIVE
    // CTE as ev_ewma) recomputes.
    graft.QueryDef(
      "st_ewma",
      (spark, dir) => {
        val src = eventPoints(eventsStream(spark, dir))
        drain(ewmaStream(spark, src),
          "user_id BIGINT, event_id BIGINT, rn BIGINT, v_micros BIGINT, ewma_micros BIGINT")
      },
      Some(graft.operators.Events.ewmaOracleSql),
      bench = false),

    // ---------------------- streaming Holt (trend-aware forecasting)
    // ev_holt's level+trend recurrence live on the stream: three longs
    // of state per user however long the stream runs — the
    // forecasting-baseline upgrade for drifting series, same ordered-
    // arrival contract and truncating integer division as the batch
    // operator, whose oracle this row reuses verbatim.
    graft.QueryDef(
      "st_holt",
      (spark, dir) => {
        val src = eventPoints(eventsStream(spark, dir))
        drain(holtStream(spark, src),
          "user_id BIGINT, event_id BIGINT, rn BIGINT, v_micros BIGINT, " +
            "level_micros BIGINT, trend_micros BIGINT, forecast_micros BIGINT")
      },
      Some(graft.operators.Events.holtOracleSql),
      bench = false),

    // --------------------- streaming CUSUM (live change-point watch)
    // ev_cusum's sequential audit running against the stream: the
    // per-user reference mean comes from a STREAM-STATIC join (the
    // offline profile side of a monitoring deployment), the S⁺/S⁻
    // carries live in the state store, and the shared cusumNext step
    // keeps the twins bit-equal — the drained Append output
    // is row-for-row the batch fold, which the shared recursive-CTE
    // oracle replays independently.
    graft.QueryDef(
      "st_cusum",
      (spark, dir) => {
        import spark.implicits._
        val mu = graft.Tables.events(spark, dir)
          .selectExpr("user_id", s"${graft.operators.Events.ValueMicros} AS v")
          .groupBy("user_id")
          .agg(expr("sum(v) div count(v) AS mu"))
        val src = eventPoints(eventsStream(spark, dir))
          .join(mu, "user_id")
          .selectExpr("user_id", "event_id", "ts_us", "v", "mu")
          .as[CusumPoint]
        drain(cusumStream(spark, src),
          "user_id BIGINT, event_id BIGINT, rn BIGINT, v_micros BIGINT, " +
            "mu_micros BIGINT, sp_micros BIGINT, sm_micros BIGINT, alarm BOOLEAN")
      },
      Some(graft.operators.Events.cusumOracleSql),
      bench = false),

    // ------------------- native session-window sessionization stream
    // ev_sessionize through Spark's BUILT-IN session_window state store
    // — the last stateful-operator family the gate did not cover (the
    // flatMapGroupsWithState sessionize is spec-only; this is the
    // declarative form Catalyst manages: merging session state,
    // watermark eviction). Gap is 30 min + 1 µs because the native
    // window merges on next < last + gap (exclusive) while the batch
    // rule merges on gap <= 30 min inclusive — with integral-micros
    // timestamps the +1 µs makes them identical. Append mode only
    // emits a session once the WATERMARK passes its close (last + gap),
    // which would withhold every session ending within one gap of the
    // corpus max — so the staged source gets one far-future SENTINEL
    // row for non-user −1 that drags the global watermark past every
    // real close; the sentinel's own session never finalizes and is
    // filtered on the batch side. session_id (the batch ordinal) is a
    // post-drain row_number per user — pure presentation, computed
    // from emitted rows. Oracle = ev_sessionize's SQL verbatim.
    graft.QueryDef(
      "st_sessionize",
      (spark, dir) => {
        val staged = stageDir(s"$dir/events.parquet")
        val raw = spark.read.parquet(staged)
        // The sentinel's ts must carry the staged parquet's own vintage:
        // on the TIMESTAMP(NANOS)-read-as-long files `max(ts)` is a
        // BIGINT (interval-add would fail analysis, and a timestamp-typed
        // append would fork the directory's schema), so add 2 h as nanos
        // there and as an interval only on the timestamp vintages.
        val sentinelTs = raw.schema("ts").dataType match {
          case LongType => "mts + 7200000000000L" // 2 h in nanos
          case _ => "mts + INTERVAL 2 HOURS"
        }
        raw.limit(1)
          .crossJoin(raw.agg(expr("max(ts) AS mts")))
          .selectExpr("-1L AS event_id", s"$sentinelTs AS ts",
            "-1L AS user_id", "'sentinel' AS event_type", "0.0D AS value",
            "'' AS props")
          .write.mode("append").parquet(staged)
        val src = eventsStreamFrom(spark, staged).select("user_id", "ts")
        val gapUs = 1800000001L
        val sessions = src.withWatermark("ts", "0 seconds")
          .groupBy(session_window(col("ts"), s"$gapUs microseconds"), col("user_id"))
          .agg(expr("cast(count(*) AS bigint) AS n_events"))
          .selectExpr("user_id",
            "unix_micros(session_window.start) AS session_start_us",
            s"unix_micros(session_window.end) - ${gapUs}L AS session_end_us",
            "n_events")
        drain(sessions,
          "user_id BIGINT, session_start_us BIGINT, session_end_us BIGINT, n_events BIGINT")
          .where("user_id >= 0")
          .selectExpr("user_id",
            """cast(row_number() OVER (PARTITION BY user_id
                                       ORDER BY session_start_us) AS bigint) AS session_id""",
            "n_events", "session_start_us", "session_end_us")
      },
      Some(graft.operators.Events.sessionizeOracleSql),
      bench = false),

    // ------------------ streaming anomaly residuals (live alerting)
    // ev_anomaly's sequential half running against the stream: the
    // cross-batch (rn, level, residual) state emits one-step-ahead forecast
    // residuals live; the drained residual log then folds through the
    // SAME per-user robust scale + integer-exact 2|r| > 3·(2·median)
    // flag the batch query applies — the bounded non-sequential part,
    // computed post-drain exactly as a deployment would run it over
    // the day's residual log. Oracle = ev_anomaly's SQL verbatim.
    graft.QueryDef(
      "st_anomaly",
      (spark, dir) => {
        val src = eventPoints(eventsStream(spark, dir))
        anomalyFlags(drain(ewmaResidStream(spark, src),
          "user_id BIGINT, event_id BIGINT, rn BIGINT, v_micros BIGINT, resid_micros BIGINT"))
      },
      Some(graft.operators.Events.anomalyOracleSql),
      bench = false),

    // --------------------- stateful streaming funnel (stage machine)
    // ev_funnel_strict's cascade running through the state store: the
    // one stateful shape (multi-stage with deadlines) the streaming
    // family did not cover. Append-mode stage hits drain to parquet,
    // then a batch aggregate folds them into the oracle's
    // stage/n/conv_ppm rows — each user emits a stage at most once, so
    // count(*) per stage equals the batch per-user stage tables. The
    // stage spine left-join keeps all three rows even if a stage
    // converts nobody (the oracle's count-of-empty = 0 shape).
    graft.QueryDef(
      "st_funnel_strict",
      (spark, dir) => {
        import spark.implicits._
        val src = eventsStream(spark, dir)
          .selectExpr("user_id", "event_type", "ts")
          .withWatermark("ts", "24 hours")
          .as[FunnelEvent]
        val hits = drain(funnelStream(src), "user_id BIGINT, stage INT, ts_us BIGINT")
        val agg = hits.groupBy("stage").agg(expr("cast(count(*) AS bigint) AS n"))
        val spine = Seq((1, "1_signup"), (2, "2_view_24h"), (3, "3_purchase_24h"))
          .toDF("stage", "label")
        val base = agg.where("stage = 1").selectExpr("n AS n0")
        spine.join(agg, Seq("stage"), "left")
          .selectExpr("stage AS stage_no", "label AS stage", "coalesce(n, 0L) AS n")
          .crossJoin(org.apache.spark.sql.functions.broadcast(base))
          .orderBy("stage_no")
          .selectExpr("stage", "n", "n * 1000000L div n0 AS conv_ppm")
      },
      Some(graft.operators.Events.funnelStrictOracleSql),
      bench = false),

    // ------------------- streaming heavy hitters (bounded sketch state)
    // ev_heavyhitters' Misra-Gries summary running against the stream.
    // The naive stateful counter (flatMapGroupsWithState keyed by item,
    // count state) re-creates exactly the cardinality-sized state the
    // batch operator exists to avoid; instead the stream keys by a
    // FIXED 64-way shard of the item (`item % 64`) and each shard's
    // state is its own MG summary — k=500 counters per shard, so the
    // state store holds ≤ 64·(500+1) longs HOWEVER long the stream
    // runs. Sharding by key strengthens the batch bound: every
    // occurrence of an item lands in one shard, so a key absent from
    // its shard's final summary has global count ≤ n_shard/k ≤ N/k.
    // Each batch emits the shard's current survivor keys (Update
    // mode); the union over batches ⊇ the final summary ⊇ every true
    // heavy hitter, and the batch-side exact confirm kills the rest —
    // the drained result is exact and equals ev_heavyhitters' oracle
    // verbatim.
    graft.QueryDef(
      "st_heavyhitters",
      (spark, dir) => {
        import spark.implicits._
        val k = 500
        val itemExpr =
          "CASE WHEN event_id % 10 < 7 THEN event_id % 20 ELSE event_id + 1000000000L END AS item"
        val src = eventsStream(spark, dir).selectExpr(itemExpr).as[Long]
        val summaries = src.groupByKey(_ % 64)
          .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
            (shard: Long, items: Iterator[Long], state: GroupState[Map[Long, Long]]) =>
              val m = scala.collection.mutable.HashMap.empty[Long, Long]
              state.getOption.foreach(m ++= _)
              items.foreach { t =>
                m.get(t) match {
                  case Some(c) => m(t) = c + 1L
                  case None =>
                    if (m.size < k) m(t) = 1L
                    else {
                      m.mapValuesInPlace((_, c) => c - 1L)
                      m.filterInPlace((_, c) => c > 0L)
                    }
                }
              }
              state.update(m.toMap)
              m.keysIterator.map(t => (shard, t)).toSeq.iterator
          }
        val cands = drainTable(summaries.toDF("shard", "item"),
          "st_heavyhitters_sink", OutputMode.Update).select("item").distinct()
        // exact confirm over the batch table — identical to the batch
        // operator's second pass (and the reason the output is exact)
        val items = graft.Tables.events(spark, dir).selectExpr(itemExpr)
        val total = items.groupBy().agg(expr("count(*) AS n_total"))
        items.join(broadcast(cands), "item")
          .groupBy("item")
          .agg(expr("cast(count(*) AS bigint) AS cnt"))
          .crossJoin(broadcast(total))
          .where(s"cnt * ${k}L > n_total")
          .selectExpr("item", "cnt", "cnt * 1000000L div n_total AS share_ppm")
      },
      Some(graft.operators.Events.heavyHittersOracleSql),
      bench = false),

    // ------------------------ stateless model serving (stream scoring)
    // ml_score_docs' deployment shape taken live: the perceptron trains
    // batch-side (graft.operators.Ml.trainChain), the trained weight
    // table — ≤ 4097 entries BY CONSTRUCTION, the hashed feature space
    // — collects once and ships to executors as a broadcast variable,
    // and the document stream scores ROW-LOCALLY in a typed map:
    // feature hashing, margin, verdict, all inside one stateless
    // projection. There is NO state store at all — the strongest
    // streaming scale shape there is (nothing to checkpoint, nothing
    // to evict, unbounded stream length for free), which is exactly
    // what makes broadcast-model inference the production serving
    // pattern. Drained Append output equals the batch scorer row for
    // row; oracle = ml_score_docs' SQL verbatim.
    graft.QueryDef(
      "st_ml_score",
      (spark, dir) => {
        import spark.implicits._
        val wMap = graft.operators.Ml.trainChain(spark, dir)._2
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val bc = spark.sparkContext.broadcast(wMap)
        val scored = graft.operators.Ml.featureArrays(documentsStream(spark, dir))
          .selectExpr("doc_id", "y", "hs")
          .as[(Long, Long, Seq[Long])]
          .map { case (d, y, hs) =>
            val w = bc.value
            var m = 0L
            hs.foreach(h => m += w.getOrElse(h, 0L))
            (d, y, m, if (m > 0L) 1L else -1L, if (y * m > 0L) 1L else 0L)
          }
          .toDF("doc_id", "y", "margin", "pred", "correct")
        drain(scored, "doc_id BIGINT, y BIGINT, margin BIGINT, pred BIGINT, correct BIGINT")
      },
      Some(graft.operators.Ml.scoreOracleSql),
      bench = false),

    // ------------------- streaming k-means assignment (model serving)
    // ml_kmeans' deployment shape taken live, the st_ml_score pattern
    // for the clustering model: Lloyd trains batch-side
    // (graft.operators.Ml.kmTrain — K×D integer centroids BY
    // CONSTRUCTION), the model ships as a broadcast variable, and the
    // embedding stream assigns ROW-LOCALLY in a typed map (quantize,
    // exact integer argmin with smallest-index ties, inertia
    // contribution). No state store — broadcast-model inference, the
    // strongest streaming scale shape. Drained Append output equals
    // the batch assignment row for row; oracle = the kmeans CTE
    // chain's `af` table verbatim.
    graft.QueryDef(
      "st_kmeans_score",
      (spark, dir) => {
        import spark.implicits._
        val bc = spark.sparkContext.broadcast(graft.operators.Ml.kmTrain(spark, dir))
        val scored = embeddingsStream(spark, dir).selectExpr("vec_id", "embedding")
          .as[(Long, Seq[Float])]
          .map { case (id, e) =>
            val cents = bc.value
            val qv = new Array[Long](e.length)
            var i = 0
            while (i < e.length) { qv(i) = math.floor(e(i).toDouble * 1e6).toLong; i += 1 }
            var bj = 0L; var bd = Long.MaxValue
            var j = 0
            while (j < cents.length) {
              val cv = cents(j)
              val n = math.min(qv.length, cv.length)
              var d = 0L; var k = 0
              while (k < n) { val t = qv(k) - cv(k); d += t * t; k += 1 }
              if (d < bd) { bd = d; bj = j.toLong }
              j += 1
            }
            (id, bj, bd)
          }
          .toDF("vec_id", "cluster", "d")
        drain(scored, "vec_id BIGINT, cluster BIGINT, d BIGINT")
      },
      Some(s"""
        WITH ${graft.operators.Ml.kmAssignCtes}
        SELECT vec_id, cid::BIGINT AS cluster, d::BIGINT AS d FROM af"""),
      bench = false),

    // ---------------- streaming upsert into the versioned store
    // The foreachBatch surface: a file stream of updates lands in the
    // Lake's merge-on-read path — each micro-batch APPENDS one delta
    // (O(batch) write cost, no base rewrite, the manifest-last publish
    // making every batch an atomic commit), and the post-drain
    // resolved read equals the batch MERGE row for row. Keys are
    // unique across the update fixture, so resolution is independent
    // of how the stream happened to batch — the determinism argument
    // that lets a streaming writer share the batch oracle verbatim
    // (s13_upsert's SQL).
    graft.QueryDef(
      "st_lake_ingest",
      (spark, dir) => {
        val work = graft.TmpDirs.create("graft_st_lake").toString
        val root = s"$work/customer"
        graft.sources.Lake.commitVersion(
          spark, graft.Tables.customer(spark, dir), root)
        // stage the update fixture as the stream's landing zone
        graft.sources.Lake.updatesFixture(spark, dir)
          .write.mode("overwrite").parquet(s"$work/updates")
        val schema = spark.read.parquet(s"$work/updates").schema
        val q = spark.readStream.schema(schema).parquet(s"$work/updates")
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            graft.sources.Lake.appendDelta(batch.sparkSession, batch, root, "c_custkey")
            ()
          }
          .option("checkpointLocation", s"$work/cp")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        graft.sources.Lake.readResolved(spark, root, "c_custkey")
          .selectExpr("c_custkey", "c_name", "cast(c_nationkey AS int) AS c_nationkey",
            "cast(round(c_acctbal * 1000000, 0) AS bigint) AS bal_micros", "c_mktsegment")
      },
      Some(s"""
        WITH ${graft.sources.Lake.mergedOracle}
        SELECT c_custkey, c_name, c_nationkey::INT AS c_nationkey,
               CAST(round(c_acctbal * 1000000, 0) AS BIGINT) AS bal_micros,
               c_mktsegment
        FROM merged"""),
      bench = false),

    // --------- streaming incremental view maintenance (lake-backed)
    // s19's delta algebra running LIVE: the update stream lands in the
    // versioned store batch by batch, and a per-segment rollup view —
    // itself a Lake table, so every refresh is an atomic versioned
    // commit — updates from ONLY each micro-batch: displaced old rows
    // come from a broadcast key join against the base, per-segment
    // diffs merge into the stored view. O(batch) maintenance work per
    // trigger, never a table rescan; fixture keys are unique so each
    // key is displaced from the base exactly once and the final view
    // is independent of how the stream batched (the st_lake_ingest
    // determinism argument). The drained view must hash-equal the
    // full recompute — s19_incremental_agg's oracle verbatim.
    graft.QueryDef(
      "st_ivm",
      (spark, dir) => {
        import graft.sources.Lake
        val work = graft.TmpDirs.create("graft_st_ivm").toString
        val root = s"$work/customer"
        val viewRoot = s"$work/segment_view"
        Lake.commitVersion(spark, graft.Tables.customer(spark, dir), root)
        Lake.commitVersion(spark,
          Lake.readVersion(spark, root)
            .groupBy("c_mktsegment")
            .agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS n_rows"),
              org.apache.spark.sql.functions.expr(
                "cast(sum(cast(round(c_acctbal * 1000000, 0) AS bigint)) AS bigint) AS bal_micros")),
          viewRoot)
        Lake.updatesFixture(spark, dir)
          .write.mode("overwrite").parquet(s"$work/updates")
        val schema = spark.read.parquet(s"$work/updates").schema
        val q = spark.readStream.schema(schema)
          // several real micro-batches, so the view provably
          // accumulates ACROSS refreshes rather than being rebuilt by
          // one lucky all-in-one batch
          .option("maxFilesPerTrigger", "7")
          .parquet(s"$work/updates")
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            val s = batch.sparkSession
            import org.apache.spark.sql.functions.{broadcast, expr}
            val b = batch.fenced // one materialization, three consumers
            Lake.appendDelta(s, b, root, "c_custkey")
            val olds = Lake.readVersion(s, root, Some(0))
              .join(broadcast(b.select("c_custkey")), Seq("c_custkey"))
            val diffs = b
              .selectExpr("c_mktsegment", "1L AS dn",
                "cast(round(c_acctbal * 1000000, 0) AS bigint) AS db")
              .unionByName(olds.selectExpr("c_mktsegment", "-1L AS dn",
                "-cast(round(c_acctbal * 1000000, 0) AS bigint) AS db"))
              .groupBy("c_mktsegment")
              .agg(expr("cast(sum(dn) AS bigint) AS dn"),
                expr("cast(sum(db) AS bigint) AS db"))
            val refreshed = Lake.readVersion(s, viewRoot)
              .join(diffs, Seq("c_mktsegment"), "full_outer")
              .selectExpr("c_mktsegment",
                "coalesce(n_rows, 0L) + coalesce(dn, 0L) AS n_rows",
                "coalesce(bal_micros, 0L) + coalesce(db, 0L) AS bal_micros")
              .where("n_rows > 0")
              // materialize before the commit that supersedes our input
              .fenced
            Lake.commitVersion(s, refreshed, viewRoot)
            ()
          }
          .option("checkpointLocation", s"$work/cp")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        Lake.readVersion(spark, viewRoot)
      },
      Some(s"""
        WITH ${graft.sources.Lake.mergedOracle}
        SELECT c_mktsegment, count(*)::BIGINT AS n_rows,
               sum(CAST(round(c_acctbal * 1000000, 0) AS BIGINT))::BIGINT AS bal_micros
        FROM merged
        GROUP BY c_mktsegment"""),
      bench = false),

    // -------------- streaming SCD Type-2 dimension maintenance
    // ev_scd2 live: the warehouse dimension stays current as events
    // flow — per-user state is the one OPEN row, closed versions emit
    // exactly once (Append never revises). The open tail is flushed by
    // a per-user far-future sentinel event appended to the staged
    // source (the st_sessionize watermark-drag trick pointed at group
    // state); the batch side rewrites sentinel-closed rows to the
    // NULL-terminated open rows the batch operator emits, so the
    // drained table is row-identical to ev_scd2 and shares its oracle
    // verbatim.
    graft.QueryDef(
      "st_scd2",
      (spark, dir) => {
        import spark.implicits._
        val staged = stageDir(s"$dir/events.parquet")
        val raw = spark.read.parquet(staged)
        val sentinelTs = raw.schema("ts").dataType match {
          case LongType => "mts + 7200000000000L" // 2 h in nanos
          case _ => "mts + INTERVAL 2 HOURS"
        }
        raw.selectExpr("user_id").distinct()
          .crossJoin(raw.groupBy().agg(expr("max(ts) AS mts")))
          .selectExpr("-1L AS event_id", s"$sentinelTs AS ts", "user_id",
            "' sentinel' AS event_type", "0.0D AS value", "'' AS props")
          .write.mode("append").parquet(staged)
        val sentinelUs = graft.Tables.events(spark, dir)
          .groupBy().agg(expr("max(unix_micros(ts)) + 7200000000L AS s"))
          .collect()(0).getLong(0)
        val src = eventsStreamFrom(spark, staged)
          .selectExpr("user_id", "event_id", "event_type", "unix_micros(ts) AS ts_us")
          .as[Scd2Point]
        drain(scd2Stream(spark, src),
          "user_id BIGINT, event_type STRING, valid_from_us BIGINT, " +
            "valid_to_us BIGINT, version BIGINT")
          .selectExpr("user_id", "event_type", "valid_from_us",
            s"CASE WHEN valid_to_us = ${sentinelUs}L THEN cast(null AS bigint) " +
              "ELSE valid_to_us END AS valid_to_us",
            "version")
      },
      Some(graft.operators.Events.scd2OracleSql),
      bench = false)
    // every streaming twin carries streamBench = true: the stateful
    // timing lane (Bench's SPARK_GRAFT_STREAM_BENCH mode) derives its
    // membership from this flag, so a newly added twin is timed by
    // construction — the r13 gap was a hardcoded 9-name list that left
    // st_holt and 10 other state-store paths without any timed row.
  ).map(_.copy(streamBench = true))
}
