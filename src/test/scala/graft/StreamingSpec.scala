package graft

import graft.streaming.Streaming
import graft.streaming.Streaming.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming tests: checkpoint-resumable chunk ingest
  * (P1/P2 analog), watermarked windowed aggregation parity with the
  * batch twin, stateful sessionization.
  */
class StreamingSpec extends SparkSpec {

  private def tmp(): String = SparkSpec.tmpDir("graft_stream").toString

  test("st_kmeans_score: drained per-vector assignments fold to exactly ml_kmeans' cluster rows") {
    val sf = "/root/testdata/sf0.001"
    val streamed = Registry.byName("st_kmeans_score").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val folded = streamed.groupBy(_._2).map { case (c, rows) =>
      (c, rows.length.toLong, rows.map(_._1).sum, rows.map(r => BigInt(r._3)).sum)
    }.toSet
    val batch = Registry.byName("ml_kmeans").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        BigInt(r.getLong(3)) * BigInt(10).pow(18) + r.getLong(4))).toSet
    assert(folded == batch,
      "streamed assignments must aggregate to the batch trainer's cluster accounting")
    // every vector streams exactly once
    assert(streamed.map(_._1).distinct.length == streamed.length)
  }

  test("topKStream: bounded per-query heap improves across micro-batches, O(k) state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double)]
    val ranked = Streaming.topKStream(
      input.toDS().map(r => Streaming.ScoredDoc(r._1, r._2, r._3)), k = 2)
    val q = ranked.writeStream.format("memory").queryName("topk_stream")
      .outputMode("update").start()
    try {
      // batch 1: three candidates for query 1 → top-2 kept
      input.addData((1L, 10L, 0.30), (1L, 11L, 0.90), (1L, 12L, 0.50))
      q.processAllAvailable()
      val first = spark.table("topk_stream").collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("doc_id"), r.getAs[Int]("rank"))).toSet
      assert(first == Set((1L, 11L, 1), (1L, 12L, 2)))
      // batch 2: a better candidate displaces doc 12; an unrelated
      // query starts its own heap; a non-improving candidate is silent
      input.addData((1L, 13L, 0.70), (1L, 14L, 0.10), (2L, 20L, 0.40))
      q.processAllAvailable()
      val rows = spark.table("topk_stream").collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("doc_id"), r.getAs[Int]("rank")))
      // last emission for query 1 must be (11 → 1, 13 → 2): doc 12 displaced
      val q1Last = rows.filter(_._1 == 1L).takeRight(2).toSet
      assert(q1Last == Set((1L, 11L, 1), (1L, 13L, 2)))
      assert(rows.filter(_._1 == 2L).toSet == Set((2L, 20L, 1)))
    } finally q.stop()
  }

  test("topKStream composes with stream-static scoring (streaming ANN end to end)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val queries = Seq((1L, Seq(1.0f, 0.0f))).toDF("q_id", "q_emb")
    val input = MemoryStream[(Long, Seq[Float])]
    val scored = Streaming.scoreAgainstQueries(
      input.toDF().toDF("doc_id", "embedding"), queries)
    val q = Streaming.topKStream(scored, k = 2)
      .writeStream.format("memory").queryName("topk_ann")
      .outputMode("update").start()
    try {
      input.addData((100L, Seq(0.9f, 0.1f)), (101L, Seq(0.0f, 1.0f)), (102L, Seq(0.7f, 0.7f)))
      q.processAllAvailable()
      val last = spark.table("topk_ann").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank"))).takeRight(2).toSet
      assert(last == Set((100L, 1), (102L, 2))) // cosine order vs (1,0)
    } finally q.stop()
  }

  test("chunkIngest: file-stream chunking matches batch; checkpoint skips processed files") {
    import spark.implicits._
    val in = tmp() + "/in"
    val out = tmp() + "/out"
    val ck = tmp() + "/ck"

    val batch1 = Seq(
      (1L, "a short doc that fits in one chunk easily", "en", "s1", 41L),
      (2L, "x" * 950, "en", "s2", 950L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    batch1.write.mode("append").parquet(in)

    Streaming.chunkIngest(spark, in, out, ck).awaitTermination()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst == 4) // doc1: 1 chunk; doc2 (950 chars): 500 + 500 + trailing 50 = 3 chunks

    // second batch: a new file arrives; re-running with the SAME
    // checkpoint must process ONLY the new file (no duplicates)
    Seq((3L, "another single-chunk document arrives later", "en", "s3", 44L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(in)
    Streaming.chunkIngest(spark, in, out, ck).awaitTermination()
    val afterSecond = spark.read.parquet(out)
    assert(afterSecond.count() == afterFirst + 1)
    assert(afterSecond.where("doc_id = 1").count() == 1) // not reprocessed
  }

  test("dedupIngest: duplicates dropped within AND across micro-batches via state") {
    import spark.implicits._
    val in = tmp() + "/in"
    val out = tmp() + "/out"
    val ck = tmp() + "/ck"

    // batch 1: doc 2 duplicates doc 1 after whitespace normalization
    Seq(
      (1L, "same text here", "en", "s1", 14L),
      (2L, "  same   text here ", "en", "s2", 19L),
      (3L, "a different document", "en", "s3", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(in)
    Streaming.dedupIngest(spark, in, out, ck).awaitTermination()
    val first = spark.read.parquet(out)
    assert(first.count() == 2)
    assert(first.select("text_hash").distinct().count() == 2)

    // batch 2: another copy of doc 1's text (cross-batch dup — only the
    // state store can catch it) plus one genuinely new doc
    Seq(
      (4L, "same text here", "en", "s4", 14L),
      (5L, "brand new content", "en", "s5", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(in)
    Streaming.dedupIngest(spark, in, out, ck).awaitTermination()
    val second = spark.read.parquet(out)
    assert(second.count() == 3) // doc 4 deduped against batch-1 state
    assert(second.where("doc_id = 4").count() == 0)
    assert(second.where("doc_id = 5").count() == 1)

    // parity: streaming result = batch dd_exact keep-count on the union
    val all = spark.read.parquet(in)
    val batchDistinct = all.selectExpr(
        "md5(regexp_replace(regexp_replace(text, '\\\\s{2,}', ' '), '^\\\\s+|\\\\s+$', '')) AS h")
      .distinct().count()
    assert(second.count() == batchDistinct)
  }

  test("dedupDocumentsBounded: dup within watermark dropped, state bounded by horizon") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, String)]
    val deduped = Streaming.dedupDocumentsBounded(
      input.toDF().toDF("ts", "doc_id", "lang", "text"), "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_bounded")
      .outputMode("append").start()
    try {
      val base = 1700000000L
      def t(sec: Long) = new Timestamp((base + sec) * 1000L)
      // batch 1: original + in-window duplicate
      input.addData((t(0), 1L, "en", "same text"), (t(60), 2L, "en", "same  text"))
      q.processAllAvailable()
      // batch 2: another duplicate still within the 10-min window
      input.addData((t(300), 3L, "en", "same text"))
      q.processAllAvailable()
      val got = spark.table("dedup_bounded").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == Set(1L), s"expected only the first copy, got $got")
    } finally q.stop()
  }

  test("semanticDedupStream: cross-batch state matches the batch semdedup verdicts") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val cents = Tables.embeddings(spark, sf).where("vec_id < 8")
      .selectExpr("vec_id AS cent_id", "embedding AS cent_emb")
    val all = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "embedding", "label").collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq, r.getAs[Int]("label")))
      .sortBy(_._1)
    val input = MemoryStream[(Long, Seq[Float], Int)]
    val verdicts = Streaming.semanticDedupStream(
      spark, input.toDF().toDF("vec_id", "embedding", "label"), cents)
    val q = verdicts.writeStream.format("memory").queryName("sem_stream")
      .outputMode("append").start()
    try {
      // two batches split mid-corpus: later vectors must be judged
      // against batch-1 state, not just their own batch
      val (b1, b2) = all.splitAt(all.length / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val got = spark.table("sem_stream").collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept")).toMap
      val batch = graft.operators.Curation.queries.find(_.name == "tp_semdedup").get
        .run(spark, sf).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept")).toMap
      assert(got.size == batch.size)
      assert(got == batch, {
        val diff = got.keySet.filter(k => got(k) != batch(k))
        s"verdicts diverge on ${diff.size} vectors: ${diff.take(5)}"
      })
    } finally q.stop()
  }

  test("funnelStream: stage state crosses batches; timeout closes dead chains for good") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val hour = 3600L * 1000
    def ev(u: Long, t: String, ms: Long) =
      Streaming.FunnelEvent(u, t, new java.sql.Timestamp(ms))
    val input = MemoryStream[Streaming.FunnelEvent]
    val hits = Streaming.funnelStream(
      input.toDS().withWatermark("ts", "0 seconds").as[Streaming.FunnelEvent])
    val q = hits.writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    try {
      def got() = spark.table("funnel_stream").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("stage"))).toSet
      // batch 1: user 1 signs up and views in-window; user 2 signs up only
      input.addData(ev(1, "signup", hour), ev(1, "view", 2 * hour), ev(2, "signup", hour))
      q.processAllAvailable()
      assert(got() == Set((1L, 1), (1L, 2), (2L, 1)))
      // batch 2: user 1 purchases within 24h of the view — stage 3
      // fires from state carried ACROSS the batch boundary
      input.addData(ev(1, "purchase", 20 * hour))
      q.processAllAvailable()
      assert(got() == Set((1L, 1), (1L, 2), (1L, 3), (2L, 1)))
      // batch 3: advance the watermark far past user 2's view deadline
      // (signup + 24h) so the event-time timeout compacts the chain
      input.addData(ev(99, "signup", 100 * hour))
      q.processAllAvailable()
      // batch 4: user 2's late view (outside the window) and a SECOND
      // signup — a closed chain must not reopen (the batch definition
      // pins the first signup), and user 1's completed chain must not
      // re-emit on another purchase
      input.addData(ev(2, "view", 100 * hour), ev(2, "signup", 101 * hour),
        ev(1, "purchase", 101 * hour))
      q.processAllAvailable()
      assert(got() == Set((1L, 1), (1L, 2), (1L, 3), (2L, 1), (99L, 1)))
    } finally q.stop()
  }

  test("ewmaStream: the smoothing state carries across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // one user, six time-ordered points split 3/3: batch-2 rows must
    // continue from batch-1's (count, s), not restart at s = v
    val pts = Seq(1000000L, 2000000L, 500000L, 3000000L, 250000L, 4000000L)
      .zipWithIndex.map { case (v, i) => (7L, 100L + i, 1000L * i, v) }
    val input = MemoryStream[(Long, Long, Long, Long)]
    val scored = Streaming.ewmaStream(
      spark, input.toDF().toDF("user_id", "event_id", "ts_us", "v"))
    val q = scored.writeStream.format("memory").queryName("ewma_stream")
      .outputMode("append").start()
    try {
      val (b1, b2) = pts.splitAt(3)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val got = spark.table("ewma_stream").collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("ewma_micros")).toMap
      // sequential reference fold over the full ordered series
      var s = 0L
      val want = pts.zipWithIndex.map { case ((_, eid, _, v), i) =>
        s = if (i == 0) v else (300L * v + 700L * s) / 1000L
        eid -> s
      }.toMap
      assert(got == want, s"streamed EWMA diverged: got $got want $want")
    } finally q.stop()
  }

  test("holtStream: level and trend carry across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // one user, a falling series split 3/3: batch 2 must continue from
    // batch 1's (l, b), and the negative trend exercises truncation
    val pts = Seq(4000000L, 3500001L, 3000003L, 2400007L, 1900011L, 1200013L)
      .zipWithIndex.map { case (v, i) => (8L, 150L + i, 1000L * i, v) }
    val input = MemoryStream[(Long, Long, Long, Long)]
    val scored = Streaming.holtStream(
      spark, input.toDF().toDF("user_id", "event_id", "ts_us", "v"))
    val q = scored.writeStream.format("memory").queryName("holt_stream")
      .outputMode("append").start()
    try {
      val (b1, b2) = pts.splitAt(3)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val got = spark.table("holt_stream").collect()
        .map(r => r.getAs[Long]("event_id") ->
          (r.getAs[Long]("rn"), r.getAs[Long]("level_micros"), r.getAs[Long]("trend_micros")))
        .toMap
      // sequential reference fold over the full ordered series
      var l = 0L; var b = 0L
      val want = pts.zipWithIndex.map { case ((_, eid, _, v), i) =>
        if (i == 0) { l = v; b = 0L }
        else {
          val lNew = (300L * v + 700L * (l + b)) / 1000L
          b = (200L * (lNew - l) + 800L * b) / 1000L
          l = lNew
        }
        eid -> (i + 1L, l, b)
      }.toMap
      assert(got == want, s"streamed Holt diverged: got $got want $want")
      assert(want.values.exists(_._3 < 0L), "the series must drive the trend negative")
    } finally q.stop()
  }

  test("ewmaResidStream: the residual state carries across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // one user split 2/4: batch 2's first residual is against batch 1's
    // last level, not a restarted 0
    val pts = Seq(1000000L, 2000000L, 500000L, 3000000L, 250000L, 4000000L)
      .zipWithIndex.map { case (v, i) => (6L, 400L + i, 1000L * i, v) }
    val input = MemoryStream[(Long, Long, Long, Long)]
    val resid = Streaming.ewmaResidStream(
      spark, input.toDF().toDF("user_id", "event_id", "ts_us", "v"))
    val q = resid.writeStream.format("memory").queryName("ewma_resid_stream")
      .outputMode("append").start()
    try {
      val (b1, b2) = pts.splitAt(2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val got = spark.table("ewma_resid_stream").collect()
        .map(r => r.getAs[Long]("event_id") -> (r.getAs[Long]("rn"), r.getAs[Long]("resid_micros")))
        .toMap
      var s = 0L
      val want = pts.zipWithIndex.map { case ((_, eid, _, v), i) =>
        val r = if (i == 0) 0L else v - s
        s = if (i == 0) v else (300L * v + 700L * s) / 1000L
        eid -> (i + 1L, r)
      }.toMap
      assert(got == want, s"streamed residuals diverged: got $got want $want")
    } finally q.stop()
  }

  test("cusumStream: S+/S- carry across batches and reset after an alarm") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // μ = 1_000_000 rides in every row (the stream-static join's
    // contract); the series drifts high enough that the 2μ decision
    // interval fires mid-stream, and the points split 3/3 so the
    // post-alarm reset must carry across the batch boundary
    val mu = 1000000L
    val vs = Seq(1000000L, 2500000L, 3000000L, 3000000L, 900000L, 3200000L)
    val pts = vs.zipWithIndex.map { case (v, i) => (9L, 200L + i, 1000L * i, v, mu) }
    val input = MemoryStream[(Long, Long, Long, Long, Long)]
    val scored = Streaming.cusumStream(
      spark, input.toDF().toDF("user_id", "event_id", "ts_us", "v", "mu")
        .as[Streaming.CusumPoint])
    val q = scored.writeStream.format("memory").queryName("cusum_stream")
      .outputMode("append").start()
    try {
      val (b1, b2) = pts.splitAt(3)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val got = spark.table("cusum_stream").collect()
        .map(r => r.getAs[Long]("event_id") ->
          (r.getAs[Long]("sp_micros"), r.getAs[Long]("sm_micros"),
            r.getAs[Boolean]("alarm"))).toMap
      var spc = 0L; var smc = 0L
      val want = pts.map { case (_, eid, _, v, m) =>
        val (sp, sm, alarm, sp2, sm2) = operators.Events.cusumStep(m, v, spc, smc)
        spc = sp2; smc = sm2
        eid -> (sp, sm, alarm)
      }.toMap
      assert(got == want, s"streamed CUSUM diverged: got $got want $want")
      assert(want.values.exists(_._3), "fixture should trip at least one alarm")
    } finally q.stop()
  }

  test("nearDupPairsStream: LSH-bucket state finds pairs within and across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val text = (1 to 24).map(i => s"word$i").mkString(" ")
    val other = (1 to 24).map(i => s"zzz$i").mkString(" ")
    val input = MemoryStream[(Long, String)]
    val pairs = Streaming.nearDupPairsStream(spark, input.toDF().toDF("doc_id", "text"))
    val q = pairs.writeStream.format("memory").queryName("near_dup_pairs")
      .outputMode("append").start()
    try {
      // batch 1: docs 1 and 2 identical, doc 3 unrelated
      input.addData((1L, text), (2L, text), (3L, other))
      q.processAllAvailable()
      val afterFirst = spark.table("near_dup_pairs")
        .select("doc_a", "doc_b").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterFirst == Set((1L, 2L)))
      // batch 2: doc 4 duplicates doc 1 — both pairs only findable
      // through the band-bucket STATE from batch 1
      input.addData((4L, text))
      q.processAllAvailable()
      val got = spark.table("near_dup_pairs")
        .select("doc_a", "doc_b", "jaccard").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == Set((1L, 2L, 1.0), (1L, 4L, 1.0), (2L, 4L, 1.0)))
    } finally q.stop()
  }

  test("enrichStream: stream-static broadcast join, batch parity, keeps unmatched rows") {
    import spark.implicits._
    val in = tmp() + "/in"
    val out = tmp() + "/out"
    val ck = tmp() + "/ck"
    Seq(
      (1L, "alpha text", "en", "s1", 10L),
      (2L, "beta text", "fr", "s2", 9L),
      (3L, "gamma text", "xx", "s3", 10L)) // 'xx' has no dim row
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(in)
    val dim = Seq(("en", "english"), ("fr", "french")).toDF("lang", "lang_name")

    val q = Streaming.enrichStream(
        spark.readStream.schema(Streaming.documentsSchema).parquet(in), dim, "lang")
      .select("doc_id", "lang", "lang_name")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), Option(r.getString(2)))).toMap
    assert(got == Map(1L -> Some("english"), 2L -> Some("french"), 3L -> None))
    // parity with the batch plan
    val batch = Streaming.enrichStream(spark.read.parquet(in), dim, "lang")
      .select("doc_id", "lang", "lang_name").collect()
      .map(r => (r.getLong(0), Option(r.getString(2)))).toMap
    assert(batch == got)
  }

  test("intervalJoinStream: cross-batch matches found, batch parity, window respected") {
    import spark.implicits._
    val in1 = tmp() + "/clicks"
    val in2 = tmp() + "/views"
    val out = tmp() + "/out"
    val ck = tmp() + "/ck"
    def ev(id: Long, minute: Int, user: Long, typ: String) =
      (id, java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), user, typ, 1.0, "{}")
    // user 1: view at 10:00, click at 10:20 (match) and 10:55 (outside 30m)
    // user 2: view at 10:10 in a SEPARATE file (second micro-batch) —
    //         its click arrives in batch 1, the match must still emit
    Seq(ev(1, 0, 1, "view"), ev(2, 20, 1, "click"), ev(3, 55, 1, "click"),
        ev(4, 15, 2, "click"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(in1)
    Seq(ev(5, 10, 2, "view"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(in2)
    def src(dir: String) = spark.readStream
      .schema(Streaming.eventsSchema).option("maxFilesPerTrigger", "1").parquet(dir)
    val joined = Streaming.intervalJoinStream(
      src(in1).unionByName(src(in2)).where("event_type = 'click'"),
      src(in1).unionByName(src(in2)).where("event_type = 'view'"))
    val q = joined.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("l_id"), r.getAs[Long]("r_id"))).toSet
    // click 2 ⋈ view 1 (20 min gap); click 4 ⋈ view 5 (5 min, across files);
    // click 3 matches nothing (55 min > 30)
    assert(got == Set((2L, 1L), (4L, 5L)), s"got $got")
    // batch parity
    val all = spark.read.parquet(in1).unionByName(spark.read.parquet(in2))
    val batch = Streaming.intervalJoinStream(
        all.where("event_type = 'click'"), all.where("event_type = 'view'"))
      .collect().map(r => (r.getAs[Long]("l_id"), r.getAs[Long]("r_id"))).toSet
    assert(batch == got)
  }

  test("windowedEventCounts: streaming aggregation equals the batch plan") {
    import spark.implicits._
    val dir = tmp() + "/events"
    val base = 1700000000L // seconds
    val rows = (0 until 100).map { i =>
      (i.toLong, new Timestamp((base + i * 137) * 1000L), (i % 7).toLong,
        Seq("click", "view", "purchase")(i % 3), i * 0.5, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(dir)

    val stream = spark.readStream.schema(Streaming.eventsSchema).parquet(dir)
    val q = Streaming.windowedEventCounts(stream)
      .writeStream.format("memory").queryName("win_test")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.table("win_test")
      .select("window_start", "event_type", "n_events", "sum_value")
      .collect().map(_.toSeq).toSet
    val batch = spark.read.parquet(dir)
      .groupBy(expr("cast(date_trunc('HOUR', ts) AS long)").as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("watermark drops data later than 1 hour behind the max event time") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streaming.Event]
    val q = Streaming.windowedEventCounts(
        mem.toDS().toDF())
      .writeStream.format("memory").queryName("late_test")
      .outputMode("append")
      .start()

    def ev(id: Long, sec: Long) =
      Streaming.Event(id, new Timestamp(sec * 1000L), 1L, "click", 1.0)

    val t0 = 1700000000L // on an hour-ish boundary region
    mem.addData(ev(1, t0), ev(2, t0 + 60))
    q.processAllAvailable()
    // advance event time far enough that the first window closes
    // (watermark = max(ts) - 1h must pass the first window's end)
    mem.addData(ev(3, t0 + 3 * 3600))
    q.processAllAvailable()
    // this event is ~3h behind the watermark → must be DROPPED
    mem.addData(ev(4, t0 + 120))
    q.processAllAvailable()
    // close everything out
    mem.addData(ev(5, t0 + 6 * 3600))
    q.processAllAvailable()

    val w0 = t0 - (t0 % 3600)
    val w0Rows = spark.table("late_test")
      .select("window_start", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._1 == w0)
    // first window emitted ONCE with ONLY the 2 on-time events — the
    // late arrival (id 4) neither reopened nor augmented it
    assert(w0Rows.toSeq == Seq((w0, 2L)))
    q.stop()
  }

  test("sessionize agrees with the batch window formulation on real events data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val events = Tables.events(spark, sf)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Streaming.Event].collect().toSeq

    // feed all events, then a per-user far-future flush event so every
    // real session closes and is emitted
    val mem = MemoryStream[Streaming.Event]
    val q = Streaming.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sess_parity")
      .outputMode("append").start()
    mem.addData(events: _*)
    q.processAllAvailable()
    val maxTs = events.map(_.ts.getTime).max
    val flush = events.map(_.user_id).distinct.zipWithIndex.map { case (u, i) =>
      Streaming.Event(1000000L + i, new java.sql.Timestamp(maxTs + 10L * 3600 * 1000), u, "flush", 0.0)
    }
    mem.addData(flush: _*)
    q.processAllAvailable()

    val streamed = spark.table("sess_parity")
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect().map(_.toSeq).toSet

    // batch twin: the oracle-checked ev_sessionize projection
    val batch = Registry.byName("ev_sessionize").run(spark, sf)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect().map(_.toSeq).toSet

    assert(streamed == batch)
    assert(streamed.size > 100) // real corpus: hundreds of sessions
    q.stop()
  }

  test("st_sessionize gate survives the long-nanos events vintage (typed sentinel)") {
    // The driver's events parquet has shipped with ts as TIMESTAMP(NANOS)
    // read-as-long in prior rounds; the gate query's watermark sentinel
    // must then be a LONG nanos add, not a bigint+interval (analysis
    // error) — this drives the whole gate path on that vintage.
    import spark.implicits._
    val t0 = 1700000000L
    def ns(sec: Long) = sec * 1000000000L
    val rows = Seq(
      (1L, ns(t0), 1L, "click", 1.0, ""),
      (2L, ns(t0 + 60), 1L, "click", 1.0, ""),
      (3L, ns(t0 + 2400), 1L, "click", 1.0, ""), // 39 min gap → new session
      (4L, ns(t0), 2L, "view", 1.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = SparkSpec.tmpDir("graft_vintage").toString
    rows.repartition(1).write.parquet(s"$out/w")
    val part = new java.io.File(s"$out/w").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(s"$out/events.parquet"))
    val res = Registry.byName("st_sessionize").run(spark, out)
      .select("user_id", "session_id", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(res == Set((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("sessionize: 30-min gaps close sessions across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streaming.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sess_test")
      .outputMode("append")
      .start()

    def ev(id: Long, user: Long, sec: Long) =
      Event(id, new Timestamp(sec * 1000L), user, "click", 1.0)

    val t0 = 1700000000L
    // batch 1: user 1 has a 3-event burst
    mem.addData(ev(1, 1, t0), ev(2, 1, t0 + 60), ev(3, 1, t0 + 120))
    q.processAllAvailable()
    // batch 2: 45 min later — the previous session must close and emit
    mem.addData(ev(4, 1, t0 + 2820))
    q.processAllAvailable()

    val sessions = spark.table("sess_test").as[Streaming.SessionOut].collect()
    assert(sessions.length == 1)
    val s = sessions.head
    assert(s.user_id == 1L)
    assert(s.n_events == 3L)
    assert(s.session_start_us == t0 * 1000000L)
    assert(s.session_end_us == (t0 + 120) * 1000000L)
    q.stop()
  }
  test("scd2Stream: open-row state carries across batches; closes emit exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // one user, type runs A A B B A split 3/2: the B->A change sits in
    // batch 2 and must close the B version opened in batch 1
    val pts = Seq("A", "A", "B", "B", "A")
      .zipWithIndex.map { case (t, i) => (5L, 300L + i, t, 1000L * i) }
    val input = MemoryStream[(Long, Long, String, Long)]
    val rows = Streaming.scd2Stream(
      spark, input.toDF().toDF("user_id", "event_id", "event_type", "ts_us")
        .as[Streaming.Scd2Point])
    val q = rows.writeStream.format("memory").queryName("scd2_stream")
      .outputMode("append").start()
    try {
      val (b1, b2) = pts.splitAt(3)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val got = spark.table("scd2_stream").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("valid_from_us"),
          r.getAs[Long]("valid_to_us"), r.getAs[Long]("version"))).toSet
      // closed versions only: A [0, 2000) v1, B [2000, 4000) v2;
      // the final A run stays open in state and must NOT have emitted
      assert(got == Set(("A", 0L, 2000L, 1L), ("B", 2000L, 4000L, 2L)),
        s"streamed SCD2 closes diverged: $got")
    } finally q.stop()
  }

}
