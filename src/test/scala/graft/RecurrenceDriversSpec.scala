package graft

import graft.operators.Events
import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Every per-key recurrence the batch folds share with a streaming twin,
  * fed through both drivers over one crafted events table: the batch
  * operator (secondary-sort fold over the user_id exchange) and the
  * state-store fold over three micro-batches must emit the same rows.
  * The table has a one-event user, users whose rows sit in several
  * input files and every micro-batch, equal `ts_us` broken by
  * `event_id`, a falling series whose Holt trend goes negative where
  * truncating `/` and `floorDiv` differ, a CUSUM alarm, an anomaly flag
  * and SCD2 type changes.
  */
class RecurrenceDriversSpec extends SparkSpec {

  private val hour = 3600000000L
  private val t0 = 1704067200000000L // 2024-01-01 00:00:00 UTC

  /** (event_id, ts_us, user_id, event_type, value) */
  private lazy val crafted: Seq[(Long, Long, Long, String, Double)] = {
    val one = Seq((1L, t0 + 5 * hour, 1L, "view", 12.5))
    // falling series; events 23 and 22 share a ts and arrive id-descending
    val falling = Seq(90.5, 80.123457, 71.000001, 60.5, 52.25, 41.0, 33.3, 20.1)
      .zipWithIndex.map { case (v, i) =>
        val ts = if (i == 3) t0 + 2 * hour else t0 + i * hour
        (20L + (if (i == 2) 3 else if (i == 3) 2 else i), ts, 2L, "view", v)
      }
    // stable, a sustained jump, stable again: CUSUM alarms, the jump flags
    val jump = Seq(10.0, 10.0, 10.000001, 9.999999, 10.0, 10.0, 80.0, 85.0, 90.0,
      10.0, 10.0, 10.0, 10.0, 10.0)
      .zipWithIndex.map { case (v, i) => (40L + i, t0 + i * hour + 7, 3L, "click", v) }
    val types = Seq("view", "view", "click", "click", "view", "purchase", "purchase")
      .zipWithIndex.map { case (t, i) => (60L + i, t0 + i * hour + 11, 4L, t, 1.0 + i) }
    // pseudo-random users spread over all micro-batches
    var x = 12345L
    def next(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L); (x >>> 33) }
    val rest = for (u <- 5L to 14L; k <- 0 until 6) yield {
      val ts = t0 + (next() % 8) * hour + (next() % 3)
      (100L * u + k, ts, u, Seq("view", "click", "purchase")((next() % 3).toInt),
        (next() % 100000000L) / 1000000.0)
    }
    one ++ falling ++ jump ++ types ++ rest
  }

  private lazy val dir: String = {
    import spark.implicits._
    val d = SparkSpec.tmpDir("graft_recur").toString
    crafted.toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .selectExpr("event_id", "timestamp_micros(ts_us) AS ts", "user_id", "event_type",
        "value", "'' AS props")
      .repartition(3)
      .write.parquet(s"$d/events.parquet")
    d
  }

  /** (user_id, event_id, ts_us, v) points, as the batch folds read them. */
  private lazy val points: Seq[(Long, Long, Long, Long)] = {
    import spark.implicits._
    Events.eventPoints(Tables.events(spark, dir)).as[(Long, Long, Long, Long)].collect().toSeq
  }

  /** `rows` in three micro-batches cut at time bounds (so each user's
    * rows arrive in order across batches), each batch reversed.
    */
  private def microBatches[A](rows: Seq[A])(ts: A => Long): Seq[Seq[A]] = {
    val cuts = Seq(Long.MinValue, t0 + 2 * hour, t0 + 5 * hour, Long.MaxValue)
    cuts.sliding(2).map { case Seq(lo, hi) =>
      rows.filter(r => ts(r) >= lo && ts(r) < hi).sortBy(ts).reverse
    }.toSeq
  }

  /** Drain `fold` over `batches` fed through a memory stream. */
  private def streamed[A: Encoder](name: String, batches: Seq[Seq[A]])(
      fold: DataFrame => Dataset[_]): Seq[List[Any]] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[A]
    val q = fold(input.toDF()).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      sorted(spark.table(name).collect())
    } finally q.stop()
  }

  private def sorted(rows: Array[Row]): Seq[List[Any]] =
    rows.map(_.toSeq.toList).toSeq.sortBy(_.mkString(","))

  private def batch(name: String): Seq[List[Any]] =
    sorted(Registry.byName(name).run(spark, dir).collect())

  private def pointBatches = microBatches(points)(_._3)

  test("the crafted input straddles files and micro-batches and ties on ts_us") {
    assert(new java.io.File(s"$dir/events.parquet").list().count(_.endsWith(".parquet")) > 1)
    val perUser = pointBatches.map(_.map(_._1).toSet)
    assert(perUser.forall(_.contains(2L)) && perUser.forall(_.contains(3L)), perUser)
    assert(points.count(_._1 == 1L) == 1)
    assert(points.groupBy(p => (p._1, p._3)).exists(_._2.size > 1), "no equal ts_us pair")
  }

  test("EWMA: ev_ewma equals ewmaStream") {
    import spark.implicits._
    val b = batch("ev_ewma")
    val s = streamed("recur_ewma", pointBatches)(df =>
      Streaming.ewmaStream(spark, df.toDF("user_id", "event_id", "ts_us", "v")))
    assert(b.size == points.size)
    assert(s == b)
  }

  test("EWMA residuals: ewmaResidStream equals the residuals of ev_ewma, and both flag alike") {
    val ewma = batch("ev_ewma").map {
      case List(u: Long, e: Long, rn: Long, v: Long, s: Long) => (u, e, rn, v, s)
      case r => fail(s"unexpected ev_ewma row $r")
    }
    val level = ewma.map(r => (r._1, r._3) -> r._5).toMap
    val want = ewma.map { case (u, e, rn, v, _) =>
      List[Any](u, e, rn, v, if (rn == 1L) 0L else v - level((u, rn - 1L)))
    }.sortBy(_.mkString(","))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Long, Long, Long)]
    val q = Streaming.ewmaResidStream(spark, input.toDF().toDF("user_id", "event_id", "ts_us", "v"))
      .writeStream.format("memory").queryName("recur_resid").outputMode("append").start()
    try {
      pointBatches.foreach { b => input.addData(b); q.processAllAvailable() }
      val resid = spark.table("recur_resid")
      assert(sorted(resid.collect()) == want)
      val flags = sorted(Events.anomalyFlags(resid).collect())
      assert(flags.nonEmpty, "the crafted jump must flag")
      assert(flags == batch("ev_anomaly"))
    } finally q.stop()
  }

  test("Holt: ev_holt equals holtStream, through a negative trend where / and floorDiv differ") {
    import spark.implicits._
    val b = batch("ev_holt")
    val s = streamed("recur_holt", pointBatches)(df =>
      Streaming.holtStream(spark, df.toDF("user_id", "event_id", "ts_us", "v")))
    assert(s == b)
    // user 2's trend numerators: some negative one is not a multiple of 1000
    val u2 = b.collect { case List(2L, _, rn: Long, _, l: Long, t: Long, _) => (rn, l, t) }
      .sortBy(_._1)
    val nums = u2.sliding(2).collect { case Seq((_, l0, b0), (_, l1, _)) => 200L * (l1 - l0) + 800L * b0 }
    assert(nums.exists(n => n < 0L && n / 1000L != Math.floorDiv(n, 1000L)), u2)
  }

  test("CUSUM: ev_cusum equals cusumStream") {
    import spark.implicits._
    val mu = points.groupBy(_._1).map { case (u, ps) => u -> ps.map(_._4).sum / ps.size }
    val cusumPoints = points.map { case (u, e, ts, v) => (u, e, ts, v, mu(u)) }
    val b = batch("ev_cusum")
    val s = streamed("recur_cusum", microBatches(cusumPoints)(_._3))(df =>
      Streaming.cusumStream(spark,
        df.toDF("user_id", "event_id", "ts_us", "v", "mu").as[Streaming.CusumPoint]))
    assert(s == b)
    assert(b.exists(_(7) == true), "the crafted jump must raise an alarm")
  }

  test("SCD2: scd2Stream's closed versions equal ev_scd2's") {
    import spark.implicits._
    val scdPoints = Tables.events(spark, dir)
      .selectExpr("user_id", "event_id", "event_type", "unix_micros(ts) AS ts_us")
      .as[(Long, Long, String, Long)].collect().toSeq
    val s = streamed("recur_scd2", microBatches(scdPoints)(_._4))(df =>
      Streaming.scd2Stream(spark,
        df.toDF("user_id", "event_id", "event_type", "ts_us").as[Streaming.Scd2Point]))
    val closed = batch("ev_scd2").filter(_(3) != null)
    assert(closed.exists(_.head == 4L))
    assert(s == closed)
  }
}
