package perfbench

import graft.{GraftSession, Pipeline, Registry}
import graft.operators.Qa
import graft.sources.ChunkStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import scala.collection.mutable

/** JVM side of the benchmark: sets up one workload, runs its closed
  * loop (one client, no extra threads) for the measurement window,
  * checks what it can check only in the JVM, and writes every raw
  * sample to a JSON file that `perfbench/run.py` turns into metrics.
  *
  * It drives the engine only through its public entry points:
  * `Pipeline`, `Qa` / `ChunkStore`, `Registry` / `QueryDef.run` and
  * `GraftSession`.
  *
  * Usage: perfbench.Harness <workload> <inputDir> <workDir> <seconds>
  *        <trace 0|1> <outFile> <spawnEpochMs> <budgetSeconds>
  *
  * The budget bounds the whole JVM from its spawn: no operation runs
  * into the part of it kept for the checks, so a slow or hung operation
  * ends as a timeout failure and the run still writes every sample.
  */
object Harness {
  final case class Op(id: String, kind: String, name: String, pass: Int,
                      start: Double, var end: Double = Double.NaN,
                      var ok: Boolean = true, var error: String = "",
                      var traced: Boolean = false,
                      result: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty) {
    def wallMs: Double = end - start
    def toJson: Any = Map("id" -> id, "kind" -> kind, "name" -> name, "pass" -> pass,
      "start" -> start, "end" -> end, "wall_ms" -> wallMs, "ok" -> ok, "error" -> error,
      "traced" -> traced, "result" -> result.toMap)
  }

  /** An operation still running after this long is cancelled and fails (timeout). */
  val OpTimeoutMs = 60000.0
  /** How long a cancelled operation may take to unwind before it is abandoned. */
  val CancelGraceMs = 10000L
  /** Part of the budget kept for the checks and the output after the last operation. */
  val TailMs = 15000.0
  /** A unit of work (an answer, a pass) starts only if this long, or 1.5x
    * the longest unit so far, remains before the hard stop.
    */
  val LastStartMs = 10000.0

  /** Epoch ms after which no operation runs; set from the budget. */
  var hardStopMs: Double = Double.PositiveInfinity
  /** Set when a timed-out operation could not be cancelled: nothing more is started. */
  @volatile var abandoned = false

  def main(args: Array[String]): Unit = {
    val entryMs = System.currentTimeMillis()
    val Array(workload, input, work, secondsArg, traceArg, outFile, spawnMs, budgetArg) = args
    hardStopMs = spawnMs.toLong + budgetArg.toDouble * 1000 - TailMs
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val setup = mutable.LinkedHashMap[String, Any]("jvm_start_s" -> (entryMs - spawnMs.toLong) / 1e3)

    var t = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores]", cores.toString)
      .appName("perfbench")
      .config("spark.driver.maxResultSize", "2g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count() // first job: scheduler and executor threads up
    setup("session_s") = (System.nanoTime() - t) / 1e9

    val tracer = new Tracer(spark.sparkContext)
    def attach(): Unit = {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    def detach(): Unit = {
      Tracer.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
    }
    val setupOps = mutable.ArrayBuffer.empty[Op]
    val ops = mutable.ArrayBuffer.empty[Op]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    val wl: Workload = workload match {
      case "rag_serve" => new Serve(spark, input, work)
      case "catalog" => new Catalog(spark, input, work, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // the traced run also traces set-up, whose operations are checked too
    if (trace) attach()
    setup("prepare_s") = wl.prepare(extra, tracer, trace, setupOps)
    if (trace) detach()
    t = System.nanoTime()
    wl.warmup(tracer, setupOps)
    setup("warmup_s") = (System.nanoTime() - t) / 1e9
    // after the same fixed work in every run, so it does not depend on
    // how many operations fit in the window
    val liveHeapMb = liveHeap()

    // Measurement window. Untraced runs time the plain entry points;
    // the traced run alternates untraced and traced units of work (an
    // answer, a pass), so it measures its own tracing overhead.
    val windowStart = tracer.nowMs
    val deadline = windowStart + seconds * 1000
    var attached = false
    var seq = 0
    var unitStart = windowStart
    var longestUnitMs = 0.0
    def inBudget = tracer.nowMs + math.max(LastStartMs, 1.5 * longestUnitMs) < hardStopMs
    while (!abandoned && wl.more(tracer.nowMs < deadline, inBudget)) {
      val unit = wl.nextUnit
      val traceNext = trace && unit % 2 == 0
      if (traceNext != attached) {
        if (traceNext) attach() else detach()
        attached = traceNext
      }
      seq += 1
      ops += wl.next(seq, tracer, attached)
      if (wl.nextUnit != unit) {
        longestUnitMs = math.max(longestUnitMs, tracer.nowMs - unitStart)
        unitStart = tracer.nowMs
      }
    }
    val windowEnd = tracer.nowMs
    if (attached) detach()
    val memory = memoryUse() + ("live_heap_mb" -> liveHeapMb)
    try wl.check(ops.toSeq, extra)
    catch {
      case e: Throwable => // a check that cannot run fails what it was to check
        ops.filter(_.ok).foreach { op => op.ok = false; op.error = s"check error: ${describe(e)}" }
    }

    val env = Map(
      "nproc" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "jdk" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "master" -> spark.sparkContext.master)
    val out = Map(
      "workload" -> workload, "env" -> env, "setup" -> setup.toMap,
      "window" -> Map("start" -> windowStart, "end" -> windowEnd),
      "setup_ops" -> setupOps.map(_.toJson), "ops" -> ops.map(_.toJson),
      "extra" -> extra.toMap,
      "memory" -> memory,
      "spans" -> (if (trace) tracer.spans.map(_.toJson) else Nil))
    val w = new java.io.PrintWriter(outFile, "UTF-8")
    try w.write(Json.encode(out)) finally w.close()
    // an abandoned operation may still hold the scheduler: do not wait for it
    if (abandoned) Runtime.getRuntime.halt(0)
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRss(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  private val Mib = 1024.0 * 1024

  /** What the program keeps on the heap: the heap in use after a full
    * collection, in MiB.
    */
  def liveHeap(): Double = {
    System.gc()
    // Spark's ContextCleaner frees the blocks of collected RDDs, shuffles
    // and broadcasts on its own thread; the second collection takes them
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Mib
  }

  /** Memory of this JVM after the window, in MiB. The heap is pinned
    * and pre-touched, so VmHWM is the heap plus the peak resident
    * memory outside it.
    */
  def memoryUse(): Map[String, Double] = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    val rss = peakRss()
    Map("peak_rss_mb" -> rss,
      "offheap_peak_mb" -> (rss - mx.getHeapMemoryUsage.getCommitted / Mib),
      "nonheap_mb" -> mx.getNonHeapMemoryUsage.getUsed / Mib)
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** Run `body` as operation `op`, on a thread of its own in a Spark
    * job group while this thread waits: one operation at a time.
    * Exceptions fail the operation with their reason, never silently.
    * An operation that outlives `OpTimeoutMs` or the hard stop has its
    * jobs cancelled and fails as a timeout.
    */
  def timed(op: Op, tracer: Tracer, traced: Boolean, parent: String = "run")(body: => Unit): Op = {
    val sc = tracer.sc
    op.traced = traced
    if (abandoned) {
      op.end = op.start
      op.ok = false
      op.error = "not run: an earlier timed-out operation could not be cancelled"
      return op
    }
    val span = if (traced) Some(tracer.beginOp(op.id, op.name, parent)) else None
    var error: Throwable = null
    // the thread inherits this thread's Spark local properties (the operation tag)
    val worker = new Thread(() => {
      sc.setJobGroup(op.id, op.name, interruptOnCancel = true)
      try body
      catch { case e: Throwable => error = e }
    }, s"perfbench-${op.id}")
    worker.setDaemon(true)
    val t0 = tracer.nowMs
    val limitMs = math.min(OpTimeoutMs, hardStopMs - t0)
    worker.start()
    worker.join(math.max(1L, limitMs.toLong))
    op.end = op.start + (tracer.nowMs - t0)
    if (worker.isAlive) {
      sc.cancelJobGroup(op.id)
      worker.interrupt()
      worker.join(CancelGraceMs)
      if (worker.isAlive) abandoned = true
      op.ok = false
      op.error = f"timeout: cancelled after ${op.wallMs}%.0f ms (limit $limitMs%.0f ms)" +
        (if (abandoned) ", did not stop" else "")
    } else if (error != null) {
      op.ok = false
      op.error = describe(error)
    }
    span.foreach(tracer.endOp)
    op
  }

  def readLines(path: String): Vector[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().toVector finally src.close()
  }
}

trait Workload {
  /** Build the state the operations need; returns the set-up time to
    * report, in seconds.
    */
  def prepare(extra: mutable.LinkedHashMap[String, Any], tracer: Tracer, traced: Boolean,
              setupOps: mutable.ArrayBuffer[Harness.Op]): Double
  /** Untimed operations that bring JIT and caches to steady state;
    * they count as attempted, so a failure here is reported too.
    */
  def warmup(tracer: Tracer, setupOps: mutable.ArrayBuffer[Harness.Op]): Unit
  /** Whether to start another operation; `inWindow` is false once the
    * window has elapsed, `inBudget` once no new unit of work may start.
    */
  def more(inWindow: Boolean, inBudget: Boolean): Boolean
  /** Index of the unit of work (an answer, a pass) the next operation belongs to. */
  def nextUnit: Int
  def next(seq: Int, tracer: Tracer, traced: Boolean): Harness.Op
  /** Checks made in the JVM after the window (the rest are in run.py). */
  def check(ops: Seq[Harness.Op], extra: mutable.LinkedHashMap[String, Any]): Unit = ()
}

/** rag_serve: the knowledge base is built three times (forced
  * rebuilds; set-up reports their median), then a closed loop of
  * `Qa.answerWithSources(topK = 5)` questions runs over it.
  */
final class Serve(spark: SparkSession, input: String, work: String) extends Workload {
  import Harness._
  private val store = s"$work/kb/vector_store"
  private val questions = readLines(s"$input/questions.txt")
  private val warmups = readLines(s"$input/warmup_questions.txt")
  private var i = 0
  val TopK = 5
  val MinAnswers = 40
  val Builds = 3

  def prepare(extra: mutable.LinkedHashMap[String, Any], tracer: Tracer, traced: Boolean,
              setupOps: mutable.ArrayBuffer[Op]): Double = {
    val docs = spark.read.parquet(s"$input/documents.parquet")
    def build() = Pipeline.setupKnowledgeBase(spark, docs, s"$work/kb", forceRebuild = true)
    for (k <- 1 to Builds) {
      val op = Op(s"kb$k", "rebuild", "setupKnowledgeBase", 0, tracer.nowMs)
      setupOps += timed(op, tracer, traced, parent = "setup") {
        op.result("chunks") =
          (if (traced) tracer.layer(op.id, "rebuild")(build()) else build()).chunkCount
      }
    }
    // the engine's own DuckDB statement of the Chunker rules, for the chunk-count check
    extra("chunk_oracle") = Registry.byName("c1_chunk").oracle.orNull
    extra("store") = store
    val walls = setupOps.map(_.wallMs).sorted
    walls(walls.size / 2) / 1e3
  }

  def warmup(tracer: Tracer, setupOps: mutable.ArrayBuffer[Op]): Unit =
    warmups.zipWithIndex.foreach { case (q, k) =>
      val op = Op(s"w$k", "warmup", q, 0, tracer.nowMs)
      setupOps += timed(op, tracer, traced = false)(Qa.answerWithSources(spark, store, q, TopK))
    }

  def more(inWindow: Boolean, inBudget: Boolean): Boolean =
    i < questions.size && inBudget && (inWindow || i < MinAnswers)

  def nextUnit: Int = i + 1

  def next(seq: Int, tracer: Tracer, traced: Boolean): Op = {
    val q = questions(i)
    i += 1
    val op = Op(s"a$seq", "answer", q, 0, tracer.nowMs)
    timed(op, tracer, traced) {
      val sources = if (!traced) Qa.answerWithSources(spark, store, q, TopK).sources
      else {
        // the calls answerWithSources composes, one layer span each
        val df = tracer.layer(op.id, "search_build")(ChunkStore.similaritySearch(spark, store, q, TopK))
        tracer.layer(op.id, "search_plan")(df.queryExecution.executedPlan)
        val rows = tracer.layer(op.id, "search_exec")(df.collect())
        tracer.layer(op.id, "format") {
          val srcs = rows.map(r => Qa.Source(r.getAs[String]("text"),
            r.getAs[Map[String, String]]("metadata"), r.getAs[Double]("similarity"))).toSeq
          Qa.buildPrompt(Qa.formatContext(srcs), q)
          Qa.extractiveStub(srcs)
          srcs
        }
      }
      op.result("top") = sources.map(s => Seq(s.text, s.metadata.toSeq.sorted.mkString(";"),
        s.similarity))
    }
  }

  /** Every answer's top-k against a brute-force cosine top-k over the
    * whole store (same double folds as the engine's kernel), ties
    * broken by id. Compared by (text, metadata, similarity), which is
    * what an answer exposes of a chunk.
    */
  override def check(ops: Seq[Op], extra: mutable.LinkedHashMap[String, Any]): Unit = {
    val rows = spark.read.parquet(store).select("id", "text", "metadata", "embedding").collect()
    val ids = rows.map(_.getString(0))
    val texts = rows.map(_.getString(1))
    val metas = rows.map(r => r.getAs[Map[String, String]](2).toSeq.sorted.mkString(";"))
    val embs = rows.map(_.getSeq[Double](3).toArray)
    val answered = ops.filter(_.ok).map(_.name).distinct
    import spark.implicits._
    val qEmb = answered.toDF("q")
      .select(col("q"), graft.HashedTokenEmbedder.embed(col("q")).as("e"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap
    def cosine(x: Array[Double], y: Array[Double]): Double = {
      var xy = 0.0; var xx = 0.0; var yy = 0.0
      var k = 0
      val n = math.min(x.length, y.length)
      while (k < n) { xy += x(k) * y(k); xx += x(k) * x(k); yy += y(k) * y(k); k += 1 }
      xy / (math.sqrt(xx) * math.sqrt(yy))
    }
    var checked = 0
    ops.filter(_.ok).foreach { op =>
      val q = qEmb(op.name)
      val sims = embs.map(cosine(_, q))
      val want = sims.indices.sortWith { (a, b) =>
        val c = java.lang.Double.compare(sims(b), sims(a))
        if (c != 0) c < 0 else ids(a) < ids(b)
      }.take(TopK).map(j => Seq(texts(j), metas(j), sims(j)))
      val got = op.result("top").asInstanceOf[Seq[Seq[Any]]]
      checked += 1
      if (got != want) {
        op.ok = false
        val bad = got.indices.find(k => k >= want.size || got(k) != want(k)).getOrElse(got.size)
        op.error = s"wrong answer: top-$TopK differs from brute force at rank ${bad + 1}"
      }
    }
    extra("checked_answers") = checked
    extra("store_rows") = rows.length
  }
}

/** catalog: passes over a fixed mix of registered queries, each run
  * through `QueryDef.run(...).write.format("noop")`; the pass orders
  * are part of the generated input (line 0: the checked set-up pass,
  * line 1: the warm-up pass, then one line per timed pass).
  */
final class Catalog(spark: SparkSession, input: String, work: String, trace: Boolean)
    extends Workload {
  import Harness._
  private val orders = readLines(s"$input/pass_orders.txt").map(_.split(",").toVector)
  private val mix = orders.head.sorted
  private val defs = mix.map(q => q -> Registry.byName(q)).toMap
  private var pass = 0
  private var inPass = 0
  /** The traced run alternates untraced and traced passes and needs
    * several of each to tell tracing overhead from noise.
    */
  val MinPasses: Int = if (trace) 8 else 2

  private def noop(d: graft.QueryDef): Unit =
    d.run(spark, input).write.mode("overwrite").format("noop").save()

  /** Set-up is one pass that writes every output to parquet for the
    * oracle check in run.py; its operations count as attempted.
    */
  def prepare(extra: mutable.LinkedHashMap[String, Any], tracer: Tracer, traced: Boolean,
              setupOps: mutable.ArrayBuffer[Op]): Double = {
    extra("oracle_sql") = defs.map { case (q, d) => q -> d.oracle.map(_.trim).orNull }
    extra("mix") = mix
    extra("outputs") = s"$work/out"
    extra("tables") = new java.io.File(input).list().filter(_.endsWith(".parquet")).sorted.toSeq
    orders.head.foreach { q =>
      val d = defs(q)
      d.resetMemo.foreach(_(spark, input))
      val op = Op(s"check.$q", "check", q, 0, tracer.nowMs)
      setupOps += timed(op, tracer, traced, parent = "setup") {
        d.run(spark, input).write.mode("overwrite").parquet(s"$work/out/$q")
      }
    }
    setupOps.map(_.wallMs).sum / 1e3
  }

  /** One untimed noop pass: JIT and caches reach the timed passes warm. */
  def warmup(tracer: Tracer, setupOps: mutable.ArrayBuffer[Op]): Unit = orders(1).foreach { q =>
    defs(q).resetMemo.foreach(_(spark, input))
    val op = Op(s"warm.$q", "warmup", q, 0, tracer.nowMs)
    setupOps += timed(op, tracer, traced = false)(noop(defs(q)))
  }

  def more(inWindow: Boolean, inBudget: Boolean): Boolean =
    inPass > 0 || (inBudget && (inWindow || pass < MinPasses) && pass + 2 < orders.size)

  def nextUnit: Int = if (inPass == 0) pass + 1 else pass

  def next(seq: Int, tracer: Tracer, traced: Boolean): Op = {
    if (inPass == 0) pass += 1
    val order = orders(pass + 1)
    val q = order(inPass)
    inPass = (inPass + 1) % order.size
    val d = defs(q)
    d.resetMemo.foreach(_(spark, input)) // outside the timer
    val op = Op(s"p$pass.$q", "query", q, pass, tracer.nowMs)
    timed(op, tracer, traced, parent = s"pass:$pass") {
      if (!traced) noop(d)
      else {
        val df = tracer.layer(op.id, "build")(d.run(spark, input))
        tracer.layer(op.id, "exec")(df.write.mode("overwrite").format("noop").save())
      }
    }
  }
}
