package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query (bench=true) on
  * SPARK_GRAFT_SF_DIR and prints one JSON line. local[32] with
  * shuffle.partitions=32 (one partition per core — the right size for
  * single-node; on a real cluster this scales with executor count, and
  * AQE coalesces post-shuffle partitions either way).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // engine config (incl. the measured bypassMergeThreshold shuffle-
    // writer fix) comes from the shared GraftSession builder so the
    // benched config IS the shipped config
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.driver.maxResultSize", "2g")
      .getOrCreate()
    // ERROR, not WARN: the driver records the bench tail, and benign
    // per-run warnings (e.g. the documented single-partition window in
    // s5_store_entries) would otherwise drown the JSON line in noise
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_PROFILE=q1,q2: profile mode — instead of the timed
    // passes, run each named query once (after warmup) under a stage
    // listener and dump per-stage shuffle bytes, spill, and task skew
    // to bench/profile_<sf>.json. The evidence layer for "is this
    // query exchange-bound or plan-overhead-bound?" questions the
    // wall-clock figure alone cannot answer.
    sys.env.get("SPARK_GRAFT_PROFILE").foreach { names =>
      profile(spark, sfDir, names.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      spark.stop()
      return
    }
    // SPARK_GRAFT_ONLY=q1,q2: one subset filter for the main, stream
    // and sink lanes, for local profiling and A/B runs. A lane writes
    // bench/<name>_<sf>.json, a subset run bench/only_<name>_<sf>.json,
    // never over the lane's artifact. Unset (the driver's invocation)
    // benches every query of the lane.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    def lane(metric: String, member: QueryDef => Boolean, passes: Int, name: String): Unit =
      timeLane(spark, sfDir, metric,
        Registry.all.filter(d => member(d) && only.forall(_.contains(d.name))), passes,
        if (only.isDefined) s"bench/only_$name" else s"bench/$name")
    // SPARK_GRAFT_STREAM_BENCH=1: the timed lane for the stateful
    // streaming twins. They are bench=false in the main lane (an
    // AvailableNow drain measures trigger/checkpoint overhead, not
    // operator throughput) — but that left the state-store paths with
    // NO timing at all, so a 10× regression in e.g. the
    // flatMapGroupsWithState funnel would land invisibly. This lane
    // times the drains separately into bench/stream_<sf>.json, which
    // tools/bench_diff.py gates round-over-round exactly like the main
    // artifact. Membership is the registry's streamBench flag, NOT a
    // name list: a newly registered twin is timed by construction (a
    // hardcoded 9-name list once left st_holt and 10 other state-store
    // paths without any timed row).
    sys.env.get("SPARK_GRAFT_STREAM_BENCH").foreach { _ =>
      lane("stream_total", _.streamBench, 3, "stream")
      spark.stop()
      return
    }
    // SPARK_GRAFT_SINK_BENCH=1: the timed lane for the side-effecting
    // sink/source round trips (registry sinkBench flag). They are
    // bench=false in the main lane — a temp-dir write would add I/O
    // noise to operator-throughput rows — but that left the entire
    // format-codec surface (the from-scratch PdfText extractor, the
    // RFC-4180 CSV sink/source, ORC, JSONL, zorder rewrite, small-file
    // compaction, the store lifecycle) with NO timing signal: a 10×
    // PdfText regression would land invisibly. This lane times them
    // separately into bench/sink_<sf>.json, gated round-over-round by
    // tools/bench_diff.py like the other artifacts.
    sys.env.get("SPARK_GRAFT_SINK_BENCH").foreach { _ =>
      lane("sink_total", _.sinkBench, 3, "sink")
      spark.stop()
      return
    }
    // SPARK_GRAFT_BPE_DEPTH=10,50,100: the tokenizer-trainer depth
    // grid — times bpeLearn at each merge depth on the target SF. The
    // vocab-bounded-rounds claim (corpus scanned once; merge cost flat
    // in corpus size, linear in depth) is the whole 100 TB argument
    // for tp_bpe_train, so it gets its own measured artifact
    // (bench/bpe_depth_<sf>.json) instead of staying an assertion.
    sys.env.get("SPARK_GRAFT_BPE_DEPTH").foreach { depths =>
      bpeDepthBench(spark, sfDir,
        depths.split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq)
      spark.stop()
      return
    }
    // SPARK_GRAFT_PASSES: probe lanes only (e.g. the sf3 core-scaling
    // grid, where 3 passes × 2 core counts would cost hours for a
    // RATIO measurement). Unset — every driver invocation — keeps the
    // contract's min-of-3.
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(3)
    // default paths are SCRATCH (gitignored): the committed baseline
    // bench_diff gates on (bench/bench_<sf>.json) is only ever written
    // when a deliberate idle re-baseline run passes SPARK_GRAFT_BENCH_OUT
    // explicitly — so neither a subset probe nor a routine per-round
    // (load-contaminated) run can overwrite the idle baseline and dirty
    // the tree (the recurring r13/r14 hygiene item)
    lane("total", _.bench, passes, "last")
    spark.stop()
  }

  /** Merge-depth cost grid for the BPE trainer: one timed bpeLearn per
    * requested depth (fresh learn each time — no memo), reporting the
    * depth actually reached (learning stops early once every word is a
    * single symbol, so `learned < requested` marks vocab exhaustion,
    * not a failure).
    */
  private def bpeDepthBench(spark: SparkSession, sfDir: String, depths: Seq[Int]): Unit = {
    graft.operators.Curation.bpeLearn(spark, sfDir, 1) // warmup, off the clock
    val rows = depths.map { d =>
      System.gc()
      val t0 = System.nanoTime()
      val learned = graft.operators.Curation.bpeLearn(spark, sfDir, d).merges.size
      (d, learned, (System.nanoTime() - t0) / 1e9)
    }
    val qs = rows.map { case (d, l, s) =>
      s""""m$d":{"requested":$d,"learned":$l,"sec":$s}""" }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"bpe_depth","value":${rows.map(_._3).sum},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(line)
    val sfName = new java.io.File(sfDir).getName
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"bench/bpe_depth_$sfName.json"))
    Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
  }

  /** Runs `d` on `dir` into a noop sink: forces FULL evaluation of every
    * output column — count() would let Catalyst prune projection-only
    * work and under-measure (a fingerprint query's fold never runs
    * under count).
    */
  private def exhaust(spark: SparkSession, d: QueryDef, dir: String): Unit =
    d.run(spark, dir).write.mode("overwrite").format("noop").save()

  /** One timed lane, shared by the main, stream and sink lanes: two
    * untimed warmups (the sf0.001 tables beside `sfDir` for classload
    * and codegen, then the target SF so page cache and JIT reach steady
    * state — without it best-of-3 could still record a 4× cold-start
    * artifact), then `passes` INTERLEAVED timed passes (every query once
    * per pass, so a transient memory-pressure episode inflates one pass,
    * not all samples of one query), min per query. A failed run's error
    * is listed in "errors", and a query that fails every pass is
    * reported as -1, never as a near-zero time.
    *
    * Plan builds create `graft_*` temp dirs (lake roots, staged stream
    * sources, sinks, index dirs), so the lane sweeps the [[TmpDirs]]
    * registry after the first warmup, before each pass and at the end,
    * outside the timer: 5 runs per query would otherwise leave 5 copies
    * each. The registry holds only dirs THIS process created, never a
    * prefix scan over the shared java.io.tmpdir, whose entries a
    * concurrent graft JVM may still be using.
    *
    * Prints the full line (`metric`), then a short `<metric>_compact`
    * line: the full line is ~8 KB for the main lane and a stdout-tail
    * capture truncates it to unparseable, while the compact line at the
    * very end survives any tail. The full line is also written, best
    * effort, to SPARK_GRAFT_BENCH_OUT or `<outPrefix>_<sf>.json`: the
    * artifact tools/bench_diff.py diffs round-over-round.
    */
  private def timeLane(spark: SparkSession, sfDir: String, metric: String,
                       defs: Seq[QueryDef], passes: Int, outPrefix: String): Unit = {
    val tinySf = new java.io.File(new java.io.File(sfDir).getAbsoluteFile.getParentFile, "sf0.001")
    defs.foreach(d => try exhaust(spark, d, tinySf.getPath) catch { case _: Throwable => () })
    TmpDirs.sweepCreated()
    defs.foreach(d => try exhaust(spark, d, sfDir) catch { case _: Throwable => () })
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    for (_ <- 1 to passes) {
      TmpDirs.sweepCreated()
      System.gc() // start each pass from comparable heap pressure
      defs.foreach { d =>
        // drop output-level memos (label table, BPE merges, training
        // chain) so the timed run measures the kernel, not a cached
        // checkpoint read left by the warmups or a prior pass; the
        // reset itself (unpersist bookkeeping) stays outside the timer
        try d.resetMemo.foreach(_(spark, sfDir)) catch { case _: Throwable => () }
        val t0 = System.nanoTime()
        try {
          exhaust(spark, d, sfDir)
          samples(d.name) = ((System.nanoTime() - t0) / 1e9) :: samples.getOrElse(d.name, Nil)
        } catch {
          case t: Throwable =>
            errors(d.name) = s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(120)}"
        }
      }
    }
    TmpDirs.sweepCreated()
    val results = defs.map { d =>
      d.name -> samples.get(d.name).filter(_.nonEmpty).map(_.min).getOrElse(-1.0)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def jstr(s: String) = "\"" + s.replaceAll("[\"\\\\\n\r\t]", " ") + "\""
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val line = s"""{"metric":"$metric","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"sf":"$sfDir"}"""
    println(line)
    println(s"""{"metric":"${metric}_compact","value":$total,"unit":"sec","n":${results.size},"n_errors":${errors.size},"sf":"$sfDir"}""")
    try {
      val sfName = new java.io.File(sfDir).getName
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"${outPrefix}_$sfName.json"))
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // the stdout line is the contract; the artifact is best-effort
  }

  /** Per-stage task aggregates for one profiled query run. */
  private final class StageAgg {
    var tasks = 0
    var sumMs = 0L
    var maxMs = 0L
    var shufReadB = 0L
    var shufWriteB = 0L
    var memSpillB = 0L
    var diskSpillB = 0L
    var inputB = 0L
  }

  private final class ProfileListener extends org.apache.spark.scheduler.SparkListener {
    val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageAgg]
    val names = scala.collection.mutable.HashMap.empty[Int, String]
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      synchronized { names(sc.stageInfo.stageId) = sc.stageInfo.name.takeWhile(_ != '\n') }
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      synchronized {
        val m = te.taskMetrics
        if (m != null) {
          val a = stages.getOrElseUpdate(te.stageId, new StageAgg)
          a.tasks += 1
          a.sumMs += m.executorRunTime
          a.maxMs = math.max(a.maxMs, m.executorRunTime)
          a.shufReadB += m.shuffleReadMetrics.totalBytesRead
          a.shufWriteB += m.shuffleWriteMetrics.bytesWritten
          a.memSpillB += m.memoryBytesSpilled
          a.diskSpillB += m.diskBytesSpilled
          a.inputB += m.inputMetrics.bytesRead
        }
      }
  }

  /** Run each named query once (post-warmup) under a listener; write
    * bench/profile_<sf>.json with per-stage shuffle/spill/skew rows.
    * Skew = max task runtime / mean task runtime within the stage — the
    * single-number answer to "does one partition carry this stage?".
    */
  private def profile(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val defs = Registry.all.filter(d => names.contains(d.name))
    defs.foreach(d => try exhaust(spark, d, sfDir) catch { case _: Throwable => () }) // warmup
    val out = new StringBuilder("{")
    defs.zipWithIndex.foreach { case (d, di) =>
      // the timed lane's memo discipline applies here too: without the
      // reset a memoized query profiles as a checkpoint READ (17 tiny
      // stages, ~1 s) instead of its kernel
      try d.resetMemo.foreach(_(spark, sfDir)) catch { case _: Throwable => () }
      val l = new ProfileListener
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      val err = try { exhaust(spark, d, sfDir); None } catch { case t: Throwable => Some(t.toString.take(200)) }
      val sec = (System.nanoTime() - t0) / 1e9
      // the listener bus is async with no public flush; poll until the
      // task-end aggregates are stable across two consecutive snapshots
      // (bounded) — a fixed sleep silently understates per-stage numbers
      // when a loaded machine still has events in flight
      var prev = -1L
      var stable = 0
      var waitedMs = 0
      while (stable < 2 && waitedMs < 15000) {
        Thread.sleep(200); waitedMs += 200
        val snap = l.synchronized {
          l.stages.valuesIterator.map(a => a.tasks.toLong * 31 + a.sumMs).sum
        }
        if (snap == prev) stable += 1 else { stable = 0; prev = snap }
      }
      spark.sparkContext.removeSparkListener(l)
      val stageRows = l.stages.toSeq.sortBy(_._1).map { case (sid, a) =>
        val avg = if (a.tasks > 0) a.sumMs.toDouble / a.tasks else 0.0
        val skew = if (avg > 0) a.maxMs / avg else 1.0
        f"""{"stage":$sid,"name":"${l.names.getOrElse(sid, "").replaceAll("[\"\\\\]|\\p{Cntrl}", " ").take(80)}","tasks":${a.tasks},"task_ms_sum":${a.sumMs},"task_ms_max":${a.maxMs},""" +
          f""""skew":$skew%.2f,"input_mb":${a.inputB / 1048576L},"shuffle_read_mb":${a.shufReadB / 1048576L},""" +
          f""""shuffle_write_mb":${a.shufWriteB / 1048576L},"spill_mem_mb":${a.memSpillB / 1048576L},""" +
          f""""spill_disk_mb":${a.diskSpillB / 1048576L}}"""
      }
      if (di > 0) out.append(",")
      out.append(f""""${d.name}":{"sec":$sec%.3f,"error":${err.map("\"" + _.replaceAll("[\"\\\\\n\r\t]", " ") + "\"").getOrElse("null")},"stages":[${stageRows.mkString(",")}]}""")
    }
    out.append("}")
    val sfName = new java.io.File(sfDir).getName
    val path = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PROFILE_OUT", s"bench/profile_$sfName.json"))
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(path, (out.toString + "\n").getBytes("UTF-8"))
    println(out.toString)
  }
}
