package graft

import org.apache.spark.sql.SparkSession

/** The ONE engine-config seam every graft main builds its session
  * through. Before r17, `spark.shuffle.sort.bypassMergeThreshold=16`
  * (the measured r16 shuffle-writer fix) lived only in the Bench
  * session, so the measured engine config was not the shipped engine
  * config — Verify, the dev timers, and any production consumer built
  * sessions without it. Centralizing the builder closes that gap and
  * gives future conf work a single place to land.
  *
  * Config carried here (everything engine-semantics or
  * engine-performance relevant; per-main knobs like log level, app
  * name, and driver.maxResultSize stay at the call site):
  *  - session timezone UTC + parquet nanosAsLong: result determinism
  *    vs the DuckDB oracle.
  *  - AQE on (default since 3.2, pinned explicitly so a packaging
  *    default change can't silently flip it).
  *  - bypassMergeThreshold=16 (env-overridable): the bypass-merge
  *    shuffle writer creates one file PER REDUCE PARTITION per map
  *    task (M×R creates); the sort writer writes one data+index pair
  *    per map task. Iterative operators shuffle small per-round state
  *    hundreds of times per run, and the per-round M×R file creation
  *    was thread-dump-measured as the dominant graph-family cost at
  *    sf0.1 (gr_pagerank_conv 42.7 → 14.4 s solo). Scale-neutral: any
  *    shuffle with > threshold reduce partitions — every real-cluster
  *    exchange — already uses the sort writer regardless.
  *  - [[plans.GraftExtensions]]: the native functions (`cosine_f`,
  *    `embed64`, …) are installed once here, so no query registers
  *    them. `newSession()` and streaming's cloned sessions inherit
  *    them. `withExtensions`, not the `spark.sql.extensions` string
  *    conf: Spark only logs a warning for a class it cannot load,
  *    while a wrong name here fails to compile.
  */
object GraftSession {
  /** Shared builder: `master` is the full master URL (callers own the
    * core-count contract, e.g. Bench's `local[$SPARK_GRAFT_CPUS]`);
    * `shufflePartitions` is the session's shuffle parallelism (the
    * mains pin it to the core count — right for single-node; a real
    * cluster scales it with executor count and AQE coalesces).
    */
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESHOLD", "16"))
}
