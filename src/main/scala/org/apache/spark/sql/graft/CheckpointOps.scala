package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SQLExecution}

/** Checkpointing that KEEPS the partitioning contract.
  *
  * `Dataset.localCheckpoint` is the lineage fence every iterative
  * operator here leans on, but under AQE it silently drops
  * `outputPartitioning`: the checkpointed plan is an
  * `AdaptiveSparkPlanExec` whose partitioning is unknown until
  * execution, so the `LogicalRDD` the checkpoint wraps reports
  * `UnknownPartitioning` — and every downstream round re-exchanges the
  * "once-partitioned" table. Profiled on gr_pagerank_conv (sf0.1):
  * the ~90 rounds re-shuffled the 1.2M-row edge table every round
  * (102 MB scanned + 13 MB shuffle-written per round, 338 s summed
  * task time for a 67 s wall) even though the table was repartitioned
  * on the join key ONCE, by design, before the checkpoint.
  *
  * [[checkpointHashPartitioned]] restores the design: repartition by
  * the keys with an EXPLICIT partition count (REPARTITION_BY_NUM —
  * AQE never coalesces a user-numbered exchange, so the physical
  * layout is exactly `murmur3(keys) pmod n`), materialize the rows
  * into local checkpoint blocks, and rebuild the `LogicalRDD` with a
  * truthful `HashPartitioning(keys, n)`. Downstream joins and
  * aggregations keyed on the same columns then satisfy their
  * distribution requirement from the checkpoint — the big side stays
  * stationary across every round and only the O(V) state table moves,
  * which is the whole scale story of the Pregel-style operators.
  *
  * This lives under `org.apache.spark.sql` (the extension-library
  * convention) because `Dataset.ofRows` and `LogicalRDD` are
  * `private[sql]`. Public Spark API only; no behavior is patched.
  */
object CheckpointOps {

  /** `spark.graft.checkpoint.reliable=true` flips every fence in the
    * engine from executor-resident `localCheckpoint` blocks to
    * RELIABLE checkpoint files under the context's checkpoint dir
    * (`SparkContext.setCheckpointDir` / the `spark.checkpoint.dir`
    * conf). Local blocks are the right default at local[32] — zero
    * extra I/O, and a "lost executor" is a lost JVM anyway — but on a
    * real cluster an executor loss mid-iteration (PageRank round 60 of
    * 102) KILLS a locally-checkpointed job: the fenced lineage is
    * truncated, so the lost blocks are unrecomputable. The reliable
    * mode trades one HDFS/object-store write per fence for
    * recompute-from-file recovery; the rows stay persisted
    * MEMORY_AND_DISK as well, so healthy-path reads never touch the
    * files. PLANS.md ("reliable checkpoint mode") records when a
    * deployment should flip it.
    *
    * File lifetime: [[release]] deletes a SUPERSEDED fence's files
    * (every iterative loop releases its per-round and input fences),
    * but query-FINAL fences live as long as the result does — a
    * reliable-mode deployment should also set Spark's own
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` so the
    * ContextCleaner reclaims those file sets when the RDD is
    * garbage-collected, instead of accumulating one per query for the
    * application's lifetime.
    */
  private def reliableMode(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.get("spark.graft.checkpoint.reliable", "false").toBoolean

  private def ensureCheckpointDir(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      val dir = spark.conf.getOption("spark.checkpoint.dir").getOrElse(
        throw new IllegalStateException(
          "spark.graft.checkpoint.reliable=true requires a checkpoint dir: " +
            "set spark.checkpoint.dir or call sparkContext.setCheckpointDir"))
      sc.setCheckpointDir(dir)
    }
  }

  /** `spark.graft.fence.storageLevel=DISK_ONLY` (any
    * `StorageLevel.fromString` name) overrides the block storage level
    * of every fence in the engine. Unset — the default — keeps Spark's
    * own localCheckpoint level (MEMORY_AND_DISK), byte-identical to
    * the pre-conf behavior. The override exists for the
    * memory-constrained regime PLANS.md's sf10 decade rows surfaced:
    * a 16 GiB driver heap shared by 32 executor threads put the graph
    * family's O(E) edge checkpoints and per-round O(V) fences into
    * block-manager eviction churn (gr_hits sf10: 171 s at 16 g vs
    * 65 s at 48 g). DISK_ONLY fences take the fence blocks out of the
    * storage-memory pool entirely — rounds re-read them from local
    * disk (page-cache-warm in practice) instead of competing with
    * execution memory for the unified region. On a real cluster the
    * same knob sizes down executor storage pressure when the fenced
    * state per executor approaches its heap share.
    */
  private def fenceLevelOverride(
      spark: org.apache.spark.sql.SparkSession): Option[org.apache.spark.storage.StorageLevel] =
    spark.conf.getOption("spark.graft.fence.storageLevel")
      .filter(_.nonEmpty)
      .map(org.apache.spark.storage.StorageLevel.fromString)

  /** Materialize a manually-built fence RDD under a REGISTERED SQL
    * execution, the way `Dataset.withAction` does — a bare
    * `rdd.count()` never posts `SparkListenerSQLExecutionEnd`, so no
    * `QueryExecutionListener` fires for the plan and any
    * `Dataset.observe` metric riding the fenced frame (the per-round
    * scalars of gr_hits/k-core/BFS/connected components) would leave
    * its `Observation` promise uncompleted — `obs.get` then blocks
    * forever. Spark's `ExecutionListenerBus` converts the
    * execution-end event into `onSuccess(name, qe, ..)` only when the
    * execution carries a name, hence `Some(name)`. When the job fails,
    * `rdd` is unpersisted before the error propagates: Spark keeps a
    * failed job's persisted RDD registered, and no caller holds it to
    * release it.
    */
  private def materializeAsAction(qe: QueryExecution, name: String,
                                  rdd: RDD[InternalRow]): Unit =
    try SQLExecution.withNewExecutionId(qe, Some(name)) { rdd.count(); () }
    catch {
      case e: Throwable =>
        rdd.unpersist(blocking = false)
        throw e
    }

  /** The conf-gated lineage fence every iterative operator uses:
    * `localCheckpoint(eager)` by default; under
    * `spark.graft.checkpoint.reliable=true` the rows persist
    * MEMORY_AND_DISK (healthy-path reads stay block-speed) AND
    * checkpoint to reliable files (recovery path) — NOT plain
    * `Dataset.checkpoint`, whose healthy-path reads would re-read the
    * checkpoint files from the object store on every downstream use.
    * The reliable flavor advertises `UnknownPartitioning`, the local
    * one what `localCheckpoint` would (use [[checkpointHashPartitioned]]
    * when a downstream join/agg must reuse the layout); both are
    * releasable via [[release]], and a fence whose job fails leaves
    * nothing persisted.
    * [[fenceLevelOverride]] applies to both flavors.
    */
  def fence[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] = {
    val cds = ds.asInstanceOf[Dataset[T]]
    val spark = cds.sparkSession
    val reliable = reliableMode(spark)
    if (reliable) ensureCheckpointDir(spark)
    val qe = cds.queryExecution
    val rdd: RDD[InternalRow] = qe.toRdd.map(_.copy())
    val plan = if (reliable) {
      rdd.persist(fenceLevelOverride(spark)
        .getOrElse(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      rdd.checkpoint()
      materializeAsAction(qe, "fence", rdd)
      LogicalRDD(qe.analyzed.output, rdd)(spark)
    } else {
      // what Dataset.localCheckpoint(eager = true) does, with the RDD
      // in hand to release when its job fails
      fenceLevelOverride(spark).foreach(rdd.persist(_))
      rdd.localCheckpoint()
      materializeAsAction(qe, "localCheckpoint", rdd)
      LogicalRDD.fromDataset(rdd, cds, cds.isStreaming)
    }
    Dataset.ofRows(spark, plan).as[T](cds.encoder)
  }

  /** Postfix syntax for [[fence]]: `df.fenced` reads like the
    * `df.localCheckpoint(true)` it replaces at 60+ call sites.
    */
  implicit final class FenceSyntax[T](private val ds: org.apache.spark.sql.Dataset[T])
      extends AnyVal {
    def fenced: org.apache.spark.sql.Dataset[T] = fence(ds)
  }

  /** `df`'s rows behind a `LogicalRDD`, persisted MEMORY_AND_DISK by
    * the first job that reads them: a pin for rows read more than once
    * that must not change between reads, such as the sorted chunks
    * positional ids are numbered from. Unlike `Dataset.persist` it
    * enters no CacheManager, so other readers of `df`'s files are never
    * served these blocks; unlike a fence, a lost block is recomputed
    * from `df`'s plan. Free it with [[release]].
    */
  def pin(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[SparkSession]
    val qe = df.queryExecution
    val rdd = qe.toRdd.map(_.copy()).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dataset.ofRows(spark, LogicalRDD(qe.analyzed.output, rdd)(spark))
  }

  /** Hash-partition `df` by `keys` into `numParts` partitions,
    * eagerly checkpoint the result (local blocks, or reliable files
    * under `spark.graft.checkpoint.reliable=true`), and return a
    * DataFrame whose plan ADVERTISES that partitioning (what
    * `localCheckpoint(true)` would do if AQE did not erase it). Rows
    * are copied before caching (UnsafeRow buffers are reused
    * per-task) — the same discipline as `Dataset.checkpoint`.
    */
  def checkpointHashPartitioned(df: DataFrame, numParts: Int,
                                keys: String*): DataFrame = {
    require(keys.nonEmpty, "need at least one partitioning key")
    val parted = df.repartition(numParts, keys.map(df.col): _*)
    val spark = parted.sparkSession.asInstanceOf[SparkSession]
    val qe = parted.queryExecution
    val rdd: RDD[InternalRow] = qe.toRdd.map(_.copy())
    if (reliableMode(spark)) {
      ensureCheckpointDir(spark)
      // persist BEFORE checkpointing: the post-job checkpoint write
      // then reads the cached blocks instead of recomputing the
      // repartition, and healthy-path consumers keep block-speed reads
      rdd.persist(fenceLevelOverride(spark)
        .getOrElse(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      rdd.checkpoint()
    } else {
      // persist-before-mark: localCheckpoint() keeps a pre-set level
      // (adding the disk flag it requires), so the override flows
      // through; unset, localCheckpoint applies its own default
      fenceLevelOverride(spark).foreach(rdd.persist(_))
      rdd.localCheckpoint()
    }
    // materialize NOW so every consumer reuses the blocks — as a named
    // SQL execution so observations on `df` complete (see
    // materializeAsAction)
    materializeAsAction(qe, "checkpointHashPartitioned", rdd)
    val output = qe.analyzed.output
    val keyAttrs = keys.map { k =>
      output.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(
          s"partition key '$k' not in ${output.map(_.name).mkString(", ")}"))
    }
    Dataset.ofRows(spark,
      LogicalRDD(output, rdd, HashPartitioning(keyAttrs, numParts))(spark))
  }

  /** Unpersist the checkpoint blocks behind a DataFrame produced by
    * [[checkpointHashPartitioned]] or `localCheckpoint` — for the
    * INTERMEDIATE tables of an iterative operator (superseded fences,
    * the edge layout once the result is materialized) — or the blocks
    * of a [[pin]] after its last read. Without this,
    * every invocation leaks its checkpoint blocks into the block
    * manager for the session's lifetime: repeated bench passes over
    * the graph lane accumulated gigabytes of dead fence/edge blocks,
    * and the eviction + GC pressure inflated UNRELATED queries'
    * timings by ~20 %. No-op for other plans.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        // reliable fences also leave checkpoint FILES; a superseded
        // iteration fence must delete them or a 100-round loop leaves
        // 100 corpus-sized file sets under the checkpoint dir
        if (l.rdd.getCheckpointFile.isDefined) {
          org.apache.spark.rdd.ReliableRDDCheckpointData
            .cleanCheckpoint(l.rdd.context, l.rdd.id)
        }
      case _ => ()
    }

  /** The RDD ids of the fences `ds` reads: a fence's own id, or every
    * fence under a lazy plan built on fences.
    */
  def fenceRdds(ds: org.apache.spark.sql.Dataset[_]): Set[Int] =
    ds.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet
}
