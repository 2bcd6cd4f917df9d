package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** The one materialization seam: every table the engine keeps goes
  * through here, which decides its storage level and its lifetime.
  * Two kinds, one vocabulary:
  *  - a *fence* ([[fence]], [[checkpointHashPartitioned]]) cuts
  *    lineage: its rows are checkpointed eagerly, so later rounds never
  *    re-expand the plan that built them;
  *  - a *pin* ([[pin]]) keeps lineage: its rows are persisted by the
  *    first job that reads them, and a lost block is recomputed.
  * Both are freed with [[release]]. Neither enters the session
  * CacheManager, so no other query is ever served their blocks by plan
  * match, and no other query's release can drop them.
  *
  * Fences keep the partitioning contract: under AQE,
  * `Dataset.localCheckpoint` wraps its rows in a `LogicalRDD` that
  * reports `UnknownPartitioning`, so every downstream round re-exchanges
  * a table repartitioned on the join key once, by design (profiled on
  * gr_pagerank_conv sf0.1: the 1.2M-row edge table re-shuffled every
  * round, 338 s of task time for a 67 s wall). [[checkpointHashPartitioned]]
  * repartitions with an EXPLICIT count (AQE never coalesces a
  * user-numbered exchange, so the layout is exactly
  * `murmur3(keys) pmod n`) and advertises that `HashPartitioning`, so
  * joins and aggregations on the keys reuse it in place: the big side
  * stays stationary and only the O(V) state moves.
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
    * of every fence in the engine (pins keep [[Level]]). Unset — the
    * default — fences use [[Level]], the level `localCheckpoint` would
    * pick itself. The override exists for the
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
  private def fenceLevel(spark: org.apache.spark.sql.SparkSession): StorageLevel =
    spark.conf.getOption("spark.graft.fence.storageLevel")
      .filter(_.nonEmpty)
      .fold(Level)(StorageLevel.fromString)

  /** The storage level of every pin, and of every fence that
    * `spark.graft.fence.storageLevel` does not override: rows spill to
    * local disk under memory pressure instead of failing.
    */
  private val Level = StorageLevel.MEMORY_AND_DISK

  /** Count `rdd` (filling its blocks) under a REGISTERED, named SQL
    * execution, as `Dataset.withAction` does: a bare `rdd.count()`
    * posts no execution-end event, so a `Dataset.observe` metric riding
    * the frame (the per-round scalars of gr_hits/k-core/BFS/connected
    * components) would never complete and `obs.get` would block forever.
    * When the job fails, `rdd` is unpersisted before the error
    * propagates: Spark keeps a failed job's persisted RDD registered,
    * and no caller holds it to release it. Returns the row count.
    */
  private def materializeAsAction(qe: QueryExecution, name: String,
                                  rdd: RDD[InternalRow]): Long =
    try SQLExecution.withNewExecutionId(qe, Some(name))(rdd.count())
    catch {
      case e: Throwable =>
        release(rdd)
        throw e
    }

  /** The one body of every fence and pin: `ds`'s rows copied (UnsafeRow
    * buffers are reused per task) into an RDD persisted at the fence
    * level, or [[Level]] for a pin, behind a `LogicalRDD` that
    * advertises `partitioning` (`None`: what `localCheckpoint` would).
    * A fence is marked for checkpointing (local blocks, or reliable
    * files) and filled now; a pin is filled by the first job that reads
    * it, or now when `fill`, and then reports the filled blocks' rows
    * and bytes as its statistics.
    */
  private def materialize[T](ds: org.apache.spark.sql.Dataset[T], fence: Boolean,
                             fill: Boolean = false,
                             partitioning: Option[(Int, Seq[String])] = None)
      : org.apache.spark.sql.Dataset[T] = {
    val cds = ds.asInstanceOf[Dataset[T]]
    val spark = cds.sparkSession
    val reliable = fence && reliableMode(spark)
    if (reliable) ensureCheckpointDir(spark)
    val qe = cds.queryExecution
    val rdd = qe.toRdd.map(_.copy()).persist(if (fence) fenceLevel(spark) else Level)
    // persist-before-mark: localCheckpoint keeps a pre-set level (adding
    // the disk flag it requires), and the reliable checkpoint write and
    // healthy-path reads use the blocks
    if (reliable) rdd.checkpoint() else if (fence) rdd.localCheckpoint()
    val rows = if (fence || fill) Some(materializeAsAction(qe, if (fence) "fence" else "pin", rdd))
      else None
    val output = qe.analyzed.output
    val plan = partitioning match {
      case Some((numParts, keys)) =>
        val keyAttrs = keys.map { k =>
          output.find(_.name == k).getOrElse(
            throw new IllegalArgumentException(
              s"partition key '$k' not in ${output.map(_.name).mkString(", ")}"))
        }
        LogicalRDD(output, rdd, HashPartitioning(keyAttrs, numParts))(spark)
      case None if fill =>
        val bytes = spark.sparkContext.getRDDStorageInfo(_.id == rdd.id)
          .map(i => i.memSize + i.diskSize).sum
        LogicalRDD(output, rdd)(spark, Some(Statistics(bytes, rows.map(BigInt(_)))))
      case None => LogicalRDD.fromDataset(rdd, cds, cds.isStreaming)
    }
    Dataset.ofRows(spark, plan).as[T](cds.encoder)
  }

  /** The conf-gated lineage fence every iterative operator uses: what
    * `localCheckpoint(eager = true)` does by default; under
    * `spark.graft.checkpoint.reliable=true` the rows persist AND
    * checkpoint to reliable files — NOT plain `Dataset.checkpoint`,
    * whose healthy-path reads would re-read the files on every
    * downstream use. A fence whose job fails leaves nothing persisted.
    */
  def fence[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] =
    materialize(ds, fence = true)

  /** Postfix syntax for [[fence]]: `df.fenced` reads like the
    * `df.localCheckpoint(true)` it replaces at 60+ call sites.
    */
  implicit final class FenceSyntax[T](private val ds: org.apache.spark.sql.Dataset[T])
      extends AnyVal {
    def fenced: org.apache.spark.sql.Dataset[T] = fence(ds)
  }

  /** A pin: `df`'s rows behind a `LogicalRDD`, persisted by the first
    * job that reads them — for rows read more than once, or by several
    * queries, that must not be recomputed or change between reads. A
    * lost block is recomputed from `df`'s plan. Free it with [[release]],
    * or leave it to the frame that reads it: ContextCleaner unpersists
    * it once that frame is unreachable.
    *
    * `fill = true` fills it now, by one job, and the frame reports the
    * blocks' rows and bytes as its statistics, as a filled cached table
    * does: for a table many later queries read (a session memo's), whose
    * joins should broadcast it when it turned out small.
    */
  def pin(df: DataFrame, fill: Boolean = false): DataFrame = materialize(df, fence = false, fill)

  /** [[pin]] for an RDD: `rdd` itself, persisted at [[Level]] by the
    * first job that reads it. Free it with [[release]].
    */
  def pin[T](rdd: RDD[T]): RDD[T] = rdd.persist(Level)

  /** Hash-partition `df` by `keys` into `numParts` partitions and fence
    * the result, advertising that partitioning (what
    * `localCheckpoint(true)` would do if AQE did not erase it).
    */
  def checkpointHashPartitioned(df: DataFrame, numParts: Int,
                                keys: String*): DataFrame = {
    require(keys.nonEmpty, "need at least one partitioning key")
    materialize(df.repartition(numParts, keys.map(df.col): _*), fence = true,
      partitioning = Some((numParts, keys)))
  }

  /** Unpersist the blocks behind a fence — for the INTERMEDIATE
    * tables of an iterative operator (superseded fences, the edge
    * layout once the result is materialized) — or behind a [[pin]]
    * after its last read. Without this,
    * every invocation leaks its checkpoint blocks into the block
    * manager for the session's lifetime: repeated bench passes over
    * the graph lane accumulated gigabytes of dead fence/edge blocks,
    * and the eviction + GC pressure inflated UNRELATED queries'
    * timings by ~20 %. No-op for other plans.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: LogicalRDD =>
        release(l.rdd)
        // reliable fences also leave checkpoint FILES; a superseded
        // iteration fence must delete them or a 100-round loop leaves
        // 100 corpus-sized file sets under the checkpoint dir
        if (l.rdd.getCheckpointFile.isDefined) {
          org.apache.spark.rdd.ReliableRDDCheckpointData
            .cleanCheckpoint(l.rdd.context, l.rdd.id)
        }
      case _ => ()
    }

  /** Unpersist a pinned RDD ([[pin]]), or the blocks of a fence's RDD. */
  def release(rdd: RDD[_]): Unit = rdd.unpersist(blocking = false)

  /** The RDD ids of the fences `ds` reads: a fence's own id, or every
    * fence under a lazy plan built on fences.
    */
  def fenceRdds(ds: org.apache.spark.sql.Dataset[_]): Set[Int] =
    ds.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet
}
