package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps.{checkpointHashPartitioned, fence, release}

/** The partitioning-preserving checkpoint behind the iterative graph
  * operators: the advertised `HashPartitioning` must be BOTH truthful
  * (rows really live in `murmur3(key) pmod n`) and load-bearing (a
  * downstream groupBy/join on the key plans with no extra exchange).
  */
class CheckpointOpsSpec extends SparkSpec {

  test("values round-trip exactly and partition count is pinned") {
    import spark.implicits._
    val df = (0L until 10000L).map(i => (i % 97, i)).toDF("k", "v")
    val cp = checkpointHashPartitioned(df, 16, "k")
    assert(cp.rdd.getNumPartitions == 16)
    val got = cp.groupBy("k").agg(sum("v").as("s")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = (0L until 10000L).groupBy(_ % 97).map { case (k, vs) => (k, vs.sum) }
    assert(got == want)
  }

  test("advertised layout is truthful: rows sit in murmur3(key) pmod n") {
    import spark.implicits._
    val df = (0L until 5000L).map(i => (i, i * 3)).toDF("k", "v")
    val cp = checkpointHashPartitioned(df, 8, "k")
    // recompute each row's expected partition with Spark's own hash
    // expression and compare to where the checkpoint physically put it
    val misplaced = cp
      .withColumn("pid", spark_partition_id())
      .withColumn("want", pmod(hash(col("k")), lit(8)))
      .where("pid != want")
      .count()
    assert(misplaced == 0, s"$misplaced rows not in their advertised partition")
  }

  test("a groupBy on the key plans with ZERO exchanges") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i % 10, i)).toDF("k", "v")
    val p = checkpointHashPartitioned(df, 8, "k")
      .groupBy("k").agg(sum("v"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"advertised partitioning not honored — groupBy re-shuffled:\n$p")
  }

  test("a co-partitioned self-join on the key plans with ZERO exchanges") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i % 50, i)).toDF("k", "v")
    val cp = checkpointHashPartitioned(df, 8, "k")
    val p = cp.join(cp.selectExpr("k", "v AS v2").hint("shuffle_hash"), "k")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"co-partitioned join re-shuffled:\n$p")
  }

  /** Run `body` with the reliable-checkpoint conf + a temp checkpoint
    * dir set, restoring both afterward (the session is shared across
    * suites — leaked conf would silently flip every other spec's
    * fences to file-backed mode).
    */
  private def withReliable[A](body: String => A): A = {
    val dir = SparkSpec.tmpDir("graft_ckpt").toString
    val hadDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir) // dir BEFORE the mode flip
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try body(dir)
    finally {
      spark.conf.set("spark.graft.checkpoint.reliable", "false")
      hadDir.foreach(spark.sparkContext.setCheckpointDir)
    }
  }

  private def ckptFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.startsWith("part-"))
  }

  test("fence: local mode round-trips values and release is a no-op-safe unpersist") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i % 7, i)).toDF("k", "v")
    val f = fence(df)
    assert(f.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      (0L until 1000L).map(i => (i % 7, i)).sorted)
    release(f.toDF())
  }

  test("reliable mode without a checkpoint dir fails with a clear message") {
    val s2 = spark.newSession() // session-scoped conf: the flip stays local
    s2.conf.set("spark.graft.checkpoint.reliable", "true")
    import s2.implicits._
    val df = Seq((1L, 2L)).toDF("k", "v")
    // setCheckpointDir is context-global with no public unset; the
    // test-only helper clears it so this assertion cannot depend on
    // suite execution order, then restores whatever was there
    val had = s2.sparkContext.getCheckpointDir
    org.apache.spark.graft.TestSparkInternals.clearCheckpointDir(s2.sparkContext)
    try {
      val e = intercept[IllegalStateException](fence(df))
      assert(e.getMessage.contains("spark.checkpoint.dir"))
    } finally had.foreach(s2.sparkContext.setCheckpointDir)
  }

  test("fence: reliable mode writes checkpoint FILES and release deletes them") {
    withReliable { dir =>
      import spark.implicits._
      val df = (0L until 1000L).map(i => (i % 7, i)).toDF("k", "v")
      val f = fence(df)
      assert(f.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
        (0L until 1000L).map(i => (i % 7, i)).sorted,
        "reliable fence must round-trip values exactly")
      assert(ckptFiles(dir).nonEmpty,
        "reliable mode must leave checkpoint part-files under the checkpoint dir")
      release(f.toDF())
      assert(ckptFiles(dir).isEmpty,
        "release must delete a superseded reliable fence's files — a " +
          "100-round loop would otherwise leave 100 corpus copies")
    }
  }

  test("reliable checkpointHashPartitioned: advertisement still holds (zero exchanges) " +
      "and the layout survives a re-read from files") {
    withReliable { dir =>
      import spark.implicits._
      val df = (0L until 5000L).map(i => (i % 97, i)).toDF("k", "v")
      val cp = checkpointHashPartitioned(df, 8, "k")
      assert(ckptFiles(dir).nonEmpty, "reliable mode must write files")
      val plan = cp.groupBy("k").agg(sum("v").as("s"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"advertised partitioning not honored under reliable mode:\n$plan")
      // values + physical layout: identical checks to the local-mode
      // tests, now backed by files — unpersist the blocks FIRST so the
      // read actually exercises the ReliableCheckpointRDD recompute path
      cp.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = true)
        case other => fail(s"expected LogicalRDD, got ${other.getClass}")
      }
      val misplaced = cp
        .withColumn("pid", spark_partition_id())
        .withColumn("want", pmod(hash(col("k")), lit(8)))
        .where("pid != want").count()
      assert(misplaced == 0,
        s"$misplaced rows not in their advertised partition after file re-read")
      val got = cp.groupBy("k").agg(sum("v").as("s")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val want = (0L until 5000L).groupBy(_ % 97).map { case (k, vs) => (k, vs.sum) }
      assert(got == want)
      release(cp)
      assert(ckptFiles(dir).isEmpty, "release must clean the reliable files")
    }
  }

  /** The reliable fence materializes through a manual RDD path; it
    * must still post the SQL-execution-end event, or a
    * `Dataset.observe` metric riding the fence (the per-round scalars
    * of gr_hits/k-core/BFS/connected components) never completes and
    * `obs.get` blocks forever. Bounded with a timeout so a regression
    * fails instead of hanging the suite.
    */
  test("reliable fence completes Observation metrics instead of deadlocking obs.get") {
    withReliable { _ =>
      import spark.implicits._
      val obs = org.apache.spark.sql.Observation("ckpt_reliable_obs")
      val df = (0L until 500L).map(i => (i % 7, i)).toDF("k", "v")
        .observe(obs, sum("v").as("s"))
      val f = fence(df).toDF()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val s = Await.result(Future(obs.get("s")), 60.seconds)
      assert(s == (0L until 500L).sum,
        "observed metric must carry the fence job's aggregate")
      release(f)
    }
  }

  test("checkpointHashPartitioned completes Observation metrics on its input") {
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation("ckpt_hashpart_obs")
    val df = (0L until 500L).map(i => (i % 7, i)).toDF("k", "v")
      .observe(obs, count(lit(1)).as("n"))
    val cp = checkpointHashPartitioned(df, 4, "k")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val n = Await.result(Future(obs.get("n")), 60.seconds)
    assert(n == 500L)
    release(cp)
  }

  /** Run `body` with the fence storage-level override set, restoring
    * the unset default afterward (shared session — a leaked override
    * would flip every other spec's fences to the overridden level).
    */
  private def withFenceLevel[A](level: String)(body: => A): A = {
    spark.conf.set("spark.graft.fence.storageLevel", level)
    try body
    finally spark.conf.unset("spark.graft.fence.storageLevel")
  }

  private def blockLevel(df: org.apache.spark.sql.DataFrame): org.apache.spark.storage.StorageLevel =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.getStorageLevel
      case other => fail(s"expected LogicalRDD, got ${other.getClass}")
    }

  test("fence storage-level override: DISK_ONLY fences hold no memory blocks " +
      "and values still round-trip") {
    withFenceLevel("DISK_ONLY") {
      import spark.implicits._
      val df = (0L until 1000L).map(i => (i % 7, i)).toDF("k", "v")
      val f = fence(df).toDF()
      val lvl = blockLevel(f)
      assert(lvl.useDisk && !lvl.useMemory,
        s"DISK_ONLY override must keep fence blocks out of storage memory, got $lvl")
      assert(f.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
        (0L until 1000L).map(i => (i % 7, i)).sorted)
      release(f)
    }
  }

  test("fence storage-level override: checkpointHashPartitioned keeps the " +
      "advertised layout (zero exchanges) at DISK_ONLY") {
    withFenceLevel("DISK_ONLY") {
      import spark.implicits._
      val df = (0L until 5000L).map(i => (i % 97, i)).toDF("k", "v")
      val cp = checkpointHashPartitioned(df, 8, "k")
      val lvl = blockLevel(cp)
      assert(lvl.useDisk && !lvl.useMemory,
        s"override must flow through the persist-before-mark path, got $lvl")
      val plan = cp.groupBy("k").agg(sum("v").as("s"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"advertised partitioning not honored under the level override:\n$plan")
      val misplaced = cp
        .withColumn("pid", spark_partition_id())
        .withColumn("want", pmod(hash(col("k")), lit(8)))
        .where("pid != want").count()
      assert(misplaced == 0,
        s"$misplaced rows not in their advertised partition at DISK_ONLY")
      val got = cp.groupBy("k").agg(sum("v").as("s")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val want = (0L until 5000L).groupBy(_ % 97).map { case (k, vs) => (k, vs.sum) }
      assert(got == want)
      release(cp)
    }
  }

  test("fence storage-level unset: fences keep Spark's own localCheckpoint default") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i % 7, i)).toDF("k", "v")
    val f = fence(df).toDF()
    val lvl = blockLevel(f)
    assert(lvl.useDisk && lvl.useMemory,
      s"unset override must leave the MEMORY_AND_DISK default intact, got $lvl")
    release(f)
  }

  test("a fence whose job fails leaves getPersistentRDDs unchanged, in both modes") {
    import org.apache.spark.sql.graft.CheckpointOps.FenceSyntax
    val failing = spark.range(8).select(
      when(col("id") === 5, raise_error(lit("row 5"))).otherwise(col("id")).as("id"))
    def persisted() = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted()
    intercept[Exception](failing.fenced)
    assert(persisted() == before, s"local fence left ${persisted() -- before}")
    withReliable { _ =>
      intercept[Exception](failing.fenced)
      intercept[Exception](checkpointHashPartitioned(failing, 4, "id"))
    }
    assert(persisted() == before, s"reliable fences left ${persisted() -- before}")
  }

  test("unknown key is rejected") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("k", "v")
    // df.col resolution fails first with Spark's own AnalysisException;
    // the helper's require is the backstop for post-resolution drift
    intercept[org.apache.spark.sql.AnalysisException] {
      checkpointHashPartitioned(df, 4, "nope")
    }
  }
}
