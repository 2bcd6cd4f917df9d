package graft

import graft.operators.{Curation, Graph, Ml, RoundOutcome, Rounds}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps.fenceRdds

/** The fence scope of the iterative operators: a run leaves persisted
  * only the fence its result reads, a throwing round leaves nothing
  * and restores the iteration confs, and a loop reports how it ended.
  */
class RoundsSpec extends SparkSpec {

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def unpersist(ids: Set[Int]): Unit =
    ids.foreach(id => spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(true)))

  /** Runs `op` and asserts that the one RDD it left persisted is the
    * fence behind its result.
    */
  private def leavesOnlyResult(op: => DataFrame): Unit = {
    val before = persisted()
    val out = op
    val left = persisted() -- before
    try {
      assert(left.size == 1 && left == fenceRdds(out),
        s"left persisted: $left; the result reads ${fenceRdds(out)}")
    } finally unpersist(left)
  }

  private def undirected(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
  }

  // hub 0 with leaves 1..4
  private def star: DataFrame = undirected((1L to 4L).map(l => (0L, l)))

  private val IterConfs = Seq("spark.sql.adaptive.enabled",
    "spark.sql.codegen.wholeStage", "spark.sql.constraintPropagation.enabled")

  test("pageRank, personalizedPageRank, pageRankWeighted at 13 rounds leave only the result fence") {
    import spark.implicits._
    // 13 rounds: mid-loop fences at rounds 6 and 12, the first superseded
    leavesOnlyResult(Graph.pageRank(star, 13))
    leavesOnlyResult(Graph.personalizedPageRank(star, Seq(1L).toDF("id"), 13))
    val weighted = Seq((0L, 1L, 3L), (0L, 2L, 1L), (1L, 0L, 3L), (2L, 0L, 1L))
      .toDF("src", "dst", "w")
    leavesOnlyResult(Graph.pageRankWeighted(weighted, 13))
  }

  test("labelPropagation at 5 and 7 rounds releases its mid-loop label fences") {
    val edges = undirected(Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L),
      (11L, 12L), (10L, 12L), (3L, 10L)))
    leavesOnlyResult(Graph.labelPropagation(edges, 5))
    leavesOnlyResult(Graph.labelPropagation(edges, 7))
  }

  test("hits, kCoreWithDepth, bfsDistances, pageRankConverged leave only the result fence") {
    import spark.implicits._
    leavesOnlyResult(Graph.hits(undirected(Seq((2L, 3L), (2L, 5L), (2L, 7L), (4L, 3L)))))
    // K4 plus a pendant chain: the adaptive width re-lays the edge fence
    val k4 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    leavesOnlyResult(Graph.kCoreWithDepth(
      (k4 ++ Seq((3L, 4L), (4L, 5L))).toDF("a", "b"), 3)._1)
    val path = (0L until 4L).map(i => (i, i + 1)).toDF("src", "dst")
    leavesOnlyResult(Graph.bfsDistances(path, Seq(0L).toDF("id"), maxHops = 2))
    // the frontier drains at hop 2: the empty terminal frontier goes too
    leavesOnlyResult(Graph.bfsDistances(path, Seq(3L).toDF("id"), maxHops = 10))
    // a directed 3-cycle is a PageRank fixpoint: the cycle check at
    // round 6 finds r_6 == r_0
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    leavesOnlyResult(Graph.pageRankConverged(cycle))
    assert(Graph.pageRankConverged(cycle).collect().map(_.getLong(1)).toSet == Set(1000000L))
  }

  test("connectedComponents leaves only the final labels fence") {
    import spark.implicits._
    leavesOnlyResult(Curation.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")))
  }

  test("trainChain then resetTrainChain leaves nothing persisted") {
    val sf = "/root/testdata/sf0.001"
    // one warm cycle, so any per-session input memo is in place first
    Ml.trainChain(spark, sf)
    Ml.trainChain.reset(spark, sf)
    val before = persisted()
    Ml.trainChain(spark, sf)
    Ml.trainChain.reset(spark, sf)
    val left = persisted() -- before
    unpersist(left)
    assert(left.isEmpty, s"left persisted after reset: $left")
  }

  test("pageRankConverged raises when maxIters passes with no cycle") {
    // the star oscillates with damped amplitude: no period-2 cycle by
    // round 6, so the one check (round 6) fails and the loop is out of
    // rounds
    val before = persisted()
    val err = intercept[IllegalStateException](Graph.pageRankConverged(star, maxIters = 6))
    assert(err.getMessage.contains("maxIters = 6") && err.getMessage.contains("every 6"),
      err.getMessage)
    assert((persisted() -- before).isEmpty)
  }

  test("the PageRank kernel raises on a null id or an overflow, leaving nothing persisted") {
    import spark.implicits._
    def causes(t: Throwable) = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toList
    val before = persisted()
    val nullDst = Seq((1L, Option(2L)), (2L, Option.empty[Long])).toDF("src", "dst")
    val missing = intercept[Exception](Graph.pageRank(nullDst))
    assert(causes(missing).exists(t => String.valueOf(t.getMessage).contains("null dst")), missing)
    assert((persisted() -- before).isEmpty, s"left persisted: ${persisted() -- before}")
    // w = 5e12 against Σw = 1: sources 0 and 3 each send 5e18 ppm to
    // vertex 1, and the sum of the two overflows a long
    val big = 5000000000000L
    val weighted = Seq((0L, 1L, big), (0L, 2L, 1 - big), (3L, 1L, big), (3L, 2L, 1 - big),
      (1L, 0L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    val overflow = intercept[Exception](Graph.pageRankWeighted(weighted, 1))
    assert(causes(overflow).exists(t => t.isInstanceOf[ArithmeticException] &&
      t.getStackTrace.exists(_.getMethodName == "addExact")), overflow)
    assert((persisted() -- before).isEmpty, s"left persisted: ${persisted() -- before}")
  }

  test("a round that throws leaves no fence persisted and restores the iteration confs") {
    val confs = IterConfs.map(spark.conf.get)
    val before = persisted()
    var inLoop = Seq.empty[String]
    val err = intercept[IllegalStateException] {
      Rounds.iterate(star) { (fs, e) =>
        val eFence = fs.fence(e, 4, "src")
        val init = fs.fence(eFence.select(col("src").as("id")).distinct(), 4, "id")
        fs.loop(init, 5)(_ => false) { (i, s) =>
          inLoop = IterConfs.map(spark.conf.get)
          if (i == 3) throw new IllegalStateException("round 3 failed")
          fs.fence(s.join(eFence.selectExpr("src AS id"), "id").distinct())
        }
      }
    }
    assert(err.getMessage == "round 3 failed")
    assert(inLoop == Seq("false", "false", "false"))
    assert((persisted() -- before).isEmpty, s"left persisted: ${persisted() -- before}")
    assert(IterConfs.map(spark.conf.get) == confs)
  }

  test("a loop reports its rounds and whether it converged") {
    Rounds.scope { fs =>
      assert(fs.loop(0, 10)(_ >= 4)((_, s) => s + 1) == (4, RoundOutcome(4, converged = true)))
      assert(fs.loop(0, 3)(_ >= 4)((_, s) => s + 1) == (3, RoundOutcome(3, converged = false)))
      assert(fs.loop(5, 3)(_ >= 4)((_, s) => s + 1) == (5, RoundOutcome(0, converged = true)))
    }
  }
}
