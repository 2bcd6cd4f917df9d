package graft

import org.apache.spark.sql.SparkSession

/** Plan-dump main for the optimization-round deliverables: writes
  * `.explain("formatted")` output for the named queries to
  * `$SPARK_GRAFT_EXPLAIN_OUT/<name>.txt` (suffix via
  * `$SPARK_GRAFT_EXPLAIN_SUFFIX`, e.g. `_before`/`_after`). Names come
  * from `$SPARK_GRAFT_EXPLAIN` (comma-separated; `all` = every
  * registered query). Plan construction only — nothing executes, so
  * this is safe to run alongside nothing-in-particular and cheap
  * enough to run for the full registry.
  *
  * The output directory has no default, so a run never overwrites
  * committed plan evidence by accident. Exits 2 when it is unset and 1
  * when any dump FAILED.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_OUT", {
      System.err.println(
        "usage: SPARK_GRAFT_EXPLAIN_OUT=<dir> [SPARK_GRAFT_EXPLAIN=<names>|all] " +
          "[SPARK_GRAFT_EXPLAIN_SUFFIX=<suffix>] [SPARK_GRAFT_SF_DIR=<dir>] graft.Explain")
      sys.exit(2)
    })
    val suffix = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "")
    val namesEnv = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN", "all")
    // shuffle.partitions pinned to the Bench session's 32 so dumped
    // plans show the same partitioning the bench runs with
    val spark = GraftSession.builder("local[4]", "32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val wanted: Seq[QueryDef] =
      if (namesEnv.trim == "all") Registry.all
      else {
        val names = namesEnv.split(",").map(_.trim).filter(_.nonEmpty)
        names.toSeq.map(n => Registry.byName.getOrElse(n,
          throw new IllegalArgumentException(s"unknown query: $n")))
      }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    var failed = 0
    wanted.foreach { d =>
      val path = java.nio.file.Paths.get(outDir, d.name + suffix + ".txt")
      try {
        val df = d.run(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(path, plan.getBytes("UTF-8"))
        println(s"wrote ${path}")
      } catch {
        case t: Throwable =>
          failed += 1
          System.err.println(s"FAILED ${d.name}: ${t.getClass.getSimpleName}: ${t.getMessage}")
      }
      // Fenced iterative operators: the outer dump collapses to `Scan
      // ExistingRDD`, proving nothing about the per-round shape — dump
      // the one-round inner plan through the operator's spec seam too
      // (<name>_round<suffix>.txt). These EXECUTE the small fence jobs,
      // unlike the plan-only outer dumps.
      innerSeams.get(d.name).foreach { seam =>
        val rpath = java.nio.file.Paths.get(outDir, d.name + "_round" + suffix + ".txt")
        try {
          java.nio.file.Files.write(rpath, seam(spark, sfDir).getBytes("UTF-8"))
          println(s"wrote ${rpath}")
        } catch {
          case t: Throwable =>
            failed += 1
            System.err.println(s"FAILED ${d.name} round plan: ${t.getClass.getSimpleName}: ${t.getMessage}")
        }
      }
    }
    spark.stop()
    if (failed > 0) {
      System.err.println(s"$failed plan dump(s) FAILED")
      sys.exit(1)
    }
  }

  /** Per-round inner-plan seams for the fenced iterative operators —
    * each builds ONE round exactly the way the operator's loop does
    * (shared round-body functions) and returns its executed-plan
    * string, or for the PageRank kernel the round's RDD lineage.
    */
  private val innerSeams: Map[String, (SparkSession, String) => String] = Map(
    "gr_pagerank" -> ((s, d) =>
      operators.Graph.rankRoundLineageForSpec(operators.Graph.purchaseEdges(s, d))),
    "gr_pagerank_conv" -> ((s, d) =>
      operators.Graph.rankCheckLineageForSpec(operators.Graph.purchaseEdges(s, d))),
    "gr_hits" -> ((s, d) =>
      operators.Graph.hitsRoundPlanForSpec(operators.Graph.purchaseEdges(s, d))),
    "gr_kcore" -> ((s, d) =>
      operators.Graph.kcoreRoundPlanForSpec(operators.Graph.partEdges(s, d), 3)),
    "dd_cluster" -> ((s, d) =>
      operators.Curation.ccRoundPlanForSpec(
        operators.Dedup.minhashPairs(s, d).select("doc_a", "doc_b")))
  )
}
