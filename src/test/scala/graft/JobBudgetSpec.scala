package graft

/** The Spark jobs a warm run of each budgeted query starts, held under a
  * committed ceiling: a job-count regression fails here instead of
  * hiding in timing noise. The queries are the perfbench catalog mix,
  * the PageRank family, the queries that pin a table and the per-key
  * recurrence folds, at sf0.001 on the shared test session, plus a
  * warm `Qa.answerWithSources` (no job: it scores the driver-resident
  * snapshot) and a forced knowledge-base rebuild; each query runs once
  * to warm up (memos, schemas), then once counted, both through a noop
  * write as the benchmark runs them, with its result memo reset before
  * each run. A change that cuts a query's jobs lowers its ceiling in the
  * same diff. After each run, no RDD the PageRank kernel built holds
  * storage blocks.
  */
class JobBudgetSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val ceilings = Seq(
    "q1_agg" -> 2,
    "q5_nation_revenue" -> 6,
    "ev_sessionize" -> 2,
    "v3_knn_topk" -> 2,
    "tp_bpe_train" -> 3,
    "gr_pagerank" -> 2,
    "gr_pagerank_w" -> 2,
    "gr_ppr_segment" -> 2,
    "gr_pagerank_conv" -> 15,
    // the queries that pin instead of persisting; ev_stickiness is one
    // above its earlier count: a warm run now builds its own triples
    // instead of reading the previous run's never-released cache entry
    "ev_stickiness" -> 7,
    "ev_heavyhitters" -> 6,
    "dd_minhash_lsh" -> 1,
    "dd_cluster" -> 13,
    "ml_kmeans" -> 9,
    "v10_mmr" -> 3,
    // the per-key recurrence folds (one batch driver)
    "ev_ewma" -> 2,
    "ev_holt" -> 2,
    "ev_holt_winters" -> 3,
    "ev_anomaly" -> 4,
    "ev_cusum" -> 2)

  private def noop(d: QueryDef): Unit = {
    d.resetMemo.foreach(_(spark, sf))
    d.run(spark, sf).write.mode("overwrite").format("noop").save()
  }

  for ((name, ceiling) <- ceilings) test(s"$name runs at most $ceiling jobs warm") {
    val d = Registry.byName(name)
    noop(d)
    val jobs = jobsRunBy(noop(d))
    assert(jobs <= ceiling, s"$name ran $jobs jobs; its ceiling is $ceiling")
    // the PageRank kernel releases its CSR and block states
    val kernel = spark.sparkContext.getRDDStorageInfo.filter(_.callSite.contains("RankKernel"))
    assert(kernel.isEmpty, kernel.mkString("; "))
  }

  test("a forced Pipeline.setupKnowledgeBase rebuild runs at most 5 jobs") {
    // the chunk count comes from the store's _COMMIT token, not a count job
    val work = SparkSpec.tmpDir("graft_kb").toString
    val docs = Tables.documents(spark, sf)
    Pipeline.setupKnowledgeBase(spark, docs, work, forceRebuild = true)
    val jobs = jobsRunBy(Pipeline.setupKnowledgeBase(spark, docs, work, forceRebuild = true): Unit)
    assert(jobs <= 5, s"a forced rebuild ran $jobs jobs; its ceiling is 5")
  }

  test("Qa.answerWithSources runs no job warm") {
    import spark.implicits._
    val store = SparkSpec.tmpDir("graft_store").toString + "/store"
    sources.ChunkStore.addDocuments(spark,
      Seq(("alpha chunk text", "a.pdf"), ("beta chunk text", "b.pdf")).toDF("text", "source"),
      store, Seq("source", "text"))
    operators.Qa.answerWithSources(spark, store, "alpha")
    val jobs = jobsRunBy(operators.Qa.answerWithSources(spark, store, "beta chunk"): Unit)
    assert(jobs == 0, s"answerWithSources ran $jobs jobs; its ceiling is 0")
  }
}
