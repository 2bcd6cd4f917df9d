package graft

/** Plan-shape regression guards: the scale properties PLANS.md documents
  * must survive refactors — broadcasts stay broadcasts, pushdown stays
  * pushed, top-k never becomes a global sort. A silent regression here
  * is invisible at test scale and catastrophic at 100 TB.
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = Registry.byName(name).run(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("q1_agg: shipdate predicate reaches the parquet scan; columns pruned") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters"))
    assert(p.contains("LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_linenumber"), "unreferenced column not pruned")
  }

  test("q3_top_orders: dimension broadcast + TakeOrderedAndProject, no global Sort") {
    val p = plan("q3_top_orders")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q5_nation_revenue: all dims broadcast — only the fact edge may shuffle") {
    val p = plan("q5_nation_revenue")
    assert(p.split("BroadcastHashJoin").length >= 4, "expected ≥3 broadcast joins")
  }

  test("v3_knn_topk: top-k is TakeOrderedAndProject over the native cosine") {
    val p = plan("v3_knn_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("cosine_f"))
  }

  test("similaritySearch: one single-stage job, no shuffle, no SQL, snapshot only") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val sc = spark.sparkContext
    val store = SparkSpec.tmpDir("graft_store").toString + "/store"
    val chunks = Seq(("alpha chunk text", "a.pdf"), ("beta chunk text", "b.pdf"))
      .toDF("text", "source")
    graft.sources.ChunkStore.addDocuments(spark, chunks, store, Seq("source", "text"))
    val before = sc.getPersistentRDDs.keySet
    graft.sources.ChunkStore.similaritySearch(spark, store, "alpha", topK = 5)
    val snapshot = sc.getPersistentRDDs.keySet -- before
    assert(snapshot.size == 1, s"the first search persisted $snapshot")
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { starts.add(e); () }
    }
    val jobs = jobsRunBy {
      sc.addSparkListener(l)
      try graft.sources.ChunkStore.similaritySearch(spark, store, "beta", topK = 5).collect()
      finally sc.removeSparkListener(l)
    }
    assert(jobs == 1 && starts.size == 1, s"$jobs jobs")
    val job = starts.peek
    assert(job.properties.getProperty("spark.sql.execution.id") == null,
      "the search job runs inside a SQL execution")
    val stage = job.stageInfos match {
      case Seq(one) => one
      case more => fail(s"${more.size} stages")
    }
    // no shuffle dependency: one stage, and no shuffled RDD in its lineage
    assert(!stage.rddInfos.exists(_.name.startsWith("Shuffled")), stage.rddInfos.map(_.name))
    val persisted = stage.rddInfos.filter(_.storageLevel.isValid).map(_.id).toSet
    assert(persisted == snapshot, s"persisted ancestors $persisted; the snapshot is $snapshot")
  }

  test("q1_agg: partial aggregation before the exchange (map-side combine)") {
    val p = plan("q1_agg")
    val exchangeIdx = p.indexOf("Exchange")
    val firstAggIdx = p.indexOf("HashAggregate")
    assert(exchangeIdx >= 0 && firstAggIdx >= 0)
    // final agg appears above (before, in toString order) the exchange,
    // partial below — so HashAggregate must appear on both sides
    assert(p.indexOf("HashAggregate", exchangeIdx) > 0, "no partial aggregate below exchange")
  }

  test("dd_exact: single hash-aggregate shuffle on the text hash, no join") {
    val p = plan("dd_exact")
    assert(!p.contains("Join"))
    assert(p.contains("HashAggregate"))
  }

  test("dedup pipelines: candidate joins are hash/merge joins, never cartesian") {
    Seq("dd_minhash_lsh", "dd_simhash_pairs", "dd_ngram_jaccard", "v4_lsh_ann",
        "dd_embed_neardup", "dd_containment", "dd_novelty",
        "mm_ahash_neardup").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join")
    }
  }

  test("native text-hash kernels run inside WholeStageCodegen") {
    // dd_minhash_lsh reads the pinned verified pairs: its minhashes run
    // in the candidate plan that fills the pin
    Seq("dd_minhash_lsh" -> "minhash16", "dd_simhash" -> "simhash60").foreach {
      case (q, fn) =>
        val df =
          if (q == "dd_minhash_lsh") graft.operators.Dedup.minhashCandidates(spark, sf)
          else Registry.byName(q).run(spark, sf)
        val codegen = df.queryExecution.explainString(
          org.apache.spark.sql.execution.CodegenMode)
        assert(codegen.contains("WholeStageCodegen"), s"$q has no codegen stage")
        assert(df.queryExecution.executedPlan.toString.contains(fn), s"$q does not use $fn")
    }
  }

  test("assignToCentroids / v5_ivf_knn: corpus side is exchange-free (broadcast NLJ + argmax_cos, no Window)") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf)
    val assigned = graft.operators.Knn.assignToCentroids(
      e, e.where("vec_id < 8")
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb")))
    val p = assigned.queryExecution.executedPlan.toString
    // the ONE-row centroid fold broadcasts into a nested-loop join; the
    // assignment itself is the row-local argmax_cos projection
    assert(p.contains("BroadcastNestedLoopJoin"), "centroid row not broadcast")
    assert(p.contains("argmax_cos"), "assignment does not use the native argmax")
    // the regression this pins: the old crossJoin×K + row_number form
    // shuffled K copies of the corpus — a Window over hashpartitioning
    assert(!p.contains("Window"), "rank-window assignment reintroduced")
    assert(!p.contains("Exchange hashpartitioning"),
      "corpus-side shuffle reintroduced (only the centroid fold's SinglePartition exchange is allowed)")
    // and the full v5 query keeps the same property end-to-end
    val pq = plan("v5_ivf_knn")
    assert(!pq.contains("Window") && !pq.contains("Exchange hashpartitioning"),
      "v5_ivf_knn corpus side must stay exchange-free")
  }

  test("mm_resize / mm_frame_sample: byte-native plans — no hex round-trip") {
    Seq("mm_resize", "mm_frame_sample").foreach { q =>
      val p = plan(q)
      assert(!p.contains("hex("), s"$q still addresses bytes through hex strings")
    }
    assert(plan("mm_resize").contains("byte_stride"), "mm_resize does not use the byte kernel")
  }

  test("tp_curate: keep/drop sets apply as semi/anti joins") {
    val p = plan("tp_curate")
    assert(p.contains("LeftSemi"), "exact-keep is not a semi join")
    assert(p.contains("LeftAnti"), "near-dup drop is not an anti join")
  }

  test("tp_sample_stratified: pure scan + filter, no shuffle at all") {
    val p = plan("tp_sample_stratified")
    assert(!p.contains("Exchange"), "hash sampling must not shuffle")
  }

  test("tp_contamination: benchmark set broadcasts; corpus joins without sort") {
    val p = plan("tp_contamination")
    // the tiny eval shingle set must reach the corpus as a broadcast
    // hash join — a sort-merge join here would shuffle corpus shingles
    assert(p.contains("BroadcastHashJoin"), s"benchmark join not broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin"), "corpus-side shingle join regressed to sort-merge")
  }

  test("tp_mix_weights: pure scan + filter — the sampler never shuffles") {
    val p = plan("tp_mix_weights")
    assert(!p.contains("Exchange"), s"weighted sampling must be scan-local:\n$p")
  }

  test("v7_pq_adc: one broadcast codebook row, no corpus exchange, top-k not sort") {
    val p = plan("v7_pq_adc")
    assert(p.contains("BroadcastNestedLoopJoin")) // the 1-row codebook
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("argmax_cos"), "quantizer must be the native expression")
    // the corpus side may never hash-shuffle: encoding + ADC are row-local
    assert(!p.contains("Exchange hashpartitioning"), s"corpus exchange in:\n$p")
  }

  test("v8_ivfpq: probe filter is a broadcast join, scoring row-local, no corpus exchange") {
    val p = plan("v8_ivfpq")
    // centroid row + probe row + codebook row all arrive as broadcasts
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("argmax_cos"), "assignment + quantizer must be the native expression")
    assert(!p.contains("Exchange hashpartitioning"), s"corpus exchange in:\n$p")
    assert(!p.contains("Window"), "assignment regressed to the rank-window form")
  }

  test("q8_bloom_semijoin: probe side is scan + broadcast bitmap — no probe shuffle") {
    val p = plan("q8_bloom_semijoin")
    assert(p.contains("BroadcastNestedLoopJoin"), "bitmap row must broadcast")
    // the probe scan evaluates all 4 membership bits inline: the only
    // Generate allowed is the build side's stack() over ~tiny keys, and
    // nothing on the probe path may hash-shuffle the orders scan
    assert(p.split("Generate").length - 1 <= 1, "probe side must not explode per hash")
    // the only hash shuffle allowed is the 131-word bitmap assembly on w;
    // the orders/customer key columns must never be exchange keys
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(l.contains("hashpartitioning(w#"), s"non-bitmap shuffle: $l")
    }
  }

  test("ev_funnel: pure aggregation — no window, no join over the history") {
    val p = plan("ev_funnel")
    assert(!p.contains("Window"), "funnel must not sort event history")
    assert(!p.contains("Join"), "funnel must not self-join")
  }

  test("ev_retention: first-seen via aggregate + join, never a history window") {
    val p = plan("ev_retention")
    assert(!p.contains("Window"), "retention must not sort event history")
  }

  test("tp_pack_tokens: running sum windows by SALT, never a global sort") {
    val p = plan("tp_pack_tokens")
    assert(p.contains("Window"))
    assert(p.contains("hashpartitioning(salt"), "packing window must partition by salt")
    assert(!p.contains("SinglePartition"), "global single-partition window reintroduced")
  }

  test("ev_lag_lead: lag and lead share ONE window pass (single Window node)") {
    val p = plan("ev_lag_lead")
    assert(p.split("\\bWindow\\b").length - 1 == 1,
      "lag/lead with the same spec must fuse into one Window operator")
    assert(p.contains("hashpartitioning(user_id"), "window must partition by user")
  }

  test("w2_moving_avg: window partitioned by custkey (no single-partition sort)") {
    val p = plan("w2_moving_avg")
    assert(p.contains("Window"))
    assert(p.contains("hashpartitioning(o_custkey"), "window must partition by key")
  }

  test("q10: EXISTS runs as a LEFT SEMI join, not inner + distinct") {
    val p = plan("q10_exists_semi")
    assert(p.contains("LeftSemi"), s"expected a semi join in:\n${p.take(600)}")
    assert(!p.toLowerCase.contains("distinct"), "semi join must not need a distinct")
  }

  test("q11: the zero-order bucket's LEFT OUTER join survives optimization") {
    val p = plan("q11_cust_order_dist")
    assert(p.contains("LeftOuter"),
      "count(o_orderkey) must not let the optimizer rewrite the outer join to inner")
  }

  test("ta_keywords: per-doc rank window with the group-limit pushdown") {
    val p = plan("ta_keywords")
    assert(p.contains("Window"))
    assert(p.contains("hashpartitioning(doc_id"), "rank window must partition per doc")
    // rank <= 5 must push a partial WindowGroupLimit BELOW the exchange:
    // each map task ships at most 5 rows per doc, not the full tf table
    assert(p.contains("WindowGroupLimit"), "top-k group-limit pushdown missing")
  }

  test("dd_paragraph: both shuffles are hash aggregations, no single partition") {
    val p = plan("dd_paragraph")
    assert(!p.contains("SinglePartition"), "paragraph dedup must stay partitioned")
    assert(!p.contains("CartesianProduct"), "no pair space in paragraph dedup")
  }

  test("ev_rfm: quintile tiers by broadcast boundaries — no rank window at all") {
    val p = plan("ev_rfm")
    // the whole point of the boundary formulation: scoring must not
    // plan a Window (an ntile(5) OVER () would be a single-partition
    // sort of the entire user table)
    assert(!p.contains("Window"), "RFM reintroduced a global rank window")
    assert(p.contains("BroadcastExchange") || p.contains("broadcast"),
      "percentile boundaries must broadcast")
  }

  test("ev_churn_anti: NOT EXISTS runs as a LEFT ANTI join on reduced state") {
    val p = plan("ev_churn_anti")
    assert(p.contains("LeftAnti"), s"expected an anti join in:\n${p.take(600)}")
  }

  test("s11 z-order layout: min-max skipping prunes scans on BOTH dimensions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    // sf0.01 for granularity: 10 000 events over 16 files give row-group
    // statistics tight enough that band predicates actually prune
    val ev = Tables.events(spark, "/root/testdata/sf0.01").selectExpr(
      "event_id", "user_id", "event_type", "value", "cast(day(ts) AS int) AS d")
    val total = ev.count()
    val base = SparkSpec.tmpDir("graft_zspec").toString
    sources.Layout.zOrderWrite(ev, s"$base/z", 16, col("user_id"), col("d"))
    // control: single-column sort — perfect for user predicates, blind
    // to day predicates (every file spans all 30 days)
    ev.repartitionByRange(16, col("user_id")).sortWithinPartitions("user_id")
      .write.mode("overwrite").parquet(s"$base/u")
    // scan-level numOutputRows = rows surviving parquet row-group
    // min/max pruning (before Spark's own Filter) — the files/bytes a
    // 100 TB cluster would actually read
    def scanned(path: String, pred: String): Long = {
      val df = spark.read.parquet(path).where(pred)
      df.collect()
      val scan = df.queryExecution.executedPlan
        .collectFirst { case s: FileSourceScanExec => s }.get
      assert(scan.metadata("PushedFilters").nonEmpty, "predicate not pushed to parquet")
      scan.metrics("numOutputRows").value
    }
    val zUser = scanned(s"$base/z", "user_id BETWEEN 3 AND 5")
    val zDay = scanned(s"$base/z", "d BETWEEN 10 AND 12")
    val uDay = scanned(s"$base/u", "d BETWEEN 10 AND 12")
    assert(zUser < total / 2, s"z layout: user band read $zUser of $total rows — no pruning")
    assert(zDay < total / 2, s"z layout: day band read $zDay of $total rows — no pruning")
    assert(uDay > (total * 9) / 10,
      s"control is expected to read ~everything for a day band (got $uDay of $total) — " +
        "if this starts pruning, the z-order comparison below is no longer meaningful")
    assert(zDay < uDay / 2,
      s"z layout must beat the single-column control on the off-sort dimension ($zDay vs $uDay)")
  }

  test("q19: Catalyst derives the brand IN filter from the disjunction; part broadcasts") {
    val p = plan("q19_disjunctive")
    // the OR-of-conjuncts must not defeat scan-level pruning: the
    // brand constraint common to all three conjuncts reaches the part
    // scan as an In/Or pushed filter, and part stays the broadcast side
    assert(p.contains("BroadcastHashJoin"))
    // Catalyst extracts each side's half of every conjunct and pushes
    // the per-side disjunction into that side's scan: the part scan
    // prunes on Or(..EqualTo(p_brand..)..), the LINEITEM scan prunes on
    // the quantity-band disjunction — row groups outside all three
    // bands never decompress
    assert(p.contains("Or(Or(And(EqualTo(p_brand"),
      s"brand disjunction not pushed to the part scan:\n${p.take(900)}")
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity"),
      s"quantity disjunction not pushed to the lineitem scan:\n${p.take(900)}")
  }

  test("ev_multitouch: touch join is bucketed on (user, week) — bounded pair space") {
    val p = plan("ev_multitouch")
    // the 7-day band must ride a (user_id, week_bucket) equi-join —
    // the hash keys include the bucket columns, so a user's lifetime
    // touch history can never cross-join their purchases; the band
    // residual only sees same/adjacent-week candidates
    assert("(?s)Join.*wk".r.findFirstIn(p).isDefined &&
      p.contains("twk"), s"week-bucket keys missing from the join:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("ev_attribution / ev_markov: exactly one user-keyed exchange feeds the window") {
    for (name <- Seq("ev_attribution", "ev_markov")) {
      val p = plan(name)
      // one Window operator (the two IGNORE-NULLS last() / the lag
      // share a single (user, ts) sort), and no exchange beyond the
      // window partitioning + the tiny final aggregate
      assert(p.split("\\bWindow\\b").length - 1 >= 1 && p.split("Sort ").length - 1 <= 2,
        s"$name: window pass not fused:\n${p.take(600)}")
      assert(!p.contains("CartesianProduct"), name)
    }
  }

  test("gr_triangles: wedge joins are hash joins, never a cartesian") {
    val p = plan("gr_triangles")
    // the only nested-loop join allowed is the 1-row global-stats
    // broadcast (the idiomatic broadcast-scalar pattern); the wedge
    // enumeration and closure must stay keyed equi-joins
    assert(!p.contains("CartesianProduct"),
      s"triangle closure must stay an equi-join:\n${p.take(600)}")
    assert(p.split("BroadcastNestedLoopJoin").length - 1 <= 1,
      "only the broadcast-scalar stats join may be a nested loop")
  }

  test("q6: all three predicates pushed to the scan; single-row decimal aggregate") {
    val p = plan("q6_forecast_revenue")
    // the PushedFilters list is toString-truncated; the leading entries
    // prove all three columns reached the scan as data filters
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
      "IsNotNull(l_quantity), GreaterThanOrEqual"),
      s"predicates not pushed:\n${p.take(700)}")
    assert(p.contains("HashAggregate"))
  }

  test("q4: EXISTS runs as a LEFT SEMI join; the order window prunes the scan") {
    val p = plan("q4_order_priority")
    assert(p.contains("LeftSemi"), s"EXISTS not a semi join:\n${p.take(600)}")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"order-date window not pushed:\n${p.take(700)}")
  }

  test("v12_knn_classify: corpus reduces through the bounded-heap aggregator") {
    val p = plan("v12_knn_classify")
    // the top-k must be the typed ObjectHashAggregate (≤ k rows per
    // query cross the wire) fed by the broadcast query probe — never a
    // corpus-wide rank window or a real cartesian
    assert(p.contains("ObjectHashAggregate"),
      s"bounded-heap aggregator missing:\n${p.take(600)}")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query probe should be the broadcast-scalar pattern:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct"))
    // the broadcast side must be constant-bounded: the holdout budget
    // (vec_id < 4096) has to reach the parquet scan that feeds every
    // broadcast, so the broadcast query/truth sets cap at 4096/23 ≈ 179
    // rows no matter the corpus size — an unbudgeted % 23 slice would
    // broadcast a fixed FRACTION of the corpus (the one plan shape this
    // repo forbids)
    assert(p.contains("LessThan(vec_id,4096)"),
      s"classify holdout budget not pushed to the scan:\n${p.take(900)}")
  }

  test("gr_linkpred: wedge-join width tracks the session shuffle parallelism") {
    // the pair expansion is the query's dominant stage; a constant
    // width would cap it at N tasks regardless of executor count, so
    // the fenced input must carry exactly the session's shuffle
    // parallelism (co-partitioned on c for both self-join sides)
    val kept = graft.operators.Graph.linkpredKept(spark, sf)
    val want = spark.sessionState.conf.numShufflePartitions
    assert(kept.rdd.getNumPartitions == want,
      s"wedge input has ${kept.rdd.getNumPartitions} partitions, session parallelism is $want")
  }

  test("v13_filtered_knn: the label filter scores via a broadcast HASH join") {
    val p = plan("v13_filtered_knn")
    // the metadata constraint must join BEFORE scoring as a hash join
    // keyed on label — each corpus row scores only against queries of
    // its own label. A BroadcastNestedLoopJoin here would mean every
    // row pays every query's cosine and the filter degraded to a
    // post-filter.
    assert(p.contains("BroadcastHashJoin"),
      s"label equi-join should hash, not NLJ:\n${p.take(600)}")
    assert(p.contains("ObjectHashAggregate"),
      s"top-k must stay the bounded-heap aggregator:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("dd_record_linkage: candidates come from a hash equi-join, never block products") {
    val p = plan("dd_record_linkage")
    // the deletion-neighborhood design lives or dies on the variant
    // join being a HASH join keyed on the full string — a nested-loop
    // or cartesian here means candidate generation regressed to pair
    // enumeration
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"),
      s"variant join must be an equi-join:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no pair enumeration allowed:\n${p.take(600)}")
    // the variants must travel as del_hashes 64-bit hashes, not
    // materialized strings — the shuffle-row-size fix for the steepest
    // sf3 query
    assert(p.contains("del_hashes"),
      s"deletion neighborhood should come from the del_hashes kernel:\n${p.take(600)}")
  }

  test("dedup pair miners: no doc-cardinality table is hint-broadcast") {
    // dd_ngram_jaccard / dd_containment once forced broadcast(sizes)
    // (one row per document) and dd_spandup forced broadcast(dup) (the
    // df≥2 span set) — corpus-fraction-sized on exactly the
    // boilerplate-heavy corpora these operators measure, i.e. a driver
    // OOM at 10⁹ docs. The carried-size / AQE forms keep the hint out
    // of the plan entirely; runtime broadcasts AQE picks when a side
    // MEASURES small are fine — the pin is on the unconditional hint.
    Seq("dd_ngram_jaccard", "dd_containment", "dd_spandup").foreach { q =>
      val analyzed = Registry.byName(q).run(spark, sf)
        .queryExecution.analyzed.toString
      assert(!analyzed.contains("ResolvedHint"),
        s"$q still carries a broadcast hint:\n${analyzed.take(600)}")
    }
  }

  test("v15_binary_rerank: Hamming top-M is a bounded heap, probe is a 1-row broadcast") {
    // the CANDIDATE stage (pre-fence, where the corpus lives): the
    // sort+limit must sit at the plan root so it becomes
    // TakeOrderedAndProject — inline under the re-rank projections it
    // planned as a full corpus range-shuffle Sort for 64 rows (caught
    // here in round 11 and fenced with localCheckpoint)
    val c = operators.Knn.binaryHammingCandidates(spark, sf)
      .queryExecution.executedPlan.toString
    assert(c.contains("TakeOrderedAndProject"), s"top-M not a bounded heap:\n${c.take(600)}")
    assert(!c.contains("Exchange rangepartitioning"),
      s"global sort in the candidate stage:\n${c.take(600)}")
    assert(c.contains("BroadcastNestedLoopJoin"), "1-row probe must broadcast")
    // the full query: re-rank top-10 is also a bounded heap over the
    // 64 fenced candidates, never a range exchange
    val p = plan("v15_binary_rerank")
    assert(p.contains("TakeOrderedAndProject"), s"re-rank not a bounded heap:\n${p.take(600)}")
    assert(!p.contains("Exchange rangepartitioning"),
      s"global sort in the re-rank:\n${p.take(600)}")
  }

  test("v16_matryoshka: prefix top-M is a bounded heap, probe a 1-row broadcast") {
    // same discipline as v15: the coarse sort+limit must plan as
    // TakeOrderedAndProject at the candidate-stage root, never a
    // corpus range shuffle for 64 rows
    val c = operators.Knn.matryoshkaCandidates(spark, sf)
      .queryExecution.executedPlan.toString
    assert(c.contains("TakeOrderedAndProject"), s"coarse top-M not a bounded heap:\n${c.take(600)}")
    assert(!c.contains("Exchange rangepartitioning"),
      s"global sort in the coarse stage:\n${c.take(600)}")
    assert(c.contains("BroadcastNestedLoopJoin"), "1-row probe must broadcast")
    val p = plan("v16_matryoshka")
    assert(p.contains("TakeOrderedAndProject"), s"re-rank not a bounded heap:\n${p.take(600)}")
    assert(!p.contains("Exchange rangepartitioning"),
      s"global sort in the re-rank:\n${p.take(600)}")
  }

  test("dd_exact_substr: island merge is doc-parallel, no global sort anywhere") {
    val p = plan("dd_exact_substr")
    // the visible (post-fence) plan is the flagged-set island merge:
    // windows PARTITION BY doc_id over the output-sized flagged rows —
    // a SinglePartition window or a range exchange would mean the
    // merge serializes the corpus through one task
    assert(p.contains("Window"), "expected the per-doc island windows")
    assert(!p.contains("SinglePartition"),
      s"island merge fell back to a single-partition window:\n${p.take(600)}")
    assert(!p.contains("Exchange rangepartitioning"),
      s"global sort in the span assembly:\n${p.take(600)}")
  }

  test("ev_countmin: grid aggregate combines map-side; estimates join the broadcast grid") {
    val p = plan("ev_countmin")
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"cell counts must partial-aggregate before the exchange:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"the <=1024-cell grid must broadcast into the estimate join:\n${p.take(800)}")
  }

  test("tp_shard_shuffle: positions come from per-shard windows, never one global order") {
    val p = plan("tp_shard_shuffle")
    // the window is PARTITION BY shard — N parallel sorts; a
    // SinglePartition exchange would be the s5-style global row_number
    // that serializes the corpus through one task
    assert(!p.contains("SinglePartition"),
      s"shard shuffle fell back to a single-partition window:\n${p.take(600)}")
    assert(p.contains("Window"), "expected the per-shard position window")
  }

  test("v1_embed: the embed64 kernel keeps embedding scan-shaped — no aggregate") {
    val p = plan("v1_embed")
    // r1–r8 embedded via explode → groupBy(doc, bucket) → pivot — two
    // corpus-sized exchanges; the kernel computes the whole vector in
    // the projection, so the only exchange left is the deliberate
    // fan-out repartition
    assert(!p.contains("HashAggregate"),
      s"embedding should be a row-local kernel, not an aggregate pipeline:\n${p.take(600)}")
    assert(p.contains("embed64"))
  }

  test("ev_stickiness: one corpus pass — DAU and WAU read one pinned relation") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    // DAU and WAU must both consume the pinned (week, day, user)
    // distinct — two reads of ONE pinned RDD — so the raw events table
    // is scanned and exchanged exactly once; the r8 shape (each branch
    // re-deriving its own count-distinct from the scan) doubles the
    // corpus shuffle at 100 TB
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD")) { scans.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    val df = try {
      val df = Registry.byName("ev_stickiness").run(spark, sf)
      df.write.mode("overwrite").format("noop").save()
      drainListenerBus()
      df
    } finally spark.sparkContext.removeSparkListener(l)
    val pins = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    assert(pins.size == 2 && pins.distinct.size == 1,
      s"branches not reading one pinned relation: $pins\n${df.queryExecution.analyzed}")
    assert(!df.queryExecution.executedPlan.toString.contains("FileScan"),
      "a branch scans the events file itself")
    assert(scans.get == 1, s"the events file was scanned in ${scans.get} stages")
  }

  test("q7/q8: every dimension broadcasts — only the fact edge shuffles") {
    for ((name, minBroadcasts) <- Seq("q7_nation_trade" -> 2, "q8_market_share" -> 4)) {
      val p = plan(name)
      assert(p.split("BroadcastHashJoin").length - 1 >= minBroadcasts,
        s"$name: expected ≥$minBroadcasts broadcast joins:\n${p.take(600)}")
      assert(!p.contains("CartesianProduct"), name)
    }
  }

  test("ev_ewma: secondary-sort fold — no per-group materialization node") {
    val p = plan("ev_ewma")
    // the fold must be Exchange → partition-local Sort → MapPartitions:
    // a MapGroups/FlatMapGroups node would mean one user's whole
    // history is buffered on the heap to sort it (OOM risk for a
    // hyper-active user at scale), where the shuffle's external sort
    // spills and the fold itself holds O(1) state
    assert(p.contains("MapPartitions"),
      s"expected a streaming mapPartitions fold:\n${p.take(600)}")
    assert(!p.contains("MapGroups"),
      s"per-group materialization reintroduced:\n${p.take(600)}")
    assert("Sort \\[user_id".r.findFirstIn(p).isDefined &&
      p.matches("(?s).*Sort \\[user_id[^\\n]*\\], false,.*"),
      s"expected a partition-local (global=false) secondary sort:\n${p.take(600)}")
  }

  test("ev_holt_winters: hourly reduction partial-aggregates BEFORE the series exchange") {
    val p = plan("ev_holt_winters")
    // fold shape: O(1)-state mapPartitions over a partition-local sort,
    // never a MapGroups heap buffer
    assert(p.contains("MapPartitions"),
      s"expected a streaming mapPartitions fold:\n${p.take(600)}")
    assert(!p.contains("MapGroups"),
      s"per-group materialization reintroduced:\n${p.take(600)}")
    // the corpus-sized exchange is the (event_type, hr) aggregate with a
    // map-side partial; the event_type series exchange then moves only
    // the reduced hourly rows. Folding the aggregation INTO the series
    // exchange (repartition first) would shuffle raw events instead.
    assert(p.contains("partial_"),
      s"expected a map-side partial aggregate before the exchange:\n${p.take(900)}")
    assert(p.split("Exchange hashpartitioning\\(event_type").length - 1 == 2,
      s"expected the agg exchange + the reduced series exchange:\n${p.take(900)}")
  }

  test("ev_cusum: μ window and fold share ONE user exchange, no group buffering") {
    val p = plan("ev_cusum")
    assert(p.contains("MapPartitions"),
      s"expected a streaming mapPartitions fold:\n${p.take(600)}")
    assert(!p.contains("MapGroups"),
      s"per-group materialization reintroduced:\n${p.take(600)}")
    // the per-user mean is a window over the SAME hashpartitioning the
    // fold sorts within — a second user-keyed exchange would mean the
    // two-pass structure paid two shuffles instead of one
    assert(p.split("Exchange hashpartitioning\\(user_id").length - 1 == 1,
      s"expected exactly one user_id exchange:\n${p.take(900)}")
  }

  test("pageRank kernel: one O(V) shuffle per round, CSR stationary") {
    import graft.operators.{Graph, RankKernel, Rounds}
    import org.apache.spark.ShuffleDependency
    import org.apache.spark.rdd.RDD
    import spark.implicits._
    val edges = (0L until 200L).flatMap(i => Seq((i, (i + 1) % 200), ((i + 1) % 200, i)))
      .toDF("src", "dst")
    // pageRank fences its result, so the RETURNED plan is a checkpoint
    // scan; the rounds are RDD code, pinned on their lineage instead
    val r = Graph.pageRank(edges, 1)
    val scan = r.queryExecution.executedPlan.toString
    assert(scan.contains("Scan ExistingRDD"),
      s"expected a checkpoint-scan result plan:\n${scan.take(400)}")
    // the distinct shuffles a lineage reads
    def shuffles(rdd: RDD[_]): Set[Int] = rdd.dependencies.flatMap {
      case d: ShuffleDependency[_, _, _] => shuffles(d.rdd) + d.shuffleId
      case d => shuffles(d.rdd)
    }.toSet
    Rounds.scope { fs =>
      val k = RankKernel(fs, edges)
      // the CSR's one shuffle ancestor is its build: the edge side never
      // moves again
      assert(shuffles(k.csr).size == 1, k.csr.toDebugString)
      val r1 = k.round(k.init)
      val r2 = k.round(r1)
      // each round adds exactly one shuffle, the combined contributions
      assert(shuffles(k.init) == shuffles(k.csr))
      assert(shuffles(r1).size == 2 && shuffles(r2).size == 3 &&
        shuffles(k.csr).subsetOf(shuffles(r1)) && shuffles(r1).subsetOf(shuffles(r2)),
        r2.toDebugString)
    }
  }

  test("gr_kcore round seam: the wave plans as the loop runs it, AQE off at the adaptive width") {
    import graft.operators.Graph
    val p = Graph.kcoreRoundPlanForSpec(Graph.partEdges(spark, sf), 3)
    assert(!p.contains("AdaptiveSparkPlan"), s"the waves run with AQE off:\n$p")
    // sf0.001's part graph is far below 250k edge rows per task: at
    // width 1 the frontier's one exchange is SinglePartition, never the
    // session's hash width
    assert(p.contains("Exchange SinglePartition") && !p.contains("hashpartitioning("),
      s"expected the wave's exchange at the adaptive width 1:\n$p")
  }

  test("q23_basket_pairs: a-priori prune is a broadcast join; pair explode never cartesian") {
    val p = plan("q23_basket_pairs")
    assert(p.contains("BroadcastHashJoin"),
      "frequent-item prune must broadcast the parts-bounded item table")
    assert(!p.toLowerCase.contains("cartesianproduct"),
      "the per-order self-join must key on the order, never cross")
    assert(!p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "pair join must be a hash join family")
  }

  test("ml_train_ridge: one partial-aggregated scan — moments combine map-side, no join") {
    val p = plan("ml_train_ridge")
    assert(!p.contains("Join"), "the moment pass must not join anything")
    // partial_ aggregate functions before the single-row exchange =
    // map-side combine carries the 10 sums, not the corpus
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"expected partial aggregation before the exchange:\n${p.take(1500)}")
  }

  test("ts_ndcg: both rankings are TakeOrderedAndProject roots, never a global Sort") {
    val p = plan("ts_ndcg")
    assert(p.split("TakeOrderedAndProject").length >= 3,
      "ranked and ideal top-K must both be TakeOrdered cuts")
  }
  test("tp_fim / tp_mlm_masks / dd_cdc_chunks: row-local transforms plan ZERO exchanges") {
    // the 100 TB claim for the corruption/chunking preps is literal:
    // one scan, no shuffle of any kind anywhere in the plan
    Seq("tp_fim", "tp_mlm_masks", "dd_cdc_chunks").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q: unexpected exchange in\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian")
    }
    // dd_cdc_chunks' whole per-doc pass is the fused kernel chain
    assert(plan("dd_cdc_chunks").contains("cdc_chunks"), "kernel not in the plan")
  }

  test("ml_train_linear feature build: no inferred generate-filter recomputing the hashing") {
    // the r15 regression class: `explode(hs)` takes an inferred
    // `size(hs) > 0` filter that predicate-pushdown inlines BELOW the
    // spread exchange, recomputing the whole md5-per-bigram feature
    // expression inside the (single) scan task. explode_outer carries
    // no inferred filter; this pin fails if anyone reverts it.
    operators.Ml.trainChain.reset(spark, sf)
    val (f, _, _) = operators.Ml.trainChain(spark, sf)
    val inner = f.queryExecution.executedPlan.toString
    val poison = inner.linesIterator.filter(l =>
      l.contains("Filter") && l.contains("md5")).toList
    assert(poison.isEmpty,
      s"feature hashing leaked into a Filter (inferred generate guard): ${poison.take(1).mkString}")
  }

  test("ts_snippet: hit windows are doc-partitioned; doc text joins back only for winners") {
    val p = plan("ts_snippet")
    // the window exchange partitions by doc_id (bounded state), and the
    // winner join back to the document scan is a hash join, not a sort
    assert(p.contains("hashpartitioning(doc_id"), "window not doc-partitioned")
    assert(!p.contains("CartesianProduct"), "cartesian snippet join")
  }

}
