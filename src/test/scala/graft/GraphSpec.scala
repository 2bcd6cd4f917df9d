package graft

import graft.operators.Graph

/** Integer PageRank: hand-computed fixtures (every value is exact
  * integer arithmetic, so the assertions are equalities, not bands).
  */
class GraphSpec extends SparkSpec {

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    import spark.implicits._
    Graph.pageRank(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("cycle is a fixpoint: every vertex keeps exactly 1e6 ppm") {
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    assert(ranks(cycle, 1) == Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))
    assert(ranks(cycle, 5) == Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))
  }

  test("undirected star after one round matches hand integer arithmetic") {
    // hub 0 ↔ leaves 1..4: r1(hub) = 150000 + 85·(4·(1e6 div 1)) div 100
    //                      r1(leaf) = 150000 + 85·(1e6 div 4) div 100
    val star = (1L to 4L).flatMap(l => Seq((0L, l), (l, 0L)))
    val r1 = ranks(star, 1)
    assert(r1(0L) == 3550000L)
    (1L to 4L).foreach(l => assert(r1(l) == 362500L))
    // rank ordering persists at the default depth
    val r5 = ranks(star, 5)
    assert((1L to 4L).forall(l => r5(0L) > r5(l)))
  }

  test("personalized PageRank: directed cycle with one seed, hand-computed") {
    import spark.implicits._
    // a→b→c→a, seed {a}: mass leaves a along the cycle and only a teleports
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    def run(iters: Int) = Graph.personalizedPageRank(edges, seeds, iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(1) == Map(1L -> 150000L, 2L -> 850000L, 3L -> 0L))
    assert(run(2) == Map(1L -> 150000L, 2L -> 127500L, 3L -> 722500L))
  }

  test("weighted star: mass splits by weight, hand-computed") {
    import spark.implicits._
    // hub 0 ↔ leaf 1 (w=3) and leaf 2 (w=1): Σw(0)=4
    val edges = Seq((0L, 1L, 3L), (0L, 2L, 1L), (1L, 0L, 3L), (2L, 0L, 1L))
      .toDF("src", "dst", "w")
    val r1 = Graph.pageRankWeighted(edges, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(
      0L -> 1850000L, // 150000 + 85·(1e6 + 1e6) div 100
      1L -> 787500L, // 150000 + 85·((1e6·3) div 4) div 100
      2L -> 362500L)) // 150000 + 85·((1e6·1) div 4) div 100
  }

  test("triangles: K4, star, and K4-plus-pendant match hand counts") {
    import spark.implicits._
    // K4: C(4,3) = 4 triangles, every vertex in 3 of them, every vertex
    // degree 3 → local clustering = 2e6·3/(3·2) = 1e6; transitivity =
    // 3e6·4 / (4·C(3,2)·... wedges = Σd(d-1)/2 = 4·3 = 12 → 1e6.
    val k4 = (for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)).toDF("a", "b")
    val k4Rows = Graph.triangleReport(k4).collect()
    val k4G = k4Rows.find(_.getAs[String]("scope") == "graph").get
    assert(k4G.getAs[Long]("n_tri") == 4L && k4G.getAs[Long]("ppm") == 1000000L)
    assert(k4Rows.filter(_.getAs[String]("scope") == "vertex")
      .forall(r => r.getAs[Long]("n_tri") == 3L && r.getAs[Long]("ppm") == 1000000L))
    // star K1,5: wedges but zero triangles, transitivity 0
    val star = (1L to 5L).map(i => (0L, i)).toDF("a", "b")
    val starRows = Graph.triangleReport(star).collect()
    assert(starRows.count(_.getAs[String]("scope") == "vertex") == 0)
    assert(starRows.find(_.getAs[String]("scope") == "graph").get.getAs[Long]("n_tri") == 0L)
    // K4 + pendant vertex on 0: triangle counts unchanged, vertex 4 absent
    val pend = k4.unionByName(Seq((0L, 4L)).toDF("a", "b"))
    val pv = Graph.triangleReport(pend).collect()
      .filter(_.getAs[String]("scope") == "vertex").map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_tri")).toMap
    assert(pv == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("kCore: pendant chain peels away, K4 core survives; trees vanish") {
    import spark.implicits._
    val k4 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    // chain 0–4–5–6 hanging off the K4: degree-1 endpoints peel first,
    // then the freshly-exposed ones — the fixpoint needs >1 round
    val g = (k4 ++ Seq((0L, 4L), (4L, 5L), (5L, 6L))).toDF("a", "b")
    val core = Graph.kCore(g, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // a path graph has no 2-core at all — the loop must terminate on empty
    val path = (0L until 6L).map(i => (i, i + 1)).toDF("a", "b")
    assert(Graph.kCore(path, 2).isEmpty)
  }

  test("kCore delta peeling: same-wave pair removal decrements survivors exactly once") {
    import spark.implicits._
    // K4 plus a degree-2 pair {4,5} hanging off it (0–4, 1–5, 4–5).
    // Wave 1 removes 4 AND 5 together: the 4–5 edge matches the removed
    // set in both directions that wave, but neither decrement may reach
    // a survivor; 0 and 1 each lose exactly ONE neighbor (4→3 core
    // degree, still in the core). A double-count would evict 0/1; a
    // missed decrement would report core_deg 4.
    val k4 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val g = (k4 ++ Seq((0L, 4L), (1L, 5L), (4L, 5L))).toDF("a", "b")
    val (core, depth) = Graph.kCoreWithDepth(g, 3)
    val m = core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // exactly one wave removes anything (the {4,5} pair); depth counts
    // removing waves only — termination rides the wave's own fence
    assert(depth == 1, s"expected a single removing wave, got $depth")
  }

  test("bfsDistances: path hops, multi-seed min, maxHops cutoff, early exit") {
    import spark.implicits._
    // directed path 0→1→2→3→4, seed 0, maxHops 2: vertex 3/4 unreached
    val path = (0L until 4L).map(i => (i, i + 1)).toDF("src", "dst")
    val d1 = Graph.bfsDistances(path, Seq(0L).toDF("id"), maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d1 == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
    // two seeds: min distance wins (vertex 2 is 2 hops from 0, 0 from 2)
    val d2 = Graph.bfsDistances(path, Seq(0L, 2L).toDF("id"), maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d2 == Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 2L))
    // frontier drains before maxHops: the loop must exit, result exact
    val d3 = Graph.bfsDistances(path, Seq(3L).toDF("id"), maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d3 == Map(3L -> 0L, 4L -> 1L))
  }

  test("gr_kcore: measured peel depth stays ≥10 rounds under the oracle unroll") {
    // The DuckDB oracle unrolls a FIXED KCoreUnroll peel rounds; if the
    // gate corpus ever deepens to within 10 rounds of that budget this
    // assertion names the problem instead of leaving a bare gate hash
    // mismatch. Build the exact gr_kcore edge set at the test SF.
    val os = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .where("l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'")
      .selectExpr("l_orderkey AS ok", "l_partkey AS s").distinct()
    val edges = os.selectExpr("ok", "s AS a")
      .join(os.selectExpr("ok", "s AS b"), "ok")
      .where("a < b").select("a", "b").distinct()
    val (_, depth) = Graph.kCoreWithDepth(edges, 3)
    // measured depths: 6 (sf0.001) / 28 (sf0.01) / 37 (sf0.1) — the
    // SF-driven growth is ~+10 per decade, so a 10-round guard at the
    // smallest SF leaves the larger gate SFs inside budget too
    assert(depth <= Graph.KCoreUnroll - 10,
      s"peel depth $depth within 10 of oracle unroll ${Graph.KCoreUnroll}")
  }

  test("purchase-graph query: suppliers out-rank customers on average") {
    val df = Graph.queries.find(_.name == "gr_pagerank").get
      .run(spark, "/root/testdata/sf0.001").collect()
    val (supp, cust) = df.partition(_.getAs[String]("kind") == "supplier")
    assert(supp.nonEmpty && cust.nonEmpty)
    def avg(xs: Array[org.apache.spark.sql.Row]) =
      xs.map(_.getAs[Long]("score_ppm")).sum / xs.length
    // suppliers are the high-degree side of the bipartite walk
    assert(avg(supp) > avg(cust))
  }

  test("label propagation: bridged triangles resolve to two min-label communities") {
    import spark.implicits._
    // triangle {1,2,3}, triangle {10,11,12}, bridge 3-10; undirected
    val und = Seq((1L,2L),(2L,3L),(1L,3L),(10L,11L),(11L,12L),(10L,12L),(3L,10L))
    val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val got = Graph.labelPropagation(edges, 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // traced by hand under synchronous min-tie-break updates: the
    // left triangle settles on label 1, the right on label 3 (the
    // bridge vertex 10 first adopts 3, then its neighbors follow)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L), s"got $got")
  }

  test("modularity: two disjoint triangles score exactly Q = 0.5") {
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
    val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val lab = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L), (12L, 10L))
      .toDF("id", "lbl")
    val rows = Graph.modularityOf(lab, edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // per clique: in_e = 6 of 12 directed edges, degree = 6;
    // q = 6e6 div 12 − (6000 div 12)² = 500000 − 250000 = 250000;
    // summary Q = 500000 ppm — the textbook 0.5 for two equal cliques
    assert(rows == Set(
      (1L, 6L, 6L, 250000L),
      (10L, 6L, 6L, 250000L),
      (-1L, 12L, 12L, 500000L)), s"got $rows")
  }

  test("hits: the shared supplier is the authority, the busy customer the hub") {
    import spark.implicits._
    // customers 1, 2 (nodes 2, 4) and suppliers 1, 2, 3 (nodes 3, 5, 7):
    // c1 buys from all three suppliers, c2 only from s1 — so s1 must be
    // the max authority, c1 the max hub, and s2/s3 tie by symmetry
    val pairs = Seq((2L, 3L), (2L, 5L), (2L, 7L), (4L, 3L))
    val edges = pairs.flatMap { case (c, s) => Seq((c, s), (s, c)) }.toDF("src", "dst")
    val got = Graph.hits(edges).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("kind"),
        r.getAs[Long]("score_ppm"))).toSet
    val byId = got.map(t => t._1 -> t._3).toMap
    assert(got.map(_._2) == Set("customer", "supplier"))
    assert(byId(2L) == 1000000L, s"c1 should be the max hub: $got")
    assert(byId(4L) < 1000000L, s"c2 must rank below c1: $got")
    assert(byId(3L) == 1000000L, s"s1 should be the max authority: $got")
    assert(byId(5L) == byId(7L) && byId(5L) < 1000000L,
      s"s2/s3 must tie below s1: $got")
  }

  test("gr_conductance × gr_modularity: per community, volume = intra + cut exactly") {
    val sf = "/root/testdata/sf0.001"
    // over directed-symmetric rows every edge row with src ∈ C is
    // either intra (dst ∈ C) or cut (dst ∉ C) — the two operators
    // compute the two halves independently, so the identity pins both
    val cond = Registry.byName("gr_conductance").run(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val mod = Registry.byName("gr_modularity").run(spark, sf).collect()
      .filter(_.getLong(0) != -1L)
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(cond.nonEmpty && cond.keySet == mod.keySet, "community sets differ")
    val ne = mod.values.map(_._2).sum // Σ volumes = all directed rows
    cond.foreach { case (c, (cut, vol, phi)) =>
      val (intra, degree) = mod(c)
      assert(vol == degree, s"community $c: volume $vol != modularity degree $degree")
      assert(vol == intra + cut, s"community $c: $vol != $intra + $cut")
      val denom = math.min(vol, ne - vol)
      assert(denom == 0 && phi == 0L || phi == cut * 1000000L / denom,
        s"community $c: phi")
      assert(phi >= 0L && phi <= 1000000L, s"community $c: phi out of range")
    }
  }
  test("gr_walks: every step follows an edge and replays the md5 rank choice") {
    val sf = "/root/testdata/sf0.001"
    val out = Registry.byName("gr_walks").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.nonEmpty)
    // rebuild the bipartite graph + ranked adjacency sequentially
    val cs = Tables.orders(spark, sf).selectExpr("o_orderkey", "o_custkey")
      .join(Tables.lineitem(spark, sf).selectExpr("l_orderkey AS o_orderkey", "l_suppkey"),
        "o_orderkey")
      .selectExpr("o_custkey * 2 AS cv", "l_suppkey * 2 + 1 AS sv")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (cs.map(p => (p._1, p._2)) ++ cs.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (s, es) => (s, es.map(_._2).distinct.sorted) }
    def h(seed: Long, step: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$seed:$step".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val walks = out.groupBy(_._1)
    assert(walks.keySet == adj.keySet.filter(_ % 101 == 0), "seed set mismatch")
    walks.foreach { case (wid, rows) =>
      assert(rows.map(_._2).sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L), s"walk $wid: steps")
      val byStep = rows.map(r => r._2 -> r).toMap
      def vertex(t: Long): Long = {
        val (_, _, kind, key) = byStep(t)
        if (kind == "customer") key * 2 else key * 2 + 1
      }
      assert(vertex(0) == wid, s"walk $wid: step 0 is the seed")
      (1L to 4L).foreach { t =>
        val prev = vertex(t - 1)
        val ns = adj(prev)
        val want = ns((h(wid, t) % ns.size).toInt)
        assert(vertex(t) == want, s"walk $wid step $t: ${vertex(t)} vs $want")
        // bipartite alternation is structural
        assert(vertex(t) % 2 != prev % 2, s"walk $wid step $t: same side")
      }
    }
  }

  test("reliable-checkpoint mode: a full iterative operator is result-identical") {
    // end-to-end durability parity, not just the CheckpointOps unit
    // property: the SAME multi-round fenced loop (pageRank: per-round
    // fences + checkpointHashPartitioned edges + release discipline)
    // must produce bit-identical ranks when every fence is file-backed.
    import spark.implicits._
    val edges = ((1L to 4L).flatMap(l => Seq((0L, l), (l, 0L))) ++
      Seq((5L, 0L), (1L, 5L), (5L, 2L))).toDF("src", "dst")
    val local = Graph.pageRank(edges, 7).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = SparkSpec.tmpDir("graft_ckpt_e2e").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try {
      val reliable = Graph.pageRank(edges, 7).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable == local,
        "file-backed fences changed an iterative result")
    } finally spark.conf.set("spark.graft.checkpoint.reliable", "false")
  }

  /** Integer PageRank written out on the driver: `iters` rounds over
    * the weighted edge rows `(src, dst, w)` (w = 1 everywhere: the
    * unweighted `r div outdeg`), teleport and start mass on `seeds`
    * (every source when empty).
    */
  private def reference(e: Seq[(Long, Long, Long)], iters: Int,
                        seeds: Set[Long] = Set.empty): Map[Long, Long] = {
    val out = e.groupBy(_._1)
    val total = out.map { case (v, es) => v -> es.map(_._3).sum }
    def tele(v: Long) = seeds.isEmpty || seeds(v)
    var r = out.keys.map(v => v -> (if (tele(v)) 1000000L else 0L)).toMap
    for (_ <- 1 to iters) {
      val c = e.groupMapReduce(_._2) { case (s, _, w) => r(s) * w / total(s) }(_ + _)
      r = r.map { case (v, _) => v -> ((if (tele(v)) 150000L else 0L) + 85 * c.getOrElse(v, 0L) / 100) }
    }
    r
  }

  test("the kernel matches a driver-side reference on the sf0.001 and sf0.01 purchase graphs") {
    import spark.implicits._
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val pairs = Graph.purchaseEdges(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1)))
      val unit = pairs.map { case (a, b) => (a, b, 1L) }.toSeq
      val weighted = pairs.map { case (a, b) => (a, b, (a + b) % 5 + 1) }.toSeq
      val seeds = pairs.map(_._1).filter(_ % 6 == 0).distinct.toSeq
      val edges = pairs.toSeq.toDF("src", "dst")
      assert(ranks(Graph.pageRank(edges, 5)) == reference(unit, 5), sf)
      assert(ranks(Graph.pageRank(edges, 13)) == reference(unit, 13), sf)
      assert(ranks(Graph.personalizedPageRank(edges, seeds.toDF("id"), 5)) ==
        reference(unit, 5, seeds.toSet), sf)
      assert(ranks(Graph.pageRankWeighted(weighted.toDF("src", "dst", "w"), 5)) ==
        reference(weighted, 5), sf)
      // the period-2 cycle: the detected block carries round 120's scores
      assert(ranks(Graph.pageRankConverged(edges)) == reference(unit, 120), sf)
    }
  }
}
