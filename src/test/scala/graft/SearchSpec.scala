package graft

import graft.operators.Dedup

/** Specs for the round-6 text operators: BM25 ranked retrieval,
  * cross-document duplicated spans, and PII redaction.
  */
class SearchSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = Registry.byName(name).run(spark, sf)

  test("ts_bm25: returns top-20, scores descending, all matched docs score > 0") {
    val rows = run("ts_bm25").collect()
    assert(rows.length == 20)
    val scores = rows.map(_.getAs[Double]("bm25"))
    assert(scores.sameElements(scores.sortBy(-_)), "not sorted by score desc")
    rows.foreach { r =>
      val matched = r.getAs[Long]("matched_terms")
      val score = r.getAs[Double]("bm25")
      assert(matched >= 0 && matched <= 4)
      assert((matched > 0) == (score > 0),
        s"doc ${r.getAs[Long]("doc_id")}: matched=$matched but score=$score")
    }
  }

  test("ts_bm25: ranking is deterministic and non-constant") {
    val a = run("ts_bm25").collect().map(_.toSeq)
    val b = run("ts_bm25").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq, "top-20 differs between runs")
    assert(a.map(_.last).distinct.length > 1, "degenerate constant scores")
  }

  test("dd_spandup: every planted doc is flagged with ≥ 5 shared boilerplate spans") {
    val rows = run("dd_spandup").collect()
    assert(rows.nonEmpty, "no duplicated spans — planting broke")
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    val planted = Tables.documents(spark, sf)
      .where("doc_id % 7 = 0").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // the corpus ALSO contains driver-planted near-duplicate documents
    // that legitimately share 20-token spans, so flagged ⊋ planted is
    // expected — the assertion is containment, not equality
    assert(planted.subsetOf(byId.keySet),
      s"${(planted -- byId.keySet).size} planted docs unflagged")
    planted.foreach { id =>
      // 24-word boilerplate, 20-token windows ⇒ 5 fully-internal spans
      // shared verbatim by every planted doc (junction spans are unique)
      assert(byId(id).getAs[Long]("dup_spans") >= 5,
        s"doc $id: only ${byId(id).getAs[Long]("dup_spans")} dup spans")
      val f = byId(id).getAs[Double]("dup_frac")
      assert(f > 0 && f <= 1)
    }
  }

  test("dd_spandup: the 5 boilerplate-internal span hashes hit every planted doc") {
    // hash the boilerplate's own 20-token windows directly and check
    // each has document frequency ≥ the planted-doc count — pins the
    // span hashing to the planting, independent of the per-doc rollup
    import org.apache.spark.sql.functions._
    val nPlanted = Tables.documents(spark, sf).where("doc_id % 7 = 0").count()
    val boilerSpans = spark.sql(
      s"SELECT explode(word_shingles(split('${Dedup.SpanBoiler}', ' '), 20)) AS h")
    assert(boilerSpans.count() == 5)
    val post = Tables.documents(spark, sf)
      .selectExpr("doc_id",
        "regexp_replace(regexp_replace(text, '\\\\s{2,}', ' '), '^\\\\s+|\\\\s+$', '') AS tc")
      .selectExpr("doc_id",
        s"CASE WHEN doc_id % 7 = 0 THEN concat(tc, ' ', '${Dedup.SpanBoiler}') ELSE tc END AS tc")
      .selectExpr("doc_id", "explode(word_shingles(split(tc, ' '), 20)) AS h")
    val dfs = post.join(boilerSpans, "h").groupBy("h")
      .agg(expr("count(*) AS df")).collect()
    assert(dfs.length == 5, "boilerplate spans missing from the corpus postings")
    dfs.foreach(r => assert(r.getAs[Long]("df") == nPlanted,
      s"boiler span df ${r.getAs[Long]("df")} != planted $nPlanted"))
  }

  test("q8_bloom_semijoin: no false negatives, fp accounting consistent") {
    val r = run("q8_bloom_semijoin").collect().head
    val (probe, pass, tru, fp) = (r.getAs[Long]("n_probe"), r.getAs[Long]("n_pass"),
      r.getAs[Long]("n_true"), r.getAs[Long]("n_false_pos"))
    assert(tru > 0, "degenerate corpus: no true matches")
    // THE bloom guarantee: every true match passes the filter
    assert(pass >= tru, s"false negatives: pass=$pass < true=$tru")
    assert(fp == pass - tru && fp >= 0)
    assert(pass <= probe)
  }

  test("tp_source_cap: at most 10 per source, keeps the longest docs") {
    val rows = run("tp_source_cap").collect()
    val bySource = rows.groupBy(_.getAs[String]("source"))
    bySource.foreach { case (src, rs) =>
      assert(rs.length <= 10, s"$src over cap")
      val ranks = rs.map(_.getAs[Long]("rank")).sorted
      assert(ranks.sameElements(1L to ranks.length), s"$src ranks not dense")
    }
    // cap semantics: the kept docs are the n_chars-largest of the source
    val all = Tables.documents(spark, sf)
      .selectExpr("source", "doc_id", "n_chars").collect()
      .groupBy(_.getAs[String]("source"))
    bySource.foreach { case (src, rs) =>
      val kept = rs.map(_.getAs[Long]("doc_id")).toSet
      val expect = all(src).sortBy(r => (-r.getAs[Long]("n_chars"), r.getAs[Long]("doc_id")))
        .take(10).map(_.getAs[Long]("doc_id")).toSet
      assert(kept == expect, s"$src kept wrong docs")
    }
  }

  test("ev_resample: dense per-user hourly grid, forward fill from last observation") {
    val rows = run("ev_resample").collect()
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (u, rs) =>
      val hrs = rs.map(_.getAs[Long]("hour_epoch")).sorted
      // dense grid: consecutive hours, no holes, no duplicates
      assert(hrs.distinct.length == hrs.length, s"user $u: duplicate grid hours")
      assert(hrs.last - hrs.head == 3600L * (hrs.length - 1), s"user $u: grid has holes")
      // the first grid hour is observed by construction; every filled
      // value is non-null from there on
      val sorted = rs.sortBy(_.getAs[Long]("hour_epoch"))
      assert(sorted.head.getAs[Long]("observed") == 1L)
      sorted.foreach(r => assert(!r.isNullAt(r.fieldIndex("filled"))))
    }
    // gaps exist on this corpus — otherwise the fill path is untested
    assert(rows.exists(_.getAs[Long]("observed") == 0L), "no gaps — fill untested")
  }

  test("dq_constraints: one row per check, totals positive, clean corpus passes") {
    val rows = run("dq_constraints").collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      assert(r.getAs[Long]("total") > 0)
      assert(r.getAs[Long]("violations") >= 0)
      assert((r.getAs[Long]("violations") == 0) == (r.getAs[Long]("pass") == 1L))
    }
    // the driver tables are clean by construction; a failing check here
    // means the check itself broke, not the data
    assert(rows.forall(_.getAs[Long]("pass") == 1L))
  }

  test("ta_redact: planted docs report exact counts, others zero and unchanged") {
    val rows = run("ta_redact").collect()
    val (planted, clean) = rows.partition(_.getAs[Long]("doc_id") % 5 == 0)
    assert(planted.nonEmpty && clean.nonEmpty)
    planted.foreach { r =>
      assert(r.getAs[Long]("n_emails") == 1, s"doc ${r.get(0)}: emails != 1")
      assert(r.getAs[Long]("n_ips") == 1, s"doc ${r.get(0)}: ips != 1")
      assert(r.getAs[Long]("n_phones") == 1, s"doc ${r.get(0)}: phones != 1")
    }
    clean.foreach { r =>
      assert(r.getAs[Long]("n_emails") == 0 && r.getAs[Long]("n_ips") == 0 &&
        r.getAs[Long]("n_phones") == 0, s"false positive in doc ${r.get(0)}")
    }
  }

  test("ta_redact: redacted text contains tags, never the planted PII") {
    import org.apache.spark.sql.functions._
    // re-derive the redacted text (the gate row ships only its hash)
    val email = "[a-z0-9._]+@[a-z0-9.]+[a-z]"
    val ip = "[0-9]{1,3}\\\\.[0-9]{1,3}\\\\.[0-9]{1,3}\\\\.[0-9]{1,3}"
    val phone = "555-[0-9]{4}"
    val red = Tables.documents(spark, sf)
      .where("doc_id % 5 = 0")
      .selectExpr("doc_id",
        "regexp_replace(regexp_replace(text, '\\\\s{2,}', ' '), '^\\\\s+|\\\\s+$', '') AS tc")
      .selectExpr("doc_id",
        """concat(tc, ' contact user', cast(doc_id AS string),
                  '@mail.example.com from 10.20.',
                  cast(pmod(doc_id, 200) AS string), '.9 call 555-0142') AS tc""")
      .selectExpr("doc_id",
        s"""regexp_replace(regexp_replace(regexp_replace(tc,
              '$email', '[EMAIL]'), '$ip', '[IP]'), '$phone', '[PHONE]') AS redacted""")
      .collect()
    red.foreach { r =>
      val t = r.getAs[String]("redacted")
      assert(t.contains("[EMAIL]") && t.contains("[IP]") && t.contains("[PHONE]"))
      assert(!t.contains("@mail.example.com"), "email survived redaction")
      assert(!t.contains("call 555-"), "phone survived redaction")
    }
  }

  test("MMR re-rank: keeps the top hit, actually diversifies the tail") {
    val sf = "/root/testdata/sf0.001"
    val mmr = graft.operators.Knn.queries.find(_.name == "v10_mmr").get
      .run(spark, sf).collect()
      .sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("vec_id")).toSeq
    val plain = graft.operators.Knn.queries.find(_.name == "v3_knn_topk").get
      .run(spark, sf) // query vec 0; recompute plain top-5 for vec 10 instead
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val q = e.where("vec_id = 10").selectExpr("embedding AS q_emb")
    val top5 = e.crossJoin(org.apache.spark.sql.functions.broadcast(q))
      .selectExpr("vec_id", "cosine_f(embedding, q_emb) AS sim")
      .orderBy(org.apache.spark.sql.functions.desc("sim"), $"vec_id")
      .limit(5).collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(mmr.length == 5 && mmr.distinct.length == 5)
    assert(mmr.head == top5.head, "rank 1 must be the most relevant item")
    assert(mmr.toSet != top5.toSet,
      "MMR must trade relevance for diversity on this corpus (λ=0.5)")
    assert(plain.collect().length == 5) // sanity: the plain row still runs
  }

  test("ts_ndcg: cumulative sums replay from the emitted grades and the discount table") {
    val rows = run("ts_ndcg").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .sortBy(_._1)
    assert(rows.length == 20, s"expected a full top-20 table, got ${rows.length}")
    val w = (1 to 20).map(r => math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))
    var dcg = 0L; var idcg = 0L
    rows.foreach { case (k, rel, irel, dcgM, idcgM, ndcg) =>
      assert(rel >= 0L && rel <= 3L && irel >= 0L && irel <= 3L, s"k=$k: grades out of range")
      dcg += ((1L << rel.toInt) - 1L) * w(k.toInt - 1)
      idcg += ((1L << irel.toInt) - 1L) * w(k.toInt - 1)
      assert(dcgM == dcg && idcgM == idcg, s"k=$k: cumulative sums")
      assert(ndcg == (if (idcg == 0) 0L else dcg * 1000000L / idcg), s"k=$k: quotient")
      assert(ndcg <= 1000000L, s"k=$k: NDCG must never exceed 1 — ideal is ideal")
    }
    // the ideal grade sequence must be non-increasing (it IS sorted by rel)
    assert(rows.map(_._3).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    // and the fixture must exercise a non-trivial curve, not all-zero grades
    assert(rows.map(_._2).sum > 0L, "top-20 has zero total relevance — fixture degenerate")
  }

  test("ts_rrf: scores recompute from the emitted ranks; BM25's top doc carries rank 1") {
    val rows = run("ts_rrf").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 20)
    rows.foreach { case (doc, ra, rb, rrf) =>
      def f(r: Long): Long = if (r == 0L) 0L else 1000000L / (60L + r)
      assert(rrf == f(ra) + f(rb), s"doc $doc: rrf $rrf != ${f(ra)} + ${f(rb)}")
      assert(ra >= 0L && ra <= 100L && rb >= 0L && rb <= 100L, s"doc $doc: pool ranks")
      assert(ra > 0L || rb > 0L, s"doc $doc: fused row outside both pools")
    }
    // the lexical retriever's #1 must enter the fusion at rank 1
    val bm25Top = run("ts_bm25").collect().head.getLong(0)
    assert(rows.exists(r => r._1 == bm25Top && r._2 == 1L),
      "BM25 rank-1 doc missing from the fused table at rank_bm25 = 1")
    // the fusion must actually mix: some emitted doc is in exactly one pool
    assert(rows.exists(r => r._2 == 0L || r._3 == 0L),
      "every fused doc sits in both pools — pools too correlated to test fusion")
  }

  test("ts_prf: expansion terms replay from a brute-force pool mine; scores recompute per doc") {
    import org.apache.spark.sql.functions._
    val rows = run("ts_prf").collect()
    assert(rows.length == 20)
    val scores = rows.map(_.getAs[Long]("prf_score"))
    assert(scores.forall(_ > 0))
    assert(scores.sliding(2).forall(w => w(0) >= w(1)), "not sorted by score desc")
    assert(rows.map(_.getAs[Long]("n_terms")).forall(n => n >= 1 && n <= 9))

    // brute-force replay: pool = bm25 top-10 (ts_bm25's own gate-checked
    // ranking at pool size), then candidate mining + integer scoring in
    // plain Scala over the collected corpus
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id",
        "split(regexp_replace(regexp_replace(text, '\\\\s{2,}', ' '), '^\\\\s+|\\\\s+$', ''), ' ') AS t")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    val orig = Seq("sort", "hash", "window", "spark")
    val pool = run("ts_bm25").orderBy(desc("bm25"), col("doc_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val nDocs = docs.size.toLong
    val df = docs.values.flatMap(_.distinct).groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val poolDf = pool.toSeq.flatMap(d => docs(d).distinct)
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val cand = poolDf.toSeq
      .filter { case (w, _) => !orig.contains(w) && w.matches("[a-z0-9~]+") && 2 * df(w) <= nDocs }
      .sortBy { case (w, pdf) => (-pdf, df(w), w) }.take(5).map(_._1)
    val weights = (cand.map(_ -> 1L) ++ orig.map(_ -> 2L)).toMap
    def idf(w: String) = {
      val d = df.getOrElse(w, 0L)
      (nDocs - d + 1L) * 1000000L / (d + 1L)
    }
    val expected = docs.toSeq.flatMap { case (id, t) =>
      val s = t.filter(weights.contains).map(w => weights(w) * idf(w)).sum
      val nt = t.filter(weights.contains).distinct.size.toLong
      if (s > 0) Some((id, s, nt)) else None
    }.sortBy { case (id, s, _) => (-s, id) }.take(20)
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq == expected)
  }

  test("q23_basket_pairs: counts, confidence, and lift equal a brute-force basket scan") {
    val out = Registry.byName("q23_basket_pairs").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toMap
    assert(out.nonEmpty, "no frequent pairs at sf0.001 — thresholds kill the fixture")
    val baskets = Tables.lineitem(spark, sf)
      .selectExpr("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val itemCnt = baskets.groupBy(_._2).map { case (p, xs) => p -> xs.length.toLong }
    val nOrders = baskets.map(_._1).distinct.length.toLong
    val freq = itemCnt.filter(_._2 >= 20L).keySet
    val pairCnt = baskets.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).distinct.filter(freq).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= 2L)
    assert(out.keySet == pairCnt.keySet, "pair set mismatch vs brute force")
    pairCnt.foreach { case ((p1, p2), cnt) =>
      val (oCnt, c1, c2, conf12, conf21, lift) = out((p1, p2))
      assert(oCnt == cnt && c1 == itemCnt(p1) && c2 == itemCnt(p2), s"($p1,$p2): counts")
      assert(conf12 == cnt * 1000000L / c1 && conf21 == cnt * 1000000L / c2, s"($p1,$p2): conf")
      assert(lift == (BigInt(cnt) * nOrders * 1000000 / (BigInt(c1) * c2)).toLong, s"($p1,$p2): lift")
    }
  }
  test("ts_snippet: the winner is the leftmost densest 20-token window and the text matches") {
    val sf = "/root/testdata/sf0.001"
    val terms = Set("sort", "hash", "window", "spark")
    val rows = Registry.byName("ts_snippet").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id",
        "regexp_replace(regexp_replace(text, '\\\\s{2,}', ' '), '^\\\\s+|\\\\s+$', '') AS tc")
      .collect().map(r => (r.getLong(0), r.getString(1).split(' ').toSeq))
    val expected = docs.flatMap { case (id, toks) =>
      val hits = toks.zipWithIndex.collect { case (w, i) if terms(w) => i + 1 }
      if (hits.isEmpty) None
      else {
        val best = hits.map(p => (hits.count(q => q >= p && q <= p + 19), p))
          .maxBy { case (n, p) => (n, -p) }
        val (n, p) = best
        Some((id, p.toLong, math.min(p + 19, toks.length).toLong, n.toLong,
          toks.slice(p - 1, math.min(p + 19, toks.length)).mkString(" ")))
      }
    }.toSet
    assert(rows.toSet == expected,
      s"snippet sets differ: ${rows.length} vs ${expected.size}")
    // liveness: some doc has more than one hit in its window
    assert(rows.exists(_._4 > 1L), "no multi-hit snippet - fixture degenerate")
  }

  test("ts_ir_metrics: metrics are internally consistent and agree with the ndcg ranking") {
    val sf = "/root/testdata/sf0.001"
    val rows = Registry.byName("ts_ir_metrics").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(rows.length == 20)
    // cross-operator: the ndcg query emits the SAME ranking with graded
    // rel — binary hits must equal its rel >= 2 prefix counts
    val ndcg = Registry.byName("ts_ndcg").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1) // (k, rel)
    val prefixHits = ndcg.scanLeft(0L) { case (acc, (_, rel)) =>
      acc + (if (rel >= 2) 1L else 0L)
    }.drop(1)
    rows.zip(prefixHits).foreach { case ((k, hits, p, _, _), want) =>
      assert(hits == want, s"k=$k: hits $hits vs ndcg prefix $want")
      assert(p == hits * 1000000L / k, s"k=$k: precision")
    }
    // hits monotone; recall monotone; mrr = 1e6 / first relevant rank
    assert(rows.map(_._2).sliding(2).forall { w => w.length < 2 || w(1) >= w(0) })
    val firstRel = rows.find(_._2 > 0).map(_._1)
    val mrr = rows.head._5
    assert(mrr == firstRel.map(1000000L / _).getOrElse(0L), s"mrr $mrr vs $firstRel")
    assert(rows.map(_._5).distinct.length == 1, "mrr must be constant across k")
  }

}
