package graft

import graft.operators.Curation

/** Curation building blocks: connected components on known graphs. */
class CurationSpec extends SparkSpec {

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Curation.connectedComponents(edges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chain, triangle, and isolated pair resolve to min-id components") {
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
    val got = components(Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)))
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("long chain needs multiple propagation rounds and still converges") {
    val chain = (0L until 12L).map(i => (i, i + 1))
    val got = components(chain)
    assert(got.values.toSet == Set(0L))
    assert(got.size == 13)
  }

  test("edge direction does not matter") {
    assert(components(Seq((5L, 3L), (3L, 9L))) == Map(3L -> 3L, 5L -> 3L, 9L -> 3L))
  }

  test("rankedDocIds: sparse, gappy ids rank densely in id order") {
    import spark.implicits._
    // deliberately sparse + unsorted — the layout the dense `mod n`
    // draw it replaced would have drawn nonexistent partners from
    val ids = Seq(9999L, 7L, 100L, 10L, 500000L, 8L)
    val got = Curation.rankedDocIds(ids.toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(7L -> 0L, 8L -> 1L, 10L -> 2L, 100L -> 3L,
      9999L -> 4L, 500000L -> 5L))
  }

  test("contrastive negatives stay inside the actual doc-id set") {
    val rows = runQuery("tp_contrastive_pairs").collect()
    val ids = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val negs = rows.filter(_.getString(2) == "negative")
    assert(negs.nonEmpty)
    negs.foreach { r =>
      assert(ids.contains(r.getLong(1)), s"partner ${r.getLong(1)} not a real doc")
      assert(r.getLong(0) != r.getLong(1), "self-draw survived")
    }
  }

  private val sf = "/root/testdata/sf0.001"

  private def runQuery(name: String) =
    Curation.queries.find(_.name == name).get.run(spark, sf)

  test("contamination: train split reports only in-range overlap, never eval docs") {
    val evalIds = Tables.documents(spark, sf)
      .where("pmod(cast(conv(substring(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint), 50) = 0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val rows = runQuery("tp_contamination").collect()
    assert(rows.nonEmpty, "shared-vocab corpus must produce some overlap")
    rows.foreach { r =>
      assert(!evalIds(r.getAs[Long]("doc_id")), "an eval doc leaked into the train report")
      val c = r.getAs[Double]("contamination")
      assert(c > 0.0 && c <= 1.0)
      assert(r.getAs[Long]("hit_shingles") <= r.getAs[Long]("n_shingles"))
    }
  }

  test("mix weights: rate 1000‰ keeps a stratum whole, lower rates subsample") {
    val byLang = runQuery("tp_mix_weights").groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = Tables.documents(spark, sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("en") == totals("en")) // 1000‰ ⇒ the whole stratum
    assert(byLang("es") < totals("es") / 2) // 125‰ ⇒ a strict subsample
    // membership is a pure function of doc_id: re-running samples identically
    val again = runQuery("tp_mix_weights").groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == byLang)
  }

  test("repetition: planted boilerplate scores high, varied text low") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam"),
      (2L, "every word in this perfectly varied sentence differs completely"))
      .toDF("doc_id", "toks0")
      .selectExpr("doc_id", "split(toks0, ' ') AS toks")
      .selectExpr("doc_id", "size(toks) AS n",
        "cast(size(word_shingles(toks, 3)) AS bigint) AS d3")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val (n1, d1) = df(1L); val (n2, d2) = df(2L)
    assert(d1 == 1L && n1 - 2 == 8) // all 3-grams identical ⇒ dup frac 7/8
    assert(d2 == (n2 - 2).toLong) // all distinct ⇒ dup frac 0
  }

  test("semdedup: min-id per cluster survives; drops are locally justified") {
    val rows = runQuery("tp_semdedup").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_id"), r.getAs[Boolean]("kept")))
    assert(rows.length == Tables.embeddings(spark, sf).count())
    // the lowest vec_id of every cluster has no lower-id neighbor → kept
    rows.groupBy(_._2).foreach { case (_, members) =>
      assert(members.minBy(_._1)._3, "cluster min-id must always survive")
      assert(members.exists(_._3), "every cluster keeps at least one vector")
    }
    // every drop is justified: a lower-id in-cluster neighbor at cos ≥ θ
    val embs = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (dot, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val dropped = rows.filterNot(_._3)
    assert(dropped.nonEmpty, "gate corpus must exercise a non-trivial drop set")
    dropped.foreach { case (v, c, _) =>
      val lower = rows.filter(r => r._2 == c && r._1 < v)
      assert(lower.exists(r => cos(embs(r._1), embs(v)) >= 0.3),
        s"vec $v dropped without a lower-id neighbor at θ")
    }
  }

  test("semantic curation composes exactly from its stage queries") {
    // survivors derived from the INDEPENDENT stage outputs...
    val fluent = graft.operators.TextOps.queries.find(_.name == "ta_lm_score").get
      .run(spark, sf).collect()
      .collect { case r if r.getAs[Long]("avg_ppm") >= 32000L => r.getAs[Long]("doc_id") }.toSet
    val drops = runQuery("tp_semdedup").collect()
      .collect { case r if !r.getAs[Boolean]("kept") => r.getAs[Long]("vec_id") }.toSet
    val byHash = Tables.documents(spark, sf)
      .selectExpr("doc_id", "md5(trim(regexp_replace(text, '\\\\s{2,}', ' '))) AS h")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("h")))
      .filter(x => fluent(x._1))
      .groupBy(_._2).map { case (_, xs) => xs.map(_._1).min }.toSet
    val expected = (byHash -- drops).size.toLong
    // ...must equal the pipeline's total accounted docs
    val got = runQuery("tp_curate_semantic").collect()
      .map(_.getAs[Long]("n_docs")).sum
    assert(got == expected, s"pipeline accounted $got docs, stages compose to $expected")
    assert(got > 0L && got < 500L, "gate corpus must actually prune")
  }

  test("tp_curate_pairs: blocked-mined drops compose identically to all-pairs drops") {
    import org.apache.spark.sql.functions.col
    // same anti-join + per-label stats, built once on the cell-blocked
    // miner FORCED multi-cell (cap 16) and once on the unblocked
    // all-pairs ground truth — the composition must be row-identical,
    // proving the work-spreading layout is invisible to curation
    def survivors(pairs: org.apache.spark.sql.DataFrame): Set[Seq[Any]] = {
      val drop = pairs.select(col("vec_b").as("vec_id")).distinct()
      Tables.embeddings(spark, sf)
        .selectExpr("cast(label AS int) AS label", "vec_id")
        .join(drop, Seq("vec_id"), "left_anti")
        .groupBy("label").count()
        .collect().map(_.toSeq).toSet
    }
    val viaBlocked = survivors(graft.operators.Dedup.embedSimPairsBlocked(spark, sf, cap = 16))
    val viaAllPairs = survivors(graft.operators.Dedup.embedNearDupAllPairs(spark, sf))
    assert(viaBlocked == viaAllPairs,
      s"curation over blocked vs all-pairs mining diverged: $viaBlocked vs $viaAllPairs")
    val dropped = runQuery("tp_curate_pairs").collect().map(_.getAs[Long]("n_dropped")).sum
    assert(dropped > 0L, "gate corpus must actually drop paired vectors")
  }

  test("FFD packing: budget respected, no doc lost, at least as tight as in-order") {
    val ffd = runQuery("tp_pack_ffd").collect()
    val inOrder = runQuery("tp_pack_tokens").collect()
    def docs(rows: Array[org.apache.spark.sql.Row]) = rows.map(_.getAs[Long]("n_docs")).sum
    assert(docs(ffd) == 500L && docs(inOrder) == 500L, "every doc packed exactly once")
    // a pack only exceeds the budget if it holds a single oversize doc
    ffd.foreach { r =>
      val (n, tok) = (r.getAs[Long]("n_docs"), r.getAs[Long]("pack_tokens"))
      assert(tok <= 2048L || n == 1L, s"pack ${r.getAs[Long]("pack_id")} overflows: $n docs, $tok tokens")
    }
    // FFD's whole point: never MORE packs than greedy in-order
    assert(ffd.length <= inOrder.length,
      s"FFD used ${ffd.length} packs, in-order needed ${inOrder.length}")
    // deterministic under re-execution (partitioning must not leak in)
    val again = runQuery("tp_pack_ffd").collect()
      .map(r => (r.getAs[Long]("pack_id"), r.getAs[Long]("n_docs"), r.getAs[Long]("pack_tokens"))).toSet
    assert(again == ffd.map(r => (r.getAs[Long]("pack_id"), r.getAs[Long]("n_docs"), r.getAs[Long]("pack_tokens"))).toSet)
  }

  test("split: train/valid/test partition the corpus and are retry-stable") {
    val agg = runQuery("tp_split").collect()
      .map(r => (r.getAs[String]("split"), r.getAs[Long]("n_docs"))).toSeq
    val bySplit = agg.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
    assert(bySplit.keySet == Set("train", "valid", "test"))
    assert(bySplit.values.sum == Tables.documents(spark, sf).count())
    assert(bySplit("train") > bySplit("valid") && bySplit("train") > bySplit("test"))
    // pure key arithmetic: a second run assigns identically
    assert(runQuery("tp_split").collect().map(r =>
      (r.getAs[String]("split"), r.getAs[String]("lang"), r.getAs[Long]("n_docs"))).toSet ==
      runQuery("tp_split").collect().map(r =>
        (r.getAs[String]("split"), r.getAs[String]("lang"), r.getAs[Long]("n_docs"))).toSet)
  }

  test("tp_curate_clf: the learned gate drops exactly the planted class") {
    val rows = runQuery("tp_curate_clf").collect()
    val droppedByGate = rows.map(r =>
      r.getAs[Long]("n_input") - r.getAs[Long]("n_after_clf")).sum
    // the perceptron reaches zero training error (MlSpec), so the gate
    // must remove the planted boilerplate docs (doc_id ≡ 0 mod 7) and
    // nothing else
    val planted = Tables.documents(spark, sf).where("doc_id % 7 = 0").count()
    assert(droppedByGate == planted)
    assert(rows.forall(r => r.getAs[Long]("n_after_dedup") <= r.getAs[Long]("n_after_clf")))
  }

  test("tp_bpe_train: merge counts non-increasing, each merge shrinks the token total") {
    val sf = "/root/testdata/sf0.001"
    val rows = Registry.byName("tp_bpe_train").run(spark, sf).collect()
    val merges = rows.filter(_.getLong(0) > 0).sortBy(_.getLong(0))
    assert(merges.length == 10)
    // BPE invariant: a merge can only create pairs no more frequent
    // than itself (new pairs contain the merged symbol, count ≤ its
    // count; old pairs only lose occurrences) — so the picked counts
    // must be non-increasing round over round
    val cnts = merges.map(_.getLong(4))
    assert(cnts.zip(cnts.tail).forall { case (x, y) => x >= y },
      s"merge counts increased: ${cnts.mkString(",")}")
    // merged symbol is the concatenation of its parts
    merges.foreach { r =>
      assert(r.getString(3) == r.getString(1) + r.getString(2))
    }
    // each applied merge removes one symbol per NON-overlapping
    // occurrence; pair counts include overlapping runs, so Σcnt is an
    // upper bound on the removals — the total must land inside
    // [raw − Σcnt, raw), strictly below raw (every round merged
    // something)
    val raw = Tables.documents(spark, sf)
      .selectExpr(
        "regexp_replace(regexp_replace(text, '\\\\s{2,}', ' '), '^\\\\s+|\\\\s+$', '') AS tc")
      .selectExpr("explode(split(tc, ' ')) AS w").where("w != ''")
      .selectExpr("cast(length(w) AS bigint) AS n")
      .groupBy().agg(org.apache.spark.sql.functions.expr("sum(n)"))
      .collect().head.getLong(0)
    val total = rows.find(_.getLong(0) == -1L).get.getLong(4)
    assert(total < raw && total >= raw - cnts.sum,
      s"token accounting: raw $raw, Σmerges ${cnts.sum}, total $total")
  }

  test("tp_pack_sequences: windows fill to exactly 2048 except each shard's last") {
    val sf = "/root/testdata/sf0.001"
    val rows = Curation.queries.find(_.name == "tp_pack_sequences").get
      .run(spark, sf).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("win"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_starts"), r.getAs[Long]("n_tokens")))
    assert(rows.nonEmpty)
    val byShard = rows.groupBy(_._1)
    assert(byShard.keySet == (0L until 8L).toSet)
    byShard.foreach { case (shard, ws) =>
      val last = ws.map(_._2).max
      // windows are contiguous from 0
      assert(ws.map(_._2).sorted.sameElements(0L to last),
        s"shard $shard windows not contiguous")
      ws.foreach { case (_, win, nd, ns, nt) =>
        if (win < last)
          assert(nt == 2048L, s"shard $shard window $win under-filled: $nt")
        else assert(nt > 0L && nt <= 2048L)
        assert(ns <= nd && nd > 0)
      }
    }
    // every doc starts in exactly one window; token mass is conserved
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("(n_chars + 3) div 4 AS tok").where("tok > 0")
      .collect().map(_.getLong(0))
    assert(rows.map(_._4).sum == docs.length)
    assert(rows.map(_._5).sum == docs.sum)
  }

  test("tp_pack_masks: segments tile each window exactly and agree with the packer") {
    val sf = "/root/testdata/sf0.001"
    val segs = Curation.queries.find(_.name == "tp_pack_masks").get
      .run(spark, sf).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("win"), r.getAs[Long]("seg_idx"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("seg_start"), r.getAs[Long]("seg_end"),
        r.getAs[Long]("is_doc_start")))
    val packs = Curation.queries.find(_.name == "tp_pack_sequences").get
      .run(spark, sf).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("win")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_starts"), r.getAs[Long]("n_tokens")))
      .toMap
    val byWin = segs.groupBy(s => (s._1, s._2))
    assert(byWin.keySet == packs.keySet, "masks and packer cover the same windows")
    byWin.foreach { case (key, ss) =>
      val (nd, nst, nt) = packs(key)
      assert(ss.length.toLong == nd, s"$key: segment count != packer n_docs")
      assert(ss.count(_._7 == 1L).toLong == nst, s"$key: doc-start count mismatch")
      assert(ss.map(s => s._6 - s._5 + 1).sum == nt, s"$key: token mass mismatch")
      // dense seg_idx in seg_start order; segments tile with no gaps/overlaps
      val ordered = ss.sortBy(_._3)
      assert(ordered.map(_._3).sameElements(1L to ss.length.toLong))
      ordered.sliding(2).foreach {
        case Array(a, b) => assert(b._5 == a._6 + 1, s"$key: gap/overlap at ${a._3}")
        case _ => ()
      }
      assert(ordered.head._5 == 0L, s"$key: first segment must start at 0")
      // a segment continuing a split doc is flagged as NOT a doc start
      ordered.foreach { s =>
        if (s._5 == 0L && s._7 == 0L)
          assert(s._3 == 1L, s"$key: only the window-opening carry-over may be unflagged at 0")
      }
    }
  }

  test("tp_bpe_apply: encoding agrees with the train query's corpus totals") {
    val sf = "/root/testdata/sf0.001"
    val applied = Registry.byName("tp_bpe_apply").run(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_syms"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("saved_ppm")))
    assert(applied.nonEmpty)
    applied.foreach { case (d, syms, toks, ppm) =>
      assert(toks <= syms, s"doc $d grew: $syms -> $toks")
      assert(ppm >= 0 && ppm < 1000000, s"doc $d ppm out of range: $ppm")
      if (syms > 0)
        assert(ppm == (syms - toks) * 1000000L / syms)
    }
    // the corpus-wide post-merge token total must equal the one
    // tp_bpe_train reports from the word-frequency table (same merges
    // applied word-by-word vs doc-by-doc — identical by construction)
    val trainTotal = Registry.byName("tp_bpe_train").run(spark, sf).collect()
      .find(_.getLong(0) == -1L).get.getLong(4)
    assert(applied.map(_._3).sum == trainTotal,
      s"apply total ${applied.map(_._3).sum} != train total $trainTotal")
  }

  test("tp_dsir matches a sequential replay of the hashed-bigram model") {
    val sf = "/root/testdata/sf0.001"
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "source", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("text")))
    val target = Set("src1", "src2", "src3")
    val perDoc = docs.map { case (id, src, text) =>
      val toks = text.replaceAll("\\s{2,}", " ")
        .replaceAll("^\\s+|\\s+$", "").split(' ')
      val buckets =
        if (toks.length < 2) Seq.empty[Long]
        else toks.sliding(2).map(p => h60(p(0) + " " + p(1)) % 4096).toSeq
      (id, target.contains(src), buckets)
    }
    val r = new Array[Long](4096); val t = new Array[Long](4096)
    perDoc.foreach { case (_, tgt, bs) =>
      bs.foreach { b => r(b.toInt) += 1; if (tgt) t(b.toInt) += 1 }
    }
    val rt = r.sum; val tt = t.sum
    val w = (0 until 4096).map(b =>
      (t(b) + 1) * 1000000L / (tt + 4096) - (r(b) + 1) * 1000000L / (rt + 4096))
    val want = perDoc.map { case (id, _, bs) =>
      (id, bs.length.toLong, bs.map(b => w(b.toInt)).sum)
    }.sortBy { case (id, _, s) => (-s, id) }.take(1000).toSet
    val got = Registry.byName("tp_dsir").run(spark, sf).collect()
      .map(row => (row.getAs[Long]("doc_id"), row.getAs[Long]("n_bigrams"),
        row.getAs[Long]("dsir_ppm"))).toSet
    assert(got == want,
      s"DSIR diverged: ${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
  }

  test("tp_wordpiece: pieces tile every word exactly — char-weighted counts conserve") {
    val sf = "/root/testdata/sf0.001"
    val got = Registry.byName("tp_wordpiece").run(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    val want = Tables.documents(spark, sf)
      .selectExpr("doc_id",
        "explode(split(regexp_replace(regexp_replace(text, '\\\\s{2,}', ' '), '^\\\\s+|\\\\s+$', ''), ' ')) AS w")
      .where("w != ''")
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.expr("cast(count(*) AS bigint) AS nw"),
        org.apache.spark.sql.functions.expr("cast(sum(length(w)) AS bigint) AS chars"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (doc, (nWords, nPieces, p1, p2, p3, p4)) =>
      val (nw, chars) = want(doc)
      assert(nWords == nw, s"doc $doc: word count")
      assert(nPieces == p1 + p2 + p3 + p4, s"doc $doc: piece histogram sums to the total")
      // every codepoint of every word is covered by exactly one piece
      assert(p1 + 2 * p2 + 3 * p3 + 4 * p4 == chars, s"doc $doc: tiling broken")
      // greedy can never do worse than one piece per char or better than 4 chars/piece
      assert(nPieces >= (chars + 3) / 4 && nPieces <= chars, s"doc $doc: bounds")
    }
  }

  test("tp_unigram: per-doc sums equal an independent suffix-recursion replay") {
    val sf = "/root/testdata/sf0.001"
    val out = Registry.byName("tp_unigram").run(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.nonEmpty)
    // ---- third derivation, plain Scala: tokenization, census, vocab
    // cut, and a recursive suffix-decomposition search (the iterative
    // prefix DP under test is never consulted)
    def toks(t: String): Array[String] =
      t.replaceAll("\\s{2,}", " ").replaceAll("^\\s+|\\s+$", "")
        .split(" ").filter(_.nonEmpty)
    val docs = Tables.documents(spark, sf).selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> toks(r.getString(1)))
    val gw = docs.flatMap(_._2).groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    val census = scala.collection.mutable.Map.empty[String, Long]
    gw.foreach { case (w, wc) =>
      val cps = w.codePoints().toArray
      for (l <- 1 to 4; s <- 0 to cps.length - l)
        census.updateWith(new String(cps, s, l))(c => Some(c.getOrElse(0L) + wc))
    }
    // top-300 multichar pieces: cnt DESC, piece ASC in UTF-8 byte order
    def utf8Lt(a: String, b: String): Boolean = {
      val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      x.length < y.length
    }
    val multi = census.toSeq.filter { case (p, _) => p.codePoints().count() >= 2 }
      .sortWith { case ((pa, ca), (pb, cb)) => if (ca != cb) ca > cb else utf8Lt(pa, pb) }
      .take(300)
    val vocab = (multi ++ census.toSeq.filter(_._1.codePoints().count() == 1)).map {
      case (p, cnt) =>
        val bl = 64 - java.lang.Long.numberOfLeadingZeros(cnt)
        p -> math.max(40L - bl, 1L)
    }.toMap
    // independent replay: recursive SUFFIX decomposition (the operator
    // DP iterates prefix positions in an array — different shape, same
    // semantics), min lexicographic (cost, pieces)
    val memo = scala.collection.mutable.Map.empty[String, (Long, Long)]
    def best(w: String): (Long, Long) = memo.get(w) match {
      case Some(v) => v
      case None =>
        val cps = w.codePoints().toArray
        val v =
          if (cps.isEmpty) (0L, 0L)
          else {
            var bc = Long.MaxValue / 4
            var bn = Long.MaxValue / 4
            for (l <- 1 to math.min(4, cps.length)) {
              vocab.get(new String(cps, 0, l)).foreach { c =>
                val (tc, tn) = best(new String(cps, l, cps.length - l))
                val (nc, nn) = (c + tc, 1L + tn)
                if (nc < bc || (nc == bc && nn < bn)) { bc = nc; bn = nn }
              }
            }
            (bc, bn)
          }
        memo(w) = v
        v
    }
    docs.foreach { case (doc, ws) =>
      val nWords = ws.length.toLong
      var np = 0L; var cost = 0L
      ws.foreach { w => val (c, n) = best(w); cost += c; np += n }
      assert(out(doc) == ((nWords, np, cost)),
        s"doc $doc: ${out(doc)} vs ($nWords, $np, $cost)")
    }
  }
  test("tp_fim: parts are non-empty, in-bounds, and reassemble the cleaned document") {
    val sf = "/root/testdata/sf0.001"
    val rows = Registry.byName("tp_fim").run(spark, sf).collect()
    assert(rows.nonEmpty)
    val clean = Tables.documents(spark, sf)
      .selectExpr("doc_id",
        "regexp_replace(regexp_replace(text, '\\\\s{2,}', ' '), '^\\\\s+|\\\\s+$', '') AS tc")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val (id, n, c1, c2) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val (pre, mid, suf) = (r.getString(4), r.getString(5), r.getString(6))
      assert(1 <= c1 && c1 < c2 && c2 <= n - 1, s"doc $id: cuts out of range")
      assert(pre.nonEmpty && mid.nonEmpty && suf.nonEmpty, s"doc $id: empty part")
      assert(s"$pre $mid $suf" == clean(id), s"doc $id: reassembly mismatch")
      assert(r.getString(7) == s"<PRE>$pre<SUF>$suf<MID>$mid", s"doc $id: psm format")
      assert(pre.split(' ').length.toLong == c1 && mid.split(' ').length.toLong == c2 - c1,
        s"doc $id: cut points do not match part sizes")
    }
    val nToks = clean.view.mapValues(_.split(' ').length).toMap
    assert(rows.map(_.getLong(0)).toSet == nToks.filter(_._2 >= 8).keySet,
      "every >= 8-token doc gets exactly one FIM row")
  }

  test("tp_kn_counts: counts and the discounted ppm equal a sequential replay") {
    val sf = "/root/testdata/sf0.001"
    val rows = Registry.byName("tp_kn_counts").run(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .selectExpr("regexp_replace(regexp_replace(text, '\\\\s{2,}', ' '), '^\\\\s+|\\\\s+$', '') AS tc")
      .collect().map(_.getString(0))
    val bg = scala.collection.mutable.Map.empty[(String, String), Long]
    docs.foreach { tc =>
      val t = tc.split(' ')
      var i = 1
      while (i < t.length) {
        val k = (t(i - 1), t(i)); bg(k) = bg.getOrElse(k, 0L) + 1; i += 1
      }
    }
    val ch = bg.groupBy(_._1._1).map { case (w, m) => (w, (m.values.sum, m.size.toLong)) }
    val n1r = bg.groupBy(_._1._2).map { case (w, m) => (w, m.size.toLong) }
    val tTypes = bg.size.toLong
    val expected = bg.filter(_._2 >= 5)
    assert(rows.length == expected.size, s"${rows.length} rows vs ${expected.size} bigrams")
    rows.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      val c = expected(k)
      val (chv, n1l) = ch(k._1)
      assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)) ==
        ((c, chv, n1l, n1r(k._2), tTypes)), s"$k: count columns")
      val pkn = ((4 * c - 3) * 250000L) / chv +
        (3L * n1l * 250000L * n1r(k._2)) / (chv * tTypes)
      assert(r.getLong(7) == pkn, s"$k: pkn_ppm")
    }
  }

  test("tp_mlm_masks: selection, op split, and replacements replay from md5 draws") {
    val sf = "/root/testdata/sf0.001"
    val rows = Registry.byName("tp_mlm_masks").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getString(4)))
    assert(rows.nonEmpty)
    def h(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id",
        "regexp_replace(regexp_replace(text, '\\\\s{2,}', ' '), '^\\\\s+|\\\\s+$', '') AS tc")
      .collect().map(r => (r.getLong(0), r.getString(1).split(' ').toIndexedSeq))
    val expected = docs.flatMap { case (id, toks) =>
      (1 to toks.length).filter(p => h(s"$id:$p") % 100 < 15).map { p =>
        val opr = h(s"$id:$p:op") % 10
        val rtok = toks((h(s"$id:$p:rnd") % toks.length).toInt)
        val op = if (opr < 8) "mask" else if (opr == 8) "random" else "keep"
        val repl = if (opr < 8) "[MASK]" else if (opr == 8) rtok else toks(p - 1)
        (id, p.toLong, toks(p - 1), op, repl)
      }
    }.toSet
    assert(rows.toSet == expected, s"mask plans differ: ${rows.length} vs ${expected.size}")
    // the three op kinds all fire, and the selection rate is ~15%
    assert(rows.map(_._4).distinct.sorted.toSeq == Seq("keep", "mask", "random"))
    val total = docs.map(_._2.length).sum
    val rate = rows.length * 1000 / total
    assert(rate >= 120 && rate <= 180, s"selection rate $rate permille not ~150")
  }

  test("tp_dpo_pairs: elections equal a per-group brute-force score ranking") {
    val sf = "/root/testdata/sf0.001"
    val rows = Registry.byName("tp_dpo_pairs").run(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "source", "lang",
        "regexp_replace(regexp_replace(text, '\\\\s{2,}', ' '), '^\\\\s+|\\\\s+$', '') AS tc")
      .collect().map { r =>
        val toks = r.getString(3).split(' ')
        (r.getLong(0), r.getString(1), r.getString(2),
          toks.distinct.length.toLong * 1000L / toks.length)
      }
    val groups = docs.groupBy(d => (d._2, d._3)).filter(_._2.length >= 2)
    assert(rows.keySet == groups.keySet, "one pair per multi-doc group")
    groups.foreach { case (g, ds) =>
      val chosen = ds.minBy(d => (-d._4, d._1))
      // lo election tie-breaks doc_id DESC (opposite of hi) so all-tied
      // groups still produce two distinct documents
      val rejected = ds.minBy(d => (d._4, -d._1))
      val (cd, cs, rd, rs, m) = rows(g)
      assert((cd, cs) == ((chosen._1, chosen._4)), s"$g: chosen")
      assert((rd, rs) == ((rejected._1, rejected._4)), s"$g: rejected")
      assert(m == cs - rs && m >= 0, s"$g: margin")
      assert(cd != rd, s"$g: self-pair")
    }
  }

  test("tp_release_gate: the five-stage funnel equals an in-memory replay") {
    val sf = "/root/testdata/sf0.001"
    val rows = Registry.byName("tp_release_gate").run(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows.size == 5)
    case class D(id: Long, tc: String, toks: Array[String])
    val dd = Tables.documents(spark, sf)
      .selectExpr("doc_id",
        "regexp_replace(regexp_replace(text, '\\\\s{2,}', ' '), '^\\\\s+|\\\\s+$', '') AS tc")
      .collect().map(r => D(r.getLong(0), r.getString(1), r.getString(1).split(' ')))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def grams(d: D): Iterator[String] =
      if (d.toks.length < 13) Iterator.empty
      else d.toks.sliding(13).map(_.mkString(" "))
    val q = dd.filter(d => d.tc.length >= 50 && d.toks.length >= 10)
    val ex = q.groupBy(d => md5hex(d.tc)).values.map(_.minBy(_.id)).toSeq
    val ev = dd.filter(_.id % 97 == 0).flatMap(grams).toSet
    val cln = ex.filter(_.id % 97 != 0).filterNot(d => grams(d).exists(ev.contains))
    val nPacks = cln.groupBy(_.id % 8).map { case (_, ds) =>
      var cum = 0L
      val bins = scala.collection.mutable.Set.empty[Long]
      ds.sortBy(_.id).foreach { d => bins += cum / 2048; cum += d.toks.length }
      bins.size
    }.sum
    def toksOf(s: Seq[D]) = s.map(_.toks.length.toLong).sum
    assert(rows(1L) == (("ingested", dd.length.toLong, toksOf(dd.toSeq), 0L)))
    assert(rows(2L) == (("quality", q.length.toLong, toksOf(q.toSeq), 0L)))
    assert(rows(3L) == (("exact_dedup", ex.length.toLong, toksOf(ex), 0L)))
    assert(rows(4L) == (("decontaminated", cln.length.toLong, toksOf(cln), 0L)))
    assert(rows(5L) == (("packed", cln.length.toLong, toksOf(cln), nPacks.toLong)))
    // the funnel must actually funnel on this fixture: the eval split
    // and quality gates each remove documents, and packing packs > 1
    assert(q.length < dd.length || cln.length < ex.length,
      "no stage dropped anything — fixture exercises nothing")
    assert(nPacks > 8, "packing produced ~one bin per salt; budget unexercised")
  }

  test("tp_mix_temperature: weights equal an IEEE-sqrt replay; alpha=1 is proportional") {
    val sf = "/root/testdata/sf0.001"
    val rows = Registry.byName("tp_mix_temperature").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val byLang = Tables.documents(spark, sf).selectExpr("lang", "(n_chars + 3) div 4 AS t")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (l, xs) => l -> ((xs.length.toLong, xs.map(_._2).sum)) }
    val alphas = Seq(1000L, 750L, 500L, 250L)
    assert(rows.size == alphas.size * byLang.size)
    val tt = byLang.values.map(_._2).sum
    alphas.foreach { a =>
      def wOf(tok: Long): Long = a match {
        case 1000L => tok * 1000L
        case 750L => math.floor(math.sqrt(tok.toDouble) * math.sqrt(math.sqrt(tok.toDouble)) * 1000).toLong
        case 500L => math.floor(math.sqrt(tok.toDouble) * 1000).toLong
        case _ => math.floor(math.sqrt(math.sqrt(tok.toDouble)) * 1000).toLong
      }
      val tw = byLang.values.map(v => BigInt(wOf(v._2))).sum
      byLang.foreach { case (l, (nd, tok)) =>
        val share = (BigInt(tok) * 1000000 / tt).toLong
        val qp = (BigInt(wOf(tok)) * 1000000 / tw).toLong
        val boost = if (share == 0) 0L else qp * 1000000L / share
        assert(rows((a, l)) == ((nd, tok, share, qp, boost)), s"alpha $a lang $l")
      }
      // shares sum to ~1e6 (truncation slack < |langs|)
      val qs = byLang.keys.map(l => rows((a, l))._4).sum
      assert(qs > 1000000L - byLang.size && qs <= 1000000L, s"alpha $a: sum $qs")
    }
    // alpha=1 is exactly proportional: q == share per lang
    byLang.keys.foreach(l => assert(rows((1000L, l))._3 == rows((1000L, l))._4, l))
    // temperature flattens: the LARGEST language's q share is non-increasing
    // as alpha drops, the smallest non-decreasing
    val big = byLang.maxBy(_._2._2)._1
    val small = byLang.minBy(_._2._2)._1
    val bigQ = alphas.map(a => rows((a, big))._4)
    val smallQ = alphas.map(a => rows((a, small))._4)
    assert(bigQ.sliding(2).forall { case Seq(x, y) => y <= x }, s"big lang not flattening: $bigQ")
    assert(smallQ.sliding(2).forall { case Seq(x, y) => y >= x }, s"small lang not boosted: $smallQ")
  }

}
