package graft

/** Text-analysis scale-path checks. The gate row for
  * ta_percentiles_approx runs the sketch in its degenerate exact regime
  * (group sizes ≪ accuracy); this spec exercises the TRUE sketch regime
  * — accuracy far below the value count — and pins the GK guarantee:
  * the returned value's rank is within n/accuracy of the target rank.
  */
class TextOpsSpec extends SparkSpec {

  test("ta_simpson: per-source index equals a BigInt replay and sits in [0, 1e6)") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
      .selectExpr("source",
        "split(regexp_replace(regexp_replace(text, '\\\\s{2,}', ' '), '^\\\\s+|\\\\s+$', ''), ' ') AS t")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1))
    val expected = docs.groupBy(_._1).map { case (src, g) =>
      val toks = g.flatMap(_._2)
      val counts = toks.groupBy(identity).map(_._2.size.toLong)
      val n = BigInt(toks.size)
      val sumsq = counts.map(c => BigInt(c) * c).sum
      (src, toks.size.toLong, counts.size.toLong,
        (BigInt(1000000) - sumsq * 1000000 / (n * n)).toLong)
    }.toSet
    val got = Registry.byName("ta_simpson").run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected)
    assert(got.forall { case (_, _, _, s) => s >= 0L && s < 1000000L })
  }

  test("approx_percentile in the sketch regime honors the rank-error bound") {
    import spark.implicits._
    val n = 10000
    val accuracy = 100
    val df = (0 until n).toDF("v") // value v has rank v+1 — rank error is readable off the value
    val row = df.selectExpr(
        s"approx_percentile(v, 0.5, $accuracy) AS p50",
        s"approx_percentile(v, 0.99, $accuracy) AS p99")
      .collect().head
    val bound = n / accuracy + 1
    assert(math.abs(row.getInt(0) - (n / 2)) <= bound,
      s"p50=${row.getInt(0)} violates eps=1/$accuracy rank bound")
    assert(math.abs(row.getInt(1) - (n * 99 / 100)) <= bound,
      s"p99=${row.getInt(1)} violates eps=1/$accuracy rank bound")
  }

  test("ta_vocab_hll: estimate lands inside the m=256 error band") {
    val sf = "/root/testdata/sf0.001"
    val row = Registry.byName("ta_vocab_hll").run(spark, sf).collect().head
    val est = row.getAs[Double]("hll_est")
    val truth = Tables.documents(spark, sf)
      .selectExpr("regexp_replace(regexp_replace(text, '\\\\s{2,}', ' '), '^\\\\s+|\\\\s+$', '') AS tc")
      .selectExpr("split(tc, ' ') AS toks")
      .selectExpr("explode(word_shingles(toks, 4)) AS h")
      .distinct().count().toDouble
    // theoretical σ ≈ 1.04/√256 = 6.5%; allow 3σ before declaring the
    // sketch broken (measured: 2.5% on this corpus)
    assert(math.abs(est / truth - 1.0) < 0.20,
      s"HLL estimate $est vs true $truth drifted outside the error band")
    assert(row.getAs[Long]("buckets_hit") == 256L) // dense regime here
  }

  test("approx_percentile with ample accuracy equals exact nearest-rank selection") {
    import spark.implicits._
    // the regime the gate row relies on: sketch holds every value →
    // result is EXACTLY the value at rank ceil(p·n) (quantile_disc)
    val vals = Seq(5, 1, 9, 3, 7, 2, 8, 4, 6, 10)
    val df = vals.toDF("v")
    val row = df.selectExpr(
        "approx_percentile(v, 0.5, 10000) AS p50",
        "approx_percentile(v, 0.9, 10000) AS p90")
      .collect().head
    val sorted = vals.sorted
    def nearestRank(p: Double) = sorted(math.ceil(p * sorted.size).toInt - 1)
    assert(row.getInt(0) == nearestRank(0.5))
    assert(row.getInt(1) == nearestRank(0.9))
  }

  test("lm score: distributed pipeline matches a single-threaded reimplementation") {
    val sf = "/root/testdata/sf0.001"
    // independent oracle: tokenize + count + score sequentially in Scala
    val docs = Tables.documents(spark, sf).selectExpr("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").trim.replaceAll("\\s{2,}", " ").split(' ').toSeq).toMap
    val cu = docs.values.flatten.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val v = cu.size.toLong
    val allBigrams = docs.values.flatMap(t => t.zip(t.tail))
    val cb = allBigrams.groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    val expected = docs.collect { case (id, t) if t.length >= 2 =>
      val ppms = t.zip(t.tail).map { case (w1, w2) =>
        (cb((w1, w2)) + 1L) * 1000000L / (cu(w1) + v)
      }
      id -> ((ppms.length.toLong, ppms.sum, ppms.sum / ppms.length))
    }
    val got = graft.operators.TextOps.queries.find(_.name == "ta_lm_score").get
      .run(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("sum_ppm"), r.getAs[Long]("avg_ppm")))).toMap
    assert(got == expected)
    assert(got.values.forall { case (_, _, avg) => avg > 0L && avg <= 1000000L })
  }

  test("keywords: top-5 tf-idf terms match a sequential reimplementation") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf).selectExpr("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").trim.replaceAll("\\s{2,}", " ").split(' ').toSeq).toMap
    val tf = docs.map { case (id, t) => id -> t.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong } }
    val dfm = tf.values.flatMap(_.keys).groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val n = docs.size.toDouble
    val expected = tf.map { case (id, wc) =>
      val ranked = wc.toSeq.map { case (w, c) =>
        val score = BigDecimal(c.toDouble * math.log(n / dfm(w)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        (w, c, score)
      }.sortBy { case (w, _, s) => (-s, w) }.take(5)
      id -> ranked.map { case (w, c, s) => (w, c, s) }
    }
    val got = graft.operators.TextOps.queries.find(_.name == "ta_keywords").get
      .run(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank"),
        (r.getAs[String]("term"), r.getAs[Long]("tf"), BigDecimal(r.getAs[Double]("score")))))
      .groupBy(_._1).map { case (id, rs) => id -> rs.sortBy(_._2).map(_._3).toSeq }
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, rs) =>
      assert(rs == expected(id), s"doc $id: got $rs expected ${expected(id)}")
    }
  }

  test("ngram growth: decile curve conserves mass and saturates monotonically") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.operators.TextOps.queries.find(_.name == "ta_ngram_growth").get
      .run(spark, sf).collect()
      .map(r => (r.getAs[Long]("decile"), r.getAs[Long]("grams"),
        r.getAs[Long]("cum_grams"), r.getAs[Long]("new_grams"), r.getAs[Long]("cum_vocab")))
      .sortBy(_._1)
    assert(rows.map(_._1).sameElements(0L until 10L))
    // running totals really are running totals
    assert(rows.map(_._2).scanLeft(0L)(_ + _).tail.sameElements(rows.map(_._3)))
    assert(rows.map(_._4).scanLeft(0L)(_ + _).tail.sameElements(rows.map(_._5)))
    // every decile's novel grams are bounded by its occurrences
    rows.foreach { case (d, g, _, ng, _) =>
      assert(ng <= g, s"decile $d: $ng novel > $g occurrences") }
    // the curve grows (a random-sequence corpus never saturates fully
    // at sf0.001) and the final vocab is bounded by total occurrences
    assert(rows.last._5 > rows.head._4)
    assert(rows.last._5 <= rows.last._3)
  }

  test("gopherRules: each rule flips exactly where its boundary says") {
    import spark.implicits._
    val the49 = Seq.fill(49)("the").mkString(" ")   // 49 words
    val good = (1 to 48).map(i => s"word$i").mkString("the and ", " ", "") // 50 words, 2 stopwords
    val docs = Seq(
      1L -> good,                                   // passes every rule
      2L -> the49,                                  // r_words: 49 < 50
      3L -> good.replace("word1", "## ## ## ## ##"),// r_symbols: 10 hashes in 54 words
      4L -> (1 to 50).map(_ => "12345").mkString("the and ", " ", ""), // r_alpha: 50/52 numeric
      5L -> ("the and " + Seq.fill(48)("a").mkString(" ")),            // r_word_len: mean < 3
      6L -> good.replaceFirst("the and ", "xx yy "),                   // r_stopwords: 0 of 8
      7L -> (Seq.fill(3)("- " + good).mkString("\n") + "\nplain"),     // bullets 3/4 ≤ 90% — keeps
      8L -> Seq.fill(4)("- " + good).mkString("\n"),                   // bullets 4/4 > 90% — fails
      9L -> (good + "...\n" + good + "\n" + good)                      // ellipsis 1/3 > 30% — fails
    ).toDF("doc_id", "text")
    val got = operators.TextOps.gopherRules(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("r_words"), r.getAs[Boolean]("r_word_len"),
         r.getAs[Boolean]("r_symbols"), r.getAs[Boolean]("r_alpha"),
         r.getAs[Boolean]("r_bullets"), r.getAs[Boolean]("r_ellipsis"),
         r.getAs[Boolean]("r_stopwords"), r.getAs[Boolean]("keep"))).toMap
    assert(got(1L)._8, s"doc 1 should pass all rules: ${got(1L)}")
    assert(!got(2L)._1 && !got(2L)._8, "doc 2: word-count floor")
    assert(!got(3L)._3, "doc 3: symbol ratio > 0.1")
    assert(!got(4L)._4, "doc 4: alphabetic-word floor")
    assert(!got(5L)._2, "doc 5: mean word length < 3")
    assert(!got(6L)._7, "doc 6: required-stopword floor")
    assert(got(7L)._5, "doc 7: 75% bullet lines is allowed")
    assert(!got(8L)._5, "doc 8: 100% bullet lines is not")
    assert(!got(9L)._6, "doc 9: a third of lines end in ellipsis")
  }

  test("ta_code_detect: planted code blocks flag, prose never does") {
    val rows = Registry.byName("ta_code_detect").run(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, nChars, nSym, nIndent, symPpm, isCode) =>
      if (id % 5 == 0) {
        // the planted block contributes exactly 2 indented lines and >= 8 symbols
        assert(nIndent == 2L && isCode == 1L, s"doc $id: planted block not detected")
        assert(nSym >= 8L, s"doc $id: symbol census missed the block ($nSym)")
      } else {
        assert(nIndent == 0L && isCode == 0L, s"doc $id: prose misrouted as code")
      }
      assert(symPpm == nSym * 1000000L / nChars, s"doc $id: ratio")
    }
  }

  test("ta_source_overlap: Jaccard identities hold and the pair grid is complete") {
    val rows = Registry.byName("ta_source_overlap").run(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, va, vb, common, ppm) =>
      assert(a < b, s"pairs must be unordered-canonical: $a !< $b")
      assert(common >= 1L && common <= math.min(va, vb), s"$a/$b: impossible intersection")
      assert(ppm == common * 1000000L / (va + vb - common), s"$a/$b: formula")
    }
    // the shared-salad fixture: every source pair overlaps, so the
    // output is the full C(S,2) grid
    val sources = (rows.map(_._1) ++ rows.map(_._2)).distinct.length
    assert(rows.length == sources * (sources - 1) / 2,
      s"${rows.length} pairs for $sources sources")
  }
  test("ta_winnowing: selection equals a per-window rightmost-argmin replay; density holds") {
    val sf = "/root/testdata/sf0.001"
    val rows = Registry.byName("ta_winnowing").run(spark, sf).collect()
    assert(rows.nonEmpty)
    val P = 1000000007L
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % P
    }
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id",
        "regexp_replace(regexp_replace(text, '\\\\s{2,}', ' '), '^\\\\s+|\\\\s+$', '') AS tc")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    val perDocHashes = scala.collection.mutable.Map.empty[Long, IndexedSeq[Long]]
    docs.foreach { case (id, tc) =>
      val t = tc.split(' ')
      val npos = t.length - 3
      if (npos >= 4) {
        val hs = (0 until npos).map(i => h60(t.slice(i, i + 4).mkString(" ")))
        perDocHashes(id) = hs
        for (j <- 0 to npos - 4) {
          val win = hs.slice(j, j + 4)
          val p = j + win.lastIndexOf(win.min)
          expected += ((id, (p + 1).toLong, hs(p)))
        }
      }
    }
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected, s"winnowing sets differ: got ${got.size} vs ${expected.size}")
    // the guarantee the scheme exists for: >= 1 fingerprint per window
    perDocHashes.foreach { case (id, hs) =>
      val sel = got.collect { case (d, p, _) if d == id => p }
      for (j <- 1 to hs.length - 3)
        assert((j until j + 4).exists(p => sel(p.toLong)), s"doc $id: window $j empty")
    }
  }

  test("ta_entities: the planted mention census is exact and runs are maximal") {
    val sf = "/root/testdata/sf0.001"
    val rows = Registry.byName("ta_entities").run(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ids = Tables.documents(spark, sf).selectExpr("doc_id").collect().map(_.getLong(0))
    val n0 = ids.count(_ % 6 == 0).toLong
    val n3 = ids.count(_ % 6 == 3).toLong
    assert(n0 > 0 && n3 > 0, "both plant residues must exist")
    // maximal runs: "New York City" is ONE entity; "Bob Smith" merges
    // mentions across both plant sets
    assert(rows == Map(
      "Alice Johnson" -> ((n0, n0)),
      "Bob Smith" -> ((n0 + n3, n0 + n3)),
      "New York City" -> ((n0, n0)),
      "Mary Ann Lee" -> ((n0, n0)),
      "Carol Jones" -> ((n3, n3)),
      "San Francisco" -> ((n3, n3))), s"census differs: $rows")
  }

}
