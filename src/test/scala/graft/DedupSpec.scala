package graft

import graft.operators.Dedup

/** Embedding near-dup formulation equivalence: the LSH-banded candidate
  * generator (the registered dd_embed_neardup query) must recall the
  * EXACT pair set the all-pairs-within-label formulation verifies at
  * the production threshold over the same derived twin corpus. The
  * planes, the perturbation direction, and the corpus are all fixed
  * constants, so this equality is deterministic — a parameter change
  * that hurts recall fails here before it fails the driver gate.
  */
class DedupSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("banded near-dup pair set == twin-corpus all-pairs set (sf0.001)") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getAs[Int]("label"), r.getAs[Long]("vec_a"),
          r.getAs[Long]("vec_b"), r.getAs[Double]("cosine")))
        .toSet
    val allPairs = pairs(Dedup.embedTwinAllPairs(spark, sf))
    val banded = pairs(Dedup.embedNearDupBanded(spark, sf))
    assert(allPairs.nonEmpty, "ground truth is empty — threshold or data drifted")
    // every original must pair with its planted twin
    assert(allPairs.size >= 500, s"expected >= 500 twin pairs, got ${allPairs.size}")
    val missed = allPairs -- banded
    assert(missed.isEmpty, s"banding lost ${missed.size} pairs: ${missed.take(5)}")
    val phantom = banded -- allPairs
    assert(phantom.isEmpty, s"banding invented ${phantom.size} pairs: ${phantom.take(5)}")
  }

  test("exactSubstrSpans == brute-force maximal repeated spans on a toy corpus") {
    import spark.implicits._
    val k = 4
    val shared = "alpha beta gamma delta epsilon zeta" // 6 tokens: 3 windows merge into ONE span
    val shared2 = "one two three four"                 // exactly k tokens: single-window span
    val docs = Seq(
      (0L, s"$shared filler01 filler02 $shared2"),
      (1L, s"pre1 pre2 $shared post1"),
      (2L, s"$shared2 mid1 mid2 mid3 $shared2"), // twice here AND elsewhere
      (3L, "u1 u2 u3 u4 z u1 u2 u3 u4"),         // repeats ONLY within one doc — must NOT flag
      (4L, "short doc"),                          // < k tokens — no windows
      (5L, s"x1 x2 $shared $shared2 y1"))         // two shared runs back to back — gap-≤-k merge
    val out = Dedup.exactSubstrSpans(docs.toDF("doc_id", "tc"), k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // brute force over the DEFINITION: flag every k-window whose token
    // string occurs in >= 2 distinct docs, merge flagged starts with
    // gap <= k, emit (doc, start, end, len) 1-based inclusive
    val toks = docs.map { case (id, s) => id -> s.split(' ') }.toMap
    val grams = toks.toSeq.flatMap { case (id, t) =>
      (0 until t.length - k + 1).map(i => (t.slice(i, i + k).mkString(" "), id, i + 1)) }
    val docsPerGram = grams.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val flagged = grams.filter(g => docsPerGram(g._1) >= 2)
      .groupBy(_._2).view.mapValues(_.map(_._3).sorted).toMap
    val expect = flagged.flatMap { case (id, starts) =>
      val runs = scala.collection.mutable.ListBuffer[(Int, Int)]()
      for (p <- starts) runs.lastOption match {
        case Some((s, e)) if p - e <= k => runs(runs.length - 1) = (s, p)
        case _ => runs += ((p, p))
      }
      runs.map { case (s, e) =>
        (id, s.toLong, (e + k - 1).toLong, (e + k - 1 - s + 1).toLong) }
    }.toSet
    assert(out == expect, s"operator=${out.toSeq.sorted} brute=${expect.toSeq.sorted}")
    assert(expect.exists(_._4 > k), "fixture must exercise window merging")
    assert(!out.exists(_._1 == 3L), "within-doc-only repeats must not flag")
    assert(!out.exists(_._1 == 4L), "sub-k docs have no windows")
  }

  test("dd_decontaminate == brute-force 13-gram eval-overlap on sf0.001") {
    // Brute force over the DEFINITION (Brown et al. appendix C): a
    // training doc's window is dirty iff its 13-token string occurs
    // anywhere in the eval split (doc_id % 97 == 0) — gram STRINGS
    // here, hash60 in the operator, so a hash-collision bug or an
    // off-by-one in the window positions fails this before the gate.
    val k = 13
    val corpus = Dedup.exactSubstrCorpus(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("tc").split(' '))
    val evalGrams = corpus.filter(_._1 % 97 == 0).flatMap { case (_, t) =>
      (0 to t.length - k).map(i => t.slice(i, i + k).mkString(" "))
    }.toSet
    assert(evalGrams.nonEmpty, "eval split produced no grams — fixture drifted")
    val expect = corpus.filter(_._1 % 97 != 0).flatMap { case (id, t) =>
      val dirty = (0 to t.length - k).filter(i => evalGrams(t.slice(i, i + k).mkString(" ")))
      if (dirty.isEmpty) None
      else {
        val nw = (t.length - k + 1).toLong
        val dw = dirty.size.toLong
        Some((id, nw, dw, (dirty.min + 1).toLong, (dirty.max + k).toLong,
          dw * 1000000L / nw))
      }
    }.toSet
    val out = Dedup.queries.find(_.name == "dd_decontaminate").get.run(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_windows"),
        r.getAs[Long]("dirty_windows"), r.getAs[Long]("first_dirty"),
        r.getAs[Long]("last_dirty"), r.getAs[Long]("dirty_ppm"))).toSet
    assert(out == expect,
      s"operator-only=${(out -- expect).take(3)} brute-only=${(expect -- out).take(3)}")
    // the planted geometry must actually be exercised: appended-boiler
    // docs (%7) and prepended-boiler docs (%5) both contaminate
    assert(expect.exists(r => r._1 % 7 == 0 && r._1 % 97 != 0), "no appended-boiler hit")
    assert(expect.exists(r => r._1 % 5 == 0 && r._1 % 97 != 0), "no prepended-boiler hit")
    // eval docs never appear in the output
    assert(!out.exists(_._1 % 97 == 0), "eval docs leaked into the report")
  }

  test("paragraph dedup: planted boilerplate survives exactly once, in doc 0") {
    val rows = Dedup.queries.find(_.name == "dd_paragraph").get.run(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_paras"),
        r.getAs[Long]("n_kept"), r.getAs[String]("text_kept")))
    assert(rows.length == 500)
    // the shared paragraph is the boiler's first 12 tokens
    val boilerPara = Dedup.ParaBoiler.split(' ').take(12).mkString(" ")
    val holders = rows.filter(_._4.contains(boilerPara))
    assert(holders.map(_._1).toSeq == Seq(0L),
      s"boiler must survive only in doc 0, found in ${holders.map(_._1).take(5)}")
    // every planted doc except doc 0 lost at least its boiler paragraph
    rows.filter(r => r._1 % 5 == 0 && r._1 > 0).foreach { case (id, np, nk, _) =>
      assert(nk < np, s"planted doc $id kept all $np paragraphs")
    }
    // reassembled text never grows
    rows.foreach { case (_, np, nk, _) => assert(nk <= np) }
  }

  test("dd_url_dedup: decorations are fully canonicalized away, pairs collapse, keeper is the first fetch") {
    val rows = Registry.byName("dd_url_dedup").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, url, canon, _) =>
      // nothing decorative survives the 8-step chain
      assert(!canon.contains("http") && !canon.contains("www."), s"$id: $canon")
      assert(!canon.contains(":443") && !canon.contains("#"), s"$id: $canon")
      assert(!canon.contains("utm_") && !canon.contains("fbclid"), s"$id: $canon")
      assert(!canon.contains("//") && !canon.endsWith("/") && !canon.endsWith("?"), s"$id: $canon")
      assert(canon.contains("id=7"), s"$id: real query param must survive: $canon")
      assert(url.toLowerCase.contains(canon.takeWhile(_ != '/')), s"$id: host mangled: $canon")
    }
    // the fixture fetches every logical page twice: clusters are exact pairs
    val byCanon = rows.groupBy(_._3)
    byCanon.foreach { case (c, fetches) =>
      assert(fetches.length == 2, s"$c: expected a refetch pair, got ${fetches.length}")
      val keepers = fetches.filter(_._4 == 1L)
      assert(keepers.map(_._1).toSeq == fetches.map(_._1).sorted.take(1).toSeq,
        s"$c: keeper must be the earliest fetch")
    }
  }
  test("dd_cdc_chunks: boundaries and fingerprints replay; chunks tile every document") {
    val sf = "/root/testdata/sf0.001"
    val P = 1000000007L
    val rows = Registry.byName("dd_cdc_chunks").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
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
    val expected = docs.filter(_._2.nonEmpty).flatMap { case (id, toks) =>
      val hs = toks.map(t => h(t) % P)
      val bounds = 0 +: (1 until toks.length).filter(g => h(s"${toks(g - 1)} ${toks(g)}") % 16 == 0) :+ toks.length
      (1 until bounds.length).map { j =>
        val (a, b) = (bounds(j - 1), bounds(j))
        val fp = hs.slice(a, b).reduceLeft((acc, x) => (acc * 31 + x) % P)
        (id, j.toLong, (a + 1).toLong, (b - a).toLong, fp)
      }
    }.toSet
    assert(rows.toSet == expected, s"chunk sets differ: ${rows.length} vs ${expected.size}")
    // tiling: per doc, chunks are contiguous and lengths sum to n
    rows.groupBy(_._1).foreach { case (id, cs) =>
      val n = docs.find(_._1 == id).get._2.length.toLong
      val ordered = cs.sortBy(_._2)
      assert(ordered.head._3 == 1L && ordered.map(_._4).sum == n, s"doc $id: tiling")
      ordered.sliding(2).foreach {
        case Array(a, b) => assert(b._3 == a._3 + a._4, s"doc $id: gap at chunk ${b._2}")
        case _ =>
      }
    }
    // content-defined: some chunk fingerprint recurs across documents
    // (shared natural phrases anchor identically) OR chunking is live
    val meanLen = rows.map(_._4).sum / rows.length
    assert(meanLen >= 4 && meanLen <= 64, s"mean chunk length $meanLen implausible for divisor 16")
  }

  test("dd_dup_profile: ladder levels equal an in-memory window replay") {
    val sf = "/root/testdata/sf0.001"
    val rows = Registry.byName("dd_dup_profile").run(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val corpus = graft.operators.Dedup.exactSubstrCorpus(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(' ').toSeq)
    val ladder = graft.operators.Dedup.DupProfileLadder
    // (level, window string) -> distinct docs holding it (string windows:
    // the 60-bit hash replay is collision-free at fixture scale)
    val byWin = scala.collection.mutable.HashMap
      .empty[(Int, String), scala.collection.mutable.Set[Long]]
    for ((id, toks) <- corpus; l <- ladder; if toks.length >= l; w <- toks.sliding(l))
      byWin.getOrElseUpdate((l, w.mkString(" ")),
        scala.collection.mutable.Set.empty[Long]) += id
    val expected = corpus.map { case (id, toks) =>
      val perL = ladder.flatMap { l =>
        if (toks.length < l) None
        else {
          val c = toks.sliding(l).count(w => byWin((l, w.mkString(" "))).size >= 2)
          if (c > 0) Some((l.toLong, c.toLong)) else None
        }
      }
      val (ml, dw) = perL.lastOption.getOrElse((0L, 0L))
      id -> ((toks.length.toLong, ml, dw))
    }.toMap
    assert(rows == expected)
    // the planted 25/26-token boilers pin level 16 for planted docs (the
    // corpus also shares longer natural runs, so 32/64 fire organically —
    // the ladder's whole span is exercised on this fixture)
    assert(rows.values.exists(_._2 == 16L), "no doc reached ladder level 16")
    assert(rows.values.exists(_._2 == 0L), "every doc duplicated? fixture broken")
  }

}
