package graft

/** Native text-hash kernel tests (graft.plans.TextHash): exact parity
  * with the SQL md5/lambda formulations they replaced — the dedup
  * family's DuckDB oracles still use the SQL form, so hash-for-hash
  * equality here is what keeps the oracle gate green.
  */
class TextHashSpec extends SparkSpec {

  private val P = 1000000007L

  private def toksDf(texts: Seq[String]) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "tc")
      .selectExpr("id", "split(tc, ' ') AS toks", "tc")
  }

  private val samples = Seq(
    "the quick brown fox jumps over the lazy dog",
    "one two three four",   // exactly 4 tokens → one shingle
    "one two three",        // < 4 tokens → whole-text shingle
    "solo",
    "",                     // empty text → [''] token
    "a a a a a a",          // repeated tokens → distinct collapses shingles
    "unicode héllo wörld ünïcode tokens here",
    "x " + ("y " * 300).trim) // long doc

  test("hash_tokens matches conv(substring(md5(t),1,15),16,10) per token") {
    val rows = toksDf(samples).selectExpr(
      "id",
      "hash_tokens(toks) AS fast",
      "transform(toks, t -> cast(conv(substring(md5(t), 1, 15), 16, 10) AS bigint)) AS slow")
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"id ${r.getLong(0)}")
    }
  }

  test("word_shingles(toks, 4) matches the SQL 4-gram formulation as a set") {
    val rows = toksDf(samples).selectExpr(
      "id",
      "word_shingles(toks, 4) AS fast",
      """array_distinct(transform(
           CASE WHEN size(toks) < 4 THEN array(tc)
                ELSE transform(sequence(1, size(toks) - 3, 1), i -> concat_ws(' ', slice(toks, i, 4)))
           END,
           s -> cast(conv(substring(md5(s), 1, 15), 16, 10) AS bigint))) AS slow""")
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1).sorted == r.getSeq[Long](2).sorted, s"id ${r.getLong(0)}")
    }
  }

  test("minhash16 matches the 16-permutation lambda formulation") {
    val A = graft.plans.TextHash.A
    val B = graft.plans.TextHash.B
    val aArr = A.mkString("array(", "L, ", "L)")
    val bArr = B.mkString("array(", "L, ", "L)")
    val rows = toksDf(samples)
      .selectExpr("id", "word_shingles(toks, 4) AS hs")
      .selectExpr(
        "id",
        "minhash16(hs) AS fast",
        s"""transform(sequence(0, 15, 1),
              j -> array_min(transform(transform(hs, h -> h % $P),
                     h -> (element_at($aArr, j + 1) * h + element_at($bArr, j + 1)) % $P))) AS slow""")
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"id ${r.getLong(0)}")
    }
  }

  test("simhash60 matches the 60-bit lambda fold") {
    val rows = toksDf(samples)
      .selectExpr("id", "hash_tokens(toks) AS hv")
      .selectExpr(
        "id",
        "simhash60(hv) AS fast",
        """aggregate(
             transform(sequence(0, 59, 1),
               j -> CASE WHEN aggregate(hv, 0L,
                            (acc, h) -> acc + CASE WHEN (h div shiftleft(cast(1 AS bigint), j)) % 2 = 1
                                              THEN 1L ELSE -1L END) > 0
                         THEN shiftleft(cast(1 AS bigint), j) ELSE 0L END),
             0L, (acc, v) -> acc + v) AS slow""")
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"id ${r.getLong(0)}")
    }
  }

  test("randomized token lists agree with the SQL shingle formulation") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("spark", "数据", "join", "hash", "a", "词", "scan", "x1", "yy", "zzz")
    val texts = (1 to 40).map { _ =>
      val n = rnd.nextInt(12) // 0..11 tokens: exercises both shingle branches
      (0 until math.max(1, n)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val rows = toksDf(texts).selectExpr(
      "id",
      "word_shingles(toks, 4) AS ws",
      """array_distinct(transform(
           CASE WHEN size(toks) < 4 THEN array(tc)
                ELSE transform(sequence(1, size(toks) - 3, 1), i -> concat_ws(' ', slice(toks, i, 4)))
           END,
           s -> cast(conv(substring(md5(s), 1, 15), 16, 10) AS bigint))) AS slow""")
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1).sorted == r.getSeq[Long](2).sorted, s"id ${r.getLong(0)}")
    }
  }

  test("embed64 is bit-identical to the lambda-form embedText") {
    // the V1 store writes and every embed-family oracle assume this
    // parity: same md5 bucket hash, same bucket-ordered norm fold,
    // same per-element division, zero-norm guard included ('' token)
    val rows = toksDf(samples)
      .withColumn("slow", Fns.embedText(org.apache.spark.sql.functions.col("tc")))
      .selectExpr("id", "embed64(split(tc, ' ')) AS fast", "slow")
      .collect()
    rows.foreach { r =>
      val fast = r.getSeq[Double](1)
      val slow = r.getSeq[Double](2)
      assert(fast.size == 64 && slow.size == 64, s"id ${r.getLong(0)}")
      // bitwise, not approximate: the oracle hashes rounded values, so
      // even a one-ulp divergence between the forms would be a red gate
      assert(fast.map(java.lang.Double.doubleToLongBits) ==
        slow.map(java.lang.Double.doubleToLongBits), s"id ${r.getLong(0)}")
    }
  }

  test("rank52 matches the bin()+regexp rank for boundary and random hashes") {
    import spark.implicits._
    val half = 1L << 52
    val rng = new scala.util.Random(7)
    val hs = Seq(0L, 1L, 2L, half - 1, half, half + 1, (1L << 59) | 5L,
      (1L << 60) - 1) ++ Seq.fill(500)(rng.nextLong() >>> 4) // hash60 range
    val rows = hs.toDF("h")
      .selectExpr("h", s"h % ${half}L AS rem")
      .selectExpr("h",
        "rank52(h) AS fast",
        "cast(53 - length(regexp_replace(bin(rem), '^0+', '')) AS bigint) AS slow")
      .collect()
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2), s"h=${r.getLong(0)}"))
  }

  test("kernels survive codegen AND interpreted paths identically") {
    // force the interpreted path by evaluating through a filter that
    // Catalyst can't fold, then compare with the default codegen result
    val base = toksDf(samples).selectExpr("id", "hash_tokens(toks) AS hv")
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
                "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interp = base.selectExpr("id", "simhash60(hv) AS s").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withSQLConf("spark.sql.codegen.wholeStage" -> "true",
                  "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
        val gen = base.selectExpr("id", "simhash60(hv) AS s").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(interp == gen)
      }
    }
  }

  test("nfc_normalize: composition, singleton, reorder, fast path, null") {
    import spark.implicits._
    val rows = Seq(
      (1L, Some("café")), // decomposed → composed
      (2L, Some("Å")), // angstrom sign singleton → Å
      (3L, Some("ḍ̇")), // reorder (ccc 220 < 230) then compose
      (4L, Some("plain")), // fast path: identity
      (5L, Option.empty[String]))
      .toDF("id", "s")
      .selectExpr("id", "nfc_normalize(s) AS n")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(rows(1L) == "café")
    assert(rows(2L) == "Å")
    assert(rows(3L) == "ḍ̇")
    assert(rows(4L) == "plain")
    assert(rows(5L) == null)
    // agreement with java.text.Normalizer on every case
    Seq("café", "Å", "ḍ̇", "plain").foreach { s =>
      val viaSql = Seq(Tuple1(s)).toDF("s").selectExpr("nfc_normalize(s) AS n")
        .collect().head.getString(0)
      assert(viaSql == java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }
  }

  test("del_hashes matches polynomial hashes of materialized deletion variants") {
    import spark.implicits._
    // the reference form: materialize every deletion-variant STRING
    // (what dd_record_linkage shuffled before the kernel) and hash it
    // with the same base-1000003 wrapping polynomial — element 0 is
    // the whole string, element k+1 the string minus char k
    def polyHash(s: String): Long =
      s.foldLeft(0L)((a, c) => a * 1000003L + c)
    def expected(s: String): Seq[Long] =
      polyHash(s) +: s.indices.map(k => polyHash(s.substring(0, k) + s.substring(k + 1)))
    val cases = Seq("Customer#000000007", "ab", "a", "", "héllo wörld", "aaaa")
    // codegen path (selectExpr → whole-stage codegen)
    val viaSql = cases.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "s").selectExpr("id", "del_hashes(s) AS hs")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    cases.zipWithIndex.foreach { case (s, i) =>
      assert(viaSql(i.toLong) == expected(s), s"codegen mismatch for '$s'")
    }
    // interpreted path (direct kernel eval, what nullSafeEval calls)
    cases.foreach { s =>
      val got = graft.plans.TextHash
        .delHashes(org.apache.spark.unsafe.types.UTF8String.fromString(s))
        .toLongArray().toSeq
      assert(got == expected(s), s"interpreted mismatch for '$s'")
    }
  }

  private def withSQLConf[T](pairs: (String, String)*)(f: => T): T = {
    val conf = spark.sessionState.conf
    val olds = pairs.map { case (k, _) => k -> conf.getConfString(k, null) }
    pairs.foreach { case (k, v) => conf.setConfString(k, v) }
    try f
    finally olds.foreach {
      case (k, null) => conf.unsetConf(k)
      case (k, v) => conf.setConfString(k, v)
    }
  }
}
