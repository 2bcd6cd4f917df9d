package graft

import org.apache.spark.sql.functions._

/** Native vector expression tests: SQL registration, codegen vs
  * interpreted parity, float/double handling, null safety, and
  * value-equality with the higher-order-function formulation.
  */
class VectorExprsSpec extends SparkSpec {

  private def df() = {
    import spark.implicits._
    Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)),
      (2L, Seq(0.0f, 0.0f, 1.0f), Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(-1.0f, 2.5f, 0.5f), Seq(3.0f, -0.5f, 2.0f)))
      .toDF("id", "a", "b")
  }

  test("dot_f matches the aggregate(zip_with(...)) formulation exactly") {
    val rows = df().selectExpr(
      "id",
      "dot_f(a, b) AS fast",
      "aggregate(zip_with(a, b, (x, y) -> cast(x AS double) * cast(y AS double)), 0D, (acc, v) -> acc + v) AS slow")
      .collect()
    rows.foreach(r => assert(r.getDouble(1) == r.getDouble(2), s"id ${r.getLong(0)}"))
    assert(rows.find(_.getLong(0) == 1L).get.getDouble(1) == 32.0)
  }

  test("cosine_f matches the three-fold formulation exactly") {
    val rows = df().selectExpr(
      "id",
      "cosine_f(a, b) AS fast",
      """aggregate(zip_with(a, b, (x, y) -> cast(x AS double) * cast(y AS double)), 0D, (acc, v) -> acc + v)
         / (sqrt(aggregate(transform(a, x -> cast(x AS double) * cast(x AS double)), 0D, (acc, v) -> acc + v))
            * sqrt(aggregate(transform(b, x -> cast(x AS double) * cast(x AS double)), 0D, (acc, v) -> acc + v))) AS slow""")
      .collect()
    rows.foreach(r => assert(r.getDouble(1) == r.getDouble(2), s"id ${r.getLong(0)}"))
    val orth = rows.find(_.getLong(0) == 2L).get
    assert(orth.getDouble(1) == 0.0)
  }

  test("double arrays are accepted too") {
    import spark.implicits._
    val r = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
      .selectExpr("dot_f(a, b) AS d").collect().head.getDouble(0)
    assert(r == 11.0)
  }

  test("null inputs yield null, not a crash") {
    import spark.implicits._
    val r = Seq((Option.empty[Seq[Float]], Seq(1.0f)))
      .toDF("a", "b").selectExpr("dot_f(a, b) AS d").collect().head
    assert(r.isNullAt(0))
  }

  // --------------------------------------------------------- argmax_cos

  /** Rows covering every argmax_cos contract: best-wins, first-max-wins
    * ties, NaN-greatest (zero-norm candidate), empty set, null element.
    */
  private def argmaxDf() = {
    import spark.implicits._
    Seq(
      // plain best: candidate 1 is exactly q
      (1L, Seq(1.0f, 0.0f), Seq(Seq(0.9f, 0.1f), Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))),
      // tie: both candidates are positive scalings of q (cos = 1) → lowest index
      (2L, Seq(1.0f, 0.0f), Seq(Seq(2.0f, 0.0f), Seq(3.0f, 0.0f))),
      // zero-norm candidate → cosine NaN → NaN compares greatest (ORDER
      // BY ... DESC semantics in both engines) → index 1 wins over cos=1
      (3L, Seq(1.0f, 0.0f), Seq(Seq(1.0f, 0.0f), Seq(0.0f, 0.0f))),
      // empty candidate set → -1
      (4L, Seq(1.0f, 0.0f), Seq.empty[Seq[Float]]),
      // null candidate element is SKIPPED, not an NPE; remaining best wins
      (5L, Seq(1.0f, 0.0f), Seq(Seq(0.0f, 1.0f), null, Seq(1.0f, 0.0f))))
      .toDF("id", "q", "cands")
  }

  test("argmax_cos: ties → lowest index, NaN greatest, empty → -1, null element skipped") {
    val got = argmaxDf().selectExpr("id", "argmax_cos(q, cands) AS am")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 1, 2L -> 0, 3L -> 1, 4L -> -1, 5L -> 2))
  }

  test("argmax_cos: agrees with the cosine_f + first-max fold on every row") {
    // independent formulation: explode candidates, score with cosine_f,
    // keep the first index achieving the max under NaN-greatest ordering
    val rows = argmaxDf().where("size(cands) > 0")
      .selectExpr("id", "q", "argmax_cos(q, cands) AS am", "posexplode(cands) AS (i, v)")
      .where("v IS NOT NULL")
      .selectExpr("id", "am", "i", "cosine_f(q, v) AS cs")
      .collect()
    val byId = rows.groupBy(_.getLong(0))
    byId.foreach { case (id, rs) =>
      val best = rs.map(r => (r.getInt(2), r.getDouble(3)))
        .reduceLeft((a, b) => if (java.lang.Double.compare(b._2, a._2) > 0) b else a)
      assert(rs.head.getInt(1) == best._1, s"id $id")
    }
  }

  test("argmax_cos: null q or null candidate array yields null") {
    import spark.implicits._
    val r = Seq((Option.empty[Seq[Float]], Option(Seq(Seq(1.0f)))),
        (Option(Seq(1.0f)), Option.empty[Seq[Seq[Float]]]))
      .toDF("q", "cands").selectExpr("argmax_cos(q, cands) AS am").collect()
    assert(r.forall(_.isNullAt(0)))
  }

  // --------------------------------------------------------- byte_stride

  test("byte_stride: byte-for-byte equal to the hex-lambda formulation") {
    import spark.implicits._
    // multi-byte UTF-8 included: the kernel must be byte- (not char-) exact
    val df = Seq((1L, "hello world, this is a longer payload", 3),
        (2L, "中文内容测试 with mixed bytes", 4),
        (3L, "ab", 1), (4L, "", 5))
      .toDF("id", "txt", "s")
      .selectExpr("id", "encode(txt, 'UTF-8') AS payload", "s",
        "cast(octet_length(txt) AS int) AS n")
    val rows = df.selectExpr(
        "id",
        "byte_stride(payload, s) AS fast",
        """unhex(concat_ws('', transform(
             filter(sequence(0, greatest(n - 1, 0), s), i -> i < n),
             i -> substring(hex(payload), i * 2 + 1, 2)))) AS slow""")
      .collect()
    rows.foreach { r =>
      val fast = Option(r.getAs[Array[Byte]]("fast")).map(_.toSeq)
      val slow = Option(r.getAs[Array[Byte]]("slow")).map(_.toSeq)
      assert(fast == slow, s"id ${r.getLong(0)}")
    }
  }

  test("byte_stride: stride below 1 is identity; nulls propagate") {
    import spark.implicits._
    val id = Seq(Tuple1("xyz")).toDF("t")
      .selectExpr("byte_stride(encode(t, 'UTF-8'), 0) AS b").collect().head
    assert(id.getAs[Array[Byte]]("b").toSeq == "xyz".getBytes("UTF-8").toSeq)
    val nul = Seq((Option.empty[Array[Byte]], 2)).toDF("p", "s")
      .selectExpr("byte_stride(p, s) AS b").collect().head
    assert(nul.isNullAt(0))
  }

  test("byte_energy: hand-computed slices, clamped edges, null propagation") {
    import spark.implicits._
    // "abc" = 97 98 99 → |b−128| = 31 30 29
    val rows = Seq(
      (1L, Some("abc"), 0, 160), // full (truncated) window: 31+30+29
      (2L, Some("abc"), 1, 1), // inner slice: 30
      (3L, Some("abc"), -7, 2), // negative offset clamps to 0: 31+30
      (4L, Some("abc"), 2, 0), // empty length
      (5L, Some("abc"), 99, 4), // offset past end
      (6L, Option.empty[String], 0, 4)) // null payload → null
      .toDF("id", "t", "o", "l")
      .selectExpr("id", "byte_energy(encode(t, 'UTF-8'), o, l) AS e")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(rows == Map(1L -> Some(90L), 2L -> Some(30L), 3L -> Some(61L),
      4L -> Some(0L), 5L -> Some(0L), 6L -> None))
  }

  test("interpreted path (nullSafeEval) agrees with codegen") {
    // force the interpreted path by evaluating through a filter that
    // Spark runs in interpreted mode: compare collected values instead —
    // codegen on, then off via conf
    val before = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      def run() = {
        val fold = df().selectExpr("dot_f(a, b) AS d", "cosine_f(a, b) AS c")
          .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
        val am = argmaxDf().selectExpr("id", "argmax_cos(q, cands) AS am")
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
        val bs = {
          import spark.implicits._
          Seq((1L, "stride me please", 3), (2L, "", 2)).toDF("id", "t", "s")
            .selectExpr("id", "byte_stride(encode(t, 'UTF-8'), s) AS b")
            .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("b").toSeq)).toSeq
        }
        val be = {
          import spark.implicits._
          Seq((1L, "abc", 0, 160), (2L, "abc", 1, 1), (3L, "", 0, 10),
            (4L, "abc", -5, 2), (5L, "abc", 2, 0), (6L, "abc", 99, 4))
            .toDF("id", "t", "o", "l")
            .selectExpr("id", "byte_energy(encode(t, 'UTF-8'), o, l) AS e")
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        }
        (fold, am, bs, be)
      }
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val slow = run()
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      val fast = run()
      assert(slow == fast)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", before)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}
