package graft

import graft.operators.Curation
import graft.operators.Curation.BpeModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps.{FenceSyntax, release}

/** The driver-side BPE learner ([[Curation.bpeLearn]]) against the
  * checkpoint-fenced Spark merge loop it replaced, kept here verbatim
  * as the reference: same merges, counts and token totals on the test
  * corpora and on a crafted corpus aimed at every tie-break and replace
  * rule; plus the failure paths and the job budget.
  */
class BpeLearnSpec extends SparkSpec {

  private val Seq(sf0001, sf001) = Seq("sf0.001", "sf0.01").map(n => s"/root/testdata/$n") // TESTDATA.md

  /** The replaced learner: one Spark aggregate, a 1-row argmax fence and
    * a replace fence per round. Returns its merges and the token total
    * tp_bpe_train reported from the final vocab.
    */
  private def sparkLoopLearn(dir: String, rounds: Int): BpeModel = {
    val vocab = Tables.documents(spark, dir)
      .selectExpr(
        s"${Fns.cleanTextSql("text")} AS tc")
      .selectExpr("explode(split(tc, ' ')) AS w")
      .where("w != ''")
      .groupBy("w").agg(expr("cast(count(*) AS bigint) AS wc"))
      .selectExpr("w", "wc",
        "concat(array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), '|'), '|') AS seq")
      .fenced
    var cur = vocab
    var merges: DataFrame = null
    val tops = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = cur
        .selectExpr("wc", "filter(split(seq, '[|]'), x -> x != '') AS syms")
        .where("size(syms) >= 2") // Spark sequence(1,0) counts DOWN — guard it out
        .selectExpr("wc",
          "explode(transform(sequence(1, size(syms) - 1), i -> named_struct('a', element_at(syms, i), 'b', element_at(syms, i + 1)))) AS p")
        .selectExpr("p.a AS a", "p.b AS b", "wc")
        .groupBy("a", "b").agg(expr("cast(sum(wc) AS bigint) AS cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .fenced // 1 row — feeds the merge row AND the replace
      if (top.isEmpty) exhausted = true
      else {
        tops += top
        val row = top.selectExpr(s"${r}L AS round", "a", "b", "concat(a, b) AS merged", "cnt")
        merges = if (merges == null) row else merges.unionByName(row)
        val next = cur.crossJoin(broadcast(top.select(col("a").as("ma"), col("b").as("mb"))))
          .selectExpr("w", "wc",
            "replace(seq, concat(ma, '|', mb, '|'), concat(ma, mb, '|')) AS seq")
          .fenced
        release(cur) // superseded vocab fence (incl. the initial build)
        cur = next
        r += 1
      }
    }
    require(merges != null, s"corpus under $dir yielded no mergeable pairs")
    val m = merges.fenced
    tops.foreach(release) // 1-row blocks, folded into m now
    val model = BpeModel(
      m.orderBy("round").collect()
        .map(x => (x.getAs[String]("a"), x.getAs[String]("b"), x.getAs[Long]("cnt"))).toVector,
      cur
        .selectExpr("wc", "cast(size(filter(split(seq, '[|]'), x -> x != '')) AS bigint) AS ns")
        .groupBy().agg(expr("cast(sum(wc * ns) AS bigint) AS cnt"))
        .collect().head.getLong(0))
    release(m); release(cur)
    model
  }

  private def corpus(texts: String*): String = {
    import spark.implicits._
    val dir = SparkSpec.tmpDir("graft_bpe").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  for (sf <- Seq(sf0001, sf001))
    test(s"driver learner equals the fenced Spark loop on ${sf.split('/').last}") {
      val want = sparkLoopLearn(sf, 10)
      assert(want.merges.size == 10)
      assert(Curation.bpeLearn(spark, sf, 10) == want)
      Curation.bpeLearned.reset(spark, sf)
      val rows = Registry.byName("tp_bpe_train").run(spark, sf).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
      assert(rows == want.merges.zipWithIndex.map { case ((a, b, c), i) => (i + 1L, a, b, a + b, c) } :+
        ((-1L, "(tokens)", "", "", want.tokens)))
    }

  test("crafted corpus: UTF-8 ties on a and b, overlapping runs, a literal '|'") {
    val dir = corpus(
      Seq.fill(4)("～q  𝐀q xy xz") :+ " ～q 𝐀q " :+ "aaaa abab k|m k|m": _*)
    val want = BpeModel(Vector(
      // (～,q) ties (𝐀,q) at 5: U+FF5E < U+1D400 in UTF-8, though its
      // UTF-16 unit 0xFF5E sorts after the surrogate 0xD835
      ("～", "q", 5L), ("𝐀", "q", 5L),
      ("x", "y", 4L), ("x", "z", 4L), // tie on a, broken by b
      ("a", "a", 3L), // 'aaaa' counts 3 overlapping pairs, merges to 'aa|aa|'
      ("a", "b", 2L), // ties (k,m) on 2, broken by a; 'abab' → 'ab|ab|'
      // 'k|m' is 'k|||m|': symbols (k, m), but 'k|m|' never matches,
      // so the same pair wins every remaining round
      ("k", "m", 2L), ("k", "m", 2L), ("k", "m", 2L), ("k", "m", 2L)),
      tokens = 5 + 5 + 4 + 4 + 2 + 2 + 2 * 2)
    assert(sparkLoopLearn(dir, 10) == want)
    assert(Curation.bpeLearn(spark, dir, 10) == want)
  }

  test("a depth-200 learn exhausts the sf0.001 vocab early, the same way") {
    val want = sparkLoopLearn(sf0001, 200)
    assert(want.merges.size < 200)
    assert(Curation.bpeLearn(spark, sf0001, 200) == want)
  }

  test("a corpus of 1-character words has no mergeable pair and fails") {
    val dir = corpus("a b c", "d  e")
    intercept[IllegalArgumentException](Curation.bpeLearn(spark, dir, 10))
  }

  test("tp_bpe_train runs at most 4 Spark jobs") {
    Curation.bpeLearned.reset(spark, sf0001)
    val jobs = jobsRunBy(Registry.byName("tp_bpe_train").run(spark, sf0001).collect(): Unit)
    assert(jobs <= 4, s"tp_bpe_train ran $jobs jobs")
  }

  test("resetBpeLearned drops the memo and the learner persists nothing") {
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val first = Curation.bpeLearned(spark, sf0001)
    assert(jobsRunBy(assert(Curation.bpeLearned(spark, sf0001) eq first)) == 0)
    Curation.bpeLearned.reset(spark, sf0001)
    var again: BpeModel = null
    assert(jobsRunBy { again = Curation.bpeLearned(spark, sf0001) } > 0)
    assert(!(again eq first) && again == first)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- persisted).isEmpty)
  }
}
