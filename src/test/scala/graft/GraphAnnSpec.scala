package graft

import graft.operators.GraphAnn

/** Sharded-NSW graph ANN: exactness by coverage at full beam width,
  * bounded-recall behavior at narrow width, build determinism, degree
  * bounds. Brute force is computed independently through the native
  * cosine expression.
  */
class GraphAnnSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val M = 8

  private def embeddings() = Tables.embeddings(spark, sf)

  private def queryVec(vecId: Long): Seq[Float] =
    embeddings().where(s"vec_id = $vecId").collect().head
      .getAs[scala.collection.Seq[Float]]("embedding").toSeq

  private def bruteTopK(vecId: Long, k: Int): Seq[Long] = {
    val q = queryVec(vecId).toArray
    embeddings().select("vec_id", "embedding").collect()
      .map(r => (r.getAs[Long]("vec_id"),
        GraphAnn.cos(r.getAs[scala.collection.Seq[Float]]("embedding").toArray, q)))
      .sortBy { case (id, cs) => (-cs, id) }
      .take(k).map(_._1).toSeq
  }

  private lazy val indexPath: String = {
    val p = SparkSpec.tmpDir("graft_gann").toString + "/idx"
    GraphAnn.buildIndex(embeddings(), p, numParts = 8, m = M, efC = 64)
    p
  }

  test("full beam width: graph search equals brute force exactly") {
    val got = GraphAnn.search(spark, indexPath, queryVec(0), k = 5, ef = 100000)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(got == bruteTopK(0, 5))
  }

  test("narrow beam: recall@10 ≥ 0.8 across probe queries") {
    val recalls = Seq(1L, 7L, 42L, 99L).map { qid =>
      val got = GraphAnn.search(spark, indexPath, queryVec(qid), k = 10, ef = 24)
        .collect().map(_.getAs[Long]("vec_id")).toSet
      val truth = bruteTopK(qid, 10).toSet
      (got & truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall $mean (per query: $recalls)")
  }

  test("build is deterministic and respects the degree bound") {
    val p2 = SparkSpec.tmpDir("graft_gann2").toString + "/idx"
    GraphAnn.buildIndex(embeddings(), p2, numParts = 8, m = M, efC = 64)
    def nodes(path: String) = spark.read.parquet(path)
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Long]]("neighbors").toSeq)).toMap
    val a = nodes(indexPath); val b = nodes(p2)
    assert(a == b, "two builds produced different graphs")
    assert(a.values.forall(_.size <= M), "adjacency exceeds the degree bound")
    assert(a.nonEmpty && a.values.exists(_.nonEmpty))
  }
}
