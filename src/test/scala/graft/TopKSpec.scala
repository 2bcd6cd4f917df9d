package graft

import graft.operators.TopK
import org.apache.spark.sql.functions._

/** Heap-aggregator top-k: equality with the window formulation on the
  * real kNN workload, plus tie and small-group behavior.
  */
class TopKSpec extends SparkSpec {

  test("aggregator top-k equals the rank-window top-k on the batch kNN scores") {
    import spark.implicits._
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.where("vec_id < 8")
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"))
    val scored = e.crossJoin(broadcast(q))
      .where("vec_id != q_vec_id")
      .selectExpr("q_vec_id", "vec_id", "round(cosine_f(embedding, q_emb), 6) AS similarity")

    val viaWindow = scored
      .selectExpr("q_vec_id", "vec_id", "similarity",
        """cast(row_number() OVER (PARTITION BY q_vec_id
                                   ORDER BY similarity DESC, vec_id) AS bigint) AS rank""")
      .where("rank <= 5")
      .select("q_vec_id", "rank", "vec_id", "similarity")
      .collect().map(_.toSeq).toSet

    val viaAgg = TopK.topKByKey(
        scored.as[(Long, Long, Double)], k = 5)
      .toDF("q_vec_id", "rank", "vec_id", "similarity")
      .collect().map(_.toSeq).toSet

    assert(viaAgg == viaWindow)
    assert(viaAgg.size == 40)
  }

  test("randomized: aggregator equals the window formulation on skewed tie-heavy data") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // few distinct scores → heavy ties; skewed key sizes (1..200 rows)
    val rows = (0 until 2000).map { i =>
      (rnd.nextInt(20).toLong, i.toLong, (rnd.nextInt(5) / 4.0))
    }
    val ds = rows.toDS()
    val viaWindow = ds.toDF("key", "id", "score")
      .selectExpr("key", "id", "score",
        """cast(row_number() OVER (PARTITION BY key
                                   ORDER BY score DESC, id) AS bigint) AS rank""")
      .where("rank <= 7")
      .select("key", "rank", "id", "score")
      .collect().map(_.toSeq).toSet
    val viaAgg = TopK.topKByKey(ds, k = 7)
      .toDF("key", "rank", "id", "score")
      .collect().map(_.toSeq).toSet
    assert(viaAgg == viaWindow)
  }

  test("ties break by ascending id; groups smaller than k return all rows") {
    import spark.implicits._
    val rows = Seq(
      (1L, 10L, 0.5), (1L, 3L, 0.5), (1L, 7L, 0.9),
      (2L, 1L, 0.1)).toDS()
    val out = TopK.topKByKey(rows, k = 2).collect().toSet
    assert(out == Set(
      (1L, 1L, 7L, 0.9), (1L, 2L, 3L, 0.5), // id 3 beats id 10 on the tie
      (2L, 1L, 1L, 0.1)))
  }
}
