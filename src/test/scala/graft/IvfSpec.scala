package graft

import graft.operators.Knn
import org.apache.spark.sql.functions._

/** IVF index at rest: partitioned layout, partition-PRUNED search, and
  * agreement with brute force when the probe covers the right cluster.
  */
class IvfSpec extends SparkSpec {

  private def embeddings() =
    Tables.embeddings(spark, "/root/testdata/sf0.001")

  private def centroids() =
    embeddings().where("vec_id < 8")
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))

  test("index is written partitioned by cluster_id; search prunes partitions") {
    val path = SparkSpec.tmpDir("graft_ivf").toString + "/index"
    Knn.writeIvfIndex(spark, embeddings(), centroids(), path)

    // on-disk layout: one directory per cluster
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("cluster_id=")) == 8)

    val qVec = embeddings().where("vec_id = 0")
      .collect().head.getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val res = Knn.ivfSearch(spark, path, centroids(), qVec, k = 5, nprobe = 1)

    // the cluster predicate must reach the scan as a PartitionFilter
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster_id"),
      s"expected partition pruning in:\n$plan")

    val rows = res.collect()
    assert(rows.length == 5)
    // vec_id 0 is its own centroid's best match → similarity 1.0 on top
    assert(rows.head.getAs[Long]("vec_id") == 0L)
    assert(rows.head.getAs[Double]("similarity") == 1.0)
  }

  test("multi-probe: exactly nprobe clusters scanned, recall grows with width") {
    val path = SparkSpec.tmpDir("graft_ivf").toString + "/index"
    Knn.writeIvfIndex(spark, embeddings(), centroids(), path)
    val qVec = embeddings().where("vec_id = 3")
      .collect().head.getAs[scala.collection.Seq[Float]]("embedding").toSeq

    // probe-count guard: a k large enough to exhaust the probed clusters
    // must surface rows from exactly nprobe distinct clusters — no more
    // (pruning broke), no fewer (a probe was dropped)
    val wide = Knn.ivfSearch(spark, path, centroids(), qVec, k = 100000, nprobe = 2)
    assert(wide.select("cluster_id").distinct().count() == 2)
    val widePlan = wide.queryExecution.executedPlan.toString
    assert(widePlan.contains("PartitionFilters") && widePlan.contains("cluster_id"))

    // monotone recall vs brute force: nprobe=2 finds at least as many of
    // the true top-5 as nprobe=1
    val qLit = qVec.map(v => s"cast($v AS float)").mkString("array(", ", ", ")")
    val brute = embeddings()
      .selectExpr("vec_id", s"round(cosine_f(embedding, $qLit), 6) AS similarity")
      .orderBy(desc("similarity"), col("vec_id"))
      .limit(5).select("vec_id").collect().map(_.getLong(0)).toSet
    def recall(np: Int) =
      Knn.ivfSearch(spark, path, centroids(), qVec, k = 5, nprobe = np)
        .select("vec_id").collect().map(_.getLong(0)).count(brute)
    assert(recall(2) >= recall(1))
    assert(recall(8) == 5) // full width IS brute force
  }

  test("PQ/ADC: self-match ranks first, approx top-10 overlaps exact top-10") {
    val approx = Knn.queries.find(_.name == "v7_pq_adc").get
      .run(spark, "/root/testdata/sf0.001")
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(approx.head == 0L) // the query vector survives its own quantization
    val q = embeddings().where("vec_id = 0")
      .collect().head.getAs[scala.collection.Seq[Float]]("embedding")
    val qLit = q.map(v => s"cast($v AS float)").mkString("array(", ", ", ")")
    val exact = embeddings()
      .selectExpr("vec_id", s"cosine_f(embedding, $qLit) AS cs")
      .orderBy(desc("cs"), col("vec_id"))
      .limit(10).collect().map(_.getAs[Long]("vec_id")).toSet
    // 8 subspaces × 16 codewords on this corpus recalls 5 of the true
    // top-10 (measured, deterministic); ≥ 4 guards against silent
    // quantizer regressions without over-pinning
    assert(approx.count(exact) >= 4, s"PQ recall degraded: $approx vs $exact")
  }

  test("IVF-PQ: results come only from the probed clusters, scores bounded, deterministic") {
    val v8 = Knn.queries.find(_.name == "v8_ivfpq").get
    val rows = v8.run(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 10)
    // the probe set: top-2 centroids by cosine against the vec-0 query
    val q = embeddings().where("vec_id = 0")
      .collect().head.getAs[scala.collection.Seq[Float]]("embedding")
    val qLit = q.map(v => s"cast($v AS float)").mkString("array(", ", ", ")")
    val probes = centroids()
      .selectExpr("cent_id", s"cosine_f(cent_emb, $qLit) AS cs")
      .orderBy(desc("cs"), col("cent_id")).limit(2)
      .collect().map(_.getAs[Long]("cent_id")).toSet
    rows.foreach(r => assert(probes(r.getAs[Long]("cluster_id")),
      s"vec ${r.getAs[Long]("vec_id")} scored from unprobed cluster ${r.getAs[Long]("cluster_id")}"))
    // the ADC approximation of ⟨q,v⟩ must sit in the exact dot's range
    // over the corpus (a wildly out-of-range score = broken codebook join)
    val exactMax = embeddings()
      .selectExpr(s"max(dot_f(embedding, $qLit)) AS m").collect().head.getAs[Double]("m")
    rows.foreach(r => assert(math.abs(r.getAs[Double]("approx_sim")) <= 2 * math.abs(exactMax) + 1))
    // deterministic re-run
    val again = v8.run(spark, "/root/testdata/sf0.001").collect().map(_.toSeq).toSeq
    assert(again == rows.map(_.toSeq).toSeq)
  }

  test("IVF-PQ at rest: codes-only layout, pruned probe, equals the inline v8 pipeline") {
    val path = SparkSpec.tmpDir("graft_ivfpq").toString + "/index"
    Knn.writeIvfPqIndex(spark, embeddings(), centroids(), path)
    // at rest: 8 small codes + id per vector — never the embedding
    val codes = spark.read.parquet(s"$path/codes")
    assert(codes.schema.fieldNames.toSet == Set("vec_id", "codes", "cluster_id"))
    val dirs = new java.io.File(s"$path/codes").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("cluster_id=")) == 8)

    val qVec = embeddings().where("vec_id = 0")
      .collect().head.getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val res = Knn.ivfPqSearch(spark, path, centroids(), qVec, k = 10, nprobe = 2)
    assert(res.queryExecution.executedPlan.toString.contains("PartitionFilters"),
      "probe must prune the codes scan")
    // same centroids, codebook source, probe width, and k as the
    // v8_ivfpq gate query — the at-rest path must reproduce the inline
    // pipeline exactly (scores included)
    val atRest = res.collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Double]("approx_sim"))).toSeq
    val inline = Knn.queries.find(_.name == "v8_ivfpq").get
      .run(spark, "/root/testdata/sf0.001").collect().map(r =>
        (r.getAs[Long]("vec_id"), r.getAs[Double]("approx_sim"))).toSeq
    assert(atRest == inline, s"at-rest $atRest != inline $inline")
  }

  test("IVF with full probe width equals brute force") {
    val path = SparkSpec.tmpDir("graft_ivf").toString + "/index"
    Knn.writeIvfIndex(spark, embeddings(), centroids(), path)
    val qVec = embeddings().where("vec_id = 3")
      .collect().head.getAs[scala.collection.Seq[Float]]("embedding").toSeq

    val ivfAll = Knn.ivfSearch(spark, path, centroids(), qVec, k = 5, nprobe = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSeq

    val qLit = qVec.map(v => s"cast($v AS float)").mkString("array(", ", ", ")")
    val brute = embeddings()
      .selectExpr("vec_id", s"round(cosine_f(embedding, $qLit), 6) AS similarity")
      .orderBy(desc("similarity"), col("vec_id"))
      .limit(5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq

    assert(ivfAll == brute)
  }
}
