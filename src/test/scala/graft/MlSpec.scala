package graft

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.functions._

/** Spark ML interop for the ANN surface (SURVEY §2.4 V2 notes
  * BucketedRandomProjectionLSH / trained centroids as the ML-native
  * scale paths): the engine's own IVF machinery composes with MLlib
  * models, and MLlib's LSH join agrees with the exact pair set.
  */
class MlSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def normalized() = {
    Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "label",
        """CASE WHEN sqrt(aggregate(transform(embedding, x -> cast(x AS double) * cast(x AS double)), 0D, (a, v) -> a + v)) = 0D
                THEN transform(embedding, x -> cast(x AS double))
                ELSE transform(embedding, x -> cast(x AS double)
                       / sqrt(aggregate(transform(embedding, y -> cast(y AS double) * cast(y AS double)), 0D, (a, v) -> a + v)))
           END AS emb_n""")
      .withColumn("features", array_to_vector(col("emb_n")))
  }

  test("BucketedRandomProjectionLSH join covers the exact near-dup pair set") {
    val df = normalized().cache()
    // exact pairs: cosine >= 0.35 on unit vectors ⟺ ||a-b|| <= sqrt(2 - 2*0.35)
    val distThreshold = math.sqrt(2.0 - 2.0 * 0.35)
    val exact = df.alias("a").join(df.alias("b"),
        expr("a.vec_id < b.vec_id AND dot_f(a.emb_n, b.emb_n) >= 0.35"))
      .selectExpr("a.vec_id AS va", "b.vec_id AS vb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test corpus should contain near-dup pairs")

    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(2.0).setNumHashTables(8).setSeed(42)
    val model = lsh.fit(df)
    val approx = model.approxSimilarityJoin(df, df, distThreshold, "dist")
      .selectExpr("datasetA.vec_id AS va", "datasetB.vec_id AS vb")
      .where("va < vb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every LSH pair within the radius is exact-verified by construction
    assert(approx.subsetOf(exact), "LSH emitted a pair outside the distance radius")
    // recall: with 8 hash tables at this bucket length the planted
    // near-dups should essentially all surface
    assert(approx.size >= (exact.size * 0.8).toInt,
      s"LSH recall too low: ${approx.size}/${exact.size}")
    df.unpersist()
  }

  test("KMeans-trained centroids drive the IVF index; full probe equals brute force") {
    import spark.implicits._
    val df = normalized().cache()
    val k = 8
    val kmeans = new KMeans().setK(k).setSeed(1L).setFeaturesCol("features")
    val model = kmeans.fit(df)
    val cent = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i.toLong, c.toArray.map(_.toFloat).toSeq)
    }.toSeq.toDF("cent_id", "cent_emb")

    val dir = SparkSpec.tmpDir("graft_ml_ivf").toString
    val embeddings = Tables.embeddings(spark, sf)
    graft.operators.Knn.writeIvfIndex(spark, embeddings, cent, dir)

    val q = embeddings.where("vec_id = 0")
      .selectExpr("embedding").collect().head
      .getAs[scala.collection.Seq[Float]](0).toSeq
    val full = graft.operators.Knn.ivfSearch(spark, dir, cent, q, k = 5, nprobe = k)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val qLit = q.map(v => s"cast($v AS float)").mkString("array(", ", ", ")")
    val brute = embeddings
      .selectExpr("vec_id", s"round(cosine_f(embedding, $qLit), 6) AS sim")
      .orderBy(desc("sim"), col("vec_id"))
      .limit(5).select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(full == brute, "nprobe = K must equal brute force")
    df.unpersist()
  }

  test("ml_train_linear: the perceptron learns the planted boilerplate to zero error") {
    val rows = Registry.byName("ml_train_linear").run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    // epoch 1 evaluates the zero model — everything misclassifies
    assert(rows.head._2 > 0 && rows.head._3 == 0L)
    // training error is non-increasing and the planted signal is
    // perfectly separable — the final model must reach zero error
    assert(rows.map(_._2).sliding(2).forall(w => w(1) <= w(0)))
    assert(rows.last._2 == 0L && rows.last._3 == 1000000L)
  }

  test("ml_score_docs: per-doc verdicts agree with the trace's final error count") {
    val verdicts = Registry.byName("ml_score_docs").run(spark, sf).collect()
    val nWrong = verdicts.count(_.getLong(4) == 0L)
    val traceFinal = Registry.byName("ml_train_linear").run(spark, sf)
      .where("epoch = 4").collect().head.getLong(1)
    assert(nWrong.toLong == traceFinal)
    // the gate actually separates: planted docs predict +1, clean −1
    assert(verdicts.forall(r => r.getLong(3) == (if (r.getLong(0) % 7 == 0) 1L else -1L)))
  }

  test("ml_train_linear plan: the weight table broadcasts — the corpus side never sorts") {
    val p = Registry.byName("ml_train_linear").run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
    assert(!p.toLowerCase.contains("cartesianproduct"))
  }

  test("ml_kmeans: the operator equals an in-memory integer Lloyd replay bit-for-bit") {
    val emb = Tables.embeddings(spark, sf).selectExpr("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]](1)
          .map(x => math.floor(x.toDouble * 1e6).toLong).toArray)
      .sortBy(_._1)
    val dim = emb.head._2.length
    var cents: Array[Array[Long]] = emb.filter(_._1 < 8).map(_._2.clone())
    def assign(v: Array[Long]): (Int, Long) = {
      var bj = 0; var bd = Long.MaxValue
      for (j <- cents.indices) {
        var d = 0L; var i = 0
        while (i < dim) { val t = v(i) - cents(j)(i); d += t * t; i += 1 }
        if (d < bd) { bd = d; bj = j }
      }
      (bj, bd)
    }
    for (_ <- 1 to 2) {
      val byC = emb.groupBy(e => assign(e._2)._1)
      cents = Array.tabulate(8) { j =>
        byC.get(j)
          .map(m => Array.tabulate(dim)(i => m.map(_._2(i)).sum / m.length))
          .getOrElse(cents(j))
      }
    }
    val expected = emb.groupBy(e => assign(e._2)._1).map { case (j, m) =>
      (j.toLong, m.length.toLong, m.map(_._1).sum,
        m.map(e => BigInt(assign(e._2)._2)).sum, cents(j).map(math.abs).sum)
    }.toSet
    val got = Registry.byName("ml_kmeans").run(spark, sf).collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2),
        BigInt(r.getLong(3)) * BigInt(10).pow(18) + r.getLong(4), r.getLong(5))
    }.toSet
    assert(got == expected)
    // K=8 over the fixture: the partition covers every vector
    assert(got.toSeq.map(_._2).sum == emb.length.toLong)
  }

  test("ml_kmeans plan: assignment is one native codegen scan — no join, no sort") {
    val p = Registry.byName("ml_kmeans").run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("argmin_q") && p.contains("minsq_q"),
      "assignment must run through the native centroid-scan kernels")
    assert(!p.toLowerCase.contains("join"), "final pass must not join")
    assert(!p.toLowerCase.contains("cartesianproduct"))
  }

  test("ml_pca_power: the direction equals a BigInt power-method replay") {
    val qs = Tables.embeddings(spark, sf).selectExpr("embedding").collect()
      .map(_.getAs[scala.collection.Seq[Float]](0)
        .map(x => BigInt(math.floor(x.toDouble * 1e6).toLong)).toArray)
    val d = qs.head.length
    val n = BigInt(qs.length)
    val sx = Array.tabulate(d)(i => qs.map(_(i)).sum)
    val a = Array.tabulate(d, d)((i, j) =>
      n * qs.map(q => q(i) * q(j)).sum - sx(i) * sx(j))
    var v = Array.fill(d)(BigInt(1000000))
    for (_ <- 1 to 8) {
      val w = Array.tabulate(d)(i => (0 until d).map(j => a(i)(j) * v(j)).sum)
      val mx = w.map(_.abs).max
      v = w.map(x => x * 1000000 / mx) // BigInt / truncates toward zero = div = //
    }
    val got = Registry.byName("ml_pca_power").run(spark, sf).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    assert(got.size == d)
    assert((0 until d).forall(i => BigInt(got(i)) == v(i)))
    // renormalization contract: the max-abs component is exactly ±1e6
    assert(got.values.map(math.abs).max == 1000000L)
  }

  test("ml_train_ridge: determinants and betas equal a BigInt Cramer replay") {
    val r = Registry.byName("ml_train_ridge").run(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    // each moment is emitted as (hi, lo) BIGINT halves base 1e18
    def dec(i: Int): BigInt =
      BigInt(row.getLong(2 * i)) * BigInt(10).pow(18) + row.getLong(2 * i + 1)
    val Seq(n, sx1, sx2, s11, s12, s22, sy, sy1, sy2) = (0 to 8).map(dec)
    val lam = BigInt(10000)
    val (a, b, c, d, e, f) = (n + lam, sx1, sx2, s11 + lam, s12, s22 + lam)
    val det = a * (d * f - e * e) - b * (b * f - c * e) + c * (b * e - c * d)
    val det0 = sy * (d * f - e * e) - b * (sy1 * f - e * sy2) + c * (sy1 * e - d * sy2)
    val det1 = a * (sy1 * f - e * sy2) - sy * (b * f - e * c) + c * (b * sy2 - sy1 * c)
    val det2 = a * (d * sy2 - sy1 * e) - b * (b * sy2 - sy1 * c) + sy * (b * e - d * c)
    assert(det > 0, "ridge normal matrix must be positive definite")
    assert(dec(9) == det, "determinant")
    // BigInt / truncates toward zero — the div semantics both engines use
    val betas = Seq(det0, det1, det2).map(di => (di * 1000000 / det).toLong)
    assert((row.getLong(20), row.getLong(21), row.getLong(22)) ==
      ((betas(0), betas(1), betas(2))),
      "two-step ppm split must equal the direct (det_i * 1e6) div det")
    // and the fit IS a regression: β residuals satisfy the normal
    // equations within ppm quantization — |M·β − 1e6·v| per equation
    // is bounded by the row's coefficient mass
    val beta = betas.map(BigInt(_))
    val rows = Seq((a, b, c, sy), (b, d, e, sy1), (c, e, f, sy2))
    rows.foreach { case (m0, m1, m2, v) =>
      val lhs = m0 * beta(0) + m1 * beta(1) + m2 * beta(2)
      val slack = (m0.abs + m1.abs + m2.abs) // one ppm unit per coefficient
      assert((lhs - v * 1000000).abs <= slack,
        s"normal equation violated beyond quantization: $lhs vs ${v * 1000000}")
    }
  }
  test("ml_nb_classify: the confusion matrix equals a sequential NB replay") {
    val sf = "/root/testdata/sf0.001"
    val rows = Registry.byName("ml_nb_classify").run(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rows.nonEmpty)
    val boiler = graft.operators.Dedup.SpanBoiler
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id",
        "regexp_replace(regexp_replace(text, '\\s{2,}', ' '), '^\\s+|\\s+$', '') AS tc")
      .collect().map { r =>
        val id = r.getLong(0)
        val tc = if (id % 7 == 0) r.getString(1) + " " + boiler else r.getString(1)
        val cls = if (id % 7 == 0) "planted" else "clean"
        (id, cls, tc.split(' ').toSeq)
      }
    val train = docs.filter(_._1 % 5 != 0)
    val cw = scala.collection.mutable.Map.empty[(String, String), Long]
    train.foreach { case (_, l, ws) => ws.foreach { w => cw((l, w)) = cw.getOrElse((l, w), 0L) + 1 } }
    val nl = cw.groupBy(_._1._1).map { case (l, m) => (l, m.values.sum) }
    val vocab = cw.keySet.map(_._2)
    val v = vocab.size.toLong
    def bl(x: Long): Long = if (x == 0) 1L else 64L - java.lang.Long.numberOfLeadingZeros(x)
    def cost(l: String, w: String): Long =
      math.max(34L - bl((cw.getOrElse((l, w), 0L) + 1L) * 1048576L / (nl(l) + v)), 1L)
    val nd = train.groupBy(_._2).map { case (l, ds) => (l, ds.size.toLong) }
    val ndt = nd.values.sum
    val prior = nd.map { case (l, n) => (l, math.max(34L - bl(n * 1048576L / ndt), 1L)) }
    val classes = nl.keys.toSeq.sorted
    val expected = scala.collection.mutable.Map.empty[(String, String), Long]
    docs.filter(_._1 % 5 == 0).foreach { case (_, trueC, ws) =>
      val inVocab = ws.filter(vocab.contains)
      if (inVocab.nonEmpty) {
        val pred = classes.map { l =>
          (prior(l) + inVocab.map(w => cost(l, w)).sum, l)
        }.min._2
        expected((trueC, pred)) = expected.getOrElse((trueC, pred), 0L) + 1
      }
    }
    assert(rows == expected.toMap, s"confusion differs: got $rows vs $expected")
    // the model must actually learn the planted class: every holdout
    // planted doc carries the full boilerplate, whose word costs under
    // the planted model are far cheaper - the planted diagonal is exact
    val plantedRight = expected.getOrElse(("planted", "planted"), 0L)
    val plantedWrong = expected.getOrElse(("planted", "clean"), 0L)
    assert(plantedRight > 0 && plantedWrong == 0,
      s"planted recall broken: $plantedRight right / $plantedWrong wrong")
    val diag = expected.collect { case ((a, b), n) if a == b => n }.sum
    assert(diag * 2 > expected.values.sum, "diagonal not dominant - model learned nothing")
  }


}
