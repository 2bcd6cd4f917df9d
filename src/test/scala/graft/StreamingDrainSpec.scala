package graft

import graft.streaming.Streaming
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The streaming twins' drain seam: their oracles are their batch
  * twins', a failed stream raises out of the drain, and the dirs a run
  * creates go when the bench lanes sweep.
  */
class StreamingDrainSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("each twin's oracle is its batch twin's") {
    val twins = Seq(
      "st_sliding_counts" -> "ev_sliding_window", "st_outliers" -> "dq_outliers",
      "st_drift" -> "dq_drift", "st_ewma" -> "ev_ewma", "st_holt" -> "ev_holt",
      "st_sessionize" -> "ev_sessionize", "st_anomaly" -> "ev_anomaly",
      "st_funnel_strict" -> "ev_funnel_strict", "st_heavyhitters" -> "ev_heavyhitters",
      "st_hll" -> "ta_vocab_hll", "st_semdedup" -> "tp_semdedup",
      "st_countmin" -> "ev_countmin", "st_ab_chisq" -> "ev_ab_chisq", "st_cusum" -> "ev_cusum",
      "st_scd2" -> "ev_scd2", "st_ml_score" -> "ml_score_docs", "st_chunk_ingest" -> "c1_chunk",
      // same-module batch twins
      "v6_graph_ann" -> "v3_knn_topk", "v3_knn_batch_agg" -> "v3_knn_batch",
      "s5_store_entries_scalable" -> "s5_store_entries")
    twins.foreach { case (twin, batch) =>
      val oracle = Registry.byName(twin).oracle
      assert(oracle.isDefined && oracle == Registry.byName(batch).oracle, twin)
    }
  }

  /** A document-id stream over six rows that throws at the fourth. */
  private def failingStream() = {
    import spark.implicits._
    val in = SparkSpec.tmpDir("graft_drain_fail").toString + "/in"
    (1L to 6L).toDF("doc_id").write.parquet(in)
    spark.readStream.schema("doc_id BIGINT").parquet(in)
      .selectExpr("CASE WHEN doc_id = 4 THEN raise_error('drain boom') ELSE doc_id END AS doc_id")
  }

  private def causedByBoom(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("drain boom")))

  test("a stream that throws mid-batch makes drain raise, not read back an empty sink") {
    val e = intercept[StreamingQueryException](Streaming.drain(failingStream(), "doc_id BIGINT"))
    assert(causedByBoom(e), e)
  }

  test("a stream that throws mid-batch makes drainTable raise") {
    val e = intercept[StreamingQueryException](Streaming.drainTable(
      failingStream().groupBy("doc_id").count(), "drain_fail_sink", OutputMode.Complete))
    assert(causedByBoom(e), e)
  }

  test("no dir s13_upsert, v5_ivf_knn_mp or st_ewma creates is left after sweepCreated") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def graftDirs(): Set[Path] = Using.resource(Files.list(tmp))(
      _.iterator.asScala.filter(_.getFileName.toString.startsWith("graft_")).toSet)
    val before = graftDirs()
    Seq("s13_upsert", "v5_ivf_knn_mp", "st_ewma")
      .foreach(n => assert(Registry.byName(n).run(spark, sf).collect().nonEmpty, n))
    val made = graftDirs() -- before
    val prefixes = made.map(_.getFileName.toString.replaceAll("\\d+$", ""))
    assert(Set("graft_lake", "graft_ivf_gate", "graft_st_src", "graft_st_gate").subsetOf(prefixes),
      prefixes)
    TmpDirs.sweepCreated()
    val left = made.filter(Files.exists(_))
    assert(left.isEmpty, left.mkString("\n"))
  }
}
