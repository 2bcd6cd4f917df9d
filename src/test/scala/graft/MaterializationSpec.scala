package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Every materialization is named and released: no query enters the
  * session CacheManager, the Dedup memos hold one pin each per
  * (session, dir), shared across queries and freed by their `reset`,
  * and the queries that pin only for themselves leave no block behind.
  */
class MaterializationSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def noop(name: String): Unit =
    Registry.byName(name).run(spark, sf).write.mode("overwrite").format("noop").save()

  /** The RDD id of the pin `df` is. */
  private def pinOf(df: DataFrame): Int = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.id
    case other => fail(s"not a pin: ${other.nodeName}")
  }

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def stored(): Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("the queries that pin leave the session CacheManager empty") {
    Seq("dd_minhash_lsh", "dd_cluster", "ev_stickiness", "ev_heavyhitters",
      "ml_train_linear", "ml_kmeans", "v10_mmr").foreach(noop)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("dd_minhash_lsh then dd_cluster build minhashPairs once; reset frees both memos") {
    Dedup.minhashPairs.reset(spark, sf)
    Dedup.shingleHashes.reset(spark, sf)
    val before = persisted()
    noop("dd_minhash_lsh")
    val pairs = pinOf(Dedup.minhashPairs(spark, sf))
    val shingles = pinOf(Dedup.shingleHashes(spark, sf))
    assert(persisted() -- before == Set(pairs, shingles))
    noop("dd_cluster")
    assert(pinOf(Dedup.minhashPairs(spark, sf)) == pairs, "dd_cluster rebuilt the pairs")
    assert(Set(pairs, shingles).subsetOf(stored()), s"not in the block manager: ${stored()}")
    Dedup.minhashPairs.reset(spark, sf)
    Dedup.shingleHashes.reset(spark, sf)
    assert((persisted() ++ stored()).intersect(Set(pairs, shingles)).isEmpty)
  }

  test("ml_kmeans and v10_mmr leave no block behind") {
    for (name <- Seq("ml_kmeans", "v10_mmr")) {
      val before = persisted()
      noop(name)
      assert(persisted() -- before == Set.empty, name)
    }
  }
}
