package graft

import org.apache.spark.sql.SparkSession

/** A value built at most once per (session, scale-factor dir) and
  * shared by every query that reads it: the purchase edge list, the
  * label table, the training chain, the BPE model, the release gate's
  * lake root.
  *
  * [[apply]] first drops the entries of stopped sessions (a new session
  * is a new key, so they can never be read again, but they would pin
  * their persisted tables for the JVM's lifetime), then `putIfAbsent`s
  * a one-shot slot and returns its value. Insertion is atomic and cheap;
  * only the slot that won the key ever runs `build`, so a lost race can
  * never build, persist or commit a second copy nobody would release.
  *
  * [[reset]] removes the entry and hands its value to `release` only if
  * it was built, so a reset never triggers the build it undoes.
  */
final class SessionMemo[V](build: (SparkSession, String) => V, release: V => Unit) {
  private final class Slot(spark: SparkSession, dir: String) {
    @volatile var built = false
    lazy val value: V = {
      val v = build(spark, dir)
      built = true
      v
    }
  }

  private val slots =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Slot]

  def apply(spark: SparkSession, dir: String): V = {
    slots.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    val fresh = new Slot(spark, dir)
    slots.putIfAbsent((spark, dir), fresh).getOrElse(fresh).value
  }

  def reset(spark: SparkSession, dir: String): Unit =
    slots.remove((spark, dir)).foreach(s => if (s.built) release(s.value))
}
