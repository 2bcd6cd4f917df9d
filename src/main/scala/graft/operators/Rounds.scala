package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.graft.CheckpointOps.{checkpointHashPartitioned, fenceRdds, release, FenceSyntax}
import org.apache.spark.storage.StorageLevel

/** How a round loop ended: the rounds it ran, and whether it stopped
  * because it converged (false: it ran out of rounds).
  */
final case class RoundOutcome(rounds: Int, converged: Boolean)

/** The fence scope of one iterative operator. Every fence the operator
  * issues goes out through [[fence]], and every RDD it persists through
  * [[persist]]; the scope releases each: as soon as a later round's
  * state no longer reads it (see [[loop]]), and at the latest when the
  * scope exits, on success and on a throw. The fences the operator's
  * result reads are the one exception — they live as long as the result
  * does.
  */
final class Rounds private () {

  // fences (DataFrames) and persisted RDDs not yet released, by RDD id
  private val held = scala.collection.mutable.LinkedHashMap.empty[Int, AnyRef]

  private def issue(df: DataFrame): DataFrame = {
    held(fenceRdds(df).head) = df
    df
  }

  /** Release every fence or persisted RDD in `ids` that `live` does not
    * read.
    */
  private def releaseUnread(ids: Iterable[Int], live: Any): Unit = {
    val read = reads(live)
    ids.filterNot(read).foreach(id => held.remove(id).foreach {
      case df: Dataset[Row @unchecked] => release(df)
      case rdd: RDD[_] => rdd.unpersist(blocking = false)
    })
  }

  /** The ids of what `x` reads: the fences under a DataFrame's plan, and
    * the held RDDs an RDD's lineage reaches without passing another held
    * one (a persisted RDD is read in place of its ancestors).
    */
  private def reads(x: Any): Set[Int] = Rounds.members(x).flatMap {
    case ds: Dataset[_] => fenceRdds(ds)
    case rdd: RDD[_] =>
      val seen = scala.collection.mutable.Set.empty[Int]
      def walk(r: RDD[_]): Iterator[Int] =
        if (!seen.add(r.id)) Iterator.empty
        else if (held.contains(r.id)) Iterator(r.id)
        else r.dependencies.iterator.flatMap(d => walk(d.rdd))
      walk(rdd).toList
  }.toSet

  /** A plain lineage fence (`CheckpointOps.fence`); it advertises no
    * layout.
    */
  def fence(df: DataFrame): DataFrame = issue(df.fenced)

  /** A fence hash-laid on `key` in `width` partitions, with that layout
    * advertised (`checkpointHashPartitioned`), so joins and aggregates
    * on `key` reuse it in place.
    */
  def fence(df: DataFrame, width: Int, key: String): DataFrame =
    issue(checkpointHashPartitioned(df, width, key))

  /** `rdd` persisted MEMORY_AND_DISK by the first job that reads it, and
    * released like a fence. Unlike a fence it keeps its lineage, so a
    * lost block is recomputed.
    */
  def persist[T](rdd: RDD[T]): RDD[T] = {
    held(rdd.id) = rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd
  }

  /** Run `round` for rounds 1, 2, … from `init` until `done` holds for
    * the state or `maxRounds` rounds have run. A state is a DataFrame or
    * an RDD, or a tuple or collection of them; other members are
    * ignored.
    *
    * The round fences are the fences and persisted RDDs the rounds
    * issue, plus any that `init` holds as a member. After each round,
    * every round fence the new state no longer reads is released: the
    * state it was part of has been superseded by fences that have
    * already materialized. Fences issued before the loop and only read
    * through a lazy plan (the stationary edge tables) stay until the
    * scope exits.
    */
  def loop[S](init: S, maxRounds: Int)(done: S => Boolean)(
      round: (Int, S) => S): (S, RoundOutcome) = {
    val members = Rounds.members(init).toList
    var roundFences = held.collect { case (id, v) if members.exists(_ eq v) => id }.toSet
    var s = init
    var i = 0
    while (i < maxRounds && !done(s)) {
      val before = held.keySet.toSet
      i += 1
      s = round(i, s)
      roundFences ++= held.keysIterator.filterNot(before)
      releaseUnread(roundFences, s)
      roundFences = roundFences.filter(held.contains)
    }
    (s, RoundOutcome(i, done(s)))
  }

  /** `rounds` lazy rounds from `init`, the state cut by `cut` (a fence)
    * after every `every`-th round except the last: the caller fences
    * the final state as its result.
    */
  def fixed(init: DataFrame, rounds: Int, every: Int)(round: DataFrame => DataFrame)(
      cut: DataFrame => DataFrame): DataFrame =
    loop(init, rounds)(_ => false) { (i, s) =>
      val next = round(s)
      if (i % every == 0 && i < rounds) cut(next) else next
    }._1
}

object Rounds {

  /** Run `body` in a fresh fence scope. Every fence it issued is
    * released when it returns, except those its result reads; when it
    * throws, every one is (a fence whose own job failed has already
    * released itself, see `CheckpointOps.fence`).
    */
  def scope[T](body: Rounds => T): T = {
    val rs = new Rounds
    var result: Option[T] = None
    try {
      val out = body(rs)
      result = Some(out)
      out
    } finally rs.releaseUnread(rs.held.keys.toList, result)
  }

  /** [[scope]] for a Pregel-style loop: `input` is fenced first, under
    * the session's own confs, then `body` runs on the fence under the
    * [[iterConfs]].
    */
  def iterate[T](input: DataFrame)(body: (Rounds, DataFrame) => T): T =
    scope { rs =>
      val in = rs.fence(input)
      iterConfs(input.sparkSession)(body(rs, in))
    }

  /** Run `f` with adaptive execution, whole-stage codegen and
    * constraint propagation OFF, restoring all three afterwards, also
    * when `f` throws. Measured on the sf0.1 purchase graph (20-round
    * PageRank, idle machine, both orders tried, 2 reps): baseline
    * ~14-17 s, AQE off ~13-15 s, codegen off ~11-12 s, both off
    * **~8-9 s** — per-round wall is driver-bound, not executor-bound
    * (338 s of task time fit in a 56 s wall at 32 threads). Every round
    * is a NEW plan with fresh expr-ids, so whole-stage codegen compiles
    * ~3 never-reused classes per round (Janino time on the critical
    * path) and AQE re-optimizes every shuffle stage to coalesce a
    * few-MB exchange it should leave alone. Interpreted eval is slower
    * per row, but a round touches only O(E/n) rows per task — the
    * driver overhead dominates by an order of magnitude. The loop
    * STRUCTURE (stationary co-partitioned edges, shuffle_hash score
    * joins) is unchanged and scale-independent; this trades a per-row
    * constant that is irrelevant at test SF and amortized at 100 TB
    * (where task time, not plan time, dominates and a fixed plan per
    * round still skips the per-round compile).
    */
  def iterConfs[T](spark: SparkSession)(f: => T): T = {
    val conf = spark.conf
    val aqe = conf.get("spark.sql.adaptive.enabled")
    val wsc = conf.get("spark.sql.codegen.wholeStage")
    val cp = conf.get("spark.sql.constraintPropagation.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.codegen.wholeStage", "false")
    // constraint propagation re-derives the constraint set of every
    // join/filter subtree on each round's fresh plan — pure optimizer
    // inference (no plan it enables matters in these loops: the round
    // joins are all hinted shuffle_hash on advertised partitionings)
    // that grows with plan depth between fences. Paired back-to-back
    // A/B on gr_pagerank_conv sf0.1 (r16): 44.6 -> 42.6 s and
    // 43.2 -> 40.7 s with it off (~5%), same rows. Scoped to the
    // iteration and restored after — global queries keep the
    // inference (e.g. IsNotNull pushdown from join conditions).
    conf.set("spark.sql.constraintPropagation.enabled", "false")
    try f finally {
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.codegen.wholeStage", wsc)
      conf.set("spark.sql.constraintPropagation.enabled", cp)
    }
  }

  /** The Datasets and RDDs in a loop state or result. */
  private def members(x: Any): Iterator[AnyRef] = x match {
    case ds: Dataset[_] => Iterator(ds)
    case rdd: RDD[_] => Iterator(rdd)
    case it: Iterable[_] => it.iterator.flatMap(members)
    case p: Product => p.productIterator.flatMap(members)
    case _ => Iterator.empty
  }
}
