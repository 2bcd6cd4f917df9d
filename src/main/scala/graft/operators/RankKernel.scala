package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}
import scala.collection.mutable.ArrayBuilder

/** PageRank's round as partition-local code over primitive arrays, the
  * one kernel behind [[Graph.pageRank]], [[Graph.personalizedPageRank]],
  * [[Graph.pageRankWeighted]] and [[Graph.pageRankConverged]].
  *
  * The edge list is read once and laid out as per-partition CSR arrays
  * ([[RankKernel.Part]]), hash-partitioned on `src` in `width`
  * partitions; the CSR is persisted in the caller's [[Rounds]] scope and
  * never moves again. A score state is one `Array[Long]` per partition,
  * aligned with that partition's sorted source ids, so a round is:
  *  - a `zipPartitions` of the CSR with the state: each partition sums
  *    its sources' contributions into a dense array over its distinct
  *    destinations (the map-side combine: no hash map, no boxing) and
  *    sends one record of two `Array[Long]` (ids, sums) to each
  *    destination's partition;
  *  - one shuffle on the same `HashPartitioner`;
  *  - a `zipPartitions` of the CSR with what arrived: each sum is added
  *    to its id's slot, found by binary search, and the new score is
  *    `teleport + (85 · c) div 100`.
  * No round plans, analyses or compiles anything, and the edge side is
  * read only from the persisted CSR. Every addition is `Math.addExact`
  * and every product `Math.multiplyExact`, so an overflow raises as the
  * ANSI SQL round did; the sums do not depend on order, so the scores
  * are bit-identical to the SQL round's. Duplicate edge rows count once
  * per row, a contribution to an id that is not a source is dropped, and
  * a null `src`, `dst` or `w` raises, naming the column.
  */
private[graft] final class RankKernel private (fs: Rounds, spark: SparkSession,
                                               val csr: RDD[RankKernel.Part], part: HashPartitioner) {
  import RankKernel._

  /** The round-0 scores: 1e6 ppm on every vertex that teleports, 0 on
    * the others.
    */
  def init: RDD[Array[Long]] = csr.map(_.initial)

  /** The scores one round after `r`. */
  def round(r: RDD[Array[Long]]): RDD[Array[Long]] = {
    val width = part.numPartitions // a local: the closure must not capture the kernel
    val sent = csr.zipPartitions(r)((c, s) => c.next().send(s.next(), width))
    csr.zipPartitions(sent.partitionBy(part))((c, in) => Iterator(c.next().receive(in)))
  }

  /** The scores `iters` rounds after [[init]], unrun. */
  def after(iters: Int): RDD[Array[Long]] = (1 to iters).foldLeft(init)((r, _) => round(r))

  /** Per partition, the number of vertices whose score differs between
    * `r` and `prev`.
    */
  def diffs(r: RDD[Array[Long]], prev: RDD[Array[Long]]): RDD[Long] =
    r.zipPartitions(prev) { (a, b) =>
      val (x, y) = (a.next(), b.next())
      Iterator(x.indices.count(i => x(i) != y(i)).toLong)
    }

  /** The number of vertices whose score differs between `r` and `prev`:
    * one job, which also fills `r`'s blocks when `r` is persisted.
    */
  def changed(r: RDD[Array[Long]], prev: RDD[Array[Long]]): Long = diffs(r, prev).reduce(_ + _)

  /** `(id, r, outdeg)` per vertex under the scores `r`, fenced in the
    * caller's scope: the one job that runs every round not yet run.
    */
  def result(r: RDD[Array[Long]]): DataFrame =
    fs.fence(spark.createDataFrame(csr.zipPartitions(r)((c, s) => c.next().rows(s.next())), Result))
}

private[graft] object RankKernel {
  import Graph.{BasePpm, Damping}

  /** The result's columns, nullable as the SQL round's output was. */
  private val Result = StructType(Seq(StructField("id", LongType), StructField("r", LongType),
    StructField("outdeg", LongType, nullable = false)))

  /** The kernel over `edges` — `(src, dst)`, or `(src, dst, w)` for
    * weighted contributions `(r · w) div Σw(src)` — at the session's
    * shuffle width. With `seeds` (a one-column id table), only the seeds
    * start with and teleport mass; without, every vertex does. The CSR
    * is persisted in `fs`, built by the first job that reads it.
    */
  def apply(fs: Rounds, edges: DataFrame, seeds: Option[DataFrame] = None): RankKernel = {
    val width = edges.sparkSession.sessionState.conf.numShufflePartitions
    val part = new HashPartitioner(width)
    val n = edges.columns.length
    val sent = columns(edges, width).partitionBy(part)
    val csr = seeds match {
      case None => sent.mapPartitions(in => Iterator(Part(concat(in, n), null)))
      case Some(s) =>
        sent.zipPartitions(columns(s.toDF("id"), width, skipNulls = true).partitionBy(part)) {
          (in, ss) => Iterator(Part(concat(in, n), concat(ss, 1)(0)))
        }
    }
    new RankKernel(fs, edges.sparkSession, fs.persist(csr), part)
  }

  /** `df`'s integral columns as bigint arrays, one record per partition
    * (of `width`) that owns a first-column value (see [[bucket]]). A null
    * raises, naming its column, unless `skipNulls` drops its row.
    */
  private def columns(df: DataFrame, width: Int,
                      skipNulls: Boolean = false): RDD[(Int, Array[Array[Long]])] = {
    val names = df.columns
    df.schema.fields.foreach(f => f.dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
      case t => throw new IllegalArgumentException(
        s"PageRank reads integral columns; ${f.name} is ${t.simpleString}")
    })
    df.selectExpr(names.map(n => s"cast($n AS bigint)").toIndexedSeq: _*)
      .queryExecution.toRdd.mapPartitions { rows =>
        val n = names.length
        val cols = Array.fill(n)(new ArrayBuilder.ofLong)
        rows.foreach { row =>
          var c = 0
          while (c < n && !row.isNullAt(c)) c += 1
          if (c == n) {
            c = 0
            while (c < n) { cols(c) += row.getLong(c); c += 1 }
          } else if (!skipNulls)
            throw new IllegalArgumentException(s"PageRank edge list: null ${names(c)}")
        }
        val out = cols.map(_.result())
        bucket(out(0), out, width)
      }
  }

  /** The partition `HashPartitioner(width)` gives a bigint key. */
  private def owner(key: Long, width: Int): Int = {
    val h = java.lang.Long.hashCode(key) % width
    if (h < 0) h + width else h
  }

  /** `cols` (equal-length columns) with their rows grouped by `key`, a
    * value in `[0, n)` per row, in row order within a group: the rows of
    * key k end up at `start(k) until start(k + 1)`. Returns `(start,
    * grouped columns)`.
    */
  private def grouped(key: Array[Int], n: Int,
                      cols: Array[Array[Long]]): (Array[Int], Array[Array[Long]]) = {
    val start = new Array[Int](n + 1)
    key.foreach(k => start(k + 1) += 1)
    (1 to n).foreach(k => start(k) += start(k - 1))
    val out = cols.map(c => new Array[Long](c.length))
    val at = start.clone()
    var i = 0
    while (i < key.length) {
      val k = key(i)
      var c = 0
      while (c < cols.length) { out(c)(at(k)) = cols(c)(i); c += 1 }
      at(k) += 1
      i += 1
    }
    (start, out)
  }

  /** The rows of `cols` grouped by the partition that owns their `key`:
    * one `(partition, columns)` record per partition that owns any.
    * `HashPartitioner(width)` sends an Int key in `[0, width)` to
    * itself, so a shuffle on it delivers each record to its owner.
    */
  private def bucket(key: Array[Long], cols: Array[Array[Long]],
                     width: Int): Iterator[(Int, Array[Array[Long]])] = {
    val (start, out) = grouped(key.map(owner(_, width)), width, cols)
    Iterator.range(0, width).filter(p => start(p + 1) > start(p))
      .map(p => p -> out.map(java.util.Arrays.copyOfRange(_, start(p), start(p + 1))))
  }

  /** The `n` columns of the records one partition received. */
  private def concat(in: Iterator[(Int, Array[Array[Long]])], n: Int): Array[Array[Long]] = {
    val cols = Array.fill(n)(new ArrayBuilder.ofLong)
    in.foreach { case (_, cs) => (0 until n).foreach(c => cols(c) ++= cs(c)) }
    cols.map(_.result())
  }

  private def distinctSorted(xs: Array[Long]): Array[Long] = {
    val s = xs.clone()
    java.util.Arrays.sort(s)
    var n = 0
    var i = 0
    while (i < s.length) {
      if (i == 0 || s(i) != s(i - 1)) { s(n) = s(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(s, n)
  }

  /** One partition's edges in CSR form: the sorted distinct sources
    * `ids`; the edges of `ids(i)` at `off(i) until off(i + 1)`; per
    * edge, `dstIx` indexes the sorted distinct destinations `dst` (the
    * dense accumulator's slots) and `wt` holds the weight (null when
    * unweighted); per source, `total` is Σw (null when unweighted: the
    * out-degree divides) and `seed` whether it teleports (null: all do).
    */
  final class Part(val ids: Array[Long], val off: Array[Int], val dst: Array[Long],
                   val dstIx: Array[Int], val wt: Array[Long], val total: Array[Long],
                   val seed: Array[Boolean]) extends Serializable {

    private def teleports(i: Int): Boolean = seed == null || seed(i)

    def initial: Array[Long] = Array.tabulate(ids.length)(i => if (teleports(i)) 1000000L else 0L)

    /** The contributions of this partition's sources under scores `r`,
      * summed per destination and sent to the destinations' partitions.
      */
    def send(r: Array[Long], width: Int): Iterator[(Int, Array[Array[Long]])] = {
      val acc = new Array[Long](dst.length)
      var i = 0
      while (i < ids.length) {
        var e = off(i)
        val end = off(i + 1)
        if (wt == null) {
          val q = r(i) / (end - e)
          while (e < end) { acc(dstIx(e)) = Math.addExact(acc(dstIx(e)), q); e += 1 }
        } else {
          while (e < end) {
            acc(dstIx(e)) = Math.addExact(acc(dstIx(e)), Math.multiplyExact(r(i), wt(e)) / total(i))
            e += 1
          }
        }
        i += 1
      }
      bucket(dst, Array(dst, acc), width)
    }

    /** The new scores from the contributions `in` sent to this partition. */
    def receive(in: Iterator[(Int, Array[Array[Long]])]): Array[Long] = {
      val c = new Array[Long](ids.length)
      in.foreach { case (_, Array(to, sums)) =>
        var j = 0
        while (j < to.length) {
          val i = java.util.Arrays.binarySearch(ids, to(j))
          if (i >= 0) c(i) = Math.addExact(c(i), sums(j))
          j += 1
        }
      }
      Array.tabulate(ids.length)(i => Math.addExact(if (teleports(i)) BasePpm else 0L,
        Math.multiplyExact(Damping, c(i)) / 100))
    }

    def rows(r: Array[Long]): Iterator[Row] =
      Iterator.range(0, ids.length).map(i => Row(ids(i), r(i), (off(i + 1) - off(i)).toLong))
  }

  private object Part {
    /** The CSR of `cols` — `src`, `dst` and, when weighted, `w` — with
      * the sources in `seeds` marked (null: no seed table).
      */
    def apply(cols: Array[Array[Long]], seeds: Array[Long]): Part = {
      val ids = distinctSorted(cols(0))
      val dst = distinctSorted(cols(1))
      // the (dst[, w]) columns grouped by source: CSR order
      val (off, bySrc) = grouped(cols(0).map(java.util.Arrays.binarySearch(ids, _)), ids.length,
        cols.drop(1))
      val dstIx = bySrc(0).map(java.util.Arrays.binarySearch(dst, _))
      val w = if (bySrc.length > 1) bySrc(1) else null
      val total = if (w == null) null else Array.tabulate(ids.length) { i =>
        (off(i) until off(i + 1)).foldLeft(0L)((s, e) => Math.addExact(s, w(e)))
      }
      val seed = if (seeds == null) null else {
        val flags = new Array[Boolean](ids.length)
        seeds.foreach { s =>
          val i = java.util.Arrays.binarySearch(ids, s)
          if (i >= 0) flags(i) = true
        }
        flags
      }
      new Part(ids, off, dst, dstIx, w, total, seed)
    }
  }
}
