package graft.sources

import graft.plans.CosineSim
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, GenericRowWithSchema, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}
import scala.jdk.CollectionConverters._

/** Top-k cosine search as code over primitive arrays on the driver:
  * the one kernel behind [[ChunkStore.search]].
  *
  * A committed store version is collected to the driver once, as one
  * [[SearchKernel.Part]] per store partition: the rows' `(id, text,
  * metadata)` as compact `UnsafeRow` copies, and their embeddings laid
  * out column-major with each row's norm precomputed. A search then
  * runs no job and no query plan: on the calling thread, each part
  * accumulates the dot products over only the query's non-zero
  * dimensions, one column at a time, divides by the stored norms, and
  * keeps its best k in a bounded heap; the parts' winners are merged and
  * only the k kept are decoded. Every similarity is bit-identical to
  * [[CosineSim.fold]]'s (see [[SearchKernel.Part]]). The order is that
  * of `ORDER BY similarity DESC, id`: Spark's double order, descending
  * (NaN first), a null similarity last, ties by id in UTF-8 binary order
  * (a null id first).
  */
private[graft] object SearchKernel {

  /** What a search returns per hit, nullable as the SQL search was. */
  val Result: StructType = StructType(
    ChunkStore.storeSchema.fields.filterNot(_.name == "embedding") :+
      StructField("similarity", DoubleType))

  private val Payload = StructType(Result.fields.dropRight(1))

  /** `Part.slot` of a row with no vector. */
  private final val NoVec = -1
  /** `Part.slot` of a row kept row-major, in `rest`. */
  private final val RowMajor = -2

  /** One store partition: row `i`'s `(id, text, metadata)` is
    * `payload(i)`. Its embedding is held by where `slot(i)` points:
    *  - `c >= 0`: row `c` of the column-major block, the rows whose
    *    vector is `dim` long (`dim`: the length of the part's first
    *    vector) with every element finite: element `j` is
    *    `cols(j * n + c)` for `n = norm.length`, and `norm(c)` is the
    *    `sqrt` of its left-to-right sum of squares;
    *  - `RowMajor`: `rest(off(i) until off(i + 1))`, a vector of
    *    another length or with a NaN or infinite element;
    *  - `NoVec`: none.
    *
    * A query `q` as long as `dim` scores the block column-wise: for each
    * `j` in ascending order with `q(j) != 0.0`, `acc(c) += cols(j * n +
    * c) * q(j)`, and the similarity is `acc(c) / (norm(c) * qNorm)` with
    * `qNorm` the `sqrt` of `q`'s left-to-right sum of squares. That is
    * [[CosineSim.fold]] to the bit: each row adds the same products in
    * the same order, and a skipped term is `finite * ±0 = ±0`, which
    * leaves the accumulator as it is (it starts at +0, and a
    * round-to-nearest sum never turns +0 into -0); the divisor has
    * `fold`'s operands. Every other row, and every row for a query of
    * another length, is scored by `fold` itself.
    */
  final class Part(val payload: Array[UnsafeRow], val slot: Array[Int], val dim: Int,
                   val cols: Array[Double], val norm: Array[Double], val off: Array[Int],
                   val rest: Array[Double]) extends Serializable {

    /** This partition's best `k` rows for the query vector `q` (null:
      * every similarity is null), in no particular order.
      */
    def top(q: Array[Double], k: Int): Iterator[Hit] = {
      // the worst kept row at the head
      val heap = new java.util.PriorityQueue[Hit](math.max(1, math.min(k, payload.length)),
        HitOrder.reverse)
      def offer(hit: Hit): Unit =
        if (heap.size < k) heap.add(hit)
        else if (k > 0 && HitOrder.lt(hit, heap.peek)) { heap.poll(); heap.add(hit) }
      val columnar = q != null && q.length == dim
      val acc = if (columnar) dots(q) else null
      val qNorm = if (columnar) math.sqrt(sumSquares(q)) else 0.0
      val vec = if (q != null && !columnar) new Array[Double](math.max(dim, 0)) else null
      var i = 0
      while (i < payload.length) {
        val c = slot(i)
        if (q == null || c == NoVec) offer(Hit(0.0, isNull = true, payload(i)))
        else {
          val sim =
            if (c == RowMajor) CosineSim.fold(rest, off(i), q, 0, math.min(off(i + 1) - off(i), q.length))
            else if (columnar) acc(c) / (norm(c) * qNorm)
            else CosineSim.fold(blockRow(c, vec), 0, q, 0, math.min(dim, q.length))
          // a Hit only for a row not strictly below the k-th best kept
          if (heap.size < k || (k > 0 && (heap.peek.isNull ||
              SQLOrderingUtil.compareDoubles(sim, heap.peek.sim) >= 0)))
            offer(Hit(sim, isNull = false, payload(i)))
        }
        i += 1
      }
      heap.iterator.asScala
    }

    /** Each block row's dot product with `q`, over `q`'s non-zero
      * dimensions in ascending order.
      */
    private def dots(q: Array[Double]): Array[Double] = {
      val n = norm.length
      val acc = new Array[Double](n)
      var j = 0
      while (j < dim) {
        val qj = q(j)
        if (qj != 0.0) {
          val base = j * n
          var c = 0
          while (c < n) {
            acc(c) += cols(base + c) * qj
            c += 1
          }
        }
        j += 1
      }
      acc
    }

    /** Block row `c`'s vector, copied into `into`. */
    private def blockRow(c: Int, into: Array[Double]): Array[Double] = {
      val n = norm.length
      var j = 0
      while (j < dim) { into(j) = cols(j * n + c); j += 1 }
      into
    }
  }

  /** `x`'s squares summed left to right, as [[CosineSim.fold]] sums them. */
  private def sumSquares(x: Array[Double]): Double = {
    var s = 0.0
    var j = 0
    while (j < x.length) { s += x(j) * x(j); j += 1 }
    s
  }

  /** One [[Part]] from store rows read by [[ChunkStore.storeSchema]]. */
  private[graft] def part(rows: Iterator[InternalRow]): Part = {
    val project = UnsafeProjection.create(Payload.fields.map(_.dataType))
    val payload = ArrayBuffer.empty[UnsafeRow]
    val slot = new ArrayBuilder.ofInt
    val off = new ArrayBuilder.ofInt
    val rest = new ArrayBuilder.ofDouble
    val block = new ArrayBuilder.ofDouble // the block rows, row-major until transposed
    val norm = new ArrayBuilder.ofDouble
    var dim = -1
    var n = 0
    var end = 0
    off += end
    rows.foreach { r =>
      payload += project(r).copy()
      if (r.isNullAt(3)) slot += NoVec
      else {
        val v = r.getArray(3).toDoubleArray()
        if (dim < 0) dim = v.length
        if (v.length == dim && v.forall(java.lang.Double.isFinite)) {
          slot += n
          n += 1
          block ++= v
          norm += math.sqrt(sumSquares(v))
        } else {
          slot += RowMajor
          rest ++= v
          end += v.length
        }
      }
      off += end
    }
    val rowMajor = block.result()
    val cols = new Array[Double](rowMajor.length)
    for (c <- 0 until n; j <- 0 until dim) cols(j * n + c) = rowMajor(c * dim + j)
    new Part(payload.toArray, slot.result(), dim, cols, norm.result(), off.result(), rest.result())
  }

  /** A partition's candidate: its similarity (`isNull`: none) and row. */
  final case class Hit(sim: Double, isNull: Boolean, row: UnsafeRow)

  /** Higher similarity first in Spark's double order, a null last; ties
    * by id in UTF-8 binary order, a null first.
    */
  private[graft] object HitOrder extends Ordering[Hit] {
    def compare(a: Hit, b: Hit): Int = {
      val c =
        if (a.isNull || b.isNull) java.lang.Boolean.compare(a.isNull, b.isNull)
        else SQLOrderingUtil.compareDoubles(b.sim, a.sim)
      if (c != 0) c else {
        val (x, y) = (a.row.getUTF8String(0), b.row.getUTF8String(0))
        if (x == null || y == null) java.lang.Boolean.compare(x != null, y != null)
        else x.compareTo(y)
      }
    }
  }

  /** The store rows `store` (read by [[ChunkStore.storeSchema]]) as one
    * [[Part]] per partition, collected to the driver by one job; parts
    * larger than `spark.driver.maxResultSize` fail it with Spark's error.
    */
  def parts(store: DataFrame): Array[Part] =
    store.queryExecution.toRdd.mapPartitions(rows => Iterator(part(rows))).collect()

  /** The best `k` rows of `parts` for the query vector `q` (null: every
    * similarity is null), best first, as [[Result]] rows, scored on the
    * calling thread: no job.
    */
  def top(parts: Array[Part], q: Array[Double], k: Int): Seq[Row] = {
    require(k >= 0, s"top-k needs k >= 0, got $k")
    val hits = parts.flatMap(_.top(q, k)).sorted(HitOrder).take(k)
    val decode = CatalystTypeConverters.createToScalaConverter(Payload)
    hits.toSeq.map { h =>
      val fields = decode(h.row).asInstanceOf[Row].toSeq :+ (if (h.isNull) null else h.sim)
      new GenericRowWithSchema(fields.toArray, Result)
    }
  }

  /** The vector of one query text under the embedder class `name`,
    * computed on the driver: the embedder's expression is resolved,
    * optimized and bound on first use, then evaluated per query under
    * this object's lock (evaluation may set expression state, such as a
    * lambda variable's value).
    */
  final class QueryEmbedder(spark: SparkSession, name: String) {
    private var bound: Expression = _

    def apply(embedder: graft.Embedder, query: String): Array[Double] = synchronized {
      if (bound == null) bound = bind(spark, name, embedder)
      bound.eval(InternalRow(UTF8String.fromString(query))) match {
        case null => null
        case v: ArrayData => v.toDoubleArray()
      }
    }
  }

  /** `embedder`'s expression over one string column, bound to it; raises,
    * naming the embedder, when it does not resolve or is not
    * `array<double>`.
    */
  private def bind(spark: SparkSession, name: String, embedder: graft.Embedder): Expression = {
    val input = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("text", StringType))))
    val plan = try input.select(embedder.embed(col("text")).as("q")).queryExecution.optimizedPlan
    catch {
      case e: Exception =>
        throw new IllegalArgumentException(s"the embedder $name does not resolve: ${e.getMessage}", e)
    }
    plan match {
      case Project(Seq(q: Alias), child) => q.dataType match {
        case ArrayType(DoubleType, _) => BindReferences.bindReference(q.child, child.output)
        case t => throw new IllegalArgumentException(
          s"the embedder $name produces ${t.catalogString}, the store holds array<double>")
      }
      case other => throw new IllegalArgumentException(
        s"the embedder $name does not resolve to one projection: ${other.simpleString(2)}")
    }
  }
}
