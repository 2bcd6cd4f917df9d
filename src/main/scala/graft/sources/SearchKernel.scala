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
  * [[SearchKernel.Part]] per store partition: the rows' embeddings in
  * one flat `Array[Double]`, and their `(id, text, metadata)` as compact
  * `UnsafeRow` copies. A search then runs no job and no query plan: on
  * the calling thread, each part scores every row with
  * [[CosineSim.fold]] and keeps its best k in a bounded heap; the parts'
  * winners are merged and only the k kept are decoded. The order is
  * that of `ORDER BY similarity DESC, id`: Spark's double order,
  * descending (NaN first), a null similarity last, ties by id in UTF-8
  * binary order (a null id first).
  */
private[graft] object SearchKernel {

  /** What a search returns per hit, nullable as the SQL search was. */
  val Result: StructType = StructType(
    ChunkStore.storeSchema.fields.filterNot(_.name == "embedding") :+
      StructField("similarity", DoubleType))

  private val Payload = StructType(Result.fields.dropRight(1))

  /** One store partition: row `i`'s `(id, text, metadata)` is
    * `payload(i)`; its embedding is `vecs(off(i) until off(i + 1))`, or
    * none where `noVec(i)`.
    */
  final class Part(val payload: Array[UnsafeRow], val off: Array[Int], val vecs: Array[Double],
                   val noVec: Array[Boolean]) extends Serializable {

    /** This partition's best `k` rows for the query vector `q` (null:
      * every similarity is null), in no particular order.
      */
    def top(q: Array[Double], k: Int): Iterator[Hit] = {
      // the worst kept row at the head
      val heap = new java.util.PriorityQueue[Hit](math.max(1, math.min(k, payload.length)),
        HitOrder.reverse)
      for (i <- payload.indices) {
        val hit =
          if (q == null || noVec(i)) Hit(0.0, isNull = true, payload(i))
          else Hit(CosineSim.fold(vecs, off(i), q, 0, math.min(off(i + 1) - off(i), q.length)),
            isNull = false, payload(i))
        if (heap.size < k) heap.add(hit)
        else if (k > 0 && HitOrder.lt(hit, heap.peek)) { heap.poll(); heap.add(hit) }
      }
      heap.iterator.asScala
    }
  }

  /** A partition's candidate: its similarity (`isNull`: none) and row. */
  final case class Hit(sim: Double, isNull: Boolean, row: UnsafeRow)

  /** Higher similarity first in Spark's double order, a null last; ties
    * by id in UTF-8 binary order, a null first.
    */
  private object HitOrder extends Ordering[Hit] {
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
    store.queryExecution.toRdd.mapPartitions { rows =>
      val project = UnsafeProjection.create(Payload.fields.map(_.dataType))
      val payload = ArrayBuffer.empty[UnsafeRow]
      val off = new ArrayBuilder.ofInt
      val vecs = new ArrayBuilder.ofDouble
      val noVec = new ArrayBuilder.ofBoolean
      var end = 0
      off += end
      rows.foreach { r =>
        payload += project(r).copy()
        val none = r.isNullAt(3)
        noVec += none
        if (!none) {
          val v = r.getArray(3).toDoubleArray()
          vecs ++= v
          end += v.length
        }
        off += end
      }
      Iterator(new Part(payload.toArray, off.result(), vecs.result(), noVec.result()))
    }.collect()

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
