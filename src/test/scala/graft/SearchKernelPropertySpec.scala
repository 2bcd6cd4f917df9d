package graft

import graft.plans.CosineSim
import graft.sources.SearchKernel
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** ScalaCheck properties of the vector store's search kernel: random
  * parts, scored column-wise by [[SearchKernel.top]], against a
  * brute-force reference that scores every row with [[CosineSim.fold]]
  * and ranks all of them by `SearchKernel.HitOrder`. Similarities are
  * compared by their bits: +0.0 and -0.0 differ, and every NaN is one
  * value (Spark orders all NaNs alike, and which payload a sum of two
  * NaNs keeps depends on an operand order the JIT may commute).
  */
object SearchKernelPropertySpec extends Properties("graft") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(1000)

  /** One store row: id (may be null), text, metadata, embedding. */
  private final case class StoreRow(id: String, text: String, meta: Map[String, String],
                                    vec: Array[Double])

  private final case class Case(dim: Int, parts: Seq[Seq[StoreRow]], q: Array[Double], k: Int) {
    override def toString: String = {
      def v(x: Array[Double]) = if (x == null) "null" else x.mkString("[", ", ", "]")
      s"dim $dim, k $k, q ${v(q)}, parts " + parts.map(_.map(r =>
        s"${r.id}:${v(r.vec)}").mkString("{", "; ", "}")).mkString(" ")
    }
  }

  private val special: Gen[Double] =
    Gen.oneOf(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
  private val finite: Gen[Double] = Gen.frequency(
    4 -> Gen.choose(-2.0, 2.0),
    2 -> Gen.oneOf(-1.0, 0.5, 1.0, 2.0), // small exact values: exact ties
    3 -> Gen.oneOf(0.0, -0.0),
    1 -> Gen.oneOf(1e-300, -1e300, 1e200)) // underflowing and overflowing products
  private def vector(len: Int, nonFinite: Boolean): Gen[Array[Double]] =
    Gen.listOfN(len, if (nonFinite) Gen.frequency(3 -> finite, 1 -> special) else finite)
      .map(_.toArray)

  private def otherLength(dim: Int): Gen[Int] = Gen.oneOf((0 to dim + 2).filter(_ != dim))

  /** A row's vector: usually `dim` long and finite, else null, zero,
    * non-finite, shorter, longer, or a copy of an earlier one (a tie).
    */
  private def rowVector(dim: Int, pool: Seq[Array[Double]]): Gen[Array[Double]] = {
    val alt = Seq(
      2 -> Gen.const(null: Array[Double]),
      1 -> Gen.const(Array.fill(dim)(0.0)),
      1 -> vector(dim, nonFinite = true),
      1 -> otherLength(dim).flatMap(vector(_, nonFinite = false)),
      1 -> otherLength(dim).flatMap(vector(_, nonFinite = true)))
    val tie = if (pool.isEmpty) Nil else Seq(2 -> Gen.oneOf(pool).map(_.clone()))
    Gen.frequency((Seq(6 -> vector(dim, nonFinite = false)) ++ alt ++ tie): _*)
  }

  /** The query: null, sparse or dense at `dim`, or of another length. */
  private def query(dim: Int): Gen[Array[Double]] = {
    val sparse = for {
      v <- vector(dim, nonFinite = false)
      keep <- Gen.listOfN(dim, Gen.frequency(1 -> true, 4 -> false))
    } yield v.zip(keep).map { case (x, kept) => if (kept) x else 0.0 }
    Gen.frequency(
      1 -> Gen.const(null: Array[Double]),
      4 -> sparse,
      3 -> vector(dim, nonFinite = false),
      1 -> vector(dim, nonFinite = true),
      1 -> otherLength(dim).flatMap(vector(_, nonFinite = false)))
  }

  private val cases: Gen[Case] = for {
    dim <- Gen.choose(0, 8)
    pool <- Gen.listOfN(3, vector(dim, nonFinite = false))
    sizes <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.choose(0, 12)))
    firstNull <- Gen.listOfN(sizes.size, Gen.frequency(1 -> true, 3 -> false))
    vecs <- Gen.sequence[Seq[Seq[Array[Double]]], Seq[Array[Double]]](sizes.map(n =>
      Gen.listOfN(n, rowVector(dim, pool))))
    nullId <- Gen.frequency(1 -> true, 3 -> false)
    // ids in random order against the scan order, so a later row can
    // win an exact tie
    keys <- Gen.listOfN(sizes.sum, Gen.choose(0, 99))
    q <- query(dim)
    k <- Gen.oneOf(0, 1, 5, sizes.sum + 1)
  } yield {
    var next = 0
    val parts = vecs.zip(firstNull).map { case (vs, nullFirst) =>
      vs.zipWithIndex.map { case (v, i) =>
        val n = next
        next += 1
        StoreRow(if (nullId && n == 0) null else f"chunk_${keys(n)}%02d_$n", s"text $n",
          if (n % 4 == 3) null else Map("source" -> s"s$n.pdf"), if (nullFirst && i == 0) null else v)
      }
    }
    Case(dim, parts, q, k)
  }

  private def internal(r: StoreRow): InternalRow = InternalRow(
    if (r.id == null) null else UTF8String.fromString(r.id),
    UTF8String.fromString(r.text),
    if (r.meta == null) null else ArrayBasedMapData(r.meta, utf8, utf8),
    if (r.vec == null) null else ArrayData.toArrayData(r.vec))

  private def utf8(s: Any): Any = UTF8String.fromString(s.asInstanceOf[String])

  private def bits(sim: Option[Double]) = sim.map(java.lang.Double.doubleToLongBits)

  property("the column-wise kernel equals a brute-force fold and HitOrder ranking") =
    Prop.forAll(cases) { c =>
      val parts = c.parts.map(rows => SearchKernel.part(rows.iterator.map(internal))).toArray
      val reference = parts.zip(c.parts).flatMap { case (part, rows) =>
        rows.indices.map { i =>
          val v = rows(i).vec
          if (c.q == null || v == null) SearchKernel.Hit(0.0, isNull = true, part.payload(i))
          else SearchKernel.Hit(CosineSim.fold(v, 0, c.q, 0, math.min(v.length, c.q.length)),
            isNull = false, part.payload(i))
        }
      }.sorted(SearchKernel.HitOrder).take(c.k).toSeq.map { h =>
        (Option(h.row.getUTF8String(0)).map(_.toString), h.row.getUTF8String(1).toString,
          bits(if (h.isNull) None else Some(h.sim)))
      }
      val got = SearchKernel.top(parts, c.q, c.k).map { r =>
        (Option(r.getString(0)), r.getString(1),
          bits(Option(r.getAs[java.lang.Double]("similarity")).map(_.doubleValue)))
      }
      (got == reference) :| s"$c\n got $got\n want $reference"
    }
}
