package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path.
  *
  * The generic route (`aggregate(zip_with(...))`) is a chain of
  * interpreted higher-order functions — correct, but each element pays
  * lambda-dispatch overhead and the expression tree is opaque to
  * whole-stage codegen. These expressions generate a tight Java loop
  * via `doGenCode`, so a brute-force kNN scan stays inside
  * WholeStageCodegen end-to-end — the difference between "interprets
  * 64 lambdas per row" and "runs a fused multiply-add loop" on a
  * 100 TB vector corpus.
  *
  * Numeric contract: LEFT-TO-RIGHT double accumulation over the
  * element range of the shorter input — exactly the semantics of the
  * `aggregate(zip_with(a, b, (x, y) -> cast(x AS double) * ...))`
  * formulation and of the DuckDB oracle, so swapping them in changes
  * nothing observable.
  */
abstract class VectorFoldExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"${prettyName} expects array<float|double> inputs, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  protected def elemGet(arr: String, i: String, t: DataType): String =
    t match {
      case ArrayType(FloatType, _) => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }

  protected def elemGetEval(arr: ArrayData, i: Int, t: DataType): Double =
    t match {
      case ArrayType(FloatType, _) => arr.getFloat(i).toDouble
      case _ => arr.getDouble(i)
    }
}

/** dot_f(a, b) — dot product with double accumulation. */
case class DotProduct(left: Expression, right: Expression) extends VectorFoldExpression {
  override def prettyName: String = "dot_f"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += elemGetEval(x, i, left.dataType) * elemGetEval(y, i, right.dataType)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${elemGet(a, i, left.dataType)} * ${elemGet(b, i, right.dataType)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** cosine_f(a, b) — cosine similarity in one fused pass (dot and both
  * norms accumulate in the same loop, each left-to-right in double —
  * value-identical to computing the three folds separately).
  */
case class CosineSim(left: Expression, right: Expression) extends VectorFoldExpression {
  override def prettyName: String = "cosine_f"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    def doubles(arr: ArrayData, t: DataType) =
      Array.tabulate(arr.numElements())(elemGetEval(arr, _, t))
    val x = doubles(a.asInstanceOf[ArrayData], left.dataType)
    val y = doubles(b.asInstanceOf[ArrayData], right.dataType)
    CosineSim.fold(x, 0, y, 0, math.min(x.length, y.length))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val xy = ctx.freshName("xy")
      val xx = ctx.freshName("xx")
      val yy = ctx.freshName("yy")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $xy = 0.0; double $xx = 0.0; double $yy = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = ${elemGet(a, i, left.dataType)};
         |  double $yv = ${elemGet(b, i, right.dataType)};
         |  $xy += $xv * $yv; $xx += $xv * $xv; $yy += $yv * $yv;
         |}
         |${ev.value} = $xy / (java.lang.Math.sqrt($xx) * java.lang.Math.sqrt($yy));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** The cosine of `x(xOff until xOff + n)` and `y(yOff until yOff + n)`:
    * dot and both squared norms accumulated left to right in double,
    * then `xy / (sqrt(xx) * sqrt(yy))`. The interpreted [[CosineSim]]
    * calls it and the generated code writes the same loop. The vector
    * store's search kernel ([[graft.sources.SearchKernel]]) calls it for
    * a row it holds row-major, or a query of another length than its
    * rows; otherwise it computes the same bits column-wise, from norms
    * precomputed by this sum of squares.
    */
  def fold(x: Array[Double], xOff: Int, y: Array[Double], yOff: Int, n: Int): Double = {
    var xy = 0.0; var xx = 0.0; var yy = 0.0
    var i = 0
    while (i < n) {
      val xv = x(xOff + i)
      val yv = y(yOff + i)
      xy += xv * yv; xx += xv * xv; yy += yv * yv
      i += 1
    }
    xy / (math.sqrt(xx) * math.sqrt(yy))
  }
}

/** argmax_cos(q, cands) — 0-based index of the candidate vector (in an
  * array-of-arrays) with the highest cosine similarity to `q`; ties go
  * to the LOWEST index, and NaN compares greatest
  * (`java.lang.Double.compare` — the same total order Spark and DuckDB
  * use in ORDER BY ... DESC). Each candidate's cosine is the same fused
  * left-to-right double loop as [[CosineSim]], so replacing a
  * `crossJoin + row_number ORDER BY cosine_f DESC` argmin with this
  * expression changes nothing observable — except the plan: the window
  * formulation shuffles |cands| copies of every row; this is a row-local
  * projection with ZERO exchange. Returns -1 for an empty candidate
  * array; NULL candidate elements are skipped (the window formulation's
  * null cosine sorts last, so a non-null candidate always won there too).
  */
case class ArgMaxCos(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "argmax_cos"
  override def dataType: DataType = IntegerType

  private def vecOk(t: DataType) = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (lt, ArrayType(it, _)) if vecOk(lt) && vecOk(it) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"argmax_cos expects (array<float|double>, array<array<float|double>>), got " +
            s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }

  private def innerType: DataType = right.dataType.asInstanceOf[ArrayType].elementType

  private def get(arr: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => arr.getFloat(i).toDouble
    case _ => arr.getDouble(i)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val q = a.asInstanceOf[ArrayData]
    val cands = b.asInstanceOf[ArrayData]
    val qt = left.dataType.asInstanceOf[ArrayType].elementType
    val it = innerType.asInstanceOf[ArrayType].elementType
    var best = -1
    var bestV = 0.0
    var c = 0
    while (c < cands.numElements()) if (cands.isNullAt(c)) c += 1 else {
      val v = cands.getArray(c)
      val n = math.min(q.numElements(), v.numElements())
      var xy = 0.0; var xx = 0.0; var yy = 0.0
      var i = 0
      while (i < n) {
        val xv = get(q, i, qt); val yv = get(v, i, it)
        xy += xv * yv; xx += xv * xv; yy += yv * yv
        i += 1
      }
      val cs = xy / (math.sqrt(xx) * math.sqrt(yy))
      if (best < 0 || java.lang.Double.compare(cs, bestV) > 0) { best = c; bestV = cs }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def elemGet(arr: String, i: String, t: DataType): String = t match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }
    val qt = left.dataType.asInstanceOf[ArrayType].elementType
    val it = innerType.asInstanceOf[ArrayType].elementType
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val c = ctx.freshName("c"); val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val v = ctx.freshName("v"); val cs = ctx.freshName("cs")
      val xy = ctx.freshName("xy"); val xx = ctx.freshName("xx"); val yy = ctx.freshName("yy")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val best = ctx.freshName("best"); val bestV = ctx.freshName("bestV")
      s"""
         |int $best = -1; double $bestV = 0.0;
         |for (int $c = 0; $c < $b.numElements(); $c++) {
         |  if ($b.isNullAt($c)) continue;
         |  org.apache.spark.sql.catalyst.util.ArrayData $v = $b.getArray($c);
         |  int $n = java.lang.Math.min($a.numElements(), $v.numElements());
         |  double $xy = 0.0; double $xx = 0.0; double $yy = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xv = ${elemGet(a, i, qt)};
         |    double $yv = ${elemGet(v, i, it)};
         |    $xy += $xv * $yv; $xx += $xv * $xv; $yy += $yv * $yv;
         |  }
         |  double $cs = $xy / (java.lang.Math.sqrt($xx) * java.lang.Math.sqrt($yy));
         |  if ($best < 0 || java.lang.Double.compare($cs, $bestV) > 0) { $best = $c; $bestV = $cs; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** byte_stride(payload, s) — every s-th byte of a binary column
  * (indices 0, s, 2s, … < length), as binary. The byte-native kernel for
  * the multimodal resize stub: the hex-string formulation
  * (`substring(hex(payload), i*2+1, 2)` per byte inside a higher-order
  * lambda) pays a 2× string blowup plus interpreted lambda dispatch per
  * byte; this is one tight generated loop over the raw bytes. A stride
  * < 1 is treated as 1 (identity selection).
  */
case class ByteStride(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "byte_stride"
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      // bigint strides are accepted because SQL integer division (`div`)
      // yields bigint — forcing a cast at every call site would make the
      // natural `byte_stride(p, n div k)` spelling a type error
      case (BinaryType, IntegerType | LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"byte_stride expects (binary, int|bigint), got " +
            s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val in = a.asInstanceOf[Array[Byte]]
    val raw = b match { case l: Long => math.min(l, Int.MaxValue.toLong).toInt; case i: Int => i }
    val s = math.max(raw, 1)
    val out = new Array[Byte]((in.length + s - 1) / s)
    var i = 0; var j = 0
    while (i < in.length) { out(j) = in(i); i += s; j += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val s = ctx.freshName("s"); val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val out = ctx.freshName("out")
      s"""
         |int $s = (int) java.lang.Math.max(java.lang.Math.min((long) $b, 2147483647L), 1L);
         |byte[] $out = new byte[($a.length + $s - 1) / $s];
         |int $j = 0;
         |for (int $i = 0; $i < $a.length; $i += $s) { $out[$j++] = $a[$i]; }
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** byte_energy(payload, off, len) — Σ |(b & 0xFF) − 128| over the byte
  * slice [off, off+len) of a binary column, as BIGINT: the frame-energy
  * kernel of the PCM audio path (unsigned-8-bit samples centered at
  * 128). Out-of-range slices clamp (off < 0 → 0; slice truncates at
  * the payload end; len ≤ 0 → empty) so window edges need no guard at
  * the call site. One tight generated loop over the raw bytes — the
  * hex-string formulation would pay a 2× blowup plus a per-byte
  * interpreted lambda, the anti-pattern ByteStride already documents.
  */
case class ByteEnergy(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def prettyName: String = "byte_energy"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (BinaryType, IntegerType | LongType, IntegerType | LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"byte_energy expects (binary, int|bigint, int|bigint), got " +
            s"${first.dataType.catalogString} / ${second.dataType.catalogString} / ${third.dataType.catalogString}")
    }

  private def asInt(v: Any): Int =
    v match { case l: Long => math.min(math.max(l, Int.MinValue.toLong), Int.MaxValue.toLong).toInt; case i: Int => i }

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val in = a.asInstanceOf[Array[Byte]]
    val off = math.max(asInt(b), 0)
    val end = math.min(in.length.toLong, off.toLong + math.max(asInt(c), 0)).toInt
    var s = 0L; var i = off
    while (i < end) { s += math.abs((in(i) & 0xff) - 128); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val off = ctx.freshName("off"); val end = ctx.freshName("end")
      val i = ctx.freshName("i"); val s = ctx.freshName("s")
      s"""
         |int $off = (int) java.lang.Math.max(java.lang.Math.min((long) $b, 2147483647L), 0L);
         |int $end = (int) java.lang.Math.min((long) $a.length,
         |    $off + java.lang.Math.max(java.lang.Math.min((long) $c, 2147483647L), 0L));
         |long $s = 0L;
         |for (int $i = $off; $i < $end; $i++) {
         |  $s += java.lang.Math.abs(($a[$i] & 0xff) - 128);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** byte_zcr(payload, off, len) — the zero-crossing count of the
  * centered samples (b & 0xFF) − 64 over the byte window
  * [off, off+len): the number of adjacent pairs whose product is
  * strictly negative (a zero sample crosses nothing — the strict rule
  * both engines can state identically). The classic voiced/unvoiced
  * discriminator next to [[ByteEnergy]]'s level: fricatives cross
  * often at low energy, voiced speech rarely at high energy. The
  * center is 64, NOT byte_energy's 128: the synthetic fixture is pure
  * ASCII (every byte < 0x80), so 128-centering is sign-constant and
  * counts zero crossings everywhere — 64 splits the ASCII
  * distribution (spaces/digits below, letters above), making the
  * count track token boundaries the way a real waveform's crossings
  * track pitch. Same single fused codegen loop discipline as
  * byte_energy — one long counter, no per-sample allocation.
  */
case class ByteZcr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def prettyName: String = "byte_zcr"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (BinaryType, IntegerType | LongType, IntegerType | LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"byte_zcr expects (binary, int|bigint, int|bigint), got " +
            s"${first.dataType.catalogString} / ${second.dataType.catalogString} / ${third.dataType.catalogString}")
    }

  private def asInt(v: Any): Int =
    v match { case l: Long => math.min(math.max(l, Int.MinValue.toLong), Int.MaxValue.toLong).toInt; case i: Int => i }

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val in = a.asInstanceOf[Array[Byte]]
    val off = math.max(asInt(b), 0)
    val end = math.min(in.length.toLong, off.toLong + math.max(asInt(c), 0)).toInt
    var s = 0L; var i = off
    while (i + 1 < end) {
      if (((in(i) & 0xff) - 64) * ((in(i + 1) & 0xff) - 64) < 0) s += 1
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val off = ctx.freshName("off"); val end = ctx.freshName("end")
      val i = ctx.freshName("i"); val s = ctx.freshName("s")
      s"""
         |int $off = (int) java.lang.Math.max(java.lang.Math.min((long) $b, 2147483647L), 0L);
         |int $end = (int) java.lang.Math.min((long) $a.length,
         |    $off + java.lang.Math.max(java.lang.Math.min((long) $c, 2147483647L), 0L));
         |long $s = 0L;
         |for (int $i = $off; $i + 1 < $end; $i++) {
         |  if ((($a[$i] & 0xff) - 64) * (($a[$i + 1] & 0xff) - 64) < 0) $s++;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** dct8(payload) — the 63 AC coefficients of the exact integer 2-D
  * DCT-II over the pHash pixel grid (8×8, every other column of the
  * first 8 rows of the 16-wide byte image, pixel = |b − 128|), as
  * ARRAY<BIGINT>. The cosine basis is [[Dct8.C]] in integer millionths
  * — the SAME 64 literals the DuckDB oracle embeds, so cross-engine
  * equality is by construction. Computed SEPARABLY (row pass then
  * column pass: ~1 000 multiply-adds instead of the direct form's
  * 4 032) in one static Java loop; integer + and × are exact, so the
  * reassociation is value-identical to the oracle's direct double sum.
  * This kernel exists because the HOF formulation was quadratic in
  * practice: CollapseProject inlined the per-row G table into the
  * 63-coefficient lambda (504 references), re-evaluating it per
  * reference — ~260 k interpreted multiplies per row where this loop
  * does 1 000 fused ones. Out-of-range bytes read as 128 (pixel 0),
  * so short payloads need no call-site guard.
  */
case class Dct8(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "dct8"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dct8 expects binary, got ${t.catalogString}")
    }

  override protected def nullSafeEval(a: Any): Any =
    Dct8.compute(a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.Dct8.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Dct8 {
  /** Row-major C[u*8+x] = round(10⁶·cos((2x+1)uπ/16)). */
  val C: Array[Long] = Array(
    1000000L, 1000000L, 1000000L, 1000000L, 1000000L, 1000000L, 1000000L, 1000000L,
    980785L, 831470L, 555570L, 195090L, -195090L, -555570L, -831470L, -980785L,
    923880L, 382683L, -382683L, -923880L, -923880L, -382683L, 382683L, 923880L,
    831470L, -195090L, -980785L, -555570L, 555570L, 980785L, 195090L, -831470L,
    707107L, -707107L, -707107L, 707107L, 707107L, -707107L, -707107L, 707107L,
    555570L, -980785L, 195090L, 831470L, -831470L, -195090L, 980785L, -555570L,
    382683L, -923880L, 923880L, -382683L, -382683L, 923880L, -923880L, 382683L,
    195090L, -555570L, 831470L, -980785L, 980785L, -831470L, 555570L, -195090L)

  def compute(in: Array[Byte]): ArrayData = {
    val p = new Array[Long](64)
    var i = 0
    while (i < 64) {
      val off = (i / 8) * 16 + (i % 8) * 2
      p(i) = if (off < in.length) math.abs((in(off) & 0xff) - 128).toLong else 0L
      i += 1
    }
    // separable: G[x][v] = Σ_y p[x][y]·C[v][y]
    val g = new Array[Long](64)
    var x = 0
    while (x < 8) {
      var v = 0
      while (v < 8) {
        var s = 0L; var y = 0
        while (y < 8) { s += p(x * 8 + y) * C(v * 8 + y); y += 1 }
        g(x * 8 + v) = s
        v += 1
      }
      x += 1
    }
    // F[u][v] = Σ_x C[u][x]·G[x][v]; k = u*8+v, DC (k=0) excluded
    val f = new Array[Long](63)
    var k = 1
    while (k < 64) {
      val u = k / 8; val v = k % 8
      var s = 0L; var xx = 0
      while (xx < 8) { s += C(u * 8 + xx) * g(xx * 8 + v); xx += 1 }
      f(k - 1) = s
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(f)
  }
}

/** Shared contract for the quantized-centroid scan kernels backing the
  * engine's Lloyd k-means (`ml_kmeans`): `left` is a row's quantized
  * embedding (`array<bigint>`, integer micros), `right` the K×D
  * centroid model (`array<array<bigint>>` — the broadcast-model
  * literal, K and D both tiny). Distances are exact integer squared-L2,
  * so assignment is bit-identical across engines, partitionings and
  * retries; ties resolve to the SMALLEST centroid index (= the
  * oracle's `ORDER BY d ASC, cid ASC` row_number). A higher-order
  * `aggregate(zip_with(...))` formulation would interpret K·D lambdas
  * per row and CollapseProject would re-inline the quantization into
  * every distance reference (the dct8 lesson) — these compile to one
  * fused long loop inside whole-stage codegen.
  */
abstract class CentroidScanExpression extends BinaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(ArrayType(LongType, _), _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<bigint>, array<array<bigint>>), got " +
            s"${l.catalogString} / ${r.catalogString}")
    }
}

/** argmin_q(qv, cents) — index (0-based) of the nearest centroid by
  * exact integer squared-L2; ties → smallest index.
  */
case class ArgMinQ(left: Expression, right: Expression) extends CentroidScanExpression {
  override def prettyName: String = "argmin_q"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CentroidScan.argmin(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.CentroidScan.argmin($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** minsq_q(qv, cents) — the squared-L2 distance to that same nearest
  * centroid (the row's inertia contribution).
  */
case class MinSqQ(left: Expression, right: Expression) extends CentroidScanExpression {
  override def prettyName: String = "minsq_q"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CentroidScan.minsq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.CentroidScan.minsq($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** gram_u(qv) — the packed per-row second-moment contribution backing
  * `ml_pca_power`: for a D-dim quantized vector, one `array<bigint>` of
  * length 1 + D + D(D+1)/2 holding [count=1, the D components, the
  * upper-triangle products qᵢ·qⱼ (i ≤ j, row-major)]. One posexplode +
  * partial-aggregated sum over this array IS the covariance allreduce —
  * the whole corpus folds to 1 + D + D(D+1)/2 numbers in a single scan,
  * map-side combine doing almost all the work. A HOF formulation would
  * interpret D²/2 lambdas per row (the dct8 lesson); this is one fused
  * long loop. Products are exact in int64 (|q| ≤ 1e6 micros ⇒
  * |qᵢ·qⱼ| ≤ 1e12); the SUMS accumulate downstream in DECIMAL(38,0).
  * Switch point: the packed array is D(D+1)/2 longs per row (2 145 at
  * D=64) — at D ≥ ~512 both the per-row buffer and the power-method
  * ppm headroom (N·Σqq·1e6·D under 38 digits) call for a blocked-Gram
  * variant that tiles the triangle across column-range stripes, one
  * packed stripe per scan.
  */
case class GramU(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "gram_u"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"gram_u expects array<bigint>, got ${t.catalogString}")
    }

  override protected def nullSafeEval(a: Any): Any =
    GramU.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.GramU.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GramU {
  def compute(q: ArrayData): ArrayData = {
    val n = q.numElements()
    val out = new Array[Long](1 + n + n * (n + 1) / 2)
    out(0) = 1L
    var i = 0
    while (i < n) { out(1 + i) = q.getLong(i); i += 1 }
    var k = 1 + n
    i = 0
    while (i < n) {
      val qi = q.getLong(i)
      var j = i
      while (j < n) { out(k) = qi * q.getLong(j); k += 1; j += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object CentroidScan {
  /** Best (distance, index) over the centroid table; one fused loop,
    * strict-less update keeps the first (smallest) index on ties.
    */
  private def scan(q: ArrayData, cents: ArrayData): (Long, Long) = {
    val k = cents.numElements()
    var bestD = Long.MaxValue
    var bestJ = 0L
    var j = 0
    while (j < k) {
      val cv = cents.getArray(j)
      val n = math.min(q.numElements(), cv.numElements())
      var d = 0L
      var i = 0
      while (i < n) {
        val diff = q.getLong(i) - cv.getLong(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; bestJ = j.toLong }
      j += 1
    }
    (bestD, bestJ)
  }

  def argmin(q: ArrayData, cents: ArrayData): Long = scan(q, cents)._2
  def minsq(q: ArrayData, cents: ArrayData): Long = scan(q, cents)._1
}

/** Registration — both as a [[org.apache.spark.sql.SparkSessionExtensions]]
  * installer ([[GraftExtensions]], which `graft.GraftSession` installs in
  * every session it builds) and as an idempotent imperative call. The
  * imperative path exists only for sessions built outside
  * `graft.GraftSession`: `graft.SparkEntry` and `graft.Graft.initSql`
  * run it for them. Each function carries its own implementing class
  * so `DESCRIBE FUNCTION` reports the right one.
  */
object VectorExprs {
  private[plans] val fns: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("dot_f", classOf[DotProduct], c => DotProduct(c.head, c(1))),
    ("cosine_f", classOf[CosineSim], c => CosineSim(c.head, c(1))),
    ("argmax_cos", classOf[ArgMaxCos], c => ArgMaxCos(c.head, c(1))),
    ("byte_stride", classOf[ByteStride], c => ByteStride(c.head, c(1))),
    ("byte_energy", classOf[ByteEnergy], c => ByteEnergy(c.head, c(1), c(2))),
    ("byte_zcr", classOf[ByteZcr], c => ByteZcr(c.head, c(1), c(2))),
    ("hash_tokens", classOf[HashTokens], c => HashTokens(c.head)),
    ("embed64", classOf[Embed64], c => Embed64(c.head)),
    ("rank52", classOf[Rank52], c => Rank52(c.head)),
    ("nfc_normalize", classOf[NfcNormalize], c => NfcNormalize(c.head)),
    ("word_shingles", classOf[WordShingles], c => WordShingles(c.head, c(1))),
    ("shingle_hashes", classOf[ShingleHashes], c => ShingleHashes(c.head, c(1))),
    ("minhash16", classOf[MinHash16], c => MinHash16(c.head)),
    ("simhash60", classOf[SimHash60], c => SimHash60(c.head)),
    ("del_hashes", classOf[DelHashes], c => DelHashes(c.head)),
    ("cdc_chunks", classOf[CdcChunks], c => CdcChunks(c.head, c(1))),
    ("dct8", classOf[Dct8], c => Dct8(c.head)),
    ("argmin_q", classOf[ArgMinQ], c => ArgMinQ(c.head, c(1))),
    ("minsq_q", classOf[MinSqQ], c => MinSqQ(c.head, c(1))),
    ("gram_u", classOf[GramU], c => GramU(c.head)))

  /** Registers each function the session does not already have, so a
    * session that has them (from [[GraftExtensions]] or an earlier
    * call) is left untouched.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    fns.foreach { case (name, cls, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id))
        registry.registerFunction(id, new ExpressionInfo(cls.getName, name), builder)
    }
  }
}

/** Session extension installing [[VectorExprs.fns]]; `graft.GraftSession`
  * adds it to every session it builds.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    VectorExprs.fns.foreach { case (name, cls, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name),
          new ExpressionInfo(cls.getName, name),
          builder))
    }
}
