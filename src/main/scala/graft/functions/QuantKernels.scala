package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._

/** Fused, whole-stage-codegen kernels for the fixed-point quantizer
  * family (q142 k-means, q128/q130 semantic cells, q148/q158/q159/q179/
  * q198/q200/q223/q226/q231/q244/q247/q248 PQ/IVFADC, q68 IVF).
  *
  * The higher-order formulations these replace —
  * `transform(cb, cw => aggregate(zip_with(e, cw, (x,y) => (x-y)*(x-y)),
  * 0L, _+_))` and friends — are `HigherOrderFunction`s, which do NOT
  * participate in whole-stage codegen: every element evaluation goes
  * through an interpreted lambda with boxed longs and an allocated
  * intermediate array per (row, centroid). At K=16 centroids × 64 dims
  * that is ~1k boxed ops and 16 allocations per corpus row per pass —
  * measured as the dominant term of every training/encode/serve pass in
  * the family (guide §1.2 step 2 / task rule 4: eliminate non-codegen
  * expressions in the hot path).
  *
  * Every kernel below is EXACTLY the integer arithmetic of its
  * higher-order original — same Long wraparound, same left-to-right
  * accumulation, same FIRST-minimum (lowest index) tie-break — so
  * swapping them in cannot change any oracle-checked result
  * (QuantKernelsSpec asserts bit-equality against the HOF forms on
  * randomized and adversarial inputs; the full DuckDB oracle gate
  * re-proves it end-to-end).
  *
  * Like [[DotProduct]], inputs are assumed non-null-element arrays
  * (quantized embedding vectors). Dimension mismatches throw instead of
  * silently null-propagating the way `zip_with`'s pad-with-null would:
  * every registered call site guarantees equal widths, so the throwing
  * branch is unreachable today and fail-fast is the safer contract for
  * anything new (the phash-fallback precedent).
  */
private[graft] object QuantKernelCore {
  def l2(e: ArrayData, c: Array[Long], n: Int): Long = {
    var acc = 0L; var i = 0
    while (i < n) { val d = e.getLong(i) - c(i); acc += d * d; i += 1 }
    acc
  }
  def l2Off(e: ArrayData, off: Int, c: Array[Long], n: Int): Long = {
    var acc = 0L; var i = 0
    while (i < n) { val d = e.getLong(off + i) - c(i); acc += d * d; i += 1 }
    acc
  }
}

/** floor(x · 10⁶) per element of a float/double array → array<long> —
  * the shared quantization map (`quantized`). Bit-identical to
  * `transform(v, x => floor(cast(x as double) * 1e6).cast("long"))`:
  * float→double widening is exact, and `(long) Math.floor(d)` is the
  * same d2l the interpreted Floor+Cast path executes. */
case class QuantizeVec(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "quantize_vec"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantize_vec expects array<float|double>, got ${other.catalogString}")
  }

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Long](n)
    val isF = elemIsFloat
    var i = 0
    while (i < n) {
      val d = if (isF) a.getFloat(i).toDouble else a.getDouble(i)
      out(i) = Math.floor(d * 1e6).toLong
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val get = if (elemIsFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |long[] $out = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = (long) Math.floor($get * 1.0E6);
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Structural equality for kernels carrying codebook ARRAY fields:
  * case-class equality on arrays is reference-based, so two
  * semantically identical kernel expressions would never compare equal
  * — defeating Catalyst subexpression elimination and plan
  * canonicalization for repeated uses (unlike the CreateArray literal
  * trees the kernels replaced). */
private[functions] object DeepEq {
  def eq(a: AnyRef, b: AnyRef): Boolean =
    java.util.Arrays.deepEquals(Array(a), Array(b))
  def hash(a: AnyRef): Int = java.util.Arrays.deepHashCode(Array(a))
}

/** Integer squared-L2 to EVERY centroid row: array<long> of
  * `cents.length` distances — the probe-side kernel
  * (`probeQuantizedCells`' scored relation). */
case class CentDists(child: Expression, cents: Array[Array[Long]])
    extends UnaryExpression {
  override def equals(o: Any): Boolean = o match {
    case that: CentDists => child == that.child && DeepEq.eq(cents, that.cents)
    case _ => false
  }
  override lazy val hashCode: Int =
    31 * (child.hashCode()) + DeepEq.hash(cents)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cent_dists"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cent_dists expects array<long>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val e = input.asInstanceOf[ArrayData]
    val n = e.numElements()
    require(cents.forall(_.length == n),
      s"cent_dists: vector has $n dims, centroids have ${cents.head.length}")
    val out = new Array[Long](cents.length)
    var j = 0
    while (j < cents.length) {
      out(j) = QuantKernelCore.l2(e, cents(j), n); j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cref = ctx.addReferenceObj("cents", cents, "long[][]")
    nullSafeCodeGen(ctx, ev, e => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val acc = ctx.freshName("acc")
      val d = ctx.freshName("d"); val out = ctx.freshName("out")
      val cj = ctx.freshName("cj")
      s"""
         |int $n = $e.numElements();
         |long[] $out = new long[$cref.length];
         |for (int $j = 0; $j < $cref.length; $j++) {
         |  long[] $cj = $cref[$j];
         |  if ($cj.length != $n) throw new IllegalArgumentException(
         |    "cent_dists: vector has " + $n + " dims, centroid has " + $cj.length);
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $d = $e.getLong($i) - $cj[$i]; $acc += $d * $d;
         |  }
         |  $out[$j] = $acc;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused argmin over the centroid rows: array<long>[2] = (cell, dist),
  * FIRST minimum (lowest cell id) on ties — exactly
  * `array_position(d, array_min(d)) - 1` over [[CentDists]]'s d. */
case class CentArgmin(child: Expression, cents: Array[Array[Long]])
    extends UnaryExpression {
  override def equals(o: Any): Boolean = o match {
    case that: CentArgmin => child == that.child && DeepEq.eq(cents, that.cents)
    case _ => false
  }
  override lazy val hashCode: Int =
    31 * (child.hashCode()) + DeepEq.hash(cents)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cent_argmin"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cent_argmin expects array<long>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val e = input.asInstanceOf[ArrayData]
    val n = e.numElements()
    var best = Long.MaxValue; var bestJ = -1
    var j = 0
    while (j < cents.length) {
      require(cents(j).length == n,
        s"cent_argmin: vector has $n dims, centroid has ${cents(j).length}")
      val d = QuantKernelCore.l2(e, cents(j), n)
      if (d < best) { best = d; bestJ = j }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(Array(bestJ.toLong, best))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cref = ctx.addReferenceObj("cents", cents, "long[][]")
    nullSafeCodeGen(ctx, ev, e => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val acc = ctx.freshName("acc")
      val d = ctx.freshName("d"); val cj = ctx.freshName("cj")
      val best = ctx.freshName("best"); val bestJ = ctx.freshName("bestJ")
      s"""
         |int $n = $e.numElements();
         |long $best = Long.MAX_VALUE; int $bestJ = -1;
         |for (int $j = 0; $j < $cref.length; $j++) {
         |  long[] $cj = $cref[$j];
         |  if ($cj.length != $n) throw new IllegalArgumentException(
         |    "cent_argmin: vector has " + $n + " dims, centroid has " + $cj.length);
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $d = $e.getLong($i) - $cj[$i]; $acc += $d * $d;
         |  }
         |  if ($acc < $best) { $best = $acc; $bestJ = $j; }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(new long[]{(long) $bestJ, $best});
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** vec − cents[cell] (element-wise long subtraction) — the
  * `residualize` kernel; `cell` is the row's assigned coarse cell. */
case class CentResidual(left: Expression, right: Expression,
    cents: Array[Array[Long]]) extends BinaryExpression {
  override def equals(o: Any): Boolean = o match {
    case that: CentResidual => left == that.left && right == that.right && DeepEq.eq(cents, that.cents)
    case _ => false
  }
  override lazy val hashCode: Int =
    31 * (left.hashCode() + 31 * right.hashCode()) + DeepEq.hash(cents)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cent_residual"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType | IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cent_residual expects (array<long>, long), got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  private def cellOf(v: Any): Int = v match {
    case l: java.lang.Long => l.toInt
    case i: java.lang.Integer => i.intValue()
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val e = a.asInstanceOf[ArrayData]
    val c = cents(cellOf(b))
    val n = e.numElements()
    require(c.length == n,
      s"cent_residual: vector has $n dims, centroid has ${c.length}")
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = e.getLong(i) - c(i); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cref = ctx.addReferenceObj("cents", cents, "long[][]")
    nullSafeCodeGen(ctx, ev, (e, cell) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val out = ctx.freshName("out"); val cj = ctx.freshName("cj")
      s"""
         |int $n = $e.numElements();
         |long[] $cj = $cref[(int) $cell];
         |if ($cj.length != $n) throw new IllegalArgumentException(
         |  "cent_residual: vector has " + $n + " dims, centroid has " + $cj.length);
         |long[] $out = new long[$n];
         |for (int $i = 0; $i < $n; $i++) { $out[$i] = $e.getLong($i) - $cj[$i]; }
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** PQ encode: codes[m] = argmin_j L2(vec[m·sub .. m·sub+sub), cb[m][j]),
  * first-min tie-break — the fused `pqEncode` codes kernel. Reads
  * exactly the first M·sub elements (the `slice` window); a shorter
  * vector throws. */
case class PqCodes(child: Expression, cb: Array[Array[Array[Long]]])
    extends UnaryExpression {
  override def equals(o: Any): Boolean = o match {
    case that: PqCodes => child == that.child && DeepEq.eq(cb, that.cb)
    case _ => false
  }
  override lazy val hashCode: Int =
    31 * (child.hashCode()) + DeepEq.hash(cb)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_codes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_codes expects array<long>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val e = input.asInstanceOf[ArrayData]
    val m = cb.length; val sub = cb.head.head.length
    require(e.numElements() >= m * sub,
      s"pq_codes: vector has ${e.numElements()} dims, need ${m * sub}")
    val out = new Array[Long](m)
    var mi = 0
    while (mi < m) {
      val off = mi * sub
      var best = Long.MaxValue; var bestJ = -1
      var j = 0
      while (j < cb(mi).length) {
        val d = QuantKernelCore.l2Off(e, off, cb(mi)(j), sub)
        if (d < best) { best = d; bestJ = j }
        j += 1
      }
      out(mi) = bestJ.toLong
      mi += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cref = ctx.addReferenceObj("cb", cb, "long[][][]")
    nullSafeCodeGen(ctx, ev, e => {
      val m = ctx.freshName("m"); val j = ctx.freshName("j")
      val i = ctx.freshName("i"); val acc = ctx.freshName("acc")
      val d = ctx.freshName("d"); val out = ctx.freshName("out")
      val sub = ctx.freshName("sub"); val off = ctx.freshName("off")
      val best = ctx.freshName("best"); val bestJ = ctx.freshName("bestJ")
      val cw = ctx.freshName("cw")
      s"""
         |int $sub = $cref[0][0].length;
         |if ($e.numElements() < $cref.length * $sub) throw new IllegalArgumentException(
         |  "pq_codes: vector has " + $e.numElements() + " dims, need " + ($cref.length * $sub));
         |long[] $out = new long[$cref.length];
         |for (int $m = 0; $m < $cref.length; $m++) {
         |  int $off = $m * $sub;
         |  long $best = Long.MAX_VALUE; int $bestJ = -1;
         |  for (int $j = 0; $j < $cref[$m].length; $j++) {
         |    long[] $cw = $cref[$m][$j];
         |    long $acc = 0L;
         |    for (int $i = 0; $i < $sub; $i++) {
         |      long $d = $e.getLong($off + $i) - $cw[$i]; $acc += $d * $d;
         |    }
         |    if ($acc < $best) { $best = $acc; $bestJ = $j; }
         |  }
         |  $out[$m] = (long) $bestJ;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** PQ query LUT: lut[m][j] = L2(vec[m·sub .. m·sub+sub), cb[m][j]) —
  * the fused `pqQueryLuts` / `pqEncode` query kernel. */
case class PqLut(child: Expression, cb: Array[Array[Array[Long]]])
    extends UnaryExpression {
  override def equals(o: Any): Boolean = o match {
    case that: PqLut => child == that.child && DeepEq.eq(cb, that.cb)
    case _ => false
  }
  override lazy val hashCode: Int =
    31 * (child.hashCode()) + DeepEq.hash(cb)

  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)
  override def prettyName: String = "pq_lut"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_lut expects array<long>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val e = input.asInstanceOf[ArrayData]
    val m = cb.length; val sub = cb.head.head.length
    require(e.numElements() >= m * sub,
      s"pq_lut: vector has ${e.numElements()} dims, need ${m * sub}")
    val out = new Array[Any](m)
    var mi = 0
    while (mi < m) {
      val off = mi * sub
      val row = new Array[Long](cb(mi).length)
      var j = 0
      while (j < cb(mi).length) {
        row(j) = QuantKernelCore.l2Off(e, off, cb(mi)(j), sub); j += 1
      }
      out(mi) = UnsafeArrayData.fromPrimitiveArray(row)
      mi += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cref = ctx.addReferenceObj("cb", cb, "long[][][]")
    nullSafeCodeGen(ctx, ev, e => {
      val m = ctx.freshName("m"); val j = ctx.freshName("j")
      val i = ctx.freshName("i"); val acc = ctx.freshName("acc")
      val d = ctx.freshName("d"); val out = ctx.freshName("out")
      val sub = ctx.freshName("sub"); val off = ctx.freshName("off")
      val row = ctx.freshName("row"); val cw = ctx.freshName("cw")
      s"""
         |int $sub = $cref[0][0].length;
         |if ($e.numElements() < $cref.length * $sub) throw new IllegalArgumentException(
         |  "pq_lut: vector has " + $e.numElements() + " dims, need " + ($cref.length * $sub));
         |Object[] $out = new Object[$cref.length];
         |for (int $m = 0; $m < $cref.length; $m++) {
         |  int $off = $m * $sub;
         |  long[] $row = new long[$cref[$m].length];
         |  for (int $j = 0; $j < $cref[$m].length; $j++) {
         |    long[] $cw = $cref[$m][$j];
         |    long $acc = 0L;
         |    for (int $i = 0; $i < $sub; $i++) {
         |      long $d = $e.getLong($off + $i) - $cw[$i]; $acc += $d * $d;
         |    }
         |    $row[$j] = $acc;
         |  }
         |  $out[$m] = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($row);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distances from a SUB-vector to every codeword of sub-space `m` —
  * the per-(m, sv) kernel of `pqTrainCodebook`'s assignment step. */
case class SubCentDists(left: Expression, right: Expression,
    cb: Array[Array[Array[Long]]]) extends BinaryExpression {
  override def equals(o: Any): Boolean = o match {
    case that: SubCentDists => left == that.left && right == that.right && DeepEq.eq(cb, that.cb)
    case _ => false
  }
  override lazy val hashCode: Int =
    31 * (left.hashCode() + 31 * right.hashCode()) + DeepEq.hash(cb)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sub_cent_dists"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType | IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sub_cent_dists expects (array<long>, int|long), got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  private def mOf(v: Any): Int = v match {
    case l: java.lang.Long => l.toInt
    case i: java.lang.Integer => i.intValue()
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val sv = a.asInstanceOf[ArrayData]
    val cbm = cb(mOf(b))
    val n = sv.numElements()
    require(cbm.forall(_.length == n),
      s"sub_cent_dists: sub-vector has $n dims, codewords have ${cbm.head.length}")
    val out = new Array[Long](cbm.length)
    var j = 0
    while (j < cbm.length) { out(j) = QuantKernelCore.l2(sv, cbm(j), n); j += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cref = ctx.addReferenceObj("cb", cb, "long[][][]")
    nullSafeCodeGen(ctx, ev, (sv, m) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val acc = ctx.freshName("acc")
      val d = ctx.freshName("d"); val out = ctx.freshName("out")
      val cbm = ctx.freshName("cbm"); val cw = ctx.freshName("cw")
      s"""
         |int $n = $sv.numElements();
         |long[][] $cbm = $cref[(int) $m];
         |long[] $out = new long[$cbm.length];
         |for (int $j = 0; $j < $cbm.length; $j++) {
         |  long[] $cw = $cbm[$j];
         |  if ($cw.length != $n) throw new IllegalArgumentException(
         |    "sub_cent_dists: sub-vector has " + $n + " dims, codeword has " + $cw.length);
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $d = $sv.getLong($i) - $cw[$i]; $acc += $d * $d;
         |  }
         |  $out[$j] = $acc;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** ADC distance Σ_m lut[m][codes[m]] — the fused `adcDist` fold over
  * the broadcast LUT and the row's code array. */
case class AdcDistLut(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "adc_dist_lut"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(LongType, _), _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"adc_dist_lut expects (array<array<long>>, array<long>), got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val lut = a.asInstanceOf[ArrayData]
    val codes = b.asInstanceOf[ArrayData]
    var acc = 0L; var m = 0
    val n = codes.numElements()
    while (m < n) {
      acc += lut.getArray(m).getLong(codes.getLong(m).toInt); m += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lut, codes) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val acc = ctx.freshName("acc")
      s"""
         |long $acc = 0L;
         |int $n = $codes.numElements();
         |for (int $m = 0; $m < $n; $m++) {
         |  $acc += $lut.getArray($m).getLong((int) $codes.getLong($m));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Integer squared-L2 between two long arrays — the broadcast-path
  * kernel (centroids/codewords as a joined column instead of a
  * driver-side literal). */
case class VecL2Q(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_l2q"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_l2q expects two array<long> arguments, got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    require(y.numElements() == n,
      s"vec_l2q: dimension mismatch ($n vs ${y.numElements()})")
    var acc = 0L; var i = 0
    while (i < n) { val d = x.getLong(i) - y.getLong(i); acc += d * d; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      s"""
         |int $n = $x.numElements();
         |if ($y.numElements() != $n) throw new IllegalArgumentException(
         |  "vec_l2q: dimension mismatch (" + $n + " vs " + $y.numElements() + ")");
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = $x.getLong($i) - $y.getLong($i); $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Count of positions where two equal-length long arrays agree ≡
  * `size(filter(zip_with(a, b, _ === _), identity))` — the minhash
  * signature-agreement estimator (q42/q129/q168 funnel verify and the
  * streaming dedup), evaluated per candidate pair. */
case class VecEqCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "vec_eq_count"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_eq_count expects two array<long> arguments, got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    require(y.numElements() == n,
      s"vec_eq_count: length mismatch ($n vs ${y.numElements()})")
    var cnt = 0; var i = 0
    while (i < n) { if (x.getLong(i) == y.getLong(i)) cnt += 1; i += 1 }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val cnt = ctx.freshName("cnt")
      s"""
         |int $n = $x.numElements();
         |if ($y.numElements() != $n) throw new IllegalArgumentException(
         |  "vec_eq_count: length mismatch (" + $n + " vs " + $y.numElements() + ")");
         |int $cnt = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.getLong($i) == $y.getLong($i)) $cnt++;
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Count of DISTINCT common elements of two SORTED (ascending) long
  * arrays — a linear, allocation-free merge ≡
  * `size(array_intersect(a, b))` on sorted inputs (array_intersect
  * hash-builds a set and materializes the intersection array per row
  * just to take its size; q140 runs this per candidate pair).
  * Duplicate runs on either side count once, matching
  * array_intersect's dedup. Caller contract: both arrays ascending
  * (q140's are array_sort'ed); unsorted input gives an undercount, so
  * keep this next to an array_sort producer only. */
case class SortedInterCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_inter_count"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sorted_inter_count expects two array<long> arguments, got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var cnt = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else {
        cnt += 1
        val v = xv
        while (i < nx && x.getLong(i) == v) i += 1
        while (j < ny && y.getLong(j) == v) j += 1
      }
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val cnt = ctx.freshName("cnt"); val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv"); val v = ctx.freshName("v")
      s"""
         |int $nx = $x.numElements(); int $ny = $y.numElements();
         |int $i = 0; int $j = 0; long $cnt = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $x.getLong($i); long $yv = $y.getLong($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else {
         |    $cnt++;
         |    long $v = $xv;
         |    while ($i < $nx && $x.getLong($i) == $v) { $i++; }
         |    while ($j < $ny && $y.getLong($j) == $v) { $j++; }
         |  }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object QuantKernels {
  import org.apache.spark.sql.graft.bridge.{column, expression}

  def quantize_vec(v: Column): Column = column(QuantizeVec(expression(v)))
  def cent_dists(v: Column, cents: Array[Array[Long]]): Column =
    column(CentDists(expression(v), cents))
  def cent_argmin(v: Column, cents: Array[Array[Long]]): Column =
    column(CentArgmin(expression(v), cents))
  def cent_residual(v: Column, cell: Column, cents: Array[Array[Long]]): Column =
    column(CentResidual(expression(v), expression(cell), cents))
  def pq_codes(v: Column, cb: Array[Array[Array[Long]]]): Column =
    column(PqCodes(expression(v), cb))
  def pq_lut(v: Column, cb: Array[Array[Array[Long]]]): Column =
    column(PqLut(expression(v), cb))
  def sub_cent_dists(sv: Column, m: Column, cb: Array[Array[Array[Long]]]): Column =
    column(SubCentDists(expression(sv), expression(m), cb))
  def adc_dist_lut(lut: Column, codes: Column): Column =
    column(AdcDistLut(expression(lut), expression(codes)))
  def vec_l2q(a: Column, b: Column): Column =
    column(VecL2Q(expression(a), expression(b)))
  def sorted_inter_count(a: Column, b: Column): Column =
    column(SortedInterCount(expression(a), expression(b)))
  def vec_eq_count(a: Column, b: Column): Column =
    column(VecEqCount(expression(a), expression(b)))
}
