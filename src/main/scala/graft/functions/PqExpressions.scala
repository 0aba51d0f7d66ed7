package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native product-quantization expressions.
  *
  * The declarative PQ chain binds the quantized vector through
  * single-element-array `transform` lambdas (the HOF no-CSE guard) and
  * expands numSub · numCentroids · subDim squared-difference terms per row
  * — 512 INTERPRETED boxed ops per 64-dim vector at the default (4, 8)
  * operating point, paid by Lloyd assignment (per training round), corpus
  * encoding, and the distortion audit. Each expression here runs the same
  * integer arithmetic as ONE tight codegen'd loop per row.
  *
  * Arithmetic contract (bit-identical to the composed form): distances
  * accumulate in INT exactly like the `(element_at - lit)²` column sums
  * (quantized lattice values are ≤ 127 in magnitude, so per-subspace sums
  * stay far below 2^31 — but the Int accumulation is kept anyway so even a
  * pathological overflow would wrap identically); code tiebreak is
  * first-minimum (`array_position(ds, array_min(ds))`).
  */
object PqExpressions {

  /** The nearest-centroid scan [[PqCodes]] and [[PqMinDists]] share: for
    * each subspace m, `emit(m, code, dist)` with the first-minimum code
    * over elements [m·subDim, (m+1)·subDim) and its INT distance. Fails,
    * naming the expression, on a vector shorter than numSub·subDim or with
    * a null element in that prefix: either would otherwise read past the
    * array or read the null slot as 0.
    */
  private[functions] def nearest(arr: ArrayData, cb: Array[Array[Array[Int]]],
                                 name: String)(emit: (Int, Int, Int) => Unit): Unit = {
    val numSub = cb.length
    val subDim = cb(0)(0).length
    val need = numSub * subDim
    if (arr.numElements() < need)
      throw new IllegalArgumentException(s"$name: vector has ${arr.numElements()} " +
        s"elements, expected at least numSub·subDim = $need")
    var i = 0
    while (i < need) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(s"$name: null element at index $i")
      i += 1
    }
    var m = 0
    while (m < numSub) {
      val cents = cb(m)
      val off = m * subDim
      var best = Int.MaxValue
      var bestC = 0
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var d = 0
        var j = 0
        while (j < subDim) {
          val diff = arr.getInt(off + j) - cent(j)
          d += diff * diff
          j += 1
        }
        if (d < best) { best = d; bestC = c }
        c += 1
      }
      emit(m, bestC, best)
      m += 1
    }
  }
}

/** All `numSub` PQ codes of a quantized int vector under a frozen integer
  * codebook, as ONE native call: array<int> of 0-based nearest-centroid
  * codes, subspace m scanning elements [m·subDim, (m+1)·subDim).
  */
case class PqCodes(child: Expression, cb: Array[Array[Array[Int]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_codes expects array<int>, got ${t.sql}")
  }

  protected override def nullSafeEval(input: Any): Any =
    PqCodes.compute(input.asInstanceOf[ArrayData], cb)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("cb", cb, "int[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PqCodes.compute($c, $cbRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)

  override def prettyName: String = "pq_codes"
}

object PqCodes {
  def compute(arr: ArrayData, cb: Array[Array[Array[Int]]]): ArrayData = {
    val out = new Array[Int](cb.length)
    PqExpressions.nearest(arr, cb, "pq_codes")((m, code, _) => out(m) = code)
    new GenericArrayData(out)
  }
}

/** Per-subspace MINIMUM integer-L2 distance of a quantized int vector to
  * its codebook — the PQ distortion of each subspace — as ONE native call:
  * array<bigint> of length numSub (the composed form's
  * `array_min(array(dist_c.cast(long)...))` per subspace).
  */
case class PqMinDists(child: Expression, cb: Array[Array[Array[Int]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_min_dists expects array<int>, got ${t.sql}")
  }

  protected override def nullSafeEval(input: Any): Any =
    PqMinDists.compute(input.asInstanceOf[ArrayData], cb)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("cb", cb, "int[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PqMinDists.compute($c, $cbRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqMinDists =
    copy(child = newChild)

  override def prettyName: String = "pq_min_dists"
}

object PqMinDists {
  def compute(arr: ArrayData, cb: Array[Array[Array[Int]]]): ArrayData = {
    val out = new Array[Long](cb.length)
    PqExpressions.nearest(arr, cb, "pq_min_dists")((m, _, d) => out(m) = d.toLong)
    new GenericArrayData(out)
  }
}

/** Exact integer squared-L2 distance between two int arrays as one native
  * call — the brute-truth leg of the PQ recall audit. Bit-identical to the
  * composed `aggregate(zip_with(a, b, (x, y) => ((x-y)*(x-y)).cast(long)),
  * 0L, _ + _)`: per-element squares in INT (lattice values ≤ 127 keep them
  * exact), accumulated left-to-right in LONG; mismatched lengths return
  * NULL (zip_with pads the shorter side with null, which nulls the fold).
  * Deliberately a SEPARATE code path from the ADC kernel it audits.
  */
case class SqDistL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sq_dist_l2 expects two array<int>, got ${l.sql}, ${r.sql}")
    }

  protected override def nullSafeEval(a: Any, b: Any): Any =
    SqDistL2.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""java.lang.Long r = graft.functions.SqDistL2.compute($a, $b);
         |if (r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = r.longValue(); }""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistL2 =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sq_dist_l2"
}

object SqDistL2 {
  def compute(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      val diff = a.getInt(i) - b.getInt(i)
      acc += (diff * diff).toLong
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }
}
