package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType}

/** Single-pass cosine similarity over two embedding columns — float32
  * vectors or int8 quantization codes — the bench-driven phase-2 path of
  * SURVEY.md §4.3.
  *
  * Semantically identical (bit-for-bit) to the declared HOF lowering
  * (`aggregate(zip_with(a,b,*))/(sqrt(aggregate(transform(a,sq)))*…)`):
  * each accumulator (dot, |a|², |b|²) is its own left-to-right fold in
  * double precision, so per-accumulator addition order matches the HOF
  * form exactly; length mismatch and null elements yield NULL exactly as
  * null-poisoned HOF folds do; a 0/0 on zero-norm inputs is NaN in both
  * forms (a nonzero/0 cannot occur — zero norms force a zero dot). What
  * changes is the execution shape: one fused loop with three scalar
  * accumulators in generated Java instead of three HOF passes each
  * allocating an intermediate array — no per-element lambda dispatch, no
  * allocation, whole-stage codegen friendly. The int8 arm exists because
  * the COARSE rank of the quantized search paths scores every candidate
  * pair — the round-10 ANN fixed-cost breakdown (SURVEY §6) measured the
  * coarse-cut stage at
  * 4.4× (1.06 s → 0.24 s of rank work) and the whole fused IVF probe at
  * 2.3s → 1.36s once the codes stopped paying the three-pass HOF. */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(ByteType, _), ArrayType(ByteType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> or two array<tinyint> " +
          s"inputs, got ${l.catalogString}, ${r.catalogString}")
    }

  private lazy val isByte: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == ByteType

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = if (isByte) x.getByte(i).toDouble else x.getFloat(i).toDouble
      val yi = if (isByte) y.getByte(i).toDouble else y.getFloat(i).toDouble
      ab += xi * yi; aa += xi * xi; bb += yi * yi
      i += 1
    }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val get = if (isByte) "getByte" else "getFloat"
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val ab = ctx.freshName("ab"); val aa = ctx.freshName("aa")
      val bb = ctx.freshName("bb")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $ab = 0.0, $aa = 0.0, $bb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $xi = (double) $x.$get($i);
         |    final double $yi = (double) $y.$get($i);
         |    $ab += $xi * $yi; $aa += $xi * $xi; $bb += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $ab / (java.lang.Math.sqrt($aa) * java.lang.Math.sqrt($bb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

/** Dot product of two float32 arrays in double precision — same fold order
  * and null semantics as the HOF `aggregate(zip_with(a,b,*),0.0,+)`. */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float> inputs, got ${l.catalogString}, ${r.catalogString}")
    }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var ab = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      ab += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    ab
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val ab = ctx.freshName("ab")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $ab = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $ab += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $ab; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_f32"
}

/** Dot product over the COMMON PREFIX of two float arrays — the native
  * form of the bounded hyperplane-projection fold
  * (`aggregate(sequence(1, least(dims, size(vec))), 0.0, acc + v·w)`):
  * walks `min(|a|, |b|)` elements left-to-right in double precision
  * (bit-identical accumulation to the HOF spelling), returns 0.0 when
  * either array is empty (the HOF's `when(bound < 1, 0.0)` guard) and
  * NULL when a consumed element is null. Exists because the interpreted
  * HOF fold was the measured cost of LSH bucket keys
  * (round-13 embed-near-dup cost decomposition, SURVEY §6): one fused
  * codegen loop per (vector, plane)
  * instead of per-element Catalyst eval + a materialized sequence
  * array. */
case class DotPrefix(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float> inputs, got ${l.catalogString}, ${r.catalogString}")
    }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var ab = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      ab += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    ab
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val ab = ctx.freshName("ab")
      s"""
         |final int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $ab = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $ab += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |}
         |if (!${ev.isNull}) { ${ev.value} = $ab; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotPrefix =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_prefix"
}
