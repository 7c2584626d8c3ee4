package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native circular cross-correlation of a profile against a template over
  * every integer lag → array<double> of n = size(template) lags:
  * `ccf[k] = Σ_j profile[(j+k) mod n] · template[j]`.
  *
  * This replaces the `transform(sequence) ∘ aggregate(sequence)` lag scan
  * of `Toa.crossCorrelate`, whose lambdas Spark runs interpreted — one
  * lambda dispatch and two `element_at`s per multiply-add, n² of them per
  * row. Here the scan is one primitive double loop over copies of the two
  * arrays, shared by the interpreted and codegen paths ([[CcfMath]]), in
  * the same order as that fold: per lag, `acc = 0.0`, then
  * `acc = acc + p · t` for j ascending. Results are therefore
  * bit-identical to it, which is what the q127/q133 DuckDB oracles rely on.
  *
  * Edge semantics (those of the fold under ANSI mode): a null template
  * yields null; a null profile, or a null among the template or the first
  * n profile bins, yields n null lags; a profile longer than the template
  * uses its first n bins; a shorter profile or an empty template throws;
  * a NaN anywhere yields n NaN lags.
  */
case class CrossCorrelate(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = right.nullable
  override def prettyName: String = "cross_correlate"

  // Not nullSafeEval: a null profile is n null lags, not a null array.
  override def eval(input: InternalRow): Any = {
    val t = right.eval(input)
    if (t == null) null
    else CcfMath.ccf(left.eval(input).asInstanceOf[ArrayData], t.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = left.genCode(ctx)
    val t = right.genCode(ctx)
    ev.copy(code = code"""
      |${t.code}
      |boolean ${ev.isNull} = ${t.isNull};
      |${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${p.code}
      |  ${ev.value} = graft.expressions.CcfMath$$.MODULE$$.ccf(
      |    ${p.isNull} ? null : ${p.value}, ${t.value});
      |}
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CrossCorrelate =
    copy(left = newLeft, right = newRight)
}

object CcfMath {

  /** All-lag CCF of `profile` (may be null) against non-null `template`. */
  def ccf(profile: ArrayData, template: ArrayData): ArrayData = {
    val n = template.numElements()
    if (n == 0) throw new IllegalArgumentException("cross_correlate: empty template")
    if (profile != null && profile.numElements() < n) throw new IllegalArgumentException(
      s"cross_correlate: profile has ${profile.numElements()} bins, template $n")
    if (profile == null || anyNull(profile, n) || anyNull(template, n)) {
      return new GenericArrayData(new Array[Any](n))
    }
    val p = profile.toDoubleArray()
    val t = template.toDoubleArray()
    val out = new Array[Double](n)
    var k = 0
    while (k < n) {
      // j + k wraps once, at j = n - k: two straight runs, no modulo
      var acc = 0.0
      var j = 0
      while (j < n - k) { acc = acc + p(j + k) * t(j); j += 1 }
      while (j < n) { acc = acc + p(j + k - n) * t(j); j += 1 }
      out(k) = acc
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  private def anyNull(a: ArrayData, n: Int): Boolean = {
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return true
      i += 1
    }
    false
  }
}
