package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: sequential dot product of two double
  * arrays, with whole-stage codegen — the hot inner loop of the ANN
  * index families (hyperplane LSH signature bits, PQ/IVF-PQ lookup
  * tables, unit-norm computation).
  *
  * Replaces the HOF spelling `aggregate(zip_with(a, b, (x, y) => x * y),
  * 0.0, (acc, v) => acc + v)` (optimization round 16, guide §4): every
  * higher-order function is CodegenFallback, so the old spelling paid an
  * interpreted fold with per-element lambda-variable binding — measured
  * dominant in the LSH build (bands·bitsPerBand = 192 folds of dim 64
  * per corpus row). This loop accumulates IN THE SAME ORDER as the HOF
  * fold (acc = (acc + a_i·b_i), i ascending, acc₀ = 0.0), so results are
  * bit-identical doubles and every golden oracle is unchanged.
  *
  * Same extension-policy rationale and structure as [[CosineSimilarity]].
  */
object DotProduct {
  /** Column-level entry point; the session must have gone through
    * GraftExtensions.ensureRegistered. */
  def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("graft_dot", a, b)
}

case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // No ExpectsInputTypes: AbstractDataType is private[sql] in Spark 4, so
  // callers cast to array<double> explicitly (every call site does) and
  // checkInputDataTypes below enforces it at analysis time.
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  // NULL, never a partial or plausible sum, when the input is outside the
  // contract: arrays of different lengths (the HOF spelling this replaced,
  // aggregate over zip_with, padded the shorter array with nulls and so
  // returned a null sum too), or a null element in either array (a
  // primitive read of a null slot returns undefined content, typically
  // 0.0). Null-free equal-length inputs accumulate exactly as before.
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    def ok(t: DataType): Boolean = t match {
      case org.apache.spark.sql.types.ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i); i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) {
              ${ev.isNull} = true;
              break;
            }
            $acc += $a.getDouble($i) * $b.getDouble($i);
          }
          ${ev.value} = $acc;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}
