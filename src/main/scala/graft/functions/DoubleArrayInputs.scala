package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.BinaryExpression
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Analysis-time input check of the native array kernels (graft_dot,
  * graft_cosine): both arguments must be array<double>, nullable elements
  * or not. The codegen loops read elements with getDouble, so an
  * array<float> argument would be read as 8-byte doubles and return a
  * plausible wrong number; this turns that into an AnalysisException that
  * names both types. Spark 4 keeps AbstractDataType private[sql], so the
  * check is written out here rather than through ExpectsInputTypes, and
  * callers cast float embeddings to array<double>.
  */
trait DoubleArrayInputs extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
}
