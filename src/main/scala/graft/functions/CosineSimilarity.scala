package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: single-pass cosine similarity over two
  * double arrays, with whole-stage codegen — the hot inner loop of the
  * similarity-search operators (Q32, IVF ANN, embedding near-dup).
  *
  * Chosen over a Scala UDF per the engine's extension policy (SURVEY.md
  * §4B / builder brief): a UDF boxes both arrays per row and breaks the
  * codegen span; this expression reads ArrayData primitives in place and
  * inlines into the surrounding WholeStageCodegen stage.
  *
  * Arithmetic is one sequential pass (dot, |a|², |b|² accumulated in
  * order, then dot/(√na·√nb)) — bit-identical to the HOF fold spelling it
  * replaces, so DuckDB oracle parity is unchanged.
  */
object CosineSimilarity {
  /** Column-level entry point shared by every similarity operator; the
    * session must have gone through GraftExtensions.ensureRegistered. */
  def cosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("graft_cosine", a, b)
}

case class CosineSimilarity(left: Expression, right: Expression)
    extends DoubleArrayInputs {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  // NULL, never a plausible similarity, when the input is outside the
  // contract: arrays of different lengths, or a null element in either
  // array (a primitive read of a null slot returns undefined content,
  // typically 0.0). Same rule as graft_dot. Null-free equal-length inputs
  // accumulate exactly as before.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $dot = 0.0, $na = 0.0, $nb = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) {
              ${ev.isNull} = true;
              break;
            }
            double $xi = $a.getDouble($i);
            double $yi = $b.getDouble($i);
            $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
          }
          ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
