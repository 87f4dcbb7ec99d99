package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native expression `graft_minhash(hs ARRAY<BIGINT>, seed BIGINT) ->
  * ARRAY<BIGINT>`: the [[MinHash.NumHashes]]-value MinHash signature of one
  * document's shingle hashes, in one pass over the array.
  *
  * Value i is the minimum over the non-NULL hashes h of
  * `pmod(pmod(h, P) * a_i + b_i, P)` with P = 2^31 - 1 and (a_i, b_i) drawn
  * from the fixed-seed [[graft.core.Rng]] stream, so `seed` must be a
  * constant. Both operands of the product are below 2^31, so it stays
  * within a long and the arithmetic never overflows. An empty array, or
  * one of only NULLs, has no minimum and gives NULL.
  *
  * Replaces a per-document aggregate of NumHashes `min` columns over an
  * exploded token table: one row in, one row out, no shuffle. Interpreted
  * and generated code call the same [[MinHash.Kernel]] loop.
  */
case class MinHash(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(LongType, _) if right.dataType == LongType && right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash requires an array<bigint> and a constant bigint seed, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  @transient private lazy val kernel = new MinHash.Kernel(right.eval().asInstanceOf[Long])

  override def eval(input: InternalRow): Any = {
    val hs = left.eval(input)
    if (hs == null) null else kernel.sign(hs.asInstanceOf[ArrayData])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("minhash", kernel, classOf[MinHash.Kernel].getName)
    val hs = left.genCode(ctx)
    val arr = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${hs.code}
      $arr ${ev.value} = ${hs.isNull} ? null : $k.sign(${hs.value});
      boolean ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHash =
    copy(left = newLeft, right = newRight)
}

object MinHash {
  val NumHashes = 32

  /** The seed `graft_minhash(hs)` signs with when none is given. */
  val DefaultSeed = 42L

  /** Mersenne prime 2^31 - 1, the universal-hash modulus. */
  val Prime: Long = (1L << 31) - 1

  /** The signing loop for one seed's hash family. */
  final class Kernel(seed: Long) extends Serializable {
    private val (a, b) = {
      val rng = new graft.core.Rng(seed)
      Array.fill(NumHashes)((
        (rng.nextLong() & Long.MaxValue) % Prime | 1L,
        (rng.nextLong() & Long.MaxValue) % Prime)).unzip
    }

    /** The signature of `hs`, or null when it holds no non-NULL hash. */
    def sign(hs: ArrayData): ArrayData = {
      val mins = Array.fill(NumHashes)(Long.MaxValue)
      var seen = false
      var j = 0
      while (j < hs.numElements()) {
        if (!hs.isNullAt(j)) {
          seen = true
          val h = hs.getLong(j) % Prime
          val hp = if (h < 0) h + Prime else h
          var i = 0
          while (i < NumHashes) {
            val v = (hp * a(i) + b(i)) % Prime
            if (v < mins(i)) mins(i) = v
            i += 1
          }
        }
        j += 1
      }
      if (seen) UnsafeArrayData.fromPrimitiveArray(mins) else null
    }
  }
}
