package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, LongType}

/** Native aggregate `graft_simhash(v BIGINT) -> BIGINT`: the 48-bit SimHash
  * of a group of 48-bit token hashes, in one aggregate function instead of
  * 48 `sum` columns and a 48-term `CASE` sum.
  *
  * The buffer is 48 running votes. Each non-NULL `v` adds
  * `2 * ((v >> s_b) % 2) - 1` to vote b, with
  * `s_b = 4 * (11 - b / 4) + b % 4`: the hash is the first 12 md5 hex chars
  * read as one integer, so hex char `b / 4 + 1` is nibble `11 - b / 4` and
  * vote b reads bit `b % 4` of it. `eval` sets bit b where vote b is > 0,
  * so a tied vote gives 0. NULL inputs are skipped, as `sum` skips them,
  * and a group of only NULLs gives 0. The result equals the per-bit `sum`
  * spelling for every BIGINT input, and DuckDB's row-per-bit SQL
  * (`SimhashSql.duck`) remains the spec.
  *
  * Partial buffers travel between the partial and final aggregation as 48
  * big-endian longs.
  */
case class SimHash(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_simhash"

  // No ExpectsInputTypes (AbstractDataType is private[sql] in Spark 4):
  // the input must already be BIGINT, and anything else is an analysis
  // error rather than a silently cast hash.
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_simhash expects a BIGINT argument, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](SimHash.Bits)

  override def update(votes: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      var b = 0
      while (b < SimHash.Bits) {
        votes(b) += 2 * ((x >> SimHash.Shifts(b)) % 2) - 1
        b += 1
      }
    }
    votes
  }

  override def merge(votes: Array[Long], other: Array[Long]): Array[Long] = {
    var b = 0
    while (b < SimHash.Bits) { votes(b) += other(b); b += 1 }
    votes
  }

  override def eval(votes: Array[Long]): Any = {
    var h = 0L
    var b = 0
    while (b < SimHash.Bits) {
      if (votes(b) > 0) h |= 1L << b
      b += 1
    }
    h
  }

  override def serialize(votes: Array[Long]): Array[Byte] = {
    val buf = ByteBuffer.allocate(8 * SimHash.Bits)
    votes.foreach(buf.putLong)
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = ByteBuffer.wrap(bytes)
    Array.fill(SimHash.Bits)(buf.getLong)
  }

  override def withNewMutableAggBufferOffset(offset: Int): SimHash =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SimHash =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): SimHash =
    copy(child = newChild)
}

object SimHash {
  private val Bits = 48

  /** Vote `b` reads bit `Shifts(b)` of the token hash. */
  private val Shifts: Array[Int] = Array.tabulate(Bits)(b => 4 * (11 - b / 4) + b % 4)
}
