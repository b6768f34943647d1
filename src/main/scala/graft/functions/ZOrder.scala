package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/**
 * Morton (Z-order) bit interleave of two long keys — the layout primitive
 * behind multi-dimensional data clustering (classic Morton-code bit
 * spreading; the same curve Delta Lake / Iceberg expose as OPTIMIZE ZORDER).
 *
 * Why it matters at 100 TB: a table sorted by ONE column skips files/row
 * groups only for predicates on that column; every file still spans the
 * full range of every OTHER column. Interleaving the bits of two (bucketed)
 * keys makes file boundaries approximate 2-D tiles, so min/max stats prune
 * on BOTH columns — the standard lakehouse answer to two-column point/range
 * lookups without duplicating the table.
 *
 * Input contract: both children are longs; only the low 32 bits of each
 * participate. NULL in either child yields NULL.
 */
case class InterleaveBits(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_interleave_bits"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires two long inputs")

  override protected def nullSafeEval(l: Any, r: Any): Any =
    ZOrder.interleave(l.asInstanceOf[Long], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.ZOrder.interleave($l, $r);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ZOrder {

  /** Spread the low 32 bits of x to the even bit positions of a long —
    * the textbook mask sequence (each step doubles the gap). */
  def spread(x0: Long): Long = {
    var x = x0 & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8))  & 0x00FF00FF00FF00FFL
    x = (x | (x << 4))  & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2))  & 0x3333333333333333L
    x = (x | (x << 1))  & 0x5555555555555555L
    x
  }

  /** Morton code: a's bits at even positions, b's at odd. */
  def interleave(a: Long, b: Long): Long =
    spread(a) | (spread(b) << 1)
}
