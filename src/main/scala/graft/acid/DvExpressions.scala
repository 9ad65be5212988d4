package graft.acid

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ExpressionColumn
import org.apache.spark.sql.types.{BinaryType, LongType}

/** Row-ordinal membership test against a positional deletion vector:
  * `left` is the serialized [[GraftBitmap]] (a foldable binary
  * literal — one bitmap per masked file), `right` the row ordinal
  * (`_metadata.row_index`). The bitmap deserializes ONCE per task and
  * codegen emits a direct `contains` call, so the per-row cost is a
  * binary search over container keys + a bit test — O(bitmap words)
  * shipped, never O(deleted ids) (the point of the positional
  * representation at 100 TB).
  *
  * Reference: db-core's `is_deleted` entry flag
  * (block.rs:464-474) externalized per file. */
case class PositionMasked(left: Expression, right: Expression)
    extends BinaryExpression with Predicate {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == BinaryType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (BINARY, BIGINT), " +
      s"got (${left.dataType}, ${right.dataType})")
  }

  @transient private lazy val bm: GraftBitmap =
    GraftBitmap.deserialize(left.eval(null).asInstanceOf[Array[Byte]])

  override def nullSafeEval(l: Any, r: Any): Any =
    bm.contains(r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val ref = ctx.addReferenceObj("graftDvBitmap", bm,
      classOf[GraftBitmap].getName)
    nullSafeCodeGen(ctx, ev, (_, r) => s"${ev.value} = $ref.contains($r);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PositionMasked =
    copy(left = newLeft, right = newRight)
}

object DvExpressions {
  /** Column predicate: is `ordinal` a member of `bitmap`? */
  def posMasked(bitmap: GraftBitmap, ordinal: Column): Column =
    ExpressionColumn(PositionMasked(Literal(bitmap.serialize()),
      ExpressionColumn.expression(ordinal)))
}
