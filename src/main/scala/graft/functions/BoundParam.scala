package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** A query parameter bound at plan time but NOT folded into generated
  * code: a `Literal` is foldable and codegen inlines its value
  * (`vec_id = 1000000000L`, `* 7.772…D`), so two serves that differ only
  * in the query id or query norm compile two classes. `BoundParam` is
  * non-foldable and reads its value through the codegen references array
  * (the [[AdcTableSum]] pattern), so plans that differ only in the value
  * generate identical source and share one compiled class from
  * Spark's code cache.
  *
  * `value` is in Catalyst's internal representation (`Long` for
  * `LongType`, `Double` for `DoubleType`, `UTF8String` for strings);
  * `null` is a typed NULL. The price of not folding: a predicate on a
  * bound value is not pushed into the Parquet reader, so an equality on a
  * bound id skips no row groups by their statistics.
  */
case class BoundParam(value: Any, dataType: DataType) extends LeafExpression {

  override def nullable: Boolean = value == null

  override def eval(input: InternalRow): Any = value

  override def toString: String = s"boundparam($value)"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null) ExprCode.forNullValue(dataType)
    else {
      val javaType = CodeGenerator.javaType(dataType)
      val ref = ctx.addReferenceObj("param", value,
        CodeGenerator.boxedType(dataType))
      val read =
        if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()"
        else ref
      ev.copy(code = code"$javaType ${ev.value} = $read;",
        isNull = FalseLiteral)
    }
}

object BoundParam {

  /** A bound `bigint` parameter (an id, a count). */
  def bind(v: Long): Column = ColumnBridge.column(BoundParam(v, LongType))

  /** A bound `double` parameter (a norm, a threshold). */
  def bind(v: Double): Column = ColumnBridge.column(BoundParam(v, DoubleType))
}
