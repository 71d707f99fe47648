package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** A long constant that generated code reads from the plan's reference array
  * instead of inlining it. A `Literal` is spliced into the generated Java
  * source, so every new value compiles new classes; with this leaf the source
  * is the same for every value, and Spark's codegen cache serves the classes
  * compiled for the previous one.
  *
  * Not foldable (folding would turn it back into a `Literal`), so the
  * optimizer treats it like a column: meant for a per-call id stamped onto
  * a small frame, e.g. a micro-batch's batch id.
  */
case class LongParam(value: Long) extends LeafExpression {

  override def dataType: DataType = LongType

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", value, "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}

object LongParam {
  def column(value: Long): Column = GraftSqlBridge.column(LongParam(value))
}
