package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** A long constant that generated code reads from the plan's reference
  * array instead of inlining. Spark writes a `lit` straight into the
  * generated Java source, so every new value makes a new class to
  * compile; a value that changes per call (an epoch, a round) then
  * recompiles the whole stage each time. Through this leaf one compiled
  * class serves every value. Not foldable, so the optimizer cannot turn
  * it back into a literal; deterministic, so it still dedups and pushes
  * down like one.
  */
case class ParamLong(value: Long) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "param"
  override def sql: String = s"$prettyName(${value}L)"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", java.lang.Long.valueOf(value), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}

object ParamLong {
  /** Column-API entry: `param(value)`. */
  def param(value: Long): Column = {
    import org.apache.spark.sql.graft.Bridge.column
    column(ParamLong(value))
  }
}
