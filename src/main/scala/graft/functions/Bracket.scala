package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: the index of the interval of an ascending
  * `axis` (n ≥ 2 nodes, `array<double>`) that brackets `pos`,
  * `clamp(#{nodes ≤ pos} − 1, 0, n − 2)`. Interval i spans
  * [axis(i), axis(i+1)); the clamp extends the first interval to −∞ and
  * the last to +∞, so a position beyond the hull gets the nearest
  * interval and linear extrapolation from it. A binary search, one
  * static call from generated code.
  *
  * Null semantics: a null axis or position → null. The caller guarantees
  * n ≥ 2 and non-null, ascending nodes.
  */
case class Bracket(axis: Expression, pos: Expression) extends BinaryExpression {

  override def left: Expression = axis
  override def right: Expression = pos
  override def checkInputDataTypes(): TypeCheckResult = (axis.dataType, pos.dataType) match {
    case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
    case (a, p) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, double), got (${a.catalogString}, ${p.catalogString})")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "bracket"

  override def nullSafeEval(a: Any, p: Any): Any =
    Bracket.search(a.asInstanceOf[ArrayData], p.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, p) => s"graft.functions.Bracket.search($a, $p)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Bracket =
    copy(axis = newLeft, pos = newRight)
}

object Bracket {

  /** Column-API entry: `bracket(axis, pos)`. */
  def bracket(axis: Column, pos: Column): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(Bracket(expression(axis), expression(pos)))
  }

  /** Static kernel shared by interpreted eval and generated code. */
  def search(axis: ArrayData, pos: Double): Int = {
    val n = axis.numElements()
    var lo = 0 // ends as #{nodes ≤ pos}
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (axis.getDouble(mid) <= pos) lo = mid + 1 else hi = mid
    }
    math.min(math.max(lo - 1, 0), n - 2)
  }
}
