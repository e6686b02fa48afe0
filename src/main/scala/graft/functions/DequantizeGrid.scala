package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: per-row scalar quantize-dequantize of an
  * embedding against a LITERAL per-dimension (min, max) grid
  * (`array<float|double>` → `array<double>`).
  *
  * Element i maps to `mn + floor((x−mn)·levels/(mx−mn)) · (mx−mn)/levels`
  * (exactly the q64/q66 oracle arithmetic, same operation order), i.e.
  * the value the stored int8 code dequantizes back to. With this kernel
  * the quantized corpus comes straight off the scan — the
  * explode → stats-join → groupBy-repack formulation it replaces put
  * every corpus vector through a (vec_id)-keyed shuffle just to
  * reassemble arrays. The dim stats are a codebook-sized driver
  * artifact, collected once like NearestCells' centroid table.
  *
  * Null semantics: null input → null; any null element → null; a length
  * mismatch against the grid → null.
  */
case class DequantizeGrid(child: Expression, mins: Array[Double],
                          maxs: Array[Double], levels: Double)
    extends UnaryExpression {
  require(mins.length == maxs.length, "one (min, max) pair per dimension")
  require(levels > 0, s"levels must be positive, got $levels")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>/array<double>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "dequantize_grid"

  private def elemIsDouble: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override def nullSafeEval(input: Any): Any =
    DequantizeGrid.compute(input.asInstanceOf[ArrayData],
      mins, maxs, levels, elemIsDouble)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val mn = ctx.addReferenceObj("mins", mins, "double[]")
      val mx = ctx.addReferenceObj("maxs", maxs, "double[]")
      val tmp = ctx.freshName("tmp")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $tmp =
         |  graft.functions.DequantizeGrid.compute($a, $mn, $mx, $levels, $elemIsDouble);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DequantizeGrid {

  /** Static kernel shared by interpreted eval and generated code; null
    * for a null/misshapen/null-element input. */
  def compute(arr: ArrayData, mins: Array[Double], maxs: Array[Double],
              levels: Double, isDouble: Boolean): ArrayData = {
    if (arr == null) return null
    val dim = mins.length
    if (arr.numElements() != dim) return null
    val out = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (arr.isNullAt(i)) return null
      val xd = if (isDouble) arr.getDouble(i) else arr.getFloat(i).toDouble
      val mn = mins(i); val mx = maxs(i)
      // exactly the oracle's operation order:
      // mn + floor((xd - mn) * levels / (mx - mn)) * (mx - mn) / levels
      out(i) =
        if (mx == mn) mn
        else mn + math.floor((xd - mn) * levels / (mx - mn)) * (mx - mn) / levels
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}
