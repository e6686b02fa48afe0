package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

import graft.codec.Bytes

/** Native Catalyst expression: per-window energies of a binary payload
  * interpreted as little-endian signed int16 PCM —
  * `energies[w] = Σ_{i<win} s(w·win+i)²` over full windows (partial
  * tails dropped). The L87 kernel.
  *
  * Why an `Expression`: the portable formulation decodes through
  * `hex()` + a higher-order `aggregate` fold — `transform`/`aggregate`
  * are CodegenFallback, so every window walks a lambda tree per sample
  * over a hex STRING twice the payload size (q126 at sf1: ~6 s). This
  * expression reads the bytes directly in one codegen'd loop. Values
  * are identical: the same signed int16 decode and the same integer
  * sum (order-free), so oracle hashes cannot move.
  */
case class PcmEnergies(child: Expression, win: Int)
    extends UnaryExpression {

  require(win > 0, "pcm_energies window must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pcm_energies"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val nWin = bytes.length / (2 * win)
    val out = new Array[Any](nWin)
    var w = 0
    while (w < nWin) {
      var acc = 0L
      var i = 0
      while (i < win) {
        val o = (w * win + i) * 2
        val s = Bytes.le16(bytes, o).toShort.toLong
        acc += s * s
        i += 1
      }
      out(w) = acc
      w += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, bytes => {
      val nWin = ctx.freshName("nWin")
      val out = ctx.freshName("out")
      val w = ctx.freshName("w")
      val i = ctx.freshName("i")
      val o = ctx.freshName("o")
      val s = ctx.freshName("s")
      val acc = ctx.freshName("acc")
      s"""
        int $nWin = $bytes.length / ${2 * win};
        long[] $out = new long[$nWin];
        for (int $w = 0; $w < $nWin; $w++) {
          long $acc = 0L;
          for (int $i = 0; $i < $win; $i++) {
            int $o = ($w * $win + $i) * 2;
            long $s = (short) graft.codec.Bytes.le16($bytes, $o);
            $acc += $s * $s;
          }
          $out[$w] = $acc;
        }
        ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): PcmEnergies =
    copy(child = newChild)
}

object PcmEnergies {
  /** Column API: `pcmEnergies(payload, win)` → array<long>. */
  def pcmEnergies(payload: Column, win: Int): Column =
    Bridge.column(PcmEnergies(Bridge.expression(payload), win))
}
