package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.codec.Bytes

/** Native Catalyst expression: token n-gram shingle hashes
  * (`array<string>` → `array<bigint>`) — the portable-hash pipeline
  * `transform(shingles(toks, n), s => hash60(s) % mod)` fused into one
  * pass.
  *
  * Exact parity with the column formulation it replaces (kept as
  * `TextFns.shingleHashesFold`, the spec witness) and with the DuckDB
  * oracle SQL:
  *  - shingle text = the n tokens joined by a single space, with NULL
  *    tokens SKIPPED (that is `concat_ws` semantics — no separator for
  *    skipped elements);
  *  - hash = the value of the first 15 hex digits of the md5 of the
  *    shingle's UTF-8 bytes (== `conv(substring(md5(s),1,15),16,10)`,
  *    computed here from the digest bytes directly: 7 full bytes + the
  *    high nibble of the 8th — no hex-string round trip), then `% mod`;
  *  - fewer than n tokens, or a NULL token array, yields an EMPTY array
  *    (the `when(size(toks) >= n, …).otherwise(array())` shape sends a
  *    null size() condition to the otherwise branch).
  *
  * Why native: the HOF formulation walks an interpreted lambda tree per
  * shingle (`ArrayTransform` is CodegenFallback) and materializes a
  * 32-char hex string + base-conversion string per hash. This is the
  * innermost kernel of MinHash-LSH dedup (q25), inverted-index Jaccard
  * (q27) and winnowing fingerprints (q32). Codegen stays a single
  * static call per row, so the enclosing stage keeps whole-stage
  * codegen.
  */
case class ShingleHashes(child: Expression, n: Int, mod: Long)
    extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "shingle_hashes"

  override def eval(input: InternalRow): Any =
    ShingleHashes.compute(child.eval(input).asInstanceOf[ArrayData], n, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.ShingleHashes.compute(
            ${c.isNull} ? null : ${c.value}, $n, ${mod}L);
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {

  private val empty = new GenericArrayData(Array.empty[Any])

  // One digest per executor thread: getInstance("MD5") is a JCA provider
  // lookup + allocation, too heavy for a once-per-row kernel.
  private val digest = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  /** Static kernel shared by interpreted eval and generated code. */
  def compute(tokens: ArrayData, n: Int, mod: Long): ArrayData = {
    if (tokens == null) return empty
    val len = tokens.numElements()
    if (len < n) return empty
    val md = digest.get()
    val out = new Array[Long](len - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= len - n) {
      sb.setLength(0)
      var first = true
      var k = 0
      while (k < n) {
        if (!tokens.isNullAt(i + k)) {
          if (!first) sb.append(' ')
          sb.append(tokens.getUTF8String(i + k).toString)
          first = false
        }
        k += 1
      }
      md.reset()
      val d = md.digest(sb.toString.getBytes(StandardCharsets.UTF_8))
      // first 15 hex digits = the top 60 bits of the big-endian first 8 bytes
      val h = Bytes.be64(d, 0) >>> 4
      out(i) = if (mod > 0) h % mod else h
      i += 1
    }
    // primitive-array path: no per-element boxing
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}
