package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** URL canonicalization kernel — the dedup key of a crawl FRONTIER.
  * A web-scale corpus sees the same page under many spellings
  * (`HTTP://WwW.X.Com:80/a/../b#frag` vs `http://www.x.com/b`); exact
  * dedup, politeness budgeting and URL-keyed joins all need one
  * canonical spelling per resource BEFORE hashing, or the crawl
  * re-fetches and the corpus double-counts. (The reference's analogue
  * is F5/F7 name munging — one canonical id per scene file.)
  *
  * Normalizations (RFC 3986 §6.2.2 syntax-based + the crawl
  * conventions search engines document):
  *  - scheme + host lowercased; subset: scheme must be http/https;
  *  - userinfo dropped; default port stripped (80/http, 443/https),
  *    a bare `:` or non-digit port → malformed; bracketed IPv6
  *    literals (`[::1]`, `[::1]:8080`) supported — the inner colons
  *    never split as a port, only `]:port` does;
  *  - percent-escapes: `%XX` with 2 hex digits required; decoded when
  *    the octet is UNRESERVED (ALPHA / DIGIT / `-._~`), otherwise kept
  *    with UPPERCASE hex (`%2f` → `%2F`);
  *  - path dot-segments resolved (RFC 3986 §5.2.4 remove_dot_segments);
  *    empty path → `/`;
  *  - query: params split on `&`, empties dropped, tracking params
  *    dropped (`utm_*`, `fbclid`, `gclid`, `msclkid`), names/values
  *    percent-normalized, then params sorted (code-unit order, stable)
  *    and rejoined — param ORDER never distinguishes two resources;
  *  - fragment dropped (client-side only).
  *
  * Malformed input (no `://`, empty host, bad port, dangling `%`, a
  * non-http(s) scheme) → NULL, the SQL signal for "no canonical form"
  * — dedup then treats those rows individually instead of colliding
  * them on a garbage key.
  *
  * 100 TB shape: one static call per row inside whole-stage codegen —
  * no UDF closure, no shuffle; the canonical string feeds the L1
  * digest exchange, the raw URL never leaves its partition. */
object UrlCanonHelper {

  private def isUnreserved(c: Int): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~'

  private def hex(c: Char): Int = Character.digit(c, 16)

  /** Percent-normalize one component: decode unreserved escapes,
    * uppercase retained escapes; null on a dangling/corrupt escape. */
  private def pctNorm(s: String): String = {
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%') {
        if (i + 2 >= s.length) return null
        val h1 = hex(s.charAt(i + 1)); val h2 = hex(s.charAt(i + 2))
        if (h1 < 0 || h2 < 0) return null
        val v = h1 * 16 + h2
        if (isUnreserved(v)) out.append(v.toChar)
        else out.append('%')
          .append(Character.toUpperCase(s.charAt(i + 1)))
          .append(Character.toUpperCase(s.charAt(i + 2)))
        i += 3
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** RFC 3986 §5.2.4 remove_dot_segments over a `/`-joined path. */
  private def removeDotSegments(path: String): String = {
    val out = new java.util.ArrayDeque[String]()
    var i = 0
    val n = path.length
    while (i < n) {
      // each iteration consumes one "/segment" (path always starts '/')
      val start = i + 1 // past the '/'
      var e = start
      while (e < n && path.charAt(e) != '/') e += 1
      val seg = path.substring(start, e)
      seg match {
        case "."  => ()
        case ".." => if (!out.isEmpty) out.removeLast()
        case s    => out.addLast(s)
      }
      i = e
      // a trailing "/." or "/.." leaves a trailing slash per the RFC:
      // model it as an empty final segment
      if (i == n && (seg == "." || seg == "..")) out.addLast("")
    }
    val sb = new java.lang.StringBuilder()
    val it = out.iterator()
    while (it.hasNext) sb.append('/').append(it.next())
    if (sb.length == 0) "/" else sb.toString
  }

  def canon(u: UTF8String): UTF8String = {
    if (u == null) return null
    val s = u.toString
    val sep = s.indexOf("://")
    if (sep <= 0) return null
    val scheme = s.substring(0, sep).toLowerCase(java.util.Locale.ROOT)
    if (scheme != "http" && scheme != "https") return null
    val i = sep + 3
    // authority ends at '/', '?' or '#'
    var ae = i
    while (ae < s.length && s.charAt(ae) != '/' && s.charAt(ae) != '?' &&
      s.charAt(ae) != '#') ae += 1
    var auth = s.substring(i, ae)
    val at = auth.lastIndexOf('@')
    if (at >= 0) auth = auth.substring(at + 1) // drop userinfo
    var host = auth; var port = ""
    // bracketed IPv6 literal (RFC 3986 §3.2.2): the colons inside
    // `[::1]` are NOT a port separator — the port, if any, follows the
    // closing bracket as `]:port` (ADVICE r9: a plain indexOf(':')
    // split silently rejected every IPv6 URL)
    val colon =
      if (auth.startsWith("[")) {
        val close = auth.indexOf(']')
        if (close < 2) return null // "[]" or unterminated bracket
        if (!auth.substring(1, close).forall(c =>
          (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
            (c >= 'A' && c <= 'F') || c == ':')) return null
        if (close + 1 == auth.length) -1 // no port part
        else if (auth.charAt(close + 1) == ':') close + 1
        else return null // junk after the bracket
      } else auth.indexOf(':')
    if (colon >= 0) {
      host = auth.substring(0, colon)
      port = auth.substring(colon + 1)
      if (port.isEmpty || !port.forall(_.isDigit) || port.length > 5)
        return null
      val p = port.toInt
      if (p == 0 || p > 65535) return null
      if ((scheme == "http" && p == 80) || (scheme == "https" && p == 443))
        port = ""
      else port = p.toString // strips leading zeros
    }
    if (host.isEmpty) return null
    host = host.toLowerCase(java.util.Locale.ROOT)
    // split path / query / fragment
    var rest = s.substring(ae)
    val frag = rest.indexOf('#')
    if (frag >= 0) rest = rest.substring(0, frag)
    val qm = rest.indexOf('?')
    val rawPath = if (qm >= 0) rest.substring(0, qm) else rest
    val rawQuery = if (qm >= 0) rest.substring(qm + 1) else null
    val path0 = pctNorm(if (rawPath.isEmpty) "/" else rawPath)
    if (path0 == null) return null
    val path = removeDotSegments(path0)
    var query: String = null
    if (rawQuery != null && rawQuery.nonEmpty) {
      val kept = new java.util.ArrayList[String]()
      var start = 0
      var j = 0
      while (j <= rawQuery.length) {
        if (j == rawQuery.length || rawQuery.charAt(j) == '&') {
          if (j > start) {
            val p = pctNorm(rawQuery.substring(start, j))
            if (p == null) return null
            val eq = p.indexOf('=')
            val name = if (eq < 0) p else p.substring(0, eq)
            val tracking = name.startsWith("utm_") || name == "fbclid" ||
              name == "gclid" || name == "msclkid"
            if (!tracking) kept.add(p)
          }
          start = j + 1
        }
        j += 1
      }
      if (!kept.isEmpty) {
        java.util.Collections.sort(kept) // code-unit order, stable
        query = String.join("&", kept)
      }
    }
    val out = new java.lang.StringBuilder(s.length)
    out.append(scheme).append("://").append(host)
    if (port.nonEmpty) out.append(':').append(port)
    out.append(path)
    if (query != null) out.append('?').append(query)
    UTF8String.fromString(out.toString)
  }
}

/** Native codegen expression: `url_canon(string) → string`, NULL on
  * malformed input (see [[UrlCanonHelper]]). */
case class UrlCanonicalize(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.catalogString}")
  }
  override def dataType: DataType = StringType
  override def nullable: Boolean = true // malformed → NULL
  override def prettyName: String = "url_canon"
  override protected def nullSafeEval(input: Any): Any =
    UrlCanonHelper.canon(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.UrlCanonHelper.canon($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildInternal(newChild: Expression)
      : UrlCanonicalize = copy(child = newChild)
}

object UrlFns {
  /** Canonical URL (native [[UrlCanonicalize]] kernel). */
  def urlCanon(c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      UrlCanonicalize(org.apache.spark.sql.graft.Bridge.expression(c)))
}
