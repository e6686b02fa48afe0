package graft.codec

import java.util.zip.{DataFormatException, Deflater, Inflater}

/** DEFLATE (RFC 1951), raw or zlib-wrapped (RFC 1950). Every inflate
  * requires the stream's end marker, reads only `[off, off+len)`, and
  * bounds its output before it allocates; anything else throws
  * [[Malformed]]. */
object Flate {

  /** DEFLATE's own ceiling: no stream inflates to more than 1032 bytes
    * per input byte. */
  private val MaxRatio = 1032L

  private def range(b: Array[Byte], off: Int, len: Int): Unit =
    if (off < 0 || len < 0 || off.toLong + len > b.length) throw Malformed

  /** Exact form: `[off, off+len)` holds one whole stream that inflates to
    * exactly `expect` bytes and ends at `off+len`. `expect` is checked
    * against DEFLATE's ceiling before the output is allocated. */
  def inflate(b: Array[Byte], off: Int, len: Int, expect: Long,
              raw: Boolean): Array[Byte] = {
    range(b, off, len)
    if (expect < 0 || expect > MaxRatio * len || expect > Int.MaxValue - 8)
      throw Malformed
    val out = new Array[Byte](expect.toInt)
    val inf = new Inflater(raw)
    try {
      inf.setInput(b, off, len)
      var w = 0
      while (!inf.finished()) {
        val n = inf.inflate(out, w, out.length - w)
        if (n == 0 && !inf.finished()) throw Malformed // truncated or too long
        w += n
      }
      if (w != out.length || inf.getRemaining != 0) throw Malformed
      out
    } catch {
      case _: DataFormatException => throw Malformed
    } finally inf.end()
  }

  /** Capped form, for a size nobody declared: one stream starts at `off`
    * and ends anywhere in `[off, off+len)`; its output may not pass
    * `cap` bytes. Returns the output and the input bytes it used. */
  def inflateCapped(b: Array[Byte], off: Int, len: Int, cap: Long,
                    raw: Boolean): (Array[Byte], Int) = {
    range(b, off, len)
    val limit = math.max(0L, math.min(cap,
      math.min(MaxRatio * len, Int.MaxValue - 8L))).toInt
    // `len` may run to the end of a multi-member archive, so the first
    // buffer is small and grows by doubling up to `limit`
    var out = new Array[Byte](math.min(limit, 8192))
    val inf = new Inflater(raw)
    try {
      inf.setInput(b, off, len)
      var w = 0
      while (!inf.finished()) {
        if (w == out.length && w < limit)
          out = java.util.Arrays.copyOf(out, math.min(limit, 2L * w).toInt)
        val n = inf.inflate(out, w, out.length - w)
        if (n == 0 && !inf.finished()) throw Malformed // truncated or over cap
        w += n
      }
      (if (w == out.length) out else java.util.Arrays.copyOf(out, w),
        len - inf.getRemaining)
    } catch {
      case _: DataFormatException => throw Malformed
    } finally inf.end()
  }

  /** One whole stream of `b` at `level`; the output depends only on the
    * input, the level and the framing. */
  def deflate(b: Array[Byte], level: Int, raw: Boolean): Array[Byte] = {
    val d = new Deflater(level, raw)
    try {
      d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }
}
