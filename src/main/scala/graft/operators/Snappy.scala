package graft.operators

import graft.codec.{Bytes, Cursor, Leb128, Malformed}

/** Dependency-free Snappy RAW-block decompressor — Parquet's default
  * page codec (what `spark.write.parquet` produces out of the box),
  * from the public format description (`snappy/format_description.txt`):
  *
  *  - preamble: varint (ULEB128) uncompressed length;
  *  - elements: tag byte, low 2 bits select the kind —
  *    `00` literal (6-bit length, 60–63 escape to 1–4 extra LE
  *    length bytes), `01` copy with 3-bit length 4–11 and 11-bit
  *    offset (3 tag bits ++ one byte), `10` copy with 6-bit length
  *    and 2-byte LE offset, `11` copy with 4-byte LE offset;
  *  - copies may SELF-OVERLAP (offset < length — the RLE trick), so
  *    the copy loop is byte-at-a-time; offset 0 or reaching before
  *    the output start is malformed;
  *  - the decoded stream must land EXACTLY on the declared length
  *    (an `expect` cap rejects both overrun and shortfall — the
  *    zip-bomb stance: output is bounded by the caller's declared
  *    size before a byte is decoded).
  *
  * Verified differentially against snappy-java (the reference
  * implementation Spark itself links) — the Jpeg-vs-JDK stance.
  *
  * Throws `graft.codec.Malformed` on any structural violation; callers
  * behind the codec seam catch it into their `valid=false` rows. */
object Snappy {

  private def fail(): Nothing = throw Malformed

  /** Decompress `b[off, off+len)`; `expect >= 0` additionally demands
    * the declared uncompressed length equals it (Parquet pages carry
    * the expected size in their header). */
  def decompress(b: Array[Byte], off: Int, len: Int,
                 expect: Int = -1): Array[Byte] = {
    if (b == null || off < 0 || len < 0 || off + len > b.length) fail()
    val c = new Cursor(b, off, off + len)
    val outLen = c.uleb(5) // 32-bit length ⇒ ≤5 varint bytes
    if (outLen > Int.MaxValue - 8) fail()
    if (expect >= 0 && outLen != expect) fail()
    val out = new Array[Byte](outLen.toInt)
    var w = 0
    while (c.pos < c.end) {
      val t = c.u8()
      (t & 3) match {
        case 0 => // literal
          var l = (t >>> 2) + 1
          // escaped length: the 3/4-byte LE read can wrap negative or
          // to -1; l <= 0 (incl. the format-forbidden zero-length
          // literal) is structurally invalid — strict-reject
          if (l > 60) l = Bytes.le(b, c.take(l - 60), l - 60).toInt + 1
          if (l <= 0 || l > out.length - w) fail()
          System.arraycopy(b, c.take(l), out, w, l)
          w += l
        case kind =>
          var l = 0; var o = 0
          if (kind == 1) {
            l = ((t >>> 2) & 7) + 4
            o = ((t >>> 5) << 8) | c.u8()
          } else if (kind == 2) {
            l = (t >>> 2) + 1; o = c.le16()
          } else {
            l = (t >>> 2) + 1; o = c.le32()
          }
          if (o <= 0 || o > w || l > out.length - w) fail()
          var i = 0
          while (i < l) { out(w) = out(w - o); w += 1; i += 1 }
      }
    }
    if (w != out.length) fail()
    out
  }

  // =================================================================
  // RAW-block COMPRESSOR (r12 — the writer-side inverse, what the
  // Avro OCF writer's `snappy` codec runs on): greedy 4-byte hash
  // matching inside 64 KiB fragments, emitting 2-byte-offset copies
  // (kind 10, length 1–64) — and the 1-byte-offset form (kind 01)
  // when the match qualifies — with pending bytes flushed as
  // literals. Every emitted element is from the same public format
  // description the decompressor decodes; the spec gates the round
  // trip through BOTH our decompressor and snappy-java's (the
  // reference implementation Spark links).
  // =================================================================

  private val HashBits = 14

  /** Compress `src` into one raw snappy block (preamble + elements).
    * Deterministic; output is valid for ANY conforming decompressor,
    * compression ratio is input-dependent (worst case ~len + len/60
    * overhead for incompressible data). */
  def compress(src: Array[Byte]): Array[Byte] = {
    require(src != null, "null input")
    val out = new java.io.ByteArrayOutputStream(src.length / 2 + 32)
    Leb128.write(out, src.length.toLong)
    def emitLiteral(from: Int, len: Int): Unit = {
      if (len == 0) return
      val n = len - 1
      if (n < 60) out.write(n << 2)
      else if (n < 256) { out.write(60 << 2); out.write(n) }
      else { // fragments cap length at 65536: 2 LE bytes suffice
        out.write(61 << 2); Bytes.putLe16(out, n)
      }
      out.write(src, from, len)
    }
    def emitCopy(offset: Int, len0: Int): Unit = {
      var len = len0
      while (len > 64) { // long matches split into kind-10 maxima
        out.write((63 << 2) | 2); Bytes.putLe16(out, offset)
        len -= 64
      }
      if (len >= 4 && len <= 11 && offset < 2048) { // kind 01
        out.write(((offset >> 8) << 5) | ((len - 4) << 2) | 1)
        out.write(offset & 0xff)
      } else { // kind 10
        out.write(((len - 1) << 2) | 2); Bytes.putLe16(out, offset)
      }
    }
    def hash(x: Int): Int = (x * 0x1e35a7bd) >>> (32 - HashBits)
    val table = new Array[Int](1 << HashBits)
    var blockStart = 0
    while (blockStart < src.length) {
      val blockEnd = math.min(blockStart + 65536, src.length)
      java.util.Arrays.fill(table, -1)
      var ip = blockStart
      var lit = blockStart
      while (ip + 4 <= blockEnd) {
        val h = hash(Bytes.le32(src, ip))
        val cand = table(h)
        table(h) = ip
        if (cand >= blockStart && Bytes.le32(src, cand) == Bytes.le32(src, ip)) {
          var mlen = 4
          while (ip + mlen < blockEnd &&
              src(cand + mlen) == src(ip + mlen)) mlen += 1
          emitLiteral(lit, ip - lit)
          emitCopy(ip - cand, mlen)
          ip += mlen
          lit = ip
        } else ip += 1
      }
      emitLiteral(lit, blockEnd - lit)
      blockStart = blockEnd
    }
    out.toByteArray
  }
}
