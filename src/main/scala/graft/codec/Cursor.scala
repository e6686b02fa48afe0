package graft.codec

/** A bounds-checked read position over `b[pos, end)`; reading past `end`
  * throws [[Malformed]]. Plain fields and primitive results, so a
  * varint read allocates nothing. */
final class Cursor(val b: Array[Byte], var pos: Int, val end: Int) {
  def this(b: Array[Byte], pos: Int) = this(b, pos, b.length)
  def u8(): Int = {
    if (pos >= end) throw Malformed
    val v = b(pos) & 0xff; pos += 1; v
  }
  /** Fixed-width reads, laid out and signed as in [[Bytes]]. */
  def le16(): Int = Bytes.le16(b, take(2))
  def be16(): Int = Bytes.be16(b, take(2))
  def le32(): Int = Bytes.le32(b, take(4))
  def be32(): Int = Bytes.be32(b, take(4))
  def le64(): Long = Bytes.le64(b, take(8))
  def be64(): Long = Bytes.be64(b, take(8))
  /** Unsigned LEB128 of at most `maxBytes` bytes. */
  def uleb(maxBytes: Int): Long = {
    var v = 0L; var sh = 0; var n = 0
    while (n < maxBytes) {
      val x = u8(); v |= (x & 0x7fL) << sh
      if ((x & 0x80) == 0) return v
      sh += 7; n += 1
    }
    throw Malformed
  }
  /** A zigzag-encoded signed 64-bit LEB128 (at most 10 bytes). */
  def zigzag(): Long = { val v = uleb(10); (v >>> 1) ^ -(v & 1L) }
  /** Skips `n` bytes and returns the offset where they start. */
  def take(n: Long): Int = {
    if (n < 0 || n > end - pos) throw Malformed
    val s = pos; pos += n.toInt; s
  }
}

object Leb128 {
  /** Unsigned LEB128 of `v` (all 64 bits). */
  def write(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }
}
