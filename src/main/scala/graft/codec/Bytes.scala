package graft.codec

import java.io.ByteArrayOutputStream

/** How a 16-, 32- or 64-bit integer is laid out in bytes, little- (`le`)
  * or big-endian (`be`). A read at `o` that does not fit in `b` throws
  * [[Malformed]]. 16-bit reads are unsigned; 32- and 64-bit reads return
  * the raw bits, so an unsigned 32-bit field is `le32(b, o) & 0xffffffffL`.
  * Plain static calls on primitives: nothing here allocates. */
object Bytes {

  private def need(b: Array[Byte], o: Int, n: Int): Unit =
    if (o < 0 || o > b.length - n) throw Malformed

  private def le32At(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | (b(o + 1) & 0xff) << 8 |
      (b(o + 2) & 0xff) << 16 | (b(o + 3) & 0xff) << 24

  private def be32At(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) << 24 | (b(o + 1) & 0xff) << 16 |
      (b(o + 2) & 0xff) << 8 | (b(o + 3) & 0xff)

  def le16(b: Array[Byte], o: Int): Int = {
    need(b, o, 2)
    (b(o) & 0xff) | (b(o + 1) & 0xff) << 8
  }

  def be16(b: Array[Byte], o: Int): Int = {
    need(b, o, 2)
    (b(o) & 0xff) << 8 | (b(o + 1) & 0xff)
  }

  def le32(b: Array[Byte], o: Int): Int = { need(b, o, 4); le32At(b, o) }

  def be32(b: Array[Byte], o: Int): Int = { need(b, o, 4); be32At(b, o) }

  def le64(b: Array[Byte], o: Int): Long = {
    need(b, o, 8)
    (le32At(b, o) & 0xffffffffL) | le32At(b, o + 4).toLong << 32
  }

  def be64(b: Array[Byte], o: Int): Long = {
    need(b, o, 8)
    be32At(b, o).toLong << 32 | (be32At(b, o + 4) & 0xffffffffL)
  }

  /** `n` bytes (0 to 8) little-endian, zero-extended: the widths a
    * format sets per file or per run. */
  def le(b: Array[Byte], o: Int, n: Int): Long = {
    need(b, o, n)
    var v = 0L; var i = n - 1
    while (i >= 0) { v = v << 8 | (b(o + i) & 0xffL); i -= 1 }
    v
  }

  /** `n` bytes (0 to 8) big-endian, zero-extended. */
  def be(b: Array[Byte], o: Int, n: Int): Long = {
    need(b, o, n)
    var v = 0L; var i = 0
    while (i < n) { v = v << 8 | (b(o + i) & 0xffL); i += 1 }
    v
  }

  def putLe16(out: ByteArrayOutputStream, v: Int): Unit = putLe(out, v, 2)
  def putBe16(out: ByteArrayOutputStream, v: Int): Unit = putBe(out, v, 2)
  def putLe32(out: ByteArrayOutputStream, v: Int): Unit = putLe(out, v, 4)
  def putBe32(out: ByteArrayOutputStream, v: Int): Unit = putBe(out, v, 4)
  def putLe64(out: ByteArrayOutputStream, v: Long): Unit = putLe(out, v, 8)
  def putBe64(out: ByteArrayOutputStream, v: Long): Unit = putBe(out, v, 8)

  /** The low `n` bytes (0 to 8) of `v`, little-endian. */
  def putLe(out: ByteArrayOutputStream, v: Long, n: Int): Unit = {
    var i = 0
    while (i < n) { out.write((v >>> 8 * i).toInt & 0xff); i += 1 }
  }

  /** The low `n` bytes (0 to 8) of `v`, big-endian. */
  def putBe(out: ByteArrayOutputStream, v: Long, n: Int): Unit = {
    var i = n - 1
    while (i >= 0) { out.write((v >>> 8 * i).toInt & 0xff); i -= 1 }
  }
}
