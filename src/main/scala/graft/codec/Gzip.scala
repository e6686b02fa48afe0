package graft.codec

import java.util.zip.CRC32

/** RFC 1952 gzip members in the subset crawl and page writers emit:
  * CM=8 and FLG 0 or FNAME (FEXTRA, FCOMMENT, FHCRC and the reserved
  * bits reject); the CRC-32 and ISIZE trailer is checked. */
object Gzip {

  /** One member that starts at `off` and ends at or before `end`, with at
    * most `cap` content bytes. Returns the content and the offset just
    * past the member's trailer. */
  def read(b: Array[Byte], off: Int, end: Int,
           cap: Long): (Array[Byte], Int) = {
    if (off < 0 || end > b.length || end.toLong - off < 18) throw Malformed
    if (b(off) != 0x1f.toByte || b(off + 1) != 0x8b.toByte || b(off + 2) != 8)
      throw Malformed
    val flg = b(off + 3) & 0xff
    if ((flg & ~0x08) != 0) throw Malformed
    var p = off + 10
    if (flg != 0) { // NUL-terminated original name
      while (p < end && b(p) != 0) p += 1
      p += 1
    }
    if (p + 8 > end) throw Malformed
    val (out, used) = Flate.inflateCapped(b, p, end - 8 - p, cap, raw = true)
    val t = p + used
    val crc = new CRC32()
    crc.update(out)
    if (Bytes.le32(b, t) != crc.getValue.toInt || Bytes.le32(b, t + 4) != out.length)
      throw Malformed
    (out, t + 8)
  }

  /** One member around `content`: the 10-byte header (MTIME 0, OS
    * unknown, so the output is deterministic), an optional FNAME,
    * level-6 raw DEFLATE, then the CRC-32 and ISIZE trailer. */
  def member(content: Array[Byte], name: Option[String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x1f); out.write(0x8b); out.write(8)
    out.write(if (name.isDefined) 0x08 else 0x00)
    out.write(0); out.write(0); out.write(0); out.write(0) // MTIME=0
    out.write(0); out.write(255) // XFL, OS=unknown
    name.foreach { n => out.write(n.getBytes("ISO-8859-1")); out.write(0) }
    out.write(Flate.deflate(content, 6, raw = true))
    val crc = new CRC32()
    crc.update(content)
    Bytes.putLe32(out, crc.getValue.toInt); Bytes.putLe32(out, content.length)
    out.toByteArray
  }
}
