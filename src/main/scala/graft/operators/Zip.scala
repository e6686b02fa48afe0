package graft.operators

import org.apache.spark.sql.Dataset

import graft.codec.{Bytes, Flate, Malformed}

/** ZIP container walk — the OTHER bundle format public datasets ship
  * in (tar covers the unix lineage, `Tar.scala`; zip covers the rest:
  * Kaggle exports, ML-dataset mirrors, office/EPUB containers).
  * Dependency-free subset of the PKWARE APPNOTE:
  *
  *  - the walk starts from the END OF CENTRAL DIRECTORY record (the
  *    format's design point: the index lives at the tail), found by
  *    the backward signature scan bounded by the 65535-byte max
  *    comment, validated by `offset + 22 + commentLen == EOF`;
  *  - the central directory (authoritative per spec — streaming
  *    writers like the JDK's leave zeros + a data descriptor in
  *    LOCAL headers, flag bit 3) must tile `[cd_offset, eocd)`
  *    exactly, entry count and disk fields consistent, no ZIP64
  *    markers (out of subset), no encryption (flag bit 0);
  *  - every entry's LOCAL header is resolved and its name must match
  *    the central name byte-for-byte; data ranges must stay below
  *    the central directory;
  *  - methods: 0 = stored (csize == usize) and 8 = deflate (raw,
  *    `graft.codec.Flate`); the inflated length
  *    must equal `usize` EXACTLY with no unconsumed input, and the
  *    CRC-32 of the decoded bytes must match the central record —
  *    a reader with the offsets, the inflate or the descriptor
  *    handling wrong cannot fake the payload byte sum;
  *  - per-archive decoded-byte cap (zip-bomb stance).
  *
  * Verification is differential against the REAL writer: fixtures
  * come from `java.util.zip.ZipOutputStream` (deflate means file
  * bytes share no structure with the payload formulas the oracle
  * replays), not from this codec.
  *
  * Malformed → all-zero `valid=false`, never a throw (q134).
  *
  * 100 TB shape: pure map-side behind the imperative codec seam;
  * archives never shuffle. */
object Zip {

  final case class ZipInfo(media_id: Long, n_entries: Long,
                           n_deflated: Long, sum_usize: Long,
                           sum_payload: Long, sum_name_len: Long,
                           valid: Boolean)


  private val MaxDecoded = 1L << 26

  private[graft] def parse(id: Long, b: Array[Byte]): ZipInfo = {
    val invalid = ZipInfo(id, 0L, 0L, 0L, 0L, 0L, valid = false)
    if (b == null || b.length < 22) return invalid
    try {
      def fail(): Nothing = throw Malformed
      def u16(o: Int): Int = Bytes.le16(b, o)
      def u32(o: Int): Long = Bytes.le32(b, o) & 0xffffffffL
      // EOCD backward scan: highest offset whose comment length lands
      // exactly on EOF
      var eocd = -1
      var p = b.length - 22
      val lo = math.max(0, b.length - 22 - 65535)
      while (eocd < 0 && p >= lo) {
        if (u32(p) == 0x06054b50L && p + 22 + u16(p + 20) == b.length)
          eocd = p
        p -= 1
      }
      if (eocd < 0) fail()
      if (u16(eocd + 4) != 0 || u16(eocd + 6) != 0) fail() // disks
      val nEntries = u16(eocd + 8)
      if (u16(eocd + 10) != nEntries) fail()
      val cdSize = u32(eocd + 12)
      val cdOff = u32(eocd + 16)
      if (nEntries == 0xffff || cdSize == 0xffffffffL ||
        cdOff == 0xffffffffL) fail() // ZIP64 out of subset
      if (cdOff + cdSize != eocd) fail() // the index tiles to EOCD
      // central directory walk
      var c = cdOff.toInt
      var i = 0
      var nDeflated = 0L; var sumU = 0L; var sumP = 0L; var sumN = 0L
      var decoded = 0L
      while (i < nEntries) {
        if (u32(c) != 0x02014b50L) fail()
        val flags = u16(c + 8)
        val method = u16(c + 10)
        val crc = u32(c + 16)
        val csize = u32(c + 20)
        val usize = u32(c + 24)
        val nameLen = u16(c + 28)
        val extraLen = u16(c + 30)
        val commentLen = u16(c + 32)
        val lhOff = u32(c + 42)
        if ((flags & 0x1) != 0) fail() // encryption out of subset
        if (method != 0 && method != 8) fail()
        if (csize == 0xffffffffL || usize == 0xffffffffL ||
          lhOff == 0xffffffffL) fail() // ZIP64
        if (nameLen == 0) fail()
        if (c + 46 + nameLen > b.length) fail()
        val name = java.util.Arrays.copyOfRange(b, c + 46,
          c + 46 + nameLen)
        // resolve the local header: name must match byte-for-byte
        if (lhOff + 30 > cdOff) fail()
        val lh = lhOff.toInt
        if (u32(lh) != 0x04034b50L) fail()
        val lNameLen = u16(lh + 26)
        val lExtraLen = u16(lh + 28)
        if (lNameLen != nameLen) fail()
        var k = 0
        while (k < nameLen) {
          if (b(lh + 30 + k) != name(k)) fail()
          k += 1
        }
        val dataOff = lhOff + 30 + lNameLen + lExtraLen
        if (dataOff + csize > cdOff) fail()
        if (method == 0 && csize != usize) fail()
        decoded += usize
        if (decoded > MaxDecoded) fail()
        val payload: Array[Byte] =
          if (method == 0)
            java.util.Arrays.copyOfRange(b, dataOff.toInt,
              (dataOff + csize).toInt)
          else {
            nDeflated += 1
            Flate.inflate(b, dataOff.toInt, csize.toInt, usize, raw = true)
          }
        val crcCheck = new java.util.zip.CRC32()
        crcCheck.update(payload)
        if ((crcCheck.getValue & 0xffffffffL) != crc) fail()
        sumU += usize
        var j = 0
        while (j < payload.length) { sumP += payload(j) & 0xff; j += 1 }
        sumN += nameLen
        c += 46 + nameLen + extraLen + commentLen
        i += 1
      }
      if (c.toLong != cdOff + cdSize) fail() // entries tile the CD
      ZipInfo(id, nEntries.toLong, nDeflated, sumU, sumP, sumN,
        valid = true)
    } catch {
      case Malformed | _: IndexOutOfBoundsException |
          _: NegativeArraySizeException | _: IllegalArgumentException =>
        invalid
    }
  }

  /** Map-side decode over (media_id, archive bytes) rows. */
  def decodeZip(media: Dataset[(Long, Array[Byte])]): Dataset[ZipInfo] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { case (id, bytes) => parse(id, bytes) })
  }

  // ---------------------------------------------------------------
  // Writer (test/synthesis side): the REAL JDK writer, not ours.
  // ---------------------------------------------------------------

  private val EntryTime = java.time.LocalDateTime.of(2020, 1, 1, 0, 0)

  /** `nEntries` entries via `java.util.zip.ZipOutputStream`: entry f
    * is named `e<f>_<seed>.txt`, length `20 + (seed+f)%50`, byte j
    * `(seed + 3f + j) % 256`; STORED when `(seed+f)%2 == 0` else
    * DEFLATED (both code paths exercised in every archive of ≥2); every
    * entry's DOS time is `EntryTime`, so the bytes depend only on the
    * arguments. */
  def zipPayload(nEntries: Int, seed: Int): Array[Byte] = {
    require(nEntries >= 1 && nEntries <= 4096, s"bad nEntries $nEntries")
    require(seed >= 0, s"bad seed $seed")
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    var f = 0
    while (f < nEntries) {
      val len = 20 + (seed + f) % 50
      val data = new Array[Byte](len)
      var j = 0
      while (j < len) { data(j) = ((seed + 3 * f + j) % 256).toByte; j += 1 }
      val e = new java.util.zip.ZipEntry(s"e${f}_$seed.txt")
      e.setTimeLocal(EntryTime)
      if ((seed + f) % 2 == 0) {
        e.setMethod(java.util.zip.ZipEntry.STORED)
        e.setSize(len.toLong)
        e.setCompressedSize(len.toLong)
        val crc = new java.util.zip.CRC32()
        crc.update(data)
        e.setCrc(crc.getValue)
      } else e.setMethod(java.util.zip.ZipEntry.DEFLATED)
      zos.putNextEntry(e)
      zos.write(data)
      zos.closeEntry()
      f += 1
    }
    zos.close()
    bos.toByteArray
  }
}
