package graft.operators

import org.apache.spark.sql.Dataset

import graft.codec.Malformed

/** USTAR (POSIX.1-1988 tar) container walk — the BUNDLE format public
  * text datasets ship in (webtext dumps, book corpora, image/label
  * pairs all travel as `.tar` shards; WebDataset-style loaders walk
  * exactly this layout). A 100 TB ingest enumerates entries, checks
  * header integrity, and hands per-entry payloads to the decode
  * stages — the subset implemented here, dependency-free.
  *
  * Subset: 512-byte headers with `ustar\0` magic + version `00`;
  * octal `size`/`mtime`/`chksum` fields (NUL/space terminated);
  * checksum verified (header bytes summed with the chksum field as
  * spaces — the rule that makes every header byte load-bearing);
  * typeflags `0`/NUL (file) and `5` (directory); the `prefix` field
  * joined to `name` with `/` when present; data in `ceil(size/512)`
  * blocks; archive ends with two zero blocks, consumed EXACTLY (no
  * trailing slack). Anything else — bad magic, non-octal digits,
  * checksum mismatch, truncation, data past the end — → all-zero
  * `valid=false`, never a throw (the q134 contract). Bounds
  * arithmetic in Long (the ADVICE r8 rule).
  *
  * The walk cannot be faked: entry offsets are a running sum of
  * 512-rounded sizes, so `sum_payload_bytes` (read through the
  * resolved ranges) breaks if any size parse or rounding is off.
  *
  * 100 TB shape: pure map-side behind the imperative codec seam —
  * payloads never shuffle. Reference analogue: the S3/S4 container
  * enumeration scan (`process_files.py`). */
object Tar {

  final case class TarInfo(media_id: Long, n_entries: Long, n_files: Long,
                           n_dirs: Long, sum_size: Long, max_size: Long,
                           sum_payload_bytes: Long, n_name_chars: Long,
                           valid: Boolean)

  private val Block = 512

  private[graft] def parse(id: Long, b: Array[Byte]): TarInfo = {
    val invalid = TarInfo(id, 0L, 0L, 0L, 0L, 0L, 0L, 0L, valid = false)
    if (b == null || b.length == 0) return invalid
    try {
      def fail(): Nothing = throw Malformed
      if (b.length % Block != 0) fail()
      def cstr(off: Int, len: Int): String = {
        var e = off
        while (e < off + len && b(e) != 0) e += 1
        new String(b, off, e - off, "ISO-8859-1")
      }
      def octal(off: Int, len: Int): Long = {
        var i = off
        // leading spaces tolerated, value ends at NUL or space
        while (i < off + len && b(i) == ' ') i += 1
        var v = 0L; var any = false
        while (i < off + len && b(i) != 0 && b(i) != ' ') {
          val c = b(i)
          if (c < '0' || c > '7') fail()
          v = v * 8 + (c - '0'); if (v < 0) fail() // Long overflow
          any = true; i += 1
        }
        if (!any) fail()
        v
      }
      var off = 0
      var nEntries = 0L; var nFiles = 0L; var nDirs = 0L
      var sumSize = 0L; var maxSize = 0L; var sumPayload = 0L
      var nameChars = 0L
      var ended = false
      while (!ended) {
        if (off.toLong + Block > b.length) fail()
        var allZero = true
        var z = off
        while (allZero && z < off + Block) { if (b(z) != 0) allZero = false; z += 1 }
        if (allZero) {
          // end marker: exactly TWO zero blocks, then EOF
          if (off.toLong + 2L * Block != b.length) fail()
          var z2 = off + Block
          while (z2 < b.length) { if (b(z2) != 0) fail(); z2 += 1 }
          ended = true
        } else {
          if (cstr(off + 257, 6) != "ustar") fail()
          if (b(off + 263) != '0' || b(off + 264) != '0') fail()
          // checksum: all 512 header bytes, chksum field as spaces
          var sum = 0L
          var k = 0
          while (k < Block) {
            sum += (if (k >= 148 && k < 156) ' '.toLong
                    else b(off + k) & 0xffL)
            k += 1
          }
          if (sum != octal(off + 148, 8)) fail()
          val name = cstr(off, 100)
          if (name.isEmpty) fail()
          val prefix = cstr(off + 345, 155)
          val full = if (prefix.isEmpty) name else prefix + "/" + name
          val size = octal(off + 124, 12)
          val tf = b(off + 156)
          nEntries += 1
          nameChars += full.length
          if (tf == '5') {
            if (size != 0) fail()
            nDirs += 1
          } else if (tf == '0' || tf == 0) {
            nFiles += 1
            sumSize += size
            maxSize = math.max(maxSize, size)
          } else fail() // out of subset
          val dataBlocks = (size + Block - 1) / Block
          val dataOff = off.toLong + Block
          if (dataOff + dataBlocks * Block > b.length) fail()
          var j = 0L
          while (j < size) {
            sumPayload += b((dataOff + j).toInt) & 0xff
            j += 1
          }
          // block padding after the data must be zero (exact framing)
          var pz = dataOff + size
          while (pz < dataOff + dataBlocks * Block) {
            if (b(pz.toInt) != 0) fail()
            pz += 1
          }
          off = (dataOff + dataBlocks * Block).toInt
        }
      }
      if (nEntries == 0) fail()
      TarInfo(id, nEntries, nFiles, nDirs, sumSize, maxSize, sumPayload,
        nameChars, valid = true)
    } catch {
      case Malformed | _: IndexOutOfBoundsException |
          _: NegativeArraySizeException | _: IllegalArgumentException =>
        invalid
    }
  }

  /** Map-side decode: the imperative codec seam (the q178 pattern). */
  def decodeTar(media: Dataset[(Long, Array[Byte])]): Dataset[TarInfo] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { case (id, bytes) => parse(id, bytes) })
  }

  // ---------------------------------------------------------------
  // Writer (test/synthesis side)
  // ---------------------------------------------------------------

  /** Deterministic archive: entry i is a directory (`d(i%4)/`,
    * typeflag 5) when `i%4 == 3`, else a file; every 5th entry
    * (i%5 == 2) routes its parent dir through the PREFIX field; file
    * sizes `30 + ((seed + 11i) % 470)`, content byte j
    * `(seed + 5i + j) % 256`, two zero blocks close the archive. */
  def tarPayload(nEntries: Int, seed: Int): Array[Byte] = {
    require(nEntries >= 1 && nEntries <= 4096, s"bad nEntries $nEntries")
    require(seed >= 0, s"bad seed $seed")
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < nEntries) {
      val isDir = i % 4 == 3
      val (prefix, name) =
        if (isDir) ("", s"d${i % 4}/")
        else if (i % 5 == 2) (s"p${seed % 3}", s"f$i.txt")
        else ("", s"d${(seed + i) % 4}/f$i.txt")
      val size = if (isDir) 0 else 30 + ((seed + 11 * i) % 470)
      val hdr = new Array[Byte](Block)
      def put(off: Int, s: String): Unit = {
        val bytes = s.getBytes("ISO-8859-1")
        System.arraycopy(bytes, 0, hdr, off, bytes.length)
      }
      def putOctal(off: Int, len: Int, v: Long): Unit =
        put(off, ("%0" + (len - 1) + "o").format(v)) // NUL-terminated
      put(0, name)
      putOctal(100, 8, 420)             // mode 0644
      putOctal(108, 8, 1000)            // uid
      putOctal(116, 8, 1000)            // gid
      putOctal(124, 12, size.toLong)
      putOctal(136, 12, 1700000000L + i)
      hdr(156) = if (isDir) '5' else '0'
      put(257, "ustar"); hdr(263) = '0'; hdr(264) = '0'
      put(265, "graft"); put(297, "graft") // uname/gname
      putOctal(329, 8, 0); putOctal(337, 8, 0)
      put(345, prefix)
      java.util.Arrays.fill(hdr, 148, 156, ' '.toByte)
      var sum = 0L
      var k = 0
      while (k < Block) { sum += hdr(k) & 0xffL; k += 1 }
      put(148, "%06o".format(sum)); hdr(154) = 0; hdr(155) = ' '
      out.write(hdr)
      if (!isDir) {
        val data = new Array[Byte](((size + Block - 1) / Block) * Block)
        var j = 0
        while (j < size) { data(j) = ((seed + 5 * i + j) % 256).toByte; j += 1 }
        out.write(data)
      }
      i += 1
    }
    out.write(new Array[Byte](2 * Block))
    out.toByteArray
  }
}
