package graft.operators

import org.apache.spark.sql.Dataset

import graft.codec.{Bytes, Flate, Malformed}

/** TIFF 6.0 IFD walk — the scientific-imagery container (satellite
  * scenes, scanned books, GeoTIFF rasters): where PNG/JPEG/GIF cover
  * the web's images, archival and remote-sensing corpora ship TIFF —
  * the very domain of the reference pipeline. Dependency-free subset:
  *
  *  - BOTH byte orders (`II` little-, `MM` big-endian — every integer
  *    in the file flips with the header, the format's signature trap),
  *    magic 42, IFD chain (multi-page) terminated by offset 0;
  *  - IFD entries (tag, type, count, value) with tags STRICTLY
  *    ascending (the spec's requirement); SHORT/LONG types; values
  *    ≤ 4 bytes packed INLINE in the value field, larger arrays
  *    resolved through their offset — inline SHORTs sit in the
  *    field's FIRST two bytes under either order (the classic
  *    packing pitfall, spec-pinned);
  *  - required baseline-gray tags: ImageWidth(256), ImageLength(257),
  *    BitsPerSample(258)=8, Compression(259) ∈ {1 = none, 5 = LZW,
  *    8 = Deflate}, Photometric(262), StripOffsets(273),
  *    RowsPerStrip(278), StripByteCounts(279); strip count must equal
  *    ceil(height / rowsPerStrip); every strip range must lie inside
  *    the file; uncompressed byte counts must tile w·h exactly, and a
  *    COMPRESSED strip (byte count = its ENCODED length) must decode
  *    to exactly rows·width bytes;
  *  - Compression 5 is the TIFF-variant LZW (r10 — what real GeoTIFF
  *    and archival corpora ship): MSB-first code packing, 8-bit
  *    roots, Clear=256/EOI=257, 9→12-bit widths with the spec's
  *    EARLY-CHANGE bump (width grows when the next free entry is
  *    2^w − 1 — one code sooner than GIF's variant, `Gif.scala`);
  *    Compression 8 is per-strip zlib (RFC 1950, `graft.codec.Flate`).
  *
  * The walk cannot be faked: `sum_pixels` reads the strip bytes
  * through the resolved (offset, count) pairs AND through a real
  * LZW/zlib expansion (the writer compresses, so file bytes share no
  * structure with the pixel formulas the oracle replays); any
  * endianness, inline-packing, strip-arithmetic, bit-order or
  * early-change mistake breaks it.
  *
  * Malformed → all-zero `valid=false`, never a throw (q134); bounds
  * in Long (ADVICE r8); per-file decoded-byte cap (zip-bomb stance).
  *
  * 100 TB shape: pure map-side behind the imperative codec seam. */
object Tiff {

  final case class TiffInfo(media_id: Long, n_pages: Long, sum_width: Long,
                            sum_height: Long, n_strips: Long,
                            sum_pixels: Long, valid: Boolean)


  private val MaxDecoded = 1L << 26

  private[graft] def parse(id: Long, b: Array[Byte]): TiffInfo = {
    val invalid = TiffInfo(id, 0L, 0L, 0L, 0L, 0L, valid = false)
    if (b == null || b.length < 8) return invalid
    try {
      def fail(): Nothing = throw Malformed
      val le = (b(0), b(1)) match {
        case ('I', 'I') => true
        case ('M', 'M') => false
        case _          => fail()
      }
      def u8(o: Long): Int = {
        if (o < 0 || o >= b.length) fail(); b(o.toInt) & 0xff
      }
      def at(o: Long): Int = { if (o < 0 || o > b.length) fail(); o.toInt }
      def u16(o: Long): Int = if (le) Bytes.le16(b, at(o)) else Bytes.be16(b, at(o))
      def u32(o: Long): Long =
        (if (le) Bytes.le32(b, at(o)) else Bytes.be32(b, at(o))) & 0xffffffffL
      if (u16(2) != 42) fail()
      var ifdOff = u32(4)
      var nPages = 0L; var sumW = 0L; var sumH = 0L
      var nStrips = 0L; var sumPix = 0L
      var decoded = 0L
      while (ifdOff != 0) {
        if (ifdOff < 8 || ifdOff + 2 > b.length) fail()
        val nEntries = u16(ifdOff)
        if (nEntries == 0 || nEntries > 4096) fail()
        var width = -1L; var height = -1L; var rowsPerStrip = -1L
        var bits = -1; var compression = -1; var photometric = -1
        var offs: Array[Long] = null; var counts: Array[Long] = null
        var prevTag = -1
        var e = 0
        while (e < nEntries) {
          val eo = ifdOff + 2 + 12L * e
          val tag = u16(eo)
          if (tag <= prevTag) fail() // strictly ascending (TIFF 6.0)
          prevTag = tag
          val typ = u16(eo + 2)
          val count = u32(eo + 4)
          if (typ != 3 && typ != 4) fail() // SHORT / LONG subset
          val elemSize = if (typ == 3) 2 else 4
          // inline when the array fits the 4-byte value field —
          // packed from the field's START under either byte order
          def value(idx: Long): Long = {
            val base =
              if (count * elemSize <= 4) eo + 8
              else {
                val ptr = u32(eo + 8)
                if (ptr + count * elemSize > b.length) fail()
                ptr
              }
            val o = base + idx * elemSize
            if (typ == 3) u16(o).toLong else u32(o)
          }
          def valuesOf(n: Long): Array[Long] = {
            if (n < 1 || n > 65535) fail()
            Array.tabulate(n.toInt)(i => value(i.toLong))
          }
          tag match {
            case 256 => if (count != 1) fail(); width = value(0)
            case 257 => if (count != 1) fail(); height = value(0)
            case 258 => if (count != 1) fail(); bits = value(0).toInt
            case 259 => if (count != 1) fail(); compression = value(0).toInt
            case 262 => if (count != 1) fail(); photometric = value(0).toInt
            case 273 => offs = valuesOf(count)
            case 278 => if (count != 1) fail(); rowsPerStrip = value(0)
            case 279 => counts = valuesOf(count)
            case _   => () // unknown tags tolerated (skipped)
          }
          e += 1
        }
        if (width <= 0 || height <= 0 || bits != 8 ||
          (compression != 1 && compression != 5 && compression != 8) ||
          photometric < 0 || rowsPerStrip <= 0 ||
          offs == null || counts == null) fail()
        val expStrips = (height + rowsPerStrip - 1) / rowsPerStrip
        if (offs.length != expStrips || counts.length != expStrips) fail()
        val total = width * height
        decoded += total
        if (decoded > MaxDecoded) fail()
        var sumDecoded = 0L
        var s = 0
        while (s < offs.length) {
          val rows = math.min(rowsPerStrip, height - s.toLong * rowsPerStrip)
          val expBytes = rows * width // DECODED bytes of this strip
          if (counts(s) <= 0 ||
            offs(s) < 8 || offs(s) + counts(s) > b.length) fail()
          compression match {
            case 1 =>
              if (counts(s) != expBytes) fail() // exact tiling
              var j = 0L
              while (j < counts(s)) { sumPix += u8(offs(s) + j); j += 1 }
            case 5 =>
              sumPix += lzwDecodeTiff(b, offs(s).toInt, counts(s).toInt,
                expBytes)
            case 8 =>
              val d = Flate.inflate(b, offs(s).toInt, counts(s).toInt,
                expBytes, raw = false)
              var j = 0
              while (j < d.length) { sumPix += d(j) & 0xff; j += 1 }
          }
          sumDecoded += expBytes
          s += 1
        }
        if (sumDecoded != total) fail()
        nPages += 1; sumW += width; sumH += height
        nStrips += offs.length.toLong
        ifdOff = u32(ifdOff + 2 + 12L * nEntries)
      }
      if (nPages == 0) fail()
      TiffInfo(id, nPages, sumW, sumH, nStrips, sumPix, valid = true)
    } catch {
      case Malformed | _: IndexOutOfBoundsException |
          _: NegativeArraySizeException | _: IllegalArgumentException =>
        invalid
    }
  }

  /** TIFF-variant LZW decode of `len` encoded bytes at `off` in `b`,
    * expanding to EXACTLY `expected` bytes; returns the decoded byte
    * sum. MSB-first codes, 8-bit roots, Clear=256, EOI=257, widths
    * 9→12 with the spec's EARLY-CHANGE bump (the next free entry
    * reaching 2^w − 1 widens — one code sooner than the GIF variant).
    * Throws Malformed on any violation: code past the table end + 1,
    * over/under-run, missing EOI, a full byte of slack after it. */
  private[graft] def lzwDecodeTiff(b: Array[Byte], off: Int, len: Int,
                                   expected: Long): Long = {
    def fail(): Nothing = throw Malformed
    val Clear = 256; val Eoi = 257
    val prefix = new Array[Int](4096)
    val append = new Array[Byte](4096)
    var free = 258; var w = 9
    var bitPos = 0L
    val nBits = len.toLong * 8
    def next(): Int = {
      if (bitPos + w > nBits) fail()
      var v = 0; var k = 0
      while (k < w) {
        val bp = bitPos + k
        v = (v << 1) |
          ((b(off + (bp >> 3).toInt) >> (7 - (bp & 7).toInt)) & 1)
        k += 1
      }
      bitPos += w
      v
    }
    var sum = 0L; var count = 0L
    val stack = new Array[Byte](4096)
    var prev = -1; var prevFirst = 0
    var finished = false
    while (!finished) {
      val code = next()
      if (code == Clear) { free = 258; w = 9; prev = -1 }
      else if (code == Eoi) finished = true
      else {
        if (code > free || (code == free && prev < 0)) fail()
        var sp = 0; var first = 0
        if (code == free) { // KwKwK: prev string + its first byte
          stack(sp) = prevFirst.toByte; sp += 1
          var c = prev
          while (c >= 258) { stack(sp) = append(c); sp += 1; c = prefix(c) }
          stack(sp) = c.toByte; sp += 1
          first = c
        } else {
          var c = code
          while (c >= 258) { stack(sp) = append(c); sp += 1; c = prefix(c) }
          if (c >= 256) fail() // clear/eoi as a chain root
          stack(sp) = c.toByte; sp += 1
          first = c
        }
        count += sp
        if (count > expected) fail()
        var k = sp - 1
        while (k >= 0) { sum += stack(k) & 0xff; k -= 1 }
        if (prev >= 0) {
          if (free >= 4096) fail()
          prefix(free) = prev; append(free) = first.toByte
          free += 1
          if (w < 12 && free == (1 << w) - 1) w += 1 // EARLY change
        }
        prev = code; prevFirst = first
      }
    }
    if (count != expected) fail()
    if (nBits - bitPos >= 8) fail() // full-byte slack after EOI
    sum
  }

  /** Map-side decode (the q178 pattern). */
  def decodeTiff(media: Dataset[(Long, Array[Byte])]): Dataset[TiffInfo] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { case (id, bytes) => parse(id, bytes) })
  }

  // ---------------------------------------------------------------
  // Writer: spec-compliant multi-page gray TIFF in EITHER byte order.
  // ---------------------------------------------------------------

  /** `nPages` 8-bit gray pages; page f is `(5 + (seed+f)%6) ×
    * (4 + f%5)` with rowsPerStrip 4 and pixel (f, p) =
    * `(seed + 5f + p) % 256`; byte order LE when `seed` is even;
    * page f's Compression cycles none/LZW/Deflate by `(seed+f)%3`
    * (r10 — compressed strip byte counts are the ENCODED lengths, so
    * file bytes share no structure with the pixel formulas).
    * Strip-offset/count arrays go inline when one strip, through a
    * pointer otherwise — both paths exercised by the page sizes. */
  def tiffPayload(nPages: Int, seed: Int): Array[Byte] = {
    require(nPages >= 1 && nPages <= 64, s"bad nPages $nPages")
    require(seed >= 0, s"bad seed $seed")
    val le = seed % 2 == 0
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = if (le) Bytes.putLe16(out, v) else Bytes.putBe16(out, v)
    def w32(v: Long): Unit =
      if (le) Bytes.putLe32(out, v.toInt) else Bytes.putBe32(out, v.toInt)
    out.write(if (le) 'I' else 'M'); out.write(if (le) 'I' else 'M')
    w16(42)
    // pass 1: raw strips + per-page compression (sizes drive layout)
    val rps = 4L
    case class Page(w: Long, h: Long, comp: Int,
                    strips: IndexedSeq[Array[Byte]])
    val built = (0 until nPages).map { f =>
      val w = 5L + (seed + f) % 6
      val h = 4L + f % 5
      val comp = ((seed + f) % 3: @unchecked) match {
        case 0 => 1; case 1 => 5; case 2 => 8
      }
      val nStrips = ((h + rps - 1) / rps).toInt
      val strips = (0 until nStrips).map { s =>
        val rows = math.min(rps, h - s * rps)
        val raw = new Array[Byte]((rows * w).toInt)
        var j = 0
        while (j < raw.length) {
          val p = s * rps * w + j // page-global pixel index
          raw(j) = ((seed + 5 * f + p) % 256).toByte
          j += 1
        }
        (comp: @unchecked) match {
          case 1 => raw
          case 5 => lzwEncodeTiff(raw)
          case 8 => Pdf.deflateZlib(raw)
        }
      }
      Page(w, h, comp, strips)
    }
    // pass 2: layout — header(8) | per page: [strips][arrays][IFD]
    case class Layout(dataOffs: IndexedSeq[Long], arrOff: Long,
                      ifdOff: Long)
    var cursor = 8L
    val layouts = built.map { p =>
      val dataOffs = p.strips.map { st =>
        val o = cursor; cursor += st.length; o
      }
      val arrOff = cursor
      if (p.strips.length > 1) cursor += 8L * p.strips.length
      val ifdOff = cursor
      cursor += 2 + 12 * 8 + 4 // 8 entries + next pointer
      Layout(dataOffs, arrOff, ifdOff)
    }
    w32(layouts.head.ifdOff) // IFD0 pointer
    for (((p, lay), f) <- built.zip(layouts).zipWithIndex) {
      p.strips.foreach(out.write)
      // strip arrays (pointer form) — offsets first, then counts
      if (p.strips.length > 1) {
        lay.dataOffs.foreach(w32)
        p.strips.foreach(st => w32(st.length.toLong))
      }
      // IFD: 8 entries, tags ascending
      w16(8)
      def entry(tag: Int, typ: Int, count: Long, inline: Long): Unit = {
        w16(tag); w16(typ); w32(count)
        if (typ == 3) { w16(inline.toInt); w16(0) } else w32(inline)
      }
      entry(256, 4, 1, p.w)
      entry(257, 4, 1, p.h)
      entry(258, 3, 1, 8)
      entry(259, 3, 1, p.comp.toLong)
      entry(262, 3, 1, 1)
      if (p.strips.length == 1) entry(273, 4, 1, lay.dataOffs.head)
      else entry(273, 4, p.strips.length.toLong, lay.arrOff)
      entry(278, 4, 1, rps)
      if (p.strips.length == 1)
        entry(279, 4, 1, p.strips.head.length.toLong)
      else entry(279, 4, p.strips.length.toLong,
        lay.arrOff + 4L * p.strips.length)
      w32(if (f + 1 < nPages) layouts(f + 1).ifdOff else 0L)
    }
    out.toByteArray
  }

  /** TIFF-variant LZW encode (the writer side of [[lzwDecodeTiff]]):
    * MSB-first packing, Clear first, EOI last, EARLY-CHANGE width
    * bumps — the encoder's table runs one entry AHEAD of the
    * decoder's, so its bump lands at 2^w where the decoder's lands at
    * 2^w − 1; table recycled via Clear before the 12-bit ceiling. */
  private[graft] def lzwEncodeTiff(bytes: Array[Byte]): Array[Byte] = {
    val Clear = 256; val Eoi = 257
    val out = new java.io.ByteArrayOutputStream()
    var cur = 0L; var curBits = 0
    var w = 9
    def put(code: Int): Unit = {
      cur = (cur << w) | code; curBits += w
      while (curBits >= 8) {
        out.write(((cur >> (curBits - 8)) & 0xff).toInt); curBits -= 8
      }
    }
    val dict = new java.util.HashMap[Integer, Integer]()
    var e = 258
    put(Clear)
    var prev = -1
    var i = 0
    while (i < bytes.length) {
      val k = bytes(i) & 0xff
      if (prev < 0) prev = k
      else {
        val key: Integer = (prev << 8) | k
        val hit = dict.get(key)
        if (hit != null) prev = hit.intValue()
        else {
          put(prev)
          if (e < 4094) {
            dict.put(key, e); e += 1
            if (w < 12 && e == (1 << w)) w += 1
          } else {
            put(Clear); dict.clear(); e = 258; w = 9
          }
          prev = k
        }
      }
      i += 1
    }
    if (prev >= 0) put(prev)
    put(Eoi)
    if (curBits > 0) out.write(((cur << (8 - curBits)) & 0xff).toInt)
    out.toByteArray
  }
}
