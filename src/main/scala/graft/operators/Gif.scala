package graft.operators

import org.apache.spark.sql.Dataset

import graft.codec.{Bytes, Malformed}

/** GIF (87a/89a) decoder — the third still-image codec of the media
  * family (PNG q149/q153's sibling): web crawls are full of GIFs, and
  * a multimodal corpus pipeline must at least structurally validate
  * and index them. Dependency-free subset of the spec:
  *
  *  - header `GIF87a`/`GIF89a`; logical screen descriptor (LE u16
  *    dims, packed GCT flag/size); global color table when flagged;
  *  - blocks: `0x21` extensions (label + length-prefixed sub-blocks,
  *    skipped but counted, terminator required), `0x2C` image
  *    descriptors (LE geometry validated inside the logical screen,
  *    optional local color table, interlace REJECTED — out of
  *    subset), `0x3B` trailer (required, and nothing after it);
  *  - pixel data: REAL LZW (GIF variant) — initial code width
  *    `min+1`, clear/eoi codes, dictionary growth to 12 bits with
  *    width bumps at dictionary size, the deferred-clear rule, and
  *    the KwKwK case (a code one past the dictionary end); decoded
  *    pixel count must equal w·h EXACTLY and every index must fall
  *    inside the active color table.
  *
  * Anything else — bad header, geometry overflow, a code past the
  * dictionary end + 1, missing EOI/trailer, slack — → all-zero
  * `valid=false`, never a throw (q134); bounds in Long (ADVICE r8).
  *
  * The decode cannot be faked: `sum_pixel_indices`/`max_index` exist
  * only after a correct LZW expansion (the writer compresses with a
  * real dictionary encoder, so file bytes share no structure with the
  * pixel formulas the oracle replays).
  *
  * 100 TB shape: pure map-side behind the imperative codec seam. */
object Gif {

  final case class GifInfo(media_id: Long, width: Long, height: Long,
                           n_frames: Long, n_ext_blocks: Long,
                           gct_colors: Long, sum_pixel_indices: Long,
                           max_index: Long, valid: Boolean)

  /** Max decoded pixels per file (zip-bomb stance, q178 precedent). */
  private val MaxPixels = 1L << 26

  private[graft] def parse(id: Long, b: Array[Byte]): GifInfo = {
    val invalid = GifInfo(id, 0L, 0L, 0L, 0L, 0L, 0L, 0L, valid = false)
    if (b == null || b.length < 13) return invalid
    try {
      def fail(): Nothing = throw Malformed
      def u8(o: Int): Int = { if (o >= b.length) fail(); b(o) & 0xff }
      val hdr = new String(b, 0, 6, "ISO-8859-1")
      if (hdr != "GIF87a" && hdr != "GIF89a") fail()
      val sw = Bytes.le16(b, 6); val sh = Bytes.le16(b, 8)
      if (sw == 0 || sh == 0) fail()
      val packed = u8(10)
      var off = 13
      var gctColors = 0L
      if ((packed & 0x80) != 0) {
        val n = 2 << (packed & 0x07)
        gctColors = n.toLong
        off += 3 * n
        if (off > b.length) fail()
      }
      var nFrames = 0L; var nExt = 0L
      var sumIdx = 0L; var maxIdx = 0L
      var done = false
      while (!done) {
        u8(off) match {
          case 0x3B =>
            if (off + 1 != b.length) fail() // nothing after the trailer
            done = true
          case 0x21 =>
            nExt += 1
            off += 2 // introducer + label
            var len = u8(off)
            while (len != 0) { off += 1 + len; len = u8(off) }
            off += 1
          case 0x2C =>
            val left = Bytes.le16(b, off + 1); val top = Bytes.le16(b, off + 3)
            val w = Bytes.le16(b, off + 5); val h = Bytes.le16(b, off + 7)
            val ip = u8(off + 9)
            if (w == 0 || h == 0) fail()
            if (left.toLong + w > sw || top.toLong + h > sh) fail()
            if ((ip & 0x40) != 0) fail() // interlace: out of subset
            off += 10
            var colors = gctColors
            if ((ip & 0x80) != 0) {
              val n = 2 << (ip & 0x07)
              colors = n.toLong
              off += 3 * n
              if (off > b.length) fail()
            }
            if (colors == 0) fail() // no active color table
            val minCode = u8(off); off += 1
            if (minCode < 2 || minCode > 11) fail()
            // gather the LZW byte stream from the sub-blocks
            val data = new java.io.ByteArrayOutputStream()
            var len = u8(off)
            while (len != 0) {
              if (off.toLong + 1 + len > b.length) fail()
              data.write(b, off + 1, len)
              off += 1 + len
              len = u8(off)
            }
            off += 1
            val total = w.toLong * h
            if (total > MaxPixels) fail()
            val (s, m) = lzwDecode(data.toByteArray, minCode, total,
              colors.toInt)
            sumIdx += s; maxIdx = math.max(maxIdx, m)
            nFrames += 1
          case _ => fail()
        }
      }
      if (nFrames == 0) fail()
      GifInfo(id, sw.toLong, sh.toLong, nFrames, nExt, gctColors,
        sumIdx, maxIdx, valid = true)
    } catch {
      case Malformed | _: IndexOutOfBoundsException |
          _: NegativeArraySizeException | _: IllegalArgumentException =>
        invalid
    }
  }

  /** GIF-variant LZW decode of exactly `expected` pixels; returns
    * (index sum, index max). Throws Malformed on any violation. */
  private def lzwDecode(data: Array[Byte], minCode: Int, expected: Long,
                        colors: Int): (Long, Long) = {
    def fail(): Nothing = throw Malformed
    val clear = 1 << minCode
    val eoi = clear + 1
    // dictionary: prefix pointer + appended byte; first `clear` roots
    val prefix = new Array[Int](4096)
    val append = new Array[Byte](4096)
    var dictSize = eoi + 1
    var width = minCode + 1
    var bitPos = 0L
    val nBits = data.length.toLong * 8
    def next(): Int = {
      if (bitPos + width > nBits) fail()
      var v = 0; var k = 0
      while (k < width) {
        val bp = bitPos + k
        val byte = data((bp >> 3).toInt) & 0xff
        v |= ((byte >> (bp & 7).toInt) & 1) << k
        k += 1
      }
      bitPos += width
      v
    }
    var sum = 0L; var max = 0L; var count = 0L
    def emit(idx: Int): Unit = {
      if (idx >= colors) fail()
      count += 1
      if (count > expected) fail()
      sum += idx; if (idx > max) max = idx
    }
    // expand one code into the scratch stack (codes chain backwards)
    val stack = new Array[Byte](4096)
    var prev = -1
    var prevFirst = 0
    var finished = false
    while (!finished) {
      val code = next()
      if (code == clear) {
        dictSize = eoi + 1; width = minCode + 1; prev = -1
      } else if (code == eoi) {
        finished = true
      } else {
        if (code > dictSize || (code == dictSize && prev < 0)) fail()
        var sp = 0
        var first = 0
        if (code == dictSize) {
          // KwKwK: prev string + its first byte
          stack(sp) = prevFirst.toByte; sp += 1
          var c = prev
          while (c >= clear + 2) { stack(sp) = append(c); sp += 1; c = prefix(c) }
          stack(sp) = c.toByte; sp += 1
          first = c
        } else {
          var c = code
          while (c >= clear + 2) { stack(sp) = append(c); sp += 1; c = prefix(c) }
          if (c >= clear) fail() // clear/eoi as a chain root
          stack(sp) = c.toByte; sp += 1
          first = c
        }
        // emit in forward order
        var k = sp - 1
        while (k >= 0) { emit(stack(k) & 0xff); k -= 1 }
        if (prev >= 0 && dictSize < 4096) {
          prefix(dictSize) = prev; append(dictSize) = first.toByte
          dictSize += 1
          if (dictSize < 4096 && (dictSize & (dictSize - 1)) == 0 &&
            dictSize > (1 << width) - 1) width += 1
        }
        prev = code; prevFirst = first
      }
    }
    if (count != expected) fail()
    (sum, max)
  }

  /** Map-side decode (the q178 pattern). */
  def decodeGif(media: Dataset[(Long, Array[Byte])]): Dataset[GifInfo] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { case (id, bytes) => parse(id, bytes) })
  }

  // ---------------------------------------------------------------
  // Writer: real LZW compression — the differential fixture generator.
  // ---------------------------------------------------------------

  /** Deterministic GIF89a: `w×h` logical screen, a 4-color GCT
    * (minCode 2), one comment extension, `nFrames` full-screen frames
    * whose pixel (f, p) = `(seed + 3*f + p) % 4`, LZW-compressed with
    * a REAL dictionary encoder (file bytes share no structure with
    * the pixel formula). */
  def gifPayload(w: Int, h: Int, nFrames: Int, seed: Int): Array[Byte] = {
    require(w >= 1 && w <= 512 && h >= 1 && h <= 512, s"bad dims $w x $h")
    require(nFrames >= 1 && nFrames <= 16, s"bad nFrames $nFrames")
    require(seed >= 0, s"bad seed $seed")
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("ISO-8859-1"))
    Bytes.putLe16(out, w); Bytes.putLe16(out, h)
    out.write(0x80 | 0x01) // GCT present, size bits = 1 → 4 colors
    out.write(0); out.write(0)
    var c = 0
    while (c < 4) { out.write(c * 60); out.write(c * 50); out.write(c * 40); c += 1 }
    // one comment extension with two sub-blocks
    out.write(0x21); out.write(0xFE)
    val note = s"graft $seed".getBytes("ISO-8859-1")
    out.write(note.length); out.write(note)
    out.write(2); out.write('o'); out.write('k')
    out.write(0)
    var f = 0
    while (f < nFrames) {
      out.write(0x2C); Bytes.putLe16(out, 0); Bytes.putLe16(out, 0)
      Bytes.putLe16(out, w); Bytes.putLe16(out, h); out.write(0)
      out.write(2) // LZW min code size
      val pixels = new Array[Byte](w * h)
      var p = 0
      while (p < pixels.length) {
        pixels(p) = ((seed + 3 * f + p) % 4).toByte; p += 1
      }
      val lzw = lzwEncode(pixels, 2)
      // length-prefixed sub-blocks of ≤ 255 bytes
      var o = 0
      while (o < lzw.length) {
        val n = math.min(255, lzw.length - o)
        out.write(n); out.write(lzw, o, n)
        o += n
      }
      out.write(0)
      f += 1
    }
    out.write(0x3B)
    out.toByteArray
  }

  /** GIF-variant LZW encode: dictionary over (prefix code, byte),
    * clear code first, EOI last, width bumps as the dictionary grows,
    * reset at 4096. */
  private[graft] def lzwEncode(pixels: Array[Byte], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var cur = 0; var curBits = 0
    var width = minCode + 1
    def put(code: Int): Unit = {
      cur |= code << curBits; curBits += width
      while (curBits >= 8) { out.write(cur & 0xff); cur >>= 8; curBits -= 8 }
    }
    val dict = new java.util.HashMap[java.lang.Long, java.lang.Integer]()
    def reset(): Unit = { dict.clear() }
    put(clear); reset()
    var dictSize = eoi + 1
    var prev = -1
    var i = 0
    while (i < pixels.length) {
      val k = pixels(i) & 0xff
      if (prev < 0) prev = k
      else {
        val key: java.lang.Long = (prev.toLong << 8) | k
        val hit = dict.get(key)
        if (hit != null) prev = hit.intValue()
        else {
          put(prev)
          if (dictSize < 4096) {
            dict.put(key, dictSize)
            dictSize += 1
            // the decoder's dictionary runs ONE entry behind the
            // encoder's (it learns an entry only from the next code),
            // so where the decoder bumps at dict == 2^width the
            // encoder must bump one add later, at 2^width + 1 —
            // the classic GIF-LZW off-by-one
            if (width < 12 && dictSize == (1 << width) + 1) width += 1
          } else {
            put(clear); reset(); dictSize = eoi + 1; width = minCode + 1
          }
          prev = k
        }
      }
      i += 1
    }
    if (prev >= 0) put(prev)
    put(eoi)
    if (curBits > 0) out.write(cur & 0xff)
    out.toByteArray
  }
}
