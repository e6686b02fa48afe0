package graft.operators

import org.apache.spark.sql.Dataset

import graft.codec.{Cursor, Malformed}

/** Baseline JPEG (ITU-T T.81 / JFIF) decoder — the entropy-coded image
  * format the earlier rounds documented as library-blocked, implemented
  * dependency-free: marker segment walk (SOI/APPn/COM/DQT/DHT/SOF0/
  * DRI/SOS/EOI), canonical Huffman entropy decode with byte-stuffing
  * and restart-marker handling, dequantization, inverse zigzag, 8×8
  * IDCT, sampling-factor upsampling (replication) and JFIF YCbCr→RGB.
  * Only SEQUENTIAL BASELINE (SOF0, 8-bit) is decoded — progressive /
  * arithmetic / hierarchical yield `valid = false`, as does any
  * malformed byte stream (the q134 poisoned-payload contract).
  *
  * Verification stance: JPEG's IDCT is spec-approximate (T.81 §A.3.3
  * allows implementation variance), so there is no bit-exact truth to
  * oracle against. Instead JpegSpec runs a DIFFERENTIAL gate against
  * the JDK's OWN independent codec (`javax.imageio` — a second,
  * unrelated implementation that both encodes the fixtures and decodes
  * them for comparison): grayscale must match ImageIO's decode within
  * ±1 per sample (IDCT rounding), color within a small tolerance
  * (chroma-upsample filters legitimately differ). q153 driver-gates
  * the structural layer (dimensions, component metadata, MCU
  * arithmetic) against formula truth.
  *
  * 100 TB shape: pure map-side behind the imperative codec seam
  * (`mapPartitions`); payload bytes never shuffle; per-row state is
  * one MCU row of planes. */
object Jpeg {

  final case class JpegInfo(media_id: Long, width: Int, height: Int,
                            n_components: Int, precision: Int,
                            h_max: Int, v_max: Int, n_quant_tables: Int,
                            n_huff_tables: Int, restart_interval: Int,
                            n_mcus: Long, y_sum: Long, valid: Boolean)

  /** A decoded image: per-component planes at full image resolution
    * (after upsampling), each `width*height` bytes as ints 0..255; for
    * 3-component JFIF streams the planes are already converted to
    * R, G, B. */
  final case class Decoded(width: Int, height: Int, planes: Array[Array[Int]],
                           nQuant: Int, nHuff: Int, hMax: Int, vMax: Int,
                           restartInterval: Int, precision: Int)

  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Canonical Huffman table: decode one symbol bit-by-bit (max 16). */
  private final class Huff(counts: Array[Int], symbols: Array[Byte]) {
    // mincode/maxcode/valptr per length (T.81 F.2.2.3)
    private val minCode = new Array[Int](17)
    private val maxCode = new Array[Int](17)
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += counts(l - 1); k += counts(l - 1)
        maxCode(l) = code - 1
        if (counts(l - 1) == 0) maxCode(l) = -1
        code <<= 1
        l += 1
      }
    }
    def decode(br: BitReader): Int = {
      var code = br.bit()
      var l = 1
      while (l <= 16) {
        if (maxCode(l) >= 0 && code <= maxCode(l))
          return symbols(valPtr(l) + code - minCode(l)) & 0xff
        code = (code << 1) | br.bit()
        l += 1
      }
      throw Malformed
    }
  }

  /** Entropy-segment bit reader: 0xFF00 unstuffing; a bare 0xFF marker
    * ends the stream (restart markers are consumed by the caller). */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var cur = 0
    private var nBits = 0
    def bit(): Int = {
      if (nBits == 0) {
        if (pos >= b.length) throw Malformed
        var v = b(pos) & 0xff; pos += 1
        if (v == 0xff) {
          if (pos >= b.length) throw Malformed
          val m = b(pos) & 0xff
          if (m == 0x00) pos += 1 // stuffed FF
          else throw Malformed // marker inside entropy read = overrun
          v = 0xff
        }
        cur = v; nBits = 8
      }
      nBits -= 1
      (cur >> nBits) & 1
    }
    def bits(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    def alignAndExpectRestart(n: Int): Unit = {
      nBits = 0
      if (pos + 2 > b.length) throw Malformed
      if ((b(pos) & 0xff) != 0xff || (b(pos + 1) & 0xff) != (0xd0 + n))
        throw Malformed
      pos += 2
    }
  }

  private def extendSign(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** Straightforward double-precision separable 8×8 IDCT (T.81 A.3.3);
    * `in` is the dequantized natural-order block, output is level-
    * shifted, clamped samples. */
  private def idct8x8(in: Array[Double], out: Array[Int]): Unit = {
    val tmp = new Array[Double](64)
    val c = new Array[Double](8)
    var i = 0
    while (i < 8) { c(i) = if (i == 0) 1.0 / math.sqrt(2.0) else 1.0; i += 1 }
    // rows of frequency -> columns pass then rows pass
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          s += c(u) * in(y * 8 + u) * math.cos((2 * x + 1) * u * math.Pi / 16)
          u += 1
        }
        tmp(y * 8 + x) = s / 2
        x += 1
      }
      y += 1
    }
    var x = 0
    while (x < 8) {
      var yy = 0
      while (yy < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          s += c(v) * tmp(v * 8 + x) * math.cos((2 * yy + 1) * v * math.Pi / 16)
          v += 1
        }
        val px = math.round(s / 2 + 128).toInt
        out(yy * 8 + x) = if (px < 0) 0 else if (px > 255) 255 else px
        yy += 1
      }
      x += 1
    }
  }

  private final case class Component(id: Int, h: Int, v: Int, tq: Int,
                                     var td: Int = 0, var ta: Int = 0)

  /** Full decode. `None` for anything that is not a well-formed 8-bit
    * sequential-baseline JPEG. */
  def decode(b: Array[Byte]): Option[Decoded] = {
    try {
      val cur = new Cursor(b, 0, b.length)
      import cur.{be16 => u16, u8}
      if (u8() != 0xff || u8() != 0xd8) return None // SOI
      val quant = new Array[Array[Int]](4)
      val huffDc = new Array[Huff](4)
      val huffAc = new Array[Huff](4)
      var nQuant = 0; var nHuff = 0
      var restartInterval = 0
      var precision = 0; var height = 0; var width = 0
      var comps: Array[Component] = null
      var sofSeen = false
      var result: Decoded = null
      while (result == null) {
        var m = u8()
        while (m != 0xff) m = u8() // tolerate fill bytes
        var marker = u8()
        while (marker == 0xff) marker = u8()
        marker match {
          case 0xd9 => throw Malformed // EOI before any scan
          case 0xdb => // DQT
            val segLen = u16(); val end = cur.pos + segLen - 2
            while (cur.pos < end) {
              val pqtq = u8()
              val pq = pqtq >> 4; val tq = pqtq & 15
              if (pq > 1 || tq > 3) throw Malformed
              val t = new Array[Int](64)
              var i = 0
              while (i < 64) { t(i) = if (pq == 1) u16() else u8(); i += 1 }
              if (quant(tq) == null) nQuant += 1
              quant(tq) = t
            }
            if (cur.pos != end) throw Malformed
          case 0xc4 => // DHT
            val segLen = u16(); val end = cur.pos + segLen - 2
            while (cur.pos < end) {
              val tcth = u8()
              val tc = tcth >> 4; val th = tcth & 15
              if (tc > 1 || th > 3) throw Malformed
              val counts = new Array[Int](16)
              var total = 0
              var i = 0
              while (i < 16) { counts(i) = u8(); total += counts(i); i += 1 }
              if (total > 256) throw Malformed
              val syms = new Array[Byte](total)
              i = 0
              while (i < total) { syms(i) = u8().toByte; i += 1 }
              val h = new Huff(counts, syms)
              if (tc == 0) { if (huffDc(th) == null) nHuff += 1; huffDc(th) = h }
              else { if (huffAc(th) == null) nHuff += 1; huffAc(th) = h }
            }
            if (cur.pos != end) throw Malformed
          case 0xdd => // DRI
            if (u16() != 4) throw Malformed
            restartInterval = u16()
          case 0xc0 => // SOF0 — sequential baseline
            val segLen = u16(); val end = cur.pos + segLen - 2
            precision = u8()
            height = u16(); width = u16()
            val nc = u8()
            if (precision != 8 || nc < 1 || nc > 4 ||
              width <= 0 || height <= 0) throw Malformed
            comps = Array.fill(nc) {
              val id = u8(); val hv = u8(); val tq = u8()
              val c = Component(id, hv >> 4, hv & 15, tq)
              if (c.h < 1 || c.h > 4 || c.v < 1 || c.v > 4 || tq > 3)
                throw Malformed
              c
            }
            if (cur.pos != end) throw Malformed
            sofSeen = true
          case 0xc1 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 |
               0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
            return None // extended/progressive/arithmetic: out of scope
          case 0xda => // SOS — one interleaved baseline scan
            if (!sofSeen) throw Malformed
            val segLen = u16(); val end = cur.pos + segLen - 2
            val ns = u8()
            if (ns != comps.length) throw Malformed // non-interleaved: out of scope
            var i = 0
            while (i < ns) {
              val cs = u8(); val tdta = u8()
              val comp = comps.find(_.id == cs).getOrElse(throw Malformed)
              comp.td = tdta >> 4; comp.ta = tdta & 15
              i += 1
            }
            cur.pos += 3 // Ss/Se/Ah-Al (fixed for baseline)
            if (cur.pos != end) throw Malformed
            result = decodeScan(b, cur.pos, width, height, comps, quant,
              huffDc, huffAc, restartInterval, nQuant, nHuff, precision)
          case 0x01 => () // TEM, standalone
          case mk if mk >= 0xd0 && mk <= 0xd7 => () // stray RST, standalone
          case _ => // APPn / COM / anything with a length: skip
            val len = u16()
            if (len < 2 || cur.pos + len - 2 > b.length) throw Malformed
            cur.pos += len - 2
        }
      }
      Some(result)
    } catch {
      // OutOfMemoryError is deliberately NOT caught (ADVICE r8):
      // mapping it to valid=false would disguise genuine executor
      // memory pressure as a data-quality signal. Allocation size is
      // instead bounded up front (pixel cap + Long plane-byte cap in
      // decodeScan), so a crafted header can't reach a huge allocation.
      case Malformed | _: ArrayIndexOutOfBoundsException |
           _: NegativeArraySizeException =>
        None
    }
  }

  private def decodeScan(b: Array[Byte], start: Int, width: Int, height: Int,
                         comps: Array[Component], quant: Array[Array[Int]],
                         huffDc: Array[Huff], huffAc: Array[Huff],
                         restartInterval: Int, nQuant: Int, nHuff: Int,
                         precision: Int): Decoded = {
    if (width.toLong * height > 64L * 1024 * 1024) throw Malformed
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
    comps.foreach { c =>
      if (quant(c.tq) == null || huffDc(c.td) == null || huffAc(c.ta) == null)
        throw Malformed
    }
    // per-component plane at its own sampled resolution; the pixel cap
    // above does NOT bound plane sizes (a 2^26×1 image with 4×
    // sampling has a 2^31-entry plane whose Int product wraps), so
    // bound the per-plane element count in LONG before allocating
    val planeW = comps.map(c => mcusX * 8 * c.h)
    val planeH = comps.map(c => mcusY * 8 * c.v)
    comps.indices.foreach { i =>
      if (planeW(i).toLong * planeH(i) > 128L * 1024 * 1024)
        throw Malformed
    }
    val planes = Array.tabulate(comps.length)(i =>
      new Array[Int](planeW(i) * planeH(i)))
    val br = new BitReader(b, start)
    val dcPred = new Array[Int](comps.length)
    val coef = new Array[Double](64)
    val px = new Array[Int](64)
    var mcu = 0
    val nMcus = mcusX.toLong * mcusY
    var restartCount = 0
    while (mcu < nMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        br.alignAndExpectRestart(restartCount & 7)
        restartCount += 1
        java.util.Arrays.fill(dcPred, 0)
      }
      val mx = (mcu % mcusX).toInt
      val my = (mcu / mcusX).toInt
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val qt = quant(c.tq)
        var by = 0
        while (by < c.v) {
          var bx = 0
          while (bx < c.h) {
            // one 8x8 block
            java.util.Arrays.fill(coef, 0.0)
            val sDc = huffDc(c.td).decode(br)
            if (sDc > 15) throw Malformed
            val diff = extendSign(br.bits(sDc), sDc)
            dcPred(ci) += diff
            coef(0) = dcPred(ci).toDouble * qt(0)
            var k = 1
            while (k < 64) {
              val rs = huffAc(c.ta).decode(br)
              val r = rs >> 4; val s = rs & 15
              if (s == 0) {
                if (r == 15) k += 16 // ZRL
                else k = 64 // EOB
              } else {
                k += r
                if (k > 63) throw Malformed
                coef(Zigzag(k)) = extendSign(br.bits(s), s).toDouble * qt(k)
                k += 1
              }
            }
            idct8x8(coef, px)
            // place into the component plane
            val ox = (mx * c.h + bx) * 8
            val oy = (my * c.v + by) * 8
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                planes(ci)((oy + yy) * planeW(ci) + ox + xx) = px(yy * 8 + xx)
                xx += 1
              }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      mcu += 1
    }
    // upsample to full resolution (sample replication) and crop
    val full = Array.tabulate(comps.length) { ci =>
      val c = comps(ci)
      val out = new Array[Int](width * height)
      val sx = hMax / c.h; val sy = vMax / c.v
      var y = 0
      while (y < height) {
        val py = y / sy
        var x = 0
        while (x < width) {
          out(y * width + x) = planes(ci)(py * planeW(ci) + x / sx)
          x += 1
        }
        y += 1
      }
      out
    }
    // JFIF color convert for 3-component scans
    val outPlanes =
      if (comps.length == 3) {
        val r = new Array[Int](width * height)
        val g = new Array[Int](width * height)
        val bb = new Array[Int](width * height)
        var i = 0
        while (i < width * height) {
          val yv = full(0)(i)
          val cb = full(1)(i) - 128
          val cr = full(2)(i) - 128
          def clamp(d: Double): Int = {
            val v = math.round(d).toInt
            if (v < 0) 0 else if (v > 255) 255 else v
          }
          r(i) = clamp(yv + 1.402 * cr)
          g(i) = clamp(yv - 0.344136 * cb - 0.714136 * cr)
          bb(i) = clamp(yv + 1.772 * cb)
          i += 1
        }
        Array(r, g, bb)
      } else full
    Decoded(width, height, outPlanes, nQuant, nHuff, hMax, vMax,
      restartInterval, precision)
  }

  /** Parse-to-row stage (q153): structural fields + the luma-plane sum
    * (an integer fingerprint of the decoded raster — differentially
    * pinned against the JDK codec in JpegSpec, not oracle-computable
    * because IDCT is spec-approximate). */
  private[graft] def parseInfo(id: Long, b: Array[Byte]): JpegInfo = {
    decode(b) match {
      case None => JpegInfo(id, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0L, 0L,
        valid = false)
      case Some(d) =>
        val mcus = ((d.width + 8 * d.hMax - 1) / (8 * d.hMax)).toLong *
          ((d.height + 8 * d.vMax - 1) / (8 * d.vMax))
        var s = 0L
        val p0 = d.planes(0)
        var i = 0
        while (i < p0.length) { s += p0(i); i += 1 }
        JpegInfo(id, d.width, d.height, d.planes.length, d.precision,
          d.hMax, d.vMax, d.nQuant, d.nHuff, d.restartInterval, mcus, s,
          valid = true)
    }
  }

  /** Distributed decode (the L95/L104 seam). */
  def decodeJpeg(media: Dataset[(Long, Array[Byte])]): Dataset[JpegInfo] = {
    import media.sparkSession.implicits._
    media.mapPartitions(it => it.map { case (id, bytes) => parseInfo(id, bytes) })
  }
}
