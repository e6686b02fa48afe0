package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** PNG decode (VERDICT r7 #2): spec-side containers are built with the
  * JDK `Deflater` (real entropy-coded zlib streams — the path q149's
  * store-mode codegen synthesis cannot cover), plus RGB, multi-IDAT,
  * CRC/structure corruption and byte fuzz. */
class PngSpec extends SparkSpec {

  /** Independent spec-side PNG builder: filters each scanline with
    * `filterOf(row)`, deflates (level 9 — dynamic Huffman, nothing
    * like the stored blocks the codegen gate emits), real CRCs.
    * `idatSplit` > 0 splits the zlib stream across that many IDATs. */
  private def buildPng(px: Array[Int], w: Int, bpp: Int,
                       filterOf: Int => Int, idatSplit: Int = 1): Array[Byte] = {
    val stride = w * bpp
    val h = px.length / stride
    val raw = new java.io.ByteArrayOutputStream()
    for (r <- 0 until h) {
      val ft = filterOf(r)
      raw.write(ft)
      for (i <- 0 until stride) {
        val x = px(r * stride + i)
        val a = if (i >= bpp) px(r * stride + i - bpp) else 0
        val b = if (r > 0) px((r - 1) * stride + i) else 0
        val c = if (r > 0 && i >= bpp) px((r - 1) * stride + i - bpp) else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
          case _ => 0 // out-of-spec filter id: bytes pass through raw
        }
        raw.write((x - pred) & 0xff)
      }
    }
    val defl = new java.util.zip.Deflater(9)
    defl.setInput(raw.toByteArray); defl.finish()
    val zbuf = new Array[Byte](raw.size() + 64)
    val zlen = defl.deflate(zbuf); defl.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def chunk(ctype: String, data: Array[Byte]): Unit = {
      def be32(v: Long): Unit =
        Seq(24, 16, 8, 0).foreach(s => out.write(((v >> s) & 0xff).toInt))
      be32(data.length)
      val tb = ctype.getBytes("US-ASCII")
      out.write(tb)
      out.write(data)
      val crc = new java.util.zip.CRC32
      crc.update(tb); crc.update(data)
      be32(crc.getValue)
    }
    val colorType = if (bpp == 1) 0 else 2
    chunk("IHDR", {
      val b = java.nio.ByteBuffer.allocate(13)
      b.putInt(w).putInt(h).put(8.toByte).put(colorType.toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte)
      b.array()
    })
    val z = zbuf.take(zlen)
    val per = math.max(1, z.length / idatSplit)
    z.grouped(per).foreach(part => chunk("IDAT", part))
    chunk("IEND", Array.empty)
    out.toByteArray
  }

  private def pxOf(n: Int): Array[Int] = Array.tabulate(n)(i => (i * 89) % 256)

  test("real-deflate gray round trip, every filter type") {
    val px = pxOf(9 * 6)
    val png = buildPng(px, w = 9, bpp = 1, filterOf = _ % 5)
    val info = Multimodal.parsePng(5L, png)
    info.valid shouldBe true
    info.width shouldBe 9
    info.height shouldBe 6
    info.color_type shouldBe 0
    info.px_sum shouldBe px.map(_.toLong).sum
    info.px_energy shouldBe px.map(v => v.toLong * v).sum
  }

  test("RGB (color type 2): bpp=3 neighbors in Sub/Paeth, sums over all channels") {
    val px = pxOf(4 * 3 * 5) // 4 wide, 5 tall, 3 channels
    val png = buildPng(px, w = 4, bpp = 3, filterOf = r => Seq(1, 4, 3, 2, 0)(r))
    val info = Multimodal.parsePng(6L, png)
    info.valid shouldBe true
    info.width shouldBe 4
    info.color_type shouldBe 2
    info.px_sum shouldBe px.map(_.toLong).sum
    info.px_energy shouldBe px.map(v => v.toLong * v).sum
  }

  test("multi-IDAT: zlib stream split across chunks concatenates before inflate") {
    val px = pxOf(8 * 8)
    val png = buildPng(px, w = 8, bpp = 1, filterOf = _ => 2, idatSplit = 5)
    val info = Multimodal.parsePng(7L, png)
    info.valid shouldBe true
    info.n_chunks should be >= 5
    info.px_sum shouldBe px.map(_.toLong).sum
  }

  test("corruption: CRC flip, truncated stream, undeclared extra pixels, bad filter → invalid") {
    val px = pxOf(5 * 5)
    val good = buildPng(px, w = 5, bpp = 1, filterOf = _ % 5)
    Multimodal.parsePng(1L, good).valid shouldBe true
    // flip one byte inside the IDAT payload: chunk CRC must catch it
    val idatOff = good.indexOfSlice("IDAT".getBytes("US-ASCII"))
    val crcFlip = good.updated(idatOff + 6, (good(idatOff + 6) ^ 0x40).toByte)
    Multimodal.parsePng(1L, crcFlip).valid shouldBe false
    // declare a taller image than the stream carries: inflate comes up short
    def withHeight(b: Array[Byte], h: Int): Array[Byte] = {
      val ihdr = b.indexOfSlice("IHDR".getBytes("US-ASCII"))
      val patched = b.clone()
      java.nio.ByteBuffer.wrap(patched, ihdr + 8, 4).putInt(h)
      val crc = new java.util.zip.CRC32
      crc.update(patched, ihdr, 17)
      java.nio.ByteBuffer.wrap(patched, ihdr + 21, 4).putInt(crc.getValue.toInt)
      patched
    }
    Multimodal.parsePng(1L, withHeight(good, 9)).valid shouldBe false
    // ...and a SHORTER one: undeclared trailing pixels are malformed too
    Multimodal.parsePng(1L, withHeight(good, 3)).valid shouldBe false
    // filter type 5 in the first scanline byte
    val pxZero = Array.fill(5 * 2)(0)
    val ftBad = buildPng(pxZero, w = 5, bpp = 1, filterOf = _ => 0)
    // rebuild with an illegal filter via the builder's own hook
    val ftBad2 = buildPng(pxZero, w = 5, bpp = 1, filterOf = _ => 5)
    Multimodal.parsePng(1L, ftBad).valid shouldBe true
    Multimodal.parsePng(1L, ftBad2).valid shouldBe false
  }

  test("interlaced / 16-bit / palette PNGs are cleanly rejected, not mis-summed") {
    val px = pxOf(4 * 4)
    val good = buildPng(px, w = 4, bpp = 1, filterOf = _ => 0)
    def patchIhdrByte(b: Array[Byte], rel: Int, v: Int): Array[Byte] = {
      val ihdr = b.indexOfSlice("IHDR".getBytes("US-ASCII"))
      val p = b.clone()
      p(ihdr + 4 + rel) = v.toByte
      val crc = new java.util.zip.CRC32
      crc.update(p, ihdr, 17)
      java.nio.ByteBuffer.wrap(p, ihdr + 21, 4).putInt(crc.getValue.toInt)
      p
    }
    Multimodal.parsePng(1L, patchIhdrByte(good, 8, 16)).valid shouldBe false // bit depth
    Multimodal.parsePng(1L, patchIhdrByte(good, 9, 3)).valid shouldBe false  // palette
    Multimodal.parsePng(1L, patchIhdrByte(good, 12, 1)).valid shouldBe false // Adam7
  }

  test("byte fuzz: no payload throws") {
    val rnd = new scala.util.Random(20260814)
    (0 until 500).foreach { _ =>
      val n = rnd.nextInt(200)
      val b = new Array[Byte](n); rnd.nextBytes(b)
      if (rnd.nextBoolean() && n >= 8)
        Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
          .map(_.toByte).copyToArray(b)
      noException should be thrownBy Multimodal.parsePng(0L, b)
    }
  }

  test("codegen synthesis round trip matches in-JVM parse (the q149 path, locally)") {
    import spark.implicits._
    val df = Seq((1L, "abcdefghijklmnopqrstuvwxy"), (2L, "0123456789ABCDEFGHIJ"))
      .toDF("media_id", "text")
      .select(col("media_id"),
        Multimodal.pngRawPixels(col("text").cast("binary")).as("raw"))
      .select(col("media_id"), Multimodal.pngPayload(col("raw"), 5).as("payload"))
    val infos = Multimodal.decodePng(df.as[(Long, Array[Byte])]).collect()
      .sortBy(_.media_id)
    infos.map(_.valid).toSeq shouldBe Seq(true, true)
    infos.head.width shouldBe 5
    infos.head.height shouldBe 5
    infos.head.px_sum shouldBe "abcdefghijklmnopqrstuvwxy".getBytes("UTF-8").map(_.toLong).sum
    infos(1).height shouldBe 4
    infos(1).px_sum shouldBe "0123456789ABCDEFGHIJ".getBytes("UTF-8").map(_.toLong).sum
  }

  test("imperative pngPayloadBytes is BYTE-IDENTICAL to the codegen synthesis " +
      "(the r9 q149 seam; randomized parity witness)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val widths = Seq(3, 5, 8)
    widths.foreach { w =>
      val cases = (0 until 20).map { i =>
        val rows = 1 + rnd.nextInt(40)
        (i.toLong, Array.fill(rows * w)(rnd.nextInt(256)))
      }
      val codegen = cases.toDF("id", "raw")
        .select(col("id"), Multimodal.pngPayload(col("raw"), w).as("p"))
        .as[(Long, Array[Byte])].collect().toMap
      cases.foreach { case (id, raw) =>
        val imp = Multimodal.pngPayloadBytes(raw, w)
        withClue(s"w=$w id=$id: ") {
          imp.toSeq shouldBe codegen(id).toSeq
        }
      }
    }
    // and the imperative form's own guards are as loud as codegen's
    an[IllegalArgumentException] should be thrownBy
      Multimodal.pngPayloadBytes(Array(1, 2, 3), 5) // sub-row raster
    an[IllegalArgumentException] should be thrownBy
      Multimodal.pngPayloadBytes(Array.fill(11000 * 6)(0), 6) // LEN overflow
  }

  test("lying IHDR sizes with valid CRCs: invalid, no Int overflow, and " +
      "no raster allocated before the inflate") {
    import HostileInputSpec.{allocatedBy, lyingPng}
    // 2^30 RGB and 2^31-1 gray overflowed width*bpp and 1+stride in Int;
    // 2^28 x 3 gray asked for an 805 MB raster from a 12-byte stream
    Seq((1 << 30, 1, 2), (Int.MaxValue, 1, 0), (1 << 28, 3, 0)).foreach {
      case (w, h, ct) =>
        val png = lyingPng(w, h, ct)
        png.length shouldBe 69
        var info: Multimodal.PngInfo = null
        allocatedBy { info = Multimodal.parsePng(1L, png) } should be < (16L << 20)
        withClue(s"${w}x$h colorType $ct: ") { info.valid shouldBe false }
    }
  }
}
