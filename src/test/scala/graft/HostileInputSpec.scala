package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.codec.{Gzip, Malformed}
import graft.operators.{Avro, Gif, Http, Jpeg, Mp3, Mp4, Multimodal, ParquetFile,
  ParquetWrite, Pdf, Tar, Tiff, Warc, Zip}
import graft.sources.{Hdf5, NcClassic}

/** The hostile-input law for the binary decoders: each
  * public entry point, fed its own writer's fixture damaged by
  * truncation at every offset, seeded single-bit flips, `0x7fffffff`
  * written at every 4-byte offset (both byte orders) and CRC-valid
  * lying size headers, returns its format's invalid row — or the
  * failure its callers already catch — and nothing else. */
class HostileInputSpec extends AnyFunSuite with Matchers {
  import HostileInputSpec._

  private val decoders: Seq[Decoder] = Seq(
    Decoder("png",
      Multimodal.pngPayloadBytes(Array.tabulate(6 * 9)(i => (i * 37) % 256), 9),
      b => Multimodal.parsePng(1L, b): Unit),
    Decoder("zip", Zip.zipPayload(3, 7), b => Zip.parse(1L, b): Unit),
    Decoder("tiff", Tiff.tiffPayload(2, 5), b => Tiff.parse(1L, b): Unit),
    Decoder("avro-deflate",
      Avro.writeOcf((0 until 6).map(i =>
        (i.toLong * 7, if (i % 3 == 0) None else Some(i.toLong), "s" * i)),
        Array.tabulate[Byte](16)(_.toByte), deflate = true),
      b => Avro.parse(1L, b): Unit),
    Decoder("avro-snappy",
      Avro.writeOcfDeep((0 until 5).map(i =>
        Avro.DeepRec(i.toLong, "src" + i, if (i % 2 == 0) Some(-i.toLong) else None,
          Seq.tabulate(i)(_.toLong * 300), if (i % 3 == 0) None else Some(Seq("t", "u" * i)))),
        Array.tabulate[Byte](16)(i => (i * 3).toByte), "snappy"),
      b => Avro.parseDeep(1L, b): Unit),
    Decoder("pdf", Pdf.pdfPayload(2, 3L, flate = true),
      b => Pdf.parse(1L, b): Unit),
    Decoder("warc", Warc.warcPayload(4, 3), b => Warc.parse(1L, b): Unit),
    Decoder("http", httpGzipMessage(Array.tabulate[Byte](90)(i => (i * 5).toByte)),
      b => Http.parseResponse(1L, 0L, b): Unit),
    Decoder("parquet",
      ParquetWrite.writeFile(Seq(
        ParquetWrite.LongCol("id", Array.tabulate(40)(_.toLong * 3)),
        ParquetWrite.StrCol("s", Array.tabulate(40)(i => "v" + (i % 4)))),
        rowsPerGroup = 25, pageRows = 10),
      { b => ParquetFile.parse(1L, b); ParquetFile.parseColumnSums(1L, b): Unit }),
    Decoder("hdf5", hdf5Fixture, b => {
      val src = new Hdf5.ArraySource(b)
      Hdf5.parse(src).foreach(_.datasets.foreach { ds =>
        try Hdf5.readRows(src, ds, 0, ds.dims.headOption.fold(0)(_.toInt)): Unit
        catch { case Malformed | _: IllegalArgumentException => () }
      })
    }),
    Decoder("gif", Gif.gifPayload(6, 4, 2, 3), b => Gif.parse(1L, b): Unit),
    Decoder("jpeg", jpegFixture, b => Jpeg.parseInfo(1L, b): Unit),
    Decoder("mp3-frames", mp3SideInfoFixture, b => Mp3.parseFrames(1L, b): Unit),
    Decoder("mp3-side-info", mp3SideInfoFixture, b => Mp3.parseSideInfo(1L, b): Unit),
    Decoder("mp3-spectral", mp3SpectralFixture, b => Mp3.parseSpectral(1L, b): Unit),
    Decoder("mp3-synth", mp3SpectralFixture, b => Mp3.parseSynth(1L, b): Unit),
    Decoder("mp4", Mp4.mp4Payload(4, 2), b => Mp4.parse(1L, b): Unit),
    Decoder("tar", Tar.tarPayload(2, 1), b => Tar.parse(1L, b): Unit),
    Decoder("nc-header", ncFixture, b => NcClassic.parseHeader(b): Unit),
    Decoder("nc-info", ncFixture, b => NcClassic.parseInfo(1L, b): Unit),
    Decoder("wav", wavFixture, b => Multimodal.parseWav(1L, b): Unit))

  /** Runs every damaged copy; returns the first few escapes. */
  private def escapes(d: Decoder, cases: Iterator[(String, Array[Byte])]): Seq[String] =
    cases.flatMap { case (label, b) =>
      try { d.probe(b); None }
      catch {
        case e: Throwable =>
          Some(s"${d.name} $label: $e at ${e.getStackTrace.take(3).mkString(" < ")}")
      }
    }.take(5).toSeq

  test("every fixture decodes valid before it is damaged") {
    Multimodal.parsePng(1L, decoders.head.fixture).valid shouldBe true
    Zip.parse(1L, Zip.zipPayload(3, 7)).valid shouldBe true
    Tiff.parse(1L, Tiff.tiffPayload(2, 5)).valid shouldBe true
    Pdf.parse(1L, Pdf.pdfPayload(2, 3L, flate = true)).valid shouldBe true
    Warc.parse(1L, Warc.warcPayload(4, 3)).valid shouldBe true
    val byName = decoders.map(d => d.name -> d.fixture).toMap
    Avro.parse(1L, byName("avro-deflate")).valid shouldBe true
    Avro.parseDeep(1L, byName("avro-snappy")).valid shouldBe true
    Http.parseResponse(1L, 0L, byName("http")).valid shouldBe true
    ParquetFile.parseColumnSums(1L, byName("parquet")).forall(_.valid) shouldBe true
    Hdf5.parse(new Hdf5.ArraySource(hdf5Fixture)).map(_.datasets.size) shouldBe Some(2)
    Gif.parse(1L, byName("gif")).valid shouldBe true
    Jpeg.parseInfo(1L, jpegFixture).valid shouldBe true
    Mp3.parseFrames(1L, mp3SideInfoFixture).valid shouldBe true
    Mp3.parseSideInfo(1L, mp3SideInfoFixture).valid shouldBe true
    Mp3.parseSpectral(1L, mp3SpectralFixture).valid shouldBe true
    Mp3.parseSynth(1L, mp3SpectralFixture).valid shouldBe true
    Mp4.parse(1L, byName("mp4")).valid shouldBe true
    Tar.parse(1L, byName("tar")).valid shouldBe true
    NcClassic.parseInfo(1L, ncFixture).valid shouldBe true
    Multimodal.parseWav(1L, wavFixture).valid shouldBe true
  }

  decoders.foreach { d =>
    test(s"${d.name}: truncation at every offset, seeded bit flips and " +
        "0x7fffffff words return the invalid row, never an escape") {
      val fx = d.fixture
      val truncs = (0 until fx.length).iterator.map(n => s"truncated to $n" -> fx.take(n))
      val rnd = new scala.util.Random(fx.length.toLong)
      val flips = Iterator.fill(2000) {
        val m = fx.clone()
        val i = rnd.nextInt(fx.length); val bit = rnd.nextInt(8)
        m(i) = (m(i) ^ (1 << bit)).toByte
        s"bit $bit of byte $i flipped" -> m
      }
      val words = (0 to fx.length - 4 by 4).iterator.flatMap { o =>
        Seq("LE" -> Array[Byte](-1, -1, -1, 0x7f), "BE" -> Array[Byte](0x7f, -1, -1, -1))
          .map { case (order, w) =>
            val m = fx.clone(); System.arraycopy(w, 0, m, o, 4)
            s"0x7fffffff $order at $o" -> m
          }
      }
      escapes(d, truncs ++ flips ++ words) shouldBe empty
    }
  }

  test("CRC-valid lying headers: PNG IHDR sizes, gzip ISIZE and Zip usize " +
      "are rejected before any large allocation") {
    Seq((1 << 30, 1, 2), (Int.MaxValue, 1, 0), (1 << 28, 3, 0)).foreach {
      case (w, h, ct) =>
        var info: Multimodal.PngInfo = null
        allocatedBy { info = Multimodal.parsePng(1L, lyingPng(w, h, ct)) } should be < (16L << 20)
        info.valid shouldBe false
    }
    // gzip ISIZE: the first WARC member and an HTTP body claim 2^31 - 1
    val warc = Warc.warcPayload(2, 3)
    val firstEnd = Warc.warcPayload(1, 3).length
    le32(warc, firstEnd - 4, Int.MaxValue)
    Warc.parse(1L, warc).valid shouldBe false
    val body = Gzip.member(Array.fill[Byte](50)(7), None)
    le32(body, body.length - 4, Int.MaxValue)
    Http.parseResponse(1L, 0L, httpMessage(body)).valid shouldBe false
    // Zip usize in the central directory: past the archive cap, and
    // under it but past what DEFLATE can expand the entry to
    Seq(Int.MaxValue, (1 << 26) - 1).foreach { usize =>
      val zip = Zip.zipPayload(3, 7)
      val cd = (0 until zip.length - 4).find(i => zip(i) == 'P' && zip(i + 1) == 'K' &&
        zip(i + 2) == 1 && zip(i + 3) == 2).get
      val deflated = (zip(cd + 10) & 0xff) == 8
      val entry = if (deflated) cd else (cd + 1 until zip.length - 4).find(i =>
        zip(i) == 'P' && zip(i + 1) == 'K' && zip(i + 2) == 1 && zip(i + 3) == 2 &&
          (zip(i + 10) & 0xff) == 8).get
      le32(zip, entry + 24, usize)
      var info: Zip.ZipInfo = null
      allocatedBy { info = Zip.parse(1L, zip) } should be < (16L << 20)
      info.valid shouldBe false
    }
  }
}

object HostileInputSpec {

  /** A decoder's fixture and a probe that returns normally for every
    * outcome the decoder's callers accept. */
  final case class Decoder(name: String, fixture: Array[Byte],
                           probe: Array[Byte] => Unit)

  /** Bytes the calling thread allocates while `f` runs. */
  def allocatedBy(f: => Unit): Long = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val id = Thread.currentThread.getId
    val a0 = mx.getThreadAllocatedBytes(id)
    f
    mx.getThreadAllocatedBytes(id) - a0
  }

  def le32(b: Array[Byte], o: Int, v: Int): Unit = {
    var i = 0
    while (i < 4) { b(o + i) = (v >>> (8 * i)).toByte; i += 1 }
  }

  /** A 69-byte PNG with valid CRCs whose IHDR claims `w`×`h` 8-bit
    * pixels of `colorType`, over a 12-byte zlib IDAT. */
  def lyingPng(w: Int, h: Int, colorType: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def chunk(ctype: String, data: Array[Byte]): Unit = {
      def be32(v: Long): Unit =
        Seq(24, 16, 8, 0).foreach(s => out.write(((v >> s) & 0xff).toInt))
      be32(data.length)
      val tb = ctype.getBytes("US-ASCII")
      out.write(tb); out.write(data)
      val crc = new java.util.zip.CRC32
      crc.update(tb); crc.update(data)
      be32(crc.getValue)
    }
    chunk("IHDR", java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte).put(colorType.toByte).put(0.toByte).put(0.toByte)
      .put(0.toByte).array())
    chunk("IDAT", graft.codec.Flate.deflate(new Array[Byte](4), 9, raw = false)
      .padTo(12, 0.toByte))
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  def httpMessage(body: Array[Byte]): Array[Byte] =
    ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n" +
      "Content-Encoding: gzip\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes("ISO-8859-1") ++ body

  def httpGzipMessage(content: Array[Byte]): Array[Byte] =
    httpMessage(Gzip.member(content, None))

  /** A 16×8 gray JPEG from the JDK's own encoder. */
  lazy val jpegFixture: Array[Byte] = {
    System.setProperty("java.awt.headless", "true")
    val img = new java.awt.image.BufferedImage(16, 8,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setPixels(0, 0, 16, 8, Array.tabulate(128)(i => (i * 29) % 256))
    val bo = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bo))
    bo.toByteArray
  }

  lazy val mp3SideInfoFixture: Array[Byte] = Mp3.mp3PayloadSideInfo(2, 1, 0)

  lazy val mp3SpectralFixture: Array[Byte] = Mp3.mp3PayloadSpectral(2, 3, 0)

  lazy val ncFixture: Array[Byte] = {
    import NcClassic._
    NcClassic.bytes(2, Seq("line" -> 3, "sample" -> 4),
      Seq(NcAttr("title", NcChar, 0, "hostile", Array.empty),
        NcAttr("aoi", NcInt, 2, "", Array(3.0, 97.0))),
      Seq((VarSpec("sig", NcShort, Seq(0, 1)), Array.tabulate(12)(i => i * 1000.0 - 6000)),
        (VarSpec("d", NcDouble, Seq(0, 1)), Array.tabulate(12)(i => i * 0.5))))
  }

  /** RIFF/WAVE: a 16-byte PCM `fmt ` chunk, an odd-size `LIST` chunk
    * (so the pad byte is walked) and 40 bytes of 16-bit samples. */
  lazy val wavFixture: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + 24 + 12 + 48)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(12 + 24 + 12 + 48 - 8)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1.toShort)
      .putShort(2.toShort).putInt(8000).putInt(32000).putShort(4.toShort)
      .putShort(16.toShort)
    bb.put("LIST".getBytes("US-ASCII")).putInt(3).put(Array[Byte](1, 2, 3, 0))
    bb.put("data".getBytes("US-ASCII")).putInt(40)
    (0 until 20).foreach(i => bb.putShort((i * 1733 - 16000).toShort))
    bb.array()
  }

  def hdf5Fixture: Array[Byte] = {
    import graft.sources.Hdf5._
    Hdf5.writeBytes(Seq(
      H5Var("sar", TFloat64, 6, 5, Array.tabulate(30)(i => i * 0.25), Some((4, 5)), 6),
      H5Var("ids", TInt32, 6, 5, Array.tabulate(30)(i => (i % 7).toDouble), Some((3, 5)), 6)),
      0)
  }
}
