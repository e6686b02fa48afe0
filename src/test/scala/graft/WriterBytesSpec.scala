package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.codec.Gzip
import graft.operators.{Avro, Gif, Http, Mp3, Mp4, Multimodal, ParquetWrite,
  Pdf, Snappy, Tar, Tiff, Warc, Wet, Zip}
import graft.sources.{Hdf5, NcClassic}

/** Pins the bytes every fixture writer emits: one SHA-256 per writer
  * over its output for a fixed grid of seeds. The writers frame their
  * integers through `graft.codec`'s fixed-width writers, so a change to
  * byte order, width or signedness there shows up here as a new hash;
  * the decoders' own specs only see what a round trip can see. */
class WriterBytesSpec extends AnyFunSuite with Matchers {

  private val seeds = 0 until 4

  /** `seed`-derived bytes of `n` for the writers that take raw content. */
  private def content(seed: Int, n: Int): Array[Byte] =
    Array.tabulate[Byte](n)(j => ((seed * 31 + j * 7 + j * j) % 251).toByte)

  private def avroRecs(s: Int) = (0 until 3 + s).map(i =>
    (i.toLong * 7 - s, if ((i + s) % 3 == 0) None else Some(i.toLong << (8 * s)),
      "s" * (i + s)))

  private def avroDeep(s: Int) = (0 until 3 + s).map(i =>
    Avro.DeepRec(i.toLong + s, "src" + i, if (i % 2 == 0) Some(-i.toLong) else None,
      Seq.tabulate(i)(_.toLong * 300 + s), if ((i + s) % 3 == 0) None else Some(Seq("t", "u" * i))))

  private def sync(s: Int) = Array.tabulate[Byte](16)(i => (i * 3 + s).toByte)

  private def hdf5(level: Int)(s: Int): Array[Byte] = {
    import graft.sources.Hdf5._
    Hdf5.writeBytes(Seq(
      H5Var("sar", TFloat64, 6, 5, Array.tabulate(30)(i => i * 0.25 - s), Some((4, 5)), level),
      H5Var("ids", TInt32, 6, 5, Array.tabulate(30)(i => ((i + s) % 7).toDouble),
        Some((3, 5)), level, bigEndian = s % 2 == 1),
      H5Var("f", TFloat32, 3, 4, Array.tabulate(12)(i => i * 1.5 + s)),
      H5Var("b", TInt8, 2, 3, Array.tabulate(6)(i => (i - 3 + s).toDouble))),
      if (s % 2 == 0) 0 else 2)
  }

  private def parquet(s: Int): Array[Byte] = {
    import ParquetWrite._
    val n = 30 + s
    writeFile(Seq(
      LongCol("id", Array.tabulate(n)(i => i.toLong * 3 - s)),
      StrCol("s", Array.tabulate(n)(i => "v" + ((i + s) % 4))),
      OptLongCol("ol", Array.tabulate(n)(i =>
        if (i % 3 == 0) null else java.lang.Long.valueOf(i * 1000L + s))),
      OptStrCol("os", Array.tabulate(n)(i => if (i % 4 == 1) null else "w" * (i % 5))),
      DoubleCol("d", Array.tabulate(n)(i => i * 0.5 - s)),
      OptDoubleCol("od", Array.tabulate(n)(i =>
        if (i % 5 == 0) null else java.lang.Double.valueOf(i / 3.0))),
      FloatCol("f", Array.tabulate(n)(i => i * 0.25f + s)),
      OptFloatCol("of", Array.tabulate(n)(i =>
        if (i % 2 == 0) null else java.lang.Float.valueOf(i.toFloat))),
      FloatListCol("fl", Array.tabulate(n)(i =>
        if (i % 7 == 0) null else Array.tabulate(i % 3)(j =>
          if (j == 1) null else java.lang.Float.valueOf(i + j.toFloat)))),
      DoubleListCol("dl", Array.tabulate(n)(i =>
        Array.tabulate(i % 2)(j => java.lang.Double.valueOf(i * 2.0 + j)))),
      LongListCol("ll", Array.tabulate(n)(i =>
        Array.tabulate(i % 4)(j => java.lang.Long.valueOf(i.toLong * j - s))))),
      rowsPerGroup = 12 + s, pageRows = 5)
  }

  private def nc(s: Int): Array[Byte] = {
    import NcClassic._
    val (h, w) = (3 + s, 4)
    NcClassic.bytes(1 + s % 2, Seq("line" -> h, "sample" -> w),
      Seq(NcAttr("title", NcChar, 0, "scene " + s, Array.empty),
        NcAttr("aoi", NcInt, 2, "", Array(3.0 + s, 97.0)),
        NcAttr("scale", NcDouble, 1, "", Array(0.25)),
        NcAttr("sh", NcShort, 2, "", Array(-2.0, 7.0)),
        NcAttr("fl", NcFloat, 1, "", Array(1.5)),
        NcAttr("by", NcByte, 3, "", Array(-1.0, 0.0, 1.0))),
      Seq(
        (VarSpec("d", NcDouble, Seq(0, 1)), Array.tabulate(h * w)(i => math.sin(i + s) * 1e3)),
        (VarSpec("f", NcFloat, Seq(0, 1)), Array.tabulate(h * w)(i => math.cos(i).toFloat.toDouble)),
        (VarSpec("i", NcInt, Seq(0, 1)), Array.tabulate(h * w)(i => (i * 7919 - 1000000 + s).toDouble)),
        (VarSpec("s", NcShort, Seq(0, 1)), Array.tabulate(h * w)(i => ((i * 31) % 65536 - 32768).toDouble)),
        (VarSpec("b", NcByte, Seq(0, 1)), Array.tabulate(h * w)(i => ((i * 13 + s) % 256 - 128).toDouble))))
  }

  /** (writer, SHA-256 of its outputs over `seeds`, the writer at one seed).
    * Recorded before the writers moved onto `graft.codec`'s fixed-width
    * writers; Zip's after its entries got a fixed timestamp. */
  private val writers: Seq[(String, String, Int => Array[Byte])] = Seq(
    ("Gzip.member", "97a7f6fc4841ddd5ee68f69e4792fef88531e102758603c7201498399490b9af",
      s => Gzip.member(content(s, 40 * s + 3), if (s % 2 == 0) None else Some(s"f$s.txt"))),
    ("Warc.warcPayload", "ba5029f80fd0b030ef54c293586526fa61bcef282def41c0705587c965ffad7e",
      s => Warc.warcPayload(1 + s, s)),
    ("Warc.warcRevisitPayload", "9d8c64dc1bafb0ba91798e12fae5f6c0c7a93aa6d0aedb2c89d464bda712c0ba",
      s => Warc.warcRevisitPayload(3 + s, s)),
    ("Http.warcHttpPayload", "425a56f223598e1a5aa5f39d7d1f5894c20d82640b12da242f38c466dccb1b6b",
      s => Http.warcHttpPayload(1 + s, s)),
    ("Http.warcChunkedPayload", "e9298af59bd515605f49593865519787f92f229f84475eb695c35d837f078fbd",
      s => Http.warcChunkedPayload(1 + s, s)),
    ("Wet.wetArchivePayload", "288b91d40a71fe832c932d5d9429fa3a6b8fd65d41b3df3f7b7e55b7a853a52d",
      s => Wet.wetArchivePayload(s.toLong, s"src$s", Seq.tabulate(s + 2)(i => s"w$i").mkString(" "))),
    ("Pdf.pdfPayload", "9a10ac875676b3379c4ed2820dedcdd02aed4818d31d649ce4ca784dddca137e",
      s => Pdf.pdfPayload(1 + s, s.toLong, flate = s % 2 == 1)),
    ("Pdf.deflateZlib", "dbfdd4f70636825b7e4af49f3b597c6a1c0db7887ce4050cd0330db2aeb1d1c4",
      s => Pdf.deflateZlib(content(s, 100 * s + 1))),
    ("Tiff.tiffPayload", "4c817e1c2fa958861c205f9d63b2764d81c40146485c4b03e04aa69603a19d7e",
      s => Tiff.tiffPayload(1 + s, s)),
    ("Zip.zipPayload", "cbef2b6b9c34657b3ed5753dd8b2d9e9ab00c6775463a4981f6a4110d3129cac",
      s => Zip.zipPayload(1 + s, s)),
    ("Multimodal.pngPayloadBytes", "c1ce2e43a36c272fbc4bb1ec59b4326381fd9fcfdd03de59b63834d7cb9bc617",
      s => Multimodal.pngPayloadBytes(Array.tabulate((s + 1) * (7 + s))(i => (i * 37 + s) % 256), 7 + s)),
    ("Avro.writeOcf null", "7ec1343a6645d755625866ad9a6c8e7da700679e28aeb1888ddded9bba1a3a88",
      s => Avro.writeOcf(avroRecs(s), sync(s), deflate = false)),
    ("Avro.writeOcf deflate", "1dd4e7db25dbea6c5dde3188b014658469f03df06bb3f2912fcc91006132a762",
      s => Avro.writeOcf(avroRecs(s), sync(s), deflate = true)),
    ("Avro.writeOcfDeep null", "504b7964a0c0e77450bafe60ca9a0662e601c757031577fb5eb19126326c2923",
      s => Avro.writeOcfDeep(avroDeep(s), sync(s), "null")),
    ("Avro.writeOcfDeep snappy", "308451026197c2d8264565ceab8b875bc4c944cd1594586f5446fd072acc77e2",
      s => Avro.writeOcfDeep(avroDeep(s), sync(s), "snappy")),
    ("Snappy.compress", "53ceb945c59c2e9da30bcf418821f4b2e4ecfe0d3d61dbc1dc1288e278bac9bb",
      s => Snappy.compress(content(s, 50 * s) ++ Array.fill[Byte](300 * s)(s.toByte) ++ content(s, 90))),
    ("Hdf5.writeBytes level 0", "ce10710089d46a2f0274830b02b54bd8420e8cc2624d21592e1ab1650c2ecfcc",
      hdf5(0)),
    ("Hdf5.writeBytes level 1", "8281584c73ff272ceff15bc09bd9a3a03a4302d76b66fa52fbd93e1039293a86",
      hdf5(1)),
    ("Hdf5.writeBytes level 6", "048a286089450f8278a9b60005a970be46fc17617918fc1ec3805958b8ccf29f",
      hdf5(6)),
    ("Hdf5.writeBytes level 9", "9b3632838de22bfe8d12eb8a3f783e99ff49c270b28abb62edca8b5625174529",
      hdf5(9)),
    ("ParquetWrite.writeFile", "3b80d11954cc6b81703baebfd3fda02d1d8a90f0f8d1142feb9ec204a9659d16",
      parquet),
    ("Gif.gifPayload", "6449a9abcd73f400ed4426832958f7dae0dd368340628b1a972befa1da053c68",
      s => Gif.gifPayload(5 + 3 * s, 4 + s, 1 + s, s)),
    ("Mp4.mp4Payload", "c522826f24978cb343facb86d565d9a9d8deabae2428fa1560dca5bf42fc44d3",
      s => Mp4.mp4Payload(1 + 3 * s, s)),
    ("Tar.tarPayload", "df88d99981124d101f24b46a33e7667b4c36b7a6487f24e1ad178bcffb922baf",
      s => Tar.tarPayload(1 + 2 * s, s)),
    ("NcClassic.bytes", "bc180b611ea88d4f2845ad3c4508ab635a905693c35e58f166695a8b15e36371",
      nc),
    ("Mp3.mp3PayloadSideInfo", "cd7afa1557cb7cc953d984cd28719b0a30d97bc324349921772b6187b9b91698",
      s => Mp3.mp3PayloadSideInfo(1 + s, s, s % 3)),
    ("Mp3.mp3PayloadSpectral", "2414f3ac282a06259dfa32fc77a8ce8bd3b6969a1734dcd5d00b760558e041b8",
      s => Mp3.mp3PayloadSpectral(1 + s, s, s % 3, longOnly = s == 1,
        reservoir = s == 2, blockMode = s)))

  private def sha256(outs: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    outs.foreach { b =>
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  writers.foreach { case (name, want, write) =>
    test(s"$name emits its pinned bytes") {
      sha256(seeds.map(write)) shouldBe want
    }
  }
}
