package graft.operators

import org.apache.spark.sql.Dataset

import graft.codec.{Flate, Malformed}

/** PDF structural walk + text extraction — the document family's
  * entry: after web crawls, PDFs are the largest public text source
  * (papers, books, reports), and a corpus pipeline must at least walk
  * the cross-reference structure and pull the text operators out of
  * content streams. Dependency-free subset of ISO 32000:
  *
  *  - `%PDF-1.x` header; indirect objects `N 0 obj … endobj`; a
  *    classic `xref` table (20-byte entries, free entry 0) whose
  *    in-use OFFSETS must each point at the declared object header —
  *    the offsets are load-bearing: the writer computes them in a
  *    second pass, and a parser that ignores the xref cannot verify
  *    them; `trailer` dict with `/Size` matching; `startxref` offset
  *    must point at the `xref` keyword; `%%EOF` terminated;
  *  - content STREAMS (`/Length` declared and exact — the length
  *    FRAMES the data, `stream\n` + Length bytes + `\nendstream`
  *    required right after) hold text operators: `(string) Tj` with
  *    the escape subset `\\ \( \)` decoded; a `/Filter /FlateDecode`
  *    stream (how virtually every real-world PDF ships content — r10)
  *    is zlib-inflated (RFC 1950, `graft.codec.Flate`) BEFORE the Tj
  *    scan, with `/Length` counting the ENCODED bytes per the spec; corrupt zlib, trailing garbage
  *    after the compressed body, or an inflate past the per-file cap
  *    (zip-bomb stance) → invalid;
  *  - page count = objects whose dict carries `/Type /Page` (not
  *    `/Pages`).
  *
  * Violations → all-zero `valid=false`, never a throw (q134).
  *
  * 100 TB shape: pure map-side behind the imperative codec seam. */
object Pdf {

  final case class PdfInfo(media_id: Long, n_objects: Long, n_pages: Long,
                           n_text_ops: Long, text_len: Long,
                           sum_text_bytes: Long, valid: Boolean)

  /** Per-file inflated-content cap (zip-bomb stance, q178 precedent). */
  private val MaxInflated = 1L << 24

  /** zlib-inflate (RFC 1950) one FlateDecode stream; Malformed on
    * corrupt data, truncation, trailing garbage, or a cap overrun. */
  private def inflateZlib(enc: Array[Byte], budget: Long): Array[Byte] = {
    val (out, used) = Flate.inflateCapped(enc, 0, enc.length, budget, raw = false)
    if (used != enc.length) throw Malformed // slack after the body
    out
  }

  private[graft] def parse(id: Long, b: Array[Byte]): PdfInfo = {
    val invalid = PdfInfo(id, 0L, 0L, 0L, 0L, 0L, valid = false)
    if (b == null || b.length < 20) return invalid
    try {
      def fail(): Nothing = throw Malformed
      val s = new String(b, "ISO-8859-1")
      if (!s.startsWith("%PDF-1.")) fail()
      if (!s.endsWith("%%EOF\n") && !s.endsWith("%%EOF")) fail()
      // startxref → the xref table
      val sx = s.lastIndexOf("startxref")
      if (sx < 0) fail()
      val sxEnd = s.indexOf('\n', sx); if (sxEnd < 0) fail()
      val offLine = s.substring(sxEnd + 1,
        s.indexOf('\n', sxEnd + 1) match { case -1 => fail(); case e => e })
        .trim
      if (offLine.isEmpty || !offLine.forall(_.isDigit) ||
        offLine.length > 10) fail()
      val xrefOff = offLine.toInt
      if (xrefOff < 0 || xrefOff >= s.length ||
        !s.startsWith("xref", xrefOff)) fail()
      // subsection header: "0 K"
      var p = s.indexOf('\n', xrefOff) + 1
      val hdrEnd = s.indexOf('\n', p); if (hdrEnd < 0) fail()
      val hdr = s.substring(p, hdrEnd).trim.split(" ")
      if (hdr.length != 2 || hdr(0) != "0" ||
        !hdr(1).forall(_.isDigit)) fail()
      val size = hdr(1).toInt
      if (size < 2 || size > 100000) fail()
      p = hdrEnd + 1
      var nObjects = 0L
      var obj = 0
      while (obj < size) {
        if (p + 20 > s.length) fail()
        val entry = s.substring(p, p + 20)
        val off = entry.substring(0, 10)
        val gen = entry.substring(11, 16)
        val kind = entry.charAt(17)
        if (!off.forall(_.isDigit) || !gen.forall(_.isDigit)) fail()
        if (obj == 0) { if (kind != 'f') fail() }
        else {
          if (kind != 'n') fail()
          // the offset must point at THIS object's header
          val o = off.toInt
          if (o < 0 || o >= s.length ||
            !s.startsWith(s"$obj 0 obj", o)) fail()
          nObjects += 1
        }
        p += 20
        obj += 1
      }
      if (!s.startsWith("trailer", p)) fail()
      val trailerEnd = s.indexOf(">>", p); if (trailerEnd < 0) fail()
      val trailer = s.substring(p, trailerEnd)
      if (!trailer.contains(s"/Size $size")) fail()
      // walk objects: pages and content streams
      var nPages = 0L; var nTextOps = 0L
      var textLen = 0L; var textSum = 0L
      var inflateBudget = MaxInflated
      var q = 0
      while ({ q = s.indexOf(" 0 obj", q); q >= 0 && q < xrefOff }) {
        val objStart = q + 6
        val objEnd = s.indexOf("endobj", objStart); if (objEnd < 0) fail()
        val body = s.substring(objStart, objEnd)
        if (body.contains("/Type /Page") &&
          !body.contains("/Type /Pages")) nPages += 1
        val st = body.indexOf("stream\n")
        if (st >= 0) {
          // /Length FRAMES the data (binary FlateDecode bodies can
          // contain any byte pattern — searching for `endstream`
          // would mis-frame them); the keyword must follow exactly
          val dict = body.substring(0, st)
          val lenRe = "/Length ([0-9]+)".r
          val m = lenRe.findFirstMatchIn(dict).getOrElse(fail())
          if (m.group(1).length > 9) fail()
          val len = m.group(1).toInt
          val dataStart = st + 7
          if (dataStart + len > body.length) fail()
          if (!body.startsWith("\nendstream", dataStart + len)) fail()
          val raw = body.substring(dataStart, dataStart + len)
          val data =
            if (dict.contains("/Filter")) {
              if (!dict.contains("/Filter /FlateDecode")) fail()
              val dec = inflateZlib(raw.getBytes("ISO-8859-1"),
                inflateBudget)
              inflateBudget -= dec.length
              new String(dec, "ISO-8859-1")
            } else raw
          // (string) Tj with the escape subset
          var i = 0
          while (i < data.length) {
            if (data.charAt(i) == '(') {
              val sb = new java.lang.StringBuilder()
              var j = i + 1
              var closed = false
              while (!closed) {
                if (j >= data.length) fail()
                data.charAt(j) match {
                  case '\\' =>
                    if (j + 1 >= data.length) fail()
                    data.charAt(j + 1) match {
                      case '\\' => sb.append('\\')
                      case '('  => sb.append('(')
                      case ')'  => sb.append(')')
                      case _    => fail() // out of escape subset
                    }
                    j += 2
                  case ')' => closed = true; j += 1
                  case c   => sb.append(c); j += 1
                }
              }
              // require " Tj" after the string
              if (!data.startsWith(" Tj", j)) fail()
              nTextOps += 1
              var k = 0
              while (k < sb.length) {
                textLen += 1; textSum += sb.charAt(k) & 0xff; k += 1
              }
              i = j + 3
            } else i += 1
          }
        }
        q = objEnd + 6
      }
      if (nPages == 0 || nObjects == 0) fail()
      PdfInfo(id, nObjects, nPages, nTextOps, textLen, textSum,
        valid = true)
    } catch {
      case Malformed | _: IndexOutOfBoundsException |
          _: NumberFormatException | _: IllegalArgumentException =>
        invalid
    }
  }

  /** Map-side decode (the q178 pattern). */
  def decodePdf(media: Dataset[(Long, Array[Byte])]): Dataset[PdfInfo] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { case (id, bytes) => parse(id, bytes) })
  }

  // ---------------------------------------------------------------
  // Writer: a spec-compliant minimal PDF with real xref offsets
  // (computed in a second pass — the Mp4 stco precedent).
  // ---------------------------------------------------------------

  /** `nPages` pages; page i's content stream draws two text ops:
    * `Doc <seed> page <i>` and `w<(seed+i)%7> \(x\)` (the escape
    * subset is load-bearing — decoded text is `w… (x)`). With
    * `flate=true` every content stream is zlib-compressed
    * (`/Filter /FlateDecode`, `/Length` = ENCODED bytes) — the file
    * bytes then share no structure with the text the oracle replays,
    * so only a real inflate reproduces it. */
  def pdfPayload(nPages: Int, seed: Long, flate: Boolean = false): Array[Byte] = {
    require(nPages >= 1 && nPages <= 256, s"bad nPages $nPages")
    require(seed >= 0, s"bad seed $seed")
    // object 1: catalog; 2: pages; 2k+1: page k; 2k+2: its content
    val objs = scala.collection.mutable.ArrayBuffer[String]()
    val kids = (0 until nPages).map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    objs += s"<< /Type /Catalog /Pages 2 0 R >>"
    objs += s"<< /Type /Pages /Kids [$kids] /Count $nPages >>"
    for (i <- 0 until nPages) {
      objs += s"<< /Type /Page /Parent 2 0 R /Contents ${4 + 2 * i} 0 R >>"
      val ops = s"BT /F1 12 Tf 72 700 Td (Doc $seed page $i) Tj " +
        s"72 680 Td (w${(seed + i) % 7} \\(x\\)) Tj ET"
      if (flate) {
        val enc = deflateZlib(ops.getBytes("ISO-8859-1"))
        val body = new String(enc, "ISO-8859-1")
        objs += s"<< /Length ${enc.length} /Filter /FlateDecode >>" +
          s"\nstream\n$body\nendstream"
      } else
        objs += s"<< /Length ${ops.length} >>\nstream\n$ops\nendstream"
    }
    val sb = new StringBuilder()
    sb.append("%PDF-1.4\n")
    val offsets = new Array[Int](objs.length + 1)
    for ((o, k) <- objs.zipWithIndex) {
      offsets(k + 1) = sb.length
      sb.append(k + 1).append(" 0 obj\n").append(o).append("\nendobj\n")
    }
    val xrefOff = sb.length
    sb.append("xref\n0 ").append(objs.length + 1).append('\n')
    sb.append("0000000000 65535 f \n")
    for (k <- 1 to objs.length)
      sb.append(f"${offsets(k)}%010d 00000 n \n")
    sb.append("trailer << /Size ").append(objs.length + 1)
      .append(" /Root 1 0 R >>\nstartxref\n").append(xrefOff)
      .append("\n%%EOF\n")
    sb.toString.getBytes("ISO-8859-1")
  }

  /** Level-6 zlib (RFC 1950) — the FlateDecode writer side. */
  private[graft] def deflateZlib(content: Array[Byte]): Array[Byte] =
    Flate.deflate(content, 6, raw = false)
}
