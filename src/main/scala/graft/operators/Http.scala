package graft.operators

import org.apache.spark.sql.Dataset

import graft.codec.{Gzip, Malformed}

/** HTTP/1.1 response parsing inside WARC response records — the real
  * middle step of the WET derivation: a crawl's `response` records
  * carry the full HTTP MESSAGE (status line + headers + body), and
  * the text pipeline must strip the transport layer before the HTML
  * layer (L127) ever sees a byte. This is the L126→L127 seam.
  *
  * Subset (RFC 9112): status line `HTTP/1.1 SP 3-digit SP reason
  * CRLF`; header lines `Name: value` (names case-insensitive for the
  * fields read here); either `Content-Length` (it must equal the
  * remaining body length exactly) or `Transfer-Encoding: chunked`
  * (r10 — raw captures keep the wire framing: hex-size lines, CRLF
  * framing per chunk, zero-chunk terminator, NO trailers, landing
  * exactly on the record end; both headers together reject);
  * `Content-Type` split into
  * media type and optional `charset=` parameter; `Content-Encoding:
  * gzip` (r10 — how real servers ship compressed bodies and many
  * crawls store them) gunzips the body through a full RFC 1952 member
  * decode (CRC-32 + ISIZE verified, exact framing), and the body
  * stats are the DECODED bytes. Any framing violation → all-zero
  * `valid=false` row for THAT record, never a throw; non-`response`
  * records are skipped.
  *
  * 100 TB shape: one map-side pass — member inflate, WARC framing and
  * HTTP framing all inside the partition; bodies reduce to (len, sum)
  * in place and never join a row frame. */
object Http {

  final case class HttpInfo(media_id: Long, rec_idx: Long, status: Long,
                            media_type: String, charset: String,
                            n_headers: Long, body_len: Long,
                            body_sum: Long, valid: Boolean)

  private[graft] def parseResponse(id: Long, idx: Long,
                                   b: Array[Byte]): HttpInfo =
    parseResponseBody(id, idx, b)._1

  /** As [[parseResponse]], also returning the DECODED body bytes
    * (null when invalid) — the r10 [[Wet]] seam consumes them, and
    * with `Content-Encoding: gzip` the decoded body is not a slice of
    * the message. */
  /** De-chunk a `Transfer-Encoding: chunked` body occupying
    * `[start, b.length)` exactly: hex-size line (no extensions) CRLF
    * data CRLF, repeated; zero chunk then ONE final CRLF (no trailers
    * in the subset) landing on the record end. Output is bounded by
    * the input (chunks are literal bytes — no expansion). */
  private def dechunk(b: Array[Byte], start: Int): Array[Byte] = {
    def fail(): Nothing = throw Malformed
    val out = new java.io.ByteArrayOutputStream(256)
    var p = start
    var done = false
    while (!done) {
      var e = p
      while (e + 1 < b.length &&
        !(b(e) == '\r' && b(e + 1) == '\n')) e += 1
      if (e + 1 >= b.length) fail()
      val line = new String(b, p, e - p, "ISO-8859-1")
      if (line.isEmpty || line.length > 8 || !line.forall(c =>
        (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
          (c >= 'A' && c <= 'F'))) fail()
      val sz = java.lang.Long.parseLong(line, 16)
      p = e + 2
      if (sz == 0L) {
        if (p + 2 != b.length || b(p) != '\r' || b(p + 1) != '\n') fail()
        done = true
      } else {
        if (sz > b.length - p - 2L) fail()
        out.write(b, p, sz.toInt)
        p += sz.toInt
        if (b(p) != '\r' || b(p + 1) != '\n') fail()
        p += 2
      }
    }
    out.toByteArray
  }

  private[operators] def parseResponseBody(id: Long, idx: Long,
      b: Array[Byte]): (HttpInfo, Array[Byte]) = {
    val invalid = (HttpInfo(id, idx, 0L, "", "", 0L, 0L, 0L,
      valid = false), null: Array[Byte])
    try {
      def fail(): Nothing = throw Malformed
      def lineEnd(from: Int): Int = {
        var i = from
        while (i + 1 < b.length &&
          !(b(i) == '\r' && b(i + 1) == '\n')) i += 1
        if (i + 1 >= b.length) fail()
        i
      }
      var p = lineEnd(0)
      val status = {
        val line = new String(b, 0, p, "ISO-8859-1")
        if (!line.startsWith("HTTP/1.1 ") || line.length < 13) fail()
        val code = line.substring(9, 12)
        if (!code.forall(_.isDigit) || line.charAt(12) != ' ') fail()
        code.toLong
      }
      p += 2
      var mediaType = ""; var charset = ""
      var gzipBody = false; var chunked = false
      var contentLen = -1L; var nHeaders = 0L
      while (!(p + 1 < b.length && b(p) == '\r' && b(p + 1) == '\n')) {
        val e = lineEnd(p)
        val line = new String(b, p, e - p, "ISO-8859-1")
        val c = line.indexOf(": ")
        if (c <= 0) fail()
        nHeaders += 1
        val name = line.substring(0, c).toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(c + 2)
        name match {
          case "content-length" =>
            if (value.isEmpty || !value.forall(_.isDigit) ||
              value.length > 18) fail()
            val parsed = value.toLong
            // duplicate Content-Length with a conflicting value is the
            // other half of the smuggling shape — strict-reject, same
            // stance as CL+TE together (RFC 9110 §8.6)
            if (contentLen >= 0 && parsed != contentLen) fail()
            contentLen = parsed
          case "content-encoding" =>
            if (value.trim.toLowerCase(java.util.Locale.ROOT) != "gzip")
              fail() // subset: identity (absent) or gzip only
            gzipBody = true
          case "transfer-encoding" =>
            if (value.trim.toLowerCase(java.util.Locale.ROOT) !=
              "chunked") fail() // subset: identity or chunked only
            chunked = true
          case "content-type" =>
            val semi = value.indexOf(';')
            mediaType = (if (semi < 0) value
                         else value.substring(0, semi)).trim
            if (semi >= 0) {
              val params = value.substring(semi + 1)
              val cs = params.toLowerCase(java.util.Locale.ROOT)
                .indexOf("charset=")
              if (cs >= 0) {
                var e2 = cs + 8
                while (e2 < params.length && params.charAt(e2) != ';' &&
                  params.charAt(e2) != ' ') e2 += 1
                charset = params.substring(cs + 8, e2)
                  .toLowerCase(java.util.Locale.ROOT)
              }
            }
          case _ => ()
        }
        p = e + 2
      }
      p += 2 // past the blank line
      // RFC 9112: a message with both framings is an attack shape —
      // reject; one of the two is required
      if (chunked == (contentLen >= 0)) fail()
      val stored =
        if (chunked) dechunk(b, p)
        else {
          if (p.toLong + contentLen != b.length) fail() // exact framing
          java.util.Arrays.copyOfRange(b, p, p + contentLen.toInt)
        }
      val body =
        if (!gzipBody) stored
        else { // one member filling the body exactly, zip-bomb cap 16 MiB
          val (inflated, end) = Gzip.read(stored, 0, stored.length, 1L << 24)
          if (end != stored.length) fail()
          inflated
        }
      var sum = 0L
      var j = 0
      while (j < body.length) { sum += body(j) & 0xff; j += 1 }
      (HttpInfo(id, idx, status, mediaType, charset, nHeaders,
        body.length.toLong, sum, valid = true), body)
    } catch {
      case Malformed | _: IndexOutOfBoundsException |
          _: NegativeArraySizeException | _: IllegalArgumentException =>
        invalid
    }
  }

  /** Map-side: WARC member walk + HTTP response parse in ONE pass;
    * non-response records skipped, malformed archives yield no rows. */
  def decodeWarcHttp(media: Dataset[(Long, Array[Byte])])
      : Dataset[HttpInfo] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { case (id, bytes) =>
      if (bytes == null || bytes.isEmpty) Nil
      else try Warc.walk(id, bytes).collect {
        case r if r.typ == "response" =>
          parseResponse(id, r.idx, r.payload)
      }
      catch {
        case Malformed | _: IndexOutOfBoundsException |
            _: NegativeArraySizeException | _: IllegalArgumentException =>
          Nil
      }
    })
  }

  // ---------------------------------------------------------------
  // Writer (test/synthesis side)
  // ---------------------------------------------------------------

  /** A `.warc.gz` like [[Warc.warcPayload]] but whose `response`
    * records (i%3==0) carry REAL HTTP messages: status 200/301/404 by
    * (seed+i)%3, `text/html; charset=UTF-8` for even i else
    * `text/plain` (no charset), one formula extension header per
    * record plus 2+(seed+i)%3 filler headers, body length
    * `20 + ((seed + 7i) % 120)`, body byte j `(seed + 2i + j) % 256`.
    * Non-response records keep the q178 opaque-payload formulas. */
  def warcHttpPayload(nRecords: Int, seed: Int): Array[Byte] = {
    require(nRecords >= 1 && nRecords <= 4096, s"bad nRecords $nRecords")
    require(seed >= 0, s"bad seed $seed")
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < nRecords) {
      val typ = (i % 3: @unchecked) match {
        case 0 => "response"; case 1 => "request"; case 2 => "metadata"
      }
      val host = (seed + i) % 5
      val payload: Array[Byte] =
        if (typ == "response") {
          val code = ((seed + i) % 3: @unchecked) match {
            case 0 => "200 OK"; case 1 => "301 Moved"; case 2 => "404 NF"
          }
          val sb = new StringBuilder()
          sb.append("HTTP/1.1 ").append(code).append("\r\n")
          sb.append("Content-Type: ")
            .append(if (i % 2 == 0) "text/html; charset=UTF-8"
                    else "text/plain").append("\r\n")
          val nFill = 2 + (seed + i) % 3
          var f = 0
          while (f < nFill) {
            sb.append("X-Fill-").append(f).append(": v").append(f)
              .append("\r\n")
            f += 1
          }
          val blen = 20 + ((seed + 7 * i) % 120)
          val raw = new Array[Byte](blen)
          var j = 0
          while (j < blen) { raw(j) = ((seed + 2 * i + j) % 256).toByte; j += 1 }
          // every (seed+i)%4==0 response ships its body gzip-encoded
          // (r10): Content-Length counts the ENCODED bytes, the stats
          // the oracle replays are of the DECODED body — only a real
          // member decode reproduces them
          val gz = (seed + i) % 4 == 0
          val body = if (gz) Gzip.member(raw, None) else raw
          if (gz) sb.append("Content-Encoding: gzip\r\n")
          sb.append("Content-Length: ").append(body.length).append("\r\n\r\n")
          val head = sb.toString.getBytes("ISO-8859-1")
          val full = new Array[Byte](head.length + body.length)
          System.arraycopy(head, 0, full, 0, head.length)
          System.arraycopy(body, 0, full, head.length, body.length)
          full
        } else {
          val clen = 30 + ((seed + 11 * i) % 170)
          val p = new Array[Byte](clen)
          var j = 0
          while (j < clen) { p(j) = ((seed + 3 * i + j) % 256).toByte; j += 1 }
          p
        }
      val head = new StringBuilder()
        .append("WARC/1.0\r\n")
        .append("WARC-Type: ").append(typ).append("\r\n")
        .append("WARC-Record-ID: <urn:uuid:").append(seed).append('-')
        .append(i).append(">\r\n")
        .append("WARC-Target-URI: http://h").append(host)
        .append(".example/p/").append(i).append("\r\n")
        .append("Content-Length: ").append(payload.length)
        .append("\r\n\r\n").toString.getBytes("ISO-8859-1")
      val rec = new Array[Byte](head.length + payload.length + 4)
      System.arraycopy(head, 0, rec, 0, head.length)
      System.arraycopy(payload, 0, rec, head.length, payload.length)
      rec(rec.length - 4) = '\r'; rec(rec.length - 3) = '\n'
      rec(rec.length - 2) = '\r'; rec(rec.length - 1) = '\n'
      out.write(Gzip.member(rec,
        if (i % 4 == 1) Some(s"rec-$i") else None))
      i += 1
    }
    out.toByteArray
  }

  /** A `.warc.gz` whose `response` records exercise all FOUR
    * transport framings by `(seed+i)%4`: 0 plain Content-Length,
    * 1 gzip + Content-Length, 2 chunked, 3 gzip THEN chunked (the
    * wire order: CE applied first, TE framing outermost). Chunk size
    * is `7 + i%5` so chunk boundaries land mid-body everywhere; the
    * DECODED body keeps the q185 formulas (length `20 +
    * ((seed+7i)%120)`, byte j `(seed+2i+j)%256`), so the oracle
    * replay is transport-independent — only a decoder with the hex
    * framing, the zero-chunk terminator and the CE/TE layering right
    * reproduces the stats. Non-response records keep the q178
    * opaque-payload formulas. */
  def warcChunkedPayload(nRecords: Int, seed: Int): Array[Byte] = {
    require(nRecords >= 1 && nRecords <= 4096, s"bad nRecords $nRecords")
    require(seed >= 0, s"bad seed $seed")
    def chunk(raw: Array[Byte], sz: Int): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream(raw.length + 64)
      var off = 0
      while (off < raw.length) {
        val n = math.min(sz, raw.length - off)
        o.write(Integer.toHexString(n).getBytes("ISO-8859-1"))
        o.write('\r'); o.write('\n')
        o.write(raw, off, n)
        o.write('\r'); o.write('\n')
        off += n
      }
      o.write('0'); o.write('\r'); o.write('\n')
      o.write('\r'); o.write('\n')
      o.toByteArray
    }
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < nRecords) {
      val typ = (i % 3: @unchecked) match {
        case 0 => "response"; case 1 => "request"; case 2 => "metadata"
      }
      val host = (seed + i) % 5
      val payload: Array[Byte] =
        if (typ == "response") {
          val code = ((seed + i) % 3: @unchecked) match {
            case 0 => "200 OK"; case 1 => "301 Moved"; case 2 => "404 NF"
          }
          val sb = new StringBuilder()
          sb.append("HTTP/1.1 ").append(code).append("\r\n")
          sb.append("Content-Type: ")
            .append(if (i % 2 == 0) "text/html; charset=UTF-8"
                    else "text/plain").append("\r\n")
          val nFill = 2 + (seed + i) % 3
          var f = 0
          while (f < nFill) {
            sb.append("X-Fill-").append(f).append(": v").append(f)
              .append("\r\n")
            f += 1
          }
          val blen = 20 + ((seed + 7 * i) % 120)
          val raw = new Array[Byte](blen)
          var j = 0
          while (j < blen) {
            raw(j) = ((seed + 2 * i + j) % 256).toByte; j += 1
          }
          val mode = (seed + i) % 4
          val gz = mode == 1 || mode == 3
          val enc = if (gz) Gzip.member(raw, None) else raw
          if (gz) sb.append("Content-Encoding: gzip\r\n")
          val body =
            if (mode >= 2) {
              sb.append("Transfer-Encoding: chunked\r\n\r\n")
              chunk(enc, 7 + i % 5)
            } else {
              sb.append("Content-Length: ").append(enc.length)
                .append("\r\n\r\n")
              enc
            }
          val head = sb.toString.getBytes("ISO-8859-1")
          val full = new Array[Byte](head.length + body.length)
          System.arraycopy(head, 0, full, 0, head.length)
          System.arraycopy(body, 0, full, head.length, body.length)
          full
        } else {
          val clen = 30 + ((seed + 11 * i) % 170)
          val p = new Array[Byte](clen)
          var j = 0
          while (j < clen) { p(j) = ((seed + 3 * i + j) % 256).toByte; j += 1 }
          p
        }
      val head = new StringBuilder()
        .append("WARC/1.0\r\n")
        .append("WARC-Type: ").append(typ).append("\r\n")
        .append("WARC-Record-ID: <urn:uuid:").append(seed).append('-')
        .append(i).append(">\r\n")
        .append("WARC-Target-URI: http://h").append(host)
        .append(".example/p/").append(i).append("\r\n")
        .append("Content-Length: ").append(payload.length)
        .append("\r\n\r\n").toString.getBytes("ISO-8859-1")
      val rec = new Array[Byte](head.length + payload.length + 4)
      System.arraycopy(head, 0, rec, 0, head.length)
      System.arraycopy(payload, 0, rec, head.length, payload.length)
      rec(rec.length - 4) = '\r'; rec(rec.length - 3) = '\n'
      rec(rec.length - 2) = '\r'; rec(rec.length - 1) = '\n'
      out.write(Gzip.member(rec,
        if (i % 4 == 1) Some(s"rec-$i") else None))
      i += 1
    }
    out.toByteArray
  }
}
