package graft.operators

import org.apache.spark.sql.Dataset

import graft.codec.{Gzip, Malformed}

/** The full WET derivation in ONE map-side pass — archive bytes to
  * training text (r10, VERDICT r9 #1): gzip member inflate (L126,
  * `Warc.walk`) → WARC framing → HTTP transport strip (L133,
  * `Http.parseResponseBody` — 200 + `text/html` only) → declared-
  * charset strict decode (L135, `CharsetDecode.decodeStrict`) →
  * HTML visible-text extraction (L127, `Html.visibleText`). This is
  * the seam that lets the 100 TB curation dress rehearsal (q167)
  * start from Common-Crawl-shaped BYTES instead of a pre-made
  * `documents` table — the q199 bytes→shards flagship.
  *
  * Per-layer strictness is inherited, not re-implemented: each layer
  * keeps its own gated contract (q178/q185/q187/q179), and any
  * violation at any layer silently drops THAT record (the aggregate
  * gates are where malformedness is surfaced — the `Warc.records`
  * stance).
  *
  * 100 TB shape: everything up to the emitted (id, uri, text) row
  * happens inside the partition behind the imperative codec seam —
  * archive bytes, HTTP messages and markup never shuffle; the first
  * exchange anywhere downstream is the curation DAG's own ckey
  * window. Reference analogue: the S1→P-family chain (open container
  * → strip → hand dense arrays on), at crawl scale. */
object Wet {

  final case class WetRow(media_id: Long, rec_idx: Long, uri: String,
                          text: String)

  /** Charset label by `kind` (the q187 four-way split). */
  private[graft] def charsetLabel(kind: Long): String =
    (kind % 4: @unchecked) match {
      case 0 => "UTF-8"; case 1 => "ISO-8859-1"
      case 2 => "UTF-16BE"; case _ => "UTF-16LE"
    }

  /** Archive bytes → WET text rows. Non-`response` records, non-200
    * statuses, non-`text/html` bodies, undeclared/unknown charsets,
    * malformed bytes at any layer: dropped, never a throw. */
  def wetFromArchives(media: Dataset[(Long, Array[Byte])])
      : Dataset[WetRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { case (id, bytes) =>
      if (bytes == null || bytes.isEmpty) Nil
      else try {
        Warc.walk(id, bytes).flatMap { r =>
          if (r.typ != "response") Nil
          else {
            val (info, body) = Http.parseResponseBody(id, r.idx, r.payload)
            if (!info.valid || info.status != 200L ||
              info.media_type != "text/html" || info.charset.isEmpty) Nil
            else {
              for {
                html <- CharsetDecode.decodeStrict(body, info.charset)
                text <- Html.visibleText(html)
              } yield WetRow(id, r.idx, r.uri, text)
            }
          }
        }
      } catch {
        case Malformed | _: IndexOutOfBoundsException |
            _: NegativeArraySizeException | _: IllegalArgumentException =>
          Nil
      }
    })
  }

  // ---------------------------------------------------------------
  // Writer (test/synthesis side): wrap REAL corpus text in the whole
  // transport stack, so the derivation chain is an identity on it.
  // ---------------------------------------------------------------

  /** One `.warc.gz` archive embedding `text` as the ONLY visible body
    * text of an HTML page inside an HTTP 200 inside a gzip member:
    *  - the page carries a head `script` full of fake markup, a
    *    comment full of fake tags, and a title — none of it visible;
    *  - the first and last spaces of `text` ship as `&#32;` / `&#x20;`
    *    entities (decode is load-bearing, round-trip-neutral);
    *  - the body bytes are encoded in the charset picked by
    *    `docId % 4` (the q187 four-way split), declared in
    *    `Content-Type`;
    *  - the target URI is a MESSY spelling (`HTTP://<SOURCE>
    *    .Example:80/d/<id>?utm_source=x&b=2&a=1#f`) whose `url_canon`
    *    form is `http://<source>.example/d/<id>?a=1&b=2` — the host
    *    IS the provenance, as in a real crawl;
    *  - a second `metadata` member (opaque payload) exercises the
    *    record-type skip on every archive.
    * Requires `text` already collapse-normalized (no `&<>`, single
    * spaces, trimmed) so the WET derivation is exactly identity —
    * true of the driver corpus; WetSpec pins it. */
  def wetArchivePayload(docId: Long, source: String,
                        text: String): Array[Byte] = {
    val esc = {
      val first = text.indexOf(' ')
      if (first < 0) text
      else {
        val last = text.lastIndexOf(' ')
        val sb = new StringBuilder(text)
        // replace LAST first: earlier replacement shifts offsets
        if (last != first) sb.replace(last, last + 1, "&#x20;")
        sb.replace(first, first + 1, "&#32;")
        sb.toString
      }
    }
    val html = new StringBuilder()
      .append("<!DOCTYPE html>\n<html>\n<head>\n")
      .append("<title>Crawl ").append(docId).append("</title>\n")
      .append("<script>var x = \"<p>not text</p>\";</script>\n")
      .append("</head>\n<body>\n")
      .append("<!-- boiler <p>fake</p> -->\n")
      .append("<p class=\"main\">").append(esc).append("</p>\n")
      .append("</body>\n</html>\n").toString
    val label = charsetLabel(docId)
    // encode with REPORT (not the default silent REPLACE): an
    // unmappable character would corrupt the WET-identity round trip
    // invisibly at fixture-build time — fail loudly instead
    val encoded = {
      val cs = java.nio.charset.Charset.forName(label)
      val enc = cs.newEncoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      val bb = enc.encode(java.nio.CharBuffer.wrap(html))
      val a = new Array[Byte](bb.remaining()); bb.get(a); a
    }
    // every docId%5==0 page ships its body gzip-encoded (r10): the
    // WET text is reachable only through the transport gunzip
    val gz = docId % 5 == 0
    val body = if (gz) Gzip.member(encoded, None) else encoded
    val msg = new java.io.ByteArrayOutputStream()
    msg.write(("HTTP/1.1 200 OK\r\n" +
      s"Content-Type: text/html; charset=$label\r\n" +
      (if (gz) "Content-Encoding: gzip\r\n" else "") +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes("ISO-8859-1"))
    msg.write(body)
    val uri = s"HTTP://${source.toUpperCase(java.util.Locale.ROOT)}" +
      s".Example:80/d/$docId?utm_source=x&b=2&a=1#f"
    val out = new java.io.ByteArrayOutputStream()
    out.write(Gzip.member(warcRecord("response", uri, msg.toByteArray),
      None))
    // the metadata member: opaque payload the HTTP stage must skip
    val meta = s"crawl-meta $docId".getBytes("ISO-8859-1")
    out.write(Gzip.member(warcRecord("metadata", uri, meta),
      if (docId % 4 == 1) Some(s"meta-$docId") else None))
    out.toByteArray
  }

  /** One CRLF-exact WARC record around `payload`. */
  private def warcRecord(typ: String, uri: String,
                         payload: Array[Byte]): Array[Byte] = {
    val head = (s"WARC/1.0\r\nWARC-Type: $typ\r\n" +
      s"WARC-Target-URI: $uri\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n").getBytes("ISO-8859-1")
    val rec = new Array[Byte](head.length + payload.length + 4)
    System.arraycopy(head, 0, rec, 0, head.length)
    System.arraycopy(payload, 0, rec, head.length, payload.length)
    rec(rec.length - 4) = '\r'; rec(rec.length - 3) = '\n'
    rec(rec.length - 2) = '\r'; rec(rec.length - 1) = '\n'
    rec
  }
}
