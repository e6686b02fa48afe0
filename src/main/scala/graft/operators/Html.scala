package graft.operators

import org.apache.spark.sql.Dataset

import graft.codec.Malformed

/** HTML visible-text extraction — the WET step of a web-crawl corpus:
  * the record payloads the L126 WARC walk (q178) hands over are HTML,
  * and the text the pipeline trains on is what a renderer would SHOW —
  * tags stripped, `script`/`style` bodies and comments dropped,
  * character entities decoded, whitespace runs collapsed. (Common
  * Crawl publishes exactly this derivation as its WET files.) The
  * reference's analogue is the S1→P-family chain: open a container,
  * strip the parts the consumer never sees, hand dense arrays on.
  *
  * Subset (documented, strict inside it — the baseline-JPEG stance):
  * tags `<name …>` / `</name>` with letters+digits names; attribute
  * values MUST be quoted (`'` or `"`) and may contain `>`; comments
  * `<!-- … -->`; `<!…>` declarations; `script`/`style` skipped
  * wholesale to their case-insensitive closing tag; entities `&amp;
  * &lt; &gt; &quot; &apos; &#dd; &#xhh;` in collected text (anything
  * else starting `&` → reject); exactly one `<body>…</body>`, text
  * outside it ignored, `<title>` collected separately; every `<a>` in
  * body must carry an `href` whose authority is `scheme://HOST[/…]`.
  *
  * The extraction cannot be faked from the markup's shape: the visible
  * length and byte sum change with entity DECODING (`&#65;` is 5 chars
  * of markup, 1 of text) and whitespace COLLAPSE (inter-element
  * newlines become single spaces), and the host count requires parsing
  * `href` values out of attribute quoting that contains `>`.
  *
  * Malformed/crafted input → all-zero `valid=false`, never a throw
  * (the q134 contract).
  *
  * 100 TB shape: pure map-side behind the imperative codec seam — the
  * markup never shuffles; downstream sees (id, stats) rows. */
object Html {

  final case class HtmlInfo(media_id: Long, title_len: Long,
                            n_paragraphs: Long, n_links: Long, n_hosts: Long,
                            text_len: Long, sum_text_bytes: Long,
                            valid: Boolean)

  private def isNameChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\r' || c == '\n'

  /** Whitespace-collapse + trim: any run of blanks → one space. */
  private def collapse(sb: java.lang.StringBuilder): String = {
    val out = new java.lang.StringBuilder(sb.length)
    var prevSpace = true
    var i = 0
    while (i < sb.length) {
      val c = sb.charAt(i)
      if (isWs(c)) { if (!prevSpace) { out.append(' '); prevSpace = true } }
      else { out.append(c); prevSpace = false }
      i += 1
    }
    if (out.length > 0 && out.charAt(out.length - 1) == ' ')
      out.setLength(out.length - 1)
    out.toString
  }

  private[graft] def parse(id: Long, html: String): HtmlInfo =
    parse(id, html, null)

  /** The collapsed visible BODY text of a valid page — the WET
    * derivation as TEXT (r10: the [[Wet]] bytes→shards seam consumes
    * this; q179 gates the same walk's aggregate stats). None when the
    * page fails the strict parse. */
  private[operators] def visibleText(html: String): Option[String] = {
    val out = new Array[String](1)
    val info = parse(id = 0L, html, hrefOut = null, textOut = out)
    if (info.valid) Some(out(0)) else None
  }

  /** As [[parse]]; when `hrefOut` is non-null, every body anchor's
    * href is appended (the WAT link-extraction seam, q194). */
  private[graft] def parse(id: Long, html: String,
                           hrefOut: java.util.ArrayList[String],
                           textOut: Array[String] = null)
      : HtmlInfo = {
    val invalid = HtmlInfo(id, 0L, 0L, 0L, 0L, 0L, 0L, valid = false)
    if (html == null || html.isEmpty) return invalid
    try {
      val n = html.length
      val lower = html.toLowerCase(java.util.Locale.ROOT)
      var i = 0
      var inBody = false; var inTitle = false
      var bodySeen = false; var bodyClosed = false
      val body = new java.lang.StringBuilder()
      val title = new java.lang.StringBuilder()
      var nParas = 0L; var nLinks = 0L
      val hosts = new java.util.HashSet[String]()
      def fail(): Nothing = throw Malformed
      while (i < n) {
        val c = html.charAt(i)
        if (c == '<') {
          if (html.startsWith("<!--", i)) {
            val e = html.indexOf("-->", i + 4); if (e < 0) fail(); i = e + 3
          } else if (html.startsWith("<!", i)) { // DOCTYPE / declaration
            val e = html.indexOf('>', i + 2); if (e < 0) fail(); i = e + 1
          } else if (html.startsWith("</", i)) {
            var j = i + 2; val s0 = j
            while (j < n && isNameChar(html.charAt(j))) j += 1
            if (j == s0) fail()
            val name = lower.substring(s0, j)
            while (j < n && isWs(html.charAt(j))) j += 1
            if (j >= n || html.charAt(j) != '>') fail()
            i = j + 1
            name match {
              case "title" => if (!inTitle) fail(); inTitle = false
              case "body"  => if (!inBody) fail(); inBody = false; bodyClosed = true
              case _       => ()
            }
          } else {
            // ---- open tag: name, quoted attributes (may contain '>')
            var j = i + 1; val s0 = j
            while (j < n && isNameChar(html.charAt(j))) j += 1
            if (j == s0) fail()
            val name = lower.substring(s0, j)
            var href: String = null
            var open = true
            while (open) {
              while (j < n && (isWs(html.charAt(j)) || html.charAt(j) == '/')) j += 1
              if (j >= n) fail()
              if (html.charAt(j) == '>') { open = false; j += 1 }
              else {
                val a0 = j
                while (j < n && (isNameChar(html.charAt(j)) || html.charAt(j) == '-')) j += 1
                if (j == a0) fail()
                val aname = lower.substring(a0, j)
                while (j < n && isWs(html.charAt(j))) j += 1
                var aval: String = null
                if (j < n && html.charAt(j) == '=') {
                  j += 1
                  while (j < n && isWs(html.charAt(j))) j += 1
                  if (j >= n) fail()
                  val q = html.charAt(j)
                  if (q != '"' && q != '\'') fail() // subset: quoted only
                  val e = html.indexOf(q, j + 1); if (e < 0) fail()
                  aval = html.substring(j + 1, e); j = e + 1
                }
                if (aname == "href") href = aval
              }
            }
            i = j
            name match {
              case "script" | "style" =>
                val e = lower.indexOf("</" + name, i); if (e < 0) fail()
                var k = e + 2 + name.length
                while (k < n && isWs(html.charAt(k))) k += 1
                if (k >= n || html.charAt(k) != '>') fail()
                i = k + 1
              case "title" => inTitle = true
              case "body"  => if (bodySeen) fail(); inBody = true; bodySeen = true
              case "p"     => if (inBody) nParas += 1
              case "a"     =>
                if (inBody) {
                  nLinks += 1
                  if (href == null) fail()
                  val sch = href.indexOf("://"); if (sch <= 0) fail()
                  val hostEnd = href.indexOf('/', sch + 3)
                  hosts.add(if (hostEnd < 0) href.substring(sch + 3)
                    else href.substring(sch + 3, hostEnd))
                  if (hrefOut != null) hrefOut.add(href)
                }
              case _ => ()
            }
          }
        } else if (inTitle || inBody) {
          val sb = if (inTitle) title else body
          if (c == '&') { // entity — strict inside collected text
            val e = html.indexOf(';', i + 1)
            if (e < 0 || e - i > 8) fail()
            val ent = html.substring(i + 1, e)
            val decoded: Int = ent match {
              case "amp"  => '&'
              case "lt"   => '<'
              case "gt"   => '>'
              case "quot" => '"'
              case "apos" => '\''
              case _ =>
                if (ent.length >= 2 && ent.charAt(0) == '#') {
                  val num = if (ent.charAt(1) == 'x' || ent.charAt(1) == 'X') {
                    val h = ent.substring(2)
                    if (h.isEmpty || !h.forall(ch => Character.digit(ch, 16) >= 0)) fail()
                    Integer.parseInt(h, 16)
                  } else {
                    val d = ent.substring(1)
                    if (!d.forall(_.isDigit)) fail()
                    Integer.parseInt(d)
                  }
                  if (num <= 0 || num > 0x10FFFF) fail()
                  num
                } else fail()
            }
            sb.appendCodePoint(decoded)
            i = e + 1
          } else { sb.append(c); i += 1 }
        } else i += 1 // text outside body/title: ignored
      }
      if (!bodySeen || !bodyClosed || inBody || inTitle) fail()
      val visible = collapse(body)
      if (textOut != null) textOut(0) = visible
      val titleText = collapse(title)
      var sum = 0L
      var k = 0
      while (k < visible.length) {
        val cp = visible.codePointAt(k)
        sum += cp
        k += Character.charCount(cp)
      }
      HtmlInfo(id, titleText.codePointCount(0, titleText.length).toLong,
        nParas, nLinks, hosts.size.toLong,
        visible.codePointCount(0, visible.length).toLong, sum, valid = true)
    } catch {
      case Malformed | _: IndexOutOfBoundsException |
          _: NumberFormatException | _: IllegalArgumentException =>
        invalid
    }
  }

  /** Map-side decode: the imperative codec seam (the q126/q134/q178
    * pattern) — the markup stays inside its partition. */
  def decodeHtml(pages: Dataset[(Long, String)]): Dataset[HtmlInfo] = {
    import pages.sparkSession.implicits._
    pages.mapPartitions(_.map { case (id, h) => parse(id, h) })
  }

  /** WAT-style link extraction: every body anchor's href, one row per
    * link (page_id, href) — the raw material of the web graph. Pages
    * that fail the parse contribute no links (their malformedness is
    * the q179 gate's concern). Map-side; markup never shuffles. */
  def links(pages: Dataset[(Long, String)]): Dataset[(Long, String)] = {
    import pages.sparkSession.implicits._
    pages.mapPartitions(_.flatMap { case (id, h) =>
      val out = new java.util.ArrayList[String]()
      val info = parse(id, h, out)
      if (!info.valid) Nil
      else {
        val b = Seq.newBuilder[(Long, String)]
        val it = out.iterator()
        while (it.hasNext) b += ((id, it.next()))
        b.result()
      }
    })
  }

  // ---------------------------------------------------------------
  // Writer (test/synthesis side): a deterministic page exercising the
  // whole subset — the differential fixture generator.
  // ---------------------------------------------------------------

  /** Deterministic page: title `Doc s t(s%7)`, an `<em>`-split
    * heading, `nParas` paragraphs whose class attributes contain a
    * quoted `>` and whose text carries `&amp;` plus an alternating
    * decimal/hex `A` entity, `nLinks` anchors to host `h((s+j)%5)
    * .example`, a comment full of fake tags, and `script`/`style`
    * bodies containing markup that must NOT leak into the text.
    * Visible text (the oracle's formula):
    * `Heading s para i of doc s: & A word((s+i)%13) … link j …`. */
  def htmlPayload(nParas: Int, nLinks: Int, seed: Long): String = {
    require(nParas >= 1 && nParas <= 4096, s"bad nParas $nParas")
    require(nLinks >= 1 && nLinks <= 4096, s"bad nLinks $nLinks")
    require(seed >= 0, s"bad seed $seed")
    val s = new StringBuilder()
    s.append("<!DOCTYPE html>\n<html>\n<head>\n")
      .append("<title>Doc ").append(seed).append(" t").append(seed % 7)
      .append("</title>\n")
      .append("<style>/* <p>not text</p> */ p{margin:0}</style>\n")
      .append("<script>var s=\"</div> <p>nope</p>\"; if (1<2) {}</script>\n")
      .append("</head>\n<body>\n")
      .append("<!-- hidden <p>fake</p> & not an entity -->\n")
      .append("<h1>Heading <em>").append(seed).append("</em></h1>\n<br/>\n")
    var i = 0
    while (i < nParas) {
      s.append("<p class=\"c>").append(i).append("\">para ").append(i)
        .append(" of doc ").append(seed).append(": &amp; ")
        .append(if (i % 2 == 0) "&#65;" else "&#x41;")
        .append(" word").append((seed + i) % 13).append("</p>\n")
      i += 1
    }
    var j = 0
    while (j < nLinks) {
      s.append("<a href=\"http://h").append((seed + j) % 5)
        .append(".example/p").append(j).append("\">link ").append(j)
        .append("</a>\n")
      j += 1
    }
    s.append("</body>\n</html>\n")
    s.toString
  }
}
