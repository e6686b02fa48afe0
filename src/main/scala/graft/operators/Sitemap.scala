package graft.operators

import org.apache.spark.sql.Dataset

import graft.codec.Malformed

/** Sitemap XML walk (sitemaps.org protocol) — the crawl SEED source:
  * before a frontier exists, discovery starts from the sitemaps hosts
  * publish, and at corpus scale that is millions of XML files whose
  * `<loc>` entries feed the L128→L129 chain. Subset of the protocol's
  * own schema, strictly parsed:
  *
  *  - XML declaration required; `<urlset …>` root (quoted attributes,
  *    values may contain `>`); `<url>` children each holding exactly
  *    one `<loc>` plus optional `<lastmod>` / `<priority>`, any order,
  *    TEXT-only content; tags must balance; after `</urlset>` only
  *    whitespace; XML entities (`&amp; &lt; &gt; &quot; &apos;` +
  *    numeric) decoded in text content — a bare `&` is malformed XML
  *    and rejected (unlike HTML, XML is strict by spec);
  *  - `priority` parsed as `0.d` (one tenths digit — the protocol's
  *    0.0–1.0 grid at the writer's resolution), `1.0` accepted;
  *  - `loc` must carry an authority; hosts counted distinct.
  *
  * Anything else → all-zero `valid=false`, never a throw (q134).
  *
  * 100 TB shape: pure map-side behind the imperative codec seam —
  * the XML never shuffles; downstream sees (id, stats) rows. */
object Sitemap {

  final case class SitemapInfo(media_id: Long, n_urls: Long, n_hosts: Long,
                               n_lastmod: Long, sum_prio_tenths: Long,
                               sum_loc_chars: Long, valid: Boolean)

  private[graft] def parse(id: Long, xml: String): SitemapInfo = {
    val invalid = SitemapInfo(id, 0L, 0L, 0L, 0L, 0L, valid = false)
    if (xml == null || xml.isEmpty) return invalid
    try {
      val n = xml.length
      var i = 0
      def fail(): Nothing = throw Malformed
      def ws(): Unit = {
        while (i < n && (xml.charAt(i) == ' ' || xml.charAt(i) == '\t' ||
          xml.charAt(i) == '\r' || xml.charAt(i) == '\n')) i += 1
      }
      def expect(s: String): Unit = {
        if (!xml.startsWith(s, i)) fail(); i += s.length
      }
      // attribute run of an open tag, quoted values only, until '>'
      def skipAttrs(): Unit = {
        var done = false
        while (!done) {
          if (i >= n) fail()
          val c = xml.charAt(i)
          if (c == '>') { done = true; i += 1 }
          else if (c == '"' || c == '\'') {
            val e = xml.indexOf(c, i + 1); if (e < 0) fail(); i = e + 1
          } else i += 1
        }
      }
      // TEXT content up to '<', entities decoded (XML-strict)
      def text(): String = {
        val sb = new java.lang.StringBuilder()
        while (i < n && xml.charAt(i) != '<') {
          val c = xml.charAt(i)
          if (c == '&') {
            val e = xml.indexOf(';', i + 1)
            if (e < 0 || e - i > 8) fail()
            val ent = xml.substring(i + 1, e)
            val cp: Int = ent match {
              case "amp" => '&'; case "lt" => '<'; case "gt" => '>'
              case "quot" => '"'; case "apos" => '\''
              case _ =>
                if (ent.length >= 2 && ent.charAt(0) == '#') {
                  val v = if (ent.charAt(1) == 'x' || ent.charAt(1) == 'X')
                    Integer.parseInt(ent.substring(2), 16)
                  else Integer.parseInt(ent.substring(1))
                  if (v <= 0 || v > 0x10FFFF) fail()
                  v
                } else fail()
            }
            sb.appendCodePoint(cp); i = e + 1
          } else { sb.append(c); i += 1 }
        }
        sb.toString
      }
      expect("<?xml")
      val decl = xml.indexOf("?>", i); if (decl < 0) fail(); i = decl + 2
      ws(); expect("<urlset"); skipAttrs()
      var nUrls = 0L; var nLastmod = 0L
      var sumPrio = 0L; var sumLoc = 0L
      val hosts = new java.util.HashSet[String]()
      var closed = false
      while (!closed) {
        ws()
        if (xml.startsWith("</urlset>", i)) { i += 9; closed = true }
        else {
          expect("<url>")
          var loc: String = null
          var urlDone = false
          while (!urlDone) {
            ws()
            if (xml.startsWith("</url>", i)) { i += 6; urlDone = true }
            else if (xml.startsWith("<loc>", i)) {
              i += 5
              if (loc != null) fail() // exactly one loc
              loc = text(); expect("</loc>")
            } else if (xml.startsWith("<lastmod>", i)) {
              i += 9
              val v = text(); expect("</lastmod>")
              if (v.isEmpty) fail()
              nLastmod += 1
            } else if (xml.startsWith("<priority>", i)) {
              i += 10
              val v = text(); expect("</priority>")
              val tenths =
                if (v == "1.0") 10
                else if (v.length == 3 && v.charAt(0) == '0' &&
                  v.charAt(1) == '.' && v.charAt(2).isDigit)
                  v.charAt(2) - '0'
                else fail()
              sumPrio += tenths
            } else fail()
          }
          if (loc == null) fail()
          val sch = loc.indexOf("://"); if (sch <= 0) fail()
          val hostEnd = loc.indexOf('/', sch + 3)
          hosts.add(if (hostEnd < 0) loc.substring(sch + 3)
            else loc.substring(sch + 3, hostEnd))
          nUrls += 1
          sumLoc += loc.codePointCount(0, loc.length)
        }
      }
      ws()
      if (i != n) fail() // only whitespace after the root close
      if (nUrls == 0) fail()
      SitemapInfo(id, nUrls, hosts.size.toLong, nLastmod, sumPrio, sumLoc,
        valid = true)
    } catch {
      case Malformed | _: IndexOutOfBoundsException |
          _: NumberFormatException | _: IllegalArgumentException =>
        invalid
    }
  }

  /** Map-side decode (the q179 pattern). */
  def decodeSitemap(pages: Dataset[(Long, String)]): Dataset[SitemapInfo] = {
    import pages.sparkSession.implicits._
    pages.mapPartitions(_.map { case (id, x) => parse(id, x) })
  }

  /** Writer: `nUrls` entries; entry i targets host `h((seed+i)%5)
    * .example`, path `/s/i?a=1&b=(i%3)` (ampersand XML-escaped — the
    * decode is load-bearing), `lastmod` when i%2==0, `priority
    * 0.((seed+i)%10)` when i%3!=1. */
  def sitemapPayload(nUrls: Int, seed: Long): String = {
    require(nUrls >= 1 && nUrls <= 4096, s"bad nUrls $nUrls")
    require(seed >= 0, s"bad seed $seed")
    val sb = new StringBuilder()
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
      .append("<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n")
    var i = 0
    while (i < nUrls) {
      sb.append("<url>\n<loc>http://h").append((seed + i) % 5)
        .append(".example/s/").append(i).append("?a=1&amp;b=")
        .append(i % 3).append("</loc>\n")
      if (i % 2 == 0)
        sb.append("<lastmod>2026-0").append(1 + (seed + i) % 9)
          .append("-0").append(1 + i % 9).append("</lastmod>\n")
      if (i % 3 != 1)
        sb.append("<priority>0.").append((seed + i) % 10)
          .append("</priority>\n")
      sb.append("</url>\n")
      i += 1
    }
    sb.append("</urlset>\n")
    sb.toString
  }
}
