package graft.operators

import org.apache.spark.sql.Dataset

import graft.codec.{Gzip, Malformed}

/** WARC (ISO 28500) web-archive codec over multi-member gzip — the
  * INGESTION container of a web-crawl training corpus (Common Crawl
  * ships its crawls as `.warc.gz`: one gzip MEMBER per record, so a
  * reader can seek to any record boundary and inflate just that
  * member). A 100 TB text pipeline starts at exactly this walk:
  * enumerate members, inflate each independently, parse the WARC
  * header block, and hand the payload to the text stages — which is
  * the subset implemented here, dependency-free (`graft.codec.Gzip`
  * reads the members).
  *
  * Subset: gzip members with CM=8 and FLG ∈ {0, FNAME} (FEXTRA /
  * FCOMMENT / FHCRC / reserved bits → reject — crawl writers emit
  * bare members); per-member CRC-32 and ISIZE verified against the
  * inflated bytes; each member holds ONE `WARC/1.0` record —
  * CRLF-terminated header lines (`WARC-Type`, `WARC-Target-URI`,
  * `Content-Length` required), a blank line, `Content-Length` payload
  * bytes, and the spec's closing `\r\n\r\n` — consumed EXACTLY (no
  * trailing slack). The stream must end on a member boundary.
  *
  * The parse cannot be faked from container metadata: the payload
  * byte sum reads bytes that only exist AFTER a real inflate (the
  * writer compresses at level 6, so the file bytes differ from the
  * record bytes), and the distinct-host count requires parsing the
  * `WARC-Target-URI` header value out of the inflated header block.
  *
  * Malformed/crafted input → all-zero `valid=false`, never a throw
  * (the q134 contract); bounds arithmetic in Long (the ADVICE r8
  * NcClassic rule); inflated size capped per member (zip-bomb guard).
  *
  * 100 TB shape: pure map-side behind the imperative codec seam;
  * payload bytes never shuffle. Reference analogue: the S3/S4 scene
  * ingestion scan (`process_files.py`) — enumerate containers, decode
  * each independently, emit per-container metadata. */
object Warc {

  final case class WarcInfo(media_id: Long, n_records: Long,
                            n_response: Long, sum_content_len: Long,
                            max_content_len: Long, sum_payload_bytes: Long,
                            n_hosts: Long, valid: Boolean)

  /** One record of the member walk — the per-record surface the crawl
    * front-end (q184) consumes; [[WarcInfo]] is its aggregation. */
  final case class WarcRecord(media_id: Long, rec_idx: Long,
                              warc_type: String, uri: String,
                              content_len: Long, payload_sum: Long,
                              member_off: Long, member_len: Long)

  /** Raw record with its payload bytes — partition-internal only
    * (consumers reduce the payload in place; bodies never join a row
    * frame that crosses an exchange). `memberOff`/`memberLen` frame
    * the record's whole gzip MEMBER in the archive: the seekability
    * contract of `.warc.gz` (slice those bytes and you hold a
    * complete, independently inflatable one-record archive — the law
    * WarcSpec pins, and what a CDX index points at). */
  private[operators] final case class RawRecord(idx: Long, typ: String,
                                                uri: String,
                                                payload: Array[Byte],
                                                memberOff: Long,
                                                memberLen: Long,
                                                digest: String)

  /** Per-member inflated-size cap: a crafted member whose DEFLATE
    * stream expands past this is rejected before the allocation, not
    * after (zip-bomb guard — crawl records are MB-scale; a 16 MiB
    * single-record cap is generous and executor-memory-safe). */
  private val MaxInflated = 1 << 24

  /** Per-ARCHIVE total-inflated cap (ADVICE r9): [[walk]] retains every
    * member's payload until the caller aggregates, so the per-member cap
    * alone lets a crafted multi-member archive amplify ~1000× (DEFLATE's
    * max ratio) into simultaneously-retained heap. The walk counts the
    * inflated bytes ACROSS members and rejects the archive once the
    * running total passes this (8× the member cap = 128 MiB — far above
    * any real crawl archive slice a single task should hold). */
  private val MaxArchiveInflated = MaxInflated.toLong * 8

  /** Authority of a URI the walk has already validated. */
  private def hostOf(uri: String): String = {
    val sch = uri.indexOf("://")
    val hostEnd = uri.indexOf('/', sch + 3)
    if (hostEnd < 0) uri.substring(sch + 3)
    else uri.substring(sch + 3, hostEnd)
  }

  private[graft] def parse(id: Long, b: Array[Byte]): WarcInfo = {
    val invalid = WarcInfo(id, 0L, 0L, 0L, 0L, 0L, 0L, valid = false)
    if (b == null || b.length == 0) return invalid
    try {
      val recs = walk(id, b).map(toRecord(id, _))
      if (recs.isEmpty) throw Malformed
      val hosts = new java.util.HashSet[String]()
      recs.foreach(r => hosts.add(hostOf(r.uri)))
      WarcInfo(id, recs.size.toLong,
        recs.count(_.warc_type == "response").toLong,
        recs.map(_.content_len).sum, recs.map(_.content_len).max,
        recs.map(_.payload_sum).sum, hosts.size.toLong, valid = true)
    } catch {
      case Malformed | _: IndexOutOfBoundsException |
          _: NegativeArraySizeException | _: IllegalArgumentException =>
        invalid
    }
  }

  private def toRecord(id: Long, r: RawRecord): WarcRecord = {
    var sum = 0L
    var j = 0
    while (j < r.payload.length) { sum += r.payload(j) & 0xff; j += 1 }
    WarcRecord(id, r.idx, r.typ, r.uri, r.payload.length.toLong, sum,
      r.memberOff, r.memberLen)
  }

  /** The member walk: every gzip member inflated and CRC-verified, its
    * WARC record framed exactly — throws on ANY deviation ([[parse]],
    * [[records]] and the HTTP layer ([[graft.operators.Http]]) wrap
    * it). */
  private[operators] def walk(id: Long, b: Array[Byte]): List[RawRecord] = {
    {
      var off = 0
      val recsOut = List.newBuilder[RawRecord]
      var recIdx = 0L
      var totalInflated = 0L
      while (off < b.length) {
        val memberOff = off
        val (rec, next) = Gzip.read(b, off, b.length,
          math.min(MaxInflated, MaxArchiveInflated - totalInflated))
        totalInflated += rec.length
        off = next
        // ---- WARC record: version, headers, payload, closing CRLFs ----
        def lineEnd(from: Int): Int = {
          var i = from
          while (i + 1 < rec.length &&
            !(rec(i) == '\r' && rec(i + 1) == '\n')) i += 1
          if (i + 1 >= rec.length) throw Malformed
          i
        }
        var p = lineEnd(0)
        if (new String(rec, 0, p, "ISO-8859-1") != "WARC/1.0")
          throw Malformed
        p += 2
        var typ: String = null; var uri: String = null
        var digest = ""
        var contentLen = -1L
        while (!(p + 1 < rec.length && rec(p) == '\r' && rec(p + 1) == '\n')) {
          val e = lineEnd(p)
          val line = new String(rec, p, e - p, "ISO-8859-1")
          val c = line.indexOf(": ")
          if (c <= 0) throw Malformed
          val name = line.substring(0, c); val value = line.substring(c + 2)
          name match {
            case "WARC-Type"           => typ = value
            case "WARC-Target-URI"     => uri = value
            case "WARC-Payload-Digest" => digest = value
            case "Content-Length"  =>
              if (!value.forall(_.isDigit) || value.isEmpty ||
                value.length > 18) throw Malformed
              contentLen = value.toLong
            case _                 => () // tolerated extension header
          }
          p = e + 2
        }
        p += 2 // past the blank line
        if (typ == null || uri == null || contentLen < 0) throw Malformed
        if (p.toLong + contentLen + 4 != rec.length) throw Malformed
        val t = p + contentLen.toInt
        if (rec(t) != '\r' || rec(t + 1) != '\n' ||
          rec(t + 2) != '\r' || rec(t + 3) != '\n') throw Malformed
        // the URI must carry an authority (scheme://HOST/...)
        if (uri.indexOf("://") <= 0) throw Malformed
        recsOut += RawRecord(recIdx, typ, uri,
          java.util.Arrays.copyOfRange(rec, p, t),
          memberOff.toLong, (off - memberOff).toLong, digest)
        recIdx += 1
      }
      recsOut.result()
    }
  }

  /** One row of the REVISIT surface (r10): the WARC dedup mechanism —
    * Common Crawl stores a re-fetched unchanged page as a `revisit`
    * record carrying only the `WARC-Payload-Digest` of the original
    * capture, and a consumer must RESOLVE revisits to their originals
    * by digest to reconstruct content. `declared_digest` is the
    * header value; `payload_sha1` is computed map-side over the
    * actual payload bytes (JDK `MessageDigest`), so a digest-verified
    * original is one where the two agree. */
  final case class RevisitRow(media_id: Long, rec_idx: Long,
                              warc_type: String, uri: String,
                              content_len: Long, declared_digest: String,
                              payload_sha1: String)

  private def sha1Hex(b: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val d = md.digest(b)
    val sb = new java.lang.StringBuilder(40)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    "sha1:" + sb.toString
  }

  /** Per-record revisit surface: every record with its declared digest
    * (the `WARC-Payload-Digest` header, "" when absent) and the sha1
    * computed over its actual payload — both derived inside the
    * partition; payload bytes never leave it. Malformed archives
    * yield no rows (the q178 stance). */
  def revisitRecords(media: Dataset[(Long, Array[Byte])])
      : Dataset[RevisitRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { case (id, bytes) =>
      if (bytes == null || bytes.isEmpty) Nil
      else try walk(id, bytes).map { r =>
        RevisitRow(id, r.idx, r.typ, r.uri, r.payload.length.toLong,
          r.digest, sha1Hex(r.payload))
      }
      catch {
        case Malformed | _: IndexOutOfBoundsException |
            _: NegativeArraySizeException | _: IllegalArgumentException =>
          Nil
      }
    })
  }

  /** Map-side decode: the imperative codec seam (the q126/q134/q154
    * pattern) — payload bytes stay inside their partition. */
  def decodeWarc(media: Dataset[(Long, Array[Byte])]): Dataset[WarcInfo] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { case (id, bytes) => parse(id, bytes) })
  }

  /** Per-record extraction — the crawl front-end's first stage (q184):
    * each archive fans out to its records map-side (payload bytes
    * reduced to a sum in place; only header-sized rows leave the
    * partition). A malformed archive yields NO rows (the aggregate
    * gate q178 is where malformedness is surfaced). */
  def records(media: Dataset[(Long, Array[Byte])]): Dataset[WarcRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { case (id, bytes) =>
      if (bytes == null || bytes.isEmpty) Nil
      else try walk(id, bytes).map(toRecord(id, _))
      catch {
        case Malformed | _: IndexOutOfBoundsException |
            _: NegativeArraySizeException | _: IllegalArgumentException =>
          Nil
      }
    })
  }

  // ---------------------------------------------------------------
  // Writer (test/synthesis side): a real multi-member .warc.gz with
  // deterministic record content — the differential fixture generator.
  // ---------------------------------------------------------------

  /** Deterministic multi-member `.warc.gz`: `nRecords` records, record
    * i of type response/request/metadata by i%3, target host
    * h((seed+i)%5).example, Content-Length 30+((seed+11i)%170), payload
    * byte j = (seed+3i+j)%256. Every 4th member (i%4==1) carries an
    * FNAME field so the parser must honor the FLG bit. Compression is
    * real (level-6 DEFLATE): file bytes ≠ record bytes, so only an
    * actual inflate reproduces the oracle's payload sums. */
  def warcPayload(nRecords: Int, seed: Int): Array[Byte] = {
    require(nRecords >= 1 && nRecords <= 4096, s"bad nRecords $nRecords")
    require(seed >= 0, s"bad seed $seed")
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < nRecords) {
      val typ = (i % 3: @unchecked) match {
        case 0 => "response"; case 1 => "request"; case 2 => "metadata"
      }
      val host = (seed + i) % 5
      val clen = 30 + ((seed + 11 * i) % 170)
      val head = new StringBuilder()
        .append("WARC/1.0\r\n")
        .append("WARC-Type: ").append(typ).append("\r\n")
        .append("WARC-Record-ID: <urn:uuid:").append(seed).append('-')
        .append(i).append(">\r\n")
        .append("WARC-Date: 2026-01-01T00:00:00Z\r\n")
        .append("WARC-Target-URI: http://h").append(host)
        .append(".example/p/").append(i).append("\r\n")
        .append("Content-Length: ").append(clen).append("\r\n")
        .append("\r\n").toString.getBytes("ISO-8859-1")
      val rec = new Array[Byte](head.length + clen + 4)
      System.arraycopy(head, 0, rec, 0, head.length)
      var j = 0
      while (j < clen) {
        rec(head.length + j) = ((seed + 3 * i + j) % 256).toByte
        j += 1
      }
      rec(rec.length - 4) = '\r'; rec(rec.length - 3) = '\n'
      rec(rec.length - 2) = '\r'; rec(rec.length - 1) = '\n'
      out.write(Gzip.member(rec,
        if (i % 4 == 1) Some(s"rec-$i") else None))
      i += 1
    }
    out.toByteArray
  }

  /** Deterministic revisit-bearing `.warc.gz` (r10): records j with
    * j%3 ∈ {0,1} are responses (q178's payload formulas) each
    * declaring `WARC-Payload-Digest: sha1:…` of its OWN payload;
    * j%3 == 2 is a `revisit` record (empty payload — the whole point
    * of the mechanism) declaring the digest of record `(seed+j)%2` —
    * except every (seed+j)%5==0 revisit, which declares the digest of
    * a payload that never ships anywhere (an unresolvable revisit, as
    * when the original capture predates the corpus slice). */
  def warcRevisitPayload(nRecords: Int, seed: Int): Array[Byte] = {
    require(nRecords >= 3 && nRecords <= 64, s"bad nRecords $nRecords")
    require(seed >= 0, s"bad seed $seed")
    def payloadOf(j: Int): Array[Byte] = {
      val clen = 30 + ((seed + 11 * j) % 170)
      Array.tabulate(clen)(k => ((seed + 3 * j + k) % 256).toByte)
    }
    val out = new java.io.ByteArrayOutputStream()
    var j = 0
    while (j < nRecords) {
      val uri = s"http://h${(seed + j) % 5}.example/p/$j"
      val (typ, payload, digest) =
        if (j % 3 == 2) {
          val ref = if ((seed + j) % 5 == 0) 999 else (seed + j) % 2
          ("revisit", Array.emptyByteArray, sha1Hex(payloadOf(ref)))
        } else ("response", payloadOf(j), null: String)
      val dig = if (digest != null) digest else sha1Hex(payload)
      val head = ("WARC/1.0\r\n" +
        s"WARC-Type: $typ\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        s"WARC-Payload-Digest: $dig\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes("ISO-8859-1")
      val rec = new Array[Byte](head.length + payload.length + 4)
      System.arraycopy(head, 0, rec, 0, head.length)
      System.arraycopy(payload, 0, rec, head.length, payload.length)
      rec(rec.length - 4) = '\r'; rec(rec.length - 3) = '\n'
      rec(rec.length - 2) = '\r'; rec(rec.length - 1) = '\n'
      out.write(Gzip.member(rec, None))
      j += 1
    }
    out.toByteArray
  }
}
