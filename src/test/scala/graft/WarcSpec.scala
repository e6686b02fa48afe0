package graft

import graft.codec.Gzip
import graft.operators.Warc

/** WARC / multi-member gzip codec (q178): round-trip differential
  * against an independent formula replay, member-boundary semantics,
  * CRC/trailer enforcement, the zip-bomb guard, and the never-throw
  * contract under truncation/corruption. */
class WarcSpec extends SparkSpec {

  /** Independent replay of the writer's documented formulas. */
  private def expected(id: Long, n: Int, seed: Int): Warc.WarcInfo = {
    val lens = Array.tabulate(n)(i => 30 + ((seed + 11 * i) % 170))
    val sumPayload = (0 until n).map { i =>
      (0 until lens(i)).map(j => ((seed + 3 * i + j) % 256).toLong).sum
    }.sum
    Warc.WarcInfo(id, n.toLong, (0 until n).count(_ % 3 == 0).toLong,
      lens.map(_.toLong).sum, lens.max.toLong, sumPayload,
      (0 until n).map(i => (seed + i) % 5).distinct.length.toLong,
      valid = true)
  }

  test("round-trip differential over the (n, seed) grid") {
    for (n <- Seq(1, 2, 3, 5, 7, 8, 13); seed <- 0 until 13) {
      val b = Warc.warcPayload(n, seed)
      Warc.parse(n * 100L + seed, b) shouldBe expected(n * 100L + seed, n, seed)
    }
  }

  test("compression is real: file bytes differ from record bytes") {
    // a parser that reads the file bytes as record bytes (skipping the
    // inflate) cannot reproduce the payload sums — the member body is
    // entropy-coded, not stored
    val b = Warc.warcPayload(4, 3)
    new String(b, "ISO-8859-1") should not include "WARC/1.0"
  }

  test("truncations: mid-member → invalid; member boundary → shorter valid walk") {
    val n = 5; val seed = 2
    val b = Warc.warcPayload(n, seed)
    // member boundaries: prefix lengths where a clean walk ends
    val boundaries = (1 to n).map(k =>
      Warc.warcPayload(k, seed).length).toSet
    // NOTE: warcPayload(k, seed) is a strict prefix of warcPayload(n,
    // seed) for k < n — members are generated independently in order
    for (len <- 1 until b.length) {
      val r = Warc.parse(1L, b.take(len))
      if (boundaries(len)) {
        r.valid shouldBe true
        r shouldBe expected(1L, boundaries.toSeq.sorted.indexOf(len) + 1, seed)
      } else r.valid shouldBe false
    }
    Warc.parse(1L, Array.empty[Byte]).valid shouldBe false
  }

  test("corrupting the DEFLATE body or trailer is caught (CRC/ISIZE)") {
    val b = Warc.warcPayload(1, 0)
    // member 0: header is 10 bytes (no FNAME at i=0); body spans
    // [10, len-8); trailer is the last 8 bytes
    for (pos <- 10 until b.length if pos != b.length - 9) {
      val m = b.clone()
      m(pos) = (m(pos) ^ 0x01).toByte
      val r = Warc.parse(1L, m)
      // a flip may still inflate to SOME byte stream, but the CRC-32 /
      // ISIZE verify (or the record framing) must reject it — it may
      // never silently produce the original truth. (The LAST body byte
      // — pos = len-9 — is exempt: its high bits are DEFLATE
      // final-block padding, where a flip legally changes nothing.)
      if (r.valid) r should not be expected(1L, 1, 0)
    }
  }

  test("reserved FLG bits and non-DEFLATE CM are rejected") {
    val b = Warc.warcPayload(2, 1)
    val flg = b.clone(); flg(3) = 0x04.toByte // FEXTRA: out of subset
    Warc.parse(1L, flg).valid shouldBe false
    val cm = b.clone(); cm(2) = 7.toByte
    Warc.parse(1L, cm).valid shouldBe false
  }

  test("FNAME members are honored (every 4th member carries one)") {
    // n >= 2 ⇒ member 1 has FLG=0x08 + a NUL-terminated name; the grid
    // test covers it, this pins the bit explicitly
    val b = Warc.warcPayload(2, 0)
    // find second member: it starts right after the first member ends
    val first = Warc.warcPayload(1, 0).length
    (b(first + 3) & 0x08) shouldBe 0x08
    Warc.parse(7L, b) shouldBe expected(7L, 2, 0)
  }

  test("zip-bomb guard: a member inflating past the cap is rejected") {
    // 17 MiB of zeros deflates to ~17 KB; the parser must reject on the
    // inflated-size cap BEFORE materializing the 17 MiB
    val bomb = Gzip.member(new Array[Byte](17 << 20), None)
    Warc.parse(1L, bomb).valid shouldBe false
  }

  test("archive-total inflate cap: many near-cap members reject (ADVICE r9)") {
    // each member is a VALID record inflating to just under the 16 MiB
    // per-member cap; 8 members (= 128 MiB total) pass the archive cap,
    // 9 (~144 MiB) exceed it — the per-MEMBER cap alone would admit both
    def bigArchive(n: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val clen = (1 << 24) - 4096
      for (i <- 0 until n) {
        val head = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
          s"WARC-Target-URI: http://h$i.example/\r\n" +
          s"Content-Length: $clen\r\n\r\n").getBytes("ISO-8859-1")
        val rec = new Array[Byte](head.length + clen + 4)
        System.arraycopy(head, 0, rec, 0, head.length)
        rec(rec.length - 4) = '\r'; rec(rec.length - 3) = '\n'
        rec(rec.length - 2) = '\r'; rec(rec.length - 1) = '\n'
        out.write(Gzip.member(rec, None))
      }
      out.toByteArray
    }
    Warc.parse(1L, bigArchive(8)).valid shouldBe true
    Warc.parse(2L, bigArchive(9)).valid shouldBe false
  }

  test("record framing is exact: slack after the closing CRLFs is rejected") {
    val rec = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: http://h.example/\r\nContent-Length: 2\r\n\r\n" +
      "ab\r\n\r\nX").getBytes("ISO-8859-1")
    Warc.parse(1L, Gzip.member(rec, None)).valid shouldBe false
    val ok = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: http://h.example/\r\nContent-Length: 2\r\n\r\n" +
      "ab\r\n\r\n").getBytes("ISO-8859-1")
    val r = Warc.parse(1L, Gzip.member(ok, None))
    r.valid shouldBe true
    r.n_records shouldBe 1L
    r.sum_payload_bytes shouldBe ('a'.toLong + 'b'.toLong)
    r.n_hosts shouldBe 1L
  }

  test("missing required headers are rejected") {
    for (drop <- Seq("WARC-Type", "WARC-Target-URI", "Content-Length")) {
      val lines = Seq(
        "WARC-Type: response", "WARC-Target-URI: http://h.example/x",
        "Content-Length: 0").filterNot(_.startsWith(drop))
      val rec = ("WARC/1.0\r\n" + lines.mkString("", "\r\n", "\r\n") +
        "\r\n\r\n\r\n").getBytes("ISO-8859-1")
      Warc.parse(1L, Gzip.member(rec, None)).valid shouldBe false
    }
  }

  test("random single-byte corruption and garbage never throw") {
    val b = Warc.warcPayload(6, 9)
    val rnd = new scala.util.Random(20260815)
    for (_ <- 0 until 500) {
      val m = b.clone()
      m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      noException should be thrownBy Warc.parse(1L, m)
    }
    for (_ <- 0 until 200) {
      val g = Array.fill(rnd.nextInt(200))(rnd.nextInt(256).toByte)
      noException should be thrownBy Warc.parse(1L, g)
    }
  }

  test("records(): per-record extraction matches the formulas; malformed → no rows") {
    import spark.implicits._
    val good = Warc.warcPayload(5, 2)
    val bad = { val m = good.clone(); m(20) = (m(20) ^ 0x7f).toByte; m }
    val ds = spark.createDataset(Seq((1L, good), (2L, bad)))
    val got = Warc.records(ds).collect().sortBy(_.rec_idx)
    got.map(_.media_id).distinct shouldBe Array(1L) // bad archive: 0 rows
    got.length shouldBe 5
    for (r <- got) {
      val i = r.rec_idx.toInt
      r.warc_type shouldBe Seq("response", "request", "metadata")(i % 3)
      r.uri shouldBe s"http://h${(2 + i) % 5}.example/p/$i"
      r.content_len shouldBe (30 + ((2 + 11 * i) % 170)).toLong
      r.payload_sum shouldBe
        (0 until r.content_len.toInt).map(j => ((2 + 3 * i + j) % 256).toLong).sum
    }
    // the aggregate walk and the record walk agree
    val agg = Warc.parse(1L, good)
    agg.n_records shouldBe got.length.toLong
    agg.sum_payload_bytes shouldBe got.map(_.payload_sum).sum
  }

  test("seekability law: each member's byte range re-inflates alone") {
    // the whole point of per-member gzip (and what a CDX line points
    // at): slicing [member_off, member_off + member_len) yields a
    // complete one-record archive; ranges tile the file exactly
    import spark.implicits._
    val b = Warc.warcPayload(6, 7)
    val recs = Warc.records(spark.createDataset(Seq((1L, b))))
      .collect().sortBy(_.rec_idx)
    recs.head.member_off shouldBe 0L
    recs.sliding(2).foreach { case Array(a, c) =>
      c.member_off shouldBe (a.member_off + a.member_len)
    }
    recs.last.member_off + recs.last.member_len shouldBe b.length.toLong
    for (r <- recs) {
      val slice = java.util.Arrays.copyOfRange(b,
        r.member_off.toInt, (r.member_off + r.member_len).toInt)
      val one = Warc.parse(99L, slice)
      one.valid shouldBe true
      one.n_records shouldBe 1L
      one.sum_content_len shouldBe r.content_len
      one.sum_payload_bytes shouldBe r.payload_sum
    }
  }

  test("revisit surface (r10): digests verify, references resolve, tamper kills") {
    import spark.implicits._
    val ds = spark.createDataset(Seq((1L, Warc.warcRevisitPayload(9, 3))))
    val rows = Warc.revisitRecords(ds).collect().sortBy(_.rec_idx)
    rows.length shouldBe 9
    for (r <- rows if r.warc_type == "response") {
      r.declared_digest shouldBe r.payload_sha1
      r.declared_digest should startWith("sha1:")
      r.content_len should be > 0L
    }
    val rev = rows.filter(_.warc_type == "revisit")
    rev.map(_.rec_idx) shouldBe Array(2L, 5L, 8L)
    rev.foreach(_.content_len shouldBe 0L)
    // seed 3: j=2 → (3+2)%5==0 → UNRESOLVED; j=5 → ref 0; j=8 → ref 1
    rows.map(_.payload_sha1) should not contain rev(0).declared_digest
    rev(1).declared_digest shouldBe rows(0).payload_sha1
    rev(2).declared_digest shouldBe rows(1).payload_sha1
    // distinct responses carry distinct digests (the injectivity the
    // q201 canonical-original election rests on)
    val resp = rows.filter(_.warc_type == "response")
    resp.map(_.payload_sha1).distinct.length shouldBe resp.length
    // tampering any archive byte breaks the member CRC → no rows
    val b = Warc.warcRevisitPayload(6, 7)
    val m = b.clone(); m(b.length / 2) = (m(b.length / 2) ^ 0x11).toByte
    Warc.revisitRecords(spark.createDataset(Seq((1L, m))))
      .collect() shouldBe empty
  }

  test("decodeWarc runs map-side over a Dataset") {
    import spark.implicits._
    val ds = spark.createDataset(Seq(
      (1L, Warc.warcPayload(3, 1)), (2L, Warc.warcPayload(5, 8))))
    val got = Warc.decodeWarc(ds).collect().sortBy(_.media_id)
    got(0) shouldBe expected(1L, 3, 1)
    got(1) shouldBe expected(2L, 5, 8)
  }
}
