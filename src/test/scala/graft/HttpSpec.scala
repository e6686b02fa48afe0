package graft

import graft.codec.Gzip
import graft.operators.{Http, Warc}

/** HTTP-in-WARC parsing (q185): formula round-trip, framing
  * strictness, header semantics, and never-throw under corruption. */
class HttpSpec extends SparkSpec {

  private def expected(id: Long, n: Int, seed: Int): Seq[Http.HttpInfo] =
    (0 until n).filter(_ % 3 == 0).map { i =>
      val blen = 20 + ((seed + 7 * i) % 120)
      Http.HttpInfo(id, i.toLong,
        Seq(200L, 301L, 404L)((seed + i) % 3),
        if (i % 2 == 0) "text/html" else "text/plain",
        if (i % 2 == 0) "utf-8" else "",
        4L + (seed + i) % 3 + (if ((seed + i) % 4 == 0) 1L else 0L),
        blen.toLong,
        (0 until blen).map(j => ((seed + 2 * i + j) % 256).toLong).sum,
        valid = true)
    }

  test("round-trip differential over the (n, seed) grid") {
    import spark.implicits._
    for (n <- Seq(1, 3, 4, 7, 8); seed <- 0 until 13) {
      val ds = spark.createDataset(Seq(
        (n * 100L + seed, Http.warcHttpPayload(n, seed))))
      val got = Http.decodeWarcHttp(ds).collect().sortBy(_.rec_idx).toSeq
      got shouldBe expected(n * 100L + seed, n, seed)
    }
  }

  test("the WARC layer still accepts the HTTP-bearing archives") {
    // warcHttpPayload is a valid q178-grammar archive too: the member
    // walk and framing rules are shared, only payload content differs
    val b = Http.warcHttpPayload(6, 5)
    val info = Warc.parse(9L, b)
    info.valid shouldBe true
    info.n_records shouldBe 6L
    info.n_response shouldBe 2L
  }

  test("Content-Encoding gzip: decoded stats, corrupt/unknown reject (r10)") {
    val raw = Array.tabulate(50)(k => ((k * 7) % 256).toByte)
    val gz = Gzip.member(raw, None)
    val msg = (("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
      s"Content-Encoding: gzip\r\nContent-Length: ${gz.length}\r\n\r\n")
      .getBytes("ISO-8859-1")) ++ gz
    val info = Http.parseResponse(1L, 0L, msg)
    info.valid shouldBe true
    info.body_len shouldBe 50L // DECODED length, not gz.length
    info.body_sum shouldBe raw.map(_ & 0xff).map(_.toLong).sum
    info.n_headers shouldBe 3L
    // corrupt a byte of the compressed body → CRC/structure reject
    val bad = msg.clone()
    bad(msg.length - 10) = (bad(msg.length - 10) ^ 0x3c).toByte
    Http.parseResponse(1L, 0L, bad).valid shouldBe false
    // unknown encoding token rejects (same length: framing intact)
    val br = new String(msg, "ISO-8859-1")
      .replaceFirst("gzip", "brot").getBytes("ISO-8859-1")
    Http.parseResponse(1L, 0L, br).valid shouldBe false
    // truncating the member (Content-Length short) rejects
    val shortMsg = (("HTTP/1.1 200 OK\r\n" +
      s"Content-Encoding: gzip\r\nContent-Length: ${gz.length - 4}\r\n\r\n")
      .getBytes("ISO-8859-1")) ++ gz.dropRight(4)
    Http.parseResponse(1L, 0L, shortMsg).valid shouldBe false
  }

  test("Transfer-Encoding chunked: all four transport framings " +
      "round-trip to the same decoded stats (r10)") {
    import spark.implicits._
    def expectedChunked(id: Long, n: Int, seed: Int): Seq[Http.HttpInfo] =
      (0 until n).filter(_ % 3 == 0).map { i =>
        val blen = 20 + ((seed + 7 * i) % 120)
        val ce = (seed + i) % 4 == 1 || (seed + i) % 4 == 3
        Http.HttpInfo(id, i.toLong,
          Seq(200L, 301L, 404L)((seed + i) % 3),
          if (i % 2 == 0) "text/html" else "text/plain",
          if (i % 2 == 0) "utf-8" else "",
          4L + (seed + i) % 3 + (if (ce) 1L else 0L),
          blen.toLong,
          (0 until blen).map(j => ((seed + 2 * i + j) % 256).toLong).sum,
          valid = true)
      }
    for (n <- Seq(1, 4, 7, 8); seed <- 0 until 13) {
      val ds = spark.createDataset(Seq(
        (n * 100L + seed, Http.warcChunkedPayload(n, seed))))
      val got = Http.decodeWarcHttp(ds).collect().sortBy(_.rec_idx).toSeq
      got shouldBe expectedChunked(n * 100L + seed, n, seed)
    }
  }

  test("chunked strictness: smuggling shape, extensions, trailers and " +
      "framing mutations reject; hex case accepted") {
    def p(s: String): Http.HttpInfo =
      Http.parseResponse(1L, 0L, s.getBytes("ISO-8859-1"))
    val head = "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
      "Transfer-Encoding: chunked\r\n\r\n"
    val ok = p(head + "5\r\nhello\r\n3\r\nwor\r\n0\r\n\r\n")
    ok.valid shouldBe true
    ok.body_len shouldBe 8L
    ok.body_sum shouldBe "hellowor".getBytes.map(_.toLong).sum
    // uppercase hex size
    p(head + "A\r\nhelloworld\r\n0\r\n\r\n").valid shouldBe true
    // BOTH framings present = the request-smuggling shape → reject
    p("HTTP/1.1 200 OK\r\nContent-Length: 8\r\n" +
      "Transfer-Encoding: chunked\r\n\r\n5\r\nhello\r\n3\r\nwor\r\n0\r\n\r\n")
      .valid shouldBe false
    // chunk extension out of subset
    p(head + "5;x=1\r\nhello\r\n0\r\n\r\n").valid shouldBe false
    // trailer section out of subset
    p(head + "5\r\nhello\r\n0\r\nX-T: v\r\n\r\n").valid shouldBe false
    // size lies: CRLF lands mid-data
    p(head + "4\r\nhello\r\n0\r\n\r\n").valid shouldBe false
    // missing final CRLF
    p(head + "5\r\nhello\r\n0\r\n").valid shouldBe false
    // trailing junk after the terminator
    p(head + "5\r\nhello\r\n0\r\n\r\nz").valid shouldBe false
    // unknown transfer coding
    p("HTTP/1.1 200 OK\r\nTransfer-Encoding: gzip\r\n\r\nx")
      .valid shouldBe false
    // gzip UNDER chunked: CE first, TE outermost — decoded stats
    val raw = Array.tabulate(64)(k => ((k * 11) % 256).toByte)
    val gz = Gzip.member(raw, None)
    val chunks = gz.grouped(9).map { g =>
      Integer.toHexString(g.length) + "\r\n" +
        new String(g, "ISO-8859-1") + "\r\n"
    }.mkString + "0\r\n\r\n"
    val both = p("HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n" +
      "Transfer-Encoding: chunked\r\n\r\n" + chunks)
    both.valid shouldBe true
    both.body_len shouldBe 64L
    both.body_sum shouldBe raw.map(_ & 0xff).map(_.toLong).sum
  }

  test("status line strictness") {
    def p(s: String): Http.HttpInfo =
      Http.parseResponse(1L, 0L, s.getBytes("ISO-8859-1"))
    val ok = "HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nab"
    p(ok).valid shouldBe true
    p(ok).status shouldBe 200L
    p(ok).body_sum shouldBe ('a'.toLong + 'b'.toLong)
    p("HTTP/1.0 200 OK\r\nContent-Length: 0\r\n\r\n").valid shouldBe false
    p("HTTP/1.1 20 OK\r\nContent-Length: 0\r\n\r\n").valid shouldBe false
    p("HTTP/1.1 2000 X\r\nContent-Length: 0\r\n\r\n").valid shouldBe false
    p("junk\r\nContent-Length: 0\r\n\r\n").valid shouldBe false
  }

  test("framing: Content-Length required and exact") {
    def p(s: String): Http.HttpInfo =
      Http.parseResponse(1L, 0L, s.getBytes("ISO-8859-1"))
    p("HTTP/1.1 200 OK\r\n\r\nab").valid shouldBe false      // no CL
    p("HTTP/1.1 200 OK\r\nContent-Length: 3\r\n\r\nab")
      .valid shouldBe false                                   // short
    p("HTTP/1.1 200 OK\r\nContent-Length: 1\r\n\r\nab")
      .valid shouldBe false                                   // slack
  }

  test("Content-Type split: media type, charset parameter, case folds") {
    def p(ct: String): Http.HttpInfo = Http.parseResponse(1L, 0L,
      s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\nContent-Length: 0\r\n\r\n"
        .getBytes("ISO-8859-1"))
    p("text/html; charset=UTF-8").media_type shouldBe "text/html"
    p("text/html; charset=UTF-8").charset shouldBe "utf-8"
    p("text/plain").charset shouldBe ""
    p("application/json; charset=ascii; boundary=x").charset shouldBe "ascii"
    // header NAME is case-insensitive
    Http.parseResponse(1L, 0L,
      "HTTP/1.1 200 OK\r\ncontent-length: 0\r\n\r\n"
        .getBytes("ISO-8859-1")).valid shouldBe true
  }

  test("corruption and garbage never throw; malformed archive → no rows") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815)
    // message-level fuzz: direct parseResponse on mutated + random bytes
    val msg = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=x\r\n" +
      "Content-Length: 5\r\n\r\nhello").getBytes("ISO-8859-1")
    for (_ <- 0 until 500) {
      val m = msg.clone()
      m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      noException should be thrownBy Http.parseResponse(1L, 0L, m)
    }
    for (_ <- 0 until 200) {
      val g = Array.fill(rnd.nextInt(200))(rnd.nextInt(256).toByte)
      noException should be thrownBy Http.parseResponse(1L, 0L, g)
    }
    // archive-level: a corrupt member yields NO rows, never a throw
    val b = Http.warcHttpPayload(5, 3)
    val bad = b.clone(); bad(15) = (bad(15) ^ 0x7f).toByte
    Http.decodeWarcHttp(spark.createDataset(Seq((1L, bad))))
      .count() shouldBe 0L
  }
}
