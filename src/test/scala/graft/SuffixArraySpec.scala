package graft

import graft.operators.SuffixArray

/** Suffix-array construction by prefix doubling (L121): brute-force
  * lexicographic oracle, the shorter-suffix-first law, the capped-tie
  * path, and convergence behavior. */
class SuffixArraySpec extends SparkSpec {

  /** Brute-force oracle: sort all capped suffixes as strings, ties by
    * (doc, pos). */
  private def brute(docs: Seq[(Long, String)], cap: Int): Map[(Long, Long), Long] =
    docs.flatMap { case (id, t) =>
      val c = t.take(cap)
      c.indices.map(p => ((id, p.toLong), c.substring(p)))
    }.sortBy { case ((id, p), suf) => (suf, id, p) }
      .zipWithIndex.map { case ((k, _), i) => k -> (i + 1L) }.toMap

  private def run(docs: Seq[(Long, String)], cap: Int): Map[(Long, Long), Long] = {
    import spark.implicits._
    SuffixArray.suffixRanks(docs.toDF("doc_id", "text"), "doc_id", "text", cap)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
  }

  test("matches the brute-force suffix sort on mixed docs") {
    val docs = Seq(1L -> "banana", 2L -> "bandana", 3L -> "an", 4L -> "a")
    run(docs, 16) shouldBe brute(docs, 16)
  }

  test("shorter suffix sorts before every longer one sharing its prefix") {
    // "ab" suffixes: "ab","b"; "abc": "abc","bc","c" — "ab" < "abc"
    val docs = Seq(1L -> "ab", 2L -> "abc")
    val r = run(docs, 8)
    val b = brute(docs, 8)
    r shouldBe b
    assert(r((1L, 0L)) < r((2L, 0L))) // "ab" before "abc"
  }

  test("identical capped suffixes tie-break by (doc_id, pos) — the non-converged path") {
    // identical docs: every suffix pair ties at ANY cap; the doubling
    // loop can never converge and the final tie-break pass must run
    val docs = Seq(5L -> "aaaa", 2L -> "aaaa")
    val r = run(docs, 4)
    r shouldBe brute(docs, 4)
    // "aaaa" of doc 2 before "aaaa" of doc 5
    assert(r((2L, 0L)) < r((5L, 0L)))
  }

  test("cap truncates the comparison window") {
    // under cap 2 the suffixes of "xyz" are "xy","y" (z never seen)
    val docs = Seq(1L -> "xyz")
    val r = run(docs, 2)
    r.keySet shouldBe Set((1L, 0L), (1L, 1L))
    r shouldBe brute(docs, 2)
  }

  test("randomized differential: 40 docs of random lowercase text") {
    val rnd = new scala.util.Random(20260815)
    val docs = (0 until 40).map { i =>
      val len = 1 + rnd.nextInt(30)
      (i.toLong, (0 until len).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
    }
    run(docs, 16) shouldBe brute(docs, 16)
  }

  test("duplicateSpans finds exactly the planted repeats with exact LCPs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "xxthe quick brown dog sits"),
      (3L, "zzzz unrelated text here"))
    // brute force: adjacent pairs in the sorted capped-suffix order
    val cap = 32; val min = 10
    val sufs = docs.flatMap { case (id, t) =>
      val c = t.take(cap)
      c.indices.map(p => (id, p.toLong, c.substring(p)))
    }.sortBy { case (id, p, suf) => (suf, id, p) }
    val expected = sufs.zip(sufs.tail).flatMap {
      case ((d1, p1, s1), (d2, p2, s2)) =>
        val lcp = s1.zip(s2).takeWhile { case (a, b) => a == b }.length
        if (lcp >= min) Some((d1, p1, d2, p2, lcp.toLong)) else None
    }.toSet
    expected should not be empty // "the quick brown " repeats (16 chars)
    val got = SuffixArray.duplicateSpans(docs.toDF("doc_id", "text"),
        "doc_id", "text", cap, min)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    got shouldBe expected
  }

  test("artifact lifecycle: persisted ranks ≡ live, consumer ≡ consumer (r10)") {
    import spark.implicits._
    val docs = Seq(1L -> "the cat sat on the mat the cat sat",
      2L -> "a different text with the cat sat inside",
      3L -> "zebra").toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft_sa_spec").toString + "/sa"
    SuffixArray.saveSuffixRanks(docs, "doc_id", "text", 32, path)
    val live = SuffixArray.suffixRanks(docs, "doc_id", "text", 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity).toSeq
    val loaded = SuffixArray.loadSuffixRanks(spark, path)
    val persisted = loaded.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity).toSeq
    persisted shouldBe live
    // the span consumer over the LOADED artifact matches the live path
    val a = SuffixArray.duplicateSpansFrom(loaded, docs, "doc_id", "text",
        32, 8).collect().map(_.toSeq).sortBy(_.toString)
    val b = SuffixArray.duplicateSpans(docs, "doc_id", "text", 32, 8)
      .collect().map(_.toSeq).sortBy(_.toString)
    a shouldBe b
    a.length should be > 0
  }

  test("output is a permutation 1..n") {
    val docs = Seq(1L -> "hello world", 2L -> "world hello")
    val r = run(docs, 32)
    r.values.toSeq.sorted shouldBe (1L to r.size.toLong)
  }

  /** Brute-force removal oracle: later side of each SA-adjacent pair
    * with lcp >= min is a span; excise the per-doc union from the
    * capped prefix, keep the tail. Returns doc_id -> (clean,
    * removed_chars, n_islands). */
  private def bruteClean(docs: Seq[(Long, String)], cap: Int,
                         min: Int): Map[Long, (String, Long, Long)] = {
    val sufs = docs.flatMap { case (id, t) =>
      val c = t.take(cap)
      c.indices.map(p => (id, p, c.substring(p)))
    }.sortBy { case (id, p, suf) => (suf, id, p) }
    val spans = sufs.zip(sufs.tail).flatMap {
      case ((d1, p1, s1), (d2, p2, s2)) =>
        val lcp = s1.zip(s2).takeWhile { case (a, b) => a == b }.length
        if (lcp < min) None
        else if (d1 > d2 || (d1 == d2 && p1 > p2)) Some((d1, p1, p1 + lcp))
        else Some((d2, p2, p2 + lcp))
    }
    docs.map { case (id, t) =>
      val c = t.take(cap)
      val ivs = spans.collect { case (d, s, e) if d == id => (s, e) }
        .sorted
      var cov = 0; val out = new StringBuilder; var k = 0L
      ivs.foreach { case (s, e) =>
        if (k == 0 || s > cov) { out ++= c.substring(cov.min(s), s); k += 1 }
        cov = cov.max(e)
      }
      out ++= c.substring(cov)
      id -> (out.toString + t.drop(cap),
        (c.length - out.length).toLong, k)
    }.toMap
  }

  private def runClean(docs: Seq[(Long, String)], cap: Int,
                       min: Int): Map[Long, (String, Long, Long)] = {
    import spark.implicits._
    SuffixArray.removeDuplicateSpans(docs.toDF("doc_id", "text"),
        "doc_id", "text", cap, min)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
  }

  test("removeDuplicateSpans excises the planted repeat's later copy only") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "xxthe quick brown dog sits"))
    val got = runClean(docs, 32, 10)
    got shouldBe bruteClean(docs, 32, 10)
    // earliest occurrence (doc 1) survives untouched
    got(1L)._1 shouldBe "the quick brown fox jumps"
    got(1L)._2 shouldBe 0L
    // doc 2's copy of "the quick brown " is cut
    assert(got(2L)._2 > 0L)
    assert(!got(2L)._1.contains("quick"))
  }

  test("removeDuplicateSpans: span-free docs pass through, tail beyond cap preserved") {
    val long = "abcdefgh" * 10 // 80 chars, cap 8 -> tail 72 preserved
    val docs = Seq((1L, long), (2L, "zqzqzq"))
    val got = runClean(docs, 8, 6)
    got shouldBe bruteClean(docs, 8, 6)
    got(1L)._1.endsWith(long.drop(8)) shouldBe true
  }

  test("removeDuplicateSpans randomized differential (overlap-heavy small alphabet)") {
    val rnd = new scala.util.Random(20260816)
    val docs = (0 until 30).map { i =>
      val len = 5 + rnd.nextInt(40)
      (i.toLong, (0 until len).map(_ => ('a' + rnd.nextInt(2)).toChar).mkString)
    }
    val got = runClean(docs, 16, 5)
    got shouldBe bruteClean(docs, 16, 5)
    // conservation: removed + kept-prefix == capped length
    docs.foreach { case (id, t) =>
      val (clean, rem, _) = got(id)
      (clean.length + rem) shouldBe t.length.toLong
    }
  }
}
