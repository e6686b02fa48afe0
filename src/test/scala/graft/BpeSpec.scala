package graft

import graft.operators.Bpe
import graft.queries.Scratch

/** Real BPE application (VERDICT r7 #7): golden merge sequences,
  * the fixpoint/reassembly laws, and distributed-vs-local parity. */
class BpeSpec extends SparkSpec {

  private val merges: Seq[(String, String)] = Seq(
    "t" -> "h", "i" -> "n", "a" -> "n", "r" -> "e", "o" -> "n",
    "e" -> "r", "th" -> "e", "an" -> "d", "in" -> "g", "e" -> "n",
    "o" -> "r", "e" -> "s", "a" -> "t", "o" -> "u", "i" -> "t",
    "a" -> "l", "s" -> "t", "the" -> "r", "er" -> "s", "on" -> "g")
  private val rank = merges.zipWithIndex.toMap
  private val outId = merges.zipWithIndex.map { case ((l, r), k) =>
    (l + r) -> (1000L + k)
  }.toMap

  private def enc(w: String): Vector[(String, Long)] =
    Bpe.encodeWord(w, rank, outId)

  test("golden merges: compositional depth and rank priority") {
    enc("the").map(_._1) shouldBe Vector("the")
    enc("the").map(_._2) shouldBe Vector(1006L)
    // (e,r) rank 5 outranks (th,e) rank 6, so "the" never forms here —
    // rank priority, not longest-match
    enc("thermal").map(_._1) shouldBe Vector("th", "er", "m", "al")
    enc("thermal").map(_._2) shouldBe Vector(1000L, 1005L, 'm'.toLong, 1015L)
    enc("rather").map(_._1) shouldBe Vector("r", "a", "th", "er")
    enc("and").map(_._1) shouldBe Vector("and")
    enc("inning").map(_._1) shouldBe Vector("in", "n", "ing")
    enc("strong").map(_._1) shouldBe Vector("st", "r", "ong")
    enc("z").map(_._2) shouldBe Vector('z'.toLong)
    enc("").map(_._1) shouldBe Vector()
  }

  test("leftmost tie-break: overlapping occurrences group left-greedily") {
    // (r,e) rank 3 beats (e,r) rank 5 in "erer" — rank priority again
    enc("erer").map(_._1) shouldBe Vector("e", "re", "r")
    // the observable leftmost case needs a self-overlapping pair:
    // with a+a as the only merge, "aaa" → [aa, a], never [a, aa]
    val rk2 = Map(("a", "a") -> 0, ("aa", "aa") -> 1)
    val id2 = Map("aa" -> 1000L, "aaaa" -> 1001L)
    Bpe.encodeWord("aaa", rk2, id2).map(_._1) shouldBe Vector("aa", "a")
    Bpe.encodeWord("aaaaa", rk2, id2).map(_._1) shouldBe Vector("aaaa", "a")
    Bpe.encodeWord("aaaaaa", rk2, id2).map(_._1) shouldBe Vector("aaaa", "aa")
  }

  test("laws: reassembly, fixpoint, and id consistency (fuzz)") {
    val rnd = new scala.util.Random(8)
    val alpha = "aeionrstdghl"
    (0 until 2000).foreach { _ =>
      val w = (0 until (1 + rnd.nextInt(14)))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val toks = enc(w)
      // tokens reassemble the word exactly
      toks.map(_._1).mkString shouldBe w
      // fixpoint: no adjacent pair is still mergeable
      toks.map(_._1).sliding(2).foreach {
        case Seq(a, b) => rank.contains((a, b)) shouldBe false
        case _ => ()
      }
      // id consistency: single char ↔ codepoint, merged ↔ 1000+rank
      toks.foreach { case (t, id) =>
        if (t.length == 1) id shouldBe t.codePointAt(0).toLong
        else id shouldBe outId(t)
      }
    }
  }

  test("tokenize: distributed long-format output matches encodeWord locally") {
    import spark.implicits._
    val df = Seq((1L, "  the thermal  strong\npath "), (2L, ""), (3L, "xy"))
      .toDF("doc_id", "text").as[(Long, String)]
    val got = Bpe.tokenize(df, merges).collect()
      .sortBy(t => (t.doc_id, t.word_idx, t.pos))
    val wordsOf1 = Seq("the", "thermal", "strong", "path")
    val want1 = wordsOf1.zipWithIndex.flatMap { case (w, wi) =>
      enc(w).zipWithIndex.map { case ((t, id), p) => (1L, wi + 1, p + 1, t, id) }
    }
    got.filter(_.doc_id == 1L)
      .map(t => (t.doc_id, t.word_idx, t.pos, t.token, t.token_id))
      .toSeq shouldBe want1
    got.count(_.doc_id == 2L) shouldBe 0 // empty text → zero rows
    got.filter(_.doc_id == 3L).map(_.token).toSeq shouldBe Seq("x", "y")
  }

  test("merges artifact: save/load round trip preserves content and rank order") {
    val dir = java.nio.file.Files.createTempDirectory("bpe_art").toFile
    try {
      Bpe.saveMerges(spark, merges, dir.getAbsolutePath + "/m")
      val loaded = Bpe.loadMerges(spark, dir.getAbsolutePath + "/m")
      loaded shouldBe merges // exact pairs, exact order (rank column, not file order)
      // applying the loaded artifact tokenizes identically
      loaded.zipWithIndex.foreach { case (_, _) => () }
      val viaLoaded = Bpe.encodeWord("thermal",
        loaded.zipWithIndex.toMap,
        loaded.zipWithIndex.map { case ((l, r), k) => (l + r) -> (1000L + k) }.toMap)
      viaLoaded shouldBe enc("thermal")
    } finally Scratch.deleteTree(dir)
  }

  test("applyMergeCol == the Scala one-pass reference, fuzzed (incl. " +
      "self-overlapping pairs and merged-token collisions)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7)
    val alphabet = Vector("a", "b", "ab", "ba", "aa")
    val seqs: Seq[Vector[String]] = (0 until 200).map { _ =>
      Vector.fill(rnd.nextInt(9))(alphabet(rnd.nextInt(alphabet.size)))
    }
    for ((l, r) <- Seq("a" -> "b", "a" -> "a", "b" -> "a", "ab" -> "a", "a" -> "ab")) {
      val got = seqs.toDF("seq")
        .select(Bpe.applyMergeCol(col("seq"), l, r).as("m"))
        .as[Seq[String]].collect()
      val want = seqs.map(s => Bpe.applyMergeRef(s, l, r))
      withClue(s"pair ($l,$r): ") {
        got.map(_.toVector).toSeq shouldBe want
      }
    }
  }

  test("applyMergeRef: one-pass == repeated-leftmost (the oracle's " +
      "formulation), fuzzed") {
    def leftmostFix(seq: Vector[String], l: String, r: String): Vector[String] = {
      var s = seq
      var done = false
      while (!done) {
        val at = (0 until s.length - 1).find(i => s(i) == l && s(i + 1) == r)
        at match {
          case Some(i) => s = s.patch(i, Seq(l + r), 2)
          case None    => done = true
        }
      }
      s
    }
    val rnd = new scala.util.Random(11)
    val alphabet = Vector("a", "b", "c", "ab", "aa")
    for (_ <- 0 until 500) {
      val s = Vector.fill(rnd.nextInt(10))(alphabet(rnd.nextInt(alphabet.size)))
      val l = alphabet(rnd.nextInt(alphabet.size))
      val r = alphabet(rnd.nextInt(alphabet.size))
      Bpe.applyMergeRef(s, l, r) shouldBe leftmostFix(s, l, r)
    }
  }

  test("trainMerges: hand-computed fixture — weighted counts, " +
      "lexicographic tie-break, incremental application") {
    import spark.implicits._
    // corpus: "abab" x2 docs, "aab abab" x1 -> word freqs: abab=3, aab=1
    // round 0 pairs: abab: (a,b)x2,(b,a)x1 each x3; aab: (a,a),(a,b)
    //   -> (a,b)=7, (b,a)=3, (a,a)=1 -> merge (a,b) cnt 7
    // round 1: abab->[ab,ab]x3, aab->[a,ab]: (ab,ab)=3, (a,ab)=1
    //   -> merge (ab,ab) cnt 3
    // round 2: abab->[abab], aab->[a,ab]: only (a,ab)=1 -> merge it
    // round 3: all words single-token -> exhausted early
    val docs = Seq((1L, "abab"), (2L, "abab"), (3L, "aab abab"))
      .toDS()
    val got = Bpe.trainMerges(docs, nMerges = 10)
    got shouldBe Seq(
      (0, "a", "b", 7L), (1, "ab", "ab", 3L), (2, "a", "ab", 1L))
  }

  test("trainMerges tie-break is lexicographic on (left, right)") {
    import spark.implicits._
    // "ab" and "ba" pairs appear equally often: (a,b) wins over (b,a)
    val docs = Seq((1L, "ab ba")).toDS()
    val got = Bpe.trainMerges(docs, nMerges = 1)
    got shouldBe Seq((0, "a", "b", 1L))
  }

  test("guards: duplicate pair or duplicate output is rejected") {
    import spark.implicits._
    val df = Seq((1L, "ab")).toDF("doc_id", "text").as[(Long, String)]
    an[IllegalArgumentException] should be thrownBy
      Bpe.tokenize(df, Seq("a" -> "b", "a" -> "b"))
    an[IllegalArgumentException] should be thrownBy
      Bpe.tokenize(df, Seq("a" -> "bc", "ab" -> "c"))
  }
}
