package graft

import org.apache.spark.sql.functions._

import graft.operators.FuzzyJoin

/** Blocked fuzzy self-join (L122): deletion-neighborhood completeness
  * vs a brute-force Levenshtein oracle, exact distances, and the
  * neighborhood law itself. */
class FuzzyJoinSpec extends SparkSpec {

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private def brute(ws: Seq[String], k: Int): Set[(String, String, Long)] =
    (for (a <- ws; b <- ws if a < b; d = lev(a, b) if d <= k)
      yield (a, b, d.toLong)).toSet

  private def run(ws: Seq[String], k: Int): Set[(String, String, Long)] = {
    import spark.implicits._
    FuzzyJoin.selfJoin(ws.toDF("s"), "s", k)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
  }

  test("k=1: substitution, insertion, deletion neighbors all found; others not") {
    val ws = Seq("cat", "cut", "cats", "at", "dog", "coat")
    run(ws, 1) shouldBe brute(ws, 1)
    // sanity on the oracle itself
    brute(ws, 1) should contain allOf(("cat", "cut", 1L), ("cat", "cats", 1L),
      ("at", "cat", 1L))
  }

  test("k=2: two-edit pairs (incl. mixed op kinds and cross-length) are complete") {
    val ws = Seq("merge", "marge", "mergee", "mrge", "megre", "sort", "sore",
      "sword", "banana", "bananas")
    run(ws, 2) shouldBe brute(ws, 2)
  }

  test("randomized differential over a small alphabet (dense near-collisions)") {
    val rnd = new scala.util.Random(20260815)
    val ws = (0 until 60).map { _ =>
      (0 until (3 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    }.distinct
    run(ws, 2) shouldBe brute(ws, 2)
    run(ws, 1) shouldBe brute(ws, 1)
  }

  test("deletion-variant counts are the expected fan-out and include the string itself") {
    import spark.implicits._
    val r = Seq("abcd").toDF("s")
      .select(FuzzyJoin.deletionVariants(col("s"), 2).as("v"))
      .head.getSeq[String](0)
    r should contain("abcd")
    r should contain("bcd") // one deletion
    r should contain("cd")  // two deletions
    // distinct variants of a 4-char all-distinct string: 1 + 4 + 6
    r.size shouldBe 11
  }

  test("empty and single-char records do not break variant generation") {
    val ws = Seq("", "a", "b", "ab")
    noException should be thrownBy run(ws, 2)
    run(ws, 2) shouldBe brute(ws, 2)
  }
}
