package graft

import graft.operators.DomainSuffix

/** Public-suffix registered-domain extraction (q183): every PSL rule
  * kind, the precedence laws, and the degenerate shapes. */
class DomainSuffixSpec extends SparkSpec {

  private val psl = Seq("com", "org", "uk", "co.uk", "jp", "ac.jp",
    "*.ck", "!www.ck")

  private def run(hosts: String*): Map[String, (String, Option[String])] = {
    import spark.implicits._
    val df = hosts.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      .toDF("id", "host")
    DomainSuffix.registeredDomain(df, "host", psl)
      .collect().map { r =>
        r.getString(1) -> (r.getString(2),
          if (r.isNullAt(3)) None else Some(r.getString(3)))
      }.toMap
  }

  test("normal rules: longest listed suffix wins") {
    val got = run("a.b.com", "x.co.uk", "deep.y.ac.jp")
    got("a.b.com") shouldBe ("com", Some("b.com"))
    got("x.co.uk") shouldBe ("co.uk", Some("x.co.uk")) // not just "uk"
    got("deep.y.ac.jp") shouldBe ("ac.jp", Some("y.ac.jp"))
  }

  test("wildcard rules: *.ck makes label.ck a public suffix") {
    val got = run("a.b.ck", "x.y.z.ck")
    got("a.b.ck") shouldBe ("b.ck", Some("a.b.ck"))
    got("x.y.z.ck") shouldBe ("z.ck", Some("y.z.ck"))
  }

  test("exception rules override wildcards") {
    val got = run("www.ck", "sub.www.ck")
    got("www.ck") shouldBe ("ck", Some("www.ck"))
    // the exception matches the suffix www.ck of sub.www.ck too — and
    // overrides the *.ck wildcard even though both match
    got("sub.www.ck") shouldBe ("ck", Some("www.ck"))
  }

  test("unlisted TLD falls to the implicit default rule") {
    val got = run("a.b.zz", "b.zz")
    got("a.b.zz") shouldBe ("zz", Some("b.zz"))
    got("b.zz") shouldBe ("zz", Some("b.zz"))
  }

  test("a host that IS a public suffix has no registered domain") {
    val got = run("com", "co.uk", "zz")
    got("com") shouldBe ("com", None)
    got("co.uk") shouldBe ("co.uk", None)
    got("zz") shouldBe ("zz", None)
  }

  test("grain preserved: one output row per input row, duplicates kept") {
    import spark.implicits._
    val df = Seq((1L, "a.com"), (2L, "a.com"), (3L, "b.ck"))
      .toDF("id", "host")
    val out = DomainSuffix.registeredDomain(df, "host", psl)
    out.count() shouldBe 3L
    out.columns.toSeq shouldBe Seq("id", "host", "public_suffix",
      "reg_domain")
  }
}
