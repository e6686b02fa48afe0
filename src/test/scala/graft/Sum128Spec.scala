package graft

import graft.queries.Q

/** Differential gate for the native 128-bit decimal-sum aggregate: dsum
  * (Sum128 over unscaled longs) must be bit-identical to the built-in
  * decimal sum it replaced, across signs, nulls, empty groups, low-word
  * carries, and the interpreted expression path. */
class Sum128Spec extends SparkSpec {
  import spark.implicits._

  private def compare(rows: Seq[(Int, java.lang.Double)], scale: Int = 4): Unit = {
    val df = rows.toDF("g", "v")
    val fast = df.groupBy($"g").agg(Q.dsum($"v", scale).as("s"))
      .orderBy($"g").collect().map(r => (r.get(0), r.get(1)))
    val ref = df.groupBy($"g").agg(Q.dsumBuiltin($"v", scale).as("s"))
      .orderBy($"g").collect().map(r => (r.get(0), r.get(1)))
    fast.toSeq shouldBe ref.toSeq
  }

  test("randomized parity with the built-in decimal sum (signs + nulls)") {
    val rnd = new scala.util.Random(42)
    compare((1 to 20000).map { _ =>
      val v: java.lang.Double =
        if (rnd.nextInt(50) == 0) null
        else java.lang.Double.valueOf((rnd.nextDouble() - 0.5) * 2e9)
      (rnd.nextInt(7), v)
    })
  }

  test("empty input and all-null groups return NULL like the built-in sum") {
    compare(Seq((1, null), (1, null), (2, java.lang.Double.valueOf(2.5))))
    val empty = spark.emptyDataset[(Int, java.lang.Double)].toDF("g", "v")
    empty.agg(Q.dsum($"v").as("s")).collect().head.isNullAt(0) shouldBe true
  }

  test("low-word carries: sums past 2^63 unscaled stay exact") {
    // 9.9e9 at scale 4 → unscaled 9.9e13; 200k rows → ~2e19 > 2^63, so
    // the low word wraps and the high word carries. Mixed signs cross
    // zero repeatedly, exercising borrow as well.
    compare((1 to 200000).map { i =>
      val sign = if (i % 3 == 0) -1 else 1
      (i % 2, java.lang.Double.valueOf(sign * 9.9e9 + i))
    })
  }

  test("interpreted (no-codegen) path agrees with codegen") {
    val saved = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    val savedWs = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val rnd = new scala.util.Random(7)
      compare((1 to 5000).map { _ =>
        (rnd.nextInt(4), java.lang.Double.valueOf((rnd.nextDouble() - 0.5) * 4e9))
      })
    } finally {
      spark.conf.set("spark.sql.codegen.factoryMode", saved)
      spark.conf.set("spark.sql.codegen.wholeStage", savedWs)
    }
  }

  test("scale parameter flows through (davg scale-6 shape)") {
    val rnd = new scala.util.Random(11)
    compare((1 to 5000).map { _ =>
      (rnd.nextInt(3), java.lang.Double.valueOf(rnd.nextDouble() * 100))
    }, scale = 6)
  }
}
