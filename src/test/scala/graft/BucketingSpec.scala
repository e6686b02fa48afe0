package graft

/** Bucketing — the co-located-join story for repeated large-table joins
  * at 100 TB (SURVEY.md §7.2 step 11 scale notes): two tables bucketed
  * on the join key join WITHOUT a shuffle on either side. */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("join of two tables bucketed on the key plans no shuffle exchange") {
    // managed tables land in the session warehouse dir (static conf;
    // dropped below and git-ignored)
    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
    (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
      .write.bucketBy(4, "k").sortBy("k").saveAsTable("bkt_a")
    (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "vb")
      .write.bucketBy(4, "k").saveAsTable("bkt_b")

    // disable broadcast so the join strategy must exploit bucketing
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      joined.count() shouldBe 1000
      val plan = joined.queryExecution.executedPlan.toString
      plan should not include "Exchange hashpartitioning"
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }
}
