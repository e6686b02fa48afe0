package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.MLFeed
import graft.plans.BucketOffsets

/** [[MLFeed.rankByBucket]] on the [[BucketOffsets]] aggregate against
  * the numBuckets² self-cross-join offsets it replaced, kept here as the
  * reference: `_rank` and `_n` are `==` on every row over seeded frames,
  * with adaptive execution on and off. */
class BucketOffsetsSpec extends SparkSpec {
  import spark.implicits._

  private def withAqe(on: Boolean)(body: => Unit): Unit = {
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** (id, _rank, _n) of both formulations, sorted by the unique `id`. */
  private def assertSameRank(df: DataFrame, bucket: Column, orderKeys: Seq[Column]): Unit =
    for (aqe <- Seq(true, false)) withAqe(aqe) {
      def rows(out: DataFrame) = out.select(col("id"), col("_rank"), col("_n"))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      val got = rows(MLFeed.rankByBucket(df, bucket, orderKeys))
      val want = rows(BucketOffsetsSpec.crossJoinReference(df, bucket, orderKeys))
      withClue(s"AQE $aqe: ") { got shouldBe want }
    }

  private def seeded(seed: Int, n: Int): DataFrame = {
    val rng = new Random(seed)
    (0 until n).map(i => (i.toLong, rng.nextInt(40), rng.nextInt(5))).toDF("id", "a", "b")
  }

  test("int buckets with empty buckets between them") {
    for (seed <- 0 until 3) {
      // a ∈ [0, 40) → buckets 0, 7, …, 91: the six ids between any two
      // of them hold no row
      assertSameRank(seeded(seed, 300), (col("a") / 3).cast("int") * 7,
        Seq(col("a"), col("id")))
    }
  }

  test("string buckets shaped like Catalog.ordered") {
    val rng = new Random(7)
    val names = (0 until 200).map(i =>
      s"${"abcxyz"(rng.nextInt(6))}${rng.nextInt(3)}_${rng.alphanumeric.take(5).mkString}_$i")
    val df = names.zipWithIndex.map { case (n, i) => (i.toLong, n) }.toDF("id", "name")
    assertSameRank(df, substring(col("name"), 1, 2), Seq(col("name")))
  }

  test("all rows in one bucket") {
    assertSameRank(seeded(3, 150), lit(5), Seq(col("b"), col("a"), col("id")))
  }

  test("an empty frame ranks to an empty frame") {
    val empty = seeded(4, 10).filter(lit(false))
    assertSameRank(empty, col("a"), Seq(col("id")))
    MLFeed.rankByBucket(empty, col("a"), Seq(col("id"))).count() shouldBe 0L
  }

  test("rows with a NULL bucket are dropped by both, and counted in _n by both") {
    val df = seeded(5, 200)
    val bucket = when(col("b") =!= 0, col("a") / 8).cast("int")
    assertSameRank(df, bucket, Seq(col("a"), col("id")))
    MLFeed.rankByBucket(df, bucket, Seq(col("a"), col("id"))).count() shouldBe
      df.filter(col("b") =!= 0).count()
  }

  test("two and three order keys with a unique last key") {
    for (seed <- 6 until 9) {
      val df = seeded(seed, 250)
      assertSameRank(df, (col("a") / 10).cast("int"), Seq(col("a"), col("id")))
      assertSameRank(df, (col("a") / 10).cast("int"), Seq(col("a"), col("b"), col("id")))
    }
  }

  test("exactSplit and batchIds: sizes and membership equal the reference rank") {
    val df = seeded(9, 300)
    val key = MLFeed.permuteKey(col("id"))
    val keys = Seq(key, col("id"))
    // the global rank is bucketing-invariant: any monotone bucket of the
    // first key gives the same _rank as the operators' own buckets
    val ref = BucketOffsetsSpec.crossJoinReference(df, (key / 1000000000L).cast("int"), keys)
    for (aqe <- Seq(true, false)) withAqe(aqe) {
      val split = MLFeed.exactSplit(df, keys, 0.8, keyDomain = Some(MLFeed.PermuteKeyDomain))
        .select(col("id"), col("split")).as[(Long, String)].collect().sortBy(_._1).toSeq
      val wantSplit = ref.select(col("id"),
          when(col("_rank") <= floor(col("_n") * 0.8), "train").otherwise("valid"))
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      split shouldBe wantSplit
      split.count(_._2 == "train") shouldBe 240

      val batches = MLFeed.batchIds(df, keys, 7, keyDomain = Some(MLFeed.PermuteKeyDomain))
        .select(col("id"), col("batch_id")).as[(Long, Long)].collect().sortBy(_._1).toSeq
      val wantBatches = ref
        .withColumn("batch_id", ((col("_rank") - 1) / 7).cast("long"))
        .filter(col("batch_id") < floor(col("_n") / 7))
        .select(col("id"), col("batch_id")).as[(Long, Long)].collect().sortBy(_._1).toSeq
      batches shouldBe wantBatches
      batches.size shouldBe 294
    }
  }

  test("bucket_offsets: sorted exclusive offsets; a NULL bucket counts only in the total") {
    val df = Seq[(Option[Int], Option[Long])]((Some(3), Some(2L)), (Some(-1), Some(5L)),
        (Some(3), Some(4L)), (None, Some(9L)), (Some(0), None), (Some(10), Some(1L)))
      .toDF("b", "w").repartition(3)
    val out = df.agg(BucketOffsets.bucket_offsets(col("b"), col("w")).as("o"))
      .select(inline(col("o"))).as[(Int, Long, Long)].collect().toSeq
    out shouldBe Seq((-1, 0L, 21L), (3, 5L, 21L), (10, 11L, 21L))
  }

  test("bucket_offsets rejects buckets whose grouping is not binary equality") {
    val df = Seq((1.5, "a"), (2.5, "A")).toDF("d", "s")
    an[org.apache.spark.sql.AnalysisException] should be thrownBy
      df.agg(BucketOffsets.bucket_offsets(col("d"))).collect()
    an[org.apache.spark.sql.AnalysisException] should be thrownBy
      df.agg(BucketOffsets.bucket_offsets(expr("collate(s, 'UTF8_LCASE')"))).collect()
  }

  test("bucket_offsets buffer round-trips through its serialized form") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val agg = BucketOffsets(BoundReference(0, StringType, nullable = true),
      BoundReference(1, LongType, nullable = true))
    val buf = agg.createAggregationBuffer()
    Seq[(String, Long)]("ab" -> 3L, "a" -> 1L, "ab" -> 2L, "" -> 4L, (null, 6L)).foreach { case (s, w) =>
      agg.update(buf, org.apache.spark.sql.catalyst.InternalRow(UTF8String.fromString(s), w))
    }
    agg.deserialize(agg.serialize(buf)) shouldBe buf
    agg.deserialize(agg.serialize(agg.createAggregationBuffer())) shouldBe empty
  }
}

object BucketOffsetsSpec {

  /** `MLFeed.rankByBucket` before [[BucketOffsets]]: per-bucket offsets
    * from a cross join of the per-bucket count frame with itself,
    * broadcast and joined before the bucket repartition. */
  def crossJoinReference(df: DataFrame, bucket: Column, orderKeys: Seq[Column]): DataFrame = {
    val okCols = orderKeys.zipWithIndex.map { case (k, i) => k.as(s"_ok$i") }
    val okAttrs = orderKeys.indices.map(i => col(s"_ok$i"))
    val parted = df.select(col("*") +: (bucket.as("_pid") +: okCols): _*)
    val counts = parted.groupBy(col("_pid")).agg(count(lit(1)).as("_cnt"))
    val offsets = counts.as("a").crossJoin(counts.as("b"))
      .groupBy(col("a._pid"))
      .agg(sum(when(col("b._pid") < col("a._pid"), col("b._cnt"))
          .otherwise(lit(0L))).as("_off"),
        sum(col("b._cnt")).as("_n"))
    val wInPart = Window.partitionBy(col("_pid")).orderBy(okAttrs: _*)
    val sortTasks = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt * 4
    parted.join(broadcast(offsets), Seq("_pid"))
      .repartition(sortTasks, col("_pid"))
      .withColumn("_rank", col("_off") + row_number().over(wInPart))
      .drop(("_pid" +: "_off" +: orderKeys.indices.map(i => s"_ok$i")): _*)
  }
}
