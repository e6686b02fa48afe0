package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** One-off micro-profile for the q27 inverted-index join: separates the
  * capped-index build, the self-join pair production, and the pair-count
  * aggregation at a given SF. */
object ProfileQ27 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/data/sf5")
    val spark = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.functions.TextFns

    def time(tag: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"$tag%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ex = docs
      .select(col("doc_id"), col("source"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        explode(TextFns.shingleHashes(col("toks"), 2)).as("h"))
      .filter(col("h").isNotNull && col("source").isNotNull)
      .distinct()
    val capped = ex
      .withColumn("_df", count(lit(1)).over(
        Window.partitionBy(col("source"), col("h"))))
      .filter(col("_df") <= 25).drop("_df")

    time("build capped -> parquet") {
      capped.write.mode("overwrite").parquet("/tmp/q27_capped.parquet")
    }
    val c = spark.read.parquet("/tmp/q27_capped.parquet")
    c.write.format("noop").mode("overwrite").save() // warm cache

    time("self-join only (count pairs)") {
      val n = c.as("a").join(c.as("b"),
          col("a.source") === col("b.source") && col("a.h") === col("b.h") &&
            col("a.doc_id") < col("b.doc_id"))
        .selectExpr("a.doc_id").count()
      println(s"  pairs = $n")
    }
    time("join + pair agg (q27 shape)") {
      c.as("a").join(c.as("b"),
          col("a.source") === col("b.source") && col("a.h") === col("b.h") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("ni"))
        .write.format("noop").mode("overwrite").save()
    }
    time("join + REPARTITIONED pair agg") {
      c.as("a").join(c.as("b"),
          col("a.source") === col("b.source") && col("a.h") === col("b.h") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .repartition(32, col("doc_a"), col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("ni"))
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
