package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.BucketOffsets.bucket_offsets

/** Storage-layout keys for data-skipping writes (L38): sorting (or
  * range-partitioning) a table by a Z-order key before writing gives
  * every file a tight min/max envelope on BOTH dimensions, so
  * two-dimensional predicates prune files instead of scanning them —
  * the layout story behind `OPTIMIZE ZORDER BY` in lakehouse engines,
  * as a plain deterministic column expression.
  *
  * The key interleaves the low `bits` of two non-negative integer
  * columns (a→even bit positions, b→odd): pure shift/mask/or integer
  * math, codegen'd, engine-portable (mirrored textually in the q69
  * oracle), no UDF. 2×`bits` ≤ 62 keeps everything in a BIGINT.
  */
object Layout {

  /** Morton (Z-order) interleave of the low `bits` of `a` and `b`.
    * Caller contract: both non-negative and < 2^bits (mask enforces the
    * width; negative inputs are masked to their low bits too). */
  def zValue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    (0 until bits).map { i =>
      val ai = shiftleft(shiftright(a.cast("long"), i).bitwiseAND(1L), 2 * i)
      val bi = shiftleft(shiftright(b.cast("long"), i).bitwiseAND(1L), 2 * i + 1)
      ai.bitwiseOR(bi)
    }.reduce(_ bitwiseOR _)
  }

  /** DuckDB mirror of [[zValue]] (same shifts, same reduction order). */
  def sqlZValue(a: String, b: String, bits: Int): String =
    (0 until bits).map { i =>
      s"((($a >> $i) & 1) << ${2 * i}) | ((($b >> $i) & 1) << ${2 * i + 1})"
    }.map(t => s"($t)").mkString(" | ")

  /** L117 — DETERMINISTIC range-shard layout: assign each row a shard
    * id such that shard value-ranges are disjoint and ordered (shard i
    * holds keys ≤ every key in shard i+1) — the "write the table
    * globally sorted" primitive behind ordered lakehouse layouts and
    * merge-friendly compaction, WITHOUT a global sort and WITHOUT
    * `repartitionByRange` (whose RangePartitioner SAMPLES with an
    * RDD-id-seeded RNG: two evaluations of the same subtree see
    * different bounds — the round-2 lost-rows bug; these cuts are a
    * pure function of the data).
    *
    * Cut points are exact integer ranks over the VALUE HISTOGRAM:
    * cut(i) = the smallest key value whose cumulative count reaches
    * i·N/numShards (ceil division) — so shard i is
    * `(cut(i-1), cut(i)]`-bounded, every row with the same key lands in
    * the same shard (ties never straddle), and the assignment is
    * reproducible across runs, partitionings and engines.
    *
    * 100 TB shape: ONE exchange on the key value builds the histogram;
    * the cumulative walk over it is BUCKETED (the q15 two-pass-rank
    * pattern — `MLFeed.rankByBucket`): a deterministic monotone bucket
    * id from the histogram's own min/max aggregate splits the cumsum
    * into per-bucket windows, with per-bucket offsets from one
    * [[graft.plans.BucketOffsets]] aggregate over the bucketed
    * histogram — so even a corpus-cardinality key never funnels through
    * one task (the r8 verdict's scale-killer): the plan's only
    * `Exchange SinglePartition`s merge per-partition aggregate buffers
    * (the min/max and the ≤ 64 bucket counts), not rows. The cut
    * table broadcasts; assignment is a map-side range lookup (a join on
    * shard-interval containment against ≤ numShards rows). Balance is
    * within max-value-multiplicity of N/numShards by construction. */
  def rangeShards(df: DataFrame, key: Column, numShards: Int): DataFrame = {
    require(numShards >= 1, "numShards must be positive")
    val Seq(kc, cnt, cum, tot) = Seq("_rs_k", "_rs_n", "_rs_c", "_rs_t")
    val internals = Seq(kc, cnt, cum, tot, "shard", "_rs_b", "_rs_off")
    require(!df.columns.exists(internals.contains),
      "input collides with rangeShards internals ('shard', '_rs_*')")
    val hist = df.groupBy(key.as(kc)).agg(count(lit(1)).as(cnt))
    // Monotone deterministic bucket of the key: linear scaling between
    // the histogram's min/max (an exact aggregate — NOT sampled like
    // RangePartitioner). Numeric/temporal keys scale on their double
    // cast; string/binary keys on the first 7 bytes as a base-16
    // integer (Spark's string order IS unsigned byte order, so the
    // prefix number is monotone in it); anything else degrades to one
    // bucket (still correct, not scale-distributed). Monotonicity is
    // what makes per-bucket cumsums composable into the global one.
    import org.apache.spark.sql.types._
    val keyNum: Column = hist.schema(kc).dataType match {
      case _: NumericType | DateType | TimestampType | BooleanType =>
        col(kc).cast("double")
      case StringType | BinaryType =>
        conv(substring(hex(col(kc).cast("binary")), 1, 14), 16, 10)
          .cast("double")
      case _ => lit(0.0)
    }
    val numBuckets = 64
    val mm = hist.agg(min(keyNum).as("_rs_lo"), max(keyNum).as("_rs_hi"))
    val bucketed = hist.crossJoin(broadcast(mm))
      .withColumn("_rs_b",
        when(col("_rs_hi") <= col("_rs_lo") || keyNum.isNull, lit(0))
          .otherwise(least(greatest(
            floor((keyNum - col("_rs_lo")) * numBuckets /
              (col("_rs_hi") - col("_rs_lo"))).cast("int"),
            lit(0)), lit(numBuckets - 1))))
      .drop("_rs_lo", "_rs_hi")
    // per-bucket offsets + grand total from ONE count-weighted
    // BucketOffsets aggregate — never an unpartitioned window (the
    // rankByBucket offsets)
    val offs = bucketed.agg(bucket_offsets(col("_rs_b"), col(cnt)).as("_rs_bo"))
      .select(inline(col("_rs_bo")))
      .select(col("_pid").as("_rs_b"), col("_off").as("_rs_off"), col("_n").as(tot))
    val wIn = Window.partitionBy(col("_rs_b")).orderBy(col(kc))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // shard of a VALUE = ceil(numShards * cumCount / N) — monotone in
    // the cumulative count, so shard ranges are ordered and disjoint
    val cuts = bucketed.join(broadcast(offs), Seq("_rs_b"))
      .withColumn(cum, col("_rs_off") + sum(col(cnt)).over(wIn))
      .select(col(kc),
        // integer ceil division — never a double `/` (exactness past
        // 2^53 rows is the memory-rule for integer↔double crossings)
        expr(s"($numShards * $cum + $tot - 1) div $tot").as("shard"))
      .groupBy(col("shard"))
      .agg(max(col(kc)).as("hi"))
    // per-shard upper bounds; lo(i) = max hi over shards < i, from a
    // ≤ numShards²-row self-join (not a lag over an unpartitioned
    // window — same contract as the offsets above)
    val bounds = cuts.as("ca")
      .join(broadcast(cuts.as("cb")), col("cb.shard") < col("ca.shard"), "left")
      .groupBy(col("ca.shard").as("shard"))
      .agg(max(col("ca.hi")).as("hi"), max(col("cb.hi")).as("lo"))
    df.join(broadcast(bounds),
        key <= col("hi") && (col("lo").isNull || key > col("lo")))
      .drop("hi", "lo")
  }

  /** DuckDB mirror of [[rangeShards]]'s shard-of-value rule, as a CTE
    * body over table `t(k)`: emits (k, shard). */
  def sqlRangeShardOfValue(table: String, k: String, numShards: Int): String =
    s"""SELECT $k, CAST(($numShards * cum + tot - 1) // tot AS BIGINT) AS shard
      FROM (SELECT $k,
          sum(n) OVER (ORDER BY $k ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW) AS cum,
          sum(n) OVER () AS tot
        FROM (SELECT $k, count(*) AS n FROM $table GROUP BY 1))"""
}
