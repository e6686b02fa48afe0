package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** ANALYZE-style table statistics collection (L116): per-column row
  * count, null count, min/max, and an HLL distinct estimate — the
  * stats a cost-based optimizer (and a data-quality dashboard) feeds
  * on, collected the way a 100 TB engine must: ONE corpus scan, no
  * per-column `count(distinct)` (each such aggregate is its own
  * corpus-sized Expand+shuffle; ANALYZE over k columns that way scans
  * and shuffles the table k times — the exact anti-pattern).
  *
  * Shape: the scan explodes each row to k (column, value) pairs
  * (map-side; values stringified for a uniform long format), every
  * pair hashes once, and ONE two-level aggregation tree does
  * everything: level 1 at the (column, bucket) grain carries the
  * base-stat partials (count/nulls/min/max) alongside the HLL register
  * max, so rows after the first partial aggregate are
  * register-count-sized (k × 257), never corpus-sized, and there is no
  * second scan and no join. The HLL pipeline (salted 60-bit hash, 256
  * buckets, rho = leading-zero rank, harmonic estimate +
  * linear-counting correction) is the q58/q162 formulation, so the
  * estimate is engine-portable and oracle-replayable.
  */
object Analyze {

  /** HLL numerator α_m·m²·2⁵³ for m=256 — the q58 constant, computed
    * once and interpolated into both engines (Double.toString is
    * shortest-round-trip, so both parse identical bits). */
  val HllNum: Double =
    0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0

  /** Per-column stats over `cols` (stringified uniformly; min/max are
    * therefore LEXICOGRAPHIC — document-and-accept for mixed-type
    * ANALYZE; numeric columns wanting numeric min/max keep their own
    * typed aggregates). Output: one row per column —
    * (col_name, n, n_nulls, n_distinct_est, min_s, max_s). */
  def columnStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty && cols.forall(df.columns.contains),
      s"columns must exist: ${cols.mkString(", ")}")
    val pairs = df.select(explode(map(
      cols.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*
    )).as(Seq("col_name", "v")))
      .withColumn("h", TextFns.hash60(concat(lit("an:"), col("v"))))
    val w = shiftright(col("h"), 8)
    val rho = when(col("v").isNull, lit(null).cast("int"))
      .when(w === 0, lit(53)).otherwise(lit(53) - length(bin(w)))
    // ONE aggregation tree, two levels over a single scan: level 1 at
    // the (column, bucket) grain carries base-stat partials ALONGSIDE
    // the register max (null values fall into the null bucket, where
    // rho is null and min/max skip them); level 2 merges base stats
    // and turns registers into the estimate. Never a second scan, and
    // never a per-column count(distinct).
    val lvl1 = pairs
      .select(col("col_name"), col("v"),
        (col("h") % 256).as("bucket"), rho.as("rho"))
      .groupBy(col("col_name"), col("bucket"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("nulls"),
        min(col("v")).as("mn"), max(col("v")).as("mx"),
        max(col("rho")).as("mj"))
    val lvl2 = lvl1.groupBy(col("col_name"))
      .agg(sum(col("cnt")).as("n"), sum(col("nulls")).as("n_nulls"),
        min(col("mn")).as("min_s"), max(col("mx")).as("max_s"),
        count(col("mj")).as("n_hit"),
        sum(when(col("mj").isNotNull,
          expr("shiftleft(CAST(1 AS BIGINT), 53 - mj)"))).as("s_present"))
    lvl2
      .select(col("col_name"), col("n"), col("n_nulls"),
        col("min_s"), col("max_s"), col("n_hit"),
        (coalesce(col("s_present"), lit(0L)) +
          (lit(256L) - col("n_hit")) * lit(1L << 53)).as("sum_scaled"))
      .select(col("col_name"), col("n"), col("n_nulls"),
        col("min_s"), col("max_s"),
        (lit(HllNum) / col("sum_scaled").cast("double")).as("est_raw"),
        (lit(256L) - col("n_hit")).as("v_empty"))
      .select(col("col_name"), col("n"), col("n_nulls"),
        when(col("v_empty") === 256L, lit(0.0))
          .when(col("v_empty") > 0 && col("est_raw") <= lit(640.0),
            lit(256.0) * log(lit(256.0) / col("v_empty")))
          .otherwise(col("est_raw")).as("n_distinct_est"),
        col("min_s"), col("max_s"))
  }
}
