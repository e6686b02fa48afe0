package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** ML-feed operators: day-of-year filtering, exact train/validation
  * splits, epoch shuffles, batch slicing, tensor assembly (P9, B1-B4,
  * A4-A6; `/root/reference/asip_v2/utility.py:153-198`,
  * `train_model.py:59-99`, `data_generator.py:20-89`).
  *
  * The reference shuffles with seedless Python RNG — exact RNG parity is
  * impossible (SURVEY.md §7.4.4), so these operators take an explicit
  * deterministic permutation key and promise distributional equivalence
  * plus our own reproducibility.
  */
object MLFeed {

  /** Knuth-style multiplicative mix — a deterministic, engine-portable
    * stand-in for `random.shuffle`. Same arithmetic is expressible in
    * ANSI SQL, which is what makes the split/batch oracles exact.
    *
    * Computed as a split 16/16-bit multiply so no intermediate exceeds
    * 2⁴⁸: the naive `key * 2654435761` overflows a signed long once
    * key > ~3.4e9 (≈ TPC-H sf 55 for composite lineitem keys), which
    * throws under default-on ANSI mode and errors the DuckDB mirror.
    * The value is identical to `(key * 2654435761) mod 2³²` for every
    * non-negative key: with k = key mod 2³² = hi·2¹⁶ + lo,
    * (k·c) mod 2³² = ((hi·c mod 2¹⁶)·2¹⁶ + lo·c) mod 2³². */
  def permuteKey(key: Column): Column = {
    val k = key.cast("long")
    val hi = pmod(shiftright(k, 16), lit(65536L))
    val lo = k.bitwiseAND(lit(65535L))
    pmod(pmod(hi * 2654435761L, lit(65536L)) * 65536L + lo * 2654435761L,
      lit(4294967296L))
  }

  /** DuckDB rendering of [[permuteKey]] (same split-multiply identity;
    * interpolate into oracle SQL so both engines share one formula). */
  def sqlPermuteKey(expr: String): String =
    s"((((($expr) // 65536) % 65536) * 2654435761) % 65536 * 65536" +
      s" + (($expr) % 65536) * 2654435761) % 4294967296"

  /** The value domain of [[permuteKey]] outputs. Pass as `keyDomain` to
    * [[exactSplit]]/[[batchIds]] when the first order key is a permuted
    * key: equal-width buckets then come from arithmetic alone — no
    * approxQuantile scan before the query proper. */
  val PermuteKeyDomain: (Long, Long) = (0L, 4294967296L)

  /** P9/F3/F4 — keep records whose day-of-year (days since Jan 1, i.e.
    * `dayofyear - 1`, matching `(ts - Jan1).days`,
    * `train_model.py:69-81`) lies in [beginDay, endDay]. */
  def dayOfYearFilter(df: DataFrame, tsCol: String,
                      beginDay: Int, endDay: Int): DataFrame =
    df.filter((dayofyear(col(tsCol)) - 1).between(beginDay, endDay))

  /** Scale-safe global rank: `Window.orderBy(...)` funnels every row
    * through ONE task twice (rank pass + unpartitioned count pass —
    * VERDICT r1 perf: q15 13.3 s at sf0.1, serial at 100×). Instead:
    *
    *  1. DETERMINISTIC range buckets on the first order key. When the
    *     caller declares the key's domain (`keyDomain` — true for every
    *     [[permuteKey]]-ordered call site, where the key is uniform on
    *     [0, 2³²) by construction) the buckets are closed-form
    *     equal-width: pure arithmetic, NO data pass. Otherwise
    *     driver-side `approxQuantile` split points are baked in as
    *     literals — one extra scan, kept only as the arbitrary-key
    *     fallback (VERDICT r3 #3).
    *     NOT `repartitionByRange` in either case: Spark's
    *     RangePartitioner seeds its sampler with the RDD id, so two
    *     evaluations of the same subtree (the rank branch and the counts
    *     branch below) can land on DIFFERENT bounds, silently corrupting
    *     the offsets — caught only at sf0.1 (at sf0.01 the sample covers
    *     the data and both evaluations coincide). Literal bounds make
    *     the bucket id a pure function of the row, identical on every
    *     evaluation;
    *  2. rank *within* buckets (parallel) via a bucket-keyed window;
    *  3. global rank = within-bucket rank + exclusive prefix sum of
    *     per-bucket counts — a numBuckets-row aggregate (tiny),
    *     broadcast back. Total row count rides along for free.
    *
    * Adds `_rank` (1-based) and `_n` (total rows). Requires a numeric
    * first order key (both call sites rank on integer permutation keys).
    * Equal first-key values share a bucket (no order split); heavy skew
    * on one value serializes that bucket only.
    */
  private def withGlobalRank(df: DataFrame, orderKeys: Seq[Column],
                             keyDomain: Option[(Long, Long)]): DataFrame = {
    // Bucket count = shuffle.partitions × fanout (r9, the q15 sf20
    // fix): with buckets == task count, each sort task holds n/tasks
    // rows and the within-bucket window sort starts SPILLING once that
    // passes executor memory (measured 4.43× wall for 4× data at
    // sf20). More buckets + the matching explicit repartition in
    // [[rankByBucket]] divide the per-task sort by the fanout; the
    // global rank is bucketing-invariant (monotone buckets +
    // within-bucket rank + offset sum), so results are unchanged at
    // any fanout. The offsets cross-join grows as (buckets)² — at the
    // default 4× over 32 partitions that is 16k rows, still tiny.
    val numBuckets = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt * rankFanout(df)
    val bucket = keyDomain match {
      case Some((lo, hi)) =>
        require(hi > lo, s"empty key domain [$lo, $hi)")
        require(hi - lo <= Long.MaxValue / numBuckets,
          s"key domain span ${hi - lo} x $numBuckets buckets overflows long" +
            " - use the approxQuantile fallback (keyDomain = None)")
        // equal-width buckets over the declared domain — monotone in the
        // key, integral arithmetic (span ≤ 2³², × numBuckets fits a
        // long), clamped so out-of-domain stragglers stay ordered.
        val k = orderKeys.head.cast("long")
        least(greatest(((k - lo) * numBuckets / (hi - lo)).cast("int"), lit(0)),
          lit(numBuckets - 1))
      case None =>
        val probs = (1 until numBuckets).map(_.toDouble / numBuckets).toArray
        val bounds = df.select(orderKeys.head.cast("double").as("_k"))
          .stat.approxQuantile("_k", probs, 0.001).distinct.sorted
        val k = orderKeys.head.cast("double")
        bounds.zipWithIndex.reverse.foldLeft(lit(bounds.length): Column) {
          case (acc, (b, i)) => when(k <= b, i).otherwise(acc)
        }
    }
    rankByBucket(df, bucket, orderKeys)
  }

  /** Global rank given a DETERMINISTIC bucket id that sorts consistently
    * with `orderKeys` (same-bucket rows ordered by the keys; buckets
    * ordered by id). The per-bucket offsets come from a cross join of the
    * tiny per-bucket count frame with itself (numBuckets² rows) — an
    * aggregate, NOT an unpartitioned window, so no stage ever funnels
    * real data through one task and the plan carries zero
    * "No Partition Defined for Window" hazards. Adds `_rank` (1-based,
    * global) and `_n` (total row count). */
  /** Sort-task fanout over `spark.sql.shuffle.partitions` for the
    * two-pass rank (`spark.graft.rank.fanout`, default 4): bounds per-task
    * sort memory at scale; see [[withGlobalRank]]. */
  private def rankFanout(df: DataFrame): Int = {
    val f = df.sparkSession.conf.get("spark.graft.rank.fanout", "4").toInt
    require(f >= 1 && f <= 64, s"graft.rank.fanout must be in [1, 64], got $f")
    f
  }

  def rankByBucket(df: DataFrame, bucket: Column, orderKeys: Seq[Column]): DataFrame = {
    // Materialize the order keys as attributes BEFORE the window: the
    // window's required sort evaluates raw SortOrder EXPRESSIONS inside
    // every comparison (GenerateOrdering), so ordering n rows by a
    // closed-form permutation re-runs its arithmetic ~2·n·log n times;
    // as projected columns it is a plain field compare. Measured at sf5
    // (30M rows): q15 71 s → the sort cost drops to the column compare.
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
    // explicit repartition to (shuffle.partitions × fanout) tasks: the
    // window only needs ClusteredDistribution(_pid), which ANY
    // partition count satisfies — without this, EnsureRequirements
    // inserts the conf-width exchange and each task sorts
    // n/shuffle.partitions rows (the sf20 spill; see withGlobalRank)
    val sortTasks = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt * rankFanout(df)
    parted.join(broadcast(offsets), Seq("_pid"))
      .repartition(sortTasks, col("_pid"))
      .withColumn("_rank", col("_off") + row_number().over(wInPart))
      .drop(("_pid" +: "_off" +: orderKeys.indices.map(i => s"_ok$i")): _*)
  }

  /** B1 — exact head/tail split after a deterministic permutation
    * (`utility.py:167-179`): first floor(p*n) rows are the training set.
    * NOT Bernoulli `randomSplit` — the reference slices exactly.
    * Emits `split` ∈ {"train","valid"}. Global case uses the scale-safe
    * two-pass rank; for per-scene splits pass `partitionBy` (already
    * parallel across scenes).
    */
  def exactSplit(df: DataFrame, orderKeys: Seq[Column], fraction: Double,
                 partitionBy: Seq[String] = Nil,
                 keyDomain: Option[(Long, Long)] = None): DataFrame = {
    val ranked =
      if (partitionBy.isEmpty) withGlobalRank(df, orderKeys, keyDomain)
      else {
        val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderKeys: _*)
        val cw = Window.partitionBy(partitionBy.map(col): _*)
        df.withColumn("_rank", row_number().over(w))
          .withColumn("_n", count(lit(1)).over(cw))
      }
    ranked
      .withColumn("split",
        when(col("_rank") <= floor(col("_n") * fraction), "train")
          .otherwise("valid"))
      .drop("_rank", "_n")
  }

  /** B2 — deterministic epoch shuffle key: reshuffle per epoch by mixing
    * the epoch into the permutation (`data_generator.py:43-47`). The
    * epoch offset is a [[graft.plans.ParamLong]], not a literal, so every
    * epoch runs the same generated code. */
  def epochShuffleKey(key: Column, epoch: Int): Column =
    permuteKey(key + graft.plans.ParamLong.param(epoch.toLong * 1000003L))

  /** B3 — batch slicing (`data_generator.py:20-35`): rows ordered by
    * `orderKey` get `batch_id = floor(rank/batchSize)`; the ragged tail
    * (`n % batchSize` rows) is dropped — the reference serves exactly
    * `floor(n/bs)` batches. */
  def batchIds(df: DataFrame, orderKeys: Seq[Column], batchSize: Int,
               partitionBy: Seq[String] = Nil,
               keyDomain: Option[(Long, Long)] = None): DataFrame = {
    val ranked =
      if (partitionBy.isEmpty) withGlobalRank(df, orderKeys, keyDomain)
      else {
        val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderKeys: _*)
        val cw = Window.partitionBy(partitionBy.map(col): _*)
        df.withColumn("_rank", row_number().over(w))
          .withColumn("_n", count(lit(1)).over(cw))
      }
    ranked
      .withColumn("batch_id", ((col("_rank") - 1) / batchSize).cast("long"))
      .filter(col("batch_id") < floor(col("_n") / batchSize))
      .drop("_rank", "_n")
  }

  /** B4 — assemble one dense tensor row per batch at the ML hand-off
    * boundary: list of per-sample structs, ordered within the batch.
    * Long format everywhere else; this runs only at the sink
    * (SURVEY.md §7.4.1). */
  def assembleBatches(df: DataFrame, orderKey: Column,
                      sampleCols: Seq[String]): DataFrame =
    df.groupBy(col("batch_id"))
      .agg(sort_array(collect_list(struct(
        orderKey.as("_ord") +: sampleCols.map(col): _*))).as("samples"))
}
