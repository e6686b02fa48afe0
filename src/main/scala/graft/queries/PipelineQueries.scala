package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.IceCodes
import graft.operators.{Masking, MLFeed, Reconstruct, Regrid, Tiling}
import Q._

/** Driver-contract queries for the scene-pipeline operator families
  * (SURVEY.md §2.3-2.9): bilinear regrid, one-hot ice codecs, DOY filter,
  * exact split, batching, reconstruction, argmax, sample naming, masks,
  * health checks, loc intersection.
  */
object PipelineQueries {

  /** Deterministic ice-code derivation over `part` — identical integer
    * arithmetic on both engines; covers ct<10 open water, -9 sentinels,
    * all stage classes incl. unclassified (43) and missing (-9). */
  private[queries] def codes(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    def stage(i: org.apache.spark.sql.Column) =
      when(i === 0, 0).when(i === 1, 81).when(i === 2, 84).when(i === 3, 86)
        .when(i === 4, 91).when(i === 5, 95).when(i === 6, 97)
        .when(i === 7, 43).otherwise(-9)
    Tables.part(s, dir).select(
      k.as("poly_id"),
      (k % 110).cast("int").as("ct"),
      when(k % 11 === 0, -9).otherwise(k % 40).cast("int").as("ca"),
      stage(k % 9).cast("int").as("sa"),
      when(k % 13 === 0, -9).otherwise(k % 37).cast("int").as("cb"),
      stage((k + 4) % 9).cast("int").as("sb"),
      when(k % 17 === 0, -9).otherwise(k % 31).cast("int").as("cc"),
      stage((k + 7) % 9).cast("int").as("sc"))
  }

  private val sqlStage = (x: String) =>
    s"""CASE $x WHEN 0 THEN 0 WHEN 1 THEN 81 WHEN 2 THEN 84 WHEN 3 THEN 86
        WHEN 4 THEN 91 WHEN 5 THEN 95 WHEN 6 THEN 97 WHEN 7 THEN 43
        ELSE -9 END"""

  private[queries] val sqlCodes =
    s"""SELECT p_partkey AS poly_id,
      CAST(p_partkey % 110 AS INT) AS ct,
      CAST(CASE WHEN p_partkey % 11 = 0 THEN -9 ELSE p_partkey % 40 END AS INT) AS ca,
      CAST(${sqlStage("p_partkey % 9")} AS INT) AS sa,
      CAST(CASE WHEN p_partkey % 13 = 0 THEN -9 ELSE p_partkey % 37 END AS INT) AS cb,
      CAST(${sqlStage("(p_partkey + 4) % 9")} AS INT) AS sb,
      CAST(CASE WHEN p_partkey % 17 = 0 THEN -9 ELSE p_partkey % 31 END AS INT) AS cc,
      CAST(${sqlStage("(p_partkey + 7) % 9")} AS INT) AS sc
      FROM part"""

  private def sqlIceType(x: String) =
    s"""CASE WHEN $x = 0 THEN 0 WHEN $x BETWEEN 81 AND 85 THEN 1
        WHEN $x BETWEEN 86 AND 93 THEN 2 WHEN $x BETWEEN 95 AND 97 THEN 3 END"""

  /** CTE chain computing one_hot_binary over `codes` (mirrors
    * hot_encoding_utils.py:44-95 incl. the f[icetype-1] negative-index
    * quirk: icetype 0 credits slot f2). Final table `bin(poly_id, ct,
    * r0..r3)`. */
  private[queries] val sqlBinaryCte =
    s"""codes AS ($sqlCodes),
      ice AS (SELECT poly_id, ct, ca, cb, cc, sa,
        ${sqlIceType("sa")} AS ta, ${sqlIceType("sb")} AS tb,
        ${sqlIceType("sc")} AS tc FROM codes),
      f AS (SELECT *,
        (CASE WHEN ca <> -9 AND ta = 1 THEN ca ELSE 0 END
         + CASE WHEN cb <> -9 AND tb = 1 THEN cb ELSE 0 END
         + CASE WHEN cc <> -9 AND tc = 1 THEN cc ELSE 0 END) AS f0,
        (CASE WHEN ca <> -9 AND ta = 2 THEN ca ELSE 0 END
         + CASE WHEN cb <> -9 AND tb = 2 THEN cb ELSE 0 END
         + CASE WHEN cc <> -9 AND tc = 2 THEN cc ELSE 0 END) AS f1,
        (CASE WHEN ca <> -9 AND (ta = 3 OR ta = 0) THEN ca ELSE 0 END
         + CASE WHEN cb <> -9 AND (tb = 3 OR tb = 0) THEN cb ELSE 0 END
         + CASE WHEN cc <> -9 AND (tc = 3 OR tc = 0) THEN cc ELSE 0 END) AS f2
        FROM ice),
      mx AS (SELECT *, greatest(f0, f1, f2) AS maxf FROM f),
      it AS (SELECT *, CASE WHEN maxf = 0 THEN ta ELSE
               CASE WHEN f0 = maxf THEN 1 WHEN f1 = maxf THEN 2 ELSE 3 END
             END AS itype FROM mx),
      bin AS (SELECT poly_id, ct,
        CAST(CASE WHEN ct < 10 THEN 1 ELSE CASE WHEN itype = 0 THEN 1 ELSE 0 END END AS BIGINT) AS r0,
        CAST(CASE WHEN ct < 10 THEN 0 ELSE CASE WHEN itype = 1 THEN 1 ELSE 0 END END AS BIGINT) AS r1,
        CAST(CASE WHEN ct < 10 THEN 0 ELSE CASE WHEN itype = 2 THEN 1 ELSE 0 END END AS BIGINT) AS r2,
        CAST(CASE WHEN ct < 10 THEN 0 ELSE CASE WHEN itype = 3 THEN 1 ELSE 0 END END AS BIGINT) AS r3
        FROM it)"""

  private def onehotBinaryDf(s: SparkSession, dir: String): DataFrame =
    IceCodes.withOneHotBinary(codes(s, dir),
        col("ct"), col("ca"), col("sa"), col("cb"), col("sb"),
        col("cc"), col("sc"))
      .select(col("poly_id") +: (0 to 3).map(k =>
        col(s"r$k").cast("long").as(s"r$k")): _*)

  val all: Map[String, Query] = Map(

    // W6/J3 — bilinear regrid with extrapolation: binary-search bracket
    // over the per-scene axes in Spark vs closed-form clamp in the
    // oracle — same math.
    "q10_regrid_bilinear" -> Query(
      (s, dir) => {
        val h = gridHeight(s, dir)
        // scene is a NON-FOLDABLE single-valued key ("s" + line%1): a
        // lit("s0") constant gets folded out of Regrid's per-scene
        // grouping by Catalyst. With a real column reference the plan
        // keeps the per-scene partitioning it would have at scale.
        val src = grid(s, dir)
          .filter(col("line") % 10 === 5 && col("sample") % 10 === 5)
          .select(concat(lit("s"), pmod(col("line"), lit(1))).as("scene"),
            col("line").cast("double").as("line"),
            col("sample").cast("double").as("sample"), col("value"))
        val scenes = s.range(1)
          .select(concat(lit("s"), col("id").cast("string")).as("scene"))
        val tl = Regrid.targetAxis(scenes, lit(h).cast("int"), 4)
        val ts = Regrid.targetAxis(scenes, lit(100), 4)
        Regrid.bilinear(src, tl, ts)
          .select(col("line"), col("sample"), col("value"))
      },
      Some(s"""WITH d AS (SELECT $sqlH AS h),
        src AS (SELECT CAST(event_id//100 AS DOUBLE) AS line,
                       CAST(event_id%100 AS DOUBLE) AS sample, value
                FROM events
                WHERE (event_id//100) % 10 = 5 AND (event_id%100) % 10 = 5),
        tl AS (SELECT unnest(generate_series(2, (SELECT h FROM d)-1, 4)) AS t),
        ts AS (SELECT unnest(generate_series(2, 99, 4)) AS t),
        pts AS (SELECT tl.t AS tline, ts.t AS tsample,
                  least(greatest((tl.t-5)//10, 0), (SELECT h FROM d)//10 - 2) AS li,
                  least(greatest((ts.t-5)//10, 0), 8) AS si
                FROM tl, ts),
        w AS (SELECT tline, tsample,
                CAST(5 + 10*li AS DOUBLE) AS l_lo, CAST(15 + 10*li AS DOUBLE) AS l_hi,
                CAST(5 + 10*si AS DOUBLE) AS s_lo, CAST(15 + 10*si AS DOUBLE) AS s_hi
              FROM pts)
        SELECT CAST(tline AS DOUBLE) AS line, CAST(tsample AS DOUBLE) AS sample,
          (s11.value * (1.0 - (tline - l_lo)/(l_hi - l_lo)) * (1.0 - (tsample - s_lo)/(s_hi - s_lo))
           + s12.value * (1.0 - (tline - l_lo)/(l_hi - l_lo)) * ((tsample - s_lo)/(s_hi - s_lo))
           + s21.value * ((tline - l_lo)/(l_hi - l_lo)) * (1.0 - (tsample - s_lo)/(s_hi - s_lo))
           + s22.value * ((tline - l_lo)/(l_hi - l_lo)) * ((tsample - s_lo)/(s_hi - s_lo))) AS value
        FROM w
        JOIN src s11 ON s11.line = l_lo AND s11.sample = s_lo
        JOIN src s12 ON s12.line = l_lo AND s12.sample = s_hi
        JOIN src s21 ON s21.line = l_hi AND s21.sample = s_lo
        JOIN src s22 ON s22.line = l_hi AND s22.sample = s_hi""")),

    // F8/F9 — one-hot binary ice-type codec (quirk-faithful).
    "q11_onehot_binary" -> Query(
      (s, dir) => onehotBinaryDf(s, dir),
      Some(s"WITH $sqlBinaryCte SELECT poly_id, r0, r1, r2, r3 FROM bin")),

    // F10 — one-hot continuous codec (exact doubles: same IEEE shape).
    "q12_onehot_continuous" -> Query(
      (s, dir) => {
        val c = codes(s, dir)
        val vec = IceCodes.oneHotContinuous(col("ct"), col("ca"), col("sa"),
          col("cb"), col("sb"), col("cc"), col("sc"))
        c.select(col("poly_id") +: (0 to 3).map(k =>
          element_at(vec, k + 1).as(s"r$k")): _*)
      },
      Some(s"""WITH codes AS ($sqlCodes),
        ice AS (SELECT poly_id, ct, ca, cb, cc, sa,
          ${sqlIceType("sa")} AS ta, ${sqlIceType("sb")} AS tb,
          ${sqlIceType("sc")} AS tc FROM codes),
        acc AS (SELECT *,
          (CASE WHEN ca <> -9 AND ta = 0 THEN ca/100.0 ELSE 0.0 END
           + CASE WHEN cb <> -9 AND tb = 0 THEN cb/100.0 ELSE 0.0 END
           + CASE WHEN cc <> -9 AND tc = 0 THEN cc/100.0 ELSE 0.0 END) AS a0,
          (CASE WHEN ca <> -9 AND ta = 1 THEN ca/100.0 ELSE 0.0 END
           + CASE WHEN cb <> -9 AND tb = 1 THEN cb/100.0 ELSE 0.0 END
           + CASE WHEN cc <> -9 AND tc = 1 THEN cc/100.0 ELSE 0.0 END) AS a1,
          (CASE WHEN ca <> -9 AND ta = 2 THEN ca/100.0 ELSE 0.0 END
           + CASE WHEN cb <> -9 AND tb = 2 THEN cb/100.0 ELSE 0.0 END
           + CASE WHEN cc <> -9 AND tc = 2 THEN cc/100.0 ELSE 0.0 END) AS a2,
          (CASE WHEN ca <> -9 AND ta = 3 THEN ca/100.0 ELSE 0.0 END
           + CASE WHEN cb <> -9 AND tb = 3 THEN cb/100.0 ELSE 0.0 END
           + CASE WHEN cc <> -9 AND tc = 3 THEN cc/100.0 ELSE 0.0 END) AS a3
          FROM ice),
        mx AS (SELECT *, greatest(a0, a1, a2, a3) AS maxr FROM acc)
        SELECT poly_id,
          CASE WHEN maxr = 0.0 THEN
            CASE WHEN ta = 0 THEN ct/100.0 ELSE 1.0 - ct/100.0 END
          ELSE 1.0 - (a1 + a2 + a3) END AS r0,
          CASE WHEN maxr = 0.0 THEN CASE WHEN ta = 1 THEN ct/100.0 ELSE 0.0 END
            ELSE a1 END AS r1,
          CASE WHEN maxr = 0.0 THEN CASE WHEN ta = 2 THEN ct/100.0 ELSE 0.0 END
            ELSE a2 END AS r2,
          CASE WHEN maxr = 0.0 THEN CASE WHEN ta = 3 THEN ct/100.0 ELSE 0.0 END
            ELSE a3 END AS r3
        FROM mx""")),

    // P9/F3/F4 — day-of-year range filter (days since Jan 1).
    "q13_doy_filter" -> Query(
      (s, dir) => MLFeed.dayOfYearFilter(Tables.orders(s, dir), "o_orderdate", 90, 120)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price")),
      Some(s"""SELECT o_orderpriority, count(*) AS n,
        ${sqlSum("o_totalprice")} AS sum_price
        FROM orders WHERE (dayofyear(o_orderdate) - 1) BETWEEN 90 AND 120
        GROUP BY o_orderpriority""")),

    // B1 — exact train/validation split on a multiplicative permutation
    // (odd multiplier → bijective mod 2^32 → no rank ties).
    "q14_exact_split" -> Query(
      (s, dir) => MLFeed.exactSplit(Tables.customer(s, dir),
          Seq(MLFeed.permuteKey(col("c_custkey")), col("c_custkey")), 0.7,
          keyDomain = Some(MLFeed.PermuteKeyDomain))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("sum_bal")),
      Some(s"""WITH r AS (SELECT c_acctbal,
          row_number() OVER (ORDER BY ${MLFeed.sqlPermuteKey("c_custkey")}, c_custkey) AS rk,
          count(*) OVER () AS n FROM customer)
        SELECT CASE WHEN rk <= floor(n*0.7) THEN 'train' ELSE 'valid' END AS split,
          count(*) AS n, ${sqlSum("c_acctbal")} AS sum_bal
        FROM r GROUP BY 1""")),

    // B2+B3 — batch slicing with ragged-tail drop (floor(n/bs) batches)
    // over the deterministic epoch permutation (the reference shuffles
    // indexes, THEN slices — data_generator.py:20-47). The permuted key
    // is uniform on [0, 2^32) by construction, so the global rank uses
    // closed-form equal-width buckets: no quantile pass, no extra job.
    "q15_batches" -> Query(
      (s, dir) => MLFeed.batchIds(Tables.lineitem(s, dir)
          // rank only the columns the batch aggregate needs: the global
          // sort carries every byte of the row through shuffle + sort,
          // so a wide fact row multiplies the rank cost for nothing
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_extendedprice")),
          Seq(MLFeed.permuteKey(col("l_orderkey") * 8 + col("l_linenumber")),
            col("l_orderkey"), col("l_linenumber")), 1000,
          keyDomain = Some(MLFeed.PermuteKeyDomain))
        .groupBy(col("batch_id"))
        .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"),
             dsum(col("l_extendedprice")).as("sum_price")),
      Some(s"""WITH r AS (SELECT l_quantity, l_extendedprice,
          row_number() OVER (ORDER BY
            ${MLFeed.sqlPermuteKey("l_orderkey*8 + l_linenumber")},
            l_orderkey, l_linenumber) - 1 AS rk,
          count(*) OVER () AS n FROM lineitem)
        SELECT rk//1000 AS batch_id, count(*) AS n_rows,
          sum(l_quantity) AS sum_qty, ${sqlSum("l_extendedprice")} AS sum_price
        FROM r WHERE rk//1000 < n//1000 GROUP BY rk//1000""")),

    // W8 — scene reconstruction: patch predictions scattered back to the
    // pixel grid, zero-filled canvas (apply_model.py:58-83).
    "q16_reconstruct" -> Query(
      (s, dir) => {
        val h = gridHeight(s, dir)
        val pavg = grid(s, dir)
          .groupBy((col("line") / 10).cast("long").as("pi"),
                   (col("sample") / 10).cast("long").as("pj"))
          .agg((dsum(col("value"), 6) / count(lit(1))).as("pred"))
          .filter((col("pi") + col("pj")) % 2 === 0)
          .withColumn("scene", lit("s0"))
        val px = Reconstruct.scatterScalar(pavg, 10, "pred")
        val scenes = s.range(1).select(lit("s0").as("scene"))
        Reconstruct.onCanvas(px, scenes, lit(h).cast("int"), lit(100))
          .select(col("line").cast("long").as("line"),
                  col("sample").cast("long").as("sample"), col("value"))
      },
      Some(s"""WITH g AS ($sqlGrid), d AS (SELECT $sqlH AS h),
        pavg AS (SELECT line//10 AS pi, sample//10 AS pj,
                   ${sqlSum("value", 6)}/count(*) AS pred
                 FROM g GROUP BY line//10, sample//10),
        kept AS (SELECT * FROM pavg WHERE (pi + pj) % 2 = 0),
        grid2 AS (SELECT l.x AS line, s.x AS sample
                  FROM (SELECT unnest(generate_series(0, (SELECT h FROM d)-1)) AS x) l,
                       (SELECT unnest(generate_series(0, 99)) AS x) s)
        SELECT grid2.line, grid2.sample, coalesce(kept.pred, 0.0) AS value
        FROM grid2 LEFT JOIN kept
          ON kept.pi = grid2.line//10 AND kept.pj = grid2.sample//10""")),

    // O3 — first-max argmax over an array prefix (np.argmax semantics).
    "q17_argmax" -> Query(
      (s, dir) => {
        val arr4 = slice(col("embedding"), 1, 4)
        Tables.embeddings(s, dir)
          .select(col("vec_id"),
            array_position(arr4, array_max(arr4)).cast("long").as("cls"))
      },
      Some("""SELECT vec_id, CAST(CASE
          WHEN e1 >= e2 AND e1 >= e3 AND e1 >= e4 THEN 1
          WHEN e2 >= e3 AND e2 >= e4 THEN 2
          WHEN e3 >= e4 THEN 3 ELSE 4 END AS BIGINT) AS cls
        FROM (SELECT vec_id, embedding[1] AS e1, embedding[2] AS e2,
                     embedding[3] AS e3, embedding[4] AS e4 FROM embeddings)""")),

    // O2/F6/S6 — deterministic per-scene sample naming.
    "q18_seq_naming" -> Query(
      (s, dir) => {
        val patches = Tables.events(s, dir).select(
            concat(lit("sc"), (col("user_id") % 5).cast("string")).as("scene"),
            ((col("event_id") / 100).cast("long") / 20).cast("long").as("pi"),
            ((col("event_id") % 100) / 20).cast("long").as("pj"))
          .distinct()
        Tiling.sampleNames(patches)
          .select(col("scene"), col("pi"), col("pj"),
                  col("seq").cast("long").as("seq"), col("sample_name"))
      },
      Some("""WITH g AS (SELECT 'sc' || (user_id % 5) AS scene,
            (event_id//100)//20 AS pi, (event_id%100)//20 AS pj FROM events),
        p AS (SELECT DISTINCT scene, pi, pj FROM g),
        r AS (SELECT scene, pi, pj,
                row_number() OVER (PARTITION BY scene ORDER BY pi, pj) - 1 AS seq
              FROM p)
        SELECT scene, pi, pj, CAST(seq AS BIGINT) AS seq,
               scene || '_' || lpad(CAST(seq AS VARCHAR), 6, '0') AS sample_name
        FROM r""")),

    // A5 — distinct scene dates.
    "q19_distinct_days" -> Query(
      (s, dir) => Tables.events(s, dir)
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day")).distinct(),
      Some("SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day FROM events")),

    // A7 — class-frequency histogram over the one-hot cube. NOT
    // posexplode(oneHotBinary(...)) and NOT sums over element_at(vec,·)
    // directly: either form inlines the whole CASE forest into one
    // generated method (generator doConsume / hashAgg subexpression),
    // blowing janino's 64 KB limit and falling back to interpreted
    // execution (VERDICT r1 perf q20). Instead: project r0..r3 first —
    // the exact projection q11 codegens fine — then a trivial map-side
    // aggregate over plain attributes, then a 4-row stack.
    "q20_class_histogram" -> Query(
      (s, dir) => {
        val slotSums = (0 to 3).map(k =>
          sum(col(s"r$k")).cast("long").as(s"h$k"))
        onehotBinaryDf(s, dir)
          .agg(slotSums.head, slotSums.tail: _*)
          .select(expr("stack(4, 0L, h0, 1L, h1, 2L, h2, 3L, h3)")
            .as(Seq("cls", "n_hot")))
      },
      Some(s"""WITH $sqlBinaryCte,
        u AS (SELECT 0 AS cls, r0 AS ind FROM bin
              UNION ALL SELECT 1, r1 FROM bin
              UNION ALL SELECT 2, r2 FROM bin
              UNION ALL SELECT 3, r3 FROM bin)
        SELECT CAST(cls AS BIGINT) AS cls, CAST(sum(ind) AS BIGINT) AS n_hot
        FROM u GROUP BY cls""")),

    // P6/P7 — mask union + masked/kept accounting.
    "q21_mask_union" -> Query(
      (s, dir) => {
        val masked = Masking.unionMasks(
          col("l_discount") > 0.08, col("l_tax") < 0.02, col("l_quantity") > 45)
        Tables.lineitem(s, dir).groupBy(col("l_returnflag"))
          .agg(sum(when(masked, 1).otherwise(0)).cast("long").as("n_masked"),
               sum(when(!masked, 1).otherwise(0)).cast("long").as("n_kept"),
               dsum(when(!masked, col("l_extendedprice")).otherwise(lit(0.0))).as("sum_kept"))
      },
      Some(s"""SELECT l_returnflag,
          CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
          CAST(sum(CASE WHEN m THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
          ${sqlSum("CASE WHEN m THEN 0.0 ELSE l_extendedprice END")} AS sum_kept
        FROM (SELECT l_returnflag, l_extendedprice,
                (l_discount > 0.08 OR l_tax < 0.02 OR l_quantity > 45) AS m
              FROM lineitem) GROUP BY l_returnflag""")),

    // P4/P5 — scene healthiness on AOI metadata.
    "q22_health_filter" -> Query(
      (s, dir) => {
        val meta = Tables.events(s, dir)
          .groupBy((col("user_id") % 20).as("scene"))
          .agg(min(col("event_id") % 100).as("aoi_ul_sample"),
               max(col("event_id") % 100).as("aoi_lr_sample"),
               min((col("event_id") / 100).cast("long")).as("aoi_ul_line"),
               max((col("event_id") / 100).cast("long")).as("aoi_lr_line"))
        Masking.healthy(meta, window = 95, rmSwath = 3)
      },
      Some("""WITH m AS (SELECT user_id % 20 AS scene,
            min(event_id % 100) AS aoi_ul_sample,
            max(event_id % 100) AS aoi_lr_sample,
            min(event_id // 100) AS aoi_ul_line,
            max(event_id // 100) AS aoi_lr_line
          FROM events GROUP BY user_id % 20)
        SELECT scene, aoi_ul_sample, aoi_lr_sample, aoi_ul_line, aoi_lr_line
        FROM m
        WHERE (aoi_lr_sample - greatest(3, aoi_ul_sample)) >= 95
          AND (aoi_lr_line - aoi_ul_line) >= 95""")),

    // P11/U2 — patch locs present for ALL variables (multi-way inner join).
    "q23_intersect_locs" -> Query(
      (s, dir) => {
        val e = Tables.events(s, dir).select(
          ((col("event_id") / 100).cast("long") / 5).cast("long").as("pi"),
          ((col("event_id") % 100) / 5).cast("long").as("pj"),
          col("value"), col("user_id"))
        def locs(v: org.apache.spark.sql.Column) =
          e.select(col("pi"), col("pj"), v.as("v"))
            .groupBy(col("pi"), col("pj"))
            .agg(sum(when(col("v").isNull, 1).otherwise(0)).as("_nulls"))
            .filter(col("_nulls") === 0).drop("_nulls")
        val a = locs(col("value"))
        val b = locs(when(col("user_id") % 50 =!= 0, col("value")))
        val c = locs(when(col("value") >= 0.5, col("value")))
        a.join(b, Seq("pi", "pj")).join(c, Seq("pi", "pj"))
      },
      Some("""WITH e AS (SELECT (event_id//100)//5 AS pi, (event_id%100)//5 AS pj,
            value, user_id FROM events),
        a AS (SELECT pi, pj FROM e GROUP BY pi, pj
              HAVING sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) = 0),
        b AS (SELECT pi, pj FROM e GROUP BY pi, pj
              HAVING sum(CASE WHEN user_id % 50 = 0 THEN 1 ELSE 0 END) = 0),
        c AS (SELECT pi, pj FROM e GROUP BY pi, pj
              HAVING sum(CASE WHEN value < 0.5 THEN 1 ELSE 0 END) = 0)
        SELECT a.pi, a.pj FROM a JOIN b ON a.pi = b.pi AND a.pj = b.pj
                                 JOIN c ON a.pi = c.pi AND a.pj = c.pj"""))
  )
}
