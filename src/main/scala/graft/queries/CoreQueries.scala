package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{GridOps, Ledger, Tiling}
import Q._

/** Driver-contract queries for the relational / grid operator families
  * (SURVEY.md §2.1-2.5): aggregation, dimension decode join, ledger anti
  * join, decimate, block-mean, block-any, tumbling & sliding tiling,
  * constant pad. Each returns columns aliased identically to its DuckDB
  * oracle.
  */
object CoreQueries {

  val all: Map[String, Query] = Map(

    // A1/A6 — partial+final hash agg; scan-pruned to the 5 aggregated
    // columns.
    "q01_pricing_agg" -> Query(
      // r16: project to the aggregated columns, then fan the narrow
      // scan out (single-row-group input = one-task scan; the decimal
      // partial aggregation ran on one of 32 cores). No-op at
      // production scan parallelism — see Tables.spread.
      (s, dir) => Tables.spread(Tables.lineitem(s, dir)
          .select(col("l_returnflag"), col("l_linestatus"),
            col("l_quantity"), col("l_extendedprice"), col("l_discount")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc"),
          davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("n")),
      Some(s"""SELECT l_returnflag, l_linestatus,
        sum(l_quantity) AS sum_qty,
        ${sqlSum("l_extendedprice")} AS sum_base,
        ${sqlSum("l_extendedprice*(1.0-l_discount)")} AS sum_disc,
        ${sqlAvg("l_quantity")} AS avg_qty,
        count(*) AS n
        FROM lineitem GROUP BY l_returnflag, l_linestatus""")),

    // J1 — polygon-decode-shaped dimension join: broadcast hash join, no
    // shuffle of the fact side (mirror of archive.py:124-142).
    "q02_decode_join" -> Query(
      (s, dir) => Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
             count(lit(1)).as("n")),
      Some(s"""SELECT p_brand,
        ${sqlSum("l_extendedprice*(1.0-l_discount)")} AS revenue, count(*) AS n
        FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand""")),

    // S4/U1/J2 — incremental ledger anti join (archive.py:180-195); the
    // "ledger" is the deterministic subset o_orderkey % 7 == 0.
    "q03_ledger_anti" -> Query(
      (s, dir) => {
        val orders = Tables.orders(s, dir)
        val ledger = orders.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"))
        Ledger.unprocessed(orders, ledger, Seq("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      },
      Some(s"""SELECT o_orderpriority, count(*) AS n,
        ${sqlSum("o_totalprice")} AS sum_price
        FROM orders o WHERE NOT EXISTS (
          SELECT 1 FROM orders p WHERE p.o_orderkey % 7 = 0
            AND p.o_orderkey = o.o_orderkey)
        GROUP BY o_orderpriority""")),

    // W2 — decimating resize on the events grid (step 3, ragged trim).
    "q04_decimate" -> Query(
      (s, dir) => {
        val h = gridHeight(s, dir)
        GridOps.decimate(grid(s, dir), 3, lit(h), lit(100L))
          .select(col("line").cast("long").as("line"),
                  col("sample").cast("long").as("sample"), col("value"))
      },
      Some(s"""WITH g AS ($sqlGrid),
        k AS (SELECT CAST(ceil($sqlH/3.0) AS BIGINT) AS sl,
                     CAST(ceil(100/3.0) AS BIGINT) AS ss)
        SELECT line//3 AS line, sample//3 AS sample, value
        FROM g, k
        WHERE line % 3 = 0 AND sample % 3 = 0
          AND line//3 < (CASE WHEN sl % 3 <> 0 THEN sl - 1 ELSE sl END)
          AND sample//3 < (CASE WHEN sl % 3 <> 0 THEN ss - 1 ELSE ss END)""")),

    // W3/A1 — box-mean downsample, step 4: partial+final hash agg keyed by
    // (block) — scales with output cells.
    "q05_blockmean" -> Query(
      (s, dir) => {
        val h = gridHeight(s, dir)
        GridOps.blockMean(grid(s, dir), 4, Seq("value"), lit(h), lit(100L))
          .select(col("line").cast("long").as("line"),
                  col("sample").cast("long").as("sample"),
                  col("value").as("mean_value"))
      },
      Some(s"""WITH g AS ($sqlGrid),
        k AS (SELECT CAST(ceil($sqlH/4.0) AS BIGINT) AS sl,
                     CAST(ceil(100/4.0) AS BIGINT) AS ss)
        SELECT line//4 AS line, sample//4 AS sample,
               ${sqlAvg("value")} AS mean_value
        FROM g, k
        WHERE line//4 < (CASE WHEN sl % 4 <> 0 THEN sl - 1 ELSE sl END)
          AND sample//4 < (CASE WHEN sl % 4 <> 0 THEN ss - 1 ELSE ss END)
        GROUP BY line//4, sample//4""")),

    // W3 reflect mode — SciPy's uniform_filter 'reflect' boundary on a
    // 7×7 slice at step 3: overhang 2, so the mirror folds edge pixels
    // back with weight 2 AND reaches pixels before the last anchor (the
    // two-tile spill). The oracle mirrors the operator's candidate
    // explode: per-axis (tile, weight) pairs, weighted decimal sum / 9.
    // GridOpsSpec pins the same math against symmetric-pad goldens.
    "q75_blockmean_reflect" -> Query(
      (s, dir) => GridOps.blockMean(
          grid(s, dir).filter(col("line") < 7 && col("sample") < 7),
          3, Seq("value"), lit(7L), lit(7L), reflect = true)
        .select(col("line").cast("long").as("line"),
                col("sample").cast("long").as("sample"),
                col("value").as("mean_value")),
      Some(s"""WITH g AS ($sqlGrid),
        px AS (SELECT line, sample, value FROM g WHERE line < 7 AND sample < 7),
        lx AS (SELECT sample, value, unnest([
            {'t': line//3,
             'w': 1 + CASE WHEN line >= 14 - (line//3)*3 - 3 THEN 1 ELSE 0 END},
            {'t': CAST(2 AS BIGINT),
             'w': CASE WHEN line//3 <> 2 AND line >= 5 THEN 1 ELSE 0 END}]) AS lc
          FROM px),
        sx AS (SELECT value, lc, unnest([
            {'t': sample//3,
             'w': 1 + CASE WHEN sample >= 14 - (sample//3)*3 - 3 THEN 1 ELSE 0 END},
            {'t': CAST(2 AS BIGINT),
             'w': CASE WHEN sample//3 <> 2 AND sample >= 5 THEN 1 ELSE 0 END}]) AS sc
          FROM lx)
        SELECT lc.t AS line, sc.t AS sample,
          CAST(sum(CAST(value AS DECIMAL(18,6)) * lc.w * sc.w) AS DOUBLE) / 9
            AS mean_value
        FROM sx WHERE lc.w > 0 AND sc.w > 0
        GROUP BY lc.t, sc.t""")),

    // W4/A2 — block any-true mask downsample (bool_or ≡ max over 0/1).
    "q06_blockany" -> Query(
      (s, dir) => GridOps.blockAny(
          grid(s, dir).withColumn("mask", col("value") > 400.0).drop("value"),
          5, "mask")
        .select(col("line").cast("long").as("line"),
                col("sample").cast("long").as("sample"),
                col("mask").cast("long").as("mask")),
      Some(s"""WITH g AS ($sqlGrid)
        SELECT line//5 AS line, sample//5 AS sample,
               CAST(max(CASE WHEN value > 400.0 THEN 1 ELSE 0 END) AS BIGINT) AS mask
        FROM g GROUP BY line//5, sample//5""")),

    // W1/P8/A3 — tumbling tiling w=10 with NaN(NULL)-patch rejection
    // (archive.py:50-72): ONE shuffle, no duplication — the 100 TB path.
    "q07_tile_tumbling" -> Query(
      (s, dir) => {
        val h = gridHeight(s, dir)
        val g = grid(s, dir).withColumn("value",
          when(col("value") < 1.0, lit(null).cast("double"))
            .otherwise(col("value")))
        val tiled = Tiling.tumbling(g, 10, lit(h), lit(100L))
        Tiling.aggregatePatches(tiled, 10, Seq("value"),
            Seq(dsum(col("value"), 6).as("sum_value")), keys = Seq("pi", "pj"))
          .select(col("pi").cast("long").as("pi"),
                  col("pj").cast("long").as("pj"), col("sum_value"))
      },
      Some(s"""WITH g AS (
          SELECT line, sample,
                 CASE WHEN value < 1.0 THEN NULL ELSE value END AS value
          FROM ($sqlGrid)),
        p AS (SELECT line//10 AS pi, sample//10 AS pj, count(*) AS n_px,
                     sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS n_null,
                     ${sqlSum("value", 6)} AS sum_value
              FROM g
              WHERE (line//10 + 1) * 10 <= $sqlH AND (sample//10 + 1) * 10 <= 100
              GROUP BY line//10, sample//10)
        SELECT pi, pj, sum_value FROM p WHERE n_px = 100 AND n_null = 0""")),

    // W1 sliding — stride 5 < window 10: explicit (w/s)² = 4× explode
    // (SURVEY.md §7.4.2), grouped per covering patch.
    "q08_tile_sliding" -> Query(
      (s, dir) => {
        val h = gridHeight(s, dir)
        Tiling.sliding(grid(s, dir), 10, 5, lit(h), lit(100L))
          .groupBy(col("pi").cast("long").as("pi"),
                   col("pj").cast("long").as("pj"))
          .agg(count(lit(1)).as("n_px"), dsum(col("value"), 6).as("sum_value"))
      },
      Some(s"""WITH g AS ($sqlGrid),
        d AS (SELECT $sqlH AS h),
        f AS (SELECT g.*, d.h FROM g, d
              WHERE line < ((h-10)//5)*5 + 10 AND sample < ((100-10)//5)*5 + 10),
        e1 AS (SELECT f.*, unnest(generate_series(
                 greatest(0, CAST(ceil((line-9)/5.0) AS BIGINT)),
                 least(CAST(floor(line/5.0) AS BIGINT), (h-10)//5))) AS pi
               FROM f),
        e2 AS (SELECT e1.*, unnest(generate_series(
                 greatest(0, CAST(ceil((sample-9)/5.0) AS BIGINT)),
                 least(CAST(floor(sample/5.0) AS BIGINT), (100-10)//5))) AS pj
               FROM e1)
        SELECT pi, pj, count(*) AS n_px, ${sqlSum("value", 6)} AS sum_value
        FROM e2 GROUP BY pi, pj""")),

    // W5 — constant pad of a 5×10 subgrid onto a 9×14 canvas at offset
    // (2,3), fill 100 (tests/test_archive.py:46-57): dense-grid left join.
    "q09_pad_constant" -> Query(
      (s, dir) => {
        val sub = Tables.events(s, dir).filter(col("event_id") < 50)
          .select(lit("s0").as("scene"),
            (col("event_id") / 10).cast("long").as("line"),
            (col("event_id") % 10).cast("long").as("sample"),
            col("value"))
        val scenes = sub.sparkSession.range(1).select(lit("s0").as("scene"))
        GridOps.padConstant(sub, scenes,
            lit(9), lit(14), lit(2), lit(3), Seq("value"), 100.0)
          .select(col("line").cast("long").as("line"),
                  col("sample").cast("long").as("sample"), col("value"))
      },
      Some("""WITH sub AS (
          SELECT CAST(event_id//10 AS BIGINT) AS line,
                 CAST(event_id%10 AS BIGINT) AS sample, value
          FROM events WHERE event_id < 50),
        grid AS (SELECT l.g AS line, s.g AS sample
                 FROM generate_series(0, 8) l(g), generate_series(0, 13) s(g))
        SELECT grid.line, grid.sample,
               coalesce(sub.value, 100.0) AS value
        FROM grid LEFT JOIN sub
          ON sub.line + 2 = grid.line AND sub.sample + 3 = grid.sample"""))
  )
}
