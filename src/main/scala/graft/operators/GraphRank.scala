package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted PageRank over an edge frame — the graph-centrality operator
  * behind TextRank keyword extraction (PageRank on the token
  * co-occurrence graph) and crawl-quality weighting (PageRank on a URL
  * link graph) in training-data pipelines.
  *
  * Determinism contract (the DuckDB oracle unrolls the same
  * iterations): every per-node sum quantizes its contributions FIRST —
  * `floor((r·frac) · 2^quantBits)` is exact integer math (the
  * power-of-two scale is a float-exponent shift, floor is
  * engine-identical, the long sum is order-independent), so no
  * partial-aggregation order can perturb the rank. The remaining
  * per-iteration arithmetic ((1−d)/N + d·s) is a chain of
  * correctly-rounded IEEE double ops on identical inputs —
  * bit-identical on both engines. A decimal CAST here would carry a
  * half-up-vs-half-even tie hazard on dyadic products (e.g. r = 2^-5,
  * frac = 2^-10); the floor form has no rounding step at all.
  *
  * Scale shape: one (u,v)-keyed aggregate for edge weights, one
  * u-keyed aggregate for out-weights, then per iteration ONE v-keyed
  * map-combined aggregate. The rank frame is node-sized, so the
  * operator — not the caller — decides the join strategy from an
  * actual node count: at or below `broadcastMaxNodes` the per-iteration
  * joins carry a broadcast hint (a vocabulary for TextRank — one
  * executor-local map, zero shuffles of the edge frame); above it the
  * hints are omitted and the same plan shuffle-joins on u/v (a URL
  * graph would otherwise re-broadcast a corpus-sized rank table every
  * iteration from the driver). `localCheckpoint` truncates the
  * per-iteration lineage exactly as the connected-components loop does.
  */
object GraphRank {

  /** `edges`: (u, v, w) directed weighted edges (already symmetrized by
    * the caller if an undirected walk is wanted). Returns (node, r).
    * `broadcastMaxNodes` is the rank-table broadcast ceiling: ~24 bytes
    * a row puts the default 4M at ~100 MB per executor — above it the
    * iteration joins flip to shuffle joins with no other plan change. */
  def pageRank(edges: DataFrame, iters: Int, damping: Double,
               quantBits: Int = 40,
               broadcastMaxNodes: Long = 4000000L): DataFrame = {
    require(iters >= 1 && quantBits > 0 && quantBits < 53)
    val q = (1L << quantBits).toDouble
    val agg = edges.groupBy(col("u"), col("v"))
      .agg(sum(col("w")).as("w"))
    val outw = agg.groupBy(col("u")).agg(sum(col("w")).as("wout"))
    val frac = agg.join(outw, Seq("u"))
      .select(col("u"), col("v"),
        (col("w").cast("double") / col("wout").cast("double")).as("frac"))
      .localCheckpoint()
    val nodes = frac.select(col("u").as("node")).distinct().localCheckpoint()
    // the count is free: nodes is already localCheckpointed for the
    // iteration lineage, so this reads the checkpoint, not the graph
    val nNodes = nodes.count()
    val smallGraph = nNodes <= broadcastMaxNodes
    def hinted(df: DataFrame): DataFrame = if (smallGraph) broadcast(df) else df
    // n_nodes rides as a LITERAL (r17): the old broadcast count frame
    // was re-executed and re-broadcast by EVERY iteration — exchange
    // reuse cannot cross the per-iteration localCheckpoint boundary,
    // so 12 iterations paid 12 broadcast jobs for one already-known
    // long. The division happens on the DRIVER (same IEEE op Spark's
    // Divide folds two double literals to, so ranks are bit-identical
    // for any non-empty graph); the empty-graph divisor is clamped to
    // 1 because under ANSI mode ConstantFolding evaluates x/0 into a
    // DIVIDE_BY_ZERO error even when zero rows flow — the old count
    // frame only dodged that by never evaluating on an empty frame,
    // and with zero nodes no row ever carries the value anyway.
    val safeN = if (nNodes == 0L) 1.0 else nNodes.toDouble
    val oneMinusD = 1.0 - damping
    var r = nodes
      .select(col("node"), lit(1.0 / safeN).as("r"))
    for (i <- 1 to iters) {
      val contrib = frac
        .join(hinted(r.withColumnRenamed("node", "u")), Seq("u"))
        .select(col("v"),
          floor((col("r") * col("frac")) * lit(q)).cast("long").as("c"))
        .groupBy(col("v"))
        .agg((sum(col("c")).cast("double") / lit(q)).as("s"))
      val next = nodes.join(hinted(contrib), col("node") === col("v"), "left")
        .select(col("node"),
          (lit(oneMinusD / safeN)
            + lit(damping) * coalesce(col("s"), lit(0.0))).as("r"))
      // truncate the RANK lineage too (r12 — the docstring claimed it,
      // the loop didn't do it: without this, iteration k's plan nests
      // k join-aggregate layers and Catalyst re-analysis dominates the
      // whole operator — q195's 3.5→7 s drift was pure planning cost,
      // superlinear in unrolled depth, not execution). The rank frame
      // is node-sized, so the per-iteration materialization is tiny;
      // values are unchanged (the quantized-sum determinism contract
      // is execution-side). r16 note: checkpointing only every SECOND
      // iteration was tried and REVERTED — the un-cut rank frame is
      // re-executed by every broadcast that references it (the
      // iteration joins broadcast r and contrib), so skipped cuts
      // re-ran a full iteration per round: q195 2.65 → 4.25 s
      // in-sweep. The per-iteration eager cut is load-bearing.
      r = if (i == iters) next else next.localCheckpoint()
    }
    r
  }

  /** DuckDB mirror: CTE text computing the same `iters` unrolled
    * PageRank over `symCte` (a CTE named `sym` with columns u, v, w
    * must precede this fragment). Emits CTEs `frac`, `nodes`, `nn`,
    * `r0..r{iters}`; the final rank relation is `r{iters}(node, r)`. */
  def sqlPageRank(iters: Int, damping: Double, quantBits: Int = 40): String = {
    val q = (1L << quantBits).toString + ".0"
    val oneMinusD = (1.0 - damping).toString
    val d = damping.toString
    val head =
      s"""frac AS (SELECT e.u, e.v,
              CAST(e.w AS DOUBLE) / CAST(o.wout AS DOUBLE) AS frac
            FROM sym e JOIN (SELECT u, sum(w) AS wout FROM sym GROUP BY u) o
              ON e.u = o.u),
          nodes AS (SELECT DISTINCT u AS node FROM frac),
          nn AS (SELECT count(*) AS n_nodes FROM nodes),
          r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n_nodes AS r
                 FROM nodes, nn)"""
    val steps = (1 to iters).map { i =>
      s"""c$i AS (SELECT f.v,
              CAST(sum(CAST(floor((p.r * f.frac) * $q) AS BIGINT)) AS DOUBLE)
                / $q AS s
            FROM frac f JOIN r${i - 1} p ON f.u = p.node GROUP BY f.v),
          r$i AS (SELECT n.node,
              CAST($oneMinusD AS DOUBLE) / nn.n_nodes
                + CAST($d AS DOUBLE) * coalesce(c$i.s, CAST(0.0 AS DOUBLE)) AS r
            FROM nodes n LEFT JOIN c$i ON n.node = c$i.v, nn)"""
    }
    (head +: steps).mkString(",\n          ")
  }
}
