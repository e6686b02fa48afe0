package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Bracket.bracket

/** W6/J3 — AMSR2→SAR bilinear regrid.
  *
  * The reference builds target axes `arange(step/2, sar_extent, step)` and
  * evaluates a `RegularGridInterpolator` (linear, extrapolating:
  * `bounds_error=False, fill_value=None`) per channel
  * (reference `asip_v2/archive.py:250-263`). Spark-native design:
  *
  *  1. one aggregate per scene reduces the coarse source grid to its
  *     sorted line axis, sorted sample axis and row-major value array;
  *  2. that one row per scene joins the dense target meshgrid on the
  *     scene key (the grid row is small, so the big side streams past a
  *     broadcast while it fits);
  *  3. each target's bracketing cell comes in closed form,
  *     `clamp(#{nodes ≤ pos} − 1, 0, n − 2)` per axis
  *     ([[graft.functions.Bracket]]): the clamp extends the first/last
  *     interval to ±inf, so linear extrapolation beyond the hull is the
  *     same 4-corner combine with weights outside [0,1], exactly RGI's
  *     `fill_value=None` behaviour.
  *
  * Steps 2 and 3 are one codegen'd pipeline stage. The source must be a
  * complete rectilinear grid per scene (every line × sample node once,
  * non-null positions); any other scene fails the query rather than
  * being interpolated across the gap.
  */
object Regrid {

  /** Reference target-axis generator: `arange(step/2, extent, step)`
    * (`archive.py:255-256`). */
  def targetAxis(scenes: DataFrame, extent: Column, step: Int,
                 sceneCol: String = "scene", out: String = "pos"): DataFrame =
    scenes.select(col(sceneCol), extent.as("_e"))
      .withColumn("_p", explode(sequence(lit(step / 2), col("_e") - 1, lit(step))))
      .select(col(sceneCol), col("_p").cast("double").as(out))

  /** Per-scene grid row (scene, la, sa, va): ascending line and sample
    * axes and the row-major node values. Scenes with fewer than 2 nodes
    * on an axis have no interval and give no row. */
  private def grids(src: DataFrame, sceneCol: String): DataFrame = {
    val g = src.groupBy(col(sceneCol))
      .agg(sort_array(collect_list(struct(col("line").cast("double").as("l"),
        col("sample").cast("double").as("s"), col("value").as("v")))).as("g"))
      .select(col(sceneCol), col("g"), array_distinct(col("g.l")).as("la"),
        sort_array(array_distinct(col("g.s"))).as("sa"))
      .filter(size(col("la")) >= 2 && size(col("sa")) >= 2)
    // sorted by (line, sample), the nodes form a complete grid iff their
    // samples are the sample axis tiled once per line (a gap or a repeat
    // breaks the tiling); nulls sort first, so axis(0) finds a null position
    val complete = col("la")(0).isNotNull && col("sa")(0).isNotNull &&
      col("g.s") === flatten(array_repeat(col("sa"), size(col("la"))))
    g.select(col(sceneCol), col("la"), col("sa"),
      when(complete, col("g.v")).otherwise(raise_error(concat(
        lit("Regrid.bilinear: scene "), col(sceneCol).cast("string"),
        lit(" is not a complete rectilinear grid (a node is missing or repeated)"))))
        .as("va"))
  }

  /** Bilinear regrid of `src(scene, line, sample, value)` (a complete
    * rectilinear per-scene grid, positions in target/SAR pixel units) onto
    * the per-scene cross product `targetLines(scene,pos)` ×
    * `targetSamples(scene,pos)`. Returns (scene, line, sample, value). */
  def bilinear(src: DataFrame,
               targetLines: DataFrame, targetSamples: DataFrame,
               sceneCol: String = "scene"): DataFrame = {
    // +inf, NaN and null targets lie in no cover interval: dropped
    val targets = targetLines.select(col(sceneCol), col("pos").as("tl"))
      .join(targetSamples.select(col(sceneCol), col("pos").as("tsm")), Seq(sceneCol))
      .filter(col("tl") < Double.PositiveInfinity && col("tsm") < Double.PositiveInfinity)
    def node(dl: Int, ds: Int): Column =
      col("va")((col("li") + dl) * size(col("sa")) + col("si") + ds)
    val wl = (col("tl") - col("l_lo")) / (col("l_hi") - col("l_lo"))
    val ws = (col("tsm") - col("s_lo")) / (col("s_hi") - col("s_lo"))
    targets.join(grids(src, sceneCol), Seq(sceneCol))
      .select(col(sceneCol), col("tl"), col("tsm"), col("la"), col("sa"), col("va"),
        bracket(col("la"), col("tl").cast("double")).as("li"),
        bracket(col("sa"), col("tsm").cast("double")).as("si"))
      .select(col(sceneCol), col("tl"), col("tsm"),
        col("la")(col("li")).as("l_lo"), col("la")(col("li") + 1).as("l_hi"),
        col("sa")(col("si")).as("s_lo"), col("sa")(col("si") + 1).as("s_hi"),
        node(0, 0).as("v11"), node(0, 1).as("v12"), node(1, 0).as("v21"), node(1, 1).as("v22"))
      .select(col(sceneCol), col("tl").as("line"), col("tsm").as("sample"),
        (col("v11") * (lit(1.0) - wl) * (lit(1.0) - ws) +
         col("v12") * (lit(1.0) - wl) * ws +
         col("v21") * wl * (lit(1.0) - ws) +
         col("v22") * wl * ws).as("value"))
  }
}
