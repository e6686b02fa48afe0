package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Regrid

/** The window-free [[Regrid.bilinear]] against the window formulation it
  * replaced, kept here as the reference: bit-identical output (`==` on
  * doubles) on seeded complete rectilinear grids, and an explicit error
  * where the reference bridged a missing node. */
class RegridSpec extends SparkSpec {
  import spark.implicits._

  type Out = (String, Option[Double], Option[Double], Option[Double])

  private def rows(df: DataFrame): Seq[Out] = {
    def d(r: org.apache.spark.sql.Row, i: Int) =
      if (r.isNullAt(i)) None else Some(r.getAs[Number](i).doubleValue())
    df.select("scene", "line", "sample", "value").collect().toSeq
      .map(r => (r.getString(0), d(r, 1), d(r, 2), d(r, 3)))
      .sortBy(o => (o._1, o._2.getOrElse(Double.NaN), o._3.getOrElse(Double.NaN)))(
        Ordering.Tuple3(Ordering.String, Ordering.Double.TotalOrdering,
          Ordering.Double.TotalOrdering))
  }

  private def same(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (Some(x), Some(y)) => x == y || (x.isNaN && y.isNaN)
    case (None, None) => true
    case _ => false
  }

  private def assertSame(got: Seq[Out], want: Seq[Out]): Unit = {
    got.size shouldBe want.size
    got.zip(want).foreach { case (g, w) =>
      withClue(s"got $g, want $w: ") {
        g._1 shouldBe w._1
        assert(same(g._2, w._2) && same(g._3, w._3) && same(g._4, w._4))
      }
    }
  }

  /** Uneven ascending axis of `n` nodes. */
  private def axis(rng: Random, n: Int): Seq[Double] =
    (0 until n).scanLeft(rng.nextInt(20).toDouble)((p, _) => p + 1 + rng.nextInt(30)).take(n)

  /** A seeded batch: complete grids with uneven spacing and ~10% NULL
    * values (always at scene a's first node), one scene with a single
    * line and one with a single sample (no interval: no rows), and
    * targets inside, beyond and far beyond the hull, plus ±inf, NaN and
    * NULL positions. */
  private def batch(seed: Int): (DataFrame, DataFrame, DataFrame) = {
    val rng = new Random(seed)
    val shapes = Seq(("a", 2 + rng.nextInt(6), 2 + rng.nextInt(6)),
      ("b", 2 + rng.nextInt(6), 2 + rng.nextInt(6)), ("c", 2, 2),
      ("one_line", 1, 4), ("one_sample", 3, 1))
    val grids = shapes.map { case (sc, nl, ns) => (sc, axis(rng, nl), axis(rng, ns)) }
    val src = for {
      (sc, ls, ss) <- grids; l <- ls; s <- ss
    } yield (sc, l, s,
      if ((sc == "a" && l == ls.head && s == ss.head) || rng.nextInt(10) == 0) None
      else Some(rng.nextGaussian() * 100))
    def targets(ax: (String, Seq[Double], Seq[Double]) => Seq[Double]): Seq[(String, Option[Double])] =
      grids.flatMap { case (sc, ls, ss) =>
        val a = ax(sc, ls, ss)
        val (lo, hi) = (a.min - 40, a.max + 40)
        (Seq.fill(6)(lo + rng.nextDouble() * (hi - lo)) ++ a.take(2) ++ Seq(a.max, lo - 1e3))
          .map(p => (sc, Some(p)))
      } ++ Seq(("a", Some(Double.NegativeInfinity)), ("a", Some(Double.PositiveInfinity)),
        ("b", Some(Double.NaN)), ("b", None), ("no_grid", Some(3.0)))
    (src.toDF("scene", "line", "sample", "value"),
      targets((_, ls, _) => ls).toDF("scene", "pos"),
      targets((_, _, ss) => ss).toDF("scene", "pos"))
  }

  test("bilinear equals the window reference bit for bit on seeded grids") {
    for (seed <- 1 to 6) withClue(s"seed $seed: ") {
      val (src, tl, ts) = batch(seed)
      val want = rows(RegridSpec.windowReference(src, tl, ts))
      want.map(_._1).toSet shouldBe Set("a", "b", "c")
      want.count(_._4.isEmpty) should be > 0 // NULL values reach the output
      assertSame(rows(Regrid.bilinear(src, tl, ts)), want)
    }
  }

  test("bilinear equals the reference on integer positions and float values") {
    val src = (for (l <- Seq(0, 7, 20); s <- Seq(3, 4, 15, 40))
      yield ("s", l, s, (l * 3 + s).toFloat / 7f)).toDF("scene", "line", "sample", "value")
    val scenes = Seq("s").toDF("scene")
    val tl = Regrid.targetAxis(scenes, lit(30), 4)
    val ts = Regrid.targetAxis(scenes, lit(50), 3)
    val want = rows(RegridSpec.windowReference(src, tl, ts))
    want.size shouldBe 7 * 17
    assertSame(rows(Regrid.bilinear(src, tl, ts)), want)
  }

  test("a grid with a missing or repeated node is rejected, not bridged") {
    val full = for (l <- Seq(0.0, 10.0, 20.0); s <- Seq(0.0, 10.0, 20.0)) yield ("s", l, s, l + s)
    val tl = Seq(("s", 5.0), ("s", 15.0)).toDF("scene", "pos")
    val ts = Seq(("s", 5.0), ("s", 15.0)).toDF("scene", "pos")
    val gap = full.filterNot(r => r._2 == 10.0 && r._3 == 10.0)
    val repeated = full :+ ("s", 10.0, 10.0, 0.0)
    val misaligned = full.map(r => if (r._2 == 20.0 && r._3 == 20.0) r.copy(_3 = 25.0) else r)
    for (bad <- Seq(gap, repeated, misaligned)) {
      val e = intercept[Exception] {
        Regrid.bilinear(bad.toDF("scene", "line", "sample", "value"), tl, ts).collect()
      }
      e.getMessage should include("scene s is not a complete rectilinear grid")
    }
    // the reference bridged the gap instead: lead() skips the missing
    // (10,10), so its neighbours' cells take far corners and the wrong
    // interval's weights, and the target inside the missing cell vanishes
    RegridSpec.windowReference(gap.toDF("scene", "line", "sample", "value"), tl, ts)
      .count() shouldBe 3L
  }
}

object RegridSpec {

  /** The window formulation of `Regrid.bilinear` before it went
    * window-free: per-scene cells from `lead()` passes indexed by
    * `dense_rank`, target positions resolved through ±inf-extended
    * interval tables by range-filter joins. */
  def windowReference(src: DataFrame, targetLines: DataFrame, targetSamples: DataFrame,
                      sceneCol: String = "scene"): DataFrame = {
    def intervals(axis: DataFrame): DataFrame = {
      val w = Window.partitionBy(col(sceneCol)).orderBy(col("pos"))
      axis
        .withColumn("idx", row_number().over(w) - 1)
        .withColumn("nxt", lead(col("pos"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .withColumn("last_idx", max(col("idx")).over(Window.partitionBy(col(sceneCol))))
        .select(col(sceneCol), col("idx"),
          when(col("idx") === 0, Double.NegativeInfinity).otherwise(col("pos")).as("cover_lo"),
          when(col("idx") === col("last_idx"), Double.PositiveInfinity)
            .otherwise(col("nxt")).as("cover_hi"))
    }
    def lookup(targets: DataFrame, iv: DataFrame, posOut: String, idxOut: String): DataFrame =
      targets.select(col(sceneCol), col("pos").as(posOut))
        .join(iv.select(col(sceneCol), col("idx").as(idxOut), col("cover_lo"), col("cover_hi")),
          Seq(sceneCol))
        .filter(col(posOut) >= col("cover_lo") && col(posOut) < col("cover_hi"))
        .drop("cover_lo", "cover_hi")

    val bySc = Window.partitionBy(col(sceneCol))
    val wS = Window.partitionBy(col(sceneCol), col("line")).orderBy(col("sample"))
    val wL = Window.partitionBy(col(sceneCol), col("sample")).orderBy(col("line"))
    val cells = src
      .withColumn("li", dense_rank().over(bySc.orderBy(col("line"))) - 1)
      .withColumn("si", dense_rank().over(bySc.orderBy(col("sample"))) - 1)
      .withColumn("v12", lead(col("value"), 1).over(wS))
      .withColumn("s_hi", lead(col("sample"), 1).over(wS))
      .withColumn("v21", lead(col("value"), 1).over(wL))
      .withColumn("v22", lead(col("v12"), 1).over(wL))
      .withColumn("l_hi", lead(col("line"), 1).over(wL))
      .filter(col("s_hi").isNotNull && col("l_hi").isNotNull)
      .select(col(sceneCol), col("li"), col("si"),
        col("line").cast("double").as("l_lo"), col("l_hi").cast("double"),
        col("sample").cast("double").as("s_lo"), col("s_hi").cast("double"),
        col("value").as("v11"), col("v12"), col("v21"), col("v22"))
    def axisOf(c: String): DataFrame =
      intervals(src.select(col(sceneCol), col(c).cast("double").as("pos")).distinct())
    val targets = lookup(targetLines, axisOf("line"), "tl", "li")
      .join(lookup(targetSamples, axisOf("sample"), "tsm", "si"), Seq(sceneCol))
    val wl: Column = (col("tl") - col("l_lo")) / (col("l_hi") - col("l_lo"))
    val ws: Column = (col("tsm") - col("s_lo")) / (col("s_hi") - col("s_lo"))
    targets.join(cells, Seq(sceneCol, "li", "si"))
      .select(col(sceneCol), col("tl").as("line"), col("tsm").as("sample"),
        (col("v11") * (lit(1.0) - wl) * (lit(1.0) - ws) +
         col("v12") * (lit(1.0) - wl) * ws +
         col("v21") * wl * (lit(1.0) - ws) +
         col("v22") * wl * ws).as("value"))
  }
}
