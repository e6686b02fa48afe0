package perfbench

import java.io.File

import graft.sources.NcClassic
import graft.sources.NcClassic._

/** The seeded scene archive: one CDF-2 file `sc<N>.nc` per scene in the
  * reference layout (2 SAR bands, `polygon_id` and `distance_map` on the
  * SAR grid, 14 `btemp_*` AMSR2 channels on a coarse grid in the same
  * file) and the polygon-codes text `sc<N>_codes.txt` beside it.
  *
  * Every scene has a vertical coastline at sample `coast`; pixels with
  * `distance_map < Shape.maskDistance` are masked, so a patch column is
  * rejected exactly when it starts left of `coast + maskDistance`. That
  * gives the closed form [[Shape.keptPatches]]. An unhealthy scene has an
  * AOI shorter than one window. */
final case class Shape(height: Int, width: Int, window: Int,
                       amsrNode: Int, amsrStep: Int) {
  // the health gate needs an AOI taller than one window
  require(height > window && width % window == 0, "grid must fit a window with room")
  require(window % amsrStep == 0, "AMSR2 step must divide the window")
  val maskDistance = 20
  /** AMSR2 cells per patch side on the regridded grid (the reference's
    * window2: 256 / 16 = 16). */
  val window2: Int = window / amsrStep
  val patchesPerScene: Int = (height / window) * (width / window)
  val polygonBlock = 64

  def rejectedColumns(coast: Int): Int =
    math.min(width / window, (coast + maskDistance + window - 1) / window)

  def keptPatches(spec: SceneSpec): Int =
    if (!spec.healthy) 0
    else (height / window) * (width / window - rejectedColumns(spec.coast))
}

object Shape {
  val full: Shape = Shape(320, 1024, 256, 32, 16)
  val smoke: Shape = Shape(160, 512, 128, 32, 16)
}

final case class SceneSpec(index: Int, coast: Int, healthy: Boolean,
                           dayOfYear: Int, phase: Double) {
  def name: String = s"sc$index"
}

object Archive {
  val Channels: Seq[String] = Seq("6_9", "7_3", "10_7", "18_7", "23_8", "36_5", "89_0")
    .flatMap(f => Seq(s"btemp_${f}h", s"btemp_${f}v"))

  val Stages: Array[Int] = Array(0, 81, 84, 86, 91, 95, 97, 43, -9)

  /** Scene `index` of the archive of `seed`. The seed places each
    * coastline and date. The index alone decides whether the scene passes
    * the health gate (not scene 3 of every 4), how many patch columns its
    * coast rejects (two for scene 1 of every 5, else one) and whether its
    * date passes the training day filter (not scene 5 of every 6), so
    * every seed asks for the same amount of work. */
  def spec(seed: Long, index: Int, shape: Shape): SceneSpec = {
    val rng = new scala.util.Random(seed * 1000003L + index)
    val rejected = if (index % 5 == 1) 2 else 1
    val lo = math.max(0, (rejected - 1) * shape.window - shape.maskDistance + 1)
    val hi = rejected * shape.window - shape.maskDistance
    val day = if (index % 6 == 5) 300 + rng.nextInt(65) else rng.nextInt(300)
    SceneSpec(index, lo + rng.nextInt(hi - lo + 1), healthy = index % 4 != 3,
      dayOfYear = day, phase = rng.nextDouble() * 6.283)
  }

  def timestamp(s: SceneSpec): String =
    java.time.LocalDate.of(2021, 1, 1).plusDays(s.dayOfYear.toLong) + "T06:00:00Z"

  /** Write scenes `from until to` of the seeded archive into `dir`. */
  def write(dir: File, seed: Long, shape: Shape, from: Int, to: Int): Seq[SceneSpec] = {
    dir.mkdirs()
    (from until to).map { i =>
      val s = spec(seed, i, shape)
      writeScene(dir, seed, s, shape)
      s
    }
  }

  private def writeScene(dir: File, seed: Long, s: SceneSpec, shape: Shape): Unit = {
    val h = shape.height; val w = shape.width
    val ha = h / shape.amsrNode; val wa = w / shape.amsrNode
    def grid(n: Int, m: Int)(f: (Int, Int) => Double): Array[Double] = {
      val a = new Array[Double](n * m)
      var l = 0
      while (l < n) {
        var c = 0
        while (c < m) { a(l * m + c) = f(l, c); c += 1 }
        l += 1
      }
      a
    }
    val blocksPerRow = w / shape.polygonBlock
    val sar = Seq(
      (VarSpec("sar_primary", NcFloat, Seq(0, 1)),
        grid(h, w)((l, c) => math.sin(l * 0.013 + s.phase) * math.cos(c * 0.011) + 2.0)),
      (VarSpec("sar_secondary", NcFloat, Seq(0, 1)),
        grid(h, w)((l, c) => math.cos(l * 0.007) * math.sin(c * 0.019 + s.phase) + 2.0)),
      (VarSpec("polygon_id", NcInt, Seq(0, 1)),
        grid(h, w)((l, c) => ((l / shape.polygonBlock) * blocksPerRow +
          c / shape.polygonBlock + 1).toDouble)),
      (VarSpec("distance_map", NcFloat, Seq(0, 1)),
        grid(h, w)((_, c) => (c - s.coast).toDouble)))
    val amsr = Channels.zipWithIndex.map { case (ch, k) =>
      (VarSpec(ch, NcFloat, Seq(2, 3)),
        grid(ha, wa)((la, sa) =>
          200.0 + 4.0 * k + 5.0 * math.sin(la * 0.3 + k + s.phase) + 3.0 * math.cos(sa * 0.2)))
    }
    val lrLine = if (s.healthy) h - 1 else shape.window - 2
    val gatts = Seq(
      NcAttr("scene", NcChar, 0, s.name, Array.empty),
      NcAttr("time_coverage_start", NcChar, 0, timestamp(s), Array.empty),
      NcAttr("aoi_upperleft_line", NcInt, 1, "", Array(0.0)),
      NcAttr("aoi_upperleft_sample", NcInt, 1, "", Array(0.0)),
      NcAttr("aoi_lowerright_line", NcInt, 1, "", Array(lrLine.toDouble)),
      NcAttr("aoi_lowerright_sample", NcInt, 1, "", Array((w - 1).toDouble)))
    NcClassic.write(new File(dir, s"${s.name}.nc"), 2,
      Seq("line" -> h, "sample" -> w, "line_a" -> ha, "sample_a" -> wa),
      gatts, sar ++ amsr)

    val rng = new scala.util.Random(seed * 7919L + s.index)
    val nPoly = ((h + shape.polygonBlock - 1) / shape.polygonBlock) * blocksPerRow
    val rows = (1 to nPoly).map { id =>
      def conc(): Int = if (rng.nextInt(10) == 0) -9 else rng.nextInt(60)
      def stage(): Int = Stages(rng.nextInt(Stages.length))
      val ct = if (rng.nextInt(6) == 0) rng.nextInt(10) else 10 + rng.nextInt(91)
      Seq(id, ct, conc(), stage(), -9, conc(), stage(), -9, conc(), stage(), -9).mkString(";")
    }
    val txt = ("id;CT;CA;SA;FA;CB;SB;FB;CC;SC;FC" +: rows).mkString("", "\n", "\n")
    java.nio.file.Files.write(new File(dir, s"${s.name}_codes.txt").toPath,
      txt.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
  }
}
