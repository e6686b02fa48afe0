package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.IceCodes
import graft.operators.{Ledger, Masking, Regrid, Tiling}
import graft.plans.DenseMatrixAgg
import graft.sources.{NcClassic, NcSceneCodec}

final case class RoundOut(scenes: Seq[String], kept: Long, sinkBytes: Long,
                          attemptedPatches: Long, maskedPx: Double, regridCells: Double,
                          candidates: Int, alreadyDone: Int)

/** The paper's build step (`build_dataset.py`) over the seeded archive,
  * one arrival round at a time: ledger → scene source → health gate →
  * codes decode → distance mask → AMSR2 regrid → tiling with NaN reject
  * → dense matrices and sample names → parquet store → ledger commit.
  * Every call into a layer sits inside a span named after its module. */
final class SceneChain(spark: SparkSession, tr: Tracer, shape: Shape,
                       archive: File, specs: Seq[SceneSpec], store: String, ledger: String) {
  import spark.implicits._

  private val nArchive = specs.size
  private val keys = Seq("scene", "pi", "pj")
  private val payloadSar = Seq("sar_primary", "sar_secondary")
  val labels: Seq[String] = (0 to 3).map(k => s"r$k")

  /** Scene metadata from each file's header (a bounded prefix read). */
  def metadata(names: Seq[String]): DataFrame = {
    val rows = names.map { n =>
      val f = new File(archive, s"$n.nc")
      val raf = new java.io.RandomAccessFile(f, "r")
      val h = try {
        val prefix = new Array[Byte](math.min(raf.length(), 65536L).toInt)
        raf.readFully(prefix)
        NcClassic.parseHeader(prefix, raf.length()).get
      } finally raf.close()
      def num(a: String): Int = h.gatts.find(_.name == a).get.nums.head.toInt
      val ts = java.sql.Timestamp.from(java.time.Instant.parse(
        h.gatts.find(_.name == "time_coverage_start").get.text))
      (n, ts, num("aoi_upperleft_line"), num("aoi_upperleft_sample"),
        num("aoi_lowerright_line"), num("aoi_lowerright_sample"))
    }
    rows.toDF("scene", "ts", "aoi_ul_line", "aoi_ul_sample", "aoi_lr_line", "aoi_lr_sample")
      .withColumn("width", lit(shape.width)).withColumn("height", lit(shape.height))
  }

  def pixels(names: Seq[String]): DataFrame =
    spark.read.format("graft-scene")
      .option("codec", classOf[NcSceneCodec].getName)
      .option("path", archive.getPath)
      .option("scenes", nArchive)
      .option("height", shape.height).option("width", shape.width)
      .option("bandLines", shape.window / 2)
      .load()
      .filter(col("scene").isin(names: _*))

  /** Per-pixel one-hot labels r0..r3 for `px`: polygon codes parsed from
    * the text beside each file, broadcast-joined on (scene, polygon_id). */
  def decode(px: DataFrame, names: Seq[String]): DataFrame = {
    val raw = spark.read.text(names.map(n => new File(archive, s"${n}_codes.txt").getPath): _*)
      .select(regexp_extract(input_file_name(), "(sc[0-9]+)_codes", 1).as("scene"),
        col("value").as("row"))
    val codes = IceCodes.parsePolygonCodes(raw)
    val encoded = IceCodes.withOneHotBinary(codes,
        col("ct"), col("ca"), col("sa"), col("cb"), col("sb"), col("cc"), col("sc"))
      .select((col("scene") +: col("poly_id").as("polygon_id") +: labels.map(col)): _*)
    px.join(broadcast(encoded), Seq("scene", "polygon_id"))
  }

  /** AMSR2 channels of `names`, read with NcClassic's public reader (the
    * scene source's schema has no AMSR2 columns), stacked as one coarse
    * grid per (scene, channel) in SAR pixel units. */
  private def amsr2(names: Seq[String]): DataFrame = {
    val rows = names.flatMap { n =>
      val raf = new java.io.RandomAccessFile(new File(archive, s"$n.nc"), "r")
      try {
        val prefix = new Array[Byte](math.min(raf.length(), 65536L).toInt)
        raf.readFully(prefix)
        val h = NcClassic.parseHeader(prefix, raf.length()).get
        Archive.Channels.flatMap { ch =>
          val v = h.varNamed(ch).get
          val la = h.dims(v.dimIds(0)).length; val sa = h.dims(v.dimIds(1)).length
          val vals = NcClassic.readFixedSlice(raf, h, v, 0L, la * sa)
          for (i <- 0 until la; j <- 0 until sa) yield
            (s"$n|$ch", (i * shape.amsrNode + shape.amsrNode / 2).toDouble,
              (j * shape.amsrNode + shape.amsrNode / 2).toDouble, vals(i * sa + j))
        }
      } finally raf.close()
    }
    rows.toDF("key", "line", "sample", "value")
  }

  /** Bilinear AMSR2 regrid onto the `amsrStep` target grid, then one
    * dense window2² tile per (scene, patch, channel), pivoted into one
    * column per channel. */
  def amsr2Tiles(names: Seq[String]): (DataFrame, DataFrame) = {
    val src = tr.span("sources")(amsr2(names))
    val keyDf = src.select("key").distinct()
    val tl = Regrid.targetAxis(keyDf, lit(shape.height), shape.amsrStep, sceneCol = "key")
    val ts = Regrid.targetAxis(keyDf, lit(shape.width), shape.amsrStep, sceneCol = "key")
    val half = shape.amsrStep / 2
    val cells = tr.boundary(Regrid.bilinear(src, tl, ts, sceneCol = "key")
      .select(split(col("key"), "\\|").getItem(0).as("scene"),
        split(col("key"), "\\|").getItem(1).as("channel"),
        ((col("line") - half) / shape.amsrStep).cast("int").as("ai"),
        ((col("sample") - half) / shape.amsrStep).cast("int").as("aj"),
        col("value")))
    val tiles = cells
      .groupBy(col("scene"), (col("ai") / shape.window2).cast("int").as("pi"),
        (col("aj") / shape.window2).cast("int").as("pj"), col("channel"))
      .agg(DenseMatrixAgg.dense_matrix(col("ai") % shape.window2, col("aj") % shape.window2,
        col("value"), shape.window2).as("m"))
      .groupBy(keys.map(col): _*).pivot("channel", Archive.Channels).agg(first(col("m")))
    (cells, tiles)
  }

  /** One arrival round over at most `k` new scenes; None once the
    * archive is exhausted. */
  def round(k: Int): Option[RoundOut] = tr.span("round") {
    val candidates = (0 until nArchive).map(i => s"sc$i")
    val (fresh, done) = tr.span("operators.Ledger") {
      val cand = candidates.toDF("scene")
      val led =
        if (new File(ledger).exists()) spark.read.parquet(ledger)
        else Seq.empty[String].toDF("scene")
      val left = Ledger.unprocessed(cand, led, Seq("scene")).as[String].collect()
        .sortBy(_.drop(2).toInt)
      (left.take(k).toSeq, candidates.size - left.length)
    }
    if (fresh.isEmpty) None
    else {
      val (meta, px) = tr.span("sources") {
        (metadata(fresh), tr.boundary(pixels(fresh)))
      }
      val healthyPx = tr.span("operators.Masking") {
        val ok = Masking.healthy(meta, window = shape.window, rmSwath = 0)
        tr.boundary(px.join(broadcast(ok.select("scene")), Seq("scene"), "left_semi"))
      }
      val decoded = tr.span("functions.IceCodes")(tr.boundary(decode(healthyPx, fresh)))
      val (masked, maskedFrac) = tr.span("operators.Masking") {
        val m = tr.boundary(Masking.applyMask(decoded,
          Masking.unionMasks(Masking.distanceMask(col("distance_map"), shape.maskDistance)),
          payloadSar))
        (m, if (tr.traced) {
          val r = m.agg(count(lit(1)), count(when(col("sar_primary").isNull, 1))).head()
          r.getLong(1).toDouble / math.max(1L, r.getLong(0))
        } else 0.0)
      }
      val (amsrCells, amsrTiles) = tr.span("operators.Regrid")(amsr2Tiles(fresh))
      val regridCells = if (tr.traced) amsrCells.count().toDouble else 0.0
      val (tiled, patches) = tr.span("operators.Tiling") {
        val t = Tiling.tumbling(masked, shape.window, lit(shape.height), lit(shape.width))
        (t, tr.boundary(Tiling.aggregatePatches(t, shape.window, payloadSar, Nil)))
      }
      val named = tr.span("plans.DenseMatrixAgg") {
        val dense = (payloadSar ++ labels).map(c => DenseMatrixAgg.dense_matrix(
          col("line") % shape.window, col("sample") % shape.window, col(c), shape.window).as(c))
        val mats = tiled.join(patches, keys).groupBy(keys.map(col): _*)
          .agg(dense.head, dense.tail: _*)
        val n = Tiling.sampleNames(mats.join(amsrTiles, keys))
          .join(broadcast(meta.select("scene", "ts")), "scene")
          .withColumn("id", regexp_extract(col("scene"), "[0-9]+", 0).cast("long") *
            1000000L + col("seq"))
        tr.boundary(n)
      }
      val (kept, bytes) = tr.span("sink") {
        val before = Files.bytesUnder(new File(store))
        val obs = Observation("sink")
        named.observe(obs, count(lit(1)).as("n"))
          .write.mode("append").partitionBy("scene").parquet(store)
        (obs.get("n").asInstanceOf[Long], Files.bytesUnder(new File(store)) - before)
      }
      tr.span("operators.Ledger")(Ledger.commit(fresh.toDF("scene"), ledger))
      tr.releaseBoundaries()
      val healthyN = fresh.count(n => specs(n.drop(2).toInt).healthy)
      Some(RoundOut(fresh, kept, bytes, healthyN.toLong * shape.patchesPerScene,
        maskedFrac, regridCells, candidates.size, done))
    }
  }
}

object Files {
  def bytesUnder(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
}

/** Post-run checks of the scene-build chain. Each returns a failure
  * message, or None when the output is right. */
object SceneChecks {
  /** Kept patches per scene equal the closed form of the coastline. */
  def keptCounts(spark: SparkSession, store: String, specs: Seq[SceneSpec],
                 shape: Shape): Option[String] = {
    import spark.implicits._
    val got = spark.read.parquet(store).groupBy("scene").count()
      .as[(String, Long)].collect().toMap
    val bad = specs.filter(s => got.getOrElse(s.name, 0L) != shape.keptPatches(s))
    if (bad.isEmpty) None
    else Some(s"kept patches differ from the closed form for " +
      bad.take(3).map(s => s"${s.name}: ${got.getOrElse(s.name, 0L)} != ${shape.keptPatches(s)}")
        .mkString(", "))
  }

  /** Sample names are dense `sc<N>_%06d` in (pi, pj) order per scene. */
  def denseNames(spark: SparkSession, store: String): Option[String] = {
    import spark.implicits._
    val rows = spark.read.parquet(store).select("scene", "pi", "pj", "sample_name")
      .as[(String, Int, Int, String)].collect()
    val bad = rows.groupBy(_._1).collect {
      case (sc, rs) if rs.sortBy(r => (r._2, r._3)).map(_._4).toSeq !=
          rs.indices.map(i => f"${sc}_$i%06d") => sc
    }
    if (bad.isEmpty) None else Some(s"sample names not dense in ${bad.mkString(",")}")
  }

  /** The ledger holds exactly the scenes the rounds consumed, once each,
    * and the rest of the archive is still listed as unprocessed. */
  def ledgerExact(spark: SparkSession, ledger: String, consumed: Seq[String],
                  nArchive: Int): Option[String] = {
    import spark.implicits._
    val held = spark.read.parquet(ledger).as[String].collect().toSeq
    val archive = (0 until nArchive).map(i => s"sc$i").toSet
    val left = Ledger.unprocessed(archive.toSeq.toDF("scene"), held.toDF("scene"),
      Seq("scene")).as[String].collect().toSet
    if (held.size != held.toSet.size) Some("ledger holds duplicates")
    else if (held.toSet != consumed.toSet) Some("ledger differs from the consumed scenes")
    else if (left ++ held.toSet != archive || (left intersect held.toSet).nonEmpty)
      Some("ledger plus unprocessed differs from the archive")
    else None
  }

  /** The composition EndToEndSpec pins, on one stored scene: rebuilding
    * `sar_primary` from its stored patches gives the archive's pixels on
    * every kept patch and 0 on every rejected one. */
  def composition(spark: SparkSession, store: String, archive: File, spec: SceneSpec,
                  shape: Shape): Option[String] = {
    import spark.implicits._
    import graft.operators.Reconstruct
    val back = spark.read.parquet(store).filter(col("scene") === spec.name)
    val canvas = Reconstruct.onCanvas(
      Reconstruct.explodePatches(back.select(col("scene"), col("pi"), col("pj"),
        col("sar_primary").as("patch")), shape.window),
      Seq(spec.name).toDF("scene"), lit(shape.height), lit(shape.width))
      .select("line", "sample", "value").as[(Int, Int, Double)].collect()
    val raf = new java.io.RandomAccessFile(new File(archive, s"${spec.name}.nc"), "r")
    val orig = try {
      val prefix = new Array[Byte](math.min(raf.length(), 65536L).toInt)
      raf.readFully(prefix)
      val h = NcClassic.parseHeader(prefix, raf.length()).get
      NcClassic.readFixedSlice(raf, h, h.varNamed("sar_primary").get, 0L,
        shape.height * shape.width)
    } finally raf.close()
    val firstKept = shape.rejectedColumns(spec.coast) * shape.window
    val lastLine = shape.height / shape.window * shape.window
    val wrong = canvas.count { case (l, s, v) =>
      val want = if (s >= firstKept && l < lastLine) orig(l * shape.width + s) else 0.0
      v != want
    }
    if (canvas.length != shape.height * shape.width) Some(s"canvas has ${canvas.length} pixels")
    else if (wrong > 0) Some(s"$wrong reconstructed pixels differ from the archive")
    else None
  }
}
