package perfbench

import java.io.File

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, MLFeed, Reconstruct, SuffixArray}

/** What one workload run hands back to [[Main]]. `e2e` holds the
  * untraced end-to-end figures; `layers` the traced per-layer ones;
  * `report` the workload's own named figures for the human report. */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
                         report: Map[String, Double], ops: Int, failedOps: Int,
                         checks: Seq[(String, Option[String])],
                         extra: Map[String, String] = Map.empty)

/** One train-then-apply pass: the split, each epoch's (batch, sample
  * ids), and the walls of both halves. */
final case class Cycle(nFiltered: Long, trainIds: Set[Long], validIds: Set[Long],
                       epochs: Seq[Seq[(Long, Seq[Long])]], delivered: Long,
                       trainS: Double, applyS: Double, validScenes: Seq[String])

object Workloads {
  /** Every per-layer metric; a run reports 0 for layers it does not run. */
  def layerNames: Seq[String] = Seq(
    "sources.scan_s", "sources.bytes_read", "sources.partitions",
    "icecodes.decode_s", "masking.s", "masking.masked_px_frac",
    "regrid.s", "regrid.cells", "tiling.s", "tiling.keep_ratio", "dense.s",
    "sink.s", "sink.bytes", "ledger.s", "ledger.skip_ratio",
    "mlfeed.split_s", "mlfeed.batch_s", "mlfeed.assemble_s", "mlfeed.rows_ranked",
    "reconstruct.s", "reconstruct.canvas_px") ++
    QueryMix.Queries.flatMap(q => Seq(s"query.$q.wall_s", s"query.$q.jobs")) ++
    Seq("spark.jobs", "spark.tasks", "spark.job_wall_s", "spark.driver_s",
      "spark.catalyst_s", "spark.codegen_s", "spark.shuffle_write_bytes",
      "spark.spill_bytes", "spark.gc_s", "trace.overhead_s", "trace.overhead_frac") ++
    SceneChainRun.Figures ++ Seq("mix_wall_s")
}

/** Wall of `body` in seconds, with its result. */
object Timed {
  def apply[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** The figures of one timed unit of the scene chain. */
final case class ChainUnit(rounds: Seq[RoundOut], roundWalls: Seq[Double], cycle: Option[Cycle],
                           failedOps: Int, heapPeakMb: Double, engine: Map[String, Double]) {
  def buildS: Double = roundWalls.sum
  def wall: Double = buildS + cycle.map(c => c.trainS + c.applyS).getOrElse(0.0)
}

/** `scene-chain`: the paper's build → train → apply chain.
  *
  * Set-up writes the seeded archive and builds the base of the sample
  * store from its first `warmScenes` scenes in one round, which also
  * warms the JIT, codegen and first plans. The timed unit is `rounds`
  * arrival rounds of `perRound` new scenes each, appending to that store,
  * then 4 train epochs and one reconstruction over the whole store. The
  * unit is fixed work, so `--seconds` is a floor it is sized to exceed. A
  * traced run repeats the unit on an identical archive with every layer
  * boundary materialized. */
final class SceneChainRun(spark: SparkSession, meter: Meter, root: File, seed: Long,
                          shape: Shape, warmScenes: Int, perRound: Int, rounds: Int) {
  import spark.implicits._

  val Epochs = 4
  val BatchSize = 4
  val TrainFraction = 0.8
  val Days: (Int, Int) = (0, 299)

  private final class Dirs(base: File) {
    val archive = new File(base, "archive")
    val store: String = new File(base, "store").getPath
    val ledger: String = new File(base, "ledger").getPath
    val recon: String = new File(base, "reconstructed").getPath
  }

  /** Write the archive and build the store's base from its first
    * `warmScenes` scenes; the returned chain records into `tr`. */
  private def prepare(tr: Tracer, d: Dirs): (SceneChain, Seq[SceneSpec]) = {
    val specs = Archive.write(d.archive, seed, shape, 0, warmScenes + perRound * rounds)
    Main.mark("archive written")
    val plain = new Tracer(spark, traced = false, tr.runId)
    new SceneChain(spark, plain, shape, d.archive, specs, d.store, d.ledger).round(warmScenes)
    (new SceneChain(spark, tr, shape, d.archive, specs, d.store, d.ledger), specs)
  }

  /** The timed unit. Op walls and engine figures exclude the GC that
    * samples the live heap between ops. */
  private def unit(tr: Tracer, chain: SceneChain, d: Dirs): ChainUnit = {
    var failed = 0
    var heap = 0.0
    var engine = Map.empty[String, Double]
    def op[T](body: => T): Option[(T, Double)] = {
      val before = meter.snap()
      val r = try Some(Timed(body)) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] operation failed: $e")
          failed += 1
          None
      }
      engine = Meter.sum(engine, Meter.delta(before, meter.snap()))
      heap = math.max(heap, Meter.liveOldGenMb())
      r
    }
    val built = (0 until rounds).flatMap(_ => op(chain.round(perRound)))
      .collect { case (Some(r), t) => (r, t) }
    val cyc = op(cycle(tr, d.store, d.recon, Epochs)).map(_._1)
    if (cyc.isEmpty) failed += Epochs
    ChainUnit(built.map(_._1), built.map(_._2), cyc, failed, heap, engine)
  }

  def run(seconds: Double, traced: Boolean): Outcome = {
    val plain = new Tracer(spark, traced = false, s"scene-chain-$seed")
    val d = new Dirs(new File(root, "unit"))
    val (chain, specs) = prepare(plain, d)
    val setupS = Main.sinceStart()
    Main.mark("set-up done")

    val cpu0 = Meter.cpuS()
    val u = unit(plain, chain, d)
    val unitCpu = Meter.cpuS() - cpu0
    Main.mark("timed unit done")
    if (u.wall < seconds)
      System.err.println(f"[perfbench] unit took ${u.wall}%.1f s, under the ${seconds}%.0f s asked")

    val checks = Seq(
      "kept patches match the coastline closed form" ->
        SceneChecks.keptCounts(spark, d.store, specs, shape),
      "sample names are dense" -> SceneChecks.denseNames(spark, d.store),
      "ledger holds exactly the archive" ->
        SceneChecks.ledgerExact(spark, d.ledger, specs.map(_.name), specs.size),
      "stored patches rebuild the archive pixels" ->
        specs.find(s => shape.keptPatches(s) > 0).flatMap(s =>
          SceneChecks.composition(spark, d.store, d.archive, s, shape))) ++
      u.cycle.toSeq.flatMap(c => Seq(
        "train split holds floor(p*n) samples" -> splitCheck(c, d.store),
        "each epoch serves floor(n_train/4) batches, each sample once" -> epochCheck(c),
        "reconstructed argmax equals the decoded class" ->
          reconstructCheck(c, chain, d.store, d.recon)))

    Main.mark("checks done")
    val kept = u.rounds.map(_.kept).sum
    val storeBytes = u.rounds.map(_.sinkBytes).sum
    val figures = Map(
      "build_scenes_per_s" -> u.rounds.map(_.scenes.size).sum / u.buildS,
      "build_patches_per_s" -> kept / u.buildS,
      "store_bytes_per_patch" -> storeBytes.toDouble / math.max(1L, kept),
      "train_samples_per_s" -> u.cycle.map(c => c.delivered / c.trainS).getOrElse(0.0),
      "apply_scenes_per_s" -> u.cycle.map(c => c.validScenes.size / c.applyS).getOrElse(0.0))

    var tracedFailures = 0
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val tr = new Tracer(spark, traced = true, s"scene-chain-$seed-traced")
        val td = new Dirs(new File(root, "traced"))
        val (tchain, _) = prepare(tr, td)
        val tu = unit(tr, tchain, td)
        tracedFailures = tu.failedOps
        Main.spans = tr.all
        Main.selfTimes = tr.selfTimes
        def st(name: String) = tr.selfTimes.get(name).map(_._2).getOrElse(0.0)
        val scenesIn = tu.rounds.flatMap(_.scenes)
        val n = tu.rounds.size.max(1)
        u.engine ++ figures ++ Map(
          "sources.scan_s" -> st("sources"),
          "sources.bytes_read" -> scenesIn.map(s => new File(td.archive, s"$s.nc").length() +
            new File(td.archive, s"${s}_codes.txt").length()).sum.toDouble,
          "sources.partitions" -> tchain.pixels(scenesIn).rdd.getNumPartitions.toDouble,
          "icecodes.decode_s" -> st("functions.IceCodes"),
          "masking.s" -> st("operators.Masking"),
          "masking.masked_px_frac" -> tu.rounds.map(_.maskedPx).sum / n,
          "regrid.s" -> st("operators.Regrid"),
          "regrid.cells" -> tu.rounds.map(_.regridCells).sum,
          "tiling.s" -> st("operators.Tiling"),
          "tiling.keep_ratio" -> tu.rounds.map(_.kept).sum.toDouble /
            math.max(1L, tu.rounds.map(_.attemptedPatches).sum),
          "dense.s" -> st("plans.DenseMatrixAgg"),
          "sink.s" -> st("sink"),
          "sink.bytes" -> tu.rounds.map(_.sinkBytes).sum.toDouble,
          "ledger.s" -> st("operators.Ledger"),
          "ledger.skip_ratio" -> tu.rounds.map(r => r.alreadyDone.toDouble / r.candidates).sum / n,
          "mlfeed.split_s" -> st("operators.MLFeed.split"),
          "mlfeed.batch_s" -> st("operators.MLFeed.batch"),
          "mlfeed.assemble_s" -> st("operators.MLFeed.assemble"),
          "mlfeed.rows_ranked" -> tu.cycle.map(c => c.nFiltered + Epochs * c.trainIds.size)
            .getOrElse(0L).toDouble,
          "reconstruct.s" -> st("operators.Reconstruct"),
          "reconstruct.canvas_px" -> tu.cycle.map(_.validScenes.size.toDouble *
            shape.height * shape.width).getOrElse(0.0),
          "trace.overhead_s" -> (tu.wall - u.wall),
          "trace.overhead_frac" -> (tu.wall - u.wall) / u.wall)
      }

    Outcome(
      e2e = Map("setup_s" -> setupS, "unit_s" -> u.wall, "heap_live_peak_mb" -> u.heapPeakMb),
      layers = layers,
      report = figures ++ Map("build_s" -> u.buildS, "unit_cpu_s" -> unitCpu,
        "train_s" -> u.cycle.map(_.trainS).getOrElse(0.0),
        "apply_s" -> u.cycle.map(_.applyS).getOrElse(0.0)),
      ops = (rounds + Epochs + 1) * (if (traced) 2 else 1),
      failedOps = u.failedOps + tracedFailures,
      checks = checks)
  }

  private val payload: Seq[String] =
    Seq("sar_primary", "sar_secondary", "r0", "r1", "r2", "r3") ++ Archive.Channels

  /** Argmax over the four label matrices, first maximum on ties. */
  private def argmaxCube: Column =
    transform(col("r0"), (row, i) => transform(row, (v0, j) => {
      val v1 = col("r1")(i)(j); val v2 = col("r2")(i)(j); val v3 = col("r3")(i)(j)
      when(v0 >= v1 && v0 >= v2 && v0 >= v3, 0.0)
        .when(v1 >= v2 && v1 >= v3, 1.0).when(v2 >= v3, 2.0).otherwise(3.0)
    }))

  private def cycle(tr: Tracer, store: String, recon: String, epochs: Int): Cycle = {
    val samples = spark.read.parquet(store)
    val t0 = System.nanoTime()
    val ids = tr.span("operators.MLFeed.split") {
      MLFeed.exactSplit(MLFeed.dayOfYearFilter(samples.select("id", "ts"), "ts", Days._1, Days._2),
          Seq(MLFeed.permuteKey(col("id"))), TrainFraction, keyDomain = Some(MLFeed.PermuteKeyDomain))
        .select("id", "split").as[(Long, String)].collect()
    }
    val trainIds = ids.collect { case (i, "train") => i }.toSet
    val validIds = ids.collect { case (i, "valid") => i }.toSet
    val train = samples.join(broadcast(trainIds.toSeq.toDF("id")), "id")
    val served = (0 until epochs).map { e =>
      val key = MLFeed.epochShuffleKey(col("id"), e)
      val batched = tr.span("operators.MLFeed.batch") {
        tr.boundary(MLFeed.batchIds(train, Seq(key), BatchSize,
          keyDomain = Some(MLFeed.PermuteKeyDomain)))
      }
      val batches = tr.span("operators.MLFeed.assemble") {
        // the collected probe reads one cell of every payload matrix, so
        // no column of the assembled batch can be pruned away
        MLFeed.assembleBatches(batched, key, payload :+ "id")
          .select(col("batch_id"), transform(col("samples"), s => s("id")).as("ids"),
            aggregate(col("samples"), lit(0.0), (acc, s) => acc + payload.map(c => s(c)(0)(0))
              .reduce(_ + _)).as("probe"))
          .as[(Long, Seq[Long], Double)].collect().toSeq.map(b => (b._1, b._2))
      }
      tr.releaseBoundaries()
      batches
    }
    val t1 = System.nanoTime()
    // sample ids are scene * 10^6 + seq (see SceneChain.round)
    val validScenes = validIds.map(id => s"sc${id / 1000000L}").toSeq.sorted
    if (validScenes.nonEmpty) tr.span("operators.Reconstruct") {
      val valid = samples.join(broadcast(validIds.toSeq.toDF("id")), "id")
      val px = tr.boundary(Reconstruct.explodePatches(
        valid.select(col("scene"), col("pi"), col("pj"), argmaxCube.as("patch")), shape.window))
      Reconstruct.onCanvas(px, validScenes.toDF("scene"), lit(shape.height), lit(shape.width))
        .write.mode("overwrite").partitionBy("scene").parquet(recon)
      tr.releaseBoundaries()
    }
    val t2 = System.nanoTime()
    Cycle(ids.length.toLong, trainIds, validIds, served, served.map(_.map(_._2.size).sum).sum,
      (t1 - t0) / 1e9, (t2 - t1) / 1e9, validScenes)
  }

  private def splitCheck(c: Cycle, store: String): Option[String] = {
    val ts = spark.read.parquet(store).select("id", "ts").as[(Long, java.sql.Timestamp)].collect()
    val n = ts.count { case (_, t) =>
      val d = t.toInstant.atZone(java.time.ZoneOffset.UTC).getDayOfYear - 1
      d >= Days._1 && d <= Days._2
    }
    val want = math.floor(n * TrainFraction).toLong
    if (c.nFiltered != n) Some(s"day filter kept ${c.nFiltered}, want $n")
    else if (c.trainIds.size != want) Some(s"train split holds ${c.trainIds.size}, want $want")
    else None
  }

  private def epochCheck(c: Cycle): Option[String] = {
    val wantBatches = c.trainIds.size / BatchSize
    c.epochs.zipWithIndex.collectFirst {
      case (b, e) if b.size != wantBatches => s"epoch $e has ${b.size} batches, want $wantBatches"
      case (b, e) if b.exists(_._2.size != BatchSize) => s"epoch $e has a ragged batch"
      case (b, e) if b.flatMap(_._2).distinct.size != b.flatMap(_._2).size =>
        s"epoch $e serves a sample twice"
      case (b, e) if !b.flatMap(_._2).forall(c.trainIds) => s"epoch $e serves a non-train sample"
    }
  }

  /** On every validation scene: the reconstructed class equals the
    * argmax of the decoded labels on pixels of validation patches and is
    * 0 elsewhere. */
  private def reconstructCheck(c: Cycle, chain: SceneChain, store: String,
                               recon: String): Option[String] = {
    val scenes = c.validScenes
    val decoded = chain.decode(chain.pixels(scenes), scenes)
      .select(col("scene"), col("line"), col("sample"),
        when(col("r0") >= col("r1") && col("r0") >= col("r2") && col("r0") >= col("r3"), 0.0)
          .when(col("r1") >= col("r2") && col("r1") >= col("r3"), 1.0)
          .when(col("r2") >= col("r3"), 2.0).otherwise(3.0).as("cls"),
        (col("line") / shape.window).cast("int").as("pi"),
        (col("sample") / shape.window).cast("int").as("pj"))
    val covered = spark.read.parquet(store)
      .join(broadcast(c.validIds.toSeq.toDF("id")), "id")
      .select(col("scene"), col("pi"), col("pj"), lit(true).as("covered"))
    val want = decoded.join(broadcast(covered), Seq("scene", "pi", "pj"), "left")
      .select(col("scene"), col("line"), col("sample"),
        when(col("covered"), col("cls")).otherwise(0.0).as("want"))
    val got = spark.read.parquet(recon)
    val r = got.join(want, Seq("scene", "line", "sample"), "full_outer")
      .agg(count(lit(1)).as("n"),
        count(when(col("value").isNull || col("want").isNull || col("value") =!= col("want"), 1))
          .as("bad")).head()
    val n = r.getLong(0); val bad = r.getLong(1)
    if (n != scenes.size.toLong * shape.height * shape.width) Some(s"canvas has $n pixels")
    else if (bad > 0) Some(s"$bad reconstructed pixels differ from the decoded class")
    else None
  }
}

object SceneChainRun {
  /** The chain's own figures, measured on the untraced unit. */
  val Figures: Seq[String] = Seq("build_scenes_per_s", "build_patches_per_s",
    "store_bytes_per_patch", "train_samples_per_s", "apply_scenes_per_s")
}

/** `query-mix`: ten registry queries, once each per process, in a fixed
  * order, after the generic warm-up. Each result is written as parquet
  * for the oracle check. */
final class QueryMix(spark: SparkSession, meter: Meter, root: File, seed: Long,
                     testdata: String, queries: Seq[String]) {

  def run(traced: Boolean): Outcome = {
    QueryMix.warmUp(spark, testdata)
    Main.mark("warm-up done")
    val setupS = Main.sinceStart()
    // A fixed order: with a seeded order the mix's wall and live-heap peak
    // moved with the order (IQR/median 11% and 12% over ten seeds), since
    // the first queries after warm-up pay the JIT and the prepared fixtures
    // stay live. The inputs are the fixed testdata, so the seed changes
    // nothing here.
    val order = queries
    val out = new File(root, "queries")
    val tr = new Tracer(spark, traced = false, s"query-mix-$seed")
    val registry = graft.SparkEntry.queries
    val prepare = graft.SparkEntry.prepare
    var failed = 0
    var heapPeak = 0.0
    val per = order.zipWithIndex.map { case (name, i) =>
      // untimed, as in the registry sweep: fixture preparation, memo
      // release (no query may reuse another's memoized artifact) and GC;
      // the live heap is sampled before every third query and at the end
      prepare.get(name).foreach(_(spark, testdata))
      SuffixArray.releaseSuffixArrays(spark)
      Dedup.releasePostingIndexes(spark)
      if (i > 0 && i % 3 == 0) heapPeak = math.max(heapPeak, Meter.liveOldGenMb())
      else System.gc()
      spark.sparkContext.setJobDescription(name)
      val a = meter.snap()
      val ok =
        try {
          tr.span(s"queries.$name") {
            registry(name)(spark, testdata).write.mode("overwrite")
              .parquet(new File(out, name).getPath)
          }
          true
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] $name failed: $e"); failed += 1; false
        }
      val d = Meter.delta(a, meter.snap())
      spark.sparkContext.setJobDescription(null)
      (name, tr.seconds(s"queries.$name"), d, ok)
    }
    heapPeak = math.max(heapPeak, Meter.liveOldGenMb())
    val engine = per.map(_._3).reduce(Meter.sum)
    val wall = per.map(_._2).sum
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        Main.spans = tr.all
        Main.selfTimes = tr.selfTimes
        // spans sit only at query boundaries and the listener runs in both
        // modes, so the traced run is the untraced run
        engine ++ per.flatMap { case (n, t, d, _) =>
          Seq(s"query.$n.wall_s" -> t, s"query.$n.jobs" -> d("spark.jobs"))
        } ++ Map("mix_wall_s" -> wall, "trace.overhead_s" -> 0.0, "trace.overhead_frac" -> 0.0)
      }
    Outcome(
      e2e = Map("setup_s" -> setupS, "unit_s" -> wall, "heap_live_peak_mb" -> heapPeak),
      layers = layers,
      report = Map("mix_wall_s" -> wall) ++
        per.map { case (n, t, _, _) => s"$n.wall_s" -> t } ++
        per.map { case (n, _, d, _) => s"$n.jobs" -> d("spark.jobs") },
      ops = per.size, failedOps = failed, checks = Nil,
      extra = Map("query_outputs" -> out.getPath))
  }
}

object QueryMix {
  val Queries: Seq[String] = Seq(
    "q263_lake_merge_distributed", "q195_host_pagerank", "q171_suffix_array",
    "q199_bytes_to_shards", "q167_curation_flagship", "q157_bpe_train",
    "q47_dedup_clusters", "q93_semantic_dedup", "q214_lakehouse_scan", "q230_lake_merge")
  /** The two cheapest, for the smoke size. */
  val SmokeQueries: Seq[String] = Seq("q157_bpe_train", "q214_lakehouse_scan")

  /** The registry sweep's generic warm-up: touch every table of `dir`,
    * then one scan → broadcast join → window → decimal aggregate → sink
    * chain over lineitem. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    new File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted.foreach(t =>
      spark.read.parquet(t).write.format("noop").mode("overwrite").save())
    val li = spark.read.parquet(s"$dir/lineitem.parquet").limit(50000)
    val dim = spark.range(10).select(col("id").as("k"), (col("id") * 2).as("v"))
    li.select(col("l_returnflag"), col("l_orderkey"), col("l_quantity"),
        (col("l_orderkey") % 10).as("k"))
      .join(broadcast(dim), Seq("k"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("l_returnflag")).orderBy(col("l_orderkey"))))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("dq"),
        sum(col("l_quantity")).as("q"), max(col("rk")).as("m"), count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
  }

  /** Oracle SQL of the ten queries, for the benchmark's oracle builder. */
  def oracleSql: Map[String, String] = graft.SparkEntry.oracleSql.filter(q => Queries.contains(q._1))
}


