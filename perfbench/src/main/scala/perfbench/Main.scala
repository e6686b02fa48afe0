package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point; `perfbench/run.py` builds and launches it.
  *
  * {{{
  * perfbench.Main --workload scene-chain|query-mix --seed N
  *   --seconds S --trace 0|1 --root DIR --testdata DIR --cores N
  *   --size full|smoke --out FILE
  * perfbench.Main --oracle-sql FILE
  * }}}
  *
  * Writes one JSON object to `--out`: the run's end-to-end figures, the
  * per-layer figures of a traced run, the output checks, the operation
  * counts and (traced) the spans with their self times. */
object Main {
  private val startNs = System.nanoTime()
  /** Seconds since the JVM entered the benchmark: a workload's set-up
    * time is this, read when its timed region starts. */
  def sinceStart(): Double = (System.nanoTime() - startNs) / 1e9

  /** Progress line on stderr, stamped with [[sinceStart]]. */
  def mark(what: String): Unit = System.err.println(f"[perfbench] ${sinceStart()}%7.2f s $what")

  var spans: Seq[Span] = Nil
  var selfTimes: Map[String, (Double, Double)] = Map.empty

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opt.get("oracle-sql") match {
      case Some(path) =>
        write(new File(path), Json.obj(QueryMix.oracleSql.map { case (k, v) => k -> Json.str(v) }))
      case None => run(opt)
    }
  }

  private def run(opt: Map[String, String]): Unit = {
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val root = new File(opt("root"))
    val cores = opt("cores").toInt
    val smoke = opt.get("size").contains("smoke")
    require(Runtime.getRuntime.availableProcessors() == cores,
      s"run pinned to $cores cores, JVM sees ${Runtime.getRuntime.availableProcessors()}")

    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(root, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new Meter(spark)
    mark("session ready")
    val shape = if (smoke) Shape.smoke else Shape.full
    val work = new File(root, "work")
    val out = workload match {
      case "scene-chain" =>
        new SceneChainRun(spark, meter, work, seed, shape, warmScenes = 2,
          perRound = if (smoke) 1 else 2, rounds = 2).run(seconds, traced)
      case "query-mix" =>
        new QueryMix(spark, meter, work, seed, opt("testdata"),
          if (smoke) QueryMix.SmokeQueries else QueryMix.Queries).run(traced)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    mark("done")
    val appId = spark.sparkContext.applicationId
    spark.stop()

    def nums(m: Map[String, Double]) = Json.obj(m.map { case (k, v) => k -> Json.num(v) })
    val layers = if (traced) Workloads.layerNames.map(n => n -> 0.0).toMap ++ out.layers
      else Map.empty[String, Double]
    write(new File(opt("out")), Json.obj(Seq(
      "workload" -> Json.str(workload),
      "app_id" -> Json.str(appId),
      "e2e" -> nums(out.e2e),
      "layers" -> nums(layers),
      "report" -> nums(out.report),
      "ops" -> Json.num(out.ops),
      "failed_ops" -> Json.num(out.failedOps),
      "checks" -> Json.arr(out.checks.map { case (name, err) =>
        Json.obj(Seq("name" -> Json.str(name), "ok" -> (if (err.isEmpty) "true" else "false"),
          "detail" -> Json.str(err.getOrElse(""))))
      }),
      "extra" -> Json.obj(out.extra.map { case (k, v) => k -> Json.str(v) }),
      "self_times" -> Json.obj(selfTimes.toSeq.sortBy(_._1).map { case (n, (tot, self)) =>
        n -> Json.obj(Seq("total_s" -> Json.num(tot), "self_s" -> Json.num(self)))
      }),
      "spans" -> Json.arr(spans.map(s => Json.obj(Seq(
        "id" -> Json.num(s.id), "name" -> Json.str(s.name), "parent" -> Json.num(s.parent),
        "run" -> Json.str(s.runId), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString)))))))
  }

  private def write(f: File, text: String): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(text) finally w.close()
  }
}

/** The little JSON the result file needs: values arrive pre-rendered. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}
