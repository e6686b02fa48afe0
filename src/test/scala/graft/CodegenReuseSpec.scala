package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import graft.operators.{MLFeed, Regrid}

/** Codegen-reuse laws: an operator run again on new data of the same
  * shape, or at a new epoch, finds every generated class in Spark's
  * codegen cache and compiles nothing. Values that change per call stay
  * out of generated source.
  *
  * For the duration, stage ids stay out of class names (they differ
  * between any two plans). Most laws also turn adaptive execution off:
  * AQE re-plans from runtime statistics and stage completion order, so
  * which operators share one generated class can differ between two
  * runs of the same plan, which says nothing about the source Catalyst
  * generates. The global rank's epoch law also runs with AQE on: its
  * offsets are one keyless aggregate, one stage whatever AQE's order. */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def withStablePlans(body: => Unit): Unit =
    withConfs(Seq("spark.sql.codegen.useIdInClassName" -> "false",
      "spark.sql.adaptive.enabled" -> "false"))(body)

  private def withConfs(confs: Seq[(String, String)])(body: => Unit): Unit = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("Regrid.bilinear on disjoint scenes of the same shape compiles nothing new") {
    def run(prefix: String): Unit = {
      val scenes = Seq(s"${prefix}0", s"${prefix}1")
      val src = (for (sc <- scenes; l <- 0 until 4; s <- 0 until 6)
        yield (sc, l * 16.0 + 8, s * 16.0 + 8, (l * 31 + s + sc.last) * 0.5))
        .toDF("scene", "line", "sample", "value")
      val keys = scenes.toDF("scene")
      Regrid.bilinear(src, Regrid.targetAxis(keys, lit(64), 4),
        Regrid.targetAxis(keys, lit(96), 4)).collect()
    }
    withStablePlans {
      run("a")
      compiles(run("b")) shouldBe 0L
    }
  }

  private def batchIdsEpoch(epoch: Int): Unit =
    MLFeed.batchIds(spark.range(0, 200).toDF("id"),
      Seq(MLFeed.epochShuffleKey(col("id"), epoch)), 8,
      keyDomain = Some(MLFeed.PermuteKeyDomain)).collect()

  test("MLFeed.batchIds at epoch 1 after epoch 0 compiles nothing new") {
    withStablePlans {
      batchIdsEpoch(0)
      compiles(batchIdsEpoch(1)) shouldBe 0L
    }
  }

  test("MLFeed.batchIds at epoch 1 after epoch 0 compiles nothing new, with AQE on") {
    withConfs(Seq("spark.sql.codegen.useIdInClassName" -> "false",
        "spark.sql.adaptive.enabled" -> "true")) {
      batchIdsEpoch(0)
      compiles(batchIdsEpoch(1)) shouldBe 0L
    }
  }
}
