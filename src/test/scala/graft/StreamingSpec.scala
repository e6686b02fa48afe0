package graft

import java.nio.file.Files
import org.apache.spark.sql.types.{LongType, StructType}
import graft.streaming.IncrementalPipeline

/** §2.10 — incremental-ledger semantics across restarts: each input file
  * is processed exactly once, late arrivals are picked up, an empty pass
  * is a no-op (`/root/reference/asip_v2/archive.py:180-203`,
  * `build_dataset.py:26-34`). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Write `ids` as a single parquet FILE at in/<name>.parquet (the file
    * source lists a flat directory, like the reference's os.listdir). */
  private def writeInputFile(base: String, in: String, name: String,
                             ids: Seq[Long]): Unit = {
    val stage = s"$base/stage_$name"
    ids.toDF("id").coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(java.nio.file.Paths.get(in))
    Files.copy(part.toPath, java.nio.file.Paths.get(s"$in/$name.parquet"))
  }

  test("runOnce processes each file exactly once across restarts") {
    val base = Files.createTempDirectory("graft_stream_test").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val schema = new StructType().add("id", LongType)

    // first input file
    writeInputFile(base, in, "f1", 1L to 5L)
    IncrementalPipeline.runOnce(spark, in, schema, df => df, out, ckpt,
      glob = "*.parquet")
    spark.read.parquet(out).as[Long].collect().sorted shouldBe (1L to 5L)

    // re-run with nothing new: no duplicates (the ledger fast path)
    IncrementalPipeline.runOnce(spark, in, schema, df => df, out, ckpt,
      glob = "*.parquet")
    spark.read.parquet(out).count() shouldBe 5

    // a late-arriving file is picked up, earlier files NOT reprocessed
    writeInputFile(base, in, "f2", 6L to 8L)
    IncrementalPipeline.runOnce(spark, in, schema, df => df, out, ckpt,
      glob = "*.parquet")
    spark.read.parquet(out).as[Long].collect().sorted shouldBe (1L to 8L)
  }

  test("withProvenance records the source file name for the ledger read-back") {
    val base = Files.createTempDirectory("graft_prov_test").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val schema = new StructType().add("id", LongType)
    writeInputFile(base, in, "f1", 1L to 3L)
    IncrementalPipeline.runOnce(spark, in, schema,
      IncrementalPipeline.withProvenance, out, ckpt, glob = "*.parquet")
    val files = IncrementalPipeline.processedFiles(spark, out)
      .as[String].collect()
    files should have size 1
    files.head should endWith(".parquet")
  }

  /** The events table arrives as a single FILE from the driver generator
    * but as a part-file DIRECTORY from any Spark writer (the GenScale
    * sf1 amplifier). Streaming the SF root with glob `events.parquet`
    * matches ZERO files under the directory layout — q35 crashed and
    * q71/q72 silently drained nothing at sf1 until the source pair
    * became layout-aware. */
  test("eventsStreamSource resolves both single-file and directory table layouts") {
    val base = Files.createTempDirectory("graft_layout_test").toString

    // single-file layout: <sf>/events.parquet is a file
    val fileSf = s"$base/file_sf"
    writeInputFile(base, fileSf, "events", 1L to 3L)
    graft.queries.SceneQueries.eventsStreamSource(spark, fileSf) shouldBe
      (fileSf, "events.parquet")

    // directory layout: <sf>/events.parquet is a dir of part files
    val dirSf = s"$base/dir_sf"
    (1L to 3L).toDF("id").write.parquet(s"$dirSf/events.parquet")
    val (root, glob) =
      graft.queries.SceneQueries.eventsStreamSource(spark, dirSf)
    glob shouldBe "*.parquet"
    root should endWith("events.parquet")
    // and the resolved pair actually matches the part files
    val schema = new StructType().add("id", LongType)
    IncrementalPipeline.runOnce(spark, root, schema, df => df,
      s"$base/out2", s"$base/ckpt2", glob = glob)
    spark.read.parquet(s"$base/out2").count() shouldBe 3
  }
}
