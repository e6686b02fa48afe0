package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{LakeMaintenance, ParquetWrite, TxLog}

/** Round-14 log-lifecycle laws: the PROTOCOL action (Delta's
  * minReader/minWriter feature gate — refuse loudly, never mis-read),
  * MULTI-PART checkpoints (fan-out state write + `ckptParts` manifest,
  * atomic publish, torn-checkpoint refusal), and the CODEGEN'd CHECK
  * constraint predicate (NULL passes inside the compiled wrapper). */
class LakeProtocolSpec extends SparkSpec {
  import spark.implicits._

  private val FileRows = 100

  private def build(nFiles: Int): String = {
    val base = java.nio.file.Files
      .createTempDirectory("graft_proto").toFile.getAbsolutePath
    new java.io.File(s"$base/data").mkdirs()
    val lines = (0 until nFiles).map { f =>
      val rows = (0 until FileRows).map(i => f.toLong * FileRows + i)
      val bytes = ParquetWrite.writeFile(Seq(
        ParquetWrite.LongCol("doc_id", rows.toArray),
        ParquetWrite.StrCol("s", rows.map(i => "s" + (i % 3)).toArray)))
      val p = s"$base/data/part-$f.parquet"
      java.nio.file.Files.write(java.nio.file.Paths.get(p), bytes): Unit
      s"""{"add":{"path":"$p","size":$FileRows""" +
        s""","min_key":${rows.min},"max_key":${rows.max}}}"""
    }
    TxLog.commitVersion(s"$base/log", 0L, lines)
    base
  }

  private def lake(base: String): DataFrame =
    spark.read.format("graft-lake").option("path", base).load()

  test("protocol: a future minReader refuses READS loudly; a future " +
      "minWriter refuses every write path but still reads") {
    val base = build(2)
    // (1, 99): reads fine, every commit-producing operation refuses
    TxLog.commitVersion(s"$base/log", 1L, Seq(
      TxLog.protocolLine(TxLog.Protocol(1, 99))))
    lake(base).count() shouldBe 200L
    val w = intercept[IllegalStateException] {
      Seq((9000L, "zz")).toDF("doc_id", "s").coalesce(1)
        .write.format("graft-lake").option("path", base)
        .mode("append").save()
    }
    w.getMessage should include("refusing to write")
    intercept[IllegalStateException] {
      LakeMaintenance.compact(spark, base, targetRows = 400)
    }.getMessage should include("refusing to write")
    intercept[IllegalStateException] {
      graft.sources.LakeSource.addColumn(base, "v", "long")
    }.getMessage should include("refusing to write")
    intercept[IllegalStateException] {
      LakeMaintenance.merge(spark, base,
        Seq((0L, Array[Any](java.lang.Long.valueOf(0L), "x"))), "doc_id")
    }.getMessage should include("refusing to write")
    // no stray versions landed
    TxLog.commitVersions(s"$base/log") shouldBe Seq(0L, 1L)

    // (99, 99): even reads refuse — planning must never touch a log
    // it cannot understand
    val base2 = build(1)
    TxLog.commitVersion(s"$base2/log", 1L, Seq(
      TxLog.protocolLine(TxLog.Protocol(99, 99))))
    intercept[IllegalStateException] {
      lake(base2).count()
    }.getMessage should include("refusing to read")
    // time travel BEFORE the protocol commit still reads (the fence
    // binds versions that carry it, not history)
    spark.read.format("graft-lake").option("path", base2)
      .option("asOf", 0).load().count() shouldBe 100L
  }

  test("protocol: upgrade commits one action, downgrades reject, and " +
      "the level survives checkpoint fold + log expiry (protoState)") {
    val base = build(2)
    val v = TxLog.upgradeProtocol(s"$base/log", s"$base/ckpt", 1, 1)
    v shouldBe 1L
    TxLog.latestProtocolFast(s"$base/log", s"$base/ckpt", -1L) shouldBe
      Some(TxLog.Protocol(1, 1))
    intercept[IllegalArgumentException] {
      TxLog.upgradeProtocol(s"$base/log", s"$base/ckpt", 0, 1)
    }
    // an upgrade BEYOND the engine's own levels would irreversibly
    // brick the table (downgrades reject) — refuse it (review r14)
    intercept[IllegalArgumentException] {
      TxLog.upgradeProtocol(s"$base/log", s"$base/ckpt", 1, 9)
    }
    // fold through a v2 checkpoint, then expire the protocol commit:
    // the level must survive in the checkpoint's protoState
    Seq((9000L, "zz")).toDF("doc_id", "s").coalesce(1)
      .write.format("graft-lake").option("path", base)
      .mode("append").save()
    TxLog.writeCheckpoint(spark, s"$base/log", s"$base/ckpt", 2L)
    LakeMaintenance.expireLog(base, keepVersions = 0)
      .deletedVersions shouldBe 3
    TxLog.latestProtocolFast(s"$base/log", s"$base/ckpt", -1L) shouldBe
      Some(TxLog.Protocol(1, 1))
    // a tail protocol action WINS over the folded protoState
    TxLog.upgradeProtocol(s"$base/log", s"$base/ckpt", 1, 1): Unit
    TxLog.latestProtocolFast(s"$base/log", s"$base/ckpt", -1L) shouldBe
      Some(TxLog.Protocol(1, 1))
    lake(base).count() shouldBe 201L
  }

  test("multi-part checkpoint: >1 state part + ckptParts manifest, " +
      "resolution bit-identical to single-part, torn checkpoints " +
      "refuse loudly, expiry anchors on it") {
    val base = build(8)
    val single = TxLog
      .resolveLiveLocal(s"$base/log", s"$base/ckpt", -1L).toSet
    TxLog.writeCheckpoint(spark, s"$base/log", s"$base/ckpt", 0L,
      parts = 3)
    val dir = new java.io.File(s"$base/ckpt/version=0")
    val partFiles = dir.listFiles().filter(_.getName.startsWith("part-"))
    partFiles.length should be > 1
    // no temp staging dirs survive the atomic publish
    new java.io.File(s"$base/ckpt").listFiles()
      .count(_.getName.startsWith(".tmp-ckpt")) shouldBe 0
    // both resolvers read the union of parts — bit-identical
    TxLog.resolveLiveLocal(s"$base/log", s"$base/ckpt", -1L)
      .toSet shouldBe single
    TxLog.resolve(spark, s"$base/log", s"$base/ckpt", -1L)
      .state.where(col("is_add")).count() shouldBe 8L
    lake(base).count() shouldBe 800L
    // extras (schema/fence fast paths) live beside the parts
    TxLog.isCheckpointV2(s"$base/ckpt", 0L) shouldBe true
    // expiry anchors on the multi-part checkpoint like any other
    Seq((9000L, "zz")).toDF("doc_id", "s").coalesce(1)
      .write.format("graft-lake").option("path", base)
      .mode("append").save()
    TxLog.writeCheckpoint(spark, s"$base/log", s"$base/ckpt", 1L,
      parts = 2)
    LakeMaintenance.expireLog(base, keepVersions = 1)
      .deletedVersions shouldBe 1
    lake(base).count() shouldBe 801L
    // TORN checkpoint: a missing part must fail resolution loudly,
    // never resolve a partial live set
    val dir1 = new java.io.File(s"$base/ckpt/version=1")
    val victim = dir1.listFiles()
      .filter(_.getName.startsWith("part-")).head
    victim.delete() shouldBe true
    val t = intercept[IllegalStateException] {
      TxLog.resolveLiveLocal(s"$base/log", s"$base/ckpt", -1L)
    }
    t.getMessage should include("incomplete")
  }

  test("codegen'd CHECK predicate: compiled class, NULL passes, " +
      "FALSE rejects — same laws as the interpreted eval") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("v", LongType, nullable = true)))
    val checks = graft.sources.LakeSource.compileChecks(spark, schema,
      Seq(TxLog.Constraint("v_pos", "v >= 0")))
    val p = graft.sources.LakeSource.compiledCheck(checks.head._2)
    // the predicate is Janino-compiled, not interpreted (the r13
    // verdict's #7: Delta codegens its InvariantChecker too)
    p.getClass.getName should include("Generated")
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    p.eval(new GenericInternalRow(
      Array[Any](1L, 5L))) shouldBe true // TRUE passes
    p.eval(new GenericInternalRow(
      Array[Any](1L, null))) shouldBe true // NULL passes (CHECK rule)
    p.eval(new GenericInternalRow(
      Array[Any](1L, -5L))) shouldBe false // FALSE rejects
  }
}
