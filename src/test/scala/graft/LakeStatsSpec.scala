package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{LakeMaintenance, TxLog}

/** Round-14 general data skipping + deletion vectors.
  *
  * Per-column stats laws: every write path (append, compact, z-order,
  * merge) measures min/max/nullCount for the leading columns; file
  * pruning then works for predicates on ANY stat-carrying column —
  * non-key longs, doubles, second strings — not just the statsCol;
  * an all-null column prunes comparisons outright; stats survive
  * checkpoint fold and maintenance rewrites.
  *
  * Deletion-vector laws: a small delete through MERGE writes a
  * sidecar instead of rewriting the file (merge-on-read); readers
  * apply it map-side; COUNT(*) pushdown subtracts it and MIN/MAX
  * pushdown declines; the change feed stays row-exact; compaction
  * materializes it away; vacuum retains it while referenced. */
class LakeStatsSpec extends SparkSpec {
  import spark.implicits._

  /** A lake table of `nBatches` single-file appends, each with a
    * tight window on v (non-key long), d (double), s2 (string). */
  private def build(nBatches: Int, rowsPer: Int = 100): String = {
    val base = java.nio.file.Files
      .createTempDirectory("graft_cstats").toFile.getAbsolutePath
    new java.io.File(s"$base/data").mkdirs()
    // bootstrap: the schema action (the catalog's CREATE TABLE shape)
    TxLog.commitVersion(s"$base/log", 0L, Seq(
      TxLog.metaDataLine(Seq(
        TxLog.MetaCol("doc_id", "long", nullable = false),
        TxLog.MetaCol("v", "long", nullable = true),
        TxLog.MetaCol("d", "double", nullable = true),
        TxLog.MetaCol("s2", "string", nullable = true))),
      TxLog.commitInfoLine("CREATE TABLE")))
    (0 until nBatches).foreach { b =>
      val rows = (0 until rowsPer).map { i =>
        val id = b.toLong * rowsPer + i
        (id, id * 10L, id * 0.5, f"g${b}%03d-$i%04d")
      }
      rows.toDF("doc_id", "v", "d", "s2").coalesce(1)
        .write.format("graft-lake").option("path", base)
        .mode("append").save()
    }
    base
  }

  private def lake(base: String): DataFrame =
    spark.read.format("graft-lake").option("path", base).load()

  private def nParts(df: DataFrame): Int = df.rdd.getNumPartitions

  test("per-column stats: predicates on a non-key long, a double and " +
      "a second string column each SKIP files (plan partitions < " +
      "files), results exact") {
    val base = build(8)
    val live = TxLog.resolveLiveLocal(s"$base/log", s"$base/ckpt", -1L)
    live.size shouldBe 8
    live.foreach(f => f.cstats.size shouldBe 4) // all four columns
    // non-key long: only batch 2 holds v in [2000, 2990]
    nParts(lake(base).where(col("v") >= 2000L && col("v") < 3000L))
      .shouldBe(1)
    lake(base).where(col("v") >= 2000L && col("v") < 3000L)
      .count() shouldBe 100L
    // double: batch 5 holds d in [250, 299.5]
    nParts(lake(base).where(col("d") >= 250.0 && col("d") < 300.0))
      .shouldBe(1)
    lake(base).where(col("d") >= 250.0 && col("d") < 300.0)
      .count() shouldBe 100L
    // string: the g003 prefix lives in batch 3 alone
    nParts(lake(base).where(col("s2") >= "g003" && col("s2") < "g004"))
      .shouldBe(1)
    lake(base).where(col("s2") >= "g003" && col("s2") < "g004")
      .count() shouldBe 100L
    // equality + IN
    nParts(lake(base).where(col("v") === 1230L)) shouldBe 1
    nParts(lake(base).where(col("s2").isin("g006-0001"))) shouldBe 1
    // an unpruned scan still reads everything
    lake(base).count() shouldBe 800L
  }

  test("r15 SupportsReportStatistics: the planner sees exact row " +
      "counts, a small lake table broadcast-joins at PLAN time (AQE " +
      "off), and pruning shrinks the estimate") {
    val base = build(8)
    import org.apache.spark.sql.functions.col
    // the optimizer's view: logical stats come from the scan
    def planStats(df: DataFrame): BigInt =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    val full = planStats(lake(base))
    val pruned = planStats(lake(base).where(col("v") < 100L))
    assert(full > pruned,
      s"pruning must shrink the estimate (full=$full pruned=$pruned)")
    val narrow = planStats(lake(base).select(col("doc_id")))
    assert(narrow < full, "column pruning must shrink the estimate")
    // exact row count reaches the planner
    lake(base).queryExecution.optimizedPlan.stats.rowCount
      .foreach(_.toLong shouldBe 800L)
    // plan-time broadcast WITHOUT AQE: a big probe frame joins the
    // small lake dim -> BroadcastHashJoin in the initial plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probe = spark.range(0, 200000)
        .select((col("id") % 800L).as("doc_id"), col("id").as("x"))
      val j = probe.join(lake(base).select(col("doc_id"), col("v")),
        Seq("doc_id"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"expected a plan-time broadcast join, got:\n$plan")
      j.agg(org.apache.spark.sql.functions.sum(col("v"))).head()
        .getLong(0) shouldBe
        (0L until 800L).map(i => i * 10L * 250L).sum
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    // a change-feed scan reports NOTHING (live sizes describe live
    // rows, not change rows): statistics must stay unknown-safe
    // (cdfFrom batch reads still work; covered by q245)
  }

  test("all-null column: window-absent stat prunes comparisons; " +
      "stats survive the CHECKPOINT fold") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_cnull").toFile.getAbsolutePath
    new java.io.File(s"$base/data").mkdirs()
    TxLog.commitVersion(s"$base/log", 0L, Seq(
      TxLog.metaDataLine(Seq(
        TxLog.MetaCol("doc_id", "long", nullable = false),
        TxLog.MetaCol("v", "long", nullable = true))),
      TxLog.commitInfoLine("CREATE TABLE")))
    Seq((1L, Option.empty[Long]), (2L, Option.empty[Long]))
      .toDF("doc_id", "v").coalesce(1)
      .write.format("graft-lake").option("path", base)
      .mode("append").save()
    Seq((3L, Option(30L)), (4L, Option(40L)))
      .toDF("doc_id", "v").coalesce(1)
      .write.format("graft-lake").option("path", base)
      .mode("append").save()
    // v = 30 can only live in file 2 — the all-null file prunes
    nParts(lake(base).where(col("v") === 30L)) shouldBe 1
    lake(base).where(col("v") === 30L).count() shouldBe 1L
    lake(base).where(col("v").isNull).count() shouldBe 2L
    // fold through a checkpoint: pruning unchanged (cstats ride the
    // state lines raw — the no-escape splice)
    TxLog.writeCheckpoint(spark, s"$base/log", s"$base/ckpt", 1L)
    val resolved = TxLog.resolveLiveLocal(s"$base/log", s"$base/ckpt", -1L)
    resolved.foreach(f => f.cstats should not be empty)
    nParts(lake(base).where(col("v") === 30L)) shouldBe 1
    lake(base).where(col("v") === 30L).count() shouldBe 1L
  }

  test("review r14: an EMPTY-STRING min/max cannot ride the wire " +
      "(\"\" encodes absence) — the entry drops whole and the file " +
      "scans, never wrongly prunes") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_cempty").toFile.getAbsolutePath
    new java.io.File(s"$base/data").mkdirs()
    TxLog.commitVersion(s"$base/log", 0L, Seq(
      TxLog.metaDataLine(Seq(
        TxLog.MetaCol("doc_id", "long", nullable = false),
        TxLog.MetaCol("s2", "string", nullable = true))),
      TxLog.commitInfoLine("CREATE TABLE")))
    Seq((1L, ""), (2L, "b")).toDF("doc_id", "s2").coalesce(1)
      .write.format("graft-lake").option("path", base)
      .mode("append").save()
    val live = TxLog.resolveLiveLocal(s"$base/log", s"$base/ckpt", -1L)
    // the s2 entry was dropped (its min IS ""), doc_id's survives
    live.head.cstats.exists(_.col == "s2") shouldBe false
    live.head.cstats.exists(_.col == "doc_id") shouldBe true
    // the row with s2 = "b" must NOT vanish behind a false all-null
    lake(base).where(col("s2") === "b").count() shouldBe 1L
    lake(base).where(col("s2") === "").count() shouldBe 1L
  }

  test("review r14: merge/DELETE on a REQUIRED long key that is NOT " +
      "the statsCol prunes by the COLUMN-LABELED window — rows are " +
      "never missed, and doc_id windows are never poisoned") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_altkey").toFile.getAbsolutePath
    new java.io.File(s"$base/data").mkdirs()
    TxLog.commitVersion(s"$base/log", 0L, Seq(
      TxLog.metaDataLine(Seq(
        TxLog.MetaCol("doc_id", "long", nullable = false),
        TxLog.MetaCol("uid", "long", nullable = false),
        TxLog.MetaCol("s", "string", nullable = true))),
      TxLog.commitInfoLine("CREATE TABLE")))
    // uid runs OPPOSITE to doc_id so the legacy doc_id windows are
    // maximally misleading for uid pruning
    (0 until 4).foreach { b =>
      (0 until 50).map { i =>
        val id = b.toLong * 50 + i
        (id, 100000L - id, s"r$id")
      }.toDF("doc_id", "uid", "s").coalesce(1)
        .write.format("graft-lake").option("path", base)
        .mode("append").save()
    }
    // delete by uid: the victims live in the file whose doc_id
    // window is FARTHEST from the keys
    val r = LakeMaintenance.merge(spark, base, Seq.empty, "uid",
      deletes = Seq(100000L, 99999L)) // doc_id 0 and 1 (file 0)
    r.deleted shouldBe 2L
    lake(base).count() shouldBe 198L
    lake(base).where(col("doc_id") < 2L).count() shouldBe 0L
    // doc_id file pruning is NOT poisoned by the uid-keyed rewrite:
    // a doc_id predicate still prunes to the (rewritten or DV'd)
    // right file and returns the right rows
    lake(base).where(col("doc_id") === 10L).count() shouldBe 1L
    nParts(lake(base).where(col("doc_id") === 199L)) shouldBe 1
    // an update by uid lands on the right row too (uid 99900 is
    // doc_id 100 — file 2)
    LakeMaintenance.merge(spark, base,
      Seq((99900L, Array[Any](java.lang.Long.valueOf(777L),
        java.lang.Long.valueOf(99900L), "upd"))), "uid")
      .matched shouldBe 1L
    lake(base).where(col("s") === "upd")
      .select(col("doc_id")).head.getLong(0) shouldBe 777L
    lake(base).where(col("doc_id") === 100L).count() shouldBe 0L
  }

  test("stats survive every maintenance rewrite: compact, z-order, " +
      "merge — pruning on the non-key column keeps working") {
    val base = build(8)
    LakeMaintenance.compact(spark, base, targetRows = 400): Unit
    val afterCompact = TxLog.resolveLiveLocal(
      s"$base/log", s"$base/ckpt", -1L)
    afterCompact.size shouldBe 2
    afterCompact.foreach(f => f.cstats.size shouldBe 4)
    nParts(lake(base).where(col("v") < 1000L)) shouldBe 1
    lake(base).where(col("v") < 1000L).count() shouldBe 100L
    // z-order on (doc_id, v): rewritten files carry fresh cstats
    LakeMaintenance.zorder(spark, base, Seq("doc_id", "v"),
      targetRows = 200): Unit
    TxLog.resolveLiveLocal(s"$base/log", s"$base/ckpt", -1L)
      .foreach(f => f.cstats.size shouldBe 4)
    lake(base).count() shouldBe 800L
    lake(base).where(col("v") >= 2000L && col("v") < 3000L)
      .count() shouldBe 100L
    // merge rewrite: the touched file's replacement carries cstats
    LakeMaintenance.merge(spark, base,
      (0L until 150L).map(k =>
        (k, Array[Any](java.lang.Long.valueOf(k),
          java.lang.Long.valueOf(-1L), java.lang.Double.valueOf(0.0),
          "upd"))).toSeq,
      "doc_id"): Unit
    TxLog.resolveLiveLocal(s"$base/log", s"$base/ckpt", -1L)
      .foreach(f => f.cstats should not be empty)
    lake(base).where(col("v") === -1L).count() shouldBe 150L
  }

  test("deletion vectors: a small MERGE delete writes a sidecar, NOT " +
      "a rewrite — reads apply it, COUNT(*) pushdown subtracts it, " +
      "MIN/MAX declines, CDC stays row-exact, time travel intact") {
    val base = build(2, rowsPer = 500) // 2 files x 500 rows
    val before = TxLog.resolveLiveLocal(s"$base/log", s"$base/ckpt", -1L)
      .map(_.path).toSet
    val r = LakeMaintenance.merge(spark, base, Seq.empty, "doc_id",
      deletes = Seq(3L, 7L)) // 2 of 500 = 0.4% — far under threshold
    r.deleted shouldBe 2L
    val after = TxLog.resolveLiveLocal(s"$base/log", s"$base/ckpt", -1L)
    // the data-file set is UNCHANGED (no rewrite) — only a DV landed
    after.map(_.path).toSet shouldBe before
    val dvd = after.filter(_.dvPath.isDefined)
    dvd.size shouldBe 1
    dvd.head.dvRows shouldBe 2L
    // reads apply the DV
    lake(base).count() shouldBe 998L
    lake(base).where(col("doc_id").isin(3L, 7L)).count() shouldBe 0L
    // COUNT(*) pushdown subtracts; MIN/MAX declines but stays correct
    val agg = lake(base).agg(count(lit(1)).as("n"),
      min(col("doc_id")).as("mn")).head
    agg.getLong(0) shouldBe 998L
    agg.getLong(1) shouldBe 0L
    // the change feed carries the two deletes row-exactly
    val vs = TxLog.commitVersions(s"$base/log")
    val cdc = spark.read.format("graft-lake").option("path", base)
      .option("changeFeed", "true")
      .option("cdfFrom", vs.max.toString).load()
    cdc.where(col("_change_type") === "delete")
      .select(col("doc_id")).collect().map(_.getLong(0))
      .toSet shouldBe Set(3L, 7L)
    // time travel BEFORE the delete still sees the rows
    spark.read.format("graft-lake").option("path", base)
      .option("asOf", (vs.max - 1).toString).load()
      .count() shouldBe 1000L
    // a second small delete UNIONs into a fresh DV (old one replaced)
    LakeMaintenance.merge(spark, base, Seq.empty, "doc_id",
      deletes = Seq(11L)): Unit
    val after2 = TxLog.resolveLiveLocal(s"$base/log", s"$base/ckpt", -1L)
    after2.filter(_.dvPath.isDefined).head.dvRows shouldBe 3L
    lake(base).count() shouldBe 997L
    // deleting rows already dead under the DV is a no-op, not a
    // double delete
    LakeMaintenance.merge(spark, base, Seq.empty, "doc_id",
      deletes = Seq(3L)).deleted shouldBe 0L
    lake(base).count() shouldBe 997L
  }

  test("deletion-vector lifecycle: a LARGE delete still rewrites; " +
      "compaction MATERIALIZES DVs away; vacuum retains the sidecar " +
      "while referenced and reclaims it after") {
    val base = build(2, rowsPer = 500)
    // small delete → DV
    LakeMaintenance.merge(spark, base, Seq.empty, "doc_id",
      deletes = Seq(5L)): Unit
    val dvPath = TxLog.resolveLiveLocal(s"$base/log", s"$base/ckpt", -1L)
      .flatMap(_.dvPath).head
    new java.io.File(dvPath).isFile shouldBe true
    // large delete (30% of the second file) → rewrite, no DV
    LakeMaintenance.merge(spark, base, Seq.empty, "doc_id",
      deletes = (500L until 650L).toSeq): Unit
    val live = TxLog.resolveLiveLocal(s"$base/log", s"$base/ckpt", -1L)
    live.count(_.dvPath.isDefined) shouldBe 1 // only file 1's small DV
    lake(base).count() shouldBe 849L
    // compaction applies + materializes the DV: no DV survives it
    LakeMaintenance.compact(spark, base, targetRows = 1 << 20): Unit
    val afterC = TxLog.resolveLiveLocal(s"$base/log", s"$base/ckpt", -1L)
    afterC.count(_.dvPath.isDefined) shouldBe 0
    lake(base).count() shouldBe 849L
    lake(base).where(col("doc_id") === 5L).count() shouldBe 0L
    // vacuum with history retained keeps the sidecar (the pre-compact
    // snapshot references it); retention 0 reclaims it
    TxLog.writeCheckpoint(spark, s"$base/log", s"$base/ckpt",
      TxLog.commitVersions(s"$base/log").max)
    LakeMaintenance.vacuum(base, retainVersions = 10, graceMs = 0L): Unit
    new java.io.File(dvPath).isFile shouldBe true
    LakeMaintenance.vacuum(base, retainVersions = 0, graceMs = 0L): Unit
    new java.io.File(dvPath).isFile shouldBe false
    lake(base).count() shouldBe 849L
  }
}
