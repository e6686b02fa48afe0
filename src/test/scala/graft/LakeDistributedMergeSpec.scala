package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{LakeMaintenance, TxLog}
import graft.queries.Scratch

/** DISTRIBUTED join-based MERGE (r15 — the r14 verdict's #1 ask) —
  * the laws:
  *  - BIT-IDENTITY with the broadcast path: the same changeset over
  *    the same table produces byte-identical data files (rewrites,
  *    DV sidecars, CDC sidecars, insert files — matched as digest
  *    multisets; only names differ) and the same result counts;
  *  - NO DRIVER COLLECT of source rows: the total bytes shipped to
  *    the driver stays metadata-sized while the changeset is MBs;
  *  - op semantics: `u` never creates rows, `i` never touches a
  *    matched key, `d` deletes every occurrence;
  *  - validation: null keys, duplicate keys, unknown ops and CHECK
  *    violations reject before any commit;
  *  - the readVersion fence aborts on candidates newer than the
  *    caller's scan snapshot. */
class LakeDistributedMergeSpec extends SparkSpec {
  import spark.implicits._

  private def buildTable(nFiles: Int, rowsPerFile: Int): String = {
    val base = java.nio.file.Files
      .createTempDirectory("graft_dmerge").toFile.getAbsolutePath
    new java.io.File(s"$base/data").mkdirs()
    TxLog.commitVersion(s"$base/log", 0L, Seq(
      TxLog.metaDataLine(Seq(
        TxLog.MetaCol("doc_id", "long", nullable = false),
        TxLog.MetaCol("v", "long", nullable = true),
        TxLog.MetaCol("s", "string", nullable = true))),
      TxLog.commitInfoLine("CREATE TABLE")))
    (0 until nFiles).foreach { f =>
      val rows = (0 until rowsPerFile).map { i =>
        val id = f.toLong * rowsPerFile + i
        (id, if (id % 7 == 0) None else Some(id * 3), "s" + (id % 3))
      }
      rows.toDF("doc_id", "v", "s").coalesce(1)
        .write.format("graft-lake").option("path", base)
        .mode("append").save()
    }
    base
  }

  private def lake(base: String): DataFrame =
    spark.read.format("graft-lake").option("path", base).load()

  private def asSet(df: DataFrame): Set[(Long, Option[Long], String)] =
    df.collect().map { r =>
      (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getString(2))
    }.toSet

  private def digests(base: String): Map[String, Int] = {
    val live = TxLog.resolveLiveLocal(s"$base/log", s"$base/ckpt", -1L)
    val all = live.map(_.path) ++ live.flatMap(_.dvPath)
    all.map { p =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val h = md.digest(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)))
      h.map("%02x".format(_)).mkString
    }.groupBy(identity).map { case (k, vs) => k -> vs.size }
  }

  private def changesOf(updates: Seq[(Long, Option[Long], String)],
      inserts: Seq[(Long, Option[Long], String)],
      deletes: Seq[Long], matchedOp: String = "ui"): DataFrame = {
    val rows = updates.map { case (k, v, s) =>
      (k, matchedOp, k, v, Option(s))
    } ++ inserts.map { case (k, v, s) => (k, "i", k, v, Option(s)) } ++
      deletes.map(k => (k, "d", k, None: Option[Long],
        None: Option[String]))
    rows.toDF("_graft_k", "_graft_op", "doc_id", "v", "s")
  }

  test("bit-identical to the broadcast path: same rewrites, same DV " +
      "sidecars, same insert files (as digest multisets), same counts") {
    val a = buildTable(6, 100)
    val b = buildTable(6, 100)
    digests(a) shouldBe digests(b) // identical starting layout
    // updates hit files 0 and 2; inserts are fresh keys; deletes take
    // a small bite of file 4 (the DV shape) and ALL of file 5 (the
    // tombstone shape)
    val upd = Seq((10L, Some(1111L), "UP"), (205L, None, "UP2"))
    val ins = Seq((9001L, Some(1L), "NEW"), (9002L, None, "NEW2"))
    val del = (400L to 404L) ++ (500L until 600L)
    val rc = LakeMaintenance.merge(spark, a,
      (upd ++ ins).map(t => (t._1, Array[Any](
        java.lang.Long.valueOf(t._1),
        t._2.map(java.lang.Long.valueOf).orNull, t._3))),
      "doc_id", deletes = del)
    val rd = LakeMaintenance.mergeDistributed(spark, b,
      changesOf(upd, ins, del), "doc_id")
    rd.matched shouldBe rc.matched
    rd.inserted shouldBe rc.inserted
    rd.deleted shouldBe rc.deleted
    rd.rewritten shouldBe rc.rewritten
    // the tables read back identically…
    asSet(lake(b)) shouldBe asSet(lake(a))
    // …and the files on disk are byte-identical as a multiset
    // (rewrites, the DV sidecar, the insert file — names differ)
    digests(b) shouldBe digests(a)
    // CDC sidecars: the change feeds of the merge version agree
    def cdf(base: String): Set[(Long, String)] = {
      val v = TxLog.commitVersions(s"$base/log").max
      spark.read.format("graft-lake").option("path", base)
        .option("changeFeed", "true").option("cdfFrom", v).load()
        .select(col("doc_id"), col("_change_type"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    }
    cdf(b) shouldBe cdf(a)
  }

  test("op semantics: u drops unmatched (never creates rows), i " +
      "takes no action on matched keys, d deletes every occurrence") {
    val base = buildTable(2, 50)
    // u: key 10 matched (replaces), key 7777 unmatched (dropped)
    val r1 = LakeMaintenance.mergeDistributed(spark, base,
      changesOf(Seq((10L, Some(42L), "u10"), (7777L, Some(1L), "x")),
        Seq.empty, Seq.empty, matchedOp = "u"), "doc_id")
    r1.matched shouldBe 1L
    r1.inserted shouldBe 0L
    lake(base).where(col("doc_id") === 7777L).count() shouldBe 0L
    lake(base).where(col("doc_id") === 10L)
      .select(col("v")).as[Long].head() shouldBe 42L
    // i: key 10 matched (no action), key 8888 unmatched (inserts)
    val r2 = LakeMaintenance.mergeDistributed(spark, base,
      changesOf(Seq.empty, Seq((10L, Some(999L), "never"),
        (8888L, Some(8L), "new")), Seq.empty), "doc_id")
    r2.matched shouldBe 0L
    r2.inserted shouldBe 1L
    lake(base).where(col("doc_id") === 10L)
      .select(col("v")).as[Long].head() shouldBe 42L // untouched
    lake(base).where(col("doc_id") === 8888L).count() shouldBe 1L
    // d deletes every occurrence of the key across files
    val r3 = LakeMaintenance.mergeDistributed(spark, base,
      changesOf(Seq.empty, Seq.empty, Seq(10L, 8888L)), "doc_id")
    r3.deleted shouldBe 2L
    lake(base).where(col("doc_id").isin(10L, 8888L)).count() shouldBe 0L
  }

  test("validation rejects before any commit: null keys, duplicate " +
      "keys, unknown ops; an empty changeset no-ops") {
    val base = buildTable(1, 20)
    val v0 = TxLog.commitVersions(s"$base/log").max
    def raw(rows: Seq[(Any, String, Long, Option[Long], String)]) =
      spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows.map(t =>
          Row(t._1, t._2, t._3, t._4.map(java.lang.Long.valueOf).orNull,
            t._5))).asJava,
        StructType(Seq(
          StructField("_graft_k", LongType, nullable = true),
          StructField("_graft_op", StringType, nullable = false),
          StructField("doc_id", LongType, nullable = false),
          StructField("v", LongType, nullable = true),
          StructField("s", StringType, nullable = true))))
    intercept[IllegalArgumentException] {
      LakeMaintenance.mergeDistributed(spark, base,
        raw(Seq((null, "u", 1L, None, "x"))), "doc_id")
    }.getMessage should include("null source key")
    intercept[IllegalArgumentException] {
      LakeMaintenance.mergeDistributed(spark, base,
        raw(Seq((1L, "u", 1L, None, "x"), (1L, "d", 1L, None, "y"))),
        "doc_id")
    }.getMessage should include("duplicate keys")
    intercept[IllegalArgumentException] {
      LakeMaintenance.mergeDistributed(spark, base,
        raw(Seq((1L, "zap", 1L, None, "x"))), "doc_id")
    }.getMessage should include("unknown _graft_op")
    LakeMaintenance.mergeDistributed(spark, base,
      raw(Seq.empty), "doc_id").version shouldBe -1L
    TxLog.commitVersions(s"$base/log").max shouldBe v0 // no commit
  }

  test("readVersion fence: a candidate newer than the caller's scan " +
      "snapshot aborts loudly; CHECK constraints enforce distributed") {
    val base = buildTable(2, 50)
    val scanV = TxLog.commitVersions(s"$base/log").max
    Seq((5000L, Some(1L), "zz")).toDF("doc_id", "v", "s").coalesce(1)
      .write.format("graft-lake").option("path", base)
      .mode("append").save()
    intercept[IllegalStateException] {
      LakeMaintenance.mergeDistributed(spark, base,
        changesOf(Seq.empty, Seq.empty, Seq(5000L)), "doc_id",
        readVersion = scanV)
    }.getMessage should include("scan snapshot")
    // constraints: v must stay under 10_000 for stored rows
    graft.sources.LakeSource.addConstraint(spark, base,
      "v_small", "v IS NULL OR v < 10000"): Unit
    intercept[IllegalArgumentException] {
      LakeMaintenance.mergeDistributed(spark, base,
        changesOf(Seq((10L, Some(99999L), "bad")), Seq.empty,
          Seq.empty), "doc_id")
    }.getMessage should include("CHECK constraint v_small")
    // a delete-only changeset never constraint-checks (no stored row)
    LakeMaintenance.mergeDistributed(spark, base,
      changesOf(Seq.empty, Seq.empty, Seq(11L)), "doc_id")
      .deleted shouldBe 1L
  }

  test("SQL MERGE above the collect bound routes distributed: " +
      "correct result, and NO source rows reach the driver " +
      "(result bytes stay metadata-sized)") {
    val wh = Scratch.appDir(spark, "dm_wh")
    spark.conf.set("spark.sql.catalog.graft_dm",
      "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.graft_dm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_dm.db"): Unit
    spark.sql("""CREATE TABLE graft_dm.db.t (
      doc_id BIGINT NOT NULL, v BIGINT, s STRING)
      USING `graft-lake`"""): Unit
    val fat = "x" * 150
    spark.range(0, 20000).select(col("id").as("doc_id"),
        (col("id") * 2).as("v"), concat(lit(fat),
          col("id").cast("string")).as("s"))
      .createOrReplaceTempView("dm_base")
    spark.sql("INSERT INTO graft_dm.db.t SELECT * FROM dm_base"): Unit
    // changeset: 20k rows (~3 MB as external rows) — over the bound
    spark.range(10000, 30000).select(col("id").as("doc_id"),
        (col("id") * 5).as("v"), concat(lit(fat),
          col("id").cast("string"), lit("-u")).as("s"))
      .createOrReplaceTempView("dm_changes")
    val resultBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          resultBytes.addAndGet(e.taskMetrics.resultSize): Unit
    }
    spark.conf.set("spark.graft.lake.mergeCollectBound", "1000")
    // the AT-SCALE plan: no broadcast relays of the changeset through
    // the driver — the probe joins must shuffle (what a 100 TB merge
    // would do anyway; at test size Catalyst would broadcast)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sql("""MERGE INTO graft_dm.db.t AS t
        USING dm_changes AS src ON t.doc_id = src.doc_id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""").collect()
    } finally {
      Thread.sleep(500) // let queued task-end events drain
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset("spark.graft.lake.mergeCollectBound")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    // correctness: 30k rows; [0,10k) keep v=2k; [10k,30k) have v=5k
    val got = spark.sql("""SELECT count(*), sum(v),
        sum(CASE WHEN s LIKE '%-u' THEN 1 ELSE 0 END)
      FROM graft_dm.db.t""").head()
    got.getLong(0) shouldBe 30000L
    got.getLong(1) shouldBe
      (0L until 10000L).map(_ * 2).sum +
        (10000L until 30000L).map(_ * 5).sum
    got.getLong(2) shouldBe 20000L
    // the no-collect contract: a collected changeset alone would ship
    // >3 MB of rows to the driver; the distributed route ships file
    // METADATA (plus per-task overhead) only
    assert(resultBytes.get() < (1L << 21),
      s"driver received ${resultBytes.get()} bytes — source rows " +
        "were collected")
    spark.sql("DROP TABLE graft_dm.db.t"): Unit
  }

  test("SQL UPDATE and predicate DELETE above the bound route " +
      "distributed; the whole-key guard still rejects a predicate " +
      "that splits a duplicated key") {
    val wh = Scratch.appDir(spark, "dm2_wh")
    spark.conf.set("spark.sql.catalog.graft_dm2",
      "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.graft_dm2.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_dm2.db"): Unit
    spark.sql("""CREATE TABLE graft_dm2.db.t (
      doc_id BIGINT NOT NULL, v BIGINT) USING `graft-lake`"""): Unit
    spark.range(0, 5000).select(col("id").as("doc_id"),
        col("id").as("v"))
      .createOrReplaceTempView("dm2_base")
    spark.sql("INSERT INTO graft_dm2.db.t SELECT * FROM dm2_base"): Unit
    spark.conf.set("spark.graft.lake.mergeCollectBound", "100")
    try {
      spark.sql(
        "UPDATE graft_dm2.db.t SET v = v + 1000000 WHERE doc_id < 3000"
      ).collect()
      spark.sql("SELECT sum(v) FROM graft_dm2.db.t").head()
        .getLong(0) shouldBe
        (0L until 5000L).sum + 3000L * 1000000L
      spark.sql(
        "DELETE FROM graft_dm2.db.t WHERE v >= 1000000").collect()
      spark.sql("SELECT count(*) FROM graft_dm2.db.t").head()
        .getLong(0) shouldBe 2000L
      // duplicated key, predicate splitting its occurrences: reject
      spark.sql("INSERT INTO graft_dm2.db.t VALUES (4000, 1), " +
        "(4000, 2)"): Unit
      // make the matched set exceed the bound so the distributed
      // guard (not the collected one) is what rejects
      val e = intercept[Exception] {
        spark.sql(
          "UPDATE graft_dm2.db.t SET v = v + 1 WHERE v >= 2")
      }
      e.getMessage should include("whole-key")
    } finally
      spark.conf.unset("spark.graft.lake.mergeCollectBound")
    spark.sql("DROP TABLE graft_dm2.db.t"): Unit
  }

  test("review r15: a key whose only occurrences are DELETION-VECTOR-" +
      "dead is UNMATCHED — an upsert of a DV-deleted key re-inserts " +
      "it (the probe reads live containment, not raw parquet)") {
    val base = buildTable(2, 100)
    // DV-delete key 10 (small touch → sidecar, raw file keeps the key)
    LakeMaintenance.merge(spark, base, Seq.empty, "doc_id",
      deletes = Seq(10L)): Unit
    val live = TxLog.resolveLiveLocal(s"$base/log", s"$base/ckpt", -1L)
    live.exists(_.dvRows == 1L) shouldBe true // merge-on-read, no rewrite
    lake(base).where(col("doc_id") === 10L).count() shouldBe 0L
    // distributed upsert of the dead key: must INSERT (the broadcast
    // path does — bit-identity demands the same here)
    val r = LakeMaintenance.mergeDistributed(spark, base,
      changesOf(Seq((10L, Some(777L), "back")), Seq.empty, Seq.empty),
      "doc_id")
    r.matched shouldBe 0L
    r.inserted shouldBe 1L
    lake(base).where(col("doc_id") === 10L)
      .select(col("v")).as[Long].head() shouldBe 777L
    // and an i-op against a DV-dead key inserts too (not silently
    // dropped as "matched")
    LakeMaintenance.merge(spark, base, Seq.empty, "doc_id",
      deletes = Seq(20L)): Unit
    val r2 = LakeMaintenance.mergeDistributed(spark, base,
      changesOf(Seq.empty, Seq((20L, Some(888L), "back2")), Seq.empty),
      "doc_id")
    r2.inserted shouldBe 1L
    lake(base).where(col("doc_id") === 20L).count() shouldBe 1L
  }

  test("empty table: the distributed insert arm appends through the " +
      "connector; u/d rows no-op") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_dmerge_e").toFile.getAbsolutePath
    new java.io.File(s"$base/data").mkdirs()
    TxLog.commitVersion(s"$base/log", 0L, Seq(
      TxLog.metaDataLine(Seq(
        TxLog.MetaCol("doc_id", "long", nullable = false),
        TxLog.MetaCol("v", "long", nullable = true),
        TxLog.MetaCol("s", "string", nullable = true))),
      TxLog.commitInfoLine("CREATE TABLE")))
    val r = LakeMaintenance.mergeDistributed(spark, base,
      changesOf(Seq((1L, Some(5L), "u-dropped")), // u on empty: no-op
        Seq((2L, Some(6L), "kept")), Seq(3L)), "doc_id",
      readVersion = 0L)
    r.inserted shouldBe 2L // the ui row from `updates` inserts too
    asSet(lake(base)) shouldBe Set((1L, Some(5L), "u-dropped"),
      (2L, Some(6L), "kept"))
  }

  test("probeHint (r17): a fresh hint at the merge's snapshot serves " +
      "the per-file probe bit-identically; a STALE hint — any other " +
      "version — is IGNORED and the probe is rebuilt internally") {
    val upd = Seq((10L, Some(999L), "H"), (210L, Some(1L), "H2"))
    val del = Seq(301L, 302L)
    def run(base: String,
        hint: Option[(DataFrame, Long)]): LakeMaintenance.MergeResult =
      LakeMaintenance.mergeDistributed(spark, base,
        changesOf(upd, Seq.empty, del, matchedOp = "u"), "doc_id",
        probeHint = hint)
    def probeOf(base: String, v: Long): DataFrame =
      spark.read.format("graft-lake").option("path", base)
        .option("asOf", v.toString).option("withFilePath", "true")
        .load()
        .select(col("doc_id").as("_graft_k"), col("_graft_file"))
        .join((upd.map(_._1) ++ del).toDF("_graft_k"), Seq("_graft_k"))
        .distinct()
    // baseline: internal probe
    val a = buildTable(4, 100)
    val rA = run(a, None)
    // fresh hint at the head snapshot: same counts, same bytes
    val b = buildTable(4, 100)
    val vB = TxLog.nextVersion(s"$b/log", s"$b/ckpt") - 1L
    val rB = run(b, Some((probeOf(b, vB), vB)))
    (rB.matched, rB.deleted, rB.inserted, rB.rewritten) shouldBe
      ((rA.matched, rA.deleted, rA.inserted, rA.rewritten))
    asSet(lake(b)) shouldBe asSet(lake(a))
    digests(b) shouldBe digests(a)
    // STALE hint: a version that is not the merge's snapshot, carrying
    // a frame that would be WRONG if consulted (empty) — the merge
    // must ignore it, rebuild its own probe, and produce the same
    // result as the baseline
    val c = buildTable(4, 100)
    val vC = TxLog.nextVersion(s"$c/log", s"$c/ckpt") - 1L
    val wrong = probeOf(c, vC).where(lit(false))
    val rC = run(c, Some((wrong, vC - 1L)))
    (rC.matched, rC.deleted, rC.inserted, rC.rewritten) shouldBe
      ((rA.matched, rA.deleted, rA.inserted, rA.rewritten))
    asSet(lake(c)) shouldBe asSet(lake(a))
    digests(c) shouldBe digests(a)
  }

  test("probeHint schema: a fresh hint must be exactly (_graft_k: long, " +
      "_graft_file: string); a reordered hint fails before any commit") {
    val base = buildTable(2, 50)
    val v = TxLog.nextVersion(s"$base/log", s"$base/ckpt") - 1L
    val reordered = spark.read.format("graft-lake").option("path", base)
      .option("asOf", v.toString).option("withFilePath", "true").load()
      .select(col("_graft_file"), col("doc_id").as("_graft_k"))
    intercept[IllegalArgumentException] {
      LakeMaintenance.mergeDistributed(spark, base,
        changesOf(Seq((10L, Some(1L), "x")), Seq.empty, Seq.empty,
          matchedOp = "u"), "doc_id", probeHint = Some((reordered, v)))
    }.getMessage should include(
      "probe hint must be exactly (_graft_k: long, _graft_file: string)")
    TxLog.commitVersions(s"$base/log").max shouldBe v // no commit
  }
}
