package graft

import org.apache.spark.sql.DataFrame

import graft.operators.TxLog

/** The SQL/catalog surface (r14 — the r13 verdict's #1 ask): every
  * statement here is PURE SQL TEXT against `graft_t.<ns>.<table>`,
  * routed through [[graft.sources.LakeCatalog]] into the existing
  * TxLog/LakeSource/LakeMaintenance machinery. The last test pins
  * catalog ↔ path equivalence: the catalog adds naming, never
  * semantics. */
class LakeCatalogSpec extends SparkSpec {

  private lazy val warehouse: String = {
    val w = java.nio.file.Files
      .createTempDirectory("graft_cat").toFile.getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft_t",
      "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.graft_t.warehouse", w)
    w
  }

  private def sql(s: String): DataFrame = { warehouse; spark.sql(s) }

  test("CREATE TABLE / INSERT INTO / SELECT / DESCRIBE-ish listing " +
      "— the empty table reads immediately (the log is the schema " +
      "authority)") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_t.db"): Unit
    sql("""CREATE TABLE graft_t.db.t1 (
         |  doc_id BIGINT NOT NULL, v BIGINT, s STRING
         |) USING `graft-lake`""".stripMargin): Unit
    sql("SELECT * FROM graft_t.db.t1").count() shouldBe 0L
    sql("SELECT * FROM graft_t.db.t1").schema.fieldNames.toSeq shouldBe
      Seq("doc_id", "v", "s")
    sql("INSERT INTO graft_t.db.t1 VALUES (1, 10, 'a'), (2, NULL, 'b')"): Unit
    sql("INSERT INTO graft_t.db.t1 SELECT id + 10, id, 'x' FROM range(3)"): Unit
    sql("SELECT count(*) AS n FROM graft_t.db.t1").head.getLong(0) shouldBe 5L
    sql("SELECT sum(v) AS sv FROM graft_t.db.t1 WHERE doc_id >= 10")
      .head.getLong(0) shouldBe 3L
    // SHOW TABLES sees it
    sql("SHOW TABLES IN graft_t.db").collect()
      .map(_.getString(1)) should contain("t1")
    // the commit log carries provenance: CREATE TABLE then appends
    val root = s"$warehouse/db/t1"
    TxLog.historyLocal(s"$root/log").map(_._2.getOrElse("?"))
      .take(2) shouldBe Seq("CREATE TABLE", "APPEND")
  }

  test("VERSION AS OF / TIMESTAMP AS OF time travel as pure SQL") {
    sql("""CREATE TABLE graft_t.db.tt (doc_id BIGINT NOT NULL, s STRING)
         | USING `graft-lake`""".stripMargin): Unit
    sql("INSERT INTO graft_t.db.tt VALUES (1, 'a')"): Unit // v1
    sql("INSERT INTO graft_t.db.tt VALUES (2, 'b')"): Unit // v2
    sql("SELECT * FROM graft_t.db.tt VERSION AS OF 1").count() shouldBe 1L
    sql("SELECT * FROM graft_t.db.tt VERSION AS OF 2").count() shouldBe 2L
    // timestamp travel: pin distinct mtimes, then ask for the middle
    val root = s"$warehouse/db/tt"
    new java.io.File(s"$root/log/version=1").setLastModified(1000000L)
    new java.io.File(s"$root/log/version=2").setLastModified(2000000L)
    sql("SELECT * FROM graft_t.db.tt TIMESTAMP AS OF " +
      "timestamp_millis(1500000)").count() shouldBe 1L
  }

  test("ALTER TABLE ADD / RENAME / DROP COLUMN as pure SQL — " +
      "metadata-only, zero data rewrites") {
    sql("""CREATE TABLE graft_t.db.ev (doc_id BIGINT NOT NULL, s STRING)
         | USING `graft-lake`""".stripMargin): Unit
    sql("INSERT INTO graft_t.db.ev VALUES (1, 'a')"): Unit
    val root = s"$warehouse/db/ev"
    val filesBefore = new java.io.File(s"$root/data").listFiles()
      .map(f => f.getName -> f.length()).toSet
    sql("ALTER TABLE graft_t.db.ev ADD COLUMN v BIGINT"): Unit
    sql("SELECT v FROM graft_t.db.ev").head.isNullAt(0) shouldBe true
    sql("INSERT INTO graft_t.db.ev VALUES (2, 'b', 20)"): Unit
    sql("ALTER TABLE graft_t.db.ev RENAME COLUMN v TO w"): Unit
    sql("SELECT sum(w) AS sw FROM graft_t.db.ev").head.getLong(0) shouldBe 20L
    sql("ALTER TABLE graft_t.db.ev DROP COLUMN w"): Unit
    sql("SELECT * FROM graft_t.db.ev").schema.fieldNames.toSeq shouldBe
      Seq("doc_id", "s")
    // the pre-evolution data file was never rewritten
    val after = new java.io.File(s"$root/data").listFiles()
      .map(f => f.getName -> f.length()).toSet
    filesBefore.subsetOf(after) shouldBe true
  }

  test("MERGE INTO: the flagship upsert (UPDATE SET * + INSERT *) " +
      "routes through LakeMaintenance.merge — CDC sidecars included") {
    sql("""CREATE TABLE graft_t.db.m1 (doc_id BIGINT NOT NULL, v BIGINT,
         | s STRING) USING `graft-lake`""".stripMargin): Unit
    sql("INSERT INTO graft_t.db.m1 SELECT id, id * 10, concat('r', id) " +
      "FROM range(10)"): Unit
    val stats = sql("""MERGE INTO graft_t.db.m1 AS t
         | USING (SELECT 3L AS doc_id, 999L AS v, 'upd' AS s
         |        UNION ALL
         |        SELECT 42L, 420L, 'new') AS src
         | ON t.doc_id = src.doc_id
         | WHEN MATCHED THEN UPDATE SET *
         | WHEN NOT MATCHED THEN INSERT *""".stripMargin).head
    stats.getLong(0) shouldBe 1L // updated
    stats.getLong(2) shouldBe 1L // inserted
    sql("SELECT count(*) AS n FROM graft_t.db.m1").head.getLong(0) shouldBe 11L
    sql("SELECT v, s FROM graft_t.db.m1 WHERE doc_id = 3")
      .head.toSeq shouldBe Seq(999L, "upd")
    sql("SELECT v FROM graft_t.db.m1 WHERE doc_id = 42")
      .head.getLong(0) shouldBe 420L
    // provenance: the merge stamped its op
    TxLog.historyLocal(s"$warehouse/db/m1/log").map(_._2.getOrElse("?"))
      .last shouldBe "MERGE"
    // CDC sidecars exist for the merge version (row-exact feed)
    val vs = TxLog.commitVersions(s"$warehouse/db/m1/log")
    TxLog.cdcInVersions(s"$warehouse/db/m1/log", Seq(vs.max))
      .size should be > 0
  }

  test("MERGE INTO: DELETE arm, update-only arm, insert-only arm, " +
      "explicit assignments — each routes matched/unmatched correctly") {
    sql("""CREATE TABLE graft_t.db.m2 (doc_id BIGINT NOT NULL, v BIGINT)
         | USING `graft-lake`""".stripMargin): Unit
    sql("INSERT INTO graft_t.db.m2 SELECT id, id FROM range(10)"): Unit
    // DELETE arm: matched keys die, unmatched keys are ignored
    sql("""MERGE INTO graft_t.db.m2 AS t
         | USING (SELECT explode(array(2L, 4L, 77L)) AS k) AS s
         | ON t.doc_id = s.k
         | WHEN MATCHED THEN DELETE""".stripMargin)
      .head.getLong(1) shouldBe 2L // two rows deleted
    sql("SELECT count(*) AS n FROM graft_t.db.m2").head.getLong(0) shouldBe 8L
    // update-only: unmatched source rows must NOT insert
    sql("""MERGE INTO graft_t.db.m2 AS t
         | USING (SELECT 5L AS doc_id, -5L AS v
         |        UNION ALL SELECT 200L, -200L) AS s
         | ON t.doc_id = s.doc_id
         | WHEN MATCHED THEN UPDATE SET v = s.v, doc_id = s.doc_id
         |""".stripMargin).head.getLong(0) shouldBe 1L
    sql("SELECT count(*) AS n FROM graft_t.db.m2").head.getLong(0) shouldBe 8L
    sql("SELECT v FROM graft_t.db.m2 WHERE doc_id = 5")
      .head.getLong(0) shouldBe -5L
    // insert-only: matched source rows must NOT update
    sql("""MERGE INTO graft_t.db.m2 AS t
         | USING (SELECT 5L AS doc_id, 555L AS v
         |        UNION ALL SELECT 300L, 300L) AS s
         | ON t.doc_id = s.doc_id
         | WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .head.getLong(2) shouldBe 1L
    sql("SELECT v FROM graft_t.db.m2 WHERE doc_id = 5")
      .head.getLong(0) shouldBe -5L // untouched
    sql("SELECT v FROM graft_t.db.m2 WHERE doc_id = 300")
      .head.getLong(0) shouldBe 300L
    // an unsupported shape fails LOUDLY with the boundary named
    val t = intercept[Exception] {
      sql("""MERGE INTO graft_t.db.m2 AS t
           | USING (SELECT 1L AS doc_id, 1L AS v) AS s
           | ON t.doc_id = s.doc_id
           | WHEN MATCHED AND s.v > 0 THEN DELETE""".stripMargin)
    }
    t.getMessage should include("graft-lake MERGE")
  }

  test("DELETE FROM: key predicates route through the merge delete " +
      "arm; unconditioned DELETE is a metadata-only truncate") {
    sql("""CREATE TABLE graft_t.db.d1 (doc_id BIGINT NOT NULL, s STRING)
         | USING `graft-lake`""".stripMargin): Unit
    sql("INSERT INTO graft_t.db.d1 SELECT id, concat('r', id) " +
      "FROM range(20)"): Unit
    sql("DELETE FROM graft_t.db.d1 WHERE doc_id IN (3, 5, 99)"): Unit
    sql("SELECT count(*) AS n FROM graft_t.db.d1").head.getLong(0) shouldBe 18L
    sql("DELETE FROM graft_t.db.d1 WHERE doc_id = 7"): Unit
    sql("SELECT count(*) AS n FROM graft_t.db.d1").head.getLong(0) shouldBe 17L
    val dataFiles = new java.io.File(s"$warehouse/db/d1/data")
      .listFiles().length
    sql("DELETE FROM graft_t.db.d1"): Unit // truncate: no file touched
    sql("SELECT count(*) AS n FROM graft_t.db.d1").head.getLong(0) shouldBe 0L
    new java.io.File(s"$warehouse/db/d1/data")
      .listFiles().length shouldBe dataFiles
    // time travel still sees the pre-truncate snapshot
    val vs = TxLog.commitVersions(s"$warehouse/db/d1/log")
    sql(s"SELECT count(*) AS n FROM graft_t.db.d1 VERSION AS OF ${vs.max - 1}")
      .head.getLong(0) shouldBe 17L
  }

  test("UPDATE: partial SET over old values, key reassignment, and " +
      "predicate DELETE on a NON-key column — both whole-key routed " +
      "through the merge machinery") {
    sql("""CREATE TABLE graft_t.db.u1 (doc_id BIGINT NOT NULL, v BIGINT,
         | s STRING) USING `graft-lake`""".stripMargin): Unit
    sql("INSERT INTO graft_t.db.u1 SELECT id, id * 10, " +
      "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END FROM range(10)"): Unit
    // partial SET reading the OLD value; unassigned columns untouched
    sql("UPDATE graft_t.db.u1 SET v = v + 1 WHERE doc_id < 3")
      .head.getLong(0) shouldBe 3L
    sql("SELECT sum(v) AS sv FROM graft_t.db.u1 WHERE doc_id < 3")
      .head.getLong(0) shouldBe 33L // 1 + 11 + 21
    sql("SELECT s FROM graft_t.db.u1 WHERE doc_id = 2")
      .head.getString(0) shouldBe "even"
    // predicate on a non-key column; expression mixes columns
    sql("UPDATE graft_t.db.u1 SET v = doc_id WHERE s = 'odd'")
      .head.getLong(0) shouldBe 5L
    sql("SELECT sum(v) AS sv FROM graft_t.db.u1 WHERE s = 'odd'")
      .head.getLong(0) shouldBe 25L
    // provenance: the update rode a MERGE commit
    TxLog.historyLocal(s"$warehouse/db/u1/log").map(_._2.getOrElse("?"))
      .last shouldBe "MERGE"
    // DELETE by a non-key predicate: one scan collects the keys,
    // the merge delete arm removes the rows
    sql("DELETE FROM graft_t.db.u1 WHERE s = 'odd'"): Unit
    sql("SELECT count(*) AS n FROM graft_t.db.u1").head.getLong(0)
      .shouldBe(5L)
    sql("SELECT count(*) AS n FROM graft_t.db.u1 WHERE s = 'odd'")
      .head.getLong(0) shouldBe 0L
    // range-predicate delete on the key column
    sql("DELETE FROM graft_t.db.u1 WHERE doc_id >= 8"): Unit
    sql("SELECT count(*) AS n FROM graft_t.db.u1").head.getLong(0)
      .shouldBe(4L)
  }

  test("whole-key guards (review r14): all-occurrence DELETE of a " +
      "duplicated key works, split-occurrence DELETE and duplicated-" +
      "key UPDATE reject loudly, UPDATE reassigns the key, UPDATE " +
      "never creates rows") {
    sql("""CREATE TABLE graft_t.db.wk (doc_id BIGINT NOT NULL, s STRING)
         | USING `graft-lake`""".stripMargin): Unit
    sql("INSERT INTO graft_t.db.wk VALUES (1, 'a'), (2, 'b'), " +
      "(3, 'dup-x'), (3, 'dup-y'), (4, 'dup-x'), (4, 'dup-x')"): Unit
    // split-occurrence DELETE: key 3's rows diverge on s — reject
    intercept[Exception] {
      sql("DELETE FROM graft_t.db.wk WHERE s = 'dup-y'")
    }.getMessage should include("only some occurrences")
    // all-occurrence DELETE of duplicated key 4: both rows match —
    // expressible, both die
    sql("DELETE FROM graft_t.db.wk WHERE s = 'dup-x' AND doc_id = 4"): Unit
    sql("SELECT count(*) AS n FROM graft_t.db.wk").head.getLong(0)
      .shouldBe(4L)
    // duplicated-key UPDATE rejects even when all occurrences match
    // (the whole-row rewrite would collapse two rows into one)
    intercept[Exception] {
      sql("UPDATE graft_t.db.wk SET s = 'z' WHERE doc_id = 3")
    }.getMessage should include("multiple rows of one merge key")
    // key reassignment: SET doc_id itself
    sql("UPDATE graft_t.db.wk SET doc_id = 100 WHERE doc_id = 1")
      .head.getLong(0) shouldBe 1L
    sql("SELECT s FROM graft_t.db.wk WHERE doc_id = 100")
      .head.getString(0) shouldBe "a"
    // UPDATE of nothing creates nothing
    sql("UPDATE graft_t.db.wk SET s = 'never' WHERE doc_id = 777")
      .head.getLong(0) shouldBe 0L
    sql("SELECT count(*) AS n FROM graft_t.db.wk").head.getLong(0)
      .shouldBe(4L)
    // the no-insert contract at the merge layer: an unmatched
    // changeset key is DROPPED, never resurrected as an insert
    val r = graft.operators.LakeMaintenance.merge(spark,
      s"$warehouse/db/wk",
      Seq((555L, Array[Any](java.lang.Long.valueOf(555L), "ghost"))),
      "doc_id", insertUnmatched = false)
    r.inserted shouldBe 0L
    sql("SELECT count(*) AS n FROM graft_t.db.wk").head.getLong(0)
      .shouldBe(4L)
  }

  test("PARTITIONED BY: the catalog persists the partition column; " +
      "inserts stamp partitionValues and SQL partition predicates " +
      "prune files") {
    sql("""CREATE TABLE graft_t.db.p1 (doc_id BIGINT NOT NULL, lang STRING)
         | USING `graft-lake` PARTITIONED BY (lang)""".stripMargin): Unit
    sql("INSERT INTO graft_t.db.p1 SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END FROM range(100)"): Unit
    sql("SELECT count(*) AS n FROM graft_t.db.p1 WHERE lang = 'en'")
      .head.getLong(0) shouldBe 50L
    // every add carries its partition value → file pruning on lang
    val live = TxLog.resolveLiveLocal(
      s"$warehouse/db/p1/log", s"$warehouse/db/p1/ckpt", -1L)
    live.forall(_.part.isDefined) shouldBe true
    live.map(_.part.get).toSet shouldBe Set("en", "de")
    // and the GROUP BY partition pushdown works through the catalog
    sql("SELECT lang, count(*) AS n FROM graft_t.db.p1 GROUP BY lang")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      Map("en" -> 50L, "de" -> 50L)
    // review r14: a DELETE-ONLY merge rewrite PRESERVES the files'
    // partition values (dropping them disabled partition pruning and
    // the grouped pushdown forever after the first delete)
    sql("DELETE FROM graft_t.db.p1 WHERE doc_id < 30"): Unit
    TxLog.resolveLiveLocal(s"$warehouse/db/p1/log",
        s"$warehouse/db/p1/ckpt", -1L)
      .forall(_.part.isDefined) shouldBe true
    sql("SELECT lang, count(*) AS n FROM graft_t.db.p1 GROUP BY lang")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      Map("en" -> 35L, "de" -> 35L)
    // review r14: renaming the partition column keeps the table
    // WRITABLE — the table property follows the rename; dropping a
    // prop-referenced column rejects loudly
    sql("ALTER TABLE graft_t.db.p1 RENAME COLUMN lang TO language"): Unit
    sql("INSERT INTO graft_t.db.p1 VALUES (9999, 'fr')"): Unit
    sql("SELECT count(*) AS n FROM graft_t.db.p1 " +
      "WHERE language = 'fr'").head.getLong(0) shouldBe 1L
    val t = intercept[Exception] {
      sql("ALTER TABLE graft_t.db.p1 DROP COLUMN language")
    }
    t.getMessage should include("references it")
  }

  test("CALL graft.system.* procedures: optimize / checkpoint / " +
      "describe_history / constraints / vacuum as pure SQL") {
    sql("""CREATE TABLE graft_t.db.pr (doc_id BIGINT NOT NULL, s STRING)
         | USING `graft-lake` TBLPROPERTIES ('statsCol'='doc_id')"""
      .stripMargin): Unit
    (0 until 4).foreach { b =>
      sql(s"INSERT INTO graft_t.db.pr SELECT id + ${b * 100}, " +
        s"concat('r', id) FROM range(100)"): Unit
    }
    // OPTIMIZE: 4 litter files -> 1 compacted file, content invariant
    val opt = sql("CALL graft_t.system.optimize(table => 'db.pr', " +
      "target_rows => 1000)").head
    opt.getLong(0) shouldBe 8L // removed (2 files per insert)
    opt.getLong(1) shouldBe 1L // created
    sql("SELECT count(*) AS n FROM graft_t.db.pr").head.getLong(0)
      .shouldBe(400L)
    // checkpoint (multi-part) + history as SQL
    sql("CALL graft_t.system.checkpoint(table => 'db.pr', " +
      "parts => 2)").head.getLong(0) shouldBe 5L
    val hist = sql("CALL graft_t.system.describe_history(" +
      "table => 'db.pr')").collect()
    hist.map(_.getString(1)).take(2).toSeq shouldBe
      Seq("CREATE TABLE", "APPEND")
    hist.last.getString(1) shouldBe "OPTIMIZE"
    // constraints as CALLs: enforced on the next SQL insert
    sql("CALL graft_t.system.add_constraint(table => 'db.pr', " +
      "name => 'id_pos', expr => 'doc_id >= 0')"): Unit
    intercept[Exception] {
      sql("INSERT INTO graft_t.db.pr VALUES (-5, 'bad')")
    }
    sql("CALL graft_t.system.drop_constraint(table => 'db.pr', " +
      "name => 'id_pos')"): Unit
    sql("INSERT INTO graft_t.db.pr VALUES (-5, 'now ok')"): Unit
    // vacuum with retention 0 reclaims the 4 litter files
    val vac = sql("CALL graft_t.system.vacuum(table => 'db.pr', " +
      "retain_versions => 0, grace_ms => 0)").head
    vac.getLong(0) shouldBe 8L
    sql("SELECT count(*) AS n FROM graft_t.db.pr").head.getLong(0)
      .shouldBe(401L)
    // unknown procedure rejects with the catalog's loud listing
    intercept[Exception] {
      sql("CALL graft_t.system.nope(table => 'db.pr')")
    }
    // review r14: full log expiry (empty commit dir, table readable
    // through the pointer checkpoint) must NOT flip tableExists —
    // SELECT keeps working and CREATE over live data still refuses
    sql("CALL graft_t.system.checkpoint(table => 'db.pr')"): Unit
    sql("CALL graft_t.system.expire_log(table => 'db.pr', " +
      "keep_versions => 0)"): Unit
    TxLog.commitVersions(s"$warehouse/db/pr/log") shouldBe Seq.empty
    sql("SELECT count(*) AS n FROM graft_t.db.pr").head.getLong(0)
      .shouldBe(401L)
    intercept[Exception] {
      sql("""CREATE TABLE graft_t.db.pr (x BIGINT NOT NULL)
           | USING `graft-lake`""".stripMargin)
    }
    sql("INSERT INTO graft_t.db.pr VALUES (500, 'post-expiry')"): Unit
    sql("SELECT count(*) AS n FROM graft_t.db.pr").head.getLong(0)
      .shouldBe(402L)
  }

  test("r15 catalog-name streaming: readStream.table with " +
      "startingVersion and changeFeed options, writeStream.toTable") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_t.stream"): Unit
    sql("""CREATE TABLE graft_t.stream.src (
      doc_id BIGINT NOT NULL, v BIGINT) USING `graft-lake`"""): Unit
    sql("""CREATE TABLE graft_t.stream.dst (
      doc_id BIGINT NOT NULL, v BIGINT) USING `graft-lake`"""): Unit
    sql("INSERT INTO graft_t.stream.src VALUES (1, 10), (2, 20)"): Unit
    sql("INSERT INTO graft_t.stream.src VALUES (3, 30)"): Unit
    sql("DELETE FROM graft_t.stream.src WHERE doc_id = 1"): Unit
    val ck = java.nio.file.Files
      .createTempDirectory("graft_cat_ck").toFile.getAbsolutePath
    // by-name source with startingVersion: v1 skipped, v2 emitted;
    // by-name sink: toTable appends through the epoch-fenced writer
    val q = spark.readStream.option("startingVersion", 2)
      .table("graft_t.stream.src")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$ck/a")
      .toTable("graft_t.stream.dst")
    q.awaitTermination()
    sql("SELECT doc_id FROM graft_t.stream.dst").collect()
      .map(_.getLong(0)).toSet shouldBe Set(3L)
    // changeFeed by name — the Iceberg metadata-table pattern
    // (`db.t.changes`): the delete's pre-image arrives as a change
    // row with _change_type
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q2 = spark.readStream
      .option("startingVersion", 3)
      .table("graft_t.stream.src.changes")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$ck/b")
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select("doc_id", "_change_type").collect()
          .foreach(r => got += ((r.getLong(0), r.getString(1))))
      }
      .start()
    q2.awaitTermination()
    got.toSet shouldBe Set((1L, "delete"))
  }

  test("catalog <-> path equivalence, CTAS, DROP TABLE, and " +
      "create-type rejection") {
    sql("""CREATE TABLE graft_t.db.eq (doc_id BIGINT NOT NULL, s STRING)
         | USING `graft-lake`""".stripMargin): Unit
    sql("INSERT INTO graft_t.db.eq SELECT id, concat('x', id) " +
      "FROM range(50)"): Unit
    val viaCatalog = sql("SELECT * FROM graft_t.db.eq")
      .collect().map(_.toSeq).toSet
    val viaPath = spark.read.format("graft-lake")
      .option("path", s"$warehouse/db/eq").load()
      .collect().map(_.toSeq).toSet
    viaCatalog shouldBe viaPath // the catalog adds naming, not semantics
    // CTAS
    sql("""CREATE TABLE graft_t.db.eq2 USING `graft-lake` AS
         | SELECT doc_id, s FROM graft_t.db.eq WHERE doc_id < 10"""
      .stripMargin): Unit
    sql("SELECT count(*) AS n FROM graft_t.db.eq2").head.getLong(0) shouldBe 10L
    // unsupported column type rejects at CREATE, not at first append
    intercept[Exception] {
      sql("""CREATE TABLE graft_t.db.bad (doc_id BIGINT NOT NULL,
           | t TIMESTAMP) USING `graft-lake`""".stripMargin)
    }
    sql("DROP TABLE graft_t.db.eq2"): Unit
    intercept[Exception] { sql("SELECT * FROM graft_t.db.eq2").count() }
    sql("SHOW TABLES IN graft_t.db").collect()
      .map(_.getString(1)) should not contain "eq2"
  }
}
