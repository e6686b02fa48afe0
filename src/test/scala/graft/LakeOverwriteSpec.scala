package graft

import org.apache.spark.sql.functions._

import graft.operators.TxLog
import graft.queries.Scratch

/** INSERT OVERWRITE / truncate / dynamic partition overwrite (r15 —
  * the r14 verdict's #2 ask) — the laws:
  *  - overwrite commits ONE version of remove(replaced) + add(new);
  *    time travel to the pre-overwrite snapshot is intact and
  *    DESCRIBE HISTORY stamps OVERWRITE;
  *  - static full overwrite (and df.write.mode("overwrite")) replaces
  *    everything; partition-scoped overwrite replaces exactly the
  *    named partitions and REJECTS written rows outside the
  *    condition; dynamic overwrite replaces exactly the partitions
  *    the job writes;
  *  - part-less live files make partition-scoped overwrite reject
  *    loudly (never a half-replaced file);
  *  - streaming writes refuse non-append modes. */
class LakeOverwriteSpec extends SparkSpec {
  import spark.implicits._

  private def freshCat(tag: String): String = {
    val wh = Scratch.appDir(spark, s"ow_$tag")
    spark.conf.set(s"spark.sql.catalog.graft_ow$tag",
      "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.graft_ow$tag.warehouse", wh)
    s"graft_ow$tag"
  }

  private def rootOf(cat: String, tbl: String): String = {
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    s"$wh/db/$tbl"
  }

  test("full INSERT OVERWRITE: one remove+add version, history " +
      "stamps OVERWRITE, time travel intact") {
    val cat = freshCat("a")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db"): Unit
    spark.sql(s"""CREATE TABLE $cat.db.t (
      doc_id BIGINT NOT NULL, v BIGINT) USING `graft-lake`"""): Unit
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 10), (2, 20)"): Unit
    spark.sql(s"INSERT INTO $cat.db.t VALUES (3, 30)"): Unit
    spark.sql(s"INSERT OVERWRITE $cat.db.t VALUES (7, 70), (8, 80)"): Unit
    spark.sql(s"SELECT sum(v) FROM $cat.db.t").head()
      .getLong(0) shouldBe 150L
    spark.sql(s"SELECT count(*) FROM $cat.db.t").head()
      .getLong(0) shouldBe 2L
    // pre-overwrite snapshot intact
    spark.sql(s"SELECT sum(v) FROM $cat.db.t VERSION AS OF 2").head()
      .getLong(0) shouldBe 60L
    // one OVERWRITE version in the history
    val root = rootOf(cat, "t")
    val hist = TxLog.historyLocal(s"$root/log")
    hist.count(_._2.contains("OVERWRITE")) shouldBe 1
    TxLog.commitVersions(s"$root/log").max shouldBe 3L
    // df.write.mode("overwrite") path-based: same verb
    Seq((9L, 90L)).toDF("doc_id", "v")
      .write.format("graft-lake").option("path", root)
      .mode("overwrite").save()
    spark.sql(s"SELECT sum(v), count(*) FROM $cat.db.t").head()
      .toSeq shouldBe Seq(90L, 1L)
    // overwrite with an empty frame: truncates
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        spark.sql(s"SELECT * FROM $cat.db.t").schema)
      .write.format("graft-lake").option("path", root)
      .mode("overwrite").save()
    spark.sql(s"SELECT count(*) FROM $cat.db.t").head()
      .getLong(0) shouldBe 0L
  }

  test("partition-scoped INSERT OVERWRITE replaces exactly the named " +
      "partition; written rows outside the condition reject; " +
      "part-less live files reject") {
    val cat = freshCat("b")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db"): Unit
    spark.sql(s"""CREATE TABLE $cat.db.p (
      doc_id BIGINT NOT NULL, v BIGINT, lang STRING)
      USING `graft-lake` PARTITIONED BY (lang)"""): Unit
    spark.sql(s"INSERT INTO $cat.db.p VALUES (1, 10, 'de'), " +
      "(2, 20, 'en'), (3, 30, 'de'), (4, 40, 'fr')"): Unit
    // static partition overwrite: only 'de' is replaced
    spark.sql(s"INSERT OVERWRITE $cat.db.p PARTITION (lang = 'de') " +
      "VALUES (9, 900), (10, 1000)"): Unit
    spark.sql(s"SELECT lang, sum(v) AS s FROM $cat.db.p " +
        "GROUP BY lang ORDER BY lang")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe
      Seq(("de", 1900L), ("en", 20L), ("fr", 40L))
    // replaceWhere contract: written rows OUTSIDE the condition
    // reject loudly (and the written files are cleaned up)
    val before = spark.sql(s"SELECT sum(v) FROM $cat.db.p").head()
      .getLong(0)
    val e = intercept[Exception] {
      Seq((5L, 1L, "it")).toDF("doc_id", "v", "lang")
        .writeTo(s"$cat.db.p").overwrite(col("lang") === lit("en"))
    }
    e.getMessage should include("must match the condition")
    spark.sql(s"SELECT sum(v) FROM $cat.db.p").head()
      .getLong(0) shouldBe before // nothing committed
    // a part-less live file cannot be replaced-or-kept whole: reject
    val root = rootOf(cat, "p")
    Seq((99L, 990L, "en")).toDF("doc_id", "v", "lang")
      .write.format("graft-lake").option("path", root)
      .mode("append").save() // no partitionBy option → no part value
    val e3 = intercept[Exception] {
      Seq((6L, 2L, "en")).toDF("doc_id", "v", "lang")
        .writeTo(s"$cat.db.p").overwrite(col("lang") === lit("en"))
    }
    e3.getMessage should include("no partition value")
  }

  test("dynamic partition overwrite replaces exactly the partitions " +
      "written; others survive") {
    val cat = freshCat("c")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db"): Unit
    spark.sql(s"""CREATE TABLE $cat.db.d (
      doc_id BIGINT NOT NULL, v BIGINT, lang STRING)
      USING `graft-lake` PARTITIONED BY (lang)"""): Unit
    spark.sql(s"INSERT INTO $cat.db.d VALUES (1, 10, 'de'), " +
      "(2, 20, 'en'), (3, 30, 'fr')"): Unit
    spark.conf.set("spark.sql.sources.partitionOverwriteMode",
      "dynamic")
    try
      spark.sql(s"INSERT OVERWRITE $cat.db.d VALUES (8, 800, 'de'), " +
        "(9, 900, 'en')"): Unit
    finally
      spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    spark.sql(s"SELECT lang, sum(v) AS s FROM $cat.db.d " +
        "GROUP BY lang ORDER BY lang")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe
      Seq(("de", 800L), ("en", 900L), ("fr", 30L))
  }

  test("streaming writes refuse non-append modes") {
    val cat = freshCat("d")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db"): Unit
    spark.sql(s"""CREATE TABLE $cat.db.s (
      doc_id BIGINT NOT NULL, v BIGINT) USING `graft-lake`"""): Unit
    // the builder guard is structural — assert it directly
    intercept[IllegalArgumentException] {
      val tcat = spark.sessionState.catalogManager.catalog(cat)
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      val tbl = tcat.loadTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("db"), "s")).asInstanceOf[graft.sources.LakeTable]
      val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
        override def queryId(): String = "q"
        override def schema(): org.apache.spark.sql.types.StructType =
          tbl.schema()
        override def options(): org.apache.spark.sql.util.CaseInsensitiveStringMap =
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(
            java.util.Collections.emptyMap())
      }
      new graft.sources.LakeWriteBuilder(tbl, info).truncate()
        .build().toStreaming
    }
  }
}
