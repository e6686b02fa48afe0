package graft

import org.apache.spark.sql.functions._

import graft.operators.ParquetFile

/** Dremel list-column decode (q219, [[ParquetFile.decodeListSums]]) —
  * differential against SPARK's own parquet writer across the layout
  * space the gate's one fixture can't cover: V1 and V2 pages, snappy
  * and gzip codecs, dictionary-encoded elements, array<long> /
  * array<double>, required elements (no null-row def level), and the
  * never-throw contract on malformed and flat inputs. */
class ParquetListSpec extends SparkSpec {

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("plist").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** Write `df` as ONE parquet file with the given writer options and
    * return its bytes. */
  private def writeOne(df: org.apache.spark.sql.DataFrame,
      opts: Map[String, String]): Array[Byte] = {
    val dir = tmpDir() + "/t"
    val w = df.coalesce(1).write.options(opts)
    w.parquet(dir)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    f.length shouldBe 1
    java.nio.file.Files.readAllBytes(f.head.toPath)
  }

  /** The canonical mixed fixture: per id — null row (%13), empty list
    * (%11), else [id, id*2, null (%7 first elem), id%5]. */
  private def longListDf(n: Int) =
    spark.range(n.toLong).select(col("id"),
      when(col("id") % 13 === 0, lit(null).cast("array<bigint>"))
        .when(col("id") % 11 === 0, array().cast("array<bigint>"))
        .otherwise(array(
          when(col("id") % 7 === 0, lit(null).cast("bigint"))
            .otherwise(col("id")),
          col("id") * 2, col("id") % 5)).as("xs"))

  /** Ground truth for [[longListDf]] computed independently. */
  private def longListTruth(n: Int): (Long, Long, Long, Long, Long, Long) = {
    var rows = 0L; var nullRows = 0L; var empty = 0L
    var nullElems = 0L; var elems = 0L; var sum = 0L
    (0 until n).foreach { id =>
      rows += 1
      if (id % 13 == 0) nullRows += 1
      else if (id % 11 == 0) empty += 1
      else {
        if (id % 7 == 0) nullElems += 1
        else { elems += 1; sum += id }
        elems += 2; sum += id * 2 + id % 5
      }
    }
    (rows, nullRows, empty, nullElems, elems, sum)
  }

  private def check(bytes: Array[Byte], path: String, qs: Double,
      expect: (Long, Long, Long, Long, Long, Long)): Unit = {
    val r = ParquetFile.listSums(0L, bytes, path, qs)
    withClue(r) {
      r.valid shouldBe true
      (r.n_rows, r.n_null_rows, r.n_empty, r.n_null_elems, r.n_elems,
        r.sum_q) shouldBe expect
    }
  }

  test("array<long>: V1 snappy (Spark default)") {
    check(writeOne(longListDf(200), Map("compression" -> "snappy")),
      "xs.list.element", 1.0, longListTruth(200))
  }

  test("array<long>: gzip pages") {
    check(writeOne(longListDf(200), Map("compression" -> "gzip")),
      "xs.list.element", 1.0, longListTruth(200))
  }

  test("array<long>: uncompressed") {
    check(writeOne(longListDf(200), Map("compression" -> "none")),
      "xs.list.element", 1.0, longListTruth(200))
  }

  test("array<long>: V2 data pages") {
    check(writeOne(longListDf(200), Map("compression" -> "snappy",
      "parquet.writer.version" -> "PARQUET_2_0")),
      "xs.list.element", 1.0, longListTruth(200))
  }

  test("dictionary-encoded elements (few distinct values)") {
    // id%3 gives 3 distinct element values over 300 rows — Spark's
    // writer dictionary-encodes; the decoder must map indices back
    val df = spark.range(300L).select(col("id"),
      array(col("id") % 3, col("id") % 3 + 10).as("xs"))
    val expectSum = (0 until 300).map(i => (i % 3) * 2L + 10L).sum
    check(writeOne(df, Map("compression" -> "snappy")),
      "xs.list.element", 1.0, (300L, 0L, 0L, 0L, 600L, expectSum))
  }

  test("required element, non-nullable column: no null-row level") {
    val df = spark.range(100L).select(col("id"),
      array(col("id"), col("id") * 3).as("xs"))
    val expectSum = (0 until 100).map(_ * 4L).sum
    check(writeOne(df, Map("compression" -> "snappy")),
      "xs.list.element", 1.0, (100L, 0L, 0L, 0L, 200L, expectSum))
  }

  test("array<double>: floor(x*512) quantization matches independent math") {
    val df = spark.range(50L).select(col("id"),
      array((col("id") * 0.37) - 7.0, col("id") * -0.11).as("xs"))
    var sum = 0L
    (0 until 50).foreach { i =>
      sum += math.floor((i * 0.37 - 7.0) * 512).toLong
      sum += math.floor(i * -0.11 * 512).toLong
    }
    check(writeOne(df, Map("compression" -> "snappy")),
      "xs.list.element", 512.0, (50L, 0L, 0L, 0L, 100L, sum))
  }

  test("array<float>: power-of-two scale is exact on the mantissa") {
    val df = spark.range(50L).select(col("id"),
      array((col("id") * 0.37 - 7.0).cast("float"),
        (col("id") * -0.11).cast("float")).as("xs"))
    var sum = 0L
    (0 until 50).foreach { i =>
      sum += math.floor((i * 0.37 - 7.0).toFloat.toDouble * 512).toLong
      sum += math.floor((i * -0.11).toFloat.toDouble * 512).toLong
    }
    check(writeOne(df, Map("compression" -> "snappy")),
      "xs.list.element", 512.0, (50L, 0L, 0L, 0L, 100L, sum))
  }

  test("multi-row-group files sum across groups") {
    val bytes = writeOne(longListDf(5000),
      Map("compression" -> "snappy", "parquet.block.size" -> "4096"))
    val meta = ParquetFile.parse(0L, bytes)
    withClue(meta.map(_.rg).distinct) {
      meta.map(_.rg).distinct.size should be > 1
    }
    check(bytes, "xs.list.element", 1.0, longListTruth(5000))
  }

  test("never-throw: malformed bytes, wrong path, flat column all land valid=false") {
    ParquetFile.listSums(1L, Array[Byte](1, 2, 3), "xs.list.element",
      1.0).valid shouldBe false
    val good = writeOne(longListDf(20), Map.empty)
    ParquetFile.listSums(2L, good, "nope.list.element", 1.0)
      .valid shouldBe false
    // "id" is a flat leaf — maxRep 0 → strict-reject, never wrong
    ParquetFile.listSums(3L, good, "id", 1.0).valid shouldBe false
    // truncated mid-pages
    ParquetFile.listSums(4L, good.take(good.length / 2),
      "xs.list.element", 1.0).valid shouldBe false
  }
}
