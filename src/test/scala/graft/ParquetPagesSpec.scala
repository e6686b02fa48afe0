package graft

import graft.operators.ParquetFile
import java.nio.file.Files

/** Parquet data-page decode (q203/q204): values read back through the
  * footer offsets from files Spark's real writer produced — PLAIN and
  * dictionary encodings, def levels, snappy pages, CRC verification. */
class ParquetPagesSpec extends SparkSpec {

  // rows: (id, v, s) with nulls in v and multi-byte UTF-8 in s
  private def rows(n: Int): Seq[(Long, Option[Long], String)] =
    (0 until n).map { i =>
      val v = if (i % 3 == 0) None else Some((i.toLong * 7) % 500 - 100)
      val s = if (i % 11 == 0) "é±" + i else "s" * (1 + i % 5) + i
      (i.toLong, v, s)
    }

  private def expected(data: Seq[(Long, Option[Long], String)])
      : Map[String, (Long, Long, Long, Long, Long)] = {
    val n = data.length.toLong
    val vs = data.flatMap(_._2)
    val ss = data.map(_._3.getBytes("UTF-8"))
    Map(
      "id" -> ((n, n, data.map(_._1).sum, 0L, 0L)),
      "v" -> ((n, vs.length.toLong, vs.sum, 0L, 0L)),
      "s" -> ((n, n, 0L, ss.map(_.length.toLong).sum,
        ss.map(_.map(b => (b & 0xff).toLong).sum).sum)))
  }

  private def writeP(data: Seq[(Long, Option[Long], String)],
                     codec: String, dict: Boolean,
                     blockSize: Int = 64 * 1024,
                     writerVersion: String = "PARQUET_1_0")
      : (String, Array[Byte]) = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_pqp_").toString
    data.toDF("id", "v", "s")
      .repartition(1).sortWithinPartitions("id")
      .write.mode("overwrite")
      .option("compression", codec)
      .option("parquet.block.size", blockSize.toString)
      .option("parquet.page.size", (blockSize / 4).toString)
      .option("parquet.enable.dictionary", dict.toString)
      .option("parquet.writer.version", writerVersion)
      .parquet(dir)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    (f.getPath, Files.readAllBytes(f.toPath))
  }

  private def write(data: Seq[(Long, Option[Long], String)],
                    codec: String, dict: Boolean,
                    blockSize: Int = 64 * 1024): Array[Byte] =
    writeP(data, codec, dict, blockSize)._2

  private def check(bytes: Array[Byte],
                    data: Seq[(Long, Option[Long], String)]): Unit = {
    val out = ParquetFile.parseColumnSums(9L, bytes)
    out.forall(_.valid) shouldBe true
    val got = out.map(r => r.col_path ->
      ((r.n_values, r.n_nonnull, r.sum_long, r.sum_blen,
        r.sum_bytes))).toMap
    got shouldBe expected(data)
  }

  test("PLAIN uncompressed: sums match the written values, nulls " +
      "tracked through the def levels") {
    val data = rows(5000)
    check(write(data, "uncompressed", dict = false), data)
  }

  test("snappy + dictionary (Spark defaults): the dict page, the " +
      "RLE/bit-packed index pages and the per-page snappy frames all " +
      "decode to the same sums") {
    val data = rows(5000)
    check(write(data, "snappy", dict = true), data)
  }

  test("multiple row groups and pages: per-chunk walks restart " +
      "cleanly at every row-group boundary") {
    val data = rows(60000)
    check(write(data, "snappy", dict = true, blockSize = 8 * 1024), data)
    check(write(data, "uncompressed", dict = false,
      blockSize = 8 * 1024), data)
  }

  test("gzip pages: each page a complete RFC 1952 member, CRC+ISIZE " +
      "exact; same sums through a third byte path") {
    val data = rows(5000)
    check(write(data, "gzip", dict = true), data)
    check(write(data, "gzip", dict = false, blockSize = 8 * 1024), data)
  }

  test("row-group stats pruning: sorted artifact, selective predicate " +
      "— skipped groups never touch a page and the masked sums match " +
      "a full filter") {
    val data = rows(60000)
    val bytes = write(data, "snappy", dict = true, blockSize = 8 * 1024)
    val lo = 10000L; val hi = 12345L
    val got = ParquetFile.parsePrunedSum(1L, bytes, "id", "v", lo, hi)
    got.valid shouldBe true
    got.n_rgs should be > 3L
    got.n_rgs_scanned should be < got.n_rgs // pruning actually happened
    val want = data.filter(t => t._1 >= lo && t._1 <= hi)
    got.n_rows_matched shouldBe want.length.toLong
    got.sum_key shouldBe want.map(_._1).sum
    got.sum_val shouldBe want.flatMap(_._2).sum // nulls drop from sum
    // a predicate with NO matching group scans nothing
    val none = ParquetFile.parsePrunedSum(2L, bytes, "id", "v",
      900000L, 990000L)
    none.valid shouldBe true
    none.n_rgs_scanned shouldBe 0L
    none.n_rows_matched shouldBe 0L
    // whole-range predicate = the unpruned truth
    val all = ParquetFile.parsePrunedSum(3L, bytes, "id", "v",
      Long.MinValue, Long.MaxValue)
    all.n_rows_matched shouldBe data.length.toLong
    all.n_rgs_scanned shouldBe all.n_rgs
    all.sum_val shouldBe data.flatMap(_._2).sum
  }

  test("OffsetIndex/ColumnIndex decode matches parquet-mr's own index " +
      "reader field by field") {
    val data = rows(60000)
    val (path, bytes) = writeP(data, "snappy", dict = true,
      blockSize = 8 * 1024)
    val meta = ParquetFile.parseFooterMeta(bytes)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path),
      spark.sparkContext.hadoopConfiguration)
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = rdr.getFooter.getBlocks
      for (bi <- meta.rowGroups.indices; ci <- 0 until 3) {
        val c = meta.rowGroups(bi).chunks(ci)
        val rc = blocks.get(bi).getColumns.get(ci)
        val mrOi = rdr.readOffsetIndex(rc)
        val myOi = ParquetFile.readOffsetIndex(bytes, c.oiOff, c.oiLen)
        myOi.length shouldBe mrOi.getPageCount
        for (p <- myOi.indices) {
          myOi(p).off shouldBe mrOi.getOffset(p)
          myOi(p).size shouldBe mrOi.getCompressedPageSize(p)
          myOi(p).firstRow shouldBe mrOi.getFirstRowIndex(p)
        }
        val mrCi = rdr.readColumnIndex(rc)
        val myCi = ParquetFile.readColumnIndex(bytes, c.ciOff, c.ciLen,
          c.ptype)
        myCi.nullPages.length shouldBe myOi.length
        for (p <- myOi.indices) {
          myCi.nullPages(p) shouldBe mrCi.getNullPages.get(p)
          if (c.ptype == 2 && !myCi.nullPages(p)) {
            val mn = mrCi.getMinValues.get(p).order(
              java.nio.ByteOrder.LITTLE_ENDIAN).getLong(0)
            val mx = mrCi.getMaxValues.get(p).order(
              java.nio.ByteOrder.LITTLE_ENDIAN).getLong(0)
            myCi.mins(p) shouldBe Some(mn)
            myCi.maxs(p) shouldBe Some(mx)
          }
        }
      }
    } finally rdr.close()
  }

  test("page-level pruning: key pages outside the predicate are never " +
      "decoded, value pages outside the hit bitmap are never touched, " +
      "and the masked sums match a full filter") {
    val data = rows(60000)
    val bytes = write(data, "snappy", dict = true, blockSize = 8 * 1024)
    val lo = 20000L; val hi = 21500L
    val got = ParquetFile.parsePagePrunedSum(1L, bytes, "id", "v", lo, hi)
    got.valid shouldBe true
    got.n_pages_key should be > 3L
    got.n_pages_key_scanned should be < got.n_pages_key
    got.n_pages_val_scanned should be < got.n_pages_val
    val want = data.filter(t => t._1 >= lo && t._1 <= hi)
    got.n_rows_matched shouldBe want.length.toLong
    got.sum_key shouldBe want.map(_._1).sum
    got.sum_val shouldBe want.flatMap(_._2).sum
    // whole range decodes every key page and reproduces the truth
    val all = ParquetFile.parsePagePrunedSum(2L, bytes, "id", "v",
      Long.MinValue, Long.MaxValue)
    all.n_pages_key_scanned shouldBe all.n_pages_key
    all.n_rows_matched shouldBe data.length.toLong
    all.sum_val shouldBe data.flatMap(_._2).sum
    // empty range touches nothing
    val none = ParquetFile.parsePagePrunedSum(3L, bytes, "id", "v",
      900000L, 990000L)
    none.n_pages_key_scanned shouldBe 0L
    none.n_pages_val_scanned shouldBe 0L
  }

  test("V2 writer layout: DataPageHeaderV2 with raw levels, " +
      "DELTA_BINARY_PACKED ints and DELTA_BYTE_ARRAY strings decode " +
      "to the same sums (r10)") {
    val data = rows(5000)
    // no dictionary → the V2 writer's native delta encodings
    check(writeP(data, "uncompressed", dict = false,
      writerVersion = "PARQUET_2_0")._2, data)
    // dict path under V2 (RLE_DICTIONARY) + snappy-compressed values
    check(writeP(data, "snappy", dict = true,
      writerVersion = "PARQUET_2_0")._2, data)
    // gzip values section
    check(writeP(data, "gzip", dict = false,
      writerVersion = "PARQUET_2_0")._2, data)
    // multi row group + page boundaries
    check(writeP(data ++ rows(40000), "snappy", dict = false,
      blockSize = 8 * 1024, writerVersion = "PARQUET_2_0")._2,
      data ++ rows(40000))
  }

  test("V2 + page index: page-level pruning works on the V2 layout " +
      "too") {
    val data = rows(60000)
    val bytes = writeP(data, "snappy", dict = false,
      blockSize = 8 * 1024, writerVersion = "PARQUET_2_0")._2
    val lo = 30000L; val hi = 31000L
    val got = ParquetFile.parsePagePrunedSum(1L, bytes, "id", "v", lo, hi)
    got.valid shouldBe true
    got.n_pages_key_scanned should be < got.n_pages_key
    val want = data.filter(t => t._1 >= lo && t._1 <= hi)
    got.n_rows_matched shouldBe want.length.toLong
    got.sum_key shouldBe want.map(_._1).sum
    got.sum_val shouldBe want.flatMap(_._2).sum
  }

  test("page CRC is verified: a bit flip in page data is caught even " +
      "where sums would still be computable") {
    val data = rows(2000)
    val bytes = write(data, "uncompressed", dict = false)
    // locate the first data page region (after magic, before footer)
    // and flip one byte; CRC must reject the file
    val m = bytes.clone()
    m(100) = (m(100) ^ 0x10).toByte
    val out = ParquetFile.parseColumnSums(1L, m)
    out.exists(_.valid) shouldBe false
  }

  test("never-throw under truncation and fuzz") {
    val data = rows(300)
    val bytes = write(data, "snappy", dict = true)
    for (keep <- Seq(0, 4, 100, bytes.length / 2, bytes.length - 1)) {
      val t = java.util.Arrays.copyOf(bytes, keep)
      ParquetFile.parseColumnSums(2L, t).exists(_.valid) shouldBe false
    }
    val rnd = new scala.util.Random(5)
    for (_ <- 0 until 300) {
      val m = bytes.clone()
      val i = rnd.nextInt(m.length)
      m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
      ParquetFile.parseColumnSums(3L, m) // must not throw
    }
  }

  test("decodeColumnSums runs map-side over a Dataset and agrees with " +
      "a Spark read of the same file") {
    import spark.implicits._
    val data = rows(1200)
    val bytes = write(data, "snappy", dict = true)
    val ds = spark.createDataset(Seq((4L, bytes)))
    val got = ParquetFile.decodeColumnSums(ds).collect()
      .map(r => r.col_path -> r.sum_long).toMap
    // cross-check against Spark's own reader over a fresh write
    val dir = Files.createTempDirectory("graft_pqp_x_").toString
    data.toDF("id", "v", "s").write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
      .agg(org.apache.spark.sql.functions.sum("id"),
        org.apache.spark.sql.functions.sum("v")).head()
    got("id") shouldBe back.getLong(0)
    got("v") shouldBe back.getLong(1)
  }
}
