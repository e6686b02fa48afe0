package graft

import graft.operators.{ParquetFile, ParquetWrite}
import java.nio.file.Files

/** Our Parquet WRITER (q216): Spark's reader, parquet-mr and our own
  * reader all consume files this codec produced. */
class ParquetWriteSpec extends SparkSpec {

  private def sample(n: Int): (Array[Long], Array[Long], Array[String]) =
    ((0 until n).map(_.toLong * 3).toArray,
      (0 until n).map(i => (i.toLong * 7) % 500 - 100).toArray,
      (0 until n).map(i => "é" * (i % 3) + "v" + i).toArray)

  private def fileBytes(n: Int): Array[Byte] = {
    val (ids, vs, ss) = sample(n)
    ParquetWrite.writeFile(Seq(
      ParquetWrite.LongCol("id", ids),
      ParquetWrite.LongCol("v", vs),
      ParquetWrite.StrCol("s", ss)))
  }

  test("Spark's own reader consumes our bytes: values, schema and " +
      "row count all round-trip") {
    val n = 5000
    val dir = Files.createTempDirectory("graft_pqw_").toString
    Files.write(java.nio.file.Paths.get(s"$dir/part-0.parquet"),
      fileBytes(n))
    val back = spark.read.parquet(dir)
    back.schema.fieldNames.toSeq shouldBe Seq("id", "v", "s")
    back.count() shouldBe n.toLong
    val (ids, vs, ss) = sample(n)
    val row = back.agg(
      org.apache.spark.sql.functions.sum("id"),
      org.apache.spark.sql.functions.sum("v"),
      org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("s")))).head()
    row.getLong(0) shouldBe ids.sum
    row.getLong(1) shouldBe vs.sum
    row.getLong(2) shouldBe ss.map(_.length.toLong).sum
    // spot-check exact row content through a filter
    val one = back.where("id = 63").head()
    one.getLong(1) shouldBe vs(21)
    one.getString(2) shouldBe ss(21)
  }

  test("parquet-mr's reader agrees on the footer it sees, including " +
      "our statistics") {
    val n = 2000
    val dir = Files.createTempDirectory("graft_pqw_mr_").toString
    val p = s"$dir/f.parquet"
    Files.write(java.nio.file.Paths.get(p), fileBytes(n))
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p),
      spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val ft = r.getFooter
      ft.getBlocks.size() shouldBe 1
      val bl = ft.getBlocks.get(0)
      bl.getRowCount shouldBe n.toLong
      bl.getColumns.size() shouldBe 3
      val idc = bl.getColumns.get(0)
      idc.getPath.toDotString shouldBe "id"
      idc.getValueCount shouldBe n.toLong
      val st = idc.getStatistics
        .asInstanceOf[org.apache.parquet.column.statistics.LongStatistics]
      st.getMin shouldBe 0L
      st.getMax shouldBe (n - 1).toLong * 3
      // and parquet-mr can READ the pages, not just the footer
      val pages = r.readNextRowGroup()
      pages should not be null
    } finally r.close()
  }

  test("our own reader closes the loop: writer -> reader round trip " +
      "on every decoded aggregate") {
    val n = 1234
    val (ids, vs, ss) = sample(n)
    val bytes = fileBytes(n)
    val rows = ParquetFile.parseColumnSums(1L, bytes)
    rows.forall(_.valid) shouldBe true
    val byPath = rows.map(r => r.col_path -> r).toMap
    byPath("id").n_values shouldBe n.toLong
    byPath("id").n_nonnull shouldBe n.toLong // REQUIRED: no nulls
    byPath("id").sum_long shouldBe ids.sum
    byPath("v").sum_long shouldBe vs.sum
    byPath("s").sum_blen shouldBe
      ss.map(_.getBytes("UTF-8").length.toLong).sum
    byPath("s").sum_bytes shouldBe
      ss.map(_.getBytes("UTF-8").map(b => (b & 0xff).toLong).sum).sum
    // the pruned read works against our own stats too
    val pruned = ParquetFile.parsePrunedSum(2L, bytes, "id", "v",
      300L, 900L)
    pruned.valid shouldBe true
    val want = ids.zip(vs).filter(t => t._1 >= 300L && t._1 <= 900L)
    pruned.n_rows_matched shouldBe want.length.toLong
    pruned.sum_val shouldBe want.map(_._2).sum
  }

  test("DuckDB-grade strictness holds: a corrupted byte breaks the " +
      "reader, and ragged/empty inputs are rejected at write time") {
    intercept[IllegalArgumentException] {
      ParquetWrite.writeFile(Nil)
    }
    intercept[IllegalArgumentException] {
      ParquetWrite.writeFile(Seq(
        ParquetWrite.LongCol("a", Array(1L)),
        ParquetWrite.LongCol("b", Array(1L, 2L))))
    }
    intercept[IllegalArgumentException] {
      ParquetWrite.writeFile(Seq(
        ParquetWrite.LongCol("a", Array.emptyLongArray)))
    }
    val bytes = fileBytes(100)
    val m = bytes.clone()
    m(m.length - 9) = (m(m.length - 9) ^ 0x40).toByte // inside footer
    ParquetFile.parse(1L, m).exists(_.valid) shouldBe false
  }

  // ---- r11 surface: OPTIONAL columns, dictionary encoding,
  // multi-row-group files, stats-driven row-group pruning (q220) ----

  import org.apache.spark.sql.functions.col

  /** Adversarial null patterns for the def-level encoder: alternating
    * (pure bit-packed), long runs (pure RLE), head/tail nulls and a
    * mixed stretch crossing the mid-stream flush boundaries. */
  private def nullPattern(i: Int): Boolean =
    if (i < 10) true // leading nulls
    else if (i < 100) i % 2 == 0 // alternating
    else if (i < 400) false // long non-null run
    else if (i < 450) true // long null run
    else if (i >= 990) true // trailing nulls
    else i % 7 == 0 || i % 11 == 3 // irregular

  test("OPTIONAL columns: Spark reads every value and null position " +
      "exactly, across adversarial def-level patterns") {
    val n = 1000
    val ol = (0 until n).map(i =>
      if (nullPattern(i)) null else java.lang.Long.valueOf(i * 13L))
      .toArray
    val os = (0 until n).map(i =>
      if (nullPattern(n - 1 - i)) null else s"v${i}é").toArray
    val dir = Files.createTempDirectory("graft_pqw_opt_").toString
    Files.write(java.nio.file.Paths.get(s"$dir/f.parquet"),
      ParquetWrite.writeFile(Seq(
        ParquetWrite.LongCol("id", (0 until n).map(_.toLong).toArray),
        ParquetWrite.OptLongCol("ov", ol),
        ParquetWrite.OptStrCol("os", os))))
    val back = spark.read.parquet(dir).orderBy("id").collect()
    back.length shouldBe n
    (0 until n).foreach { i =>
      val r = back(i)
      withClue(s"row $i: ") {
        if (ol(i) == null) r.isNullAt(1) shouldBe true
        else r.getLong(1) shouldBe ol(i).longValue()
        if (os(i) == null) r.isNullAt(2) shouldBe true
        else r.getString(2) shouldBe os(i)
      }
    }
  }

  test("dictionary encoding: chosen when values repeat, declared in " +
      "the footer, and Spark decodes the indices back") {
    val n = 3000
    val langs = Array("en", "de", "fr", "zh", "es")
    val ls = (0 until n).map(i => langs(i % 5)).toArray
    val dir = Files.createTempDirectory("graft_pqw_dict_").toString
    val p = s"$dir/f.parquet"
    Files.write(java.nio.file.Paths.get(p),
      ParquetWrite.writeFile(Seq(
        ParquetWrite.LongCol("id", (0 until n).map(_.toLong).toArray),
        ParquetWrite.StrCol("lang", ls))))
    // parquet-mr's view: the chunk declares PLAIN_DICTIONARY and has
    // a dictionary page offset
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p),
      spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val cc = r.getFooter.getBlocks.get(0).getColumns.get(1)
      cc.getEncodings.contains(
        org.apache.parquet.column.Encoding.PLAIN_DICTIONARY) shouldBe true
      cc.getDictionaryPageOffset should be > 0L
    } finally r.close()
    // Spark's view: values decode through the dictionary
    val counts = spark.read.parquet(dir).groupBy("lang").count()
      .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
    counts shouldBe langs.map(_ -> (n / 5).toLong).toMap
  }

  test("multi-row-group: parquet-mr sees the groups with per-group " +
      "stats; our reader and Spark both sum across them") {
    val n = 1024
    val ids = (0 until n).map(_.toLong * 2).toArray
    val bytes = ParquetWrite.writeFile(Seq(
      ParquetWrite.LongCol("id", ids)), rowsPerGroup = 128)
    val meta = ParquetFile.parse(7L, bytes)
    meta.forall(_.valid) shouldBe true
    meta.map(_.rg).distinct.size shouldBe 8
    // per-group stats are the tight slice ranges
    meta.sortBy(_.rg).zipWithIndex.foreach { case (c, g) =>
      c.has_stats shouldBe true
      c.min_long shouldBe g.toLong * 128 * 2
      c.max_long shouldBe (g.toLong * 128 + 127) * 2
    }
    val dir = Files.createTempDirectory("graft_pqw_rg_").toString
    Files.write(java.nio.file.Paths.get(s"$dir/f.parquet"), bytes)
    spark.read.parquet(dir).agg(
      org.apache.spark.sql.functions.sum("id")).head()
      .getLong(0) shouldBe ids.sum
  }

  test("q220's scale claim: Spark PRUNES row groups on OUR stats — " +
      "the selective scan outputs a fraction of the file's rows") {
    val n = 1024
    val ids = (0 until n).map(_.toLong * 3).toArray // sorted, tight RGs
    val dir = Files.createTempDirectory("graft_pqw_prune_").toString
    Files.write(java.nio.file.Paths.get(s"$dir/f.parquet"),
      ParquetWrite.writeFile(Seq(
        ParquetWrite.LongCol("id", ids),
        ParquetWrite.OptLongCol("v", ids.map(v =>
          java.lang.Long.valueOf(v % 97)))), rowsPerGroup = 128))
    val df = spark.read.parquet(dir).where(col("id") < 640L)
    val got = df.collect()
    got.length shouldBe ids.count(_ < 640L)
    // the scan's output-row metric counts rows SURVIVING row-group
    // pruning (the post-scan filter trims the rest): 2 of 8 groups
    // overlap [min, 640) -> 256 rows, not 1024
    val scan = df.queryExecution.executedPlan.collectLeaves().head
    val scanned = scan.metrics("numOutputRows").value
    withClue(s"scan emitted $scanned rows: ") {
      scanned should be <= 256L
      scanned should be < n.toLong
    }
  }

  test("PAGE INDEX (r11): parquet-mr reads our ColumnIndex and " +
      "OffsetIndex; our own q209 decoder agrees") {
    val n = 1024
    val ids = (0 until n).map(_.toLong * 2).toArray
    val ov = (0 until n).map(i =>
      if (i % 5 == 0) null else java.lang.Long.valueOf(i.toLong))
      .toArray
    val bytes = ParquetWrite.writeFile(Seq(
      ParquetWrite.LongCol("id", ids),
      ParquetWrite.OptLongCol("ov", ov)), pageRows = 128)
    val dir = Files.createTempDirectory("graft_pqw_pi_").toString
    val p = s"$dir/f.parquet"
    Files.write(java.nio.file.Paths.get(p), bytes)
    // parquet-mr's view
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p),
      spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val cc = r.getFooter.getBlocks.get(0).getColumns.get(0)
      val oi = r.readOffsetIndex(cc)
      oi.getPageCount shouldBe 8
      (0 until 8).foreach { pg =>
        oi.getFirstRowIndex(pg) shouldBe pg.toLong * 128
      }
      val ci = r.readColumnIndex(cc)
      val mins = ci.getMinValues; val maxs = ci.getMaxValues
      (0 until 8).foreach { pg =>
        java.nio.ByteBuffer.wrap(mins.get(pg).array())
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .getLong shouldBe pg.toLong * 128 * 2
        java.nio.ByteBuffer.wrap(maxs.get(pg).array())
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .getLong shouldBe (pg.toLong * 128 + 127) * 2
      }
      val cc2 = r.getFooter.getBlocks.get(0).getColumns.get(1)
      val ci2 = r.readColumnIndex(cc2)
      val nc = ci2.getNullCounts
      (0 until 8).foreach { pg =>
        // every 5th row null: ceil(128/5)-ish per page, exact count
        val want = (pg * 128 until (pg + 1) * 128).count(_ % 5 == 0)
        nc.get(pg).longValue() shouldBe want.toLong
      }
    } finally r.close()
    // our own q209 decoder consumes the same structures
    val meta = ParquetFile.parseFooterMeta(bytes)
    val c0 = meta.rowGroups.head.chunks.head
    val locs = ParquetFile.readOffsetIndex(bytes, c0.oiOff, c0.oiLen)
    locs.length shouldBe 8
    locs.map(_.firstRow) shouldBe
      (0 until 8).map(_.toLong * 128).toVector
    val ciOwn = ParquetFile.readColumnIndex(bytes, c0.ciOff, c0.ciLen,
      c0.ptype)
    ciOwn.mins.map(_.get) shouldBe
      (0 until 8).map(pg => pg.toLong * 128 * 2).toVector
    ciOwn.maxs.map(_.get) shouldBe
      (0 until 8).map(pg => (pg.toLong * 128 + 127) * 2).toVector
  }

  test("PAGE-level pruning: Spark's scan skips pages of OUR file on " +
      "our written column index") {
    val n = 2048
    val ids = (0 until n).map(_.toLong).toArray // sorted: tight pages
    val dir = Files.createTempDirectory("graft_pqw_pp_").toString
    Files.write(java.nio.file.Paths.get(s"$dir/f.parquet"),
      ParquetWrite.writeFile(Seq(
        ParquetWrite.LongCol("id", ids),
        ParquetWrite.OptLongCol("v", ids.map(v =>
          java.lang.Long.valueOf(v % 31)))), pageRows = 128))
    // ONE row group, 16 pages: only the column index can cut below
    // the row-group grain
    val df = spark.read.parquet(dir).where(col("id") < 200L)
    df.collect().length shouldBe 200
    val scan = df.queryExecution.executedPlan.collectLeaves().head
    val emitted = scan.metrics("numOutputRows").value
    withClue(s"scan emitted $emitted rows: ") {
      emitted should be < n.toLong // below the row group = page skip
      emitted should be <= 256L // 2 of 16 pages
    }
  }

  test("PAGE edge: dictionary indices slice correctly across pages " +
      "and the index carries dict-page bounds") {
    val n = 600
    val vs = (0 until n).map(i => s"v${i % 7}").toArray // dict kicks in
    val dir = Files.createTempDirectory("graft_pqw_dp_").toString
    Files.write(java.nio.file.Paths.get(s"$dir/f.parquet"),
      ParquetWrite.writeFile(Seq(
        ParquetWrite.LongCol("id", (0 until n).map(_.toLong).toArray),
        ParquetWrite.StrCol("s", vs)), pageRows = 100))
    val back = spark.read.parquet(dir).orderBy("id").collect()
    back.length shouldBe n
    (0 until n).foreach(i => back(i).getString(1) shouldBe vs(i))
    // and the chunk really is dictionary-encoded with 6 pages
    val bytes = Files.readAllBytes(
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath)
    val c = ParquetFile.parseFooterMeta(bytes).rowGroups.head.chunks(1)
    c.dictPageOff should be > 0L
    ParquetFile.readOffsetIndex(bytes, c.oiOff, c.oiLen)
      .length shouldBe 6
  }

  test("PAGE edge: an all-null page lands as null_page=true with " +
      "empty bounds and a full null count") {
    val n = 300 // pages of 100: page 1 (rows 100..199) fully null
    val ov = (0 until n).map(i =>
      if (i >= 100 && i < 200) null else java.lang.Long.valueOf(i.toLong))
      .toArray
    val bytes = ParquetWrite.writeFile(Seq(
      ParquetWrite.LongCol("id", (0 until n).map(_.toLong).toArray),
      ParquetWrite.OptLongCol("ov", ov)), pageRows = 100)
    val c = ParquetFile.parseFooterMeta(bytes).rowGroups.head.chunks(1)
    val ci = ParquetFile.readColumnIndex(bytes, c.ciOff, c.ciLen,
      c.ptype)
    ci.nullPages shouldBe Vector(false, true, false)
    ci.mins(1) shouldBe None // empty binary on the null page
    ci.maxs(1) shouldBe None
    ci.mins(0) shouldBe Some(0L)
    ci.maxs(2) shouldBe Some(299L)
    // Spark still reads every value and null position
    val dir = Files.createTempDirectory("graft_pqw_np_").toString
    Files.write(java.nio.file.Paths.get(s"$dir/f.parquet"), bytes)
    val back = spark.read.parquet(dir).orderBy("id").collect()
    (0 until n).foreach { i =>
      if (ov(i) == null) back(i).isNullAt(1) shouldBe true
      else back(i).getLong(1) shouldBe ov(i).longValue()
    }
  }

  test("our own reader consumes the widened surface: optional + " +
      "dictionary + multi-group files round-trip with null accounting") {
    val n = 900
    val ov = (0 until n).map(i =>
      if (i % 4 == 0) null else java.lang.Long.valueOf((i % 9).toLong))
      .toArray // few distinct -> dictionary; every 4th null
    val bytes = ParquetWrite.writeFile(Seq(
      ParquetWrite.LongCol("id", (0 until n).map(_.toLong).toArray),
      ParquetWrite.OptLongCol("ov", ov)), rowsPerGroup = 200)
    val rows = ParquetFile.parseColumnSums(3L, bytes)
    rows.forall(_.valid) shouldBe true
    val by = rows.map(r => r.col_path -> r).toMap
    by("ov").n_values shouldBe n.toLong
    by("ov").n_nonnull shouldBe ov.count(_ != null).toLong
    by("ov").sum_long shouldBe
      ov.filter(_ != null).map(_.longValue()).sum
  }

  // ================================================================
  // r12 type surface: DOUBLE/FLOAT flat columns and array<T> LIST
  // columns — the engine's own embedding tables can now live in
  // own-codec files.
  // ================================================================

  /** id, score double (every 7th null), w float, emb array<float>
    * with all four def-level fates: null list (i%11==0), empty list
    * (i%13==0), null element (j==2 when i%5==0), values. */
  private def fpSample(n: Int): (Array[java.lang.Double], Array[Float],
      Array[Array[java.lang.Float]]) = {
    val score = (0 until n).map(i =>
      if (i % 7 == 0) null
      else java.lang.Double.valueOf(i * 0.25 - 30.0)).toArray
    val w = (0 until n).map(i => (i % 17).toFloat / 4f).toArray
    val emb = (0 until n).map { i =>
      if (i % 11 == 0) null
      else if (i % 13 == 0) Array.empty[java.lang.Float]
      else Array.tabulate[java.lang.Float](1 + i % 4) { j =>
        if (j == 2 && i % 5 == 0) null
        else java.lang.Float.valueOf((i * 4 + j).toFloat / 8f)
      }
    }.toArray
    (score, w, emb)
  }

  private def fpFileBytes(n: Int, rowsPerGroup: Int,
      pageRows: Int): Array[Byte] = {
    val (score, w, emb) = fpSample(n)
    ParquetWrite.writeFile(Seq(
      ParquetWrite.LongCol("id", (0 until n).map(_.toLong).toArray),
      ParquetWrite.OptDoubleCol("score", score),
      ParquetWrite.FloatCol("w", w),
      ParquetWrite.FloatListCol("emb", emb)),
      rowsPerGroup = rowsPerGroup, pageRows = pageRows)
  }

  test("r12 fp + list surface: Spark reads our double/float/" +
      "array<float> file exactly — every value, null fate and the " +
      "schema tree") {
    val n = 1100
    val dir = Files.createTempDirectory("graft_pqw_fp_").toString
    Files.write(java.nio.file.Paths.get(s"$dir/f.parquet"),
      fpFileBytes(n, rowsPerGroup = 256, pageRows = 64))
    val back = spark.read.parquet(dir)
    import org.apache.spark.sql.types._
    back.schema("score").dataType shouldBe DoubleType
    back.schema("w").dataType shouldBe FloatType
    back.schema("emb").dataType shouldBe
      ArrayType(FloatType, containsNull = true)
    val rows = back.orderBy("id").collect()
    rows.length shouldBe n
    val (score, w, emb) = fpSample(n)
    (0 until n).foreach { i =>
      if (score(i) == null) rows(i).isNullAt(1) shouldBe true
      else rows(i).getDouble(1) shouldBe score(i).doubleValue()
      rows(i).getFloat(2) shouldBe w(i)
      if (emb(i) == null) rows(i).isNullAt(3) shouldBe true
      else {
        val a = rows(i).getSeq[Any](3)
        a.length shouldBe emb(i).length
        emb(i).zipWithIndex.foreach { case (e, j) =>
          if (e == null) (a(j) == null) shouldBe true
          else a(j) shouldBe e.floatValue()
        }
      }
    }
  }

  test("r12 list chunks decode through OUR q219 Dremel reader: row " +
      "fates and the quantized element sum replay") {
    val n = 800
    val bytes = fpFileBytes(n, rowsPerGroup = 300, pageRows = 70)
    val r = ParquetFile.listSums(5L, bytes, "emb.list.element", 1024.0)
    r.valid shouldBe true
    val (_, _, emb) = fpSample(n)
    r.n_rows shouldBe n.toLong
    r.n_null_rows shouldBe emb.count(_ == null).toLong
    r.n_empty shouldBe
      emb.count(e => e != null && e.isEmpty).toLong
    r.n_null_elems shouldBe
      emb.filter(_ != null).map(_.count(_ == null).toLong).sum
    r.n_elems shouldBe
      emb.filter(_ != null).map(_.count(_ != null).toLong).sum
    r.sum_q shouldBe emb.filter(_ != null).flatMap(_.toSeq)
      .filter(_ != null)
      .map(e => math.floor(e.floatValue().toDouble * 1024.0).toLong)
      .sum
  }

  test("r12 fp statistics: parquet-mr sees our double min/max and " +
      "Spark prunes row groups on them") {
    val n = 1000
    val dir = Files.createTempDirectory("graft_pqw_fps_").toString
    val p = s"$dir/f.parquet"
    // key-clustered doubles: group g covers [g*25.0, ...)
    val bytes = ParquetWrite.writeFile(Seq(
      ParquetWrite.LongCol("id", (0 until n).map(_.toLong).toArray),
      ParquetWrite.DoubleCol("x",
        (0 until n).map(i => i * 0.1).toArray)),
      rowsPerGroup = 250)
    Files.write(java.nio.file.Paths.get(p), bytes)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p),
      spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks
      blocks.size() shouldBe 4
      val st0 = blocks.get(0).getColumns.get(1).getStatistics
      st0.genericGetMin() shouldBe 0.0
      st0.genericGetMax() shouldBe 249 * 0.1
    } finally r.close()
    // Spark's scan must skip groups outside the predicate window
    val picked = spark.read.parquet(dir).where("x >= 75.0")
    picked.count() shouldBe 250L
    // NaN poisons ordering -> the writer must drop stats, and the
    // values must still read back (no index lie)
    val nb = ParquetWrite.writeFile(Seq(
      ParquetWrite.LongCol("id", Array(0L, 1L, 2L)),
      ParquetWrite.DoubleCol("x",
        Array(1.0, Double.NaN, 3.0))))
    val dir2 = Files.createTempDirectory("graft_pqw_nan_").toString
    Files.write(java.nio.file.Paths.get(s"$dir2/f.parquet"), nb)
    val vals = spark.read.parquet(dir2).orderBy("id")
      .collect().map(_.getDouble(1))
    vals(0) shouldBe 1.0
    vals(1).isNaN shouldBe true
    vals(2) shouldBe 3.0
  }
}
