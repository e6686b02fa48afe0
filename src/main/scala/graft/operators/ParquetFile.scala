package graft.operators

import org.apache.spark.sql.Dataset

/** Dependency-free Parquet FOOTER walk — the lakehouse container
  * itself. Every table this engine reads or writes is Parquet; at
  * 100 TB the footer is the scan planner's whole world (row-group
  * pruning, predicate min/max skipping, size-based split planning all
  * read ONLY this structure). The codec decodes what `parquet-mr`
  * writes, from the public parquet-format spec:
  *
  *  - file framing: `PAR1` magic at BOTH ends, 4-byte LE footer
  *    length ending 8 bytes before EOF (`format/README.md`);
  *  - the footer itself is a Thrift **compact-protocol** message
  *    (`FileMetaData` in `parquet.thrift`) — short-form field
  *    headers `(idDelta << 4) | type` with per-struct delta state,
  *    long-form headers (zigzag varint id) when the delta overflows
  *    15, booleans carried IN the type nibble, zigzag varints for
  *    all ints, varint-length binaries, size-and-type list headers
  *    with the 15-element escape, and STOP-terminated structs —
  *    UNKNOWN fields are skipped structurally (forward compat, the
  *    protocol's design point), so new writer fields never break
  *    the walk;
  *  - decoded surface: version, num_rows, created_by, the flattened
  *    schema tree (leaf paths via the num_children walk), and per
  *    row group / per column chunk: type, codec, encodings,
  *    num_values, compressed/uncompressed sizes, data/dict page
  *    offsets, and `Statistics.min_value`/`max_value` (field 5/6,
  *    the TYPE_DEFINED_ORDER pair — the deprecated 1/2 pair is
  *    ignored) decoded as little-endian INT32/INT64;
  *  - structural gates: leaf count must match every chunk's
  *    `path_in_schema`, row-group `num_rows` must sum to the file's
  *    `num_rows` — a walk that mis-skips one field fails them.
  *
  * Verification is differential against the REAL writer: the spec
  * and the gated query decode files written by Spark's parquet-mr,
  * not by this codec — the JPEG-vs-JDK stance (`Jpeg.scala`).
  *
  * Malformed → `valid=false`, never a throw (q134). Bounds in Long
  * (ADVICE r8); varints are rejected past 10 bytes; nesting depth
  * capped (zip-bomb stance for recursive skips).
  *
  * 100 TB shape: footers are KBs regardless of file size — the walk
  * is pure map-side over `binaryFile` rows behind the imperative
  * codec seam; page/data bytes are never touched. */
object ParquetFile {

  /** One row per (row group, leaf column chunk); `rg < 0` never
    * happens on valid files. Invalid file → one all-zero row. */
  final case class ColChunkMeta(
      media_id: Long, rg: Int, col_path: String, ptype: Int,
      codec: Int, n_values: Long, total_compressed: Long,
      total_uncompressed: Long, data_page_off: Long,
      dict_page_off: Long, min_long: Long, max_long: Long,
      has_stats: Boolean, rg_rows: Long, file_rows: Long,
      n_rgs: Int, valid: Boolean)

  // ---- decoded model (internal + spec use) ----
  private[graft] final case class Stats(
      minLong: Option[Long], maxLong: Option[Long],
      nullCount: Option[Long])
  private[graft] final case class Chunk(
      path: String, ptype: Int, codec: Int, encodings: Vector[Int],
      numValues: Long, totalCompressed: Long, totalUncompressed: Long,
      dataPageOff: Long, dictPageOff: Long, stats: Stats,
      oiOff: Long = -1L, oiLen: Int = -1, ciOff: Long = -1L,
      ciLen: Int = -1, bloomOff: Long = -1L, bloomLen: Int = -1)
  private[graft] final case class RowGroupMeta(
      numRows: Long, totalByteSize: Long, chunks: Vector[Chunk])
  /** `maxDef`/`maxRep` from the ancestor chain (OPTIONAL/REPEATED
    * counts) — what the page decoder needs to size its level runs.
    * `repDef` is the def level AT the innermost repeated node (0 when
    * the column is flat): the Dremel assembly (q219) reads entry fates
    * off it — def < repDef-1 ⇒ null row, repDef-1 ⇒ empty list,
    * repDef ⇒ null element (when the element is optional),
    * maxDef ⇒ value. */
  private[graft] final case class Leaf(path: String, ptype: Int,
                                       maxDef: Int, maxRep: Int,
                                       repDef: Int = 0)
  private[graft] final case class FooterMeta(
      version: Int, numRows: Long, createdBy: String,
      leaves: Vector[Leaf], rowGroups: Vector[RowGroupMeta])

  private case object Malformed extends Exception {
    override def fillInStackTrace(): Throwable = this
  }
  private def fail(): Nothing = throw Malformed

  private val MaxDepth = 64

  // ---- Thrift compact-protocol reader ----
  private final class TReader(val raw: Array[Byte], var pos: Int,
                              val end: Int) {
    def u8(): Int = {
      if (pos >= end) fail(); val v = raw(pos) & 0xff; pos += 1; v
    }
    def varint(): Long = { // ULEB128, ≤10 bytes
      var v = 0L; var sh = 0; var n = 0
      while (n < 10) {
        val x = u8(); v |= (x & 0x7fL) << sh
        if ((x & 0x80) == 0) return v
        sh += 7; n += 1
      }
      fail()
    }
    def zigzag(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1L) }
    def bytes(): Array[Byte] = {
      val n = varint()
      if (n < 0 || n > end - pos) fail()
      val out = java.util.Arrays.copyOfRange(raw, pos, pos + n.toInt)
      pos += n.toInt; out
    }
    def skipN(n: Int): Unit = { if (n > end - pos) fail(); pos += n }
  }

  // compact type ids
  private val T_BOOL_T = 1; private val T_BOOL_F = 2
  private val T_BYTE = 3; private val T_I16 = 4; private val T_I32 = 5
  private val T_I64 = 6; private val T_DOUBLE = 7; private val T_BIN = 8
  private val T_LIST = 9; private val T_SET = 10; private val T_MAP = 11
  private val T_STRUCT = 12

  private def skipValue(r: TReader, tpe: Int, depth: Int): Unit = {
    if (depth > MaxDepth) fail()
    tpe match {
      case T_BOOL_T | T_BOOL_F => () // value lived in the nibble
      case T_BYTE              => r.skipN(1)
      case T_I16 | T_I32 | T_I64 => r.varint(): Unit
      case T_DOUBLE            => r.skipN(8)
      case T_BIN               => r.bytes(): Unit
      case T_LIST | T_SET =>
        val h = r.u8(); val et = h & 0x0f
        var n = (h >>> 4) & 0x0f
        if (n == 15) {
          val big = r.varint(); if (big < 0 || big > Int.MaxValue) fail()
          n = big.toInt
        }
        var i = 0
        while (i < n) { skipValue(r, et, depth + 1); i += 1 }
      case T_MAP =>
        val n = r.varint(); if (n < 0 || n > Int.MaxValue) fail()
        if (n > 0) {
          val kv = r.u8(); val kt = (kv >>> 4) & 0x0f; val vt = kv & 0x0f
          var i = 0L
          while (i < n) {
            skipValue(r, kt, depth + 1); skipValue(r, vt, depth + 1)
            i += 1
          }
        }
      case T_STRUCT => skipStruct(r, depth + 1)
      case _        => fail()
    }
  }

  private def skipStruct(r: TReader, depth: Int): Unit = {
    if (depth > MaxDepth) fail()
    var lastId = 0L
    var continue = true
    while (continue) {
      val h = r.u8()
      if (h == 0) continue = false
      else {
        val tpe = h & 0x0f; val delta = (h >>> 4) & 0x0f
        lastId = if (delta != 0) lastId + delta else r.zigzag()
        skipValue(r, tpe, depth)
      }
    }
  }

  /** Walk one struct, handing each (fieldId, type) to `f`; `f` must
    * consume the value exactly (or call skip via the reader). */
  private def readStruct(r: TReader, depth: Int)(
      f: (Long, Int) => Unit): Unit = {
    if (depth > MaxDepth) fail()
    var lastId = 0L
    var continue = true
    while (continue) {
      val h = r.u8()
      if (h == 0) continue = false
      else {
        val tpe = h & 0x0f; val delta = (h >>> 4) & 0x0f
        lastId = if (delta != 0) lastId + delta else r.zigzag()
        f(lastId, tpe)
      }
    }
  }

  private def listHeader(r: TReader, expect: Int): Int = {
    val h = r.u8(); val et = h & 0x0f
    if (et != expect) fail()
    var n = (h >>> 4) & 0x0f
    if (n == 15) {
      val big = r.varint(); if (big < 0 || big > Int.MaxValue) fail()
      n = big.toInt
    }
    n
  }

  private def i32Of(r: TReader, tpe: Int): Int = {
    if (tpe != T_I32 && tpe != T_I16 && tpe != T_BYTE) fail()
    if (tpe == T_BYTE) r.u8().toByte.toInt
    else {
      val v = r.zigzag()
      if (v < Int.MinValue || v > Int.MaxValue) fail()
      v.toInt
    }
  }
  private def i64Of(r: TReader, tpe: Int): Long = {
    if (tpe != T_I64 && tpe != T_I32 && tpe != T_I16) fail()
    r.zigzag()
  }
  private def strOf(r: TReader, tpe: Int): String = {
    if (tpe != T_BIN) fail()
    new String(r.bytes(), java.nio.charset.StandardCharsets.UTF_8)
  }

  private def leLong(b: Array[Byte]): Long = {
    var v = 0L; var i = b.length - 1
    while (i >= 0) { v = (v << 8) | (b(i) & 0xffL); i -= 1 }
    v
  }

  // ---- parquet.thrift structures ----

  private def readStatistics(r: TReader, ptype: Int): Stats = {
    var minL: Option[Long] = None; var maxL: Option[Long] = None
    var nulls: Option[Long] = None
    def decode(raw: Array[Byte]): Option[Long] = ptype match {
      case 1 => if (raw.length != 4) fail()
                Some(leLong(raw).toInt.toLong) // INT32 sign-extends
      case 2 => if (raw.length != 8) fail(); Some(leLong(raw))
      case _ => None
    }
    readStruct(r, 6) { (id, tpe) =>
      id match {
        case 3L => nulls = Some(i64Of(r, tpe))
        case 5L => if (tpe != T_BIN) fail(); maxL = decode(r.bytes())
        case 6L => if (tpe != T_BIN) fail(); minL = decode(r.bytes())
        case _  => skipValue(r, tpe, 6)
      }
    }
    Stats(minL, maxL, nulls)
  }

  private def readColumnMeta(r: TReader): Chunk = {
    var ptype = -1; var codec = -1
    var encodings = Vector.empty[Int]
    var path = Vector.empty[String]
    var numValues = -1L; var totUnc = -1L; var totCmp = -1L
    var dataOff = -1L; var dictOff = -1L
    var bloomOff = -1L; var bloomLen = -1
    var statsBytesStart = -1; var statsBytesEnd = -1
    readStruct(r, 5) { (id, tpe) =>
      id match {
        case 1L => ptype = i32Of(r, tpe)
        case 14L => bloomOff = i64Of(r, tpe)
        case 15L => bloomLen = i32Of(r, tpe)
        case 2L =>
          val n = listHeader(r, T_I32)
          var i = 0
          while (i < n) { encodings :+= i32Of(r, T_I32); i += 1 }
        case 3L =>
          val n = listHeader(r, T_BIN)
          var i = 0
          while (i < n) { path :+= strOf(r, T_BIN); i += 1 }
        case 4L => codec = i32Of(r, tpe)
        case 5L => numValues = i64Of(r, tpe)
        case 6L => totUnc = i64Of(r, tpe)
        case 7L => totCmp = i64Of(r, tpe)
        case 9L => dataOff = i64Of(r, tpe)
        case 11L => dictOff = i64Of(r, tpe)
        case 12L =>
          if (tpe != T_STRUCT) fail()
          statsBytesStart = r.pos
          skipStruct(r, 5)
          statsBytesEnd = r.pos
        case _ => skipValue(r, tpe, 5)
      }
    }
    if (ptype < 0 || codec < 0 || numValues < 0 || totUnc < 0 ||
        totCmp < 0 || dataOff < 0 || path.isEmpty) fail()
    // statistics are decoded AFTER type is known (field order in the
    // message is writer's choice; parquet-mr writes type first but
    // the protocol doesn't promise it)
    val stats =
      if (statsBytesStart < 0) Stats(None, None, None)
      else {
        val sr = new TReader(r.raw, statsBytesStart, statsBytesEnd)
        readStatistics(sr, ptype)
      }
    Chunk(path.mkString("."), ptype, codec, encodings, numValues,
      totCmp, totUnc, dataOff, dictOff, stats,
      bloomOff = bloomOff, bloomLen = bloomLen)
  }

  private def readColumnChunk(r: TReader): Chunk = {
    var meta: Chunk = null
    var oiOff = -1L; var oiLen = -1; var ciOff = -1L; var ciLen = -1
    readStruct(r, 4) { (id, tpe) =>
      id match {
        case 3L =>
          if (tpe != T_STRUCT) fail()
          meta = readColumnMeta(r)
        case 4L => oiOff = i64Of(r, tpe)
        case 5L => oiLen = i32Of(r, tpe)
        case 6L => ciOff = i64Of(r, tpe)
        case 7L => ciLen = i32Of(r, tpe)
        case _  => skipValue(r, tpe, 4)
      }
    }
    if (meta == null) fail()
    meta.copy(oiOff = oiOff, oiLen = oiLen, ciOff = ciOff, ciLen = ciLen)
  }

  private def readRowGroup(r: TReader): RowGroupMeta = {
    var chunks = Vector.empty[Chunk]
    var numRows = -1L; var totBytes = -1L
    readStruct(r, 3) { (id, tpe) =>
      id match {
        case 1L =>
          val n = listHeader(r, T_STRUCT)
          var i = 0
          while (i < n) { chunks :+= readColumnChunk(r); i += 1 }
        case 2L => totBytes = i64Of(r, tpe)
        case 3L => numRows = i64Of(r, tpe)
        case _  => skipValue(r, tpe, 3)
      }
    }
    if (numRows < 0 || totBytes < 0 || chunks.isEmpty) fail()
    RowGroupMeta(numRows, totBytes, chunks)
  }

  /** SchemaElement list → leaves via the num_children depth-first
    * walk, accumulating max def/rep levels along the ancestor chain
    * (OPTIONAL adds a def level, REPEATED adds both). */
  private def readSchema(r: TReader): Vector[Leaf] = {
    case class El(name: String, ptype: Int, rep: Int, nChildren: Int)
    val n = listHeader(r, T_STRUCT)
    if (n < 1) fail()
    val els = new scala.collection.mutable.ArrayBuffer[El](n)
    var i = 0
    while (i < n) {
      var name: String = null; var ptype = -1; var rep = 0; var kids = 0
      readStruct(r, 3) { (id, tpe) =>
        id match {
          case 1L => ptype = i32Of(r, tpe)
          case 3L => rep = i32Of(r, tpe)
          case 4L => name = strOf(r, tpe)
          case 5L => kids = i32Of(r, tpe)
          case _  => skipValue(r, tpe, 3)
        }
      }
      if (name == null) fail()
      els += El(name, ptype, rep, kids)
      i += 1
    }
    // depth-first reconstruction: root's children count spans the rest
    val leaves = Vector.newBuilder[Leaf]
    var idx = 1 // skip root
    def walk(prefix: String, remaining: Int, d: Int, rp: Int,
        rd: Int): Unit = {
      var k = 0
      while (k < remaining) {
        if (idx >= els.length) fail()
        val e = els(idx); idx += 1
        val p = if (prefix.isEmpty) e.name else prefix + "." + e.name
        val d2 = d + (if (e.rep == 1 || e.rep == 2) 1 else 0)
        val r2 = rp + (if (e.rep == 2) 1 else 0)
        val rd2 = if (e.rep == 2) d2 else rd
        if (e.nChildren == 0) {
          if (e.ptype < 0) fail()
          leaves += Leaf(p, e.ptype, d2, r2, rd2)
        } else walk(p, e.nChildren, d2, r2, rd2)
        k += 1
      }
    }
    walk("", els(0).nChildren, 0, 0, 0)
    if (idx != els.length) fail()
    leaves.result()
  }

  private[graft] def parseFooterMeta(b: Array[Byte]): FooterMeta = {
    if (b == null || b.length < 12) fail()
    def ascii(off: Int): String =
      new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (ascii(0) != "PAR1" || ascii(b.length - 4) != "PAR1") fail()
    val fl = (b(b.length - 8) & 0xffL) | ((b(b.length - 7) & 0xffL) << 8) |
      ((b(b.length - 6) & 0xffL) << 16) | ((b(b.length - 5) & 0xffL) << 24)
    if (fl <= 0 || fl > b.length - 12) fail()
    val start = b.length - 8 - fl.toInt
    val r = new TReader(b, start, b.length - 8)
    var version = -1; var numRows = -1L; var createdBy = ""
    var leaves: Vector[Leaf] = null
    var rgs = Vector.empty[RowGroupMeta]
    readStruct(r, 1) { (id, tpe) =>
      id match {
        case 1L => version = i32Of(r, tpe)
        case 2L =>
          if (tpe != T_LIST) fail()
          leaves = readSchema(r)
        case 3L => numRows = i64Of(r, tpe)
        case 4L =>
          if (tpe != T_LIST) fail()
          val n = listHeader2(r)
          var i = 0
          while (i < n) { rgs :+= readRowGroup(r); i += 1 }
        case 6L => createdBy = strOf(r, tpe)
        case _  => skipValue(r, tpe, 1)
      }
    }
    if (version < 0 || numRows < 0 || leaves == null) fail()
    // structural gates: rg rows sum to the file's; every chunk count
    // matches the leaf count and paths match leaf paths in order
    if (rgs.map(_.numRows).sum != numRows) fail()
    rgs.foreach { rg =>
      if (rg.chunks.length != leaves.length) fail()
      rg.chunks.zip(leaves).foreach { case (c, lf) =>
        if (c.path != lf.path || c.ptype != lf.ptype) fail()
      }
    }
    FooterMeta(version, numRows, createdBy, leaves, rgs)
  }

  // list header when field type already consumed as T_LIST but the
  // element-type check differs (row_groups: struct elements)
  private def listHeader2(r: TReader): Int = listHeader(r, T_STRUCT)

  /** Never-throw row API. */
  private[graft] def parse(id: Long, b: Array[Byte]): Seq[ColChunkMeta] = {
    val invalid = ColChunkMeta(id, 0, "", 0, 0, 0L, 0L, 0L, 0L, 0L, 0L,
      0L, has_stats = false, 0L, 0L, 0, valid = false)
    try {
      val m = parseFooterMeta(b)
      m.rowGroups.zipWithIndex.flatMap { case (rg, i) =>
        rg.chunks.map { c =>
          val hs = c.stats.minLong.isDefined && c.stats.maxLong.isDefined
          ColChunkMeta(id, i, c.path, c.ptype, c.codec, c.numValues,
            c.totalCompressed, c.totalUncompressed, c.dataPageOff,
            c.dictPageOff, c.stats.minLong.getOrElse(0L),
            c.stats.maxLong.getOrElse(0L), hs, rg.numRows, m.numRows,
            m.rowGroups.length, valid = true)
        }
      }
    } catch { case _: Throwable => Seq(invalid) }
  }

  /** Map-side decode over (media_id, file bytes) rows. */
  def decodeFooters(
      media: Dataset[(Long, Array[Byte])]): Dataset[ColChunkMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { case (id, bytes) => parse(id, bytes) })
  }

  // =================================================================
  // DATA-PAGE decode (q203/q204): the values read back through the
  // footer's offsets — V1 pages, PLAIN and dictionary encodings
  // (including parquet-mr's mid-chunk PLAIN fallback when a dict
  // outgrows its budget), UNCOMPRESSED and SNAPPY page codecs, and
  // page-CRC32 verification over the stored bytes. V2 pages and the
  // DELTA encodings decode too (q210). THIS SECTION's flat decoders
  // only handle maxRep 0, maxDef ≤ 1 — nested columns → valid=false,
  // never wrong; list columns decode through the q219 Dremel
  // assembly section further down (`readListChunk`).
  // =================================================================

  /** Per-leaf aggregates decoded from the pages themselves:
    * `sum_long` for INT32/INT64 leaves; `sum_blen`/`sum_bytes`
    * (byte length / unsigned byte sum) for BYTE_ARRAY leaves. */
  final case class ColumnSumRow(media_id: Long, col_path: String,
      n_values: Long, n_nonnull: Long, sum_long: Long, sum_blen: Long,
      sum_bytes: Long, valid: Boolean)

  private val MaxPage = 1 << 26

  private final case class PageHdr(ptype: Int, unc: Int, cmp: Int,
      crc: Option[Int], nv: Int, enc: Int, defEnc: Int, v2: Boolean,
      dictNv: Int, dictEnc: Int, v2Nulls: Int = -1, v2Rows: Int = -1,
      v2DefLen: Int = -1, v2RepLen: Int = -1, v2Compressed: Boolean = true)

  private def readPageHeader(r: TReader): PageHdr = {
    var ptype = -1; var unc = -1; var cmp = -1
    var crc: Option[Int] = None
    var nv = -1; var enc = -1; var defEnc = -1
    var dictNv = -1; var dictEnc = -1; var v2 = false
    var v2Nulls = -1; var v2Rows = -1
    var v2DefLen = -1; var v2RepLen = -1; var v2Compressed = true
    readStruct(r, 2) { (id, tpe) =>
      id match {
        case 1L => ptype = i32Of(r, tpe)
        case 2L => unc = i32Of(r, tpe)
        case 3L => cmp = i32Of(r, tpe)
        case 4L => crc = Some(i32Of(r, tpe))
        case 5L =>
          if (tpe != T_STRUCT) fail()
          readStruct(r, 3) { (fid, ftpe) =>
            fid match {
              case 1L => nv = i32Of(r, ftpe)
              case 2L => enc = i32Of(r, ftpe)
              case 3L => defEnc = i32Of(r, ftpe)
              case _  => skipValue(r, ftpe, 3)
            }
          }
        case 7L =>
          if (tpe != T_STRUCT) fail()
          readStruct(r, 3) { (fid, ftpe) =>
            fid match {
              case 1L => dictNv = i32Of(r, ftpe)
              case 2L => dictEnc = i32Of(r, ftpe)
              case _  => skipValue(r, ftpe, 3)
            }
          }
        case 8L =>
          if (tpe != T_STRUCT) fail()
          v2 = true
          readStruct(r, 3) { (fid, ftpe) =>
            fid match {
              case 1L => nv = i32Of(r, ftpe)
              case 2L => v2Nulls = i32Of(r, ftpe)
              case 3L => v2Rows = i32Of(r, ftpe)
              case 4L => enc = i32Of(r, ftpe)
              case 5L => v2DefLen = i32Of(r, ftpe)
              case 6L => v2RepLen = i32Of(r, ftpe)
              case 7L => v2Compressed = ftpe == T_BOOL_T
              case _  => skipValue(r, ftpe, 3)
            }
          }
        case _ => skipValue(r, tpe, 2)
      }
    }
    if (ptype < 0 || unc < 0 || cmp < 0 || unc > MaxPage ||
        cmp > MaxPage) fail()
    PageHdr(ptype, unc, cmp, crc, nv, enc, defEnc, v2, dictNv, dictEnc,
      v2Nulls, v2Rows, v2DefLen, v2RepLen, v2Compressed)
  }

  /** RLE/bit-packed hybrid (the levels-and-indices encoding): stream
    * (value, runLength) pairs to `f` until `n` entries are consumed;
    * trailing bit-packed padding is read and discarded per spec. */
  private def rleHybrid(b: Array[Byte], start: Int, end: Int,
      bitWidth: Int, n: Int)(f: (Int, Int) => Unit): Unit = {
    if (bitWidth < 0 || bitWidth > 31) fail()
    if (n == 0) return
    if (bitWidth == 0) { f(0, n); return } // zero-width: all zeros
    var pos = start
    def u8(): Int = {
      if (pos >= end) fail(); val v = b(pos) & 0xff; pos += 1; v
    }
    def varint(): Long = {
      var v = 0L; var sh = 0; var k = 0
      while (k < 10) {
        val x = u8(); v |= (x & 0x7fL) << sh
        if ((x & 0x80) == 0) return v
        sh += 7; k += 1
      }
      fail()
    }
    val byteWidth = (bitWidth + 7) >> 3
    var left = n
    while (left > 0) {
      val h = varint()
      if ((h & 1L) == 0L) { // RLE run
        val run = h >>> 1
        if (run <= 0 || run > left) fail()
        var v = 0; var i = 0
        while (i < byteWidth) { v |= u8() << (8 * i); i += 1 }
        f(v, run.toInt); left -= run.toInt
      } else { // bit-packed groups (8 values each, LSB-first)
        val groups = h >>> 1
        if (groups <= 0 || groups > (MaxPage >> 3)) fail()
        val cnt = groups * 8L
        var bitBuf = 0L; var bits = 0
        var i = 0L
        while (i < cnt) {
          while (bits < bitWidth) {
            bitBuf |= u8().toLong << bits; bits += 8
          }
          val v = (bitBuf & ((1L << bitWidth) - 1)).toInt
          bitBuf >>>= bitWidth; bits -= bitWidth
          if (left > 0) { f(v, 1); left -= 1 }
          i += 1
        }
      }
    }
  }

  /** One complete RFC 1952 gzip member occupying exactly
    * `[off, off+len)` (the Parquet GZIP page framing): CM=8, FLG=0
    * (what the JDK/parquet-mr writer emits), raw inflate to exactly
    * `expect` bytes, CRC-32 + ISIZE verified, no slack. */
  private def gunzipPage(b: Array[Byte], off: Int, len: Int,
      expect: Int): Array[Byte] = {
    if (len < 18 || expect < 0 || expect > MaxPage) fail()
    if (b(off) != 0x1f.toByte || b(off + 1) != 0x8b.toByte ||
      b(off + 2) != 8 || b(off + 3) != 0) fail()
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(b, off + 10, len - 18)
      val out = new Array[Byte](expect)
      var w = 0
      while (w < expect && !inf.finished()) {
        val n = inf.inflate(out, w, expect - w)
        if (n == 0 && !inf.finished()) fail()
        w += n
      }
      if (w != expect || !inf.finished() || inf.getRemaining != 0) fail()
      val crc = new java.util.zip.CRC32()
      crc.update(out)
      def le32(o: Int): Long =
        (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
          ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
      if (le32(off + len - 8) != (crc.getValue & 0xffffffffL)) fail()
      if (le32(off + len - 4) != (expect.toLong & 0xffffffffL)) fail()
      out
    } catch {
      case _: java.util.zip.DataFormatException => fail()
    } finally inf.end()
  }

  private final class DictAgg(val n: Int) {
    val vals = new Array[Long](n)
    val lens = new Array[Long](n)
    val sums = new Array[Long](n)
  }

  /** Decode `k` PLAIN values of `ptype` from `[pos0, end)`; `cb`
    * receives (longValue, byteLen, byteSum) per value. Returns the
    * position after the last value. */
  private def plainDecode(b: Array[Byte], pos0: Int, end: Int, k: Int,
      ptype: Int)(cb: (Long, Long, Long) => Unit): Int = {
    var pos = pos0
    def need(n: Int): Unit = if (n > end - pos) fail()
    def le32(): Long = {
      need(4)
      val v = (b(pos) & 0xffL) | ((b(pos + 1) & 0xffL) << 8) |
        ((b(pos + 2) & 0xffL) << 16) | ((b(pos + 3) & 0xffL) << 24)
      pos += 4; v
    }
    var i = 0
    ptype match {
      case 1 => // INT32, sign-extended
        while (i < k) { cb(le32().toInt.toLong, 0L, 0L); i += 1 }
      case 2 => // INT64
        while (i < k) {
          need(8)
          var v = 0L; var j = 7
          while (j >= 0) { v = (v << 8) | (b(pos + j) & 0xffL); j -= 1 }
          pos += 8; cb(v, 0L, 0L); i += 1
        }
      case 6 => // BYTE_ARRAY: 4-byte LE length + bytes
        while (i < k) {
          val l = le32()
          if (l < 0 || l > end - pos) fail()
          var s = 0L; var j = 0
          while (j < l) { s += b(pos + j) & 0xff; j += 1 }
          pos += l.toInt; cb(0L, l, s); i += 1
        }
      case _ => fail() // BOOLEAN/FLOAT/DOUBLE/INT96/FLBA out of subset
    }
    pos
  }

  /** DELTA_BINARY_PACKED (encoding 5 — the V2 writer's integer
    * encoding): varint block size (multiple of 128) + miniblocks per
    * block + total count + zigzag first value; per block a zigzag min
    * delta and one bit-width byte per miniblock; miniblock bodies are
    * LSB-first bit-packed deltas, trailing-value padding read and
    * discarded, miniblocks past the value count carry NO bytes.
    * Returns the values and the position after the last consumed
    * byte. */
  private def deltaBinaryPacked(b: Array[Byte], pos0: Int, end: Int,
      expect: Int): (Array[Long], Int) = {
    var pos = pos0
    def u8(): Int = {
      if (pos >= end) fail(); val v = b(pos) & 0xff; pos += 1; v
    }
    def varint(): Long = {
      var v = 0L; var sh = 0; var k = 0
      while (k < 10) {
        val x = u8(); v |= (x & 0x7fL) << sh
        if ((x & 0x80) == 0) return v
        sh += 7; k += 1
      }
      fail()
    }
    def zigzag(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1L) }
    val blockSize = varint()
    if (blockSize <= 0 || blockSize % 128 != 0 ||
      blockSize > (1 << 20)) fail()
    val mbs = varint()
    if (mbs <= 0 || mbs > 512 || blockSize % mbs != 0 ||
      (blockSize / mbs) % 32 != 0) fail()
    val total = varint()
    if (total < 0 || total > Int.MaxValue - 8) fail()
    if (expect >= 0 && total != expect) fail()
    val n = total.toInt
    val out = new Array[Long](n)
    if (n > 0) out(0) = zigzag() else { zigzag(): Unit }
    val mbValues = (blockSize / mbs).toInt
    var idx = 1
    while (idx < n) {
      val minDelta = zigzag()
      val widths = new Array[Int](mbs.toInt)
      var i = 0
      while (i < mbs) {
        widths(i) = u8(); if (widths(i) > 64) fail(); i += 1
      }
      var mb = 0
      while (mb < mbs) {
        if (idx < n) { // an empty trailing miniblock carries no bytes
          val w = widths(mb)
          val bytes = mbValues * w / 8
          if (bytes > end - pos) fail()
          var v = 0
          while (v < mbValues) {
            var d = 0L
            var k = 0
            while (k < w) {
              val bitIdx = v * w + k
              if (((b(pos + (bitIdx >> 3)) >> (bitIdx & 7)) & 1) != 0)
                d |= 1L << k
              k += 1
            }
            if (idx < n) { out(idx) = out(idx - 1) + minDelta + d; idx += 1 }
            v += 1
          }
          pos += bytes
        }
        mb += 1
      }
    }
    (out, pos)
  }

  /** DELTA_LENGTH_BYTE_ARRAY (6): lengths as DELTA_BINARY_PACKED,
    * then the concatenated value bytes. Emits (len, byteSum). */
  private def deltaLengthByteArray(b: Array[Byte], pos0: Int, end: Int,
      k: Int)(cb: (Long, Long) => Unit): Int = {
    val (lens, p0) = deltaBinaryPacked(b, pos0, end, k)
    var pos = p0
    var i = 0
    while (i < k) {
      val l = lens(i)
      if (l < 0 || l > end - pos) fail()
      var s = 0L; var j = 0
      while (j < l) { s += b(pos + j) & 0xff; j += 1 }
      pos += l.toInt
      cb(l, s)
      i += 1
    }
    pos
  }

  /** DELTA_BYTE_ARRAY (7 — the V2 writer's string encoding): prefix
    * lengths as DELTA_BINARY_PACKED, suffixes as
    * DELTA_LENGTH_BYTE_ARRAY; value i shares its first prefixLen(i)
    * bytes with value i-1. Materializes each value (front coding
    * forces it); total bytes capped. */
  private def deltaByteArray(b: Array[Byte], pos0: Int, end: Int,
      k: Int)(cb: (Long, Long) => Unit): Int = {
    val (prefixes, p0) = deltaBinaryPacked(b, pos0, end, k)
    val (suffixLens, p1) = deltaBinaryPacked(b, p0, end, k)
    var pos = p1
    var prev: Array[Byte] = Array.emptyByteArray
    var totalOut = 0L
    var i = 0
    while (i < k) {
      val pl = prefixes(i); val sl = suffixLens(i)
      if (pl < 0 || pl > prev.length || sl < 0 || sl > end - pos) fail()
      val len = pl + sl
      totalOut += len
      if (len > Int.MaxValue - 8 || totalOut > MaxPage.toLong * 4) fail()
      val v = new Array[Byte](len.toInt)
      System.arraycopy(prev, 0, v, 0, pl.toInt)
      System.arraycopy(b, pos, v, pl.toInt, sl.toInt)
      pos += sl.toInt
      var s = 0L; var j = 0
      while (j < v.length) { s += v(j) & 0xff; j += 1 }
      cb(len, s)
      prev = v
      i += 1
    }
    pos
  }

  /** Decoded page payload in row order; `defMask == null` means every
    * row is defined. */
  private final case class PageData(nRows: Int,
      defMask: Array[Boolean], vv: Array[Long], ll: Array[Long],
      ss: Array[Long])

  /** Decode one data page's body — V1 (type 0) or V2 (type 3) — into
    * row-ordered buffers. `cstart` points just past the page header. */
  private def decodeDataPageBody(b: Array[Byte], c: Chunk, lf: Leaf,
      dict: DictAgg, h: PageHdr, cstart: Int): PageData = {
    if (lf.maxRep != 0 || lf.maxDef > 1) fail()
    if (h.nv < 0) fail()
    var defMask: Array[Boolean] = null
    var k = h.nv
    var pb: Array[Byte] = null; var p = 0; var pEnd = 0
    var enc = h.enc
    if (h.ptype == 0) { // V1: whole page compressed, 4-byte def prefix
      val t = c.codec match {
        case 0 => if (h.cmp != h.unc) fail(); (b, cstart, cstart + h.cmp)
        case 1 => val d = Snappy.decompress(b, cstart, h.cmp, h.unc)
                  (d, 0, d.length)
        case 2 => val d = gunzipPage(b, cstart, h.cmp, h.unc)
                  (d, 0, d.length)
        case _ => fail()
      }
      pb = t._1; p = t._2; pEnd = t._3
      if (lf.maxDef == 1) {
        if (h.defEnc != 3) fail()
        if (4 > pEnd - p) fail()
        val len = (pb(p) & 0xff) | ((pb(p + 1) & 0xff) << 8) |
          ((pb(p + 2) & 0xff) << 16) | ((pb(p + 3) & 0xff) << 24)
        p += 4
        if (len < 0 || len > pEnd - p) fail()
        defMask = new Array[Boolean](h.nv)
        var w = 0; var nn = 0
        rleHybrid(pb, p, p + len, 1, h.nv) { (v, run) =>
          if (v != 0 && v != 1) fail()
          val d = v == 1
          var t2 = 0
          while (t2 < run) { defMask(w) = d; w += 1; t2 += 1 }
          if (d) nn += run
        }
        p += len
        k = nn
      }
    } else if (h.ptype == 3 && h.v2) { // V2: raw levels, values-only
      if (h.v2RepLen != 0 && h.v2RepLen != -1) fail() // flat: no reps
      val repLen = math.max(h.v2RepLen, 0)
      val defLen = if (lf.maxDef == 1) h.v2DefLen else math.max(0,
        math.max(h.v2DefLen, 0))
      if (defLen < 0 || repLen + defLen > h.cmp ||
        repLen + defLen > h.unc) fail()
      if (lf.maxDef == 1) {
        defMask = new Array[Boolean](h.nv)
        var w = 0; var nn = 0
        rleHybrid(b, cstart + repLen, cstart + repLen + defLen, 1,
          h.nv) { (v, run) =>
          if (v != 0 && v != 1) fail()
          val d = v == 1
          var t2 = 0
          while (t2 < run) { defMask(w) = d; w += 1; t2 += 1 }
          if (d) nn += run
        }
        k = nn
        if (h.v2Nulls >= 0 && h.nv - h.v2Nulls != k) fail()
      }
      val lvl = repLen + defLen
      val vExpect = h.unc - lvl
      if (vExpect < 0) fail()
      val t =
        if (h.v2Compressed && c.codec != 0) c.codec match {
          case 1 =>
            val d = Snappy.decompress(b, cstart + lvl, h.cmp - lvl,
              vExpect)
            (d, 0, d.length)
          case 2 =>
            val d = gunzipPage(b, cstart + lvl, h.cmp - lvl, vExpect)
            (d, 0, d.length)
          case _ => fail()
        } else {
          if (h.cmp - lvl != vExpect) fail()
          (b, cstart + lvl, cstart + lvl + vExpect)
        }
      pb = t._1; p = t._2; pEnd = t._3
    } else fail()
    val vv = new Array[Long](k)
    val ll = new Array[Long](k)
    val ss = new Array[Long](k)
    var j = 0
    enc match {
      case 0 => // PLAIN
        val endp = plainDecode(pb, p, pEnd, k, c.ptype) { (v, l, s) =>
          vv(j) = v; ll(j) = l; ss(j) = s; j += 1
        }
        if (endp != pEnd) fail()
      case 2 | 8 => // dictionary indices
        if (dict == null) fail()
        if (p >= pEnd) { if (k != 0) fail() }
        else {
          val bw = pb(p) & 0xff; p += 1
          rleHybrid(pb, p, pEnd, bw, k) { (v, run) =>
            if (v < 0 || v >= dict.n) fail()
            var t2 = 0
            while (t2 < run) {
              vv(j) = dict.vals(v); ll(j) = dict.lens(v)
              ss(j) = dict.sums(v); j += 1; t2 += 1
            }
          }
        }
      case 5 => // DELTA_BINARY_PACKED (INT32/INT64)
        if (c.ptype != 1 && c.ptype != 2) fail()
        val (vals, endp) = deltaBinaryPacked(pb, p, pEnd, k)
        if (endp != pEnd) fail()
        while (j < k) {
          vv(j) = if (c.ptype == 1) vals(j).toInt.toLong else vals(j)
          j += 1
        }
      case 6 => // DELTA_LENGTH_BYTE_ARRAY
        if (c.ptype != 6) fail()
        val endp = deltaLengthByteArray(pb, p, pEnd, k) { (l, s) =>
          ll(j) = l; ss(j) = s; j += 1
        }
        if (endp != pEnd) fail()
      case 7 => // DELTA_BYTE_ARRAY (front coding)
        if (c.ptype != 6) fail()
        val endp = deltaByteArray(pb, p, pEnd, k) { (l, s) =>
          ll(j) = l; ss(j) = s; j += 1
        }
        if (endp != pEnd) fail()
      case _ => fail()
    }
    if (j != k) fail()
    PageData(h.nv, defMask, vv, ll, ss)
  }

  /** Read one page header at `pos`, verify its CRC over the stored
    * bytes, and return (header, content start). */
  private def pageAt(b: Array[Byte], pos: Int): (PageHdr, Int) = {
    val r = new TReader(b, pos, b.length)
    val h = readPageHeader(r)
    val cstart = r.pos
    if (h.cmp > b.length - cstart) fail()
    h.crc.foreach { cv => // CRC32 over the STORED page bytes
      val crc = new java.util.zip.CRC32()
      crc.update(b, cstart, h.cmp)
      if ((crc.getValue & 0xffffffffL) != (cv & 0xffffffffL)) fail()
    }
    (h, cstart)
  }

  /** Dictionary page decode (PLAIN payload) shared by every walker. */
  private def loadDictFromPage(b: Array[Byte], c: Chunk, h: PageHdr,
      cstart: Int): DictAgg = {
    if (h.dictNv < 0) fail()
    if (h.dictEnc != 0 && h.dictEnc != 2) fail()
    val (pb, pOff, pEnd) = c.codec match {
      case 0 => if (h.cmp != h.unc) fail(); (b, cstart, cstart + h.cmp)
      case 1 => val d = Snappy.decompress(b, cstart, h.cmp, h.unc)
                (d, 0, d.length)
      case 2 => val d = gunzipPage(b, cstart, h.cmp, h.unc)
                (d, 0, d.length)
      case _ => fail() // BROTLI/LZ4/ZSTD/… out of subset
    }
    val dict = new DictAgg(h.dictNv)
    var j = 0
    val endp = plainDecode(pb, pOff, pEnd, h.dictNv, c.ptype) {
      (v, l, s) =>
        dict.vals(j) = v; dict.lens(j) = l; dict.sums(j) = s; j += 1
    }
    if (endp != pEnd) fail()
    dict
  }

  private def readChunkValues(b: Array[Byte], c: Chunk, lf: Leaf,
      acc: Array[Long]): Unit = {
    if (lf.maxRep != 0 || lf.maxDef > 1) fail()
    val startL =
      if (c.dictPageOff > 0 && c.dictPageOff < c.dataPageOff)
        c.dictPageOff
      else c.dataPageOff
    if (startL < 0 || startL >= b.length) fail()
    var pos = startL.toInt
    var dict: DictAgg = null
    var remaining = c.numValues
    while (remaining > 0) {
      val (h, cstart) = pageAt(b, pos)
      h.ptype match {
        case 2 =>
          if (dict != null) fail()
          dict = loadDictFromPage(b, c, h, cstart)
        case 0 | 3 =>
          if (h.nv < 0 || h.nv > remaining) fail()
          val pd = decodeDataPageBody(b, c, lf, dict, h, cstart)
          acc(0) += pd.nRows; acc(1) += pd.vv.length
          var j = 0
          while (j < pd.vv.length) {
            acc(2) += pd.vv(j); acc(3) += pd.ll(j); acc(4) += pd.ss(j)
            j += 1
          }
          remaining -= pd.nRows
        case _ => fail()
      }
      pos = cstart + h.cmp
    }
  }

  /** Row-wise chunk walk: `onValue(defined, long, blen, bsum)` fires
    * once per ROW in row order (null rows as `defined=false` zeros) —
    * the alignment the pruned selective read (q208) needs to mask a
    * value column by a key column's predicate positionally. */
  private def walkChunkRows(b: Array[Byte], c: Chunk, lf: Leaf)(
      onValue: (Boolean, Long, Long, Long) => Unit): Unit = {
    if (lf.maxRep != 0 || lf.maxDef > 1) fail()
    val startL =
      if (c.dictPageOff > 0 && c.dictPageOff < c.dataPageOff)
        c.dictPageOff
      else c.dataPageOff
    if (startL < 0 || startL >= b.length) fail()
    var pos = startL.toInt
    var dict: DictAgg = null
    var remaining = c.numValues
    while (remaining > 0) {
      val (h, cstart) = pageAt(b, pos)
      h.ptype match {
        case 2 =>
          if (dict != null) fail()
          dict = loadDictFromPage(b, c, h, cstart)
        case 0 | 3 =>
          if (h.nv < 0 || h.nv > remaining) fail()
          val pd = decodeDataPageBody(b, c, lf, dict, h, cstart)
          emitRows(pd, onValue)
          remaining -= pd.nRows
        case _ => fail()
      }
      pos = cstart + h.cmp
    }
  }

  private def emitRows(pd: PageData,
      onValue: (Boolean, Long, Long, Long) => Unit): Unit = {
    var rI = 0; var vI = 0
    while (rI < pd.nRows) {
      if (pd.defMask == null || pd.defMask(rI)) {
        onValue(true, pd.vv(vI), pd.ll(vI), pd.ss(vI)); vI += 1
      } else onValue(false, 0L, 0L, 0L)
      rI += 1
    }
  }

  // =================================================================
  // NESTED list-column decode (q219, r11 — the Dremel assembly the
  // r10 verdict asked for): repetition levels for the one-repeated-
  // node shape Spark writes for `array<T>` — (optional) group (LIST)
  // / repeated group list / (optional) element — maxRep 1, the
  // engine's own embedding tables. Def levels distinguish null row /
  // empty list / null element / value (see [[Leaf.repDef]]).
  // FLOAT/DOUBLE elements are quantized via floor(v × quantScale) so
  // sums compare exactly against the oracle (a power-of-two scale
  // keeps the scaling exact on the float's mantissa).
  // =================================================================

  /** Per-file aggregates over one list column, decoded from the pages:
    * row fates (null list / empty list) plus element counts and the
    * quantized element sum. */
  final case class ListColSumRow(media_id: Long, col_path: String,
      n_rows: Long, n_null_rows: Long, n_empty: Long,
      n_null_elems: Long, n_elems: Long, sum_q: Long, valid: Boolean)

  private def levelBitWidth(maxLvl: Int): Int =
    32 - java.lang.Integer.numberOfLeadingZeros(maxLvl)

  private def quantD(v: Double, qs: Double): Long = {
    val f = math.floor(v * qs)
    // a non-finite element cannot hash-compare — strict-reject
    if (f.isNaN || f.isInfinite) fail()
    f.toLong
  }

  /** Decode `k` PLAIN element values (INT32/INT64/FLOAT/DOUBLE) to
    * quantized longs; ints pass through raw. */
  private def plainQuant(b: Array[Byte], pos0: Int, end: Int, k: Int,
      ptype: Int, qs: Double)(cb: Long => Unit): Int = {
    var pos = pos0
    def need(n: Int): Unit = if (n > end - pos) fail()
    def le32(): Int = {
      need(4)
      val v = (b(pos) & 0xff) | ((b(pos + 1) & 0xff) << 8) |
        ((b(pos + 2) & 0xff) << 16) | ((b(pos + 3) & 0xff) << 24)
      pos += 4; v
    }
    def le64(): Long = {
      need(8)
      var v = 0L; var j = 7
      while (j >= 0) { v = (v << 8) | (b(pos + j) & 0xffL); j -= 1 }
      pos += 8; v
    }
    var i = 0
    ptype match {
      case 1 => while (i < k) { cb(le32().toLong); i += 1 }
      case 2 => while (i < k) { cb(le64()); i += 1 }
      case 4 => while (i < k) {
        cb(quantD(java.lang.Float.intBitsToFloat(le32()).toDouble, qs))
        i += 1
      }
      case 5 => while (i < k) {
        cb(quantD(java.lang.Double.longBitsToDouble(le64()), qs))
        i += 1
      }
      case _ => fail() // BOOLEAN/INT96/BYTE_ARRAY/FLBA lists: subset
    }
    pos
  }

  /** Dictionary page → quantized-long dictionary for element types. */
  private def loadQuantDict(b: Array[Byte], c: Chunk, h: PageHdr,
      cstart: Int, qs: Double): Array[Long] = {
    if (h.dictNv < 0) fail()
    if (h.dictEnc != 0 && h.dictEnc != 2) fail()
    val (pb, pOff, pEnd) = c.codec match {
      case 0 => if (h.cmp != h.unc) fail(); (b, cstart, cstart + h.cmp)
      case 1 => val d = Snappy.decompress(b, cstart, h.cmp, h.unc)
                (d, 0, d.length)
      case 2 => val d = gunzipPage(b, cstart, h.cmp, h.unc)
                (d, 0, d.length)
      case _ => fail()
    }
    val dict = new Array[Long](h.dictNv)
    var j = 0
    val endp = plainQuant(pb, pOff, pEnd, h.dictNv, c.ptype, qs) { v =>
      dict(j) = v; j += 1
    }
    if (endp != pEnd) fail()
    dict
  }

  /** RLE/bit-packed levels with the V1 4-byte length prefix; returns
    * (levels, position after). maxLvl 0 ⇒ zero-width: no bytes. */
  private def readLevelsPrefixed(pb: Array[Byte], p0: Int, pEnd: Int,
      n: Int, maxLvl: Int): (Array[Int], Int) = {
    val out = new Array[Int](n)
    if (maxLvl == 0) return (out, p0)
    if (4 > pEnd - p0) fail()
    val len = (pb(p0) & 0xff) | ((pb(p0 + 1) & 0xff) << 8) |
      ((pb(p0 + 2) & 0xff) << 16) | ((pb(p0 + 3) & 0xff) << 24)
    val p = p0 + 4
    if (len < 0 || len > pEnd - p) fail()
    fillLevels(pb, p, p + len, n, maxLvl, out)
    (out, p + len)
  }

  private def fillLevels(pb: Array[Byte], from: Int, to: Int, n: Int,
      maxLvl: Int, out: Array[Int]): Unit = {
    var w = 0
    rleHybrid(pb, from, to, levelBitWidth(maxLvl), n) { (v, run) =>
      if (v < 0 || v > maxLvl) fail()
      var t = 0
      while (t < run) { out(w) = v; w += 1; t += 1 }
    }
    if (w != n) fail()
  }

  /** Walk one list-column chunk, accumulating into `acc`:
    * 0 rows, 1 null rows, 2 empty lists, 3 null elements, 4 elements,
    * 5 quantized element sum. */
  private def listChunkSums(b: Array[Byte], c: Chunk, lf: Leaf,
      qs: Double, acc: Array[Long]): Unit = {
    if (lf.maxRep != 1) fail()
    val dRep = lf.repDef
    if (dRep < 1 || dRep > lf.maxDef) fail()
    val startL =
      if (c.dictPageOff > 0 && c.dictPageOff < c.dataPageOff)
        c.dictPageOff
      else c.dataPageOff
    if (startL < 0 || startL >= b.length) fail()
    var pos = startL.toInt
    var dict: Array[Long] = null
    var remaining = c.numValues

    def emit(reps: Array[Int], defs: Array[Int], vals: Array[Long],
        n: Int): Unit = {
      var i = 0; var vI = 0
      while (i < n) {
        val r = reps(i); val d = defs(i)
        if (r == 0) { // entry starts a new row
          acc(0) += 1
          if (d == lf.maxDef) { acc(4) += 1; acc(5) += vals(vI); vI += 1 }
          else if (d == dRep && lf.maxDef > dRep) acc(3) += 1
          else if (d == dRep - 1) acc(2) += 1
          else if (d < dRep - 1) acc(1) += 1
          else fail()
        } else if (r == 1) { // continues the current list
          if (d == lf.maxDef) { acc(4) += 1; acc(5) += vals(vI); vI += 1 }
          else if (d == dRep && lf.maxDef > dRep) acc(3) += 1
          else fail() // cannot continue a list that is not defined
        } else fail()
        i += 1
      }
      if (vI != vals.length) fail()
    }

    def values(pb: Array[Byte], p: Int, pEnd: Int, k: Int,
        enc: Int): Array[Long] = {
      val vals = new Array[Long](k)
      var j = 0
      enc match {
        case 0 =>
          val endp = plainQuant(pb, p, pEnd, k, c.ptype, qs) { v =>
            vals(j) = v; j += 1
          }
          if (endp != pEnd) fail()
        case 2 | 8 =>
          if (dict == null) fail()
          if (p >= pEnd) { if (k != 0) fail() }
          else {
            val bw = pb(p) & 0xff
            rleHybrid(pb, p + 1, pEnd, bw, k) { (v, run) =>
              if (v < 0 || v >= dict.length) fail()
              var t = 0
              while (t < run) { vals(j) = dict(v); j += 1; t += 1 }
            }
          }
          if (j != k) fail()
        case _ => fail()
      }
      vals
    }

    while (remaining > 0) {
      val (h, cstart) = pageAt(b, pos)
      h.ptype match {
        case 2 =>
          if (dict != null) fail()
          dict = loadQuantDict(b, c, h, cstart, qs)
        case 0 => // V1: whole page compressed, prefixed rep+def levels
          if (h.nv < 0 || h.nv > remaining) fail()
          val (pb, p0, pEnd) = c.codec match {
            case 0 => if (h.cmp != h.unc) fail()
                      (b, cstart, cstart + h.cmp)
            case 1 => val d = Snappy.decompress(b, cstart, h.cmp, h.unc)
                      (d, 0, d.length)
            case 2 => val d = gunzipPage(b, cstart, h.cmp, h.unc)
                      (d, 0, d.length)
            case _ => fail()
          }
          val (reps, p1) = readLevelsPrefixed(pb, p0, pEnd, h.nv, 1)
          val (defs, p2) = readLevelsPrefixed(pb, p1, pEnd, h.nv,
            lf.maxDef)
          val k = defs.count(_ == lf.maxDef)
          emit(reps, defs, values(pb, p2, pEnd, k, h.enc), h.nv)
          remaining -= h.nv
        case 3 if h.v2 => // V2: raw levels (no prefix), values after
          if (h.nv < 0 || h.nv > remaining) fail()
          val repLen = math.max(h.v2RepLen, 0)
          val defLen = math.max(h.v2DefLen, 0)
          if (repLen + defLen > h.cmp || repLen + defLen > h.unc) fail()
          val reps = new Array[Int](h.nv)
          fillLevels(b, cstart, cstart + repLen, h.nv, 1, reps)
          val defs = new Array[Int](h.nv)
          fillLevels(b, cstart + repLen, cstart + repLen + defLen,
            h.nv, lf.maxDef, defs)
          val lvl = repLen + defLen
          val vExpect = h.unc - lvl
          if (vExpect < 0) fail()
          val (pb, p0, pEnd) =
            if (h.v2Compressed && c.codec != 0) c.codec match {
              case 1 => val d = Snappy.decompress(b, cstart + lvl,
                          h.cmp - lvl, vExpect)
                        (d, 0, d.length)
              case 2 => val d = gunzipPage(b, cstart + lvl,
                          h.cmp - lvl, vExpect)
                        (d, 0, d.length)
              case _ => fail()
            } else {
              if (h.cmp - lvl != vExpect) fail()
              (b, cstart + lvl, cstart + lvl + vExpect)
            }
          val k = defs.count(_ == lf.maxDef)
          emit(reps, defs, values(pb, p0, pEnd, k, h.enc), h.nv)
          remaining -= h.nv
        case _ => fail()
      }
      pos = cstart + h.cmp
    }
    if (remaining != 0) fail()
  }

  /** Never-throw per-file list-column decode. */
  private[graft] def listSums(id: Long, b: Array[Byte],
      colPath: String, qs: Double): ListColSumRow = {
    val invalid = ListColSumRow(id, colPath, 0L, 0L, 0L, 0L, 0L, 0L,
      valid = false)
    try {
      val m = parseFooterMeta(b)
      val lf = m.leaves.find(_.path == colPath).getOrElse(fail())
      val acc = new Array[Long](6)
      m.rowGroups.foreach { rg =>
        val c = rg.chunks.find(_.path == colPath).getOrElse(fail())
        listChunkSums(b, c, lf, qs, acc)
      }
      ListColSumRow(id, colPath, acc(0), acc(1), acc(2), acc(3),
        acc(4), acc(5), valid = true)
    } catch { case _: Throwable => invalid }
  }

  /** Map-side list-column decode over (media_id, file bytes) rows —
    * the Dremel q219 entry point. At 100 TB the archive bytes stay in
    * their partitions; only the 8-long aggregate row moves. */
  def decodeListSums(media: Dataset[(Long, Array[Byte])],
      colPath: String, quantScale: Double): Dataset[ListColSumRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { case (id, bytes) =>
      listSums(id, bytes, colPath, quantScale)
    })
  }

  // =================================================================
  // CELL materialization (the graft-lake DSv2 connector, r11): the
  // row-ordered VALUES of one flat chunk — where the aggregate
  // decoders above only fold, a PartitionReader must emit actual
  // InternalRows. Scoped to the engine's own writer output
  // (ParquetWrite, q216/q220): V1 pages, UNCOMPRESSED, PLAIN or
  // dictionary, flat maxDef ≤ 1 — anything else strict-rejects.
  // =================================================================

  /** One chunk's cells: per-row defined mask plus longs (INT32/INT64),
    * doubles (FLOAT/DOUBLE, r12), or raw UTF-8 bytes (BYTE_ARRAY). */
  private[graft] final case class CellCol(defined: Array[Boolean],
      longs: Array[Long], bins: Array[Array[Byte]],
      dbls: Array[Double] = null)

  private[graft] def readChunkCells(b: Array[Byte], c: Chunk,
      lf: Leaf, rgRows: Int): CellCol = {
    if (lf.maxRep != 0 || lf.maxDef > 1) fail()
    // r15 (CONVERT in place): external Spark-written files carry
    // SNAPPY/GZIP pages — resolve each page body through the same
    // codec seam the fold decoders use; anything else still rejects
    if (c.codec != 0 && c.codec != 1 && c.codec != 2) fail()
    if (rgRows < 0 || c.numValues != rgRows.toLong) fail()
    val isBin = c.ptype == 6
    val isFp = c.ptype == 4 || c.ptype == 5
    if (!isBin && !isFp && c.ptype != 1 && c.ptype != 2) fail()
    val defined = new Array[Boolean](rgRows)
    val longs =
      if (isBin || isFp) null else new Array[Long](rgRows)
    val dbls = if (isFp) new Array[Double](rgRows) else null
    val bins = if (isBin) new Array[Array[Byte]](rgRows) else null

    /** (buffer, start, end) of one page's UNCOMPRESSED body. */
    def body(h: PageHdr, cstart: Int): (Array[Byte], Int, Int) =
      c.codec match {
        case 0 =>
          if (h.cmp != h.unc) fail(); (b, cstart, cstart + h.cmp)
        case 1 =>
          val d = Snappy.decompress(b, cstart, h.cmp, h.unc)
          (d, 0, d.length)
        case _ =>
          val d = gunzipPage(b, cstart, h.cmp, h.unc)
          (d, 0, d.length)
      }

    def le32(buf: Array[Byte], p: Int): Int =
      (buf(p) & 0xff) | ((buf(p + 1) & 0xff) << 8) |
        ((buf(p + 2) & 0xff) << 16) | ((buf(p + 3) & 0xff) << 24)

    /** Decode k PLAIN cells starting at p; cb(longV, binV, dblV). */
    def plainCells(buf: Array[Byte], p0: Int, pEnd: Int, k: Int)(
        cb: (Long, Array[Byte], Double) => Unit): Int = {
      var p = p0
      var i = 0
      while (i < k) {
        c.ptype match {
          case 1 =>
            if (4 > pEnd - p) fail()
            cb(le32(buf, p).toLong, null, 0.0); p += 4
          case 2 =>
            if (8 > pEnd - p) fail()
            var v = 0L; var j = 7
            while (j >= 0) {
              v = (v << 8) | (buf(p + j) & 0xffL); j -= 1
            }
            cb(v, null, 0.0); p += 8
          case 4 =>
            if (4 > pEnd - p) fail()
            cb(0L, null,
              java.lang.Float.intBitsToFloat(le32(buf, p)).toDouble)
            p += 4
          case 5 =>
            if (8 > pEnd - p) fail()
            var v = 0L; var j = 7
            while (j >= 0) {
              v = (v << 8) | (buf(p + j) & 0xffL); j -= 1
            }
            cb(0L, null, java.lang.Double.longBitsToDouble(v)); p += 8
          case 6 =>
            if (4 > pEnd - p) fail()
            val l = le32(buf, p); p += 4
            if (l < 0 || l > pEnd - p) fail()
            cb(0L, java.util.Arrays.copyOfRange(buf, p, p + l), 0.0)
            p += l
          case _ => fail()
        }
        i += 1
      }
      p
    }

    var dictL: Array[Long] = null
    var dictB: Array[Array[Byte]] = null
    var row = 0
    val startL =
      if (c.dictPageOff > 0 && c.dictPageOff < c.dataPageOff)
        c.dictPageOff
      else c.dataPageOff
    if (startL < 0 || startL >= b.length) fail()
    var pos = startL.toInt
    var remaining = c.numValues
    while (remaining > 0) {
      val (h, cstart) = pageAt(b, pos)
      h.ptype match {
        case 2 => // dictionary page, PLAIN payload (never fp here —
          // the own writer keeps fp columns PLAIN)
          if (isFp) fail()
          if (dictL != null || dictB != null) fail()
          if (h.dictNv < 0) fail()
          val (db2, dOff, dEnd) = body(h, cstart)
          if (isBin) dictB = new Array[Array[Byte]](h.dictNv)
          else dictL = new Array[Long](h.dictNv)
          var j = 0
          val endp = plainCells(db2, dOff, dEnd, h.dictNv) {
            (v, bv, _) =>
              if (isBin) dictB(j) = bv else dictL(j) = v
              j += 1
          }
          if (endp != dEnd) fail()
        case 0 => // V1 data page
          if (h.nv < 0 || h.nv > remaining) fail()
          val (pb, pOff, pEnd) = body(h, cstart)
          var p = pOff
          val defs =
            if (lf.maxDef == 1) {
              if (h.defEnc != 3) fail()
              val (d, p2) = readLevelsPrefixed(pb, p, pEnd, h.nv, 1)
              p = p2; d
            } else null
          val k = if (defs == null) h.nv else defs.count(_ == 1)
          val outL = if (isBin || isFp) null else new Array[Long](k)
          val outD = if (isFp) new Array[Double](k) else null
          val outB = if (isBin) new Array[Array[Byte]](k) else null
          h.enc match {
            case 0 =>
              var j = 0
              val endp = plainCells(pb, p, pEnd, k) { (v, bv, dv) =>
                if (isBin) outB(j) = bv
                else if (isFp) outD(j) = dv
                else outL(j) = v
                j += 1
              }
              if (endp != pEnd) fail()
            case 2 | 8 =>
              if (dictL == null && dictB == null) fail()
              val dn = if (isBin) dictB.length else dictL.length
              if (p >= pEnd) { if (k != 0) fail() }
              else {
                val bw = pb(p) & 0xff
                var j = 0
                rleHybrid(pb, p + 1, pEnd, bw, k) { (v, run) =>
                  if (v < 0 || v >= dn) fail()
                  var t = 0
                  while (t < run) {
                    if (isBin) outB(j) = dictB(v) else outL(j) = dictL(v)
                    j += 1; t += 1
                  }
                }
                if (j != k) fail()
              }
            case _ => fail()
          }
          // scatter into row positions
          var vI = 0; var i = 0
          while (i < h.nv) {
            val d = defs == null || defs(i) == 1
            defined(row) = d
            if (d) {
              if (isBin) bins(row) = outB(vI)
              else if (isFp) dbls(row) = outD(vI)
              else longs(row) = outL(vI)
              vI += 1
            }
            row += 1; i += 1
          }
          remaining -= h.nv
        case _ => fail()
      }
      pos = cstart + h.cmp
    }
    if (row != rgRows) fail()
    CellCol(defined, longs, bins, dbls)
  }

  /** One LIST chunk's per-row cells (r12 — the connector's array
    * materializer, pairing [[readChunkCells]] the way the q219 Dremel
    * aggregates pair the flat sum decoders): `defined` = list
    * non-null; `rows(i)` = the row's elements as boxed values
    * (java.lang.Long / Float / Double) with null elements preserved;
    * an empty array is an EMPTY list. Scoped to the own-writer
    * subset: V1 pages, UNCOMPRESSED, PLAIN element values, the
    * 3-level `array<T>` shape. */
  private[graft] final case class ListCells(defined: Array[Boolean],
      rows: Array[Array[AnyRef]])

  private[graft] def readListCells(b: Array[Byte], c: Chunk, lf: Leaf,
      rgRows: Int): ListCells = {
    if (lf.maxRep != 1) fail()
    val dRep = lf.repDef
    if (dRep < 1 || dRep > lf.maxDef) fail()
    // r15: SNAPPY/GZIP pages resolve through the codec seam (CONVERT
    // in place registers external Spark-written files)
    if (c.codec != 0 && c.codec != 1 && c.codec != 2) fail()
    if (c.ptype != 2 && c.ptype != 4 && c.ptype != 5) fail()
    val defined = new Array[Boolean](rgRows)
    val out = new Array[Array[AnyRef]](rgRows)
    val buf = new scala.collection.mutable.ArrayBuffer[AnyRef]()
    var rowI = -1
    def closeRow(): Unit = {
      if (rowI >= 0 && defined(rowI)) {
        out(rowI) = buf.toArray
        buf.clear()
      }
    }
    def le32(bb: Array[Byte], p: Int): Int =
      (bb(p) & 0xff) | ((bb(p + 1) & 0xff) << 8) |
        ((bb(p + 2) & 0xff) << 16) | ((bb(p + 3) & 0xff) << 24)
    def le64(bb: Array[Byte], p: Int): Long = {
      var v = 0L; var j = 7
      while (j >= 0) { v = (v << 8) | (bb(p + j) & 0xffL); j -= 1 }
      v
    }
    var pos = c.dataPageOff.toInt
    if (c.dataPageOff < 0 || c.dataPageOff >= b.length) fail()
    var remaining = c.numValues
    while (remaining > 0) {
      val (h, cstart) = pageAt(b, pos)
      if (h.ptype != 0) fail() // V1 data pages only (own writer)
      if (h.enc != 0) fail()
      if (h.nv < 0 || h.nv > remaining) fail()
      val (pb, pOff, pEnd) = c.codec match {
        case 0 =>
          if (h.cmp != h.unc) fail(); (b, cstart, cstart + h.cmp)
        case 1 =>
          val d = Snappy.decompress(b, cstart, h.cmp, h.unc)
          (d, 0, d.length)
        case _ =>
          val d = gunzipPage(b, cstart, h.cmp, h.unc)
          (d, 0, d.length)
      }
      val (reps, p1) = readLevelsPrefixed(pb, pOff, pEnd, h.nv, 1)
      val (defs, p2) = readLevelsPrefixed(pb, p1, pEnd, h.nv, lf.maxDef)
      var k = 0
      var t = 0
      while (t < h.nv) { if (defs(t) == lf.maxDef) k += 1; t += 1 }
      // decode the page's PLAIN element values
      val width = if (c.ptype == 4) 4 else 8
      if (p2 + k.toLong * width != pEnd.toLong) fail()
      val vals = new Array[AnyRef](k)
      var j = 0
      while (j < k) {
        vals(j) = c.ptype match {
          case 2 => java.lang.Long.valueOf(le64(pb, p2 + 8 * j))
          case 5 => java.lang.Double.valueOf(
            java.lang.Double.longBitsToDouble(le64(pb, p2 + 8 * j)))
          case _ => java.lang.Float.valueOf(
            java.lang.Float.intBitsToFloat(le32(pb, p2 + 4 * j)))
        }
        j += 1
      }
      var vI = 0
      var i = 0
      while (i < h.nv) {
        val r = reps(i); val d = defs(i)
        if (r == 0) { // entry starts a new row
          closeRow()
          rowI += 1
          if (rowI >= rgRows) fail()
          if (d < dRep - 1) defined(rowI) = false // null row
          else {
            defined(rowI) = true
            if (d == lf.maxDef) { buf += vals(vI); vI += 1 }
            else if (d == dRep && lf.maxDef > dRep) buf += null
            // d == dRep - 1: empty list — no element
          }
        } else if (r == 1) {
          if (rowI < 0 || !defined(rowI)) fail()
          if (d == lf.maxDef) { buf += vals(vI); vI += 1 }
          else if (d == dRep && lf.maxDef > dRep) buf += null
          else fail()
        } else fail()
        i += 1
      }
      if (vI != k) fail()
      remaining -= h.nv
      pos = cstart + h.cmp
    }
    closeRow()
    if (rowI != rgRows - 1) fail()
    ListCells(defined, out)
  }

  /** Materialize EVERY column of an own-writer file as ready-to-write
    * [[ParquetWrite.Col]] values (r12 — what the lake compactor and
    * merge rewrite across the FULL type surface: long/string/double/
    * float flat columns and `array<long|float|double>` lists). All
    * row groups concatenate in order. Throws on out-of-subset files;
    * callers sit behind their own seam. */
  private[graft] def readFileColumns(
      b: Array[Byte]): (Vector[Leaf], Seq[ParquetWrite.Col]) = {
    val m = parseFooterMeta(b)
    val n = m.numRows.toInt
    if (n < 0 || m.numRows > MaxPage) fail()
    val cols: Seq[ParquetWrite.Col] = m.leaves.map { lf =>
      if (lf.maxRep == 0) {
        if (lf.maxDef > 1) fail()
        val nullable = lf.maxDef == 1
        val defined = new Array[Boolean](n)
        val longs = new Array[Long](n)
        val dbls = new Array[Double](n)
        val bins = new Array[Array[Byte]](n)
        var row = 0
        m.rowGroups.foreach { rg =>
          val k = rg.numRows.toInt
          val c = rg.chunks.find(_.path == lf.path).getOrElse(fail())
          val cc = readChunkCells(b, c, lf, k)
          System.arraycopy(cc.defined, 0, defined, row, k)
          if (cc.longs != null)
            System.arraycopy(cc.longs, 0, longs, row, k)
          if (cc.dbls != null)
            System.arraycopy(cc.dbls, 0, dbls, row, k)
          if (cc.bins != null)
            System.arraycopy(cc.bins, 0, bins, row, k)
          row += k
        }
        if (row != n) fail()
        lf.ptype match {
          case 2 =>
            if (nullable) ParquetWrite.OptLongCol(lf.path,
              Array.tabulate(n)(i => if (defined(i))
                java.lang.Long.valueOf(longs(i)) else null))
            else ParquetWrite.LongCol(lf.path, longs)
          case 4 =>
            if (nullable) ParquetWrite.OptFloatCol(lf.path,
              Array.tabulate(n)(i => if (defined(i))
                java.lang.Float.valueOf(dbls(i).toFloat) else null))
            else ParquetWrite.FloatCol(lf.path, dbls.map(_.toFloat))
          case 5 =>
            if (nullable) ParquetWrite.OptDoubleCol(lf.path,
              Array.tabulate(n)(i => if (defined(i))
                java.lang.Double.valueOf(dbls(i)) else null))
            else ParquetWrite.DoubleCol(lf.path, dbls)
          case 6 =>
            val vs = Array.tabulate(n)(i => if (defined(i))
              new String(bins(i), "UTF-8") else null)
            if (nullable) ParquetWrite.OptStrCol(lf.path, vs)
            else ParquetWrite.StrCol(lf.path, vs)
          case _ => fail()
        }
      } else { // list column: concatenate per-row element arrays
        val name = lf.path.substring(0, lf.path.indexOf('.'))
        val defined = new Array[Boolean](n)
        val rows = new Array[Array[AnyRef]](n)
        var row = 0
        m.rowGroups.foreach { rg =>
          val k = rg.numRows.toInt
          val c = rg.chunks.find(_.path == lf.path).getOrElse(fail())
          val lc = readListCells(b, c, lf, k)
          System.arraycopy(lc.defined, 0, defined, row, k)
          System.arraycopy(lc.rows, 0, rows, row, k)
          row += k
        }
        if (row != n) fail()
        def rowsAs[T <: AnyRef](implicit ct: scala.reflect.ClassTag[T])
            : Array[Array[T]] =
          Array.tabulate(n)(i => if (!defined(i)) null
            else rows(i).map(_.asInstanceOf[T]))
        lf.ptype match {
          case 2 => ParquetWrite.LongListCol(name,
            rowsAs[java.lang.Long])
          case 4 => ParquetWrite.FloatListCol(name,
            rowsAs[java.lang.Float])
          case 5 => ParquetWrite.DoubleListCol(name,
            rowsAs[java.lang.Double])
          case _ => fail()
        }
      }
    }
    (m.leaves, cols)
  }

  /** Materialize EVERY column of a file (all row groups concatenated
    * in order) — what the lake compactor needs to rewrite small files.
    * Throws on out-of-subset files; callers sit behind their own seam. */
  private[graft] def readFileCells(
      b: Array[Byte]): (Vector[Leaf], Array[CellCol]) = {
    val m = parseFooterMeta(b)
    val n = m.numRows.toInt
    if (n < 0 || m.numRows > MaxPage) fail()
    val out = m.leaves.map { lf =>
      if (lf.maxRep != 0 || lf.maxDef > 1) fail()
      val isBin = lf.ptype == 6
      CellCol(new Array[Boolean](n),
        if (isBin) null else new Array[Long](n),
        if (isBin) new Array[Array[Byte]](n) else null)
    }.toArray
    var row = 0
    m.rowGroups.foreach { rg =>
      val k = rg.numRows.toInt
      m.leaves.zipWithIndex.foreach { case (lf, li) =>
        val c = rg.chunks.find(_.path == lf.path).getOrElse(fail())
        val cc = readChunkCells(b, c, lf, k)
        System.arraycopy(cc.defined, 0, out(li).defined, row, k)
        if (cc.longs != null)
          System.arraycopy(cc.longs, 0, out(li).longs, row, k)
        else System.arraycopy(cc.bins, 0, out(li).bins, row, k)
      }
      row += k
    }
    if (row != n) fail()
    (m.leaves, out)
  }

  // ---- page-index layer (q209): OffsetIndex/ColumnIndex decode and
  // the page-skipping selective read they exist for ----

  private[graft] final case class PageLoc(off: Long, size: Int,
                                          firstRow: Long)

  /** OffsetIndex (`parquet.thrift`): the data-page locations +
    * first-row indices parquet-mr writes by default since 1.11. */
  private[graft] def readOffsetIndex(b: Array[Byte], off: Long,
      len: Int): Vector[PageLoc] = {
    if (off < 0 || len <= 0 || off + len > b.length) fail()
    val r = new TReader(b, off.toInt, (off + len).toInt)
    var locs = Vector.empty[PageLoc]
    readStruct(r, 1) { (id, tpe) =>
      id match {
        case 1L =>
          val n = listHeader(r, T_STRUCT)
          var i = 0
          while (i < n) {
            var o = -1L; var sz = -1; var fr = -1L
            readStruct(r, 2) { (fid, ftpe) =>
              fid match {
                case 1L => o = i64Of(r, ftpe)
                case 2L => sz = i32Of(r, ftpe)
                case 3L => fr = i64Of(r, ftpe)
                case _  => skipValue(r, ftpe, 2)
              }
            }
            if (o < 0 || sz <= 0 || fr < 0) fail()
            locs :+= PageLoc(o, sz, fr)
            i += 1
          }
        case _ => skipValue(r, tpe, 1)
      }
    }
    if (locs.isEmpty) fail()
    // first-row indices strictly increasing from 0
    if (locs.head.firstRow != 0L) fail()
    var i = 1
    while (i < locs.length) {
      if (locs(i).firstRow <= locs(i - 1).firstRow) fail()
      i += 1
    }
    locs
  }

  private[graft] final case class ColIndex(nullPages: Vector[Boolean],
      mins: Vector[Option[Long]], maxs: Vector[Option[Long]])

  /** ColumnIndex: per-page null flags and min/max bounds (decoded for
    * INT32/INT64; a null page carries EMPTY bound binaries). */
  private[graft] def readColumnIndex(b: Array[Byte], off: Long,
      len: Int, ptype: Int): ColIndex = {
    if (off < 0 || len <= 0 || off + len > b.length) fail()
    val r = new TReader(b, off.toInt, (off + len).toInt)
    var nulls = Vector.empty[Boolean]
    var mins = Vector.empty[Option[Long]]
    var maxs = Vector.empty[Option[Long]]
    def decode(raw: Array[Byte]): Option[Long] = ptype match {
      case 1 => if (raw.length != 4) fail()
                Some(leLong(raw).toInt.toLong)
      case 2 => if (raw.length != 8) fail(); Some(leLong(raw))
      case _ => None
    }
    def boundList(): Vector[Option[Long]] = {
      val n = listHeader(r, T_BIN)
      var out = Vector.empty[Option[Long]]
      var i = 0
      while (i < n) {
        val raw = r.bytes()
        out :+= (if (raw.isEmpty) None else decode(raw))
        i += 1
      }
      out
    }
    readStruct(r, 1) { (id, tpe) =>
      id match {
        case 1L =>
          val h = r.u8(); val et = h & 0x0f
          if (et != T_BOOL_T && et != T_BOOL_F) fail()
          var n = (h >>> 4) & 0x0f
          if (n == 15) {
            val big = r.varint()
            if (big < 0 || big > Int.MaxValue) fail()
            n = big.toInt
          }
          var i = 0
          while (i < n) { // bool list elements: one byte each, 1/2
            val v = r.u8()
            if (v != 1 && v != 2) fail()
            nulls :+= (v == 1)
            i += 1
          }
        case 2L => if (tpe != T_LIST) fail(); mins = boundList()
        case 3L => if (tpe != T_LIST) fail(); maxs = boundList()
        case _  => skipValue(r, tpe, 1)
      }
    }
    if (nulls.isEmpty || mins.length != nulls.length ||
      maxs.length != nulls.length) fail()
    ColIndex(nulls, mins, maxs)
  }

  /** Load the dictionary page (if the chunk has one) WITHOUT walking
    * the data pages — the indexed read path's entry. */
  private def loadDictAt(b: Array[Byte], c: Chunk): DictAgg = {
    if (c.dictPageOff <= 0) return null
    if (c.dictPageOff >= b.length) fail()
    val (h, cstart) = pageAt(b, c.dictPageOff.toInt)
    if (h.ptype != 2) fail()
    loadDictFromPage(b, c, h, cstart)
  }

  /** Decode ONE data page at `pos` (an OffsetIndex location):
    * `onValue` fires per row in page-row order. Returns the page's
    * row count. */
  private def decodeDataPageAt(b: Array[Byte], c: Chunk, lf: Leaf,
      dict: DictAgg, pos: Int)(
      onValue: (Boolean, Long, Long, Long) => Unit): Int = {
    if (lf.maxRep != 0 || lf.maxDef > 1) fail()
    val (h, cstart) = pageAt(b, pos)
    if (h.ptype != 0 && h.ptype != 3) fail()
    val pd = decodeDataPageBody(b, c, lf, dict, h, cstart)
    emitRows(pd, onValue)
    pd.nRows
  }

  // ---- split-block Bloom filter layer (q211): the format's point-
  // lookup pruning tool — a missing key skips the whole row group
  // without touching a page OR the column index ----

  /** xxHash64, seed 0 — the hash the Parquet bloom spec mandates;
    * input is the PLAIN encoding of the value. Public algorithm
    * (xxHash spec); verified against parquet-mr's own hasher. */
  private[graft] def xxHash64(b: Array[Byte]): Long = {
    val P1 = 0x9E3779B185EBCA87L; val P2 = 0xC2B2AE3D27D4EB4FL
    val P3 = 0x165667B19E3779F9L; val P4 = 0x85EBCA77C2B2AE63L
    val P5 = 0x27D4EB2F165667C5L
    val len = b.length
    def le64(o: Int): Long = {
      var v = 0L; var i = 7
      while (i >= 0) { v = (v << 8) | (b(o + i) & 0xffL); i -= 1 }
      v
    }
    def le32(o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    def rotl(x: Long, r: Int): Long = (x << r) | (x >>> (64 - r))
    var h = 0L
    var i = 0
    if (len >= 32) {
      var v1 = P1 + P2; var v2 = P2; var v3 = 0L; var v4 = -P1
      while (i + 32 <= len) {
        v1 = rotl(v1 + le64(i) * P2, 31) * P1
        v2 = rotl(v2 + le64(i + 8) * P2, 31) * P1
        v3 = rotl(v3 + le64(i + 16) * P2, 31) * P1
        v4 = rotl(v4 + le64(i + 24) * P2, 31) * P1
        i += 32
      }
      h = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
      def merge(acc: Long, v: Long): Long =
        (acc ^ (rotl(v * P2, 31) * P1)) * P1 + P4
      h = merge(h, v1); h = merge(h, v2)
      h = merge(h, v3); h = merge(h, v4)
    } else h = P5 // seed 0 + P5
    h += len
    while (i + 8 <= len) {
      h = rotl(h ^ (rotl(le64(i) * P2, 31) * P1), 27) * P1 + P4
      i += 8
    }
    if (i + 4 <= len) {
      h = rotl(h ^ (le32(i) * P1), 23) * P2 + P3
      i += 4
    }
    while (i < len) {
      h = rotl(h ^ ((b(i) & 0xffL) * P5), 11) * P1
      i += 1
    }
    h ^= h >>> 33; h *= P2; h ^= h >>> 29; h *= P3; h ^= h >>> 32
    h
  }

  /** xxHash64 of a value's PLAIN encoding (8-byte LE for INT64). */
  private[graft] def bloomHashLong(v: Long): Long = {
    val raw = new Array[Byte](8)
    var i = 0
    while (i < 8) { raw(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    xxHash64(raw)
  }

  private val BloomSalt = Array(0x47b6137b, 0x44974d91, 0x8824ad5b,
    0xa2b7289d, 0x705495c7, 0x2df1424b, 0x9efc4947, 0x5c6bfb31)

  private[graft] final case class Bloom(bitsetOff: Int, numBytes: Int)

  /** BloomFilterHeader (thrift): numBytes + the three one-field
    * unions — BLOCK algorithm, XXHASH, UNCOMPRESSED — then the
    * bitset (numBytes, a multiple of the 32-byte block). */
  private[graft] def readBloom(b: Array[Byte], off: Long): Bloom = {
    if (off < 0 || off >= b.length) fail()
    val r = new TReader(b, off.toInt, b.length)
    var numBytes = -1
    var algoOk = false; var hashOk = false; var cmpOk = false
    def union(mark: => Unit): Unit =
      readStruct(r, 2) { (fid, ftpe) =>
        if (fid == 1L && ftpe == T_STRUCT) { mark; skipStruct(r, 3) }
        else skipValue(r, ftpe, 2)
      }
    readStruct(r, 1) { (id, tpe) =>
      id match {
        case 1L => numBytes = i32Of(r, tpe)
        case 2L => if (tpe != T_STRUCT) fail(); union { algoOk = true }
        case 3L => if (tpe != T_STRUCT) fail(); union { hashOk = true }
        case 4L => if (tpe != T_STRUCT) fail(); union { cmpOk = true }
        case _  => skipValue(r, tpe, 1)
      }
    }
    if (numBytes <= 0 || numBytes % 32 != 0 || !algoOk || !hashOk ||
      !cmpOk) fail()
    if (numBytes > b.length - r.pos) fail()
    Bloom(r.pos, numBytes)
  }

  /** SBBF membership: block index from the hash's upper half scaled
    * to the block count; inside the block, bit `(x·salt[i]) >>> 27`
    * of each of the 8 little-endian words must be set (uint32
    * arithmetic — Java's wrapping int multiply IS the spec's). */
  private[graft] def bloomMightContain(b: Array[Byte], bloom: Bloom,
      hash: Long): Boolean = {
    val numBlocks = bloom.numBytes / 32
    val blockIdx = (((hash >>> 32) * numBlocks) >>> 32).toInt
    val base = bloom.bitsetOff + blockIdx * 32
    val x = hash.toInt
    var i = 0
    while (i < 8) {
      val bit = (x * BloomSalt(i)) >>> 27
      val o = base + i * 4
      val word = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
      if (((word >>> bit) & 1) == 0) return false
      i += 1
    }
    true
  }

  /** One row per probe value: does ANY row group's bloom admit it?
    * (Per-chunk filters have no false negatives, so a present value
    * must test true in the chunk that holds it.) */
  final case class BloomProbeRow(media_id: Long, probe: Long,
      might: Boolean, valid: Boolean)

  /** Map-side bloom probes of an INT64 column across all row groups. */
  def decodeBloomProbes(media: Dataset[(Long, Array[Byte])],
      colPath: String, probes: Seq[Long]): Dataset[BloomProbeRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { case (id, bytes) =>
      try {
        val m = parseFooterMeta(bytes)
        val ci = m.leaves.indexWhere(_.path == colPath)
        if (ci < 0 || m.leaves(ci).ptype != 2) fail()
        val blooms = m.rowGroups.map { rg =>
          val c = rg.chunks(ci)
          if (c.bloomOff < 0) fail()
          readBloom(bytes, c.bloomOff)
        }
        probes.map { p =>
          val h = bloomHashLong(p)
          BloomProbeRow(id, p,
            blooms.exists(bl => bloomMightContain(bytes, bl, h)),
            valid = true)
        }
      } catch {
        case _: Throwable =>
          Seq(BloomProbeRow(id, 0L, might = false, valid = false))
      }
    })
  }

  /** PAGE-pruned selective read (q209 — what the ColumnIndex exists
    * for): row groups prune on chunk stats first; inside survivors
    * the KEY column's ColumnIndex prunes PAGES, surviving key pages
    * decode into a row bitmap via the OffsetIndex first-row indices,
    * and only VALUE pages whose row span intersects the bitmap are
    * ever touched. */
  final case class PagePrunedRow(media_id: Long, n_rows_matched: Long,
      sum_key: Long, sum_val: Long, n_pages_key: Long,
      n_pages_key_scanned: Long, n_pages_val: Long,
      n_pages_val_scanned: Long, valid: Boolean)

  private[graft] def parsePagePrunedSum(id: Long, b: Array[Byte],
      keyPath: String, valPath: String, lo: Long,
      hi: Long): PagePrunedRow = {
    val invalid = PagePrunedRow(id, 0L, 0L, 0L, 0L, 0L, 0L, 0L,
      valid = false)
    try {
      val m = parseFooterMeta(b)
      val ki = m.leaves.indexWhere(_.path == keyPath)
      val vi = m.leaves.indexWhere(_.path == valPath)
      if (ki < 0 || vi < 0) fail()
      var matched = 0L; var sumKey = 0L; var sumVal = 0L
      var pagesKey = 0L; var pagesKeyScanned = 0L
      var pagesVal = 0L; var pagesValScanned = 0L
      m.rowGroups.foreach { rg =>
        val kc = rg.chunks(ki); val vc = rg.chunks(vi)
        val rgSkip = (kc.stats.minLong, kc.stats.maxLong) match {
          case (Some(mn), Some(mx)) => mx < lo || mn > hi
          case _                    => false
        }
        val kOi = readOffsetIndex(b, kc.oiOff, kc.oiLen)
        val kCi = readColumnIndex(b, kc.ciOff, kc.ciLen, kc.ptype)
        if (kCi.nullPages.length != kOi.length) fail()
        val vOi = readOffsetIndex(b, vc.oiOff, vc.oiLen)
        pagesKey += kOi.length; pagesVal += vOi.length
        if (!rgSkip) {
          if (rg.numRows > Int.MaxValue - 8) fail()
          val hits = new java.util.BitSet(rg.numRows.toInt)
          val dictK = loadDictAt(b, kc)
          var p = 0
          while (p < kOi.length) {
            val prune = kCi.nullPages(p) ||
              ((kCi.mins(p), kCi.maxs(p)) match {
                case (Some(mn), Some(mx)) => mx < lo || mn > hi
                case _                    => false
              })
            if (!prune) {
              pagesKeyScanned += 1
              var row = kOi(p).firstRow
              val n = decodeDataPageAt(b, kc, m.leaves(ki), dictK,
                kOi(p).off.toInt) { (defined, v, _, _) =>
                if (defined && v >= lo && v <= hi) {
                  hits.set(row.toInt)
                  matched += 1; sumKey += v
                }
                row += 1
              }
              // the NEXT page's first row pins this page's row count
              val expEnd = if (p + 1 < kOi.length) kOi(p + 1).firstRow
                           else rg.numRows
              if (kOi(p).firstRow + n != expEnd) fail()
            }
            p += 1
          }
          if (!hits.isEmpty) {
            val dictV = loadDictAt(b, vc)
            var q = 0
            while (q < vOi.length) {
              val from = vOi(q).firstRow
              val until = if (q + 1 < vOi.length) vOi(q + 1).firstRow
                          else rg.numRows
              val first = hits.nextSetBit(from.toInt)
              if (first >= 0 && first < until) {
                pagesValScanned += 1
                var row = from
                decodeDataPageAt(b, vc, m.leaves(vi), dictV,
                  vOi(q).off.toInt) { (defined, v, _, _) =>
                  if (defined && hits.get(row.toInt)) sumVal += v
                  row += 1
                }
                if (row != until) fail()
              }
              q += 1
            }
          }
        }
      }
      PagePrunedRow(id, matched, sumKey, sumVal, pagesKey,
        pagesKeyScanned, pagesVal, pagesValScanned, valid = true)
    } catch { case _: Throwable => invalid }
  }

  /** Map-side page-pruned read over (media_id, file bytes) rows. */
  def decodePagePrunedSum(media: Dataset[(Long, Array[Byte])],
      keyPath: String, valPath: String, lo: Long,
      hi: Long): Dataset[PagePrunedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { case (id, bytes) =>
      parsePagePrunedSum(id, bytes, keyPath, valPath, lo, hi)
    })
  }

  /** Pruned selective read (the scan planner's job, run by OUR codec):
    * row groups whose key-column [min,max] statistics cannot intersect
    * `[lo, hi]` are SKIPPED without touching a page; surviving groups
    * decode the key chunk row-wise, build the predicate mask, and
    * apply it positionally to the value chunk. */
  final case class PrunedReadRow(media_id: Long, n_rows_matched: Long,
      sum_key: Long, sum_val: Long, n_rgs: Long, n_rgs_scanned: Long,
      valid: Boolean)

  private[graft] def parsePrunedSum(id: Long, b: Array[Byte],
      keyPath: String, valPath: String, lo: Long,
      hi: Long): PrunedReadRow = {
    val invalid = PrunedReadRow(id, 0L, 0L, 0L, 0L, 0L, valid = false)
    try {
      val m = parseFooterMeta(b)
      val ki = m.leaves.indexWhere(_.path == keyPath)
      val vi = m.leaves.indexWhere(_.path == valPath)
      if (ki < 0 || vi < 0) fail()
      var matched = 0L; var sumKey = 0L; var sumVal = 0L
      var scanned = 0L
      m.rowGroups.foreach { rg =>
        val kc = rg.chunks(ki)
        val skip = (kc.stats.minLong, kc.stats.maxLong) match {
          case (Some(mn), Some(mx)) => mx < lo || mn > hi
          case _                    => false // no stats → must scan
        }
        if (!skip) {
          scanned += 1
          if (rg.numRows > Int.MaxValue - 8) fail()
          val mask = new Array[Boolean](rg.numRows.toInt)
          var w = 0
          walkChunkRows(b, kc, m.leaves(ki)) { (defined, v, _, _) =>
            if (w >= mask.length) fail()
            if (defined && v >= lo && v <= hi) {
              mask(w) = true; matched += 1; sumKey += v
            }
            w += 1
          }
          if (w != mask.length) fail()
          var w2 = 0
          walkChunkRows(b, rg.chunks(vi), m.leaves(vi)) {
            (defined, v, _, _) =>
              if (w2 >= mask.length) fail()
              if (defined && mask(w2)) sumVal += v
              w2 += 1
          }
          if (w2 != mask.length) fail()
        }
      }
      PrunedReadRow(id, matched, sumKey, sumVal,
        m.rowGroups.length.toLong, scanned, valid = true)
    } catch { case _: Throwable => invalid }
  }

  /** Map-side pruned read over (media_id, file bytes) rows. */
  def decodePrunedSum(media: Dataset[(Long, Array[Byte])],
      keyPath: String, valPath: String, lo: Long,
      hi: Long): Dataset[PrunedReadRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { case (id, bytes) =>
      parsePrunedSum(id, bytes, keyPath, valPath, lo, hi)
    })
  }

  /** Never-throw row API: per-leaf value aggregates decoded from the
    * pages; any structural violation anywhere in the file → ONE
    * all-zero `valid=false` row. */
  private[graft] def parseColumnSums(id: Long,
      b: Array[Byte]): Seq[ColumnSumRow] = {
    try {
      val m = parseFooterMeta(b)
      val accs = m.leaves.map(lf => lf.path -> new Array[Long](5))
      m.rowGroups.foreach { rg =>
        rg.chunks.zip(m.leaves).zip(accs).foreach {
          case ((c, lf), (_, acc)) => readChunkValues(b, c, lf, acc)
        }
      }
      accs.map { case (p, a) =>
        ColumnSumRow(id, p, a(0), a(1), a(2), a(3), a(4), valid = true)
      }
    } catch {
      case _: Throwable =>
        Seq(ColumnSumRow(id, "", 0L, 0L, 0L, 0L, 0L, valid = false))
    }
  }

  /** Map-side page-level decode over (media_id, file bytes) rows. */
  def decodeColumnSums(
      media: Dataset[(Long, Array[Byte])]): Dataset[ColumnSumRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { case (id, bytes) =>
      parseColumnSums(id, bytes)
    })
  }
}
