package graft.sources

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.codec.{Bytes, Cursor, Malformed}

/** Dependency-free NetCDF *classic* (CDF-1 / CDF-2) container codec —
  * the reference's actual scene-file family: `build_dataset.py:28`,
  * `apply_model.py:110` and `archive.py:19-20` open one `.nc` file per
  * scene and read 2-D `[line, sample]` variables out of it. The offline
  * environment has no `edu.ucar` artifacts (SURVEY §7.8.4), but the
  * CLASSIC wire format is a small public self-contained spec (the
  * NetCDF-3 file format specification): big-endian, a header of
  * dim/attr/var lists with explicit name-length + 4-byte padding rules,
  * then fixed-position variable data at each variable's declared
  * `begin` offset. That is implementable exactly like the L95 RIFF/WAVE
  * parser — and unlike HDF5-backed NetCDF-4 (chunked B-tree layout,
  * which stays documented as environment-blocked), classic offsets are
  * *computable in plan-time arithmetic*, so a synthesized container can
  * be round-trip gated against a DuckDB oracle (q147).
  *
  * Layout (all integers big-endian):
  * {{{
  *   magic   = 'C' 'D' 'F' <version: 1 = 32-bit offsets, 2 = 64-bit>
  *   numrecs = u32 (record count; 0xFFFFFFFF = streaming/unknown)
  *   dim_list  = ABSENT | NC_DIMENSION(0x0A) n {name u32len+bytes pad4, u32 len}
  *   gatt_list = ABSENT | NC_ATTRIBUTE(0x0C) n {name, u32 type, u32 nelems, values pad4}
  *   var_list  = ABSENT | NC_VARIABLE (0x0B) n {name, u32 ndims, dimids,
  *               vatt_list, u32 type, u32 vsize, begin u32|u64}
  *   data      = per-variable at its declared begin (fixed vars), then
  *               record data interleaved per record
  * }}}
  * A dimension of length 0 is the record dimension; a variable whose
  * first dimension is the record dimension is a record variable.
  *
  * 100 TB shape: the parser runs inside the [[SceneCodec]] seam on the
  * executor — one header parse + seeked band-slice reads per input
  * partition. A band read is `seek(begin + lineStart*width*size)` +
  * one contiguous read: classic's fixed layout supports banded access
  * natively, so the DSv2 connector's partition planning (scene × line
  * band) maps to O(band) I/O, never a whole-file materialize.
  */
object NcClassic {

  val NcByte = 1; val NcChar = 2; val NcShort = 3
  val NcInt = 4; val NcFloat = 5; val NcDouble = 6

  def typeSize(t: Int): Int = t match {
    case NcByte | NcChar => 1
    case NcShort => 2
    case NcInt | NcFloat => 4
    case NcDouble => 8
    case other => throw new IllegalArgumentException(s"unknown nc_type $other")
  }

  /** length 0 = the record dimension */
  final case class NcDim(name: String, length: Int)

  /** `text` carries NC_CHAR values; `nums` carries numeric values
    * (widened to double — exact for every classic type up to int32;
    * int64 does not exist in the classic model). */
  final case class NcAttr(name: String, ncType: Int, nelems: Int,
                          text: String, nums: Array[Double])

  final case class NcVar(name: String, dimIds: Array[Int], atts: Seq[NcAttr],
                         ncType: Int, vsize: Long, begin: Long) {
    def isRecord(dims: IndexedSeq[NcDim]): Boolean =
      dimIds.headOption.exists(d => dims(d).length == 0)
  }

  final case class NcHeader(version: Int, numRecs: Long,
                            dims: IndexedSeq[NcDim], gatts: Seq[NcAttr],
                            vars: Seq[NcVar]) {
    def varNamed(name: String): Option[NcVar] = vars.find(_.name == name)
    /** Element count of a fixed-size variable (product of dim lengths). */
    def nElems(v: NcVar): Long =
      v.dimIds.foldLeft(1L)((a, d) => a * math.max(dims(d).length, 0))
  }

  /** Safe header parse: `None` for anything that is not a well-formed
    * classic container (bad magic, truncated list, negative length,
    * out-of-range dim id…). At 100 TB a poisoned payload must never
    * kill the stage — the q134 contract, applied to `.nc`.
    *
    * `totalLen` is the container's full byte length when `b` is only a
    * header PREFIX of a larger file (the codec reads a bounded prefix,
    * never the whole scene) — variable `begin` offsets are validated
    * against it, not against the prefix. */
  def parseHeader(b: Array[Byte], totalLen: Long = -1L): Option[NcHeader] = {
    val fileLen = if (totalLen >= 0) totalLen else b.length.toLong
    val c = new Cursor(b, 0, b.length)
    def fail(): Nothing = throw Malformed
    def u32(): Long = c.be32() & 0xffffffffL
    def i32(): Int = { val v = c.be32(); if (v < 0) fail(); v }
    def u64(): Long = { val v = c.be64(); if (v < 0) fail(); v }
    // bounds arithmetic in LONG: a crafted header with n near 2^31/sz
    // wraps `n * sz` (and pad4) in Int, slipping past the length check
    // into a huge allocation / out-of-bounds read (ADVICE r8)
    def pad4L(n: Long): Long = (n + 3) & ~3L
    def name(): String = {
      val n = i32()
      new String(b, c.take(pad4L(n.toLong)), n, US_ASCII)
    }
    def attr(): NcAttr = {
      val nm = name(); val t = i32(); val n = i32()
      if (n < 0) fail()
      val sz = typeSize(t)
      val start = c.take(pad4L(n.toLong * sz))
      val (text, nums) =
        if (t == NcChar) (new String(b, start, n, US_ASCII), Array.empty[Double])
        else {
          val a = new Array[Double](n)
          var i = 0
          while (i < n) { a(i) = readNum(b, start + i * sz, t); i += 1 }
          ("", a)
        }
      NcAttr(nm, t, n, text, nums)
    }
    // tagged list header: either ABSENT (0, 0) or (tag, nelems)
    def listCount(expectedTag: Int): Int = {
      val tag = u32(); val n = i32()
      if (tag == 0 && n == 0) 0
      else if (tag == expectedTag && n >= 0) n
      else fail()
    }
    try {
      if (b.length < 8 || b(0) != 'C' || b(1) != 'D' || b(2) != 'F') return None
      c.pos = 3
      val version = c.u8()
      if (version != 1 && version != 2) return None
      val numRecs = u32() // 0xFFFFFFFF = streaming; kept verbatim
      val dims = IndexedSeq.fill(listCount(0x0A)) {
        val nm = name(); val len = i32(); if (len < 0) fail(); NcDim(nm, len)
      }
      val gatts = Seq.fill(listCount(0x0C))(attr())
      val vars = Seq.fill(listCount(0x0B)) {
        val nm = name()
        val nd = i32(); if (nd < 0 || nd > 1024) fail()
        val dimIds = Array.fill(nd) {
          val d = i32(); if (d < 0 || d >= dims.length) fail(); d
        }
        val vatts = Seq.fill(listCount(0x0C))(attr())
        val t = i32(); typeSize(t) // validates the type code
        val vsize = u32()
        val begin = if (version == 1) u32() else u64()
        if (begin > fileLen) fail() // header describes data beyond EOF
        NcVar(nm, dimIds, vatts, t, vsize, begin)
      }
      Some(NcHeader(version, numRecs, dims, gatts, vars))
    } catch {
      // IOOBE/NegativeArraySize as defense-in-depth behind the Long
      // bounds checks — a malformed header must yield None, never a
      // stage-killing throw (the q134 never-throw contract)
      case Malformed | _: IllegalArgumentException |
           _: IndexOutOfBoundsException | _: NegativeArraySizeException =>
        None
    }
  }

  /** One big-endian element at `off`, widened to double (exact for all
    * classic numeric types; NC_CHAR yields the byte value). */
  private def readNum(b: Array[Byte], off: Int, t: Int): Double = t match {
    case NcByte | NcChar => b(off).toDouble
    case NcShort => Bytes.be16(b, off).toShort.toDouble
    case NcInt => Bytes.be32(b, off).toDouble
    case NcFloat => java.lang.Float.intBitsToFloat(Bytes.be32(b, off)).toDouble
    case NcDouble => java.lang.Double.longBitsToDouble(Bytes.be64(b, off))
    case other => throw new IllegalArgumentException(s"unknown nc_type $other")
  }

  /** Read `nElems` elements of fixed-size variable `v` starting at
    * element `elemStart` from an in-memory container (q147's round-trip
    * path). Bounds-checked against the payload. */
  def readFixedSlice(b: Array[Byte], h: NcHeader, v: NcVar,
                     elemStart: Long, nElems: Int): Array[Double] = {
    require(!v.isRecord(h.dims), s"${v.name} is a record variable")
    val sz = typeSize(v.ncType)
    val base = v.begin + elemStart * sz
    require(base >= 0 && base + nElems.toLong * sz <= b.length,
      s"slice [$elemStart, +$nElems) of ${v.name} beyond payload")
    val out = new Array[Double](nElems)
    var i = 0
    while (i < nElems) { out(i) = readNum(b, (base + i.toLong * sz).toInt, v.ncType); i += 1 }
    out
  }

  /** Banded read of fixed-size variable `v` from an open file: ONE seek
    * + one contiguous read of the element range — the codec-side I/O
    * unit behind [[NcSceneCodec]]. */
  def readFixedSlice(raf: java.io.RandomAccessFile, h: NcHeader, v: NcVar,
                     elemStart: Long, nElems: Int): Array[Double] = {
    require(!v.isRecord(h.dims), s"${v.name} is a record variable")
    val sz = typeSize(v.ncType)
    raf.seek(v.begin + elemStart * sz)
    val buf = new Array[Byte](nElems * sz)
    raf.readFully(buf)
    val out = new Array[Double](nElems)
    var i = 0
    while (i < nElems) { out(i) = readNum(buf, i * sz, v.ncType); i += 1 }
    out
  }

  // ------------------------------------------------------------------
  // Writer — spec-conformant classic bytes (fixed-size variables only;
  // the reference's scenes are fixed 2-D grids). Used by the codec spec
  // to synthesize REAL `.nc` files on disk, and by anything needing a
  // golden container the parser did not produce itself.
  // ------------------------------------------------------------------

  final case class VarSpec(name: String, ncType: Int, dimIds: Seq[Int],
                           atts: Seq[NcAttr] = Nil)

  /** Serialize one classic container. `version` 1 (CDF-1, 32-bit
    * offsets) or 2 (CDF-2, 64-bit offsets); data arrays are in element
    * order (row-major over the variable's dims) and are encoded
    * big-endian by declared type. */
  def bytes(version: Int, dims: Seq[(String, Int)],
            gatts: Seq[NcAttr],
            vars: Seq[(VarSpec, Array[Double])]): Array[Byte] = {
    require(version == 1 || version == 2, s"classic version must be 1|2")
    val bo = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = bo.write(v & 0xff)
    def u32(v: Long): Unit = Bytes.putBe32(bo, v.toInt)
    def padTo4(): Unit = while (bo.size() % 4 != 0) u8(0)
    def name(s: String): Unit = {
      val nb = s.getBytes(US_ASCII); u32(nb.length); bo.write(nb); padTo4()
    }
    def attr(a: NcAttr): Unit = {
      name(a.name); u32(a.ncType)
      if (a.ncType == NcChar) {
        val tb = a.text.getBytes(US_ASCII); u32(tb.length); bo.write(tb)
      } else {
        u32(a.nums.length)
        a.nums.foreach(writeNum(bo, _, a.ncType))
      }
      padTo4()
    }
    def pad4(n: Long): Long = (n + 3) & ~3L
    // sizes are computed bottom-up so each var's begin is known before
    // the header is emitted (the spec's one forward reference)
    def nameSz(s: String): Long = 4 + pad4(s.getBytes(US_ASCII).length)
    def attrSz(a: NcAttr): Long = nameSz(a.name) + 8 + pad4(
      (if (a.ncType == NcChar) a.text.getBytes(US_ASCII).length
       else a.nums.length * typeSize(a.ncType)).toLong)
    def listSz(n: Long): Long = 8 + n
    def varSz(v: VarSpec): Long =
      nameSz(v.name) + 4 + 4L * v.dimIds.size +
        listSz(v.atts.map(attrSz).sum) + 8 + (if (version == 1) 4 else 8)
    val headerSz = 8 +
      listSz(dims.map { case (n, _) => nameSz(n) + 4 }.sum) +
      listSz(gatts.map(attrSz).sum) +
      listSz(vars.map { case (v, _) => varSz(v) }.sum)
    val dimLen = dims.map(_._2).toIndexedSeq
    def vsizeOf(v: VarSpec): Long =
      pad4(v.dimIds.foldLeft(typeSize(v.ncType).toLong)((a, d) => a * dimLen(d)))
    val begins = vars.scanLeft(headerSz) { case (b, (v, _)) => b + vsizeOf(v) }
    // header
    bo.write('C'); bo.write('D'); bo.write('F'); u8(version)
    u32(0) // numrecs
    if (dims.isEmpty) { u32(0); u32(0) }
    else { u32(0x0A); u32(dims.size); dims.foreach { case (n, l) => name(n); u32(l) } }
    if (gatts.isEmpty) { u32(0); u32(0) }
    else { u32(0x0C); u32(gatts.size); gatts.foreach(attr) }
    if (vars.isEmpty) { u32(0); u32(0) }
    else {
      u32(0x0B); u32(vars.size)
      vars.zip(begins).foreach { case ((v, _), begin) =>
        name(v.name); u32(v.dimIds.size); v.dimIds.foreach(d => u32(d))
        if (v.atts.isEmpty) { u32(0); u32(0) }
        else { u32(0x0C); u32(v.atts.size); v.atts.foreach(attr) }
        u32(v.ncType); u32(vsizeOf(v))
        if (version == 1) u32(begin) else Bytes.putBe64(bo, begin)
      }
    }
    require(bo.size() == headerSz, s"header arithmetic drift: ${bo.size()} != $headerSz")
    // data, each variable padded to its 4-aligned vsize
    vars.foreach { case (v, data) =>
      val n = v.dimIds.foldLeft(1L)((a, d) => a * dimLen(d))
      require(data.length == n, s"${v.name}: ${data.length} values for $n cells")
      data.foreach(writeNum(bo, _, v.ncType))
      padTo4()
    }
    bo.toByteArray
  }

  private def writeNum(out: java.io.ByteArrayOutputStream, d: Double,
                       t: Int): Unit = t match {
    case NcByte | NcChar => out.write(d.toInt & 0xff)
    case NcShort => Bytes.putBe16(out, d.toInt)
    case NcInt => Bytes.putBe32(out, d.toLong.toInt)
    case NcFloat => Bytes.putBe32(out, java.lang.Float.floatToIntBits(d.toFloat))
    case NcDouble => Bytes.putBe64(out, java.lang.Double.doubleToLongBits(d))
    case other => throw new IllegalArgumentException(s"unknown nc_type $other")
  }

  def write(path: java.io.File, version: Int, dims: Seq[(String, Int)],
            gatts: Seq[NcAttr], vars: Seq[(VarSpec, Array[Double])]): Unit = {
    val fo = new java.io.FileOutputStream(path)
    try fo.write(bytes(version, dims, gatts, vars)) finally fo.close()
  }

  // ------------------------------------------------------------------
  // Parse-to-row stage (q147's round-trip gate)
  // ------------------------------------------------------------------

  /** Parsed classic-header fields + first-variable data stats. `valid`
    * is false (every other field zero / empty) for payloads that are
    * not well-formed classic containers. */
  final case class NcInfo(media_id: Long, version: Int, numrecs: Long,
                          n_dims: Int, dim_line: Long, dim_sample: Long,
                          n_gatts: Int, title_len: Long, n_vars: Int,
                          var_name: String, var_type: Int, vsize: Long,
                          begin: Long, byte_sum: Long, energy: Long,
                          valid: Boolean)

  /** S1 decode, de-stubbed end-to-end: parse each payload as a classic
    * NetCDF container and fold the first variable's cells into exact
    * integer sums. The variable's `begin` depends on the byte content
    * of every length field before it (names, the variable-length
    * `title` attribute, the CDF-1/CDF-2 offset width), so no shortcut
    * that skips real header walking can produce this output — the q134
    * anti-faking property, applied to `.nc`. Malformed payloads yield
    * `valid = false`, never an executor exception.
    *
    * Pure map-side (`mapPartitions` — the documented imperative codec
    * seam); payload bytes never shuffle. */
  def decodeNc(media: org.apache.spark.sql.Dataset[(Long, Array[Byte])])
      : org.apache.spark.sql.Dataset[NcInfo] = {
    import media.sparkSession.implicits._
    media.mapPartitions(it => it.map { case (id, b) => parseInfo(id, b) })
  }

  private[graft] def parseInfo(id: Long, b: Array[Byte]): NcInfo = {
    val invalid = NcInfo(id, 0, 0L, 0, 0L, 0L, 0, 0L, 0, "", 0, 0L, 0L,
      0L, 0L, valid = false)
    parseHeader(b) match {
      case None => invalid
      case Some(h) =>
        if (h.vars.isEmpty || h.dims.size < 2) invalid
        else {
          val v = h.vars.head
          if (v.isRecord(h.dims)) invalid
          else {
            val n = h.nElems(v)
            if (v.begin + n * typeSize(v.ncType) > b.length) invalid
            else {
              val cells = readFixedSlice(b, h, v, 0L, n.toInt)
              var sum = 0L; var energy = 0L; var i = 0
              while (i < cells.length) {
                val x = cells(i).toLong; sum += x; energy += x * x; i += 1
              }
              val dl = if (v.dimIds.length > 0) h.dims(v.dimIds(0)).length.toLong else 0L
              val ds = if (v.dimIds.length > 1) h.dims(v.dimIds(1)).length.toLong else 0L
              NcInfo(id, h.version, h.numRecs, h.dims.size, dl, ds,
                h.gatts.size,
                h.gatts.find(_.name == "title")
                  .map(a => a.nelems.toLong).getOrElse(0L),
                h.vars.size, v.name, v.ncType, v.vsize, v.begin,
                sum, energy, valid = true)
            }
          }
        }
    }
  }

  // ------------------------------------------------------------------
  // Codegen container synthesis — the wavPayload pattern for `.nc`
  // ------------------------------------------------------------------

  /** Build a REAL classic container around `data` (a binary column of
    * NC_BYTE cells, length H·W with W = 3): magic `CDF\x0v`, dims
    * `line`=H / `sample`=3, ONE variable-length NC_CHAR global
    * attribute `title` of `junkLen` bytes (so the variable's `begin`
    * depends on byte content the parser must actually read — the q134
    * junk-LIST trick), one 2-D NC_BYTE variable `sig`. `version` 1
    * emits a 32-bit `begin`, 2 a 64-bit one — the same expression
    * exercises both offset widths. Pure codegen (hex assembly + one
    * unhex): any engine can synthesize the identical container, which
    * is what lets q147 oracle-gate a binary format DuckDB cannot read.
    *
    * 100 TB shape: map-side column expression — no shuffle, no UDF. */
  def ncPayload(data: Column, junkLen: Column, version: Column): Column = {
    def b(x: Column): Column = lpad(hex(x.cast("long") % 256), 2, "0")
    def sh(x: Column, k: Long): Column = floor(x.cast("long") / k).cast("long")
    def be32(x: Column): Column =
      concat(b(sh(x, 16777216)), b(sh(x, 65536)), b(sh(x, 256)), b(x))
    val dlen = length(data)            // multiple of 3 by contract
    // loud guard (ADVICE r8): < 3 bytes would synthesize a zero-length
    // `line` dim the parser rightly rejects while a naive oracle says
    // valid=true — fail the generator instead of diverging silently
    val h = when(dlen >= 3, (dlen / 3).cast("long"))
      .otherwise(raise_error(concat(
        lit("ncPayload: data must hold >= 1 full 3-byte row (got "),
        dlen, lit(" bytes)")).cast("string")).cast("long"))
    val pj = (floor((junkLen + 3) / 4) * 4).cast("long")
    val begin = lit(120) + pj + (version - 1) * 4
    val hexAll = concat(
      lit("434446"), b(version),                       // magic CDF \x0v
      be32(lit(0)),                                    // numrecs = 0
      be32(lit(0x0A)), be32(lit(2)),                   // dim_list, 2 dims
      be32(lit(4)), lit("6C696E65"), be32(h),          // "line"   = H
      be32(lit(6)), lit("73616D706C650000"), be32(lit(3)), // "sample" = 3
      be32(lit(0x0C)), be32(lit(1)),                   // gatt_list, 1 attr
      be32(lit(5)), lit("7469746C65000000"),           // "title"
      be32(lit(NcChar)), be32(junkLen),                // NC_CHAR × junkLen
      rpad(repeat(lit("78"), junkLen.cast("int")), (pj * 2).cast("int"), lit("0")),
      be32(lit(0x0B)), be32(lit(1)),                   // var_list, 1 var
      be32(lit(3)), lit("73696700"),                   // "sig"
      be32(lit(2)), be32(lit(0)), be32(lit(1)),        // 2 dims: line, sample
      be32(lit(0)), be32(lit(0)),                      // vatt ABSENT
      be32(lit(NcByte)),
      be32(floor((dlen + 3) / 4) * 4),                 // vsize (4-aligned)
      when(version === 1, be32(begin))                 // begin: u32 | u64
        .otherwise(concat(be32(lit(0)), be32(begin))),
      rpad(hex(data), (floor((dlen + 3) / 4) * 8).cast("int"), lit("0")))
    unhex(hexAll)
  }
}
