package graft.sources

import graft.codec.{Bytes, Cursor, Flate, Malformed}

/** Minimal dependency-free HDF5 subset — the container family behind
  * NetCDF-4 (`build_dataset.py:28` / `apply_model.py:110` open
  * HDF5-backed `.nc` through the netCDF4 library; `edu.ucar` artifacts
  * are unresolvable offline, SURVEY §7.8.4, so this is written from
  * the public HDF5 File Format Specification, the PNG decoder's
  * precedent applied to the scientific container).
  *
  * Scope (the shapes the reference's files actually use):
  *  - superblock v0 (symbol-table root group: v1 B-tree + local heap
  *    + SNOD) and v2 (link-message root group, lookup3 checksums);
  *  - object headers v1 and v2, with continuation blocks;
  *  - messages: dataspace v1/v2, datatype (fixed-point + IEEE float,
  *    either endianness), fill value, link, data layout v3
  *    (contiguous + chunked), filter pipeline v1/v2 (deflate via
  *    `graft.codec.Flate`), symbol table, continuation;
  *  - dataset reads: whole or BANDED row slices — contiguous is one
  *    seek+read; chunked walks the v1 chunk B-tree and touches only
  *    the chunks intersecting the band (task I/O is O(band), the S1
  *    100 TB contract).
  *
  * Out of scope, documented: v1.10+ structures (v3 superblock, v2
  *  B-trees, fractal heaps for dense links), szip/shuffle filters,
  *  variable-length / compound datatypes.
  *
  * The writer emits both superblock generations and both layouts so
  * round-trip gates (q166) and fuzz specs exercise the same structure
  * matrix a real netCDF4-written file draws from. Like [[NcClassic]],
  * `parse` returns None on anything malformed — never throws (the
  * q134 contract).
  */
object Hdf5 {

  // ---------------------------------------------------------------
  // Byte source seam: in-memory arrays (q166 payloads) and files
  // (Hdf5SceneCodec) share one reader
  // ---------------------------------------------------------------
  trait ByteSource {
    def length: Long
    /** Read exactly `len` bytes at `off`; throws if out of range. */
    def readAt(off: Long, len: Int): Array[Byte]
  }
  final class ArraySource(b: Array[Byte]) extends ByteSource {
    def length: Long = b.length
    def readAt(off: Long, len: Int): Array[Byte] = {
      if (off < 0 || len < 0 || off + len > b.length)
        throw Malformed
      java.util.Arrays.copyOfRange(b, off.toInt, off.toInt + len)
    }
  }
  final class FileSource(raf: java.io.RandomAccessFile) extends ByteSource {
    def length: Long = raf.length()
    def readAt(off: Long, len: Int): Array[Byte] = {
      if (off < 0 || len < 0 || off + len > raf.length())
        throw Malformed
      val a = new Array[Byte](len)
      raf.seek(off); raf.readFully(a); a
    }
  }

  private val Undef = -1L // 0xFFFF… addresses parse to -1

  // ---------------------------------------------------------------
  // Parsed model
  // ---------------------------------------------------------------
  /** One dataset: name, element type, dims, layout + chunk index. */
  final case class H5Dataset(name: String,
                             isFloat: Boolean, signed: Boolean,
                             littleEndian: Boolean, elemSize: Int,
                             dims: Array[Long],
                             layoutClass: Int, // 1 contiguous, 2 chunked
                             dataAddr: Long, dataSize: Long,
                             chunkDims: Array[Int],
                             chunks: Seq[Chunk],
                             deflated: Boolean)
  /** One chunk: element offsets (per dim), stored byte size, address. */
  final case class Chunk(offsets: Array[Long], size: Int, addr: Long)

  final case class H5File(superblockVersion: Int, datasets: Seq[H5Dataset])

  // ---------------------------------------------------------------
  // Little-endian fields over a fetched block
  // ---------------------------------------------------------------
  /** Address: all-ones = undefined → [[Undef]]. */
  private def readAddr(c: Cursor): Long = {
    val v = c.le64(); if (v == -1L) Undef else { if (v < 0) throw Malformed; v }
  }
  private def bytes(c: Cursor, n: Int): Array[Byte] = {
    val s = c.take(n); java.util.Arrays.copyOfRange(c.b, s, s + n)
  }

  // ---------------------------------------------------------------
  // Parse
  // ---------------------------------------------------------------
  private val Signature = Array(0x89, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n')
    .map(_.toByte)

  /** Parse the file structure (no dataset DATA is read — only
    * headers, group machinery and chunk indexes). None on anything
    * malformed or out of subset. */
  def parse(src: ByteSource): Option[H5File] = {
    try {
      if (src.length < 48) return None
      val head = src.readAt(0, 16)
      if (!head.take(8).sameElements(Signature)) return None
      val version = head(8) & 0xff
      version match {
        case 0 =>
          // v0: versions/sizes block, k's, flags, 4 addresses, root
          // group symbol-table entry
          val c = new Cursor(src.readAt(0, 96), 8)
          if (c.u8() != 0) return None // superblock v0
          c.take(1) // free space version
          c.take(1) // root group version
          c.take(1) // reserved
          c.take(1) // shared header version
          if (c.u8() != 8 || c.u8() != 8) return None // offset/length sizes
          c.take(1) // reserved
          c.take(2 + 2 + 4) // leaf k, internal k, flags
          val base = readAddr(c); if (base != 0) return None
          readAddr(c) // free space
          readAddr(c) // eof
          readAddr(c) // driver info
          // root symbol table entry
          c.le64() // link name offset
          val rootOh = readAddr(c); if (rootOh == Undef) return None
          val datasets = readGroup(src, rootOh)
          Some(H5File(0, datasets))
        case 2 | 3 =>
          val c = new Cursor(src.readAt(0, 48), 8)
          c.take(1) // version byte already known
          if (c.u8() != 8 || c.u8() != 8) return None
          c.take(1) // flags
          val base = readAddr(c); if (base != 0) return None
          readAddr(c) // extension
          readAddr(c) // eof
          val rootOh = readAddr(c); if (rootOh == Undef) return None
          val datasets = readGroup(src, rootOh)
          Some(H5File(version, datasets))
        case _ => None
      }
    } catch {
      case Malformed | _: IllegalArgumentException |
           _: IndexOutOfBoundsException | _: NegativeArraySizeException =>
        None
    }
  }

  /** All link targets of the group at `ohAddr` that parse as datasets
    * (sub-groups out of subset → Malformed). */
  private def readGroup(src: ByteSource, ohAddr: Long): Seq[H5Dataset] = {
    val msgs = readObjectHeader(src, ohAddr)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    msgs.foreach {
      case (0x0011, data) => // symbol table: btree addr + heap addr
        val c = new Cursor(data, 0)
        val btree = readAddr(c); val heap = readAddr(c)
        if (btree == Undef || heap == Undef) throw Malformed
        val heapData = readLocalHeap(src, heap)
        walkGroupBtree(src, btree, heapData, out)
      case (0x0006, data) => // link message
        val c = new Cursor(data, 0)
        if (c.u8() != 1) throw Malformed // link msg version
        val flags = c.u8()
        if ((flags & 0x08) != 0) { // link type present: only 0 = hard
          if (c.u8() != 0) throw Malformed
        }
        if ((flags & 0x04) != 0) c.take(8) // creation order
        if ((flags & 0x10) != 0) c.take(1) // charset
        val lenSize = 1 << (flags & 0x03)
        val nameLen = lenSize match {
          case 1 => c.u8()
          case 2 => c.le16()
          case 4 => c.le32()
          case _ => c.le64().toInt
        }
        if (nameLen < 0 || nameLen > 64 * 1024) throw Malformed
        val name = new String(bytes(c, nameLen), java.nio.charset.StandardCharsets.UTF_8)
        out += ((name, readAddr(c)))
      case _ => ()
    }
    out.toSeq.map { case (name, addr) => readDataset(src, name, addr) }
  }

  private def readLocalHeap(src: ByteSource, addr: Long): Array[Byte] = {
    val c = new Cursor(src.readAt(addr, 32), 0)
    if (!(c.u8() == 'H' && c.u8() == 'E' && c.u8() == 'A' && c.u8() == 'P'))
      throw Malformed
    if (c.u8() != 0) throw Malformed // heap version
    c.take(3)
    val dataSize = c.le64()
    c.le64() // free list head
    val dataAddr = readAddr(c)
    if (dataSize < 0 || dataSize > 16 * 1024 * 1024 || dataAddr == Undef)
      throw Malformed
    src.readAt(dataAddr, dataSize.toInt)
  }

  private def walkGroupBtree(src: ByteSource, addr: Long, heap: Array[Byte],
      out: scala.collection.mutable.ArrayBuffer[(String, Long)],
      depth: Int = 0): Unit = {
    if (depth > 16) throw Malformed // crafted cycle/ladder guard
    val head = new Cursor(src.readAt(addr, 24), 0)
    if (!(head.u8() == 'T' && head.u8() == 'R' && head.u8() == 'E' && head.u8() == 'E'))
      throw Malformed
    if (head.u8() != 0) throw Malformed // node type 0 = group
    val level = head.u8()
    val n = head.le16()
    if (n < 0 || n > 4096) throw Malformed
    // keys are heap offsets (length-size = 8); children are addresses
    val body = new Cursor(src.readAt(addr + 24, (2 * n + 1) * 8), 0)
    body.le64() // key 0
    var i = 0
    while (i < n) {
      val child = readAddr(body)
      body.le64() // key i+1
      if (child == Undef) throw Malformed
      if (level > 0) walkGroupBtree(src, child, heap, out, depth + 1)
      else readSnod(src, child, heap, out)
      i += 1
    }
  }

  private def readSnod(src: ByteSource, addr: Long, heap: Array[Byte],
      out: scala.collection.mutable.ArrayBuffer[(String, Long)]): Unit = {
    val head = new Cursor(src.readAt(addr, 8), 0)
    if (!(head.u8() == 'S' && head.u8() == 'N' && head.u8() == 'O' && head.u8() == 'D'))
      throw Malformed
    if (head.u8() != 1) throw Malformed
    head.take(1)
    val n = head.le16()
    if (n < 0 || n > 4096) throw Malformed
    val body = new Cursor(src.readAt(addr + 8, n * 40), 0)
    var i = 0
    while (i < n) {
      val nameOff = body.le64()
      val oh = readAddr(body)
      body.take(24) // cache type, reserved, scratch
      if (nameOff < 0 || nameOff >= heap.length || oh == Undef)
        throw Malformed
      var end = nameOff.toInt
      while (end < heap.length && heap(end) != 0) end += 1
      out += ((new String(heap, nameOff.toInt, end - nameOff.toInt,
        java.nio.charset.StandardCharsets.UTF_8), oh))
      i += 1
    }
  }

  /** Object header (v1 or v2, with continuations) → (type, data). */
  private def readObjectHeader(src: ByteSource, addr: Long): Seq[(Int, Array[Byte])] = {
    val first = src.readAt(addr, 4)
    val msgs = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
    if (first.sameElements("OHDR".getBytes)) {
      // v2: OHDR ver flags [times] [attr counts] chunk0size, msgs, checksum
      val c = new Cursor(src.readAt(addr, 16), 4)
      if (c.u8() != 2) throw Malformed
      val flags = c.u8()
      var skip = 0
      if ((flags & 0x20) != 0) skip += 16 // times
      if ((flags & 0x10) != 0) skip += 4  // max-compact/min-dense
      val szBytes = 1 << (flags & 0x03)
      val chunk0 = Bytes.le(src.readAt(addr + 6 + skip, szBytes), 0, szBytes)
      if (chunk0 < 0 || chunk0 > 16 * 1024 * 1024) throw Malformed
      val msgStart = addr + 6 + skip + szBytes
      val creationOrder = (flags & 0x04) != 0
      parseV2Messages(src, src.readAt(msgStart, chunk0.toInt),
        creationOrder, msgs)
    } else {
      // v1: ver res nmsgs refcount hdrsize, 4-byte pad, messages
      val c = new Cursor(src.readAt(addr, 16), 0)
      if (c.u8() != 1) throw Malformed
      c.take(1)
      val nMsgs = c.le16()
      c.le32() // ref count
      val hdrSize = c.le32()
      if (nMsgs < 0 || nMsgs > 4096 || hdrSize < 0 || hdrSize > 16 * 1024 * 1024)
        throw Malformed
      parseV1Messages(src, src.readAt(addr + 16, hdrSize), nMsgs, msgs)
    }
    msgs.toSeq
  }

  private def parseV1Messages(src: ByteSource, block: Array[Byte], total: Int,
      out: scala.collection.mutable.ArrayBuffer[(Int, Array[Byte])]): Unit = {
    var remaining = total
    var queue = List(block)
    while (remaining > 0 && queue.nonEmpty) {
      val c = new Cursor(queue.head, 0)
      queue = queue.tail
      while (remaining > 0 && c.pos + 8 <= c.end) {
        val t = c.le16(); val sz = c.le16(); c.take(4) // flags + reserved
        if (sz < 0 || c.pos + sz > c.end) throw Malformed
        val data = bytes(c, sz)
        remaining -= 1
        if (t == 0x0010) { // continuation: offset + length
          val cc = new Cursor(data, 0)
          val off = readAddr(cc); val len = cc.le64()
          if (off == Undef || len < 0 || len > 16 * 1024 * 1024) throw Malformed
          queue = src.readAt(off, len.toInt) :: queue
        } else out += ((t, data))
      }
    }
    if (remaining > 0) throw Malformed
  }

  private def parseV2Messages(src: ByteSource, block0: Array[Byte],
      creationOrder: Boolean,
      out: scala.collection.mutable.ArrayBuffer[(Int, Array[Byte])]): Unit = {
    var queue = List(block0)
    var blocksSeen = 0
    while (queue.nonEmpty) {
      blocksSeen += 1
      // a continuation chain pointing back at itself would loop forever
      // (v1 is bounded by its message COUNT; v2 has no such field)
      if (blocksSeen > 64) throw Malformed
      val c = new Cursor(queue.head, 0)
      queue = queue.tail
      // a trailing gap smaller than a message header terminates a block
      while (c.end - c.pos >= 4 + (if (creationOrder) 2 else 0)) {
        val t = c.u8(); val sz = c.le16(); c.take(1) // flags
        if (creationOrder) c.take(2)
        if (sz < 0 || c.pos + sz > c.end) throw Malformed
        val data = bytes(c, sz)
        if (t == 0x0010) {
          val cc = new Cursor(data, 0)
          val off = readAddr(cc); val len = cc.le64()
          if (off == Undef || len < 8 || len > 16 * 1024 * 1024) throw Malformed
          // continuation blocks in v2 carry OCHK signature + checksum
          val blk = src.readAt(off, len.toInt)
          if (!(blk(0) == 'O' && blk(1) == 'C' && blk(2) == 'H' && blk(3) == 'K'))
            throw Malformed
          queue = java.util.Arrays.copyOfRange(blk, 4, blk.length - 4) :: queue
        } else if (t == 0) { // NIL gap inside chunk: skip
        } else out += ((t, data))
      }
    }
  }

  private def readDataset(src: ByteSource, name: String, ohAddr: Long): H5Dataset = {
    val msgs = readObjectHeader(src, ohAddr)
    var dims: Array[Long] = null
    var isFloat = false; var signed = false; var little = true; var elemSize = 0
    var layoutClass = -1; var dataAddr = Undef; var dataSize = 0L
    var chunkDims: Array[Int] = null; var btree = Undef
    var deflated = false
    msgs.foreach {
      case (0x0001, data) => // dataspace
        val c = new Cursor(data, 0)
        val ver = c.u8()
        val rank = c.u8()
        val flags = c.u8()
        if (ver == 1) c.take(5)
        else if (ver == 2) c.take(1) // type
        else throw Malformed
        if (rank < 0 || rank > 8) throw Malformed
        dims = Array.fill(rank)(c.le64())
        if (dims.exists(d => d < 0 || d > Int.MaxValue)) throw Malformed
        val _ = flags
      case (0x0003, data) => // datatype
        val c = new Cursor(data, 0)
        val classAndVersion = c.u8()
        val cls = classAndVersion & 0x0f
        val b0 = c.u8(); c.take(2) // class bit fields
        val size = c.le32()
        if (size <= 0 || size > 8) throw Malformed
        elemSize = size
        little = (b0 & 0x01) == 0
        cls match {
          case 0 => isFloat = false; signed = (b0 & 0x08) != 0
          case 1 => isFloat = true; signed = true
          case _ => throw Malformed // out of subset
        }
      case (0x0008, data) => // data layout v3
        val c = new Cursor(data, 0)
        if (c.u8() != 3) throw Malformed
        layoutClass = c.u8()
        layoutClass match {
          case 1 => // contiguous
            dataAddr = readAddr(c); dataSize = c.le64()
          case 2 => // chunked
            val dimensionality = c.u8()
            if (dimensionality < 2 || dimensionality > 9) throw Malformed
            btree = readAddr(c)
            chunkDims = Array.fill(dimensionality - 1)(c.le32())
            c.le32() // element-size pseudo-dim
            if (chunkDims.exists(d => d <= 0 || d > (1 << 26))) throw Malformed
            // chunk ELEMENT COUNT bounded in LONG before any Int
            // product can wrap (the NcClassic ADVICE r8 lesson: a
            // crafted header with dims near 2^26 each wraps cr*cc
            // into a small positive Int and allocates a wrong-size
            // buffer) — 2^26 elements ≈ 512 MB of doubles is already
            // far beyond any sane chunk
            if (chunkDims.map(_.toLong).product > (1L << 26)) throw Malformed
          case _ => throw Malformed // compact: out of subset
        }
      case (0x000B, data) => // filter pipeline
        val c = new Cursor(data, 0)
        val ver = c.u8()
        val n = c.u8()
        if (ver == 1) c.take(6) else if (ver != 2) throw Malformed
        var i = 0
        while (i < n) {
          val id = c.le16()
          val nameLen = if (ver == 2 && id < 256) 0 else c.le16()
          c.le16() // flags
          val nVals = c.le16()
          if (nameLen > 0) c.take((nameLen + 7) & ~7)
          var j = 0
          while (j < nVals) { c.le32(); j += 1 }
          if (ver == 1 && nVals % 2 == 1) c.take(4)
          if (id == 1) deflated = true
          else throw Malformed // shuffle/szip/fletcher: out of subset
          i += 1
        }
      case _ => () // fill value, attributes, mtime…: not needed
    }
    if (dims == null || elemSize == 0 || layoutClass < 0) throw Malformed
    val chunks =
      if (layoutClass == 2) {
        if (btree == Undef) throw Malformed
        val buf = scala.collection.mutable.ArrayBuffer.empty[Chunk]
        walkChunkBtree(src, btree, dims.length, buf)
        buf.toSeq
      } else Seq.empty
    H5Dataset(name, isFloat, signed, little, elemSize, dims, layoutClass,
      dataAddr, dataSize, chunkDims, chunks, deflated)
  }

  private def walkChunkBtree(src: ByteSource, addr: Long, rank: Int,
      out: scala.collection.mutable.ArrayBuffer[Chunk],
      depth: Int = 0): Unit = {
    if (depth > 16) throw Malformed // crafted cycle/ladder guard
    val head = new Cursor(src.readAt(addr, 24), 0)
    if (!(head.u8() == 'T' && head.u8() == 'R' && head.u8() == 'E' && head.u8() == 'E'))
      throw Malformed
    if (head.u8() != 1) throw Malformed // node type 1 = chunk
    val level = head.u8()
    val n = head.le16()
    if (n < 0 || n > 65536) throw Malformed
    val keySize = 8 + (rank + 1) * 8
    val body = new Cursor(src.readAt(addr + 24, n * (keySize + 8) + keySize), 0)
    var i = 0
    while (i < n) {
      val size = body.le32()
      body.le32() // filter mask
      val offs = Array.fill(rank)(body.le64())
      body.le64() // trailing 0 offset (element-size dim)
      val child = readAddr(body)
      if (child == Undef || size < 0) throw Malformed
      if (level > 0) walkChunkBtree(src, child, rank, out, depth + 1)
      else out += Chunk(offs, size, child)
      if (out.length > (1 << 22)) throw Malformed // chunk-count bound
      i += 1
    }
  }

  // ---------------------------------------------------------------
  // Data access
  // ---------------------------------------------------------------
  /** Decode `count` elements of `ds` starting at byte `0` of `raw`. */
  private def decodeElems(ds: H5Dataset, raw: Array[Byte], from: Int,
                          count: Int): Array[Double] = {
    val outArr = new Array[Double](count)
    val sz = ds.elemSize
    var i = 0
    while (i < count) {
      val base = from + i * sz
      val v = if (ds.littleEndian) Bytes.le(raw, base, sz) else Bytes.be(raw, base, sz)
      outArr(i) =
        if (ds.isFloat && sz == 8) java.lang.Double.longBitsToDouble(v)
        else if (ds.isFloat && sz == 4)
          java.lang.Float.intBitsToFloat(v.toInt).toDouble
        else if (ds.signed && sz < 8) {
          val shift = 64 - 8 * sz
          ((v << shift) >> shift).toDouble
        } else v.toDouble
      i += 1
    }
    outArr
  }

  /** Row band [rowStart, rowStart+nRows) of a 2-D dataset, row-major.
    * Contiguous: one seek+read. Chunked: only intersecting chunks are
    * fetched (and inflated when the pipeline says deflate). */
  def readRows(src: ByteSource, ds: H5Dataset, rowStart: Int, nRows: Int): Array[Double] = {
    require(ds.dims.length == 2, s"${ds.name} is not 2-D")
    val h = ds.dims(0).toInt; val w = ds.dims(1).toInt
    require(rowStart >= 0 && nRows >= 0 && rowStart + nRows <= h,
      s"band [$rowStart,+$nRows) outside $h rows")
    // band byte volume bounded in LONG before the Int products below
    // (nRows·w·elemSize wraps for dims near 2^31 — the NcClassic
    // ADVICE r8 overflow class); callers wanting more read in bands
    require(nRows.toLong * w * ds.elemSize <= Int.MaxValue,
      s"band of $nRows x $w x ${ds.elemSize} B exceeds 2^31 — read in bands")
    if (ds.layoutClass == 1) {
      if (ds.dataAddr == Undef) return new Array[Double](nRows * w) // fill
      val raw = src.readAt(ds.dataAddr + rowStart.toLong * w * ds.elemSize,
        nRows * w * ds.elemSize)
      decodeElems(ds, raw, 0, nRows * w)
    } else {
      if (ds.chunkDims.length != 2) throw Malformed
      val cr = ds.chunkDims(0); val cc = ds.chunkDims(1)
      val outArr = new Array[Double](nRows * w)
      ds.chunks.foreach { ch =>
        // a chunk starts on the chunk grid, inside the dataset
        if (ch.offsets.length != 2 || (0 to 1).exists(k => ch.offsets(k) < 0 ||
            ch.offsets(k) >= ds.dims(k) || ch.offsets(k) % ds.chunkDims(k) != 0))
          throw Malformed
        val r0 = ch.offsets(0).toInt; val c0 = ch.offsets(1).toInt
        val rHi = math.min(r0 + cr, h); val cHi = math.min(c0 + cc, w)
        val rLo = math.max(r0, rowStart)
        val rEnd = math.min(rHi, rowStart + nRows)
        if (rLo < rEnd) {
          val raw0 = src.readAt(ch.addr, ch.size)
          val raw =
            if (ds.deflated) Flate.inflate(raw0, 0, raw0.length,
              cr.toLong * cc * ds.elemSize, raw = false)
            else raw0
          if (raw.length < cr * cc * ds.elemSize) throw Malformed
          val vals = decodeElems(ds, raw, 0, cr * cc)
          var r = rLo
          while (r < rEnd) {
            var cI = c0
            while (cI < cHi) {
              outArr((r - rowStart) * w + cI) = vals((r - r0) * cc + (cI - c0))
              cI += 1
            }
            r += 1
          }
        }
      }
      outArr
    }
  }

  // ---------------------------------------------------------------
  // Writer
  // ---------------------------------------------------------------
  /** Element type for the writer. */
  sealed trait H5Type { def elemSize: Int }
  case object TFloat64 extends H5Type { val elemSize = 8 }
  case object TFloat32 extends H5Type { val elemSize = 4 }
  case object TInt32 extends H5Type { val elemSize = 4 }
  case object TInt8 extends H5Type { val elemSize = 1 }

  /** One 2-D variable to write. `data` is row-major h×w, converted per
    * `dtype`. `chunk` = Some((rows, cols)) → chunked layout (deflate
    * level via `deflate`, 0 = store uncompressed chunks). `bigEndian`
    * flips the datatype's byte-order bit and the element encoding —
    * HDF5 carries either order and a reader must honor the bit. */
  final case class H5Var(name: String, dtype: H5Type, h: Int, w: Int,
                         data: Array[Double],
                         chunk: Option[(Int, Int)] = None,
                         deflate: Int = 0,
                         bigEndian: Boolean = false) {
    require(data.length == h * w, s"$name: data length ${data.length} != $h*$w")
    require(name.nonEmpty && name.length < 200, s"bad name '$name'")
  }

  /** Assemble a complete file image. `superblockVersion` 0 → v0 +
    * symbol-table root group (v1 headers); 2 → v2 + link-message root
    * group (v2 root header, v1 dataset headers — a legal mix). */
  def writeBytes(vars: Seq[H5Var], superblockVersion: Int): Array[Byte] = {
    require(superblockVersion == 0 || superblockVersion == 2,
      s"superblock version must be 0 or 2, got $superblockVersion")
    require(vars.map(_.name).distinct.length == vars.length, "duplicate names")
    val out = new Assembler
    if (superblockVersion == 0) writeV0(out, vars) else writeV2(out, vars)
    out.result()
  }

  def writeFile(f: java.io.File, vars: Seq[H5Var], superblockVersion: Int): Unit = {
    val b = writeBytes(vars, superblockVersion)
    val fos = new java.io.FileOutputStream(f)
    try fos.write(b) finally fos.close()
  }

  /** Append-only byte builder with late 8-byte patches (addresses are
    * known only after downstream segments are placed). */
  private final class Assembler {
    private val buf = new java.io.ByteArrayOutputStream()
    private var patches = List.empty[(Int, () => Long)]
    def pos: Int = buf.size()
    def byte(v: Int): Unit = buf.write(v & 0xff)
    def bytesRaw(a: Array[Byte]): Unit = buf.write(a, 0, a.length)
    def le16(v: Int): Unit = Bytes.putLe16(buf, v)
    def le32(v: Long): Unit = Bytes.putLe32(buf, v.toInt)
    def le64(v: Long): Unit = Bytes.putLe64(buf, v)
    def undef8(): Unit = le64(-1L)
    /** Reserve an 8-byte slot filled from `v()` at result() time. */
    def patch8(v: () => Long): Unit = { patches ::= ((pos, v)); le64(0L) }
    def pad(n: Int): Unit = { var i = 0; while (i < n) { byte(0); i += 1 } }
    def alignTo(m: Int): Unit = while (pos % m != 0) byte(0)
    /** (checksumPos, hashFrom, hashUntil): lookup3 over the PATCHED
      * image — v2 checksums cover address fields filled late. */
    var checksumFixups = List.empty[(Int, Int, Int)]
    def result(): Array[Byte] = {
      val a = buf.toByteArray
      def set(p: Int, v: Long, n: Int): Unit = {
        val le = new java.io.ByteArrayOutputStream(n); Bytes.putLe(le, v, n)
        System.arraycopy(le.toByteArray, 0, a, p, n)
      }
      patches.foreach { case (p, v) => set(p, v(), 8) }
      checksumFixups.foreach { case (p, from, until) =>
        set(p, lookup3(a, from, until - from), 4)
      }
      a
    }
  }

  // ---- v0 file ----------------------------------------------------
  private def writeV0(out: Assembler, vars: Seq[H5Var]): Unit = {
    require(vars.nonEmpty, "v0 writer needs at least one variable")
    val sorted = vars.sortBy(_.name) // SNOD entries must be name-sorted
    var rootOh = 0L; var btreeAddr = 0L; var snodAddr = 0L
    var heapHdrAddr = 0L; var heapDataAddr = 0L
    val ohAddrs = new Array[Long](sorted.length)
    // heap layout: offset 0 = 8 zero bytes; then names, 8-aligned
    val nameOffsets = new Array[Long](sorted.length)
    var heapOff = 8L
    sorted.zipWithIndex.foreach { case (v, i) =>
      nameOffsets(i) = heapOff
      heapOff += (v.name.length + 1 + 7) & ~7
    }
    val heapDataSize = heapOff

    // superblock
    out.bytesRaw(Signature)
    out.byte(0); out.byte(0); out.byte(0); out.byte(0) // sb, free, root, res
    out.byte(0)                                        // shared msg version
    out.byte(8); out.byte(8); out.byte(0)              // offsets, lengths, res
    out.le16(4); out.le16(16)                          // leaf K, internal K
    out.le32(0)                                        // flags
    out.le64(0)                                        // base address
    out.undef8()                                       // free space
    out.patch8(() => out.pos.toLong)                   // EOF = final size
    out.undef8()                                       // driver info
    // root group symbol table entry
    out.le64(0)                                        // link name offset
    out.patch8(() => rootOh)                           // object header
    out.le32(0); out.le32(0)                           // cache type, reserved
    out.pad(16)                                        // scratch

    // root group object header (v1): one symbol-table message
    rootOh = out.pos
    writeV1Header(out, Seq(
      (0x0011, { a: Assembler => a.patch8(() => btreeAddr); a.patch8(() => heapHdrAddr) }, 16)))

    // group B-tree (one leaf, one SNOD child)
    btreeAddr = out.pos
    out.bytesRaw("TREE".getBytes)
    out.byte(0); out.byte(0) // type 0, level 0
    out.le16(1)              // entries used
    out.undef8(); out.undef8()
    out.le64(0)                       // key 0: "" (heap offset 0)
    out.patch8(() => snodAddr)        // child 0
    out.le64(nameOffsets.last)        // key 1: largest name

    // SNOD
    snodAddr = out.pos
    out.bytesRaw("SNOD".getBytes)
    out.byte(1); out.byte(0)
    out.le16(sorted.length)
    sorted.indices.foreach { i =>
      out.le64(nameOffsets(i))
      val idx = i
      out.patch8(() => ohAddrs(idx))
      out.le32(0); out.le32(0) // cache type 0, reserved
      out.pad(16)
    }

    // local heap
    heapHdrAddr = out.pos
    out.bytesRaw("HEAP".getBytes)
    out.byte(0); out.pad(3)
    out.le64(heapDataSize)
    out.le64(1)                        // free list: none
    out.patch8(() => heapDataAddr)
    heapDataAddr = out.pos
    out.pad(8)
    sorted.foreach { v =>
      out.bytesRaw(v.name.getBytes)
      out.byte(0)
      out.alignTo(8)
    }

    // datasets
    sorted.zipWithIndex.foreach { case (v, i) =>
      ohAddrs(i) = writeDataset(out, v)
    }
  }

  // ---- v2 file ----------------------------------------------------
  private def writeV2(out: Assembler, vars: Seq[H5Var]): Unit = {
    var rootOh = 0L
    val ohAddrs = new Array[Long](vars.length)
    out.bytesRaw(Signature)
    out.byte(2)             // superblock v2
    out.byte(8); out.byte(8)
    out.byte(0)             // flags
    out.le64(0)             // base
    out.undef8()            // extension
    out.patch8(() => out.pos.toLong) // EOF
    out.patch8(() => rootOh)
    val sbChecksumPos = out.pos
    out.le32(0)             // checksum, fixed after assembly

    // root group object header v2 with link messages
    rootOh = out.pos
    val linkMsgs = vars.zipWithIndex.map { case (v, i) =>
      val idx = i
      (0x0006, { a: Assembler =>
        a.byte(1)            // link msg version
        a.byte(0)            // flags: hard link, 1-byte name length
        a.byte(v.name.length)
        a.bytesRaw(v.name.getBytes)
        a.patch8(() => ohAddrs(idx))
      }, 3 + v.name.length + 8)
    }
    writeV2Header(out, linkMsgs)
    val rootEnd = out.pos

    vars.zipWithIndex.foreach { case (v, i) => ohAddrs(i) = writeDataset(out, v) }

    // checksums on the final image: superblock (bytes before its own
    // checksum field) and the root v2 header (OHDR through messages)
    out.checksumFixups ::= ((sbChecksumPos, 0, sbChecksumPos))
    out.checksumFixups ::= ((rootEnd - 4, rootOh.toInt, rootEnd - 4))
  }

  // ---- shared pieces ----------------------------------------------
  /** v1 object header from (type, bodyWriter, bodySize) messages.
    * Sizes must be 8-byte multiples (callers pad). */
  private def writeV1Header(out: Assembler,
      msgs: Seq[(Int, Assembler => Unit, Int)]): Unit = {
    out.byte(1); out.byte(0)
    out.le16(msgs.length)
    out.le32(1) // ref count
    out.le32(msgs.map(m => 8 + m._3).sum.toLong)
    out.pad(4)
    msgs.foreach { case (t, body, size) =>
      require(size % 8 == 0, s"v1 message size $size not 8-aligned")
      out.le16(t); out.le16(size); out.byte(0); out.pad(3)
      val before = out.pos
      body(out)
      require(out.pos - before == size,
        s"message 0x$t%02x wrote ${out.pos - before}, declared $size")
    }
  }

  /** v2 object header (flags=0x02: 4-byte chunk-0 size, no times). */
  private def writeV2Header(out: Assembler,
      msgs: Seq[(Int, Assembler => Unit, Int)]): Unit = {
    out.bytesRaw("OHDR".getBytes)
    out.byte(2); out.byte(0x02)
    out.le32(msgs.map(m => 4 + m._3).sum.toLong)
    msgs.foreach { case (t, body, size) =>
      out.byte(t); out.le16(size); out.byte(0)
      val before = out.pos
      body(out)
      require(out.pos - before == size,
        s"v2 message 0x$t%02x wrote ${out.pos - before}, declared $size")
    }
    out.le32(0) // checksum patched by writeV2 (root) — datasets use v1
  }

  /** Dataset object header (v1) + its data; returns the header addr. */
  private def writeDataset(out: Assembler, v: H5Var): Long = {
    out.alignTo(8)
    val addr = out.pos.toLong
    var dataAddr = 0L; var btreeAddr = 0L
    val sz = v.dtype.elemSize
    val (clsByte, bits0, props): (Int, Int, Assembler => Unit) = v.dtype match {
      case TFloat64 => ((1 << 4) | 1, 0x20, { a: Assembler =>
        a.le16(0); a.le16(64); a.byte(52); a.byte(11); a.byte(0); a.byte(52)
        a.le32(1023); a.pad(0) })
      case TFloat32 => ((1 << 4) | 1, 0x20, { a: Assembler =>
        a.le16(0); a.le16(32); a.byte(23); a.byte(8); a.byte(0); a.byte(23)
        a.le32(127); a.pad(0) })
      case TInt32 => ((1 << 4) | 0, 0x08, { a: Assembler =>
        a.le16(0); a.le16(32) })
      case TInt8 => ((1 << 4) | 0, 0x08, { a: Assembler =>
        a.le16(0); a.le16(8) })
    }
    // float props = 12 bytes → message 8+12 = 20 → pad to 24
    // fixed props = 4 bytes → message 8+4 = 12 → pad to 16
    val dtSize = if (v.dtype == TFloat64 || v.dtype == TFloat32) 24 else 16
    val dtPad = dtSize - 8 - (if (dtSize == 24) 12 else 4)
    // sign-location byte for floats lives in bits 8-15 of the class
    // bit field; ints only use bits0
    val bits1 = v.dtype match {
      case TFloat64 => 63
      case TFloat32 => 31
      case _ => 0
    }
    val msgs = scala.collection.mutable.ArrayBuffer.empty[(Int, Assembler => Unit, Int)]
    msgs += ((0x0001, { a: Assembler => // dataspace v1, rank 2
      a.byte(1); a.byte(2); a.byte(0); a.pad(5)
      a.le64(v.h); a.le64(v.w)
    }, 24))
    msgs += ((0x0003, { a: Assembler =>
      a.byte(clsByte)
      a.byte(bits0 | (if (v.bigEndian) 0x01 else 0x00))
      a.byte(bits1); a.byte(0)
      a.le32(sz.toLong)
      props(a); a.pad(dtPad)
    }, dtSize))
    msgs += ((0x0005, { a: Assembler => // fill value v2, undefined
      a.byte(2); a.byte(2); a.byte(2); a.byte(0); a.pad(4)
    }, 8))
    v.chunk match {
      case None =>
        msgs += ((0x0008, { a: Assembler =>
          a.byte(3); a.byte(1) // layout v3, contiguous
          a.patch8(() => dataAddr)
          a.le64(v.h.toLong * v.w * sz)
          a.pad(6)
        }, 24))
      case Some((cr, cc)) =>
        if (v.deflate > 0)
          msgs += ((0x000B, { a: Assembler => // filter pipeline v1
            a.byte(1); a.byte(1); a.pad(6)
            a.le16(1); a.le16(0); a.le16(1); a.le16(1) // deflate, optional
            a.le32(v.deflate.toLong); a.pad(4)
          }, 24))
        msgs += ((0x0008, { a: Assembler =>
          a.byte(3); a.byte(2) // layout v3, chunked
          a.byte(3)            // dimensionality = rank + 1
          a.patch8(() => btreeAddr)
          a.le32(cr.toLong); a.le32(cc.toLong); a.le32(sz.toLong)
          a.pad(1)
        }, 24))
    }
    writeV1Header(out, msgs.toSeq)

    // data
    v.chunk match {
      case None =>
        out.alignTo(8)
        dataAddr = out.pos
        out.bytesRaw(encodeElems(v, v.data))
      case Some((cr, cc)) =>
        // chunks row-major; edge chunks padded to full size with 0
        val chunkAddrs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Long)]
        var r0 = 0
        while (r0 < v.h) {
          var c0 = 0
          while (c0 < v.w) {
            val cells = new Array[Double](cr * cc)
            var r = 0
            while (r < cr) {
              var c = 0
              while (c < cc) {
                if (r0 + r < v.h && c0 + c < v.w)
                  cells(r * cc + c) = v.data((r0 + r) * v.w + (c0 + c))
                c += 1
              }
              r += 1
            }
            val raw = encodeElems(v, cells)
            val stored = if (v.deflate > 0) Flate.deflate(raw, v.deflate, raw = false) else raw
            out.alignTo(8)
            val a = out.pos.toLong
            out.bytesRaw(stored)
            chunkAddrs += ((r0.toLong, c0.toLong, stored.length, a))
            c0 += cc
          }
          r0 += cr
        }
        // one chunk B-tree leaf (node counts here stay far below K)
        out.alignTo(8)
        btreeAddr = out.pos
        out.bytesRaw("TREE".getBytes)
        out.byte(1); out.byte(0)
        out.le16(chunkAddrs.length)
        out.undef8(); out.undef8()
        chunkAddrs.foreach { case (r, c, size, a) =>
          out.le32(size.toLong); out.le32(0)
          out.le64(r); out.le64(c); out.le64(0)
          out.le64(a)
        }
        // final key: one-past-the-end chunk offsets
        out.le32(0); out.le32(0)
        out.le64(((v.h + cr - 1) / cr).toLong * cr)
        out.le64(((v.w + cc - 1) / cc).toLong * cc)
        out.le64(0)
    }
    addr
  }

  private def encodeElems(v: H5Var, cells: Array[Double]): Array[Byte] = {
    val sz = v.dtype.elemSize
    val outB = new java.io.ByteArrayOutputStream(cells.length * sz)
    var i = 0
    while (i < cells.length) {
      val bits = v.dtype match {
        case TFloat64 => java.lang.Double.doubleToLongBits(cells(i))
        case TFloat32 => java.lang.Float.floatToIntBits(cells(i).toFloat).toLong & 0xffffffffL
        case TInt32 => cells(i).toLong & 0xffffffffL
        case TInt8 => cells(i).toLong & 0xffL
      }
      if (v.bigEndian) Bytes.putBe(outB, bits, sz) else Bytes.putLe(outB, bits, sz)
      i += 1
    }
    outB.toByteArray
  }

  // ---------------------------------------------------------------
  // Jenkins lookup3 (hashlittle, initval 0) — H5_checksum_lookup3,
  // from the public algorithm; used for the v2 superblock / v2 object
  // header checksums the format requires.
  // ---------------------------------------------------------------
  def lookup3(data: Array[Byte], from: Int, len0: Int): Int = {
    def rot(x: Int, k: Int): Int = (x << k) | (x >>> (32 - k))
    var a = 0xdeadbeef + len0; var b = a; var c = a
    var off = from; var len = len0
    def word(o: Int, n: Int): Int = Bytes.le(data, o, n).toInt
    while (len > 12) {
      a += word(off, 4); b += word(off + 4, 4); c += word(off + 8, 4)
      a -= c; a ^= rot(c, 4); c += b
      b -= a; b ^= rot(a, 6); a += c
      c -= b; c ^= rot(b, 8); b += a
      a -= c; a ^= rot(c, 16); c += b
      b -= a; b ^= rot(a, 19); a += c
      c -= b; c ^= rot(b, 4); b += a
      off += 12; len -= 12
    }
    if (len > 0) {
      a += word(off, math.min(len, 4))
      if (len > 4) b += word(off + 4, math.min(len - 4, 4))
      if (len > 8) c += word(off + 8, math.min(len - 8, 4))
      c ^= b; c -= rot(b, 14)
      a ^= c; a -= rot(c, 11)
      b ^= a; b -= rot(a, 25)
      c ^= b; c -= rot(b, 16)
      a ^= c; a -= rot(c, 4)
      b ^= a; b -= rot(a, 14)
      c ^= b; c -= rot(b, 24)
    }
    c
  }
}
