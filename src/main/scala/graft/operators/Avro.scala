package graft.operators

import org.apache.spark.sql.Dataset

import scala.util.control.NonFatal

import graft.codec.{Bytes, Cursor, Flate, Leb128, Malformed}

/** Avro Object Container File walk — the ROW-format counterpart to
  * the Parquet reader (`ParquetFile.scala`): Kafka archives, CDC
  * dumps and ingest staging ship OCF. Dependency-free subset of the
  * Avro 1.x spec:
  *
  *  - container framing: magic `Obj\x01`, file-metadata map (avro
  *    map wire format: zigzag block counts — negative count carries
  *    a byte size — terminated by 0), REQUIRED `avro.schema`,
  *    optional `avro.codec` ∈ {null, deflate}, 16-byte sync marker;
  *    every data block is (record count, byte size, payload, sync)
  *    and the sync must equal the header's byte-for-byte;
  *  - `deflate` blocks are RAW deflate (no zlib wrapper, the spec's
  *    choice), inflated by `graft.codec.Flate` with exact consumed
  *    framing;
  *  - the schema is PARSED (a minimal JSON walker for the subset),
  *    not assumed: a flat record whose fields are `long`/`int`/
  *    `string`/`boolean`/`double` or the nullable union
  *    `["null", T]`; anything else → `valid=false`;
  *  - record decode follows the parsed field order: zigzag varints
  *    for long/int, length-prefixed UTF-8 for string, one byte for
  *    boolean, 8-byte LE for double, a zigzag branch index for the
  *    union; the block's declared record count and byte size must
  *    BOTH land exactly;
  *  - per-file aggregates: record/block counts, sum of all integer
  *    fields, per-union null tallies, string byte lengths and
  *    unsigned byte sums — the shapes the oracle replays.
  *
  * Verification is differential against the REAL writer: fixtures
  * come from avro-java's `DataFileWriter` (deflate means file bytes
  * share no structure with the record formulas), and the spec
  * cross-checks our decode against avro-java's own `DataFileReader`.
  *
  * Malformed → all-zero `valid=false`, never a throw (q134);
  * per-file decoded-byte cap (zip-bomb stance).
  *
  * 100 TB shape: pure map-side behind the imperative codec seam;
  * files never shuffle. */
object Avro {

  final case class AvroInfo(media_id: Long, n_blocks: Long,
      n_records: Long, sum_long: Long, n_nulls: Long, sum_slen: Long,
      sum_sbytes: Long, valid: Boolean)

  private def fail(): Nothing = throw Malformed

  private val MaxDecoded = 1L << 26

  // ---- minimal JSON walker for the schema subset ----
  // {"type":"record","name":...,"fields":[{"name":...,"type": T},…]}
  // where T is "long"|"int"|"string"|"boolean"|"double" or
  // ["null", T]. Whitespace tolerated; anything else rejects.
  private final class J(s: String) {
    var pos = 0
    def ws(): Unit = { while (pos < s.length && s.charAt(pos).isWhitespace) pos += 1 }
    def expect(c: Char): Unit = { ws(); if (pos >= s.length || s.charAt(pos) != c) fail(); pos += 1 }
    def peek(): Char = { ws(); if (pos >= s.length) fail(); s.charAt(pos) }
    def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (pos < s.length && s.charAt(pos) != '"') {
        val c = s.charAt(pos)
        if (c == '\\') { // escapes: keep the simple set
          pos += 1
          if (pos >= s.length) fail()
          s.charAt(pos) match {
            case '"'  => sb.append('"')
            case '\\' => sb.append('\\')
            case '/'  => sb.append('/')
            case 'n'  => sb.append('\n')
            case 't'  => sb.append('\t')
            case _    => fail() // subset
          }
        } else sb.append(c)
        pos += 1
      }
      if (pos >= s.length) fail()
      pos += 1
      sb.toString
    }
    /** Skip any JSON value (for schema attrs we don't read). */
    def skip(): Unit = {
      ws()
      peek() match {
        case '"' => str(): Unit
        case '{' =>
          expect('{')
          if (peek() != '}') {
            var go = true
            while (go) {
              str(): Unit; expect(':'); skip()
              if (peek() == ',') expect(',') else go = false
            }
          }
          expect('}')
        case '[' =>
          expect('[')
          if (peek() != ']') {
            var go = true
            while (go) {
              skip()
              if (peek() == ',') expect(',') else go = false
            }
          }
          expect(']')
        case _ =>
          // number / true / false / null
          val start = pos
          while (pos < s.length && !",]}".contains(s.charAt(pos)) &&
            !s.charAt(pos).isWhitespace) pos += 1
          if (pos == start) fail()
      }
    }
  }

  // field type codes
  private val T_LONG = 0; private val T_INT = 1; private val T_STR = 2
  private val T_BOOL = 3; private val T_DBL = 4
  private[graft] final case class Field(name: String, tpe: Int,
                                        nullable: Boolean)

  private def typeCode(s: String): Int = s match {
    case "long" => T_LONG; case "int" => T_INT; case "string" => T_STR
    case "boolean" => T_BOOL; case "double" => T_DBL; case _ => fail()
  }

  private[graft] def parseSchema(json: String): Vector[Field] = {
    val j = new J(json)
    j.expect('{')
    var isRecord = false
    var fields: Vector[Field] = null
    var go = true
    while (go) {
      val key = j.str(); j.expect(':')
      key match {
        case "type" => isRecord = j.str() == "record"
        case "fields" =>
          j.expect('[')
          val fs = Vector.newBuilder[Field]
          if (j.peek() != ']') {
            var more = true
            while (more) {
              j.expect('{')
              var name: String = null
              var tpe = -1; var nullable = false
              var fgo = true
              while (fgo) {
                val fk = j.str(); j.expect(':')
                fk match {
                  case "name" => name = j.str()
                  case "type" =>
                    if (j.peek() == '[') { // ["null", T]
                      j.expect('[')
                      if (j.str() != "null") fail()
                      j.expect(',')
                      tpe = typeCode(j.str())
                      nullable = true
                      j.expect(']')
                    } else tpe = typeCode(j.str())
                  case _ => j.skip()
                }
                if (j.peek() == ',') j.expect(',') else fgo = false
              }
              j.expect('}')
              if (name == null || tpe < 0) fail()
              fs += Field(name, tpe, nullable)
              if (j.peek() == ',') j.expect(',') else more = false
            }
          }
          j.expect(']')
          fields = fs.result()
        case _ => j.skip()
      }
      if (j.peek() == ',') j.expect(',') else go = false
    }
    j.expect('}')
    if (!isRecord || fields == null || fields.isEmpty) fail()
    fields
  }

  /** A `deflate` block: one raw DEFLATE stream filling the block. */
  private def inflateRaw(b: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val (d, used) = Flate.inflateCapped(b, off, len, MaxDecoded, raw = true)
    if (used != len) fail()
    d
  }

  private[graft] def parse(id: Long, b: Array[Byte]): AvroInfo = {
    val invalid = AvroInfo(id, 0L, 0L, 0L, 0L, 0L, 0L, valid = false)
    if (b == null || b.length < 20) return invalid
    try {
      if (b(0) != 'O' || b(1) != 'b' || b(2) != 'j' || b(3) != 1) fail()
      val r = new Cursor(b, 4, b.length)
      // file metadata map
      var schemaJson: String = null
      var codec = "null"
      var go = true
      while (go) {
        var cnt = r.zigzag()
        if (cnt == 0) go = false
        else {
          if (cnt < 0) { cnt = -cnt; r.zigzag(): Unit } // block byte size
          var i = 0L
          while (i < cnt) {
            val kl = r.zigzag(); val ks = r.take(kl)
            val key = new String(b, ks, kl.toInt, "UTF-8")
            val vl = r.zigzag(); val vs = r.take(vl)
            key match {
              case "avro.schema" =>
                schemaJson = new String(b, vs, vl.toInt, "UTF-8")
              case "avro.codec" =>
                codec = new String(b, vs, vl.toInt, "UTF-8")
              case _ => ()
            }
            i += 1
          }
        }
      }
      if (schemaJson == null) fail()
      if (codec != "null" && codec != "deflate") fail()
      val fields = parseSchema(schemaJson)
      val syncOff = r.take(16L)
      // data blocks
      var nBlocks = 0L; var nRecords = 0L
      var sumLong = 0L; var nNulls = 0L
      var sumSlen = 0L; var sumSbytes = 0L
      var decoded = 0L
      def decodeRecords(d: Array[Byte], off: Int, len: Int,
          cnt: Long): Unit = {
        val rr = new Cursor(d, off, off + len)
        var i = 0L
        while (i < cnt) {
          fields.foreach { f =>
            val present =
              if (!f.nullable) true
              else rr.zigzag() match {
                case 0L => false // branch 0 = null
                case 1L => true
                case _  => fail()
              }
            if (!present) nNulls += 1
            else f.tpe match {
              case T_LONG | T_INT => sumLong += rr.zigzag()
              case T_BOOL =>
                val v = rr.u8(); if (v > 1) fail()
                sumLong += v
              case T_DBL => rr.take(8L): Unit // counted, not summed
              case T_STR =>
                val l = rr.zigzag(); val s = rr.take(l)
                sumSlen += l
                var k = 0
                while (k < l) { sumSbytes += d(s + k) & 0xff; k += 1 }
            }
          }
          i += 1
        }
        if (rr.pos != off + len) fail() // block byte size exact
      }
      while (r.pos < r.end) {
        val cnt = r.zigzag()
        if (cnt < 0) fail()
        val size = r.zigzag()
        val ds = r.take(size)
        // sync marker must match the header's
        val ss = r.take(16L)
        var k = 0
        while (k < 16) { if (b(ss + k) != b(syncOff + k)) fail(); k += 1 }
        if (codec == "deflate") {
          val d = inflateRaw(b, ds, size.toInt)
          decoded += d.length
          if (decoded > MaxDecoded) fail()
          decodeRecords(d, 0, d.length, cnt)
        } else decodeRecords(b, ds, size.toInt, cnt)
        nBlocks += 1
        nRecords += cnt
      }
      AvroInfo(id, nBlocks, nRecords, sumLong, nNulls, sumSlen,
        sumSbytes, valid = true)
    } catch {
      case Malformed | _: IndexOutOfBoundsException |
          _: NegativeArraySizeException | _: IllegalArgumentException =>
        invalid
    }
  }

  /** Map-side decode over (media_id, file bytes) rows. */
  def decodeAvro(media: Dataset[(Long, Array[Byte])]): Dataset[AvroInfo] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { case (id, bytes) => parse(id, bytes) })
  }

  // ================================================================
  // DEEP decoder (q221, r11 — the r10 verdict's #5 ask): nested
  // records, arrays, unions at any depth, plus the `snappy` codec
  // (raw snappy block + 4-byte BIG-ENDIAN CRC32 of the uncompressed
  // bytes, per the spec). The flat `parse` above keeps its pinned
  // strict-flat behavior; real CDC dumps and Kafka-ecosystem OCFs
  // land here.
  // ================================================================

  private val MaxSchemaDepth = 16

  private[graft] sealed trait AType
  private[graft] case object PLong extends AType
  private[graft] case object PInt extends AType
  private[graft] case object PStr extends AType
  private[graft] case object PBool extends AType
  private[graft] case object PDbl extends AType
  /** `nullBranch` records which union branch is "null" — the wire
    * carries the branch INDEX, so ["null",T] and [T,"null"] differ. */
  private[graft] final case class PNullable(inner: AType,
      nullBranch: Int) extends AType
  private[graft] final case class PRecord(
      fields: Vector[(String, AType)]) extends AType
  private[graft] final case class PArray(items: AType) extends AType

  private def prim(s: String): AType = s match {
    case "long" => PLong; case "int" => PInt; case "string" => PStr
    case "boolean" => PBool; case "double" => PDbl
    case _ => fail() // float/bytes/fixed/enum/map: documented subset
  }

  /** Recursive schema walk: primitive name, 2-branch nullable union
    * (either order), inline record, array-of-T, or the {"type":P}
    * wrapper form. */
  private def parseType(j: J, depth: Int): AType = {
    if (depth > MaxSchemaDepth) fail()
    j.peek() match {
      case '"' => prim(j.str())
      case '[' =>
        j.expect('[')
        def branch(): Option[AType] = // None = the null branch
          if (j.peek() == '"') {
            val s = j.str()
            if (s == "null") None else Some(prim(s))
          } else Some(parseType(j, depth + 1))
        val b1 = branch(); j.expect(','); val b2 = branch()
        j.expect(']')
        (b1, b2) match {
          case (None, Some(t)) => PNullable(t, 0)
          case (Some(t), None) => PNullable(t, 1)
          case _ => fail() // null-null or wide unions: subset
        }
      case '{' =>
        j.expect('{')
        var t: String = null
        var fields: Vector[(String, AType)] = null
        var items: AType = null
        var go = true
        while (go) {
          val key = j.str(); j.expect(':')
          key match {
            case "type" => t = j.str()
            case "fields" => fields = parseFieldList(j, depth)
            case "items" => items = parseType(j, depth + 1)
            case _ => j.skip()
          }
          if (j.peek() == ',') j.expect(',') else go = false
        }
        j.expect('}')
        t match {
          case "record" =>
            if (fields == null || fields.isEmpty) fail()
            PRecord(fields)
          case "array" =>
            if (items == null) fail()
            PArray(items)
          case null => fail()
          case p => prim(p) // {"type":"long"} wrapper form
        }
      case _ => fail()
    }
  }

  private def parseFieldList(j: J,
      depth: Int): Vector[(String, AType)] = {
    j.expect('[')
    val fs = Vector.newBuilder[(String, AType)]
    if (j.peek() != ']') {
      var more = true
      while (more) {
        j.expect('{')
        var name: String = null
        var tpe: AType = null
        var fgo = true
        while (fgo) {
          val fk = j.str(); j.expect(':')
          fk match {
            case "name" => name = j.str()
            case "type" => tpe = parseType(j, depth + 1)
            case _ => j.skip()
          }
          if (j.peek() == ',') j.expect(',') else fgo = false
        }
        j.expect('}')
        if (name == null || tpe == null) fail()
        fs += ((name, tpe))
        if (j.peek() == ',') j.expect(',') else more = false
      }
    }
    j.expect(']')
    fs.result()
  }

  private[graft] def parseDeepSchema(json: String): PRecord = {
    val j = new J(json)
    parseType(j, 0) match {
      case r: PRecord => r
      case _ => fail() // top level must be a record
    }
  }

  /** Avro `snappy` codec block: raw snappy body + 4-byte BIG-ENDIAN
    * CRC32 of the UNCOMPRESSED data. The declared output length is
    * bounded BEFORE allocation (zip-bomb stance). */
  private def snappyBlock(b: Array[Byte], off: Int,
      len: Int): Array[Byte] = {
    if (len < 5) fail()
    val comp = len - 4
    // preamble varint, read ahead of decompress
    val outLen = new Cursor(b, off, off + comp).uleb(5)
    if (outLen > MaxDecoded) fail()
    val d = Snappy.decompress(b, off, comp, outLen.toInt)
    val crc = new java.util.zip.CRC32()
    crc.update(d)
    if (crc.getValue.toInt != Bytes.be32(b, off + comp)) fail()
    d
  }

  /** Deep per-file aggregates: `n_items` counts array elements at any
    * depth; the rest mirror [[AvroInfo]] but accumulate over the whole
    * value tree. */
  final case class AvroDeepInfo(media_id: Long, n_blocks: Long,
      n_records: Long, sum_long: Long, n_nulls: Long, n_items: Long,
      sum_slen: Long, sum_sbytes: Long, valid: Boolean)

  private final class DeepAgg {
    var sumLong = 0L; var nNulls = 0L; var nItems = 0L
    var sumSlen = 0L; var sumSbytes = 0L
  }

  private def decodeVal(rr: Cursor, t: AType, agg: DeepAgg): Unit = t match {
    case PLong | PInt => agg.sumLong += rr.zigzag()
    case PBool =>
      val v = rr.u8(); if (v > 1) fail()
      agg.sumLong += v
    case PDbl => rr.take(8L): Unit // counted, not summed
    case PStr =>
      val l = rr.zigzag(); val s = rr.take(l)
      agg.sumSlen += l
      var k = 0
      while (k < l) { agg.sumSbytes += rr.b(s + k) & 0xff; k += 1 }
    case PNullable(inner, nb) =>
      val br = rr.zigzag()
      if (br == nb) agg.nNulls += 1
      else if (br == 1L - nb) decodeVal(rr, inner, agg)
      else fail()
    case PRecord(fs) =>
      fs.foreach { case (_, ft) => decodeVal(rr, ft, agg) }
    case PArray(items) => // block runs: count (neg ⇒ +byte size), 0 ends
      var go = true
      while (go) {
        var c = rr.zigzag()
        if (c == 0) go = false
        else {
          if (c < 0) { c = -c; rr.zigzag(): Unit }
          if (c > MaxDecoded) fail()
          var i = 0L
          while (i < c) {
            decodeVal(rr, items, agg); agg.nItems += 1; i += 1
          }
        }
      }
  }

  private[graft] def parseDeep(id: Long, b: Array[Byte]): AvroDeepInfo = {
    val invalid = AvroDeepInfo(id, 0L, 0L, 0L, 0L, 0L, 0L, 0L,
      valid = false)
    if (b == null || b.length < 20) return invalid
    try {
      if (b(0) != 'O' || b(1) != 'b' || b(2) != 'j' || b(3) != 1) fail()
      val r = new Cursor(b, 4, b.length)
      var schemaJson: String = null
      var codec = "null"
      var go = true
      while (go) { // file metadata map
        var cnt = r.zigzag()
        if (cnt == 0) go = false
        else {
          if (cnt < 0) { cnt = -cnt; r.zigzag(): Unit }
          var i = 0L
          while (i < cnt) {
            val kl = r.zigzag(); val ks = r.take(kl)
            val key = new String(b, ks, kl.toInt, "UTF-8")
            val vl = r.zigzag(); val vs = r.take(vl)
            key match {
              case "avro.schema" =>
                schemaJson = new String(b, vs, vl.toInt, "UTF-8")
              case "avro.codec" =>
                codec = new String(b, vs, vl.toInt, "UTF-8")
              case _ => ()
            }
            i += 1
          }
        }
      }
      if (schemaJson == null) fail()
      if (codec != "null" && codec != "deflate" && codec != "snappy")
        fail()
      val schema = parseDeepSchema(schemaJson)
      val syncOff = r.take(16L)
      var nBlocks = 0L; var nRecords = 0L
      var decoded = 0L
      val agg = new DeepAgg
      while (r.pos < r.end) {
        val cnt = r.zigzag()
        if (cnt < 0) fail()
        val size = r.zigzag()
        val ds = r.take(size)
        val ss = r.take(16L)
        var k = 0
        while (k < 16) {
          if (b(ss + k) != b(syncOff + k)) fail()
          k += 1
        }
        val (db, doff, dlen) = codec match {
          case "null" => (b, ds, size.toInt)
          case "deflate" =>
            val d = inflateRaw(b, ds, size.toInt)
            (d, 0, d.length)
          case "snappy" =>
            val d = snappyBlock(b, ds, size.toInt)
            (d, 0, d.length)
        }
        decoded += dlen
        if (decoded > MaxDecoded) fail()
        val rr = new Cursor(db, doff, doff + dlen)
        var i = 0L
        while (i < cnt) { decodeVal(rr, schema, agg); i += 1 }
        if (rr.pos != doff + dlen) fail() // block byte size exact
        nBlocks += 1
        nRecords += cnt
      }
      AvroDeepInfo(id, nBlocks, nRecords, agg.sumLong, agg.nNulls,
        agg.nItems, agg.sumSlen, agg.sumSbytes, valid = true)
    } catch {
      case Malformed | _: IndexOutOfBoundsException |
          _: NegativeArraySizeException | _: IllegalArgumentException =>
        invalid
    }
  }

  /** Map-side deep decode over (media_id, file bytes) rows. */
  def decodeAvroDeep(
      media: Dataset[(Long, Array[Byte])]): Dataset[AvroDeepInfo] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { case (id, bytes) =>
      parseDeep(id, bytes)
    })
  }

  // =================================================================
  // OUR OCF WRITER (r11, q227 — the row-format mirror of the q216
  // parquet writer): the engine PRODUCES Avro container files
  // dependency-free, and the gate is the strongest differential
  // available — avro-java's own `DataFileReader` consumes our bytes
  // (and our own reader cross-checks). Subset: the flat record
  // {id: long, v: ["null","long"], s: string} wire shape
  // generalized to (long, nullable-long, string) rows; `null` and
  // `deflate` codecs (raw DEFLATE — the inverse of the reader's
  // inflate); explicit deterministic sync markers; a chosen
  // records-per-block framing.
  // =================================================================

  private final class W {
    val out = new java.io.ByteArrayOutputStream(256)
    def zigzag(v: Long): Unit = Leb128.write(out, (v << 1) ^ (v >> 63))
    def bytes(b: Array[Byte]): Unit = {
      zigzag(b.length.toLong); out.write(b, 0, b.length)
    }
    def str(s: String): Unit = bytes(s.getBytes("UTF-8"))
    def result: Array[Byte] = out.toByteArray
  }

  /** RAW deflate (the spec's choice) at zlib's default level (-1). */
  private def deflateRaw(b: Array[Byte]): Array[Byte] =
    Flate.deflate(b, -1, raw = true)

  /** Serialize one complete OCF: records (id, v nullable, s) in
    * `perBlock`-record blocks, `deflate` when asked, the given
    * 16-byte sync marker — readable by avro-java and by [[parse]]. */
  def writeOcf(records: Seq[(Long, Option[Long], String)],
      sync: Array[Byte], deflate: Boolean,
      perBlock: Int = 2): Array[Byte] = {
    require(sync.length == 16, "sync marker must be 16 bytes")
    require(perBlock > 0, "perBlock must be positive")
    val w = new W
    w.out.write('O'); w.out.write('b'); w.out.write('j'); w.out.write(1)
    // file metadata map: one block of 2 entries, then terminator
    w.zigzag(2L)
    w.str("avro.schema")
    w.str("""{"type":"record","name":"doc","fields":[""" +
      """{"name":"id","type":"long"},""" +
      """{"name":"v","type":["null","long"]},""" +
      """{"name":"s","type":"string"}]}""")
    w.str("avro.codec")
    w.str(if (deflate) "deflate" else "null")
    w.zigzag(0L)
    w.out.write(sync, 0, 16)
    records.grouped(perBlock).foreach { grp =>
      val body = new W
      grp.foreach { case (id, v, s) =>
        body.zigzag(id)
        v match {
          case None => body.zigzag(0L) // branch 0 = null
          case Some(x) => body.zigzag(1L); body.zigzag(x)
        }
        body.str(s)
      }
      val payload =
        if (deflate) deflateRaw(body.result) else body.result
      w.zigzag(grp.size.toLong)
      w.zigzag(payload.length.toLong)
      w.out.write(payload, 0, payload.length)
      w.out.write(sync, 0, 16)
    }
    w.result
  }

  /** One deep record (q221's wire shape): id, meta{src, score?},
    * toks: array<long>, tags: ["null", array<string>]. */
  final case class DeepRec(id: Long, src: String, score: Option[Long],
      toks: Seq[Long], tags: Option[Seq[String]])

  private def snappyBlock(body: Array[Byte]): Array[Byte] = {
    // avro's snappy codec: raw block ++ 4-byte BIG-ENDIAN CRC32 of
    // the UNCOMPRESSED data (what the q204/q221 reader verifies)
    val c = Snappy.compress(body)
    val crc = new java.util.zip.CRC32()
    crc.update(body, 0, body.length)
    val out = new java.io.ByteArrayOutputStream(c.length + 4)
    out.write(c); Bytes.putBe32(out, crc.getValue.toInt)
    out.toByteArray
  }

  /** Serialize one NESTED-schema OCF (r12 — the writer mirror of the
    * q221 deep reader, closing the asymmetry the r11 verdict named):
    * the docw record tree (nested record, array<long>, a nullable
    * array<string> union) in `perBlock`-record blocks under the
    * `null`, `deflate` or `snappy` codec — snappy blocks carry the
    * spec's CRC32 suffix over the uncompressed bytes, produced by OUR
    * raw-block compressor ([[Snappy.compress]]). Readable by
    * avro-java (the q235 gate) and by [[parseDeep]]. */
  def writeOcfDeep(records: Seq[DeepRec], sync: Array[Byte],
      codec: String, perBlock: Int = 2): Array[Byte] = {
    require(sync.length == 16, "sync marker must be 16 bytes")
    require(perBlock > 0, "perBlock must be positive")
    require(codec == "null" || codec == "deflate" || codec == "snappy",
      s"unsupported codec $codec")
    val w = new W
    w.out.write('O'); w.out.write('b'); w.out.write('j'); w.out.write(1)
    w.zigzag(2L)
    w.str("avro.schema")
    w.str("""{"type":"record","name":"docw","fields":[""" +
      """{"name":"id","type":"long"},""" +
      """{"name":"meta","type":{"type":"record","name":"m","fields":[""" +
      """{"name":"src","type":"string"},""" +
      """{"name":"score","type":["null","long"]}]}},""" +
      """{"name":"toks","type":{"type":"array","items":"long"}},""" +
      """{"name":"tags","type":""" +
      """["null",{"type":"array","items":"string"}]}]}""")
    w.str("avro.codec")
    w.str(codec)
    w.zigzag(0L)
    w.out.write(sync, 0, 16)
    records.grouped(perBlock).foreach { grp =>
      val body = new W
      grp.foreach { r =>
        body.zigzag(r.id)
        body.str(r.src) // meta.src
        r.score match { // meta.score union
          case None => body.zigzag(0L)
          case Some(x) => body.zigzag(1L); body.zigzag(x)
        }
        if (r.toks.nonEmpty) { // array<long>: one block + terminator
          body.zigzag(r.toks.size.toLong)
          r.toks.foreach(body.zigzag)
        }
        body.zigzag(0L)
        r.tags match { // union ["null", array<string>]
          case None => body.zigzag(0L)
          case Some(ts) =>
            body.zigzag(1L)
            if (ts.nonEmpty) {
              body.zigzag(ts.size.toLong)
              ts.foreach(body.str)
            }
            body.zigzag(0L)
        }
      }
      val raw = body.result
      val payload = codec match {
        case "deflate" => deflateRaw(raw)
        case "snappy" => snappyBlock(raw)
        case _ => raw
      }
      w.zigzag(grp.size.toLong)
      w.zigzag(payload.length.toLong)
      w.out.write(payload, 0, payload.length)
      w.out.write(sync, 0, 16)
    }
    w.result
  }

  /** One own-writer DEEP OCF per doc group (q235): the q221 data
    * formulas — so the SAME oracle replay gates avro-java's bytes
    * (q221) and ours — under snappy (even g) / deflate (odd g). */
  def ownOcfDeepGroupPayload(g: Long, ids: Array[Long]): Array[Byte] = {
    require(g >= 0 && ids.nonEmpty, s"bad group $g")
    val sync = new Array[Byte](16)
    var k = 0
    while (k < 16) {
      sync(k) = (((g * 37 + k) * 2654435761L >>> 7) & 0xff).toByte
      k += 1
    }
    writeOcfDeep(ids.toSeq.map(d => DeepRec(d, "s" + (d % 5),
      if (d % 3 == 0) None else Some((7 * d) % 50),
      if (d % 4 == 0) Seq.empty else Seq(d % 10, d % 7, d % 3),
      if (d % 6 == 0) None else Some(Seq("t" + (d % 2))))),
      sync, if (g % 2 == 0) "snappy" else "deflate")
  }

  /** One own-writer OCF per doc group (q227): record for doc d is
    * (id = d, v = null when d%3==0 else (7d)%50, s = "s"·(1+d%4)++d)
    * — the q215 formulas, so the SAME oracle replay gates bytes from
    * the real writer (q215) and from ours (q227); deflate on even
    * groups, blocks of two. */
  def ownOcfGroupPayload(g: Long, ids: Array[Long]): Array[Byte] = {
    require(g >= 0 && ids.nonEmpty, s"bad group $g")
    val sync = new Array[Byte](16)
    var k = 0
    while (k < 16) {
      sync(k) = (((g * 31 + k) * 2654435761L >>> 7) & 0xff).toByte
      k += 1
    }
    writeOcf(ids.toSeq.map(d => (d,
      if (d % 3 == 0) None else Some((7 * d) % 50),
      "s" * (1 + d % 4).toInt + d)), sync, deflate = g % 2 == 0)
  }

  /** Map-side avro-java read-back of OUR deep bytes (q235 — the
    * nested mirror of [[decodeWithAvroJava]]): the REAL reader
    * consumes our record-tree encoding, unions, array blocks and
    * snappy frames, and folds the same aggregates [[parseDeep]]
    * reports — so the q221 oracle replays over our writer's output. */
  def decodeDeepWithAvroJava(
      media: Dataset[(Long, Array[Byte])]): Dataset[AvroDeepInfo] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { case (id, bytes) =>
      try {
        val r = new org.apache.avro.file.DataFileReader(
          new org.apache.avro.file.SeekableByteArrayInput(bytes),
          new org.apache.avro.generic.GenericDatumReader[
            org.apache.avro.generic.GenericRecord]())
        try {
          var nBlocks = 0L; var nRecords = 0L; var sumLong = 0L
          var nNulls = 0L; var nItems = 0L
          var sumSlen = 0L; var sumSbytes = 0L
          var lastSync = -1L
          def str(s: String): Unit = {
            val sb = s.getBytes("UTF-8")
            sumSlen += sb.length
            var i = 0
            while (i < sb.length) { sumSbytes += sb(i) & 0xff; i += 1 }
          }
          while (r.hasNext) {
            val pos = r.previousSync()
            if (pos != lastSync) { nBlocks += 1; lastSync = pos }
            val rec = r.next()
            nRecords += 1
            sumLong += rec.get("id").asInstanceOf[java.lang.Long]
            val meta = rec.get("meta")
              .asInstanceOf[org.apache.avro.generic.GenericRecord]
            str(meta.get("src").toString)
            val score = meta.get("score")
            if (score == null) nNulls += 1
            else sumLong += score.asInstanceOf[java.lang.Long]
            val toks = rec.get("toks")
              .asInstanceOf[java.util.List[java.lang.Long]]
            val ti = toks.iterator()
            while (ti.hasNext) { sumLong += ti.next(); nItems += 1 }
            val tags = rec.get("tags")
            if (tags == null) nNulls += 1
            else {
              val li = tags.asInstanceOf[java.util.List[AnyRef]]
                .iterator()
              while (li.hasNext) { str(li.next().toString); nItems += 1 }
            }
          }
          AvroDeepInfo(id, nBlocks, nRecords, sumLong, nNulls, nItems,
            sumSlen, sumSbytes, valid = true)
        } finally r.close()
      } catch {
        case NonFatal(_) =>
          AvroDeepInfo(id, 0L, 0L, 0L, 0L, 0L, 0L, 0L, valid = false)
      }
    })
  }

  /** Map-side avro-java read-back of OUR bytes — the q227 gate's
    * differential half runs INSIDE the query: the REAL reader
    * consumes what our encoder produced, per file, on executors. */
  def decodeWithAvroJava(
      media: Dataset[(Long, Array[Byte])]): Dataset[AvroInfo] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { case (id, bytes) =>
      try {
        val r = new org.apache.avro.file.DataFileReader(
          new org.apache.avro.file.SeekableByteArrayInput(bytes),
          new org.apache.avro.generic.GenericDatumReader[
            org.apache.avro.generic.GenericRecord]())
        try {
          var nRecords = 0L; var sumLong = 0L; var nNulls = 0L
          var sumSlen = 0L; var sumSbytes = 0L
          var nBlocks = 0L
          var lastSync = -1L
          while (r.hasNext) {
            // block accounting via the reader's own sync positions
            val pos = r.previousSync()
            if (pos != lastSync) { nBlocks += 1; lastSync = pos }
            val rec = r.next()
            nRecords += 1
            sumLong += rec.get("id").asInstanceOf[java.lang.Long]
            val v = rec.get("v")
            if (v == null) nNulls += 1
            else sumLong += v.asInstanceOf[java.lang.Long]
            val s = rec.get("s").toString
            val sb = s.getBytes("UTF-8")
            sumSlen += sb.length
            var i = 0
            while (i < sb.length) { sumSbytes += sb(i) & 0xff; i += 1 }
          }
          AvroInfo(id, nBlocks, nRecords, sumLong, nNulls, sumSlen,
            sumSbytes, valid = true)
        } finally r.close()
      } catch {
        case NonFatal(_) =>
          AvroInfo(id, 0L, 0L, 0L, 0L, 0L, 0L, valid = false)
      }
    })
  }

  // ---------------------------------------------------------------
  // Writer (fixture side): the REAL avro-java writer, not ours.
  // ---------------------------------------------------------------

  /** `n = 3 + seed' % 7` records via avro-java's `DataFileWriter`
    * (schema {id: long, v: ["null","long"], s: string}); record j:
    * id = 100·d + j, v = null when j%3==0 else (d+j)%50,
    * s = "s"·(1+j%4) ++ j. `deflate` codec when d is even; an
    * explicit `sync()` after every odd j pins the block boundaries
    * (blocks of 2 → ceil(n/2) blocks, oracle-replayable). */
  // parsed once per JVM — at sf20 a per-call parse dominated the
  // whole fixture build (33.8× for 4× data; hoisting → linear)
  private lazy val PayloadSchema =
    new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"doc","fields":[
        |{"name":"id","type":"long"},
        |{"name":"v","type":["null","long"]},
        |{"name":"s","type":"string"}]}""".stripMargin)

  /** One OCF holding a GROUP of docs (the realistic container shape:
    * many records per file — per-doc files made the avro-java writer
    * objects, not the reader, the measured cost at sf20): record for
    * doc d is (id = d, v = null when d%3==0 else (7d)%50,
    * s = "s"·(1+d%4) ++ d); `sync()` after every odd position pins
    * blocks of two; `deflate` when g is even. */
  def avroGroupPayload(g: Long, ids: Array[Long]): Array[Byte] = {
    require(g >= 0 && ids.nonEmpty, s"bad group $g")
    val schema = PayloadSchema
    val out = new java.io.ByteArrayOutputStream()
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](schema))
    if (g % 2 == 0)
      w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
    val sync = new Array[Byte](16)
    var k = 0
    while (k < 16) {
      sync(k) = (((g * 31 + k) * 2654435761L >>> 7) & 0xff).toByte
      k += 1
    }
    w.create(schema, out, sync)
    var j = 0
    while (j < ids.length) {
      val d = ids(j)
      val rec = new org.apache.avro.generic.GenericData.Record(schema)
      rec.put("id", java.lang.Long.valueOf(d))
      rec.put("v", if (d % 3 == 0) null
                   else java.lang.Long.valueOf((7 * d) % 50))
      rec.put("s", "s" * (1 + d % 4).toInt + d)
      w.append(rec)
      if (j % 2 == 1) w.sync()
      j += 1
    }
    w.close()
    out.toByteArray
  }

  // parsed once per JVM (the PayloadSchema lesson)
  private lazy val DeepSchema =
    new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"docw","fields":[
        |{"name":"id","type":"long"},
        |{"name":"meta","type":{"type":"record","name":"m","fields":[
        |  {"name":"src","type":"string"},
        |  {"name":"score","type":["null","long"]}]}},
        |{"name":"toks","type":{"type":"array","items":"long"}},
        |{"name":"tags","type":
        |  ["null",{"type":"array","items":"string"}]}]}""".stripMargin)

  /** One NESTED-schema OCF per doc group (q221): record for doc d is
    * (id = d, meta = {src = "s"+(d%5), score = null when d%3==0 else
    * (7d)%50}, toks = [] when d%4==0 else [d%10, d%7, d%3],
    * tags = null when d%6==0 else ["t"+(d%2)]); `snappy` codec when g
    * is even, `deflate` otherwise — both compressed paths on every
    * run; `sync()` after every odd position pins blocks of two. */
  def avroDeepGroupPayload(g: Long, ids: Array[Long]): Array[Byte] = {
    require(g >= 0 && ids.nonEmpty, s"bad group $g")
    val schema = DeepSchema
    val metaSchema = schema.getField("meta").schema()
    val toksSchema = schema.getField("toks").schema()
    val out = new java.io.ByteArrayOutputStream()
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](schema))
    w.setCodec(
      if (g % 2 == 0) org.apache.avro.file.CodecFactory.snappyCodec()
      else org.apache.avro.file.CodecFactory.deflateCodec(6))
    val sync = new Array[Byte](16)
    var k = 0
    while (k < 16) {
      sync(k) = (((g * 37 + k) * 2654435761L >>> 7) & 0xff).toByte
      k += 1
    }
    w.create(schema, out, sync)
    var j = 0
    while (j < ids.length) {
      val d = ids(j)
      val rec = new org.apache.avro.generic.GenericData.Record(schema)
      rec.put("id", java.lang.Long.valueOf(d))
      val meta = new org.apache.avro.generic.GenericData.Record(
        metaSchema)
      meta.put("src", "s" + (d % 5))
      meta.put("score", if (d % 3 == 0) null
                        else java.lang.Long.valueOf((7 * d) % 50))
      rec.put("meta", meta)
      val toks = new org.apache.avro.generic.GenericData.Array[
        java.lang.Long](if (d % 4 == 0) 0 else 3, toksSchema)
      if (d % 4 != 0) {
        toks.add(java.lang.Long.valueOf(d % 10))
        toks.add(java.lang.Long.valueOf(d % 7))
        toks.add(java.lang.Long.valueOf(d % 3))
      }
      rec.put("toks", toks)
      rec.put("tags", if (d % 6 == 0) null
                      else java.util.Arrays.asList("t" + (d % 2)))
      w.append(rec)
      if (j % 2 == 1) w.sync()
      j += 1
    }
    w.close()
    out.toByteArray
  }

  def avroPayload(d: Long): Array[Byte] = {
    require(d >= 0, s"bad d $d")
    val schema = PayloadSchema
    val out = new java.io.ByteArrayOutputStream()
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](schema))
    if (d % 2 == 0)
      w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
    // the default 64 KB sync interval sizes the writer's block buffer
    // — at 1M fixture files that allocation dominated the sf20 curve
    // (GC storm); our explicit sync() below pins the real block
    // boundaries, so the interval only needs to exceed a block
    w.setSyncInterval(512)
    // explicit deterministic sync marker: the default path draws from
    // a shared RNG (cross-thread contention at 1M files — part of the
    // 6.7× sf20 curve) and makes fixture bytes nondeterministic
    val sync = new Array[Byte](16)
    var k = 0
    while (k < 16) {
      sync(k) = (((d * 31 + k) * 2654435761L >>> 7) & 0xff).toByte
      k += 1
    }
    w.create(schema, out, sync)
    val n = (3 + d % 7).toInt
    var j = 0
    while (j < n) {
      val rec = new org.apache.avro.generic.GenericData.Record(schema)
      rec.put("id", java.lang.Long.valueOf(100L * d + j))
      rec.put("v", if (j % 3 == 0) null
                   else java.lang.Long.valueOf((d + j) % 50))
      rec.put("s", "s" * (1 + j % 4) + j)
      w.append(rec)
      if (j % 2 == 1) w.sync()
      j += 1
    }
    w.close()
    out.toByteArray
  }
}
