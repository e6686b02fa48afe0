package graft.operators

import org.apache.spark.sql.Dataset

import graft.codec.{Bytes, Malformed}

/** MP4 / ISO-BMFF (ISO 14496-12) box-walk codec — the VIDEO container
  * entry of the media family (images: PNG q149 / JPEG q153, audio: WAV
  * q126 / MP3 q154–q170). A training pipeline ingesting video never
  * decodes pixels to curate: it walks the `moov` sample tables to
  * count frames, find keyframes (`stss`), and resolve each sample's
  * byte range (`stsc`×`stco`×`stsz`) so that frame-sampling becomes a
  * pure byte-range read of `mdat` — exactly the subset implemented
  * here, dependency-free.
  *
  * Subset: one video track; `mvhd`/`mdhd` version 0 with a shared
  * timescale; `stts` run-length deltas; per-sample `stsz`; `stss`
  * sync table; multi-entry `stsc` chunk runs; 32-bit `stco`. The
  * parser VALIDATES the cross-table laws (stts total == stsz count,
  * stsc walk covers every sample exactly once, every resolved sample
  * range inside `mdat`, mvhd/mdhd durations agree) — a parser with
  * any table walk wrong cannot produce the oracle's formula-replayed
  * checksums (keyframe offsets are prefix sums the decoder must
  * REDERIVE from the chunk map, and keyframe byte sums read `mdat`
  * through the resolved ranges).
  *
  * Malformed/crafted input → all-zero `valid=false`, never a throw
  * (the q134 contract); all bounds arithmetic in Long (the ADVICE r8
  * NcClassic lesson).
  *
  * 100 TB shape: pure map-side behind the imperative codec seam;
  * payload bytes never shuffle. */
object Mp4 {

  final case class Mp4Info(media_id: Long, n_samples: Long,
                           timescale: Long, duration: Long,
                           n_keyframes: Long, n_chunks: Long,
                           sum_bytes: Long, max_sample: Long,
                           sum_key_rel_off: Long, sum_key_bytes: Long,
                           valid: Boolean)

  private[graft] def parse(id: Long, b: Array[Byte]): Mp4Info = {
    val invalid = Mp4Info(id, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L,
      valid = false)
    try {
      def u32(o: Int): Long = Bytes.be32(b, o) & 0xffffffffL
      def tag(o: Int): String = new String(b, o, 4, "ISO-8859-1")

      /** Children of the byte range [start, end): (fourcc, payloadStart,
        * payloadEnd). Rejects truncated/oversized/undersized boxes. */
      def children(start: Int, end: Int): Vector[(String, Int, Int)] = {
        val out = Vector.newBuilder[(String, Int, Int)]
        var off = start
        while (off < end) {
          if (off.toLong + 8 > end) throw Malformed
          val sz = u32(off)
          if (sz < 8 || off.toLong + sz > end) throw Malformed
          out += ((tag(off + 4), off + 8, off + sz.toInt))
          off += sz.toInt
        }
        out.result()
      }
      def one(cs: Vector[(String, Int, Int)], t: String): (Int, Int) =
        cs.filter(_._1 == t) match {
          case Vector((_, s, e)) => (s, e)
          case _                 => throw Malformed
        }

      val top = children(0, b.length)
      if (top.isEmpty || top.head._1 != "ftyp") throw Malformed
      val (mdatS, mdatE) = one(top, "mdat")
      val (moovS, moovE) = one(top, "moov")
      val moov = children(moovS, moovE)

      // mvhd v0: verflags, creation, modification, timescale, duration
      val (mvS, mvE) = one(moov, "mvhd")
      if (mvE - mvS < 100 || b(mvS) != 0) throw Malformed
      val mvTs = u32(mvS + 12); val mvDur = u32(mvS + 16)

      val trak = children(one(moov, "trak")._1, one(moov, "trak")._2)
      val mdia = children(one(trak, "mdia")._1, one(trak, "mdia")._2)
      val (mdS, mdE) = one(mdia, "mdhd")
      if (mdE - mdS < 24 || b(mdS) != 0) throw Malformed
      val ts = u32(mdS + 12); val dur = u32(mdS + 16)
      if (ts != mvTs || dur != mvDur || ts <= 0) throw Malformed
      val minf = children(one(mdia, "minf")._1, one(mdia, "minf")._2)
      val stbl = children(one(minf, "stbl")._1, one(minf, "stbl")._2)

      // stts: run-length (count, delta) pairs
      val (sttsS, sttsE) = one(stbl, "stts")
      val nRuns = u32(sttsS + 4)
      if (nRuns < 0 || sttsS.toLong + 8 + nRuns * 8 > sttsE) throw Malformed
      var sttsN = 0L; var sttsDur = 0L
      var i = 0
      while (i < nRuns) {
        val c = u32(sttsS + 8 + i * 8); val d = u32(sttsS + 12 + i * 8)
        if (c <= 0 || d <= 0) throw Malformed
        sttsN += c; sttsDur += c * d
        i += 1
      }
      if (sttsDur != dur) throw Malformed

      // stsz: per-sample sizes (uniform sample_size also accepted)
      val (szS, szE) = one(stbl, "stsz")
      val uniform = u32(szS + 4); val nSamples = u32(szS + 8)
      if (nSamples != sttsN || nSamples <= 0 ||
        nSamples > Int.MaxValue) throw Malformed
      val n = nSamples.toInt
      val sizes = new Array[Long](n)
      if (uniform == 0) {
        if (szS.toLong + 12 + nSamples * 4 > szE) throw Malformed
        i = 0
        while (i < n) { sizes(i) = u32(szS + 12 + i * 4); i += 1 }
      } else java.util.Arrays.fill(sizes, uniform)
      var sumBytes = 0L; var maxSample = 0L
      i = 0
      while (i < n) {
        if (sizes(i) <= 0) throw Malformed
        sumBytes += sizes(i); maxSample = math.max(maxSample, sizes(i))
        i += 1
      }

      // stco: chunk offsets (32-bit variant)
      val (coS, coE) = one(stbl, "stco")
      val nChunksL = u32(coS + 4)
      if (nChunksL <= 0 || coS.toLong + 8 + nChunksL * 4 > coE)
        throw Malformed
      val nChunks = nChunksL.toInt
      val chunkOff = Array.tabulate(nChunks)(c => u32(coS + 8 + c * 4))

      // stsc: (first_chunk, samples_per_chunk, sdi) runs — expand
      // against the stco chunk count, then resolve every sample's file
      // offset; the walk must cover the samples EXACTLY
      val (scS, scE) = one(stbl, "stsc")
      val nScL = u32(scS + 4)
      if (nScL <= 0 || scS.toLong + 8 + nScL * 12 > scE) throw Malformed
      val nSc = nScL.toInt
      val firsts = Array.tabulate(nSc)(e => u32(scS + 8 + e * 12))
      val spcs = Array.tabulate(nSc)(e => u32(scS + 12 + e * 12))
      i = 0
      while (i < nSc) {
        if (firsts(i) < 1 || firsts(i) > nChunks || spcs(i) <= 0 ||
          (i > 0 && firsts(i) <= firsts(i - 1))) throw Malformed
        i += 1
      }
      if (firsts(0) != 1) throw Malformed
      val offsets = new Array[Long](n)
      var sample = 0
      var c = 0
      var run = 0
      while (c < nChunks) {
        if (run + 1 < nSc && c + 1 >= firsts(run + 1)) run += 1
        var inChunk = 0L
        var pos = chunkOff(c)
        while (inChunk < spcs(run)) {
          if (sample >= n) throw Malformed
          offsets(sample) = pos
          pos += sizes(sample)
          sample += 1; inChunk += 1
        }
        c += 1
      }
      if (sample != n) throw Malformed

      // every resolved range must live inside mdat
      var sumKeyRel = 0L; var sumKeyBytes = 0L
      i = 0
      while (i < n) {
        if (offsets(i) < mdatS || offsets(i) + sizes(i) > mdatE)
          throw Malformed
        i += 1
      }

      // stss: 1-based ascending sync-sample numbers
      val (ssS, ssE) = one(stbl, "stss")
      val nKeyL = u32(ssS + 4)
      if (nKeyL < 0 || ssS.toLong + 8 + nKeyL * 4 > ssE) throw Malformed
      val nKey = nKeyL.toInt
      var prev = 0L
      i = 0
      while (i < nKey) {
        val s = u32(ssS + 8 + i * 4)
        if (s <= prev || s > nSamples) throw Malformed
        prev = s
        val idx = (s - 1).toInt
        sumKeyRel += offsets(idx) - mdatS
        var j = 0
        while (j < sizes(idx)) {
          sumKeyBytes += b(offsets(idx).toInt + j) & 0xff
          j += 1
        }
        i += 1
      }

      Mp4Info(id, nSamples, ts, dur, nKey, nChunksL, sumBytes, maxSample,
        sumKeyRel, sumKeyBytes, valid = true)
    } catch {
      case Malformed | _: IndexOutOfBoundsException |
          _: NegativeArraySizeException | _: IllegalArgumentException =>
        invalid
    }
  }

  /** Map-side decode: the imperative codec seam (the q126/q134/q154
    * pattern) — payload bytes stay inside their partition. */
  def decodeMp4(media: Dataset[(Long, Array[Byte])]): Dataset[Mp4Info] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { case (id, bytes) => parse(id, bytes) })
  }

  // ---------------------------------------------------------------
  // Writer (test/synthesis side): a spec-compliant minimal file with
  // deterministic tables — the differential fixture generator.
  // ---------------------------------------------------------------

  /** Deterministic minimal ISO-BMFF file: `nSamples` video samples,
    * timescale 600+100·(seed%5), deltas 40+10·((i/3)%2) (runs of 3 →
    * exercises stts RLE), sizes 20+((seed+7i)%50), keyframes every
    * 2+seed%3 samples, chunks of 2+(seed/3)%4 samples (partial tail →
    * exercises the multi-entry stsc), sample bytes (seed+i+j)%256. */
  def mp4Payload(nSamples: Int, seed: Int): Array[Byte] = {
    require(nSamples >= 1 && nSamples <= 4096, s"bad nSamples $nSamples")
    require(seed >= 0, s"bad seed $seed")
    val ts = 600 + 100 * (seed % 5)
    val deltas = Array.tabulate(nSamples)(i => 40 + 10 * ((i / 3) % 2))
    val sizes = Array.tabulate(nSamples)(i => 20 + ((seed + 7 * i) % 50))
    val keyEvery = 2 + seed % 3
    val keys = (0 until nSamples).filter(_ % keyEvery == 0).map(_ + 1)
    val spc = 2 + (seed / 3) % 4
    val nChunks = (nSamples + spc - 1) / spc
    val duration = deltas.map(_.toLong).sum

    def be32(v: Long): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream(4); Bytes.putBe32(o, v.toInt); o.toByteArray
    }
    def be16(v: Int): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream(2); Bytes.putBe16(o, v); o.toByteArray
    }
    def cat(parts: Array[Byte]*): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      parts.foreach(o.write)
      o.toByteArray
    }
    def box(t: String, payload: Array[Byte]): Array[Byte] =
      cat(be32(8L + payload.length), t.getBytes("ISO-8859-1"), payload)
    def full(t: String, payload: Array[Byte]): Array[Byte] =
      box(t, cat(be32(0L), payload)) // version 0, flags 0

    // stts runs (RLE over equal consecutive deltas)
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    deltas.foreach { d =>
      if (runs.nonEmpty && runs.last._2 == d)
        runs(runs.length - 1) = (runs.last._1 + 1, d)
      else runs += ((1, d))
    }
    val lastSpc = nSamples - spc * (nChunks - 1)
    val stscEntries =
      if (nChunks == 1) Seq((1, nSamples))
      else if (lastSpc == spc) Seq((1, spc))
      else Seq((1, spc), (nChunks, lastSpc))

    def moovBytes(chunkOffsets: Array[Long]): Array[Byte] = {
      val mvhd = full("mvhd", cat(be32(0), be32(0), be32(ts), be32(duration),
        be32(0x00010000L), be16(0x0100), be16(0), be32(0), be32(0),
        // unity matrix
        be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x00010000L),
        be32(0), be32(0), be32(0), be32(0x40000000L),
        cat((0 until 6).map(_ => be32(0)): _*), be32(2)))
      val tkhd = full("tkhd", cat(be32(0), be32(0), be32(1), be32(0),
        be32(duration), be32(0), be32(0), be16(0), be16(0), be16(0),
        be16(0),
        be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x00010000L),
        be32(0), be32(0), be32(0), be32(0x40000000L),
        be32(64L << 16), be32(48L << 16)))
      val mdhd = full("mdhd", cat(be32(0), be32(0), be32(ts),
        be32(duration), be16(0x55c4), be16(0)))
      val hdlr = full("hdlr", cat(be32(0), "vide".getBytes("ISO-8859-1"),
        be32(0), be32(0), be32(0), Array(0.toByte)))
      val vmhd = box("vmhd", cat(be32(1), be16(0), be16(0), be16(0),
        be16(0)))
      val dref = full("dref", cat(be32(1),
        cat(be32(12L), "url ".getBytes("ISO-8859-1"), be32(1))))
      val dinf = box("dinf", dref)
      // minimal mp4v VisualSampleEntry (86 bytes)
      val entry = cat(be32(86L), "mp4v".getBytes("ISO-8859-1"),
        Array.fill(6)(0.toByte), be16(1), be16(0), be16(0),
        cat((0 until 3).map(_ => be32(0)): _*), be16(64), be16(48),
        be32(0x00480000L), be32(0x00480000L), be32(0), be16(1),
        Array.fill(32)(0.toByte), be16(24), be16(0xffff))
      val stsd = full("stsd", cat(be32(1), entry))
      val stts = full("stts", cat(be32(runs.length.toLong),
        cat(runs.toSeq.map { case (c, d) => cat(be32(c.toLong),
          be32(d.toLong)) }: _*)))
      val stss = full("stss", cat(be32(keys.length.toLong),
        cat(keys.map(k => be32(k.toLong)): _*)))
      val stsc = full("stsc", cat(be32(stscEntries.length.toLong),
        cat(stscEntries.map { case (fc, s) => cat(be32(fc.toLong),
          be32(s.toLong), be32(1)) }: _*)))
      val stsz = full("stsz", cat(be32(0), be32(nSamples.toLong),
        cat(sizes.map(s => be32(s.toLong)): _*)))
      val stco = full("stco", cat(be32(nChunks.toLong),
        cat(chunkOffsets.map(be32): _*)))
      val stbl = box("stbl", cat(stsd, stts, stss, stsc, stsz, stco))
      val minf = box("minf", cat(vmhd, dinf, stbl))
      val mdia = box("mdia", cat(mdhd, hdlr, minf))
      val trak = box("trak", cat(tkhd, mdia))
      box("moov", cat(mvhd, trak))
    }

    val ftyp = box("ftyp", cat("isom".getBytes("ISO-8859-1"), be32(0),
      "isom".getBytes("ISO-8859-1")))
    // two-pass: moov size is offset-value-independent, so build once
    // with zeros to learn where mdat's data starts, then fill stco
    val moovLen = moovBytes(new Array[Long](nChunks)).length
    val dataStart = ftyp.length + moovLen + 8L
    val prefix = sizes.scanLeft(0L)((a, s) => a + s)
    val chunkOffsets = Array.tabulate(nChunks)(cix =>
      dataStart + prefix(cix * spc))
    val data = new Array[Byte](prefix(nSamples).toInt)
    var i = 0
    while (i < nSamples) {
      var j = 0
      while (j < sizes(i)) {
        data(prefix(i).toInt + j) = ((seed + i + j) % 256).toByte
        j += 1
      }
      i += 1
    }
    cat(ftyp, moovBytes(chunkOffsets), box("mdat", data))
  }
}
