package graft.operators

import org.apache.spark.sql.SparkSession

/** Lakehouse table MAINTENANCE (r11, q228): OPTIMIZE/compaction — the
  * operation every production table needs once streaming appends have
  * littered it with small files. Bin-packs live files below the target
  * into rewritten files of ~`targetRows`, clustering bins by the stats
  * column's key range (so the rewritten files keep TIGHT min/max
  * windows and file pruning stays as selective as before), and commits
  * `remove(old…) + add(new, stats)` in ONE new log version.
  *
  * Old files are NOT deleted — that is VACUUM's job after a retention
  * window; keeping them is what makes `asOf` time travel to
  * pre-compaction versions work (the spec pins it).
  *
  * 100 TB shape: the driver touches only log metadata and bin
  * arithmetic (O(live files)); each BIN is rewritten map-side on an
  * executor — read through our page decoder, re-encoded by our writer
  * — and only (path, rows, min, max) returns. Data never shuffles. */
object LakeMaintenance {

  /** Concatenate one column's slices across a bin's files (r12 — the
    * full own-writer type surface: long/string/double/float flat and
    * `array<T>` list columns). Same-schema files guaranteed by the
    * caller's leaf check. */
  private def concatCols(parts: Seq[ParquetWrite.Col]): ParquetWrite.Col =
    parts.head match {
      case ParquetWrite.LongCol(n, _) => ParquetWrite.LongCol(n,
        parts.flatMap(_.asInstanceOf[ParquetWrite.LongCol].vs).toArray)
      case ParquetWrite.OptLongCol(n, _) => ParquetWrite.OptLongCol(n,
        parts.flatMap(_.asInstanceOf[ParquetWrite.OptLongCol].vs).toArray)
      case ParquetWrite.StrCol(n, _) => ParquetWrite.StrCol(n,
        parts.flatMap(_.asInstanceOf[ParquetWrite.StrCol].vs).toArray)
      case ParquetWrite.OptStrCol(n, _) => ParquetWrite.OptStrCol(n,
        parts.flatMap(_.asInstanceOf[ParquetWrite.OptStrCol].vs).toArray)
      case ParquetWrite.DoubleCol(n, _) => ParquetWrite.DoubleCol(n,
        parts.flatMap(_.asInstanceOf[ParquetWrite.DoubleCol].vs).toArray)
      case ParquetWrite.OptDoubleCol(n, _) =>
        ParquetWrite.OptDoubleCol(n, parts
          .flatMap(_.asInstanceOf[ParquetWrite.OptDoubleCol].vs).toArray)
      case ParquetWrite.FloatCol(n, _) => ParquetWrite.FloatCol(n,
        parts.flatMap(_.asInstanceOf[ParquetWrite.FloatCol].vs).toArray)
      case ParquetWrite.OptFloatCol(n, _) =>
        ParquetWrite.OptFloatCol(n, parts
          .flatMap(_.asInstanceOf[ParquetWrite.OptFloatCol].vs).toArray)
      case ParquetWrite.LongListCol(n, _) =>
        ParquetWrite.LongListCol(n, parts
          .flatMap(_.asInstanceOf[ParquetWrite.LongListCol].rows).toArray)
      case ParquetWrite.FloatListCol(n, _) =>
        ParquetWrite.FloatListCol(n, parts
          .flatMap(_.asInstanceOf[ParquetWrite.FloatListCol].rows).toArray)
      case ParquetWrite.DoubleListCol(n, _) =>
        ParquetWrite.DoubleListCol(n, parts
          .flatMap(_.asInstanceOf[ParquetWrite.DoubleListCol].rows).toArray)
    }

  final case class CompactResult(removed: Int, created: Int,
      version: Long)

  /** Per-column file statistics from writer columns (r14 — the
    * rewrite paths' side of general data skipping: compaction,
    * z-order and merge must PRESERVE skipping, so every rewritten
    * file measures fresh stats over its own rows). Column names are
    * already PHYSICAL here (the rewrite builders emit them). Same
    * drop-whole-entry rule as the append writer: window absence must
    * mean all-null. First 8 columns. */
  private[graft] def cstatsOfCols(
      cols: Seq[ParquetWrite.Col]): Seq[TxLog.ColStat] =
    cols.take(8).flatMap {
      case ParquetWrite.LongCol(n, vs) =>
        if (vs.isEmpty) Some(TxLog.ColStat(n, "l", None, None, 0L))
        else Some(TxLog.ColStat(n, "l", Some(vs.min.toString),
          Some(vs.max.toString), 0L))
      case ParquetWrite.OptLongCol(n, vs) =>
        val nn = vs.filter(_ != null).map(_.longValue())
        Some(TxLog.ColStat(n, "l",
          if (nn.isEmpty) None else Some(nn.min.toString),
          if (nn.isEmpty) None else Some(nn.max.toString),
          vs.count(_ == null).toLong))
      case ParquetWrite.StrCol(n, vs) => strStat(n, vs, 0L)
      case ParquetWrite.OptStrCol(n, vs) =>
        strStat(n, vs.filter(_ != null), vs.count(_ == null).toLong)
      case ParquetWrite.DoubleCol(n, vs) =>
        dblStat(n, vs, 0L)
      case ParquetWrite.OptDoubleCol(n, vs) =>
        dblStat(n, vs.filter(_ != null).map(_.doubleValue()),
          vs.count(_ == null).toLong)
      case ParquetWrite.FloatCol(n, vs) =>
        dblStat(n, vs.map(_.toDouble), 0L)
      case ParquetWrite.OptFloatCol(n, vs) =>
        dblStat(n, vs.filter(_ != null).map(_.floatValue().toDouble),
          vs.count(_ == null).toLong)
      case _ => None // list columns: not prunable
    }

  private def strStat(n: String, nn: Seq[String],
      nc: Long): Option[TxLog.ColStat] =
    if (nn.exists(v => v.length > 64 || TxLog.jsonSafe(v).isEmpty))
      None // drop WHOLE entry — window absence means all-null
    else if (nn.isEmpty) Some(TxLog.ColStat(n, "s", None, None, nc))
    else Some(TxLog.ColStat(n, "s",
      Some(nn.reduce((a, b) => if (TxLog.utf8Lt(a, b)) a else b)),
      Some(nn.reduce((a, b) => if (TxLog.utf8Lt(a, b)) b else a)), nc))

  private def dblStat(n: String, nn: Seq[Double],
      nc: Long): Option[TxLog.ColStat] =
    if (nn.exists(_.isNaN)) None // NaN breaks window order: drop whole
    else if (nn.isEmpty) Some(TxLog.ColStat(n, "d", None, None, nc))
    else Some(TxLog.ColStat(n, "d", Some(nn.min.toString),
      Some(nn.max.toString), nc))

  /** Load a deletion-vector sidecar into a bitset (null = no DV). */
  private def loadDv(dvPath: Option[String]): java.util.BitSet =
    dvPath match {
      case None => null
      case Some(p) =>
        val (_, cols) = ParquetFile.readFileColumns(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
        val bs = new java.util.BitSet()
        cols.head.asInstanceOf[ParquetWrite.LongCol].vs
          .foreach(o => bs.set(o.toInt))
        bs
    }

  private val utf8Ord: Ordering[String] =
    (a: String, b: String) =>
      if (TxLog.utf8Lt(a, b)) -1
      else if (TxLog.utf8Lt(b, a)) 1
      else 0

  /** Commit a MAINTENANCE rewrite (removes + adds) with OPTIMISTIC
    * concurrency (r13 — the concurrent-writer law). The target
    * version is PINNED from the log listing FIRST, and only then is
    * the read set re-validated (ADVICE r14: validating before
    * pinning left a window — a conflicting rewrite landing between
    * the validation listing and the version listing was included in
    * `next`'s max, so this commit landed at a fresh version with no
    * collision and no re-check, silently resurrecting deleted rows).
    * With the pin first, any commit INVISIBLE to the validation must
    * take a version ≥ the pinned `next` (versions are max+1 of the
    * listing), so our rename at `next` collides → loop → re-check.
    * A blind append losing us the race never invalidates the rewrite
    * (its read set is untouched) → retry at the next version; a
    * changed read set → delete the written files and abort loudly.
    * Only [[TxLog.CommitCollisionException]] retries — I/O faults
    * surface as themselves. Never a lost add, never a rewrite
    * applied over a stale snapshot. Returns the version that landed. */
  private[graft] def commitMaintenance(root: String,
      removedPaths: Seq[String], lines: Seq[String],
      writtenPaths: Seq[String]): Long = {
    var attempts = 0
    while (true) {
      // pin BEFORE validating: the version listing is the fence
      val next = TxLog.nextVersion(s"$root/log", s"$root/ckpt")
      val liveNow = TxLog
        .resolveLiveLocal(s"$root/log", s"$root/ckpt", -1L)
        .map(_.path).toSet
      if (!removedPaths.forall(liveNow.contains) || attempts >= 1000) {
        writtenPaths.foreach(p =>
          java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(p)): Unit)
        throw new IllegalStateException(
          s"maintenance conflict under $root: the read set changed " +
            "under a concurrent rewrite — aborted cleanly")
      }
      try {
        TxLog.commitVersion(s"$root/log", next, lines)
        return next
      } catch {
        case _: TxLog.CommitCollisionException => attempts += 1
      }
    }
    -1L // unreachable
  }

  /** Compact `root`'s live files: candidates are files with fewer than
    * `targetRows` rows; consecutive candidates (in key order) pack
    * into bins of ≥ 2 files up to ~`targetRows` rows each. Returns the
    * action counts and the committed version (-1 = nothing to do —
    * idempotent by construction: rewritten files meet the threshold
    * and never re-qualify).
    *
    * PARTITION-AWARE (r13): bins never cross `partitionValues` groups
    * — a rewritten file keeps its `part` (so q237 partition pruning
    * survives maintenance; before this, compaction merged partitions
    * and the rewritten files had to scan for every partition
    * predicate) — and inherits the UNION of its members' string-key
    * windows when all carry one (q238 pruning survives too; a union
    * window is sound: wider never wrongly prunes). `partition`
    * restricts the rewrite to ONE partition value (Delta's `OPTIMIZE
    * WHERE` — maintain the hot partition without touching 10⁴ cold
    * ones). */
  def compact(spark: SparkSession, root: String,
      targetRows: Int, partition: Option[String] = None): CompactResult = {
    require(targetRows > 0, "targetRows must be positive")
    TxLog.checkProtocolWrite(s"$root/log", s"$root/ckpt")
    val live = TxLog.resolveLiveLocal(s"$root/log", s"$root/ckpt", -1L)
    // DELETION VECTORS (r14): candidacy and bin arithmetic use the
    // LIVE row count (size - dvRows); a lone DV-carrying file still
    // qualifies for rewrite — compaction is what MATERIALIZES DVs
    // away (the Delta lifecycle)
    val candidates = live.filter(f => f.size - f.dvRows < targetRows)
      .filter(f => partition.forall(p => f.part.contains(p)))
      .sortBy(f => (f.part.getOrElse(""),
        f.minKey.getOrElse(Long.MaxValue)))
    // greedy key-ordered bin packing, never across partition values
    val bins = scala.collection.mutable.ArrayBuffer
      .empty[Vector[TxLog.LiveFile]]
    var cur = Vector.empty[TxLog.LiveFile]
    var curRows = 0L
    candidates.foreach { f =>
      if (curRows >= targetRows ||
          cur.headOption.exists(_.part != f.part)) {
        bins += cur; cur = Vector.empty; curRows = 0L
      }
      cur :+= f; curRows += f.size - f.dvRows
    }
    if (cur.nonEmpty) bins += cur
    val work = bins
      .filter(b => b.size >= 2 || b.exists(_.dvRows > 0)).toVector
    if (work.isEmpty) return CompactResult(0, 0, -1L)

    // file names carry a run token, not a version: the committed
    // version is only known at commit time (optimistic retry, r13),
    // and two concurrent compactions must never write the same path
    val run = java.util.UUID.randomUUID().toString.take(8)
    // rewrite each bin on an executor: our reader → our writer
    val results = spark.sparkContext
      .parallelize(work.zipWithIndex, math.min(work.size, 64))
      .map { case (bin, idx) =>
        val perFile = bin.map { f =>
          val (leaves0, cols0) = ParquetFile.readFileColumns(
            java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(f.path)))
          // apply the file's deletion vector (r14): the rewrite
          // MATERIALIZES it — dead rows never reach the new file
          val dv = loadDv(f.dvPath)
          if (dv == null) (leaves0, cols0)
          else {
            val keep = (0 until cols0.head.n)
              .filterNot(dv.get).toArray
            (leaves0, cols0.map(c =>
              buildCol(c, keep.map(colValue(c, _)))))
          }
        }
        val leaves = perFile.head._1
        require(perFile.forall(_._1 == leaves),
          s"bin $idx mixes schemas")
        val cols: Seq[ParquetWrite.Col] = leaves.indices.map { li =>
          concatCols(perFile.map(_._2(li)))
        }
        val bytes = ParquetWrite.writeFile(cols, rowsPerGroup = 1024)
        val p = s"$root/data/compact-$run-$idx.parquet"
        java.nio.file.Files.write(java.nio.file.Paths.get(p), bytes): Unit
        // stats for the new add come from the REWRITTEN file's own
        // footer — the log never trusts the bin arithmetic; the
        // per-column stats (r14) are measured over the same output
        val st = ParquetFile.parse(idx.toLong, bytes)
          .filter(r => r.valid && r.has_stats &&
            r.col_path == leaves.head.path)
        val rows = cols.head.n.toLong
        val cs = cstatsOfCols(cols)
        if (st.isEmpty)
          (p, rows, None: Option[Long], None: Option[Long], cs)
        else (p, rows, Some(st.map(_.min_long).min),
          Some(st.map(_.max_long).max), cs)
      }
      .collect() // bounded: one row per BIN (metadata)

    val removes = work.flatten.map(f =>
      s"""{"remove":{"path":"${TxLog.requireJsonSafe(f.path)}"}}""")
    val adds = results.zipWithIndex.map {
      case ((p, rows, mn, mx, cs), i) =>
      val bin = work(i) // parallelize+map+collect preserves order
      // the bin never crosses partition values → the rewritten file
      // keeps the part; the skey window is the UNION of the members'
      // (sound — wider never wrongly prunes), carried only when every
      // member has one
      val part = bin.head.part
        .filter(_ => bin.forall(_.part == bin.head.part))
      val skeys = bin.forall(f => f.minSkey.isDefined && f.maxSkey.isDefined)
      // dataChange=false (r12, the Delta flag): compaction REWRITES
      // existing rows — a change-feed consumer must not re-emit them.
      TxLog.renderAdd(TxLog.LiveFile(p, 0L, rows, mn, mx,
        Option.when(skeys)(bin.map(_.minSkey.get).min(utf8Ord)),
        Option.when(skeys)(bin.map(_.maxSkey.get).max(utf8Ord)),
        part, cstats = cs), None, 0L, Some(false))
    }
    val v = commitMaintenance(root, work.flatten.map(_.path).toSeq,
      (removes ++ adds).toSeq :+ TxLog.commitInfoLine("OPTIMIZE"),
      results.map(_._1).toSeq)
    CompactResult(work.map(_.size).sum, results.length, v)
  }

  final case class ZorderResult(removed: Int, created: Int,
      version: Long)

  /** Z-ORDER clustering rewrite (r12, generalized r13 — Delta/
    * Iceberg's multi-column OPTIMIZE): rewrites the LIVE set clustered
    * by the bit-interleaved buckets of 2–4 columns (LONG or STRING),
    * so range predicates on ANY clustered column touch a bounded
    * fraction of files/row groups — a key-sorted layout makes every
    * other column's per-file windows span the whole domain; Z-layout
    * makes each window ~coverage^(1/k).
    *
    * Bucketing: long dims scale into their [min, max] window
    * (one metadata-sized agg); string dims bucket by exact value RANK
    * when low-cardinality (≤ 4096 distinct — the categorical case,
    * where a byte prefix cannot discriminate suffix-differing values;
    * one bounded distinct-collect per dim), else by their first two
    * UTF-8 bytes — both order-preserving under the same unsigned-lex
    * order the q238 string stats use, so skey-window pruning inherits
    * the clustering. Null values bucket 0 (they cluster together at
    * the low end; no partition can be all-null-surprised — ADVICE
    * r12).
    *
    * The LAYOUT IS DETERMINISTIC (r13 — the r12 flake's fix): an
    * EXACT z-prefix histogram (≤ 4096 cells, one counting pass — no
    * sampling) drives greedy range cuts at ~`targetRows` rows each,
    * and rows sort within each file by `(z, statsCol)` — no sampled
    * `repartitionByRange` bounds, so the same table always produces
    * the same files, row groups, and pruning behavior, and the spec's
    * efficacy gate is a layout PROPERTY, not a sampling accident.
    * Exact cuts also keep files BALANCED under z-space skew (a
    * string dim occupies few buckets; equal-width slicing would
    * collapse onto them). Cell granularity bounds the residual
    * imbalance at total/4096 rows per boundary.
    *
    * Per-file `min_key`/`max_key` windows are measured on the
    * `statsCol` the table's READERS prune on (ADVICE r12 — measuring
    * the first z-column installed wrong windows when it differed) and
    * omitted when that column is absent/non-long/all-null (degrades
    * to scan, never wrong). With `strStatsCol` set, each add also
    * carries the unsigned-lex string window of that column.
    *
    * 100 TB shape: two metadata-result scans (min/max agg + the
    * histogram count) and ONE full-table shuffle (partition by
    * z-cut) — the price every clustering rewrite pays, amortized over
    * all future scans; files write map-side through our codec; the
    * commit is one metadata file with optimistic conflict handling. */
  def zorder(spark: SparkSession, root: String, cols: Seq[String],
      targetRows: Int, rowsPerGroup: Int = 1024,
      statsCol: String = "doc_id",
      strStatsCol: Option[String] = None,
      partition: Option[(String, String)] = None): ZorderResult = {
    require(targetRows > 0, "targetRows must be positive")
    TxLog.checkProtocolWrite(s"$root/log", s"$root/ckpt")
    require(cols.size >= 2 && cols.size <= 4 &&
        cols.distinct.size == cols.size,
      "zorder needs 2..4 distinct columns")
    // PIN the snapshot version FIRST (review r14): the remove set
    // (`live`) and the DataFrame the rewrite scans must describe the
    // SAME snapshot — an append landing between an unpinned resolve
    // and the scan's own resolution would have its rows written into
    // the z-order output while its file stayed live (permanent row
    // duplication, and invisible to the read-set validation because
    // the appended path was never in removedPaths).
    val pinV = TxLog.nextVersion(s"$root/log", s"$root/ckpt") - 1
    if (pinV < 0) return ZorderResult(0, 0, -1L)
    val live0 = TxLog.resolveLiveLocal(s"$root/log", s"$root/ckpt", pinV)
    // PARTITIONED tables z-order one partition at a time (review
    // follow-up: a global rewrite would mix partition values in its
    // output files and could not carry `part` — one z-order would
    // permanently destroy q237 partition pruning, the grouped
    // pushdown, and partition-aware compaction). Delta's OPTIMIZE
    // ZORDER has the same per-partition shape.
    val live = partition match {
      case Some((_, v)) =>
        require(live0.forall(_.part.isDefined),
          "zorder partition=… requires a fully partitioned table " +
            "(a part-less file may hold rows of any value)")
        live0.filter(_.part.contains(v))
      case None =>
        require(live0.forall(_.part.isEmpty),
          "zorder on a partitioned table must name a partition " +
            "(partition = Some(col -> value)) — a global rewrite " +
            "would destroy partition pruning")
        live0
    }
    if (live.isEmpty) return ZorderResult(0, 0, -1L)
    val df0 = spark.read.format("graft-lake").option("path", root)
      .option("asOf", pinV.toString) // the pinned snapshot, see above
    val df = partition match {
      case Some((c, v)) =>
        import org.apache.spark.sql.functions.{col => c0}
        df0.option("partitionBy", c).load().where(c0(c) === v)
      case None => df0.load()
    }
    val schema = df.schema
    import org.apache.spark.sql.types.{LongType, StringType}
    cols.foreach { c =>
      require(schema.fieldNames.contains(c) &&
          (schema(c).dataType == LongType ||
            schema(c).dataType == StringType),
        s"zorder column $c must be a long or string column of the table")
    }
    strStatsCol.foreach { c =>
      require(schema.fieldNames.contains(c) &&
          schema(c).dataType == StringType,
        s"strStatsCol $c must be a string column of the table")
    }
    import org.apache.spark.sql.functions._
    val k = cols.size
    val bitsPer = math.min(16, 42 / k) // k=2 → 16, k=3 → 14, k=4 → 10
    val zBits = bitsPer * k
    val longDims = cols.filter(c => schema(c).dataType == LongType)
    val winOf: Map[String, (Long, Long)] =
      if (longDims.isEmpty) Map.empty
      else {
        val aggs = longDims.flatMap(c => Seq(min(col(c)), max(col(c))))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        longDims.zipWithIndex.map { case (c, i) =>
          c -> ((if (row.isNullAt(2 * i)) 0L else row.getLong(2 * i),
            if (row.isNullAt(2 * i + 1)) 0L else row.getLong(2 * i + 1)))
        }.toMap
      }
    // live rows only: the scan applies deletion vectors, so the
    // rewrite materializes them away (r14)
    val total = live.map(f => f.size - f.dvRows).sum
    val nOut = math.max(1, ((total + targetRows - 1) / targetRows).toInt)
    require(nOut <= (1 << 20), s"zorder would write $nOut files")
    val strDim = cols.map(c => schema(c).dataType == StringType).toArray
    val lows = cols.map(c => winOf.getOrElse(c, (0L, 0L))._1).toArray
    val highs = cols.map(c => winOf.getOrElse(c, (0L, 0L))._2).toArray
    val mask0 = (1L << bitsPer) - 1L
    // overflow fence (r14): the bucket scaling multiplies the span by
    // the mask in LONG arithmetic in BOTH the DataFrame histogram and
    // the RDD partitioner below — reject ranges where that would
    // wrap, loudly and identically for both passes
    longDims.foreach { c =>
      val (lo, hi) = winOf(c)
      if (hi > lo) {
        val span =
          try Math.subtractExact(hi, lo)
          catch {
            case _: ArithmeticException =>
              throw new IllegalArgumentException(
                s"zorder: column $c range [$lo, $hi] too wide")
          }
        require(span <= Long.MaxValue / mask0,
          s"zorder: column $c range [$lo, $hi] too wide")
      }
    }
    // exact rank map per low-cardinality string dim (null = prefix
    // fallback); sort order is UTF8String's unsigned byte compare —
    // the same order utf8Lt and the skey windows use
    val rankOf: Array[Map[String, Long]] = cols.map { c =>
      if (schema(c).dataType != StringType) null
      else {
        val distinct = df.select(col(c)).where(col(c).isNotNull)
          .distinct().sort(col(c)).limit(4097)
          .collect().map(_.getString(0))
        if (distinct.length > 4096) null
        else {
          val d = math.max(1, distinct.length - 1)
          distinct.zipWithIndex.map { case (v, i) =>
            v -> i.toLong * mask0 / d
          }.toMap
        }
      }
    }.toArray
    val statsIsLong = schema.fieldNames.contains(statsCol) &&
      schema(statsCol).dataType == LongType
    val tieIdx = schema.fieldNames.indexOf(statsCol)
    val kk = k; val bp = bitsPer
    // deterministic BALANCED slicing: exact histogram over the top
    // ≤ 12 z bits (one counting pass, metadata-sized result), greedy
    // cuts every ~targetRows — a pure function of the data.
    //
    // The counting pass is a DATAFRAME groupBy-count (r14 — the r13
    // verdict's #8: `df.rdd…countByValue()` abandoned whole-stage
    // codegen and the columnar scan), and since r15 the PLACEMENT
    // pass reuses the SAME z column (the old executor-side `zOf`
    // Row function and its ZCutPartitioner are gone): long dims
    // scale by guarded long arithmetic (`DIV` — both operands
    // non-negative, so every division convention agrees), string
    // dims look up the rank map (`try_element_at` over a map
    // literal) with the two-byte UTF-8 prefix fallback
    // (`hex ∘ encode`, right-padded — hex("a") = "6100" = (0x61<<8)),
    // nulls bucket 0 — so the histogram's cells are exactly the
    // cells the placement routes rows into.
    val prefixBits = math.min(zBits, 12)
    val shift = zBits - prefixBits
    def qid(n: String): String = "`" + n.replace("`", "``") + "`"
    def bucketCol(j: Int): org.apache.spark.sql.Column = {
      val name = cols(j)
      if (!strDim(j)) {
        val lo = lows(j); val hi = highs(j)
        if (hi <= lo) lit(0L)
        else expr(s"CASE WHEN ${qid(name)} IS NULL THEN 0L ELSE " +
          s"((${qid(name)} - (${lo}L)) * ${mask0}L) DIV " +
          s"(${hi}L - (${lo}L)) END")
      } else {
        val c = col(name)
        val bs = encode(c, "UTF-8")
        val pre = shiftrightunsigned(
          conv(rpad(hex(bs), 4, "0"), 16, 10).cast("long"), 16 - bp)
        val viaRank =
          if (rankOf(j) == null) pre
          else coalesce(try_element_at(typedLit(rankOf(j)), c), pre)
        when(c.isNull, lit(0L)).otherwise(viaRank)
      }
    }
    val bucketed = df.select(
      (0 until kk).map(j => bucketCol(j).as(s"_b$j")): _*)
    val zCol = (0 until kk).flatMap { j =>
      (0 until bp).map { t =>
        shiftleft(shiftrightunsigned(col(s"_b$j"), t)
          .bitwiseAND(lit(1L)), t * kk + (kk - 1 - j))
      }
    }.foldLeft(lit(0L))((acc, term) => acc.bitwiseOR(term))
    val cells: Seq[(Long, Long)] =
      bucketed.select(shiftrightunsigned(zCol, shift).as("cell"))
        .groupBy(col("cell")).count() // ≤ 4096 cells by construction
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq.sortBy(_._1)
    val per = math.max(1L, (total + nOut - 1) / nOut)
    val cutsB = scala.collection.mutable.ArrayBuffer.empty[Long]
    var acc = 0L
    cells.foreach { case (cell, c) =>
      if (acc >= per && cutsB.size < nOut - 1) {
        cutsB += cell
        acc = 0L
      }
      acc += c
    }
    val cuts = cutsB.toArray
    val ti = tieIdx; val tiLong = statsIsLong
    // PLACEMENT, DataFrame-native (r15 — the r14 verdict's #7 ask:
    // the old `df.rdd.map(…).repartitionAndSortWithinPartitions(new
    // ZCutPartitioner(…))` paid Row decoding for every input row and
    // dropped whole-stage codegen for the scan + exchange). The full
    // z value is the same bit-for-bit column the histogram pass
    // built; the BUCKET id precomputes ZCutPartitioner's binary
    // search per prefix cell (≤ 4096 cells) into a map literal; rows
    // hash-exchange on the bucket and sort (bucket, z, tie) within
    // partitions — scan, z arithmetic, exchange and sort all stay
    // inside Catalyst/Tungsten. The terminal writer walks the sorted
    // partitions and SPLITS a file per bucket run, so the output
    // files are byte-identical to the old per-partition ones
    // (partition id == bucket id before; the bucket id names the
    // file now).
    // Dense ARRAY literal indexed by cell, not a map literal: Spark's
    // element_at over a map literal is a LINEAR key scan per row
    // (4096 long compares/row — the r15 q248 1.9x regression); the
    // cell domain is exactly 0..2^prefixBits-1, so a positional array
    // lookup is O(1) per row (GetArrayItem on a constant array).
    val bucketOfCell: Array[Long] =
      (0L until (1L << prefixBits)).map { c =>
        var lo = 0
        var hi = cuts.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (cuts(mid) <= c) lo = mid + 1 else hi = mid
        }
        lo.toLong
      }.toArray
    val staged = df.select(
      (df.columns.toSeq.map(c => col(qid(c))) ++
        (0 until kk).map(j => bucketCol(j).as(s"_gzb$j"))): _*)
    val zExpr = (0 until kk).flatMap { j =>
      (0 until bp).map { t =>
        shiftleft(shiftrightunsigned(col(s"_gzb$j"), t)
          .bitwiseAND(lit(1L)), t * kk + (kk - 1 - j))
      }
    }.foldLeft(lit(0L))((acc, term) => acc.bitwiseOR(term))
    val tieCol =
      if (tiLong && ti >= 0) coalesce(col(qid(df.columns(ti))), lit(0L))
      else lit(0L)
    val placed = staged.select(
      (df.columns.toSeq.map(c => col(qid(c))) :+
        zExpr.as("_gz_z") :+ tieCol.as("_gz_t")): _*)
      .withColumn("_gz_b", coalesce(
        try_element_at(typedLit(bucketOfCell),
          (shiftrightunsigned(col("_gz_z"), shift) + 1L).cast("int")),
        lit(0L)))
      .repartition(nOut, col("_gz_b"))
      .sortWithinPartitions(col("_gz_b"), col("_gz_z"), col("_gz_t"))
    val run = java.util.UUID.randomUUID().toString.take(8)
    val outSchema = schema
    // column mapping (r13): rewritten files must carry PHYSICAL names
    // — of the PINNED snapshot's schema (r14)
    val physMap = TxLog
      .latestMetaDataFast(s"$root/log", s"$root/ckpt", pinV)
      .map(_.map(c => c.name -> c.physName).toMap)
      .getOrElse(Map.empty[String, String])
    val outNames = schema.fieldNames.map(n => physMap.getOrElse(n, n))
    val scn = physMap.getOrElse(statsCol, statsCol)
    val sIdx = strStatsCol.map(schema.fieldNames.indexOf(_))
      .getOrElse(-1)
    val rpg = rowsPerGroup
    val rootDir = root
    val nFields = df.columns.length
    val written: Array[(String, Long, Option[(Long, Long)],
        Option[(String, String)], Seq[TxLog.ColStat])] = placed.rdd
      .mapPartitions { rows =>
        // sorted by (_gz_b, z, tie): one output file per bucket RUN.
        // rowsToCols reads only the leading schema fields, so the
        // helper columns ride along untouched. This terminal walk is
        // the codec writer's materialization — the scan, exchange
        // and sort above it ran as Catalyst operators.
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(String, Long, Option[(Long, Long)],
            Option[(String, String)], Seq[TxLog.ColStat])]
        val it = rows.buffered
        while (it.hasNext) {
          val b = it.head.getLong(nFields + 2) // _gz_b
          val run0 = scala.collection.mutable.ArrayBuffer
            .empty[org.apache.spark.sql.Row]
          while (it.hasNext && it.head.getLong(nFields + 2) == b)
            run0 += it.next()
          val rs = run0.toArray
          val cols2 = rowsToCols(outSchema, outNames, rs)
          val bytes = ParquetWrite.writeFile(cols2, rowsPerGroup = rpg)
          val p = s"$rootDir/data/zorder-$run-$b.parquet"
          java.nio.file.Files.write(
            java.nio.file.Paths.get(p), bytes): Unit
          val cs = cstatsOfCols(cols2)
          // key window from the REWRITTEN file's own footer, on the
          // column readers prune with; all-null/absent → no window
          val st =
            if (!tiLong) Vector.empty
            else ParquetFile.parse(b, bytes)
              .filter(r => r.valid && r.has_stats && r.col_path == scn)
          val kw =
            if (st.isEmpty) None
            else Some((st.map(_.min_long).min, st.map(_.max_long).max))
          var mnS: String = null; var mxS: String = null
          if (sIdx >= 0) rs.foreach { r =>
            if (!r.isNullAt(sIdx)) {
              val v = r.getString(sIdx)
              if (mnS == null || TxLog.utf8Lt(v, mnS)) mnS = v
              if (mxS == null || TxLog.utf8Lt(mxS, v)) mxS = v
            }
          }
          val sw = if (mnS == null) None else Some((mnS, mxS))
          buf += ((p, rs.length.toLong, kw, sw, cs))
        }
        buf.iterator
      }
      .collect() // bounded: one metadata row per OUTPUT file
    val lines =
      live.map(f =>
        s"""{"remove":{"path":"${TxLog.requireJsonSafe(f.path)}"}}""") ++
      written.map { case (p, rows, kw, sw, cs) =>
        TxLog.renderAdd(TxLog.LiveFile(p, 0L, rows, kw.map(_._1),
          kw.map(_._2), sw.map(_._1), sw.map(_._2),
          partition.map(_._2), cstats = cs), None, 0L, Some(false))
      }
    val v = commitMaintenance(root, live.map(_.path).toSeq,
      lines.toSeq :+ TxLog.commitInfoLine("ZORDER"),
      written.map(_._1).toSeq)
    ZorderResult(live.size, written.length, v)
  }


  /** External-Row → writer-column conversion over the full type
    * surface (the z-order rewrite's map-side builder). `names` are
    * the PHYSICAL column names the file carries (column mapping,
    * r13). */
  private def rowsToCols(schema: org.apache.spark.sql.types.StructType,
      names: Array[String],
      rs: Array[org.apache.spark.sql.Row]): Seq[ParquetWrite.Col] = {
    import org.apache.spark.sql.types._
    schema.fields.zipWithIndex.map { case (f0, i) =>
      val f = f0.copy(name = names(i))
      f.dataType match {
        case LongType =>
          if (f.nullable) ParquetWrite.OptLongCol(f.name, rs.map(r =>
            if (r.isNullAt(i)) null
            else java.lang.Long.valueOf(r.getLong(i))))
          else ParquetWrite.LongCol(f.name, rs.map(_.getLong(i)))
        case StringType =>
          val vs = rs.map(r =>
            if (r.isNullAt(i)) null else r.getString(i))
          if (f.nullable) ParquetWrite.OptStrCol(f.name, vs)
          else ParquetWrite.StrCol(f.name, vs)
        case DoubleType =>
          if (f.nullable) ParquetWrite.OptDoubleCol(f.name, rs.map(r =>
            if (r.isNullAt(i)) null
            else java.lang.Double.valueOf(r.getDouble(i))))
          else ParquetWrite.DoubleCol(f.name, rs.map(_.getDouble(i)))
        case FloatType =>
          if (f.nullable) ParquetWrite.OptFloatCol(f.name, rs.map(r =>
            if (r.isNullAt(i)) null
            else java.lang.Float.valueOf(r.getFloat(i))))
          else ParquetWrite.FloatCol(f.name, rs.map(_.getFloat(i)))
        case ArrayType(FloatType, _) =>
          ParquetWrite.FloatListCol(f.name, rs.map(r =>
            if (r.isNullAt(i)) null
            else r.getSeq[Any](i).map(v =>
              if (v == null) null
              else java.lang.Float.valueOf(v.asInstanceOf[Float]))
              .toArray))
        case ArrayType(DoubleType, _) =>
          ParquetWrite.DoubleListCol(f.name, rs.map(r =>
            if (r.isNullAt(i)) null
            else r.getSeq[Any](i).map(v =>
              if (v == null) null
              else java.lang.Double.valueOf(v.asInstanceOf[Double]))
              .toArray))
        case ArrayType(LongType, _) =>
          ParquetWrite.LongListCol(f.name, rs.map(r =>
            if (r.isNullAt(i)) null
            else r.getSeq[Any](i).map(v =>
              if (v == null) null
              else java.lang.Long.valueOf(v.asInstanceOf[Long]))
              .toArray))
        case t => throw new IllegalArgumentException(s"$t")
      }
    }.toSeq
  }

  /** Boxed value of row `i` of a writer column (the merge rewrite's
    * currency across the FULL type surface): java.lang.Long / Double
    * / Float, String, or a list column's boxed element array (null =
    * NULL cell / NULL list). */
  private def colValue(c: ParquetWrite.Col, i: Int): AnyRef = c match {
    case ParquetWrite.LongCol(_, vs) => java.lang.Long.valueOf(vs(i))
    case ParquetWrite.OptLongCol(_, vs) => vs(i)
    case ParquetWrite.StrCol(_, vs) => vs(i)
    case ParquetWrite.OptStrCol(_, vs) => vs(i)
    case ParquetWrite.DoubleCol(_, vs) =>
      java.lang.Double.valueOf(vs(i))
    case ParquetWrite.OptDoubleCol(_, vs) => vs(i)
    case ParquetWrite.FloatCol(_, vs) => java.lang.Float.valueOf(vs(i))
    case ParquetWrite.OptFloatCol(_, vs) => vs(i)
    case ParquetWrite.LongListCol(_, rows) => rows(i)
    case ParquetWrite.FloatListCol(_, rows) => rows(i)
    case ParquetWrite.DoubleListCol(_, rows) => rows(i)
  }

  /** Rebuild a writer column of `template`'s shape from boxed values.
    * A changeset value of the wrong type (or a null into a REQUIRED
    * column) fails loudly — merge never writes a silently-coerced
    * cell. */
  private def buildCol(template: ParquetWrite.Col,
      vals: Array[AnyRef]): ParquetWrite.Col = template match {
    case ParquetWrite.LongCol(nm, _) => ParquetWrite.LongCol(nm,
      vals.map(_.asInstanceOf[java.lang.Long].longValue()))
    case ParquetWrite.OptLongCol(nm, _) => ParquetWrite.OptLongCol(nm,
      vals.map(_.asInstanceOf[java.lang.Long]))
    case ParquetWrite.StrCol(nm, _) => ParquetWrite.StrCol(nm,
      vals.map(_.asInstanceOf[String]))
    case ParquetWrite.OptStrCol(nm, _) => ParquetWrite.OptStrCol(nm,
      vals.map(_.asInstanceOf[String]))
    case ParquetWrite.DoubleCol(nm, _) => ParquetWrite.DoubleCol(nm,
      vals.map(_.asInstanceOf[java.lang.Double].doubleValue()))
    case ParquetWrite.OptDoubleCol(nm, _) =>
      ParquetWrite.OptDoubleCol(nm,
        vals.map(_.asInstanceOf[java.lang.Double]))
    case ParquetWrite.FloatCol(nm, _) => ParquetWrite.FloatCol(nm,
      vals.map(_.asInstanceOf[java.lang.Float].floatValue()))
    case ParquetWrite.OptFloatCol(nm, _) =>
      ParquetWrite.OptFloatCol(nm,
        vals.map(_.asInstanceOf[java.lang.Float]))
    case ParquetWrite.LongListCol(nm, _) =>
      ParquetWrite.LongListCol(nm, vals.map(v =>
        if (v == null) null else v.asInstanceOf[Array[java.lang.Long]]))
    case ParquetWrite.FloatListCol(nm, _) =>
      ParquetWrite.FloatListCol(nm, vals.map(v =>
        if (v == null) null
        else v.asInstanceOf[Array[java.lang.Float]]))
    case ParquetWrite.DoubleListCol(nm, _) =>
      ParquetWrite.DoubleListCol(nm, vals.map(v =>
        if (v == null) null
        else v.asInstanceOf[Array[java.lang.Double]]))
  }

  /** An empty writer column matching a footer leaf — the insert arm's
    * template (the table schema with no live rows of it). */
  private def templateOf(lf: ParquetFile.Leaf): ParquetWrite.Col =
    if (lf.maxRep == 1) {
      val nm = lf.path.substring(0, lf.path.indexOf('.'))
      lf.ptype match {
        case 2 => ParquetWrite.LongListCol(nm, Array.empty)
        case 4 => ParquetWrite.FloatListCol(nm, Array.empty)
        case 5 => ParquetWrite.DoubleListCol(nm, Array.empty)
        case p => throw new IllegalArgumentException(
          s"unsupported list element ptype $p for ${lf.path}")
      }
    } else {
      val nullable = lf.maxDef == 1
      lf.ptype match {
        case 2 => if (nullable) ParquetWrite.OptLongCol(lf.path,
            Array.empty)
          else ParquetWrite.LongCol(lf.path, Array.empty)
        case 4 => if (nullable) ParquetWrite.OptFloatCol(lf.path,
            Array.empty)
          else ParquetWrite.FloatCol(lf.path, Array.empty)
        case 5 => if (nullable) ParquetWrite.OptDoubleCol(lf.path,
            Array.empty)
          else ParquetWrite.DoubleCol(lf.path, Array.empty)
        case 6 => if (nullable) ParquetWrite.OptStrCol(lf.path,
            Array.empty)
          else ParquetWrite.StrCol(lf.path, Array.empty)
        case p => throw new IllegalArgumentException(
          s"unsupported ptype $p for ${lf.path}")
      }
    }

  /** Rewrite ONE candidate file under a changeset slice — the body
    * shared bit-for-bit by the broadcast merge (driver-bounded
    * changeset, slice = the whole changeset) and the DISTRIBUTED
    * join-based merge (r15 — slice = the rows routed to this file by
    * the key probe). Pure function of (file, slice): reads the file
    * through our codecs, computes the surviving/updated/deleted
    * ordinals under any existing deletion vector, writes the rewrite
    * (or a DV sidecar for small delete-only touches, or a remove-only
    * tombstone) plus the row-exact CDC sidecar, and returns ONLY
    * per-file metadata. `tag` disambiguates output names within a
    * run. Returns (mode 0=tombstone/1=rewrite/2=dv/3=untouched,
    * oldPath, newPath, rows, minKey, maxKey, matchedKeys,
    * deletedRows, cdcPath, cdcRows, cstats, dvPath, dvDead). */
  private[graft] def rewriteOneFile(f: TxLog.LiveFile,
      upd: scala.collection.Map[Long, Array[Any]],
      del: scala.collection.Set[Long],
      keyPhys: String, dvThr: Double, root: String, run: String,
      tag: String): (Int, String, String, Long, Long, Long,
        Seq[Long], Long, String, Long, Seq[TxLog.ColStat], String, Long) = {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f.path))
    val (leaves, fileCols) = ParquetFile.readFileColumns(bytes)
    val ki = leaves.indexWhere(_.path == keyPhys)
    require(ki >= 0 && leaves(ki).ptype == 2 &&
      leaves(ki).maxDef == 0,
      s"merge key $keyPhys must be a REQUIRED long column")
    require(fileCols.size == leaves.size &&
      upd.headOption.forall(_._2.length == fileCols.size),
      s"file ${f.path} does not match the changeset width")
    val fkeys = fileCols(ki)
      .asInstanceOf[ParquetWrite.LongCol].vs
    val n = fkeys.length
    // rows already dead under the file's DELETION VECTOR (r14)
    // are invisible: they never match, never re-emit CDC, and
    // a rewrite materializes them away
    val exDv = loadDv(f.dvPath)
    def liveAt(i: Int): Boolean = exDv == null || !exDv.get(i)
    val delIdx = (0 until n)
      .filter(i => liveAt(i) && del.contains(fkeys(i)))
      .toArray
    val updIdx = (0 until n)
      .filter(i => liveAt(i) && upd.contains(fkeys(i)))
      .toArray
    val keep = (0 until n)
      .filter(i => liveAt(i) && !del.contains(fkeys(i)))
      .toArray
    val matched = updIdx.map(fkeys(_)).distinct.toSeq
    // CDC sidecar: delete pre-images + update pre/post images
    val cdc: (String, Long) =
      if (delIdx.isEmpty && updIdx.isEmpty) ("", 0L)
      else {
        val cdcCols: Seq[ParquetWrite.Col] =
          fileCols.zipWithIndex.map { case (c, li) =>
            val pre = (delIdx ++ updIdx).map(colValue(c, _))
            val post = updIdx.map(i =>
              upd(fkeys(i))(li).asInstanceOf[AnyRef])
            buildCol(c, pre ++ post)
          } :+ ParquetWrite.StrCol("_change_type",
            Array.fill(delIdx.length)("delete") ++
              Array.fill(updIdx.length)("update_preimage") ++
              Array.fill(updIdx.length)("update_postimage"))
        val cb = ParquetWrite.writeFile(cdcCols,
          rowsPerGroup = 1024)
        val cp = s"$root/data/cdc-$run-$tag.parquet"
        java.nio.file.Files.write(
          java.nio.file.Paths.get(cp), cb): Unit
        (cp, (delIdx.length + 2 * updIdx.length).toLong)
      }
    if (delIdx.isEmpty && updIdx.isEmpty)
      // stats said maybe, the file says no: UNTOUCHED (mode 3)
      // — no remove, no add, no rewrite (self-review r14: the
      // r12 path rewrote such files for nothing)
      (3, f.path, "", 0L, 0L, 0L, matched, 0L, "", 0L, Seq.empty, "",
        0L)
    else if (keep.isEmpty) // every live row died: remove-only
      (0, f.path, "", 0L, 0L, 0L, matched,
        delIdx.length.toLong, cdc._1, cdc._2, Seq.empty, "", 0L)
    else if (updIdx.nonEmpty &&
        (updIdx.length + delIdx.length).toDouble / n <= dvThr) {
      // MERGE-ON-READ update (r15 — the r14 verdict's #6 ask: Delta's
      // DV update shape; before this a 1-row UPDATE of a large file
      // rewrote the whole file): the touched ordinals (updates AND
      // deletes) die in the DV sidecar — the data file is untouched,
      // re-added dataChange=false — and the updated rows RE-INSERT as
      // one small key-sorted add (dataChange=true, so the streaming
      // tail emits exactly the changed rows). One row per touched
      // occurrence, so multi-occurrence keys keep their counts,
      // identical to the rewrite arm. CDC above already carries the
      // row-exact delete + update pre/post images.
      val ords: Array[Long] =
        ((0 until n).filterNot(liveAt).map(_.toLong) ++
          (delIdx ++ updIdx).map(_.toLong)).sorted.toArray
      val db = ParquetWrite.writeFile(
        Seq(ParquetWrite.LongCol("ord", ords)), rowsPerGroup = 4096)
      val dp = s"$root/data/dv-$run-$tag.parquet"
      java.nio.file.Files.write(java.nio.file.Paths.get(dp), db): Unit
      // sort + window by the NEW key values (an UPDATE may reassign
      // the key — the stored rows must prune on what they now hold)
      def newKey(i: Int): Long =
        upd(fkeys(i))(ki).asInstanceOf[java.lang.Long].longValue()
      val byKey = updIdx.sortBy(newKey)
      val outCols: Seq[ParquetWrite.Col] =
        fileCols.zipWithIndex.map { case (c, li) =>
          buildCol(c, byKey.map(i =>
            upd(fkeys(i))(li).asInstanceOf[AnyRef]))
        }
      val out = ParquetWrite.writeFile(outCols, rowsPerGroup = 1024)
      val p = s"$root/data/merge-$run-$tag-upd.parquet"
      java.nio.file.Files.write(java.nio.file.Paths.get(p), out): Unit
      (4, f.path, p, byKey.length.toLong,
        byKey.map(newKey).min, byKey.map(newKey).max,
        matched, delIdx.length.toLong, cdc._1, cdc._2,
        cstatsOfCols(outCols), dp,
        ords.length.toLong)
    }
    else if (updIdx.isEmpty && delIdx.nonEmpty &&
        delIdx.length.toDouble / n <= dvThr) {
      // MERGE-ON-READ delete (r14 — Delta's deletion vectors):
      // the touched fraction is small, so killing ordinals in
      // a sidecar beats rewriting the gigabyte — the data file
      // is NOT touched; readers apply the DV map-side;
      // compaction materializes it later. dataChange=false on
      // the re-add keeps the append-only streaming tail from
      // re-emitting the file; the CDC sidecar carries the
      // row-exact deletes.
      val ords: Array[Long] =
        ((0 until n).filterNot(liveAt).map(_.toLong) ++
          delIdx.map(_.toLong)).sorted.toArray
      val db = ParquetWrite.writeFile(
        Seq(ParquetWrite.LongCol("ord", ords)),
        rowsPerGroup = 4096)
      val dp = s"$root/data/dv-$run-$tag.parquet"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dp), db): Unit
      (2, f.path, "", 0L, 0L, 0L, matched,
        delIdx.length.toLong, cdc._1, cdc._2, Seq.empty, dp,
        ords.length.toLong)
    } else {
      // per-column output over the SURVIVING rows, applying the
      // update changeset — typed through the column templates
      val outCols: Seq[ParquetWrite.Col] =
        fileCols.zipWithIndex.map { case (c, li) =>
          buildCol(c, keep.map { i =>
            upd.get(fkeys(i)) match {
              case Some(vals) => vals(li).asInstanceOf[AnyRef]
              case None => colValue(c, i)
            }
          })
        }
      val out = ParquetWrite.writeFile(outCols,
        rowsPerGroup = 1024)
      val p = s"$root/data/merge-$run-$tag.parquet"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(p), out): Unit
      val st = ParquetFile.parse(0L, out)
        .filter(r => r.valid && r.has_stats &&
          r.col_path == keyPhys)
      (1, f.path, p, keep.length.toLong,
        st.map(_.min_long).min, st.map(_.max_long).max,
        matched, delIdx.length.toLong, cdc._1, cdc._2,
        cstatsOfCols(outCols),
        "", 0L)
    }
  }

  final case class MergeResult(rewritten: Int, matched: Long,
      inserted: Long, version: Long, deleted: Long = 0L)

  /** One rewritten candidate's metadata in renderer shape (r15 — the
    * broadcast and distributed merges must emit BIT-IDENTICAL commit
    * lines; one renderer, two callers). */
  private final case class RewriteMeta(mode: Int, oldPath: String,
      newPath: String, rows: Long, minKey: Long, maxKey: Long,
      fileMatched: Long, cdcPath: String, cdcRows: Long,
      cstats: Seq[TxLog.ColStat], dvPath: String, dvDead: Long)

  /** One merge insert file: (path, rows, minKey, maxKey, cdcPath,
    * cstats). */
  private type InsertMeta = (String, Long, Long, Long, String,
    Seq[TxLog.ColStat])

  /** The ONE merge-commit renderer (r15 review: the line building was
    * a hand-mirrored copy in both paths — the digest-identity law
    * depends on them never diverging): removes for modes 0/1, mode-1
    * rewrite adds (delete-only rewrites preserve the source partition
    * value; an update may have CHANGED it → no part), mode-2 DV
    * re-adds, mode-4 DV re-add + small update add, insert adds, then
    * every CDC sidecar. Returns (lines, writtenPaths). */
  private def mergeCommitLines(metas: Seq[RewriteMeta],
      inserts: Seq[InsertMeta],
      liveByPath: Map[String, TxLog.LiveFile],
      stampKey: Boolean): (Seq[String], Seq[String]) = {
    def add(p: String, rows: Long, mn: Long, mx: Long,
        cs: Seq[TxLog.ColStat], part: Option[String]): String =
      TxLog.renderAdd(TxLog.LiveFile(p, 0L, rows,
        Some(mn).filter(_ => stampKey), Some(mx).filter(_ => stampKey),
        part = part, cstats = cs), None, 0L, None)
    val lines =
      metas.filter(m => m.mode == 0 || m.mode == 1).map(m =>
        s"""{"remove":{"path":"${TxLog.requireJsonSafe(m.oldPath)}"}}""") ++
      metas.filter(_.mode == 1).map(m =>
        add(m.newPath, m.rows, m.minKey, m.maxKey, m.cstats,
          if (m.fileMatched == 0L) liveByPath(m.oldPath).part
          else None)) ++
      metas.filter(_.mode == 2).map(m =>
        TxLog.renderAdd(liveByPath(m.oldPath), Some(m.dvPath),
          m.dvDead, Some(false))) ++
      metas.filter(_.mode == 4).map(m =>
        TxLog.renderAdd(liveByPath(m.oldPath), Some(m.dvPath),
          m.dvDead, Some(false))) ++
      metas.filter(_.mode == 4).map(m =>
        add(m.newPath, m.rows, m.minKey, m.maxKey, m.cstats, None)) ++
      inserts.map { case (p, rows, mn, mx, _, cs) =>
        add(p, rows, mn, mx, cs, None)
      } ++
      metas.filter(_.cdcPath.nonEmpty).map(m =>
        s"""{"cdc":{"path":"${TxLog.requireJsonSafe(m.cdcPath)}",""" +
          s""""size":${m.cdcRows}}}""") ++
      inserts.map { case (_, rows, _, _, cp, _) =>
        s"""{"cdc":{"path":"${TxLog.requireJsonSafe(cp)}",""" +
          s""""size":$rows}}"""
      }
    val written =
      metas.filter(_.newPath.nonEmpty).map(_.newPath) ++
      metas.filter(_.cdcPath.nonEmpty).map(_.cdcPath) ++
      metas.filter(_.dvPath.nonEmpty).map(_.dvPath) ++
      inserts.flatMap(a => Seq(a._1, a._5))
    (lines, written)
  }

  /** MERGE (upsert + delete, r12; full type surface + row-level CDC,
    * r13) by the key column: rows of `updates` whose key exists in
    * the table REPLACE the stored rows (every occurrence); keys in
    * `deletes` DROP their stored rows (every occurrence — a candidate
    * file whose rows all die commits as a remove-only tombstone, no
    * empty file is ever written); keys present nowhere INSERT as one
    * new key-sorted file; one commit carries remove(rewritten) +
    * add(new) + `cdc` sidecar actions.
    *
    * The rewrite runs over the FULL own-writer type surface —
    * long/string/double/float flat columns and `array<T>` lists —
    * via [[ParquetFile.readFileColumns]] (r13; r12's `readFileCells`
    * path failed loudly on the engine's flagship `array<float>`
    * embeddings tables).
    *
    * ROW-LEVEL CHANGE FEED (r13 — Delta CDF's `cdc` action): each
    * rewrite task also writes a CDC sidecar file carrying the
    * table's columns + `_change_type` ∈ {delete, update_preimage,
    * update_postimage}; the insert arm writes one with `insert`
    * rows. Sidecars are registered as `{"cdc":{path,size}}` actions
    * in the SAME commit — they never join the live set (no add), and
    * the streaming source's `changeFeed` mode serves them so an
    * incremental consumer needs no re-diff.
    *
    * The updates ride as a BROADCAST map — the CDC-batch shape (a
    * bounded changeset against a huge table); candidate files are
    * pre-pruned by their log stats ([min,max] must intersect an
    * update key), each candidate is rewritten map-side through our
    * codecs, and only per-file metadata returns. A billion-row merge
    * would shuffle-join instead of broadcasting — out of this
    * operator's documented scope.
    *
    * `updates`: (key, values…) tuples matching the table's column
    * order; `null` in a value slot stores NULL (the column must be
    * nullable); an `array<T>` slot takes `Array[java.lang.T]` (null
    * elements preserved) or null for a NULL list. */
  def merge(spark: SparkSession, root: String,
      updates: Seq[(Long, Array[Any])], keyCol: String,
      maxBroadcast: Int = 1 << 20,
      deletes: Seq[Long] = Seq.empty,
      dvThreshold: Double = 0.10,
      insertUnmatched: Boolean = true,
      readVersion: Long = -1L): MergeResult = {
    require(updates.size + deletes.size <= maxBroadcast,
      s"merge changeset ${updates.size + deletes.size} exceeds the " +
        s"broadcast bound $maxBroadcast — shuffle-join merges are " +
        "out of scope")
    if (updates.isEmpty && deletes.isEmpty)
      return MergeResult(0, 0L, 0L, -1L)
    TxLog.checkProtocolWrite(s"$root/log", s"$root/ckpt")
    require(updates.map(_._1).distinct.size == updates.size,
      "duplicate keys in the merge changeset")
    require(deletes.distinct.size == deletes.size,
      "duplicate keys in the delete set")
    require(!updates.exists(u => deletes.contains(u._1)),
      "a key cannot be both updated and deleted in one changeset")
    val live = TxLog.resolveLiveLocal(s"$root/log", s"$root/ckpt", -1L)
    require(live.nonEmpty, s"merge against an empty table at $root")
    // table schema (and the changeset width check) from a live footer
    val schemaLeaves = ParquetFile.parseFooterMeta(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(live.head.path))).leaves
    require(updates.forall(_._2.length == schemaLeaves.size),
      s"changeset rows must carry ${schemaLeaves.size} values " +
        "(the table's column order)")
    // column mapping (r13): the key arrives logical; leaves are phys
    val keyPhys = TxLog
      .latestMetaDataFast(s"$root/log", s"$root/ckpt", -1L)
      .flatMap(_.find(_.name == keyCol).map(_.physName))
      .getOrElse(keyCol)
    // CHECK constraints (r13): a merge stores the changeset's values
    // — updates and inserts must satisfy the table's constraints,
    // same as appends (Delta enforces on MERGE too). The changeset is
    // bounded (broadcast-sized), so this is a driver-side loop.
    locally {
      val cons = TxLog.activeConstraintsFast(
        s"$root/log", s"$root/ckpt", -1L)
      if (cons.nonEmpty && updates.nonEmpty) {
        val schema = spark.read.format("graft-lake")
          .option("path", root).load().schema
        val checks = graft.sources.LakeSource
          .compileChecks(spark, schema, cons)
        // the changeset arrays are in FILE-LEAF order; the compiled
        // predicates bind positionally to the LOGICAL schema — map
        // logical field → leaf slot through the column mapping
        // (review follow-up: after DROP/ADD COLUMN the two orders
        // diverge and a positional row evaluated the wrong slots)
        val physMap = TxLog
          .latestMetaDataFast(s"$root/log", s"$root/ckpt", -1L)
          .map(_.map(c => c.name -> c.physName).toMap)
          .getOrElse(Map.empty[String, String])
        val slotOf: Array[Int] = schema.fieldNames.map { n =>
          val phys = physMap.getOrElse(n, n)
          val i = schemaLeaves.indexWhere(l => l.path == phys ||
            l.path.startsWith(phys + "."))
          require(i >= 0,
            s"cannot constraint-check a merge against column $n: " +
              "the live files predate it (compact the table first)")
          i
        }
        def toCatalyst(v: Any): Any = v match {
          case s0: String =>
            org.apache.spark.unsafe.types.UTF8String.fromString(s0)
          case a: Array[_] =>
            new org.apache.spark.sql.catalyst.util.GenericArrayData(
              a.asInstanceOf[Array[Any]])
          case other => other
        }
        updates.foreach { case (k, vals) =>
          val row = new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(slotOf.map(i => toCatalyst(vals(i))))
          checks.foreach { case (n, e) =>
            val r = e.eval(row)
            require(r == null || r != false,
              s"merge changeset violates CHECK constraint $n at " +
                s"key $k")
          }
        }
      }
    }
    require(schemaLeaves.exists(l => l.path == keyPhys &&
        l.ptype == 2 && l.maxDef == 0 && l.maxRep == 0),
      s"merge key $keyCol must be a REQUIRED long column")
    val keys = updates.map(_._1) ++ deletes
    val kLo = keys.min; val kHi = keys.max
    // candidate pruning uses the COLUMN-LABELED per-file window for
    // the key (r14 cstats; review r14: the legacy min_key/max_key
    // windows are measured on whatever statsCol the WRITER was
    // configured with — pruning a merge on a DIFFERENT required-long
    // key against them silently missed rows). Files without a
    // key-labeled window must be checked; an all-null window on a
    // REQUIRED key means an empty file — skip it. The any-key-in-
    // window test BINARY-SEARCHES a sorted key array (r15 — the sf5
    // scale gate caught the old `keys.exists` linear scan going
    // O(files × changeset): q234 ran 9.8x for 5x data).
    val sortedKeys: Array[Long] = {
      val a = keys.toArray; java.util.Arrays.sort(a); a
    }
    def anyKeyIn(mn: Long, mx: Long): Boolean = {
      val i = java.util.Arrays.binarySearch(sortedKeys, mn)
      val idx = if (i >= 0) i else -i - 1
      idx < sortedKeys.length && sortedKeys(idx) <= mx
    }
    val candidates = live.filter { f =>
      f.cstats.find(c => c.col == keyPhys && c.tpe == "l") match {
        case Some(st) => (st.mn.map(_.toLong), st.mx.map(_.toLong)) match {
          case (Some(mn), Some(mx)) =>
            mx >= kLo && mn <= kHi && anyKeyIn(mn, mx)
          case _ => false
        }
        case None => true // no labeled window: must check
      }
    }
    // READ-VERSION FENCE (ADVICE r14 — Delta's concurrent-append
    // conflict rule for row-level operations): when the changeset was
    // computed from a SCAN (predicate DELETE, SQL UPDATE, MERGE arm
    // routing), a candidate file committed AFTER that scan's snapshot
    // holds rows the predicate never evaluated — rewriting or
    // deleting their keys would silently apply the mutation to unseen
    // rows. Abort loudly; the caller re-runs against the new head.
    if (readVersion >= 0) candidates.find(_.version > readVersion)
      .foreach { f =>
        throw new IllegalStateException(
          s"merge conflict under $root: candidate file ${f.path} " +
            s"was committed at version ${f.version}, after the " +
            s"caller's scan snapshot $readVersion — re-run the " +
            "statement against the new table state")
      }
    val run = java.util.UUID.randomUUID().toString.take(8)
    val updMap = updates.toMap
    val bc = spark.sparkContext.broadcast(updMap)
    val bcDel = spark.sparkContext.broadcast(deletes.toSet)

    // (mode 0=tombstone/1=rewrite/2=dv, oldPath, newPath, rows,
    // minKey, maxKey, matchedKeys, deletedRows, cdcPath ("" = no
    // changes in this file), cdcRows, cstats, dvPath, dvDead) —
    // tuples, not a method-local case class: local classes capture
    // enclosing scope and break task serialization
    val dvThr = dvThreshold
    val rootV = root
    val keyPhysV = keyPhys
    val rewritten: Array[(Int, String, String, Long, Long, Long,
        Seq[Long], Long, String, Long, Seq[TxLog.ColStat], String, Long)] =
      if (candidates.isEmpty) Array.empty
      else spark.sparkContext
        .parallelize(candidates.zipWithIndex,
          math.min(candidates.size, 64))
        .map { case (f, idx) =>
          rewriteOneFile(f, bc.value, bcDel.value, keyPhysV, dvThr,
            rootV, run, idx.toString)
        }
        .collect()

    val matchedKeys = rewritten.flatMap(_._7).toSet
    val deletedRows = rewritten.map(_._8).sum
    // insertUnmatched = false (r14 — SQL UPDATE's contract): an
    // UPDATE must never CREATE rows, so a key that vanished between
    // the caller's scan and this merge's snapshot resolution is
    // DROPPED, not resurrected as an insert (review r14: the upsert
    // default silently undid a concurrent committed delete)
    val inserts =
      if (!insertUnmatched) Seq.empty
      else updates.filterNot(u => matchedKeys.contains(u._1))
        .sortBy(_._1)
    // insert file: built from the changeset rows, key-sorted, over
    // the table schema's column templates; plus its CDC sidecar
    val insertAdd: Option[InsertMeta] =
      if (inserts.isEmpty) None
      else {
        val cols: Seq[ParquetWrite.Col] = schemaLeaves.zipWithIndex
          .map { case (lf, li) =>
            buildCol(templateOf(lf),
              inserts.map(_._2(li).asInstanceOf[AnyRef]).toArray)
          }
        val out = ParquetWrite.writeFile(cols, rowsPerGroup = 1024)
        val p = s"$root/data/merge-$run-insert.parquet"
        java.nio.file.Files.write(java.nio.file.Paths.get(p), out): Unit
        val cdcCols = cols :+ ParquetWrite.StrCol("_change_type",
          Array.fill(inserts.size)("insert"))
        val cb = ParquetWrite.writeFile(cdcCols, rowsPerGroup = 1024)
        val cp = s"$root/data/cdc-$run-insert.parquet"
        java.nio.file.Files.write(java.nio.file.Paths.get(cp), cb): Unit
        Some((p, inserts.size.toLong, inserts.head._1,
          inserts.last._1, cp, cstatsOfCols(cols)))
      }
    if (rewritten.isEmpty && insertAdd.isEmpty)
      return MergeResult(0, 0L, 0L, -1L)
    val liveByPath = candidates.map(f => f.path -> f).toMap
    // the legacy min_key/max_key window is, by engine-wide default,
    // the "doc_id" statsCol's — stamp it only when the merge key IS
    // that column (review r14: stamping a different key's window
    // would poison doc_id file pruning for every later read); the
    // column-labeled cstats carry the key's window regardless
    val stampKey = keyCol == "doc_id"
    // DV-mode files are NOT removed — their re-add (same path, new
    // sidecar) wins the latest-wins fold; untouched files (mode 3)
    // emit nothing at all. ONE renderer shared with the distributed
    // path (r15 review — the digest-identity law depends on it).
    val (lines, writtenPaths) = mergeCommitLines(
      rewritten.toSeq.map(r => RewriteMeta(r._1, r._2, r._3, r._4,
        r._5, r._6, r._7.size.toLong, r._9, r._10, r._11, r._12,
        r._13)),
      insertAdd.toSeq, liveByPath, stampKey)
    if (lines.isEmpty) // every candidate untouched, nothing to insert
      return MergeResult(0, 0L, 0L, -1L)
    val v = commitMaintenance(root, rewritten.map(_._2).toSeq,
      lines :+ TxLog.commitInfoLine("MERGE"), writtenPaths)
    MergeResult(rewritten.count(_._1 != 3), matchedKeys.size.toLong,
      insertAdd.map(_._2).getOrElse(0L), v, deletedRows)
  }

  /** One output row of a distributed-merge rewrite task: `kind` 0 =
    * per-file METADATA (what the commit is built from — O(files)),
    * `kind` 1 = one MATCHED update key (aggregated distributedly into
    * the exact distinct-matched count; never collected to the
    * driver). Top-level case class: task closures must not capture
    * enclosing scope. */
  final case class MergeTaskOut(kind: Int, mode: Int, oldPath: String,
      newPath: String, rows: Long, minKey: Long, maxKey: Long,
      fileMatched: Long, deletedRows: Long, cdcPath: String,
      cdcRows: Long, cstats: Seq[TxLog.ColStat], dvPath: String,
      dvDead: Long,
      key: Long)

  /** DISTRIBUTED join-based MERGE (r15 — the r14 verdict's #1 ask:
    * remove the driver-collect changeset bound). The changeset stays
    * a DataFrame end to end; the driver only ever sees METADATA
    * (touched file names, per-file commit rows) — never source rows.
    *
    * `changes` columns, positionally: `_graft_k` (the merge key,
    * LONG), `_graft_op` (STRING — `u` replace-if-present-else-drop,
    * `i` insert-if-absent (a matched key takes NO action), `ui`
    * upsert, `d` delete-all-occurrences), then the table's columns in
    * LOGICAL schema order (ignored for `d` rows).
    *
    * The 100 TB shape, stage by stage:
    *  1. one distributed aggregate validates the changeset (null /
    *     duplicate keys, op values) and measures the key span;
    *  2. CHECK constraints evaluate as distributed filters;
    *  3. the KEY PROBE scans only the key column of the
    *     stats-pruned candidate files (Spark's parquet reader over
    *     our own files) and joins it with the changeset keys —
    *     Catalyst picks broadcast vs shuffle join by size — yielding
    *     the exact (key, file) containment map; over-routing from a
    *     deletion-vector-dead row is re-checked in the task;
    *  4. each TOUCHED file becomes one task: the changeset slice
    *     routed to it by the probe (bounded by the file's own row
    *     count) rewrites the file through [[rewriteOneFile]] — the
    *     bit-identical body the broadcast path runs — and ships back
    *     only per-file metadata plus matched keys for the exact
    *     distinct count (aggregated, not collected);
    *  5. unmatched `i`/`ui` rows range-partition by key, sort, and
    *     write key-ordered insert files executor-side (≤
    *     `insertRowsPerFile` rows each, stats + CDC sidecars);
    *  6. ONE optimistic commit (remove + add + cdc + commitInfo),
    *     read-set validated, exactly like the broadcast path.
    *
    * `readVersion` carries the caller's scan-snapshot fence (same
    * contract as [[merge]]). Candidate data-file NAMES must be unique
    * (they are, for every engine writer — one flat `data/` dir). */
  def mergeDistributed(spark: SparkSession, root: String,
      changes: org.apache.spark.sql.DataFrame, keyCol: String,
      dvThreshold: Double = 0.10,
      readVersion: Long = -1L,
      insertRowsPerFile: Int = 1 << 20,
      probeHint: Option[(org.apache.spark.sql.DataFrame, Long)] = None)
      : MergeResult = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.storage.StorageLevel
    TxLog.checkProtocolWrite(s"$root/log", s"$root/ckpt")
    // PIN the snapshot FIRST (review r15 pass 2: schema, constraints,
    // column mapping, the live set, the probe and the fence must all
    // describe ONE version — resolving any of them at the mutable
    // head lets a concurrent ALTER TABLE desync the rewrite from the
    // files it rewrites)
    val snapV = TxLog.nextVersion(s"$root/log", s"$root/ckpt") - 1L
    val schema = spark.read.format("graft-lake").option("path", root)
      .option("asOf", snapV.toString).load().schema
    val n = schema.fields.length
    require(changes.schema.fields.length == n + 2,
      s"distributed merge changeset must carry (_graft_k, _graft_op, " +
        s"then the table's $n columns); got ${changes.schema.fields.length}")
    require(changes.schema.fields(0).dataType ==
        org.apache.spark.sql.types.LongType,
      "changeset column 0 (_graft_k) must be LONG")
    changes.schema.fields.drop(2).zip(schema.fields).foreach {
      case (c, t) => require(c.dataType == t.dataType,
        s"changeset column for ${t.name} has type ${c.dataType}, " +
          s"table has ${t.dataType}")
    }
    val kf = schema.fields.find(_.name == keyCol).getOrElse(
      throw new IllegalArgumentException(s"no table column $keyCol"))
    require(kf.dataType == org.apache.spark.sql.types.LongType &&
        !kf.nullable,
      s"merge key $keyCol must be a REQUIRED long column")
    val ds = changes.toDF(
      ("_graft_k" +: "_graft_op" +: schema.fieldNames.toSeq): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // one validation pass also counts the op mix (r17): a changeset
      // with zero insert ops (every SQL UPDATE / DELETE routes here)
      // skips the insert anti-join + count + write passes outright
      val v = ds.agg(count(lit(1)), count(col("_graft_k")),
        countDistinct(col("_graft_k")),
        count(when(!col("_graft_op").isin("u", "i", "ui", "d"),
          lit(1))),
        min(col("_graft_k")), max(col("_graft_k")),
        count(when(col("_graft_op").isin("i", "ui"), lit(1)))).head()
      val total = v.getLong(0)
      if (total == 0L) return MergeResult(0, 0L, 0L, -1L)
      require(v.getLong(1) == total,
        "null source key in the merge changeset")
      require(v.getLong(2) == total,
        "duplicate keys in the merge changeset")
      require(v.getLong(3) == 0L,
        "unknown _graft_op in the merge changeset (u/i/ui/d)")
      val kLo = v.getLong(4); val kHi = v.getLong(5)
      val nInsOps = v.getLong(6)
      // CHECK constraints (distributed — the changeset is unbounded):
      // a stored row violating any active constraint fails BEFORE any
      // file is written; NULL passes (the SQL CHECK rule)
      val cons = TxLog.activeConstraintsFast(
        s"$root/log", s"$root/ckpt", snapV)
      if (cons.nonEmpty) {
        val stored = ds.where(col("_graft_op") =!= "d")
        cons.foreach { case TxLog.Constraint(cname, cexpr) =>
          require(stored.where(expr(cexpr).cast("boolean") <=> false)
              .isEmpty,
            s"merge changeset violates CHECK constraint $cname")
        }
      }
      val live = TxLog.resolveLiveLocal(s"$root/log", s"$root/ckpt",
        snapV)
      // ---- empty table: the insert arm appends through the
      // connector, fully distributed (table props ride so partition
      // values and stats land)
      if (live.isEmpty) {
        val ins = ds.where(col("_graft_op").isin("i", "ui"))
          .select(schema.fieldNames.map(col).toSeq: _*)
        val nIns = ins.count()
        if (nIns == 0L) return MergeResult(0, 0L, 0L, -1L)
        var w = ins.write.format("graft-lake").option("path", root)
        graft.sources.LakeCatalog.readProps(root).foreach {
          case (k2, v2) => w = w.option(k2, v2)
        }
        w.mode("append").save()
        return MergeResult(0, 0L, nIns,
          TxLog.commitVersions(s"$root/log").max)
      }
      val keyPhys = TxLog
        .latestMetaDataFast(s"$root/log", s"$root/ckpt", snapV)
        .flatMap(_.find(_.name == keyCol).map(_.physName))
        .getOrElse(keyCol)
      val schemaLeaves = ParquetFile.parseFooterMeta(
        java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(live.head.path))).leaves
      val order: Array[Int] = graft.plans.LakeMergeSql
        .leafOrder(root, schema, live.head.path, asOf = snapV).toArray
      val byPath = live.map(f => f.path -> f).toMap
      // ---- the KEY PROBE: exact LIVE (key, file) containment — the
      // connector's file-provenance face serves (key, _graft_file)
      // with DELETION VECTORS applied and file/row-group pruning on
      // the pushed key range (review r15: a raw parquet read counted
      // DV-dead rows as matched, silently dropping an upsert of a
      // DV-deleted key). Catalyst picks the join strategy by size.
      // a caller that ALREADY scanned (key, file) provenance at this
      // exact snapshot (the SQL UPDATE/DELETE predicate scan, the
      // mixed-arm MERGE's routing probe — r17) hands the frame in
      // instead of paying a second full table scan + join here; a
      // stale hint (any concurrent commit since) is ignored and the
      // probe is rebuilt at the pinned snapshot as before
      val hinted = probeHint.exists(_._2 == snapV)
      val probe = probeHint match {
        case Some((p, pv)) if pv == snapV =>
          // the routing below reads the hint by name and type
          require(p.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
              Seq("_graft_k" -> org.apache.spark.sql.types.LongType,
                "_graft_file" -> org.apache.spark.sql.types.StringType),
            "probe hint must be exactly (_graft_k: long, _graft_file: " +
              s"string), got ${p.schema.simpleString}")
          p
        case _ => spark.read.format("graft-lake")
          .option("path", root).option("asOf", snapV.toString)
          .option("withFilePath", "true").load()
          .where(col(keyCol) >= kLo && col(keyCol) <= kHi)
          .select(col(keyCol).as("_graft_k"), col("_graft_file"))
          .join(ds.select(col("_graft_k")), Seq("_graft_k"))
          .distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
      }
      val touchedNames: Array[String] =
        probe.select(col("_graft_file")).distinct()
          .collect().map(_.getString(0)) // O(touched files) — metadata
      try {
        val touched = touchedNames.toSeq.flatMap(byPath.get)
        // the caller's scan-snapshot fence (same contract as merge)
        if (readVersion >= 0)
          touched.find(_.version > readVersion).foreach { f =>
            throw new IllegalStateException(
              s"merge conflict under $root: candidate file ${f.path} " +
                s"was committed at version ${f.version}, after the " +
                s"caller's scan snapshot $readVersion — re-run the " +
                "statement against the new table state")
          }
        val run = java.util.UUID.randomUUID().toString.take(8)
        val bMeta = spark.sparkContext.broadcast(
          touchedNames.flatMap(nm => byPath.get(nm).map(nm -> _)).toMap)
        val bOrder = spark.sparkContext.broadcast(order)
        val bTypes = spark.sparkContext.broadcast(
          schema.fields.map(_.dataType))
        val rootV = root; val keyPhysV = keyPhys
        val dvThr = dvThreshold; val nFields = n
        // ---- per-file rewrite: one task per touched file; the slice
        // routed to it is bounded by the file's own row count
        val taskOut =
          ds.join(probe, Seq("_graft_k"), "inner")
            .groupByKey((r: Row) => r.getString(2 + nFields))(
              Encoders.STRING)
            .flatMapGroups { (fname: String, rows: Iterator[Row]) =>
              val meta = bMeta.value(fname)
              val upd = scala.collection.mutable
                .HashMap.empty[Long, Array[Any]]
              val del = scala.collection.mutable.HashSet.empty[Long]
              rows.foreach { r =>
                val k = r.getLong(0)
                r.getString(1) match {
                  case "d" => del.add(k): Unit
                  case "i" => () // NOT-MATCHED-only arm: a matched
                  // key takes no action (SQL INSERT semantics)
                  case _ => // u / ui: replace every occurrence
                    val vals: Array[Any] = bOrder.value.map(fi =>
                      graft.plans.LakeMergeSql.boxed(r, 2 + fi,
                        bTypes.value(fi)))
                    upd.put(k, vals): Unit
                }
              }
              // bounded, collision-proof tag (review r15 pass 2: the
              // sanitized FULL path compounded across merge
              // generations until filenames hit the 255-byte limit):
              // a truncated basename for debuggability + a SHA-1
              // prefix of the full path for uniqueness
              val baseName = fname.substring(fname.lastIndexOf('/') + 1)
              val sha = java.security.MessageDigest
                .getInstance("SHA-1")
                .digest(fname.getBytes("UTF-8"))
                .take(8).map("%02x".format(_)).mkString
              val tag = baseName.replaceAll("[^A-Za-z0-9_-]", "_")
                .take(24) + "-" + sha
              val t = rewriteOneFile(meta, upd, del, keyPhysV, dvThr,
                rootV, run, tag)
              Iterator.single(MergeTaskOut(0, t._1, t._2, t._3, t._4,
                t._5, t._6, t._7.size.toLong, t._8, t._9, t._10,
                t._11, t._12, t._13, 0L)) ++
                t._7.iterator.map(k => MergeTaskOut(1, 0, "", "", 0L,
                  0L, 0L, 0L, 0L, "", 0L, Seq.empty, "", 0L, k))
            }(Encoders.product[MergeTaskOut])
            .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val metas = taskOut.filter(_.kind == 0).collect()
          // exact distinct matched count, aggregated distributedly
          val matchedCnt = taskOut.filter(_.kind == 1)
            .select(col("key")).distinct().count()
          // ---- inserts: unmatched i/ui rows → key-ordered files,
          // written executor-side, bounded rows per file
          val insDf =
            ds.join(probe.select(col("_graft_k")).distinct(),
                Seq("_graft_k"), "left_anti")
              .where(col("_graft_op").isin("i", "ui"))
              .select((col("_graft_k") +:
                schema.fieldNames.map(col).toSeq): _*)
          // zero insert ops (counted in the validation pass): skip the
          // anti-join count and the write pass outright (r17)
          val nIns = if (nInsOps == 0L) 0L else insDf.count()
          val bLeaves = spark.sparkContext.broadcast(
            schemaLeaves.toArray)
          val insMetas: Array[InsertMeta] =
            if (nIns == 0L) Array.empty
            else {
              val nf = math.max(1L,
                (nIns + insertRowsPerFile - 1) / insertRowsPerFile).toInt
              insDf.repartitionByRange(nf, col("_graft_k"))
                .sortWithinPartitions(col("_graft_k"))
                .mapPartitions { (it: Iterator[Row]) =>
                  val rows = it.toArray
                  if (rows.isEmpty) Iterator.empty
                  else {
                    val pid = org.apache.spark.TaskContext
                      .get().partitionId()
                    val cols2: Seq[ParquetWrite.Col] =
                      bLeaves.value.toSeq.zipWithIndex.map {
                        case (lf, li) =>
                          val fi = bOrder.value(li)
                          buildCol(templateOf(lf), rows.map(r =>
                            graft.plans.LakeMergeSql.boxed(r, 1 + fi,
                              bTypes.value(fi)).asInstanceOf[AnyRef]))
                      }
                    val out = ParquetWrite.writeFile(cols2,
                      rowsPerGroup = 1024)
                    val p = s"$rootV/data/merge-$run-insert-$pid.parquet"
                    java.nio.file.Files.write(
                      java.nio.file.Paths.get(p), out): Unit
                    val cdcCols = cols2 :+ ParquetWrite.StrCol(
                      "_change_type",
                      Array.fill(rows.length)("insert"))
                    val cb = ParquetWrite.writeFile(cdcCols,
                      rowsPerGroup = 1024)
                    val cp = s"$rootV/data/cdc-$run-insert-$pid.parquet"
                    java.nio.file.Files.write(
                      java.nio.file.Paths.get(cp), cb): Unit
                    Iterator.single((p, rows.length.toLong,
                      rows.head.getLong(0), rows.last.getLong(0), cp,
                      cstatsOfCols(cols2)))
                  }
                }(Encoders.product[InsertMeta])
                .collect() // O(insert files) — metadata
            }
          if (metas.isEmpty && insMetas.isEmpty)
            return MergeResult(0, 0L, 0L, -1L)
          val liveByPath = touched.map(f => f.path -> f).toMap
          val stampKey = keyCol == "doc_id"
          // ONE renderer shared with the broadcast path (r15 review
          // — the digest-identity law depends on it)
          val (lines, writtenPaths) = mergeCommitLines(
            metas.toSeq.map(m => RewriteMeta(m.mode, m.oldPath,
              m.newPath, m.rows, m.minKey, m.maxKey, m.fileMatched,
              m.cdcPath, m.cdcRows, m.cstats, m.dvPath,
              m.dvDead)),
            insMetas.toSeq, liveByPath, stampKey)
          if (lines.isEmpty) return MergeResult(0, 0L, 0L, -1L)
          // read-set validation over EVERY touched candidate (the
          // broadcast path's contract): a concurrently-removed file
          // must abort even when this merge only DV'd or skipped it
          val ver = commitMaintenance(root,
            metas.map(_.oldPath).toSeq,
            lines :+ TxLog.commitInfoLine("MERGE"), writtenPaths)
          MergeResult(metas.count(_.mode != 3), matchedCnt, nIns, ver,
            metas.map(_.deletedRows).sum)
        } finally taskOut.unpersist(false): Unit
      } finally if (!hinted) probe.unpersist(false): Unit
    } finally ds.unpersist(false): Unit
  }

  final case class RestoreResult(restoredVersion: Long, removed: Int,
      readded: Int, version: Long)

  /** RESTORE TABLE (r15 — Delta's `RESTORE TABLE t TO VERSION AS OF
    * n`, the r14 verdict's #4 ask): re-commit version `target`'s live
    * set as the NEW HEAD — one commit of remove(current \ target) +
    * re-add(target's files, stats and deletion vectors carried,
    * dataChange=true so a streaming tail sees the restored rows) +
    * the target's metaData action when the schema evolved since (a
    * restore undoes ADD/RENAME/DROP COLUMN too, Delta's rule). Time
    * travel across the restore stays intact — history only ever
    * grows. Fails loudly when the target is behind the log-expiry
    * horizon (the resolvers refuse) or when vacuum has reclaimed any
    * needed file (Delta's missing-file rule) — never a partial
    * restore. Pure metadata otherwise: zero data files touched.
    * Exactly one of `version` / `timestampMs` must be given. */
  def restore(spark: SparkSession, root: String, version: Long = -1L,
      timestampMs: Long = -1L): RestoreResult = {
    TxLog.checkProtocolWrite(s"$root/log", s"$root/ckpt")
    require((version >= 0) != (timestampMs >= 0),
      "restore takes exactly one of version / timestamp")
    val target =
      if (version >= 0) version
      else TxLog.versionAtTime(s"$root/log", timestampMs).getOrElse(
        throw new IllegalArgumentException(
          s"restore: no commit at or before timestamp $timestampMs"))
    val head = TxLog.nextVersion(s"$root/log", s"$root/ckpt") - 1
    require(target <= head,
      s"restore: version $target is ahead of the head $head")
    if (target == head) return RestoreResult(target, 0, 0, -1L)
    val want = TxLog.resolveLiveLocal(s"$root/log", s"$root/ckpt",
      target)
    (want.map(_.path) ++ want.flatMap(_.dvPath)).foreach { p =>
      require(new java.io.File(p).isFile,
        s"restore to version $target needs $p, which vacuum has " +
          "reclaimed — the snapshot is no longer restorable")
    }
    val cur = TxLog.resolveLiveLocal(s"$root/log", s"$root/ckpt", -1L)
    val curBy = cur.map(f => f.path -> f).toMap
    val wantBy = want.map(f => f.path -> f).toMap
    val removes = cur.filterNot(f => wantBy.contains(f.path))
    // re-add files not currently live, or live with a DIFFERENT state
    // (a later deletion vector must roll back too)
    val readds = want.filter(f => curBy.get(f.path) match {
      case None => true
      case Some(c) => c.dvPath != f.dvPath || c.dvRows != f.dvRows ||
        c.size != f.size
    })
    // schema rollback: the restored snapshot's metaData wins again; a
    // target that PREDATES any metaData action (the pre-evolution
    // contract: the files are the schema authority) gets one derived
    // from its files' footers, so a later ADD/RENAME/DROP COLUMN
    // rolls back too
    val metaLine: Option[String] = {
      val was = TxLog.latestMetaDataFast(s"$root/log", s"$root/ckpt",
        target)
      val now = TxLog.latestMetaDataFast(s"$root/log", s"$root/ckpt",
        -1L)
      if (was == now) None
      else was.orElse {
        want.headOption.map { f =>
          ParquetFile.parseFooterMeta(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(f.path))).leaves
            .map(graft.sources.LakeSource.fieldOf)
            .map(fd => TxLog.MetaCol(fd.name,
              graft.sources.LakeSource.nameOf(fd.dataType),
              fd.nullable))
        }
      }.map(TxLog.metaDataLine)
    }
    if (removes.isEmpty && readds.isEmpty && metaLine.isEmpty)
      return RestoreResult(target, 0, 0, -1L)
    val lines =
      removes.map(f =>
        s"""{"remove":{"path":"${TxLog.requireJsonSafe(f.path)}"}}""") ++
      readds.map(f => TxLog.renderAdd(f, f.dvPath, f.dvRows,
        Some(true))) ++
      metaLine.toSeq :+
      TxLog.commitInfoLine("RESTORE")
    val v = commitMaintenance(root, removes.map(_.path).toSeq,
      lines.toSeq, Seq.empty)
    RestoreResult(target, removes.size, readds.size, v)
  }

  final case class CloneResult(sourceVersion: Long, files: Int,
      version: Long)

  /** SHALLOW CLONE (r15 — Delta's `CREATE TABLE … SHALLOW CLONE`):
    * materialize a NEW table at `dstRoot` whose version-0 commit
    * references the SOURCE's live data files (stats and deletion
    * vectors carried), plus the source's schema (metaData — derived
    * from footers for a pre-evolution source), CHECK constraints and
    * protocol; the table-props sidecar (statsCol / partitionBy
    * contracts) copies along. ZERO data files copy — the clone is one
    * metadata commit, at any table size.
    *
    * The clone then evolves INDEPENDENTLY: appends, merges,
    * compaction and z-order write under the clone's own `data/` dir
    * and tombstone the referenced source files out of the clone's log
    * without ever touching them on disk; the clone's VACUUM only
    * sweeps `dstRoot/data`, so source files are structurally safe
    * from it. The documented Delta hazard carries over: VACUUM or
    * log-expiry on the SOURCE can reclaim files the clone still
    * references — clones are sandboxes, not backups. */
  def cloneTable(spark: SparkSession, srcRoot: String,
      dstRoot: String): CloneResult = {
    TxLog.checkProtocolRead(s"$srcRoot/log", s"$srcRoot/ckpt", -1L)
    val srcV = TxLog.nextVersion(s"$srcRoot/log", s"$srcRoot/ckpt") - 1
    require(srcV >= 0, s"clone source $srcRoot has no commits")
    require(!new java.io.File(s"$dstRoot/log").isDirectory &&
        TxLog.readPointer(s"$dstRoot/ckpt").isEmpty,
      s"clone target $dstRoot already holds a table")
    val live = TxLog.resolveLiveLocal(s"$srcRoot/log",
      s"$srcRoot/ckpt", srcV)
    val cols = TxLog.latestMetaDataFast(s"$srcRoot/log",
        s"$srcRoot/ckpt", srcV)
      .orElse(live.headOption.map { f =>
        ParquetFile.parseFooterMeta(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(f.path))).leaves
          .map(graft.sources.LakeSource.fieldOf)
          .map(fd => TxLog.MetaCol(fd.name,
            graft.sources.LakeSource.nameOf(fd.dataType), fd.nullable))
      })
      .getOrElse(throw new IllegalArgumentException(
        s"clone source $srcRoot is empty and carries no schema"))
    val cons = TxLog.activeConstraintsFast(s"$srcRoot/log",
      s"$srcRoot/ckpt", srcV)
    val proto = TxLog.latestProtocolFast(s"$srcRoot/log",
      s"$srcRoot/ckpt", srcV)
    new java.io.File(s"$dstRoot/data").mkdirs(): Unit
    val lines =
      Seq(TxLog.metaDataLine(cols)) ++
      proto.map(TxLog.protocolLine).toSeq ++
      cons.map(TxLog.constraintLine) ++
      live.map(f => TxLog.renderAdd(f, f.dvPath, f.dvRows, None)) :+
      TxLog.commitInfoLine("CLONE")
    try TxLog.commitVersion(s"$dstRoot/log", 0L, lines)
    catch {
      case e: TxLog.CommitCollisionException =>
        throw new IllegalStateException(
          s"clone target $dstRoot was created concurrently", e)
    }
    val p = new java.io.File(s"$srcRoot/props.json")
    if (p.isFile)
      java.nio.file.Files.copy(p.toPath,
        java.nio.file.Paths.get(s"$dstRoot/props.json"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    CloneResult(srcV, live.size, 0L)
  }

  final case class ConvertResult(files: Int, rows: Long, version: Long)

  /** CONVERT in place (r15 — Delta's `CONVERT TO DELTA`): register an
    * EXISTING directory of parquet files as a lake table without
    * rewriting a byte. Every `*.parquet` under `root/data` is
    * footer-parsed on an executor — schema compatibility checked
    * against the reader's surface, per-column `cstats` and the
    * statsCol key window measured from the footers' own row-group
    * stats — and ONE version-0 commit registers the adds plus the
    * footer-derived metaData. From then on the table is a full lake
    * citizen: time travel, MERGE, OVERWRITE, RESTORE, streaming.
    * Fails loudly (committing nothing) if any file's schema diverges
    * from the first file's, uses an unsupported shape, or an
    * unsupported codec (the reader's surface is uncompressed /
    * snappy / gzip — Spark 4's zstd DEFAULT must be overridden with
    * `option("compression", "snappy")` at write time). */
  def convert(spark: SparkSession, root: String,
      statsCol: String = "doc_id"): ConvertResult = {
    require(!new java.io.File(s"$root/log").isDirectory &&
        TxLog.readPointer(s"$root/ckpt").isEmpty,
      s"convert target $root already holds a table log")
    val files = Option(new java.io.File(s"$root/data").listFiles())
      .toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted
    require(files.nonEmpty, s"convert: no parquet files under " +
      s"$root/data")
    // footer work runs executor-side: one task per file, metadata
    // back — the 100 TB convert is a parallel footer sweep, zero
    // data movement (Delta's convert has the same shape)
    val statsColV = statsCol
    val metas: Array[(String, Long, Long, Long, Boolean, String,
        String)] = spark.sparkContext
      .parallelize(files, math.min(files.size, 64))
      .map { p =>
        val bytes = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p))
        val meta = ParquetFile.parseFooterMeta(bytes)
        // schema-surface check: every leaf must be readable
        meta.leaves.foreach(graft.sources.LakeSource.fieldOf)
        val rows = meta.rowGroups.map(_.numRows).sum
        val st = ParquetFile.parse(0L, bytes)
          .filter(r => r.valid && r.has_stats &&
            r.col_path == statsColV)
        val (mn, mx, hasKey) =
          if (st.isEmpty) (0L, 0L, false)
          else (st.map(_.min_long).min, st.map(_.max_long).max, true)
        // leaf signature for cross-file schema agreement
        val sig = meta.leaves.map(l =>
          s"${l.path}:${l.ptype}:${l.maxDef}:${l.maxRep}")
          .mkString(";")
        (p, rows, mn, mx, hasKey, sig, "")
      }
      .collect()
    val sig0 = metas.head._6
    metas.find(_._6 != sig0).foreach { m =>
      throw new IllegalArgumentException(
        s"convert: ${m._1} has a different schema than " +
          s"${metas.head._1} — a lake table is one schema")
    }
    val cols = ParquetFile.parseFooterMeta(
        java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(metas.head._1))).leaves
      .map(graft.sources.LakeSource.fieldOf)
      .map(fd => TxLog.MetaCol(fd.name,
        graft.sources.LakeSource.nameOf(fd.dataType), fd.nullable))
    val lines =
      Seq(TxLog.metaDataLine(cols)) ++
      metas.toSeq.map { case (p, rows, mn, mx, hasKey, _, _) =>
        TxLog.renderAdd(TxLog.LiveFile(p, 0L, rows,
          Option.when(hasKey)(mn), Option.when(hasKey)(mx)), None, 0L, None)
      } :+
      TxLog.commitInfoLine("CONVERT")
    try TxLog.commitVersion(s"$root/log", 0L, lines)
    catch {
      case e: TxLog.CommitCollisionException =>
        throw new IllegalStateException(
          s"convert target $root was created concurrently", e)
    }
    ConvertResult(metas.length, metas.map(_._2).sum, 0L)
  }

  final case class ExpireResult(deletedVersions: Int, horizon: Long)

  /** LOG EXPIRY (r13 — Delta's log retention; before this the commit
    * history only ever grew): physically delete commit-version
    * directories strictly OLDER than both the last `keepVersions`
    * commits and the pointer checkpoint. The pointer checkpoint must
    * be FORMAT 2 (it carries the folded file/schema/txn state —
    * [[TxLog.writeCheckpoint]]), so resolution, schema lookup and
    * the streaming sink's epoch fence all survive the truncation.
    *
    * What expires with the history (the Delta trade, documented):
    * time travel behind the surviving coverage now FAILS LOUDLY at
    * resolution (never a silently partial replay — the resolvers
    * refuse a checkpoint-less replay that cannot start at version 0),
    * and the row-level change feed of expired versions is gone. Run
    * VACUUM first: it resolves historical snapshots that expiry
    * removes. */
  def expireLog(root: String, keepVersions: Int): ExpireResult = {
    require(keepVersions >= 0, "keepVersions must be >= 0")
    TxLog.checkProtocolWrite(s"$root/log", s"$root/ckpt")
    val ptr = TxLog.readPointer(s"$root/ckpt").getOrElse(
      throw new IllegalStateException(
        s"expireLog needs a checkpoint under $root/ckpt"))
    require(TxLog.isCheckpointV2(s"$root/ckpt", ptr),
      "expireLog needs a format-2 checkpoint (re-run " +
        "TxLog.writeCheckpoint at the pointer first)")
    val versions = TxLog.commitVersions(s"$root/log")
    if (versions.isEmpty) return ExpireResult(0, -1L)
    val horizon = math.min(versions.max - keepVersions + 1, ptr + 1)
    val del = versions.filter(_ < horizon)
    del.foreach { v =>
      // hide the commit ATOMICALLY before deleting it (ADVICE r14):
      // deleting the files inside version=N first left a window where
      // a concurrent reader listed a still-present-but-emptied
      // version=0 dir — the min>0 expiry guard then did not fire and
      // resolution silently yielded a partial snapshot. One rename to
      // a dot-prefixed temp (invisible to listVersions, mirroring the
      // commit publish protocol) makes the commit vanish in one step;
      // the guard then fails loudly, as designed.
      val dir = new java.io.File(s"$root/log/version=$v")
      val tmp = new java.io.File(s"$root/log",
        s".expired-$v-${java.util.UUID.randomUUID().toString.take(8)}")
      try
        java.nio.file.Files.move(dir.toPath, tmp.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
      catch {
        case _: java.nio.file.NoSuchFileException => () // already gone
      }
      Option(tmp.listFiles()).toSeq.flatten.foreach(f =>
        f.delete(): Unit)
      tmp.delete(): Unit
    }
    ExpireResult(del.size, horizon)
  }

  final case class VacuumResult(deleted: Int, retainedFiles: Int)

  /** VACUUM: physically delete data files not referenced by ANY
    * snapshot within the retention window (the last
    * `retainVersions + 1` commit versions). Compaction/remove
    * tombstones make files unreferenced; vacuum is what reclaims
    * them — and it also sweeps ORPHANS (files in `data/` the log
    * never learned about: crashed writers' leftovers). After a
    * vacuum, `asOf` time travel BEHIND the horizon is gone — the
    * Delta trade, documented.
    *
    * The orphan sweep carries a MODIFICATION-TIME grace window
    * (`graceMs`, ADVICE r11): an in-flight append's data files exist
    * on disk BEFORE the driver commits the log version that
    * references them, so no `retainVersions` value can protect them —
    * they are referenced by NO version yet. Files younger than
    * `graceMs` are skipped, exactly Delta's modification-time
    * retention; tests that synthesize "old" orphans pass 0
    * explicitly, accepting that no writer is concurrently in flight.
    *
    * 100 TB shape: pure log metadata + a directory listing; the only
    * data-file I/O is the deletes themselves. */
  def vacuum(root: String, retainVersions: Int,
      graceMs: Long = 10L * 60L * 1000L): VacuumResult = {
    require(retainVersions >= 0, "retainVersions must be >= 0")
    TxLog.checkProtocolWrite(s"$root/log", s"$root/ckpt")
    require(graceMs >= 0, "graceMs must be >= 0")
    val versions = TxLog.commitVersions(s"$root/log")
    if (versions.isEmpty) return VacuumResult(0, 0)
    val horizon = versions.max - retainVersions
    val within = versions.filter(_ >= horizon)
    val keep: Set[String] = (within.flatMap(v =>
        TxLog.resolveLiveLocal(s"$root/log", s"$root/ckpt", v)
          // DV sidecars (r14) are referenced BY the adds, not adds
          // themselves — they live exactly as long as their file's
          // in-window snapshots
          .flatMap(f => f.path +: f.dvPath.toSeq)) ++
      // CDC sidecars of in-window versions stay readable (r13); ones
      // behind the horizon go with their snapshots — the Delta trade
      TxLog.cdcInVersions(s"$root/log", within).map(_.path))
      .toSet
    val dataDir = new java.io.File(s"$root/data")
    val onDisk = Option(dataDir.listFiles()).toSeq.flatten
      .filter(_.isFile)
    var deleted = 0
    val cutoff = System.currentTimeMillis() - graceMs
    onDisk.foreach { f =>
      if (!keep.contains(f.getAbsolutePath) &&
          !keep.contains(f.getPath) && f.lastModified() <= cutoff) {
        if (f.delete()) deleted += 1
      }
    }
    VacuumResult(deleted, keep.size)
  }
}
