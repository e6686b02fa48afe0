package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Transaction-log CHECKPOINTING for the lakehouse table-format layer
  * (r11, the r10 verdict's #1 ask).
  *
  * The q212/q213 resolver replays EVERY commit file to resolve a
  * snapshot — correct, but the replay cost grows linearly with table
  * HISTORY (10⁴–10⁶ commits on a real table), not table size. Every
  * production log format (Delta, Iceberg, Hudi) solves this with a
  * periodic CHECKPOINT: a compacted per-path state file written at every
  * Nth version plus a `_last_checkpoint` pointer, so resolution reads
  * O(1) metadata files — the pointer, one checkpoint, and the commit
  * TAIL since it — regardless of how long the table has lived.
  *
  * Layout (all REAL files on disk, mirroring the commit-log shape):
  * {{{
  *   log/version=N/…            one JSON-lines action file per commit
  *   ckpt/version=C/…           compacted state as of C (JSON lines)
  *   ckpt/_last_checkpoint      {"version":C} — the O(1) entry point
  * }}}
  *
  * A checkpoint row is the per-path LATEST action ≤ C — adds with their
  * size AND remove tombstones (dropping tombstones would let a pre-C
  * add "resurrect" through a later checkpoint-free read; Delta keeps
  * them for exactly this reason). Resolution folds
  * `checkpoint ∪ tail-commits` with the same latest-wins rule as full
  * replay, so checkpointed resolution is bit-identical by construction —
  * and the q217 gate pins it against the full-replay oracle.
  *
  * 100 TB shape: the state is O(live files + tombstones), tiny next to
  * the data; the fold is ONE path-keyed exchange. The driver-side
  * directory listing is a log-METADATA operation bounded by history
  * (and, after the pointer, by the checkpoint cadence) — the same
  * listing every lakehouse reader performs on `_delta_log/`.
  */
object TxLog {

  /** Parse raw action lines (`version`, `value` JSON) into the normalized
    * action frame: (version, path, is_add, add_size, key stats,
    * string-key stats, partition value, per-column stats, deletion
    * vector). `cstats` rides as the RAW JSON-array substring (the
    * no-escape subset — it re-splices verbatim into checkpoint
    * lines). */
  def parseActions(log: DataFrame): DataFrame =
    log.select(col("version"),
        get_json_object(col("value"), "$.add.path").as("add_path"),
        get_json_object(col("value"), "$.add.size").cast("long")
          .as("add_size"),
        get_json_object(col("value"), "$.add.min_key").cast("long")
          .as("min_key"),
        get_json_object(col("value"), "$.add.max_key").cast("long")
          .as("max_key"),
        get_json_object(col("value"), "$.add.min_skey").as("min_skey"),
        get_json_object(col("value"), "$.add.max_skey").as("max_skey"),
        get_json_object(col("value"), "$.add.part").as("part"),
        get_json_object(col("value"), "$.add.cstats").as("cstats"),
        get_json_object(col("value"), "$.add.dv").as("dv"),
        get_json_object(col("value"), "$.add.dv_rows").cast("long")
          .as("dv_rows"),
        get_json_object(col("value"), "$.remove.path").as("rm_path"))
      .select(col("version"),
        coalesce(col("add_path"), col("rm_path")).as("path"),
        col("add_path").isNotNull.as("is_add"),
        col("add_size"), col("min_key"), col("max_key"),
        col("min_skey"), col("max_skey"), col("part"),
        col("cstats"), col("dv"), col("dv_rows"))
      // non-file actions (the streaming sink's txn fence lines) carry
      // no path and do not participate in file-state resolution
      .where(col("path").isNotNull)

  /** The protocol's resolution rule: per path the highest-version action
    * wins; tombstones are KEPT (callers filter `is_add` for the live
    * set). One path-keyed exchange. The fold is associative over any
    * partition of the action set — which is what makes both the
    * checkpoint ∪ tail union and the streaming micro-batch fold
    * ([[foldState]]) bit-identical to full replay. Two actions for the
    * SAME path in the SAME version are writer error (every commit
    * writer in this engine emits at most one action per path per
    * version); the fold does not define an order for that case. */
  def latestWins(acts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("path")).orderBy(col("version").desc)
    acts.select(col("version"), col("path"), col("is_add"),
        col("add_size"), col("min_key"), col("max_key"),
        col("min_skey"), col("max_skey"), col("part"),
        col("cstats"), col("dv"), col("dv_rows"))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
  }

  /** Incremental state fold (the streaming-tail arm, q218): merge a new
    * slice of actions into a previously compacted state. Both sides are
    * (version, path, is_add, add_size); latest-wins is associative, so
    * folding slice-by-slice equals one full replay regardless of how the
    * file source batched the commits. */
  def foldState(prev: DataFrame, slice: DataFrame): DataFrame =
    latestWins(prev.unionByName(parseActionsIfRaw(slice)))

  private def parseActionsIfRaw(df: DataFrame): DataFrame =
    if (df.columns.contains("value")) parseActions(df) else df

  private def listVersions(dir: String): Seq[Long] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("version="))
      .map(_.stripPrefix("version=").toLong).sorted

  private def readCommitDirs(s: SparkSession, logBase: String,
      versions: Seq[Long]): DataFrame = {
    val paths = versions.map(v => s"$logBase/version=$v")
    parseActions(s.read.text(paths: _*)
      .withColumn("version", regexp_extract(input_file_name(),
        "version=(\\d+)", 1).cast("long")))
  }

  /** Write the checkpoint at version `v`: fold `previous checkpoint ∪
    * commit tail` (bit-identical to full replay by latest-wins
    * associativity — and what makes checkpointing work after LOG
    * EXPIRY has deleted pre-checkpoint commit files) and persist the
    * compacted state (adds + tombstones) as JSON lines under
    * `ckptBase/version=v`, then advance the `_last_checkpoint`
    * pointer.
    *
    * r13 — the checkpoint also FOLDS NON-FILE STATE (the production
    * formats' trick that keeps every planning read O(cadence)):
    *  - `{"ckptFormat":2}` — the format marker readers trust;
    *  - `{"metaState":{"cols":[…]}}` — the latest schema ≤ v (empty
    *    cols = the table had no metaData action yet);
    *  - one `{"txnState":{"app":…,"epoch":…}}` per streaming-sink app
    *    — the highest epoch fenced ≤ v.
    * [[latestMetaDataFast]] / [[latestTxnFast]] then read pointer +
    * one checkpoint + the tail instead of scanning the whole log. */
  def writeCheckpoint(s: SparkSession, logBase: String, ckptBase: String,
      v: Long, parts: Int = 1): Unit = {
    require(parts >= 1, s"checkpoint parts must be >= 1, got $parts")
    require(listVersions(logBase).exists(_ <= v) ||
        listVersions(ckptBase).exists(_ <= v),
      s"nothing to checkpoint at $v under $logBase")
    // extras fold BEFORE the state write creates ckpt/version=v (the
    // fast lookups must see the PREVIOUS checkpoint, not a half-built
    // new one); resolve() also lists checkpoints eagerly here
    val meta = latestMetaDataFast(logBase, ckptBase, v)
      .getOrElse(Seq.empty)
    val txns = txnStatesFast(logBase, ckptBase, v)
    val cons = activeConstraintsFast(logBase, ckptBase, v)
    val proto = latestProtocolFast(logBase, ckptBase, v)
    val state = resolve(s, logBase, ckptBase, v).state
    // MULTI-PART checkpoints (r14 — Delta's multi-part checkpoint +
    // _last_checkpoint manifest): the state write fans out over
    // `parts` files so a 10⁸-live-file table neither funnels the
    // write through one task nor hands readers one huge file. The
    // whole checkpoint is staged in a dot-temp dir and PUBLISHED BY
    // ONE RENAME (the commit publish protocol): a crashed checkpoint
    // leaves only an invisible temp, never a half-written version=C
    // that time travel could pick up. The actual part count is
    // recorded as a `ckptParts` manifest line INSIDE the dir, so
    // every reader — not just the pointer's — can verify
    // completeness.
    val tmp = new java.io.File(ckptBase,
      s".tmp-ckpt-$v-${java.util.UUID.randomUUID().toString.take(8)}")
    // the state line is CONCAT-built, not to_json: the cstats field is
    // a raw JSON-array substring (no-escape subset) that must splice
    // verbatim — to_json would escape its quotes and the driver-side
    // regex parsers would misread it. Null fields are omitted, like
    // to_json's behavior before r14.
    def optNum(c: String): Column = coalesce(
      concat(lit(s""","$c":"""), col(c).cast("string")), lit(""))
    def optStr(c: String): Column = coalesce(
      concat(lit(s""","$c":""""), col(c), lit("\"")), lit(""))
    state.select(concat(
        lit("""{"state":{"path":""""), col("path"),
        lit("\",\"version\":"), col("version").cast("string"),
        lit(""","is_add":"""), col("is_add").cast("string"),
        optNum("add_size"), optNum("min_key"), optNum("max_key"),
        optStr("min_skey"), optStr("max_skey"), optStr("part"),
        optStr("dv"), optNum("dv_rows"),
        coalesce(concat(lit(""","cstats":"""), col("cstats")), lit("")),
        lit("}}")).as("value"))
      .repartition(parts)
      .write.mode("overwrite").text(tmp.getAbsolutePath)
    val nParts = Option(tmp.listFiles()).toSeq.flatten
      .count(f => f.isFile && f.getName.startsWith("part-"))
    val extras = Seq("""{"ckptFormat":2}""",
        s"""{"ckptParts":$nParts}""", metaStateLine(meta)) ++
      proto.map(p => protoStateLine(p)).toSeq ++
      txns.toSeq.sortBy(_._1).map { case (app, e) =>
        s"""{"txnState":{"app":"${requireJsonSafe(app)}","epoch":$e}}"""
      } ++
      cons.map(c =>
        s"""{"consState":{"name":"${requireJsonSafe(c.name)}",""" +
          s""""expr":"${requireJsonSafe(c.expr)}"}}""")
    java.nio.file.Files.write(
      new java.io.File(tmp, "zz-extras.json").toPath,
      extras.mkString("\n").getBytes("UTF-8")): Unit
    val target = new java.io.File(ckptBase, s"version=$v")
    if (target.exists()) { // re-checkpoint at the same version replaces
      Option(target.listFiles()).toSeq.flatten.foreach(f =>
        f.delete(): Unit)
      target.delete(): Unit
    }
    java.nio.file.Files.move(tmp.toPath, target.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
    writePointer(ckptBase, v)
  }

  /** Verify a checkpoint's multi-part manifest (r14): when the dir
    * carries a `ckptParts` line, the state part files present must
    * match it — a torn checkpoint (a part lost to manual tampering or
    * a non-atomic copy) must fail loudly, never resolve a partial
    * live set. Checkpoints without the manifest (pre-r14) pass. */
  private def requireCkptComplete(ckptBase: String, cv: Long): Unit = {
    // only the dedicated extras file can carry the manifest — never
    // fall back to reading the whole (possibly multi-GB) state dir
    // just to find a line that cannot exist there (review r14)
    val ef = new java.io.File(s"$ckptBase/version=$cv/zz-extras.json")
    if (!ef.isFile) return // pre-r14 checkpoint: no manifest
    val declared = scala.jdk.CollectionConverters
      .ListHasAsScala(java.nio.file.Files.readAllLines(ef.toPath))
      .asScala.toSeq
      .filter(_.contains("\"ckptParts\":"))
      .flatMap(l => jLong(l, "ckptParts")).lastOption
    declared.foreach { d =>
      val actual = Option(
          new java.io.File(s"$ckptBase/version=$cv").listFiles())
        .toSeq.flatten
        .count(f => f.isFile && f.getName.startsWith("part-"))
      if (actual != d)
        throw new IllegalStateException(
          s"checkpoint $ckptBase/version=$cv is incomplete: " +
            s"$actual of $d state parts present")
    }
  }

  /** Advance the `_last_checkpoint` pointer (a single tiny JSON file —
    * the O(1) entry point every reader opens first). */
  def writePointer(ckptBase: String, v: Long): Unit = {
    new java.io.File(ckptBase).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$ckptBase/_last_checkpoint"),
      s"""{"version":$v}""".getBytes("UTF-8")): Unit
  }

  /** Read the `_last_checkpoint` pointer, if present. */
  def readPointer(ckptBase: String): Option[Long] = {
    val f = new java.io.File(s"$ckptBase/_last_checkpoint")
    if (!f.isFile) None
    else {
      val s = new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8")
      "\"version\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(s)
        .map(_.group(1).toLong)
    }
  }

  /** A resolved snapshot plus the file-count evidence the scale claim
    * rests on: which checkpoint was used and how many tail commits were
    * replayed (the spec pins `tailVersions.size` ≤ cadence and constant
    * as history grows). */
  final case class Resolved(state: DataFrame, ckptVersion: Option[Long],
      tailVersions: Seq[Long])

  /** Resolve the snapshot as of `asOf` (< 0 = latest) through the
    * checkpoint path: pointer → newest usable checkpoint ≤ bound →
    * commit tail → one latest-wins fold. Falls back to full replay when
    * no usable checkpoint exists (young table, or time travel to before
    * the first checkpoint) — same code path, empty checkpoint side. */
  def resolve(s: SparkSession, logBase: String, ckptBase: String,
      asOf: Long): Resolved = {
    import s.implicits._
    val emptyState =
      Seq.empty[(Long, String, Boolean, Long, Option[Long],
          Option[Long], Option[String], Option[String], Option[String],
          Option[String], Option[String], Option[Long])]
        .toDF("version", "path", "is_add", "add_size", "min_key",
          "max_key", "min_skey", "max_skey", "part", "cstats", "dv",
          "dv_rows")
    // the pointer names the newest checkpoint; time travel may need an
    // older one — the ckpt dir listing is bounded by history/cadence
    val available = listVersions(ckptBase)
    val usable =
      if (asOf < 0) readPointer(ckptBase).filter(available.contains)
      else available.filter(_ <= asOf).lastOption
    val ckptState = usable match {
      case Some(cv) =>
        requireCkptComplete(ckptBase, cv)
        s.read.text(s"$ckptBase/version=$cv")
          .select(
            get_json_object(col("value"), "$.state.path").as("path"),
            get_json_object(col("value"), "$.state.version")
              .cast("long").as("version"),
            get_json_object(col("value"), "$.state.is_add")
              .cast("boolean").as("is_add"),
            get_json_object(col("value"), "$.state.add_size")
              .cast("long").as("add_size"),
            get_json_object(col("value"), "$.state.min_key")
              .cast("long").as("min_key"),
            get_json_object(col("value"), "$.state.max_key")
              .cast("long").as("max_key"),
            get_json_object(col("value"), "$.state.min_skey")
              .as("min_skey"),
            get_json_object(col("value"), "$.state.max_skey")
              .as("max_skey"),
            get_json_object(col("value"), "$.state.part").as("part"),
            get_json_object(col("value"), "$.state.cstats").as("cstats"),
            get_json_object(col("value"), "$.state.dv").as("dv"),
            get_json_object(col("value"), "$.state.dv_rows")
              .cast("long").as("dv_rows"))
          .select(col("version"), col("path"), col("is_add"),
            col("add_size"), col("min_key"), col("max_key"),
            col("min_skey"), col("max_skey"), col("part"),
            col("cstats"), col("dv"), col("dv_rows"))
          // v2 checkpoints carry non-file extras lines (metaState,
          // txnState, format marker) — no $.state.path, drop them
          .where(col("path").isNotNull)
      case None => emptyState
    }
    val allVs = listVersions(logBase)
    // log expiry (r13): with no usable checkpoint, a replay is only
    // sound when it can start at version 0 — refuse a tail that
    // starts later AND an empty tail on a table whose checkpoints
    // prove history existed (review follow-up: the empty-tail case
    // silently resolved an EMPTY snapshot)
    if (usable.isEmpty &&
        ((allVs.nonEmpty && allVs.min > 0) ||
          (allVs.isEmpty && listVersions(ckptBase).nonEmpty)))
      throw new IllegalStateException(
        s"history has been expired and no checkpoint covers " +
          s"asOf=$asOf")
    val tail = allVs
      .filter(v => usable.forall(v > _))
      .filter(v => asOf < 0 || v <= asOf)
    val tailActs =
      if (tail.isEmpty) emptyState
      else readCommitDirs(s, logBase, tail)
    Resolved(latestWins(ckptState.unionByName(tailActs)), usable, tail)
  }

  /** The STREAMING tail arm (q218): a file source + checkpoint tails the
    * commit log incrementally (the L12/q35 machinery pointed at
    * `log/version=*`), and every micro-batch folds its slice of actions
    * into the previous compacted state and persists the result — i.e.
    * each batch WRITES a checkpoint, which is exactly how a production
    * log keeps `_last_checkpoint` fresh. Latest-wins is associative, so
    * the final state is bit-identical to full replay no matter how the
    * source batched the files. Returns None when the log was empty.
    *
    * 100 TB shape: each fold is one path-keyed exchange over
    * (previous state ∪ new actions) — metadata-sized frames; the data
    * files never participate. */
  def tailOnce(s: SparkSession, logBase: String, stateBase: String,
      ckptLoc: String, filesPerTrigger: Int): Option[DataFrame] = {
    import org.apache.spark.sql.streaming.Trigger
    var lastId = -1L
    val q = s.readStream
      .option("maxFilesPerTrigger", filesPerTrigger)
      .text(s"$logBase/version=*")
      .withColumn("version", regexp_extract(input_file_name(),
        "version=(\\d+)", 1).cast("long"))
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckptLoc)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val bs = b.sparkSession
        val prev =
          if (lastId >= 0) bs.read.parquet(s"$stateBase/s=$lastId")
          else {
            import bs.implicits._
            Seq.empty[(Long, String, Boolean, Long, Option[Long],
                Option[Long], Option[String], Option[String],
                Option[String], Option[String], Option[String],
                Option[Long])]
              .toDF("version", "path", "is_add", "add_size",
                "min_key", "max_key", "min_skey", "max_skey", "part",
                "cstats", "dv", "dv_rows")
          }
        foldState(prev, b).write.mode("overwrite")
          .parquet(s"$stateBase/s=$id")
        lastId = id
      }
      .start()
    q.awaitTermination()
    if (lastId < 0) None
    else Some(s.read.parquet(s"$stateBase/s=$lastId"))
  }

  // ================================================================
  // DRIVER-SIDE resolution (the graft-lake connector's planning
  // path): the log is METADATA — pointer + one checkpoint + the
  // commit tail, bounded by cadence — so the connector reads it with
  // plain file I/O during `planInputPartitions`, exactly like a
  // production lakehouse reader resolves `_delta_log/` without
  // launching a cluster job. Parsing is scoped to OUR log writer's
  // JSON shape (no string escapes in paths).
  // ================================================================

  /** One resolved live file with its optional key-column stats (what
    * file-level pruning runs on; files without stats must scan),
    * string-key stats, partition value, `dataChange` (r12 — Delta's
    * flag: false marks a REWRITE of existing data, e.g. compaction,
    * which a change-feed consumer must not re-emit), per-column
    * stats (r14 — general data skipping), and the optional DELETION
    * VECTOR sidecar (r14 — merge-on-read deletes: `dvRows` ordinals
    * of this file's rows are dead; readers apply the DV map-side). */
  final case class LiveFile(path: String, version: Long, size: Long,
      minKey: Option[Long], maxKey: Option[Long],
      minSkey: Option[String] = None, maxSkey: Option[String] = None,
      part: Option[String] = None, dataChange: Boolean = true,
      cstats: Seq[ColStat] = Seq.empty, dvPath: Option[String] = None,
      dvRows: Long = 0L)

  /** One column's file-level statistics (r14 — Delta's per-column
    * min/max/nullCount, the general data-skipping currency). `col` is
    * the PHYSICAL column name (stats survive RENAME); `tpe` ∈ l/d/s
    * (long, double-or-float, string); an ABSENT window with a present
    * stat means the column holds ONLY nulls in this file (writers
    * DROP the whole entry — never just the window — when a value
    * cannot ride the log: >64-char strings, NaN, unsafe chars; so
    * window-absence is a pruning truth, not a degradation marker). */
  final case class ColStat(col: String, tpe: String,
      mn: Option[String], mx: Option[String], nullCount: Long)

  /** Render the `cstats` add-field (empty Seq → no field). MUST be the
    * LAST field of its object: the driver-side parser anchors on the
    * line tail. Entries failing the no-escape subset are dropped
    * whole (pruning degrades to scan, never corrupts). */
  def cstatsJson(cs: Seq[ColStat]): String = {
    // the wire encoding uses "" for an ABSENT window, so a window
    // whose actual min/max IS the empty string cannot ride — drop the
    // whole entry (review r14: round-tripping min="" as all-null
    // wrongly pruned files containing empty-string values)
    val safe = cs.filter(c => jsonSafe(c.col).isDefined &&
      c.mn.forall(v => v.nonEmpty && jsonSafe(v).isDefined) &&
      c.mx.forall(v => v.nonEmpty && jsonSafe(v).isDefined))
    if (safe.isEmpty) ""
    else safe.map { c =>
      s"""["${c.col}","${c.tpe}","${c.mn.getOrElse("")}",""" +
        s""""${c.mx.getOrElse("")}","${c.nullCount}"]"""
    }.mkString(""","cstats":[""", ",", "]")
  }

  /** Re-render a resolved live file as an `add` line, optionally with
    * a (new) deletion vector and a dataChange flag — the DV-mode
    * merge arm re-adds the UNTOUCHED file with its original stats
    * plus the sidecar reference. cstats render last (parser anchor). */
  def renderAdd(f: LiveFile, dvPath: Option[String], dvRows: Long,
      dataChange: Option[Boolean]): String = {
    val k = (f.minKey, f.maxKey) match {
      case (Some(a), Some(b)) => s""","min_key":$a,"max_key":$b"""
      case _ => ""
    }
    val sk = (f.minSkey.flatMap(jsonSafe), f.maxSkey.flatMap(jsonSafe)) match {
      case (Some(a), Some(b)) => s""","min_skey":"$a","max_skey":"$b""""
      case _ => ""
    }
    val pv = f.part.flatMap(jsonSafe)
      .map(p => s""","part":"$p"""").getOrElse("")
    val dv = dvPath.map(p =>
      s""","dv":"${requireJsonSafe(p)}","dv_rows":$dvRows""")
      .getOrElse("")
    val dc = dataChange.map(b => s""","dataChange":$b""").getOrElse("")
    s"""{"add":{"path":"${requireJsonSafe(f.path)}","size":${f.size}""" +
      s"""$k$sk$pv$dv$dc${cstatsJson(f.cstats)}}}"""
  }

  /** Parse a line's `cstats` array (greedy to the line's last `]` —
    * sound because every writer renders cstats LAST). */
  def parseCstats(line: String): Seq[ColStat] =
    "\"cstats\":\\[(.*)\\]".r.findFirstMatchIn(line)
      .map(_.group(1)).toSeq.flatMap { body =>
        """\["([^"]*)","([lds])","([^"]*)","([^"]*)","(\d+)"\]""".r
          .findAllMatchIn(body).map(m =>
            ColStat(m.group(1), m.group(2),
              Option(m.group(3)).filter(_.nonEmpty),
              Option(m.group(4)).filter(_.nonEmpty),
              m.group(5).toLong)).toSeq
      }

  private def jStr(line: String, key: String): Option[String] =
    ("\"" + key + "\":\"([^\"]*)\"").r
      .findFirstMatchIn(line).map(_.group(1))
  private def jLong(line: String, key: String): Option[Long] =
    ("\"" + key + "\":(-?\\d+)").r
      .findFirstMatchIn(line).map(_.group(1).toLong)
  private def jBool(line: String, key: String): Option[Boolean] =
    ("\"" + key + "\":(true|false)").r
      .findFirstMatchIn(line).map(_.group(1) == "true")

  private def linesUnder(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
      .sortBy(_.getName)
      .flatMap { f =>
        scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(f.toPath)).asScala
      }
      .filter(_.nonEmpty)

  /** Resolve the live-file set as of `asOf` (< 0 = latest) with plain
    * driver-side file I/O: pointer → newest usable checkpoint ≤ bound
    * → commit tail → latest-wins fold in memory (the state is
    * O(live files + tombstones)). */
  def resolveLiveLocal(logBase: String, ckptBase: String,
      asOf: Long): Seq[LiveFile] = {
    val available = listVersions(ckptBase)
    val usable =
      if (asOf < 0) readPointer(ckptBase).filter(available.contains)
      else available.filter(_ <= asOf).lastOption
    // path -> (version, isAdd, the rest of the LiveFile)
    val state = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, Boolean, LiveFile)]
    def fileOf(path: String, v: Long, line: String,
        sizeKey: String): LiveFile =
      LiveFile(path, v, jLong(line, sizeKey).getOrElse(0L),
        jLong(line, "min_key"), jLong(line, "max_key"),
        jStr(line, "min_skey"), jStr(line, "max_skey"),
        jStr(line, "part"),
        dataChange = jBool(line, "dataChange").getOrElse(true),
        cstats = parseCstats(line), dvPath = jStr(line, "dv"),
        dvRows = jLong(line, "dv_rows").getOrElse(0L))
    usable.foreach { cv =>
      requireCkptComplete(ckptBase, cv)
      // file-state lines only: v2 checkpoints also carry metaState /
      // txnState / format-marker extras
      linesUnder(s"$ckptBase/version=$cv")
        .filter(_.contains("\"state\":")).foreach { line =>
        val path = jStr(line, "path").getOrElse(
          throw new IllegalArgumentException(s"bad ckpt line: $line"))
        val v = jLong(line, "version").getOrElse(
          throw new IllegalArgumentException(s"bad ckpt line: $line"))
        val isAdd = jBool(line, "is_add").getOrElse(
          throw new IllegalArgumentException(s"bad ckpt line: $line"))
        state(path) = (v, isAdd, fileOf(path, v, line, "add_size"))
      }
    }
    val allVs = listVersions(logBase)
    // log expiry (r13): with no usable checkpoint, a replay is only
    // sound when it can start at version 0 — refuse a tail that
    // starts later AND an empty tail on a table whose checkpoints
    // prove history existed (review follow-up: the empty-tail case
    // silently resolved an EMPTY snapshot)
    if (usable.isEmpty &&
        ((allVs.nonEmpty && allVs.min > 0) ||
          (allVs.isEmpty && listVersions(ckptBase).nonEmpty)))
      throw new IllegalStateException(
        s"history has been expired and no checkpoint covers " +
          s"asOf=$asOf")
    val tail = allVs
      .filter(v => usable.forall(v > _))
      .filter(v => asOf < 0 || v <= asOf)
    tail.foreach { v => // ascending: later versions overwrite
      linesUnder(s"$logBase/version=$v")
        .filter(l => l.contains("\"add\":") || l.contains("\"remove\":"))
        .foreach { line =>
        val isAdd = line.contains("\"add\":")
        val path = jStr(line, "path").getOrElse(
          throw new IllegalArgumentException(s"bad commit line: $line"))
        val keep = state.get(path).forall(_._1 <= v)
        if (keep)
          state(path) = (v, isAdd, fileOf(path, v, line, "size"))
      }
    }
    state.iterator.collect {
      case (_, (_, true, f)) => f
    }.toSeq
  }

  /** Commit versions currently on disk (driver-side metadata listing —
    * the connector's streaming offset space). */
  def commitVersions(logBase: String): Seq[Long] = listVersions(logBase)

  /** Render a commit-provenance action (r13 — Delta's commitInfo):
    * every ENGINE write path stamps its operation name into its own
    * commit; hand-built fixture commits simply lack it. Resolution,
    * checkpoints and the streaming tail all skip the line by
    * construction (no add/remove/metaData/txn/cdc key). */
  def commitInfoLine(op: String): String =
    s"""{"commitInfo":{"op":"${requireJsonSafe(op)}"}}"""

  /** The table's commit HISTORY, driver-side (Delta's DESCRIBE
    * HISTORY): every on-disk commit version with its operation name
    * (None = a commit without provenance — pre-r13 or hand-built)
    * and the total rows its adds carried. Bounded by surviving
    * history (log expiry trims it, like Delta's). */
  def historyLocal(logBase: String): Seq[(Long, Option[String], Long)] =
    listVersions(logBase).map { v =>
      val lines = linesUnder(s"$logBase/version=$v")
      val op = lines.filter(_.contains("\"commitInfo\":"))
        .flatMap(l => jStr(l, "op")).headOption
      val rows = lines.filter(_.contains("\"add\":"))
        .flatMap(l => jLong(l, "size")).sum
      (v, op, rows)
    }

  /** Newest commit version whose directory modification time is ≤
    * `tsMillis` (r13 — Delta-style TIMESTAMP time travel: commit
    * mtimes are the timestamp authority, with the same caveats Delta
    * documents — clock skew between writers can reorder neighbors,
    * and expiry removes old versions' timestamps with them). */
  def versionAtTime(logBase: String, tsMillis: Long): Option[Long] =
    listVersions(logBase).filter { v =>
      new java.io.File(s"$logBase/version=$v")
        .lastModified() <= tsMillis
    } match {
      case Seq() => None
      case vs => Some(vs.max)
    }

  /** One schema column carried by a `metaData` action (r12 — Delta's
    * schema-in-the-log; before this, the first live file's footer was
    * the schema authority and ADD COLUMN was impossible). `phys` is
    * the COLUMN-MAPPING physical name (r13 — Delta's column mapping:
    * what the parquet leaves are actually called); empty = same as
    * the logical name (the pre-mapping wire shape, kept so r12 logs
    * parse unchanged). RENAME changes `name` and keeps `phys`; a
    * re-ADD after DROP mints a fresh `phys` so dropped data can
    * never resurrect. */
  final case class MetaCol(name: String, tpe: String,
      nullable: Boolean, phys: String = "") {
    def physName: String = if (phys.isEmpty) name else phys
  }

  /** Latest `{"metaData":{"cols":[{"name":…,"type":…,"nullable":…}]}}`
    * action at or before `asOf` (< 0 = latest). Driver-side metadata
    * scan over commit files (which are never deleted — vacuum touches
    * only data/); None = pre-evolution table, schema from file
    * footers. */
  def latestMetaData(logBase: String, asOf: Long): Option[Seq[MetaCol]] = {
    val vs = listVersions(logBase).filter(v => asOf < 0 || v <= asOf)
    vs.sorted.reverse.iterator.flatMap { v =>
      linesUnder(s"$logBase/version=$v")
        .filter(_.contains("\"metaData\":")).reverseIterator
    }.nextOption().map(parseMetaCols)
  }

  private[graft] def parseMetaCols(line: String): Seq[MetaCol] =
    ("""\{"name":"([^"]+)","type":"([^"]+)","nullable":(true|false)""" +
      """(?:,"phys":"([^"]+)")?\}""").r
      .findAllMatchIn(line)
      .map(m => MetaCol(m.group(1), m.group(2), m.group(3) == "true",
        Option(m.group(4)).getOrElse("")))
      .toSeq

  private def colsBody(cols: Seq[MetaCol]): String =
    cols.map { c =>
      val physPart =
        if (c.phys.isEmpty || c.phys == c.name) ""
        else s""","phys":"${requireJsonSafe(c.phys)}""""
      s"""{"name":"${requireJsonSafe(c.name)}",""" +
        s""""type":"${requireJsonSafe(c.tpe)}",""" +
        s""""nullable":${c.nullable}$physPart}"""
    }.mkString(",")

  /** Render a metaData action line (the no-escape JSON subset —
    * names/types validated at write time). `phys` rides only when it
    * differs from the logical name, keeping pre-mapping logs
    * byte-stable. */
  def metaDataLine(cols: Seq[MetaCol]): String = {
    require(cols.nonEmpty, "empty schema")
    s"""{"metaData":{"cols":[${colsBody(cols)}]}}"""
  }

  /** The checkpoint's folded-schema line (r13): empty cols = the
    * table had no metaData action as of the checkpoint. */
  private def metaStateLine(cols: Seq[MetaCol]): String =
    s"""{"metaState":{"cols":[${colsBody(cols)}]}}"""

  /** The checkpoint's non-file extras (marker, metaState, txnState,
    * consState): read from the small `zz-extras.json` alone when
    * present — the O(live-files) state lines never need parsing for
    * a schema/fence/constraint lookup (r13 review follow-up). */
  private def extrasLines(ckptBase: String, cv: Long): Seq[String] = {
    val f = new java.io.File(s"$ckptBase/version=$cv/zz-extras.json")
    if (f.isFile)
      scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(f.toPath)).asScala.toSeq
    else linesUnder(s"$ckptBase/version=$cv")
  }

  private def usableCkpt(ckptBase: String, asOf: Long): Option[Long] = {
    val available = listVersions(ckptBase)
    if (asOf < 0) readPointer(ckptBase).filter(available.contains)
    else available.filter(_ <= asOf).lastOption
  }

  /** Does checkpoint `cv` carry the r13 folded state (metaState +
    * txnState)? Format-1 checkpoints force full-history fallbacks and
    * cannot anchor log expiry. */
  def isCheckpointV2(ckptBase: String, cv: Long): Boolean =
    extrasLines(ckptBase, cv).exists(_.contains("\"ckptFormat\""))

  /** Latest metaData ≤ asOf (< 0 = latest) through the checkpoint
    * fast path (r13): the commit TAIL above the newest usable v2
    * checkpoint, then its folded metaState — O(cadence), and correct
    * after log expiry. No v2 checkpoint → full-history scan. */
  def latestMetaDataFast(logBase: String, ckptBase: String,
      asOf: Long): Option[Seq[MetaCol]] =
    usableCkpt(ckptBase, asOf).filter(isCheckpointV2(ckptBase, _)) match {
      case None => latestMetaData(logBase, asOf)
      case Some(cv) =>
        val tail = listVersions(logBase)
          .filter(v => v > cv && (asOf < 0 || v <= asOf))
        val fromTail = tail.sorted.reverse.iterator.flatMap { v =>
          linesUnder(s"$logBase/version=$v")
            .filter(_.contains("\"metaData\":")).reverseIterator
        }.nextOption().map(parseMetaCols)
        fromTail.orElse {
          extrasLines(ckptBase, cv)
            .filter(_.contains("\"metaState\":"))
            .lastOption.map(parseMetaCols).filter(_.nonEmpty)
        }
    }

  /** Per-app max fenced epoch ≤ asOf (< 0 = latest): v2-checkpoint
    * txnState ∪ tail fences; no v2 checkpoint → full scan. */
  private def txnStatesFast(logBase: String, ckptBase: String,
      asOf: Long): Map[String, Long] = {
    val usable = usableCkpt(ckptBase, asOf)
      .filter(isCheckpointV2(ckptBase, _))
    val fromCkpt: Map[String, Long] = usable.map { cv =>
      extrasLines(ckptBase, cv)
        .filter(_.contains("\"txnState\":"))
        .flatMap(l => for (a <- jStr(l, "app"); e <- jLong(l, "epoch"))
          yield (a, e)).toMap
    }.getOrElse(Map.empty)
    val tailVs = listVersions(logBase)
      .filter(v => usable.forall(v > _) && (asOf < 0 || v <= asOf))
    val fromTail = tailVs.flatMap { v =>
      linesUnder(s"$logBase/version=$v").filter(_.contains("\"txn\":"))
        .flatMap(l => for (a <- jStr(l, "app"); e <- jLong(l, "epoch"))
          yield (a, e))
    }
    (fromCkpt.toSeq ++ fromTail).groupBy(_._1)
      .map { case (a, es) => a -> es.map(_._2).max }
  }

  /** Highest epoch committed by streaming-sink app `appId` through
    * the checkpoint fast path (r13) — the per-epoch fence check is
    * O(cadence) instead of O(history), and survives log expiry. */
  def latestTxnFast(logBase: String, ckptBase: String,
      appId: String): Option[Long] =
    txnStatesFast(logBase, ckptBase, -1L).get(appId)

  /** One CHECK constraint (r13 — Delta's table constraints): `expr`
    * is ANSI boolean SQL over the table's columns; the write path
    * rejects rows where it evaluates FALSE (NULL passes — the SQL
    * CHECK rule). */
  final case class Constraint(name: String, expr: String)

  private def parseCons(lines: Seq[String]): Seq[Constraint] =
    lines.flatMap { l =>
      for (n <- jStr(l, "name"); e <- jStr(l, "expr"))
        yield Constraint(n, e)
    }

  /** The constraints ACTIVE as of `asOf` (< 0 = latest): the v2
    * checkpoint's folded `consState` ∪ tail `constraint` /
    * `constraintDrop` actions, latest-wins per name — O(cadence),
    * correct after log expiry. No v2 checkpoint → full scan. */
  def activeConstraintsFast(logBase: String, ckptBase: String,
      asOf: Long): Seq[Constraint] = {
    val usable = usableCkpt(ckptBase, asOf)
      .filter(isCheckpointV2(ckptBase, _))
    val base: Seq[Constraint] = usable.map { cv =>
      parseCons(extrasLines(ckptBase, cv)
        .filter(_.contains("\"consState\":")))
    }.getOrElse(Seq.empty)
    val tailVs = listVersions(logBase)
      .filter(v => usable.forall(v > _) && (asOf < 0 || v <= asOf))
    val state = scala.collection.mutable.LinkedHashMap
      .empty[String, Constraint]
    base.foreach(c => state(c.name) = c)
    tailVs.foreach { v =>
      linesUnder(s"$logBase/version=$v").foreach { l =>
        if (l.contains("\"constraint\":"))
          parseCons(Seq(l)).foreach(c => state(c.name) = c)
        else if (l.contains("\"constraintDrop\":"))
          jStr(l, "name").foreach(state.remove(_): Unit)
      }
    }
    state.values.toSeq
  }

  // ================================================================
  // PROTOCOL action (r14 — Delta's protocol/minReaderVersion rule):
  // the log's feature-gating fence. A table whose log carries
  // features a deployed engine predates must refuse LOUDLY instead
  // of mis-reading; the protocol action is the one-line insurance
  // that makes every future format evolution safe to ship.
  // ================================================================

  /** The protocol levels THIS engine implements. A table demanding
    * more refuses below; absence of a protocol action = (1, 1), the
    * founding format. */
  val SupportedReader: Int = 1
  val SupportedWriter: Int = 1

  /** Reader/writer levels a table demands (Delta's protocol action).
    * `minReader` gates every resolution/scan; `minWriter` gates every
    * commit-producing operation (a low-writer engine may still
    * read — the Delta rule). */
  final case class Protocol(minReader: Int, minWriter: Int)

  def protocolLine(p: Protocol): String = {
    require(p.minReader >= 1 && p.minWriter >= 1, s"bad protocol $p")
    s"""{"protocol":{"minReader":${p.minReader},""" +
      s""""minWriter":${p.minWriter}}}"""
  }

  private def protoStateLine(p: Protocol): String =
    s"""{"protoState":{"minReader":${p.minReader},""" +
      s""""minWriter":${p.minWriter}}}"""

  private def parseProto(l: String): Option[Protocol] =
    for (r <- jLong(l, "minReader"); w <- jLong(l, "minWriter"))
      yield Protocol(r.toInt, w.toInt)

  /** Latest protocol ≤ asOf (< 0 = latest) through the checkpoint
    * fast path: tail `protocol` actions win over the folded
    * `protoState`; None = the founding (1, 1) format. O(cadence)
    * with a v2 checkpoint, full scan without — same contract as the
    * other extras. */
  def latestProtocolFast(logBase: String, ckptBase: String,
      asOf: Long): Option[Protocol] = {
    val usable = usableCkpt(ckptBase, asOf)
      .filter(isCheckpointV2(ckptBase, _))
    val tailVs = listVersions(logBase)
      .filter(v => usable.forall(v > _) && (asOf < 0 || v <= asOf))
    val fromTail = tailVs.sorted.reverse.iterator.flatMap { v =>
      linesUnder(s"$logBase/version=$v")
        .filter(_.contains("\"protocol\":")).reverseIterator
    }.nextOption().flatMap(parseProto)
    fromTail.orElse(usable.flatMap { cv =>
      extrasLines(ckptBase, cv)
        .filter(_.contains("\"protoState\":"))
        .lastOption.flatMap(parseProto)
    })
  }

  /** Raise the table's protocol (a blind one-line commit; retries on
    * collision). Downgrades reject — a reader that already trusts the
    * higher fence must never see it lowered. */
  def upgradeProtocol(logBase: String, ckptBase: String,
      minReader: Int, minWriter: Int): Long = {
    val cur = latestProtocolFast(logBase, ckptBase, -1L)
      .getOrElse(Protocol(1, 1))
    require(minReader >= cur.minReader && minWriter >= cur.minWriter,
      s"protocol downgrade ($cur -> Protocol($minReader, $minWriter))")
    // an engine may only demand levels it itself implements — an
    // upgrade beyond them would irreversibly brick the table for
    // everyone including this engine (downgrades reject), with no
    // feature to show for it (review r14)
    require(minReader <= SupportedReader && minWriter <= SupportedWriter,
      s"cannot upgrade to ($minReader, $minWriter): this engine " +
        s"implements only ($SupportedReader, $SupportedWriter)")
    commitVersionWithRetry(logBase, ckptBase,
      Seq(protocolLine(Protocol(minReader, minWriter)),
        commitInfoLine("UPGRADE PROTOCOL")))
  }

  /** Refuse a read above the engine's reader level (loud, with the
    * upgrade hint — the alternative is silent mis-reading). */
  def checkProtocolRead(logBase: String, ckptBase: String,
      asOf: Long): Unit =
    latestProtocolFast(logBase, ckptBase, asOf).foreach { p =>
      if (p.minReader > SupportedReader)
        throw new IllegalStateException(
          s"table requires reader protocol ${p.minReader}; this " +
            s"engine supports $SupportedReader — refusing to read " +
            "(upgrade the engine)")
    }

  /** Refuse a write above the engine's writer OR reader level (a
    * writer must understand everything it might rewrite). */
  def checkProtocolWrite(logBase: String, ckptBase: String): Unit =
    latestProtocolFast(logBase, ckptBase, -1L).foreach { p =>
      if (p.minWriter > SupportedWriter || p.minReader > SupportedReader)
        throw new IllegalStateException(
          s"table requires protocol (${p.minReader}, ${p.minWriter}); " +
            s"this engine supports ($SupportedReader, " +
            s"$SupportedWriter) — refusing to write (upgrade the " +
            "engine)")
    }

  /** Render the constraint actions (the no-escape JSON subset — an
    * expr with a double quote, backslash or newline is rejected at
    * write time; single-quoted SQL string literals are fine). */
  def constraintLine(c: Constraint): String =
    s"""{"constraint":{"name":"${requireJsonSafe(c.name)}",""" +
      s""""expr":"${requireJsonSafe(c.expr)}"}}"""
  def constraintDropLine(name: String): String =
    s"""{"constraintDrop":{"name":"${requireJsonSafe(name)}"}}"""

  /** Highest epoch committed by streaming-sink app `appId` (r12 — the
    * exactly-once fence, Delta's `txn` action): scans commit lines for
    * `{"txn":{"app":…,"epoch":E}}` fences. A driver-side metadata scan
    * over the commit history; production formats fold txn state into
    * checkpoints — here commit files are never deleted, so the scan is
    * bounded by log lifetime, documented. */
  def latestTxn(logBase: String, appId: String): Option[Long] = {
    val es = listVersions(logBase).flatMap { v =>
      linesUnder(s"$logBase/version=$v")
        .filter(_.contains("\"txn\":"))
        .filter(l => jStr(l, "app").contains(appId))
        .flatMap(l => jLong(l, "epoch"))
    }
    if (es.isEmpty) None else Some(es.max)
  }

  /** The no-escape JSON subset as an Option: None when the value
    * cannot ride the log without escaping — callers then DROP the
    * optional stat (pruning degrades to scan, never corrupts). One
    * definition for every writer (review follow-up: three copies). */
  def jsonSafe(v: String): Option[String] =
    if (v.forall(c => c != '"' && c != '\\' && c != '\n' &&
        c != '\r')) Some(v)
    else None

  /** Unsigned-lexicographic UTF-8 byte order — the ONE definition of
    * the order every string window (writer measurement, log stats,
    * scan pruning) uses, so compares can never disagree. */
  def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val m = math.min(x.length, y.length)
    var i = 0
    while (i < m) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** Enforce the log's no-escape JSON subset at WRITE time (ADVICE
    * r11): a '"', '\', or newline in an interpolated path would
    * silently produce a malformed log that the regex-based parsers
    * then misread — fail fast instead of corrupting the table. */
  def requireJsonSafe(path: String): String = {
    require(path.forall(c =>
        c != '"' && c != '\\' && c != '\n' && c != '\r'),
      s"path not representable in the log's no-escape JSON subset: " +
        path.take(256))
    path
  }

  /** A version-number race lost to another committer (r13): the ONLY
    * failure the optimistic retry loops treat as retryable — a
    * permission error or disk fault must surface, not spin or be
    * misreported as a conflict. */
  final class CommitCollisionException(msg: String, cause: Throwable)
      extends IllegalStateException(msg, cause)

  /** Write one commit version ATOMICALLY (ADVICE r11): the action
    * lines land in a dot-prefixed temp directory (invisible to
    * [[listVersions]]) and ONE rename publishes `version=N` — a
    * concurrent reader, or the streaming tail's `latestOffset`
    * listing, sees either the complete commit or none of it, never an
    * empty version directory whose adds it would then permanently
    * skip. Rename onto an existing non-empty `version=N` fails →
    * [[CommitCollisionException]], not a silent merge; any OTHER
    * filesystem failure (permissions, disk) is rethrown as a plain
    * error the retry loops never swallow. A crashed writer leaves
    * only a dot-temp dir, which no reader lists and vacuum's orphan
    * sweep never consults. */
  def commitVersion(logBase: String, version: Long,
      lines: Seq[String]): Unit = {
    require(lines.nonEmpty, "empty commit")
    val baseDir = new java.io.File(logBase)
    baseDir.mkdirs(): Unit
    val tmp = new java.io.File(baseDir,
      s".tmp-version-$version-${java.util.UUID.randomUUID()}")
    require(tmp.mkdirs(), s"cannot create commit temp dir $tmp")
    java.nio.file.Files.write(
      new java.io.File(tmp, "actions.json").toPath,
      lines.mkString("\n").getBytes("UTF-8")): Unit
    val target = new java.io.File(baseDir, s"version=$version")
    try
      java.nio.file.Files.move(tmp.toPath, target.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
    catch {
      case e: java.nio.file.FileSystemException =>
        new java.io.File(tmp, "actions.json").delete(): Unit
        tmp.delete(): Unit
        if (target.exists())
          throw new CommitCollisionException(
            s"commit collision at $target", e)
        else throw new IllegalStateException(
          s"commit failed at $target (not a collision)", e)
    }
  }

  /** The next free commit version: one past the max of the on-disk
    * commit versions AND the checkpoint pointer (r13 — after LOG
    * EXPIRY the commit tail can be empty; reusing a version number
    * the checkpoint already folded would let the stale checkpoint
    * state win the latest-wins fold over the new commit). */
  def nextVersion(logBase: String, ckptBase: String): Long = {
    val vs = listVersions(logBase)
    math.max(if (vs.isEmpty) -1L else vs.max,
      readPointer(ckptBase).getOrElse(-1L)) + 1
  }

  /** Commit `lines` at the next free version with OPTIMISTIC retry
    * (r13 — the concurrent-writer law): [[commitVersion]]'s atomic
    * rename makes a version collision fail loudly; a BLIND commit
    * (pure adds — appends, the streaming sink's epoch) removes
    * nothing, so losing the race to ANY other committer never
    * invalidates it — re-resolve the next version and try again (the
    * Delta rule: blind appends always win a rebase). Callers whose
    * commit carries removes must NOT use this — they re-check their
    * read set instead ([[graft.operators.LakeMaintenance]]). Returns
    * the version that landed. */
  def commitVersionWithRetry(logBase: String, ckptBase: String,
      lines: Seq[String], maxAttempts: Int = 1000): Long = {
    var attempt = 0
    while (true) {
      val next = nextVersion(logBase, ckptBase)
      try {
        commitVersion(logBase, next, lines)
        return next
      } catch {
        case e: CommitCollisionException =>
          attempt += 1
          if (attempt >= maxAttempts) throw e
      }
    }
    -1L // unreachable
  }

  /** The `add` actions of specific commit versions, driver-side — what
    * the streaming arm plans per micro-batch (each file's rows are
    * emitted exactly once, on the commit that ADDS it). */
  /** The `cdc` sidecar actions of specific commit versions (r13 —
    * Delta CDF's cdc action shape): row-level change files written by
    * MERGE and served by the streaming source's changeFeed mode.
    * Never part of the live set — [[resolveLiveLocal]], checkpoints
    * and [[addsInVersions]] all skip them by construction. */
  def cdcInVersions(logBase: String,
      versions: Seq[Long]): Seq[LiveFile] =
    versions.sorted.flatMap { v =>
      linesUnder(s"$logBase/version=$v").filter(_.contains("\"cdc\":"))
        .map { line =>
          val path = jStr(line, "path").getOrElse(
            throw new IllegalArgumentException(s"bad cdc line: $line"))
          LiveFile(path, v, jLong(line, "size").getOrElse(0L),
            None, None)
        }
    }

  def addsInVersions(logBase: String,
      versions: Seq[Long]): Seq[LiveFile] =
    versions.sorted.flatMap { v =>
      linesUnder(s"$logBase/version=$v").filter(_.contains("\"add\":"))
        .map { line =>
          val path = jStr(line, "path").getOrElse(
            throw new IllegalArgumentException(s"bad commit line: $line"))
          LiveFile(path, v, jLong(line, "size").getOrElse(0L),
            jLong(line, "min_key"), jLong(line, "max_key"),
            jStr(line, "min_skey"), jStr(line, "max_skey"),
            jStr(line, "part"),
            dataChange = jBool(line, "dataChange").getOrElse(true))
        }
    }
}
