package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{ParquetFile, ParquetWrite, TxLog}

/** The LAKEHOUSE layer as a real DataSource V2 connector (r11 — the
  * r10 verdict's #8 ask): `spark.read.format("graft-lake")
  * .option("path", base).load()` over a table whose DATA files come
  * from the engine's own parquet writer (`ParquetWrite`, q216/q220)
  * and whose TRANSACTION LOG/CHECKPOINTS come from `TxLog`
  * (q212/q217) — the full own-write/own-read loop under Catalyst
  * pushdown, where q214 ran the same layers as hand-composed
  * functions.
  *
  * Table layout: `<path>/data/part-*.parquet` + `<path>/log/version=N`
  * (+ optional `<path>/ckpt` with `_last_checkpoint`).
  *
  * What Catalyst gets from the connector:
  *  - **schema from OUR footer codec**: inferSchema resolves the
  *    snapshot and reads the first live file's footer — INT64 →
  *    LongType, UTF8 BYTE_ARRAY → StringType, OPTIONAL → nullable;
  *  - **snapshot isolation + time travel** (`asOf` option): planning
  *    sees exactly the log-resolved live files, through the
  *    checkpoint/pointer fast path (driver-side metadata I/O, no
  *    cluster job — the `_delta_log` shape);
  *  - **column pruning** ([[SupportsPushDownRequiredColumns]]): the
  *    reader decodes ONLY the requested chunks — a 2-column projection
  *    touches 2 column chunks per row group, not all;
  *  - **file pruning** ([[SupportsPushDownFilters]]): range/equality/IN
  *    predicates on the log's stats column skip whole FILES at plan
  *    time from log metadata alone (adds carry min_key/max_key);
  *    filters stay in the plan as residuals, so pruning can never
  *    change results;
  *  - **row-group pruning** (reader-side): inside each surviving file
  *    the reader checks OUR footer's per-group INT64 stats against the
  *    pushed bounds and skips groups without touching their pages;
  *  - **runtime filtering** ([[SupportsRuntimeFiltering]]): a join
  *    against a selective dimension on the stats column hands observed
  *    keys back at execution time — dynamic FILE pruning.
  *
  * 100 TB shape: planning cost is log-metadata-sized (pointer +
  * checkpoint + tail); the unit of parallelism is the file; data bytes
  * are read once per surviving file on executors and never shuffle. */
class LakeSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-lake"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LakeSource.tableOf(options).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    LakeSource.tableOf(new CaseInsensitiveStringMap(properties))
}

object LakeSource {
  private[sources] def tableOf(options: CaseInsensitiveStringMap): LakeTable = {
    val path = options.get("path")
    require(path != null && path.nonEmpty,
      "graft-lake requires a 'path' option (the table root)")
    // TIMESTAMP time travel (r13): asOfTs (epoch millis) resolves to
    // the newest commit version whose mtime is ≤ it; an explicit
    // asOf always wins
    val asOfOpt = options.getLong("asOf", -1L)
    val asOfTs = options.getLong("asOfTs", -1L)
    val asOf =
      if (asOfOpt >= 0 || asOfTs < 0) asOfOpt
      else TxLog.versionAtTime(s"$path/log", asOfTs).getOrElse(
        throw new IllegalArgumentException(
          s"graft-lake: no commit at or before asOfTs=$asOfTs " +
            "(history may have been expired)"))
    // protocol gate (r14 — Delta's minReaderVersion): a table whose
    // log demands a future reader level refuses LOUDLY at the
    // connector entry, before any plan could mis-read it
    TxLog.checkProtocolRead(s"$path/log", s"$path/ckpt", asOf)
    new LakeTable(path, asOf,
      options.getOrDefault("statsCol", "doc_id"),
      options.getInt("versionsPerTrigger", Int.MaxValue),
      options.getInt("checkpointEvery", 10),
      Option(options.get("strStatsCol")).filter(_.nonEmpty),
      Option(options.get("partitionBy")).filter(_.nonEmpty),
      options.getBoolean("changeFeed", false),
      options.getLong("cdfFrom", -1L),
      options.getLong("cdfTo", -1L),
      // streaming start (r13 startingVersion; r14 startingTimestamp —
      // the Delta pair): a timestamp resolves THROUGH versionAtTime to
      // the first commit whose mtime is AT or AFTER it — Delta's
      // contract includes changes committed at exactly the timestamp
      // (ADVICE r14: resolving at ts then +1 excluded the
      // equal-mtime commit), so the bound is the newest commit
      // STRICTLY BEFORE ts, plus one. An explicit startingVersion
      // wins; a timestamp before all surviving history starts at 0
      // (everything), one after the head starts past the head
      // (nothing yet — new commits only). Resolution reads commit-dir
      // mtimes, the same clock time travel uses — copying or touching
      // log directories rewrites that clock, documented.
      if (options.containsKey("startingVersion") ||
          !options.containsKey("startingTimestamp"))
        options.getLong("startingVersion", 0L)
      else TxLog.versionAtTime(s"$path/log",
          options.getLong("startingTimestamp", 0L) - 1L)
        .map(_ + 1L).getOrElse(0L),
      options.getBoolean("withFilePath", false))
  }

  /** Leaf → Spark field. Flat INT32/INT64/FLOAT/DOUBLE/UTF8-string
    * columns plus the 3-level `array<long|float|double>` LIST shape
    * (r12 — the own-writer surface); anything else rejects at
    * planning time. A list leaf's path is `name.list.element`; the
    * Spark field takes the OUTER group's name. */
  private[graft] def fieldOf(lf: ParquetFile.Leaf): StructField = {
    def prim(p: Int): DataType = p match {
      case 1 => IntegerType
      case 2 => LongType
      case 4 => FloatType
      case 5 => DoubleType
      case 6 => StringType
      case p0 => throw new IllegalArgumentException(
        s"graft-lake: unsupported physical type $p0 for ${lf.path}")
    }
    if (lf.maxRep == 0) {
      require(lf.maxDef <= 1,
        s"graft-lake: unsupported nested column ${lf.path}")
      StructField(lf.path, prim(lf.ptype), nullable = lf.maxDef == 1)
    } else {
      require(lf.maxRep == 1 && lf.path.endsWith(".list.element") &&
          lf.repDef >= 1,
        s"graft-lake: unsupported repeated column ${lf.path}")
      val elem = prim(lf.ptype)
      require(elem != StringType && elem != IntegerType,
        s"graft-lake: unsupported list element type for ${lf.path}")
      StructField(lf.path.substring(0, lf.path.indexOf('.')),
        ArrayType(elem, containsNull = lf.maxDef > lf.repDef),
        nullable = lf.repDef > 1) // outer chain carries an OPTIONAL
    }
  }

  /** The leaf backing a Spark field name (flat: path == name; list:
    * path == `name.list.element`). */
  private[sources] def leafFor(leaves: Seq[ParquetFile.Leaf],
      name: String): ParquetFile.Leaf =
    leaves.find(l => l.path == name ||
        l.path.startsWith(name + "."))
      .getOrElse(throw new IllegalArgumentException(
        s"graft-lake: no column $name"))

  /** The write-path type surface (r12): long/string/double/float flat
    * columns plus `array<long|float|double>`. */
  private[sources] def requireWritable(t: DataType): Unit = t match {
    case LongType | StringType | DoubleType | FloatType => ()
    case ArrayType(LongType | FloatType | DoubleType, _) => ()
    case other => throw new IllegalArgumentException(
      s"graft-lake append does not support column type $other")
  }

  /** The log's schema-type names (metaData actions, r12) ↔ Spark
    * types — the writable surface plus int (read-only legacy). */
  private[sources] def typeOf(s: String): DataType = s match {
    case "long" => LongType
    case "int" => IntegerType
    case "string" => StringType
    case "double" => DoubleType
    case "float" => FloatType
    case "array<long>" => ArrayType(LongType, containsNull = true)
    case "array<float>" => ArrayType(FloatType, containsNull = true)
    case "array<double>" => ArrayType(DoubleType, containsNull = true)
    case other => throw new IllegalArgumentException(
      s"graft-lake: unknown schema type $other")
  }

  /** The table's current schema columns: the latest metaData action
    * when present, else derived from the first live file's footer
    * (the pre-evolution contract, physical = logical). */
  private def currentCols(root: String): Seq[TxLog.MetaCol] =
    TxLog.latestMetaDataFast(s"$root/log", s"$root/ckpt", -1L)
      .getOrElse {
      val live = TxLog.resolveLiveLocal(s"$root/log", s"$root/ckpt", -1L)
      require(live.nonEmpty,
        s"graft-lake: cannot evolve an empty table at $root")
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(live.head.path))
      ParquetFile.parseFooterMeta(bytes).leaves.map(fieldOf).map(f =>
        TxLog.MetaCol(f.name, nameOf(f.dataType), f.nullable))
    }

  /** ADD COLUMN (r12 — schema evolution through the log's metaData
    * action, the Delta mechanism): commits ONE metaData action
    * extending the current schema with a NULLABLE column (non-null
    * additions are unsound: existing rows have no value). Files
    * written before the evolution lack the column and null-fill at
    * read; appends after it must carry it (the schema check now
    * follows the log, not the files). Returns the committed version. */
  def addColumn(root: String, name: String, typeName: String): Long = {
    TxLog.checkProtocolWrite(s"$root/log", s"$root/ckpt")
    // the new column must be APPENDABLE, not merely readable (ADVICE
    // r12: typeOf alone also accepts the read-only legacy "int", and
    // a schema carrying it would brick every subsequent append)
    requireWritable(typeOf(typeName))
    val cur = currentCols(root)
    require(!cur.exists(_.name == name),
      s"graft-lake: column $name already exists")
    val next = TxLog.nextVersion(s"$root/log", s"$root/ckpt")
    // column mapping (r13): once a table carries ANY metaData action,
    // every added column mints a FRESH physical name (`c<version>_` —
    // commit versions are monotone, so it is unique even after log
    // expiry truncates the history a did-this-name-ever-exist scan
    // would need). Bytes dropped from the schema can then never
    // resurrect under a re-added name. A pure-footer table's first
    // addColumn keeps physical = logical (the r12 contract): the
    // footer names are the complete usage history there.
    val hadMetaData =
      TxLog.latestMetaDataFast(s"$root/log", s"$root/ckpt", -1L)
        .isDefined
    val phys = if (hadMetaData) s"c${next}_$name" else ""
    TxLog.commitVersion(s"$root/log", next, Seq(
      TxLog.metaDataLine(cur :+
        TxLog.MetaCol(name, typeName, nullable = true, phys)),
      TxLog.commitInfoLine("ADD COLUMN")))
    next
  }

  /** RENAME COLUMN (r13 — Delta-style column mapping): pure metadata,
    * no data rewrite — the files keep their physical column name and
    * every reader maps logical → physical through the log. */
  def renameColumn(root: String, oldName: String,
      newName: String): Long = {
    TxLog.checkProtocolWrite(s"$root/log", s"$root/ckpt")
    val cur = currentCols(root)
    require(cur.exists(_.name == oldName),
      s"graft-lake: no column $oldName")
    require(!cur.exists(_.name == newName),
      s"graft-lake: column $newName already exists")
    requireUnconstrained(root, oldName, "rename")
    val next = TxLog.nextVersion(s"$root/log", s"$root/ckpt")
    val cols = cur.map(c =>
      if (c.name == oldName)
        TxLog.MetaCol(newName, c.tpe, c.nullable, c.physName)
      else c)
    TxLog.commitVersion(s"$root/log", next,
      Seq(TxLog.metaDataLine(cols),
        TxLog.commitInfoLine("RENAME COLUMN")))
    next
  }

  /** DROP COLUMN (r13): pure metadata — the physical bytes stay in
    * old files, but no read or append touches them again, and a later
    * re-ADD of the same name gets a fresh physical name (no
    * resurrection). */
  def dropColumn(root: String, name: String): Long = {
    TxLog.checkProtocolWrite(s"$root/log", s"$root/ckpt")
    val cur = currentCols(root)
    require(cur.exists(_.name == name), s"graft-lake: no column $name")
    require(cur.size > 1, "graft-lake: cannot drop the last column")
    requireUnconstrained(root, name, "drop")
    val next = TxLog.nextVersion(s"$root/log", s"$root/ckpt")
    TxLog.commitVersion(s"$root/log", next,
      Seq(TxLog.metaDataLine(cur.filterNot(_.name == name)),
        TxLog.commitInfoLine("DROP COLUMN")))
    next
  }

  /** The change-feed partitions of commit versions `vs` (r13 —
    * shared by the streaming changeFeed mode and the batch
    * cdfFrom/cdfTo read): a version carrying `cdc` sidecars serves
    * THOSE row-exactly (its adds are merge rewrites — mostly
    * unchanged rows); otherwise its dataChange adds are pure
    * inserts, served with the constant change type injected;
    * maintenance rewrites (dataChange=false) never appear. */
  private[sources] def cdfPartitions(root: String, vs: Seq[Long],
      physCols: Seq[String]): Array[InputPartition] =
    vs.flatMap { v =>
      val cdc = TxLog.cdcInVersions(s"$root/log", Seq(v))
      if (cdc.nonEmpty)
        cdc.map(f => LakePartition(f.path, physCols,
          Seq.empty): InputPartition)
      else
        TxLog.addsInVersions(s"$root/log", Seq(v))
          .filter(_.dataChange).map(f =>
            LakePartition(f.path, physCols, Seq.empty,
              constCols = Map("_change_type" -> "insert"))
              : InputPartition)
    }.toArray

  /** ADD CHECK CONSTRAINT (r13 — Delta's table constraints): parses
    * and ANALYZES `exprSql` against the current schema (unknown
    * columns / unparseable SQL reject before any commit), VALIDATES
    * the existing rows (a constraint the table already violates would
    * be a lie — Delta scans too), and commits ONE `constraint`
    * action. Every subsequent append — batch and streaming — then
    * evaluates it per row at the write path and fails LOUDLY on
    * FALSE; NULL passes (the SQL CHECK rule). Constraints fold into
    * format-2 checkpoints (`consState`), so enforcement survives log
    * expiry. */
  def addConstraint(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, exprSql: String): Long = {
    TxLog.checkProtocolWrite(s"$root/log", s"$root/ckpt")
    val active = TxLog.activeConstraintsFast(
      s"$root/log", s"$root/ckpt", -1L)
    require(!active.exists(_.name == name),
      s"graft-lake: constraint $name already exists")
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    // pin-then-validate loop (ADVICE r14 — the same law as
    // maintenance commits): the target version is pinned from the
    // log listing BEFORE the violating-rows scan, so a commit that
    // lands rows AFTER the scan must take a version ≥ the pinned one
    // → our rename collides → loop → re-scan at the fresh snapshot.
    // Without the pin, rows appended between the scan and the
    // constraint commit were never checked, and the table could end
    // up permanently violating a successfully-added constraint.
    // In-flight writers compile their check set at job/stream START,
    // so a stream already running enforces a new constraint only
    // after restart (Delta documents the same boundary) — but its
    // commits land at versions ≥ ours and were scanned or collided
    // here, so they were clean at add time.
    var attempts = 0
    while (true) {
      val next = TxLog.nextVersion(s"$root/log", s"$root/ckpt")
      val df = spark.read.format("graft-lake").option("path", root)
        .load()
      val pred = expr(exprSql).cast("boolean")
      // also proves the expression compiles against the schema
      val violating = df.where(not(coalesce(pred, lit(true))))
        .limit(1).count()
      require(violating == 0L,
        s"graft-lake: existing rows violate constraint $name ($exprSql)")
      try {
        TxLog.commitVersion(s"$root/log", next,
          Seq(TxLog.constraintLine(TxLog.Constraint(name, exprSql)),
            TxLog.commitInfoLine("ADD CONSTRAINT")))
        return next
      } catch {
        case e: TxLog.CommitCollisionException =>
          attempts += 1
          if (attempts >= 1000) throw e
      }
    }
    -1L // unreachable
  }

  /** DROP CONSTRAINT (r13): commits one `constraintDrop` action;
    * appends stop checking it. */
  def dropConstraint(root: String, name: String): Long = {
    TxLog.checkProtocolWrite(s"$root/log", s"$root/ckpt")
    val active = TxLog.activeConstraintsFast(
      s"$root/log", s"$root/ckpt", -1L)
    require(active.exists(_.name == name),
      s"graft-lake: no constraint $name")
    val next = TxLog.nextVersion(s"$root/log", s"$root/ckpt")
    TxLog.commitVersion(s"$root/log", next,
      Seq(TxLog.constraintDropLine(name),
        TxLog.commitInfoLine("DROP CONSTRAINT")))
    next
  }

  /** Evolution guard (r13): renaming or dropping a column an ACTIVE
    * constraint references would brick every subsequent append (the
    * write path could no longer analyze the expression) — the same
    * succeeded-evolution-breaks-writes class as the r12 addColumn
    * "int" bug. Reject loudly; drop the constraint first. */
  private def requireUnconstrained(root: String, colName: String,
      op: String): Unit = {
    val active = TxLog.activeConstraintsFast(
      s"$root/log", s"$root/ckpt", -1L)
    if (active.nonEmpty) {
      val parser = org.apache.spark.sql.SparkSession.active
        .sessionState.sqlParser
      active.foreach { c =>
        val refs = parser.parseExpression(c.expr).collect {
          case a: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute => a.name
        }
        require(!refs.exists(_.equalsIgnoreCase(colName)),
          s"graft-lake: cannot $op column $colName — constraint " +
            s"${c.name} (${c.expr}) references it; drop the " +
            "constraint first")
      }
    }
  }

  /** CODE-GENERATE one bound constraint predicate (r14 — the r13
    * verdict's #7: the per-row interpreted eval is measurable at
    * ingest volume; Delta's InvariantChecker codegens too). The
    * expression is wrapped `Or(IsNull(e), e)` so the generated
    * predicate returns TRUE for NULL — the SQL CHECK rule — and
    * `eval == false` means a genuine violation. `Predicate.create`
    * compiles via Janino with automatic interpreted fallback; called
    * EXECUTOR-side (generated classes don't serialize), once per
    * writer, not per row. */
  private[graft] def compiledCheck(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.BasePredicate = {
    import org.apache.spark.sql.catalyst.expressions.{IsNull, Or, Predicate}
    Predicate.create(Or(IsNull(e), e))
  }

  /** Compile the table's active constraints into row-level predicates
    * BOUND to the write schema: parse + full Catalyst ANALYSIS on the
    * driver (type coercion, casts — exactly what the user's SQL
    * means), attribute references bound positionally; executors
    * CODE-GENERATE the serialized tree once per writer
    * ([[compiledCheck]]) and evaluate the compiled predicate per
    * row. */
  private[graft] def compileChecks(
      spark: org.apache.spark.sql.SparkSession, schema: StructType,
      cons: Seq[TxLog.Constraint]): Seq[(String,
        org.apache.spark.sql.catalyst.expressions.Expression)] =
    cons.map { c =>
      val ds = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      val plan = ds.select(org.apache.spark.sql.functions
          .expr(c.expr).cast("boolean").as("c"))
        .queryExecution.analyzed
      val e = plan.expressions.head
        .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias]
        .child
      (c.name, org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(e, plan.children.head.output))
    }

  private[graft] def nameOf(t: DataType): String = t match {
    case LongType => "long"
    case IntegerType => "int"
    case StringType => "string"
    case DoubleType => "double"
    case FloatType => "float"
    case ArrayType(LongType, _) => "array<long>"
    case ArrayType(FloatType, _) => "array<float>"
    case ArrayType(DoubleType, _) => "array<double>"
    case other => throw new IllegalArgumentException(
      s"graft-lake: unsupported schema type $other")
  }
}

final class LakeTable(val root: String, val asOf: Long,
    val statsCol: String, val versionsPerTrigger: Int = Int.MaxValue,
    val checkpointEvery: Int = 10,
    val strStatsCol: Option[String] = None,
    val partCol: Option[String] = None,
    val changeFeed: Boolean = false,
    val cdfFrom: Long = -1L, val cdfTo: Long = -1L,
    val startingVersion: Long = 0L,
    /** r15 — the file-provenance face: the scan serves an extra
      * `_graft_file` column carrying each row's data-file path,
      * WITH deletion vectors applied (the distributed merge's key
      * probe needs exact live containment — a raw parquet read
      * counts DV-dead rows). Read-only. */
    val withFilePath: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with SupportsDelete {

  locally {
    require(!(changeFeed && withFilePath),
      "graft-lake: changeFeed and withFilePath are mutually exclusive")
  }

  /** Snapshot resolution — driver-side metadata I/O through the
    * checkpoint/pointer fast path; memoized per table instance. */
  lazy val live: Seq[TxLog.LiveFile] =
    TxLog.resolveLiveLocal(s"$root/log", s"$root/ckpt", asOf)

  private lazy val inferred: StructType = {
    // schema authority (r12): the log's latest metaData action when
    // present (what makes ADD COLUMN possible — files written before
    // the evolution lack the column and null-fill at read); else the
    // first live file's footer (the pre-evolution contract)
    val base = TxLog.latestMetaDataFast(s"$root/log", s"$root/ckpt",
        asOf) match {
      case Some(cols) => StructType(cols.map(c =>
        StructField(c.name, LakeSource.typeOf(c.tpe), c.nullable)))
      case None =>
        require(live.nonEmpty,
          s"graft-lake: no live files in snapshot asOf=$asOf under $root")
        val bytes = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(live.head.path))
        StructType(ParquetFile.parseFooterMeta(bytes).leaves
          .map(LakeSource.fieldOf))
    }
    // changeFeed mode (r13 — Delta CDF): the served rows carry the
    // change kind; add-file batches inject the constant "insert"
    if (changeFeed)
      StructType(base.fields :+
        StructField("_change_type", StringType, nullable = false))
    else if (withFilePath) // r15 file-provenance face
      StructType(base.fields :+
        StructField("_graft_file", StringType, nullable = false))
    else base
  }

  /** Column mapping (r13): logical → physical name, from the latest
    * metaData action. Identity for pre-mapping tables. */
  lazy val physOf: Map[String, String] =
    TxLog.latestMetaDataFast(s"$root/log", s"$root/ckpt", asOf) match {
      case Some(cols) => cols.map(c => c.name -> c.physName).toMap
      case None => Map.empty
    }
  def physName(n: String): String = physOf.getOrElse(n, n)

  override def name(): String =
    s"graft-lake($root asOf=$asOf files=${live.size})"
  override def schema(): StructType = inferred
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      // r15 — the r14 verdict's #2 ask: the overwrite verbs.
      // TRUNCATE serves df.write.mode("overwrite") and INSERT
      // OVERWRITE (static, no partition spec); OVERWRITE_BY_FILTER
      // serves partition-scoped INSERT OVERWRITE / replaceWhere;
      // OVERWRITE_DYNAMIC serves dynamic partition overwrite
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)
  /** Per-scan OPTIONS (r15 — the r14 verdict's #5 ask): a
    * catalog-resolved table reaches here with the READER's options
    * (`spark.readStream.option("startingVersion", …).table("g.db.t")`,
    * `option("changeFeed", "true")`, batch `cdfFrom`/`cdfTo`, …) —
    * before this, only path-based reads could carry them. Any
    * recognized key re-resolves a derived table with the overrides
    * layered over this one's state; everything else (protocol gate,
    * time travel, stats) rides along through the normal entry. */
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val scanKeys = Seq("startingVersion", "startingTimestamp",
      "changeFeed", "cdfFrom", "cdfTo", "versionsPerTrigger",
      "asOf", "asOfTs", "withFilePath")
    val t =
      if (!scanKeys.exists(opts.containsKey)) this
      else {
        val m = new java.util.HashMap[String, String]()
        m.put("path", root): Unit
        if (withFilePath) m.put("withFilePath", "true"): Unit
        if (asOf >= 0) m.put("asOf", asOf.toString): Unit
        m.put("statsCol", statsCol): Unit
        m.put("versionsPerTrigger", versionsPerTrigger.toString): Unit
        m.put("checkpointEvery", checkpointEvery.toString): Unit
        strStatsCol.foreach(v => m.put("strStatsCol", v): Unit)
        partCol.foreach(v => m.put("partitionBy", v): Unit)
        if (changeFeed) m.put("changeFeed", "true"): Unit
        if (cdfFrom >= 0) m.put("cdfFrom", cdfFrom.toString): Unit
        if (cdfTo >= 0) m.put("cdfTo", cdfTo.toString): Unit
        if (startingVersion != 0L)
          m.put("startingVersion", startingVersion.toString): Unit
        scanKeys.foreach { k =>
          if (opts.containsKey(k)) m.put(k, opts.get(k)): Unit
        }
        LakeSource.tableOf(new CaseInsensitiveStringMap(m))
      }
    new LakeScanBuilder(t)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new LakeWriteBuilder(this, info)

  /** The declared partitioning (catalog surface, r14): DESCRIBE and
    * the analyzer see the identity partition column when the table
    * was created `PARTITIONED BY`. */
  override def partitioning(): Array[Transform] =
    partCol.toArray.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c))

  // ================================================================
  // SQL DELETE (r14 — Delta's metadata/merge delete path): Spark's
  // `DELETE FROM t WHERE …` calls deleteWhere when the condition
  // translates to data-source filters. Three shapes:
  //  - unconditioned: a metadata-only TRUNCATE (one commit of remove
  //    tombstones, zero files touched, time travel intact);
  //  - =/IN on the merge key: straight to the merge delete arm
  //    (whole-key by definition — no scan at all);
  //  - any other supported predicate set: ONE scan collects the
  //    matched keys (file pruning applies), a whole-key guard rejects
  //    predicates that split a duplicated key's occurrences, then the
  //    merge delete arm (stats-pruned candidate rewrite or deletion
  //    vector, CDC sidecars, optimistic commit).
  // Untranslatable predicates decline → Spark reports the
  // unsupported delete loudly.
  // ================================================================

  /** The rewrite key: the table's first REQUIRED long column (the
    * merge machinery's contract). */
  private def mergeKeyCol: Option[String] = schema().fields
    .find(f => f.dataType == LongType && !f.nullable).map(_.name)

  /** V1 filter → Column, for the predicate shapes the scan can also
    * prune on; None = untranslatable (declines the pushed delete). */
  private def filterColumn(f: Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    def known(c: String): Boolean = schema().fieldNames.contains(c)
    f match {
      case EqualTo(c, v) if known(c) => Some(col(c) === lit(v))
      case GreaterThan(c, v) if known(c) => Some(col(c) > lit(v))
      case GreaterThanOrEqual(c, v) if known(c) =>
        Some(col(c) >= lit(v))
      case LessThan(c, v) if known(c) => Some(col(c) < lit(v))
      case LessThanOrEqual(c, v) if known(c) => Some(col(c) <= lit(v))
      case In(c, vs) if known(c) && vs.nonEmpty =>
        Some(col(c).isin(vs.toSeq: _*))
      case IsNull(c) if known(c) => Some(col(c).isNull)
      case IsNotNull(c) if known(c) => Some(col(c).isNotNull)
      case _: AlwaysTrue => Some(lit(true))
      case _ => None
    }
  }

  private def keyOnlyDelete(
      filters: Array[Filter]): Option[(String, Seq[Long])] = {
    def isNum(v: Any): Boolean =
      v.isInstanceOf[Long] || v.isInstanceOf[Int]
    filters.toSeq match {
      case Seq(EqualTo(c, v)) if mergeKeyCol.contains(c) && isNum(v) =>
        Some((c, Seq(LakeBounds.of(v))))
      case Seq(In(c, vs)) if mergeKeyCol.contains(c) && vs.nonEmpty &&
          vs.forall(isNum) =>
        Some((c, vs.toSeq.map(LakeBounds.of).distinct))
      case _ => None
    }
  }

  private def isTruncate(filters: Array[Filter]): Boolean =
    filters.isEmpty ||
      (filters.length == 1 && filters(0).isInstanceOf[AlwaysTrue])

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !changeFeed && asOf < 0 &&
      (isTruncate(filters) ||
        (mergeKeyCol.isDefined &&
          filters.forall(f => filterColumn(f).isDefined)))

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(canDeleteWhere(filters),
      s"graft-lake: unsupported DELETE condition " +
        s"${filters.mkString(", ")}")
    TxLog.checkProtocolWrite(s"$root/log", s"$root/ckpt")
    val liveNow = TxLog.resolveLiveLocal(s"$root/log", s"$root/ckpt", -1L)
    if (liveNow.isEmpty) return // nothing to delete
    if (isTruncate(filters)) {
      val lines = liveNow.map(f =>
        s"""{"remove":{"path":"${TxLog.requireJsonSafe(f.path)}"}}""") :+
        TxLog.commitInfoLine("DELETE")
      graft.operators.LakeMaintenance.commitMaintenance(root,
        liveNow.map(_.path), lines, Seq.empty): Unit
      return
    }
    val spark = org.apache.spark.sql.SparkSession.active
    // the scan's snapshot fence (ADVICE r14): the merge delete arm
    // resolves its own, possibly later snapshot — rows appended under
    // a matched key but NOT satisfying the predicate must never die,
    // so the merge aborts when any candidate postdates this version
    val scanVersion =
      TxLog.nextVersion(s"$root/log", s"$root/ckpt") - 1L
    val (keyCol2, keys) = keyOnlyDelete(filters) match {
      case Some((c, ks)) => (c, ks) // whole-key by definition: no scan
      case None =>
        import org.apache.spark.sql.functions.{col, lit}
        val c = mergeKeyCol.get
        val cond = filters.toSeq.flatMap(filterColumn)
          .reduce(_ && _)
        val df = spark.read.format("graft-lake").option("path", root)
          .option("asOf", scanVersion.toString).load()
        // ROUTE BY SIZE (r15): matched sets over the collect bound
        // ride the DISTRIBUTED join-based merge — the driver never
        // sees a matched row. ONE bounded collect decides the route
        // and provides the keys (review r15: a separate count() ran
        // the predicate scan twice).
        val bound = math.max(1,
          spark.conf.getOption("spark.graft.lake.mergeCollectBound")
            .map(_.toInt).getOrElse(1 << 20))
        val matchedRows = df.where(cond).select(col(c).as("_graft_k"))
        val bounded = matchedRows.limit(bound + 1).collect()
        if (bounded.length > bound) {
          // r17: the distributed branch re-runs the predicate scan
          // ONCE through the connector's file-provenance face — the
          // matched rows also carry _graft_file, so the merge's
          // per-file probe is served from this scan instead of a
          // second full table scan + join.
          // persisted: the guard's counts and the merge must not
          // re-run the predicate scan (review r15)
          val m = spark.read.format("graft-lake").option("path", root)
            .option("asOf", scanVersion.toString)
            .option("withFilePath", "true").load()
            .where(cond)
            .select(col(c).as("_graft_k"), col("_graft_file"))
            .persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val mCnt = m.count()
            val keys0 = m.select(col("_graft_k")).distinct()
            // the whole-key law, DISTRIBUTED: deleting ALL
            // occurrences of a duplicated key is expressible; a
            // predicate that SPLITS a key's occurrences is not
            val span = df.select(col(c).as("_graft_k"))
              .join(keys0, Seq("_graft_k"), "leftsemi").count()
            require(span == mCnt,
              "graft-lake DELETE: the predicate matches only some " +
                "occurrences of a duplicated merge key — not " +
                "expressible as a whole-key rewrite")
            val nulls = schema().fields.toSeq.map(f =>
              lit(null).cast(f.dataType))
            val changes = keys0.select(
              (col("_graft_k") +: lit("d") +: nulls): _*)
            val probe0 = m.distinct().persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try
              graft.operators.LakeMaintenance.mergeDistributed(spark,
                root, changes, c, readVersion = scanVersion,
                probeHint = Some((probe0, scanVersion))): Unit
            finally probe0.unpersist(false): Unit
            return
          } finally m.unpersist(false): Unit
        }
        val matched = bounded.map(_.getLong(0)).toSeq
        if (matched.isEmpty) return
        // the whole-key law (shared guard): deleting ALL occurrences
        // of a duplicated key IS expressible (review r14 — the old
        // distinct check wrongly rejected it); only a predicate that
        // SPLITS a key's occurrences rejects
        val keys0 = graft.plans.LakeMergeSql.wholeKeyGuard(spark,
          root, c, matched, "DELETE", allowDuplicates = true,
          asOf = scanVersion)
        (c, keys0)
    }
    graft.operators.LakeMaintenance.merge(spark, root,
      Seq.empty, keyCol2, deletes = keys,
      readVersion =
        if (keyOnlyDelete(filters).isDefined) -1L else scanVersion): Unit
  }
}

final class LakeScanBuilder(table: LakeTable)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = table.schema()
  private var pruning: Array[Filter] = Array.empty
  private var pushedAgg
      : Option[org.apache.spark.sql.connector.expressions.aggregate.Aggregation] = None

  /** COUNT(*) and MIN/MAX over the stats column are pure LOG METADATA
    * for this source (r12 — the lakehouse analog of Parquet's
    * footer-only count): every add carries the writer-measured row
    * count and key window, so an unfiltered aggregate is answered
    * from the resolved snapshot without opening a single data file.
    * Spark only attempts the pushdown when no filter survives above
    * the scan (all our filters are residual, so ANY filter blocks
    * it — filtered aggregates need rows). Declined unless every live
    * file carries the needed stat: a hand-written add without a size
    * or key window must force the row path, never a wrong answer. */
  private def colOf(
      e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case nr: org.apache.spark.sql.connector.expressions.NamedReference =>
      Some(nr.fieldNames.mkString("."))
    case _ => None
  }

  private def canPush(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    import org.apache.spark.sql.connector.expressions.{aggregate => cagg}
    val statsIsLong = table.schema().fields.exists(f =>
      f.name == table.statsCol && f.dataType == LongType)
    // GROUP BY arm (r13): grouping by exactly the table's partition
    // column is ALSO pure log metadata — every add carries its
    // `partitionValues` (q237), so per-partition COUNT/MIN/MAX fold
    // over the grouped adds. Declined when any live file lacks the
    // value (pre-partitioning bootstrap files must force the row
    // path — never a wrong answer).
    val groupOk = agg.groupByExpressions.isEmpty ||
      (agg.groupByExpressions.length == 1 && table.partCol.nonEmpty &&
        agg.groupByExpressions.headOption.flatMap(colOf)
          .contains(table.partCol.get) &&
        table.live.forall(_.part.isDefined))
    // never push aggregates over a change feed: the log's sizes
    // describe LIVE rows, not change rows
    !table.changeFeed &&
      groupOk && agg.aggregateExpressions.nonEmpty &&
      pruning.isEmpty &&
      agg.aggregateExpressions.forall {
        case _: cagg.CountStar =>
          // deletion vectors (r14): the live count is size - dvRows,
          // exact (DV ordinals are distinct within the file)
          table.live.forall(_.size > 0L)
        case m: cagg.Min =>
          // a DV may have deleted the extremal row — the log window
          // is then stale; decline to the row path (never wrong)
          statsIsLong && colOf(m.column).contains(table.statsCol) &&
            table.live.forall(f =>
              f.minKey.isDefined && f.maxKey.isDefined &&
                f.dvRows == 0L)
        case m: cagg.Max =>
          statsIsLong && colOf(m.column).contains(table.statsCol) &&
            table.live.forall(f =>
              f.minKey.isDefined && f.maxKey.isDefined &&
                f.dvRows == 0L)
        case _ => false
      }
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = canPush(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    if (canPush(agg)) { pushedAgg = Some(agg); true } else false
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // empty projection (count(*)) still needs row COUNTS: keep one
    // narrow column so the reader has a chunk to walk
    required =
      if (requiredSchema.fields.nonEmpty) requiredSchema
      else StructType(Array(table.schema().fields.head))

  /** Accept range/equality/IN on LONG/INT columns — they drive file
    * pruning (stats column + r14 per-column stats) and row-group
    * pruning (any long column) — plus STRING predicates on ANY string
    * column (r14 general skipping; r12 accepted only `strStatsCol`
    * and the `partitionBy` column) and DOUBLE/FLOAT predicates on
    * double/float columns (pruned against the r14 `cstats` windows).
    * Everything is RETURNED as residual: Spark re-applies every
    * filter, so pruning is purely an optimization. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val longCols = table.schema().fields.collect {
      case f if f.dataType == LongType || f.dataType == IntegerType =>
        f.name
    }.toSet
    val strCols = table.schema().fields.collect {
      case f if f.dataType == StringType => f.name
    }.toSet ++ table.strStatsCol.toSet ++ table.partCol.toSet
    val dblCols = table.schema().fields.collect {
      case f if f.dataType == DoubleType || f.dataType == FloatType =>
        f.name
    }.toSet
    def num(v: Any): Boolean = v.isInstanceOf[Long] || v.isInstanceOf[Int]
    def str(v: Any): Boolean = v.isInstanceOf[String]
    def dbl(v: Any): Boolean =
      v.isInstanceOf[Double] || v.isInstanceOf[Float]
    def ok(c: String, v: Any): Boolean =
      (longCols(c) && num(v)) || (strCols(c) && str(v)) ||
        (dblCols(c) && dbl(v))
    val statCols = longCols ++ strCols ++ dblCols
    pruning = filters.filter {
      case EqualTo(c, v) => ok(c, v)
      case GreaterThan(c, v) => ok(c, v)
      case GreaterThanOrEqual(c, v) => ok(c, v)
      case LessThan(c, v) => ok(c, v)
      case LessThanOrEqual(c, v) => ok(c, v)
      case In(c, vs) => vs.nonEmpty && vs.forall(v => ok(c, v))
      // r14: nullCount rides in every cstats entry — IS [NOT] NULL
      // prunes all-null / no-null files from metadata alone
      case IsNull(c) => statCols(c)
      case IsNotNull(c) => statCols(c)
      case _ => false
    }
    filters // all residual
  }
  override def pushedFilters(): Array[Filter] = pruning

  override def build(): Scan = pushedAgg match {
    case Some(agg) => new LakeAggScan(table, agg)
    case None => new LakeScan(table, required, pruning)
  }
}

/** Complete aggregate pushdown (r12; GROUP BY partition column r13):
  * one metadata-only partition whose rows answer
  * COUNT(*)/MIN/MAX(statsCol) — one row ungrouped, one row per
  * `partitionValues` value when grouped — from the resolved log
  * snapshot, zero data files opened. An empty ungrouped table yields
  * count 0 and NULL min/max; an empty grouped one yields no rows
  * (engine aggregate semantics). */
final class LakeAggScan(table: LakeTable,
    agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    extends Scan with Batch {
  import org.apache.spark.sql.connector.expressions.{aggregate => cagg}

  private def grouped: Boolean = agg.groupByExpressions.nonEmpty

  override def readSchema(): StructType = {
    // Spark's complete-pushdown contract: groupBy columns first,
    // then the aggregate columns
    val g =
      if (grouped) Seq(StructField(table.partCol.get, StringType,
        nullable = true))
      else Seq.empty
    StructType(g ++ agg.aggregateExpressions.zipWithIndex.map {
      case (_: cagg.CountStar, i) =>
        StructField(s"count_star_$i", LongType, nullable = false)
      case (_, i) => StructField(s"agg_$i", LongType, nullable = true)
    })
  }

  override def toBatch: Batch = {
    if (table.changeFeed)
      throw new UnsupportedOperationException(
        "graft-lake changeFeed is served by readStream, not read")
    this
  }
  override def description(): String =
    s"graft-lake PUSHED-AGG=[${agg.aggregateExpressions.mkString(",")}]" +
      (if (grouped) s" GROUP-BY=[${table.partCol.get}]" else "")

  override def planInputPartitions(): Array[InputPartition] = {
    val live = table.live
    val groups: Seq[(Option[String], Seq[graft.operators.TxLog.LiveFile])] =
      if (!grouped) Seq((None, live))
      else live.groupBy(_.part).toSeq
        .sortBy(_._1.getOrElse("")).map { case (p, fs) => (p, fs) }
    val rows: Array[Array[Any]] = groups.map { case (p, fs) =>
      val aggVals: Seq[Any] = agg.aggregateExpressions.toSeq.map {
        case _: cagg.CountStar =>
          java.lang.Long.valueOf(fs.map(f => f.size - f.dvRows).sum): Any
        case _: cagg.Min =>
          if (fs.isEmpty) null
          else java.lang.Long.valueOf(fs.flatMap(_.minKey).min): Any
        case _: cagg.Max =>
          if (fs.isEmpty) null
          else java.lang.Long.valueOf(fs.flatMap(_.maxKey).max): Any
        case other =>
          throw new IllegalStateException(s"unpushable aggregate $other")
      }
      val g: Seq[Any] =
        if (grouped) Seq(UTF8String.fromString(p.get)) else Seq.empty
      (g ++ aggVals).toArray
    }.toArray
    Array(LakeAggPartition(rows))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(
          p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val rows = p.asInstanceOf[LakeAggPartition].rows
          private var i = -1
          override def next(): Boolean = { i += 1; i < rows.length }
          override def get(): InternalRow =
            new GenericInternalRow(rows(i))
          override def close(): Unit = ()
        }
    }
}

final case class LakeAggPartition(rows: Array[Array[Any]])
    extends InputPartition

/** Per-column [lo, hi] bounds compiled from the pushed filters —
  * serializable, applied at file level (stats column, from log
  * metadata) and row-group level (own-footer stats, in the reader). */
private[sources] object LakeBounds {
  def of(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case other => throw new IllegalArgumentException(s"$other")
  }

  /** (col → (lo, hi)) tightest window implied by the filters. */
  def compile(filters: Array[Filter]): Map[String, (Long, Long)] = {
    val m = scala.collection.mutable.Map
      .empty[String, (Long, Long)].withDefaultValue(
        (Long.MinValue, Long.MaxValue))
    def tighten(c: String, lo: Long, hi: Long): Unit = {
      val (l0, h0) = m(c)
      m(c) = (math.max(l0, lo), math.min(h0, hi))
    }
    def num(v: Any): Boolean = v.isInstanceOf[Long] || v.isInstanceOf[Int]
    filters.foreach {
      case EqualTo(c, v) if num(v) => tighten(c, of(v), of(v))
      case GreaterThan(c, v) if num(v) =>
        if (of(v) < Long.MaxValue) tighten(c, of(v) + 1, Long.MaxValue)
      case GreaterThanOrEqual(c, v) if num(v) =>
        tighten(c, of(v), Long.MaxValue)
      case LessThan(c, v) if num(v) =>
        if (of(v) > Long.MinValue) tighten(c, Long.MinValue, of(v) - 1)
      case LessThanOrEqual(c, v) if num(v) =>
        tighten(c, Long.MinValue, of(v))
      case In(c, vs) if vs.nonEmpty && vs.forall(num) =>
        tighten(c, vs.map(of).min, vs.map(of).max)
      case _ => () // string predicates prune through windowOf, not here
    }
    m.toMap
  }
}

final class LakeScan(table: LakeTable, required: StructType,
    plannedFilters: Array[Filter])
    extends Scan with Batch with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** REPORT STATISTICS to Catalyst (r15 — the r14 verdict's #3 ask):
    * the log already knows the exact live row count per add (and the
    * DV-dead count), so the planner sees real numbers at PLAN time —
    * a small lake dim table broadcast-joins immediately instead of
    * paying a first shuffle for AQE to rescue. Estimated POST-pruning
    * (the same file-survival filters the scan plans with), so a
    * selective predicate shrinks the estimate exactly as it shrinks
    * the scan; sizeInBytes scales with the PRUNED column set
    * (Catalyst's per-type default widths — column pruning makes a
    * narrow projection broadcastable even over a wide table). A
    * change-feed scan reports nothing (the live sizes describe live
    * rows, not change rows). */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val known = !table.changeFeed
      private val rows: Long =
        if (!known) 0L
        else prunedLive().map(f => math.max(0L, f.size - f.dvRows)).sum
      private val width: Long =
        math.max(8L, required.fields.map(_.dataType.defaultSize
          .toLong).sum)
      override def sizeInBytes(): java.util.OptionalLong =
        if (known) java.util.OptionalLong.of(
          math.max(1L, rows * width))
        else java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong =
        if (known) java.util.OptionalLong.of(rows)
        else java.util.OptionalLong.empty()
    }

  override def readSchema(): StructType = required
  override def toBatch: Batch = {
    // a batch change feed needs an explicit VERSION RANGE (Delta's
    // table_changes): without cdfFrom, a scan of live files cannot
    // produce per-version change rows — fail loudly rather than
    // null-fill a non-null _change_type
    if (table.changeFeed && table.cdfFrom < 0)
      throw new UnsupportedOperationException(
        "graft-lake changeFeed needs readStream, or a cdfFrom " +
          "(and optional cdfTo) version range for a batch read")
    this
  }
  override def description(): String =
    s"graft-lake pruned=[${required.fieldNames.mkString(",")}] " +
      s"pushed=[${filters.mkString(",")}]"

  @volatile private var filters: Array[Filter] = plannedFilters

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(table.statsCol))

  /** Runtime keys on the stats column narrow the FILE set — dynamic
    * file pruning; results never change (Spark re-applies the join). */
  override def filter(runtime: Array[Filter]): Unit = {
    val usable = runtime.filter {
      case EqualTo(c, v) =>
        c == table.statsCol && LakeBoundsSafe(v)
      case In(c, vs) =>
        c == table.statsCol && vs.nonEmpty && vs.forall(LakeBoundsSafe)
      case _ => false
    }
    filters = filters ++ usable
  }
  private def LakeBoundsSafe(v: Any): Boolean =
    v.isInstanceOf[Long] || v.isInstanceOf[Int]

  override def planInputPartitions(): Array[InputPartition] = {
    if (table.changeFeed) {
      // batch CDF (r13 — Delta's table_changes): the change rows of
      // the commit-version range [cdfFrom, cdfTo] (cdfTo < 0 = head);
      // file/stats pruning does not apply (filters stay residual)
      val vs = TxLog.commitVersions(s"${table.root}/log")
        .filter(v => v >= table.cdfFrom &&
          (table.cdfTo < 0 || v <= table.cdfTo))
      return LakeSource.cdfPartitions(table.root, vs,
        required.fieldNames.toSeq.map(table.physName))
    }
    val bounds = LakeBounds.compile(filters)
    // column mapping (r13): the reader locates leaves by PHYSICAL
    // name; bounds/projections arrive logical
    val rgBounds = required.fieldNames.toSeq
      .flatMap(n => bounds.get(n).map(table.physName(n) -> _))
      .filter { case (_, (lo, hi)) =>
        lo != Long.MinValue || hi != Long.MaxValue
      }
    val physCols = required.fieldNames.toSeq.map(table.physName)
    prunedLive()
      .map { f =>
        LakePartition(f.path, physCols, rgBounds,
          constCols =
            if (table.withFilePath) Map("_graft_file" -> f.path)
            else Map.empty,
          dvPath = f.dvPath): InputPartition
      }.toArray
  }

  /** The file-survival filter shared by partition planning and
    * statistics reporting (r15): every pushed predicate tested
    * against the log's key window, string windows, partition value
    * and per-column cstats. */
  private def prunedLive(): Seq[TxLog.LiveFile] = {
    val bounds = LakeBounds.compile(filters)
    val (klo, khi) = bounds.getOrElse(table.statsCol,
      (Long.MinValue, Long.MaxValue))
    // IN-sets on the stats column prune files whose [min,max] window
    // contains none of the keys
    def isNum(v: Any): Boolean = v.isInstanceOf[Long] || v.isInstanceOf[Int]
    val inSets = filters.collect {
      case In(c, vs) if c == table.statsCol && vs.nonEmpty &&
          vs.forall(isNum) =>
        vs.map(LakeBounds.of).toSet
      case EqualTo(c, v) if c == table.statsCol && isNum(v) =>
        Set(LakeBounds.of(v))
    }
    def keySurvives(f: TxLog.LiveFile): Boolean = (f.minKey, f.maxKey) match {
      case (Some(mn), Some(mx)) =>
        mx >= klo && mn <= khi &&
          inSets.forall(_.exists(v => v >= mn && v <= mx))
      case _ => true // statless files must scan
    }
    // r12 STRING pruning: the strStatsCol's [min_skey, max_skey]
    // window, and the partition value as the exact window [v, v] —
    // unsigned-lexicographic UTF-8 byte order, matching the writer's
    // measurement. Files without the stat must scan.
    def sLt(a: String, b: String): Boolean = TxLog.utf8Lt(a, b)
    def sLe(a: String, b: String): Boolean = !sLt(b, a)
    def windowOf(f: TxLog.LiveFile, c: String)
        : Option[(String, String)] =
      if (table.partCol.contains(c) && f.part.isDefined)
        f.part.map(p => (p, p))
      else if (table.strStatsCol.contains(c))
        (f.minSkey, f.maxSkey) match {
          case (Some(mn), Some(mx)) => Some((mn, mx))
          case _ => None
        }
      else None
    def strSurvives(f: TxLog.LiveFile): Boolean = filters.forall {
      case EqualTo(c, v: String) => windowOf(f, c).forall {
        case (mn, mx) => sLe(mn, v) && sLe(v, mx)
      }
      case In(c, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        windowOf(f, c).forall { case (mn, mx) =>
          vs.exists(v => sLe(mn, v.asInstanceOf[String]) &&
            sLe(v.asInstanceOf[String], mx))
        }
      case GreaterThan(c, v: String) =>
        windowOf(f, c).forall { case (_, mx) => sLt(v, mx) }
      case GreaterThanOrEqual(c, v: String) =>
        windowOf(f, c).forall { case (_, mx) => sLe(v, mx) }
      case LessThan(c, v: String) =>
        windowOf(f, c).forall { case (mn, _) => sLt(mn, v) }
      case LessThanOrEqual(c, v: String) =>
        windowOf(f, c).forall { case (mn, _) => sLe(mn, v) }
      case _ => true
    }
    // r14 GENERAL data skipping: every pushed filter on a column with
    // a per-file `cstats` entry tests the typed window; a present
    // entry with an ABSENT window means the column is all-null in
    // that file, so no comparison can match (writers drop entries
    // whole when a value can't ride the log — window absence is a
    // truth, never a degradation marker). Files without the entry
    // must scan.
    def dblOf(v: Any): Double = v match {
      case d: Double => d
      case fl: Float => fl.toDouble
      case other => throw new IllegalArgumentException(s"$other")
    }
    def isNumV(v2: Any): Boolean =
      v2.isInstanceOf[Long] || v2.isInstanceOf[Int]
    def isDblV(v2: Any): Boolean =
      v2.isInstanceOf[Double] || v2.isInstanceOf[Float]
    def cstatSurvives(f: TxLog.LiveFile): Boolean =
      f.cstats.isEmpty || filters.forall { flt =>
        def st(c: String, t: String): Option[TxLog.ColStat] =
          f.cstats.find(s0 => s0.col == table.physName(c) &&
            s0.tpe == t)
        def lw(c: String)(chk: (Long, Long) => Boolean): Boolean =
          st(c, "l").forall(s0 => (s0.mn, s0.mx) match {
            case (Some(a), Some(b)) => chk(a.toLong, b.toLong)
            case _ => false // all-null column: no comparison matches
          })
        def dw(c: String)(chk: (Double, Double) => Boolean): Boolean =
          st(c, "d").forall(s0 => (s0.mn, s0.mx) match {
            case (Some(a), Some(b)) => chk(a.toDouble, b.toDouble)
            case _ => false
          })
        def sw(c: String)(chk: (String, String) => Boolean): Boolean =
          st(c, "s").forall(s0 => (s0.mn, s0.mx) match {
            case (Some(a), Some(b)) => chk(a, b)
            case _ => false
          })
        flt match {
          case EqualTo(c, v: String) =>
            sw(c)((mn, mx) => sLe(mn, v) && sLe(v, mx))
          case EqualTo(c, v) if isNumV(v) =>
            lw(c)((mn, mx) => LakeBounds.of(v) >= mn &&
              LakeBounds.of(v) <= mx)
          case EqualTo(c, v) if isDblV(v) =>
            dw(c)((mn, mx) => dblOf(v) >= mn && dblOf(v) <= mx)
          case GreaterThan(c, v: String) => sw(c)((_, mx) => sLt(v, mx))
          case GreaterThan(c, v) if isNumV(v) =>
            lw(c)((_, mx) => mx > LakeBounds.of(v))
          case GreaterThan(c, v) if isDblV(v) =>
            dw(c)((_, mx) => mx > dblOf(v))
          case GreaterThanOrEqual(c, v: String) =>
            sw(c)((_, mx) => sLe(v, mx))
          case GreaterThanOrEqual(c, v) if isNumV(v) =>
            lw(c)((_, mx) => mx >= LakeBounds.of(v))
          case GreaterThanOrEqual(c, v) if isDblV(v) =>
            dw(c)((_, mx) => mx >= dblOf(v))
          case LessThan(c, v: String) => sw(c)((mn, _) => sLt(mn, v))
          case LessThan(c, v) if isNumV(v) =>
            lw(c)((mn, _) => mn < LakeBounds.of(v))
          case LessThan(c, v) if isDblV(v) =>
            dw(c)((mn, _) => mn < dblOf(v))
          case LessThanOrEqual(c, v: String) =>
            sw(c)((mn, _) => sLe(mn, v))
          case LessThanOrEqual(c, v) if isNumV(v) =>
            lw(c)((mn, _) => mn <= LakeBounds.of(v))
          case LessThanOrEqual(c, v) if isDblV(v) =>
            dw(c)((mn, _) => mn <= dblOf(v))
          case In(c, vs) if vs.nonEmpty &&
              vs.forall(_.isInstanceOf[String]) =>
            sw(c)((mn, mx) => vs.exists(v =>
              sLe(mn, v.asInstanceOf[String]) &&
                sLe(v.asInstanceOf[String], mx)))
          case In(c, vs) if vs.nonEmpty && vs.forall(isNumV) =>
            lw(c)((mn, mx) => vs.exists(v =>
              LakeBounds.of(v) >= mn && LakeBounds.of(v) <= mx))
          case In(c, vs) if vs.nonEmpty && vs.forall(isDblV) =>
            dw(c)((mn, mx) => vs.exists(v =>
              dblOf(v) >= mn && dblOf(v) <= mx))
          // nullCount pruning (r14): IS NULL prunes a file with zero
          // nulls in the column; IS NOT NULL prunes an all-null file
          // (entries are dropped whole when any value couldn't ride,
          // so the counts are exact when present)
          case IsNull(c) =>
            f.cstats.find(_.col == table.physName(c))
              .forall(_.nullCount > 0L)
          case IsNotNull(c) =>
            f.cstats.find(_.col == table.physName(c))
              .forall(s0 => s0.nullCount < f.size)
          case _ => true
        }
      }
    table.live
      .filter(f => keySurvives(f) && strSurvives(f) && cstatSurvives(f))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeReaderFactory(required)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // review r15 pass 2: the streaming planner has no constant-column
    // injection for _graft_file — a stream would declare the
    // non-nullable column and serve NULL; refuse loudly instead
    if (table.withFilePath)
      throw new UnsupportedOperationException(
        "graft-lake withFilePath is a batch-only face")
    new LakeMicroBatchStream(table, required)
  }
}

/** Streaming face of the connector (r11): the table's commit log IS
  * the arrival signal — each micro-batch plans the files ADDED by the
  * newly landed commit versions and emits their rows exactly once
  * (Spark's checkpoint replaces any hand-rolled ledger; the offset is
  * simply the highest commit version processed). Removes do not
  * retract — an append-only tail, the lakehouse streaming-source
  * convention; adds marked `dataChange=false` (compaction rewrites,
  * r12) are SKIPPED, so maintenance never re-emits rows; a
  * data-changing re-add re-emits, documented. Column pruning flows
  * through unchanged. `versionsPerTrigger` bounds admission per
  * trigger (the admission-control signature keeps restart offsets
  * monotone — the SceneMicroBatchStream lesson). */
final class LakeMicroBatchStream(table: LakeTable, required: StructType)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  import graft.operators.TxLog

  /** `startingVersion` (r13 — the Delta option): a fresh stream emits
    * versions ≥ it; the default 0 drains the whole history. Offsets
    * in an existing checkpoint always win (Spark only calls this on a
    * fresh query). */
  override def initialOffset(): Offset =
    LakeOffset(table.startingVersion - 1L)

  /** AvailableNow pins the end of the drain at prepare time (without
    * SupportsTriggerAvailableNow, Spark collapses the drain into ONE
    * batch and per-trigger admission never fires). */
  @volatile private var availableEnd: Long = Long.MaxValue
  override def prepareForTriggerAvailableNow(): Unit = {
    val vs = TxLog.commitVersions(s"${table.root}/log")
    availableEnd = if (vs.isEmpty) -1L else vs.max
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[LakeOffset].version
    val vs = TxLog.commitVersions(s"${table.root}/log")
      .filter(v => v > s && v <= availableEnd)
    val admitted = vs.take(table.versionsPerTrigger)
    LakeOffset(if (admitted.isEmpty) s else admitted.max)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Unreachable for SupportsAdmissionControl sources; required
    * override regardless. */
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-control entry point")

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LakeOffset].version
    val e = end.asInstanceOf[LakeOffset].version
    val vs = TxLog.commitVersions(s"${table.root}/log")
      .filter(v => v > s && v <= e)
    val physCols = required.fieldNames.toSeq.map(table.physName)
    if (table.changeFeed) {
      // ROW-LEVEL change feed (r13 — Delta CDF)
      LakeSource.cdfPartitions(table.root, vs, physCols)
    } else {
      // dataChange=false adds are REWRITES of rows already emitted
      // (compaction) — the change feed skips them (r12; r11
      // documented the re-emission as a wart, this is the fix)
      TxLog.addsInVersions(s"${table.root}/log", vs)
        .filter(_.dataChange).map { f =>
          LakePartition(f.path, physCols, Seq.empty): InputPartition
        }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeReaderFactory(required)

  override def deserializeOffset(json: String): Offset =
    LakeOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class LakeOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

final case class LakePartition(path: String, cols: Seq[String],
    rgBounds: Seq[(String, (Long, Long))],
    constCols: Map[String, String] = Map.empty,
    dvPath: Option[String] = None) extends InputPartition

final class LakeReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val lp = p.asInstanceOf[LakePartition]
    new LakePartitionReader(lp, required)
  }
}

/** Executor-side reader: one file, row groups pruned on OUR footer
  * stats, required chunks decoded via [[ParquetFile.readChunkCells]],
  * rows assembled positionally. */
final class LakePartitionReader(p: LakePartition, required: StructType)
    extends PartitionReader[InternalRow] {

  private val bytes = java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get(p.path))
  private val meta = ParquetFile.parseFooterMeta(bytes)

  // DELETION VECTOR (r14 — merge-on-read): the sidecar's row ordinals
  // are dead; `next()` skips them by the file-global ordinal (row
  // groups pruned by stats still advance the base — ordinals are a
  // property of the FILE, not of the scan).
  private val dvSet: java.util.BitSet = p.dvPath match {
    case None => null
    case Some(dp) =>
      val (_, dvCols) = ParquetFile.readFileColumns(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dp)))
      val bs = new java.util.BitSet()
      dvCols.head.asInstanceOf[graft.operators.ParquetWrite.LongCol]
        .vs.foreach(o => bs.set(o.toInt))
      bs
  }

  private var rgIdx = 0
  private var rowInRg = 0
  private var rgRows = 0
  private var rgStartOrd = 0L // file-global ordinal of the rg's row 0
  private var rowsSeen = 0L // rows of all groups BEFORE rgIdx
  // CellCol for flat columns, ListCells for array columns
  private var cells: Array[AnyRef] = null
  private val row = new GenericInternalRow(required.length)

  /** Advance to the next row group that survives the pushed bounds;
    * decode its required chunks. Returns false when exhausted. */
  private def nextRowGroup(): Boolean = {
    while (rgIdx < meta.rowGroups.length) {
      val rg = meta.rowGroups(rgIdx)
      rgIdx += 1
      val startOrd = rowsSeen
      rowsSeen += rg.numRows
      val prunable = p.rgBounds.forall { case (cn, (lo, hi)) =>
        rg.chunks.find(_.path == cn) match {
          case Some(c) if c.ptype == 1 || c.ptype == 2 =>
            (c.stats.minLong, c.stats.maxLong) match {
              case (Some(mn), Some(mx)) => mx >= lo && mn <= hi
              case _ => true // no stats: cannot skip
            }
          case _ => true
        }
      }
      if (prunable) {
        rgStartOrd = startOrd
        val n = rg.numRows.toInt
        cells = p.cols.map { cn =>
          // a column the file PREDATES (added by a later metaData
          // action, r12) has no leaf here: null-fill (cells = null)
          meta.leaves.find(l => l.path == cn ||
              l.path.startsWith(cn + ".")) match {
            case None => null
            case Some(lf) =>
              val c = rg.chunks.find(_.path == lf.path).getOrElse(
                throw new IllegalArgumentException(s"missing chunk $cn"))
              val cell: AnyRef =
                if (lf.maxRep == 0)
                  ParquetFile.readChunkCells(bytes, c, lf, n)
                else ParquetFile.readListCells(bytes, c, lf, n)
              cell
          }
        }.toArray
        rgRows = n
        rowInRg = 0
        if (n > 0) return true
      }
    }
    false
  }

  override def next(): Boolean = {
    while (true) {
      if (cells != null && rowInRg < rgRows) {
        if (dvSet == null || !dvSet.get((rgStartOrd + rowInRg).toInt))
          return true
        rowInRg += 1 // deleted by the DV: skip
      } else if (!nextRowGroup()) return false
    }
    false // unreachable
  }

  override def get(): InternalRow = {
    var i = 0
    while (i < required.length) {
      cells(i) match {
        case null => // column not in this file
          p.constCols.get(required.fields(i).name) match {
            case Some(v) => // injected constant (changeFeed inserts)
              row.update(i, UTF8String.fromString(v))
            case None => row.setNullAt(i) // added after this file
          }
        case cc: ParquetFile.CellCol =>
          if (!cc.defined(rowInRg)) row.setNullAt(i)
          else required.fields(i).dataType match {
            case LongType => row.setLong(i, cc.longs(rowInRg))
            case IntegerType => row.setInt(i, cc.longs(rowInRg).toInt)
            case DoubleType => row.setDouble(i, cc.dbls(rowInRg))
            case FloatType =>
              row.setFloat(i, cc.dbls(rowInRg).toFloat)
            case StringType =>
              row.update(i, UTF8String.fromBytes(cc.bins(rowInRg)))
            case t => throw new IllegalArgumentException(s"$t")
          }
        case lc: ParquetFile.ListCells =>
          if (!lc.defined(rowInRg)) row.setNullAt(i)
          else row.update(i,
            new org.apache.spark.sql.catalyst.util.GenericArrayData(
              lc.rows(rowInRg).asInstanceOf[Array[Any]]))
        case other => throw new IllegalStateException(s"$other")
      }
      i += 1
    }
    rowInRg += 1
    row
  }

  override def close(): Unit = ()
}

// =================================================================
// WRITE path (r11): `df.write.format("graft-lake").mode("append")`
// — the connector loop closes: data files from the engine's OWN
// parquet writer, a NEW commit version appended to the transaction
// log with per-file key stats, and automatic CHECKPOINT maintenance
// every `checkpointEvery` commits. Scope: APPEND to an existing
// table (the incremental-ingest operation; tables bootstrap via an
// initial data+log write, the q222 shape — schema then lives in the
// files, where this connector reads it from).
//
// 100 TB shape: each input partition writes one file map-side and
// ships only (path, rows, min, max) to the driver; the commit is one
// metadata file. Task retries are safe: files carry the task id in
// their name and only COMMITTED tasks' messages reach commit().
// =================================================================

/** One data file written by a task — with its key stats, optional
  * string-key stats (r12, `strStatsCol`) and optional partition value
  * (r12, `partitionBy`; a task writes one file PER partition value it
  * saw, so a file's rows all share the value — what makes the value a
  * pruning truth). */
final case class LakeAdd(path: String, numRows: Long,
    minKey: Long, maxKey: Long, hasKey: Boolean,
    minSkey: Option[String] = None, maxSkey: Option[String] = None,
    part: Option[String] = None,
    cstats: Seq[TxLog.ColStat] = Seq.empty)

final case class LakeCommitMessage(adds: Seq[LakeAdd])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

object LakeCommitMessage {
  /** Convenience for single-file messages (the un-partitioned path
    * and the spec fixtures). */
  def apply(path: String, numRows: Long, minKey: Long, maxKey: Long,
      hasKey: Boolean): LakeCommitMessage =
    if (numRows == 0) LakeCommitMessage(Seq.empty)
    else LakeCommitMessage(Seq(
      LakeAdd(path, numRows, minKey, maxKey, hasKey)))

  /** Render one add's commit line (shared by batch + streaming
    * commits): stats keys are dropped — never mangled — when a value
    * cannot ride the no-escape JSON subset; pruning then degrades to
    * a scan of that file, which is always correct. */
  private[sources] def line(a: LakeAdd): String =
    TxLog.renderAdd(TxLog.LiveFile(a.path, 0L, a.numRows,
      Option.when(a.hasKey)(a.minKey), Option.when(a.hasKey)(a.maxKey),
      a.minSkey, a.maxSkey, a.part, cstats = a.cstats), None, 0L, None)
}

/** The write MODE a builder resolved to (r15): plain append, full
  * truncate-overwrite, partition-scoped overwrite (the matching
  * partition VALUES, from the pushed filters), or dynamic partition
  * overwrite (replace exactly the partitions the job writes). */
private[sources] sealed trait LakeWriteMode
private[sources] case object LakeAppend extends LakeWriteMode
private[sources] case object LakeTruncate extends LakeWriteMode
private[sources] final case class LakeOverwriteParts(values: Set[String])
    extends LakeWriteMode
private[sources] case object LakeOverwriteDynamic extends LakeWriteMode

final class LakeWriteBuilder(table: LakeTable,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  private var mode: LakeWriteMode = LakeAppend

  override def truncate()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    mode = LakeTruncate
    this
  }

  /** Partition-scoped overwrite (Delta's replaceWhere contract,
    * partition-column form): the filters must resolve to an exact
    * partition-value set — =/IN on the table's partition column —
    * so removed files are whole by construction. AlwaysTrue means
    * full truncate. Anything else rejects loudly at planning. */
  override def overwrite(filters: Array[Filter])
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    if (filters.isEmpty ||
        filters.forall(_.isInstanceOf[AlwaysTrue])) {
      mode = LakeTruncate
      return this
    }
    val pc = table.partCol.getOrElse(throw new UnsupportedOperationException(
      "graft-lake INSERT OVERWRITE with a condition needs a " +
        "partitioned table (partitionBy) — arbitrary replaceWhere " +
        "predicates are out of scope"))
    val valueSets: Seq[Set[String]] = filters.toSeq.map {
      case EqualTo(c, v: String) if c == pc => Set(v)
      // static INSERT OVERWRITE … PARTITION (p = 'v') arrives as a
      // null-safe equality on the partition column
      case EqualNullSafe(c, v: String) if c == pc => Set(v)
      case In(c, vs) if c == pc && vs.nonEmpty &&
          vs.forall(_.isInstanceOf[String]) =>
        vs.map(_.asInstanceOf[String]).toSet
      case _: AlwaysTrue => null // conjunct-true: no constraint
      case other => throw new UnsupportedOperationException(
        s"graft-lake INSERT OVERWRITE: unsupported condition $other " +
          s"(= / IN on the partition column $pc)")
    }.filter(_ != null)
    require(valueSets.nonEmpty, "graft-lake INSERT OVERWRITE: no " +
      "partition predicate")
    mode = LakeOverwriteParts(valueSets.reduce(_ intersect _))
    this
  }

  override def overwriteDynamicPartitions()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(table.partCol.isDefined,
      "graft-lake dynamic partition overwrite needs a partitioned " +
        "table (partitionBy)")
    mode = LakeOverwriteDynamic
    this
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.Write {
      override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
        new LakeBatchWrite(table, info.schema(), mode)
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        require(mode == LakeAppend,
          "graft-lake streaming writes are append-only")
        new LakeStreamingWrite(table, info.schema(), info.queryId())
      }
    }
}

/** STREAMING sink face of the connector (r12 — the r11 verdict's #5
  * ask): `df.writeStream.format("graft-lake")` commits ONE log
  * version per epoch, exactly-once. The fence is a Delta-style `txn`
  * action carried IN the commit — `{"txn":{"app":<queryId>,
  * "epoch":E}}` — so a replayed epoch (failure between task success
  * and Spark's checkpoint advance) is detected by reading the log
  * itself: its rewritten files are dropped and NO second version
  * lands. The queryId is stable across restarts from the same
  * checkpoint, which is what makes the fence an app identity.
  * Checkpoint maintenance runs at the table's cadence, same as batch
  * appends.
  *
  * 100 TB shape: per epoch, executors write one own-codec file per
  * partition map-side and ship (path, rows, min, max); the driver
  * writes one metadata file. The fence scan is a log-metadata read. */
final class LakeStreamingWrite(table: LakeTable, schema: StructType,
    queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  locally {
    TxLog.checkProtocolWrite(s"${table.root}/log", s"${table.root}/ckpt")
    val t = table.schema()
    require(schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        t.fields.map(f => (f.name, f.dataType)).toSeq,
      s"graft-lake stream schema $schema does not match table schema $t")
    schema.fields.foreach(f => LakeSource.requireWritable(f.dataType))
  }

  // CHECK constraints (r13): resolved at stream start; per-row on
  // executors, a violating row fails the epoch before its commit
  private val checks = LakeSource.compileChecks(
    org.apache.spark.sql.SparkSession.active, schema,
    TxLog.activeConstraintsFast(s"${table.root}/log",
      s"${table.root}/ckpt", -1L))

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new LakeStreamingWriterFactory(table.root, schema, table.statsCol,
      table.schema().fields.map(f => f.name -> f.nullable).toMap,
      table.strStatsCol, table.partCol, table.physOf, checks)

  override def commit(epochId: Long, messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val adds = messages.collect { case m: LakeCommitMessage => m }
      .flatMap(_.adds).filter(_.numRows > 0)
    if (adds.isEmpty) return // empty epoch: nothing to fence
    val fence = TxLog.latestTxnFast(s"${table.root}/log",
      s"${table.root}/ckpt", queryId)
    if (fence.exists(_ >= epochId)) {
      // replayed epoch — the data already lives in a committed
      // version; the rerun tasks' files are duplicates, drop them.
      // Writer file names carry a per-writer UUID so a replay can
      // never regenerate a committed path, but guard anyway (ADVICE
      // r12): never delete a path the resolved live set references.
      val liveNow = TxLog.resolveLiveLocal(s"${table.root}/log",
        s"${table.root}/ckpt", -1L).map(_.path).toSet
      adds.filterNot(a => liveNow.contains(a.path)).foreach(a =>
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(a.path)): Unit)
      return
    }
    val lines = adds.map(LakeCommitMessage.line).toSeq :+
      (s"""{"txn":{"app":"${TxLog.requireJsonSafe(queryId)}",""" +
        s""""epoch":$epochId}}""") :+
      TxLog.commitInfoLine("STREAMING UPDATE")
    // blind commit (adds + fence): version collisions with concurrent
    // batch appends retry safely (r13)
    val next = TxLog.commitVersionWithRetry(
      s"${table.root}/log", s"${table.root}/ckpt", lines)
    val every = math.max(1, table.checkpointEvery).toLong
    if ((next + 1) % every == 0L)
      TxLog.writeCheckpoint(
        org.apache.spark.sql.SparkSession.active,
        s"${table.root}/log", s"${table.root}/ckpt", next)
  }

  override def abort(epochId: Long, messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    messages.foreach {
      case m: LakeCommitMessage =>
        m.adds.filter(_.path.nonEmpty).foreach(a =>
          java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(a.path)): Unit)
      case _ => ()
    }
}

final class LakeStreamingWriterFactory(root: String,
    schema: StructType, statsCol: String,
    nullableOf: Map[String, Boolean],
    strStatsCol: Option[String], partCol: Option[String],
    physOf: Map[String, String] = Map.empty,
    checks: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] =
      Seq.empty)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    // the per-writer UUID makes streaming data-file names
    // collision-proof (ADVICE r12): Spark task IDs reset to 0 in a
    // restarted application, so a replayed epoch with (partitionId,
    // taskId, epochId) alone could regenerate — and overwrite — the
    // exact paths an already-committed version references
    new LakeDataWriter(root, schema, statsCol, nullableOf,
      partitionId, taskId,
      s"-e$epochId-${java.util.UUID.randomUUID().toString.take(8)}",
      strStatsCol, partCol, physOf, checks)
}

final class LakeBatchWrite(table: LakeTable, schema: StructType,
    mode: LakeWriteMode = LakeAppend)
    extends org.apache.spark.sql.connector.write.BatchWrite {

  // append schema must match the table byte-for-byte — the files ARE
  // the schema authority in this format
  locally {
    TxLog.checkProtocolWrite(s"${table.root}/log", s"${table.root}/ckpt")
    val t = table.schema()
    require(schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        t.fields.map(f => (f.name, f.dataType)).toSeq,
      s"graft-lake append schema $schema does not match table schema $t")
    schema.fields.foreach(f => LakeSource.requireWritable(f.dataType))
  }

  // CHECK constraints (r13): compiled once on the driver, evaluated
  // per row on executors; a violating row fails the job before any
  // commit
  private val checks = LakeSource.compileChecks(
    org.apache.spark.sql.SparkSession.active, schema,
    TxLog.activeConstraintsFast(s"${table.root}/log",
      s"${table.root}/ckpt", -1L))

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory =
    new LakeWriterFactory(table.root, schema, table.statsCol,
      table.schema().fields.map(f => f.name -> f.nullable).toMap,
      table.strStatsCol, table.partCol, table.physOf, checks)

  /** Driver-side commit: ONE new log version carrying the adds (with
    * the key stats the writers measured), then checkpoint maintenance
    * at the cadence. */
  override def commit(messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val adds = messages.collect { case m: LakeCommitMessage => m }
      .flatMap(_.adds).filter(_.numRows > 0)
    val addLines = adds.map(LakeCommitMessage.line).toSeq
    val next: Long = mode match {
      case LakeAppend =>
        // an empty append commits NO version — and must run NO
        // checkpoint maintenance either (ADVICE r12: a checkpoint +
        // pointer for a never-committed version makes the next real
        // commit's rows permanently invisible to resolution)
        if (addLines.isEmpty) return
        // optimistic concurrency (r13): appends are BLIND — they
        // remove nothing — so a version collision with any other
        // committer is always safe to retry at the next version
        TxLog.commitVersionWithRetry(
          s"${table.root}/log", s"${table.root}/ckpt",
          addLines :+ TxLog.commitInfoLine("APPEND"))
      case other => commitOverwrite(other, adds.toSeq, addLines)
    }
    if (next < 0) return // overwrite of nothing with nothing: no-op
    // checkpoint maintenance: compact every `checkpointEvery` commits
    // so resolution stays O(cadence) as history grows (the q217 law)
    val every = math.max(1, table.checkpointEvery).toLong
    if ((next + 1) % every == 0L)
      TxLog.writeCheckpoint(
        org.apache.spark.sql.SparkSession.active,
        s"${table.root}/log", s"${table.root}/ckpt", next)
  }

  /** OVERWRITE commit (r15 — the r14 verdict's #2 ask): ONE version
    * carrying remove(replaced files) + add(new files) — the same
    * shape compaction commits daily, so time travel to the
    * pre-overwrite snapshot and DESCRIBE HISTORY are intact for free.
    * The remove set is resolved INSIDE the pin-retry loop, so the
    * overwrite always replaces exactly the live set at its own commit
    * version (a concurrent append either lands before — and is
    * replaced — or after — and survives; never half-seen).
    *
    * Contracts enforced loudly: partition-scoped overwrite requires
    * every written file's partition value to satisfy the condition
    * (Delta's replaceWhere rule) and every candidate live file to
    * CARRY a partition value (a part-less file may hold rows of any
    * value — removing or keeping it whole would both be wrong);
    * dynamic overwrite replaces exactly the partitions written. */
  private def commitOverwrite(m: LakeWriteMode, adds: Seq[LakeAdd],
      addLines: Seq[String]): Long = {
    def abortAdds(msg: String): Nothing = {
      adds.foreach(a => java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(a.path)): Unit)
      throw new IllegalArgumentException(s"graft-lake OVERWRITE: $msg")
    }
    val replaced: Set[String] = m match {
      case LakeOverwriteParts(vals) =>
        adds.find(a => !a.part.exists(vals.contains)).foreach(a =>
          abortAdds(s"written file ${a.path} carries partition " +
            s"value ${a.part} outside the overwrite condition " +
            s"$vals — the written data must match the condition"))
        vals
      case LakeOverwriteDynamic =>
        adds.find(_.part.isEmpty).foreach(a =>
          abortAdds(s"written file ${a.path} carries no partition " +
            "value — dynamic overwrite needs partitioned writes"))
        adds.flatMap(_.part).toSet
      case _ => Set.empty // truncate: everything
    }
    var attempts = 0
    while (attempts < 1000) {
      val next = TxLog.nextVersion(
        s"${table.root}/log", s"${table.root}/ckpt")
      val liveNow = TxLog.resolveLiveLocal(
        s"${table.root}/log", s"${table.root}/ckpt", -1L)
      val removes = m match {
        case LakeTruncate => liveNow
        case _ =>
          liveNow.find(_.part.isEmpty).foreach(f =>
            abortAdds(s"live file ${f.path} carries no partition " +
              "value — a partition-scoped overwrite cannot replace " +
              "or keep it whole (compact the table into partitions " +
              "first)"))
          liveNow.filter(_.part.exists(replaced.contains))
      }
      val lines = removes.map(f =>
        s"""{"remove":{"path":"${TxLog.requireJsonSafe(f.path)}"}}""") ++
        addLines
      if (lines.isEmpty) return -1L // nothing removed, nothing added
      try {
        TxLog.commitVersion(s"${table.root}/log", next,
          lines :+ TxLog.commitInfoLine("OVERWRITE"))
        return next
      } catch {
        case _: TxLog.CommitCollisionException => attempts += 1
      }
    }
    abortAdds("could not commit after 1000 collisions")
  }

  override def abort(messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    messages.foreach {
      case m: LakeCommitMessage =>
        m.adds.filter(_.path.nonEmpty).foreach(a =>
          java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(a.path)): Unit)
      case _ => ()
    }
}

final class LakeWriterFactory(root: String, schema: StructType,
    statsCol: String, nullableOf: Map[String, Boolean],
    strStatsCol: Option[String], partCol: Option[String],
    physOf: Map[String, String] = Map.empty,
    checks: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] =
      Seq.empty)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new LakeDataWriter(root, schema, statsCol, nullableOf,
      partitionId, taskId, "", strStatsCol, partCol, physOf, checks)
}

/** One file per input partition — or one per (partition × partition
  * value) when the table is `partitionBy`-partitioned (r12) —
  * serialized by [[ParquetWrite]] on task commit; nothing touches the
  * log until the DRIVER commits. With `strStatsCol` set, each file's
  * add carries unsigned-lexicographic string min/max for that column
  * (measured over the buffered values, same byte order the footer
  * stats use). */
final class LakeDataWriter(root: String, schema: StructType,
    statsCol: String, nullableOf: Map[String, Boolean],
    partitionId: Int, taskId: Long, tag: String = "",
    strStatsCol: Option[String] = None, partCol: Option[String] = None,
    physOf: Map[String, String] = Map.empty,
    checks: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] =
      Seq.empty)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {

  // column mapping (r13): files carry PHYSICAL column names
  private def physName(n: String): String = physOf.getOrElse(n, n)

  // CHECK constraints, CODEGEN'd (r14): compiled once per writer on
  // the executor (generated classes don't serialize); eval == false
  // is a genuine violation — NULL passes inside the compiled wrapper
  private val compiledChecks: Array[(String,
      org.apache.spark.sql.catalyst.expressions.BasePredicate)] =
    checks.map { case (nm, e) =>
      val p = LakeSource.compiledCheck(e)
      p.initialize(partitionId)
      (nm, p)
    }.toArray

  private val strIdx = strStatsCol
    .map(c => schema.fieldNames.indexOf(c)).getOrElse(-1)
  locally {
    strStatsCol.foreach { c =>
      require(strIdx >= 0 && schema.fields(strIdx).dataType == StringType,
        s"strStatsCol $c must be a string column of the table")
    }
  }
  private val partIdx = partCol
    .map(c => schema.fieldNames.indexOf(c)).getOrElse(-1)
  locally {
    partCol.foreach { c =>
      require(partIdx >= 0 && schema.fields(partIdx).dataType == StringType,
        s"partitionBy $c must be a string column of the table")
    }
  }

  // one boxed-value buffer per column: java.lang.Long / String /
  // java.lang.Double / java.lang.Float for flat columns, Array[AnyRef]
  // (the row's elements, nulls preserved) for array columns
  private val bufs = schema.fields.map(_ =>
    new scala.collection.mutable.ArrayBuffer[AnyRef]())
  private var n = 0L
  private val keyIdx = schema.fieldNames.indexOf(statsCol)
  private val keyIsLong = keyIdx >= 0 &&
    schema.fields(keyIdx).dataType == LongType

  override def write(row: InternalRow): Unit = {
    // CHECK constraints (r13; codegen'd r14): FALSE rejects the row
    // and fails the job/epoch before any commit; NULL passes (the
    // SQL CHECK rule, folded into the compiled predicate)
    var ci = 0
    while (ci < compiledChecks.length) {
      if (!compiledChecks(ci)._2.eval(row))
        throw new IllegalArgumentException(
          s"graft-lake: CHECK constraint ${compiledChecks(ci)._1} " +
            "violated")
      ci += 1
    }
    var i = 0
    while (i < schema.length) {
      val v: AnyRef =
        if (row.isNullAt(i)) null
        else schema.fields(i).dataType match {
          case LongType => java.lang.Long.valueOf(row.getLong(i))
          case StringType => row.getUTF8String(i).toString
          case DoubleType => java.lang.Double.valueOf(row.getDouble(i))
          case FloatType => java.lang.Float.valueOf(row.getFloat(i))
          case ArrayType(et, _) =>
            val a = row.getArray(i)
            val out = new Array[AnyRef](a.numElements())
            var j = 0
            while (j < out.length) {
              out(j) =
                if (a.isNullAt(j)) null
                else et match {
                  case LongType => java.lang.Long.valueOf(a.getLong(j))
                  case DoubleType =>
                    java.lang.Double.valueOf(a.getDouble(j))
                  case _ => java.lang.Float.valueOf(a.getFloat(j))
                }
              j += 1
            }
            out
          case t => throw new IllegalArgumentException(s"$t")
        }
      bufs(i) += v
      i += 1
    }
    n += 1
  }

  private def buildCols(idx: Array[Int]): Seq[ParquetWrite.Col] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      def at(j: Int): AnyRef = bufs(i)(j)
      val nullable = nullableOf.getOrElse(f.name, true)
      val nm = physName(f.name)
      f.dataType match {
        case LongType =>
          if (nullable) ParquetWrite.OptLongCol(nm,
            idx.map(j => at(j).asInstanceOf[java.lang.Long]))
          else ParquetWrite.LongCol(nm, idx.map(j =>
            at(j).asInstanceOf[java.lang.Long].longValue()))
        case StringType =>
          if (nullable) ParquetWrite.OptStrCol(nm,
            idx.map(j => at(j).asInstanceOf[String]))
          else ParquetWrite.StrCol(nm,
            idx.map(j => at(j).asInstanceOf[String]))
        case DoubleType =>
          if (nullable) ParquetWrite.OptDoubleCol(nm,
            idx.map(j => at(j).asInstanceOf[java.lang.Double]))
          else ParquetWrite.DoubleCol(nm, idx.map(j =>
            at(j).asInstanceOf[java.lang.Double].doubleValue()))
        case FloatType =>
          if (nullable) ParquetWrite.OptFloatCol(nm,
            idx.map(j => at(j).asInstanceOf[java.lang.Float]))
          else ParquetWrite.FloatCol(nm, idx.map(j =>
            at(j).asInstanceOf[java.lang.Float].floatValue()))
        case ArrayType(LongType, _) =>
          ParquetWrite.LongListCol(nm, idx.map(j =>
            if (at(j) == null) null
            else at(j).asInstanceOf[Array[AnyRef]]
              .map(_.asInstanceOf[java.lang.Long])))
        case ArrayType(DoubleType, _) =>
          ParquetWrite.DoubleListCol(nm, idx.map(j =>
            if (at(j) == null) null
            else at(j).asInstanceOf[Array[AnyRef]]
              .map(_.asInstanceOf[java.lang.Double])))
        case ArrayType(FloatType, _) =>
          ParquetWrite.FloatListCol(nm, idx.map(j =>
            if (at(j) == null) null
            else at(j).asInstanceOf[Array[AnyRef]]
              .map(_.asInstanceOf[java.lang.Float])))
        case t => throw new IllegalArgumentException(s"$t")
      }
    }.toSeq

  private def utf8Lt(a: String, b: String): Boolean =
    TxLog.utf8Lt(a, b)

  /** Per-column file statistics (r14 — general data skipping): min /
    * max / nullCount for the first 8 columns of supported scalar
    * types, keyed by PHYSICAL name (stats survive RENAME). Entries
    * are dropped WHOLE — never window-only — when a value cannot
    * ride the log (>64-char strings, NaN, unsafe chars), because an
    * absent window on a present entry means "all nulls" to the
    * pruner (a pruning truth, never a degradation marker). */
  private def cstatsOf(idx: Array[Int]): Seq[TxLog.ColStat] = {
    val limit = math.min(schema.length, 8)
    (0 until limit).flatMap { i =>
      val nm = physName(schema.fields(i).name)
      schema.fields(i).dataType match {
        case LongType =>
          var mn = Long.MaxValue; var mx = Long.MinValue; var nc = 0L
          idx.foreach { j =>
            val v = bufs(i)(j).asInstanceOf[java.lang.Long]
            if (v == null) nc += 1
            else {
              if (v.longValue() < mn) mn = v.longValue()
              if (v.longValue() > mx) mx = v.longValue()
            }
          }
          Some(TxLog.ColStat(nm, "l",
            if (mn <= mx) Some(mn.toString) else None,
            if (mn <= mx) Some(mx.toString) else None, nc))
        case DoubleType | FloatType =>
          var mn = Double.PositiveInfinity
          var mx = Double.NegativeInfinity
          var nc = 0L; var drop = false
          idx.foreach { j =>
            bufs(i)(j) match {
              case null => nc += 1
              case d: java.lang.Double =>
                if (d.isNaN) drop = true
                else {
                  if (d.doubleValue() < mn) mn = d.doubleValue()
                  if (d.doubleValue() > mx) mx = d.doubleValue()
                }
              case f: java.lang.Float =>
                if (f.isNaN) drop = true
                else {
                  val v = f.floatValue().toDouble
                  if (v < mn) mn = v
                  if (v > mx) mx = v
                }
              case _ => drop = true
            }
          }
          if (drop) None
          else Some(TxLog.ColStat(nm, "d",
            if (mn <= mx) Some(mn.toString) else None,
            if (mn <= mx) Some(mx.toString) else None, nc))
        case StringType =>
          var mn: String = null; var mx: String = null
          var nc = 0L; var drop = false
          idx.foreach { j =>
            val v = bufs(i)(j).asInstanceOf[String]
            if (v == null) nc += 1
            else if (v.length > 64 || TxLog.jsonSafe(v).isEmpty)
              drop = true
            else {
              if (mn == null || utf8Lt(v, mn)) mn = v
              if (mx == null || utf8Lt(mx, v)) mx = v
            }
          }
          if (drop) None
          else Some(TxLog.ColStat(nm, "s", Option(mn), Option(mx), nc))
        case _ => None // arrays: not prunable
      }
    }
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    if (n == 0) return LakeCommitMessage(Seq.empty)
    // one file per partition value seen (None when unpartitioned or
    // the value is null — such files carry no part key and must scan)
    val groups: Seq[(Option[String], Array[Int])] =
      if (partIdx < 0) Seq((None, Array.range(0, n.toInt)))
      else (0 until n.toInt)
        .groupBy(j => Option(bufs(partIdx)(j).asInstanceOf[String]))
        .toSeq.sortBy(_._1.getOrElse(""))
        .map { case (pv, js) => (pv, js.toArray) }
    val adds = groups.zipWithIndex.map { case ((pv, idx), gi) =>
      val bytes = ParquetWrite.writeFile(buildCols(idx),
        rowsPerGroup = 1024)
      val part = if (partIdx >= 0) s"-p$gi" else ""
      val p = s"$root/data/append-$partitionId-$taskId$tag$part.parquet"
      java.nio.file.Files.write(java.nio.file.Paths.get(p), bytes): Unit
      var mnK = Long.MaxValue; var mxK = Long.MinValue
      if (keyIsLong) idx.foreach { j =>
        val v = bufs(keyIdx)(j).asInstanceOf[java.lang.Long]
        if (v != null) {
          if (v.longValue() < mnK) mnK = v.longValue()
          if (v.longValue() > mxK) mxK = v.longValue()
        }
      }
      var mnS: String = null; var mxS: String = null
      if (strIdx >= 0) idx.foreach { j =>
        val v = bufs(strIdx)(j).asInstanceOf[String]
        if (v != null) {
          if (mnS == null || utf8Lt(v, mnS)) mnS = v
          if (mxS == null || utf8Lt(mxS, v)) mxS = v
        }
      }
      LakeAdd(p, idx.length.toLong, mnK, mxK,
        hasKey = keyIsLong && mnK <= mxK,
        minSkey = Option(mnS), maxSkey = Option(mxS), part = pv,
        cstats = cstatsOf(idx))
    }
    LakeCommitMessage(adds)
  }

  override def abort(): Unit = ()
  override def close(): Unit = ()
}
