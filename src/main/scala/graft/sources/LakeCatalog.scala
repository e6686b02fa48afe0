package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.ProcedureCatalog
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.TxLog

/** SQL/catalog surface for the lakehouse (r14 — the r13 verdict's #1
  * ask): a [[TableCatalog]] mapping `catalog.namespace….table`
  * identifiers to lake-table roots under a `warehouse` directory, so
  * every Delta-parity capability built in r11–r13 is reachable as the
  * SQL every Spark user actually writes:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     "graft.sources.LakeCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/w")
  *
  *   CREATE TABLE graft.db.t (doc_id BIGINT NOT NULL, s STRING)
  *     USING graft-lake [PARTITIONED BY (lang)]
  *     [TBLPROPERTIES ('statsCol'='doc_id')]
  *   INSERT INTO graft.db.t SELECT …           -- and CTAS
  *   SELECT * FROM graft.db.t [VERSION AS OF 3 | TIMESTAMP AS OF …]
  *   ALTER TABLE graft.db.t ADD COLUMN v BIGINT
  *   ALTER TABLE graft.db.t RENAME COLUMN v TO w
  *   ALTER TABLE graft.db.t DROP COLUMN w
  *   DELETE FROM graft.db.t WHERE doc_id IN (…)   -- LakeTable
  *   MERGE INTO graft.db.t USING … ON …           -- GraftExtensions
  *   DROP TABLE graft.db.t / SHOW TABLES IN graft.db
  * }}}
  *
  * Everything routes into the EXISTING `TxLog`/`LakeSource`/
  * `LakeMaintenance` machinery — the catalog is pure wiring:
  *  - identifier → path: `warehouse/ns…/name` (path-safe segments);
  *  - CREATE TABLE commits version 0 carrying the `metaData` schema
  *    action (the log is the schema authority, so an EMPTY table is
  *    immediately readable) + table options in a `props.json` sidecar
  *    (statsCol / strStatsCol / partitionBy / checkpointEvery — the
  *    same options the path-based reader takes). Concurrent creates
  *    race on the version-0 commit's atomic rename: exactly one wins.
  *  - `VERSION AS OF` / `TIMESTAMP AS OF` map to the connector's
  *    `asOf` / `asOfTs` (micros → millis) time travel;
  *  - ALTER TABLE ADD/RENAME/DROP COLUMN map to the r12/r13 metaData
  *    evolution (column mapping, fresh physical names, no rewrites).
  *
  * 100 TB shape: unchanged — the catalog only resolves identifiers;
  * planning, pruning and commits are the connector's. */
class LakeCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"catalog $name requires the 'warehouse' option " +
        s"(spark.sql.catalog.$name.warehouse=<dir>)")
  }

  override def name(): String = catalogName

  /** Path-safe identifier segment: no separators, no traversal — an
    * identifier can never escape the warehouse. */
  private def sane(part: String): String = {
    require(part.nonEmpty && part.forall(c => c.isLetterOrDigit ||
        c == '_' || c == '-') && part != "-",
      s"graft catalog: unsupported identifier segment '$part' " +
        "(letters, digits, _ and - only)")
    part
  }

  private def rootOf(ident: Identifier): String =
    (warehouse +: (ident.namespace().toSeq.map(sane) :+
      sane(ident.name()))).mkString("/")

  private def nsDir(ns: Array[String]): java.io.File =
    new java.io.File((warehouse +: ns.toSeq.map(sane)).mkString("/"))

  private def isTableDir(f: java.io.File): Boolean =
    new java.io.File(f, "log").isDirectory

  override def tableExists(ident: Identifier): Boolean = {
    val root = rootOf(ident)
    // checkpoint-aware (review r14): log expiry can empty the commit
    // dir while the table stays fully readable through the pointer
    // checkpoint — existence must not flip false (a CREATE over live
    // data would otherwise succeed)
    TxLog.commitVersions(s"$root/log").nonEmpty ||
      TxLog.readPointer(s"$root/ckpt").isDefined
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = nsDir(namespace)
    if (!d.isDirectory) throw new NoSuchNamespaceException(namespace)
    Option(d.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && isTableDir(f))
      .sortBy(_.getName)
      .map(f => Identifier.of(namespace, f.getName)).toArray
  }

  // ---- table properties sidecar (statsCol & friends — the same
  // options the path-based reader takes; written once at CREATE) ----

  private val PropKeys =
    Seq("statsCol", "strStatsCol", "partitionBy", "checkpointEvery")

  private def writeProps(root: String,
      props: Map[String, String]): Unit = {
    val body = props.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""${TxLog.requireJsonSafe(k)}":"${TxLog.requireJsonSafe(v)}""""
    }.mkString("{", ",", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/props.json"),
      body.getBytes("UTF-8")): Unit
  }

  private def readProps(root: String): Map[String, String] =
    LakeCatalog.readProps(root)

  private def loadAt(ident: Identifier, asOf: Long,
      asOfTs: Long, changeFeed: Boolean = false): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val root = rootOf(ident)
    val opts = new java.util.HashMap[String, String]()
    opts.put("path", root): Unit
    if (asOf >= 0) opts.put("asOf", asOf.toString): Unit
    if (asOfTs >= 0) opts.put("asOfTs", asOfTs.toString): Unit
    if (changeFeed) opts.put("changeFeed", "true"): Unit
    readProps(root).foreach { case (k, v) => opts.put(k, v): Unit }
    LakeSource.tableOf(new CaseInsensitiveStringMap(opts))
  }

  /** The CHANGE-FEED face by NAME (r15 — the Iceberg metadata-table
    * pattern: `db.t.changes` is the table's row-level change feed,
    * schema + `_change_type`). The changeFeed flag must ride TABLE
    * resolution (it widens the schema — a scan option is too late),
    * so `<cat>.db.t.changes` resolves as Identifier([db, t],
    * "changes"); batch reads compose with `cdfFrom`/`cdfTo` and
    * streams with `startingVersion`/`startingTimestamp` through the
    * scan options. A REAL table named `changes` always wins. */
  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident) && ident.name() == "changes" &&
        ident.namespace().length >= 1) { // review r15: >= 2 made the
      // change feed unreachable for root-namespace tables
      val parent = Identifier.of(ident.namespace().dropRight(1),
        ident.namespace().last)
      if (tableExists(parent))
        return loadAt(parent, -1L, -1L, changeFeed = true)
    }
    loadAt(ident, -1L, -1L)
  }

  /** `VERSION AS OF n` (Spark's SQL time travel entry point). */
  override def loadTable(ident: Identifier, version: String): Table = {
    require(version.forall(_.isDigit) && version.nonEmpty,
      s"graft catalog: VERSION AS OF takes a commit version, got " +
        s"'$version'")
    loadAt(ident, version.toLong, -1L)
  }

  /** `TIMESTAMP AS OF ts` — Spark hands MICROseconds since epoch;
    * the connector's `asOfTs` takes millis. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    loadAt(ident, -1L, timestamp / 1000L)

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    if (tableExists(ident))
      throw new TableAlreadyExistsException(ident.toString)
    // the writable surface only — CREATE with an unsupported type
    // must reject here, not brick the first append
    schema.fields.foreach(f => LakeSource.requireWritable(f.dataType))
    val partCol: Option[String] = partitions.toSeq match {
      case Seq() => None
      case Seq(t) if t.name == "identity" && t.references().length == 1 =>
        val c = t.references()(0).fieldNames().mkString(".")
        val fld = schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"graft catalog: PARTITIONED BY names unknown column $c"))
        require(fld.dataType == StringType,
          s"graft catalog: partition column $c must be STRING")
        Some(c)
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported partitioning " +
          s"${other.mkString(", ")} (one identity column max)")
    }
    val root = rootOf(ident)
    new java.io.File(s"$root/data").mkdirs(): Unit
    val cols = schema.fields.toSeq.map(f =>
      TxLog.MetaCol(f.name, LakeSource.nameOf(f.dataType), f.nullable))
    val props = Option(properties).map(
        scala.jdk.CollectionConverters.MapHasAsScala(_).asScala.toMap)
      .getOrElse(Map.empty)
      .filter { case (k, _) => PropKeys.exists(_.equalsIgnoreCase(k)) }
      .map { case (k, v) =>
        PropKeys.find(_.equalsIgnoreCase(k)).get -> v
      } ++ partCol.map("partitionBy" -> _)
    try
      // version 0 = the schema action: the log is the schema
      // authority, so the empty table reads immediately; the atomic
      // rename makes concurrent CREATEs race to exactly one winner
      TxLog.commitVersion(s"$root/log", 0L, Seq(
        TxLog.metaDataLine(cols),
        TxLog.commitInfoLine("CREATE TABLE")))
    catch {
      case _: TxLog.CommitCollisionException =>
        throw new TableAlreadyExistsException(ident.toString)
    }
    // props land only AFTER winning the v0 race (review r14: a losing
    // concurrent CREATE must never clobber the winner's properties)
    writeProps(root, props)
    loadTable(ident)
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val root = rootOf(ident)
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "graft catalog: nested ADD COLUMN is not supported")
        require(a.isNullable,
          "graft catalog: added columns must be nullable (existing " +
            "rows have no value)")
        require(a.position() == null,
          "graft catalog: ADD COLUMN … FIRST/AFTER is not supported")
        LakeSource.addColumn(root, a.fieldNames()(0),
          LakeSource.nameOf(a.dataType())): Unit
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          "graft catalog: nested RENAME COLUMN is not supported")
        val old = r.fieldNames()(0)
        LakeSource.renameColumn(root, old, r.newName()): Unit
        // table properties referencing the column follow the rename
        // (review r14: a stale partitionBy/statsCol in props.json
        // bricked every later append). Only COLUMN-NAMING keys are
        // rewritten (ADVICE r14: matching all prop values corrupted
        // e.g. checkpointEvery when a digit-named column equalled its
        // numeric value)
        val colKeys = Set("statsCol", "strStatsCol", "partitionBy")
        val props = readProps(root)
        if (props.exists(kv => colKeys(kv._1) && kv._2 == old))
          writeProps(root, props.map { case (k, v) =>
            k -> (if (colKeys(k) && v == old) r.newName() else v)
          })
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          "graft catalog: nested DROP COLUMN is not supported")
        val dropped = d.fieldNames()(0)
        // a prop-referenced column cannot be dropped: the table's
        // partitioning/stats contract names it (review r14)
        readProps(root).find(_._2 == dropped).foreach { case (k, _) =>
          throw new IllegalArgumentException(
            s"graft catalog: cannot drop column $dropped — table " +
              s"property $k references it")
        }
        LakeSource.dropColumn(root, dropped): Unit
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER TABLE change $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = new java.io.File(rootOf(ident))
    if (!dir.isDirectory || !isTableDir(dir)) false
    else { graft.queries.Scratch.deleteTree(dir); true }
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent))
      throw new TableAlreadyExistsException(newIdent.toString)
    val to = new java.io.File(rootOf(newIdent))
    Option(to.getParentFile).foreach(_.mkdirs(): Unit)
    java.nio.file.Files.move(
      new java.io.File(rootOf(oldIdent)).toPath, to.toPath): Unit
  }

  // ---- stored procedures (r14 — Spark 4's ProcedureCatalog, the
  // Iceberg CALL pattern): the maintenance surface as pure SQL —
  // `CALL <cat>.system.optimize(table => 'db.t', target_rows => …)`,
  // zorder / vacuum / expire_log / checkpoint / describe_history /
  // add_constraint / drop_constraint / upgrade_protocol — all wiring
  // into the existing LakeMaintenance/TxLog entry points ----

  private lazy val procedures: Map[String, LakeProcedure] =
    LakeProcedure.all { table =>
      (warehouse +: table.split('.').toSeq.map(sane)).mkString("/")
    }

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().toSeq == Seq("system"),
      s"graft catalog: procedures live under $catalogName.system")
    procedures.getOrElse(ident.name(),
      throw new IllegalArgumentException(
        s"graft catalog: no procedure ${ident.name()} (have: " +
          s"${procedures.keys.toSeq.sorted.mkString(", ")})"))
  }

  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq("system"))
      procedures.keys.toSeq.sorted
        .map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  // ---- namespaces: plain warehouse directories (a dir without a
  // log/ child; a table dir is never a namespace) ----

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val d = nsDir(namespace)
    namespace.isEmpty || (d.isDirectory && !isTableDir(d))
  }

  override def listNamespaces(): Array[Array[String]] =
    Option(new java.io.File(warehouse).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && !isTableDir(f))
      .sortBy(_.getName).map(f => Array(f.getName)).toArray

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Option(nsDir(namespace).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && !isTableDir(f))
      .sortBy(_.getName).map(f => namespace :+ f.getName).toArray
  }

  override def loadNamespaceMetadata(
      namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = {
    require(!namespaceExists(namespace) || namespace.isEmpty,
      s"graft catalog: namespace ${namespace.mkString(".")} exists")
    nsDir(namespace).mkdirs(): Unit
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val d = nsDir(namespace)
    if (!d.isDirectory) false
    else {
      require(cascade ||
          Option(d.listFiles()).toSeq.flatten.isEmpty,
        s"graft catalog: namespace ${namespace.mkString(".")} is " +
          "not empty (use CASCADE)")
      graft.queries.Scratch.deleteTree(d); true
    }
  }
}

object LakeCatalog {
  /** The table-options sidecar written at CREATE (statsCol /
    * strStatsCol / partitionBy / checkpointEvery) — the same options
    * the path-based reader takes. Shared with the SQL MERGE command's
    * empty-table append so partition values and stats land there too. */
  private[graft] def readProps(root: String): Map[String, String] = {
    val f = new java.io.File(s"$root/props.json")
    if (!f.isFile) Map.empty
    else {
      val txt = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      "\"([^\"]+)\":\"([^\"]*)\"".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2)).toMap
    }
  }
}
