package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types._

import graft.operators.{LakeMaintenance, ParquetFile, TxLog}
import graft.sources.LakeTable

/** SQL `MERGE INTO` for graft-lake tables (r14 — the r13 verdict's #1
  * ask): an analyzer rule (injected via [[graft.GraftExtensions]])
  * intercepts a resolved [[MergeIntoTable]] whose target is a
  * [[LakeTable]] and rewrites it into [[LakeMergeIntoCommand]], which
  * routes into the existing [[LakeMaintenance.merge]] machinery —
  * stats-pruned candidate rewrite, CDC sidecars, CHECK-constraint
  * enforcement, optimistic read-set-validated commit. Spark's own
  * row-level-operation rewrite never fires for this table (it
  * requires `SupportsRowLevelOperations`); without this rule the
  * statement would fail analysis.
  *
  * Supported shape (the Delta-parity CDC-batch contract — a BOUNDED
  * changeset against a huge table, same scope `merge` documents):
  * {{{
  *   MERGE INTO g.db.t [AS t] USING <source> [AS s]
  *   ON t.<key> = s.<key>                  -- one equality, REQUIRED
  *                                         -- long target column
  *   WHEN MATCHED THEN UPDATE SET * | SET c1 = e1, …   -- full cover
  *   WHEN MATCHED THEN DELETE
  *   WHEN NOT MATCHED THEN INSERT * | (…) VALUES (…)   -- full cover
  * }}}
  * Action conditions (`WHEN MATCHED AND …`), partial-column UPDATE
  * (the rewrite replaces whole rows), `WHEN NOT MATCHED BY SOURCE`
  * and schema evolution reject loudly with the exact boundary named.
  */
case class LakeMergeRule(session: SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case m: MergeIntoTable if m.targetTable.resolved &&
          m.sourceTable.resolved && lakeOf(m.targetTable).isDefined =>
        LakeMergeSql.convert(conf.resolver, m, lakeOf(m.targetTable).get)
      case u: UpdateTable if u.table.resolved &&
          lakeOf(u.table).isDefined =>
        LakeMergeSql.convertUpdate(conf.resolver, u, lakeOf(u.table).get)
    }

  private def lakeOf(p: LogicalPlan): Option[LakeTable] =
    p.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[LakeTable] =>
        r.table.asInstanceOf[LakeTable]
    }
}

object LakeMergeSql {
  private def fail(msg: String): Nothing =
    throw new UnsupportedOperationException(s"graft-lake MERGE: $msg")

  private type Resolver = (String, String) => Boolean

  /** Resolve `e` against one side of the merge: an already-resolved
    * attribute by output membership, an unresolved one by (qualified)
    * name — the qualifier is what disambiguates `t.k = s.k`. */
  private def resolveAgainst(side: LogicalPlan, e: Expression,
      resolver: Resolver): Option[NamedExpression] = e match {
    case a: AttributeReference =>
      if (side.outputSet.contains(a)) Some(a) else None
    case u: UnresolvedAttribute => side.resolve(u.nameParts, resolver)
    case _ => None
  }

  def convert(resolver: Resolver, m: MergeIntoTable,
      table: LakeTable): LogicalPlan = {
    val target = m.targetTable
    val source = m.sourceTable
    val targetSchema = table.schema()

    // ---- the key condition: ONE equality, target side vs source side
    val (tKey, sKey) = m.mergeCondition match {
      case EqualTo(l, r) =>
        val lT = resolveAgainst(target, l, resolver)
        val lS = resolveAgainst(source, l, resolver)
        val rT = resolveAgainst(target, r, resolver)
        val rS = resolveAgainst(source, r, resolver)
        if (lT.isDefined && rS.isDefined && lS.isEmpty && rT.isEmpty)
          (lT.get, rS.get)
        else if (rT.isDefined && lS.isDefined && rS.isEmpty && lT.isEmpty)
          (rT.get, lS.get)
        else fail("the ON condition must equate one target column " +
          "with one source column, unambiguously (qualify with the " +
          "table aliases)")
      case other => fail(s"unsupported ON condition $other (one " +
        "equality on the merge key)")
    }
    val keyField = targetSchema.fields.find(f =>
        resolver(f.name, tKey.name))
      .getOrElse(fail(s"no target column ${tKey.name}"))
    if (keyField.dataType != LongType || keyField.nullable)
      fail(s"merge key ${keyField.name} must be a REQUIRED long " +
        "column (the merge machinery's contract)")

    // ---- assignments: full-coverage exprs over the source, in
    // target-schema order
    def starExprs(): Seq[Expression] =
      targetSchema.fields.toSeq.map { f =>
        source.resolve(Seq(f.name), resolver).getOrElse(
          fail(s"SET */INSERT * needs a source column named " +
            s"${f.name}"))
      }
    def fromAssigns(assigns: Seq[Assignment]): Seq[Expression] = {
      val byCol: Seq[(String, Expression)] = assigns.map { a =>
        val keyName = resolveAgainst(target, a.key, resolver)
          .getOrElse(fail(s"assignment target ${a.key} is not a " +
            "target column")).name
        val v = a.value.transformUp {
          case u: UnresolvedAttribute =>
            resolveAgainst(source, u, resolver).getOrElse(
              fail(s"assignment values may reference only the " +
                s"source (got $u)"))
        }
        if (!v.references.subsetOf(source.outputSet))
          fail("assignment values may reference only the source " +
            "(the rewrite replaces whole rows — old values are not " +
            "in scope)")
        keyName -> v
      }
      targetSchema.fields.toSeq.map { f =>
        byCol.find(kv => resolver(kv._1, f.name)).map(_._2).getOrElse(
          fail(s"assignments must cover every target column " +
            s"(missing ${f.name}) — partial UPDATE needs the " +
            "whole-row rewrite contract"))
      }
    }
    def castTo(es: Seq[Expression]): Seq[Expression] =
      es.zip(targetSchema.fields.toSeq).map { case (e, f) =>
        if (e.dataType == f.dataType) e else Cast(e, f.dataType)
      }

    var updateExprs: Option[Seq[Expression]] = None
    var deleteMatched = false
    m.matchedActions match {
      case Seq() => ()
      case Seq(u: UpdateStarAction) if u.condition.isEmpty =>
        updateExprs = Some(castTo(starExprs()))
      case Seq(u: UpdateAction) if u.condition.isEmpty =>
        updateExprs = Some(castTo(fromAssigns(u.assignments)))
      case Seq(d: DeleteAction) if d.condition.isEmpty =>
        deleteMatched = true
      case other => fail(s"unsupported matched actions " +
        s"${other.mkString(", ")} (one unconditional UPDATE or " +
        "DELETE)")
    }
    var insertExprs: Option[Seq[Expression]] = None
    m.notMatchedActions match {
      case Seq() => ()
      case Seq(i: InsertStarAction) if i.condition.isEmpty =>
        insertExprs = Some(castTo(starExprs()))
      case Seq(i: InsertAction) if i.condition.isEmpty =>
        insertExprs = Some(castTo(fromAssigns(i.assignments)))
      case other => fail(s"unsupported not-matched actions " +
        s"${other.mkString(", ")} (one unconditional INSERT)")
    }
    if (m.notMatchedBySourceActions.nonEmpty)
      fail("WHEN NOT MATCHED BY SOURCE is not supported")
    if (m.withSchemaEvolution) fail("schema evolution is not supported")
    if (updateExprs.isEmpty && insertExprs.isEmpty && !deleteMatched)
      fail("no actions")

    val sourceKeyLong =
      if (sKey.dataType == LongType) sKey
      else if (sKey.dataType == IntegerType) Cast(sKey, LongType)
      else fail(s"source key ${sKey} must be integral, got " +
        s"${sKey.dataType}")

    LakeMergeIntoCommand(table.root, targetSchema, keyField.name,
      source, sourceKeyLong, updateExprs, insertExprs, deleteMatched)
  }

  /** SQL `UPDATE` (r14): assignments may reference the OLD row (the
    * scan provides it — `SET v = v + 1` works, and partial SET is
    * natural because unassigned columns project through unchanged).
    * The rewrite is keyed on the table's first REQUIRED long column;
    * matched keys must be row-unique (the whole-row merge replaces
    * every occurrence of a key with ONE row — a per-occurrence
    * update of a duplicated key is not expressible and rejects
    * loudly at run time). */
  def convertUpdate(resolver: Resolver, u: UpdateTable,
      table: LakeTable): LogicalPlan = {
    def failU(msg: String): Nothing = // the UPDATE's own prefix —
      throw new UnsupportedOperationException( // boundaries name the
        s"graft-lake UPDATE: $msg") // statement the user actually ran
    val target = u.table
    val targetSchema = table.schema()
    val keyField = targetSchema.fields.find(f =>
        f.dataType == LongType && !f.nullable)
      .getOrElse(failU("UPDATE needs a REQUIRED long column to key " +
        "the rewrite on (none in the schema)"))
    def resolveOverTarget(e: Expression): Expression = {
      val r = e.transformUp {
        case ua: UnresolvedAttribute =>
          resolveAgainst(target, ua, resolver).getOrElse(
            failU(s"cannot resolve $ua against the table"))
      }
      if (!r.references.subsetOf(target.outputSet))
        failU("UPDATE expressions may reference only the table's " +
          "own columns")
      r
    }
    val byCol: Seq[(String, Expression)] = u.assignments.map { a =>
      val keyName = resolveAgainst(target, a.key, resolver)
        .getOrElse(failU(s"assignment target ${a.key} is not a " +
          "table column")).name
      keyName -> resolveOverTarget(a.value)
    }
    // full-row projection: assigned columns take their expression,
    // the rest project through unchanged (partial SET)
    val rowExprs: Seq[Expression] = targetSchema.fields.toSeq.map { f =>
      val e = byCol.find(kv => resolver(kv._1, f.name)).map(_._2)
        .getOrElse(target.resolve(Seq(f.name), resolver).getOrElse(
          failU(s"table column ${f.name} is not resolvable")))
      if (e.dataType == f.dataType) e else Cast(e, f.dataType)
    }
    val cond = u.condition.map(resolveOverTarget)
    LakeUpdateCommand(table.root, targetSchema, keyField.name,
      target, cond, rowExprs)
  }

  /** The WHOLE-KEY guard shared by predicate DELETE and UPDATE (the
    * merge machinery rewrites whole keys): `matched` holds the key of
    * every predicate-matched row. Returns the distinct keys. Rejects
    * the genuinely inexpressible cases only — an UNMATCHED row
    * sharing a matched key always; duplicated matched keys too when
    * `allowDuplicates` is false (an UPDATE of both occurrences would
    * still collapse them into ONE row, silently changing the count —
    * a DELETE of all occurrences is fine). One key-column probe,
    * matched side broadcast. */
  private[graft] def wholeKeyGuard(spark: SparkSession, root: String,
      keyCol: String, matched: Seq[Long], what: String,
      allowDuplicates: Boolean, asOf: Long = -1L): Seq[Long] = {
    val keys = matched.distinct
    if (!allowDuplicates && keys.length != matched.length)
      throw new UnsupportedOperationException(
        s"graft-lake $what: the predicate matches multiple rows of " +
          "one merge key — a per-occurrence rewrite is not " +
          "expressible as a whole-key rewrite")
    import org.apache.spark.sql.functions.broadcast
    import spark.implicits._
    val keyDf = keys.toDF(keyCol)
    val span = spark.read.format("graft-lake").option("path", root)
      .option("asOf", asOf.toString)
      .load().join(broadcast(keyDf), Seq(keyCol), "leftsemi").count()
    if (span != matched.length.toLong)
      throw new UnsupportedOperationException(
        s"graft-lake $what: the predicate matches only some " +
          "occurrences of a duplicated merge key — not expressible " +
          "as a whole-key rewrite")
    keys
  }

  /** External boxed value of projected-row column `idx`, in the shape
    * [[LakeMaintenance.merge]]'s typed column templates take (shared
    * by the MERGE and UPDATE commands and the r15 distributed merge). */
  private[graft] def boxed(r: Row, idx: Int, t: DataType): Any =
    if (r.isNullAt(idx)) null
    else t match {
      case LongType => java.lang.Long.valueOf(r.getLong(idx))
      case StringType => r.getString(idx)
      case DoubleType => java.lang.Double.valueOf(r.getDouble(idx))
      case FloatType => java.lang.Float.valueOf(r.getFloat(idx))
      case ArrayType(et, _) =>
        val s = r.getSeq[Any](idx)
        et match {
          case LongType =>
            val out = new Array[java.lang.Long](s.length)
            var i = 0
            while (i < out.length) {
              val v = s(i)
              out(i) =
                if (v == null) null
                else java.lang.Long.valueOf(v.asInstanceOf[Long])
              i += 1
            }
            out
          case FloatType =>
            val out = new Array[java.lang.Float](s.length)
            var i = 0
            while (i < out.length) {
              val v = s(i)
              out(i) =
                if (v == null) null
                else java.lang.Float.valueOf(v.asInstanceOf[Float])
              i += 1
            }
            out
          case DoubleType =>
            val out = new Array[java.lang.Double](s.length)
            var i = 0
            while (i < out.length) {
              val v = s(i)
              out(i) =
                if (v == null) null
                else java.lang.Double.valueOf(v.asInstanceOf[Double])
              i += 1
            }
            out
          case other => fail(s"unsupported array element type $other")
        }
      case other => fail(s"unsupported column type $other")
    }

  /** Field index per file-leaf slot (the changeset value order
    * [[LakeMaintenance.merge]] takes), mapped back through the column
    * mapping — shared by the MERGE and UPDATE commands. */
  private[graft] def leafOrder(root: String, targetSchema: StructType,
      livePath: String, asOf: Long = -1L): Seq[Int] = {
    val physToLogical = TxLog
      .latestMetaDataFast(s"$root/log", s"$root/ckpt", asOf)
      .map(_.map(c => c.physName -> c.name).toMap)
      .getOrElse(Map.empty[String, String])
    val leaves = ParquetFile.parseFooterMeta(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(livePath))).leaves
    val leafLogical = leaves.map { l =>
      val i = l.path.indexOf('.')
      val base = if (i < 0) l.path else l.path.substring(0, i)
      physToLogical.getOrElse(base, base)
    }
    if (leafLogical.toSet != targetSchema.fieldNames.toSet)
      fail("the live files' columns differ from the table schema " +
        "(dropped/added-column residue) — compact the table first")
    leafLogical.map(targetSchema.fieldIndex)
  }
}

/** The runnable MERGE (see [[LakeMergeRule]]): collects the BOUNDED
  * source changeset (the merge contract), splits it into matched /
  * unmatched keys when the arms require it (one left-semi probe of
  * the table's key column, source side broadcast), and calls
  * [[LakeMaintenance.merge]] — candidate files stats-pruned and
  * rewritten map-side, CDC sidecars, one optimistic commit. An empty
  * table short-circuits: the insert arm appends through the
  * connector (with the table's props, so partition values and stats
  * land), other arms no-op. */
case class LakeMergeIntoCommand(root: String, targetSchema: StructType,
    keyCol: String, source: LogicalPlan, sourceKey: Expression,
    updateExprs: Option[Seq[Expression]],
    insertExprs: Option[Seq[Expression]], deleteMatched: Boolean)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("num_updated", LongType, nullable = false)(),
    AttributeReference("num_deleted", LongType, nullable = false)(),
    AttributeReference("num_inserted", LongType, nullable = false)())

  override def innerChildren: Seq[QueryPlan[_]] = Seq(source)

  private def boxed(r: Row, idx: Int, t: DataType): Any =
    LakeMergeSql.boxed(r, idx, t)

  /** The same-expressions test (flagship upsert: SET * + INSERT *):
    * arm routing is unnecessary when both arms store the same row. */
  private def sameArms: Boolean = (updateExprs, insertExprs) match {
    case (Some(u), Some(i)) =>
      u.size == i.size &&
        u.zip(i).forall(p => p._1.semanticEquals(p._2))
    case _ => false
  }

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val nU = updateExprs.map(_.size).getOrElse(0)
    val projList: Seq[NamedExpression] =
      Alias(sourceKey, "_graft_k")() +:
        (updateExprs.getOrElse(Seq.empty).zipWithIndex.map {
          case (e, i) => Alias(e, s"_u$i")()
        } ++
          insertExprs.getOrElse(Seq.empty).zipWithIndex.map {
            case (e, i) => Alias(e, s"_i$i")()
          })
    val srcDf = org.apache.spark.sql.graft.GraftSqlShims
      .ofRows(spark, Project(projList, source))
    // ROUTE BY SIZE (r15 — the r14 verdict's #1 ask): changesets at
    // or under the collect bound take the broadcast path (one task
    // per candidate file, zero joins — the right plan for a CDC
    // batch); larger ones route through the DISTRIBUTED join-based
    // merge, where the driver never sees a source row. The bound is
    // tunable for tests via spark.graft.lake.mergeCollectBound. ONE
    // source execution decides the route AND provides the bounded
    // rows (review r15: a separate count() ran the source twice —
    // and could diverge from the collect for a nondeterministic
    // source); only the over-bound case re-executes, in the
    // distributed plan.
    val bound = math.max(1,
      spark.conf.getOption("spark.graft.lake.mergeCollectBound")
        .map(_.toInt).getOrElse(1 << 20))
    val rows = srcDf.limit(bound + 1).collect()
    if (rows.length > bound) return runDistributed(spark, srcDf, nU)
    rows.foreach(r => require(!r.isNullAt(0),
      "graft-lake MERGE: null source key"))
    val keys = rows.map(_.getLong(0))
    require(keys.distinct.length == keys.length,
      "graft-lake MERGE: multiple source rows share a merge key")

    val live = TxLog.resolveLiveLocal(s"$root/log", s"$root/ckpt", -1L)

    // field index per leaf slot: LakeMaintenance.merge takes changeset
    // values in the table's FILE-LEAF order; map each leaf back to its
    // logical column through the column mapping
    def leafOrder(): Seq[Int] =
      LakeMergeSql.leafOrder(root, targetSchema, live.head.path)

    def changeRow(r: Row, off: Int, order: Seq[Int]): Array[Any] =
      order.map { fi =>
        boxed(r, off + fi, targetSchema.fields(fi).dataType)
      }.toArray

    // ---- empty table: the insert arm appends through the connector
    if (live.isEmpty) {
      val inserted = insertExprs match {
        case Some(_) if rows.nonEmpty =>
          val off = 1 + nU
          val data = rows.toSeq.map { r =>
            Row.fromSeq(targetSchema.fields.indices.map { fi =>
              boxed(r, off + fi, targetSchema.fields(fi).dataType)
            })
          }
          var w = spark.createDataFrame(
              scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava,
              targetSchema)
            .coalesce(1)
            .write.format("graft-lake").option("path", root)
          graft.sources.LakeCatalog.readProps(root).foreach {
            case (k, v) => w = w.option(k, v)
          }
          w.mode("append").save()
          rows.length.toLong
        case _ => 0L
      }
      return Seq(Row(0L, 0L, inserted))
    }

    val order = leafOrder()
    // matched/unmatched routing is only needed when the arms differ;
    // the flagship upsert (SET * + INSERT *, same exprs) goes straight
    // to merge with no probe (`sameArms`)
    // pin the probe's snapshot version (ADVICE r14): the merge below
    // re-resolves at its own (possibly later) snapshot — arm routing
    // decided against an older snapshot must not apply to rows it
    // never saw, so the merge aborts when any candidate file is newer
    val probeVersion: Long =
      if (sameArms && !deleteMatched) -1L // no probe → no fence
      else TxLog.nextVersion(s"$root/log", s"$root/ckpt") - 1L
    val matched: Set[Long] =
      if (sameArms && !deleteMatched) Set.empty // not consulted
      else {
        import spark.implicits._
        val keyDf = keys.toSeq.toDF(keyCol)
        spark.read.format("graft-lake").option("path", root)
          .option("asOf", probeVersion.toString).load()
          .join(broadcast(keyDf), Seq(keyCol), "leftsemi")
          .select(col(keyCol)).distinct()
          .collect().map(_.getLong(0)).toSet
      }

    val updates: Seq[(Long, Array[Any])] =
      if (sameArms && !deleteMatched)
        rows.toSeq.map(r => (r.getLong(0), changeRow(r, 1, order)))
      else {
        val fromUpdate = updateExprs match {
          case Some(_) => rows.toSeq
            .filter(r => matched.contains(r.getLong(0)))
            .map(r => (r.getLong(0), changeRow(r, 1, order)))
          case None => Seq.empty
        }
        val fromInsert = insertExprs match {
          case Some(_) => rows.toSeq
            .filterNot(r => matched.contains(r.getLong(0)))
            .map(r => (r.getLong(0), changeRow(r, 1 + nU, order)))
          case None => Seq.empty
        }
        fromUpdate ++ fromInsert
      }
    val deletes: Seq[Long] =
      if (deleteMatched) keys.toSeq.filter(matched.contains) else Seq.empty

    if (updates.isEmpty && deletes.isEmpty) return Seq(Row(0L, 0L, 0L))
    // insertUnmatched only when the statement HAS an insert arm
    // (ADVICE r14: an update-only MERGE defaulted to upsert, so a key
    // deleted by a concurrent committer between the matched-key probe
    // and the merge's snapshot resolution was resurrected); the probe
    // snapshot is fenced by readVersion — candidates newer than it
    // abort loudly instead of deleting/updating rows the probe never
    // saw
    val r = LakeMaintenance.merge(spark, root, updates, keyCol,
      deletes = deletes, insertUnmatched = insertExprs.isDefined,
      readVersion = probeVersion)
    val inserted = r.inserted
    val updated = r.matched
    Seq(Row(updated, r.deleted, inserted))
  }

  /** The DISTRIBUTED route (r15): express the statement's arms as
    * per-row ops over the projected changeset and hand the DataFrame
    * to [[LakeMaintenance.mergeDistributed]] — no collect of source
    * rows anywhere. Single-arm statements need no probe at all (the
    * op itself encodes matched/unmatched semantics, decided at the
    * merge's own snapshot — no TOCTOU); mixed arms route through one
    * distributed semi/anti-join probe, fenced by its snapshot
    * version. */
  private def runDistributed(spark: SparkSession,
      srcDf: org.apache.spark.sql.DataFrame, nU: Int): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, lit}
    val key = col("_graft_k")
    val uCols = (0 until nU).map(i => col(s"_u$i"))
    val nI = insertExprs.map(_.size).getOrElse(0)
    val iCols = (0 until nI).map(i => col(s"_i$i"))
    val nulls = targetSchema.fields.toSeq.map(f =>
      lit(null).cast(f.dataType))
    def shaped(op: String, vals: Seq[org.apache.spark.sql.Column]) =
      (key +: lit(op) +: vals)
    val mixed = (deleteMatched || updateExprs.isDefined) &&
      insertExprs.isDefined && !(sameArms && !deleteMatched)
    var fence = -1L
    var probeHint: Option[(org.apache.spark.sql.DataFrame, Long)] = None
    val changes: org.apache.spark.sql.DataFrame =
      if (sameArms && !deleteMatched)
        srcDf.select(shaped("ui", uCols): _*)
      else if (!mixed && updateExprs.isDefined)
        srcDf.select(shaped("u", uCols): _*)
      else if (!mixed && deleteMatched)
        srcDf.select(shaped("d", nulls): _*)
      else if (!mixed)
        srcDf.select(shaped("i", iCols): _*)
      else {
        // mixed arms: one distributed matched-key probe at a pinned
        // snapshot; the merge aborts if any candidate postdates it.
        // r17: ONE file-provenance scan serves both the arm routing
        // here and the merge's per-file probe (the hint is honored
        // only while the merge resolves the same snapshot — any
        // concurrent commit makes the merge rebuild its own probe)
        fence = TxLog.nextVersion(s"$root/log", s"$root/ckpt") - 1L
        val probe0 = spark.read.format("graft-lake")
          .option("path", root).option("asOf", fence.toString)
          .option("withFilePath", "true").load()
          .select(col(keyCol).as("_graft_k"), col("_graft_file"))
          .join(srcDf.select(col("_graft_k")), Seq("_graft_k"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        probeHint = Some((probe0, fence))
        val tbl = probe0.select(col("_graft_k")).distinct()
        val m = srcDf.join(tbl, Seq("_graft_k"), "left_semi")
          .select(shaped(if (deleteMatched) "d" else "u",
            if (deleteMatched) nulls else uCols): _*)
        val um = srcDf.join(tbl, Seq("_graft_k"), "left_anti")
          .select(shaped("i", iCols): _*)
        m.union(um)
      }
    try {
      val r = LakeMaintenance.mergeDistributed(spark, root, changes,
        keyCol, readVersion = fence, probeHint = probeHint)
      Seq(Row(r.matched, r.deleted, r.inserted))
    } finally probeHint.foreach(_._1.unpersist(false))
  }
}

/** The runnable SQL UPDATE (see [[LakeMergeSql.convertUpdate]]): scans
  * the MATCHED rows (the condition pushes down — key predicates prune
  * files), evaluates the full-row assignment expressions over the old
  * rows (so `SET v = v + 1` and partial SET both work), and routes
  * the bounded changeset through [[LakeMaintenance.merge]] keyed on
  * the table's first REQUIRED long column. The whole-row rewrite can
  * only express updates of row-unique keys; a predicate touching a
  * duplicated key rejects loudly. */
case class LakeUpdateCommand(root: String, targetSchema: StructType,
    keyCol: String, target: LogicalPlan,
    condition: Option[Expression], rowExprs: Seq[Expression])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("num_updated", LongType, nullable = false)())

  override def innerChildren: Seq[QueryPlan[_]] = Seq(target)

  private def fail(msg: String): Nothing =
    throw new UnsupportedOperationException(s"graft-lake UPDATE: $msg")

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    // pin the scan's snapshot fence BEFORE executing it (ADVICE r14):
    // the merge below resolves its own snapshot — rows appended under
    // a matched key between our scan and that resolution must never
    // be rewritten by a changeset evaluated against the old rows
    val scanVersion =
      TxLog.nextVersion(s"$root/log", s"$root/ckpt") - 1L
    val live = TxLog.resolveLiveLocal(s"$root/log", s"$root/ckpt",
      scanVersion)
    if (live.isEmpty) return Seq(Row(0L))
    val oldKey = target.output.find(_.name == keyCol)
      .orElse(target.output.find(_.name.equalsIgnoreCase(keyCol)))
      .getOrElse(fail(s"no key column $keyCol in the table output"))
    val filtered = condition.map(Filter(_, target)).getOrElse(target)
    val projList: Seq[NamedExpression] =
      Alias(oldKey, "_graft_k")() +:
        rowExprs.zipWithIndex.map { case (e, i) =>
          Alias(e, s"_c$i")()
        }
    val projDf = org.apache.spark.sql.graft.GraftSqlShims
      .ofRows(spark, Project(projList, filtered))
    // ROUTE BY SIZE (r15): at or under the collect bound the
    // broadcast path runs (the right plan for a bounded predicate);
    // above it the DISTRIBUTED join-based merge takes over — the
    // driver never sees a matched row. ONE bounded collect decides
    // the route and provides the rows (review r15: a separate
    // count() ran the predicate scan twice).
    val bound = math.max(1,
      spark.conf.getOption("spark.graft.lake.mergeCollectBound")
        .map(_.toInt).getOrElse(1 << 20))
    val rows = projDf.limit(bound + 1).collect()
    if (rows.length > bound) {
      import org.apache.spark.sql.functions.lit
      // r17: re-run the predicate scan ONCE, through the connector's
      // file-provenance face — the same matched rows now also carry
      // _graft_file, so the merge's per-file probe is served from this
      // scan instead of a second full table scan + join. The condition
      // and row expressions are rebound onto the provenance relation
      // by column name (the UPDATE target is the bare table — names
      // are unique and _graft_file is reserved).
      val scanDf = spark.read.format("graft-lake").option("path", root)
        .option("asOf", scanVersion.toString)
        .option("withFilePath", "true").load()
      val scanPlan = scanDf.queryExecution.analyzed
      val byName = scanPlan.output.map(a => a.name -> a).toMap
      def rebind(e: Expression): Expression = e.transform {
        case a: AttributeReference => byName.getOrElse(a.name, a)
      }
      val filtered2 = condition.map(c =>
        Filter(rebind(c), scanPlan)).getOrElse(scanPlan)
      val projList2: Seq[NamedExpression] =
        (Alias(rebind(oldKey), "_graft_k")() +:
          rowExprs.zipWithIndex.map { case (e, i) =>
            Alias(rebind(e), s"_c$i")()
          }) :+ byName("_graft_file")
      // persisted: the guard's two counts and the merge's own passes
      // must not re-run the predicate scan (review r15)
      val scanned = org.apache.spark.sql.graft.GraftSqlShims
        .ofRows(spark, Project(projList2, filtered2))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val changes = scanned.select(
        (org.apache.spark.sql.functions.col("_graft_k") +:
          lit("u") +:
          rowExprs.indices.map(i =>
            org.apache.spark.sql.functions.col(s"_c$i"))): _*)
      val probe0 = scanned
        .select(org.apache.spark.sql.functions.col("_graft_k"),
          org.apache.spark.sql.functions.col("_graft_file"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // the whole-key law, DISTRIBUTED: the table's occurrence
        // count over the matched keys must equal the matched row
        // count — a predicate splitting a duplicated key's
        // occurrences rejects (duplicated matched keys reject inside
        // mergeDistributed)
        val full = changes.count()
        val span = spark.read.format("graft-lake").option("path", root)
          .option("asOf", scanVersion.toString).load()
          .select(col(keyCol))
          .join(changes.select(col("_graft_k").as(keyCol)).distinct(),
            Seq(keyCol), "leftsemi").count()
        if (span != full)
          fail("the predicate matches only some occurrences of a " +
            "duplicated merge key — not expressible as a whole-key " +
            "rewrite")
        val res = LakeMaintenance.mergeDistributed(spark, root,
          changes, keyCol, readVersion = scanVersion,
          probeHint = Some((probe0, scanVersion)))
        return Seq(Row(res.matched))
      } finally {
        probe0.unpersist(false): Unit
        scanned.unpersist(false): Unit
      }
    }
    if (rows.isEmpty) return Seq(Row(0L))
    val matched = rows.toSeq.map(_.getLong(0))
    // the whole-key law (shared guard): UPDATE never tolerates
    // duplicated matched keys — replacing both occurrences with one
    // row would silently change the row count
    LakeMergeSql.wholeKeyGuard(spark, root, keyCol, matched,
      "UPDATE", allowDuplicates = false, asOf = scanVersion): Unit
    val order = LakeMergeSql.leafOrder(root, targetSchema,
      live.head.path)
    val updates: Seq[(Long, Array[Any])] = rows.toSeq.map { r =>
      (r.getLong(0), order.map { fi =>
        LakeMergeSql.boxed(r, 1 + fi, targetSchema.fields(fi).dataType)
      }.toArray)
    }
    // insertUnmatched = false: an UPDATE must never CREATE rows — a
    // key deleted by a concurrent committer between our scan and the
    // merge's snapshot is dropped, not resurrected (review r14); the
    // readVersion fence aborts when any candidate file postdates the
    // scan (ADVICE r14: concurrently appended rows under a matched
    // key must never be replaced by a changeset computed without them)
    val res = LakeMaintenance.merge(spark, root, updates, keyCol,
      insertUnmatched = false, readVersion = scanVersion)
    Seq(Row(res.matched))
  }
}
