package graft.ext

import graft.sources.{GraftFileIndex, VersionedTable}
import org.apache.spark.sql.{GraftColumnBridge, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.expressions.{
  AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{
  Assignment, DeleteAction, DeleteFromTable, InsertAction, InsertStarAction,
  LogicalPlan, MergeAction, MergeIntoTable, UpdateAction, UpdateStarAction,
  UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}

/** Routes SQL DML on `USING graft` catalog tables through the commit
  * protocol.
  *
  * Plain `INSERT INTO` already arrives as `InsertIntoDataSourceCommand`
  * (the relation is an `InsertableRelation`, and `DataSourceAnalysis`
  * prefers that case for non-overwrite inserts). `INSERT OVERWRITE`,
  * however, matches `DataSourceAnalysis`'s `HadoopFsRelation` case and
  * becomes an [[InsertIntoHadoopFsRelationCommand]] — which TRUNCATES
  * the table directory (transaction log included) and writes raw
  * parquet outside the manifest. This rule, injected as a post-hoc
  * resolution rule (custom rules run after the built-ins in the same
  * batch, so the raw command is already fully built and its `query`
  * already schema-aligned by `PreprocessTableInsertion`), intercepts
  * any such command whose file index is a [[GraftFileIndex]] and
  * replaces it with [[GraftInsertCommand]] — an atomic
  * `VersionedTable.commit` in `overwrite` or `append` mode, with CHECK
  * enforcement, schema validation, stats harvest, and history kept
  * (the old snapshot stays time-travelable; nothing is deleted until
  * VACUUM).
  */
case class GraftDmlRewrite(session: SparkSession) extends Rule[LogicalPlan] {

  /** The graft table a DML target plan names, if any: (root, pinned).
    * Matches both resolution shapes: the v1 `LogicalRelation`
    * (format("graft") path loads) and the DSv2 relation a
    * [[GraftCatalog]] identifier resolves to — so
    * `DELETE FROM lake.db.t` lowers to the same COW command as a
    * path-addressed delete. */
  private def graftTarget(plan: LogicalPlan): Option[(String, Boolean)] =
    EliminateSubqueryAliases(plan) match {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation if r.location.isInstanceOf[GraftFileIndex] =>
          val i = r.location.asInstanceOf[GraftFileIndex]
          Some((i.tableRoot, i.isPinned))
        case _ => None
      }
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2Relation
          if r.table.isInstanceOf[graft.sources.Graft2Table] =>
        val t = r.table.asInstanceOf[graft.sources.Graft2Table]
        Some((t.root, t.travelPinned))
      case _ => None
    }

  /** The Delta interop table a DML target names: (root, pinned) —
    * both the path-load shape and a named-catalog [[InteropTable]]. */
  private def deltaTarget(plan: LogicalPlan): Option[(String, Boolean)] =
    EliminateSubqueryAliases(plan) match {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation
            if r.location.isInstanceOf[graft.sources.DeltaLogFileIndex] =>
          val i = r.location.asInstanceOf[graft.sources.DeltaLogFileIndex]
          Some((i.root, i.pinned))
        case _ => None
      }
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2Relation
          if r.table.isInstanceOf[InteropTable] &&
            r.table.asInstanceOf[InteropTable].format == "delta-log" =>
        val t = r.table.asInstanceOf[InteropTable]
        Some((t.root, t.pinned))
      case _ => None
    }

  /** The Iceberg interop table a DML target names: (root, pinned) —
    * both the path-load shape and a named-catalog [[InteropTable]]. */
  private def icebergTarget(plan: LogicalPlan): Option[(String, Boolean)] =
    EliminateSubqueryAliases(plan) match {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation
            if r.location.isInstanceOf[graft.sources.IcebergMetaFileIndex] =>
          val i = r.location.asInstanceOf[graft.sources.IcebergMetaFileIndex]
          Some((i.snap.root, i.pinned))
        case _ => None
      }
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2Relation
          if r.table.isInstanceOf[InteropTable] &&
            r.table.asInstanceOf[InteropTable].format == "iceberg-meta" =>
        val t = r.table.asInstanceOf[InteropTable]
        Some((t.root, t.pinned))
      case _ => None
    }

  private def refusePinned(pinned: Boolean, what: String): Unit =
    require(!pinned,
      s"graft: cannot $what a time-travel-pinned relation " +
        "(versionAsOf/timestampAsOf/tagAsOf snapshots are immutable)")

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case cmd: InsertIntoHadoopFsRelationCommand
        if cmd.fileIndex.exists(_.isInstanceOf[GraftFileIndex]) =>
      val idx = cmd.fileIndex.get.asInstanceOf[GraftFileIndex]
      GraftInsertCommand(idx.tableRoot, idx.isPinned, cmd.query,
        overwrite = cmd.mode == SaveMode.Overwrite)

    // DELETE FROM t WHERE ... — for a v1 relation Spark would refuse
    // ("only supported with v2 tables"); route it to the stats-pruned
    // copy-on-write delete instead (Delta's DeltaAnalysis shape).
    // Iceberg interop tables take the same statement, lowered to a
    // POSITIONAL delete-file commit (merge-on-read, no file rewrite).
    case d @ DeleteFromTable(tbl, cond) if cond.resolved =>
      graftTarget(tbl) match {
        case Some((root, pinned)) =>
          refusePinned(pinned, "DELETE FROM")
          GraftDeleteCommand(root, cond)
        case None => icebergTarget(tbl) match {
          case Some((root, pinned)) =>
            require(!pinned, "iceberg-meta: cannot DELETE FROM a " +
              "snapshotId-pinned relation (snapshots are immutable)")
            IcebergDeleteCommand(root, cond)
          case None => deltaTarget(tbl) match {
            case Some((root, pinned)) =>
              require(!pinned, "delta-log: cannot DELETE FROM a " +
                "versionAsOf-pinned relation (snapshots are immutable)")
              DeltaDeleteCommand(root, cond)
            case None => d
          }
        }
      }

    case u @ UpdateTable(tbl, assignments, cond)
        if assignments.forall(_.resolved) && cond.forall(_.resolved) =>
      def setOf(what: String): Seq[(String, Expression)] =
        assignments.map {
          case Assignment(k: AttributeReference, v) => k.name -> v
          case Assignment(other, _) =>
            throw new UnsupportedOperationException(
              s"$what UPDATE supports top-level columns only, got $other")
        }
      graftTarget(tbl) match {
        case Some((root, pinned)) =>
          refusePinned(pinned, "UPDATE")
          GraftUpdateCommand(root, setOf("graft"), cond)
        case None => deltaTarget(tbl) match {
          case Some((root, pinned)) =>
            require(!pinned, "delta-log: cannot UPDATE a " +
              "versionAsOf-pinned relation (snapshots are immutable)")
            DeltaUpdateCommand(root, setOf("delta-log"), cond)
          case None => icebergTarget(tbl) match {
            case Some((root, pinned)) =>
              require(!pinned, "iceberg-meta: cannot UPDATE a " +
                "snapshotId-pinned relation (snapshots are immutable)")
              IcebergUpdateCommand(root, setOf("iceberg-meta"), cond)
            case None => u
          }
        }
      }

    // MERGE INTO. Two lowerings:
    //  - the canonical unconditional star upsert (UPDATE SET * /
    //    INSERT *, no extra clauses) lowers to [[VersionedTable
    //    .mergeKeyed]] — the star form of mergeConditional, checked
    //    against the table schema — or, WITH SCHEMA EVOLUTION, to
    //    [[VersionedTable.mergeKeyedEvolve]];
    //  - every other clause combination (conditional matched actions,
    //    partial SET lists, WHEN MATCHED THEN DELETE, conditional
    //    inserts, WHEN NOT MATCHED BY SOURCE) lowers to
    //    [[VersionedTable.mergeConditional]] — one full-outer join,
    //    one replace commit. Attribute references are mapped to the
    //    join's __t_/__s_ column space by exprId, so `t.c`/`s.c`
    //    disambiguation survives the lowering.
    // Still refused (loudly, with the shape named): non-equality or
    // compound ON conditions, nested-field assignment targets, and
    // WITH SCHEMA EVOLUTION on conditional clauses.
    case m: MergeIntoTable if m.mergeCondition.resolved =>
      val tgtIds = m.targetTable.output.map(_.exprId).toSet
      val srcIds = m.sourceTable.output.map(_.exprId).toSet
      def keysOf(what: String): (String, String) = m.mergeCondition match {
        case EqualTo(a: AttributeReference, b: AttributeReference)
            if tgtIds(a.exprId) && srcIds(b.exprId) => (a.name, b.name)
        case EqualTo(a: AttributeReference, b: AttributeReference)
            if srcIds(a.exprId) && tgtIds(b.exprId) => (b.name, a.name)
        case other => throw new UnsupportedOperationException(
          s"$what MERGE supports a single-equality ON " +
            s"t.<key> = s.<key>, got: ${other.sql}")
      }
      def sideRef(e: Expression): Expression = e.transform {
        case a: AttributeReference if tgtIds(a.exprId) =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            .quoted("__t_" + a.name)
        case a: AttributeReference if srcIds(a.exprId) =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            .quoted("__s_" + a.name)
      }
      def pairsOf(what: String, as: Seq[Assignment]): Seq[(String, Expression)] =
        as.map {
          case Assignment(k: AttributeReference, v) =>
            k.name -> sideRef(v)
          case Assignment(other, _) =>
            throw new UnsupportedOperationException(
              s"$what MERGE assignments support top-level columns " +
                s"only, got $other")
        }
      def clause(what: String)(a: MergeAction): GraftMergeClauseSpec = a match {
        case UpdateStarAction(c) =>
          GraftMergeClauseSpec("update", c.map(sideRef), Nil, star = true)
        case UpdateAction(c, as, _) =>
          GraftMergeClauseSpec("update", c.map(sideRef), pairsOf(what, as),
            star = false)
        case DeleteAction(c) =>
          GraftMergeClauseSpec("delete", c.map(sideRef), Nil,
            star = false)
        case InsertStarAction(c) =>
          GraftMergeClauseSpec("insert", c.map(sideRef), Nil, star = true)
        case InsertAction(c, as) =>
          GraftMergeClauseSpec("insert", c.map(sideRef), pairsOf(what, as),
            star = false)
        case other => throw new UnsupportedOperationException(
          s"$what MERGE: unsupported action $other")
      }
      graftTarget(m.targetTable) match {
        case Some((root, pinned)) =>
          refusePinned(pinned, "MERGE INTO")
          val (tKey, sKey) = keysOf("graft")
          val starMatched = m.matchedActions match {
            case Seq(UpdateStarAction(None)) => true
            case Seq(UpdateAction(None, as, _)) => identityAssignments(as)
            case _ => false
          }
          val starInsert = m.notMatchedActions match {
            case Seq(InsertStarAction(None)) => true
            case Seq(InsertAction(None, as)) => identityAssignments(as)
            case _ => false
          }
          if (starMatched && starInsert && tKey == sKey &&
              m.notMatchedBySourceActions.isEmpty)
            GraftMergeCommand(root, m.sourceTable, tKey,
              evolve = m.withSchemaEvolution)
          else {
            if (m.withSchemaEvolution) throw new UnsupportedOperationException(
              "graft MERGE WITH SCHEMA EVOLUTION is supported only for " +
                "the unconditional UPDATE SET * / INSERT * form")
            GraftMergeConditionalCommand(root, m.sourceTable, tKey, sKey,
              m.matchedActions.map(clause("graft")),
              m.notMatchedActions.map(clause("graft")),
              m.notMatchedBySourceActions.map(clause("graft")))
          }
        case None => deltaTarget(m.targetTable) match {
          case Some((root, pinned)) =>
            require(!pinned, "delta-log: cannot MERGE INTO a " +
              "versionAsOf-pinned relation (snapshots are immutable)")
            if (m.withSchemaEvolution) throw new UnsupportedOperationException(
              "delta-log MERGE WITH SCHEMA EVOLUTION is not supported " +
                "by this interop layer")
            val (tKey, sKey) = keysOf("delta-log")
            DeltaMergeConditionalCommand(root, m.sourceTable, tKey, sKey,
              m.matchedActions.map(clause("delta-log")),
              m.notMatchedActions.map(clause("delta-log")),
              m.notMatchedBySourceActions.map(clause("delta-log")))
          case None => icebergTarget(m.targetTable) match {
            case Some((root, pinned)) =>
              require(!pinned, "iceberg-meta: cannot MERGE INTO a " +
                "snapshotId-pinned relation (snapshots are immutable)")
              // ONLY the canonical star upsert lowers — and it lowers
              // to the MERGE-ON-READ upsert (one equality-delete +
              // append snapshot, zero data files read): the CDC shape
              val (tKey, sKey) = keysOf("iceberg-meta")
              val starMatched = m.matchedActions match {
                case Seq(UpdateStarAction(None)) => true
                case Seq(UpdateAction(None, as, _)) => identityAssignments(as)
                case _ => false
              }
              val starInsert = m.notMatchedActions match {
                case Seq(InsertStarAction(None)) => true
                case Seq(InsertAction(None, as)) => identityAssignments(as)
                case _ => false
              }
              if (m.withSchemaEvolution)
                throw new UnsupportedOperationException(
                  "iceberg-meta MERGE WITH SCHEMA EVOLUTION is not " +
                    "supported by this interop layer")
              if (starMatched && starInsert && tKey == sKey &&
                m.notMatchedBySourceActions.isEmpty)
                IcebergUpsertCommand(root, m.sourceTable, tKey)
              else
                // every other clause combination lowers to the COW
                // conditional merge — manifest-bounds file targeting,
                // one full-outer cascade, one overwrite snapshot
                IcebergMergeConditionalCommand(root, m.sourceTable,
                  tKey, sKey,
                  m.matchedActions.map(clause("iceberg-meta")),
                  m.notMatchedActions.map(clause("iceberg-meta")),
                  m.notMatchedBySourceActions.map(clause("iceberg-meta")))
            case None => m
          }
        }
      }

    // ALTER TABLE t ADD COLUMNS (...) — for a v1 datasource table
    // Spark plans AlterTableAddColumnsCommand, whose run() refuses
    // providers it cannot verify. For graft tables the right move is a
    // METADATA-ONLY schema-evolution commit (Delta's ALTER ADD COLUMNS
    // cost model): swap in [[GraftAddColumnsCommand]], which commits
    // the widened schema, aligns the catalog schema, and refreshes the
    // cached relation.
    case a: org.apache.spark.sql.execution.command.AlterTableAddColumnsCommand =>
      val cat = session.sessionState.catalog
      scala.util.Try(cat.getTableMetadata(a.table)).toOption
        .filter(_.provider.exists(_.equalsIgnoreCase("graft"))) match {
        case Some(meta) =>
          val path = meta.storage.properties.get("path")
            .orElse(meta.storage.locationUri.map(_.toString))
            .getOrElse(throw new IllegalStateException(
              s"graft table ${a.table} has no path"))
          val root =
            if (path.startsWith("file:")) new java.net.URI(path).getPath
            else path
          GraftAddColumnsCommand(root, a.table, a.colsToAdd)
        case None => a
      }

    case _ => plan
  }

  /** Star actions resolve to per-column assignments; accept them when
    * every one is `target.c = source.c` by name. */
  private def identityAssignments(as: Seq[Assignment]): Boolean =
    as.forall {
      case Assignment(k: AttributeReference, v: AttributeReference) =>
        k.name == v.name
      case _ => false
    }
}

/** `INSERT OVERWRITE t ...` / rewritten raw inserts as a manifest
  * commit. Overwrite is a COMMIT, not a truncation: one new version
  * whose snapshot is exactly the query result; prior versions remain
  * readable via time travel and reclaimable only by VACUUM. */
case class GraftInsertCommand(root: String, pinned: Boolean,
    query: LogicalPlan, overwrite: Boolean) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def run(session: SparkSession): Seq[Row] = {
    require(!pinned,
      "graft: cannot INSERT into a time-travel-pinned relation " +
        "(versionAsOf/timestampAsOf/tagAsOf snapshots are immutable) — " +
        "insert through an unpinned table reference")
    VersionedTable.commit(GraftColumnBridge.ofRows(session, query), root,
      if (overwrite) "overwrite" else "append")
    Seq.empty
  }
}

/** `DELETE FROM t WHERE ...` → stats/bloom/partition-pruned
  * copy-on-write delete, one atomic `replace` commit. */
case class GraftDeleteCommand(root: String, cond: Expression)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    VersionedTable.deleteWhere(session, root, cond)
    Seq.empty
  }
}

/** `DELETE FROM <delta-log table> WHERE ...` → one copy-on-write
  * remove+add commit ([[graft.sources.DeltaLog.deleteWhere]]):
  * readable by every Delta reader, deletion vectors on touched files
  * materialized by the rewrite. */
case class DeltaDeleteCommand(root: String, cond: Expression)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val rebound = GraftColumnBridge.column(cond.transform {
      case a: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          .quoted(a.name)
    })
    graft.sources.DeltaLog.deleteWhere(session, root, rebound)
    Seq.empty
  }
}

/** `DELETE FROM <iceberg-meta table> WHERE ...` — two lowerings:
  *
  *  - an EQUALITY-shaped predicate (a conjunction of `col = literal`
  *    and single-column `col IN (literals)` over distinct columns)
  *    commits a v2 EQUALITY delete file
  *    ([[graft.sources.IcebergMeta.deleteEquality]]): ZERO data files
  *    read or written — `DELETE FROM t WHERE user_id = 42` on a
  *    100 TB table is one metadata commit (the GDPR-delete shape);
  *  - anything else falls back to the POSITIONAL delete-file
  *    snapshot ([[graft.sources.IcebergMeta.delete]]): merge-on-read,
  *    scans only stats-matching files, no data file rewritten.
  *
  * Both keep prior snapshots intact. Non-null literals only on the
  * equality route (SQL `=`/`IN` never match NULL; the eq-delete
  * format's null-safe matching would) — NULL-matching predicates
  * take the positional route, preserving exact SQL semantics. */
case class IcebergDeleteCommand(root: String, cond: Expression)
    extends LeafRunnableCommand {

  /** `(columns, value rows)` when `cond` is equality-shaped. */
  private def equalityShape(session: SparkSession)
      : Option[(Seq[String], Seq[Seq[Any]])] = {
    import org.apache.spark.sql.catalyst.expressions.{
      And, EqualTo, In, Literal}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    def litOf(e: Expression): Option[Literal] =
      if (e.foldable) Some(Literal.create(
        e.eval(org.apache.spark.sql.catalyst.InternalRow.empty),
        e.dataType)) else None
    def walk(e: Expression): Option[Seq[(String, Seq[Literal])]] =
      e match {
        case And(l, r) => for { a <- walk(l); b <- walk(r) } yield a ++ b
        case EqualTo(a: AttributeReference, v) =>
          litOf(v).filter(_.value != null).map(l => Seq(a.name -> Seq(l)))
        case EqualTo(v, a: AttributeReference) =>
          litOf(v).filter(_.value != null).map(l => Seq(a.name -> Seq(l)))
        case In(a: AttributeReference, vs) =>
          val ls = vs.flatMap(litOf)
          if (ls.size != vs.size) None
          // SQL IN never matches NULL — drop null list entries
          else Some(Seq(a.name -> ls.filter(_.value != null)))
        case _ => None
      }
    walk(cond).flatMap { pairs =>
      val cols = pairs.map(_._1)
      if (cols.distinct.size != cols.size) return None // col twice: not a pure value list
      val rowCount = pairs.map(_._2.size.toLong).product
      if (rowCount > 10000L) return None // huge cross product: scan instead
      // type-exact only — a mismatch means the analyzer casted the
      // COLUMN, which equality files cannot express
      val schema = graft.sources.IcebergMeta.snapshot(root).schema
      val ok = pairs.forall { case (c, ls) =>
        schema.fields.find(_.name == c).exists(f =>
          ls.forall(_.dataType == f.dataType))
      }
      if (!ok) return None
      // cross product of the per-column value lists, as external rows
      val rows = pairs.foldLeft(Seq(Seq.empty[Any])) {
        case (acc, (_, ls)) => for { r <- acc; l <- ls } yield r :+
          CatalystTypeConverters.convertToScala(l.value, l.dataType)
      }
      Some((cols, rows))
    }
  }

  override def run(session: SparkSession): Seq[Row] = {
    equalityShape(session) match {
      case Some((cols, rows)) =>
        val schema = graft.sources.IcebergMeta.snapshot(root).schema
        val values = session.createDataFrame(
          session.sparkContext.parallelize(
            rows.map(r => Row.fromSeq(r)), 1),
          org.apache.spark.sql.types.StructType(
            cols.map(c => schema.fields.find(_.name == c).get)))
        graft.sources.IcebergMeta.deleteEquality(session, root, values)
      case None =>
        // re-anchor the analyzed predicate by NAME: it resolves
        // against a fresh scan, not the statement's original relation
        val rebound = GraftColumnBridge.column(cond.transform {
          case a: AttributeReference =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              .quoted(a.name)
        })
        graft.sources.IcebergMeta.delete(session, root, rebound)
    }
    Seq.empty
  }
}

/** `UPDATE t SET ... [WHERE ...]` → pruned copy-on-write update; all
  * SET expressions read the pre-update row (SQL UPDATE semantics). */
case class GraftUpdateCommand(root: String,
    set: Seq[(String, Expression)], cond: Option[Expression])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    VersionedTable.updateWhere(session, root, set, cond)
    Seq.empty
  }
}

/** `UPDATE <delta-log table> SET ... [WHERE ...]` → copy-on-write
  * rewrite of the touched files ([[graft.sources.DeltaLog
  * .updateWhere]]): pre-update-row SET semantics, partition-column
  * updates relocate rows to their new partition dirs, CDF-enabled
  * tables record update pre/postimages. */
case class DeltaUpdateCommand(root: String,
    set: Seq[(String, Expression)], cond: Option[Expression])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    graft.sources.DeltaLog.updateWhere(session, root, set, cond)
    Seq.empty
  }
}

/** Canonical `MERGE INTO ... UPDATE SET * / INSERT *` →
  * [[VersionedTable.mergeKeyed]] (or the schema-evolving variant) —
  * one stats-pruned `replace` commit. */
case class GraftMergeCommand(root: String, source: LogicalPlan,
    key: String, evolve: Boolean) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(session: SparkSession): Seq[Row] = {
    val src = GraftColumnBridge.ofRows(session, source)
    if (evolve) VersionedTable.mergeKeyedEvolve(session, root, src, key)
    else VersionedTable.mergeKeyed(session, root, src, key)
    Seq.empty
  }
}

/** `ALTER TABLE t ADD COLUMNS` on a graft catalog table → one
  * metadata-only schema-evolution commit ([[VersionedTable
  * .addColumns]]), then align the catalog's stored schema and refresh
  * the cached relation so the next query resolves the new columns. */
case class GraftAddColumnsCommand(root: String,
    table: org.apache.spark.sql.catalyst.TableIdentifier,
    cols: Seq[org.apache.spark.sql.types.StructField])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    VersionedTable.addColumns(root, cols)
    val cat = session.sessionState.catalog
    val old = cat.getTableMetadata(table)
    cat.alterTableDataSchema(table,
      org.apache.spark.sql.types.StructType(
        old.dataSchema.fields ++ cols.map(_.copy(nullable = true))))
    session.catalog.refreshTable(table.quotedString)
    Seq.empty
  }
}

/** One lowered MERGE clause: `kind` ∈ update/delete/insert, condition
  * and value expressions already mapped into the join's __t_/__s_
  * column space; `star = true` expands to all-table-columns-from-
  * source at run time (when the table's current schema is known). */
case class GraftMergeClauseSpec(kind: String, cond: Option[Expression],
    pairs: Seq[(String, Expression)], star: Boolean)

object GraftMergeClauseSpec {
  /** Lower one spec to the runtime clause model, expanding `star`
    * against the table's CURRENT columns (known only at run time). */
  def convert(tableCols: Seq[String])(s: GraftMergeClauseSpec)
      : VersionedTable.MergeClause = {
    def colOf(e: Expression) = GraftColumnBridge.column(e)
    val pairs: Map[String, org.apache.spark.sql.Column] =
      if (s.star) tableCols.map(c => c -> VersionedTable.MergeRef.source(c))
        .toMap
      else s.pairs.map { case (k, v) => k -> colOf(v) }.toMap
    s.kind match {
      case "update" => VersionedTable.MergeUpdate(s.cond.map(colOf), pairs)
      case "delete" => VersionedTable.MergeDelete(s.cond.map(colOf))
      case "insert" => VersionedTable.MergeInsert(s.cond.map(colOf), pairs)
      case other => throw new IllegalStateException(s"bad clause $other")
    }
  }
}

/** Conditional `MERGE INTO` → [[VersionedTable.mergeConditional]]:
  * full clause algebra as one full-outer join + one replace commit. */
case class GraftMergeConditionalCommand(root: String, source: LogicalPlan,
    tKey: String, sKey: String,
    matched: Seq[GraftMergeClauseSpec],
    notMatched: Seq[GraftMergeClauseSpec],
    bySource: Seq[GraftMergeClauseSpec]) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(session: SparkSession): Seq[Row] = {
    val src = GraftColumnBridge.ofRows(session, source)
    val tableCols = VersionedTable.tableSchema(root,
        VersionedTable.latestVersion(root))
      .map(_.fieldNames.toSeq).getOrElse(Seq.empty)
    val convert = GraftMergeClauseSpec.convert(tableCols) _
    VersionedTable.mergeConditional(session, root, src, tKey, sKey,
      matched.map(convert), notMatched.map(convert), bySource.map(convert))
    Seq.empty
  }
}

/** Canonical star `MERGE INTO <iceberg-meta table>` →
  * [[graft.sources.IcebergMeta.upsertKeyed]]: one merge-on-read
  * snapshot (equality-delete on the key + new images), zero data
  * files read or rewritten. */
case class IcebergUpsertCommand(root: String, source: LogicalPlan,
    key: String) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(session: SparkSession): Seq[Row] = {
    val src = GraftColumnBridge.ofRows(session, source)
    // upsertKeyed's equality delete retires EVERY old image of a key
    // and inserts ONE new image — correct only when the target is
    // unique per key. SQL MERGE updates each matched row and
    // preserves row count, so a duplicate-keyed target must NOT take
    // the fast path (silent row loss). Verify with one column-pruned
    // aggregate over the key (a key-only scan — manifests prune all
    // other columns) and fall back to the COW conditional cascade.
    import org.apache.spark.sql.functions.{col, count, lit}
    val unique = session.read.format("iceberg-meta").load(root)
      .groupBy(col(s"`$key`")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).limit(1).count() == 0
    if (unique)
      graft.sources.IcebergMeta.upsertKeyed(session, root, src, key)
    else {
      val tableCols = graft.sources.IcebergMeta.snapshot(root)
        .schema.fieldNames.toSeq
      val star = tableCols.map(c =>
        c -> VersionedTable.MergeRef.source(c)).toMap
      graft.sources.IcebergMeta.mergeConditional(session, root, src,
        key, key,
        Seq(VersionedTable.MergeUpdate(None, star)),
        Seq(VersionedTable.MergeInsert(None, star)), Nil)
    }
    Seq.empty
  }
}

/** Conditional `MERGE INTO <delta-log table>` →
  * [[graft.sources.DeltaLog.mergeConditional]]: same clause algebra,
  * committed copy-on-write against the Delta log. */
case class DeltaMergeConditionalCommand(root: String, source: LogicalPlan,
    tKey: String, sKey: String,
    matched: Seq[GraftMergeClauseSpec],
    notMatched: Seq[GraftMergeClauseSpec],
    bySource: Seq[GraftMergeClauseSpec]) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(session: SparkSession): Seq[Row] = {
    val src = GraftColumnBridge.ofRows(session, source)
    val tableCols = graft.sources.DeltaLog.snapshot(session, root)
      .schema.fieldNames.toSeq
    val convert = GraftMergeClauseSpec.convert(tableCols) _
    graft.sources.DeltaLog.mergeConditional(session, root, src, tKey, sKey,
      matched.map(convert), notMatched.map(convert), bySource.map(convert))
    Seq.empty
  }
}

/** `UPDATE <iceberg-meta table> SET ... [WHERE ...]` → copy-on-write
  * rewrite of the manifest-bounds-touched files
  * ([[graft.sources.IcebergMeta.updateWhere]]): pre-update-row SET
  * semantics, existing v2 deletes applied first, untouched files
  * carried by reference. */
case class IcebergUpdateCommand(root: String,
    set: Seq[(String, Expression)], cond: Option[Expression])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    graft.sources.IcebergMeta.updateWhere(session, root, set, cond)
    Seq.empty
  }
}

/** Conditional `MERGE INTO <iceberg-meta table>` →
  * [[graft.sources.IcebergMeta.mergeConditional]]: same clause
  * algebra, committed copy-on-write as one `overwrite` snapshot. */
case class IcebergMergeConditionalCommand(root: String,
    source: LogicalPlan, tKey: String, sKey: String,
    matched: Seq[GraftMergeClauseSpec],
    notMatched: Seq[GraftMergeClauseSpec],
    bySource: Seq[GraftMergeClauseSpec]) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(session: SparkSession): Seq[Row] = {
    val src = GraftColumnBridge.ofRows(session, source)
    val tableCols = graft.sources.IcebergMeta.snapshot(root)
      .schema.fieldNames.toSeq
    val convert = GraftMergeClauseSpec.convert(tableCols) _
    graft.sources.IcebergMeta.mergeConditional(session, root, src,
      tKey, sKey,
      matched.map(convert), notMatched.map(convert), bySource.map(convert))
    Seq.empty
  }
}
