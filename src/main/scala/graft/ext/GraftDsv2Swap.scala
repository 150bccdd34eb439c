package graft.ext

import graft.sources.{Graft2Table, GraftFileIndex, VersionedTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Routes graft READS through the DSv2 connector by default — the
  * promotion of the round-8 `graft2` spike to the serving path, now
  * that its reader is VECTORIZED (Spark's own parquet batch reader
  * behind the public `PartitionReaderFactory` columnar contract).
  *
  * Every analyzed plan whose root is not a command gets its unpinned,
  * clean-snapshot graft [[LogicalRelation]]s rewritten to a
  * [[DataSourceV2Relation]] over [[Graft2Table]], aliased back to the
  * ORIGINAL output exprIds so the parent plan re-anchors for free
  * (the same trick the column-mapping rule uses). What the v2 scan
  * serves identically: file pruning through graft's one skipping rule
  * (stats, bloom sidecars, partition tags —
  * [[graft.sources.VersionedTable.filesMayMatch]], the v1 index's
  * rule too), column pruning to
  * the parquet projection, manifest `sizeInBytes` for broadcast
  * planning, columnar batches + whole-stage codegen.
  *
  * What stays v1 (each with a reason, not a gap):
  *  - command roots (DML/DDL/INSERT): their lowering rules own the v1
  *    relation and commit through the log, not through a scan;
  *  - pinned relations (time travel, the MOR rewrite's internal
  *    branches): produced by earlier rules that pin a resolved
  *    version — swapping under them would re-resolve;
  *  - tombstoned / column-mapped snapshots: served by the MOR and
  *    mapping rewrites on the v1 relation (the DSv2 scan refuses
  *    them loudly, so a misordering fails, never mis-reads);
  *  - streaming relations (the change-feed source owns those).
  *
  * `spark.graft.readPath = v1` restores the v1 path wholesale — the
  * config fallback, also what the v1-internals specs pin. */
case class GraftDsv2Swap(session: SparkSession) extends Rule[LogicalPlan] {

  private def v2Enabled: Boolean =
    session.conf.get("spark.graft.readPath", "v2") == "v2"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!v2Enabled) return plan
    plan match {
      case _: Command => plan // DML/DDL/INSERT keep their v1 lowering
      case _ => plan.transformUp {
        case lr @ LogicalRelation(r: HadoopFsRelation, _, _, false, _)
            if r.location.isInstanceOf[GraftFileIndex] &&
              !r.location.asInstanceOf[GraftFileIndex].isPinned &&
              !r.location.asInstanceOf[GraftFileIndex].currentHasTombstones &&
              eligible(r.location.asInstanceOf[GraftFileIndex]) =>
          val idx = r.location.asInstanceOf[GraftFileIndex]
          val root = idx.tableRoot
          val v = idx.currentVersion
          val schema = graft.sources.Graft2DataSource.asNullable(
            VersionedTable.tableSchema(root, v).getOrElse(r.dataSchema))
            .asInstanceOf[org.apache.spark.sql.types.StructType]
          // catalog-table reads keep their catalog identity on the v2
          // relation — Spark's own REFRESH TABLE walks cached plans
          // and dereferences it (catalog.get/identifier.get)
          val (cat, ident) = lr.catalogTable match {
            case Some(ct) =>
              (Some(org.apache.spark.sql.GraftColumnBridge
                .sessionCatalogPlugin(session)),
                Some(org.apache.spark.sql.connector.catalog.Identifier.of(
                  Array(ct.identifier.database.getOrElse(
                    session.sessionState.catalog.getCurrentDatabase)),
                  ct.identifier.table)))
            case None => (None, None)
          }
          val v2rel = DataSourceV2Relation.create(
            new Graft2Table(root, v, schema, refreshable = true), cat, ident,
            org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
          val resolver = session.sessionState.analyzer.resolver
          // original exprIds on the aliases → parents re-anchor free
          Project(
            lr.output.map { a =>
              val src = v2rel.output.find(o => resolver(o.name, a.name))
                .getOrElse(throw new IllegalStateException(
                  s"graft DSv2 swap: v2 read of $root lacks column " +
                    a.name))
              Alias(src, a.name)(exprId = a.exprId,
                qualifier = a.qualifier)
            },
            v2rel)
      }
    }
  }

  /** Clean snapshots only: renamed columns ride the v1 path (the scan
    * machinery there restates them); the cheap metadata probe mirrors
    * the gates [[graft.sources.Graft2Scan.planState]] enforces. */
  private def eligible(idx: GraftFileIndex): Boolean =
    !VersionedTable.hasColumnMapping(idx.tableRoot, idx.currentVersion)
}
