package graft.ext

import graft.sources.VersionedTable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

/** SQL surface for the versioned-table MAINTENANCE DDL, injected
  * through `SparkSessionExtensions.injectParser` — the extension point
  * Delta uses for `VACUUM`/`DESCRIBE HISTORY`/`RESTORE`. The parser
  * intercepts a small `GRAFT ...` statement family and DELEGATES
  * everything else to Spark's own parser untouched, so the full SQL
  * language keeps working:
  *
  * {{{
  *   GRAFT HISTORY '<root>'
  *   GRAFT CHECKPOINT '<root>'
  *   GRAFT RESTORE '<root>' VERSION AS OF <n>
  *   GRAFT VACUUM '<root>' RETAIN <version> [MIN AGE <millis>]
  *   GRAFT FSCK '<root>'
  *   GRAFT RENAME COLUMN <old> TO <new> IN '<root>'
  *   GRAFT DROP COLUMN <name> IN '<root>'
  *   GRAFT CLONE '<src>' TO '<dst>' [VERSION AS OF <n>]
  *   GRAFT STATS '<root>' COLUMNS <a>, <b>, ...
  *   GRAFT TRUNCATE LOG '<root>' [BELOW <n>]
  *   GRAFT TAG '<root>' CREATE <name> [VERSION AS OF <n>]
  *   GRAFT TAG '<root>' DROP <name>
  *   GRAFT TAGS '<root>'
  *   GRAFT BRANCH '<root>' CREATE <name> [VERSION AS OF <n>]
  *   GRAFT BRANCH '<root>' PUBLISH <name>
  *   GRAFT BRANCH '<root>' DROP <name>
  *   GRAFT BRANCHES '<root>'
  *   GRAFT DETAIL '<root>'
  *   GRAFT VACUUM DELTA '<root>' [RETAIN <ms> MS] [DRY RUN]
  *   GRAFT RESTORE DELTA '<root>' VERSION AS OF <n>
  *   GRAFT CLONE DELTA '<src>' TO '<dst>' [VERSION AS OF <n>]
  *   GRAFT HISTORY DELTA '<root>'
  *   GRAFT ROLLBACK ICEBERG '<root>' TO SNAPSHOT <id>
  *   GRAFT SNAPSHOTS ICEBERG '<root>'
  *   GRAFT EXPIRE SNAPSHOTS '<root>' OLDER THAN <ms> [RETAIN LAST <n>]
  *   GRAFT TAG ICEBERG '<root>' CREATE <name> [AT SNAPSHOT <id>]
  *   GRAFT TAG ICEBERG '<root>' DROP <name>
  *   GRAFT BRANCH ICEBERG '<root>' CREATE <name> [AT SNAPSHOT <id>]
  *   GRAFT REFS ICEBERG '<root>'
  *   GRAFT FAST FORWARD ICEBERG '<root>' <to> TO <from>
  * }}}
  *
  * Each statement lowers to a Catalyst [[LeafRunnableCommand]] — a
  * driver-side command node with a declared output schema, executed by
  * Spark's normal command machinery (visible in `explain`, composable
  * with `spark.sql(...).collect()`), not a side-channel API call.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  // Delegate-parsed plans pass through GraftTimeTravelParse, which
  // hides `VERSION AS OF`/`TIMESTAMP AS OF` relations from the builtin
  // analyzer (it would refuse them for v1 tables before any extension
  // rule runs — see GraftTimeTravel.scala).
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.parse(sqlText)
      .getOrElse(GraftTimeTravelParse(delegate.parsePlan(sqlText)))
  // Parameterized queries (`spark.sql(text, args)`) enter through this
  // overload; the interface DEFAULT would parse without binding the
  // parameters, so it must delegate explicitly (GRAFT statements take
  // no parameters — path literals only).
  override def parsePlanWithParameters(sqlText: String,
      ctx: org.apache.spark.sql.catalyst.parser.ParameterContext)
      : LogicalPlan =
    GraftSqlParser.parse(sqlText)
      .getOrElse(GraftTimeTravelParse(
        delegate.parsePlanWithParameters(sqlText, ctx)))
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(s: String): Expression =
    delegate.parseExpression(s)
  override def parseTableIdentifier(s: String): TableIdentifier =
    delegate.parseTableIdentifier(s)
  override def parseFunctionIdentifier(s: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(s)
  override def parseMultipartIdentifier(s: String): Seq[String] =
    delegate.parseMultipartIdentifier(s)
  override def parseRoutineParam(s: String): StructType =
    delegate.parseRoutineParam(s)
  override def parseTableSchema(s: String): StructType =
    delegate.parseTableSchema(s)
  override def parseDataType(s: String): DataType =
    delegate.parseDataType(s)
}

object GraftSqlParser {

  // (?is): case-insensitive, dot-all. Paths are single-quoted; column
  // names are bare identifiers (no quoting needed for the maintenance
  // surface). Trailing semicolon tolerated.
  private val Hist =
    """(?is)\s*GRAFT\s+HISTORY\s+'([^']+)'\s*;?\s*""".r
  private val Ckpt =
    """(?is)\s*GRAFT\s+CHECKPOINT\s+'([^']+)'\s*;?\s*""".r
  private val Rest =
    """(?is)\s*GRAFT\s+RESTORE\s+'([^']+)'\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val Vac =
    """(?is)\s*GRAFT\s+VACUUM\s+'([^']+)'\s+RETAIN\s+(\d+)(?:\s+MIN\s+AGE\s+(\d+))?\s*;?\s*""".r
  private val VacDry =
    """(?is)\s*GRAFT\s+VACUUM\s+'([^']+)'\s+RETAIN\s+(\d+)(?:\s+MIN\s+AGE\s+(\d+))?\s+DRY\s+RUN\s*;?\s*""".r
  private val Reorg =
    """(?is)\s*GRAFT\s+REORG\s+'([^']+)'\s+PURGE\s*;?\s*""".r
  private val Fsck =
    """(?is)\s*GRAFT\s+FSCK\s+'([^']+)'\s*;?\s*""".r
  private val Ren =
    """(?is)\s*GRAFT\s+RENAME\s+COLUMN\s+([A-Za-z_][A-Za-z0-9_]*)\s+TO\s+([A-Za-z_][A-Za-z0-9_]*)\s+IN\s+'([^']+)'\s*;?\s*""".r
  private val Drop =
    """(?is)\s*GRAFT\s+DROP\s+COLUMN\s+([A-Za-z_][A-Za-z0-9_]*)\s+IN\s+'([^']+)'\s*;?\s*""".r
  private val Clone =
    """(?is)\s*GRAFT\s+CLONE\s+'([^']+)'\s+TO\s+'([^']+)'(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*""".r
  private val Stats =
    """(?is)\s*GRAFT\s+STATS\s+'([^']+)'\s+COLUMNS\s+([A-Za-z_][A-Za-z0-9_]*(?:\s*,\s*[A-Za-z_][A-Za-z0-9_]*)*)\s*;?\s*""".r
  private val Trunc =
    """(?is)\s*GRAFT\s+TRUNCATE\s+LOG\s+'([^']+)'(?:\s+BELOW\s+(\d+))?\s*;?\s*""".r
  private val OptFiles =
    """(?is)\s*GRAFT\s+OPTIMIZE\s+'([^']+)'\s+FILES\s+(\d+)\s*;?\s*""".r
  private val OptPart =
    """(?is)\s*GRAFT\s+OPTIMIZE\s+'([^']+)'\s+PARTITION\s+BY\s+([A-Za-z]+\([^)]+\))\s*;?\s*""".r
  private val OptZ =
    """(?is)\s*GRAFT\s+OPTIMIZE\s+'([^']+)'\s+ZORDER\s+BY\s+([A-Za-z_][A-Za-z0-9_]*)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)(?:\s+FILES\s+(\d+))?\s*;?\s*""".r
  private val TagCreate =
    """(?is)\s*GRAFT\s+TAG\s+'([^']+)'\s+CREATE\s+([A-Za-z0-9][A-Za-z0-9._-]*)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*""".r
  private val TagDrop =
    """(?is)\s*GRAFT\s+TAG\s+'([^']+)'\s+DROP\s+([A-Za-z0-9][A-Za-z0-9._-]*)\s*;?\s*""".r
  private val TagList =
    """(?is)\s*GRAFT\s+TAGS\s+'([^']+)'\s*;?\s*""".r
  private val BranchCreate =
    """(?is)\s*GRAFT\s+BRANCH\s+'([^']+)'\s+CREATE\s+([A-Za-z0-9][A-Za-z0-9._-]*)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*""".r
  private val BranchPublish =
    """(?is)\s*GRAFT\s+BRANCH\s+'([^']+)'\s+PUBLISH\s+([A-Za-z0-9][A-Za-z0-9._-]*)\s*;?\s*""".r
  private val BranchDrop =
    """(?is)\s*GRAFT\s+BRANCH\s+'([^']+)'\s+DROP\s+([A-Za-z0-9][A-Za-z0-9._-]*)\s*;?\s*""".r
  private val BranchList =
    """(?is)\s*GRAFT\s+BRANCHES\s+'([^']+)'\s*;?\s*""".r
  private val Detail =
    """(?is)\s*GRAFT\s+DETAIL\s+'([^']+)'\s*;?\s*""".r
  private val ConvertDelta =
    """(?is)\s*GRAFT\s+CONVERT\s+DELTA\s+'([^']+)'\s+TO\s+'([^']+)'\s*;?\s*""".r
  private val ConvertIceberg =
    """(?is)\s*GRAFT\s+CONVERT\s+ICEBERG\s+'([^']+)'\s+TO\s+'([^']+)'\s*;?\s*""".r
  private val ConvertDeltaToIceberg =
    """(?is)\s*GRAFT\s+CONVERT\s+DELTA\s+'([^']+)'\s+TO\s+ICEBERG\s+'([^']+)'\s*;?\s*""".r
  private val ConvertIcebergToDelta =
    """(?is)\s*GRAFT\s+CONVERT\s+ICEBERG\s+'([^']+)'\s+TO\s+DELTA\s+'([^']+)'\s*;?\s*""".r
  private val RestDelta =
    """(?is)\s*GRAFT\s+RESTORE\s+DELTA\s+'([^']+)'\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val HistDelta =
    """(?is)\s*GRAFT\s+HISTORY\s+DELTA\s+'([^']+)'\s*;?\s*""".r
  private val RollIce =
    """(?is)\s*GRAFT\s+ROLLBACK\s+ICEBERG\s+'([^']+)'\s+TO\s+SNAPSHOT\s+(\d+)\s*;?\s*""".r
  private val SnapsIce =
    """(?is)\s*GRAFT\s+SNAPSHOTS\s+ICEBERG\s+'([^']+)'\s*;?\s*""".r
  private val CloneDelta =
    """(?is)\s*GRAFT\s+CLONE\s+DELTA\s+'([^']+)'\s+TO\s+'([^']+)'(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*""".r
  private val OptIceZ =
    """(?is)\s*GRAFT\s+OPTIMIZE\s+ICEBERG\s+'([^']+)'\s+ZORDER\s+BY\s+([A-Za-z_][A-Za-z0-9_]*)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)(?:\s+FILES\s+(\d+))?\s*;?\s*""".r
  private val OptIce =
    """(?is)\s*GRAFT\s+OPTIMIZE\s+ICEBERG\s+'([^']+)'(?:\s+FILES\s+(\d+))?\s*;?\s*""".r
  private val RewriteManifestsIce =
    """(?is)\s*GRAFT\s+REWRITE\s+MANIFESTS\s+ICEBERG\s+'([^']+)'(?:\s+TARGET\s+(\d+))?\s*;?\s*""".r
  private val AnalyzeIce =
    """(?is)\s*GRAFT\s+ANALYZE\s+ICEBERG\s+'([^']+)'(?:\s+FOR\s+COLUMNS\s+([A-Za-z_][A-Za-z0-9_,\s]*?))?(\s+EXACT)?\s*;?\s*""".r
  private val OptDeltaZ =
    """(?is)\s*GRAFT\s+OPTIMIZE\s+DELTA\s+'([^']+)'\s+ZORDER\s+BY\s+([A-Za-z_][A-Za-z0-9_]*)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)(?:\s+FILES\s+(\d+))?\s*;?\s*""".r
  private val OptDelta =
    """(?is)\s*GRAFT\s+OPTIMIZE\s+DELTA\s+'([^']+)'(?:\s+FILES\s+(\d+))?\s*;?\s*""".r
  private val VacDeltaDry =
    """(?is)\s*GRAFT\s+VACUUM\s+DELTA\s+'([^']+)'(?:\s+RETAIN\s+(\d+)\s+MS)?\s+DRY\s+RUN\s*;?\s*""".r
  private val VacDelta =
    """(?is)\s*GRAFT\s+VACUUM\s+DELTA\s+'([^']+)'(?:\s+RETAIN\s+(\d+)\s+MS)?\s*;?\s*""".r
  private val ExpireIce =
    """(?is)\s*GRAFT\s+EXPIRE\s+SNAPSHOTS\s+'([^']+)'\s+OLDER\s+THAN\s+(\d+)(?:\s+RETAIN\s+LAST\s+(\d+))?\s*;?\s*""".r
  private val RemoveOrphansIceDry =
    """(?is)\s*GRAFT\s+REMOVE\s+ORPHAN\s+FILES\s+ICEBERG\s+'([^']+)'(?:\s+OLDER\s+THAN\s+(\d+))?\s+DRY\s+RUN\s*;?\s*""".r
  private val RemoveOrphansIce =
    """(?is)\s*GRAFT\s+REMOVE\s+ORPHAN\s+FILES\s+ICEBERG\s+'([^']+)'(?:\s+OLDER\s+THAN\s+(\d+))?\s*;?\s*""".r
  private val TagIceCreate =
    """(?is)\s*GRAFT\s+TAG\s+ICEBERG\s+'([^']+)'\s+CREATE\s+(\S+)(?:\s+AT\s+SNAPSHOT\s+(\d+))?\s*;?\s*""".r
  private val TagIceDrop =
    """(?is)\s*GRAFT\s+TAG\s+ICEBERG\s+'([^']+)'\s+DROP\s+(\S+)\s*;?\s*""".r
  private val BranchIceCreate =
    """(?is)\s*GRAFT\s+BRANCH\s+ICEBERG\s+'([^']+)'\s+CREATE\s+(\S+)(?:\s+AT\s+SNAPSHOT\s+(\d+))?\s*;?\s*""".r
  private val RefsIce =
    """(?is)\s*GRAFT\s+REFS\s+ICEBERG\s+'([^']+)'\s*;?\s*""".r
  private val FfIce =
    """(?is)\s*GRAFT\s+FAST\s+FORWARD\s+ICEBERG\s+'([^']+)'\s+(\S+)\s+TO\s+(\S+)\s*;?\s*""".r
  private val SortOrderIce =
    """(?is)\s*GRAFT\s+WRITE\s+ORDERED\s+BY\s+ICEBERG\s+'([^']+)'\s+(.+?)\s*;?\s*""".r
  private val EvolveIceTo =
    """(?is)\s*GRAFT\s+EVOLVE\s+SPEC\s+ICEBERG\s+'([^']+)'\s+PARTITION\s+BY\s+(.+?)\s*;?\s*""".r
  private val EvolveIceUnpart =
    """(?is)\s*GRAFT\s+EVOLVE\s+SPEC\s+ICEBERG\s+'([^']+)'\s+UNPARTITIONED\s*;?\s*""".r

  private[ext] def parse(sqlText: String): Option[LogicalPlan] =
    sqlText match {
      case Hist(p) => Some(GraftHistoryCommand(p))
      case Ckpt(p) => Some(GraftCheckpointCommand(p))
      case Rest(p, v) => Some(GraftRestoreCommand(p, v.toLong))
      case VacDry(p, r, age) => Some(GraftVacuumDryRunCommand(p, r.toLong,
        Option(age).map(_.toLong).getOrElse(60L * 60 * 1000)))
      case Vac(p, r, age) => Some(GraftVacuumCommand(p, r.toLong,
        Option(age).map(_.toLong).getOrElse(60L * 60 * 1000)))
      case Reorg(p) => Some(GraftReorgPurgeCommand(p))
      case Fsck(p) => Some(GraftFsckCommand(p))
      case Ren(o, n, p) => Some(GraftRenameColumnCommand(p, o, n))
      case Drop(c, p) => Some(GraftDropColumnCommand(p, c))
      case Clone(src, dst, v) => Some(GraftCloneCommand(src, dst,
        Option(v).map(_.toLong)))
      case Stats(p, cols) => Some(GraftStatsCommand(p,
        cols.split(",").map(_.trim).toSeq))
      case Trunc(p, below) => Some(GraftTruncateLogCommand(p,
        Option(below).map(_.toLong)))
      case OptFiles(p, n) => Some(GraftOptimizeCommand(p, n.toInt, None))
      case OptPart(p, spec) => Some(GraftOptimizePartitionCommand(p, spec))
      case OptZ(p, x, y, files) => Some(GraftOptimizeCommand(p,
        Option(files).map(_.toInt).getOrElse(8), Some((x, y))))
      case TagCreate(p, name, v) => Some(GraftCreateTagCommand(p, name,
        Option(v).map(_.toLong)))
      case TagDrop(p, name) => Some(GraftDropTagCommand(p, name))
      case TagList(p) => Some(GraftTagsCommand(p))
      case BranchCreate(p, name, v) => Some(GraftCreateBranchCommand(p,
        name, Option(v).map(_.toLong)))
      case BranchPublish(p, name) => Some(GraftPublishBranchCommand(p, name))
      case BranchDrop(p, name) => Some(GraftDropBranchCommand(p, name))
      case BranchList(p) => Some(GraftBranchesCommand(p))
      case Detail(p) => Some(GraftDetailCommand(p))
      case ConvertDeltaToIceberg(src, dst) =>
        Some(GraftCrossConvertCommand(src, dst, toIceberg = true))
      case ConvertIcebergToDelta(src, dst) =>
        Some(GraftCrossConvertCommand(src, dst, toIceberg = false))
      case ConvertDelta(src, dst) => Some(GraftConvertCommand(src, dst,
        iceberg = false))
      case ConvertIceberg(src, dst) => Some(GraftConvertCommand(src, dst,
        iceberg = true))
      case CloneDelta(src, dst, v) => Some(GraftDeltaCloneCommand(src,
        dst, Option(v).map(_.toLong)))
      case RestDelta(p, v) => Some(GraftDeltaRestoreCommand(p, v.toLong))
      case HistDelta(p) => Some(GraftDeltaHistoryCommand(p))
      case RollIce(p, sid) => Some(GraftIcebergRollbackCommand(p, sid.toLong))
      case SnapsIce(p) => Some(GraftIcebergSnapshotsCommand(p))
      case OptIceZ(p, x, y, files) => Some(GraftIcebergOptimizeCommand(p,
        Option(files).map(_.toInt).getOrElse(8), Some((x, y))))
      case OptIce(p, files) => Some(GraftIcebergOptimizeCommand(p,
        Option(files).map(_.toInt).getOrElse(1), None))
      case RewriteManifestsIce(p, target) =>
        Some(GraftIcebergRewriteManifestsCommand(p,
          Option(target).map(_.toInt).getOrElse(1)))
      case SortOrderIce(p, fieldList) =>
        val fields = fieldList.split(",").map(_.trim).filter(_.nonEmpty)
          .map { f =>
            f.split("\\s+").toSeq match {
              case Seq(c) => (c, "asc")
              case Seq(c, dir)
                  if dir.equalsIgnoreCase("asc") ||
                    dir.equalsIgnoreCase("desc") =>
                (c, dir.toLowerCase)
              case _ => throw new IllegalArgumentException(
                s"GRAFT WRITE ORDERED BY: cannot parse field '$f' " +
                  "(expected: col [ASC|DESC])")
            }
          }.toSeq
        Some(GraftIcebergSortOrderCommand(p, fields))
      case AnalyzeIce(p, cols, exact) =>
        Some(GraftIcebergAnalyzeCommand(p,
          Option(cols).map(_.split(",").map(_.trim)
            .filter(_.nonEmpty).toSeq).getOrElse(Nil),
          exact != null))
      case OptDeltaZ(p, x, y, files) => Some(GraftDeltaOptimizeCommand(p,
        Option(files).map(_.toInt).getOrElse(8), Some((x, y))))
      case OptDelta(p, files) => Some(GraftDeltaOptimizeCommand(p,
        Option(files).map(_.toInt).getOrElse(1), None))
      case VacDeltaDry(p, retain) => Some(GraftDeltaVacuumCommand(p,
        Option(retain).map(_.toLong).getOrElse(7L * 24 * 3600 * 1000),
        dryRun = true))
      case VacDelta(p, retain) => Some(GraftDeltaVacuumCommand(p,
        Option(retain).map(_.toLong).getOrElse(7L * 24 * 3600 * 1000)))
      case ExpireIce(p, older, last) => Some(GraftIcebergExpireCommand(p,
        older.toLong, Option(last).map(_.toInt).getOrElse(1)))
      case RemoveOrphansIceDry(p, older) =>
        Some(GraftIcebergRemoveOrphansCommand(p,
          Option(older).map(_.toLong).getOrElse(-1L), dryRun = true))
      case RemoveOrphansIce(p, older) =>
        Some(GraftIcebergRemoveOrphansCommand(p,
          Option(older).map(_.toLong).getOrElse(-1L), dryRun = false))
      case TagIceCreate(p, name, sid) => Some(GraftIcebergRefCommand(p,
        name, "tag", Option(sid).map(_.toLong)))
      case TagIceDrop(p, name) => Some(GraftIcebergDropRefCommand(p, name))
      case BranchIceCreate(p, name, sid) => Some(GraftIcebergRefCommand(p,
        name, "branch", Option(sid).map(_.toLong)))
      case RefsIce(p) => Some(GraftIcebergRefsCommand(p))
      case FfIce(p, to, from) => Some(GraftIcebergFastForwardCommand(p,
        to, from))
      case EvolveIceUnpart(p) => Some(GraftIcebergEvolveSpecCommand(p, None))
      case EvolveIceTo(p, spec) =>
        Some(GraftIcebergEvolveSpecCommand(p, Some(spec)))
      case other if other.trim.toUpperCase.startsWith("GRAFT ") =>
        // a malformed GRAFT statement must fail with OUR grammar, not
        // Spark's baffled syntax error
        throw new IllegalArgumentException(
          "unrecognized GRAFT statement; supported: GRAFT HISTORY | " +
            "CHECKPOINT | RESTORE ... VERSION AS OF n | VACUUM ... " +
            "RETAIN n [MIN AGE ms] | FSCK | RENAME COLUMN a TO b IN " +
            "'root' | DROP COLUMN c IN 'root' | CLONE 'src' TO 'dst' " +
            "[VERSION AS OF n] | STATS 'root' COLUMNS a, b | " +
            "TRUNCATE LOG 'root' [BELOW n] | OPTIMIZE 'root' FILES n | " +
            "OPTIMIZE 'root' PARTITION BY bucket(n,col) | " +
            "OPTIMIZE 'root' ZORDER BY x, y [FILES n] | " +
            "TAG 'root' CREATE name [VERSION AS OF n] | " +
            "TAG 'root' DROP name | TAGS 'root' | " +
            "BRANCH 'root' CREATE|PUBLISH|DROP name | BRANCHES 'root' | " +
            "DETAIL 'root' | VACUUM ... DRY RUN | REORG 'root' PURGE | " +
            "CONVERT DELTA|ICEBERG 'src' TO 'dst' | " +
            "CONVERT DELTA 'src' TO ICEBERG 'dst' | " +
            "CONVERT ICEBERG 'src' TO DELTA 'dst' | " +
            "OPTIMIZE DELTA 'root' [ZORDER BY x, y] [FILES n] | " +
            "OPTIMIZE ICEBERG 'root' [ZORDER BY x, y] [FILES n] | " +
            "VACUUM DELTA 'root' [RETAIN ms MS] | " +
            "EXPIRE SNAPSHOTS 'root' OLDER THAN ms [RETAIN LAST n] | " +
            "RESTORE DELTA 'root' VERSION AS OF n | " +
            "CLONE DELTA 'src' TO 'dst' [VERSION AS OF n] | " +
            "HISTORY DELTA 'root' | " +
            "ROLLBACK ICEBERG 'root' TO SNAPSHOT id | " +
            "SNAPSHOTS ICEBERG 'root' | " +
            "TAG|BRANCH ICEBERG 'root' CREATE name [AT SNAPSHOT id] | " +
            "TAG ICEBERG 'root' DROP name | REFS ICEBERG 'root' | " +
            "FAST FORWARD ICEBERG 'root' to TO from")
      case _ => None
    }

  private def attr(name: String, t: DataType,
      nullable: Boolean = false): AttributeReference =
    AttributeReference(name, t, nullable)()

  case class GraftHistoryCommand(root: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("version", LongType), attr("action", StringType),
      attr("n_files", IntegerType), attr("n_removed", IntegerType),
      attr("n_rows_written", LongType, nullable = true),
      attr("batch_tag", LongType, nullable = true),
      attr("has_schema", BooleanType), attr("commit_ts", LongType))
    override def run(s: SparkSession): Seq[Row] =
      VersionedTable.history(s, root).collect().toSeq
  }

  case class GraftCheckpointCommand(root: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(VersionedTable.checkpoint(root)))
  }

  case class GraftRestoreCommand(root: String, toVersion: Long)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("restored_to", LongType), attr("new_version", LongType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(toVersion, VersionedTable.restore(root, toVersion)))
  }

  case class GraftVacuumCommand(root: String, retain: Long, minAgeMs: Long)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Nil
    override def run(s: SparkSession): Seq[Row] = {
      VersionedTable.vacuum(root, retain, minAgeMs)
      Seq.empty
    }
  }

  case class GraftFsckCommand(root: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("ok", BooleanType), attr("contiguous_log", BooleanType),
      attr("n_versions", IntegerType),
      attr("n_missing_latest", IntegerType),
      attr("n_missing_historic", IntegerType),
      attr("n_orphan_dirs", IntegerType),
      attr("n_chain_breaks", IntegerType))
    override def run(s: SparkSession): Seq[Row] = {
      val r = VersionedTable.fsck(root)
      Seq(Row(r.ok, r.contiguousLog, r.checkedVersions.size,
        r.missingLatest.size, r.missingHistoric.size, r.orphanDirs.size,
        r.chainBreaks.size))
    }
  }

  case class GraftRenameColumnCommand(root: String, oldName: String,
      newName: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(VersionedTable.renameColumn(root, oldName, newName)))
  }

  case class GraftDropColumnCommand(root: String, name: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(VersionedTable.dropColumn(root, name)))
  }

  case class GraftCloneCommand(src: String, dst: String,
      version: Option[Long]) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(VersionedTable.cloneShallow(src, dst, version)))
  }

  /** `GRAFT CONVERT DELTA|ICEBERG 'src' TO 'dst'` — import a foreign
    * lakehouse table as a graft table in one metadata commit
    * ([[VersionedTable.importDelta]] / [[VersionedTable.importIceberg]]:
    * ext: refs, imported stats, zero copy). */
  case class GraftConvertCommand(src: String, dst: String,
      iceberg: Boolean) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(
        if (iceberg) VersionedTable.importIceberg(s, src, dst)
        else VersionedTable.importDelta(s, src, dst)))
  }

  /** `GRAFT CONVERT DELTA 'src' TO ICEBERG 'dst'` /
    * `GRAFT CONVERT ICEBERG 'src' TO DELTA 'dst'` — cross-format
    * zero-copy conversion (the xtable shape): the target's metadata
    * tree references the source's live data files in place
    * ([[graft.sources.IcebergMeta.importDelta]] /
    * [[graft.sources.DeltaLog.importIceberg]]). Returns the new
    * table's snapshot id / version. */
  case class GraftCrossConvertCommand(src: String, dst: String,
      toIceberg: Boolean) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("id", LongType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(
        if (toIceberg) graft.sources.IcebergMeta.importDelta(s, src, dst)
        else graft.sources.DeltaLog.importIceberg(s, src, dst)))
  }

  /** `GRAFT OPTIMIZE ICEBERG 'root' [ZORDER BY x, y] [FILES n]` —
    * Iceberg's rewrite_data_files (optionally sort-strategy z-order):
    * materializes the visible rows into fresh files in one `replace`
    * snapshot ([[graft.sources.IcebergMeta.compact]]; v3 lineage
    * preserved via materialized columns). */
  case class GraftIcebergOptimizeCommand(root: String, files: Int,
      zorderBy: Option[(String, String)]) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("snapshot_id", LongType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(graft.sources.IcebergMeta.compact(s, root, files, zorderBy)))
  }

  /** `GRAFT ANALYZE ICEBERG 'root' [FOR COLUMNS a, b] [EXACT]` —
    * Iceberg's compute_table_stats procedure: per-column NDV sketched
    * over the current snapshot (approx by default, count(DISTINCT)
    * with EXACT) and published as a Puffin statistics file in the
    * metadata document's `statistics` field
    * ([[graft.sources.IcebergMeta.writeStatistics]]); the CBO rule
    * ([[IcebergCboStats]]) feeds it back into plan costing. */
  case class GraftIcebergAnalyzeCommand(root: String,
      cols: Seq[String], exact: Boolean) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("col_name", StringType), attr("ndv", LongType))
    override def run(s: SparkSession): Seq[Row] =
      graft.sources.IcebergMeta.writeStatistics(s, root, cols, exact)
        .toSeq.sortBy(_._1).map { case (c, n) => Row(c, n) }
  }

  /** `GRAFT REWRITE MANIFESTS ICEBERG 'root' [TARGET n]` — Iceberg's
    * rewrite_manifests procedure: collapse the manifest tree into at
    * most n data manifests per spec, metadata-only, file content and
    * sequence numbers preserved
    * ([[graft.sources.IcebergMeta.rewriteManifests]]). */
  case class GraftIcebergRewriteManifestsCommand(root: String,
      target: Int) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("snapshot_id", LongType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(graft.sources.IcebergMeta.rewriteManifests(root, target)))
  }

  /** `GRAFT WRITE ORDERED BY ICEBERG 'root' col [ASC|DESC], ...` —
    * Iceberg's `ALTER TABLE ... WRITE ORDERED BY`: declares the
    * table's default sort order (one metadata-only commit); a plain
    * `GRAFT OPTIMIZE ICEBERG` then re-clusters by it
    * ([[graft.sources.IcebergMeta.setSortOrder]]). */
  case class GraftIcebergSortOrderCommand(root: String,
      fields: Seq[(String, String)]) extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(attr("order_id", LongType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(graft.sources.IcebergMeta.setSortOrder(root, fields)
        .toLong))
  }

  /** `GRAFT REMOVE ORPHAN FILES ICEBERG 'root' [OLDER THAN ts]
    * [DRY RUN]` — Iceberg's remove_orphan_files: reachability sweep
    * of `data/` + `metadata/` for files no snapshot, manifest, or
    * statistics entry names (lost commit races), age-guarded
    * (`ts` an absolute cutoff like EXPIRE SNAPSHOTS'; default
    * now − 3 days) — [[graft.sources.IcebergMeta.removeOrphanFiles]]. */
  case class GraftIcebergRemoveOrphansCommand(root: String,
      olderThanMs: Long, dryRun: Boolean) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("n_scanned", LongType), attr("n_orphans", LongType),
      attr("n_young_kept", LongType))
    override def run(s: SparkSession): Seq[Row] = {
      val r = graft.sources.IcebergMeta.removeOrphanFiles(root,
        olderThanMs, dryRun)
      Seq(Row(r.scanned.toLong, r.orphans.size.toLong,
        r.youngKept.toLong))
    }
  }

  /** `GRAFT OPTIMIZE DELTA 'root' [ZORDER BY x, y] [FILES n]` —
    * delta-spark's OPTIMIZE [ZORDER BY] on a foreign `_delta_log`
    * table: dataChange=false rewrite, DVs materialized; with ZORDER,
    * the rewrite clusters on the Morton interleave so both
    * dimensions' stats prune ([[graft.sources.DeltaLog.compact]]). */
  case class GraftDeltaOptimizeCommand(root: String, files: Int,
      zorderBy: Option[(String, String)]) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(graft.sources.DeltaLog.compact(s, root, files, zorderBy)))
  }

  /** `GRAFT VACUUM DELTA 'root' [RETAIN ms MS]` — delta-spark's
    * VACUUM against a foreign `_delta_log` table (default retention
    * 7 days, its default too). */
  case class GraftDeltaVacuumCommand(root: String, retainMs: Long,
      dryRun: Boolean = false) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("n_deleted", LongType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(graft.sources.DeltaLog.vacuum(s, root, retainMs,
        dryRun = dryRun)))
  }

  /** `GRAFT CLONE DELTA 'src' TO 'dst' [VERSION AS OF n]` — shallow
    * clone: a new table referencing the source's files by absolute
    * path, zero data copied. */
  case class GraftDeltaCloneCommand(src: String, dst: String,
      versionAsOf: Option[Long]) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(graft.sources.DeltaLog.cloneShallow(s, src, dst,
        versionAsOf)))
  }

  /** `GRAFT RESTORE DELTA 'root' VERSION AS OF n` — delta-spark's
    * RESTORE: one commit that re-establishes the target version's
    * files and metaData. */
  case class GraftDeltaRestoreCommand(root: String, toVersion: Long)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(graft.sources.DeltaLog.restore(s, root, toVersion)))
  }

  /** `GRAFT HISTORY DELTA 'root'` — DESCRIBE HISTORY's rows from the
    * commitInfo actions, newest first. */
  case class GraftDeltaHistoryCommand(root: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("version", LongType),
      attr("operation", StringType, nullable = true),
      attr("timestamp", LongType, nullable = true))
    override def run(s: SparkSession): Seq[Row] =
      graft.sources.DeltaLog.history(root).map { case (v, op, ts) =>
        Row(v, op.orNull, ts.map(Long.box).orNull)
      }
  }

  /** `GRAFT ROLLBACK ICEBERG 'root' TO SNAPSHOT id` — the
    * rollback_to_snapshot procedure: one metadata commit moving the
    * current pointer. */
  case class GraftIcebergRollbackCommand(root: String, snapshotId: Long)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("metadata_version", IntegerType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(graft.sources.IcebergMeta.rollbackTo(root, snapshotId)))
  }

  /** `GRAFT SNAPSHOTS ICEBERG 'root'` — the snapshots listing
    * (sequence, id, operation), ascending by sequence. */
  case class GraftIcebergSnapshotsCommand(root: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("sequence_number", LongType),
      attr("snapshot_id", LongType),
      attr("operation", StringType, nullable = true))
    override def run(s: SparkSession): Seq[Row] =
      graft.sources.IcebergMeta.snapshotLog(root).map(r =>
        Row(r.seq, r.snapshotId, if (r.op.isEmpty) null else r.op))
  }

  /** `GRAFT EXPIRE SNAPSHOTS 'root' OLDER THAN ms [RETAIN LAST n]` —
    * Iceberg's expire_snapshots procedure against a metadata-tree
    * table. */
  case class GraftIcebergExpireCommand(root: String, olderThanMs: Long,
      retainLast: Int) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("expired_snapshots", IntegerType),
      attr("deleted_files", IntegerType),
      attr("deleted_manifests", IntegerType),
      attr("deleted_manifest_lists", IntegerType))
    override def run(s: SparkSession): Seq[Row] = {
      val r = graft.sources.IcebergMeta.expireSnapshots(root,
        olderThanMs, retainLast)
      Seq(Row(r.expiredSnapshots, r.deletedFiles, r.deletedManifests,
        r.deletedManifestLists))
    }
  }

  /** `GRAFT TAG|BRANCH ICEBERG 'root' CREATE name [AT SNAPSHOT id]` —
    * write a ref into the metadata.json refs map (tags pin forever,
    * branches advance with [[graft.sources.IcebergMeta.append]]'s
    * toBranch / fast-forward). */
  case class GraftIcebergRefCommand(root: String, name: String,
      refType: String, snapshotId: Option[Long])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("ref", StringType), attr("type", StringType),
      attr("snapshot_id", LongType))
    override def run(s: SparkSession): Seq[Row] = {
      graft.sources.IcebergMeta.setRef(root, name, refType, snapshotId)
      Seq(Row(name, refType,
        graft.sources.IcebergMeta.refSnapshotId(root, name)))
    }
  }

  /** `GRAFT TAG ICEBERG 'root' DROP name` (also drops branches). */
  case class GraftIcebergDropRefCommand(root: String, name: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("dropped", StringType))
    override def run(s: SparkSession): Seq[Row] = {
      graft.sources.IcebergMeta.dropRef(root, name)
      Seq(Row(name))
    }
  }

  /** `GRAFT REFS ICEBERG 'root'` — the refs listing, sorted by name. */
  case class GraftIcebergRefsCommand(root: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("ref", StringType), attr("type", StringType),
      attr("snapshot_id", LongType))
    override def run(s: SparkSession): Seq[Row] =
      graft.sources.IcebergMeta.refs(root).toSeq.sortBy(_._1)
        .map { case (n, (sid, t)) => Row(n, t, sid) }
  }

  /** `GRAFT FAST FORWARD ICEBERG 'root' to TO from` — the
    * fast_forward procedure (WAP publish). */
  case class GraftIcebergFastForwardCommand(root: String,
      to: String, from: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("ref", StringType), attr("snapshot_id", LongType))
    override def run(s: SparkSession): Seq[Row] = {
      graft.sources.IcebergMeta.fastForward(root, to, from)
      Seq(Row(to, graft.sources.IcebergMeta.refSnapshotId(root, to)))
    }
  }

  /** `GRAFT EVOLVE SPEC ICEBERG 'root' PARTITION BY bucket(4, col),
    * day(ts) | UNPARTITIONED` — partition-spec evolution: one
    * metadata-only commit; new appends lay out under the new spec,
    * old files keep their tuples. SQL transform forms map to the
    * spec's: `bucket(n, c)`, `truncate(w, c)`,
    * `year|month|day|hour|void(c)`, `identity(c)` or a bare column. */
  case class GraftIcebergEvolveSpecCommand(root: String,
      fieldsSpec: Option[String]) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("spec_id", IntegerType))
    private val WithArg = """^(\w+)\(\s*(\d+)\s*,\s*([\w.]+)\s*\)$""".r
    private val NoArg = """^(\w+)\(\s*([\w.]+)\s*\)$""".r
    private val Bare = """^([\w.]+)$""".r
    override def run(s: SparkSession): Seq[Row] = {
      val fields = fieldsSpec.toSeq.flatMap(_
        .split(""",(?![^(]*\))""").toSeq.map(_.trim).filter(_.nonEmpty)
        .map {
          case WithArg("bucket", n, c) => c -> s"bucket[$n]"
          case WithArg("truncate", w, c) => c -> s"truncate[$w]"
          case NoArg(t, c) if Set("year", "month", "day", "hour",
            "void", "identity")(t.toLowerCase) =>
            c -> (if (t.toLowerCase == "identity") "identity"
                  else t.toLowerCase)
          case Bare(c) => c -> "identity"
          case other => throw new IllegalArgumentException(
            s"GRAFT EVOLVE SPEC: unrecognized transform '$other' — " +
              "supported: bucket(n,c), truncate(w,c), year/month/day/" +
              "hour/void(c), identity(c), bare column")
        })
      Seq(Row(graft.sources.IcebergMeta.evolveSpec(root, fields)))
    }
  }

  case class GraftCreateTagCommand(root: String, name: String,
      version: Option[Long]) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("tag", StringType), attr("version", LongType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(name, VersionedTable.createTag(root, name, version)))
  }

  case class GraftDropTagCommand(root: String, name: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Nil
    override def run(s: SparkSession): Seq[Row] = {
      VersionedTable.dropTag(root, name)
      Seq.empty
    }
  }

  case class GraftTagsCommand(root: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("tag", StringType), attr("version", LongType))
    override def run(s: SparkSession): Seq[Row] =
      VersionedTable.tags(root).toSeq.sortBy(_._1)
        .map { case (n, v) => Row(n, v) }
  }

  case class GraftCreateBranchCommand(root: String, name: String,
      version: Option[Long]) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("branch_root", StringType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(VersionedTable.createBranch(root, name, version)))
  }

  case class GraftPublishBranchCommand(root: String, name: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(VersionedTable.publishBranch(s, root, name)))
  }

  case class GraftDropBranchCommand(root: String, name: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Nil
    override def run(s: SparkSession): Seq[Row] = {
      VersionedTable.dropBranch(root, name)
      Seq.empty
    }
  }

  case class GraftBranchesCommand(root: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("branch", StringType), attr("base_version", LongType),
      attr("branch_version", LongType))
    override def run(s: SparkSession): Seq[Row] =
      VersionedTable.branches(root).toSeq.sortBy(_._1)
        .map { case (n, (b, l)) => Row(n, b, l) }
  }

  case class GraftVacuumDryRunCommand(root: String, retain: Long,
      minAgeMs: Long) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("would_delete", StringType))
    override def run(s: SparkSession): Seq[Row] =
      VersionedTable.vacuumDryRun(root, retain, minAgeMs).map(Row(_))
  }

  case class GraftReorgPurgeCommand(root: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(VersionedTable.purgeTombstones(s, root)))
  }

  case class GraftDetailCommand(root: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("version", LongType), attr("num_files", IntegerType),
      attr("size_bytes", LongType), attr("num_tombstones", IntegerType),
      attr("num_bloom_indexes", IntegerType), attr("num_checks", IntegerType),
      attr("num_tags", IntegerType), attr("num_branches", IntegerType),
      attr("last_checkpoint", LongType, nullable = true),
      attr("num_columns", IntegerType), attr("num_part_tags", IntegerType))
    override def run(s: SparkSession): Seq[Row] = {
      val d = VersionedTable.detail(root)
      Seq(Row(d.version, d.numFiles, d.sizeBytes, d.numTombstoneSidecars,
        d.numBloomIndexes, d.numChecks, d.numTags, d.numBranches,
        d.lastCheckpoint.orNull, d.numColumns, d.numPartTags))
    }
  }

  case class GraftStatsCommand(root: String, cols: Seq[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("col_name", StringType), attr("n_rows", LongType),
      attr("n_nulls", LongType), attr("min_v", LongType, nullable = true),
      attr("max_v", LongType, nullable = true))
    override def run(s: SparkSession): Seq[Row] =
      VersionedTable.statsAggregate(s, root, cols).collect().toSeq
  }

  case class GraftTruncateLogCommand(root: String, below: Option[Long])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(attr("n_manifests_removed", IntegerType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(VersionedTable.truncateLog(root, below)))
  }

  case class GraftOptimizeCommand(root: String, numFiles: Int,
      zorderBy: Option[(String, String)]) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(VersionedTable.compact(s, root, numFiles, zorderBy)))
  }

  case class GraftOptimizePartitionCommand(root: String, spec: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("version", LongType))
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(VersionedTable.compactPartitioned(s, root,
        graft.sources.PartitionTransform.parse(spec))))
  }
}
