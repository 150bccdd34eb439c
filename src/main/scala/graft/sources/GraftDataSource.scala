package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{
  FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{
  BaseRelation, CreatableRelationProvider, DataSourceRegister,
  InsertableRelation, RelationProvider, StreamSinkProvider}
import org.apache.spark.sql.types.StructType

/** Spark-native datasource for the graft versioned-table format:
  *
  * {{{
  *   spark.read.format("graft").load(root)                     // latest
  *   spark.read.format("graft")
  *     .option("versionAsOf", 3).load(root)                    // time travel
  *   df.write.format("graft").mode("append").save(root)        // commit
  *   sql(s"CREATE TABLE t USING graft OPTIONS (path '$root')") // SQL surface
  *   sql("SELECT * FROM t WHERE k = 5")                        // pruned scan
  * }}}
  *
  * This is the Delta-style integration shape (Delta's `DeltaLog` +
  * `TahoeLogFileIndex`, delta-io `DeltaDataSource`): plug a custom
  * [[FileIndex]] into Spark's OWN parquet `HadoopFsRelation` path
  * rather than hand-rolling a DSv2 reader. Everything downstream is
  * stock Spark — vectorized parquet reader, whole-stage codegen,
  * column pruning, parquet row-group pushdown — while
  * [[GraftFileIndex.listFiles]] prunes FILES from the snapshot's
  * manifest before any I/O is planned, through graft's one skipping
  * rule ([[VersionedTable.filesMayMatch]]):
  *
  *  - range predicates against per-file min/max (strict comparisons
  *    prune their boundary file too),
  *  - `IS [NOT] NULL` against per-file null counts,
  *  - equality through min/max, then the graft-only probes: the
  *    per-file bloom index (when built) and each file's
  *    hidden-partitioning `part=` tag,
  *
  * the same rule the DSv2 scan, DML targeting and
  * [[VersionedTable.readPruned]] use — here driven by Catalyst from a
  * plain SQL `WHERE`, so `SELECT * FROM t WHERE k = 5` on a
  * 100 TB table opens only the files that can hold `k = 5` with no
  * engine-specific reader API in the query. Spark re-applies every
  * predicate on the surviving rows (the index only ever PRUNES, the
  * filters stay in the plan), so pruning can never change an answer.
  *
  * Reader feature gates (protocol-correct refusal, the Delta
  * `readerFeatures` stance — a reader that cannot honor a table
  * feature must fail loudly, never return wrong rows):
  *  - snapshots carrying merge-on-read tombstones refuse (this path
  *    cannot apply the anti-join) → read via `VersionedTable.read`
  *    or `compact()` first;
  *  - snapshots with a non-identity column mapping (RENAME COLUMN)
  *    refuse (parquet physical names differ from logical) → same
  *    escape hatch.
  *
  * Writes go through [[VersionedTable.commit]] — atomic publish,
  * CHECK-constraint enforcement, footer-stats harvesting, schema
  * evolution validation. Every write surface is a full citizen of the
  * commit protocol: `df.write.format("graft")` (below), SQL
  * `INSERT INTO` / `INSERT OVERWRITE` on a catalog table (the
  * relation is an [[InsertableRelation]], so `DataSourceAnalysis`
  * plans `InsertIntoDataSourceCommand` → [[GraftRelation.insert]] →
  * `commit`, never a raw-file `InsertIntoHadoopFsRelationCommand`),
  * and `CREATE TABLE ... USING graft AS SELECT` (CTAS routes through
  * the `CreatableRelationProvider` overload). Inserting into a
  * time-travel-pinned relation refuses — snapshots are immutable.
  *
  * Freshness: an UNPINNED catalog relation tracks the log head — the
  * [[GraftFileIndex]] re-resolves the latest version on every planning
  * call, so cached catalog relations read fresh data after external
  * commits with no `REFRESH TABLE` dance (CatalogFreshnessSpec).
  * `REFRESH TABLE` is only needed when the SCHEMA changed
  * incompatibly, in which case the stale relation fails loudly rather
  * than serve wrong columns.
  */
class GraftDataSource extends RelationProvider
    with CreatableRelationProvider with StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graft"

  // ------------------------------------------------------------------
  // `spark.readStream.format("graft").load(root)` — the table's OWN
  // format name serves its change feed (Delta's readStream-on-a-table
  // shape): initial snapshot as inserts, then incremental CDC, by
  // delegation to [[ChangeFeedSource]] (same offsets, admission
  // control, AvailableNow, update-image classification — one
  // implementation, two names). Extra option sugar: `startingVersion`
  // (Delta's spelling, FIRST INCLUDED version) translates to the
  // feed's `startingAfterVersion`.
  // ------------------------------------------------------------------

  private val feed = new ChangeFeedSource

  private def feedParams(parameters: Map[String, String])
      : Map[String, String] = {
    val lower = parameters.map { case (k, v) => k.toLowerCase -> v }
    lower.get("startingversion") match {
      case Some(v) if !lower.contains("startingafterversion") =>
        parameters + ("startingAfterVersion" -> (v.toLong - 1).toString)
      case _ => parameters
    }
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(),
      feed.sourceSchema(sqlContext, schema, providerName,
        feedParams(parameters))._2)

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    feed.createSource(sqlContext, metadataPath, schema, providerName,
      feedParams(parameters))

  /** `df.writeStream.format("graft").option("path", root)` — the
    * exactly-once streaming sink as a first-class format, not just a
    * `foreachBatch` helper: each micro-batch commits through
    * [[VersionedTable.streamingSink]], whose batch-tag replay check
    * (manifest scan + checkpointed `batchtag=`) skips re-delivered
    * batches, so at-least-once delivery + idempotent commit =
    * exactly-once table contents across restarts.
    *
    * PARTITIONED streaming ingest (the common Delta layout —
    * `.partitionBy("day")` on the stream): each micro-batch lands
    * hidden-partitioned, its files tagged with their (transform,
    * value) in the same manifest, so reads prune streamed data exactly
    * like batch-committed data. `.partitionBy(col)` gives identity
    * partitioning; `option("partitionBy", "day(ts)" | "bucket(n,col)"
    * | "trunc(w,col)")` gives a hidden transform (a v1 streaming sink
    * only receives column NAMES, so transforms ride an option). */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft streaming sink is append-only (commit per micro-batch), " +
        s"got $outputMode")
    val root = rootOf(parameters)
    val transform: Option[PartitionTransform] =
      parameters.get("partitionBy") match {
        case Some(spec) =>
          val t = PartitionTransform.parse(spec)
          require(partitionColumns.isEmpty ||
              partitionColumns == Seq(t.srcCol),
            s"graft streaming sink: partitionBy(${partitionColumns
              .mkString(",")}) conflicts with option partitionBy=$spec")
          Some(t)
        case None => partitionColumns match {
          case Seq() => None
          case Seq(c) => Some(PartitionTransform.Identity(c))
          case more => throw new IllegalArgumentException(
            "graft streaming sink supports ONE partition column " +
              s"(got ${more.mkString(", ")}) — compose via a derived " +
              "column or use OPTIMIZE PARTITION BY for multi-level layout")
        }
      }
    val sink = VersionedTable.streamingSink(root, transform)
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit =
        // the engine hands an incremental-execution frame; re-plan it
        // as a batch frame so the ordinary write path accepts it
        sink(org.apache.spark.sql.GraftColumnBridge.asBatch(data), batchId)
      override def toString: String = s"GraftSink[$root]"
    }
  }

  private def rootOf(parameters: Map[String, String]): String = {
    val p = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft datasource requires a path: .load(root) / OPTIONS (path ...)"))
    // The catalog hands locations through as file: URIs ("file:/tmp/x");
    // the log machinery wants a plain filesystem path.
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    val latest = VersionedTable.latestVersion(root)
    require(latest >= 0, s"$root is not a graft table (empty log)")
    // An explicit version/timestamp/tag PINS the relation to that
    // immutable snapshot; a plain load tracks the log head — the
    // FileIndex re-resolves per query, so a cached catalog relation
    // stays FRESH across external commits (the Delta behavior) with
    // no REFRESH TABLE dance for data changes.
    val pinned = parameters.get("versionAsOf").map(_.toLong)
      .orElse(parameters.get("timestampAsOf")
        .map(ts => VersionedTable.versionAsOf(root, ts.toLong)))
      .orElse(parameters.get("tagAsOf")
        .map(t => VersionedTable.versionOfTag(root, t)))
    pinned.foreach(v => require(v >= 0 && v <= latest,
      s"version $v out of range [0, $latest]"))
    val v0 = pinned.getOrElse(latest)
    val st = VersionedTable.state(root, v0)
    GraftFileIndex.featureGates(root, v0, st)
    val schema = VersionedTable.physicalSchemaOf(st).getOrElse(
      throw new IllegalStateException(
        s"$root v$v0 has no schema metadata — commit through " +
          "VersionedTable.commit"))
    new GraftRelation(
      new GraftFileIndex(spark, root, v0, st, pinned.isDefined),
      schema, root, pinned.isDefined)(spark)
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val root = rootOf(parameters)
    val exists = VersionedTable.latestVersion(root) >= 0
    mode match {
      case SaveMode.Append =>
        VersionedTable.commit(data, root, "append")
      case SaveMode.Overwrite =>
        VersionedTable.commit(data, root, "overwrite")
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"$root already is a graft table (SaveMode.ErrorIfExists)")
        VersionedTable.commit(data, root, "append")
      case SaveMode.Ignore =>
        if (!exists) VersionedTable.commit(data, root, "append")
    }
    createRelation(sqlContext, parameters)
  }
}

/** The relation the graft datasource serves: Spark's own parquet
  * [[HadoopFsRelation]] (so the ENTIRE stock scan path applies —
  * `FileSourceStrategy`, vectorized reader, whole-stage codegen,
  * column pruning, row-group pushdown) that is ALSO an
  * [[InsertableRelation]]. The mix-in is what keeps SQL DML inside
  * the commit protocol: `DataSourceAnalysis` matches
  * `InsertableRelation` BEFORE its raw-file `HadoopFsRelation` case,
  * so `INSERT INTO t ...` / `INSERT OVERWRITE t ...` on a
  * `USING graft` catalog table plans `InsertIntoDataSourceCommand`
  * → [[insert]] → [[VersionedTable.commit]] — an atomic manifest
  * commit with CHECK enforcement, schema validation, and stats
  * harvest — instead of dropping orphan parquet files outside the
  * manifest (the pre-round-7 footgun, then only caught by FSCK).
  *
  * Optimizer rules that `copy()` the relation (e.g. partition
  * pruning) degrade it to a plain `HadoopFsRelation` — harmless: the
  * insert path resolves against the ORIGINAL analyzed relation, and
  * the scan behavior of the copy is identical. */
class GraftRelation(index: GraftFileIndex, schema: StructType,
    root: String, pinnedSnapshot: Boolean)(spark: SparkSession)
  extends HadoopFsRelation(
    location = index,
    partitionSchema = new StructType(),
    dataSchema = schema,
    bucketSpec = None,
    fileFormat = new ParquetFileFormat,
    options = Map.empty)(spark) with InsertableRelation {

  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(!pinnedSnapshot,
      "graft: cannot INSERT into a time-travel-pinned relation " +
        "(versionAsOf/timestampAsOf/tagAsOf snapshots are immutable) — " +
        "insert through an unpinned table reference")
    VersionedTable.commit(data, root, if (overwrite) "overwrite" else "append")
  }
}

/** Manifest-backed [[FileIndex]] over one immutable snapshot: the file
  * list, sizes, and stats all come from the log (no directory
  * listing — at 100 TB / millions of files, object-store LIST is the
  * scan planner's bottleneck; Delta and Iceberg exist to avoid it).
  * `listFiles` keeps the files graft's one skipping rule
  * ([[VersionedTable.filesMayMatch]]: min/max + null counts, then bloom
  * sidecars and hidden-partition tags) admits under the pushed data
  * filters. Conservative by construction: any expression shape it
  * doesn't recognize keeps the file, and Spark re-applies all filters
  * row-wise downstream.
  */
class GraftFileIndex(spark: SparkSession, root: String, version: Long,
    initialState: VersionedTable.TableState, pinnedSnapshot: Boolean)
    extends FileIndex {

  private def buildStatuses(s: VersionedTable.TableState)
      : Seq[(String, FileStatus)] =
    // Sizes come from the manifest's fsize= lines (Delta
    // AddFile.size) — zero filesystem calls on the planning path for
    // tables written by this library; files from older manifests
    // without a recorded size fall back to one stat each. mtime is
    // irrelevant to split planning (parquet readers don't consult
    // it), so a constant spares another per-file stat.
    s.files.map { f =>
      val p = VersionedTable.dataPath(root, f)
      val len = s.sizes.getOrElse(f, VersionedTable.dataIO(root).size(p))
      f -> new FileStatus(len, false, 1, 128L * 1024 * 1024, 0L,
        new HPath(p.toUri))
    }

  /** The snapshot this index currently serves. A PINNED index (an
    * explicit versionAsOf/timestampAsOf/tagAsOf) never moves — time
    * travel is immutable. An unpinned index re-resolves the log head
    * on each planning call, so a cached catalog relation reads FRESH
    * data after external commits; the version check is one directory
    * listing, and each query plans against exactly one snapshot
    * (listFiles is called once per scan). The relation's schema stays
    * the one resolved at creation — sound for appends (add-only
    * evolution keeps the old schema a valid projection); a refresh
    * that breaks that contract fails loudly below. */
  @volatile private var current:
      (Long, VersionedTable.TableState, Seq[(String, FileStatus)]) =
    (version, initialState, buildStatuses(initialState))

  /** The schema this relation was resolved with — every refreshed
    * snapshot must keep it a valid projection (appends are add-only,
    * so this holds by protocol; an overwrite that breaks it fails
    * loudly and REFRESH TABLE re-resolves). */
  private val baselineSchema: Option[StructType] =
    VersionedTable.physicalSchemaOf(initialState)

  private def resolved()
      : (Long, VersionedTable.TableState, Seq[(String, FileStatus)]) = {
    if (pinnedSnapshot) return current
    val head = VersionedTable.latestVersion(root)
    val cached = current
    if (head == cached._1) cached
    else {
      val st = VersionedTable.state(root, head)
      // the new snapshot must still honor this scan path's contracts
      GraftFileIndex.featureGates(root, head, st)
      val newSchema = VersionedTable.physicalSchemaOf(st)
      val stillValid = baselineSchema.forall(os => newSchema.exists(ns =>
        os.fields.forall(of =>
          ns.fields.exists(nf =>
            nf.name == of.name && nf.dataType == of.dataType))))
      if (!stillValid)
        throw new IllegalStateException(
          s"graft datasource: $root's schema changed incompatibly since " +
            "this relation was resolved — run REFRESH TABLE (or re-load) " +
            "to pick up the new schema")
      val next = (head, st, buildStatuses(st))
      current = next
      next
    }
  }

  /** (files kept, files total) of the most recent `listFiles` — spec
    * observability for pruning, same role as [[VersionedTable.pruneFiles]]. */
  @volatile var lastListing: Option[(Int, Int)] = None

  /** For the DML rewrite rule ([[graft.ext.GraftDmlRewrite]]): the
    * table this index serves and whether it is a time-travel pin. */
  private[graft] def tableRoot: String = root
  private[graft] def isPinned: Boolean = pinnedSnapshot

  /** For the MOR scan rewrite ([[graft.ext.GraftMorScan]]): the
    * snapshot a query planned NOW would serve, and whether it carries
    * merge-on-read tombstones (i.e. needs the ∪/anti-join rewrite). */
  private[graft] def currentVersion: Long = resolved()._1
  private[graft] def currentHasTombstones: Boolean =
    resolved()._2.tombs.values.exists(_.nonEmpty)

  override def rootPaths: Seq[HPath] = Seq(new HPath(root))
  override def partitionSchema: StructType = new StructType()
  override def sizeInBytes: Long = resolved()._3.map(_._2.getLen).sum
  override def inputFiles: Array[String] =
    resolved()._3.map(_._2.getPath.toString).toArray
  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val (v, snap, statuses) = resolved()
    // Physical-time tombstone gate: a raw file listing of a snapshot
    // with merge-on-read tombstones would RESURRECT deleted rows. The
    // analysis-time [[graft.ext.GraftMorScan]] rule rewrites such scans
    // into (clean files) ∪ (anti-joined touched files), whose clean
    // index carries no tombstones. Any OTHER route to this listing —
    // extensions not installed, a plan analyzed before an external MOR
    // edit landed — must fail loudly here rather than return wrong rows.
    if (snap.tombs.values.exists(_.nonEmpty))
      throw new UnsupportedOperationException(
        s"graft datasource: snapshot v$v of $root carries merge-on-read " +
          "tombstones this raw scan cannot apply — install " +
          "graft.ext.GraftExtensions (the MOR scan rewrite) and re-plan " +
          "the query, or read via VersionedTable.read / compact() first")
    val kept = VersionedTable.filesMayMatch(root, snap, dataFilters).toSet
    val keep = statuses.filter(s => kept.contains(s._1))
    lastListing = Some((keep.size, statuses.size))
    Seq(PartitionDirectory(InternalRow.empty, keep.map(_._2).toArray))
  }
}

object GraftFileIndex {
  /** Reader feature gates (protocol-correct refusal): snapshots this
    * scan path cannot honor fail loudly, never return wrong rows.
    * Checked at relation creation AND on every head re-resolution of
    * an unpinned index (an external MOR delete or rename must not
    * slip past a cached relation). */
  private[sources] def featureGates(root: String, v: Long,
      st: VersionedTable.TableState): Unit = {
    // Merge-on-read tombstones are NOT gated here: relation creation
    // succeeds and the analysis-time [[graft.ext.GraftMorScan]] rule
    // rewrites the scan into (clean ∪ anti-joined) form. The raw
    // listing path keeps its own physical-time gate (listFiles), so a
    // session without the extensions fails loudly, never wrong.
    if (st.colMap.nonEmpty)
      throw new UnsupportedOperationException(
        s"graft datasource: snapshot v$v of $root has renamed columns " +
          "(logical names differ from parquet physical names) — read via " +
          "VersionedTable.read, which resolves the column mapping")
  }
}
