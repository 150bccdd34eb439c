package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  And, AttributeReference, BoundReference, Cast, EqualNullSafe, EqualTo,
  Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull,
  LessThan, LessThanOrEqual, Literal, Predicate}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.{
  FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{
  BaseRelation, CreatableRelationProvider, DataSourceRegister,
  RelationProvider}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `spark.read.format("delta-log").load(root)` — read (and write) a
  * REAL Delta Lake table through the [[DeltaLog]] protocol
  * implementation, with no delta-spark dependency:
  *
  * {{{
  *   spark.read.format("delta-log").load(root)                    // latest
  *   spark.read.format("delta-log")
  *     .option("versionAsOf", 2).load(root)                       // time travel
  *   df.write.format("delta-log").mode("append")
  *     .option("partitionBy", "p").save(root)                     // commit
  * }}}
  *
  * Same integration shape as the graft datasource: a snapshot-backed
  * [[FileIndex]] plugged into Spark's stock parquet
  * `HadoopFsRelation`, so vectorized reads, whole-stage codegen and
  * column pruning are free, while [[DeltaLogFileIndex.listFiles]]
  * prunes:
  *  - PARTITIONS exactly, by evaluating the pushed partition filters
  *    against each add's `partitionValues` (Delta's partition columns
  *    live in the log, not the files — the index surfaces them as
  *    Spark partition columns, so `WHERE p = 1` never plans I/O for
  *    other partitions);
  *  - FILES conservatively, by checking pushed data filters against
  *    each add's `stats` JSON (minValues/maxValues/nullCount — the
  *    spec's data-skipping metadata).
  *
  * Reader feature gates are [[DeltaLog]]'s (deletion vectors, column
  * mapping, unsupported v3 features refuse loudly). Time travel pins
  * an immutable snapshot; a plain load re-resolves the log head per
  * planning call, like the graft index.
  */
class DeltaLogDataSource extends RelationProvider
    with CreatableRelationProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "delta-log"

  // ---- streaming write: one Delta commit per micro-batch, made
  // EXACTLY-ONCE by the spec's SetTransaction handshake — each commit
  // carries {"txn":{"appId":A,"version":batchId}}, and a restarted
  // query skips batches at or below the replayed txn version. appId
  // defaults to the checkpointLocation (stable across restarts, the
  // same identity delta-spark keys on); override with
  // option("txnAppId", ...) when two queries share a checkpoint dir
  // layout. Append-only, like Delta's own file-sink semantics. ----
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"delta-log streaming sink is append-only, got $outputMode")
    val root = rootOf(parameters)
    val appId = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse(throw new IllegalArgumentException(
        "delta-log streaming sink needs a checkpointLocation or an " +
          "explicit option(\"txnAppId\", ...) for exactly-once"))
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        val exists = DeltaLog.latestVersion(root) >= 0
        if (exists) {
          val snap = DeltaLog.snapshot(data.sparkSession, root)
          require(snap.columnMapping.isEmpty,
            "delta-log streaming sink: target table uses column " +
              "mapping — this writer stages logical-named files and " +
              "would corrupt it; use delta-spark")
          if (snap.txns.getOrElse(appId, -1L) >= batchId)
            return // replayed batch after restart: already committed
        }
        DeltaLog.commit(
          org.apache.spark.sql.GraftColumnBridge.asBatch(data), root,
          partitionBy = partitionColumns,
          txn = Some(appId -> batchId))
      }
      override def toString: String = s"DeltaLogSink[$root]"
    }
  }

  // ---- streaming read: tail the commit log version-by-version ----
  // `spark.readStream.format("delta-log").load(root)` — Delta's own
  // readStream semantics: initial snapshot first (unless
  // `startingVersion` = N | "latest"), then each micro-batch carries
  // the data-changing adds of the commits in (start, end]; a commit
  // that REMOVES data refuses unless `ignoreDeletes` (remove-only) /
  // `ignoreChanges` (rewrites re-emit their files) — see
  // [[DeltaLogStream]].

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse {
      val base = DeltaLog.snapshot(sqlContext.sparkSession,
        rootOf(parameters)).schema
      if (parameters.map { case (k, v) => k.toLowerCase -> v }
        .get("readchangefeed").exists(_.toBoolean))
        DeltaLogStream.withCdfColumns(base)
      else base
    })

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    DeltaLogStream.create(sqlContext, metadataPath, schema, parameters,
      rootOf(parameters))

  private def rootOf(parameters: Map[String, String]): String = {
    val p = parameters.getOrElse("path", throw new IllegalArgumentException(
      "delta-log datasource requires a path: .load(root) / OPTIONS (path ...)"))
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    // TIMESTAMP AS OF resolves through the authoritative per-commit
    // timestamps — recorded inCommitTimestamp where the ICT feature
    // governs, commit-file mtime below the enablement mark. The
    // latest snapshot resolves ONCE and is reused when the timestamp
    // lands on the head (no second replay).
    val latestSnap = parameters.get("timestampAsOf")
      .filter(_ => parameters.get("versionAsOf").isEmpty) // version wins
      .map(_ => DeltaLog.snapshot(spark, root))
    val pinned = parameters.get("versionAsOf").map(_.toLong)
      .orElse(parameters.get("timestampAsOf")
        .map(ts => DeltaLog.versionAtTimestamp(spark, root, ts.toLong,
          latestSnap.map(_.configuration))))
    val snap = latestSnap.filter(s => pinned.contains(s.version))
      .getOrElse(DeltaLog.snapshot(spark, root, pinned))
    val idx = new DeltaLogFileIndex(spark, root, snap, pinned.isDefined)
    HadoopFsRelation(
      location = idx,
      partitionSchema = snap.partitionSchema,
      dataSchema = snap.dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val root = rootOf(parameters)
    val partitionBy = parameters.get("partitionBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    // `delta.`-prefixed writer options become table PROPERTIES at
    // creation (column mapping mode, DV enablement, CDF, ...); on an
    // EXISTING table they are dropped here — the table's own
    // configuration governs (re-used creation options must not make
    // routine appends refuse); change properties via setConfiguration
    val exists = DeltaLog.latestVersion(root) >= 0
    // Spark hands options over case-insensitively (iteration may
    // yield lowercased keys) but Delta property keys are
    // case-sensitive in the log — restore the canonical spellings of
    // the properties this writer acts on
    val canonicalProp = Map(
      "delta.columnmapping.mode" -> "delta.columnMapping.mode",
      "delta.enabledeletionvectors" -> "delta.enableDeletionVectors",
      "delta.enablechangedatafeed" -> "delta.enableChangeDataFeed",
      "delta.checkpointpolicy" -> "delta.checkpointPolicy",
      "delta.appendonly" -> "delta.appendOnly",
      "delta.enableicebergcompatv2" -> "delta.enableIcebergCompatV2",
      "delta.universalformat.enabledformats" ->
        "delta.universalFormat.enabledFormats",
      "delta.enableincommittimestamps" ->
        "delta.enableInCommitTimestamps",
      "delta.enablerowtracking" -> "delta.enableRowTracking")
    val properties =
      if (exists) Map.empty[String, String]
      else parameters.collect {
        case (k, v) if k.toLowerCase.startsWith("delta.") =>
          canonicalProp.getOrElse(k.toLowerCase, k) -> v }
    // delta-spark's writer option: merge add-only columns / safe
    // widenings into the table schema on append
    val mergeSchema = parameters
      .find(_._1.equalsIgnoreCase("mergeSchema"))
      .exists(_._2.equalsIgnoreCase("true"))
    // LIQUID CLUSTERING at creation: clusterBy=c1,c2 records the
    // delta.clustering domain + clusteredTable feature on EVERY
    // creation mode. On an existing table the option is DROPPED like
    // the delta.* creation properties above (a re-used writer config
    // must not make routine appends refuse) — the table keeps its own
    // clustering domain.
    val clusterBy = parameters.find(_._1.equalsIgnoreCase("clusterBy"))
      .map(_._2.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_ => !exists).getOrElse(Nil)
    mode match {
      case SaveMode.Append =>
        DeltaLog.commit(data, root, "append", partitionBy,
          properties = properties, mergeSchema = mergeSchema,
          clusterBy = clusterBy)
      case SaveMode.Overwrite =>
        DeltaLog.commit(data, root, "overwrite", partitionBy,
          properties = properties, clusterBy = clusterBy)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"$root already is a Delta table (SaveMode.ErrorIfExists)")
        DeltaLog.commit(data, root, "append", partitionBy,
          properties = properties, clusterBy = clusterBy)
      case SaveMode.Ignore =>
        if (!exists) DeltaLog.commit(data, root, "append", partitionBy,
          properties = properties, clusterBy = clusterBy)
    }
    createRelation(sqlContext, parameters)
  }
}

/** Snapshot-backed [[FileIndex]] over a Delta log replay: file list,
  * partition values, sizes and stats all come from the log — no
  * directory listing (the reason Delta exists at 100 TB). */
class DeltaLogFileIndex(spark: SparkSession, val root: String,
    initial: DeltaLog.DeltaSnapshot, val pinned: Boolean) extends FileIndex {

  @volatile private var current: DeltaLog.DeltaSnapshot = initial

  /** The snapshot a scan of this index would read right now (fresh for
    * unpinned indexes) — what [[graft.ext.DeltaMorScan]] inspects. */
  def currentSnapshot: DeltaLog.DeltaSnapshot = resolved()

  /** The URI string `_metadata.file_path` reports for an add. */
  def scanUriOf(a: DeltaLog.DeltaAdd): String =
    statusOf(a).getPath.toString

  private def resolved(): DeltaLog.DeltaSnapshot = {
    if (pinned) return current
    val head = DeltaLog.latestVersion(root)
    if (head != current.version) {
      val snap = DeltaLog.snapshot(spark, root, Some(head))
      // schema must still cover what this relation resolved with
      val ok = initial.schema.fields.forall(of =>
        snap.schema.fields.exists(nf =>
          nf.name == of.name && nf.dataType == of.dataType))
      if (!ok) throw new IllegalStateException(
        s"delta-log: $root's schema changed incompatibly since this " +
          "relation was resolved — re-load to pick up the new schema")
      current = snap
    }
    current
  }

  override def partitionSchema: StructType = initial.partitionSchema
  override def rootPaths: Seq[HPath] = Seq(new HPath(root))
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = resolved().adds.map(_.size).sum
  override def inputFiles: Array[String] =
    resolved().adds.map(a => statusOf(a).getPath.toString).toArray

  /** (files kept, files total) of the most recent listing. */
  @volatile var lastListing: Option[(Int, Int)] = None

  private def statusOf(a: DeltaLog.DeltaAdd): FileStatus = {
    val p =
      if (a.path.startsWith("/") || a.path.contains("://"))
        new HPath(a.path)
      else new HPath(new java.io.File(root, a.path).toURI)
    new FileStatus(a.size, false, 1, 128L * 1024 * 1024, 0L, p)
  }

  /** Typed catalyst value of a partition string, per the spec's
    * partition-value serialization (a Cast from the string form). */
  private def partValue(s: Option[String], dt: DataType): Any = s match {
    case None => null
    case Some(v) =>
      Cast(Literal(UTF8String.fromString(v), StringType), dt,
        Some("UTC")).eval(InternalRow.empty)
  }

  private def partRow(snap: DeltaLog.DeltaSnapshot,
      a: DeltaLog.DeltaAdd): InternalRow = {
    val ps = partitionSchema
    new GenericInternalRow(ps.fields.map { f =>
      partValue(
        if (a.nullPartitionCols.contains(f.name)) None
        else a.partitionValues.get(f.name), f.dataType)
    }.asInstanceOf[Array[Any]])
  }

  /** Bind partition filters to positions in the partition row. */
  private def bindPartitionPredicate(filters: Seq[Expression])
      : Option[InternalRow => Boolean] = {
    if (filters.isEmpty) return None
    val ps = partitionSchema
    val bound = filters.reduce(And).transform {
      case a: AttributeReference =>
        val i = ps.fieldNames.indexWhere(n =>
          spark.sessionState.analyzer.resolver(n, a.name))
        if (i < 0) return None // filter on a non-partition attr: keep all
        BoundReference(i, ps.fields(i).dataType, nullable = true)
    }
    val pred = Predicate.create(bound)
    pred.initialize(0)
    Some(row => pred.eval(row))
  }

  // ---- data skipping from the spec's per-file stats JSON ----

  /** add.path -> per-column ColStats, parsed once. */
  private val statsCache = scala.collection.concurrent.TrieMap
    .empty[String, Map[String, VersionedTable.ColStats]]

  private[sources] def statsOf(snap: DeltaLog.DeltaSnapshot,
      a: DeltaLog.DeltaAdd)
      : Map[String, VersionedTable.ColStats] =
    statsCache.getOrElseUpdate(a.path,
      DeltaLogFileIndex.parseStats(snap.dataSchema, a.statsJson))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val snap = resolved()
    // Physical-time safety gate (same posture as the graft and
    // iceberg indexes): a raw listing of a DV-carrying snapshot would
    // resurrect deleted rows. DeltaMorScan replaces this index with a
    // DV-cleared one; without the extensions, fail loudly, never wrong.
    if (snap.adds.exists(_.deletionVector.isDefined))
      throw new IllegalStateException(
        s"delta-log: v${snap.version} of $root carries deletion " +
          "vectors — readable only with GraftExtensions enabled " +
          "(the DV-applying scan rewrite)")
    // same for column mapping: listing logical names against physical
    // parquet columns would read all-NULLs, not wrong-but-plausible
    // rows — still: fail loudly, never wrong
    if (snap.columnMapping.nonEmpty)
      throw new IllegalStateException(
        s"delta-log: v${snap.version} of $root uses column mapping — " +
          "readable only with GraftExtensions enabled " +
          "(the physical-name scan rewrite)")
    val partPred = bindPartitionPredicate(partitionFilters)
    val byPartition = snap.adds.groupBy(a =>
      partitionSchema.fieldNames.toSeq.map(c =>
        if (a.nullPartitionCols.contains(c)) None
        else a.partitionValues.get(c)))
    var kept = 0
    val dirs = byPartition.toSeq.sortBy(_._1.toString).flatMap {
      case (_, adds) =>
        val row = partRow(snap, adds.head)
        if (partPred.exists(p => !p(row))) None
        else {
          val files = adds.filter(a =>
            dataFilters.forall(e =>
              StatsPruning.mayMatchExpr(statsOf(snap, a), e)))
          kept += files.size
          if (files.isEmpty) None
          else Some(PartitionDirectory(row, files.map(statusOf).toArray))
        }
    }
    lastListing = Some((kept, snap.adds.size))
    dirs
  }
}

object DeltaLogFileIndex {
  private val mapper = new ObjectMapper()

  private def statTyp(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("long")
    case FloatType | DoubleType => Some("double")
    // COLLATED strings (non-zero collationId) never prune: their
    // recorded min/max are binary-ordered, which does not order like
    // the collation — skipping on them would drop matching files
    case s: StringType if s.collationId == 0 => Some("string")
    case _ => None // collated/dates/decimals/etc: conservative keep
  }

  /** The one reader of a Delta add's stats JSON: per-column ColStats
    * for the columns of `schema` whose type prunes. Without
    * `numRecords` the row count is unknown, and so is every null count
    * (`-1`): `nulls` beside an absent row count cannot say whether a
    * file is all-null, so nullness pruning and metadata aggregates must
    * read or refuse; min/max range pruning still applies. Unparseable
    * JSON yields no stats. */
  private[sources] def parseStats(schema: StructType,
      statsJson: Option[String]): Map[String, VersionedTable.ColStats] =
    statsJson.fold(Map.empty[String, VersionedTable.ColStats]) { js =>
      try {
        val n = mapper.readTree(js)
        val rows =
          if (n.hasNonNull("numRecords")) Some(n.get("numRecords").asLong())
          else None
        def field(k: String, col: String) = Option(n.get(k))
          .flatMap(o => Option(o.get(col))).filterNot(_.isNull)
        schema.fields.flatMap { f =>
          statTyp(f.dataType).flatMap { t =>
            val mn = field("minValues", f.name).map(_.asText())
            val mx = field("maxValues", f.name).map(_.asText())
            val nulls = field("nullCount", f.name).map(_.asLong())
            if (mn.isEmpty && mx.isEmpty && nulls.isEmpty) None
            else Some(f.name -> VersionedTable.ColStats(t, mn, mx,
              if (rows.isEmpty) -1L else nulls.getOrElse(-1L), // -1 = UNKNOWN
              rows.getOrElse(0L)))
          }
        }.toMap
      } catch {
        case scala.util.control.NonFatal(_) =>
          Map.empty[String, VersionedTable.ColStats]
      }
    }
}

/** Plan-building support for the deletion-vector read path
  * ([[graft.ext.DeltaMorScan]]) and [[DeltaLog.deleteWhere]]:
  * DataFrames over snapshot subsets with the parquet `_metadata`
  * exposed, decoded DV positions as a join side, and the clean/touched
  * split. */
object DeltaLogRead {
  import org.apache.spark.sql.{GraftColumnBridge, Row => SqlRow}
  import org.apache.spark.sql.execution.datasources.LogicalRelation
  import org.apache.spark.sql.functions.{broadcast, col}

  /** Working-column names. */
  val FpCol = "__delta_fp"
  val PosCol = "__delta_pos"

  /** Decoded-positions ceiling for one scan: DV bitmaps decode on the
    * driver (they are metadata, like the log itself), so a snapshot
    * whose total DV cardinality exceeds this refuses with advice
    * rather than silently exhausting driver memory. Delta tables past
    * this density need compaction anyway (every read pays the DVs). */
  val MaxDecodedPositions = 50L * 1000 * 1000

  /** A PINNED relation over an explicit snapshot (DVs must already be
    * cleared from the adds by the caller — the scan side never carries
    * descriptors). */
  def relation(spark: SparkSession,
      snap: DeltaLog.DeltaSnapshot): HadoopFsRelation =
    HadoopFsRelation(
      location = new DeltaLogFileIndex(spark, snap.root, snap,
        pinned = true),
      partitionSchema = snap.partitionSchema,
      dataSchema = snap.dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)

  private def df(spark: SparkSession, snap: DeltaLog.DeltaSnapshot) =
    GraftColumnBridge.ofRows(spark,
      LogicalRelation(relation(spark, snap), isStreaming = false))

  /** (scan URI, deleted position) rows of every DV in `adds`, decoded
    * driver-side with the [[MaxDecodedPositions]] guard. */
  def deletedPositions(spark: SparkSession, root: String,
      adds: Seq[DeltaLog.DeltaAdd]) = {
    val withDv = adds.filter(_.deletionVector.isDefined)
    val total = withDv.map(_.deletionVector.get.cardinality).sum
    require(total <= MaxDecodedPositions,
      s"delta-log: $total deleted positions across " +
        s"${withDv.size} deletion vectors exceeds the " +
        s"$MaxDecodedPositions decode ceiling — compact the table " +
        "(OPTIMIZE / REORG PURGE) before reading through this path")
    val idx = new DeltaLogFileIndex(spark, root,
      DeltaLog.DeltaSnapshot(root, -1, new StructType(), Nil, Map.empty,
        Nil), pinned = true)
    val rows = withDv.flatMap { a =>
      val uri = idx.scanUriOf(a)
      DeletionVectors.read(root, a.deletionVector.get)
        .map(p => SqlRow(uri, p))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      new StructType(Array(
        StructField(FpCol, StringType, nullable = false),
        StructField(PosCol, LongType, nullable = false))))
  }

  /** All VISIBLE rows of `snap` (DVs applied) plus `FpCol`/`PosCol` —
    * the addressing [[DeltaLog.deleteWhere]] needs. */
  def withPositions(spark: SparkSession,
      snap: DeltaLog.DeltaSnapshot) = {
    val scanSnap = snap.copy(
      adds = snap.adds.map(_.copy(deletionVector = None)))
    val base = df(spark, scanSnap)
      .withColumn(FpCol, col("_metadata.file_path"))
      .withColumn(PosCol, col("_metadata.row_index"))
    if (!snap.adds.exists(_.deletionVector.isDefined)) base
    else base.join(
      deletedPositions(spark, snap.root, snap.adds),
      Seq(FpCol, PosCol), "left_anti")
  }

  /** All visible rows of a ROW-TRACKED table plus the feature's read
    * surface: `_row_id` and `_last_updated_version`, each resolved
    * the spec's way — the file's MATERIALIZED row-tracking column
    * when the row carries a value (delta-spark's preserved rewrites;
    * the column names come from the
    * `delta.rowTracking.materializedRow*ColumnName` configuration and
    * read as extra nullable scan columns — files without them
    * null-fill), else baseRowId + physical position /
    * defaultRowCommitVersion. Positions are stable under deletion
    * vectors (deleted rows keep occupying their physical slots), so
    * ids survive DV DML — exactly what makes them usable as stable
    * keys for incremental processing. Refuses: non-row-tracked
    * tables; column-mapped tables; id-less adds (written before the
    * feature — OPTIMIZE assigns fresh blocks). */
  def readWithRowIds(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.functions.coalesce
    val snap = DeltaLog.snapshot(spark, root)
    require(snap.minWriterVersion >= 7 &&
      snap.writerFeatures.contains("rowTracking"),
      s"delta-log: $root does not carry the rowTracking writer feature")
    require(snap.columnMapping.isEmpty,
      "delta-log: _row_id read over a column-mapped table is not " +
        "supported")
    val idless = snap.adds.filterNot(_.baseRowId.isDefined)
    require(idless.isEmpty,
      s"delta-log: ${idless.size} file(s) carry no row-id block " +
        "(written before row tracking) — OPTIMIZE the table first")
    val matRid = snap.configuration
      .get("delta.rowTracking.materializedRowIdColumnName")
    val matVer = snap.configuration
      .get("delta.rowTracking.materializedRowCommitVersionColumnName")
    val matCols = (matRid.toSeq ++ matVer.toSeq)
    val extSnap =
      if (matCols.isEmpty) snap
      else snap.copy(schema = StructType(snap.schema.fields ++
        matCols.map(n => StructField(n, LongType, nullable = true))))
    val idx = new DeltaLogFileIndex(spark, root,
      DeltaLog.DeltaSnapshot(root, -1, new StructType(), Nil, Map.empty,
        Nil), pinned = true)
    val info = spark.createDataFrame(
      spark.sparkContext.parallelize(snap.adds.map(a =>
        // a foreign-written add can carry baseRowId without
        // defaultRowCommitVersion — surface NULL (nullable column),
        // never a -1 sentinel masquerading as a version
        SqlRow(idx.scanUriOf(a), a.baseRowId.get,
          a.defaultRowCommitVersion.map(Long.box).orNull)), 1),
      new StructType(Array(
        StructField(FpCol, StringType, nullable = false),
        StructField("__rt_base", LongType, nullable = false),
        StructField("__rt_dcv", LongType, nullable = true))))
    withPositions(spark, extSnap)
      .join(broadcast(info), Seq(FpCol))
      .withColumn("_row_id", coalesce(
        (matRid.map(n => col(s"`$n`")).toSeq :+
          (col("__rt_base") + col(PosCol))): _*))
      .withColumn("_last_updated_version", coalesce(
        (matVer.map(n => col(s"`$n`")).toSeq :+ col("__rt_dcv")): _*))
      .drop(FpCol, PosCol, "__rt_base", "__rt_dcv")
      .drop(matCols: _*)
  }

  /** Split a DV-carrying snapshot into (1) a DV-free snapshot of the
    * untouched adds (stock pruned scan) and (2) a resolving DataFrame
    * over just the DV-carrying files. */
  def dvSplit(spark: SparkSession, snap: DeltaLog.DeltaSnapshot)
      : (DeltaLog.DeltaSnapshot, Option[org.apache.spark.sql.DataFrame]) = {
    val (touched, clean) = snap.adds.partition(_.deletionVector.isDefined)
    val cleanSnap = snap.copy(adds = clean)
    if (touched.isEmpty) (cleanSnap, None)
    else (cleanSnap, Some(
      withPositions(spark, snap.copy(adds = touched))
        .drop(FpCol, PosCol)))
  }
}

/** Structured-streaming SOURCE over a real Delta table — Delta's own
  * `spark.readStream.format("delta")` semantics, through the
  * dependency-free [[DeltaLog]] protocol reader:
  *
  *  - the FIRST batch is the full current snapshot (pinned at the
  *    first planned offset), unless `startingVersion` is a version N
  *    (tail from commit N's own adds) or `"latest"` (only commits
  *    after stream start);
  *  - every later micro-batch carries the data-changing `add` files
  *    of the commits in `(start, end]` — compaction adds
  *    (`dataChange: false`) are invisible, per the Delta contract;
  *  - a commit that REMOVES data refuses by default: `ignoreDeletes`
  *    admits remove-only commits (partition deletes), `ignoreChanges`
  *    additionally admits rewrites — their re-added files re-emit in
  *    full (Delta's documented at-least-once caveat);
  *  - a commit restating metaData/protocol (schema drift) refuses
  *    with the restart instruction;
  *  - `maxVersionsPerTrigger` paces backlogs (admission control with
  *    a persisted high-water mark, the FileStreamSource pattern), and
  *    Trigger.AvailableNow drains to the log head frozen at start —
  *    both exactly as the graft [[ChangeFeedSource]] does them.
  *
  * Offsets ARE Delta versions, so exactly-once is structural: commits
  * are immutable, a replayed batch re-reads identical JSON. Batches
  * resolve through the same pinned-snapshot relation as batch reads,
  * so DELETION VECTORS and COLUMN MAPPING compose via the
  * GraftExtensions scan rewrites (and refuse loudly without them).
  * The batch cost is O(new files), never O(table) — the shape that
  * tails a 100 TB table at the cost of its delta. */
object DeltaLogStream {
  import org.apache.spark.sql.GraftColumnBridge
  import org.apache.spark.sql.execution.streaming.{Offset, Source}
  import org.apache.spark.sql.execution.streaming.runtime.{
    LongOffset, SerializedOffset}
  import org.apache.spark.sql.execution.datasources.LogicalRelation

  private def offsetVersion(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => other.json.toLong
  }

  private[sources] def create(sqlContext: SQLContext,
      metadataPath: String, schema: Option[StructType],
      parameters: Map[String, String], root: String): Source = {
    val lower = parameters.map { case (k, v) => k.toLowerCase -> v }
    val head = DeltaLog.latestVersion(root)
    require(head >= 0, s"delta-log: $root is not a Delta table")
    val cdf = lower.get("readchangefeed").exists(_.toBoolean)
    val declared = schema.getOrElse {
      val base = DeltaLog.snapshot(sqlContext.sparkSession, root).schema
      if (!cdf) base else DeltaLogStream.withCdfColumns(base)
    }
    // startingVersion: absent → initial snapshot; N → tail from commit
    // N; "latest" → only commits after stream start
    val (initialSnapshot, startAfter) =
      lower.get("startingversion") match {
        case None => (true, -1L)
        case Some(v) if v.equalsIgnoreCase("latest") => (false, head)
        case Some(v) => (false, v.toLong - 1L)
      }
    val maxPerTrigger = lower.get("maxversionspertrigger").map { v =>
      val n = v.toLong
      require(n > 0, s"maxVersionsPerTrigger must be positive, got $n")
      n
    }
    new VersionTail(sqlContext, root, declared, initialSnapshot,
      startAfter, maxPerTrigger,
      ignoreDeletes = lower.get("ignoredeletes").exists(_.toBoolean),
      ignoreChanges = lower.get("ignorechanges").exists(_.toBoolean),
      metadataPath, cdf)
  }

  /** The CDF feed schema: table columns + the two change columns. */
  private[sources] def withCdfColumns(base: StructType): StructType =
    StructType(base.fields ++ Seq(
      StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false),
      StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false)))

  private[sources] final class VersionTail(sqlContext: SQLContext,
      root: String, declared: StructType, initialSnapshot: Boolean,
      startAfter: Long, maxPerTrigger: Option[Long],
      ignoreDeletes: Boolean, ignoreChanges: Boolean,
      metadataPath: String, cdf: Boolean = false)
      extends Source
      with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
      with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

    import java.nio.file.{Files, Paths, StandardCopyOption}

    private val spark = sqlContext.sparkSession

    // persisted high-water mark (see ChangeFeedSource.VersionTail for
    // why a capped source must not recompute offsets from zero after
    // a fully-committed restart)
    private val hwmFile = {
      val dir =
        if (metadataPath.contains(":")) new java.net.URI(metadataPath).getPath
        else metadataPath
      Paths.get(dir, "delta-version-hwm")
    }

    private var handedOut: Long =
      if (Files.exists(hwmFile))
        math.max(startAfter, new String(Files.readAllBytes(hwmFile),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      else startAfter

    private def persistHwm(v: Long): Unit = {
      Files.createDirectories(hwmFile.getParent)
      val tmp = Files.createTempFile(hwmFile.getParent, ".hwm", "")
      Files.write(tmp, v.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      Files.move(tmp, hwmFile, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    }

    override def schema: StructType = declared

    override def getOffset: Option[Offset] = nextOffset(None)

    private var availableNowTarget: Option[Long] = None

    override def prepareForTriggerAvailableNow(): Unit =
      availableNowTarget = Some(DeltaLog.latestVersion(root))

    override def getDefaultReadLimit
        : org.apache.spark.sql.connector.read.streaming.ReadLimit =
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

    override def latestOffset(
        start: org.apache.spark.sql.connector.read.streaming.Offset,
        limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
        : org.apache.spark.sql.connector.read.streaming.Offset =
      nextOffset(availableNowTarget).orNull

    private def nextOffset(target: Option[Long]): Option[LongOffset] = {
      val head = DeltaLog.latestVersion(root)
      val bounded = target.fold(head)(math.min(head, _))
      val capped = maxPerTrigger
        .fold(bounded)(m => math.min(bounded, handedOut + m))
      if (capped <= handedOut) None else Some(LongOffset(capped))
    }

    /** Rows of a pinned sub-snapshot: schema/partitioning/mapping from
      * version `at`, files = `adds` — resolved through the SAME
      * relation batch reads use, so the DV and column-mapping scan
      * rewrites (GraftExtensions) apply, and their no-extensions
      * gates refuse loudly. */
    private def rowsOf(at: Long, adds: Seq[DeltaLog.DeltaAdd])
        : org.apache.spark.sql.DataFrame = {
      val snap = DeltaLog.snapshot(spark, root, Some(at))
        .copy(adds = adds)
      GraftColumnBridge.ofRows(spark,
        LogicalRelation(DeltaLogRead.relation(spark, snap),
          isStreaming = false))
    }

    private def driftGuard(df: org.apache.spark.sql.DataFrame,
        to: Long): org.apache.spark.sql.DataFrame = {
      val got = df.schema.fields.map(f => f.name -> f.dataType).toSeq
      val want = declared.fields.map(f => f.name -> f.dataType).toSeq
      if (got != want)
        throw new IllegalStateException(
          s"delta-log stream of $root: table schema changed " +
            s"mid-stream (stream declared " +
            s"[${want.map(_._1).mkString(", ")}], v$to reads " +
            s"[${got.map(_._1).mkString(", ")}]) — restart the " +
            "streaming query to pick up the new schema")
      df
    }

    override def getBatch(start: Option[Offset], end: Offset)
        : org.apache.spark.sql.DataFrame = {
      val to = offsetVersion(end)
      if (to > handedOut) {
        handedOut = to
        if (maxPerTrigger.isDefined) persistHwm(to)
      }
      if (cdf) {
        // CHANGE FEED batches: the initial snapshot emits as inserts
        // at its own version; later batches delegate to
        // [[DeltaLog.changes]] (cdc actions authoritative, derived
        // insert/delete otherwise, not-recorded rewrites refuse)
        import org.apache.spark.sql.functions.lit
        val batch = start match {
          case None if initialSnapshot =>
            rowsOf(to, DeltaLog.snapshot(spark, root, Some(to)).adds)
              .withColumn("_change_type", lit("insert"))
              .withColumn("_commit_version", lit(to))
          case _ =>
            val after = start.map(offsetVersion).getOrElse(startAfter)
            DeltaLog.changes(spark, root, after, to)
        }
        return GraftColumnBridge.asStreaming(driftGuard(batch, to))
      }
      val batch = start match {
        case None if initialSnapshot =>
          // first batch = the full snapshot pinned at the first offset
          rowsOf(to, DeltaLog.snapshot(spark, root, Some(to)).adds)
        case _ =>
          val after = start.map(offsetVersion).getOrElse(startAfter)
          val versions = (after + 1) to to
          val actions = versions.map(v => DeltaLog.commitActions(root, v))
          // metaData restatements are judged by driftGuard below on
          // the ACTUAL schema — a config-only restatement is fine
          actions.foreach { ca =>
            if (ca.dataChangingRemoves && ca.adds.nonEmpty && !ignoreChanges)
              throw new IllegalStateException(
                s"delta-log stream of $root: commit v${ca.version} " +
                  "UPDATES data (remove+add) — set ignoreChanges to " +
                  "re-emit rewritten files (at-least-once), or " +
                  "restart from a fresh snapshot")
            if (ca.dataChangingRemoves && ca.adds.isEmpty &&
              !(ignoreDeletes || ignoreChanges))
              throw new IllegalStateException(
                s"delta-log stream of $root: commit v${ca.version} " +
                  "DELETES data — set ignoreDeletes (remove-only " +
                  "commits) or restart from a fresh snapshot")
          }
          // last add wins per path (a path re-added within the range
          // carries its final descriptor)
          val adds = actions.flatMap(_.adds)
            .groupBy(_.path).map(_._2.last).toSeq.sortBy(_.path)
          rowsOf(to, adds)
      }
      GraftColumnBridge.asStreaming(driftGuard(batch, to))
    }

    override def stop(): Unit = ()
  }
}
