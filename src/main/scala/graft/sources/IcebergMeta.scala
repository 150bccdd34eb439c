package graft.sources

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{
  GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Dependency-free reader (plus a spec-conformant fixture writer) for
  * the PUBLIC Apache Iceberg table metadata tree
  * (iceberg.apache.org/spec/) — the second half of the lakehouse
  * interop story next to [[DeltaLog]]:
  *
  *  - `metadata/vN.metadata.json` (+ `version-hint.text`): table uuid,
  *    format-version, schemas (Iceberg's own field-id'd JSON type
  *    system), partition specs, snapshot list, current-snapshot-id;
  *  - snapshot → `manifest-list` AVRO (one row per manifest:
  *    manifest_path, partition_spec_id, ...);
  *  - manifest AVRO (one row per data file: status
  *    existing/added/deleted, data_file struct with file_path,
  *    file_format, record_count, file_size_in_bytes, and per-field-id
  *    column bounds in the spec's single-value binary serialization).
  *
  * Snapshot reconstruction: current (or requested) snapshot's manifest
  * list, every listed manifest, every entry with `status != 2`
  * (deleted) and `content == 0` (data). Iceberg writes ALL columns to
  * the data files (identity partition values included — unlike the
  * Hive/Delta layout), so the scan is a plain parquet read of the live
  * file set; the per-field bounds decode into the same
  * [[VersionedTable.ColStats]] model the graft pruners use, giving
  * stats-based FILE SKIPPING from the manifests alone.
  *
  * Row-level deletes replay as first-class snapshot members: v2
  * position deletes (parquet `(file_path, pos)` + file_path bounds),
  * v2 equality deletes, and v3 DELETION VECTORS (Puffin
  * `deletion-vector-v1` blobs addressed straight from the manifest's
  * `content_offset`/`content_size_in_bytes` — [[Puffin]]). v3
  * DEFAULT VALUES read: top-level `initial-default` fields are dated
  * against the snapshot history ([[v3Defaults]]) and coalesced over
  * pre-evolution files' scans. Feature gates (refuse loudly, never
  * wrong rows): format-version 4+, NESTED initial-defaults, table
  * encryption, non-parquet data files, unsupported types. v3 WRITES
  * are COMPLETE: the additive
  * paths — append, upsert, DV and equality deletes — assign row
  * lineage by inheritance (snapshot first-row-id from the table's
  * next-row-id, moved by the added row count in the same commit);
  * compaction and COW UPDATE/MERGE PRESERVE lineage by materializing
  * `_row_id`/`_last_updated_sequence_number` into rewritten files
  * (updates keep ids and restamp the seq; merge inserts mint fresh
  * ids from the mark). Only a rewrite path that cannot thread the
  * materialization refuses ([[requireRewritable]]).
  *
  * Avro access is GENERIC (`GenericDatumReader` against the embedded
  * writer schema), so the reader tolerates both real Avro maps and
  * Iceberg's key/value-array map encoding, and ignores fields it does
  * not know — the forward-compatible posture the spec asks of readers.
  */
object IcebergMeta {

  private val mapper = new ObjectMapper()

  /** `recordedPath` is the file_path string EXACTLY as the manifest
    * wrote it (absolute URI in real tables, table-relative in
    * fixtures) — positional delete rows reference data files by that
    * string, so it must survive path resolution for exact matching. */
  /** `seq` is the DATA SEQUENCE NUMBER (spec: explicit on the entry,
    * else inherited from the manifest-list row) — the ordering both
    * v2 delete kinds key on. */
  final case class IceFile(path: String, recordedPath: String,
      sizeBytes: Long, records: Long,
      stats: Map[String, VersionedTable.ColStats],
      seq: Long = 0L,
      // the entry's r102 partition tuple (field name → Avro value,
      // Utf8 normalized to String) — what a PARTITIONED positional
      // delete must restate on its own delete-manifest entries
      partitionTuple: Seq[(String, Any)] = Nil,
      // the manifest-list row's partition_spec_id: under SPEC
      // EVOLUTION each file keeps the spec it was written with, and
      // row-level deletes must scope their manifests per-spec
      specId: Int = 0,
      // v3 ROW LINEAGE: the file's first row id — explicit on the
      // entry, else inherited (manifest-list row's first_row_id +
      // the record counts of the live data entries before it in the
      // same manifest, the spec's assignment walk); None pre-v3 or
      // when the tree carries no lineage metadata
      firstRowId: Option[Long] = None,
      // top-level column names physically in the file's parquet
      // footer — resolved at replay ONLY for files whose
      // default-value dating is ambiguous (the evolution history was
      // expired); None everywhere else
      footerColumns: Option[Set[String]] = None)

  /** A v2 POSITIONAL delete file: parquet of (file_path, pos) rows.
    * `pathLo`/`pathHi` are the manifest's file_path bounds (reserved
    * field id 2147483546) — file-level targeting without reading the
    * delete parquet: a data file whose recordedPath falls outside
    * every delete's bounds provably has no deleted rows. Applies to
    * data files with `IceFile.seq <= seq` (spec: position deletes
    * cover rows existing when the delete was written). */
  final case class IceDelete(path: String, pathLo: Option[String],
      pathHi: Option[String], seq: Long = 0L)

  /** A v2 EQUALITY delete file: parquet whose rows name the VALUES to
    * delete, matched null-safely (spec: "null values are considered
    * equal") on `eqCols` against data files with a STRICTLY older
    * sequence number (`IceFile.seq < seq`) — a later append
    * re-inserting a deleted key survives, which is what makes
    * equality deletes the streaming-upsert primitive. `eqCols` are
    * the table column names the manifest's `equality_ids` resolve to
    * (resolved at replay; unknown/nested ids refuse there). */
  final case class IceEqDelete(path: String, eqCols: Seq[String],
      seq: Long)

  /** A v3 DELETION VECTOR: one `deletion-vector-v1` blob inside a
    * Puffin file ([[Puffin]]), targeting EXACTLY ONE data file
    * (`referencedDataFile` — the manifest's recorded path string,
    * matched exactly like positional-delete rows). The manifest entry
    * addresses the blob directly (`content_offset` /
    * `content_size_in_bytes`), so replay never parses the Puffin
    * footer. Applies to its target when `file.seq <= seq`; v3 allows
    * AT MOST ONE live DV per data file (writers must merge), which
    * the replay enforces. `recordedPath` is the manifest's file_path
    * string for the Puffin file itself (rewrites restate it). */
  final case class IceDV(puffinPath: String, recordedPath: String,
      offset: Long, length: Long, referencedDataFile: String,
      seq: Long, cardinality: Long,
      partitionTuple: Seq[(String, Any)] = Nil, specId: Int = 0)

  /** A v3 DEFAULT-VALUED top-level field (spec "Default values"):
    * files written BEFORE the field existed read `value` for every
    * row; files written under a schema that carries the field read
    * their stored values (stored NULLs included — `write-default`
    * governs those at write time, not read time). `firstSeq` is the
    * sequence number of the FIRST snapshot whose schema contains the
    * field — a data file with `seq < firstSeq` provably predates it
    * (files inherit their writing snapshot's sequence number), which
    * resolves the per-file "predates vs stored null" question from
    * METADATA alone, no parquet footer reads. `value` is a Spark
    * literal-compatible JVM value decoded from the schema JSON's
    * single-value serialization. */
  /** `lastPreSeq` is the max sequence number of a SURVIVING snapshot
    * whose schema LACKS the field (`Long.MinValue` when none
    * survives) — the sound half of the dating under snapshot
    * EXPIRATION: a file in the gap `(lastPreSeq, firstSeq)` could
    * have been written by an expired post-evolution snapshot (its
    * stored NULLs must stay NULL), so [[snapshot]] refuses it
    * loudly instead of guessing. */
  final case class IceDefault(name: String, dataType: DataType,
      value: Any, firstSeq: Long, lastPreSeq: Long = Long.MinValue,
      // STRUCT-NESTED default (v3): the field's path from the top
      // level ([] = top-level `name`). `name` is the dotted rendering
      // — what the per-file footer-presence check matches. Paths
      // crossing list/map types refuse at replay (no column shape to
      // fill through).
      path: Seq[String] = Nil) {
    def segments: Seq[String] = if (path.isEmpty) Seq(name) else path
  }

  final case class IceSnapshot(root: String, snapshotId: Long,
      schema: StructType, files: Seq[IceFile],
      deletes: Seq[IceDelete] = Nil,
      eqDeletes: Seq[IceEqDelete] = Nil,
      dvs: Seq[IceDV] = Nil,
      defaults: Seq[IceDefault] = Nil,
      // logical name → the DIFFERENT physical parquet column name the
      // table's `schema.name-mapping.default` property records for
      // that field id (a UniForm mirror over a column-mapped Delta
      // table); empty when names match. A snapshot with entries here
      // must read through the name-mapping scan rewrite
      // ([[graft.ext.IcebergNameMappingScan]]) — the raw parquet scan
      // would null-fill every mapped column
      physicalByName: Map[String, String] = Map.empty) {
    /** Does any live file predate a defaulted field? If so a RAW scan
      * would null-fill where the spec requires the default — such a
      * snapshot must read through the default-filling branches
      * ([[IcebergMetaRead]]), enforced by the [[IcebergMetaFileIndex]]
      * physical-time gate. */
    def needsDefaultFill: Boolean =
      defaults.exists(d => files.exists(f => defaultApplies(f, d)))
  }

  /** Does default `d` govern file `f`? Pre-evolution by the
    * snapshot-history dating; for a file whose dating is AMBIGUOUS
    * (written in a gap the expired history no longer covers), by the
    * file's own parquet footer — the spec's per-file field-presence
    * rule, resolved once at replay ([[IceFile.footerColumns]]). */
  private[sources] def defaultApplies(f: IceFile, d: IceDefault): Boolean =
    f.seq < d.firstSeq &&
      f.footerColumns.map(cols => !cols.contains(d.name))
        .getOrElse(f.seq <= d.lastPreSeq)

  private def metaDir(root: String): Path = Paths.get(root, "metadata")

  /** Latest metadata version: `version-hint.text` if present AND
    * parseable, else the max `vN.metadata.json` in the metadata dir.
    * The hint is ADVISORY (HadoopCatalog semantics) — a concurrent
    * writer mid-rewrite can expose a truncated/empty hint, which must
    * degrade to the listing, never throw. */
  def latestMetadataVersion(root: String): Int =
    IceCatalog.forRoot(root).currentVersion(root)

  /** The table's format-version (1-3; 4+ refuses in [[snapshot]]). */
  def formatVersion(root: String): Int =
    currentMeta(root)._2.get("format-version").asInt()

  /** The current metadata document through the CATALOG seam
    * ([[IceCatalog]]): (version, parsed JSON). Every reader and every
    * commit base resolves through this — the REST-catalog swap point. */
  private def currentMeta(root: String): (Int, JsonNode) = {
    val (v, bytes) = IceCatalog.forRoot(root).currentMetadata(root)
    (v, mapper.readTree(bytes))
  }

  /** One snapshot-history row for the streaming tail. `op` is
    * `"append"`, `"delete"`, `"overwrite"`, ... per the spec's
    * snapshot summary (empty when a foreign writer omitted it —
    * treated as unknown, which streams refuse). */
  final case class SnapshotRef(seq: Long, snapshotId: Long, op: String)

  /** Every snapshot in the CURRENT metadata document, ascending by
    * sequence number — the commit history [[IcebergMetaStream]]
    * walks. */
  def snapshotLog(root: String): Seq[SnapshotRef] = {
    val (v, meta) = currentMeta(root)
    if (!meta.hasNonNull("snapshots")) return Nil
    meta.get("snapshots").elements().asScala.map { s =>
      val seq = if (s.hasNonNull("sequence-number"))
        s.get("sequence-number").asLong() else 0L
      val op = Option(s.get("summary")).filter(_.hasNonNull("operation"))
        .map(_.get("operation").asText()).getOrElse("")
      SnapshotRef(seq, s.get("snapshot-id").asLong(), op)
    }.toSeq.sortBy(_.seq)
  }

  /** The table's last sequence number (0 when the document predates
    * any commit). */
  def latestSequence(root: String): Long = {
    val (v, meta) = currentMeta(root)
    if (meta.hasNonNull("last-sequence-number"))
      meta.get("last-sequence-number").asLong() else 0L
  }

  /** Batch CHANGELOG of the commits with sequence numbers in
    * `(afterSeq, toSeq]` — the Iceberg leg of the `graft_changes` /
    * `delta_changes` family (exposed as the `iceberg_changes` TVF).
    * Output: table columns + `_change_type` (`insert` | `delete`) +
    * `_commit_seq`.
    *
    * Derivation is metadata + touched-file reads, never a table scan:
    *  - an `append` snapshot's changes are the rows of the data files
    *    it added (files carry their data sequence number through
    *    manifest inheritance), read RAW — deletes committed later in
    *    the range must not rewrite an already-emitted insert;
    *  - a `delete` snapshot's changes are the rows its new delete
    *    files hide, read from the PRIOR snapshot's still-retained
    *    files: positional deletes join their (file_path, pos) rows
    *    against the touched files only; equality deletes null-safe
    *    semi-join the prior visible rows against the (small,
    *    broadcast) value list;
    *  - any other operation (`overwrite`, `replace` — COW rewrites,
    *    MOR upserts, compaction) refuses loudly: the row-level change
    *    set was never recorded (delta-spark's CDF refuses the same
    *    derive shape); recompute from snapshots instead. */
  def changes(spark: SparkSession, root: String, afterSeq: Long,
      toSeq: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val all = snapshotLog(root)
    val inRange = all.filter(r => r.seq > afterSeq && r.seq <= toSeq)
    val tagged: Seq[org.apache.spark.sql.DataFrame] = inRange.map { ref =>
      val snapAt = snapshot(root, Some(ref.snapshotId))
      ref.op match {
        case "append" =>
          val added = snapAt.files.filter(_.seq == ref.seq)
          IcebergMetaRead.morRead(spark,
              snapAt.copy(files = added, deletes = Nil, eqDeletes = Nil))
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_seq", lit(ref.seq))
        case "delete" =>
          val idx = all.indexWhere(_.snapshotId == ref.snapshotId)
          require(idx > 0, s"iceberg_changes: delete snapshot " +
            s"${ref.snapshotId} has no parent in the metadata document")
          val prev = snapshot(root, Some(all(idx - 1).snapshotId))
          val newPos = snapAt.deletes.filter(_.seq == ref.seq)
          val newEq = snapAt.eqDeletes.filter(_.seq == ref.seq)
          val newDvs = snapAt.dvs.filter(_.seq == ref.seq)
          val deleted: org.apache.spark.sql.DataFrame =
            if (newDvs.nonEmpty) {
              require(newPos.isEmpty && newEq.isEmpty,
                "iceberg_changes: a delete snapshot mixing deletion " +
                  "vectors with other delete kinds has no derivable " +
                  "row-level change set")
              // a v3 DV REPLACES the file's prior DV (merged by the
              // writer), so this commit's deletions are the new
              // bitmap MINUS the prior one — exact, from two blobs
              val prevByRef = prev.dvs
                .map(d => d.referencedDataFile -> d).toMap
              // both sides decode driver-side — same ceiling as the
              // read path (cardinality is manifest metadata, so the
              // bound costs zero I/O; a table past it must compact
              // before deriving changes)
              val diffCard = newDvs.map(d => d.cardinality +
                prevByRef.get(d.referencedDataFile)
                  .map(_.cardinality).getOrElse(0L)).sum
              require(diffCard <= IcebergMetaRead.MaxDecodedPositions,
                s"iceberg_changes: $diffCard deletion-vector " +
                  s"positions to decode exceeds the " +
                  s"${IcebergMetaRead.MaxDecodedPositions} ceiling — " +
                  "compact the table before deriving changes")
              def positionsOf(d: IceDV): Array[Long] =
                Puffin.decodeDeletionVector(Puffin.readBlob(
                  Paths.get(d.puffinPath), d.offset, d.length))
              val delta: Seq[(String, Array[Long])] = newDvs.map { d =>
                val before = prevByRef.get(d.referencedDataFile)
                  .map(positionsOf).getOrElse(Array.empty[Long]).toSet
                d.referencedDataFile ->
                  positionsOf(d).filterNot(before)
              }
              val touchedPaths = delta.map(_._1).toSet
              val touched =
                prev.files.filter(f => touchedPaths(f.recordedPath))
              val delRows = spark.createDataFrame(
                spark.sparkContext.parallelize(
                  delta.flatMap { case (f, ps) => ps.map(p =>
                    org.apache.spark.sql.Row(f, p)) }, 1),
                StructType(Seq(
                  StructField("file_path", StringType, nullable = false),
                  StructField(IcebergMetaRead.PosCol, LongType,
                    nullable = false))))
              IcebergMetaRead.withPositions(spark,
                  prev.copy(files = touched))
                .join(broadcast(
                  IcebergMetaRead.uriToRecorded(spark, touched)),
                  Seq(IcebergMetaRead.FpCol))
                .join(delRows, Seq("file_path", IcebergMetaRead.PosCol))
                .drop("file_path", IcebergMetaRead.FpCol,
                  IcebergMetaRead.PosCol)
            } else if (newEq.isEmpty && newPos.nonEmpty) {
              require(prev.eqDeletes.isEmpty,
                "iceberg_changes: positional delete over a history " +
                  "carrying EQUALITY deletes — rewrite the table " +
                  "(rewrite_data_files) before deriving changes")
              val delRows = spark.read.parquet(newPos.map(_.path): _*)
                .select(col("file_path"),
                  col("pos").as(IcebergMetaRead.PosCol))
              // O(touched files): delete files name their targets
              val touchedPaths = delRows.select("file_path").distinct()
                .collect().map(_.getString(0)).toSet
              val touched =
                prev.files.filter(f => touchedPaths(f.recordedPath))
              IcebergMetaRead.withPositions(spark,
                  prev.copy(files = touched))
                .join(broadcast(
                  IcebergMetaRead.uriToRecorded(spark, touched)),
                  Seq(IcebergMetaRead.FpCol))
                .join(delRows, Seq("file_path", IcebergMetaRead.PosCol))
                .drop("file_path", IcebergMetaRead.FpCol,
                  IcebergMetaRead.PosCol)
            } else if (newPos.isEmpty && newEq.nonEmpty) {
              val prevVis = IcebergMetaRead.morRead(spark, prev)
              // a prior row matched by TWO eqCols groups must emit ONE
              // delete (unioning plain per-group semi-joins would
              // double-count it in downstream Δ-aggregation): each
              // group claims only rows no EARLIER group matched, via
              // anti-joins against the earlier groups' key sets
              val groups = newEq.groupBy(_.eqCols).toSeq
                .sortBy(_._1.mkString(","))
                .map { case (eqCols, dels) =>
                  val delRows = spark.read.parquet(dels.map(_.path): _*)
                    .select(eqCols.map(c =>
                      col(s"`$c`").as(s"__ice_eq_$c")): _*)
                    .distinct()
                  val cond = eqCols.map(c =>
                    col(s"`$c`") <=> col(s"__ice_eq_$c")).reduce(_ && _)
                  (delRows, cond)
                }
              groups.zipWithIndex.map { case ((delRows, cond), i) =>
                groups.take(i).foldLeft(
                  prevVis.join(broadcast(delRows), cond, "left_semi")) {
                  case (acc, (dr2, cond2)) =>
                    acc.join(broadcast(dr2), cond2, "left_anti")
                }
              }.reduce(_ unionByName _)
            } else throw new UnsupportedOperationException(
              "iceberg_changes: a delete snapshot mixing positional " +
                "and equality delete files has no derivable " +
                "row-level change set")
          deleted
            .withColumn("_change_type", lit("delete"))
            .withColumn("_commit_seq", lit(ref.seq))
        case other => throw new UnsupportedOperationException(
          s"iceberg_changes: snapshot ${ref.snapshotId} operation " +
            s"'$other' has no derivable row-level change set — " +
            "recompute from snapshots (snapshotId time travel) instead")
      }
    }
    if (tagged.nonEmpty) tagged.reduce(_ unionByName _)
    else spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        snapshot(root).schema)
      .withColumn("_change_type", lit(""))
      .withColumn("_commit_seq", lit(0L))
      .filter(lit(false))
  }

  // ------------------------------------------------------------------
  // Iceberg JSON schema → Spark StructType
  // ------------------------------------------------------------------

  private val DecimalRe = """decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r
  private val FixedRe = """fixed\[(\d+)\]""".r

  /** v3 `geometry(C)` / `geography(C, A)` → Spark 4.1's native
    * GEOMETRY/GEOGRAPHY types. CRS strings supported: the spec default
    * `OGC:CRS84` (⇔ Spark srid 4326 — the identical datum, axis order
    * lon/lat, Spark's own default) and `EPSG:nnnn`; geography edge
    * algorithm must be the spec default `spherical` (the only one
    * Spark's GeographyType models). Anything else refuses with the
    * value named — mis-mapping a CRS would silently re-interpret every
    * coordinate. NESTED geo refuses: the scan-level WKB↔geometry
    * conversion ([[IcebergMetaRead]]) rewrites top-level columns only. */
  private val GeometryRe = """geometry(?:\(\s*([^)]*?)\s*\))?""".r
  private val GeographyRe = """geography(?:\(\s*([^)]*?)\s*\))?""".r
  private def sridOfCrs(crs: String, spelled: String): Int = crs match {
    case null | "" | "OGC:CRS84" => 4326
    case s if s.toUpperCase.startsWith("EPSG:") &&
        s.drop(5).forall(_.isDigit) && s.length > 5 => s.drop(5).toInt
    case other => throw new UnsupportedOperationException(
      s"iceberg-meta: CRS '$other' of type '$spelled' is not " +
        "supported (OGC:CRS84 or EPSG:nnnn)")
  }
  private[graft] def isGeoType(dt: DataType): Boolean = dt match {
    case _: GeometryType | _: GeographyType => true
    case _ => false
  }
  /** Scan-space schema: top-level geometry/geography → BINARY (the WKB
    * bytes the parquet files physically store, per the v3 spec's
    * parquet appendix). */
  private[graft] def geoErase(st: StructType): StructType =
    StructType(st.fields.map(f =>
      if (isGeoType(f.dataType)) f.copy(dataType = BinaryType) else f))

  private def toSparkType(t: JsonNode, nested: Boolean = false): DataType =
    if (t.isTextual) t.asText() match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "date" => DateType
      case "timestamp" => TimestampNTZType
      case "timestamptz" => TimestampType
      case "string" | "uuid" => StringType
      case "binary" => BinaryType
      // v3 NANOSECOND timestamps surface as the raw epoch-nano LONG
      // (stated decision): Spark has no nanosecond timestamp type —
      // truncating to micros would silently lose the precision the
      // writer chose ns FOR, and the long keeps manifest-bound
      // pruning exact (the spec bounds these as 8-byte epoch-nano
      // longs, the decode [[decodeBound]] already performs for
      // LongType). Spark's own posture is the same: its parquet
      // reader maps TIMESTAMP(NANOS) to LongType (SPARK-40819).
      case "timestamp_ns" | "timestamptz_ns" => LongType
      // v3 VARIANT maps to Spark 4's native VariantType — both
      // UNSHREDDED files (the binary metadata/value pair) and
      // SHREDDED ones (typed_value subcolumns per the parquet
      // shredding spec): Spark's parquet reader reassembles shredded
      // variants natively, so both file shapes read identically
      case "variant" => VariantType
      case DecimalRe(p, s) => DecimalType(p.toInt, s.toInt)
      case FixedRe(_) => BinaryType
      case spelled @ GeometryRe(crs) =>
        require(!nested, s"iceberg-meta: nested '$spelled' column is " +
          "not supported (top-level geometry/geography only)")
        GeometryType(sridOfCrs(crs, spelled))
      case spelled @ GeographyRe(args) =>
        require(!nested, s"iceberg-meta: nested '$spelled' column is " +
          "not supported (top-level geometry/geography only)")
        val parts = Option(args).map(_.split(",").map(_.trim).toSeq)
          .getOrElse(Nil)
        val algorithm = parts.drop(1).headOption.getOrElse("spherical")
        require(algorithm.equalsIgnoreCase("spherical"),
          s"iceberg-meta: geography edge algorithm '$algorithm' is " +
            "not supported (spherical only)")
        val srid = sridOfCrs(parts.headOption.orNull, spelled)
        // geography is pinned to the spec default CRS: Spark's
        // st_geogfromwkb constructs only the default (OGC:CRS84 /
        // 4326) and no setsrid leg exists for geography values
        require(srid == 4326,
          s"iceberg-meta: geography CRS of '$spelled' is not " +
            "supported (OGC:CRS84 / EPSG:4326 only)")
        GeographyType(srid)
      case other => throw new UnsupportedOperationException(
        s"iceberg-meta: type '$other' not supported")
    } else if (t.isObject && t.get("type").asText() == "struct") {
      StructType(t.get("fields").elements().asScala.map { f =>
        // a DEFAULT-valued nested field surfaces nullable even when
        // the spec marks it required — pre-evolution files lack the
        // physical member, the scan null-fills it, and the withField
        // fill restores totality ABOVE the scan (same posture as the
        // top-level rule in [[schemaOf]])
        StructField(f.get("name").asText(),
          toSparkType(f.get("type"), nested = true),
          !f.get("required").asBoolean() ||
            f.hasNonNull("initial-default"))
      }.toSeq)
    } else if (t.isObject && t.get("type").asText() == "list") {
      ArrayType(toSparkType(t.get("element"), nested = true),
        !t.get("element-required").asBoolean())
    } else throw new UnsupportedOperationException(
      s"iceberg-meta: type node $t not supported")

  /** (spark schema, field name by iceberg field id) of the CURRENT
    * schema in a metadata document. */
  private def schemaOf(meta: JsonNode): (StructType, Map[Int, String]) = {
    val schemaNode =
      if (meta.hasNonNull("schemas")) {
        val cur = meta.get("current-schema-id").asInt()
        meta.get("schemas").elements().asScala
          .find(_.get("schema-id").asInt() == cur)
          .getOrElse(throw new IllegalStateException(
            s"iceberg-meta: current-schema-id $cur not in schemas"))
      } else meta.get("schema") // format v1 single-schema shape
    val fields = schemaNode.get("fields").elements().asScala.toSeq
    val st = StructType(fields.map { f =>
      // a DEFAULT-valued field surfaces nullable to Spark even when
      // the spec marks it required: pre-evolution files lack the
      // physical column, the scan null-fills, and the default
      // coalesce restores totality ABOVE the scan — a non-nullable
      // scan schema over those files would be a lie to codegen
      StructField(f.get("name").asText(), toSparkType(f.get("type")),
        !f.get("required").asBoolean() || f.hasNonNull("initial-default"))
    })
    val byId = fields.map(f =>
      f.get("id").asInt() -> f.get("name").asText()).toMap
    (st, byId)
  }

  // ------------------------------------------------------------------
  // Single-value binary serialization (spec Appendix D) → stat strings
  // ------------------------------------------------------------------

  /** Decode a bound value for `dt` from the spec's little-endian
    * single-value serialization; None = unsupported (skip the stat,
    * never mis-prune). */
  private def decodeBound(dt: DataType, bytes: Array[Byte])
      : Option[(String, String)] = {
    val bb = ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType if bytes.length == 4 =>
        Some(("long", bb.getInt.toString))
      case LongType if bytes.length == 8 =>
        Some(("long", bb.getLong.toString))
      // timestamps bound as their epoch-MICROS longs — exactly what a
      // Catalyst TimestampType literal carries, so hour/ts predicates
      // prune files without any zone arithmetic
      case TimestampType | TimestampNTZType if bytes.length == 8 =>
        Some(("long", bb.getLong.toString))
      case FloatType if bytes.length == 4 =>
        Some(("double", bb.getFloat.toString))
      case DoubleType if bytes.length == 8 =>
        Some(("double", bb.getDouble.toString))
      case StringType => Some(("string", new String(bytes, UTF_8)))
      case _ => None
    }
  }

  // ------------------------------------------------------------------
  // Generic Avro helpers
  // ------------------------------------------------------------------

  private def readAvro(path: String): Seq[GenericRecord] = {
    val reader = new DataFileReader[GenericRecord](
      new java.io.File(path), new GenericDatumReader[GenericRecord]())
    try reader.iterator().asScala.toSeq finally reader.close()
  }

  private def fieldOpt(r: GenericRecord, name: String): Option[AnyRef] =
    if (r.getSchema.getField(name) == null) None
    else Option(r.get(name))

  private def asLong(v: AnyRef): Long = v match {
    case n: java.lang.Number => n.longValue()
    case other => other.toString.toLong
  }

  private def asStr(v: AnyRef): String = v.toString // Utf8 → String

  private def asBytes(v: AnyRef): Array[Byte] = v match {
    case bb: ByteBuffer =>
      val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
    case f: GenericData.Fixed => f.bytes()
    case a: Array[Byte] => a
  }

  /** An Iceberg "map" field read generically: either a real Avro map
    * or the spec's key/value-array encoding. */
  private def asIdMap(v: AnyRef): Map[Int, Array[Byte]] = v match {
    case null => Map.empty
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, vv) =>
        k.toString.toInt -> asBytes(vv.asInstanceOf[AnyRef]) }.toMap
    case l: java.util.Collection[_] =>
      l.asScala.collect {
        case r: GenericRecord if r.get("key") != null && r.get("value") != null =>
          asLong(r.get("key")).toInt -> asBytes(r.get("value"))
      }.toMap
    case _ => Map.empty
  }

  private def asIdLongMap(v: AnyRef): Map[Int, Long] = v match {
    case null => Map.empty
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, vv) =>
        k.toString.toInt -> asLong(vv.asInstanceOf[AnyRef]) }.toMap
    case l: java.util.Collection[_] =>
      l.asScala.collect {
        case r: GenericRecord if r.get("key") != null && r.get("value") != null =>
          asLong(r.get("key")).toInt -> asLong(r.get("value"))
      }.toMap
    case _ => Map.empty
  }

  // ------------------------------------------------------------------
  // Snapshot replay
  // ------------------------------------------------------------------

  /** Replay the metadata tree to a snapshot (default: current). */
  def snapshot(root: String, snapshotIdAsOf: Option[Long] = None)
      : IceSnapshot = {
    val (v, meta) = currentMeta(root)
    val fv = meta.get("format-version").asInt()
    if (fv > 3) throw new UnsupportedOperationException(
      s"iceberg-meta: format-version $fv not supported (1-3)")
    if (fv == 3) gateV3Read(meta, root)
    val defaults = if (fv == 3) v3Defaults(meta, root) else Nil
    val (schema, nameById) = schemaOf(meta)
    val snapId = snapshotIdAsOf.getOrElse {
      require(meta.hasNonNull("current-snapshot-id") &&
        meta.get("current-snapshot-id").asLong() != -1L,
        s"iceberg-meta: $root has no current snapshot")
      meta.get("current-snapshot-id").asLong()
    }
    val snap = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == snapId)
      .getOrElse(throw new IllegalArgumentException(
        s"iceberg-meta: snapshot $snapId not in $root"))
    val listPath = resolvePath(root, snap.get("manifest-list").asText())
    // manifest-list content: 0 = data manifests, 1 = delete manifests
    // (v2 row-level deletes — positional AND equality)
    val (deleteManifests, dataManifests) = readAvro(listPath).partition(
      r => fieldOpt(r, "content").map(asLong).getOrElse(0L) == 1L)
    // spec inheritance: an entry with no explicit sequence_number
    // takes the manifest-list row's
    def entrySeq(e: GenericRecord, listRow: GenericRecord): Long =
      fieldOpt(e, "sequence_number").map(asLong).getOrElse(
        fieldOpt(listRow, "sequence_number").map(asLong).getOrElse(0L))
    val files = dataManifests
      .map(r => (resolvePath(root, asStr(r.get("manifest_path"))), r))
      .flatMap { case (mp, listRow) =>
        // v3 ROW LINEAGE inheritance walk: entries with a null
        // first_row_id assign from the manifest's base plus the
        // record counts of the id-less live entries before them
        val mBase = fieldOpt(listRow, "first_row_id").map(asLong)
        var assigned = 0L
        readAvro(mp).flatMap { e =>
          val status = asLong(e.get("status"))
          if (status == 2) None // deleted
          else {
            val df = e.get("data_file").asInstanceOf[GenericRecord]
            val content = fieldOpt(df, "content").map(asLong).getOrElse(0L)
            if (content != 0) throw new UnsupportedOperationException(
              "iceberg-meta: delete files in a DATA manifest are not " +
                "supported")
            val fmt = asStr(df.get("file_format")).toLowerCase
            if (fmt != "parquet") throw new UnsupportedOperationException(
              s"iceberg-meta: file format $fmt not supported (parquet only)")
            val lower = fieldOpt(df, "lower_bounds").map(asIdMap)
              .getOrElse(Map.empty)
            val upper = fieldOpt(df, "upper_bounds").map(asIdMap)
              .getOrElse(Map.empty)
            val nulls = fieldOpt(df, "null_value_counts").map(asIdLongMap)
              .getOrElse(Map.empty)
            val records = asLong(df.get("record_count"))
            val stats = nameById.flatMap { case (id, name) =>
              schema.fields.find(_.name == name).flatMap { f =>
                val lo = lower.get(id).flatMap(decodeBound(f.dataType, _))
                val hi = upper.get(id).flatMap(decodeBound(f.dataType, _))
                val typ = lo.map(_._1).orElse(hi.map(_._1))
                typ.map(t => name -> VersionedTable.ColStats(t,
                  lo.map(_._2), hi.map(_._2),
                  // absent null_value_counts = UNKNOWN (<0), never a
                  // coined zero — a fabricated 0 would let IS NULL
                  // pruning silently drop this file's null rows
                  nulls.getOrElse(id, -1L), records))
              }
            }
            val recorded = asStr(df.get("file_path"))
            val tuple: Seq[(String, Any)] = fieldOpt(df, "partition") match {
              case Some(pr: GenericRecord) =>
                pr.getSchema.getFields.asScala.toSeq.map { fld =>
                  fld.name() -> (pr.get(fld.name()) match {
                    case u: org.apache.avro.util.Utf8 => u.toString
                    case o => o
                  })
                }
              case _ => Nil
            }
            val explicitFr = fieldOpt(df, "first_row_id").map(asLong)
            val fr = explicitFr.orElse(mBase.map(_ + assigned))
            if (explicitFr.isEmpty) assigned += records
            Some(IceFile(resolvePath(root, recorded), recorded,
              fieldOpt(df, "file_size_in_bytes").map(asLong).getOrElse(0L),
              records, stats, entrySeq(e, listRow), tuple,
              specId = fieldOpt(listRow, "partition_spec_id")
                .map(v => asLong(v).toInt).getOrElse(0),
              firstRowId = fr))
          }
        }
      }
    val deleteEntries = deleteManifests
      .map(r => (resolvePath(root, asStr(r.get("manifest_path"))), r))
      .flatMap { case (mp, listRow) =>
        readAvro(mp).flatMap { e =>
          val status = asLong(e.get("status"))
          if (status == 2) None
          else {
            val df = e.get("data_file").asInstanceOf[GenericRecord]
            val content = fieldOpt(df, "content").map(asLong).getOrElse(0L)
            val fmt = asStr(df.get("file_format")).toLowerCase
            if (fmt == "puffin") {
              // v3 DELETION VECTOR entry: content=1, the blob
              // addressed directly by offset/size, one data file
              // targeted via referenced_data_file
              require(fv == 3, s"iceberg-meta: a puffin deletion " +
                s"vector in $mp is only legal at format-version 3 " +
                s"(table is v$fv)")
              require(content == 1, s"iceberg-meta: puffin delete " +
                s"entry in $mp has content=$content (expected 1)")
              val refFile = fieldOpt(df, "referenced_data_file")
                .map(asStr).getOrElse(
                  throw new IllegalStateException(
                    s"iceberg-meta: DV entry in $mp lacks " +
                      "referenced_data_file"))
              val off = fieldOpt(df, "content_offset").map(asLong)
                .getOrElse(throw new IllegalStateException(
                  s"iceberg-meta: DV entry in $mp lacks content_offset"))
              val len = fieldOpt(df, "content_size_in_bytes")
                .map(asLong).getOrElse(
                  throw new IllegalStateException(s"iceberg-meta: DV " +
                    s"entry in $mp lacks content_size_in_bytes"))
              val recorded = asStr(df.get("file_path"))
              val tuple: Seq[(String, Any)] =
                fieldOpt(df, "partition") match {
                  case Some(pr: GenericRecord) =>
                    pr.getSchema.getFields.asScala.toSeq.map { fld =>
                      fld.name() -> (pr.get(fld.name()) match {
                        case u: org.apache.avro.util.Utf8 => u.toString
                        case o => o
                      })
                    }
                  case _ => Nil
                }
              Some(Dv(IceDV(resolvePath(root, recorded), recorded,
                off, len, refFile, entrySeq(e, listRow),
                asLong(df.get("record_count")), tuple,
                specId = fieldOpt(listRow, "partition_spec_id")
                  .map(v => asLong(v).toInt).getOrElse(0))))
            } else {
            if (fmt != "parquet") throw new UnsupportedOperationException(
              s"iceberg-meta: delete file format $fmt not supported")
            val eqIds: Seq[Int] = fieldOpt(df, "equality_ids") match {
              case Some(l: java.util.List[_]) =>
                l.asScala.toSeq.map(v => asLong(v.asInstanceOf[AnyRef]).toInt)
              case _ => Nil
            }
            if (content == 2 || eqIds.nonEmpty) {
              require(content == 2 && eqIds.nonEmpty,
                s"iceberg-meta: malformed delete entry in $mp — " +
                  s"content=$content with equality_ids=$eqIds")
              // equality_ids name TOP-LEVEL table fields; an id this
              // schema does not carry (dropped column, nested field)
              // cannot be matched — refuse, never resurrect
              val eqCols = eqIds.map(id => nameById.getOrElse(id,
                throw new UnsupportedOperationException(
                  s"iceberg-meta: equality delete field id $id is not " +
                    s"a top-level field of $root's current schema — " +
                    "read with an Iceberg runtime")))
              Some(Eq(IceEqDelete(
                resolvePath(root, asStr(df.get("file_path"))),
                eqCols, entrySeq(e, listRow))))
            } else {
              require(content == 1,
                s"iceberg-meta: unexpected content=$content in delete manifest")
              // v3 retires position delete FILES: writers must have
              // converted them to deletion vectors at upgrade (spec,
              // "Position Delete Files"); one surviving is corrupt
              if (fv == 3) throw new UnsupportedOperationException(
                s"iceberg-meta: a parquet position delete file in $mp " +
                  "is not legal at format-version 3 (the spec retires " +
                  "them for deletion vectors) — rewrite the table")
              val lower = fieldOpt(df, "lower_bounds").map(asIdMap)
                .getOrElse(Map.empty)
              val upper = fieldOpt(df, "upper_bounds").map(asIdMap)
                .getOrElse(Map.empty)
              // reserved field id of file_path in delete files (spec)
              Some(Pos(IceDelete(
                resolvePath(root, asStr(df.get("file_path"))),
                lower.get(DeleteFilePathFieldId)
                  .flatMap(decodeBound(StringType, _)).map(_._2),
                upper.get(DeleteFilePathFieldId)
                  .flatMap(decodeBound(StringType, _)).map(_._2),
                entrySeq(e, listRow))))
            }
            }
          }
        }
      }
    val dvs = deleteEntries.collect { case Dv(d) => d }
    // v3 writer obligation surfaced at read: at most one live DV per
    // data file (writers must merge) — two is corrupt metadata
    dvs.groupBy(_.referencedDataFile).foreach { case (f, ds) =>
      require(ds.size == 1, s"iceberg-meta: data file $f is " +
        s"referenced by ${ds.size} live deletion vectors — corrupt " +
        "metadata (v3 allows at most one; writers must merge)")
    }
    // default-dating soundness under snapshot EXPIRATION: a live file
    // in the gap (lastPreSeq, firstSeq) could have been written by an
    // EXPIRED post-evolution snapshot — its stored NULLs would
    // wrongly read as the default under the seq rule. The spec's
    // authority is per-file FIELD PRESENCE, so resolve exactly that
    // from the ambiguous files' own parquet footers (one footer read
    // per GAP file only — expiration-rare planning I/O; unambiguous
    // files never pay it).
    val resolvedFiles =
      if (defaults.isEmpty) files
      else files.map { f =>
        if (defaults.exists(d => f.seq < d.firstSeq && f.seq > d.lastPreSeq))
          f.copy(footerColumns = Some(footerColumnNames(f.path)))
        else f
      }
    IceSnapshot(root, snapId, schema, resolvedFiles,
      deleteEntries.collect { case Pos(d) => d },
      deleteEntries.collect { case Eq(d) => d },
      dvs, defaults, nameMappingOf(meta, nameById))
  }

  /** logical name → physical parquet name from the spec's
    * `schema.name-mapping.default` table property (JSON
    * `[{"field-id": id, "names": [...]}]`) — only entries whose
    * mapped name DIFFERS from the current schema's logical name for
    * that id (an identity mapping needs no rewrite). How a UniForm
    * mirror over a column-mapped Delta table tells readers which
    * parquet columns carry which field ids. */
  private def nameMappingOf(meta: JsonNode,
      nameById: Map[Int, String]): Map[String, String] = {
    val prop = Option(meta.get("properties")).filterNot(_.isNull)
      .flatMap(p => Option(p.get("schema.name-mapping.default")))
      .filterNot(_.isNull).map(_.asText())
    prop.fold(Map.empty[String, String]) { json =>
      mapper.readTree(json).elements().asScala.flatMap { e =>
        val id = e.get("field-id").asInt()
        val names = e.get("names").elements().asScala
          .map(_.asText()).toSeq
        nameById.get(id).flatMap { logical =>
          names.headOption.filter(_ != logical).map(logical -> _)
        }
      }.toMap
    }
  }

  /** DOTTED column paths physically present in a parquet file's
    * footer schema — [[defaultApplies]]'s per-file authority for
    * expiration-ambiguous files. Recurses through plain STRUCT groups
    * (where nested defaults live); annotated groups (LIST/MAP) stop
    * at their own path — defaults never cross them. */
  private def footerColumnNames(path: String): Set[String] = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(new java.io.File(path).toURI),
        new org.apache.hadoop.conf.Configuration()))
    try {
      val out = scala.collection.mutable.Set.empty[String]
      def walk(prefix: String,
          fields: Seq[org.apache.parquet.schema.Type]): Unit =
        fields.foreach { t =>
          val p = if (prefix.isEmpty) t.getName else s"$prefix.${t.getName}"
          out += p
          t match {
            case g: org.apache.parquet.schema.GroupType
                if g.getLogicalTypeAnnotation == null =>
              walk(p, g.getFields.asScala.toSeq)
            case _ => ()
          }
        }
      walk("", reader.getFooter.getFileMetaData.getSchema
        .getFields.asScala.toSeq)
      out.toSet
    } finally reader.close()
  }

  /** One parsed delete-manifest entry ([[snapshot]] replay). */
  private sealed trait DeleteEntry
  private final case class Pos(d: IceDelete) extends DeleteEntry
  private final case class Eq(d: IceEqDelete) extends DeleteEntry
  private final case class Dv(d: IceDV) extends DeleteEntry

  /** v3 read gates — refuse what this reader cannot honor, loudly:
    * table encryption (v3 `encryption-keys` — no key material here).
    * Default-valued fields — top-level AND struct-nested — are fully
    * supported ([[v3Defaults]]); only a default under a LIST/MAP
    * refuses (inside v3Defaults — there is no column shape to fill
    * through).
    *
    * Row-lineage metadata (`next-row-id`, snapshot `first-row-id`,
    * manifest/file `first_row_id`) is fine to IGNORE on read: it only
    * assigns the hidden `_row_id` column, which this reader does not
    * project. Remaining-unsupported v3 type shapes (nested geo,
    * non-default CRS…) refuse inside [[toSparkType]]. */
  private def gateV3Read(meta: JsonNode, root: String): Unit = {
    val enc = meta.get("encryption-keys")
    require(enc == null || enc.isNull || !enc.elements().hasNext,
      s"iceberg-meta: $root uses v3 table encryption — not supported")
  }

  /** The current schema node of a metadata document (the `schemas` +
    * `current-schema-id` shape, or format-v1's single `schema`). */
  private def currentSchemaNode(meta: JsonNode): Option[JsonNode] =
    if (meta.hasNonNull("schemas") && meta.hasNonNull("current-schema-id")) {
      val cur = meta.get("current-schema-id").asInt()
      meta.get("schemas").elements().asScala
        .find(_.get("schema-id").asInt() == cur)
    } else Option(meta.get("schema")).filterNot(_.isNull)

  /** The table's v3 TOP-LEVEL default-valued fields, each DATED
    * against the snapshot history: `firstSeq` = the sequence number
    * of the earliest snapshot whose schema (by its recorded
    * `schema-id`) contains the field — data files with an older
    * sequence number provably predate the field and must read the
    * default; everything newer was written under a field-carrying
    * schema and reads its stored values. Purely metadata: one pass
    * over the document's `schemas` and `snapshots` arrays.
    *
    * Refusals (never guess): a default whose type this decoder does
    * not cover, and — only when defaults exist — a snapshot that
    * records no `schema-id` (the field would be undatable; a raw
    * null-fill OR a blanket default could both be wrong). A field in
    * NO snapshot's schema yet (evolved after the last commit) dates
    * to `Long.MaxValue`: every current file predates it, all read
    * the default — exactly the ALTER TABLE ADD COLUMN semantics. */
  private def v3Defaults(meta: JsonNode, root: String): Seq[IceDefault] = {
    // every defaulted field with its STRUCT path from the top level —
    // nested struct members fill through Column.withField at scan
    // time; a default under a LIST/MAP refuses (there is no column
    // shape to fill through), as does a path segment containing '.'
    // (the dotted rendering the per-file footer check matches would
    // be ambiguous)
    def defaulted(path: Seq[String], t: JsonNode,
        underCollection: Boolean): Seq[(Seq[String], JsonNode)] =
      if (t == null || !t.isObject || !t.hasNonNull("type")) Nil
      else t.get("type").asText() match {
        case "struct" =>
          t.get("fields").elements().asScala.toSeq.flatMap { f =>
            val p = path :+ f.get("name").asText()
            val here =
              if (!f.hasNonNull("initial-default")) Nil
              else {
                require(!underCollection,
                  s"iceberg-meta: field '${p.mkString(".")}' of $root " +
                    "carries a v3 initial-default under a list/map — " +
                    "no column shape to fill through; read with an " +
                    "Iceberg runtime")
                require(p.forall(!_.contains(".")),
                  s"iceberg-meta: defaulted field path ${p.mkString(".")}" +
                    s" of $root contains a '.' segment — ambiguous")
                Seq((p, f))
              }
            here ++ defaulted(p, f.get("type"), underCollection)
          }
        case "list" =>
          defaulted(path, t.get("element"), underCollection = true)
        case "map" =>
          defaulted(path, t.get("key"), underCollection = true) ++
            defaulted(path, t.get("value"), underCollection = true)
        case _ => Nil
      }
    val fields = currentSchemaNode(meta).toSeq
      .flatMap(s => defaulted(Nil, s, underCollection = false))
    if (fields.isEmpty) return Nil
    // field ids are schema-unique at EVERY nesting level — collect
    // them all so nested fields date exactly like top-level ones
    def idsOf(t: JsonNode): Set[Int] =
      if (t == null || !t.isObject || !t.hasNonNull("type")) Set.empty
      else t.get("type").asText() match {
        case "struct" =>
          t.get("fields").elements().asScala.flatMap(f =>
            Set(f.get("id").asInt()) ++ idsOf(f.get("type"))).toSet
        case "list" => idsOf(t.get("element"))
        case "map" => idsOf(t.get("key")) ++ idsOf(t.get("value"))
        case _ => Set.empty
      }
    val idsBySchema: Map[Int, Set[Int]] =
      meta.get("schemas").elements().asScala.map { s =>
        s.get("schema-id").asInt() -> idsOf(s)
      }.toMap
    val snaps =
      if (!meta.hasNonNull("snapshots")) Nil
      else meta.get("snapshots").elements().asScala.toSeq
    snaps.foreach(s => require(s.hasNonNull("schema-id"),
      s"iceberg-meta: $root carries v3 initial-default fields but " +
        s"snapshot ${s.get("snapshot-id").asLong()} records no " +
        "schema-id — the fields cannot be dated against data " +
        "sequence numbers; read with an Iceberg runtime"))
    fields.map { case (path, f) =>
      val name = path.mkString(".")
      val fid = f.get("id").asInt()
      val dt = toSparkType(f.get("type"))
      def seqOf(s: JsonNode): Long =
        if (s.hasNonNull("sequence-number"))
          s.get("sequence-number").asLong() else 0L
      val (carrying, lacking) = snaps.partition(s =>
        idsBySchema.getOrElse(s.get("schema-id").asInt(), Set.empty)(fid))
      val firstSeq = carrying.map(seqOf).minOption.getOrElse(Long.MaxValue)
      val lastPreSeq = lacking.map(seqOf).maxOption.getOrElse(Long.MinValue)
      IceDefault(name, dt,
        decodeJsonSingleValue(dt, f.get("initial-default"), root, name),
        firstSeq, lastPreSeq, path = path)
    }
  }

  /** Decode a default from the spec's JSON single-value serialization
    * (the schema-JSON twin of the binary codec [[decodeBound]] reads)
    * into a Spark-literal-compatible JVM value. Unsupported types
    * refuse loudly — a guessed default is silent corruption. */
  private def decodeJsonSingleValue(dt: DataType, node: JsonNode,
      root: String, field: String): Any = dt match {
    case BooleanType => node.asBoolean()
    case IntegerType => node.asInt()
    case LongType => node.asLong()
    case FloatType => node.floatValue()
    case DoubleType => node.asDouble()
    case StringType => node.asText()
    case DateType => java.sql.Date.valueOf(node.asText())
    case TimestampNTZType => java.time.LocalDateTime.parse(node.asText())
    case TimestampType =>
      java.time.OffsetDateTime.parse(node.asText()).toInstant
    case d: DecimalType => new java.math.BigDecimal(node.asText())
    case BinaryType => // spec: hexadecimal string
      node.asText().grouped(2)
        .map(h => Integer.parseInt(h, 16).toByte).toArray
    case other => throw new UnsupportedOperationException(
      s"iceberg-meta: initial-default on field '$field' of $root has " +
        s"unsupported type $other — read with an Iceberg runtime")
  }

  /** Encode a JVM default value into the JSON single-value
    * serialization ([[addColumnWithDefault]]'s writer twin of
    * [[decodeJsonSingleValue]]). */
  private def encodeJsonSingleValue(dt: DataType, v: Any): JsonNode =
    dt match {
      case BooleanType => mapper.getNodeFactory
        .booleanNode(v.asInstanceOf[Boolean])
      case IntegerType => mapper.getNodeFactory
        .numberNode(v.asInstanceOf[Int])
      case LongType => mapper.getNodeFactory
        .numberNode(v.asInstanceOf[Long])
      case FloatType => mapper.getNodeFactory
        .numberNode(v.asInstanceOf[Float].toDouble)
      case DoubleType => mapper.getNodeFactory
        .numberNode(v.asInstanceOf[Double])
      case StringType => mapper.getNodeFactory.textNode(v.toString)
      case DateType => mapper.getNodeFactory.textNode(v.toString)
      case other => throw new UnsupportedOperationException(
        s"iceberg-meta: cannot encode a default of type $other")
    }

  /** ALTER TABLE ADD COLUMN ... DEFAULT on a v3 table — ONE
    * metadata-only commit (the spec's schema-evolution shape): a new
    * schema restating the current one plus the field (fresh id past
    * `last-column-id`, never reused) carrying `initial-default` AND
    * `write-default`, published as the new `current-schema-id`.
    * Existing data files are untouched; they read the default through
    * the sequence-number dating above. Appends after this must
    * supply the column (this writer's whole-schema append contract —
    * `write-default` never fires because no column is ever omitted).
    * Returns the new metadata version. */
  def addColumnWithDefault(root: String, name: String, dt: DataType,
      default: Any, required: Boolean = false): Int = {
    val (v, meta0) = currentMeta(root)
    require(meta0.get("format-version").asInt() == 3,
      "iceberg-meta: initial-default fields require format-version 3")
    val meta = meta0
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val newId = meta.get("last-column-id").asInt() + 1
    val curId = meta.get("current-schema-id").asInt()
    val schemas = meta.withArray[
      com.fasterxml.jackson.databind.node.ArrayNode]("schemas")
    val cur = schemas.elements().asScala
      .find(_.get("schema-id").asInt() == curId)
      .getOrElse(throw new IllegalStateException(
        s"iceberg-meta: current-schema-id $curId not in schemas"))
    val newSchemaId = schemas.elements().asScala
      .map(_.get("schema-id").asInt()).max + 1
    val next = cur
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    next.put("schema-id", newSchemaId)
    // `name` may be DOTTED: parent segments walk into existing STRUCT
    // fields (Iceberg's ALTER TABLE ADD COLUMN parent.child shape),
    // the new field lands in the innermost struct's field list
    val segs = name.split("\\.").toSeq
    var fieldsArr = next.withArray[
      com.fasterxml.jackson.databind.node.ArrayNode]("fields")
    segs.init.foreach { seg =>
      val parent = fieldsArr.elements().asScala
        .find(_.get("name").asText() == seg)
        .getOrElse(throw new IllegalArgumentException(
          s"iceberg-meta: parent field '$seg' of '$name' not in $root"))
      val t = parent.get("type")
      require(t != null && t.isObject &&
        t.get("type").asText() == "struct",
        s"iceberg-meta: parent field '$seg' of '$name' is not a " +
          "struct — defaults under list/map have no column shape " +
          "to fill through")
      fieldsArr = t.asInstanceOf[
        com.fasterxml.jackson.databind.node.ObjectNode].withArray[
        com.fasterxml.jackson.databind.node.ArrayNode]("fields")
    }
    require(!fieldsArr.elements().asScala
      .exists(_.get("name").asText() == segs.last),
      s"iceberg-meta: column '$name' already exists in $root")
    val f = mapper.createObjectNode()
    f.put("id", newId)
    f.put("name", segs.last)
    f.put("required", required)
    f.put("type", iceTypeOf(dt))
    f.set[JsonNode]("initial-default", encodeJsonSingleValue(dt, default))
    f.set[JsonNode]("write-default", encodeJsonSingleValue(dt, default))
    fieldsArr.add(f)
    schemas.add(next)
    meta.put("current-schema-id", newSchemaId)
    meta.put("last-column-id", newId)
    meta.put("last-updated-ms", System.currentTimeMillis())
    commitMeta(root, v, meta, meta0)
    v + 1
  }

  /** Is `root` a UniForm MIRROR — an Iceberg tree co-located with a
    * `_delta_log`? Such trees are READ-ONLY for direct Iceberg
    * writers: the Delta log is the source of truth and
    * [[syncExternal]] (the Delta commit hook) is the only legal
    * writer; a direct Iceberg commit would diverge the two formats'
    * views of the same files (real UniForm's contract too — the
    * Iceberg metadata is a read surface). */
  private def isUniformMirror(root: String): Boolean =
    Files.exists(Paths.get(root, "_delta_log"))

  /** Set while [[syncExternal]] publishes — the one writer a mirror
    * admits. */
  private val inSync = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  private def gateMirrorWrite(root: String, operation: String): Unit =
    require(!isUniformMirror(root) || inSync.get,
      s"iceberg-meta $operation: $root is a UniForm MIRROR of a Delta " +
        "table — the Iceberg tree is read-only; write through the " +
        "Delta log (every Delta commit advances the mirror)")

  /** Central metadata PUBLISHER — every successor document commits
    * through here so the spec's `metadata-log` is maintained: one
    * `{timestamp-ms, metadata-file}` entry per superseded document,
    * trimmed to `write.metadata.previous-versions-max` (default 100,
    * Iceberg's own) — without the trim the document itself grows
    * O(commits), the last self-referential metadata-growth term.
    * With `write.metadata.delete-after-commit.enabled=true` the
    * files dropped from the log also delete from disk AFTER the
    * commit is durable (Fs catalog only — REST-held documents have
    * no local file; the REST diff treats metadata-log as
    * server-derived, which the OpenAPI's metadata-location history
    * is). Failure order is safe: a crash between commit and delete
    * leaves unreferenced-but-harmless files for the next sweep. */
  private def commitMeta(root: String, v: Int,
      newMeta: com.fasterxml.jackson.databind.node.ObjectNode,
      prev: JsonNode): Unit = {
    gateMirrorWrite(root, "COMMIT")
    def prop(name: String): Option[String] =
      Option(newMeta.get("properties")).filterNot(_.isNull)
        .flatMap(p => Option(p.get(name))).filterNot(_.isNull)
        .map(_.asText())
    val keep = prop("write.metadata.previous-versions-max")
      .map(_.toInt).getOrElse(100).max(1)
    val entry = mapper.createObjectNode()
    // the entry records the SUPERSEDED document's own timestamp (the
    // spec's TableMetadata rule) — stamping the successor's would
    // shift every metadata-history lookup one commit late
    entry.put("timestamp-ms",
      if (prev.hasNonNull("last-updated-ms"))
        prev.get("last-updated-ms").asLong()
      else System.currentTimeMillis())
    entry.put("metadata-file", s"metadata/v$v.metadata.json")
    val prior =
      if (newMeta.hasNonNull("metadata-log"))
        newMeta.get("metadata-log").elements().asScala.toSeq
          .map(_.deepCopy[JsonNode]())
      else Nil
    val all = prior :+ (entry: JsonNode)
    val kept = all.takeRight(keep)
    val dropped = all.dropRight(keep)
    val arr = newMeta.putArray("metadata-log")
    kept.foreach(arr.add)
    IceCatalog.forRoot(root).commit(root, v,
      mapper.writerWithDefaultPrettyPrinter()
        .writeValueAsBytes(newMeta))
    if (dropped.nonEmpty &&
      prop("write.metadata.delete-after-commit.enabled")
        .contains("true") &&
      (IceCatalog.forRoot(root) eq FsIceCatalog))
      dropped.foreach { e =>
        try Files.deleteIfExists(Paths.get(
          resolvePath(root, e.get("metadata-file").asText())))
        catch { case _: java.io.IOException => () } // best effort
      }
  }

  /** ALTER TABLE SET TBLPROPERTIES for the Iceberg side — one
    * metadata-only commit updating the document's `properties` map
    * (through the REST diff this expresses as the OpenAPI's
    * `set-properties`). The metadata-lifecycle knobs
    * (`write.metadata.previous-versions-max`,
    * `write.metadata.delete-after-commit.enabled`) land here. */
  def setProperties(root: String, props: Map[String, String]): Int = {
    val (v, meta0) = currentMeta(root)
    requireKnownVersion(meta0)
    val meta = meta0
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val p =
      if (meta.hasNonNull("properties"))
        meta.get("properties")
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      else meta.putObject("properties")
    props.foreach { case (k, value) => p.put(k, value) }
    meta.put("last-updated-ms", System.currentTimeMillis())
    commitMeta(root, v, meta, meta0)
    v + 1
  }

  /** Declare the table's SORT ORDER (`ALTER TABLE ... WRITE ORDERED
    * BY` — Iceberg's layout policy, the analog of the Delta side's
    * liquid clustering): appends a new entry to `sort-orders` (fresh
    * order-id) and points `default-sort-order-id` at it — one
    * metadata-only conditional-put commit. Fields are IDENTITY
    * transforms over top-level columns with the conventional null
    * placement (asc → nulls-first, desc → nulls-last). The order is
    * advisory for writes (the spec's posture) and HONORED by
    * [[compact]], which re-clusters on it. */
  def setSortOrder(root: String,
      fields: Seq[(String, String)]): Int = {
    require(fields.nonEmpty, "iceberg-meta: empty sort order — " +
      "sort-order 0 (unsorted) is the default already")
    gateMirrorWrite(root, "SET SORT ORDER")
    val (v, meta0) = currentMeta(root)
    requireKnownVersion(meta0)
    val (schema, nameById) = schemaOf(meta0)
    val idByName = nameById.map(_.swap)
    val typeOf = schema.fields.map(f => f.name -> f.dataType).toMap
    fields.foreach { case (c, dir) =>
      require(idByName.contains(c),
        s"iceberg-meta: sort column '$c' is not a column of $root")
      require(dir == "asc" || dir == "desc",
        s"iceberg-meta: sort direction '$dir' must be asc|desc")
      require(!isGeoType(typeOf(c)),
        s"iceberg-meta: sort column '$c' is a geometry/geography " +
          "column — geo values have no defined order")
    }
    val meta = meta0
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val orders =
      if (meta.hasNonNull("sort-orders"))
        meta.get("sort-orders")
          .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      else meta.putArray("sort-orders")
    val nextId = orders.elements().asScala
      .map(_.get("order-id").asInt()).maxOption.getOrElse(0) + 1
    val entry = orders.addObject()
    entry.put("order-id", nextId)
    val fa = entry.putArray("fields")
    fields.foreach { case (c, dir) =>
      val f = fa.addObject()
      f.put("transform", "identity")
      f.put("source-id", idByName(c))
      f.put("direction", dir)
      f.put("null-order",
        if (dir == "asc") "nulls-first" else "nulls-last")
    }
    meta.put("default-sort-order-id", nextId)
    meta.put("last-updated-ms", System.currentTimeMillis())
    commitMeta(root, v, meta, meta0)
    nextId
  }

  /** The DEFAULT sort order's (column, ascending) list, resolved
    * through the current schema's field ids — Nil for order 0 /
    * absent. Honoring callers ([[compact]]) refuse orders this
    * writer cannot reproduce (non-identity transforms, unknown
    * source ids) rather than silently writing an unsorted layout
    * under a declared order. */
  private def sortOrderOf(meta: JsonNode,
      nameById: Map[Int, String]): Seq[(String, Boolean)] = {
    val id = if (meta.hasNonNull("default-sort-order-id"))
      meta.get("default-sort-order-id").asInt() else 0
    if (id == 0 || !meta.hasNonNull("sort-orders")) return Nil
    val order = meta.get("sort-orders").elements().asScala
      .find(_.get("order-id").asInt() == id)
      .getOrElse(throw new IllegalStateException(
        s"iceberg-meta: default-sort-order-id $id not in sort-orders"))
    order.get("fields").elements().asScala.map { f =>
      require(f.get("transform").asText() == "identity",
        s"iceberg-meta: sort transform '${f.get("transform").asText()}'" +
          " is not supported by this writer's compaction (identity " +
          "only) — rewrite with an Iceberg runtime or reset the order")
      val src = f.get("source-id").asInt()
      val name = nameById.getOrElse(src,
        throw new IllegalStateException(
          s"iceberg-meta: sort order $id references unknown field id " +
            s"$src"))
      (name, f.get("direction").asText() != "desc")
    }.toSeq
  }

  /** Version gate for every write entry point; returns the parsed
    * format-version so v3-specific obligations can branch. */
  private def requireKnownVersion(meta: JsonNode): Int = {
    val fv = meta.get("format-version").asInt()
    if (fv > 3) throw new UnsupportedOperationException(
      s"iceberg-meta: format-version $fv not supported (1-3)")
    fv
  }

  /** Gate for the COW row-REWRITING entry points (UPDATE / MERGE /
    * overwrite): a v3 rewrite must PRESERVE surviving rows' ids and
    * stamp UPDATED rows' `_last_updated_sequence_number`, which these
    * paths do not implement. [[compact]] DOES run on v3 — it
    * materializes `_row_id`/`_last_updated_sequence_number` into the
    * rewritten files (the spec's preservation mechanism, coalesced
    * back at read). The additive paths — append, upsert, DV/equality
    * deletes — assign fresh ids by inheritance and are fully
    * supported. */
  private def requireRewritable(meta: JsonNode, op: String): Unit = {
    if (requireKnownVersion(meta) == 3)
      throw new UnsupportedOperationException(
        s"iceberg-meta: $op on a format-version 3 table is not " +
          "supported — rewriting rows in place must preserve their " +
          "row lineage (_row_id) and restamp updated rows, which " +
          "this writer does not implement on this path; appends, " +
          "upserts, deletes, compaction, UPDATE, MERGE and plain " +
          "replace-all OVERWRITE work on v3")
  }

  /** Reserved field ids of the positional-delete file schema
    * (iceberg spec: "Reserved field IDs"). */
  val DeleteFilePathFieldId = 2147483546
  val DeletePosFieldId = 2147483545

  /** Manifest paths are absolute URIs in real tables; keep fixtures
    * relocatable by also accepting table-relative paths. */
  private def resolvePath(root: String, p: String): String = {
    val clean = if (p.startsWith("file:")) new java.net.URI(p).getPath else p
    if (clean.startsWith("/")) clean else Paths.get(root, clean).toString
  }

  // ------------------------------------------------------------------
  // Writer — spec-shaped metadata tree (field names/structure per the
  // public spec; bounds in the single-value serialization; manifest
  // list + manifest as Avro). Two entry points: [[writeFixture]]
  // creates a NEW single-snapshot table; [[append]] transactionally
  // adds a snapshot to an EXISTING table (ours or a foreign one) with
  // the filesystem-catalog commit protocol — `v{N+1}.metadata.json`
  // published via conditional put, so racing writers get exactly one
  // winner. Manifest lists are written with the v1-optional/v2 count
  // fields defaulted; a full Iceberg-runtime-verified writer is out of
  // scope (no Iceberg runtime exists in this environment to verify
  // against) — the contract is round-tripping through THIS reader
  // plus structural conformance to the published spec.
  // ------------------------------------------------------------------

  private def avroSchema(json: String): Schema =
    new Schema.Parser().parse(json)

  private val manifestListSchema = avroSchema(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"content","type":"int","default":0},
      |{"name":"sequence_number","type":"long","default":0},
      |{"name":"min_sequence_number","type":"long","default":0},
      |{"name":"added_snapshot_id","type":"long"},
      |{"name":"added_files_count","type":"int","default":0},
      |{"name":"existing_files_count","type":"int","default":0},
      |{"name":"deleted_files_count","type":"int","default":0},
      |{"name":"added_rows_count","type":"long","default":0},
      |{"name":"existing_rows_count","type":"long","default":0},
      |{"name":"deleted_rows_count","type":"long","default":0},
      |{"name":"first_row_id","type":["null","long"],"default":null}
      |]}""".stripMargin)

  private def manifestSchemaJson(partitionField: String,
      v3DeleteFields: Boolean = false,
      withFirstRowId: Boolean = false): String = {
    // the v3 DV addressing triple (spec field ids 143-145) — only on
    // DV delete manifests; data manifests keep the v2 shape
    val v3 = if (!v3DeleteFields) "" else
      """,
        |  {"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
        |  {"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
        |  {"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}"""
        .stripMargin
    // v3 row lineage, EXPLICIT form (spec field id 142 — the DV
    // triple is 143-145): a rewritten manifest cannot rely on
    // list-row inheritance (its list row is the REWRITING
    // snapshot's), so restated entries materialize their resolved
    // first_row_id here
    val frid = if (!withFirstRowId) "" else
      """,
        |  {"name":"first_row_id","type":["null","long"],"default":null,"field-id":142}"""
        .stripMargin
    s"""{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |  {"name":"content","type":"int","default":0},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  $partitionField{"name":"record_count","type":"long"},
      |  {"name":"file_size_in_bytes","type":"long"},
      |  {"name":"null_value_counts","type":{"type":"map","values":"long"},"default":{}},
      |  {"name":"lower_bounds","type":{"type":"map","values":"bytes"},"default":{}},
      |  {"name":"upper_bounds","type":{"type":"map","values":"bytes"},"default":{}},
      |  {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null}$v3$frid
      |]}}]}""".stripMargin
  }

  private val manifestSchema = avroSchema(manifestSchemaJson(""))

  /** Delete-manifest entry schema for v3 DV entries (the v2 shape +
    * the spec's `referenced_data_file`/`content_offset`/
    * `content_size_in_bytes` triple), with the spec's r102 partition
    * record when `specFields` is non-empty. */
  private def dvManifestSchemaFor(
      specFields: Seq[(String, Int, DataType)]): Schema =
    avroSchema(manifestSchemaJson(
      if (specFields.isEmpty) ""
      else specFields.map { case (n, fid, dt) =>
        s"""{"name":"$n","type":["null",${partAvroType(dt)}],""" +
          s""""default":null,"field-id":$fid}"""
      }.mkString(
        """{"name":"partition","type":{"type":"record","name":"r102","fields":[""",
        ",", "]}},"),
      v3DeleteFields = true))

  /** Avro leaf type of an IDENTITY partition field — the value is the
    * source column's, so only types the single-value tuple can carry
    * are writable partition columns here. */
  private def partAvroType(dt: DataType): String = dt match {
    case IntegerType => "\"int\""
    case LongType => "\"long\""
    case StringType => "\"string\""
    case other => throw new UnsupportedOperationException(
      s"iceberg-meta: identity partition column of type $other is " +
        "not supported by this writer (int/long/string)")
  }

  /** Manifest-entry schema whose data_file carries the spec's
    * `partition` tuple (record r102; one nullable field per spec
    * field, `field-id` stamped per the spec's Avro mapping). Empty
    * spec → the shared unpartitioned schema. */
  private def manifestSchemaFor(
      specFields: Seq[(String, Int, DataType)],
      withFirstRowId: Boolean = false): Schema =
    if (specFields.isEmpty && !withFirstRowId) manifestSchema
    else avroSchema(manifestSchemaJson(
      if (specFields.isEmpty) ""
      else specFields.map { case (n, fid, dt) =>
        s"""{"name":"$n","type":["null",${partAvroType(dt)}],""" +
          s""""default":null,"field-id":$fid}"""
      }.mkString(
        """{"name":"partition","type":{"type":"record","name":"r102","fields":[""",
        ",", "]}},"),
      withFirstRowId = withFirstRowId))

  private def writeAvro(path: Path, schema: Schema,
      rows: Seq[GenericRecord]): Unit = {
    Files.createDirectories(path.getParent)
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, path.toFile)
    try rows.foreach(w.append) finally w.close()
  }

  /** Binary (schema-less-container) avro record codec — how
    * [[rewriteManifests]] ships restated manifest ENTRIES through a
    * Spark shuffle: `GenericRecord` is not serializable, and the avro
    * `Schema` is not either, so each side rebuilds the schema from
    * the (name, fieldId, type) spec info and the record travels as
    * its canonical binary encoding. */
  private def encodeAvroRecord(schema: Schema,
      rec: GenericRecord): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val enc = org.apache.avro.io.EncoderFactory.get()
      .binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  private def decodeAvroRecord(schema: Schema,
      bytes: Array[Byte]): GenericRecord = {
    val dec = org.apache.avro.io.DecoderFactory.get()
      .binaryDecoder(bytes, null)
    new GenericDatumReader[GenericRecord](schema).read(null, dec)
  }

  /** One restated live entry in flight through [[rewriteManifests]]'s
    * Spark job: the cluster key (partition tuple rendering, then file
    * path), the entry's original data sequence number and row count
    * (for the manifest-list row), and the fully-built manifest ENTRY
    * as canonical avro bytes. */
  private final case class RmEntry(specId: Int, part: String,
      path: String, seq: Long, records: Long, bytes: Array[Byte])

  /** One manifest-list row (every field set explicitly — generic Avro
    * writers do NOT apply schema defaults at write time). */
  private def manifestListRow(path: String, length: Long, specId: Int,
      seq: Long, addedSnap: Long, addedFiles: Int, existingFiles: Int,
      addedRows: Long, existingRows: Long, content: Int = 0,
      minSeq: Option[Long] = None, deletedFiles: Int = 0,
      deletedRows: Long = 0L,
      firstRowId: Option[Long] = None): GenericRecord = {
    val r = new GenericData.Record(manifestListSchema)
    r.put("manifest_path", path)
    r.put("manifest_length", java.lang.Long.valueOf(length))
    r.put("partition_spec_id", specId)
    r.put("content", content)
    r.put("sequence_number", java.lang.Long.valueOf(seq))
    r.put("min_sequence_number", java.lang.Long.valueOf(minSeq.getOrElse(seq)))
    r.put("added_snapshot_id", java.lang.Long.valueOf(addedSnap))
    r.put("added_files_count", addedFiles)
    r.put("existing_files_count", existingFiles)
    r.put("deleted_files_count", deletedFiles)
    r.put("added_rows_count", java.lang.Long.valueOf(addedRows))
    r.put("existing_rows_count", java.lang.Long.valueOf(existingRows))
    r.put("deleted_rows_count", java.lang.Long.valueOf(deletedRows))
    // v3 row lineage: the base row id this (data) manifest's entries
    // assign from by inheritance; null pre-v3 and on delete manifests
    r.put("first_row_id",
      firstRowId.map(java.lang.Long.valueOf).orNull)
    r
  }

  /** One ADDED manifest entry for data file `file` (landed by
    * [[StagedFiles.land]] or described in place), recorded under its
    * `rel` path with `record_count` = the footer's row count and the
    * footer stats re-encoded through the spec's single-value
    * serialization under the TABLE's field ids. */
  private def dataFileEntry(file: StagedFiles.DataFile,
      schema: StructType, idByName: Map[String, Int],
      content: Int = 0, equalityIds: Seq[Int] = Nil,
      entrySchema: Schema = manifestSchema,
      partitionTuple: Seq[(String, Any)] = Nil): GenericRecord = {
    val rec = new GenericData.Record(entrySchema)
    rec.put("status", 1) // added
    rec.put("snapshot_id", null)
    val dfSchema = entrySchema.getField("data_file").schema()
    val dfr = new GenericData.Record(dfSchema)
    dfr.put("content", content)
    dfr.put("file_path", file.rel)
    dfr.put("file_format", "PARQUET")
    if (partitionTuple.nonEmpty) {
      val pr = new GenericData.Record(
        dfSchema.getField("partition").schema())
      partitionTuple.foreach { case (n, v) => pr.put(n, v) }
      dfr.put("partition", pr)
    }
    dfr.put("record_count", java.lang.Long.valueOf(file.rows))
    dfr.put("file_size_in_bytes", java.lang.Long.valueOf(file.bytes))
    val lower = new java.util.HashMap[String, ByteBuffer]()
    val upper = new java.util.HashMap[String, ByteBuffer]()
    val nulls = new java.util.HashMap[String, java.lang.Long]()
    schema.fields.foreach { f =>
      idByName.get(f.name).map(_.toString).foreach { id =>
        file.stats.get(f.name).foreach { cs =>
          // re-encode the footer stats through the SPEC's binary form
          def statVal(s: String): Any = f.dataType match {
            case IntegerType => s.toInt
            case LongType => s.toLong
            case FloatType => s.toFloat
            case DoubleType => s.toDouble
            case TimestampType | TimestampNTZType => s.toLong // micros
            case _ => s
          }
          cs.min.flatMap(m => encodeBound(f.dataType, statVal(m)))
            .foreach(b => lower.put(id, ByteBuffer.wrap(b)))
          cs.max.flatMap(m => encodeBound(f.dataType, statVal(m)))
            .foreach(b => upper.put(id, ByteBuffer.wrap(b)))
          // UNKNOWN footer counts (<0 sentinel) are omitted from the
          // manifest rather than serialized as a lie
          if (cs.nulls >= 0)
            nulls.put(id, java.lang.Long.valueOf(cs.nulls))
        }
      }
    }
    dfr.put("null_value_counts", nulls)
    dfr.put("lower_bounds", lower)
    dfr.put("upper_bounds", upper)
    if (equalityIds.nonEmpty) {
      val ids = new java.util.ArrayList[java.lang.Integer]()
      equalityIds.foreach(i => ids.add(java.lang.Integer.valueOf(i)))
      dfr.put("equality_ids", ids)
    }
    rec.put("data_file", dfr)
    rec
  }

  private def encodeBound(dt: DataType, v: Any): Option[Array[Byte]] = {
    def le(n: Int) = ByteBuffer.allocate(n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType => Some(le(4).putInt(v.asInstanceOf[Number]
        .intValue()).array())
      case LongType => Some(le(8).putLong(v.asInstanceOf[Number]
        .longValue()).array())
      case FloatType => Some(le(4).putFloat(v.asInstanceOf[Number]
        .floatValue()).array())
      case DoubleType => Some(le(8).putDouble(v.asInstanceOf[Number]
        .doubleValue()).array())
      // epoch micros (the spec's timestamp single-value form; footer
      // stats deliver the raw INT64)
      case TimestampType | TimestampNTZType => Some(le(8)
        .putLong(v.asInstanceOf[Number].longValue()).array())
      case StringType => Some(v.toString.getBytes(UTF_8))
      case _ => None
    }
  }

  /** Stage `df` as parquet with timestamps as INT64 MICROS — the only
    * timestamp encoding the Iceberg spec allows in data files (Spark's
    * INT96 default is non-conformant AND records no usable footer
    * stats, so ts columns would lose their manifest bounds). The conf
    * flip is scoped to the write and restored after. */
  private def stageParquet(df: org.apache.spark.sql.DataFrame,
      path: String, partitionCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    // geometry/geography columns stage as their WKB bytes — the v3
    // spec's parquet encoding, and the only one Spark's parquet
    // writer can produce (its native geo types have no parquet writer
    // leg in 4.1). The read side lifts them back above the scan
    // ([[IcebergMetaRead]]); every Iceberg write stages through this
    // function and lands through [[StagedFiles.land]].
    val staged = df.schema.fields
      .filter(f => isGeoType(f.dataType)).foldLeft(df)((cur, f) =>
        cur.withColumn(f.name, org.apache.spark.sql.functions
          .expr(s"st_asbinary(`${f.name}`)")))
    val key = "spark.sql.parquet.outputTimestampType"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try {
      val w = staged.write.mode("errorifexists")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*)
       else w).parquet(path)
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def iceTypeOf(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case DateType => "date"
    case TimestampType => "timestamptz"
    case TimestampNTZType => "timestamp"
    case StringType => "string"
    case BinaryType => "binary"
    // v3 only — [[writeFixture]] gates the format version
    case VariantType => "variant"
    // v3 only, like variant; bare spellings carry the spec defaults
    // (CRS OGC:CRS84 ⇔ Spark srid 4326, geography edges spherical)
    case g: GeometryType =>
      if (g.srid == 4326) "geometry" else s"geometry(EPSG:${g.srid})"
    case g: GeographyType =>
      if (g.srid == 4326) "geography" else s"geography(EPSG:${g.srid})"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case other => throw new UnsupportedOperationException(
      s"iceberg-meta fixture: type $other not supported")
  }

  /** Schema-fields JSON for [[writeFixture]] with DEPTH-FIRST field
    * id assignment (Iceberg's fresh-table order — each field's id
    * precedes its nested members', siblings follow), starting past
    * `start` (0 for a fresh table; the document's `last-column-id`
    * when [[evolveMirrorSchema]] mints ids for ADDED columns). Struct
    * nesting supported; list/map refuse in [[iceTypeOf]]. Returns
    * (fields JSON, last assigned id, top-level name → id). */
  private def fixtureFieldsJson(st: StructType, start: Int = 0)
      : (String, Int, Map[String, Int]) = {
    var counter = start
    val top = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def typeJson(dt: DataType): String = dt match {
      case s: StructType =>
        s.fields.map(fieldJson(_, topLevel = false))
          .mkString("""{"type":"struct","fields":[""", ",", "]}")
      case other => "\"" + iceTypeOf(other) + "\""
    }
    def fieldJson(f: StructField, topLevel: Boolean): String = {
      counter += 1
      if (topLevel) top(f.name) = counter
      val id = counter
      s"""{"id":$id,"name":"${f.name}","required":${!f.nullable},""" +
        s""""type":${typeJson(f.dataType)}}"""
    }
    val json = st.fields.map(fieldJson(_, topLevel = true)).mkString(",")
    (json, counter, top.toMap)
  }

  /** Write `df` as a NEW spec-shaped Iceberg table at `root` (one
    * snapshot, one manifest; data files written by Spark with per-file
    * bounds harvested from parquet footers). With `partitionBy`, the
    * table's default spec carries one IDENTITY field per named column
    * (field-ids 1000+, per the spec), data files split one per tuple
    * with the source columns kept IN the payload, and every manifest
    * entry records its `partition` record. Returns the snapshot id. */
  def writeFixture(df: org.apache.spark.sql.DataFrame, root: String,
      partitionBy: Seq[String] = Nil, formatVersion: Int = 2,
      summaryProps: Map[String, String] = Map.empty): Long = {
    val spark = df.sparkSession
    require(formatVersion == 2 || formatVersion == 3,
      s"iceberg-meta fixture: format-version $formatVersion not writable")
    require(formatVersion == 3 ||
      !df.schema.fields.exists(_.dataType == VariantType),
      "iceberg-meta fixture: variant columns require format-version 3")
    require(formatVersion == 3 ||
      !df.schema.fields.exists(f => isGeoType(f.dataType)),
      "iceberg-meta fixture: geometry/geography columns require " +
        "format-version 3")
    require(!IceCatalog.forRoot(root).tableExists(root),
      s"iceberg-meta fixture: $root already exists")
    gateMirrorWrite(root, "CREATE")
    val (fieldsJson, lastColumnId, fieldId) =
      fixtureFieldsJson(df.schema)
    val typeOf = df.schema.fields.map(f => f.name -> f.dataType).toMap
    // each spelling is a column name or transform(args...,col):
    //   "p" | "bucket(4,k)" | "truncate(3,s)" | "year(d)" | "month(d)"
    //   | "day(d)" — spec-conventional field names (col + suffix)
    val TwoArg = """(bucket|truncate)\((\d+)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\)""".r
    val OneArg = """(year|month|day|hour|void)\(([A-Za-z_][A-Za-z0-9_]*)\)""".r
    val specFields = partitionBy.zipWithIndex.map { case (spec, i) =>
      val (src, t) = spec.trim match {
        case TwoArg("bucket", n, c) => (c, IceTransform.Bucket(n.toInt))
        case TwoArg("truncate", w, c) => (c, IceTransform.Truncate(w.toInt))
        case OneArg(kind, c) => (c, IceTransform.parse(kind))
        case c => (c, IceTransform.Identity)
      }
      require(df.columns.contains(src),
        s"iceberg-meta fixture: partition source '$src' is not a column")
      // the spec defines no partition transform over geo types, and an
      // identity tuple of WKB bytes would be meaningless to pruning
      require(!isGeoType(typeOf(src)),
        s"iceberg-meta fixture: partition source '$src' is a " +
          "geometry/geography column — no spec transform exists")
      SpecField(src + t.suffix, 1000 + i, src, t)
    }
    val eSchema = manifestSchemaFor(specFields.map(f =>
      (f.name, f.fieldId, f.transform.resultType(typeOf(f.srcCol)))))
    val entries = landData(df, root, specFields, typeOf, "part").map {
      case (file, tuple) => dataFileEntry(file, df.schema, fieldId,
        entrySchema = eSchema, partitionTuple = tuple)
    }
    val snapId = math.abs(root.hashCode.toLong * 2654435761L) + 1
    val manifestRel = s"metadata/snap-$snapId-m0.avro"
    writeAvro(Paths.get(root, manifestRel), eSchema, entries)
    val listRel = s"metadata/snap-$snapId.avro"
    val rows = entries.map(e => asLong(e.get("data_file")
      .asInstanceOf[GenericRecord].get("record_count"))).sum
    writeAvro(Paths.get(root, listRel), manifestListSchema, Seq(
      manifestListRow(manifestRel,
        Files.size(Paths.get(root, manifestRel)), 0, 1L, snapId,
        entries.size, 0, rows, 0L,
        // v3 row lineage: the creating snapshot assigns ids [0, rows)
        firstRowId = if (formatVersion == 3) Some(0L) else None)))
    val fields = fieldsJson
    val specJson = specFields.map(f =>
      s"""{"name":"${f.name}","transform":"${f.transform.json}",""" +
        s""""source-id":${fieldId(f.srcCol)},"field-id":${f.fieldId}}""")
      .mkString(",")
    // v3 row lineage (spec, "Row Lineage"): the table's next-row-id
    // high-water mark, and each snapshot's first-row-id — this single
    // creating snapshot owns ids [0, rows)
    val v3Table =
      if (formatVersion == 3) s""""next-row-id":$rows,""" else ""
    val v3Snap =
      if (formatVersion == 3) s""""first-row-id":0,""" else ""
    val nowMs = System.currentTimeMillis()
    val metaJson =
      s"""{"format-version":$formatVersion,
         |"table-uuid":"${java.util.UUID.randomUUID()}",
         |"location":"$root","last-sequence-number":1,
         |"last-updated-ms":$nowMs,
         |"last-column-id":$lastColumnId,
         |$v3Table
         |"current-schema-id":0,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[$fields]}],
         |"default-spec-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[$specJson]}],
         |"last-partition-id":${999 + specFields.size},
         |"default-sort-order-id":0,
         |"sort-orders":[{"order-id":0,"fields":[]}],
         |"current-snapshot-id":$snapId,
         |"refs":{"main":{"snapshot-id":$snapId,"type":"branch"}},
         |"snapshot-log":[{"timestamp-ms":$nowMs,"snapshot-id":$snapId}],
         |"snapshots":[{"snapshot-id":$snapId,"sequence-number":1,
         |  $v3Snap
         |  "timestamp-ms":$nowMs,
         |  "manifest-list":"$listRel",
         |  "summary":{"operation":"append"${summaryProps.toSeq
            .sortBy(_._1).map { case (k, v2) =>
              // Jackson-escaped: a checkpoint path with a quote or
              // backslash must not corrupt the metadata document
              s",${mapper.writeValueAsString(k)}:" +
                mapper.writeValueAsString(v2) }
            .mkString}},"schema-id":0}]}"""
        .stripMargin
    IceCatalog.forRoot(root).create(root, metaJson.getBytes(UTF_8))
    snapId
  }

  /** CONVERT a Delta table to Iceberg, ZERO-COPY (the xtable shape):
    * publish a spec-shaped Iceberg metadata tree at `dst` whose
    * single snapshot references the Delta table's CURRENT live data
    * files by absolute path — no data moves, and the source table
    * keeps working untouched (the two metadata trees share immutable
    * parquet). Per-file bounds are harvested from the parquet
    * footers (one footer read per file — one-time conversion
    * planning I/O), so Iceberg readers get full stats pruning, often
    * better than the source's own.
    *
    * Refuses what a zero-copy conversion cannot represent
    * TRUTHFULLY: deletion vectors (rows hidden by descriptors the
    * Iceberg tree would not carry — REORG PURGE first), column
    * mapping (files store physical names the Iceberg schema would
    * not resolve), and a partitioned layout (Hive-style Delta files
    * do NOT store the partition columns, which Iceberg data files
    * must — OPTIMIZE to an unpartitioned copy first). Returns the
    * new table's snapshot id. */
  def importDelta(spark: SparkSession, deltaSrc: String,
      dst: String): Long = {
    val snap = DeltaLog.snapshot(spark, deltaSrc)
    require(snap.adds.forall(_.deletionVector.isEmpty),
      s"iceberg-meta: $deltaSrc carries deletion vectors — their " +
        "hidden rows cannot be represented zero-copy; REORG PURGE " +
        "(compact) the table first")
    require(snap.columnMapping.isEmpty,
      s"iceberg-meta: $deltaSrc is column-mapped — its files store " +
        "physical names; conversion would mis-resolve every column")
    require(snap.partitionColumns.isEmpty,
      s"iceberg-meta: $deltaSrc is partitioned (Hive layout — the " +
        "partition columns are NOT in the data files, which Iceberg " +
        "requires); compact to an unpartitioned copy first")
    require(!IceCatalog.forRoot(dst).tableExists(dst),
      s"iceberg-meta: $dst already exists")
    // variant is a v3-ONLY Iceberg type and this conversion publishes
    // a v2 document — admitting it would be spec-invalid metadata
    // real engines reject
    require(!DeltaLog.hasVariantType(snap.schema),
      s"iceberg-meta: $deltaSrc has variant columns — a zero-copy " +
        "conversion publishes format-version 2, which has no variant " +
        "type; rewrite through the v3 write path instead")
    val schema = snap.schema
    val (_, _, fieldId) = fixtureFieldsJson(schema)
    val srcRoot = Paths.get(deltaSrc).toAbsolutePath.normalize
    val entries = snap.adds.sortBy(_.path).map { a =>
      val p = Paths.get(a.path)
      val abs = (if (p.isAbsolute) p else srcRoot.resolve(p)).normalize
      dataFileEntry(StagedFiles.describe(spark, abs, abs.toString),
        schema, fieldId)
    }
    publishSingleSnapshotTable(dst, schema, entries)
  }

  /** Publish a NEW unpartitioned v2 table at `root` whose single
    * `append` snapshot carries `entries` (already-built ADDED
    * manifest rows; file paths may be table-relative or absolute) —
    * the metadata tail [[writeFixture]] and [[importDelta]] share. */
  private def publishSingleSnapshotTable(root: String,
      schema: StructType, entries: Seq[GenericRecord],
      // override: (fields json, last column id) with EXPLICIT ids —
      // the mapped-mirror path; None = fresh depth-first assignment
      fieldsOverride: Option[(String, Int)] = None,
      properties: Map[String, String] = Map.empty): Long = {
    gateMirrorWrite(root, "CREATE")
    val snapId = math.abs(root.hashCode.toLong * 2654435761L) + 1
    val manifestRel = s"metadata/snap-$snapId-m0.avro"
    writeAvro(Paths.get(root, manifestRel), manifestSchema, entries)
    val listRel = s"metadata/snap-$snapId.avro"
    val rows = entries.map(e => asLong(e.get("data_file")
      .asInstanceOf[GenericRecord].get("record_count"))).sum
    writeAvro(Paths.get(root, listRel), manifestListSchema, Seq(
      manifestListRow(manifestRel,
        Files.size(Paths.get(root, manifestRel)), 0, 1L, snapId,
        entries.size, 0, rows, 0L)))
    val (fields, lastColumnId) = fieldsOverride.getOrElse {
      val (f, last, _) = fixtureFieldsJson(schema)
      (f, last)
    }
    val propsJson =
      if (properties.isEmpty) ""
      else properties.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${jsonString(k)}:${jsonString(v)}"
      }.mkString("\"properties\":{", ",", "},")
    val nowMs = System.currentTimeMillis()
    val metaJson =
      s"""{"format-version":2,
         |"table-uuid":"${java.util.UUID.randomUUID()}",
         |"location":"$root","last-sequence-number":1,
         |"last-updated-ms":$nowMs,
         |"last-column-id":$lastColumnId,
         |$propsJson
         |"current-schema-id":0,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[$fields]}],
         |"default-spec-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[]}],
         |"last-partition-id":999,
         |"default-sort-order-id":0,
         |"sort-orders":[{"order-id":0,"fields":[]}],
         |"current-snapshot-id":$snapId,
         |"refs":{"main":{"snapshot-id":$snapId,"type":"branch"}},
         |"snapshot-log":[{"timestamp-ms":$nowMs,"snapshot-id":$snapId}],
         |"snapshots":[{"snapshot-id":$snapId,"sequence-number":1,
         |  "timestamp-ms":$nowMs,
         |  "manifest-list":"$listRel",
         |  "summary":{"operation":"append"},"schema-id":0}]}"""
        .stripMargin
    IceCatalog.forRoot(root).create(root, metaJson.getBytes(UTF_8))
    snapId
  }

  /** UniForm SYNC primitive ([[DeltaLog]]'s icebergCompatV2 writer
    * obligation): advance — or create — the Iceberg metadata tree at
    * `root` so its CURRENT snapshot references exactly `files`
    * (absolute path, recorded path), over the SAME parquet the
    * foreign format's log references. Zero data copied; the
    * incremental form of the one-shot [[importDelta]] conversion:
    *
    *  - no tree yet → a single-snapshot v2 table (first UniForm
    *    commit after enablement);
    *  - tree exists → DIFF against the current snapshot's recorded
    *    paths: new files land as one ADDED manifest (per-file footer
    *    bounds harvested — planning I/O proportional to the COMMIT,
    *    not the table), files gone from the source restate their
    *    manifests with survivors as EXISTING under original
    *    snapshot/sequence numbers (retired entries as DELETED),
    *    untouched manifests carry verbatim;
    *  - no difference → None, no empty commits (metadata-only Delta
    *    commits leave the Iceberg tree alone).
    *
    * Gates, loudly: the mirrored schema must still match the tree's
    * (names + types, nullability-insensitive — schema evolution needs
    * a fresh CONVERT), the tree must be this sync's own shape
    * (unpartitioned, no delete files — a foreign-written tree with
    * deletes is not a pure mirror). Returns the new snapshot id. */
  def syncExternal(spark: SparkSession, root: String,
      schema: StructType, files: Seq[(Path, String)],
      // COLUMN-MAPPED source (Delta icebergCompatV2's id-mode
      // contract): logical name → (field id = the Delta
      // column-mapping id, physical parquet column name). The mirror
      // then publishes ids EQUAL to the mapping ids plus the spec's
      // `schema.name-mapping.default` property, so readers resolve
      // the physically-named parquet columns; empty = unmapped.
      mapping: Map[String, (Int, String)] = Map.empty)
      : Option[Long] = {
    inSync.set(true)
    try syncExternal0(spark, root, schema, files, mapping)
    finally inSync.set(false)
  }

  /** The `schema.name-mapping.default` JSON for `mapping` — one
    * `{"field-id", "names": [physical]}` entry per mapped column. */
  private def nameMappingJson(
      mapping: Map[String, (Int, String)]): String =
    mapping.values.toSeq.sortBy(_._1).map { case (id, phys) =>
      s"""{"field-id":$id,"names":[${jsonString(phys)}]}"""
    }.mkString("[", ",", "]")

  private def jsonString(s: String): String =
    mapper.writeValueAsString(
      com.fasterxml.jackson.databind.node.TextNode.valueOf(s))

  /** Fields JSON for a MAPPED mirror schema: EXPLICIT field ids (the
    * Delta column-mapping ids — real icebergCompatV2's id contract),
    * flat columns only (the gate refuses nested mapped shapes).
    * Returns (fields json, last column id). */
  private def mappedFieldsJson(schema: StructType,
      mapping: Map[String, (Int, String)]): (String, Int) = {
    val json = schema.fields.map { f =>
      val (id, _) = mapping.getOrElse(f.name,
        throw new IllegalArgumentException(
          s"iceberg-meta sync: column '${f.name}' has no mapping id"))
      s"""{"id":$id,"name":${jsonString(f.name)},""" +
        s""""required":${!f.nullable},"type":"${iceTypeOf(f.dataType)}"}"""
    }.mkString(",")
    (json, mapping.values.map(_._1).max)
  }

  /** Nullability-insensitive type shape — the mirror-schema compare
    * cares about names and types, not required-ness (the read fill
    * restores totality above the scan). */
  private def normType(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      StructField(f.name, normType(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(normType(e), containsNull = true)
    case MapType(k, v, _) =>
      MapType(normType(k), normType(v), valueContainsNull = true)
    case o => o
  }

  /** Why the mirror at `root` CANNOT follow a source-schema drift to
    * `next` (None = it can): ADDED nullable top-level columns and
    * DROPPED columns are metadata-only Iceberg schema evolution
    * ([[evolveMirrorSchema]] publishes them); a changed type or a
    * reshaped struct would need per-file rewrites no incremental sync
    * can do, and a REQUIRED addition would be a lie over every
    * pre-evolution file. */
  private def mirrorDriftError(iceSchema: StructType,
      next: StructType): Option[String] = {
    val byName = iceSchema.fields.map(f => f.name -> f).toMap
    next.fields.iterator.flatMap { f =>
      byName.get(f.name) match {
        case Some(old)
            if normType(old.dataType) != normType(f.dataType) =>
          Some(s"column '${f.name}' changed type " +
            s"${old.dataType.simpleString} → " +
            s"${f.dataType.simpleString} — not expressible as " +
            "incremental Iceberg schema evolution; re-run the " +
            "conversion")
        case None if !f.nullable =>
          Some(s"new column '${f.name}' is non-nullable — every " +
            "pre-evolution mirror file lacks it, so the mirror " +
            "can only add it as optional")
        case _ => None
      }
    }.toSeq.headOption
  }

  /** PRE-COMMIT seam for [[DeltaLog]]'s UniForm gate: would
    * [[syncExternal]] be able to mirror a commit whose post-commit
    * schema is `next`? Throws (BEFORE the Delta commit lands) when
    * the drift is one schema evolution cannot express — without this
    * the Delta commit would land durably and then the post-commit
    * sync's refusal would read as "nothing happened", the exact
    * failure mode the pre-commit gate exists to prevent. No tree yet
    * = nothing to drift from. */
  def requireMirrorSyncable(root: String, next: StructType,
      mapping: Map[String, (Int, String)] = Map.empty): Unit = {
    if (!IceCatalog.forRoot(root).tableExists(root)) return
    val (_, meta) = currentMeta(root)
    val (iceSchema, _) = schemaOf(meta)
    if (normType(iceSchema) == normType(next)) return
    val err =
      if (mapping.isEmpty) mirrorDriftError(iceSchema, next)
      else mirrorDriftErrorMapped(meta, next, mapping)
    err.foreach(e =>
      throw new IllegalArgumentException(
        s"delta-log uniform: the prospective schema of $root cannot " +
          s"be mirrored — $e"))
  }

  /** BY-ID drift classification for a MAPPED source (ids are the
    * stable identity — a rename keeps its id and is expressible; a
    * type change or a required addition is not). */
  private def mirrorDriftErrorMapped(meta: JsonNode, next: StructType,
      mapping: Map[String, (Int, String)]): Option[String] = {
    val curNode =
      if (meta.hasNonNull("schemas")) {
        val cur = meta.get("current-schema-id").asInt()
        meta.get("schemas").elements().asScala
          .find(_.get("schema-id").asInt() == cur).get
      } else meta.get("schema")
    val oldById = curNode.get("fields").elements().asScala.toSeq
      .map(f => f.get("id").asInt() -> f).toMap
    next.fields.iterator.flatMap { f =>
      mapping.get(f.name) match {
        case None => Some(s"column '${f.name}' carries no " +
          "column-mapping id — not a shape the id-based mirror " +
          "evolution can follow")
        case Some((id, _)) => oldById.get(id) match {
          case Some(old) if normType(toSparkType(old.get("type"))) !=
              normType(f.dataType) =>
            Some(s"column '${f.name}' (field id $id) changed type — " +
              "not expressible as incremental Iceberg schema " +
              "evolution; re-run the conversion")
          case None if !f.nullable =>
            Some(s"new column '${f.name}' is non-nullable — every " +
              "pre-evolution mirror file lacks it")
          case _ => None
        }
      }
    }.toSeq.headOption
  }

  /** Mapped-mirror schema evolution, BY FIELD ID: surviving ids keep
    * their identity under the (possibly renamed) logical names,
    * additions land with their mapping ids, dropped ids fall out —
    * and the `schema.name-mapping.default` property restates so the
    * physical parquet names keep resolving. One metadata-only commit
    * (add-schema + set-current-schema + set-properties via the REST
    * diff). */
  private def evolveMirrorSchemaMapped(root: String, next: StructType,
      mapping: Map[String, (Int, String)]): Unit = {
    val (v, meta0) = currentMeta(root)
    mirrorDriftErrorMapped(meta0, next, mapping).foreach(e =>
      throw new IllegalArgumentException(
        s"iceberg-meta sync: schema drift at $root not mirrorable — $e"))
    val meta = meta0
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val schemas = meta.withArray[
      com.fasterxml.jackson.databind.node.ArrayNode]("schemas")
    val newSchemaId = schemas.elements().asScala
      .map(_.get("schema-id").asInt()).max + 1
    val node = mapper.createObjectNode()
    node.put("type", "struct")
    node.put("schema-id", newSchemaId)
    val arr = node.putArray("fields")
    next.fields.foreach { f =>
      val (id, _) = mapping(f.name)
      val fn = mapper.createObjectNode()
      fn.put("id", id)
      fn.put("name", f.name)
      fn.put("required", !f.nullable)
      fn.put("type", iceTypeOf(f.dataType))
      arr.add(fn)
    }
    schemas.add(node)
    meta.put("current-schema-id", newSchemaId)
    meta.put("last-column-id", math.max(
      meta.path("last-column-id").asInt(0),
      mapping.values.map(_._1).max))
    val props =
      if (meta.hasNonNull("properties"))
        meta.get("properties")
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      else meta.putObject("properties")
    props.put("schema.name-mapping.default", nameMappingJson(mapping))
    meta.put("last-updated-ms", System.currentTimeMillis())
    commitMeta(root, v, meta, meta0)
  }

  /** Publish the mirror's evolved schema as one metadata-only commit
    * (the REST diff expresses it as add-schema + set-current-schema):
    * surviving columns KEEP their field ids (deep-copied nodes, nested
    * ids included), added columns mint fresh ids past `last-column-id`
    * (depth-first, Iceberg's assignment order), dropped columns fall
    * out of the new schema (their ids are never reused). The snapshot
    * does not move — data changes ride the subsequent sync commit. */
  private def evolveMirrorSchema(root: String,
      next: StructType): Unit = {
    val (v, meta0) = currentMeta(root)
    val (iceSchema, _) = schemaOf(meta0)
    mirrorDriftError(iceSchema, next).foreach(e =>
      throw new IllegalArgumentException(
        s"iceberg-meta sync: schema drift at $root not mirrorable — $e"))
    val meta = meta0
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val schemas = meta.withArray[
      com.fasterxml.jackson.databind.node.ArrayNode]("schemas")
    val cur = meta.get("current-schema-id").asInt()
    val curNode = schemas.elements().asScala
      .find(_.get("schema-id").asInt() == cur)
      .getOrElse(throw new IllegalStateException(
        s"iceberg-meta: current-schema-id $cur not in $root"))
    val oldFields = curNode.get("fields").elements().asScala.toSeq
      .map(f => f.get("name").asText() -> f).toMap
    var lastId = meta.path("last-column-id").asInt(0)
    val newSchemaId = schemas.elements().asScala
      .map(_.get("schema-id").asInt()).max + 1
    val node = mapper.createObjectNode()
    node.put("type", "struct")
    node.put("schema-id", newSchemaId)
    val arr = node.putArray("fields")
    next.fields.foreach { f =>
      oldFields.get(f.name) match {
        case Some(old) => arr.add(old.deepCopy[JsonNode]())
        case None =>
          val (json, end, _) =
            fixtureFieldsJson(StructType(Seq(f)), start = lastId)
          lastId = end
          arr.add(mapper.readTree(json))
      }
    }
    schemas.add(node)
    meta.put("current-schema-id", newSchemaId)
    meta.put("last-column-id", lastId)
    meta.put("last-updated-ms", System.currentTimeMillis())
    commitMeta(root, v, meta, meta0)
  }

  private def syncExternal0(spark: SparkSession, root: String,
      schema: StructType, files: Seq[(Path, String)],
      mapping: Map[String, (Int, String)]): Option[Long] = {
    def norm(dt: DataType): DataType = normType(dt)
    // MAPPED source: bounds are harvested from footers that carry
    // PHYSICAL column names, keyed by the mapping ids
    val statsSchema =
      if (mapping.isEmpty) schema
      else StructType(schema.fields.map(f =>
        f.copy(name = mapping(f.name)._2, metadata =
          org.apache.spark.sql.types.Metadata.empty)))
    val statsIds: Map[String, Int] =
      mapping.map { case (_, (id, phys)) => phys -> id }
    if (!IceCatalog.forRoot(root).tableExists(root)) {
      if (mapping.isEmpty) {
        val (_, _, topIds) = fixtureFieldsJson(schema)
        val entries = files.map { case (abs, rel) =>
          dataFileEntry(StagedFiles.describe(spark, abs, rel),
            schema, topIds) }
        Some(publishSingleSnapshotTable(root, schema, entries))
      } else {
        val entries = files.map { case (abs, rel) =>
          dataFileEntry(StagedFiles.describe(spark, abs, rel),
            statsSchema, statsIds) }
        Some(publishSingleSnapshotTable(root, schema, entries,
          fieldsOverride = Some(mappedFieldsJson(schema, mapping)),
          properties = Map(
            "schema.name-mapping.default" -> nameMappingJson(mapping))))
      }
    } else {
      requireKnownVersion(currentMeta(root)._2)
      // source schema drifted from the mirror's → publish the evolved
      // schema FIRST (metadata-only commit; keeps surviving field ids,
      // mints fresh ones for additions — throws on inexpressible
      // drift, which the Delta-side pre-commit gate already refused).
      // A MAPPED source evolves BY ID (a Delta RENAME keeps id and
      // physical name — the mirror column renames with it).
      if (normType(schemaOf(currentMeta(root)._2)._1) !=
          normType(schema)) {
        if (mapping.isEmpty) evolveMirrorSchema(root, schema)
        else evolveMirrorSchemaMapped(root, schema, mapping)
      }
      val (v, meta) = currentMeta(root)
      val (iceSchema, nameById) = schemaOf(meta)
      require(norm(iceSchema) == norm(schema),
        s"iceberg-meta sync: the source schema of $root still differs " +
          "from the mirrored Iceberg schema after evolution — re-run " +
          "the conversion")
      require(currentSpecFields(meta) == 0,
        s"iceberg-meta sync: $root has a partitioned spec — not a " +
          "tree this sync maintains")
      val cur = snapshot(root)
      require(cur.deletes.isEmpty && cur.eqDeletes.isEmpty &&
        cur.dvs.isEmpty,
        s"iceberg-meta sync: $root carries delete files — not a pure " +
          "mirror tree; re-run the conversion")
      val iceSet = cur.files.map(_.recordedPath).toSet
      val srcSet = files.map(_._2).toSet
      val added = files.filterNot(f => iceSet(f._2))
      val removed = iceSet -- srcSet
      if (added.isEmpty && removed.isEmpty) None
      else {
        val idByName = nameById.map(_.swap)
        val sid = meta.get("current-snapshot-id").asLong()
        val snapNode = meta.get("snapshots").elements().asScala
          .find(_.get("snapshot-id").asLong() == sid)
          .getOrElse(throw new IllegalStateException(
            s"iceberg-meta: current snapshot $sid not in $root"))
        val listRows = readAvro(
          resolvePath(root, snapNode.get("manifest-list").asText()))
        val seq = (if (meta.hasNonNull("last-sequence-number"))
          meta.get("last-sequence-number").asLong() else 0L) + 1
        val snapId = java.util.UUID.randomUUID()
          .getLeastSignificantBits.abs.max(1L)
        val carried =
          scala.collection.mutable.ListBuffer.empty[GenericRecord]
        val rewrite =
          scala.collection.mutable.ListBuffer.empty[GenericRecord]
        var existingFiles, deletedFiles = 0
        var existingRows, deletedRows = 0L
        var minEntrySeq = Long.MaxValue
        listRows.foreach { row =>
          val mSeq = fieldOpt(row, "sequence_number").map(asLong)
            .getOrElse(0L)
          val mSnap = fieldOpt(row, "added_snapshot_id").map(asLong)
            .getOrElse(sid)
          val live = readAvro(resolvePath(root,
            asStr(row.get("manifest_path"))))
            .filter(e => asLong(e.get("status")) != 2)
          val (hit, kept) = live.partition(e => removed.contains(
            asStr(e.get("data_file").asInstanceOf[GenericRecord]
              .get("file_path"))))
          if (hit.isEmpty) carried += manifestListRow(
            asStr(row.get("manifest_path")),
            asLong(row.get("manifest_length")),
            fieldOpt(row, "partition_spec_id").map(asLong)
              .getOrElse(0L).toInt,
            mSeq, mSnap,
            fieldOpt(row, "added_files_count").map(asLong)
              .getOrElse(0L).toInt,
            fieldOpt(row, "existing_files_count").map(asLong)
              .getOrElse(0L).toInt,
            fieldOpt(row, "added_rows_count").map(asLong).getOrElse(0L),
            fieldOpt(row, "existing_rows_count").map(asLong)
              .getOrElse(0L),
            minSeq = fieldOpt(row, "min_sequence_number").map(asLong))
          else {
            def entrySeq(e: GenericRecord): Long =
              fieldOpt(e, "sequence_number").map(asLong).getOrElse(mSeq)
            def entrySnap(e: GenericRecord): Long =
              fieldOpt(e, "snapshot_id").map(asLong).getOrElse(mSnap)
            kept.foreach { e =>
              val s = entrySeq(e)
              minEntrySeq = minEntrySeq.min(s)
              existingFiles += 1
              existingRows += asLong(e.get("data_file")
                .asInstanceOf[GenericRecord].get("record_count"))
              rewrite += carriedEntry(copyDataFile(
                e.get("data_file").asInstanceOf[GenericRecord]),
                status = 0, entrySnap(e), s)
            }
            hit.foreach { e =>
              val s = entrySeq(e)
              minEntrySeq = minEntrySeq.min(s)
              deletedFiles += 1
              deletedRows += asLong(e.get("data_file")
                .asInstanceOf[GenericRecord].get("record_count"))
              rewrite += carriedEntry(copyDataFile(
                e.get("data_file").asInstanceOf[GenericRecord]),
                status = 2, snapId, s)
            }
          }
        }
        val newRows =
          scala.collection.mutable.ListBuffer.empty[GenericRecord]
        var mi = 0
        if (rewrite.nonEmpty) {
          val rel = s"metadata/snap-$snapId-r$mi.avro"
          mi += 1
          writeAvro(Paths.get(root, rel), manifestSchema, rewrite.toSeq)
          newRows += manifestListRow(rel,
            Files.size(Paths.get(root, rel)), 0, seq, snapId,
            0, existingFiles, 0L, existingRows,
            minSeq = Some(if (minEntrySeq == Long.MaxValue) seq
              else minEntrySeq),
            deletedFiles = deletedFiles, deletedRows = deletedRows)
        }
        if (added.nonEmpty) {
          val entries = added.map { case (abs, rel) =>
            val file = StagedFiles.describe(spark, abs, rel)
            if (mapping.isEmpty) dataFileEntry(file, schema, idByName)
            else dataFileEntry(file, statsSchema, statsIds) }
          val addedRows = entries.map(e => asLong(e.get("data_file")
            .asInstanceOf[GenericRecord].get("record_count"))).sum
          val rel = s"metadata/snap-$snapId-m$mi.avro"
          writeAvro(Paths.get(root, rel), manifestSchema, entries)
          newRows += manifestListRow(rel,
            Files.size(Paths.get(root, rel)), 0, seq, snapId,
            entries.size, 0, addedRows, 0L)
        }
        val listRel = s"metadata/snap-$snapId.avro"
        writeAvro(Paths.get(root, listRel), manifestListSchema,
          carried.toSeq ++ newRows.toSeq)
        Some(commitSnapshot(root, v, meta, snapId, seq, listRel,
          if (removed.isEmpty) "append" else "overwrite"))
      }
    }
  }

  /** Transactionally APPEND `df` as a new snapshot of the EXISTING
    * Iceberg table at `root` (one written by [[writeFixture]] or by
    * real Iceberg tooling). The commit publishes through the CATALOG
    * seam ([[IceCatalog.commit]] — CAS semantics: exactly one of two
    * racing writers wins, the loser gets
    * [[VersionedTable.ConcurrentCommitException]] and can re-read +
    * retry; the default [[FsIceCatalog]] is the HadoopCatalog
    * conditional-put convention, a REST catalog is a client away). Every field of the current metadata
    * document is PRESERVED verbatim (deep-copied JSON tree) except the
    * append's own mutations: `snapshots` += one, `current-snapshot-id`,
    * `last-sequence-number`, `last-updated-ms`; prior snapshots stay
    * time-travelable through `option("snapshotId", ...)`.
    *
    * The new manifest list carries every manifest of the current
    * snapshot forward (re-emitted with their original spec-id /
    * added-snapshot-id) plus one new manifest of ADDED entries whose
    * bounds use the TABLE's field ids. A PARTITIONED default spec is
    * honored for IDENTITY transforms — staged files split one per
    * partition tuple, every entry records its `partition` record, and
    * the identity source columns stay IN the data files (spec
    * behavior); bucket/truncate/temporal transforms refuse. Gates:
    * format-version ≤ 2, df schema must equal the table schema by
    * name and type. Returns the new snapshot id. */
  def append(df: org.apache.spark.sql.DataFrame, root: String,
      toBranch: Option[String] = None,
      summaryProps: Map[String, String] = Map.empty): Long = {
    val spark = df.sparkSession
    gateMirrorWrite(root, "APPEND") // early: nothing stages on a mirror
    val (v, meta) = currentMeta(root)
    // writing "to main" IS the normal write (Iceberg's toBranch rule)
    val branch = toBranch.filter(_ != "main")
    requireKnownVersion(meta)
    val (schema, nameById) = schemaOf(meta)
    // a PARTITIONED default spec is honored: the staged files split
    // per tuple (transforms evaluated per the spec) and each entry
    // records its partition; unsupported transforms refuse inside
    // the parser
    val specFields = specFieldsOf(meta, nameById)
    val tbl = schema.fields.map(f => f.name -> f.dataType).toMap
    val bad = df.schema.fields.filter(f => !tbl.get(f.name).contains(f.dataType))
    require(bad.isEmpty && df.schema.length == schema.length,
      s"iceberg-meta: append schema mismatch on ${
        (bad.map(_.name) ++ (if (df.schema.length == schema.length) Nil
        else Seq(s"arity ${df.schema.length}!=${schema.length}"))).mkString(", ")}")
    val idByName = nameById.map(_.swap)
    val specId = if (meta.hasNonNull("default-spec-id"))
      meta.get("default-spec-id").asInt() else 0

    // data files: staged per partition tuple when the spec has one,
    // landed under data/ with unique names
    val ordered = df.select(schema.fieldNames.head, schema.fieldNames.tail: _*)
    val eSchema = manifestSchemaFor(specFields.map(f =>
      (f.name, f.fieldId, f.transform.resultType(tbl(f.srcCol)))))
    // a zero-row append lands no file and still commits its snapshot
    // (the streaming sink's epoch mark rides in the summary)
    val entries = landData(ordered, root, specFields, tbl, "part").map {
      case (file, tuple) => dataFileEntry(file, schema, idByName,
        entrySchema = eSchema, partitionTuple = tuple)
    }
    val addedRows = entries.map(e => asLong(e.get("data_file")
      .asInstanceOf[GenericRecord].get("record_count"))).sum

    val seq = (if (meta.hasNonNull("last-sequence-number"))
      meta.get("last-sequence-number").asLong() else 0L) + 1
    val snapId = java.util.UUID.randomUUID().getLeastSignificantBits
      .abs.max(1L)
    val manifestRel = s"metadata/snap-$snapId-m0.avro"
    writeAvro(Paths.get(root, manifestRel), eSchema, entries)

    // carry the base snapshot's manifests forward + the new one (the
    // base is the BRANCH head for a branch append)
    val listRel = s"metadata/snap-$snapId.avro"
    // v3 row lineage: the new manifest assigns ids from the table's
    // next-row-id (inheritance; entry first_row_id stays null)
    val rowIdBase: Option[Long] =
      if (meta.hasNonNull("next-row-id"))
        Some(meta.get("next-row-id").asLong()) else None
    writeAvro(Paths.get(root, listRel), manifestListSchema,
      carriedManifests(root, meta,
        branch.flatMap(b => refsOf(meta).get(b).map(_._1)))
        :+ manifestListRow(manifestRel,
        Files.size(Paths.get(root, manifestRel)), specId, seq, snapId,
        entries.size, 0, addedRows, 0L, firstRowId = rowIdBase))
    commitSnapshot(root, v, meta, snapId, seq, listRel, "append",
      toBranch = branch, addedRows = addedRows,
      summaryProps = summaryProps)
  }

  /** The HIGHEST `streaming-epoch-id` any snapshot's summary records
    * for `appId` — the exactly-once handshake the streaming sink keys
    * on (the Iceberg shape of Delta's SetTransaction; iceberg-spark
    * records the same dedup state in snapshot summaries).
    * [[expireSnapshots]] PINS each app's highest mark (like a ref),
    * so the mark survives maintenance that lands between a crash and
    * the restart replay. */
  def lastCommittedEpoch(root: String, appId: String): Option[Long] = {
    val (_, meta) = currentMeta(root)
    if (!meta.hasNonNull("snapshots")) return None
    meta.get("snapshots").elements().asScala.flatMap { s =>
      Option(s.get("summary"))
        .filter(_.hasNonNull("streaming-app-id"))
        .filter(_.get("streaming-app-id").asText() == appId)
        .flatMap(su => Option(su.get("streaming-epoch-id"))
          .filterNot(_.isNull).map(_.asText().toLong))
    }.maxOption
  }

  /** Field count of the table's CURRENT (default) partition spec —
    * the write-path gate: this writer emits entries without partition
    * tuples, which only an unpartitioned spec's readers accept. */
  private def currentSpecFields(meta: JsonNode): Int =
    if (meta.hasNonNull("partition-specs")) {
      val cur = if (meta.hasNonNull("default-spec-id"))
        meta.get("default-spec-id").asInt() else 0
      meta.get("partition-specs").elements().asScala
        .find(_.get("spec-id").asInt() == cur)
        .map(_.get("fields").size()).getOrElse(0)
    } else if (meta.hasNonNull("partition-spec"))
      meta.get("partition-spec").size()
    else 0

  /** One partition transform this writer can EVALUATE — the stakes
    * are foreign readers' pruning: a wrong tuple value makes a real
    * Iceberg reader silently skip data, so every transform here
    * follows the spec exactly (the bucket hash is pinned to the
    * spec's published test vectors in IcebergTransformSpec; temporal
    * transforms count from the 1970 epoch, NOT calendar values). */
  private[sources] sealed trait IceTransform {
    /** The spec's transform string ("identity", "bucket[4]", ...). */
    def json: String
    /** Tuple value type for a source column of `src`. */
    def resultType(src: DataType): DataType
    /** The transform evaluated over the source column. */
    def apply(c: org.apache.spark.sql.Column, src: DataType)
        : org.apache.spark.sql.Column
    /** Spec-conventional field-name suffix ("" for identity). */
    def suffix: String
  }
  private[sources] object IceTransform {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{datediff, lit, month, pmod, substring, to_date, year}
    private def wrap(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      org.apache.spark.sql.GraftColumnBridge.column(e)
    private def unwrap(c: Column) =
      org.apache.spark.sql.GraftColumnBridge.expression(c)

    case object Identity extends IceTransform {
      val json = "identity"; val suffix = ""
      def resultType(src: DataType): DataType = src
      def apply(c: Column, src: DataType): Column = c
    }
    final case class Bucket(n: Int) extends IceTransform {
      val json = s"bucket[$n]"; val suffix = "_bucket"
      def resultType(src: DataType): DataType = src match {
        case IntegerType | LongType | DateType | StringType => IntegerType
        case other => throw new UnsupportedOperationException(
          s"iceberg-meta: bucket transform over $other is not supported")
      }
      def apply(c: Column, src: DataType): Column =
        wrap(graft.expressions.IcebergBucket(unwrap(c), n))
    }
    final case class Truncate(w: Int) extends IceTransform {
      val json = s"truncate[$w]"; val suffix = "_trunc"
      def resultType(src: DataType): DataType = src match {
        case IntegerType | LongType | StringType => src
        case other => throw new UnsupportedOperationException(
          s"iceberg-meta: truncate transform over $other is not supported")
      }
      def apply(c: Column, src: DataType): Column = src match {
        case StringType => substring(c, 1, w)
        // spec: v - (((v % W) + W) % W) — floors toward -inf
        case IntegerType => (c - pmod(c, lit(w))).cast("int")
        case _ => c - pmod(c, lit(w.toLong))
      }
    }
    sealed abstract class Temporal(val json: String, val suffix: String)
        extends IceTransform {
      def resultType(src: DataType): DataType = src match {
        case DateType => IntegerType
        case other => throw new UnsupportedOperationException(
          s"iceberg-meta: $json transform over $other is not supported " +
            "by this writer (DATE source columns only)")
      }
    }
    case object Year extends Temporal("year", "_year") {
      def apply(c: Column, src: DataType): Column =
        (year(c) - 1970).cast("int") // years FROM 1970, per spec
    }
    case object Month extends Temporal("month", "_month") {
      def apply(c: Column, src: DataType): Column =
        ((year(c) - 1970) * 12 + month(c) - 1).cast("int")
    }
    case object Day extends Temporal("day", "_day") {
      def apply(c: Column, src: DataType): Column =
        datediff(c, to_date(lit("1970-01-01"))).cast("int")
    }
    /** `hour`: hours from 1970-01-01 00:00:00 (spec) — TIMESTAMP
      * sources (a date has no hour). Spark's timestamp→long cast is
      * floorDiv to seconds; the pmod keeps pre-epoch values floored
      * toward -inf like the spec requires. */
    case object Hour extends IceTransform {
      val json = "hour"; val suffix = "_hour"
      def resultType(src: DataType): DataType = src match {
        case TimestampType => IntegerType
        case other => throw new UnsupportedOperationException(
          s"iceberg-meta: hour transform over $other is not supported " +
            "by this writer (TIMESTAMP source columns only)")
      }
      def apply(c: Column, src: DataType): Column = {
        val sec = c.cast("long")
        ((sec - pmod(sec, lit(3600L))) / 3600L).cast("int")
      }
    }
    /** `void`: always null, result type = source type (the spec's
      * drop-a-partition-field transform — old entries keep their
      * tuples, new files land under null). */
    case object Void extends IceTransform {
      val json = "void"; val suffix = "_null"
      def resultType(src: DataType): DataType = src
      def apply(c: Column, src: DataType): Column =
        wrap(org.apache.spark.sql.catalyst.expressions.Literal
          .create(null, src))
    }

    private val BucketRe = """bucket\[(\d+)\]""".r
    private val TruncRe = """truncate\[(\d+)\]""".r
    /** Parse the spec's transform string; unknown transforms refuse
      * loudly (writing a guessed tuple would corrupt pruning). */
    def parse(s: String): IceTransform = s match {
      case "identity" => Identity
      case BucketRe(n) => Bucket(n.toInt)
      case TruncRe(w) => Truncate(w.toInt)
      case "year" => Year
      case "month" => Month
      case "day" => Day
      case "hour" => Hour
      case "void" => Void
      case other => throw new UnsupportedOperationException(
        s"iceberg-meta: partition transform '$other' is not supported " +
          "by this writer — use an Iceberg runtime")
    }
  }

  private[sources] final case class SpecField(name: String, fieldId: Int,
      srcCol: String, transform: IceTransform)

  /** The spec-id of an UNPARTITIONED spec, adding one to `meta`
    * (mutated in place — pass a deep copy you then commit) when the
    * table has none. GLOBAL equality deletes are written under it:
    * the spec requires delete-manifest entries to carry THEIR spec's
    * tuple, and the empty tuple is the one an equality delete that
    * applies table-wide truthfully has. */
  private def ensureUnpartitionedSpec(
      meta: com.fasterxml.jackson.databind.node.ObjectNode): Int = {
    if (!meta.hasNonNull("partition-specs")) return 0
    val specs = meta.withArray[
      com.fasterxml.jackson.databind.node.ArrayNode]("partition-specs")
    specs.elements().asScala.find(_.get("fields").size() == 0) match {
      case Some(sp) => sp.get("spec-id").asInt()
      case None =>
        val next = specs.elements().asScala
          .map(_.get("spec-id").asInt()).max + 1
        val sp = mapper.createObjectNode()
        sp.put("spec-id", next)
        sp.putArray("fields")
        specs.add(sp)
        next
    }
  }

  /** The current (default) partition spec's fields, with their
    * transforms parsed — anything this writer cannot evaluate
    * refuses inside [[IceTransform.parse]]. */
  private def specFieldsOf(meta: JsonNode,
      nameById: Map[Int, String]): Seq[SpecField] =
    specFieldsOfId(meta, nameById,
      if (meta.hasNonNull("default-spec-id"))
        meta.get("default-spec-id").asInt() else 0)

  /** A NAMED spec's fields (spec evolution: each data file resolves
    * through the spec it was written with, not the current one). */
  private def specFieldsOfId(meta: JsonNode,
      nameById: Map[Int, String], specId: Int): Seq[SpecField] = {
    if (!meta.hasNonNull("partition-specs")) return Nil
    val spec = meta.get("partition-specs").elements().asScala
      .find(_.get("spec-id").asInt() == specId)
      .getOrElse(return Nil)
    spec.get("fields").elements().asScala.map { f =>
      val srcId = f.get("source-id").asInt()
      val src = nameById.getOrElse(srcId,
        throw new UnsupportedOperationException(
          s"iceberg-meta: partition source-id $srcId is not a " +
            "top-level field of the current schema"))
      SpecField(f.get("name").asText(), f.get("field-id").asInt(), src,
        IceTransform.parse(f.get("transform").asText()))
    }.toSeq
  }

  /** PARTITION SPEC EVOLUTION — one metadata-only commit (the spec's
    * `partition-specs` append + `default-spec-id` bump): data
    * appended AFTER this lays out under the NEW spec; every existing
    * file keeps the tuple of the spec it was written with, resolved
    * per-entry at read time, and row-level deletes scope their
    * manifests per-spec ([[delete]]). `fields` are (sourceColumn,
    * transform) pairs — e.g. `("o_custkey", "bucket[8]")`; empty
    * evolves to UNPARTITIONED. Partition field ids continue from
    * `last-partition-id` and are never reused (spec rule — reuse
    * would let an old file's tuple value masquerade as the new
    * field's). Returns the new default spec id. */
  def evolveSpec(root: String, fields: Seq[(String, String)]): Int = {
    val (v, meta0) = currentMeta(root)
    val meta = meta0
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val (_, nameById) = schemaOf(meta)
    val idByName = nameById.map(_.swap)
    val parsed = fields.map { case (src, t) =>
      require(idByName.contains(src),
        s"iceberg-meta: partition source column '$src' is not a " +
          s"top-level field of $root's current schema")
      (src, IceTransform.parse(t), t)
    }
    val specs =
      if (meta.hasNonNull("partition-specs"))
        meta.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
          "partition-specs")
      else {
        val a = meta.putArray("partition-specs")
        val sp0 = mapper.createObjectNode()
        sp0.put("spec-id", 0)
        sp0.putArray("fields")
        a.add(sp0)
        a
      }
    val nextId = specs.elements().asScala
      .map(_.get("spec-id").asInt()).max + 1
    var fid =
      if (meta.hasNonNull("last-partition-id"))
        meta.get("last-partition-id").asInt()
      else specs.elements().asScala
        .flatMap(_.get("fields").elements().asScala)
        .map(_.get("field-id").asInt())
        .maxOption.getOrElse(999) // spec: partition ids start at 1000
    val sp = mapper.createObjectNode()
    sp.put("spec-id", nextId)
    val arr = sp.putArray("fields")
    parsed.foreach { case (src, tr, tstr) =>
      fid += 1
      val f = mapper.createObjectNode()
      f.put("name", src + tr.suffix)
      f.put("transform", tstr)
      f.put("source-id", idByName(src))
      f.put("field-id", fid)
      arr.add(f)
    }
    specs.add(sp)
    meta.put("default-spec-id", nextId)
    meta.put("last-partition-id", fid)
    meta.put("last-updated-ms", System.currentTimeMillis())
    commitMeta(root, v, meta, meta0)
    nextId
  }

  /** Stage `df` ([[stageParquet]]) and land it under `data/`
    * ([[StagedFiles.land]]) as `<prefix>-NNNNN-<nonce>.parquet`, one
    * file per partition tuple of `specFields` (none: unpartitioned).
    * The identity source columns stay IN the payload (the spec stores
    * them in data files, and this reader scans data files as plain
    * parquet): each tuple field is a `__p_` copy that the Hive layout
    * consumes. Returns each landed file with its tuple typed for the
    * Avro partition record. */
  private def landData(df: org.apache.spark.sql.DataFrame, root: String,
      specFields: Seq[SpecField], typeOf: Map[String, DataType],
      prefix: String)
      : Seq[(StagedFiles.DataFile, Seq[(String, Any)])] = {
    import org.apache.spark.sql.functions.col
    val derived = specFields.map(f => s"__p_${f.name}" ->
      f.transform(col(s"`${f.srcCol}`"), typeOf(f.srcCol)))
    StagedFiles.land(df.sparkSession, root, "data", prefix,
        keepPartitionDirs = false) { staging =>
      if (derived.isEmpty) stageParquet(df, staging.toString)
      // one task per tuple -> one data file per tuple (tuples sharing
      // a hash slot still split: the Hive layout separates them)
      else stageParquet(
        derived.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
          .repartition(derived.map { case (n, _) => col(s"`$n`") }: _*),
        staging.toString, derived.map(_._1))
    }.map { file =>
      val byName = file.partition.toMap
      file -> specFields.map(f => f.name -> partValue(
        f.transform.resultType(typeOf(f.srcCol)), byName(s"__p_${f.name}")))
    }
  }

  /** A staged Hive tuple re-typed for the Avro partition record. */
  private def partValue(dt: DataType, v: Option[String]): Any = v match {
    case None => null
    case Some(s) => dt match {
      case IntegerType => java.lang.Integer.valueOf(s.toInt)
      case LongType => java.lang.Long.valueOf(s.toLong)
      case StringType => s
      case other => throw new UnsupportedOperationException(
        s"iceberg-meta: identity partition column of type $other is " +
          "not supported by this writer (int/long/string)")
    }
  }

  /** The current snapshot's manifest-list rows, re-emitted verbatim
    * (content flag preserved — a carried delete manifest stays a
    * delete manifest). */
  private def carriedManifests(root: String,
      meta: JsonNode, baseSnapshot: Option[Long] = None)
      : Seq[GenericRecord] = {
    // a BRANCH append carries the branch head's manifests, not the
    // table head's (the two histories diverge until fast-forward)
    val prevSnap: Option[Long] = baseSnapshot.orElse {
      if (meta.hasNonNull("current-snapshot-id") &&
        meta.get("current-snapshot-id").asLong() != -1L)
        Some(meta.get("current-snapshot-id").asLong())
      else None
    }
    prevSnap.toSeq.flatMap { sid =>
      val snapNode = meta.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong() == sid)
        .getOrElse(throw new IllegalStateException(
          s"iceberg-meta: current snapshot $sid not in $root"))
      readAvro(resolvePath(root, snapNode.get("manifest-list").asText()))
        .map { r =>
          manifestListRow(
            asStr(r.get("manifest_path")),
            asLong(r.get("manifest_length")),
            fieldOpt(r, "partition_spec_id").map(asLong).getOrElse(0L).toInt,
            fieldOpt(r, "sequence_number").map(asLong).getOrElse(0L),
            fieldOpt(r, "added_snapshot_id").map(asLong).getOrElse(sid),
            fieldOpt(r, "added_files_count").map(asLong).getOrElse(0L).toInt,
            fieldOpt(r, "existing_files_count").map(asLong).getOrElse(0L).toInt,
            fieldOpt(r, "added_rows_count").map(asLong).getOrElse(0L),
            fieldOpt(r, "existing_rows_count").map(asLong).getOrElse(0L),
            fieldOpt(r, "content").map(asLong).getOrElse(0L).toInt,
            minSeq = fieldOpt(r, "min_sequence_number").map(asLong),
            firstRowId = fieldOpt(r, "first_row_id").map(asLong))
        }
    }
  }

  /** Publish snapshot `snapId` (manifest list already written at
    * `listRel`) as `v{v+1}.metadata.json`: the current document
    * verbatim (deep-copied tree) + this commit's mutations, landed by
    * conditional put. Returns `snapId`. */
  private def commitSnapshot(root: String, v: Int, meta: JsonNode,
      snapId: Long, seq: Long, listRel: String,
      operation: String, toBranch: Option[String] = None,
      addedRows: Long = 0L,
      summaryProps: Map[String, String] = Map.empty): Long = {
    val newMeta = meta.deepCopy[
      com.fasterxml.jackson.databind.node.ObjectNode]
    val now = System.currentTimeMillis()
    newMeta.put("last-updated-ms", now)
    newMeta.put("last-sequence-number", seq)
    val currentId: Option[Long] =
      if (meta.hasNonNull("current-snapshot-id") &&
        meta.get("current-snapshot-id").asLong() != -1L)
        Some(meta.get("current-snapshot-id").asLong())
      else None
    // a BRANCH commit's parent is the branch head (current head for a
    // branch born here), and the table head does NOT move; a normal
    // commit parents off and advances the table head
    val parentId: Option[Long] = toBranch match {
      case Some(b) => refsOf(meta).get(b).map(_._1).orElse(currentId)
      case None => currentId
    }
    if (toBranch.isEmpty) newMeta.put("current-snapshot-id", snapId)
    val snapObj = mapper.createObjectNode()
    snapObj.put("snapshot-id", snapId)
    parentId.foreach(p => snapObj.put("parent-snapshot-id", p))
    snapObj.put("sequence-number", seq)
    snapObj.put("timestamp-ms", now)
    snapObj.put("manifest-list", listRel)
    val summary = snapObj.putObject("summary")
    summary.put("operation", operation)
    // added-records (the spec's standard summary metric): what a
    // REST catalog server needs to maintain next-row-id from an
    // add-snapshot update on v3 row-lineage tables
    summary.put("added-records", addedRows.toString)
    // extra summary properties (the spec's open map — the streaming
    // sink's exactly-once epoch marks ride here)
    summaryProps.toSeq.sortBy(_._1)
      .foreach { case (k, value) => summary.put(k, value) }
    // v3 row lineage: every snapshot records where its row-id range
    // begins (the table's next-row-id BEFORE this commit), and a
    // commit that added data rows moves the high-water mark by their
    // count — ids assigned to the new files by inheritance from the
    // new manifest-list row's first_row_id (same base)
    if (newMeta.hasNonNull("next-row-id")) {
      val base = newMeta.get("next-row-id").asLong()
      snapObj.put("first-row-id", base)
      if (addedRows > 0) newMeta.put("next-row-id", base + addedRows)
    }
    if (meta.hasNonNull("current-schema-id"))
      snapObj.put("schema-id", meta.get("current-schema-id").asInt())
    newMeta.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
      "snapshots").add(snapObj)
    // snapshot-log: the spec's record of every MAIN-pointer move —
    // what TIMESTAMP AS OF resolves against (branch commits do not
    // move the table head, so they log nothing)
    if (toBranch.isEmpty) {
      val logEntry = mapper.createObjectNode()
      logEntry.put("timestamp-ms", now)
      logEntry.put("snapshot-id", snapId)
      newMeta.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
        "snapshot-log").add(logEntry)
    }
    // refs maintenance: a branch commit advances ITS ref (creating it
    // off the current head on first write — Iceberg's toBranch rule);
    // a normal commit advances `main` (tags stay pinned either way)
    toBranch match {
      case Some(b) =>
        val refsNode =
          if (newMeta.hasNonNull("refs")) newMeta.get("refs")
            .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          else newMeta.putObject("refs")
        refsNode.get(b) match {
          case r if r != null && r.hasNonNull("type") &&
              r.get("type").asText() == "tag" =>
            throw new IllegalArgumentException(
              s"iceberg-meta: '$b' is a TAG — tags are immutable; " +
                "commit to a branch")
          case _ => ()
        }
        val r = mapper.createObjectNode()
        r.put("snapshot-id", snapId)
        r.put("type", "branch")
        refsNode.set(b, r)
      case None =>
        if (newMeta.hasNonNull("refs")) {
          val r = newMeta.get("refs")
            .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          if (r.hasNonNull("main") &&
            (!r.get("main").hasNonNull("type") ||
              r.get("main").get("type").asText() == "branch"))
            r.get("main")
              .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
              .put("snapshot-id", snapId)
        }
    }
    commitMeta(root, v, newMeta, meta)
    snapId
  }

  /** Positional-delete schema as it appears IN the delete parquet
    * (spec: file_path string, pos long). */
  private val deleteSchema = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  private val deleteFieldIds = Map(
    "file_path" -> DeleteFilePathFieldId, "pos" -> DeletePosFieldId)

  /** Row-level DELETE on an Iceberg table via v2 POSITIONAL delete
    * files — merge-on-read: the matching rows' (file, position) pairs
    * land as a delete parquet + a delete manifest (content=1) in ONE
    * new snapshot; NO data file is rewritten. Existing deletes are
    * honored when computing matches (already-deleted rows are not
    * re-recorded), the same conditional-put commit protocol as
    * [[append]] applies, and prior snapshots stay time-travelable.
    * Returns the new snapshot id — or the CURRENT one unchanged when
    * nothing matches (no empty commits).
    *
    * Cost shape at 100 TB: reading only the files whose stats may
    * match the predicate (the scan under `cond` is Spark's stock
    * pruned parquet path), writing O(matched rows) delete entries —
    * the Iceberg MOR write-amplification contract. */
  def delete(spark: SparkSession, root: String,
      cond: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{broadcast, col}
    gateMirrorWrite(root, "DELETE")
    val (v, meta) = currentMeta(root)
    val (schema, nameById) = schemaOf(meta)
    // a PARTITIONED spec's readers require an r102 partition tuple on
    // every delete-manifest entry: deletes group ONE delete file per
    // target partition tuple (restated from the target data files'
    // own replayed tuples), exactly like the data side (q251)
    val typeOf = schema.fields.map(f => f.name -> f.dataType).toMap
    val snap = snapshot(root)
    if (snap.files.isEmpty) return snap.snapshotId
    // the position machinery resolves POSITIONAL deletes only; rows an
    // equality delete hides would be re-recorded (harmlessly) AND rows
    // it hides would match cond — refuse rather than mix the kinds
    require(snap.eqDeletes.isEmpty,
      "iceberg-meta: positional DELETE on a table carrying EQUALITY " +
        "delete files is not supported — use deleteEquality, or " +
        "rewrite the table first")
    // v3 retires position delete FILES for DELETION VECTORS — same
    // public API, version-appropriate delete format. Deletes add no
    // rows, so the v3 row-lineage writer obligation reduces to
    // carrying next-row-id forward (commitSnapshot stamps the new
    // snapshot's first-row-id from it).
    if (meta.get("format-version").asInt() == 3)
      return deleteDv(spark, root, cond, meta, v, snap, schema, nameById)
    // SPEC EVOLUTION: each target file scopes through the spec it was
    // WRITTEN WITH (per-entry spec ids), so delete files group per
    // (spec, tuple) and delete MANIFESTS group per spec — a
    // manifest's r102 partition type is single-spec. A tuple whose
    // shape disagrees with its own spec is corrupt metadata, not
    // evolution, and still refuses.
    val fieldsBySpec: Map[Int, Seq[SpecField]] =
      snap.files.map(_.specId).distinct
        .map(id => id -> specFieldsOfId(meta, nameById, id)).toMap
    snap.files.foreach(f => require(
      f.partitionTuple.map(_._1) == fieldsBySpec(f.specId).map(_.name),
      s"iceberg-meta: data file ${f.recordedPath} carries a partition " +
        s"tuple that does not match its own spec ${f.specId} — " +
        "corrupt metadata; rewrite the table first"))
    val eSchemaOf = fieldsBySpec.map { case (sid, fs) =>
      sid -> manifestSchemaFor(fs.map(f =>
        (f.name, f.fieldId, f.transform.resultType(typeOf(f.srcCol)))))
    }
    // visible rows matching cond, addressed as (recordedPath, pos)
    val visible = IcebergMetaRead.withPositions(spark, snap)
    val hits = visible.filter(cond)
      .join(broadcast(IcebergMetaRead.uriToRecorded(spark, snap.files)),
        Seq(IcebergMetaRead.FpCol))
      .select(col("file_path"), col(IcebergMetaRead.PosCol).as("pos"))
    // (delete parquet, the (spec, r102 tuple) group its entry restates)
    val groups: Seq[(Int, Seq[(String, Any)])] =
      snap.files.map(f => (f.specId, f.partitionTuple)).distinct
    val single = groups.size == 1 && groups.head._2.isEmpty
    // empty split files drop in the landing; an all-empty delete is a
    // no-op commit
    val entries: Seq[(Int, GenericRecord)] =
      StagedFiles.land(spark, root, "data", "delete",
          keepPartitionDirs = false) { staging =>
        if (single)
          stageParquet(hits.sortWithinPartitions("file_path", "pos"),
            staging.toString) // spec (file_path, pos) ordering
        else {
          // one delete file per TARGET (spec, tuple): route each hit to
          // its target file's group (metadata-size broadcast map), one
          // task per group, Hive dirs split groups sharing a task
          val idxOf = groups.zipWithIndex.toMap
          import spark.implicits._
          val fpToIdx = spark.createDataset(snap.files.map(f =>
            (f.recordedPath, idxOf((f.specId, f.partitionTuple)))))
            .toDF("file_path", "__tuple")
          stageParquet(hits.join(broadcast(fpToIdx), Seq("file_path"))
            .repartition(col("__tuple"))
            .sortWithinPartitions("__tuple", "file_path", "pos"),
            staging.toString, Seq("__tuple"))
        }
      }.map { file =>
        val (sid, tuple) =
          if (single) groups.head else groups(file.partition.head._2.get.toInt)
        sid -> dataFileEntry(file, deleteSchema, deleteFieldIds,
          content = 1, entrySchema = eSchemaOf(sid), partitionTuple = tuple)
      }
    if (entries.isEmpty) return snap.snapshotId
    val seq = (if (meta.hasNonNull("last-sequence-number"))
      meta.get("last-sequence-number").asLong() else 0L) + 1
    val snapId = java.util.UUID.randomUUID().getLeastSignificantBits
      .abs.max(1L)
    val listRows = entries.groupBy(_._1).toSeq.sortBy(_._1).zipWithIndex
      .map { case ((sid, es), mi) =>
        val manifestRel = s"metadata/snap-$snapId-m$mi.avro"
        writeAvro(Paths.get(root, manifestRel), eSchemaOf(sid),
          es.map(_._2))
        manifestListRow(manifestRel,
          Files.size(Paths.get(root, manifestRel)), sid, seq, snapId,
          es.size, 0, 0L, 0L, content = 1)
      }
    val listRel = s"metadata/snap-$snapId.avro"
    writeAvro(Paths.get(root, listRel), manifestListSchema,
      carriedManifests(root, meta) ++ listRows)
    commitSnapshot(root, v, meta, snapId, seq, listRel, "delete")
  }

  /** v3 DELETE: matching rows land as DELETION VECTORS — one
    * `deletion-vector-v1` Puffin blob per touched data file
    * ([[Puffin.writeDvFile]]), MERGED with the file's existing DV
    * (the spec's at-most-one-per-file writer obligation), committed
    * in ONE new snapshot. Untouched prior DVs carry through their
    * manifests verbatim; a manifest containing a REPLACED DV is
    * rewritten with the survivors restated as EXISTING entries under
    * their ORIGINAL sequence numbers — so older snapshots stay
    * time-travelable and [[changes]] keeps deriving exact per-commit
    * deltas from seq equality.
    *
    * Positions collect to the driver (the Puffin blob is composed
    * there — log metadata, the Delta DV posture) under the read
    * side's [[IcebergMetaRead.MaxDecodedPositions]] ceiling. Cost
    * shape at 100 TB: the scan under `cond` is the stock pruned
    * parquet path; O(matched + previously-deleted-in-touched-files)
    * positions written; NO data file rewritten. */
  private def deleteDv(spark: SparkSession, root: String,
      cond: org.apache.spark.sql.Column, meta: JsonNode, v: Int,
      snap: IceSnapshot, schema: StructType,
      nameById: Map[Int, String]): Long = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val visible = IcebergMetaRead.withPositions(spark, snap)
    val hits = visible.filter(cond)
      .join(broadcast(IcebergMetaRead.uriToRecorded(spark, snap.files)),
        Seq(IcebergMetaRead.FpCol))
      .select(col("file_path"), col(IcebergMetaRead.PosCol).as("pos"))
    val n = hits.count()
    if (n == 0L) return snap.snapshotId
    require(n <= IcebergMetaRead.MaxDecodedPositions,
      s"iceberg-meta: DELETE matches $n rows — beyond the " +
        s"${IcebergMetaRead.MaxDecodedPositions} deletion-vector " +
        "compose ceiling; rewrite the table (compact) instead")
    val newByFile: Map[String, Array[Long]] = hits.collect()
      .groupBy(_.getString(0))
      .map { case (f, rs) => f -> rs.map(_.getLong(1)) }
    val existingByRef = snap.dvs.map(d => d.referencedDataFile -> d).toMap
    val fileByRec = snap.files.map(f => f.recordedPath -> f).toMap
    // the MERGE also decodes the touched files' PRIOR DVs driver-side
    // — bound new hits + accumulated priors together (cardinality is
    // manifest metadata: zero extra I/O for the check)
    val priorCard = newByFile.keys
      .flatMap(existingByRef.get).map(_.cardinality).sum
    require(n + priorCard <= IcebergMetaRead.MaxDecodedPositions,
      s"iceberg-meta: DELETE composes ${n + priorCard} deletion-" +
        s"vector positions (new + prior) — beyond the " +
        s"${IcebergMetaRead.MaxDecodedPositions} compose ceiling; " +
        "rewrite the table (compact) instead")
    // merge: prior DV positions ∪ new hits (hits exclude already-
    // deleted rows, but distinct defends the invariant regardless)
    val merged: Seq[(String, Array[Long])] = newByFile.toSeq
      .sortBy(_._1).map { case (f, ps) =>
        val old = existingByRef.get(f).map(d =>
          Puffin.decodeDeletionVector(Puffin.readBlob(
            Paths.get(d.puffinPath), d.offset, d.length)))
          .getOrElse(Array.empty[Long])
        f -> (old ++ ps).distinct.sorted
      }
    val seq = (if (meta.hasNonNull("last-sequence-number"))
      meta.get("last-sequence-number").asLong() else 0L) + 1
    val snapId = java.util.UUID.randomUUID().getLeastSignificantBits
      .abs.max(1L)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val puffinRel = s"data/delete-dv-$nonce.puffin"
    val blobs = Puffin.writeDvFile(Paths.get(root, puffinRel),
      snapId, seq, merged)
    val puffinSize = Files.size(Paths.get(root, puffinRel))
    // one NEW delete manifest per target spec (r102 types are
    // single-spec), each DV entry restating its data file's tuple
    val typeOfCol = schema.fields.map(f => f.name -> f.dataType).toMap
    val specIds = blobs.map(b =>
      fileByRec(b.referencedDataFile).specId).distinct
    val fieldsBySpec = specIds
      .map(id => id -> specFieldsOfId(meta, nameById, id)).toMap
    val dvSchemaOf = fieldsBySpec.map { case (sid, fs) =>
      sid -> dvManifestSchemaFor(fs.map(f =>
        (f.name, f.fieldId, f.transform.resultType(typeOfCol(f.srcCol)))))
    }
    def dvEntry(b: Puffin.WrittenBlob, sid: Int): GenericRecord = {
      val eSchema = dvSchemaOf(sid)
      val rec = new GenericData.Record(eSchema)
      rec.put("status", 1) // added; seq inherits from the list row
      rec.put("snapshot_id", null)
      rec.put("sequence_number", null)
      val dfSchema = eSchema.getField("data_file").schema()
      val dfr = new GenericData.Record(dfSchema)
      dfr.put("content", 1)
      dfr.put("file_path", puffinRel)
      dfr.put("file_format", "PUFFIN")
      val tf = fileByRec(b.referencedDataFile)
      if (tf.partitionTuple.nonEmpty) {
        val pr = new GenericData.Record(
          dfSchema.getField("partition").schema())
        tf.partitionTuple.foreach { case (nm, vv) => pr.put(nm, vv) }
        dfr.put("partition", pr)
      }
      dfr.put("record_count", java.lang.Long.valueOf(b.cardinality))
      dfr.put("file_size_in_bytes", java.lang.Long.valueOf(puffinSize))
      dfr.put("null_value_counts",
        new java.util.HashMap[String, java.lang.Long]())
      dfr.put("lower_bounds", new java.util.HashMap[String, ByteBuffer]())
      dfr.put("upper_bounds", new java.util.HashMap[String, ByteBuffer]())
      dfr.put("equality_ids", null)
      dfr.put("referenced_data_file", b.referencedDataFile)
      dfr.put("content_offset", java.lang.Long.valueOf(b.offset))
      dfr.put("content_size_in_bytes", java.lang.Long.valueOf(b.length))
      rec.put("data_file", dfr)
      rec
    }
    val newDelRows = blobs
      .groupBy(b => fileByRec(b.referencedDataFile).specId)
      .toSeq.sortBy(_._1).zipWithIndex.map { case ((sid, bs), mi) =>
        val manifestRel = s"metadata/snap-$snapId-dv$mi.avro"
        writeAvro(Paths.get(root, manifestRel), dvSchemaOf(sid),
          bs.map(dvEntry(_, sid)))
        manifestListRow(manifestRel,
          Files.size(Paths.get(root, manifestRel)), sid, seq, snapId,
          bs.size, 0, 0L, 0L, content = 1)
      }
    // prior manifests: data verbatim; a delete manifest carrying a
    // REPLACED DV is rewritten keeping only the survivors
    val replaced = merged.map(_._1).toSet
    val keptRows = carriedManifests(root, meta).zipWithIndex
      .flatMap { case (row, ri) =>
        if (fieldOpt(row, "content").map(asLong).getOrElse(0L) != 1L)
          Some(row)
        else {
          val mp = resolvePath(root, asStr(row.get("manifest_path")))
          val rowSeq = fieldOpt(row, "sequence_number").map(asLong)
            .getOrElse(0L)
          val live = readAvro(mp)
            .filter(e => asLong(e.get("status")) != 2)
          def refOf(e: GenericRecord): Option[String] = {
            val dfr = e.get("data_file").asInstanceOf[GenericRecord]
            fieldOpt(dfr, "referenced_data_file").map(asStr)
          }
          val (gone, kept) = live.partition(e => refOf(e).exists(replaced))
          if (gone.isEmpty) Some(row)
          else if (kept.isEmpty) None
          else {
            val eSchema = kept.head.getSchema
            val rewritten = kept.map { e =>
              val c = GenericData.get().deepCopy(eSchema, e)
                .asInstanceOf[GenericRecord]
              val origSeq = fieldOpt(e, "sequence_number").map(asLong)
                .getOrElse(rowSeq)
              c.put("status", 0) // existing, explicit original seq
              c.put("sequence_number", java.lang.Long.valueOf(origSeq))
              c
            }
            val rel = s"metadata/snap-$snapId-rw$ri.avro"
            writeAvro(Paths.get(root, rel), eSchema, rewritten)
            val minSeq = rewritten
              .map(e => asLong(e.get("sequence_number"))).min
            Some(manifestListRow(rel, Files.size(Paths.get(root, rel)),
              fieldOpt(row, "partition_spec_id").map(asLong)
                .getOrElse(0L).toInt,
              seq, snapId, 0, rewritten.size, 0L, 0L, content = 1,
              minSeq = Some(minSeq)))
          }
        }
      }
    val listRel = s"metadata/snap-$snapId.avro"
    writeAvro(Paths.get(root, listRel), manifestListSchema,
      keptRows ++ newDelRows)
    commitSnapshot(root, v, meta, snapId, seq, listRel, "delete")
  }

  /** REWRITE the table (Iceberg's `rewrite_data_files` maintenance
    * action): materialize the currently-VISIBLE rows — positional and
    * equality deletes applied through the same [[IcebergMetaRead
    * .morRead]] path the scan rewrite uses — into at most `numFiles`
    * fresh data files (one per tuple on a partitioned spec; z-order
    * and the table's sort order cluster through
    * [[graft.ops.ZOrder.layout]], the layout every format's OPTIMIZE
    * shares), committed as a snapshot whose manifest list carries
    * ONLY the new data manifest: no carried manifests, no delete
    * files. Old snapshots stay time-travelable (their metadata and
    * files remain on disk, unreferenced by the new state).
    *
    * This closes every "rewrite the table first" refusal loop in one
    * call: a delete-carrying table becomes CONVERTible to graft,
    * positional DELETE works again after equality deletes, and the
    * read side stops paying the per-scan anti-joins. Summary
    * operation is `replace` — streaming tails refuse it (correctly:
    * the file set changed under them). */
  def compact(spark: SparkSession, root: String,
      numFiles: Int = 1,
      // rewrite_data_files(strategy => 'sort', z-order): cluster the
      // materialized rows on the Morton interleave of two dimension
      // columns so each output file's bounds box BOTH dimensions
      // tightly — same contract as the Delta/graft OPTIMIZE ZORDER
      zorderBy: Option[(String, String)] = None,
      zorderBits: Int = 21,
      // refresh the table's Puffin NDV statistics after the rewrite
      // ([[writeStatistics]], approx mode) — the compaction just read
      // every row anyway, and post-compact is when stale stats bite
      withStats: Boolean = false): Long = {
    require(numFiles >= 1, "numFiles must be >= 1")
    gateMirrorWrite(root, "OPTIMIZE") // early: nothing stages on a mirror
    val (v, meta) = currentMeta(root)
    val fv = requireKnownVersion(meta)
    val (schema, nameById) = schemaOf(meta)
    val idByName = nameById.map(_.swap)
    // a PARTITIONED spec compacts to ONE file per tuple (numFiles
    // applies to the unpartitioned layout), like the Delta side's
    // one-task-per-partition repartition
    val specFields = specFieldsOf(meta, nameById)
    val typeOf = schema.fields.map(f => f.name -> f.dataType).toMap
    val eSchema = manifestSchemaFor(specFields.map(f =>
      (f.name, f.fieldId, f.transform.resultType(typeOf(f.srcCol)))))
    val specId = if (meta.hasNonNull("default-spec-id"))
      meta.get("default-spec-id").asInt() else 0
    val snap = snapshot(root)
    // v3 ROW LINEAGE preservation (the spec's rewrite obligation):
    // compacted files MATERIALIZE each surviving row's _row_id and
    // _last_updated_sequence_number as ordinary columns — the reader
    // coalesces them over the (absent) inheritance metadata, so ids
    // survive the rewrite exactly. Pre-v3 compaction stays the plain
    // visible-row materialization.
    val visible0 =
      if (fv == 3) IcebergMetaRead.readWithRowIds(spark, root)
      else IcebergMetaRead.morRead(spark, snap)
    // the table's declared SORT ORDER drives an unrequested rewrite
    // (the rewrite_data_files(strategy='sort') default — same shape as
    // the Delta side's liquid-clustering OPTIMIZE). Partitioned specs
    // keep their tuple layout (the spec sorts WITHIN partitions; this
    // writer's one-file-per-tuple output is already the finest grain,
    // so the in-file sort is moot).
    import graft.ops.ZOrder
    val clustering = zorderBy match {
      case Some((x, y)) => ZOrder.ZOrderBy(x, y, zorderBits)
      case None =>
        val order = sortOrderOf(meta, nameById)
        if (specFields.isEmpty && order.nonEmpty) ZOrder.SortBy(order)
        else ZOrder.Unclustered
    }
    val visible = ZOrder.layout(visible0, numFiles, clustering,
      partitioned = specFields.nonEmpty)
    val keepCols = schema.fieldNames.toSeq ++ (if (fv == 3)
      Seq("_row_id", "_last_updated_sequence_number") else Nil)
    val ordered = visible.select(keepCols.head, keepCols.tail: _*)
    // empty splits land no file
    val entries = landData(ordered, root, specFields, typeOf, "compact").map {
      case (file, tuple) => dataFileEntry(file, schema, idByName,
        entrySchema = eSchema, partitionTuple = tuple)
    }
    val addedRows = entries.map(e => asLong(e.get("data_file")
      .asInstanceOf[GenericRecord].get("record_count"))).sum
    val seq = (if (meta.hasNonNull("last-sequence-number"))
      meta.get("last-sequence-number").asLong() else 0L) + 1
    val snapId = java.util.UUID.randomUUID().getLeastSignificantBits
      .abs.max(1L)
    val manifestRel = s"metadata/snap-$snapId-m0.avro"
    writeAvro(Paths.get(root, manifestRel), eSchema, entries.toSeq)
    val listRel = s"metadata/snap-$snapId.avro"
    // the new manifest is the WHOLE state — nothing carried forward
    writeAvro(Paths.get(root, listRel), manifestListSchema,
      Seq(manifestListRow(manifestRel,
        Files.size(Paths.get(root, manifestRel)), specId, seq, snapId,
        entries.size, 0, addedRows, 0L)))
    val committed =
      commitSnapshot(root, v, meta, snapId, seq, listRel, "replace")
    if (withStats) writeStatistics(spark, root)
    committed
  }

  /** `rollback_to_snapshot` — move the table's current pointer back
    * to an EXISTING snapshot (it must not have been expired): one
    * conditional-put metadata commit that restates
    * `current-snapshot-id` (+ a snapshot-log entry, the spec's
    * record of the pointer move). No data or manifest I/O at all —
    * the old snapshot's tree is immutable and still in place; the
    * rolled-past snapshots remain time-travelable until
    * [[expireSnapshots]] reaps them. */
  def rollbackTo(root: String, snapshotId: Long): Int = {
    val (v, meta) = currentMeta(root)
    val known = meta.get("snapshots").elements().asScala
      .map(_.get("snapshot-id").asLong()).toSet
    require(known(snapshotId),
      s"iceberg-meta: snapshot $snapshotId not in $root (expired?)")
    val newMeta = meta.deepCopy[
      com.fasterxml.jackson.databind.node.ObjectNode]
    val now = System.currentTimeMillis()
    newMeta.put("current-snapshot-id", snapshotId)
    newMeta.put("last-updated-ms", now)
    // a rollback IS a main-branch move — leaving the ref behind would
    // pin the rolled-past snapshot against expireSnapshots forever
    if (newMeta.hasNonNull("refs")) {
      val r = newMeta.get("refs")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      if (r.hasNonNull("main") &&
        (!r.get("main").hasNonNull("type") ||
          r.get("main").get("type").asText() == "branch"))
        r.get("main")
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          .put("snapshot-id", snapshotId)
    }
    val logEntry = mapper.createObjectNode()
    logEntry.put("timestamp-ms", now)
    logEntry.put("snapshot-id", snapshotId)
    if (newMeta.hasNonNull("snapshot-log"))
      newMeta.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
        "snapshot-log").add(logEntry)
    commitMeta(root, v, newMeta, meta)
    v + 1
  }

  // ------------------------------------------------------------------
  // Refs: named BRANCHES and TAGS (the metadata.json `refs` map —
  // spec "Snapshot References"). Tags pin a snapshot forever (until
  // dropped); the `main` branch tracks current-snapshot-id and every
  // commit advances it. expireSnapshots treats ref'd snapshots as
  // retained (Iceberg semantics: a referenced snapshot never expires).
  // ------------------------------------------------------------------

  private def refsOf(meta: JsonNode): Map[String, (Long, String)] =
    if (!meta.hasNonNull("refs")) Map.empty
    else meta.get("refs")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .fields().asScala.map { e =>
        e.getKey -> (e.getValue.get("snapshot-id").asLong(),
          if (e.getValue.hasNonNull("type"))
            e.getValue.get("type").asText()
          else "branch")
      }.toMap

  /** The table's `refs` map: name → (snapshotId, "tag" | "branch").
    * Resolved through the CATALOG seam — a REST-held document never
    * touches the filesystem. */
  def refs(root: String): Map[String, (Long, String)] =
    refsOf(currentMeta(root)._2)

  /** TIMESTAMP AS OF resolution (Iceberg's `FOR TIMESTAMP AS OF`):
    * the snapshot CURRENT at `tsMillis` — the latest entry of the
    * metadata document's `snapshot-log` (the spec's record of every
    * current-pointer move, rollbacks included — this writer maintains
    * it on every main-branch commit) with `timestamp-ms <= tsMillis`;
    * a minimal foreign tree without one falls back to the snapshots'
    * own commit timestamps (no pointer-move history to honor there).
    * Metadata-only. */
  def snapshotIdAtTimestamp(root: String, tsMillis: Long): Long = {
    val (_, meta) = currentMeta(root)
    val log: Seq[(Long, Long)] =
      if (meta.hasNonNull("snapshot-log") &&
        meta.get("snapshot-log").elements().hasNext)
        meta.get("snapshot-log").elements().asScala.toSeq
          .map(e => e.get("timestamp-ms").asLong() ->
            e.get("snapshot-id").asLong())
      else if (meta.hasNonNull("snapshots"))
        meta.get("snapshots").elements().asScala.toSeq
          .map(s => (if (s.hasNonNull("timestamp-ms"))
            s.get("timestamp-ms").asLong() else 0L) ->
            s.get("snapshot-id").asLong())
      else Nil
    val eligible = log.zipWithIndex.filter(_._1._1 <= tsMillis)
    require(eligible.nonEmpty,
      s"iceberg-meta: timestamp $tsMillis predates every snapshot " +
        s"of $root")
    // millisecond ties break toward the LATER log entry (log order
    // is commit order — the snapshot current at that instant)
    eligible.maxBy { case ((t, _), i) => (t, i) }._1._2
  }

  /** Resolve a ref NAME (tag or branch) to its pinned snapshot id —
    * what `.option("refAsOf", name)` reads travel to. */
  def refSnapshotId(root: String, name: String): Long = {
    val all = refs(root)
    all.getOrElse(name, throw new IllegalArgumentException(
      s"iceberg-meta: no ref '$name' in $root" +
        (if (all.isEmpty) " (table has no refs)"
         else s" (refs: ${all.keys.toSeq.sorted.mkString(", ")})")))._1
  }

  /** Create or move a TAG/BRANCH ref pinning `snapshotId` (default:
    * the current snapshot) — one metadata-only conditional-put
    * commit, the `ALTER TABLE ... CREATE TAG/BRANCH` shape. */
  def setRef(root: String, name: String, refType: String = "tag",
      snapshotId: Option[Long] = None): Int = {
    require(refType == "tag" || refType == "branch",
      s"iceberg-meta: ref type must be tag|branch, got $refType")
    val (v, meta0) = currentMeta(root)
    val meta = meta0
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val known = meta.get("snapshots").elements().asScala
      .map(_.get("snapshot-id").asLong()).toSet
    val id = snapshotId.getOrElse {
      require(meta.hasNonNull("current-snapshot-id") &&
        meta.get("current-snapshot-id").asLong() != -1L,
        s"iceberg-meta: $root has no current snapshot to ref")
      meta.get("current-snapshot-id").asLong()
    }
    require(known(id),
      s"iceberg-meta: cannot ref snapshot $id — not in $root (expired?)")
    val refsNode =
      if (meta.hasNonNull("refs")) meta.get("refs")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      else meta.putObject("refs")
    val r = mapper.createObjectNode()
    r.put("snapshot-id", id)
    r.put("type", refType)
    refsNode.set(name, r)
    meta.put("last-updated-ms", System.currentTimeMillis())
    commitMeta(root, v, meta, meta0)
    v + 1
  }

  /** Drop a ref by name (tags and non-main branches). */
  def dropRef(root: String, name: String): Int = {
    require(name != "main",
      "iceberg-meta: the main branch cannot be dropped")
    val (v, meta0) = currentMeta(root)
    val meta = meta0
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    require(meta.hasNonNull("refs") && meta.get("refs").hasNonNull(name),
      s"iceberg-meta: no ref '$name' in $root")
    meta.get("refs")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .remove(name)
    meta.put("last-updated-ms", System.currentTimeMillis())
    commitMeta(root, v, meta, meta0)
    v + 1
  }

  /** FAST-FORWARD ref `to` onto ref `from`'s head — Iceberg's
    * `fast_forward` procedure and the WAP publish step: stage commits
    * on an audit branch ([[append]] with `toBranch`), validate by
    * reading the branch (`refAsOf`), then move `to` (usually `main`,
    * which also moves the table head) up to the branch head in ONE
    * metadata-only commit. Refuses when `to`'s head is not an
    * ancestor of `from`'s head (a fast-forward must lose nothing). */
  def fastForward(root: String, to: String, from: String): Int = {
    val (v, meta0) = currentMeta(root)
    val meta = meta0
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val rs = refsOf(meta)
    // fast_forward moves BRANCHES only (Iceberg's rule; tags are
    // immutable — commitSnapshot enforces the same for branch commits)
    require(rs.get(to).forall(_._2 == "branch"),
      s"iceberg-meta: cannot fast-forward '$to' — it is a tag, and " +
        "tags are immutable")
    val fromId = rs.getOrElse(from, throw new IllegalArgumentException(
      s"iceberg-meta: no ref '$from' in $root"))._1
    val toId: Option[Long] = rs.get(to).map(_._1).orElse {
      if (to == "main" && meta.hasNonNull("current-snapshot-id") &&
        meta.get("current-snapshot-id").asLong() != -1L)
        Some(meta.get("current-snapshot-id").asLong())
      else None
    }
    val byId = meta.get("snapshots").elements().asScala
      .map(s => s.get("snapshot-id").asLong() -> s).toMap
    val ancestors = Iterator.iterate(Option(fromId)) {
      case Some(id) => byId.get(id)
        .filter(_.hasNonNull("parent-snapshot-id"))
        .map(_.get("parent-snapshot-id").asLong())
      case None => None
    }.takeWhile(_.isDefined).flatten.toSet
    toId.foreach(t => require(ancestors(t),
      s"iceberg-meta: fast-forward would lose history — '$to' head " +
        s"$t is not an ancestor of '$from' head $fromId"))
    val now = System.currentTimeMillis()
    val refsNode =
      if (meta.hasNonNull("refs")) meta.get("refs")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      else meta.putObject("refs")
    val r = mapper.createObjectNode()
    r.put("snapshot-id", fromId)
    r.put("type", rs.get(to).map(_._2).getOrElse("branch"))
    refsNode.set(to, r)
    if (to == "main") {
      meta.put("current-snapshot-id", fromId)
      if (meta.hasNonNull("snapshot-log")) {
        val logEntry = mapper.createObjectNode()
        logEntry.put("timestamp-ms", now)
        logEntry.put("snapshot-id", fromId)
        meta.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
          "snapshot-log").add(logEntry)
      }
    }
    meta.put("last-updated-ms", now)
    commitMeta(root, v, meta, meta0)
    v + 1
  }

  /** What [[expireSnapshots]] removed. */
  final case class ExpireResult(expiredSnapshots: Int,
      deletedFiles: Int, deletedManifests: Int, deletedManifestLists: Int)

  /** `expire_snapshots` — Iceberg's history maintenance: drop every
    * snapshot whose `timestamp-ms` is older than `olderThanMs`, always
    * keeping the CURRENT snapshot and the `retainLast` most recent
    * ones, then delete the files only the expired snapshots reference:
    * their manifest lists, the manifests no surviving snapshot's list
    * names, and the data/delete files no surviving manifest references
    * IN ANY STATUS (a file a surviving manifest marks DELETED is still
    * referenced — spec rule; it goes when that manifest does). The
    * pruned metadata document commits under the same conditional-put
    * protocol as data commits, so a concurrent writer wins cleanly.
    * Time travel to an expired snapshot id then refuses — that is the
    * point of expiration. File deletion routes through the
    * [[DataStore]] seam. Metadata-scale I/O only: reads manifests, no
    * data files. */
  def expireSnapshots(root: String, olderThanMs: Long,
      retainLast: Int = 1): ExpireResult = {
    require(retainLast >= 1, s"expireSnapshots: retainLast $retainLast < 1")
    // a UniForm MIRROR's retention is governed by the DELTA side:
    // files retired from the mirror's current snapshot may still be
    // referenced by older Delta versions, and expire's physical
    // deletes (no mtime guard, unlike VACUUM) would break them —
    // refuse with the right tool named
    require(!isUniformMirror(root),
      s"iceberg-meta EXPIRE SNAPSHOTS: $root is a UniForm mirror of " +
        "a Delta table — run Delta VACUUM instead (its retention " +
        "window protects files older Delta versions still reference)")
    val (v, meta) = currentMeta(root)
    if (!meta.hasNonNull("snapshots")) return ExpireResult(0, 0, 0, 0)
    val snaps = meta.get("snapshots").elements().asScala.toSeq
    def idOf(s: JsonNode) = s.get("snapshot-id").asLong()
    def tsOf(s: JsonNode) =
      if (s.hasNonNull("timestamp-ms")) s.get("timestamp-ms").asLong() else 0L
    val currentId =
      if (meta.hasNonNull("current-snapshot-id"))
        meta.get("current-snapshot-id").asLong() else -1L
    // retainLast applies to the CURRENT LINEAGE (ancestor chain via
    // parent-snapshot-id), per Iceberg: a rolled-past snapshot is not
    // an ancestor and expires once older than the cutoff
    val byId = snaps.map(s => idOf(s) -> s).toMap
    val ancestors = Iterator.iterate(byId.get(currentId)) {
      case Some(s) if s.hasNonNull("parent-snapshot-id") =>
        byId.get(s.get("parent-snapshot-id").asLong())
      case _ => None
    }.takeWhile(_.isDefined).flatten.take(retainLast).map(idOf).toSet
    // a snapshot ANY ref names (tag or branch) never expires —
    // Iceberg's retention rule; drop the ref first to release it
    val refPinned = refsOf(meta).values.map(_._1).toSet
    // the streaming sink's exactly-once state: each app's HIGHEST
    // recorded epoch mark is pinned — expiring it would let a
    // crash-replayed batch re-append as duplicates when other
    // commits landed in between (the mark is to streams what a txn
    // struct is to the Delta sink)
    val epochPinned: Set[Long] = snaps
      .flatMap { s =>
        Option(s.get("summary"))
          .filter(_.hasNonNull("streaming-app-id"))
          .flatMap(su => Option(su.get("streaming-epoch-id"))
            .filterNot(_.isNull)
            .map(e => (su.get("streaming-app-id").asText(),
              e.asText().toLong, idOf(s))))
      }
      .groupBy(_._1).values
      .map(_.maxBy(_._2)._3).toSet
    val keep = snaps.filter(s => tsOf(s) >= olderThanMs ||
      idOf(s) == currentId || ancestors(idOf(s)) ||
      refPinned(idOf(s)) || epochPinned(idOf(s)))
    val expired = snaps.filterNot(s => keep.exists(k => idOf(k) == idOf(s)))
    if (expired.isEmpty) return ExpireResult(0, 0, 0, 0)
    // reachability: everything a surviving snapshot can name survives
    def listOf(s: JsonNode): String =
      resolvePath(root, s.get("manifest-list").asText())
    def manifestsOf(listPath: String): Seq[String] =
      readAvro(listPath).map(r => resolvePath(root,
        asStr(r.get("manifest_path"))))
    def filesOf(manifestPath: String): Seq[String] =
      readAvro(manifestPath).map(e => resolvePath(root,
        asStr(e.get("data_file").asInstanceOf[GenericRecord]
          .get("file_path"))))
    val keepLists = keep.map(listOf).toSet
    val keepManifests = keepLists.flatMap(manifestsOf)
    val deadLists = expired.map(listOf).toSet -- keepLists
    val deadManifests = deadLists.flatMap(manifestsOf) -- keepManifests
    val keepFiles = keepManifests.flatMap(filesOf)
    val deadFiles = deadManifests.flatMap(filesOf) -- keepFiles
    // prune the metadata document: snapshots + snapshot-log entries
    val keepIds = keep.map(idOf).toSet
    val newMeta = meta.deepCopy[
      com.fasterxml.jackson.databind.node.ObjectNode]
    val snapArr = mapper.createArrayNode()
    keep.foreach(snapArr.add)
    newMeta.set[JsonNode]("snapshots", snapArr)
    if (newMeta.hasNonNull("snapshot-log")) {
      val logArr = mapper.createArrayNode()
      newMeta.get("snapshot-log").elements().asScala
        .filter(e => keepIds(e.get("snapshot-id").asLong()))
        .foreach(logArr.add)
      newMeta.set[JsonNode]("snapshot-log", logArr)
    }
    newMeta.put("last-updated-ms", System.currentTimeMillis())
    commitMeta(root, v, newMeta, meta)
    // the commit is durable — now the physical deletes (crash here
    // leaves unreferenced garbage, never a dangling reference)
    val store = VersionedTable.dataIO(root)
    deadFiles.foreach(p => store.deleteFile(Paths.get(p)))
    deadManifests.foreach(p => store.deleteFile(Paths.get(p)))
    deadLists.foreach(p => store.deleteFile(Paths.get(p)))
    ExpireResult(expired.size, deadFiles.size, deadManifests.size,
      deadLists.size)
  }

  final case class OrphanSweep(scanned: Int, referenced: Int,
      youngKept: Int, orphans: Seq[String], deleted: Boolean)

  /** `remove_orphan_files` — Iceberg's reachability sweep for files a
    * LOST commit race left behind: data staged for a metadata CAS
    * that lost and was never retried is invisible to
    * [[expireSnapshots]] (which reaps only what expired snapshots
    * NAME — log reachability cannot see files no snapshot ever
    * referenced) and accumulates forever. Lists `data/` + `metadata/`
    * through the DataStore seam, subtracts every file ANY snapshot's
    * manifest tree or statistics entry names, and deletes survivors
    * whose mtime predates the cutoff (`olderThanMs`, an absolute
    * timestamp like [[expireSnapshots]]'s; default = now − 3 days,
    * Iceberg's own guard, so an IN-FLIGHT commit's freshly staged
    * files are never swept). Metadata documents (`v*.metadata.json`,
    * `version-hint.text`) are never candidates — their lifecycle is
    * the metadata-log trim's. Refuses on UniForm mirrors (the Delta
    * log governs those files; Delta VACUUM is the tool). `dryRun`
    * reports the orphan list without deleting. Driver-only metadata
    * I/O: one recursive listing plus the manifest walk. */
  def removeOrphanFiles(root: String, olderThanMs: Long = -1L,
      dryRun: Boolean = false): OrphanSweep = {
    require(!isUniformMirror(root),
      s"iceberg-meta REMOVE ORPHAN FILES: $root is a UniForm mirror " +
        "of a Delta table — its files are governed by the Delta log; " +
        "run Delta VACUUM instead")
    val (_, meta) = currentMeta(root)
    val cutoff = if (olderThanMs >= 0L) olderThanMs
      else System.currentTimeMillis - 3L * 24 * 3600 * 1000
    def norm(p: String): String =
      Paths.get(p).toAbsolutePath.normalize.toString
    val referenced = scala.collection.mutable.Set.empty[String]
    if (meta.hasNonNull("snapshots"))
      meta.get("snapshots").elements().asScala.foreach { s =>
        val listPath = resolvePath(root, s.get("manifest-list").asText())
        referenced += norm(listPath)
        readAvro(listPath).foreach { r =>
          val mPath = resolvePath(root, asStr(r.get("manifest_path")))
          referenced += norm(mPath)
          readAvro(mPath).foreach { e =>
            referenced += norm(resolvePath(root,
              asStr(e.get("data_file").asInstanceOf[GenericRecord]
                .get("file_path"))))
          }
        }
      }
    if (meta.hasNonNull("statistics"))
      meta.get("statistics").elements().asScala.foreach(e =>
        referenced += norm(resolvePath(root,
          e.get("statistics-path").asText())))
    // partition statistics (spec: `partition-statistics`, one file
    // per snapshot) — this writer never produces them, but a FOREIGN
    // tree's must never sweep as orphans: the current document names
    // them
    if (meta.hasNonNull("partition-statistics"))
      meta.get("partition-statistics").elements().asScala.foreach(e =>
        referenced += norm(resolvePath(root,
          e.get("statistics-path").asText())))
    val store = VersionedTable.dataIO(root)
    val rootP = Paths.get(root).toAbsolutePath.normalize
    val MetaDoc = """v\d+\.metadata\.json""".r
    val candidates =
      (store.listFilesRecursive(rootP.resolve("data")) ++
        store.listFilesRecursive(rootP.resolve("metadata")))
        .map(_.toAbsolutePath.normalize)
        .filterNot { p =>
          val n = p.getFileName.toString
          // Iceberg's hidden-path convention: names (or any path
          // segment) starting with '.' or '_' are writer bookkeeping
          // (_SUCCESS markers, .crc checksums), never table files
          val hidden = rootP.relativize(p).iterator().asScala.exists { s =>
            val seg = s.toString
            seg.startsWith(".") || seg.startsWith("_")
          }
          hidden || MetaDoc.matches(n) || n == "version-hint.text"
        }
    var young = 0
    val orphans = candidates.filter { p =>
      if (referenced.contains(p.toString)) false
      else if (store.mtimeMs(p) >= cutoff) { young += 1; false }
      else true
    }
    if (!dryRun) orphans.foreach(store.deleteFile(_))
    OrphanSweep(candidates.size, referenced.size, young,
      orphans.map(_.toString).sorted, deleted = !dryRun)
  }

  /** KEYED UPSERT via merge-on-read — the Flink/Iceberg CDC write
    * shape: ONE snapshot carrying BOTH a v2 equality-delete file on
    * `key` (the source's keys) AND the new images as ordinary data
    * files. Both land at the same sequence number S; per the spec's
    * strict ordering an equality delete applies only to data files
    * with seq < S, so the delete retires every OLD image of the
    * source's keys while the NEW images — at seq S themselves —
    * survive their own delete. Net effect: matched keys replace,
    * unmatched keys insert, ZERO existing data files read or
    * rewritten, atomically (one conditional-put metadata commit).
    *
    * Contract: `source` unique and non-null per `key` (a CDC batch
    * deduped to its latest record), the table unique per `key` (the
    * delete removes every row carrying a source key). The snapshot's
    * summary operation is `overwrite` — streaming tails refuse it by
    * default, correctly: rows changed. Returns the new snapshot id;
    * empty source commits nothing. */
  def upsertKeyed(spark: SparkSession, root: String,
      source: org.apache.spark.sql.DataFrame, key: String): Long = {
    import org.apache.spark.sql.functions.col
    val (v, meta) = currentMeta(root)
    requireKnownVersion(meta)
    val (schema, nameById) = schemaOf(meta)
    val idByName = nameById.map(_.swap)
    // PARTITIONED specs: new images split per tuple like append; the
    // equality delete is GLOBAL (unpartitioned spec, empty tuple)
    val specFields = specFieldsOf(meta, nameById)
    val typeOfU = schema.fields.map(f => f.name -> f.dataType).toMap
    val eSchemaU = manifestSchemaFor(specFields.map(f =>
      (f.name, f.fieldId, f.transform.resultType(typeOfU(f.srcCol)))))
    val dataSpecId = if (meta.hasNonNull("default-spec-id"))
      meta.get("default-spec-id").asInt() else 0
    val metaOut = meta.deepCopy[
      com.fasterxml.jackson.databind.node.ObjectNode]
    val delSpecId =
      if (specFields.isEmpty) dataSpecId
      else ensureUnpartitionedSpec(metaOut)
    val tbl = schema.fields.map(f => f.name -> f.dataType).toMap
    val bad = source.schema.fields.filter(f =>
      !tbl.get(f.name).contains(f.dataType))
    require(bad.isEmpty && source.schema.length == schema.length,
      s"iceberg-meta: upsert schema mismatch on ${bad.map(_.name).mkString(", ")}")
    require(schema.fieldNames.contains(key),
      s"iceberg-meta: no key column '$key'")
    // One source pass: count + the unique-and-non-null key check
    // (countDistinct ignores nulls, so equality with the total count
    // enforces both) — was two sequential jobs.
    val pre = source.agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.countDistinct(col(key))).head()
    val n = pre.getLong(0)
    if (n == 0) return snapshot(root).snapshotId
    require(pre.getLong(1) == n,
      "iceberg-meta upsert: source must be unique and non-null per key")
    // new images as ordinary data files (per tuple when partitioned)
    val orderedU = source.select(
      schema.fieldNames.head, schema.fieldNames.tail: _*)
    val dataEntries = landData(orderedU, root, specFields, typeOfU,
      "part").map {
      case (file, tuple) => dataFileEntry(file, schema, idByName,
        entrySchema = eSchemaU, partitionTuple = tuple)
    }
    val addedRows = dataEntries.map(e => asLong(e.get("data_file")
      .asInstanceOf[GenericRecord].get("record_count"))).sum
    // the keys as ONE equality-delete file (the source is non-empty)
    val delFile = StagedFiles.land(spark, root, "data", "eq-delete-upsert",
        keepPartitionDirs = false) { staging =>
      stageParquet(source.select(col(key)).distinct().coalesce(1),
        staging.toString)
    }.head
    val delEntry = dataFileEntry(delFile,
      org.apache.spark.sql.types.StructType(
        schema.fields.filter(_.name == key)),
      idByName, content = 2, equalityIds = Seq(idByName(key)))
    val seq = (if (meta.hasNonNull("last-sequence-number"))
      meta.get("last-sequence-number").asLong() else 0L) + 1
    val snapId = java.util.UUID.randomUUID().getLeastSignificantBits
      .abs.max(1L)
    val dataManifestRel = s"metadata/snap-$snapId-m0.avro"
    writeAvro(Paths.get(root, dataManifestRel), eSchemaU,
      dataEntries.toSeq)
    val delManifestRel = s"metadata/snap-$snapId-m1.avro"
    writeAvro(Paths.get(root, delManifestRel), manifestSchema, Seq(delEntry))
    val listRel = s"metadata/snap-$snapId.avro"
    val rowIdBaseU: Option[Long] =
      if (meta.hasNonNull("next-row-id"))
        Some(meta.get("next-row-id").asLong()) else None
    writeAvro(Paths.get(root, listRel), manifestListSchema,
      carriedManifests(root, meta) ++ Seq(
        manifestListRow(dataManifestRel,
          Files.size(Paths.get(root, dataManifestRel)), dataSpecId, seq,
          snapId, dataEntries.size, 0, addedRows, 0L,
          firstRowId = rowIdBaseU),
        manifestListRow(delManifestRel,
          Files.size(Paths.get(root, delManifestRel)), delSpecId, seq,
          snapId, 1, 0, 0L, 0L, content = 1)))
    commitSnapshot(root, v, metaOut, snapId, seq, listRel, "overwrite",
      addedRows = addedRows)
  }

  /** Row-level DELETE by VALUE via a v2 EQUALITY delete file — the
    * streaming-upsert primitive: `values`' columns name a subset of
    * the table's top-level fields (the equality columns), and every
    * row already in the table whose equality columns match a `values`
    * row null-safely is deleted, WITHOUT reading a single data file.
    * The commit lands one content=2 delete parquet + one delete
    * manifest (equality_ids = the table field ids of the columns) in
    * a new snapshot at sequence number last+1; per the spec's
    * strict-ordering rule the delete applies only to data files with
    * an OLDER sequence number, so a later [[append]] re-inserting a
    * deleted key survives. Same conditional-put commit protocol as
    * [[append]]; prior snapshots stay time-travelable. Returns the
    * new snapshot id — or the current one when `values` is empty.
    *
    * Cost shape at 100 TB: O(delete values) written, ZERO data files
    * read or rewritten — cheaper than positional deletes (which must
    * scan to find positions); the read side pays one broadcast
    * anti-join per equality-column set ([[IcebergMetaRead.morRead]]). */
  def deleteEquality(spark: SparkSession, root: String,
      values: org.apache.spark.sql.DataFrame): Long = {
    val (v, meta) = currentMeta(root)
    requireKnownVersion(meta)
    // on a PARTITIONED table the delete is GLOBAL: its manifest
    // rides an unpartitioned spec (added to the document if absent),
    // whose empty tuple is the truthful one for a table-wide delete
    val metaOut = meta.deepCopy[
      com.fasterxml.jackson.databind.node.ObjectNode]
    val delSpecId = ensureUnpartitionedSpec(metaOut)
    val (schema, nameById) = schemaOf(meta)
    val idByName = nameById.map(_.swap)
    val tbl = schema.fields.map(f => f.name -> f.dataType).toMap
    val bad = values.schema.fields.filter(f =>
      !tbl.get(f.name).contains(f.dataType))
    require(bad.isEmpty,
      s"iceberg-meta: equality columns must match table fields by " +
        s"name and type — mismatched: ${bad.map(_.name).mkString(", ")}")
    val eqCols = values.columns.toSeq
    require(eqCols.nonEmpty, "iceberg-meta: no equality columns")
    // geo values have no defined equality (coordinate bytes vs shape);
    // the read-side anti-join could not compare them either
    require(!eqCols.exists(c => tbl.get(c).exists(isGeoType)),
      "iceberg-meta: equality delete on a geometry/geography column " +
        "is not supported")
    val eqIds = eqCols.map(idByName)
    // one file: delete batches are value-lists, small by contract;
    // empty values land none → no-op, no empty commit
    val entries = StagedFiles.land(spark, root, "data", "eq-delete",
        keepPartitionDirs = false) { staging =>
      stageParquet(values.distinct().coalesce(1), staging.toString)
    }.map(file => dataFileEntry(file,
      org.apache.spark.sql.types.StructType(
        schema.fields.filter(f => eqCols.contains(f.name))),
      idByName, content = 2, equalityIds = eqIds))
    if (entries.isEmpty) return snapshot(root).snapshotId
    val seq = (if (meta.hasNonNull("last-sequence-number"))
      meta.get("last-sequence-number").asLong() else 0L) + 1
    val snapId = java.util.UUID.randomUUID().getLeastSignificantBits
      .abs.max(1L)
    val manifestRel = s"metadata/snap-$snapId-m0.avro"
    writeAvro(Paths.get(root, manifestRel), manifestSchema, entries)
    val listRel = s"metadata/snap-$snapId.avro"
    writeAvro(Paths.get(root, listRel), manifestListSchema,
      carriedManifests(root, meta) :+ manifestListRow(manifestRel,
        Files.size(Paths.get(root, manifestRel)), delSpecId, seq, snapId,
        entries.size, 0, 0L, 0L, content = 1))
    commitSnapshot(root, v, metaOut, snapId, seq, listRel, "delete")
  }

  /** Clone a manifest entry's parsed `data_file` record into THIS
    * writer's schema — bounds/null-count maps re-keyed through the
    * same decoders the reader uses (so both real Avro maps and the
    * key/value-array encoding survive the round trip byte-exact). */
  private def copyDataFile(src: GenericRecord,
      entrySchema: Schema = manifestSchema): GenericRecord = {
    val dfSchema = entrySchema.getField("data_file").schema()
    val d = new GenericData.Record(dfSchema)
    d.put("content", fieldOpt(src, "content").map(asLong(_).toInt)
      .getOrElse(0))
    d.put("file_path", asStr(src.get("file_path")))
    d.put("file_format", asStr(src.get("file_format")))
    // a partitioned target schema carries the tuple across the copy
    // (field-by-name; a field the source lacks stays NULL)
    if (dfSchema.getField("partition") != null) {
      val pSchema = dfSchema.getField("partition").schema()
      val pr = new GenericData.Record(pSchema)
      fieldOpt(src, "partition").foreach {
        case sp: GenericRecord =>
          pSchema.getFields.asScala.foreach { f =>
            if (sp.getSchema.getField(f.name()) != null)
              pr.put(f.name(), sp.get(f.name()) match {
                case u: org.apache.avro.util.Utf8 => u.toString
                case x => x
              })
          }
        case _ => ()
      }
      d.put("partition", pr)
    }
    d.put("record_count",
      java.lang.Long.valueOf(asLong(src.get("record_count"))))
    d.put("file_size_in_bytes", java.lang.Long.valueOf(
      fieldOpt(src, "file_size_in_bytes").map(asLong).getOrElse(0L)))
    val lower = new java.util.HashMap[String, ByteBuffer]()
    fieldOpt(src, "lower_bounds").map(asIdMap).getOrElse(Map.empty)
      .foreach { case (id, b) => lower.put(id.toString, ByteBuffer.wrap(b)) }
    val upper = new java.util.HashMap[String, ByteBuffer]()
    fieldOpt(src, "upper_bounds").map(asIdMap).getOrElse(Map.empty)
      .foreach { case (id, b) => upper.put(id.toString, ByteBuffer.wrap(b)) }
    val nulls = new java.util.HashMap[String, java.lang.Long]()
    fieldOpt(src, "null_value_counts").map(asIdLongMap).getOrElse(Map.empty)
      .foreach { case (id, n) => nulls.put(id.toString,
        java.lang.Long.valueOf(n)) }
    d.put("null_value_counts", nulls)
    d.put("lower_bounds", lower)
    d.put("upper_bounds", upper)
    d
  }

  /** One rewritten-manifest entry: `status` 0 = EXISTING (file carried
    * across the rewrite) or 2 = DELETED (file retired by it), with the
    * entry's ORIGINAL data sequence number written EXPLICITLY — the
    * spec allows seq inheritance only for entries the committing
    * snapshot itself ADDS, and an inherited (new) seq here would
    * detach older equality deletes from carried files and resurrect
    * their rows. */
  private def carriedEntry(dataFile: GenericRecord, status: Int,
      snapshotId: Long, seq: Long,
      entrySchema: Schema = manifestSchema): GenericRecord = {
    val r = new GenericData.Record(entrySchema)
    r.put("status", status)
    r.put("snapshot_id", java.lang.Long.valueOf(snapshotId))
    r.put("sequence_number", java.lang.Long.valueOf(seq))
    r.put("data_file", dataFile)
    r
  }

  /** The `table$snapshots` metadata relation every Iceberg engine
    * exposes — one row per snapshot in the CURRENT metadata document,
    * ascending by sequence number, straight from the already-parsed
    * JSON (zero manifest or data I/O; the frame is metadata-sized by
    * construction, like GRAFT HISTORY / DETAIL on the other formats).
    * Surfaced in SQL as the `iceberg_snapshots('root')` TVF. */
  def snapshotsFrame(spark: SparkSession, root: String)
      : org.apache.spark.sql.DataFrame = {
    val (_, meta) = currentMeta(root)
    val rows: Seq[org.apache.spark.sql.Row] =
      if (!meta.hasNonNull("snapshots")) Nil
      else meta.get("snapshots").elements().asScala.toSeq.map { s =>
        org.apache.spark.sql.Row(
          if (s.hasNonNull("timestamp-ms"))
            new java.sql.Timestamp(s.get("timestamp-ms").asLong())
          else null,
          s.get("snapshot-id").asLong(),
          if (s.hasNonNull("parent-snapshot-id"))
            Long.box(s.get("parent-snapshot-id").asLong()) else null,
          if (s.hasNonNull("sequence-number"))
            s.get("sequence-number").asLong() else 0L,
          Option(s.get("summary")).filter(_.hasNonNull("operation"))
            .map(_.get("operation").asText()).orNull,
          s.get("manifest-list").asText(),
          if (s.hasNonNull("first-row-id"))
            Long.box(s.get("first-row-id").asLong()) else null)
      }.sortBy(_.getLong(3))
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("committed_at", TimestampType, nullable = true),
      StructField("snapshot_id", LongType, nullable = false),
      StructField("parent_id", LongType, nullable = true),
      StructField("sequence_number", LongType, nullable = false),
      StructField("operation", StringType, nullable = true),
      StructField("manifest_list", StringType, nullable = true),
      StructField("first_row_id", LongType, nullable = true))))
  }

  /** Per-column NDV from the metadata document's `statistics` field
    * (the spec's StatisticsFile list): the entry for `snapshotId`
    * (default current) — or, when none matches exactly, the most
    * recently RECORDED entry (stats are estimates; Iceberg engines
    * use an ancestor's file the same way) — is resolved through its
    * Puffin footer, and each `apache-datasketches-theta-v1` blob
    * yields its column's NDV: the blob's `ndv` property when present
    * (what Iceberg itself writes and reads), else the decoded sketch
    * estimate ([[Puffin.thetaEstimate]]). Nested field ids and
    * foreign blob types are skipped, not errors. Driver-only metadata
    * I/O: one footer + at most one small blob read per column. */
  def columnNdv(root: String,
      snapshotId: Option[Long] = None): Map[String, Long] = {
    val (_, meta) = currentMeta(root)
    if (!meta.hasNonNull("statistics")) return Map.empty
    val entries = meta.get("statistics").elements().asScala.toSeq
    if (entries.isEmpty) return Map.empty
    val sid = snapshotId.orElse(
      if (meta.hasNonNull("current-snapshot-id") &&
        meta.get("current-snapshot-id").asLong() != -1L)
        Some(meta.get("current-snapshot-id").asLong())
      else None)
    val entry = sid.flatMap(s => entries.find(
      _.get("snapshot-id").asLong() == s)).getOrElse(entries.last)
    val (_, nameById) = schemaOf(meta)
    val path = Paths.get(
      resolvePath(root, entry.get("statistics-path").asText()))
    val footer = Puffin.readFooter(path)
    footer.blobs.filter(_.blobType == Puffin.ThetaV1).flatMap { b =>
      if (b.fields.size != 1) None
      else nameById.get(b.fields.head).map { name =>
        name -> b.properties.get("ndv").map(_.toLong).getOrElse {
          require(b.compressionCodec.isEmpty,
            s"iceberg-meta: compressed theta blob for field $name " +
              s"of $root (${b.compressionCodec.get}) not supported")
          Puffin.thetaEstimate(Puffin.readBlob(path, b.offset, b.length))
        }
      }
    }.toMap
  }

  /** Column types [[writeStatistics]] sketches (theta over anything
    * hashable; this writer covers the bound-decodable primitives). */
  private def ndvSupported(dt: DataType): Boolean = dt match {
    case BooleanType | IntegerType | LongType | FloatType |
         DoubleType | StringType | DateType | TimestampType |
         TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** ANALYZE — compute per-column NDV over the CURRENT snapshot's
    * visible rows and publish a Puffin statistics file through the
    * metadata document's `statistics` field (the spec's
    * StatisticsFile shape; same flow as Iceberg's
    * `compute_table_stats` procedure — a metadata UPDATE, no new
    * snapshot). Each column lands as one
    * `apache-datasketches-theta-v1` blob whose `ndv` property carries
    * the estimate; prior entries for OTHER snapshots are kept (time
    * travel keeps its stats), a prior entry for THIS snapshot is
    * replaced.
    *
    * `exact` = one count(DISTINCT) shuffle per column (the oracle-
    * checkable form); default is approx_count_distinct (HLL++) — ONE
    * pass, no shuffle, the 100 TB posture. The scan projects only the
    * sketched columns (columnar parquet: untouched columns unread).
    * Feeds [[graft.ext]]'s CBO stats rule, which turns equality-
    * filter selectivity into real join build-side choices. Returns
    * the per-column NDV map. */
  def writeStatistics(spark: SparkSession, root: String,
      columns: Seq[String] = Nil,
      exact: Boolean = false): Map[String, Long] = {
    import org.apache.spark.sql.functions.{approx_count_distinct,
      col, countDistinct}
    gateMirrorWrite(root, "ANALYZE") // early: before the NDV job runs
    val (v, meta) = currentMeta(root)
    requireKnownVersion(meta)
    require(meta.hasNonNull("current-snapshot-id") &&
      meta.get("current-snapshot-id").asLong() != -1L,
      s"iceberg-meta: $root has no current snapshot to analyze")
    val sid = meta.get("current-snapshot-id").asLong()
    val seq = if (meta.hasNonNull("last-sequence-number"))
      meta.get("last-sequence-number").asLong() else 0L
    val (schema, nameById) = schemaOf(meta)
    val idByName = nameById.map(_.swap)
    val targets =
      if (columns.nonEmpty) {
        columns.foreach { c =>
          val f = schema.fields.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"iceberg-meta ANALYZE: no column '$c' in $root"))
          require(ndvSupported(f.dataType),
            s"iceberg-meta ANALYZE: column '$c' of type " +
              s"${f.dataType} is not sketchable")
        }
        columns
      } else schema.fields.filter(f => ndvSupported(f.dataType))
        .map(_.name).toSeq
    require(targets.nonEmpty,
      s"iceberg-meta ANALYZE: no sketchable columns in $root")
    val df = spark.read.format("iceberg-meta").load(root)
      .select(targets.map(c => col(s"`$c`")): _*)
    val aggs = targets.map(c =>
      if (exact) countDistinct(col(s"`$c`"))
      else approx_count_distinct(col(s"`$c`")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val ndvs = targets.zipWithIndex.map { case (c, i) =>
      idByName(c) -> row.getLong(i)
    }
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val statsRel = s"metadata/$sid-$nonce.stats"
    val written = Puffin.writeStatsFile(
      Paths.get(root, statsRel), sid, seq, ndvs)
    val newMeta = meta
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val keep =
      if (!meta.hasNonNull("statistics")) Nil
      else meta.get("statistics").elements().asScala.toSeq
        .filter(_.get("snapshot-id").asLong() != sid)
        .map(_.deepCopy[JsonNode]())
    val arr = newMeta.putArray("statistics")
    keep.foreach(arr.add)
    val entry = arr.addObject()
    entry.put("snapshot-id", sid)
    // the spec's StatisticsFile carries a FULL file location (unlike
    // this writer's relocatable-relative manifest paths, a stated
    // divergence) — a foreign engine reading the published metadata,
    // the UniForm mirror especially, resolves statistics-path as-is
    entry.put("statistics-path",
      Paths.get(root, statsRel).toAbsolutePath.normalize.toString)
    entry.put("file-size-in-bytes", written.fileSize)
    entry.put("file-footer-size-in-bytes", written.footerSize)
    val bm = entry.putArray("blob-metadata")
    written.blobs.foreach { b =>
      val n = bm.addObject()
      n.put("type", Puffin.ThetaV1)
      n.put("snapshot-id", sid)
      n.put("sequence-number", seq)
      n.putArray("fields").add(b.fieldId)
      n.putObject("properties").put("ndv", b.ndv.toString)
    }
    newMeta.put("last-updated-ms", System.currentTimeMillis())
    commitMeta(root, v, newMeta, meta)
    // a re-ANALYZE REPLACES this snapshot's statistics entry without
    // moving the snapshot — the CBO rule's (root, snapshot) cache
    // must drop its now-stale NDVs so the very next plan sees them
    graft.ext.IcebergCboStats.invalidate(root, sid)
    targets.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }.toMap
  }

  /** The `table$manifests` metadata relation — one row per manifest
    * in the current (or requested) snapshot's manifest LIST: the
    * planning-cost surface [[rewriteManifests]] maintains (each row
    * is one avro open per query plan). One small avro read; no
    * manifest or data I/O. SQL: `iceberg_manifests('root')`. */
  def manifestsFrame(spark: SparkSession, root: String,
      snapshotId: Option[Long] = None)
      : org.apache.spark.sql.DataFrame = {
    val (_, meta) = currentMeta(root)
    val sid = snapshotId.getOrElse {
      require(meta.hasNonNull("current-snapshot-id") &&
        meta.get("current-snapshot-id").asLong() != -1L,
        s"iceberg-meta: $root has no current snapshot")
      meta.get("current-snapshot-id").asLong()
    }
    val snapNode = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == sid)
      .getOrElse(throw new IllegalArgumentException(
        s"iceberg-meta: snapshot $sid not in $root"))
    val rows = readAvro(
      resolvePath(root, snapNode.get("manifest-list").asText()))
      .map { r =>
        org.apache.spark.sql.Row(
          asStr(r.get("manifest_path")),
          asLong(r.get("manifest_length")),
          fieldOpt(r, "content").map(asLong).getOrElse(0L).toInt,
          fieldOpt(r, "partition_spec_id").map(asLong)
            .getOrElse(0L).toInt,
          fieldOpt(r, "sequence_number").map(asLong).getOrElse(0L),
          fieldOpt(r, "min_sequence_number").map(asLong).getOrElse(0L),
          fieldOpt(r, "added_snapshot_id").map(asLong).getOrElse(sid),
          fieldOpt(r, "added_files_count").map(asLong)
            .getOrElse(0L).toInt,
          fieldOpt(r, "existing_files_count").map(asLong)
            .getOrElse(0L).toInt,
          fieldOpt(r, "deleted_files_count").map(asLong)
            .getOrElse(0L).toInt,
          fieldOpt(r, "added_rows_count").map(asLong).getOrElse(0L),
          fieldOpt(r, "existing_rows_count").map(asLong).getOrElse(0L))
      }.sortBy(r => (r.getInt(2), r.getString(0)))
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("length", LongType, nullable = false),
      StructField("content", IntegerType, nullable = false),
      StructField("partition_spec_id", IntegerType, nullable = false),
      StructField("sequence_number", LongType, nullable = false),
      StructField("min_sequence_number", LongType, nullable = false),
      StructField("added_snapshot_id", LongType, nullable = false),
      StructField("added_data_files_count", IntegerType,
        nullable = false),
      StructField("existing_data_files_count", IntegerType,
        nullable = false),
      StructField("deleted_data_files_count", IntegerType,
        nullable = false),
      StructField("added_rows_count", LongType, nullable = false),
      StructField("existing_rows_count", LongType, nullable = false))))
  }

  /** The `table$refs` metadata relation — one row per named ref
    * (tags and branches) with its pinned snapshot, from the metadata
    * document alone. SQL: `iceberg_refs('root')`. */
  def refsFrame(spark: SparkSession, root: String)
      : org.apache.spark.sql.DataFrame = {
    val rows = refs(root).toSeq.sortBy(_._1).map { case (n, (id, t)) =>
      org.apache.spark.sql.Row(n, t, id)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("type", StringType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false))))
  }

  /** The `table$files` metadata relation — one row per LIVE file of
    * the current (or requested) snapshot, from the manifest replay
    * alone: data files (content 0), positional/equality delete files
    * (1/2), and v3 deletion vectors (content 1, format `puffin`,
    * `record_count` = cardinality, `referenced_data_file` set).
    * Columns this replay does not retain for a kind (e.g. a delete
    * parquet's row count) surface NULL rather than a guess. SQL:
    * `iceberg_files('root' [, snapshotId])`. */
  def filesFrame(spark: SparkSession, root: String,
      snapshotId: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val snap = snapshot(root, snapshotId)
    def r(content: Int, path: String, format: String,
        specId: Any, seq: Long, records: Any, size: Any,
        firstRowId: Any, refFile: String): org.apache.spark.sql.Row =
      org.apache.spark.sql.Row(content, path, format, specId, seq,
        records, size, firstRowId, refFile)
    val rows: Seq[org.apache.spark.sql.Row] =
      snap.files.map(f => r(0, f.recordedPath, "parquet",
        Int.box(f.specId), f.seq, Long.box(f.records),
        Long.box(f.sizeBytes), f.firstRowId.map(Long.box).orNull,
        null)) ++
      snap.deletes.map(d => r(1, d.path, "parquet", null, d.seq,
        null, null, null, null)) ++
      snap.eqDeletes.map(d => r(2, d.path, "parquet", null, d.seq,
        null, null, null, null)) ++
      snap.dvs.map(d => r(1, d.recordedPath, "puffin",
        Int.box(d.specId), d.seq, Long.box(d.cardinality), null, null,
        d.referencedDataFile))
    spark.createDataFrame(
      rows.sortBy(r => (r.getInt(0), r.getString(1))).asJava,
      StructType(Seq(
        StructField("content", IntegerType, nullable = false),
        StructField("file_path", StringType, nullable = false),
        StructField("file_format", StringType, nullable = false),
        StructField("spec_id", IntegerType, nullable = true),
        StructField("sequence_number", LongType, nullable = false),
        StructField("record_count", LongType, nullable = true),
        StructField("file_size_in_bytes", LongType, nullable = true),
        StructField("first_row_id", LongType, nullable = true),
        StructField("referenced_data_file", StringType,
          nullable = true))))
  }

  /** Targeted COPY-ON-WRITE file replacement — the write primitive
    * under Iceberg-side UPDATE and conditional MERGE (the `overwrite`
    * snapshot of the spec): data files named in `removeRecorded` (by
    * their manifest-recorded `file_path`) leave the table state and
    * `replacement` lands as fresh data files, in ONE snapshot.
    *
    * Manifest algebra: delete manifests and data manifests holding no
    * removed file carry forward VERBATIM (their entries keep inheriting
    * their original sequence numbers from the carried list rows);
    * manifests that do hold removed files are rewritten into one
    * "rewrite" manifest — survivors as EXISTING and removed files as
    * DELETED, both with their original data sequence numbers written
    * explicitly ([[carriedEntry]]) so older equality deletes keep
    * applying to survivors. Replacement files land as ADDED entries
    * inheriting the NEW sequence number, which by the spec's strict
    * ordering (`file.seq < delete.seq`) puts them OUT of scope of every
    * existing equality delete — correct, because the caller already
    * materialized visibility when computing `replacement`. Positional
    * delete entries referencing removed paths go dangling (no data
    * file left to match) — harmless, reclaimed by [[compact]].
    *
    * Cost shape at 100 TB: O(removed files + replacement rows) data
    * I/O and O(manifests) metadata I/O; untouched data files are never
    * read or copied. Returns the new snapshot id, or the current one
    * when there is nothing to remove and nothing to add. */
  private[sources] def replaceFiles(spark: SparkSession, root: String,
      removeRecorded: Set[String],
      replacement: org.apache.spark.sql.DataFrame,
      operation: String = "overwrite",
      // v3: how many of the replacement's rows are NEW (merge
      // inserts, already carrying ids from next-row-id) — moves the
      // table's next-row-id in the same commit
      addedLineageRows: Long = 0L,
      // the caller ASSERTS removeRecorded covers every live data
      // file (the plain OVERWRITE shape — [[overwrite]] passes it
      // from the snapshot it already holds); the manifest walk below
      // VERIFIES the claim, so no extra snapshot replay is paid on
      // the targeted UPDATE/MERGE hot path
      replaceAllHint: Boolean = false): Long = {
    gateMirrorWrite(root, "OVERWRITE/REWRITE")
    val (v, meta) = currentMeta(root)
    // v3: a TARGETED rewrite is admitted only when the caller threads
    // row lineage through — the replacement frame must carry the
    // materialized _row_id / _last_updated_sequence_number columns
    // (the v3 COW UPDATE does; an un-threaded path refuses with the
    // restamp reason). A REPLACE-ALL rewrite has no surviving rows,
    // hence NO preservation obligation: the replacement lands with
    // fresh inheritance-assigned ids exactly like an append, which
    // the spec permits.
    val lineageCols = Seq("_row_id", "_last_updated_sequence_number")
    val v3Lineage = requireKnownVersion(meta) == 3
    val threaded = lineageCols.forall(replacement.columns.contains)
    // the fresh-id admission shape: un-threaded + total replacement
    val replaceAll = !threaded && replaceAllHint
    if (v3Lineage && !threaded && !replaceAll)
      requireRewritable(meta, "OVERWRITE/REWRITE")
    // materialize lineage columns into the staged files only on the
    // threaded path; replace-all stages plain data and assigns ids
    // by inheritance (manifest-list first_row_id below)
    val materialize = v3Lineage && threaded
    require(meta.hasNonNull("current-snapshot-id") &&
      meta.get("current-snapshot-id").asLong() != -1L,
      s"iceberg-meta: $root has no current snapshot to rewrite")
    val (schema, nameById) = schemaOf(meta)
    val idByName = nameById.map(_.swap)
    // a PARTITIONED default spec is honored: replacement files split
    // per tuple (transforms evaluated per the spec), rewritten/carried
    // entries keep their partition records through [[copyDataFile]]
    val specFields = specFieldsOf(meta, nameById)
    val typeOf = schema.fields.map(f => f.name -> f.dataType).toMap
    val eSchema = manifestSchemaFor(specFields.map(f =>
      (f.name, f.fieldId, f.transform.resultType(typeOf(f.srcCol)))))
    val specId = if (meta.hasNonNull("default-spec-id"))
      meta.get("default-spec-id").asInt() else 0

    // stage replacement rows, land as fresh data files (empty split
    // files are never listed)
    val keepCols = schema.fieldNames.toSeq ++
      (if (materialize) lineageCols else Nil)
    val ordered = replacement.select(keepCols.head, keepCols.tail: _*)
    val added = landData(ordered, root, specFields, typeOf, "cow").map {
      case (file, tuple) => dataFileEntry(file, schema, idByName,
        entrySchema = eSchema, partitionTuple = tuple)
    }
    val addedRows = added.map(e => asLong(e.get("data_file")
      .asInstanceOf[GenericRecord].get("record_count"))).sum

    // walk the current manifest list: carry, or rewrite
    val sid = meta.get("current-snapshot-id").asLong()
    val snapNode = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == sid)
      .getOrElse(throw new IllegalStateException(
        s"iceberg-meta: current snapshot $sid not in $root"))
    val listRows = readAvro(
      resolvePath(root, snapNode.get("manifest-list").asText()))
    val seq = (if (meta.hasNonNull("last-sequence-number"))
      meta.get("last-sequence-number").asLong() else 0L) + 1
    val snapId = java.util.UUID.randomUUID().getLeastSignificantBits
      .abs.max(1L)
    val carried = scala.collection.mutable.ListBuffer.empty[GenericRecord]
    val rewriteEntries =
      scala.collection.mutable.ListBuffer.empty[GenericRecord]
    var existingFiles, deletedFiles = 0
    var existingRows, deletedRows = 0L
    var minEntrySeq = Long.MaxValue
    val removedSeen = scala.collection.mutable.Set.empty[String]
    def carryRow(r: GenericRecord): Unit = carried += manifestListRow(
      asStr(r.get("manifest_path")),
      asLong(r.get("manifest_length")),
      fieldOpt(r, "partition_spec_id").map(asLong).getOrElse(0L).toInt,
      fieldOpt(r, "sequence_number").map(asLong).getOrElse(0L),
      fieldOpt(r, "added_snapshot_id").map(asLong).getOrElse(sid),
      fieldOpt(r, "added_files_count").map(asLong).getOrElse(0L).toInt,
      fieldOpt(r, "existing_files_count").map(asLong).getOrElse(0L).toInt,
      fieldOpt(r, "added_rows_count").map(asLong).getOrElse(0L),
      fieldOpt(r, "existing_rows_count").map(asLong).getOrElse(0L),
      fieldOpt(r, "content").map(asLong).getOrElse(0L).toInt)
    val (delRows, dataRows) = listRows.partition(r =>
      fieldOpt(r, "content").map(asLong).getOrElse(0L) == 1L)
    var survivorsOutside = 0 // live entries in carried-verbatim manifests
    dataRows.foreach { row =>
      {
        val mPath = resolvePath(root, asStr(row.get("manifest_path")))
        val live = readAvro(mPath).filter(e => asLong(e.get("status")) != 2)
        val (hit, kept) = live.partition(e => removeRecorded.contains(
          asStr(e.get("data_file").asInstanceOf[GenericRecord]
            .get("file_path"))))
        if (hit.isEmpty) { carryRow(row); survivorsOutside += live.size }
        else {
          val origSnap =
            fieldOpt(row, "added_snapshot_id").map(asLong).getOrElse(sid)
          def entrySeq(e: GenericRecord): Long =
            fieldOpt(e, "sequence_number").map(asLong).getOrElse(
              fieldOpt(row, "sequence_number").map(asLong).getOrElse(0L))
          kept.foreach { e =>
            val s = entrySeq(e)
            minEntrySeq = minEntrySeq.min(s)
            existingFiles += 1
            existingRows += asLong(e.get("data_file")
              .asInstanceOf[GenericRecord].get("record_count"))
            rewriteEntries += carriedEntry(copyDataFile(
              e.get("data_file").asInstanceOf[GenericRecord], eSchema),
              status = 0, origSnap, s, eSchema)
          }
          hit.foreach { e =>
            val s = entrySeq(e)
            minEntrySeq = minEntrySeq.min(s)
            deletedFiles += 1
            deletedRows += asLong(e.get("data_file")
              .asInstanceOf[GenericRecord].get("record_count"))
            removedSeen += asStr(e.get("data_file")
              .asInstanceOf[GenericRecord].get("file_path"))
            rewriteEntries += carriedEntry(copyDataFile(
              e.get("data_file").asInstanceOf[GenericRecord], eSchema),
              status = 2, snapId, s, eSchema)
          }
        }
      }
    }
    val unseen = removeRecorded -- removedSeen
    require(unseen.isEmpty,
      s"iceberg-meta: files to remove not in the current snapshot: ${
        unseen.toSeq.sorted.mkString(", ")}")
    // does the removal cover EVERY live data file? Decided from the
    // SAME manifest walk (no second snapshot replay): total ⇔ zero
    // surviving entries, rewritten or carried. The caller's
    // replace-all assertion is verified here, after the fact.
    val coversAll = existingFiles == 0 && survivorsOutside == 0
    require(!replaceAllHint || coversAll,
      s"iceberg-meta: replace-all overwrite would leave " +
        s"${existingFiles + survivorsOutside} surviving data " +
        "file(s) — the snapshot moved under the caller; retry")
    // delete manifests: carry verbatim — except on a total
    // replacement, where every target retires and the deletes with
    // them (carrying would dangle)
    if (!coversAll) delRows.foreach(carryRow)
    if (deletedFiles == 0 && added.isEmpty)
      return sid // nothing removed, nothing added: no empty commits
    val newRows = scala.collection.mutable.ListBuffer.empty[GenericRecord]
    if (rewriteEntries.nonEmpty) {
      val rel = s"metadata/snap-$snapId-r0.avro"
      writeAvro(Paths.get(root, rel), eSchema, rewriteEntries.toSeq)
      newRows += manifestListRow(rel, Files.size(Paths.get(root, rel)),
        specId, seq, snapId, 0, existingFiles, 0L, existingRows,
        minSeq = Some(if (minEntrySeq == Long.MaxValue) seq
          else minEntrySeq),
        deletedFiles = deletedFiles, deletedRows = deletedRows)
    }
    if (added.nonEmpty) {
      val rel = s"metadata/snap-$snapId-m0.avro"
      writeAvro(Paths.get(root, rel), eSchema, added.toSeq)
      newRows += manifestListRow(rel, Files.size(Paths.get(root, rel)),
        specId, seq, snapId, added.size, 0, addedRows, 0L,
        // replace-all on v3: the new manifest assigns fresh ids by
        // inheritance from the table's next-row-id, append-style
        firstRowId = if (replaceAll && meta.hasNonNull("next-row-id"))
          Some(meta.get("next-row-id").asLong()) else None)
    }
    val listRel = s"metadata/snap-$snapId.avro"
    writeAvro(Paths.get(root, listRel), manifestListSchema,
      carried.toSeq ++ newRows.toSeq)
    commitSnapshot(root, v, meta, snapId, seq, listRel, operation,
      addedRows = if (replaceAll) addedRows else addedLineageRows)
  }

  /** `rewrite_manifests` — Iceberg's METADATA-ONLY maintenance action
    * (the `RewriteManifests` table operation every engine exposes as
    * the `rewrite_manifests` procedure): collapse the manifest TREE —
    * one manifest per historical commit after N appends — into at
    * most `targetManifests` data manifests PER SPEC, clustered by
    * partition tuple then file path, with IDENTICAL file content:
    * every live entry restates as EXISTING (status 0) under its
    * ORIGINAL snapshot id and data sequence number (the spec licenses
    * seq inheritance only for entries the committing snapshot itself
    * adds — an inherited seq here would detach older deletes from the
    * carried files and resurrect rows), and on v3 row-lineage tables
    * each entry's resolved `first_row_id` materializes EXPLICITLY
    * (field id 142 — list-row inheritance cannot survive the move to
    * a new list row). Delete manifests (positional, equality, DV)
    * carry verbatim. Prior snapshots keep their own manifest lists —
    * time travel is untouched; [[expireSnapshots]] reclaims the small
    * superseded manifests later.
    *
    * Scale posture: this is the O(commits) PLANNING term — a snapshot
    * replay opens every manifest in the list, so a 10k-commit table
    * pays 10k small avro reads per query plan; rewriting to a few
    * clustered manifests makes planning O(live files / manifest) and
    * gives partition-ordered locality for range pruning. Driver-only
    * metadata I/O; zero data files read or written. Returns the new
    * snapshot id (current one unchanged when already compact). */
  def rewriteManifests(root: String, targetManifests: Int = 1): Long = {
    require(targetManifests >= 1,
      s"iceberg-meta: targetManifests must be >= 1, got $targetManifests")
    gateMirrorWrite(root, "REWRITE MANIFESTS")
    val (v, meta) = currentMeta(root)
    requireKnownVersion(meta)
    require(meta.hasNonNull("current-snapshot-id") &&
      meta.get("current-snapshot-id").asLong() != -1L,
      s"iceberg-meta: $root has no current snapshot")
    val (schema, nameById) = schemaOf(meta)
    val typeOf = schema.fields.map(f => f.name -> f.dataType).toMap
    val sid = meta.get("current-snapshot-id").asLong()
    val snapNode = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == sid)
      .getOrElse(throw new IllegalStateException(
        s"iceberg-meta: current snapshot $sid not in $root"))
    val listRows = readAvro(
      resolvePath(root, snapNode.get("manifest-list").asText()))
    val (delRows, dataRows) = listRows.partition(r =>
      fieldOpt(r, "content").map(asLong).getOrElse(0L) == 1L)
    if (dataRows.size <= targetManifests) return sid // already compact
    val lineage = meta.hasNonNull("next-row-id")
    val seq = (if (meta.hasNonNull("last-sequence-number"))
      meta.get("last-sequence-number").asLong() else 0L) + 1
    val snapId = java.util.UUID.randomUUID().getLeastSignificantBits
      .abs.max(1L)
    // the restating runs as a SPARK JOB — the driver holds only the
    // manifest LIST (one small tuple per manifest) and the final
    // manifest-list rows (≤ targetManifests per spec). At 10⁶ live
    // files the per-file GenericRecords (~1 KB each) would otherwise
    // be the one driver-memory growth term of this action — the same
    // reason Iceberg's own RewriteManifestsSparkAction distributes.
    // Executors resolve each entry ONCE (original snapshot, original
    // data sequence number, v3 inherited-or-explicit first_row_id —
    // mirroring [[snapshot]]'s inheritance rules), the cluster sort
    // is a distributed range sort, and each output manifest streams
    // from exactly one task.
    val spark = org.apache.spark.sql.SparkSession.active
    val sc = spark.sparkContext
    // spec fields as (name, fieldId, resultType) — the serializable
    // form executors rebuild each avro entry schema from
    val specIdsPresent = dataRows.map(r =>
      fieldOpt(r, "partition_spec_id").map(asLong).getOrElse(0L).toInt)
      .distinct.sorted
    val specInfo: Map[Int, Seq[(String, Int, DataType)]] =
      specIdsPresent.map { id =>
        id -> specFieldsOfId(meta, nameById, id).map(f =>
          (f.name, f.fieldId, f.transform.resultType(typeOf(f.srcCol))))
      }.toMap
    val rootStr = root
    val manifestTasks: Seq[(String, Long, Long, Option[Long], Int)] =
      dataRows.map { row =>
        (asStr(row.get("manifest_path")),
          fieldOpt(row, "sequence_number").map(asLong).getOrElse(0L),
          fieldOpt(row, "added_snapshot_id").map(asLong).getOrElse(sid),
          fieldOpt(row, "first_row_id").map(asLong),
          fieldOpt(row, "partition_spec_id").map(asLong)
            .getOrElse(0L).toInt)
      }
    val par = math.max(1, math.min(manifestTasks.size,
      sc.defaultParallelism))
    val entries = sc.parallelize(manifestTasks, par)
      .flatMap { case (mPath, mSeq, mSnap, mBase, rowSpec) =>
        val eSchema = manifestSchemaFor(specInfo(rowSpec),
          withFirstRowId = lineage)
        var assigned = 0L
        readAvro(resolvePath(rootStr, mPath)).flatMap { e =>
          if (asLong(e.get("status")) == 2) None
          else {
            val df0 = e.get("data_file").asInstanceOf[GenericRecord]
            val records = asLong(df0.get("record_count"))
            val explicitFr = fieldOpt(df0, "first_row_id").map(asLong)
            val fr = explicitFr.orElse(mBase.map(_ + assigned))
            if (explicitFr.isEmpty) assigned += records
            val df1 = copyDataFile(df0, eSchema)
            if (lineage) df1.put("first_row_id",
              fr.map(java.lang.Long.valueOf).orNull)
            val entry = carriedEntry(df1, status = 0,
              fieldOpt(e, "snapshot_id").map(asLong).getOrElse(mSnap),
              fieldOpt(e, "sequence_number").map(asLong).getOrElse(mSeq),
              eSchema)
            Some(RmEntry(rowSpec,
              fieldOpt(df1, "partition").map(_.toString).getOrElse(""),
              asStr(df0.get("file_path")),
              fieldOpt(e, "sequence_number").map(asLong).getOrElse(mSeq),
              records, encodeAvroRecord(eSchema, entry)))
          }
        }
      }
    entries.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newRows = scala.collection.mutable.ListBuffer.empty[GenericRecord]
    try {
      // exact per-spec count-based chunking (the prior semantics):
      // counts are a tiny map; offsets anchor the global sort order
      // (specId, partition, path) so chunk boundaries are exact
      val counts: Map[Int, Long] = entries.map(r => (r.specId, 1L))
        .reduceByKey(_ + _).collect().toMap
      if (counts.nonEmpty) {
        val specsSorted = counts.keys.toSeq.sorted
        val chunkSize: Map[Int, Long] = counts.map { case (s, c) =>
          s -> math.max(1L, math.ceil(c.toDouble / targetManifests).toLong)
        }
        val nChunks: Map[Int, Int] = counts.map { case (s, c) =>
          s -> math.ceil(c.toDouble / chunkSize(s)).toInt.max(1)
        }
        val specOffsets: Map[Int, Long] = specsSorted.map(s => s ->
          specsSorted.takeWhile(_ != s).map(counts).sum).toMap
        val chunkBase: Map[Int, Int] = specsSorted.map(s => s ->
          specsSorted.takeWhile(_ != s).map(nChunks).sum).toMap
        val totalChunks = nChunks.values.sum
        val sorted = entries.sortBy(r => (r.specId, r.part, r.path),
          numPartitions = math.max(1, math.min(totalChunks * 4,
            sc.defaultParallelism)))
        val keyed = sorted.zipWithIndex().map { case (r, gi) =>
          val local = gi - specOffsets(r.specId)
          val chunk = chunkBase(r.specId) +
            (local / chunkSize(r.specId)).toInt
          ((chunk, r.part, r.path), r)
        }
        val partitioner = new org.apache.spark.Partitioner {
          override def numPartitions: Int = totalChunks
          override def getPartition(key: Any): Int =
            key.asInstanceOf[(Int, String, String)]._1
        }
        // one output manifest per partition, STREAMED — no task ever
        // materializes its chunk
        val written = keyed
          .repartitionAndSortWithinPartitions(partitioner)
          .mapPartitionsWithIndex { (pid, it0) =>
            val it = it0.map(_._2)
            if (!it.hasNext) Iterator.empty
            else {
              val first = it.next()
              val eSchema = manifestSchemaFor(specInfo(first.specId),
                withFirstRowId = lineage)
              val rel = s"metadata/snap-$snapId-rm$pid.avro"
              val p = Paths.get(rootStr, rel)
              Files.createDirectories(p.getParent)
              val w = new DataFileWriter[GenericRecord](
                new GenericDatumWriter[GenericRecord](eSchema))
              w.create(eSchema, p.toFile)
              var files = 0
              var rows = 0L
              var minSeq = Long.MaxValue
              try (Iterator.single(first) ++ it).foreach { r =>
                w.append(decodeAvroRecord(eSchema, r.bytes))
                files += 1
                rows += r.records
                minSeq = math.min(minSeq, r.seq)
              } finally w.close()
              Iterator.single((pid, first.specId, files, rows, minSeq))
            }
          }.collect()
        written.sortBy(_._1).foreach {
          case (pid, specId, files, rows, minSeqC) =>
            val rel = s"metadata/snap-$snapId-rm$pid.avro"
            newRows += manifestListRow(rel,
              Files.size(Paths.get(root, rel)), specId, seq, snapId,
              0, files, 0L, rows, minSeq = Some(minSeqC))
        }
      }
    } finally entries.unpersist(blocking = false)
    // delete manifests carry VERBATIM — their list-row sequence
    // number is the seq their entries may still inherit, and their
    // min_sequence_number is what prunes them from newer scans
    val carriedDel = delRows.map { r =>
      manifestListRow(
        asStr(r.get("manifest_path")),
        asLong(r.get("manifest_length")),
        fieldOpt(r, "partition_spec_id").map(asLong).getOrElse(0L).toInt,
        fieldOpt(r, "sequence_number").map(asLong).getOrElse(0L),
        fieldOpt(r, "added_snapshot_id").map(asLong).getOrElse(sid),
        fieldOpt(r, "added_files_count").map(asLong).getOrElse(0L).toInt,
        fieldOpt(r, "existing_files_count").map(asLong).getOrElse(0L).toInt,
        fieldOpt(r, "added_rows_count").map(asLong).getOrElse(0L),
        fieldOpt(r, "existing_rows_count").map(asLong).getOrElse(0L),
        content = 1,
        minSeq = fieldOpt(r, "min_sequence_number").map(asLong))
    }
    val listRel = s"metadata/snap-$snapId.avro"
    writeAvro(Paths.get(root, listRel), manifestListSchema,
      newRows.toSeq ++ carriedDel)
    commitSnapshot(root, v, meta, snapId, seq, listRel, "replace")
  }

  /** Plain OVERWRITE — replace the table's ENTIRE contents with `df`
    * in one `overwrite` snapshot (prior snapshots stay
    * time-travelable): [[replaceFiles]] over every live data file.
    * Existing delete files (v2 parquet, v3 DVs) retire with their
    * targets. On v3 the replacement needs NO lineage threading — no
    * row survives, so fresh inheritance-assigned ids are spec-legal
    * (the mark moves by the new row count; pre-overwrite ids stay
    * readable through time travel). Schema must match the table's by
    * name and type, like [[append]]. */
  def overwrite(spark: SparkSession, root: String,
      df: org.apache.spark.sql.DataFrame,
      // refresh the Puffin NDV statistics after the replacement (the
      // landed files re-read column-pruned; the incoming frame is
      // NEVER recomputed for the sketch)
      withStats: Boolean = false): Long = {
    val snap = snapshot(root)
    val tbl = snap.schema.fields.map(f => f.name -> f.dataType).toMap
    val bad = df.schema.fields.filter(f =>
      !tbl.get(f.name).contains(f.dataType))
    require(bad.isEmpty && df.schema.length == snap.schema.length,
      s"iceberg-meta: overwrite schema mismatch on ${
        (bad.map(_.name) ++ (if (df.schema.length == snap.schema.length)
          Nil else Seq(s"arity ${df.schema.length}!=${snap.schema.length}")))
          .mkString(", ")}")
    val committed = replaceFiles(spark, root,
      snap.files.map(_.recordedPath).toSet, df, replaceAllHint = true)
    if (withStats) writeStatistics(spark, root)
    committed
  }

  /** MERGE INTO the Iceberg table with the full conditional clause
    * algebra — conditional/partial `WHEN MATCHED UPDATE/DELETE`,
    * conditional `WHEN NOT MATCHED INSERT`, `WHEN NOT MATCHED BY
    * SOURCE` — the same one-full-outer-join cascade as graft's own
    * [[VersionedTable.mergeConditional]] and the Delta interop's
    * ([[DeltaLog.mergeConditional]]), committed COPY-ON-WRITE via
    * [[replaceFiles]]: only data files whose `tKey` bounds (from the
    * manifests — zero data reads for targeting) overlap the source's
    * key envelope are read and rewritten; every file when a by-source
    * clause ranges over the whole target. Visibility is materialized
    * through the merge-on-read path first, so tables carrying v2
    * positional or equality deletes merge correctly — and their
    * touched files come out delete-free. Source keys must be unique
    * (Iceberg runtimes raise the same). For the unconditional
    * star-upsert shape prefer [[upsertKeyed]], which writes NO data
    * files at all. */
  def mergeConditional(spark: SparkSession, root: String,
      source: org.apache.spark.sql.DataFrame, tKey: String, sKey: String,
      matched: Seq[VersionedTable.MergeClause] = Nil,
      notMatched: Seq[VersionedTable.MergeClause] = Nil,
      bySource: Seq[VersionedTable.MergeClause] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    val snap = snapshot(root)
    MergeKernel.checkClauses(matched, notMatched, bySource)
    require(snap.schema.fieldNames.contains(tKey),
      s"no target column '$tKey'")
    require(source.columns.contains(sKey), s"no source column '$sKey'")
    // file targeting from manifest bounds alone — no data read
    val touched = MergeKernel.targetFiles(source, sKey, "iceberg-meta MERGE",
        bySource.nonEmpty, snap.files)(_.stats.get(tKey)) match {
      case None => return snap.snapshotId
      case Some(files) => files
    }
    val fv3 = formatVersion(root) == 3
    if (!fv3) {
      val tgtRows = IcebergMetaRead.morRead(spark,
        snap.copy(files = touched))
      val out = MergeKernel.mergeCascadeRows(tgtRows, source,
        snap.schema, tKey, sKey, matched, notMatched, bySource)
      return replaceFiles(spark, root,
        touched.map(_.recordedPath).toSet, out)
    }
    // v3 ROW LINEAGE through the merge, via the TAGGED cascade:
    // target rows enter with their ids (passThrough keeps them
    // verbatim, null on source-only rows); surviving carried rows
    // keep id and seq, 'update' rows keep id and restamp seq,
    // 'insert' rows get FRESH ids densely numbered from next-row-id
    // (one row_number window over the inserts alone — bounded by the
    // source, never the table) — and the mark moves by the insert
    // count in the same commit.
    import org.apache.spark.sql.functions.{lit, when}
    val lineageNames = Seq("_row_id", "_last_updated_sequence_number")
    val tgtRows = IcebergMetaRead.rowIdFrame(spark,
      snap.copy(files = touched))
    val newSeq = latestSequence(root) + 1
    val nextRowId = currentMeta(root)._2.get("next-row-id").asLong()
    val kept = MergeKernel.mergeCascadeTagged(tgtRows, source,
        snap.schema, tKey, sKey, matched, notMatched, bySource,
        passThrough = lineageNames)
      .filter(col("__keep"))
    val isIns = col("__ct") <=> lit("insert")
    val outCols = (snap.schema.fieldNames.toSeq ++ lineageNames).map(col)
    // Dense per-insert _row_id offsets via the range-partitioned
    // global row_number — inserted rows are change-volume-sized, but
    // an unpartitioned window would still funnel a bulk MERGE's
    // inserts through one task.
    val ins = graft.ops.WindowOps
      .globalRowNumber(kept.filter(isIns), Seq(col(tKey)), "__rid_rn")
      .withColumn("_row_id", lit(nextRowId - 1) + col("__rid_rn"))
      .withColumn("_last_updated_sequence_number", lit(newSeq))
      .select(outCols: _*)
    val nIns = ins.count()
    val old = kept.filter(!isIns)
      .withColumn("_last_updated_sequence_number",
        when(col("__ct") <=> lit("update"), lit(newSeq))
          .otherwise(col("_last_updated_sequence_number")))
      .select(outCols: _*)
    replaceFiles(spark, root, touched.map(_.recordedPath).toSet,
      old.unionByName(ins), addedLineageRows = nIns)
  }

  /** SQL UPDATE on the Iceberg table, copy-on-write: rows of the
    * touched files matching `cond` get each SET column replaced by its
    * expression — ALL evaluated against the PRE-update row (SQL UPDATE
    * semantics, one select), non-matching rows carry over verbatim,
    * untouched files never rewrite. Touched files come from the
    * MANIFEST bounds under `cond` ([[StatsPruning.mayMatchExpr]] —
    * conservative, zero data reads), and their rows are read through
    * the merge-on-read path, so existing v2 deletes stay applied and
    * the rewritten files come out delete-free. NULL `cond` keeps the
    * row (SQL). Returns the new snapshot id, or the current one when
    * nothing matches. */
  def updateWhere(spark: SparkSession, root: String,
      set: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)],
      cond: Option[org.apache.spark.sql.catalyst.expressions.Expression])
      : Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    require(set.map(_._1).distinct.size == set.size,
      s"duplicate SET column in ${set.map(_._1).mkString(", ")}")
    val snap = snapshot(root)
    val missing = set.map(_._1).toSet -- snap.schema.fieldNames.toSet
    require(missing.isEmpty,
      s"UPDATE SET names non-columns: ${missing.mkString(", ")}")
    // re-anchor analyzed expressions by NAME against the fresh scan
    def rebind(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      org.apache.spark.sql.GraftColumnBridge.column(e.transform {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            .quoted(a.name)
      })
    val condCol = cond.map(rebind).getOrElse(lit(true))
    val hit = coalesce(condCol, lit(false))
    // Analyze the rebound condition against an EMPTY frame carrying
    // the table schema: the result is fully-resolved catalyst nodes
    // the stats pruner can inspect — uniformly for the SQL route
    // (already analyzed) and the API route (whose Column-backed
    // expressions are opaque ColumnNode wrappers until analysis).
    // Unanalyzable conditions degrade to "touch every file", never
    // throw here (the real filter below surfaces the error).
    val forStats: Option[
        org.apache.spark.sql.catalyst.expressions.Expression] =
      cond.flatMap { _ =>
        scala.util.Try {
          spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              snap.schema)
            .filter(condCol).queryExecution.analyzed.collectFirst {
              case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
                f.condition
            }
        }.toOption.flatten
      }.map(_.transform {
        // fold the coercion casts analysis wraps literals in (e.g.
        // `k = 8` on a BIGINT column → `k = cast(8 as bigint)`) so
        // the pruner's Literal patterns see through them
        case e if e.foldable =>
          org.apache.spark.sql.catalyst.expressions.Literal.create(
            e.eval(), e.dataType)
      })
    val touched = forStats match {
      case Some(e) =>
        snap.files.filter(f => StatsPruning.mayMatchExpr(f.stats, e))
      case None => snap.files
    }
    if (touched.isEmpty) return snap.snapshotId
    // v3 ROW LINEAGE through the rewrite: touched rows read WITH
    // their ids; updated rows KEEP _row_id (the spec's stable-id
    // rule) and restamp _last_updated_sequence_number to this
    // commit's sequence number; carried rows keep both. The
    // rewritten files materialize the columns, replaceFiles keeps
    // them, and rowIdFrame coalesces them back at read.
    val fv3 = formatVersion(root) == 3
    val touchedRows =
      if (!fv3) IcebergMetaRead.morRead(spark, snap.copy(files = touched))
      else IcebergMetaRead.rowIdFrame(spark, snap.copy(files = touched))
    if (touchedRows.filter(condCol).isEmpty) return snap.snapshotId
    val setByCol = set.toMap
    val outCols = snap.schema.fields.toSeq.map { f =>
      setByCol.get(f.name) match {
        case Some(e) => when(hit, rebind(e)).otherwise(col(f.name))
          .cast(f.dataType).as(f.name)
        case None => col(f.name)
      }
    } ++ (if (!fv3) Nil else Seq(
      col("_row_id"),
      when(hit, lit(latestSequence(root) + 1))
        .otherwise(col("_last_updated_sequence_number"))
        .as("_last_updated_sequence_number")))
    val applied = touchedRows.select(outCols: _*)
    replaceFiles(spark, root, touched.map(_.recordedPath).toSet, applied)
  }
}
