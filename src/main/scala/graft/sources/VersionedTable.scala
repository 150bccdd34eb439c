package graft.sources

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A minimal versioned table format — the Delta/Iceberg-shaped
  * snapshot layer of the lakehouse (BASELINE.json north star: "Spark
  * reads/writes lakehouse formats"), built from first principles with
  * zero dependencies beyond Spark and the filesystem.
  *
  * Layout:
  * {{{
  *   <root>/data/v<version>-<nonce>/part-*.parquet   immutable data dirs
  *   <root>/_graft_log/v<%05d version>.txt           one manifest per commit
  * }}}
  *
  * Each manifest is a plain-text file:
  * {{{
  *   version=3
  *   action=append | overwrite
  *   file=data/v3-ab12/part-00000-....parquet        (one line per file)
  * }}}
  *
  * Semantics (the core of every table format):
  *  - '''Snapshot isolation''': a snapshot is the log replayed up to a
  *    version — `overwrite` resets the file set, `append` extends it.
  *    Readers list the log, pick the max contiguous version, and read
  *    exactly the files those manifests name. A writer's data files
  *    land BEFORE its manifest, so a half-finished write is invisible.
  *  - '''Atomic commit / optimistic concurrency''': the manifest is
  *    staged as a temp file and ATOMIC_MOVE'd to `v<N>.txt` with
  *    no-replace semantics; two writers racing to version N — one
  *    wins, the loser gets [[ConcurrentCommitException]] and retries
  *    on top of N. (Rename-as-commit is the local/HDFS protocol; an
  *    object store without atomic rename swaps this single primitive
  *    for a conditional PUT or a catalog lock — nothing else changes.)
  *  - '''Time travel''': `read(spark, root, Some(v))` replays the log
  *    only up to `v` — old data dirs are immutable, so every historic
  *    snapshot stays readable until vacuumed.
  *  - '''Compaction''': rewrites the CURRENT snapshot into one
  *    `overwrite` commit of fewer files; concurrent readers of older
  *    versions are unaffected (immutability again).
  *  - '''Vacuum''': deletes data dirs referenced ONLY by versions
  *    older than the retention horizon — the one operation that
  *    breaks time travel, so it is explicit and bounded.
  */
/** Iceberg-style partition TRANSFORMS — "hidden partitioning". The
  * table declares how file layout derives from a source column
  * (`bucket(8,user_id)`, `day(ts)`, `trunc(4,code)`); writers lay data
  * out by the TRANSFORM of the column and record each file's
  * (transform, value) tag in the manifest; readers convert a predicate
  * on the SOURCE column into partition-value pruning without the query
  * ever naming the partitioning — the query is `user_id = 42`, never
  * `bucket = 6`. The capability min/max stats cannot give: bucket
  * pruning answers point lookups on high-cardinality keys in ARRIVAL
  * order, where every file's raw min/max spans the whole domain.
  * Tags travel per FILE, not per table, so the spec can evolve
  * mid-table: each file prunes under the transform it was written
  * with, files without a tag (plain commits, compaction rewrites) are
  * simply always read — absence degrades to a scan, never to a wrong
  * answer.
  *
  * Reference tie-in: the reference's mart relies on Glue-crawled
  * Hive-style directory partitions (`README.md:44`); this is the
  * transform-typed, metadata-tracked form of the same idea.
  */
sealed trait PartitionTransform {
  /** Source column the transform reads. */
  def srcCol: String
  /** Canonical spec string, round-tripped through the log. */
  def spec: String
  /** Same transform over a different (physical) column name. */
  def rebind(c: String): PartitionTransform
  /** The transform as a Spark expression over `c` (declared type
    * `dt`), STRING-typed — partition values live in the
    * directory-name value domain. */
  def sparkExpr(c: org.apache.spark.sql.Column,
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column
  /** Driver-side transform of an equality-probe literal under the
    * column's declared type; None = can't evaluate, don't prune. */
  def probe(v: Any, dt: org.apache.spark.sql.types.DataType): Option[String]
}

object PartitionTransform {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col => _, _}
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}

  /** The probe literal as a Catalyst literal of the COLUMN's type —
    * the hash/compare must run over the same physical representation
    * the writer hashed, or bucket pruning would silently mis-prune. */
  private def catalystLit(v: Any, dt: DataType): Option[Literal] =
    (dt, v) match {
      case (LongType, n: Number)    => Some(Literal(n.longValue))
      case (IntegerType, n: Number) => Some(Literal(n.intValue))
      case (StringType, s: String)  => Some(Literal.create(s, StringType))
      case _                        => None
    }

  /** `bucket(n, c)`: Murmur3 hash of the value, mod n — Spark's own
    * `hash()` (seed 42), so the Spark-side layout expression and the
    * driver-side probe agree by construction. */
  final case class Bucket(n: Int, srcCol: String) extends PartitionTransform {
    require(n > 0, s"bucket count must be positive, got $n")
    val spec = s"bucket($n,$srcCol)"
    def rebind(c: String): PartitionTransform = copy(srcCol = c)
    def sparkExpr(c: Column, dt: DataType): Column =
      pmod(hash(c), lit(n)).cast("string")
    def probe(v: Any, dt: DataType): Option[String] =
      catalystLit(v, dt).map { l =>
        val h = new Murmur3Hash(Seq(l)).eval().asInstanceOf[Int]
        (((h % n) + n) % n).toString
      }
  }

  /** `trunc(w, c)`: ints floor to a multiple of `w` (`v - (v mod w)`,
    * floored mod — negatives bin correctly); strings keep the first
    * `w` UTF-16 units. The ordered cousin of bucket: ranges of the
    * source column map to ranges of the transform. */
  final case class Trunc(w: Int, srcCol: String) extends PartitionTransform {
    require(w > 0, s"truncate width must be positive, got $w")
    val spec = s"trunc($w,$srcCol)"
    def rebind(c: String): PartitionTransform = copy(srcCol = c)
    def sparkExpr(c: Column, dt: DataType): Column = dt match {
      case LongType | IntegerType =>
        (c.cast("long") - pmod(c.cast("long"), lit(w.toLong))).cast("string")
      case StringType => substring(c, 1, w)
      case other => throw new IllegalArgumentException(
        s"trunc($w,$srcCol): unsupported column type $other " +
          "(int, long, string)")
    }
    def probe(v: Any, dt: DataType): Option[String] = (dt, v) match {
      case (LongType, n: Number) =>
        val x = n.longValue; Some((x - Math.floorMod(x, w.toLong)).toString)
      case (IntegerType, n: Number) =>
        val x = n.intValue.toLong; Some((x - Math.floorMod(x, w.toLong)).toString)
      case (StringType, s: String) => Some(s.take(w))
      case _ => None
    }
  }

  /** `day(c)` over a DATE column: calendar-day value `yyyy-MM-dd` —
    * time-zone-free (dates carry no zone; timestamp day-bucketing is
    * zone-dependent and therefore NOT offered as a probe-able
    * transform). */
  final case class Day(srcCol: String) extends PartitionTransform {
    val spec = s"day($srcCol)"
    def rebind(c: String): PartitionTransform = copy(srcCol = c)
    def sparkExpr(c: Column, dt: DataType): Column = {
      require(dt == DateType,
        s"day($srcCol): column must be DATE, got $dt (cast a timestamp " +
          "to date explicitly — day-of-timestamp is zone-dependent)")
      date_format(c, "yyyy-MM-dd")
    }
    def probe(v: Any, dt: DataType): Option[String] = (dt, v) match {
      case (DateType, d: java.sql.Date)       => Some(d.toString)
      case (DateType, d: java.time.LocalDate) => Some(d.toString)
      case (DateType, s: String) => // normalize (2024-1-5 -> 2024-01-05)
        scala.util.Try(java.time.LocalDate.parse(s).toString).toOption
      case _ => None
    }
  }

  /** `identity(c)`: the raw value — classic Hive-style partitioning,
    * expressed in the same tagged-file machinery. */
  final case class Identity(srcCol: String) extends PartitionTransform {
    val spec = s"identity($srcCol)"
    def rebind(c: String): PartitionTransform = copy(srcCol = c)
    def sparkExpr(c: Column, dt: DataType): Column = c.cast("string")
    def probe(v: Any, dt: DataType): Option[String] = (dt, v) match {
      case (LongType, n: Number)    => Some(n.longValue.toString)
      case (IntegerType, n: Number) => Some(n.intValue.toString)
      case (StringType, s: String)  => Some(s)
      case _ => None
    }
  }

  // (?i) + \s*: tolerate the SQL surface's casing and spacing
  // (`PARTITION BY BUCKET(8, o_custkey)`); the canonical `spec`
  // written to the log is always the lowercase, space-free form
  private val BucketRe = """(?i)\s*bucket\(\s*(\d+)\s*,([^)]+)\)\s*""".r
  private val TruncRe  = """(?i)\s*trunc\(\s*(\d+)\s*,([^)]+)\)\s*""".r
  private val DayRe    = """(?i)\s*day\(([^)]+)\)\s*""".r
  private val IdentRe  = """(?i)\s*identity\(([^)]+)\)\s*""".r

  /** Parse a canonical spec string; throws on unknown forms. */
  def parse(s: String): PartitionTransform = parseOpt(s).getOrElse(
    throw new IllegalArgumentException(
      s"unknown partition transform '$s' — expected " +
        "bucket(n,col) | trunc(w,col) | day(col) | identity(col)"))

  /** Parse leniently: None for unknown forms, so a reader on an older
    * library version degrades a tag it can't interpret to
    * "don't prune" instead of failing the read. */
  def parseOpt(s: String): Option[PartitionTransform] = s match {
    case BucketRe(n, c) => Some(Bucket(n.toInt, c.trim))
    case TruncRe(w, c)  => Some(Trunc(w.toInt, c.trim))
    case DayRe(c)       => Some(Day(c.trim))
    case IdentRe(c)     => Some(Identity(c.trim))
    case _              => None
  }
}

object VersionedTable {

  final class ConcurrentCommitException(version: Long)
    extends RuntimeException(
      s"concurrent commit: version $version already exists — reload and retry")

  /** A prepared row-edit commit could NOT be rebased over commits that
    * landed since its basis snapshot: one of them logically conflicts
    * (rewrote/tombstoned a file this edit read, or changed the table's
    * schema/metadata). The operation must be recomputed from the
    * current snapshot — unlike [[ConcurrentCommitException]], which
    * only means a version slot was lost and never reaches callers of
    * the rebasing writers. */
  final class ConcurrentWriteConflictException(version: Long, reason: String)
    extends RuntimeException(
      s"concurrent write conflict at v$version: $reason — " +
        "recompute the operation from the current snapshot")

  private def logDir(root: String): Path = Paths.get(root, "_graft_log")

  // ---------------------------------------------------------------------
  // Log-storage seam ([[LogStore]]): every read/list/publish/delete of a
  // LOG artifact (manifest, checkpoint, ref) goes through the store
  // registered for the table's root — the hook that makes the commit
  // protocol portable to object stores (conditional PUT instead of
  // link(2)). Data-file I/O stays on Spark's Hadoop FileSystem layer by
  // design; see the LogStore scaladoc for the scope argument.
  // Registration is per root PREFIX so concurrently running tables (and
  // test suites) can use different stores without global state races.
  // ---------------------------------------------------------------------

  private val logStores =
    new java.util.concurrent.ConcurrentHashMap[String, LogStore]()

  /** Use `store` for every table whose root starts with `rootPrefix`
    * (longest registered prefix wins; unregistered roots use
    * [[PosixLogStore]]). */
  def registerLogStore(rootPrefix: String, store: LogStore): Unit =
    logStores.put(rootPrefix, store)

  def unregisterLogStore(rootPrefix: String): Unit =
    logStores.remove(rootPrefix)

  private[sources] def logIO(root: String): LogStore =
    if (logStores.isEmpty) PosixLogStore
    else {
      var best: String = null
      val it = logStores.keys()
      while (it.hasMoreElements) {
        val k = it.nextElement()
        if (root.startsWith(k) && (best == null || k.length > best.length))
          best = k
      }
      if (best == null) PosixLogStore else logStores.get(best)
    }

  // ---------------------------------------------------------------------
  // Data-storage seam ([[DataStore]]): the maintenance I/O that touches
  // data files OUTSIDE Spark's Hadoop FS layer — vacuum sweeps, fsck
  // existence checks, bloom sidecar bytes, per-file sizes, branch
  // listing/cleanup, and WAP publish's directory relocation. Same
  // prefix registry shape as the log seam.
  // ---------------------------------------------------------------------

  private val dataStores =
    new java.util.concurrent.ConcurrentHashMap[String, DataStore]()

  /** Use `store` for the data-path maintenance I/O of every table whose
    * root starts with `rootPrefix` (longest prefix wins; unregistered
    * roots use [[PosixDataStore]]). */
  def registerDataStore(rootPrefix: String, store: DataStore): Unit =
    dataStores.put(rootPrefix, store)

  def unregisterDataStore(rootPrefix: String): Unit =
    dataStores.remove(rootPrefix)

  private[sources] def dataIO(pathUnderRoot: String): DataStore =
    if (dataStores.isEmpty) PosixDataStore
    else {
      var best: String = null
      val it = dataStores.keys()
      while (it.hasMoreElements) {
        val k = it.nextElement()
        if (pathUnderRoot.startsWith(k) &&
            (best == null || k.length > best.length))
          best = k
      }
      if (best == null) PosixDataStore else dataStores.get(best)
    }

  /** Size of a log-referenced data file, through the seam. */
  private[sources] def dataSize(root: String, f: String): Long =
    dataIO(root).size(dataPath(root, f))

  /** Bytes of a log-referenced sidecar, through the seam (bloom
    * probes on the scan path). */
  private[sources] def readDataBytes(root: String, f: String): Array[Byte] =
    dataIO(root).readBytes(dataPath(root, f))

  /** Resolve a log-recorded data-file/sidecar reference to a
    * filesystem path. Plain entries are root-relative; `ext:`-prefixed
    * entries (written by [[cloneShallow]]) are absolute references
    * into the clone source's tree — read-only from this table's
    * perspective (vacuum/compact never delete through them). */
  private[sources] def dataPath(root: String, f: String): Path =
    if (f.startsWith("ext:")) Paths.get(f.stripPrefix("ext:"))
    else Paths.get(root, f)

  private def manifestPath(root: String, v: Long): Path =
    logDir(root).resolve(f"v$v%05d.txt")

  /** SHA-256 hex of manifest `v`'s exact on-disk bytes — the link in
    * the tamper-evidence chain ([[publish]] writes it as the NEXT
    * manifest's `parent=`; [[fsck]] re-derives and compares). */
  private def manifestHash(root: String, v: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(logIO(root).readBytes(manifestPath(root, v)))
      .map(b => f"$b%02x").mkString
  }

  /** The `parent=` line of manifest `v`, if present (manifests written
    * before the chain existed have none — fsck skips those links). */
  private def parentOf(root: String, v: Long): Option[String] =
    logIO(root).readLines(manifestPath(root, v))
      .collectFirst { case l if l.startsWith("parent=") => l.drop(7) }

  /** The directory DIRECTLY under `data/` that owns log-recorded file
    * `f` — the unit vacuum reclaims and fsck tracks. NOT simply the
    * file's parent: a partitioned commit ([[commit]] `partitionBy`)
    * nests its files one level deeper (`data/vN-x/<pv>=3/part…`), and
    * treating `<pv>=3` as the owning dir would make every partitioned
    * commit look unreferenced — vacuum would delete live data. */
  private def topDataDir(root: String, f: String): String = {
    val segs = f.split("/")
    if (segs.length >= 3 && segs(0) == "data") segs(1)
    else Paths.get(root, f).getParent.getFileName.toString
  }

  /** List a data directory's immediate children as paths, through the
    * data seam (absent dir = empty, object-store LIST semantics). */
  private def listDir(dir: Path): Seq[Path] =
    dataIO(dir.toString).listDir(dir).map(dir.resolve)

  /** Committed versions, ascending (gap-free prefix is guaranteed by
    * the commit protocol: version N only commits after N-1 exists).
    * The name match is `\d{5,}`: %05d is a MINIMUM width, so version
    * 100000 writes six digits — a 5-exact match would make it
    * invisible and brick the table at the 100k-th commit. */
  def versions(root: String): Seq[Long] =
    logIO(root).listDir(logDir(root))
      .collect { case n if n.matches("v\\d{5,}\\.txt") =>
        n.stripPrefix("v").stripSuffix(".txt").toLong }
      .sorted

  /** Latest committed version, or -1 for an empty table. */
  def latestVersion(root: String): Long =
    versions(root).lastOption.getOrElse(-1L)

  /** One `_graft_log` file as a record: a commit's manifest, or a
    * checkpoint (an `overwrite` restating the whole folded state).
    * Every graft commit describes itself as one of these; [[render]]
    * is the only writer of the line grammar and [[parseLog]] its only
    * reader (FORMAT.md "Manifest grammar"). `restoreOf`, `cloneSrc`
    * and `importSrc` are provenance: only [[branchBase]] reads one. */
  private[sources] case class Manifest(version: Long, action: String,
      files: Seq[String] = Nil,
      batchTag: Option[Long] = None,
      stats: Map[String, Map[String, ColStats]] = Map.empty, // file -> col -> stats
      schemaJson: Option[String] = None,
      removes: Seq[String] = Nil,
      tombFiles: Seq[(String, String)] = Nil, // (sidecar, key column)
      tombApplies: Seq[String] = Nil,
      checkAdds: Seq[(String, String)] = Nil,
      checkDrops: Seq[String] = Nil,
      tombMaps: Seq[(String, String)] = Nil, // (file, sidecar): restatements
      bloomFiles: Seq[(String, String, String)] = Nil, // (dataFile, col, sidecar)
      renames: Seq[(String, String)] = Nil,  // logical old -> logical new
      colMaps: Seq[(String, String)] = Nil,  // full map restatement
      dropCols: Seq[String] = Nil,           // PHYSICAL names retired by a drop
      parts: Seq[(String, String, String)] = Nil, // (file, transform spec, value)
      fsizes: Seq[(String, Long)] = Nil,     // (file, bytes) — Delta AddFile.size
      restoreOf: Option[Long] = None,        // RESTORE target version
      cloneSrc: Option[(String, Long)] = None, // (source root, version)
      importSrc: Option[(String, Long)] = None) // ("delta:"/"iceberg:" root, version)

  /** The one writer of the line grammar: `m` as the text [[parseLog]]
    * reads back. A checkpoint has no `action=` line and spells the
    * bloom and batch-tag keys `bloom=` / `batchtag=`. `file=` and
    * `remove=` carry the path raw; every other free-text value is
    * [[enc]]oded, cells joined by `|`. */
  private def render(m: Manifest, checkpoint: Boolean = false): String = {
    def cells(vs: String*) = vs.map(enc).mkString("|")
    (Seq(s"version=${m.version}") ++
      (if (checkpoint) None else Some(s"action=${m.action}")) ++
      m.restoreOf.map(v => s"restore=$v") ++
      m.cloneSrc.map { case (src, v) => s"clonesrc=${enc(src)}|$v" } ++
      m.importSrc.map { case (src, v) => s"importsrc=${enc(src)}|$v" } ++
      m.batchTag.map(t => (if (checkpoint) "batchtag=" else "batch=") + t) ++
      m.schemaJson.map(j => s"schema=${enc(j)}") ++
      m.removes.map(f => s"remove=$f") ++
      m.files.map(f => s"file=$f") ++
      m.fsizes.map { case (f, sz) => s"fsize=${enc(f)}|$sz" } ++
      m.stats.toSeq.sortBy(_._1).flatMap { case (f, cols) =>
        cols.toSeq.sortBy(_._1).map { case (c, cs) =>
          s"stats=${cells(f, c)}|${cs.typ}|${cs.min.fold("")(enc)}|" +
            s"${cs.max.fold("")(enc)}|${cs.nulls}|${cs.rows}"
        }
      } ++
      m.tombFiles.map { case (sc, k) => s"tombfile=${cells(sc, k)}" } ++
      m.tombApplies.map(f => s"tombapply=${enc(f)}") ++
      m.tombMaps.map { case (f, sc) => s"tombmap=${cells(f, sc)}" } ++
      m.bloomFiles.map { case (f, c, sc) =>
        (if (checkpoint) "bloom=" else "bloomfile=") + cells(f, c, sc) } ++
      m.renames.map { case (o, n) => s"rename=${cells(o, n)}" } ++
      m.colMaps.map { case (l, p) => s"colmap=${cells(l, p)}" } ++
      m.dropCols.map(p => s"dropcol=${enc(p)}") ++
      m.parts.map { case (f, t, v) => s"part=${cells(f, t, v)}" } ++
      m.checkAdds.map { case (n, e) => s"check=${cells(n, e)}" } ++
      m.checkDrops.map(n => s"dropcheck=${enc(n)}"))
      .mkString("", "\n", "\n")
  }

  /** The one reader of the line grammar ([[render]]'s inverse); `where`
    * names the file in errors. A checkpoint reads as an `overwrite`.
    * Unknown keys are ignored (forward compatibility), and so is a
    * `stats=` line of an unknown dialect: absent stats never mis-prune. */
  private def parseLog(lines: Seq[String], where: String,
      checkpoint: Boolean = false): Manifest = {
    val byKey = lines.groupMap(_.takeWhile(_ != '='))(l =>
      l.drop(l.indexOf('=') + 1))
    def field(k: String): Seq[String] = byKey.getOrElse(k, Nil)
    def cells(k: String, n: Int): Seq[Array[String]] = field(k).map { v =>
      val cs = v.split("\\|", -1)
      if (cs.length != n) throw new IllegalStateException(
        s"malformed $k line in $where")
      cs
    }
    def pairs(k: String) = cells(k, 2).map(c => (dec(c(0)), dec(c(1))))
    def triples(k: String) =
      cells(k, 3).map(c => (dec(c(0)), dec(c(1)), dec(c(2))))
    def counted(k: String) = cells(k, 2).map(c => (dec(c(0)), c(1).toLong))
    Manifest(field("version").head.toLong,
      if (checkpoint) "overwrite" else field("action").head,
      files = field("file"),
      batchTag = field(if (checkpoint) "batchtag" else "batch").headOption
        .map(_.toLong),
      stats = field("stats").flatMap(parseStatsLine).groupBy(_._1)
        .map { case (f, rows) =>
          f -> rows.map { case (_, c, cs) => c -> cs }.toMap },
      schemaJson = field("schema").headOption.map(dec),
      removes = field("remove"),
      tombFiles = pairs("tombfile"),
      tombApplies = field("tombapply").map(dec),
      checkAdds = pairs("check"),
      checkDrops = field("dropcheck").map(dec),
      tombMaps = pairs("tombmap"),
      bloomFiles = triples(if (checkpoint) "bloom" else "bloomfile"),
      renames = pairs("rename"),
      colMaps = pairs("colmap"),
      dropCols = field("dropcol").map(dec),
      parts = triples("part"),
      fsizes = counted("fsize"),
      restoreOf = field("restore").headOption.map(_.toLong),
      cloneSrc = counted("clonesrc").headOption,
      importSrc = counted("importsrc").headOption)
  }

  private def readManifest(root: String, v: Long): Manifest =
    parseLog(logIO(root).readLines(manifestPath(root, v)), s"manifest v$v")

  /** A snapshot state restated as one `overwrite` record at `version` —
    * the body of a [[checkpoint]], a [[restore]] and a [[cloneShallow]].
    * `ext` maps every data and sidecar reference (a clone points them
    * into its source's tree). Sidecar keys no live file references and
    * the bloom and partition entries of dead files are left out:
    * restating them would grow every restatement forever and can name
    * sidecar dirs vacuum already reclaimed. */
  private def restate(st: TableState, version: Long,
      ext: String => String = identity): Manifest = {
    val live = st.files.toSet
    val liveSidecars = st.tombs.values.flatten.toSet
    Manifest(version, "overwrite",
      files = st.files.map(ext),
      stats = st.files.flatMap(f => st.stats.get(f).map(ext(f) -> _)).toMap,
      schemaJson = st.schemaJson,
      fsizes = st.files.flatMap(f => st.sizes.get(f).map(ext(f) -> _)),
      tombFiles = st.tombKey.toSeq.filter(e => liveSidecars(e._1)).sorted
        .map { case (sc, k) => (ext(sc), k) },
      tombMaps = st.tombs.toSeq.sortBy(_._1).flatMap { case (f, scs) =>
        scs.map(sc => (ext(f), ext(sc))) },
      bloomFiles = st.blooms.toSeq.filter(e => live(e._1._1)).sortBy(_._1)
        .map { case ((f, c), sc) => (ext(f), c, ext(sc)) },
      colMaps = st.colMap.toSeq.sorted,
      dropCols = st.dropped.toSeq.sorted,
      parts = st.parts.toSeq.filter(e => live(e._1)).sortBy(_._1)
        .map { case (f, (t, pv)) => (ext(f), t, pv) },
      checkAdds = st.checks.toSeq.sorted)
  }

  // ---------------------------------------------------------------------
  // Snapshot state — the single fold every read resolves through.
  //
  // A snapshot is fully described by: the live file set, their column
  // stats, the table schema, and the merge-on-read tombstones (which
  // sidecar key-files apply to which live data files). All four fold
  // forward together; [[checkpoint]] persists the folded state so
  // resolution is O(suffix since last checkpoint), not O(commits) — the
  // Delta checkpoint-protocol shape that keeps a streaming-sink table
  // (thousands of commits) readable in constant-ish metadata time.
  // ---------------------------------------------------------------------

  private[sources] case class TableState(
      files: Vector[String],
      stats: Map[String, Map[String, ColStats]],
      schemaJson: Option[String],
      tombs: Map[String, Vector[String]], // live file -> sidecars, in commit order
      tombKey: Map[String, String],       // sidecar file -> key column name
      checks: Map[String, String] = Map.empty, // constraint name -> SQL expr
      blooms: Map[(String, String), String] = Map.empty, // (file, col) -> bloom sidecar
      colMap: Map[String, String] = Map.empty, // logical -> physical column name (identity entries omitted)
      dropped: Set[String] = Set.empty, // PHYSICAL names retired by dropColumn (bytes remain in live files)
      parts: Map[String, (String, String)] = Map.empty, // file -> (its partition transform spec, its partition value)
      sizes: Map[String, Long] = Map.empty) // file -> bytes (from fsize= lines; metadata-only planning input)

  private[sources] object TableState {
    val empty: TableState =
      TableState(Vector.empty, Map.empty, None, Map.empty, Map.empty)
  }

  /** One step of the log fold. `overwrite` resets everything (including
    * tombstones — the new file set supersedes all prior row-level
    * edits); `append` extends; `replace` swaps named files (their
    * tombstones die with them: a copy-on-write rewrite reads through
    * its tombstones first, so the rewritten files already exclude the
    * deleted rows); `delete-mor` attaches a tombstone sidecar to the
    * named live files and rewrites nothing. */
  private def applyManifest(st: TableState, m: Manifest): TableState = {
    val folded = m.action match {
      case "overwrite" =>
        // A plain overwrite resets tombstones and bloom indexes with
        // the file set; a [[restore]] overwrite re-establishes the
        // target snapshot's through its own tombmap/tombfile/bloomfile
        // lines.
        // overwrite re-baselines physical names too (the new file set
        // is written under the then-current logical names); a restore
        // re-establishes the target's mapping via its colmap lines
        TableState(m.files.toVector, m.stats, m.schemaJson,
          m.tombMaps.groupBy(_._1).map { case (f, ps) =>
            f -> ps.map(_._2).toVector },
          m.tombFiles.toMap, st.checks,
          m.bloomFiles.map { case (f, c, sc) => (f, c) -> sc }.toMap,
          m.colMaps.toMap, m.dropCols.toSet,
          m.parts.map { case (f, t, v) => f -> (t, v) }.toMap,
          m.fsizes.toMap)
      case "append" =>
        // bloomfile lines merge in (a [[buildBloomIndex]] commit is a
        // data-free append); data files appended WITHOUT an index are
        // simply absent from the map and always read.
        st.copy(files = st.files ++ m.files,
          stats = st.stats ++ m.stats, schemaJson = m.schemaJson,
          blooms = st.blooms ++
            m.bloomFiles.map { case (f, c, sc) => (f, c) -> sc },
          parts = st.parts ++
            m.parts.map { case (f, t, v) => f -> (t, v) },
          sizes = st.sizes ++ m.fsizes)
      case "replace" =>
        // rewritten files lose their bloom entries (a rewrite changes
        // the row set; the stale index would be unsound for the new
        // file and is simply absent until rebuilt)
        val gone = m.removes.toSet
        TableState(st.files.filterNot(gone) ++ m.files,
          (st.stats -- gone) ++ m.stats, m.schemaJson,
          st.tombs -- gone, st.tombKey, st.checks,
          st.blooms.filterNot { case ((f, _), _) => gone(f) },
          st.colMap, st.dropped, // mapping metadata: replace carries it
          // rewritten files shed their partition tags (a compaction or
          // row-edit rewrite changes the row set; a stale tag would
          // mis-prune) — untagged files simply always read
          (st.parts -- gone) ++
            m.parts.map { case (f, t, v) => f -> (t, v) },
          (st.sizes -- gone) ++ m.fsizes)
      case "delete-mor" =>
        val live = st.files.toSet
        val sidecars = m.tombFiles.map(_._1).toVector
        st.copy(schemaJson = m.schemaJson,
          tombs = m.tombApplies.filter(live).foldLeft(st.tombs) { (t, f) =>
            t.updated(f, t.getOrElse(f, Vector.empty) ++ sidecars) },
          tombKey = st.tombKey ++ m.tombFiles)
      case "update-mor" =>
        // MOR UPDATE ([[updateKeysMOR]]) = delete-mor's tombstone
        // attach PLUS append's file extend, in one fold step. The
        // tombstone applies only to files named in tombapply= (all
        // pre-existing) — the manifest's own new files carry the
        // replacement images and are never tombstoned by it.
        val live = st.files.toSet
        val sidecars = m.tombFiles.map(_._1).toVector
        st.copy(
          files = st.files ++ m.files,
          stats = st.stats ++ m.stats,
          schemaJson = m.schemaJson,
          tombs = m.tombApplies.filter(live).foldLeft(st.tombs) { (t, f) =>
            t.updated(f, t.getOrElse(f, Vector.empty) ++ sidecars) },
          tombKey = st.tombKey ++ m.tombFiles,
          sizes = st.sizes ++ m.fsizes)
      case other => throw new IllegalStateException(
        s"unknown action '$other' in manifest v${m.version}")
    }
    // Constraints are table metadata, orthogonal to the file-set
    // action: adds and drops fold forward on every manifest. Column
    // renames fold the same way: logical `old -> new` repoints the
    // mapping at the UNCHANGED physical name (identity entries are
    // dropped — renaming back to the physical name clears the entry).
    val renamed = m.renames.foldLeft(folded.colMap) { case (cm, (o, n)) =>
      val phys = cm.getOrElse(o, o)
      val next = (cm - o) + (n -> phys)
      if (phys == n) next - n else next
    }
    // A drop retires the PHYSICAL name (line carries it directly) and
    // removes any mapping entry that pointed at it — the schema line
    // of the same manifest already excludes the logical field.
    val droppedNow = m.dropCols.toSet
    folded.copy(checks = folded.checks ++ m.checkAdds -- m.checkDrops,
      colMap = renamed.filterNot { case (_, p) => droppedNow(p) },
      dropped =
        (if (m.action == "overwrite") folded.dropped
         else folded.dropped ++ droppedNow))
  }

  /** Widenings an append may apply to an existing column — exactly the
    * promotions Spark 4's vectorized parquet reader performs when the
    * declared schema is wider than a file's physical type, so every
    * old file stays readable without rewrite. Deliberately minimal
    * (int32→int64, float32→float64); int→double is NOT safe (longs
    * above 2^53 exist in this engine's key space and would round). */
  /** May a column physically stored as `from` be DECLARED as `to` with
    * old files upcast at read time (metadata-only widening)? The set
    * is exactly what Spark 4's vectorized parquet reader promotes
    * natively AND the Iceberg-v3 / Delta type-widening feature deems
    * safe: integer chain byte→short→int→long, float→double,
    * decimal PRECISION growth at the same scale (the unscaled value
    * is unchanged; more digits of headroom), and date→timestamp_ntz
    * (midnight semantics, no zone reinterpretation). Scale changes,
    * narrowing, and cross-family retypes stay refused — they change
    * VALUES, not headroom. Stats comparators stay sound across every
    * widening here (numeric ordering for the numeric chain; date
    * stats are not consulted by the pruners). */
  private def isSafeWidening(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d2.precision > d1.precision && d2.scale == d1.scale
      case (DateType, TimestampNTZType) => true
      case _ => false
    }
  }

  /** The PHYSICAL (on-disk parquet) name of logical column `c`. */
  private[sources] def physicalName(st: TableState, c: String): String =
    st.colMap.getOrElse(c, c)

  /** The logical schema with fields renamed to their physical names —
    * what the parquet files actually contain. */
  private[sources] def physicalSchemaOf(st: TableState)
      : Option[org.apache.spark.sql.types.StructType] =
    schemaOf(st).map { sc =>
      if (st.colMap.isEmpty) sc
      else org.apache.spark.sql.types.StructType(
        sc.fields.map(f => f.copy(name = physicalName(st, f.name))))
    }

  /** Rename physical columns back to logical for the caller. No-op for
    * identity-mapped tables, so unmapped plans are untouched. */
  private def aliasToLogical(st: TableState, df: DataFrame): DataFrame =
    if (st.colMap.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      val logical = schemaOf(st).map(_.fieldNames.toSeq)
        .getOrElse(df.columns.toSeq)
      df.select(logical.map(l => col(physicalName(st, l)).as(l)): _*)
    }

  /** Rename logical columns to physical before a data write. Columns
    * not in the mapping (new appends) keep their own names. */
  private def toPhysical(st: TableState, df: DataFrame): DataFrame =
    if (st.colMap.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      df.select(df.columns.toSeq
        .map(c => col(c).as(st.colMap.getOrElse(c, c))): _*)
    }

  /** Resolve the full snapshot state at version `v`: load the newest
    * checkpoint at or below `v` and fold only the manifest SUFFIX on
    * top. Without a checkpoint this is the plain full replay. */
  /** Whether snapshot `v` carries renamed columns (column mapping) —
    * the DSv2 swap rule's eligibility probe (metadata-only). */
  def hasColumnMapping(root: String, v: Long): Boolean =
    state(root, v).colMap.nonEmpty

  /** Whether snapshot `v` carries merge-on-read tombstones — the DSv2
    * refresh rule's eligibility probe (metadata-only). */
  def hasTombstones(root: String, v: Long): Boolean =
    state(root, v).tombs.values.exists(_.nonEmpty)

  // (root, v, manifest mtime) → folded state. A published snapshot is
  // IMMUTABLE (its manifest wins a conditional put and is never
  // rewritten), so memoizing the fold is protocol-sound; the mtime in
  // the key invalidates the one legal aliasing case — a table root
  // deleted and recreated (e.g. a reused WAP branch name) where the
  // SAME (root, v) names different content. One stat per hit instead
  // of a manifest-chain replay; bounded (clear-all past the cap) so a
  // long bench over throwaway tables cannot grow without bound.
  private val stateCache = scala.collection.concurrent.TrieMap[
    (String, Long, Long), TableState]()
  private val StateCacheMax = 512

  private[sources] def state(root: String, v: Long): TableState = {
    val key = (root, v, scala.util.Try(
      logIO(root).mtimeMs(manifestPath(root, v))).getOrElse(-1L))
    stateCache.get(key) match {
      case Some(st) => st
      case None =>
        val st = computeState(root, v)
        if (stateCache.size >= StateCacheMax) stateCache.clear()
        stateCache(key) = st
        st
    }
  }

  private def computeState(root: String, v: Long): TableState = {
    val ckpt = latestCheckpointAtOrBefore(root, v)
    // Truncated-log guard: with no checkpoint at or below `v` and the
    // earliest surviving manifest above 0, the fold would start from
    // an EMPTY state missing the truncated prefix — time travel below
    // the truncation horizon must fail loudly, never resolve wrong.
    if (ckpt.isEmpty)
      versions(root).headOption.foreach(minV => require(minV == 0,
        s"snapshot $v predates the truncated log (earliest manifest " +
          s"$minV, no covering checkpoint) — time travel below the " +
          "truncation horizon is gone"))
    val (baseV, base) = ckpt.getOrElse((-1L, TableState.empty))
    versions(root).filter(ver => ver > baseV && ver <= v)
      .foldLeft(base)((st, ver) => applyManifest(st, readManifest(root, ver)))
  }

  /** The table schema AT snapshot `v`: the newest commit's recorded
    * schema (each commit writes its own, and append schemas are
    * validated supersets — see [[commit]] — so the newest one covers
    * every live file). None for pre-schema-tracking manifests. This
    * is what lets [[read]] resolve the schema from METADATA instead
    * of parquet footers: no mergeSchema footer-listing pass over
    * 100 TB of files, and columns added by later commits surface as
    * NULL in older files' rows. */
  def tableSchema(root: String, v: Long)
      : Option[org.apache.spark.sql.types.StructType] =
    // the NEWEST manifest's schema line only (folded forward by
    // [[applyManifest]]): if the newest commit predates schema
    // tracking its files may hold columns no older schema line knows
    // about — degrade to the schemaless read rather than silently
    // dropping them
    schemaOf(state(root, v))

  private def schemaOf(st: TableState)
      : Option[org.apache.spark.sql.types.StructType] =
    st.schemaJson.map(j => org.apache.spark.sql.types.DataType.fromJson(j)
      .asInstanceOf[org.apache.spark.sql.types.StructType])

  // ---------------------------------------------------------------------
  // Checkpoints — O(1)-ish snapshot resolution.
  //
  // Every [[checkpointEvery]]-th commit also writes `_graft_log/
  // ckpt-v<N>.txt`: the FULL folded state at N (file list, stats,
  // schema, tombstones). Readers load the newest checkpoint <= v and
  // replay only the manifests after it, so a table with thousands of
  // streaming-sink commits resolves its snapshot from one checkpoint
  // file plus a bounded suffix instead of every manifest since v0.
  // Checkpoints are derived data: writing one can never fail a commit
  // (best-effort, atomically published like manifests), a corrupt or
  // missing one just means a longer replay, and [[truncateLog]] may
  // delete manifests strictly below a checkpoint once time travel
  // below it is no longer needed — the Delta checkpoint + log-retention
  // protocol in miniature.
  // ---------------------------------------------------------------------

  /** Checkpoint cadence: 10 commits of replay is a few manifest reads —
    * small enough that resolution stays cheap, large enough that
    * checkpoint writes don't dominate a streaming sink's commit path. */
  private val checkpointEvery = 10

  private def checkpointPath(root: String, v: Long): Path =
    logDir(root).resolve(f"ckpt-v$v%05d.txt")

  /** Versions that have a checkpoint, ascending. Width note mirrors
    * [[versions]]: %05d is a minimum width. */
  def checkpointVersions(root: String): Seq[Long] =
    logIO(root).listDir(logDir(root))
      .collect { case n if n.matches("ckpt-v\\d{5,}\\.txt") =>
        n.stripPrefix("ckpt-v").stripSuffix(".txt").toLong }
      .sorted

  /** Serialize the folded state at `v` as a checkpoint file. Public so
    * operators can force one (e.g. after a bulk backfill); normally
    * written automatically every [[checkpointEvery]] commits. Returns
    * the checkpointed version. */
  def checkpoint(root: String, version: Option[Long] = None): Long = {
    val v = version.getOrElse(latestVersion(root))
    require(v >= 0, s"$root is not a versioned table (empty log)")
    // Highest streaming batch tag committed at or below v, persisted
    // so the exactly-once replay check survives truncateLog (the
    // manifests carrying batch= lines get deleted; Delta checkpoints
    // SetTransaction for the same reason). Batch tags are monotone
    // over versions, so the newest tagged surviving manifest <= v has
    // the max — fold in any prior checkpoint's tag to cover manifests
    // already truncated.
    val maxTag = (versions(root).filter(_ <= v).reverseIterator
      .map(ver => readManifest(root, ver).batchTag)
      .collectFirst { case Some(t) => t }.toSeq ++
      checkpointVersions(root).filter(_ < v).reverseIterator
        .flatMap(cv => readCheckpoint(root, cv).batchTag.iterator)
        .take(1)).maxOption
    val body = render(restate(state(root, v), v).copy(batchTag = maxTag),
      checkpoint = true)
    try logIO(root).putIfAbsent(checkpointPath(root, v),
      body.getBytes("UTF-8"))
    catch { // another writer already checkpointed v — same content, fine
      case _: java.nio.file.FileAlreadyExistsException => ()
    }
    v
  }

  /** Checkpoint `cv` as a record: the full folded state at `cv`, plus
    * the highest streaming batch id committed at or below it (see
    * [[checkpoint]] and [[streamingSink]]). */
  private def readCheckpoint(root: String, cv: Long): Manifest =
    parseLog(logIO(root).readLines(checkpointPath(root, cv)),
      s"checkpoint v$cv", checkpoint = true)

  /** The newest checkpoint at or below `v` and its state: the
    * checkpoint's `overwrite` record folded onto the empty state. */
  private def latestCheckpointAtOrBefore(root: String, v: Long)
      : Option[(Long, TableState)] =
    checkpointVersions(root).filter(_ <= v).lastOption.map(cv =>
      (cv, applyManifest(TableState.empty, readCheckpoint(root, cv))))

  /** Delete manifests STRICTLY BELOW the newest checkpoint <= `below`.
    * After truncation, snapshots at or above that checkpoint resolve
    * exactly as before (checkpoint + suffix); time travel below it is
    * gone — the explicit, bounded trade the log-retention policy of
    * every table format makes. Returns the number of manifests
    * removed. Refuses when no checkpoint exists (the manifests are the
    * only source of truth then). */
  def truncateLog(root: String, below: Option[Long] = None): Int = {
    val bound = below.getOrElse(latestVersion(root))
    val cv = checkpointVersions(root).filter(_ <= bound).lastOption
      .getOrElse(throw new IllegalStateException(
        "truncateLog: no checkpoint at or below " + bound +
          " — write one first (checkpoint(root))"))
    // a tag below the horizon would become unresolvable (its snapshot
    // needs the manifests this truncation deletes) — refuse rather
    // than orphan it; dropping the tag first is the explicit release
    val orphaned = tags(root).filter(_._2 < cv)
    require(orphaned.isEmpty,
      s"truncateLog would orphan tag(s) ${orphaned.keys.mkString(", ")} " +
        s"(below checkpoint v$cv) — dropTag first")
    // same for a live branch whose BASE is below the horizon:
    // publishBranch needs state(root, baseV) and the manifests in
    // (baseV, head] for its conflict basis, so truncating under it
    // would permanently break publishing that branch (vacuum already
    // pins branch bases exactly like tags) — publish or drop it first
    val brokenBranches = branches(root).filter(_._2._1 < cv)
    require(brokenBranches.isEmpty,
      "truncateLog would break live branch(es) " +
        s"${brokenBranches.keys.mkString(", ")} (base below checkpoint " +
        s"v$cv) — publishBranch or dropBranch first")
    val doomed = versions(root).filter(_ < cv)
    // Order matters for crash/concurrent-reader safety: older
    // checkpoints FIRST, manifests second. An older checkpoint whose
    // replay suffix is already gone would resolve a STALE state
    // silently labeled as a newer version; deleting the checkpoints
    // first only ever degrades a reader to full replay (manifests
    // still intact), and a crash between the two loops leaves the
    // truncated-time-travel guard in state() able to fire.
    checkpointVersions(root).filter(_ < cv)
      .foreach(v => logIO(root).delete(checkpointPath(root, v)))
    doomed.foreach(v => logIO(root).delete(manifestPath(root, v)))
    doomed.size
  }

  // ---------------------------------------------------------------------
  // FSCK — physical-vs-log health check. Read-only: it REPORTS, never
  // repairs (vacuum deletes, restore rolls back — destructive choices
  // stay explicit). One incremental replay over the surviving log, so
  // the cost is O(commits + files), not O(versions × commits).
  // ---------------------------------------------------------------------

  /** Health report of [[fsck]].
    *  - `contiguousLog`: version numbers form a gap-free run (the
    *    commit protocol's invariant; a gap means manual tampering).
    *  - `missingLatest`: files/sidecars the CURRENT snapshot needs but
    *    absent on disk — data loss, reads will fail.
    *  - `missingHistoric`: (version, file) pairs where only an OLDER
    *    snapshot's file is gone — time travel to those versions is
    *    broken (the normal aftermath of [[vacuum]], reported so the
    *    operator knows the horizon).
    *  - `orphanDirs`: dirs under `data/` no resolvable snapshot
    *    references — lost commit races or crashed writers; vacuum
    *    candidates (an in-flight commit's dir also looks like this
    *    until its manifest lands — same caveat as vacuum's age rail).
    *  - `ok` = contiguous log and nothing missing from the current
    *    snapshot. */
  final case class FsckReport(
      checkedVersions: Seq[Long],
      contiguousLog: Boolean,
      missingLatest: Seq[String],
      missingHistoric: Seq[(Long, String)],
      orphanDirs: Seq[String],
      chainBreaks: Seq[Long]) {
    def ok: Boolean =
      contiguousLog && missingLatest.isEmpty && chainBreaks.isEmpty
  }

  /** Verify the physical state against the log: every resolvable
    * snapshot's files, tombstone sidecars, and bloom sidecars exist on
    * disk; no unreferenced dirs rot under `data/`; the log is
    * gap-free. */
  def fsck(root: String): FsckReport = {
    val vs = versions(root)
    require(vs.nonEmpty, s"$root is not a versioned table (empty log)")
    val contiguous = vs == (vs.head to vs.last)
    val latest = vs.last
    val referencedDirs = scala.collection.mutable.Set[String]()
    // file -> first version that needs it and finds it missing
    val missing = scala.collection.mutable.LinkedHashMap[String, Long]()
    val missingNow = scala.collection.mutable.ListBuffer[String]()
    def refsOf(s: TableState): Seq[String] =
      (s.files ++ s.tombs.values.flatten ++
        s.blooms.collect { case ((f, _), sc) if s.files.contains(f) => sc })
        .distinct
    def check(v: Long, s: TableState): Unit = refsOf(s).foreach { f =>
      if (!f.startsWith("ext:")) // external refs live outside data/
        referencedDirs += topDataDir(root, f)
      if (!dataIO(root).exists(dataPath(root, f))) {
        missing.getOrElseUpdate(f, v)
        if (v == latest) missingNow += f
      }
    }
    var st = state(root, vs.head) // checkpoint-covered head after truncation
    check(vs.head, st)
    vs.tail.foreach { v =>
      st = applyManifest(st, readManifest(root, v))
      check(v, st)
    }
    val dataRoot = Paths.get(root, "data")
    val orphans =
      listDir(dataRoot).map(_.getFileName.toString)
        .filterNot(referencedDirs).sorted
    // Hash-chain audit over the SURVIVING suffix: manifest v's
    // `parent=` must equal SHA-256(manifest v-1 bytes). An edited
    // historical manifest therefore flags at its successor. Links
    // from pre-chain manifests (no parent line) are skipped; the
    // truncation head's parent refers to a deleted manifest, so only
    // intact consecutive pairs are checked.
    val chainBreaks = vs.sliding(2).collect {
      case Seq(a, b) if parentOf(root, b).exists(_ != manifestHash(root, a))
        => b
    }.toSeq
    FsckReport(vs, contiguous, missingNow.toSeq.sorted,
      missing.toSeq.filterNot { case (f, _) => missingNow.contains(f) }
        .map { case (f, v) => (v, f) }.sortBy(identity),
      orphans, chainBreaks)
  }

  // ---------------------------------------------------------------------
  // RESTORE — roll the table back to an earlier snapshot as a NEW
  // commit (Delta `RESTORE TABLE ... TO VERSION AS OF` semantics).
  // Because data dirs are immutable and stats/schema/tombstones are all
  // metadata, a restore is METADATA-ONLY: one overwrite manifest that
  // re-lists the target snapshot's files, stats, schema, merge-on-read
  // tombstones, and constraints. No data file is read or written — at
  // 100 TB a bad deploy rolls back in milliseconds. History is
  // preserved: the restore lands as version latest+1, so the mistaken
  // commits remain time-travelable (and the restore itself can be
  // restored away).
  // ---------------------------------------------------------------------

  /** Roll back to snapshot `toVersion` as a new commit. Returns the new
    * version. Fails loudly when the target predates the truncation
    * horizon (its state is unresolvable) or when any of its data files
    * or tombstone sidecars has been [[vacuum]]ed (the snapshot is
    * physically gone — Delta errors identically). Constraints are part
    * of the snapshot: checks added after `toVersion` are dropped,
    * checks dropped since are re-added. */
  def restore(root: String, toVersion: Long): Long = {
    val latest = latestVersion(root)
    require(latest >= 0, s"$root is not a versioned table (empty log)")
    require(toVersion >= 0 && toVersion <= latest,
      s"restore target $toVersion out of range [0, $latest]")
    val target = state(root, toVersion) // truncation guard fires in here
    val missing = (target.files ++ target.tombs.values.flatten.toSeq ++
      target.blooms.collect {
        case ((f, _), sc) if target.files.contains(f) => sc })
      .distinct.filterNot(f => dataIO(root).exists(dataPath(root, f)))
    require(missing.isEmpty,
      s"cannot restore to v$toVersion: ${missing.size} file(s) of that " +
        s"snapshot were vacuumed (e.g. ${missing.headOption.getOrElse("")})")
    val current = state(root, latest)
    publish(root, restate(target, latest + 1).copy(
      restoreOf = Some(toVersion),
      checkDrops = current.checks.keySet.diff(target.checks.keySet).toSeq.sorted))
    latest + 1
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE`): create a
    * NEW table at `dstRoot` whose v0 references the source snapshot's
    * data files IN PLACE — a metadata-only commit, zero bytes of data
    * copied, O(files) regardless of table size. The clone then
    * evolves independently: local commits land under its own `data/`,
    * deletes/merges rewrite only what they touch (rewrites
    * materialize, i.e. un-external-ize, exactly the touched files),
    * and a full [[compact]] materializes the whole clone. The
    * source's log is never consulted again — the clone snapshot is
    * frozen at clone time (time travel below the clone's v0 does not
    * exist).
    *
    * External references are `ext:`-prefixed ABSOLUTE paths resolved
    * by [[dataPath]]; the clone's [[vacuum]]/[[compact]] never delete
    * through them (the source owns its files). The standing hazard is
    * Delta's own: a `vacuum` on the SOURCE that reclaims files the
    * clone still references breaks the clone — [[fsck]] on the clone
    * reports exactly which references died. Tombstone and bloom
    * sidecars clone the same way (by reference).
    *
    * `dstRoot` must not already be a versioned table. Returns the
    * clone's version (always 0). */
  def cloneShallow(srcRoot: String, dstRoot: String,
      version: Option[Long] = None): Long = {
    val v = version.getOrElse(latestVersion(srcRoot))
    require(v >= 0, s"$srcRoot is not a versioned table (empty log)")
    require(latestVersion(dstRoot) < 0,
      s"cloneShallow: $dstRoot is already a versioned table")
    val st = state(srcRoot, v)
    val srcAbs = Paths.get(srcRoot).toAbsolutePath
    // a clone of a clone keeps already-external refs pointing at the
    // ORIGINAL owner (no ext:ext: chains, no dependence on the
    // intermediate clone's lifetime)
    def ext(f: String): String =
      if (f.startsWith("ext:")) f else s"ext:${srcAbs.resolve(f)}"
    logIO(dstRoot).mkdirs(logDir(dstRoot))
    publish(dstRoot,
      restate(st, 0L, ext).copy(cloneSrc = Some((srcRoot, v))))
    0L
  }

  // ---------------------------------------------------------------------
  // CONVERT — import a foreign lakehouse table (Delta / Iceberg) as a
  // graft table in ONE metadata commit, the `CONVERT TO DELTA` shape in
  // reverse: the foreign table's live files are referenced in place
  // (`ext:` absolute refs, exactly like [[cloneShallow]] — nothing is
  // copied or rewritten), its schema becomes the graft schema line,
  // and its per-file stats import into the graft stats model so file
  // skipping works from the first query. The result is a FULL graft
  // table: commits, DML, time travel, constraints all apply on top;
  // vacuum never deletes through ext: refs, so the source's files are
  // read-only from graft's perspective.
  // ---------------------------------------------------------------------

  /** Import the CURRENT snapshot of the Delta table at `deltaRoot` as
    * version 0 of a new graft table at `graftRoot` — metadata-only.
    * Partitioned Delta tables refuse: their data files physically LACK
    * the partition columns (Hive layout), which a plain parquet read
    * cannot reconstruct — read those via `format("delta-log")` or
    * rewrite first. */
  def importDelta(spark: SparkSession, deltaRoot: String,
      graftRoot: String): Long = {
    val snap = DeltaLog.snapshot(spark, deltaRoot)
    require(latestVersion(graftRoot) < 0,
      s"importDelta: $graftRoot is already a versioned table")
    require(snap.partitionColumns.isEmpty,
      "importDelta: partitioned Delta tables keep partition values in " +
        "the log, not the files — read via format(\"delta-log\") or " +
        "rewrite unpartitioned before converting")
    // a zero-copy import points straight at the parquet files, so any
    // log-side row/name indirection would silently corrupt the result:
    // deletion vectors would RESURRECT deleted rows, column mapping
    // would read all-NULL columns. Refuse; materialize first.
    require(snap.adds.forall(_.deletionVector.isEmpty),
      "importDelta: the snapshot carries DELETION VECTORS — deleted " +
        "rows would resurrect through a zero-copy import. Materialize " +
        "them first (DELETE FROM via format(\"delta-log\") is " +
        "copy-on-write) or read the table through the datasource")
    require(snap.columnMapping.isEmpty,
      "importDelta: the table uses COLUMN MAPPING (physical file " +
        "names differ from the logical schema) — read it via " +
        "format(\"delta-log\") instead of converting")
    val srcAbs = Paths.get(deltaRoot).toAbsolutePath
    val refs = snap.adds.map { a =>
      val abs =
        if (a.path.startsWith("/")) a.path
        else srcAbs.resolve(a.path).toString
      (a, s"ext:$abs")
    }
    logIO(graftRoot).mkdirs(logDir(graftRoot))
    publish(graftRoot, Manifest(0L, "overwrite",
      importSrc = Some((s"delta:$deltaRoot", snap.version)),
      schemaJson = Some(snap.schema.json),
      files = refs.map(_._2),
      fsizes = refs.map { case (a, ref) => ref -> a.size },
      stats = refs.map { case (a, ref) =>
        ref -> DeltaLogFileIndex.parseStats(snap.schema, a.statsJson) }.toMap))
    0L
  }

  /** Import the current (or a named) snapshot of the Iceberg table at
    * `iceRoot` as version 0 of a new graft table — metadata-only.
    * Iceberg data files carry ALL columns (identity partition values
    * included), so partitioned tables import fine. */
  def importIceberg(spark: SparkSession, iceRoot: String,
      graftRoot: String, snapshotId: Option[Long] = None): Long = {
    val snap = IcebergMeta.snapshot(iceRoot, snapshotId)
    require(latestVersion(graftRoot) < 0,
      s"importIceberg: $graftRoot is already a versioned table")
    // same posture as importDelta's deletion-vector gate: a zero-copy
    // import lists data files only, so v2 row-level deletes would
    // RESURRECT deleted rows. Refuse; compact/rewrite first.
    require(snap.deletes.isEmpty && snap.eqDeletes.isEmpty,
      "importIceberg: the snapshot carries v2 row-level DELETE files " +
        "— deleted rows would resurrect through a zero-copy import. " +
        "Rewrite the table first, or read it via format(\"iceberg-meta\")")
    val refs = snap.files.map(f => (f, s"ext:${f.path}"))
    logIO(graftRoot).mkdirs(logDir(graftRoot))
    publish(graftRoot, Manifest(0L, "overwrite",
      importSrc = Some((s"iceberg:$iceRoot", snap.snapshotId)),
      schemaJson = Some(snap.schema.json),
      files = refs.map(_._2),
      fsizes = refs.map { case (f, ref) => ref -> f.sizeBytes },
      stats = refs.map { case (f, ref) => ref -> f.stats }.toMap))
    0L
  }

  // ---------------------------------------------------------------------
  // CHECK constraints — table-level data-quality contracts, the Delta
  // `ALTER TABLE ADD CONSTRAINT` shape. A constraint is a SQL boolean
  // expression folded through the manifest log as table METADATA (it
  // survives overwrite/replace/compaction and round-trips through
  // checkpoints), and every subsequent [[commit]] rejects a batch with
  // any row where the expression is strict FALSE — bad data bounces at
  // the table boundary instead of poisoning every consumer downstream.
  // ---------------------------------------------------------------------

  /** Active constraints (name → SQL expr) at the latest version. */
  def checks(root: String): Map[String, String] = {
    val v = latestVersion(root)
    if (v < 0) Map.empty else state(root, v).checks
  }

  /** Add constraint `name` with boolean SQL `expression`. EXISTING rows
    * must already satisfy it (one metadata+scan job — the Delta
    * contract: a constraint you could not have appended under cannot
    * be declared either); the add itself is a metadata-only manifest
    * (no data write, atomic under the same commit race rules).
    *
    * Races with in-flight data commits are safe BY the version race:
    * a commit that validated against the pre-constraint state must
    * publish the same version number this add takes, so exactly one
    * wins the hard link — the loser's retry re-reads state and
    * re-validates under the new constraint. No
    * validated-then-stale-commit window exists. */
  def addCheck(spark: SparkSession, root: String, name: String,
      expression: String): Long = {
    require(name.nonEmpty && expression.nonEmpty, "empty constraint")
    commitMetadata(root) { (base, st) =>
      require(!st.checks.contains(name),
        s"constraint '$name' already exists (drop it first to replace)")
      import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
      val bad = read(spark, root)
        .filter(coalesce(not(expr(expression)), lit(false)))
        .limit(1).count()
      require(bad == 0L,
        s"cannot add constraint '$name': existing rows violate $expression")
      base.copy(checkAdds = Seq(name -> expression))
    }
  }

  /** The one path of the metadata-only commits (constraint and column
    * DDL, bloom-index registration): resolve the state at the latest
    * version, let `edit` validate it and turn `base` — an `append` at
    * latest + 1 restating the state's schema — into the commit, and
    * publish that. Returns the new version. */
  private def commitMetadata(root: String)(
      edit: (Manifest, TableState) => Manifest): Long = {
    val latest = latestVersion(root)
    require(latest >= 0, s"$root is not a versioned table (empty log)")
    val st = state(root, latest)
    publish(root,
      edit(Manifest(latest + 1, "append", schemaJson = st.schemaJson), st))
    latest + 1
  }

  /** ADD COLUMNS as a METADATA-ONLY commit (the Delta `ALTER TABLE
    * ... ADD COLUMNS` shape): one append manifest restating the schema
    * with the new fields; no data file is written or rewritten.
    * Existing rows surface the new columns as NULL through the
    * metadata-schema read (parquet files simply lack the column), so
    * at 100 TB adding a column costs one manifest write. New columns
    * are forced nullable (existing rows have no value to put in a
    * non-nullable slot) and must not collide with a live logical
    * name, a rename-held physical name, or a [[dropColumn]]-retired
    * physical name (old bytes would resurrect under the reused name). */
  def addColumns(root: String,
      cols: Seq[org.apache.spark.sql.types.StructField]): Long = {
    require(cols.nonEmpty, "addColumns: no columns given")
    commitMetadata(root) { (base, st) =>
      val tableSc = schemaOf(st).getOrElse(throw new IllegalStateException(
        "addColumns needs schema tracking — commit once with a schema first"))
      cols.foreach { f =>
        require(!tableSc.fieldNames.contains(f.name),
          s"column ${f.name} already exists")
        require(!st.dropped.contains(f.name),
          s"column ${f.name} collides with a dropped physical column " +
            "still present in live files — old bytes would resurrect")
        require(!st.colMap.values.exists(_ == f.name),
          s"column ${f.name} collides with a physical name held by a " +
            "renamed column")
      }
      base.copy(schemaJson = Some(org.apache.spark.sql.types.StructType(
        tableSc.fields ++ cols.map(_.copy(nullable = true))).json))
    }
  }

  /** Drop constraint `name` (metadata-only manifest). */
  def dropCheck(root: String, name: String): Long =
    commitMetadata(root) { (base, st) =>
      require(st.checks.contains(name), s"no such constraint '$name'")
      base.copy(checkDrops = Seq(name))
    }

  // ---------------------------------------------------------------------
  // Column mapping — RENAME COLUMN without rewriting data (the Delta
  // column-mapping capability, name-mode). A rename is one metadata
  // manifest: the LOGICAL schema changes, the PHYSICAL parquet column
  // name never does, and the table-state mapping (logical → physical)
  // translates at every boundary — reads alias physical → logical,
  // writes map logical → physical, stats/bloom/tombstone machinery
  // stays physical. At 100 TB a rename is a millisecond manifest write
  // instead of a full-table rewrite. Time travel is exact: each
  // snapshot resolves its own mapping, so pre-rename versions read
  // under the old name. Collision rule: a later append may not
  // introduce a column whose name equals a physical name held by a
  // renamed column (it would resurrect the old bytes) — rejected at
  // commit; an overwrite re-baselines physical = logical.
  // ---------------------------------------------------------------------

  /** Active logical → physical column mapping at the latest version
    * (identity entries omitted; empty = names never diverged). */
  def columnMapping(root: String): Map[String, String] = {
    val v = latestVersion(root)
    if (v < 0) Map.empty else state(root, v).colMap
  }

  /** Rename logical column `oldName` to `newName` as a metadata-only
    * commit. CHECK constraints referencing the old name are rejected
    * (rewrite them first — silently keeping a constraint that can no
    * longer resolve would fail every later commit). */
  def renameColumn(root: String, oldName: String, newName: String): Long =
    commitMetadata(root) { (base, st) =>
      val schema = schemaOf(st).getOrElse(throw new IllegalStateException(
        s"$root records no schema — commit once so schema tracking is on " +
          "before renaming columns"))
      require(schema.fieldNames.contains(oldName),
        s"no such column '$oldName' (have: ${schema.fieldNames.mkString(", ")})")
      require(!schema.fieldNames.contains(newName),
        s"column '$newName' already exists")
      require(oldName != newName, "rename to the same name is a no-op")
      val referencing = st.checks.filter { case (_, e) =>
        e.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(oldName)}\\b.*") }
      require(referencing.isEmpty,
        s"CHECK constraint(s) ${referencing.keys.mkString(", ")} reference " +
          s"'$oldName' — drop or rewrite them before renaming")
      base.copy(
        schemaJson = Some(org.apache.spark.sql.types.StructType(
          schema.fields.map(f =>
            if (f.name == oldName) f.copy(name = newName) else f)).json),
        renames = Seq(oldName -> newName))
    }

  /** Drop logical column `name` as a metadata-only commit — the other
    * half of column mapping: the bytes stay in the live files, the
    * logical schema stops projecting them, and the PHYSICAL name is
    * RETIRED so no later append can introduce a column that would
    * resurrect the old bytes (re-add under the same logical name after
    * an `overwrite`, which re-baselines everything). Time travel still
    * reads the column in pre-drop snapshots; the next full rewrite
    * (compaction/overwrite) physically sheds it. CHECK constraints
    * referencing the column block the drop, same as rename. */
  def dropColumn(root: String, name: String): Long =
    commitMetadata(root) { (base, st) =>
      val schema = schemaOf(st).getOrElse(throw new IllegalStateException(
        s"$root records no schema — commit once so schema tracking is on " +
          "before dropping columns"))
      require(schema.fieldNames.contains(name),
        s"no such column '$name' (have: ${schema.fieldNames.mkString(", ")})")
      require(schema.fields.length > 1,
        "cannot drop the only column")
      val referencing = st.checks.filter { case (_, e) =>
        e.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(name)}\\b.*") }
      require(referencing.isEmpty,
        s"CHECK constraint(s) ${referencing.keys.mkString(", ")} reference " +
          s"'$name' — drop or rewrite them before dropping the column")
      base.copy(
        schemaJson = Some(org.apache.spark.sql.types.StructType(
          schema.fields.filterNot(_.name == name)).json),
        dropCols = Seq(physicalName(st, name)))
    }

  // ---------------------------------------------------------------------
  // Timestamp time travel — `TIMESTAMP AS OF` beside `VERSION AS OF`.
  // Every manifest carries its commit wall-clock (`ts=`, stamped in
  // [[publish]]); resolution monotonizes the sequence (running max) so
  // clock skew between concurrent writers cannot reorder it, then picks
  // the last version at or before the asked instant — metadata-only,
  // O(surviving manifests), no data read.
  // ---------------------------------------------------------------------

  /** Commit wall-clock of version `v` in epoch millis. Manifests from
    * before timestamp stamping fall back to the manifest file's mtime
    * (the Delta fallback for the same gap). */
  def commitTimestamp(root: String, v: Long): Long = {
    val lines = logIO(root).readLines(manifestPath(root, v))
    lines.collectFirst { case l if l.startsWith("ts=") => l.drop(3).toLong }
      .getOrElse(logIO(root).mtimeMs(manifestPath(root, v)))
  }

  /** The version a `TIMESTAMP AS OF tsMillis` read resolves to: the
    * last version whose (monotonized) commit time is <= the instant.
    * Fails loudly when the instant predates the first SURVIVING
    * commit — after [[truncateLog]] that horizon moves up, same as
    * version time travel. */
  def versionAsOf(root: String, tsMillis: Long): Long = {
    val vs = versions(root)
    require(vs.nonEmpty, s"$root is not a versioned table (empty log)")
    var adj = Long.MinValue
    val stamped = vs.map { v =>
      adj = math.max(adj, commitTimestamp(root, v)); (v, adj)
    }
    stamped.takeWhile(_._2 <= tsMillis).lastOption.map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"timestamp $tsMillis predates the first surviving commit " +
          s"(${stamped.head._2}) — the snapshot is unavailable"))
  }

  /** Snapshot read as of a wall-clock instant. */
  def readAsOfTimestamp(spark: SparkSession, root: String,
      tsMillis: Long): DataFrame =
    read(spark, root, Some(versionAsOf(root, tsMillis)))

  // ---------------------------------------------------------------------
  // Data skipping — per-file column min/max stats in the manifest
  // (the Delta/Iceberg capability with the largest 100 TB impact: a
  // selective read opens only the files whose value range can match).
  //
  // Stats are harvested from the PARQUET FOOTERS of the just-written
  // files at commit time — metadata-only, O(files) not O(rows); no
  // second pass over the data. Each manifest carries one line per
  // (file, column):
  //   stats=<fileEnc>|<colEnc>|<typ>|<minEnc>|<maxEnc>|<nulls>|<rows>
  // with URL-encoded fields (column names and string bounds may hold
  // '|', whitespace, or any unicode). `typ` is long | double | string;
  // columns outside those families (nested, decimal, int96…) simply
  // record no stats and are never pruned — absence of stats always
  // degrades to "read the file", never to a wrong skip.
  // ---------------------------------------------------------------------

  /** Merged min/max for one column of one file. `min`/`max` are None
    * when every value in the file is NULL (`nulls == rows`) — such a
    * file is skippable by ANY range predicate on the column.
    * `nulls < 0` means the count is UNKNOWN (foreign metadata that
    * recorded bounds but no null counts) — every nullness consumer
    * must degrade to "read the file", never coin a zero (a fabricated
    * 0 makes `IS NULL` pruning silently drop rows). */
  final case class ColStats(typ: String, min: Option[String],
      max: Option[String], nulls: Long, rows: Long)

  private def enc(s: String): String = URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = URLDecoder.decode(s, "UTF-8")

  /** Footer-harvested stats for one parquet file, keyed by column
    * name. Unsupported physical/logical types yield no entry. */
  private[sources] def footerStats(spark: SparkSession, file: Path)
      : Map[String, ColStats] = statsOf(footerOf(spark, file))

  /** One read of a parquet file's footer. */
  private[sources] def footerOf(spark: SparkSession, file: Path)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri),
      spark.sparkContext.hadoopConfiguration))
    try reader.getFooter finally reader.close()
  }

  /** [[footerStats]] of an already-read footer. A column's `rows` is
    * its leaf VALUE count, which exceeds the file's row count for
    * repeated (array/map) columns. */
  private[sources] def statsOf(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : Map[String, ColStats] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    // (typ, mins, maxes, nulls, rows) accumulated across row groups
    val acc = scala.collection.mutable.Map
      .empty[String, (String, List[String], List[String], Long, Long)]
    var unsupported = Set.empty[String]
    for (block <- footer.getBlocks.asScala;
         chunk <- block.getColumns.asScala) {
      val name = chunk.getPath.toDotString
      val prim = chunk.getPrimitiveType
      val logical = prim.getLogicalTypeAnnotation
      val isDecimal = logical != null &&
        logical.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
      val isString = logical != null &&
        logical == LogicalTypeAnnotation.stringType()
      val typ: Option[String] = prim.getPrimitiveTypeName match {
        // decimal over int32/64 stores UNSCALED values — a raw
        // numeric compare against a user bound would mis-prune
        case INT32 | INT64 if !isDecimal => Some("long")
        case FLOAT | DOUBLE              => Some("double")
        case BINARY if isString          => Some("string")
        case _                           => None
      }
      val st: org.apache.parquet.column.statistics.Statistics[_] =
        chunk.getStatistics
      typ match {
        case None => unsupported += name
        case Some(t) if st == null || st.isEmpty => unsupported += name
        case Some(t) =>
          // Binary stats stringify to a debug form via toString —
          // decode the raw UTF-8 bytes instead
          def asStr(v: Any): String = v match {
            case b: org.apache.parquet.io.api.Binary =>
              new String(b.getBytes, UTF_8)
            case other => other.toString
          }
          val (minS, maxS) =
            if (!st.hasNonNullValue) (None, None)
            else {
              val mn = asStr(st.genericGetMin)
              val mx = asStr(st.genericGetMax)
              // NaN poisons float min/max (PARQUET-1222): a chunk
              // whose bounds touch NaN records no stats at all
              if (t == "double" &&
                  (mn.toDouble.isNaN || mx.toDouble.isNaN))
                (None, None) // handled below via `unsupported`
              else (Some(mn), Some(mx))
            }
          if (t == "double" && st.hasNonNullValue && minS.isEmpty)
            unsupported += name
          else {
            val prev = acc.getOrElse(name,
              (t, Nil, Nil, 0L, 0L))
            // parquet reports -1 when a chunk's null count is
            // UNSET — once any chunk is unknown, the file's count
            // is unknown (the <0 sentinel), never a partial sum
            val nn =
              if (st.getNumNulls < 0 || prev._4 < 0) -1L
              else prev._4 + st.getNumNulls
            acc(name) = (t, prev._2 ++ minS.toList,
              prev._3 ++ maxS.toList,
              nn, prev._5 + chunk.getValueCount)
          }
      }
    }
    (acc.toMap -- unsupported).map { case (name, (t, mins, maxes, nulls, rows)) =>
      val min = if (mins.isEmpty) None else Some(mins.minBy(statKey(t, _)))
      val max = if (maxes.isEmpty) None else Some(maxes.maxBy(statKey(t, _)))
      name -> ColStats(t, min, max, nulls, rows)
    }.toMap
  }

  /** Ordering key for stat values of a given typ — numeric for
    * long/double, UTF-8 BYTE order for strings (the order Spark's
    * UTF8String comparisons use; Java String.compareTo is UTF-16
    * code-unit order, which DISAGREES on supplementary-plane text and
    * would mis-prune). */
  private def statKey(typ: String, v: String): StatOrd = typ match {
    case "long"   => NumOrd(BigDecimal(v))
    case "double" => NumOrd(BigDecimal(v.toDouble))
    case _        => StrOrd(v.getBytes(UTF_8))
  }
  private sealed trait StatOrd extends Ordered[StatOrd]
  private final case class NumOrd(v: BigDecimal) extends StatOrd {
    def compare(o: StatOrd): Int = v.compare(o.asInstanceOf[NumOrd].v)
  }
  private final case class StrOrd(b: Array[Byte]) extends StatOrd {
    def compare(o: StatOrd): Int = {
      val ob = o.asInstanceOf[StrOrd].b
      var i = 0
      while (i < b.length && i < ob.length) {
        val c = (b(i) & 0xff) - (ob(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      b.length - ob.length
    }
  }

  private def parseStatsLine(line: String)
      : Option[(String, String, ColStats)] =
    line.split("\\|", -1) match {
      case Array(f, c, t, mn, mx, nulls, rows) =>
        Some((dec(f), dec(c), ColStats(t,
          if (mn.isEmpty) None else Some(dec(mn)),
          if (mx.isEmpty) None else Some(dec(mx)),
          nulls.toLong, rows.toLong)))
      case _ => None // unknown stats dialect: ignore, never mis-prune
    }

  /** Per-file column stats of snapshot `v` (same log-replay semantics
    * as [[snapshotFiles]]). Files committed without stats (older
    * manifests, unsupported types) map to an empty column map. */
  def snapshotStats(root: String, v: Long)
      : Map[String, Map[String, ColStats]] = state(root, v).stats

  /** METADATA-ONLY aggregates: `count(*)`, `count(col)`-style null
    * counts, and min/max for the named LOGICAL columns of snapshot
    * `version` (default latest), answered purely from the manifest's
    * per-file footer stats — zero data files are opened (the Delta
    * "answer `SELECT COUNT(*)` from the log" optimization; at 100 TB
    * this is an O(files) driver fold versus a full-table scan, and it
    * still works after the data files are archived elsewhere).
    *
    * One output row per requested column:
    * `(col_name, n_rows, n_nulls, min_v, max_v)` with min/max as the
    * column's long value (the caller picks long-typed columns; string
    * or double min/max would re-open the stats-stringification
    * rabbit hole for no catalog value). Min/max are NULL for an
    * all-null column.
    *
    * REFUSES (throws) rather than risks a wrong answer when:
    *  - the snapshot carries merge-on-read tombstones (deleted rows
    *    are still inside the files' footer counts — Delta likewise
    *    disables stats-only answers under deletion vectors);
    *  - any live file lacks harvested stats for a requested column
    *    (an absent footer makes every aggregate a lower bound, not an
    *    answer). Callers that can pay the scan fall back to a plain
    *    read. */
  def statsAggregate(spark: SparkSession, root: String,
      cols: Seq[String], version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(root))
    val st = state(root, v)
    require(st.tombs.isEmpty,
      "statsAggregate: snapshot has merge-on-read tombstones — footer " +
        "row counts include deleted rows; compact first or scan")
    val rows = cols.map { logical =>
      val phys = physicalName(st, logical)
      val perFile = st.files.map { f =>
        st.stats.getOrElse(f, Map.empty).getOrElse(phys,
          throw new IllegalStateException(
            s"statsAggregate: file $f has no stats for column " +
              s"$logical — metadata cannot answer; scan instead"))
      }
      require(perFile.forall(_.typ == "long"),
        s"statsAggregate: $logical is not a long-typed stats column")
      require(perFile.forall(_.nulls >= 0),
        s"statsAggregate: $logical has files with UNKNOWN null " +
          "counts — metadata cannot answer; scan instead")
      val nRows = perFile.map(_.rows).sum
      val nNulls = perFile.map(_.nulls).sum
      val mins = perFile.flatMap(_.min).map(_.toLong)
      val maxs = perFile.flatMap(_.max).map(_.toLong)
      org.apache.spark.sql.Row(logical, nRows, nNulls,
        mins.minOption.orNull, maxs.maxOption.orNull)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("col_name",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_nulls",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("min_v",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("max_v",
        org.apache.spark.sql.types.LongType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Can any row of a file with stats `cs` satisfy
    * `col BETWEEN lower AND upper` (bounds inclusive, None =
    * unbounded)? The inclusive form of [[mayMatchStrict]]. */
  private[sources] def mayMatch(cs: Option[ColStats],
      lower: Option[Any], upper: Option[Any]): Boolean =
    mayMatchStrict(cs, lower, lowerStrict = false, upper, upperStrict = false)

  /** Can any row of a file with stats `cs` satisfy `col > lower` /
    * `col >= lower` and `col < upper` / `col <= upper` (per-bound
    * strictness, None = unbounded)? NULL column values never satisfy a
    * range predicate, so an all-null file is skippable outright. No
    * stats → must read. Strict bounds also prune the BOUNDARY file a
    * strict comparison can never match — the aligned-range pattern
    * (`ts > day_end` on day-clustered data, `key > range_max` after a
    * range split) where inclusive pruning always leaves one boundary
    * file open. Strictness assumes nothing the inclusive check does
    * not: a recorded max is >= the actual max (true of parquet's
    * INEXACT truncated string bounds), so `recorded_max == lower`
    * still proves no row exceeds `lower` (and symmetrically for min). */
  private[sources] def mayMatchStrict(cs: Option[ColStats],
      lower: Option[Any], lowerStrict: Boolean,
      upper: Option[Any], upperStrict: Boolean): Boolean = cs match {
    case None => true
    case Some(c) =>
      (c.min, c.max) match {
        case (None, None) => c.nulls < c.rows // all-null file: skip
        case (Some(mn), Some(mx)) =>
          // A bound that doesn't parse as the column's stat type (e.g.
          // a string bound against long stats, or a malformed stats
          // value) must degrade to "read the file", never throw —
          // absence of USABLE stats is the same as absence of stats.
          scala.util.Try {
            def key(v: Any) = statKey(c.typ, v.toString)
            upper.forall(u =>
              if (upperStrict) statKey(c.typ, mn) < key(u)
              else statKey(c.typ, mn) <= key(u)) &&
            lower.forall(l =>
              if (lowerStrict) statKey(c.typ, mx) > key(l)
              else statKey(c.typ, mx) >= key(l))
          }.getOrElse(true)
        case _ => true
      }
  }

  /** Graft's ONE per-file skipping rule: the files of snapshot `st`
    * that may hold a row satisfying every predicate in `predicates`.
    * Every graft path decides through it — the v1 [[GraftFileIndex]],
    * the DSv2 [[Graft2Scan]], DML targeting and [[pruneFiles]] /
    * [[readPruned]]. Per file, [[StatsPruning.mayMatchExpr]] walks the
    * predicate over min/max and null counts; its equality probe then
    * asks the file's bloom sidecar and its hidden-partition tag.
    *
    * Columns are keyed by NAME, resolved logical → physical through
    * [[physicalName]]; an unresolved predicate (a Column-built
    * `col("k") >= 17`) is first given the shape of an analyzed one
    * ([[resolveAgainst]]). A name with no stats, or a predicate that
    * does not resolve, keeps every file.
    *
    * The bloom answers only when the probe string is the one the build
    * side stored: [[buildBloomIndex]] indexes `CAST(col AS STRING)`, so
    * the probe is Spark's own `CAST(literal AS STRING)`, and only when
    * the literal's type equals the column's and that type's string form
    * does not depend on the session time zone (not TIMESTAMP). The tag
    * probe gets the literal's external value (a DATE as `java.sql.Date`
    * / `LocalDate`). Any other case keeps the file — pruning changes
    * cost, never answers. */
  private[sources] def filesMayMatch(root: String, st: TableState,
      predicates: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{
      AttributeReference, Cast, Literal}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.util.sketch.BloomFilter
    val physical = physicalSchemaOf(st)
    def typeOf(phys: String) =
      physical.flatMap(_.fields.find(_.name == phys)).map(_.dataType)
    val bound = predicates.map(e => resolveAgainst(st,
        org.apache.spark.sql.GraftColumnBridge.catalyst(e)).transform {
      case a: AttributeReference => a.withName(physicalName(st, a.name))
    })
    val blooms = scala.collection.mutable.Map[String, BloomFilter]()
    def eqProbe(f: String)(c: String, l: Literal): Boolean = {
      val dt = typeOf(c)
      val bloomOk = !dt.contains(l.dataType) ||
        Cast.needsTimeZone(l.dataType, StringType) ||
        st.blooms.get((f, c)).forall(sc => blooms.getOrElseUpdate(sc,
            BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(readDataBytes(root, sc))))
          .mightContainString(Cast(l, StringType).eval().toString))
      bloomOk && st.parts.get(f).forall { case (spec, pv) =>
        PartitionTransform.parseOpt(spec).forall(t => t.srcCol != c ||
          dt.flatMap(t.probe(
            CatalystTypeConverters.convertToScala(l.value, l.dataType), _))
            .forall(_ == pv))
      }
    }
    st.files.filter(f => bound.forall(e => StatsPruning.mayMatchExpr(
      st.stats.getOrElse(f, Map.empty), e, eqProbe(f))))
  }

  /** `e` in the shape an optimized scan filter has: an unresolved
    * predicate is resolved against snapshot `st`'s schema, then Spark's
    * own `ConstantFolding` and `UnwrapCastInBinaryComparison` turn
    * `col >= cast(17 as bigint)` or `cast(i as bigint) = 5L` into
    * attribute-vs-literal comparisons. One that does not resolve
    * becomes `true`, which keeps every file. */
  private def resolveAgainst(st: TableState,
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{
      AttributeReference, Literal}
    import org.apache.spark.sql.catalyst.optimizer.{
      ConstantFolding, UnwrapCastInBinaryComparison}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    if (e.resolved) e
    else scala.util.Try {
      val rel = LocalRelation(schemaOf(st).toSeq.flatMap(_.fields.map(f =>
        AttributeReference(f.name, f.dataType, f.nullable)())))
      val analyzed =
        SparkSession.active.sessionState.analyzer.execute(Filter(e, rel))
      Seq(ConstantFolding, UnwrapCastInBinaryComparison, ConstantFolding)
        .foldLeft(analyzed)((p, rule) => rule(p))
        .asInstanceOf[Filter].condition
    }.filter(_.resolved).getOrElse(Literal.TrueLiteral)
  }

  /** The files of snapshot `v` a read of `predicate` must open, plus the
    * total file count — [[filesMayMatch]] exposed so callers and specs
    * can observe the pruning ratio. */
  def pruneFiles(root: String, v: Long,
      predicate: org.apache.spark.sql.Column): (Seq[String], Int) = {
    val st = state(root, v)
    (filesMayMatch(root, st,
      Seq(org.apache.spark.sql.GraftColumnBridge.expression(predicate))),
      st.files.size)
  }

  /** Data-skipping read: the snapshot (latest, or `version`) filtered by
    * `predicate`, opening only the files [[filesMayMatch]] keeps — a
    * selective range on a clustered table, a conjunction after Z-order
    * clustering, `IS [NOT] NULL`, or a point lookup through the bloom
    * index and partition tags all prune from metadata before any row is
    * read. Tombstones resolve and the predicate still applies to the
    * surviving rows, so the result equals
    * `read(...).filter(predicate)` exactly. */
  def readPruned(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      version: Option[Long] = None): DataFrame = {
    val latest = latestVersion(root)
    require(latest >= 0, s"$root is not a versioned table (empty log)")
    val st = state(root, version.getOrElse(latest))
    readResolved(spark, root, st, filesMayMatch(root, st,
        Seq(org.apache.spark.sql.GraftColumnBridge.expression(predicate))))
      .filter(predicate)
  }

  /** Can any row of a file with stats `cs` satisfy `col IS NULL`
    * (`wantNull`) / `col IS NOT NULL` (!`wantNull`)? The NULL COUNT in
    * the footer stats decides: a file with zero nulls has no row for
    * `IS NULL`; an all-null file has none for `IS NOT NULL`. No stats
    * → must read (same degrade-to-read contract as [[mayMatch]]). */
  private[sources] def mayMatchNullness(cs: Option[ColStats],
      wantNull: Boolean): Boolean = cs match {
    case None => true
    case Some(c) if c.nulls < 0 => true // count unknown: must read
    case Some(c) => if (wantNull) c.nulls > 0 else c.nulls < c.rows
  }

  // ---------------------------------------------------------------------
  // Bloom-filter file index — point-lookup data skipping for columns
  // min/max CANNOT prune (high-cardinality values scattered across
  // every file: user ids, order keys in arrival order, content
  // hashes). One sidecar bloom filter per (data file, column), built in
  // a single distributed pass and registered in the log as a data-free
  // append; an equality read consults the blooms and opens only the
  // files that might contain the probe — the Delta/Iceberg bloom-index
  // capability. Soundness: a bloom answers "definitely absent" or
  // "maybe present", so skipping is exact (no false skips); files
  // without an index (appended later, or rewritten since) are simply
  // read — absence of an index degrades to a scan, never to a wrong
  // answer. Rewrites (`replace`/`overwrite`) drop the dead files'
  // entries; [[restore]] and checkpoints round-trip the map; [[vacuum]]
  // keeps sidecars referenced by retained snapshots.
  // ---------------------------------------------------------------------

  /** Build a bloom-filter index over `colName` for every live file of
    * the current snapshot, in ONE distributed pass: per-partition
    * filters keyed by `input_file_name`, merged per file (bloom union
    * is bitwise OR — mergeable like every sketch in this engine), then
    * registered as a data-free append commit. Capacity is sized from
    * the manifests' per-file row counts; `fpp` is the per-file false-
    * positive rate (a false positive costs one extra file read, never
    * a wrong answer). Returns the committed version. */
  def buildBloomIndex(spark: SparkSession, root: String, colName: String,
      fpp: Double = 0.01): Long = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    import org.apache.spark.util.sketch.BloomFilter
    import org.apache.spark.sql.Encoders
    commitMetadata(root) { (base, st) =>
      require(st.files.nonEmpty, "empty snapshot: nothing to index")
      // Uniform capacity = the largest per-file row count (uniform so
      // per-partition partial filters are bit-compatible for merging);
      // files without row stats fall back to a roomy default — an
      // oversized bloom only wastes bits, an undersized one inflates fpp.
      val expected = math.max(1024L,
        st.stats.values.flatMap(_.values.map(_.rows)).maxOption
          .getOrElse(1L << 20))
      // input_file_name() is a file URI whose exact form (file:/ vs
      // file:///) varies; key the reverse map by decoded filesystem path
      val relByAbs = st.files
        .map(f => dataPath(root, f).toAbsolutePath.toString -> f).toMap
      // build + register in PHYSICAL space (the bloom outlives renames)
      val physCol = physicalName(st, colName)
      val pairs = readFilesWithSchema(spark, root, physicalSchemaOf(st),
          st.files)
        .select(input_file_name().as("_f"),
          col(physCol).cast("string").as("_v"))
        .where(col("_v").isNotNull)
        .as[(String, String)](Encoders.tuple(Encoders.STRING, Encoders.STRING))
      val perFile = pairs.mapPartitions { it =>
          val acc = scala.collection.mutable.Map[String, BloomFilter]()
          it.foreach { case (f, v) =>
            acc.getOrElseUpdate(f, BloomFilter.create(expected, fpp))
              .putString(v) }
          acc.iterator.map { case (f, bf) =>
            val bos = new java.io.ByteArrayOutputStream()
            bf.writeTo(bos)
            (f, bos.toByteArray) }
        }(Encoders.tuple(Encoders.STRING, Encoders.BINARY))
        .groupByKey(_._1)(Encoders.STRING)
        .reduceGroups { (a, b) =>
          val x = BloomFilter.readFrom(new java.io.ByteArrayInputStream(a._2))
          x.mergeInPlace(
            BloomFilter.readFrom(new java.io.ByteArrayInputStream(b._2)))
          val bos = new java.io.ByteArrayOutputStream()
          x.writeTo(bos)
          (a._1, bos.toByteArray)
        }
        .map(_._2)(Encoders.tuple(Encoders.STRING, Encoders.BINARY))
        .collect() // one (file, serialized bloom) row per live file
      // Sidecars land under data/ (immutable dirs, same vacuum protocol
      // as tombstone sidecars) BEFORE the manifest makes them visible.
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      val dirRel = s"data/bloomidx-v${base.version}-$nonce"
      val entries = perFile.toSeq.sortBy(_._1).zipWithIndex.map {
        case ((abs, bytes), i) =>
          val rel = f"$dirRel/$i%05d.bf"
          dataIO(root).write(Paths.get(root, rel), bytes)
          val absPath = new java.net.URI(abs).getPath
          val dataFile = relByAbs.getOrElse(absPath,
            throw new IllegalStateException(
              s"bloom build saw unknown input file $abs"))
          (dataFile, rel)
      }
      base.copy(bloomFiles = entries.map { case (dataFile, sc) =>
        (dataFile, physCol, sc) })
    }
  }

  /** The file set of snapshot `v` (log replay: overwrite resets,
    * append extends, replace swaps named files, delete-mor leaves the
    * set untouched), paths relative to `root`. Resolved from the
    * newest checkpoint plus the manifest suffix — see [[state]]. */
  def snapshotFiles(root: String, v: Long): Seq[String] =
    state(root, v).files

  /** The merge-on-read tombstones of snapshot `v`: live data file ->
    * sidecar key-files that apply to it (exposed for specs and
    * operational introspection; empty map = pure copy-on-write
    * history). */
  def snapshotTombstones(root: String, v: Long): Map[String, Seq[String]] =
    state(root, v).tombs

  /** Enforce active CHECK constraints on a batch of rows about to be
    * published: a row violates when a constraint evaluates to strict
    * FALSE (SQL CHECK: NULL passes). One job, all constraints in one
    * pass, early-terminated by limit(1); the error names every violated
    * constraint. Called on every path that publishes NEW ROW VALUES —
    * ingest ([[commit]]), copy-on-write rewrites ([[commitReplace]],
    * i.e. SQL UPDATE/MERGE and the range operators), and merge-on-read
    * updates ([[updateKeysMOR]]) — so `UPDATE t SET k = -1` refuses on
    * a table whose CHECK k > 0 would refuse the same value at INSERT. */
  private def enforceChecks(df: DataFrame,
      activeChecks: Map[String, String], root: String): Unit = {
    if (activeChecks.nonEmpty) {
      import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
      val flagged = activeChecks.toSeq.sortBy(_._1).map { case (n, e) =>
        n -> coalesce(not(expr(e)), lit(false))
      }
      val hit = df.select(flagged.map(_._2): _*)
        .filter(flagged.map(_._2).reduce(_ || _))
        .limit(1).collect()
      if (hit.nonEmpty) {
        val names = flagged.zipWithIndex
          .collect { case ((n, _), i) if hit(0).getBoolean(i) => n }
        throw new IllegalArgumentException(
          s"commit to $root violates CHECK constraint(s): " +
            names.map(n => s"$n [${activeChecks(n)}]").mkString("; "))
      }
    }
  }

  /** Commit `df` as the next version. Returns the committed version.
    * `mode` is "append" or "overwrite". Data files are fully written
    * (and spark-committed) before the manifest move makes them
    * visible; on a commit race the loser's data dir is orphaned (and
    * reclaimed by [[vacuum]]) — never half-visible.
    *
    * `expected` pins the version this writer intends to create (its
    * read basis + 1 — the optimistic-concurrency API): if another
    * writer got there first, [[ConcurrentCommitException]] fires even
    * when the race finished before we started writing. Omitted, the
    * target is latest+1 and only a same-version photo-finish races. */
  def commit(df: DataFrame, root: String, mode: String = "append",
      expected: Option[Long] = None, batchTag: Option[Long] = None,
      partitionBy: Option[PartitionTransform] = None): Long = {
    val (next, prevState) = ingestBasis(root, mode, expected)
    val schemaJson = ingestGate(root, mode, prevState, df.schema, Some(df))
    // Column mapping: appends write under PHYSICAL names (a rename
    // never rewrites data, so the files keep their original columns
    // forever). A NEW column may not claim a physical name another
    // logical column occupies — appending `a` after `rename a -> b`
    // would otherwise resurrect b's bytes under a's name in old files.
    // An overwrite replaces the file set and re-baselines physical =
    // logical (the fold resets the mapping).
    val writeDf =
      if (mode == "overwrite") df
      else {
        val cm = prevState.map(_.colMap).getOrElse(Map.empty)
        val retired = prevState.map(_.dropped).getOrElse(Set.empty)
        val conflicts = df.columns.filter { c =>
          val p = cm.getOrElse(c, c)
          retired(p) || cm.exists { case (l, pp) => pp == p && l != c }
        }
        require(conflicts.isEmpty,
          s"column(s) ${conflicts.mkString(", ")} collide with physical " +
            "names held by renamed or dropped columns — old bytes would " +
            "resurrect; pick different names or overwrite the table")
        prevState.map(toPhysical(_, df)).getOrElse(df)
      }
    // under column mapping the transform rebinds to the physical name
    // (files and tags outlive renames, like stats and blooms)
    val layout = partitionBy.map(t =>
      if (mode == "append")
        prevState.map(s => t.rebind(physicalName(s, t.srcCol))).getOrElse(t)
      else t)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    publish(root, land(writeDf, root, s"data/v$next-$nonce", layout).copy(
      version = next, action = mode, batchTag = batchTag,
      schemaJson = schemaJson))
    next
  }

  /** The version an ingest commit ([[commit]], [[commitStagedFiles]])
    * publishes — `expected`, by default latest + 1 — and the state it
    * builds on (None for a new table). Refuses a version that would
    * punch a GAP in the log (snapshots replay a contiguous prefix, so a
    * gap makes every later read silently wrong) or is already taken. */
  private def ingestBasis(root: String, mode: String,
      expected: Option[Long]): (Long, Option[TableState]) = {
    require(mode == "append" || mode == "overwrite",
      s"mode must be append|overwrite, got $mode")
    logIO(root).mkdirs(logDir(root))
    val latest = latestVersion(root)
    val next = expected.getOrElse(latest + 1)
    require(next <= latest + 1,
      s"expected version $next would leave a log gap (latest is $latest)")
    if (logIO(root).exists(manifestPath(root, next)))
      throw new ConcurrentCommitException(next)
    (next, if (latest < 0) None else Some(state(root, latest)))
  }

  /** The one ingest gate of [[commit]] and [[commitStagedFiles]], over
    * the basis state `prev`; returns the schema line to record.
    *
    * CHECK constraints (the Delta ADD CONSTRAINT contract): every
    * active constraint must hold on the incoming `rows` (None = no
    * rows); built and scanned only when the table has constraints.
    *
    * Schema tracking + evolution (the Delta-shaped contract): an
    * APPEND may ADD columns or carry a SAFELY WIDER type for an
    * existing one ([[isSafeWidening]]) — the batch's schema becomes the
    * table schema (metadata-only; old files keep their narrow physical
    * type and reads up-cast them, so ALTER TYPE is one manifest, not a
    * table rewrite). Narrowing, drops and other retypes refuse; an
    * OVERWRITE replaces the file set and may change schema freely. The
    * check compares against METADATA, never parquet footers.
    *
    * An append onto a pre-schema-tracking history records NO schema:
    * old files may hold columns it does not know about, and a partial
    * schema line would silently hide them from reads. */
  private def ingestGate(root: String, mode: String,
      prev: Option[TableState], schema: org.apache.spark.sql.types.StructType,
      rows: => Option[DataFrame]): Option[String] = {
    val checks = prev.map(_.checks).getOrElse(Map.empty)
    if (checks.nonEmpty) rows.foreach(enforceChecks(_, checks, root))
    val prevSchema = prev.flatMap(schemaOf)
    if (mode == "append") prevSchema.foreach { prior =>
      val byName = schema.map(f => f.name -> f.dataType).toMap
      val broken = prior.filter { f =>
        byName.get(f.name) match {
          case Some(t) => t != f.dataType && !isSafeWidening(f.dataType, t)
          case None => true
        }
      }
      require(broken.isEmpty,
        "append may add columns or widen int->bigint / float->double, " +
          "but not drop, narrow, or otherwise retype existing ones; " +
          s"missing or retyped: ${broken.map(_.name).mkString(", ")} " +
          "(use overwrite to change the schema)")
    }
    if (mode == "overwrite" || prev.isEmpty || prevSchema.isDefined)
      Some(schema.json)
    else None
  }

  /** The one landing step for Spark-written data: write `df` as parquet
    * into the new directory `dirRel` under `root` (an existing one
    * refuses), list its parquet leaves in sorted order, and return the
    * record that adds them ([[adding]]: each file with its recorded
    * size and footer stats), plus each file's `part=` tag when
    * `partitionBy` lays the rows out. The caller sets version and
    * action. A `sidecar` (tombstone keys) is listed only: the log
    * records no size or stats for it, so no footer is read.
    *
    * Hidden partitioning ([[PartitionTransform]]): the rows are laid
    * out by the transform of the source column and each file is tagged
    * with its (transform, value). The helper column drives Spark's
    * `partitionBy` ONLY — Spark excludes it from the data files, so
    * user data is untouched (the point of HIDDEN partitioning). */
  private def land(df: DataFrame, root: String, dirRel: String,
      partitionBy: Option[PartitionTransform] = None,
      sidecar: Boolean = false): Manifest = {
    import org.apache.spark.sql.functions.col
    val dir = Paths.get(root, dirRel)
    val pvCol = "__graft_pv"
    val laid = partitionBy.fold(df) { t =>
      val field = df.schema.fields.find(_.name == t.srcCol)
        .getOrElse(throw new IllegalArgumentException(
          s"partition transform ${t.spec}: column ${t.srcCol} not in " +
            s"batch schema [${df.columns.mkString(", ")}]"))
      require(!df.columns.contains(pvCol),
        s"batch already has a $pvCol column — rename it first")
      // repartition BY the value first so each partition value is
      // written by one task — one file per value, not one per
      // (task, value) pair (the small-files explosion partitionBy
      // produces on unclustered input)
      df.withColumn(pvCol, t.sparkExpr(col(t.srcCol), field.dataType))
        .repartition(col(pvCol))
    }
    val writer = laid.write.mode("errorifexists")
    partitionBy.fold(writer)(_ => writer.partitionBy(pvCol))
      .parquet(dir.toString)
    val files = dataIO(root).listFilesRecursive(dir).filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".")
    }.map(p => s"$dirRel/${dir.relativize(p)}").sorted
    val tags = for {
      t <- partitionBy.toSeq
      f <- files
      seg <- f.split("/").find(_.startsWith(pvCol + "="))
    } yield (f, t.spec, // Spark writes dir values Hive-escaped; store the REAL value
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(seg.drop(pvCol.length + 1)))
    if (sidecar) Manifest(-1L, "", files = files)
    else adding(df.sparkSession, root, files).copy(parts = tags)
  }

  /** The record that adds `files` (already under `root`): the files,
    * each one's recorded size (Delta AddFile.size — scan planning and
    * DESCRIBE DETAIL run from metadata alone) and its data-skipping
    * stats, harvested from the parquet FOOTER (metadata-only, no data
    * re-read) so stats and file list commit atomically together. The
    * caller sets version and action. */
  private def adding(spark: SparkSession, root: String,
      files: Seq[String]): Manifest =
    Manifest(-1L, "", files = files,
      fsizes = files.map(f => f -> dataSize(root, f)),
      stats = files.map(f =>
        f -> footerStats(spark, Paths.get(root, f))).toMap)

  /** Whether an APPEND staged under LOGICAL column names may commit to
    * the snapshot at `v`: false once the table carries renamed or
    * dropped columns (appends must restate PHYSICAL names — the v1
    * writer owns that rename). The DSv2 write rule's eligibility
    * probe (metadata-only). */
  def v2AppendEligible(root: String, v: Long): Boolean = {
    val s = state(root, v)
    s.colMap.isEmpty && s.dropped.isEmpty
  }

  /** CREATE TABLE with no rows — one empty manifest carrying only the
    * schema line (version 0). The metadata-only creation the DSv2
    * [[graft.ext.GraftCatalog]] runs for `CREATE TABLE cat.db.t`;
    * the first INSERT then appends files under the recorded schema. */
  def createTable(spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType): Long = {
    require(latestVersion(root) < 0,
      s"createTable: $root already has a log")
    commitStagedFiles(spark, root, Nil, schema, "append")
  }

  /** Publish ALREADY-STAGED parquet files as ONE commit — the
    * driver-side half of the DSv2 write path
    * ([[Graft2BatchWrite]]): executor tasks stream rows straight into
    * parquet under `data/` through the connector `DataWriter`
    * contract (invisible until this manifest references them — the
    * same invisibility rule [[commit]] relies on), then this refuses
    * appends under column mapping (staged files carry the query's
    * LOGICAL names; the v1 writer owns the physical rename), passes
    * the same [[ingestGate]] as [[commit]] (CHECK constraints over the
    * staged rows, append schema evolution), harvests footer stats
    * (metadata-only) and publishes atomically via the log store's
    * putIfAbsent. */
  private[sources] def commitStagedFiles(spark: SparkSession,
      root: String, relFiles: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      mode: String): Long = {
    val (next, prevState) = ingestBasis(root, mode, None)
    require(mode == "overwrite" ||
      prevState.forall(s => s.colMap.isEmpty && s.dropped.isEmpty),
      "graft2 write: appends to a table with renamed or dropped " +
        "columns route through the v1 writer (staged files carry " +
        "logical names)")
    val schemaJson = ingestGate(root, mode, prevState, schema,
      if (relFiles.isEmpty) None
      else Some(spark.read.schema(Graft2DataSource.asNullable(schema)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
        .parquet(relFiles.map(f => Paths.get(root, f).toString): _*)))
    publish(root, adding(spark, root, relFiles.sorted).copy(
      version = next, action = mode, schemaJson = schemaJson))
    next
  }

  /** Publish manifest `m` as version `m.version` via HARD LINK, not
    * rename: POSIX rename() silently REPLACES an existing target
    * (Files.move's no-replace behavior is implementation-specific), so
    * a photo-finish race would vaporize the winner's committed
    * manifest. link(2) is atomic AND fails with EEXIST — the loser
    * reliably gets the exception. Every graft commit lands here, and
    * only [[render]] turns it into text. */
  private def publish(root: String, m: Manifest): Unit = {
    val next = m.version
    // Commit wall-clock stamp for timestamp time travel ([[versionAsOf]]).
    // Readers monotonize across versions, so clock skew between writers
    // cannot make as-of resolution non-deterministic.
    //
    // `parent=` chains each manifest to the SHA-256 of its
    // predecessor's exact bytes (git-commit-graph shape): any edit to
    // a published manifest breaks every later parent hash, so [[fsck]]
    // can prove log integrity instead of assuming it. Manifests are
    // immutable once linked, so hashing next-1 here is race-free even
    // if this publish loses the version race. The newest manifest has
    // no successor to vouch for it — a hash chain is tamper-EVIDENT
    // for history, not an anchor for the tip.
    val parent = if (next == 0) "genesis" else manifestHash(root, next - 1)
    val stamped =
      s"ts=${System.currentTimeMillis}\nparent=$parent\n" + render(m)
    try logIO(root).putIfAbsent(manifestPath(root, next),
      stamped.getBytes("UTF-8"))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new ConcurrentCommitException(next)
    }
    // Auto-checkpoint on the interval boundary. AFTER the commit is
    // durable, and best-effort: a checkpoint is derived data — failing
    // to write one must never fail the commit that already happened.
    if (next > 0 && next % checkpointEvery == 0)
      try checkpoint(root, Some(next))
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** DELETE FROM the table, copy-on-write: remove rows matching the
    * CONJUNCTION of inclusive `ranges` (`(col, lower, upper)`, None =
    * unbounded; rows with NULL in a ranged column never match and
    * always survive — SQL DELETE semantics): [[deleteWhere]] over the
    * range predicate.
    *
    * The manifest stats prune first: a file whose min/max cannot hold
    * a matching row is CARRIED OVER untouched — not rewritten, not
    * even opened. Only files that may hold matches are read, filtered,
    * and rewritten, landing as one `replace` commit (remove the
    * touched files, add their rewrites). On a range-clustered 100 TB
    * table a selective delete therefore rewrites a handful of files
    * instead of the table — the same copy-on-write shape as Delta's
    * DELETE. A delete no file can match is a METADATA-ONLY no-op:
    * returns the current version, commits nothing. Older snapshots
    * stay readable (the touched files are unlinked from the log, not
    * from disk, until [[vacuum]]). */
  def deleteRanges(spark: SparkSession, root: String,
      ranges: Seq[(String, Option[Any], Option[Any])]): Long = {
    require(ranges.nonEmpty, "deleteRanges needs at least one range " +
      "(an empty conjunction matches every row — use overwrite)")
    deleteWhere(spark, root, rangePredicate(ranges))
  }

  /** The conjunction of inclusive `(col, lower, upper)` ranges (None =
    * unbounded) as an unresolved predicate: [[filesMayMatch]] resolves
    * it against the snapshot, and a NULL in a ranged column matches
    * nothing. */
  private def rangePredicate(ranges: Seq[(String, Option[Any], Option[Any])])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.functions.{col, lit}
    org.apache.spark.sql.GraftColumnBridge.expression(
      ranges.flatMap { case (c, lo, hi) =>
        lo.map(l => col(c) >= lit(l)) ++ hi.map(u => col(c) <= lit(u))
      }.reduce(_ && _))
  }

  /** DELETE FROM the table, MERGE-ON-READ: remove the rows whose
    * `keyCol` is in `keys` by committing a TOMBSTONE SIDECAR — a small
    * parquet of the deleted keys — and rewriting NO data file at all.
    * Reads anti-join the sidecar against exactly the files whose
    * min/max stats could hold a deleted key (everything else never
    * sees the tombstone); [[compact]] /
    * [[deleteRanges]] / [[updateRanges]] / [[mergeKeyed]] fold
    * tombstones into their rewrites, and an `overwrite` clears them.
    *
    * This is the write-amplification answer for GDPR-style point
    * deletes at 100 TB: copy-on-write rewrites a whole file to drop
    * one row; merge-on-read writes bytes proportional to the DELETED
    * KEYS and defers the rewrite to the next compaction — Delta's
    * deletion-vector trade, keyed rather than positional. The sidecar
    * is broadcast at read time, so this path is for point/small
    * deletes by contract; bulk deletes belong to [[deleteRanges]].
    *
    * Append-after-delete semantics: the tombstone names specific
    * files, so rows appended LATER with a deleted key are new rows
    * and stay visible — exactly SQL `DELETE` followed by `INSERT`.
    * A delete whose keys no file can hold (stats-disjoint) is a
    * metadata-only no-op: returns the basis version. */
  def deleteKeysMOR(spark: SparkSession, root: String, keyCol: String,
      keys: DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    val basis = latestVersion(root)
    require(basis >= 0, s"$root is not a versioned table (empty log)")
    require(keys.columns.contains(keyCol),
      s"keys frame must carry the key column '$keyCol'")
    val st = state(root, basis)
    // Tombstones live in PHYSICAL space: the sidecar's key column and
    // the stats lookups use the physical name, so the tombstone keeps
    // applying if the logical column is later renamed.
    val physKey = physicalName(st, keyCol)
    // NULL keys match no row (SQL `DELETE WHERE k IN (...)`), drop them
    val distinctKeys = keys.select(col(keyCol).as(physKey))
      .where(col(physKey).isNotNull).distinct()
    val overlaps = keyOverlap(distinctKeys, physKey) match {
      case Some(test) => test
      case None => return basis // no non-null keys: no-op
    }
    val applies = st.files.filter(f =>
      overlaps(st.stats.getOrElse(f, Map.empty).get(physKey)))
    if (applies.isEmpty) return basis
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val sidecars = tombstone(distinctKeys, root, basis, nonce)
    // Rebase over compatible interleaved commits: the tombstone only
    // constrains the files it APPLIES to — an append or a rewrite of
    // other files doesn't invalidate it; a rewrite of an applied file
    // does (the rewrite read rows this delete targets) and conflicts.
    publishRebasing(root, basis, applies.toSet, st.schemaJson,
      allowTombstoneOverlap = true,
      mkBody = next => Manifest(next, "delete-mor",
        schemaJson = st.schemaJson,
        tombFiles = sidecars.map(_ -> physKey), tombApplies = applies))
  }

  /** Which files a keyed merge-on-read edit of `keys` (their non-null,
    * distinct `physKey` values) must tombstone: the test a file's
    * `physKey` stats must pass, or None when there are no keys.
    * SOUNDNESS: a file WITHOUT stats passes (mayMatch = true).
    * PRECISION: up to `precise` keys are checked individually against
    * each file's [min,max] (two point edits in far-apart files
    * tombstone 2 files, not the whole key envelope); past that cap — at
    * which size the copy-on-write path is the better tool anyway — the
    * test falls back to the envelope bound. */
  private def keyOverlap(keys: DataFrame, physKey: String)
      : Option[Option[ColStats] => Boolean] = {
    import org.apache.spark.sql.functions.{col, max => fmax, min => fmin}
    val precise = 10000
    val sample = keys.limit(precise + 1).collect().map(_.get(0))
    if (sample.isEmpty) None
    else if (sample.length <= precise)
      Some(cs => sample.exists(k => mayMatch(cs, Some(k), Some(k))))
    else {
      val bounds = keys.agg(
        fmin(col(physKey)).as("lo"), fmax(col(physKey)).as("hi")).head()
      Some(cs => mayMatch(cs, Some(bounds.get(0)), Some(bounds.get(1))))
    }
  }

  /** Land `keys` as a tombstone sidecar of the commit prepared on
    * `basis`; returns its files. One part file: sidecars are
    * point-edit sized by contract, and a single file keeps the
    * read-side broadcast to one open. */
  private def tombstone(keys: DataFrame, root: String, basis: Long,
      nonce: String): Seq[String] =
    land(keys.coalesce(1), root, s"data/tomb-v${basis + 1}-$nonce",
      sidecar = true).files

  /** UPDATE the table, MERGE-ON-READ: replace the rows whose `keyCol`
    * matches a row of `newImages` (full replacement rows in the
    * table's schema) by committing, in ONE atomic manifest, a
    * tombstone sidecar for the old images plus an append of the new
    * ones — rewriting NO existing data file. This is the
    * deletion-vector + re-append composition: write amplification is
    * proportional to the UPDATED ROWS, not to the files that hold
    * them, which is what makes GDPR-style point updates viable at
    * 100 TB (a copy-on-write [[updateRanges]] rewrites a whole file to
    * touch one row). [[compact]] / REORG PURGE fold the tombstones
    * away later, off the update's latency path.
    *
    * Semantics: SQL `UPDATE` for keys that exist; keys present in
    * `newImages` but in no data file simply append (upsert) — callers
    * wanting strict UPDATE pre-filter against the table. Batch
    * contract: point/small updates, one image per non-null key (the
    * sidecar broadcasts at read time, like [[deleteKeysMOR]]'s).
    * Conflict posture: rebases over interleaved appends and disjoint
    * rewrites, but REFUSES to rebase over another row-edit that
    * touched an applied file — unlike delete∘delete, update∘delete on
    * the same key does not commute (composing would resurrect the
    * deleted row), so the caller must re-read and retry.
    * Empty batch = metadata-only no-op (returns the basis version). */
  def updateKeysMOR(spark: SparkSession, root: String, keyCol: String,
      newImages: DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    val basis = latestVersion(root)
    require(basis >= 0, s"$root is not a versioned table (empty log)")
    val st = state(root, basis)
    val tableCols = schemaOf(st).map(_.fieldNames.toSeq).getOrElse(
      readFilesWithSchema(spark, root, None, st.files.take(1))
        .columns.toSeq)
    require(newImages.columns.toSet == tableCols.toSet,
      s"newImages schema must match table: ${tableCols.mkString(",")} " +
        s"(got ${newImages.columns.mkString(",")})")
    require(tableCols.contains(keyCol),
      s"key column '$keyCol' is not a table column")
    // One pass for count + the one-image-per-non-null-key check
    // (countDistinct ignores nulls, so equality with the total count
    // enforces both) — was two sequential jobs over the batch.
    val pre = newImages.agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.countDistinct(col(keyCol))).head()
    val n = pre.getLong(0)
    if (n == 0) return basis
    enforceChecks(newImages, st.checks, root) // new row values, same bar as INSERT
    val physKey = physicalName(st, keyCol)
    val distinctKeys = newImages.select(col(keyCol).as(physKey))
      .where(col(physKey).isNotNull).distinct()
    require(pre.getLong(1) == n,
      "updateKeysMOR needs exactly one image per non-null key " +
        "(NULL keys have no row identity; duplicate keys have no " +
        "well-defined final image — pre-dedup the batch)")
    // Same stats-first file targeting as [[deleteKeysMOR]]; the test
    // is used twice: to target the tombstone, and to conflict-check
    // files ADDED by interleaved commits at publish time (keyGuard)
    val overlaps = keyOverlap(distinctKeys, physKey)
      .getOrElse((_: Option[ColStats]) => false)
    val applies = st.files.filter(f =>
      overlaps(st.stats.getOrElse(f, Map.empty).get(physKey)))
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    // tombstone sidecar (old images' keys) — skipped entirely when no
    // file can hold an updated key (the batch is pure inserts)
    val sidecars =
      if (applies.isEmpty) Nil else tombstone(distinctKeys, root, basis, nonce)
    // new images append as ordinary data files (physical names, footer
    // stats, recorded sizes); one file — the batch is point-sized by
    // contract and the old images' files stay untouched
    val images = land(
      toPhysical(st, newImages.select(tableCols.map(col): _*)).coalesce(1),
      root, s"data/v${basis + 1}-$nonce")
    publishRebasing(root, basis, applies.toSet, st.schemaJson,
      allowTombstoneOverlap = false,
      // the tombstone covers BASIS files only — an interleaved commit
      // that ADDS a file possibly carrying an updated key would survive
      // untombstoned and break the unique-key contract changesKeyed
      // pairing relies on; conflict instead of silently duplicating
      keyGuard = Some((physKey, overlaps)),
      mkBody = next => images.copy(version = next, action = "update-mor",
        schemaJson = st.schemaJson,
        tombFiles = sidecars.map(_ -> physKey),
        tombApplies = applies))
  }

  /** UPDATE the table, copy-on-write: for rows matching the
    * CONJUNCTION of inclusive `ranges` (NULL in a ranged column never
    * matches — SQL UPDATE semantics), replace each column in `set`
    * with its expression (evaluated against the pre-update row, as
    * SQL does) — [[updateWhere]] over the range predicate. Same
    * stats-first pruning and `replace` commit shape as
    * [[deleteRanges]]: files that cannot hold a match carry over by
    * reference; only possibly-matching files rewrite. Set columns
    * must already exist (UPDATE changes values, not schema — add
    * columns with an append). */
  def updateRanges(spark: SparkSession, root: String,
      ranges: Seq[(String, Option[Any], Option[Any])],
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    require(ranges.nonEmpty, "updateRanges needs at least one range " +
      "(an unconditional update is an overwrite)")
    require(set.nonEmpty, "updateRanges needs at least one SET column")
    updateWhere(spark, root, set.toSeq.map { case (c, e) =>
        c -> org.apache.spark.sql.GraftColumnBridge.expression(e) },
      Some(rangePredicate(ranges)))
  }

  /** DELETE FROM the table with an ARBITRARY Catalyst predicate — the
    * SQL-DML form ([[graft.ext.GraftDmlRewrite]] routes
    * `DELETE FROM t WHERE ...` here). Same copy-on-write shape as
    * [[deleteRanges]], and file targeting is graft's one skipping rule
    * ([[filesMayMatch]]): stats ranges, null counts, bloom sidecars and
    * hidden-partition tags all prune before any file opens, for analyzed
    * and Column-built conditions alike, and any expression shape the
    * rule doesn't recognize conservatively keeps the file — pruning can
    * change COST, never the answer. NULL-condition rows survive (SQL
    * DELETE). Subquery conditions refuse loudly (materialize the keys
    * and use [[deleteKeysMOR]] / [[mergeKeyed]] instead). */
  def deleteWhere(spark: SparkSession, root: String,
      cond: org.apache.spark.sql.catalyst.expressions.Expression): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val basis = latestVersion(root)
    require(basis >= 0, s"$root is not a versioned table (empty log)")
    guardNoSubquery(cond, "DELETE")
    val st = state(root, basis)
    val touched = filesMayMatch(root, st, Seq(cond))
    if (touched.isEmpty) return basis // no file can match: metadata no-op
    val rewritten = readResolved(spark, root, st, touched)
      .filter(not(coalesce(rebindColumn(cond), lit(false))))
    commitReplace(root, basis, touched, rewritten)
  }

  /** UPDATE the table with an arbitrary Catalyst predicate and SET
    * expressions — the SQL-DML form (`UPDATE t SET ... WHERE ...`).
    * Copy-on-write over the expression-pruned file set; every SET
    * expression reads the PRE-update row (one projection, SQL UPDATE
    * semantics, like [[updateRanges]]); an absent condition updates
    * every row (still only rewriting files — history stays). */
  def updateWhere(spark: SparkSession, root: String,
      set: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)],
      cond: Option[org.apache.spark.sql.catalyst.expressions.Expression])
      : Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    require(set.map(_._1).distinct.size == set.size,
      s"duplicate SET column in ${set.map(_._1).mkString(", ")}")
    cond.foreach(guardNoSubquery(_, "UPDATE"))
    set.foreach(kv => guardNoSubquery(kv._2, "UPDATE SET"))
    val basis = latestVersion(root)
    require(basis >= 0, s"$root is not a versioned table (empty log)")
    val st = state(root, basis)
    val touched = cond match {
      case Some(c) => filesMayMatch(root, st, Seq(c))
      case None => st.files
    }
    if (touched.isEmpty) return basis
    val df = readResolved(spark, root, st, touched)
    val missing = set.map(_._1).toSet -- df.columns.toSet
    require(missing.isEmpty,
      s"SET columns must exist: missing ${missing.mkString(", ")}")
    val matchPred = cond.map(c => coalesce(rebindColumn(c), lit(false)))
      .getOrElse(lit(true))
    val setMap = set.toMap
    // POINT-predicate fast path: `WHERE key = v` / `WHERE key IN (...)`
    // with literals routes to MERGE-ON-READ ([[updateKeysMOR]]) —
    // tombstone the old images and append the new ones in one commit,
    // rewriting NO existing data file. At 100 TB this is the difference
    // between O(updated rows) and O(files holding them) for the most
    // common UPDATE shape. Conditions: the SET must not reassign the
    // key (the tombstone is keyed on the OLD value), the matched rows
    // must be unique per key (MOR row identity), and the batch must be
    // point-sized (≤ `morMaxRows` — a large IN-list update amortizes
    // better as copy-on-write, and keeps the MOR read-side sidecar
    // anti-joins small). Anything else falls through to COW below.
    val pointKey: Option[String] = cond.flatMap {
      case org.apache.spark.sql.catalyst.expressions.EqualTo(
          a: org.apache.spark.sql.catalyst.expressions.AttributeReference,
          _: org.apache.spark.sql.catalyst.expressions.Literal) => Some(a.name)
      case org.apache.spark.sql.catalyst.expressions.EqualTo(
          _: org.apache.spark.sql.catalyst.expressions.Literal,
          a: org.apache.spark.sql.catalyst.expressions.AttributeReference) =>
        Some(a.name)
      case org.apache.spark.sql.catalyst.expressions.In(
          a: org.apache.spark.sql.catalyst.expressions.AttributeReference, vs)
          if vs.forall(_.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.Literal]) => Some(a.name)
      case _ => None
    }.filterNot(setMap.contains)
    val morMaxRows = 10000L
    pointKey.foreach { key =>
      val matched = df.filter(matchPred)
      // count + distinct-key check in one job (countDistinct ignores
      // nulls, matching the old where-notNull-distinct count)
      val pre = matched.agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.countDistinct(col(key))).head()
      val cnt = pre.getLong(0)
      if (cnt == 0) return basis // nothing matches: metadata-only no-op
      if (cnt <= morMaxRows) {
        if (pre.getLong(1) == cnt) {
          val imgProj = df.columns.map { c =>
            setMap.get(c) match {
              case Some(e) => rebindColumn(e).as(c) // all rows match here
              case None => col(c)
            }
          }
          return updateKeysMOR(spark, root, key, matched.select(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(imgProj): _*))
        }
      }
    }
    val proj = df.columns.map { c =>
      setMap.get(c) match {
        case Some(e) =>
          when(matchPred, rebindColumn(e)).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }
    commitReplace(root, basis, touched,
      df.select(scala.collection.immutable.ArraySeq.unsafeWrapArray(proj): _*))
  }

  private def guardNoSubquery(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      what: String): Unit =
    require(!e.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.SubqueryExpression]),
      s"$what with a subquery is not supported on graft tables — " +
        "materialize the keys and use deleteKeysMOR / mergeKeyed")


  /** A SQL-DML expression as a Column usable against a FRESH frame:
    * the analyzer bound its attributes to the original relation's
    * exprIds, so re-anchor by NAME (readResolved's output carries the
    * same column names by construction). */
  private def rebindColumn(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnBridge.column(e.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          .quoted(a.name)
    })

  // ---------------------------------------------------------------------
  // Logical conflict detection + rebase (Delta's ConflictChecker shape).
  //
  // A row-edit writer prepares its commit against a basis snapshot; by
  // publish time other commits may have landed. Failing outright on ANY
  // interleaving is the wrong cost model at 100 TB — a one-hour
  // compaction losing to a one-row append must not redo the rewrite.
  // Instead the prepared commit REBASES: each interleaved manifest is
  // checked for a logical conflict, and if none exists the same
  // prepared body publishes at the next free version. Conflicts fail
  // loudly ([[ConcurrentWriteConflictException]]) and the caller
  // recomputes — correctness never depends on winning a race.
  // ---------------------------------------------------------------------

  /** Structural schema equality (parsed, not string — two writers may
    * serialize the same StructType with different field orderings of
    * metadata maps). */
  private def sameSchema(a: Option[String], b: Option[String]): Boolean =
    (a, b) match {
      case (Some(x), Some(y)) =>
        x == y || scala.util.Try(
          org.apache.spark.sql.types.DataType.fromJson(x) ==
            org.apache.spark.sql.types.DataType.fromJson(y)).getOrElse(false)
      case (None, None) => true
      case _ => false
    }

  /** Why interleaved manifest `m` conflicts with a prepared commit
    * that read (and will remove or tombstone) `touched` files of a
    * basis snapshot whose schema was `basisSchema` — None = compatible,
    * the prepared commit may rebase over `m` unchanged.
    *
    *  - `overwrite` replaced the whole table: everything this edit
    *    read is superseded.
    *  - schema or table-metadata changes (CHECK add/drop, RENAME,
    *    DROP COLUMN): the prepared rows were neither validated against
    *    the new constraints nor written under the new mapping, and the
    *    prepared manifest would re-state the OLD schema line.
    *  - `replace` that rewrote any `touched` file: this edit's output
    *    was computed from rows that no longer exist (rebasing would
    *    resurrect them / duplicate their rewrite).
    *  - `delete-mor` that tombstoned any `touched` file: this edit
    *    read rows the tombstone has since deleted.
    *  - appends are compatible (new files are disjoint by
    *    construction); bloom-index registrations on touched files are
    *    compatible because the replace fold drops removed files' bloom
    *    entries.
    *
    * `allowTombstoneOverlap`: a MOR delete rebasing over another MOR
    * delete is sound even on the SAME file — tombstone sidecars
    * compose (the fold attaches both; reads anti-join the union of
    * keys), which is exactly what both writers intended. A REWRITE
    * rebasing over a tombstone is not (it read rows the tombstone
    * deleted), so replace-writers pass false. */
  private def conflictReason(m: Manifest, touched: Set[String],
      basisSchema: Option[String],
      allowTombstoneOverlap: Boolean): Option[String] = {
    val metaChanged = m.checkAdds.nonEmpty || m.checkDrops.nonEmpty ||
      m.renames.nonEmpty || m.dropCols.nonEmpty
    m.action match {
      case "overwrite" => Some(s"v${m.version} overwrote the table")
      case _ if !sameSchema(m.schemaJson, basisSchema) =>
        Some(s"v${m.version} changed the table schema")
      case _ if metaChanged =>
        Some(s"v${m.version} changed table metadata (constraints/columns)")
      case "append" => None
      case "replace" =>
        m.removes.find(touched) // removes ∩ touched
          .map(f => s"v${m.version} rewrote $f, which this edit read")
      case "delete-mor" if allowTombstoneOverlap => None
      case "delete-mor" =>
        m.tombApplies.find(touched)
          .map(f => s"v${m.version} tombstoned $f, which this edit read")
      // update-mor never gets the overlap waiver even from tombstone
      // writers: delete∘delete commutes, but anything∘update on the
      // same file may not (the update's appended images carry rows the
      // other edit reasoned about) — conservative, always checked.
      case "update-mor" =>
        m.tombApplies.find(touched)
          .map(f => s"v${m.version} updated rows of $f, which this edit read")
      case other => Some(s"v${m.version} has unknown action '$other'")
    }
  }

  /** Publish a prepared commit on top of `basis`, rebasing over
    * compatible interleaved commits: conflict-check every manifest in
    * `(basis, target)`, then race for `target`; a lost race just grows
    * the range and retries (the newly landed manifest gets checked
    * like the rest). `mkBody` receives the version the body must
    * declare. Attempts are bounded only as a livelock backstop — each
    * retry is one manifest read + one link(2), so contention cost is
    * O(interleaved commits), not O(rewrites). */
  private[sources] def publishRebasing(root: String, basis: Long,
      touched: Set[String], basisSchema: Option[String],
      mkBody: Long => Manifest,
      allowTombstoneOverlap: Boolean = false,
      keyGuard: Option[(String, Option[ColStats] => Boolean)] = None)
      : Long = {
    var checked = basis // manifests <= checked are known compatible
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > 1000) throw new ConcurrentCommitException(checked + 1)
      val target = latestVersion(root) + 1
      ((checked + 1) until target).foreach { v =>
        val m = readManifest(root, v)
        conflictReason(m, touched, basisSchema, allowTombstoneOverlap)
          .foreach(why =>
            throw new ConcurrentWriteConflictException(v, why))
        // keyed merge-on-read guard: an otherwise-compatible commit
        // (append / disjoint replace) that ADDS a file whose key-range
        // stats overlap the edit's key set would leave the added rows
        // outside the tombstone — duplicate keys. Stat-less added
        // files conservatively conflict (mayMatch returns true).
        keyGuard.foreach { case (physKey, overlaps) =>
          m.files.find(f =>
            overlaps(m.stats.getOrElse(f, Map.empty).get(physKey)))
            .foreach(f => throw new ConcurrentWriteConflictException(v,
              s"v${m.version} added $f, whose $physKey stats may hold a " +
                "key this merge-on-read update rewrites — rebasing would " +
                "leave duplicate keys"))
        }
      }
      checked = target - 1
      try {
        publish(root, mkBody(target))
        return target
      } catch { case _: ConcurrentCommitException => () } // lost: re-range
    }
    -1L // unreachable
  }

  /** Land `rewritten` as one `replace` commit on top of `basis`:
    * remove `removed` files, add the new ones (with footer stats),
    * carry the basis schema line forward (a row-level rewrite never
    * changes schema; tableSchema resolves from the NEWEST manifest
    * only, so omitting it would lose schema tracking) unless
    * `schemaOverride` widens it ([[mergeKeyedEvolve]]). Shared tail of
    * [[deleteRanges]]/[[updateRanges]]/[[mergeConditional]]. Publishes
    * through [[publishRebasing]]: compatible interleaved commits
    * (appends, disjoint rewrites) cost a manifest read, not a redo of
    * the rewrite. */
  private def commitReplace(root: String, basis: Long,
      removed: Seq[String], rewritten: DataFrame,
      schemaOverride: Option[org.apache.spark.sql.types.StructType] = None)
      : Long = {
    val basisState = state(root, basis)
    // rewrites carry NEW row values (SQL UPDATE/MERGE), so active CHECK
    // constraints apply exactly as they do at INSERT — without this,
    // `UPDATE t SET k = -1` would smuggle past a CHECK k > 0
    enforceChecks(rewritten, basisState.checks, root)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    // the dir name stamps the PREPARED version for operator legibility;
    // after a rebase the manifest may publish later — references in
    // file= lines, not dir names, are what fsck/vacuum track.
    // `rewritten` is in logical space (it came through readResolved);
    // replacement files must keep PHYSICAL names like every data file
    val added = land(toPhysical(basisState, rewritten), root,
      s"data/v${basis + 1}-$nonce")
    publishRebasing(root, basis, removed.toSet, basisState.schemaJson,
      next => added.copy(version = next, action = "replace",
        removes = removed,
        schemaJson = schemaOverride.map(_.json).orElse(basisState.schemaJson)))
  }

  // ---------------------------------------------------------------------
  // Conditional MERGE — the full Delta MERGE clause algebra. Clause
  // conditions and expressions are Columns over a JOINED frame where
  // target columns appear as `__t_<name>` and source columns as
  // `__s_<name>` ([[MergeRef]] builds the references); the SQL rewrite
  // ([[graft.ext.GraftDmlRewrite]]) maps resolved attributes onto the
  // right side automatically.
  // ---------------------------------------------------------------------

  /** One WHEN clause. `MergeUpdate` in a matched/by-source position
    * updates the target row (partial SET lists allowed — unset columns
    * keep their value); `MergeInsert` in a not-matched position
    * inserts (unset columns become NULL); `MergeDelete` drops the row.
    * `cond = None` always fires. First clause whose condition holds
    * wins (Delta's in-order semantics). */
  sealed trait MergeClause
  final case class MergeUpdate(cond: Option[org.apache.spark.sql.Column],
      set: Map[String, org.apache.spark.sql.Column]) extends MergeClause
  final case class MergeDelete(cond: Option[org.apache.spark.sql.Column])
      extends MergeClause
  final case class MergeInsert(cond: Option[org.apache.spark.sql.Column],
      values: Map[String, org.apache.spark.sql.Column]) extends MergeClause

  /** Column references for [[mergeConditional]] clause expressions. */
  object MergeRef {
    def target(c: String): org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.col(s"__t_$c")
    def source(c: String): org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.col(s"__s_$c")
  }

  /** MERGE INTO with the FULL Delta clause algebra — conditional and
    * partial `WHEN MATCHED THEN UPDATE/DELETE`, conditional
    * `WHEN NOT MATCHED THEN INSERT`, and
    * `WHEN NOT MATCHED BY SOURCE THEN UPDATE/DELETE` — lowered to ONE
    * full-outer join committed as one `replace`.
    *
    * Row semantics (Delta's): each target row joins its source row on
    * `tKey = sKey`; matched rows run the `matched` clauses in order
    * (first condition that holds wins; no clause fires → row carries
    * over), source-only rows run `notMatched` (no insert fires → row
    * ignored), target-only rows run `bySource` (default carry over).
    * NULL keys never match (SQL equality). `source` must be unique
    * per key — two source rows matching one target row have no
    * deterministic outcome, so it refuses (Delta raises the same).
    * Tables that predate schema tracking merge against their first
    * file's footer schema.
    *
    * Scale shape: when `bySource` is empty, target files are pruned by
    * the source's key envelope ([[MergeKernel.targetFiles]]) — a
    * clustered CDC batch rewrites a handful of files. A `bySource`
    * clause reads every live row BY DEFINITION (its predicate ranges
    * over the whole target), so pruning is disabled only then. The
    * single shuffle is the join on the key; clause evaluation is one
    * codegen'd projection. */
  def mergeConditional(spark: SparkSession, root: String,
      source: DataFrame, tKey: String, sKey: String,
      matched: Seq[MergeClause] = Nil,
      notMatched: Seq[MergeClause] = Nil,
      bySource: Seq[MergeClause] = Nil): Long = {
    MergeKernel.checkClauses(matched, notMatched, bySource)
    val basis = latestVersion(root)
    require(basis >= 0, s"$root is not a versioned table (empty log)")
    val st = state(root, basis)
    val tableSc = schemaOrFooter(spark, root, st)
    require(tableSc.fieldNames.contains(tKey), s"no target column '$tKey'")
    require(source.columns.contains(sKey), s"no source column '$sKey'")
    targetFiles(st, source, tKey, "mergeConditional", bySource.nonEmpty) match {
      case None => basis
      case Some(touched) =>
        val out = MergeKernel.mergeCascadeRows(
          readResolved(spark, root, st, touched), source, tableSc, tKey,
          sKey, matched, notMatched, bySource)
        commitReplace(root, basis, touched, out)
    }
  }

  /** [[MergeKernel.targetFiles]] over snapshot `st`'s manifest stats. */
  private def targetFiles(st: TableState, source: DataFrame, key: String,
      what: String, everyFile: Boolean): Option[Seq[String]] = {
    val physKey = physicalName(st, key) // stats are keyed physically
    MergeKernel.targetFiles(source, key, what, everyFile, st.files)(f =>
      st.stats.getOrElse(f, Map.empty).get(physKey))
  }

  /** The logical schema of snapshot `st`: the tracked one, or the first
    * file's footer schema on a table that predates schema tracking. */
  private def schemaOrFooter(spark: SparkSession, root: String,
      st: TableState): org.apache.spark.sql.types.StructType =
    schemaOf(st).getOrElse(
      readFilesWithSchema(spark, root, None, st.files.take(1)).schema)

  /** `UPDATE SET *` / `INSERT *` over `cols`: (matched, notMatched). */
  private def starClauses(cols: Seq[String])
      : (Seq[MergeClause], Seq[MergeClause]) = {
    val star = cols.map(c => c -> MergeRef.source(c)).toMap
    (Seq(MergeUpdate(None, star)), Seq(MergeInsert(None, star)))
  }

  /** MERGE INTO, stats-pruned copy-on-write (the Delta `MERGE` shape,
    * upsert form): `source` carries the table's schema; rows whose
    * `key` matches an existing row REPLACE it, the rest INSERT — the
    * star form of [[mergeConditional]]. Only files whose `key` min/max
    * overlaps the source's [min, max] key envelope are read and
    * rewritten — everything else carries over by reference in one
    * `replace` commit. The pruning is EFFECTIVE when the source's keys
    * are clustered (a CDC batch usually is — recent keys). Inserts
    * land in the rewritten output even when no file matches. A source
    * with a duplicated key refuses (pre-dedup a CDC batch to its
    * latest record). Empty source = metadata-only no-op. For
    * tombstones use [[deleteRanges]] or the full [[merge]]. */
  def mergeKeyed(spark: SparkSession, root: String, source: DataFrame,
      key: String): Long = {
    val basis = latestVersion(root)
    require(basis >= 0, s"$root is not a versioned table (empty log)")
    val tableCols =
      schemaOrFooter(spark, root, state(root, basis)).fieldNames.toSeq
    require(source.columns.toSet == tableCols.toSet,
      s"source schema must match table: ${tableCols.mkString(",")} " +
        s"(got ${source.columns.mkString(",")})")
    val (matched, notMatched) = starClauses(tableCols)
    mergeConditional(spark, root, source, key, key, matched, notMatched)
  }

  /** [[mergeKeyed]] with AUTOMATIC SCHEMA EVOLUTION (Delta's
    * `spark.databricks.delta.schema.autoMerge` MERGE shape): the
    * source may carry columns the table does not have yet — they are
    * APPENDED to the table schema in the same atomic `replace`
    * commit. Existing rows in rewritten files get explicit NULLs; the
    * UNTOUCHED files (the whole point of stats-pruned merge) never
    * get rewritten at all — their rows surface the added columns as
    * NULL through the metadata-resolved read ([[readFiles]]), so
    * evolution stays O(touched files) regardless of table size.
    * Widening only: the source must still cover every existing table
    * column, added names must not collide with a [[dropColumn]]-
    * retired physical name (those bytes still sit inside live files
    * and would resurrect under the reused name). */
  def mergeKeyedEvolve(spark: SparkSession, root: String,
      source: DataFrame, key: String): Long = {
    import org.apache.spark.sql.functions.lit
    val basis = latestVersion(root)
    require(basis >= 0, s"$root is not a versioned table (empty log)")
    val st = state(root, basis)
    val tableSc = schemaOf(st).getOrElse(throw new IllegalStateException(
      "mergeKeyedEvolve: table predates schema tracking — " +
        "commit once with a schema line first"))
    val tableCols = tableSc.fieldNames.toSeq
    val srcCols = source.columns.toSeq
    require(tableCols.toSet.subsetOf(srcCols.toSet),
      "mergeKeyedEvolve: source must cover every table column " +
        s"(missing ${tableCols.filterNot(srcCols.toSet).mkString(",")})")
    val added = srcCols.filterNot(tableCols.toSet)
    if (added.isEmpty) return mergeKeyed(spark, root, source, key)
    added.foreach(c => require(!st.dropped.contains(c),
      s"mergeKeyedEvolve: added column $c collides with a dropped " +
        "physical column still present in live files"))
    val evolved = org.apache.spark.sql.types.StructType(
      tableSc.fields ++ added.map(c =>
        source.schema(source.schema.fieldIndex(c)).copy(nullable = true)))
    targetFiles(st, source, key, "mergeKeyedEvolve", everyFile = false) match {
      case None => basis // empty source: no evolution
      case Some(touched) =>
        val widened = added.foldLeft(readResolved(spark, root, st, touched))(
          (df, c) =>
            df.withColumn(c, lit(null).cast(source.schema(c).dataType)))
        val (matched, notMatched) = starClauses(evolved.fieldNames.toSeq)
        val merged = MergeKernel.mergeCascadeRows(widened, source, evolved,
          key, key, matched, notMatched, Nil)
        commitReplace(root, basis, touched, merged, Some(evolved))
    }
  }

  /** Read a set of snapshot-`v` files with the schema resolved from
    * MANIFEST METADATA (not parquet footers): columns added after a
    * file was written surface as NULL in its rows — schema-evolution
    * reads with zero footer-listing cost. Pre-tracking tables fall
    * back to Spark's own footer resolution. RAW read: merge-on-read
    * tombstones are NOT applied here — use [[readResolved]]. */
  private def readFiles(spark: SparkSession, root: String, v: Long,
      files: Seq[String]): DataFrame = {
    val st = state(root, v)
    aliasToLogical(st,
      readFilesWithSchema(spark, root, physicalSchemaOf(st), files))
  }

  private def readFilesWithSchema(spark: SparkSession, root: String,
      schema: Option[org.apache.spark.sql.types.StructType],
      files: Seq[String]): DataFrame = {
    if (files.isEmpty)
      schema match {
        case Some(sc) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
        case None =>
          spark.read.parquet(Paths.get(root, "data").toString).limit(0)
      }
    else {
      val paths = files.map(f => dataPath(root, f).toString)
      schema.fold(spark.read)(spark.read.schema).parquet(paths: _*)
    }
  }

  /** Tombstone-resolved read of a subset of a snapshot's files: files
    * with no applicable tombstone read plain; files with tombstones
    * ANTI-JOIN their sidecar keys (grouped by identical sidecar set,
    * so a normal point-delete history costs ONE broadcast anti-join,
    * not one per file). NULL keys never match an anti-join probe and
    * survive — SQL `DELETE WHERE k IN (...)` semantics. Sidecars are
    * point-delete sized by contract ([[deleteKeysMOR]]) and broadcast;
    * bulk deletes belong to the copy-on-write path. */
  private def readResolved(spark: SparkSession, root: String,
      st: TableState, files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    // The whole resolve runs in PHYSICAL column space (files and
    // tombstone sidecars are written under physical names, which never
    // change after a rename); the single alias at the end hands the
    // caller logical names.
    val schema = physicalSchemaOf(st)
    def rd(fs: Seq[String]) = readFilesWithSchema(spark, root, schema, fs)
    val (dirty, clean) = files.partition(f =>
      st.tombs.getOrElse(f, Vector.empty).nonEmpty)
    val resolved =
      if (dirty.isEmpty) rd(clean)
      else {
        val cleaned = dirty.groupBy(st.tombs(_)).toSeq
          .sortBy(_._2.head) // deterministic union order
          .map { case (sidecars, fs) =>
            val base = rd(fs)
            val order = base.columns.toSeq // anti-join fronts the key col
            sidecars.distinct.foldLeft(base) { (df, sc) =>
              val keyCol = st.tombKey(sc)
              val keys = spark.read
                .parquet(dataPath(root, sc).toString)
                .select(col(keyCol)).distinct()
              df.join(broadcast(keys), Seq(keyCol), "left_anti")
            }.select(order.map(col): _*)
          }
        (if (clean.nonEmpty) rd(clean) +: cleaned else cleaned)
          .reduce(_ unionByName _)
      }
    aliasToLogical(st, resolved)
  }

  /** Support for the SQL MOR read path ([[graft.ext.GraftMorScan]]):
    * split snapshot `v` into
    *
    *  1. a [[GraftRelation]] over the tombstone-FREE files only —
    *     pinned to `v`, still a stock parquet `HadoopFsRelation`, so
    *     manifest-stats/bloom/partition-tag pruning, vectorized read,
    *     and whole-stage codegen all apply to the (overwhelming) clean
    *     majority of a 100 TB table's files; and
    *  2. a tombstone-RESOLVING DataFrame over just the touched files
    *     (per-sidecar-set broadcast anti-joins, the
    *     [[readResolved]] machinery).
    *
    * The rule unions the two, so `SELECT` on a table with
    * merge-on-read deletes/updates pays the anti-join ONLY for the
    * files a tombstone actually applies to — the Delta
    * deletion-vector read-path shape. Returns None for the touched
    * side when the snapshot carries no tombstones. */
  private[graft] def morReadSplit(spark: SparkSession, root: String,
      v: Long): (GraftRelation, Option[DataFrame]) = {
    val st = state(root, v)
    val touched = st.files.filter(f =>
      st.tombs.getOrElse(f, Vector.empty).nonEmpty)
    val touchedSet = touched.toSet
    val cleanSt = st.copy(files = st.files.filterNot(touchedSet),
      tombs = Map.empty, tombKey = Map.empty)
    val schema = physicalSchemaOf(st).getOrElse(
      throw new IllegalStateException(
        s"$root v$v has no schema metadata — commit through " +
          "VersionedTable.commit"))
    val idx = new GraftFileIndex(spark, root, v, cleanSt,
      pinnedSnapshot = true)
    val rel = new GraftRelation(idx, schema, root, pinnedSnapshot = true)(
      spark)
    val resolvedTouched =
      if (touched.isEmpty) None
      else Some(readResolved(spark, root, st, touched))
    (rel, resolvedTouched)
  }

  /** Read a snapshot: latest by default, or time-travel to `version`.
    * Merge-on-read tombstones resolve at read time (the deleted rows
    * are anti-joined away); everything else is the metadata-schema
    * file read. */
  def read(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val latest = latestVersion(root)
    require(latest >= 0, s"$root is not a versioned table (empty log)")
    val v = version.getOrElse(latest)
    require(v >= 0 && v <= latest,
      s"version $v out of range [0, $latest]")
    val st = state(root, v)
    readResolved(spark, root, st, st.files)
  }

  /** MERGE INTO the table: CDC-upsert `updates` (base schema plus a
    * boolean `deleteCol` tombstone flag) against the current snapshot
    * and commit the result as a new overwrite version — the
    * lakehouse-complete form of [[graft.ops.MergeOps.merge]]: the
    * merge is computed against an immutable snapshot and lands
    * atomically, so readers never see a half-merged table and a
    * conflicting writer loses the version race instead of corrupting. */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
      key: String, deleteCol: String): Long = {
    val basis = latestVersion(root)
    val merged = graft.ops.MergeOps.merge(
      read(spark, root, Some(basis)), updates, key, deleteCol)
    commit(merged, root, "overwrite", expected = Some(basis + 1))
  }

  /** Exactly-once streaming sink: a `foreachBatch` function that
    * commits each micro-batch as an append version TAGGED with its
    * batch id. A replayed batch (restart re-delivers the same id)
    * finds its tag already in the log and SKIPS — at-least-once
    * delivery + idempotent commit = exactly-once table contents,
    * the transactional cousin of
    * [[graft.streaming.EventStreams.idempotentParquetSink]].
    *
    * The replay check scans the log NEWEST-FIRST and stops at the
    * first batch tag BELOW the incoming id: batch ids are delivered in
    * order, so an older tag proves this id was never committed. A
    * replay only ever re-delivers recent batches, making the check
    * O(recent) per batch instead of O(log length) — the difference
    * between a constant-cost sink and one that slows quadratically
    * over a long-running stream.
    *
    * When the manifest scan EXHAUSTS without finding any tag <= the
    * incoming id (truncateLog deleted the tagged manifests), the
    * newest checkpoint's persisted `batchtag=` decides: a stored tag
    * >= the id proves the batch was committed before truncation, so
    * the replay SKIPS instead of double-committing — the
    * stop-stream → compact → truncateLog → restart sequence keeps the
    * exactly-once contract (Delta's SetTransaction-in-checkpoint
    * shape). */
  def streamingSink(root: String,
      partitionBy: Option[PartitionTransform] = None)
      : (DataFrame, Long) => Unit =
    (df, batchId) => {
      val manifestVerdict = versions(root).reverseIterator
        .map(v => readManifest(root, v).batchTag)
        .collectFirst { case Some(tag) if tag <= batchId => tag }
      val committed = manifestVerdict match {
        case Some(tag) => tag == batchId
        case None => // no surviving tagged manifest proves anything —
          // consult the truncation-surviving checkpoint tag
          checkpointVersions(root).lastOption
            .flatMap(cv => readCheckpoint(root, cv).batchTag)
            .exists(_ >= batchId)
      }
      if (!committed)
        commit(df, root, "append", batchTag = Some(batchId),
          partitionBy = partitionBy)
    }

  /** Change-data read between two snapshots: rows only in `to` as
    * `insert`, rows only in `from` as `delete` (an update = the pair).
    * FILE-PRUNED before any row work: data dirs are immutable, so a
    * file present in both snapshots cannot contribute a change — only
    * the symmetric difference of the file sets is read and exceptAll'd.
    * An append-only history therefore diffs by reading just the new
    * files (zero comparison work), and a compaction diffs as empty at
    * the cost of reading both rewritten sides — exactly the cost
    * profile a log-structured table gives CDC. */
  def diff(spark: SparkSession, root: String, from: Long, to: Long)
      : DataFrame = diffAs(spark, root, from, to, state(root, to))

  /** [[diff]] with the output schema/column-mapping pinned to `align`
    * (normally the `to` state; [[changes]] pins a whole multi-commit
    * range to its final version so every part unions by name). */
  private def diffAs(spark: SparkSession, root: String, from: Long,
      to: Long, align: TableState): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val sa = state(root, from)
    val sb = state(root, to)
    // A file's EFFECTIVE content is (file, applicable tombstones):
    // data dirs are immutable, so a file whose tombstone set is also
    // unchanged cannot contribute a change and is skipped; a file
    // whose tombstones changed (a merge-on-read delete landed) is
    // re-read on both sides and the removed rows surface as deletes.
    def ids(st: TableState) =
      st.files.map(f => f -> st.tombs.getOrElse(f, Vector.empty)).toSet
    val ia = ids(sa); val ib = ids(sb)
    def side(own: TableState, onlyIds: Set[(String, Vector[String])]) =
      // read under the ALIGN schema AND column mapping so columns
      // align across a schema-evolving or renaming interval (an added
      // column diffs as NULL→value; a renamed column diffs as itself —
      // physical bytes unchanged), but with the side's OWN tombstones
      readResolved(spark, root,
        own.copy(schemaJson = align.schemaJson, colMap = align.colMap),
        onlyIds.map(_._1).toSeq.sorted)
    val a = side(sa, ia -- ib) // candidate deletes
    val b = side(sb, ib -- ia) // candidate inserts
    b.exceptAll(a).withColumn("_change", lit("insert"))
      .unionByName(a.exceptAll(b).withColumn("_change", lit("delete")))
  }

  /** Incremental CDC: the per-commit change rows for every version in
    * `(afterVersion, toVersion]`, tagged `_change` (insert | delete;
    * an update = the pair) and `_version` (the commit that produced
    * them). `afterVersion = -1` includes the initial snapshot as
    * inserts. Each commit resolves by its cheapest route:
    *  - `append` — read EXACTLY the new files, zero comparison work
    *    (the streaming-sink fast path);
    *  - `delete-mor` — read only the files the tombstone applies to
    *    and SEMI-join the new sidecar keys (prior tombstones applied
    *    first so already-deleted rows don't re-emit);
    *  - `overwrite` / `replace` — the general [[diff]] of adjacent
    *    snapshots.
    * This is the batch form the [[graft.sources.ChangeFeedSource]]
    * stream source tails commit-by-commit. */
  def changes(spark: SparkSession, root: String,
      afterVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    require(afterVersion <= toVersion,
      s"changes: afterVersion $afterVersion > toVersion $toVersion")
    // Truncated-log guard (the Delta change-feed contract): every
    // version in (afterVersion, toVersion] must still have its
    // manifest, or the feed would silently emit only the surviving
    // suffix — rows from the truncated prefix missing with no error.
    // afterVersion = -1 (initial load) therefore requires manifest 0.
    versions(root).headOption.foreach(minV =>
      require(afterVersion + 1 >= minV,
        s"changes: version ${afterVersion + 1} predates the truncated " +
          s"log (earliest surviving manifest $minV) — the change range " +
          "is unavailable; start from a full snapshot read instead"))
    val vs = versions(root)
      .filter(v => v > afterVersion && v <= toVersion)
    // Every part of the range reads under the FINAL version's schema
    // and column mapping (the diff() alignment rule, applied range-
    // wide): a consumer sees one uniform schema even when the range
    // spans an added or renamed column — pre-change commits surface
    // under the final names (physical bytes unchanged).
    val stTo = state(root, toVersion)
    def aligned(st: TableState): TableState =
      st.copy(schemaJson = stTo.schemaJson, colMap = stTo.colMap)
    // the deleted rows of a MOR commit `m`: rows of `files`, as visible
    // in `prev`, whose key is in one of m's NEW sidecars
    def tombstoned(prev: TableState, m: Manifest, files: Seq[String]) = {
      val affected = readResolved(spark, root, prev, files)
      val order = affected.columns.toSeq
      m.tombFiles.map { case (sc, keyCol) =>
        // sidecars carry the PHYSICAL key name; `affected` is
        // logical — translate through the reverse mapping
        val logicalKey = prev.colMap.find(_._2 == keyCol)
          .map(_._1).getOrElse(keyCol)
        affected.join(
          broadcast(spark.read
            .parquet(dataPath(root, sc).toString)
            .select(col(keyCol).as(logicalKey)).distinct()),
          Seq(logicalKey), "left_semi")
          .select(order.map(col): _*)
      }.reduce(_ unionByName _)
        .withColumn("_change", lit("delete"))
    }
    val parts = vs.map { v =>
      val m = readManifest(root, v)
      val body = m.action match {
        case _ if v == 0 =>
          val st = aligned(state(root, 0L))
          readResolved(spark, root, st, st.files)
            .withColumn("_change", lit("insert"))
        case "append" =>
          val st = aligned(state(root, v))
          aliasToLogical(st, readFilesWithSchema(spark, root,
            physicalSchemaOf(st), m.files))
            .withColumn("_change", lit("insert"))
        case "delete-mor" =>
          val prev = aligned(state(root, v - 1))
          tombstoned(prev, m, m.tombApplies.filter(prev.files.toSet))
        case "update-mor" =>
          // deletes: exactly the delete-mor route; inserts: the
          // manifest's own appended image files. A keyed consumer
          // ([[changesKeyed]]) pairs them into
          // update_preimage/update_postimage.
          val prev = aligned(state(root, v - 1))
          val affectedFiles = m.tombApplies.filter(prev.files.toSet)
          val stV = aligned(state(root, v))
          val inserts = aliasToLogical(stV, readFilesWithSchema(spark, root,
            physicalSchemaOf(stV), m.files))
            .withColumn("_change", lit("insert"))
          if (m.tombFiles.isEmpty || affectedFiles.isEmpty) inserts
          else tombstoned(prev, m, affectedFiles).unionByName(inserts)
        case _ => // overwrite / replace: general snapshot diff
          diffAs(spark, root, v - 1, v, stTo)
      }
      body.withColumn("_version", lit(v))
    }
    if (parts.isEmpty) {
      val st = state(root, math.max(toVersion, latestVersion(root)))
      readResolved(spark, root, st, Nil)
        .withColumn("_change", lit(""))
        .withColumn("_version", lit(0L)).limit(0)
    } else parts.reduce(_ unionByName _)
  }

  /** [[changes]] with UPDATE classification (the Delta change-feed
    * row set): given the table's record key, a delete and an insert
    * of the same key inside the SAME commit are re-labeled
    * `update_preimage` / `update_postimage`; unpaired rows keep
    * `insert` / `delete`. Downstream consumers need the distinction —
    * an incremental MV subtracts preimages and adds postimages, a
    * replication target turns the pair into one UPDATE statement
    * instead of a delete+insert that briefly violates its FK
    * constraints.
    *
    * Contract: `key` must be unique per snapshot (the [[mergeKeyed]]
    * key — a table with duplicate keys has no well-defined row
    * identity to pair images by). Unchanged rows never appear at all:
    * the underlying diff is multiset-exact, so a rewrite that carries
    * a row through untouched cancels out before classification.
    *
    * Cost shape: one extra hash shuffle on `(_version, key)` over the
    * CHANGE rows only (window, no self-join) — proportional to the
    * change volume, never to table size. */
  def changesKeyed(spark: SparkSession, root: String,
      afterVersion: Long, toVersion: Long, key: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, lit, max, when}
    val ch = changes(spark, root, afterVersion, toVersion)
    require(ch.columns.contains(key),
      s"changesKeyed: key '$key' not in change schema " +
        s"[${ch.columns.mkString(", ")}]")
    val w = Window.partitionBy(col("_version"), col(key))
    val hasIns = max(when(col("_change") === "insert", 1).otherwise(0))
      .over(w)
    val hasDel = max(when(col("_change") === "delete", 1).otherwise(0))
      .over(w)
    ch.withColumn("_change",
        when(hasIns === 1 && hasDel === 1,
          when(col("_change") === "insert", lit("update_postimage"))
            .otherwise(lit("update_preimage")))
          .otherwise(col("_change")))
  }

  /** DESCRIBE HISTORY: one row per commit — version, action, file
    * counts, live row count from the manifest STATS (no data read;
    * None when a file carries no stats), batch tag, schema presence.
    * Metadata-only and O(log), so it stays a driver-side listing at
    * any table size; returned as a DataFrame for joins against audit
    * tables. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    versions(root).map { v =>
      val m = readManifest(root, v)
      // rows per file from its first stats column (all carry the
      // file's count)
      val rowsByFile = m.stats.collect { case (f, cols) if cols.nonEmpty =>
        f -> cols.minBy(_._1)._2.rows }
      val nRows =
        if (m.files.isEmpty) Some(0L)
        else if (m.files.forall(rowsByFile.contains))
          Some(m.files.map(rowsByFile).sum)
        else None
      (m.version, m.action, m.files.size, m.removes.size, nRows,
        m.batchTag, m.schemaJson.isDefined, commitTimestamp(root, v))
    }.toDF("version", "action", "n_files", "n_removed",
      "n_rows_written", "batch_tag", "has_schema", "commit_ts")
  }

  /** OPTIMIZE: rewrite the current snapshot as ONE overwrite commit —
    * compaction as a normal commit (older versions stay readable).
    * Unclustered, the rewrite packs into at most `numFiles` files.
    *
    * `zorderBy` = OPTIMIZE ... ZORDER BY: cluster the rows on the
    * Morton interleave of the two named columns ([[graft.ops.ZOrder]];
    * values must be nonnegative and fit `zorderBits` bits), split into
    * `numFiles` files covering disjoint z-ranges. The manifest's
    * per-file min/max then become tight bounding boxes in BOTH
    * dimensions, so [[readPruned]] prunes on either column or their
    * conjunction. */
  def compact(spark: SparkSession, root: String, numFiles: Int = 1,
      zorderBy: Option[(String, String)] = None,
      zorderBits: Int = 21): Long = {
    import graft.ops.ZOrder
    val clustering = zorderBy.fold[ZOrder.Clustering](ZOrder.Unclustered) {
      case (x, y) => ZOrder.ZOrderBy(x, y, zorderBits) }
    commit(ZOrder.layout(read(spark, root), numFiles, clustering),
      root, "overwrite")
  }

  /** OPTIMIZE into a hidden-partition layout: rewrite the CURRENT
    * snapshot as one overwrite commit laid out by `transform` — the
    * layout-maintenance move that retrofits partition pruning onto a
    * table ingested in arrival order (or re-buckets one whose bucket
    * count no longer fits its size). Older versions stay readable;
    * subsequent appends may keep using the same transform or evolve
    * it (tags are per file). */
  def compactPartitioned(spark: SparkSession, root: String,
      transform: PartitionTransform): Long =
    commit(read(spark, root), root, "overwrite",
      partitionBy = Some(transform))

  /** Delete data dirs not referenced by any version >= `retain`
    * (also reclaims orphaned dirs from lost commit races): exactly the
    * dirs [[vacuumDryRun]] lists. Time travel below `retain` stops
    * working — that's the contract. */
  def vacuum(root: String, retain: Long,
      minAgeMs: Long = 60L * 60 * 1000): Unit = {
    val dataRoot = Paths.get(root, "data")
    vacuumDryRun(root, retain, minAgeMs)
      .foreach(d => dataIO(root).deleteTree(dataRoot.resolve(d)))
  }

  /** What [[vacuum]] deletes, without deleting: the data dirs
    * unreferenced by every retained/pinned version and old enough.
    * The answer an operator wants before pointing retention at a
    * production table (`GRAFT VACUUM ... DRY RUN`); vacuum deletes
    * this list, so the two cannot drift.
    *
    * Two safety rails a destructive operation needs:
    *  - `retain` must name an existing version — past the log head the
    *    keep-set would be EMPTY and vacuum would delete the current
    *    snapshot's files (total data loss from an off-by-one).
    *  - dirs younger than `minAgeMs` are skipped even if unreferenced:
    *    an in-flight commit writes its data dir BEFORE its manifest,
    *    and deleting that window's dirs would corrupt the commit that
    *    then lands (Delta's vacuum has the same age threshold for the
    *    same reason). Pass 0 only where no writer can be live. */
  def vacuumDryRun(root: String, retain: Long,
      minAgeMs: Long = 60L * 60 * 1000): Seq[String] = {
    require(retain >= 0 && retain <= latestVersion(root),
      s"retain $retain out of range [0, ${latestVersion(root)}] — " +
        "an empty keep-set would delete the live snapshot")
    // tagged snapshots are PINNED regardless of the retain horizon —
    // a tag is a promise that "the exact table the model trained on"
    // stays readable (Iceberg's expireSnapshots makes the same
    // exception for refs); drop the tag to release the pin. Branch
    // BASE snapshots pin the same way: a branch's ext: references
    // resolve into main's tree, and vacuuming them would break every
    // read of the branch.
    val pinned = tags(root).values.toSet ++
      branches(root).values.map(_._1)
    val keep = versions(root).filter(v => v >= retain || pinned(v))
      .flatMap { v =>
        val st = state(root, v)
        // retained snapshots need their DATA files, their tombstone
        // SIDECARS (vacuuming a live sidecar would resurrect deleted
        // rows), and their bloom-index sidecars (losing one silently
        // degrades point lookups to full scans)
        st.files ++ st.tombs.values.flatten ++ st.blooms.values
      }
      // ext: references live in the clone SOURCE's tree — they are
      // never vacuum candidates here and must not alias a local dir
      .filterNot(_.startsWith("ext:"))
      .map(f => topDataDir(root, f))
      .toSet
    val now = System.currentTimeMillis()
    val dataRoot = Paths.get(root, "data")
    listDir(dataRoot)
      .filter(d => !keep.contains(d.getFileName.toString))
      .filter(d => now - dataIO(root).mtimeMs(d) >= minAgeMs)
      .map(_.getFileName.toString)
      .sorted
  }

  /** REORG PURGE (Delta's `REORG TABLE ... APPLY (PURGE)`): rewrite
    * ONLY the files carrying merge-on-read tombstones, folding the
    * deletes into fresh files; clean files carry over by reference.
    * This is the targeted maintenance move between point deletes and
    * a full compaction — on a 100 TB table with a handful of GDPR
    * deletes, it rewrites megabytes, not the table. After the purge
    * (and retention), the tombstone sidecars become vacuum
    * candidates, which is what "physically forget" requires. */
  def purgeTombstones(spark: SparkSession, root: String): Long = {
    val basis = latestVersion(root)
    require(basis >= 0, s"$root is not a versioned table (empty log)")
    val st = state(root, basis)
    val dirty = st.files.filter(f =>
      st.tombs.getOrElse(f, Vector.empty).nonEmpty)
    if (dirty.isEmpty) return basis // nothing to purge: metadata no-op
    val resolved = readResolved(spark, root, st, dirty)
    commitReplace(root, basis, dirty, resolved)
  }

  // ---------------------------------------------------------------------
  // Named refs — TAGS (Iceberg ref shape): a human name pinned to one
  // snapshot version. The operational need is reproducibility: "the
  // exact table release 2024-10 trained on" must survive retention —
  // vacuum keeps a tagged snapshot's files past the retain horizon and
  // truncateLog refuses to delete the manifests it resolves through.
  // Tags are IMMUTABLE (drop + recreate is the explicit mutation), live
  // as one tiny file each under `_graft_log/refs/`, and are published
  // with the same link(2) atomicity as manifests — a create race has
  // exactly one winner.
  // ---------------------------------------------------------------------

  private def refsDir(root: String): Path = logDir(root).resolve("refs")

  private def refPath(root: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]{0,63}"),
      s"tag name '$name' must be [A-Za-z0-9][A-Za-z0-9._-]{0,63} " +
        "(it becomes a filename)")
    refsDir(root).resolve(s"$name.ref")
  }

  /** Pin `name` to `version` (default: latest). The snapshot must be
    * resolvable NOW — tagging a truncated version would create a ref
    * that is dead on arrival. Returns the pinned version. */
  def createTag(root: String, name: String,
      version: Option[Long] = None): Long = {
    val latest = latestVersion(root)
    require(latest >= 0, s"$root is not a versioned table (empty log)")
    val v = version.getOrElse(latest)
    require(v >= 0 && v <= latest, s"version $v out of range [0, $latest]")
    state(root, v) // resolvability check: throws on truncated history
    logIO(root).mkdirs(refsDir(root))
    try logIO(root).putIfAbsent(refPath(root, name),
      s"version=$v\n".getBytes("UTF-8"))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"tag '$name' already exists (at v${versionOfTag(root, name)}) " +
            "— tags are immutable; dropTag first")
    }
    v
  }

  /** All tags of the table: name -> pinned version. */
  def tags(root: String): Map[String, Long] = {
    logIO(root).listDir(refsDir(root))
      .collect { case n if n.endsWith(".ref") && !n.startsWith(".") =>
        val name = n.stripSuffix(".ref")
        name -> versionOfTag(root, name)
      }.toMap
  }

  /** The version tag `name` pins. */
  def versionOfTag(root: String, name: String): Long = {
    val p = refPath(root, name)
    require(logIO(root).exists(p), s"no tag '$name' in $root")
    logIO(root).readLines(p)
      .collectFirst { case l if l.startsWith("version=") =>
        l.stripPrefix("version=").toLong }
      .getOrElse(throw new IllegalStateException(
        s"malformed ref file for tag '$name'"))
  }

  /** Release the pin. The snapshot stays readable until retention
    * (vacuum/truncateLog) catches up with it like any other version. */
  def dropTag(root: String, name: String): Unit = {
    val p = refPath(root, name)
    require(logIO(root).exists(p), s"no tag '$name' in $root")
    logIO(root).delete(p)
  }

  /** Snapshot read by tag — `read` at the pinned version. */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame =
    read(spark, root, Some(versionOfTag(root, name)))

  /** [[commit]] with the optimistic-concurrency retry loop built in:
    * on a lost version race the commit re-targets the new head and
    * retries (appends and overwrites carry no read-set, so a retry
    * needs no recomputation — unlike the row-edit writers, which
    * rebase through [[publishRebasing]] with conflict checking).
    * CHECK-constraint and schema-evolution validation re-run per
    * attempt against the then-current state, so an interleaved
    * ADD CONSTRAINT still gates this batch. Bounded attempts as a
    * livelock backstop. Returns the committed version. */
  def commitRetrying(df: DataFrame, root: String, mode: String = "append",
      batchTag: Option[Long] = None,
      partitionBy: Option[PartitionTransform] = None,
      maxAttempts: Int = 50): Long = {
    var attempt = 0
    while (true) {
      attempt += 1
      try return commit(df, root, mode,
        expected = Some(latestVersion(root) + 1), batchTag = batchTag,
        partitionBy = partitionBy)
      catch {
        case e: ConcurrentCommitException if attempt < maxAttempts => ()
      }
    }
    -1L // unreachable
  }

  /** Operational summary of the CURRENT snapshot (DESCRIBE DETAIL
    * shape) — all metadata-derived: one state fold plus file stats,
    * no data read. */
  final case class TableDetail(version: Long, numFiles: Int,
      sizeBytes: Long, numTombstoneSidecars: Int, numBloomIndexes: Int,
      numChecks: Int, numTags: Int, numBranches: Int,
      lastCheckpoint: Option[Long], numColumns: Int, numPartTags: Int)

  def detail(root: String): TableDetail = {
    val v = latestVersion(root)
    require(v >= 0, s"$root is not a versioned table (empty log)")
    val st = state(root, v)
    TableDetail(
      version = v,
      numFiles = st.files.size,
      sizeBytes = st.files.map(f => st.sizes.getOrElse(f,
        scala.util.Try(dataSize(root, f)).getOrElse(0L))).sum,
      numTombstoneSidecars = st.tombs.values.flatten.toSet.size,
      numBloomIndexes = st.blooms.size,
      numChecks = st.checks.size,
      numTags = tags(root).size,
      numBranches = branches(root).size,
      lastCheckpoint = checkpointVersions(root).lastOption,
      numColumns = schemaOf(st).map(_.fields.length).getOrElse(0),
      numPartTags = st.parts.size)
  }

  // ---------------------------------------------------------------------
  // Branches — the Write-Audit-Publish workflow (Iceberg's WAP / Delta's
  // staging-table pattern). A branch is a SHALLOW CLONE of one main
  // snapshot living under `<root>/_graft_branches/<name>`: ingest lands
  // there with the FULL table API (commits, constraints, schema
  // evolution — clones inherit all of it), audits read the branch like
  // any table, and `publishBranch` lands the branch's accumulated
  // appends on main as ONE atomic squash commit — all-or-nothing, with
  // the same logical conflict check as any rebased writer. Data files
  // MOVE (same-filesystem rename), never copy: publishing a 10 TB
  // staged batch is a metadata operation. A failed audit is
  // `dropBranch` — main never saw anything.
  // ---------------------------------------------------------------------

  private def branchesDir(root: String): Path =
    Paths.get(root, "_graft_branches")

  /** The branch's own table root — hand it to ANY VersionedTable /
    * datasource API: commits, reads, history, constraints all work
    * (it is a real table; that is the point of branching by clone). */
  def branchRoot(root: String, name: String): String = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]{0,63}"),
      s"branch name '$name' must be [A-Za-z0-9][A-Za-z0-9._-]{0,63}")
    branchesDir(root).resolve(name).toString
  }

  /** The `clonesrc=` anchor of a branch: (source root, base version). */
  private def branchBase(root: String, name: String): (String, Long) = {
    val bp = branchRoot(root, name)
    require(latestVersion(bp) >= 0, s"no branch '$name' in $root")
    readManifest(bp, 0L).cloneSrc.getOrElse(throw new IllegalStateException(
      s"branch '$name' has no clonesrc anchor"))
  }

  /** Fork `name` from `version` (default latest). The branch starts as
    * a zero-copy clone; subsequent commits to [[branchRoot]] stay
    * invisible to main until [[publishBranch]]. */
  def createBranch(root: String, name: String,
      version: Option[Long] = None): String = {
    val bp = branchRoot(root, name)
    require(latestVersion(bp) < 0, s"branch '$name' already exists")
    cloneShallow(root, bp, version)
    bp
  }

  /** All branches: name -> (base version on main, branch's latest). */
  def branches(root: String): Map[String, (Long, Long)] = {
    val dir = branchesDir(root)
    listDir(dir).filter(dataIO(root).isDir(_))
      .map(_.getFileName.toString)
      .filter(n => latestVersion(branchesDir(root).resolve(n).toString) >= 0)
      .map(n => n -> (branchBase(root, n)._2,
        latestVersion(branchRoot(root, n))))
      .toMap
  }

  /** Discard a branch — the failed-audit path. Main never saw it. */
  def dropBranch(root: String, name: String): Unit = {
    val bp = Paths.get(branchRoot(root, name))
    require(dataIO(root).isDir(bp), s"no branch '$name' in $root")
    dataIO(root).deleteTree(bp)
    // a re-created branch of the SAME name reuses this root with fresh
    // version numbers — millisecond mtimes alone may not disambiguate
    invalidateStateCache(bp.toString)
  }

  /** Drop every memoized state under `rootPrefix` — for the paths that
    * legally get DELETED and re-created ([[dropBranch]],
    * [[publishBranch]]'s consumed branch). */
  private[sources] def invalidateStateCache(rootPrefix: String): Unit =
    stateCache.keys.filter(_._1.startsWith(rootPrefix))
      .foreach(stateCache.remove)

  /** Publish the branch's appends onto main as ONE squash append
    * commit, then delete the branch (its data dirs have MOVED into
    * main's tree — the branch manifests would dangle).
    *
    * Publishable branches are append-only: every post-clone commit
    * must be a plain data append (schema evolution and hidden
    * partitioning included). Row edits, tombstones, bloom builds,
    * constraint DDL, and batch-tagged streaming commits refuse — those
    * workflows belong on main, where their conflict semantics are
    * defined against concurrent writers.
    *
    * Conflicts: the same [[conflictReason]] contract as every rebased
    * writer, checked against the commits main accumulated since the
    * branch base — compatible interleaved appends rebase (the squash
    * lands after them); a schema/metadata change or overwrite on main
    * refuses with [[ConcurrentWriteConflictException]] and the branch
    * SURVIVES intact for inspection or re-fork. The branch's own
    * schema evolution is sound to squash because the branch validated
    * it add-only against the base, and the conflict check pins main's
    * schema AT the base — add-only-vs-base = add-only-vs-main.
    *
    * Returns the new main version. */
  def publishBranch(spark: SparkSession, root: String, name: String): Long = {
    val bp = branchRoot(root, name)
    val (srcRoot, baseV) = branchBase(root, name)
    require(Paths.get(srcRoot).toAbsolutePath.normalize ==
        Paths.get(root).toAbsolutePath.normalize,
      s"branch '$name' was forked from $srcRoot, not $root")
    val bl = latestVersion(bp)
    require(bl >= 1, s"branch '$name' has no commits to publish")
    (1L to bl).foreach { v =>
      val m = readManifest(bp, v)
      require(m.action == "append" && m.removes.isEmpty &&
        m.tombFiles.isEmpty && m.tombApplies.isEmpty &&
        m.bloomFiles.isEmpty && m.checkAdds.isEmpty &&
        m.checkDrops.isEmpty && m.renames.isEmpty && m.dropCols.isEmpty &&
        m.batchTag.isEmpty,
        s"branch '$name' commit v$v is not a plain append — " +
          "only append-only branches publish")
    }
    val st = state(bp, bl)
    val local = st.files.filterNot(_.startsWith("ext:"))
    // local appends all live under <branch>/data/<dir>; move each dir
    // into main's data/ under a collision-free name, tracking the
    // mapping so manifest lines can be rewritten
    val dirs = local.map(topDataDir(bp, _)).distinct
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val moved = dirs.map { d =>
      val dst = s"br-$name-$nonce-$d"
      // through the data seam: rename on POSIX, copy+delete on object
      // stores — safe because nothing references the destination until
      // the squash manifest publishes below (manifest-last ordering)
      dataIO(root).relocateDir(
        Paths.get(bp, "data", d), Paths.get(root, "data", dst))
      d -> dst
    }.toMap
    def remap(f: String): String = {
      val segs = f.split("/", 3) // data/<dir>/<rest>
      s"data/${moved(segs(1))}/${segs(2)}"
    }
    // The dir restore below must run ONLY while the squash commit is
    // not yet durable: once publishRebasing returns, main's manifest
    // references the moved data/br-* dirs, and moving them back (e.g.
    // because the best-effort dropBranch cleanup then threw) would
    // leave main's CURRENT snapshot pointing at missing files — the
    // worse failure by far. So: publish failure → restore + rethrow
    // (branch survives intact for inspection); cleanup failure after a
    // durable publish → surface it as its own error, dirs stay put.
    var published = -1L
    try {
      val squash = Manifest(-1L, "append", schemaJson = st.schemaJson,
        files = local.map(remap),
        fsizes = local.map(f => remap(f) -> st.sizes.getOrElse(f,
          dataIO(root).size(Paths.get(root, remap(f))))),
        stats = local.flatMap(f => st.stats.get(f).map(remap(f) -> _)).toMap,
        parts = st.parts.toSeq.filter(e => local.contains(e._1))
          .sortBy(_._1).map { case (f, (t, pv)) => (remap(f), t, pv) })
      published = publishRebasing(root, baseV, Set.empty,
        stateSchemaAt(root, baseV), next => squash.copy(version = next))
    } catch {
      case t: Throwable =>
        // restore the branch's data dirs so it survives for inspection
        moved.foreach { case (d, dst) =>
          dataIO(root).relocateDir(
            Paths.get(root, "data", dst), Paths.get(bp, "data", d))
        }
        throw t
    }
    try dropBranch(root, name) // manifests reference moved dirs: consume
    catch {
      case t: Throwable => throw new IllegalStateException(
        s"branch '$name' published to main as v$published, but deleting " +
          "the consumed branch directory failed — the squash commit is " +
          "DURABLE and must not be retried; remove the leftover branch " +
          s"directory $bp manually (its manifests reference moved data " +
          "and are dead)", t)
    }
    published
  }

  /** The schema json of main at `v` (branch-publish conflict basis). */
  private def stateSchemaAt(root: String, v: Long): Option[String] =
    state(root, v).schemaJson
}
