package graft.sources

import java.nio.file.{Files, Path, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Storage interface for the graft transaction LOG — the seam that
  * makes the commit protocol portable to object stores (the role of
  * Delta's `LogStore` / commit coordinator).
  *
  * Scope: ONLY the log-protocol artifacts under `_graft_log/` —
  * manifests, checkpoints, and refs (tags/branches) — and the Delta
  * log reads, commits and cleanup deletes under `_delta_log/`
  * ([[DeltaLog]] resolves the same registry). Data files are
  * out of scope on purpose: the parquet payload is written and read
  * through Spark's own Hadoop FileSystem layer (which already speaks
  * S3/GCS/ABFS), and the engine's own maintenance I/O on data files
  * (vacuum sweeps, branch publish relocation, sidecar bytes) has its
  * own seam — [[DataStore]]. What an object store CANNOT give you is POSIX
  * link(2)/atomic-rename — and the ONLY place the protocol needs that
  * primitive is publishing a log artifact at a version that must be
  * won by exactly one writer. Hence the single non-trivial operation:
  *
  *  - [[putIfAbsent]] — atomically create `path` with `body` iff it
  *    does not exist; throw `FileAlreadyExistsException` if it does
  *    (the loser of a commit race MUST get the exception, never a
  *    silent overwrite). Per-backend contract:
  *     - POSIX: temp file + link(2) ([[PosixLogStore]] — link is
  *       atomic AND fails with EEXIST; rename silently replaces).
  *     - Local/NFS without link: O_CREAT|O_EXCL
  *       ([[ConditionalPutLogStore]]).
  *     - S3: conditional PUT with `If-None-Match: *` (S3 has supported
  *       conditional writes since 2024; before that, Delta needed an
  *       external coordinator like DynamoDB for exactly this call).
  *     - GCS / Azure Blob: precondition `ifGenerationMatch(0)` /
  *       `If-None-Match: *` conditional create.
  *
  * Everything else is plain read/list/delete with object-store-shaped
  * signatures: [[listDir]] returns leaf NAMES and treats a missing
  * directory as empty (LIST on a prefix), [[mkdirs]] may be a no-op on
  * stores without directories, reads are whole-object. Readers may
  * assume read-after-write visibility of a successful putIfAbsent
  * (true of POSIX and of S3/GCS/ABFS since their strong-consistency
  * rollouts).
  *
  * Stores are registered per table-root prefix
  * ([[VersionedTable.registerLogStore]]); unregistered roots use
  * [[PosixLogStore]].
  */
trait LogStore {
  /** Ensure `dir` exists (no-op on stores without directories). */
  def mkdirs(dir: Path): Unit
  /** Leaf names under `dir`; empty if `dir` does not exist. */
  def listDir(dir: Path): Seq[String]
  def exists(path: Path): Boolean
  def readBytes(path: Path): Array[Byte]
  def readLines(path: Path): Seq[String]
  /** Last-modified epoch millis (timestamp-time-travel fallback for
    * pre-`ts=` manifests). */
  def mtimeMs(path: Path): Long
  /** Atomically create `path` with `body` iff absent;
    * `java.nio.file.FileAlreadyExistsException` if present. */
  def putIfAbsent(path: Path, body: Array[Byte]): Unit
  /** Delete if present (truncation/ref-drop; absence is not an error). */
  def delete(path: Path): Unit
}

/** Shared POSIX-filesystem plumbing for the two local stores. */
sealed trait LocalFsReads extends LogStore {
  override def mkdirs(dir: Path): Unit = Files.createDirectories(dir)
  override def listDir(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      // eager + closed: Files.list holds the directory fd until closed,
      // and a leak per call turns a long streaming run into EMFILE
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }
  override def exists(path: Path): Boolean = Files.exists(path)
  override def readBytes(path: Path): Array[Byte] = Files.readAllBytes(path)
  override def readLines(path: Path): Seq[String] =
    Files.readAllLines(path).asScala.toSeq
  override def mtimeMs(path: Path): Long =
    Files.getLastModifiedTime(path).toMillis
  override def delete(path: Path): Unit = Files.deleteIfExists(path)
}

/** Default store: publish via HARD LINK, not rename — POSIX rename()
  * silently REPLACES an existing target (`Files.move`'s no-replace
  * behavior is implementation-specific), so a photo-finish commit race
  * would vaporize the winner's manifest; link(2) is atomic AND fails
  * with EEXIST, so the loser reliably gets the exception. */
object PosixLogStore extends LocalFsReads {
  override def putIfAbsent(path: Path, body: Array[Byte]): Unit = {
    // the trait contract does not require callers to mkdirs first (an
    // object store has no directories to make) — creating the parent
    // here keeps the failure mode identical across stores instead of a
    // confusing NoSuchFileException from the temp-file create
    Files.createDirectories(path.getParent)
    val tmp = Files.createTempFile(path.getParent, s".tmp-${path.getFileName}-", "")
    Files.write(tmp, body)
    try Files.createLink(path, tmp)
    finally Files.deleteIfExists(tmp)
  }
}

/** Link- and rename-FREE store: publish via O_CREAT|O_EXCL
  * (`CREATE_NEW`) — the conditional-put shape every object-store
  * backend implements (`If-None-Match: *` on S3,
  * `ifGenerationMatch(0)` on GCS). Exists so a spec can prove the
  * whole protocol runs with no code path depending on link(2)/rename
  * outside the [[LogStore]] interface; also the correct choice on
  * filesystems without hard links. Trade-off vs [[PosixLogStore]]: a
  * writer crashing mid-write can leave a PARTIAL object at the target
  * name (link publishes fully-written bytes or nothing) — on a real
  * object store the PUT is atomic and the trade-off disappears. */
object ConditionalPutLogStore extends LocalFsReads {
  override def putIfAbsent(path: Path, body: Array[Byte]): Unit = {
    Files.createDirectories(path.getParent) // same contract as PosixLogStore
    Files.write(path, body,
      StandardOpenOption.WRITE, StandardOpenOption.CREATE_NEW)
  }
}
