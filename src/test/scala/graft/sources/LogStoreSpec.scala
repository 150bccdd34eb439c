package graft.sources

import graft.SparkSpecBase
import java.nio.file.Path
import org.apache.spark.sql.functions._

/** The log-storage seam ([[LogStore]]): the full commit protocol must
  * run against a deliberately LINK- and RENAME-FREE store (conditional
  * put only — the S3/GCS publish shape), and every log artifact must be
  * created THROUGH the interface (a recording wrapper proves no code
  * path writes `_graft_log/`, or a `_delta_log/` commit, behind the
  * seam's back). */
class LogStoreSpec extends SparkSpecBase {
  import spark.implicits._

  /** [[ConditionalPutLogStore]] that records every path it touches. */
  private class RecordingStore extends LogStore {
    val puts = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val deletes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    private val inner = ConditionalPutLogStore
    override def mkdirs(dir: Path): Unit = inner.mkdirs(dir)
    override def listDir(dir: Path): Seq[String] = inner.listDir(dir)
    override def exists(path: Path): Boolean = inner.exists(path)
    override def readBytes(path: Path): Array[Byte] = inner.readBytes(path)
    override def readLines(path: Path): Seq[String] = inner.readLines(path)
    override def mtimeMs(path: Path): Long = inner.mtimeMs(path)
    override def putIfAbsent(path: Path, body: Array[Byte]): Unit = {
      inner.putIfAbsent(path, body); puts.add(path.toString)
    }
    override def delete(path: Path): Unit = {
      inner.delete(path); deletes.add(path.toString)
    }
  }

  private def withStore[A](f: (String, RecordingStore) => A): A = {
    val root = java.nio.file.Files.createTempDirectory("graft_ls_").toString
    val store = new RecordingStore
    VersionedTable.registerLogStore(root, store)
    try f(root, store)
    finally VersionedTable.unregisterLogStore(root)
  }

  test("the whole protocol runs on conditional put — no link(2)/rename") {
    withStore { (root, store) =>
      // commits (incl. enough for an auto-checkpoint), tag, MOR delete
      // + update, time travel, truncation, fsck — the representative
      // protocol surface
      (0 until 11).foreach { i =>
        VersionedTable.commit(
          spark.range(8 * i, 8 * i + 8).toDF("k")
            .withColumn("v", col("k") * 10).coalesce(1), root)
      }
      VersionedTable.createTag(root, "audited", Some(10L))
      VersionedTable.deleteKeysMOR(spark, root, "k", Seq(3L).toDF("k"))
      VersionedTable.updateKeysMOR(spark, root, "k",
        Seq((5L, 999L)).toDF("k", "v"))
      val now = VersionedTable.read(spark, root)
      assert(now.count() === 87) // 88 rows - 1 deleted (update replaces)
      assert(now.filter(col("k") === 5).select("v").as[Long].head() === 999L)
      assert(VersionedTable.read(spark, root, Some(3L)).count() === 32)
      assert(VersionedTable.versionOfTag(root, "audited") === 10L)
      assert(VersionedTable.fsck(root).ok)
      // truncation deletes THROUGH the store
      val removed = VersionedTable.truncateLog(root, Some(10L))
      assert(removed === 10)
      assert(store.deletes.size() === removed)
      assert(VersionedTable.read(spark, root).count() === 87)

      // completeness: every surviving log artifact was created via
      // putIfAbsent — nothing wrote _graft_log/ around the seam
      val logDir = java.nio.file.Paths.get(root, "_graft_log")
      val walk = java.nio.file.Files.walk(logDir)
      val onDisk =
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(_.toString).toSet
        } finally walk.close()
      import scala.jdk.CollectionConverters._
      val putSet = store.puts.asScala.toSet
      assert(onDisk.subsetOf(putSet),
        s"log files written OUTSIDE the LogStore seam: " +
          s"${(onDisk -- putSet).mkString(", ")}")
    }
  }

  test("every Delta commit publishes its log version through the store") {
    withStore { (root, store) =>
      DeltaLog.commit(spark.range(0, 8).toDF("k").coalesce(1), root)
      DeltaLog.commit(spark.range(8, 16).toDF("k").coalesce(1), root)
      DeltaLog.deleteWhere(spark, root, col("k") === 3)
      DeltaLog.compact(spark, root)
      DeltaLog.setConfiguration(spark, root, Map("owner" -> "etl"))
      DeltaLog.setDomainMetadata(spark, root, "app.owner", "etl")
      assert(DeltaLog.restore(spark, root, 1L) === 6L)
      assert(spark.read.format("delta-log").load(root).count() === 16)
      import scala.jdk.CollectionConverters._
      val log = java.nio.file.Paths.get(root, "_delta_log")
      val commits = {
        val s = java.nio.file.Files.list(log)
        try s.iterator().asScala.map(_.toString)
          .filter(_.matches(".*/\\d{20}\\.json")).toSet
        finally s.close()
      }
      assert(commits === (0 to 6).map(v =>
        log.resolve(f"$v%020d.json").toString).toSet)
      val putSet = store.puts.asScala.toSet
      assert(commits.subsetOf(putSet),
        s"commits written OUTSIDE the LogStore seam: " +
          s"${(commits -- putSet).toSeq.sorted.mkString(", ")}")
    }
  }

  test("commit races on conditional put: loser gets the exception") {
    withStore { (root, _) =>
      VersionedTable.commit(Seq(1L).toDF("k"), root) // v0
      // simulate a racing writer that already landed v1
      VersionedTable.commit(Seq(2L).toDF("k"), root) // v1
      intercept[VersionedTable.ConcurrentCommitException] {
        VersionedTable.commit(Seq(3L).toDF("k"), root,
          expected = Some(1L)) // stale expectation: v1 is taken
      }
      // commitRetrying resolves the race by re-targeting the head
      assert(VersionedTable.commitRetrying(Seq(3L).toDF("k"), root) === 2L)
    }
  }

  test("tags are atomic on conditional put; duplicates refuse") {
    withStore { (root, _) =>
      VersionedTable.commit(Seq(1L).toDF("k"), root)
      VersionedTable.createTag(root, "t1")
      intercept[IllegalStateException] {
        VersionedTable.createTag(root, "t1")
      }
      VersionedTable.dropTag(root, "t1")
      VersionedTable.createTag(root, "t1") // recreate after drop is fine
      assert(VersionedTable.tags(root) === Map("t1" -> 0L))
    }
  }
}
