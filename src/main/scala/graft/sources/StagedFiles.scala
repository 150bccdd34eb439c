package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/** The one landing path for the data files that the Delta and Iceberg
  * writers stage: each writer hands over a Spark write into a fresh
  * staging directory, and [[land]] moves the non-empty parquet leaves
  * under the table root and describes them from one footer read.
  * What a writer records per file (a Delta `add`, an Iceberg manifest
  * entry) is built from the returned [[DataFile]]s. */
private[sources] object StagedFiles {

  /** One data file of a table. `rel` is its path relative to the table
    * root; `partition` its Hive directory segments in staged order,
    * each value decoded (None is the null partition); `rows` the
    * footer's row count, the number both specs record (Delta's
    * `numRecords`, Iceberg's `record_count`); `stats` the footer's
    * per-column stats ([[VersionedTable.statsOf]]). */
  final case class DataFile(rel: String,
      partition: Seq[(String, Option[String])], rows: Long, bytes: Long,
      stats: Map[String, VersionedTable.ColStats])

  /** Describe the parquet file at `abs` from one footer read. */
  def describe(spark: SparkSession, abs: Path, rel: String,
      partition: Seq[(String, Option[String])] = Nil): DataFile = {
    val footer = VersionedTable.footerOf(spark, abs)
    DataFile(rel, partition, footer.getBlocks.asScala.map(_.getRowCount).sum,
      Files.size(abs), VersionedTable.statsOf(footer))
  }

  /** Run `stage` against a fresh staging path, then land its parquet
    * leaves (sorted; hidden files and `_SUCCESS` skipped; zero-row
    * leaves dropped, since Spark writes one empty part per empty task)
    * as `<dir>/<prefix>-%05d-<nonce>.parquet` under `root` (one fresh
    * nonce per call keeps names unique across writers). With
    * `keepPartitionDirs` a leaf keeps its Hive `col=value/` directories
    * between `dir` and its name (Delta's layout); otherwise the files
    * land flat in `dir` (Iceberg's). The staging directory is deleted
    * whether the write and the moves succeed or fail. */
  def land(spark: SparkSession, root: String, dir: String, prefix: String,
      keepPartitionDirs: Boolean)(stage: Path => Unit): Seq[DataFile] = {
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val tmp = Files.createTempDirectory("graft_stage_")
    try {
      // subdir: Spark's errorifexists mode refuses an existing target
      val staging = tmp.resolve("out")
      stage(staging)
      val leaves = PosixDataStore.listFilesRecursive(staging).filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      }.map(staging.relativize(_)).sortBy(_.toString)
      leaves.map { leaf =>
        val dirs = Option(leaf.getParent).toSeq.flatMap(_.iterator().asScala)
          .map(_.toString).filter(_.contains("="))
        leaf -> describe(spark, staging.resolve(leaf), "", dirs.map(hiveSegment))
      }.filter(_._2.rows > 0L).zipWithIndex.map { case ((leaf, f), i) =>
        val sub = Option(leaf.getParent)
          .filter(_ => keepPartitionDirs).fold("")(_.toString + "/")
        val rel = (if (dir.isEmpty) "" else dir + "/") + sub +
          f"$prefix-$i%05d-$nonce.parquet"
        val dst = Paths.get(root, rel)
        Files.createDirectories(dst.getParent)
        Files.move(staging.resolve(leaf), dst)
        f.copy(rel = rel)
      }
    } finally PosixDataStore.deleteTree(tmp)
  }

  /** A Hive `col=value` directory name, with the value unescaped the
    * way Spark escaped it and the default partition read as null. */
  private def hiveSegment(seg: String): (String, Option[String]) = {
    val Array(k, v) = seg.split("=", 2)
    k -> Some(ExternalCatalogUtils.unescapePathName(v))
      .filter(_ != ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
  }
}
