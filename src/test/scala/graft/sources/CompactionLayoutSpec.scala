package graft.sources

import java.nio.file.Files

import graft.SparkSpecBase
import graft.ops.ZOrder
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** The one compaction layout ([[ZOrder.layout]]) seen through every
  * format's OPTIMIZE: graft `VersionedTable.compact`, `DeltaLog.compact`
  * and `IcebergMeta.compact` must cluster, refuse and pack the same
  * way. */
class CompactionLayoutSpec extends SparkSpecBase {

  /** One table format's write, z-order compaction, live data files and
    * file count a filtered read opens. */
  private case class Fmt(name: String,
      write: (DataFrame, String, Seq[String]) => Unit,
      compact: (String, Int, Option[(String, String)]) => Long,
      files: String => Seq[String],
      keptFiles: (String, Column) => Int)

  private def listed(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(hr: HadoopFsRelation, _, _, _, _) =>
        hr.location match {
          case d: DeltaLogFileIndex => d.lastListing.get._1
          case i: IcebergMetaFileIndex => i.lastListing.get._1
        }
    }.head

  private val formats = Seq(
    Fmt("graft",
      (df, root, _) => VersionedTable.commit(df, root),
      (root, n, z) => VersionedTable.compact(spark, root, n, z, 6),
      root => VersionedTable.snapshotFiles(root,
        VersionedTable.latestVersion(root)).map(f => s"$root/$f"),
      (root, p) => VersionedTable.pruneFiles(root,
        VersionedTable.latestVersion(root), p)._1.size),
    Fmt("delta",
      (df, root, parts) => DeltaLog.commit(df, root, partitionBy = parts),
      (root, n, z) => DeltaLog.compact(spark, root, n, z, 6),
      root => DeltaLog.snapshot(spark, root).adds.map(a => s"$root/${a.path}"),
      (root, p) => {
        val q = spark.read.format("delta-log").load(root).filter(p)
        q.count()
        listed(q)
      }),
    Fmt("iceberg",
      (df, root, parts) => IcebergMeta.writeFixture(df, root,
        partitionBy = parts),
      (root, n, z) => IcebergMeta.compact(spark, root, n, z, 6),
      root => IcebergMeta.snapshot(root).files.map(_.path),
      (root, p) => {
        val q = spark.read.format("iceberg-meta").load(root).filter(p)
        q.count()
        listed(q)
      }))

  private def newRoot(fmt: Fmt): String =
    Files.createTempDirectory(s"layout_${fmt.name}_").toString + "/t"

  /** 64×64 grid, 8 files that each hold 8 whole x-columns (rows arrive
    * ordered by x alone, so y bounds are useless before the rewrite). */
  private def grid: DataFrame =
    spark.range(0, 64L * 64)
      .select((col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
      .repartitionByRange(8, col("x"))

  formats.foreach { fmt =>
    test(s"${fmt.name}: z-order compaction keeps the rows, writes disjoint " +
        "z-ranges, and prunes either column") {
      val root = newRoot(fmt)
      fmt.write(grid, root, Nil)
      fmt.compact(root, 8, Some(("x", "y")))
      val files = fmt.files(root)
      assert(files.size === 8)
      val rows = spark.read.parquet(files: _*)
      assert(rows.select("x", "y").except(grid).isEmpty &&
        rows.count() === 64L * 64)
      val ranges = rows
        .withColumn("z", ZOrder.interleave2(col("x"), col("y"), 6))
        .groupBy(input_file_name())
        .agg(min(col("z")).as("lo"), max(col("z")).as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(ranges.length === 8)
      ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, ranges.mkString(","))
      }
      Seq("x", "y").foreach { c =>
        val kept = fmt.keptFiles(root, col(c).between(3L, 6L))
        assert(kept < 8, s"$c range kept $kept of 8 files")
      }
    }

    test(s"${fmt.name}: clustering refusals") {
      val clash = newRoot(fmt)
      fmt.write(spark.range(0, 16).select(col("id").as("x"),
        col("id").as("y"), col("id").as("__zorder")), clash, Nil)
      assert(intercept[IllegalArgumentException] {
        fmt.compact(clash, 2, Some(("x", "y")))
      }.getMessage.contains("__zorder"))
      val root = newRoot(fmt)
      fmt.write(grid, root, Nil)
      assert(intercept[IllegalArgumentException] {
        fmt.compact(root, 2, Some(("x", "nope")))
      }.getMessage.contains("nope"))
      if (fmt.name != "graft") { // graft tables have no Hive partitions
        val parted = newRoot(fmt)
        fmt.write(grid.withColumn("p", col("x") % 2), parted, Seq("p"))
        assert(intercept[IllegalArgumentException] {
          fmt.compact(parted, 2, Some(("x", "y")))
        }.getMessage.contains("partitioned"))
      }
    }
  }

  /** Every node of an executed plan, through adaptive plans and their
    * query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other.children.flatMap(nodes)
  })

  test("graft: unclustered compaction packs without a shuffle") {
    val root = newRoot(formats.head)
    VersionedTable.commit(grid, root)
    assert(VersionedTable.snapshotFiles(root, 0L).size === 8)
    val writes = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        if (nodes(qe.executedPlan).exists(_.isInstanceOf[
            org.apache.spark.sql.execution.command.DataWritingCommandExec]))
          writes.synchronized(writes += qe.executedPlan)
      def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      VersionedTable.compact(spark, root, numFiles = 2)
      org.apache.spark.ListenerDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val latest = VersionedTable.latestVersion(root)
    assert(VersionedTable.snapshotFiles(root, latest).size <= 2)
    val back = VersionedTable.read(spark, root)
    assert(back.count() === 64L * 64 && back.except(grid).isEmpty)
    assert(writes.size === 1, s"write plans: $writes")
    assert(!nodes(writes.head).exists(_.isInstanceOf[Exchange]),
      writes.head.treeString)
  }
}
