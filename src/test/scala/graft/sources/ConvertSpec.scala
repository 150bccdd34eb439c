package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** CONVERT (foreign lakehouse table → graft, one metadata commit):
  * [[VersionedTable.importDelta]] / [[VersionedTable.importIceberg]].
  * The import must be zero-copy (ext: refs), carry the source's
  * per-file stats into graft's skipping model, leave the source's
  * files untouched by vacuum, and produce a FULL graft table that
  * accepts commits on top. */
class ConvertSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_conv_").toString

  test("importDelta: zero-copy, stats imported, live graft table on top") {
    val deltaRoot = tmp()
    // 4 range-disjoint files via 4 Delta commits
    (0 until 4).foreach { i =>
      DeltaLog.commit(
        spark.range(16 * i, 16 * i + 16).toDF("k")
          .withColumn("v", col("k") * 10).coalesce(1), deltaRoot)
    }
    val graftRoot = tmp()
    val v0 = VersionedTable.importDelta(spark, deltaRoot, graftRoot)
    assert(v0 === 0L)
    // zero-copy: every graft ref is ext:, no data dir was created
    val files = VersionedTable.snapshotFiles(graftRoot, 0L)
    assert(files.nonEmpty && files.forall(_.startsWith("ext:")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(graftRoot, "data")))
    // reads equal the Delta read
    assert(VersionedTable.read(spark, graftRoot).orderBy("k")
      .collect().toSeq ===
      spark.read.format("delta-log").load(deltaRoot).orderBy("k")
        .collect().toSeq)
    // imported stats drive file skipping
    val (kept, total) = VersionedTable.pruneFiles(graftRoot, 0L,
      col("k").between(20L, 25L))
    assert(total === 4 && kept.size === 1, s"got ${kept.size}/$total")
    // ...and the datasource scan path prunes through them too
    val q = spark.read.format("graft").load(graftRoot)
      .filter(col("k") >= 20 && col("k") <= 25)
    assert(q.agg(sum("v")).as[Long].head() === (20 to 25).map(_ * 10).sum)
    // a LIVE graft table: append on top, both slices answer
    VersionedTable.commit(
      Seq((1000L, 1L)).toDF("k", "v"), graftRoot)
    assert(VersionedTable.read(spark, graftRoot).count() === 65)
    // vacuum must never reach through ext: refs into the source
    VersionedTable.vacuum(graftRoot,
      retain = VersionedTable.latestVersion(graftRoot), minAgeMs = 0L)
    assert(spark.read.format("delta-log").load(deltaRoot).count() === 64,
      "vacuum deleted source files through an ext: ref")
  }

  test("Delta stats without numRecords: null counts are unknown, " +
      "IS NOT NULL keeps the file (delta-log read and importDelta)") {
    val deltaRoot = tmp()
    DeltaLog.commit(spark.range(0, 10).toDF("x").coalesce(1), deltaRoot)
    // an add whose stats carry nullCount but no numRecords (the field
    // is optional in the Delta spec)
    val log = java.nio.file.Paths.get(deltaRoot, "_delta_log",
      "00000000000000000000.json")
    val raw = java.nio.file.Files.readString(log)
    val stripped = raw.replaceAll("""\\"numRecords\\":\d+,""", "")
    assert(stripped != raw && stripped.contains("nullCount"))
    java.nio.file.Files.writeString(log, stripped)
    // Spark infers isnotnull(x) from x > 5: with the row count unknown
    // it must not read `nulls < rows` as 0 < 0 and skip the file
    assert(spark.read.format("delta-log").load(deltaRoot)
      .where(col("x") > 5).as[Long].collect().sorted.toSeq === (6L to 9L))
    val graftRoot = tmp()
    VersionedTable.importDelta(spark, deltaRoot, graftRoot)
    assert(spark.read.format("graft").load(graftRoot)
      .where(col("x") > 5).as[Long].collect().sorted.toSeq === (6L to 9L))
    assert(VersionedTable.readPruned(spark, graftRoot, col("x").isNotNull)
      .count() === 10L)
    // min/max still prune; a metadata-only count refuses instead of 0
    assert(VersionedTable.pruneFiles(graftRoot, 0L, col("x") > 100)._1.isEmpty)
    intercept[IllegalArgumentException] {
      VersionedTable.statsAggregate(spark, graftRoot, Seq("x")).collect()
    }
  }

  test("importDelta refuses partitioned Delta tables (files lack the column)") {
    val deltaRoot = tmp()
    DeltaLog.commit(
      spark.range(0, 8).toDF("k").withColumn("p", (col("k") % 2).cast("int")),
      deltaRoot, partitionBy = Seq("p"))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.importDelta(spark, deltaRoot, tmp())
    }
    assert(e.getMessage.contains("partitioned"))
  }

  test("GRAFT CONVERT SQL statements lower to the import commands") {
    val deltaRoot = tmp()
    DeltaLog.commit(spark.range(0, 10).toDF("k").coalesce(1), deltaRoot)
    val dst1 = tmp() + "/t"
    val v = spark.sql(s"GRAFT CONVERT DELTA '$deltaRoot' TO '$dst1'")
      .collect().head.getLong(0)
    assert(v === 0L)
    assert(VersionedTable.read(spark, dst1).count() === 10)
    val iceRoot = tmp()
    IcebergMeta.writeFixture(spark.range(0, 5).toDF("k"), iceRoot)
    val dst2 = tmp() + "/t"
    spark.sql(s"GRAFT CONVERT ICEBERG '$iceRoot' TO '$dst2'")
    assert(VersionedTable.read(spark, dst2).count() === 5)
  }

  test("importIceberg: zero-copy with manifest bounds as graft stats") {
    val iceRoot = tmp()
    IcebergMeta.writeFixture(
      spark.range(0, 64).toDF("k").withColumn("v", col("k") * 10)
        .repartitionByRange(4, col("k")), iceRoot)
    val graftRoot = tmp()
    VersionedTable.importIceberg(spark, iceRoot, graftRoot)
    assert(VersionedTable.read(spark, graftRoot).count() === 64)
    val (kept, total) = VersionedTable.pruneFiles(graftRoot, 0L,
      col("k").between(40L, 47L))
    assert(total === 4 && kept.size === 1, s"got ${kept.size}/$total")
    // DML works on the imported table: a copy-on-write DELETE rewrites
    // only the touched ext file into a LOCAL file, others stay ext:
    VersionedTable.deleteRanges(spark, graftRoot,
      Seq(("k", Some(20L), Some(25L))))
    val now = VersionedTable.read(spark, graftRoot)
    assert(now.count() === 58)
    val filesNow = VersionedTable.snapshotFiles(graftRoot,
      VersionedTable.latestVersion(graftRoot))
    assert(filesNow.count(_.startsWith("ext:")) === 3)
    assert(filesNow.exists(!_.startsWith("ext:")))
  }

  test("cross-format: Delta -> Iceberg zero-copy, stats prune, source intact") {
    val deltaRoot = tmp()
    (0 until 4).foreach { i =>
      DeltaLog.commit(
        spark.range(16 * i, 16 * i + 16).toDF("k")
          .withColumn("v", col("k") * 2).coalesce(1), deltaRoot)
    }
    DeltaLog.deleteWhere(spark, deltaRoot, col("k") === 7)
    val iceRoot = tmp() + "/ice"
    spark.sql(
      s"GRAFT CONVERT DELTA '$deltaRoot' TO ICEBERG '$iceRoot'")
    val r = spark.read.format("iceberg-meta").load(iceRoot)
    assert(r.count() === 63)
    assert(r.agg(sum("v")).as[Long].head() ===
      (0 until 64).filter(_ != 7).map(_ * 2L).sum)
    // zero copy: every referenced file is the DELTA table's own
    val snap = IcebergMeta.snapshot(iceRoot)
    assert(snap.files.nonEmpty && snap.files.forall(
      _.path.startsWith(java.nio.file.Paths.get(deltaRoot)
        .toAbsolutePath.normalize.toString)))
    // footer-harvested bounds prune like a native table
    val q = spark.read.format("iceberg-meta").load(iceRoot)
      .filter(col("k") >= 20 && col("k") <= 25)
    assert(q.count() === 6)
    // the SOURCE keeps working independently
    DeltaLog.commit(spark.range(100, 102).toDF("k")
      .withColumn("v", col("k") * 2).coalesce(1), deltaRoot)
    assert(spark.read.format("delta-log").load(deltaRoot).count() === 65)
    assert(spark.read.format("iceberg-meta").load(iceRoot).count() === 63)
    // refusals: DV-carrying and partitioned sources
    val dvRoot = tmp()
    DeltaLog.commit(spark.range(0, 8).toDF("k").coalesce(1), dvRoot,
      properties = Map("delta.enableDeletionVectors" -> "true"))
    DeltaLog.deleteWhere(spark, dvRoot, col("k") === 1)
    assert(intercept[IllegalArgumentException] {
      IcebergMeta.importDelta(spark, dvRoot, tmp() + "/x")
    }.getMessage.contains("deletion vectors"))
    val pRoot = tmp()
    DeltaLog.commit(spark.range(0, 8).toDF("k")
      .withColumn("p", col("k") % 2), pRoot, partitionBy = Seq("p"))
    assert(intercept[IllegalArgumentException] {
      IcebergMeta.importDelta(spark, pRoot, tmp() + "/y")
    }.getMessage.contains("partitioned"))
  }

  test("cross-format: Iceberg -> Delta zero-copy, manifest stats travel") {
    val iceRoot = tmp() + "/ice"
    IcebergMeta.writeFixture(
      spark.range(0, 64).toDF("k").withColumn("v", col("k") * 3)
        .repartitionByRange(4, col("k")), iceRoot)
    IcebergMeta.append(
      spark.range(64, 70).toDF("k").withColumn("v", col("k") * 3)
        .coalesce(1), iceRoot)
    val deltaRoot = tmp() + "/dl"
    spark.sql(
      s"GRAFT CONVERT ICEBERG '$iceRoot' TO DELTA '$deltaRoot'")
    val r = spark.read.format("delta-log").load(deltaRoot)
    assert(r.count() === 70)
    assert(r.agg(sum("v")).as[Long].head() ===
      (0 until 70).map(_ * 3L).sum)
    // manifest bounds became Delta stats: k in [20,25] prunes 1 of 5
    val q = spark.read.format("delta-log").load(deltaRoot)
      .filter(col("k") >= 20 && col("k") <= 25)
    assert(q.agg(sum("v")).as[Long].head() === (20 to 25).map(_ * 3L).sum)
    val idx = q.queryExecution.optimizedPlan.collect {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          hr: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
          _, _, _, _) => hr.location.asInstanceOf[DeltaLogFileIndex]
    }.head
    val (kept, total) = idx.lastListing.get
    assert(total === 5 && kept === 1, s"expected 1/5, got $kept/$total")
    // a PARTITIONED iceberg source converts fine (files carry all
    // columns) — it lands unpartitioned
    val ipRoot = tmp() + "/icep"
    IcebergMeta.writeFixture(
      spark.range(0, 12).toDF("k").withColumn("p", col("k") % 3),
      ipRoot, partitionBy = Seq("p"))
    val dp = tmp() + "/dlp"
    DeltaLog.importIceberg(spark, ipRoot, dp)
    assert(spark.read.format("delta-log").load(dp).count() === 12)
    // delete-carrying sources refuse
    val delRoot = tmp() + "/iced"
    IcebergMeta.writeFixture(
      spark.range(0, 8).toDF("k").coalesce(1), delRoot)
    IcebergMeta.delete(spark, delRoot, col("k") === 2)
    assert(intercept[IllegalArgumentException] {
      DeltaLog.importIceberg(spark, delRoot, tmp() + "/z")
    }.getMessage.contains("row-level deletes"))
  }
}
