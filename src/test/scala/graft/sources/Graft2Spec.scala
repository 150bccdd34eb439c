package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The DSv2 read-path spike ([[Graft2DataSource]], `format("graft2")`):
  * answers must equal the resolving read, pushed filters must prune
  * files with the SAME ratios as the v1 [[GraftFileIndex]], column
  * pruning must reach the reader, manifest sizes must drive broadcast
  * planning, and the gates must refuse what the path cannot honor. */
class Graft2Spec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft2_").toString

  /** 64 rows in 8 range-disjoint files: file i holds k in [8i, 8i+8). */
  private def rangedTable(): String = {
    val root = tmp()
    (0 until 8).foreach { i =>
      VersionedTable.commit(
        spark.range(8 * i, 8 * i + 8).toDF("k")
          .withColumn("v", col("k") * 10).coalesce(1), root)
    }
    root
  }

  test("graft2 read equals the v1 read; range filters prune files") {
    val root = rangedTable()
    val ds = spark.read.format("graft2").load(root)
    assert(ds.orderBy("k").collect().toSeq ===
      VersionedTable.read(spark, root).orderBy("k").collect().toSeq)
    val q = spark.read.format("graft2").load(root)
      .filter(col("k") >= 17 && col("k") <= 22)
    assert(q.select(sum("v")).as[Long].head() ===
      (17 to 22).map(_ * 10).sum)
    // same ratio as the v1 index on the identical predicate (the v1
    // half pinned to the fallback path so its index is observable)
    assert(Graft2DataSource.lastPlanned(root) === ((1, 8)))
    withReadPathV1 {
      val v1 = spark.read.format("graft").load(root)
        .filter(col("k") >= 17 && col("k") <= 22)
      v1.collect()
      val v1Idx = v1.queryExecution.optimizedPlan.collect {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            r: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
            _, _, _, _) => r.location.asInstanceOf[GraftFileIndex]
      }.head
      assert(v1Idx.lastListing.get === Graft2DataSource.lastPlanned(root))
    }
    // DATE ranges prune on both paths: files [Jan 1-10] and [Feb 1-10]
    val dRoot = tmp()
    Seq("2024-01", "2024-02").foreach { m =>
      VersionedTable.commit(spark.range(1, 11).select(
        to_date(format_string(s"$m-%02d", col("id"))).as("d")).coalesce(1),
        dRoot)
    }
    val feb = spark.read.format("graft").load(dRoot)
      .filter(col("d") >= java.sql.Date.valueOf("2024-02-01"))
    assert(feb.count() === 10)
    assert(Graft2DataSource.lastPlanned(dRoot) === ((1, 2)))
    withReadPathV1 {
      val v1 = spark.read.format("graft").load(dRoot)
        .filter(col("d") >= java.sql.Date.valueOf("2024-02-01"))
      assert(v1.count() === 10)
      val v1Idx = v1.queryExecution.optimizedPlan.collect {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            r: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
            _, _, _, _) => r.location.asInstanceOf[GraftFileIndex]
      }.head
      assert(v1Idx.lastListing.get === Graft2DataSource.lastPlanned(dRoot))
    }
  }

  test("column pruning reaches the scan; time travel pins a snapshot") {
    val root = rangedTable()
    val q = spark.read.format("graft2").load(root).select("k")
    assert(q.as[Long].collect().sorted === (0L until 64L).toArray)
    val scanDesc = q.queryExecution.executedPlan.toString
    assert(scanDesc.contains("cols=[k]"),
      s"projection should reach the scan description:\n$scanDesc")
    val v0 = spark.read.format("graft2").option("versionAsOf", 0).load(root)
    assert(v0.count() === 8)
  }

  test("bloom index gives the final word on graft2 point lookups") {
    val root = tmp()
    // interleaved keys: min/max spans everything, only the bloom prunes
    VersionedTable.commit(Seq(2L, 500L, 998L).toDF("k").coalesce(1), root)
    VersionedTable.commit(Seq(3L, 501L, 999L).toDF("k").coalesce(1), root)
    VersionedTable.buildBloomIndex(spark, root, "k", fpp = 0.001)
    val q = spark.read.format("graft2").load(root).filter(col("k") === 501)
    assert(q.count() === 1)
    assert(Graft2DataSource.lastPlanned(root) === ((1, 2)))
    // IN probes every value through the bloom: 501 and 3 share a file
    val in = spark.read.format("graft2").load(root)
      .filter(col("k").isin(501, 3))
    assert(in.count() === 2)
    assert(Graft2DataSource.lastPlanned(root) === ((1, 2)))
    // DATE: time travel (a pinned v1 relation) and SQL DELETE probe the
    // bloom with CAST(literal AS STRING), the string the build stored
    val dRoot = GraftDataSourceSpec.bloomedDates(spark)
    assert(spark.read.format("graft").option("versionAsOf", 2).load(dRoot)
      .filter(col("d") === java.sql.Date.valueOf("2024-03-10"))
      .count() === 1)
    spark.sql("DROP TABLE IF EXISTS g2_bloom_dates")
    spark.sql(s"CREATE TABLE g2_bloom_dates USING graft OPTIONS (path '$dRoot')")
    try {
      spark.sql("DELETE FROM g2_bloom_dates WHERE d = DATE'2024-03-10'")
      assert(VersionedTable.latestVersion(dRoot) === 3L)
      assert(spark.sql("SELECT count(*) FROM g2_bloom_dates")
        .as[Long].head() === 5L)
    } finally spark.sql("DROP TABLE IF EXISTS g2_bloom_dates")
    // TIMESTAMP blooms are never probed (zone-dependent string form)
    val tsRoot = GraftDataSourceSpec.bloomedTimestamps(spark)
    Seq("graft", "graft2").foreach { fmt =>
      assert(spark.read.format(fmt).load(tsRoot)
        .filter(col("ts") === timestamp_seconds(lit(5000))).count() === 1,
        s"format($fmt)")
    }
  }

  test("manifest sizeInBytes drives broadcast planning through DSv2") {
    val dimRoot = tmp()
    VersionedTable.commit(
      spark.range(0, 50).toDF("k")
        .withColumn("name", concat(lit("d"), col("k"))), dimRoot)
    val dim = spark.read.format("graft2").load(dimRoot)
    val fact = spark.range(0, 100000).toDF("k")
    val joined = fact.join(dim, "k")
    assert(joined.count() === 50)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"tiny graft2 dim should broadcast:\n$plan")
  }

  test("type-widened tables read mixed-width files; gates refuse MOR/renames") {
    val root = tmp()
    VersionedTable.commit(Seq((1, 1.5f)).toDF("n", "x").coalesce(1), root)
    VersionedTable.commit(
      Seq((1L << 40, 4.5d)).toDF("n", "x").coalesce(1), root) // widen
    val ds = spark.read.format("graft2").load(root)
    assert(ds.schema("n").dataType === org.apache.spark.sql.types.LongType)
    val byN = ds.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byN(1L) === 1.5 && byN(1L << 40) === 4.5)
    // MOR tombstones refuse (read those via format("graft"))
    VersionedTable.deleteKeysMOR(spark, root, "n", Seq(1L).toDF("n"))
    val e = intercept[UnsupportedOperationException] {
      spark.read.format("graft2").load(root).collect()
    }
    assert(e.getMessage.contains("tombstones"))
  }
}
