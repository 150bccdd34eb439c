package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** The Spark-native read/write surface of the versioned table:
  * format("graft") relations, SQL over catalog tables, stats/bloom/
  * partition-tag file pruning driven by Catalyst dataFilters, time
  * travel options, write modes through the commit protocol, and the
  * reader feature gates. */
class GraftDataSourceSpec extends SparkSpecBase {
  import spark.implicits._

  // this suite documents the V1 read surface — the supported
  // spark.graft.readPath=v1 fallback — whose index it introspects;
  // the default DSv2 route is pinned by Graft2Spec/Graft2DefaultSpec
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.graft.readPath", "v1")
  }
  override def afterAll(): Unit = {
    spark.conf.unset("spark.graft.readPath")
    super.afterAll()
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_ds_").toString

  /** The GraftFileIndex of the plan, for pruning observability. */
  private def indexOf(df: org.apache.spark.sql.DataFrame): GraftFileIndex =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.location.asInstanceOf[GraftFileIndex]
    }.head

  /** 64 rows in 8 range-disjoint files: file i holds k in [8i, 8i+8). */
  private def rangedTable(): String = {
    val root = tmp()
    (0 until 8).foreach { i =>
      VersionedTable.commit(
        spark.range(8 * i, 8 * i + 8).toDF("k")
          .withColumn("v", col("k") * 10).coalesce(1),
        root)
    }
    root
  }

  test("format(graft) read equals VersionedTable.read") {
    val root = rangedTable()
    val ds = spark.read.format("graft").load(root)
    assert(ds.orderBy("k").collect().toSeq ===
      VersionedTable.read(spark, root).orderBy("k").collect().toSeq)
  }

  test("WHERE range prunes files via manifest stats, answer exact") {
    val root = rangedTable()
    val df = spark.read.format("graft").load(root)
      .filter(col("k") >= 17 && col("k") <= 22)
    val rows = df.select(sum("v")).as[Long].head()
    assert(rows === (17 to 22).map(_ * 10).sum)
    val (kept, total) = indexOf(df).lastListing.get
    assert(total === 8 && kept === 1, // 17..22 live entirely in file 2
      s"expected 1/8 files after range pruning, got $kept/$total")
  }

  test("equality predicate prunes through stats, IS NULL through null counts") {
    val root = tmp()
    VersionedTable.commit(Seq((1L, Some("a")), (2L, Some("b")))
      .toDF("k", "s").coalesce(1), root)
    VersionedTable.commit(Seq((3L, None: Option[String]), (4L, None))
      .toDF("k", "s").coalesce(1), root)
    val eq = spark.read.format("graft").load(root).filter(col("k") === 4)
    assert(eq.count() === 1)
    assert(indexOf(eq).lastListing.get === ((1, 2)))
    val nn = spark.read.format("graft").load(root).filter(col("s").isNotNull)
    assert(nn.count() === 2)
    assert(indexOf(nn).lastListing.get === ((1, 2))) // all-null file pruned
    val nl = spark.read.format("graft").load(root).filter(col("s").isNull)
    assert(nl.count() === 2)
    assert(indexOf(nl).lastListing.get === ((1, 2))) // no-null file pruned
  }

  test("bloom index gives the final word on point lookups") {
    val root = tmp()
    // Arrival-ordered interleaved keys: min/max of both files span the
    // whole range, so stats alone prune NOTHING — only the bloom can.
    VersionedTable.commit(
      Seq(2L, 500L, 998L).toDF("k").coalesce(1), root)
    VersionedTable.commit(
      Seq(3L, 501L, 999L).toDF("k").coalesce(1), root)
    VersionedTable.buildBloomIndex(spark, root, "k", fpp = 0.001)
    val df = spark.read.format("graft").load(root).filter(col("k") === 501)
    assert(df.count() === 1)
    val (kept, total) = indexOf(df).lastListing.get
    assert(total === 2 && kept === 1,
      s"bloom should prune the file not holding 501, got $kept/$total")
    // DATE: the bloom holds CAST(d AS STRING), so the probe must be the
    // same cast of the literal (not its internal day number)
    val dRoot = GraftDataSourceSpec.bloomedDates(spark)
    val travel = spark.read.format("graft").option("versionAsOf", 2)
      .load(dRoot).filter(col("d") === java.sql.Date.valueOf("2024-03-10"))
    assert(travel.count() === 1)
    assert(indexOf(travel).lastListing.get === ((1, 2)))
    spark.sql("DROP TABLE IF EXISTS g_bloom_dates")
    spark.sql(s"CREATE TABLE g_bloom_dates USING graft OPTIONS (path '$dRoot')")
    try {
      spark.sql("DELETE FROM g_bloom_dates WHERE d = DATE'2024-03-10'")
      assert(VersionedTable.latestVersion(dRoot) === 3L)
      assert(VersionedTable.read(spark, dRoot).count() === 5L)
    } finally spark.sql("DROP TABLE IF EXISTS g_bloom_dates")
    // TIMESTAMP: its string form depends on the session zone, so the
    // bloom is never consulted and min/max decide
    val ts = spark.read.format("graft")
      .load(GraftDataSourceSpec.bloomedTimestamps(spark))
      .filter(col("ts") === timestamp_seconds(lit(5000)))
    assert(ts.count() === 1)
  }

  test("hidden partition tags prune equality probes in SQL") {
    val root = tmp()
    VersionedTable.commit(
      spark.range(0, 64).toDF("user_id").withColumn("v", col("user_id") + 100),
      root, partitionBy =
        Some(PartitionTransform.Bucket(4, "user_id")))
    val df = spark.read.format("graft").load(root)
      .filter(col("user_id") === 7)
    assert(df.select(sum("v")).as[Long].head() === 107)
    val (kept, total) = indexOf(df).lastListing.get
    assert(total === 4 && kept === 1,
      s"bucket tag should keep exactly one of 4 files, got $kept/$total")
  }

  test("SQL over a catalog table prunes and answers exactly") {
    val root = rangedTable()
    spark.sql("DROP TABLE IF EXISTS g_ds_spec")
    spark.sql(s"CREATE TABLE g_ds_spec USING graft OPTIONS (path '$root')")
    try {
      val out = spark.sql(
        "SELECT CAST(sum(v) AS BIGINT) AS s FROM g_ds_spec WHERE k BETWEEN 40 AND 47")
      assert(out.as[Long].head() === (40 to 47).map(_ * 10).sum)
      val (kept, total) = indexOf(out).lastListing.get
      assert(total === 8 && kept === 1)
    } finally spark.sql("DROP TABLE IF EXISTS g_ds_spec")
  }

  test("manifest-backed sizeInBytes drives broadcast join planning") {
    val dimRoot = tmp()
    VersionedTable.commit(
      spark.range(0, 50).toDF("k").withColumn("name",
        concat(lit("d"), col("k"))), dimRoot)
    val dim = spark.read.format("graft").load(dimRoot) // tiny: ~KBs
    val fact = spark.range(0, 10000).toDF("k")
      .withColumn("v", col("k") * 2)
    val joined = fact.join(dim, "k") // no broadcast hint
    // the FileIndex reports byte size from the manifest file list, so
    // the planner sees a sub-threshold relation and picks broadcast
    // (at 100 TB the symmetric mistake — sort-merge against a 50-row
    // dim — is the single most common hand-written-plan regression)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast join off manifest sizeInBytes, got:\n$plan")
    assert(joined.count() === 50)
  }

  test("versionAsOf / timestampAsOf options time-travel") {
    val root = tmp()
    VersionedTable.commit(Seq(1L).toDF("k"), root)
    val tsAfterV0 = System.currentTimeMillis()
    VersionedTable.commit(Seq(2L).toDF("k"), root)
    assert(spark.read.format("graft").option("versionAsOf", 0)
      .load(root).count() === 1)
    assert(spark.read.format("graft").load(root).count() === 2)
    assert(spark.read.format("graft").option("timestampAsOf", tsAfterV0)
      .load(root).count() === 1)
  }

  test("write modes go through the commit protocol") {
    val root = tmp()
    Seq(1L).toDF("k").write.format("graft").mode("append").save(root)
    Seq(2L).toDF("k").write.format("graft").mode("append").save(root)
    assert(VersionedTable.latestVersion(root) === 1)
    assert(VersionedTable.read(spark, root).count() === 2)
    Seq(9L).toDF("k").write.format("graft").mode("overwrite").save(root)
    assert(spark.read.format("graft").load(root).as[Long].head() === 9)
    // history intact: overwrite is a commit, not a truncation
    assert(spark.read.format("graft").option("versionAsOf", 1)
      .load(root).count() === 2)
    intercept[IllegalStateException] {
      Seq(1L).toDF("k").write.format("graft").mode("errorifexists").save(root)
    }
  }

  test("write path enforces CHECK constraints") {
    val root = tmp()
    Seq(5L).toDF("k").write.format("graft").save(root)
    VersionedTable.addCheck(spark, root, "k_pos", "k > 0")
    val err = intercept[IllegalArgumentException] {
      Seq(-1L).toDF("k").write.format("graft").mode("append").save(root)
    }
    assert(err.getMessage.contains("k_pos"))
  }

  test("INSERT INTO a catalog table lands as an atomic manifest commit") {
    val root = tmp()
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "s"), root)
    spark.sql("DROP TABLE IF EXISTS g_ins_spec")
    spark.sql(s"CREATE TABLE g_ins_spec USING graft OPTIONS (path '$root')")
    try {
      spark.sql("INSERT INTO g_ins_spec VALUES (2, 'b'), (3, 'c')")
      // one new version in the log, zero orphan files — the round-6
      // footgun (raw files outside the manifest) is structurally gone
      assert(VersionedTable.latestVersion(root) === 1)
      val rep = VersionedTable.fsck(root)
      assert(rep.ok && rep.orphanDirs.isEmpty, s"fsck after INSERT: $rep")
      assert(spark.table("g_ins_spec").count() === 3) // fresh, no REFRESH
      spark.sql("INSERT OVERWRITE g_ins_spec VALUES (9, 'z')")
      assert(spark.table("g_ins_spec").count() === 1)
      // overwrite is a commit: history intact, old snapshot readable
      assert(spark.read.format("graft").option("versionAsOf", 1)
        .load(root).count() === 3)
      assert(VersionedTable.fsck(root).orphanDirs.isEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS g_ins_spec")
  }

  test("INSERT INTO enforces CHECK constraints and pinned tables refuse") {
    val root = tmp()
    VersionedTable.commit(Seq(5L).toDF("k"), root)
    VersionedTable.addCheck(spark, root, "k_pos", "k > 0")
    spark.sql("DROP TABLE IF EXISTS g_chk_spec")
    spark.sql("DROP TABLE IF EXISTS g_pin_spec")
    spark.sql(s"CREATE TABLE g_chk_spec USING graft OPTIONS (path '$root')")
    spark.sql(s"CREATE TABLE g_pin_spec USING graft " +
      s"OPTIONS (path '$root', versionAsOf '0')")
    try {
      val vBefore = VersionedTable.latestVersion(root) // addCheck commits
      val err = intercept[Exception] {
        spark.sql("INSERT INTO g_chk_spec VALUES (-1)")
      }
      assert(err.getMessage.contains("k_pos"), s"got: ${err.getMessage}")
      assert(VersionedTable.latestVersion(root) === vBefore,
        "failed insert committed")
      val pin = intercept[Exception] {
        spark.sql("INSERT INTO g_pin_spec VALUES (7)")
      }
      assert(pin.getMessage.contains("pinned"), s"got: ${pin.getMessage}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS g_chk_spec")
      spark.sql("DROP TABLE IF EXISTS g_pin_spec")
    }
  }

  test("CTAS: CREATE TABLE ... USING graft AS SELECT commits v0") {
    spark.sql("DROP TABLE IF EXISTS g_ctas_spec")
    spark.sql("CREATE TABLE g_ctas_spec USING graft AS " +
      "SELECT id AS k, id * 2 AS v FROM range(10)")
    try {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("g_ctas_spec"))
        .location.getPath
      assert(VersionedTable.latestVersion(loc) === 0, "CTAS must commit v0")
      assert(VersionedTable.fsck(loc).ok)
      assert(spark.table("g_ctas_spec").count() === 10)
      // and the created table takes protocol-routed DML like any other
      spark.sql("INSERT INTO g_ctas_spec SELECT 100, 200")
      assert(VersionedTable.latestVersion(loc) === 1)
      assert(spark.table("g_ctas_spec").count() === 11)
    } finally spark.sql("DROP TABLE IF EXISTS g_ctas_spec")
  }

  test("reader feature gates: MOR tombstones and renamed columns refuse") {
    val morRoot = tmp()
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), morRoot)
    VersionedTable.deleteKeysMOR(spark, morRoot, "k", Seq(1L).toDF("k"))
    // MOR tombstones no longer refuse: the GraftMorScan rewrite
    // anti-joins them away at analysis time (round 8)
    assert(spark.read.format("graft").load(morRoot)
      .as[(Long, String)].collect().toSeq === Seq((2L, "b")))

    val rnRoot = tmp()
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "s"), rnRoot)
    VersionedTable.renameColumn(rnRoot, "k", "key")
    val e2 = intercept[UnsupportedOperationException] {
      spark.read.format("graft").load(rnRoot).collect()
    }
    assert(e2.getMessage.contains("renamed"))
    // compaction folds tombstones in; the gate lifts
    VersionedTable.compact(spark, morRoot, numFiles = 1)
    assert(spark.read.format("graft").load(morRoot).count() === 1)
  }
}

/** Bloom-indexed fixtures shared with [[Graft2Spec]]. */
object GraftDataSourceSpec {
  /** Two files of interleaved dates (min/max prune nothing), bloom-indexed
    * on `d` at v2. */
  def bloomedDates(spark: SparkSession): String = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ds_").toString
    Seq(Seq("2024-03-01", "2024-03-10", "2024-03-20"),
        Seq("2024-03-02", "2024-03-11", "2024-03-21")).foreach { ds =>
      VersionedTable.commit(ds.toDF("s").select(to_date(col("s")).as("d"))
        .coalesce(1), root)
    }
    VersionedTable.buildBloomIndex(spark, root, "d", fpp = 0.001)
    root
  }

  /** The TIMESTAMP sibling of [[bloomedDates]]: seconds 1000/5000/9000
    * and 2000/6000/10000, bloom-indexed on `ts`. */
  def bloomedTimestamps(spark: SparkSession): String = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ds_").toString
    Seq(Seq(1000L, 5000L, 9000L), Seq(2000L, 6000L, 10000L)).foreach { ss =>
      VersionedTable.commit(ss.toDF("s")
        .select(timestamp_seconds(col("s")).as("ts")).coalesce(1), root)
    }
    VersionedTable.buildBloomIndex(spark, root, "ts", fpp = 0.001)
    root
  }
}
