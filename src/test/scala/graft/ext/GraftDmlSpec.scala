package graft.ext

import graft.SparkSpecBase
import graft.sources.VersionedTable
import org.apache.spark.sql.functions._

/** End-to-end SQL DML on `USING graft` catalog tables — the
  * [[GraftDmlRewrite]] routes in the position they actually run
  * (post-hoc resolution, attribute rebinding, catalog relations):
  * DELETE / UPDATE (copy-on-write AND the point-predicate
  * merge-on-read fast path) / MERGE, WHERE-NULL semantics, CHECK
  * enforcement on rewrites, and the refusal posture (pinned relations,
  * subquery predicates, non-canonical MERGE shapes). */
class GraftDmlSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_dml_").toString

  /** 64 rows in 8 range-disjoint files (k in [8i, 8i+8), v = 10k),
    * registered as catalog table `name`. */
  private def mkTable(name: String): String = {
    val root = tmp()
    (0 until 8).foreach { i =>
      VersionedTable.commit(
        spark.range(8 * i, 8 * i + 8).toDF("k")
          .withColumn("v", col("k") * 10).coalesce(1), root)
    }
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING graft OPTIONS (path '$root')")
    root
  }

  private def drop(name: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $name")

  test("SQL DELETE FROM: stats-pruned copy-on-write, one replace commit") {
    val root = mkTable("dml_del")
    try {
      val before = VersionedTable.snapshotFiles(root, 7L).toSet
      spark.sql("DELETE FROM dml_del WHERE k >= 8 AND k <= 11")
      val v = VersionedTable.latestVersion(root)
      assert(v === 8L)
      val after = VersionedTable.snapshotFiles(root, v).toSet
      // only the file holding [8,16) was rewritten; 7 files carried over
      assert((before intersect after).size === 7)
      assert(spark.sql("SELECT count(*) AS c FROM dml_del")
        .as[Long].head() === 60L)
      assert(spark.sql(
        "SELECT count(*) AS c FROM dml_del WHERE k >= 8 AND k < 16")
        .as[Long].head() === 4L) // 12..15 survive
      // a Column-built condition targets by name too: [17, 20) lives in
      // the [16, 24) file alone, so exactly one file is replaced
      VersionedTable.deleteWhere(spark, root,
        org.apache.spark.sql.GraftColumnBridge.expression(
          col("k") >= 17 && col("k") < 20))
      val after2 = VersionedTable.snapshotFiles(root, 9L).toSet
      assert((after intersect after2).size === 7)
      assert(VersionedTable.read(spark, root).count() === 57L)
    } finally drop("dml_del")
  }

  test("DELETE WHERE over a NULL condition value keeps the row (SQL)") {
    val root = tmp()
    VersionedTable.commit(
      Seq((1L, Some(5L)), (2L, None), (3L, Some(50L)))
        .toDF("k", "v"), root)
    spark.sql("DROP TABLE IF EXISTS dml_nul")
    spark.sql(s"CREATE TABLE dml_nul USING graft OPTIONS (path '$root')")
    try {
      spark.sql("DELETE FROM dml_nul WHERE v < 10")
      // k=1 deleted; k=2 has NULL v (condition NULL → survives); k=3 survives
      assert(spark.sql("SELECT k FROM dml_nul ORDER BY k")
        .as[Long].collect().toSeq === Seq(2L, 3L))
    } finally drop("dml_nul")
  }

  test("SQL UPDATE, broad predicate: copy-on-write; SET reads pre-update row") {
    val root = mkTable("dml_upd")
    try {
      val before = VersionedTable.snapshotFiles(root, 7L).toSet
      // swap-flavored SET: both expressions must see the PRE-update row
      spark.sql("UPDATE dml_upd SET v = v + k, k = k + 100 WHERE k >= 8 AND k <= 15")
      val after =
        VersionedTable.snapshotFiles(root, VersionedTable.latestVersion(root)).toSet
      assert((before intersect after).size === 7) // one file rewritten
      val r = spark.sql(
        "SELECT k, v FROM dml_upd WHERE k >= 100 ORDER BY k")
        .as[(Long, Long)].collect().toSeq
      assert(r === (8L to 15L).map(k => (k + 100, k * 10 + k)))
      assert(spark.sql("SELECT count(*) AS c FROM dml_upd")
        .as[Long].head() === 64L)
    } finally drop("dml_upd")
  }

  test("SQL point UPDATE routes to merge-on-read: rewrites NO existing file") {
    val root = mkTable("dml_mor")
    try {
      val before = VersionedTable.snapshotFiles(root, 7L).toSet
      spark.sql("UPDATE dml_mor SET v = 9999 WHERE k = 12")
      val v = VersionedTable.latestVersion(root)
      val after = VersionedTable.snapshotFiles(root, v).toSet
      assert(before.subsetOf(after),
        s"point UPDATE rewrote files: ${(before -- after).mkString(",")}")
      assert((after -- before).size === 1) // the one new image
      assert(VersionedTable.snapshotTombstones(root, v).keySet.size === 1)
      // the table stays fully SQL-readable through the MOR scan rewrite
      assert(spark.sql("SELECT v FROM dml_mor WHERE k = 12")
        .as[Long].head() === 9999L)
      assert(spark.sql("SELECT count(*) AS c FROM dml_mor")
        .as[Long].head() === 64L)
      assert(spark.sql(
        "SELECT CAST(sum(v) AS BIGINT) AS s FROM dml_mor WHERE k >= 8 AND k <= 15")
        .as[Long].head() === (8 to 15).map(_ * 10).sum - 120 + 9999)
      // IN-list of literals routes MOR too
      spark.sql("UPDATE dml_mor SET v = 1 WHERE k IN (3, 40)")
      val after2 = VersionedTable.snapshotFiles(
        root, VersionedTable.latestVersion(root)).toSet
      assert(before.subsetOf(after2))
      assert(spark.sql("SELECT CAST(sum(v) AS BIGINT) AS s FROM dml_mor WHERE k IN (3, 40)")
        .as[Long].head() === 2L)
    } finally drop("dml_mor")
  }

  test("UPDATE SET on the key column stays copy-on-write (MOR needs old-key tombstones)") {
    val root = mkTable("dml_key")
    try {
      spark.sql("UPDATE dml_key SET k = 500 WHERE k = 12")
      val v = VersionedTable.latestVersion(root)
      assert(VersionedTable.snapshotTombstones(root, v).isEmpty,
        "SET on the predicate key must not take the MOR path")
      assert(spark.sql("SELECT count(*) AS c FROM dml_key WHERE k = 500")
        .as[Long].head() === 1L)
      assert(spark.sql("SELECT count(*) AS c FROM dml_key WHERE k = 12")
        .as[Long].head() === 0L)
    } finally drop("dml_key")
  }

  test("UPDATE violating a CHECK refuses on both the COW and MOR routes") {
    val root = mkTable("dml_chk")
    VersionedTable.addCheck(spark, root, "v_nonneg", "v >= 0")
    try {
      val eMor = intercept[IllegalArgumentException] {
        spark.sql("UPDATE dml_chk SET v = -1 WHERE k = 3") // MOR route
      }
      assert(eMor.getMessage.contains("v_nonneg"))
      val eCow = intercept[IllegalArgumentException] {
        spark.sql("UPDATE dml_chk SET v = -1 WHERE k >= 0") // COW route
      }
      assert(eCow.getMessage.contains("v_nonneg"))
      // nothing landed; the table still answers and satisfies the CHECK
      assert(spark.sql("SELECT min(v) AS m FROM dml_chk")
        .as[Long].head() === 0L)
      assert(VersionedTable.latestVersion(root) === 8L) // only the addCheck
    } finally drop("dml_chk")
  }

  test("SQL MERGE INTO (star form) upserts through mergeKeyed") {
    val root = mkTable("dml_mrg")
    try {
      Seq((12L, 7777L), (1000L, 1L)).toDF("k", "v")
        .createOrReplaceTempView("dml_mrg_src")
      spark.sql(
        """MERGE INTO dml_mrg t USING dml_mrg_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(spark.sql("SELECT v FROM dml_mrg WHERE k = 12")
        .as[Long].head() === 7777L)
      assert(spark.sql("SELECT count(*) AS c FROM dml_mrg")
        .as[Long].head() === 65L)
      // a duplicated source key has no deterministic outcome: both the
      // SQL form and the API refuse, and nothing commits
      Seq((12L, 1L), (12L, 2L)).toDF("k", "v")
        .createOrReplaceTempView("dml_mrg_dup")
      val before = spark.sql("SELECT count(*) AS c FROM dml_mrg")
        .as[Long].head()
      intercept[IllegalArgumentException] {
        spark.sql(
          """MERGE INTO dml_mrg t USING dml_mrg_dup s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      intercept[IllegalArgumentException] {
        VersionedTable.mergeKeyed(spark, root, spark.table("dml_mrg_dup"), "k")
      }
      assert(spark.sql("SELECT count(*) AS c FROM dml_mrg WHERE k = 12")
        .as[Long].head() === 1L)
      assert(spark.sql("SELECT count(*) AS c FROM dml_mrg")
        .as[Long].head() === before)
    } finally drop("dml_mrg")
  }

  test("conditional MERGE: AND conditions, DELETE, partial SET, guarded INSERT") {
    mkTable("dml_cm")
    try {
      Seq((12L, -1L), (13L, 777L), (500L, 5L), (2000L, 9L))
        .toDF("k", "v").createOrReplaceTempView("dml_cm_src")
      spark.sql(
        """MERGE INTO dml_cm t USING dml_cm_src s ON t.k = s.k
          |WHEN MATCHED AND s.v < 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED AND s.k < 1000 THEN INSERT (k, v) VALUES (s.k, s.v)
          |""".stripMargin)
      assert(spark.sql("SELECT count(*) AS c FROM dml_cm")
        .as[Long].head() === 64L) // -1 deleted, +1 inserted
      assert(spark.sql("SELECT count(*) AS c FROM dml_cm WHERE k = 12")
        .as[Long].head() === 0L) // deleted by the first matched clause
      assert(spark.sql("SELECT v FROM dml_cm WHERE k = 13")
        .as[Long].head() === 777L) // updated by the second
      assert(spark.sql("SELECT v FROM dml_cm WHERE k = 500")
        .as[Long].head() === 5L) // inserted (guard passed)
      assert(spark.sql("SELECT count(*) AS c FROM dml_cm WHERE k = 2000")
        .as[Long].head() === 0L) // insert guard rejected
      // unmatched target rows carried over untouched
      assert(spark.sql("SELECT v FROM dml_cm WHERE k = 7")
        .as[Long].head() === 70L)
    } finally drop("dml_cm")
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE deletes/updates target-only rows") {
    mkTable("dml_bs")
    try {
      Seq((5L, 111L)).toDF("k", "v").createOrReplaceTempView("dml_bs_src")
      spark.sql(
        """MERGE INTO dml_bs t USING dml_bs_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED BY SOURCE AND t.k >= 60 THEN DELETE
          |""".stripMargin)
      assert(spark.sql("SELECT v FROM dml_bs WHERE k = 5")
        .as[Long].head() === 111L)
      assert(spark.sql("SELECT count(*) AS c FROM dml_bs")
        .as[Long].head() === 60L) // 60..63 deleted
      assert(spark.sql("SELECT max(k) AS m FROM dml_bs")
        .as[Long].head() === 59L)
    } finally drop("dml_bs")
  }

  test("MERGE refusals: compound ON and schema evolution on conditional clauses") {
    mkTable("dml_bad")
    try {
      Seq((12L, 1L)).toDF("k", "v").createOrReplaceTempView("dml_bad_src")
      val e = intercept[UnsupportedOperationException] {
        spark.sql(
          """MERGE INTO dml_bad t USING dml_bad_src s
            |ON t.k = s.k AND t.v = s.v
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      assert(e.getMessage.contains("single-equality ON"))
    } finally drop("dml_bad")
  }

  test("ALTER TABLE ADD COLUMNS: metadata-only schema evolution in SQL") {
    val root = mkTable("dml_add")
    try {
      val before = VersionedTable.snapshotFiles(root, 7L).toSet
      spark.sql("ALTER TABLE dml_add ADD COLUMNS (w BIGINT, tag STRING)")
      val v = VersionedTable.latestVersion(root)
      // metadata-only: no data file written, all old files by reference
      assert(VersionedTable.snapshotFiles(root, v).toSet === before)
      // old rows surface the new columns as NULL
      assert(spark.sql("SELECT count(*) AS c FROM dml_add WHERE w IS NULL")
        .as[Long].head() === 64L)
      // and the widened schema accepts inserts with values
      spark.sql("INSERT INTO dml_add VALUES (1000, 1, 7, 'x')")
      assert(spark.sql(
        "SELECT CAST(sum(w) AS BIGINT) AS s FROM dml_add WHERE tag = 'x'")
        .as[Long].head() === 7L)
      assert(spark.sql("SELECT count(*) AS c FROM dml_add")
        .as[Long].head() === 65L)
      // duplicate add refuses
      val e = intercept[Exception] {
        spark.sql("ALTER TABLE dml_add ADD COLUMNS (w BIGINT)")
      }
      assert(e.getMessage.contains("already exists"))
    } finally drop("dml_add")
  }

  test("pinned relations refuse DML; subquery predicates refuse loudly") {
    val root = mkTable("dml_live")
    spark.sql("DROP TABLE IF EXISTS dml_pin")
    spark.sql(
      s"CREATE TABLE dml_pin USING graft OPTIONS (path '$root', versionAsOf '0')")
    try {
      // the refusal fires inside an analyzer rule; Spark may surface it
      // wrapped in an AnalysisException — assert on the message
      val eDel = intercept[Exception] {
        spark.sql("DELETE FROM dml_pin WHERE k = 1")
      }
      assert(eDel.getMessage.contains("pinned"))
      val eUpd = intercept[Exception] {
        spark.sql("UPDATE dml_pin SET v = 0 WHERE k = 1")
      }
      assert(eUpd.getMessage.contains("pinned"))
      val eSub = intercept[Exception] {
        spark.sql(
          "DELETE FROM dml_live WHERE k IN (SELECT k FROM dml_live WHERE v > 100)")
      }
      assert(eSub.getMessage.contains("subquery"))
    } finally { drop("dml_pin"); drop("dml_live") }
  }

  test("SQL UPDATE on a delta-log table: COW, pre-update-row SET") {
    import graft.sources.DeltaLog
    val root = tmp()
    (0 until 3).foreach(i => DeltaLog.commit(
      spark.range(8 * i, 8 * i + 8).toDF("k")
        .withColumn("v", col("k") * 10).coalesce(1), root))
    spark.sql(s"CREATE TABLE dml_dup USING `delta-log` OPTIONS (path '$root')")
    try {
      val before = DeltaLog.snapshot(spark, root).adds.map(_.path).toSet
      // SET reads the PRE-update row: v := v + k, k := k + 1000 must
      // use the ORIGINAL k in both
      spark.sql(
        "UPDATE dml_dup SET v = v + k, k = k + 1000 WHERE k >= 16")
      val after = DeltaLog.snapshot(spark, root)
      // only the third file rewrote
      assert(before.diff(after.adds.map(_.path).toSet).size === 1)
      val rows = spark.sql(
        "SELECT k, v FROM dml_dup WHERE k >= 1000 ORDER BY k")
        .as[(Long, Long)].collect().toSeq
      assert(rows === (16 until 24).map(k =>
        (k + 1000L, k * 10L + k)))
      // untouched rows intact; WHERE-null keeps rows
      assert(spark.sql("SELECT count(*) FROM dml_dup WHERE k < 16")
        .as[Long].head() === 16L)
      spark.sql("UPDATE dml_dup SET v = 0 WHERE if(k = 1, NULL, FALSE)")
      assert(spark.sql("SELECT count(*) FROM dml_dup WHERE v = 0")
        .as[Long].head() === 1L) // only k=0 (v was 0 already)
    } finally drop("dml_dup")
  }

  test("delta UPDATE of a partition column relocates rows; CDF records images") {
    import graft.sources.DeltaLog
    val root = tmp()
    DeltaLog.commit(spark.range(0, 8).toDF("k")
      .withColumn("p", col("k") % 2).repartition(col("p")),
      root, partitionBy = Seq("p"))
    DeltaLog.setConfiguration(spark, root,
      Map("delta.enableChangeDataFeed" -> "true"))
    spark.sql(s"CREATE TABLE dml_dpart USING `delta-log` OPTIONS (path '$root')")
    try {
      val v = DeltaLog.latestVersion(root) + 1
      spark.sql("UPDATE dml_dpart SET p = 2 WHERE k = 3") // p=1 -> p=2
      val snap = DeltaLog.snapshot(spark, root)
      assert(snap.adds.exists(_.partitionValues.get("p").contains("2")))
      assert(spark.sql("SELECT p FROM dml_dpart WHERE k = 3")
        .as[Long].head() === 2L)
      // CDF pre/postimages recorded by the commit
      val feed = DeltaLog.changes(spark, root, v - 1, v)
        .select("k", "p", "_change_type")
        .as[(Long, Long, String)].collect().toSet
      assert(feed === Set((3L, 1L, "update_preimage"),
        (3L, 2L, "update_postimage")))
    } finally drop("dml_dpart")
  }

  test("SQL MERGE INTO a delta-log table: full clause algebra, COW") {
    import graft.sources.DeltaLog
    val root = tmp()
    (0 until 3).foreach(i => DeltaLog.commit(
      spark.range(8 * i, 8 * i + 8).toDF("k")
        .withColumn("v", col("k") * 10).coalesce(1), root))
    spark.sql(s"CREATE TABLE dml_dm USING `delta-log` OPTIONS (path '$root')")
    Seq((1L, 111L), (2L, -1L), (30L, 300L), (40L, -1L))
      .toDF("k", "v").createOrReplaceTempView("dml_dm_src")
    try {
      val before = DeltaLog.snapshot(spark, root).adds.map(_.path).toSet
      spark.sql(
        """MERGE INTO dml_dm t USING dml_dm_src s ON t.k = s.k
          |WHEN MATCHED AND s.v < 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.v + t.v
          |WHEN NOT MATCHED AND s.v >= 0 THEN INSERT (k, v) VALUES (s.k, s.v)
          |""".stripMargin)
      // k=1 updates (111 + 10), k=2 deletes, k=30 inserts, k=40 skipped
      val rows = spark.sql(
        "SELECT k, v FROM dml_dm WHERE k IN (1, 2, 30, 40) ORDER BY k")
        .as[(Long, Long)].collect().toSeq
      assert(rows === Seq((1L, 121L), (30L, 300L)))
      assert(spark.sql("SELECT count(*) FROM dml_dm").as[Long]
        .head() === 24L) // 24 - 1 deleted + 1 inserted
      // key-envelope pruning: source keys hit files 0 and... envelope
      // [1, 40] spans all three files here, so just assert the commit
      // REPLACED rather than duplicated
      val after = DeltaLog.snapshot(spark, root)
      assert(after.adds.map(_.path).toSet.intersect(before).isEmpty ||
        after.adds.size <= before.size + 1)
      // WHEN NOT MATCHED BY SOURCE over a second merge
      spark.sql(
        """MERGE INTO dml_dm t USING dml_dm_src s ON t.k = s.k
          |WHEN NOT MATCHED BY SOURCE AND t.k >= 20 THEN DELETE
          |""".stripMargin)
      assert(spark.sql("SELECT max(k) FROM dml_dm").as[Long]
        .head() === 30L) // 20..23 gone (not in source), 30 IS in source
      // CDF-enabled tables record the merge's change rows as cdc
      // actions: updates as pre/postimage pairs, carry-overs nothing
      DeltaLog.setConfiguration(spark, root,
        Map("delta.enableChangeDataFeed" -> "true"))
      spark.sql(
        """MERGE INTO dml_dm t USING dml_dm_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |""".stripMargin)
      assert(spark.sql("SELECT v FROM dml_dm WHERE k = 1").as[Long]
        .head() === 111L)
      val vNow = DeltaLog.latestVersion(root)
      val feed = DeltaLog.changes(spark, root, vNow - 1, vNow)
        .select("k", "v", "_change_type")
        .as[(Long, Long, String)].collect().toSet
      // matched k=1 (121→111) and k=30 (300→300, still recorded);
      // k=2/k=40 match nothing; untouched rows record NOTHING
      assert(feed === Set(
        (1L, 121L, "update_preimage"), (1L, 111L, "update_postimage"),
        (30L, 300L, "update_preimage"), (30L, 300L, "update_postimage")))
    } finally { drop("dml_dm"); spark.catalog.dropTempView("dml_dm_src") }
  }

  test("SQL UPDATE on an iceberg-meta table: manifest-bounds COW") {
    import graft.sources.IcebergMeta
    val root = tmp() + "/t"
    IcebergMeta.writeFixture(
      spark.range(0, 8).toDF("k").withColumn("v", col("k") * 10)
        .coalesce(1), root)
    (1 until 3).foreach(i => IcebergMeta.append(
      spark.range(8 * i, 8 * i + 8).toDF("k")
        .withColumn("v", col("k") * 10).coalesce(1), root))
    spark.sql(
      s"CREATE TABLE dml_iu USING `iceberg-meta` OPTIONS (path '$root')")
    try {
      val before = IcebergMeta.snapshot(root).files.map(_.recordedPath)
      assert(before.size === 3)
      spark.sql("UPDATE dml_iu SET v = v + 1 WHERE k >= 20")
      assert(spark.sql("SELECT sum(v) FROM dml_iu").as[Long].head() ===
        (0L until 24L).map(k => k * 10 + (if (k >= 20) 1 else 0)).sum)
      // only the third file's bounds ([16,23]) may satisfy k >= 20:
      // the first two carried by reference
      val after = IcebergMeta.snapshot(root).files.map(_.recordedPath)
      assert(after.toSet.intersect(before.toSet) === before.take(2).toSet)
      // UPDATE on a pinned relation refuses
      spark.sql(s"""CREATE TABLE dml_iu_pin USING `iceberg-meta`
        OPTIONS (path '$root', snapshotId '${
          IcebergMeta.snapshot(root).snapshotId}')""")
      val e = intercept[Exception] {
        spark.sql("UPDATE dml_iu_pin SET v = 0 WHERE k = 1")
      }
      assert(e.getMessage.contains("pinned"))
    } finally { drop("dml_iu"); drop("dml_iu_pin") }
  }

  test("SQL MERGE INTO an iceberg-meta table: conditional clauses COW, " +
    "star form stays merge-on-read") {
    import graft.sources.IcebergMeta
    val root = tmp() + "/t"
    IcebergMeta.writeFixture(
      spark.range(0, 24).toDF("k").withColumn("v", col("k") * 10)
        .repartitionByRange(3, col("k")), root)
    spark.sql(
      s"CREATE TABLE dml_im USING `iceberg-meta` OPTIONS (path '$root')")
    Seq((1L, 111L), (2L, -1L), (30L, 300L), (40L, -1L))
      .toDF("k", "v").createOrReplaceTempView("dml_im_src")
    try {
      spark.sql(
        """MERGE INTO dml_im t USING dml_im_src s ON t.k = s.k
          |WHEN MATCHED AND s.v < 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.v + t.v
          |WHEN NOT MATCHED AND s.v >= 0 THEN INSERT (k, v) VALUES (s.k, s.v)
          |""".stripMargin)
      // k=1 updates (111+10), k=2 deletes, k=30 inserts, k=40 skipped
      assert(spark.sql(
        "SELECT k, v FROM dml_im WHERE k IN (1, 2, 30, 40) ORDER BY k")
        .as[(Long, Long)].collect().toSeq === Seq((1L, 121L), (30L, 300L)))
      assert(spark.sql("SELECT count(*) FROM dml_im").as[Long]
        .head() === 24L)
      // the canonical star upsert still lowers to upsertKeyed: the
      // snapshot it commits is an `overwrite` carrying an EQUALITY
      // DELETE + new images, no COW of data files
      val filesBefore = IcebergMeta.snapshot(root).files
        .map(_.recordedPath).toSet
      spark.sql(
        """MERGE INTO dml_im t USING dml_im_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |""".stripMargin)
      val snap = IcebergMeta.snapshot(root)
      assert(snap.eqDeletes.nonEmpty)
      assert(filesBefore.subsetOf(snap.files.map(_.recordedPath).toSet))
      assert(spark.sql("SELECT v FROM dml_im WHERE k = 2").as[Long]
        .collect().toSeq === Seq(-1L)) // 2 re-inserted by the upsert
    } finally { drop("dml_im"); spark.catalog.dropTempView("dml_im_src") }
  }
}
