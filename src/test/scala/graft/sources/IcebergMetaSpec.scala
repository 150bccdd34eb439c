package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The Iceberg metadata-tree reader ([[IcebergMeta]] +
  * `format("iceberg-meta")`): snapshot replay through
  * metadata.json → manifest-list avro → manifest avro, bounds-based
  * file skipping, the key/value-array map encoding real Iceberg
  * writers use, and the refusal gates (format-version, delete
  * manifests). */
class IcebergMetaSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("iceberg_spec_").toString

  private def indexOf(df: org.apache.spark.sql.DataFrame)
      : IcebergMetaFileIndex =
    df.queryExecution.optimizedPlan.collect {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          r: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
          _, _, _, _) =>
        r.location.asInstanceOf[IcebergMetaFileIndex]
    }.head

  test("fixture round-trip; manifest bounds skip files") {
    val root = tmp()
    val df = spark.range(0, 64).toDF("k")
      .withColumn("v", col("k") * 10)
      .withColumn("s", concat(lit("row"), col("k")))
      .repartitionByRange(4, col("k"))
    IcebergMeta.writeFixture(df, root)
    val ds = spark.read.format("iceberg-meta").load(root)
    assert(ds.count() === 64)
    assert(ds.agg(sum("v")).as[Long].head() === (0 until 64).map(_ * 10).sum)
    assert(ds.filter(col("s") === "row7").count() === 1)
    // bounds-based skipping: k in [20, 25] lives in one range file
    val q = spark.read.format("iceberg-meta").load(root)
      .filter(col("k") >= 20 && col("k") <= 25)
    assert(q.agg(sum("v")).as[Long].head() === (20 to 25).map(_ * 10).sum)
    val (kept, total) = indexOf(q).lastListing.get
    assert(total === 4 && kept === 1, s"expected 1/4 files, got $kept/$total")
    // strict bounds prune the boundary file: k in [0,999] and [1000,1999]
    val root2 = tmp()
    IcebergMeta.writeFixture(spark.range(0, 2000, 1, 2).toDF("k"), root2)
    def listed(c: org.apache.spark.sql.Column) = {
      val d = spark.read.format("iceberg-meta").load(root2).filter(c)
      assert(d.count() === 1000)
      indexOf(d).lastListing.get
    }
    assert(listed(col("k") > 999) === ((1, 2)))
    assert(listed(col("k") < 1000) === ((1, 2)))
  }

  test("deleted entries drop; kv-array map encoding reads like real maps") {
    // a manifest in the OTHER legal avro shape: bounds as an array of
    // key/value records (what iceberg-core writes), one entry with
    // status=2 (deleted) that must not surface
    val root = tmp()
    val dataDir = Paths.get(root, "data")
    Seq(1L, 2L).toDF("k").coalesce(1).write.parquet(dataDir.toString)
    Seq(99L).toDF("k").write.mode("append").parquet(dataDir.toString)
    import scala.jdk.CollectionConverters._
    val parts = {
      val s = Files.list(dataDir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
        .toSeq.sorted
      finally s.close()
    }
    assert(parts.size >= 2)
    // identify which part holds which rows (file naming is uuid-random)
    val partOf99 = parts.find(p =>
      spark.read.parquet(dataDir.resolve(p).toString)
        .as[Long].collect().contains(99L)).get
    val partOf12 = parts.find(_ != partOf99).get
    val manifestSchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
        |  {"name":"content","type":"int"},
        |  {"name":"file_path","type":"string"},
        |  {"name":"file_format","type":"string"},
        |  {"name":"record_count","type":"long"},
        |  {"name":"file_size_in_bytes","type":"long"},
        |  {"name":"lower_bounds","type":{"type":"array","items":
        |    {"type":"record","name":"kv","fields":[
        |      {"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}},
        |  {"name":"upper_bounds","type":{"type":"array","items":"kv"}}
        |]}}]}""".stripMargin)
    def kv(schema: org.apache.avro.Schema, id: Int, v: Long) = {
      val r = new org.apache.avro.generic.GenericData.Record(schema)
      r.put("key", id)
      r.put("value", java.nio.ByteBuffer.wrap(
        java.nio.ByteBuffer.allocate(8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()))
      r
    }
    val kvSchema = manifestSchema.getField("data_file").schema()
      .getField("lower_bounds").schema().getElementType
    def entry(status: Int, path: String, lo: Long, hi: Long) = {
      val e = new org.apache.avro.generic.GenericData.Record(manifestSchema)
      e.put("status", status)
      val d = new org.apache.avro.generic.GenericData.Record(
        manifestSchema.getField("data_file").schema())
      d.put("content", 0)
      d.put("file_path", s"data/$path")
      d.put("file_format", "PARQUET")
      d.put("record_count", 2L)
      d.put("file_size_in_bytes",
        Files.size(dataDir.resolve(path)))
      d.put("lower_bounds",
        java.util.List.of(kv(kvSchema, 1, lo)))
      d.put("upper_bounds",
        java.util.List.of(kv(kvSchema, 1, hi)))
      e.put("data_file", d)
      e
    }
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](manifestSchema))
    Files.createDirectories(Paths.get(root, "metadata"))
    w.create(manifestSchema, Paths.get(root, "metadata/m0.avro").toFile)
    w.append(entry(1, partOf12, 1L, 2L))
    w.append(entry(2, partOf99, 99L, 99L)) // DELETED: must not surface
    w.close()
    val listSchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"}]}""".stripMargin)
    val lr = new org.apache.avro.generic.GenericData.Record(listSchema)
    lr.put("manifest_path", "metadata/m0.avro")
    lr.put("manifest_length",
      Files.size(Paths.get(root, "metadata/m0.avro")))
    lr.put("partition_spec_id", 0)
    val lw = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](listSchema))
    lw.create(listSchema, Paths.get(root, "metadata/snap.avro").toFile)
    lw.append(lr)
    lw.close()
    Files.write(Paths.get(root, "metadata/v1.metadata.json"),
      s"""{"format-version":2,"table-uuid":"t","location":"$root",
         |"current-schema-id":0,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |  {"id":1,"name":"k","required":false,"type":"long"}]}],
         |"current-snapshot-id":7,
         |"snapshots":[{"snapshot-id":7,"manifest-list":"metadata/snap.avro",
         |  "timestamp-ms":1,"summary":{"operation":"append"}}]}"""
        .stripMargin.getBytes(UTF_8))
    Files.write(Paths.get(root, "metadata/version-hint.text"),
      "1".getBytes(UTF_8))
    val ds = spark.read.format("iceberg-meta").load(root)
    assert(ds.orderBy("k").as[Long].collect().toSeq === Seq(1L, 2L))
    // and the kv-array bounds drive skipping
    val q = spark.read.format("iceberg-meta").load(root)
      .filter(col("k") >= 50)
    assert(q.count() === 0)
    assert(indexOf(q).lastListing.get._1 === 0)
  }

  test("refusal gates: format-version 4 (v3 reads — IcebergV3Spec)") {
    val root = tmp()
    Files.createDirectories(Paths.get(root, "metadata"))
    Files.write(Paths.get(root, "metadata/v1.metadata.json"),
      """{"format-version":4,"schemas":[],"snapshots":[]}"""
        .getBytes(UTF_8))
    Files.write(Paths.get(root, "metadata/version-hint.text"),
      "1".getBytes(UTF_8))
    val e1 = intercept[UnsupportedOperationException] {
      IcebergMeta.snapshot(root)
    }
    assert(e1.getMessage.contains("format-version 4"))
  }

  test("snapshotId option time-travels to a named snapshot") {
    val root = tmp()
    val snapId = IcebergMeta.writeFixture(
      spark.range(0, 10).toDF("k"), root)
    val ds = spark.read.format("iceberg-meta")
      .option("snapshotId", snapId).load(root)
    assert(ds.count() === 10)
    intercept[IllegalArgumentException] {
      IcebergMeta.snapshot(root, Some(snapId + 1))
    }
  }

  test("append commits a new snapshot; prior snapshot stays readable") {
    val root = tmp()
    val df0 = spark.range(0, 40).toDF("k")
      .withColumn("v", col("k") * 2).repartitionByRange(2, col("k"))
    val snap0 = IcebergMeta.writeFixture(df0, root)
    val snap1 = IcebergMeta.append(
      spark.range(100, 120).toDF("k").withColumn("v", col("k") * 2)
        .coalesce(1), root)
    assert(snap1 !== snap0)
    // metadata advanced to v2 and the hint follows
    assert(IcebergMeta.latestMetadataVersion(root) === 2)
    val cur = spark.read.format("iceberg-meta").load(root)
    assert(cur.count() === 60)
    assert(cur.agg(sum("v")).as[Long].head() ===
      ((0 until 40) ++ (100 until 120)).map(_ * 2).sum)
    // time travel to the pre-append snapshot
    assert(spark.read.format("iceberg-meta")
      .option("snapshotId", snap0).load(root).count() === 40)
    // bounds skipping covers carried-forward AND appended manifests:
    // k>=100 lives only in the appended file
    val q = spark.read.format("iceberg-meta").load(root)
      .filter(col("k") >= 100)
    assert(q.count() === 20)
    val (kept, total) = indexOf(q).lastListing.get
    assert(total === 3 && kept === 1, s"expected 1/3 files, got $kept/$total")
  }

  test("append gates: schema mismatch, partitioned spec, racing commit") {
    val root = tmp()
    IcebergMeta.writeFixture(spark.range(0, 5).toDF("k"), root)
    val e1 = intercept[IllegalArgumentException] {
      IcebergMeta.append(spark.range(0, 3).toDF("wrong"), root)
    }
    assert(e1.getMessage.contains("schema mismatch"))
    // a racing writer already published v2 → ConcurrentCommitException
    Files.write(Paths.get(root, "metadata/v2.metadata.json"),
      "{}".getBytes(UTF_8))
    intercept[VersionedTable.ConcurrentCommitException] {
      IcebergMeta.append(spark.range(5, 8).toDF("k"), root)
    }
    Files.delete(Paths.get(root, "metadata/v2.metadata.json"))
    // a partitioned default spec with an IDENTITY transform is now
    // HONORED (round 8): the append splits per tuple and records
    // partition tuples — see the PARTITIONED tests below
    val meta = Paths.get(root, "metadata/v1.metadata.json")
    val patched = new String(Files.readAllBytes(meta), UTF_8).replace(
      """"partition-specs":[{"spec-id":0,"fields":[]}]""",
      """"partition-specs":[{"spec-id":0,"fields":[{"name":"k","transform":"identity","source-id":1,"field-id":1000}]}]""")
    Files.write(meta, patched.getBytes(UTF_8))
    val nBefore = IcebergMeta.snapshot(root).files.size
    IcebergMeta.append(spark.range(5, 8).toDF("k"), root)
    assert(spark.read.format("iceberg-meta").load(root).count() === 8L)
    // 3 appended rows → 3 single-key tuples → 3 new files
    assert(IcebergMeta.snapshot(root).files.size === nBefore + 3)
  }

  test("positional delete: MOR commit, bounds-targeted read, time travel") {
    val root = tmp() + "/t"
    val df0 = spark.range(0, 40).toDF("k")
      .withColumn("v", col("k") * 3).repartitionByRange(4, col("k"))
    val snap0 = IcebergMeta.writeFixture(df0, root)
    val dataBefore = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(Paths.get(root, "data"))
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    val snap1 = IcebergMeta.delete(spark, root, col("k") % 10 === 7)
    assert(snap1 !== snap0)
    // merge-on-read: every pre-delete data file still present, unrewritten
    import scala.jdk.CollectionConverters._
    val dataAfter = {
      val s = Files.list(Paths.get(root, "data"))
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    assert(dataBefore.subsetOf(dataAfter))
    assert((dataAfter -- dataBefore).forall(_.startsWith("delete-")))
    val cur = spark.read.format("iceberg-meta").load(root)
    assert(cur.count() === 36)
    assert(cur.filter(col("k") % 10 === 7).count() === 0)
    assert(cur.agg(sum("v")).as[Long].head() ===
      (0 until 40).filter(_ % 10 != 7).map(_ * 3).sum)
    // pre-delete snapshot still reads all 40
    assert(spark.read.format("iceberg-meta")
      .option("snapshotId", snap0).load(root).count() === 40)
    // second delete composes (already-deleted rows not re-recorded)
    IcebergMeta.delete(spark, root, col("k") < 3)
    assert(spark.read.format("iceberg-meta").load(root).count() === 33)
    // deleting nothing is a no-op commit (same snapshot id back)
    val before = IcebergMeta.latestMetadataVersion(root)
    IcebergMeta.delete(spark, root, col("k") > 9999)
    assert(IcebergMeta.latestMetadataVersion(root) === before)
  }

  test("positional delete applies only to in-bounds files; appends unaffected") {
    val root = tmp() + "/t"
    IcebergMeta.writeFixture(
      spark.range(0, 30).toDF("k").repartitionByRange(3, col("k")), root)
    IcebergMeta.delete(spark, root, col("k") === 5)
    // an append AFTER the delete is untouched by it
    IcebergMeta.append(spark.range(100, 110).toDF("k").coalesce(1), root)
    val cur = spark.read.format("iceberg-meta").load(root)
    assert(cur.count() === 39)
    assert(cur.filter(col("k") >= 100).count() === 10)
    // a filtered read through the rewrite still pins the right rows
    assert(cur.filter(col("k") < 10).count() === 9)
  }

  test("refusal gates: equality deletes; raw read without extensions") {
    val root = tmp() + "/t"
    IcebergMeta.writeFixture(spark.range(0, 8).toDF("k"), root)
    IcebergMeta.delete(spark, root, col("k") === 1)
    // snapshot() surfaces the delete; a FileIndex listing outside the
    // rewrite refuses loudly instead of resurrecting the row
    val snap = IcebergMeta.snapshot(root)
    assert(snap.deletes.size === 1)
    val idx = new IcebergMetaFileIndex(spark, snap)
    val e = intercept[IllegalStateException] {
      idx.listFiles(Nil, Nil)
    }
    assert(e.getMessage.contains("row-level delete"))
    // equality deletes are SUPPORTED since round 8 — their read path,
    // seq gating, and refusals live in IcebergEqDeleteSpec
  }

  test("SQL DELETE FROM an iceberg-meta catalog table") {
    val root = tmp() + "/t"
    IcebergMeta.writeFixture(
      spark.range(0, 20).toDF("k").repartitionByRange(2, col("k")), root)
    spark.sql(s"CREATE TABLE ice_del USING `iceberg-meta` OPTIONS (path '$root')")
    try {
      spark.sql("DELETE FROM ice_del WHERE k >= 15")
      assert(spark.sql("SELECT count(*) AS c FROM ice_del")
        .as[Long].head() === 15L)
      // null-semantics: WHERE NULL keeps rows
      spark.sql("DELETE FROM ice_del WHERE if(k = 3, NULL, FALSE)")
      assert(spark.sql("SELECT count(*) AS c FROM ice_del")
        .as[Long].head() === 15L)
      // pinned relation refuses DML
      val e = intercept[Exception] {
        spark.sql(
          "DELETE FROM ice_del VERSION AS OF 1 WHERE k = 1")
      }
      assert(e.getMessage.toLowerCase.contains("pinned") ||
        e.getMessage.toLowerCase.contains("immutable") ||
        e.getMessage.toLowerCase.contains("syntax"))
    } finally spark.sql("DROP TABLE IF EXISTS ice_del")
  }

  test("df.write.format(iceberg-meta): create, append, replace-all overwrite") {
    val root = tmp() + "/t"
    spark.range(0, 10).toDF("k").write.format("iceberg-meta").save(root)
    spark.range(10, 15).toDF("k").write.format("iceberg-meta")
      .mode("append").save(root)
    assert(spark.read.format("iceberg-meta").load(root).count() === 15)
    intercept[IllegalStateException] {
      spark.range(0, 1).toDF("k").write.format("iceberg-meta").save(root)
    }
    // overwrite REPLACES the whole table in one snapshot; the prior
    // state stays time-travelable
    val preSnap = IcebergMeta.snapshot(root).snapshotId
    spark.range(100, 103).toDF("k").write.format("iceberg-meta")
      .mode("overwrite").save(root)
    assert(spark.read.format("iceberg-meta").load(root)
      .orderBy("k").as[Long].collect().toSeq === Seq(100L, 101L, 102L))
    assert(spark.read.format("iceberg-meta")
      .option("snapshotId", preSnap).load(root).count() === 15)
    // schema mismatch refuses
    intercept[IllegalArgumentException] {
      spark.range(0, 1).toDF("wrong").write.format("iceberg-meta")
        .mode("overwrite").save(root)
    }
  }

  test("PARTITIONED identity spec: create, append, prune, source cols in payload") {
    val root = tmp() + "/t"
    val df = spark.range(0, 40).toDF("k")
      .withColumn("p", col("k") % 4)
      .withColumn("v", col("k") * 10)
    df.write.format("iceberg-meta").option("partitionBy", "p").save(root)
    // one file per tuple, each entry carrying its partition record
    val snap = IcebergMeta.snapshot(root)
    assert(snap.files.size === 4)
    // identity source columns stay IN the data files — a plain
    // parquet read of any one file sees (k, p, v)
    val one = spark.read.parquet(snap.files.head.path)
    assert(one.columns.toSeq === Seq("k", "p", "v"))
    assert(one.select(countDistinct(col("p"))).as[Long].head() === 1L)
    // full + filtered reads; partition-column filter prunes to 1 of 4
    val ds = spark.read.format("iceberg-meta").load(root)
    assert(ds.count() === 40)
    val q = spark.read.format("iceberg-meta").load(root)
      .filter(col("p") === 2)
    assert(q.agg(sum("v")).as[Long].head() ===
      (0L until 40L).filter(_ % 4 == 2).map(_ * 10).sum)
    val (kept, total) = indexOf(q).lastListing.get
    assert(total === 4 && kept === 1, s"expected 1/4 files, got $kept/$total")
    // append honors the table's spec: new files split per tuple
    IcebergMeta.append(spark.range(40, 48).toDF("k")
      .withColumn("p", col("k") % 2) // only tuples 0 and 1
      .withColumn("v", col("k") * 10), root)
    val snap2 = IcebergMeta.snapshot(root)
    assert(snap2.files.size === 6)
    assert(spark.read.format("iceberg-meta").load(root).count() === 48)
    // a string partition column works too (null tuple included)
    val root2 = tmp() + "/t2"
    spark.range(0, 6).toDF("k")
      .withColumn("c", when(col("k") < 2, lit(null))
        .otherwise(concat(lit("c"), col("k") % 2)))
      .write.format("iceberg-meta").option("partitionBy", "c").save(root2)
    val ds2 = spark.read.format("iceberg-meta").load(root2)
    assert(ds2.count() === 6)
    assert(ds2.filter(col("c").isNull).count() === 2)
    assert(IcebergMeta.snapshot(root2).files.size === 3)
  }

  test("PARTITIONED COW: UPDATE/MERGE rewrite per tuple, compact packs per tuple") {
    val root = tmp() + "/t"
    val df = spark.range(0, 40).toDF("k")
      .withColumn("p", col("k") % 4)
      .withColumn("v", col("k") * 10)
    df.write.format("iceberg-meta").option("partitionBy", "p").save(root)
    IcebergMeta.append(spark.range(40, 80).toDF("k")
      .withColumn("p", col("k") % 4)
      .withColumn("v", col("k") * 10), root)
    assert(IcebergMeta.snapshot(root).files.size === 8) // 2 per tuple
    spark.sql(s"CREATE TABLE ipt_cow USING `iceberg-meta` OPTIONS (path '$root')")
    try {
      // SQL UPDATE: only files whose bounds may hold p=1 rewrite
      val before = IcebergMeta.snapshot(root).files.map(_.recordedPath).toSet
      spark.sql("UPDATE ipt_cow SET v = -1 WHERE p = 1 AND k < 20")
      val after = IcebergMeta.snapshot(root)
      assert(after.files.size === 8) // 2 carried away, 1 rewritten + 1 kept... size stays plausible
      // untouched tuples carried BY REFERENCE with partition intact
      assert(after.files.map(_.recordedPath).toSet
        .intersect(before).size >= 6)
      assert(spark.sql("SELECT count(*) FROM ipt_cow WHERE v = -1")
        .as[Long].head() === 5L) // k in {1,5,9,13,17}
      // conditional MERGE on the partitioned table
      spark.range(0, 10).select((col("id") * 8).as("mk"),
        lit(7777L).as("mv")).createOrReplaceTempView("ipt_cow_src")
      spark.sql(
        """MERGE INTO ipt_cow t USING ipt_cow_src s ON t.k = s.mk
          |WHEN MATCHED THEN UPDATE SET v = s.mv
          |WHEN NOT MATCHED THEN INSERT (k, p, v) VALUES (s.mk, s.mk % 4, s.mv)
          |""".stripMargin)
      assert(spark.sql("SELECT count(*) FROM ipt_cow WHERE v = 7777")
        .as[Long].head() === 10L) // k=0,8,...,72 total 10, all ≤ 79 present
      // compact: one file per tuple, reads identical, pruning exact
      IcebergMeta.compact(spark, root)
      val snap = IcebergMeta.snapshot(root)
      assert(snap.files.size === 4)
      assert(spark.sql("SELECT count(*) FROM ipt_cow").as[Long]
        .head() === 80L)
      val q = spark.read.format("iceberg-meta").load(root)
        .filter(col("p") === 3)
      assert(q.count() === 20L)
      val (kept, total) = indexOf(q).lastListing.get
      assert(total === 4 && kept === 1)
    } finally spark.sql("DROP TABLE IF EXISTS ipt_cow")
  }

  test("TRANSFORM partitioning: bucket/truncate/day write, append, compact") {
    val root = tmp() + "/t"
    val df = spark.range(0, 32).toDF("k")
      .withColumn("s", concat(lit("name"), col("k") % 6))
      .withColumn("d", date_add(to_date(lit("2024-01-15")), (col("k") % 3).cast("int")))
      .withColumn("v", col("k") * 10)
    df.write.format("iceberg-meta")
      .option("partitionBy", "bucket(4,k), day(d)").save(root)
    val snap = IcebergMeta.snapshot(root)
    // tuples = (bucket of k) x (day of d) actually present; reads exact
    val ds = spark.read.format("iceberg-meta").load(root)
    assert(ds.count() === 32L)
    assert(ds.agg(sum("v")).as[Long].head() === (0L until 32L).map(_ * 10).sum)
    // the metadata records the spec's transform strings
    val metaDoc = new String(Files.readAllBytes(Paths.get(root,
      "metadata", "v1.metadata.json")), UTF_8)
    assert(metaDoc.contains("\"transform\":\"bucket[4]\""))
    assert(metaDoc.contains("\"transform\":\"day\""))
    assert(metaDoc.contains("\"name\":\"k_bucket\""))
    assert(metaDoc.contains("\"name\":\"d_day\""))
    // append follows the transform spec from the table's own metadata
    IcebergMeta.append(spark.range(32, 40).toDF("k")
      .withColumn("s", concat(lit("name"), col("k") % 6))
      .withColumn("d", to_date(lit("2024-01-15")))
      .withColumn("v", col("k") * 10), root)
    assert(spark.read.format("iceberg-meta").load(root).count() === 40L)
    // COW UPDATE and compaction work over the transform layout
    spark.sql(s"CREATE TABLE itp_t USING `iceberg-meta` OPTIONS (path '$root')")
    try {
      spark.sql("UPDATE itp_t SET v = -5 WHERE k = 7")
      assert(spark.sql("SELECT v FROM itp_t WHERE k = 7").as[Long]
        .head() === -5L)
      IcebergMeta.compact(spark, root)
      assert(spark.sql("SELECT count(*) FROM itp_t").as[Long]
        .head() === 40L)
      assert(spark.sql("SELECT sum(v) FROM itp_t").as[Long].head() ===
        (0L until 40L).map(k => if (k == 7) -5L else k * 10).sum)
    } finally spark.sql("DROP TABLE IF EXISTS itp_t")
    // a truncate(2,s) string layout round-trips too
    val root2 = tmp() + "/t2"
    spark.range(0, 12).toDF("k")
      .withColumn("s", concat(lit("ab"), col("k") % 2, lit("xyz")))
      .write.format("iceberg-meta").option("partitionBy", "truncate(3,s)")
      .save(root2)
    assert(IcebergMeta.snapshot(root2).files.size === 2) // ab0|ab1 prefixes
    assert(spark.read.format("iceberg-meta").load(root2).count() === 12L)
  }

  test("HOUR and VOID transforms: spec vector, layout round trip") {
    val root = tmp() + "/t"
    // 1512151200 s = 2017-12-01T18:00:00Z — the spec's hour vector
    // (420042 hours from the epoch); half the rows one hour later
    val df = spark.range(0, 12).toDF("k")
      .withColumn("ts", timestamp_seconds(
        lit(1512151200L) + (col("k") % 2) * 3600))
      .withColumn("v", col("k") * 2)
    df.write.format("iceberg-meta")
      .option("partitionBy", "hour(ts), void(k)").save(root)
    val metaDoc = new String(Files.readAllBytes(Paths.get(root,
      "metadata", "v1.metadata.json")), UTF_8)
    assert(metaDoc.contains("\"transform\":\"hour\""))
    assert(metaDoc.contains("\"transform\":\"void\""))
    val snap = IcebergMeta.snapshot(root)
    assert(snap.files.size === 2) // one file per hour tuple
    assert(snap.files.flatMap(_.partitionTuple)
      .collect { case ("ts_hour", v) => v }.toSet ===
      Set(420042, 420043))
    // void: always null, under the SOURCE type
    assert(snap.files.flatMap(_.partitionTuple)
      .collect { case ("k_null", v) => v }.toSet === Set(null))
    val ds = spark.read.format("iceberg-meta").load(root)
    assert(ds.count() === 12L)
    assert(ds.agg(sum("v")).as[Long].head() ===
      (0L until 12L).map(_ * 2).sum)
    // append follows the hour spec from the table's own metadata;
    // per-tuple positional deletes compose on the transform layout
    IcebergMeta.append(df.filter(col("k") < 2), root)
    assert(spark.read.format("iceberg-meta").load(root).count() === 14L)
    // an hour-range predicate prunes files by the per-file TIMESTAMP
    // bounds (encoded as the spec's epoch-micros longs — the same
    // raw value a Catalyst timestamp literal carries)
    val q = spark.read.format("iceberg-meta").load(root)
      .filter(col("ts") < timestamp_seconds(lit(1512151200L + 1800)))
    assert(q.count() === 7L) // the even-k rows (6 + 1 appended)
    val (kept, total) = q.queryExecution.optimizedPlan.collect {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          r: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
          _, _, _, _) =>
        r.location.asInstanceOf[IcebergMetaFileIndex]
    }.head.lastListing.get
    assert(total === 4 && kept === 2, s"hour pruning: $kept/$total")
    IcebergMeta.delete(spark, root, col("k") === 5)
    val after = spark.read.format("iceberg-meta").load(root)
    assert(after.count() === 13L)
    assert(after.filter(col("k") === 5).count() === 0L)
  }

  test("PARTITIONED spec: per-tuple positional deletes, global equality deletes") {
    val root = tmp() + "/t"
    spark.range(0, 8).toDF("k").withColumn("p", col("k") % 2)
      .write.format("iceberg-meta").option("partitionBy", "p").save(root)
    // POSITIONAL delete on a partitioned spec (round 9): one delete
    // file per TARGET TUPLE, each delete-manifest entry restating the
    // tuple (r102) — k=1 (p=1) and k=2 (p=0) live in different tuples
    val preFiles = IcebergMeta.snapshot(root).files.map(_.path).toSet
    IcebergMeta.delete(spark, root, col("k") === 1 || col("k") === 2)
    val snapPd = IcebergMeta.snapshot(root)
    assert(snapPd.deletes.size === 2,
      "expected one positional delete file per touched tuple")
    assert(snapPd.files.map(_.path).toSet === preFiles,
      "MOR: no data file rewritten")
    assert(spark.read.format("iceberg-meta").load(root)
      .orderBy("k").select("k").as[Long].collect().toSeq ===
      Seq(0L, 3L, 4L, 5L, 6L, 7L))
    // EQUALITY deletes are GLOBAL — they ride an unpartitioned spec
    // added to the document and just work
    IcebergMeta.deleteEquality(spark, root, Seq(3L).toDF("k"))
    assert(spark.read.format("iceberg-meta").load(root)
      .orderBy("k").select("k").as[Long].collect().toSeq ===
      Seq(0L, 4L, 5L, 6L, 7L))
    val metaDoc = new String(Files.readAllBytes(Paths.get(root,
      "metadata", s"v${IcebergMeta.latestMetadataVersion(root)}.metadata.json")), UTF_8)
    assert(metaDoc.contains(""""spec-id" : 1""") ||
      metaDoc.contains(""""spec-id":1""")) // the global-delete spec
    // MOR upsert on the partitioned table: delete global, images
    // split per tuple
    IcebergMeta.upsertKeyed(spark, root,
      Seq((0L, 0L), (100L, 0L)).toDF("k", "p")
        .select(col("k"), (col("k") % 2).as("p")), "k")
    val after = spark.read.format("iceberg-meta").load(root)
    assert(after.count() === 6L) // 5 visible + k=0 replaced + k=100 new
    assert(after.filter(col("k") === 100).count() === 1L)
    // a transform this writer cannot evaluate refuses the append
    // loudly (bucket/truncate/temporal/hour/void ARE evaluated — see
    // the TRANSFORM partitioning tests)
    val v = IcebergMeta.latestMetadataVersion(root)
    val metaPath = Paths.get(root, "metadata", s"v$v.metadata.json")
    val doc = new String(Files.readAllBytes(metaPath), UTF_8)
      .replace("\"transform\":\"identity\"", "\"transform\":\"zorder\"")
      .replace("\"transform\" : \"identity\"", "\"transform\" : \"zorder\"")
    Files.write(metaPath, doc.getBytes(UTF_8))
    val e3 = intercept[UnsupportedOperationException] {
      IcebergMeta.append(spark.range(8, 10).toDF("k")
        .withColumn("p", col("k") % 2), root)
    }
    assert(e3.getMessage.contains("zorder"))
  }

  test("SPEC EVOLUTION: append old → evolve → append new → delete across both → MOR read") {
    val root = tmp() + "/t"
    // v1: unpartitioned files under spec 0
    spark.range(0, 8).toDF("k").withColumn("g", col("k") % 4)
      .write.format("iceberg-meta").save(root)
    // evolve to bucket(2, g): metadata-only, default-spec-id bumps,
    // field ids continue from last-partition-id (never reused)
    val sid = IcebergMeta.evolveSpec(root, Seq("g" -> "bucket[2]"))
    assert(sid === 1)
    // append lays out under the NEW spec; old files keep empty tuples
    IcebergMeta.append(
      spark.range(8, 16).toDF("k").withColumn("g", col("k") % 4), root)
    val snap = IcebergMeta.snapshot(root)
    assert(snap.files.exists(f => f.specId === 0 &&
      f.partitionTuple.isEmpty))
    assert(snap.files.exists(f => f.specId === 1 &&
      f.partitionTuple.map(_._1) === Seq("g_bucket")))
    assert(spark.read.format("iceberg-meta").load(root).count() === 16)
    // positional delete touching files of BOTH specs: delete files
    // group per (spec, tuple), delete MANIFESTS group per spec —
    // k=1 lives in an old-spec file, k=9/k=10 in new-spec tuples
    IcebergMeta.delete(spark, root,
      col("k") === 1 || col("k") === 9 || col("k") === 10)
    val after = spark.read.format("iceberg-meta").load(root)
      .orderBy("k").select("k").as[Long].collect().toSeq
    assert(after === (0L until 16L).filterNot(Set(1L, 9L, 10L)))
    // no data file was rewritten (MOR), and the delete entries carry
    // per-spec scoping readable through the same replay
    val snap2 = IcebergMeta.snapshot(root)
    assert(snap2.files.map(_.path).toSet ===
      snap.files.map(_.path).toSet)
    assert(snap2.deletes.nonEmpty)
    // evolving BACK to unpartitioned works and appends under it
    assert(IcebergMeta.evolveSpec(root, Nil) === 2)
    IcebergMeta.append(
      spark.range(16, 18).toDF("k").withColumn("g", col("k") % 4), root)
    assert(spark.read.format("iceberg-meta").load(root).count() === 15)
  }

  test("REFS: tags/branches round-trip, refAsOf reads, main advances, expire pins") {
    val root = tmp() + "/t"
    spark.range(0, 4).toDF("k").write.format("iceberg-meta").save(root)
    val snap1 = IcebergMeta.snapshot(root).snapshotId
    // the fixture seeds refs.main as a branch at the current snapshot
    assert(IcebergMeta.refs(root)("main") === ((snap1, "branch")))
    IcebergMeta.setRef(root, "v1.0", "tag")
    IcebergMeta.append(spark.range(4, 8).toDF("k"), root)
    val snap2 = IcebergMeta.snapshot(root).snapshotId
    // main ADVANCED with the commit; the tag stayed pinned
    assert(IcebergMeta.refs(root)("main") === ((snap2, "branch")))
    assert(IcebergMeta.refs(root)("v1.0") === ((snap1, "tag")))
    // refAsOf time-travels by NAME
    assert(spark.read.format("iceberg-meta").option("refAsOf", "v1.0")
      .load(root).count() === 4)
    assert(spark.read.format("iceberg-meta").option("refAsOf", "main")
      .load(root).count() === 8)
    val eNone = intercept[IllegalArgumentException] {
      spark.read.format("iceberg-meta").option("refAsOf", "nope")
        .load(root).count()
    }
    assert(eNone.getMessage.contains("nope"))
    // expireSnapshots PINS ref'd snapshots: retainLast=1 +
    // olderThan=now would drop snap1, but the tag holds it
    val r1 = IcebergMeta.expireSnapshots(root,
      System.currentTimeMillis() + 1000L, retainLast = 1)
    assert(r1.expiredSnapshots === 0)
    assert(spark.read.format("iceberg-meta").option("refAsOf", "v1.0")
      .load(root).count() === 4)
    // dropping the tag releases it; main itself cannot drop
    intercept[IllegalArgumentException] {
      IcebergMeta.dropRef(root, "main")
    }
    IcebergMeta.dropRef(root, "v1.0")
    val r2 = IcebergMeta.expireSnapshots(root,
      System.currentTimeMillis() + 1000L, retainLast = 1)
    assert(r2.expiredSnapshots === 1)
    intercept[IllegalArgumentException] {
      IcebergMeta.snapshot(root, Some(snap1))
    }
    // a ref to an unknown snapshot refuses
    intercept[IllegalArgumentException] {
      IcebergMeta.setRef(root, "bad", "tag", Some(123456L))
    }
  }

  test("BRANCH WAP: stage on a branch, head unmoved, fast-forward publishes") {
    val root = tmp() + "/t"
    spark.range(0, 4).toDF("k").write.format("iceberg-meta").save(root)
    val head1 = IcebergMeta.snapshot(root).snapshotId
    // stage on the audit branch (created off the head on first write):
    // the table head does NOT move, the branch read sees base+staged
    IcebergMeta.append(spark.range(4, 8).toDF("k"), root,
      toBranch = Some("audit"))
    assert(spark.read.format("iceberg-meta").load(root).count() === 4)
    assert(IcebergMeta.snapshot(root).snapshotId === head1)
    assert(spark.read.format("iceberg-meta").option("refAsOf", "audit")
      .load(root).orderBy("k").as[Long].collect().toSeq ===
      (0L until 8L))
    // a second branch append stacks on the BRANCH head
    IcebergMeta.append(spark.range(8, 10).toDF("k"), root,
      toBranch = Some("audit"))
    assert(spark.read.format("iceberg-meta").option("refAsOf", "audit")
      .load(root).count() === 10)
    assert(spark.read.format("iceberg-meta").load(root).count() === 4)
    // tags are immutable — committing to one refuses
    IcebergMeta.setRef(root, "pin", "tag")
    val eTag = intercept[IllegalArgumentException] {
      IcebergMeta.append(spark.range(99, 100).toDF("k"), root,
        toBranch = Some("pin"))
    }
    assert(eTag.getMessage.contains("TAG"))
    // publish: fast-forward main onto the branch — head moves in one
    // metadata-only commit
    IcebergMeta.fastForward(root, "main", "audit")
    assert(spark.read.format("iceberg-meta").load(root)
      .orderBy("k").as[Long].collect().toSeq === (0L until 10L))
    // a DIVERGED fast-forward refuses (nothing may be lost)
    IcebergMeta.append(spark.range(10, 12).toDF("k"), root,
      toBranch = Some("audit2"))
    IcebergMeta.append(spark.range(20, 22).toDF("k"), root) // main diverges
    val eFf = intercept[IllegalArgumentException] {
      IcebergMeta.fastForward(root, "main", "audit2")
    }
    assert(eFf.getMessage.contains("ancestor"))
    // unknown source ref refuses
    intercept[IllegalArgumentException] {
      IcebergMeta.fastForward(root, "main", "nope")
    }
    // fast-forwarding a TAG refuses — tags are immutable, and
    // Iceberg's fast_forward moves branches only
    val eTagFf = intercept[IllegalArgumentException] {
      IcebergMeta.fastForward(root, "pin", "audit2")
    }
    assert(eTagFf.getMessage.contains("tag"))
    assert(IcebergMeta.refs(root)("pin")._2 === "tag")
  }

  test("metadata tables: iceberg_snapshots and iceberg_files TVFs") {
    val root = tmp()
    IcebergMeta.writeFixture(
      spark.range(0, 10).toDF("k").coalesce(1), root, formatVersion = 3)
    IcebergMeta.append(spark.range(10, 14).toDF("k").coalesce(1), root)
    IcebergMeta.delete(spark, root, col("k") === 3) // v3 → a DV
    // snapshots: one row per commit, ascending seq, with lineage marks
    val snaps = spark.sql(
      s"SELECT * FROM iceberg_snapshots('$root')").collect()
    assert(snaps.map(_.getAs[Long]("sequence_number")).toSeq ===
      Seq(1L, 2L, 3L))
    assert(snaps.map(_.getAs[String]("operation")).toSeq ===
      Seq("append", "append", "delete"))
    assert(snaps.head.isNullAt(snaps.head.fieldIndex("parent_id")))
    assert(snaps(1).getAs[Long]("parent_id") ===
      snaps.head.getAs[Long]("snapshot_id"))
    assert(snaps.map(_.getAs[Long]("first_row_id")).toSeq ===
      Seq(0L, 10L, 14L))
    // files: data files with lineage + the DV with its target
    val files = spark.sql(
      s"SELECT * FROM iceberg_files('$root')").collect()
    val data = files.filter(r => r.getAs[Int]("content") == 0 &&
      r.getAs[String]("file_format") == "parquet")
    assert(data.map(r => (r.getAs[Long]("record_count"),
      r.getAs[Long]("first_row_id"))).toSet ===
      Set((10L, 0L), (4L, 10L)))
    val dvs = files.filter(_.getAs[String]("file_format") == "puffin")
    assert(dvs.length === 1)
    assert(dvs.head.getAs[Long]("record_count") === 1L) // cardinality
    assert(dvs.head.getAs[String]("referenced_data_file") != null)
    // time travel: the first snapshot lists one data file, no deletes
    val first = snaps.head.getAs[Long]("snapshot_id")
    val atFirst = spark.sql(
      s"SELECT * FROM iceberg_files('$root', $first)").collect()
    assert(atFirst.length === 1 &&
      atFirst.head.getAs[Long]("record_count") === 10L)
    // a v2 lifecycle surfaces equality deletes as content=2
    val v2 = tmp()
    IcebergMeta.writeFixture(spark.range(0, 6).toDF("k"), v2)
    IcebergMeta.deleteEquality(spark, v2, Seq(2L).toDF("k"))
    val v2files = spark.sql(s"SELECT * FROM iceberg_files('$v2')")
      .collect()
    assert(v2files.count(_.getAs[Int]("content") == 2) === 1)
    assert(spark.sql(s"SELECT operation FROM iceberg_snapshots('$v2') " +
      "ORDER BY sequence_number").collect().map(_.getString(0)).toSeq ===
      Seq("append", "delete"))
    // refs relation: main branch + a tag, straight from the document
    IcebergMeta.setRef(v2, "audit", "tag")
    assert(spark.sql(s"SELECT name, type FROM iceberg_refs('$v2') " +
      "ORDER BY name").collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq === Seq(("audit", "tag"), ("main", "branch")))
  }

  test("TIMESTAMP AS OF resolves the snapshot current at that instant") {
    val root = tmp()
    IcebergMeta.writeFixture(spark.range(0, 5).toDF("k").coalesce(1), root)
    Thread.sleep(5) // distinct millisecond stamps
    IcebergMeta.append(spark.range(5, 8).toDF("k").coalesce(1), root)
    val ts = IcebergMeta.snapshotsFrame(spark, root)
      .orderBy("sequence_number").collect()
      .map(_.getAs[java.sql.Timestamp]("committed_at").getTime)
    assert(ts.length === 2 && ts(0) < ts(1))
    def countAt(t: Long): Long = spark.read.format("iceberg-meta")
      .option("timestampAsOf", t.toString).load(root).count()
    assert(countAt(ts(0)) === 5)
    assert(countAt(ts(1) + 1) === 8)
    intercept[IllegalArgumentException] { countAt(ts(0) - 1) }
    // SQL surface through the catalog (timezone-proof literal)
    spark.sql(s"CREATE TABLE ice_tt USING `iceberg-meta` LOCATION '$root'")
    try assert(spark.sql("SELECT count(*) FROM ice_tt TIMESTAMP AS OF " +
      s"timestamp_millis(${ts(0)})").as[Long].head() === 5)
    finally spark.sql("DROP TABLE ice_tt")
    // a rollback's snapshot-log entry wins at its own instant: move
    // the pointer back, then resolve "now" to the rolled-to snapshot
    val first = IcebergMeta.snapshotLog(root).head.snapshotId
    Thread.sleep(5)
    IcebergMeta.rollbackTo(root, first)
    assert(countAt(System.currentTimeMillis()) === 5)
  }

  test("metadata-log maintenance + delete-after-commit bound the metadata dir") {
    import scala.jdk.CollectionConverters._
    val root = tmp()
    def versionsOnDisk(): Set[Int] = {
      val s = Files.list(Paths.get(root, "metadata"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.matches("v\\d+\\.metadata\\.json") =>
          n.stripPrefix("v").stripSuffix(".metadata.json").toInt }
        .toSet
      finally s.close()
    }
    def currentDoc(): com.fasterxml.jackson.databind.JsonNode =
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        Files.readAllBytes(Paths.get(root,
          s"metadata/v${IcebergMeta.latestMetadataVersion(root)}.metadata.json")))
    IcebergMeta.writeFixture(
      spark.range(0, 8).toDF("k").coalesce(1), root)        // v1
    val firstSnap = IcebergMeta.snapshot(root).snapshotId
    IcebergMeta.setProperties(root, Map(                    // v2
      "write.metadata.previous-versions-max" -> "3",
      "write.metadata.delete-after-commit.enabled" -> "true"))
    (1 to 6).foreach(i => IcebergMeta.append(               // v3..v8
      spark.range(8 * i, 8 * i + 8).toDF("k").coalesce(1), root))
    // the log holds exactly the 3 most recent priors, in order
    val log = currentDoc().get("metadata-log").elements().asScala
      .map(_.get("metadata-file").asText()).toSeq
    assert(log === Seq("metadata/v5.metadata.json",
      "metadata/v6.metadata.json", "metadata/v7.metadata.json"))
    // superseded documents past the window DELETED after commit —
    // the metadata dir is bounded to O(previous-versions-max)
    assert(versionsOnDisk() === Set(5, 6, 7, 8))
    // snapshots live in the CURRENT document: reads and snapshot
    // time travel are untouched by metadata-file cleanup
    assert(spark.read.format("iceberg-meta").load(root).count() === 56)
    assert(spark.read.format("iceberg-meta")
      .option("snapshotId", firstSnap.toString).load(root)
      .count() === 8)
    // without delete-after-commit the files stay (log still trims)
    IcebergMeta.setProperties(root, Map(
      "write.metadata.delete-after-commit.enabled" -> "false")) // v9
    IcebergMeta.append(spark.range(56, 60).toDF("k").coalesce(1),
      root)                                                     // v10
    assert(versionsOnDisk().contains(6)) // nothing swept anymore
    assert(currentDoc().get("metadata-log").size() === 3)
  }

  test("rewrite_manifests: tree collapses, rows identical, deletes and travel preserved") {
    val root = tmp()
    IcebergMeta.writeFixture(
      spark.range(0, 16).toDF("k").coalesce(1), root)
    (1 to 3).foreach(i => IcebergMeta.append(
      spark.range(16 * i, 16 * i + 16).toDF("k").coalesce(1), root))
    // v2 positional delete rides a DELETE manifest — rewrite must
    // carry it verbatim AND keep it applying (seq preservation: the
    // restated data entries must stay <= the delete's seq)
    IcebergMeta.delete(spark, root, col("k") % 8 === 1)
    val preSnap = IcebergMeta.snapshot(root).snapshotId
    val appendSnap = IcebergMeta.snapshotLog(root).apply(2).snapshotId
    def manifests(): Seq[org.apache.spark.sql.Row] =
      IcebergMeta.manifestsFrame(spark, root).collect().toSeq
    assert(manifests().count(_.getInt(2) == 0) === 4) // data manifests
    assert(manifests().count(_.getInt(2) == 1) === 1) // delete manifest
    val expect = (0L until 64L).filterNot(_ % 8 == 1)
    def rows(): Seq[Long] = spark.read.format("iceberg-meta")
      .load(root).select("k").as[Long].collect().toSeq.sorted
    assert(rows() === expect)
    // the metadata-only commit (through the SQL statement)
    val rewritten = spark.sql(
      s"GRAFT REWRITE MANIFESTS ICEBERG '$root'")
      .as[Long].head()
    assert(rewritten !== preSnap)
    val post = manifests()
    assert(post.count(_.getInt(2) == 0) === 1,
      s"expected 1 data manifest, got $post")
    assert(post.count(_.getInt(2) == 1) === 1)
    // restated as EXISTING: zero added files, all 4 files existing
    val dataRow = post.find(_.getInt(2) == 0).get
    assert(dataRow.getAs[Int]("added_data_files_count") === 0)
    assert(dataRow.getAs[Int]("existing_data_files_count") === 4)
    // min_sequence_number preserved from the oldest entry (1), so
    // older-seq-scoped deletes still prune correctly
    assert(dataRow.getAs[Long]("min_sequence_number") === 1L)
    // IDENTICAL content — the deletes still hide their rows
    assert(rows() === expect)
    // time travel to PRE-rewrite snapshots reads their own lists
    assert(spark.read.format("iceberg-meta")
      .option("snapshotId", preSnap.toString).load(root)
      .select("k").as[Long].collect().toSeq.sorted === expect)
    assert(spark.read.format("iceberg-meta")
      .option("snapshotId", appendSnap.toString).load(root)
      .count() === 48) // 3 appends in, delete not yet committed
    // writes continue off the rewritten list
    IcebergMeta.append(spark.range(64, 70).toDF("k").coalesce(1), root)
    assert(rows() === expect ++ (64L until 70L))
    assert(manifests().count(_.getInt(2) == 0) === 2)
    // no-op when already at the target: same snapshot id back
    val cur = IcebergMeta.snapshot(root).snapshotId
    assert(IcebergMeta.rewriteManifests(root, targetManifests = 2) === cur)
    // TARGET n splits the clustered entry list into n manifests
    IcebergMeta.append(spark.range(70, 76).toDF("k").coalesce(1), root)
    assert(manifests().count(_.getInt(2) == 0) === 3)
    IcebergMeta.rewriteManifests(root, targetManifests = 2)
    assert(manifests().count(_.getInt(2) == 0) === 2)
    assert(rows() === expect ++ (64L until 76L))
  }

  test("rewrite_manifests: many manifests, partitioned specs, distributed restating") {
    val root = tmp()
    // 24 appends → 24 single-file manifests on an identity-partitioned
    // table: the restating runs as a Spark job (driver holds only the
    // manifest list), clustered by partition tuple then path
    IcebergMeta.writeFixture(
      spark.range(0, 8).toDF("k")
        .withColumn("p", (col("k") % 4).cast("int")), root,
      partitionBy = Seq("p"))
    (1 to 23).foreach(i => IcebergMeta.append(
      spark.range(8L * i, 8L * i + 8).toDF("k")
        .withColumn("p", (col("k") % 4).cast("int")).coalesce(1), root))
    def dataManifests(): Int = IcebergMeta.manifestsFrame(spark, root)
      .collect().count(_.getInt(2) == 0)
    assert(dataManifests() >= 24)
    def rows(): Seq[Long] = spark.read.format("iceberg-meta")
      .load(root).select("k").as[Long].collect().toSeq.sorted
    val expect = 0L until 192L
    assert(rows() === expect)
    IcebergMeta.rewriteManifests(root, targetManifests = 3)
    assert(dataManifests() === 3)
    assert(rows() === expect)
    // partition pruning still works off the restated manifests'
    // partition tuples
    assert(spark.read.format("iceberg-meta").load(root)
      .where(col("p") === 2).count() === 48)
    // collapse to ONE — the single-output-manifest extreme streams
    // through one task
    IcebergMeta.rewriteManifests(root, targetManifests = 1)
    assert(dataManifests() === 1)
    assert(rows() === expect)
  }

  test("remove_orphan_files: lost-race orphans reclaimed, young and referenced kept") {
    val root = tmp()
    IcebergMeta.writeFixture(
      spark.range(0, 16).toDF("k").coalesce(1), root)
    IcebergMeta.append(spark.range(16, 24).toDF("k").coalesce(1), root)
    IcebergMeta.delete(spark, root, col("k") % 8 === 3)
    IcebergMeta.writeStatistics(spark, root, exact = true)
    def rows(): Seq[Long] = spark.read.format("iceberg-meta")
      .load(root).select("k").as[Long].collect().toSeq.sorted
    val expect = (0L until 24L).filterNot(_ % 8 == 3)
    assert(rows() === expect)
    // plant the LOST-RACE residue: a staged data file and a staged
    // manifest whose metadata CAS lost and was never retried — no
    // snapshot names them, so expireSnapshots can never reclaim them
    val oldTime = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis - 10L * 24 * 3600 * 1000)
    val orphanData = Paths.get(root, "data", "orphan-raced.parquet")
    Files.write(orphanData, Array[Byte](1, 2, 3))
    Files.setLastModifiedTime(orphanData, oldTime)
    val orphanMeta = Paths.get(root, "metadata", "snap-999999-m0.avro")
    Files.write(orphanMeta, Array[Byte](4, 5, 6))
    Files.setLastModifiedTime(orphanMeta, oldTime)
    // a FRESH staged file (an in-flight commit) survives the default
    // 3-day age guard
    val young = Paths.get(root, "data", "orphan-young.parquet")
    Files.write(young, Array[Byte](7))
    // a FOREIGN tree's partition-statistics file is REFERENCED by the
    // current document — never an orphan, however old
    val pstats = Paths.get(root, "metadata", "pstats-1.parquet")
    Files.write(pstats, Array[Byte](8, 9))
    Files.setLastModifiedTime(pstats, oldTime)
    locally {
      val mp = Paths.get(root, "metadata",
        s"v${IcebergMeta.latestMetadataVersion(root)}.metadata.json")
      val doc = new String(Files.readAllBytes(mp), UTF_8)
      val snapId = IcebergMeta.snapshotLog(root).last.snapshotId
      Files.write(mp, doc.replaceFirst("\\{",
        s"""{"partition-statistics":[{"snapshot-id":$snapId,""" +
          s""""statistics-path":"metadata/pstats-1.parquet",""" +
          """"file-size-in-bytes":2}],""").getBytes(UTF_8))
    }
    // DRY RUN reports, deletes nothing
    val dry = IcebergMeta.removeOrphanFiles(root, dryRun = true)
    assert(dry.orphans.toSet ===
      Set(orphanData.toString, orphanMeta.toString))
    assert(dry.youngKept === 1 && !dry.deleted)
    assert(Files.exists(orphanData) && Files.exists(orphanMeta))
    // the real sweep through SQL: orphans reclaimed, young kept,
    // referenced files never touched
    val row = spark.sql(
      s"GRAFT REMOVE ORPHAN FILES ICEBERG '$root'").head()
    assert(row.getLong(1) === 2L && row.getLong(2) === 1L)
    assert(!Files.exists(orphanData) && !Files.exists(orphanMeta))
    assert(Files.exists(young))
    assert(rows() === expect)
    // travel and statistics still resolve (their files were reachable)
    val firstSnap = IcebergMeta.snapshotLog(root).head.snapshotId
    assert(spark.read.format("iceberg-meta")
      .option("snapshotId", firstSnap.toString).load(root)
      .count() === 16)
    assert(IcebergMeta.columnNdv(root).get("k").contains(21L))
    // even a future cutoff never touches REFERENCED files (the young
    // unreferenced one goes now)
    val all = IcebergMeta.removeOrphanFiles(root,
      olderThanMs = System.currentTimeMillis + 60000)
    assert(all.orphans === Seq(young.toString))
    assert(rows() === expect)
    assert(Files.exists(pstats)) // referenced partition-statistics kept
    // a UniForm mirror refuses — the Delta log governs its files
    val mirror = tmp()
    DeltaLog.commit(spark.range(0, 4).toDF("k").coalesce(1), mirror,
      properties = Map("delta.enableIcebergCompatV2" -> "true"))
    val e = intercept[IllegalArgumentException] {
      IcebergMeta.removeOrphanFiles(mirror)
    }
    assert(e.getMessage.contains("VACUUM"))
  }

  test("SORT ORDER: declared via metadata commit, honored by compaction") {
    import scala.jdk.CollectionConverters._
    val root = tmp()
    // two interleaved appends → no file has tight k-bounds
    IcebergMeta.writeFixture(spark.range(0, 400).toDF("k")
      .withColumn("v", col("k") % 7).repartition(4), root)
    IcebergMeta.append(spark.range(400, 800).toDF("k")
      .withColumn("v", col("k") % 7).repartition(4), root)
    // new documents carry the v2-required sort-order fields
    val doc0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "metadata",
        s"v${IcebergMeta.latestMetadataVersion(root)}.metadata.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(doc0.contains("\"default-sort-order-id\""))
    assert(doc0.contains("\"sort-orders\""))
    // declare DESC order on k: order-id 1, default pointer moves
    assert(IcebergMeta.setSortOrder(root, Seq("k" -> "desc")) === 1)
    val doc1 = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, "metadata",
          s"v${IcebergMeta.latestMetadataVersion(root)}.metadata.json")))
    assert(doc1.get("default-sort-order-id").asInt() === 1)
    val o1 = doc1.get("sort-orders").elements().asScala
      .find(_.get("order-id").asInt() == 1).get
    val f1 = o1.get("fields").elements().asScala.next()
    assert(f1.get("direction").asText() === "desc")
    assert(f1.get("null-order").asText() === "nulls-last")
    assert(f1.get("transform").asText() === "identity")
    // a PLAIN compaction honors the declared order: 4 files with
    // DISJOINT k-ranges, each internally sorted descending
    IcebergMeta.compact(spark, root, numFiles = 4)
    val files = IcebergMeta.snapshot(root).files
    assert(files.size === 4)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.path)
        .agg(min(col("k")), max(col("k")), count(lit(1))).head()
      // descending within the file: first physical row is the max
      val first = spark.read.parquet(f.path).limit(1)
        .select("k").as[Long].head()
      assert(first === r.getLong(1),
        s"file ${f.path} not sorted desc (first=$first max=${r.getLong(1)})")
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo2, _)) => hi < lo2
      case _ => true
    }, s"file k-ranges overlap after sorted compaction: $ranges")
    assert(spark.read.format("iceberg-meta").load(root)
      .select("k").as[Long].collect().sorted.toSeq === (0L until 800L))
    // refusals: unknown column, bad direction, geometry column,
    // non-identity foreign transform at HONOR time
    intercept[IllegalArgumentException] {
      IcebergMeta.setSortOrder(root, Seq("nope" -> "asc")) }
    intercept[IllegalArgumentException] {
      IcebergMeta.setSortOrder(root, Seq("k" -> "sideways")) }
    val mp = java.nio.file.Paths.get(root, "metadata",
      s"v${IcebergMeta.latestMetadataVersion(root)}.metadata.json")
    val patched = new String(
      java.nio.file.Files.readAllBytes(mp),
      java.nio.charset.StandardCharsets.UTF_8)
      .replaceAll("\"transform\"\\s*:\\s*\"identity\"",
        "\"transform\":\"bucket[4]\"")
    assert(patched.contains("bucket[4]")) // the patch really landed
    java.nio.file.Files.write(mp,
      patched.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e2 = intercept[IllegalArgumentException] {
      IcebergMeta.compact(spark, root, numFiles = 2)
    }
    assert(e2.getMessage.contains("bucket[4]"))
  }

  test("identity partition values round-trip Spark's path escaping") {
    val root = tmp() + "/t"
    val values = Seq("a+b", "c d", "e%f")
    def tuples(): Seq[Seq[(String, Any)]] =
      IcebergMeta.snapshot(root).files.map(_.partitionTuple)
    IcebergMeta.writeFixture(values.map(v => (0L, v)).toDF("k", "p"),
      root, partitionBy = Seq("p"))
    assert(tuples().toSet === values.map(v => Seq("p" -> v)).toSet)
    IcebergMeta.append(values.map(v => (1L, v)).toDF("k", "p"), root)
    assert(tuples().sortBy(_.toString) ===
      values.flatMap(v => Seq(Seq("p" -> v), Seq("p" -> v))).sortBy(_.toString))
    values.foreach { v =>
      assert(spark.read.format("iceberg-meta").load(root)
        .filter(col("p") === v).count() === 2, v)
    }
  }
}
