package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The Delta Lake log protocol implementation ([[DeltaLog]] +
  * [[DeltaLogDataSource]]): snapshot replay from JSON commits and
  * checkpoint parquet, partition pruning from `partitionValues`,
  * data skipping from per-file `stats`, time travel, writer
  * round-trips, and the reader feature refusal gates. Includes a
  * HAND-WRITTEN spec-conformant fixture (raw JSON, not our writer) so
  * the reader is proven against the published protocol, not against
  * our own serialization. */
class DeltaLogSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("delta_spec_").toString

  private def indexOf(df: org.apache.spark.sql.DataFrame): DeltaLogFileIndex =
    df.queryExecution.optimizedPlan.collect {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          r: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
          _, _, _, _) =>
        r.location.asInstanceOf[DeltaLogFileIndex]
    }.head

  test("writer/reader round-trip, unpartitioned, stats skip files") {
    val root = tmp()
    // 4 range-disjoint files via 4 commits
    (0 until 4).foreach { i =>
      DeltaLog.commit(
        spark.range(16 * i, 16 * i + 16).toDF("k")
          .withColumn("v", col("k") * 2).coalesce(1),
        root)
    }
    assert(DeltaLog.latestVersion(root) === 3L)
    val ds = spark.read.format("delta-log").load(root)
    assert(ds.count() === 64)
    assert(ds.agg(sum("v")).as[Long].head() === (0 until 64).map(_ * 2).sum)
    // data skipping: k in [20, 25] lives in one file
    val q = spark.read.format("delta-log").load(root)
      .filter(col("k") >= 20 && col("k") <= 25)
    assert(q.agg(sum("v")).as[Long].head() === (20 to 25).map(_ * 2).sum)
    val (kept, total) = indexOf(q).lastListing.get
    assert(total === 4 && kept === 1, s"expected 1/4 files, got $kept/$total")
    // strict bounds prune the boundary file: k in [0,999] and [1000,1999]
    val root2 = tmp()
    DeltaLog.commit(spark.range(0, 2000, 1, 2).toDF("k"), root2)
    def listed(c: org.apache.spark.sql.Column) = {
      val d = spark.read.format("delta-log").load(root2).filter(c)
      assert(d.count() === 1000)
      indexOf(d).lastListing.get
    }
    assert(listed(col("k") > 999) === ((1, 2)))
    assert(listed(col("k") < 1000) === ((1, 2)))
  }

  test("DELETE and UPDATE rewrites read only the touched files") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val root = tmp()
    // 8 files of 2,000 contiguous keys each
    DeltaLog.commit(spark.range(0, 16000, 1, 8).toDF("k")
      .withColumn("v", col("k") * 2), root)
    assert(DeltaLog.snapshot(spark, root).adds.size === 8)
    // input records summed over every task `op` runs
    def recordsRead(op: => Long): Long = {
      val n = new java.util.concurrent.atomic.AtomicLong
      val l = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            n.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      }
      org.apache.spark.ListenerDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      try { op; org.apache.spark.ListenerDrain(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(l)
      n.get
    }
    // one file's keys each: the targeting scan and the rewrite read
    // that file, never the whole table
    val del = recordsRead(
      DeltaLog.deleteWhere(spark, root, col("k") >= 100 && col("k") < 120))
    assert(del > 0 && del < 16000, s"DELETE read $del records")
    val parse = spark.sessionState.sqlParser.parseExpression _
    val upd = recordsRead(DeltaLog.updateWhere(spark, root,
      Seq("v" -> parse("-1")), Some(parse("k >= 6000 AND k < 6010"))))
    assert(upd > 0 && upd < 15980, s"UPDATE read $upd records")
    val out = spark.read.format("delta-log").load(root)
    assert(out.count() === 15980)
    assert(out.filter(col("k") >= 100 && col("k") < 120).count() === 0)
    assert(out.filter(col("v") === -1).count() === 10)
    assert(out.filter(col("v") =!= -1 && col("v") =!= col("k") * 2)
      .count() === 0)
  }

  test("partitioned table: partition values from the log, exact pruning") {
    val root = tmp()
    val df = spark.range(0, 40).toDF("k")
      .withColumn("p", (col("k") % 4).cast("int"))
      .withColumn("v", col("k") * 10)
    DeltaLog.commit(df, root, partitionBy = Seq("p"))
    val ds = spark.read.format("delta-log").load(root)
    // partition column reconstructed from partitionValues, right type
    assert(ds.schema("p").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(ds.count() === 40)
    assert(ds.groupBy("p").count().orderBy("p")
      .as[(Int, Long)].collect().toSeq ===
      (0 until 4).map(p => (p, 10L)))
    val q = spark.read.format("delta-log").load(root).filter(col("p") === 2)
    assert(q.agg(sum("v")).as[Long].head() ===
      (0 until 40).filter(_ % 4 == 2).map(_ * 10).sum)
    val (kept, total) = indexOf(q).lastListing.get
    assert(kept < total, s"partition pruning kept $kept/$total")
    // and the scan plans a real partition filter (no row-level rescue)
    assert(q.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("append enforces schema; overwrite replaces; time travel reads both") {
    val root = tmp()
    DeltaLog.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root)
    DeltaLog.commit(Seq((3L, "c")).toDF("k", "s"), root)
    intercept[IllegalArgumentException] {
      DeltaLog.commit(Seq((4, "d")).toDF("k", "s"), root) // k INT != BIGINT
    }
    val v2 = DeltaLog.commit(Seq((9L, 1L)).toDF("k", "n"), root, "overwrite")
    assert(v2 === 2L)
    val now = spark.read.format("delta-log").load(root)
    assert(now.columns.toSeq === Seq("k", "n"))
    assert(now.as[(Long, Long)].collect().toSeq === Seq((9L, 1L)))
    val v1 = spark.read.format("delta-log").option("versionAsOf", 1).load(root)
    assert(v1.orderBy("k").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("checkpoint seeds replay; survives truncated JSON prefix") {
    val root = tmp()
    (0 until 5).foreach { i =>
      DeltaLog.commit(Seq((i.toLong, i.toString)).toDF("k", "s"), root)
    }
    DeltaLog.checkpoint(spark, root)          // checkpoint at v4
    DeltaLog.commit(Seq((99L, "z")).toDF("k", "s"), root) // v5 on top
    // simulate log retention: drop the JSON commits the checkpoint covers
    (0 until 4).foreach { v =>
      Files.delete(Paths.get(root, "_delta_log", f"$v%020d.json"))
    }
    val ds = spark.read.format("delta-log").load(root)
    assert(ds.orderBy("k").as[(Long, String)].collect().toSeq ===
      (0 until 5).map(i => (i.toLong, i.toString)) :+ (99L, "z"))
    // a version BELOW the checkpoint is no longer reconstructible: refuse
    val e = intercept[IllegalStateException] {
      spark.read.format("delta-log").option("versionAsOf", 2).load(root)
        .collect()
    }
    assert(e.getMessage.contains("missing"))
  }

  test("reads a hand-written spec-conformant log (foreign writer)") {
    val root = tmp()
    // data files written by PLAIN spark, one per partition dir, with a
    // URL-encodable name; partition column NOT in the files (the spec)
    val d1 = Paths.get(root, "p=x")
    val d2 = Paths.get(root, "p=y")
    Seq(1L, 2L).toDF("k").coalesce(1).write.parquet(d1.toString)
    Seq(3L).toDF("k").coalesce(1).write.parquet(d2.toString)
    import scala.jdk.CollectionConverters._
    def onlyParquet(dir: java.nio.file.Path): String = {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
        .next()
      finally s.close()
    }
    val f1 = s"p=x/${onlyParquet(d1)}"
    val f2 = s"p=y/${onlyParquet(d2)}"
    val schema = """{\"type\":\"struct\",\"fields\":[""" +
      """{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},""" +
      """{\"name\":\"p\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""
    val log = Paths.get(root, "_delta_log")
    Files.createDirectories(log)
    Files.write(log.resolve(f"${0L}%020d.json"),
      (s"""{"commitInfo":{"operation":"WRITE"}}\n""" +
        s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}\n""" +
        s"""{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":["p"],"configuration":{}}}\n""" +
        s"""{"add":{"path":"$f1","partitionValues":{"p":"x"},"size":${Files.size(Paths.get(root, f1))},"modificationTime":0,"dataChange":true,"stats":"{\\"numRecords\\":2,\\"minValues\\":{\\"k\\":1},\\"maxValues\\":{\\"k\\":2},\\"nullCount\\":{\\"k\\":0}}"}}\n""" +
        s"""{"add":{"path":"$f2","partitionValues":{"p":"y"},"size":${Files.size(Paths.get(root, f2))},"modificationTime":0,"dataChange":true}}\n""")
        .getBytes(UTF_8))
    // second commit removes f2 (the spec's remove action)
    Files.write(log.resolve(f"${1L}%020d.json"),
      (s"""{"commitInfo":{"operation":"DELETE"}}\n""" +
        s"""{"remove":{"path":"$f2","deletionTimestamp":1,"dataChange":true}}\n""")
        .getBytes(UTF_8))
    val ds = spark.read.format("delta-log").load(root)
    assert(ds.orderBy("k").as[(Long, String)].collect().toSeq ===
      Seq((1L, "x"), (2L, "x")))
    val v0 = spark.read.format("delta-log").option("versionAsOf", 0).load(root)
    assert(v0.orderBy("k").as[(Long, String)].collect().toSeq ===
      Seq((1L, "x"), (2L, "x"), (3L, "y")))
    // stats from the hand-written JSON prune: k >= 5 matches nothing,
    // and f1's stats say so; the statless removed file is gone anyway
    val q = ds.filter(col("k") >= 5)
    assert(q.count() === 0)
    assert(indexOf(q).lastListing.get._1 === 0)
  }

  test("reader feature gates refuse what we cannot honor") {
    def mkLog(extraProto: String, addExtra: String = ""): String = {
      val root = tmp()
      val log = Paths.get(root, "_delta_log")
      Files.createDirectories(log)
      val schema = """{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}"""
      Files.write(log.resolve(f"${0L}%020d.json"),
        (s"""{"protocol":$extraProto}\n""" +
          s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":[],"configuration":{}}}\n""" +
          s"""{"add":{"path":"f.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true$addExtra}}\n""")
          .getBytes(UTF_8))
      root
    }
    // v2Checkpoint (r10), typeWidening (r11) and variantType (r12)
    // are SUPPORTED; an unknown future reader feature — the gate
    val vt = mkLog(
      """{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["someFutureReaderFeature"],"writerFeatures":["someFutureReaderFeature"]}""")
    val e1 = intercept[UnsupportedOperationException] {
      DeltaLog.snapshot(spark, vt)
    }
    assert(e1.getMessage.contains("someFutureReaderFeature"))
    val tw = mkLog(
      """{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["typeWidening"],"writerFeatures":["typeWidening"]}""")
    assert(DeltaLog.snapshot(spark, tw).adds.size === 1)
    val v2cp = mkLog(
      """{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}""")
    assert(DeltaLog.snapshot(spark, v2cp).adds.size === 1)
    // deletionVectors is SUPPORTED since round 8: the feature gate
    // accepts it and the descriptor replays (application is covered by
    // DeletionVectorsSpec; raw listings without the rewrite refuse)
    val dvAdd = mkLog(
      """{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}""",
      ""","deletionVector":{"storageType":"u","pathOrInlineDv":"x","offset":1,"sizeInBytes":1,"cardinality":1}""")
    val snapDv = DeltaLog.snapshot(spark, dvAdd)
    assert(snapDv.adds.head.deletionVector.exists(_.cardinality === 1L))
    // column mapping is SUPPORTED since round 8 ('name'/'id' —
    // DeltaColumnMappingSpec covers the read path); still refused: a
    // mapped table whose schema LACKS physicalName entries (malformed
    // per the spec), and an unrecognized mode
    def cmLog(mode: String): String = {
      val cmRoot = tmp()
      val dir = Paths.get(cmRoot, "_delta_log")
      Files.createDirectories(dir)
      val schema2 = """{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}"""
      Files.write(dir.resolve(f"${0L}%020d.json"),
        (s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}\n""" +
          s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$schema2","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"$mode"}}}\n""")
          .getBytes(UTF_8))
      cmRoot
    }
    val e3 = intercept[IllegalArgumentException] {
      DeltaLog.snapshot(spark, cmLog("name"))
    }
    assert(e3.getMessage.contains("physicalName"))
    val e3b = intercept[UnsupportedOperationException] {
      DeltaLog.snapshot(spark, cmLog("bogus"))
    }
    assert(e3b.getMessage.contains("bogus"))
    // timestampNtz alone is honored (Spark reads NTZ natively)
    val ok = mkLog(
      """{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz"]}""")
    assert(DeltaLog.snapshot(spark, ok).adds.size === 1)
  }

  test("v2 checkpoints: sidecar fixture replays; writer round-trips; protocol survives") {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val R = org.apache.spark.sql.Row
    def onlyParquet(dir: java.nio.file.Path): String = {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
        .next()
      finally s.close()
    }
    def writeAs(df: org.apache.spark.sql.DataFrame,
        dst: java.nio.file.Path): Unit = {
      val staging = Files.createTempDirectory("v2cp_").resolve("out")
      df.coalesce(1).write.parquet(staging.toString)
      Files.move(staging.resolve(onlyParquet(staging)), dst)
    }
    // ---- 1. HAND-WRITTEN foreign v2 checkpoint with sidecars (the
    // published spec shape: checkpointMetadata + sidecar actions in a
    // UUID-named top-level file; adds live in _sidecars/ parquet) ----
    val root = tmp()
    val dA = Paths.get(root, "a"); val dB = Paths.get(root, "b")
    Seq(1L, 2L).toDF("k").coalesce(1).write.parquet(dA.toString)
    Seq(3L, 4L).toDF("k").coalesce(1).write.parquet(dB.toString)
    val fA = s"a/${onlyParquet(dA)}"; val fB = s"b/${onlyParquet(dB)}"
    val log = Paths.get(root, "_delta_log")
    val sidecarDir = log.resolve("_sidecars")
    Files.createDirectories(sidecarDir)
    val addSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType)))
    val sideSchema = StructType(Seq(StructField("add", addSchema)))
    def sidecar(name: String, f: String, lo: Long, hi: Long): Unit =
      writeAs(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(R(R(f,
          Map.empty[String, String], Files.size(Paths.get(root, f)), 0L,
          true,
          s"""{"numRecords":2,"minValues":{"k":$lo},"maxValues":{"k":$hi},"nullCount":{"k":0}}"""))),
          1), sideSchema),
        sidecarDir.resolve(name))
    sidecar("s1.parquet", fA, 1L, 2L)
    sidecar("s2.parquet", fB, 3L, 4L)
    val kSchema = new StructType().add("k", LongType).json
    val topSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapType(StringType, StringType))))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType)))),
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType))))))
    writeAs(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      R(R(3, 7, Seq("v2Checkpoint"), Seq("v2Checkpoint")), null, null, null),
      R(null, R("fix", R("parquet", Map.empty[String, String]), kSchema,
        Seq.empty[String],
        Map("delta.checkpointPolicy" -> "v2")), null, null),
      R(null, null, R("s1.parquet", 1L), null),
      R(null, null, R("s2.parquet", 1L), null),
      R(null, null, null, R(0L))), 1), topSchema),
      log.resolve(f"${0L}%020d.checkpoint." +
        "7d17ac10-5cc3-401b-bd1a-9c82fa5db9d8.parquet"))
    // NO json commits at all: the table is its checkpoint
    val ds = spark.read.format("delta-log").load(root)
    assert(ds.as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L))
    // sidecar-carried stats prune: k >= 3 keeps 1 of 2 files
    val q = spark.read.format("delta-log").load(root)
      .filter(col("k") >= 3)
    assert(q.as[Long].collect().sorted.toSeq === Seq(3L, 4L))
    assert(indexOf(q).lastListing.get === ((1, 2)))
    // the checkpoint's protocol is the table's protocol
    val snap = DeltaLog.snapshot(spark, root)
    assert(snap.minReaderVersion === 3 &&
      snap.readerFeatures.contains("v2Checkpoint"))
    // a json commit ON TOP of the v2 checkpoint replays after it
    Files.write(log.resolve(f"${1L}%020d.json"),
      (s"""{"commitInfo":{"operation":"DELETE"}}\n""" +
        s"""{"remove":{"path":"$fB","deletionTimestamp":1,"dataChange":true}}\n""")
        .getBytes(UTF_8))
    assert(spark.read.format("delta-log").load(root)
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // a corrupt v2 checkpoint (no checkpointMetadata) refuses loudly
    val bad = tmp()
    val badLog = Paths.get(bad, "_delta_log")
    Files.createDirectories(badLog)
    writeAs(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      R(R(1, 2, null, null), null, null, null),
      R(null, R("fix", R("parquet", Map.empty[String, String]), kSchema,
        Seq.empty[String], Map.empty[String, String]), null, null)), 1),
      StructType(topSchema.fields.take(2))),
      badLog.resolve(f"${0L}%020d.checkpoint." +
        "1aa8ddc3-0d2c-4d6e-9b63-f3b0a04647cd.parquet"))
    val eBad = intercept[IllegalArgumentException] {
      DeltaLog.snapshot(spark, bad)
    }
    assert(eBad.getMessage.contains("checkpointMetadata"))
    // ---- 2. OUR writer: checkpointPolicy=v2 tables checkpoint in v2
    // form (UUID-named, self-contained), and replay from it alone ----
    val mine = tmp()
    DeltaLog.commit(Seq(10L, 11L).toDF("k").coalesce(1), mine,
      properties = Map("delta.checkpointPolicy" -> "v2"))
    // the spec licenses v2 checkpoints only on tables CARRYING the
    // v2Checkpoint reader-writer feature — creation must add it
    val sMine = DeltaLog.snapshot(spark, mine)
    assert(sMine.minReaderVersion === 3 && sMine.minWriterVersion === 7)
    assert(sMine.readerFeatures.contains("v2Checkpoint") &&
      sMine.writerFeatures.contains("v2Checkpoint"))
    DeltaLog.commit(Seq(12L).toDF("k").coalesce(1), mine)
    DeltaLog.checkpoint(spark, mine)
    val mineLog = Paths.get(mine, "_delta_log")
    // the hint's size counts the checkpointMetadata row too
    // (protocol + metaData + 2 adds + checkpointMetadata = 5)
    assert(new String(Files.readAllBytes(
      mineLog.resolve("_last_checkpoint")), "UTF-8").contains("\"size\":5"))
    val names = {
      val s = Files.list(mineLog)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }
    assert(names.exists(_.matches(
      """\d{20}\.checkpoint\.[0-9a-f-]{36}\.parquet""")))
    assert(!names.contains(f"${1L}%020d.checkpoint.parquet"))
    names.filter(n => n.endsWith(".json") && n.length == 25)
      .foreach(n => Files.delete(mineLog.resolve(n)))
    assert(spark.read.format("delta-log").load(mine)
      .as[Long].collect().sorted.toSeq === Seq(10L, 11L, 12L))
    // ---- 2b. SET TBLPROPERTIES checkpointPolicy=v2 upgrades the
    // protocol in the SAME commit (mirrors the deletionVectors path);
    // legacy-implied writer features stay listed ----
    val up = tmp()
    DeltaLog.commit(Seq(1L).toDF("k").coalesce(1), up)
    DeltaLog.setConfiguration(spark, up,
      Map("delta.checkpointPolicy" -> "v2"))
    val sUp = DeltaLog.snapshot(spark, up)
    assert(sUp.minReaderVersion === 3 && sUp.minWriterVersion === 7)
    assert(sUp.readerFeatures.contains("v2Checkpoint") &&
      sUp.writerFeatures.contains("v2Checkpoint"))
    assert(sUp.writerFeatures.contains("appendOnly")) // legacy-implied
    DeltaLog.checkpoint(spark, up)
    val upLog = Paths.get(up, "_delta_log")
    assert({
      val s = Files.list(upLog)
      try s.iterator().asScala.exists(_.getFileName.toString.matches(
        """\d{20}\.checkpoint\.[0-9a-f-]{36}\.parquet"""))
      finally s.close()
    })
    // ---- 3. protocol SURVIVES a classic checkpoint on a feature
    // table (the (1,2)-downgrade fix): replay keeps (3,7)+features ----
    val dv = tmp()
    DeltaLog.commit(Seq(21L, 22L).toDF("k").coalesce(1), dv,
      properties = Map("delta.enableDeletionVectors" -> "true"))
    DeltaLog.checkpoint(spark, dv)
    val dvLog = Paths.get(dv, "_delta_log")
    Files.delete(dvLog.resolve(f"${0L}%020d.json"))
    val s3 = DeltaLog.snapshot(spark, dv)
    assert(s3.minWriterVersion === 7 &&
      s3.writerFeatures.contains("deletionVectors"))
    assert(spark.read.format("delta-log").load(dv)
      .as[Long].collect().sorted.toSeq === Seq(21L, 22L))
  }

  test("writer obligations: CHECK constraints enforce on every path") {
    // constrained creation implies writer 3 (feature-unaware writers
    // must stop); clean append passes; violating append refuses WITH
    // the constraint named, and commits nothing
    val root = tmp()
    DeltaLog.commit(Seq(5L, 6L).toDF("k").coalesce(1), root,
      properties = Map("delta.constraints.k_positive" -> "k > 0"))
    assert(DeltaLog.snapshot(spark, root).minWriterVersion >= 3)
    DeltaLog.commit(Seq(7L).toDF("k").coalesce(1), root)
    val vBefore = DeltaLog.latestVersion(root)
    val e = intercept[IllegalArgumentException] {
      DeltaLog.commit(Seq(-1L, 8L).toDF("k").coalesce(1), root)
    }
    assert(e.getMessage.contains("k_positive"))
    assert(DeltaLog.latestVersion(root) === vBefore)
    assert(spark.read.format("delta-log").load(root)
      .as[Long].collect().sorted.toSeq === Seq(5L, 6L, 7L))
    // UPDATE rewriting a row INTO violation refuses too (the
    // contract holds on post-update rows, not just appends)
    val parse = spark.sessionState.sqlParser.parseExpression _
    val eU = intercept[IllegalArgumentException] {
      DeltaLog.updateWhere(spark, root,
        Seq("k" -> parse("k - 15")), Some(parse("k = 5")))
    }
    assert(eU.getMessage.contains("k_positive"))
    // ADD CONSTRAINT verifies the EXISTING rows first: k > 5 is
    // violated by rows 5 — refused, configuration unchanged; a
    // satisfiable one lands and bumps the protocol obligation
    val e2 = intercept[IllegalArgumentException] {
      DeltaLog.setConfiguration(spark, root,
        Map("delta.constraints.k_big" -> "k > 5"))
    }
    assert(e2.getMessage.contains("k_big"))
    assert(!DeltaLog.snapshot(spark, root).configuration
      .contains("delta.constraints.k_big"))
    DeltaLog.setConfiguration(spark, root,
      Map("delta.constraints.k_small" -> "k < 100"))
    val e3 = intercept[IllegalArgumentException] {
      DeltaLog.commit(Seq(200L).toDF("k").coalesce(1), root)
    }
    assert(e3.getMessage.contains("k_small"))
  }

  test("writer obligations: appendOnly and unknown features refuse") {
    import org.apache.spark.sql.functions.col
    // delta.appendOnly=true: appends keep working; DELETE, overwrite
    // and RESTORE — anything removing existing rows — refuse loudly
    val ao = tmp()
    DeltaLog.commit(Seq(1L, 2L).toDF("k").coalesce(1), ao,
      properties = Map("delta.appendOnly" -> "true"))
    DeltaLog.commit(Seq(3L).toDF("k").coalesce(1), ao)
    val e1 = intercept[UnsupportedOperationException] {
      DeltaLog.deleteWhere(spark, ao, col("k") === 1)
    }
    assert(e1.getMessage.contains("append-only"))
    val e2 = intercept[UnsupportedOperationException] {
      DeltaLog.commit(Seq(9L).toDF("k").coalesce(1), ao,
        mode = "overwrite")
    }
    assert(e2.getMessage.contains("append-only"))
    val e3 = intercept[UnsupportedOperationException] {
      DeltaLog.restore(spark, ao, 0L)
    }
    assert(e3.getMessage.contains("append-only"))
    assert(spark.read.format("delta-log").load(ao).count() === 3)
    // a FOREIGN table listing a writer feature whose obligations this
    // writer cannot honor refuses EVERY write (reads unaffected —
    // rowTracking is writer-only)
    def foreign(schemaJson: String, protoLine: String): String = {
      val r = tmp()
      val log = Paths.get(r, "_delta_log")
      Files.createDirectories(log)
      Files.write(log.resolve(f"${0L}%020d.json"),
        (s"""{"protocol":$protoLine}\n""" +
          s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}\n""")
          .getBytes(UTF_8))
      r
    }
    val plainSchema = """{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}"""
    val rt = foreign(plainSchema,
      """{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["someFutureFeature","appendOnly","invariants"]}""")
    assert(DeltaLog.snapshot(spark, rt).adds.isEmpty) // read is fine
    val e4 = intercept[UnsupportedOperationException] {
      DeltaLog.commit(Seq(1L).toDF("k").coalesce(1), rt)
    }
    assert(e4.getMessage.contains("someFutureFeature"))
    // CHECKPOINT is log-mutating too: compacting a table whose
    // features this writer does not honor would silently drop the
    // state they maintain from the compacted view — gated alike
    val e4b = intercept[UnsupportedOperationException] {
      DeltaLog.checkpoint(spark, rt)
    }
    assert(e4b.getMessage.contains("someFutureFeature"))
    // legacy writer 4 lists generatedColumns — ENFORCED since r11:
    // a plain table writes normally, and generated tables write
    // through the compute/verify path (own test below)
    val noGen = foreign(plainSchema,
      """{"minReaderVersion":1,"minWriterVersion":4}""")
    DeltaLog.commit(Seq(1L).toDF("k").coalesce(1), noGen)
    assert(spark.read.format("delta-log").load(noGen).count() === 1)
    // legacy column INVARIANTS (writer 2's schema-metadata contract):
    // NULL violates, unlike CHECK constraints
    val invSchema = """{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":{\"delta.invariants\":\"{\\\"expression\\\":{\\\"expression\\\":\\\"k < 100\\\"}}\"}}]}"""
    val inv = foreign(invSchema,
      """{"minReaderVersion":1,"minWriterVersion":2}""")
    DeltaLog.commit(Seq(5L).toDF("k").coalesce(1), inv)
    val e6 = intercept[IllegalArgumentException] {
      DeltaLog.commit(Seq(200L).toDF("k").coalesce(1), inv)
    }
    assert(e6.getMessage.contains("invariant on k"))
    val e7 = intercept[IllegalArgumentException] {
      DeltaLog.commit(spark.sql("SELECT CAST(NULL AS BIGINT) AS k")
        .coalesce(1), inv)
    }
    assert(e7.getMessage.contains("invariant on k"))
  }

  test("generated columns: compute when missing, verify when supplied, UPDATE recomputes") {
    def genTable(): String = {
      val r = tmp()
      val log = Paths.get(r, "_delta_log")
      Files.createDirectories(log)
      val schema = """{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"g\",\"type\":\"long\",\"nullable\":true,\"metadata\":{\"delta.generationExpression\":\"k + 1\"}}]}"""
      Files.write(log.resolve(f"${0L}%020d.json"),
        ("""{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}
""" +
          s"""{"metaData":{"id":"gen-fix","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":[],"configuration":{}}}
""")
          .getBytes(UTF_8))
      r
    }
    // missing generated column COMPUTES (the everyday case: generated
    // partition-style columns are never in the incoming frame)
    val t1 = genTable()
    DeltaLog.commit(Seq(1L, 2L).toDF("k").coalesce(1), t1)
    assert(spark.read.format("delta-log").load(t1)
      .orderBy("k").as[(Long, Long)].collect().toSeq ===
      Seq((1L, 2L), (2L, 3L)))
    // supplied-and-consistent verifies and lands
    DeltaLog.commit(Seq((5L, 6L)).toDF("k", "g").coalesce(1), t1)
    assert(spark.read.format("delta-log").load(t1).count() === 3)
    // supplied-and-MISMATCHED refuses, nothing commits
    val vBefore = DeltaLog.latestVersion(t1)
    val e = intercept[IllegalArgumentException] {
      DeltaLog.commit(Seq((7L, 99L)).toDF("k", "g").coalesce(1), t1)
    }
    assert(e.getMessage.contains("generated column g"))
    assert(DeltaLog.latestVersion(t1) === vBefore)
    // UPDATE of a source column RECOMPUTES the generated one from the
    // post-update row (delta-spark's rule)
    val parse = spark.sessionState.sqlParser.parseExpression _
    DeltaLog.updateWhere(spark, t1,
      Seq("k" -> parse("k + 10")), Some(parse("k = 1")))
    assert(spark.read.format("delta-log").load(t1)
      .orderBy("k").as[(Long, Long)].collect().toSeq ===
      Seq((2L, 3L), (5L, 6L), (11L, 12L)))
    // UPDATE explicitly SETTING the generated column to a mismatched
    // value refuses
    val eU = intercept[IllegalArgumentException] {
      DeltaLog.updateWhere(spark, t1,
        Seq("g" -> parse("g + 5")), Some(parse("k = 2")))
    }
    assert(eU.getMessage.contains("generated column g"))
    // MERGE output rows verify too: an update clause changing the
    // source without the generated column refuses loudly (never lands
    // a row violating the generation contract)
    val eM = intercept[IllegalArgumentException] {
      DeltaLog.mergeConditional(spark, t1,
        Seq(2L).toDF("sk"), "k", "sk",
        matched = Seq(VersionedTable.MergeUpdate(None,
          Map("k" -> (VersionedTable.MergeRef.source("sk") + lit(100))))))
    }
    assert(eM.getMessage.contains("generated column g"))
  }

  test("identity columns: allocation is monotonic across appends, mark restates in-commit") {
    def idTable(always: Boolean): String = {
      val r = tmp()
      val log = Paths.get(r, "_delta_log")
      Files.createDirectories(log)
      val explicit = if (always) "false" else "true"
      val schema = """{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{\"delta.identity.start\":100,\"delta.identity.step\":10,\"delta.identity.allowExplicitInsert\":EXP}},{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""
        .replace("EXP", explicit)
      Files.write(log.resolve(f"${0L}%020d.json"),
        ("""{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}
""" +
          s"""{"metaData":{"id":"id-fix","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":[],"configuration":{}}}
""")
          .getBytes(UTF_8))
      r
    }
    val t = idTable(always = true)
    // first append: values start at `start`, step by `step`
    DeltaLog.commit(Seq("a", "b", "c").toDF("v"), t)
    val r1 = spark.read.format("delta-log").load(t)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(r1.map(_._1) === Seq(100L, 110L, 120L))
    // the moved mark restates in the SAME commit's metaData
    val s1 = DeltaLog.snapshot(spark, t)
    assert(s1.schema("id").metadata
      .getLong("delta.identity.highWaterMark") === 120L)
    assert(s1.tableId === "id-fix") // restatement keeps the table id
    // second append continues PAST the mark — monotonic across commits
    DeltaLog.commit(Seq("d", "e").toDF("v"), t)
    val r2 = spark.read.format("delta-log").load(t)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(r2.map(_._1) === Seq(100L, 110L, 120L, 130L, 140L))
    assert(DeltaLog.snapshot(spark, t).schema("id").metadata
      .getLong("delta.identity.highWaterMark") === 140L)
    // GENERATED ALWAYS refuses explicit values (and UPDATE on the
    // identity column refuses on any identity table)
    val eX = intercept[IllegalArgumentException] {
      DeltaLog.commit(Seq((999L, "x")).toDF("id", "v"), t)
    }
    assert(eX.getMessage.contains("GENERATED ALWAYS"))
    val parse = spark.sessionState.sqlParser.parseExpression _
    val eU = intercept[IllegalArgumentException] {
      DeltaLog.updateWhere(spark, t,
        Seq("id" -> parse("id + 1")), Some(parse("v = 'a'")))
    }
    assert(eU.getMessage.contains("IDENTITY"))
    // GENERATED BY DEFAULT accepts explicit values (mark untouched —
    // the spec's rule; re-syncing is a separate maintenance op)
    val tD = idTable(always = false)
    DeltaLog.commit(Seq((7L, "x")).toDF("id", "v"), tD)
    assert(spark.read.format("delta-log").load(tD)
      .as[(Long, String)].collect().toSeq === Seq((7L, "x")))
    // and still allocates when the column is omitted
    DeltaLog.commit(Seq("y").toDF("v"), tD)
    assert(spark.read.format("delta-log").load(tD)
      .orderBy("id").as[(Long, String)].collect().map(_._1).toSeq ===
      Seq(7L, 100L))
  }

  test("mergeSchema append: add-only columns, safe widenings, refusals") {
    import org.apache.spark.sql.types._
    // ---- add a column: old files NULL-fill it at read time ----
    val t1 = tmp()
    DeltaLog.commit(Seq((1L, "a")).toDF("k", "s").coalesce(1), t1)
    // without mergeSchema the extra column refuses (unchanged rule)
    intercept[IllegalArgumentException] {
      DeltaLog.commit(Seq((2L, "b", 7)).toDF("k", "s", "extra")
        .coalesce(1), t1)
    }
    DeltaLog.commit(Seq((2L, "b", 7)).toDF("k", "s", "extra")
      .coalesce(1), t1, mergeSchema = true)
    val s1 = DeltaLog.snapshot(spark, t1)
    assert(s1.schema.fieldNames.toSeq === Seq("k", "s", "extra"))
    assert(s1.tableId.nonEmpty) // restatement carried the id
    assert(spark.read.format("delta-log").load(t1)
      .orderBy("k").as[(Long, String, Option[Int])].collect().toSeq ===
      Seq((1L, "a", None), (2L, "b", Some(7))))
    // add-only does NOT tack on typeWidening
    assert(!s1.writerFeatures.contains("typeWidening"))
    // ---- widen int -> long: typeWidening feature + typeChanges ----
    val t2 = tmp()
    DeltaLog.commit(Seq(1, 2).toDF("k").coalesce(1), t2)
    intercept[IllegalArgumentException] { // still refused un-opted
      DeltaLog.commit(Seq(3L).toDF("k").coalesce(1), t2)
    }
    DeltaLog.commit(Seq(3000000000L).toDF("k").coalesce(1), t2,
      mergeSchema = true)
    val s2 = DeltaLog.snapshot(spark, t2)
    assert(s2.schema("k").dataType === LongType)
    assert(s2.minReaderVersion === 3 && s2.minWriterVersion === 7)
    assert(s2.readerFeatures.contains("typeWidening") &&
      s2.writerFeatures.contains("typeWidening"))
    val tc = s2.schema("k").metadata
      .getMetadataArray("delta.typeChanges")
    assert(tc.length === 1 && tc(0).getString("fromType") === "integer"
      && tc(0).getString("toType") === "long")
    // narrow OLD files upcast at read time; the wide new row reads
    assert(spark.read.format("delta-log").load(t2)
      .orderBy("k").as[Long].collect().toSeq ===
      Seq(1L, 2L, 3000000000L))
    // ---- retypes refuse even with mergeSchema ----
    val e = intercept[IllegalArgumentException] {
      DeltaLog.commit(Seq("x").toDF("k").coalesce(1), t2,
        mergeSchema = true)
    }
    assert(e.getMessage.contains("schema mismatch"))
    // ---- MERGE WITH SCHEMA EVOLUTION: assignment targets a new
    // column, typed by the same-named source column ----
    val t3 = tmp()
    DeltaLog.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s")
      .coalesce(1), t3)
    val src = Seq((2L, "B", 20), (3L, "C", 30)).toDF("sk", "s", "extra")
    val eNoFlag = intercept[IllegalArgumentException] {
      DeltaLog.mergeConditional(spark, t3, src, "k", "sk",
        notMatched = Seq(VersionedTable.MergeInsert(None, Map(
          "k" -> VersionedTable.MergeRef.source("sk"),
          "s" -> VersionedTable.MergeRef.source("s"),
          "extra" -> VersionedTable.MergeRef.source("extra")))))
    }
    assert(eNoFlag.getMessage.contains("WITH SCHEMA EVOLUTION"))
    DeltaLog.mergeConditional(spark, t3, src, "k", "sk",
      matched = Seq(VersionedTable.MergeUpdate(None, Map(
        "s" -> VersionedTable.MergeRef.source("s"),
        "extra" -> VersionedTable.MergeRef.source("extra")))),
      notMatched = Seq(VersionedTable.MergeInsert(None, Map(
        "k" -> VersionedTable.MergeRef.source("sk"),
        "s" -> VersionedTable.MergeRef.source("s"),
        "extra" -> VersionedTable.MergeRef.source("extra")))),
      withSchemaEvolution = true)
    assert(DeltaLog.snapshot(spark, t3).schema.fieldNames.toSeq ===
      Seq("k", "s", "extra"))
    assert(spark.read.format("delta-log").load(t3)
      .orderBy("k").as[(Long, String, Option[Int])].collect().toSeq ===
      Seq((1L, "a", None), (2L, "B", Some(20)), (3L, "C", Some(30))))
  }

  test("domainMetadata: replay, checkpoint survival, restore, clustered writes") {
    // set on a plain table: protocol upgrades in the same commit
    val t = tmp()
    DeltaLog.commit(Seq(1L).toDF("k").coalesce(1), t)
    DeltaLog.setDomainMetadata(spark, t, "app.owner", """{"team":"etl"}""")
    val s1 = DeltaLog.snapshot(spark, t)
    assert(s1.minWriterVersion === 7 &&
      s1.writerFeatures.contains("domainMetadata"))
    assert(s1.domains("app.owner") === ("""{"team":"etl"}""", false))
    // survives a checkpoint + cleaned JSON prefix
    DeltaLog.commit(Seq(2L).toDF("k").coalesce(1), t)
    DeltaLog.checkpoint(spark, t)
    val log = Paths.get(t, "_delta_log")
    import scala.jdk.CollectionConverters._
    locally {
      val l = Files.list(log)
      try l.iterator().asScala.toSeq
        .filter(p => p.getFileName.toString.endsWith(".json") &&
          p.getFileName.toString.length == 25)
        .foreach(Files.delete)
      finally l.close()
    }
    val s2 = DeltaLog.snapshot(spark, t)
    assert(s2.domains("app.owner") === ("""{"team":"etl"}""", false))
    assert(spark.read.format("delta-log").load(t).count() === 2)
    // tombstone removes; a later checkpoint omits the dead domain
    DeltaLog.setDomainMetadata(spark, t, "app.owner", "", removed = true)
    assert(DeltaLog.snapshot(spark, t).domains("app.owner")._2 === true)
    DeltaLog.checkpoint(spark, t)
    assert(!DeltaLog.snapshot(spark, t).domains.contains("app.owner"))
    // RESTORE reconciles domains to the target version's state
    val r = tmp()
    DeltaLog.commit(Seq(1L).toDF("k").coalesce(1), r)            // v0
    DeltaLog.setDomainMetadata(spark, r, "d.pin", "v_a")          // v1
    DeltaLog.setDomainMetadata(spark, r, "d.pin", "v_b")          // v2
    DeltaLog.setDomainMetadata(spark, r, "d.new", "born_later")   // v3
    DeltaLog.restore(spark, r, 1L)
    val s3 = DeltaLog.snapshot(spark, r)
    assert(s3.domains("d.pin") === ("v_a", false))
    assert(s3.domains.get("d.new").forall(_._2)) // tombstoned
    // FOREIGN clustered table (domainMetadata + clustering features,
    // delta.clustering domain): append now WORKS and the domain is
    // preserved — round 10 refused these tables outright
    val c = tmp()
    val cLog = Paths.get(c, "_delta_log")
    Files.createDirectories(cLog)
    val kSchema = """{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}"""
    Files.write(cLog.resolve(f"${0L}%020d.json"),
      (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["domainMetadata","clustering","appendOnly","invariants"]}}\n""" +
        s"""{"metaData":{"id":"clus","format":{"provider":"parquet","options":{}},"schemaString":"$kSchema","partitionColumns":[],"configuration":{}}}\n""" +
        s"""{"domainMetadata":{"domain":"delta.clustering","configuration":"{\\"clusteringColumns\\":[[\\"k\\"]]}","removed":false}}\n""")
        .getBytes(UTF_8))
    DeltaLog.commit(Seq(5L).toDF("k").coalesce(1), c)
    val sC = DeltaLog.snapshot(spark, c)
    assert(sC.domains.contains("delta.clustering"))
    DeltaLog.checkpoint(spark, c)
    locally {
      val l = Files.list(cLog)
      try l.iterator().asScala.toSeq
        .filter(p => p.getFileName.toString.endsWith(".json") &&
          p.getFileName.toString.length == 25)
        .foreach(Files.delete)
      finally l.close()
    }
    assert(DeltaLog.snapshot(spark, c).domains.contains("delta.clustering"))
    assert(spark.read.format("delta-log").load(c).as[Long]
      .collect().toSeq === Seq(5L))
  }

  test("UniForm on a collated table refuses PRE-commit; writer-option clusterBy works on default mode") {
    // a collated column has no Iceberg type — without the pre-commit
    // gate the Delta commit would land durably and every later sync
    // would fail (the stranded-commit mode the gate exists to prevent)
    val e = intercept[IllegalArgumentException] {
      DeltaLog.commit(
        spark.range(0, 3).selectExpr("id AS k",
          "collate(concat('v', id), 'UTF8_LCASE') AS s").coalesce(1),
        tmp(), properties = Map("delta.enableIcebergCompatV2" -> "true"))
    }
    assert(e.getMessage.contains("collated"))
    // the DSv1 writer's clusterBy option is honored on the DEFAULT
    // (ErrorIfExists) creation mode, not only explicit Append
    val root = tmp()
    spark.range(0, 10).toDF("k").coalesce(1).write
      .format("delta-log").option("clusterBy", "k").save(root)
    val s0 = DeltaLog.snapshot(spark, root)
    assert(s0.writerFeatures.contains("clusteredTable"))
    assert(s0.domains.contains("delta.clustering"))
    // NESTED collated columns: the stats overrides cover any depth —
    // a plain-string append into struct<inner: collated> must omit
    // the nested member's min/max (binary order lies under collation)
    val nroot = tmp()
    DeltaLog.commit(spark.range(0, 4).selectExpr("id AS k",
      "named_struct('inner', collate(concat('v', id), 'UTF8_LCASE')) AS s")
      .coalesce(1), nroot)
    val add = DeltaLog.snapshot(spark, nroot).adds.head
    val statsNode = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(add.statsJson.get)
    assert(!statsNode.path("minValues").path("s").has("inner"),
      s"nested collated member recorded min/max: ${add.statsJson.get}")
  }

  test("liquid clustering: CLUSTER BY creation, OPTIMIZE re-clusters by domain") {
    val root = tmp()
    // two appends of interleaved k-ranges → before OPTIMIZE no file
    // has tight k-bounds
    DeltaLog.commit(spark.range(0, 400).toDF("k")
      .withColumn("v", col("k") % 7).repartition(4), root,
      clusterBy = Seq("k"))
    val s0 = DeltaLog.snapshot(spark, root)
    assert(s0.writerFeatures.contains("clusteredTable"))
    assert(s0.writerFeatures.contains("domainMetadata"))
    assert(s0.domains("delta.clustering")._1
      === """{"clusteringColumns":[["k"]]}""")
    DeltaLog.commit(spark.range(400, 800).toDF("k")
      .withColumn("v", col("k") % 7).repartition(4), root)
    // OPTIMIZE with NO explicit ZORDER: the delta.clustering domain
    // drives the rewrite — disjoint per-file ranges on k
    DeltaLog.compact(spark, root, filesPerPartition = 4)
    val s1 = DeltaLog.snapshot(spark, root)
    assert(s1.adds.size === 4)
    assert(s1.domains.contains("delta.clustering")) // preserved
    val ranges = s1.adds.map { a =>
      val r = spark.read.parquet(Paths.get(root, a.path).toString)
        .agg(min(col("k")), max(col("k"))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo2, _)) => hi < lo2
      case _ => true
    }, s"file k-ranges overlap after clustered OPTIMIZE: $ranges")
    assert(spark.read.format("delta-log").load(root)
      .select("k").as[Long].collect().sorted.toSeq === (0L until 800L))
    // refusals: clustered+partitioned, CLUSTER BY on existing,
    // non-column
    intercept[IllegalArgumentException] {
      DeltaLog.commit(Seq((1L, "a")).toDF("k", "p").coalesce(1), tmp(),
        partitionBy = Seq("p"), clusterBy = Seq("k"))
    }
    intercept[IllegalArgumentException] {
      DeltaLog.commit(Seq(9L).toDF("k").coalesce(1), root,
        clusterBy = Seq("k"))
    }
    intercept[IllegalArgumentException] {
      DeltaLog.commit(Seq(9L).toDF("k").coalesce(1), tmp(),
        clusterBy = Seq("nope"))
    }
  }

  test("null partition values survive the round trip") {
    val root = tmp()
    val df = Seq((1L, Some("a")), (2L, None), (3L, Some("a")))
      .toDF("k", "p")
    DeltaLog.commit(df, root, partitionBy = Seq("p"))
    val ds = spark.read.format("delta-log").load(root)
    assert(ds.orderBy("k").as[(Long, Option[String])].collect().toSeq ===
      Seq((1L, Some("a")), (2L, None), (3L, Some("a"))))
    assert(ds.filter(col("p").isNull).select("k").as[Long].collect().toSeq
      === Seq(2L))
  }

  test("_row_id read surface: position arithmetic, DV stability, refusals") {
    val root = tmp()
    // row-tracked + DV-enabled: deletes keep files (and so row ids)
    DeltaLog.commit(
      spark.range(0, 10).toDF("k").coalesce(1).orderBy("k"), root,
      properties = Map("delta.enableRowTracking" -> "true",
        "delta.enableDeletionVectors" -> "true"))
    def ids(): Map[Long, Long] =
      DeltaLogRead.readWithRowIds(spark, root)
        .select("k", "_row_id").as[(Long, Long)].collect().toMap
    assert(ids() === (0L until 10L).map(k => k -> k).toMap)
    // DV delete: the file is recommitted with a DV, its block is
    // KEPT, so survivors keep their ids — the stable-key property
    DeltaLog.deleteWhere(spark, root, col("k") % 3 === 0)
    assert(ids() === (0L until 10L).filter(_ % 3 != 0)
      .map(k => k -> k).toMap)
    // append continues: new file's ids start past the mark
    DeltaLog.commit(
      spark.range(100, 103).toDF("k").coalesce(1).orderBy("k"), root)
    val m = ids()
    assert(m(100L) === 10L && m(102L) === 12L && m(5L) === 5L)
    val vers = DeltaLogRead.readWithRowIds(spark, root)
      .select("k", "_last_updated_version").as[(Long, Long)]
      .collect().toMap
    assert(vers(100L) === 2L && vers(5L) === 0L)
    // SQL surface
    assert(spark.sql(s"SELECT sum(_row_id) FROM delta_row_ids('$root')")
      .as[Long].head() === m.values.sum)
    // refusal: untracked table
    val plain = tmp()
    DeltaLog.commit(spark.range(3).toDF("k"), plain)
    assert(intercept[IllegalArgumentException] {
      DeltaLogRead.readWithRowIds(spark, plain)
    }.getMessage.contains("rowTracking"))
    // a configured materialized column whose files carry no values
    // null-fills and falls back to base + position
    val mat = tmp()
    DeltaLog.commit(spark.range(3).toDF("k").coalesce(1).orderBy("k"),
      mat, properties = Map("delta.enableRowTracking" -> "true",
        "delta.rowTracking.materializedRowIdColumnName" -> "_rid"))
    assert(DeltaLogRead.readWithRowIds(spark, mat)
      .select("k", "_row_id").as[(Long, Long)].collect().toMap ===
      (0L until 3L).map(k => k -> k).toMap)
  }

  test("row-tracked tables list domainMetadata wherever they write the delta.rowTracking domain") {
    val root = tmp()
    DeltaLog.commit(spark.range(0, 10).toDF("k").coalesce(1), root,
      properties = Map("delta.enableRowTracking" -> "true"))
    val s0 = DeltaLog.snapshot(spark, root, Some(0L))
    assert(s0.minWriterVersion === 7)
    assert(Set("rowTracking", "domainMetadata").subsetOf(s0.writerFeatures),
      s"v0 writer features: ${s0.writerFeatures}")
    DeltaLog.commit(spark.range(10, 13).toDF("k").coalesce(1), root)
    DeltaLog.deleteWhere(spark, root, col("k") < 2)
    DeltaLog.compact(spark, root)
    val latest = DeltaLog.latestVersion(root)
    val domainWrites = (0L to latest).filter { v =>
      new String(Files.readAllBytes(
        Paths.get(root, "_delta_log", f"$v%020d.json")), UTF_8)
        .split("\n").exists(l => l.startsWith("{\"domainMetadata\"") &&
          l.contains("\"delta.rowTracking\""))
    }
    assert(domainWrites.contains(0L) && domainWrites.size > 1,
      s"domain writes at $domainWrites")
    domainWrites.foreach { v =>
      val s = DeltaLog.snapshot(spark, root, Some(v))
      assert(s.minWriterVersion === 7 &&
        s.writerFeatures.contains("domainMetadata"),
        s"v$v writes delta.rowTracking on features ${s.writerFeatures}")
    }
  }

  test("OPTIMIZE preserves row ids by materializing the hidden columns") {
    val root = tmp()
    DeltaLog.commit(
      spark.range(0, 10).toDF("k").coalesce(1).orderBy("k"), root,
      properties = Map("delta.enableRowTracking" -> "true",
        "delta.enableDeletionVectors" -> "true"))
    DeltaLog.commit(
      spark.range(10, 16).toDF("k").coalesce(1).orderBy("k"), root)
    DeltaLog.deleteWhere(spark, root, col("k") % 4 === 2) // DV
    def ids(): Map[Long, (Long, Long)] =
      DeltaLogRead.readWithRowIds(spark, root)
        .select("k", "_row_id", "_last_updated_version")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3))
        .toMap
    val before = ids()
    DeltaLog.compact(spark, root)
    val snap = DeltaLog.snapshot(spark, root)
    // files merged, DVs gone, hidden column names registered
    assert(snap.adds.size === 1 &&
      snap.adds.forall(_.deletionVector.isEmpty))
    assert(snap.configuration.contains(
      "delta.rowTracking.materializedRowIdColumnName"))
    // every surviving row keeps (id, version); plain reads never see
    // the hidden columns
    assert(ids() === before)
    assert(spark.read.format("delta-log").load(root)
      .columns.toSeq === Seq("k"))
    // appended rows after the compaction fall back to fresh blocks
    DeltaLog.commit(
      spark.range(100, 102).toDF("k").coalesce(1).orderBy("k"), root)
    val m2 = ids()
    assert(m2(0L) === before(0L) && m2(15L) === before(15L))
    assert(m2(100L)._1 > before.values.map(_._1).max)
    // a second OPTIMIZE composes on the already-materialized values
    DeltaLog.compact(spark, root)
    assert(ids() === m2)
  }

  test("row tracking: fresh blocks, monotonic mark, checkpoint + restore survival") {
    val root = tmp()
    def markOf(): Long = {
      val snap = DeltaLog.snapshot(spark, root)
      val conf = snap.domains("delta.rowTracking")._1
      """"rowIdHighWaterMark"\s*:\s*(-?\d+)""".r
        .findFirstMatchIn(conf).get.group(1).toLong
    }
    def blocks(): Seq[(Long, Long)] = {
      val snap = DeltaLog.snapshot(spark, root)
      snap.adds.map(a => (a.baseRowId.get,
        a.baseRowId.get + a.statsJson.map(js =>
          """"numRecords"\s*:\s*(\d+)""".r.findFirstMatchIn(js)
            .get.group(1).toLong).get - 1)).sortBy(_._1)
    }
    // creation with the property: protocol lists the feature, every
    // add carries a block, the domain records the mark
    DeltaLog.commit(spark.range(0, 8).toDF("k").repartition(2), root,
      properties = Map("delta.enableRowTracking" -> "true"))
    val s0 = DeltaLog.snapshot(spark, root)
    assert(s0.minWriterVersion === 7 &&
      s0.writerFeatures.contains("rowTracking"))
    assert(s0.adds.forall(_.baseRowId.isDefined))
    assert(s0.adds.forall(_.defaultRowCommitVersion.contains(0L)))
    assert(markOf() === 7L)
    // blocks are disjoint and contiguous from 0
    val b0 = blocks()
    assert(b0.head._1 === 0L)
    assert(b0.zip(b0.tail).forall { case ((_, e), (s, _)) => s == e + 1 })
    // append continues past the mark
    DeltaLog.commit(spark.range(8, 13).toDF("k").coalesce(1), root)
    assert(markOf() === 12L)
    assert(DeltaLog.snapshot(spark, root).adds
      .exists(_.defaultRowCommitVersion.contains(1L)))
    // COW delete: rewritten survivors get FRESH blocks past the mark
    DeltaLog.deleteWhere(spark, root, col("k") === 2)
    assert(markOf() >= 13L)
    val afterDelete = markOf()
    // OPTIMIZE (dataChange=false) also assigns fresh blocks
    DeltaLog.compact(spark, root)
    assert(markOf() > afterDelete)
    assert(blocks().forall(_._1 > afterDelete))
    // checkpoint: blocks and the domain survive log compaction
    val cpv = DeltaLog.checkpoint(spark, root)
    val log = Paths.get(root, "_delta_log")
    (0L until cpv).foreach(v =>
      Files.deleteIfExists(log.resolve(f"$v%020d.json")))
    assert(DeltaLog.snapshot(spark, root).adds
      .forall(_.baseRowId.isDefined))
    val preRestoreMark = markOf()
    // RESTORE: the mark NEVER decreases (re-issued blocks would
    // collide with ids already handed out)
    DeltaLog.commit(spark.range(100, 104).toDF("k").coalesce(1), root)
    DeltaLog.restore(spark, root, cpv)
    assert(markOf() >= preRestoreMark + 4)
    assert(spark.read.format("delta-log").load(root).count() === 12)
    // appends without numRecords stats would be un-sizable: the
    // enforced path always writes stats, so force the refusal shape
    // directly through the assignment contract on a foreign add
    val e = intercept[UnsupportedOperationException] {
      DeltaLog.setConfiguration(spark,
        { val r2 = tmp()
          DeltaLog.commit(Seq(1L).toDF("k").coalesce(1), r2); r2 },
        Map("delta.enableRowTracking" -> "true"))
    }
    assert(e.getMessage.contains("backfill"))
  }

  private def commitFile(root: String, v: Long) =
    Paths.get(root, "_delta_log", f"$v%020d.json")

  test("in-commit timestamps: stamped monotonic, govern TIMESTAMP AS OF") {
    val root = tmp()
    DeltaLog.commit(spark.range(0, 4).toDF("k").coalesce(1), root,
      properties = Map("delta.enableInCommitTimestamps" -> "true"))
    // creation lists the writer feature at (…,7)
    val s0 = DeltaLog.snapshot(spark, root)
    assert(s0.minWriterVersion === 7 &&
      s0.writerFeatures.contains("inCommitTimestamp"))
    DeltaLog.commit(spark.range(4, 8).toDF("k").coalesce(1), root)
    DeltaLog.deleteWhere(spark, root, col("k") === 5)
    // every commit leads with a commitInfo carrying a monotonic ICT
    val icts = (0L to 2L).map(v => DeltaLog.ictOf(root, v).get)
    assert(icts === icts.sorted && icts.distinct.size === 3)
    (0L to 2L).foreach { v =>
      val first = Files.readAllLines(commitFile(root, v)).get(0)
      assert(first.contains("\"commitInfo\"") &&
        first.contains("inCommitTimestamp"))
    }
    // TIMESTAMP AS OF keys on the RECORDED ICTs, not file mtimes:
    // skew every commit file's mtime a year into the future
    (0 to 2).foreach { v =>
      Files.setLastModifiedTime(commitFile(root, v.toLong),
        java.nio.file.attribute.FileTime.fromMillis(
          icts(v) + 365L * 86400000L))
    }
    def countAt(ts: Long): Long = spark.read.format("delta-log")
      .option("timestampAsOf", ts.toString).load(root).count()
    assert(countAt(icts(0)) === 4)
    assert(countAt(icts(1)) === 8)
    assert(countAt(icts(2) + 10) === 7)
    intercept[IllegalArgumentException] { countAt(icts(0) - 1) }
    // clock-skew defense: doctor the head ICT into the future — the
    // next commit stamps exactly predecessor + 1, never backwards
    val future = System.currentTimeMillis + 86400000L
    Files.write(commitFile(root, 2L),
      new String(Files.readAllBytes(commitFile(root, 2L)), UTF_8)
        .replace(s""""inCommitTimestamp":${icts(2)}""",
          s""""inCommitTimestamp":$future""").getBytes(UTF_8))
    DeltaLog.commit(spark.range(8, 10).toDF("k").coalesce(1), root)
    assert(DeltaLog.ictOf(root, 3L) === Some(future + 1))
    // history surfaces the recorded ICT as the authoritative time
    assert(DeltaLog.history(root).find(_._1 == 3L).get._3 ===
      Some(future + 1))
    // SQL surface: TIMESTAMP AS OF through the catalog resolves ICT
    spark.sql(s"CREATE TABLE ict_t USING `delta-log` LOCATION '$root'")
    try {
      // timestamp_millis keeps the literal timezone-proof
      assert(spark.sql(
        s"SELECT count(*) FROM ict_t TIMESTAMP AS OF " +
          s"timestamp_millis(${icts(1)})")
        .as[Long].head() === 8)
    } finally spark.sql("DROP TABLE ict_t")
  }

  test("ICT late enablement: provenance recorded, mtime governs below") {
    val root = tmp()
    DeltaLog.commit(spark.range(0, 4).toDF("k").coalesce(1), root)
    DeltaLog.commit(spark.range(4, 6).toDF("k").coalesce(1), root)
    val v2 = DeltaLog.setConfiguration(spark, root,
      Map("delta.enableInCommitTimestamps" -> "true"))
    assert(v2 === 2L)
    val snap = DeltaLog.snapshot(spark, root)
    assert(snap.minWriterVersion === 7 &&
      snap.writerFeatures.contains("inCommitTimestamp"))
    assert(snap.configuration(
      "delta.inCommitTimestampEnablementVersion") === "2")
    val enTs = snap.configuration(
      "delta.inCommitTimestampEnablementTimestamp").toLong
    // the enablement commit's own ICT IS the recorded provenance
    assert(DeltaLog.ictOf(root, 2L) === Some(enTs))
    assert(DeltaLog.ictOf(root, 0L) === None)
    // below the mark, file mtime governs (the pre-ICT rule)
    val t0 = enTs - 1000000L
    Files.setLastModifiedTime(commitFile(root, 0L),
      java.nio.file.attribute.FileTime.fromMillis(t0))
    Files.setLastModifiedTime(commitFile(root, 1L),
      java.nio.file.attribute.FileTime.fromMillis(t0 + 1000L))
    assert(DeltaLog.versionAtTimestamp(spark, root, t0 + 500L) === 0L)
    assert(DeltaLog.versionAtTimestamp(spark, root, t0 + 1000L) === 1L)
    assert(DeltaLog.versionAtTimestamp(spark, root, enTs) === 2L)
    // later writes keep stamping past the mark
    DeltaLog.commit(spark.range(6, 8).toDF("k").coalesce(1), root)
    assert(DeltaLog.ictOf(root, 3L).exists(_ > enTs))
  }

  test("foreign ICT table (hand-written log) is writable, ICT continues") {
    val root = tmp()
    Files.createDirectories(Paths.get(root, "_delta_log"))
    // one parquet data file, written by Spark, referenced relatively
    val dataDir = Paths.get(root, "d")
    spark.range(0, 3).toDF("k").coalesce(1).write.parquet(dataDir.toString)
    import scala.jdk.CollectionConverters._
    val part = {
      val l = Files.list(dataDir)
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
        .toSeq.sorted.head
      finally l.close()
    }
    val foreignIct = 1750000000000L
    val schema = """{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}"""
    Files.write(commitFile(root, 0L),
      (s"""{"commitInfo":{"inCommitTimestamp":$foreignIct,"timestamp":$foreignIct,"operation":"WRITE"}}
         |{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["inCommitTimestamp"]}}
         |{"metaData":{"id":"f-ict","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":[],"configuration":{"delta.enableInCommitTimestamps":"true"}}}
         |{"add":{"path":"d/$part","partitionValues":{},"size":${Files.size(dataDir.resolve(part))},"modificationTime":1,"dataChange":true}}
         |""").stripMargin.getBytes(UTF_8))
    assert(spark.read.format("delta-log").load(root).count() === 3)
    // the write previously refused on the unenforced feature; now it
    // commits and stamps an ICT strictly after the foreign one
    DeltaLog.commit(spark.range(3, 5).toDF("k").coalesce(1), root)
    assert(spark.read.format("delta-log").load(root).count() === 5)
    assert(DeltaLog.ictOf(root, 1L).exists(_ > foreignIct))
  }

  test("vacuumProtocolCheck + checkpointProtection tables read and write") {
    val root = tmp()
    Files.createDirectories(Paths.get(root, "_delta_log"))
    val dataDir = Paths.get(root, "d")
    spark.range(0, 4).toDF("k").coalesce(1).write.parquet(dataDir.toString)
    import scala.jdk.CollectionConverters._
    val part = {
      val l = Files.list(dataDir)
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
        .toSeq.sorted.head
      finally l.close()
    }
    val schema = """{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}"""
    // the protocol shape recent delta-spark stamps on new tables
    Files.write(commitFile(root, 0L),
      (s"""{"commitInfo":{"timestamp":1,"operation":"WRITE"}}
         |{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["vacuumProtocolCheck"],"writerFeatures":["vacuumProtocolCheck","checkpointProtection"]}}
         |{"metaData":{"id":"f-vpc","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":[],"configuration":{"delta.requireCheckpointProtectionBeforeVersion":"1"}}}
         |{"add":{"path":"d/$part","partitionValues":{},"size":${Files.size(dataDir.resolve(part))},"modificationTime":1,"dataChange":true}}
         |""").stripMargin.getBytes(UTF_8))
    // read, write, DML, vacuum all work — each obligation is honored
    // (vacuum runs the full protocol check; no log-truncation path
    // exists for checkpointProtection to bind)
    assert(spark.read.format("delta-log").load(root).count() === 4)
    DeltaLog.commit(spark.range(4, 6).toDF("k").coalesce(1), root)
    DeltaLog.deleteWhere(spark, root, col("k") === 0)
    assert(spark.read.format("delta-log").load(root).count() === 5)
    DeltaLog.vacuum(spark, root, retainMs = 0L)
    assert(spark.read.format("delta-log").load(root).count() === 5)
    // an UNKNOWN writer feature still refuses every write AND vacuum
    Files.write(commitFile(root, 3L),
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["vacuumProtocolCheck"],"writerFeatures":["vacuumProtocolCheck","someFutureFeature"]}}
        |""".stripMargin.getBytes(UTF_8))
    intercept[UnsupportedOperationException] {
      DeltaLog.commit(spark.range(6, 7).toDF("k").coalesce(1), root)
    }
    intercept[UnsupportedOperationException] {
      DeltaLog.vacuum(spark, root, retainMs = 0L)
    }
  }

  test("variant columns round-trip with the variantType feature") {
    val root = tmp()
    DeltaLog.commit(
      spark.range(0, 6).toDF("k")
        .withColumn("doc", expr(
          """parse_json(concat('{"id":', k, ',"t":"x', k % 2, '"}'))"""))
        .coalesce(1), root)
    val snap = DeltaLog.snapshot(spark, root)
    assert(snap.minReaderVersion === 3 && snap.minWriterVersion === 7)
    assert(snap.readerFeatures.contains("variantType") &&
      snap.writerFeatures.contains("variantType"))
    val back = spark.read.format("delta-log").load(root)
      .selectExpr("k", "to_json(doc) AS j").as[(Long, String)]
      .collect().toMap
    assert(back(3L) === """{"id":3,"t":"x1"}""")
    // appends and DML keep working on the feature-bearing table
    DeltaLog.commit(
      spark.range(6, 8).toDF("k")
        .withColumn("doc", expr("parse_json('{\"id\":-1}')"))
        .coalesce(1), root)
    DeltaLog.deleteWhere(spark, root, col("k") === 2)
    assert(spark.read.format("delta-log").load(root).count() === 7)
    assert(spark.read.format("delta-log").load(root)
      .selectExpr("sum(variant_get(doc, '$.id', 'long'))")
      .as[Long].head() === (0 until 6).filter(_ != 2).sum - 2L)
  }

  test("TIMESTAMP AS OF on a checkpoint-truncated log resolves retained versions") {
    val root = tmp()
    DeltaLog.commit(spark.range(0, 2).toDF("k").coalesce(1), root,
      properties = Map("delta.enableInCommitTimestamps" -> "true"))
    DeltaLog.commit(spark.range(2, 4).toDF("k").coalesce(1), root)
    DeltaLog.commit(spark.range(4, 6).toDF("k").coalesce(1), root)
    DeltaLog.checkpoint(spark, root) // covers v0-v2
    DeltaLog.commit(spark.range(6, 8).toDF("k").coalesce(1), root)
    val icts = (0L to 3L).map(v => DeltaLog.ictOf(root, v).get)
    // metadata cleanup: the pre-checkpoint commit JSONs are gone
    Files.delete(commitFile(root, 0L))
    Files.delete(commitFile(root, 1L))
    assert(spark.read.format("delta-log").load(root).count() === 8)
    // retained versions resolve; the earliest RETAINED commit is the
    // floor (delta-spark refuses cleaned-up versions identically)
    assert(DeltaLog.versionAtTimestamp(spark, root, icts(2)) === 2L)
    assert(DeltaLog.versionAtTimestamp(spark, root, icts(3) + 5) === 3L)
    val e = intercept[IllegalArgumentException] {
      DeltaLog.versionAtTimestamp(spark, root, icts(2) - 1)
    }
    assert(e.getMessage.contains("RETAINED"))
  }

  test("RESTORE across an ICT-disabled window refreshes provenance") {
    val root = tmp()
    DeltaLog.commit(spark.range(0, 3).toDF("k").coalesce(1), root,
      properties = Map("delta.enableInCommitTimestamps" -> "true"))
    DeltaLog.commit(spark.range(3, 5).toDF("k").coalesce(1), root) // v1
    DeltaLog.setConfiguration(spark, root,
      Map("delta.enableInCommitTimestamps" -> "false"))            // v2
    DeltaLog.commit(spark.range(5, 6).toDF("k").coalesce(1), root) // v3, no ICT
    assert(DeltaLog.ictOf(root, 3L) === None)
    DeltaLog.restore(spark, root, 1L)                              // v4
    val snap = DeltaLog.snapshot(spark, root)
    // re-enabled WITH fresh marks at the restore commit — versions in
    // the disabled window stay mtime-governed, reads never crash
    assert(snap.configuration("delta.enableInCommitTimestamps") === "true")
    assert(snap.configuration(
      "delta.inCommitTimestampEnablementVersion") === "4")
    val ict4 = DeltaLog.ictOf(root, 4L).get
    assert(snap.configuration(
      "delta.inCommitTimestampEnablementTimestamp") === ict4.toString)
    assert(DeltaLog.versionAtTimestamp(spark, root, ict4) === 4L)
    // probing across the window (v3 has no ICT) must not throw
    assert(DeltaLog.versionAtTimestamp(spark, root, ict4 - 1) < 4L)
    assert(spark.read.format("delta-log")
      .option("timestampAsOf", ict4.toString).load(root).count() === 5)
  }

  test("v2 checkpoint SIDECAR write round-trips through replay") {
    import scala.jdk.CollectionConverters._
    val root = tmp()
    DeltaLog.commit(spark.range(0, 8).toDF("k").coalesce(1), root,
      properties = Map("delta.checkpointPolicy" -> "v2"))
    (1 to 3).foreach(i => DeltaLog.commit(
      spark.range(8 * i, 8 * i + 8).toDF("k").coalesce(1), root))
    DeltaLog.checkpoint(spark, root, sidecarFiles = 3)
    val scDir = Paths.get(root, "_delta_log", "_sidecars")
    val sidecars = {
      val s = Files.list(scDir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSeq
      finally s.close()
    }
    assert(sidecars.size >= 2, s"expected sidecar fan-out, got $sidecars")
    // the checkpoint alone reconstructs the state: retire every
    // commit JSON (the metadata-cleanup end state) and replay
    DeltaLog.jsonVersions(root).foreach(v =>
      Files.delete(Paths.get(root, "_delta_log", f"$v%020d.json")))
    assert(spark.read.format("delta-log").load(root).count() === 32)
    assert(spark.read.format("delta-log").load(root)
      .agg(sum("k")).as[Long].head() === (0L until 32L).sum)
    // stats survive the sidecar hop: a selective read still prunes
    val q = spark.read.format("delta-log").load(root)
      .filter(col("k") >= 2 && col("k") <= 5)
    assert(q.agg(sum("k")).as[Long].head() === (2L to 5L).sum)
    val (kept, total) = indexOf(q).lastListing.get
    assert(total === 4 && kept === 1, s"expected 1/4 files, got $kept/$total")
    // the log keeps working on top of the sidecar checkpoint
    DeltaLog.commit(spark.range(32, 36).toDF("k").coalesce(1), root)
    assert(spark.read.format("delta-log").load(root).count() === 36)
  }

  test("minor log compaction: a compacted span stands in for its commits") {
    val root = tmp()
    DeltaLog.commit(spark.range(0, 4).toDF("k").coalesce(1), root)  // v0
    DeltaLog.commit(spark.range(4, 8).toDF("k").coalesce(1), root)  // v1
    DeltaLog.deleteWhere(spark, root, col("k") === 5)               // v2
    DeltaLog.commit(spark.range(8, 10).toDF("k").coalesce(1), root) // v3
    DeltaLog.compactLog(root, 1L, 3L)
    val expect = (0L until 10L).filterNot(_ == 5L)
    def rows(): Seq[Long] = spark.read.format("delta-log").load(root)
      .select("k").as[Long].collect().toSeq.sorted
    assert(rows() === expect)
    // the span COVERS its commits: retire their JSONs — replay must
    // now go through the compacted file, with identical state
    // (reconciled add/remove: v2's COW rewrite nets out correctly)
    (1L to 3L).foreach(v => Files.delete(commitFile(root, v)))
    assert(rows() === expect)
    // a version outside the span still replays; one INSIDE it (whose
    // commit is gone and which no span lands on exactly) refuses
    assert(spark.read.format("delta-log").option("versionAsOf", "0")
      .load(root).count() === 4)
    val e = intercept[IllegalStateException] {
      DeltaLog.snapshot(spark, root, Some(2L))
    }
    assert(e.getMessage.contains("compaction"))
    // the log keeps extending past the compacted span
    DeltaLog.commit(spark.range(10, 12).toDF("k").coalesce(1), root) // v4
    assert(rows() === expect ++ Seq(10L, 11L))
    // compactLog is idempotent (putIfAbsent) and refuses gaps
    DeltaLog.compactLog(root, 1L, 3L)
    assert(intercept[IllegalArgumentException] {
      DeltaLog.compactLog(root, 2L, 4L)
    }.getMessage.contains("missing"))
    // ICT tables survive span retirement: the compacted file keeps
    // the span's FINAL commitInfo, so the next commit still reads
    // its predecessor's timestamp and stays monotonic
    val ict = tmp()
    DeltaLog.commit(spark.range(0, 2).toDF("k").coalesce(1), ict,
      properties = Map("delta.enableInCommitTimestamps" -> "true"))
    DeltaLog.commit(spark.range(2, 4).toDF("k").coalesce(1), ict)
    DeltaLog.commit(spark.range(4, 6).toDF("k").coalesce(1), ict)
    val ict2 = DeltaLog.ictOf(ict, 2L).get
    DeltaLog.compactLog(ict, 1L, 2L)
    (1L to 2L).foreach(v => Files.delete(commitFile(ict, v)))
    assert(DeltaLog.ictOf(ict, 2L) === Some(ict2)) // via the span
    DeltaLog.commit(spark.range(6, 8).toDF("k").coalesce(1), ict)
    assert(DeltaLog.ictOf(ict, 3L).get > ict2)
    assert(spark.read.format("delta-log").load(ict).count() === 8)
  }

  test("UniForm (icebergCompatV2): every Delta commit advances a live Iceberg tree") {
    val root = tmp()
    DeltaLog.commit(spark.range(0, 10).toDF("k").coalesce(1), root,
      properties = Map("delta.enableIcebergCompatV2" -> "true"))
    val snap = DeltaLog.snapshot(spark, root)
    assert(snap.minWriterVersion === 7 &&
      snap.writerFeatures.contains("icebergCompatV2"))
    // an Iceberg engine reads the SAME root, zero copies
    def ice(): Seq[Long] = spark.read.format("iceberg-meta").load(root)
      .select("k").as[Long].collect().toSeq.sorted
    def delta(): Seq[Long] = spark.read.format("delta-log").load(root)
      .select("k").as[Long].collect().toSeq.sorted
    assert(ice() === (0L until 10L))
    // append → one Iceberg "append" snapshot over the new file only
    DeltaLog.commit(spark.range(10, 15).toDF("k").coalesce(1), root)
    assert(ice() === (0L until 15L))
    // COW delete → retired files leave the tree, rewrites land
    DeltaLog.deleteWhere(spark, root, col("k") % 3 === 0)
    val expect = (0L until 15L).filterNot(_ % 3 == 0)
    assert(delta() === expect && ice() === expect)
    // OPTIMIZE mirrors (dataChange=false on the Delta side is still
    // a file-set change on the Iceberg side)
    DeltaLog.compact(spark, root)
    assert(ice() === expect)
    // a metadata-only Delta commit leaves the tree alone (no empty
    // Iceberg commits)
    val vBefore = IcebergMeta.latestMetadataVersion(root)
    DeltaLog.setConfiguration(spark, root,
      Map("graft.note" -> "x"))
    assert(IcebergMeta.latestMetadataVersion(root) === vBefore)
    // RESTORE mirrors the restored file set
    val restoreTo = 1L // post-append, pre-delete
    DeltaLog.restore(spark, root, restoreTo)
    assert(ice() === (0L until 15L) && delta() === (0L until 15L))
    // the Iceberg tree keeps ITS history: pre-restore snapshots stay
    // travelable through the usual snapshotId option
    val snaps = IcebergMeta.snapshotsFrame(spark, root)
      .orderBy("sequence_number").collect()
    assert(snaps.length >= 4)
    // a DV-routed delete falls back to COW under UniForm — the tree
    // never sees a deletion vector
    DeltaLog.setConfiguration(spark, root,
      Map("delta.enableDeletionVectors" -> "true"))
    DeltaLog.deleteWhere(spark, root, col("k") === 1)
    assert(DeltaLog.snapshot(spark, root).adds
      .forall(_.deletionVector.isEmpty))
    assert(ice() === (0L until 15L).filterNot(_ == 1L))
    // the MIRROR is read-only for direct Iceberg writers — the Delta
    // log is the source of truth (real UniForm's contract); a direct
    // commit would diverge the two formats' views of the same files
    val eMirror = intercept[IllegalArgumentException] {
      IcebergMeta.append(
        spark.range(900, 903).toDF("k").coalesce(1), root)
    }
    assert(eMirror.getMessage.contains("read-only"))
    // mirror retention is governed by the DELTA side: expire's
    // physical deletes would break older Delta versions
    val eExpire = intercept[IllegalArgumentException] {
      IcebergMeta.expireSnapshots(root, System.currentTimeMillis + 1000)
    }
    assert(eExpire.getMessage.contains("VACUUM"))
    // a domainMetadata commit changes no file: no Iceberg commit
    val vDomain = IcebergMeta.latestMetadataVersion(root)
    DeltaLog.setDomainMetadata(spark, root, "app.owner", "etl")
    assert(IcebergMeta.latestMetadataVersion(root) === vDomain)
    // a shallow clone carries UniForm, so its commit 0 builds the
    // clone's own mirror over the source's files
    val clone = tmp() + "/clone"
    DeltaLog.cloneShallow(spark, root, clone)
    assert(spark.read.format("iceberg-meta").load(clone).select("k")
      .as[Long].collect().toSeq.sorted === (0L until 15L).filterNot(_ == 1L))
  }

  test("UniForm: concurrent Delta writers converge the mirror") {
    val root = tmp()
    DeltaLog.commit(spark.range(0, 4).toDF("k").coalesce(1), root,
      properties = Map("delta.enableIcebergCompatV2" -> "true"))
    // racing appends: the Delta CAS serializes the log (losers retry,
    // the documented contract); each winner's SYNC races the others'
    // on the ICEBERG side too, where the converging retry makes the
    // loser re-diff against the advanced mirror instead of failing a
    // durably-committed Delta write
    def appendRetry(lo: Long, hi: Long): Unit = {
      var done = false
      while (!done)
        try {
          DeltaLog.commit(
            spark.range(lo, hi).toDF("k").coalesce(1), root)
          done = true
        } catch {
          case _: VersionedTable.ConcurrentCommitException => ()
        }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map { i =>
        java.util.concurrent.CompletableFuture.runAsync(
          () => appendRetry(4L * i, 4L * i + 4), pool)
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val expect = 0L until 20L
    assert(spark.read.format("delta-log").load(root)
      .select("k").as[Long].collect().toSeq.sorted === expect)
    assert(spark.read.format("iceberg-meta").load(root)
      .select("k").as[Long].collect().toSeq.sorted === expect)
  }

  test("UniForm late enablement creates the tree; unsupported shapes refuse") {
    val root = tmp()
    DeltaLog.commit(spark.range(0, 6).toDF("k").coalesce(1), root)
    DeltaLog.commit(spark.range(6, 9).toDF("k").coalesce(1), root)
    assert(!graft.sources.FsIceCatalog.tableExists(root))
    // the enabling commit upgrades the protocol AND materializes the
    // Iceberg tree over the files already there
    DeltaLog.setConfiguration(spark, root,
      Map("delta.universalFormat.enabledFormats" -> "iceberg",
        "delta.enableIcebergCompatV2" -> "true"))
    val snap = DeltaLog.snapshot(spark, root)
    assert(snap.minWriterVersion === 7 &&
      snap.writerFeatures.contains("icebergCompatV2"))
    assert(spark.read.format("iceberg-meta").load(root).count() === 9)
    // a PARTITIONED table refuses the sync loudly (Hive layout keeps
    // partition values out of the files)
    val root2 = tmp()
    val e = intercept[IllegalArgumentException] {
      DeltaLog.commit(spark.range(0, 8).toDF("k")
        .withColumn("p", (col("k") % 2).cast("int")), root2,
        partitionBy = Seq("p"),
        properties = Map("delta.enableIcebergCompatV2" -> "true"))
    }
    assert(e.getMessage.contains("partitioned"))
  }

  test("UniForm: schema drift mirrors as Iceberg schema evolution; inexpressible drift refuses pre-commit") {
    val root = tmp()
    DeltaLog.commit(spark.range(0, 4).toDF("k").coalesce(1), root,
      properties = Map("delta.enableIcebergCompatV2" -> "true"))
    // a mergeSchema append ADDS a nullable column: the mirror
    // publishes the evolved schema (add-schema + set-current-schema,
    // surviving ids kept, the addition minted fresh) and the sync
    // keeps flowing — the exact drift that used to land the Delta
    // commit durably and then fail post-commit
    DeltaLog.commit(spark.range(4, 8).toDF("k")
      .withColumn("tag", concat(lit("t"), col("k"))).coalesce(1),
      root, mergeSchema = true)
    def ice() = spark.read.format("iceberg-meta").load(root)
    assert(ice().columns.toSeq === Seq("k", "tag"))
    // pre-evolution mirror files null-fill the added column
    assert(ice().where(col("tag").isNull)
      .select("k").as[Long].collect().toSeq.sorted === (0L until 4L))
    assert(ice().where(col("tag") === "t5").count() === 1)
    assert(ice().count() ===
      spark.read.format("delta-log").load(root).count())
    // an overwrite DROPPING the column evolves the mirror again
    // (metadata-only on the Iceberg side; the dropped id never reuses)
    DeltaLog.commit(spark.range(20, 23).toDF("k").coalesce(1), root,
      mode = "overwrite")
    assert(ice().columns.toSeq === Seq("k"))
    assert(ice().select("k").as[Long].collect().toSeq.sorted ===
      (20L until 23L))
    // a TYPE change is NOT expressible as incremental Iceberg schema
    // evolution — it must refuse BEFORE the Delta commit lands
    val before = DeltaLog.latestVersion(root)
    val e = intercept[IllegalArgumentException] {
      DeltaLog.commit(spark.range(0, 3)
        .select(col("id").cast("string").as("k")).coalesce(1), root,
        mode = "overwrite")
    }
    assert(e.getMessage.contains("changed type"))
    assert(DeltaLog.latestVersion(root) === before)
    assert(ice().select("k").as[Long].collect().toSeq.sorted ===
      (20L until 23L))
  }

  test("UniForm over a COLUMN-MAPPED Delta table: id-based mirror, rename follows") {
    val root = tmp()
    spark.range(0, 8).toDF("k").withColumn("v", col("k") * 10)
      .coalesce(1).write.format("delta-log")
      .option("delta.columnMapping.mode", "id")
      .option("delta.enableIcebergCompatV2", "true")
      .save(root)
    val snap = DeltaLog.snapshot(spark, root)
    assert(snap.columnMapping.nonEmpty)
    def ice() = spark.read.format("iceberg-meta").load(root)
    def delta() = spark.read.format("delta-log").load(root)
    // the mirror reads LOGICAL names over the physically-named parquet
    // (field ids = the Delta mapping ids + the spec's name-mapping)
    assert(ice().columns.toSeq === Seq("k", "v"))
    assert(ice().select("k").as[Long].collect().toSeq.sorted ===
      (0L until 8L))
    assert(ice().agg(sum("v")).as[Long].head() ===
      (0 until 8).map(_ * 10L).sum)
    // the published metadata carries the spec's name-mapping property
    // and the mapping ids as field ids
    val doc = Files.readString(Paths.get(root, "metadata",
      s"v${IcebergMeta.latestMetadataVersion(root)}.metadata.json"))
    assert(doc.contains("schema.name-mapping.default"))
    // append and COW delete keep both formats identical
    spark.range(8, 12).toDF("k").withColumn("v", col("k") * 10)
      .coalesce(1).write.format("delta-log").mode("append").save(root)
    DeltaLog.deleteWhere(spark, root, col("k") % 4 === 1)
    val expect = (0L until 12L).filterNot(_ % 4 == 1)
    assert(delta().select("k").as[Long].collect().toSeq.sorted === expect)
    assert(ice().select("k").as[Long].collect().toSeq.sorted === expect)
    // RENAME on the Delta side (legal only under mapping): the field
    // keeps its id and physical name, and the MIRROR column renames
    // with it in the same sync
    DeltaLog.renameColumn(spark, root, "v", "score")
    assert(delta().columns.toSeq === Seq("k", "score"))
    assert(ice().columns.toSeq === Seq("k", "score"))
    assert(ice().where(col("k") === 6).select("score")
      .as[Long].head() === 60L)
    assert(ice().agg(sum("score")).as[Long].head() ===
      expect.map(_ * 10L).sum)
    // NESTED mapped shapes still refuse pre-commit
    val root2 = tmp()
    val e = intercept[IllegalArgumentException] {
      spark.range(0, 4).toDF("k")
        .withColumn("s", struct(col("k").as("a")))
        .coalesce(1).write.format("delta-log")
        .option("delta.columnMapping.mode", "id")
        .option("delta.enableIcebergCompatV2", "true")
        .save(root2)
    }
    assert(e.getMessage.contains("NESTED"))
  }

  test("UniForm: RESTORE to a pre-UniForm version syncs the mirror one final time") {
    val root = tmp()
    DeltaLog.commit(spark.range(0, 5).toDF("k").coalesce(1), root) // v0
    DeltaLog.setConfiguration(spark, root,
      Map("delta.enableIcebergCompatV2" -> "true")) // v1: tree appears
    DeltaLog.commit(spark.range(5, 9).toDF("k").coalesce(1), root) // v2
    def ice() = spark.read.format("iceberg-meta").load(root)
      .select("k").as[Long].collect().toSeq.sorted
    assert(ice() === (0L until 9L))
    // the restore DISABLES UniForm (v0's configuration travels) — the
    // mirror must freeze at the RESTORED state, not the pre-restore
    // one: without the final sync an Iceberg reader of the same root
    // would silently see rows Delta no longer has
    DeltaLog.restore(spark, root, 0L)
    assert(spark.read.format("delta-log").load(root)
      .select("k").as[Long].collect().toSeq.sorted === (0L until 5L))
    assert(ice() === (0L until 5L))
    // post-restore commits run with UniForm OFF: the mirror stays
    // frozen (the same posture as explicit disablement)
    val vIce = IcebergMeta.latestMetadataVersion(root)
    DeltaLog.commit(spark.range(100, 102).toDF("k").coalesce(1), root)
    assert(IcebergMeta.latestMetadataVersion(root) === vIce)
    assert(ice() === (0L until 5L))
  }

  test("variantShredding: shredded delta files read identical; feature accepted") {
    def frame() = spark.range(0, 6).toDF("k")
      .withColumn("v", parse_json(concat(
        lit("""{"a":"""), col("k"), lit(""","b":"s"""), col("k"),
        lit("\""),
        when(col("k") % 2 === 0, lit(""","extra":[1,2]"""))
          .otherwise(lit("")),
        lit("}")))).coalesce(1)
    val rootU = tmp()
    DeltaLog.commit(frame(), rootU)
    val rootS = tmp()
    val shredConfs = Seq(
      "spark.sql.variant.writeShredding.enabled" -> "true",
      "spark.sql.variant.forceShreddingSchemaForTest" ->
        "a bigint, b string")
    shredConfs.foreach { case (c, v) => spark.conf.set(c, v) }
    try DeltaLog.commit(frame(), rootS)
    finally shredConfs.foreach { case (c, _) => spark.conf.unset(c) }
    // the staged file IS shredded (typed_value group in the footer)
    import scala.jdk.CollectionConverters._
    val dataFile = DeltaLog.snapshot(spark, rootS).adds.head.path
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(
          Paths.get(rootS, dataFile).toUri),
        new org.apache.hadoop.conf.Configuration()))
    val vGroup =
      try reader.getFooter.getFileMetaData.getSchema.getFields.asScala
        .find(_.getName == "v").get.asGroupType()
      finally reader.close()
    assert(vGroup.getFields.asScala.map(_.getName).toSet
      .contains("typed_value"), s"fixture is not shredded: $vGroup")
    // shredded and unshredded tables read IDENTICALLY — the residual
    // (`extra`, outside the shredding schema) merges back on read
    def rows(root: String): Map[Long, String] =
      spark.read.format("delta-log").load(root)
        .select(col("k"), to_json(col("v")).as("j"))
        .as[(Long, String)].collect().toMap
    assert(rows(rootS) === rows(rootU))
    assert(rows(rootS)(4L).contains("\"extra\":[1,2]"))
    // a FOREIGN table listing the variantShredding reader-writer
    // feature reads AND stays writable (this writer's obligation —
    // shred or write unshredded — is satisfied by unshredded stages)
    Files.write(Paths.get(rootS, "_delta_log", f"${1L}%020d.json"),
      ("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["variantType","variantShredding"],""" +
        """"writerFeatures":["variantType","variantShredding"]}}""" +
        "\n").getBytes(UTF_8))
    assert(rows(rootS).size === 6)
    DeltaLog.commit(frame().withColumn("k", col("k") + 100), rootS)
    assert(spark.read.format("delta-log").load(rootS).count() === 12)
    assert(spark.read.format("delta-log").load(rootS)
      .selectExpr("sum(variant_get(v, '$.a', 'long'))")
      .as[Long].head() === (0 until 6).sum * 2)
  }

  test("collations: collated columns read collation-aware, never prune, append licensed") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField,
      StructType}
    val root = tmp()
    // hand-written FOREIGN fixture (delta-spark 4.x shape): the
    // `collations` writer feature, a column collated UTF8_LCASE
    // (schemaString serialized by Spark itself — the __COLLATIONS
    // field-metadata form delta-spark writes), and per-file stats the
    // foreign writer recorded under BINARY ordering
    spark.createDataFrame(Seq((0L, "a"), (1L, "b")).toDF("k", "s").rdd,
      StructType(Seq(StructField("k", LongType),
        StructField("s", StringType)))).coalesce(1)
      .write.parquet(root + "/d1")
    spark.createDataFrame(Seq((2L, "X"), (3L, "Y")).toDF("k", "s").rdd,
      StructType(Seq(StructField("k", LongType),
        StructField("s", StringType)))).coalesce(1)
      .write.parquet(root + "/d2")
    import scala.jdk.CollectionConverters._
    def part(dir: String): String = {
      val s = Files.list(Paths.get(root, dir))
      try dir + "/" + s.iterator().asScala.map(_.getFileName.toString)
        .find(n => n.endsWith(".parquet") && !n.startsWith(".")).get
      finally s.close()
    }
    val schemaJson = StructType(Seq(
      StructField("k", LongType),
      StructField("s", StringType("UTF8_LCASE")))).json
    assert(schemaJson.contains("__COLLATIONS")) // the spec'd shape
    val esc = schemaJson.replace("\\", "\\\\").replace("\"", "\\\"")
    def statsFor(kLo: Long, kHi: Long, sLo: String, sHi: String) =
      s"""{\\"numRecords\\":2,\\"minValues\\":{\\"k\\":$kLo,\\"s\\":\\"$sLo\\"},\\"maxValues\\":{\\"k\\":$kHi,\\"s\\":\\"$sHi\\"},\\"nullCount\\":{\\"k\\":0,\\"s\\":0}}"""
    val log = Paths.get(root, "_delta_log")
    Files.createDirectories(log)
    Files.write(log.resolve(f"${0L}%020d.json"),
      (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["collations"]}}\n""" +
        s"""{"metaData":{"id":"ct","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{}}}\n""" +
        s"""{"add":{"path":"${part("d1")}","partitionValues":{},"size":${Files.size(Paths.get(root, part("d1")))},"modificationTime":0,"dataChange":true,"stats":"${statsFor(0, 1, "a", "b")}"}}\n""" +
        s"""{"add":{"path":"${part("d2")}","partitionValues":{},"size":${Files.size(Paths.get(root, part("d2")))},"modificationTime":0,"dataChange":true,"stats":"${statsFor(2, 3, "X", "Y")}"}}\n""")
        .getBytes(UTF_8))
    def ds() = spark.read.format("delta-log").load(root)
    // the collation SURVIVES into the read schema (not plain string)
    assert(ds().schema("s").dataType
      .asInstanceOf[StringType].collationId != 0)
    assert(ds().count() === 4)
    // UTF8_LCASE: 'x' matches 'X'. Under BINARY ordering 'x' > max
    // 'Y', so a binary-minded pruner would SKIP the file holding the
    // match — the engine must not prune on collated columns
    val hit = ds().where(col("s") === "x")
    assert(hit.count() === 1)
    assert(indexOf(hit).lastListing === Some((2, 2)))
    // the PLAIN column still prunes
    val byK = ds().where(col("k") === 0)
    byK.collect()
    assert(indexOf(byK).lastListing === Some((1, 2)))
    // the feature is LICENSED: plain-string frames append into the
    // collated column (identical parquet physical type), and the
    // written stats OMIT the collated column's min/max
    Seq((100L, "zz")).toDF("k", "s").coalesce(1)
      .write.format("delta-log").mode("append").save(root)
    assert(ds().count() === 5)
    assert(ds().schema("s").dataType
      .asInstanceOf[StringType].collationId != 0) // schema kept
    val newStats = DeltaLog.snapshot(spark, root).adds
      .flatMap(_.statsJson).filter(_.contains("100"))
    assert(newStats.nonEmpty &&
      newStats.forall(j => !j.contains("\"s\":\"zz\"")),
      s"collated min/max must be omitted, got $newStats")
    // DML predicates evaluate through Spark's collation-aware
    // comparison: 'y' deletes the 'Y' row
    DeltaLog.deleteWhere(spark, root, col("s") === "y")
    assert(ds().select("s").as[String].collect().toSet ===
      Set("a", "b", "X", "zz"))
    // CREATING a table with a collated column LISTS the writer
    // feature (feature-aware writers must keep the obligations)
    val root2 = tmp()
    DeltaLog.commit(spark.range(0, 3).toDF("k")
      .selectExpr("k", "collate(concat('v', k), 'UTF8_LCASE') AS s")
      .coalesce(1), root2)
    val snap2 = DeltaLog.snapshot(spark, root2)
    assert(snap2.minWriterVersion === 7 &&
      snap2.writerFeatures.contains("collations"))
    assert(spark.read.format("delta-log").load(root2)
      .where(col("s") === "V1").count() === 1) // collation survives
  }

  test("metadata cleanup: expired prefix deletes, retained reconstruct, horizon refuses") {
    val root = tmp()
    // ICT on, so expiry decisions run through the recorded in-commit
    // timestamps (the feature-governed half of commitTimestamp)
    DeltaLog.commit(spark.range(0, 4).toDF("k").coalesce(1), root,
      properties = Map(
        "delta.enableInCommitTimestamps" -> "true",
        "delta.logRetentionDuration" -> "interval 1 millisecond"))
    (1 to 5).foreach(i => DeltaLog.commit(
      spark.range(4 * i, 4 * i + 4).toDF("k").coalesce(1), root))
    DeltaLog.checkpoint(spark, root, Some(3L))
    // nothing to clean while the boundary checkpoint is unexpired
    assert(DeltaLog.cleanupMetadata(spark, root,
      nowMs = DeltaLog.ictOf(root, 0L).get - 1000) === 0L)
    // everything below the newest expired checkpoint (v3) goes
    val future = System.currentTimeMillis + 60000
    assert(DeltaLog.cleanupMetadata(spark, root, nowMs = future) === 3L)
    assert(DeltaLog.jsonVersions(root) === Seq(3L, 4L, 5L))
    // retained versions reconstruct (v3 via the checkpoint alone)
    assert(spark.read.format("delta-log").load(root).count() === 24)
    assert(spark.read.format("delta-log").option("versionAsOf", "3")
      .load(root).count() === 16)
    // below the horizon refuses exactly like delta-spark: the commit
    // files are reported missing, never guessed around
    val e = intercept[IllegalStateException] {
      DeltaLog.snapshot(spark, root, Some(2L))
    }
    assert(e.getMessage.contains("missing"))
    val e2 = intercept[IllegalStateException] {
      DeltaLog.commitActions(root, 1L)
    }
    assert(e2.getMessage.contains("truncated"))
    // a second sweep from a newer checkpoint truncates further and
    // retires the superseded v3 checkpoint file too
    DeltaLog.checkpoint(spark, root) // v5
    assert(DeltaLog.cleanupMetadata(spark, root,
      nowMs = future) === 3L) // v3.json, v4.json, v3 checkpoint
    assert(DeltaLog.jsonVersions(root) === Seq(5L))
    assert(spark.read.format("delta-log").load(root).count() === 24)
    intercept[IllegalStateException] {
      DeltaLog.snapshot(spark, root, Some(4L))
    }
    // idempotent: nothing left below the boundary
    assert(DeltaLog.cleanupMetadata(spark, root, nowMs = future) === 0L)
  }

  test("metadata cleanup: checkpointProtection refuses partial sweeps inside the range") {
    val root = tmp()
    DeltaLog.commit(spark.range(0, 4).toDF("k").coalesce(1), root,
      properties = Map(
        "delta.logRetentionDuration" -> "interval 1 millisecond",
        "delta.requireCheckpointProtectionBeforeVersion" -> "4"))
    (1 to 5).foreach(i => DeltaLog.commit(
      spark.range(4 * i, 4 * i + 4).toDF("k").coalesce(1), root))
    DeltaLog.checkpoint(spark, root, Some(2L))
    val future = System.currentTimeMillis + 60000
    // boundary 2 < protected 4: a partial sweep inside the protected
    // range must refuse — and delete NOTHING
    val e = intercept[UnsupportedOperationException] {
      DeltaLog.cleanupMetadata(spark, root, nowMs = future)
    }
    assert(e.getMessage.contains("checkpoint-protected"))
    assert(DeltaLog.jsonVersions(root) === (0L to 5L))
    // a checkpoint at/past the protected version clears the whole
    // range in one sweep (the spec's licensed shape)
    DeltaLog.checkpoint(spark, root, Some(4L))
    assert(DeltaLog.cleanupMetadata(spark, root, nowMs = future) === 5L)
    assert(DeltaLog.jsonVersions(root) === Seq(4L, 5L))
    assert(spark.read.format("delta-log").load(root).count() === 24)
  }

  test("numRecords is the footer row count, not an array column's " +
    "value count") {
    val root = tmp()
    DeltaLog.commit(Seq((1L, Seq(1, 2, 3)), (2L, Seq(4, 5, 6)))
      .toDF("k", "xs").coalesce(1), root)
    val stats = DeltaLog.snapshot(spark, root).adds.flatMap(_.statsJson)
    assert(stats.size === 1)
    // the xs leaf holds 6 values in 2 rows
    assert(""""numRecords":(\d+)""".r.findFirstMatchIn(stats.head)
      .map(_.group(1)) === Some("2"))
  }

  /** The action key of each line of commit `v` at `root`, with a run
    * of one key collapsed to one entry (`add, add` reads `add`). */
  private def actionKeys(root: String, v: Long): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.readAllLines(commitFile(root, v)).asScala.toSeq
      .filter(_.nonEmpty).map(l => mapper.readTree(l).fieldNames().next())
      .foldLeft(Vector.empty[String]) { (acc, k) =>
        if (acc.lastOption.contains(k)) acc else acc :+ k
      }
  }

  test("every commit kind leads with commitInfo, keeps its action " +
    "order and a monotonic ICT") {
    val ict = Map("delta.enableInCommitTimestamps" -> "true")
    val a = tmp()
    val ow = tmp()
    val mapped = tmp()
    val clone = tmp() + "/clone"
    val ice = tmp() + "/ice"
    val conv = tmp() + "/conv"
    IcebergMeta.writeFixture(spark.range(0, 4).toDF("k").coalesce(1), ice)
    def rows(lo: Long, hi: Long) =
      spark.range(lo, hi).toDF("k").withColumn("v", col("k") * 10)
        .coalesce(1)
    // (commit kind, the call, the table it commits to, the expected
    // action keys); on `a`, row tracking, deletion vectors and the
    // change feed put a domainMetadata, DV and cdc line in the
    // commits that carry them
    val kinds: Seq[(String, () => Long, String, Seq[String])] = Seq(
      ("commit: create", () => DeltaLog.commit(rows(0, 10), a,
        properties = ict ++ Map("delta.enableRowTracking" -> "true",
          "delta.enableDeletionVectors" -> "true",
          "delta.enableChangeDataFeed" -> "true")), a,
        Seq("commitInfo", "protocol", "metaData", "domainMetadata", "add")),
      ("commit: append with txn", () => DeltaLog.commit(rows(10, 20), a,
        txn = Some(("app", 1L))), a,
        Seq("commitInfo", "txn", "domainMetadata", "add")),
      ("dvRemoveRows: DV delete", () =>
        DeltaLog.deleteWhere(spark, a, col("k") === 3), a,
        Seq("commitInfo", "remove", "add", "cdc")),
      ("setConfiguration", () => DeltaLog.setConfiguration(spark, a,
        Map("delta.enableDeletionVectors" -> "false")), a,
        Seq("commitInfo", "metaData")),
      ("replaceFiles: copy-on-write delete", () =>
        DeltaLog.deleteWhere(spark, a, col("k") === 12), a,
        Seq("commitInfo", "remove", "domainMetadata", "add", "cdc")),
      ("compact", () => DeltaLog.compact(spark, a), a,
        Seq("commitInfo", "metaData", "remove", "domainMetadata", "add")),
      // the row-tracked table lists domainMetadata from creation, so
      // a domain write needs no protocol upgrade line
      ("setDomainMetadata", () => DeltaLog.setDomainMetadata(spark, a,
        "app.owner", "etl"), a,
        Seq("commitInfo", "domainMetadata")),
      ("restore", () => DeltaLog.restore(spark, a, 1L), a,
        Seq("commitInfo", "metaData", "domainMetadata", "remove", "add")),
      ("cloneShallow", () => DeltaLog.cloneShallow(spark, a, clone), clone,
        Seq("commitInfo", "protocol", "metaData", "domainMetadata", "add")),
      ("commit: create plain", () => DeltaLog.commit(rows(0, 4), ow,
        properties = ict), ow,
        Seq("commitInfo", "protocol", "metaData", "add")),
      // the caller's txn is a header line: it precedes the removes
      ("commit: overwrite with txn", () => DeltaLog.commit(rows(4, 8), ow,
        mode = "overwrite", txn = Some(("app", 1L))), ow,
        Seq("commitInfo", "protocol", "metaData", "txn", "remove", "add")),
      ("commit: create mapped", () => DeltaLog.commit(rows(0, 4), mapped,
        properties = ict + ("delta.columnMapping.mode" -> "name")), mapped,
        Seq("commitInfo", "protocol", "metaData", "add")),
      ("renameColumn", () => DeltaLog.renameColumn(spark, mapped, "v",
        "score"), mapped, Seq("commitInfo", "metaData")),
      ("importIceberg", () => DeltaLog.importIceberg(spark, ice, conv), conv,
        Seq("commitInfo", "protocol", "metaData", "add")))
    kinds.foreach { case (kind, op, root, expected) =>
      val before = DeltaLog.latestVersion(root)
      val v = op()
      assert(v === before + 1, s"$kind committed v$v after v$before")
      assert(actionKeys(root, v) === expected, kind)
    }
    assert(spark.read.format("delta-log").load(a).count() === 20)
    assert(spark.read.format("delta-log").load(ow).count() === 4)
    assert(spark.read.format("delta-log").load(mapped).columns.toSeq ===
      Seq("k", "score"))
    // every version of an ICT table carries a strictly increasing stamp
    Seq(a, ow, mapped, clone).foreach { root =>
      val icts = (0L to DeltaLog.latestVersion(root))
        .map(v => DeltaLog.ictOf(root, v))
      assert(icts.forall(_.isDefined), s"$root: $icts")
      assert(icts.flatten.sliding(2).forall {
        case Seq(x, y) => x < y
        case _ => true
      }, s"$root: $icts")
    }
  }

  test("DELETE, UPDATE and MERGE planned on a stale snapshot lose the " +
    "commit race") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    spark.udf.register("held_dml_gate", (_: Long) => HeldDml.pass())
    val parse = spark.sessionState.sqlParser.parseExpression _
    def gate(on: Boolean, c: String) = if (on) s"held_dml_gate($c) AND " else ""
    // (statement, run it on key k — held at its gate when asked, the
    // table after it ran alone on key 2): rows are (k, k * 10), k < 10
    val base = (0L until 10L).map(k => (k, k * 10))
    val statements: Seq[(String, (String, Long, Boolean) => Long,
        Seq[(Long, Long)])] = Seq(
      ("DELETE", (root, k, held) => DeltaLog.deleteWhere(spark, root,
        expr(s"${gate(held, "k")}k = $k")), base.filterNot(_._1 == 2L)),
      ("UPDATE", (root, k, held) => DeltaLog.updateWhere(spark, root,
        Seq("v" -> parse("-1")), Some(parse(s"${gate(held, "k")}k = $k"))),
        base.map { case (k, v) => (k, if (k == 2L) -1L else v) }),
      ("MERGE", (root, k, held) => DeltaLog.mergeConditional(spark, root,
        spark.range(k, k + 1).toDF("sk")
          .filter(expr(s"${gate(held, "sk")}true")),
        "k", "sk", matched = Seq(VersionedTable.MergeUpdate(None,
          Map("v" -> lit(-1L))))),
        base.map { case (k, v) => (k, if (k == 2L) -1L else v) }))
    statements.foreach { case (name, run, model) =>
      val root = tmp()
      DeltaLog.commit(base.toDF("k", "v").coalesce(1), root)
      HeldDml.arm()
      val held = Future(run(root, 1L, true))(ExecutionContext.global)
      try {
        assert(HeldDml.awaitEntered(),
          s"$name: the held statement never reached its gate")
        assert(run(root, 2L, false) === 1L, name)
      } finally HeldDml.open()
      val outcome = scala.util.Try(Await.result(held, 120.seconds))
      assert(spark.read.format("delta-log").load(root).as[(Long, Long)]
        .collect().toSeq.sorted === model, name)
      assert(outcome.failed.toOption.exists(
        _.isInstanceOf[VersionedTable.ConcurrentCommitException]),
        s"$name: the held statement returned $outcome")
    }
  }

  test("a Delta commit and an Iceberg append leave no staging " +
    "directory behind") {
    import scala.jdk.CollectionConverters._
    def tmpDirs(): Set[String] = {
      val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
      try s.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).toSet
      finally s.close()
    }
    val delta = tmp()
    val ice = tmp() + "/t"
    val sidecar = tmp()
    IcebergMeta.writeFixture(Seq((0L, "a")).toDF("k", "s"), ice)
    DeltaLog.commit(Seq(0L).toDF("k"), sidecar,
      properties = Map("delta.checkpointPolicy" -> "v2"))
    // more tasks than rows: the writers also stage zero-row parts
    val inputs: Seq[(String, () => Unit)] = Seq(
      "Delta commit" -> (() => DeltaLog.commit(
        Seq((1L, "a"), (2L, "b")).toDF("k", "s").repartition(4), delta)),
      "Iceberg append" -> (() => IcebergMeta.append(
        Seq((1L, "b")).toDF("k", "s").repartition(4), ice)),
      "Delta v1 checkpoint" -> (() => DeltaLog.checkpoint(spark, delta)),
      "Delta sidecar checkpoint" -> (() =>
        DeltaLog.checkpoint(spark, sidecar, sidecarFiles = 2)))
    inputs.foreach { case (name, op) =>
      val before = tmpDirs()
      op()
      assert(tmpDirs() -- before === Set.empty[String], name)
    }
    assert(spark.read.format("delta-log").load(delta).count() === 2)
    assert(spark.read.format("iceberg-meta").load(ice).count() === 2)
    assert(spark.read.format("delta-log").load(sidecar).count() === 1)
  }
}

/** The gate the stale-snapshot DML spec holds a statement at: after
  * [[arm]], the first call of [[pass]] (a row of the statement's first
  * Spark job) signals [[awaitEntered]] and waits for [[open]]; every
  * other call passes at once. Both waits are bounded, so a regression
  * fails the spec instead of hanging it. */
object HeldDml {
  import java.util.concurrent.{CountDownLatch, TimeUnit}
  private val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile private var entered = new CountDownLatch(0)
  @volatile private var release = new CountDownLatch(0)

  def arm(): Unit = {
    entered = new CountDownLatch(1)
    release = new CountDownLatch(1)
    armed.set(true)
  }

  def pass(): Boolean = {
    if (armed.compareAndSet(true, false)) {
      entered.countDown()
      release.await(60, TimeUnit.SECONDS)
    }
    true
  }

  def awaitEntered(): Boolean = entered.await(60, TimeUnit.SECONDS)

  def open(): Unit = release.countDown()
}
